package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Stored-artifact compatibility of the Hamming family. The two
  * fixtures under `src/test/resources/compat/` are v1 index artifacts
  * written by the pre-kernel code, when [[SimHashIndex]] still carried
  * its own copy of the pigeonhole machinery: a SimHash index
  * (`segments = 5`, md5 token hasher, default cap) over
  * [[HammingCompatSpec.textCorpus]] and a Hamming index
  * (`segments = 4`, default cap) over [[HammingCompatSpec.hashCorpus]].
  * Today's code must read their meta rows back to the same parameters,
  * probe them exactly like brute force, and build the very same rows
  * from the same corpus.
  */
class HammingCompatSpec extends SparkSpec {
  import HammingCompatSpec._
  import spark.implicits._

  private def fixture(name: String): DataFrame =
    spark.read.parquet(getClass.getResource(s"/compat/$name").getPath)

  private def rows(df: DataFrame): Set[String] = df.collect().map(_.toString).toSet
  private def fields(df: DataFrame) = df.schema.map(f => f.name -> f.dataType)

  test("v1 SimHash fixture (segments = 5, md5) reopens, probes == brute force, rebuilds row-identical") {
    val stored = fixture(SimHashFixture)
    val (existing, incoming) = textCorpus(spark)
    assert(SimHashIndex.readMeta(stored) == SimHashIndex.Meta(
      segments = 5, hasherName = "md5", maxBucketSize = 2000,
      builtDroppedBuckets = 0L, nDocs = existing.count()))
    val hOf = existing.unionAll(incoming)
      .select($"doc_id", TextDedup.simHash($"text", TextDedup.TokenHasher.PortableMd5))
      .as[(Long, Long)].collect().toMap
    val exIds = existing.select("doc_id").as[Long].collect()
    val inIds = incoming.select("doc_id").as[Long].collect()
    for (d <- 0 to 4) {
      val probe = SimHashIndex.pairsAgainst(stored, incoming, "doc_id", "text", d)
      val got = probe.pairs.as[(Long, Long, Int)].collect().toSet
      probe.unpersist()
      val want = (for {
        a <- exIds
        b <- inIds
        h = java.lang.Long.bitCount(hOf(a) ^ hOf(b))
        if h <= d
      } yield (a, b, h)).toSet
      assert(got == want, s"maxDistance = $d")
      if (d == 4) assert(want.nonEmpty, "fixture: the corpus must hold near-dups")
    }
    val fresh = SimHashIndex.build(existing, "doc_id", "text",
      segments = 5, hasher = TextDedup.TokenHasher.PortableMd5)
    assert(fields(fresh) == fields(stored))
    assert(rows(fresh) == rows(stored))
    fresh.unpersist()
  }

  test("v1 Hamming fixture (segments = 4) reopens, probes == brute force, rebuilds row-identical") {
    val stored = fixture(HammingFixture)
    val (existing, incoming) = hashCorpus(spark)
    assert(HammingIndex.readMeta(stored) == HammingIndex.Meta(
      segments = 4, maxBucketSize = 10000, builtDroppedBuckets = 0L, nDocs = 40L))
    val ex = existing.as[(Long, Long)].collect()
    val in = incoming.as[(Long, Long)].collect()
    for (d <- 0 to 3) {
      val probe = HammingIndex.pairsAgainst(stored, incoming, "id", "h", d)
      val got = probe.pairs.as[(Long, Long, Int)].collect().toSet
      probe.unpersist()
      val want = (for {
        (a, ha) <- ex
        (b, hb) <- in
        h = java.lang.Long.bitCount(ha ^ hb)
        if h <= d
      } yield (a, b, h)).toSet
      assert(got == want, s"maxDistance = $d")
      if (d == 2) assert(want.nonEmpty, "fixture: the corpus must hold near-dups")
    }
    val fresh = HammingIndex.build(existing, "id", "h", segments = 4)
    assert(fields(fresh) == fields(stored))
    assert(rows(fresh) == rows(stored))
    fresh.unpersist()
  }
}

object HammingCompatSpec {
  val SimHashFixture = "simhash_v1_md5_s5"
  val HammingFixture = "hamming_v1_s4"

  /** 40 stored docs of 30 tokens each; incoming = one- and two-token
    * edits of 16 stored docs plus 8 unrelated docs.
    */
  def textCorpus(spark: SparkSession): (DataFrame, DataFrame) = {
    import spark.implicits._
    def words(i: Int): IndexedSeq[String] =
      (0 until 30).map(j => s"w${(i * 37 + j * 11 + i * j) % 211}")
    val existing = (0 until 40).map(i => (i.toLong, words(i).mkString(" ")))
    val edited = (0 until 16).map { i =>
      val w = words(i * 2).updated(29, s"edit$i")
      (1000L + i, (if (i % 2 == 0) w else w.updated(3, s"more$i")).mkString(" "))
    }
    val novel = (0 until 8).map(i => (2000L + i, words(500 + i * 7).mkString(" ")))
    (existing.toDF("doc_id", "text"), (edited ++ novel).toDF("doc_id", "text"))
  }

  /** 40 stored and 20 incoming 64-bit fingerprints: five far-apart base
    * patterns, each id flipping 0–3 low bits of its base.
    */
  def hashCorpus(spark: SparkSession): (DataFrame, DataFrame) = {
    import spark.implicits._
    def hashOf(i: Long): Long =
      ((i % 5) * 0x1111111111111111L) ^ Array(0L, 1L, 3L, 7L)(((i / 5) % 4).toInt)
    ((0L until 40L).map(i => (i, hashOf(i))).toDF("id", "h"),
      (100L until 120L).map(i => (i, hashOf(i))).toDF("id", "h"))
  }
}
