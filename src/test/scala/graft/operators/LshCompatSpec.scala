package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Stored-artifact compatibility of [[LshIndex]]. The four fixtures
  * under `src/test/resources/compat/` are v1 index artifacts written by
  * the code before the index's lifecycle shared one kernel, all over
  * [[LshCompatSpec.corpus]]: a default-hash build of the stored docs; a
  * portable-hash build with `minDocFreq = 0`, whose ratio bar freezes a
  * non-empty stop set; that build after `append` of the batch; and that
  * appended index after `compact`. Today's code must read their meta
  * rows back to the same parameters and stop set, write the very same
  * rows from the same corpus at every lifecycle step, and probe the
  * default build exactly like the one-shot operator.
  */
class LshCompatSpec extends SparkSpec {
  import LshCompatSpec._
  import spark.implicits._

  private def fixture(name: String): DataFrame =
    spark.read.parquet(getClass.getResource(s"/compat/$name").getPath)

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq
  private def fields(df: DataFrame) = df.schema.map(f => f.name -> f.dataType)

  /** `fresh` has `stored`'s schema and rows, and the same meta and stop set. */
  private def assertSame(fresh: DataFrame, stored: DataFrame, meta: LshIndex.Meta): Unit = {
    val (m, stop) = LshIndex.readMeta(stored)
    assert(m == meta)
    assert(stop.sorted.toSeq == LshIndex.readMeta(fresh)._2.sorted.toSeq)
    assert(fields(fresh) == fields(stored))
    assert(rows(fresh) == rows(stored))
  }

  private def pairSet(df: DataFrame): Set[(Long, Long, Double)] =
    df.select(col("id_existing"), col("id_incoming"), round(col("jaccard"), 9))
      .as[(Long, Long, Double)].collect().toSet

  test("v1 default-hash fixture reopens, rebuilds row-identical, probes == one-shot operator") {
    val stored = fixture(DefaultFixture)
    val (existing, _, incoming) = corpus(spark)
    val fresh = LshIndex.build(existing, "doc_id", "text")
    assertSame(fresh, stored, LshIndex.Meta(3, 64, 16, 42L, portableHash = false,
      maxBucketSize = 2000, builtDroppedBuckets = 0L, nDocs = 40L))
    assert(LshIndex.readMeta(stored)._2.isEmpty) // below the DF floor
    val got = LshIndex.pairsAgainst(stored, incoming, "doc_id", "text")
    val want = TextDedup.minHashLshPairsAgainst(existing, incoming, "doc_id", "text")
    assert(pairSet(got.pairs) == pairSet(want))
    assert(pairSet(got.pairs).nonEmpty, "fixture: the corpus must hold near-dups")
    got.unpersist(); want.unpersist(); fresh.unpersist()
  }

  test("v1 portable fixtures with a frozen stop set: build, append and compact stay row-identical") {
    val (existing, batch, _) = corpus(spark)
    val meta = LshIndex.Meta(3, 64, 16, 42L, portableHash = true,
      maxBucketSize = 2000, builtDroppedBuckets = 0L, nDocs = 40L)
    val built = LshIndex.build(existing, "doc_id", "text", portableHash = true, minDocFreq = 0L)
    assertSame(built, fixture(PortableFixture), meta)
    assert(LshIndex.readMeta(built)._2.nonEmpty, "fixture: the stop set must be engaged")

    val appended = LshIndex.append(built, batch, "doc_id", "text")
    assertSame(appended, fixture(AppendedFixture), meta.copy(nDocs = 56L))
    // the stored artifacts grow and compact into the same rows as well
    val storedAppended = LshIndex.append(fixture(PortableFixture), batch, "doc_id", "text")
    assert(rows(storedAppended) == rows(fixture(AppendedFixture)))

    val compacted = LshIndex.compact(appended, "doc_id")
    assertSame(compacted, fixture(CompactedFixture), meta.copy(nDocs = 56L))
    val storedCompacted = LshIndex.compact(fixture(AppendedFixture), "doc_id")
    assert(rows(storedCompacted) == rows(fixture(CompactedFixture)))
    Seq(built, appended, storedAppended, compacted, storedCompacted).foreach(_.unpersist())
  }
}

object LshCompatSpec {
  val DefaultFixture = "lsh_v1_default"
  val PortableFixture = "lsh_v1_portable_df0"
  val AppendedFixture = "lsh_v1_portable_df0_appended"
  val CompactedFixture = "lsh_v1_portable_df0_compacted"

  /** (stored, batch, incoming): 40 stored docs of 12 tokens and 16
    * batch docs, three in four opening with one boilerplate sentence (so
    * a pure ratio bar stops its shingles); incoming = one- and two-token
    * edits of 12 stored docs plus 6 unrelated docs.
    */
  def corpus(spark: SparkSession): (DataFrame, DataFrame, DataFrame) = {
    import spark.implicits._
    def words(i: Int): IndexedSeq[String] =
      (0 until 12).map(j => s"w${(i * 37 + j * 11 + i * j) % 211}")
    def text(i: Int, ws: IndexedSeq[String]): String =
      (if (i % 4 != 3) "welcome to the public records portal " else "") + ws.mkString(" ")
    val existing = (0 until 40).map(i => (i.toLong, text(i, words(i))))
    val batch = (40 until 56).map(i => (i.toLong, text(i, words(i))))
    val edited = (0 until 12).map { i =>
      val w = words(i * 3).updated(11, s"edit$i")
      (1000L + i, text(i * 3, if (i % 2 == 0) w else w.updated(2, s"more$i")))
    }
    val novel = (0 until 6).map(i => (2000L + i, text(i, words(500 + i * 7))))
    (existing.toDF("doc_id", "text"), batch.toDF("doc_id", "text"),
      (edited ++ novel).toDF("doc_id", "text"))
  }
}
