package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** Stored-artifact compatibility of the cell-partitioned (IVF) family.
  * The three fixtures under `src/test/resources/compat/` are v1 index
  * artifacts written by the code that still kept one copy of the cell
  * machinery per family: a raw IVF, an IVF-SQ8 and an IVF-PQ index, each
  * over [[IvfCompatSpec.corpus]] (30 vectors in 4 dims plus one null
  * vector) under the frozen models below. Today's code must read their
  * meta rows back to the same parameters, probe them exactly like the
  * one-shot operator when every cell is probed, and build the very same
  * rows from the same corpus.
  */
class IvfCompatSpec extends SparkSpec {
  import IvfCompatSpec._
  import spark.implicits._

  private def fixture(name: String): DataFrame =
    spark.read.parquet(getClass.getResource(s"/compat/$name").getPath)

  private def rows(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq.map {
      case b: Array[Byte] => b.toSeq
      case x => x
    }).toSet
  private def fields(df: DataFrame) = df.schema.map(f => f.name -> f.dataType)
  private def topK(df: DataFrame, score: String): Set[Row] =
    df.select("query_id", "rank", "neighbor_id", score).collect().toSet

  test("v1 IVF fixture reopens, full probe == ivfTopKFrozen, rebuilds row-identical") {
    val stored = fixture(RawFixture)
    val (meta, ctrs) = IvfIndex.readMeta(stored)
    assert(meta == IvfIndex.Meta(dim = 4, nCentroids = 3, nDocs = 31L))
    assert(ctrs.map(_.toSeq).toSeq == centroids)
    val got = IvfIndex.topKAgainst(stored, queries(spark), "id", "vec", k = 4, nProbe = 3)
    val want = Similarity.ivfTopKFrozen(corpus(spark), queries(spark), "id", "vec", k = 4,
      centroids = centroids, nProbe = 3)
    assert(topK(got, "sim") == topK(want, "sim"))
    assert(topK(got, "sim").size == 6 * 4)
    val fresh = IvfIndex.build(corpus(spark), "id", "vec", centroids)
    assert(fields(fresh) == fields(stored))
    assert(rows(fresh) == rows(stored))
    fresh.unpersist()
  }

  test("v1 IVF-SQ8 fixture reopens, full probe == sq8TopKAgainst, rebuilds row-identical") {
    val stored = fixture(Sq8Fixture)
    val (meta, ctrs, l, h) = IvfSq8Index.readMeta(stored)
    assert(meta == IvfSq8Index.Meta(dim = 4, nCentroids = 3, nDocs = 31L))
    assert(ctrs.map(_.toSeq).toSeq == centroids)
    assert(l.toSeq == lo && h.toSeq == hi)
    val got = IvfSq8Index.topKAgainst(stored, queries(spark), "id", "vec", k = 4, nProbe = 3)
    val want = Similarity.sq8TopKAgainst(
      Similarity.sq8Encode(corpus(spark), "id", "vec", lo, hi),
      queries(spark), "id", "vec", k = 4, lo, hi)
    assert(topK(got, "adc_cos") == topK(want, "adc_cos"))
    assert(topK(got, "adc_cos").size == 6 * 4)
    val fresh = IvfSq8Index.build(corpus(spark), "id", "vec", centroids, lo, hi)
    assert(fields(fresh) == fields(stored))
    assert(rows(fresh) == rows(stored))
    fresh.unpersist()
  }

  test("v1 IVF-PQ fixture reopens, full probe == pqTopKAgainst, rebuilds row-identical") {
    val stored = fixture(PqFixture)
    val (meta, ctrs, cbs) = IvfPqIndex.readMeta(stored)
    assert(meta == IvfPqIndex.Meta(dim = 4, nCentroids = 3, nSub = 2, kCb = 4, nDocs = 31L))
    assert(ctrs.map(_.toSeq).toSeq == centroids)
    assert(cbs.map(_.map(_.toSeq).toSeq).toSeq == codebooks)
    val got = IvfPqIndex.topKAgainst(stored, queries(spark), "id", "vec", k = 4, nProbe = 3)
    val want = Similarity.pqTopKAgainst(
      Similarity.pqEncode(corpus(spark), "id", "vec", codebooks),
      queries(spark), "id", "vec", k = 4, codebooks)
    assert(topK(got, "adc_cos") == topK(want, "adc_cos"))
    assert(topK(got, "adc_cos").size == 6 * 4)
    val fresh = IvfPqIndex.build(corpus(spark), "id", "vec", centroids, codebooks)
    assert(fields(fresh) == fields(stored))
    assert(rows(fresh) == rows(stored))
    fresh.unpersist()
  }

  test("IvfIndex.cellOccupancyReport reads the SQ8 and PQ fixtures like their own reports") {
    val raw = IvfIndex.cellOccupancyReport(fixture(RawFixture))
    assert(raw.nDocs == 30L && raw.nCentroids == 3)
    for ((name, own) <- Seq(
        Sq8Fixture -> IvfSq8Index.occupancyReport _,
        PqFixture -> IvfPqIndex.occupancyReport _)) {
      val stored = fixture(name)
      assert(IvfIndex.cellOccupancyReport(stored) == own(stored, 16), name)
      assert(IvfIndex.cellOccupancyReport(stored) == raw, name)
    }
  }
}

object IvfCompatSpec {
  val RawFixture = "ivf_v1"
  val Sq8Fixture = "ivf_sq8_v1"
  val PqFixture = "ivf_pq_v1"

  /** Three frozen cells in 4 dims. */
  val centroids: Seq[Seq[Double]] = Seq(
    Seq(1.0, 1.0, 0.0, 0.0), Seq(-1.0, 0.0, 1.0, 0.0), Seq(0.0, -1.0, 0.0, 1.0))

  /** SQ8 calibration wide enough for every corpus value. */
  val lo: Seq[Double] = Seq.fill(4)(-2.0)
  val hi: Seq[Double] = Seq.fill(4)(2.0)

  /** PQ codebooks: 2 subspaces of 2 dims, 4 centroids each (the corners
    * of a square whose side grows with the subspace).
    */
  val codebooks: Seq[Seq[Seq[Double]]] = Seq.tabulate(2, 4, 2)((j, c, i) =>
    (if (((c >> i) & 1) == 1) 1.0 else -1.0) * (0.5 + 0.25 * j))

  /** 30 vectors scattered around the three centroids in steps of 1/8,
    * plus one null vector (id 99).
    */
  def corpus(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val vecs = (0 until 30).map { i =>
      (i.toLong, centroids(i % 3).zipWithIndex
        .map { case (x, d) => x + ((i * 7 + d * 5) % 9 - 4) / 8.0 }.toArray)
    }
    (vecs :+ ((99L, null.asInstanceOf[Array[Double]]))).toDF("id", "vec")
  }

  /** Six stored vectors and the null one as queries. */
  def queries(spark: SparkSession): DataFrame = {
    import spark.implicits._
    corpus(spark).filter($"id" < 6L || $"id" === 99L)
  }
}
