package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/** Persistable IVF-SQ8 index — the middle rung of the ANN serving
  * ladder, completing it: [[IvfIndex]] stores raw vectors (exact
  * scoring, 1x), [[IvfPqIndex]] packed nibbles (centroid-residual
  * scoring, 32x); this stores one byte per dimension
  * ([[Similarity.sq8Encode]] codes — ±half-step reconstruction, 4x) —
  * the right default when rank fidelity matters more than the last 8x
  * of IO. Same composition discipline as IVF-PQ: [[IvfIndex]]'s cell
  * machinery decides WHERE to look (shared `cellRestricted`, same
  * static-pruning plan pin), [[Similarity.sq8TopKAgainst]]'s ADC
  * kernel decides HOW to score — probing ALL cells recovers the
  * unpruned operator bit-for-bit (spec-pinned).
  *
  * Index layout: ONE DataFrame, row kind discriminated by `cell`
  * (the [[IvfIndex]] scheme): the meta row (`cell == -2`) carries the
  * frozen coarse centroids AND the frozen `(lo, hi)` calibration — a
  * probe needs nothing but the index; `cell == -1` holds null vectors
  * (never probed); `cell >= 0` one `(id, cell, sq_code)` row per doc.
  * Write with `index.write.partitionBy("cell").parquet(path)`.
  *
  * Both frozen models are pure per-row functions, so [[append]] is
  * EXACT: probes against `append(build(a), b)` equal probes against
  * `build(a union b)` (spec-pinned). Calibration drift (a later epoch
  * outside the frozen `(lo, hi)` range) degrades gracefully — encode
  * clamps at the range edge ([[Similarity.sq8EncodeKernel]]) — and the
  * monitor for wholesale distribution drift is the cell-balance report
  * ([[occupancyReport]]). Everything but the stored code and its
  * scoring is [[IvfIndex]]'s kernel.
  */
object IvfSq8Index {

  /** `cell` value of the single metadata row. */
  val MetaCell: Int = IvfIndex.MetaCell
  /** `cell` assigned to null vectors (never probed; probes are >= 0). */
  val NullCell: Int = IvfIndex.NullCell

  final case class Meta(dim: Int, nCentroids: Int, nDocs: Long)

  /** One SQ8 byte per dimension under the frozen `(lo, hi)` calibration,
    * scored by [[Similarity.sq8AdcCosUdf]].
    */
  private object Sq8 extends IvfIndex.Codec[(Array[Double], Array[Double])](
      "IVF-SQ8", "sq_code", "binary",
      Seq("los" -> "array<double>", "his" -> "array<double>"), "adc_cos") {
    override def literals(m: (Array[Double], Array[Double])): Seq[Column] =
      Seq(typedLit(m._1.toSeq), typedLit(m._2.toSeq))
    def read(meta: Row, dim: Int, kv: Map[String, String]): (Array[Double], Array[Double]) = {
      val lo = meta.getSeq[Double](2).toArray
      val hi = meta.getSeq[Double](3).toArray
      require(lo.length == dim && hi.length == dim,
        "corrupt IVF-SQ8 index: calibration length mismatch")
      (lo, hi)
    }
    def encode(m: (Array[Double], Array[Double]), v: Column): Column = {
      val (lo, hi) = m
      udf((x: Array[Double]) => if (x == null) null else Similarity.sq8EncodeKernel(lo, hi, x))
        .apply(v)
    }
    override def queryCols(m: (Array[Double], Array[Double])): Seq[Column] =
      Seq(Similarity.vecNorm(col("__qv")).as("__qn"))
    def score(m: (Array[Double], Array[Double])): Column =
      Similarity.sq8AdcCosUdf(m._1, m._2)(col("__qv"), col("__qn"), col("sq_code"))
  }

  /** Meta row of `index`: frozen params, coarse centroids, calibration.
    * Fails typed on a frame that is not a v1 IVF-SQ8 index.
    */
  def readMeta(index: DataFrame)
      : (Meta, Array[Array[Double]], Array[Double], Array[Double]) = {
    val s = IvfIndex.read(Sq8, index)
    (Meta(s.meta.dim, s.meta.nCentroids, s.meta.nDocs), s.ctrs, s.model._1, s.model._2)
  }

  /** Build the index: one coarse-cell assignment + one SQ8 encode per
    * vector, both pure per-row kernels of the frozen models. Returned
    * frame is persisted (call `.unpersist()` once written).
    */
  def build(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: Seq[Seq[Double]],
      lo: Seq[Double],
      hi: Seq[Double]): DataFrame = {
    IvfIndex.requireCentroids(centroids)
    val dim = centroids.head.length
    require(lo.length == dim && hi.length == dim,
      s"calibration must match the centroid dimensionality $dim, got ${lo.length}/${hi.length}")
    IvfIndex.buildWith(Sq8, corpus, idCol, vecCol, centroids, (lo.toArray, hi.toArray))
  }

  /** ADC top-k against the stored index: same output contract as
    * [[Similarity.sq8TopKAgainst]] (`query_id`, `rank`, `neighbor_id`,
    * `adc_cos`), restricted to each query's `nProbe` nearest cells
    * (shared [[IvfIndex.cellRestricted]] — static partition pruning up
    * to 64k probed cells, broadcast semi join past that). With
    * `nProbe = nCentroids` the output equals the unpruned operator
    * exactly (spec-pinned: cell pruning and byte quantization are
    * independent approximations).
    */
  def topKAgainst(
      index: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nProbe: Int = 2,
      maxStaticProbeCells: Int = IvfIndex.DefaultMaxStaticProbeCells): DataFrame =
    IvfIndex.topKWith(Sq8, index, IvfIndex.read(Sq8, index), queries, idCol, vecCol,
      k, nProbe, maxStaticProbeCells)

  /** Append new vectors, assigning and encoding ONLY the new rows with
    * the frozen models from the meta row — EXACT (both models are pure
    * per-row functions; spec-pinned append == build-union). Ids must
    * stay unique.
    */
  def append(
      index: DataFrame,
      newVecs: DataFrame,
      idCol: String,
      vecCol: String): DataFrame =
    IvfIndex.appendWith(Sq8, IvfIndex.read(Sq8, index), index, newVecs, idCol, vecCol)._1

  /** Cell-balance report over this index's doc rows — the same
    * statistic and remedy trigger as [[IvfIndex.cellOccupancyReport]].
    */
  def occupancyReport(index: DataFrame, topK: Int = 16): IvfIndex.CellOccupancy =
    IvfIndex.occupancy(Seq(index), readMeta(index)._1.nCentroids, topK)

  /** The monitor-then-remedy loop for the IVF-SQ8 family (r10 —
    * completing the remedy symmetry: IVF refits from stored vectors,
    * IVF-PQ takes a typed rebuild-from-corpus recipe, this one sits in
    * between). Unlike PQ residuals, SQ8 codes RECONSTRUCT their vector
    * within `(hi - lo) / 255` per dimension, so the artifact heals
    * from ITSELF: reconstruct every stored code, fit a fresh seeded
    * k-means over the reconstructions, and REASSIGN cells. The codes
    * never change — quantization fidelity is not the drifting
    * statistic, only the coarse partitioner is — so every ADC score
    * is bit-identical before and after; the refit moves only the
    * pruning geometry. Null-cell rows and `nDocs` are preserved.
    * Below `maxSkew` the index comes back untouched; the returned
    * report is the evidence either way.
    */
  def refitIfSkewed(
      index: DataFrame,
      maxSkew: Double = 8.0,
      seed: Long = 42L): (DataFrame, IvfIndex.CellOccupancy) = {
    require(maxSkew >= 1.0, s"maxSkew below 1 would always fire; got $maxSkew")
    val report = occupancyReport(index)
    if (report.skew <= maxSkew) (index, report)
    else {
      val s = IvfIndex.read(Sq8, index)
      val (lo, hi) = s.model
      val idCol = index.columns.head
      val reconUdf = udf((code: Array[Byte]) => {
        val v = new Array[Double](lo.length)
        var i = 0
        while (i < lo.length) {
          v(i) = lo(i) + (code(i) & 0xff) * (hi(i) - lo(i)) / 255.0
          i += 1
        }
        v
      })
      val recon = index.filter(col("cell") >= 0)
        .select(col(idCol), reconUdf(col("sq_code")).as("__v"), col("sq_code"))
        .persist()
      val ctrs = IvfIndex.fitCentroids(recon, "__v", s.meta.nCentroids, seed)
        .map(_.toArray).toArray
      val assignUdf = udf((v: Array[Double]) => Similarity.nearestCells(ctrs, v, 1)(0))
      val cols = index.columns.map(col)
      // every doc row is rewritten, so nDocs carries over as it is
      val rebuilt = IvfIndex.metaRow(Sq8, index.sparkSession, idCol,
          index.schema(idCol).dataType, s.copy(ctrs = ctrs)).select(cols: _*)
        .unionAll(recon.select(
          IvfIndex.docColumns(Sq8, col(idCol), assignUdf(col("__v")), col("sq_code")): _*)
          .select(cols: _*))
        .unionAll(index.filter(col("cell") === NullCell))
        .persist()
      rebuilt.count()
      recon.unpersist()
      (rebuilt, report)
    }
  }
}
