package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/** Persistable IVF-PQ index — the production ANN serving layout
  * (Jégou et al.'s IVFADC, Spark-first): the corpus is stored as
  * `(id, cell, pq_code)` — coarse cell from the frozen [[IvfCentroids]]
  * quantizer for PARTITION PRUNING, one packed PQ Int per vector for
  * 32x less IO — and probes pay table lookups inside `nProbe` cells,
  * never touching a corpus vector. The composition of [[IvfIndex]]
  * (where to look) and [[Similarity.pqTopKAgainst]] (how to score),
  * sharing each side's exact machinery.
  *
  * At 100 TB of float32 embeddings the [[IvfIndex]] probe still scans
  * `N * nProbe / nCentroids` full vectors (~25 TB at nProbe=4/16); this
  * index's probe scans the same fraction of PACKED CODES — ~0.8 TB —
  * plus one meta row. That 32x is the difference between an
  * interactive probe batch and an overnight one at the top end.
  *
  * Index layout: ONE DataFrame, row kind discriminated by `cell`
  * (the [[IvfIndex]] scheme):
  *   - `cell == -2` (one row): metadata — `params` a `v1;...` string,
  *     `ctrs` the frozen coarse centroids, `cbs` the frozen PQ codebook
  *     tensor. Both models ride IN the artifact: a probe needs nothing
  *     but the index.
  *   - `cell == -1`: null vectors (never probed; `pq_code` is NULL).
  *   - `cell >= 0`: one row per document — `(id, cell, pq_code)`.
  * Write with `index.write.partitionBy("cell").parquet(path)` so
  * probes prune statically to their cells (the [[IvfIndex]] plan pin
  * applies unchanged — the probe reuses its cell-restriction).
  *
  * Both quantizers are frozen, so [[append]] is EXACT: probes against
  * `append(build(a), b)` are identical to `build(a union b)`
  * (spec-pinned). Approximation lives ONLY in scoring (`adc_cos`
  * against the reconstruction) and cell pruning — probing ALL cells
  * recovers [[Similarity.pqTopKAgainst]] bit-for-bit (spec-pinned).
  */
object IvfPqIndex {

  /** `cell` value of the single metadata row. */
  val MetaCell: Int = IvfIndex.MetaCell
  /** `cell` assigned to null vectors (never probed; probes are >= 0). */
  val NullCell: Int = IvfIndex.NullCell

  final case class Meta(dim: Int, nCentroids: Int, nSub: Int, kCb: Int, nDocs: Long)

  /** One packed PQ Int per vector under the frozen codebook tensor,
    * scored by [[Similarity.pqAdcCosUdf]] against each query's ADC table.
    */
  private object Pq extends IvfIndex.Codec[Array[Array[Array[Double]]]](
      "IVF-PQ", "pq_code", "int", Seq("cbs" -> "array<array<array<double>>>"), "adc_cos") {
    override def params(cbs: Array[Array[Array[Double]]]): Seq[(String, Any)] =
      Seq("nSub" -> cbs.length, "kCb" -> cbs(0).length)
    override def literals(cbs: Array[Array[Array[Double]]]): Seq[Column] =
      Seq(typedLit(cbs.map(_.map(_.toSeq).toSeq).toSeq))
    def read(meta: Row, dim: Int, kv: Map[String, String]): Array[Array[Array[Double]]] = {
      val cbs = meta.getSeq[scala.collection.Seq[scala.collection.Seq[Double]]](2)
        .map(_.map(_.toArray).toArray).toArray
      require(cbs.length == kv("nSub").toInt && cbs.forall(_.length == kv("kCb").toInt),
        "corrupt IVF-PQ index: codebook shape mismatch")
      cbs
    }
    def encode(cbs: Array[Array[Array[Double]]], v: Column): Column =
      udf((x: Array[Double]) =>
        if (x == null) null
        else java.lang.Integer.valueOf(Similarity.pqEncodeKernel(cbs, x))).apply(v)
    override def queryCols(cbs: Array[Array[Array[Double]]]): Seq[Column] =
      Seq(Similarity.pqTableUdf(cbs)(col("__qv")).as("__tab"),
        Similarity.vecNorm(col("__qv")).as("__qn"))
    def score(cbs: Array[Array[Array[Double]]]): Column =
      Similarity.pqAdcCosUdf(cbs)(col("__tab"), col("__qn"), col("pq_code"))
  }

  /** Meta row of `index`: frozen params + both model tensors. Fails
    * typed on a frame that is not a v1 IVF-PQ index.
    */
  def readMeta(index: DataFrame): (Meta, Array[Array[Double]], Array[Array[Array[Double]]]) = {
    val s = IvfIndex.read(Pq, index)
    val cbs = s.model
    (Meta(s.meta.dim, s.meta.nCentroids, cbs.length, cbs.headOption.fold(0)(_.length),
      s.meta.nDocs), s.ctrs, cbs)
  }

  /** Build the index: one coarse-cell assignment + one PQ encode per
    * vector, both pure per-row kernels of the frozen models. Returned
    * frame is persisted (call `.unpersist()` once written).
    */
  def build(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: Seq[Seq[Double]] = IvfCentroids.centroids,
      codebooks: Seq[Seq[Seq[Double]]] = PqCodebooks.codebooks): DataFrame = {
    IvfIndex.requireCentroids(centroids)
    val cbs = codebooks.map(_.map(_.toArray).toArray).toArray
    Similarity.requirePqShape(cbs)
    IvfIndex.buildWith(Pq, corpus, idCol, vecCol, centroids, cbs)
  }

  /** ADC top-k against the stored index: same output contract as
    * [[Similarity.pqTopKAgainst]] (`query_id`, `rank`, `neighbor_id`,
    * `adc_cos`), restricted to each query's `nProbe` nearest cells.
    * Only the query batch pays assignment + table CPU; the corpus side
    * is a pruned scan of packed codes ([[IvfIndex.cellRestricted]] —
    * static partition pruning up to 64k probed cells, broadcast semi
    * join past that). With `nProbe = nCentroids` the output equals the
    * unpruned [[Similarity.pqTopKAgainst]] exactly (spec-pinned: cell
    * pruning and ADC scoring are independent approximations).
    */
  def topKAgainst(
      index: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nProbe: Int = 2,
      maxStaticProbeCells: Int = IvfIndex.DefaultMaxStaticProbeCells): DataFrame =
    IvfIndex.topKWith(Pq, index, IvfIndex.read(Pq, index), queries, idCol, vecCol,
      k, nProbe, maxStaticProbeCells)

  /** Append new vectors, assigning and encoding ONLY the new rows with
    * the frozen models from the meta row. Exact — both models are pure
    * per-row functions, no cross-corpus statistic exists, so probes
    * against `append(build(a), b)` equal probes against
    * `build(a union b)` (spec-pinned). Ids must stay unique.
    */
  def append(
      index: DataFrame,
      newVecs: DataFrame,
      idCol: String,
      vecCol: String): DataFrame =
    IvfIndex.appendWith(Pq, IvfIndex.read(Pq, index), index, newVecs, idCol, vecCol)._1

  /** Cell-balance report over this index's doc rows — the same
    * statistic and remedy trigger as [[IvfIndex.cellOccupancyReport]].
    * The coarse quantizer here skews exactly like IvfIndex's: appends
    * drift the corpus away from the frozen centroids, over-full cells
    * make probes scan their fraction in full, and this one stored-row
    * groupBy is the measured trigger for [[rebuildIfSkewed]].
    */
  def occupancyReport(index: DataFrame, topK: Int = 16): IvfIndex.CellOccupancy =
    IvfIndex.occupancy(Seq(index), readMeta(index)._1.nCentroids, topK)

  /** The monitor-then-remedy loop for the IVF-PQ family. Unlike
    * [[IvfIndex.refitIfSkewed]] the artifact CANNOT heal from itself —
    * it stores lossy PQ residuals, not vectors, so re-fitting a
    * quantizer from reconstructions would chase quantization noise.
    * The remedy is therefore the [[LshIndex.rebuildIfStale]] shape: a
    * typed rebuild-from-corpus recipe — the caller supplies the exact
    * corpus the index covers (guarded by doc count), a fresh seeded
    * k-means is fitted over the REAL vectors (same centroid count),
    * and the index rebuilds under the frozen PQ codebooks from the
    * meta row (scoring fidelity is not the drifting statistic; only
    * the coarse partitioner is). Below `maxSkew` the index comes back
    * untouched; the returned report is the evidence either way.
    */
  def rebuildIfSkewed(
      index: DataFrame,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      maxSkew: Double = 8.0,
      seed: Long = 42L): (DataFrame, IvfIndex.CellOccupancy) = {
    require(maxSkew >= 1.0, s"maxSkew below 1 would always fire; got $maxSkew")
    val report = occupancyReport(index)
    if (report.skew <= maxSkew) (index, report)
    else {
      val (m, _, cbs) = readMeta(index)
      val n = corpus.count()
      require(n == m.nDocs,
        s"corpus has $n docs but the index covers ${m.nDocs} — rebuildIfSkewed " +
          "needs the exact corpus the index was built over (PQ codes are lossy; " +
          "the artifact cannot re-fit from itself)")
      (build(corpus, idCol, vecCol,
        IvfIndex.fitCentroids(corpus, vecCol, m.nCentroids, seed),
        cbs.map(_.map(_.toSeq).toSeq).toSeq), report)
    }
  }
}
