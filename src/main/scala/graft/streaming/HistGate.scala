package graft.streaming

import org.apache.spark.sql.DataFrame

import graft.operators.Quantiles

/** Streaming percentile accounting (T93, r12) — the T92 histogram
  * artifact wired into Structured Streaming, completing the
  * gate-per-artifact symmetry alongside [[ManifestGate]]: every
  * micro-batch's (key, value, mass) distribution is fold-merged into
  * the standing one, so EXACT percentiles over everything ingested so
  * far are readable at any moment WITHOUT rescanning the stream
  * ([[Quantiles.histMerge]] is exact — masses are commutative,
  * associative sums — so the live artifact is bit-equal to a
  * from-scratch [[Quantiles.histIndex]] over everything ingested,
  * spec-pinned).
  *
  * Like [[ManifestGate]] this FILTERS NOTHING: accounting is an
  * observer — [[Gate.accountBatch]] returns the batch untouched so it
  * drops into a `foreachBatch` chain between a dedup gate and the
  * sink. Unlike the manifest there is no disjointness caveat: the
  * histogram counts VALUE OCCURRENCES, so re-accounting the same rows
  * double-counts exactly as any fold would — the upstream dedup gates
  * are what keep batches disjoint.
  *
  * State discipline is [[ManifestGate]]'s verbatim: the merged
  * artifact is collected and rebuilt as a driver-local frame each
  * batch (severed lineage, zero executor-resident blocks), with
  * `maxRows` ENFORCING the discrete-value contract — the artifact is
  * |distinct (key, value)| rows, bounded for lengths/scores/buckets
  * and unbounded for continuous values, which must be bucketed BEFORE
  * the gate (the [[Quantiles.histIndex]] doc's modeling call).
  */
object HistGate {

  /** Mutable gate state: call [[accountBatch]] from `foreachBatch`
    * (serial per stream; the lock also makes sharing safe). Seed
    * `initialHist` with [[Quantiles.histIndex]] over the standing
    * corpus, or an empty frame with the (keyCol, valueCol, mass)
    * schema for a from-scratch stream.
    */
  final class Gate(
      initialHist: DataFrame,
      keyCol: String,
      valueCol: String,
      weightCol: Option[String] = None,
      checkpointPath: Option[String] = None,
      checkpointEvery: Int = 0,
      maxRows: Int = 1 << 20) {

    private val state = new GateState(initialHist, (), "hist_", checkpointPath, checkpointEvery)

    /** The standing artifact (initial + every batch accounted so far). */
    def currentHist: DataFrame = state.current

    /** Path of the newest durable checkpoint written, if any. */
    def lastCheckpoint: Option[String] = state.lastCheckpoint

    /** Exact percentiles over everything ingested so far, read off the
      * standing artifact — the stream is never rescanned.
      */
    def quantiles(qs: Seq[Double], totalName: String = "n"): DataFrame =
      Quantiles.quantilesOfHist(currentHist, keyCol, valueCol, qs, totalName)

    /** Folds the batch's distribution into the standing artifact and
      * returns the batch UNTOUCHED (accounting observes, never
      * filters).
      */
    def accountBatch(batch: DataFrame): DataFrame =
      state.account(batch, maxRows, "histogram",
        s"is sized for DISCRETE value domains (|distinct ($keyCol, $valueCol)| " +
          "rows); bucket continuous values before the gate or raise maxRows knowingly")(
        Quantiles.histAppend(_, _, keyCol, valueCol, weightCol))
  }

  /** Newest `hist_<seq>` artifact under `path`, or None. */
  def latestCheckpoint(
      spark: org.apache.spark.sql.SparkSession, path: String): Option[DataFrame] =
    GateState.latest(spark, path, "hist_")
}
