package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}

import graft.operators.Manifest

/** Streaming delivery accounting — [[graft.operators.Manifest]] wired
  * into Structured Streaming, completing the artifact-per-family gate
  * symmetry: every micro-batch's manifest is fold-merged into the
  * standing one, so the accounting follows an append-only ingest
  * WITHOUT ever rescanning the corpus ([[Manifest.merge]] is exact —
  * commutative, associative folds — so the live manifest is bit-equal
  * to a from-scratch [[Manifest.build]] over everything ingested so
  * far, spec-pinned).
  *
  * Unlike the dedup gates this one FILTERS NOTHING: accounting is an
  * observer. [[Gate.accountBatch]] returns the batch untouched so it
  * drops into a `foreachBatch` chain between a dedup gate and the
  * sink. The [[Manifest.merge]] overlap caveat applies: batches are
  * assumed disjoint (the upstream dedup gates exist to make them so);
  * re-accounting the same rows double-counts exactly as a union
  * would.
  *
  * Wiring:
  * {{{
  * val gate = new ManifestGate.Gate(
  *   Manifest.build(kept, "lang", Seq("id", "text"), length(col("text"))),
  *   "lang", Seq("id", "text"), length(col("text")))
  * stream.writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
  *   gate.accountBatch(batch).write.mode("append").parquet(out)
  * }.start()
  * }}}
  */
object ManifestGate {

  /** Mutable gate state: call [[accountBatch]] from `foreachBatch`
    * (serial per stream; the lock also makes sharing safe).
    *
    * `checkpointPath`/`checkpointEvery`: when both set, each
    * `checkpointEvery`-th batch durably writes the post-merge manifest
    * to `<checkpointPath>/manifest_<seq>` — the [[GateState]]
    * contract; reopen with [[latestCheckpoint]] on restart.
    *
    * `maxRows` ENFORCES the dimension-sized contract the state design
    * assumes: the merged manifest lives on the driver heap, so a
    * high-cardinality group column (per-file groups on a long-running
    * stream) would otherwise grow it unboundedly toward a driver OOM
    * (r11 ADVICE). Crossing the cap fails typed — re-group on a coarser
    * column, or raise the cap knowingly (~50 bytes/row of driver heap).
    */
  final class Gate(
      initialManifest: DataFrame,
      groupCol: String,
      hashCols: Seq[String],
      sizeExpr: Column,
      checkpointPath: Option[String] = None,
      checkpointEvery: Int = 0,
      maxRows: Int = 1 << 20) {

    private val state =
      new GateState(initialManifest, (), "manifest_", checkpointPath, checkpointEvery)

    /** The standing manifest (initial + every batch accounted so far). */
    def currentManifest: DataFrame = state.current

    /** Path of the newest durable checkpoint written, if any. */
    def lastCheckpoint: Option[String] = state.lastCheckpoint

    /** Folds the batch's manifest into the standing one and returns
      * the batch UNTOUCHED (accounting observes, never filters).
      *
      * State management: the merged manifest is COLLECTED and rebuilt
      * as a local frame each batch. A manifest is dimension-sized by
      * contract (one row per shard/domain — 100k shards is ~5 MB of
      * driver heap), so localizing it severs lineage exactly like a
      * `localCheckpoint` would, while releasing the previous state
      * deterministically with the reference: checkpoint RDD blocks are
      * not registered in the CacheManager, so `unpersist` on the
      * DataFrame was a no-op and superseded manifests lingered in the
      * executor block store until GC on a long stream (r10 ADVICE).
      * Nothing executor-resident exists to leak now.
      */
    def accountBatch(batch: DataFrame): DataFrame =
      state.account(batch, maxRows, "manifest",
        s"is sized for DIMENSION-grain manifests (one row per shard/domain, " +
          s"'$groupCol' here); re-group on a coarser column or raise maxRows knowingly") {
        (manifest, b) => Manifest.merge(
          Seq(manifest, Manifest.build(b, groupCol, hashCols, sizeExpr)), groupCol)
      }
  }

  /** Newest `manifest_<seq>` artifact under `path`, or None. */
  def latestCheckpoint(
      spark: org.apache.spark.sql.SparkSession, path: String): Option[DataFrame] =
    GateState.latest(spark, path, "manifest_")
}
