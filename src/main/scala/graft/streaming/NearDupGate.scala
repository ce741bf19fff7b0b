package graft.streaming

import org.apache.spark.sql.DataFrame

import graft.operators.LshIndex

/** Streaming near-duplicate ingest gate — the [[graft.operators.LshIndex]]
  * probe wired into Structured Streaming. Completes the streaming twin
  * set: [[EventOps.dedupStream]] is the EXACT-dedup gate (watermark-
  * bounded state on a key); this is the NEAR-dup gate (MinHash-LSH
  * against the corpus kept so far).
  *
  * Per micro-batch: sign the batch, probe the index (only the batch pays
  * shingling/signing CPU — the index is a scan), drop near-dups at the
  * gate's threshold plus exact-text md5 matches, append the survivors to
  * the index. State is the index itself — growing with the KEPT corpus,
  * local-checkpointed each batch so lineage stays flat. A production
  * deployment checkpoints the index to Parquet on a cadence
  * (`gate.currentIndex.write.parquet(...)`) and rebuilds nightly with
  * [[LshIndex.build]] to refresh the frozen stop set and exact bucket
  * counts (see [[LshIndex.append]]).
  *
  * Wiring:
  * {{{
  * val gate = new NearDupGate.Gate(LshIndex.build(kept, "id", "text"), "id", "text", 0.8)
  * stream.writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
  *   gate.filterBatch(batch).write.mode("append").parquet(out)
  * }.start()
  * }}}
  *
  * Semantics pinned by NearDupGateSpec: streaming the corpus through the
  * gate batch-by-batch produces exactly the survivors of replaying
  * [[graft.operators.TextDedup.dedupAgainst]] sequentially over the same
  * batch sequence (grow-as-you-go). Within-batch duplicates are NOT
  * deduped against each other — same as the batch replay, where a batch
  * is deduped only against the corpus kept so far; run the batch
  * self-dedup ladder upstream if intra-batch dups matter.
  */
object NearDupGate {

  /** Mutable gate state: call [[filterBatch]] from `foreachBatch` (Spark
    * invokes it serially per stream; the lock also makes sharing one
    * gate across streams safe).
    */
  final class Gate(
      initialIndex: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double = 0.8,
      checkpointPath: Option[String] = None,
      checkpointEvery: Int = 0) {

    private val state =
      new GateState(initialIndex, (), "lsh_index_", checkpointPath, checkpointEvery)

    /** The live index (initial corpus + all survivors so far). */
    def currentIndex: DataFrame = state.current

    /** Path of the newest durable checkpoint written, if any — the
      * [[GateState]] contract: every `checkpointEvery`-th batch writes
      * the post-append index to `<checkpointPath>/lsh_index_<seq>`;
      * reopen with [[latestCheckpoint]] on restart.
      */
    def lastCheckpoint: Option[String] = state.lastCheckpoint

    /** Returns the batch rows that survive the gate (batch columns and
      * order preserved) and appends them to the index.
      */
    def filterBatch(batch: DataFrame): DataFrame =
      state.filter((_, index) => LshIndex.dedupAgainst(index, batch, idCol, textCol, threshold)) {
        (_, index, survivors) => (LshIndex.append(index, survivors, idCol, textCol), ())
      }
  }

  /** Newest `lsh_index_<seq>` artifact under `path`, or None. */
  def latestCheckpoint(
      spark: org.apache.spark.sql.SparkSession, path: String): Option[DataFrame] =
    GateState.latest(spark, path, "lsh_index_")
}
