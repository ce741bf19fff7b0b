package graft.streaming

import org.apache.spark.sql.DataFrame

import graft.operators.IvfIndex

/** Streaming embedding near-duplicate ingest gate — the
  * [[graft.operators.IvfIndex]] probe wired into Structured Streaming,
  * completing the index family's streaming surface: [[NearDupGate]] is
  * the TEXT near-dup gate (MinHash-LSH index), this is the EMBEDDING
  * near-dup gate (IVF cosine against the corpus kept so far).
  *
  * Per micro-batch: rank each vector's probe cells against the frozen
  * quantizer stored in the index (only the batch pays assignment CPU —
  * the index side is a partition-pruned scan), drop vectors whose cosine
  * against any indexed vector in those cells reaches the threshold,
  * append the survivors. State is the index itself, local-checkpointed
  * each batch so lineage stays flat. Because [[IvfIndex.append]] is
  * EXACT (no counts or stop sets to go stale — see IvfIndex), the gate
  * needs no compaction cadence, only an eventual quantizer re-fit if the
  * embedding distribution drifts.
  *
  * Wiring:
  * {{{
  * val gate = new EmbeddingDupGate.Gate(
  *   IvfIndex.build(kept, "id", "vec", centroids), "id", "vec", 0.95)
  * stream.writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
  *   gate.filterBatch(batch).write.mode("append").parquet(out)
  * }.start()
  * }}}
  *
  * Semantics pinned by EmbeddingDupGateSpec: streaming the corpus
  * through the gate batch-by-batch produces exactly the survivors of
  * replaying [[IvfIndex.dedupAgainst]] + [[IvfIndex.append]]
  * sequentially over the same batch sequence. Within-batch duplicates
  * are NOT deduped against each other (same contract as
  * [[NearDupGate]]); run a batch self-dedup upstream if that matters.
  */
object EmbeddingDupGate {

  /** Mutable gate state: call [[filterBatch]] from `foreachBatch` (Spark
    * invokes it serially per stream; the lock also makes sharing one
    * gate across streams safe).
    */
  final class Gate(
      initialIndex: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      nProbe: Int = 2,
      checkpointPath: Option[String] = None,
      checkpointEvery: Int = 0) {

    // the index's quantizer, read once here and then carried forward by
    // every append (which grows its nDocs) instead of re-read per batch
    private val state = new GateState(initialIndex, IvfIndex.storedOf(initialIndex),
      "ivf_index_", checkpointPath, checkpointEvery)

    /** The live index (initial corpus + all survivors so far). */
    def currentIndex: DataFrame = state.current

    /** Path of the newest durable checkpoint written, if any — the
      * [[GateState]] contract: every `checkpointEvery`-th batch writes
      * the post-append index to `<checkpointPath>/ivf_index_<seq>`
      * (write it cell-partitioned yourself if probes will run straight
      * off the artifact); reopen with [[latestCheckpoint]] on restart.
      */
    def lastCheckpoint: Option[String] = state.lastCheckpoint

    /** Returns the batch rows that survive the gate (batch columns and
      * order preserved) and appends them to the index.
      */
    def filterBatch(batch: DataFrame): DataFrame =
      state.filter(IvfIndex.dedupWith(_, _, batch, idCol, vecCol, threshold, nProbe))(
        IvfIndex.appendCarried(_, _, _, idCol, vecCol))
  }

  /** Newest `ivf_index_<seq>` artifact under `path`, or None. */
  def latestCheckpoint(
      spark: org.apache.spark.sql.SparkSession, path: String): Option[DataFrame] =
    GateState.latest(spark, path, "ivf_index_")
}
