package graft.streaming

import org.apache.spark.sql.DataFrame

import graft.operators.HammingIndex

/** Streaming near-duplicate ingest gate over a Hamming-family index —
  * [[graft.operators.HammingIndex]] wired into Structured Streaming,
  * the one gate class behind both Hamming gates (r9). The index's meta
  * row names its family, and the gate follows it:
  *   - a [[graft.operators.HammingIndex]] gates a CALLER-SUPPLIED
  *     64-bit hash column — the streaming path for image ingest
  *     (`Multimodal.imageDHash` upstream in the same micro-batch),
  *     audio fingerprints, or externally computed signatures;
  *   - a [[graft.operators.SimHashIndex]] signs the column as TEXT with
  *     the index's frozen token hasher ([[HammingDupGate]]).
  *
  * Per micro-batch: sign the batch (only the batch pays fingerprint
  * CPU — the stored side is a columnar scan), drop rows within
  * `maxDistance` bits of ANY indexed fingerprint, append the survivors.
  * Null-hash rows pass through unprobed and are NOT appended (no
  * fingerprint, no identity — the family null rule). State is the
  * index, local-checkpointed per batch; [[GateState]] provides
  * the durable hook, under `hamming_index_<seq>` or, for a SimHash
  * index, `simhash_index_<seq>`. Appended entry rows carry batch-local
  * bucket counts (the documented `append` under-suppression);
  * `capDriftReport` is the monitor and `compact` the repair, on
  * crossing — not on a timer.
  *
  * Wiring (image ingest):
  * {{{
  * val gate = new FingerprintDupGate.Gate(
  *   HammingIndex.build(keptHashes, "id", "dhash"), "id", "dhash", maxDistance = 3)
  * stream.writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
  *   gate.filterBatch(Multimodal.imageDHash(batch, "content"))
  *     .write.mode("append").parquet(out)
  * }.start()
  * }}}
  *
  * Semantics pinned by FingerprintDupGateSpec and HammingDupGateSpec:
  * streaming batch-by-batch equals replaying the index's
  * `dedupAgainst` grow-as-you-go over the same batch sequence.
  * Within-batch duplicates are NOT deduped against each other (a batch
  * is gated only against the corpus kept so far).
  */
object FingerprintDupGate {

  /** Mutable gate state: call [[filterBatch]] from `foreachBatch` (Spark
    * invokes it serially per stream; the lock also makes sharing one
    * gate across streams safe). `hashCol` is the fingerprint column —
    * or, over a SimHash index, the text column to sign.
    */
  final class Gate(
      initialIndex: DataFrame,
      idCol: String,
      hashCol: String,
      maxDistance: Int = 3,
      checkpointPath: Option[String] = None,
      checkpointEvery: Int = 0) {

    // the index's recipe, read once here and then carried forward by
    // every append (which grows its nDocs) instead of re-read per batch
    private val params = HammingIndex.paramsOf(initialIndex)
    private val family = params.family
    private val state = new GateState(initialIndex, params,
      if (family eq HammingIndex.SimHash) HammingDupGate.CheckpointPrefix else CheckpointPrefix,
      checkpointPath, checkpointEvery)

    /** The live index (initial corpus + all survivors so far). */
    def currentIndex: DataFrame = state.current

    /** Path of the newest durable checkpoint written, if any. */
    def lastCheckpoint: Option[String] = state.lastCheckpoint

    /** Returns the batch rows that survive the gate (batch columns and
      * order preserved) and appends the signed survivors to the index.
      */
    def filterBatch(batch: DataFrame): DataFrame =
      state.filter(family.dedupAgainst(_, _, batch, idCol, hashCol, maxDistance))(
        family.append(_, _, _, idCol, hashCol))
  }

  private[streaming] val CheckpointPrefix = "hamming_index_"

  /** Newest `hamming_index_<seq>` artifact under `path`, or None. */
  def latestCheckpoint(
      spark: org.apache.spark.sql.SparkSession, path: String): Option[DataFrame] =
    GateState.latest(spark, path, CheckpointPrefix)
}
