package graft.streaming

import org.apache.spark.sql.DataFrame

/** Streaming Hamming near-duplicate ingest gate over TEXT — the
  * [[graft.operators.SimHashIndex]] probe wired into Structured
  * Streaming, completing the gate-per-index-family set (r9):
  * [[NearDupGate]] is the Jaccard gate (MinHash-LSH),
  * [[EmbeddingDupGate]] the cosine gate (IVF), this the HAMMING gate —
  * the cheapest of the three (one 32-bit SimHash fingerprint per doc,
  * pigeonhole segment buckets, no signature array), the right default
  * when the near-dup definition is "small token edits" rather than
  * "shingle overlap" or "semantic similarity".
  *
  * The gate is [[FingerprintDupGate.Gate]]: over a SimHash index it
  * signs the text column with the index's frozen token hasher, then
  * runs the one Hamming kernel's probe and append; durable checkpoints
  * are written as `simhash_index_<seq>`.
  *
  * Wiring:
  * {{{
  * val gate = new HammingDupGate.Gate(
  *   SimHashIndex.build(kept, "id", "text"), "id", "text", maxDistance = 3)
  * stream.writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
  *   gate.filterBatch(batch).write.mode("append").parquet(out)
  * }.start()
  * }}}
  *
  * Semantics pinned by HammingDupGateSpec: streaming the corpus through
  * the gate batch-by-batch equals replaying
  * [[graft.operators.SimHashIndex.dedupAgainst]] grow-as-you-go over
  * the same batch sequence.
  */
object HammingDupGate {

  type Gate = FingerprintDupGate.Gate

  private[streaming] val CheckpointPrefix = "simhash_index_"

  /** Newest `simhash_index_<seq>` artifact under `path`, or None. */
  def latestCheckpoint(
      spark: org.apache.spark.sql.SparkSession, path: String): Option[DataFrame] =
    GateState.latest(spark, path, CheckpointPrefix)
}
