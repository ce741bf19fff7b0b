package graft.streaming

import org.apache.spark.sql.DataFrame

import graft.operators.LineFreqIndex

/** Streaming boilerplate-removal gate — [[graft.operators.LineFreqIndex]]
  * wired into Structured Streaming, the line-level member of the gate
  * set ([[EventOps.dedupStream]] exact-doc, [[NearDupGate]] near-dup doc,
  * [[EmbeddingDupGate]] embedding): each micro-batch's documents are
  * rebuilt without the lines the corpus-so-far has already seen too
  * often.
  *
  * Per micro-batch: segment the batch (only the batch pays text CPU),
  * decide every segment with `stored df + batch df` — EXACTLY the
  * corpus-so-far-wide frequency, because disjoint-doc distinct counts
  * add — then append the RAW batch's counts to the index (pre-filter:
  * frequency is a property of what was CRAWLED, not of what survived;
  * growing the index with filtered text would let boilerplate re-enter
  * once its early copies were dropped). Unlike the LSH gate there is
  * no frozen state and no rebuild cadence: every step is bit-equal to
  * the one-shot [[graft.operators.LineDedup.dedupLines]] over the
  * corpus streamed so far, restricted to the batch (spec-pinned).
  *
  * Wiring:
  * {{{
  * val gate = new BoilerplateGate.Gate(
  *   LineFreqIndex.build(kept, "id", "text", LineDedup.DelimSegments("\n")),
  *   "id", "text", maxDocFreq = 50)
  * stream.writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
  *   gate.filterBatch(batch).write.mode("append").parquet(out)
  * }.start()
  * }}}
  */
object BoilerplateGate {

  /** Mutable gate state: call [[filterBatch]] from `foreachBatch` (Spark
    * invokes it serially per stream; the lock also makes sharing one
    * gate across streams safe).
    *
    * `checkpointPath`/`checkpointEvery`: when both set, each
    * `checkpointEvery`-th batch also durably writes the post-append
    * index to `<checkpointPath>/line_index_<seq>` — the
    * [[GateState]] contract; reopen with [[latestCheckpoint]] on
    * restart.
    */
  final class Gate(
      initialIndex: DataFrame,
      idCol: String,
      textCol: String,
      maxDocFreq: Long,
      joiner: Option[String] = None,
      checkpointPath: Option[String] = None,
      checkpointEvery: Int = 0) {

    private val state =
      new GateState(initialIndex, (), "line_index_", checkpointPath, checkpointEvery)

    /** The live index (initial corpus + every raw batch so far). */
    def currentIndex: DataFrame = state.current

    /** Path of the newest durable checkpoint written, if any. */
    def lastCheckpoint: Option[String] = state.lastCheckpoint

    /** Returns the batch rebuilt without over-frequent lines
      * (`(idCol, text_kept, n_total, n_kept)`, one row per batch doc)
      * and appends the raw batch's counts to the index.
      */
    def filterBatch(batch: DataFrame): DataFrame =
      state.filter((_, index) =>
        LineFreqIndex.filterAgainst(index, batch, idCol, textCol, maxDocFreq, joiner)) {
        (_, index, _) => (LineFreqIndex.append(index, batch, idCol, textCol), ())
      }
  }

  /** Newest `line_index_<seq>` artifact under `path`, or None. */
  def latestCheckpoint(
      spark: org.apache.spark.sql.SparkSession, path: String): Option[DataFrame] =
    GateState.latest(spark, path, "line_index_")
}
