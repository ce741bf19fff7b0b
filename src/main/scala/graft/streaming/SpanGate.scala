package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.SpanFreqIndex

/** Streaming repeated-span-removal gate —
  * [[graft.operators.SpanFreqIndex]] wired into Structured Streaming,
  * the span-level member of the gate set ([[EventOps.dedupStream]]
  * exact-doc, [[NearDupGate]] near-dup doc, [[EmbeddingDupGate]]
  * embedding, [[BoilerplateGate]] line): each micro-batch's documents
  * are rebuilt without the word spans the corpus-so-far has already
  * seen `minDup` times.
  *
  * Per micro-batch: window the batch (only the batch pays text CPU),
  * decide every window with `stored cnt + batch cnt` — EXACTLY the
  * corpus-so-far-wide occurrence count, because disjoint-doc totals
  * add — then append the RAW batch's counts to the index (pre-removal:
  * occurrence frequency is a property of what was CRAWLED, not of what
  * survived; growing the index with cut text would let a boilerplate
  * span re-enter once its early copies were removed). No frozen state,
  * no rebuild cadence: every step is bit-equal to the one-shot
  * [[graft.operators.LineDedup.removeDuplicatedSpans]] over the corpus
  * streamed so far, restricted to the batch (spec-pinned).
  *
  * ==State volatility and recovery (r8 ADVICE)==
  * The grown index lives ONLY as `localCheckpoint` blocks — executor
  * (or driver, in local mode) memory-and-disk, NOT reliable storage.
  * Two failure modes follow:
  *   - an executor loss drops blocks the lineage can no longer
  *     recompute (localCheckpoint severs it), failing every later
  *     batch;
  *   - a stream restart constructs a fresh Gate, silently resetting
  *     the corpus-so-far to whatever index the caller passes.
  * Recovery contract: the index is a pure fold of `append` over raw
  * batches, and disjoint-doc counts ADD, so it can always be rebuilt
  * exactly as `SpanFreqIndex.build` over the persisted raw input (or
  * `mergeMany` of per-epoch builds) — the restart recipe is "rebuild
  * from what you already wrote", never "trust the gate's memory".
  * For long streams where a full rebuild is too slow, pass
  * `checkpointPath` + `checkpointEvery`: every N batches the gate
  * writes the CURRENT index to `<checkpointPath>/span_index_<seq>`
  * (a complete, self-contained Parquet artifact — the
  * `SpanFreqIndex` write contract). On restart, reopen the newest
  * artifact with `spark.read.parquet`, rebuild-and-`mergeMany` only
  * the raw batches that arrived after it, and seed a new Gate.
  *
  * Wiring:
  * {{{
  * val gate = new SpanGate.Gate(
  *   SpanFreqIndex.build(kept, "id", "text", n = 50),
  *   "id", "text", minDup = 2,
  *   checkpointPath = Some("/data/gates/spans"), checkpointEvery = 100)
  * stream.writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
  *   gate.filterBatch(batch).write.mode("append").parquet(out)
  * }.start()
  * }}}
  */
object SpanGate {

  /** Mutable gate state: call [[filterBatch]] from `foreachBatch` (Spark
    * invokes it serially per stream; the lock also makes sharing one
    * gate across streams safe).
    *
    * `checkpointPath`/`checkpointEvery`: when both set (path non-empty,
    * every >= 1), each `checkpointEvery`-th [[filterBatch]] call also
    * durably writes the post-append index to
    * `<checkpointPath>/span_index_<seq>` — see the recovery contract in
    * the object scaladoc. Each artifact is a fresh directory (never an
    * overwrite of one a reader might hold open).
    */
  final class Gate(
      initialIndex: DataFrame,
      idCol: String,
      textCol: String,
      minDup: Long,
      checkpointPath: Option[String] = None,
      checkpointEvery: Int = 0) {

    private val state =
      new GateState(initialIndex, (), "span_index_", checkpointPath, checkpointEvery)

    /** The live index (initial corpus + every raw batch so far). */
    def currentIndex: DataFrame = state.current

    /** Path of the newest durable checkpoint written, if any. */
    def lastCheckpoint: Option[String] = state.lastCheckpoint

    /** Returns the batch rebuilt without corpus-duplicated spans
      * (`(idCol, text_kept, n_words, n_removed)`, one row per batch doc)
      * and appends the raw batch's counts to the index.
      */
    def filterBatch(batch: DataFrame): DataFrame =
      state.filter((_, index) =>
        SpanFreqIndex.removeAgainst(index, batch, idCol, textCol, minDup)) {
        (_, index, _) => (SpanFreqIndex.append(index, batch, idCol, textCol), ())
      }
  }

  /** Reopen the newest `span_index_<seq>` artifact under `path`, or
    * None when no checkpoint has been written — the restart half of the
    * recovery contract (the caller then `mergeMany`s builds of any raw
    * batches newer than the artifact and seeds a fresh [[Gate]]).
    */
  def latestCheckpoint(spark: SparkSession, path: String): Option[DataFrame] =
    GateState.latest(spark, path, "span_index_")
}
