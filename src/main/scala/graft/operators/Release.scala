package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.DriverThreads

/** The one-call release turn (T80) — the delivery composition every
  * training-corpus build ends with, chaining the operators that already
  * exist into the order production runs them:
  *
  *  1. curate ([[Curation.curateCore]]): annotate -> quality gate ->
  *     exact dedup -> near-dup canonicalize -> benchmark
  *     decontamination;
  *  2. split ([[Sampling.assignSplit]]): deterministic md5
  *     train/val/test membership, pinned BEFORE any mixing — split
  *     fate must never depend on what was sampled;
  *  3. de-leak ([[Contamination.removeSplitLeakage]]): drop train docs
  *     sharing character n-grams with the held-out splits (the
  *     cross-split leakage direction dedup cannot see);
  *  4. mix ([[Sampling.temperatureMix]] — or, under
  *     [[ReleaseParams.mixMassCol]], [[Sampling.temperatureMixByMass]]
  *     with the budget in token mass — over the TRAIN split only:
  *     val/test are metrics sets and must not be resampled; alpha 1.0
  *     is the exact identity, so the natural mix is the default);
  *  5. pack ([[Packing.packSequences]] over the final corpus — spans
  *     are computed AFTER the mix, so chunk geometry reflects exactly
  *     the documents shipped);
  *  6. ship ([[Manifest.writeWithManifest]] partitioned by split, plus
  *     the [[TextAnalysis.dataCard]] release report under
  *     `path/card`) — a release never leaves without its integrity
  *     record and its data card.
  *
  * Epoch-repeat up-sampling ([[Sampling.epochRepeats]]) is
  * deliberately NOT a release stage: it duplicates rows, and shipping
  * N byte-identical copies inflates exactly the bytes the manifest
  * accounts for — the loader replays epochs from the published weights
  * at read time instead (the q101 schedule is the loader-side artifact).
  *
  * Scale shape: nothing here is new machinery — every stage is the
  * already-audited operator (shuffle inventory per stage in SCALE.md),
  * and the only additions are the two stage-boundary pins (eager
  * `localCheckpoint`s, as [[Curation.curateCore]]'s stages are: the
  * mixed corpus fans out to pack and to the data card, the packed
  * corpus to the write and the caller) and the final partitioned
  * write. The write is the release's natural storage boundary; on a
  * 100-TB run each stage-boundary pin becomes a storage checkpoint the
  * same way.
  */
object Release {

  /** The split column the release pins, partitions by, and verifies on. */
  val SplitCol = "split"

  final case class ReleaseParams(
      curation: Curation.CurationParams = Curation.CurationParams(),
      trainFrac: Double = 0.8,
      valFrac: Double = 0.1,
      leakageN: Int = 13,
      maxOverlapNgrams: Long = 0L,
      // the leak-gram join default stays SHUFFLED (the eval side is a
      // corpus fraction — [[Contamination.removeSplitLeakage]] doc)
      broadcastLeakGrams: Boolean = false,
      // 1.0 = natural mix (exact identity); lower flattens toward
      // uniform over the domain column
      mixAlpha: Double = 1.0,
      // the mix's BUDGET (r14, VERDICT r13 #2): None = document count
      // ([[Sampling.temperatureMix]] — the historical default, kept for
      // bench/oracle continuity); Some(col) = token mass
      // ([[Sampling.temperatureMixByMass]] over that column — "keep
      // mass ∝ mass_d^alpha"), removing the tiny-docs-counted-equal-to-
      // giants distortion from the one composition that actually ships
      // corpora. The column must exist on the input docs; it rides
      // curation and ships with the release, so [[exportPacked]] reads
      // it back from the verified corpus (a missing column fails
      // analysis, typed). Integral masses (token counts, byte sizes);
      // null/<= 0 mass rows are unselectable — the family's mass law.
      mixMassCol: Option[String] = None,
      // scrub-at-ingest: mask PII ([[Pii.redactColumn]]) BEFORE stage 1
      // so every downstream signal — quality, shingles, the dedup index,
      // leak grams, the shipped bytes the manifest certifies — is
      // computed over the text that actually ships; a post-hoc redact
      // would leave the index signed over raw text and batch probes
      // (incremental turns) matching against a corpus that no longer
      // exists. Default off: masking is a policy decision.
      piiMask: Boolean = false)

  /** The shipped release: `docs` (what was written — curated,
    * split-assigned, de-leaked, mixed, packed), `manifest` and `card`
    * as reopened from the written artifacts, and the stage pins. Once
    * released, `docs` cannot be read again (reopen the written release
    * with [[open]]).
    */
  final case class ReleaseResult(
      docs: DataFrame,
      manifest: DataFrame,
      card: DataFrame,
      path: String,
      cached: Seq[DataFrame]) {
    def unpersist(): Unit = cached.foreach(graft.Pins.release)
  }

  /** Scrub-at-ingest (see [[ReleaseParams.piiMask]]): everything
    * downstream sees only the text that ships.
    */
  private def scrubbed(df: DataFrame, textCol: String, params: ReleaseParams): DataFrame =
    if (params.piiMask) df.withColumn(textCol, Pii.redactColumn(col(textCol)))
    else df

  /** Stage-4 training mix under the params' budget (count vs token
    * mass — [[ReleaseParams.mixMassCol]]); shared by [[build]] and
    * [[exportPacked]] so the one-shot and incremental releases ship
    * the same composition (ReleaseSpec pins the export parity).
    */
  private def mixedTrain(
      train: DataFrame, idCol: String, langCol: String,
      params: ReleaseParams): DataFrame =
    params.mixMassCol match {
      case Some(m) =>
        Sampling.temperatureMixByMass(train, idCol, langCol, m, params.mixAlpha)
      case None =>
        Sampling.temperatureMix(train, idCol, langCol, params.mixAlpha)
    }

  def build(
      docs: DataFrame,
      bench: DataFrame,
      idCol: String,
      textCol: String,
      langCol: String,
      path: String,
      params: ReleaseParams = ReleaseParams()): ReleaseResult = {
    require(!docs.columns.contains(SplitCol),
      s"input already has a '$SplitCol' column — the release assigns its own")
    val spark = docs.sparkSession

    // 0: optional ingest scrub; 1: curation core
    // (annotate/gate/dedup/canonicalize/decontaminate)
    val core = Curation.curateCore(
      scrubbed(docs, textCol, params), bench, idCol, textCol, params.curation)

    // 2: pin split membership
    val split = Sampling.assignSplit(
      core.docs, idCol, params.trainFrac, params.valFrac, SplitCol)

    // 3: cross-split leakage removal
    val deLeaked = Contamination.removeSplitLeakage(
      split, idCol, textCol, SplitCol,
      n = params.leakageN, maxOverlapNgrams = params.maxOverlapNgrams,
      broadcastBench = params.broadcastLeakGrams)

    // 4: training mix on the train slice only; held-out splits ride
    // through untouched (they are the reference, not the mix)
    val corpus = mixedTrain(
        deLeaked.filter(col(SplitCol) === "train"), idCol, langCol, params)
      .unionByName(deLeaked.filter(col(SplitCol) =!= "train"))
      .localCheckpoint()
    core.unpersist()

    // 5: pack the corpus that actually ships
    val packed = corpus.join(
      Packing.packSequences(corpus, idCol, textCol,
        params.curation.packBudget, params.curation.packShards),
      Seq(idCol))
      .localCheckpoint()

    // 6: ship — data + manifest in one call, data card next to them;
    // both read pins, so neither recomputes the curation lineage.
    Manifest.writeWithManifest(
      packed, path, SplitCol, Seq(idCol, textCol), length(col(textCol)))
    TextAnalysis.dataCard(corpus, textCol, langCol)
      .write.mode("overwrite").parquet(s"$path/card")

    ReleaseResult(
      packed,
      spark.read.parquet(s"$path/manifest"),
      spark.read.parquet(s"$path/card"),
      path,
      Seq(corpus, packed))
  }

  /** Standing artifacts of an INCREMENTAL release (T84, r11) — the
    * nightly twin of [[build]]: `index` the LSH dedup corpus (grows by
    * [[Curation.curateIncremental]]'s append), `evalGrams` the
    * held-out gram artifact ([[Contamination.evalGramIndex]] family),
    * `manifest` and `cardIndex` the delivery accounting
    * ([[Manifest.merge]] / [[graft.operators.TextAnalysis.dataCardAppend]]
    * — both exactly mergeable, so per-turn maintenance is O(batch)).
    * All four are materialized (severed from the paths they were
    * loaded from) so the next turn can overwrite the on-disk artifact
    * it was derived from.
    */
  final case class IncrementalRelease(
      path: String,
      index: DataFrame,
      evalGrams: DataFrame,
      manifest: DataFrame,
      cardIndex: DataFrame) {
    /** Release the four pins (each a `localCheckpoint`, which
      * `DataFrame.unpersist` alone would miss).
      */
    def unpersist(): Unit =
      Seq(index, evalGrams, manifest, cardIndex).foreach(graft.Pins.release)
  }

  private def writeArtifacts(
      path: String,
      manifest: DataFrame,
      evalGrams: DataFrame,
      cardIndex: DataFrame,
      langCol: String): (DataFrame, DataFrame, DataFrame) = {
    // sever BEFORE overwriting: each new artifact frame is derived from
    // the parquet dir it is about to replace — a lazy overwrite would
    // delete its own input mid-plan. localCheckpoint materializes the
    // (dimension / gram-set / vocabulary-sized) artifact first.
    //
    // The three artifacts are INDEPENDENT subtrees over the same cached
    // inputs writing to three distinct directories, so each
    // checkpoint+write pair runs on its own driver thread (r15, guide
    // §2.6: actions are only sequential because the driver calls them
    // sequentially — one artifact's job tail backfills the others'
    // task slots). Per-artifact ordering (checkpoint, then write, then
    // the card derived from the checkpointed cardix) is preserved
    // inside each thread. A failed artifact does NOT stop the other
    // two: DriverThreads.all returns only after all three threads have
    // finished, then rethrows the first failure with the rest
    // suppressed — so no overwrite outlives the call, but the artifacts
    // that did succeed are the new turn's while the failed one is left
    // as its aborted write leaves it.
    val Seq(m, g, c) = DriverThreads.all(Seq(
      () => {
        val m = manifest.localCheckpoint()
        m.write.mode("overwrite").parquet(s"$path/manifest"); m
      },
      () => {
        val g = evalGrams.localCheckpoint()
        g.write.mode("overwrite").parquet(s"$path/evalgrams"); g
      },
      () => {
        val c = cardIndex.localCheckpoint()
        c.write.mode("overwrite").parquet(s"$path/cardix")
        TextAnalysis.dataCardOf(c, langCol)
          .write.mode("overwrite").parquet(s"$path/card")
        c
      }))
    (m, g, c)
  }

  /** First turn of an incremental release: the [[build]] stages minus
    * mix and pack — curation core, split pinning, in-corpus de-leak —
    * shipping the ANNOTATED, UNPACKED docs. Mixing and packing are
    * deliberately export-time steps for an incremental release
    * (temperature weights are corpus-level statistics and pack spans
    * are cumulative shard offsets; neither can be appended
    * consistently — see [[exportPacked]]). Besides the data + manifest
    * + card, the turn persists the two gate artifacts tomorrow's turn
    * probes: the LSH dedup index over the decontaminated canonical
    * corpus (leak-dropped docs INCLUDED — a near-dup of a leaky doc is
    * cheaper to drop at dedup than to re-judge at the gram gate) and
    * the held-out gram artifact.
    *
    * Threads: the index build reads only the pinned curated
    * corpus, so it runs on one driver thread while the ship chain
    * (split, de-leak, data write, then the artifacts) runs on another;
    * the call returns once both have finished. Failure: the index is
    * never written, so a failed build still leaves the release the
    * ship chain wrote complete (data, manifest, card, eval grams) and
    * reopenable with [[reopenIncremental]], which rebuilds the index
    * from the shipped data; the build's error is rethrown after the
    * ship chain ends. A failed ship chain leaves what its failed write
    * left, as a one-thread turn would.
    */
  def initIncremental(
      docs: DataFrame,
      bench: DataFrame,
      idCol: String,
      textCol: String,
      langCol: String,
      path: String,
      params: ReleaseParams = ReleaseParams()): IncrementalRelease = {
    import org.apache.spark.storage.StorageLevel
    require(!docs.columns.contains(SplitCol),
      s"input already has a '$SplitCol' column — the release assigns its own")
    val core = Curation.curateCore(
      scrubbed(docs, textCol, params), bench, idCol, textCol, params.curation)
    // the curated corpus is already a pin, severed from its curation
    // lineage: it is referenced five more times below (two split
    // filters, both sides of the leak-gram join, the index build), and a
    // live lineage would be re-analysed at each reference (see the index
    // comment below for the measured cost)
    val corpus = core.docs
    // The index build reads only `corpus`, so it runs on its own driver
    // thread beside the ship chain (split -> de-leak -> data write ->
    // artifacts); see the class doc for the failure semantics.
    val (index, (m, g, c)) = DriverThreads.both(
      () => dedupIndex(corpus, idCol, textCol, params),
      () => {
        val split = Sampling.assignSplit(
          corpus, idCol, params.trainFrac, params.valFrac, SplitCol)
        val shipped = Contamination.removeSplitLeakage(
            split, idCol, textCol, SplitCol,
            n = params.leakageN, maxOverlapNgrams = params.maxOverlapNgrams,
            broadcastBench = params.broadcastLeakGrams)
          .persist(StorageLevel.MEMORY_AND_DISK)
        shipped.write.mode("overwrite").partitionBy(SplitCol).parquet(s"$path/data")
        val artifacts = writeArtifacts(path,
          Manifest.build(shipped, SplitCol, Seq(idCol, textCol), length(col(textCol))),
          Contamination.evalGramIndex(
            shipped.filter(col(SplitCol) =!= "train"), textCol, params.leakageN),
          TextAnalysis.dataCardIndex(shipped, textCol, langCol),
          langCol)
        shipped.unpersist()
        artifacts
      })
    core.unpersist()
    IncrementalRelease(path, index, g, m, c)
  }

  /** One nightly turn: curate the batch against the standing index
    * ([[Curation.curateIncremental]] — first-arrived across turns),
    * pin splits with the SAME md5 rule (membership is a pure function
    * of the id, so turns agree by construction), grow the held-out
    * gram artifact with the batch's own eval docs and THEN gate the
    * batch's train docs against the grown artifact — the append-first
    * order makes one probe cover both batch-vs-standing and
    * batch-vs-batch leakage. Ships by APPENDING into the split
    * partition layout and fold-merges the manifest and card artifacts
    * (exact merges — the manifest certifies everything shipped so far,
    * not just this batch). Everything this turn pays is O(batch) plus
    * artifact-sized merges; the shipped corpus is never rescanned.
    *
    * Already-shipped train docs are never revisited: a new eval doc
    * can make yesterday's train doc retroactively leaky
    * ([[Contamination.removeSplitLeakageAgainst]] doc) — rebuild from
    * [[build]] on the compaction cadence if the corpus needs that
    * guarantee tightened.
    *
    * Threads: the curated batch is computed first, once. Then one
    * driver thread grows and pins the index while another computes the
    * frames the turn ships: split, eval-gram append, de-leak, and the
    * pinned batch. Only after both have succeeded does the turn write:
    * the data append, then the artifacts. Failure: a failed grow or a
    * failed ship-chain frame writes nothing under `path`, so the
    * release and `state` stay as they were; a failed write leaves what
    * that write left, as before.
    */
  def appendTurn(
      state: IncrementalRelease,
      batch: DataFrame,
      bench: DataFrame,
      idCol: String,
      textCol: String,
      langCol: String,
      params: ReleaseParams = ReleaseParams()): (IncrementalRelease, DataFrame) = {
    require(!batch.columns.contains(SplitCol),
      s"input already has a '$SplitCol' column — the release assigns its own")
    // each artifact's recipe is read once per turn and carried
    val recipe = LshIndex.readMeta(state.index)
    Contamination.requireHashedArtifact(state.evalGrams)
    val n = Contamination.evalGramMeta(state.evalGrams)
    val turn = Curation.incrementalTurn(
      state.index, recipe, scrubbed(batch, textCol, params), bench,
      idCol, textCol, langCol, params.curation)
    // Only the next turn's state needs the grown index, so it grows and
    // is pinned on its own driver thread while the ship chain computes
    // its frames. Nothing is written under `path` until both are done.
    val (kept, (grownGrams, shipped)) = DriverThreads.both(
      () => {
        // sever the grown index exactly as [[initIncremental]] severs
        // the built one: each turn would otherwise stack its
        // batch-curation lineage onto the standing index's plan, and
        // after N turns every index reference re-analyzes N turns of
        // composition on the driver. The grow step already materialized
        // the grown data eagerly; the checkpoint copies those blocks
        // once and truncates the plan.
        val grown = turn.grow()
        val kept = grown.localCheckpoint()
        grown.unpersist()
        kept
      },
      () => {
        val split = Sampling.assignSplit(
          turn.curated, idCol, params.trainFrac, params.valFrac, SplitCol)
        val evalSide = split.filter(col(SplitCol) =!= "train")
        val grownGrams =
          Contamination.evalGramAppendWith(state.evalGrams, n, evalSide, textCol)
        // gate needs the artifact usable twice (grow + probe) —
        // checkpoint happens inside writeArtifacts; probe against the
        // lazy frame here
        val shippedTrain = Contamination.removeSplitLeakageAgainstWith(
          grownGrams, n, split.filter(col(SplitCol) === "train"), idCol, textCol,
          params.maxOverlapNgrams, params.broadcastLeakGrams)
        // MATERIALIZE the batch BEFORE appending into `path/data`,
        // severed from any lineage that might read that very directory
        // (a state whose index was rebuilt from the shipped corpus —
        // [[reopenIncremental]]). The append's own refreshByPath
        // invalidates every cache whose plan references the written
        // path, so a mere persist would silently RECOMPUTE over a
        // listing that now includes the rows just appended — every
        // batch doc dedups against itself and the manifest accounts an
        // empty batch while the data grew. The eager local checkpoint
        // pins content at pre-append state and guarantees the manifest
        // folds exactly the bytes written; O(batch) storage, the same
        // class as the write itself.
        (grownGrams, shippedTrain.unionByName(evalSide).localCheckpoint())
      })
    shipped.write.mode("append").partitionBy(SplitCol).parquet(s"${state.path}/data")
    val (m, g, c) = writeArtifacts(state.path,
      Manifest.merge(Seq(state.manifest,
        Manifest.build(shipped, SplitCol, Seq(idCol, textCol), length(col(textCol)))),
        SplitCol),
      grownGrams,
      TextAnalysis.dataCardAppend(state.cardIndex, shipped, textCol, langCol),
      langCol)
    turn.unpersist()
    (IncrementalRelease(state.path, kept, g, m, c), shipped)
  }

  /** Fresh-session resume of an incremental release — the durability
    * path: manifest, eval-gram and card artifacts reopen from their
    * parquet homes verbatim (each is exactly what the last turn wrote);
    * the LSH dedup index is NOT stored per turn (a corpus-sized write
    * per O(batch) turn would defeat the design), so a restart REBUILDS
    * it from the verified shipped corpus — exactly the compaction
    * [[graft.operators.LshIndex.append]] prescribes on its own cadence
    * anyway (exact counts, fresh stop set). Honest drift vs the
    * in-memory grow-as-you-go index: leak-dropped and sample-dropped
    * docs were in the live suppressor but are not in the shipped
    * corpus, so their FUTURE near-dups re-enter dedup — and are then
    * re-judged by the same quality/decontamination/leak gates that
    * dropped their originals (spec-pinned on the leak case).
    */
  def reopenIncremental(
      spark: SparkSession,
      path: String,
      idCol: String,
      textCol: String,
      params: ReleaseParams = ReleaseParams()): IncrementalRelease = {
    val data = open(spark, path, idCol, textCol)
    IncrementalRelease(
      path,
      dedupIndex(data, idCol, textCol, params),
      reopenEvalGrams(spark, path, data, textCol),
      spark.read.parquet(s"$path/manifest").localCheckpoint(),
      spark.read.parquet(s"$path/cardix").localCheckpoint())
  }

  /** The eval-gram artifact, reopened — with the pre-r12 migration
    * (r13, ADVICE r12): legacy artifacts stored RAW gram text (`gram`
    * column); they cannot be probed by hash, so reopening one rebuilds
    * the hashed artifact from the release's own shipped val/test
    * splits — which contain exactly every eval doc that ever grew the
    * legacy artifact (eval rows are the reference: no gate drops them),
    * so the rebuild carries the same gram set, hashed — under the
    * legacy artifact's own frozen width (deliberately NOT
    * `params.leakageN`: the width is the artifact's frozen parameter,
    * read from its meta row — which is why this method takes no params
    * at all), and migrates the release directory so consumers that
    * read `$path/evalgrams` directly ([[retroLeakageReport]]) work
    * before the next turn's writeArtifacts would have persisted it
    * anyway.
    *
    * Crash safety (ADVICE r13 #2): a direct `mode("overwrite")` on the
    * live directory deletes the legacy artifact BEFORE committing its
    * replacement — a crash mid-write leaves `$path/evalgrams`
    * missing/partial and the release can never reopen again. The
    * migration therefore writes the full rebuilt artifact to a SIBLING
    * directory first and swaps it in with two filesystem metadata ops
    * (delete + rename — rename is atomic on HDFS and POSIX; there is
    * no portable atomic replace-directory, so the vulnerable window is
    * those two metadata ops instead of the whole parquet write, and a
    * crash inside it leaves the complete artifact recoverable at the
    * sibling path). Concurrency is NOT defended: two simultaneous
    * reopens of the same legacy release race on the sibling directory —
    * one-owner-per-release is the incremental design's standing
    * contract (every turn already rewrites `$path`'s artifacts in
    * place).
    */
  private def reopenEvalGrams(
      spark: SparkSession,
      path: String,
      data: DataFrame,
      textCol: String): DataFrame = {
    val stored = spark.read.parquet(s"$path/evalgrams")
    if (stored.columns.contains("gram_hash")) stored.localCheckpoint()
    else {
      val n = Contamination.evalGramMeta(stored) // legacy meta row carries n
      val rebuilt = Contamination.evalGramIndex(
        data.filter(col(SplitCol) =!= "train"), textCol, n).localCheckpoint()
      val target = new org.apache.hadoop.fs.Path(s"$path/evalgrams")
      val staging = new org.apache.hadoop.fs.Path(s"$path/evalgrams__migrating")
      val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
      rebuilt.write.mode("overwrite").parquet(staging.toString)
      fs.delete(target, true)
      require(fs.rename(staging, target),
        s"legacy eval-gram migration: rename $staging -> $target failed; " +
          "the complete rebuilt artifact is at the staging path")
      rebuilt
    }
  }

  /** Export-time tail of the incremental release: reopen VERIFIED,
    * apply the training mix over the train slice and pack the corpus
    * that ships — the [[build]] stages 4-5 the nightly turns defer
    * (corpus-level statistics, computed once over the accumulated
    * release).
    */
  def exportPacked(
      spark: SparkSession,
      path: String,
      idCol: String,
      textCol: String,
      langCol: String,
      params: ReleaseParams = ReleaseParams()): DataFrame = {
    val corpus = open(spark, path, idCol, textCol)
    val mixed = mixedTrain(
        corpus.filter(col(SplitCol) === "train"), idCol, langCol, params)
      .unionByName(corpus.filter(col(SplitCol) =!= "train"))
    mixed.join(
      Packing.packSequences(mixed, idCol, textCol,
        params.curation.packBudget, params.curation.packShards),
      Seq(idCol))
  }

  /** Retroactive-leakage MONITOR (T89, r12 — VERDICT r11 #4): the
    * incremental release never revisits shipped train docs, so a NEW
    * eval doc can make an already-shipped train doc retroactively
    * leaky ([[Contamination.removeSplitLeakageAgainst]] doc). This is
    * the T49 monitor discipline for that gap: probe the SHIPPED train
    * corpus (reopened VERIFIED) against the grown eval-gram artifact
    * and report every train doc now over the bar — a REPORT, never a
    * gate (run it on the nightly cadence; [[rebuildIfLeaky]] is the
    * closed loop). Cost: one shipped-corpus scan + the artifact-sized
    * gram join — the same shape as one turn's gate, pointed backward.
    *
    * @return one row per leaky SHIPPED train doc: idCol,
    *         `overlap_ngrams` (> maxOverlapNgrams by construction).
    */
  def retroLeakageReport(
      spark: SparkSession,
      path: String,
      idCol: String,
      textCol: String,
      maxOverlapNgrams: Long = 0L,
      broadcastIndex: Boolean = false): DataFrame = {
    val shipped = open(spark, path, idCol, textCol)
    Contamination.overlapAgainst(
        spark.read.parquet(s"$path/evalgrams"),
        shipped.filter(col(SplitCol) === "train"), idCol, textCol, broadcastIndex)
      .filter(col("overlap_ngrams") > maxOverlapNgrams)
  }

  /** The monitor's closed remedy loop (the [[graft.operators.LshIndex]]
    * `rebuildIfStale` discipline): if [[retroLeakageReport]] is empty,
    * this is exactly [[reopenIncremental]]; otherwise REWRITE the
    * release without the retroactively-leaky train docs — data,
    * manifest, card — and rebuild the dedup index from the compacted
    * corpus. The eval-gram artifact is UNCHANGED (eval docs are the
    * reference, not the suspect). The rewrite is the compaction the
    * incremental design already prescribes on restart, with the leak
    * dropped on the way through; everything it pays is one shipped-
    * corpus scan + rewrite, which is the honest price of retroactively
    * tightening a first-arrived guarantee.
    *
    * @return the fresh state over the compacted release, and how many
    *         shipped train docs were dropped.
    */
  def rebuildIfLeaky(
      spark: SparkSession,
      path: String,
      idCol: String,
      textCol: String,
      langCol: String,
      params: ReleaseParams = ReleaseParams()): (IncrementalRelease, Long) = {
    val leaky = retroLeakageReport(spark, path, idCol, textCol,
        params.maxOverlapNgrams, params.broadcastLeakGrams)
      .select(col(idCol).as("__leak_id"))
      .localCheckpoint() // consumed twice (count + anti join) and must
                         // not re-read path/data mid-rewrite
    val nLeaky = leaky.count()
    if (nLeaky == 0L) (reopenIncremental(spark, path, idCol, textCol, params), 0L)
    else {
      val shipped = open(spark, path, idCol, textCol)
      // null-safe anti join (the J6 convention): a null-id leaky group
      // must drop its shipped rows, not vanish from the join
      val keep = shipped
        .join(leaky, shipped(idCol) <=> col("__leak_id"), "left_anti")
        .localCheckpoint() // sever from path/data BEFORE the overwrite
      keep.write.mode("overwrite").partitionBy(SplitCol).parquet(s"$path/data")
      val (m, g, c) = writeArtifacts(path,
        Manifest.build(keep, SplitCol, Seq(idCol, textCol), length(col(textCol))),
        spark.read.parquet(s"$path/evalgrams"),
        TextAnalysis.dataCardIndex(keep, textCol, langCol),
        langCol)
      (IncrementalRelease(path, dedupIndex(keep, idCol, textCol, params), g, m, c), nLeaky)
    }
  }

  /** The dedup index over `docs` under the release's curation recipe,
    * held as an eager local checkpoint that SEVERS it from `docs`'
    * lineage, for two reasons:
    *   - The standing index is referenced many times by every future
    *     turn (meta read, stop set, bucket probe, doc join, append
    *     union), and Spark embeds the full LOGICAL plan at each
    *     reference BEFORE cache substitution. With a live
    *     build-over-curateCore lineage the driver re-pays ANALYSIS of
    *     that whole tree per reference, multiplicatively through the
    *     turn's composition (measured: a 250-doc appendTurn spent ~2 min
    *     in driver planning with zero Spark jobs >0.3 s; the severed
    *     twin plans in seconds).
    *   - An index built over `path/data` must not read it again: the
    *     next [[appendTurn]] APPENDS there, and the write's
    *     refreshByPath would invalidate a merely-persisted index plan,
    *     recomputing it over a listing that includes the new batch, so
    *     the batch dedups against itself.
    * The checkpoint stores exactly what the persist already holds; only
    * the plan is truncated.
    */
  private def dedupIndex(docs: DataFrame, idCol: String, textCol: String,
      params: ReleaseParams): DataFrame = {
    val built = LshIndex.build(docs, idCol, textCol,
      n = params.curation.shingleN, portableHash = params.curation.portableHash,
      minDocFreq = params.curation.minDocFreq)
    val index = built.localCheckpoint()
    built.unpersist()
    index
  }

  /** Consumer-side reopen: [[Manifest.readVerified]] under the
    * release's hash recipe — one verification scan at ingest, failing
    * typed and naming exactly the split partitions to re-pull.
    */
  def open(
      spark: SparkSession, path: String, idCol: String, textCol: String): DataFrame =
    Manifest.readVerified(
      spark, path, SplitCol, Seq(idCol, textCol), length(col(textCol)))

  /** The published release report, reopened. */
  def openCard(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(s"$path/card")
}
