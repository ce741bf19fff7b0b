package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Train/eval contamination detection: how many of a training document's
  * character n-grams appear anywhere in a held-out benchmark corpus.
  * This is the decontamination filter every LLM data pipeline runs before
  * training (GPT-3 appendix C / PaLM style: 13-gram overlap), expressed
  * as one broadcast join.
  *
  * Scale shape: benchmarks are tiny next to the corpus (MBs vs 100 TB),
  * so the benchmark's distinct n-gram set is collected into a broadcast
  * hash relation and the training side streams through it map-side —
  * no shuffle of the big side. Set `broadcastBench = false` only if the
  * benchmark side genuinely exceeds broadcast size; the join then
  * becomes a regular shuffled hash join on the n-gram key.
  */
object Contamination {

  /** Per-training-doc overlap stats against `bench`.
    *
    * @return one row per `train` doc: idCol, `total_ngrams` (distinct
    *         n-grams in the doc), `overlap_ngrams` (of those, how many
    *         occur in any benchmark doc), `contamination` (ratio, 0.0
    *         for gram-less docs).
    */
  def ngramContamination(
      train: DataFrame,
      bench: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      broadcastBench: Boolean = true): DataFrame = {
    // Kernel form: this runs once per row over the full 100-TB corpus,
    // where the interpreted-HOF expression form is a linear CPU tax.
    val grams = TextDedup.shinglesKernel(col(textCol), n)
    val benchGrams =
      if (broadcastBench)
        broadcast(bench.select(explode(grams).as("__g")).distinct())
      else {
        // Shuffled path, skew-eligible shape (r11): boilerplate grams
        // are Zipfian, so at scale a hot gram concentrates one reducer
        // of the gram join — the remedy is AQE's OptimizeSkewedJoin,
        // but that rule only rewrites a join whose children are bare
        // Sort-over-shuffle-stage shapes. A plain `.distinct()` here
        // put its FINAL aggregate between the exchange and the join
        // (its hash(__g) output already satisfied the join's
        // distribution), making the join skew-INELIGIBLE exactly in
        // the shuffled case that needs it. Grouping the distinct by
        // (__g, crc32(__g)) keeps the same gram set (the second key is
        // a function of the first) while its hash(__g, crc32) output
        // no longer satisfies hash(__g) — EnsureRequirements then
        // inserts its own exchange ABOVE the aggregate, restoring the
        // splittable shape. Price: one extra exchange of the DISTINCT
        // eval gram set (the minimal side); buys: the dominant
        // exploded-train side becomes AQE-skew-splittable
        // (spec-pinned, planted-hot-gram corpus).
        // r15: the r14 Bloom prefilter here (eager benchGrams.count() +
        // stat.bloomFilter + interpreted-UDF scan filter + a second
        // size(grams) totals pass) measured 1.3-3x SLOWER on every
        // contamination-family query — two extra driver-blocking
        // actions and a doubled shingle kernel swamped the shuffle
        // saving at every tested scale. Reverted to this one-pass
        // left-join; Spark 4.1's runtime bloom-filter join injection
        // (spark.sql.optimizer.runtime.bloomFilter.enabled, on by
        // default) already covers the scan-side prune when the
        // creation side is small enough to be worth it.
        bench.select(explode(grams).as("__g"))
          .select(col("__g"), crc32(col("__g")).as("__gsalt"))
          .distinct()
          .select("__g")
      }
    // One scan AND one kernel evaluation per training row: explode the
    // gram set (explode_outer keeps gram-less docs as a null row), mark
    // benchmark hits with a left join, and recover BOTH counts in the
    // fold-back aggregate — count(__g) skips the null row, so it equals
    // the doc's distinct-gram total without a second size(grams)
    // evaluation (Project and Generate don't share subexpressions, so
    // the earlier size+explode shape shingled every doc twice).
    train
      .select(col(idCol), explode_outer(grams).as("__g"))
      .join(benchGrams.withColumn("__hit", lit(1L)), Seq("__g"), "left")
      .groupBy(col(idCol))
      .agg(
        count(col("__g")).as("total_ngrams"),
        sum(coalesce(col("__hit"), lit(0L))).as("overlap_ngrams"))
      .select(
        col(idCol),
        col("total_ngrams"),
        col("overlap_ngrams"),
        when(col("total_ngrams") > 0,
          col("overlap_ngrams").cast("double") / col("total_ngrams").cast("double"))
          .otherwise(lit(0.0)).as("contamination"))
  }

  /** Split-leakage removal — [[ngramContamination]] pointed at the
    * pipeline's OWN eval splits instead of an external benchmark: after
    * [[Sampling.assignSplit]] pins train/val/test membership, any TRAIN
    * document sharing more than `maxOverlapNgrams` character n-grams
    * with the val/test side is dropped, so metrics computed on the
    * held-out splits cannot be inflated by memorized near-copies that
    * exact dedup missed (the leakage direction dedup does not cover:
    * the copies landed in DIFFERENT splits). Eval rows pass untouched —
    * they are the reference, not the suspect — and train rows with no
    * grams (short docs) are leak-free by definition.
    *
    * Scale shape: machinery inherited from [[ngramContamination]], but
    * the DEFAULT join flips to the shuffled hash join
    * (`broadcastBench = false`) — an external benchmark is MBs, while
    * the eval side here is a fixed FRACTION of the corpus (~20% of all
    * grams at 80/10/10), which at production scale is nowhere near
    * broadcastable; a default that OOMs the driver at exactly the
    * scale the operator exists for would be a trap. Opt back into the
    * broadcast for genuinely small eval sets. Then one null-safe
    * left-semi join on the id brings survivors back. Deterministic end
    * to end: split membership is the md5 rule, the overlap count is
    * exact. Rows with a NULL split are not-train, so they ride the
    * eval side untouched (dropping them would silently shrink the
    * corpus on a metadata defect this operator is not about).
    *
    * NULL-id train rows: [[ngramContamination]] groups them into ONE
    * null-id stats row, and the survivor join is null-safe (`<=>`), so
    * they are kept or dropped TOGETHER by that merged pseudo-doc's
    * overlap. Sound in the only direction that matters: each member
    * doc's individual overlap is bounded above by the merged overlap
    * (its grams are a subset of the union), so a passing null group
    * certifies every member individually clean; a failing one drops
    * docs that may individually be clean — decontamination errs toward
    * dropping when identity is missing (a plain equality join would
    * instead vanish them silently, r10 ADVICE).
    */
  def removeSplitLeakage(
      df: DataFrame,
      idCol: String,
      textCol: String,
      splitCol: String,
      trainSplit: String = "train",
      n: Int = 13,
      maxOverlapNgrams: Long = 0L,
      broadcastBench: Boolean = false): DataFrame = {
    require(df.columns.contains(splitCol), s"missing split column: $splitCol")
    require(maxOverlapNgrams >= 0, s"maxOverlapNgrams must be >= 0: $maxOverlapNgrams")
    val train = df.filter(col(splitCol) === trainSplit)
    val eval = df.filter(col(splitCol) =!= trainSplit || col(splitCol).isNull)
    val stats = ngramContamination(
      train, eval.select(col(idCol), col(textCol)), idCol, textCol, n, broadcastBench)
    val okIds = stats.filter(col("overlap_ngrams") <= maxOverlapNgrams)
      .select(col(idCol).as("__ok_id"))
    val clean = train.join(okIds, train(idCol) <=> col("__ok_id"), "left_semi")
    clean.unionByName(eval)
  }

  /** SEMANTIC decontamination — the n-gram test's embedding-space twin
    * (the Phi/LLaMA-3 style): a training doc is contaminated when its
    * embedding lies within cosine `threshold` of ANY benchmark
    * embedding, catching the paraphrases and translations that share
    * no 13-gram with the eval set.
    *
    * Scale shape: the benchmark set is SMALL BY DEFINITION (eval
    * suites are thousands of rows, bounded by `maxBenchVectors` with a
    * typed error) — its vectors collect once to the driver and ride
    * the task closure exactly like [[QualityClassifier]]'s weight
    * vector, so scoring is a zero-join, zero-shuffle per-row max-fold
    * on the corpus scan. Per-row cost is |bench| dot products — the
    * honest brute-force bill; a benchmark too large for that belongs
    * in an [[IvfIndex]] probe, not here.
    *
    * Dot products accumulate in index order and the max is
    * order-independent, so an external engine replays `max_cos`
    * bit-for-bit (the q26 association discipline). Null/empty train
    * embeddings cannot match: `max_cos` null, `contaminated` 0.
    *
    * @return one row per `train` doc: idCol, `max_cos`,
    *         `contaminated` (1 when max_cos >= threshold).
    */
  /** Benchmark embedding set, collected driver-side under the
    * closure-broadcast contract (eval suites are model-sized; typed
    * error past `maxBenchVectors`). Shared with the streaming gate
    * ([[graft.streaming.DecontaminationGate]]) so both forms fold
    * against one artifact shape.
    */
  def benchEmbeddingSet(
      bench: DataFrame,
      vecCol: String,
      maxBenchVectors: Int = 100000): Array[Array[Double]] = {
    val benchVecs: Array[Array[Double]] = bench
      .select(Similarity.asDouble(col(vecCol)).as("__v"))
      .filter(col("__v").isNotNull && size(col("__v")) > 0)
      .limit(maxBenchVectors + 1)
      .collect().map(_.getSeq[Double](0).toArray)
    require(benchVecs.length <= maxBenchVectors,
      s"benchmark side exceeds $maxBenchVectors vectors — a benchmark this " +
        "large should be served by an IvfIndex probe, not a broadcast fold")
    benchVecs
  }

  /** The shared max-cosine kernel: one pass per row, dots accumulated
    * in index order, max order-independent (externally replayable).
    * Dim-mismatched bench vectors contribute nothing; null/empty input
    * folds to null.
    */
  private[graft] def maxCosUdf(benchVecs: Array[Array[Double]])
      : org.apache.spark.sql.expressions.UserDefinedFunction = {
    val benchNorms: Array[Double] = benchVecs.map { b =>
      var s = 0.0; var i = 0
      while (i < b.length) { s += b(i) * b(i); i += 1 }
      math.sqrt(s)
    }
    udf((v: Array[Double]) => {
      if (v == null || v.isEmpty) null.asInstanceOf[java.lang.Double]
      else {
        var vn = 0.0
        var i = 0
        while (i < v.length) { vn += v(i) * v(i); i += 1 }
        val nv = math.sqrt(vn)
        var best = Double.NegativeInfinity
        var j = 0
        while (j < benchVecs.length) {
          val b = benchVecs(j)
          if (b.length == v.length) {
            var ip = 0.0
            var k = 0
            while (k < b.length) { ip += v(k) * b(k); k += 1 }
            val denom = nv * benchNorms(j)
            val c = if (denom > 0) ip / denom else 0.0
            if (c > best) best = c
          }
          j += 1
        }
        if (best == Double.NegativeInfinity) null.asInstanceOf[java.lang.Double]
        else java.lang.Double.valueOf(best)
      }
    })
  }

  /** `kind` of eval-gram-index meta / gram rows (T83). */
  val EvalGramMetaKind = 0
  val EvalGramKind = 1

  /** Persistable eval-gram artifact (T83, r11; HASHED r12) — the index
    * form of [[removeSplitLeakage]]'s eval side, for the INCREMENTAL
    * release turn: the one-shot operator re-derives the val/test gram
    * set from the whole corpus every run, which a nightly pipeline
    * cannot pay. This artifact is the distinct n-gram set of everything
    * held out so far, kind-discriminated like the rest of the index
    * family (one meta row pinning the shingle width `n`; one row per
    * gram), exact and exactly mergeable ([[evalGramAppend]] is a
    * union-distinct — no approximation, nothing frozen, no rescan), so
    * per-batch maintenance is O(batch grams) + a gram-set-sized
    * distinct.
    *
    * Gram rows store [[TextDedup.md5TokenHash64]] of the gram, NOT the
    * gram text (r11 VERDICT #2): the raw form wrote verbatim 13-char
    * fragments of HELD-OUT documents to disk — 2-3x the bytes AND
    * exactly the eval-text leakage the T86 scrub discipline exists to
    * avoid shipping. The documented trade: a 64-bit collision can only
    * INFLATE a train doc's overlap count (a false hit), never hide
    * leakage — the gate errs toward dropping, the decontamination
    * direction — and at 10^9 distinct grams the expected colliding
    * pairs are ~0.03. DuckDB replays the hash via the md5 recipe in
    * [[TextDedup.md5TokenHash64]]'s doc, so the artifact stays
    * cross-engine replayable. Artifact size: 8 bytes per distinct gram
    * of the HELD-OUT fraction only (val/test are ~20% of docs, and
    * gram sets saturate sublinearly); measured record in SCALE.md
    * `evalgrams`.
    */
  def evalGramIndex(evalDocs: DataFrame, textCol: String, n: Int = 13): DataFrame = {
    require(n >= 1, s"n must be >= 1: $n")
    val spark = evalDocs.sparkSession
    val meta = spark.range(1).select(
      lit(EvalGramMetaKind).as("kind"),
      lit(null).cast("long").as("gram_hash"),
      lit(n).as("n"))
    // hash BEFORE distinct: artifact rows must be unique per HASH (a
    // duplicate hash row would double-count every probe hit), and the
    // distinct exchange moves 8-byte longs instead of gram strings
    val grams = evalDocs
      .select(explode(TextDedup.shinglesKernel(col(textCol), n)).as("gram"))
      .select(TextDedup.md5TokenHash64(col("gram")).as("gram_hash"))
      .distinct()
      .select(lit(EvalGramKind).as("kind"), col("gram_hash"), lit(null).cast("int").as("n"))
    meta.unionByName(grams)
  }

  /** Typed schema guard: pre-r12 artifacts stored raw gram text; they
    * cannot be probed by hash and must be rebuilt with [[evalGramIndex]]
    * over the held-out docs. [[graft.operators.Release.reopenIncremental]]
    * does exactly that automatically (r13): it detects the legacy
    * `gram` schema on reopen, rebuilds the hashed artifact from the
    * release's shipped val/test splits under the legacy width, and
    * migrates the release directory in place — so this guard only ever
    * fires on a legacy artifact probed OUTSIDE the release lifecycle.
    */
  private[operators] def requireHashedArtifact(index: DataFrame): Unit =
    require(index.columns.contains("gram_hash"),
      "eval-gram artifact has no 'gram_hash' column — artifacts store md5-64 " +
        "gram hashes (r12); rebuild the artifact with evalGramIndex (a pre-r12 " +
        "raw-gram artifact cannot be probed by hash)")

  /** The artifact's frozen shingle width. */
  def evalGramMeta(index: DataFrame): Int = {
    val rows = index.filter(col("kind") === EvalGramMetaKind).select("n").collect()
    require(rows.length == 1,
      s"eval-gram index must carry exactly one meta row, found ${rows.length}")
    rows.head.getInt(0)
  }

  /** Grow the artifact with a new batch's held-out docs: union-distinct
    * of the gram rows under the frozen width — exact (append == rebuild
    * over the union, spec-pinned), O(batch grams) + a gram-set-sized
    * distinct exchange.
    */
  def evalGramAppend(index: DataFrame, newEval: DataFrame, textCol: String): DataFrame = {
    requireHashedArtifact(index)
    evalGramAppendWith(index, evalGramMeta(index), newEval, textCol)
  }

  /** [[evalGramAppend]] under the width `n` already read from `index`. */
  private[operators] def evalGramAppendWith(
      index: DataFrame, n: Int, newEval: DataFrame, textCol: String): DataFrame = {
    val spark = index.sparkSession
    val meta = spark.range(1).select(
      lit(EvalGramMetaKind).as("kind"),
      lit(null).cast("long").as("gram_hash"),
      lit(n).as("n"))
    val grams = index.filter(col("kind") === EvalGramKind).select(col("gram_hash"))
      .unionByName(newEval
        .select(explode(TextDedup.shinglesKernel(col(textCol), n)).as("gram"))
        .select(TextDedup.md5TokenHash64(col("gram")).as("gram_hash")))
      .distinct()
      .select(lit(EvalGramKind).as("kind"), col("gram_hash"), lit(null).cast("int").as("n"))
    meta.unionByName(grams)
  }

  /** [[removeSplitLeakage]]'s gate pointed at the ARTIFACT instead of
    * an in-corpus eval side: drop incoming TRAIN docs sharing more than
    * `maxOverlapNgrams` grams with everything held out so far. The
    * incremental-turn order is append-then-gate — grow the artifact
    * with the batch's own eval docs first, and this one probe covers
    * both batch-vs-standing and batch-vs-batch leakage. Only the batch
    * pays shingling CPU; the artifact side is a pruned columnar scan of
    * already-distinct grams. Same shuffled-join default and
    * AQE-skew-eligible shape as the one-shot operator (the artifact
    * scan arrives bare under its exchange); broadcast opt-in for
    * genuinely small artifacts. Shipped train docs are never revisited
    * (first-arrived discipline): a NEW eval doc can make an
    * already-shipped train doc retroactively leaky — rebuild on the
    * compaction cadence if that matters for the corpus.
    *
    * @return the surviving incoming train docs, columns preserved.
    */
  /** Per-doc overlap counts against the (hashed) artifact — the shared
    * probe of [[removeSplitLeakageAgainst]] and the T89 retroactive
    * monitor: batch grams are hashed with the artifact's own recipe
    * ([[TextDedup.md5TokenHash64]]) and left-joined against the
    * artifact's already-distinct hash rows. The `explode_outer` null
    * row (gram-less doc) hashes to null, which matches nothing — its
    * overlap folds to 0, leak-free by definition.
    *
    * @return one row per `train` doc: idCol, `overlap_ngrams`.
    */
  def overlapAgainst(
      index: DataFrame,
      train: DataFrame,
      idCol: String,
      textCol: String,
      broadcastIndex: Boolean = false): DataFrame = {
    requireHashedArtifact(index)
    overlapAgainstWith(index, evalGramMeta(index), train, idCol, textCol, broadcastIndex)
  }

  /** [[overlapAgainst]] under the width `n` already read from `index`. */
  private def overlapAgainstWith(
      index: DataFrame,
      n: Int,
      train: DataFrame,
      idCol: String,
      textCol: String,
      broadcastIndex: Boolean): DataFrame = {
    // r15: the r14 Bloom prefilter on this probe (eager count() +
    // stat.bloomFilter per call, interpreted-UDF scan filter) measured
    // slower across the whole release family (q111 x0.39, q122 x0.32) —
    // reverted to the one-pass left join below; the runtime bloom-filter
    // join injection covers the scan-side prune where it pays.
    val gramsRaw = index.filter(col("kind") === EvalGramKind)
      .select(col("gram_hash").as("__gh"))
    val evalGrams = if (broadcastIndex) broadcast(gramsRaw) else gramsRaw
    train
      .select(col(idCol),
        explode_outer(TextDedup.shinglesKernel(col(textCol), n)).as("__g"))
      .select(col(idCol), TextDedup.md5TokenHash64(col("__g")).as("__gh"))
      .join(evalGrams.withColumn("__hit", lit(1L)), Seq("__gh"), "left")
      .groupBy(col(idCol))
      .agg(sum(coalesce(col("__hit"), lit(0L))).as("overlap_ngrams"))
  }

  def removeSplitLeakageAgainst(
      index: DataFrame,
      train: DataFrame,
      idCol: String,
      textCol: String,
      maxOverlapNgrams: Long = 0L,
      broadcastIndex: Boolean = false): DataFrame = {
    requireHashedArtifact(index)
    removeSplitLeakageAgainstWith(index, evalGramMeta(index), train, idCol, textCol,
      maxOverlapNgrams, broadcastIndex)
  }

  /** [[removeSplitLeakageAgainst]] under the width `n` already read
    * from `index`.
    */
  private[operators] def removeSplitLeakageAgainstWith(
      index: DataFrame,
      n: Int,
      train: DataFrame,
      idCol: String,
      textCol: String,
      maxOverlapNgrams: Long,
      broadcastIndex: Boolean): DataFrame = {
    require(maxOverlapNgrams >= 0, s"maxOverlapNgrams must be >= 0: $maxOverlapNgrams")
    val okIds = overlapAgainstWith(index, n, train, idCol, textCol, broadcastIndex)
      .filter(col("overlap_ngrams") <= maxOverlapNgrams)
      .select(col(idCol).as("__ok_id"))
    train.join(okIds, train(idCol) <=> col("__ok_id"), "left_semi")
  }

  /** Disagreement audit of the two decontamination modes (T82, r11):
    * per train doc, BOTH the n-gram overlap verdict
    * ([[ngramContamination]] at `maxContamination`) and the semantic
    * verdict ([[embeddingContamination]] at `cosThreshold`), joined on
    * the id with a `status` lattice — `both` / `ngram_only` /
    * `embedding_only` / `clean`. The two single-mode filters each have
    * a blind side (13-grams miss paraphrases and translations;
    * embeddings miss verbatim snippets inside long off-topic docs and
    * anything past the encoder's horizon), so the DISAGREEMENT set is
    * the threshold-tuning surface: `embedding_only` rows are the
    * paraphrase leakage the n-gram bar would ship, `ngram_only` rows
    * the verbatim leakage the cosine bar would ship. A diagnostic
    * REPORT, not a gate — it drops nothing; run it on a sample, read
    * the disagreement rows, then set the two production thresholds.
    *
    * Scale shape: strictly the two audited operators plus one id-grain
    * join — the n-gram side arrives already hash(id)-partitioned from
    * its fold-back aggregate, the embedding side is a zero-shuffle
    * scan, so the join costs one exchange of the scan side. Rows with
    * a NULL id are excluded (the n-gram side folds them into one
    * merged stats row, the embedding side keeps them per-row — no
    * unambiguous pairing exists); fine for a report that gates
    * nothing.
    */
  def decontaminationAudit(
      train: DataFrame,
      bench: DataFrame,
      idCol: String,
      textCol: String,
      vecCol: String,
      n: Int = 13,
      maxContamination: Double = 0.2,
      cosThreshold: Double = 0.25,
      broadcastBench: Boolean = true,
      maxBenchVectors: Int = 100000): DataFrame = {
    val ng = ngramContamination(
      train.select(col(idCol), col(textCol)), bench, idCol, textCol, n, broadcastBench)
    val emb = embeddingContamination(
      train.select(col(idCol), col(vecCol)), bench, idCol, vecCol,
      cosThreshold, maxBenchVectors)
      .withColumnRenamed("contaminated", "embedding_flag")
    ng.join(emb, Seq(idCol))
      .select(
        col(idCol), col("total_ngrams"), col("overlap_ngrams"),
        col("contamination"), col("max_cos"),
        when(col("contamination") > maxContamination, lit(1)).otherwise(lit(0))
          .as("ngram_flag"),
        col("embedding_flag"))
      .withColumn("status",
        when(col("ngram_flag") === 1 && col("embedding_flag") === 1, lit("both"))
          .when(col("ngram_flag") === 1, lit("ngram_only"))
          .when(col("embedding_flag") === 1, lit("embedding_only"))
          .otherwise(lit("clean")))
  }

  /** Contamination EVIDENCE report (T88, r11) — the forensics
    * complement of [[ngramContamination]]: that operator says HOW MUCH
    * of a train doc overlaps the benchmark corpus; this one says WITH
    * WHOM and SHOWS ONE RECEIPT — one row per (train doc, benchmark
    * doc) pair sharing at least `minShared` character n-grams, with
    * the shared-gram count and the lexicographically smallest shared
    * gram as the inspectable sample. This is the surface an incident
    * review ("which benchmark leaked into this shard, and is the match
    * real or boilerplate?") and threshold tuning actually read — the
    * [[decontaminationAudit]] lattice says a doc disagrees, the
    * evidence row says why.
    *
    * A REPORT, never a gate: pairs below `minShared` simply don't
    * appear; no document is dropped anywhere.
    *
    * Exactness: shingles are per-doc DISTINCT (the [[TextDedup]]
    * kernel), so each shared gram contributes exactly one joined row
    * and `count(*)` IS the distinct shared-gram count; `min(gram)`
    * compares UTF-8 bytes in both engines (Spark's UTF8String order ==
    * DuckDB's binary collation). Scale shape inherited from
    * [[ngramContamination]]: benchmark grams broadcast by default
    * (benchmark corpora are MBs); `broadcastBench = false` flips to
    * the shuffled gram join for corpus-sized right sides (the T78
    * default), then one (train, bench)-pair aggregate. Output rows are
    * bounded by `minShared` — raise it when boilerplate grams make the
    * pair set noisy.
    */
  def contaminationEvidence(
      train: DataFrame,
      bench: DataFrame,
      idCol: String,
      benchIdCol: String,
      textCol: String,
      n: Int = 13,
      minShared: Long = 1L,
      broadcastBench: Boolean = true): DataFrame = {
    require(minShared >= 1L, s"minShared must be >= 1: $minShared")
    val grams = TextDedup.shinglesKernel(col(textCol), n)
    val tg = train.select(col(idCol), explode(grams).as("__g"))
    val bgRaw = bench.select(col(benchIdCol).as("__bench_id"), explode(grams).as("__g"))
    val bg = if (broadcastBench) broadcast(bgRaw) else bgRaw
    tg.join(bg, Seq("__g"))
      .groupBy(col(idCol), col("__bench_id"))
      .agg(
        count(lit(1)).as("shared_ngrams"),
        min(col("__g")).as("sample_gram"))
      .filter(col("shared_ngrams") >= minShared)
      .withColumnRenamed("__bench_id", "bench_id")
  }

  def embeddingContamination(
      train: DataFrame,
      bench: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      maxBenchVectors: Int = 100000): DataFrame = {
    require(threshold >= -1.0 && threshold <= 1.0,
      s"threshold must be a cosine in [-1,1]: $threshold")
    val fold = maxCosUdf(benchEmbeddingSet(bench, vecCol, maxBenchVectors))
    train
      .select(col(idCol), fold(Similarity.asDouble(col(vecCol))).as("max_cos"))
      .withColumn("contaminated",
        when(col("max_cos").isNotNull && col("max_cos") >= threshold, lit(1))
          .otherwise(lit(0)))
  }
}
