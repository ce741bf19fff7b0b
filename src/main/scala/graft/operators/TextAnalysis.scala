package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.LowerExpr

/** Text-analysis operators for large-scale training-data pipelines:
  * language-ID, quality scoring, token statistics, document
  * fingerprinting. All pure `functions._` compositions (whole-stage
  * codegen, no UDFs) so they hold up on 100 TB text scans; every formula
  * is also expressible in ANSI SQL for the DuckDB oracle (deterministic
  * left-fold arithmetic, modular hashes instead of float tricks).
  */
object TextAnalysis {

  /** Whitespace tokens of the lowercased text ("" -> empty array). */
  def tokens(c: Column): Column = {
    val t = trim(c)
    when(c.isNull || t === "", array().cast("array<string>"))
      .otherwise(split(LowerExpr(t), "\\s+"))
  }

  /** Overlapping token-window chunking — the SPLIT-side complement of
    * [[Packing.packSequences]] (which concatenates documents into
    * budget chunks): each document becomes one row per window of
    * `size` whitespace tokens starting every `stride` tokens, the
    * long-document preparation step training and retrieval pipelines
    * run before embedding or packing. Case and token content are
    * PRESERVED (unlike [[tokens]], which lowercases for analysis);
    * inter-token whitespace normalizes to one space — the same
    * convention any engine's split/rejoin replays.
    *
    * Windows: starts `0, stride, 2*stride, ...` strictly below the
    * token count; the tail window may be shorter than `size`. With
    * `stride == size` the chunks partition the token stream
    * (reconstruction spec); `stride < size` overlaps by
    * `size - stride` tokens (the context-continuity setting);
    * `stride > size` is allowed and leaves deliberate gaps (window
    * sampling). Null, empty, and whitespace-only texts (ANY
    * whitespace class — empty tokens are filtered, not trimmed)
    * produce NO rows (the family's undecodable-drop contract).
    *
    * Scale shape: one per-row split + a bounded explode — no shuffle,
    * no join; output row count is `ceil(n_tokens / stride)` per doc
    * by construction.
    *
    * Output: `idCol`, `chunk_idx` (0-based), `chunk_text`,
    * `chunk_tokens`.
    */
  def chunkByTokens(
      df: DataFrame,
      idCol: String,
      textCol: String,
      size: Int,
      stride: Int): DataFrame = {
    require(size > 0, s"window size must be positive: $size")
    require(stride > 0, s"stride must be positive: $stride")
    // filter empty tokens instead of trimming: Spark's trim strips
    // 0x20 ONLY, so a leading/trailing \t or \n would otherwise leave
    // empty split tokens (and even empty chunks) — caught by the
    // PropertySpec driver-reference parity over \t\n\r-laden strings
    val toks = org.apache.spark.sql.functions.filter(
      split(col(textCol), "\\s+"), t => t =!= "")
    df.select(col(idCol), toks.as("__toks"))
      .withColumn("__n", org.apache.spark.sql.functions.size(col("__toks")))
      .filter(col("__n") > 0)
      .withColumn("__start",
        explode(sequence(lit(0), col("__n") - 1, lit(stride))))
      .select(
        col(idCol),
        (col("__start") / stride).cast("int").as("chunk_idx"),
        concat_ws(" ", slice(col("__toks"), col("__start") + 1, lit(size)))
          .as("chunk_text"),
        least(lit(size), col("__n") - col("__start")).cast("int")
          .as("chunk_tokens"))
  }

  /** Per-domain corpus DATA CARD — the release-report row a training
    * run publishes next to its [[Manifest]]: document and token
    * counts, distinct-token vocabulary size, type-token ratio, and
    * the corpus quality mass. Complements q55's length profile with
    * the vocabulary axis (the diversity signal token statistics alone
    * miss: two domains with equal token counts can differ 10x in
    * vocabulary).
    *
    * Every fold is chosen for exact cross-engine replay: counts and
    * distinct counts are integers; the quality mass is
    * `sum(round(quality * 1e6))` as a LONG (`quality_micro` — integer
    * sum, order-independent; the consumer divides by `n_docs * 1e6`
    * for the mean) because a raw double sum re-associates across
    * partitions and is not bit-stable. `ttr` is one double division
    * at the very end, rounded — safe, since both operands are exact
    * integers. Ties in the half-up rounding agree across engines for
    * non-negative quality (Spark HALF_UP == DuckDB half-away-from-zero
    * on positives).
    *
    * Plan shape: two dimension-sized aggregates — one over the doc
    * scan (counts + mass), one over the exploded tokens for the
    * distinct count (the honest shuffle: (domain, token) pairs with
    * map-side partial distinct) — joined on the domain. The corpus is
    * scanned twice and shuffled once at token grain; at 100 TB the
    * token-grain distinct is the dominant cost and is exactly what
    * the metric requires (sketches would break the oracle).
    */
  def dataCard(
      df: DataFrame,
      textCol: String,
      domainCol: String): DataFrame = {
    // Two-aggregate shape, kept deliberately (r15): the r14 one-pass
    // posexplode_outer rewrite folded everything into one aggregate,
    // but countDistinct alongside the other aggregates plans an Expand
    // that DOUBLES every exploded token row into the aggregate — the
    // bench measured the whole dataCard family 1.3-1.7x slower at 8
    // and 32 cores. Two dimension-sized aggregates it is.
    val base = df.select(
      col(domainCol),
      tokens(col(textCol)).as("__toks"),
      qualityScore(col(textCol)).as("__q"))
    val totals = base.groupBy(col(domainCol)).agg(
      count(lit(1)).as("n_docs"),
      sum(org.apache.spark.sql.functions.size(col("__toks")).cast("long"))
        .as("n_tokens"),
      sum(round(col("__q") * 1000000).cast("long")).as("quality_micro"))
    val vocab = base
      .select(col(domainCol), explode(col("__toks")).as("__t"))
      .groupBy(col(domainCol))
      .agg(countDistinct(col("__t")).as("distinct_tokens"))
    totals.join(vocab, Seq(domainCol), "left")
      .select(
        col(domainCol), col("n_docs"), col("n_tokens"),
        coalesce(col("distinct_tokens"), lit(0L)).as("distinct_tokens"),
        when(col("n_tokens") > 0,
          round(coalesce(col("distinct_tokens"), lit(0L)) / col("n_tokens"), 6))
          .as("ttr"),
        col("quality_micro"))
  }

  /** `kind` of data-card-index totals rows / vocabulary rows. */
  val CardTotalsKind = 0
  val CardVocabKind = 1

  /** Mergeable data-card artifact (T81) — the [[LineFreqIndex]]
    * discipline applied to the release report: [[dataCard]]'s
    * `distinct_tokens` column is NOT additive (distinct counts don't
    * sum), so unlike the [[Manifest]] a nightly release wanting
    * yesterday's card + today's batch had to rescan the corpus. This
    * index persists what IS additive: one totals row per domain
    * (docs/tokens/quality-micro — plain long sums) plus one row per
    * `(domain, token)` with its occurrence count `tf` — the exact
    * grain the one-shot card's distinct shuffle already pays, kept
    * instead of discarded. Merging sums everything (`tf` adds over
    * DISJOINT batches; the vocab row COUNT per domain is the exact
    * distinct, whatever the tf values), so
    * `dataCardOf(append(index, batch)) == dataCard(corpus ∪ batch)`
    * bit-for-bit — append is O(batch tokens) + a vocabulary-sized
    * merge, never a corpus rescan.
    *
    * Artifact size: vocabulary-sized per domain (Heaps' law — strongly
    * sublinear in the corpus), one Parquet frame, `kind`-discriminated
    * like the rest of the index family. An HLL sketch would shrink it
    * further but break exactness and the cross-engine oracle — the
    * documented trade, decided for exact.
    *
    * Overlap caveat shared with [[Manifest.merge]]: merging indexes of
    * overlapping corpora double-counts totals and tf (exactly as a
    * union would); upstream dedup gates exist to make batches
    * disjoint. The distinct-token count is the one column immune to
    * it.
    */
  def dataCardIndex(
      df: DataFrame,
      textCol: String,
      domainCol: String): DataFrame = {
    val base = df.select(
      col(domainCol).as("domain"),
      tokens(col(textCol)).as("__toks"),
      qualityScore(col(textCol)).as("__q"))
    val totals = base.groupBy(col("domain")).agg(
      count(lit(1)).as("n_docs"),
      sum(org.apache.spark.sql.functions.size(col("__toks")).cast("long"))
        .as("n_tokens"),
      sum(round(col("__q") * 1000000).cast("long")).as("quality_micro"))
      .select(lit(CardTotalsKind).as("kind"), col("domain"),
        lit(null).cast("string").as("token"), col("n_docs"), col("n_tokens"),
        col("quality_micro"), lit(null).cast("long").as("tf"))
    val vocab = base
      .select(col("domain"), explode(col("__toks")).as("token"))
      .groupBy(col("domain"), col("token"))
      .agg(count(lit(1)).as("tf"))
      .select(lit(CardVocabKind).as("kind"), col("domain"), col("token"),
        lit(null).cast("long").as("n_docs"), lit(null).cast("long").as("n_tokens"),
        lit(null).cast("long").as("quality_micro"), col("tf"))
    totals.unionByName(vocab)
  }

  /** Exact fold-merge of data-card indexes (disjoint corpora — the
    * overlap caveat above): totals and tf sum, vocabulary unions.
    */
  def dataCardMerge(indexes: Seq[DataFrame]): DataFrame = {
    require(indexes.nonEmpty, "need at least one data-card index to merge")
    val all = indexes.reduce(_ unionByName _)
    val totals = all.filter(col("kind") === CardTotalsKind)
      .groupBy(col("domain")).agg(
        sum(col("n_docs")).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        sum(col("quality_micro")).as("quality_micro"))
      .select(lit(CardTotalsKind).as("kind"), col("domain"),
        lit(null).cast("string").as("token"), col("n_docs"), col("n_tokens"),
        col("quality_micro"), lit(null).cast("long").as("tf"))
    val vocab = all.filter(col("kind") === CardVocabKind)
      .groupBy(col("domain"), col("token"))
      .agg(sum(col("tf")).as("tf"))
      .select(lit(CardVocabKind).as("kind"), col("domain"), col("token"),
        lit(null).cast("long").as("n_docs"), lit(null).cast("long").as("n_tokens"),
        lit(null).cast("long").as("quality_micro"), col("tf"))
    totals.unionByName(vocab)
  }

  /** One nightly turn of card maintenance: index the batch alone
    * (O(batch)), fold into the standing artifact.
    */
  def dataCardAppend(
      index: DataFrame,
      batch: DataFrame,
      textCol: String,
      domainCol: String): DataFrame =
    dataCardMerge(Seq(index, dataCardIndex(batch, textCol, domainCol)))

  /** The release report from the artifact — same schema and values as
    * [[dataCard]] over the indexed corpus, bit-for-bit (spec-pinned):
    * distinct vocabulary is the per-domain vocab ROW COUNT, everything
    * else reads off the totals row.
    */
  def dataCardOf(index: DataFrame, domainCol: String): DataFrame = {
    val totals = index.filter(col("kind") === CardTotalsKind)
      .select(col("domain").as(domainCol), col("n_docs"), col("n_tokens"),
        col("quality_micro"))
    val vocab = index.filter(col("kind") === CardVocabKind)
      .groupBy(col("domain").as(domainCol))
      .agg(count(lit(1)).as("distinct_tokens"))
    totals.join(vocab, Seq(domainCol), "left")
      .select(
        col(domainCol), col("n_docs"), col("n_tokens"),
        coalesce(col("distinct_tokens"), lit(0L)).as("distinct_tokens"),
        when(col("n_tokens") > 0,
          round(coalesce(col("distinct_tokens"), lit(0L)) / col("n_tokens"), 6))
          .as("ttr"),
        col("quality_micro"))
  }

  /** Release DRIFT report (T85, r11) — the per-domain diff of two
    * [[dataCard]] frames (yesterday's release report vs today's): the
    * QA surface a corpus build reads before shipping, answering "which
    * domains appeared/vanished, whose token share moved, did mean
    * quality drift". Complements [[Manifest.diff]] exactly: the
    * manifest diff certifies WHICH BYTES changed; the card diff reads
    * WHAT THE CHANGE DID to the corpus statistics.
    *
    * Every derived column is chosen for exact cross-engine replay, the
    * [[dataCard]] discipline extended to differences (which can be
    * NEGATIVE — where rounding half-up and half-away-from-zero part
    * ways, so no rounded doubles in any delta):
    *
    *  - count deltas (`docs_delta`, `tokens_delta`, `vocab_delta`) are
    *    plain long subtractions with the absent side coalesced to 0;
    *  - token SHARE is integer micro-units via long division
    *    (`n_tokens * 1000000 / total_tokens`, truncating — both
    *    engines truncate positive long division identically), so
    *    `share_delta_micro` is an exact integer;
    *  - mean quality is `quality_micro / n_docs` (long division of the
    *    card's integer quality mass), so `quality_delta_micro` is an
    *    exact integer;
    *  - `status` is `added` / `removed` / `common` off the join sides.
    *
    * Null domains are real rows in a card (documents with no domain
    * label), so the join is null-safe (`<=>` — the J6 convention).
    *
    * Scale shape: cards are dimension-sized (one row per domain), so
    * every exchange here moves domain-count rows: the two 1-row totals
    * ride [[graft.etl.Pipeline]]'s A1 broadcast-rescale pattern, and
    * the full-outer domain join (which Spark cannot broadcast — full
    * outer needs both sides partitioned) shuffles two card-sized
    * inputs. Nothing corpus-sized is touched; the corpus cost was paid
    * when the cards were built (or folded from the T81 index).
    */
  def dataCardDiff(
      cardA: DataFrame,
      cardB: DataFrame,
      domainCol: String): DataFrame = {
    def withShare(card: DataFrame, side: String): DataFrame = {
      val total = card.agg(
        coalesce(sum(col("n_tokens")), lit(0L)).as(s"__total_$side"))
      card.crossJoin(broadcast(total)).select(
        col(domainCol).as(s"__dom_$side"),
        col("n_docs").as(s"n_docs_$side"),
        col("n_tokens").as(s"n_tokens_$side"),
        col("distinct_tokens").as(s"distinct_tokens_$side"),
        // integral DIV, not `/`: Spark's `/` is double division, and a
        // double quotient cast back to long can truncate one off the
        // exact integer quotient DuckDB's `//` computes. The multiply
        // widens to DECIMAL(38,0) FIRST: `n_tokens * 1000000` in long
        // arithmetic silently wraps past ~9.2e12 tokens per domain
        // (~35 TB of text — inside the design scale), yielding a
        // wrong/negative share (r11 ADVICE). The quotient is <= 1e6, so
        // DIV lands it back in a long; the oracle mirrors the widening
        // via HUGEINT.
        when(col(s"__total_$side") > 0,
          expr(s"CAST(n_tokens AS DECIMAL(38,0)) * 1000000 DIV __total_$side"))
          .as(s"token_share_micro_$side"),
        when(col("n_docs") > 0, expr("quality_micro DIV n_docs"))
          .as(s"mean_quality_micro_$side"))
    }
    val a = withShare(cardA, "a")
    val b = withShare(cardB, "b")
    a.join(b, col("__dom_a") <=> col("__dom_b"), "full_outer")
      .select(
        coalesce(col("__dom_a"), col("__dom_b")).as(domainCol),
        when(col("n_docs_a").isNull, lit("added"))
          .when(col("n_docs_b").isNull, lit("removed"))
          .otherwise(lit("common")).as("status"),
        col("n_docs_a"), col("n_docs_b"),
        (coalesce(col("n_docs_b"), lit(0L)) -
          coalesce(col("n_docs_a"), lit(0L))).as("docs_delta"),
        col("n_tokens_a"), col("n_tokens_b"),
        (coalesce(col("n_tokens_b"), lit(0L)) -
          coalesce(col("n_tokens_a"), lit(0L))).as("tokens_delta"),
        col("distinct_tokens_a"), col("distinct_tokens_b"),
        (coalesce(col("distinct_tokens_b"), lit(0L)) -
          coalesce(col("distinct_tokens_a"), lit(0L))).as("vocab_delta"),
        col("token_share_micro_a"), col("token_share_micro_b"),
        (coalesce(col("token_share_micro_b"), lit(0L)) -
          coalesce(col("token_share_micro_a"), lit(0L)))
          .as("share_delta_micro"),
        col("mean_quality_micro_a"), col("mean_quality_micro_b"),
        (coalesce(col("mean_quality_micro_b"), lit(0L)) -
          coalesce(col("mean_quality_micro_a"), lit(0L)))
          .as("quality_delta_micro"))
  }

  /** Tiny per-language stopword lists (top function words; enough for an
    * n-gram-free heuristic — the classic stopword-hit language guesser).
    */
  val stopwords: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "mit", "auf", "für"),
    "en" -> Seq("the", "and", "is", "of", "to", "in", "that", "it", "for", "with"),
    "es" -> Seq("el", "la", "los", "las", "y", "es", "de", "que", "en", "por"),
    "fr" -> Seq("le", "la", "les", "et", "est", "de", "que", "dans", "pour", "avec"),
    "pt" -> Seq("o", "a", "os", "as", "e", "é", "de", "que", "em", "para"))

  /** JVM twin of [[tokens]] for the score kernels: Spark `trim` strips
    * ASCII 0x20 only (not \t/\n) and `split` keeps trailing empty
    * strings (limit -1) — replicated exactly (the same contract the
    * SimHash kernel pins).
    */
  private val WsPattern = java.util.regex.Pattern.compile("\\s+")
  private[operators] def kernelTokens(text: String): Array[String] = {
    var from = 0
    var to = text.length
    while (from < to && text.charAt(from) == ' ') from += 1
    while (to > from && text.charAt(to - 1) == ' ') to -= 1
    if (to <= from) Array.empty[String]
    else WsPattern.split(
      text.substring(from, to).toLowerCase(java.util.Locale.ROOT), -1)
  }

  /** Distinct-stopword hit count for one language. */
  def stopwordHits(c: Column, words: Seq[String]): Column =
    size(array_intersect(array_distinct(tokens(c)),
      array(words.map(lit): _*)))

  /** Predicted language: argmax of stopword hits, first-listed language
    * winning ties (score must strictly beat the running best to replace
    * it) — a deterministic fold, same shape as the SQL CASE oracle.
    */
  def langId(c: Column): Column = {
    val scored = stopwords.map { case (lang, ws) => (lang, stopwordHits(c, ws)) }
    scored.tail.foldLeft((lit(scored.head._1), scored.head._2)) {
      case ((bestLang, bestScore), (lang, score)) =>
        (when(score > bestScore, lit(lang)).otherwise(bestLang),
         when(score > bestScore, score).otherwise(bestScore))
    }._1
  }

  /** Heuristic quality score in [0,1]: balanced mix of length, stopword
    * density and punctuation sanity (the usual pre-training corpus
    * filters). JVM kernel — the expression form ([[qualityScoreExpr]])
    * re-evaluates its interpreted-HOF subtrees at every reference site
    * (filter + project + both sides of a join), which made the composed
    * curation pipeline ~17x slower than the sum of its stages. Identical
    * arithmetic order, parity-tested; the q20 oracle pins it to SQL.
    */
  def qualityScore(c: Column): Column = {
    val allStops = stopwords.flatMap(_._2).distinct.toSet
    val f = (text: String) => {
      if (text == null) 0.0
      else {
        val toks = kernelTokens(text)
        val nTok = toks.length.toDouble
        if (nTok == 0) 0.0
        else {
          val distinct = toks.toSet
          val stopHits = distinct.count(allStops.contains).toDouble
          var punct = 0
          var i = 0
          while (i < text.length) {
            val ch = text.charAt(i)
            if (ch == '.' || ch == ',' || ch == ';' || ch == ':' || ch == '!' || ch == '?')
              punct += 1
            i += 1
          }
          val lenScore = math.min(nTok / 64.0, 1.0)
          val stopScore = math.min(stopHits / 4.0, 1.0)
          val punctScore = math.min(punct.toDouble / nTok, 1.0)
          0.5 * lenScore + 0.3 * stopScore + 0.2 * (1.0 - punctScore)
        }
      }
    }
    udf(f).apply(c)
  }

  /** Expression form of [[qualityScore]] — the SQL oracle recipe, kept
    * for parity testing and replay documentation.
    */
  def qualityScoreExpr(c: Column): Column = {
    val nTok = size(tokens(c)).cast("double")
    val nChars = length(c).cast("double")
    val stopHits = stopwordHits(c, stopwords.flatMap(_._2).distinct).cast("double")
    val punct = (nChars - length(regexp_replace(c, "[.,;:!?]", ""))).cast("double")
    val lenScore = least(nTok / lit(64.0), lit(1.0))
    val stopScore = least(stopHits / lit(4.0), lit(1.0))
    val punctScore = when(nTok > 0, least(punct / nTok, lit(1.0))).otherwise(lit(1.0))
    when(c.isNull || nTok === 0, lit(0.0))
      .otherwise(lit(0.5) * lenScore + lit(0.3) * stopScore + lit(0.2) * (lit(1.0) - punctScore))
  }

  /** 32-ish-bit rolling document fingerprint: per-token code
    * (31*len + first-char codepoint), left-folded as acc*131 + code
    * mod 1e9+7. Pure integer arithmetic — ANSI-overflow-safe (products
    * stay far below 2^63) and bit-identical in any engine.
    */
  def fingerprint(c: Column): Column = {
    val M = 1000000007L
    val codes = transform(tokens(c),
      w => (length(w).cast("long") * 31 + ascii(substring(w, 1, 1)).cast("long")) % M)
    aggregate(codes, lit(0L), (acc, v) => (acc * 131 + v) % M)
  }

  /** PII scrubbing for pretraining corpora: URLs, emails and
    * phone-shaped digit runs replaced by typed placeholder tokens, in
    * that order (URLs first so an address inside a URL is not half-
    * redacted). A pure `regexp_replace` chain — codegen'd linear scans,
    * no UDF — and every pattern is RE2-safe (no lookaround), so any SQL
    * engine replays the redaction bit-for-bit.
    */
  val UrlRe = "https?://[^\\s]+"
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhoneRe = "\\+?\\(?[0-9][0-9()\\- ]{6,}[0-9]"

  def redactPii(c: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(c, UrlRe, "<URL>"),
        EmailRe, "<EMAIL>"),
      PhoneRe, "<PHONE>")

  /** Intra-document repetition: the fraction of word `n`-grams that are
    * duplicates (`1 - distinct/total`) — the Gopher/MassiveText-style
    * repetition-filter signal (docs above ~0.2 are boilerplate/spam
    * candidates). Shorter-than-n docs score 0.
    *
    * JVM kernel for the same reason as [[qualityScore]]: the
    * expression form's HOF subtrees re-evaluate at every reference
    * site when composed into a larger plan. [[repetitionScoreExpr]]
    * remains the oracle recipe (q49 pins parity to SQL).
    */
  def repetitionScore(c: Column, n: Int = 3): Column = {
    val f = (text: String) => {
      if (text == null) 0.0
      else {
        val toks = kernelTokens(text)
        val total = toks.length - n + 1
        if (total <= 0) 0.0
        else {
          val seen = new scala.collection.mutable.HashSet[String]
          val sb = new java.lang.StringBuilder
          var i = 0
          var distinct = 0
          while (i < total) {
            sb.setLength(0)
            var j = 0
            while (j < n) {
              if (j > 0) sb.append(' ')
              sb.append(toks(i + j))
              j += 1
            }
            if (seen.add(sb.toString)) distinct += 1
            i += 1
          }
          1.0 - distinct.toDouble / total.toDouble
        }
      }
    }
    udf(f).apply(c)
  }

  /** Expression form of [[repetitionScore]] — the SQL oracle recipe,
    * kept for parity testing and replay documentation.
    */
  def repetitionScoreExpr(c: Column, n: Int = 3): Column = {
    val toks = tokens(c)
    val grams = when(size(toks) >= n,
      transform(sequence(lit(0), size(toks) - n),
        i => concat_ws(" ", slice(toks, i + lit(1), lit(n)))))
      .otherwise(array().cast("array<string>"))
    when(size(grams) > 0,
      lit(1.0) - size(array_distinct(grams)).cast("double") / size(grams).cast("double"))
      .otherwise(lit(0.0))
  }

  /** Token statistics: count + mean token length (0-safe). */
  def tokenStats(c: Column): (Column, Column) = {
    val toks = tokens(c)
    val n = size(toks)
    val totalLen = aggregate(transform(toks, w => length(w).cast("long")),
      lit(0L), (a, v) => a + v)
    (n, when(n > 0, totalLen.cast("double") / n.cast("double")).otherwise(lit(0.0)))
  }

  /** Token statistics under a TRAINED tokenizer ([[Bpe.BpeModel]]) —
    * the real-cost upgrade over the whitespace/regex proxies: length
    * profiles and packing budgets computed with the tokenizer the model
    * will actually train with, not a heuristic (r8 VERDICT ask #4).
    * Count is [[Bpe.tokenCount]] exactly (every emitted subword counts,
    * including a bare `</w>` token); mean length is over the tokens'
    * CHARACTER payload — the `</w>` marker is stripped before
    * measuring, so a fully-merged `low</w>` counts 3 and a bare `</w>`
    * counts 0 (marker chars are bookkeeping, not text cost). 0-safe on
    * null/blank text like the proxy overload.
    */
  def tokenStats(model: Bpe.BpeModel, c: Column): (Column, Column) = {
    val toks = Bpe.tokenize(model, c)
    val n = size(toks)
    val totalLen = aggregate(
      transform(toks, w =>
        (length(w) - when(w.endsWith(Bpe.EndOfWord), lit(Bpe.EndOfWord.length))
          .otherwise(lit(0))).cast("long")),
      lit(0L), (a, v) => a + v)
    (n, when(n > 0, totalLen.cast("double") / n.cast("double")).otherwise(lit(0.0)))
  }

  /** Top-k vocabulary by document frequency: for tokenizer/vocab
    * construction and corpus profiling. One explode of distinct
    * per-doc tokens, a partial-agg group-count on the token, and a
    * TakeOrdered top-k (per-partition heaps merged on the driver — the
    * full token distribution is never globally sorted). Ties break on
    * the token string so results are total-ordered and replayable.
    */
  def topTokensByDocFreq(
      df: org.apache.spark.sql.DataFrame,
      textCol: String,
      k: Int): org.apache.spark.sql.DataFrame = {
    df.select(explode(array_distinct(tokens(col(textCol)))).as("token"))
      .groupBy("token")
      .agg(count(lit(1)).as("doc_freq"))
      .orderBy(col("doc_freq").desc, col("token"))
      .limit(k)
  }

  /** BM25 top-k retrieval (Robertson/Lucene formulation) — the ranked
    * full-text search a curation stack leans on for contamination
    * triage, dedup validation, and eval-set neighborhood audits. Per
    * query, documents rank by
    * `Σ_t idf(t) * tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))` over the
    * query's DISTINCT terms, with the always-positive idf
    * `ln(1 + (N - df + 0.5)/(df + 0.5))`; `N` = all docs in `docs`
    * (tokenless docs count toward N and avgdl but can never match).
    * Tokens are the family tokenizer ([[tokens]]: lowercased
    * whitespace split, Spark trim semantics — the q44 SQL parity).
    *
    * Determinism: the per-(query, doc) score folds its term
    * contributions in TERM-ASC order (array_sort + aggregate, not a
    * float SUM whose order the engine picks) — duplicate documents get
    * bit-identical scores, so ranks are total-ordered by
    * (score desc, doc id) and the SQL oracle replays them exactly.
    *
    * Plan shape at 100 TB (r15): the query's distinct terms broadcast
    * into the token scan BELOW the (doc, term) aggregate, so the tf
    * exchange carries only query-term postings; df is a count window
    * over those matched rows (no second corpus subtree); dl and the
    * (N, total-token) stats each come from one size(tokens) scan with
    * no token-grain explode. Three scans of the raw text per call,
    * exactly one of them shuffling token-grain rows — still the honest
    * cost of the ONE-SHOT form; a nightly probe belongs on
    * [[Bm25Index]] (build the postings once, probe a pruned artifact
    * slice).
    */
  def bm25TopK(
      docs: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String,
      queries: org.apache.spark.sql.DataFrame,
      queryIdCol: String,
      queryTextCol: String,
      k: Int,
      k1: Double = 1.2,
      b: Double = 0.75): org.apache.spark.sql.DataFrame = {
    // r15 (guide §2.3/§3.2): the scoring tail only ever reads tf rows of
    // QUERY terms, so the term prune is pushed BELOW the (doc, term)
    // aggregate — the exchange carries postings of the query's terms
    // instead of the whole corpus vocabulary (tf per surviving (doc,
    // term) pair is unchanged: the prune is on the grouping key).
    val qTermSet = queries
      .select(explode(array_distinct(tokens(col(queryTextCol)))).as("__term"))
      .distinct()
    val tf = docs
      .select(col(idCol).as("__doc"), explode(tokens(col(textCol))).as("__term"))
      .join(broadcast(qTermSet), Seq("__term"))
      .groupBy("__doc", "__term")
      .agg(count(lit(1)).cast("double").as("__tf"))
    // Per-doc length from size(tokens) — one scan, no token-grain
    // explode or shuffle (r15; the former explode+count shape shuffled
    // one row per token to count them). greatest(…, 0) maps the null
    // token array (null text) to 0; tokenless docs carry dl 0 and can
    // never match, exactly as before (they had no toks rows).
    val dl = docs
      .select(col(idCol).as("__doc"),
        greatest(org.apache.spark.sql.functions.size(tokens(col(textCol))), lit(0))
          .cast("long").as("__n"))
      .groupBy("__doc")
      .agg(sum(col("__n")).cast("double").as("__dl"))
    // N over ALL docs (tokenless included), avgdl = total tokens / N —
    // both exact integers before one double division; ONE aggregate pass
    // (r15; formerly a docs count crossJoin a full explode+count)
    val stats = docs
      .select(greatest(org.apache.spark.sql.functions.size(tokens(col(textCol))), lit(0))
        .cast("long").as("__n"))
      .agg(count(lit(1)).cast("double").as("__nd"),
        coalesce(sum(col("__n")), lit(0L)).cast("double").as("__tot"))
    bm25ScoreTopK(tf, dl, stats, queries, queryIdCol, queryTextCol, k, k1, b, idCol)
  }

  /** Shared BM25 scoring tail over standard posting frames — ONE
    * expression tree on purpose, so [[bm25TopK]] (frames derived from
    * raw text) and [[Bm25Index.topKAgainst]] (frames read from the
    * stored artifact) are bit-identical, not merely algebraically
    * equal. `df` is recomputed from the tf rows restricted to query
    * terms (one distinct over matched postings — O(matching postings),
    * which the probe reads anyway), so nothing term-global is ever
    * stored to go stale.
    */
  private[operators] def bm25ScoreTopK(
      tf: org.apache.spark.sql.DataFrame,     // (__doc, __term, __tf double)
      dl: org.apache.spark.sql.DataFrame,     // (__doc, __dl double)
      stats: org.apache.spark.sql.DataFrame,  // 1 row (__nd, __tot double)
      queries: org.apache.spark.sql.DataFrame,
      queryIdCol: String,
      queryTextCol: String,
      k: Int,
      k1: Double,
      b: Double,
      outIdCol: String): org.apache.spark.sql.DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(k1 >= 0 && b >= 0 && b <= 1, s"need k1 >= 0, b in [0,1]: k1=$k1 b=$b")
    import org.apache.spark.sql.expressions.Window
    val qt = queries
      .select(col(queryIdCol).as("query_id"),
        explode(array_distinct(tokens(col(queryTextCol)))).as("__term"))
    // prune postings to query terms FIRST (broadcast into the scan);
    // df over the matched postings comes from a count window on the
    // SAME rows (r15, guide §2.4): tf frames are unique per (doc, term)
    // — bm25TopK's groupBy output, and the index family's posting rows
    // by construction — so count(*) per term over `matched` IS the
    // distinct-doc frequency. The former distinct+groupBy+join-back
    // planned the whole matched subtree TWICE (once under each join
    // side) plus two extra aggregates and a broadcast; the window reuses
    // one subtree under one term-keyed exchange.
    val matched = tf.join(broadcast(qt.select("__term").distinct()), "__term")
    val cand = matched
      .withColumn("__df",
        count(lit(1)).over(Window.partitionBy(col("__term"))).cast("double"))
      .join(broadcast(qt), "__term")
      .join(dl, "__doc")
      .crossJoin(broadcast(stats))
      .withColumn("__contrib",
        log(lit(1.0) + (col("__nd") - col("__df") + lit(0.5)) / (col("__df") + lit(0.5)))
          * (col("__tf") * (lit(k1) + lit(1.0)))
          / (col("__tf") + lit(k1) *
              (lit(1.0) - lit(b) + lit(b) * col("__dl") / (col("__tot") / col("__nd")))))
    val scored = cand.groupBy(col("query_id"), col("__doc"))
      .agg(aggregate(
        array_sort(collect_list(struct(col("__term").as("t"), col("__contrib").as("c")))),
        lit(0.0), (acc, x) => acc + x.getField("c")).as("__score"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("__score").desc, col("__doc").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("__doc").as(outIdCol),
        col("__score").as("bm25"))
  }

  /** Character n-gram language model trained on a reference corpus —
    * the CCNet-style model-based quality signal (there KenLM
    * perplexity; here an add-one-smoothed char-gram LM with zero
    * dependencies). `counts` maps each gram of `lower(ref text)` to its
    * OCCURRENCE count (not doc frequency — this is a language model).
    *
    * The model is driver-resident by design: scoring a 100-TB corpus
    * against a FIXED small reference model is the whole point, and the
    * gram table is bounded by alphabet^n distinct grams (~50k for char
    * trigrams over real text), broadcast-sized the way the
    * contamination gram set is. Training cost is one explode +
    * group-count over the (small) reference.
    */
  final case class LmModel(counts: Map[String, Long], total: Long, vocab: Long, n: Int)

  def trainLm(
      ref: org.apache.spark.sql.DataFrame,
      textCol: String,
      n: Int): LmModel = {
    val lc = LowerExpr(col(textCol))
    val grams = ref.select(
      explode(
        when(length(lc) >= n,
          transform(sequence(lit(1), length(lc) - (n - 1)), i => lc.substr(i, lit(n))))
          .otherwise(array().cast("array<string>"))).as("g"))
    val counts = grams.groupBy("g").agg(count(lit(1)).as("c"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    LmModel(counts, counts.values.sum, counts.size.toLong, n)
  }

  /** Mean negative log-likelihood (nats per gram) of the text under
    * `model`, add-one smoothed with one shared unseen bucket:
    * `P(g) = (count(g) + 1) / (total + vocab + 1)`. Lower = more like
    * the reference corpus; docs shorter than n grams score 0.
    *
    * JVM kernel, one compiled pass per row with the model map closed
    * over (broadcast to executors with the task closure) — the
    * corpus-side cost is O(doc length), no explode, no shuffle, no
    * join. The SQL replay (q72) recomputes the same model and average
    * relationally; round to 6 decimals on both sides (summation-order
    * float noise is ~1e-13).
    */
  def lmScore(model: LmModel, c: Column): Column = {
    val counts = model.counts
    val denom = (model.total + model.vocab + 1).toDouble
    val n = model.n
    val f = (text: String) => {
      if (text == null) 0.0
      else {
        val lc = text.toLowerCase(java.util.Locale.ROOT)
        val total = lc.length - n + 1
        if (total <= 0) 0.0
        else {
          var sum = 0.0
          var i = 0
          while (i < total) {
            val g = lc.substring(i, i + n)
            sum -= math.log((counts.getOrElse(g, 0L) + 1).toDouble / denom)
            i += 1
          }
          sum / total
        }
      }
    }
    udf(f).apply(c)
  }

  /** Model-based language ID (the CCNet/fastText-langid shape,
    * zero-dependency): one [[trainLm]] char-gram model per labeled
    * language, a document classifies as the model under which its mean
    * negative log-likelihood is LOWEST — the upgrade over the
    * stopword-hit heuristic ([[langId]]) for short, stopword-poor, or
    * mixed text. Scores are ROUNDED to 6 decimals BEFORE the argmin on
    * both the kernel and the oracle side (raw ln/avg floats agree only
    * to ~1e-13 across engines — q72's precedent — so an unrounded
    * argmin could flip on sub-noise margins); residual ties break on
    * language code ascending, making the prediction total-ordered and
    * SQL-replayable. Docs shorter than one gram score 0 under EVERY
    * model and fall to the tie rule (first language alphabetically) —
    * callers should length-gate upstream, as every langid does.
    *
    * One compiled pass per (row, model), all models broadcast with the
    * task closure — no explode, no shuffle, no join; model count is
    * language-catalog-sized.
    */
  def langIdLm(models: Seq[(String, LmModel)], c: Column): Column = {
    require(models.nonEmpty, "langIdLm needs at least one language model")
    require(models.map(_._1).distinct.size == models.size,
      "language labels must be unique")
    val ms = models.sortBy(_._1).map { case (lang, m) =>
      (lang, m.counts, (m.total + m.vocab + 1).toDouble, m.n)
    }
    val f = (text: String) => {
      var bestLang = ms.head._1
      var bestScore = Double.MaxValue
      ms.foreach { case (lang, counts, denom, n) =>
        val score =
          if (text == null) 0.0
          else {
            val lc = text.toLowerCase(java.util.Locale.ROOT)
            val total = lc.length - n + 1
            if (total <= 0) 0.0
            else {
              var sum = 0.0
              var i = 0
              while (i < total) {
                val g = lc.substring(i, i + n)
                sum -= math.log((counts.getOrElse(g, 0L) + 1).toDouble / denom)
                i += 1
              }
              sum / total
            }
          }
        val rounded = BigDecimal(score)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        // strict < so ties keep the earlier (lang-asc) model
        if (rounded < bestScore) { bestScore = rounded; bestLang = lang }
      }
      bestLang
    }
    udf(f).apply(c)
  }
}
