package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.functions.LowerExpr

/** C4/Gopher-style heuristic document filters — the rule battery every
  * web-scale pretraining corpus goes through before dedup/decontam
  * (C4: boilerplate markers, brace/code leakage, terminal punctuation;
  * Gopher/MassiveText: word-count and mean-word-length bounds, symbol
  * and bullet/ellipsis line ratios, alphabetic-word ratio). Emits the
  * per-rule SIGNALS alongside the composite `keep`, so thresholds can
  * be re-cut downstream without re-scanning the corpus.
  *
  * Same two-form design as [[TextAnalysis.qualityScore]]: the scan path
  * is one compiled JVM kernel per row (a single pass over lines + one
  * over tokens; the expression form's interpreted HOF subtrees would
  * re-evaluate at every reference site once `keep` lands in a filter
  * AND a projection of a composed pipeline), and
  * [[heuristicSignalsExpr]] is the parity-tested expression twin that
  * doubles as the SQL oracle recipe (q58).
  *
  * Rule set (doc-level; line = space-trimmed, non-empty):
  *  - word_count in [50, 100000]            (Gopher)
  *  - mean_word_len in [3, 10]              (Gopher)
  *  - symbol_word_ratio < 0.1               ('#' chars + '...'/'…' runs per word, Gopher)
  *  - bullet_line_ratio <= 0.9              (lines starting -, *, •)
  *  - ellipsis_line_ratio <= 0.3            (lines ending ... or …)
  *  - alpha_word_ratio >= 0.8               (words containing [a-z]; ASCII letters —
  *                                           accented-only words don't count, documented)
  *  - no "lorem ipsum", no '{', no "javascript"  (C4)
  * `terminal_punct_ratio` (lines ending .!?"”) is emitted as a signal
  * only — C4 applies it line-level, not as a doc gate.
  */
object CorpusFilters {

  /** All signals as one struct column (kernel path). Field order/names
    * match [[heuristicSignalsExpr]].
    */
  def heuristicSignals(c: Column): Column = {
    val f = (text: String) => {
      if (text == null)
        (0L, 0.0, 0.0, 0.0, 0L, 0.0, 0.0, 0.0, 0, 0, 0, 0)
      else {
        // ---- line pass (split on \n, space-trim, drop empties) ----
        var nLines = 0L
        var terminal = 0L
        var bullet = 0L
        var ellipsis = 0L
        val rawLines = text.split("\n", -1)
        var li = 0
        while (li < rawLines.length) {
          val raw = rawLines(li)
          var from = 0
          var to = raw.length
          while (from < to && raw.charAt(from) == ' ') from += 1
          while (to > from && raw.charAt(to - 1) == ' ') to -= 1
          if (to > from) {
            nLines += 1
            val first = raw.charAt(from)
            val last = raw.charAt(to - 1)
            if (last == '.' || last == '!' || last == '?' || last == '"' || last == '”')
              terminal += 1
            if (first == '-' || first == '*' || first == '•') bullet += 1
            if (last == '…' ||
                (to - from >= 3 && raw.charAt(to - 1) == '.' &&
                 raw.charAt(to - 2) == '.' && raw.charAt(to - 3) == '.'))
              ellipsis += 1
          }
          li += 1
        }
        // ---- token pass (same contract as TextAnalysis.kernelTokens) --
        val toks = TextAnalysis.kernelTokens(text)
        val wc = toks.length.toLong
        var charSum = 0L
        var alphaWords = 0L
        var ti = 0
        while (ti < toks.length) {
          val w = toks(ti)
          // codepoints, not UTF-16 units: Spark length()/DuckDB length()
          // count an astral-plane char (emoji) as 1 where String.length
          // says 2, and the expression twin must stay bit-identical
          charSum += w.codePointCount(0, w.length)
          var ci = 0
          var hasAlpha = false
          while (ci < w.length && !hasAlpha) {
            val ch = w.charAt(ci)
            if (ch >= 'a' && ch <= 'z') hasAlpha = true
            ci += 1
          }
          if (hasAlpha) alphaWords += 1
          ti += 1
        }
        // ---- symbol counts on the raw text ----
        var hashes = 0L
        var hellip = 0L
        var i = 0
        while (i < text.length) {
          val ch = text.charAt(i)
          if (ch == '#') hashes += 1
          if (ch == '…') hellip += 1
          i += 1
        }
        var dots = 0L // non-overlapping "..." runs
        var j = text.indexOf("...")
        while (j >= 0) { dots += 1; j = text.indexOf("...", j + 3) }
        val lower = text.toLowerCase(java.util.Locale.ROOT)
        val hasLorem = if (lower.contains("lorem ipsum")) 1 else 0
        val hasBrace = if (text.contains("{")) 1 else 0
        val hasJs = if (lower.contains("javascript")) 1 else 0

        val termR = if (nLines > 0) terminal.toDouble / nLines else 0.0
        val bulletR = if (nLines > 0) bullet.toDouble / nLines else 0.0
        val ellipsisR = if (nLines > 0) ellipsis.toDouble / nLines else 0.0
        val meanWL = if (wc > 0) charSum.toDouble / wc else 0.0
        val alphaR = if (wc > 0) alphaWords.toDouble / wc else 0.0
        val symR = if (wc > 0) (hashes + hellip + dots).toDouble / wc else 0.0
        val keep =
          if (wc >= 50 && wc <= 100000 &&
              meanWL >= 3.0 && meanWL <= 10.0 &&
              symR < 0.1 && bulletR <= 0.9 && ellipsisR <= 0.3 &&
              alphaR >= 0.8 &&
              hasLorem == 0 && hasBrace == 0 && hasJs == 0) 1 else 0
        (nLines, termR, bulletR, ellipsisR, wc, meanWL, alphaR, symR,
          hasLorem, hasBrace, hasJs, keep)
      }
    }
    udf(f).apply(c).as("s")
  }

  private val SignalNames = Seq(
    "n_lines", "terminal_punct_ratio", "bullet_line_ratio",
    "ellipsis_line_ratio", "word_count", "mean_word_len",
    "alpha_word_ratio", "symbol_word_ratio",
    "has_lorem", "has_brace", "has_javascript", "keep")

  /** documents-style frame -> (idCol, signals...) — the q58 surface. */
  def heuristicFilter(
      df: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String): org.apache.spark.sql.DataFrame = {
    val s = df.select(col(idCol), heuristicSignals(col(textCol)))
    s.select(col(idCol) +: SignalNames.zipWithIndex.map { case (n, i) =>
      col(s"s._${i + 1}").as(n)
    }: _*)
  }

  /** Expression twin of [[heuristicSignals]] — identical arithmetic,
    * pure `functions._`, parity-tested (CorpusFiltersSpec) and the
    * recipe the q58 DuckDB oracle replays.
    */
  def heuristicSignalsExpr(c: Column): Seq[(String, Column)] = {
    val lines = filter(transform(split(c, "\n", -1), l => trim(l)), l => l =!= "")
    val nLines = size(lines).cast("long")
    def lineRatio(pred: Column => Column): Column =
      when(nLines > 0,
        size(filter(lines, pred)).cast("double") / nLines.cast("double"))
        .otherwise(lit(0.0))
    // \z, not $: Java's $ also matches BEFORE a trailing \r (a line
    // terminator), so "abc.\r" would count as terminal-punctuated in
    // the expression but not in the kernel's literal last-char check —
    // or in DuckDB, whose RE2 $ anchors at end of text. Caught by the
    // random-string parity property.
    val termR = lineRatio(l => l.rlike("[.!?\"”]\\z"))
    val bulletR = lineRatio(l => l.rlike("^[-*•]"))
    val ellipsisR = lineRatio(l => l.rlike("(\\.\\.\\.|…)\\z"))

    val toks = TextAnalysis.tokens(c)
    val wc = size(toks).cast("long")
    val charSum = aggregate(transform(toks, w => length(w).cast("long")),
      lit(0L), (a, v) => a + v)
    val alphaWords = size(filter(toks, w => w.rlike("[a-z]")))
    val meanWL = when(wc > 0, charSum.cast("double") / wc.cast("double"))
      .otherwise(lit(0.0))
    val alphaR = when(wc > 0, alphaWords.cast("double") / wc.cast("double"))
      .otherwise(lit(0.0))

    val hashes = length(c) - length(regexp_replace(c, "#", ""))
    val hellip = length(c) - length(regexp_replace(c, "…", ""))
    val dots = (length(c) - length(regexp_replace(c, "\\.\\.\\.", ""))) / 3
    val symR = when(wc > 0,
      (hashes + hellip + dots).cast("double") / wc.cast("double"))
      .otherwise(lit(0.0))

    val lower = LowerExpr(c)
    val hasLorem = lower.contains("lorem ipsum").cast("int")
    val hasBrace = c.contains("{").cast("int")
    val hasJs = lower.contains("javascript").cast("int")
    val keep = (wc.geq(50) && wc.leq(100000) &&
      meanWL.geq(3.0) && meanWL.leq(10.0) &&
      symR < 0.1 && bulletR.leq(0.9) && ellipsisR.leq(0.3) &&
      alphaR.geq(0.8) &&
      hasLorem === 0 && hasBrace === 0 && hasJs === 0).cast("int")

    def z(col: Column, zero: Column): Column =
      when(c.isNull, zero).otherwise(col)
    Seq(
      "n_lines" -> z(nLines, lit(0L)),
      "terminal_punct_ratio" -> z(termR, lit(0.0)),
      "bullet_line_ratio" -> z(bulletR, lit(0.0)),
      "ellipsis_line_ratio" -> z(ellipsisR, lit(0.0)),
      "word_count" -> z(wc, lit(0L)),
      "mean_word_len" -> z(meanWL, lit(0.0)),
      "alpha_word_ratio" -> z(alphaR, lit(0.0)),
      "symbol_word_ratio" -> z(symR, lit(0.0)),
      "has_lorem" -> z(hasLorem, lit(0)),
      "has_brace" -> z(hasBrace, lit(0)),
      "has_javascript" -> z(hasJs, lit(0)),
      "keep" -> z(keep, lit(0)))
  }
}
