package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType, StringType}

/** Column-level counterparts of the reference's scalar functions
  * (SURVEY.md §2.8, X1–X23). Everything except accent folding is composed
  * from `org.apache.spark.sql.functions._` so it stays inside whole-stage
  * codegen; accent folding is a JVM UDF over [[TextNorm.foldAccents]]
  * (upgraded to a native Expression in [[AccentFoldExpr]] when registered).
  */
object Cols {

  /** Accent folding (X1 core) as a native Catalyst expression with
    * codegen ([[AccentFoldExpr]]) — stays inside whole-stage codegen,
    * ASCII fast-path returns the input unchanged.
    */
  def foldAccents(c: Column): Column = AccentFoldExpr(c)

  /** X1 `normalize_text`: trim -> fold accents -> collapse whitespace ->
    * lowercase; null/blank -> "". Fused native expression — one kernel
    * call instead of a 4-deep regexp/lower chain re-materializing the
    * string at each step.
    */
  def normalizeText(c: Column): Column = NormalizeTextExpr(c)

  /** X2 `remove_prefixes`: normalize then strip one leading
    * municipality/parish designator (fused native expression).
    */
  def removePrefixes(c: Column): Column = RemovePrefixesExpr(c)

  /** X3 bracket extraction: first `[...]` group trimmed, else whole
    * trimmed string.
    */
  def extractBrackets(c: Column): Column =
    when(c.rlike("\\[.*?\\]"), trim(regexp_extract(c, "\\[(.*?)\\]", 1)))
      .otherwise(trim(c))

  /** X4 `validate_numeric`: parse `int(float(v))`, clamp to >= 0,
    * unparsable/null -> 0.
    */
  def validateNumeric(c: Column): Column =
    greatest(coalesce(c.cast(StringType).try_cast(DoubleType).try_cast(IntegerType), lit(0)), lit(0))

  /** X5 sim/nao -> 1/0 via normalized compare; anything else null. */
  def simNao(c: Column): Column = {
    val n = normalizeText(c)
    when(n === "sim", 1).when(n === "nao", 0).otherwise(lit(null).cast(IntegerType))
  }

  /** X6 `map_disp`: sim -> 1, nao -> 0, anything else (incl. null) -> -1. */
  def mapDisp(c: Column): Column = {
    val n = normalizeText(c)
    when(n === "sim", 1).when(n === "nao", 0).otherwise(-1)
  }

  /** X7 strict accent-sensitive sim/não -> 1/0, miss -> null. Same
    * result as comparing `lower(c)` to "sim"/"não" (pinned in ColsSpec),
    * but matches the eight case variants of each word instead: Spark's
    * `lower` builds an ICU case-mapping table the first time it runs in
    * a JVM, which a cold batch pays inside its first fact write.
    */
  def simNaoStrict(c: Column): Column =
    when(c.isin(caseVariants("sim"): _*), 1).when(c.isin(caseVariants("não"): _*), 0)
      .otherwise(lit(null).cast(IntegerType))

  /** Every spelling of `word` with each letter in lower or upper case. */
  private def caseVariants(word: String): Seq[String] =
    word.foldLeft(Seq("")) { (acc, ch) =>
      acc.flatMap(p => Seq(p + ch.toLower, p + ch.toUpper))
    }

  /** X8 sentence split -> array of non-empty trimmed sentences. Pure
    * higher-order functions (codegen), Java regex handles the lookarounds.
    */
  def splitSentences(c: Column): Column =
    filter(
      transform(split(c, TextNorm.sentenceSplitRe), x => trim(x)),
      x => x =!= lit(""))

  /** X9 numeric-string detector: `"12"` / `"12.0"` style. */
  def isNumericString(c: Column): Column =
    trim(c).rlike("^\\d+(\\.\\d+)?$")

  /** X12 duration in whole seconds between two timestamps; <= 0 -> null. */
  def durationSeconds(start: Column, end: Column): Column = {
    val d = unix_timestamp(end) - unix_timestamp(start)
    when(d > 0, d).otherwise(lit(null).cast(LongType))
  }

  /** X19 truncate to n chars + "..." when longer. */
  def truncateText(c: Column, n: Int = 70): Column =
    when(length(c) > n, concat(substring(c, 1, n), lit("..."))).otherwise(c)

  /** X17 entity key: normalized name || "||" || normalized type. */
  def entityKey(name: Column, tipo: Column): Column =
    concat_ws("||", removePrefixes(name), normalizeText(tipo))

  /** F1 invalid-name predicate (post-normalization sentinels). */
  def isInvalidName(c: Column): Column =
    normalizeText(c).isin(TextNorm.invalidNames.toSeq: _*)

  /** Whitespace token count (text-analysis surface; blank -> 0). */
  def tokenCount(c: Column): Column = {
    val t = trim(c)
    when(c.isNull || t === "", 0).otherwise(size(split(t, "\\s+")))
  }

  /** BPE-ish subword token count: letter runs, digit runs, and single
    * non-alphanumeric marks each count as one token — the usual cheap
    * proxy for tokenizer cost when budgeting a training corpus.
    */
  val bpeTokenRe = "[\\p{L}]+|[0-9]+|[^\\p{L}0-9\\s]"

  def bpeTokenCount(c: Column): Column =
    coalesce(regexp_count(c, lit(bpeTokenRe)), lit(0))
}
