package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persistable BM25 posting index — [[TextAnalysis.bm25TopK]]'s
  * tokenize/count work done ONCE and stored, so the nightly
  * contamination-triage / retrieval probes pay only the scoring join
  * (the index-family contract: build once, `index.write.parquet(path)`,
  * reopen with `spark.read.parquet`, probe forever).
  *
  * Like [[LineFreqIndex]] — and unlike the LSH family — NOTHING here is
  * frozen or approximate, so the artifact is exact under the whole
  * lifecycle: term/doc counts of disjoint doc sets ADD ([[append]] and
  * [[mergeMany]] are stored-row unions plus a rewritten meta row), and
  * per-term document frequency is deliberately NOT stored — the probe
  * recomputes it from the matched postings (O(matching postings), a
  * slice the probe reads anyway), so no statistic exists to go stale.
  * `probe(build(a) append b) == probe(build(a union b)) ==
  * bm25TopK(a union b)` bit-for-bit — pinned by Bm25IndexSpec, and the
  * q85 oracle replays the probe with q84's full-corpus SQL.
  *
  * Layout (meta-row discriminated single frame, house style):
  * `kind` = [[PostKind]] posting rows `(id, term, tf)`;
  * `kind` = [[DocKind]] one row per doc `(id, dl)` — ALL docs,
  * tokenless ones at dl 0, so doc membership and the N convention
  * survive in the artifact; `kind` = [[MetaKind]] one params row
  * (`nDocs`, `totTokens` — the only global statistics, both additive).
  *
  * Scale shape at 100 TB: the build is the one corpus-sized pass
  * (explode + two groupBys); a probe scans postings filtered to the
  * broadcast query-term list (columnar term-column pushdown — write
  * the artifact sorted/bucketed by term to make that a skip-scan),
  * recomputes df on the matched slice, joins dl by doc, and ends in a
  * per-query window top-k. k1/b are probe arguments, not index state —
  * retuning costs nothing.
  */
object Bm25Index {

  /** `kind` of the single metadata row. */
  val MetaKind: Int = -1
  /** `kind` of per-document `(id, dl)` rows. */
  val DocKind: Int = -2
  /** `kind` of posting `(id, term, tf)` rows. */
  val PostKind: Int = 0

  /** The artifact's only global statistics — both exact and additive. */
  final case class Meta(nDocs: Long, totTokens: Long)

  private def metaString(m: Meta): String =
    MetaCodec.render("nDocs" -> m.nDocs, "tot" -> m.totTokens)

  /** Meta row of `index`. Fails typed on a frame that is not a v1 BM25
    * index (no meta row / unknown version).
    */
  def readMeta(index: DataFrame): Meta = {
    require(index.columns.contains("kind") && index.columns.contains("params"),
      "not a BM25 index: expected columns (id, kind, term, tf, dl, params)")
    val rows = index.filter(col("kind") === MetaKind).select(col("params")).collect()
    require(rows.length == 1,
      s"not a BM25 index: expected exactly one meta row (kind = $MetaKind), found ${rows.length}")
    val kv = MetaCodec.parse(rows(0).getString(0), "BM25")
    Meta(nDocs = kv("nDocs").toLong, totTokens = kv("tot").toLong)
  }

  private def rows(
      spark: SparkSession, idCol: String, idType: org.apache.spark.sql.types.DataType,
      m: Meta, docRows: DataFrame, postRows: DataFrame): DataFrame = {
    val metaRow = spark.range(1).select(
      lit(null).cast(idType).as(idCol),
      lit(MetaKind).as("kind"),
      lit(null).cast("string").as("term"),
      lit(null).cast("long").as("tf"),
      lit(null).cast("long").as("dl"),
      lit(metaString(m)).as("params"))
    metaRow
      .unionAll(docRows.select(
        col(idCol), lit(DocKind).as("kind"),
        lit(null).cast("string").as("term"), lit(null).cast("long").as("tf"),
        col("dl"), lit(null).cast("string").as("params")))
      .unionAll(postRows.select(
        col(idCol), lit(PostKind).as("kind"),
        col("term"), col("tf"),
        lit(null).cast("long").as("dl"), lit(null).cast("string").as("params")))
  }

  /** One corpus-sized posting build ([[TextAnalysis.tokens]] tokenizer,
    * the q44 parity). Ids must be unique. Returned frame is persisted —
    * unpersist once written.
    */
  def build(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    // r15 shape: dl comes from size(tokens) per row — ids are unique
    // (the build contract), so no token-grain explode, shuffle, or
    // left join is needed for the doc rows, and nDocs + totTokens fold
    // in ONE aggregate job over the same size projection (formerly a
    // toks.count() plus a docs.count() over a PERSISTED token-grain
    // frame — a corpus-sized cache at exactly the scale the build
    // exists for, guide §5). The explode survives only where the data
    // needs it: the (id, term) posting aggregate.
    val dlCol = greatest(
      org.apache.spark.sql.functions.size(TextAnalysis.tokens(col(textCol))), lit(0))
      .cast("long")
    val statsRow = docs.select(dlCol.as("dl"))
      .agg(count(lit(1)).as("nd"), coalesce(sum(col("dl")), lit(0L)).as("tot"))
      .collect()(0)
    val (nDocs, tot) = (statsRow.getLong(0), statsRow.getLong(1))
    val postRows = docs
      .select(col(idCol), explode(TextAnalysis.tokens(col(textCol))).as("term"))
      .groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("tf"))
    val docRows = docs.select(col(idCol), dlCol.as("dl"))
    val index = rows(docs.sparkSession, idCol, docs.schema(idCol).dataType,
      Meta(nDocs, tot), docRows, postRows).persist()
    index.count()
    index
  }

  /** The number of distinct query terms up to which the probe inlines
    * them as a literal `isin` filter on the posting scan — static
    * predicate pushdown at PLANNING time (the
    * [[IvfIndex.DefaultMaxStaticProbeCells]] discipline applied to
    * postings): with the artifact written term-sorted
    * ([[writeSorted]]), Parquet row-group min/max stats skip every
    * group holding no query term, so the probe reads a posting SLICE
    * instead of the whole posting file. Semantically a no-op either
    * way — the broadcast term join filters identically — so past the
    * bound the probe just omits the literal filter (bounded planning,
    * the honest trade for degenerate thousand-term query batches).
    */
  val DefaultMaxStaticProbeTerms: Int = 4096

  /** Ranked top-k against the stored postings — output contract and
    * bit-level scores identical to [[TextAnalysis.bm25TopK]] over the
    * same corpus (one shared scoring expression; pinned by spec).
    */
  /** `stopTerms` is [[postingSkewReport]]'s query-time remedy: terms
    * listed there never enter the probe — not the candidate join, not
    * the pruned posting scan — exactly as if the query text had
    * arrived without them (spec-pinned equivalence). The artifact is
    * untouched (no rebuild to retune a stop list), and UNLIKE the LSH
    * family's frozen stop set this one cannot go stale: it is a probe
    * argument.
    */
  def topKAgainst(
      index: DataFrame,
      queries: DataFrame,
      queryIdCol: String,
      queryTextCol: String,
      k: Int,
      k1: Double = 1.2,
      b: Double = 0.75,
      maxStaticProbeTerms: Int = DefaultMaxStaticProbeTerms,
      stopTerms: Seq[String] = Nil): DataFrame = {
    val m = readMeta(index)
    val idCol = index.columns.head
    // stop terms compare against the tokenizer's (lowercased) terms
    val stopped = stopTerms.map(_.toLowerCase(java.util.Locale.ROOT)).toSet
    val fresh = Iterator.from(0).map(i => s"__qtext$i")
      .find(c => !queries.columns.contains(c)).get
    val strippedQueries =
      if (stopped.isEmpty) queries
      else queries.withColumn(fresh,
        array_join(filter(TextAnalysis.tokens(col(queryTextCol)),
          t => !t.isInCollection(stopped)), " "))
    val qTextCol = if (stopped.isEmpty) queryTextCol else fresh
    val qTerms = strippedQueries
      .select(explode(array_distinct(TextAnalysis.tokens(col(qTextCol)))).as("t"))
      .distinct().limit(math.max(maxStaticProbeTerms, 0) + 1)
      .collect().map(_.getString(0)).toSeq
    val posts = index.filter(col("kind") === PostKind)
    val pruned =
      if (qTerms.length <= maxStaticProbeTerms) posts.filter(col("term").isInCollection(qTerms))
      else posts
    val tf = pruned.select(col(idCol).as("__doc"), col("term").as("__term"),
      col("tf").cast("double").as("__tf"))
    val dl = index.filter(col("kind") === DocKind)
      .select(col(idCol).as("__doc"), col("dl").cast("double").as("__dl"))
    val stats = index.sparkSession.range(1).select(
      lit(m.nDocs.toDouble).as("__nd"), lit(m.totTokens.toDouble).as("__tot"))
    TextAnalysis.bm25ScoreTopK(tf, dl, stats, strippedQueries, queryIdCol, qTextCol,
      k, k1, b, idCol)
  }

  /** Write the artifact term-sorted so [[topKAgainst]]'s literal term
    * filter turns into Parquet row-group skipping: postings range-
    * partition and sort by term (meta/doc rows' null terms collapse
    * into one partition, always read — they are the probe's other
    * scans anyway). One range exchange at write time buys every later
    * probe a slice-read.
    */
  def writeSorted(index: DataFrame, path: String): Unit =
    index.repartitionByRange(col("term"))
      .sortWithinPartitions(col("term"))
      .write.parquet(path)

  /** The posting-skew monitor — the family's monitor-per-artifact
    * symmetry applied to BM25 (r9): nothing in this artifact can go
    * STALE (df recomputes per probe), so the one operational statistic
    * worth watching is posting-list SKEW — a term whose list holds a
    * large corpus fraction makes every probe mentioning it scan that
    * fraction (the probe cost model), and is exactly the stop-word /
    * boilerplate signal a curation pass should have caught upstream.
    * One read-only groupBy over posting rows; `skew` is the largest
    * list over the mean list. Remedies when it fires: stop-word the
    * offenders at query time, or run the boilerplate passes
    * ([[LineDedup]]/[[TextDedup]]) upstream and rebuild.
    */
  final case class PostingSkew(
      nTerms: Long,
      nPostings: Long,
      maxPostings: Long,
      meanPostings: Double,
      skew: Double, // maxPostings / mean; 0 on an empty index
      top: Seq[(String, Long)]) // (term, posting count), count desc

  def postingSkewReport(index: DataFrame, topK: Int = 16): PostingSkew = {
    require(topK >= 1, s"topK must be >= 1, got $topK")
    val idCol = index.columns.head
    readMeta(index) // typed not-an-index guard
    val counts = index.filter(col("kind") === PostKind)
      .groupBy("term").agg(count(lit(1)).as("__n"))
      .persist()
    val agg = counts.agg(
      count(lit(1)).as("__terms"),
      coalesce(sum(col("__n")), lit(0L)).as("__posts"),
      coalesce(max(col("__n")), lit(0L)).as("__max")).collect()(0)
    val (nTerms, nPosts, maxP) = (agg.getLong(0), agg.getLong(1), agg.getLong(2))
    val top = counts.orderBy(col("__n").desc, col("term"))
      .limit(topK).collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    counts.unpersist()
    val mean = if (nTerms > 0) nPosts.toDouble / nTerms else 0.0
    PostingSkew(nTerms, nPosts, maxP, mean,
      if (mean > 0) maxP / mean else 0.0, top)
  }

  /** Probe SEVERAL index generations with one query batch — the
    * monthly-artifact layout, and (like [[LineFreqIndex]]'s family,
    * unlike the LSH one) EXACT with no compatibility knobs: BM25's
    * only global statistics are additive (`nDocs`/`totTokens` sum; df
    * recomputes from the unioned matched postings), so this equals
    * `topKAgainst(mergeMany(generations))` bit-for-bit WITHOUT
    * materializing the merge — pinned by Bm25IndexSpec. Ids must be
    * unique across generations; the tokenizer is the family constant,
    * so no recipe can disagree. `stopTerms` is the same query-time
    * posting-skew remedy as [[topKAgainst]]'s (r10 — the remedy must
    * be applicable on the monthly-artifact probe path too): listed
    * terms are stripped from the query text before term extraction, so
    * they reach neither the pruned posting scans nor the candidate
    * join, exactly as if never typed.
    */
  def topKAgainstMany(
      indexes: Seq[DataFrame],
      queries: DataFrame,
      queryIdCol: String,
      queryTextCol: String,
      k: Int,
      k1: Double = 1.2,
      b: Double = 0.75,
      maxStaticProbeTerms: Int = DefaultMaxStaticProbeTerms,
      stopTerms: Seq[String] = Nil): DataFrame = {
    require(indexes.nonEmpty, "need at least one index generation")
    val metas = indexes.map(readMeta)
    val idCol = indexes.head.columns.head
    val stopped = stopTerms.map(_.toLowerCase(java.util.Locale.ROOT)).toSet
    val fresh = Iterator.from(0).map(i => s"__qtext$i")
      .find(c => !queries.columns.contains(c)).get
    val strippedQueries =
      if (stopped.isEmpty) queries
      else queries.withColumn(fresh,
        array_join(filter(TextAnalysis.tokens(col(queryTextCol)),
          t => !t.isInCollection(stopped)), " "))
    val qTextCol = if (stopped.isEmpty) queryTextCol else fresh
    val qTerms = strippedQueries
      .select(explode(array_distinct(TextAnalysis.tokens(col(qTextCol)))).as("t"))
      .distinct().limit(math.max(maxStaticProbeTerms, 0) + 1)
      .collect().map(_.getString(0)).toSeq
    def posts(ix: DataFrame) = {
      val p = ix.filter(col("kind") === PostKind)
      if (qTerms.length <= maxStaticProbeTerms) p.filter(col("term").isInCollection(qTerms))
      else p
    }
    val tf = indexes.map(ix => posts(ix).select(col(idCol).as("__doc"),
      col("term").as("__term"), col("tf").cast("double").as("__tf"))).reduce(_ unionAll _)
    val dl = indexes.map(_.filter(col("kind") === DocKind)
      .select(col(idCol).as("__doc"), col("dl").cast("double").as("__dl")))
      .reduce(_ unionAll _)
    val stats = indexes.head.sparkSession.range(1).select(
      lit(metas.map(_.nDocs).sum.toDouble).as("__nd"),
      lit(metas.map(_.totTokens).sum.toDouble).as("__tot"))
    TextAnalysis.bm25ScoreTopK(tf, dl, stats, strippedQueries, queryIdCol, qTextCol,
      k, k1, b, idCol)
  }

  /** Append new documents — EXACT (nothing frozen): their postings and
    * doc rows union in, the meta counts add. Ids must stay unique.
    */
  def append(index: DataFrame, newDocs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val m = readMeta(index)
    val delta = build(newDocs, idCol, textCol)
    val dm = readMeta(delta)
    val merged = rowsWithMeta(index, idCol,
      Meta(m.nDocs + dm.nDocs, m.totTokens + dm.totTokens),
      index.filter(col("kind") =!= MetaKind)
        .unionAll(delta.filter(col("kind") =!= MetaKind)))
    delta.unpersist()
    merged
  }

  /** Merge several generations into ONE artifact — EXACT: stored-row
    * union plus one meta row with the summed counts. Ids must be
    * unique across all generations.
    */
  def mergeMany(indexes: Seq[DataFrame], idCol: String): DataFrame = {
    require(indexes.nonEmpty, "need at least one index generation")
    val metas = indexes.map(readMeta)
    rowsWithMeta(indexes.head, idCol,
      Meta(metas.map(_.nDocs).sum, metas.map(_.totTokens).sum),
      indexes.map(_.filter(col("kind") =!= MetaKind)).reduce(_ unionAll _))
  }

  private def rowsWithMeta(
      template: DataFrame, idCol: String, m: Meta, nonMeta: DataFrame): DataFrame = {
    val metaRow = template.sparkSession.range(1).select(
      lit(null).cast(template.schema(idCol).dataType).as(idCol),
      lit(MetaKind).as("kind"),
      lit(null).cast("string").as("term"),
      lit(null).cast("long").as("tf"),
      lit(null).cast("long").as("dl"),
      lit(metaString(m)).as("params"))
    val out = metaRow.select(template.columns.map(col): _*)
      .unionAll(nonMeta.select(template.columns.map(col): _*))
      .persist()
    out.count()
    out
  }
}
