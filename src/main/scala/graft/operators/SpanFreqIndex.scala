package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Persistable window-frequency index — the incremental-ingest form of
  * [[LineDedup.removeDuplicatedSpans]] (Lee et al.'s ExactSubstr dedup),
  * and the occurrence-count member of the index family ([[LshIndex]],
  * [[SimHashIndex]], [[IvfIndex]], [[LineFreqIndex]]).
  *
  * The one-shot operator re-slides windows over the whole corpus per
  * run — O(corpus) text CPU per nightly batch. This index stores
  * `(window, occurrence count)` once; [[removeAgainst]] windows only the
  * incoming batch and decides each batch window with `stored cnt +
  * batch cnt`, which — because batch docs are NEW (disjoint from indexed
  * ones) — EQUALS the total occurrence count over `kept ∪ batch`. The
  * equivalence is exact, not a staleness trade-off:
  * `removeAgainst(build(kept), batch)` returns precisely
  * `removeDuplicatedSpans(kept ∪ batch)` restricted to the batch's docs
  * (spec-pinned). [[append]] and [[mergeMany]] are likewise exact —
  * TOTAL occurrence counts over disjoint doc sets ADD (unlike
  * [[LineFreqIndex]] there is not even a distinctness subtlety: the
  * one-shot counts within-doc repeats too, so plain sums are the
  * semantics, not an approximation of them) — so there is nothing to
  * freeze and no compaction cadence.
  *
  * One asymmetry vs the one-shot is inherent to incremental ingest and
  * shared by the whole index family: already-kept documents are never
  * re-opened, so a kept doc whose window only NOW crosses `minDup`
  * (because the batch re-used it) keeps its span. The batch side is
  * exact; retroactive removal is a recuration, not an ingest.
  *
  * Index layout: ONE DataFrame (one Parquet artifact), row kind
  * discriminated by `kind`: `kind == 0` is the single metadata row
  * (`meta` = `v1;n=...;nDocs=...` recipe string); `kind == 1` rows are
  * `(win, cnt)` entries, one per distinct window.
  *
  * Probe plan shape: as with [[LineFreqIndex]], both probe joins put the
  * batch-derived side on the build side, so for a broadcast-sized batch
  * the big entry scan streams un-shuffled; a giant batch degrades to
  * shuffle joins, still O(index + batch), never all-pairs.
  */
object SpanFreqIndex {

  /** `kind` of the single metadata row / of window entries. */
  val MetaKind = 0
  val EntryKind = 1

  final case class Meta(n: Int, nDocs: Long)

  private def metaString(m: Meta): String = MetaCodec.render("n" -> m.n, "nDocs" -> m.nDocs)

  /** Parse the meta row back. Fails typed on a frame that is not a v1
    * window-frequency index.
    */
  def readMeta(index: DataFrame): Meta = {
    val rows = index.filter(col("kind") === MetaKind).select(col("meta")).collect()
    require(rows.length == 1,
      s"not a window-frequency index: expected exactly one meta row (kind = $MetaKind), found ${rows.length}")
    val kv = MetaCodec.parse(rows(0).getString(0), "window-frequency")
    Meta(kv("n").toInt, kv("nDocs").toLong)
  }

  private def entries(index: DataFrame): DataFrame =
    index.filter(col("kind") === EntryKind).select(col("win"), col("cnt"))

  private def withMeta(ents: DataFrame, m: Meta): DataFrame = {
    val s = ents.sparkSession
    import s.implicits._
    val metaRow = Seq((MetaKind, null.asInstanceOf[String], 0L, metaString(m)))
      .toDF("kind", "win", "cnt", "meta")
    ents.select(lit(EntryKind).as("kind"), col("win"), col("cnt"),
        lit(null).cast("string").as("meta"))
      .unionByName(metaRow)
  }

  /** Slide n-word windows over the corpus and store one `(win, cnt)`
    * row per distinct window (cnt = TOTAL occurrences, within-doc
    * repeats included — the same counting rule as
    * [[LineDedup.duplicatedSpanStats]]). Write the returned frame with
    * `.write.parquet(path)`; read it back with `spark.read.parquet` —
    * the probe needs nothing else.
    */
  def build(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
    require(n >= 1, s"window width must be >= 1, got $n")
    val wins = df.select(
      explode(LineDedup.slidingWindowsCol(col(textCol), n)).as("win"))
    val ents = wins.groupBy("win").agg(count(lit(1)).as("cnt"))
    withMeta(ents, Meta(n, df.count()))
  }

  /** Rebuild every batch document without the word positions covered by
    * a window whose corpus-wide occurrence count — stored cnt plus the
    * batch's own cnt — reaches `minDup`. Output shape and semantics
    * match [[LineDedup.removeDuplicatedSpans]] over `kept ∪ batch`
    * restricted to batch docs: `(idCol, text_kept, n_words, n_removed)`.
    * The caller guarantees batch doc ids are disjoint from indexed docs
    * (the family's new-docs contract).
    */
  def removeAgainst(
      index: DataFrame,
      incoming: DataFrame,
      idCol: String,
      textCol: String,
      minDup: Long): DataFrame = {
    require(minDup >= 2, s"minDup must be >= 2 (1 would remove every word), got $minDup")
    val meta = readMeta(index)
    val wins = incoming.select(
      col(idCol), posexplode(LineDedup.slidingWindowsCol(col(textCol), meta.n))
        .as(Seq("pos", "win")))
    val batchCnt = wins.groupBy("win").agg(count(lit(1)).as("__bc"))
    // entries ⋉ batch windows first: the semi join's build side is the
    // (small) batch frame, so the big entry scan streams un-shuffled
    val touched = entries(index)
      .join(batchCnt.select(col("win")), Seq("win"), "left_semi")
    val dupWins = batchCnt.join(touched, Seq("win"), "left")
      .filter(col("__bc") + coalesce(col("cnt"), lit(0L)) >= minDup)
      .select("win")
    LineDedup.rebuildWithoutCoveredSpans(
      incoming, idCol, textCol, meta.n, wins, dupWins)
  }

  /** Grow the index with a batch of NEW documents (ids disjoint from
    * every doc already counted). Exact: total occurrence counts over
    * disjoint doc sets add, so `append(build(a), b)` has exactly
    * `build(a ∪ b)`'s entries (spec-pinned) — no staleness, no
    * compaction cadence.
    */
  def append(
      index: DataFrame,
      incoming: DataFrame,
      idCol: String,
      textCol: String): DataFrame = {
    val meta = readMeta(index)
    val batchEnts = incoming.select(
        explode(LineDedup.slidingWindowsCol(col(textCol), meta.n)).as("win"))
      .groupBy("win").agg(count(lit(1)).as("cnt"))
    val merged = entries(index).unionByName(batchEnts)
      .groupBy("win").agg(sum(col("cnt")).as("cnt"))
    withMeta(merged, Meta(meta.n, meta.nDocs + incoming.count()))
  }

  /** Consolidate generation artifacts (e.g. monthly indexes over
    * disjoint doc sets) into one index — the same exact count-sum as
    * [[append]]. Fails typed when the generations disagree on the
    * window width.
    */
  def mergeMany(indexes: Seq[DataFrame]): DataFrame = {
    require(indexes.nonEmpty, "mergeMany needs at least one index")
    val metas = indexes.map(readMeta)
    val n = metas.head.n
    metas.zipWithIndex.drop(1).foreach { case (m, i) =>
      require(m.n == n,
        s"generation $i window width ${m.n} disagrees with generation 0's $n — " +
          "counts from different window widths cannot be summed")
    }
    val merged = indexes.map(entries).reduce(_ unionByName _)
      .groupBy("win").agg(sum(col("cnt")).as("cnt"))
    withMeta(merged, Meta(n, metas.map(_.nDocs).sum))
  }
}
