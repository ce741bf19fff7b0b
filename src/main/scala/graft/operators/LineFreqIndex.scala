package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Persistable segment-frequency index — the incremental-ingest form of
  * [[LineDedup.dedupLines]], and the count-only member of the index
  * family ([[LshIndex]], [[SimHashIndex]], [[IvfIndex]]).
  *
  * The one-shot operator recounts every segment's document frequency
  * over the whole corpus per run — O(corpus) text CPU per nightly
  * batch. This index stores `(segment, doc-frequency)` once;
  * [[filterAgainst]] segments only the incoming batch and decides each
  * batch segment with `stored df + batch df`, which — because batch doc
  * ids are disjoint from indexed ones — EQUALS the corpus-wide
  * frequency over `kept ∪ batch`. The equivalence is exact, not a
  * staleness trade-off: `filterAgainst(build(kept), batch)` returns
  * precisely `dedupLines(kept ∪ batch)` restricted to the batch's docs
  * (pinned by spec). [[append]] and [[mergeMany]] are likewise exact —
  * distinct-doc counts over disjoint doc sets ADD, so there is nothing
  * to freeze and no compaction cadence, unlike the LSH stop set.
  *
  * Index layout: ONE DataFrame (one Parquet artifact), row kind
  * discriminated by `kind`: `kind == 0` is the single metadata row
  * (`meta` = `v1;...` recipe string, delimiter regex hex-encoded so the
  * encoding never collides with the recipe syntax); `kind == 1` rows
  * are `(seg, df)` entries, one per distinct segment.
  *
  * Probe plan shape: the index entries are never shuffled in the normal
  * (broadcast-sized batch) case — both probe joins put the
  * batch-derived side on the build side, so AQE broadcasts them and the
  * entry scan streams; a giant batch degrades to shuffle joins, still
  * O(index + batch). The caller guarantees batch doc ids are disjoint
  * from indexed doc ids (the same new-docs contract as the rest of the
  * index family).
  */
object LineFreqIndex {

  /** `kind` of the single metadata row / of segment entries. */
  val MetaKind = 0
  val EntryKind = 1

  final case class Meta(segmenter: LineDedup.Segmenter, nDocs: Long)

  private def hex(s: String): String =
    s.getBytes("UTF-8").map(b => f"${b & 0xff}%02x").mkString
  private def unhex(h: String): String =
    new String(h.grouped(2).map(x => Integer.parseInt(x, 16).toByte).toArray, "UTF-8")

  private def metaString(m: Meta): String = m.segmenter match {
    case LineDedup.DelimSegments(re) =>
      MetaCodec.render("mode" -> "delim", "regex" -> hex(re), "nDocs" -> m.nDocs)
    case LineDedup.WordChunkSegments(k) =>
      MetaCodec.render("mode" -> "chunk", "k" -> k, "nDocs" -> m.nDocs)
  }

  /** Parse the meta row back. Fails typed on a frame that is not a v1
    * segment-frequency index.
    */
  def readMeta(index: DataFrame): Meta = {
    val rows = index.filter(col("kind") === MetaKind).select(col("meta")).collect()
    require(rows.length == 1,
      s"not a segment-frequency index: expected exactly one meta row (kind = $MetaKind), found ${rows.length}")
    val kv = MetaCodec.parse(rows(0).getString(0), "segment-frequency")
    val seg = kv("mode") match {
      case "delim" => LineDedup.DelimSegments(unhex(kv("regex")))
      case "chunk" => LineDedup.WordChunkSegments(kv("k").toInt)
      case m       => throw new IllegalArgumentException(s"unknown segmenter mode: $m")
    }
    Meta(seg, kv("nDocs").toLong)
  }

  private def entries(index: DataFrame): DataFrame =
    index.filter(col("kind") === EntryKind).select(col("seg"), col("df"))

  private def withMeta(ents: DataFrame, m: Meta): DataFrame = {
    val s = ents.sparkSession
    import s.implicits._
    val metaRow = Seq((MetaKind, null.asInstanceOf[String], 0L, metaString(m)))
      .toDF("kind", "seg", "df", "meta")
    ents.select(lit(EntryKind).as("kind"), col("seg"), col("df"),
        lit(null).cast("string").as("meta"))
      .unionByName(metaRow)
  }

  /** Segment the corpus and store one `(seg, df)` row per distinct
    * segment (df = distinct-document frequency). Write the returned
    * frame with `.write.parquet(path)`; read it back with
    * `spark.read.parquet` — the probe needs nothing else.
    */
  def build(
      df: DataFrame,
      idCol: String,
      textCol: String,
      segmenter: LineDedup.Segmenter): DataFrame = {
    val segs = df.select(col(idCol).as("__id"),
      explode(LineDedup.segmentsCol(col(textCol), segmenter)).as("seg"))
    val ents = segs.groupBy("seg").agg(countDistinct(col("__id")).as("df"))
    withMeta(ents, Meta(segmenter, df.count()))
  }

  /** Rebuild every batch document from the segments whose corpus-wide
    * document frequency — stored df plus the batch's own df — is
    * ≤ `maxDocFreq`. Output shape and semantics match
    * [[LineDedup.dedupLines]] over `kept ∪ batch` restricted to batch
    * docs: `(idCol, text_kept, n_total, n_kept)`.
    */
  def filterAgainst(
      index: DataFrame,
      incoming: DataFrame,
      idCol: String,
      textCol: String,
      maxDocFreq: Long,
      joiner: Option[String] = None): DataFrame = {
    require(maxDocFreq >= 1, s"maxDocFreq must be >= 1, got $maxDocFreq")
    val meta = readMeta(index)
    val segmenter = meta.segmenter
    val join = joiner.getOrElse(LineDedup.joinerFor(segmenter))
    val id = col(idCol)

    val segs = incoming.select(
      id, posexplode(LineDedup.segmentsCol(col(textCol), segmenter)).as(Seq("pos", "seg")))
    val batchDf = segs.groupBy("seg").agg(countDistinct(id).as("__bdf"))
    // entries ⋉ batch segments first: the semi join's build side is the
    // (small) batch frame, so the big entry scan streams un-shuffled
    val touched = entries(index)
      .join(batchDf.select(col("seg")), Seq("seg"), "left_semi")
    val total = batchDf.join(touched, Seq("seg"), "left")
      .select(col("seg"),
        (col("__bdf") + coalesce(col("df"), lit(0L))).as("__df"))

    val kept = segs.join(total, Seq("seg")).filter(col("__df") <= maxDocFreq)
    val rebuilt = kept.groupBy(idCol).agg(
      array_join(
        transform(
          array_sort(collect_list(struct(col("pos"), col("seg")))),
          x => x.getField("seg")),
        join).as("text_kept"),
      count(lit(1)).as("n_kept"))
    val totals = incoming.select(
      id, size(LineDedup.segmentsCol(col(textCol), segmenter)).cast("long").as("n_total"))
    totals.join(rebuilt, Seq(idCol), "left")
      .select(
        id,
        coalesce(col("text_kept"), lit("")).as("text_kept"),
        col("n_total"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"))
  }

  /** Grow the index with a batch of NEW documents (ids disjoint from
    * every doc already counted). Exact: distinct-doc frequencies over
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
    val batch = incoming.select(col(idCol).as("__id"),
      explode(LineDedup.segmentsCol(col(textCol), meta.segmenter)).as("seg"))
    val batchEnts = batch.groupBy("seg").agg(countDistinct(col("__id")).as("df"))
    val merged = entries(index).unionByName(batchEnts)
      .groupBy("seg").agg(sum(col("df")).as("df"))
    withMeta(merged, Meta(meta.segmenter, meta.nDocs + incoming.count()))
  }

  /** Consolidate generation artifacts (e.g. monthly indexes over
    * disjoint doc sets) into one index — the same exact count-sum as
    * [[append]]. Fails typed when the generations disagree on the
    * segmenter recipe.
    */
  def mergeMany(indexes: Seq[DataFrame]): DataFrame = {
    require(indexes.nonEmpty, "mergeMany needs at least one index")
    val metas = indexes.map(readMeta)
    val seg = metas.head.segmenter
    metas.zipWithIndex.drop(1).foreach { case (m, i) =>
      require(m.segmenter == seg,
        s"generation $i segmenter recipe ${m.segmenter} disagrees with generation 0's $seg — " +
          "frequencies from different segmentations cannot be summed")
    }
    val merged = indexes.map(entries).reduce(_ unionByName _)
      .groupBy("seg").agg(sum(col("df")).as("df"))
    withMeta(merged, Meta(seg, metas.map(_.nDocs).sum))
  }
}
