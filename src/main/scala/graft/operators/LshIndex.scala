package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Persistable MinHash-LSH index: build once over the kept corpus, probe
  * many times with incoming batches — the incremental-ingest form of
  * [[TextDedup.minHashLshPairsAgainst]].
  *
  * The one-shot operator unions existing+incoming and re-runs the full
  * shingle/sign/band pipeline over BOTH sides on every call — O(corpus)
  * CPU per ingest. At a 100-TB kept corpus with daily crawls that
  * re-payment dominates; this index pays the corpus-side cost ONCE:
  * [[build]] shingles, signs and bands the kept corpus into a plain
  * DataFrame the caller persists to Parquet, and [[pairsAgainst]] signs
  * only the incoming batch and probes the stored buckets. The kept side
  * is then a columnar SCAN (band/bucket filter pushdown, no text
  * processing, and — when the incoming batch is broadcast-sized, the
  * normal case — no shuffle of the stored entries at all).
  *
  * One kernel states the lifecycle once: `sign` (shingle, prune with the
  * frozen stop set, MinHash, band) serves build, append and every probe;
  * `indexRows` writes the meta, doc and entry rows of build, append and
  * compact; `recount` applies the frozen cap over exact bucket sizes for
  * build and compact; `verify` is the Jaccard join that ends every
  * probe; `without` is the dedup forms' drop-set and md5 rail; `recipe`
  * is the one build-parameter check across generations.
  *
  * Index layout: ONE DataFrame (so one Parquet artifact), row kind
  * discriminated by `band`:
  *   - `band == -1` (one row): metadata — `bucket` holds the frozen
  *     build parameters as a `v1;k=v;...` string, `sh` holds the frozen
  *     document-frequency stop set.
  *   - `band == -2` (one row per doc): `sh` = DF-pruned shingle hashes
  *     (what pair verification compares), `sig` = the MinHash signature
  *     (kept so the index can be re-banded without re-shingling),
  *     `text_md5` = digest for the exact-text dedup rail.
  *   - `band in [0, bands)` (one row per doc per band): `bucket` = the
  *     band's bucket key, `cnt` = that bucket's size at build time.
  *     Buckets larger than `maxBucketSize` are dropped HERE — under the
  *     one-shot operator's union cap they could never survive any probe
  *     (kept-side count alone already exceeds the cap), so dropping them
  *     at build loses nothing and keeps every future probe's join
  *     bounded.
  *
  * FROZEN STOP SET — the deliberate staleness trade-off: the one-shot
  * operator recomputes document frequencies over existing+incoming on
  * every call; the index freezes the stop set computed over the kept
  * corpus at build time. Probes prune incoming shingles with that frozen
  * set, so a boilerplate template that only becomes frequent in LATER
  * crawls is not pruned until the index is rebuilt. The index IS the
  * corpus, so freezing is the semantically honest choice (a stop set
  * must describe the corpus it prunes — SCALE.md's own rule); rebuild
  * the index (nightly compaction) to refresh it. With pruning disabled
  * (`maxDocFreqRatio = 1.0`) or when kept-side and union stop sets agree
  * (they are both empty below the [[TextDedup.DefaultMinDocFreq]] floor),
  * probe results are IDENTICAL to the one-shot operator — pinned by
  * LshIndexSpec.
  *
  * Bucket keys are [[TextDedup.bandKey]], the one-shot operator's own
  * keys, stored as strings in both hash modes (casting the production
  * int key is injective, so bucket groups are unchanged); one schema
  * means one Parquet artifact regardless of mode.
  */
object LshIndex {

  /** `band` value of the single metadata row. */
  val MetaBand: Int = -1
  /** `band` value of per-document shingle/signature rows. */
  val DocBand: Int = -2

  /** Frozen build parameters, parsed back from the index's meta row. */
  final case class Meta(
      n: Int, numPerm: Int, bands: Int, seed: Long, portableHash: Boolean,
      maxBucketSize: Int, builtDroppedBuckets: Long, nDocs: Long)

  private def metaString(m: Meta): String =
    MetaCodec.render("n" -> m.n, "numPerm" -> m.numPerm, "bands" -> m.bands, "seed" -> m.seed,
      "portable" -> m.portableHash, "cap" -> m.maxBucketSize,
      "builtDropped" -> m.builtDroppedBuckets, "nDocs" -> m.nDocs)

  /** Meta row + frozen stop set of `index`. Fails typed on a frame that
    * is not a v1 LSH index (no meta row / unknown version).
    */
  def readMeta(index: DataFrame): (Meta, Array[Long]) = {
    val rows = index.filter(col("band") === MetaBand)
      .select(col("bucket"), col("sh")).collect()
    require(rows.length == 1,
      s"not an LSH index: expected exactly one meta row (band = $MetaBand), found ${rows.length}")
    val kv = MetaCodec.parse(rows(0).getString(0), "LSH")
    val meta = Meta(
      n = kv("n").toInt, numPerm = kv("numPerm").toInt,
      bands = kv("bands").toInt, seed = kv("seed").toLong,
      portableHash = kv("portable").toBoolean,
      maxBucketSize = kv("cap").toInt,
      builtDroppedBuckets = kv("builtDropped").toLong,
      nDocs = kv("nDocs").toLong)
    val stop = Option(rows(0).getSeq[Long](1)).map(_.toArray).getOrElse(Array.empty[Long])
    (meta, stop)
  }

  private def shingleCol(textCol: String, m: Meta): Column =
    if (m.portableHash) TextDedup.shingleHashesPortable(col(textCol), m.n)
    else TextDedup.shingleHashes(col(textCol), m.n)

  /** `(idCol, text_md5, sh)`: the exact-text digest and the raw shingle
    * hashes of `df`'s text under `m`'s shingle recipe.
    */
  private def shingled(m: Meta, df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), md5(col(textCol)).as("text_md5"), shingleCol(textCol, m).as("sh"))

  /** The signing step under recipe `m` and frozen stop set `stop`:
    * `shingled`'s `sh` pruned by the stop set, with its MinHash `sig`
    * (persisted — the caller's first action over the band rows fills
    * it), and the band rows `(id, band, bucket)` over it.
    */
  private def sign(m: Meta, stop: Array[Long], shingled: DataFrame,
      id: String): (DataFrame, DataFrame) = {
    val pruned =
      if (stop.isEmpty) shingled
      else shingled.withColumn("sh", TextDedup.pruneUdf(stop)(col("sh")))
    val docs = pruned
      .withColumn("sig", udf(TextDedup.sigFromHashesKernel(m.numPerm, m.seed)).apply(col("sh")))
      .persist()
    val key = TextDedup.bandKey(col("sig"), m.numPerm / m.bands, m.portableHash)
    (docs, docs.select(col(id), posexplode(transform(sequence(lit(0), lit(m.bands - 1)),
      b => key(b).cast("string"))).as(Seq("band", "bucket"))))
  }

  /** The index rows: the meta row of `m`/`stop`, a doc row per `docs`
    * row `(idCol, sh, sig, text_md5)` and an entry row per `entries` row
    * `(idCol, band, bucket, cnt)`.
    */
  private def indexRows(idCol: String, m: Meta, stop: Array[Long],
      docs: DataFrame, entries: DataFrame): DataFrame = {
    val noHashes = lit(null).cast("array<bigint>")
    val noDigest = lit(null).cast("string")
    docs.sparkSession.range(1).select(
        lit(null).cast(docs.schema(idCol).dataType).as(idCol), lit(MetaBand).as("band"),
        lit(metaString(m)).as("bucket"), lit(null).cast("long").as("cnt"),
        typedLit(stop.toSeq).as("sh"), noHashes.as("sig"), noDigest.as("text_md5"))
      .unionAll(docs.select(
        col(idCol), lit(DocBand).as("band"), noDigest.as("bucket"),
        lit(null).cast("long").as("cnt"), col("sh"), col("sig"), col("text_md5")))
      .unionAll(entries.select(
        col(idCol), col("band"), col("bucket"), col("cnt"),
        noHashes.as("sh"), noHashes.as("sig"), noDigest.as("text_md5")))
  }

  /** The index over the persisted `docs` and their `(idCol, band,
    * bucket)` entries under the frozen cap: exact bucket sizes, buckets
    * over `m`'s cap dropped and their number recorded as
    * `builtDroppedBuckets`. The result is persisted and materialized;
    * `docs` is released.
    */
  private def recount(idCol: String, m: Meta, stop: Array[Long],
      docs: DataFrame, entries: DataFrame): DataFrame = {
    // persisted: read by the dropped count AND by the cap join of the
    // final materialization — left lazy, that count re-ran the aggregate
    val counts = entries.groupBy("band", "bucket").agg(count(lit(1)).as("cnt")).persist()
    val dropped = counts.filter(col("cnt") > m.maxBucketSize).count()
    val kept = entries.join(counts.filter(col("cnt") <= m.maxBucketSize), Seq("band", "bucket"))
    val index = indexRows(idCol, m.copy(builtDroppedBuckets = dropped), stop, docs, kept)
      .persist()
    index.count()
    counts.unpersist()
    docs.unpersist()
    index
  }

  /** [[recount]] of the stored doc and entry rows of `rows` (one or more
    * generations, meta rows ignored) under `recipe`, `nDocs` recounted.
    */
  private def compacted(rows: DataFrame, idCol: String, recipe: (Meta, Array[Long])): DataFrame = {
    val (m, stop) = recipe
    val docs = rows.filter(col("band") === DocBand)
      .select(col(idCol), col("sh"), col("sig"), col("text_md5"))
      .persist()
    recount(idCol, m.copy(nDocs = docs.count()), stop, docs,
      rows.filter(col("band") >= 0).select(col(idCol), col("band"), col("bucket")))
  }

  /** Sign the incoming batch: `(id_incoming, sh, sig)` and its band
    * rows, both persisted. No eager count: the caller's first action
    * over the band rows fills both, and every caller materializes its
    * pairs before releasing them.
    */
  private def signIncoming(m: Meta, stop: Array[Long], incoming: DataFrame,
      idCol: String, textCol: String): (DataFrame, DataFrame) = {
    val (inDocs, inBanded) = sign(m, stop,
      incoming.select(col(idCol).as("id_incoming"), shingleCol(textCol, m).as("sh")),
      "id_incoming")
    (inDocs, inBanded.persist())
  }

  /** Candidate `(id_existing, id_incoming)` pairs verified by the
    * Jaccard of their pruned shingle sets: the stored side from
    * `stored`'s doc rows, the incoming side from `inDocs`. Lazy.
    */
  private def verify(cands: DataFrame, stored: Seq[DataFrame], idCol: String,
      inDocs: DataFrame, threshold: Double): DataFrame = {
    val docsSh = stored.map(_.filter(col("band") === DocBand)
      .select(col(idCol).as("id_existing"), col("sh").as("sh_a"))).reduce(_ unionAll _)
    cands.select("id_existing", "id_incoming").distinct()
      .join(docsSh, "id_existing")
      .join(inDocs.select(col("id_incoming"), col("sh").as("sh_b")), "id_incoming")
      .withColumn("jaccard", TextDedup.jaccard(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_existing"), col("id_incoming"), col("jaccard"))
  }

  /** The probe under the recipe `m`/`stop` read from `index`: its lazy
    * pair plan (`id_existing`, `id_incoming`, `jaccard`), the
    * touched-bucket rows over the cap, and the incoming-side persists
    * the plan reads (callers unpersist them once the pairs are
    * materialized). With `dropMetric` set, the plan observes under that
    * name the number of distinct buckets the cap suppresses.
    */
  private def probe(
      index: DataFrame, m: Meta, stop: Array[Long], incoming: DataFrame,
      idCol: String, textCol: String, threshold: Double,
      dropMetric: Option[String]): (DataFrame, DataFrame, Seq[DataFrame]) = {
    val (inDocs, inBanded) = signIncoming(m, stop, incoming, idCol, textCol)
    // Distinct incoming buckets are bounded by bands * |incoming| — the
    // incremental-ingest case broadcasts this side, so stored entries
    // are scanned (band >= 0 pushes to Parquet) but never shuffled.
    // Entries per bucket are capped at build, incoming counts ride the
    // join row, so the joined frame is bounded by cap * |touched buckets|.
    val joined = index.filter(col("band") >= 0)
      .select(col(idCol).as("id_existing"), col("band"), col("bucket"), col("cnt"))
      .join(inBanded.groupBy("band", "bucket").agg(count(lit(1)).as("cnt_i")),
        Seq("band", "bucket"))
    val over = col("cnt") + col("cnt_i") > m.maxBucketSize
    val observed = dropMetric.fold(joined)(name => joined.observe(name,
      size(collect_set(when(over, struct(col("band"), col("bucket"))))).cast("long").as("n")))
    val cands = observed.filter(!over).join(inBanded, Seq("band", "bucket"))
    (verify(cands, Seq(index), idCol, inDocs, threshold), joined.filter(over),
      Seq(inDocs, inBanded))
  }

  /** [[pairsAgainst]] under the recipe already read from `index`. */
  private def pairsWith(
      index: DataFrame, recipe: (Meta, Array[Long]), incoming: DataFrame,
      idCol: String, textCol: String, threshold: Double): TextDedup.LshPairs = {
    val (m, stop) = recipe
    val metric = s"lsh_probe_dropped_${java.util.UUID.randomUUID()}"
    val (pairs, overJoined, cached) =
      probe(index, m, stop, incoming, idCol, textCol, threshold, Some(metric))
    val result = pairs.persist()
    val droppedBuckets = TextDedup.countObserved(result, metric).getOrElse(
      overJoined.select("band", "bucket").distinct().count())
    cached.foreach(_.unpersist())
    TextDedup.LshPairs(result, droppedBuckets, stop.length)
  }

  /** `incoming` minus the incoming ids of `pairs` and minus exact-text
    * matches of `stored`'s doc rows (the md5 rail), columns and order
    * preserved, and the drop set that result reads. The drop set is
    * materialized first (a `localCheckpoint`), then `pairs` and the
    * persists in `held` are released: a lazy anti-join against them
    * would re-run the probe at the caller's first action. The drop set
    * stays pinned until the caller releases it.
    */
  private def without(incoming: DataFrame, idCol: String, textCol: String,
      pairs: DataFrame, held: Seq[DataFrame], stored: Seq[DataFrame])
      : (DataFrame, DataFrame) = {
    val dupIds = pairs.select(col("id_incoming").as(idCol)).distinct().localCheckpoint()
    (pairs +: held).foreach(_.unpersist())
    val th = Iterator.from(0).map(i => s"__th$i").find(c => !incoming.columns.contains(c)).get
    val exTextHashes = stored.map(_.filter(col("band") === DocBand)
        .select(col("text_md5").as(th))).reduce(_ unionAll _)
      .na.drop().distinct()
    (incoming.join(dupIds, Seq(idCol), "left_anti")
      .withColumn(th, md5(col(textCol)))
      .join(exTextHashes, Seq(th), "left_anti")
      .select(incoming.columns.map(col): _*), dupIds)
  }

  /** The recipes of `indexes`, which must agree on the build parameters
    * that place a document in a bucket.
    */
  private def recipe(indexes: Seq[DataFrame]): Seq[(Meta, Array[Long])] = {
    require(indexes.nonEmpty, "need at least one index generation")
    val recipes = indexes.map(readMeta)
    val base = recipes.head._1
    require(recipes.forall { case (m, _) => m.n == base.n && m.numPerm == base.numPerm &&
      m.bands == base.bands && m.seed == base.seed && m.portableHash == base.portableHash },
      "index generations disagree on build parameters " +
        "(n/numPerm/bands/seed/hash mode) — rebuild with one recipe")
    recipes
  }

  /** Stored shingles pruned by DIFFERENT stop sets live in different
    * spaces — comparing or counting them together would be silently
    * wrong.
    */
  private def requireOneStopSet(recipes: Seq[(Meta, Array[Long])]): Unit = {
    val sets = recipes.map(_._2.sorted.toSeq)
    require(sets.forall(_ == sets.head),
      "index generations disagree on the frozen stop set — stored " +
        "shingles were pruned differently and share no comparable space; " +
        "rebuild the generations from raw text with one recipe")
  }

  /** The global-cap / merge compatibility bar: one cap and one frozen
    * stop set across generations.
    */
  private def requireOneShingleSpace(recipes: Seq[(Meta, Array[Long])]): Unit = {
    require(recipes.forall(_._1.maxBucketSize == recipes.head._1.maxBucketSize),
      "index generations disagree on maxBucketSize — a global cap needs one cap")
    requireOneStopSet(recipes)
  }

  /** Build the index over the kept corpus. Returned frame is persisted
    * (call `.unpersist()` once written); write it with
    * `index.write.parquet(path)` and read it back with
    * `spark.read.parquet` — the probe needs nothing else.
    *
    * Parameters mirror [[TextDedup.minHashLshDedup]]; `maxDocFreqRatio` /
    * `minDocFreq` shape the FROZEN stop set (see object doc), and
    * `maxBucketSize` is frozen as the cap every future probe enforces
    * (a probe cannot resurrect a bucket dropped at build, so the cap is
    * an index property, not a probe argument).
    */
  def build(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      numPerm: Int = 64,
      bands: Int = 16,
      seed: Long = 42L,
      maxBucketSize: Int = 2000,
      maxDocFreqRatio: Double = 0.5,
      portableHash: Boolean = false,
      minDocFreq: Long = TextDedup.DefaultMinDocFreq): DataFrame = {
    require(numPerm % bands == 0, "numPerm must divide into bands")
    require(maxDocFreqRatio > 0.0, "maxDocFreqRatio must be positive")
    require(minDocFreq >= 0, "minDocFreq must be non-negative")
    // nDocs from a column-pruned scan of the input: counting the
    // shingle frame would pay a full kernel pass before any consumer
    // needed it
    val m = Meta(n, numPerm, bands, seed, portableHash, maxBucketSize, 0L, df.count())
    // same two-bar policy as lshCore: ratio with an absolute floor,
    // both recomputed from THIS corpus; the result is then frozen.
    // The shingle frame is persisted ONLY when a stop pass will read it
    // before the doc persist does: with pruning disabled that persist
    // is the sole consumer and an extra cache layer is pure memory
    // pressure.
    val pruning = maxDocFreqRatio < 1.0
    val sh = if (pruning) shingled(m, df, idCol, textCol).persist()
      else shingled(m, df, idCol, textCol)
    val stop: Array[Long] =
      if (!pruning) Array.empty
      else {
        val cutoff = math.max((m.nDocs * maxDocFreqRatio).toLong, minDocFreq)
        sh.select(explode(col("sh")).as("__h"))
          .groupBy("__h").count()
          .filter(col("count") > cutoff)
          .select("__h").collect().map(_.getLong(0))
      }
    // no eager count of the signed docs: the dropped-bucket count is the
    // first action over them and fills their persist in the same pass
    val (docs, entries) = sign(m, stop, sh, idCol)
    val index = recount(idCol, m, stop, docs, entries)
    sh.unpersist() // no-op when the stop pass never persisted it
    index
  }

  /** Cross-corpus near-dup pairs against the stored index: identical
    * output contract to [[TextDedup.minHashLshPairsAgainst]]
    * (`id_existing`, `id_incoming`, `jaccard`) — with the kept side read
    * from the index instead of re-shingled/re-signed. Only the incoming
    * batch pays CPU; the stored side is a scan.
    *
    * Cap semantics match the one-shot operator exactly: a bucket is
    * suppressed when its COMBINED size (stored `cnt` + incoming count)
    * exceeds the frozen `maxBucketSize` — the union bucket size, since
    * ids are unique across both corpora (same precondition as the
    * one-shot form). `droppedBuckets` on the result counts buckets
    * suppressed at probe time (an observed counter on the pair action);
    * build-time drops are in the meta row.
    */
  def pairsAgainst(
      index: DataFrame,
      incoming: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double = 0.5): TextDedup.LshPairs =
    pairsWith(index, readMeta(index), incoming, idCol, textCol, threshold)

  /** Index-backed twin of [[TextDedup.dedupAgainst]]: `incoming` minus
    * near-dups of the indexed corpus (LSH pairs at `threshold`) minus
    * exact-text matches (md5 rail — catches sub-`n`-length texts that
    * shingle to the empty set), preserving `incoming`'s columns and
    * order. The md5 digests come from the index's doc rows, so the
    * kept corpus's raw text is never needed at probe time.
    */
  def dedupAgainst(
      index: DataFrame,
      incoming: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double = 0.8): DataFrame =
    dedupAgainstWith(index, readMeta(index), incoming, idCol, textCol, threshold)._1

  /** [[dedupAgainst]] under the recipe already read from `index`, and the
    * drop set the result reads: a `localCheckpoint` the caller releases
    * ([[graft.Pins.release]]) once the result is materialized. The
    * pairs persist is filled by the drop set's job; it is there for its
    * statistics: the checkpoint then carries the materialized size, so
    * the anti-join is planned as a broadcast, as over any small cached
    * frame.
    */
  private[operators] def dedupAgainstWith(
      index: DataFrame,
      recipe: (Meta, Array[Long]),
      incoming: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double): (DataFrame, DataFrame) = {
    val (m, stop) = recipe
    val (pairs, _, cached) =
      probe(index, m, stop, incoming, idCol, textCol, threshold, dropMetric = None)
    without(incoming, idCol, textCol, pairs.persist(), cached, Seq(index))
  }

  /** Append new documents (already deduped — the caller's survivors) to
    * the index, signing ONLY the new docs with the frozen parameters and
    * stop set. Ids must stay unique across the whole index.
    *
    * Appended entry rows carry BATCH-LOCAL bucket counts (recomputing
    * exact corpus-wide counts would rewrite every touched bucket's
    * stored rows — the compaction job's business, not the ingest path's).
    * Understated counts only UNDER-suppress: a probe may verify a few
    * pairs the one-shot cap would have skipped, never miss one. Rebuild
    * with [[build]] periodically to restore exact counts and refresh the
    * stop set — the nightly-compaction pattern.
    */
  def append(
      index: DataFrame,
      newDocs: DataFrame,
      idCol: String,
      textCol: String): DataFrame =
    appendWith(index, readMeta(index), newDocs, newDocs.count(), idCol, textCol)

  /** [[append]] under the recipe already read from `index`, with the
    * `nNew` rows of `newDocs` already counted.
    */
  private[operators] def appendWith(
      index: DataFrame,
      recipe: (Meta, Array[Long]),
      newDocs: DataFrame,
      nNew: Long,
      idCol: String,
      textCol: String): DataFrame = {
    val (m, stop) = recipe
    val (docs, entries) = sign(m, stop, shingled(m, newDocs, idCol, textCol), idCol)
    val counted = entries.join(
      entries.groupBy("band", "bucket").agg(count(lit(1)).as("cnt")), Seq("band", "bucket"))
    val appended = index.filter(col("band") =!= MetaBand)
      .unionAll(indexRows(idCol, m.copy(nDocs = m.nDocs + nNew), stop, docs, counted))
      .persist()
    appended.count() // fills the docs persist too
    docs.unpersist()
    appended
  }

  /** The staleness monitor, closing the SCALE.md `staleness` record's
    * loop: reports whether any shingle ABSENT from the frozen
    * stop set has grown past the stop-set bar in the CURRENT corpus —
    * the exact condition under which the measured staleness defects
    * switch on (4-5x probe cost, several-fold spurious pairs, silently
    * missed diluted dups; see SCALE.md). Every gram in stored doc rows
    * is outside the frozen stop set by construction (build and append
    * both prune before storing), so one explode + groupBy over the
    * stored `sh` arrays IS the union-wide DF of candidate offenders —
    * no text access, no re-shingling, no signing. Deliberately a
    * corpus-sized doc-row scan (the price of a build's stop-set pass
    * minus all its text CPU): run it on the nightly cadence and rebuild
    * WHEN IT FIRES instead of on a timer.
    *
    * `maxDocFreqRatio`/`minDocFreq` are parameters (the build-time
    * policy is not stored in the meta row): pass the same values the
    * index was built with, or a stricter bar to get early warning.
    */
  final case class StalenessReport(
      nDocs: Long,
      cutoff: Long,
      crossed: Boolean,
      offenders: Seq[(Long, Long)]) // (shingle hash, union-wide doc freq), df desc

  def stalenessReport(
      index: DataFrame,
      maxDocFreqRatio: Double = 0.5,
      minDocFreq: Long = TextDedup.DefaultMinDocFreq,
      maxOffenders: Int = 100): StalenessReport =
    stalenessReportMany(Seq(index), maxDocFreqRatio, minDocFreq, maxOffenders)

  /** The monitor-then-rebuild nightly loop as one call: run
    * [[stalenessReport]]; if it fires, [[build]] a fresh index over
    * `corpus` (the kept corpus's raw text — the one input the index
    * cannot reconstruct) reusing the EXACT frozen recipe from the meta
    * row (n / numPerm / bands / seed / hash mode / bucket cap), so the
    * rebuild is the same index with a fresh stop set and exact counts —
    * never an accidental recipe change; if it stays silent, return the
    * index untouched (the SCALE.md `staleness` record's finding 1:
    * below the bar a rebuild buys nothing). The returned report is the
    * evidence either way — log it.
    *
    * The caller owns consistency between `index` and `corpus`: pass the
    * same kept corpus the index covers (nDocs mismatch fails typed as a
    * cheap guard against probing last week's corpus frame).
    */
  def rebuildIfStale(
      index: DataFrame,
      corpus: DataFrame,
      idCol: String,
      textCol: String,
      maxDocFreqRatio: Double = 0.5,
      minDocFreq: Long = TextDedup.DefaultMinDocFreq): (DataFrame, StalenessReport) = {
    val recipe = readMeta(index)
    val m = recipe._1
    val report = staleness(Seq(index), Seq(recipe), maxDocFreqRatio, minDocFreq, 100)
    if (!report.crossed) (index, report)
    else {
      val n = corpus.count()
      require(n == m.nDocs,
        s"corpus has $n docs but the index covers ${m.nDocs} — rebuildIfStale " +
          "needs the exact kept corpus the index was grown over")
      (build(corpus, idCol, textCol, m.n, m.numPerm, m.bands, m.seed,
        m.maxBucketSize, maxDocFreqRatio, m.portableHash, minDocFreq), report)
    }
  }

  /** [[stalenessReport]] over SEVERAL generations — the monthly-index
    * layout's monitor, WITHOUT materializing [[mergeMany]] first (the
    * merge unions doc AND entry rows and recounts every bucket; the
    * monitor needs only the doc rows' pruned shingle sets, so running
    * it through a merge would pay a full compact for a read-only
    * question). Union-wide document frequency per un-stopped shingle,
    * one columnar scan over each generation's doc rows, zero text CPU;
    * the bar is `max(totalDocs * maxDocFreqRatio, minDocFreq)` over the
    * COMBINED doc count — exactly what [[stalenessReport]] on the
    * merged artifact would compute (pinned by LshStalenessSpec).
    *
    * Compatibility bar: same shingle space only — `n` / hash mode and
    * one frozen stop set (stored shingles pruned by different stop sets
    * are not comparable). Deliberately NOT the full probe bar
    * (numPerm/bands/seed/cap don't enter a document-frequency count);
    * generations probeable together are always monitorable together,
    * but not vice versa.
    */
  def stalenessReportMany(
      indexes: Seq[DataFrame],
      maxDocFreqRatio: Double = 0.5,
      minDocFreq: Long = TextDedup.DefaultMinDocFreq,
      maxOffenders: Int = 100): StalenessReport =
    staleness(indexes, indexes.map(readMeta), maxDocFreqRatio, minDocFreq, maxOffenders)

  /** [[stalenessReportMany]] under the `recipes` of `indexes`, read
    * only once the arguments are checked.
    */
  private def staleness(
      indexes: Seq[DataFrame],
      recipes: => Seq[(Meta, Array[Long])],
      maxDocFreqRatio: Double,
      minDocFreq: Long,
      maxOffenders: Int): StalenessReport = {
    require(indexes.nonEmpty, "need at least one index generation")
    require(maxDocFreqRatio > 0.0 && maxDocFreqRatio < 1.0,
      s"maxDocFreqRatio must be in (0,1) for a meaningful bar, got $maxDocFreqRatio")
    require(maxOffenders >= 1, s"maxOffenders must be >= 1, got $maxOffenders")
    val rs = recipes
    val metas = rs.map(_._1)
    require(metas.forall(m => m.n == metas.head.n &&
      m.portableHash == metas.head.portableHash),
      "index generations disagree on the shingle recipe (n / hash mode) — " +
        "their stored shingle hashes share no comparable space")
    requireOneStopSet(rs)
    val nDocs = metas.map(_.nDocs).sum
    val cutoff = math.max((nDocs * maxDocFreqRatio).toLong, minDocFreq)
    val offenders = indexes
      .map(_.filter(col("band") === DocBand).select(col("sh")))
      .reduce(_ unionAll _)
      .select(explode(col("sh")).as("__h"))
      .groupBy("__h").agg(count(lit(1)).as("__df"))
      .filter(col("__df") > cutoff)
      .orderBy(col("__df").desc, col("__h"))
      .limit(maxOffenders)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    StalenessReport(nDocs, cutoff, offenders.nonEmpty, offenders)
  }

  /** Probe SEVERAL index generations with one incoming batch — the
    * production layout for a kept corpus too large to rebuild as one
    * artifact (e.g. one index per monthly crawl, each built and
    * compacted once, never touched again). The incoming batch is
    * shingled once per generation (each generation's frozen stop set
    * prunes differently — per-batch CPU, still O(incoming)); pairs are
    * the union of per-generation probes. Generations must share build
    * parameters (n / numPerm / bands / seed / hash mode — enforced
    * typed); ids must be unique across ALL generations and the batch.
    *
    * Bucket-cap semantics are selectable, and OPT-IN strictness is the
    * family default: `globalCap = false` everywhere ([[pairsAgainstMany]]
    * / [[dedupAgainstMany]] here, both `SimHashIndex.*AgainstMany`
    * fan-outs), because default-on would (a) bolt the cross-generation
    * count pass onto every probe that never asked for union-cap parity,
    * and (b) silently impose the stricter compatibility bar (shared cap
    * AND shared frozen stop set), breaking the "generations are fully
    * independent artifacts" operational story that makes monthly index
    * layouts tractable. Callers who need exact one-shot-union cap
    * semantics across generations opt in; the cost model (one groupBy
    * over the TOUCHED buckets' entry rows — still O(incoming)-shaped)
    * is recorded in SCALE.md. `IvfIndex.topKAgainstMany` needs no such
    * knob at all: its probe has no bucket caps and is exact via the
    * union-top-k identity — the strictness question only exists where a
    * cap policy exists.
    *
    * Default (`globalCap = false`):
    * caps apply PER GENERATION — a near-dup cluster sharded across
    * generations is capped by each generation's combined count, not the
    * global one; generations stay fully independent artifacts and may
    * even disagree on frozen stop sets (the incoming batch is re-pruned
    * per generation). The returned pairs are a local checkpoint;
    * `LshPairs.unpersist` releases it. With `globalCap = true` the
    * probe runs ONE
    * cross-generation count pass — union of the touched buckets' entry
    * rows, grouped by (band, bucket) — and suppresses buckets whose
    * GLOBAL size (all generations + incoming) exceeds the shared cap:
    * exactly the one-shot operator's union cap, without rebuilding
    * anything. That pass recomputes sizes from the stored entry rows, so
    * it is exact even over generations grown by [[append]] (whose stored
    * `cnt`s are batch-local); the price is a stricter compatibility bar —
    * all generations must share the cap AND the frozen stop set (one
    * shingle space; typed error otherwise), and the count pass costs one
    * groupBy over the touched buckets' entries (still O(incoming)-probe:
    * untouched buckets are never read).
    */
  def pairsAgainstMany(
      indexes: Seq[DataFrame],
      incoming: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double = 0.5,
      globalCap: Boolean = false): TextDedup.LshPairs = {
    val recipes = recipe(indexes)
    if (!globalCap) {
      val probes = indexes.zip(recipes).map { case (ix, r) =>
        pairsWith(ix, r, incoming, idCol, textCol, threshold)
      }
      val pairs = probes.map(_.pairs).reduce(_ unionAll _)
        .localCheckpoint() // materialize before releasing per-probe caches
      probes.foreach(_.unpersist())
      TextDedup.LshPairs(pairs,
        probes.map(_.droppedBuckets).sum, probes.map(_.prunedShingles).max)
    } else {
      requireOneShingleSpace(recipes)
      val (m, stop) = recipes.head
      val (inDocs, inBanded) = signIncoming(m, stop, incoming, idCol, textCol)
      val inCnt = inBanded.groupBy("band", "bucket").agg(count(lit(1)).as("cnt_i"))
      // stored entries of TOUCHED buckets only, all generations — the
      // cross-generation count pass never reads an unprobed bucket
      val touched = indexes.map(_.filter(col("band") >= 0)
          .select(col(idCol).as("id_existing"), col("band"), col("bucket")))
        .reduce(_ unionAll _)
        .join(inCnt, Seq("band", "bucket"))
        .persist()
      // exact global size per touched bucket, recomputed from entry rows
      // (the compact counting rule — stored cnts are never trusted here)
      val counts = touched.groupBy("band", "bucket")
        .agg(count(lit(1)).as("cnt_g"), first("cnt_i").as("cnt_i"))
      val over = col("cnt_g") + col("cnt_i") > m.maxBucketSize
      val droppedBuckets = counts.filter(over).count()
      val cands = touched
        .join(counts.filter(!over).select("band", "bucket"), Seq("band", "bucket"))
        .join(inBanded, Seq("band", "bucket"))
      val result = verify(cands, indexes, idCol, inDocs, threshold).persist()
      result.count()
      Seq(touched, inBanded, inDocs).foreach(_.unpersist())
      TextDedup.LshPairs(result, droppedBuckets, stop.length)
    }
  }

  /** [[dedupAgainst]] over several index generations: `incoming` minus
    * near-dups (and exact-text md5 matches) of ANY generation,
    * preserving `incoming`'s columns and order. `globalCap` selects the
    * cross-generation exact cap (see [[pairsAgainstMany]]); the md5
    * exact-text rail is cap-independent and always spans all
    * generations.
    */
  def dedupAgainstMany(
      indexes: Seq[DataFrame],
      incoming: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double = 0.8,
      globalCap: Boolean = false): DataFrame =
    if (!globalCap)
      indexes.foldLeft(incoming)((acc, ix) =>
        dedupAgainst(ix, acc, idCol, textCol, threshold))
    else
      without(incoming, idCol, textCol, pairsAgainstMany(indexes, incoming, idCol, textCol,
        threshold, globalCap = true).pairs, Nil, indexes)._1

  /** Merge several compatible generations into ONE index artifact —
    * the consolidation step of the monthly-artifact lifecycle (probe
    * many small generations daily, merge to a single artifact monthly)
    * — WITHOUT touching any raw text: stored doc/entry rows are
    * unioned and recounted exactly as [[compact]] does (exact
    * corpus-wide bucket counts, the shared cap re-applied, the doc count
    * rewritten) under the first generation's recipe and stop set.
    * Generations must agree on build parameters, cap and
    * frozen stop set (typed error otherwise — see the shingle-space
    * rule on [[pairsAgainstMany]]); ids must be unique across all
    * generations. With stop sets empty (the common case under the DF
    * floor), `mergeMany(Seq(build(a), build(b)))` probes identically
    * to `build(a union b)` — pinned by LshIndexSpec — modulo the
    * documented [[compact]] edge for buckets already dropped at a
    * generation's own build.
    */
  def mergeMany(indexes: Seq[DataFrame], idCol: String): DataFrame = {
    val recipes = recipe(indexes)
    requireOneShingleSpace(recipes)
    compacted(indexes.map(_.filter(col("band") =!= MetaBand)).reduce(_ unionAll _), idCol,
      recipes.head)
  }

  /** Compaction: repair what [[append]] leaves approximate — WITHOUT
    * touching any text. Appended entry rows carry batch-local bucket
    * counts, so probes against an appended index can under-suppress
    * (verify a few pairs the exact cap would skip — never miss one);
    * compact recomputes exact corpus-wide counts from the stored entry
    * rows alone, re-applies the frozen cap (a bucket grown past it by
    * appends is dropped, exactly as [[build]] would), and rewrites the
    * meta row's doc count. Pure metadata surgery over stored rows — no
    * shingling, no signing, no raw text, so the nightly compaction job
    * costs one groupBy over entry rows instead of a corpus re-read.
    *
    * What it deliberately does NOT refresh: the frozen stop set. Stored
    * shingle hashes are already pruned by it, so the information needed
    * to recompute document frequencies honestly is gone from the index
    * by design; a stop-set refresh is a [[build]] over the raw corpus.
    * With the stop set empty (the common small-corpus case under the DF
    * floor), `compact(append(build(a), b))` probes IDENTICALLY to
    * `build(a union b)` — pinned by LshIndexSpec.
    *
    * Edge: entries of buckets dropped AT BUILD are gone from the index,
    * so compact's exact counts cover surviving entries only. Appended
    * docs landing in such a bucket can keep it alive below the cap —
    * their mutual pairs are real, but a fresh [[build]] over the union
    * would suppress the whole bucket (its true size exceeds the cap).
    * Harmless (bounded by the cap, pairs still verified), and the
    * nightly [[build]] restores strict parity.
    */
  def compact(index: DataFrame, idCol: String): DataFrame =
    compacted(index, idCol, readMeta(index))
}
