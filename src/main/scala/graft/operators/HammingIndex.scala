package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType, StringType}

/** Persistable Hamming index — the one pigeonhole kernel behind both
  * Hamming-family artifacts: this object over CALLER-SUPPLIED 64-bit
  * fingerprints, and [[SimHashIndex]], which is this kernel behind a
  * SimHash signing step. Any fingerprint family gets the
  * build-once/probe-many lifecycle: perceptual image hashes
  * ([[graft.multimodal.Multimodal.imageDHash]] — image near-dup at
  * corpus scale needs a nightly artifact, not a per-run self-join),
  * audio fingerprints, externally computed simhashes.
  *
  * Blocking is Manku, Jain & Das Sarma's ("Detecting Near-Duplicates
  * for Web Crawling", WWW 2007): split a `bits`-wide fingerprint into
  * `segments` near-equal bit ranges; two fingerprints within Hamming
  * distance `maxDistance < segments` MUST agree exactly on at least one
  * range. The index stores `(id, h)` doc rows plus one entry row per
  * (segment, segment value); a probe signs only the incoming batch,
  * blocks it on equal segments against a columnar entry scan, and
  * verifies candidates with the exact `bit_count(xor)` — EXACTLY the
  * brute-force cross pairs, modulo capped buckets.
  *
  * Cap accounting: `maxBucketSize` is frozen at build and enforced per
  * probe on the COMBINED (stored `cnt` + incoming) bucket size — a
  * segment value shared by a huge corpus fraction carries no signal
  * and unbounded join cost. [[build]] and [[append]] keep over-cap
  * buckets and every probe reports the buckets it suppressed in
  * `Probe.droppedBuckets`; [[compact]] and [[mergeMany]] delete them
  * and add their number to `Meta.builtDroppedBuckets`, so the
  * suppression stays visible after the rows are gone.
  *
  * Lifecycle: append stores batch-local bucket counts (the family's
  * documented under-suppression — probes only ever verify MORE, never
  * miss); [[compact]] recounts exactly; [[mergeMany]] = union +
  * compact; [[capDriftReport]] is the monitor. Null-hash rows are
  * DROPPED at build/append (no fingerprint, no identity). Ids must be
  * unique.
  *
  * Index layout: ONE DataFrame `(id, seg, value, cnt, h, params)`, row
  * kind discriminated by `seg`:
  *   - `seg == -1` (one row): metadata — `params` holds the frozen
  *     build parameters as a `v1;k=v;...` string.
  *   - `seg == -2` (one row per doc): `h` = the fingerprint.
  *   - `seg in [0, segments)` (one row per doc per segment): `value` =
  *     the segment's bit value, `cnt` = that bucket's size when the row
  *     was written.
  */
object HammingIndex {

  /** `seg` value of the single metadata row. */
  val MetaSeg: Int = -1
  /** `seg` value of per-document `(id, h)` rows. */
  val DocSeg: Int = -2

  /** Frozen build parameters. `builtDroppedBuckets` counts the over-cap
    * buckets DELETED from the stored entry rows by [[compact]] /
    * [[mergeMany]] (build and append never delete — they keep over-cap
    * buckets and let each probe suppress and report them).
    */
  final case class Meta(
      segments: Int, maxBucketSize: Int,
      builtDroppedBuckets: Long, nDocs: Long)

  /** Probe result: `pairs` = (id_existing, id_incoming, hamming),
    * `droppedBuckets` = buckets suppressed by the combined cap at probe
    * time (buckets deleted earlier are in the meta row). `pairs` is
    * persisted, or a local checkpoint over several generations;
    * [[unpersist]] releases either.
    */
  final case class Probe(pairs: DataFrame, droppedBuckets: Long) {
    def unpersist(): Unit = graft.Pins.release(pairs)
  }

  /** Output of [[capDriftReport]]: buckets whose true size exceeds the
    * frozen cap while every stored row still claims under-cap.
    */
  final case class CapDriftReport(
      nDocs: Long,
      cap: Int,
      crossed: Boolean,
      drifted: Seq[(Int, Long, Long, Long)]) // (seg, value, true size, max stored cnt), size desc

  /** Segment values of fingerprint `h`: near-equal bit ranges
    * `[bits*i/k, (bits*(i+1))/k)`, extracted with an unsigned shift so
    * the sign bit never smears.
    */
  private[operators] def segmentValues(h: Column, k: Int, bits: Int): Seq[Column] =
    (0 until k).map { i =>
      val start = bits * i / k
      val width = bits * (i + 1) / k - start
      shiftrightunsigned(h, start)
        .bitwiseAND(lit(if (width == 64) -1L else (1L << width) - 1))
    }

  /** A meta row in full: [[Meta]] plus the SimHash token hasher that
    * signed the stored fingerprints (None: caller-supplied hashes). The
    * hasher names the family and fixes the fingerprint width.
    */
  private[graft] final case class Params(m: Meta, hasher: Option[String]) {
    def family: Family = if (hasher.isEmpty) Hamming else SimHash
    def bits: Int = if (hasher.isEmpty) 64 else 32

    /** The signing projection `(idCol, h)`: the caller's integral hash
      * column widened to long, or the SimHash of string column `c` under
      * the frozen hasher. A column of the other kind fails typed — an
      * implicit cast would dedup on a meaningless fingerprint. Null
      * fingerprints are dropped.
      */
    def sign(df: DataFrame, idCol: String, c: String): DataFrame = {
      val t = df.select(col(c)).schema.head.dataType
      val h = hasher match {
        case None =>
          require(Seq(ByteType, ShortType, IntegerType, LongType).contains(t),
            s"a Hamming index signs an integral fingerprint column; `$c` is ${t.simpleString}")
          col(c).cast("long")
        case Some(name) =>
          require(t.isInstanceOf[StringType],
            s"a SimHash index signs a string text column; `$c` is ${t.simpleString}")
          TextDedup.simHash(col(c), TextDedup.TokenHasher.named(name))
      }
      df.select(col(idCol), h.as("h")).filter(col("h").isNotNull)
    }

    def render: String =
      MetaCodec.render(Seq("segments" -> m.segments) ++ hasher.map("hasher" -> _) ++
        Seq("cap" -> m.maxBucketSize, "builtDropped" -> m.builtDroppedBuckets,
          "nDocs" -> m.nDocs): _*)
  }

  private def parse(index: DataFrame, name: String): Params = {
    require(index.columns.contains("seg") && index.columns.contains("params"),
      s"not a $name index: expected columns (id, seg, value, cnt, h, params)")
    val rows = index.filter(col("seg") === MetaSeg).select(col("params")).collect()
    require(rows.length == 1,
      s"not a $name index: expected exactly one meta row (seg = $MetaSeg), found ${rows.length}")
    val kv = MetaCodec.parse(rows(0).getString(0), name)
    Params(Meta(kv("segments").toInt, kv("cap").toInt,
      kv.getOrElse("builtDropped", "0").toLong, kv("nDocs").toLong), kv.get("hasher"))
  }

  /** The recipe `index` was built with, read from its meta row; its
    * `family` is the family the index was built for.
    */
  private[graft] def paramsOf(index: DataFrame): Params = parse(index, Hamming.name)

  /** (id, seg, value) entry rows of a signed `(idCol, h)` frame. */
  private def segRows(docs: DataFrame, idCol: String, p: Params): DataFrame =
    docs.select(col(idCol),
      posexplode(array(segmentValues(col("h"), p.m.segments, p.bits): _*))
        .as(Seq("seg", "value")))

  /** Entry rows with their batch-local bucket size `cnt`. */
  private def counted(entries: DataFrame): DataFrame =
    entries.join(entries.groupBy("seg", "value").agg(count(lit(1)).as("cnt")),
      Seq("seg", "value"))

  private def indexRows(
      template: DataFrame, idCol: String, p: Params,
      docs: DataFrame, entries: DataFrame): DataFrame = {
    val metaRow = template.sparkSession.range(1).select(
      lit(null).cast(template.schema(idCol).dataType).as(idCol),
      lit(MetaSeg).as("seg"),
      lit(null).cast("long").as("value"),
      lit(null).cast("long").as("cnt"),
      lit(null).cast("long").as("h"),
      lit(p.render).as("params"))
    metaRow
      .unionAll(docs.select(
        col(idCol), lit(DocSeg).as("seg"),
        lit(null).cast("long").as("value"), lit(null).cast("long").as("cnt"),
        col("h"), lit(null).cast("string").as("params")))
      .unionAll(entries.select(
        col(idCol), col("seg"), col("value"), col("cnt"),
        lit(null).cast("long").as("h"), lit(null).cast("string").as("params")))
  }

  /** Build under the recipe `p` (its `nDocs` is filled in), signing
    * column `c` of `df`. Returned frame is persisted.
    */
  private[graft] def buildWith(p: Params, df: DataFrame, idCol: String, c: String): DataFrame = {
    require(p.m.maxBucketSize >= 1, s"maxBucketSize must be >= 1, got ${p.m.maxBucketSize}")
    val docs = p.sign(df, idCol, c).persist()
    val nDocs = docs.count()
    val index = indexRows(df, idCol, p.copy(m = p.m.copy(nDocs = nDocs)),
      docs, counted(segRows(docs, idCol, p))).persist()
    index.count()
    docs.unpersist()
    index
  }

  /** Exact recount of `rows` (doc + entry rows of one or more
    * generations) under recipe `p`: over-cap buckets are deleted and
    * added to `p`'s `builtDroppedBuckets`.
    */
  private def recount(rows: DataFrame, idCol: String, p: Params): DataFrame = {
    val docs = rows.filter(col("seg") === DocSeg).select(col(idCol), col("h")).persist()
    val nDocs = docs.count()
    val entries = rows.filter(col("seg") >= 0).select(col(idCol), col("seg"), col("value"))
    val counts = entries.groupBy("seg", "value").agg(count(lit(1)).as("cnt")).persist()
    val dropped = counts.filter(col("cnt") > p.m.maxBucketSize).count()
    val kept = entries.join(counts.filter(col("cnt") <= p.m.maxBucketSize), Seq("seg", "value"))
    val m = p.m.copy(nDocs = nDocs, builtDroppedBuckets = p.m.builtDroppedBuckets + dropped)
    val compacted = indexRows(rows, idCol, p.copy(m = m), docs, kept).persist()
    compacted.count()
    counts.unpersist()
    docs.unpersist()
    compacted
  }

  /** `incoming` minus the incoming ids of `probe`'s pairs, columns and
    * order preserved.
    */
  private def without(incoming: DataFrame, idCol: String, probe: Probe): DataFrame = {
    val dupIds = probe.pairs.select(col("id_incoming").as(idCol)).distinct().localCheckpoint()
    probe.unpersist()
    incoming.join(dupIds, Seq(idCol), "left_anti").select(incoming.columns.map(col): _*)
  }

  /** The kernel's lifecycle for one fingerprint family. `name` is the
    * family's name in error texts; every call checks that the index it
    * reads was built for this family.
    */
  private[graft] final class Family private[HammingIndex] (val name: String) {

    def params(index: DataFrame): Params = {
      val p = parse(index, name)
      require(p.family eq this, s"not a $name index: its meta row records a ${p.family.name} index")
      p
    }

    /** One recipe across generations: segment layout, cap and token
      * hasher must agree or stored values/counts share no comparable
      * space.
      */
    private def recipe(indexes: Seq[DataFrame]): Seq[Params] = {
      require(indexes.nonEmpty, "need at least one index generation")
      val ps = indexes.map(params)
      require(ps.forall(p => p.m.segments == ps.head.m.segments &&
        p.m.maxBucketSize == ps.head.m.maxBucketSize && p.hasher == ps.head.hasher),
        "index generations disagree on build parameters (segments/hasher/cap) — " +
          "rebuild with one recipe")
      ps
    }

    /** Sign the incoming batch: `(id_incoming, h)` (persisted until
      * [[verify]] is done with it), its entry rows and its per-bucket
      * counts `cnt_i`.
      */
    private def signIncoming(p: Params, incoming: DataFrame, idCol: String, c: String,
        maxDistance: Int): (DataFrame, DataFrame, DataFrame) = {
      require(maxDistance >= 0 && maxDistance < p.m.segments,
        s"maxDistance must be in [0, ${p.m.segments - 1}] for the pigeonhole " +
          s"guarantee (index built with segments = ${p.m.segments})")
      val inDocs = p.sign(incoming, idCol, c).withColumnRenamed(idCol, "id_incoming").persist()
      inDocs.count()
      val inSeg = segRows(inDocs, "id_incoming", p)
      (inDocs, inSeg, inSeg.groupBy("seg", "value").agg(count(lit(1)).as("cnt_i")))
    }

    /** Verify candidate `(id_existing, id_incoming)` pairs with the exact
      * Hamming distance; the result is persisted and materialized.
      */
    private def verify(cands: DataFrame, stored: Seq[DataFrame], idCol: String,
        inDocs: DataFrame, maxDistance: Int): DataFrame = {
      val docsH = stored.map(_.filter(col("seg") === DocSeg)
        .select(col(idCol).as("id_existing"), col("h").as("__ha"))).reduce(_ unionAll _)
      val pairs = cands.select("id_existing", "id_incoming").distinct()
        .join(docsH, "id_existing")
        .join(inDocs.withColumnRenamed("h", "__hb"), "id_incoming")
        .withColumn("hamming", TextDedup.hamming(col("__ha"), col("__hb")).cast("int"))
        .filter(col("hamming") <= maxDistance)
        .select(col("id_existing"), col("id_incoming"), col("hamming"))
        .persist()
      pairs.count()
      inDocs.unpersist()
      pairs
    }

    // The probe/dedup/append calls take `index`'s recipe `p` from the
    // caller, who has read it once (`params`) or carries it from the
    // previous append (the streaming gate): re-reading the meta row is a
    // Spark job per call.

    def pairsAgainst(p: Params, index: DataFrame, incoming: DataFrame, idCol: String, c: String,
        maxDistance: Int): Probe = {
      val (inDocs, inSeg, inCnt) = signIncoming(p, incoming, idCol, c, maxDistance)
      val touched = index.filter(col("seg") >= 0)
        .select(col(idCol).as("id_existing"), col("seg"), col("value"), col("cnt"))
        .join(broadcast(inCnt), Seq("seg", "value"))
      val over = col("cnt") + col("cnt_i") > p.m.maxBucketSize
      val dropped = touched.filter(over).select("seg", "value").distinct().count()
      val cands = touched.filter(!over).join(inSeg, Seq("seg", "value"))
      Probe(verify(cands, Seq(index), idCol, inDocs, maxDistance), dropped)
    }

    def dedupAgainst(p: Params, index: DataFrame, incoming: DataFrame, idCol: String, c: String,
        maxDistance: Int): DataFrame =
      without(incoming, idCol, pairsAgainst(p, index, incoming, idCol, c, maxDistance))

    /** The grown index (persisted) and its recipe. */
    def append(p: Params, index: DataFrame, newDocs: DataFrame, idCol: String,
        c: String): (DataFrame, Params) = {
      val docs = p.sign(newDocs, idCol, c).persist()
      val nNew = docs.count()
      val grown = p.copy(m = p.m.copy(nDocs = p.m.nDocs + nNew))
      val appended = index.filter(col("seg") =!= MetaSeg)
        .unionAll(indexRows(newDocs, idCol, grown, docs, counted(segRows(docs, idCol, p))))
        .persist()
      appended.count()
      docs.unpersist()
      (appended, grown)
    }

    def compact(index: DataFrame, idCol: String): DataFrame =
      recount(index, idCol, params(index))

    def mergeMany(indexes: Seq[DataFrame], idCol: String): DataFrame = {
      val ps = recipe(indexes)
      val carried = ps.head.m.copy(builtDroppedBuckets = ps.map(_.m.builtDroppedBuckets).sum)
      recount(indexes.map(_.filter(col("seg") =!= MetaSeg)).reduce(_ unionAll _), idCol,
        ps.head.copy(m = carried))
    }

    def capDriftReportMany(indexes: Seq[DataFrame], maxBuckets: Int): CapDriftReport = {
      require(maxBuckets >= 1, s"maxBuckets must be >= 1, got $maxBuckets")
      val ps = recipe(indexes)
      val cap = ps.head.m.maxBucketSize
      val drifted = indexes.map(_.filter(col("seg") >= 0)
          .select(col("seg"), col("value"), col("cnt")))
        .reduce(_ unionAll _)
        .groupBy("seg", "value")
        .agg(count(lit(1)).as("__true"), max(col("cnt")).as("__stored"))
        .filter(col("__true") > cap && col("__stored") <= cap)
        .orderBy(col("__true").desc, col("seg"), col("value"))
        .limit(maxBuckets)
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
      CapDriftReport(ps.map(_.m.nDocs).sum, cap, drifted.nonEmpty, drifted)
    }

    def compactIfDrifted(index: DataFrame, idCol: String): (DataFrame, CapDriftReport) = {
      val report = capDriftReportMany(Seq(index), 100)
      if (!report.crossed) (index, report)
      else (compact(index, idCol), report)
    }

    def pairsAgainstMany(indexes: Seq[DataFrame], incoming: DataFrame, idCol: String,
        c: String, maxDistance: Int, globalCap: Boolean): Probe = {
      val ps = recipe(indexes)
      val p = ps.head
      if (!globalCap) {
        val probes = indexes.zip(ps).map { case (ix, pi) =>
          pairsAgainst(pi, ix, incoming, idCol, c, maxDistance)
        }
        val pairs = probes.map(_.pairs).reduce(_ unionAll _).localCheckpoint()
        probes.foreach(_.unpersist())
        Probe(pairs, probes.map(_.droppedBuckets).sum)
      } else {
        // stored counts are never trusted here: the touched buckets are
        // recounted across generations, so the union cap is exact even
        // over un-compacted appended generations
        val (inDocs, inSeg, inCnt) = signIncoming(p, incoming, idCol, c, maxDistance)
        val touched = indexes.map(_.filter(col("seg") >= 0)
            .select(col(idCol).as("id_existing"), col("seg"), col("value")))
          .reduce(_ unionAll _)
          .join(inCnt, Seq("seg", "value"))
          .persist()
        val counts = touched.groupBy("seg", "value")
          .agg(count(lit(1)).as("cnt_g"), first("cnt_i").as("cnt_i"))
        val over = col("cnt_g") + col("cnt_i") > p.m.maxBucketSize
        val dropped = counts.filter(over).count()
        val cands = touched
          .join(counts.filter(!over).select("seg", "value"), Seq("seg", "value"))
          .join(inSeg, Seq("seg", "value"))
        val pairs = verify(cands, indexes, idCol, inDocs, maxDistance)
        touched.unpersist()
        Probe(pairs, dropped)
      }
    }

    def dedupAgainstMany(indexes: Seq[DataFrame], incoming: DataFrame, idCol: String,
        c: String, maxDistance: Int, globalCap: Boolean): DataFrame =
      if (!globalCap)
        indexes.foldLeft(incoming)((acc, ix) =>
          dedupAgainst(params(ix), ix, acc, idCol, c, maxDistance))
      else
        without(incoming, idCol,
          pairsAgainstMany(indexes, incoming, idCol, c, maxDistance, globalCap = true))
  }

  /** Caller-supplied 64-bit fingerprints (this object's public API). */
  private[graft] val Hamming: Family = new Family("Hamming")
  /** 32-bit SimHash fingerprints signed from text ([[SimHashIndex]]). */
  private[graft] val SimHash: Family = new Family("SimHash")

  /** Meta row of `index`; fails typed on a frame that is not a v1
    * Hamming index.
    */
  def readMeta(index: DataFrame): Meta = Hamming.params(index).m

  /** Build over the `hashCol` fingerprints of the kept corpus. Returned
    * frame is persisted (call `.unpersist()` once written); write it
    * with `index.write.parquet(path)`, read it back with
    * `spark.read.parquet` — the probe needs nothing else.
    */
  def build(
      df: DataFrame,
      idCol: String,
      hashCol: String,
      segments: Int = 4,
      maxBucketSize: Int = 10000): DataFrame = {
    require(segments >= 1 && 64 % segments == 0,
      s"segments must divide 64, got $segments")
    buildWith(Params(Meta(segments, maxBucketSize, 0L, 0L), None), df, idCol, hashCol)
  }

  /** Cross-corpus near-dup pairs `(id_existing, id_incoming, hamming)`
    * with `hamming <= maxDistance < segments`: only the incoming batch
    * is segmented; the stored side is a columnar entry scan. A bucket
    * is suppressed when its COMBINED (stored cnt + incoming) size
    * exceeds the frozen cap. Ids must be unique across both corpora.
    */
  def pairsAgainst(
      index: DataFrame, incoming: DataFrame, idCol: String, hashCol: String,
      maxDistance: Int): Probe =
    Hamming.pairsAgainst(Hamming.params(index), index, incoming, idCol, hashCol, maxDistance)

  /** `incoming` minus rows within `maxDistance` of ANY indexed
    * fingerprint, columns and order preserved. Null-hash incoming rows
    * pass through (they cannot match — same as the one-shot operators).
    */
  def dedupAgainst(
      index: DataFrame, incoming: DataFrame, idCol: String, hashCol: String,
      maxDistance: Int): DataFrame =
    Hamming.dedupAgainst(Hamming.params(index), index, incoming, idCol, hashCol, maxDistance)

  /** Append survivors with batch-local bucket counts (run [[compact]]
    * to restore exact counts). Ids must stay unique.
    */
  def append(index: DataFrame, newDocs: DataFrame, idCol: String, hashCol: String): DataFrame =
    Hamming.append(Hamming.params(index), index, newDocs, idCol, hashCol)._1

  /** Exact-count repair from stored rows — no fingerprints recomputed.
    * Buckets past the frozen cap are deleted (probes can no longer be
    * dragged quadratic by them; their docs' OTHER segments still block)
    * and their number added to `Meta.builtDroppedBuckets`, so the
    * suppression stays visible after the rows are gone.
    */
  def compact(index: DataFrame, idCol: String): DataFrame = Hamming.compact(index, idCol)

  /** Merge same-recipe generations: stored-row union + [[compact]].
    * Ids must be unique across generations. The merged meta row's
    * `builtDroppedBuckets` carries the SUM of the generations' records
    * before compact adds its own newly-deleted buckets.
    */
  def mergeMany(indexes: Seq[DataFrame], idCol: String): DataFrame =
    Hamming.mergeMany(indexes, idCol)

  /** Cap-drift monitor: [[append]] stores batch-local bucket counts, so
    * a bucket grown past the frozen cap ACROSS appends still claims
    * under-cap per row and the probe keeps verifying it in full — the
    * one statistic of this artifact that drifts. One read-only groupBy
    * over stored entry rows (no fingerprints recomputed); lists buckets
    * whose TRUE size exceeds the cap while every stored row claims
    * under-cap — exactly what [[compact]] repairs.
    */
  def capDriftReport(index: DataFrame, maxBuckets: Int = 100): CapDriftReport =
    Hamming.capDriftReportMany(Seq(index), maxBuckets)

  /** The monitor-then-repair loop as one call: runs [[capDriftReport]],
    * compacts iff it fires, returns the index untouched otherwise. The
    * report is the evidence either way — log it.
    */
  def compactIfDrifted(index: DataFrame, idCol: String): (DataFrame, CapDriftReport) =
    Hamming.compactIfDrifted(index, idCol)

  /** [[capDriftReport]] over SEVERAL generations WITHOUT materializing
    * [[mergeMany]]: one read-only groupBy over the unioned entry rows,
    * surfacing buckets whose union-wide true size exceeds the shared
    * frozen cap while every stored row still claims under-cap. Remedy
    * when it fires: [[mergeMany]] (one artifact, recounted, past-cap
    * buckets deleted into the carried `builtDroppedBuckets`).
    */
  def capDriftReportMany(indexes: Seq[DataFrame], maxBuckets: Int = 100): CapDriftReport =
    Hamming.capDriftReportMany(indexes, maxBuckets)
}
