package graft.operators

import graft.SparkSpec
import graft.multimodal.Multimodal.{AudioCodec, ImageCodec}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** VERDICT r9 "next" #7: the text curation story proven end-to-end for
  * media — one [[Curation.curateMedia]] turn fingerprints a binary
  * column, canonicalizes within the batch, gates against a PERSISTED
  * [[HammingIndex]] artifact, and appends the survivors. The
  * lifecycle test follows the IndexLifecycleSpec discipline: the
  * artifact is written to parquet, reopened in a FRESH SparkSession,
  * and the turn run off the reopened artifact must be bit-equal to
  * the turn run against the never-persisted in-memory index.
  */
class MediaCurationSpec extends SparkSpec {
  import spark.implicits._

  private def img9x8(f: (Int, Int) => Int) =
    ImageCodec.grayPng(Array.tabulate(8, 9)((y, x) => f(x, y)))

  // distinct dHash anatomy: rising fires every gradient bit (-1L),
  // flat fires none (0L), step fires one bit per row (8 bits) — far
  // from both
  private def rising = img9x8((x, _) => x * 20)
  private def flat = img9x8((_, _) => 100)
  private def step = img9x8((x, _) => if (x < 4) 0 else 200)

  private def keptImages = Seq((1L, rising), (2L, flat)).toDF("id", "content")

  private def batchImages = Seq(
    // 2x upscale of kept id 1 -> identical dHash -> cross-corpus dup
    (10L, ImageCodec.grayPng(Array.tabulate(16, 18)((y, x) => (x / 2) * 20))),
    // one-pixel edit of kept id 1 -> 1-2 bits -> cross-corpus near-dup
    (11L, img9x8((x, y) => if (x == 4 && y == 2) 150 else x * 20)),
    // genuinely new content
    (12L, step),
    // exact in-batch duplicate of 12 (same bytes, same hash)
    (13L, step),
    // one-pixel edit of 12 -> within-batch near-dup of 12
    (14L, img9x8((x, y) => if (x == 6 && y == 3) 220 else if (x < 4) 0 else 200)),
    // undecodable payload
    (15L, "not an image at all".getBytes)
  ).toDF("id", "content")

  private def docRows(index: DataFrame): Set[(Long, Long)] =
    index.filter(col("seg") === HammingIndex.DocSeg)
      .select(col("id"), col("h")).as[(Long, Long)].collect().toSet

  test("curateMedia(image): persisted artifact drives the turn in a fresh session, bit-equal to in-memory") {
    // precondition sanity: the step hash is far from both kept hashes
    val hr = ImageCodec.dHash(rising).get
    val hf = ImageCodec.dHash(flat).get
    val hs = ImageCodec.dHash(step).get
    assert(java.lang.Long.bitCount(hs ^ hr) > 3 && java.lang.Long.bitCount(hs ^ hf) > 3)
    // ...and the within-batch edit of step is a near-dup of step
    val h14 = ImageCodec.dHash(
      img9x8((x, y) => if (x == 6 && y == 3) 220 else if (x < 4) 0 else 200)).get
    assert(java.lang.Long.bitCount(h14 ^ hs) >= 1 && java.lang.Long.bitCount(h14 ^ hs) <= 3)

    val index = HammingIndex.build(
      graft.multimodal.Multimodal.imageDHash(keptImages, "content"),
      "id", "dhash")
    val dir = java.nio.file.Files.createTempDirectory("mediacur").toString
    index.write.parquet(s"$dir/hamming")

    // in-memory run (original session, never-persisted index)
    val mem = Curation.curateMedia(index, batchImages, "id", "content", "image")
    val memIds = mem.curated.select("id").as[Long].collect().toSet
    val memDocs = docRows(mem.kept)
    val memMeta = HammingIndex.readMeta(mem.kept)
    // `kept` reads the turn's pins: pinned on its own, it outlives them
    val memKept = mem.kept.localCheckpoint()
    mem.unpersist()

    // fresh-session run off the reopened artifact
    val s2 = spark.newSession()
    val reopened = s2.read.parquet(s"$dir/hamming")
    val batch2 = {
      import s2.implicits._
      batchImages.as[(Long, Array[Byte])].collect().toSeq.toDF("id", "content")
    }
    val fresh = Curation.curateMedia(reopened, batch2, "id", "content", "image")
    val freshIds = fresh.curated.select("id").as[Long].collect().toSet
    val freshDocs = docRows(fresh.kept)
    val freshMeta = HammingIndex.readMeta(fresh.kept)
    fresh.unpersist()

    // the only genuinely new content survives: 10/11 gated by the
    // artifact, 13 exact-deduped, 14 canonicalized under 12, 15
    // undecodable
    assert(memIds == Set(12L))
    assert(freshIds == memIds)
    assert(freshDocs == memDocs)
    assert(memDocs == Set((1L, hr), (2L, hf), (12L, hs)))
    assert(memMeta.nDocs == 3L && freshMeta.nDocs == 3L)

    // first-arrived across turns: tomorrow's near-dup of TODAY'S
    // survivor is gated by the grown artifact
    val mem2 = Curation.curateMedia(
      memKept, // the grown artifact IS tomorrow's index
      Seq((20L, img9x8((x, y) => if (x == 6 && y == 3) 220 else if (x < 4) 0 else 200)))
        .toDF("id", "content"),
      "id", "content", "image")
    assert(mem2.curated.isEmpty)
    mem2.unpersist(); graft.Pins.release(memKept)
  }

  test("curateMedia(audio): gain-scaled duplicate gated, new envelope survives") {
    val keep = AudioCodec.squareWav(8000, 400, 16384)
    val dupLowGain = AudioCodec.squareWav(8000, 400, 4096)
    // a different envelope: rising amplitude blocks vs the square's
    // alternating blocks
    val fresh = AudioCodec.blockWav(8000, framesPerBlock = 4,
      amps = (0 until 40).map(i => i * 700))
    val hKeep = AudioCodec.eHash(keep).get
    val hDup = AudioCodec.eHash(dupLowGain).get
    val hFresh = AudioCodec.eHash(fresh).get
    assert(java.lang.Long.bitCount(hKeep ^ hDup) <= 3, "gain scaling must preserve the envelope hash")
    assert(java.lang.Long.bitCount(hKeep ^ hFresh) > 3, "fixture envelopes must be far apart")

    val index = HammingIndex.build(
      graft.multimodal.Multimodal.audioEHash(Seq((1L, keep)).toDF("id", "content"), "content"),
      "id", "ehash")
    val batch = Seq(
      (10L, dupLowGain),                     // near-dup of kept 1
      (11L, fresh),                          // new content
      (12L, keep.take(30)),                  // truncated -> undecodable
      (13L, "junk".getBytes)                 // not audio
    ).toDF("id", "content")
    // RDD ids grow monotonically: the turn's own RDDs all lie past this one
    val mark = spark.sparkContext.emptyRDD[Int].id
    val (r, jobs) = jobRecordsDuring {
      val r = Curation.curateMedia(index, batch, "id", "content", "audio")
      assert(r.curated.select("id").as[Long].collect().toSet == Set(11L))
      assert(HammingIndex.readMeta(r.kept).nDocs == 2L)
      assert(docRows(r.kept) == Set((1L, hKeep), (11L, hFresh)))
      r
    }
    r.unpersist()
    // the turn leaves nothing persisted: its pins, the batch-local index
    // and the cross-corpus probe's drop set are all released
    val left = stillPersisted(jobs.flatMap(_.rdds).distinct.filter(_ > mark))
    assert(left.isEmpty, s"persisted after the turn's release: $left")
  }

  test("degenerate turns: empty batch, all-duplicate batch, all-undecodable batch") {
    val index = HammingIndex.build(
      graft.multimodal.Multimodal.imageDHash(keptImages, "content"), "id", "dhash")
    val n0 = HammingIndex.readMeta(index).nDocs

    // empty batch: nothing curated, the artifact does not grow
    val empty = Seq.empty[(Long, Array[Byte])].toDF("id", "content")
    val r1 = Curation.curateMedia(index, empty, "id", "content", "image")
    assert(r1.curated.isEmpty)
    assert(HammingIndex.readMeta(r1.kept).nDocs == n0)
    r1.unpersist()

    // batch entirely shadowed by the kept corpus: same outcome
    val dups = Seq((10L, rising), (11L, flat)).toDF("id", "content")
    val r2 = Curation.curateMedia(index, dups, "id", "content", "image")
    assert(r2.curated.isEmpty)
    assert(HammingIndex.readMeta(r2.kept).nDocs == n0)
    r2.unpersist()

    // batch of undecodable payloads: dropped at the fingerprint stage
    val junk = Seq((20L, "xx".getBytes), (21L, Array.emptyByteArray))
      .toDF("id", "content")
    val r3 = Curation.curateMedia(index, junk, "id", "content", "image")
    assert(r3.curated.isEmpty)
    assert(HammingIndex.readMeta(r3.kept).nDocs == n0)
    r3.unpersist()
  }

  test("mixed decodable/undecodable ratios: the turn equals the decodable-subset turn bit-for-bit") {
    // The invariant that makes partial corruption safe in production:
    // undecodable payloads are invisible to EVERY stage — exact dedup,
    // the least-id canonicalize election, the cross-corpus gate, and
    // the append. Pinned by running the same turn over the mixed batch
    // and over its decodable subset and requiring identical survivors,
    // identical artifact rows, identical meta — at ~50%, ~33% and ~20%
    // junk, with junk rows deliberately planted at the LOWEST id of
    // near-dup groups (if an undecodable row ever joined the election,
    // the canonical id would shift and the comparison would catch it).
    val index = HammingIndex.build(
      graft.multimodal.Multimodal.imageDHash(keptImages, "content"), "id", "dhash")
    // groups of 3: base, exact re-encode, one-pixel edit — every stage
    // does real work in every group
    val rows: Seq[(Long, Array[Byte])] = (0 until 10).flatMap { g =>
      val base = img9x8((x, y) => (x * (g + 2) * 17 + y * 3) % 200)
      val edit = img9x8((x, y) =>
        if (x == (g % 8) + 1 && y == g % 8) 255 else (x * (g + 2) * 17 + y * 3) % 200)
      Seq((g * 10 + 100L, base), (g * 10 + 101L, base), (g * 10 + 102L, edit))
    }
    for (mod <- Seq(2, 3, 5)) {
      val tagged = rows.zipWithIndex.map { case ((id, b), i) =>
        if (i % mod == 0) (id, s"not a png $i".getBytes, false) else (id, b, true)
      }
      val mixed = tagged.map(t => (t._1, t._2)).toDF("id", "content")
      val subset = tagged.filter(_._3).map(t => (t._1, t._2)).toDF("id", "content")
      val a = Curation.curateMedia(index, mixed, "id", "content", "image")
      val b = Curation.curateMedia(index, subset, "id", "content", "image")
      val aIds = a.curated.select("id").as[Long].collect().toSet
      val bIds = b.curated.select("id").as[Long].collect().toSet
      assert(aIds == bIds, s"survivors diverged at junk ratio 1/$mod")
      assert(aIds.nonEmpty, s"fixture must keep the stages busy at 1/$mod")
      assert(docRows(a.kept) == docRows(b.kept))
      assert(HammingIndex.readMeta(a.kept).nDocs == HammingIndex.readMeta(b.kept).nDocs)
      a.unpersist(); b.unpersist()
    }
  }

  test("string ids fail typed at entry (the canonicalize election is least-LONG-id)") {
    val kept = Seq(("a", rising), ("b", flat)).toDF("name", "content")
    val index = HammingIndex.build(
      graft.multimodal.Multimodal.imageDHash(kept, "content"), "name", "dhash")
    val batch = Seq(("x1", step)).toDF("name", "content")
    val e = intercept[IllegalArgumentException] {
      Curation.curateMedia(index, batch, "name", "content", "image")
    }
    assert(e.getMessage.contains("integral type"))
  }

  test("typed errors: unknown mediaType; maxDistance outside the blocking guarantee") {
    val index = HammingIndex.build(
      graft.multimodal.Multimodal.imageDHash(keptImages, "content"), "id", "dhash")
    val batch = Seq((10L, rising)).toDF("id", "content")
    val e1 = intercept[IllegalArgumentException] {
      Curation.curateMedia(index, batch, "id", "content", "video")
    }
    assert(e1.getMessage.contains("image"))
    val e2 = intercept[IllegalArgumentException] {
      Curation.curateMedia(index, batch, "id", "content", "image", maxDistance = 4)
    }
    assert(e2.getMessage.contains("segments"))
  }
}
