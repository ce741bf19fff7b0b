package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Pins [[LshIndex]]'s contract: probing the built index is equivalent to
  * the one-shot [[TextDedup.minHashLshPairsAgainst]] whenever the frozen
  * stop set matches the union stop set (always true with pruning
  * disabled, and below the DF floor on small corpora) — and the frozen
  * stop set is a DOCUMENTED divergence when later crawls shift document
  * frequencies.
  */
class LshIndexSpec extends SparkSpec {
  import spark.implicits._

  private def docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
  private def existing = docs.filter($"doc_id" % 2 === 0)
  private def incoming = docs.filter($"doc_id" % 2 === 1)

  private def pairSet(df: DataFrame): Set[(Long, Long, Double)] =
    df.select(col("id_existing"), col("id_incoming"),
        round(col("jaccard"), 9).as("j"))
      .as[(Long, Long, Double)].collect().toSet

  test("droppedBuckets rides the pair action and never waits on an empty one") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    def prompt(dropped: => Long): Long = Await.result(Future(dropped), 2.minutes)
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(prompt(TextDedup.minHashLshDedup(empty, "doc_id", "text").droppedBuckets) == 0L)
    // id-periodic texts share no shingle: every band bucket is a singleton
    val singletons = (0L until 40L).map(i => (i, s"${i}q" * 10)).toDF("doc_id", "text")
    val lone = TextDedup.minHashLshDedup(singletons, "doc_id", "text", maxDocFreqRatio = 1.0)
    assert(prompt(lone.droppedBuckets) == 0L && lone.pairs.isEmpty)
    lone.unpersist()
    val index = LshIndex.build(existing, "doc_id", "text")
    assert(prompt(LshIndex.pairsAgainst(index, incoming.filter(lit(false)),
      "doc_id", "text").droppedBuckets) == 0L)

    // with pairs to act on, the counter is read off the action: 16 capped
    // buckets of the identical copies beside the near-dup pair's buckets
    val near = "the quick brown fox jumps over the lazy dog near the river bank"
    val copies = (0L until 30L).map(i => (i, "identical text repeated verbatim"))
    val corpus = (copies :+ ((100L, near)) :+ ((101L, near + "!"))).toDF("doc_id", "text")
    val capped = TextDedup.minHashLshDedup(corpus, "doc_id", "text",
      maxBucketSize = 10, maxDocFreqRatio = 1.0)
    assert(capped.droppedBuckets == 16L && capped.pairs.count() == 1L)
    capped.unpersist()
    val ix = LshIndex.build(corpus.filter($"doc_id" < 8L || $"doc_id" === 100L),
      "doc_id", "text", maxBucketSize = 10, maxDocFreqRatio = 1.0)
    val probed = LshIndex.pairsAgainst(ix,
      corpus.filter(($"doc_id" >= 8L && $"doc_id" < 13L) || $"doc_id" === 101L), "doc_id", "text")
    assert(probed.droppedBuckets == 16L && probed.pairs.count() == 1L)
    probed.unpersist(); ix.unpersist(); index.unpersist()
  }

  test("pairsAgainst == one-shot operator (default params; floor keeps stop empty)") {
    val index = LshIndex.build(existing, "doc_id", "text")
    val got = LshIndex.pairsAgainst(index, incoming, "doc_id", "text", threshold = 0.7)
    val want = TextDedup.minHashLshPairsAgainst(
      existing, incoming, "doc_id", "text", threshold = 0.7)
    assert(pairSet(got.pairs) == pairSet(want))
    assert(pairSet(got.pairs).nonEmpty)
    got.unpersist(); want.unpersist(); index.unpersist()
  }

  test("pairsAgainst == one-shot operator with pruning disabled and portable hash") {
    val index = LshIndex.build(existing, "doc_id", "text",
      maxDocFreqRatio = 1.0, portableHash = true)
    val got = LshIndex.pairsAgainst(index, incoming, "doc_id", "text", threshold = 0.7)
    val want = TextDedup.minHashLshPairsAgainst(
      existing, incoming, "doc_id", "text", threshold = 0.7,
      maxDocFreqRatio = 1.0, portableHash = true)
    assert(pairSet(got.pairs) == pairSet(want))
    got.unpersist(); want.unpersist(); index.unpersist()
  }

  test("index round-trips through Parquet and probes identically") {
    val dir = java.nio.file.Files.createTempDirectory("lshidx").toString
    val index = LshIndex.build(existing, "doc_id", "text")
    val direct = LshIndex.pairsAgainst(index, incoming, "doc_id", "text", threshold = 0.7)
    index.write.mode("overwrite").parquet(s"$dir/index")
    index.unpersist()
    val reloaded = spark.read.parquet(s"$dir/index")
    val (meta, stop) = LshIndex.readMeta(reloaded)
    assert(meta.bands == 16 && meta.numPerm == 64 && !meta.portableHash)
    assert(stop.isEmpty) // floor keeps the sf0.001 corpus un-pruned
    val probed = LshIndex.pairsAgainst(reloaded, incoming, "doc_id", "text", threshold = 0.7)
    assert(pairSet(probed.pairs) == pairSet(direct.pairs))
    direct.unpersist(); probed.unpersist()
  }

  test("bucket-cap parity: combined probe cap == one-shot union cap") {
    // a cap small enough to engage on this corpus: every suppressed
    // bucket must be suppressed identically by both paths
    val index = LshIndex.build(existing, "doc_id", "text", maxBucketSize = 8)
    val got = LshIndex.pairsAgainst(index, incoming, "doc_id", "text", threshold = 0.5)
    val want = TextDedup.minHashLshPairsAgainst(
      existing, incoming, "doc_id", "text", threshold = 0.5, maxBucketSize = 8)
    assert(pairSet(got.pairs) == pairSet(want))
    got.unpersist(); want.unpersist(); index.unpersist()
  }

  test("frozen stop set: probe prunes with the BUILD-time corpus, not the union") {
    // kept corpus: 'zzz' shingles live in 1 of 4 docs -> df 1 <= 2, NOT
    // stopped at build. incoming floods 'zzz' so the UNION df crosses the
    // ratio bar: the one-shot operator prunes it (blinding Jaccard to the
    // shared 'zzzz...' content), the frozen index does not.
    val kept = Seq(
      (0L, "zzzzzzzzzzzzzzzzzzzz"),
      (2L, "the quick brown fox jumps"),
      (4L, "pack my box with five dozen jugs"),
      (6L, "how vexingly quick daft zebras jump")
    ).toDF("doc_id", "text")
    // each flood doc = 19 z's + one distinct letter: shingles {zzz, zzX},
    // so Jaccard vs doc 0 ({zzz}) is exactly 0.5 when zzz survives pruning
    val flood = (0 until 9)
      .map(k => (1L + 2 * k, "z" * 19 + ('a' + k).toChar)).toDF("doc_id", "text")
    val index = LshIndex.build(kept, "doc_id", "text",
      maxDocFreqRatio = 0.5, minDocFreq = 0L)
    val frozen = LshIndex.pairsAgainst(index, flood, "doc_id", "text", threshold = 0.5)
    val oneShot = TextDedup.minHashLshPairsAgainst(
      kept, flood, "doc_id", "text", threshold = 0.5,
      maxDocFreqRatio = 0.5, minDocFreq = 0L)
    // frozen path still sees doc 0's zzz-content matching the flood
    val frozenPairs = pairSet(frozen.pairs).map(p => (p._1, p._2))
    assert(frozenPairs.exists(_._1 == 0L))
    // one-shot path pruned zzz from every signature and shingle set:
    // doc 0 (all-zzz -> empty after pruning) can match nothing
    val oneShotPairs = pairSet(oneShot).map(p => (p._1, p._2))
    assert(!oneShotPairs.exists(_._1 == 0L))
    frozen.unpersist(); oneShot.unpersist(); index.unpersist()
  }

  test("dedupAgainst twin == TextDedup.dedupAgainst (incl. sub-shingle exact dups)") {
    val ex = Seq((0L, "ab"), (2L, "the quick brown fox jumps over")).toDF("doc_id", "text")
    val in = Seq(
      (1L, "ab"),                                // exact dup, sub-shingle length
      (3L, "xy"),                                // short but novel -> kept
      (5L, "the quick brown fox jumps over"),    // exact dup, normal length
      (7L, "completely different payload here")  // novel -> kept
    ).toDF("doc_id", "text")
    val index = LshIndex.build(ex, "doc_id", "text")
    val got = LshIndex.dedupAgainst(index, in, "doc_id", "text", threshold = 0.7)
    assert(got.select("doc_id").as[Long].collect().toSet == Set(3L, 7L))
    assert(got.columns.toSeq == Seq("doc_id", "text"))
    index.unpersist()

    // and on the real corpus: same survivors as the one-shot operator
    val idx2 = LshIndex.build(existing, "doc_id", "text")
    val gotBig = LshIndex.dedupAgainst(idx2, incoming, "doc_id", "text", threshold = 0.7)
      .select("doc_id").as[Long].collect().toSet
    val wantBig = TextDedup.dedupAgainst(existing, incoming, "doc_id", "text", threshold = 0.7)
      .select("doc_id").as[Long].collect().toSet
    assert(gotBig == wantBig && gotBig.nonEmpty)
    idx2.unpersist()
  }

  test("append: probing after append == one-shot against the grown corpus") {
    // sequential ingest: batch1 survivors join the corpus, batch2 is
    // probed against corpus + survivors — the incremental replay must
    // match re-running the one-shot operator on the grown corpus
    val kept0 = docs.filter($"doc_id" % 3 === 0)
    val batch1 = docs.filter($"doc_id" % 3 === 1)
    val batch2 = docs.filter($"doc_id" % 3 === 2)

    val index0 = LshIndex.build(kept0, "doc_id", "text")
    val surv1 = LshIndex.dedupAgainst(index0, batch1, "doc_id", "text", threshold = 0.7)
      .localCheckpoint()
    val index1 = LshIndex.append(index0, surv1, "doc_id", "text")
    val got = LshIndex.pairsAgainst(index1, batch2, "doc_id", "text", threshold = 0.7)

    val grown = kept0.select("doc_id", "text").unionAll(surv1.select("doc_id", "text"))
    val want = TextDedup.minHashLshPairsAgainst(
      grown, batch2, "doc_id", "text", threshold = 0.7)
    assert(pairSet(got.pairs) == pairSet(want))
    assert(pairSet(got.pairs).nonEmpty)
    val (meta1, _) = LshIndex.readMeta(index1)
    assert(meta1.nDocs == kept0.count() + surv1.count())
    got.unpersist(); want.unpersist(); index1.unpersist(); index0.unpersist()
  }

  test("pairsAgainstMany over split generations == one-shot against the union corpus") {
    // two generations partitioning the kept corpus; stop sets empty
    // (default floor), default caps never engage at this size -> the
    // multi-generation probe must equal the one-shot over the union
    val gen1 = LshIndex.build(docs.filter($"doc_id" % 4 === 0), "doc_id", "text")
    val gen2 = LshIndex.build(docs.filter($"doc_id" % 4 === 2), "doc_id", "text")
    val got = LshIndex.pairsAgainstMany(Seq(gen1, gen2), incoming, "doc_id", "text",
      threshold = 0.7)
    val want = TextDedup.minHashLshPairsAgainst(
      existing, incoming, "doc_id", "text", threshold = 0.7)
    assert(pairSet(got.pairs) == pairSet(want))
    assert(pairSet(got.pairs).nonEmpty)
    want.unpersist()

    // ...and the dedup form drops duplicates of ANY generation
    val gotSurv = LshIndex.dedupAgainstMany(Seq(gen1, gen2), incoming,
        "doc_id", "text", threshold = 0.7)
      .select("doc_id").as[Long].collect().toSet
    val wantSurv = TextDedup.dedupAgainst(existing, incoming, "doc_id", "text",
        threshold = 0.7)
      .select("doc_id").as[Long].collect().toSet
    assert(gotSurv == wantSurv)
    gen1.unpersist(); gen2.unpersist()
  }

  test("pairsAgainstMany refuses mixed-recipe generations, typed") {
    val gen1 = LshIndex.build(docs.filter($"doc_id" % 4 === 0), "doc_id", "text")
    val gen2 = LshIndex.build(docs.filter($"doc_id" % 4 === 2), "doc_id", "text",
      bands = 8)
    val e = intercept[IllegalArgumentException] {
      LshIndex.pairsAgainstMany(Seq(gen1, gen2), incoming, "doc_id", "text")
    }
    assert(e.getMessage.contains("generations disagree"))
    gen1.unpersist(); gen2.unpersist()
  }

  test("compact(append(build(a), b)) probes identically to build(a union b)") {
    // default DF floor keeps the stop set empty at this corpus size, so
    // compaction's only remaining divergence source (the frozen stop
    // set) is inert and strict parity with a fresh build must hold
    val a = docs.filter($"doc_id" % 4 === 0)
    val b = docs.filter($"doc_id" % 4 === 2)
    val probe = docs.filter($"doc_id" % 2 =!= 0)

    val appended = LshIndex.append(
      LshIndex.build(a, "doc_id", "text"), b, "doc_id", "text")
    val compacted = LshIndex.compact(appended, "doc_id")
    val rebuilt = LshIndex.build(a.unionAll(b), "doc_id", "text")

    val got = LshIndex.pairsAgainst(compacted, probe, "doc_id", "text", threshold = 0.7)
    val want = LshIndex.pairsAgainst(rebuilt, probe, "doc_id", "text", threshold = 0.7)
    assert(pairSet(got.pairs) == pairSet(want.pairs))
    assert(pairSet(got.pairs).nonEmpty)

    // compact repaired the meta row and exact counts without text access
    val (mc, _) = LshIndex.readMeta(compacted)
    val (mr, _) = LshIndex.readMeta(rebuilt)
    assert(mc.nDocs == mr.nDocs && mc.builtDroppedBuckets == mr.builtDroppedBuckets)
    got.unpersist(); want.unpersist(); compacted.unpersist(); rebuilt.unpersist()
  }

  test("compact restores exact cap suppression that append's batch-local counts miss") {
    // tiny cap: a bucket filled across build+append batches exceeds the
    // cap only in COMBINED size. The appended index's batch-local counts
    // under-suppress; after compact the exact counts must suppress
    // exactly as a fresh build does.
    val a = docs.filter($"doc_id" % 4 === 0)
    val b = docs.filter($"doc_id" % 4 === 2)
    val probe = docs.filter($"doc_id" % 2 =!= 0)
    // self-tuned cap = a's largest build bucket: build(a) then drops
    // nothing (the strict-parity precondition — the documented compact
    // edge concerns build-dropped entries), while the union's grown
    // buckets overflow it
    val cap = {
      val unc = LshIndex.build(a, "doc_id", "text", maxBucketSize = Int.MaxValue)
      val m = unc.filter(col("band") >= 0).agg(max("cnt")).head.getLong(0)
      unc.unpersist(); m.toInt
    }
    val built = LshIndex.build(a, "doc_id", "text", maxBucketSize = cap)
    assert(LshIndex.readMeta(built)._1.builtDroppedBuckets == 0L)
    val appended = LshIndex.append(built, b, "doc_id", "text")
    val compacted = LshIndex.compact(appended, "doc_id")
    val rebuilt = LshIndex.build(a.unionAll(b), "doc_id", "text", maxBucketSize = cap)
    // ...and the combined corpus DOES overflow the cap somewhere, or
    // this test exercises nothing
    assert(LshIndex.readMeta(rebuilt)._1.builtDroppedBuckets > 0L)
    val got = LshIndex.pairsAgainst(compacted, probe, "doc_id", "text", threshold = 0.5)
    val want = LshIndex.pairsAgainst(rebuilt, probe, "doc_id", "text", threshold = 0.5)
    assert(pairSet(got.pairs) == pairSet(want.pairs))
    got.unpersist(); want.unpersist(); compacted.unpersist(); rebuilt.unpersist()
  }

  test("mergeMany of split generations probes identically to build over the union") {
    val a = docs.filter($"doc_id" % 4 === 0)
    val b = docs.filter($"doc_id" % 4 === 2)
    val gen1 = LshIndex.build(a, "doc_id", "text")
    val gen2 = LshIndex.build(b, "doc_id", "text")
    val merged = LshIndex.mergeMany(Seq(gen1, gen2), "doc_id")
    val rebuilt = LshIndex.build(a.unionAll(b), "doc_id", "text")
    val got = LshIndex.pairsAgainst(merged, incoming, "doc_id", "text", threshold = 0.7)
    val want = LshIndex.pairsAgainst(rebuilt, incoming, "doc_id", "text", threshold = 0.7)
    assert(pairSet(got.pairs) == pairSet(want.pairs))
    assert(pairSet(got.pairs).nonEmpty)
    // meta repaired from stored rows: doc count sums, counts exact
    val (mm, _) = LshIndex.readMeta(merged)
    val (mr, _) = LshIndex.readMeta(rebuilt)
    assert(mm.nDocs == mr.nDocs && mm.builtDroppedBuckets == mr.builtDroppedBuckets)
    got.unpersist(); want.unpersist()
    merged.unpersist(); rebuilt.unpersist(); gen1.unpersist(); gen2.unpersist()
  }

  test("global-cap pairsAgainstMany == one-shot union cap; per-generation caps under-suppress") {
    val a = docs.filter($"doc_id" % 4 === 0)
    val b = docs.filter($"doc_id" % 4 === 2)
    // self-tuned cap: each generation's own buckets fit (no build drops —
    // the strict-parity precondition), the cross-generation union does not
    val cap = {
      val u1 = LshIndex.build(a, "doc_id", "text", maxBucketSize = Int.MaxValue)
      val u2 = LshIndex.build(b, "doc_id", "text", maxBucketSize = Int.MaxValue)
      val m = Seq(u1, u2).map(_.filter(col("band") >= 0)
        .agg(max("cnt")).head.getLong(0)).max
      u1.unpersist(); u2.unpersist()
      m.toInt
    }
    val gen1 = LshIndex.build(a, "doc_id", "text", maxBucketSize = cap)
    val gen2 = LshIndex.build(b, "doc_id", "text", maxBucketSize = cap)
    assert(LshIndex.readMeta(gen1)._1.builtDroppedBuckets == 0L &&
      LshIndex.readMeta(gen2)._1.builtDroppedBuckets == 0L)
    val global = LshIndex.pairsAgainstMany(Seq(gen1, gen2), incoming,
      "doc_id", "text", threshold = 0.5, globalCap = true)
    val want = TextDedup.minHashLshPairsAgainst(
      existing, incoming, "doc_id", "text", threshold = 0.5, maxBucketSize = cap)
    assert(pairSet(global.pairs) == pairSet(want))
    assert(global.droppedBuckets > 0) // the cap actually engaged globally
    // the per-generation path caps each generation separately, so it
    // verifies a superset of the exact-global pairs on this fixture
    val perGen = LshIndex.pairsAgainstMany(Seq(gen1, gen2), incoming,
      "doc_id", "text", threshold = 0.5)
    assert(pairSet(global.pairs).subsetOf(pairSet(perGen.pairs)))
    assert(pairSet(perGen.pairs) != pairSet(global.pairs))
    global.unpersist(); perGen.unpersist(); want.unpersist()
    gen1.unpersist(); gen2.unpersist()
  }

  test("global-cap path is exact over un-compacted appended generations") {
    // append leaves batch-local cnts; the global path never trusts stored
    // cnts (it recounts entry rows), so even an un-compacted appended
    // generation probes with exact cap semantics
    val a = docs.filter($"doc_id" % 4 === 0)
    val b = docs.filter($"doc_id" % 4 === 2)
    val appended = LshIndex.append(
      LshIndex.build(a, "doc_id", "text"), b, "doc_id", "text")
    val got = LshIndex.pairsAgainstMany(Seq(appended), incoming,
      "doc_id", "text", threshold = 0.7, globalCap = true)
    val want = TextDedup.minHashLshPairsAgainst(
      existing, incoming, "doc_id", "text", threshold = 0.7)
    assert(pairSet(got.pairs) == pairSet(want))
    assert(pairSet(got.pairs).nonEmpty)
    got.unpersist(); want.unpersist(); appended.unpersist()

    // ...and the global dedup twin spans generations' md5 rails
    val gen1 = LshIndex.build(a, "doc_id", "text")
    val gen2 = LshIndex.build(b, "doc_id", "text")
    val gotSurv = LshIndex.dedupAgainstMany(Seq(gen1, gen2), incoming,
        "doc_id", "text", threshold = 0.7, globalCap = true)
      .select("doc_id").as[Long].collect().toSet
    val wantSurv = TextDedup.dedupAgainst(existing, incoming, "doc_id", "text",
        threshold = 0.7)
      .select("doc_id").as[Long].collect().toSet
    assert(gotSurv == wantSurv)
    gen1.unpersist(); gen2.unpersist()
  }

  test("global cap and mergeMany refuse generations with differing frozen stop sets, typed") {
    // gen1 freezes a non-empty stop set (ratio bar, no floor); gen2's is
    // empty — their stored shingles live in different spaces
    val kept = Seq(
      (0L, "zzzzzzzzzzzzzzzzzzzz"),
      (2L, "zzzzzzzzzzzzzzzzzzzy"),
      (4L, "pack my box with five dozen jugs")
    ).toDF("doc_id", "text")
    val gen1 = LshIndex.build(kept, "doc_id", "text",
      maxDocFreqRatio = 0.5, minDocFreq = 0L)
    assert(LshIndex.readMeta(gen1)._2.nonEmpty) // fixture sanity: frozen stop set engaged
    val gen2 = LshIndex.build(
      Seq((6L, "how vexingly quick daft zebras jump")).toDF("doc_id", "text"),
      "doc_id", "text")
    // matches gen1's doc 4 through shingles the frozen stop set leaves alone
    val probe = Seq((1L, "pack my box with five dozen jugs")).toDF("doc_id", "text")
    val e1 = intercept[IllegalArgumentException] {
      LshIndex.pairsAgainstMany(Seq(gen1, gen2), probe, "doc_id", "text",
        globalCap = true)
    }
    assert(e1.getMessage.contains("frozen stop set"))
    val e2 = intercept[IllegalArgumentException] {
      LshIndex.mergeMany(Seq(gen1, gen2), "doc_id")
    }
    assert(e2.getMessage.contains("frozen stop set"))
    // the per-generation default path stays available for exactly this
    // layout (each generation re-prunes the incoming batch itself)
    val ok = LshIndex.pairsAgainstMany(Seq(gen1, gen2), probe, "doc_id", "text",
      threshold = 0.5)
    assert(pairSet(ok.pairs).map(_._1).contains(4L))
    ok.unpersist(); gen1.unpersist(); gen2.unpersist()
  }

  test("unpersist releases the many-generation pairs' checkpoint") {
    val (stored, batch, in) = LshCompatSpec.corpus(spark)
    val gens = Seq(stored, batch).map(LshIndex.build(_, "doc_id", "text"))
    val probe = LshIndex.pairsAgainstMany(gens, in, "doc_id", "text")
    val rdds = checkpointRdds(probe.pairs)
    assert(rdds.nonEmpty && stillPersisted(rdds) == rdds)
    probe.unpersist()
    assert(stillPersisted(rdds).isEmpty, s"still persisted after unpersist: $rdds")
    gens.foreach(_.unpersist())
  }

  test("readMeta fails typed on a frame that is not an index") {
    val notIndex = Seq((1, "x")).toDF("band", "bucket")
    val e = intercept[IllegalArgumentException] {
      LshIndex.readMeta(notIndex.withColumn("sh", lit(null).cast("array<bigint>")))
    }
    assert(e.getMessage.contains("not an LSH index"))
  }
}
