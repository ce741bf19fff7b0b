package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Pins [[SimHashIndex]]'s contract: the probe is EXACTLY the
  * brute-force cross-corpus Hamming pairs (pigeonhole candidates have
  * 100% recall, verification is exact) modulo capped buckets; append is
  * batch-local and compact/merge repair it; the global cap equals the
  * union cap.
  */
class SimHashIndexSpec extends SparkSpec {
  import spark.implicits._

  private def docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
  private def existing = docs.filter($"doc_id" % 2 === 0)
  private def incoming = docs.filter($"doc_id" % 2 === 1)

  private def pairSet(df: DataFrame): Set[(Long, Long, Int)] =
    df.select(col("id_existing"), col("id_incoming"), col("hamming"))
      .as[(Long, Long, Int)].collect().toSet

  /** Brute-force reference: every cross pair within `d`, by one
    * crossJoin over the (tiny) spec corpus.
    */
  private def brute(d: Int): Set[(Long, Long, Int)] = {
    val a = existing.select($"doc_id".as("id_existing"),
      TextDedup.simHash($"text").as("ha"))
    val b = incoming.select($"doc_id".as("id_incoming"),
      TextDedup.simHash($"text").as("hb"))
    a.crossJoin(b)
      .withColumn("hamming", TextDedup.hamming($"ha", $"hb").cast("int"))
      .filter($"hamming" <= d)
      .select($"id_existing", $"id_incoming", $"hamming")
      .as[(Long, Long, Int)].collect().toSet
  }

  test("pairsAgainst == brute-force cross-corpus Hamming pairs (default cap idle)") {
    val index = SimHashIndex.build(existing, "doc_id", "text", segments = 4)
    for (d <- Seq(0, 2, 3)) {
      val got = SimHashIndex.pairsAgainst(index, incoming, "doc_id", "text", d)
      assert(pairSet(got.pairs) == brute(d), s"maxDistance = $d")
      got.unpersist()
    }
    assert(brute(3).nonEmpty) // fixture sanity: the corpus has near-dups
    // maxDistance must stay under the frozen segment count, typed
    val e = intercept[IllegalArgumentException] {
      SimHashIndex.pairsAgainst(index, incoming, "doc_id", "text", 4)
    }
    assert(e.getMessage.contains("pigeonhole"))
    index.unpersist()
  }

  test("index round-trips through Parquet; portable-hasher recipe survives") {
    val dir = java.nio.file.Files.createTempDirectory("shidx").toString
    val index = SimHashIndex.build(existing, "doc_id", "text",
      segments = 5, hasher = TextDedup.TokenHasher.PortableMd5)
    val direct = SimHashIndex.pairsAgainst(index, incoming, "doc_id", "text", 3)
    index.write.mode("overwrite").parquet(s"$dir/index")
    index.unpersist()
    val reloaded = spark.read.parquet(s"$dir/index")
    val m = SimHashIndex.readMeta(reloaded)
    assert(m.segments == 5 && m.hasherName == "md5" && m.nDocs == existing.count())
    assert(m.hasher == TextDedup.TokenHasher.PortableMd5)
    val probed = SimHashIndex.pairsAgainst(reloaded, incoming, "doc_id", "text", 3)
    assert(pairSet(probed.pairs) == pairSet(direct.pairs))
    assert(pairSet(probed.pairs).nonEmpty)
    direct.unpersist(); probed.unpersist()
  }

  test("dedupAgainst drops near-dups and exact dups (Hamming 0 rail), keeps novel") {
    val ex = Seq((0L, "the quick brown fox jumps over the lazy dog")).toDF("doc_id", "text")
    val in = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"), // exact -> Hamming 0
      (3L, "the quick brown fox jumps over the lazy cat"), // near
      (5L, "entirely unrelated payload text with different words everywhere")
    ).toDF("doc_id", "text")
    // derive the bar from the measured near-pair distance (a one-word
    // edit flips an unpredictable number of simhash bits); the fixture
    // only demands the novel doc sit strictly farther out
    val hOf = (ex.unionAll(in)).select($"doc_id", TextDedup.simHash($"text").as("h"))
      .as[(Long, Long)].collect().toMap
    def d(x: Long, y: Long) = java.lang.Long.bitCount(hOf(x) ^ hOf(y))
    val bar = d(0L, 3L)
    assert(d(0L, 5L) > bar, "fixture: novel doc must be farther than the near doc")
    val index = SimHashIndex.build(ex, "doc_id", "text", segments = 32)
    val got = SimHashIndex.dedupAgainst(index, in, "doc_id", "text", maxDistance = bar)
    assert(got.select("doc_id").as[Long].collect().toSet == Set(5L))
    assert(got.columns.toSeq == Seq("doc_id", "text"))
    index.unpersist()

    // real corpus: survivors complement the probe's dup set exactly
    val idx2 = SimHashIndex.build(existing, "doc_id", "text")
    val surv = SimHashIndex.dedupAgainst(idx2, incoming, "doc_id", "text", 3)
      .select("doc_id").as[Long].collect().toSet
    val dupIds = brute(3).map(_._2)
    assert(surv == incoming.select("doc_id").as[Long].collect().toSet -- dupIds)
    idx2.unpersist()
  }

  test("append then compact probes identically to a fresh build; counts repaired") {
    val a = docs.filter($"doc_id" % 4 === 0)
    val b = docs.filter($"doc_id" % 4 === 2)
    val appended = SimHashIndex.append(
      SimHashIndex.build(a, "doc_id", "text"), b, "doc_id", "text")
    val compacted = SimHashIndex.compact(appended, "doc_id")
    val rebuilt = SimHashIndex.build(a.unionAll(b), "doc_id", "text")
    val got = SimHashIndex.pairsAgainst(compacted, incoming, "doc_id", "text", 3)
    val want = SimHashIndex.pairsAgainst(rebuilt, incoming, "doc_id", "text", 3)
    assert(pairSet(got.pairs) == pairSet(want.pairs))
    assert(pairSet(got.pairs).nonEmpty)
    val (mc, mr) = (SimHashIndex.readMeta(compacted), SimHashIndex.readMeta(rebuilt))
    assert(mc.nDocs == mr.nDocs && mc.builtDroppedBuckets == mr.builtDroppedBuckets)
    // ...and append alone already matches brute force here (default cap
    // idle -> batch-local counts cannot change the outcome)
    val viaAppend = SimHashIndex.pairsAgainst(appended, incoming, "doc_id", "text", 3)
    assert(pairSet(viaAppend.pairs) == pairSet(want.pairs))
    got.unpersist(); want.unpersist(); viaAppend.unpersist()
    appended.unpersist(); compacted.unpersist(); rebuilt.unpersist()
  }

  test("mergeMany == build over the union; global cap == union cap; per-gen caps under-suppress") {
    val a = docs.filter($"doc_id" % 4 === 0)
    val b = docs.filter($"doc_id" % 4 === 2)
    // self-tuned cap: per-generation buckets fit, some union bucket does
    // not (SimHash segment buckets are heavy-tailed — near-identical
    // boilerplate shares segment values)
    val cap = {
      val u1 = SimHashIndex.build(a, "doc_id", "text", maxBucketSize = Int.MaxValue)
      val u2 = SimHashIndex.build(b, "doc_id", "text", maxBucketSize = Int.MaxValue)
      val m = Seq(u1, u2).map(_.filter(col("seg") >= 0)
        .agg(max("cnt")).head.getLong(0)).max
      u1.unpersist(); u2.unpersist()
      m.toInt
    }
    val gen1 = SimHashIndex.build(a, "doc_id", "text", maxBucketSize = cap)
    val gen2 = SimHashIndex.build(b, "doc_id", "text", maxBucketSize = cap)
    assert(SimHashIndex.readMeta(gen1).builtDroppedBuckets == 0L &&
      SimHashIndex.readMeta(gen2).builtDroppedBuckets == 0L)
    val merged = SimHashIndex.mergeMany(Seq(gen1, gen2), "doc_id")
    assert(SimHashIndex.readMeta(merged).nDocs == a.count() + b.count())

    val viaMerged = SimHashIndex.pairsAgainst(merged, incoming, "doc_id", "text", 3)
    val viaGlobal = SimHashIndex.pairsAgainstMany(Seq(gen1, gen2), incoming,
      "doc_id", "text", 3, globalCap = true)
    assert(pairSet(viaGlobal.pairs) == pairSet(viaMerged.pairs))
    val rebuilt = SimHashIndex.build(a.unionAll(b), "doc_id", "text", maxBucketSize = cap)
    val viaRebuilt = SimHashIndex.pairsAgainst(rebuilt, incoming, "doc_id", "text", 3)
    assert(pairSet(viaMerged.pairs) == pairSet(viaRebuilt.pairs))

    if (viaGlobal.droppedBuckets > 0) {
      // the per-generation path caps each generation separately: it can
      // only verify MORE candidates than the exact global cap
      val perGen = SimHashIndex.pairsAgainstMany(Seq(gen1, gen2), incoming,
        "doc_id", "text", 3)
      assert(pairSet(viaGlobal.pairs).subsetOf(pairSet(perGen.pairs)))
      perGen.unpersist()
    }
    viaMerged.unpersist(); viaGlobal.unpersist(); viaRebuilt.unpersist()
    merged.unpersist(); rebuilt.unpersist(); gen1.unpersist(); gen2.unpersist()
  }

  test("over-cap buckets stay visible after build, compact and mergeMany") {
    // 12 copies of one page share all 4 segment buckets: over the cap of
    // 10. Whichever lifecycle step removed them, the suppression must
    // show up either in the meta record or in the probe's own count —
    // reading 0 would hide the pairs the cap leaves unverified.
    val boiler = "the same exact boilerplate page"
    val kept = ((0 until 12).map(i => (i.toLong, boiler)) ++
      (100 until 110).map(i => (i.toLong, s"distinct page $i about w${i * 7} and z${i * 13}")))
      .toDF("doc_id", "text")
    val batch = Seq((500L, boiler), (501L, "an unrelated incoming page")).toDF("doc_id", "text")
    def seen(ix: DataFrame): Long = {
      val probe = SimHashIndex.pairsAgainst(ix, batch, "doc_id", "text", 3)
      val n = SimHashIndex.readMeta(ix).builtDroppedBuckets + probe.droppedBuckets
      probe.unpersist()
      n
    }
    val built = SimHashIndex.build(kept, "doc_id", "text", segments = 4, maxBucketSize = 10)
    val compacted = SimHashIndex.compact(built, "doc_id")
    val merged = SimHashIndex.mergeMany(Seq(built), "doc_id")
    assert(seen(built) > 0, "after build")
    assert(seen(compacted) > 0, "after compact")
    assert(seen(merged) > 0, "after mergeMany")
    built.unpersist(); compacted.unpersist(); merged.unpersist()
  }

  test("mixed recipes refuse typed; readMeta refuses non-index frames") {
    val gen1 = SimHashIndex.build(existing, "doc_id", "text", segments = 4)
    val gen2 = SimHashIndex.build(incoming, "doc_id", "text", segments = 5)
    val e1 = intercept[IllegalArgumentException] {
      SimHashIndex.pairsAgainstMany(Seq(gen1, gen2), incoming, "doc_id", "text", 3)
    }
    assert(e1.getMessage.contains("disagree on build parameters"))
    val e2 = intercept[IllegalArgumentException] {
      SimHashIndex.mergeMany(Seq(gen1, gen2), "doc_id")
    }
    assert(e2.getMessage.contains("disagree on build parameters"))
    val e3 = intercept[IllegalArgumentException] {
      SimHashIndex.readMeta(Seq((1, "x")).toDF("seg", "params"))
    }
    assert(e3.getMessage.contains("not a SimHash index"))
    gen1.unpersist(); gen2.unpersist()
  }

  test("unpersist releases the many-generation pairs' checkpoint") {
    val (stored, in) = HammingCompatSpec.textCorpus(spark)
    val gens = Seq(stored.filter($"doc_id" < 20L), stored.filter($"doc_id" >= 20L))
      .map(SimHashIndex.build(_, "doc_id", "text"))
    val probe = SimHashIndex.pairsAgainstMany(gens, in, "doc_id", "text", maxDistance = 3)
    val rdds = checkpointRdds(probe.pairs)
    assert(rdds.nonEmpty && stillPersisted(rdds) == rdds)
    probe.unpersist()
    assert(stillPersisted(rdds).isEmpty, s"still persisted after unpersist: $rdds")
    gens.foreach(_.unpersist())
  }
}
