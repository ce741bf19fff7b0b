package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Quantifies the LSH frozen-stop-set staleness trade-off (r8 VERDICT
  * ask #7) on a synthetic corpus where it can be pinned exactly. The
  * stop set is frozen at build time; when boilerplate arrives LATE (a
  * template that becomes corpus-common only after the build), a probe
  * against the appended index diverges from a rebuilt index in BOTH
  * directions:
  *   - SPURIOUS pairs: un-stopped boilerplate shingles dominate the
  *     Jaccard between content-unrelated docs that share the template;
  *   - MISSED true dups: a duplicate of a PRE-boilerplate kept doc that
  *     itself carries the template has its content similarity diluted
  *     below threshold by the un-stopped boilerplate shingles.
  * A rebuild's fresh stop set crosses the DF bar, prunes the template,
  * and both defects vanish while dup-of-late-doc pairs survive both
  * paths. ProfileScale's `staleness` mode measures the same geometry at
  * sf0.1 scale (SCALE.md record); this spec pins the mechanism.
  */
class LshStalenessSpec extends SparkSpec {
  import spark.implicits._

  test("late boilerplate: frozen probe emits spurious pairs and misses diluted true dups; rebuild fixes both") {
    // ~120 distinct 3-grams of boilerplate vs ~30 of content, so two
    // content-unrelated suffixed docs sit at J ~ 0.6 (above the 0.5
    // threshold) and a suffixed copy of a CLEAN doc at J ~ 0.2 (below)
    val boil = " subscribe to our newsletter and accept all cookies to continue " +
      "reading this exclusive premium article today best regards the editorial team"
    // per-doc content is UNIQUE tokens (no shared template beyond a
    // 1-char prefix), so distinct docs never pair on content — only the
    // boilerplate can link them
    def uniq(prefix: String, i: Long) =
      (0 until 5).map(k => s"$prefix${i * 37 + k * 11}z").mkString(" ")
    def baseText(i: Long) = uniq("q", i)
    // each family draws from a DISJOINT index range so no two docs of
    // different families share content tokens (same-index tokens across
    // prefixes would share nearly all their 3-grams)
    def lateText(i: Long) = uniq("v", i - 1000 + 200) + boil

    val base = (0L until 100L).map(i => (i, baseText(i))).toDF("doc_id", "text")
    val late = (1000L until 1150L).map(i => (i, lateText(i))).toDF("doc_id", "text")
    val incoming = (
      (2000L until 2020L).map(i => (i, uniq("f", i - 2000 + 600) + boil)) ++
      (0 until 5).map(j => (3000L + j, lateText(1000L + j))) ++      // dups of LATE docs
      (0 until 5).map(j => (4000L + j, baseText(j.toLong) + boil))   // dups of CLEAN docs + template
    ).toDF("doc_id", "text")

    // frozen path: stop set from the CLEAN base (no boilerplate in it),
    // late batch appended under it
    val frozenIx = LshIndex.append(
      LshIndex.build(base, "doc_id", "text", minDocFreq = 0),
      late, "doc_id", "text")
    // rebuild path: fresh stop set over base ∪ late — boilerplate df
    // 150/250 crosses the 0.5 bar and is pruned
    val rebuiltIx = LshIndex.build(base.unionAll(late), "doc_id", "text", minDocFreq = 0)
    assert(LshIndex.readMeta(rebuiltIx)._2.length > LshIndex.readMeta(frozenIx)._2.length,
      "rebuild must have stopped the late template; frozen must not have")

    def pairsOf(ix: org.apache.spark.sql.DataFrame): Set[(Long, Long)] = {
      val p = LshIndex.pairsAgainst(ix, incoming, "doc_id", "text", threshold = 0.5)
      val out = p.pairs.select($"id_existing", $"id_incoming")
        .as[(Long, Long)].collect().toSet
      p.unpersist()
      out
    }
    val frozen = pairsOf(frozenIx)
    val rebuilt = pairsOf(rebuiltIx)
    frozenIx.unpersist(); rebuiltIx.unpersist()

    val dupOfLate = (0 until 5).map(j => (1000L + j, 3000L + j)).toSet
    val dupOfClean = (0 until 5).map(j => (j.toLong, 4000L + j)).toSet

    // dup-of-late pairs (identical text): found by BOTH paths
    assert(dupOfLate.subsetOf(frozen) && dupOfLate.subsetOf(rebuilt))
    // spurious: frozen pairs content-unrelated docs on shared boilerplate
    val spurious = frozen -- dupOfLate -- dupOfClean
    assert(spurious.size >= 5, s"expected spurious boilerplate pairs, got ${spurious.size}")
    assert(spurious.forall { case (e, _) => e >= 1000L }) // all against suffixed LATE docs
    // missed: the diluted dup-of-clean pairs are invisible to the frozen probe
    assert(dupOfClean.intersect(frozen).isEmpty)
    // the rebuild fixes both defects: exactly the ten true pairs, nothing else
    assert(rebuilt == dupOfLate ++ dupOfClean)
  }

  test("stalenessReport fires exactly when a new gram family crosses the frozen bar") {
    val boil = " subscribe to our newsletter and accept all cookies to continue " +
      "reading this exclusive premium article today best regards the editorial team"
    def uniq(prefix: String, i: Long) =
      (0 until 5).map(k => s"$prefix${i * 37 + k * 11}z").mkString(" ")
    val base = (0L until 100L).map(i => (i, uniq("q", i))).toDF("doc_id", "text")
    val late = (1000L until 1150L).map(i => (i, uniq("v", i - 1000 + 200) + boil))
      .toDF("doc_id", "text")

    val built = LshIndex.build(base, "doc_id", "text", minDocFreq = 0)
    // clean corpus: nothing outside the frozen stop set is anywhere near
    // the bar (per-doc content is unique)
    val before = LshIndex.stalenessReport(built, minDocFreq = 0)
    assert(!before.crossed && before.offenders.isEmpty)
    assert(before.nDocs == 100L && before.cutoff == 50L)

    // appending a sub-bar template batch must NOT fire (the SCALE.md
    // f=1 finding: below the bar a rebuild buys nothing, so alerting
    // there would schedule useless rebuilds)
    val halfway = LshIndex.append(built, late.filter($"doc_id" < 1080), "doc_id", "text")
    val mid = LshIndex.stalenessReport(halfway, minDocFreq = 0)
    assert(!mid.crossed, s"80/180 docs with the template is under the 0.5 bar: $mid")

    // past the bar: the report fires and the offenders are exactly the
    // late template's gram family (every stored gram with df > cutoff
    // must come from the boilerplate — content grams are unique per doc)
    val stale = LshIndex.append(built, late, "doc_id", "text")
    val after = LshIndex.stalenessReport(stale, minDocFreq = 0)
    assert(after.crossed && after.nDocs == 250L && after.cutoff == 125L)
    assert(after.offenders.nonEmpty && after.offenders.forall(_._2 == 150L))
    // ... and a rebuild under the same policy stops that exact family,
    // silencing the report: the monitor-then-rebuild loop closes
    val rebuilt = LshIndex.build(base.unionAll(late), "doc_id", "text", minDocFreq = 0)
    val healed = LshIndex.stalenessReport(rebuilt, minDocFreq = 0)
    assert(!healed.crossed && healed.offenders.isEmpty)
    built.unpersist(); halfway.unpersist(); stale.unpersist(); rebuilt.unpersist()
  }

  test("rebuildIfStale: no-op below the bar, exact-recipe rebuild past it, corpus mismatch fails typed") {
    val boil = " subscribe to our newsletter and accept all cookies to continue " +
      "reading this exclusive premium article today best regards the editorial team"
    def uniq(prefix: String, i: Long) =
      (0 until 5).map(k => s"$prefix${i * 37 + k * 11}z").mkString(" ")
    val base = (0L until 100L).map(i => (i, uniq("q", i))).toDF("doc_id", "text")
    val late = (1000L until 1150L).map(i => (i, uniq("v", i - 1000 + 200) + boil))
      .toDF("doc_id", "text")

    val built = LshIndex.build(base, "doc_id", "text", minDocFreq = 0)
    // clean: untouched (the same frame back) + silent report
    val (same, quiet) = LshIndex.rebuildIfStale(built, base, "doc_id", "text", minDocFreq = 0)
    assert((same eq built) && !quiet.crossed)

    val stale = LshIndex.append(built, late, "doc_id", "text")
    val corpus = base.unionAll(late)
    // wrong corpus frame: cheap typed guard, not a silent wrong rebuild
    val e = intercept[IllegalArgumentException] {
      LshIndex.rebuildIfStale(stale, base, "doc_id", "text", minDocFreq = 0)
    }
    assert(e.getMessage.contains("rebuildIfStale"))
    // stale: rebuilds under the meta row's exact recipe; the report that
    // triggered it comes back as evidence, and the new index is healthy
    val (fresh, fired) = LshIndex.rebuildIfStale(stale, corpus, "doc_id", "text", minDocFreq = 0)
    assert(fired.crossed)
    val direct = LshIndex.build(corpus, "doc_id", "text", minDocFreq = 0)
    assert(LshIndex.readMeta(fresh)._1 == LshIndex.readMeta(direct)._1)
    assert(LshIndex.readMeta(fresh)._2.toSet == LshIndex.readMeta(direct)._2.toSet)
    assert(!LshIndex.stalenessReport(fresh, minDocFreq = 0).crossed)
    built.unpersist(); stale.unpersist(); fresh.unpersist(); direct.unpersist()
  }

  test("rebuildIfStale's quiet path reads the meta row once: the report's jobs and no more") {
    val (stored, _, _) = LshCompatSpec.corpus(spark)
    val built = LshIndex.build(stored, "doc_id", "text")
    val (report, reportJobs) = jobsDuring(LshIndex.stalenessReport(built))
    val ((same, quiet), quietJobs) =
      jobsDuring(LshIndex.rebuildIfStale(built, stored, "doc_id", "text"))
    assert(!report.crossed && (same eq built) && quiet == report)
    assert(quietJobs == reportJobs, s"quiet path ran $quietJobs jobs, the report $reportJobs")
    built.unpersist()
  }

  test("SimHash capDriftReport: appends grow a bucket past the frozen cap unnoticed; compact repairs and silences") {
    // identical texts share every segment bucket; batch-local appended
    // counts (6 per batch) each stay under the cap of 10 while the TRUE
    // bucket size crosses it — the documented under-suppression this
    // monitor exists to surface
    def batch(ids: Range) = ids.map(i => (i.toLong, "the same exact boilerplate page"))
      .toDF("doc_id", "text")
    val built = SimHashIndex.build(batch(0 until 6), "doc_id", "text",
      segments = 4, maxBucketSize = 10)
    val before = SimHashIndex.capDriftReport(built)
    assert(!before.crossed && before.cap == 10)

    var ix = built
    Seq(100 until 106, 200 until 206, 300 until 306).foreach { ids =>
      ix = SimHashIndex.append(ix, batch(ids), "doc_id", "text")
    }
    val after = SimHashIndex.capDriftReport(ix)
    assert(after.crossed && after.nDocs == 24L)
    // all 4 segment buckets of the shared fingerprint drifted: true
    // size 24 > cap 10, yet no stored row claims more than 6
    assert(after.drifted.size == 4)
    assert(after.drifted.forall { case (_, _, t, s) => t == 24L && s == 6L })

    // compact recounts from stored rows — the oversized buckets get the
    // one-shot drop and the report goes silent
    val compacted = SimHashIndex.compact(ix, "doc_id")
    val healed = SimHashIndex.capDriftReport(compacted)
    assert(!healed.crossed && healed.drifted.isEmpty)
    assert(SimHashIndex.readMeta(compacted).nDocs == 24L)
    built.unpersist(); compacted.unpersist()
  }

  test("stalenessReportMany: union-wide bar without materializing the merge; per-generation alarms can be union noise") {
    // tokens spread BOTH boundary characters over the alphabet so no
    // junction 3-gram ("<last> <first>") is generation-common: the only
    // grams that can cross any bar are the injected template's. Built
    // with maxDocFreqRatio = 1.0 (empty frozen stop sets — the shared
    // shingle space the monitor requires), monitored at the 0.5 bar.
    def tok(i: Long, k: Int): String = {
      val a = ('a' + ((i * 5 + k) % 26)).toChar
      val b = ('a' + ((i * 7 + k * 3) % 26)).toChar
      s"$a${i * 37 + k * 11}$b"
    }
    def uniq(i: Long) = (0 until 5).map(k => tok(i, k)).mkString(" ")
    val boil = " subscribe to our newsletter and accept all cookies to continue " +
      "reading this exclusive premium article today best regards the editorial team"
    val cleanA = (0L until 100L).map(i => (i, uniq(i))).toDF("doc_id", "text")
    val cleanB = (500L until 550L).map(i => (i, uniq(i))).toDF("doc_id", "text")

    // generation B drifts past ITS OWN bar via appends (template df
    // 200/250 > 125) while generation A stays clean
    val genA = LshIndex.build(cleanA, "doc_id", "text",
      maxDocFreqRatio = 1.0, minDocFreq = 0)
    val lateB = (1000L until 1200L).map(i => (i, uniq(i) + boil)).toDF("doc_id", "text")
    val genB = LshIndex.append(
      LshIndex.build(cleanB, "doc_id", "text", maxDocFreqRatio = 1.0, minDocFreq = 0),
      lateB, "doc_id", "text")
    assert(LshIndex.stalenessReport(genB, minDocFreq = 0).crossed)

    // union view: 200 templated of 350 docs crosses the union bar too —
    // and the direct union report must EQUAL the report over the
    // materialized merge, field for field
    val many = LshIndex.stalenessReportMany(Seq(genA, genB), minDocFreq = 0)
    val merged = LshIndex.mergeMany(Seq(genA, genB), "doc_id")
    val viaMerge = LshIndex.stalenessReport(merged, minDocFreq = 0)
    assert(many == viaMerge)
    assert(many.crossed && many.nDocs == 350L && many.cutoff == 175L)
    // every offender carries the 200 templated docs (a handful of
    // template grams additionally collide with content-junction grams
    // in a few clean docs, so >= not ==; no pure-content gram can reach
    // the 175 bar on its own)
    assert(many.offenders.nonEmpty && many.offenders.forall(_._2 >= 200L),
      s"every offender must be the late template's gram family: $many")

    // the converse geometry: a big clean generation dilutes B's local
    // template below the union bar — per-generation monitoring would
    // schedule a rebuild the union probe surface doesn't need
    val bigClean = (5000L until 5650L).map(i => (i, uniq(i))).toDF("doc_id", "text")
    val genC = LshIndex.build(bigClean, "doc_id", "text",
      maxDocFreqRatio = 1.0, minDocFreq = 0)
    val diluted = LshIndex.stalenessReportMany(Seq(genC, genB), minDocFreq = 0)
    assert(!diluted.crossed && diluted.nDocs == 900L,
      s"200 templated of 900 union docs is under the 0.5 bar: $diluted")

    // incompatible shingle spaces fail typed, not silently wrong
    val genD = LshIndex.build(cleanA, "doc_id", "text", n = 4,
      maxDocFreqRatio = 1.0, minDocFreq = 0)
    val e = intercept[IllegalArgumentException] {
      LshIndex.stalenessReportMany(Seq(genA, genD), minDocFreq = 0)
    }
    assert(e.getMessage.contains("shingle"))
    genA.unpersist(); genB.unpersist(); genC.unpersist(); genD.unpersist(); merged.unpersist()
  }

  test("SimHash capDriftReportMany: cross-generation bucket growth invisible to every per-generation monitor") {
    def batch(ids: Range) = ids.map(i => (i.toLong, "the same exact boilerplate page"))
      .toDF("doc_id", "text")
    // two independently-built generations, each under the cap of 10 on
    // its own (6 docs each, exact counts) — no per-generation monitor
    // can fire, yet the union bucket holds 12
    val genA = SimHashIndex.build(batch(0 until 6), "doc_id", "text",
      segments = 4, maxBucketSize = 10)
    val genB = SimHashIndex.build(batch(100 until 106), "doc_id", "text",
      segments = 4, maxBucketSize = 10)
    assert(!SimHashIndex.capDriftReport(genA).crossed)
    assert(!SimHashIndex.capDriftReport(genB).crossed)

    val many = SimHashIndex.capDriftReportMany(Seq(genA, genB))
    assert(many.crossed && many.nDocs == 12L && many.cap == 10)
    assert(many.drifted.size == 4)
    assert(many.drifted.forall { case (_, _, t, s) => t == 12L && s == 6L })

    // mergeMany is the repair: the recount drops the over-cap buckets
    // (one-shot build semantics) and the merged artifact reads silent
    val merged = SimHashIndex.mergeMany(Seq(genA, genB), "doc_id")
    assert(!SimHashIndex.capDriftReport(merged).crossed)
    assert(SimHashIndex.readMeta(merged).builtDroppedBuckets == 4L)
    genA.unpersist(); genB.unpersist(); merged.unpersist()
  }

  test("SimHash compactIfDrifted: no-op below the bar, exact stored-row repair past it") {
    def batch(ids: Range) = ids.map(i => (i.toLong, "the same exact boilerplate page"))
      .toDF("doc_id", "text")
    val built = SimHashIndex.build(batch(0 until 6), "doc_id", "text",
      segments = 4, maxBucketSize = 10)
    val (same, quiet) = SimHashIndex.compactIfDrifted(built, "doc_id")
    assert((same eq built) && !quiet.crossed)

    var ix = built
    Seq(100 until 106, 200 until 206).foreach { ids =>
      ix = SimHashIndex.append(ix, batch(ids), "doc_id", "text")
    }
    val (repaired, fired) = SimHashIndex.compactIfDrifted(ix, "doc_id")
    assert(fired.crossed && fired.drifted.forall { case (_, _, t, _) => t == 18L })
    assert(!SimHashIndex.capDriftReport(repaired).crossed)
    assert(SimHashIndex.readMeta(repaired).nDocs == 18L)
    built.unpersist(); repaired.unpersist()
  }

  test("IVF refitIfSkewed: no-op when balanced, the artifact re-fits from its own stored vectors when drifted") {
    val rnd = new scala.util.Random(11)
    def around(cx: Double, cy: Double, s: Double) =
      Array(cx + rnd.nextGaussian() * s, cy + rnd.nextGaussian() * s)
    val ctrs = Seq(Seq(1.0, 0.0), Seq(0.0, 1.0), Seq(-1.0, 0.0), Seq(0.0, -1.0))

    // balanced: the corpus matches the quantizer's four clusters
    val balanced = (0 until 60).map { i =>
      val c = ctrs(i % 4)
      (i.toLong, around(c.head, c(1), 0.05))
    }.toDF("vec_id", "embedding")
    val ok = IvfIndex.build(balanced, "vec_id", "embedding", ctrs)
    val (same, quiet) = IvfIndex.refitIfSkewed(ok, "vec_id", maxSkew = 3.0)
    assert((same eq ok) && quiet.skew <= 3.0)

    // drift: the embedding distribution moved wholesale to a region the
    // frozen quantizer never saw — everything piles into one cell
    val drifted = (100 until 160)
      .map(i => (i.toLong, around(10.0, 0.0, 1.0)))
      .toDF("vec_id", "embedding")
    val bad = IvfIndex.build(drifted, "vec_id", "embedding", ctrs)
    val (fresh, fired) = IvfIndex.refitIfSkewed(bad, "vec_id", maxSkew = 3.0)
    assert(fired.skew > 3.0 && fired.nonEmptyCells == 1,
      s"drifted corpus must degenerate to one cell: $fired")
    // the refit healed the balance WITHOUT any external corpus, kept
    // every doc, and probes work against the new quantizer
    val healed = IvfIndex.cellOccupancyReport(fresh)
    assert(healed.skew <= 3.0 && healed.nonEmptyCells > 1, s"refit must rebalance: $healed")
    assert(IvfIndex.readMeta(fresh)._1.nDocs == 60L)
    val probed = IvfIndex.topKAgainst(fresh,
      drifted.filter($"vec_id" === 100L), "vec_id", "embedding", k = 3, nProbe = 4)
    assert(probed.count() == 3L)
    ok.unpersist(); bad.unpersist(); fresh.unpersist()
  }

  test("IVF cellOccupancyReportMany equals the merged artifact's report without materializing the merge") {
    val ctrs = Seq(Seq(1.0, 0.0), Seq(0.0, 1.0))
    def vecs(ids: Range, skewTo: Int) = ids.map { i =>
      val v = if (i % 4 == 0 && skewTo == 0 || skewTo == 1 && i % 4 != 0)
        Array(0.1, 0.9) else Array(0.9, 0.1)
      (i.toLong, v)
    }.toDF("vec_id", "embedding")
    val genA = IvfIndex.build(vecs(0 until 40, 0), "vec_id", "embedding", ctrs)
    val genB = IvfIndex.build(vecs(100 until 160, 1), "vec_id", "embedding", ctrs)

    val many = IvfIndex.cellOccupancyReportMany(Seq(genA, genB))
    val merged = IvfIndex.mergeMany(Seq(genA, genB), "vec_id")
    val viaMerge = IvfIndex.cellOccupancyReport(merged)
    assert(many == viaMerge)
    assert(many.nDocs == 100L && many.nCentroids == 2)

    // different quantizers fail typed
    val genC = IvfIndex.build(vecs(200 until 210, 0), "vec_id", "embedding",
      Seq(Seq(0.5, 0.5), Seq(0.0, 1.0)))
    val e = intercept[IllegalArgumentException] {
      IvfIndex.cellOccupancyReportMany(Seq(genA, genC))
    }
    assert(e.getMessage.contains("quantizer"))
    genA.unpersist(); genB.unpersist(); genC.unpersist(); merged.unpersist()
  }
}
