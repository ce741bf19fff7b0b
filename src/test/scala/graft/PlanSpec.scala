package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerBusDrain
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.util.QueryExecutionListener

import graft.etl.{Fixtures, Pipeline}
import graft.sources.Readers

/** Plan-shape regression tests: the scale story depends on these plan
  * properties, so they are pinned — a refactor that silently turns the
  * registry join into a shuffle or widens a pruned scan should fail CI,
  * not a 100 TB run.
  */
class PlanSpec extends SparkSpec {

  /** `body`'s result and the physical plans of the queries session `s`
    * executed meanwhile, in completion order. `Pipeline.run` and
    * `StarLoader.load` pin their fan-out frames with an eager
    * `localCheckpoint`, so what ran before a pin is planned, and read,
    * here: the pinned frame's own plan starts at a one-node leaf.
    * Queries of other sessions (other suites share the context) are not
    * reported to `s`'s listeners.
    */
  private def executedDuring[T](s: SparkSession)(body: => T): (T, Seq[SparkPlan]) = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.add(qe.executedPlan)
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    s.listenerManager.register(listener)
    try {
      val result = body
      ListenerBusDrain(s.sparkContext)
      (result, plans.asScala.toSeq)
    } finally s.listenerManager.unregister(listener)
  }

  test("entity pipeline: registry join is broadcast, dedup is the only wide exchange") {
    // Automatic broadcasting off: the fixture registry is small enough to
    // broadcast without the hint, which must be what broadcasts it.
    val s = spark.newSession()
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val registry = s.read.option("header", "true").csv(Fixtures.path("entidades.csv"))
    val survey = Readers.csv(s, Fixtures.path("survey_2026.csv"))
    // the registry join runs inside run (the post-join pin); valid's
    // plan continues from the pin
    val (result, pinned) = executedDuring(s)(Pipeline.run(survey, registry, Fixtures.config, 2026))
    assert(pinned.nonEmpty, "sanity: run should execute the post-join pin")
    val plan = (pinned :+ result.valid.queryExecution.executedPlan).mkString("\n")
    assert(plan.contains("BroadcastHashJoin"), "registry join must broadcast")
    assert(!plan.contains("SortMergeJoin"), "no sort-merge in the identification phase")
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(hashExchanges <= 1, s"expected at most the dedup exchange, got $hashExchanges:\n$plan")
    result.unpersist()
  }

  test("aggregation scan prunes to referenced columns only") {
    val q = SparkEntry.queries("q01_pricing_summary")(spark, "/root/testdata/sf0.001")
    val plan = q.queryExecution.executedPlan.toString
    val readSchema = "ReadSchema: struct<([^>]*)>".r.findFirstMatchIn(plan).map(_.group(1))
    assert(readSchema.isDefined, s"no scan in plan:\n$plan")
    val cols = readSchema.get.split(",").map(_.split(":")(0).trim).toSet
    assert(cols == Set("l_quantity", "l_extendedprice", "l_returnflag", "l_linestatus"),
      s"scan should read exactly the 4 referenced columns, got $cols")
  }

  test("stratified sample scan prunes to id + stratum columns") {
    val q = SparkEntry.queries("q52_stratified_sample")(spark, "/root/testdata/sf0.001")
    val plan = q.queryExecution.executedPlan.toString
    val readSchema = "ReadSchema: struct<([^>]*)>".r.findFirstMatchIn(plan).map(_.group(1))
    assert(readSchema.isDefined, s"no scan in plan:\n$plan")
    val cols = readSchema.get.split(",").map(_.split(":")(0).trim).toSet
    assert(cols == Set("doc_id", "lang"),
      s"sampling must not read the text column, got $cols")
  }

  test("line-dedup family scans prune to (doc_id, text) only") {
    for (q <- Seq("q69_line_dedup", "q70_repeated_spans", "q71_linefreq_index_filter")) {
      val plan = SparkEntry.queries(q)(spark, "/root/testdata/sf0.001")
        .queryExecution.executedPlan.toString
      val schemas = "ReadSchema: struct<([^>]*)>".r.findAllMatchIn(plan).map(_.group(1)).toSeq
      assert(schemas.nonEmpty, s"$q: no scan in plan")
      schemas.foreach { s =>
        val cols = s.split(",").map(_.split(":")(0).trim).toSet
        assert(cols.subsetOf(Set("doc_id", "text")),
          s"$q: scan wider than (doc_id, text): $cols")
      }
    }
  }

  test("BM25 index probe: pruned artifact scans, query terms broadcast") {
    import org.apache.spark.sql.functions.col
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    val ix = graft.operators.Bm25Index.build(docs, "doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("bm25plan").toString
    graft.operators.Bm25Index.writeSorted(ix, s"$dir/ix")
    ix.unpersist()
    val probe = graft.operators.Bm25Index.topKAgainst(
      spark.read.parquet(s"$dir/ix"),
      docs.filter(col("doc_id") < 3), "doc_id", "text", k = 5)
    val plan = probe.queryExecution.executedPlan.toString
    // the probe's static term filter reaches the posting scan as a
    // pushed predicate (row-group skipping on the term-sorted artifact)
    assert("PushedFilters: \\[[^\\]]*In\\(term".r.findFirstIn(plan).isDefined,
      s"term isin must push into the posting scan:\n$plan")
    val schemas = "ReadSchema: struct<([^>]*)>".r.findAllMatchIn(plan).map(_.group(1)).toSeq
    assert(schemas.nonEmpty, s"no scan in plan:\n$plan")
    // artifact scans (they carry `kind`) never read the meta column and
    // stay at (id, kind, term, tf | dl); the remaining scan is the
    // query side's (doc_id, text)
    val (artifact, querySide) = schemas
      .map(_.split(",").map(_.split(":")(0).trim).toSet)
      .partition(_.contains("kind"))
    assert(artifact.nonEmpty, s"no artifact scan in plan:\n$plan")
    artifact.foreach { cols =>
      assert(!cols.contains("params"), s"probe scan reads the meta column: $cols")
      assert(cols.subsetOf(Set("doc_id", "kind", "term", "tf", "dl")),
        s"probe scan wider than the probe needs: $cols")
    }
    querySide.foreach(cols => assert(cols.subsetOf(Set("doc_id", "text")), s"$cols"))
    assert(plan.contains("BroadcastHashJoin"), "query terms must broadcast into the posting scan")
    assert(!plan.contains("SortMergeJoin") || schemas.size <= 4,
      "unexpected plan explosion") // dl join may sort-merge at scale; postings filter must not
  }

  test("BM25 writeSorted artifact slice-reads: sorted posting scan outputs a fraction of an unsorted twin's") {
    // The pushdown pin above shows In(term) REACHES the scan; this pins
    // that on a REOPENED term-sorted artifact the pushed filter
    // actually SKIPS row groups (VERDICT r9 "next" #8): the same probe
    // over a sorted vs an id-hashed (term-spanning) twin layout must
    // read a slice, not the file. Measured on the scan's own
    // numOutputRows metric — parquet evaluates pushed filters at
    // row-group granularity (no record-level re-filter in the
    // vectorized reader), so the metric IS the skip evidence.
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.functions.col
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "false") // plain executedPlan for metric traversal
    val docs = s.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    val ix = graft.operators.Bm25Index.build(docs, "doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("bm25skip").toString
    graft.operators.Bm25Index.writeSorted(ix, s"$dir/sorted")
    // unsorted twin: identical rows, id-hashed layout -> every file's
    // term min/max spans the alphabet -> nothing can skip
    ix.repartition(col("doc_id")).write.parquet(s"$dir/unsorted")
    // query text from real corpus terms so the probe matches something
    val qText = ix.filter(col("kind") === graft.operators.Bm25Index.PostKind)
      .select("term").distinct()
      .orderBy("term").limit(500).collect().map(_.getString(0))
      .grouped(200).map(_.head).take(3).mkString(" ")
    ix.unpersist()

    def probeRows(path: String): (Long, Set[(Int, Long, Double)]) = {
      import s.implicits._
      val probe = graft.operators.Bm25Index.topKAgainst(
        s.read.parquet(path),
        Seq((1L, qText)).toDF("doc_id", "text"),
        "doc_id", "text", k = 5)
      val ranked = probe.collect()
      val postingRows = probe.queryExecution.executedPlan
        .collect { case f: FileSourceScanExec if f.schema.fieldNames.contains("tf") => f }
        .map(_.metrics("numOutputRows").value).sum
      (postingRows,
        ranked.map(r => (r.getAs[Int]("rank"), r.getAs[Long]("doc_id"),
          r.getAs[Double]("bm25"))).toSet)
    }
    val (sortedRows, sortedTop) = probeRows(s"$dir/sorted")
    val (unsortedRows, unsortedTop) = probeRows(s"$dir/unsorted")
    // identical ranked answers either way — layout is pure physics
    assert(sortedTop == unsortedTop && sortedTop.nonEmpty)
    assert(sortedRows > 0, "sorted probe must still read the matching slice")
    info(s"posting scan rows: sorted=$sortedRows unsorted=$unsortedRows")
    assert(sortedRows * 2 < unsortedRows,
      s"sorted layout must slice-read: sorted scan output $sortedRows rows vs unsorted $unsortedRows")
  }

  test("semantic decontamination and score-bucket sampling plan zero exchanges") {
    // both are per-row kernels on the scan — a join or shuffle
    // appearing here means the closure-broadcast (q99) or the CASE
    // threshold (q100) regressed into a distributed op
    for (q <- Seq("q99_embedding_contamination", "q100_score_bucket_sample")) {
      val plan = SparkEntry.queries(q)(spark, "/root/testdata/sf0.001")
        .queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"$q must not shuffle:\n$plan")
      assert(!plan.contains("Join"), s"$q must not join:\n$plan")
      val scans = "ReadSchema".r.findAllIn(plan).size
      assert(scans == 1, s"$q: expected one corpus scan, got $scans")
    }
  }

  test("manifest: one partial-aggregated exchange, no join, pruned scan") {
    // the delivery-manifest scale claim: row hashes are computed
    // scan-side and partially aggregated per partition, so the ONE
    // exchange carries dimension-sized partial rows — never the corpus
    val q = SparkEntry.queries("q102_manifest")(spark, "/root/testdata/sf0.001")
    val plan = q.queryExecution.executedPlan.toString
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(hashExchanges == 1, s"expected exactly the groupBy exchange, got $hashExchanges:\n$plan")
    assert(!plan.contains("Join"), s"manifest build must not join:\n$plan")
    assert(plan.contains("partial_sum"),
      s"checksum folds must partial-aggregate before the exchange:\n$plan")
    val readSchema = "ReadSchema: struct<([^>]*)>".r.findFirstMatchIn(plan).map(_.group(1))
    assert(readSchema.isDefined, s"no scan in plan:\n$plan")
    val cols = readSchema.get.split(",").map(_.split(":")(0).trim).toSet
    assert(cols == Set("doc_id", "text", "lang"),
      s"manifest scan should read exactly the hashed + group columns, got $cols")
  }

  test("contamination reads the training side exactly once") {
    val q = SparkEntry.queries("q51_contamination")(spark, "/root/testdata/sf0.001")
    val plan = q.queryExecution.executedPlan.toString
    val scans = "ReadSchema".r.findAllIn(plan).size
    assert(scans == 2, s"expected one scan per side (train + bench), got $scans:\n$plan")
    assert(plan.contains("BroadcastHashJoin"), "benchmark gram set must broadcast")
  }

  test("ScalableIds fact path plans no partition-less Window; DenseIds stays contiguous") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec}
    import org.apache.spark.sql.catalyst.optimizer.BuildLeft
    import org.apache.spark.sql.execution.window.WindowExec
    import graft.etl.StarLoader

    // Partition-less windows BELOW a broadcast build side are dimension
    // get-or-create (bounded by design: SurrogateKeys.dense scaladoc);
    // anywhere else in a fact's lineage they are a one-task
    // serialization point at scale. The lineage is the fact's own plan
    // plus the plans that filled its pins (the pipeline's post-join pin
    // and the star's valid pin, executed inside run and load); the walk
    // descends into cached plans (the fused interests) and stops at
    // BroadcastExchange.
    def walk(p: SparkPlan): Seq[String] = p match {
      case _: BroadcastExchangeExec => Seq.empty // dimension build side
      case b: BroadcastHashJoinExec => // AQE inputPlan has no exchanges yet
        walk(if (b.buildSide == BuildLeft) b.right else b.left)
      case b: BroadcastNestedLoopJoinExec =>
        walk(if (b.buildSide == BuildLeft) b.right else b.left)
      case w: WindowExec if w.partitionSpec.isEmpty || w.partitionSpec.forall(_.foldable) =>
        // empty OR all-constant partition spec = every row in one task
        w.verboseString(3) +: w.children.flatMap(walk)
      case a: AdaptiveSparkPlanExec => walk(a.inputPlan)
      case i: InMemoryTableScanExec => walk(i.relation.cachedPlan)
      case other => other.children.flatMap(walk)
    }
    def factWindows(df: DataFrame, pins: Seq[SparkPlan]): Seq[String] =
      (pins :+ df.queryExecution.executedPlan).flatMap(walk)

    val s = spark.newSession()
    val registry = s.read.option("header", "true").csv(Fixtures.path("entidades.csv"))
    val survey = Readers.csv(s, Fixtures.path("survey_2026.csv"))
    val (result, pipelinePins) =
      executedDuring(s)(Pipeline.run(survey, registry, Fixtures.config, 2026))

    val (scalable, scalablePins) =
      executedDuring(s)(StarLoader.load(result, idStrategy = graft.etl.StarLoader.ScalableIds))
    assert(scalablePins.nonEmpty, "sanity: load should execute the valid pin")
    val facts = Map(
      "fatoInquerito" -> scalable.fatoInquerito,
      "fatoFormacao" -> scalable.fatoFormacao,
      "fatoInteresse" -> scalable.fatoInteresse,
      "fatoPreferencia" -> scalable.fatoPreferencia,
      "fatoDisponibilidade" -> scalable.fatoDisponibilidade)
    facts.foreach { case (name, df) =>
      val ws = factWindows(df, pipelinePins ++ scalablePins)
      assert(ws.isEmpty, s"$name plans a partition-less Window outside a broadcast side:\n${ws.mkString("\n")}")
    }

    // DenseIds (the reference-parity default) must still produce ids
    // 1..n in row order — and its window is exactly the one the
    // scalable path eliminates
    val (dense, densePins) =
      executedDuring(s)(StarLoader.load(result, idStrategy = graft.etl.StarLoader.DenseIds))
    val denseIds = dense.fatoInquerito.select("id_inquerito")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(denseIds == (1L to denseIds.size), s"DenseIds not contiguous: $denseIds")
    assert(factWindows(dense.fatoInquerito, pipelinePins ++ densePins).nonEmpty,
      "sanity: the dense path should plan the (documented) partition-less window")
    scalable.unpersist(); dense.unpersist(); result.unpersist()
  }

  test("star facts: the interest-comment pairing is the only shuffle join, under both id strategies") {
    import org.apache.spark.sql.catalyst.expressions.Attribute
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.joins.{CartesianProductExec, ShuffledJoin}
    import graft.etl.StarLoader

    // Automatic broadcasting off: on fixture-sized frames every join would
    // broadcast and hide the shape a survey-sized batch plans. Dimension
    // joins carry an explicit broadcast hint; anything else that joins
    // the facts now plans as a shuffle join and is caught here, unless it
    // is the (id_inquerito, label) interest-comment pairing. A fact's
    // lineage includes the plans that filled its pins inside run and load.
    val s = spark.newSession()
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    def shuffleJoins(p: SparkPlan): Seq[SparkPlan] = {
      val here = p match {
        case j: ShuffledJoin => Seq(j)
        case c: CartesianProductExec => Seq(c)
        case _ => Seq.empty
      }
      val below = p match {
        case a: AdaptiveSparkPlanExec => shuffleJoins(a.inputPlan)
        case i: InMemoryTableScanExec => shuffleJoins(i.relation.cachedPlan)
        case other => other.children.flatMap(shuffleJoins)
      }
      here ++ below
    }
    def isPairing(j: SparkPlan): Boolean = j match {
      case sj: ShuffledJoin =>
        sj.leftKeys.collect { case a: Attribute => a.name }.toSet == Set("id_inquerito", "label")
      case _ => false
    }
    val registry = s.read.option("header", "true").csv(Fixtures.path("entidades.csv"))
    val survey = Readers.csv(s, Fixtures.path("survey_2026.csv"))
    val (result, pipelinePins) =
      executedDuring(s)(Pipeline.run(survey, registry, Fixtures.config, 2026))
    for (ids <- Seq(StarLoader.DenseIds, StarLoader.ScalableIds)) {
      val (star, starPins) = executedDuring(s)(StarLoader.load(result, idStrategy = ids))
      Map(
        "fatoInquerito" -> star.fatoInquerito,
        "fatoFormacao" -> star.fatoFormacao,
        "fatoInteresse" -> star.fatoInteresse,
        "comentario" -> star.comentario,
        "fatoPreferencia" -> star.fatoPreferencia,
        "fatoDisponibilidade" -> star.fatoDisponibilidade).foreach { case (name, df) =>
        val joins = (pipelinePins ++ starPins :+ df.queryExecution.executedPlan)
          .flatMap(shuffleJoins)
        val other = joins.filterNot(isPairing)
        assert(other.isEmpty, s"$ids $name plans a shuffle join besides the pairing: " +
          other.map {
            case sj: ShuffledJoin => s"${sj.nodeName} on ${sj.leftKeys.mkString(", ")}"
            case j => j.nodeName
          }.mkString("; "))
        if (Set("fatoInteresse", "comentario")(name))
          assert(joins.exists(isPairing), s"$ids $name: sanity, the pairing should shuffle")
      }
      star.unpersist()
    }
    result.unpersist()
  }

  test("corpus mixing: thresholds broadcast, corpus never sort-merge-joined") {
    val q = SparkEntry.queries("q59_mix_weights")(spark, "/root/testdata/sf0.001")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), "per-domain thresholds must broadcast")
    assert(!plan.contains("SortMergeJoin"),
      s"the corpus side must not shuffle for the threshold join:\n$plan")
  }

  test("composed curate plan (heuristic gate + keep-best) stays kernel-only, signals evaluated once") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.catalyst.expressions.{Expression, ScalaUDF, HigherOrderFunction}
    import org.apache.spark.sql.types.StructType
    import graft.operators.Curation

    // The r4 lesson (TextAnalysis.qualityScore scaladoc): an
    // interpreted-HOF expression re-evaluates at EVERY reference site
    // once composed into filter+project+join plans — measured 17x on
    // the curation pipeline. The fix was JVM kernels on every hot
    // path; this pins that the two r6 opt-in stages (heuristic gate,
    // keep-best election) didn't smuggle a HOF form back in, and that
    // the 12-field signals struct is ONE kernel call in the gate, not
    // one per field reference.
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val res = Curation.curate(
      docs.filter(org.apache.spark.sql.functions.col("doc_id") % 97 =!= 0),
      docs.filter(org.apache.spark.sql.functions.col("doc_id") % 97 === 0),
      "doc_id", "text", "lang",
      Curation.CurationParams(
        minQuality = 0.0, maxRepetition = 1.0, maxContamination = 0.5,
        useHeuristicGate = true, keepBestQuality = true))

    // Transitive expression inventory: descend into cached relations
    // (each counted ONCE — a cache is filled once however many times
    // it is scanned) and AQE input plans.
    val seenCaches = scala.collection.mutable.Set.empty[Long]
    def planExprs(p: SparkPlan): Seq[Expression] = {
      // a file scan's dataFilters echo the parent Filter's condition
      // (pushdown metadata, not a second evaluation) — skip leaf-scan
      // expressions so each kernel call site is counted once
      val here =
        if (p.nodeName.startsWith("Scan")) Seq.empty
        else p.expressions.flatMap(_.collect { case e => e })
      val below = p match {
        case a: AdaptiveSparkPlanExec => planExprs(a.inputPlan)
        case i: InMemoryTableScanExec =>
          if (seenCaches.add(i.relation.cacheBuilder.cachedPlan.id))
            planExprs(i.relation.cacheBuilder.cachedPlan)
          else Seq.empty
        case _ => Seq.empty
      }
      here ++ below ++ p.children.flatMap(planExprs)
    }
    val exprs = planExprs(res.docs.queryExecution.executedPlan)

    // 1. no interpreted higher-order function anywhere in the composed
    //    tree — fingerprint/tokenStats/langId HOF forms are the
    //    single-reference oracle recipes of q19/q21/q55 and must not
    //    leak into the composed pipeline (NEXT r6 #5)
    val hofs = exprs.collect { case h: HigherOrderFunction => h }
    assert(hofs.isEmpty,
      s"interpreted HOFs in the composed curate plan:\n${hofs.map(_.sql).mkString("\n")}")

    // 2. the heuristic-gate signals struct: exactly one kernel call —
    //    a per-field re-evaluation would show 12
    val structUdfs = exprs.collect {
      case u: ScalaUDF if u.dataType.isInstanceOf[StructType] => u }
    assert(structUdfs.size == 1,
      s"signals kernel should be called exactly once, got ${structUdfs.size}")

    // 3. bounded kernel inventory for the whole composed pipeline:
    //    quality + repetition (each once in the pushed gate predicate,
    //    once in the annotate projection), signals (gate only), shingle
    //    hashes + signature (LSH sign pass), contamination grams (one
    //    per side). A reference-site blowup (k x per field, or the
    //    join-back double-scan this audit originally caught in
    //    exactByColumns) lands above this.
    val udfs = exprs.collect { case u: ScalaUDF => u }
    assert(udfs.size <= 9, s"unexpected kernel call sites: ${udfs.size}")
    res.unpersist()
  }

  test("normalize runs as a native expression, not a UDF") {
    val q = SparkEntry.queries("q14_normalize_text")(spark, "/root/testdata/sf0.001")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("normalizetextexpr"), s"native expr missing:\n$plan")
    assert(!plan.contains("BatchEvalPython") && !plan.contains("ScalaUDF"),
      "normalize must not fall back to a UDF node")
  }
}
