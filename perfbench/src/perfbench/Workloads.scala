package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.etl.{GroupRange, Pipeline, StarLoader}
import graft.operators.{Curation, Release}
import graft.sources.{Writers, Xlsx}

/** One finished op: its outputs still live for the correctness check,
  * which runs outside the timer.
  */
trait Done {
  /** Failed checks; empty when the op's outputs are correct. */
  def check(): Seq[String]
  /** Bytes the op wrote. */
  def outBytes: Long
  /** Per-layer counts (`etl.valid_ratio`, `release.kept_ratio`). */
  def counts: Map[String, Double]
  /** Release the op's caches, as a caller does once outputs are written. */
  def release(): Unit
}

/** A workload: inputs generated once in set-up, and one op over them. */
trait Workload {
  def inputRows: Long
  def inBytes: Long
  def op(dir: Path, t: Tracer): Done
}

object Workloads {

  val names: Seq[String] = Seq("survey_yearly", "survey_volume", "release_turn")

  def apply(name: String, spark: SparkSession, seed: Long, work: Path): Workload = name match {
    case "survey_yearly" => new SurveyYearly(spark, seed, work)
    case "survey_volume" => new SurveyVolume(spark, seed)
    case "release_turn" => new ReleaseTurn(spark, seed, work)
  }

  /** Bytes under `p`, skipping hidden files (filesystem checksums). */
  def sizeOf(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala
        .filter(f => Files.isRegularFile(f) && !f.getFileName.toString.startsWith("."))
        .map(Files.size(_)).sum
      finally s.close()
    }

  private val starTables = Seq(
    "fato_inquerito", "dim_formacao", "fato_formacao_inquerito", "dim_area_tematica",
    "fato_interesse_area", "comentario", "dim_preferencia_ensino", "fato_preferencia_ensino",
    "dim_horario", "fato_disponibilidade_horaria")

  /** The pipeline's four partitions and every written star table against
    * the planted truth.
    */
  def checkSurvey(spark: SparkSession, r: Pipeline.EtlResult, star: Path,
      truth: SurveyTruth): Seq[String] = {
    val got = Seq(
      "valid" -> r.valid.count(), "duplicates" -> r.duplicates.count(),
      "unmatched" -> r.unmatched.count(), "badName" -> r.badName.count())
    val want = Map("valid" -> truth.valid, "duplicates" -> truth.duplicates,
      "unmatched" -> truth.unmatched, "badName" -> truth.badName)
    val parts = got.collect { case (k, n) if n != want(k) => s"$k: $n, planted ${want(k)}" }
    val sum = got.map(_._2).sum
    val total = if (sum != truth.rows) Seq(s"partitions sum to $sum of ${truth.rows} rows") else Nil
    val tables = starTables.flatMap { t =>
      val n = spark.read.parquet(star.resolve(t).toString).count()
      if (n != truth.tables(t)) Some(s"$t: $n rows, planted ${truth.tables(t)}") else None
    }
    parts ++ total ++ tables
  }

  private def surveyOp(spark: SparkSession, t: Tracer, input: DataFrame, registry: DataFrame,
      config: graft.etl.EtlConfig, ids: StarLoader.IdStrategy, dir: Path,
      truth: SurveyTruth, export: Boolean): Done = {
    val res = t.layer(Layers.EtlPipeline)(Pipeline.run(input, registry, config, SurveyGen.Year))
    val star = t.layer(Layers.EtlStar)(StarLoader.load(res, idStrategy = ids))
    val xlsx = dir.resolve("export.xlsx")
    t.layer(Layers.SourcesWrite) {
      Writers.writeStar(star, dir.resolve("star").toString)
      if (export) Writers.exportSheetsXlsx(res, xlsx.toString)
    }
    new Done {
      def check(): Seq[String] =
        checkSurvey(spark, res, dir.resolve("star"), truth) ++
          (if (export) checkExport(xlsx, res.plans.map(_.group).distinct.size, truth) else Nil)
      val outBytes: Long = sizeOf(dir)
      def counts = Map("etl.valid_ratio" -> truth.valid.toDouble / truth.rows,
        "sources.write.bytes_out" -> outBytes.toDouble)
      def release(): Unit = { star.unpersist(); res.unpersist() }
    }
  }

  /** Data rows per worksheet of the exported workbook: one sheet per
    * group of valid rows, then duplicates, unmatched and all valid rows.
    */
  def checkExport(xlsx: Path, groups: Int, truth: SurveyTruth): Seq[String] = {
    val zip = new java.util.zip.ZipFile(xlsx.toFile)
    try {
      val want = Seq.fill(groups)(truth.valid) ++ Seq(truth.duplicates, truth.unmatched, truth.valid)
      want.zipWithIndex.flatMap { case (n, i) =>
        val e = zip.getEntry(s"xl/worksheets/sheet${i + 1}.xml")
        if (e == null) Some(s"export: sheet ${i + 1} missing")
        else {
          val body = new String(zip.getInputStream(e).readAllBytes(), "UTF-8")
          val rows = "<row ".r.findAllMatchIn(body).size - 1
          if (rows != n) Some(s"export sheet ${i + 1}: $rows rows, planted $n") else None
        }
      }
    } finally zip.close()
  }

  /** FEFAL's yearly batch: a wide survey workbook through the whole
    * pipeline, star schema to parquet and the review workbook.
    */
  final class SurveyYearly(spark: SparkSession, seed: Long, work: Path) extends Workload {
    private val gen = SurveyGen.yearly(seed)
    private val xlsx = work.resolve("survey.xlsx")
    SurveyGen.writeXlsx(xlsx.toString, gen.header, gen.rows)
    private val registry = SurveyGen.registryFrame(spark, gen.registry)
    val inputRows: Long = gen.rows.size.toLong
    val inBytes: Long = SurveyGen.cellBytes(gen.header, gen.rows)
    def op(dir: Path, t: Tracer): Done =
      surveyOp(spark, t, t.layer(Layers.SourcesRead)(Xlsx.read(spark, xlsx.toString)),
        registry, SurveyGen.config,
        StarLoader.DenseIds, dir, gen.truth, export = true)
  }

  /** The same pipeline at volume over a generated frame: per-row kernels,
    * no file read, no review workbook.
    */
  final class SurveyVolume(spark: SparkSession, seed: Long) extends Workload {
    private val rows = 250000L
    private val (survey, truth) = VolumeGen.survey(spark, seed, rows)
    private val registry = VolumeGen.registry(spark)
    private val config = SurveyGen.config.copy(groups = Map(
      "identificacao" -> GroupRange(1, 8), "formacoes" -> GroupRange(9, 12),
      "interesses" -> GroupRange(13, 18), "disponibilidade" -> GroupRange(19, 22),
      "tipo de ensino" -> GroupRange(23, 25)))
    val inputRows: Long = rows
    val inBytes: Long = VolumeGen.cellBytes(survey)
    def op(dir: Path, t: Tracer): Done =
      surveyOp(spark, t, survey, registry, config, StarLoader.ScalableIds, dir, truth,
        export = false)
  }

  /** q112's incremental release lifecycle: first turn, appended turn,
    * verified reopen, each op in a fresh release directory.
    */
  final class ReleaseTurn(spark: SparkSession, seed: Long, work: Path) extends Workload {
    import spark.implicits._
    private val corpus = DocGen.generate(seed, 1000)
    private def save(docs: Seq[Doc], name: String): String = {
      val p = work.resolve(name).toString
      docs.toDF().coalesce(1).write.parquet(p)
      p
    }
    private val turn1 = save(corpus.turn1, "turn1.parquet")
    private val turn2 = save(corpus.turn2, "turn2.parquet")
    private val benchPath = save(corpus.bench, "bench.parquet")
    private val params = Release.ReleaseParams(
      curation = Curation.CurationParams(
        minQuality = 0.0, maxRepetition = 1.0, lshThreshold = 0.6, maxContamination = 0.5,
        portableHash = true, minDocFreq = 0L),
      trainFrac = 0.8, valFrac = 0.1, leakageN = 13, maxOverlapNgrams = 100L)
    val inputRows: Long = (corpus.turn1.size + corpus.turn2.size).toLong
    val inBytes: Long = DocGen.cellBytes(corpus.turn1 ++ corpus.turn2 ++ corpus.bench)

    def op(dir: Path, t: Tracer): Done = {
      val path = dir.resolve("rel").toString
      def turn(p: String) = spark.read.parquet(p).select($"doc_id", $"lang", $"text")
      val (bench, st1) = t.layer(Layers.ReleaseInit) {
        val b = spark.read.parquet(benchPath)
        (b, Release.initIncremental(turn(turn1), b, "doc_id", "text", "lang", path, params))
      }
      val (st2, _) = t.layer(Layers.ReleaseAppend)(
        Release.appendTurn(st1, turn(turn2), bench, "doc_id", "text", "lang", params))
      st1.unpersist(); st2.unpersist()
      val opened = t.layer(Layers.ReleaseOpen) {
        val o = Release.open(spark, path, "doc_id", "text")
        o.write.format("noop").mode("overwrite").save()
        o
      }
      new Done {
        private lazy val shipped = opened.select($"doc_id").as[Long].collect().toSet
        def check(): Seq[String] = {
          val extra = shipped -- corpus.shipped
          val missing = corpus.shipped -- shipped
          if (extra.isEmpty && missing.isEmpty) Nil
          else Seq(s"release: ${shipped.size} docs shipped, expected ${corpus.shipped.size} " +
            s"(extra ${extra.toSeq.sorted.take(5)}, missing ${missing.toSeq.sorted.take(5)})")
        }
        val outBytes: Long = sizeOf(dir)
        def counts = Map("release.kept_ratio" -> shipped.size.toDouble / inputRows)
        def release(): Unit = ()
      }
    }
  }
}
