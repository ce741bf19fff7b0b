package graft.etl

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.sources.Readers

/** End-to-end golden test of the FEFAL pipeline on the FIXTURES.md survey:
  * 6 rows -> 3 valid (one per entity), 1 duplicate, 1 unmatched, 1 bad
  * name; star-schema load checked table by table.
  */
class PipelineSpec extends SparkSpec {
  import spark.implicits._

  private def res(name: String): String =
    getClass.getResource(s"/fixtures/$name").getPath

  private lazy val config = Config.fromJsonFile(res("config.json"))
  private lazy val registry = spark.read.option("header", "true").csv(res("entidades.csv"))
  private lazy val survey = Readers.csv(spark, res("survey_2026.csv"))
  private lazy val result = Pipeline.run(survey, registry, config, 2026)
  private lazy val star = StarLoader.load(result)

  test("partition invariant and split sizes") {
    val s = Review.summary(result)
    assert(s.valid == 3, "valid")
    assert(s.duplicates == 1, "duplicates")
    assert(s.unmatched == 1, "unmatched")
    assert(s.badName == 1, "badName")
    assert(s.total == survey.count())
  }

  test("entity resolution matches the right registry ids, keep-first dedup") {
    val ids = result.valid.select("row_id", "id_entidade")
      .as[(Long, Long)].collect().toMap
    assert(ids == Map(0L -> 101L, 2L -> 201L, 5L -> 102L))
    assert(result.duplicates.select("row_id").as[Long].head() == 1L)
    assert(result.unmatched.select("row_id").as[Long].head() == 3L)
  }

  test("fato_inquerito measures (pct rescale, duration, coalesce, X7)") {
    val rows = star.fatoInquerito
      .orderBy("id_inquerito")
      .select($"id_inquerito", $"id_entidade", $"ano",
        date_format($"data_submissao", "yyyy-MM-dd"),
        $"existe_responsavel", $"nome_responsavel",
        $"percentagem_preenchido", $"tempo_realizacao")
      .as[(Long, Long, Int, String, Option[Int], Option[String], Option[Int], Option[Long])]
      .collect().toSeq
    assert(rows == Seq(
      (1L, 101L, 2026, "2026-03-02", Some(1), Some("Ana Silva"), Some(80), Some(1800L)),
      // data_submissao coalesced from data_fim; responsavel absent
      (2L, 201L, 2026, "2026-03-01", None, None, Some(60), Some(1200L)),
      // fim < inicio -> tempo null
      (3L, 102L, 2026, "2026-03-01", Some(1), Some("Rui Costa"), Some(100), None)))
  }

  test("formations: labels bracket-extracted, garbage -> 0, all cells load") {
    val dim = star.dimFormacao.orderBy("id_formacao")
      .as[(Long, String)].collect().toSeq
    assert(dim == Seq(
      (1L, "atendimento"), (2L, "excel avancado"),
      (3L, "gestao documental"), (4L, "sig municipal")))
    assert(star.fatoFormacao.count() == 12) // 3 valid rows x 4 formation cols
    // row 0: excel=5, sig=0, gestao("abc")=0, atendimento(blank)=0
    val r0 = star.fatoFormacao.filter($"id_inquerito" === 1L)
      .select("id_formacao", "n_formandos").as[(Long, Int)].collect().toMap
    assert(r0 == Map(2L -> 5, 4L -> 0, 3L -> 0, 1L -> 0))
  }

  test("interests: gate >0, numeric comment overrides n_formandos, sentences split") {
    val facts = star.fatoInteresse
      .join(star.dimAreaTematica, "id_area_tematica")
      .select($"id_resposta", $"id_inquerito", $"nome_area", $"n_formandos", $"comentario")
      .orderBy("id_resposta")
      .as[(Long, Long, String, Int, Option[String])].collect().toSeq
    assert(facts == Seq(
      (1L, 1L, "lideranca", 12, None), // "12" comment overrode n_formandos
      (2L, 3L, "lideranca", 1, Some("Muito útil. Repetir em 2027!")),
      (3L, 3L, "inovacao", 1, None)))
    val coms = star.comentario.orderBy("id_resposta", "texto_comentario")
      .as[(Long, String)].collect().toSeq
    assert(coms == Seq((2L, "Muito útil."), (2L, "Repetir em 2027!")))
  }

  test("preferences: non-null only, dim from labels") {
    val dim = star.dimPreferencia.orderBy("id_preferencia")
      .as[(Long, String)].collect().toSeq
    assert(dim == Seq(
      (1L, "preferencia: b-learning"), (2L, "preferencia: e-learning"),
      (3L, "preferencia: presencial")))
    assert(star.fatoPreferencia.count() == 7)
    val r2 = star.fatoPreferencia.filter($"id_inquerito" === 2L)
      .select("id_preferencia", "valor_preferencia").as[(Long, Int)].collect().toSeq
    assert(r2 == Seq((3L, 2))) // only "Preferência: Presencial" answered
  }

  test("availability: prefix-matched types, bracket descriptions, -1 for unknown") {
    val dim = star.dimHorario.orderBy("id_horario")
      .as[(Long, String, Option[Long])].collect().toSeq
    assert(dim.size == 6)
    assert(dim.forall { case (_, d, t) => !d.contains("[") && t.exists(Set(1L, 2L)) })
    assert(star.fatoDisponibilidade.count() == 18) // 3 rows x 6 cols, -1 included
    val dist = star.fatoDisponibilidade.groupBy("tem_disponibilidade").count()
      .as[(Int, Long)].collect().toMap
    assert(dist == Map(1 -> 8, 0 -> 7, -1 -> 3))
  }

  test("review: promoteDuplicate swaps rows, correctEntity resolves unmatched") {
    val promoted = Review.promoteDuplicate(result, rowId = 1L)
    assert(promoted.valid.filter($"id_entidade" === 101L)
      .select("row_id").as[Long].head() == 1L)
    assert(promoted.duplicates.select("row_id").as[Long].collect().toSeq == Seq(0L))
    val corrected = Review.correctEntity(result, rowId = 3L, idEntidade = 202L)
    assert(corrected.unmatched.count() == 0)
    assert(corrected.valid.count() == 4)
    assert(Review.summary(corrected).total == Review.summary(result).total)
  }

  test("skewAware dedup path yields the identical 4-way split") {
    val sk = Pipeline.run(survey, registry, config, 2026, skewAware = true)
    def rowIds(df: DataFrame) = df.select("row_id").as[Long].collect().toSet
    assert(rowIds(sk.valid) == rowIds(result.valid))
    assert(rowIds(sk.duplicates) == rowIds(result.duplicates))
    assert(rowIds(sk.unmatched) == rowIds(result.unmatched))
    assert(rowIds(sk.badName) == rowIds(result.badName))
    assert(Review.summary(sk).total == survey.count())
    sk.unpersist()
  }

  test("run pins the post-join frame in one job, load pins valid in its own") {
    // inputs resolved first: the CSV header reads are not run's jobs
    registry.schema; survey.schema
    val (r, runJobs) = jobsDuring(Pipeline.run(survey, registry, config, 2026))
    val (st, loadJobs) = jobsDuring(StarLoader.load(r))
    // Each runs one query, its pin: run's jobs are the registry
    // broadcast and the post-join pin; load's query stages (the pct max,
    // the dedup and id-window shuffles) each run as a job before the pin.
    // A persist + count at either fan-out point adds the count's jobs.
    assert(runJobs == 2, s"Pipeline.run ran $runJobs jobs")
    assert(loadJobs == 6, s"StarLoader.load ran $loadJobs jobs")
    st.unpersist(); r.unpersist()
  }

  test("unpersist releases every pin of the result and of the star") {
    import org.apache.spark.sql.classic
    import org.apache.spark.sql.execution.LogicalRDD
    val r = Pipeline.run(survey, registry, config, 2026)
    val st = StarLoader.load(r)
    // the lazily filled caches (dedup ranking, fused interests) too
    Seq(r.duplicates, st.fatoInteresse).foreach(_.write.format("noop").mode("overwrite").save())
    val cacheManager = spark.asInstanceOf[classic.SparkSession].sharedState.cacheManager
    val ids = (r.pins ++ st.pins).map(df => df.queryExecution.logical match {
      case p: LogicalRDD => p.rdd.id
      case _ => cacheManager.lookupCachedData(df.asInstanceOf[classic.Dataset[_]])
        .get.cachedRepresentation.cacheBuilder.cachedColumnBuffers.id
    })
    def live = spark.sparkContext.getPersistentRDDs.keySet
    assert(ids.size == 4 && ids.forall(live.contains), s"pins $ids, live $live")
    st.unpersist(); r.unpersist()
    assert(ids.filter(live.contains).isEmpty, s"still persisted after unpersist: $ids")
  }
}
