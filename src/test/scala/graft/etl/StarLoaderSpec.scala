package graft.etl

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.functions.{Cols, TextNorm}
import graft.operators.SurrogateKeys

/** The star's dimensions are built on the driver. They must equal, row
  * for row, what the Spark get-or-create formulation below produces (a
  * distinct + anti-join + dense window over the label relation), which
  * is the form the loader used before and is kept here as the reference.
  */
class StarLoaderSpec extends SparkSpec {
  import spark.implicits._

  private def emptyDf(fields: (String, DataType)*): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
      StructType(fields.map { case (n, t) => StructField(n, t) }))

  // ---- reference: the Spark formulation ------------------------------

  private def refNameDim(existing: Option[DataFrame], names: Seq[String],
      idCol: String, nomeCol: String, keyFn: Column => Column): DataFrame = {
    val ex = existing.getOrElse(emptyDf(idCol -> LongType, nomeCol -> StringType))
      .select(col(idCol).cast("long").as(idCol), col(nomeCol))
    val exKeyed = ex.withColumn("__key", keyFn(col(nomeCol)))
    val fresh = names.distinct.toDF(nomeCol).select(col(nomeCol)).na.drop().distinct()
      .withColumn("__key", keyFn(col(nomeCol)))
      .join(exKeyed.select("__key"), Seq("__key"), "left_anti")
      .drop("__key")
    val maxId = ex.agg(coalesce(max(col(idCol)), lit(0L)).as("__m"))
    val created = SurrogateKeys.dense(fresh, idCol, Seq(col(nomeCol).asc))
      .crossJoin(broadcast(maxId))
      .select((col(idCol) + col("__m")).cast("long").as(idCol), col(nomeCol))
    ex.unionByName(created)
  }

  private def refHorario(existing: Option[DataFrame], labels: Seq[String],
      tiposDisp: Seq[StarLoader.TipoDisp]): DataFrame = {
    val exHor = existing
      .getOrElse(emptyDf("id_horario" -> LongType,
        "descricao_horario" -> StringType, "id_tipo_disp" -> LongType))
      .select(col("id_horario").cast("long").as("id_horario"),
        col("descricao_horario"), col("id_tipo_disp").cast("long").as("id_tipo_disp"))
    val horarioNeeded = labels.map { l =>
      val tipo = tiposDisp.find(td => l.startsWith(TextNorm.normalize(s"${td.descricao} -")))
        .map(_.id)
      (TextNorm.extractBrackets(l), tipo.map(java.lang.Long.valueOf).orNull)
    }.distinct
      .toDF("descricao_horario", "id_tipo_disp")
      .select(col("descricao_horario"), col("id_tipo_disp").cast("long").as("id_tipo_disp"))
    val exHorK = exHor.select(col("descricao_horario").as("__eh_desc"),
      col("id_tipo_disp").as("__eh_tipo"))
    val freshHor = horarioNeeded.join(exHorK,
      col("descricao_horario") <=> col("__eh_desc") &&
        col("id_tipo_disp") <=> col("__eh_tipo"), "left_anti")
    val maxHor = exHor.agg(coalesce(max(col("id_horario")), lit(0L)).as("__m"))
    exHor.unionByName(
      SurrogateKeys.dense(freshHor, "id_horario",
          Seq(col("descricao_horario").asc, col("id_tipo_disp").asc_nulls_last))
        .crossJoin(broadcast(maxHor))
        .select((col("id_horario") + col("__m")).cast("long").as("id_horario"),
          col("descricao_horario"), col("id_tipo_disp")))
  }

  // ---- a one-row pipeline result with the given group labels ---------

  private def resultWith(
      formacoes: Seq[String], interesses: Seq[String],
      preferencias: Seq[String], horarios: Seq[String]): Pipeline.EtlResult = {
    import LabelOps._
    val groups = Seq(("formacoes", Measure, formacoes), ("interesses", Interest, interesses),
      ("tipo de ensino", Measure, preferencias), ("disponibilidade", Availability, horarios))
    val plans = groups.flatMap { case (g, role, labels) =>
      labels.zipWithIndex.map { case (l, i) => ColPlan(l, l, s"${g.take(3)}_$i", g, role) }
    }
    val base = Seq((0L, "e1", 2026, "2026-03-01", "Ana", 90, 300L))
      .toDF("row_id", "id_entidade", "ano", "data_submissao", "nome_responsavel",
        "percentagem_preenchido", "tempo_realizacao")
    val valid = plans.foldLeft(base)((df, p) => df.withColumn(p.uniqueName, lit("1")))
    Pipeline.EtlResult(valid, valid.limit(0), valid.limit(0), valid.limit(0), plans)
  }

  private def rows(df: DataFrame): Map[Seq[Any], Int] =
    df.collect().toSeq.map(_.toSeq).groupBy(identity).map { case (k, v) => k -> v.size }

  private def assertSameDim(got: DataFrame, ref: DataFrame, name: String): Unit = {
    assert(got.columns.toSeq == ref.columns.toSeq, name)
    assert(rows(got) == rows(ref), s"$name:\n got ${rows(got)}\n ref ${rows(ref)}")
    assert(got.rdd.getNumPartitions == 1, s"$name must be one partition")
  }

  private val tipos = Seq(StarLoader.TipoDisp(1, "Presencial"), StarLoader.TipoDisp(2, "Online"))

  private def checkAll(
      formacoes: Seq[String], interesses: Seq[String], preferencias: Seq[String],
      horarios: Seq[String], existingFormacao: Option[DataFrame] = None,
      existingHorario: Option[DataFrame] = None): StarLoader.Star = {
    val star = StarLoader.load(resultWith(formacoes, interesses, preferencias, horarios),
      existingFormacao = existingFormacao, existingHorario = existingHorario, tiposDisp = tipos)
    assertSameDim(star.dimFormacao, refNameDim(existingFormacao, formacoes,
      "id_formacao", "nome_formacao", Cols.normalizeText), "dim_formacao")
    assertSameDim(star.dimAreaTematica,
      refNameDim(None, interesses, "id_area_tematica", "nome_area", c => c), "dim_area_tematica")
    assertSameDim(star.dimPreferencia, refNameDim(None, preferencias,
      "id_preferencia", "descricao_preferencia", c => c), "dim_preferencia_ensino")
    assertSameDim(star.dimHorario, refHorario(existingHorario, horarios, tipos), "dim_horario")
    star
  }

  // labels whose UTF-8 byte order differs from String.compareTo's UTF-16
  // order: U+FF21 (EF BC A1) sorts before U+1F600 (F0 9F 98 80) in
  // bytes, after its surrogate pair (D83D ...) in UTF-16
  private val fullwidth = "Ａ fullwidth"
  private val emoji = "😀 emoji"
  private val accented = Seq("Área", "Zona", "área", "éclair", "Ébano", fullwidth, emoji)

  test("labels colliding on the normalized key, accented and supplementary labels") {
    assert(fullwidth.compareTo(emoji) > 0 &&
      org.apache.spark.unsafe.types.UTF8String.fromString(fullwidth)
        .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(emoji)) < 0)
    val star = checkAll(
      formacoes = Seq("Gestão de Projetos", "gestao de projetos", " GESTÃO  de projetos",
        "Higiene", fullwidth, emoji, "Gestão de Projetos"),
      interesses = accented,
      preferencias = accented.reverse,
      horarios = Seq("presencial - manha [Manhã]", "online - manha [Manhã]",
        "presencial - noite [Ω Noite]", s"online - [$emoji]", s"online - [$fullwidth]"))
    // the colliding names are three dimension rows, so each of the four
    // columns with that key joins all three (the get-or-create semantics)
    assert(star.dimFormacao.count() == 6)
    assert(star.fatoFormacao.count() == 4 * 3 + 3)
    star.unpersist()
  }

  test("existing rows with id gaps and a null id; blank label matches a null name") {
    val exF = Seq[(java.lang.Long, String)]((2L, "Higiene"), (9L, "gestão de projetos"),
      (null, "Liderança"), (5L, null), (7L, "Higiene"))
      .toDF("id_formacao", "nome_formacao")
    val exH = Seq[(java.lang.Long, String, java.lang.Long)]((3L, "Manhã", 1L), (11L, "Noite", null),
      (null, "Tarde", 2L), (6L, null, null))
      .toDF("id_horario", "descricao_horario", "id_tipo_disp")
    val star = checkAll(
      formacoes = Seq("HIGIENE", "Gestão de Projetos", "liderança", "Novo Curso", "   ", emoji),
      interesses = Seq("Área"),
      preferencias = Seq("Online"),
      horarios = Seq("presencial - manha [Manhã]", "online - manha [Manhã]",
        "noite sem tipo [Noite]", "online - tarde [Tarde]", "[Tarde]"),
      existingFormacao = Some(exF), existingHorario = Some(exH))
    val fresh = star.dimFormacao.filter(col("id_formacao") > 9).orderBy("id_formacao")
      .as[(Long, String)].collect().toSeq
    assert(fresh == Seq(10L -> "Novo Curso", 11L -> emoji))
    star.unpersist()
  }

  test("empty label lists and a horario label with no tipo prefix") {
    val star = checkAll(formacoes = Nil, interesses = Nil, preferencias = Nil,
      horarios = Seq("sem prefixo [Noite]", "[Noite]", "online - [Noite]", "presencial -"))
    assert(star.dimFormacao.count() == 0 && star.fatoFormacao.count() == 0)
    // null tipo sorts last within the same descricao
    assert(star.dimHorario.orderBy("id_horario").collect().toSeq.map(_.toSeq) ==
      Seq(Seq(1L, "Noite", 2L), Seq(2L, "Noite", null), Seq(3L, "presencial -", 1L)))
    star.unpersist()
  }
}
