package graft.etl

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.{Cols, NormalizeTextExpr, TextNorm}
import graft.operators.SurrogateKeys
import graft.sources.Readers

/** Star-schema load (SURVEY.md §3.2; etl_ui.py:394-664, dw_creation.sql).
  *
  * The reference loads row-at-a-time with `INSERT ... RETURNING id` —
  * O(rows x questions) database round-trips. Here every fact is one
  * unpivot (narrow, stays in codegen) + one broadcast dim join over the
  * one pinned `valid` frame, which already carries `id_inquerito`.
  * Every dimension is a get-or-create computed on the driver from the
  * column labels and the collected existing rows (dimension-sized by
  * construction) and returned as a one-partition local relation. Write
  * the resulting frames with `df.write.jdbc` (batched) or parquet
  * partitioned by `ano`.
  *
  * Surrogate ids: the fact-side `inquerito`/`resposta` ids are chosen by
  * [[IdStrategy]]. [[DenseIds]] (default) matches the serial reference —
  * deterministic, contiguous `row_number` over ingest order — but plans a
  * single-partition window: fine at survey scale (thousands of rows/year),
  * a one-task serialization point at 100×. [[ScalableIds]] swaps in
  * [[SurrogateKeys.scalable]] (unique, non-contiguous, shuffle-free,
  * stays in codegen) — nothing downstream depends on contiguity, so this
  * is the setting for web-scale facts; `Bench.pipeline_1m` and
  * `tools.ScalePipeline` run it. Dimension ids stay dense regardless:
  * they are assigned on the driver, never by a Spark window.
  */
object StarLoader {

  /** Fact-table surrogate-id assignment strategy (see object scaladoc). */
  sealed trait IdStrategy
  /** Contiguous reference-parity ids; single-partition window. */
  case object DenseIds extends IdStrategy
  /** Unique non-contiguous ids; fully parallel, no window, no shuffle. */
  case object ScalableIds extends IdStrategy

  final case class TipoDisp(id: Long, descricao: String)

  final case class Star(
      fatoInquerito: DataFrame,
      dimFormacao: DataFrame,
      fatoFormacao: DataFrame,
      dimAreaTematica: DataFrame,
      fatoInteresse: DataFrame,
      comentario: DataFrame,
      dimPreferencia: DataFrame,
      fatoPreferencia: DataFrame,
      dimHorario: DataFrame,
      fatoDisponibilidade: DataFrame,
      private[etl] val pins: Seq[DataFrame] = Seq.empty) {
    /** Release what [[load]] holds in executor storage (the pinned valid
      * rows with their inquerito ids, the fused-interest cache) once the
      * star frames are written — same lifecycle contract as
      * [[Pipeline.EtlResult.unpersist]]: a released star cannot be read
      * again, and a pin whose block an executor loses is not recomputed.
      */
    def unpersist(): Unit = pins.foreach(graft.Pins.release)
  }

  private def emptyDf(spark: SparkSession, fields: (String, DataType)*): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row],
      StructType(fields.map { case (n, t) => StructField(n, t) }))

  /** Melt the given plans' physical columns into
    * (id_inquerito, pos, label, value) — `pos` is the column position
    * inside the group, preserving the reference's (row, column) insertion
    * order for id assignment.
    */
  private def long(
      df: DataFrame,
      plans: Seq[LabelOps.ColPlan],
      valueType: DataType,
      labelOf: LabelOps.ColPlan => String = _.label): DataFrame = {
    val cols = plans.zipWithIndex.map { case (p, i) =>
      struct(lit(labelOf(p)).as("label"), lit(i).as("pos"),
        col(s"`${p.uniqueName}`").cast(valueType).as("value"))
    }
    df.select(col("id_inquerito"), explode(array(cols: _*)).as("m"))
      .select(col("id_inquerito"), col("m.pos").as("pos"),
        col("m.label").as("label"), col("m.value").as("value"))
  }

  /** Spark's default string order (UTF-8 bytes, unsigned), which is not
    * `String.compareTo`'s UTF-16 order once supplementary-plane
    * characters are involved.
    */
  private val binaryOrder: Ordering[String] =
    (a, b) => UTF8String.fromString(a).compareTo(UTF8String.fromString(b))

  /** Dimension get-or-create on the driver: `existing` rows (collected
    * as `schema`: the long id, then the natural-key fields) are kept as
    * they are; each distinct `incoming` natural key whose `key` matches
    * no existing row gets a dense id after max(existing id), in `order`.
    * Replaces `INSERT ... ON CONFLICT DO NOTHING RETURNING`
    * (etl_ui.py:446-456,508-520,571-587,625-641) without serial
    * round-trips. Dimensions are label-sized: one partition, one file.
    */
  private def dimGetOrCreate(spark: SparkSession, schema: StructType,
      existing: Option[DataFrame], incoming: Seq[Row], key: Row => Any,
      order: Ordering[Row]): DataFrame = {
    val ex = existing.toSeq.flatMap(
      _.select(schema.map(f => col(f.name).cast(f.dataType)): _*).collect())
    val exKeys = ex.map(r => key(Row.fromSeq(r.toSeq.tail))).toSet
    val maxId = ex.flatMap(r => Option(r.get(0))).map(_.asInstanceOf[Long]).maxOption
    val created = incoming.distinct.filterNot(r => exKeys(key(r))).sorted(order)
      .zipWithIndex.map { case (r, i) => Row.fromSeq((maxId.getOrElse(0L) + i + 1) +: r.toSeq) }
    spark.createDataFrame((ex ++ created).asJava, schema).coalesce(1)
  }

  /** An (id, name) dimension keyed by `keyFn(name)`, fresh names in
    * Spark's string order.
    */
  private def nameDim(spark: SparkSession, existing: Option[DataFrame], names: Seq[String],
      idCol: String, nomeCol: String, keyFn: String => String = identity): DataFrame =
    dimGetOrCreate(spark,
      StructType(Seq(StructField(idCol, LongType), StructField(nomeCol, StringType))),
      existing, names.filter(_ != null).map(Row(_)), r => keyFn(r.getString(0)),
      Ordering.by[Row, String](_.getString(0))(binaryOrder))

  /** @param result           pipeline output; facts load from `result.valid`
    * @param existingFormacao optional (id_formacao, nome_formacao) dim state
    * @param existingHorario  optional (id_horario, descricao_horario, id_tipo_disp)
    * @param tiposDisp        availability types (config-scale, driver-side,
    *                         mirroring the `tipos_disponibilidades` scan)
    * @param idOffset         starting id_inquerito offset (max existing)
    * @param commentKeys      comment-column keywords (ConfigAdvanced)
    * @param idStrategy       fact surrogate-id strategy: [[DenseIds]] for
    *                         reference-parity contiguous ids (survey
    *                         scale), [[ScalableIds]] for shuffle-free
    *                         unique ids (web scale)
    */
  def load(
      result: Pipeline.EtlResult,
      existingFormacao: Option[DataFrame] = None,
      existingHorario: Option[DataFrame] = None,
      tiposDisp: Seq[TipoDisp] = Seq(TipoDisp(1, "Presencial"), TipoDisp(2, "Online")),
      idOffset: Long = 0L,
      commentKeys: Seq[String] = Seq("comentario"),
      idStrategy: IdStrategy = DenseIds): Star = {

    val spark = result.valid.sparkSession
    // ONE pin serves every fact: `valid` with its inquerito ids, an
    // eager localCheckpoint, so the ten concurrent star writes read
    // built blocks instead of each racing to compute them, and each fact
    // is analysed and planned over a one-node leaf, not the pipeline's
    // lineage. Under DenseIds the id window leaves it in one partition
    // (survey scale, see above; SCALE.md "Caching discipline" times this
    // shape at 1M rows).
    val valid = (idStrategy match {
      case DenseIds => SurrogateKeys.dense(result.valid, "id_inquerito",
        Seq(col(Readers.RowId).asc), offset = idOffset)
      case ScalableIds => SurrogateKeys.scalable(result.valid, "id_inquerito",
        offset = idOffset)
    }).localCheckpoint()

    // ---- FatoInquerito (X7, X23) -------------------------------------
    val hasResp = result.plans.exists(_.uniqueName == "existe_responsavel")
    val fatoInquerito = valid.select(
      col("id_inquerito"),
      col("id_entidade"),
      col("ano"),
      to_date(col("data_submissao")).as("data_submissao"),
      (if (hasResp) Cols.simNaoStrict(col("existe_responsavel"))
       else lit(null).cast(IntegerType)).as("existe_responsavel"),
      col("nome_responsavel"),
      col("percentagem_preenchido"),
      col("tempo_realizacao"))

    // ---- M1 formations ----------------------------------------------
    val fPlans = result.colsOfGroup("formacoes")
    // dim rows come from the column labels (the reference inserts every
    // formation column, etl_ui.py:446-456), keyed by normalized name
    val dimFormacao = nameDim(spark, existingFormacao, fPlans.map(_.label),
      "id_formacao", "nome_formacao",
      s => NormalizeTextExpr.normalize(UTF8String.fromString(s)).toString)
    val fatoFormacao =
      if (fPlans.isEmpty)
        emptyDf(spark, "id_inquerito" -> LongType, "id_formacao" -> LongType,
          "n_formandos" -> IntegerType)
      else long(valid, fPlans, IntegerType)
        .filter(col("value").isNotNull && col("value") >= 0)
        .join(broadcast(dimFormacao
            .select(col("id_formacao"), Cols.normalizeText(col("nome_formacao")).as("__k"))),
          Cols.normalizeText(col("label")) === col("__k"))
        .select(col("id_inquerito"), col("id_formacao"), col("value").as("n_formandos"))

    // ---- M2 interests + comment fusion (X8/X9, J9) -------------------
    val iPlans = result.colsOfGroup("interesses").filter(_.role == LabelOps.Interest)
    val cPlans = result.colsOfGroup("interesses").filter(_.role == LabelOps.InterestComment)

    val dimArea = nameDim(spark, None, iPlans.map(_.label), "id_area_tematica", "nome_area")

    val (fatoInteresse, comentario, interestCache) =
      if (iPlans.isEmpty)
        (emptyDf(spark, "id_resposta" -> LongType, "id_inquerito" -> LongType,
          "id_area_tematica" -> LongType, "tem_interesse" -> IntegerType,
          "n_formandos" -> IntegerType, "comentario" -> StringType),
         emptyDf(spark, "id_resposta" -> LongType, "texto_comentario" -> StringType),
         None)
      else {
        val iLong = long(valid, iPlans, DoubleType)
          .filter(col("value").isNotNull && col("value") > 0)
        val cLong =
          if (cPlans.isEmpty)
            emptyDf(spark, "id_inquerito" -> LongType, "label" -> StringType,
              "texto_raw" -> StringType)
          else long(valid, cPlans, StringType,
              labelOf = p => LabelOps.interestLabelOfComment(p.label, commentKeys))
            .filter(col("value").isNotNull && trim(col("value")) =!= "")
            .select(col("id_inquerito"), col("label"), trim(col("value")).as("texto_raw"))

        val fused = iLong
          .join(cLong, Seq("id_inquerito", "label"), "left_outer")
          .join(broadcast(dimArea), col("label") === col("nome_area"))
          .withColumn("n_formandos",
            when(col("texto_raw").isNotNull && Cols.isNumericString(col("texto_raw")),
              col("texto_raw").try_cast(DoubleType).cast(IntegerType))
              .otherwise(col("value").cast(IntegerType)))
          .withColumn("comentario_texto",
            when(col("texto_raw").isNotNull && !Cols.isNumericString(col("texto_raw")),
              col("texto_raw")))

        // DenseIds: resposta ids follow the reference's (row, column)
        // insert order — id_inquerito is dense in row order, so it orders
        // rows; single-partition window, survey-scale only.
        // ScalableIds: unique ids, no window (see object scaladoc).
        val interesse = (idStrategy match {
          case DenseIds => fused.withColumn("id_resposta",
            // constant partition key: declared single-task window, same
            // execution as bare orderBy (see SurrogateKeys.dense)
            row_number().over(Window.partitionBy(lit(0))
                .orderBy(col("id_inquerito").asc, col("pos").asc))
              .cast(LongType))
          case ScalableIds => SurrogateKeys.scalable(fused, "id_resposta")
        }).persist()

        (interesse.select(
            col("id_resposta"), col("id_inquerito"), col("id_area_tematica"),
            lit(1).as("tem_interesse"), col("n_formandos"),
            col("comentario_texto").as("comentario")),
         interesse
           .filter(col("comentario_texto").isNotNull)
           .select(col("id_resposta"),
             explode(Cols.splitSentences(col("comentario_texto"))).as("texto_comentario")),
         Some(interesse))
      }

    // ---- M3 preferences ---------------------------------------------
    val pPlans = result.colsOfGroup("tipo de ensino")
    val dimPreferencia = nameDim(spark, None, pPlans.map(_.label),
      "id_preferencia", "descricao_preferencia")
    val fatoPreferencia =
      if (pPlans.isEmpty)
        emptyDf(spark, "id_inquerito" -> LongType, "id_preferencia" -> LongType,
          "valor_preferencia" -> IntegerType)
      else long(valid, pPlans, IntegerType).filter(col("value").isNotNull)
        .join(broadcast(dimPreferencia), col("label") === col("descricao_preferencia"))
        .select(col("id_inquerito"), col("id_preferencia"),
          col("value").as("valor_preferencia"))

    // ---- M4 availability (J6/J7, P6) ---------------------------------
    val dPlans = result.colsOfGroup("disponibilidade")
    // label -> (descricao from brackets, tipo from prefix match) is pure
    // label logic, driver-side like the reference (etl_ui.py:613-623)
    val horarioOfLabel: Map[String, (String, java.lang.Long)] = dPlans.map { p =>
      val tipo = tiposDisp.find(td =>
        p.label.startsWith(TextNorm.normalize(s"${td.descricao} -"))).map(_.id)
      p.label -> ((TextNorm.extractBrackets(p.label), tipo.map(Long.box).orNull))
    }.toMap

    // keyed null-safe on (descricao, tipo): a label with no matching type
    // prefix yields id_tipo_disp = NULL, which must still match its dim
    // row; fresh rows in (descricao, tipo nulls last) order
    val horarioOrder = Ordering.by((r: Row) => (Option(r.getString(0)),
      r.isNullAt(1), Option(r.get(1)).map(_.asInstanceOf[Long])))(Ordering.Tuple3(
      Ordering.Option(binaryOrder), Ordering.Boolean, Ordering.Option(Ordering.Long)))
    val dimHorario = dimGetOrCreate(spark,
      StructType(Seq(StructField("id_horario", LongType),
        StructField("descricao_horario", StringType), StructField("id_tipo_disp", LongType))),
      existingHorario,
      dPlans.map { p => val (d, t) = horarioOfLabel(p.label); Row(d, t) },
      r => (r.get(0), r.get(1)), horarioOrder)

    val fatoDisponibilidade =
      if (dPlans.isEmpty)
        emptyDf(spark, "id_inquerito" -> LongType, "id_horario" -> LongType,
          "tem_disponibilidade" -> IntegerType)
      else {
        val descEntries = dPlans.flatMap(p => Seq(lit(p.label), lit(horarioOfLabel(p.label)._1)))
        val tipoEntries = dPlans.flatMap(p => Seq(lit(p.label),
          lit(horarioOfLabel(p.label)._2).cast(LongType)))
        val dh = dimHorario.select(col("id_horario"),
          col("descricao_horario").as("__dh_desc"), col("id_tipo_disp").as("__dh_tipo"))
        long(valid, dPlans, IntegerType).filter(col("value").isNotNull)
          .withColumn("descricao_horario", element_at(map(descEntries: _*), col("label")))
          .withColumn("id_tipo_disp", element_at(map(tipoEntries: _*), col("label")))
          .join(broadcast(dh),
            col("descricao_horario") <=> col("__dh_desc") &&
              col("id_tipo_disp") <=> col("__dh_tipo"))
          .select(col("id_inquerito"), col("id_horario"),
            col("value").as("tem_disponibilidade"))
      }

    Star(
      fatoInquerito = fatoInquerito,
      dimFormacao = dimFormacao,
      fatoFormacao = fatoFormacao,
      dimAreaTematica = dimArea,
      fatoInteresse = fatoInteresse,
      comentario = comentario,
      dimPreferencia = dimPreferencia,
      fatoPreferencia = fatoPreferencia,
      dimHorario = dimHorario,
      fatoDisponibilidade = fatoDisponibilidade,
      pins = valid +: interestCache.toSeq)
  }
}
