package graft.etl

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType, StringType}

import graft.functions.Cols
import graft.operators.Dedup
import graft.sources.Readers

/** The `run_etl` equivalent (SURVEY.md §3.1; etl_ui.py:68-129), as one
  * lazy DataFrame DAG.
  *
  * Differences from the reference, by design:
  *  - No positional concat: the wide frame is never physically split into
  *    group frames (P9 is an identity here). Each column is planned
  *    driver-side ([[LabelOps.plan]]) and transformed in a single select;
  *    group membership travels as metadata ([[EtlResult.plans]]).
  *  - Row order is explicit: an ingest `row_id` drives "keep first" dedup
  *    and fact pairing (the reference relies on pandas index order).
  *  - Bad-name rows are returned as a fourth frame instead of silently
  *    vanishing (the reference drops them from every output and only
  *    reports a count; returning them preserves the reconciliation
  *    invariant valid+duplicates+unmatched+badName == input).
  *  - The reference's `full_data` assembly has a latent index-misalignment
  *    (it applies masks computed on the *filtered* identificacao frame to
  *    the positionally-reset concat of *unfiltered* group frames,
  *    etl_ui.py:106-121); we implement the documented intent, not the bug.
  *
  * Scale notes: the registry join is broadcast (dimension-sized build
  * side); the only shuffle is the keep-first window hash-partitioned on
  * `id_entidade`; the pct rescale's global max is a 1-row broadcast, not a
  * single-partition window; everything else is narrow. [[run]] runs one
  * job besides the registry broadcast: the eager pin of the post-join
  * frame, from which every output is planned.
  */
object Pipeline {

  final case class EtlResult(
      valid: DataFrame,
      duplicates: DataFrame,
      unmatched: DataFrame,
      badName: DataFrame,
      plans: Seq[LabelOps.ColPlan],
      private[etl] val pins: Seq[DataFrame] = Seq.empty) {
    def colsOfGroup(group: String): Seq[LabelOps.ColPlan] =
      plans.filter(_.group == group)

    /** Release what the pipeline holds in executor storage (the pinned
      * post-join rows and the dedup cache) once the outputs and the star
      * are written — keeps long-lived sessions (many yearly batches) from
      * accumulating them. A released result cannot be read again: its
      * frames read the pinned rows, which are gone. Nor is a pin
      * recomputed if an executor loses one of its blocks (a
      * `localCheckpoint` severs the lineage), the same trade-off as
      * [[graft.operators.Release]]'s pins.
      */
    def unpersist(): Unit = pins.foreach(graft.Pins.release)
  }

  private val helperCols =
    Seq("nome_entidade_norm", "entity_key", "data_inicio", "data_fim")

  /** @param raw      wide survey frame, all-string columns, optionally
    *                 already carrying `row_id`
    * @param registry entity registry `(id_entidades, ent_nome, ent_tipo)`
    * @param year     batch year (becomes the `ano` column / partition key)
    * @param skewAware use [[Dedup.keepFirstSkewAware]] (aggregation +
    *                 semi-join) instead of the per-key window for the W1
    *                 dedup — same kept rows (row_id is unique, so the
    *                 precondition holds); choose it when one entity can
    *                 hold a significant fraction of all rows
    */
  def run(
      raw: DataFrame,
      registry: DataFrame,
      config: EtlConfig,
      year: Int,
      skewAware: Boolean = false): EtlResult = {

    val withId =
      if (raw.columns.contains(Readers.RowId)) raw else Readers.withRowId(raw)

    val plans = LabelOps.plan(
      withId.columns.filterNot(_ == Readers.RowId).toSeq, config)

    // --- one select: every planned column gets its per-group transform --
    val exprs: Seq[Column] = plans.map { p =>
      val c = col(s"`${p.originalName}`")
      val e: Column = p.role match {
        case LabelOps.Identification => c
        case LabelOps.Measure if p.group == "formacoes" => Cols.validateNumeric(c)
        case LabelOps.Measure =>
          c.cast(StringType).try_cast(DoubleType).try_cast(IntegerType) // X10
        case LabelOps.Interest => Cols.simNao(c)
        case LabelOps.InterestComment => c
        case LabelOps.InterestFormandos => c
        case LabelOps.Availability => Cols.mapDisp(c)
      }
      e.as(p.uniqueName)
    }
    val selected = withId.select(col(Readers.RowId) +: exprs: _*)

    def has(name: String): Boolean = plans.exists(_.uniqueName == name)
    require(has("nome_entidade"),
      "identificacao mapping must produce nome_entidade (critical field)")

    // --- identification (F1, X18, X2/X17) + measures (X10-X16) -------
    // ONE projection over the wide select: each derived column is written
    // out in terms of `selected`'s columns (a withColumn chain would
    // re-analyse the whole wide Project once per step). Replaced columns
    // keep their place, new ones append in this order.
    val tipoCol = if (has("tipo_entidade")) col("tipo_entidade") else lit(null).cast(StringType)

    val badNameP = col("nome_entidade").isNull || Cols.isInvalidName(col("nome_entidade"))

    val tipoMapped = {
      val base = coalesce(tipoCol, lit(config.defaultTipo))
      if (config.tipoMap.isEmpty) base
      else {
        val kv = config.tipoMap.toSeq.flatMap { case (k, v) => Seq(lit(k), lit(v)) }
        coalesce(element_at(map(kv: _*), Cols.normalizeText(base)), base)
      }
    }
    val nomeNorm = Cols.removePrefixes(col("nome_entidade"))

    // pct is parsed/clamped here but RESCALED only after the pin below:
    // the global-max subquery then reads the pinned rows instead of a
    // second full pass over the input.
    val pct =
      if (has("percentagem_preenchido")) {
        val p = col("percentagem_preenchido").cast(StringType).try_cast(DoubleType)
        when(p < 0, lit(null)).otherwise(p)
      } else lit(null).cast(DoubleType)

    val hasTimes = has("data_inicio") && has("data_fim")
    val inicio = try_to_timestamp(col("data_inicio"))
    val fim = try_to_timestamp(col("data_fim"))
    val submissao = {
      // the type the parser gives "timestamp": spark.sql.timestampType
      val base =
        if (has("data_submissao")) try_to_timestamp(col("data_submissao"))
        else lit(null).cast(SQLConf.get.timestampType)
      if (hasTimes) coalesce(base, fim) else base
    }

    val enriched = selected.withColumns(ListMap(
      "tipo_entidade" -> tipoMapped,
      "nome_entidade_norm" -> nomeNorm,
      "entity_key" -> concat_ws("||", nomeNorm, Cols.normalizeText(tipoMapped)),
      "percentagem_preenchido" -> pct) ++
      (if (hasTimes) ListMap("data_inicio" -> inicio, "data_fim" -> fim) else ListMap.empty) ++
      ListMap(
        "tempo_realizacao" ->
          (if (hasTimes) Cols.durationSeconds(inicio, fim) else lit(null).cast(LongType)),
        "data_submissao" -> submissao,
        "ano" -> lit(year),
        "nome_responsavel" ->
          (if (has("nome_responsavel")) col("nome_responsavel") else lit(null).cast(StringType))))

    // --- J1 entity join (broadcast) + W1 dedup + F2 splits ------------
    val reg = registry.select(
      col("id_entidades").cast(LongType).as("id_entidade"),
      Cols.entityKey(col("ent_nome"), col("ent_tipo")).as("entity_key"))

    // THE fan-out point: all four output frames and every star-loader
    // fact read the post-join frame. Bad-name rows ride through the join
    // (they can never match — registry keys are non-empty) so ONE pin
    // serves everything. An eager localCheckpoint runs the join once and
    // leaves a one-node leaf: every downstream frame analyses and plans
    // over it instead of over the 100+-column lineage, and no columnar
    // cache is built. It is filled before this returns because Spark runs
    // broadcast/scalar subqueries as concurrent jobs, which would each
    // compute an unbuilt input. The pin leaves out the join's helper
    // columns, which no output reads. MEMORY_AND_DISK: spills, never OOMs.
    val joined = enriched.join(broadcast(reg), Seq("entity_key"), "left_outer")
      .drop(helperCols: _*).localCheckpoint()

    // A1 global max over the F1-filtered candidates (pin read) + X13
    // rescale with pandas-parity HALF_EVEN rounding (bround).
    val maxDf = joined.filter(!badNameP).agg(max(col("percentagem_preenchido")).as("__max_pct"))
    val rescaled = joined.crossJoin(broadcast(maxDf))
      .withColumn("percentagem_preenchido",
        when(col("__max_pct").isNotNull && col("__max_pct") > 0,
          bround(col("percentagem_preenchido") / col("__max_pct") * 100).cast(IntegerType))
          .otherwise(col("percentagem_preenchido").cast(IntegerType)))
      .drop("__max_pct")

    val badName = rescaled.filter(badNameP)
      .withColumn("id_entidade", lit(null).cast(LongType))
    val unmatched = rescaled.filter(!badNameP && col("id_entidade").isNull)
    val matched = rescaled.filter(!badNameP && col("id_entidade").isNotNull)
    val (kept, duplicates, dedupCaches) =
      if (skewAware) {
        val k = Dedup.keepFirstSkewAware(matched, Seq("id_entidade"), Readers.RowId)
        // duplicates = everything the semi-join did not keep (row_id is a
        // unique key, so the anti-join is exact); both read `joined`'s pin
        val d = matched.join(k.select(Readers.RowId), Seq(Readers.RowId), "left_anti")
        (k, d, Seq.empty[DataFrame])
      } else {
        val dd = Dedup.keepFirst(matched, Seq(col("id_entidade")), col(Readers.RowId),
          cacheRanked = true)
        (dd.kept, dd.duplicates, dd.ranked.toSeq)
      }

    EtlResult(
      valid = kept,
      duplicates = duplicates,
      unmatched = unmatched,
      badName = badName,
      plans = plans,
      pins = Seq(joined) ++ dedupCaches)
  }
}
