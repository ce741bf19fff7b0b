package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

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
  * single-partition window; everything else is narrow.
  */
object Pipeline {

  final case class EtlResult(
      valid: DataFrame,
      duplicates: DataFrame,
      unmatched: DataFrame,
      badName: DataFrame,
      plans: Seq[LabelOps.ColPlan],
      private[etl] val cached: Seq[DataFrame] = Seq.empty) {
    def colsOfGroup(group: String): Seq[LabelOps.ColPlan] =
      plans.filter(_.group == group)

    /** Release the pipeline's internal caches once the outputs are
      * written — keeps long-lived sessions (many yearly batches) from
      * accumulating cached frames.
      */
    def unpersist(): Unit = cached.foreach(_.unpersist())
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
        case LabelOps.Measure => c.cast("string").try_cast("double").try_cast("int") // X10
        case LabelOps.Interest => Cols.simNao(c)
        case LabelOps.InterestComment => c
        case LabelOps.InterestFormandos => c
        case LabelOps.Availability => Cols.mapDisp(c)
      }
      e.as(p.uniqueName)
    }
    val selected = withId.select(col(Readers.RowId) +: exprs: _*)

    require(plans.exists(p => p.uniqueName == "nome_entidade"),
      "identificacao mapping must produce nome_entidade (critical field)")

    // --- identification (F1, X18, X2/X17) -----------------------------
    val hasTipo = plans.exists(_.uniqueName == "tipo_entidade")
    val tipoCol = if (hasTipo) col("tipo_entidade") else lit(null).cast("string")

    val badNameP = col("nome_entidade").isNull || Cols.isInvalidName(col("nome_entidade"))

    val tipoMapped = {
      val base = coalesce(tipoCol, lit(config.defaultTipo))
      if (config.tipoMap.isEmpty) base
      else {
        val kv = config.tipoMap.toSeq.flatMap { case (k, v) => Seq(lit(k), lit(v)) }
        coalesce(element_at(map(kv: _*), Cols.normalizeText(base)), base)
      }
    }

    val keyed = selected
      .withColumn("tipo_entidade", tipoMapped)
      .withColumn("nome_entidade_norm", Cols.removePrefixes(col("nome_entidade")))
      .withColumn("entity_key",
        concat_ws("||", col("nome_entidade_norm"), Cols.normalizeText(col("tipo_entidade"))))

    // --- measures on identificacao (X10-X16) --------------------------
    // pct is parsed/clamped here but RESCALED only after the single
    // cache materialization below — the global-max subquery then reads
    // the cache instead of racing a second full pass over the input.
    val hasPct = plans.exists(_.uniqueName == "percentagem_preenchido")
    val withPctRaw =
      if (hasPct)
        keyed.withColumn("percentagem_preenchido",
          col("percentagem_preenchido").cast("string").try_cast("double"))
          .withColumn("percentagem_preenchido",
            when(col("percentagem_preenchido") < 0, lit(null)).otherwise(col("percentagem_preenchido")))
      else keyed.withColumn("percentagem_preenchido", lit(null).cast("double"))

    val hasTimes = Seq("data_inicio", "data_fim").forall(n => plans.exists(_.uniqueName == n))
    val withTime =
      if (hasTimes)
        withPctRaw
          .withColumn("data_inicio", try_to_timestamp(col("data_inicio")))
          .withColumn("data_fim", try_to_timestamp(col("data_fim")))
          .withColumn("tempo_realizacao",
            Cols.durationSeconds(col("data_inicio"), col("data_fim")))
      else withPctRaw.withColumn("tempo_realizacao", lit(null).cast("long"))

    val hasSub = plans.exists(_.uniqueName == "data_submissao")
    val withSub = {
      val base =
        if (hasSub) withTime.withColumn("data_submissao", try_to_timestamp(col("data_submissao")))
        else withTime.withColumn("data_submissao", lit(null).cast("timestamp"))
      if (hasTimes) base.withColumn("data_submissao", coalesce(col("data_submissao"), col("data_fim")))
      else base
    }

    val hasResp = plans.exists(_.uniqueName == "nome_responsavel")
    val enriched = withSub
      .withColumn("ano", lit(year))
      .withColumn("nome_responsavel",
        if (hasResp) col("nome_responsavel") else lit(null).cast("string"))

    // --- J1 entity join (broadcast) + W1 dedup + F2 splits ------------
    val reg = registry.select(
      col("id_entidades").cast("long").as("id_entidade"),
      Cols.entityKey(col("ent_nome"), col("ent_tipo")).as("entity_key"))

    // THE fan-out point: all four output frames and every star-loader
    // fact read the post-join frame. Bad-name rows ride through the join
    // (they can never match — registry keys are non-empty) so ONE cache
    // serves everything; it is materialized eagerly because Spark runs
    // broadcast/scalar subqueries as concurrent jobs, and an unbuilt
    // cache would be computed by each of them in parallel (measured 2x
    // the identification wall time). MEMORY_AND_DISK: spills, never OOMs.
    val joined = enriched.join(broadcast(reg), Seq("entity_key"), "left_outer").persist()
    joined.count()

    // A1 global max over the F1-filtered candidates (cache read) + X13
    // rescale with pandas-parity HALF_EVEN rounding (bround).
    val maxDf = joined.filter(!badNameP).agg(max(col("percentagem_preenchido")).as("__max_pct"))
    val rescaled = joined.crossJoin(broadcast(maxDf))
      .withColumn("percentagem_preenchido",
        when(col("__max_pct").isNotNull && col("__max_pct") > 0,
          bround(col("percentagem_preenchido") / col("__max_pct") * 100).cast("int"))
          .otherwise(col("percentagem_preenchido").cast("int")))
      .drop("__max_pct")

    val badName = rescaled.filter(badNameP)
      .withColumn("id_entidade", lit(null).cast("long"))
    val unmatched = rescaled.filter(!badNameP && col("id_entidade").isNull)
    val matched = rescaled.filter(!badNameP && col("id_entidade").isNotNull)
    val (kept, duplicates, dedupCaches) =
      if (skewAware) {
        val k = Dedup.keepFirstSkewAware(matched, Seq("id_entidade"), Readers.RowId)
        // duplicates = everything the semi-join did not keep (row_id is a
        // unique key, so the anti-join is exact); both read `joined`'s cache
        val d = matched.join(k.select(Readers.RowId), Seq(Readers.RowId), "left_anti")
        (k, d, Seq.empty[DataFrame])
      } else {
        val dd = Dedup.keepFirst(matched, Seq(col("id_entidade")), col(Readers.RowId),
          cacheRanked = true)
        (dd.kept, dd.duplicates, dd.ranked.toSeq)
      }

    def clean(df: DataFrame): DataFrame = df.drop(helperCols: _*)

    EtlResult(
      valid = clean(kept),
      duplicates = clean(duplicates),
      unmatched = clean(unmatched),
      badName = clean(badName),
      plans = plans,
      cached = Seq(joined) ++ dedupCaches)
  }
}
