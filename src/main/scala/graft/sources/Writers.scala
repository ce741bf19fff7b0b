package graft.sources

import java.util.Properties

import org.apache.spark.sql.{DataFrame, SaveMode}

import graft.DriverThreads
import graft.etl.{Pipeline, StarLoader}

/** Sinks (SURVEY.md §2.1 S6/S7).
  *
  * The reference's load is row-at-a-time `INSERT ... RETURNING` over
  * psycopg2 (etl_ui.py:394-664) and a multi-sheet Excel export
  * (etl_ui.py:2144-2159). Here:
  *  - the star schema writes as parquet, one root per year: every table
  *    is overwritten whole, and `fato_inquerito` is partitioned by `ano`
  *    so year-scoped queries prune to it (see [[writeStar]]);
  *  - the same frames go to any JDBC database via `df.write.jdbc`
  *    (batched inserts, `batchsize` tuned, no per-row round trips);
  *  - the "multi-sheet" export becomes one directory per logical sheet
  *    (csv or parquet), which is what a spreadsheet tab is at scale.
  */
object Writers {

  /** Write every star-schema table under `root/<table>`, facts
    * partitioned by `ano` when present. A root holds one year: every
    * table is overwritten whole, because only `fato_inquerito` carries
    * `ano` and a load without `idOffset` numbers `id_inquerito` from 1,
    * so keeping an earlier year's partition would pair its inquiries
    * with the new year's facts.
    *
    * The ten writes are independent (distinct frames, distinct
    * directories), so each runs on its own driver thread
    * ([[graft.DriverThreads.all]]): one table's job tail no longer
    * leaves the task slots idle until the next table's write starts.
    * The threads inherit the caller's Spark local properties, so job
    * groups and tags cover every write. A failed table does not stop the
    * others: the call returns only after every write has finished, then
    * rethrows the first failure (in the table order below) with the rest
    * attached as suppressed. The failed table's directory is left as its
    * aborted write leaves it; the other nine are complete.
    */
  def writeStar(star: StarLoader.Star, root: String, format: String = "parquet"): Unit = {
    def w(df: DataFrame, name: String): Unit = {
      val base = df.write.mode(SaveMode.Overwrite).format(format)
      val withPart =
        if (df.columns.contains("ano")) base.partitionBy("ano") else base
      withPart.save(s"$root/$name")
    }
    DriverThreads.all(Seq(
      star.fatoInquerito -> "fato_inquerito",
      star.dimFormacao -> "dim_formacao",
      star.fatoFormacao -> "fato_formacao_inquerito",
      star.dimAreaTematica -> "dim_area_tematica",
      star.fatoInteresse -> "fato_interesse_area",
      star.comentario -> "comentario",
      star.dimPreferencia -> "dim_preferencia_ensino",
      star.fatoPreferencia -> "fato_preferencia_ensino",
      star.dimHorario -> "dim_horario",
      star.fatoDisponibilidade -> "fato_disponibilidade_horaria"
    ).map { case (df, name) => () => w(df, name) })
  }

  /** S7 multi-sheet export: one csv directory per logical sheet —
    * the per-group frames plus `duplicados` / `entidades_invalidas` /
    * `all_data` (etl_ui.py:2144-2159).
    */
  def exportSheets(result: Pipeline.EtlResult, root: String): Unit = {
    def w(df: DataFrame, sheet: String): Unit =
      df.coalesce(1).write.mode(SaveMode.Overwrite)
        .option("header", "true").csv(s"$root/$sheet")
    result.plans.map(_.group).distinct.foreach { g =>
      val cols = "row_id" +: result.colsOfGroup(g).map(_.uniqueName)
      val present = cols.filter(result.valid.columns.contains)
      w(result.valid.selectExpr(present.map(c => s"`$c`"): _*), g)
    }
    w(result.duplicates, "duplicados")
    w(result.unmatched, "entidades_invalidas")
    w(result.valid, "all_data")
  }

  /** S7 export in the reference's actual artifact shape: ONE .xlsx
    * workbook with a tab per logical sheet (`pd.ExcelWriter`,
    * etl_ui.py:2144-2159) — the per-group frames plus `duplicados` /
    * `entidades_invalidas` / `all_data`. The group sheets and `all_data`
    * are column views of `result.valid`, so it is counted once and
    * streamed once for all of them; see [[Xlsx.writeSheets]] for the
    * thread model.
    */
  def exportSheetsXlsx(result: Pipeline.EtlResult, path: String): Unit = {
    val valid = result.valid
    val groupSheets = result.plans.map(_.group).distinct.map { g =>
      val cols = "row_id" +: result.colsOfGroup(g).map(_.uniqueName)
      (g, valid, cols.map(c => valid.columns.indexOf(c)).filter(_ >= 0))
    }
    def whole(name: String, df: DataFrame) = (name, df, df.columns.indices)
    Xlsx.writeSheetViews(
      groupSheets ++ Seq(
        whole("duplicados", result.duplicates),
        whole("entidades_invalidas", result.unmatched),
        whole("all_data", valid)),
      path)
  }

  /** S6 JDBC sink: batched writes, no RETURNING round-trips (surrogate
    * keys are pre-assigned by [[graft.operators.SurrogateKeys]]).
    *
    * Upsert strategy vs the reference: etl_ui.py:508-520 does row-at-a-
    * time `INSERT ... ON CONFLICT DO NOTHING RETURNING id` — one server
    * round-trip per row, the reference's de-facto bottleneck and a
    * PostgreSQL-only SQL form Spark's JDBC sink cannot emit. The port
    * inverts it: conflicts are resolved BEFORE the write
    * ([[graft.operators.SurrogateKeys.getOrCreate]] anti-joins incoming
    * keys against the scanned dimension state and assigns fresh ids
    * after the existing max), so the sink only ever appends
    * known-novel rows in `batchsize` batches. Same end state, no
    * per-row conflict arbitration on the server, and it works on any
    * dialect — verified end-to-end in JdbcSpec ("dim get-or-create
    * continues from database state"). The trade: the read-modify-write
    * must be the only writer of the dimension during a load (the
    * reference's Streamlit app holds the same assumption — single
    * operator, single session).
    *
    * PostgreSQL type fidelity: Spark's PostgresDialect writes StringType
    * as TEXT (not the reference DDL's VARCHAR(512) — semantically
    * identical in PostgreSQL); pass
    * `.option("createTableColumnTypes", "nome VARCHAR(512)")` for
    * byte-for-byte DDL parity. Mappings pinned in JdbcSpec.
    */
  def writeJdbc(
      df: DataFrame, url: String, table: String,
      props: Properties = new Properties(),
      batchSize: Int = 10000,
      mode: SaveMode = SaveMode.Append): Unit = {
    props.setProperty("batchsize", batchSize.toString)
    df.write.mode(mode).jdbc(url, table, props)
  }

  /** S3/S4 JDBC scan (the registry / dimension state reads). */
  def readJdbc(
      spark: org.apache.spark.sql.SparkSession,
      url: String, table: String,
      props: Properties = new Properties()): DataFrame =
    spark.read.jdbc(url, table, props)

  /** Bucketed catalog table: pre-shuffles once at write time so that
    * repeated fact<->fact joins and aggregations on the bucket key plan
    * with NO exchange (the 100 TB answer to "this join shuffles every
    * run"). Both sides must be bucketed by the same key and count.
    */
  def writeBucketedTable(
      df: DataFrame, table: String, bucketCol: String, buckets: Int,
      sortCol: Option[String] = None): Unit = {
    val w = df.write.mode(SaveMode.Overwrite)
      .format("parquet")
      .bucketBy(buckets, bucketCol)
    sortCol.fold(w)(s => w.sortBy(s)).saveAsTable(table)
  }

  /** Re-run a year: overwrite ONLY that `ano` partition (dynamic
    * partition overwrite), leaving other years untouched. Safe only for
    * a frame whose every row carries `ano` and whose keys are scoped to
    * the year; the star's other tables meet neither, which is why
    * [[writeStar]] overwrites each table whole.
    */
  def overwriteYearPartition(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("ano")
      .parquet(path)
}
