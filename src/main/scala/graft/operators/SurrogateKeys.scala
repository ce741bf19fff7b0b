package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Surrogate-key assignment replacing the reference's row-at-a-time
  * `INSERT ... RETURNING id` round-trips (etl_ui.py:413-429,446-456,
  * 508-520,571-587,625-641) — the de-facto bottleneck of the reference.
  *
  * Two strategies:
  *  - [[dense]]: deterministic, contiguous ids via a `row_number` over a
  *    total order. The window has a single partition — fine for dimension
  *    tables (thousands of rows), wrong for facts at scale.
  *  - [[scalable]]: `zipWithUniqueId`-style ids that are unique but not
  *    contiguous; fully parallel, no shuffle — use for fact tables where
  *    only uniqueness matters.
  */
object SurrogateKeys {

  /** Contiguous ids `offset+1 .. offset+n` in `orderBy` order. Single
    * partition window — dimension-sized inputs only. The constant
    * partition key is deliberate: it executes exactly like the bare
    * `Window.orderBy` (all rows to one task) but *declares* the single
    * partition instead of tripping Spark's partition-less-window runtime
    * warning — the single-task shape is a documented design decision
    * here, pinned by PlanSpec's constant-partition window detector, not
    * an accident the log should flag.
    */
  def dense(df: DataFrame, idCol: String, orderBy: Seq[Column], offset: Long = 0L): DataFrame =
    df.withColumn(idCol,
      (row_number().over(Window.partitionBy(lit(0)).orderBy(orderBy: _*)) + offset).cast(LongType))

  /** Unique (non-contiguous) ids without any shuffle: partition-local
    * sequence numbers striped by partition id
    * (`monotonically_increasing_id` = partitionId << 33 | localSeq).
    * Same contract as a `zipWithUniqueId` round-trip — unique,
    * non-contiguous, stable only for a fixed partitioning — but stays
    * inside Tungsten/whole-stage codegen instead of deserializing every
    * row out to an RDD and back. Survives any data scale.
    */
  def scalable(df: DataFrame, idCol: String, offset: Long = 0L): DataFrame =
    df.withColumn(idCol, monotonically_increasing_id() + offset + 1L)

  /** Get-or-create for a dimension: keep existing (naturalKey -> id)
    * rows, assign fresh dense ids (continuing after max existing id) to
    * natural keys present in `incoming` but not in `existing`.
    * Replaces `INSERT ... ON CONFLICT DO NOTHING RETURNING id`
    * (etl_ui.py:508-520) without its serial round-trips: one distinct +
    * one anti-join + one dimension-sized window.
    */
  def getOrCreate(
      existing: DataFrame, // (id, naturalKey) — id first
      incoming: DataFrame, // one column: naturalKey
      idCol: String,
      keyCol: String): DataFrame = {
    val fresh = incoming.select(col(keyCol)).distinct()
      .join(existing.select(keyCol), Seq(keyCol), "left_anti")
    val maxId = existing.agg(coalesce(max(col(idCol)), lit(0L)).cast(LongType).as("m"))
    val created = dense(fresh, idCol, Seq(col(keyCol).asc))
      .crossJoin(broadcast(maxId))
      .select((col(idCol) + col("m")).as(idCol), col(keyCol))
    existing.select(col(idCol).cast(LongType).as(idCol), col(keyCol))
      .unionByName(created)
  }
}
