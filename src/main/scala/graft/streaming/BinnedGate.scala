package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DoubleType, LongType, StructType}

import graft.operators.Quantiles

/** Streaming percentile accounting for CONTINUOUS columns (T98, r14 —
  * VERDICT r13 #4): [[HistGate]] with the T95 binning INSIDE the gate.
  * [[HistGate]]'s typed `maxRows` cap makes a raw quality-score or
  * chars-per-token stream a hard stop (the discrete artifact grows one
  * row per distinct value — corpus-sized for continuous columns), and
  * r13 left the fix as a caller-side convention ("pre-bin, then gate",
  * spec-pinned in HistGateSpec). This gate turns the convention into
  * an API the next stream owner cannot skip: each micro-batch's raw
  * continuous values are binned on the artifact's OWN frozen grid
  * (`floor(value / width)` — [[Quantiles.binnedIndex]]) and fold-merged
  * into the standing binned artifact, so the state is bounded by
  * OCCUPIED GRID CELLS regardless of value cardinality (SCALE.md
  * `binq`: 41 cells flat across 30x corpus growth) and exact bin-grain
  * percentiles are readable at any moment without rescanning the
  * stream.
  *
  * Grid discipline: `width` is the shingle-width class of frozen
  * parameter. The constructor reads the seed artifact's own
  * `bin_width` and fails TYPED when the configured width disagrees —
  * the restart that silently re-bins tomorrow's batches on a drifted
  * grid (the exact failure [[Quantiles.binnedMerge]] guards inside one
  * artifact) is refused at gate construction, before any batch is
  * accounted. A from-scratch stream seeds with [[emptyArtifact]] (the
  * width is then frozen by the first accounted batch's binning — this
  * gate's `width`).
  *
  * Everything else is [[HistGate]] verbatim: an OBSERVER
  * ([[Gate.accountBatch]] returns the batch untouched), driver-local
  * bounded state ([[GateState.account]] — zero executor-resident
  * blocks), optional durable checkpoints every N batches, and the
  * live artifact is bit-equal to a from-scratch
  * [[Quantiles.binnedIndex]] over everything ingested (binned masses
  * are commutative, associative sums — spec-pinned).
  */
object BinnedGate {

  /** Mutable gate state: call [[accountBatch]] from `foreachBatch`
    * (serial per stream; the lock also makes sharing safe). Seed
    * `initialBinned` with [[Quantiles.binnedIndex]] over the standing
    * corpus, a reopened checkpoint ([[latestCheckpoint]]), or
    * [[emptyArtifact]] for a from-scratch stream.
    */
  final class Gate(
      initialBinned: DataFrame,
      keyCol: String,
      valueCol: String,
      width: Double,
      weightCol: Option[String] = None,
      checkpointPath: Option[String] = None,
      checkpointEvery: Int = 0,
      maxRows: Int = 1 << 20) {

    require(width > 0.0 && !width.isNaN && !width.isInfinite,
      s"bin width must be a positive finite double: $width")
    // restart grid guard: a non-empty seed artifact carries its frozen
    // width; a configured width that disagrees would re-bin every
    // future batch on a different grid — fail typed BEFORE any batch
    // is accounted (bounded probe: at most 2 rows reach the driver)
    private val seedWidths =
      initialBinned.select(col("bin_width")).distinct().limit(2).collect()
    require(seedWidths.length <= 1,
      s"seed artifact carries mixed bin grids: widths ${seedWidths.map(_.get(0)).mkString(", ")}")
    seedWidths.headOption.foreach { r =>
      val frozen = r.getDouble(0)
      require(frozen == width,
        s"bin grid mismatch on restart: the artifact is frozen at width $frozen " +
          s"but the gate was configured with width $width — reopen with the " +
          "artifact's own width, or rebuild the artifact deliberately")
    }

    private val state =
      new GateState(initialBinned, (), "binned_", checkpointPath, checkpointEvery)

    /** The standing binned artifact (seed + every batch accounted). */
    def currentBinned: DataFrame = state.current

    /** Path of the newest durable checkpoint written, if any. */
    def lastCheckpoint: Option[String] = state.lastCheckpoint

    /** Exact bin-grain percentiles over everything ingested so far —
      * the true quantile lies in `[value_low, value_high)`, error at
      * most `width` ([[Quantiles.quantilesOfBinned]]).
      */
    def quantiles(qs: Seq[Double], totalName: String = "n"): DataFrame =
      Quantiles.quantilesOfBinned(currentBinned, keyCol, qs, totalName)

    /** Bins the batch's RAW continuous values on the gate's grid,
      * folds them into the standing artifact, and returns the batch
      * UNTOUCHED (accounting observes, never filters).
      */
    def accountBatch(batch: DataFrame): DataFrame =
      state.account(batch, maxRows, "binned distribution",
        s"is sized by occupied grid cells (|distinct $keyCol| x |occupied " +
          s"value range / $width|); widen the bin width or raise maxRows knowingly") {
        (hist, b) =>
          val batchBinned = Quantiles.binnedIndex(b, keyCol, valueCol, width, weightCol)
          // empty-onto-empty: nothing to fold, and binnedMerge's typed
          // empty-artifact guard must not fire on a no-op batch (the
          // emptiness probe is paid only until the artifact holds a row)
          if (seedWidths.isEmpty && !state.moved && batchBinned.isEmpty) hist
          else Quantiles.binnedMerge(Seq(hist, batchBinned), keyCol)
      }
  }

  /** An empty binned artifact with the family schema — the
    * from-scratch seed ([[Quantiles]]' `binWidthOf` fails typed on an
    * empty artifact by design, so a fresh stream cannot seed with
    * `binnedIndex` over nothing; the gate's own `width` freezes the
    * grid at the first accounted batch instead).
    */
  def emptyArtifact(spark: SparkSession, keyCol: String, keyType: org.apache.spark.sql.types.DataType): DataFrame =
    spark.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row](),
      new StructType()
        .add(keyCol, keyType)
        .add("bin", LongType)
        .add("mass", LongType)
        .add("bin_width", DoubleType))

  /** Newest `binned_<seq>` artifact under `path`, or None. */
  def latestCheckpoint(spark: SparkSession, path: String): Option[DataFrame] =
    GateState.latest(spark, path, "binned_")
}
