package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one state machine of the eight stateful gates: the index gates
  * ([[NearDupGate]], [[EmbeddingDupGate]], [[FingerprintDupGate]] (also
  * [[HammingDupGate]]), [[SpanGate]], [[BoilerplateGate]]) and the
  * accounting gates ([[ManifestGate]], [[HistGate]], [[BinnedGate]]).
  * It is the grow-as-you-go fold: one live state frame that every
  * micro-batch replaces. A gate supplies only its family's step (probe
  * and append, or merge); the fold owns the rest under one lock:
  *   - the live state, plus a value `M` carried beside it (an index's
  *     parsed recipe, read once at construction instead of per batch;
  *     `Unit` where there is none);
  *   - the release rule: a superseded state the fold pinned is
  *     released, the caller's initial frame never is (so an index
  *     gate's `currentIndex` is readable until the next batch);
  *   - the batch counter and the durable checkpoints.
  *
  * Two pin disciplines. An index gate ([[filter]]) pins its output with
  * `localCheckpoint` BEFORE the state moves on, then pins the grown
  * state the same way (severed lineage, so the state stays flat) and
  * releases the persisted append it was made from. An accounting gate
  * ([[account]]) collects the merged artifact under a typed row cap and
  * keeps it as a driver-local frame: nothing executor-resident exists.
  *
  * Checkpoints. A `localCheckpoint` state lives in executor memory and
  * disk, not reliable storage: an executor loss fails later batches,
  * and a stream restart resets the gate to the caller's initial frame.
  * Every state is a pure fold over batches, so it can always be rebuilt
  * from durable inputs (RestartRecoverySpec pins that path); for long
  * streams where a full rebuild is too slow, every `checkpointEvery`-th
  * batch writes the CURRENT state to `<checkpointPath>/<prefix><seq>`,
  * a complete self-contained Parquet artifact in a fresh directory
  * (never an overwrite a reader might hold open). On restart, reopen the
  * newest artifact with the gate's `latestCheckpoint`, rebuild and merge
  * only the batches that arrived after it, and seed a new gate on the
  * same path: the fold lists the path once when it is built and numbers
  * on from the newest `seq` there, so a restarted gate neither collides
  * with the old run's artifacts nor hides behind them.
  */
private[streaming] final class GateState[M](
    initial: DataFrame,
    initialCarry: M,
    prefix: String,
    checkpointPath: Option[String],
    checkpointEvery: Int) {

  private val dir = checkpointPath.filter(_.nonEmpty).filter(_ => checkpointEvery >= 1)
  private var state = initial
  private var carry = initialCarry
  private var owned = false // never release the caller's initial frame
  private var seq = dir.flatMap(GateState.newest(initial.sparkSession, _, prefix)).fold(0L)(_._2)
  private var lastCkpt: Option[String] = None

  def current: DataFrame = synchronized(state)

  /** Path of the newest durable checkpoint this gate wrote, if any. */
  def lastCheckpoint: Option[String] = synchronized(lastCkpt)

  /** Whether a batch has replaced the initial frame. */
  def moved: Boolean = synchronized(owned)

  /** One index-gate batch: `probe` the carried value and live state for
    * the batch's output, pinned before the state moves on; `grow` them
    * (by that output or by the raw batch) into a persisted append and
    * its carried value; pin the grown state and release the old one.
    * Returns the pinned output.
    */
  def filter(probe: (M, DataFrame) => DataFrame)(
      grow: (M, DataFrame, DataFrame) => (DataFrame, M)): DataFrame = synchronized {
    val out = probe(carry, state).localCheckpoint()
    val (appended, grown) = grow(carry, state, out)
    val next = appended.localCheckpoint()
    appended.unpersist()
    if (owned) graft.Pins.release(state)
    carry = grown
    advance(next)
    out
  }

  /** One accounting batch: `merge` the live artifact and the batch, and
    * keep the result as a driver-local frame of at most `maxRows` rows,
    * else fail typed (`what` names the artifact, `remedy` states the
    * gate's contract and fix). `limit(maxRows + 1)` pulls at most one
    * row past the contract, so a mis-scoped stream fails fast instead of
    * collecting an unbounded frame on the way to the error. A `merge`
    * that returns the live artifact itself changed nothing: the batch
    * counts, and no checkpoint is written. Returns the batch untouched.
    */
  def account(batch: DataFrame, maxRows: Int, what: String, remedy: String)(
      merge: (DataFrame, DataFrame) => DataFrame): DataFrame = synchronized {
    val merged = merge(state, batch)
    if (merged eq state) seq += 1
    else {
      val rows = merged.limit(maxRows + 1).collect()
      require(rows.length <= maxRows,
        s"merged $what exceeds $maxRows rows — the gate's driver-local state $remedy")
      advance(merged.sparkSession.createDataFrame(java.util.Arrays.asList(rows: _*), merged.schema))
    }
    batch
  }

  private def advance(next: DataFrame): Unit = {
    state = next
    owned = true
    seq += 1
    dir.filter(_ => seq % checkpointEvery == 0).foreach { d =>
      val p = s"$d/$prefix$seq"
      next.write.parquet(p)
      lastCkpt = Some(p)
    }
  }
}

private[streaming] object GateState {

  /** The newest `<prefix><seq>` artifact under `path` and its seq. */
  private def newest(spark: SparkSession, path: String, prefix: String): Option[(String, Long)] = {
    val dir = new Path(path)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) None
    else fs.listStatus(dir).toSeq.map(_.getPath.getName).filter(_.startsWith(prefix))
      .flatMap(n => n.stripPrefix(prefix).toLongOption.map(n -> _))
      .maxByOption(_._2)
  }

  /** Newest `<prefix><seq>` artifact under `path`, or None. */
  def latest(spark: SparkSession, path: String, prefix: String): Option[DataFrame] =
    newest(spark, path, prefix).map { case (n, _) => spark.read.parquet(s"$path/$n") }
}
