package graft

import org.apache.spark.sql.SparkSession

/** The one local session every graft entry point builds. */
object Sessions {

  /** Optimizer rules excluded in graft sessions.
    *
    * `EliminateWindowPartitions` strips foldable window partition keys,
    * turning `Window.partitionBy(lit(0))` back into a partition-less
    * window. The library uses the constant key deliberately (see
    * [[graft.operators.SurrogateKeys.dense]]): it executes identically —
    * one exchange, all rows in one task — but *declares* the single
    * partition, so Spark's "No Partition Defined" runtime warning (which
    * reads as an unintended scale hazard in bench logs) does not fire
    * for windows whose single-task shape is a documented design
    * decision. PlanSpec's detector treats constant specs exactly like
    * empty ones, so the exclusion cannot hide a real fact-path
    * regression.
    */
  val ExcludedOptimizerRules: String =
    "org.apache.spark.sql.catalyst.optimizer.EliminateWindowPartitions"

  /** Task slots for [[local]]: `SPARK_GRAFT_CPUS`, else every core. */
  lazy val cpus: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)

  /** A `local[cpus]` session with `cpus` shuffle partitions, UTC session
    * time, no UI, [[ExcludedOptimizerRules]] and [[GraftExtensions]], its
    * log level WARN. `getOrCreate`: a second call returns the same session.
    */
  def local(cpus: Int = Sessions.cpus): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.optimizer.excludedRules", ExcludedOptimizerRules)
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
