package graft

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM per forked test run). */
object SparkSpec {
  lazy val spark: SparkSession = {
    // local[8]: suites run concurrently since r15 (build.sbt
    // testForkedParallel) — 4 task slots starved 8 suite threads; 8
    // slots on the 32-core host keep the heavy suites' jobs flowing
    // while shuffle.partitions stays at 4 (tiny test frames)
    val s = SparkSession.builder()
      .master("local[8]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.optimizer.excludedRules", Sessions.ExcludedOptimizerRules)
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** One job a spec observed: its start and end times (ms), the SQL
    * execution it ran under and that execution's physical plan and
    * description ("" when none), and the ids of the RDDs its stages
    * compute.
    */
  final case class JobRecord(
      id: Int, start: Long, end: Long, execution: Option[Long], rdds: Set[Int], plan: String,
      description: String = "")

  /** The local properties `SparkContext.setJobGroup` sets. */
  private val JobGroupId = "spark.jobGroup.id"
  private val JobGroupProps =
    Seq(JobGroupId, "spark.job.description", "spark.job.interruptOnCancel")
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.spark

  /** Ids of the RDDs that the local checkpoints `df` reads hold in
    * executor storage.
    */
  def checkpointRdds(df: org.apache.spark.sql.DataFrame): Seq[Int] =
    df.queryExecution.logical.collect {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.id
    }

  /** The ids of `rdds` still in executor storage. */
  def stillPersisted(rdds: Seq[Int]): Seq[Int] =
    rdds.filter(spark.sparkContext.getPersistentRDDs.contains)

  /** `body`'s result and the number of Spark jobs it started. Counted by
    * a listener over a job group set on the calling thread for the
    * duration of `body`, so jobs that other suites run concurrently on
    * the shared session are not counted, while jobs from threads `body`
    * starts (which inherit the group) are. Fails if one of those jobs is
    * still running when `body` has returned. The caller's own job group,
    * if any, is restored afterwards.
    */
  def jobsDuring[T](body: => T): (T, Int) = {
    val (result, jobs, _) = observeJobs(body)
    (result, jobs.size)
  }

  /** `body`'s result and the SQL executions that the jobs [[jobsDuring]]
    * counts ran under, in start order, each as its description: the
    * action and its call site, such as "count at Xlsx.scala:370". Jobs
    * that run outside an execution (a `toLocalIterator` stream's
    * per-partition jobs) add none.
    */
  def executionsDuring[T](body: => T): (T, Seq[String]) = {
    val (result, jobs, executions) = observeJobs(body)
    val ids = jobs.flatMap(_.execution)
    (result, ids.distinct.sorted.map(id => executions.get(id).fold("")(_._1)))
  }

  /** `body`'s result and the jobs [[jobsDuring]] counts, in job order. */
  def jobRecordsDuring[T](body: => T): (T, Seq[SparkSpec.JobRecord]) = {
    val (result, jobs, executions) = observeJobs(body)
    (result, jobs.map { j =>
      val (description, plan) = j.execution.flatMap(executions.get).getOrElse(("", ""))
      j.copy(plan = plan, description = description)
    })
  }

  /** `body`'s result, the jobs it started (in job order, `plan` not yet
    * filled) and the description and physical plan of each SQL
    * execution started meanwhile.
    */
  private def observeJobs[T](body: => T)
      : (T, Seq[SparkSpec.JobRecord], Map[Long, (String, String)]) = {
    val sc = spark.sparkContext
    val group = s"jobsDuring-${java.util.UUID.randomUUID()}"
    val started = new ConcurrentHashMap[Int, SparkSpec.JobRecord]()
    val ended = new ConcurrentHashMap[Int, java.lang.Long]()
    val executions = new ConcurrentHashMap[Long, (String, String)]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty(SparkSpec.JobGroupId) == group)
          started.put(e.jobId, SparkSpec.JobRecord(e.jobId, e.time, -1L,
            Option(e.properties.getProperty("spark.sql.execution.id")).map(_.toLong),
            e.stageInfos.flatMap(_.rddInfos.map(_.id)).toSet, ""))
      override def onJobEnd(e: SparkListenerJobEnd): Unit = ended.put(e.jobId, e.time)
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case x: SparkListenerSQLExecutionStart =>
          executions.put(x.executionId, (x.description, x.physicalPlanDescription))
        case _ =>
      }
    }
    val saved = SparkSpec.JobGroupProps.map(k => k -> sc.getLocalProperty(k))
    sc.addSparkListener(listener)
    // no group description: a SQL execution is then described by its call site
    sc.setJobGroup(group, null)
    try {
      val result = body
      ListenerBusDrain(sc)
      val running = started.keySet.asScala.filterNot(ended.containsKey)
      assert(running.isEmpty, s"jobs ${running.mkString(", ")} still running after the body returned")
      val jobs = started.asScala.toSeq.sortBy(_._1).map { case (id, j) => j.copy(end = ended.get(id)) }
      (result, jobs, executions.asScala.toMap)
    } finally {
      saved.foreach { case (k, v) => sc.setLocalProperty(k, v) }
      sc.removeSparkListener(listener)
    }
  }
}
