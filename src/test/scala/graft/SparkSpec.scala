package graft

import java.util.Properties
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

  /** The local properties `SparkContext.setJobGroup` sets. */
  private val JobGroupId = "spark.jobGroup.id"
  private val JobGroupProps =
    Seq(JobGroupId, "spark.job.description", "spark.job.interruptOnCancel")
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.spark

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
    val (result, jobs, descriptions) = observeJobs(body)
    val ids = jobs.flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong)
    (result, ids.distinct.sorted.map(id => descriptions.getOrElse(id, "")))
  }

  /** `body`'s result, the local properties of each job it started (in job
    * order) and the descriptions of the SQL executions started meanwhile.
    */
  private def observeJobs[T](body: => T): (T, Seq[Properties], Map[Long, String]) = {
    val sc = spark.sparkContext
    val group = s"jobsDuring-${java.util.UUID.randomUUID()}"
    val started = new ConcurrentHashMap[Int, Properties]()
    val ended = ConcurrentHashMap.newKeySet[Int]()
    val executions = new ConcurrentHashMap[Long, String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty(SparkSpec.JobGroupId) == group)
          started.put(e.jobId, e.properties)
      override def onJobEnd(e: SparkListenerJobEnd): Unit = ended.add(e.jobId)
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case x: SparkListenerSQLExecutionStart => executions.put(x.executionId, x.description)
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
      val running = started.keySet.asScala.filterNot(ended.contains)
      assert(running.isEmpty, s"jobs ${running.mkString(", ")} still running after the body returned")
      (result, started.asScala.toSeq.sortBy(_._1).map(_._2), executions.asScala.toMap)
    } finally {
      saved.foreach { case (k, v) => sc.setLocalProperty(k, v) }
      sc.removeSparkListener(listener)
    }
  }
}
