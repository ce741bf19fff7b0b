package graft

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
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
    val sc = spark.sparkContext
    val group = s"jobsDuring-${java.util.UUID.randomUUID()}"
    val started = ConcurrentHashMap.newKeySet[Int]()
    val ended = ConcurrentHashMap.newKeySet[Int]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty(SparkSpec.JobGroupId) == group)
          started.add(e.jobId)
      override def onJobEnd(e: SparkListenerJobEnd): Unit = ended.add(e.jobId)
    }
    val saved = SparkSpec.JobGroupProps.map(k => k -> sc.getLocalProperty(k))
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "jobsDuring")
    try {
      val result = body
      ListenerBusDrain(sc)
      val running = started.asScala.filterNot(ended.contains)
      assert(running.isEmpty, s"jobs ${running.mkString(", ")} still running after the body returned")
      (result, started.size)
    } finally {
      saved.foreach { case (k, v) => sc.setLocalProperty(k, v) }
      sc.removeSparkListener(listener)
    }
  }
}
