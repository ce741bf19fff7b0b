package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** One benchmark run: set up one workload, then time whole ops until
  * `--seconds` have passed and print one JSON result line. The first op
  * of a run is the JVM's first: it pays class loading, JIT and code
  * generation, as a batch started once per year or per night does.
  *
  * Usage: Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *   --work <scratch dir> --spans <spans file>
  *
  * `--trace 0` reports the end-to-end metrics; `--trace 1` traces every
  * op and reports the per-layer metrics, the traced op time and the
  * machine state.
  */
object Main {

  private val Cores = 4

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) -1.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      finally s.close()
    }

  /** Used heap after collection. Spark's cleaner frees broadcast and
    * shuffle state asynchronously once a collection has found it
    * unreachable, so collect a few times with pauses and keep the least.
    */
  private def usedHeapMb(): Double =
    (1 to 4).map { _ =>
      System.gc()
      Thread.sleep(400)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }.min

  /** Between ops, outside the timer: no cached frame, persisted RDD or
    * garbage of one op is seen by the next.
    */
  private def hygiene(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    System.gc()
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val work = Paths.get(opts("work")).toAbsolutePath
    require(Workloads.names.contains(workload), s"unknown workload $workload")

    val load1Before = Machine.load1()
    val probeBefore = Machine.cpuProbe()
    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.optimizer.excludedRules", graft.Sessions.ExcludedOptimizerRules)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tracer = new Tracer(spark.sparkContext)

    val w = Workloads(workload, spark, seed, Files.createDirectories(work.resolve("inputs")))
    var attempted = 0
    var failed = 0
    val opSeconds = ArrayBuffer.empty[(Int, Double)] // (op id, seconds) of correct ops
    val outRatios = ArrayBuffer.empty[Double]
    val counts = ArrayBuffer.empty[Map[String, Double]]

    /** One op in a fresh directory; returns its wall seconds if correct. */
    def runOp(id: Int): Option[Double] = {
      val dir = Files.createDirectories(work.resolve(s"op-$id"))
      hygiene(spark)
      val result =
        try {
          val t0 = System.nanoTime()
          val done = tracer.op(id, traced)(w.op(dir, tracer))
          val secs = (System.nanoTime() - t0) / 1e9
          val errors = done.check()
          outRatios += done.outBytes.toDouble / w.inBytes
          counts += done.counts
          done.release()
          errors.foreach(e => System.err.println(s"[perfbench] op $id check failed: $e"))
          if (errors.isEmpty) Some(secs) else None
        } catch {
          case e: Exception =>
            System.err.println(s"[perfbench] op $id failed: $e")
            None
        }
      deleteTree(dir)
      result
    }

    val setupS = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

    val t0 = System.nanoTime()
    var id = 1
    while ((System.nanoTime() - t0) / 1e9 < seconds) {
      attempted += 1
      runOp(id) match {
        case Some(s) => opSeconds += ((id, s))
        case None => failed += 1
      }
      id += 1
    }
    hygiene(spark)
    val heapMb = usedHeapMb()
    org.apache.spark.perfbench.ListenerDrain(spark.sparkContext)
    val load1After = Machine.load1()
    val probeAfter = Machine.cpuProbe()

    val machine = Seq(
      "machine.load1_before" -> (load1Before, "load"),
      "machine.load1_after" -> (load1After, "load"),
      "machine.cpu_probe_before_s" -> (probeBefore, "s"),
      "machine.cpu_probe_after_s" -> (probeAfter, "s"))
    val metrics: Seq[(String, (Double, String))] =
      if (!traced) {
        val p50 = median(opSeconds.map(_._2).toSeq)
        Seq(
          "setup_s" -> (setupS, "s"),
          "op_s.p50" -> (p50, "s"),
          "rows_per_s" -> (w.inputRows / p50, "1/s"),
          "heap_retained_mb" -> (heapMb, "MB"),
          "out_bytes_per_in_byte" -> (median(outRatios.toSeq), "ratio"))
      } else {
        val layer = tracer.layerMetrics(opSeconds.map(_._1).toSeq, Cores).map { case (k, v) =>
          val unit =
            if (k.endsWith(".s") || k.endsWith("_s")) "s"
            else if (k.endsWith("_bytes")) "bytes"
            else if (k.endsWith("cpu_busy") || k.endsWith("skew")) "ratio"
            else "count"
          k -> (v, unit)
        }
        val perOp = (k: String) => median(counts.flatMap(_.get(k)).toSeq).max(0.0)
        tracer.writeSpans(Paths.get(opts("spans")))
        layer ++ Seq(
          "etl.valid_ratio" -> (perOp("etl.valid_ratio"), "ratio"),
          "sources.write.bytes_out" -> (perOp("sources.write.bytes_out"), "bytes"),
          "release.kept_ratio" -> (perOp("release.kept_ratio"), "ratio"),
          "trace.op_s" -> (median(opSeconds.map(_._2).toSeq), "s")) ++ machine
      }
    val body = metrics.map { case (k, (v, u)) =>
      s""""$k": {"value": ${if (v.isNaN || v.isInfinite) -1.0 else v}, "unit": "$u"}"""
    }
    val correct = failed == 0
    if (!traced)
      println(machine.map { case (k, (v, _)) => s""""$k": $v""" }.mkString("{\"machine\": {", ", ", "}}"))
    println(s"""{"correct": $correct, "attempted": ${math.max(attempted, 1)}, "failed": ${failed + (if (attempted == 0) 1 else 0)}, "metrics": {${body.mkString(", ")}}}""")
    spark.stop()
  }
}
