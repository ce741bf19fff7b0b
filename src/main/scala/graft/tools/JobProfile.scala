package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

/** Per-job wall attribution for a declared SparkEntry query: registers a
  * listener that records every job's callsite and duration, runs the
  * query (cold, then warm in a fresh session, same as Bench: the whole
  * result is consumed by a `noop` write), and prints
  * the jobs sorted by the warm run's wall. The callsite string is the
  * action's code location (`count at LshIndex.scala:169`), which is
  * exactly the attribution the optimization loop needs: which eager
  * action inside which operator pays the wall.
  *
  * Usage: SPARK_GRAFT_SF_DIR=... SPARK_GRAFT_CPUS=... \
  *   runMain graft.tools.JobProfile <queryName>
  */
object JobProfile {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: JobProfile <queryName>")
    val name = args(0)
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val root = graft.Sessions.local()

    val starts = new java.util.concurrent.ConcurrentHashMap[Int, (String, Long)]()
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(String, Double)]()
    val execSite = new java.util.concurrent.ConcurrentHashMap[String, String]()
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[(String, Double, Double, Double, Double, Int)]()
    root.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        // the result stage's name is the action callsite
        // ("count at LshIndex.scala:169"); broadcast-exchange child jobs
        // all share the executor-thread anon frame, so fall back to the
        // first stage that names a graft/SparkEntry line
        val names = js.stageInfos.map(_.name)
        val raw = names.lastOption.getOrElse("?")
        val isBcast = raw.contains("CompletableFuture")
        // broadcast-exchange child jobs run on the exchange thread pool;
        // attribute them to their SQL execution's MAIN action via the
        // execution id both carry
        val execId = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).getOrElse("-")
        if (!isBcast && execId != "-") execSite.putIfAbsent(execId, raw)
        val site = if (isBcast) s"[bcast exec=$execId]" else raw
        starts.put(js.jobId, (site, System.nanoTime()))
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        Option(starts.remove(je.jobId)).foreach { case (site, t0) =>
          jobs.add((site, (System.nanoTime() - t0) / 1e9))
        }
      }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val wall = (for { a <- si.completionTime; b <- si.submissionTime }
          yield (a - b) / 1e3).getOrElse(0.0)
        val run = si.taskMetrics.executorRunTime / 1e3
        val cpu = si.taskMetrics.executorCpuTime / 1e9
        val deser = si.taskMetrics.executorDeserializeTime / 1e3
        stages.add((si.name, wall, run, cpu, deser, si.numTasks))
      }
    })

    def runOnce(label: String): Unit = {
      jobs.clear(); stages.clear()
      val s = root.newSession()
      val t0 = System.nanoTime()
      graft.SparkEntry.queries(name)(s, dir).write.format("noop").mode("overwrite").save()
      val wall = (System.nanoTime() - t0) / 1e9
      // settle listener events
      Thread.sleep(500)
      import scala.jdk.CollectionConverters._
      def resolve(site: String): String =
        if (site.startsWith("[bcast exec=")) {
          val id = site.stripPrefix("[bcast exec=").stripSuffix("]")
          s"[bcast] ${Option(execSite.get(id)).getOrElse(s"exec $id")}"
        } else site
      val bySite = jobs.asScala.toSeq.map { case (s, t) => (resolve(s), t) }.groupBy(_._1)
        .map { case (site, xs) => (site, xs.map(_._2).sum, xs.length) }
        .toSeq.sortBy(-_._2)
      println(f"[jobprof] ===== $label $name wall=$wall%.2f s, ${jobs.size} jobs =====")
      bySite.foreach { case (site, tot, n) =>
        println(f"[jobprof] $tot%8.2f s  n=$n%-4d $site")
      }
      val byStage = stages.asScala.toSeq.groupBy(_._1).map { case (nm, xs) =>
        (nm, xs.map(_._2).sum, xs.map(_._3).sum, xs.map(_._4).sum,
          xs.map(_._5).sum, xs.map(_._6).sum, xs.length)
      }.toSeq.sortBy(-_._2)
      println(s"[stageprof] ----- stages ($label) wall/run/cpu/deser/tasks -----")
      byStage.take(30).foreach { case (nm, w, r, c, de, nt, ns) =>
        println(f"[stageprof] $w%7.2f w $r%7.2f r $c%7.2f c $de%6.2f d t=$nt%-5d n=$ns%-3d $nm")
      }
      s.catalog.clearCache()
      s.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
      System.gc()
    }
    runOnce("cold")
    runOnce("warm")
    root.stop()
  }
}
