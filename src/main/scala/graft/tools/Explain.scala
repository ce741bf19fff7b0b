package graft.tools

/** Prints formatted physical plans for selected SparkEntry queries —
  * the iterate-until-it's-the-plan-you-want loop. Cached data is
  * cleared between queries, so each plan is built against a clean
  * cache and indexes persisted by one query do not pile up for the
  * whole dump.
  * Usage: runMain graft.tools.Explain [queryName ...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val spark = graft.Sessions.local()
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val names = if (args.nonEmpty) args.toSeq else graft.SparkEntry.queries.keys.toSeq.sorted
    names.foreach { n =>
      println(s"\n======== $n ========")
      graft.SparkEntry.queries(n)(spark, dir).explain("formatted")
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    }
    spark.stop()
  }
}
