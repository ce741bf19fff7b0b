package graft.tools

/** Drives the XLSX source from the CLI: runMain graft.tools.ReadXlsx <path> */
object ReadXlsx {
  def main(args: Array[String]): Unit = {
    val spark = graft.Sessions.local()
    val df = graft.sources.Xlsx.read(spark, args.head)
    df.show(false)
    println(s"[xlsx] rows=${df.count()} cols=${df.columns.length}")
    spark.stop()
  }
}
