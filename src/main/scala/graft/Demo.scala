package graft

/** Drives the flagship pipeline end-to-end from the packaged surface —
  * the same call the driver's smoke test makes (`SparkEntry.entry`).
  */
object Demo {
  def main(args: Array[String]): Unit = {
    val spark = Sessions.local()
    val valid = SparkEntry.entry(spark)
    println(s"[demo] entry() valid rows = ${valid.count()}")
    valid.show(5, truncate = false)
    println("[demo] SQL via extensions: " +
      spark.sql("SELECT accent_fold('Município de Águeda')").collect().head.getString(0))
    spark.stop()
  }
}
