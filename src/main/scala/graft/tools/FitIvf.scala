package graft.tools

/** One-off provenance tool for the frozen IVF coarse quantizer
  * ([[graft.operators.IvfCentroids]]): fits k-means (k=16, seed 42) on
  * the embeddings table of the given SF dir and prints the centroid
  * matrix as Scala literals, each coordinate rounded to 6 decimals (a
  * rounded centroid is still a valid Voronoi site, and short literals
  * keep the source and the inlined oracle SQL compact).
  *
  * Usage: runMain graft.tools.FitIvf /root/testdata/sf0.01
  */
object FitIvf {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    // 8 slots whatever the machine: KMeans|| initialization depends on
    // the partition count, and the printed constants must reproduce
    val spark = graft.Sessions.local(8)
    try {
      import org.apache.spark.ml.clustering.KMeans
      import org.apache.spark.ml.functions.array_to_vector
      import org.apache.spark.sql.functions._
      val e = spark.read.parquet(s"$dir/embeddings.parquet")
        .select(transform(col("embedding"), x => x.cast("double")).as("v"))
        .withColumn("__features", array_to_vector(col("v")))
      val model = new KMeans().setK(16).setSeed(42L).setFeaturesCol("__features").fit(e)
      val rows = model.clusterCenters.map { c =>
        c.toArray.map(x => BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_EVEN).toString)
          .mkString("    Seq(", ", ", "),")
      }
      println("  val centroids: Seq[Seq[Double]] = Seq(")
      rows.foreach(println)
      println("  )")
    } finally spark.stop()
  }
}
