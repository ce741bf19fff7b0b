package graft.tools

/** One-off provenance tool for the frozen product-quantization
  * codebooks ([[graft.operators.PqCodebooks]]): fits one k-means
  * (k=16, seed 42) PER SUBSPACE on the 8-dim subvector slices of the
  * embeddings table and prints the codebook tensor as Scala literals,
  * coordinates rounded to 6 decimals — the [[FitIvf]] recipe applied
  * per subspace. Rounded centroids are still valid quantization sites;
  * what matters downstream is that Spark and the SQL oracle share the
  * exact same literals.
  *
  * Usage: runMain graft.tools.FitPq /root/testdata/sf0.01
  */
object FitPq {
  val Subspaces = 8
  val SubDim = 8
  val K = 16

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    // 8 slots, as in FitIvf: KMeans|| depends on the partition count
    val spark = graft.Sessions.local(8)
    try {
      import org.apache.spark.ml.clustering.KMeans
      import org.apache.spark.ml.functions.array_to_vector
      import org.apache.spark.sql.functions._
      val e = spark.read.parquet(s"$dir/embeddings.parquet")
        .select(transform(col("embedding"), x => x.cast("double")).as("v"))
      println("  val codebooks: Seq[Seq[Seq[Double]]] = Seq(")
      (0 until Subspaces).foreach { j =>
        val sub = e.select(array_to_vector(
          slice(col("v"), j * SubDim + 1, SubDim)).as("__features"))
        val model = new KMeans().setK(K).setSeed(42L)
          .setFeaturesCol("__features").fit(sub)
        println(s"    Seq( // subspace $j (dims ${j * SubDim}..${j * SubDim + SubDim - 1})")
        model.clusterCenters.foreach { c =>
          println(c.toArray
            .map(x => BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_EVEN).toString)
            .mkString("      Seq(", ", ", "),"))
        }
        println("    ),")
      }
      println("  )")
    } finally spark.stop()
  }
}
