package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** ConnectedComponents at volume: synthesizes an edge list shaped like
  * dedup output — many small clusters (the realistic case) plus one
  * long chain (the adversarial diameter case) — and times the
  * alternating-star algorithm. Usage: runMain graft.tools.ProfileCC [nEdges]
  */
object ProfileCC {
  def main(args: Array[String]): Unit = {
    val nEdges = args.headOption.map(_.toLong).getOrElse(10000000L)
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.optimizer.excludedRules", graft.Sessions.ExcludedOptimizerRules)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    // clusters of ~6 nodes: edge i links node (i/5)*6 + 1 + i%5 to its
    // cluster head (i/5)*6 — a star per cluster, nEdges/5 clusters
    val clusters = spark.range(nEdges).select(
      (($"id" / 5).cast("long") * 6).as("src"),
      (($"id" / 5).cast("long") * 6 + 1 + $"id" % 5).as("dst"))
    // one 10k-node chain appended in a disjoint id range
    val base = nEdges * 2
    val chain = spark.range(9999).select(
      (lit(base) + $"id").as("src"), (lit(base) + $"id" + 1).as("dst"))
    val edges = if (sys.env.get("CC_NO_CHAIN").isDefined) clusters
                else clusters.union(chain)

    val jumpSteps = sys.env.get("CC_JUMP_STEPS").map(_.toInt).getOrElse(2)
    val t0 = System.nanoTime()
    val (cc, rounds) = graft.operators.ConnectedComponents.componentsWithRounds(
      edges, jumpSteps = jumpSteps)
    val (nNodes, nComponents) = (cc.count(),
      cc.select("component").distinct().count())
    println(f"[cc] edges=$nEdges nodes=$nNodes components=$nComponents " +
      f"rounds=$rounds " +
      f"jumpSteps=$jumpSteps ${(System.nanoTime() - t0) / 1e9}%.1f s")
    spark.stop()
  }
}
