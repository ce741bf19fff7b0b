package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.{CacheManager, CachedData}

/** An IVF probe must leave nothing cached behind it: its probe rows are
  * batch-sized and recomputed, never persisted. The suites share one
  * session and run in parallel, so instead of counting cache entries
  * the spec tags its own query relation with a unique column name and
  * looks for a cached plan that reads it.
  */
class IvfProbeCacheSpec extends SparkSpec {
  import IvfCompatSpec.{centroids, corpus}
  import spark.implicits._

  /** Logical plans the session's shared CacheManager holds right now.
    * Spark has no public listing of them, so this reads the private
    * `cachedData` field; if a Spark upgrade moves it, the spec says so
    * instead of failing on a cast.
    */
  private def cachedPlans(): Seq[LogicalPlan] = {
    val cm = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
    val entries =
      try {
        val f = classOf[CacheManager].getDeclaredField("cachedData")
        f.setAccessible(true)
        f.get(cm)
      } catch {
        case e: ReflectiveOperationException =>
          fail(s"CacheManager.cachedData is not readable on Spark ${spark.version}; " +
            "point cachedPlans at this version's list of cached plans", e)
      }
    entries match {
      case s: Seq[_] => s.collect { case d: CachedData => d.plan }
      case other => fail(s"CacheManager.cachedData is a ${other.getClass.getName}, " +
        s"not a Seq[CachedData], on Spark ${spark.version}; update cachedPlans")
    }
  }

  private def readsTag(plan: LogicalPlan, tag: String): Boolean =
    plan.find(_.output.exists(_.name == tag)).isDefined

  /** Five corpus vectors as queries, in a local relation whose vector
    * column is named by a fresh tag.
    */
  private def taggedQueries(): (DataFrame, String) = {
    val tag = s"q_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    val rows = corpus(spark).filter($"id" < 5L).as[(Long, Array[Double])].collect().toSeq
    (rows.toDF("id", tag), tag)
  }

  test("topKAgainst and topKAgainstMany cache no plan over the query batch") {
    val gen1 = IvfIndex.build(corpus(spark).filter($"id" % 2 === 0), "id", "vec", centroids)
    val gen2 = IvfIndex.build(corpus(spark).filter($"id" % 2 === 1), "id", "vec", centroids)

    val (one, oneTag) = taggedQueries()
    assert(IvfIndex.topKAgainst(gen1, one, "id", oneTag, k = 3, nProbe = 2)
      .collect().nonEmpty)
    assert(!cachedPlans().exists(readsTag(_, oneTag)), "topKAgainst left its probe cached")

    val (many, manyTag) = taggedQueries()
    assert(IvfIndex.topKAgainstMany(Seq(gen1, gen2), many, "id", manyTag,
      k = 3, nProbe = 2).collect().nonEmpty)
    assert(!cachedPlans().exists(readsTag(_, manyTag)),
      "topKAgainstMany left a probe cached")
    gen1.unpersist(); gen2.unpersist()
  }
}
