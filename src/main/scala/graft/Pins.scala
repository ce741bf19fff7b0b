package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** Releasing what a frame pins in executor storage. */
private[graft] object Pins {

  /** `DataFrame.unpersist` misses a `localCheckpoint` frame (the
    * CacheManager does not hold it), so release the RDD it scans; any
    * other frame is unpersisted as usual.
    */
  def release(df: DataFrame): Unit = df.queryExecution.logical match {
    case r: LogicalRDD => r.rdd.unpersist(blocking = false)
    case _ => df.unpersist()
  }
}
