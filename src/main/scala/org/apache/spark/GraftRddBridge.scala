package org.apache.spark

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** Bridge into SparkContext's package-private block release. */
object GraftRddBridge {
  /** Drops a locally checkpointed RDD's blocks. `RDD.unpersist` does
    * the same, but warns for every such RDD that its truncated lineage
    * cannot be recomputed — noise for a state nothing reads again.
    */
  def release(rdd: RDD[_]): Unit = rdd.sparkContext.unpersistRDD(rdd.id, blocking = false)

  /** Drops the blocks of a `Dataset.localCheckpoint`: the RDD its plan
    * reads.
    */
  def release(df: DataFrame): Unit =
    df.queryExecution.logical.collectFirst { case r: LogicalRDD => r.rdd }.foreach(r => release(r))
}
