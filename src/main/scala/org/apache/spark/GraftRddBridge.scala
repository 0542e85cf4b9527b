package org.apache.spark

import org.apache.spark.rdd.RDD

/** Bridge into SparkContext's package-private block release. */
object GraftRddBridge {
  /** Drops a locally checkpointed RDD's blocks. `RDD.unpersist` does
    * the same, but warns for every such RDD that its truncated lineage
    * cannot be recomputed — noise for a state nothing reads again.
    */
  def release(rdd: RDD[_]): Unit = rdd.sparkContext.unpersistRDD(rdd.id, blocking = false)
}
