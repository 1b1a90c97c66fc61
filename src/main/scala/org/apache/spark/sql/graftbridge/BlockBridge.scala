package org.apache.spark.sql.graftbridge

import org.apache.spark.rdd.RDD

/** Bridge to `SparkContext.unpersistRDD`, which is `private[spark]`.
  * `RDD.unpersist` on a locally checkpointed RDD logs a WARN that its
  * lineage is truncated; an owner that frees such blocks on purpose,
  * after their last reader, removes them here without that line.
  */
object BlockBridge {
  def free(rdd: RDD[_]): Unit = rdd.sparkContext.unpersistRDD(rdd.id, blocking = false)
}
