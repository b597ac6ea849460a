package org.apache.spark.graft

import org.apache.spark.rdd.RDD

/** Lives under org.apache.spark because `SparkContext.unpersistRDD` is
  * private[spark]. */
object Checkpoints {

  /** Drop a locally checkpointed RDD's blocks once nothing reads it again
    * (`RDD.unpersist` would also warn that its lineage is gone). */
  def release(rdd: RDD[_]): Unit =
    rdd.sparkContext.unpersistRDD(rdd.id, blocking = false)
}
