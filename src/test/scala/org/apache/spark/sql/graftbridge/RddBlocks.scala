package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkEnv
import org.apache.spark.rdd.RDD

/** Test access to the block manager (`private[spark]`): in local mode
  * the one block manager holds every block of every RDD.
  */
object RddBlocks {
  def count(rdd: RDD[_]): Int =
    SparkEnv.get.blockManager.getMatchingBlockIds(_.asRDDId.exists(_.rddId == rdd.id)).size
}
