package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkEnv
import org.apache.spark.rdd.RDD
import org.apache.spark.storage.{BlockId, RDDBlockId}

/** Bridge to the `private[spark]` block-manager master, which knows
  * at once (unlike the status store) which RDD blocks are stored. */
object BlockBridge {
  def allStored(rdd: RDD[_]): Boolean = SparkEnv.get.blockManager.master
    .getLocations(rdd.partitions.map(p => RDDBlockId(rdd.id, p.index): BlockId)).forall(_.nonEmpty)
}
