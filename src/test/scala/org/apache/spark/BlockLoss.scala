package org.apache.spark

/** An executor loss in miniature: every block of every persisted RDD is
  * removed through the block manager master, while the RDDs stay marked
  * persisted. A later read must recompute the lost partitions from
  * lineage; a `localCheckpoint`ed RDD has none and fails. */
object BlockLoss {
  def dropAll(sc: SparkContext): Unit =
    sc.getPersistentRDDs.keys.foreach(id =>
      sc.env.blockManager.master.removeRdd(id, blocking = true))
}
