package org.apache.spark.sql

import org.apache.spark.SparkEnv
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.RDDBlockId

/** The size of an eagerly checkpointed frame, read from what its checkpoint
  * stored (the plan node and the block manager are private to Spark).
  */
object PinStats {

  /** `pinned` re-planned with its blocks' bytes as `sizeInBytes`, in place of
    * the optimizer's estimate that the checkpoint copied.
    */
  def withStoredSize(pinned: DataFrame): DataFrame = {
    val ds = pinned.asInstanceOf[classic.Dataset[Row]]
    val r = ds.logicalPlan.asInstanceOf[LogicalRDD]
    val stats = Some(Statistics(sizeInBytes = storedBytes(r.rdd.id)))
    classic.Dataset.ofRows(ds.sparkSession, r.copy()(ds.sparkSession, stats, Some(r.constraints)))
  }

  /** Memory plus disk bytes of RDD `rddId`'s blocks, from the block manager
    * master's record, which each task updated before it finished: no job.
    */
  def storedBytes(rddId: Int): BigInt =
    SparkEnv.get.blockManager.master.getStorageStatus.iterator.flatMap(_.rddBlocks)
      .collect { case (RDDBlockId(`rddId`, _), s) => BigInt(s.memSize + s.diskSize) }.sum
}
