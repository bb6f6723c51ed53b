package org.apache.spark.sql.graft

import org.apache.hadoop.conf.Configuration

import org.apache.spark.sql.{DataFrame, SparkSession, classic}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** Plan and session internals the library needs from inside the `sql`
  * package (`classic.Dataset.ofRows`, `LogicalRDD.fromDataset` and
  * `SessionState` are `private[sql]`), the sibling of [[ColumnBridge]].
  */
object PlanBridge {

  /** `df` as a frame whose plan runs once, however many actions read
    * it: Spark's own `Dataset.checkpoint` minus the lineage cut. The
    * physical plan is prepared here, so a broadcast join's build jobs
    * run now, once. Its RDD is persisted `MEMORY_AND_DISK`: the first
    * action computes and stores the partitions, later actions read
    * the stored blocks, and a lost block is recomputed from lineage.
    * The ContextCleaner releases the blocks once the returned frame is
    * unreachable, as it does for `localCheckpoint` frames.
    *
    * Not `persist()`: the CacheManager holds a cached frame until
    * someone calls `unpersist`, so a caller that builds a frame per
    * poll and never unpersists piles them up. Not `localCheckpoint`:
    * it cuts the lineage, so a block lost between two actions fails
    * the second one (`CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND`) instead of
    * recomputing it.
    *
    * A streaming frame has no batch plan to run and is returned as is.
    */
  def runOnce(df: DataFrame): DataFrame =
    if (df.isStreaming) df
    else {
      val ds = df.asInstanceOf[classic.Dataset[_]]
      // toRdd reuses one mutable row per partition; stored rows must not
      val rdd = ds.queryExecution.toRdd.map(_.copy())
      rdd.persist(StorageLevel.MEMORY_AND_DISK)
      classic.Dataset.ofRows(ds.sparkSession,
        LogicalRDD.fromDataset(rdd, ds, isStreaming = false))
    }

  /** The session's Hadoop configuration: the SparkContext's (with its
    * `spark.hadoop.*` settings) overlaid with the session's SQL conf,
    * as Spark's own file sources resolve it.
    */
  def hadoopConf(spark: SparkSession): Configuration =
    spark.asInstanceOf[classic.SparkSession].sessionState.newHadoopConf()
}
