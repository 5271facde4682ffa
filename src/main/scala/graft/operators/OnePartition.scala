package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.internal.SQLConf

/** The one-stage rule, shared by every operator that plans a small
  * input at one partition ([[MergeOps]]' writes, [[Curate.curateToShards]]).
  *
  * AQE collapses a shuffle whose map output is below the session's
  * `spark.sql.adaptive.coalescePartitions.minPartitionSize` (1 MB by
  * default) to one partition. An input whose bytes fit within that same
  * bound is planned at one partition from the start (`coalesce(1)`):
  * `SinglePartition` satisfies the clustered distribution of every keyed
  * window, aggregate and sort-merge join above it, and the all-tuples
  * distribution of an unpartitioned window, so none of them plans an
  * exchange — no shuffle-map job and no AQE re-plan between the two.
  * Above the bound a plan is left exactly as it was.
  */
private[graft] object OnePartition {

  /** Whether `knownBytes` (bytes already measured, e.g. a target
    * table's listed files) plus Spark's size estimate of `df`'s
    * optimized plan fit within the session's bound. Reads plan
    * statistics only; launches no job. */
  def fits(spark: SparkSession, knownBytes: Long, df: DataFrame): Boolean =
    BigInt(knownBytes) + df.queryExecution.optimizedPlan.stats.sizeInBytes <=
      spark.sessionState.conf.getConf(
        SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE)

  /** `df` at one partition when `one` (see [[fits]]); otherwise exactly
    * `df`, so a plan above the bound keeps its shuffles and AQE. */
  def apply(df: DataFrame, one: Boolean): DataFrame =
    if (one) df.coalesce(1) else df
}
