package graft.ops

import org.apache.spark.sql.{Column, DataFrame}

/** Rebalance a compact input across the cluster BEFORE a high-fan-out
  * operator (shingle/token explode expands a document corpus 100-1000×).
  *
  * Spark sizes scan partitions by INPUT bytes
  * (`spark.sql.files.maxPartitionBytes`), so a small-but-dense input —
  * one parquet row group, a single small file — arrives as one
  * partition and the entire explode pipeline serializes on one core;
  * AQE cannot help because the imbalance is upstream of the first
  * exchange. The cure is one cheap round-robin shuffle of the COMPACT
  * rows (pre-explosion, so bytes are minimal) when and only when the
  * scan's parallelism is below the cluster's.
  *
  * At full scale this is a no-op: a 100 TB corpus scans as tens of
  * thousands of partitions, `getNumPartitions >= defaultParallelism`
  * holds, and no shuffle is added. It only fires where it pays.
  */
object Spread {
  def fanout(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < target) df.repartition(target) else df
  }

  /** Exchange `df` into the cluster's parallelism — hashed on `keys`, or
    * round-robin when there are none — with a partition count AQE may
    * not coalesce.
    *
    * AQE merges an exchange's partitions by SHUFFLE BYTES. That is wrong
    * wherever the bytes are small but the stage fused behind the
    * exchange is CPU-dense: a posting list's `(key, doc_id)` rows feed
    * the bucket aggregate and the PairCombos pair explosion; a candidate
    * probe set feeds VecDot scoring; a hot-shingle gather feeds the pair
    * intersect. Coalesced, those stages ran on one to six tasks (d37 at
    * sf1: 20 of 45 s on 6 tasks; d7's scoring: 662 ms on one task). An
    * explicit partition count is exempt from coalescing, and a following
    * `groupBy`/window on the same keys reuses the exchange. A persisted
    * artifact written through it has one file per core, so its scans
    * run at full width too (a coalesced 2-file shingle artifact scanned
    * in 1.9 s on 2 tasks against 63 ms on 32). */
  def pinned(df: DataFrame, keys: Column*): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism, keys: _*)
}
