package graft

import org.apache.spark.sql.DataFrame

/** The one materialization policy for graft's incremental state and shared
  * projections: an eager local checkpoint. Contract:
  *  - EAGER: the frame's jobs run while the caller's DataFrame is built.
  *  - Lineage is TRUNCATED: later plans start from the materialized rows.
  *  - Single-JVM assumption: a block lives on the one executor that computed
  *    it, with no replica and no lineage to recompute from; losing that
  *    executor fails the next action with `CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND`
  *    (measured on `local-cluster[2,1,1024]`).
  *  - Blocks live until ContextCleaner collects the returned frame.
  *  - Materialize only a frame that is read at least twice or iterated on
  *    AND is post-aggregation or narrower than its input (the t26/t34
  *    lesson: a corpus-granular shared projection measured flat or worse).
  *
  * A policy change must keep these dependants working: `Streams.chunkFold`
  * reads its `observe`d `pb_mask` right after materializing;
  * `Streams.censusTwsBatch` scopes the RocksDB provider conf around it;
  * `PipelineOps.twoPhaseIndex` relies on it to pin range placement between
  * its two phases; `Dedup.clusterLabelCache` memoizes the materialized labels
  * for the session's lifetime.
  */
object Materialize {
  def apply(df: DataFrame): DataFrame = df.localCheckpoint(true)
}
