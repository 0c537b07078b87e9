package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

/** The fold protocol behind all of graft's incremental state: a merge
  * `(prior state, batch) => state` applied batch by batch, with state
  * materialized between batches. [[replay]] drives it over deterministic
  * batches (the oracled replay keys); [[sink]] drives it per streaming
  * micro-batch against a parquet state path. Both share the merge, so a
  * replay key's oracle result speaks for its sink.
  *
  * Contract:
  *  - State is EAGERLY materialized after every fold, the first included
  *    (`localCheckpoint(true)`): a replay key runs its folds while its
  *    DataFrame is being built, before any action on the result.
  *  - Lineage is truncated at each fold, so fold n's plan starts from
  *    fold n-1's materialized rows, never from the chain of earlier merges.
  *    In [[sink]] the materialized state is what overwrites `statePath`;
  *    the merge read that same path, and parquet has no transactional swap.
  *  - Single-JVM assumption: a `localCheckpoint` block lives on the one
  *    executor that computed it, with no replica and no lineage behind it.
  *    Losing that executor fails the next fold with
  *    `CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND` (measured on
  *    `local-cluster[2,1,1024]`); `persist()` would recompute instead.
  *    This is the one place that policy lives.
  */
object Fold {

  type Merge = (Option[DataFrame], DataFrame) => DataFrame

  /** Fold batches `0 until batches` into state; returns the final state. */
  def replay(batches: Int)(batchOf: Int => DataFrame)(merge: Merge): DataFrame =
    (0 until batches).foldLeft(Option.empty[DataFrame]) { (state, b) =>
      Some(materialize(merge(state, batchOf(b))))
    }.get

  /** Fold each micro-batch of `stream` into the parquet state at `statePath`
    * (absent path = empty state) and overwrite it with the merged state. */
  def sink(stream: DataFrame, statePath: String, outputMode: String)(merge: Merge): StreamingQuery =
    stream.writeStream.outputMode(outputMode)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val s = batch.sparkSession
        val state = if (graft.Fs.exists(s, statePath)) Some(s.read.parquet(statePath)) else None
        materialize(merge(state, batch)).write.mode("overwrite").parquet(statePath)
        ()
      }
      .start()

  private def materialize(state: DataFrame): DataFrame = state.localCheckpoint(true)
}
