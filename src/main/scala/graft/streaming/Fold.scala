package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQuery

/** The fold protocol behind all of graft's incremental state: a merge
  * `(prior state, batch) => state` applied batch by batch, with state
  * materialized between batches. [[replay]] drives it over deterministic
  * batches (the oracled replay keys); [[sink]] drives it per streaming
  * micro-batch against a parquet state path. Both share the merge, so a
  * replay key's oracle result speaks for its sink. Every fold's state goes
  * through [[graft.Materialize]]; in [[sink]] that state overwrites the
  * `statePath` its merge read (parquet has no transactional swap).
  */
object Fold {

  type Merge = (Option[DataFrame], DataFrame) => DataFrame

  /** Fold batches `0 until batches` into state; returns the final state. */
  def replay(batches: Int)(batchOf: Int => DataFrame)(merge: Merge): DataFrame =
    (0 until batches).foldLeft(Option.empty[DataFrame]) { (state, b) =>
      Some(graft.Materialize(merge(state, batchOf(b))))
    }.get

  /** [[replay]] over per-batch partials aggregated in ONE scan: `partials`
    * carries a long batch column `b`, is materialized once, and fold `b`
    * reads its slice without that column. */
  def replayPartials(batches: Int, partials: DataFrame)(merge: Merge): DataFrame = {
    val p = graft.Materialize(partials)
    replay(batches)(b => p.filter(col("b") === b.toLong).drop("b"))(merge)
  }

  /** Fold each micro-batch of `stream` into the parquet state at `statePath`
    * (absent path = empty state) and overwrite it with the merged state. */
  def sink(stream: DataFrame, statePath: String, outputMode: String)(merge: Merge): StreamingQuery =
    stream.writeStream.outputMode(outputMode)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val s = batch.sparkSession
        val state = if (graft.Fs.exists(s, statePath)) Some(s.read.parquet(statePath)) else None
        graft.Materialize(merge(state, batch)).write.mode("overwrite").parquet(statePath)
        ()
      }
      .start()
}
