package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQuery

/** The fold protocol behind all of graft's incremental state: a merge
  * `(prior state, batch) => state` applied batch by batch, with state
  * materialized between batches. [[replay]] drives it over deterministic
  * batches (the oracled replay keys); [[sink]] drives it per streaming
  * micro-batch against a parquet state path. Both share the merge, so a
  * replay key's oracle result speaks for its sink. [[replay]] materializes
  * every fold's state through [[graft.Materialize]]; [[sink]] commits each
  * merged state as a new [[StateDir]] version beside the one its merge read.
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

  /** Fold each micro-batch of `stream` into the [[StateDir]] state at
    * `statePath` (no manifest = empty state); a re-delivered batch of the
    * same query is a no-op. */
  def sink(stream: DataFrame, statePath: String, outputMode: String)(merge: Merge): StreamingQuery =
    stream.writeStream.outputMode(outputMode)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val s = batch.sparkSession
        StateDir.commit(s, statePath, StateDir.queryWriter(s), batchId) { prior =>
          StateDir.Version(merge(prior.map(StateDir.read(s, statePath, _)), batch))
        }
        ()
      }
      .start()
}
