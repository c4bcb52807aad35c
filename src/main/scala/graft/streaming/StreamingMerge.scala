package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.sinks.MergeSink

/** The reference pipeline as a STREAM: continuously merge arriving update
  * batches into the keyed parquet snapshot. Each micro-batch runs the
  * same single-pass [[MergeSink.mergeInto]] the batch CLI uses, through
  * [[StreamIngest]].
  *
  * Delivery: a replayed batch re-merges, which is SAFE here because the
  * merge is idempotent on data — re-applying an update set leaves the
  * snapshot unchanged (MergeSinkSpec "merge idempotence"); only the
  * observed counts and `updatedAt` stamps reflect the replay. That
  * mirrors the reference's unordered retry-free writes
  * (mongo.py:107,139) where re-running a batch re-upserts the same
  * documents. */
object StreamingMerge {

  /** Start the merge stream. `onStats` receives each micro-batch's id and
    * reference-shaped counts (mongo.py:140-145) — the streaming analog of
    * the batch CLI's result reporting; accumulate them for end-of-stream
    * totals (q46 gates totals == snapshot-derivable expectations).
    * Because foreachBatch is at-least-once, a batch can REPLAY (failure
    * retry, checkpoint restart) with the same batchId — the merge itself
    * is idempotent, but a correct accumulator must key on batchId
    * (last-write-wins per id), not blindly add, or replays double-count.
    * `trigger` defaults to Spark's own default (micro-batch as data
    * arrives); pass `Trigger.AvailableNow()` for a drain-and-stop run. */
  def start(updates: DataFrame, targetPath: String, checkpointDir: String,
            key: String, fields: Seq[String],
            orderCol: Option[String] = None,
            trigger: Option[Trigger] = None,
            onStats: (Long, MergeSink.MergeStats) => Unit = (_, _) => ()): StreamingQuery =
    StreamIngest.start(updates, checkpointDir, "stream_merge", trigger) { b =>
      val stats = MergeSink.mergeInto(updates.sparkSession, targetPath,
        b.rows, key, fields, orderCol)
      onStats(b.id, stats)
      Seq("n_matched" -> stats.nMatched, "n_modified" -> stats.nModified,
        "n_upserted" -> stats.nUpserted)
    }
}
