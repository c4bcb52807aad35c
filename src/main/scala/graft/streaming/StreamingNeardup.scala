package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import graft.operators.MergeQueries
import graft.sinks.MergeSink

/** Near-dup dedup as a CONTINUOUS ingest: [[StreamIngest]] over landed
  * document files, running [[MergeQueries.neardupIngestManifested]] on
  * each micro-batch — the streaming face of the persistent-signature-index
  * pipeline (q68).
  *
  * Delivery: stronger than [[StreamIngest]]'s contract — the ingest's
  * index anti-join drops already-indexed doc_ids before signatures are
  * computed, so batch replays AND upstream duplicates across files are
  * absorbed, and the survivor invariant holds under ANY batch order
  * (MergePropsSpec). */
object StreamingNeardup {

  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))

  /** Start the ingest stream over `srcDir`. The index target is the
    * MANIFESTED layout ([[MergeQueries.neardupIngestManifested]]) —
    * the deployed default since the commit-log migration: each
    * micro-batch's index update publishes as ONE commit (rename-free,
    * object-store-safe; a crash mid-batch leaves an invisible orphan
    * generation, never a half-visible index). `onStats` receives each
    * micro-batch's id and merge counts (key on batchId when
    * accumulating — replays re-deliver the same id, see
    * [[StreamingMerge.start]]). */
  def start(spark: SparkSession, srcDir: String, target: String,
            checkpointDir: String,
            trigger: Option[Trigger] = None, nBuckets: Int = 16,
            onStats: (Long, MergeSink.MergeStats) => Unit = (_, _) => ()): StreamingQuery =
    StreamIngest.start(StreamIngest.files(spark, docSchema, srcDir),
        checkpointDir, "stream_neardup", trigger) { b =>
      val s = MergeQueries.neardupIngestManifested(spark, target, b.rows,
        "doc_id", "text", nBuckets)
      onStats(b.id, s)
      Seq("n_matched" -> s.nMatched, "n_upserted" -> s.nUpserted)
    }
}
