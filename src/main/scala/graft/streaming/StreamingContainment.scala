package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.operators.Dedup

/** The containment index as a CONTINUOUS ingest: [[StreamIngest]] over
  * landed document files, folding each micro-batch into the persistent
  * posting/size/pair state ([[Dedup.containmentIngest]]) — the streaming
  * face of the q192 day-batch pipeline, under [[StreamIngest]]'s
  * delivery contract. */
object StreamingContainment {

  def start(spark: SparkSession, srcDir: String, statePath: String,
            checkpointDir: String, n: Int, threshold: Double,
            blockCol: Option[String],
            trigger: Option[Trigger] = None): StreamingQuery =
    StreamIngest.start(StreamIngest.files(spark, StreamIngest.docSchema, srcDir),
        checkpointDir, "stream_containment", trigger) { b =>
      Seq("applied" -> Dedup.containmentIngest(spark, statePath, b.rows,
        "doc_id", "text", n, threshold, blockCol, b.key))
    }
}
