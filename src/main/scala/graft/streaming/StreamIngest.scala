package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import graft.Jsons

/** The one driver behind every CONTINUOUS ingest: stream files out of a
  * landing directory and hand each micro-batch to a batch-only fold —
  * `foreachBatch` is Structured Streaming's bridge to batch-only sinks.
  * The fold is the operator's own (`Audit.histIngest`,
  * `Dedup.containmentIngest`, `MergeSink.mergeInto`, ...); this module
  * owns the policy every such stream shares: the file source, the
  * ledger key, the per-batch event line, and the drain-and-stop run.
  *
  * Delivery contract: `foreachBatch` is at-least-once — a failure or a
  * checkpoint restart re-delivers a whole batch under the SAME batchId,
  * so the same [[Batch.key]]. A ledgered fold (additive state behind
  * [[graft.sinks.LedgeredState]]) turns that replay into a no-op: the
  * ledger commits atomically with the state, so a replayed batch finds
  * its key and writes nothing. Row duplicates ACROSS files are the
  * upstream's to prevent — an additive fold has no row identity to
  * anti-join on, so a row landed twice counts twice; dedup upstream (a
  * keyed index, `EventStreams.dedupEvents`) when the source can
  * double-land a row. Folds that absorb more (keyed anti-joins,
  * monotone summaries, watermarks, txn tokens) say so on the fold.
  *
  * Scale: the driver holds zero rows between batches and adds no Spark
  * action of its own; a micro-batch is one landed file, and the
  * corpus-sized state lives in the fold's snapshot, never in stream
  * memory. */
object StreamIngest {

  /** Files per micro-batch: one, so a batch is bounded by one landed file
    * even when the upstream lands many at once. */
  val FilesPerTrigger = 1

  /** The `documents` fixture's columns as landed for the document folds
    * (a landed file that carries fewer reads the rest as null). */
  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** One micro-batch: its rows and Structured Streaming's batchId. */
  final case class Batch(rows: DataFrame, id: Long) {
    /** The ledger key: a replay re-delivers the same id, so the same key. */
    def key: String = s"batch_$id"
  }

  /** What a fold reports for its batch, appended to the event line. */
  type Counters = Seq[(String, AnyVal)]

  /** The file source: `dir` read as `format` under `schema`,
    * [[FilesPerTrigger]] files per micro-batch. */
  def files(spark: SparkSession, schema: StructType, dir: String,
            format: String = "parquet"): DataFrame =
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", FilesPerTrigger)
      .format(format).load(dir)

  /** Start a stream that runs `ingest` on each micro-batch of `source`
    * and prints one [[event]] line per batch. `trigger` defaults to
    * Spark's own (micro-batch as data arrives); [[drain]] runs a stream
    * to the end of what has landed. */
  def start(source: DataFrame, checkpointDir: String, stage: String,
            trigger: Option[Trigger] = None)
           (ingest: Batch => Counters): StreamingQuery = {
    val writer = source.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (rows: Dataset[Row], id: Long) =>
        println(event(stage, id, ingest(Batch(rows, id))))
      }
    trigger.fold(writer)(writer.trigger).start()
  }

  /** `{"stage":…,"batch":…,<counters>}`, every name escaped. */
  def event(stage: String, batchId: Long, counters: Counters): String =
    (Seq("stage" -> Jsons.quote(stage), "batch" -> batchId.toString) ++
      counters.map { case (k, v) => k -> v.toString })
      .map { case (k, v) => s"${Jsons.quote(k)}:$v" }
      .mkString("{", ",", "}")

  /** Run a stream with `Trigger.AvailableNow` — every landed file, then
    * stop — and wait for it; the query is stopped however the wait ends. */
  def drain(start: Option[Trigger] => StreamingQuery): Unit = {
    val q = start(Some(Trigger.AvailableNow()))
    try q.awaitTermination()
    finally if (q.isActive) q.stop()
  }
}
