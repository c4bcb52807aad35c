package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import graft.sinks.ManifestMergeSink

/** CONTINUOUS replica maintenance off the change feed — the streaming
  * face of the q222 consumer loop: the source table's `_commits`
  * directory IS the stream (each commit is one immutable file — the
  * commit log doubles as a change notification channel, no side queue
  * needed), and every landed commit triggers an apply of
  * [[ManifestMergeSink.changesBetween]] from the replica's watermark to
  * the source head.
  *
  * Delivery semantics — exactly once, in ONE commit per span: the
  * replica's applied watermark is the SOURCE COMMIT SEQ recorded as a
  * txn token in the replica's own commit, and the span's deletes,
  * upserts, and that watermark all land through
  * [[ManifestMergeSink.applyChangesManifested]]'s single commit-file
  * create. A replayed notification finds `applied >= head` and no-ops
  * before reading a byte. There is deliberately NO purge-then-merge
  * composition here: applying a span as two commits leaves a crash
  * window in which the deletes landed but the watermark didn't, and
  * the recovery span — recomputed against a NEWER source head — can
  * net out a key whose delete already applied (deleted at the crashed
  * span's end, re-inserted with its old value before recovery), losing
  * it forever. One commit, no between.
  *
  * The span read requires the watermarked source commit to still be
  * retained ([[ManifestMergeSink.vacuumManifested]]'s margin) — size
  * the source's retention to cover the replica's worst-case lag, the
  * same reader contract every as-of consumer has.
  *
  * Scale: per apply, IO ∝ the span's repointed-bucket bytes (the
  * changesBetween argument) + one replica merge bounded the same way;
  * the notification stream itself moves only kilobyte commit files. */
object StreamingCdcApply {

  /** One catch-up step: apply everything between the replica's watermark
    * and the source head. Returns the watermark after the step.
    *
    * Duplicate-instance safety: the apply is FENCED on the span's
    * origin (`txnFence = applied`) — if another instance of the same
    * pipeline advanced the replica between our watermark read and our
    * commit, the sink rejects the stale span with
    * [[ManifestMergeSink.StaleSpanException]] (the `recorded >= head`
    * absorbed check alone misses the `applied < recorded < head`
    * interleaving: a key changed then REVERTED inside the concurrent
    * span is absent from our wider diff, and applying it on top of the
    * concurrent state would pin the intermediate value forever). On a
    * fence hit we recompute the span from the fresh watermark. */
  def applyOnce(spark: SparkSession, srcTable: String, replicaTable: String,
                key: String, fields: Seq[String], nBuckets: Int,
                pipelineId: String, maxRecomputes: Int = 20): Long = {
    var tries = 0
    while (true) {
      val head = ManifestMergeSink.headState(spark, srcTable) match {
        case Some((seq, _)) => seq
        case None => return 0L // source not yet committed — nothing to do
      }
      try {
        return applyTo(spark, srcTable, replicaTable, key, fields,
          nBuckets, pipelineId, head)
      } catch {
        case e: ManifestMergeSink.StaleSpanException =>
          tries += 1
          if (tries >= maxRecomputes) throw e
        // else: loop — re-read both watermarks and recompute the span
      }
    }
    0L // unreachable
  }

  /** Apply the span from the replica's watermark to the EXPLICIT source
    * commit `toSeq` — one fenced commit (deletes + upserts + watermark
    * together), the single building block both the streaming loop above
    * and a batch version-by-version consumer (q222) share. Exactly-once
    * by construction: a replay (watermark already ≥ `toSeq`) no-ops on
    * the metadata read alone — no data read, no commit; a duplicate
    * instance racing a DIFFERENT span throws
    * [[ManifestMergeSink.StaleSpanException]] for the caller to
    * recompute. Returns the watermark after the call. */
  def applyTo(spark: SparkSession, srcTable: String, replicaTable: String,
              key: String, fields: Seq[String], nBuckets: Int,
              pipelineId: String, toSeq: Long): Long = {
    val applied = ManifestMergeSink.headState(spark, replicaTable)
      .map(_._2.txns.getOrElse(pipelineId, 0L)).getOrElse(0L)
    if (applied >= toSeq) return applied // replay — absorbed, no commit
    if (applied == 0L) {
      // bootstrap: seed from the full snapshot at the requested commit
      ManifestMergeSink.mergeIntoManifested(spark, replicaTable,
        ManifestMergeSink.readManifestedAt(spark, srcTable, toSeq)
          .select(col(key) +: fields.map(col): _*),
        key, fields, nBuckets, txn = Some((pipelineId, toSeq)),
        txnFence = Some(0L),
        // a committed snapshot is key-unique (merge invariant) — skip
        // the fold window on the bootstrap copy
        updatesUnique = true)
    } else {
      // one atomic commit: deletes + upserts + the watermark together
      ManifestMergeSink.applyChangesManifested(spark, replicaTable,
        ManifestMergeSink.changesBetween(spark, srcTable, applied, toSeq,
          key, fields),
        key, fields, nBuckets, txn = Some((pipelineId, toSeq)),
        txnFence = Some(applied),
        // changesBetween emits ONE row per changed key (full-outer diff
        // of key-unique snapshots) — skip the fold window
        updatesUnique = true)
    }
    toSeq
  }

  /** The notification stream: [[StreamIngest]] over the source's
    * `_commits` directory, one [[applyOnce]] per landed commit file (the
    * batch content is only the wake-up; the apply reads its span from
    * the logs directly). */
  def start(spark: SparkSession, srcTable: String, replicaTable: String,
            checkpointDir: String, key: String, fields: Seq[String],
            nBuckets: Int, pipelineId: String,
            trigger: Option[Trigger] = None): StreamingQuery =
    StreamIngest.start(StreamIngest.files(spark,
        StructType(Seq(StructField("value", StringType))),
        s"$srcTable/_commits", format = "text"),
        checkpointDir, "stream_cdc_apply", trigger) { _ =>
      Seq("watermark" -> applyOnce(spark, srcTable, replicaTable, key,
        fields, nBuckets, pipelineId))
    }
}
