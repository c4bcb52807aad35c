package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.operators.Dedup
import graft.sinks.{CommitLog, LedgeredState, ManifestMergeSink}
import graft.streaming.{StreamingContainment, StreamingNeardup}

/** `documents` replicas landed as equal parquet files by id range, consumed
  * by `StreamingNeardup` and then `StreamingContainment` with
  * `Trigger.AvailableNow`, one file per micro-batch. An op is one
  * micro-batch, timed as its `triggerExecution`. */
object StreamIngest extends Workload {
  val name = "stream_ingest"
  val Files = 4
  val DocsPerFile = 150
  val ContainN = 1
  val ContainT = 0.8
  /** Files of the warm-up. One over all four took about 30 s instead of
    * 13 s, more than a run has, and did not narrow the spread of runs. */
  val WarmFiles = 1

  private def arrivals(in: String) = s"$in/arrivals"
  /** On-disk bytes of the landed files, as generated. */
  private var arrivalBytes = 0L

  def generate(ctx: Ctx, in: String): Unit = {
    val docs = Corpus.frame(ctx.spark, ctx.seed, Files * DocsPerFile).cache()
    for (k <- 0 until Files) {
      val file = f"${arrivals(in)}/part_$k%02d.parquet"
      Corpus.writeOneFile(ctx, docs.filter(col("doc_id") >= k * DocsPerFile &&
        col("doc_id") < (k + 1) * DocsPerFile), file)
      if (k < WarmFiles) Corpus.writeOneFile(ctx, ctx.spark.read.parquet(file),
        f"$in/warm/part_$k%02d.parquet")
    }
    docs.unpersist()
    arrivalBytes = Main.du(arrivals(in))._1
  }

  def warmup(ctx: Ctx, in: String): Unit = {
    runStreams(ctx, s"$in/warm", s"${ctx.work}/warm")
    Main.delete(ctx, s"${ctx.work}/warm")
  }

  /** Both streams over `src` into fresh state under `out`; per stream the
    * progress of each micro-batch, or the failure. */
  private def runStreams(ctx: Ctx, src: String, out: String)
      : Seq[(String, Either[Throwable, Seq[org.apache.spark.sql.streaming.StreamingQueryProgress]])] = {
    val spark = ctx.spark
    def run(name: String)(start: => StreamingQuery) = {
      val before = if (ctx.traced) Main.files(out) else Set.empty
      val r = ctx.trace.span(name, "streaming") {
        try {
          val q = start
          try q.awaitTermination() finally if (q.isActive) q.stop()
          Right(q.recentProgress.toSeq.filter(_.numInputRows > 0))
        } catch { case e: Exception => Left(e) }
      }
      if (ctx.traced) ctx.count("sinks.files_written", (Main.files(out) -- before).size)
      name -> r
    }
    val matched = ArrayBuffer.empty[graft.sinks.MergeSink.MergeStats]
    val neardup = run("StreamingNeardup.start") {
      StreamingNeardup.start(spark, src, s"$out/index", s"$out/ckpt_neardup",
        trigger = Some(Trigger.AvailableNow()), onStats = (_, s) => matched += s)
    }
    val contain = run("StreamingContainment.start") {
      StreamingContainment.start(spark, src, s"$out/contain", s"$out/ckpt_contain",
        n = ContainN, threshold = ContainT, blockCol = Some("source"),
        trigger = Some(Trigger.AvailableNow()))
    }
    matched.foreach { s =>
      ctx.count("sinks.rows_matched", s.nMatched.toDouble)
      ctx.count("sinks.rows_modified", s.nModified.toDouble)
      ctx.count("sinks.rows_upserted", s.nUpserted.toDouble)
    }
    Seq(neardup, contain)
  }

  def pass(ctx: Ctx, in: String, out: String): PassInput = {
    var rows = 0L
    for ((name, r) <- runStreams(ctx, arrivals(in), out)) r match {
      case Left(e) =>
        System.err.println(s"[perfbench] $name failed: $e")
        ctx.ops += Op(ctx.pass, Clock.nowMs(), 0.0, ok = false, group = name)
      case Right(progress) =>
        for (p <- progress) {
          val d = p.durationMs
          def s(k: String): Double = Option(d.get(k)).map(_.doubleValue / 1e3).getOrElse(0.0)
          ctx.ops += Op(ctx.pass, java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble,
            s("triggerExecution"), ok = true, group = name)
          rows += p.numInputRows
          ctx.count("streaming.batches", 1)
          ctx.count("streaming.latest_offset_s", s("latestOffset"))
          ctx.count("streaming.query_planning_s", s("queryPlanning"))
          ctx.count("streaming.add_batch_s", s("addBatch"))
          ctx.count("streaming.wal_commit_s", s("walCommit"))
          ctx.count("streaming.commit_offsets_s", s("commitOffsets"))
          ctx.count("streaming.floor_s", s("triggerExecution") - s("addBatch"))
        }
        val sizes = progress.map(_.numInputRows)
        ctx.check(s"stream_ingest.$name.batches",
          sizes.size == Files && sizes.forall(_ == DocsPerFile),
          s"micro-batch sizes $sizes, expected $Files of $DocsPerFile")
    }
    for (dir <- Seq("index", "contain"))
      ctx.count("sinks.commits", CommitLog.seqs(ctx.fs, new org.apache.hadoop.fs.Path(s"$out/$dir")).size)
    PassInput(rows, 2 * arrivalBytes)
  }

  /** Rows of `a` not in `b` plus rows of `b` not in `a` (multiset). */
  private def symmetricDiff(a: DataFrame, b: DataFrame): Long =
    a.exceptAll(b).count() + b.exceptAll(a).count()

  def finalChecks(ctx: Ctx, in: String, out: String): Unit = {
    val spark = ctx.spark
    val corpus = spark.read.parquet(arrivals(in))
    // q72's invariant: the streamed index equals batch near-dup clustering
    // of the whole landed corpus
    val comps = Dedup.clusterComponents(Dedup.simhashPairs(corpus, "doc_id", "text", maxHamming = 3))
    val want = corpus.select(col("doc_id"))
      .join(comps.select(col("id").as("doc_id"), col("comp")), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("comp"), col("doc_id")).cast("long").as("survivor_id"))
    val got = ManifestMergeSink.readManifested(spark, s"$out/index")
      .select(col("doc_id"), col("survivor_id").cast("long"))
    val nd = symmetricDiff(got, want)
    ctx.check("stream_ingest.neardup_survivors", nd == 0, s"$nd index rows differ from batch clustering")
    // q193's invariant: the streamed pairs equal the batch containment join
    val pairs = LedgeredState.readPart(spark, s"$out/contain", "pairs")
    val batch = Dedup.containmentPairs(corpus, "doc_id", "text", ContainN, ContainT, Some("source"))
    val cd = pairs.map { p =>
      val cols = p.columns.filter(batch.columns.contains).map(col).toSeq
      symmetricDiff(p.select(cols: _*), batch.select(cols: _*))
    }
    val nPairs = pairs.map(_.count()).getOrElse(0L)
    ctx.check("stream_ingest.containment_pairs", cd.contains(0L) && nPairs > 0,
      s"pairs part ${if (pairs.isEmpty) "missing" else s"differs from batch join by ${cd.get} rows"}" +
        s" ($nPairs pairs)")
  }

  def state(ctx: Ctx, out: String): (Long, Long) =
    (Main.du(s"$out/index")._1 + Main.du(s"$out/contain")._1, Files.toLong * DocsPerFile)
}
