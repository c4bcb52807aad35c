package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.jobs.BulkUpdateJob
import graft.sinks.{CommitLog, MergeSink}
import graft.sources.SyntheticSource

/** The reference pipeline: a `SyntheticSource` snapshot loaded through
  * `BulkUpdateJob.run` into an empty target, then day batches of changed
  * existing keys, new keys, null payload fields and a few null keys, each
  * applied by one `BulkUpdateJob.run` (one op). */
object BulkUpsert extends Workload {
  val name = "bulk_upsert"
  val BaseRows = 100000L
  val Days = 8
  /** Existing keys changed per day, in 1/10000 of the base. */
  val ExistingPer10k = 1500
  val NewRows = BaseRows / 20
  val NullKeyRows = 100L
  val NullFieldFrac = 0.1
  /** Day batches applied to a scratch copy before timing (JIT warm-up). */
  val WarmDays = Days

  /** Per day: (existing keys, new keys, all rows) as generated. */
  private var expected = Map.empty[Int, (Long, Long, Long)]
  /** On-disk bytes of all day batches, as generated. */
  private var dayBytes = 0L

  private def day(in: String, d: Int) = s"$in/days/day=$d"

  /** A uniform double in [0, 1) from a hash — independent of partitioning. */
  private def unit(cols: Column*): Column =
    shiftrightunsigned(xxhash64(cols: _*), 11).cast("double") / math.pow(2, 53)

  private def uuidOf(c: Column): Column = {
    val h = md5(c)
    concat_ws("-", substring(h, 1, 8), substring(h, 9, 4), substring(h, 13, 4),
      substring(h, 17, 4), substring(h, 21, 12))
  }

  def generate(ctx: Ctx, in: String): Unit = {
    val spark = ctx.spark
    val seed = lit(ctx.seed)
    SyntheticSource.write(
      SyntheticSource.generate(spark, BaseRows, nFiles = ctx.cpus, seed = ctx.seed), s"$in/base")
    val load = BulkUpdateJob.run(spark, s"$in/base", s"$in/snapshot")
    require(load == MergeSink.MergeStats(0, 0, BaseRows), s"snapshot load: $load")
    // every day batch in one frame: a day's existing keys are a seeded 15 %
    // of the base, its new keys fresh ids in their own namespace
    val days = spark.range(1, Days + 1).select(col("id").cast("int").as("day"))
    val existing = spark.read.parquet(s"$in/base").select(col("_id")).crossJoin(days)
      .filter(pmod(xxhash64(col("_id"), seed, col("day")), lit(10000)) < ExistingPer10k)
      .select(col("day"), col("_id"), col("_id").as("rk"), lit("existing").as("kind"))
    val fresh = spark.range(NewRows).crossJoin(days).select(col("day"),
      uuidOf(concat_ws(":", seed.cast("string"), lit("new"), col("day"), col("id").cast("string"))).as("_id"))
      .select(col("day"), col("_id"), col("_id").as("rk"), lit("new").as("kind"))
    val nullKeys = spark.range(NullKeyRows).crossJoin(days).select(col("day"),
      lit(null).cast("string").as("_id"), concat(lit("nk:"), col("id").cast("string")).as("rk"),
      lit("null_key").as("kind"))
    val rows = existing.unionByName(fresh).unionByName(nullKeys)
    val payload = SyntheticSource.payloadFields.zipWithIndex.map { case (f, i) =>
      val v = unit(col("rk"), seed, col("day"), lit(i))
      (if (SyntheticSource.schema(f).nullable)
        when(unit(col("rk"), seed, col("day"), lit(100 + i)) < NullFieldFrac, lit(null).cast("double"))
          .otherwise(v)
      else v).as(f)
    }
    rows.select(col("day") +: col("_id") +: payload: _*)
      .repartition(ctx.cpus).write.partitionBy("day").parquet(s"$in/days")
    val counts = rows.groupBy("day", "kind").count().collect()
      .map(r => (r.getInt(0), r.getString(1)) -> r.getLong(2)).toMap
    def n(d: Int, kind: String) = counts.getOrElse((d, kind), 0L)
    expected = (1 to Days).map { d =>
      d -> (n(d, "existing"), n(d, "new"), n(d, "existing") + n(d, "new") + n(d, "null_key"))
    }.toMap
    dayBytes = (1 to Days).map(d => Main.du(day(in, d))._1).sum
  }

  def warmup(ctx: Ctx, in: String): Unit = {
    val target = s"${ctx.work}/warm/target"
    Main.copyTree(s"$in/snapshot", target)
    (1 to WarmDays).foreach(d => BulkUpdateJob.run(ctx.spark, day(in, d), target))
    Main.delete(ctx, s"${ctx.work}/warm")
  }

  override def prepare(ctx: Ctx, in: String, out: String): Unit =
    Main.copyTree(s"$in/snapshot", s"$out/target")

  def pass(ctx: Ctx, in: String, out: String): PassInput = {
    val target = s"$out/target"
    for (d <- 1 to Days) {
      val before = if (ctx.traced) Main.files(out) else Set.empty
      val stats = ctx.op("BulkUpdateJob.run", "jobs") {
        BulkUpdateJob.run(ctx.spark, day(in, d), target)
      }
      val (nExisting, nNew, nRows) = expected(d)
      val want = MergeSink.MergeStats(nExisting, nExisting, nNew)
      ctx.check("bulk_upsert.merge_stats", stats.contains(want),
        s"day $d: got $stats, generated $want")
      stats.foreach { s =>
        ctx.count("update.rows_in", nRows.toDouble)
        ctx.count("update.rows_out", (s.nMatched + s.nUpserted).toDouble)
        ctx.count("sinks.rows_matched", s.nMatched.toDouble)
        ctx.count("sinks.rows_modified", s.nModified.toDouble)
        ctx.count("sinks.rows_upserted", s.nUpserted.toDouble)
      }
      if (ctx.traced) ctx.count("sinks.files_written", (Main.files(out) -- before).size)
    }
    ctx.count("sinks.commits",
      CommitLog.seqs(ctx.fs, new org.apache.hadoop.fs.Path(target)).size)
    PassInput(rows = (1 to Days).map(expected(_)._3).sum, bytes = dayBytes)
  }

  def finalChecks(ctx: Ctx, in: String, out: String): Unit = {
    val spark = ctx.spark
    val fields = SyntheticSource.payloadFields
    val target = spark.read.parquet(s"$out/target")
    val rows = target.count()
    val wantRows = BaseRows + Days * NewRows
    ctx.check("bulk_upsert.row_count", rows == wantRows, s"$rows rows, expected $wantRows")

    // The model: per key and field, the last non-null value over the base
    // (day 0) and the day batches in order; null keys never land.
    val inputs: DataFrame = (0 to Days).map { d =>
      spark.read.schema(SyntheticSource.schema).parquet(if (d == 0) s"$in/base" else day(in, d))
        .withColumn("day", lit(d))
    }.reduce(_ unionByName _).filter(col("_id").isNotNull)
    val sample = pmod(xxhash64(col("_id"), lit(ctx.seed), lit(-1)), lit(1000)) < 5
    val model = inputs.filter(sample).groupBy("_id").agg(
      max(col("day")).as("last_day"),
      fields.map(f => max(when(col(f).isNotNull, struct(col("day"), col(f)))).getField(f).as(f)): _*)
    val got = target.filter(sample).select(col("_id") +: fields.map(f => col(f).as(s"got_$f")): _*)
    val joined = model.join(got, Seq("_id"), "left")
    val mismatched = joined.filter(fields.map(f => !(col(f) <=> col(s"got_$f"))).reduce(_ || _)).count()
    val sampled = model.count()
    ctx.check("bulk_upsert.sample_values", sampled > 0 && mismatched == 0,
      s"$mismatched of $sampled sampled keys differ from the last-written values")
  }

  def state(ctx: Ctx, out: String): (Long, Long) =
    (Main.du(s"$out/target")._1, BaseRows + Days * NewRows)
}
