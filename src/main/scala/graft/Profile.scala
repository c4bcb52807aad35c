package graft

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

/** Measurement-only harness (optimization guide §1): runs named queries
  * under a SparkListener and reports where the time goes — job count,
  * task count, summed task time vs wall-clock (parallelism efficiency),
  * shuffle bytes, GC — plus optionally dumps `.explain("formatted")` of
  * the returned frame to plans/<tag>/<query>_<suffix>.txt.
  *
  * Usage: runMain graft.Profile q68_incr_neardup[,q72_...] [explainDir]
  * Env: SPARK_GRAFT_SF_DIR / SPARK_GRAFT_CPUS as in Bench. Never part of
  * the driver contract; it changes no query result.
  */
object Profile {
  private[graft] final class Agg extends SparkListener {
    // per-callsite job histogram: which ACTIONS a harness runs and how
    // often — the finding of guide §1 profiling was that ingest-harness
    // wall time is (job count) × (fixed per-job cost), so the fix target
    // is the specific call sites that submit the most jobs
    val byCallsite =
      new java.util.concurrent.ConcurrentHashMap[String, AtomicInteger]()
    val jobs = new AtomicInteger(0)
    val stages = new AtomicInteger(0)
    val tasks = new AtomicInteger(0)
    val taskTimeMs = new AtomicLong(0)
    val gcMs = new AtomicLong(0)
    val shufReadB = new AtomicLong(0)
    val shufWriteB = new AtomicLong(0)
    val inputB = new AtomicLong(0)
    val fetchWaitMs = new AtomicLong(0)
    val deserMs = new AtomicLong(0)
    override def onJobStart(j: SparkListenerJobStart): Unit = {
      jobs.incrementAndGet()
      // the result stage's name carries the action's callsite (e.g.
      // "localCheckpoint at Dedup.scala:826"); job properties lose it
      // for AQE-submitted stage jobs
      val cs = j.stageInfos.lastOption.map(_.name.takeWhile(_ != '+').trim)
        .getOrElse("unknown")
      byCallsite.computeIfAbsent(cs, _ => new AtomicInteger(0))
        .incrementAndGet()
      for (p <- Option(j.properties);
           id <- Option(p.getProperty("spark.sql.execution.id"));
           si <- j.stageInfos)
        stageExec.put(si.stageId, id.toLong)
    }
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
      stages.incrementAndGet()
    // SQL-execution-level attribution: AQE submits every shuffle-stage
    // job from an internal future (callsite "$anonfun$withThreadLocal
    // Captured"), so job/stage callsites lose the action; the SQL
    // execution's own description keeps it.
    val execDesc =
      new java.util.concurrent.ConcurrentHashMap[Long, String]()
    val stageExec =
      new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    override def onOtherEvent(e: org.apache.spark.scheduler.SparkListenerEvent): Unit =
      e match {
        case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
          execDesc.put(s.executionId, s.description.takeWhile(_ != '\n').trim)
        case _ => ()
      }
    val stageNames =
      new java.util.concurrent.ConcurrentHashMap[Int, String]()
    val byStageName =
      new java.util.concurrent.ConcurrentHashMap[String, (AtomicInteger, AtomicLong)]()
    val maxTask =
      new java.util.concurrent.ConcurrentHashMap[String, AtomicLong]()
    override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit =
      stageNames.put(s.stageInfo.stageId, s.stageInfo.name.takeWhile(_ != '+').trim)
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      val sn = Option(stageExec.get(t.stageId))
        .flatMap(id => Option(execDesc.get(id)))
        .getOrElse("?") + " / " + stageNames.getOrDefault(t.stageId, "?")
      val slot = byStageName.computeIfAbsent(sn,
        _ => (new AtomicInteger(0), new AtomicLong(0)))
      slot._1.incrementAndGet()
      if (t.taskMetrics != null) {
        slot._2.addAndGet(t.taskMetrics.executorRunTime)
        maxTask.computeIfAbsent(sn, _ => new AtomicLong(0))
          .accumulateAndGet(t.taskMetrics.executorRunTime, Math.max)
      }
      val m = t.taskMetrics
      if (m != null) {
        taskTimeMs.addAndGet(m.executorRunTime)
        gcMs.addAndGet(m.jvmGCTime)
        deserMs.addAndGet(m.executorDeserializeTime)
        if (m.shuffleReadMetrics != null) {
          shufReadB.addAndGet(m.shuffleReadMetrics.totalBytesRead)
          fetchWaitMs.addAndGet(m.shuffleReadMetrics.fetchWaitTime)
        }
        if (m.shuffleWriteMetrics != null)
          shufWriteB.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        if (m.inputMetrics != null) inputB.addAndGet(m.inputMetrics.bytesRead)
      }
    }
    def json(name: String, wallSec: Double): String =
      s"""{"query":${Jsons.quote(name)},"wall_sec":${f"$wallSec%.3f"},"jobs":${jobs.get},""" +
        s""""stages":${stages.get},"tasks":${tasks.get},""" +
        s""""task_time_sec":${f"${taskTimeMs.get / 1e3}%.3f"},""" +
        s""""gc_sec":${f"${gcMs.get / 1e3}%.3f"},""" +
        s""""deser_sec":${f"${deserMs.get / 1e3}%.3f"},""" +
        s""""fetch_wait_sec":${f"${fetchWaitMs.get / 1e3}%.3f"},""" +
        s""""shuffle_read_mb":${f"${shufReadB.get / 1e6}%.2f"},""" +
        s""""shuffle_write_mb":${f"${shufWriteB.get / 1e6}%.2f"},""" +
        s""""input_mb":${f"${inputB.get / 1e6}%.2f"}}"""
  }

  /** One `GRAFT_PROFILE_CALLSITES` line per action callsite. */
  private[graft] def callsiteJson(callsite: String, nJobs: Int): String =
    s"""{"callsite":${Jsons.quote(callsite)},"n_jobs":$nJobs}"""

  /** One `GRAFT_PROFILE_CALLSITES` line per "SQL description / stage
    * name" pair; both carry user text (SQL literals, paths), hence quoted. */
  private[graft] def stageJson(stage: String, nTasks: Int, taskMs: Long,
                               maxTaskMs: Long): String =
    s"""{"stage":${Jsons.quote(stage)},"n_tasks":$nTasks,""" +
      s""""task_sec":${f"${taskMs / 1e3}%.2f"},""" +
      s""""max_task_sec":${f"${maxTaskMs / 1e3}%.2f"}}"""

  def main(args: Array[String]): Unit = {
    val cfg = GraftConfig.fromEnv()
    val names = args.headOption.map(_.split(",").toSeq)
      .getOrElse(Seq("q68_incr_neardup"))
    val explainDir = args.lift(1)
    val spark = GraftSession
      .builder(master = s"local[${cfg.cpus}]", shufflePartitions = cfg.cpus)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // warm the table cache like Bench does so footer reads don't skew q1
    Tables.names.foreach { t =>
      try Tables.load(spark, cfg.sfDir, t).write.format("noop").mode("overwrite").save()
      catch { case _: Throwable => () }
    }
    names.foreach { name =>
      SparkEntry.queries.get(name) match {
        case None => System.err.println(s"[profile] unknown query $name")
        case Some(fn) =>
          // one discarded warmup rep: JIT/codegen out of the measurement
          try fn(spark, cfg.sfDir).write.format("noop").mode("overwrite").save()
          catch { case e: Throwable =>
            System.err.println(s"[profile] $name warmup failed: ${e.getMessage}") }
          spark.catalog.clearCache()
          System.gc()
          val agg = new Agg
          // Janino compile pressure: a fresh codegen unit blocks every
          // task of its first stage behind a ~100-200 ms compile; plans
          // that inline a per-run literal (a commit timestamp) recompile
          // on every execution
          val cgHist = org.apache.spark.metrics.source.CodegenMetrics
            .METRIC_COMPILATION_TIME
          val cg0 = cgHist.getCount
          spark.sparkContext.addSparkListener(agg)
          // under callsite attribution, leave the description unset so
          // each SQL execution keeps its own action callsite
          if (!sys.env.contains("GRAFT_PROFILE_CALLSITES"))
            spark.sparkContext.setJobDescription(s"profile:$name")
          val t0 = System.nanoTime()
          val df =
            try { val d = fn(spark, cfg.sfDir)
              d.write.format("noop").mode("overwrite").save(); Some(d) }
            catch { case e: Throwable =>
              System.err.println(s"[profile] $name failed: ${e.getMessage}"); None }
          val wall = (System.nanoTime() - t0) / 1e9
          spark.sparkContext.setJobDescription(null)
          // listener bus is async; drain before reading counters
          org.apache.spark.graft.ListenerBridge.waitUntilEmpty(spark.sparkContext)
          spark.sparkContext.removeSparkListener(agg)
          println(agg.json(name, wall))
          println(s"""{"codegen_compiles":${cgHist.getCount - cg0},""" +
            s""""codegen_mean_ms":${f"${cgHist.getSnapshot.getMean}%.1f"}}""")
          if (sys.env.contains("GRAFT_PROFILE_CALLSITES")) {
            import scala.jdk.CollectionConverters._
            agg.byCallsite.asScala.toSeq
              .sortBy { case (_, n) => -n.get }
              .foreach { case (cs, n) => println(callsiteJson(cs, n.get)) }
            agg.byStageName.asScala.toSeq
              .sortBy { case (_, (_, ms)) => -ms.get }
              .take(20)
              .foreach { case (sn, (nt, ms)) =>
                val mx = Option(agg.maxTask.get(sn)).map(_.get).getOrElse(0L)
                println(stageJson(sn, nt.get, ms.get, mx)) }
          }
          for (dir <- explainDir; d <- df) {
            Files.createDirectories(Paths.get(dir))
            Files.writeString(Paths.get(dir, s"$name.txt"),
              d.queryExecution.explainString(
                org.apache.spark.sql.execution.FormattedMode))
          }
          spark.catalog.clearCache()
          System.gc()
      }
    }
    spark.stop()
  }
}
