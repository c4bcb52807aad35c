package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** In-memory trace of one run: spans around the public engine calls the
  * harness makes, plus (while a [[Recorder]] is attached) every Spark job
  * with its call site and its stages' task counters. Nothing is attributed
  * here — the raw timeline is dumped and `metrics.py` maps call sites to
  * layers and computes the per-layer counters.
  *
  * Spans are opened on the harness thread only. The open span's id rides
  * on the SparkContext local properties, so every job submitted under it —
  * from AQE's stage threads or a streaming query's execution thread too,
  * which inherit the local properties — carries the span it nests under.
  * With tracing off `span` runs its body and records nothing. */
final class Trace(sc: SparkContext) {
  import Trace._

  @volatile var enabled = false
  /** Shared by every span of one traced pass. */
  var runId = ""
  private val spans = ArrayBuffer.empty[Span]
  private var stack = List.empty[Span]
  private var nextId = 1
  /** One per traced pass; together they hold every traced job. */
  private val recorders = ArrayBuffer.empty[Recorder]

  def span[T](name: String, layer: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(nextId, name, layer, stack.headOption.map(_.id).getOrElse(0), runId, Clock.nowMs())
      nextId += 1
      spans += s
      stack = s :: stack
      sc.setLocalProperty(SpanProperty, s.id.toString)
      try body
      finally {
        s.endMs = Clock.nowMs()
        stack = stack.tail
        sc.setLocalProperty(SpanProperty, stack.headOption.map(_.id.toString).orNull)
      }
    }

  /** Start recording jobs (and spans). */
  def attach(): Unit = {
    val r = new Recorder
    sc.addSparkListener(r)
    recorders += r
    enabled = true
  }

  /** Stop recording; drains the listener bus so every event is in. */
  def detach(): Unit = {
    enabled = false
    recorders.lastOption.foreach { r =>
      org.apache.spark.graft.ListenerBridge.waitUntilEmpty(sc)
      sc.removeSparkListener(r)
    }
  }

  def json: String = {
    val spanJs = spans.map(_.json).mkString("[", ",", "]")
    val jobJs = recorders.flatMap(_.jobsJson).mkString("[", ",", "]")
    s"""{"spans":$spanJs,"jobs":$jobJs}"""
  }
}

object Trace {
  val SpanProperty = "perfbench.span"

  final case class Span(id: Int, name: String, layer: String, parent: Int, run: String,
                        startMs: Double) {
    var endMs: Double = Double.NaN
    def json: String =
      s"""{"id":$id,"name":${Json.str(name)},"layer":"$layer","parent":$parent,""" +
        s""""run":${Json.str(run)},""" +
        s""""start_ms":${Json.num(startMs)},"end_ms":${Json.num(endMs)}}"""
  }

  /** Task counters of one stage, summed over its tasks. */
  final case class StageCounters(tasks: Long, failedTasks: Long, taskMs: Long, gcMs: Long,
                                 fetchWaitMs: Long, shuffleRead: Long, shuffleWrite: Long,
                                 input: Long, output: Long)

  final class JobRec(val id: Int, val submitMs: Long, val span: Int,
                     val execution: Long, val stageCallSite: String,
                     val sampled: Boolean) {
    @volatile var endMs: Long = -1
  }

  private val streamThreads = new ConcurrentHashMap[String, Thread]()

  /** The current stack of the execution thread of streaming query `id`, in
    * Spark's long call-site form (innermost frame first). */
  def streamThreadStack(id: String): String =
    Option(streamThreads.computeIfAbsent(id, _ =>
      Thread.getAllStackTraces.keySet.asScala.find(t =>
        t.getName.startsWith("stream execution thread") && t.getName.contains(id)).orNull))
      .map(_.getStackTrace.map(e =>
        s"${e.getClassName}.${e.getMethodName}(${e.getFileName}:${e.getLineNumber})").mkString("\n"))
      .getOrElse("")

  /** The listener: jobs, their SQL execution's call site, stage counters. */
  final class Recorder extends SparkListener {
    private val jobs = new ConcurrentHashMap[Int, JobRec]()
    private val stageJob = new ConcurrentHashMap[Int, Int]()
    private val stages = new ConcurrentHashMap[Int, StageCounters]()
    private val failedTasks = new ConcurrentHashMap[Int, java.lang.Long]()
    private val execCallSite = new ConcurrentHashMap[Long, String]()

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => execCallSite.put(s.executionId, s.details)
      case _ => ()
    }

    override def onJobStart(j: SparkListenerJobStart): Unit = {
      val props = Option(j.properties)
      def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
      val span = prop(SpanProperty).map(_.toInt).getOrElse(0)
      val exec = prop("spark.sql.execution.id").map(_.toLong).getOrElse(-1L)
      // a streaming query pins every job's call site to its start() call,
      // so for its jobs the query thread's stack stands in: sampled now, it
      // is still inside (or just past) the action that submitted the job
      val details = prop("sql.streaming.queryId").map(streamThreadStack)
        .getOrElse(j.stageInfos.sortBy(_.stageId).lastOption.map(_.details).getOrElse(""))
      j.stageInfos.foreach(si => stageJob.putIfAbsent(si.stageId, j.jobId))
      jobs.put(j.jobId, new JobRec(j.jobId, j.time, span, exec, details,
        sampled = prop("sql.streaming.queryId").isDefined))
    }

    override def onJobEnd(j: SparkListenerJobEnd): Unit =
      Option(jobs.get(j.jobId)).foreach(_.endMs = j.time)

    override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
      if (t.taskInfo != null && t.taskInfo.failed)
        failedTasks.merge(t.stageId, 1L, (a: java.lang.Long, b: java.lang.Long) => a + b)

    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
      val i = s.stageInfo
      val m = i.taskMetrics
      if (m != null) stages.put(i.stageId, StageCounters(
        tasks = i.numTasks, failedTasks = Option(failedTasks.get(i.stageId)).map(_.longValue).getOrElse(0L),
        taskMs = m.executorRunTime, gcMs = m.jvmGCTime,
        fetchWaitMs = m.shuffleReadMetrics.fetchWaitTime,
        shuffleRead = m.shuffleReadMetrics.totalBytesRead,
        shuffleWrite = m.shuffleWriteMetrics.bytesWritten,
        input = m.inputMetrics.bytesRead, output = m.outputMetrics.bytesWritten))
    }

    def jobsJson: Seq[String] = {
      val byJob = stages.asScala.toSeq.groupBy { case (sid, _) => stageJob.getOrDefault(sid, -1) }
      jobs.values.asScala.toSeq.sortBy(_.id).map { j =>
        val cs = byJob.getOrElse(j.id, Nil).map(_._2)
        def sum(f: StageCounters => Long) = cs.map(f).sum
        // the SQL execution's call site was taken on the submitting thread;
        // a stage's own call site is an AQE or streaming thread's
        val callSite =
          if (j.sampled) j.stageCallSite
          else Option(execCallSite.get(j.execution)).getOrElse(j.stageCallSite)
        s"""{"id":${j.id},"submit_ms":${j.submitMs},"end_ms":${j.endMs},""" +
          s""""span":${j.span},"execution":${j.execution},""" +
          s""""call_site":${Json.str(callSite)},"stages":${cs.size},""" +
          s""""tasks":${sum(_.tasks)},"failed_tasks":${sum(_.failedTasks)},""" +
          s""""task_ms":${sum(_.taskMs)},"gc_ms":${sum(_.gcMs)},"fetch_wait_ms":${sum(_.fetchWaitMs)},""" +
          s""""shuffle_read_bytes":${sum(_.shuffleRead)},"shuffle_write_bytes":${sum(_.shuffleWrite)},""" +
          s""""input_bytes":${sum(_.input)},"output_bytes":${sum(_.output)}}"""
      }
    }
  }
}

/** Epoch milliseconds with sub-millisecond resolution, on the same time
  * base as Spark's listener event times. */
object Clock {
  private val epochMs0 = System.currentTimeMillis()
  private val nano0 = System.nanoTime()
  def nowMs(): Double = epochMs0 + (System.nanoTime() - nano0) / 1e6
}

/** The little JSON the harness writes. */
object Json {
  def str(s: String): String = graft.Jsons.quote(s)
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def obj(fields: (String, String)*): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def arr(xs: Iterable[String]): String = xs.mkString("[", ",", "]")
}
