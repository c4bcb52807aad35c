package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.FileSystem
import org.apache.spark.sql.SparkSession
import graft.GraftSession

/** One timed operation (a job call, a micro-batch, a query). */
final case class Op(pass: Int, startMs: Double, durS: Double, ok: Boolean, group: String = "")

/** One correctness check, run outside the timed region. */
final case class Check(name: String, ok: Boolean, detail: String)

/** What a workload hands the harness about one timed pass. */
final case class PassInput(rows: Long, bytes: Long)

/** Shared state of one run. */
final class Ctx(val spark: SparkSession, val trace: Trace, val seed: Long,
                val cpus: Int, val work: String) {
  val ops = ArrayBuffer.empty[Op]
  val checks = ArrayBuffer.empty[Check]
  /** Workload-specific per-layer counters, summed over traced passes. */
  val counters = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  var pass = 0
  /** Only traced passes feed the per-layer counters. */
  def traced: Boolean = trace.enabled

  /** `v` is evaluated on traced passes only. */
  def count(name: String, v: => Double): Unit =
    if (traced) counters(name) = counters.getOrElse(name, 0.0) + v

  def check(name: String, ok: Boolean, detail: => String): Unit =
    checks += Check(name, ok, if (ok) "" else detail)

  /** Time `body` as one op of the current pass; a throw is a failed op. */
  def op[T](name: String, layer: String)(body: => T): Option[T] = {
    val t0 = Clock.nowMs()
    val r = try Some(trace.span(name, layer)(body)) catch {
      case e: Exception =>
        System.err.println(s"[perfbench] $name failed: $e")
        None
    }
    ops += Op(pass, t0, (Clock.nowMs() - t0) / 1e3, r.isDefined)
    r
  }

  def fs: FileSystem =
    new org.apache.hadoop.fs.Path(work).getFileSystem(spark.sparkContext.hadoopConfiguration)
}

/** A workload: seeded inputs, an untimed warm-up, timed passes, checks. */
trait Workload {
  def name: String
  /** Write every input under `in`. Must be a pure function of the seed. */
  def generate(ctx: Ctx, in: String): Unit
  def warmup(ctx: Ctx, in: String): Unit
  /** Untimed staging of a pass's fresh state under `out`. */
  def prepare(ctx: Ctx, in: String, out: String): Unit = ()
  /** One timed pass over `in`, writing only under `out`; records its ops. */
  def pass(ctx: Ctx, in: String, out: String): PassInput
  /** Checks of the run's final state, outside the timed region. */
  def finalChecks(ctx: Ctx, in: String, out: String): Unit
  /** On-disk bytes of the state the last pass left, and its live rows. */
  def state(ctx: Ctx, out: String): (Long, Long)
}

/** `perfbench.Main --workload W --seed N --seconds S --trace 0|1 --cpus C
  * --work DIR --out FILE`: runs one workload and writes the raw timeline
  * (phases, ops, passes, checks, trace) to FILE for `run.py` to reduce. */
object Main {
  val Workloads: Seq[Workload] = Seq(BulkUpsert, StreamIngest)

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val wl = Workloads.find(_.name == opt("workload")).getOrElse(
      sys.error(s"unknown workload ${opt("workload")}"))
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val cpus = opt("cpus").toInt
    val work = new File(opt("work")).getAbsolutePath
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble

    val t0 = Clock.nowMs()
    val spark = GraftSession.builder(master = s"local[$cpus]", shufflePartitions = cpus)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionReadyMs = Clock.nowMs()
    val ctx = new Ctx(spark, new Trace(spark.sparkContext), seed, cpus, work)

    val g0 = Clock.nowMs()
    val in = s"$work/in"
    wl.generate(ctx, in)
    val genS = (Clock.nowMs() - g0) / 1e3
    val w0 = Clock.nowMs()
    wl.warmup(ctx, in)
    System.gc()
    val warmupS = (Clock.nowMs() - w0) / 1e3

    // Timed passes while the budget lasts (at least one). A traced run
    // alternates untraced and traced passes, at least three (untraced,
    // traced, untraced), so its tracing overhead is measured on the same
    // inputs against an untraced pass at least as warm.
    val passes = ArrayBuffer.empty[String]
    val timedStartMs = Clock.nowMs()
    val deadline = timedStartMs + seconds * 1e3
    var codegenTraced = (0L, 0L)
    var lastOut = ""
    var p = 0
    def more: Boolean = p == 0 || (traced && p <= 2) || Clock.nowMs() < deadline
    while (more) {
      val tracedPass = traced && p % 2 == 1
      val out = s"$work/pass_$p"
      ctx.pass = p
      wl.prepare(ctx, in, out)
      val cg = codegen()
      if (tracedPass) {
        ctx.trace.runId = s"${wl.name}-seed$seed-pass$p"
        ctx.trace.attach()
      }
      val io0 = bytesWritten()
      val s0 = Clock.nowMs()
      val input = wl.pass(ctx, in, out)
      val s1 = Clock.nowMs()
      val written = bytesWritten() - io0
      if (tracedPass) {
        ctx.trace.detach()
        val cg1 = codegen()
        codegenTraced = (codegenTraced._1 + cg1._1 - cg._1, codegenTraced._2 + cg1._2 - cg._2)
      }
      passes += Json.obj("pass" -> p.toString, "traced" -> tracedPass.toString,
        "start_ms" -> Json.num(s0), "end_ms" -> Json.num(s1),
        "rows" -> input.rows.toString, "input_bytes" -> input.bytes.toString,
        "bytes_written" -> written.toString)
      if (lastOut.nonEmpty) delete(ctx, lastOut)
      lastOut = out
      p += 1
    }
    val timedEndMs = Clock.nowMs()
    val heap = retainedHeap()

    wl.finalChecks(ctx, in, lastOut)
    val (stateBytes, liveRows) = wl.state(ctx, lastOut)
    val checksEndMs = Clock.nowMs()

    val json = Json.obj(
      "workload" -> Json.str(wl.name), "seed" -> seed.toString, "cpus" -> cpus.toString,
      "jvm_start_ms" -> Json.num(jvmStartMs), "session_start_ms" -> Json.num(t0),
      "session_ready_ms" -> Json.num(sessionReadyMs),
      "generation_s" -> Json.num(genS), "warmup_s" -> Json.num(warmupS),
      "timed_start_ms" -> Json.num(timedStartMs), "timed_end_ms" -> Json.num(timedEndMs),
      "checks_end_ms" -> Json.num(checksEndMs),
      "passes" -> Json.arr(passes),
      "ops" -> Json.arr(ctx.ops.map(o => Json.obj("pass" -> o.pass.toString,
        "start_ms" -> Json.num(o.startMs), "dur_s" -> Json.num(o.durS), "ok" -> o.ok.toString,
        "group" -> Json.str(o.group)))),
      "checks" -> Json.arr(ctx.checks.map(c => Json.obj("name" -> Json.str(c.name),
        "ok" -> c.ok.toString, "detail" -> Json.str(c.detail)))),
      "state_bytes" -> stateBytes.toString, "live_rows" -> liveRows.toString,
      "retained_heap_bytes" -> heap.toString,
      "codegen" -> Json.obj(
        "traced_compiles" -> codegenTraced._1.toString,
        "traced_compile_ns" -> codegenTraced._2.toString),
      "counters" -> Json.obj(ctx.counters.toSeq.map { case (k, v) => k -> Json.num(v) }: _*),
      "trace" -> ctx.trace.json)
    Files.writeString(Paths.get(opt("out")), json + "\n")
    spark.stop()
  }

  /** Heap in use after full collections, once Spark's cleaner has had the
    * chance to drop what the first collection freed. */
  private def retainedHeap(): Long = {
    System.gc()
    Thread.sleep(300)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
  }

  /** (compiles, compile nanoseconds) of Spark's whole-stage codegen so far. */
  private def codegen(): (Long, Long) = (
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime)

  /** Bytes written to local storage through Hadoop's file system (data
    * files, commit logs, streaming checkpoints), all threads. */
  @annotation.nowarn("cat=deprecation")
  private def bytesWritten(): Long =
    FileSystem.getAllStatistics.asScala.filter(_.getScheme == "file").map(_.getBytesWritten).sum

  def delete(ctx: Ctx, dir: String): Unit =
    ctx.fs.delete(new org.apache.hadoop.fs.Path(dir), true)

  /** Total bytes and file count under `dir` (0 when absent). */
  def du(dir: String): (Long, Long) = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) (0L, 0L)
    else {
      val s = Files.walk(root)
      try {
        val files = s.iterator().asScala.filter(Files.isRegularFile(_)).toSeq
        (files.map(Files.size(_)).sum, files.size.toLong)
      } finally s.close()
    }
  }

  /** Paths of the regular files under `dir`. */
  def files(dir: String): Set[Path] = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) Set.empty
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).toSet finally s.close()
    }
  }

  /** Copy a directory tree (untimed input staging). */
  def copyTree(from: String, to: String): Unit = {
    val src = Paths.get(from)
    val dst = Paths.get(to)
    val s = Files.walk(src)
    try s.iterator().asScala.foreach { p =>
      val t = dst.resolve(src.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(t) else Files.copy(p, t)
    } finally s.close()
  }
}
