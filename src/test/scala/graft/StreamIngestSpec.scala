package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import graft.operators.Skew
import graft.sinks.{CommitLog, LedgeredState}
import graft.streaming.StreamIngest

/** The shared stream driver: one micro-batch per landed file, replayed
  * batches absorbed by a ledgered fold, and an event line that stays JSON
  * whatever the stage label holds. */
class StreamIngestSpec extends SparkSpec {

  private val keySchema = StructType(Seq(StructField("k", LongType)))

  /** Land `frames` in `$root/arrivals` as one parquet file each. */
  private def land(fs: FileSystem, root: String, frames: Seq[DataFrame]): Unit = {
    fs.mkdirs(new Path(s"$root/arrivals"))
    frames.zipWithIndex.foreach { case (d, i) =>
      d.coalesce(1).write.parquet(s"$root/stage_$i")
      val part = fs.globStatus(new Path(s"$root/stage_$i/part-*.parquet"))(0).getPath
      fs.rename(part, new Path(s"$root/arrivals/f_$i.parquet"))
    }
  }

  private def withDir(body: (FileSystem, String) => Unit): Unit = {
    val dir = java.nio.file.Files.createTempDirectory("graft_stream_ingest_").toString
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    try body(fs, dir) finally fs.delete(new Path(dir), true)
  }

  test("one micro-batch per landed file") {
    withDir { (fs, dir) =>
      val sizes = Seq(3L, 5L, 2L)
      land(fs, dir, sizes.scanLeft(0L)(_ + _).zip(sizes).map {
        case (from, n) => spark.range(from, from + n).toDF("k") })
      val seen = new ConcurrentLinkedQueue[(Long, Long)]
      StreamIngest.drain(t => StreamIngest.start(
          StreamIngest.files(spark, keySchema, s"$dir/arrivals"),
          s"$dir/ckpt", "spec", t) { b =>
        seen.add(b.id -> b.rows.count())
        Nil
      })
      val got = seen.asScala.toSeq.sortBy(_._1)
      assert(got.map(_._1) == Seq(0L, 1L, 2L), s"batches $got")
      // files are picked up in landing order, so batch i is file i
      assert(got.map(_._2) == sizes, s"batch sizes $got")
    }
  }

  test("a replayed batch is a no-op for a ledgered ingest") {
    withDir { (fs, dir) =>
      val src = s"$dir/arrivals"
      val ckpt = s"$dir/ckpt"
      val state = s"$dir/state"
      land(fs, dir, Seq(spark.range(0, 6).toDF("k"),
        spark.range(3, 9).toDF("k")))
      val applied = new ConcurrentLinkedQueue[(Long, Boolean)]
      def run(): Unit = StreamIngest.drain(t => StreamIngest.start(
          StreamIngest.files(spark, keySchema, src), ckpt, "spec", t) { b =>
        val a = Skew.skewIngest(spark, state, b.rows, "k", b.key)
        applied.add(b.id -> a)
        Seq("applied" -> a)
      })
      def counts(): Set[(Long, Long)] =
        LedgeredState.readPart(spark, state, "key_counts").get
          .select(col("k"), col("cnt")).collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toSet
      run()
      assert(applied.asScala.toSeq == Seq(0L -> true, 1L -> true))
      val before = counts()
      val commits = CommitLog.seqs(fs, new Path(state))
      // forget that batch 1 finished: a restart on the same checkpoint
      // re-runs it under the same batchId, as after a crash between the
      // fold's commit and the stream's
      assert(fs.delete(new Path(s"$ckpt/commits/1"), false))
      run()
      assert(applied.asScala.toSeq == Seq(0L -> true, 1L -> true, 1L -> false),
        s"the restart must replay batch 1 once: $applied")
      assert(counts() == before)
      assert(before == ((0L until 3L).map(_ -> 1L) ++ (3L until 6L).map(_ -> 2L) ++
        (6L until 9L).map(_ -> 1L)).toSet)
      assert(CommitLog.seqs(fs, new Path(state)) == commits,
        "a replayed batch must not commit state or ledger")
      Seq("batch_0", "batch_1").foreach(k =>
        assert(LedgeredState.absorbed(spark, state, k), k))
    }
  }

  test("the event line is JSON when the stage label holds a quote and a backslash") {
    val stage = "ingest \"day\" C:\\landing\n"
    val line = StreamIngest.event(stage, 7L,
      Seq("applied" -> true, "n_upserted" -> 12L))
    val node = new ObjectMapper().readTree(line)
    assert(node.get("stage").asText == stage)
    assert(node.get("batch").asLong == 7L)
    assert(node.get("applied").asBoolean)
    assert(node.get("n_upserted").asLong == 12L)
    assert(node.size == 4, line)
  }
}
