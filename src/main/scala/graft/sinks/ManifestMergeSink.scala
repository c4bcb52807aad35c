package graft.sinks

import java.util.UUID

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** MANIFEST-POINTER merge snapshot — the fifth physical merge layout,
  * and the one that survives rename-less object stores and concurrent
  * writers.
  *
  * [[MergeSink.mergeIntoPartitioned]] bounds per-merge IO to the
  * touched hash buckets, but its publish step is N per-bucket directory
  * renames: atomic per bucket, NOT across buckets (a crash mid-swap
  * leaves a mixed snapshot), meaningless on S3 (no atomic rename), and
  * last-writer-wins under concurrency. Here the same bounded data plane
  * publishes through the [[CommitLog]] instead:
  *
  * Layout — immutable objects only, zero renames:
  *  - `$target/g-<tok>/pb=<b>/` immutable parquet dirs: each merge
  *    writes its touched buckets as ONE new generation dir (its staging
  *    dir IS its final home — nothing moves);
  *  - `$target/_commits/<seq>` commit files, each carrying the full
  *    snapshot state: payload schema (authoritative — the
  *    [[MergeSink.readPartitioned]] manifest lesson), the bucket count,
  *    and the bucket → data-dir mapping.
  *
  * A merge: read head; read ONLY the touched buckets' dirs; merge
  * ([[MergeSink.mergePlanObserved]] — same semantics, same counts, same
  * schema evolution as every other layout); write the results as a new
  * generation dir; publish ONE commit file repointing the touched
  * buckets. Untouched buckets are never read, written, moved, or even
  * listed — their dirs stay byte-identical and their mapping rows carry
  * forward.
  *
  * Concurrency (the [[CommitLog]] CAS): two merges race on the commit
  * slot; exactly one wins. The loser inspects the winner's commit —
  * if the winner touched DISJOINT buckets, the loser's merge result is
  * still exactly right (it derived only from its own touched buckets),
  * so it re-publishes against the new head with a metadata-only retry
  * (schema = union — both sides' evolutions land); if the bucket sets
  * OVERLAP, its input changed under it, so it discards its generation
  * dir and re-merges from the new head. Either way: no lost updates,
  * no silent overwrite — the contention spec interleaves both cases.
  *
  * Crash windows: a crash before the commit-file create leaves an
  * orphan generation dir (invisible — state stays at the previous
  * commit; the re-run converges; [[vacuumManifested]] sweeps the
  * residue); a crash mid-write of the commit file leaves residue
  * readers skip and the next writer reclaims ([[CommitLog]]). There is
  * NO window in which readers see a mixed snapshot — the commit file
  * flips every touched bucket at once.
  *
  * Scale: per-merge IO ∝ touched-bucket bytes (the
  * mergeIntoPartitioned argument), publish is one tiny object write
  * regardless of how many buckets changed, reads are schema-pinned
  * pruned parquet scans of exactly the mapped dirs. Old generations'
  * only cost is unreclaimed space until vacuum. */
object ManifestMergeSink {

  /** Full snapshot state as carried by every commit file. `txns` is the
    * per-pipeline high-water mark of applied transaction ids (streaming
    * batch ids) — the idempotence ledger for at-least-once delivery
    * ([[mergeIntoManifested]]'s `txn`): it rides the SAME commit file as
    * the bucket mapping, so "merge applied" and "batch recorded" can
    * never diverge across a crash (the [[LedgeredState]] argument,
    * restated for the keyed-merge family). */
  final case class ManifestState(schema: StructType, nBuckets: Int,
                                 mapping: Map[Long, String],
                                 txns: Map[String, Long] = Map.empty)

  private val Header = "graft-merge-manifest-v1"
  private val End = "END"

  private def fsOf(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def tok(): String = UUID.randomUUID().toString.take(8)

  /** The commit file is tab-delimited lines: an id carrying a tab or
    * newline would render an invalid commit AFTER the data write,
    * surfacing as inexplicable crash residue instead of a caller
    * error — refuse it up front, before any byte lands. */
  private[sinks] def requireLedgerSafe(id: String, what: String): Unit =
    require(id.nonEmpty &&
      !id.contains('\t') && !id.contains('\n') && !id.contains('\r'),
      s"$what '$id' must be non-empty and contain no tabs or line " +
        "breaks (it is rendered into the tab-delimited commit file — " +
        "an empty or tabbed id renders a line isValid rejects, failing " +
        "only AFTER the generation dir was written)")

  private[sinks] def isValid(content: String): Boolean = {
    val ls = content.linesIterator.toSeq
    ls.headOption.contains(Header) && ls.lastOption.contains(End) && {
      val body = ls.drop(1).dropRight(1)
      body.count(_.startsWith("S\t")) == 1 &&
        body.count(_.startsWith("N\t")) == 1 &&
        body.forall { l =>
          l.split('\t') match {
            case Array("S", j) => j.nonEmpty
            case Array("N", n) => n.toIntOption.exists(_ >= 1)
            case Array("B", b, d) => b.toLongOption.isDefined && d.nonEmpty
            case Array("T", id, b) => id.nonEmpty && b.toLongOption.isDefined
            case _ => false
          }
        }
    }
  }

  private def render(st: ManifestState): String =
    (Seq(Header, s"S\t${st.schema.json}", s"N\t${st.nBuckets}") ++
      st.mapping.toSeq.sortBy(_._1).map { case (b, d) => s"B\t$b\t$d" } ++
      st.txns.toSeq.sorted.map { case (id, b) => s"T\t$id\t$b" } :+
      End).mkString("\n")

  private def parse(content: String): ManifestState = {
    val body = content.linesIterator.toSeq.drop(1).dropRight(1)
    val schema = body.collectFirst { case l if l.startsWith("S\t") =>
      org.apache.spark.sql.types.DataType.fromJson(l.drop(2))
        .asInstanceOf[StructType]
    }.get
    val n = body.collectFirst { case l if l.startsWith("N\t") =>
      l.drop(2).toInt
    }.get
    val mapping = body.collect { case l if l.startsWith("B\t") =>
      val Array(_, b, d) = l.split('\t'); b.toLong -> d
    }.toMap
    // commits written before the txn ledger existed carry no T lines —
    // they parse with an empty ledger (forward-compatible)
    val txns = body.collect { case l if l.startsWith("T\t") =>
      val Array(_, id, b) = l.split('\t'); id -> b.toLong
    }.toMap
    ManifestState(schema, n, mapping, txns)
  }

  /** The committed head: (commit seq, state); None before first merge. */
  def headState(spark: SparkSession,
                target: String): Option[(Long, ManifestState)] = {
    val root = new Path(target)
    CommitLog.head(fsOf(spark, root), root, isValid)
      .map { case (seq, c) => (seq, parse(c)) }
  }

  /** Every committed snapshot version still present in the log, oldest
    * first — the time-travel index. Bounded by the vacuum retention
    * window ([[vacuumManifested]]'s `retainCommits`): a swept version is
    * gone, loudly, not silently re-pointed. */
  def commitSeqs(spark: SparkSession, target: String): Seq[Long] = {
    val root = new Path(target)
    val fs = fsOf(spark, root)
    CommitLog.seqs(fs, root)
      .filter(s => CommitLog.read(fs, root, s).exists(isValid)).sorted
  }

  /** The snapshot state at an EXPLICIT commit seq — None if that version
    * was never committed or has been vacuumed past. */
  def stateAt(spark: SparkSession, target: String,
              seq: Long): Option[ManifestState] = {
    val root = new Path(target)
    CommitLog.read(fsOf(spark, root), root, seq).filter(isValid).map(parse)
  }

  /** TIME TRAVEL: read the whole snapshot as of commit `seq`, under the
    * schema that commit carried. Works because generations are immutable
    * and [[vacuumManifested]] retains the dirs of the last
    * `retainCommits` heads — an as-of read inside the retention window
    * sees exactly the bytes that head published; outside it, this fails
    * loudly with the versions that remain. Scale: identical to
    * [[readManifested]] — a schema-pinned pruned scan of the mapped
    * dirs; no reconstruction, no log replay. */
  def readManifestedAt(spark: SparkSession, target: String,
                       seq: Long): DataFrame =
    stateAt(spark, target, seq) match {
      case Some(st) => readDirs(spark, target, st,
        st.mapping.keys.toSeq.sorted)
      case None => throw new IllegalArgumentException(
        s"no committed snapshot version $seq at $target (retained: " +
          s"${commitSeqs(spark, target).mkString(", ")})")
    }

  /** CHANGE DATA FEED between two committed versions: every row
    * inserted, updated, or deleted from `fromSeq` to `toSeq`, classified
    * in a `_change` column, with `fields` carrying the TO-side values
    * (FROM-side for deletes). A row only counts as an update when one of
    * the named `fields` actually changed value (null-safe comparison) —
    * bookkeeping columns the caller leaves out (`updatedAt`) don't
    * surface rewrite-identical rows.
    *
    * Scale — the manifest makes the diff PROPORTIONAL TO CHANGE, not to
    * table size: a bucket whose mapping pointer is identical in both
    * commits is byte-identical (generation dirs are immutable), so only
    * REPOINTED buckets are read — from both versions — and joined
    * key-to-key. IO and shuffle ∝ touched-bucket bytes across the span;
    * untouched buckets are never listed. Both sides read under the TO
    * schema (monotone by construction — merge unions, purge preserves),
    * so evolved columns read null on pre-evolution files exactly as a
    * live read would. A span crossing a [[rebucketManifested]] stays
    * CHANGE-BOUNDED too: bucket ids are not comparable across counts,
    * so the diff decomposes at the flip — per-commit pointer diffs on
    * each constant-count stretch yield a CANDIDATE key set (the flip
    * commit itself contributes none: a rebucket is content-neutral by
    * construction, the only publisher that changes the count), and the
    * endpoint comparison reads only the buckets those candidates hash
    * to on each side. IO ∝ touched bytes across the span, never table
    * size; output is identical to a full-snapshot diff (any key absent
    * from every constant-count pointer diff sat in immutable dirs on
    * both endpoints of every stretch, so its value is unchanged). Only
    * when an INTERMEDIATE commit was vacuumed does the diff fall back
    * to comparing full snapshots — correct, at the honest cost. */
  def changesBetween(spark: SparkSession, target: String,
                     fromSeq: Long, toSeq: Long, key: String,
                     fields: Seq[String]): DataFrame = {
    require(fromSeq < toSeq, s"fromSeq=$fromSeq must precede toSeq=$toSeq")
    def need(s: Long) = stateAt(spark, target, s).getOrElse(
      throw new IllegalArgumentException(
        s"no committed snapshot version $s at $target (retained: " +
          s"${commitSeqs(spark, target).mkString(", ")})"))
    val sf = need(fromSeq)
    val st = need(toSeq)
    fields.foreach(f => require(st.schema.fieldNames.contains(f),
      s"field $f is not in the version-$toSeq schema"))
    val sides: Option[(DataFrame, DataFrame)] =
      if (sf.nBuckets == st.nBuckets) {
        val changed = (sf.mapping.keySet ++ st.mapping.keySet)
          .filter(b => sf.mapping.get(b) != st.mapping.get(b)).toSeq.sorted
        // FROM-side dirs under the TO schema: missing (later-evolved)
        // columns read null, matching what a live reader at toSeq sees
        Some((readDirs(spark, target, sf.copy(schema = st.schema), changed),
              readDirs(spark, target, st, changed)))
      } else rebucketSpanSides(spark, target, fromSeq, toSeq, sf, st, key,
        fields)
    val (oRaw, nRaw) = sides.getOrElse(
      // full-snapshot fallback: an intermediate commit was vacuumed
      (readDirs(spark, target, sf.copy(schema = st.schema),
         sf.mapping.keys.toSeq.sorted),
       readDirs(spark, target, st, st.mapping.keys.toSeq.sorted)))
    val o = oRaw.select(col(key) +: fields.map(col): _*).alias("o")
    val nw = nRaw.select(col(key) +: fields.map(col): _*).alias("n")
    val differs = fields.map(f => !(col(s"o.$f") <=> col(s"n.$f")))
      .reduceOption(_ || _).getOrElse(lit(false))
    o.join(nw, col(s"o.$key") === col(s"n.$key"), "full_outer")
      .withColumn("_change",
        when(col(s"o.$key").isNull, lit("insert"))
          .when(col(s"n.$key").isNull, lit("delete"))
          .when(differs, lit("update")))
      .filter(col("_change").isNotNull)
      .select(
        coalesce(col(s"n.$key"), col(s"o.$key")).as(key) +:
        fields.map(f =>
          when(col(s"n.$key").isNull, col(s"o.$f"))
            .otherwise(col(s"n.$f")).as(f)) :+
        col("_change"): _*)
  }

  /** The bounded sides for a rebucket-crossing change span (the
    * [[changesBetween]] doc): walk every retained commit in
    * `[fromSeq, toSeq]`, pointer-diff each ADJACENT same-count pair
    * (per-commit changed buckets — the tightest granularity),
    * value-diff those buckets across the pair to get the keys that
    * actually MOVED (the candidate set), then return each endpoint
    * restricted to the buckets the candidates hash to under that
    * endpoint's count, semi-joined to the candidates. None when the walk cannot run — a gap in the
    * retained seqs (vacuumed intermediate) — and the caller pays the
    * full-snapshot diff instead. Commits where the count FLIPS are
    * rebuckets (the only count-changing publisher) and content-neutral
    * by construction: they contribute no candidates. */
  private def rebucketSpanSides(spark: SparkSession, target: String,
                                fromSeq: Long, toSeq: Long,
                                sf: ManifestState, st: ManifestState,
                                key: String, fields: Seq[String]
                               ): Option[(DataFrame, DataFrame)] = {
    val seqsIn = commitSeqs(spark, target)
      .filter(s => s >= fromSeq && s <= toSeq).sorted
    val gapless = seqsIn.nonEmpty && seqsIn.head == fromSeq &&
      seqsIn.last == toSeq &&
      seqsIn.iterator.zip(seqsIn.iterator.drop(1)).forall(p => p._2 - p._1 == 1)
    if (!gapless) return None
    val states = seqsIn.map(s => stateAt(spark, target, s))
    if (states.exists(_.isEmpty)) return None
    val sts = states.map(_.get)
    val candParts = sts.zip(sts.tail).flatMap { case (a, b) =>
      if (a.nBuckets != b.nBuckets) Seq.empty // rebucket: content-neutral
      else {
        val ch = (a.mapping.keySet ++ b.mapping.keySet)
          .filter(k => a.mapping.get(k) != b.mapping.get(k)).toSeq.sorted
        if (ch.isEmpty) Seq.empty
        else {
          // KEY-granular, not bucket-granular: a repointed bucket holds
          // mostly-unchanged rows (one merge rewrites the whole
          // bucket), and bucket-level candidates would re-hash to
          // nearly every endpoint bucket — diff the pair's values and
          // keep only keys that actually moved
          val av = readDirs(spark, target, a.copy(schema = st.schema), ch)
            .select(col(key) +: fields.map(col): _*).alias("a")
          val bv = readDirs(spark, target, b.copy(schema = st.schema), ch)
            .select(col(key) +: fields.map(col): _*).alias("b")
          val differs = fields.map(f => !(col(s"a.$f") <=> col(s"b.$f")))
            .reduceOption(_ || _).getOrElse(lit(false))
          Seq(av.join(bv, col(s"a.$key") === col(s"b.$key"), "full_outer")
            .filter(col(s"a.$key").isNull || col(s"b.$key").isNull || differs)
            .select(coalesce(col(s"b.$key"), col(s"a.$key")).as(key)))
        }
      }
    }
    if (candParts.isEmpty)
      // only the rebucket(s) happened in the span: zero value changes
      return Some((readDirs(spark, target, sf.copy(schema = st.schema),
        Seq.empty), readDirs(spark, target, st, Seq.empty)))
    // candidates are span-change-bounded; the pb probes collect at most
    // nBuckets distinct longs each — driver-safe
    val cand = candParts.reduce(_ union _).distinct().localCheckpoint(true)
    def bucketsOf(n: Int): Seq[Long] =
      graft.Sparks.distinctLongs(cand, pb(col(key), n))
    val o = readDirs(spark, target, sf.copy(schema = st.schema),
        bucketsOf(sf.nBuckets))
      .join(cand, Seq(key), "left_semi")
    val nw = readDirs(spark, target, st, bucketsOf(st.nBuckets))
      .join(cand, Seq(key), "left_semi")
    Some((o, nw))
  }

  private def pb(c: Column, nBuckets: Int): Column =
    pmod(xxhash64(c), lit(nBuckets.toLong))

  private def readDirs(spark: SparkSession, target: String,
                       st: ManifestState, buckets: Seq[Long]): DataFrame = {
    val dirs = buckets.flatMap(st.mapping.get)
      .map(d => new Path(new Path(target), d).toString)
    if (dirs.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], st.schema)
    else spark.read.schema(st.schema).parquet(dirs: _*)
  }

  /** Read the whole snapshot with its committed schema (files written
    * before an evolution read null for the evolved columns — parquet's
    * missing-column semantics, pinned by the schema the commit carries). */
  def readManifested(spark: SparkSession, target: String): DataFrame =
    headState(spark, target) match {
      case Some((_, st)) => readDirs(spark, target, st,
        st.mapping.keys.toSeq.sorted)
      case None => throw new IllegalArgumentException(
        s"no committed manifest snapshot at $target")
    }

  /** Bucket-pruned read: only the named buckets' dirs are listed/read —
    * the probe path an ingest's anti-join uses (a key's bucket is
    * deterministic, so no match can hide elsewhere). */
  def readManifestedBuckets(spark: SparkSession, target: String,
                            buckets: Seq[Long]): DataFrame =
    headState(spark, target) match {
      case Some((_, st)) => readDirs(spark, target, st, buckets)
      case None => throw new IllegalArgumentException(
        s"no committed manifest snapshot at $target")
    }

  /** Bucket-pruned read against an EXPLICIT state — the form a
    * [[mergeIntoManifested]] `recomputeUpdates` callback must use: the
    * callback derives its update set from exactly the snapshot version
    * the merge will publish against (same seq, same dirs), so a commit
    * interleaving between derivation and publish is always caught by
    * the CAS instead of silently merging a stale derivation. */
  def readStateBuckets(spark: SparkSession, target: String,
                       st: ManifestState, buckets: Seq[Long]): DataFrame =
    readDirs(spark, target, st, buckets)

  /** The bucket ids `keys` hash into under the snapshot's (or, before
    * first commit, the given) bucket count. */
  def bucketsOf(spark: SparkSession, target: String, keys: DataFrame,
                key: String, nBuckets: Int): Seq[Long] = {
    val n = headState(spark, target).map(_._2.nBuckets).getOrElse(nBuckets)
    keys.select(pb(col(key), n).as("pb")).distinct()
      .collect().map(_.getLong(0)).toSeq // ≤ nBuckets values — driver-safe
  }

  /** Merge `updates` into the manifest snapshot at `target` — same
    * semantics and counts as every [[MergeSink]] layout, published
    * through one commit-file create. Retries contention per the
    * disjoint/overlap rule above; after `maxRetries` losses the last
    * conflict propagates (loudly — the caller decides whether to back
    * off and re-run).
    *
    * `recomputeUpdates` (optional): a snapshot-state → update-set
    * function for callers whose update set is DERIVED from the snapshot
    * (a dedup ingest's anti-join). When provided it replaces `updates`
    * and is re-invoked on EVERY merge attempt with exactly the state
    * the attempt will publish against (None before first commit) — so
    * an overlap conflict re-derives the set against the winner's head
    * instead of re-merging a stale derivation (a key delivered by both
    * racing writers would otherwise get the loser's row upserted over
    * the winner's earlier arrival, diverging from sequential
    * semantics). Derive through [[readStateBuckets]] with the given
    * state, never through [[headState]] — the head can move between
    * the callback and the publish, and only the given state is
    * CAS-checked.
    *
    * `conflictRepoint` (default true): on a lost CAS whose winner
    * touched only DISJOINT buckets, repoint this writer's landed data
    * against the new head metadata-only instead of re-deriving — sound
    * exactly when the derivation's input is the touched buckets
    * (key-local anti-joins). Pass FALSE when `recomputeUpdates` reads
    * the whole snapshot (the near-dup/entity inductions' cross probes):
    * there a disjoint-bucket winner still changes the derivation's
    * input, so every conflict must re-derive.
    *
    * `txn` (optional): a (pipelineId, batchId) idempotence token for
    * AT-LEAST-ONCE callers (a streaming foreachBatch replaying after a
    * restart — [[graft.streaming.StreamIngest]]). The commit
    * records the pipeline's batch high-water mark; a merge whose batchId
    * is ≤ the recorded mark returns zero stats WITHOUT writing or
    * committing — the replay is a no-op, exactly once end to end. The
    * mark rides the same commit file as the data mapping, so a crash
    * can never apply the merge without recording the batch (or record
    * without applying). Two replayed instances RACING each other
    * resolve through the CAS: the loser finds its own token at the new
    * head and no-ops (batchIds must be monotone per pipeline —
    * Structured Streaming's foreachBatch contract). */
  def mergeIntoManifested(spark: SparkSession, target: String,
                          updates: DataFrame, key: String,
                          fields: Seq[String], nBuckets: Int,
                          orderCol: Option[String] = None,
                          updatedAtCol: String = "updatedAt",
                          maxRetries: Int = 20,
                          beforePublish: () => Unit = () => (),
                          recomputeUpdates: Option[ManifestState] => DataFrame = null,
                          txn: Option[(String, Long)] = None,
                          txnFence: Option[Long] = None,
                          conflictRepoint: Boolean = true,
                          distributeByBucket: Boolean = true,
                          updatesUnique: Boolean = false): MergeSink.MergeStats = {
    require(nBuckets >= 1, s"nBuckets=$nBuckets must be positive")
    txn.foreach { case (id, _) => requireLedgerSafe(id, "txn pipelineId") }
    def absorbed(st: Option[ManifestState]): Boolean = txn.exists {
      case (id, bid) => st.exists(_.txns.get(id).exists(_ >= bid))
    }
    val root = new Path(target)
    val fs = fsOf(spark, root)
    // `updatesUnique`: the caller asserts one row per key (see
    // MergeSink.normalizeUnique) — the fold window is then an identity
    // and is skipped, one exchange fewer per attempt
    def folded(df: DataFrame): DataFrame =
      if (updatesUnique) MergeSink.normalizeUnique(df, key, fields)
      else MergeSink.collapseUpdates(
        df.filter(col(key).isNotNull), key, fields, orderCol)
    // localCheckpoint: probed for buckets, then merged. LAZY: an
    // absorbed replay (streaming restart) must no-op on the metadata
    // read alone, without paying the batch's read/shuffle/cache
    lazy val uniq =
      if (recomputeUpdates != null) null // derived per attempt below
      else folded(updates).localCheckpoint(true)

    // beforePublish: injectable contention seam (the catalogSwap
    // precedent) — runs ONCE, after this writer's generation dir lands
    // and before its first publish attempt, so a spec can interleave a
    // competing committer deterministically
    var hookPending = true
    var attempt = 0
    while (true) {
      val head = headState(spark, target)
      val seq = head.map(_._1).getOrElse(0L)
      val st = head.map(_._2)
      if (absorbed(st)) return MergeSink.MergeStats(0L, 0L, 0L)
      checkSpanFence(st, txn, txnFence, target)
      // `nBuckets` sizes the FIRST commit only; once a snapshot exists
      // the head's count is authoritative, so a writer configured before
      // a rebucket night keeps working instead of throwing (the bucket
      // count stays immutable per snapshot VERSION — rebucketManifested
      // is the only operation that changes it, in its own commit)
      val n = st.map(_.nBuckets).getOrElse(nBuckets)
      val uniqCur =
        if (recomputeUpdates == null) uniq
        else folded(recomputeUpdates(st)).localCheckpoint(true)
      // one exchange-free job (Sparks.distinctLongs) — ≤ nBuckets values
      val touched = graft.Sparks.distinctLongs(uniqCur, pb(col(key), n))
      val targetDf = st match {
        case Some(s) => readDirs(spark, target, s, touched)
        case None => MergeSink.emptyTarget(spark, uniqCur, key, fields,
          updatedAtCol)
      }
      val (merged, obs) = MergeSink.mergePlanObserved(targetDf, uniqCur, key,
        MergeSink.evolvedFields(targetDf, key, fields, updatedAtCol),
        updatedAtCol)
      val gdir = s"g-${tok()}"
      // hash-distribute by the bucket column before the partitioned
      // write (guide §6; Iceberg's write.distribution-mode=hash): the
      // merge join leaves rows partitioned by KEY hash, so every write
      // task would otherwise hold rows of most buckets and spray one
      // small file per (task, bucket) — tasks × buckets files whose
      // footer/open cost every later bucket read re-pays. Repartitioned,
      // each bucket's rows land in exactly one file.
      // `distributeByBucket = false` is the q221 gate's escape hatch: it
      // reproduces the legacy tasks×buckets fan-out so compaction still
      // has a fragmented layout to repair.
      val toWrite = merged.withColumn("pb", pb(col(key), n))
      (if (distributeByBucket) toWrite.repartition(col("pb")) else toWrite)
        .write.mode("overwrite").partitionBy("pb")
        .parquet(new Path(root, gdir).toString)
      val mySchema = merged.schema
      val touchedAtRead = touched.map(b =>
        b -> st.flatMap(_.mapping.get(b))).toMap
      if (hookPending) { hookPending = false; beforePublish() }

      // publish loop: metadata-only retries while winners stay disjoint
      var pubSeq = seq
      var pubState = st
      var done = false
      var stats: MergeSink.MergeStats = null
      while (!done) {
        val baseMapping = pubState.map(_.mapping).getOrElse(Map.empty)
        val baseSchema = pubState.map(_.schema.fields.toSeq)
          .getOrElse(Seq.empty)
        val unionSchema = StructType(baseSchema ++
          mySchema.fields.filterNot(f => baseSchema.exists(_.name == f.name)))
        val newMapping = baseMapping ++
          touched.map(b => b -> s"$gdir/pb=$b")
        val newTxns = pubState.map(_.txns).getOrElse(Map.empty) ++ txn
        try {
          CommitLog.tryAppend(fs, root, pubSeq,
            render(ManifestState(unionSchema, n, newMapping, newTxns)),
            isValid)
          stats = MergeSink.statsOf(obs)
          done = true
        } catch {
          case e: CommitLog.CommitConflictException =>
            attempt += 1
            if (attempt >= maxRetries) {
              fs.delete(new Path(root, gdir), true)
              throw e
            }
            val newHead = headState(spark, target)
            val nh = newHead.map(_._2)
            // a racing replay of THIS batch already landed (duplicate
            // restart): this instance's work is redundant — no-op
            if (absorbed(nh)) {
              fs.delete(new Path(root, gdir), true)
              return MergeSink.MergeStats(0L, 0L, 0L)
            }
            // a concurrent same-pipeline instance advanced the
            // watermark past our span's origin: even a disjoint-bucket
            // repoint would publish stale-span data under the newer
            // mark — surface it for a recompute, never a repoint
            try checkSpanFence(nh, txn, txnFence, target)
            catch { case fe: StaleSpanException =>
              fs.delete(new Path(root, gdir), true); throw fe }
            // a winner that evolved a same-named column to a DIFFERENT
            // type is never disjoint: a name-only schema union would
            // repoint this writer's parquet under the winner's type and
            // schema-pinned reads would fail at read time instead of
            // publish — treat it as an overlap (re-merge reads the
            // winner's schema; a genuine type clash then fails loudly
            // at the merge plan's coalesce, at publish time)
            val typesAgree = nh.forall(s => mySchema.fields.forall(f =>
              s.schema.fields.find(_.name == f.name)
                .forall(_.dataType == f.dataType)))
            // inputs unchanged ⇔ the winner left every bucket I read
            // alone AND agrees on the bucket count (a first-commit race
            // can disagree — then the outer re-read fails loudly)
            val myInputsUnchanged = typesAgree &&
              nh.forall(_.nBuckets == n) &&
              touchedAtRead.forall { case (b, d) =>
                nh.flatMap(_.mapping.get(b)) == d
              }
            // conflictRepoint=false: the caller's recomputeUpdates reads
            // state BEYOND its output's touched buckets (whole-index
            // derivations — near-dup / entity inductions probe every
            // bucket's content), so a winner in a disjoint bucket still
            // changes the derivation's input: every conflict must
            // re-derive, never repoint
            if (conflictRepoint && myInputsUnchanged) {
              // winner(s) touched disjoint buckets: my merge result is
              // still exact — repoint against the new head, data as-is
              pubSeq = newHead.map(_._1).getOrElse(0L)
              pubState = nh
            } else {
              // overlap: my inputs changed — discard and re-merge
              fs.delete(new Path(root, gdir), true)
              done = true // break to the outer re-merge loop
            }
        }
      }
      if (stats != null) return stats
    }
    null // unreachable
  }

  final case class ApplyStats(merge: MergeSink.MergeStats, nDeleted: Long)

  /** The snapshot's recorded watermark for this pipeline moved while a
    * change span computed from the OLD watermark was in flight — the
    * span's base state is stale and applying it would skip work a
    * concurrent instance already folded in (a key changed then
    * reverted inside the concurrent span is ABSENT from this span's
    * diff, so the stale apply would pin the intermediate value while
    * the watermark records the new head — permanent divergence).
    * Retryable: recompute the span from the CURRENT watermark. */
  final class StaleSpanException(msg: String) extends RuntimeException(msg)

  /** Fence a txn-carrying apply on its span's ORIGIN: the caller
    * computed its change set from the state where the pipeline's
    * recorded watermark was exactly `fence`; any other recorded value
    * means a duplicate instance advanced the replica first and this
    * span no longer composes (the `recorded >= batchId` absorbed check
    * alone misses the `fence < recorded < batchId` interleaving). */
  private def checkSpanFence(st: Option[ManifestState],
                             txn: Option[(String, Long)],
                             txnFence: Option[Long],
                             target: String): Unit =
    for ((id, bid) <- txn; f <- txnFence) {
      val recorded = st.flatMap(_.txns.get(id)).getOrElse(0L)
      if (recorded != f)
        throw new StaleSpanException(
          s"pipeline '$id' watermark at $target is $recorded but this " +
            s"span (to $bid) was computed from watermark $f — a " +
            "concurrent instance applied a different span first; " +
            "recompute from the current watermark and retry")
    }

  /** Apply a CHANGE SET — upserts AND deletes — in ONE commit: the full
    * MERGE semantics (matched-update / not-matched-insert /
    * matched-delete) the [[changesBetween]] feed produces, and the
    * operation a crash-safe CDC consumer needs. Composing
    * [[mergeIntoManifested]] + [[purgeManifested]] applies the same
    * rows in TWO commits, and a crash between them strands the
    * consumer mid-span: on recovery the span is recomputed against a
    * NEW source head, and a key whose delete already applied but whose
    * re-insert nets out of the recomputed diff is lost forever. Here
    * the deletes, the upserts, and the txn watermark land in one
    * commit-file create — there is no between.
    *
    * `changes` carries `key`, the `fields`, and `changeCol`
    * (insert/update rows are upserted — the merge's null-skip coalesce
    * applies — and delete rows remove the key; a bucket emptied by
    * deletes drops out of the mapping, the [[purgeManifested]] rule).
    * Contention re-runs from the new head; `txn` gives at-least-once
    * callers the [[mergeIntoManifested]] idempotence, absorbed BEFORE
    * any data is read. Scale: touched buckets = the change set's
    * buckets, IO ∝ change bytes — the incremental-view-maintenance
    * cost model end to end. */
  def applyChangesManifested(spark: SparkSession, target: String,
                             changes: DataFrame, key: String,
                             fields: Seq[String], nBuckets: Int,
                             changeCol: String = "_change",
                             txn: Option[(String, Long)] = None,
                             maxRetries: Int = 20,
                             txnFence: Option[Long] = None,
                             updatesUnique: Boolean = false): ApplyStats = {
    require(nBuckets >= 1, s"nBuckets=$nBuckets must be positive")
    txn.foreach { case (id, _) => requireLedgerSafe(id, "txn pipelineId") }
    def absorbed(st: Option[ManifestState]): Boolean = txn.exists {
      case (id, bid) => st.exists(_.txns.get(id).exists(_ >= bid))
    }
    val root = new Path(target)
    val fs = fsOf(spark, root)
    lazy val uniq = {
      val ups = changes
        .filter(col(changeCol) =!= "delete" && col(key).isNotNull)
        .select(col(key) +: fields.map(col): _*)
      // `updatesUnique`: one row per key asserted by the caller (a
      // changesBetween feed) — the fold window is an identity, skip it
      if (updatesUnique) ups.localCheckpoint(true)
      else MergeSink.collapseUpdates(ups, key, fields, None)
        .localCheckpoint(true)
    }
    lazy val delKeys = changes
      .filter(col(changeCol) === "delete" && col(key).isNotNull)
      .select(col(key)).distinct().localCheckpoint(true)
    var attempt = 0
    while (true) {
      val head = headState(spark, target)
      val seq = head.map(_._1).getOrElse(0L)
      val st = head.map(_._2)
      if (absorbed(st)) return ApplyStats(MergeSink.MergeStats(0L, 0L, 0L), 0L)
      checkSpanFence(st, txn, txnFence, target)
      // first-commit sizing only — the head's count is authoritative
      // once a snapshot exists (see mergeIntoManifested)
      val n = st.map(_.nBuckets).getOrElse(nBuckets)
      // one exchange-free job (Sparks.distinctLongs) — ≤ nBuckets values
      val touched = graft.Sparks.distinctLongs(
        uniq.select(pb(col(key), n).as("pb"))
          .union(delKeys.select(pb(col(key), n).as("pb"))), col("pb"))
      val obsBefore = Observation()
      val obsAfter = Observation()
      val targetDf = (st match {
        case Some(s) => readDirs(spark, target, s, touched)
        case None => MergeSink.emptyTarget(spark, uniq, key, fields,
          "updatedAt")
      }).observe(obsBefore, count(lit(1)).as("n"))
        .join(delKeys, Seq(key), "left_anti")
        .observe(obsAfter, count(lit(1)).as("n"))
      val (merged, obs) = MergeSink.mergePlanObserved(targetDf, uniq, key,
        MergeSink.evolvedFields(targetDf, key, fields, "updatedAt"),
        "updatedAt")
      val gdir = s"g-${tok()}"
      // hash-distribute by the bucket column before the partitioned
      // write (guide §6; Iceberg's write.distribution-mode=hash): the
      // merge join leaves rows partitioned by KEY hash, so every write
      // task would otherwise hold rows of most buckets and spray one
      // small file per (task, bucket) — tasks × buckets files whose
      // footer/open cost every later bucket read re-pays. Repartitioned,
      // each bucket's rows land in exactly one file.
      merged.withColumn("pb", pb(col(key), n))
        .repartition(col("pb"))
        .write.mode("overwrite").partitionBy("pb")
        .parquet(new Path(root, gdir).toString)
      val written = fs.listStatus(new Path(root, gdir))
        .filter(_.getPath.getName.startsWith("pb="))
        .map(_.getPath.getName.stripPrefix("pb=").toLong).toSet
      val baseMapping = st.map(_.mapping).getOrElse(Map.empty)
      val baseSchema = st.map(_.schema.fields.toSeq).getOrElse(Seq.empty)
      val mySchema = merged.schema
      val unionSchema = StructType(baseSchema ++
        mySchema.fields.filterNot(f => baseSchema.exists(_.name == f.name)))
      val newMapping = (baseMapping -- touched) ++
        touched.filter(written).map(b => b -> s"$gdir/pb=$b")
      val newTxns = st.map(_.txns).getOrElse(Map.empty) ++ txn
      try {
        CommitLog.tryAppend(fs, root, seq,
          render(ManifestState(unionSchema, n, newMapping, newTxns)),
          isValid)
        return ApplyStats(MergeSink.statsOf(obs),
          obsBefore.get("n").asInstanceOf[Long] -
            obsAfter.get("n").asInstanceOf[Long])
      } catch {
        case e: CommitLog.CommitConflictException =>
          fs.delete(new Path(root, gdir), true)
          attempt += 1
          if (attempt >= maxRetries) throw e
        // the loop re-reads the head: a racing duplicate of the same
        // txn is caught by the absorbed check at the top
      }
    }
    null // unreachable
  }

  /** DELETE every row whose `key` is in `keys` — the manifest layout's
    * right-to-be-forgotten. Copy-on-write: touched buckets' survivors
    * land in a new generation dir, one commit repoints them (a bucket
    * purged EMPTY drops out of the mapping entirely), untouched buckets
    * stay byte-identical. Contention always re-runs from the new head
    * (purge must see the winner's rows). Idempotent under replay. */
  def purgeManifested(spark: SparkSession, target: String, keys: DataFrame,
                      key: String,
                      maxRetries: Int = 20): MergeSink.PurgeStats = {
    val root = new Path(target)
    val fs = fsOf(spark, root)
    val uniq = keys.select(col(key)).filter(col(key).isNotNull)
      .distinct().localCheckpoint(true)
    var attempt = 0
    while (true) {
      val (seq, st) = headState(spark, target).getOrElse(
        throw new IllegalArgumentException(
          s"no committed manifest snapshot at $target"))
      val touched = graft.Sparks.distinctLongs(uniq, pb(col(key), st.nBuckets))
        .filter(st.mapping.contains)
      if (touched.isEmpty) return MergeSink.PurgeStats(0L, 0L, 0)
      val obsBefore = Observation()
      val obsAfter = Observation()
      val kept = readDirs(spark, target, st, touched)
        .observe(obsBefore, count(lit(1)).as("n"))
        .join(broadcast(uniq), Seq(key), "left_anti")
        .observe(obsAfter, count(lit(1)).as("n"))
      val gdir = s"g-${tok()}"
      kept.withColumn("pb", pb(col(key), st.nBuckets))
        .write.mode("overwrite").partitionBy("pb")
        .parquet(new Path(root, gdir).toString)
      // partitionBy writes only non-empty buckets: survivors repoint,
      // emptied buckets leave the mapping
      val written = fs.listStatus(new Path(root, gdir))
        .filter(_.getPath.getName.startsWith("pb="))
        .map(_.getPath.getName.stripPrefix("pb=").toLong).toSet
      val newMapping = (st.mapping -- touched) ++
        touched.filter(written).map(b => b -> s"$gdir/pb=$b")
      try {
        CommitLog.tryAppend(fs, root, seq,
          render(ManifestState(st.schema, st.nBuckets, newMapping,
            st.txns)), isValid)
        return MergeSink.PurgeStats(
          obsBefore.get("n").asInstanceOf[Long],
          obsAfter.get("n").asInstanceOf[Long], touched.length)
      } catch {
        case e: CommitLog.CommitConflictException =>
          fs.delete(new Path(root, gdir), true)
          attempt += 1
          if (attempt >= maxRetries) throw e
      }
    }
    null // unreachable
  }

  /** REBUCKET — partition evolution for the merge snapshot: rewrite the
    * whole table under `newBuckets` hash buckets and flip the mapping
    * in ONE commit. Writers need no config change: every merge/apply
    * resolves the bucket count from the head it publishes against
    * (their `nBuckets` parameter sizes the first commit only), so a
    * nightly auto-rebucket ([[graft.jobs.SnapshotMaintainJob]]) is
    * transparent to the day pipelines. Content-neutral by construction:
    * time travel still reads pre-rebucket versions under their own
    * count, and a [[changesBetween]] span crossing the boundary
    * surfaces nothing but real value changes. Scale: a full rewrite by
    * definition (one shuffle of the table — the operation IS
    * repartitioning); run it like compaction, as scheduled
    * maintenance, when key-count growth has outgrown the original
    * bucket count. Contention re-runs from the new head; returns the
    * published commit seq (or the current head if already at
    * `newBuckets` — the no-op is free). */
  def rebucketManifested(spark: SparkSession, target: String, key: String,
                         newBuckets: Int, maxRetries: Int = 20): Long = {
    require(newBuckets >= 1, s"newBuckets=$newBuckets must be positive")
    val root = new Path(target)
    val fs = fsOf(spark, root)
    var attempt = 0
    while (true) {
      val (seq, st) = headState(spark, target).getOrElse(
        throw new IllegalArgumentException(
          s"no committed manifest snapshot at $target"))
      if (st.nBuckets == newBuckets) return seq
      require(st.schema.fieldNames.contains(key),
        s"key $key is not in the snapshot schema")
      val data = readDirs(spark, target, st, st.mapping.keys.toSeq.sorted)
      val gdir = s"g-${tok()}"
      data.withColumn("pb", pb(col(key), newBuckets))
        .write.mode("overwrite").partitionBy("pb")
        .parquet(new Path(root, gdir).toString)
      val written = fs.listStatus(new Path(root, gdir))
        .filter(_.getPath.getName.startsWith("pb="))
        .map(_.getPath.getName.stripPrefix("pb=").toLong).toSet
      val newMapping = written.map(b => b -> s"$gdir/pb=$b").toMap
      try {
        return CommitLog.tryAppend(fs, root, seq,
          render(ManifestState(st.schema, newBuckets, newMapping,
            st.txns)), isValid)
      } catch {
        case e: CommitLog.CommitConflictException =>
          fs.delete(new Path(root, gdir), true)
          attempt += 1
          if (attempt >= maxRetries) throw e
      }
    }
    0L // unreachable
  }

  /** BUCKET HEALTH — the layout-health pattern (q164) for merge
    * snapshots: one row per bucket in the HEAD mapping with its file
    * count and bytes (pure FS metadata — ≤ nBuckets listings, no data
    * read) and its row count (a column-less footer-scale scan, one
    * job). The maintain night reads this to decide compaction (files)
    * and rebucketing (rows vs the per-bucket target); an ops dashboard
    * reads it for skew — a bucket whose rows dwarf the median is a hot
    * key family the merge rewrites wholesale every day. */
  def bucketHealth(spark: SparkSession, target: String): DataFrame = {
    val root = new Path(target)
    val fs = fsOf(spark, root)
    val (_, st) = headState(spark, target).getOrElse(
      throw new IllegalArgumentException(
        s"no committed manifest snapshot at $target"))
    val ss = spark; import ss.implicits._
    val meta = st.mapping.toSeq.sortBy(_._1).map { case (b, d) =>
      val sts = fs.listStatus(new Path(root, d))
        .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
      (b, sts.length.toLong, sts.map(_.getLen).sum)
    }.toDF("bucket", "n_files", "bytes")
    if (st.mapping.isEmpty) return meta.withColumn("rows", lit(0L))
    val withPb = StructType(st.schema.fields :+ StructField("pb", LongType))
    val rows = st.mapping.values.toSeq.groupBy(_.split('/').head)
      .toSeq.sortBy(_._1).map { case (gen, ds) =>
        spark.read.option("basePath", s"$target/$gen").schema(withPb)
          .parquet(ds.map(d => s"$target/$d"): _*)
      }.reduce(_ unionByName _)
      .groupBy(col("pb")).agg(count(lit(1)).as("rows"))
      .withColumnRenamed("pb", "bucket")
    meta.join(rows, Seq("bucket"), "left")
      .na.fill(0L, Seq("rows"))
      .orderBy(col("bucket"))
  }

  /** The auto-rebucket sizing policy: the smallest POWER-OF-TWO bucket
    * count holding `targetRowsPerBucket` per bucket. Power-of-two
    * doubling means each old bucket (pb = hash mod n) splits into
    * exactly two new ones — growth never scatters a bucket's keys
    * across the whole new space, which keeps an incremental
    * split-in-place evolution open. Grow-only by policy: shrinking is
    * an explicit [[rebucketManifested]] call, never a nightly
    * surprise. */
  def bucketCountFor(rows: Long, targetRowsPerBucket: Long): Int = {
    require(targetRowsPerBucket >= 1L,
      s"targetRowsPerBucket=$targetRowsPerBucket must be positive")
    val need = math.max(1L,
      (rows + targetRowsPerBucket - 1L) / targetRowsPerBucket)
    var b = 1
    while (b < need && b < (1 << 30)) b <<= 1
    b
  }

  final case class CompactStats(nCompacted: Int, filesBefore: Long,
                                filesAfter: Long)

  /** MAINTENANCE: collapse multi-file bucket dirs into (near-)single-file
    * dirs. Every merge writes its touched buckets from a key-partitioned
    * shuffle, so a bucket dir accretes up to one file per write task —
    * at cluster scale, tasks × buckets small files per generation (the
    * small-files problem OPTIMIZE exists for everywhere). This pass
    * lists file counts from the head mapping (metadata-scale — ≤
    * nBuckets listings, no data read), rewrites only buckets above
    * `maxFilesPerBucket` through one pb-partitioned shuffle (one output
    * file per bucket), and publishes ONE commit repointing exactly the
    * flagged buckets — unflagged buckets keep their dirs byte-identical,
    * the schema and txn ledger carry forward, and a conflicting merge
    * landing first forces a clean re-derive (its rewrite may have
    * un-flagged a bucket). A fully-compacted snapshot returns zero
    * stats WITHOUT committing — the nightly no-op is free. */
  def compactManifested(spark: SparkSession, target: String,
                        maxFilesPerBucket: Int = 1,
                        maxRetries: Int = 20,
                        beforePublish: () => Unit = () => ()): CompactStats = {
    require(maxFilesPerBucket >= 1,
      s"maxFilesPerBucket=$maxFilesPerBucket must be positive")
    val root = new Path(target)
    val fs = fsOf(spark, root)
    def filesIn(d: String): Long =
      fs.listStatus(new Path(root, d))
        .count(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
        .toLong
    var hookPending = true
    var attempt = 0
    while (true) {
      val (seq, st) = headState(spark, target).getOrElse(
        throw new IllegalArgumentException(
          s"no committed manifest snapshot at $target"))
      val counts = st.mapping.map { case (b, d) => b -> filesIn(d) }
      val before = counts.values.sum
      val flagged = counts.filter(_._2 > maxFilesPerBucket)
        .keys.toSeq.sorted
      if (flagged.isEmpty) return CompactStats(0, before, before)
      // pb travels as a real column (per-generation basePath discovery —
      // the DirManifest read), so one job rewrites every flagged bucket
      val withPb = StructType(st.schema.fields :+
        StructField("pb", LongType))
      val data = flagged.map(st.mapping).groupBy(_.split('/').head)
        .toSeq.sortBy(_._1).map { case (gen, ds) =>
          spark.read.option("basePath", s"$target/$gen").schema(withPb)
            .parquet(ds.map(d => s"$target/$d"): _*)
        }.reduce(_ unionByName _)
      val gdir = s"g-${tok()}"
      data.repartition(col("pb"))
        .write.mode("overwrite").partitionBy("pb")
        .parquet(new Path(root, gdir).toString)
      val written = fs.listStatus(new Path(root, gdir))
        .filter(_.getPath.getName.startsWith("pb="))
        .map(_.getPath.getName.stripPrefix("pb=").toLong).toSet
      val newMapping = (st.mapping -- flagged) ++
        flagged.filter(written).map(b => b -> s"$gdir/pb=$b")
      if (hookPending) { hookPending = false; beforePublish() }
      try {
        CommitLog.tryAppend(fs, root, seq,
          render(ManifestState(st.schema, st.nBuckets, newMapping,
            st.txns)), isValid)
        val after = before - flagged.map(counts).sum +
          flagged.filter(written).map(b => filesIn(newMapping(b))).sum
        return CompactStats(flagged.size, before, after)
      } catch {
        case e: CommitLog.CommitConflictException =>
          fs.delete(new Path(root, gdir), true)
          attempt += 1
          if (attempt >= maxRetries) throw e
      }
    }
    null // unreachable
  }

  /** Sweep generation dirs no RETAINED commit references (crashed or
    * conflict-losing writers, superseded generations) and
    * fully-superseded commit files. `retainCommits` is the
    * reader-retention margin: the last N valid commits and every dir
    * they reference survive, so a long-running reader that resolved a
    * recent head finishes its scan across a concurrent merge + vacuum
    * (readers are not writers — the single-writer-per-pipeline
    * discipline never covered them). Requires quiesced WRITERS only —
    * an in-flight merge's generation dir looks orphaned (same caveat
    * as [[VersionCatalog.vacuum]]; a swept-mid-flight merge
    * re-merges). Returns the deleted dir names. */
  def vacuumManifested(spark: SparkSession, target: String,
                       retainCommits: Int = 2): Seq[String] = {
    require(retainCommits >= 1, s"retainCommits=$retainCommits")
    val root = new Path(target)
    val fs = fsOf(spark, root)
    headState(spark, target) match {
      case None => Seq.empty
      case Some((seq, _)) =>
        val keepFrom = seq - (retainCommits - 1)
        val live = CommitLog.seqs(fs, root)
          .filter(_ >= keepFrom)
          .flatMap(s => CommitLog.read(fs, root, s).filter(isValid))
          .flatMap(c => parse(c).mapping.values.map(_.split('/').head))
          .toSet
        val victims =
          if (!fs.exists(root)) Seq.empty
          else fs.listStatus(root)
            .filter(s => s.isDirectory && s.getPath.getName.startsWith("g-"))
            .map(_.getPath.getName)
            .filterNot(live)
            .toSeq.sorted
        victims.foreach(d => fs.delete(new Path(root, d), true))
        CommitLog.sweep(fs, root, keepFrom)
        victims
    }
  }
}
