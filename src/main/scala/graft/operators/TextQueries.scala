package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.TextFunctions
import graft.functions.TextFunctions._

/** Text-analysis + dedup queries over the `documents` fixture, each with a
  * DuckDB oracle. The LSH/SimHash oracles are generated from the SAME
  * parameters as the Spark plans, so the driver's hash compare checks the
  * full pipeline (tokenize → hash → band → bucket-join → verify), not just
  * a trivial projection.
  *
  * Per-row ratio/score expressions are single divisions — both engines
  * compute the identical double, so in-query rounding is deterministic
  * (unlike multi-row double aggregates, where summation order matters).
  */
object TextQueries {

  private[operators] def tokSqlExprOf(column: String): String =
    s"list_filter(regexp_split_to_array(lower($column), '[^a-z0-9]+'), x -> len(x) > 0)"

  private[operators] val tokSqlExpr = tokSqlExprOf("text")

  /** Exact dedup: one survivor per distinct text (hash-groupBy — the
    * 100 TB-safe form of dropDuplicates, with group sizes for free). */
  def q15DedupExact(spark: SparkSession, dir: String): DataFrame =
    Dedup.exact(Tables.documents(spark, dir), "doc_id", "text")
      .orderBy(col("content_hash"))

  val q15DedupExactSql: String =
    """SELECT md5(text) AS content_hash, min(doc_id) AS survivor_id, count(*) AS n_copies
      |FROM documents GROUP BY md5(text) ORDER BY content_hash""".stripMargin

  /** Token counting + quality scoring (SURVEY §2B text analysis).
    * Two-stage projection: the RAW ratios materialize once (each is
    * multi-referenced and non-cheap, so CollapseProject keeps them), then
    * the display rounding and the composite score read those columns —
    * one tokenize/regex pass per ingredient instead of one per reference.
    * The composite uses the unrounded ratios: averaging four 4-dp values
    * lands exactly on round-half boundaries where engines disagree. */
  def q16TextStats(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).select(
      col("doc_id"),
      tokenCount(col("text")).cast("long").as("n_tokens"),
      subwordCount(col("text")).cast("long").as("n_subwords"),
      alphaRatio(col("text")).as("alpha_raw"),
      punctRatio(col("text")).as("punct_raw"),
      stopwordRatio(col("text")).as("stop_raw"))
      .select(
        col("doc_id"), col("n_tokens"), col("n_subwords"),
        round(col("alpha_raw"), 4).as("alpha_ratio"),
        round(col("punct_raw"), 4).as("punct_ratio"),
        round(col("stop_raw"), 4).as("stopword_ratio"),
        round(
          lit(0.25) * col("alpha_raw") +
          lit(0.25) * col("stop_raw") +
          lit(0.25) * least(lit(1.0), col("n_tokens").cast("double") / 100.0) +
          lit(0.25) * (lit(1.0) - col("punct_raw")), 4).as("quality"))
      .orderBy(col("doc_id"))

  val q16TextStatsSql: String = {
    val stops = TextFunctions.stopwords.map(s => s"'$s'").mkString(", ")
    s"""WITH t AS (SELECT doc_id, text, $tokSqlExpr AS toks FROM documents),
       |r AS (SELECT doc_id,
       |  len(toks)::bigint AS n_tokens,
       |  len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]'))::bigint AS n_subwords,
       |  CASE WHEN len(text) = 0 THEN 0.0 ELSE len(regexp_replace(lower(text), '[^a-z]', '', 'g'))::double / len(text) END AS alpha_raw,
       |  CASE WHEN len(text) = 0 THEN 0.0 ELSE len(regexp_replace(lower(text), '[a-z0-9\\s]', '', 'g'))::double / len(text) END AS punct_raw,
       |  CASE WHEN len(toks) = 0 THEN 0.0 ELSE len(list_filter(toks, x -> x IN ($stops)))::double / len(toks) END AS stop_raw
       |FROM t)
       |SELECT doc_id, n_tokens, n_subwords,
       |  round(alpha_raw, 4) AS alpha_ratio,
       |  round(punct_raw, 4) AS punct_ratio,
       |  round(stop_raw, 4) AS stopword_ratio,
       |  round(0.25 * alpha_raw
       |      + 0.25 * stop_raw
       |      + 0.25 * least(1.0, n_tokens::double / 100.0)
       |      + 0.25 * (1.0 - punct_raw), 4) AS quality
       |FROM r ORDER BY doc_id""".stripMargin
  }

  /** Language ID: marker-token argmax with fixed priority + CJK script
    * detection, compared against the labeled lang column. */
  def q17LangId(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).select(
      col("doc_id"), col("lang"),
      langId(col("text")).as("lang_pred"))
      .withColumn("is_match", (col("lang") === col("lang_pred")).cast("int").cast("long"))
      .orderBy(col("doc_id"))

  val q17LangIdSql: String = {
    val marks = TextFunctions.langMarkers.map { case (lang, ms) =>
      s"len(list_filter(toks, x -> x IN (${ms.map(m => s"'$m'").mkString(", ")}))) AS s_$lang"
    }.mkString(",\n  ")
    s"""WITH t AS (SELECT doc_id, lang, text, $tokSqlExpr AS toks FROM documents),
       |sc AS (SELECT doc_id, lang,
       |  len(regexp_replace(text, '[^\\x{4e00}-\\x{9fff}]', '', 'g')) AS s_zh,
       |  $marks
       |FROM t)
       |SELECT doc_id, lang,
       |  CASE WHEN s_zh > 0 THEN 'zh'
       |       WHEN s_en + s_de + s_es + s_fr = 0 THEN 'und'
       |       WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr THEN 'en'
       |       WHEN s_de >= s_es AND s_de >= s_fr THEN 'de'
       |       WHEN s_es >= s_fr THEN 'es'
       |       ELSE 'fr' END AS lang_pred,
       |  (lang = (CASE WHEN s_zh > 0 THEN 'zh'
       |       WHEN s_en + s_de + s_es + s_fr = 0 THEN 'und'
       |       WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr THEN 'en'
       |       WHEN s_de >= s_es AND s_de >= s_fr THEN 'de'
       |       WHEN s_es >= s_fr THEN 'es'
       |       ELSE 'fr' END))::int::bigint AS is_match
       |FROM sc ORDER BY doc_id""".stripMargin
  }

  /** Fingerprint clusters: sorted-distinct-token-set md5 — catches word
    * reorderings exact dedup misses. */
  def q18Fingerprint(spark: SparkSession, dir: String): DataFrame =
    Dedup.fingerprintClusters(Tables.documents(spark, dir), "doc_id", "text")
      .orderBy(col("fp"))

  val q18FingerprintSql: String =
    s"""WITH t AS (SELECT doc_id, $tokSqlExpr AS toks FROM documents)
       |SELECT md5(array_to_string(list_sort(list_distinct(toks)), ' ')) AS fp,
       |  min(doc_id) AS survivor_id, count(*) AS n_docs
       |FROM t GROUP BY 1 ORDER BY fp""".stripMargin

  /** Exact token-set Jaccard near-dup pairs, blocked by source. */
  def q19NgramJaccard(spark: SparkSession, dir: String): DataFrame =
    Dedup.ngramJaccardPairs(Tables.documents(spark, dir), "doc_id", "text",
        n = 1, threshold = 0.95, blockCol = Some("source"))
      .orderBy(col("id1"), col("id2"))

  val q19NgramJaccardSql: String =
    s"""WITH t AS (SELECT doc_id, source, list_distinct($tokSqlExpr) AS g FROM documents)
       |SELECT * FROM (
       |  SELECT a.doc_id AS id1, b.doc_id AS id2,
       |    round(CASE WHEN len(list_distinct(list_concat(a.g, b.g))) = 0 THEN 0.0
       |          ELSE len(list_intersect(a.g, b.g))::double
       |               / len(list_distinct(list_concat(a.g, b.g))) END, 4) AS jaccard
       |  FROM t a JOIN t b ON a.source = b.source AND a.doc_id < b.doc_id)
       |WHERE jaccard >= 0.95 ORDER BY id1, id2""".stripMargin

  /** q183: DIRECTIONAL containment near-dup — every (inner, outer) pair
    * with token-set containment |A∩B|/|A| >= 0.8 inside a source block,
    * the asymmetric predicate that catches a short document quoted whole
    * inside a longer one (Jaccard ≈ |A|/|B| → 0 there, so q19 is blind
    * to it). Spark side runs the exact prefix-filter containment join
    * ([[Dedup.containmentPairs]]); the oracle brute-forces the same
    * predicate, so one missed candidate (a recall bug in the prefix or
    * positional filter) fails the gate row-level. */
  def q183Containment(spark: SparkSession, dir: String): DataFrame =
    Dedup.containmentPairs(Tables.documents(spark, dir), "doc_id", "text",
        n = 1, threshold = 0.8, blockCol = Some("source"))
      .orderBy(col("inner_id"), col("outer_id"))

  val q183ContainmentSql: String =
    s"""WITH t AS (SELECT doc_id, source, list_distinct($tokSqlExpr) AS g FROM documents)
       |SELECT inner_id, outer_id, round(c, 4) AS containment FROM (
       |  SELECT a.doc_id AS inner_id, b.doc_id AS outer_id,
       |    len(list_intersect(a.g, b.g))::double / len(a.g) AS c
       |  FROM t a JOIN t b ON a.source = b.source AND a.doc_id != b.doc_id
       |  WHERE len(a.g) > 0 AND len(b.g) > 0)
       |WHERE c >= 0.8 ORDER BY inner_id, outer_id""".stripMargin

  /** q187: N-GRAM NOVELTY — per-document share of its distinct bigram
    * shingles appearing in NO other document (document frequency 1),
    * the memorization/novelty signal a data mixer reads next to quality:
    * near-zero novelty marks template/boilerplate output (everything
    * the doc says, some other doc says verbatim), near-one marks unique
    * content worth upweighting — the inverse view of q38's boilerplate
    * detection, reported per DOCUMENT instead of per shingle.
    *
    * Exactness: counts are integers; the ratio is one IEEE division
    * emitted as a display column (null for shingle-less docs — a 0/0
    * novelty is meaningless, not zero).
    *
    * Scale: one explode → gram-keyed df count (map-side partials, the
    * same inverted-index volume every dedup pass shuffles) → one join
    * back on gram → per-doc integer fold. No pair joins, no payload
    * shuffles; governors are unnecessary because per-gram fan-out is
    * its document frequency, consumed as a COUNT, never materialized
    * as pairs. */
  def q187Novelty(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val g = docs.select(col("doc_id"),
      explode(array_distinct(shingles(col("text"), 2))).as("g"))
    val dfq = g.groupBy(col("g")).agg(count(lit(1)).as("df"))
    val perDoc = g.join(dfq, "g")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum((col("df") === 1L).cast("long")).as("n_unique"))
    docs.select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_unique"), lit(0L)).as("n_unique"),
        when(col("n_grams") > 0L,
          round(col("n_unique").cast("double") / col("n_grams"), 4)).as("novelty"))
      .orderBy(col("doc_id"))
  }

  /** INCREMENTAL NOVELTY — fold a batch's gram statistics into the
    * persistent state so per-document novelty stays current as the
    * corpus GROWS without re-scanning it. Two additive parts, committed
    * atomically with the q110 batchId ledger:
    *
    *  - `gram_df` (gram, df, owner): corpus document frequency per
    *    gram, plus the single owning doc WHEN df == 1 (else null) —
    *    the only per-doc fact the novelty derivation needs, so the
    *    state never stores per-doc gram SETS (that would be the corpus
    *    itself). The owner column merges exactly: sum(df) == 1 means
    *    exactly one part carried the gram, so max(owner) is its owner;
    *    any larger sum nulls it. A doc can thus LOSE novelty when a
    *    later batch re-says its gram — the correct semantics (novelty
    *    is a corpus-relative signal, not a doc-local one).
    *  - `doc_grams` (doc_id, n_grams): each doc's distinct-gram count
    *    (static per doc; summed defensively in the fold).
    *
    * Derivation ([[noveltyFromState]]) is state-sized: one filter of
    * the gram table to df == 1, one groupBy owner, one join against
    * doc_grams — never a corpus scan. */
  def noveltyIngest(spark: SparkSession, path: String, batch: DataFrame,
                    batchId: String): Boolean = {
    import graft.sinks.LedgeredState
    if (LedgeredState.absorbed(spark, path, batchId)) return false
    val g = batch.select(col("doc_id"),
      explode(array_distinct(shingles(col("text"), 2))).as("g"))
    val bGram = g.groupBy(col("g"))
      .agg(count(lit(1)).as("df"),
        when(count(lit(1)) === 1L, max(col("doc_id"))).as("owner"))
    val bDoc = g.groupBy(col("doc_id")).agg(count(lit(1)).as("n_grams"))
    val mergedGram = LedgeredState.readPart(spark, path, "gram_df") match {
      case Some(st) => st.unionByName(bGram).groupBy(col("g"))
        .agg(sum(col("df")).as("df"),
          when(sum(col("df")) === 1L, max(col("owner"))).as("owner"))
      case None => bGram
    }
    val mergedDoc = LedgeredState.readPart(spark, path, "doc_grams") match {
      case Some(st) => st.unionByName(bDoc).groupBy(col("doc_id"))
        .agg(sum(col("n_grams")).as("n_grams"))
      case None => bDoc
    }
    LedgeredState.commit(spark, path, batchId,
      Seq("gram_df" -> mergedGram, "doc_grams" -> mergedDoc))
    true
  }

  /** The per-doc novelty report off the persistent state (state-sized
    * math; `allDocs` supplies the doc universe so gram-less documents
    * report 0 grams / null novelty exactly like the batch q187). */
  def noveltyFromState(gramDf: DataFrame, docGrams: DataFrame,
                       allDocs: DataFrame): DataFrame = {
    val uniq = gramDf.filter(col("df") === 1L)
      .groupBy(col("owner").as("doc_id")).agg(count(lit(1)).as("n_unique"))
    allDocs.select(col("doc_id"))
      .join(docGrams.join(uniq, Seq("doc_id"), "left"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_unique"), lit(0L)).as("n_unique"),
        when(col("n_grams") > 0L,
          round(coalesce(col("n_unique"), lit(0L)).cast("double") /
            col("n_grams"), 4)).as("novelty"))
      .orderBy(col("doc_id"))
  }

  /** q188: the novelty state INCREMENTAL — day-split + whole-batch
    * replay (q131's harness), report derived from the snapshot, oracle
    * IS q187's verbatim: gram-df additivity plus the owner-merge rule
    * are the whole claim, stated as batch ≡ incremental. The day split
    * is the adversarial one for the owner column: a gram seen once on
    * day 1 and again on day 2 must LOSE its df=1 owner in the fold. */
  def q188NoveltyIngest(spark: SparkSession, dir: String): DataFrame = {
    import graft.sinks.LedgeredState
    val base = java.nio.file.Files.createTempDirectory("graft_q188_")
    try {
      val path = s"$base/novelty_state"
      val docs = Tables.documents(spark, dir)
      val cut = docs.agg(max(col("doc_id"))).head().getLong(0) / 2
      require(noveltyIngest(spark, path, docs.filter(col("doc_id") <= cut), "day1"))
      require(noveltyIngest(spark, path, docs.filter(col("doc_id") > cut), "day2"))
      require(!noveltyIngest(spark, path, docs.filter(col("doc_id") > cut), "day2"),
        "replayed batch must be a ledger no-op")
      noveltyFromState(
        LedgeredState.readPart(spark, path, "gram_df").get,
        LedgeredState.readPart(spark, path, "doc_grams").get, docs)
        .localCheckpoint(true) // materialize before the state dir dies
    } finally {
      val p = new org.apache.hadoop.fs.Path(base.toString)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
  }

  /** The whole point of the incremental path: its oracle IS q187's. */
  def q188NoveltyIngestSql: String = q187NoveltySql

  /** q191: the q188 fold behind a REAL file stream
    * ([[graft.streaming.StreamIngest]] — foreachBatch per landed
    * day file, Trigger.AvailableNow; disjoint day files, the
    * additive-state input contract) — q163's harness for the novelty
    * index. Oracle IS q187's. */
  def q191StreamNovelty(spark: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamConf.withShuffle(spark) {
    import org.apache.hadoop.fs.Path
    import graft.streaming.StreamIngest
    import graft.sinks.LedgeredState
    val base = java.nio.file.Files.createTempDirectory("graft_q191_")
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new Path(base.toString).getFileSystem(conf)
    try {
      val srcDir = s"$base/arrivals"
      val statePath = s"$base/novelty_state"
      val docs = Tables.documents(spark, dir)
      val cut = docs.agg(max(col("doc_id"))).head().getLong(0) / 2
      fs.mkdirs(new Path(srcDir))
      Seq(docs.filter(col("doc_id") <= cut), docs.filter(col("doc_id") > cut))
        .zipWithIndex.foreach { case (d, i) =>
          d.coalesce(1).write.parquet(s"$base/stage_$i")
          val part = fs.globStatus(new Path(s"$base/stage_$i/part-*.parquet"))(0).getPath
          fs.rename(part, new Path(s"$srcDir/day_$i.parquet"))
        }
      StreamIngest.drain(t => StreamIngest.start(
          StreamIngest.files(spark, StreamIngest.docSchema, srcDir),
          s"$base/ckpt", "stream_novelty", t) { b =>
        Seq("applied" -> noveltyIngest(spark, statePath, b.rows, b.key))
      })
      noveltyFromState(
        LedgeredState.readPart(spark, statePath, "gram_df").get,
        LedgeredState.readPart(spark, statePath, "doc_grams").get, docs)
        .localCheckpoint(true) // materialize before the state dir dies
    } finally {
      fs.delete(new Path(base.toString), true)
    }
  }

  def q191StreamNoveltySql: String = q187NoveltySql

  // q192/q193 share q183's parameters exactly — the incremental and
  // streamed forms must answer the same question as the batch join.
  private val ContainN = 1
  private val ContainT = 0.8

  /** q192: the containment relation INCREMENTAL — day-split +
    * whole-batch replay (q131's harness) against the persistent
    * posting/size/pair state ([[Dedup.containmentIngest]]); the final
    * pair part must equal the batch q183 join on the whole corpus —
    * oracle IS q183's verbatim. The split is adversarial in BOTH
    * directions by construction: day-2 docs contained in day-1 docs
    * exercise the new-inner probe, day-1 docs contained in day-2 docs
    * the old-inner probe, and within-day pairs the batch join. */
  def q192ContainmentIngest(spark: SparkSession, dir: String): DataFrame = {
    import graft.sinks.LedgeredState
    val base = java.nio.file.Files.createTempDirectory("graft_q192_")
    try {
      val path = s"$base/contain_state"
      val docs = Tables.documents(spark, dir)
      val cut = docs.agg(max(col("doc_id"))).head().getLong(0) / 2
      def ingest(d: DataFrame, id: String): Boolean =
        Dedup.containmentIngest(spark, path, d, "doc_id", "text",
          ContainN, ContainT, Some("source"), id)
      require(ingest(docs.filter(col("doc_id") <= cut), "day1"))
      require(ingest(docs.filter(col("doc_id") > cut), "day2"))
      require(!ingest(docs.filter(col("doc_id") > cut), "day2"),
        "replayed batch must be a ledger no-op")
      LedgeredState.readPart(spark, path, "pairs").get
        .orderBy(col("inner_id"), col("outer_id"))
        .localCheckpoint(true) // materialize before the state dir dies
    } finally {
      val p = new org.apache.hadoop.fs.Path(base.toString)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
  }

  /** The whole point of the incremental path: its oracle IS q183's. */
  def q192ContainmentIngestSql: String = q183ContainmentSql

  /** q238: CONTAINMENT-FOLD WRITER CONTENTION — the q209/q217
    * interleave applied to [[Dedup.containmentIngest]], whose fold now
    * runs inside [[graft.sinks.LedgeredState.commitFold]]'s CAS seam:
    * day 1 seeds the state; writer A (odd doc_ids above the cut) holds
    * its publish while writer B (even ids) commits fully; A's CAS loss
    * re-derives its within-batch AND cross pairs against B's committed
    * docgrams/prefixes. The final pair part must equal the batch q183
    * join on the whole corpus (oracle verbatim) — a stale fold (A
    * publishing without B's docs, losing both B's rows and every A×B
    * pair) fails row-level. */
  def q238ContainmentContention(spark: SparkSession, dir: String): DataFrame = {
    import graft.sinks.LedgeredState
    val base = java.nio.file.Files.createTempDirectory("graft_q238_")
    try {
      val path = s"$base/contain_state"
      val docs = Tables.documents(spark, dir)
      val cut = docs.agg(max(col("doc_id"))).head().getLong(0) / 2
      def ingest(d: DataFrame, id: String,
                 hook: () => Unit = () => ()): Boolean =
        Dedup.containmentIngest(spark, path, d, "doc_id", "text",
          ContainN, ContainT, Some("source"), id, beforePublish = hook)
      require(ingest(docs.filter(col("doc_id") <= cut), "day1"))
      val dayA = docs.filter(col("doc_id") > cut && col("doc_id") % 2 === 1)
      val dayB = docs.filter(col("doc_id") > cut && col("doc_id") % 2 === 0)
      require(ingest(dayA, "dayA",
        () => { require(ingest(dayB, "dayB")) }))
      LedgeredState.readPart(spark, path, "pairs").get
        .orderBy(col("inner_id"), col("outer_id"))
        .localCheckpoint(true) // materialize before the state dir dies
    } finally {
      val p = new org.apache.hadoop.fs.Path(base.toString)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
  }

  def q238ContainmentContentionSql: String = q183ContainmentSql

  /** q241: SCOPE-SHARDED containment ingest — the q192 fold with the
    * block key widened to the COMPOSITE (lang, source) scope, the q229
    * sharding discipline for the set-containment family: `blk` is an
    * opaque equi-key through the prefix filter, the cross probe, and
    * the persisted posting state, so scope growth composes with the
    * blocking for free — a corpus that grows by adding (lang, source)
    * populations keeps every posting list and candidate join
    * scope-local. Row-exact within scope: pairs must never cross the
    * composite scope (non-vacuous vs q192, whose source-only blocks
    * admit cross-lang pairs). */
  def q241ScopedContainment(spark: SparkSession, dir: String): DataFrame = {
    import graft.sinks.LedgeredState
    val base = java.nio.file.Files.createTempDirectory("graft_q241_")
    try {
      val path = s"$base/contain_state"
      // the \u0001 separator: lang/source are word characters, so the
      // composite key is collision-free (the q234 discipline)
      val docs = Tables.documents(spark, dir)
        .withColumn("scope_blk",
          concat_ws("\u0001", col("lang"), col("source")))
      val cut = docs.agg(max(col("doc_id"))).head().getLong(0) / 2
      def ingest(d: DataFrame, id: String): Boolean =
        Dedup.containmentIngest(spark, path, d, "doc_id", "text",
          ContainN, ContainT, Some("scope_blk"), id)
      require(ingest(docs.filter(col("doc_id") <= cut), "day1"))
      require(ingest(docs.filter(col("doc_id") > cut), "day2"))
      require(!ingest(docs.filter(col("doc_id") > cut), "day2"),
        "replayed batch must be a ledger no-op")
      LedgeredState.readPart(spark, path, "pairs").get
        .orderBy(col("inner_id"), col("outer_id"))
        .localCheckpoint(true) // materialize before the state dir dies
    } finally {
      val p = new org.apache.hadoop.fs.Path(base.toString)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
  }

  val q241ScopedContainmentSql: String =
    s"""WITH t AS (SELECT doc_id, lang, source,
       |            list_distinct($tokSqlExpr) AS g FROM documents)
       |SELECT inner_id, outer_id, round(c, 4) AS containment FROM (
       |  SELECT a.doc_id AS inner_id, b.doc_id AS outer_id,
       |    len(list_intersect(a.g, b.g))::double / len(a.g) AS c
       |  FROM t a JOIN t b ON a.source = b.source AND a.lang = b.lang
       |    AND a.doc_id != b.doc_id
       |  WHERE len(a.g) > 0 AND len(b.g) > 0)
       |WHERE c >= ${ContainT} ORDER BY inner_id, outer_id""".stripMargin

  /** q193: the q192 fold behind a REAL file stream
    * ([[graft.streaming.StreamIngest]] — foreachBatch per
    * landed day file, Trigger.AvailableNow; disjoint day files, and the
    * replay protection is the LEDGER+pairs atomic commit, exercised by
    * the incremental gate). Oracle IS q183's — the containment family's
    * batch/incremental/streamed triple closes. */
  def q193StreamContainment(spark: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamConf.withShuffle(spark) {
    import org.apache.hadoop.fs.Path
    import graft.streaming.{StreamIngest, StreamingContainment}
    import graft.sinks.LedgeredState
    val base = java.nio.file.Files.createTempDirectory("graft_q193_")
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new Path(base.toString).getFileSystem(conf)
    try {
      val srcDir = s"$base/arrivals"
      val statePath = s"$base/contain_state"
      val docs = Tables.documents(spark, dir)
      val cut = docs.agg(max(col("doc_id"))).head().getLong(0) / 2
      fs.mkdirs(new Path(srcDir))
      Seq(docs.filter(col("doc_id") <= cut), docs.filter(col("doc_id") > cut))
        .zipWithIndex.foreach { case (d, i) =>
          d.coalesce(1).write.parquet(s"$base/stage_$i")
          val part = fs.globStatus(new Path(s"$base/stage_$i/part-*.parquet"))(0).getPath
          fs.rename(part, new Path(s"$srcDir/day_$i.parquet"))
        }
      StreamIngest.drain(t => StreamingContainment.start(spark, srcDir,
        statePath, s"$base/ckpt", n = ContainN, threshold = ContainT,
        blockCol = Some("source"), trigger = t))
      LedgeredState.readPart(spark, statePath, "pairs").get
        .orderBy(col("inner_id"), col("outer_id"))
        .localCheckpoint(true) // materialize before the state dir dies
    } finally {
      fs.delete(new Path(base.toString), true)
    }
  }

  def q193StreamContainmentSql: String = q183ContainmentSql

  // q199 parameters: non-overlapping token chunks of this size vote on
  // the document's language mixture.
  private val MixChunk = 20

  /** q199: LANGUAGE-MIXTURE REPORT — q17's language ID applied per
    * CHUNK instead of per document, then folded to a per-doc mixture:
    * majority chunk language (ties label-ascending), distinct chunk
    * languages, and the majority's exact e4 share. A document-level
    * langid calls a half-en/half-fr page "en" and moves on; the chunk
    * votes are what catch code-switched, template-injected, or
    * wrongly-concatenated documents — the mixture filter every
    * multilingual curation pipeline runs after langid.
    *
    * Honest instrument note: chunks are TOKEN windows, and the
    * tokenizer is latin-alphabet ([a-z0-9]) — CJK text contributes no
    * tokens, so its chunks vote 'und'; the doc-level `cjk_chars`
    * column (the same script counter q17's zh branch uses) carries
    * that signal instead, keeping the two detectors orthogonal exactly
    * as in q17.
    *
    * Exactness: votes and shares are pure integers (share = cnt·10000
    * div n_chunks); the chunk boundaries are q67's integer arithmetic.
    *
    * Scale: one narrow chunk explode (no shuffle), one (doc, lang)
    * vote count with map-side partials, one per-doc fold — nothing
    * beyond q67 + q17's own cost envelope. */
  def q199LangMix(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, dir)
    val chunks = chunkDocuments(docs, "doc_id", "text", MixChunk, 0)
      .select(col("id").as("doc_id"), langId(col("chunk_text")).as("cl"))
    val votes = chunks.groupBy(col("doc_id"), col("cl"))
      .agg(count(lit(1)).as("cnt"))
    val per = votes.groupBy(col("doc_id"))
      .agg(sum(col("cnt")).as("n_chunks"), count(lit(1)).as("n_langs"))
    val major = votes
      .withColumn("rn", row_number().over(Window.partitionBy(col("doc_id"))
        .orderBy(col("cnt").desc, col("cl").asc)))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("cl").as("lang_major"),
        col("cnt").as("major_cnt"))
    docs.select(col("doc_id"), TextFunctions.cjkCount(col("text"))
        .cast("long").as("cjk_chars"))
      .join(per.join(major, Seq("doc_id")), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_chunks"), lit(0L)).as("n_chunks"),
        coalesce(col("n_langs"), lit(0L)).as("n_langs"),
        col("lang_major"),
        expr("CASE WHEN n_chunks > 0 THEN (major_cnt * 10000) div n_chunks END")
          .as("major_share_e4"),
        col("cjk_chars"))
      .orderBy(col("doc_id"))
  }

  val q199LangMixSql: String = {
    val slice = s"t[chunk_id * $MixChunk + 1 : least(chunk_id * $MixChunk + $MixChunk, L)]"
    val marks = TextFunctions.langMarkers.map { case (lang, ms) =>
      s"len(list_filter($slice, x -> x IN (${ms.map(m => s"'$m'").mkString(", ")}))) AS s_$lang"
    }.mkString(",\n  ")
    s"""WITH tk AS (SELECT doc_id, $tokSqlExpr AS t FROM documents),
       |n AS (SELECT doc_id, t, len(t) AS L,
       |      greatest(1, (len(t) + ${MixChunk - 1}) // $MixChunk) AS nc
       |      FROM tk WHERE len(t) > 0),
       |c AS (SELECT doc_id, unnest(range(nc))::BIGINT AS chunk_id, t, L FROM n),
       |sc AS (SELECT doc_id,
       |  $marks
       |FROM c),
       |v AS (SELECT doc_id,
       |  CASE WHEN s_en + s_de + s_es + s_fr = 0 THEN 'und'
       |       WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr THEN 'en'
       |       WHEN s_de >= s_es AND s_de >= s_fr THEN 'de'
       |       WHEN s_es >= s_fr THEN 'es'
       |       ELSE 'fr' END AS cl FROM sc),
       |g AS (SELECT doc_id, cl, count(*)::BIGINT AS cnt FROM v GROUP BY 1, 2),
       |p AS (SELECT doc_id, sum(cnt)::BIGINT AS n_chunks,
       |      count(*)::BIGINT AS n_langs FROM g GROUP BY 1),
       |m AS (SELECT doc_id, cl AS lang_major, cnt AS major_cnt FROM (
       |    SELECT *, row_number() OVER (PARTITION BY doc_id
       |      ORDER BY cnt DESC, cl) AS rn FROM g) WHERE rn = 1)
       |SELECT d.doc_id, coalesce(p.n_chunks, 0)::BIGINT AS n_chunks,
       |  coalesce(p.n_langs, 0)::BIGINT AS n_langs,
       |  m.lang_major,
       |  (CASE WHEN p.n_chunks > 0 THEN (m.major_cnt * 10000) // p.n_chunks END)::BIGINT
       |    AS major_share_e4,
       |  len(regexp_replace(d.text, '[^\\x{4e00}-\\x{9fff}]', '', 'g'))::BIGINT AS cjk_chars
       |FROM documents d
       |LEFT JOIN p ON p.doc_id = d.doc_id
       |LEFT JOIN m ON m.doc_id = d.doc_id
       |ORDER BY d.doc_id""".stripMargin
  }

  val q187NoveltySql: String =
    s"""WITH t AS (SELECT doc_id, $tokSqlExpr AS toks FROM documents),
       |b AS (SELECT doc_id, CASE WHEN len(toks) >= 2
       |    THEN list_distinct(list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1]))
       |    ELSE [] END AS grams FROM t),
       |g AS (SELECT doc_id, unnest(grams) AS gram FROM b),
       |dfq AS (SELECT gram, count(*)::BIGINT AS df FROM g GROUP BY 1),
       |pd AS (SELECT g.doc_id, count(*)::BIGINT AS n_grams,
       |    sum((df = 1)::int)::BIGINT AS n_unique
       |  FROM g JOIN dfq USING (gram) GROUP BY 1)
       |SELECT d.doc_id, coalesce(n_grams, 0)::BIGINT AS n_grams,
       |  coalesce(n_unique, 0)::BIGINT AS n_unique,
       |  CASE WHEN n_grams > 0 THEN round(n_unique::double / n_grams, 4) END AS novelty
       |FROM documents d LEFT JOIN pd ON pd.doc_id = d.doc_id
       |ORDER BY d.doc_id""".stripMargin

  // MinHash-LSH parameters shared by the Spark plan and the generated
  // oracle. Band shape sets the s-curve midpoint (1/b)^(1/r): 4 bands of
  // 4 rows → ~0.71, the right curve for near-dup detection (high recall
  // above ~0.8 similarity, sharp candidate cutoff below). The round-1
  // shape (8 bands × 2 rows, midpoint 0.35) admitted >50% of pairs on a
  // corpus whose random cross-doc Jaccard is ~0.3 — candidate volume was
  // the whole verify-stage cost.
  private val MhShingleN = 2
  private val MhNumHashes = 16
  private val MhBands = 4
  private val MhThreshold = 0.5

  /** MinHash + LSH near-dup pairs over bigram shingles (chunked-md5
    * signatures so DuckDB reproduces the identical signatures/bands at 2
    * md5 calls per shingle instead of 16 — see
    * [[graft.functions.TextFunctions.minhashSignatureMd5Chunked]]). */
  def q20MinhashLsh(spark: SparkSession, dir: String): DataFrame =
    Dedup.minhashLshPairs(Tables.documents(spark, dir), "doc_id", "text",
        shingleN = MhShingleN, numHashes = MhNumHashes, bands = MhBands,
        threshold = MhThreshold, sigFn = minhashSignatureMd5Chunked)
      .orderBy(col("id1"), col("id2"))

  val q20MinhashLshSql: String = {
    val rows = MhNumHashes / MhBands
    val sigEntries = (0 until MhNumHashes).map { i =>
      val seed = i / 8
      val pos = (i % 8) * 4 + 1
      s"list_min(list_apply(g, e -> ('0x' || substring(md5('$seed:' || e), $pos, 4))::BIGINT))"
    }.mkString(",\n    ")
    s"""WITH raw AS (SELECT doc_id, $tokSqlExpr AS t FROM documents),
       |docs AS (
       |  SELECT doc_id AS id,
       |    list_distinct([t[i] || ' ' || t[i+1] FOR i IN range(1, len(t))]) AS g
       |  FROM raw WHERE len(t) >= $MhShingleN),
       |sig AS (SELECT id, g, [
       |    $sigEntries
       |  ] AS sig FROM docs WHERE len(g) > 0),
       |bands AS (
       |  SELECT id, b.band,
       |    md5(array_to_string(sig[b.band * $rows + 1 : b.band * $rows + $rows], ',')) AS key
       |  FROM sig, range($MhBands) b(band)),
       |cand AS (
       |  SELECT DISTINCT a.id AS id1, b.id AS id2
       |  FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key AND a.id < b.id)
       |SELECT * FROM (
       |  SELECT id1, id2,
       |    round(CASE WHEN len(list_distinct(list_concat(d1.g, d2.g))) = 0 THEN 0.0
       |          ELSE len(list_intersect(d1.g, d2.g))::double
       |               / len(list_distinct(list_concat(d1.g, d2.g))) END, 4) AS jaccard
       |  FROM cand JOIN docs d1 ON cand.id1 = d1.id JOIN docs d2 ON cand.id2 = d2.id)
       |WHERE jaccard >= $MhThreshold ORDER BY id1, id2""".stripMargin
  }

  // winnowing parameters shared by the Spark plan and the oracle
  private val WinK = 5
  private val WinW = 4

  /** Rolling-hash document fingerprinting (winnowing): per doc, the
    * count of selected fingerprints and a digest of the sorted set —
    * compact output, but the hash gate still covers k-gram hashing,
    * window-min selection, dedup and ordering end-to-end. Runs the
    * codegen [[graft.expressions.WinnowMd5]] form — bit-identical to the
    * HOF definition the oracle mirrors (equivalence spec-pinned), ~6×
    * cheaper than the interpreted per-gram lambdas. */
  def q29Winnow(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).select(
      col("doc_id"),
      winnowFingerprintsMd5(col("text"), WinK, WinW).as("fps"))
      .select(col("doc_id"),
        size(col("fps")).cast("long").as("n_fps"),
        md5(concat_ws(",", col("fps"))).as("winnow_sig"))
      .orderBy(col("doc_id"))

  /** The md5-winnow CTE prologue (k-gram hashing + window-min selection)
    * shared by the q29 oracle and q42's total_md5 anchor — one definition
    * so the two gates can never silently desynchronize. */
  private val winnowMd5Cte: String =
    s"""WITH t AS (SELECT doc_id, lower(text) AS s FROM documents),
       |g AS (SELECT doc_id,
       |        [substring(md5(s[i : i + ${WinK - 1}]), 1, 8)
       |         FOR i IN range(1, len(s) - ${WinK - 2})] AS hs
       |      FROM t),
       |m AS (SELECT doc_id,
       |        CASE WHEN len(hs) < $WinW THEN []::VARCHAR[]
       |             ELSE list_sort(list_distinct(
       |               [list_min(hs[j : j + ${WinW - 1}])
       |                FOR j IN range(1, len(hs) - ${WinW - 2})])) END AS fps
       |      FROM g)""".stripMargin

  val q29WinnowSql: String =
    s"""$winnowMd5Cte
       |SELECT doc_id, len(fps)::bigint AS n_fps,
       |  md5(array_to_string(fps, ',')) AS winnow_sig
       |FROM m ORDER BY doc_id""".stripMargin

  // q42 edit strings (lowercase: they bypass the lower() the text goes
  // through). Longer than k+w so the edited region generates full windows.
  private val WinEditPrefix = "prepended preamble sentence for the winnow gate. "
  private val WinEditSuffix = " appended sentinel tail for the winnow gate."

  /** q42: the PRODUCTION winnower under the driver's gate. q29 gates the
    * md5-hex oracle form; this entry certifies the codegen Rabin-Karp form
    * ([[graft.expressions.WinnowRk]], what a 100 TB run calls) via
    * in-engine invariants that are EXACT for a correct implementation:
    *
    *  - `append_subset_ok` / `prepend_subset_ok`: appending or prepending
    *    text leaves every original byte k-gram and every original length-w
    *    window intact (gram hashes are position-independent functions of
    *    the gram's bytes), so the original fingerprint set must be a
    *    SUBSET of the edited document's — the winnowing locality guarantee
    *    (Schleimer et al. §2), not a tolerance. The prepend case has the
    *    sharpest teeth: any positional leakage in the rolling-hash state
    *    shifts every gram hash and empties the intersection.
    *  - `count_band_ok`: total selected-fingerprint count within a band of
    *    the md5 form's total (same selection scheme, different hash
    *    family; byte-grams vs char-grams diverge only on multi-byte text).
    *
    * Anchors the oracle computes: `n_docs` and the md5 form's total
    * fingerprint count (the q29 pipeline's sum). */
  def q42WinnowRk(spark: SparkSession, dir: String): DataFrame = {
    val s = lower(col("text"))
    val per = Tables.documents(spark, dir).select(
        winnowFingerprintsRk(s, WinK, WinW).as("rk"),
        winnowFingerprintsRk(concat(s, lit(WinEditSuffix)), WinK, WinW).as("rk_app"),
        winnowFingerprintsRk(concat(lit(WinEditPrefix), s), WinK, WinW).as("rk_pre"),
        size(winnowFingerprintsMd5(col("text"), WinK, WinW)).as("n_m5"))
      .select(
        size(col("rk")).as("n_rk"),
        col("n_m5"),
        size(array_intersect(col("rk"), col("rk_app"))).as("sh_app"),
        size(array_intersect(col("rk"), col("rk_pre"))).as("sh_pre"))
    per.agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_m5")).as("total_md5"),
        (sum(when(col("sh_app") =!= col("n_rk"), 1).otherwise(0)) === 0)
          .as("append_subset_ok"),
        (sum(when(col("sh_pre") =!= col("n_rk"), 1).otherwise(0)) === 0)
          .as("prepend_subset_ok"),
        (sum(col("n_rk")) >= sum(col("n_m5")) * 0.5 &&
         sum(col("n_rk")) <= sum(col("n_m5")) * 1.5).as("count_band_ok"))
      .select(col("n_docs").cast("long").as("n_docs"),
        col("total_md5").cast("long").as("total_md5"),
        col("append_subset_ok"), col("prepend_subset_ok"), col("count_band_ok"))
  }

  val q42WinnowRkSql: String =
    s"""$winnowMd5Cte
       |SELECT count(*)::BIGINT AS n_docs, sum(len(fps))::BIGINT AS total_md5,
       |  TRUE AS append_subset_ok, TRUE AS prepend_subset_ok,
       |  TRUE AS count_band_ok
       |FROM m""".stripMargin

  // Production-LSH gate parameters: threshold 0.8 — above the 4×4
  // s-curve's midpoint (≈0.71), where LSH recall is high by design
  // (per-pair find rate 1-(1-t⁴)⁴ ≈ 0.88 at t=0.8) and the exact
  // prefix-filter reference is CHEAP (prefix length ~0.2|g| vs ~0.3|g|
  // at t=0.7 — the reference computation was 23% of the whole round-3
  // bench, taxing every measurement round). The anchor loses nothing:
  // the fixture's qualifying pairs all sit at >= 0.8, so n_exact is
  // IDENTICAL at 0.7 and 0.8 (verified in DuckDB at sf0.001: 28 = 28,
  // sf0.01: 25 = 25) and measured LSH recall stays 1.0. minRecall 0.6
  // keeps >2x margin under both the theoretical rate and the measured
  // value; DedupSpec proves the gate still fails when the LSH side is
  // broken (per-doc-unique band keys -> zero candidates).
  private val MhGateThreshold = 0.8
  private val MhGateMinRecall = 0.6

  /** Production MinHash+LSH variant: xxhash64 signatures (one cheap 64-bit
    * hash per shingle instead of the oracle's 16 string-md5 digests) plus
    * the hot-bucket skew cap. DuckDB has no xxhash64, so the PAIRS can't
    * hash-match an oracle — instead the entry emits the
    * [[graft.operators.Dedup.minhashLshGate]] tolerance row: the exact
    * prefix-filter pair count as the anchor plus subset/recall booleans,
    * all computed in-engine from one shared gram projection.
    * The oracle brute-forces the same bigram Jaccard count and emits
    * literal TRUEs.
    *
    * The gate runs on a DETERMINISTIC THIRD of the corpus (doc_id % 3 = 0,
    * oracle-anchored on the same subsample): the exact reference
    * computation exists only to certify the LSH pipeline, and its cost —
    * 23% of the whole round-3 bench — taxed every measurement round.
    * A third of the docs cuts both self-joins' fan-out ~9×; the anchor
    * stays non-trivial (5 exact pairs at sf0.001, 3 at sf0.01) and recall
    * is still measured against every surviving planted pair (measured
    * 1.0 — xxhash64 is deterministic, so this is a fixed property of
    * corpus + parameters, not a sample). A deployment runs
    * [[graft.operators.Dedup.minhashLshPairs]] on the full corpus — the
    * subsample is gate economics, not operator semantics (the gate
    * certifies the pipeline's correctness, which does not vary with which
    * half of the corpus it reads). */
  def q20bMinhashXxh(spark: SparkSession, dir: String): DataFrame =
    Dedup.minhashLshGate(
        Tables.documents(spark, dir).filter(col("doc_id") % 3 === 0),
        "doc_id", "text",
        shingleN = MhShingleN, numHashes = MhNumHashes, bands = MhBands,
        threshold = MhGateThreshold, minRecall = MhGateMinRecall,
        maxBucketSize = Some(1000))

  val q20bMinhashXxhSql: String =
    s"""WITH raw AS (SELECT doc_id, $tokSqlExpr AS t FROM documents
       |             WHERE doc_id % 3 = 0),
       |docs AS (
       |  SELECT doc_id AS id,
       |    list_distinct([t[i] || ' ' || t[i+1] FOR i IN range(1, len(t))]) AS g
       |  FROM raw WHERE len(t) >= $MhShingleN),
       |pairs AS (
       |  SELECT round(CASE WHEN len(list_distinct(list_concat(a.g, b.g))) = 0 THEN 0.0
       |        ELSE len(list_intersect(a.g, b.g))::double
       |             / len(list_distinct(list_concat(a.g, b.g))) END, 4) AS jaccard
       |  FROM docs a JOIN docs b ON a.id < b.id)
       |SELECT count(*)::BIGINT AS n_exact, TRUE AS subset_ok,
       |  TRUE AS recall_ok
       |FROM pairs WHERE jaccard >= $MhGateThreshold""".stripMargin

  // CMS gate parameters (q38): ε = e/width ≈ 0.0013 → overcount slack
  // ceil(ε·N) per the standard CMS bound; depth 4 → the bound holds
  // w.p. 1-e⁻⁴ per query, and the sketch + hashes are deterministic, so
  // the gate is a fixed property of corpus + parameters.
  private val CmsDepth = 4
  private val CmsWidth = 2048
  private val CmsTopK = 20

  /** Boilerplate-shingle detection (q38): the top-`CmsTopK` bigram
    * shingles by document frequency — the corpus-wide repeated-fragment
    * signal an LLM data pipeline uses to strip boilerplate — with the
    * [[graft.functions.GraftUdfs.CmsSketchAggregator]] count-min sketch
    * estimating each top shingle's frequency next to the exact count.
    * Gate: `n_docs` (exact DF — the oracle-computable anchor) and
    * `cms_ok` — the CMS estimate within its one-sided error band
    * [exact, exact + ceil(e/width · N)] (a CMS never undercounts; the
    * overcount bound is the sketch's ε·N guarantee). All plan-side: the
    * sketch is one mergeable global aggregate, estimates are the same
    * codegen'd xxhash64 expressions that fed it, and the only driver
    * values are observed-metric-free 1-row cross joins. */
  def q38Boilerplate(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.functions.GraftUdfs
    val grams = Tables.documents(spark, dir)
      .select(array_distinct(shingles(col("text"), MhShingleN)).as("gs"))
      .filter(size(col("gs")) > 0)
      .select(explode(col("gs")).as("g"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val counts = grams.groupBy("g").agg(count(lit(1)).as("cnt"))
    val top = counts.orderBy(col("cnt").desc, col("g").asc).limit(CmsTopK)
    val sketch = grams
      .select(GraftUdfs.cmsPositions(col("g"), CmsDepth, CmsWidth).as("pos"))
      .as[Seq[Long]]
      .select(new GraftUdfs.CmsSketchAggregator(CmsDepth, CmsWidth)
        .toColumn.name("sk")) // TypedColumn.name keeps the typed select API
      .toDF("sk")
    // n_total = Σ per-gram counts = the exploded row count — a cached
    // scan count, not a second groupBy shuffle over the grams frame
    val total = grams.agg(count(lit(1)).as("n_total"))
    val out = top.crossJoin(sketch).crossJoin(total)
      .select(col("g").as("gram"), col("cnt").as("n_docs"),
        GraftUdfs.cmsEstimate(col("sk"), col("g"), CmsDepth, CmsWidth).as("est"),
        ceil(col("n_total") * (math.E / CmsWidth)).as("slack"))
      .select(col("gram"), col("n_docs"),
        (col("est") >= col("n_docs") &&
          col("est") <= col("n_docs") + col("slack")).as("cms_ok"))
      .orderBy(col("n_docs").desc, col("gram"))
      .localCheckpoint(true)
    grams.unpersist()
    out
  }

  val q38BoilerplateSql: String =
    s"""WITH raw AS (SELECT doc_id, $tokSqlExpr AS t FROM documents),
       |g AS (SELECT unnest(list_distinct([t[i] || ' ' || t[i+1] FOR i IN range(1, len(t))])) AS gram
       |      FROM raw WHERE len(t) >= $MhShingleN)
       |SELECT gram, count(*) AS n_docs, TRUE AS cms_ok
       |FROM g GROUP BY gram ORDER BY n_docs DESC, gram LIMIT $CmsTopK""".stripMargin

  /** SimHash near-dup pairs (hamming <= 3 over 64-bit signatures as two
    * 32-bit words, 16-bit-chunk join candidate generation with
    * pigeonhole-guaranteed recall). */
  def q21Simhash(spark: SparkSession, dir: String): DataFrame =
    Dedup.simhashPairs(Tables.documents(spark, dir), "doc_id", "text", maxHamming = 3)
      .orderBy(col("id1"), col("id2"))

  // Misra-Gries gate parameters (q55): k=64 → guaranteed presence of
  // every token with count > n/(k+1) ≈ 418 on the sf0.01 fixture, where
  // the 20th-ranked token sits at ~886 — 2× headroom, so the presence
  // boolean is a structural guarantee, not a lucky sample.
  private val MgK = 64
  private val MgTopK = 20

  /** q55: heavy hitters via the [[graft.functions.GraftUdfs.MisraGriesAggregator]]
    * Misra-Gries summary — "which tokens are frequent" in one mergeable
    * global aggregate (≤ k pairs shuffle per partition), certified
    * against the exact top-`MgTopK` counts computed alongside:
    *
    *  - `n_exact` per top token: the oracle-computable anchor;
    *  - `in_mg`: the structural guarantee — any token with true count
    *    > n/(k+1) MUST appear in the summary (vacuously true below the
    *    bound, which the fixture's top-20 clears 2×);
    *  - `band_ok`: the estimate never overcounts and undercounts by at
    *    most n/(k+1) — the Misra-Gries bound, which survives arbitrary
    *    partial-merge orders, so the gate is stable under any Spark
    *    partitioning even though exact summary contents are not.
    * The oracle emits the anchors + literal TRUEs (q26 pattern). */
  def q55HeavyHitters(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.functions.GraftUdfs
    val toks = Tables.documents(spark, dir)
      .select(explode(tokens(col("text"))).as("tk"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val top = toks.groupBy(col("tk")).agg(count(lit(1)).as("n_exact"))
      .orderBy(col("n_exact").desc, col("tk").asc).limit(MgTopK)
    val summary = toks.as[String]
      .select(new GraftUdfs.MisraGriesAggregator(MgK).toColumn.name("mg"))
      .toDF("mg")
    val total = toks.agg(count(lit(1)).as("n_total"))
    val out = top.crossJoin(summary).crossJoin(total)
      .withColumn("slack", floor(col("n_total") / (MgK + 1)))
      .withColumn("est", element_at(col("mg"), col("tk")))
      .select(col("tk").as("token"), col("n_exact"),
        (col("n_exact") <= col("slack") || col("est").isNotNull).as("in_mg"),
        (col("est").isNull ||
          (col("est") <= col("n_exact") &&
           col("est") >= col("n_exact") - col("slack"))).as("band_ok"))
      .orderBy(col("n_exact").desc, col("token").asc)
      .localCheckpoint(true)
    toks.unpersist()
    out
  }

  val q55HeavyHittersSql: String =
    s"""WITH t AS (SELECT unnest($tokSqlExpr) AS token FROM documents)
       |SELECT token, count(*)::BIGINT AS n_exact,
       |  TRUE AS in_mg, TRUE AS band_ok
       |FROM t GROUP BY token
       |ORDER BY n_exact DESC, token LIMIT $MgTopK""".stripMargin

  /** The q21 pair pipeline as reusable CTEs ending in
    * `pairs(id1, id2, hamming)` — shared verbatim by the q21 oracle, the
    * q52 clustering oracle, and (over the funnel's uniq subset) the q56
    * near-dup-funnel oracle, so all three gates agree on the edge set by
    * construction. `src` is the relation the signatures are computed
    * over; it must expose `doc_id` and `text`. Internal CTE names are
    * sp_-prefixed so callers can splice these next to their own CTEs. */
  /** `scopeCol`: carry a scope column through the signature CTEs and
    * restrict candidate pairs to equal scopes — the oracle form of
    * [[graft.operators.Dedup.simhashCrossPairs]]'s `extraKeys` sharding
    * (q229). `sp_sig` then also exposes `scope`. */
  private[operators] def simhashPairsCtes(src: String = "documents",
                                          scopeCol: Option[String] = None): String = {
    def bitTerms(hs: String): String = (0 until 32).map { j =>
      s"(CASE WHEN list_sum(list_apply($hs, h -> CASE WHEN (h & ${1L << j}) != 0 THEN 1 ELSE -1 END)) >= 0 THEN ${1L << j} ELSE 0 END)"
    }.mkString("\n  + ")
    val sc = scopeCol.map(c => s"$c AS scope, ").getOrElse("")
    val scPass = scopeCol.map(_ => "scope, ").getOrElse("")
    val scJoin = scopeCol.map(_ => " AND a.scope = b.scope").getOrElse("")
    s"""sp_t AS (SELECT doc_id AS id, ${sc}list_distinct($tokSqlExpr) AS g FROM $src),
       |sp_h AS (SELECT id, $scPass
       |        list_apply(g, x -> ('0x' || substring(md5(x), 1, 8))::BIGINT) AS h_lo,
       |        list_apply(g, x -> ('0x' || substring(md5(x), 9, 8))::BIGINT) AS h_hi
       |      FROM sp_t WHERE len(g) > 0),
       |sp_sig AS MATERIALIZED (SELECT id, $scPass(${bitTerms("h_lo")}) AS sh_lo, (${bitTerms("h_hi")}) AS sh_hi FROM sp_h),
       |sp_chunks AS MATERIALIZED (SELECT id, ${scPass}sh_lo, sh_hi, c.chunk,
       |           CASE WHEN c.chunk = 0 THEN sh_lo & 65535
       |                WHEN c.chunk = 1 THEN (sh_lo >> 16) & 65535
       |                WHEN c.chunk = 2 THEN sh_hi & 65535
       |                ELSE (sh_hi >> 16) & 65535 END AS cval
       |           FROM sp_sig, range(4) c(chunk)),
       |sp_cand AS (SELECT DISTINCT a.id AS id1, b.id AS id2,
       |                a.sh_lo AS al, a.sh_hi AS ah, b.sh_lo AS bl, b.sh_hi AS bh
       |         FROM sp_chunks a JOIN sp_chunks b
       |         ON a.chunk = b.chunk AND a.cval = b.cval AND a.id < b.id$scJoin),
       |pairs AS MATERIALIZED (SELECT id1, id2,
       |            (bit_count(xor(al, bl)) + bit_count(xor(ah, bh)))::bigint AS hamming
       |          FROM sp_cand
       |          WHERE (bit_count(xor(al, bl)) + bit_count(xor(ah, bh))) <= 3)""".stripMargin
  }

  val q21SimhashSql: String =
    s"""WITH ${simhashPairsCtes()}
       |SELECT id1, id2, hamming FROM pairs ORDER BY id1, id2""".stripMargin

  /** q52: duplicate-CLUSTER formation — connected components over the q21
    * simhash pair set ([[Dedup.connectedComponents]]), one row per
    * clustered document with its cluster id (= min doc_id in the
    * component, the canonical survivor). The oracle recomputes the SAME
    * edge set (shared CTEs with q21) and closes it with the certified
    * unrolled closure ([[OracleSql.closureCtes]])
    * (min reachable id), so the gate certifies the iterative Spark
    * fixpoint against an independent transitive-closure formulation —
    * including the transitive chains a~b~c where a~c is NOT itself a
    * simhash pair, which is precisely what pair-level gates cannot see. */
  def q52DedupClusters(spark: SparkSession, dir: String): DataFrame =
    Dedup.connectedComponents(
        Dedup.simhashPairs(Tables.documents(spark, dir), "doc_id", "text",
          maxHamming = 3))
      .select(col("id").as("doc_id"), col("comp").as("cluster_id"))
      .orderBy(col("doc_id"))

  val q52DedupClustersSql: String =
    s"""WITH ${simhashPairsCtes()},
       |${OracleSql.closureCtes("pairs")}
       |SELECT id AS doc_id, comp AS cluster_id
       |FROM clus ORDER BY doc_id""".stripMargin

  // Chunking gate parameters (q67).
  private val ChunkSize = 32
  private val ChunkOverlap = 8

  /** Sliding-window DOCUMENT CHUNKING — the ingestion op RAG pipelines
    * and context-window packing both start from: split each document's
    * token stream into windows of `chunkSize` tokens advancing by
    * `chunkSize - overlap`, the last window holding the remainder.
    * Chunk count is max(1, ceil((len − overlap) / stride)) — windows
    * tile the document with exactly `overlap` tokens shared between
    * neighbors, and no chunk is ever fully contained in its
    * predecessor. Empty documents emit nothing. Returns one row per
    * chunk: (id, chunk_id, n_chunk_tokens, chunk_text) with chunk_text
    * the space-joined normalized tokens.
    *
    * Scale: a pure narrow map — tokenize once per document (let-bound),
    * slice per chunk; output volume ≤ len/stride + 1 rows per doc, no
    * shuffle of any kind. The chunk arithmetic is all integer, so the
    * DuckDB oracle reproduces every boundary exactly. */
  def chunkDocuments(df: DataFrame, idCol: String, textCol: String,
                     chunkSize: Int, overlap: Int): DataFrame = {
    require(chunkSize >= 1 && overlap >= 0 && overlap < chunkSize,
      s"need 0 <= overlap < chunkSize, got chunkSize=$chunkSize overlap=$overlap")
    val stride = chunkSize - overlap
    import graft.functions.TextFunctions.bind
    val chunks = bind(tokens(col(textCol))) { toks =>
      val len = size(toks)
      val nc = greatest(lit(1),
        floor((len - lit(overlap) + lit(stride - 1)) / lit(stride)).cast("int"))
      transform(sequence(lit(0), nc - 1), i =>
        struct(i.as("chunk_id"),
          slice(toks, i * stride + 1, lit(chunkSize)).as("ctoks")))
    }
    df.select(col(idCol).as("id"), explode(chunks).as("c"))
      .select(col("id"), col("c.chunk_id").cast("long").as("chunk_id"),
        size(col("c.ctoks")).cast("long").as("n_chunk_tokens"),
        concat_ws(" ", col("c.ctoks")).as("chunk_text"))
      .filter(col("n_chunk_tokens") > 0) // empty docs emit nothing
  }

  /** q67: chunking over the documents fixture, row-level exact — every
    * boundary, overlap, and remainder tail value-checked. */
  def q67Chunks(spark: SparkSession, dir: String): DataFrame =
    chunkDocuments(Tables.documents(spark, dir), "doc_id", "text",
        ChunkSize, ChunkOverlap)
      .withColumnRenamed("id", "doc_id")
      .orderBy(col("doc_id"), col("chunk_id"))

  val q67ChunksSql: String = {
    val stride = ChunkSize - ChunkOverlap
    s"""WITH t AS (SELECT doc_id, $tokSqlExpr AS t FROM documents),
       |n AS (SELECT doc_id, t, len(t) AS L,
       |      greatest(1, (len(t) - $ChunkOverlap + ${stride - 1}) // $stride) AS nc
       |      FROM t WHERE len(t) > 0),
       |c AS (SELECT doc_id, unnest(range(nc))::BIGINT AS chunk_id, t, L FROM n)
       |SELECT doc_id, chunk_id,
       |  len(t[chunk_id * $stride + 1 : least(chunk_id * $stride + $ChunkSize, L)])::BIGINT
       |    AS n_chunk_tokens,
       |  array_to_string(t[chunk_id * $stride + 1 : least(chunk_id * $stride + $ChunkSize, L)], ' ')
       |    AS chunk_text
       |FROM c ORDER BY doc_id, chunk_id""".stripMargin
  }

  // Decontamination gate parameters (q60): 3-token shingles, every 97th
  // doc plays the held-out eval set.
  private val DecontN = 3
  private val DecontMod = 97

  /** Benchmark DECONTAMINATION — the training-data hygiene operator the
    * curation funnel family was missing: flag training documents that
    * share word n-gram shingles with a held-out evaluation set, so they
    * can be dropped before training (eval contamination inflates
    * benchmark scores; n-gram overlap is the standard detection, e.g.
    * the GPT-3/PaLM appendix methodology). Returns one row per
    * contaminated training doc with its distinct-shared-shingle count —
    * callers threshold `n_shared` and anti-join, exactly like q56's
    * survivor deletion.
    *
    * Scale: the eval side is BOUNDED (benchmarks are thousands of
    * documents, not billions) — its distinct shingle set is broadcast,
    * so the corpus-side scan never shuffles to discover hits; the only
    * exchange carries (contaminated doc, partial count) pairs, which is
    * hit volume, not corpus volume. The corpus side streams through
    * explode → broadcast-hash probe inside one stage. At a real 100 TB
    * run the eval shingle set is also the thing you'd hash to 64-bit
    * (xxhash64) to shrink the broadcast — kept as raw strings here so
    * the DuckDB oracle mirrors exactly. */
  def contaminatedDocs(train: DataFrame, evalDocs: DataFrame,
                       idCol: String, textCol: String, n: Int,
                       carryCols: Seq[String] = Seq.empty): DataFrame = {
    // carryCols: extra train-side columns carried through the grouping
    // (e.g. q60's lang, q70's chunk_id) — previously a hardcoded
    // col("lang") that broke any train frame without that column
    val keys = (idCol +: carryCols).map(col)
    val evalGrams = evalDocs
      .select(explode(array_distinct(shingles(col(textCol), n))).as("g"))
      .distinct()
    train
      .select(keys :+ explode(array_distinct(shingles(col(textCol), n))).as("g"): _*)
      .join(broadcast(evalGrams), Seq("g"))
      .groupBy(keys: _*)
      .agg(count(lit(1)).as("n_shared"))
  }

  /** q60: decontamination over the documents fixture — every
    * `DecontMod`-th doc is the pretend eval set; the gate lists each
    * contaminated training doc with its shared-shingle count. The
    * fixture's heavy near-dup population guarantees non-vacuity (a
    * near-dup of an eval doc shares nearly all its shingles). */
  def q60Decontaminate(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    contaminatedDocs(
        docs.filter(col("doc_id") % DecontMod =!= 0),
        docs.filter(col("doc_id") % DecontMod === 0),
        "doc_id", "text", DecontN, carryCols = Seq("lang"))
      .orderBy(col("doc_id"))
  }

  val q60DecontaminateSql: String = {
    // 3-gram comprehension over the 1-indexed token list; range(1, x) is
    // empty for x <= 1, so short docs need no guard
    val tri = s"[t[i] || ' ' || t[i+1] || ' ' || t[i+2] FOR i IN range(1, len(t) - 1)]"
    s"""WITH ev AS (
       |  SELECT DISTINCT unnest(list_distinct($tri)) AS g
       |  FROM (SELECT $tokSqlExpr AS t FROM documents WHERE doc_id % $DecontMod = 0)),
       |tr AS (
       |  SELECT doc_id, lang, unnest(list_distinct($tri)) AS g
       |  FROM (SELECT doc_id, lang, $tokSqlExpr AS t FROM documents
       |        WHERE doc_id % $DecontMod != 0))
       |SELECT doc_id, lang, count(*)::BIGINT AS n_shared
       |FROM tr JOIN ev USING (g)
       |GROUP BY doc_id, lang ORDER BY doc_id""".stripMargin
  }

  /** q179: INCREMENTAL decontamination — the q171 × q60 composition a
    * GROWING corpus actually runs: once the standing corpus is
    * decontaminated, the nightly question is only "is the NEW data
    * clean?", so the probe reads the catalog CHANGE FEED (the v1→v2
    * 'added' rows — drift-sized, never the corpus) and only those docs
    * probe the broadcast eval shingle set. Decontamination cost becomes
    * ∝ drift: the standing corpus is never re-scanned — the same
    * economics argument as q171's replay. The gate commits v1 (the
    * standing corpus), v2 (v1 + the new crawl), extracts the added docs
    * through [[MergeQueries.catalogChanges]], and the contaminated-doc
    * rows gate against q60's oracle restated over exactly the added
    * split — a doc the feed missed, or a standing doc the engine
    * re-probed into the output, fails the hash. */
  def q179IncrDecontam(spark: SparkSession, dir: String): DataFrame = {
    import graft.sinks.VersionCatalog
    val base = java.nio.file.Files.createTempDirectory("graft_q179_")
    val fs = new org.apache.hadoop.fs.Path(base.toString)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    try {
      val cat = s"$base/catalog"
      val docs = Tables.documents(spark, dir)
        .select(col("doc_id"), col("lang"), col("text"))
        .localCheckpoint(true) // feeds both version frames and the eval set
      VersionCatalog.commit(spark, cat, docs.filter(col("doc_id") % 3 =!= 1))
      VersionCatalog.commit(spark, cat, docs)
      val added = MergeQueries
        .catalogChanges(spark, cat, 1L, "doc_id", Seq("lang", "text"))
        .filter(col("status") === "added")
        .select(col("doc_id"), col("lang"), col("text"))
      contaminatedDocs(
          added.filter(col("doc_id") % DecontMod =!= 0),
          docs.filter(col("doc_id") % DecontMod === 0),
          "doc_id", "text", DecontN, carryCols = Seq("lang"))
        .orderBy(col("doc_id"))
        .localCheckpoint(true) // materialize before the catalog dir dies
    } finally {
      fs.delete(new org.apache.hadoop.fs.Path(base.toString), true)
    }
  }

  val q179IncrDecontamSql: String = {
    val tri = s"[t[i] || ' ' || t[i+1] || ' ' || t[i+2] FOR i IN range(1, len(t) - 1)]"
    s"""WITH ev AS (
       |  SELECT DISTINCT unnest(list_distinct($tri)) AS g
       |  FROM (SELECT $tokSqlExpr AS t FROM documents WHERE doc_id % $DecontMod = 0)),
       |tr AS (
       |  SELECT doc_id, lang, unnest(list_distinct($tri)) AS g
       |  FROM (SELECT doc_id, lang, $tokSqlExpr AS t FROM documents
       |        WHERE doc_id % 3 = 1 AND doc_id % $DecontMod != 0))
       |SELECT doc_id, lang, count(*)::BIGINT AS n_shared
       |FROM tr JOIN ev USING (g)
       |GROUP BY doc_id, lang ORDER BY doc_id""".stripMargin
  }

  /** q70: CHUNK-level decontamination — the q67 × q60 composition a
    * training pipeline actually ships: whole-doc deletion (q60) throws
    * away an entire long document for one leaked paragraph; chunk-level
    * detection drops only the contaminated chunks. Train docs are
    * chunked ([[chunkDocuments]], q67's exact windows), each chunk's
    * shingles probe the SAME broadcast eval shingle set as q60, and the
    * result is one row per contaminated (doc, chunk) with its
    * distinct-shared-shingle count — callers threshold and anti-join at
    * chunk granularity.
    *
    * Scale: chunking is q67's zero-shuffle narrow map; the probe is
    * q60's broadcast-hash pattern — output rows per CHUNK instead of
    * per doc changes hit volume only, never the exchange structure. */
  def q70ChunkDecontaminate(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val chunks = chunkDocuments(
      docs.filter(col("doc_id") % DecontMod =!= 0),
      "doc_id", "text", ChunkSize, ChunkOverlap)
      .withColumnRenamed("id", "doc_id")
    contaminatedDocs(
        chunks,
        // eval side keeps WHOLE-doc shingles (the leak is the eval text
        // itself, not its chunking); only the train side is windowed
        docs.filter(col("doc_id") % DecontMod === 0)
          .select(col("text").as("chunk_text")),
        "doc_id", "chunk_text", DecontN, carryCols = Seq("chunk_id"))
      .orderBy(col("doc_id"), col("chunk_id"))
  }

  val q70ChunkDecontaminateSql: String = {
    val stride = ChunkSize - ChunkOverlap
    // chunk token slices reuse q67's boundary arithmetic verbatim; the
    // trigram comprehension is q60's over the slice instead of the doc
    def tri(l: String) = s"[$l[i] || ' ' || $l[i+1] || ' ' || $l[i+2] FOR i IN range(1, len($l) - 1)]"
    s"""WITH ev AS (
       |  SELECT DISTINCT unnest(list_distinct(${tri("t")})) AS g
       |  FROM (SELECT $tokSqlExpr AS t FROM documents WHERE doc_id % $DecontMod = 0)),
       |t AS (SELECT doc_id, $tokSqlExpr AS t FROM documents
       |      WHERE doc_id % $DecontMod != 0),
       |n AS (SELECT doc_id, t, len(t) AS L,
       |      greatest(1, (len(t) - $ChunkOverlap + ${stride - 1}) // $stride) AS nc
       |      FROM t WHERE len(t) > 0),
       |c AS (SELECT doc_id, unnest(range(nc))::BIGINT AS chunk_id, t, L FROM n),
       |ch AS (SELECT doc_id, chunk_id,
       |       t[chunk_id * $stride + 1 : least(chunk_id * $stride + $ChunkSize, L)] AS ct
       |       FROM c),
       |tr AS (SELECT doc_id, chunk_id, unnest(list_distinct(${tri("ct")})) AS g FROM ch)
       |SELECT doc_id, chunk_id, count(*)::BIGINT AS n_shared
       |FROM tr JOIN ev USING (g)
       |GROUP BY doc_id, chunk_id ORDER BY doc_id, chunk_id""".stripMargin
  }

  // q117: requested single-probe fpp. Measured reality (pinned in
  // TextQueriesSpec): Spark's util.sketch BloomFilter composes two
  // 32-bit murmur hashes Kirsch–Mitzenmacher-style, which floors the
  // achievable per-probe FP rate around ~2e-4 at small bit arrays no
  // matter how low the requested fpp — so the gate band is sized for
  // the MEASURED rate (a doc probing ~50 shingles sees ~1% any-hit FP),
  // not the requested one.
  private val BloomFpp = 1e-6

  /** q117: BLOOM-FILTER DECONTAMINATION — q60's scale escape hatch. q60
    * broadcasts the eval shingle set as raw strings; once the held-out
    * suite grows past broadcast size (many benchmarks × many shingles),
    * the standard move is a Bloom filter over the eval shingles: ~29
    * bits per entry at fpp 1e-6 versus ~30+ BYTES per raw shingle — an
    * order of magnitude smaller broadcast, in exchange for a bounded
    * false-positive rate and ZERO false negatives (the property
    * decontamination actually needs: a leaked doc can never slip
    * through; a clean doc flagged spuriously just costs a row of
    * over-deletion).
    *
    * Gate (the q26/q50 tolerance-row pattern): one row with exact
    * integer anchors the oracle recomputes (`n_train`, `n_eval`,
    * `n_exact` — the exact contaminated-doc count via q60's rule) and
    * two booleans the oracle asserts TRUE — `no_false_negatives`
    * (every exactly-contaminated doc is Bloom-flagged; guaranteed by
    * construction, so FALSE means the plumbing is broken) and
    * `fp_band` (Bloom flags at most `n_exact + max(5, 2% of n_train)`
    * docs — sized for the sketch's MEASURED ~2e-4 per-probe floor, see
    * the parameter note; the flagged count is deterministic for fixed
    * data + seed, so the band cannot flap).
    *
    * Scale: the filter is built by Spark's native BloomFilterAggregate
    * over the bounded eval side (deterministic — fixed seed), broadcast
    * once, and probed map-side in the corpus scan; the only exchanges
    * aggregate single-row counts. The probe is a scalar UDF — the one
    * place a UDF is the right call, since the probe must consult the
    * broadcast sketch, not a column. */
  def q117BloomDecontam(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val train = docs.filter(col("doc_id") % DecontMod =!= 0)
    val evalDocs = docs.filter(col("doc_id") % DecontMod === 0)
    val evalGrams = evalDocs
      .select(explode(array_distinct(shingles(col("text"), DecontN))).as("g"))
      .distinct().cache() // two driver actions below (count + filter build)
    val nEvalGrams = math.max(evalGrams.count(), 1L)
    val bf = evalGrams.stat.bloomFilter("g", nEvalGrams, BloomFpp)
    // drop the cache immediately: the final plan re-derives the eval side
    // itself, and a lingering cached fragment would silently substitute
    // into OTHER queries' identical subtrees (q60 shares this subplan)
    evalGrams.unpersist()
    val bfB = spark.sparkContext.broadcast(bf)
    val mightContain =
      udf((s: String) => s != null && bfB.value.mightContainString(s))
    val trainGrams = train.select(col("doc_id"),
      explode(array_distinct(shingles(col("text"), DecontN))).as("g"))
    val bloomDocs = trainGrams.filter(mightContain(col("g")))
      .select(col("doc_id")).distinct()
    val exactDocs = contaminatedDocs(train, evalDocs, "doc_id", "text", DecontN)
      .select(col("doc_id"))
    train.agg(count(lit(1)).as("n_train"))
      .crossJoin(evalDocs.agg(count(lit(1)).as("n_eval")))
      .crossJoin(exactDocs.agg(count(lit(1)).as("n_exact")))
      .crossJoin(bloomDocs.agg(count(lit(1)).as("n_bloom")))
      .crossJoin(exactDocs.join(bloomDocs, Seq("doc_id"), "left_anti")
        .agg(count(lit(1)).as("n_missed")))
      .select(
        col("n_train"), col("n_eval"), col("n_exact"),
        (col("n_missed") === 0L).as("no_false_negatives"),
        (col("n_bloom") - col("n_exact") <=
          greatest(lit(5L), expr("2 * (n_train div 100)"))).as("fp_band"))
  }

  val q117BloomDecontamSql: String = {
    val tri = s"[t[i] || ' ' || t[i+1] || ' ' || t[i+2] FOR i IN range(1, len(t) - 1)]"
    s"""WITH ev AS (
       |  SELECT DISTINCT unnest(list_distinct($tri)) AS g
       |  FROM (SELECT $tokSqlExpr AS t FROM documents WHERE doc_id % $DecontMod = 0)),
       |tr AS (
       |  SELECT doc_id, unnest(list_distinct($tri)) AS g
       |  FROM (SELECT doc_id, $tokSqlExpr AS t FROM documents
       |        WHERE doc_id % $DecontMod != 0))
       |SELECT
       |  (SELECT count(*) FROM documents WHERE doc_id % $DecontMod != 0)::BIGINT AS n_train,
       |  (SELECT count(*) FROM documents WHERE doc_id % $DecontMod = 0)::BIGINT AS n_eval,
       |  (SELECT count(DISTINCT doc_id) FROM tr JOIN ev USING (g))::BIGINT AS n_exact,
       |  TRUE AS no_false_negatives,
       |  TRUE AS fp_band""".stripMargin
  }

  /** q59: the SAME clustering as q52 computed by the two-phase
    * large-star/small-star edge rewrite
    * ([[Dedup.connectedComponentsTwoPhase]]) — the per-round
    * edge-volume-bounded form for pair graphs too large for label
    * propagation's per-round (edges ⋈ labels) join. Gated against the
    * IDENTICAL recursive-closure oracle as q52, so the driver
    * hash-proves the two implementations agree with the independent
    * transitive-closure formulation — the q47 pattern (a scale rewrite
    * certified semantics-free), applied to graph clustering. */
  def q59ClustersTwoPhase(spark: SparkSession, dir: String): DataFrame =
    Dedup.connectedComponentsTwoPhase(
        Dedup.simhashPairs(Tables.documents(spark, dir), "doc_id", "text",
          maxHamming = 3))
      .select(col("id").as("doc_id"), col("comp").as("cluster_id"))
      .orderBy(col("doc_id"))

  val q59ClustersTwoPhaseSql: String = q52DedupClustersSql

  /** Per-document repetition statistics — the Gopher/MassiveText
    * repetition quality filters (Rae et al. 2021, appendix A1.1):
    * documents dominated by a repeated n-gram are low-quality training
    * text. Emits, per doc: token counts, the duplicate-word fraction,
    * the most frequent 2-gram with its count and character fraction
    * (ties broken lexicographically-smallest, deterministic in both
    * engines), and the fraction of characters inside DUPLICATED
    * 2-grams.
    *
    * Scale shape: everything a doc needs is IN its row, so the whole
    * computation is a zero-shuffle narrow map — bigrams via
    * `transform(sequence(...))`, then one `aggregate` run-length scan
    * over the SORTED bigram array (O(T log T) per doc, bounded by
    * document length, never corpus size). The oracle is an independent
    * formulation (unnest → GROUP BY → window), so the gate checks
    * semantics, not a mirrored implementation. */
  def repetitionStats(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    // STAGE the token array as a materialized attribute before any
    // lambda touches it: higher-order functions are CodegenFallback, so
    // the interpreted evaluator has NO subexpression elimination — with
    // the tokenizer EXPRESSION embedded in the transform lambda, the
    // regex split re-ran twice per bigram (~120 tokenizations per row,
    // 17 s at sf0.1); against the attribute each element_at is O(1)
    // (measured 36 s → ~2 s isolated). CollapseProject keeps the stage
    // because `toks` is multi-referenced and non-cheap (the q16 rule).
    val staged = docs.select(col(idCol), tokens(col(textCol)).as("toks"))
    val toks = col("toks")
    val norm = array_join(toks, " ")
    val bigrams = when(size(toks) >= 2,
        transform(sequence(lit(0), size(toks) - 2),
          i => concat(element_at(toks, i + 1), lit(" "), element_at(toks, i + 2))))
      .otherwise(array().cast("array<string>"))
    // run-length scan over the sorted bigrams: state carries the open
    // run and the best-so-far; `run > best_cnt` (strict) keeps the
    // FIRST maximal gram in sorted order = the lexicographically
    // smallest on ties, matching the oracle's (cnt DESC, gram ASC)
    val init = struct(lit("").as("prev"), lit(0L).as("run"),
      lit(0L).as("best_cnt"), lit("").as("best_gram"), lit(0L).as("dup_chars"))
    def closeRun(s: Column): (Column, Column, Column) = (
      when(s.getField("run") > s.getField("best_cnt"), s.getField("run"))
        .otherwise(s.getField("best_cnt")),
      when(s.getField("run") > s.getField("best_cnt"), s.getField("prev"))
        .otherwise(s.getField("best_gram")),
      s.getField("dup_chars") +
        when(s.getField("run") > 1,
          s.getField("run") * length(s.getField("prev")).cast("long"))
          .otherwise(lit(0L)))
    val scanned = aggregate(array_sort(bigrams), init,
      (s, x) => {
        val (bc, bg, dc) = closeRun(s)
        when(x === s.getField("prev"),
          struct(s.getField("prev").as("prev"),
            (s.getField("run") + 1).as("run"),
            s.getField("best_cnt").as("best_cnt"),
            s.getField("best_gram").as("best_gram"),
            s.getField("dup_chars").as("dup_chars")))
          .otherwise(
            struct(x.as("prev"), lit(1L).as("run"),
              bc.as("best_cnt"), bg.as("best_gram"), dc.as("dup_chars")))
      },
      s => {
        val (bc, bg, dc) = closeRun(s)
        struct(bc.as("best_cnt"), bg.as("best_gram"), dc.as("dup_chars"))
      })
    staged
      .select(col(idCol), toks, norm.as("norm"), scanned.as("rep"))
      .select(
        col(idCol),
        size(col("toks")).cast("long").as("n_tokens"),
        when(size(col("toks")) > 0,
          round((size(col("toks")) - size(array_distinct(col("toks"))))
            .cast("double") / size(col("toks")), 4)).as("dup_word_frac"),
        when(col("rep.best_cnt") > 0, col("rep.best_gram")).as("top_bigram"),
        when(col("rep.best_cnt") > 0, col("rep.best_cnt")).as("top_bigram_cnt"),
        when(col("rep.best_cnt") > 0,
          round((col("rep.best_cnt") * length(col("rep.best_gram")))
            .cast("double") / length(col("norm")), 4)).as("top_bigram_char_frac"),
        when(size(col("toks")) >= 2,
          round(col("rep.dup_chars").cast("double") / length(col("norm")), 4))
          .as("dup_bigram_char_frac"))
  }

  /** q75: repetition stats over `documents`, row-level exact. */
  def q75Repetition(spark: SparkSession, dir: String): DataFrame =
    repetitionStats(Tables.documents(spark, dir), "doc_id", "text")
      .orderBy(col("doc_id"))

  val q75RepetitionSql: String =
    s"""WITH t AS (SELECT doc_id, $tokSqlExpr AS toks FROM documents),
       |b AS (SELECT doc_id, toks, array_to_string(toks, ' ') AS norm,
       |  CASE WHEN len(toks) >= 2
       |    THEN list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])
       |    ELSE [] END AS bigrams FROM t),
       |g AS (SELECT doc_id, unnest(bigrams) AS gram FROM b),
       |c AS (SELECT doc_id, gram, count(*) AS cnt FROM g GROUP BY 1, 2),
       |top AS (SELECT doc_id, gram, cnt FROM (
       |  SELECT doc_id, gram, cnt,
       |    row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, gram ASC) AS rn
       |  FROM c) WHERE rn = 1),
       |dup AS (SELECT doc_id,
       |  sum(CASE WHEN cnt > 1 THEN cnt * len(gram) ELSE 0 END) AS dup_chars
       |  FROM c GROUP BY 1)
       |SELECT b.doc_id,
       |  len(b.toks)::BIGINT AS n_tokens,
       |  CASE WHEN len(b.toks) > 0 THEN
       |    round((len(b.toks) - len(list_distinct(b.toks)))::double / len(b.toks), 4)
       |  END AS dup_word_frac,
       |  top.gram AS top_bigram,
       |  top.cnt::BIGINT AS top_bigram_cnt,
       |  round((top.cnt * len(top.gram))::double / len(b.norm), 4)
       |    AS top_bigram_char_frac,
       |  CASE WHEN len(b.toks) >= 2 THEN
       |    round(dup.dup_chars::double / len(b.norm), 4)
       |  END AS dup_bigram_char_frac
       |FROM b LEFT JOIN top ON b.doc_id = top.doc_id
       |       LEFT JOIN dup ON b.doc_id = dup.doc_id
       |ORDER BY b.doc_id""".stripMargin

  /** PII patterns for [[redactPii]] — the C4/Dolma-class scrubbing
    * stage. Deliberately conservative, and written in the dialect
    * intersection of Java regex (Spark) and RE2 (DuckDB oracle):
    * `\b`, `\d`, bounded repetition, and non-capturing groups mean the
    * same thing in both, so the gate is EXACT, not a band. Order
    * matters and is part of the contract: counts are taken per pattern
    * on the ORIGINAL text (independent, deterministic even where
    * patterns could overlap), then redaction applies sequentially in
    * list order. */
  val piiPatterns: Seq[(String, String, String)] = Seq(
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ssn", "\\b\\d{3}-\\d{2}-\\d{4}\\b", "<SSN>"),
    ("phone", "\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b", "<PHONE>"),
    ("ip", "\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b", "<IP>"))

  /** Redact PII from `textCol`: emits the input columns plus one
    * `n_<name>` count per pattern (taken on the original text) and
    * `redacted` (patterns applied sequentially). A pure narrow map —
    * `regexp_count`/`regexp_replace` are codegen'd Catalyst
    * expressions, so the stage fuses into whole-stage codegen with
    * ZERO shuffle at any corpus size (pinned in PlanAuditSpec). */
  def redactPii(docs: DataFrame, textCol: String,
                patterns: Seq[(String, String, String)] = piiPatterns): DataFrame = {
    val counted = patterns.foldLeft(docs) { case (df, (name, pat, _)) =>
      df.withColumn(s"n_$name", regexp_count(col(textCol), lit(pat)))
    }
    counted.withColumn("redacted",
      patterns.foldLeft(col(textCol)) { case (c, (_, pat, repl)) =>
        regexp_replace(c, pat, repl)
      })
  }

  /** q74: PII redaction over `documents`. The fixture's synthetic text
    * carries no PII, so the gate PLANTS it deterministically (the
    * q57/q65 construct-your-own-fixture pattern): doc_id-derived
    * emails, SSNs, phones, and IPs appended to disjoint doc subsets,
    * mirrored exactly in the oracle's string concatenation. Emits per
    * doc the four counts plus md5 of the redacted text — row-level
    * exact, so a single divergent replacement anywhere in the corpus
    * fails the hash. */
  def q74PiiRedact(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val planted = docs.withColumn("t",
      concat(col("text"),
        when(col("doc_id") % 7 === 0,
          concat(lit(" contact user"), col("doc_id").cast("string"), lit("@example.com")))
          .otherwise(lit("")),
        when(col("doc_id") % 11 === 0,
          concat(lit(" ssn 123-45-"), (lit(1000) + col("doc_id") % 9000).cast("string")))
          .otherwise(lit("")),
        when(col("doc_id") % 13 === 0,
          concat(lit(" call 555-"), (lit(100) + col("doc_id") % 900).cast("string"), lit("-4567")))
          .otherwise(lit("")),
        when(col("doc_id") % 17 === 0,
          concat(lit(" node 10.0.0."), (col("doc_id") % 250).cast("string")))
          .otherwise(lit(""))))
    redactPii(planted, "t")
      .select(col("doc_id"), col("n_email"), col("n_ssn"), col("n_phone"),
        col("n_ip"), md5(col("redacted")).as("redacted_hash"))
      .orderBy(col("doc_id"))
  }

  val q74PiiRedactSql: String = {
    val planted = Seq(
      "text",
      "CASE WHEN doc_id % 7 = 0 THEN ' contact user' || doc_id || '@example.com' ELSE '' END",
      "CASE WHEN doc_id % 11 = 0 THEN ' ssn 123-45-' || (1000 + doc_id % 9000) ELSE '' END",
      "CASE WHEN doc_id % 13 = 0 THEN ' call 555-' || (100 + doc_id % 900) || '-4567' ELSE '' END",
      "CASE WHEN doc_id % 17 = 0 THEN ' node 10.0.0.' || (doc_id % 250) ELSE '' END"
    ).mkString(" || ")
    val red = piiPatterns.foldLeft("t") { case (expr, (_, pat, repl)) =>
      s"regexp_replace($expr, '$pat', '$repl', 'g')"
    }
    val counts = piiPatterns.map { case (name, pat, _) =>
      s"len(regexp_extract_all(t, '$pat'))::INT AS n_$name"
    }.mkString(",\n  ")
    s"""WITH p AS (SELECT doc_id, $planted AS t FROM documents)
       |SELECT doc_id,
       |  $counts,
       |  md5($red) AS redacted_hash
       |FROM p ORDER BY doc_id""".stripMargin
  }

  /** q88 planted pathologies (the q74 plant-your-own-fixture pattern —
    * the synthetic corpus is pure ASCII): decomposed accents (e +
    * U+0301), a canonical singleton (U+212B Å → U+00C5), tab runs, and
    * a control byte. Shared Scala constants embed the SAME codepoints
    * in the Spark plan and the oracle's SQL literal. */
  private val PlantAccent = " café latte"
  private val PlantAngstrom = " 10Å gap"
  private val PlantTabs = " x\t\t\ty"
  private val PlantCtrl = " ab"

  /** q88: text NORMALIZATION ([[TextFunctions.normalizeText]]) — NFC via
    * the native `graft_nfc` expression, control strip, whitespace
    * collapse, trim. Row-level exact: per doc the normalized-text hash
    * plus before/after char counts (the planted rows shrink — combining
    * pairs compose, tab runs collapse, control bytes vanish). */
  def q88Normalize(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val planted = docs.withColumn("t",
      concat(col("text"),
        when(col("doc_id") % 5 === 1, lit(PlantAccent)).otherwise(lit("")),
        when(col("doc_id") % 5 === 2, lit(PlantAngstrom)).otherwise(lit("")),
        when(col("doc_id") % 7 === 3, lit(PlantTabs)).otherwise(lit("")),
        when(col("doc_id") % 11 === 4, lit(PlantCtrl)).otherwise(lit(""))))
    planted.select(col("doc_id"),
        length(col("t")).cast("long").as("n_chars_before"),
        TextFunctions.normalizeText(col("t")).as("norm"))
      .select(col("doc_id"), col("n_chars_before"),
        length(col("norm")).cast("long").as("n_chars_after"),
        md5(col("norm")).as("norm_hash"))
      .orderBy(col("doc_id"))
  }

  val q88NormalizeSql: String = {
    def sqlLit(s: String): String =
      "'" + s.flatMap {
        case '\'' => "''"
        case c if c < 0x20 || c > 0x7e => f"' || chr(${c.toInt}) || '"
        case c => c.toString
      } + "'"
    val planted = Seq(
      "text",
      s"CASE WHEN doc_id % 5 = 1 THEN ${sqlLit(PlantAccent)} ELSE '' END",
      s"CASE WHEN doc_id % 5 = 2 THEN ${sqlLit(PlantAngstrom)} ELSE '' END",
      s"CASE WHEN doc_id % 7 = 3 THEN ${sqlLit(PlantTabs)} ELSE '' END",
      s"CASE WHEN doc_id % 11 = 4 THEN ${sqlLit(PlantCtrl)} ELSE '' END"
    ).mkString(" || ")
    val ctrl = graft.functions.TextFunctions.controlClass
    s"""WITH p AS (SELECT doc_id, $planted AS t FROM documents),
       |n AS (SELECT doc_id, len(t)::BIGINT AS n_chars_before,
       |  trim(regexp_replace(regexp_replace(nfc_normalize(t), '$ctrl', '', 'g'),
       |    '\\s+', ' ', 'g')) AS norm
       |FROM p)
       |SELECT doc_id, n_chars_before, len(norm)::BIGINT AS n_chars_after,
       |  md5(norm) AS norm_hash
       |FROM n ORDER BY doc_id""".stripMargin
  }

  /** q79 span width: long enough that natural text rarely collides,
    * short enough that the fixture's near-dup population shares spans. */
  private val SpanTokens = 8

  /** q79: duplicated-span masking over `documents` ([[Dedup.spanMask]]),
    * keep-first policy, row-level exact including the kept-text hash. */
  def q79SpanDedup(spark: SparkSession, dir: String): DataFrame =
    Dedup.spanMask(Tables.documents(spark, dir), "doc_id", "text", SpanTokens)
      .orderBy(col("doc_id"))

  /** Independent oracle formulation: covered token indices via
    * unnest+range cross join and a list comprehension for the kept
    * sequence (the Spark side merges intervals and filters by span
    * starts — different shape, same semantics). */
  val q79SpanDedupSql: String = {
    val n = SpanTokens
    s"""WITH t AS (SELECT doc_id, $tokSqlExpr AS toks FROM documents),
       |p AS (SELECT doc_id, toks, unnest(CASE WHEN len(toks) >= $n
       |        THEN range(0, len(toks) - ${n - 1}) ELSE [] END) AS pos FROM t),
       |pe AS (SELECT doc_id, pos,
       |        md5(array_to_string(toks[pos+1:pos+$n], ' ')) AS g FROM p),
       |sh AS (SELECT g, min(doc_id) AS first_id FROM pe GROUP BY g
       |       HAVING count(DISTINCT doc_id) >= 2),
       |hits AS (SELECT DISTINCT pe.doc_id, pe.pos FROM pe JOIN sh USING (g)
       |         WHERE pe.doc_id != sh.first_id),
       |cov AS (SELECT DISTINCT doc_id, pos + k AS j
       |        FROM hits CROSS JOIN (SELECT unnest(range(0, $n)) AS k)),
       |agg AS (SELECT doc_id, count(*) AS n_masked FROM cov GROUP BY doc_id),
       |hc AS (SELECT doc_id, count(*) AS n_hits FROM hits GROUP BY doc_id),
       |cj AS (SELECT doc_id, list(j) AS js FROM cov GROUP BY doc_id)
       |SELECT t.doc_id, len(t.toks)::BIGINT AS n_tokens,
       |  coalesce(hc.n_hits, 0)::BIGINT AS n_hits,
       |  coalesce(agg.n_masked, 0)::BIGINT AS n_masked,
       |  CASE WHEN len(t.toks) > 0
       |    THEN round(coalesce(agg.n_masked, 0)::double / len(t.toks), 4) END AS masked_frac,
       |  md5(coalesce(array_to_string([t.toks[j+1] FOR j IN range(0, len(t.toks))
       |    IF NOT list_contains(coalesce(cj.js, []), j)], ' '), '')) AS kept_hash
       |FROM t LEFT JOIN agg USING (doc_id) LEFT JOIN hc USING (doc_id)
       |       LEFT JOIN cj USING (doc_id)
       |ORDER BY t.doc_id""".stripMargin
  }

  // Vocabulary induction gate parameter (q109): small enough that the
  // fixture has a real OOV tail, large enough that coverage is non-trivial.
  private val VocabSize = 512

  /** VOCABULARY INDUCTION + OOV COVERAGE — the first step of tokenizer
    * construction and the coverage report that justifies a vocab size:
    * take the corpus's top-`vocabSize` word types by frequency
    * (deterministic tie-break: count DESC, token ASC), then report each
    * language's token-level coverage against that vocabulary — total
    * tokens, distinct types, in-vocab tokens/types, OOV tokens, and the
    * OOV rate a tokenizer owner alerts on.
    *
    * Scale design: the corpus is scanned ONCE — tokenize + explode is a
    * narrow map, and the only corpus-sized shuffle keys on (lang, token)
    * with map-side partial counts, so what moves is bounded by the TYPE
    * vocabulary per language, not the token stream. Everything downstream
    * runs on that type-count frame (materialized once, referenced three
    * times): the global vocab is a second tiny aggregate + TakeOrdered
    * top-V (no full sort), coverage is a broadcast semi-join of the type
    * frame against the V-row vocab, and the per-language rollups shuffle
    * O(#langs × #types) rows. The OOV rate is one division of exact
    * integers — bit-identical on any engine. At 10¹² tokens the type
    * frame is ~10⁷ rows; if a pathological corpus blows the type count
    * past memory, the same shape runs with the vocab derivation swapped
    * to a count-min + heavy-hitters sketch (q55's family) — the coverage
    * pass is unchanged. */
  /** The (lang, token) type-count frame of a document batch — the ONLY
    * corpus-sized step of [[vocabCoverage]], and the exact frame the
    * incremental path ([[vocabIngest]]) keeps as snapshot state. */
  private[operators] def typeCountsOf(docs: DataFrame, langCol: String,
                                      textCol: String): DataFrame =
    docs.select(col(langCol).as("lang"), explode(tokens(col(textCol))).as("tok"))
      .groupBy(col("lang"), col("tok")).agg(count(lit(1)).as("n"))

  /** The coverage report derived from a (lang, tok, n) type-count frame —
    * factored so the batch path (q109) and the incremental snapshot path
    * (q110) share one derivation: a report over merged state is the
    * report over the whole corpus EXACTLY when the state converged. */
  private[operators] def coverageFromTypeCounts(typeCountsIn: DataFrame,
                                                vocabSize: Int): DataFrame = {
    require(vocabSize >= 1, s"vocabSize must be >= 1, got $vocabSize")
    // referenced by the vocab derivation, the coverage join, and the
    // totals rollup — materialize the type-count frame once
    val typeCounts = typeCountsIn.localCheckpoint(true)
    val vocab = typeCounts.groupBy(col("tok")).agg(sum(col("n")).as("cnt"))
      .orderBy(col("cnt").desc, col("tok").asc).limit(vocabSize)
    val cov = typeCounts
      .join(broadcast(vocab.select(col("tok"))), Seq("tok"), "left_semi")
      .groupBy(col("lang"))
      .agg(sum(col("n")).as("in_vocab_tokens"),
        count(lit(1)).as("n_vocab_types"))
    typeCounts.groupBy(col("lang"))
      .agg(sum(col("n")).as("total_tokens"), count(lit(1)).as("n_types"))
      .join(cov, Seq("lang"), "left")
      .select(col("lang"), col("total_tokens"), col("n_types"),
        coalesce(col("in_vocab_tokens"), lit(0L)).as("in_vocab_tokens"),
        coalesce(col("n_vocab_types"), lit(0L)).as("n_vocab_types"),
        (col("total_tokens") - coalesce(col("in_vocab_tokens"), lit(0L)))
          .as("oov_tokens"),
        ((col("total_tokens") - coalesce(col("in_vocab_tokens"), lit(0L)))
          .cast("double") / col("total_tokens").cast("double")).as("oov_rate"))
      .orderBy(col("lang"))
  }

  def vocabCoverage(docs: DataFrame, langCol: String, textCol: String,
                    vocabSize: Int): DataFrame =
    coverageFromTypeCounts(typeCountsOf(docs, langCol, textCol), vocabSize)

  /** INCREMENTAL VOCABULARY INGEST — additive type-count state under
    * at-least-once delivery: the q85 aggregate-state pattern applied to
    * an UNBOUNDED key space. Where the report ledger's state is one row
    * per fixed stratum, the vocabulary snapshot holds one row per
    * OBSERVED (lang, token) type and grows as the corpus does; each
    * batch folds in by a full-outer count sum over the type key, and a
    * replayed `batchId` is a ledger no-op (additive state double-counts
    * without it — the q85 contract, unchanged).
    *
    * Why keep this state at 100 TB: nightly vocab/OOV refresh over a
    * growing corpus must not re-scan the corpus. Per-batch cost = the
    * batch's own type-count aggregation (the only corpus-sized step)
    * plus a merge proportional to |state| — the type vocabulary
    * (~10⁷ rows at web scale), not the token stream. When |state|
    * itself is the bottleneck, the merge moves to a token-bucketed
    * snapshot layout (the [[graft.sinks.MergeSink]] bucketed discipline)
    * and the state-side exchange disappears; the fold is unchanged.
    * Counts and ledger publish in ONE [[graft.sinks.LedgeredState]]
    * commit, so a crash can never leave the fold applied but
    * unrecorded (the replay-double-count window). */
  def vocabIngest(spark: SparkSession, path: String, batch: DataFrame,
                  batchId: String, langCol: String, textCol: String): Boolean = {
    import graft.sinks.LedgeredState
    if (LedgeredState.absorbed(spark, path, batchId)) return false
    val bs = typeCountsOf(batch, langCol, textCol)
    val merged = LedgeredState.readPart(spark, path, "counts") match {
      case Some(st) => st.unionByName(bs)
        .groupBy(col("lang"), col("tok")).agg(sum(col("n")).as("n"))
      case None => bs
    }
    LedgeredState.commit(spark, path, batchId, Seq("counts" -> merged))
    true
  }

  /** [[vocabIngest]]'s fold against the MANIFESTED merge snapshot — the
    * token-bucketed layout the scaladoc above promises for when |state|
    * becomes the bottleneck: counts live keyed by lang+token under hash
    * buckets, each batch reads ONLY the buckets its own types hash to
    * (`recomputeUpdates` sums batch counts into the existing rows per
    * publish attempt, so a CAS loser re-adds against the winner's head
    * — additive correctness under contention), and the batch ledger
    * rides the SAME commit (`txn`), so a whole-batch replay no-ops on
    * the metadata read alone. Day cost ∝ batch vocab + touched-bucket
    * bytes, never |state| — the SCALE.md round-17 vocab_day growth
    * line, closed; [[graft.jobs.SnapshotMaintainJob]]'s bucket-health
    * night (q231) keeps the bucket count fitted as the vocabulary
    * grows. Gate: q234 (q110's day-split + replay harness, q109's
    * whole-corpus oracle verbatim). */
  def vocabIngestManifested(spark: SparkSession, target: String,
                            batch: DataFrame, batchId: Long,
                            langCol: String, textCol: String,
                            nBuckets: Int,
                            pipelineId: String = "vocab"): Boolean = {
    import graft.sinks.ManifestMergeSink
    if (ManifestMergeSink.headState(spark, target)
        .exists(_._2.txns.get(pipelineId).exists(_ >= batchId)))
      return false // absorbed replay: metadata read only, no batch scan
    lazy val bs = typeCountsOf(batch, langCol, textCol)
      // \u0001 separator: tokens are word characters (TextFunctions
      // .tokens), so the key is collision-free — ("en","xfoo") and
      // ("enx","foo") must not fold into one row
      .select(concat_ws("\u0001", col("lang"), col("tok")).as("k"),
        col("lang"), col("tok"), col("n"))
      .localCheckpoint(true) // probed for buckets, then summed + merged
    ManifestMergeSink.mergeIntoManifested(spark, target, batch, "k",
      Seq("lang", "tok", "n"), nBuckets,
      txn = Some((pipelineId, batchId)),
      // bs is groupBy(lang, tok)-keyed and the recompute left-joins the
      // (key-unique) state — one row per k; skip the fold window
      updatesUnique = true,
      recomputeUpdates = {
        case None => bs // first commit: the batch IS the state
        case Some(st) =>
          val touched = graft.Sparks.distinctLongs(bs,
            pmod(xxhash64(col("k")), lit(st.nBuckets.toLong)))
          val existing = ManifestMergeSink
            .readStateBuckets(spark, target, st, touched)
            .select(col("k"), col("n").as("n_old"))
          bs.join(existing, Seq("k"), "left")
            .select(col("k"), col("lang"), col("tok"),
              (col("n") + coalesce(col("n_old"), lit(0L))).as("n"))
      })
    true
  }

  /** q234: [[vocabIngestManifested]] under q110's harness — day split,
    * then a whole-batch replay that must no-op through the commit
    * ledger; the final coverage report derives FROM THE SNAPSHOT via
    * the same [[coverageFromTypeCounts]] tail and gates against q109's
    * whole-corpus oracle verbatim (the incremental state must converge
    * to exactly the batch answer, top-V boundary tie-break included). */
  def q234VocabMerge(spark: SparkSession, dir: String): DataFrame = {
    import graft.sinks.ManifestMergeSink
    val base = java.nio.file.Files.createTempDirectory("graft_q234_")
    try {
      val target = s"$base/vocab_snap"
      val docs = Tables.documents(spark, dir)
      val cut = docs.agg(max(col("doc_id"))).head().getLong(0) / 2
      val day1 = docs.filter(col("doc_id") <= cut)
      val day2 = docs.filter(col("doc_id") > cut)
      require(vocabIngestManifested(spark, target, day1, 1L, "lang", "text", 8))
      require(vocabIngestManifested(spark, target, day2, 2L, "lang", "text", 8))
      require(!vocabIngestManifested(spark, target, day2, 2L, "lang", "text", 8),
        "replayed batch must be a ledger no-op")
      coverageFromTypeCounts(
        ManifestMergeSink.readManifested(spark, target)
          .select(col("lang"), col("tok"), col("n")), VocabSize)
        .localCheckpoint(true) // materialize before the snapshot dir dies
    } finally {
      val fs = new org.apache.hadoop.fs.Path(base.toString)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(base.toString), true)
    }
  }

  /** Same convergence claim as q110, same oracle: q109's. */
  def q234VocabMergeSql: String = q109VocabOovSql

  /** q110: the incremental vocabulary under the q85 day-split harness
    * plus a whole-batch replay (day 2 re-delivered under the same
    * batchId — the ledger must no-op it). The final coverage report is
    * derived FROM THE SNAPSHOT by the same [[coverageFromTypeCounts]]
    * tail as q109, and gates against q109's batch oracle VERBATIM: the
    * incremental state must converge to exactly the whole-corpus
    * answer, top-V boundary tie-break included. */
  def q110VocabIngest(spark: SparkSession, dir: String): DataFrame = {
    val base = java.nio.file.Files.createTempDirectory("graft_q110_")
    try {
      val path = s"$base/vocab_state"
      val docs = Tables.documents(spark, dir)
      val cut = docs.agg(max(col("doc_id"))).head().getLong(0) / 2
      val day1 = docs.filter(col("doc_id") <= cut)
      val day2 = docs.filter(col("doc_id") > cut)
      require(vocabIngest(spark, path, day1, "day1", "lang", "text"))
      require(vocabIngest(spark, path, day2, "day2", "lang", "text"))
      // whole-batch replay: at-least-once upstream delivers day2 again
      require(!vocabIngest(spark, path, day2, "day2", "lang", "text"),
        "replayed batch must be a ledger no-op")
      coverageFromTypeCounts(graft.sinks.LedgeredState.readPart(spark, path, "counts").get, VocabSize)
        .localCheckpoint(true) // materialize before the state dir is deleted
    } finally {
      val fs = new org.apache.hadoop.fs.Path(base.toString)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(base.toString), true)
    }
  }

  /** The whole point of the incremental path: its oracle IS q109's. */
  def q110VocabIngestSql: String = q109VocabOovSql

  /** q112: the vocabulary ledger driven by a REAL file stream
    * ([[graft.streaming.StreamIngest]], one micro-batch per landed
    * day file, Trigger.AvailableNow) — q110's state fold behind
    * Structured Streaming's delivery, exactly as q87 is to q85. The
    * harness lands two disjoint day files; the final snapshot-derived
    * coverage report must equal the whole-corpus batch answer — q109's
    * oracle, verbatim. */
  def q112StreamVocab(spark: SparkSession, dir: String): DataFrame = 
    graft.streaming.StreamConf.withShuffle(spark) {
    import graft.streaming.StreamIngest
    val base = java.nio.file.Files.createTempDirectory("graft_q112_")
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(base.toString).getFileSystem(conf)
    try {
      val srcDir = s"$base/arrivals"
      val statePath = s"$base/vocab_state"
      val docs = Tables.documents(spark, dir)
        .select(col("doc_id"), col("lang"), col("source"), col("text"))
      val cut = docs.agg(max(col("doc_id"))).head().getLong(0) / 2
      fs.mkdirs(new org.apache.hadoop.fs.Path(srcDir))
      Seq(docs.filter(col("doc_id") <= cut), docs.filter(col("doc_id") > cut))
        .zipWithIndex.foreach { case (d, i) =>
          d.coalesce(1).write.parquet(s"$base/stage_$i")
          val part = fs.globStatus(
            new org.apache.hadoop.fs.Path(s"$base/stage_$i/part-*.parquet"))(0).getPath
          fs.rename(part, new org.apache.hadoop.fs.Path(s"$srcDir/day_$i.parquet"))
        }
      StreamIngest.drain(t => StreamIngest.start(
          StreamIngest.files(spark, StreamIngest.docSchema, srcDir),
          s"$base/ckpt", "stream_vocab", t) { b =>
        Seq("applied" -> vocabIngest(spark, statePath, b.rows, b.key, "lang",
          "text"))
      })
      coverageFromTypeCounts(graft.sinks.LedgeredState.readPart(spark, statePath, "counts").get, VocabSize)
        .localCheckpoint(true) // materialize before the state dir is deleted
    } finally {
      fs.delete(new org.apache.hadoop.fs.Path(base.toString), true)
    }
  }

  def q112StreamVocabSql: String = q109VocabOovSql

  /** VOCABULARY COVERAGE CURVE — per-language OOV rate at SEVERAL
    * candidate vocab sizes in one pass: the sweep a tokenizer owner
    * reads to pick V (coverage is concave in V; the knee is the
    * decision). Tokens rank globally by (count DESC, token ASC) — the
    * q109 vocabulary at size V is exactly ranks 1..V — so per-language
    * coverage at every V is one conditional sum over the rank-joined
    * type frame: no per-V vocabulary materialization, no second corpus
    * scan.
    *
    * Scale: the corpus contributes one type-count aggregation (q109's
    * only corpus-sized step); the global rank is a window over the
    * TYPE-SUM frame (|types| rows — at web scale ~10⁷; the window's
    * single global sort is the operator's bound, and the same
    * escalation as q109 applies: heavy-hitter sketch the ranks when
    * types outgrow one executor). The per-(lang, V) rollup is
    * |langs|·|sizes| rows. All counts exact integers; each OOV rate is
    * one division. */
  def vocabCoverageCurve(docs: DataFrame, langCol: String, textCol: String,
                         sizes: Seq[Int]): DataFrame = {
    require(sizes.nonEmpty && sizes.forall(_ >= 1), s"bad sizes $sizes")
    val typeCounts = typeCountsOf(docs, langCol, textCol).localCheckpoint(true)
    val ranked = typeCounts.groupBy(col("tok")).agg(sum(col("n")).as("cnt"))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("cnt").desc, col("tok").asc)).cast("long"))
      .select(col("tok"), col("rank"))
    val joined = typeCounts.join(ranked, Seq("tok"))
    val perSize = sizes.sorted.map { v =>
      joined.groupBy(col("lang")).agg(
        lit(v.toLong).as("vocab_size"),
        sum(col("n")).as("total_tokens"),
        sum(when(col("rank") <= v, col("n")).otherwise(lit(0L)))
          .as("in_vocab_tokens"))
    }
    perSize.reduce(_ unionByName _)
      .select(col("lang"), col("vocab_size"), col("total_tokens"),
        col("in_vocab_tokens"),
        (col("total_tokens") - col("in_vocab_tokens")).as("oov_tokens"),
        ((col("total_tokens") - col("in_vocab_tokens")).cast("double")
          / col("total_tokens").cast("double")).as("oov_rate"))
      .orderBy(col("lang"), col("vocab_size"))
  }

  private val CurveSizes = Seq(64, 128, 256, 512, 1024)

  /** q114: the coverage curve over the documents fixture at five vocab
    * sizes — row-level exact per (lang, size); the oracle re-derives
    * the global rank with its own window and sweeps sizes via a VALUES
    * cross join. Monotonicity of coverage in V falls out of the values
    * being gated exactly. */
  def q114VocabCurve(spark: SparkSession, dir: String): DataFrame =
    vocabCoverageCurve(Tables.documents(spark, dir), "lang", "text", CurveSizes)

  val q114VocabCurveSql: String = {
    val sizeRows = CurveSizes.sorted.map(v => s"($v)").mkString(", ")
    s"""WITH t AS (SELECT lang, unnest($tokSqlExpr) AS tok FROM documents),
       |lt AS (SELECT lang, tok, count(*)::BIGINT AS n FROM t GROUP BY 1, 2),
       |rk AS (SELECT tok, row_number() OVER (ORDER BY sum(n) DESC, tok ASC)::BIGINT AS rank
       |       FROM lt GROUP BY tok),
       |j AS (SELECT lt.lang, lt.n, rk.rank FROM lt JOIN rk USING (tok)),
       |sz(vocab_size) AS (VALUES $sizeRows)
       |SELECT j.lang, vocab_size::BIGINT AS vocab_size,
       |  sum(n)::BIGINT AS total_tokens,
       |  sum(CASE WHEN rank <= vocab_size THEN n ELSE 0 END)::BIGINT AS in_vocab_tokens,
       |  (sum(n) - sum(CASE WHEN rank <= vocab_size THEN n ELSE 0 END))::BIGINT AS oov_tokens,
       |  (sum(n) - sum(CASE WHEN rank <= vocab_size THEN n ELSE 0 END))::double
       |    / sum(n)::double AS oov_rate
       |FROM j CROSS JOIN sz
       |GROUP BY j.lang, vocab_size
       |ORDER BY j.lang, vocab_size""".stripMargin
  }

  /** q109: vocab induction + coverage over the documents fixture —
    * row-level exact per language, including the OOV rate (one exact-
    * integer division). The oracle re-derives the top-V vocabulary with
    * its own ORDER BY ... LIMIT formulation over the same type counts,
    * so the tie-break at the vocabulary boundary is value-checked. */
  def q109VocabOov(spark: SparkSession, dir: String): DataFrame =
    vocabCoverage(Tables.documents(spark, dir), "lang", "text", VocabSize)

  val q109VocabOovSql: String =
    s"""WITH t AS (SELECT lang, unnest($tokSqlExpr) AS tok FROM documents),
       |lt AS (SELECT lang, tok, count(*)::BIGINT AS n FROM t GROUP BY 1, 2),
       |v AS (SELECT tok FROM lt GROUP BY tok
       |      ORDER BY sum(n) DESC, tok ASC LIMIT $VocabSize),
       |cov AS (SELECT lang, sum(n)::BIGINT AS in_vocab_tokens,
       |          count(*)::BIGINT AS n_vocab_types
       |        FROM lt WHERE tok IN (SELECT tok FROM v) GROUP BY lang),
       |tot AS (SELECT lang, sum(n)::BIGINT AS total_tokens,
       |          count(*)::BIGINT AS n_types FROM lt GROUP BY lang)
       |SELECT tot.lang, total_tokens, n_types,
       |  coalesce(in_vocab_tokens, 0)::BIGINT AS in_vocab_tokens,
       |  coalesce(n_vocab_types, 0)::BIGINT AS n_vocab_types,
       |  (total_tokens - coalesce(in_vocab_tokens, 0))::BIGINT AS oov_tokens,
       |  (total_tokens - coalesce(in_vocab_tokens, 0))::double
       |    / total_tokens::double AS oov_rate
       |FROM tot LEFT JOIN cov USING (lang) ORDER BY tot.lang""".stripMargin

  // q136 parameters: shingle width shared with q60, df governor, kept
  // attributions per eval doc.
  private val AttrDfCap = 50L
  private val AttrTopK = 5

  /** TRAINING-DATA ATTRIBUTION — for each eval document, the top-k
    * training documents ranked by IDF-WEIGHTED distinct-shingle overlap:
    * score(e, t) = Σ_{g shared} (ln N − ln df_g) in integer micro-nats.
    * The question this answers ("which training docs most plausibly
    * taught the model this eval answer?") is decontamination's (q60)
    * inverse: q60 finds ANY overlap to delete; attribution RANKS the
    * overlap to explain, weighting rare shingles up — a doc sharing one
    * distinctive 3-gram outranks one sharing three boilerplate grams.
    *
    * Determinism: every ln argument is an INTEGER (N, df_g), rounded
    * once to micro-nats ([[Ranking.lnMicro]], the q118/q126 discipline),
    * so per-pair scores are exact BIGINT sums — order-free.
    *
    * Scale: the inverted-index join's fan-out per shingle is its df,
    * hard-capped by the `dfCap` governor (shingles in more than dfCap
    * train docs carry ~no attribution signal AND dominate join cost —
    * the simhash `maxBucketSize` precedent, df-thresholding form). The
    * train shingle frame feeds both the df count and the index probe →
    * built once. Exchanges: one shingle-keyed groupBy (bounded by the
    * shingle type vocabulary), one bounded-fan-out equi-join, one
    * (eval, train) pair groupBy whose volume is Σ_g min(df_g, cap) ·
    * eval-side hits — never corpus². Per-eval top-k is a rank window
    * partitioned by eval doc. */
  def attributionTopK(train: DataFrame, evalDocs: DataFrame, idCol: String,
                      textCol: String, n: Int, dfCap: Long,
                      k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val trainGrams = train
      .select(col(idCol).as("train_id"),
        explode(array_distinct(shingles(col(textCol), n))).as("g"))
      .localCheckpoint(true) // df count + index probe both read it
    val dfs = trainGrams.groupBy(col("g"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") <= dfCap)
    val nRow = trainGrams.select(col("train_id")).distinct()
      .agg(count(lit(1)).as("n_train"))
    val weights = dfs.crossJoin(broadcast(nRow))
      .select(col("g"),
        (Ranking.lnMicro(col("n_train")) - Ranking.lnMicro(col("df")))
          .as("idf_micro"))
    val evalGrams = evalDocs
      .select(col(idCol).as("eval_id"),
        explode(array_distinct(shingles(col(textCol), n))).as("g"))
    val pairs = evalGrams
      .join(weights, Seq("g"))
      .join(trainGrams, Seq("g"))
      .groupBy(col("eval_id"), col("train_id"))
      .agg(sum(col("idf_micro")).as("score_micro"),
        count(lit(1)).as("n_shared"))
    val w = Window.partitionBy(col("eval_id"))
      .orderBy(col("score_micro").desc, col("train_id").asc)
    pairs.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("eval_id"), col("rank"), col("train_id"),
        col("score_micro"), col("n_shared"))
  }

  /** q136: attribution of the pretend eval suite (every DecontMod-th
    * doc, q60's split) against the rest of the corpus — top-[[AttrTopK]]
    * training docs per eval doc, row-level exact including every
    * micro-nat score. */
  def q136Attribution(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    attributionTopK(
        docs.filter(col("doc_id") % DecontMod =!= 0),
        docs.filter(col("doc_id") % DecontMod === 0),
        "doc_id", "text", DecontN, AttrDfCap, AttrTopK)
      .orderBy(col("eval_id"), col("rank"))
  }

  val q136AttributionSql: String = {
    val tri = s"[t[i] || ' ' || t[i+1] || ' ' || t[i+2] FOR i IN range(1, len(t) - 1)]"
    s"""WITH tr AS (
       |  SELECT doc_id AS train_id, unnest(list_distinct($tri)) AS g
       |  FROM (SELECT doc_id, $tokSqlExpr AS t FROM documents
       |        WHERE doc_id % $DecontMod != 0)),
       |dfs AS (SELECT g, count(*)::BIGINT AS df FROM tr GROUP BY g
       |        HAVING count(*) <= $AttrDfCap),
       |nt AS (SELECT count(DISTINCT train_id)::BIGINT AS n_train FROM tr),
       |w AS (SELECT g,
       |    round(ln(n_train) * 1000000)::BIGINT
       |      - round(ln(df) * 1000000)::BIGINT AS idf_micro
       |  FROM dfs, nt),
       |ev AS (
       |  SELECT doc_id AS eval_id, unnest(list_distinct($tri)) AS g
       |  FROM (SELECT doc_id, $tokSqlExpr AS t FROM documents
       |        WHERE doc_id % $DecontMod = 0)),
       |pairs AS (
       |  SELECT eval_id, train_id, sum(idf_micro)::BIGINT AS score_micro,
       |    count(*)::BIGINT AS n_shared
       |  FROM ev JOIN w USING (g) JOIN tr USING (g)
       |  GROUP BY eval_id, train_id),
       |r AS (SELECT *, row_number() OVER (PARTITION BY eval_id
       |    ORDER BY score_micro DESC, train_id)::BIGINT AS rank
       |  FROM pairs)
       |SELECT eval_id, rank, train_id, score_micro, n_shared FROM r
       |WHERE rank <= $AttrTopK ORDER BY eval_id, rank""".stripMargin
  }
}
