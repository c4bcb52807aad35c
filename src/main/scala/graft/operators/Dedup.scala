package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.functions.TextFunctions._

/** Deduplication operators (SURVEY.md §2B; not in the reference — the
  * reference never dedups, §2A item 5): exact, fingerprint, n-gram
  * Jaccard, MinHash+LSH, SimHash.
  *
  * Scale design: nothing here ever materializes the full pair matrix.
  *  - exact/fingerprint dedup is one hash-groupBy (map-side partial agg);
  *  - exact Jaccard pairs go through a prefix-filter join (AllPairs /
  *    PPJoin family): only documents sharing a token in their short,
  *    rarest-first prefix are candidates — exact results, no quadratic
  *    block scan;
  *  - approximate near-dup candidate generation goes through bucket
  *    self-joins (LSH band keys / SimHash chunks), so the shuffle carries
  *    (id, key) pairs, not documents², and only bucket-mates are compared;
  *  - hot buckets (degenerate band keys) are the known skew risk — AQE
  *    skew-join splitting handles moderate skew; `maxBucketSize` drops
  *    pathological buckets explicitly (documented recall tradeoff).
  */
object Dedup {

  /** Exact-Jaccard verify of candidate pairs against a docs frame carrying
    * (id, grams, sz) with grams DISTINCT and SORTED ([[gramsProjection]]
    * sorts once at build time): one codegen'd two-pointer merge
    * ([[graft.expressions.SortedIntersectSize]]) per pair and the size
    * identity J = |I| / (|A| + |B| - |I|). The verify stage sees
    * candidate volume, not result volume (1.4M candidates → 256 results
    * on the sf0.1 fixture at t=0.7), so per-pair cost is the whole stage:
    * the merge kernel replaces `array_intersect`'s per-pair hash-set
    * build with an allocation-free scan of the pre-sorted arrays. */
  private def verifyJaccard(cand: DataFrame, docs: DataFrame,
                            threshold: Double): DataFrame = {
    import org.apache.spark.sql.graft.ColumnBridge
    def isect(a: Column, b: Column): Column =
      ColumnBridge.column(graft.expressions.SortedIntersectSize(
        ColumnBridge.expression(a), ColumnBridge.expression(b)))
    cand
      .join(docs.select(col("id").as("id1"), col("grams").as("g1"), col("sz").as("sz1")), "id1")
      .join(docs.select(col("id").as("id2"), col("grams").as("g2"), col("sz").as("sz2")), "id2")
      .withColumn("inter", isect(col("g1"), col("g2")))
      .select(col("id1"), col("id2"),
        round(col("inter").cast("double") /
          (col("sz1") + col("sz2") - col("inter")), 4).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Exact dedup by content hash: one survivor (min id) per distinct text.
    * (groupBy beats dropDuplicates here because it also yields group sizes
    * and a deterministic survivor.) */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("content_hash"))
      .agg(min(col(idCol)).as("survivor_id"), count(lit(1)).as("n_copies"))

  /** Fingerprint (sorted distinct token set) clusters — catches
    * reorderings/duplicated words that exact hashing misses. */
  def fingerprintClusters(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(fingerprint(col(textCol)).as("fp"))
      .agg(min(col(idCol)).as("survivor_id"), count(lit(1)).as("n_docs"))

  /** All qualifying near-dup pairs by EXACT n-gram Jaccard, found with a
    * prefix-filter join (AllPairs/PPJoin, Bayardo et al. WWW'07) instead of
    * a quadratic self-join:
    *
    *  1. canonical order: global document frequency (rarest first, gram as
    *     tiebreak) — one cheap agg over exploded grams;
    *  2. prefix: for J(A,B) >= t the overlap must be >= ceil(t*|A|), so if
    *     the first |A| - ceil(t*|A|) + 1 grams of A (in canonical order)
    *     are disjoint from B's prefix, the pair cannot qualify — join only
    *     on prefix grams (|prefix| ≈ (1-t)*|A| + 1, e.g. 3 grams at
    *     t=0.95 for a 50-gram doc);
    *  3. length filter: min(|A|,|B|) >= ceil(t*max(|A|,|B|)) prunes
    *     mismatched sizes inside the join condition;
    *  4. positional filter (PPJoin, Xiao et al. WWW'08): a shared prefix
    *     gram at canonical positions (i, j) bounds the total overlap by
    *     1 + min(|A|-i, |B|-j), which must reach the Jaccard-derived
    *     requirement ceil(t/(1+t)·(|A|+|B|)) — a qualifying pair always
    *     survives via its FIRST shared prefix gram, so recall stays
    *     exact while late-position collisions stop generating candidates;
    *  5. exact Jaccard verify on the candidate pairs.
    *
    * Zero false negatives — identical results to the brute-force form at
    * any scale, but the join fan-out is bounded by prefix-gram bucket
    * sizes (rarest-first keeps those small), not block size². Optional
    * `blockCol` further restricts pairs to equal block values. */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        n: Int, threshold: Double,
                        blockCol: Option[String] = None): DataFrame = {
    // validate BEFORE the persist below registers a cache entry — an
    // invalid call must not leak a cached frame it will never release
    requireThreshold(threshold)
    val base = gramsProjection(df, idCol, textCol, n, blockCol)
      .persist(StorageLevel.MEMORY_AND_DISK)
    checkpointAndRelease(prefixFilterPairs(base, threshold), base)
  }

  /** All qualifying DIRECTIONAL containment pairs by exact n-gram
    * containment c(A→B) = |A∩B| / |A| >= t — the asymmetric near-dup
    * predicate Jaccard misses: a short document quoted whole inside a
    * much longer one has c ≈ 1 but J ≈ |A|/|B| → 0, so quote/boilerplate
    * inclusion and document-subsumption detection need the directional
    * form (Broder 1997's resemblance/containment split).
    *
    * Same AllPairs/PPJoin skeleton as [[ngramJaccardPairs]], re-derived
    * for the asymmetric predicate:
    *
    *  1. canonical rarest-first gram order (global df, gram tiebreak);
    *  2. INNER prefix: the overlap must reach R = ceil(t·|A|), so any
    *     qualifying B intersects A's first |A| − R + 1 canonical grams —
    *     only those explode on the probe side ((1−t)-thin);
    *  3. the INDEX side cannot be prefix-cut (R depends on |A| alone,
    *     so no suffix of B is safely skippable), so B contributes ALL
    *     its grams WITH canonical positions — the same exploded-gram
    *     volume every df pass in this file already shuffles, and the
    *     rarest-first probe keeps per-gram fan-in Zipf-bounded;
    *  4. size filter: |A∩B| <= |B| forces |B| >= R inside the join;
    *  5. positional filter: a shared gram at canonical positions (p, q)
    *     bounds the overlap from there on by 1 + min(|A|−p−1, |B|−q−1),
    *     which must reach R — a qualifying pair always survives via its
    *     FIRST shared canonical gram (no earlier shared gram exists, so
    *     the whole overlap sits at or after (p, q)): recall stays exact;
    *  6. exact verify: one sorted-merge intersect per candidate
    *     ([[graft.expressions.SortedIntersectSize]]), with c = |I|/|A|
    *     compared UNROUNDED — the emitted 4-dp column is display-only,
    *     so the gate predicate is the same IEEE division of two exact
    *     integers in both engines.
    *
    * Zero false negatives at any scale. Self-pairs are excluded; both
    * directions are reported when both hold (mutual containment ≡
    * near-identical sets). Optional `blockCol` restricts pairs to equal
    * block values. */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
                       n: Int, threshold: Double,
                       blockCol: Option[String] = None): DataFrame = {
    requireThreshold(threshold)
    val base = gramsProjection(df, idCol, textCol, n, blockCol)
      .persist(StorageLevel.MEMORY_AND_DISK)
    checkpointAndRelease(
      verifyContainment(containmentCandidates(base, threshold), base, threshold),
      base)
  }

  /** Candidate (id1 = inner, id2 = outer) pairs for the containment join
    * (steps 1-5 above) — every qualifying pair present, false positives
    * left to the verify step. */
  private def containmentCandidates(base: DataFrame, threshold: Double): DataFrame =
    containmentCandidatesFromOrdered(rarestOrdered(base), threshold)

  private def containmentCandidatesFromOrdered(ordered: DataFrame,
                                               threshold: Double): DataFrame = {
    val req = ceil(col("a.sz") * threshold) // R: set by the INNER size alone
    val plen = (col("sz") - ceil(col("sz") * threshold) + 1).cast("int")
    val probe = ordered.select(col("id"), col("blk"), col("sz"),
      posexplode(slice(col("og"), lit(1), plen)))
      .withColumnRenamed("pos", "p").withColumnRenamed("col", "pg")
    val index = ordered.select(col("id"), col("blk"), col("sz"),
      posexplode(col("og")))
      .withColumnRenamed("pos", "q").withColumnRenamed("col", "ig")
    probe.alias("a")
      .join(index.alias("b"),
        col("a.pg") === col("b.ig") && col("a.blk") === col("b.blk") &&
          col("a.id") =!= col("b.id") &&
          col("b.sz") >= req &&
          lit(1) + least(col("a.sz") - (col("a.p") + 1),
                         col("b.sz") - (col("b.q") + 1)) >= req)
      .select(col("a.id").as("id1"), col("b.id").as("id2"))
      .distinct()
  }

  /** Exact containment verify: c = |A∩B| / |A| via the sorted-merge
    * intersect kernel, threshold compared on the unrounded division. */
  private def verifyContainment(cand: DataFrame, docs: DataFrame,
                                threshold: Double): DataFrame = {
    import org.apache.spark.sql.graft.ColumnBridge
    def isect(a: Column, b: Column): Column =
      ColumnBridge.column(graft.expressions.SortedIntersectSize(
        ColumnBridge.expression(a), ColumnBridge.expression(b)))
    cand
      .join(docs.select(col("id").as("id1"), col("grams").as("g1"), col("sz").as("sz1")), "id1")
      .join(docs.select(col("id").as("id2"), col("grams").as("g2")), "id2")
      .withColumn("c", isect(col("g1"), col("g2")).cast("double") / col("sz1"))
      .filter(col("c") >= threshold)
      .select(col("id1").as("inner_id"), col("id2").as("outer_id"),
        round(col("c"), 4).as("containment"))
  }

  /** INCREMENTAL CONTAINMENT — fold a batch into a persistent
    * containment index so the directional pair relation stays current
    * as the corpus grows, without re-scanning it. Three parts, committed
    * atomically with the batchId ledger ([[graft.sinks.LedgeredState]]):
    *
    *  - `docgrams` (id, blk, sz, grams): each doc's sorted distinct
    *    gram set — token-level state, because exact containment
    *    fundamentally needs it (unlike the signature families, whose
    *    state is fixed-width per doc). At 100 TB this is the
    *    search-engine regime: host it in an append-only partitioned
    *    layout (the MergeSink partitioned merge) rather than this
    *    gate's whole-part rewrite;
    *  - `prefixes` (blk, g, id): each doc's (1−t)-thin inner-prefix
    *    grams ([[prefixGrams]]) — the persisted probe set, immune to
    *    df drift because ANY pigeonhole-sized gram subset is sound;
    *  - `pairs` (inner_id, outer_id, containment): the accumulated
    *    relation — the operator's OUTPUT as state, so a replayed batch
    *    is a true no-op (pairs commit with the ledger). A doc_id landed
    *    again in a LATER batch is not: it would double its postings.
    *
    * Per batch: within-batch pairs run the exact prefix-filter join
    * ([[containmentPairs]]'s internals on the batch projection); cross
    * pairs (old×new, BOTH directions) come from the prefix-restricted
    * probe + one sorted-merge intersect per candidate
    * ([[containmentCrossPairs]]) — zero false negatives, with join
    * volume the co-occurrence sum over PREFIX grams only (rarest-first
    * keeps hot grams out of thin prefixes; the block column governs
    * the rest). */
  def containmentIngest(spark: SparkSession, path: String, batch: DataFrame,
                        idCol: String, textCol: String, n: Int,
                        threshold: Double, blockCol: Option[String],
                        batchId: String,
                        beforePublish: () => Unit = () => ()): Boolean = {
    import graft.sinks.LedgeredState
    requireThreshold(threshold)
    // lazy: an absorbed replay must no-op on the ledger read alone,
    // without paying the batch's gram projection
    lazy val bproj0 = gramsProjection(batch, idCol, textCol, n, blockCol)
      .localCheckpoint(true)
    // The WHOLE fold runs inside the commit log's CAS retry seam
    // ([[graft.sinks.LedgeredState.commitFold]], the q217/q209
    // discipline): the derivation below is re-invoked per publish
    // attempt against a reader pinned to exactly the head the attempt
    // CAS-checks, so a losing concurrent writer re-derives its cross
    // pairs against the winner's state — two racing day-batches
    // converge to the batch relation under any interleave (gate: q238).
    LedgeredState.commitFold(spark, path, batchId,
        beforePublish = beforePublish) { reader =>
      val docgramsOpt = reader.part("docgrams")
      val prefixesOpt = reader.part("prefixes")
      // per-DOC re-delivery absorption (the near-dup anti-join
      // discipline): docs already committed fold as EXISTING state —
      // cross-probe side only, never re-inserted — so a partial
      // re-delivery under a fresh batchId (or a racing writer's
      // overlapping batch, re-derived here after its CAS loss) cannot
      // duplicate state rows or pair rows
      val bproj = (docgramsOpt match {
        case Some(dg) =>
          bproj0.join(dg.select(col("id")), Seq("id"), "left_anti")
        case None => bproj0
      }).localCheckpoint(true)
      // the rarest-first ordering feeds BOTH the within-batch candidates
      // and the persisted prefixes — computed once per attempt
      val ordered = rarestOrdered(bproj).localCheckpoint(true)
      val batchPairs = verifyContainment(
        containmentCandidatesFromOrdered(ordered, threshold), bproj, threshold)
      val bPrefix = prefixGramsFromOrdered(ordered, threshold)
      val cross = (docgramsOpt, prefixesOpt) match {
        case (Some(docgrams), Some(prefixes)) =>
          containmentCrossPairs(docgrams, prefixes, bproj, bPrefix, threshold)
        case _ => batchPairs.limit(0)
      }
      val newPairs = batchPairs.unionByName(cross)
      val mergedPairs = reader.part("pairs")
        .map(_.unionByName(newPairs)).getOrElse(newPairs)
      val mergedDocs = docgramsOpt
        .map(_.unionByName(bproj)).getOrElse(bproj)
      val bPrefPart = bPrefix.select(col("blk"), col("pg").as("g"), col("id"))
      val mergedPref = prefixesOpt
        .map(_.unionByName(bPrefPart)).getOrElse(bPrefPart)
      Seq("pairs" -> mergedPairs, "docgrams" -> mergedDocs,
        "prefixes" -> mergedPref)
    }
  }

  /** Each doc's (1−t)-thin inner-prefix grams in rarest-first order —
    * the pigeonhole probe set: ANY |A| − ⌈t·|A|⌉ + 1 of A's grams must
    * intersect every qualifying B, so the subset choice is free
    * (rarest-first minimizes posting fan-in) and, crucially for the
    * incremental store, df DRIFT CANNOT BREAK a persisted prefix. */
  private def prefixGramsFromOrdered(ordered: DataFrame,
                                     threshold: Double): DataFrame = {
    val plen = (col("sz") - ceil(col("sz") * threshold) + 1).cast("int")
    ordered.select(col("id"), col("blk"), col("sz"),
      explode(slice(col("og"), lit(1), plen)).as("pg"))
  }

  /** The (id, blk, sz, og) frame with `og` = the doc's grams in global
    * rarest-first canonical order — the shared precursor of every
    * prefix construction in this file. */
  private def rarestOrdered(base: DataFrame): DataFrame = {
    val ex = base.select(col("id"), col("blk"), col("sz"), explode(col("grams")).as("g"))
    val dfreq = ex.groupBy("g").agg(count(lit(1)).as("df"))
    ex.join(dfreq, "g")
      .groupBy("id", "blk", "sz")
      .agg(array_sort(collect_list(struct(col("df"), col("g")))).as("og"))
      .withColumn("og", transform(col("og"), s => s.getField("g")))
  }

  /** Old×new containment pairs, BOTH directions, via the
    * prefix-restricted probe: candidates come from thin prefix⋈gram
    * joins (new-inner: the batch's prefixes against the index's
    * exploded grams; old-inner: the PERSISTED prefixes against the
    * batch's grams — exact either way by the pigeonhole argument in
    * [[prefixGrams]]), then ONE sorted-merge intersect per candidate
    * verifies. The earlier counting-join formulation was exact too but
    * paid the full co-occurrence volume Σ_g df_old(g)·df_batch(g);
    * the prefix probe's volume is the same sum over PREFIX grams only —
    * rarest-first, so hot grams enter only for docs where everything
    * is hot. */
  private def containmentCrossPairs(docgrams: DataFrame, prefixes: DataFrame,
                                    bproj: DataFrame, bPrefix: DataFrame,
                                    threshold: Double): DataFrame = {
    val oldPost = docgrams.select(col("blk"), col("id").as("oid"),
      col("sz").as("osz"), explode(col("grams")).as("g"))
    val newInnerCand = oldPost
      .join(bPrefix.select(col("blk"), col("pg").as("g"),
        col("id").as("nid"), col("sz").as("nsz")), Seq("blk", "g"))
      .filter(col("osz") >= ceil(col("nsz") * threshold)) // |B| >= R(inner)
      .select(col("nid").as("inner_id"), col("oid").as("outer_id"))
      .distinct()
    val bFull = bproj.select(col("blk"), explode(col("grams")).as("g"),
      col("id").as("nid"), col("sz").as("nsz"))
    val oldInnerCand = prefixes
      .join(bFull, Seq("blk", "g"))
      .select(col("id").as("inner_id"), col("nid").as("outer_id"))
      .distinct()
    val innerOld = verifyCrossPairs(oldInnerCand, docgrams, bproj, threshold)
    val innerNew = verifyCrossPairs(newInnerCand, bproj, docgrams, threshold)
    innerNew.unionByName(innerOld)
  }

  /** Exact verify of directional cross candidates: the inner side's
    * grams from `innerDocs`, the outer side's from `outerDocs`. */
  private def verifyCrossPairs(cand: DataFrame, innerDocs: DataFrame,
                               outerDocs: DataFrame,
                               threshold: Double): DataFrame = {
    import org.apache.spark.sql.graft.ColumnBridge
    def isect(a: Column, b: Column): Column =
      ColumnBridge.column(graft.expressions.SortedIntersectSize(
        ColumnBridge.expression(a), ColumnBridge.expression(b)))
    cand
      .join(innerDocs.select(col("id").as("inner_id"), col("grams").as("g1"),
        col("sz").as("sz1")), "inner_id")
      .join(outerDocs.select(col("id").as("outer_id"), col("grams").as("g2")),
        "outer_id")
      .withColumn("c", isect(col("g1"), col("g2")).cast("double") / col("sz1"))
      .filter(col("c") >= threshold)
      .select(col("inner_id"), col("outer_id"),
        round(col("c"), 4).as("containment"))
  }

  private def requireThreshold(threshold: Double): Unit =
    require(threshold > 0.0 && threshold <= 1.0, s"threshold=$threshold out of (0,1]")

  private def requireBands(numHashes: Int, bands: Int): Unit =
    require(numHashes % bands == 0, s"numHashes=$numHashes not divisible by bands=$bands")

  /** The (id, grams, sz, blk) projection both near-dup families start
    * from: tokenize/shingle + distinct + SORT (one array_sort per doc at
    * build time buys the verify stage its allocation-free merge kernel
    * per candidate PAIR — the asymmetry that matters, since candidates
    * outnumber docs by orders of magnitude), empty sets dropped (J=0 vs
    * everything at threshold > 0). MinHash signatures are order-
    * independent (element-wise minima), so the sort is invisible to the
    * LSH path. Callers PERSIST it (it is referenced by the df-order agg
    * AND both verify joins — without that the pipeline re-executes per
    * reference; at cluster scale: MEMORY_AND_DISK spills, and for a
    * 100 TB corpus pre-materializing this projection to parquet is the
    * same idea) and release it via [[checkpointAndRelease]]. */
  private def gramsProjection(df: DataFrame, idCol: String, textCol: String,
                              n: Int, blockCol: Option[String]): DataFrame = {
    val grams = if (n == 1) tokens(col(textCol)) else shingles(col(textCol), n)
    // tokenize/shingle CPU must not serialize behind a narrow scan
    // (guide §2.5; no-op at scale — see [[graft.Sparks.fanOutNarrow]])
    graft.Sparks.fanOutNarrow(df).select(col(idCol).as("id"),
        array_sort(array_distinct(grams)).as("grams"),
        blockCol.map(col).getOrElse(lit(0)).as("blk"))
      .filter(size(col("grams")) > 0)
      .withColumn("sz", size(col("grams")))
  }

  /** Candidate (id1, id2) pairs from the prefix filter (steps 1-4 above)
    * over a prepared [[gramsProjection]] frame — every qualifying pair is
    * guaranteed present (zero false negatives); false positives are the
    * verify step's job. */
  private def prefixCandidates(base: DataFrame, threshold: Double): DataFrame = {
    requireThreshold(threshold)
    val ex = base.select(col("id"), col("blk"), col("sz"), explode(col("grams")).as("g"))
    val dfreq = ex.groupBy("g").agg(count(lit(1)).as("df"))
    // canonical rarest-first order; array_sort on struct(df, g) is the
    // same (df, g) lexicographic order for every document
    val ordered = ex.join(dfreq, "g")
      .groupBy("id", "blk", "sz")
      .agg(array_sort(collect_list(struct(col("df"), col("g")))).as("og"))
    val plen = (col("sz") - ceil(col("sz") * threshold) + 1).cast("int")
    val pref = ordered.select(col("id"), col("blk"), col("sz"),
      posexplode(slice(transform(col("og"), s => s.getField("g")), lit(1), plen)))
      .withColumnRenamed("pos", "p").withColumnRenamed("col", "pg")
    val alpha = ceil(lit(threshold / (1 + threshold)) * (col("a.sz") + col("b.sz")))
    pref.alias("a")
      .join(pref.alias("b"),
        col("a.pg") === col("b.pg") && col("a.blk") === col("b.blk") &&
          col("a.id") < col("b.id") &&
          least(col("a.sz"), col("b.sz")) >=
            ceil(greatest(col("a.sz"), col("b.sz")) * threshold) &&
          lit(1) + least(col("a.sz") - (col("a.p") + 1),
                         col("b.sz") - (col("b.p") + 1)) >= alpha)
      .select(col("a.id").as("id1"), col("b.id").as("id2"))
      .distinct()
  }

  /** Exact prefix-filter pairs (candidates + exact-Jaccard verify) over a
    * prepared [[gramsProjection]] frame; returns (id1, id2, jaccard). */
  private def prefixFilterPairs(base: DataFrame, threshold: Double): DataFrame =
    verifyJaccard(prefixCandidates(base, threshold), base, threshold)

  /** Materialize the (small) verified-pair result and release the persisted
    * docs frame: `localCheckpoint(eager)` runs the verify join once and
    * truncates lineage, so the cache the join needed can be dropped
    * immediately instead of leaking for the session (library callers
    * composing several dedup/ANN calls otherwise accumulate
    * MEMORY_AND_DISK blocks; Bench/Verify only compensated with
    * clearCache). The checkpointed blocks are the operator's OUTPUT — pair
    * rows, orders of magnitude smaller than the corpus — and are freed by
    * the ContextCleaner when the returned frame is dereferenced. */
  private def checkpointAndRelease(result: DataFrame, cached: DataFrame): DataFrame = {
    val out = result.localCheckpoint(true)
    cached.unpersist()
    out
  }

  /** MinHash + LSH near-dup pairs: shingle → k minhashes → band keys →
    * bucket self-join → exact Jaccard verify. False positives are removed
    * by the verify step; false negatives are the (tunable) LSH recall
    * tradeoff. `hashFn` = xxHash for production, md5Hash for oracle
    * reproducibility. `maxBucketSize` (production knob) drops band buckets
    * larger than the cap before the self-join — the documented skew escape
    * hatch: a bucket of B docs costs B² candidate pairs, and a degenerate
    * key (e.g. boilerplate-heavy corpora) would otherwise dominate the
    * stage; dropped buckets trade bounded recall loss for a hard bound on
    * join fan-out. */
  def minhashLshPairs(df: DataFrame, idCol: String, textCol: String,
                      shingleN: Int, numHashes: Int, bands: Int,
                      threshold: Double,
                      sigFn: (Column, Int) => Column = minhashSignatureXx,
                      maxBucketSize: Option[Int] = None): DataFrame = {
    requireBands(numHashes, bands); requireThreshold(threshold)
    // Persisted: the shingle+signature projection is the expensive part
    // and is referenced by both sides of the bucket self-join and both
    // verify joins — four re-executions without the persist.
    val docs = gramsProjection(df, idCol, textCol, shingleN, None)
      .withColumn("sig", sigFn(col("grams"), numHashes))
      .persist(StorageLevel.MEMORY_AND_DISK)
    checkpointAndRelease(
      lshVerifiedPairs(docs, numHashes, bands, threshold, maxBucketSize), docs)
  }

  /** Candidate (id1, id2) pairs from the LSH band buckets over a prepared
    * (id, sig) frame — docs sharing any band key, hot buckets capped. */
  private def lshCandidates(docs: DataFrame, numHashes: Int, bands: Int,
                            maxBucketSize: Option[Int]): DataFrame = {
    requireBands(numHashes, bands)
    val rowsPerBand = numHashes / bands
    val banded0 = docs
      .select(col("id"), posexplode(bandKeys(col("sig"), bands, rowsPerBand)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "key")
    val banded = maxBucketSize match {
      case None => banded0
      case Some(cap) =>
        val sizes = banded0.groupBy("band", "key").agg(count(lit(1)).as("bsz"))
        banded0.join(sizes.filter(col("bsz") <= cap), Seq("band", "key"))
          .drop("bsz")
    }
    banded.alias("a")
      .join(banded.alias("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id1"), col("b.id").as("id2"))
      .distinct()
  }

  /** LSH band-bucket candidates + exact Jaccard verify over a prepared
    * (id, grams, sz, sig) frame. */
  private def lshVerifiedPairs(docs: DataFrame, numHashes: Int, bands: Int,
                               threshold: Double,
                               maxBucketSize: Option[Int]): DataFrame =
    verifyJaccard(lshCandidates(docs, numHashes, bands, maxBucketSize),
      docs, threshold)

  /** Production-LSH gate row (q26 tolerance-boolean pattern, driver
    * hash-gated): runs the xxhash64 LSH pipeline AND the exact
    * prefix-filter reference over ONE shared gram projection, then folds
    * them into a single row —
    *  - `n_exact`: exact pair count at `threshold` (the oracle-computable
    *    anchor: DuckDB brute-forces the same bigram Jaccard);
    *  - `subset_ok`: every LSH pair appears in the exact set. The two
    *    sides share the verify arithmetic but NOT candidate generation
    *    (band buckets vs prefix filter), so this certifies the prefix
    *    join's zero-false-negative claim and the LSH verify together —
    *    and because exact pairs are threshold-filtered, it subsumes a
    *    per-pair threshold check (a same-column `min(jaccard) >=
    *    threshold` re-test would be structurally true and certify
    *    nothing);
    *  - `recall_ok`: LSH found >= `minRecall` of the exact pairs (the LSH
    *    s-curve's measurable output; xxhash64 is deterministic, so this is
    *    a fixed property of corpus + parameters, not a flaky sample).
    * The oracle emits the anchor + literal TRUEs, so the hash gate fails
    * exactly when one of these invariants breaks. */
  def minhashLshGate(df: DataFrame, idCol: String, textCol: String,
                     shingleN: Int, numHashes: Int, bands: Int,
                     threshold: Double, minRecall: Double,
                     sigFn: (Column, Int) => Column = minhashSignatureXx,
                     maxBucketSize: Option[Int] = None): DataFrame = {
    requireBands(numHashes, bands); requireThreshold(threshold)
    val base = gramsProjection(df, idCol, textCol, shingleN, None)
      .withColumn("sig", sigFn(col("grams"), numHashes))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // Materialize the two pair sets SEQUENTIALLY (each is tiny after its
    // verify): one fused job would run the band self-join and the
    // prefix-filter join concurrently over the shared heap, and the
    // combined shuffle/GC peak made gate latency swing 2-3× run to run.
    // Two bounded jobs + a trivial join of checkpointed row sets is the
    // stable form. (A shared-verify variant — checkpoint raw candidate
    // sets, verify the tagged union once — was measured SLOWER: the
    // un-verified LSH candidate set is orders of magnitude larger than
    // its verified output, and materializing it costs more than the
    // second verify pass it saves.)
    val lsh = lshVerifiedPairs(base, numHashes, bands, threshold, maxBucketSize)
      .select(col("id1"), col("id2")).withColumn("ls", lit(1))
      .localCheckpoint(true)
    val exact = prefixFilterPairs(base, threshold)
      .select(col("id1"), col("id2")).withColumn("ex", lit(1))
      .localCheckpoint(true)
    val gate = exact.join(lsh, Seq("id1", "id2"), "full_outer")
      .agg(
        sum(coalesce(col("ex"), lit(0))).as("nx"),
        sum(coalesce(col("ls"), lit(0))).as("nl"),
        sum(coalesce(col("ex"), lit(0)) * coalesce(col("ls"), lit(0))).as("nh"))
      .select(
        coalesce(col("nx"), lit(0L)).cast("long").as("n_exact"),
        (coalesce(col("nl"), lit(0L)) === coalesce(col("nh"), lit(0L))).as("subset_ok"),
        (coalesce(col("nh"), lit(0L)) >=
          coalesce(col("nx"), lit(0L)) * minRecall).as("recall_ok"))
    checkpointAndRelease(gate, base)
  }

  /** Connected components over an undirected pair list — the CLUSTER
    * half of near-dup dedup: pair emitters ([[ngramJaccardPairs]],
    * [[minhashLshPairs]], [[simhashPairs]]) say which documents match;
    * this groups matches into duplicate clusters so a canonical survivor
    * (min id) can be kept per cluster. A pure pair filter over-deletes:
    * dropping id2 of every pair removes BOTH non-survivors of a
    * transitive chain a~b, b~c twice but keeps nothing of {a,b,c}
    * consistent unless the chain is first closed — which is exactly
    * component formation.
    *
    * Algorithm: iterative min-label propagation with pointer jumping —
    * each round every vertex takes the min of (its own label, its
    * neighbors' labels, its current label's label). The neighbor step
    * alone converges in O(diameter) rounds; the pointer-jump step
    * (comp ← comp(comp), path compression) makes the reach double per
    * round, so convergence is O(log d) — which matters precisely for the
    * components a pure round count suggests are fine: near-dup graphs
    * are mostly star/clique shaped, but boilerplate-heavy corpora grow
    * giant chained components (the sf0.1 fixture's largest holds 2,200
    * of 2,429 clustered docs), where the min label otherwise crawls
    * hop-by-hop from the min vertex. `maxIter` is a safety bound, not
    * the expected count; the loop exits on the first round with no
    * label change, detected by the monotone label-sum reaching a
    * fixpoint — labels only ever decrease, so an unchanged sum IS
    * convergence, one scalar agg per round instead of a change-count
    * join.
    *
    * Scale: runs on the PAIR graph — orders of magnitude smaller than
    * the corpus (pairs ≪ docs²  by construction of the emitters). Each
    * round is one shuffle of (edge ⋈ label) + a groupBy min + one
    * self-join of the (small) label frame; per-round lineage truncation
    * keeps the plan from growing exponentially with iterations (the
    * classic iterative-Spark trap). The full large-star/small-star
    * rewrite (Kiveris et al., "Connected Components in MapReduce",
    * SoCC'14) additionally bounds per-round edge volume; the pair graph
    * here is small enough that label-side compression alone carries the
    * log-round bound.
    *
    * Fault tolerance: the default truncation is `localCheckpoint` —
    * cheapest locally, but its blocks live on executors, so on a real
    * cluster a lost executor invalidates the checkpoint and fails the
    * job mid-iteration. Pass `checkpointDir` (HDFS/object-store path)
    * for the cluster-safe mode: every `checkpointInterval`-th round
    * writes a RELIABLE checkpoint there and intermediate rounds persist
    * to MEMORY_AND_DISK — an executor loss then recomputes at most
    * `checkpointInterval` rounds from the last reliable snapshot instead
    * of failing. Default unchanged (local). Passing `checkpointDir` sets
    * the SparkContext-global checkpoint dir for the duration of the call;
    * the previous dir (if any) is restored on exit, but when none was set
    * before, the dir necessarily stays set afterwards — SparkContext has
    * no unset API.
    *
    * Convergence is detected by the label-sum fixpoint — labels only
    * ever decrease, so an unchanged sum IS convergence, one scalar agg
    * per round instead of a change-count join. The sum is computed as
    * decimal(38,0): a Long sum wraps on overflow, and with ids near 2^63
    * a round shedding label mass in an exact multiple of 2^64 could
    * falsely signal convergence; decimal arithmetic closes that hole at
    * the cost the one-scalar-per-round design already pays.
    *
    * Throws `IllegalStateException` if `maxIter` rounds pass without
    * reaching the fixpoint — partial labels silently split components,
    * which for dedup means survivors that should have merged; callers
    * must never receive them. Pointer jumping makes the bound log₂ of
    * the largest component's diameter, so the default of 25 covers any
    * graph with diameter below ~2^25.
    *
    * Returns (id, component) for every id appearing in `pairs`, where
    * component = min id reachable — cluster-mates share it, and it
    * doubles as the canonical survivor id. */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 25,
                          checkpointDir: Option[String] = None,
                          checkpointInterval: Int = 5): DataFrame = {
    require(maxIter >= 1, s"maxIter=$maxIter must be >= 1")
    require(checkpointInterval >= 1,
      s"checkpointInterval=$checkpointInterval must be >= 1")
    val spark = pairs.sparkSession
    // the shared reliable/local truncation policy (IterCheckpoint —
    // this loop is where it originated); construction displaces the
    // SparkContext-global checkpoint dir, restore() in the finally
    val ckpt = new IterCheckpoint(spark, checkpointDir, checkpointInterval)
    // Constraint-propagation window (see connectedComponentsTwoPhase for
    // the full account): this loop self-unions the checkpointed pair
    // frame (`p.select ∪ p.select`), the exact shape whose stale origin
    // constraints crash Catalyst's Union rewrite under relation dedup in
    // constraint-rich compositions. Constraints buy nothing on these
    // tiny label frames; run the loop (and its materializations) with
    // propagation off, scoped save/set/restore.
    val constraintKey = "spark.sql.constraintPropagation.enabled"
    val prevConstraint = spark.conf.getOption(constraintKey)
    spark.conf.set(constraintKey, "false")
    try {
    // materialize the emitter's pair output ONCE before the union: the two
    // union branches are separate plan instances, so without this the
    // whole upstream pair pipeline (LSH/simhash/prefix-filter) executes
    // twice just to build the edge list (measured: the doubled emitter
    // run cost more than every propagation round combined)
    val p = pairs.select(col("id1"), col("id2")).localCheckpoint(true)
    val edges = p
      .select(col("id1").as("src"), col("id2").as("dst"))
      .union(p.select(col("id2").as("src"), col("id1").as("dst")))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    var labels = ckpt.truncate(
      edges.select(col("src").as("id")).distinct()
        .withColumn("comp", col("id")), 0)
    // sum over an empty frame is null: an empty pair list converges instantly
    def labelSum(df: DataFrame): java.math.BigDecimal =
      Option(df.agg(sum(col("comp").cast("decimal(38,0)"))).head()
          .getAs[java.math.BigDecimal](0))
        .getOrElse(java.math.BigDecimal.ZERO)
    var prevSum = labelSum(labels)
    var converged = labels.isEmpty
    var it = 0
    while (!converged && it < maxIter) {
      val nbrMin = edges.join(labels.withColumnRenamed("id", "dst"), "dst")
        .groupBy(col("src").as("id2_"))
        .agg(min(col("comp")).as("nmin"))
      // persisted: the pointer-jump self-join below references this frame
      // twice — without the persist the edges-join + groupBy-min above
      // would execute twice every round. Lazy persist, not a checkpoint:
      // the convergence agg is the one action that materializes it.
      val propagated = labels
        .join(nbrMin, col("id") === col("id2_"), "left")
        .select(col("id"),
          least(col("comp"), coalesce(col("nmin"), col("comp"))).as("comp"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      // pointer jump: follow the current assignment one hop (comp(comp)
      // is always a label of the same component, so least() is safe)
      labels = ckpt.truncate(
        propagated
          .join(propagated.select(col("id").as("cid"), col("comp").as("ccomp")),
            col("comp") === col("cid"), "left")
          .select(col("id"),
            least(col("comp"), coalesce(col("ccomp"), col("comp"))).as("comp")),
        it + 1)
      val s = labelSum(labels) // materializes the new round's labels
      propagated.unpersist()
      ckpt.roll(labels) // zero recompute: the agg above materialized it
      converged = s.compareTo(prevSum) == 0
      prevSum = s
      it += 1
    }
    edges.unpersist()
    System.err.println(
      s"""{"stage":"connected_components","rounds":$it,"converged":$converged}""")
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge within maxIter=$maxIter rounds — " +
          "partial labels would silently split components; raise maxIter " +
          "(pointer jumping converges in O(log diameter) rounds)")
    // finalize on reliable storage so the returned frame does not pin
    // a MEMORY_AND_DISK cache entry for the rest of the session
    ckpt.finish(labels)
    } finally {
      prevConstraint match {
        case Some(v) => spark.conf.set(constraintKey, v)
        case None => spark.conf.unset(constraintKey)
      }
      ckpt.restore()
    }
  }

  /** Alternative connected-components implementation: the alternating
    * large-star / small-star edge rewrite (Kiveris et al., "Connected
    * Components in MapReduce and Beyond", SoCC'14). Where
    * [[connectedComponents]] keeps the EDGE set fixed and iterates a
    * label frame, this rewrites the edge set itself each round:
    *
    *  - large-star: every node u hooks its strictly-larger neighbors
    *    directly onto min(Γ(u) ∪ u) — long tendrils collapse toward
    *    minima;
    *  - small-star: every node hooks its smaller-or-equal neighbors
    *    (and itself) onto its minimum neighbor — stars flatten.
    *
    * Alternating the two converges to star graphs whose centers are the
    * component minima, in O(log² n) rounds (O(log n) observed on
    * near-dup graph shapes). The property [[connectedComponents]] lacks:
    * per-round EDGE volume is bounded — each emitted edge replaces one
    * inspected edge, and both operations only ever point edges at
    * neighborhood minima, so intermediate frames never exceed ~|E|.
    * Label propagation instead JOINS the full edge set against the label
    * frame every round; on a pair graph that is itself huge (boilerplate
    * corpora where near-dup pairs approach corpus scale), the two-phase
    * form is the one that still fits. On moderate graphs label
    * propagation wins (fewer jobs per round); both are kept, gated
    * against the same recursive-closure oracle (q52/q59), so the choice
    * is a cost call, not a semantics call.
    *
    * Same contract as [[connectedComponents]]: returns (id, component
    * = min reachable id) for every id in `pairs`; throws if `maxIter`
    * alternations pass without the edge-set fixpoint. */
  def connectedComponentsTwoPhase(pairs: DataFrame, maxIter: Int = 50): DataFrame = {
    require(maxIter >= 1, s"maxIter=$maxIter must be >= 1")
    // Both star rewrites compute a per-u neighborhood minimum and then
    // re-emit each row against it. A groupBy+join-back form pays THREE
    // exchanges per rewrite (groupBy hash, join re-shuffle of the edge
    // frame, output distinct); a window min over the SAME key shares one
    // exchange between the min and the re-emit (optimization guide §2.4
    // "two operations keyed the same way can share one exchange") — the
    // edge frame crosses the network once per rewrite instead of twice,
    // at any scale. Values are identical: min() over the full partition
    // is exactly the groupBy min.
    def largeStar(e: DataFrame): DataFrame = {
      val nbrs = e.union(e.select(col("v").as("u"), col("u").as("v")))
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("u"))
      // no distinct here: nbrs holds at most one (u, v) with v > u per
      // undirected edge, so the emit is bounded by |E| either way;
      // duplicate (v, m) hooks (two neighbors sharing a minimum) are
      // collapsed by smallStar's round-final distinct — one exchange
      // per round instead of two (guide §2.4)
      nbrs.withColumn("m", least(min(col("v")).over(w), col("u")))
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
    }
    def smallStar(e: DataFrame): DataFrame = {
      val dir = e.select(greatest(col("u"), col("v")).as("u"),
          least(col("u"), col("v")).as("v"))
        .filter(col("u") =!= col("v"))
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("u"))
      // per row: the (v, m) hook when v is not already the min, plus the
      // (u, m) self-hook. Emitting (u, m) once per ROW instead of once
      // per u (the old `mins.select(u, m)` union branch) produces the
      // same SET — the final distinct collapses the copies, and its
      // partial (map-side) aggregate drops them before the shuffle.
      dir.withColumn("m", min(col("v")).over(w))
        .select(explode(when(col("v") =!= col("m"),
            array(struct(col("v").as("u"), col("m").as("v")),
              struct(col("u").as("u"), col("m").as("v"))))
          .otherwise(array(struct(col("u").as("u"), col("m").as("v")))))
          .as("e"))
        .select(col("e.u").as("u"), col("e.v").as("v"))
        .distinct()
    }
    // CONSTRAINT-PROPAGATION WINDOW (the q145 conf save/set/restore
    // discipline for global mutation): the loop's checkpointed frames
    // are self-referenced (largeStar unions `e` with its own swap,
    // smallStar unions two derivations of `e`), and Spark's
    // DeduplicateRelations re-instances one branch's attribute ids
    // while the checkpoint's captured origin constraints keep the OLD
    // ids — Union's constraint rewrite then dies with "key not found:
    // u#…" (observed composing this loop into the q103 media-ingest
    // pipeline; which call sites trip it depends on upstream filter
    // shapes). Constraints only drive filter-inference optimizations,
    // which buy nothing on these tiny star frames — so every eager
    // materialization below (including the returned labels) runs with
    // propagation off and captures an EMPTY constraint set, making the
    // output composition-safe downstream too.
    val spark = pairs.sparkSession
    val confKey = "spark.sql.constraintPropagation.enabled"
    val prevConf = spark.conf.getOption(confKey)
    spark.conf.set(confKey, "false")
    try {
    // one eager checkpoint per round truncates lineage (same trap as the
    // label loop); the edge frame is the round's whole state. The edge
    // COUNT rides the same materializing action as an observed metric
    // (guide §1: don't pay a second pass for a statistic the first pass
    // already saw): both frames are DISTINCT sets, so unequal counts
    // PROVE set inequality and the non-final rounds skip the anti-join
    // set probe entirely — one action per round instead of two. Equal
    // counts still run the exact probe (two same-sized star sets can
    // differ), so convergence detection is unchanged, not approximated.
    def checkpointCounted(df: DataFrame): (DataFrame, Long) = {
      val obs = org.apache.spark.sql.Observation()
      val d = df.observe(obs, count(lit(1)).as("n")).localCheckpoint(true)
      (d, obs.get("n").asInstanceOf[Long])
    }
    var (edges, nEdges) = checkpointCounted(
      pairs.select(col("id1").as("u"), col("id2").as("v"))
        .filter(col("u") =!= col("v"))
        .distinct())
    var converged = nEdges == 0L
    var it = 0
    while (!converged && it < maxIter) {
      val (next, nNext) = checkpointCounted(smallStar(largeStar(edges)))
      // edge-set fixpoint: both frames are checkpointed, DISTINCT, and
      // star-shaped (small), so set equality is two anti-join emptiness
      // probes. NOT `exceptAll(a,b).union(exceptAll(b,a))`: ExceptAll
      // lowers to a union-of-signed-counts plan whose constraint set can
      // reference the other side's attributes, and unioning two of them
      // trips Catalyst's Union constraint rewrite ("key not found: u#…")
      // when the edge frames carry rich constraints (observed composing
      // this loop into the q103 media-ingest pipeline).
      // ONE action, not two: the union of both anti-joins is empty iff
      // both are — halves the per-round convergence-probe job count
      converged = nNext == nEdges && {
        next.join(edges, Seq("u", "v"), "left_anti")
          .union(edges.join(next, Seq("u", "v"), "left_anti"))
          .isEmpty
      }
      edges = next
      nEdges = nNext
      it += 1
    }
    System.err.println(
      s"""{"stage":"connected_components_two_phase","rounds":$it,"converged":$converged}""")
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponentsTwoPhase did not converge within maxIter=$maxIter " +
          "alternations — partial star graphs would split components; raise maxIter")
    // empty edge set ⇒ empty label frame — skip the final label action
    // (a sparse batch with no collision pairs otherwise still pays a
    // two-exchange join job for zero rows). Column types follow the
    // caller's id type so downstream joins resolve identically.
    if (nEdges == 0L) {
      val idType = pairs.schema("id1").dataType
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("id", idType),
          org.apache.spark.sql.types.StructField("comp", idType))))
    }
    // converged: edges form stars — every non-min node's neighbors are
    // exactly its component min, minima appear only on the v side. The
    // label frame is nodes ⋈ per-u parent with comp = coalesce(parent,
    // own id). NOT the tempting `union(select(v as id, v as comp))`
    // self-label form: aliasing the SAME attribute into both output
    // columns of a union branch trips Catalyst's Union constraint
    // rewrite ("key not found: u#…") when callers compose joins
    // downstream (observed in the q103 media-ingest pipeline); the
    // coalesce projection introduces a fresh attribute instead.
    // Materialized: the labels are the operator's OUTPUT, orders
    // smaller than any corpus, and funnel callers reference them more
    // than once (label propagation returns a checkpointed frame too).
    val nodes = edges.select(col("u").as("id"))
      .union(edges.select(col("v").as("id")))
      .distinct()
    val parent = edges.groupBy(col("u")).agg(min(col("v")).as("p"))
    nodes.join(parent.withColumnRenamed("u", "id"), Seq("id"), "left")
      .select(col("id"), coalesce(col("p"), col("id")).as("comp"))
      .localCheckpoint(true)
    } finally prevConf match {
      case Some(v) => spark.conf.set(confKey, v)
      case None => spark.conf.unset(confKey)
    }
  }

  /** The clustering every COMPOSED consumer (curation funnels, canonical
    * survivors, incremental ingest cores) routes through — currently
    * [[connectedComponentsTwoPhase]]. Both implementations are gated
    * against the same recursive-closure oracle (q52 pins label
    * propagation, q59 pins two-phase on the identical graph), so this is
    * a COST choice, not a semantics one: on the near-dup graph shapes
    * the funnels produce (stars/cliques plus one boilerplate giant
    * component), two-phase converges in fewer, cheaper rounds — the r12
    * driver measured the same sf0.1 graph at 7.8 s (q59) vs 14.1 s
    * (q52), and the label loop's longer eager-checkpoint chain is also
    * the bench family's dominant run-to-run variance source. Flipping
    * the default back is this one line. */
  def clusterComponents(pairs: DataFrame): DataFrame =
    connectedComponentsTwoPhase(pairs)

  /** One 32-bit simhash word over a MATERIALIZED array of token hashes:
    * per bit, the sign of the +1/-1 vote sum — a codegen'd single pass
    * ([[graft.expressions.SimhashWord]]; the HOF form below evaluated 32
    * interpreted `aggregate` lambdas per word). The caller must project
    * the hash array into its own column first — CollapseProject keeps a
    * multiply-referenced non-cheap alias materialized, so tokenize+md5
    * run once per row (the round-1 defect). Values are identical to the
    * HOF form (DedupSpec pins the equivalence), so the q21 oracle is
    * unaffected. */
  def simhashWord(hashes: Column): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(graft.expressions.SimhashWord(
      ColumnBridge.expression(hashes)))
  }

  /** The interpreted higher-order form [[simhashWord]] replaced — kept as
    * the readable reference and for the equivalence test. */
  def simhashWordHof(hashes: Column): Column = {
    val bits = (0 until 32).map { j =>
      val votes = aggregate(hashes, lit(0),
        (acc, h) => acc + when(h.bitwiseAND(lit(1L << j)) =!= 0, 1).otherwise(-1))
      when(votes >= 0, lit(1L << j)).otherwise(lit(0L))
    }
    bits.reduce(_ + _)
  }

  /** 64-bit SimHash near-dup pairs with Hamming distance <= maxHamming
    * (<= 3), as two 32-bit words (lo = md5 chars 1-8, hi = chars 9-16 per
    * token). Candidate generation by the pigeonhole chunk trick: the
    * 64-bit signature splits into 4 16-bit chunks; any pair within
    * distance 3 must agree on at least one chunk, so matching on exploded
    * (chunk_idx, chunk_value) keys finds ALL qualifying pairs — a bucket
    * join with zero false negatives and no pair matrix.
    *
    * Scale: 4 × 65,536 possible bucket keys (vs 4 × 256 for the round-1
    * 32-bit/8-bit form, whose bounded key space made bucket sizes grow
    * linearly with the corpus and the self-join output quadratically).
    * 16-bit chunks keep expected bucket size at n/65,536 — ~1.5k docs per
    * bucket even at 10⁸ documents. `maxBucketSize` is the same production
    * skew escape hatch as the LSH emitter's: a boilerplate-heavy corpus
    * can degenerate one chunk value (thousands of near-identical docs
    * share a signature chunk), and that bucket's B² candidate fan-out
    * then dominates the stage; dropping buckets over the cap trades
    * bounded recall loss (only pairs whose EVERY shared chunk is hot are
    * lost — pigeonhole still finds pairs through any surviving chunk)
    * for a hard bound on join fan-out. None = exact recall (the gated
    * oracle form). */
  /** The 64-bit SimHash signature of each document as two 32-bit words:
    * (id, sh_lo, sh_hi) with sh_lo/sh_hi from the md5-derived token
    * hashes' bit votes. Empty-token documents are dropped (no signal).
    * This is the frame a PERSISTENT signature index stores (see
    * [[MergeQueries.neardupIngest]]) — signatures are the near-dup
    * analog of q65's content hashes: tiny per doc, and sufficient to
    * probe any future batch without re-reading document text. */
  def simhashSignatures(df: DataFrame, idCol: String, textCol: String,
                        carry: Seq[String] = Nil): DataFrame = {
    // ONE fused codegen'd pass per document ([[graft.expressions
    // .SimhashSig]]): one MD5 per token, both 32-bit words read straight
    // from the digest bytes, votes accumulated in the same pass. The
    // previous form evaluated three interpreted `transform` lambdas per
    // token (md5 hex string, two conv(substring) parses) before the two
    // SimhashWord passes — the signature stage's dominant cost at any
    // scale. Values are IDENTICAL (hex chars 1-8/9-16 of md5 are digest
    // bytes 0-3/4-7 big-endian — still reproducible in DuckDB as
    // ('0x' || substring(md5(t), ...))::BIGINT); DedupSpec pins the
    // equivalence against the un-fused pipeline, so the q21 oracle is
    // untouched.
    import org.apache.spark.sql.graft.ColumnBridge
    def sig(toks: Column): Column = ColumnBridge.column(
      graft.expressions.SimhashSig(ColumnBridge.expression(toks)))
    // digest CPU must not serialize behind a narrow scan (guide §2.5;
    // no-op at scale — see [[graft.Sparks.fanOutNarrow]])
    graft.Sparks.fanOutNarrow(df)
      .select(col(idCol).as("id") +: carry.map(col) :+
        array_distinct(tokens(col(textCol))).as("toks"): _*)
      .filter(size(col("toks")) > 0) // empty docs have no signal
      // the struct gets its own projected column so CollapseProject
      // keeps the multiply-referenced non-cheap alias materialized
      .withColumn("sig", sig(col("toks")))
      .select(col("id") +: carry.map(col) :+
        col("sig.sh_lo").as("sh_lo") :+
        col("sig.sh_hi").as("sh_hi"): _*)
  }

  /** Explodes a signature frame (id, [extraKeys...,] sh_lo, sh_hi) into
    * its 4 16-bit pigeonhole chunks: (id, ..., chunk, cval). `extraKeys`
    * are pass-through SCOPE columns that become part of the bucket key
    * downstream (see [[simhashCrossPairs]]). */
  private def simhashChunked(sigs: DataFrame,
                             extraKeys: Seq[String] = Nil): DataFrame =
    sigs.select(col("id") +: extraKeys.map(col) :+
      col("sh_lo") :+ col("sh_hi") :+
      posexplode(array(
        col("sh_lo").bitwiseAND(lit(0xffffL)),
        shiftright(col("sh_lo"), 16).bitwiseAND(lit(0xffffL)),
        col("sh_hi").bitwiseAND(lit(0xffffL)),
        shiftright(col("sh_hi"), 16).bitwiseAND(lit(0xffffL)))): _*)
      .withColumnRenamed("pos", "chunk").withColumnRenamed("col", "cval")

  /** The hot-bucket governor: drops every (scope, chunk, cval) bucket
    * holding more than `cap` rows. One window over the SAME keys the
    * pair join hashes on (no second scan of the signature pipeline). */
  private def capBuckets(chunked: DataFrame, cap: Int,
                         extraKeys: Seq[String]): DataFrame =
    chunked
      .withColumn("bsz", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window
          .partitionBy((extraKeys ++ Seq("chunk", "cval")).map(col): _*)))
      .filter(col("bsz") <= cap)
      .drop("bsz")

  /** [[capBuckets]] with a PER-SCOPE cap frame (scope..., cap) instead
    * of one global constant — the [[scopeGovernorCaps]] output applied:
    * caps is scope-cardinality tiny, so it broadcasts. */
  private def capBucketsScoped(chunked: DataFrame, caps: DataFrame,
                               extraKeys: Seq[String]): DataFrame =
    chunked
      .withColumn("bsz", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window
          .partitionBy((extraKeys ++ Seq("chunk", "cval")).map(col): _*)))
      .join(broadcast(caps), extraKeys)
      .filter(col("bsz") <= col("cap"))
      .drop("bsz", "cap")

  /** Per-(scope, chunk, cval) bucket sizes of a signature frame — the
    * population every governor decision reads. Bounded per scope by the
    * 16-bit chunk space (4 × 65536 buckets), so everything derived from
    * it is metadata-scale at any corpus size. */
  private def chunkBucketSizes(sigs: DataFrame,
                               scopeCols: Seq[String]): DataFrame =
    simhashChunked(sigs, scopeCols)
      .groupBy((scopeCols ++ Seq("chunk", "cval")).map(col): _*)
      .agg(count(lit(1)).as("bsz"))

  private def capsOf(bsz: DataFrame, scopeCols: Seq[String],
                     quantile: Double): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(scopeCols.map(col): _*)
    bsz
      .withColumn("rn", row_number().over(w.orderBy(col("bsz"))))
      .withColumn("nb", count(lit(1)).over(w))
      .filter(col("rn") === ceil(lit(quantile) * col("nb")))
      .select(scopeCols.map(col) :+ col("bsz").cast("int").as("cap"): _*)
  }

  /** PER-SCOPE GOVERNOR CAP SIZING — the discrete `quantile`-quantile
    * (the value at rank ceil(q·n) of the sorted bucket sizes, exactly
    * reproducible in the oracle — no interpolation) of the per-(scope,
    * chunk, cval) bucket-size population, one cap per scope. This is
    * the sizing rule the r17 verdict asked to replace the hand-picked
    * [[MergeQueries.GovCap]] constant: a cap at the distribution's tail
    * engages only on the scope's own degenerate buckets, so
    * differently-sized scopes each get a cap fitted to their skew
    * instead of one corpus-global number. Computed from signature rows
    * only (index metadata, never text); deployment sizing is p99.9 on
    * ≥10⁵-bucket scopes — the gates use a fixture-fitted quantile so
    * the governor actually engages at test scale. Gate: q239 (the
    * derived-cap recall certificate, per scope). */
  def scopeGovernorCaps(sigs: DataFrame, scopeCols: Seq[String],
                        quantile: Double): DataFrame = {
    require(quantile > 0.0 && quantile <= 1.0, s"quantile=$quantile")
    require(scopeCols.nonEmpty, "cap sizing is per-scope — give scope keys")
    capsOf(chunkBucketSizes(sigs, scopeCols), scopeCols, quantile)
  }

  /** Governor EROSION diagnostics per scope under the
    * [[scopeGovernorCaps]] cap — the recall tripwire
    * [[MergeQueries.scopeHealth]] surfaces (q235): `gov_cap` the derived
    * cap, `hot_buckets` the buckets it would drop, and
    * `docs_all_chunks_hot` the docs whose EVERY pigeonhole chunk lands
    * in a hot bucket — those lose ALL governed pairs (the pigeonhole
    * recall bound fails exactly when no shared chunk survives), so a
    * nonzero count is the loud signal to reshard the scope before
    * reaching for the cap. */
  def governorErosion(sigs: DataFrame, scopeCols: Seq[String],
                      quantile: Double): DataFrame = {
    val bsz = chunkBucketSizes(sigs, scopeCols)
      .localCheckpoint(true) // feeds the cap quantile AND both hot joins
    val caps = capsOf(bsz, scopeCols, quantile)
    val withCap = bsz.join(broadcast(caps), scopeCols)
    val hotBuckets = withCap
      .groupBy(scopeCols.map(col): _*)
      .agg(max(col("cap")).cast("long").as("gov_cap"),
        sum(when(col("bsz") > col("cap"), 1L).otherwise(0L))
          .as("hot_buckets"))
    val hotDocs = simhashChunked(sigs, scopeCols)
      .join(withCap, scopeCols ++ Seq("chunk", "cval"))
      .groupBy(col("id") +: scopeCols.map(col): _*)
      .agg(sum(when(col("bsz") > col("cap"), 1).otherwise(0)).as("nHot"))
      .groupBy(scopeCols.map(col): _*)
      .agg(sum(when(col("nHot") === 4, 1L).otherwise(0L))
        .as("docs_all_chunks_hot"))
    hotBuckets.join(hotDocs, scopeCols)
  }

  /** Simhash pairs BETWEEN two signature frames (both shaped like
    * [[simhashSignatures]] output, with DISJOINT id sets — or the same
    * frame twice plus an `id1 < id2` filter for batch-internal pairs):
    * one row per (probe id1, index id2) pair within `maxHamming`. The incremental-
    * ingest probe ([[MergeQueries.neardupIngest]]): `probe` is the new
    * batch's signatures, `index` the persistent store's.
    *
    * Scale: same pigeonhole chunk join as [[simhashPairs]], but the big
    * side (the index) is a signature STORE — at cluster scale it is
    * written bucketed by (chunk, cval) (or as a pre-exploded bucket
    * table), so a day's probe shuffles only the batch's exploded chunks
    * and the index side reads co-located; the join output is bounded by
    * chunk-bucket collisions, never |probe|×|index|.
    *
    * `maxBucketSize` is the cross-probe's HOT-BUCKET GOVERNOR (the
    * [[simhashPairsFromSigs]] cap, applied per side): every
    * (scope, chunk, cval) bucket over the cap is dropped from the side
    * it is hot on BEFORE the join, so one degenerate chunk value (a
    * boilerplate-heavy corpus collapses thousands of near-identical
    * docs onto one 16-bit chunk) cannot fan the probe out to
    * |probe bucket|×|index bucket|. With the cap, per-key join fan-out
    * is ≤ cap². Recall loss is bounded the pigeonhole way: a true pair
    * is lost only when EVERY chunk the two signatures share is hot on
    * at least one side — any surviving shared chunk still finds it.
    * None = exact recall (the gated oracle form; q230 certifies the
    * governed probe's recall against the exact anchor). `scopeCaps`
    * is the governor's PER-SCOPE form: a (scope..., cap) frame — use
    * [[scopeGovernorCaps]] to derive it from the index's own bucket
    * distribution; q239 certifies the derived caps' recall per scope.
    *
    * `extraKeys` shard the probe by SCOPE columns present in both
    * frames (lang/source — a curation pipeline's natural partitions):
    * the bucket key becomes (scope..., chunk, cval) and pairs never
    * cross scopes. This is the 100 TB shape — the 16-bit chunk space
    * collides quadratically in CORPUS size (measured ~n^1.4 at 30×,
    * SCALE.md), but per-scope it collides in SCOPE size, so a corpus
    * growing by adding scopes (days, crawls, languages) keeps per-day
    * probe cost flat instead of growing with the whole index. */
  def simhashCrossPairs(probe: DataFrame, index: DataFrame,
                        maxHamming: Int = 3,
                        maxBucketSize: Option[Int] = None,
                        extraKeys: Seq[String] = Nil,
                        scopeCaps: Option[DataFrame] = None): DataFrame = {
    require(maxHamming <= 3, "4 chunks guarantee recall only up to distance 3")
    require(scopeCaps.isEmpty || extraKeys.nonEmpty,
      "per-scope caps (scopeCaps) need scope keys (extraKeys)")
    def side(df: DataFrame): DataFrame = {
      val chunked = simhashChunked(df, extraKeys)
      val capped = maxBucketSize.fold(chunked)(capBuckets(chunked, _, extraKeys))
      scopeCaps.fold(capped)(capBucketsScoped(capped, _, extraKeys))
    }
    val joinCond = (extraKeys ++ Seq("chunk", "cval"))
      .map(k => col(s"a.$k") === col(s"b.$k"))
      .reduce(_ && _)
    side(probe).alias("a")
      .join(side(index).alias("b"), joinCond)
      .select(col("a.id").as("id1"), col("b.id").as("id2"),
        (bit_count(col("a.sh_lo").bitwiseXOR(col("b.sh_lo"))) +
         bit_count(col("a.sh_hi").bitwiseXOR(col("b.sh_hi")))).cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 3,
                   maxBucketSize: Option[Int] = None): DataFrame =
    simhashPairsFromSigs(simhashSignatures(df, idCol, textCol),
      maxHamming, maxBucketSize)

  /** [[simhashPairs]] over an ALREADY-COMPUTED signature frame
    * (id, sh_lo, sh_hi) — the entry point for signatures that don't come
    * from word tokens (e.g. [[graft.multimodal.Media.byteGramSimhash]]'s
    * byte-gram signatures over binary payloads): the pigeonhole chunk
    * join, hot-bucket governor, and Hamming verify are signature-source
    * agnostic. */
  def simhashPairsFromSigs(sigs: DataFrame,
                           maxHamming: Int = 3,
                           maxBucketSize: Option[Int] = None): DataFrame = {
    require(maxHamming <= 3, "4 chunks guarantee recall only up to distance 3")
    // window, not groupBy+join-back: the latter references the chunked
    // frame twice, re-running the tokenize+md5+simhash pipeline; the
    // window shuffles once on the same (chunk, cval) keys the self-join
    // below hashes on anyway ([[capBuckets]])
    val chunked0 = simhashChunked(sigs)
    val chunked = maxBucketSize.fold(chunked0)(capBuckets(chunked0, _, Nil))
    chunked.alias("a")
      .join(chunked.alias("b"),
        col("a.chunk") === col("b.chunk") && col("a.cval") === col("b.cval") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id1"), col("b.id").as("id2"),
        (bit_count(col("a.sh_lo").bitwiseXOR(col("b.sh_lo"))) +
         bit_count(col("a.sh_hi").bitwiseXOR(col("b.sh_hi")))).cast("long").as("hamming"))
      // filter BEFORE distinct: hamming is deterministic per pair, so the
      // order is semantics-preserving, and most chunk-collision pairs fail
      // the bound — filtering first keeps them out of the distinct's shuffle
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Cross-document duplicated-SPAN masking — substring-level dedup
    * (Lee et al. 2022, "Deduplicating Training Data Makes Language
    * Models Better"): any `spanTokens`-token span that also appears in
    * another document is masked out, keeping the first-arrival copy
    * (`keepFirst`; min id per span — the q15 survivor rule lifted from
    * documents to spans). Document-level dedup misses this entirely:
    * two distinct pages sharing a boilerplate paragraph both survive
    * doc-level near-dup, yet the paragraph trains the model twice.
    *
    * The exact-suffix-array construction of the paper is single-node;
    * this is its distributed form: shingle INVERSION (the q60
    * decontamination shape turned on the corpus itself) — explode each
    * doc into its rolling `spanTokens`-gram md5s, one exact hash-groupBy
    * finds grams seen in ≥2 docs, and hits join back per position. The
    * shuffle carries one 16-byte md5 per token position (≈ corpus token
    * count — the same order as any tokenizing scan), never a pair
    * matrix, and the per-document mask is a narrow map: interval union
    * over the doc's own hit list, O(span hits) state.
    *
    * Emits per doc: `n_tokens`, `n_hits` (masked span starts),
    * `n_masked` (tokens under the interval union), `masked_frac`, and
    * `kept_hash` (md5 of the surviving token sequence) — so a gate
    * catches a single mis-masked token anywhere in the corpus. */
  def spanMask(docs: DataFrame, idCol: String, textCol: String,
               spanTokens: Int, keepFirst: Boolean = true,
               maxGramDocs: Option[Long] = None): DataFrame = {
    val n = spanTokens
    val staged = docs.select(col(idCol), tokens(col(textCol)).as("toks"))
      .localCheckpoint(true) // referenced by the explode AND the final join
    val pe = staged
      .select(col(idCol),
        explode(when(size(col("toks")) >= n,
            sequence(lit(0), size(col("toks")) - n))
          .otherwise(array().cast("array<int>"))).as("pos"),
        col("toks"))
      .select(col(idCol), col("pos"),
        md5(array_join(slice(col("toks"), col("pos") + 1, lit(n)), " ")).as("g"))
      .localCheckpoint(true) // consumed by the gram rollup AND the hit join
    // `maxGramDocs`: the q21-cap governor applied to grams — a span
    // shared by MILLIONS of docs is boilerplate, not duplication (the
    // q38 CMS detector's territory), and its hit fan-out is the one
    // term here that scales with popularity² in join output. Capped
    // grams are dropped entirely (documented recall tradeoff; None =
    // exact, which is what the q79 gate runs).
    val shared = pe.groupBy(col("g"))
      .agg(countDistinct(col(idCol)).as("nd"), min(col(idCol)).as("first_id"))
      .filter(col("nd") >= 2 &&
        maxGramDocs.map(col("nd") <= _).getOrElse(lit(true)))
      .select(col("g"), col("first_id"))
    val hits = pe.join(shared, "g")
      .filter(if (keepFirst) col(idCol) =!= col("first_id") else lit(true))
      .select(col(idCol), col("pos")).distinct()
    val cov = hits.groupBy(col(idCol))
      .agg(sort_array(collect_list(col("pos"))).as("starts"),
        count(lit(1)).as("n_hits"))
    // interval union over the sorted span starts: covered tokens +=
    // full span when disjoint from the open interval, else the overhang
    val init = struct(lit(0L).as("cov"), lit(-1L).as("last_end"))
    val masked = aggregate(
      coalesce(col("starts"), array().cast("array<int>")), init,
      (s, p) => struct(
        (s.getField("cov") +
          when(p.cast("long") >= s.getField("last_end"), lit(n.toLong))
            .otherwise(greatest(lit(0L),
              p.cast("long") + n - s.getField("last_end")))).as("cov"),
        greatest(s.getField("last_end"), p.cast("long") + n).as("last_end")),
      s => s.getField("cov"))
    val keptToks = filter(col("toks"), (t, j) =>
      !exists(coalesce(col("starts"), array().cast("array<int>")),
        p => p <= j && j < p + n))
    staged.join(cov, Seq(idCol), "left")
      .select(col(idCol),
        size(col("toks")).cast("long").as("n_tokens"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        masked.as("n_masked"),
        when(size(col("toks")) > 0,
          round(masked.cast("double") / size(col("toks")), 4)).as("masked_frac"),
        md5(array_join(keptToks, " ")).as("kept_hash"))
  }
}
