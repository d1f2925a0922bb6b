package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** X1/X2 — deduplication suite for the `documents` table
  * (SURVEY.md §2c; the LLM-data-pipeline north star).
  *
  * Scale design (100 TB):
  *  - exact dedup is one shuffle on the dedup key (window row_number,
  *    no pre-collect);
  *  - shingling + MinHash signatures are computed per-row with
  *    higher-order functions (`transform`/`aggregate`/`xxhash64`) —
  *    NO explode/groupBy shuffle for signature building;
  *  - LSH banding turns the quadratic all-pairs problem into an
  *    equi-join on (band, bandHash): only docs sharing a band bucket
  *    meet, then the exact Jaccard check runs on that tiny candidate
  *    set via `array_intersect` (again no explode);
  *  - the exact n-gram Jaccard variant (the all-pairs shingle
  *    equi-join) exists as the oracle-verifiable ground truth — at
  *    cluster scale you'd run the LSH path.
  */
object Dedup {

  /** Distinct character 8-gram shingles of `text` as an array column —
    * pure projection, codegen'd, no shuffle. */
  /** Array form of the 8-char shingle set. Round 15: the HOT paths
    * (every exploded shingle stream) now use the compiled
    * [[graft.functions.Shingles]] generator instead — `transform`'s
    * lambda is interpreted per element and `array_distinct` double-
    * materializes the array before explode streams it (the same
    * ~100× expression trap langId's trigram path documented). The
    * generator is spec-pinned row-equivalent to this expression
    * (ShinglesSpec); this array form remains for the candidate-bounded
    * verify joins, which need whole sets for array_intersect. */
  val shinglesExpr: String =
    "array_distinct(transform(sequence(1, greatest(length(text) - 7, 1)), i -> substring(text, i, 8)))"

  private def docs(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)

  // ---- X1: exact dedup --------------------------------------------------

  /** Exact dedup by full text, keeping the lowest doc_id. Input is the
    * documents table unioned with an id-shifted copy of itself so the
    * operator has real duplicates to eliminate (testdata texts are
    * unique). Deterministic alternative to `dropDuplicates`. The shift
    * is max(doc_id)+1 — derived, not assumed, so shifted and real ids
    * can never collide at any corpus size (one scalar aggregate,
    * broadcast back; mirrored in the oracle). */
  def exactDedup(spark: SparkSession, sfDir: String): DataFrame = {
    val base = docs(spark, sfDir).select(col("doc_id"), col("text"), col("lang"), col("source"))
    // only the shifted branch needs the 1-row shift aggregate — joining
    // it onto the unshifted branch too would cost a per-row join the
    // optimizer can't prune away (it can't prove an inner join keeps
    // cardinality even when the joined columns go unused)
    val shifted = base
      .crossJoin(broadcast(docs(spark, sfDir).agg((max(col("doc_id")) + 1).as("shift"))))
      .withColumn("doc_id", col("doc_id") + col("shift")).drop("shift")
    val doubled = base.unionByName(shifted)
    val w = Window.partitionBy(col("text")).orderBy(col("doc_id"))
    doubled
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("lang"), col("source"), md5(col("text")).as("text_md5"))
      .orderBy(col("doc_id"))
  }

  val exactDedupSql: String =
    """WITH mx AS (SELECT max(doc_id) + 1 AS shift FROM documents),
      |doubled AS (
      |  SELECT doc_id, text, lang, source FROM documents
      |  UNION ALL
      |  SELECT doc_id + shift, text, lang, source FROM documents, mx
      |)
      |SELECT doc_id, lang, source, md5(text) AS text_md5 FROM (
      |  SELECT *, row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
      |  FROM doubled) t
      |WHERE rn = 1
      |ORDER BY doc_id""".stripMargin

  // ---- X2a: exact n-gram Jaccard (ground truth) -------------------------

  val JaccardThreshold = 0.5

  /** Shingles whose document frequency exceeds this are dropped before
    * the pair join: a shingle occurring in >100 docs carries no
    * near-dup signal but contributes O(df²) join pairs. The classic
    * stop-shingle pruning — it turns the quadratic all-pairs join into
    * one bounded by Σ df² over RARE shingles, while planted near-dups
    * (which share rare shingles by construction of being copies) keep
    * jaccard ≥ threshold. Mirrored in the oracle. */
  val MaxShingleDf = 100

  /** Exact Jaccard over discriminative (df ≤ 100) char-8-gram shingle
    * sets via a shingle equi-join. The verification baseline;
    * [[minhashNearDup]] is the sub-quadratic scale path. */
  /** The exact rare-shingle pair frame — (i < j, common, cnt_i, cnt_j)
    * for every doc pair sharing ≥1 rare shingle — shared by
    * [[ngramJaccard]] and [[containmentDedup]], which differ ONLY in
    * the final score (union vs min denominator). Memoized via the
    * pair-set memo (see there): two registered consumers, one
    * materialization per session. This fresh builder stays assertable.
    */
  private[graft] def rareSharedPairsFresh(spark: SparkSession, sfDir: String): DataFrame = {
    val sh = docs(spark, sfDir)
      .select(col("doc_id"), graft.functions.Shingles.shingles(col("text"), 8).as("s"))
    // ONE shuffle of the full shingle stream computes df and the
    // per-shingle doc list together; everything downstream (the df
    // stop-shingle filter, pair generation) runs on the rare-only
    // groups. No persist(): a cache set here can never be released
    // (the returned plan reads it lazily — library callers would leak
    // a pinned RDD per call).
    val groups = sh.groupBy(col("s"))
      .agg(count(lit(1)).as("df"), sort_array(collect_list(col("doc_id"))).as("ids"))
      .filter(col("df") <= MaxShingleDf)
      .select(col("ids"))
    // pair generation per shingle group (sorted doc list → i≤j pairs)
    // instead of a two-sided self-join: pairs built in-memory per
    // group (df ≤ MaxShingleDf caps the quadratic term per group).
    // The a==b self-pair (i,i) is emitted on purpose: its count IS the
    // per-doc rare-shingle size, so sizes and commons come out of the
    // same single aggregation.
    val pairCounts = groups
      .select(explode(expr(
        """flatten(transform(sequence(0, size(ids) - 1), a ->
          |  transform(sequence(a, size(ids) - 1), b ->
          |    struct(ids[a] AS i, ids[b] AS j))))""".stripMargin)).as("p"))
      .groupBy(col("p.i").as("i"), col("p.j").as("j"))
      .agg(count(lit(1)).as("common"))
    // Attach the per-doc sizes with WINDOWS over the pair frame, not
    // joins back to it: a join would make pairCounts a multi-consumer
    // subtree, and Catalyst pushes the divergent i=j / i<j predicates
    // BELOW the pair aggregate — the three copies stop being identical
    // exchanges, ReuseExchange cannot fire, and the whole shingle
    // pipeline executes three times (measured 17× wall-time at sf0.1).
    // Windows keep the plan a LINEAR chain: the heavy subtree runs
    // once, then two cheap shuffles of the already-aggregated pairs.
    // Partition i of window `wi` contains the self-pair (i,i) whose
    // count is doc i's rare-shingle size; partition j of `wj` likewise
    // contains (j,j) — max(common WHERE i=j) extracts them.
    val selfCnt = max(when(col("i") === col("j"), col("common")))
    pairCounts
      .withColumn("cnt_i", selfCnt.over(Window.partitionBy(col("i"))))
      .withColumn("cnt_j", selfCnt.over(Window.partitionBy(col("j"))))
      .filter(col("i") < col("j"))
      .select(col("i"), col("j"), col("common"), col("cnt_i"), col("cnt_j"))
  }

  private def rareSharedPairs(spark: SparkSession, sfDir: String): DataFrame =
    memoizedPairs("rare-shingle", spark, sfDir)(rareSharedPairsFresh(spark, sfDir))

  def ngramJaccard(spark: SparkSession, sfDir: String): DataFrame =
    rareSharedPairs(spark, sfDir)
      .select(col("i"), col("j"), col("common"),
        (col("common").cast("double") /
          (col("cnt_i") + col("cnt_j") - col("common")).cast("double")).as("jaccard"))
      .filter(col("jaccard") >= JaccardThreshold)
      .orderBy(col("i"), col("j"))

  val ngramJaccardSql: String =
    s"""WITH sh AS (
       |  SELECT doc_id, unnest(list_distinct(
       |    [substr(text, i, 8) FOR i IN range(1, greatest(length(text) - 7, 1) + 1)])) AS s
       |  FROM documents),
       |rare AS (SELECT s FROM sh GROUP BY s HAVING count(*) <= $MaxShingleDf),
       |shf AS (SELECT sh.doc_id, sh.s FROM sh JOIN rare USING (s)),
       |sizes AS (SELECT doc_id, count(*) AS cnt FROM shf GROUP BY doc_id),
       |pairs AS (
       |  SELECT a.doc_id AS i, b.doc_id AS j, count(*) AS common
       |  FROM shf a JOIN shf b ON a.s = b.s AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT i, j, common,
       |  CAST(common AS DOUBLE) / CAST(si.cnt + sj.cnt - common AS DOUBLE) AS jaccard
       |FROM pairs
       |JOIN sizes si ON si.doc_id = i
       |JOIN sizes sj ON sj.doc_id = j
       |WHERE CAST(common AS DOUBLE) / CAST(si.cnt + sj.cnt - common AS DOUBLE) >= 0.5
       |ORDER BY i, j""".stripMargin

  /** Containment threshold for [[containmentDedup]] — deliberately below
    * the Jaccard near-dup bar: containment(A,B) = |A∩B| / min(|A|,|B|)
    * flags SUBSUMPTION (a small doc embedded in a larger one), which
    * symmetric Jaccard dilutes away (at sf0.01, 39 of the 64 pairs at
    * this bar are invisible to the 0.5-Jaccard query). */
  val ContainmentThreshold = 0.35

  /** Registered query `x2_containment`: ASYMMETRIC near-dup —
    * containment over rare char-8-gram sets. The production use is
    * sub-document duplication (boilerplate wrappers around a copied
    * core, quoted articles, licence blocks): Jaccard punishes the size
    * difference, containment does not. Identical physical shape to
    * [[ngramJaccard]] — in fact it IS the same pair frame
    * ([[rareSharedPairsFresh]], memoized so the two registered
    * consumers materialize it once per session) — only the final score
    * divides by min(|A|,|B|) instead of the union size. Scale story is
    * therefore ngramJaccard's: rare-shingle-bounded pair growth, no
    * all-pairs term. */
  def containmentDedup(spark: SparkSession, sfDir: String): DataFrame =
    rareSharedPairs(spark, sfDir)
      .select(col("i"), col("j"), col("common"),
        (col("common").cast("double") /
          least(col("cnt_i"), col("cnt_j")).cast("double")).as("containment"))
      .filter(col("containment") >= ContainmentThreshold)
      .orderBy(col("i"), col("j"))

  val containmentDedupSql: String =
    s"""WITH sh AS (
       |  SELECT doc_id, unnest(list_distinct(
       |    [substr(text, i, 8) FOR i IN range(1, greatest(length(text) - 7, 1) + 1)])) AS s
       |  FROM documents),
       |rare AS (SELECT s FROM sh GROUP BY s HAVING count(*) <= $MaxShingleDf),
       |shf AS (SELECT sh.doc_id, sh.s FROM sh JOIN rare USING (s)),
       |sizes AS (SELECT doc_id, count(*) AS cnt FROM shf GROUP BY doc_id),
       |pairs AS (
       |  SELECT a.doc_id AS i, b.doc_id AS j, count(*) AS common
       |  FROM shf a JOIN shf b ON a.s = b.s AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT i, j, common,
       |  CAST(common AS DOUBLE) / CAST(least(si.cnt, sj.cnt) AS DOUBLE) AS containment
       |FROM pairs
       |JOIN sizes si ON si.doc_id = i
       |JOIN sizes sj ON sj.doc_id = j
       |WHERE CAST(common AS DOUBLE) / CAST(least(si.cnt, sj.cnt) AS DOUBLE) >= $ContainmentThreshold
       |ORDER BY i, j""".stripMargin

  /** Registered query `x2_shingle_stats`: corpus shingle statistics
    * computed through the custom [[graft.functions.Shingles]]
    * GENERATOR — one row per distinct char-8-gram, emitted lazily
    * (the `explode(array_distinct(transform(...)))` form this mirrors
    * materializes the full shingle array per document twice before
    * exploding; the generator streams it, flat memory on the
    * long-document tail). Output and oracle are shared semantics with
    * [[shinglesExpr]], so this also pins the generator's equivalence
    * to the expression form under the driver's hash gate. */
  def shingleStats(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.Shingles.shingles
    // Round 15 (guide §2.3 — aggregate before you shuffle): the
    // two-countDistinct form planned an Expand that tripled the full
    // shingle stream through the first aggregation. Two-level instead:
    // dedup (lang, shingle) with map-side partial aggregation (one
    // exchange over ALREADY-DEDUPED pairs), then a tiny per-lang agg;
    // n_docs comes straight off the documents table (a doc contributes
    // shingle rows iff its text is non-null — the generator emits one
    // row even for empty text), never through the shingle stream.
    // Identical arithmetic → same rows (oracle-checked).
    val perShingle = balanced(docs(spark, sfDir))
      .select(col("lang"), col("doc_id"), shingles(col("text"), 8).as("shingle"))
      .groupBy(col("lang"), col("shingle"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("lang"))
      .agg(sum(col("c")).as("n_shingle_rows"),
        count(lit(1)).as("n_distinct_shingles"))
    val nDocs = docs(spark, sfDir)
      .filter(col("text").isNotNull)
      .groupBy(col("lang"))
      .agg(countDistinct(col("doc_id")).as("n_docs"))
    perShingle.join(nDocs, Seq("lang"))
      .select(col("lang"), col("n_shingle_rows"),
        col("n_distinct_shingles"), col("n_docs"))
      .orderBy(col("lang"))
  }

  val shingleStatsSql: String =
    """WITH sh AS (
      |  SELECT lang, doc_id, unnest(list_distinct(
      |    [substr(text, i, 8) FOR i IN range(1, greatest(length(text) - 7, 1) + 1)])) AS shingle
      |  FROM documents)
      |SELECT lang, count(*) AS n_shingle_rows,
      |  CAST(count(DISTINCT shingle) AS BIGINT) AS n_distinct_shingles,
      |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
      |FROM sh
      |GROUP BY lang
      |ORDER BY lang""".stripMargin

  /** Unfiltered full-set exact jaccard — the oracle for
    * [[minhashNearDup]] (which verifies candidates on FULL shingle
    * sets). Only ever executed by DuckDB at the correctness SF. */
  val fullJaccardSql: String =
    """WITH sh AS (
      |  SELECT doc_id, unnest(list_distinct(
      |    [substr(text, i, 8) FOR i IN range(1, greatest(length(text) - 7, 1) + 1)])) AS s
      |  FROM documents),
      |sizes AS (SELECT doc_id, count(*) AS cnt FROM sh GROUP BY doc_id),
      |pairs AS (
      |  SELECT a.doc_id AS i, b.doc_id AS j, count(*) AS common
      |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)
      |SELECT i, j, common,
      |  CAST(common AS DOUBLE) / CAST(si.cnt + sj.cnt - common AS DOUBLE) AS jaccard
      |FROM pairs
      |JOIN sizes si ON si.doc_id = i
      |JOIN sizes sj ON sj.doc_id = j
      |WHERE CAST(common AS DOUBLE) / CAST(si.cnt + sj.cnt - common AS DOUBLE) >= 0.5
      |ORDER BY i, j""".stripMargin

  /** Shared tail of every LSH variant: exact-jaccard verification of a
    * candidate (i, j) pair set against the full shingle sets. One
    * definition so the three MinHash variants (composed, sketch, ml)
    * can never drift from their common oracle. */
  private def verifyCandidates(spark: SparkSession, sfDir: String,
      cand: DataFrame): DataFrame = {
    // Round-14 (guide §3.1/§3.2): the exact-verify join used to build
    // shingle ARRAYS for the WHOLE corpus and broadcast them — twice
    // (once per pair side). At bench scale that is two full-corpus
    // shingle materializations shipped through the driver per verify;
    // at 100 TB it is a broadcast of the corpus (the 8 GB cap kills the
    // query long before). The candidate set is the tiny side, so:
    //  1. lazily local-checkpoint it (the banding pipeline above it
    //     must run ONCE, not once per downstream consumer — the
    //     PageRank edge-frame device);
    //  2. semi-join the docs scan down to candidate members BEFORE the
    //     shingle transform runs (broadcast left_semi on the id set —
    //     the §3.2 pre-filter, exact here, not even approximate);
    //  3. the per-side shingle frames are then candidate-bounded, and
    //     broadcasting THEM is right-sized at any corpus size.
    // Results are unchanged: the verify joins were inner equi-joins on
    // i/j, so rows outside the candidate id set never contributed.
    val c = cand.localCheckpoint(eager = false)
    val ids = c.select(col("i").as("doc_id"))
      .unionByName(c.select(col("j").as("doc_id"))).distinct()
    val sets = docs(spark, sfDir)
      .join(broadcast(ids), Seq("doc_id"), "left_semi")
      .select(col("doc_id"), expr(shinglesExpr).as("shingles"))
    c
      .join(sets.as("si"), col("i") === col("si.doc_id"))
      .join(sets.as("sj"), col("j") === col("sj.doc_id"))
      .withColumn("common", size(array_intersect(col("si.shingles"), col("sj.shingles"))).cast("long"))
      .withColumn("jaccard", col("common").cast("double") /
        (size(col("si.shingles")) + size(col("sj.shingles")) - col("common")).cast("double"))
      .filter(col("jaccard") >= JaccardThreshold)
      .select(col("i"), col("j"), col("common"), col("jaccard"))
      .orderBy(col("i"), col("j"))
  }

  // ---- X2b: MinHash + LSH (the 100 TB path) -----------------------------

  val NumPerms = 32
  val Bands = 8 // r = 4 rows per band: P(random band collision) = j⁴
  val RowsPerBand: Int = NumPerms / Bands

  /** (doc_id, band, bh) LSH band buckets for a (doc_id, text) frame:
    * signatures via explode + 32 codegen'd min-aggregates (NOT
    * interpreted HOF lambdas; one narrow shuffle on doc_id), then
    * 8 bands × 4 rows. Shared by the full and incremental (delta)
    * near-dup paths so the hash family/banding can never diverge. */
  /** [[bandedFrame]] for the §2.5 skew audit tool only. */
  private[graft] def bandedFrameForAudit(docFrame: DataFrame): DataFrame =
    bandedFrame(docFrame)

  // Round 15 (VERDICT r14 #2, measured at the driver's local[32]/8):
  // the round-14 banded-frame localCheckpoint is GONE. Both sides of
  // each band self-join are the same plan subtree, and both the
  // planning-time ReuseExchange rule and AQE's runtime stage reuse
  // dedup it — JobProfile task counts are identical with and without
  // the checkpoint (17 vs 16 tasks on x2_delta_dedup, AQE on and off)
  // — so the checkpoint only added a serialization barrier + a
  // lineage-truncated (fault-intolerant) RDD. min-of-4 QueryTime:
  // delta_dedup 4.48→4.03 s, sketch_table 4.90→4.47 s. The CANDIDATE
  // frame checkpoint in verifyCandidates stays: its three consumers
  // (two id projections + the verify join) are NOT identical
  // subtrees, and dropping it re-runs the candidate pipeline
  // (A/B: sketch_table 4.47→5.41 s, minhash_ml 2.49→2.96 s).

  // (round-15 audit: deriving the 32 perm hashes from ONE base
  // xxhash64 of the shingle — base projected once, per-perm
  // xxhash64(i, base) — was tried and measured FLAT (sketch_table
  // 4.08 vs 4.16, delta_dedup 3.33 vs 3.44, min-of-6/4): the
  // signature aggregate's cost is the per-group 32-min buffer work,
  // not the string hashing (corroborated by MinHashAgg, whose
  // memoized hashes time the same as the 32-hash form). Reverted —
  // a candidate-set change with no measured win is all risk.)

  /** Rebalance a scan-shaped doc frame whose input provides FEWER
    * partitions than the session has cores (guide §2.2/§6 — the
    * signature aggregation is the most expensive per-row map work in
    * the engine, and a small input's 3-4 scan splits strand the other
    * cores for its whole duration; measured: the x2_minhash_sketch
    * signature job ran 1.9 s on 3 tasks at local[32]). Hash-partition
    * by doc_id so the per-doc aggregate right above also runs as ONE
    * complete aggregate (distribution already satisfied — the
    * post-explode partial/final exchange disappears). The gate is
    * derived from the input layout, not the host: at corpus scale a
    * scan has far more splits than cores and this is the identity —
    * no extra shuffle ever touches a big input (the round's GLOBAL
    * minPartitionNum floor was measured and rejected for exactly that
    * tax; this is the per-operator version that only fires where the
    * map work is provably core-starved). Width is pinned (explicit
    * count → AQE never coalesces it below the core count). */
  private def balancedByDoc(df: DataFrame): DataFrame = {
    val cores = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions >= cores) df
    else df.repartition(cores, col("doc_id"))
  }

  /** Round-robin variant of [[balancedByDoc]] for stream heads whose
    * downstream aggregates key on derived columns (shingle, (source,
    * shingle), trigram) rather than doc_id — no distribution to
    * preserve, just the same core-starvation gate. */
  private[ext] def balanced(df: DataFrame): DataFrame = {
    val cores = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions >= cores) df
    else df.repartition(cores)
  }

  private def bandedFrame(docFrame: DataFrame): DataFrame = {
    val sh = balancedByDoc(docFrame)
      .select(col("doc_id"), graft.functions.Shingles.shingles(col("text"), 8).as("s"))
    val sig = sh.groupBy(col("doc_id")).agg(
      min(xxhash64(lit(0), col("s"))).as("h0"),
      (1 until NumPerms).map(i => min(xxhash64(lit(i), col("s"))).as(s"h$i")): _*)
    sig.select(col("doc_id"),
      explode(array((0 until Bands).map(j =>
        struct(lit(j).as("band"),
          xxhash64((0 until RowsPerBand).map(r => col(s"h${j * RowsPerBand + r}")): _*).as("bh"))): _*)).as("b"))
      .select(col("doc_id"), col("b.band"), col("b.bh"))
  }

  /** MinHash signature (32 perms, xxhash64 seeded by perm index) +
    * LSH banding (8 bands × 4 rows) + exact Jaccard verification on
    * the candidate pairs only.
    *
    * Oracled with [[fullJaccardSql]]: at the testdata's similarity
    * margins (planted near-dups ≥ 0.92 full-set jaccard, random pairs
    * ≤ ~0.3) the miss probability at b=8, r=4 is (1-0.92⁴)⁸ ≈ 4e-5,
    * so LSH-then-verify equals the exact full-set result. The same
    * argument justifies [[minhashDeltaDedup]]'s oracle (the delta
    * restriction only removes pairs, never adds miss modes). */
  /** Materialize-once pair-set memo, per (pipeline, session, sfDir) —
    * the same policy [[clusterMap]] applies to the CC labels, extended
    * to the two shared pair pipelines: the verified minhash pair set
    * has FOUR registered consumers (`x2_minhash_lsh`, `x2_retention`,
    * `x9_dedup_mix`, and the CC behind `x2_dup_clusters`/
    * `x2_canonical`), the simhash candidate set two (`x2_simhash`,
    * `x2_edit_verify`), and the exact rare-shingle pair frame two
    * (`x2_ngram_jaccard`, `x2_containment`); a production pipeline
    * materializes its sketch
    * tables once and every stage reads them. `localCheckpoint` so the
    * memoized frame survives per-query `clearCache()`; pair sets are
    * candidate-bounded (ScaleProbe-measured ~linear), trivially
    * executor-resident. Plan-shape tests assert on the `*Fresh`
    * builders — the memoized return is a checkpoint scan. Memo keys
    * carry a content fingerprint of the underlying files (rewritten
    * data invalidates, stale slots are freed); Bench's cold pass tears
    * every slot down ([[graft.SparkEntry.invalidateMemos]]) to publish
    * COLD (pipeline-inclusive) timings next to the steady-state ones.
    * The pipeline name is the memo tag. */
  private val pairMemo =
    new graft.Scratch.FixtureMemo[DataFrame](graft.Scratch.releaseCheckpoint)

  private def docsInput(sfDir: String): Seq[String] = Seq(s"$sfDir/documents.parquet")

  private def memoizedPairs(key: String, spark: SparkSession, sfDir: String)(
      build: => DataFrame): DataFrame =
    pairMemo.get(spark, sfDir, docsInput(sfDir), tag = key) { () =>
      build.localCheckpoint(true)
    }

  private[graft] def minhashNearDupFresh(spark: SparkSession, sfDir: String): DataFrame = {
    // both self-join sides are the same subtree: ReuseExchange / AQE
    // stage reuse dedup the banding pipeline (round-15 measurement —
    // see the note above verifyCandidates' candidate checkpoint)
    val banded = bandedFrame(docs(spark, sfDir))
    val cand = banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("i"), col("b.doc_id").as("j"))
      .dropDuplicates("i", "j")
    verifyCandidates(spark, sfDir, cand)
  }

  def minhashNearDup(spark: SparkSession, sfDir: String): DataFrame =
    memoizedPairs("minhash", spark, sfDir)(minhashNearDupFresh(spark, sfDir))

  /** Instrumentation for [[graft.tools.ScaleProbe]]: band-row,
    * LSH-candidate-pair, and verified-pair counts of the
    * [[minhashNearDup]] pipeline at one scale. Candidates-per-doc
    * staying ~flat across scales is the measured form of the "banding
    * keeps dedup linear" claim in SCALING.md. */
  private[graft] def bandedPairsProbe(spark: SparkSession, sfDir: String): Map[String, Long] = {
    val banded = bandedFrame(docs(spark, sfDir)).persist()
    val bandRows = banded.count()
    val cand = banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("i"), col("b.doc_id").as("j"))
      .dropDuplicates("i", "j")
      .persist()
    val candPairs = cand.count()
    val dupPairs = verifyCandidates(spark, sfDir, cand).count()
    banded.unpersist()
    cand.unpersist()
    Map("band_rows" -> bandRows, "cand_pairs" -> candPairs, "dup_pairs" -> dupPairs)
  }

  /** Instrumentation for [[graft.tools.ScaleProbe]]: the corpus-scaled
    * quantizer's bit count, occupied-cell count, and the total
    * within-cell pair count Σ cell·(cell−1)/2 — the work
    * [[semanticDedup]]'s cell equi-join actually performs. Pairs-per-
    * vector staying ~flat across scales is the measured form of the
    * "corpus-scaled cells keep SemDeDup linear" claim in SCALING.md. */
  private[graft] def semanticPairsProbe(spark: SparkSession, sfDir: String): Map[String, Long] = {
    val cells = semanticCells(Tables.embeddings(spark, sfDir))
      .groupBy(col("cell")).agg(count(lit(1)).as("c"))
    val row = cells.agg(
      count(lit(1)).as("cells_used"),
      sum(expr("c * (c - 1) div 2")).as("within_pairs"),
      sum(col("c")).as("n_vecs")).collect()(0)
    val drops = semanticDedup(spark, sfDir).count()
    Map("cells_used" -> row.getLong(0), "within_pairs" -> row.getLong(1),
      "n_vecs" -> row.getLong(2), "dropped" -> drops)
  }

  /** Incremental (delta) near-dup dedup — the production shape at
    * 100 TB: a daily delta lands against an already-deduped index, and
    * only NEW×INDEX and NEW×NEW candidate pairs are ever generated;
    * the index never meets itself again. Here the delta is the
    * deterministic `doc_id % 5 = 0` slice (in production: yesterday's
    * signatures/bands are a materialized table — same plan with the
    * recompute replaced by a scan). Banding, candidate join, and exact
    * verification are identical to [[minhashNearDup]]; the only
    * change is the `≥ 1 delta side` predicate on the band join, which
    * is what turns full-corpus O(pairs) into O(delta-adjacent pairs).
    * Oracle: the full exact-jaccard pair set restricted to pairs with
    * a delta side. */
  def minhashDeltaDedup(spark: SparkSession, sfDir: String): DataFrame = {
    val banded = bandedFrame(docs(spark, sfDir))
      .withColumn("is_delta", col("doc_id") % 5 === 0)
    val cand = banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col("a.doc_id") < col("b.doc_id") &&
          (col("a.is_delta") || col("b.is_delta")))
      .select(col("a.doc_id").as("i"), col("b.doc_id").as("j"))
      .dropDuplicates("i", "j")
    verifyCandidates(spark, sfDir, cand)
  }

  /** [[fullJaccardSql]] restricted to pairs with ≥1 delta side. */
  val minhashDeltaSql: String =
    """WITH sh AS (
      |  SELECT doc_id, unnest(list_distinct(
      |    [substr(text, i, 8) FOR i IN range(1, greatest(length(text) - 7, 1) + 1)])) AS s
      |  FROM documents),
      |sizes AS (SELECT doc_id, count(*) AS cnt FROM sh GROUP BY doc_id),
      |pairs AS (
      |  SELECT a.doc_id AS i, b.doc_id AS j, count(*) AS common
      |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)
      |SELECT i, j, common,
      |  CAST(common AS DOUBLE) / CAST(si.cnt + sj.cnt - common AS DOUBLE) AS jaccard
      |FROM pairs
      |JOIN sizes si ON si.doc_id = i
      |JOIN sizes sj ON sj.doc_id = j
      |WHERE CAST(common AS DOUBLE) / CAST(si.cnt + sj.cnt - common AS DOUBLE) >= 0.5
      |  AND (i % 5 = 0 OR j % 5 = 0)
      |ORDER BY i, j""".stripMargin

  // ---- X2f: persisted sketch-table lifecycle (round 7) ------------------

  /** Bucket count for the persisted band table. At 100 TB this is the
    * table's parallelism contract (thousands of buckets); locally 8
    * matches the session's shuffle partitioning so the bucketed side
    * co-partitions without coercion. */
  val BandTableBuckets = 8

  /** BUILD+PERSIST phase of the sketch-table lifecycle: the minhash
    * band table of the already-deduped INDEX side (doc_id % 5 != 0 —
    * same split as [[minhashDeltaDedup]]) written as a managed table
    * bucketed AND sorted on the band join key `(band, bh)` via
    * [[graft.sink.Sinks.replaceBucketed]]. Returns the table name
    * (content-addressed per sfDir so concurrent SFs never collide).
    * In production this job runs once per index rebuild; every daily
    * increment then reads the LAYOUT instead of recomputing the
    * corpus' signatures.
    *
    * Round 15: built once per (session, sfDir, docs fingerprint) under
    * the DISCLOSED-MEMO policy every persist-once artifact in the repo
    * follows (the x4_hll_table register table is this exact lifecycle
    * for cardinality; BASELINE.md records the adjudication) — the
    * docstring above has claimed "runs once per index rebuild" since
    * round 7, but the query was re-paying the build per invocation.
    * Steady state now prices the INCREMENTAL path (delta bands +
    * bucketed join + verify); Bench's cold pass invalidates the memo,
    * so the full build+persist cost stays published in
    * `cold_queries`. Rewritten testdata self-invalidates via the
    * fingerprint key. The teardown is a no-op: the table can stay
    * registered (the next build REPLACES it — the rebuild is what the
    * cold number prices); only the slot is dropped. */
  private val bandIdxMemo = new graft.Scratch.FixtureMemo[String](_ => ())

  private[graft] def bandIndexTable(spark: SparkSession, sfDir: String): String =
    bandIdxMemo.get(spark, sfDir, docsInput(sfDir)) { () =>
      val table = "graft_band_idx_" +
        java.lang.Integer.toHexString(sfDir.hashCode).toLowerCase
      val index = bandedFrame(docs(spark, sfDir).filter(col("doc_id") % 5 =!= 0))
      graft.sink.Sinks.replaceBucketed(index, table, BandTableBuckets, Seq("band", "bh"))
      table
    }

  /** Registered query `x2_sketch_table` — the PRODUCTION sketch-table
    * lifecycle end-to-end, closing VERDICT r6's top item: (1) build
    * and persist the index band table ([[bandIndexTable]], bucketed on
    * the join key); (2) compute the daily delta's (doc_id % 5 = 0)
    * bands fresh — delta-sized work only; (3) candidate-join the delta
    * bands against the PERSISTED table — the bucketed scan side plans
    * with ZERO shuffle exchange (asserted in BucketedJoinSpec) — plus
    * the delta×delta self-join, then exact-verify. The index never
    * meets itself: candidate generation is O(delta-adjacent pairs),
    * and the index side's signatures come off layout, not recompute.
    * Output ≡ [[minhashDeltaDedup]] (pairs with ≥1 delta side), so it
    * shares [[minhashDeltaSql]] — same answer, production physics. */
  /** Candidate stage of [[sketchTableDedup]], exposed so
    * BucketedJoinSpec can assert the zero-exchange bucketed join on
    * the plan that actually computes it — since round 14 the verify
    * stage lazily checkpoints its candidate input, so the top-level
    * query plan shows the candidates as an `ExistingRDD` scan and the
    * bucketed join lives here. */
  private[graft] def sketchTableCandidates(spark: SparkSession, sfDir: String): DataFrame = {
    val idx = spark.table(bandIndexTable(spark, sfDir))
    // the delta bands feed THREE join inputs (delta×index plus both
    // sides of delta×delta) — all three consume the SAME (band, bh)
    // exchange over the same subtree, so exchange reuse covers them
    // (round-15: the explicit checkpoint here measured as pure
    // barrier cost, 4.47 vs 4.90 s min-of-4 without it)
    val delta = bandedFrame(docs(spark, sfDir).filter(col("doc_id") % 5 === 0))
    val deltaVsIndex = delta.as("d").join(idx.as("x"),
        col("d.band") === col("x.band") && col("d.bh") === col("x.bh"))
      .select(least(col("d.doc_id"), col("x.doc_id")).as("i"),
        greatest(col("d.doc_id"), col("x.doc_id")).as("j"))
    val deltaVsDelta = delta.as("a").join(delta.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("i"), col("b.doc_id").as("j"))
    deltaVsIndex.unionByName(deltaVsDelta).dropDuplicates("i", "j")
  }

  def sketchTableDedup(spark: SparkSession, sfDir: String): DataFrame =
    verifyCandidates(spark, sfDir, sketchTableCandidates(spark, sfDir))

  /** [[minhashNearDup]] built on the custom
    * [[graft.functions.MinHashAgg]] sketch aggregate: ONE
    * TypedImperativeAggregate computes the 32-perm signature per doc
    * (single buffer, one hash pass per perm) instead of 32 separate
    * min() aggregates. Identical output contract: LSH candidates are
    * verified with EXACT jaccard, so the result equals the full exact
    * pair set independent of the hash family — same oracle. */
  def minhashNearDupSketch(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.MinHashAgg.minhash_sig
    val sh = balancedByDoc(docs(spark, sfDir))
      .select(col("doc_id"), graft.functions.Shingles.shingles(col("text"), 8).as("s"))
    val sig = sh.groupBy(col("doc_id")).agg(minhash_sig(col("s"), NumPerms).as("sig"))
    val banded = sig.select(col("doc_id"),
      explode(expr(s"transform(sequence(0, ${Bands - 1}), j -> named_struct(" +
        s"'band', j, 'bh', xxhash64(j, slice(sig, j * $RowsPerBand + 1, $RowsPerBand))))")).as("b"))
      .select(col("doc_id"), col("b.band"), col("b.bh"))
    // (round-14 audit: a localCheckpoint here was tried and reverted —
    // measured neutral, 4.10 vs 3.95 s: this self-join's two identical
    // subtrees already share their exchange at runtime)
    val cand = banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("i"), col("b.doc_id").as("j"))
      .dropDuplicates("i", "j")
    verifyCandidates(spark, sfDir, cand)
  }

  /** The spark.ml pipeline variant of MinHash near-dup (the brief's
    * suggested `HashingTF` + `MinHashLSH` composition):
    * char-shingles → sparse term-frequency vectors → ml MinHashLSH
    * `approxSimilarityJoin` for candidates → the same EXACT jaccard
    * verification as the hand-rolled paths, so it shares the
    * full-jaccard oracle. The hand-rolled [[minhashNearDup]] remains
    * the preferred scale path (explicit banding control, no ml vector
    * materialization); this demonstrates interop with the ml feature
    * pipeline. */
  /** ml variant runs on a bounded slice: MinHashLSH amplifies OR-only
    * (one hash per table, no AND-banding), so its candidate precision
    * degrades quadratically with corpus size — the structural reason
    * the hand-rolled banding is the scale path. The slice covers the
    * whole corpus at the correctness SF. */
  val MlSliceDocs = 500

  def minhashNearDupMl(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.ml.feature.{HashingTF, MinHashLSH}
    val base = docs(spark, sfDir)
      .filter(col("doc_id") < MlSliceDocs)
      .select(col("doc_id"), expr(shinglesExpr).as("shingles"))
    val tf = new HashingTF().setInputCol("shingles").setOutputCol("features")
      .setNumFeatures(1 << 18).setBinary(true)
    // persisted: feats is BOTH sides of the self-join below — without
    // the cache the shingling + hashing subtree runs twice
    val feats = tf.transform(base)
      .filter(expr("size(shingles) > 0"))
      .persist()
    // 4 OR-amplified tables: planted near-dups sit at jaccard ≥ 0.92,
    // so the per-pair miss probability is (1-0.92)⁴ ≈ 4e-5 — the same
    // bound as the hand-rolled b=8/r=4 banding — while each table
    // halves the candidate-explosion cost vs 8 tables
    val lsh = new MinHashLSH().setInputCol("features").setOutputCol("hashes")
      .setNumHashTables(4).setSeed(42L)
    val model = lsh.fit(feats)
    // distance cutoff 0.45 (= jaccard ≥ 0.55): ml keyDistance is EXACT
    // jaccard over feature indices (not a sketch estimate), and the
    // corpus is bimodal — measured: every ≥0.5 pair is ≥ 0.928, every
    // other pair ≤ 0.152, at both correctness SFs — so 0.45 keeps every
    // true pair deterministically (verified exactly below at
    // JaccardThreshold) while pruning the random-collision candidates
    // the 0.6 cutoff let through
    val cand = model.approxSimilarityJoin(feats, feats, 0.45, "dist")
      .select(col("datasetA.doc_id").as("i"), col("datasetB.doc_id").as("j"),
        col("datasetA.shingles").as("sa"), col("datasetB.shingles").as("sb"))
      .filter(col("i") < col("j"))
      .dropDuplicates("i", "j")
      .select(col("i"), col("j"))
    verifyCandidates(spark, sfDir, cand)
  }

  /** Oracle for [[minhashNearDupMl]]: the full-set exact jaccard over
    * the same bounded slice. */
  val mlJaccardSql: String =
    fullJaccardSql.replace("FROM documents",
      s"FROM (SELECT * FROM documents WHERE doc_id < $MlSliceDocs)")

  // ---- X2d: embedding-cosine near-dup -----------------------------------

  val CosineDupThreshold = 0.4

  /** Unordered block pairs for the triangle tiling below. 2·N/B rows
    * per task must fit one partition; at cluster scale B grows as
    * N·rowBytes/partitionTarget (the pair-task count B(B+1)/2 grows
    * quadratically with it, matching the O(N²) math to spread). */
  val CosineBlocks = 16

  /** Near-dup detection on the embedding space: ALL pairs with
    * quantized-integer cosine ≥ 0.4 — the exact pair set, oracled with
    * brute-force SQL.
    *
    * Why exact-distributed rather than LSH-candidates: measured on the
    * testdata, pair similarity is a continuum straight through the 0.4
    * threshold (max sub-threshold pair 0.39989 vs min passing pair
    * 0.40001 at sf0.1) — zero margin. Sign-LSH at s=0.4 has per-plane
    * agreement p₁ = 1−acos(0.4)/π ≈ 0.63 against a p₂ = 0.5 random
    * background, i.e. exponent ρ = ln p₁/ln p₂ ≈ 0.66: pruning only
    * ~N^0.34 at *constant* recall, and recall→1 (what hash-equality
    * with an exact oracle needs) pushes the table count past the point
    * where candidates exceed all-pairs. Unlike the shingle world
    * (minhash banding at jaccard 0.92 margins, miss ≈ 4e-5), no
    * banding scheme is honest here — the exact answer costs O(N²·d)
    * and the scale problem is DISTRIBUTING it, not pretending to prune.
    *
    * So: classic block-pair (triangle) tiling. Each vector hashes into
    * one of B blocks; the B(B+1)/2 unordered block pairs form the join
    * key. A vector in block h replicates left to keys (h, q≥h) and
    * right to keys (p≤h, h), so every vector pair meets in EXACTLY one
    * task via a shuffled EQUI-join on (lo, hi) — no
    * BroadcastNestedLoopJoin, no full-corpus broadcast, per-task
    * memory bounded by 2·N/B rows, parallelism B(B+1)/2. */
  def embeddingCosineDedup(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.VectorFunctions.vec_qdot
    val e = Tables.embeddings(spark, sfDir)
      .withColumn("n2", vec_qdot(col("embedding"), col("embedding")))
      .withColumn("blk", pmod(xxhash64(col("vec_id")), lit(CosineBlocks)).cast("int"))
      .select(col("vec_id"), col("embedding"), col("n2"), col("blk"))
    val left = e.select(col("vec_id").as("ia"), col("embedding").as("ea"),
      col("n2").as("na"), col("blk").as("lo"),
      explode(expr(s"sequence(blk, ${CosineBlocks - 1})")).as("hi"))
    val right = e.select(col("vec_id").as("jb"), col("embedding").as("eb"),
      col("n2").as("nb"), col("blk").as("hi2"),
      explode(expr("sequence(0, blk)")).as("lo2"))
    left.join(right,
        col("lo") === col("lo2") && col("hi") === col("hi2") &&
          // same-block pairs key-match in both orientations; keep one.
          // Cross-block pairs meet exactly once by construction.
          (col("lo") =!= col("hi") || col("ia") < col("jb")))
      .withColumn("sim", vec_qdot(col("ea"), col("eb")).cast("double") /
        (sqrt(col("na").cast("double")) * sqrt(col("nb").cast("double"))))
      .filter(col("sim") >= CosineDupThreshold)
      .select(least(col("ia"), col("jb")).as("i"),
        greatest(col("ia"), col("jb")).as("j"), col("sim"))
      .orderBy(col("i"), col("j"))
  }

  val embeddingCosineDedupSql: String =
    s"""WITH q AS (
       |  SELECT vec_id,
       |    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 10000000) AS BIGINT)) AS iv
       |  FROM embeddings),
       |n AS (SELECT vec_id, iv, list_sum(list_transform(iv, x -> x * x)) AS n2 FROM q)
       |SELECT a.vec_id AS i, b.vec_id AS j,
       |  CAST(list_sum(list_transform(list_zip(a.iv, b.iv), p -> p[1] * p[2])) AS DOUBLE) /
       |    (sqrt(CAST(a.n2 AS DOUBLE)) * sqrt(CAST(b.n2 AS DOUBLE))) AS sim
       |FROM n a, n b
       |WHERE a.vec_id < b.vec_id
       |  AND CAST(list_sum(list_transform(list_zip(a.iv, b.iv), p -> p[1] * p[2])) AS DOUBLE) /
       |    (sqrt(CAST(a.n2 AS DOUBLE)) * sqrt(CAST(b.n2 AS DOUBLE))) >= $CosineDupThreshold
       |ORDER BY i, j""".stripMargin

  /** Target rows per quantizer cell for [[semanticDedup]]: the sign-bit
    * count is the smallest b (floored at [[Similarity.GridDims]], i.e.
    * parity with the fixed grid on tiny corpora) such that
    * 2^b · [[SemDedupCellRows]] ≥ N — so cell count GROWS WITH THE
    * CORPUS and expected within-cell pair work stays ~linear:
    * Σ(cell²) ≈ N · [[SemDedupCellRows]], not N²/constant. */
  val SemDedupCellRows = 64
  /** Upper bound on sign bits (2¹⁶ = 65 536 cells); testdata embeddings
    * carry 64 dims, so 16 sign dims always exist. */
  val SemDedupMaxBits = 16

  /** Attaches the corpus-scaled quantizer cell to an embeddings frame:
    * a 1-row count aggregate derives the bit count
    * b = max(GridDims, #{d < MaxBits : CellRows·2^d < N}) (pure
    * shift-compare integer arithmetic, mirrored verbatim in DuckDB),
    * broadcast-crossed back, then cell = Σ_{d<b} signbit_d·2^d over
    * the quantized dims. The count is a column, not a driver action —
    * the whole thing is one declarative plan. */
  private[graft] def semanticCells(emb: DataFrame): DataFrame = {
    val params = emb.agg(count(lit(1)).as("n"))
      .select(greatest(lit(Similarity.GridDims),
        expr(s"aggregate(sequence(0, ${SemDedupMaxBits - 1}), 0, (acc, d) -> " +
          s"acc + IF(shiftleft(cast($SemDedupCellRows as bigint), d) < n, 1, 0))"))
        .as("b"))
    emb.crossJoin(broadcast(params))
      .withColumn("cell",
        expr(s"aggregate(sequence(0, ${SemDedupMaxBits - 1}), cast(0 as bigint), (acc, d) -> " +
          "acc + IF(d < b AND cast(round(cast(element_at(embedding, d + 1) as double) " +
          "* 10000000) as bigint) > 0, shiftleft(cast(1 as bigint), d), cast(0 as bigint)))"))
      .drop("b")
  }

  /** The same derivation in DuckDB: CTEs `params` (bit count from the
    * corpus count) and a `cell` expression over the quantized list. */
  private[ext] def semanticCellsSqlParams: String =
    s"""params AS (
       |  SELECT greatest(${Similarity.GridDims},
       |    len([d FOR d IN range(0, $SemDedupMaxBits) IF ($SemDedupCellRows::BIGINT << d) < n])) AS b
       |  FROM (SELECT count(*) AS n FROM embeddings))""".stripMargin

  private[ext] def semanticCellSqlExpr(iv: String): String =
    s"CAST(list_sum([CASE WHEN d < b AND $iv[d + 1] > 0 THEN (1::BIGINT << d) ELSE 0 END " +
      s"FOR d IN range(0, $SemDedupMaxBits)]) AS BIGINT)"

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): partition the embedding space into cells,
    * compute cosine similarity only WITHIN each cell, and drop every
    * vector that has an earlier (lower-id) near-semantic match in its
    * cell. This is the scale path next to [[embeddingCosineDedup]]
    * (which tiles the exact quadratic pair set): cross-cell pairs are
    * deliberately not examined — the published technique's
    * approximation, here made deterministic with a CORPUS-SCALED
    * sign-bit quantizer: cell id = the first b sign bits of the
    * quantized embedding, where b is derived from the corpus count by
    * the integer rule at [[SemDedupCellRows]]. Deriving b from
    * shift-compare integer arithmetic (never floating log2) lets the
    * DuckDB mirror reproduce both b and every cell id bit-for-bit,
    * and makes within-cell work Σ(cell²) ≈ N·64 — linear in the
    * corpus, measured by `graft.tools.ScaleProbe` (SCALING.md). The
    * count that sizes b rides the same single-pass plan as a 1-row
    * broadcast (no driver action); at 100 TB the sign grid swaps for
    * a learned coarse quantizer (k-means centroids, the
    * [[Similarity.ivfCosineTopK]] machinery) with the SAME
    * cell-equi-join → drop-vs-earlier plan shape.
    *
    * Drop rule: vec j is dropped iff some i < j in the same cell has
    * sim(i, j) ≥ [[CosineDupThreshold]] — the keep-lowest-id
    * convention every dedup in this suite uses (SemDeDup's greedy
    * keep-one-per-group agrees whenever near-duplicate groups are
    * cliques at the threshold, the regime the technique targets).
    * Output: one row per dropped vector with its cell, earliest
    * witness, strongest similarity, and witness count. */
  def semanticDedup(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.VectorFunctions.vec_qdot
    val e = semanticCells(Tables.embeddings(spark, sfDir))
      .withColumn("n2", vec_qdot(col("embedding"), col("embedding")))
      .select(col("vec_id"), col("embedding"), col("n2"), col("cell"))
    e.as("a").join(e.as("b"),
        col("a.cell") === col("b.cell") && col("a.vec_id") < col("b.vec_id"))
      .withColumn("sim", vec_qdot(col("a.embedding"), col("b.embedding")).cast("double") /
        (sqrt(col("a.n2").cast("double")) * sqrt(col("b.n2").cast("double"))))
      .filter(col("sim") >= CosineDupThreshold)
      .groupBy(col("b.vec_id").as("vec_id"), col("b.cell").as("cell"))
      .agg(min(col("a.vec_id")).as("dup_of"),
        max(col("sim")).as("best_sim"),
        count(lit(1)).as("n_near"))
      .orderBy(col("vec_id"))
  }

  /** Mirror of [[semanticDedup]]: same corpus-scaled bit count (integer
    * shift-compare), same sign-bit cells, same quantized integer dot
    * products, same drop-vs-earlier rule. */
  val semanticDedupSql: String =
    s"""WITH q AS (
       |  SELECT vec_id,
       |    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 10000000) AS BIGINT)) AS iv
       |  FROM embeddings),
       |n AS (SELECT vec_id, iv, list_sum(list_transform(iv, x -> x * x)) AS n2 FROM q),
       |$semanticCellsSqlParams,
       |cells AS (
       |  SELECT vec_id, iv, n2,
       |    ${semanticCellSqlExpr("iv")} AS cell
       |  FROM n, params),
       |pairs AS (
       |  SELECT a.vec_id AS i, b.vec_id AS j, b.cell AS cell,
       |    CAST(list_sum(list_transform(list_zip(a.iv, b.iv), p -> p[1] * p[2])) AS DOUBLE) /
       |      (sqrt(CAST(a.n2 AS DOUBLE)) * sqrt(CAST(b.n2 AS DOUBLE))) AS sim
       |  FROM cells a JOIN cells b ON a.cell = b.cell AND a.vec_id < b.vec_id)
       |SELECT j AS vec_id, cell, min(i) AS dup_of, max(sim) AS best_sim,
       |  count(*) AS n_near
       |FROM pairs
       |WHERE sim >= $CosineDupThreshold
       |GROUP BY 1, 2
       |ORDER BY vec_id""".stripMargin

  // ---- X2c: SimHash -----------------------------------------------------

  val SimHashBits = 60 // 4 chunks × 15 bits
  val SimHashChunks = 4
  val SimHashMaxHamming = 3

  /** 60-bit SimHash over char-8-gram shingles; near-dup = hamming
    * distance ≤ 3. Candidate generation by 4×15-bit chunk banding —
    * pigeonhole guarantees any pair within hamming 3 shares at least
    * one exact 15-bit chunk, so the banding loses NOTHING at this
    * radius and the output equals the brute-force all-pairs hamming
    * scan the oracle runs. Word tokens are useless on the testdata's
    * ~30-word vocab (every doc looks alike); shingles carry ordering.
    *
    * The shingle hash is the first 15 hex chars of md5 folded to a
    * 60-bit integer — pure integer arithmetic available identically in
    * both engines, so the ENTIRE pipeline (signature, banding radius,
    * hamming filter) is mirrored by [[simhashSql]] and driver
    * hash-verified; no engine-specific hashing in the data path. */
  /** (doc_id, simhash) for a (doc_id, text) frame — one md5+hex-fold
    * per shingle (explode + groupBy beats interpreted HOF lambdas
    * ~100×), then ONE custom [[graft.functions.SimHashAgg]] sketch
    * aggregate folds the 60 per-bit majority votes (the original 60
    * separate `sum(when(bit))` aggregates paid 60 dispatches per row
    * and a 60-column shuffle buffer; the sketch is one primitive loop
    * and one 240-byte buffer — bit-identical output, spec-pinned).
    * Shared by the batch near-dup query and (as the ground truth the
    * typed streaming hasher is spec-pinned against) the streaming
    * path. */
  private[graft] def simhashFrame(docFrame: DataFrame): DataFrame = {
    import graft.functions.SimHashAgg.simhash_agg
    docFrame
      .select(col("doc_id"), graft.functions.Shingles.shingles(col("text"), 8).as("s"))
      .select(col("doc_id"), graft.functions.StringFunctions.md5_fold60(col("s")).as("h"))
      .groupBy(col("doc_id"))
      .agg(simhash_agg(col("h"), SimHashBits).as("simhash"))
  }

  /** The simhash near-dup pair set WITHOUT the presentation sort —
    * shared by [[simhashNearDup]] (which only adds the ORDER BY) and
    * [[editVerify]] (which joins texts onto it; a mid-pipeline global
    * sort there would survive as a useless Exchange+Sort). Memoized
    * via [[memoizedPairs]]; this fresh builder stays assertable. */
  private[graft] def simhashPairsFresh(spark: SparkSession, sfDir: String): DataFrame = {
    val sims = simhashFrame(docs(spark, sfDir))
    val chunked = sims.select(col("doc_id"), col("simhash"),
      explode(expr(s"transform(sequence(0, ${SimHashChunks - 1}), c -> named_struct(" +
        "'chunk', c, 'ck', shiftright(simhash, c * 15) & 32767))")).as("c"))
      .select(col("doc_id"), col("simhash"), col("c.chunk"), col("c.ck"))
    chunked.as("a").join(chunked.as("b"),
        col("a.chunk") === col("b.chunk") && col("a.ck") === col("b.ck") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("i"), col("b.doc_id").as("j"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).cast("long").as("hamming"))
      .dropDuplicates("i", "j")
      .filter(col("hamming") <= SimHashMaxHamming)
  }

  private def simhashPairs(spark: SparkSession, sfDir: String): DataFrame =
    memoizedPairs("simhash", spark, sfDir)(simhashPairsFresh(spark, sfDir))

  def simhashNearDup(spark: SparkSession, sfDir: String): DataFrame =
    simhashPairs(spark, sfDir).orderBy(col("i"), col("j"))

  /** Full mirror of [[simhashNearDup]]: same md5-hex-fold hash, same
    * 60 majority bits, brute-force all-pairs hamming ≤ 3 (the banding
    * is lossless at this radius, so candidates need no mirroring). */
  val simhashSql: String = {
    val bitSums = (0 until SimHashBits)
      .map(i => s"SUM(CASE WHEN ((h >> $i) & 1) = 1 THEN 1 ELSE -1 END) AS b$i")
      .mkString(",\n    ")
    val recombine = (0 until SimHashBits)
      .map(i => s"(CASE WHEN b$i > 0 THEN (1::BIGINT << $i) ELSE 0 END)")
      .mkString(" + ")
    s"""WITH sh AS (
       |  SELECT doc_id, unnest(list_distinct(
       |    [substr(text, i, 8) FOR i IN range(1, greatest(length(text) - 7, 1) + 1)])) AS s
       |  FROM documents),
       |h AS (
       |  SELECT doc_id, list_reduce(
       |    [strpos('0123456789abcdef', x) - 1 FOR x IN string_split(substr(md5(s), 1, 15), '')],
       |    (a, b) -> a * 16 + b) AS h
       |  FROM sh),
       |bits AS (
       |  SELECT doc_id,
       |    $bitSums
       |  FROM h GROUP BY doc_id),
       |sims AS (SELECT doc_id, $recombine AS simhash FROM bits)
       |SELECT a.doc_id AS i, b.doc_id AS j,
       |  CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
       |FROM sims a JOIN sims b ON a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.simhash, b.simhash)) <= $SimHashMaxHamming
       |ORDER BY i, j""".stripMargin
  }

  /** Relative edit-distance bar for [[editVerify]]: a candidate pair
    * verifies when levenshtein ≤ 5 % of the longer text (integer form
    * `ed * 20 ≤ max_len` — no division, no doubles). */
  val EditVerifyPct20 = 20L

  /** Registered query `x2_edit_verify`: EDIT-DISTANCE verification of
    * the simhash candidate set — the fourth verification metric beside
    * shingle Jaccard ([[minhashNearDup]]), embedding cosine
    * ([[embeddingCosineDedup]]) and simhash hamming
    * ([[simhashNearDup]]). Hamming over 60-bit sketches says two docs
    * share most 8-gram mass; levenshtein says HOW MUCH text actually
    * changed — the metric a human auditing a near-dup cluster reaches
    * for, and the one that catches a sketch collision outright.
    * Levenshtein is O(len²) per pair, so running it on all pairs is
    * absurd at any scale; here it runs ONLY on the banding-bounded
    * candidate set (the standard sketch-then-verify discipline: cheap
    * candidate generation, expensive metric on the survivors). Shape:
    * the banded pair set, two doc-keyed text joins, one codegen'd
    * `levenshtein` projection + integer relative filter. */
  def editVerify(spark: SparkSession, sfDir: String): DataFrame = {
    val t = docs(spark, sfDir).select(col("doc_id"), col("text"))
    simhashPairs(spark, sfDir)
      .join(t.select(col("doc_id").as("i"), col("text").as("ta")), Seq("i"))
      .join(t.select(col("doc_id").as("j"), col("text").as("tb")), Seq("j"))
      .select(col("i"), col("j"), col("hamming"),
        levenshtein(col("ta"), col("tb")).cast("long").as("ed"),
        greatest(length(col("ta")), length(col("tb"))).cast("long").as("len_max"))
      .filter(col("ed") * EditVerifyPct20 <= col("len_max"))
      .withColumn("ed_permille", expr("ed * 1000 div len_max"))
      .orderBy(col("i"), col("j"))
  }

  /** Mirror: [[simhashSql]] verbatim as a nested CTE (its pair set is
    * already the lossless hamming ≤ 3 equivalence of the banding),
    * re-tailed with the levenshtein verification. */
  val editVerifySql: String =
    s"""WITH p AS (
       |$simhashSql
       |),
       |t AS (SELECT doc_id, text FROM documents)
       |SELECT p.i, p.j, p.hamming,
       |  CAST(levenshtein(ta.text, tb.text) AS BIGINT) AS ed,
       |  CAST(greatest(length(ta.text), length(tb.text)) AS BIGINT) AS len_max,
       |  CAST(levenshtein(ta.text, tb.text) AS BIGINT) * 1000
       |    // greatest(length(ta.text), length(tb.text)) AS ed_permille
       |FROM p
       |JOIN t ta ON ta.doc_id = p.i
       |JOIN t tb ON tb.doc_id = p.j
       |WHERE CAST(levenshtein(ta.text, tb.text) AS BIGINT) * $EditVerifyPct20
       |  <= greatest(length(ta.text), length(tb.text))
       |ORDER BY i, j""".stripMargin

  /** Registered query `x2_sketch_calibration` — the sketch-quality
    * dashboard for the simhash family (the minhash analog of
    * `x3_recall_report`): per hamming distance of the banding-bounded
    * candidate set, how far apart are the texts REALLY (levenshtein
    * permille of the longer text)? A production dedup pipeline keeps
    * this table next to its thresholds — it is how the hamming cut
    * and the edit-verify bar get tuned from data instead of folklore.
    * Rides the memoized pair set; the per-pair work is the same two
    * doc-keyed text joins as [[editVerify]] and the tail is a
    * ≤4-group aggregate. All integer; mirrored end to end (md5
    * simhash, pigeonhole banding, levenshtein) so the driver verifies
    * the calibration numbers themselves. */
  def sketchCalibration(spark: SparkSession, sfDir: String): DataFrame = {
    val t = docs(spark, sfDir).select(col("doc_id"), col("text"))
    simhashPairs(spark, sfDir)
      .join(t.select(col("doc_id").as("i"), col("text").as("ta")), Seq("i"))
      .join(t.select(col("doc_id").as("j"), col("text").as("tb")), Seq("j"))
      .select(col("hamming"),
        // `div`, not `/`: Column./ is DOUBLE division
        expr("""(cast(levenshtein(ta, tb) as bigint) * 1000)
                div greatest(length(ta), length(tb))""").as("ed_permille"))
      .groupBy(col("hamming"))
      .agg(count(lit(1)).as("n_pairs"),
        expr("sum(ed_permille) div count(1)").as("mean_ed_permille"),
        min(col("ed_permille")).as("min_ed_permille"),
        max(col("ed_permille")).as("max_ed_permille"))
      .orderBy(col("hamming"))
  }

  val sketchCalibrationSql: String =
    s"""WITH p AS (
       |$simhashSql
       |),
       |t AS (SELECT doc_id, text FROM documents),
       |e AS (
       |  SELECT p.hamming,
       |    CAST(levenshtein(ta.text, tb.text) AS BIGINT) * 1000
       |      // greatest(length(ta.text), length(tb.text)) AS ed_permille
       |  FROM p
       |  JOIN t ta ON ta.doc_id = p.i
       |  JOIN t tb ON tb.doc_id = p.j)
       |SELECT hamming, count(*) AS n_pairs,
       |  CAST(sum(ed_permille) // count(*) AS BIGINT) AS mean_ed_permille,
       |  CAST(min(ed_permille) AS BIGINT) AS min_ed_permille,
       |  CAST(max(ed_permille) AS BIGINT) AS max_ed_permille
       |FROM e
       |GROUP BY hamming
       |ORDER BY hamming""".stripMargin

  // ---- X2: duplicate clustering (connected components) ------------------

  /** Min-label connected components over an undirected (i, j) edge
    * frame: every node adopts the smallest label among itself and its
    * neighbors until fixpoint — the Pregel/GraphFrames formulation —
    * accelerated with POINTER JUMPING: each round a node also adopts
    * its current label-node's label (l ← min(l, label(l)), sound
    * because any label is reachable within the component), so the
    * propagation radius roughly doubles per round and convergence is
    * O(log diameter) rounds instead of O(diameter). The driver loop
    * holds only the iteration counter and one scalar (the label sum)
    * per round; all data movement is distributed joins keyed on
    * doc_id, restricted to the SUBGRAPH WITH EDGES — every node
    * outside it is trivially a singleton and never enters a join.
    *
    * Generations are persist-then-unpersist — each round reads the
    * previous round's cache, and a PERSISTED generation's blocks are
    * freed immediately by the `unpersist` below. Every
    * CheckpointEvery=3 rounds the generation is
    * `localCheckpoint(eager = true)` instead, truncating the lineage.
    * NOTE the asymmetry: `unpersist()` is a no-op for CHECKPOINTED
    * generations (their RDD blocks live outside the CacheManager), so
    * those blocks linger until the ContextCleaner GCs the dropped
    * references — transient executor-storage growth of at most
    * ⌈rounds/3⌉ label frames (each a slim (id, label) pair set), the
    * accepted cost of bounded plans.
    * The interval is deliberately SHORT: persist caches data but does
    * NOT shrink the logical plan, and each round's plan embeds the
    * previous generation's plan three times (neighbor-min join, hop
    * join, jump lookup) — 3ⁿ growth, where even stringifying the tree
    * (explain/log paths) hangs past n≈8. Truncating every 3 rounds
    * caps the tree at 27 copies, so the plan at round 40 is as bounded
    * as at round 2 — spec-pinned on a diameter-100 path graph.
    *
    * Returns (doc_id, cluster) for subgraph nodes only; the returned
    * frame is materialized and still cached — harness mains clear it
    * per query (`spark.catalog.clearCache()`). */
  private[graft] def connectedComponents(edges: DataFrame): DataFrame = {
    // symmetrize with ONE consumer of `edges`: a union of two selects
    // would materialize the upstream pair pipeline (the whole LSH
    // near-dup plan when called from dupClusters) twice on first use
    val bidir = edges
      .select(explode(array(
        struct(col("i").as("src"), col("j").as("dst")),
        struct(col("j").as("src"), col("i").as("dst")))).as("e"))
      .select(col("e.src"), col("e.dst"))
      .persist()
    val MaxIters = 50
    val CheckpointEvery = 3
    var labels = bidir.select(col("src").as("doc_id")).distinct()
      .withColumn("cluster", col("doc_id")).persist()
    // sum(cluster) is the convergence measure; on a clean corpus (zero
    // near-dup edges) the frame is empty and `sum` returns null — a
    // legitimate input, not an error: treat it as 0 (converged; labels
    // sum is strictly positive whenever any edge exists, since an edge
    // needs two distinct non-negative ids)
    def clusterSum(df: DataFrame): Long =
      Option(df.agg(sum(col("cluster"))).head.get(0)).map(_.asInstanceOf[Long]).getOrElse(0L)
    var prevSum = Long.MaxValue
    var curSum = clusterSum(labels)
    var iters = 0
    while (curSum < prevSum && iters < MaxIters) {
      val nbrMin = bidir.join(labels, bidir("src") === labels("doc_id"))
        .groupBy(col("dst")).agg(min(col("cluster")).as("nbr_min"))
      val hop = labels.join(nbrMin, labels("doc_id") === nbrMin("dst"), "left")
        .select(col("doc_id"),
          least(col("cluster"), coalesce(col("nbr_min"), col("cluster"))).as("cluster"))
      // pointer jump: look the hopped label up in the PREVIOUS
      // generation (already cached → no recompute, and `hop` stays
      // single-consumer). A node's label always names a node of the
      // same component, so min-ing with that node's own label is
      // sound and shortcuts long chains. Skipped in round 1: the
      // previous generation is the identity labeling there, so the
      // lookup is a provable no-op — one join saved on every call,
      // which is most of the loop's cost for shallow real dup graphs.
      val next0 =
        if (iters == 0) hop
        else hop.as("a")
          .join(labels.select(col("doc_id").as("l_id"), col("cluster").as("l_cl")),
            col("a.cluster") === col("l_id"), "left")
          .select(col("a.doc_id").as("doc_id"),
            least(col("a.cluster"), coalesce(col("l_cl"), col("a.cluster"))).as("cluster"))
      val next =
        if ((iters + 1) % CheckpointEvery == 0) next0.localCheckpoint(true)
        else next0.persist()
      prevSum = curSum
      curSum = clusterSum(next) // materializes `next`
      labels.unpersist()
      labels = next
      iters += 1
    }
    bidir.unpersist()
    // a silent non-converged result would diverge from the transitive-
    // closure oracle with no symptom — refuse instead (a component with
    // diameter > 2^MaxIters means the dup graph isn't dup-shaped anyway)
    if (curSum < prevSum) throw new IllegalStateException(
      s"connectedComponents did not converge within $MaxIters label-propagation rounds")
    labels
  }

  /** Connected components over the near-dup pair graph — the step that
    * turns pairwise matches into keep/drop groups (keep the minimum
    * doc_id of each component, drop the rest); the iteration itself is
    * [[connectedComponents]] (pointer-jumped min-label propagation
    * with periodic lineage checkpoints), run on the dup subgraph only.
    *
    * Edges are the EXACT near-dup pair set ([[minhashNearDup]] —
    * LSH-generated, exact-verified), so the DuckDB mirror can rebuild
    * the same graph and close it with a recursive CTE. */
  /** Materialize-once cluster map: (doc_id, cluster) for the FULL corpus
    * (singletons grafted back on), computed once per (session, sfDir) and
    * shared by every consumer — [[dupClusters]] and
    * [[canonicalByQuality]] both tail off this frame, so the iterative
    * pointer-jumping CC runs once per session, exactly as a production
    * pipeline materializes its cluster map once between dedup and
    * retention. `localCheckpoint` (not persist) so the memoized frame
    * carries a truncated lineage and survives the harness'
    * per-query `clearCache()`; the frame is two long columns over the
    * corpus, trivially executor-resident at any SF. */
  private val ccMemo =
    new graft.Scratch.FixtureMemo[DataFrame](graft.Scratch.releaseCheckpoint)

  private[graft] def clusterMap(spark: SparkSession, sfDir: String): DataFrame =
    ccMemo.get(spark, sfDir, docsInput(sfDir)) { () =>
      // builds OUTSIDE the map lock (Scratch.Slot), which matters here:
      // this build re-enters pairMemo via minhashNearDup
      val edges = minhashNearDup(spark, sfDir).select(col("i"), col("j"))
      val labels = connectedComponents(edges)
      // graft singleton clusters back on for the full-corpus view
      val all = docs(spark, sfDir).select(col("doc_id"))
        .join(labels, Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("cluster"), col("doc_id")).as("cluster"))
        .localCheckpoint(true)
      labels.unpersist()
      all
    }

  def dupClusters(spark: SparkSession, sfDir: String): DataFrame = {
    val all = clusterMap(spark, sfDir)
    val w = Window.partitionBy(col("cluster"))
    all
      .select(col("doc_id"), col("cluster"),
        count(lit(1)).over(w).as("cluster_size"),
        (col("doc_id") === col("cluster")).as("is_rep"))
      .orderBy(col("doc_id"))
  }

  /** Canonicalization BY QUALITY (round 5): per near-dup cluster, keep
    * the most lexically rich copy (max distinct-token count, doc_id as
    * the deterministic tiebreak) instead of [[dupClusters]]'s
    * keep-lowest-id convention — the production retention policy: when
    * a crawl yields near-identical variants, you keep the best one,
    * not the first-seen one. Reuses the exact cluster labels
    * ([[connectedComponents]] over the LSH-verified pair graph), joins
    * the per-doc quality measure (computed in the same pass as the
    * doc scan), and takes one `row_number` over the CLUSTER-partitioned
    * window — cluster-keyed shuffles only, nothing global. Output: one
    * row per cluster with its canonical doc, the quality that won, and
    * how many near-dups were folded away. */
  def canonicalByQuality(spark: SparkSession, sfDir: String): DataFrame = {
    val labeled = clusterMap(spark, sfDir)
    val quality = docs(spark, sfDir)
      .select(col("doc_id"),
        size(array_distinct(split(col("text"), " "))).cast("long").as("n_distinct"))
    val ranked = labeled.join(quality, Seq("doc_id"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("cluster"))
          .orderBy(col("n_distinct").desc, col("doc_id"))))
    ranked
      .groupBy(col("cluster"))
      .agg(count(lit(1)).as("cluster_size"),
        max(when(col("rk") === 1, col("doc_id"))).as("canonical_doc"),
        max(when(col("rk") === 1, col("n_distinct"))).as("canonical_distinct"),
        (count(lit(1)) - 1).as("n_folded"))
      .orderBy(col("cluster"))
  }

  /** Oracle: same exact pair graph, closed with a recursive CTE
    * (transitive closure), component label = min reachable doc_id. */
  val dupClustersSql: String =
    """WITH RECURSIVE sh AS (
      |  SELECT doc_id, unnest(list_distinct(
      |    [substr(text, i, 8) FOR i IN range(1, greatest(length(text) - 7, 1) + 1)])) AS s
      |  FROM documents),
      |sizes AS (SELECT doc_id, count(*) AS cnt FROM sh GROUP BY doc_id),
      |cpairs AS (
      |  SELECT a.doc_id AS i, b.doc_id AS j, count(*) AS common
      |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |dup AS (
      |  SELECT i, j FROM cpairs
      |  JOIN sizes si ON si.doc_id = i
      |  JOIN sizes sj ON sj.doc_id = j
      |  WHERE CAST(common AS DOUBLE) / CAST(si.cnt + sj.cnt - common AS DOUBLE) >= 0.5),
      |edges AS (SELECT i AS src, j AS dst FROM dup
      |          UNION SELECT j, i FROM dup),
      |reach(src, dst) AS (
      |  SELECT src, dst FROM edges
      |  UNION
      |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
      |labels AS (
      |  SELECT d.doc_id,
      |    least(d.doc_id, coalesce(min(r.dst), d.doc_id)) AS cluster
      |  FROM documents d LEFT JOIN reach r ON r.src = d.doc_id
      |  GROUP BY d.doc_id)
      |SELECT doc_id, cluster,
      |  count(*) OVER (PARTITION BY cluster) AS cluster_size,
      |  doc_id = cluster AS is_rep
      |FROM labels
      |ORDER BY doc_id""".stripMargin

  /** Registered query `x2_cc_stats` — the duplicate-graph shape
    * report: how many clusters of each size does the near-dup graph
    * contain, and how many documents do they hold? The first question
    * a dedup review asks (a few huge clusters vs many pairs changes
    * the retention policy). Rides the memoized cluster map; the tail
    * is two map-combinable aggregates over slim (doc, cluster) rows. */
  def ccStats(spark: SparkSession, sfDir: String): DataFrame =
    clusterMap(spark, sfDir)
      .groupBy(col("cluster")).agg(count(lit(1)).as("cluster_size"))
      .groupBy(col("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"),
        (col("cluster_size") * count(lit(1))).as("n_docs"))
      .orderBy(col("cluster_size"))

  /** Mirror: [[dupClustersSql]]'s transitive-closure `labels` CTE,
    * re-tailed with the size histogram (same tail-surgery discipline
    * as [[canonicalByQualitySql]]). NOTE: `labels` assigns every doc a
    * cluster (singletons label themselves), matching [[clusterMap]]'s
    * all-docs frame. */
  val ccStatsSql: String = {
    val tail = "SELECT doc_id, cluster,\n" +
      "  count(*) OVER (PARTITION BY cluster) AS cluster_size,\n" +
      "  doc_id = cluster AS is_rep\nFROM labels\nORDER BY doc_id"
    require(dupClustersSql.endsWith(tail),
      "dupClustersSql tail changed; update ccStatsSql")
    dupClustersSql.dropRight(tail.length) +
      """SELECT cluster_size, count(*) AS n_clusters,
        |  CAST(cluster_size * count(*) AS BIGINT) AS n_docs
        |FROM (SELECT cluster, count(*) AS cluster_size FROM labels GROUP BY cluster)
        |GROUP BY cluster_size
        |ORDER BY cluster_size""".stripMargin
  }

  /** Oracle for [[canonicalByQuality]]: [[dupClustersSql]]'s
    * transitive-closure `labels` CTE, re-tailed with the quality join
    * (as a subquery — no CTE-list surgery) and per-cluster argmax.
    * Declared AFTER `dupClustersSql` (object vals initialize in
    * order); the `require` trips if the shared tail ever drifts. */
  val canonicalByQualitySql: String = {
    val tail = "SELECT doc_id, cluster,\n" +
      "  count(*) OVER (PARTITION BY cluster) AS cluster_size,\n" +
      "  doc_id = cluster AS is_rep\nFROM labels\nORDER BY doc_id"
    require(dupClustersSql.endsWith(tail),
      "dupClustersSql tail changed; update canonicalByQualitySql")
    dupClustersSql.dropRight(tail.length) +
      """SELECT cluster, count(*) AS cluster_size,
        |  CAST(max(CASE WHEN rk = 1 THEN doc_id END) AS BIGINT) AS canonical_doc,
        |  CAST(max(CASE WHEN rk = 1 THEN n_distinct END) AS BIGINT) AS canonical_distinct,
        |  CAST(count(*) - 1 AS BIGINT) AS n_folded
        |FROM (
        |  SELECT l.cluster, l.doc_id, q.n_distinct,
        |    row_number() OVER (PARTITION BY l.cluster
        |      ORDER BY q.n_distinct DESC, l.doc_id) AS rk
        |  FROM labels l
        |  JOIN (SELECT doc_id, len(list_distinct(string_split(text, ' '))) AS n_distinct
        |        FROM documents) q
        |    ON q.doc_id = l.doc_id) ranked
        |GROUP BY cluster
        |ORDER BY cluster""".stripMargin
  }

  /** Per-source dedup retention accounting: apply the near-dup drop
    * rule (doc j dropped iff some i < j verifies at ≥
    * [[JaccardThreshold]] — the keep-lowest-id convention) and roll
    * the outcome up BY SOURCE — docs and characters kept/dropped plus
    * an integer basis-point retention rate. This is the accounting
    * step a production pipeline runs between dedup and mix-weight
    * planning ([[graft.ext.Sampling.mixWeights]] consumes per-source
    * counts — after dedup those are THESE numbers, not the raw ones).
    * Rides [[minhashNearDup]]'s banded pair set (no clustering pass);
    * the rollup is one broadcast-ed anti-join-shaped left join on
    * doc_id plus a source-keyed aggregate — nothing global, all
    * integer. */
  def dedupRetention(spark: SparkSession, sfDir: String): DataFrame = {
    val dropped = minhashNearDup(spark, sfDir)
      .select(col("j").as("doc_id")).distinct()
      .withColumn("is_dropped", lit(1L))
    docs(spark, sfDir)
      .select(col("doc_id"), col("source"), col("n_chars"))
      .join(dropped, Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        count(col("is_dropped")).as("n_dropped"),
        (count(lit(1)) - count(col("is_dropped"))).as("n_kept"),
        sum(col("n_chars")).as("chars_total"),
        coalesce(sum(when(col("is_dropped").isNull, col("n_chars"))), lit(0L)).as("chars_kept"))
      .withColumn("retention_bp", expr("n_kept * 10000 div n_docs"))
      .orderBy(col("source"))
  }

  /** Mirror of [[dedupRetention]]: the exact pair set (the LSH
    * pipeline's proven-equal ground truth, as in [[fullJaccardSql]])
    * derives the dropped ids, then the same source rollup. */
  val dedupRetentionSql: String =
    s"""WITH sh AS (
       |  SELECT doc_id, unnest(list_distinct(
       |    [substr(text, i, 8) FOR i IN range(1, greatest(length(text) - 7, 1) + 1)])) AS s
       |  FROM documents),
       |sizes AS (SELECT doc_id, count(*) AS cnt FROM sh GROUP BY doc_id),
       |pairs AS (
       |  SELECT a.doc_id AS i, b.doc_id AS j, count(*) AS common
       |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |dropped AS (
       |  SELECT DISTINCT j AS doc_id
       |  FROM pairs
       |  JOIN sizes si ON si.doc_id = i
       |  JOIN sizes sj ON sj.doc_id = j
       |  WHERE CAST(common AS DOUBLE) / CAST(si.cnt + sj.cnt - common AS DOUBLE)
       |    >= $JaccardThreshold)
       |SELECT source,
       |  CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(count(d.doc_id) AS BIGINT) AS n_dropped,
       |  CAST(count(*) - count(d.doc_id) AS BIGINT) AS n_kept,
       |  CAST(sum(n_chars) AS BIGINT) AS chars_total,
       |  CAST(coalesce(sum(CASE WHEN d.doc_id IS NULL THEN n_chars END), 0) AS BIGINT)
       |    AS chars_kept,
       |  (CAST(count(*) AS BIGINT) - count(d.doc_id)) * 10000 // count(*) AS retention_bp
       |FROM documents doc
       |LEFT JOIN dropped d USING (doc_id)
       |GROUP BY source
       |ORDER BY source""".stripMargin

  // ---- X2: exact repeated-substring detection ---------------------------

  /** Window length (chars) a span must reach to count as duplicated. */
  val SpanWidth = 64
  /** Stride between sampled window starts. Detection guarantee: any
    * duplicated region of length ≥ SpanWidth + SpanStride − 1 contains
    * an aligned window in BOTH copies, whatever their relative offset.
    */
  val SpanStride = 16

  /** Exact duplicated-substring detection — the "repeated 50-token
    * span" dedup family used on LLM pretraining corpora (suffix-array
    * dedup's scale-out cousin): fingerprint strided fixed-width
    * character windows of every document, shuffle ONCE on the
    * fingerprint, and report spans whose fingerprint occurs in ≥2
    * distinct documents. O(total chars / stride) rows — no pairwise
    * comparison anywhere, unlike the Jaccard family this catches a
    * long verbatim quote inside two otherwise-unrelated documents.
    * Per-occurrence output (doc_id, char offset) would feed a span
    * cutter; here the query reports each cross-doc span cluster. */
  def substringDedup(spark: SparkSession, sfDir: String): DataFrame =
    docs(spark, sfDir)
      .select(col("doc_id"), explode(expr(
        s"""if(length(text) < $SpanWidth, array(),
           |   transform(sequence(0, (length(text) - $SpanWidth) div $SpanStride),
           |             i -> substring(text, i * $SpanStride + 1, $SpanWidth)))""".stripMargin))
        .as("span"))
      .groupBy(md5(col("span")).as("span_md5"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_occurrences"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"))
      .filter(col("n_docs") >= 2)
      .orderBy(col("span_md5"))

  val substringDedupSql: String =
    s"""WITH spans AS (
       |  SELECT doc_id, unnest(list_transform(
       |    range(0, CASE WHEN length(text) < $SpanWidth THEN 0
       |             ELSE (length(text) - $SpanWidth) // $SpanStride + 1 END),
       |    i -> substring(text, i * $SpanStride + 1, $SpanWidth))) AS span
       |  FROM documents)
       |SELECT md5(span) AS span_md5,
       |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
       |  count(*) AS n_occurrences,
       |  min(doc_id) AS first_doc,
       |  max(doc_id) AS last_doc
       |FROM spans
       |GROUP BY md5(span)
       |HAVING count(DISTINCT doc_id) >= 2
       |ORDER BY span_md5""".stripMargin

  // ---- X2: cross-document boilerplate segment removal -------------------

  /** Aligned segment width (words). */
  val SegWords = 8
  /** A segment text appearing in ≥ this many distinct documents is
    * boilerplate. */
  val BoilerDocs = 3

  /** C4-style boilerplate removal, document-reassembling form: split
    * every document into aligned [[SegWords]]-word segments, count
    * each distinct segment text's document frequency across the WHOLE
    * corpus, drop segments shared by ≥ [[BoilerDocs]] documents
    * (navigation chrome, licence blocks, templated headers — the
    * segments exact whole-doc dedup can't touch), and reassemble each
    * document from its surviving segments in order.
    *
    * Scale shape: two aggregations and one join, all on bounded keys —
    * (doc_id, seg) partial-aggregates map-side (segments of one doc
    * co-locate with its words), the global segment-frequency count
    * shuffles once on seg_text hash (boilerplate by definition has
    * high df ⇒ the HAVING-style filter keeps that frame tiny), and the
    * marking join is a shuffle-hash/broadcast join against that small
    * boilerplate set. Per-row HOFs (`array_sort`/`transform`) touch
    * ≤ [[SegWords]]-element arrays — constant work, no corpus-sized
    * interpreted lambda.
    */
  def segmentDedup(spark: SparkSession, sfDir: String): DataFrame = {
    val words = docs(spark, sfDir)
      .select(col("doc_id"), posexplode(split(col("text"), " ")))
      .toDF("doc_id", "pos", "w")
    val segs = words
      .groupBy(col("doc_id"), expr(s"cast(pos div $SegWords as bigint)").as("seg"))
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("pos"), col("w")))), _.getField("w")),
        " ").as("seg_text"))
    val boiler = segs.groupBy(col("seg_text"))
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= BoilerDocs)
      .select(col("seg_text"), lit(true).as("is_boiler"))
    segs.join(boiler, Seq("seg_text"), "left")
      .groupBy(col("doc_id"))
      .agg(
        array_join(
          transform(
            array_sort(collect_list(
              when(col("is_boiler").isNull, struct(col("seg"), col("seg_text"))))),
            _.getField("seg_text")),
          " ").as("clean_text"),
        count(lit(1)).as("n_segs"),
        sum(when(col("is_boiler"), 1L).otherwise(0L)).as("n_dropped"))
      .select(col("doc_id"), col("clean_text"), col("n_segs"), col("n_dropped"))
      .orderBy(col("doc_id"))
  }

  /** Mirror of [[segmentDedup]] (positions via list comprehension —
    * DuckDB has no WITH ORDINALITY; `string_agg ORDER BY` ≡ the
    * struct-sorted `array_join`). */
  val segmentDedupSql: String =
    s"""WITH w0 AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       |words AS (
       |  SELECT doc_id, unnest([{'pos': CAST(i - 1 AS BIGINT), 'w': ws[i]}
       |    FOR i IN range(1, len(ws) + 1)], recursive := true)
       |  FROM w0),
       |segs AS (
       |  SELECT doc_id, pos // $SegWords AS seg,
       |    string_agg(w, ' ' ORDER BY pos) AS seg_text
       |  FROM words GROUP BY 1, 2),
       |boiler AS (
       |  SELECT seg_text FROM segs
       |  GROUP BY seg_text HAVING count(DISTINCT doc_id) >= $BoilerDocs),
       |marked AS (
       |  SELECT s.doc_id, s.seg, s.seg_text, b.seg_text IS NOT NULL AS is_boiler
       |  FROM segs s LEFT JOIN boiler b USING (seg_text))
       |SELECT doc_id,
       |  coalesce(string_agg(CASE WHEN NOT is_boiler THEN seg_text END, ' ' ORDER BY seg), '')
       |    AS clean_text,
       |  count(*) AS n_segs,
       |  CAST(sum(CASE WHEN is_boiler THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped
       |FROM marked
       |GROUP BY doc_id
       |ORDER BY doc_id""".stripMargin
}
