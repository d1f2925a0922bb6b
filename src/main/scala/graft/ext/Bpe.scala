package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** X4 — REAL byte-pair-encoding tokenizer training as a distributed
  * query (Sennrich et al. 2016, arXiv:1508.07909): learn the top
  * [[NumMerges]] merges over the corpus word vocabulary, then apply
  * them and report per-source token compression.
  *
  * Scale design — the reason BPE training is tractable at 100 TB:
  * after ONE corpus pass builds the weighted word vocabulary
  * (distinct-words frame, orders of magnitude smaller than the
  * corpus), every training iteration runs on the VOCAB: adjacent-pair
  * explode → weighted count (map-side combinable) → 1-row argmax →
  * one codegen'd `replace` over the vocab. The driver holds only the
  * 8 learned merges; application back to the corpus is a broadcast
  * join of words against the final vocab.
  *
  * Determinism (what makes the whole training mirrorable in DuckDB):
  * integer weighted counts; argmax tie-broken (count DESC, a ASC,
  * b ASC); and the merge step itself is plain leftmost
  * non-overlapping string `replace` with a DOUBLE-SEPARATOR encoding —
  * symbols joined by `||` with `||` at both ends, merge pattern
  * `|a||b|` → `|ab|`. The single outer pipes of the pattern overlap
  * the separators WITHOUT consuming them, so chained merges
  * (`a b a b` → `ab ab`) work in one scan, while the inner `||`
  * guarantees a pattern can only match a whole-symbol pair (symbol
  * text never contains `|`): the classic greedy-leftmost BPE merge,
  * bit-identical in any engine whose `replace` scans left to right.
  */
object Bpe {

  val NumMerges = 8

  private val WordRe = "[a-z]+"

  /** (w, repr, wt): weighted vocab with the double-separator symbol
    * encoding — 'hello' → '||h||e||l||l||o||'. */
  private def vocab0(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(explode(expr(s"regexp_extract_all(lower(text), '$WordRe', 0)")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("wt"))
      .withColumn("repr", concat(regexp_replace(col("w"), "(.)", "||$1"), lit("||")))

  /** Weighted adjacent-symbol pair counts over a vocab generation. */
  private def pairCounts(vocab: DataFrame): DataFrame =
    vocab
      .select(col("wt"),
        expr("filter(split(repr, '\\\\|\\\\|'), x -> x != '')").as("syms"))
      .filter(size(col("syms")) >= 2)
      .select(col("wt"), explode(expr(
        "transform(sequence(0, size(syms) - 2), i -> struct(syms[i] AS a, syms[i + 1] AS b))")).as("p"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(sum(col("wt")).as("cnt"))

  private[graft] case class Merge(rank: Int, a: String, b: String, cnt: Long)

  /** Train: `NumMerges` rounds of (pair count → argmax → vocab
    * replace). Returns the merges and the final vocab (word → final
    * symbol string). Each generation persists and the previous
    * unpersists — the vocab frame is the only carried state. */
  private[graft] def learn(spark: SparkSession, sfDir: String,
      n: Int = NumMerges): (Seq[Merge], DataFrame) = {
    var vocab = vocab0(spark, sfDir).persist()
    val merges = Seq.newBuilder[Merge]
    for (i <- 1 to n) {
      val top = pairCounts(vocab)
        .orderBy(col("cnt").desc, col("a"), col("b")).limit(1).collect()
      require(top.nonEmpty, "corpus exhausted before NumMerges pairs")
      val m = Merge(i, top(0).getString(0), top(0).getString(1), top(0).getLong(2))
      merges += m
      val next = vocab.withColumn("repr",
        expr(s"replace(repr, '|${m.a}||${m.b}|', '|${m.a}${m.b}|')")).persist()
      vocab.unpersist()
      vocab = next
    }
    (merges.result(), vocab)
  }

  /** Train-once memo (round 8, ADVICE r7): `x4_bpe_merges` and
    * `x4_bpe_tokens` both consume the SAME training run — a tokenizer
    * is trained once and then applied, so retraining per query both
    * mispriced the consumers and (worse) leaked one persisted vocab
    * per invocation (`bpeTokens` had no unpersist hook for the frame
    * it was still reading). The memo owns the final vocab as an
    * eagerly-materialized `localCheckpoint` (the per-iteration persist
    * chain is released inside the build), keyed by the documents
    * fingerprint like the x2 pair memos; its teardown frees the
    * checkpoint blocks, so Bench's cold pass publishes
    * training-inclusive timings next to the steady-state ones. */
  private val learnMemo = new graft.Scratch.FixtureMemo[(Seq[Merge], DataFrame)](
    v => graft.Scratch.releaseCheckpoint(v._2))

  private[graft] def learned(spark: SparkSession,
      sfDir: String): (Seq[Merge], DataFrame) =
    learnMemo.get(spark, sfDir, Seq(s"$sfDir/documents.parquet")) { () =>
      val (merges, vocab) = learn(spark, sfDir)
      val kept = vocab.localCheckpoint(true)
      vocab.unpersist()
      (merges, kept)
    }

  /** Registered query `x4_bpe_merges`: the learned merge table —
    * (rank, sym_a, sym_b, pair_count). The driver gate re-derives the
    * SAME 8 merges in DuckDB via 8 unrolled CTE generations, so the
    * whole training trajectory (counts, tie-breaks, merge application)
    * is hash-verified, not just the final shapes. */
  def bpeMerges(spark: SparkSession, sfDir: String): DataFrame = {
    val (merges, _) = learned(spark, sfDir)
    import spark.implicits._
    merges.map(m => (m.rank.toLong, m.a, m.b, m.cnt))
      .toDF("rank", "sym_a", "sym_b", "pair_count")
      .orderBy(col("rank"))
  }

  /** Registered query `x4_bpe_tokens`: apply the learned tokenizer —
    * per source, word/char volumes and the BPE token count (words
    * joined to the final vocab's symbol count), with the compression
    * ratio in integer basis points (tokens per 10000 chars). The
    * corpus-side work is one words pass + a broadcast-sized vocab
    * join; this is the "how many tokens is my corpus" question every
    * training-budget plan starts with. */
  def bpeTokens(spark: SparkSession, sfDir: String): DataFrame = {
    val (_, vocab) = learned(spark, sfDir)
    val toks = vocab.select(col("w"),
      (size(expr("filter(split(repr, '\\\\|\\\\|'), x -> x != '')"))).cast("long").as("toks"))
    val srcWords = Tables.documents(spark, sfDir)
      .select(col("source"),
        explode(expr(s"regexp_extract_all(lower(text), '$WordRe', 0)")).as("w"))
      .groupBy(col("source"), col("w")).agg(count(lit(1)).as("n"))
    val out = srcWords.join(toks, Seq("w"))
      .groupBy(col("source"))
      .agg(sum(col("n")).as("n_words"),
        sum(col("n") * col("toks")).as("n_tokens"),
        sum(col("n") * length(col("w"))).as("n_chars"))
      .withColumn("tokens_per_10k_chars", expr("n_tokens * 10000L div n_chars"))
      .orderBy(col("source"))
    out
  }

  // ---- DuckDB mirrors ----------------------------------------------------

  /** The shared 8-generation training prefix: v0..v8 plus m1..m8.
    * Every generation is `AS MATERIALIZED`: DuckDB inlines CTEs by
    * default, and v_i references v_{i−1} once in FROM plus (via m_i)
    * again — inlined, the base scan would expand exponentially across
    * 8 generations ("Too many open files" long before any result).
    * Materialization is also the honest mirror of the Spark side's
    * per-generation persist. The 1-row m_i joins in by cross join
    * rather than four scalar subqueries for the same reason. */
  private def trainCtes: String = {
    val v0 =
      s"""words AS (
         |  SELECT unnest(regexp_extract_all(lower(text), '$WordRe')) AS w
         |  FROM documents),
         |v0 AS MATERIALIZED (
         |  SELECT w, regexp_replace(w, '(.)', '||\\1', 'g') || '||' AS repr,
         |    count(*) AS wt
         |  FROM words GROUP BY w)""".stripMargin
    val steps = (1 to NumMerges).map { i =>
      val p = i - 1
      s"""m$i AS MATERIALIZED (
         |  SELECT p.a AS a, p.b AS b, CAST(sum(wt) AS BIGINT) AS cnt FROM (
         |    SELECT wt,
         |      unnest([{'a': s[j], 'b': s[j + 1]} FOR j IN range(1, len(s))]) AS p
         |    FROM (SELECT wt,
         |            list_filter(string_split(repr, '||'), x -> x <> '') AS s
         |          FROM v$p))
         |  GROUP BY 1, 2
         |  ORDER BY cnt DESC, a, b LIMIT 1),
         |v$i AS MATERIALIZED (
         |  SELECT w, replace(repr, '|' || m.a || '||' || m.b || '|',
         |      '|' || m.a || m.b || '|') AS repr, wt
         |  FROM v$p, m$i m)""".stripMargin
    }
    (v0 +: steps).mkString(",\n")
  }

  val bpeMergesSql: String = {
    val rows = (1 to NumMerges)
      .map(i => s"SELECT $i AS rank, a, b, cnt FROM m$i")
      .mkString("\n  UNION ALL ")
    s"""WITH
       |$trainCtes,
       |merges AS (
       |  $rows)
       |SELECT CAST(rank AS BIGINT) AS rank, a AS sym_a, b AS sym_b,
       |  CAST(cnt AS BIGINT) AS pair_count
       |FROM merges
       |ORDER BY rank""".stripMargin
  }

  val bpeTokensSql: String =
    s"""WITH
       |$trainCtes,
       |toks AS (
       |  SELECT w,
       |    CAST(len(list_filter(string_split(repr, '||'), x -> x <> '')) AS BIGINT)
       |      AS toks
       |  FROM v$NumMerges),
       |sw AS (
       |  SELECT source, unnest(regexp_extract_all(lower(text), '$WordRe')) AS w
       |  FROM documents),
       |swc AS (SELECT source, w, count(*) AS n FROM sw GROUP BY 1, 2)
       |SELECT source,
       |  CAST(sum(n) AS BIGINT) AS n_words,
       |  CAST(sum(n * toks) AS BIGINT) AS n_tokens,
       |  CAST(sum(n * len(w)) AS BIGINT) AS n_chars,
       |  CAST(sum(n * toks) AS BIGINT) * 10000
       |    // CAST(sum(n * len(w)) AS BIGINT) AS tokens_per_10k_chars
       |FROM swc JOIN toks USING (w)
       |GROUP BY source
       |ORDER BY source""".stripMargin
}
