package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** X4 — text analysis over `documents`: token stats + quality scoring,
  * corpus term frequencies, n-gram language-ID, document
  * fingerprinting (SURVEY.md §2c).
  *
  * All per-document metrics are pure projections (split/HOF/regexp —
  * codegen'd, no shuffle); corpus-level queries are single
  * hash-aggregations. Ratios divide exact integers ⇒ identical doubles
  * in both engines.
  */
object TextStats {

  /** Once-per-(session, sfDir, corpus fingerprint) persisted HLL
    * register table ([[hllSketchTable]]); Bench's cold pass deletes
    * it with every other registered fixture memo. */
  private val hllRegMemo = new graft.Scratch.FixtureMemo[String](
    d => graft.Scratch.rm(new java.io.File(d)))

  // ---- per-document stats + quality score -------------------------------

  def textStats(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .withColumn("toks", split(col("text"), " "))
      .withColumn("n_tokens", size(col("toks")).cast("long"))
      .withColumn("n_distinct", size(array_distinct(col("toks"))).cast("long"))
      .withColumn("n_stop",
        expr("size(filter(toks, t -> t = 'the' OR t = 'a'))").cast("long"))
      .withColumn("n_word_chars", length(regexp_replace(col("text"), " ", "")).cast("long"))
      // BPE-ish regex tokenization alongside whitespace tokens
      .withColumn("n_re_tokens",
        size(expr("regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)")).cast("long"))
      .select(
        col("doc_id"), col("lang"), col("source"), col("n_tokens"), col("n_distinct"),
        col("n_re_tokens"),
        (col("n_word_chars").cast("double") / col("n_tokens").cast("double")).as("avg_token_len"),
        (col("n_stop").cast("double") / col("n_tokens").cast("double")).as("stopword_ratio"),
        (col("n_distinct").cast("double") / col("n_tokens").cast("double")).as("distinct_ratio"),
      )
      .orderBy(col("doc_id"))

  val textStatsSql: String =
    """WITH t AS (
      |  SELECT doc_id, lang, source, text, string_split(text, ' ') AS toks,
      |    length(replace(text, ' ', '')) AS n_word_chars
      |  FROM documents)
      |SELECT doc_id, lang, source,
      |  CAST(len(toks) AS BIGINT) AS n_tokens,
      |  CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct,
      |  CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS n_re_tokens,
      |  CAST(n_word_chars AS DOUBLE) / CAST(len(toks) AS DOUBLE) AS avg_token_len,
      |  CAST(len(list_filter(toks, t -> t = 'the' OR t = 'a')) AS DOUBLE)
      |    / CAST(len(toks) AS DOUBLE) AS stopword_ratio,
      |  CAST(len(list_distinct(toks)) AS DOUBLE) / CAST(len(toks) AS DOUBLE) AS distinct_ratio
      |FROM t
      |ORDER BY doc_id""".stripMargin

  // ---- corpus term frequency (top terms) --------------------------------

  def termFrequencies(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(explode(split(col("text"), " ")).as("term"), col("doc_id"))
      .groupBy(col("term"))
      .agg(count(lit(1)).as("tf"), countDistinct(col("doc_id")).as("df"))
      .orderBy(col("tf").desc, col("term"))
      .limit(20)

  val termFrequenciesSql: String =
    """SELECT term, count(*) AS tf, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
      |FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents) t
      |GROUP BY term
      |ORDER BY tf DESC, term
      |LIMIT 20""".stripMargin

  // ---- language ID by char-trigram profile ------------------------------

  /** N-gram-heuristic language ID: per-language char-trigram document
    * frequencies (learned from the corpus itself) score each doc;
    * prediction = argmax score (ties → lexicographically first lang).
    * Integer scores ⇒ deterministic. Output: confusion counts.
    *
    * CACHE CONTRACT: the returned plan reuses a persisted trigram
    * frame (it feeds both the profile build and the scoring join;
    * without the cache the heaviest subtree of the query runs twice —
    * measured 10.6 s → 3.1 s with reuse at sf0.1). The harness mains
    * release it via `spark.catalog.clearCache()` after each query;
    * library callers who need deterministic release should use
    * [[langIdReleasable]] and invoke the returned thunk after the
    * final action on the frame. */
  def langId(spark: SparkSession, sfDir: String): DataFrame =
    langIdReleasable(spark, sfDir)._1

  /** [[langId]] plus an explicit cache-release handle: call the thunk
    * once the frame's final action has run to unpersist the shared
    * trigram frame (the same leak-scoping treatment ngramJaccard got,
    * except here the multi-consumer reuse is load-bearing — the
    * profile is broadcast, so the two consumers cannot be fused into
    * one linear window chain without a scale-hostile self-join). */
  def langIdReleasable(spark: SparkSession, sfDir: String): (DataFrame, () => Unit) = {
    val d = Tables.documents(spark, sfDir)
    // trigram extraction via the custom Shingles generator (round 15):
    // it emits each doc's DISTINCT trigrams directly (one compiled
    // iterator, flat memory), so the old explode(positions) + substr +
    // global `.distinct()` — whose dedup key (doc_id, lang, t) made it
    // a FULL-STREAM exchange for what is inherently per-doc work — is
    // gone from the plan (guide §2.4: remove shuffles outright). Same
    // rows: doc_id is unique, so per-doc dedup ≡ the global distinct.
    // The frame feeds BOTH the profile build and the scoring join, so
    // persist it — otherwise the heaviest subtree runs twice.
    val tri = Dedup.balanced(d)
      .select(col("doc_id"), col("lang"),
        graft.functions.Shingles.shingles(col("text"), 3).as("t"))
      .persist()
    // (round-15 audit: dropping this persist now that the generator
    // made the build narrow was tried — 3.96 vs 3.45 s min-of-5: the
    // two consumers' recomputes still outweigh one cache round-trip.)
    // profile cardinality = distinct trigrams × languages (vocab-sized,
    // not corpus-sized) → broadcast it so the doc-trigram stream never
    // shuffles for the join
    val profile = tri.groupBy(col("lang").as("p_lang"), col("t")).agg(count(lit(1)).as("df"))
    val scores = tri.select(col("doc_id"), col("t"))
      .join(broadcast(profile), "t")
      .groupBy(col("doc_id"), col("p_lang"))
      .agg(sum(col("df")).as("score"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("score").desc, col("p_lang"))
    val pred = scores.withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
      .select(col("doc_id"), col("p_lang").as("predicted"))
    val out = d.select(col("doc_id"), col("lang")).join(pred, "doc_id")
      .groupBy(col("lang"), col("predicted"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("lang"), col("predicted"))
    (out, () => { tri.unpersist(); () })
  }

  val langIdSql: String =
    """WITH tri AS (
      |  SELECT doc_id, lang, unnest(list_distinct(
      |    [substr(text, i, 3) FOR i IN range(1, greatest(length(text) - 2, 1) + 1)])) AS t
      |  FROM documents),
      |profile AS (SELECT lang AS p_lang, t, count(*) AS df FROM tri GROUP BY 1, 2),
      |scores AS (
      |  SELECT tri.doc_id, profile.p_lang, SUM(profile.df) AS score
      |  FROM tri JOIN profile USING (t)
      |  GROUP BY 1, 2),
      |pred AS (
      |  SELECT doc_id, p_lang AS predicted
      |  FROM (SELECT doc_id, p_lang,
      |          row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, p_lang) AS rk
      |        FROM scores) s
      |  WHERE rk = 1)
      |SELECT d.lang, pred.predicted, count(*) AS n
      |FROM documents d JOIN pred USING (doc_id)
      |GROUP BY 1, 2
      |ORDER BY 1, 2""".stripMargin

  // ---- TF-IDF (rational idf: tf · N / df — exact integers, no ln) -------

  /** Top-3 characteristic terms per document (first 20 docs) ranked by
    * tf·N/df. Rational idf keeps the score an exact integer ratio —
    * `ln()` is not guaranteed identically rounded across engines. */
  def tfidfTopTerms(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = Tables.documents(spark, sfDir)
    val n = d.count() // corpus size: one tiny driver-side action
    val terms = d.select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
    val tf = terms.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val df = terms.select(col("doc_id"), col("term")).distinct()
      .groupBy(col("term")).agg(count(lit(1)).as("df"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("term"))
    tf.join(df, "term")
      .withColumn("score", col("tf").cast("double") * lit(n.toDouble) / col("df").cast("double"))
      .filter(col("doc_id") < 20)
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select(col("doc_id"), col("rk").cast("long").as("rk"), col("term"),
        col("tf"), col("df"), col("score"))
      .orderBy(col("doc_id"), col("rk"))
  }

  val tfidfTopTermsSql: String =
    """WITH terms AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
      |tf AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY 1, 2),
      |df AS (SELECT term, count(*) AS df FROM (SELECT DISTINCT doc_id, term FROM terms) t GROUP BY 1),
      |n AS (SELECT count(*) AS n FROM documents),
      |scored AS (
      |  SELECT tf.doc_id, tf.term, tf.tf, df.df,
      |    CAST(tf.tf AS DOUBLE) * (SELECT CAST(n AS DOUBLE) FROM n) / CAST(df.df AS DOUBLE) AS score
      |  FROM tf JOIN df USING (term)
      |  WHERE tf.doc_id < 20),
      |ranked AS (
      |  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rk
      |  FROM scored)
      |SELECT doc_id, CAST(rk AS BIGINT) AS rk, term, tf, df, score
      |FROM ranked WHERE rk <= 3
      |ORDER BY doc_id, rk""".stripMargin

  // ---- document fingerprinting ------------------------------------------

  /** Stable content fingerprints: md5 over whitespace-normalized,
    * lower-cased text, plus a polynomial rolling hash over character
    * codes (h = (h·31 + ascii(c)) mod 1e9+7 — modulus keeps every
    * intermediate < 2³⁵, so no overflow divergence and ANSI-safe). */
  def fingerprint(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        md5(regexp_replace(lower(col("text")), "\\s+", " ")).as("fingerprint"),
        // codegen'd expression (functions/StringExpressions.RollingHash):
        // one primitive loop per document, replacing the corpus-length
        // interpreted-HOF fold (aggregate∘transform∘sequence) — same
        // values, pinned by the equivalence spec + this query's oracle
        graft.functions.StringFunctions.rolling_hash(col("text")).as("rolling_hash"),
        length(col("text")).cast("long").as("n_chars"))
      .orderBy(col("doc_id"))

  /** DuckDB list_reduce has no seed — it folds from the first element,
    * which equals Spark's 0-seeded fold since 0·31 + c₁ = c₁. */
  val fingerprintSql: String =
    """SELECT doc_id,
      |  md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS fingerprint,
      |  CAST(CASE WHEN length(text) = 0 THEN 0 ELSE list_reduce(
      |    [CAST(ascii(text[i]) AS BIGINT) FOR i IN range(1, length(text) + 1)],
      |    (acc, c) -> (acc * 31 + c) % 1000000007) END AS BIGINT) AS rolling_hash,
      |  CAST(length(text) AS BIGINT) AS n_chars
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  // ---- train/test contamination (n-gram containment) --------------------

  /** Benchmark-contamination detection: for each held-out document,
    * the fraction of its char-8-gram shingles that appear anywhere in
    * the training split (train = even doc_ids, test = odd — the
    * deterministic split [[graft.ext.Sampling]] formalizes). A test
    * doc with containment ≥ 0.8 is flagged as leaked. One shuffle on
    * the shingle value (distinct-train ⋈ test-shingles); at corpus
    * scale the train side can be swapped for a bloom filter of train
    * shingles (see RuntimeFilterSpec) to avoid materializing the
    * distinct set — exactness traded for one broadcast. */
  def contamination(spark: SparkSession, sfDir: String): DataFrame = {
    val sh = Dedup.balanced(Tables.documents(spark, sfDir))
      .select(col("doc_id"), explode(expr(Dedup.shinglesExpr)).as("s"))
    val train = sh.filter(col("doc_id") % 2 === 0).select(col("s")).distinct()
      .withColumn("hit", lit(1L))
    sh.filter(col("doc_id") % 2 === 1)
      .join(train, Seq("s"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
      .select(col("doc_id"), col("n_shingles"), col("n_hits"),
        (col("n_hits").cast("double") / col("n_shingles").cast("double"))
          .as("containment"),
        (col("n_hits").cast("double") / col("n_shingles").cast("double") >= 0.8)
          .as("flagged"))
      .orderBy(col("doc_id"))
  }

  val contaminationSql: String =
    """WITH sh AS (
      |  SELECT doc_id, unnest(list_distinct(
      |    [substr(text, i, 8) FOR i IN range(1, greatest(length(text) - 7, 1) + 1)])) AS s
      |  FROM documents),
      |train AS (SELECT DISTINCT s FROM sh WHERE doc_id % 2 = 0),
      |scored AS (
      |  SELECT t.doc_id, count(*) AS n_shingles,
      |    CAST(SUM(CASE WHEN train.s IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits
      |  FROM sh t LEFT JOIN train ON t.s = train.s
      |  WHERE t.doc_id % 2 = 1
      |  GROUP BY t.doc_id)
      |SELECT doc_id, n_shingles, n_hits,
      |  CAST(n_hits AS DOUBLE) / CAST(n_shingles AS DOUBLE) AS containment,
      |  CAST(n_hits AS DOUBLE) / CAST(n_shingles AS DOUBLE) >= 0.8 AS flagged
      |FROM scored
      |ORDER BY doc_id""".stripMargin

  // ---- bigram language-model quality score ------------------------------

  /** Perplexity-proxy quality scoring with a corpus-trained bigram LM —
    * the classic "train a small LM on the corpus, drop the worst-scoring
    * documents" filter from LLM-data pipelines (CCNet-style). The model
    * is the corpus itself: P(w2|w1) ≈ count(w1 w2) / count(w1 as a
    * bigram prefix). Each bigram instance scores
    * `(1e6 * c_bigram) div c_prefix` — INTEGER floor division, so the
    * per-instance score is exact integer arithmetic and the document
    * mean (one long sum / one count, divided as doubles) is
    * bit-deterministic across engines and partitionings; no logs, no
    * float accumulation order.
    *
    * Scale: two global count aggregates keyed on (w1,w2) / (w1) — both
    * map-side-combined to vocabulary size, tiny relative to the corpus —
    * then two equi-joins of the instance stream against those counts
    * (broadcastable whenever the vocab fits; AQE decides), one final
    * per-doc aggregate. Every shuffle key is a token or doc id —
    * embarrassingly parallel at 100 TB.
    */
  def lmScore(spark: SparkSession, sfDir: String): DataFrame = {
    val bg = Dedup.balanced(Tables.documents(spark, sfDir))
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"), explode(expr(
        "if(size(toks) < 2, array(), " +
          "transform(sequence(1, size(toks) - 1), " +
          "i -> struct(toks[i-1] AS w1, toks[i] AS w2)))")).as("b"))
      .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
    val cb = bg.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("nb"))
    val cw = bg.groupBy(col("w1")).agg(count(lit(1)).as("nw"))
    bg.join(cb, Seq("w1", "w2"))
      .join(cw, Seq("w1"))
      .select(col("doc_id"), expr("(1000000 * nb) div nw").as("q"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("q")).as("q_sum"))
      .select(col("doc_id"), col("n_bigrams"),
        (col("q_sum").cast("double") / col("n_bigrams").cast("double"))
          .as("lm_score"),
        (col("q_sum").cast("double") / col("n_bigrams").cast("double") < 20000.0)
          .as("low_quality"))
      .orderBy(col("doc_id"))
  }

  val lmScoreSql: String =
    """WITH t AS (
      |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |bg AS (
      |  SELECT doc_id,
      |    string_split(b, chr(1))[1] AS w1, string_split(b, chr(1))[2] AS w2
      |  FROM (SELECT doc_id, unnest(list_transform(range(2, len(toks) + 1),
      |          i -> toks[i-1] || chr(1) || toks[i])) AS b
      |        FROM t) u),
      |cb AS (SELECT w1, w2, count(*) AS nb FROM bg GROUP BY w1, w2),
      |cw AS (SELECT w1, count(*) AS nw FROM bg GROUP BY w1),
      |inst AS (
      |  SELECT bg.doc_id, (1000000 * cb.nb) // cw.nw AS q
      |  FROM bg JOIN cb ON bg.w1 = cb.w1 AND bg.w2 = cb.w2
      |  JOIN cw ON bg.w1 = cw.w1)
      |SELECT doc_id, count(*) AS n_bigrams,
      |  CAST(CAST(SUM(q) AS BIGINT) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS lm_score,
      |  CAST(CAST(SUM(q) AS BIGINT) AS DOUBLE) / CAST(count(*) AS DOUBLE) < 20000.0 AS low_quality
      |FROM inst
      |GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin

  // ---- repetition / quality signals (Gopher-style filters) --------------

  /** Repetition signals used by LLM training-data quality filters
    * (the "fraction of tokens in the most common n-gram" family): per
    * document, the most frequent unigram and bigram with their token
    * fractions. Ties break to the lexicographically smallest n-gram so
    * the result is deterministic.
    *
    * Scale: two explode → hash-aggregate passes keyed on
    * (doc_id, ngram) — map-side partial aggregation bounds the shuffle
    * to distinct n-grams — then a per-doc `row_number` window. All
    * shuffles are on doc-level keys: embarrassingly parallel across a
    * 100 TB corpus, no global state.
    */
  def qualitySignals(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Dedup.balanced(Tables.documents(spark, sfDir))
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .withColumn("n_tokens", size(col("toks")).cast("long"))
    def top(ngrams: DataFrame, gram: String): DataFrame = {
      val w = Window.partitionBy(col("doc_id"))
        .orderBy(col("n").desc, col(gram))
      ngrams.groupBy(col("doc_id"), col(gram))
        .agg(count(lit(1)).as("n"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("doc_id"), col(gram).as(s"top_$gram"), col("n").as(s"top_${gram}_n"))
    }
    val utop = top(docs.select(col("doc_id"), explode(col("toks")).as("tok")), "tok")
    // Spark's sequence(1, n) DESCENDS for n < 1, so guard 1-token docs
    // (the DuckDB mirror's range(2, n+1) is empty there already).
    val btop = top(docs.select(col("doc_id"), explode(expr(
      "if(size(toks) < 2, array(), " +
        "transform(sequence(1, size(toks) - 1), i -> concat(toks[i-1], ' ', toks[i])))"))
      .as("bg")), "bg")
    docs.select(col("doc_id"), col("n_tokens"))
      .join(utop, Seq("doc_id"))
      .join(btop, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        col("top_tok"), col("top_tok_n"),
        (col("top_tok_n").cast("double") / col("n_tokens").cast("double"))
          .as("top_tok_frac"),
        coalesce(col("top_bg"), lit("")).as("top_bigram"),
        coalesce(col("top_bg_n"), lit(0L)).as("top_bigram_n"),
        (coalesce(col("top_bg_n"), lit(0L)).cast("double") /
          greatest(col("n_tokens") - 1, lit(1L)).cast("double")).as("top_bigram_frac"))
      .orderBy(col("doc_id"))
  }

  val qualitySignalsSql: String =
    """WITH t AS (
      |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |uc AS (
      |  SELECT doc_id, tok, count(*) AS n
      |  FROM (SELECT doc_id, unnest(toks) AS tok FROM t) u
      |  GROUP BY doc_id, tok),
      |utop AS (
      |  SELECT doc_id, tok, n FROM (
      |    SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY n DESC, tok) AS rn
      |    FROM uc) WHERE rn = 1),
      |bc AS (
      |  SELECT doc_id, bg, count(*) AS n
      |  FROM (SELECT doc_id, unnest(list_transform(range(2, len(toks) + 1),
      |          i -> toks[i-1] || ' ' || toks[i])) AS bg
      |        FROM t) b
      |  GROUP BY doc_id, bg),
      |btop AS (
      |  SELECT doc_id, bg, n FROM (
      |    SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY n DESC, bg) AS rn
      |    FROM bc) WHERE rn = 1)
      |SELECT t.doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
      |  utop.tok AS top_tok, utop.n AS top_tok_n,
      |  CAST(utop.n AS DOUBLE) / CAST(len(toks) AS DOUBLE) AS top_tok_frac,
      |  COALESCE(btop.bg, '') AS top_bigram,
      |  CAST(COALESCE(btop.n, 0) AS BIGINT) AS top_bigram_n,
      |  CAST(COALESCE(btop.n, 0) AS DOUBLE)
      |    / CAST(greatest(len(toks) - 1, 1) AS DOUBLE) AS top_bigram_frac
      |FROM t
      |JOIN utop ON t.doc_id = utop.doc_id
      |LEFT JOIN btop ON t.doc_id = btop.doc_id
      |ORDER BY t.doc_id""".stripMargin

  // ---- Gopher repetition signals (token n-gram form, round 5) -----------

  /** Gopher's repetition filters (Rae et al. 2021 §A1.1) in the form
    * that applies to this corpus's single-line word streams: per
    * document, the TOP-n-gram token coverage (fraction of tokens
    * covered by instances of the single most frequent n-gram — Gopher
    * removes docs whose top 2-gram covers > 0.20) and the DUPLICATE-
    * n-gram fraction (fraction of n-gram instances whose gram occurs
    * more than once in the doc), for n = 2 and 3, plus the combined
    * Gopher-style gate. (The paper's line/paragraph variants need
    * newline structure this corpus doesn't have; the n-gram family is
    * the one that generalizes.)
    *
    * Plan: ONE explode emits both n-gram sizes as (n, gram) structs
    * (a second scan would cost more than the wider shuffle), then two
    * hash aggregations — (doc, n, gram) counts, (doc, n) rollup — and
    * a conditional-agg pivot back to one row per doc. Everything is
    * doc-keyed: the shuffle partitions by document, per-group state is
    * one doc's n-grams, nothing is corpus-global. Ratios divide exact
    * integers ⇒ bit-identical doubles in both engines. */
  def repetitionSignals(spark: SparkSession, sfDir: String): DataFrame = {
    val grams = Dedup.balanced(Tables.documents(spark, sfDir))
      .withColumn("toks", split(col("text"), " "))
      .select(col("doc_id"), size(col("toks")).cast("long").as("n_tokens"),
        explode(expr(
          """concat(
            |  transform(sequence(0, size(toks) - 2), i ->
            |    named_struct('n', 2, 'g', concat_ws(' ', toks[i], toks[i + 1]))),
            |  transform(sequence(0, size(toks) - 3), i ->
            |    named_struct('n', 3, 'g',
            |      concat_ws(' ', toks[i], toks[i + 1], toks[i + 2]))))""".stripMargin)).as("e"))
      .select(col("doc_id"), col("n_tokens"), col("e.n").as("n"), col("e.g").as("g"))
    val counts = grams.groupBy(col("doc_id"), col("n_tokens"), col("n"), col("g"))
      .agg(count(lit(1)).as("c"))
    val per = counts.groupBy(col("doc_id"), col("n_tokens"), col("n"))
      .agg(max(col("c")).as("top_c"), sum(col("c")).as("total"),
        sum(when(col("c") > 1, col("c")).otherwise(lit(0L))).as("dup_c"))
    per.groupBy(col("doc_id"), col("n_tokens"))
      .agg(
        max(when(col("n") === 2, col("top_c") * 2)).as("top2_toks"),
        max(when(col("n") === 3, col("top_c") * 3)).as("top3_toks"),
        max(when(col("n") === 2, col("dup_c"))).as("dup2_c"),
        max(when(col("n") === 2, col("total"))).as("tot2"),
        max(when(col("n") === 3, col("dup_c"))).as("dup3_c"),
        max(when(col("n") === 3, col("total"))).as("tot3"))
      .select(col("doc_id"), col("n_tokens"),
        (col("top2_toks").cast("double") / col("n_tokens").cast("double")).as("top2_cov"),
        (col("top3_toks").cast("double") / col("n_tokens").cast("double")).as("top3_cov"),
        (col("dup2_c").cast("double") / col("tot2").cast("double")).as("dup2_frac"),
        (col("dup3_c").cast("double") / col("tot3").cast("double")).as("dup3_frac"))
      .withColumn("rep_flag",
        col("top2_cov") > 0.20 || col("top3_cov") > 0.18 || col("dup2_frac") > 0.60)
      .orderBy(col("doc_id"))
  }

  val repetitionSignalsSql: String =
    """WITH t AS (
      |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |base AS (SELECT doc_id, len(toks) AS n_tokens, toks FROM t),
      |grams AS (
      |  SELECT doc_id, n_tokens, 2 AS n,
      |    unnest([toks[i+1] || ' ' || toks[i+2] FOR i IN range(0, len(toks)-1)]) AS g
      |  FROM base
      |  UNION ALL
      |  SELECT doc_id, n_tokens, 3 AS n,
      |    unnest([toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]
      |      FOR i IN range(0, len(toks)-2)]) AS g
      |  FROM base),
      |counts AS (SELECT doc_id, n_tokens, n, g, count(*) AS c FROM grams GROUP BY ALL),
      |per AS (
      |  SELECT doc_id, n_tokens, n, max(c) AS top_c, sum(c) AS total,
      |    sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS dup_c
      |  FROM counts GROUP BY ALL)
      |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
      |  CAST(max(CASE WHEN n = 2 THEN top_c * 2 END) AS DOUBLE)
      |    / CAST(n_tokens AS DOUBLE) AS top2_cov,
      |  CAST(max(CASE WHEN n = 3 THEN top_c * 3 END) AS DOUBLE)
      |    / CAST(n_tokens AS DOUBLE) AS top3_cov,
      |  CAST(max(CASE WHEN n = 2 THEN dup_c END) AS DOUBLE)
      |    / CAST(max(CASE WHEN n = 2 THEN total END) AS DOUBLE) AS dup2_frac,
      |  CAST(max(CASE WHEN n = 3 THEN dup_c END) AS DOUBLE)
      |    / CAST(max(CASE WHEN n = 3 THEN total END) AS DOUBLE) AS dup3_frac,
      |  (CAST(max(CASE WHEN n = 2 THEN top_c * 2 END) AS DOUBLE)
      |     / CAST(n_tokens AS DOUBLE) > 0.20
      |   OR CAST(max(CASE WHEN n = 3 THEN top_c * 3 END) AS DOUBLE)
      |     / CAST(n_tokens AS DOUBLE) > 0.18
      |   OR CAST(max(CASE WHEN n = 2 THEN dup_c END) AS DOUBLE)
      |     / CAST(max(CASE WHEN n = 2 THEN total END) AS DOUBLE) > 0.60) AS rep_flag
      |FROM per GROUP BY doc_id, n_tokens ORDER BY doc_id""".stripMargin

  // ---- n-gram novelty (corpus-uniqueness) scoring (round 5) -------------

  /** Per-document novelty: the fraction of a doc's DISTINCT token
    * 3-grams that appear in no other document (corpus document
    * frequency 1). The complement of contamination/overlap scoring —
    * used to up-weight documents that add new content to a training
    * mix and to spot boilerplate-heavy sources (low novelty) without
    * running a full dedup.
    *
    * Plan: per-doc distinct grams (array_distinct before the explode —
    * dedup before the shuffle, not after), df via a count window
    * PARTITIONED by gram (one shuffle, whole-partition count, no sort),
    * then a doc-keyed rollup. Both shuffles are hash exchanges on keys
    * with corpus-proportional cardinality — nothing global, nothing
    * quadratic; skewed grams (stop-phrases) cost one hot partition in
    * the df exchange, the standard salting candidate if it ever shows. */
  def noveltyScores(spark: SparkSession, sfDir: String): DataFrame = {
    val grams = Tables.documents(spark, sfDir)
      .withColumn("toks", split(col("text"), " "))
      .select(col("doc_id"),
        explode(expr(
          """array_distinct(transform(sequence(0, size(toks) - 3), i ->
            |  concat_ws(' ', toks[i], toks[i + 1], toks[i + 2])))""".stripMargin)).as("g"))
    grams
      .withColumn("df", count(lit(1)).over(Window.partitionBy(col("g"))))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("df") === 1, lit(1L)).otherwise(lit(0L))).as("n_novel"))
      .select(col("doc_id"), col("n_grams"), col("n_novel"),
        (col("n_novel").cast("double") / col("n_grams").cast("double")).as("novelty"))
      .orderBy(col("doc_id"))
  }

  val noveltyScoresSql: String =
    """WITH t AS (
      |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |exploded AS (
      |  SELECT doc_id,
      |    unnest([toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]
      |      FOR i IN range(0, len(toks)-2)]) AS g
      |  FROM t),
      |grams AS (SELECT DISTINCT doc_id, g FROM exploded),
      |withdf AS (SELECT doc_id, g, count(*) OVER (PARTITION BY g) AS df FROM grams)
      |SELECT doc_id, count(*) AS n_grams,
      |  CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
      |  CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS DOUBLE)
      |    / CAST(count(*) AS DOUBLE) AS novelty
      |FROM withdf GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---- Unicode canonicalization (custom codegen'd expression) -----------

  /** Registered query `x4_unicode_norm`: NFC canonical composition via
    * the custom [[graft.functions.NfcNormalize]] expression — the
    * equality gate before any hash/dedup/join on text. The corpus is
    * ASCII, so a decomposed form ('e' + U+0301 combining acute) is
    * synthesized per row first; the oracle mirrors both halves with
    * DuckDB's native nfc_normalize, so the driver verifies real
    * composition (code-point counts shrink back) rather than a no-op.
    * Pure narrow projection + one lang rollup. */
  def unicodeNorm(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.StringFunctions.nfc_normalize
    // the combining acute as a Scala literal: Spark SQL's char(769)
    // wraps modulo 256 (ASCII semantics), unlike DuckDB's chr
    val decomposed = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"),
        replace(substring(col("text"), 1, 60), lit("e"), lit("e\u0301")).as("raw"))
    decomposed
      .select(col("doc_id"), col("lang"), col("raw"),
        nfc_normalize(col("raw")).as("nfc"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(length(col("raw"))).cast("long").as("sum_len_raw"),
        sum(length(col("nfc"))).cast("long").as("sum_len_nfc"),
        sum(when(col("raw") =!= col("nfc"), 1L).otherwise(0L)).as("n_changed"))
      .orderBy(col("lang"))
  }

  val unicodeNormSql: String =
    """WITH d AS (
      |  SELECT doc_id, lang,
      |    replace(substr(text, 1, 60), 'e', 'e' || chr(769)) AS raw
      |  FROM documents),
      |n AS (SELECT doc_id, lang, raw, nfc_normalize(raw) AS nfc FROM d)
      |SELECT lang, count(*) AS n_docs,
      |  CAST(sum(length(raw)) AS BIGINT) AS sum_len_raw,
      |  CAST(sum(length(nfc)) AS BIGINT) AS sum_len_nfc,
      |  CAST(sum(CASE WHEN raw <> nfc THEN 1 ELSE 0 END) AS BIGINT) AS n_changed
      |FROM n
      |GROUP BY lang
      |ORDER BY lang""".stripMargin

  /** Stopword set for the Gopher-style stop-word rule (presence of
    * common function words separates prose from keyword soup). */
  val GateStopwords: Seq[String] = Seq("the", "a", "of", "to", "and")

  /** Named quality-gate policy (Gopher/C4-style presets): every rule
    * evaluated per document with its own audit column, keep = AND.
    * Unlike [[qualitySignals]] (raw signals) and the x0 pipeline
    * (three inline gates fused with dedup), this is the standalone
    * policy operator a pipeline owner configures and audits —
    * drop-reason analytics are a GROUP BY over the rule columns.
    *
    * All rules integer/exact: mean word length uses ×10 fixed-point
    * integer division; the repetition rule is the cross-multiplied
    * top_n·5 ≤ n_tokens. One explode-aggregate pass computes every
    * token-level measure (top count, stopword hits, word lengths) in
    * a single shuffle on doc_id. */
  def qualityGate(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
    val tok = docs.select(col("doc_id"), explode(col("toks")).as("t"))
    val perTok = tok.groupBy(col("doc_id"), col("t")).agg(count(lit(1)).as("n"))
    val agg = perTok.groupBy(col("doc_id")).agg(
      sum(col("n")).as("n_tokens"),
      max(col("n")).as("top_n"),
      sum(when(col("t").isin(GateStopwords: _*), 1L).otherwise(0L)).as("n_stop_kinds"),
      sum(length(col("t")) * col("n")).as("sum_word_chars"))
    agg.select(col("doc_id"), col("n_tokens"),
        (col("n_tokens") >= 20 && col("n_tokens") <= 100000).as("r_len"),
        // mean word length in [3.0, 12.0], ×10 fixed point
        (expr("sum_word_chars * 10 div n_tokens").between(30, 120)).as("r_word_len"),
        (col("n_stop_kinds") >= 2).as("r_stopwords"),
        (col("top_n") * 5 <= col("n_tokens")).as("r_repetition"))
      .withColumn("keep",
        col("r_len") && col("r_word_len") && col("r_stopwords") && col("r_repetition"))
      .orderBy(col("doc_id"))
  }

  val qualityGateSql: String = {
    val stops = GateStopwords.map(s => s"'$s'").mkString(", ")
    s"""WITH tok AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
       |pt AS (
       |  SELECT doc_id, t, count(*) AS n FROM tok GROUP BY 1, 2),
       |agg AS (
       |  SELECT doc_id,
       |    CAST(sum(n) AS BIGINT) AS n_tokens,
       |    CAST(max(n) AS BIGINT) AS top_n,
       |    CAST(sum(CASE WHEN t IN ($stops) THEN 1 ELSE 0 END) AS BIGINT) AS n_stop_kinds,
       |    CAST(sum(length(t) * n) AS BIGINT) AS sum_word_chars
       |  FROM pt GROUP BY doc_id)
       |SELECT doc_id, n_tokens,
       |  n_tokens >= 20 AND n_tokens <= 100000 AS r_len,
       |  sum_word_chars * 10 // n_tokens BETWEEN 30 AND 120 AS r_word_len,
       |  n_stop_kinds >= 2 AS r_stopwords,
       |  top_n * 5 <= n_tokens AS r_repetition,
       |  (n_tokens >= 20 AND n_tokens <= 100000)
       |    AND (sum_word_chars * 10 // n_tokens BETWEEN 30 AND 120)
       |    AND n_stop_kinds >= 2
       |    AND top_n * 5 <= n_tokens AS keep
       |FROM agg
       |ORDER BY doc_id""".stripMargin
  }

  /** Per-source dataset card — the one-page corpus report every
    * training-data release ships with: volume, exact-dup rate,
    * length/word totals, language mix. ONE aggregation pass over the
    * corpus (dup detection via count-distinct of the text hash inside
    * the same groupBy — no join with a dedup frame), all measures
    * integer-exact until two final divisions. */
  def datasetCard(spark: SparkSession, sfDir: String): DataFrame =
    graft.Tables.documents(spark, sfDir)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(md5(col("text"))).as("n_unique_texts"),
        sum(length(col("text"))).as("total_chars"),
        sum(size(split(col("text"), " "))).as("total_words"),
        sum(when(col("lang") === "en", 1L).otherwise(0L)).as("n_en"))
      .select(col("source"), col("n_docs"), col("n_unique_texts"),
        (col("n_docs") - col("n_unique_texts")).as("n_dup_docs"),
        col("total_chars"), col("total_words"),
        (col("total_chars").cast("double") / col("n_docs").cast("double")).as("mean_chars"),
        (col("n_en").cast("double") / col("n_docs").cast("double")).as("pct_en"))
      .orderBy(col("source"))

  val datasetCardSql: String =
    """SELECT source, count(*) AS n_docs,
      |  CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_unique_texts,
      |  CAST(count(*) - count(DISTINCT md5(text)) AS BIGINT) AS n_dup_docs,
      |  CAST(sum(length(text)) AS BIGINT) AS total_chars,
      |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_words,
      |  CAST(sum(length(text)) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS mean_chars,
      |  CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS DOUBLE) /
      |    CAST(count(*) AS DOUBLE) AS pct_en
      |FROM documents
      |GROUP BY source
      |ORDER BY source""".stripMargin

  /** Registered query `x9_dataset_hash` — an ORDER-INDEPENDENT
    * content fingerprint per source plus the corpus total (ROLLUP):
    * every row folds to a 60-bit md5 integer over all its fields
    * (chr(1)-joined -- a separator the ASCII corpus cannot contain)
    * and rows combine by XOR, which commutes — the same table always
    * hashes the same regardless of partitioning, file order, or
    * shuffle, and ANY changed/added/dropped row flips the print. This
    * is the reproducibility stamp a dataset card carries ("you trained
    * on exactly this data"), computable in one map-side-combinable
    * pass at any scale. */
  def datasetHash(spark: SparkSession, sfDir: String): DataFrame =
    graft.Tables.documents(spark, sfDir)
      .withColumn("row_h", graft.functions.StringFunctions.md5_fold60(
        concat_ws("\u0001", col("doc_id").cast("string"), col("text"),
          col("lang"), col("source"), col("n_chars").cast("string"))))
      .rollup(col("source"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("n_chars")).as("n_chars"),
        expr("bit_xor(row_h)").as("content_hash"))
      .select(coalesce(col("source"), lit("__ALL__")).as("source"),
        col("n_rows"), col("n_chars"), col("content_hash"))
      .orderBy(col("source"))

  /** Mirror: the same chr(1)-joined md5 fold (the repo's established
    * hex-fold idiom), same XOR combine, same ROLLUP total. */
  val datasetHashSql: String =
    """WITH h AS (
      |  SELECT source, n_chars,
      |    list_reduce(
      |      [strpos('0123456789abcdef', x) - 1
      |       FOR x IN string_split(substr(md5(concat_ws(chr(1),
      |         CAST(doc_id AS VARCHAR), text, lang, source,
      |         CAST(n_chars AS VARCHAR))), 1, 15), '')],
      |      (a, b) -> a * 16 + b) AS row_h
      |  FROM documents)
      |SELECT coalesce(source, '__ALL__') AS source,
      |  count(*) AS n_rows,
      |  CAST(sum(n_chars) AS BIGINT) AS n_chars,
      |  CAST(bit_xor(row_h) AS BIGINT) AS content_hash
      |FROM h
      |GROUP BY ROLLUP (source)
      |ORDER BY source""".stripMargin

  // ---- corpus diversity card (distinct-n-gram ratios) -------------------

  /** Per-source lexical diversity: type-token ratio and bigram
    * diversity in integer basis points — the distinct-n-gram measures
    * dataset cards report to expose templated/boilerplate-heavy
    * sources (low TTR ⇒ repetitive corpus; the aggregate cousin of
    * the per-doc Gopher repetition signals in [[qualitySignals]]).
    *
    * One explode pass emits (n, gram) structs for unigrams AND
    * bigrams together, so a single hash-aggregate keyed on source
    * computes all four counts — distinct counts expand to one
    * per-(source, n, gram) partial aggregate underneath, shuffle
    * bounded by DISTINCT grams (map-side combine), not corpus
    * positions. Integer `div` basis points ⇒ oracle-exact. */
  def diversityCard(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables.documents(spark, sfDir)
      .select(col("source"), split(col("text"), " ").as("toks"))
    val g = d.select(col("source"), explode(concat(
        expr("transform(toks, t -> named_struct('n', 1, 'gram', t))"),
        expr("if(size(toks) < 2, array(), transform(sequence(1, size(toks) - 1), " +
          "i -> named_struct('n', 2, 'gram', concat(toks[i-1], ' ', toks[i]))))")))
        .as("g"))
      .select(col("source"), col("g.n").as("n"), col("g.gram").as("gram"))
    g.groupBy(col("source")).agg(
        count(when(col("n") === 1, 1)).as("n_words"),
        countDistinct(when(col("n") === 1, col("gram"))).as("n_distinct_words"),
        count(when(col("n") === 2, 1)).as("n_bigrams"),
        countDistinct(when(col("n") === 2, col("gram"))).as("n_distinct_bigrams"))
      .select(col("source"), col("n_words"), col("n_distinct_words"),
        expr("n_distinct_words * 10000 div n_words").as("ttr_bp"),
        col("n_bigrams"), col("n_distinct_bigrams"),
        expr("n_distinct_bigrams * 10000 div greatest(n_bigrams, 1)").as("bigram_ttr_bp"))
      .orderBy(col("source"))
  }

  /** Mirror of [[diversityCard]] — UNION ALL of the two gram streams,
    * same conditional distinct counts, same integer basis points. */
  val diversityCardSql: String =
    """WITH t AS (SELECT source, string_split(text, ' ') AS toks FROM documents),
      |g AS (
      |  SELECT source, 1 AS n, unnest(toks) AS gram FROM t
      |  UNION ALL
      |  SELECT source, 2 AS n,
      |    unnest(list_transform(range(2, len(toks) + 1),
      |      i -> toks[i-1] || ' ' || toks[i])) AS gram
      |  FROM t),
      |a AS (
      |  SELECT source,
      |    CAST(count(CASE WHEN n = 1 THEN 1 END) AS BIGINT) AS n_words,
      |    CAST(count(DISTINCT CASE WHEN n = 1 THEN gram END) AS BIGINT) AS n_distinct_words,
      |    CAST(count(CASE WHEN n = 2 THEN 1 END) AS BIGINT) AS n_bigrams,
      |    CAST(count(DISTINCT CASE WHEN n = 2 THEN gram END) AS BIGINT) AS n_distinct_bigrams
      |  FROM g GROUP BY source)
      |SELECT source, n_words, n_distinct_words,
      |  n_distinct_words * 10000 // n_words AS ttr_bp,
      |  n_bigrams, n_distinct_bigrams,
      |  n_distinct_bigrams * 10000 // greatest(n_bigrams, 1) AS bigram_ttr_bp
      |FROM a
      |ORDER BY source""".stripMargin

  // ---- cross-source overlap matrix --------------------------------------

  /** Pairwise source-to-source content overlap: for every source pair,
    * the number of distinct char-8-gram shingles they share and the
    * containment in basis points (shared / smaller source's distinct
    * shingles) — the mixture-design input that tells you two "sources"
    * are actually mirrors of each other before you assign them
    * independent sampling weights.
    *
    * Single linear plan, no self-join and no multi-consumer reuse:
    * per-shingle source sets (collect_set bounded by source
    * cardinality) explode into ordered pairs INCLUDING the diagonal,
    * so one aggregate yields both pair overlaps and (on the diagonal)
    * per-source totals; two windows over the tiny pair matrix attach
    * the totals and the diagonal is dropped. At web scale (millions
    * of domains) the per-shingle set and k² pair fan-out stop being
    * bounded — there the SQL-mirror shape (distinct frame self-joined
    * on the shingle) with a df-capped stop-shingle prune, as
    * [[graft.ext.Dedup.ngramJaccard]] does, is the production route. */
  def sourceOverlap(spark: SparkSession, sfDir: String): DataFrame = {
    // custom Shingles generator, not the array-materializing
    // expression: flat memory on the long-document tail
    val sh = Dedup.balanced(Tables.documents(spark, sfDir))
      .select(col("source"), graft.functions.Shingles.shingles(col("text"), 8).as("s"))
      .distinct()
    val pairs = sh.groupBy(col("s")).agg(sort_array(collect_set(col("source"))).as("srcs"))
      .select(explode(col("srcs")).as("a"), col("srcs"))
      .select(col("a"), explode(col("srcs")).as("b"))
      .filter(col("a") <= col("b"))
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("n_shared"))
    val wa = Window.partitionBy(col("a"))
    val wb = Window.partitionBy(col("b"))
    pairs
      .withColumn("total_a", max(when(col("a") === col("b"), col("n_shared"))).over(wa))
      .withColumn("total_b", max(when(col("a") === col("b"), col("n_shared"))).over(wb))
      .filter(col("a") < col("b"))
      .select(col("a").as("source_a"), col("b").as("source_b"), col("n_shared"),
        expr("n_shared * 10000 div least(total_a, total_b)").as("containment_bp"))
      .orderBy(col("source_a"), col("source_b"))
  }

  /** Mirror of [[sourceOverlap]]: the (source, shingle) distinct frame
    * self-joined on the shingle reproduces exactly the exploded
    * ordered pairs (diagonal included), then the same windows. */
  val sourceOverlapSql: String =
    """WITH sh0 AS (
      |  SELECT source, unnest(list_distinct(
      |    [substr(text, i, 8) FOR i IN range(1, greatest(length(text) - 7, 1) + 1)])) AS s
      |  FROM documents),
      |sh AS (SELECT DISTINCT source, s FROM sh0),
      |pairs AS (
      |  SELECT a.source AS a, b.source AS b, CAST(count(*) AS BIGINT) AS n_shared
      |  FROM sh a JOIN sh b ON a.s = b.s AND a.source <= b.source
      |  GROUP BY 1, 2),
      |w AS (
      |  SELECT a, b, n_shared,
      |    max(CASE WHEN a = b THEN n_shared END) OVER (PARTITION BY a) AS total_a,
      |    max(CASE WHEN a = b THEN n_shared END) OVER (PARTITION BY b) AS total_b
      |  FROM pairs)
      |SELECT a AS source_a, b AS source_b, n_shared,
      |  n_shared * 10000 // least(total_a, total_b) AS containment_bp
      |FROM w
      |WHERE a < b
      |ORDER BY source_a, source_b""".stripMargin

  // ---- oracle-exact HyperLogLog distinct-token estimate -----------------

  /** Per-source distinct-token cardinality: the custom
    * [[graft.functions.HllAgg]] HyperLogLog estimate next to the exact
    * `countDistinct`, with the relative error in basis points — both a
    * production sketch (mergeable 4 KB buffer; the exact count is the
    * thing that does NOT scale past memory) and its own accuracy
    * report. The whole sketch is mirrored in DuckDB SQL — register
    * updates from the same md5-fold hash, integer trailing-zero
    * ranks, an integer harmonic sum — so the driver hash-verifies the
    * ESTIMATE bit-for-bit, which stock approx_count_distinct
    * implementations cannot offer. */
  def hllDistinct(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.HllAgg.hll_estimate
    // distinct SHINGLES (not tokens): the testdata's ~30-word vocab
    // would put token cardinality deep in HLL's small-range regime,
    // whose standard rescue (linear counting) needs the banned `ln`;
    // shingle cardinality (~3.7k/source) sits where the raw estimator
    // is specified to work (n ≳ 10·m at p = 8)
    // Round 15 (guide §2.3): the single-pass countDistinct+hll form
    // planned the one-distinct rewrite — a partial HLL BUFFER (256 B,
    // ObjectHashAggregate) per (source, shingle) group serialized
    // through the first exchange, and the md5 chain evaluated on every
    // duplicate shingle. Dedup first (plain map-side-combining hash
    // aggregate, no buffers), then hash and sketch only the DISTINCT
    // shingles: HLL registers are duplicate-insensitive (max of rho),
    // so the estimate is bit-identical, and n_exact = count of the
    // deduped rows. md5_fold60 is the codegen'd form of the identical
    // conv(substring(md5(…))) fold.
    Dedup.balanced(Tables.documents(spark, sfDir))
      .select(col("source"), graft.functions.Shingles.shingles(col("text"), 8).as("tk"))
      .groupBy(col("source"), col("tk")).agg(count(lit(1)).as("c"))
      .select(col("source"), col("tk"),
        graft.functions.StringFunctions.md5_fold60(col("tk")).as("h"))
      .groupBy(col("source")).agg(
        count(lit(1)).as("n_exact"),
        hll_estimate(col("h")).as("hll_est"))
      .withColumn("err_bp",
        expr("floor(abs(hll_est - cast(n_exact as double)) * 10000.0 / cast(n_exact as double))"))
      .orderBy(col("source"))
  }

  /** Mirror of [[hllDistinct]]: same hash → bucket/rank register
    * updates (trailing zeros via pure integer CASE), empty registers
    * filled from a source×4096 grid, the same integer Σ 2^(rmax−r)
    * harmonic sum, and the alpha constant spelled from the identical
    * literals — the estimate doubles match bit-for-bit. */
  val hllDistinctSql: String = {
    val m = graft.functions.HllAgg.M
    val tzCase = (0 to 48).map { t =>
      s"WHEN w % ${BigInt(2).pow(t + 1)} = ${BigInt(2).pow(t)} THEN $t"
    }.mkString(" ")
    s"""WITH tok AS (
       |  SELECT source, unnest(list_distinct(
       |    [substr(text, i, 8) FOR i IN range(1, greatest(length(text) - 7, 1) + 1)])) AS tk
       |  FROM documents),
       |h AS (
       |  SELECT source, tk, list_reduce(
       |    [strpos('0123456789abcdef', x) - 1
       |     FOR x IN string_split(substr(md5(tk), 1, 15), '')],
       |    (a, b) -> a * 16 + b) AS h
       |  FROM tok),
       |wv AS (
       |  SELECT source, h % $m AS bucket, (h // $m) | (1::BIGINT << 48) AS w FROM h),
       |reg AS (
       |  SELECT source, bucket, max((CASE $tzCase END) + 1) AS r
       |  FROM wv GROUP BY 1, 2),
       |grid AS (
       |  SELECT s.source, g.bucket
       |  FROM (SELECT DISTINCT source FROM documents) s
       |  CROSS JOIN (SELECT unnest(range($m)) AS bucket) g),
       |filled AS (
       |  SELECT grid.source, grid.bucket, coalesce(reg.r, 0) AS r
       |  FROM grid LEFT JOIN reg ON grid.source = reg.source AND grid.bucket = reg.bucket),
       |rm AS (SELECT source, max(r) AS rmax FROM filled GROUP BY source),
       |agg AS (
       |  SELECT f.source, rm.rmax,
       |    CAST(sum(1::BIGINT << (rm.rmax - f.r)) AS BIGINT) AS num
       |  FROM filled f JOIN rm ON f.source = rm.source GROUP BY 1, 2),
       |ex AS (SELECT source, CAST(count(DISTINCT tk) AS BIGINT) AS n_exact FROM h GROUP BY source),
       |est AS (
       |  SELECT ex.source, ex.n_exact,
       |    (0.7213 / (1.0 + 1.079 / ${m.toDouble})) * ${m.toDouble} * ${m.toDouble} *
       |      CAST(1::BIGINT << rmax AS DOUBLE) / CAST(num AS DOUBLE) AS hll_est
       |  FROM ex JOIN agg ON ex.source = agg.source)
       |SELECT source, n_exact, hll_est,
       |  CAST(floor(abs(hll_est - CAST(n_exact AS DOUBLE)) * 10000.0 /
       |    CAST(n_exact AS DOUBLE)) AS BIGINT) AS err_bp
       |FROM est
       |ORDER BY source""".stripMargin
  }

  /** Registered query `x4_hll_table` — the PERSISTED mergeable-sketch
    * lifecycle applied to cardinality (round 9, VERDICT r8 #8; the
    * band/IVF-table pattern): per-(source, bucket) HLL registers for
    * the historical 4/5 of the corpus are written to a parquet SKETCH
    * TABLE, the remaining delta slice sketches fresh, and the corpus
    * estimate comes from MERGING the stored registers with the delta
    * registers (register merge = max — the property that makes the
    * sketch incremental). The final (source, n_exact, hll_est,
    * err_bp) rows must BIT-MATCH `x4_hll_distinct`'s single-pass
    * typed-aggregate answer (same oracle SQL), so the persisted
    * round-trip, the relational register merge, and the integer
    * harmonic estimate must all be exact. At 100 TB this is how
    * corpus stats stay incremental: yesterday's registers are ~256
    * rows per source of metadata; today's delta never re-reads
    * history. */
  def hllSketchTable(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.HllAgg.{M, Sentinel}
    val docs = Dedup.balanced(Tables.documents(spark, sfDir))
    // same hash → bucket/rank pipeline as the typed aggregate, in
    // relational form: rho = trailing-zeros(+1) via the (w & -w) - 1
    // popcount identity (codegen-friendly; the oracle's integer CASE
    // produces the same integers)
    def registers(d: DataFrame): DataFrame =
      d.select(col("source"), graft.functions.Shingles.shingles(col("text"), 8).as("tk"))
        .withColumn("h", graft.functions.StringFunctions.md5_fold60(col("tk")))
        .select(col("source"), pmod(col("h"), lit(M.toLong)).as("bucket"),
          expr(s"shiftright(h, ${graft.functions.HllAgg.P}) | ${Sentinel}L").as("w"))
        .groupBy(col("source"), col("bucket"))
        .agg(max(expr("bit_count((w & -w) - 1) + 1")).as("r"))
    // persist the historical sketch ONCE per (session, sfDir, corpus
    // fingerprint) — the disclosed-memo policy: the design claim IS
    // that yesterday's registers are stored metadata today's delta
    // merges against, so steady state prices the INCREMENTAL path
    // (delta sketch + register merge + the exact calibration tail)
    // while Bench's cold pass re-prices the historical build
    val sketchDir = hllRegMemo.get(spark, sfDir,
        Seq(s"$sfDir/documents.parquet")) { () =>
      val dir = new java.io.File(
        graft.Scratch.dir(spark, "hll-sketch", sfDir), "registers")
        .getAbsolutePath
      graft.Scratch.rm(new java.io.File(dir))
      registers(docs.filter(col("doc_id") % 5 =!= 0))
        .write.mode("overwrite").parquet(dir)
      dir
    }
    val delta = registers(docs.filter(col("doc_id") % 5 === 0))
    val merged = spark.read.parquet(sketchDir).unionByName(delta)
      .groupBy(col("source"), col("bucket")).agg(max(col("r")).as("r"))
    // grid-fill absent buckets with rank 0, then the exact integer
    // harmonic sum and the alpha expression of the typed aggregate
    val grid = docs.select(col("source")).distinct()
      .crossJoin(spark.range(M.toLong).select(col("id").as("bucket")))
    val filled = grid.join(merged, Seq("source", "bucket"), "left")
      .na.fill(0L, Seq("r"))
    val rm = filled.groupBy(col("source")).agg(max(col("r")).as("rmax"))
    val est = filled.join(rm, "source")
      .groupBy(col("source"), col("rmax"))
      .agg(sum(expr("shiftleft(1L, cast(rmax - r as int))")).as("num"))
      // the alpha constant comes in as the COMPILED Scala double
      // (HllAgg.Alpha), not a SQL literal: Spark parses `0.7213` as
      // DECIMAL (DuckDB as DOUBLE), and the decimal-rounded quotient
      // is off the typed aggregate's value by ~4e-9 — enough to break
      // the bit-match. Multiplication order mirrors HllAgg.eval.
      .withColumn("hll_est",
        lit(graft.functions.HllAgg.Alpha) * lit(M.toDouble) * lit(M.toDouble) *
          expr("cast(shiftleft(1L, cast(rmax as int)) as double)") /
          expr("cast(num as double)"))
    docs.select(col("source"), graft.functions.Shingles.shingles(col("text"), 8).as("tk"))
      .groupBy(col("source")).agg(countDistinct(col("tk")).as("n_exact"))
      .join(est.select(col("source"), col("hll_est")), "source")
      .withColumn("err_bp",
        expr("floor(abs(hll_est - cast(n_exact as double)) * 10000.0 / cast(n_exact as double))"))
      .select(col("source"), col("n_exact"), col("hll_est"), col("err_bp"))
      .orderBy(col("source"))
  }

  // ---- BM25 retrieval scoring (integer-deterministic) -------------------

  /** Fixed 4-term retrieval query for [[bm25TopDocs]]: mixed document
    * frequencies (`dup` is rare, the rest near-ubiquitous) so the idf
    * term actually discriminates on the synthetic corpus. */
  val Bm25Terms: Seq[String] = Seq("dup", "vector", "spark", "batch")

  /** Top-10 documents by BM25 (k1 = 1.2, b = 0.75) for [[Bm25Terms]].
    *
    * Cross-engine determinism: each per-term score is reduced to two
    * exact-integer ratios — Robertson idf `(2N−2df+1)/(2df+1)` (the
    * ±0.5 cleared by doubling) and the saturated-tf part
    * `22·tf·T / (10·tf·T + 3·T + 9·dl·N)` (k1 = 6/5, b = 3/4 and
    * avgdl = T/N substituted, then cleared of denominators). All four
    * integers stay < 2⁵³, so ONE IEEE double division each, one
    * multiply, and a floor to micro-units are bit-identical in any
    * IEEE-754 engine; the per-document total then sums BIGINTs —
    * associative, so shuffle order can't change the hash.
    *
    * Scale shape: N and T ride a broadcast 1-row stats frame; the
    * ≤4-row df frame broadcasts; the only corpus-sized shuffle is the
    * (doc, term) tf aggregate (map-side combinable). Top-10 compiles
    * to TakeOrderedAndProject — distributed partial top-k, no global
    * sort; the rank window runs on the 10-row post-limit frame. */
  def bm25TopDocs(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables.documents(spark, sfDir)
    val ex = d.select(
      col("doc_id"),
      size(split(col("text"), " ")).as("dl"),
      explode(split(col("text"), " ")).as("term"))
    val inQ = ex.filter(col("term").isin(Bm25Terms: _*))
    val tf = inQ.groupBy(col("doc_id"), col("term"))
      .agg(max(col("dl")).cast("long").as("dl"), count(lit(1)).as("tf"))
    val dfF = inQ.select(col("doc_id"), col("term")).distinct()
      .groupBy(col("term")).agg(count(lit(1)).as("df"))
    val stats = d
      .select(size(split(col("text"), " ")).cast("long").as("dl0"))
      .agg(count(lit(1)).as("n"), sum(col("dl0")).as("t"))
    val scored = tf
      .join(broadcast(dfF), "term")
      .crossJoin(broadcast(stats))
      .withColumn("idf_r",
        (lit(2L) * col("n") - lit(2L) * col("df") + lit(1L)).cast("double") /
          (lit(2L) * col("df") + lit(1L)).cast("double"))
      .withColumn("tf_r",
        (lit(22L) * col("tf") * col("t")).cast("double") /
          (lit(10L) * col("tf") * col("t") + lit(3L) * col("t") +
            lit(9L) * col("dl") * col("n")).cast("double"))
      .withColumn("micro", floor((lit(1000000.0d) * col("idf_r")) * col("tf_r")))
    val top = scored.groupBy(col("doc_id")).agg(sum(col("micro")).as("bm25_micro"))
      .orderBy(col("bm25_micro").desc, col("doc_id")).limit(10)
    graft.Ranks.withBoundedRank(top, "rk", -col("bm25_micro"), col("doc_id"))
      .select(col("doc_id"), col("bm25_micro"), col("rk"))
      .orderBy(col("rk"))
  }

  val bm25TopDocsSql: String = {
    val terms = Bm25Terms.map(t => s"'$t'").mkString(", ")
    s"""WITH ex AS (
       |  SELECT doc_id, len(string_split(text, ' ')) AS dl,
       |         unnest(string_split(text, ' ')) AS term
       |  FROM documents),
       |q AS (SELECT * FROM ex WHERE term IN ($terms)),
       |tf AS (
       |  SELECT doc_id, term, CAST(max(dl) AS BIGINT) AS dl, count(*) AS tf
       |  FROM q GROUP BY 1, 2),
       |dfx AS (
       |  SELECT term, count(*) AS df
       |  FROM (SELECT DISTINCT doc_id, term FROM q) t GROUP BY 1),
       |stats AS (
       |  SELECT count(*) AS n,
       |         CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS t
       |  FROM documents),
       |scored AS (
       |  SELECT tf.doc_id,
       |    CAST(floor((1000000.0 *
       |      (CAST(2 * stats.n - 2 * dfx.df + 1 AS DOUBLE) /
       |       CAST(2 * dfx.df + 1 AS DOUBLE))) *
       |      (CAST(22 * tf.tf * stats.t AS DOUBLE) /
       |       CAST(10 * tf.tf * stats.t + 3 * stats.t + 9 * tf.dl * stats.n
       |            AS DOUBLE))) AS BIGINT) AS micro
       |  FROM tf JOIN dfx USING (term) CROSS JOIN stats),
       |agg AS (
       |  SELECT doc_id, CAST(sum(micro) AS BIGINT) AS bm25_micro
       |  FROM scored GROUP BY 1),
       |top AS (
       |  SELECT doc_id, bm25_micro,
       |    CAST(row_number() OVER (ORDER BY bm25_micro DESC, doc_id) AS BIGINT) AS rk
       |  FROM agg ORDER BY bm25_micro DESC, doc_id LIMIT 10)
       |SELECT doc_id, bm25_micro, rk FROM top ORDER BY rk""".stripMargin
  }
}
