package graft

import org.apache.spark.sql.functions._

import graft.lake.{Lake, MatView}

/** [[graft.plans.MatViewRewrite]] + [[MatView]]: transparent rewrite
  * (fresh and change-feed-compensated), incremental refresh, and the
  * refusal cases that keep the matcher provably conservative. The
  * expected values always come from [[Lake.read]] (a V1 parquet plan
  * the rule can never match), so the comparison is rewrite-free by
  * construction. */
class MatViewSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def freshDir(tag: String): String = {
    val d = new java.io.File(graft.Scratch.root,
      s"graft-mvspec-$tag-${spark.sparkContext.applicationId}")
    graft.Scratch.rm(d)
    d.getAbsolutePath
  }

  private def buildSource(tag: String): String = {
    val dir = freshDir(tag)
    val orders = Tables.orders(spark, sf)
      .withColumn("o_cents",
        (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long"))
    Lake.create(orders, dir, "o_orderkey", targetFiles = 4)
    dir
  }

  private def userAgg(src: String) = {
    org.apache.spark.sql.GraftSqlShim.addOptimization(
      spark, graft.plans.MatViewRewrite)
    spark.read.format("graft-lake").option("path", src).load()
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), sum(col("o_cents")).as("cents"),
        avg(col("o_cents")).as("avg_cents"))
  }

  private def expectedAgg(src: String) =
    Lake.read(spark, src)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), sum(col("o_cents")).as("cents"),
        avg(col("o_cents")).as("avg_cents"))

  private def kindOf(df: org.apache.spark.sql.DataFrame,
      src: String): String = {
    MatView.lastRewrite.set(null)
    df.queryExecution.optimizedPlan
    Option(MatView.lastRewrite.get()) match {
      case Some((d, k)) if d == src => k
      case _ => "none"
    }
  }

  private def scannedTables(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
        r.relation.table.name
    }

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.orderBy("o_orderpriority").collect().map(_.toSeq).toSeq

  test("fresh view: aggregate rewrites to a direct view scan, values unchanged") {
    val src = buildSource("fresh")
    MatView.define(spark, src, src + "-view",
      Seq("o_orderpriority"), Seq("o_cents"))
    try {
      val q = userAgg(src)
      assert(kindOf(q, src) === "direct")
      val tables = scannedTables(q)
      assert(tables.exists(_.contains("-view")),
        s"rewritten plan must scan the view, scanned: $tables")
      assert(!tables.exists(t => t.contains(src) && !t.contains("-view")),
        s"rewritten plan must not scan the source, scanned: $tables")
      assert(rows(q) === rows(expectedAgg(src)))
    } finally MatView.unregister(src)
  }

  test("group-column filter transposes onto the view; other filters refuse") {
    val src = buildSource("filter")
    MatView.define(spark, src, src + "-view",
      Seq("o_orderpriority"), Seq("o_cents"))
    try {
      val filtered = userAgg(src).filter(col("o_orderpriority") <= "3-MEDIUM")
      // filter lands BELOW the aggregate only if written before the agg:
      val q = spark.read.format("graft-lake").option("path", src).load()
        .filter(col("o_orderpriority") =!= "1-URGENT")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), sum(col("o_cents")).as("cents"),
          avg(col("o_cents")).as("avg_cents"))
      assert(kindOf(q, src) === "direct")
      assert(rows(q) === rows(
        expectedAgg(src).filter(col("o_orderpriority") =!= "1-URGENT")))
      val refuse = spark.read.format("graft-lake").option("path", src).load()
        .filter(col("o_totalprice") > 1000.0) // not a group column
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"))
      assert(kindOf(refuse, src) === "none",
        "a non-group-column filter must block the rewrite")
      filtered.collect() // post-agg filter still evaluates correctly
    } finally MatView.unregister(src)
  }

  test("stale view: upsert + delete compensate through the change feed") {
    val src = buildSource("stale")
    MatView.define(spark, src, src + "-view",
      Seq("o_orderpriority"), Seq("o_cents"))
    try {
      val cur = Lake.read(spark, src)
      Lake.upsert(spark, src,
        cur.filter(col("o_orderkey") % 7 === 0)
          .withColumn("o_cents", col("o_cents") * 2))
      Lake.delete(spark, src,
        cur.filter(col("o_orderkey") % 11 === 0).select(col("o_orderkey")))
      val q = userAgg(src)
      assert(kindOf(q, src) === "compensated")
      assert(rows(q) === rows(expectedAgg(src)),
        "compensated registers must equal a direct recompute of the latest state")
    } finally MatView.unregister(src)
  }

  test("refresh rolls the view forward incrementally; emptied groups are deleted") {
    val src = buildSource("refresh")
    MatView.define(spark, src, src + "-view",
      Seq("o_orderpriority"), Seq("o_cents"))
    try {
      // delete one ENTIRE priority class: its view row must disappear
      val gone = Lake.read(spark, src)
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey"))
      Lake.delete(spark, src, gone)
      val mvVersionBefore = Lake.latestVersion(src + "-view")
      val d = MatView.refresh(spark, src)
      assert(d.builtVersion === Lake.latestVersion(src))
      assert(Lake.latestVersion(src + "-view") === mvVersionBefore + 1,
        "refresh must land upsert + emptied-group delete as ONE atomic commit")
      val view = Lake.read(spark, src + "-view")
      assert(view.filter(col("o_orderpriority") === "1-URGENT").count() === 0L,
        "an emptied group must be deleted from the view")
      val q = userAgg(src)
      assert(kindOf(q, src) === "direct",
        "a refreshed view serves directly again")
      assert(rows(q) === rows(expectedAgg(src)))
      // refresh is idempotent when current
      assert(MatView.refresh(spark, src).builtVersion === d.builtVersion)
    } finally MatView.unregister(src)
  }

  test("min/max registers: fresh serve, append-only feed, delete-slice " +
      "affected-group recompute, recompute on refresh") {
    val src = buildSource("minmax")
    MatView.define(spark, src, src + "-view",
      Seq("o_orderpriority"), Seq("o_cents"))
    try {
      def userQ() = {
        org.apache.spark.sql.GraftSqlShim.addOptimization(
          spark, graft.plans.MatViewRewrite)
        spark.read.format("graft-lake").option("path", src).load()
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n"), min(col("o_cents")).as("mn"),
            max(col("o_cents")).as("mx"))
      }
      def expectedQ() = Lake.read(spark, src)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), min(col("o_cents")).as("mn"),
          max(col("o_cents")).as("mx"))
      // FRESH: extrema come straight off the registers
      val fresh = userQ()
      assert(kindOf(fresh, src) === "direct")
      assert(rows(fresh) === rows(expectedQ()))
      // APPEND-ONLY commit (re-keyed above the old max, tripled cents
      // so the appended rows MOVE the extrema): still rewrites —
      // least/greatest against the feed
      val cur = Lake.read(spark, src)
      val mxKey = cur.agg(max(col("o_orderkey"))).head().getLong(0)
      Lake.upsert(spark, src,
        cur.filter(col("o_orderkey") > mxKey - 100)
          .withColumn("o_orderkey", col("o_orderkey") + mxKey)
          .withColumn("o_cents", col("o_cents") * 3))
      val fed = userQ()
      assert(kindOf(fed, src) === "compensated",
        "an insert-only slice must still serve min/max")
      assert(rows(fed) === rows(expectedQ()))
      // a DELETE in the slice (round 14 — the round-13 refusal is
      // gone): the extremum may be gone, so the touched groups
      // re-derive min/max from the fact restricted to those groups
      // (MinMaxRecompute at serve time) and the answer stays exact
      Lake.delete(spark, src,
        Lake.read(spark, src).filter(col("o_orderkey") % 5 === 0)
          .select(col("o_orderkey")))
      val del = userQ()
      assert(kindOf(del, src) === "compensated",
        "min/max now serve through a delete-bearing slice " +
          "(affected-group recompute)")
      assert(rows(del) === rows(expectedQ()))
      val sumsOnly = spark.read.format("graft-lake").option("path", src).load()
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), sum(col("o_cents")).as("s"))
      assert(kindOf(sumsOnly, src) === "compensated",
        "Σ-maintainable asks keep compensating through the same slice")
      // REFRESH across the delete takes the recompute branch; the
      // view then serves min/max directly and exactly
      MatView.refresh(spark, src)
      val after = userQ()
      assert(kindOf(after, src) === "direct")
      assert(rows(after) === rows(expectedQ()))
    } finally MatView.unregister(src)
  }

  test("partial rollup: subset grouping, rolled-away filter, global aggregate") {
    val src = buildSource("rollup")
    MatView.define(spark, src, src + "-view",
      Seq("o_orderpriority", "o_orderstatus"), Seq("o_cents"))
    try {
      org.apache.spark.sql.GraftSqlShim.addOptimization(
        spark, graft.plans.MatViewRewrite)
      def lake() = spark.read.format("graft-lake").option("path", src).load()
      // subset grouping re-aggregates the registers
      val byPrio = lake().groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), sum(col("o_cents")).as("s"),
          min(col("o_cents")).as("mn"), max(col("o_cents")).as("mx"),
          avg(col("o_cents")).as("av"))
      assert(kindOf(byPrio, src) === "direct-rollup")
      val expPrio = Lake.read(spark, src).groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), sum(col("o_cents")).as("s"),
          min(col("o_cents")).as("mn"), max(col("o_cents")).as("mx"),
          avg(col("o_cents")).as("av"))
      assert(rows(byPrio) === rows(expPrio))
      // a filter on the ROLLED-AWAY dimension still serves: it applies
      // to the view rows before the re-aggregation
      val filtered = lake().filter(col("o_orderstatus") === "F")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), sum(col("o_cents")).as("s"))
      assert(kindOf(filtered, src) === "direct-rollup")
      assert(rows(filtered) === rows(
        Lake.read(spark, src).filter(col("o_orderstatus") === "F")
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n"), sum(col("o_cents")).as("s"))))
      // the GLOBAL aggregate is the empty-subset rollup
      val global = lake().agg(count(lit(1)).as("n"), sum(col("o_cents")).as("s"))
      assert(kindOf(global, src) === "direct-rollup")
      assert(global.head().getLong(0) === Lake.read(spark, src).count())
      // a SUPERSET grouping (column outside the declaration) refuses
      val superset = lake()
        .groupBy(col("o_orderpriority"), col("o_custkey"))
        .agg(count(lit(1)).as("n"))
      assert(kindOf(superset, src) === "none")
    } finally MatView.unregister(src)
  }

  test("refusals: min/max, count(col), distinct, wrong grouping, time travel") {
    val src = buildSource("refuse")
    MatView.define(spark, src, src + "-view",
      Seq("o_orderpriority"), Seq("o_cents"))
    try {
      def lake() = spark.read.format("graft-lake").option("path", src).load()
      org.apache.spark.sql.GraftSqlShim.addOptimization(
        spark, graft.plans.MatViewRewrite)
      val cases: Seq[(String, org.apache.spark.sql.DataFrame)] = Seq(
        "max over an undeclared column" ->
          lake().groupBy(col("o_orderpriority")).agg(max(col("o_orderkey")).as("m")),
        "count(col) skips nulls, registers do not" ->
          lake().groupBy(col("o_orderpriority")).agg(count(col("o_cents")).as("n")),
        "distinct sum has no register" ->
          lake().groupBy(col("o_orderpriority")).agg(sum_distinct(col("o_cents")).as("s")),
        "grouping must match the declaration" ->
          lake().groupBy(col("o_orderstatus")).agg(count(lit(1)).as("n")),
        "sum over an undeclared column" ->
          lake().groupBy(col("o_orderpriority")).agg(sum(col("o_orderkey")).as("s")),
        "avg over an undeclared column" ->
          lake().groupBy(col("o_orderpriority")).agg(avg(col("o_orderkey")).as("a")))
      cases.foreach { case (why, df) =>
        assert(kindOf(df, src) === "none", why)
      }
      // avg's exactness guard: a DOUBLE sum column serves sum() but
      // refuses avg() (fractional double summation is order-sensitive,
      // so register-sum ⊘ count is not provably bit-equal)
      MatView.define(spark, src, src + "-view-dbl",
        Seq("o_orderpriority"), Seq("o_totalprice"))
      val sumDbl = lake().groupBy(col("o_orderpriority"))
        .agg(sum(col("o_totalprice")).as("s"))
      assert(kindOf(sumDbl, src) === "direct")
      val avgDbl = lake().groupBy(col("o_orderpriority"))
        .agg(avg(col("o_totalprice")).as("a"))
      assert(kindOf(avgDbl, src) === "none",
        "avg over a fractional column must refuse")
      // restore the long-register view for the time-travel case below
      MatView.define(spark, src, src + "-view",
        Seq("o_orderpriority"), Seq("o_cents"))
      // time travel below the build point never rewrites: advance the
      // source to v2 and rebuild the view there, then pin v1
      Lake.upsert(spark, src,
        Lake.read(spark, src).filter(col("o_orderkey") % 13 === 0)
          .withColumn("o_cents", col("o_cents") + 1))
      MatView.define(spark, src, src + "-view",
        Seq("o_orderpriority"), Seq("o_cents")) // built at v2
      val tt = spark.read.format("graft-lake").option("path", src)
        .option("versionAsOf", "1").load()
        .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n"))
      assert(kindOf(tt, src) === "none",
        "a snapshot below the view's build version must not rewrite")
    } finally MatView.unregister(src)
  }

  // ---- star-join views ----------------------------------------------------

  private def buildDim(tag: String): String = {
    val dir = freshDir(tag + "-dim")
    Lake.create(Tables.customer(spark, sf), dir, "c_custkey", targetFiles = 1)
    dir
  }

  private def joinAgg(src: String, dim: String) = {
    org.apache.spark.sql.GraftSqlShim.addOptimization(
      spark, graft.plans.MatViewRewrite)
    val fact = spark.read.format("graft-lake").option("path", src).load()
    val d = spark.read.format("graft-lake").option("path", dim).load()
    fact.join(d, col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n"), sum(col("o_cents")).as("cents"))
  }

  private def expectedJoinAgg(src: String, dim: String) =
    Lake.read(spark, src)
      .join(Lake.read(spark, dim), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n"), sum(col("o_cents")).as("cents"))

  private def segRows(df: org.apache.spark.sql.DataFrame) =
    df.orderBy("c_mktsegment").collect().map(_.toSeq).toSeq

  test("star view, fresh: the raw fact-dim join aggregate collapses to the view scan") {
    val src = buildSource("joinfresh")
    val dim = buildDim("joinfresh")
    MatView.defineJoined(spark, src, dim, "o_custkey", "c_custkey",
      src + "-jview", Seq("c_mktsegment"), Seq("o_cents"))
    try {
      val q = joinAgg(src, dim)
      assert(kindOf(q, src) === "direct-join")
      val tables = scannedTables(q)
      assert(tables.exists(_.contains("-jview")), s"scanned: $tables")
      assert(!tables.exists(t => t.contains(src) && !t.contains("-jview")),
        s"must not scan fact or dim, scanned: $tables")
      assert(segRows(q) === segRows(expectedJoinAgg(src, dim)))
    } finally MatView.unregisterJoined(src, dim)
  }

  test("star view, stale fact: served as view + (fact feed JOIN pinned dim)") {
    val src = buildSource("joinstale")
    val dim = buildDim("joinstale")
    MatView.defineJoined(spark, src, dim, "o_custkey", "c_custkey",
      src + "-jview", Seq("c_mktsegment"), Seq("o_cents"))
    // fact moves on: double the cents of every key <= median band
    val cur = Lake.read(spark, src)
    Lake.upsert(spark, src, cur.filter(col("o_orderkey") % 5 === 0)
      .withColumn("o_cents", col("o_cents") * 2))
    try {
      val q = joinAgg(src, dim)
      assert(kindOf(q, src) === "compensated-join")
      assert(segRows(q) === segRows(expectedJoinAgg(src, dim)))
    } finally MatView.unregisterJoined(src, dim)
  }

  test("star view: a mutated dimension refuses the rewrite (registers are stale)") {
    val src = buildSource("joindim")
    val dim = buildDim("joindim")
    MatView.defineJoined(spark, src, dim, "o_custkey", "c_custkey",
      src + "-jview", Seq("c_mktsegment"), Seq("o_cents"))
    // the dimension churns AFTER the build: segment reassignment moves
    // register subtotals between groups. Round 11 session III: instead
    // of refusing, the rule absorbs the move IN-PLAN from
    // Δdim ⋈ aux — the query answers without a refresh
    Lake.upsert(spark, dim, Lake.read(spark, dim)
      .filter(col("c_custkey") % 7 === 0)
      .withColumn("c_mktsegment", lit("CHURNED")))
    try {
      val q = joinAgg(src, dim)
      val factReads = Lake.readsOf(src)
      assert(kindOf(q, src) === "dim-compensated-join")
      assert(Lake.readsOf(src) === factReads,
        "serve-time dim compensation must never read the fact table")
      assert(segRows(q) === segRows(expectedJoinAgg(src, dim)))
      // min/max over the churned dim: round 13 serves these too — the
      // affected groups re-derive from the aux's own extrema registers
      // (round 12 refused here; the dedicated round-13 test below pins
      // exactness and the zero-fact-read property)
      val fact = spark.read.format("graft-lake").option("path", src).load()
      val dd = spark.read.format("graft-lake").option("path", dim).load()
      val qx = fact.join(dd, col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(min(col("o_cents")).as("mn"))
      assert(kindOf(qx, src) === "dim-compensated-join")
    } finally MatView.unregisterJoined(src, dim)
  }

  test("star view: the global aggregate re-aggregates the join view's registers") {
    val src = buildSource("joinroll")
    val dim = buildDim("joinroll")
    MatView.defineJoined(spark, src, dim, "o_custkey", "c_custkey",
      src + "-jview", Seq("c_mktsegment"), Seq("o_cents"))
    try {
      org.apache.spark.sql.GraftSqlShim.addOptimization(
        spark, graft.plans.MatViewRewrite)
      val fact = spark.read.format("graft-lake").option("path", src).load()
      val d = spark.read.format("graft-lake").option("path", dim).load()
      val q = fact.join(d, col("o_custkey") === col("c_custkey"))
        .agg(count(lit(1)).as("n"), sum(col("o_cents")).as("cents"))
      assert(kindOf(q, src) === "direct-rollup-join")
      val expected = Lake.read(spark, src)
        .join(Lake.read(spark, dim), col("o_custkey") === col("c_custkey"))
        .agg(count(lit(1)).as("n"), sum(col("o_cents")).as("cents"))
      assert(q.collect().map(_.toSeq).toSeq ===
        expected.collect().map(_.toSeq).toSeq)
    } finally MatView.unregisterJoined(src, dim)
  }

  test("star view: refresh rolls the join view forward, then serves direct again") {
    val src = buildSource("joinrefresh")
    val dim = buildDim("joinrefresh")
    MatView.defineJoined(spark, src, dim, "o_custkey", "c_custkey",
      src + "-jview", Seq("c_mktsegment"), Seq("o_cents"))
    val cur = Lake.read(spark, src)
    Lake.upsert(spark, src, cur.filter(col("o_orderkey") % 3 === 0)
      .withColumn("o_cents", col("o_cents") * 3))
    Lake.delete(spark, src, cur.filter(col("o_orderkey") % 11 === 0)
      .select(col("o_orderkey")))
    try {
      MatView.refresh(spark, src, Seq(dim))
      val q = joinAgg(src, dim)
      assert(kindOf(q, src) === "direct-join")
      assert(segRows(q) === segRows(expectedJoinAgg(src, dim)))
    } finally MatView.unregisterJoined(src, dim)
  }

  test("MoR deletion-vector commits: refresh consumes the mask feed; rewrite_dvs nets to zero") {
    // a merge-on-read delete removes rows WITHOUT rewriting data files
    // (sidecar masks); the change feed derives its delete rows from the
    // rm=(file, dv) log records, so MV maintenance must see them
    // exactly as copy-on-write deletes. (The V2 SQL scan itself
    // refuses MoR snapshots by design — materialize first — so the
    // property under test is the MAINTENANCE plane.)
    val src = buildSource("mor")
    MatView.define(spark, src, src + "-view",
      Seq("o_orderpriority"), Seq("o_cents"))
    Lake.deleteWhereMor(spark, src, col("o_orderkey") % 7 === 0)
    try {
      // refresh rolls the registers from the DV delete rows, log-direct
      MatView.refresh(spark, src)
      val reg = Lake.read(spark, src + "-view")
        .select(col("o_orderpriority"), col(MatView.countCol).as("n"),
          col(MatView.sumCol("o_cents")).as("cents"))
        .orderBy("o_orderpriority").collect().map(_.toSeq).toSeq
      val exp = Lake.read(spark, src).groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), sum(col("o_cents")).as("cents"))
        .orderBy("o_orderpriority").collect().map(_.toSeq).toSeq
      assert(reg === exp)
      // materializing the masks is an rm+add of IDENTICAL surviving
      // rows — and it commits with the row-preserving maintenance
      // marker (session III), so the refreshed view stays provably
      // FRESH across it: the query serves DIRECT (and the SQL door
      // works again)
      Lake.rewriteDvs(spark, src)
      val q = userAgg(src)
      assert(kindOf(q, src) === "direct",
        "dv materialization must not invalidate view freshness")
      assert(rows(q) === rows(expectedAgg(src)))
    } finally MatView.unregister(src)
  }

  test("multi-dim star: 2-dim serve; a partial join graph refuses") {
    val src = buildSource("star2")
    val cdim = buildDim("star2")
    val pdir = freshDir("star2-pdim")
    Lake.create(Tables.orders(spark, sf)
      .select(col("o_orderpriority").as("p_prio")).distinct()
      .withColumn("p_class",
        when(col("p_prio").isin("1-URGENT", "2-HIGH"), "high")
          .otherwise("low")),
      pdir, "p_prio", targetFiles = 1)
    MatView.defineStar(spark, src,
      Seq((cdim, "o_custkey", "c_custkey"), (pdir, "o_orderpriority", "p_prio")),
      src + "-sview", Seq("c_mktsegment", "p_class"), Seq("o_cents"))
    try {
      org.apache.spark.sql.GraftSqlShim.addOptimization(
        spark, graft.plans.MatViewRewrite)
      val fact = spark.read.format("graft-lake").option("path", src).load()
      val dc = spark.read.format("graft-lake").option("path", cdim).load()
      val dp = spark.read.format("graft-lake").option("path", pdir).load()
      val q = fact.join(dc, col("o_custkey") === col("c_custkey"))
        .join(dp, col("o_orderpriority") === col("p_prio"))
        .groupBy(col("c_mktsegment"), col("p_class"))
        .agg(count(lit(1)).as("n"), sum(col("o_cents")).as("cents"))
      assert(kindOf(q, src) === "direct-join")
      val expected = Lake.read(spark, src)
        .join(Lake.read(spark, cdim), col("o_custkey") === col("c_custkey"))
        .join(Lake.read(spark, pdir), col("o_orderpriority") === col("p_prio"))
        .groupBy(col("c_mktsegment"), col("p_class"))
        .agg(count(lit(1)).as("n"), sum(col("o_cents")).as("cents"))
      def sorted(df: org.apache.spark.sql.DataFrame) =
        df.orderBy("c_mktsegment", "p_class").collect().map(_.toSeq).toSeq
      assert(sorted(q) === sorted(expected))
      // a query joining only ONE of the two dims is a DIFFERENT join
      // graph: an inner join can drop fact rows, so the 2-dim view
      // must refuse (no registry entry for the 1-dim pair)
      val partial = fact.join(dc, col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"), sum(col("o_cents")).as("cents"))
      assert(kindOf(partial, src) === "none")
    } finally MatView.unregisterStar(src, Seq(cdim, pdir))
  }

  test("star serve-time composition: TWO churned dims + a fact append " +
      "absorb in one plan (round 12)") {
    val src = buildSource("star2c")
    val cdim = buildDim("star2c")
    val pdir = freshDir("star2c-pdim")
    Lake.create(Tables.orders(spark, sf)
      .select(col("o_orderpriority").as("p_prio")).distinct()
      .withColumn("p_class",
        when(col("p_prio").isin("1-URGENT", "2-HIGH"), "high")
          .otherwise("low")),
      pdir, "p_prio", targetFiles = 1)
    MatView.defineStar(spark, src,
      Seq((cdim, "o_custkey", "c_custkey"), (pdir, "o_orderpriority", "p_prio")),
      src + "-sview", Seq("c_mktsegment", "p_class"), Seq("o_cents"))
    try {
      // AFTER the build: churn BOTH dims and append fact rows —
      // round 11 refused this combination (one stale dim max, fact at
      // build); round 12 composes all three deltas in the serve plan
      Lake.upsert(spark, cdim, Lake.read(spark, cdim)
        .filter(col("c_custkey") % 5 === 0)
        .withColumn("c_mktsegment", lit("MOVED")))
      Lake.upsert(spark, pdir, Lake.read(spark, pdir)
        .filter(col("p_prio") === "3-MEDIUM")
        .withColumn("p_class", lit("mid")))
      val maxKey = Lake.read(spark, src)
        .agg(max(col("o_orderkey"))).head().getLong(0)
      Lake.upsert(spark, src, Lake.read(spark, src)
        .filter(col("o_orderkey") % 9 === 0)
        .withColumn("o_orderkey", col("o_orderkey") + maxKey))
      org.apache.spark.sql.GraftSqlShim.addOptimization(
        spark, graft.plans.MatViewRewrite)
      val fact = spark.read.format("graft-lake").option("path", src).load()
      val dc = spark.read.format("graft-lake").option("path", cdim).load()
      val dp = spark.read.format("graft-lake").option("path", pdir).load()
      val q = fact.join(dc, col("o_custkey") === col("c_custkey"))
        .join(dp, col("o_orderpriority") === col("p_prio"))
        .groupBy(col("c_mktsegment"), col("p_class"))
        .agg(count(lit(1)).as("n"), sum(col("o_cents")).as("cents"),
          avg(col("o_cents")).as("avg_cents"))
      assert(kindOf(q, src) === "star-compensated-join")
      val expected = Lake.read(spark, src)
        .join(Lake.read(spark, cdim), col("o_custkey") === col("c_custkey"))
        .join(Lake.read(spark, pdir), col("o_orderpriority") === col("p_prio"))
        .groupBy(col("c_mktsegment"), col("p_class"))
        .agg(count(lit(1)).as("n"), sum(col("o_cents")).as("cents"),
          avg(col("o_cents")).as("avg_cents"))
      def sorted(df: org.apache.spark.sql.DataFrame) =
        df.orderBy("c_mktsegment", "p_class").collect().map(_.toSeq).toSeq
      assert(sorted(q) === sorted(expected))
      // min/max over the churned star (round 14 — the round-12
      // refusal is gone): the affected groups' extrema recompute off
      // the fused move plan, and the partial rollup takes
      // max-of-maxes over the extrema-fresh rows — exact
      val qx = fact.join(dc, col("o_custkey") === col("c_custkey"))
        .join(dp, col("o_orderpriority") === col("p_prio"))
        .groupBy(col("c_mktsegment")).agg(max(col("o_cents")).as("mx"))
      assert(kindOf(qx, src) === "star-compensated-rollup-join")
      val ex = Lake.read(spark, src)
        .join(Lake.read(spark, cdim), col("o_custkey") === col("c_custkey"))
        .join(Lake.read(spark, pdir), col("o_orderpriority") === col("p_prio"))
        .groupBy(col("c_mktsegment")).agg(max(col("o_cents")).as("mx"))
      assert(qx.orderBy("c_mktsegment").collect().map(_.toSeq).toSeq ===
        ex.orderBy("c_mktsegment").collect().map(_.toSeq).toSeq)
      // a partial rollup over the churned star composes too
      val qr = fact.join(dc, col("o_custkey") === col("c_custkey"))
        .join(dp, col("o_orderpriority") === col("p_prio"))
        .groupBy(col("p_class")).agg(sum(col("o_cents")).as("cents"))
      assert(kindOf(qr, src) === "star-compensated-rollup-join")
      val er = Lake.read(spark, src)
        .join(Lake.read(spark, cdim), col("o_custkey") === col("c_custkey"))
        .join(Lake.read(spark, pdir), col("o_orderpriority") === col("p_prio"))
        .groupBy(col("p_class")).agg(sum(col("o_cents")).as("cents"))
      assert(qr.orderBy("p_class").collect().map(_.toSeq).toSeq ===
        er.orderBy("p_class").collect().map(_.toSeq).toSeq)
    } finally MatView.unregisterStar(src, Seq(cdim, pdir))
  }

  test("star serve-time composition: one stale dim + fact UPDATES " +
      "(not just appends) compose exactly") {
    val src = buildSource("starfd")
    val dim = buildDim("starfd")
    MatView.defineJoined(spark, src, dim, "o_custkey", "c_custkey",
      src + "-jview", Seq("c_mktsegment"), Seq("o_cents"))
    try {
      Lake.upsert(spark, dim, Lake.read(spark, dim)
        .filter(col("c_custkey") % 4 === 0)
        .withColumn("c_mktsegment", lit("MOVED")))
      // fact UPDATES: a %6 slice's cents double — the feed carries
      // pre/postimages, the aux roll-forward must absorb both
      Lake.upsert(spark, src, Lake.read(spark, src)
        .filter(col("o_orderkey") % 6 === 0)
        .withColumn("o_cents", col("o_cents") * 2))
      val q = joinAgg(src, dim)
      assert(kindOf(q, src) === "star-compensated-join")
      // the serve reads the fact CHANGE FEED (bounded) + the view +
      // Δdim ⋈ aux — never a fact snapshot scan (structural: the plan
      // below is built from compensatedStar, whose only fact input is
      // Lake.changes over the missed commits)
      assert(segRows(q) === segRows(expectedJoinAgg(src, dim)))
    } finally MatView.unregisterJoined(src, dim)
  }

  test("defineOrRecover: the second invocation recovers the build and values hold") {
    val src = buildSource("recov")
    val mv = src + "-view"
    val d1 = MatView.defineOrRecover(spark, src, Nil, mv,
      Seq("o_orderpriority"), Seq("o_cents"))
    try {
      val commit1 = Lake.latestVersion(mv)
      val r1 = rows(userAgg(src))
      // second define must NOT rebuild: same view version, same def
      val d2 = MatView.defineOrRecover(spark, src, Nil, mv,
        Seq("o_orderpriority"), Seq("o_cents"))
      assert(d2 === d1)
      assert(Lake.latestVersion(mv) === commit1,
        "recover must not re-commit the view")
      assert(rows(userAgg(src)) === r1)
      // a DIFFERENT definition at the same dir rebuilds
      val d3 = MatView.defineOrRecover(spark, src, Nil, mv,
        Seq("o_orderstatus"), Seq("o_cents"))
      assert(d3.groupCols === Seq("o_orderstatus"))
    } finally MatView.unregister(src)
  }

  test("HAVING composes above the rewrite: the parent filter survives substitution") {
    val src = buildSource("having")
    MatView.define(spark, src, src + "-view",
      Seq("o_orderpriority"), Seq("o_cents"))
    try {
      // HAVING plans as Filter ABOVE the Aggregate; the rewrite
      // replaces the aggregate with an exprId-preserving projection,
      // so the parent filter must keep resolving
      val q = userAgg(src).filter(col("n") > 100L)
      assert(kindOf(q, src) === "direct")
      assert(rows(q) === rows(expectedAgg(src).filter(col("n") > 100L)))
    } finally MatView.unregister(src)
  }

  test("aliased group columns rewrite: SELECT prio AS p ... GROUP BY prio") {
    val src = buildSource("alias")
    MatView.define(spark, src, src + "-view",
      Seq("o_orderpriority"), Seq("o_cents"))
    try {
      org.apache.spark.sql.GraftSqlShim.addOptimization(
        spark, graft.plans.MatViewRewrite)
      val q = spark.read.format("graft-lake").option("path", src).load()
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), sum(col("o_cents")).as("cents"))
        .select(col("o_orderpriority").as("prio"), col("n"), col("cents"))
      // the SQL form puts the alias INSIDE the aggregate list
      val sqlQ = {
        spark.read.format("graft-lake").option("path", src).load()
          .createOrReplaceTempView("alias_src")
        spark.sql("""SELECT o_orderpriority AS prio, count(*) AS n,
          sum(o_cents) AS cents FROM alias_src GROUP BY o_orderpriority""")
      }
      assert(kindOf(sqlQ, src) === "direct")
      val expected = Lake.read(spark, src)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), sum(col("o_cents")).as("cents"))
        .select(col("o_orderpriority").as("prio"), col("n"), col("cents"))
      def sorted(df: org.apache.spark.sql.DataFrame) =
        df.orderBy("prio").collect().map(_.toSeq).toSeq
      assert(sorted(sqlQ) === sorted(expected))
      assert(sorted(q) === sorted(expected))
    } finally MatView.unregister(src)
  }

  // ---- round 11: expression registers -------------------------------------

  test("expression register: sum(price*(100-disc)) matches canonically") {
    val dir = freshDir("expr")
    // orders: the synthetic lineitem repeats (orderkey, linenumber),
    // so only orders carries a unique lake key
    val o = Tables.orders(spark, sf).select(
      col("o_orderkey").as("li_id"),
      col("o_orderpriority").as("l_returnflag"),
      (col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long").as("pc"),
      (col("o_orderkey") % 10).as("dp"))
    Lake.create(o, dir, "li_id", targetFiles = 4)
    MatView.define(spark, dir, dir + "-view",
      Seq("l_returnflag"), Seq("rev"),
      derived = Seq("rev" -> "pc * (100 - dp)"))
    try {
      org.apache.spark.sql.GraftSqlShim.addOptimization(
        spark, graft.plans.MatViewRewrite)
      def lake() = spark.read.format("graft-lake").option("path", dir).load()
      // the query spells the expression itself — different literal
      // types (100 int vs long) must still match via constant folding
      val q = lake().groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(col("pc") * (lit(100) - col("dp"))).as("rev"),
          avg(col("pc") * (lit(100) - col("dp"))).as("avg_rev"))
      assert(kindOf(q, dir) === "direct")
      val exp = Lake.read(spark, dir).groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(col("pc") * (lit(100) - col("dp"))).as("rev"),
          avg(col("pc") * (lit(100) - col("dp"))).as("avg_rev"))
      def srt(df: org.apache.spark.sql.DataFrame) =
        df.orderBy("l_returnflag").collect().map(_.toSeq).toSeq
      assert(srt(q) === srt(exp))
      // the SQL spelling matches too
      lake().createOrReplaceTempView("expr_src")
      val sqlQ = spark.sql(
        "SELECT l_returnflag, sum(pc * (100 - dp)) AS rev FROM expr_src GROUP BY 1")
      assert(kindOf(sqlQ, dir) === "direct")
      // a DIFFERENT expression refuses
      val refuse = lake().groupBy(col("l_returnflag"))
        .agg(sum(col("pc") * (lit(100) + col("dp"))).as("rev"))
      assert(kindOf(refuse, dir) === "none")
      // Σ-maintenance THROUGH the feed: upsert doubles pc for a band,
      // the stale view compensates with the derived expression applied
      // to the change feed, values exact
      Lake.upsert(spark, dir, Lake.read(spark, dir)
        .filter(col("li_id") % 3 === 0).withColumn("pc", col("pc") * 2))
      val stale = lake().groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(col("pc") * (lit(100) - col("dp"))).as("rev"))
      assert(kindOf(stale, dir) === "compensated")
      val exp2 = Lake.read(spark, dir).groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(col("pc") * (lit(100) - col("dp"))).as("rev"))
      assert(srt(stale) === srt(exp2))
    } finally MatView.unregister(dir)
  }

  test("expression register refusals: derived-on-derived, mixed literals ok") {
    val dir = freshDir("exprref")
    val o = Tables.orders(spark, sf).select(
      col("o_orderkey").as("li_id"),
      col("o_orderpriority").as("l_returnflag"),
      (col("o_orderkey") % 50).as("qty"))
    Lake.create(o, dir, "li_id", targetFiles = 2)
    // derived referencing another derived is rejected at define
    val e = intercept[IllegalArgumentException] {
      MatView.define(spark, dir, dir + "-view", Seq("l_returnflag"),
        Seq("a", "b"),
        derived = Seq("a" -> "qty * 2", "b" -> "a + 1"))
    }
    assert(e.getMessage.contains("derived"))
  }

  // ---- round 11: time-bucketed groupings -----------------------------------

  test("time buckets: a day-grain view serves week/month, refuses finer") {
    val dir = freshDir("tbuck")
    val ev = Tables.events(spark, sf).select(
      col("event_id"), col("ts"), col("event_type"),
      (col("value").cast("decimal(18,2)") * 100).cast("long").as("vc"))
    Lake.create(ev, dir, "event_id", targetFiles = 2)
    MatView.define(spark, dir, dir + "-view",
      Seq("day", "event_type"), Seq("vc"),
      derived = Seq("day" -> "date_trunc('day', ts)"))
    try {
      org.apache.spark.sql.GraftSqlShim.addOptimization(
        spark, graft.plans.MatViewRewrite)
      def lake() = spark.read.format("graft-lake").option("path", dir).load()
      def bucket(lvl: String) = lake()
        .groupBy(date_trunc(lvl, col("ts")).as("b"))
        .agg(count(lit(1)).as("n"), sum(col("vc")).as("s"))
      def expBucket(lvl: String) = Lake.read(spark, dir)
        .groupBy(date_trunc(lvl, col("ts")).as("b"))
        .agg(count(lit(1)).as("n"), sum(col("vc")).as("s"))
      def srt(df: org.apache.spark.sql.DataFrame) =
        df.orderBy("b").collect().map(_.toSeq).toSeq
      for (lvl <- Seq("week", "month", "year")) {
        val q = bucket(lvl)
        assert(kindOf(q, dir) === "direct-rollup", s"level $lvl")
        assert(srt(q) === srt(expBucket(lvl)), s"level $lvl")
      }
      // the EXACT declared level serves directly (canonical equality,
      // grouped with event_type = the full declaration)
      val exact = lake()
        .groupBy(date_trunc("day", col("ts")).as("day"), col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("vc")).as("s"))
      assert(kindOf(exact, dir) === "direct")
      // FINER than declared refuses: hours are gone
      assert(kindOf(bucket("hour"), dir) === "none")
    } finally MatView.unregister(dir)
  }

  test("time buckets: week-grain view refuses month (weeks straddle months)") {
    val dir = freshDir("tweek")
    val ev = Tables.events(spark, sf).select(
      col("event_id"), col("ts"),
      (col("value").cast("decimal(18,2)") * 100).cast("long").as("vc"))
    Lake.create(ev, dir, "event_id", targetFiles = 2)
    MatView.define(spark, dir, dir + "-view", Seq("wk"), Seq("vc"),
      derived = Seq("wk" -> "date_trunc('week', ts)"))
    try {
      org.apache.spark.sql.GraftSqlShim.addOptimization(
        spark, graft.plans.MatViewRewrite)
      def lake() = spark.read.format("graft-lake").option("path", dir).load()
      val month = lake().groupBy(date_trunc("month", col("ts")).as("b"))
        .agg(count(lit(1)).as("n"))
      assert(kindOf(month, dir) === "none",
        "month must not be served from week buckets")
      val week = lake().groupBy(date_trunc("week", col("ts")).as("b"))
        .agg(count(lit(1)).as("n"))
      assert(kindOf(week, dir) === "direct")
    } finally MatView.unregister(dir)
  }

  test("derived-expression filters transpose; min/max of expressions serve") {
    val dir = freshDir("exprfil")
    val o = Tables.orders(spark, sf).select(
      col("o_orderkey").as("k"), col("o_orderpriority").as("prio"),
      (col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long").as("pc"),
      (col("o_orderkey") % 10).as("dp"))
    Lake.create(o, dir, "k", targetFiles = 3)
    MatView.define(spark, dir, dir + "-view",
      Seq("prio", "band"), Seq("rev"),
      derived = Seq("band" -> "dp % 3", "rev" -> "pc * (100 - dp)"))
    try {
      org.apache.spark.sql.GraftSqlShim.addOptimization(
        spark, graft.plans.MatViewRewrite)
      def lake() = spark.read.format("graft-lake").option("path", dir).load()
      val rev = col("pc") * (lit(100L) - col("dp"))
      // a filter ON the derived group EXPRESSION transposes onto the
      // view (it constrains group values, not rows)
      val q = lake().filter(col("dp") % 3 === 1)
        .groupBy(col("prio"))
        .agg(count(lit(1)).as("n"), sum(rev).as("rev"),
          min(rev).as("mn"), max(rev).as("mx"))
      assert(kindOf(q, dir) === "direct-rollup")
      val exp = Lake.read(spark, dir).filter(col("dp") % 3 === 1)
        .groupBy(col("prio"))
        .agg(count(lit(1)).as("n"), sum(rev).as("rev"),
          min(rev).as("mn"), max(rev).as("mx"))
      assert(rows2(q, "prio") === rows2(exp, "prio"))
      // a filter on a RAW column outside the declaration still refuses
      val refuse = lake().filter(col("pc") > 100L)
        .groupBy(col("prio")).agg(count(lit(1)).as("n"))
      assert(kindOf(refuse, dir) === "none")
    } finally MatView.unregister(dir)
  }

  test("coarser trunc FILTERS re-truncate the view's day column") {
    val dir = freshDir("tfil")
    val ev = Tables.events(spark, sf).select(
      col("event_id"), col("ts"),
      (col("value").cast("decimal(18,2)") * 100).cast("long").as("vc"))
    Lake.create(ev, dir, "event_id", targetFiles = 2)
    MatView.define(spark, dir, dir + "-view", Seq("day"), Seq("vc"),
      derived = Seq("day" -> "date_trunc('day', ts)"))
    try {
      org.apache.spark.sql.GraftSqlShim.addOptimization(
        spark, graft.plans.MatViewRewrite)
      def lake() = spark.read.format("graft-lake").option("path", dir).load()
      // WHERE week(ts) >= X GROUP BY day: the filter re-truncates the
      // day column (week ∘ day ≡ week), the grouping serves directly
      val cut = Lake.read(spark, dir)
        .select(date_trunc("week", col("ts")).as("w"))
        .agg(max(col("w"))).head().getTimestamp(0)
      val q = lake().filter(date_trunc("week", col("ts")) === lit(cut))
        .groupBy(date_trunc("day", col("ts")).as("day"))
        .agg(count(lit(1)).as("n"), sum(col("vc")).as("s"))
      assert(kindOf(q, dir) === "direct")
      val exp = Lake.read(spark, dir)
        .filter(date_trunc("week", col("ts")) === lit(cut))
        .groupBy(date_trunc("day", col("ts")).as("day"))
        .agg(count(lit(1)).as("n"), sum(col("vc")).as("s"))
      assert(rows2(q, "day") === rows2(exp, "day"))
    } finally MatView.unregister(dir)
  }

  test("star view with a derived fact-side register: serve, churn, refresh") {
    val src = buildSource("starexpr")
    val dim = buildDim("starexpr")
    // derived register over FACT columns through the star path — the
    // aux rollup (fact grain) carries it, so churn stays incremental
    MatView.defineStar(spark, src, Seq((dim, "o_custkey", "c_custkey")),
      src + "-sxview", Seq("c_mktsegment"), Seq("rev"),
      derived = Seq("rev" -> "o_cents * 2"))
    try {
      org.apache.spark.sql.GraftSqlShim.addOptimization(
        spark, graft.plans.MatViewRewrite)
      def q() = {
        val fact = spark.read.format("graft-lake").option("path", src).load()
        val d = spark.read.format("graft-lake").option("path", dim).load()
        fact.join(d, col("o_custkey") === col("c_custkey"))
          .groupBy(col("c_mktsegment"))
          .agg(count(lit(1)).as("n"), sum(col("o_cents") * 2).as("rev"))
      }
      def exp() = Lake.read(spark, src)
        .join(Lake.read(spark, dim), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"), sum(col("o_cents") * 2).as("rev"))
      assert(kindOf(q(), src) === "direct-join")
      assert(segRows(q()) === segRows(exp()))
      // dim churn over the derived-register view
      Lake.upsert(spark, dim, Lake.read(spark, dim)
        .filter(col("c_custkey") % 6 === 0)
        .withColumn("c_mktsegment", lit("XPR")))
      val factReads = Lake.readsOf(src)
      MatView.refreshDim(spark, src, Seq(dim))
      assert(Lake.readsOf(src) === factReads)
      assert(kindOf(q(), src) === "direct-join")
      assert(segRows(q()) === segRows(exp()))
      // fact refresh keeps the derived register exact
      Lake.upsert(spark, src, Lake.read(spark, src)
        .filter(col("o_orderkey") % 8 === 0)
        .withColumn("o_cents", col("o_cents") + 5L))
      MatView.refresh(spark, src, Seq(dim))
      assert(kindOf(q(), src) === "direct-join")
      assert(segRows(q()) === segRows(exp()))
    } finally MatView.unregisterJoined(src, dim)
  }

  private def rows2(df: org.apache.spark.sql.DataFrame, key: String) =
    df.orderBy(key).collect().map(_.toSeq).toSeq

  // ---- round 11: NULL semantics --------------------------------------------

  test("NULL sums: an all-NULL group serves sum NULL, avg NULL — like the direct plan") {
    val dir = freshDir("nulls")
    val orders = Tables.orders(spark, sf)
      .withColumn("o_cents",
        when(col("o_orderpriority") === "1-URGENT", lit(null).cast("long"))
          .otherwise((col("o_totalprice").cast("decimal(18,2)") * 100)
            .cast("long")))
    Lake.create(orders, dir, "o_orderkey", targetFiles = 2)
    MatView.define(spark, dir, dir + "-view",
      Seq("o_orderpriority"), Seq("o_cents"))
    try {
      val q = userAgg(dir)
      assert(kindOf(q, dir) === "direct")
      assert(rows(q) === rows(expectedAgg(dir)))
      val urgent = q.filter(col("o_orderpriority") === "1-URGENT").head()
      assert(urgent.isNullAt(urgent.fieldIndex("cents")),
        "the all-NULL group must serve sum = NULL")
      assert(urgent.isNullAt(urgent.fieldIndex("avg_cents")))
      // through the feed too: delete every non-null row of another
      // group — its surviving rows all carry NULL, sum must go NULL
      Lake.delete(spark, dir, Lake.read(spark, dir)
        .filter(col("o_orderpriority") === "2-HIGH" &&
          col("o_orderkey") % 2 === 0).select(col("o_orderkey")))
      Lake.upsert(spark, dir, Lake.read(spark, dir)
        .filter(col("o_orderpriority") === "2-HIGH")
        .withColumn("o_cents", lit(null).cast("long")))
      val q2 = userAgg(dir)
      assert(kindOf(q2, dir) === "compensated")
      assert(rows(q2) === rows(expectedAgg(dir)))
      val high = q2.filter(col("o_orderpriority") === "2-HIGH").head()
      assert(high.isNullAt(high.fieldIndex("cents")),
        "a group whose values all went NULL must compensate to sum = NULL")
    } finally MatView.unregister(dir)
  }

  test("NULL groups: define refuses; nondeterministic filters refuse") {
    val dir = freshDir("nullg")
    val orders = Tables.orders(spark, sf)
      .withColumn("o_cents",
        (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long"))
      .withColumn("grp",
        when(col("o_orderkey") % 13 === 0, lit(null).cast("string"))
          .otherwise(col("o_orderpriority")))
    Lake.create(orders, dir, "o_orderkey", targetFiles = 2)
    val e = intercept[RuntimeException] {
      MatView.define(spark, dir, dir + "-view", Seq("grp"), Seq("o_cents"))
    }
    assert(e.getMessage.contains("NULL"))
    // nondeterministic filter: never transposed (ADVICE r10)
    val src = buildSource("nondet")
    MatView.define(spark, src, src + "-view",
      Seq("o_orderpriority"), Seq("o_cents"))
    try {
      val q = spark.read.format("graft-lake").option("path", src).load()
        .filter(rand(7) < 0.9999) // near-certain per row, NOT provable
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"))
      assert(kindOf(q, src) === "none",
        "a nondeterministic filter must block the rewrite")
    } finally MatView.unregister(src)
  }

  // ---- round 11: dimension churn -------------------------------------------

  test("dim churn: refreshDim re-labels via the aux rollup, fact untouched") {
    val src = buildSource("churn")
    val dim = buildDim("churn")
    MatView.defineJoined(spark, src, dim, "o_custkey", "c_custkey",
      src + "-jview", Seq("c_mktsegment"), Seq("o_cents"))
    try {
      // churn 1: segment reassignment (update pre/postimages)
      Lake.upsert(spark, dim, Lake.read(spark, dim)
        .filter(col("c_custkey") % 7 === 0)
        .withColumn("c_mktsegment", lit("CHURNED")))
      assert(kindOf(joinAgg(src, dim), src) === "dim-compensated-join",
        "pre-refresh: the stale dim pin serves through the in-plan move")
      val factReads = Lake.readsOf(src)
      MatView.refreshDim(spark, src, Seq(dim))
      assert(Lake.readsOf(src) === factReads,
        "refreshDim must never read the fact table")
      val q = joinAgg(src, dim)
      assert(kindOf(q, src) === "direct-join")
      assert(segRows(q) === segRows(expectedJoinAgg(src, dim)))
      // churn 2: dim DELETE — the affected customers' orders drop out
      // of the view exactly as they drop from the raw inner join
      Lake.delete(spark, dim, Lake.read(spark, dim)
        .filter(col("c_custkey") % 11 === 0).select(col("c_custkey")))
      MatView.refreshDim(spark, src, Seq(dim))
      val q2 = joinAgg(src, dim)
      assert(kindOf(q2, src) === "direct-join")
      assert(segRows(q2) === segRows(expectedJoinAgg(src, dim)))
      // churn 3: dim INSERT of keys no fact row references — a no-op
      // on the registers, but the pin must still advance
      Lake.upsert(spark, dim, Lake.read(spark, dim).limit(5)
        .withColumn("c_custkey", col("c_custkey") + 1000000L))
      MatView.refreshDim(spark, src, Seq(dim))
      val q3 = joinAgg(src, dim)
      assert(kindOf(q3, src) === "direct-join")
      assert(segRows(q3) === segRows(expectedJoinAgg(src, dim)))
    } finally MatView.unregisterJoined(src, dim)
  }

  test("dim churn: min/max re-derive from the aux rollup exactly") {
    val src = buildSource("churnmm")
    val dim = buildDim("churnmm")
    MatView.defineJoined(spark, src, dim, "o_custkey", "c_custkey",
      src + "-jview", Seq("c_mktsegment"), Seq("o_cents"))
    try {
      Lake.upsert(spark, dim, Lake.read(spark, dim)
        .filter(col("c_custkey") % 3 === 0)
        .withColumn("c_mktsegment", lit("MOVED")))
      MatView.refreshDim(spark, src, Seq(dim))
      org.apache.spark.sql.GraftSqlShim.addOptimization(
        spark, graft.plans.MatViewRewrite)
      val fact = spark.read.format("graft-lake").option("path", src).load()
      val d = spark.read.format("graft-lake").option("path", dim).load()
      val q = fact.join(d, col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"), sum(col("o_cents")).as("s"),
          min(col("o_cents")).as("mn"), max(col("o_cents")).as("mx"))
      assert(kindOf(q, src) === "direct-join")
      val exp = Lake.read(spark, src)
        .join(Lake.read(spark, dim), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"), sum(col("o_cents")).as("s"),
          min(col("o_cents")).as("mn"), max(col("o_cents")).as("mx"))
      assert(segRows(q) === segRows(exp))
    } finally MatView.unregisterJoined(src, dim)
  }

  test("dim churn: min/max SERVE without a committed refresh " +
      "(round 13) — affected groups re-derive in-plan, zero fact reads") {
    val src = buildSource("churnmm-serve")
    val dim = buildDim("churnmm-serve")
    MatView.defineJoined(spark, src, dim, "o_custkey", "c_custkey",
      src + "-jview", Seq("c_mktsegment"), Seq("o_cents"))
    try {
      Lake.upsert(spark, dim, Lake.read(spark, dim)
        .filter(col("c_custkey") % 3 === 0)
        .withColumn("c_mktsegment", lit("MOVED")))
      // NO refreshDim: the serve itself must absorb the move
      org.apache.spark.sql.GraftSqlShim.addOptimization(
        spark, graft.plans.MatViewRewrite)
      val fact = spark.read.format("graft-lake").option("path", src).load()
      val d = spark.read.format("graft-lake").option("path", dim).load()
      val q = fact.join(d, col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"), sum(col("o_cents")).as("s"),
          min(col("o_cents")).as("mn"), max(col("o_cents")).as("mx"))
      val factReads = Lake.readsOf(src)
      assert(kindOf(q, src) === "dim-compensated-join",
        "extrema must no longer force the raw join under dim churn")
      assert(Lake.readsOf(src) === factReads,
        "the extrema re-derivation must never read the fact table")
      val exp = Lake.read(spark, src)
        .join(Lake.read(spark, dim), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"), sum(col("o_cents")).as("s"),
          min(col("o_cents")).as("mn"), max(col("o_cents")).as("mx"))
      assert(segRows(q) === segRows(exp))
    } finally MatView.unregisterJoined(src, dim)
  }

  test("dim churn: fact refresh keeps the aux current; both feeds compose") {
    val src = buildSource("churnboth")
    val dim = buildDim("churnboth")
    MatView.defineJoined(spark, src, dim, "o_custkey", "c_custkey",
      src + "-jview", Seq("c_mktsegment"), Seq("o_cents"))
    try {
      // fact moves first: upsert + delete, then refresh (rolls view AND aux)
      Lake.upsert(spark, src, Lake.read(spark, src)
        .filter(col("o_orderkey") % 5 === 0)
        .withColumn("o_cents", col("o_cents") * 3))
      Lake.delete(spark, src, Lake.read(spark, src)
        .filter(col("o_orderkey") % 9 === 0).select(col("o_orderkey")))
      MatView.refresh(spark, src, Seq(dim))
      // then the dim churns; refreshDim must see post-refresh subtotals
      Lake.upsert(spark, dim, Lake.read(spark, dim)
        .filter(col("c_custkey") % 4 === 0)
        .withColumn("c_mktsegment", lit("CHURNED")))
      val factReads = Lake.readsOf(src)
      MatView.refreshDim(spark, src, Seq(dim))
      assert(Lake.readsOf(src) === factReads)
      val q = joinAgg(src, dim)
      assert(kindOf(q, src) === "direct-join")
      assert(segRows(q) === segRows(expectedJoinAgg(src, dim)))
    } finally MatView.unregisterJoined(src, dim)
  }

  test("extrema × fact delta × dim churn compose in one serve — " +
      "insert-only (round 13) AND delete-bearing (round 14)") {
    val src = buildSource("churnmm-compose")
    val dim = buildDim("churnmm-compose")
    org.apache.spark.sql.GraftSqlShim.addOptimization(
      spark, graft.plans.MatViewRewrite)
    MatView.defineJoined(spark, src, dim, "o_custkey", "c_custkey",
      src + "-jview", Seq("c_mktsegment"), Seq("o_cents"))
    try {
      // an INSERT-ONLY fact slice (re-keyed above the max) + dim churn,
      // neither refreshed — the serve must absorb both with extrema
      val maxKey = Lake.read(spark, src)
        .agg(max(col("o_orderkey"))).head().getLong(0)
      Lake.upsert(spark, src, Lake.read(spark, src)
        .filter(col("o_orderkey") % 11 === 0)
        .withColumn("o_orderkey", col("o_orderkey") + maxKey + 1)
        .withColumn("o_cents", col("o_cents") * 5))
      Lake.upsert(spark, dim, Lake.read(spark, dim)
        .filter(col("c_custkey") % 3 === 0)
        .withColumn("c_mktsegment", lit("MOVED")))
      val fact = spark.read.format("graft-lake").option("path", src).load()
      val d = spark.read.format("graft-lake").option("path", dim).load()
      def mmAgg(f: org.apache.spark.sql.DataFrame,
          dd: org.apache.spark.sql.DataFrame) =
        f.join(dd, col("o_custkey") === col("c_custkey"))
          .groupBy(col("c_mktsegment"))
          .agg(count(lit(1)).as("n"), min(col("o_cents")).as("mn"),
            max(col("o_cents")).as("mx"))
      val q = mmAgg(fact, d)
      val factReads = Lake.readsOf(src)
      assert(kindOf(q, src) === "star-compensated-join",
        "insert-only fact delta + churn must serve extrema composed")
      assert(segRows(q) === segRows(
        mmAgg(Lake.read(spark, src), Lake.read(spark, dim))))
      // a DELETE lands (round 14 — the LAST extrema refusal closes):
      // the slice is no longer insert-only, so the touched groups'
      // view and aux extrema re-derive from the fact restricted to
      // those groups, then the moves run on the extrema-fresh aux —
      // the serve composes and stays exact. The deleted keys are %13
      // (some were the ×5 re-keyed extrema, so registers MUST
      // recompute, not carry).
      Lake.delete(spark, src, Lake.read(spark, src)
        .filter(col("o_orderkey") % 13 === 0).select(col("o_orderkey")))
      val fact2 = spark.read.format("graft-lake").option("path", src).load()
      val q2 = mmAgg(fact2, d)
      assert(kindOf(q2, src) === "star-compensated-join",
        "delete-bearing fact slice × churn × extrema must now serve")
      assert(segRows(q2) === segRows(
        mmAgg(Lake.read(spark, src), Lake.read(spark, dim))))
      val qs = fact2.join(d, col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"), sum(col("o_cents")).as("s"))
      assert(kindOf(qs, src) === "star-compensated-join",
        "the Σ-only ask keeps serving under the delete-bearing slice")
    } finally MatView.unregisterJoined(src, dim)
  }

  // ---- round 11: crash-window reconciliation -------------------------------

  test("recoverAll restores the whole serving plane from one sweep " +
      "(round 13): plain + star + distinct views all serve direct") {
    val root = new java.io.File(graft.Scratch.root,
      s"graft-mv-recall-${spark.sparkContext.applicationId}")
    graft.Scratch.rm(root)
    root.mkdirs()
    def under(name: String) = new java.io.File(root, name).getAbsolutePath
    val orders = Tables.orders(spark, sf)
      .withColumn("o_cents",
        (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long"))
    val src = under("fact")
    val dim = under("dim")
    Lake.create(orders, src, "o_orderkey", targetFiles = 2)
    Lake.create(Tables.customer(spark, sf), dim, "c_custkey", targetFiles = 1)
    MatView.define(spark, src, under("v-plain"), Seq("o_orderpriority"),
      Seq("o_cents"))
    MatView.defineJoined(spark, src, dim, "o_custkey", "c_custkey",
      under("v-star"), Seq("c_mktsegment"), Seq("o_cents"))
    MatView.defineDistinct(spark, src, under("v-distinct"),
      Seq("o_orderpriority"), "o_custkey")
    // a broken sidecar must be skipped, not sink the sweep
    val broken = new java.io.File(root, "v-broken")
    broken.mkdirs()
    java.nio.file.Files.write(broken.toPath.resolve("_mv"),
      "fmt=0\ngarbage".getBytes("UTF-8"))
    try {
      // the restarted session: in-memory registry gone, sidecars stay
      MatView.clear()
      assert(kindOf(userAgg(src), src) === "none",
        "cleared registry must not serve")
      val (recovered, skipped) = MatView.recoverAll(root.getAbsolutePath)
      assert(recovered.size === 3, s"recovered: $recovered")
      assert(skipped === Seq(broken.getAbsolutePath))
      val q1 = userAgg(src)
      assert(kindOf(q1, src) === "direct")
      assert(segRows(q1.select(col("o_orderpriority").as("c_mktsegment"),
        col("n"))) === segRows(expectedAgg(src)
          .select(col("o_orderpriority").as("c_mktsegment"), col("n"))))
      val fact = spark.read.format("graft-lake").option("path", src).load()
      val dd = spark.read.format("graft-lake").option("path", dim).load()
      val q2 = fact.join(dd, col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment")).agg(sum(col("o_cents")).as("s"))
      assert(kindOf(q2, src) === "direct-join")
      val q3 = fact.groupBy(col("o_orderpriority"))
        .agg(countDistinct(col("o_custkey")).as("u"))
      assert(kindOf(q3, src).startsWith("direct-distinct"))
    } finally {
      MatView.unregister(src)
      MatView.unregisterJoined(src, dim)
      MatView.unregisterDistinct(under("v-distinct"))
      graft.Scratch.rm(root)
    }
  }

  test("recover reconciles a sidecar that lags the refresh commit") {
    val src = buildSource("crash")
    val d0 = MatView.define(spark, src, src + "-view",
      Seq("o_orderpriority"), Seq("o_cents"))
    try {
      Lake.upsert(spark, src, Lake.read(spark, src)
        .filter(col("o_orderkey") % 6 === 0)
        .withColumn("o_cents", col("o_cents") * 2))
      MatView.refresh(spark, src)
      // simulate the crash: re-write the sidecar with the PRE-refresh
      // definition (as if the process died between the register merge
      // and the sidecar advance)
      val sidecarPath = java.nio.file.Paths.get(src + "-view", "_mv")
      val stale = new String(java.nio.file.Files.readAllBytes(sidecarPath))
        .replace(s"builtVersion=${Lake.latestVersion(src)}",
          s"builtVersion=${d0.builtVersion}")
      java.nio.file.Files.write(sidecarPath, stale.getBytes)
      MatView.clear()
      val recovered = MatView.recover(src + "-view")
      assert(recovered.builtVersion === Lake.latestVersion(src),
        "recover must trust the txn marker over the lagging sidecar " +
          "(re-applying the absorbed slice would double-count)")
      val q = userAgg(src)
      assert(kindOf(q, src) === "direct")
      assert(rows(q) === rows(expectedAgg(src)))
    } finally MatView.unregister(src)
  }
}
