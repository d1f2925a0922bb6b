package graft

import org.apache.spark.sql.functions._

import graft.lake.{Lake, MatView}

/** Automatic incremental MV maintenance (round 12):
  * [[MatView.enableAutoMaintenance]] arms a [[Lake.onCommit]] hook
  * that advances every dependent view — plain, distinct, and star —
  * on the writer's thread after each visible commit, so steady state
  * serves DIRECT with no manual refresh. Also covers the
  * define-over-empty-table shape (the view anchors via createEmpty
  * and maintenance fills it), failure containment (a failed advance
  * degrades to the compensation serve, never the writer), and
  * re-entrancy (the refresh's own view-table commits don't recurse). */
class AutoMaintainSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def fresh(tag: String): String = {
    val d = new java.io.File(graft.Scratch.root,
      s"graft-automv-$tag-${spark.sparkContext.applicationId}")
    graft.Scratch.rm(d)
    d.getAbsolutePath
  }

  private def kindOf(df: org.apache.spark.sql.DataFrame,
      src: String): String = {
    MatView.lastRewrite.set(null)
    df.queryExecution.optimizedPlan
    Option(MatView.lastRewrite.get()) match {
      case Some((d, k)) if d == src => k
      case _ => "none"
    }
  }

  private def lakeDf(src: String) = {
    org.apache.spark.sql.GraftSqlShim.addOptimization(
      spark, graft.plans.MatViewRewrite)
    spark.read.format("graft-lake").option("path", src).load()
  }

  test("a source commit advances the dependent view; the next query serves direct") {
    val dir = fresh("plain")
    val orders = Tables.orders(spark, sf).select(col("o_orderkey"),
      col("o_orderpriority"), col("o_custkey"))
    Lake.create(orders.filter(col("o_orderkey") % 2 === 1), dir,
      "o_orderkey", targetFiles = 2)
    MatView.define(spark, dir, dir + "-view",
      Seq("o_orderpriority"), Seq("o_custkey"))
    MatView.enableAutoMaintenance()
    try {
      Lake.upsert(spark, dir, orders.filter(col("o_orderkey") % 2 === 0))
      // the hook already refreshed: registry pin == source head
      assert(MatView.get(dir).exists(_.builtVersion == 2L))
      val q = lakeDf(dir).groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), sum(col("o_custkey")).as("s"))
      assert(kindOf(q, dir) === "direct")
      val exp = Lake.read(spark, dir).groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), sum(col("o_custkey")).as("s"))
        .orderBy("o_orderpriority").collect().map(_.toSeq).toSeq
      assert(q.orderBy("o_orderpriority").collect().map(_.toSeq).toSeq === exp)
      val Some((d, outcome)) = Option(MatView.lastMaintenance.get())
      assert(d === dir && outcome.contains("refreshed"))
    } finally {
      MatView.disableAutoMaintenance()
      MatView.unregister(dir)
    }
  }

  test("declare over an EMPTY table, let ingest commits fill it") {
    import spark.implicits._
    val dir = fresh("empty")
    val schema = Seq((1L, "a", 10L)).toDF("id", "grp", "v").schema
    Lake.createEmpty(spark, dir, schema, "id")
    MatView.define(spark, dir, dir + "-view", Seq("grp"), Seq("v"))
    MatView.enableAutoMaintenance()
    try {
      Lake.upsert(spark, dir,
        Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "a", 5L)).toDF("id", "grp", "v"))
      Lake.upsert(spark, dir, Seq((4L, "b", 7L)).toDF("id", "grp", "v"))
      assert(MatView.get(dir).exists(_.builtVersion == 3L))
      val q = lakeDf(dir).groupBy(col("grp")).agg(sum(col("v")).as("s"))
      assert(kindOf(q, dir) === "direct")
      assert(q.orderBy("grp").collect().map(r =>
        (r.getString(0), r.getLong(1))).toSeq === Seq(("a", 15L), ("b", 27L)))
    } finally {
      MatView.disableAutoMaintenance()
      MatView.unregister(dir)
    }
  }

  test("distinct views and star dimensions maintain too") {
    val dir = fresh("star")
    val dim = fresh("star-dim")
    val orders = Tables.orders(spark, sf).select(col("o_orderkey"),
      col("o_orderpriority"), col("o_custkey"))
    Lake.create(orders.filter(col("o_orderkey") % 2 === 1), dir,
      "o_orderkey", targetFiles = 2)
    Lake.create(Tables.customer(spark, sf), dim, "c_custkey", targetFiles = 1)
    MatView.defineDistinct(spark, dir, dir + "-dview",
      Seq("o_orderpriority"), "o_custkey")
    MatView.defineStar(spark, dir, Seq((dim, "o_custkey", "c_custkey")),
      dir + "-sview", Seq("c_mktsegment"), Seq("o_orderkey"))
    MatView.enableAutoMaintenance()
    try {
      // a FACT commit advances both the distinct view and the star view
      Lake.upsert(spark, dir, orders.filter(col("o_orderkey") % 2 === 0))
      assert(MatView.getDistinct(dir + "-dview").exists(_.builtVersion == 2L))
      assert(MatView.getStar(dir, Seq(dim)).exists(_.builtVersion == 2L))
      // a DIMENSION commit advances the star view's dim pin
      Lake.upsert(spark, dim, Lake.read(spark, dim)
        .filter(col("c_custkey") % 5 === 0)
        .withColumn("c_mktsegment", lit("MOVED")))
      assert(MatView.getStar(dir, Seq(dim))
        .exists(_.dims.head.dimVersion == Lake.latestVersion(dim)))
      // and the star query serves direct against the churned dim
      val q = lakeDf(dir)
        .join(lakeDf(dim), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"))
      assert(kindOf(q, dir) === "direct-join")
    } finally {
      MatView.disableAutoMaintenance()
      MatView.unregister(dir)
      MatView.unregisterDistinct(dir + "-dview")
      MatView.unregisterStar(dir, Seq(dim))
    }
  }

  test("a failed advance degrades to the compensation serve, never the writer") {
    import spark.implicits._
    val dir = fresh("fail")
    Lake.create(Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("id", "grp", "v"),
      dir, "id", targetFiles = 1)
    MatView.define(spark, dir, dir + "-view", Seq("grp"), Seq("v"))
    MatView.enableAutoMaintenance()
    try {
      // a NULL group value makes refresh refuse (it cannot key the
      // view table) — the WRITE must still succeed
      Lake.upsert(spark, dir,
        Seq((3L, null.asInstanceOf[String], 7L)).toDF("id", "grp", "v"))
      assert(Lake.latestVersion(dir) === 2L, "writer must not fail")
      assert(MatView.get(dir).exists(_.builtVersion == 1L),
        "the view stays at its old pin")
      val Some((_, outcome)) = Option(MatView.lastMaintenance.get())
      assert(outcome.contains("FAILED"))
      // the query still answers EXACTLY via compensation
      val q = lakeDf(dir).groupBy(col("grp")).agg(sum(col("v")).as("s"))
      assert(kindOf(q, dir) === "compensated")
      assert(q.orderBy(col("grp").asc_nulls_first).collect().map(r =>
        (Option(r.getString(0)), r.getLong(1))).toSeq ===
        Seq((None, 7L), (Some("a"), 10L), (Some("b"), 20L)))
    } finally {
      MatView.disableAutoMaintenance()
      MatView.unregister(dir)
    }
  }

  test("every_n debounces: below-budget commits leave the view stale " +
      "(compensation serves exactly), the Nth commit advances it") {
    import spark.implicits._
    val dir = fresh("debounce")
    Lake.create(Seq((1L, "a", 10L)).toDF("id", "grp", "v"), dir, "id",
      targetFiles = 1)
    MatView.define(spark, dir, dir + "-view", Seq("grp"), Seq("v"))
    MatView.enableAutoMaintenance(MatView.MaintainPolicy(everyN = 2))
    try {
      Lake.upsert(spark, dir, Seq((2L, "b", 20L)).toDF("id", "grp", "v"))
      assert(MatView.get(dir).exists(_.builtVersion == 1L),
        "commit 1 of 2 must not trigger a pass")
      val q1 = lakeDf(dir).groupBy(col("grp")).agg(sum(col("v")).as("s"))
      assert(kindOf(q1, dir) === "compensated")
      assert(q1.orderBy("grp").collect().map(r =>
        (r.getString(0), r.getLong(1))).toSeq === Seq(("a", 10L), ("b", 20L)))
      Lake.upsert(spark, dir, Seq((3L, "a", 5L)).toDF("id", "grp", "v"))
      assert(MatView.get(dir).exists(_.builtVersion == 3L),
        "commit 2 of 2 triggers the pass, to the HEAD (both commits)")
      assert(MatView.maintenancePasses(dir) === 1L)
      val q2 = lakeDf(dir).groupBy(col("grp")).agg(sum(col("v")).as("s"))
      assert(kindOf(q2, dir) === "direct")
      // a burst of 4 more: exactly 2 further passes
      (4L to 7L).foreach(i =>
        Lake.upsert(spark, dir, Seq((i, "b", i)).toDF("id", "grp", "v")))
      assert(MatView.maintenancePasses(dir) === 3L)
    } finally {
      MatView.disableAutoMaintenance()
      MatView.unregister(dir)
    }
  }

  test("async policy: passes run on the maintenance executor, not the " +
      "writer's thread; the drained state serves direct") {
    import spark.implicits._
    val dir = fresh("async")
    Lake.create(Seq((1L, "a", 10L)).toDF("id", "grp", "v"), dir, "id",
      targetFiles = 1)
    MatView.define(spark, dir, dir + "-view", Seq("grp"), Seq("v"))
    MatView.enableAutoMaintenance(MatView.MaintainPolicy(async = true))
    try {
      MatView.lastMaintenance.set(null)
      Lake.upsert(spark, dir, Seq((2L, "b", 20L)).toDF("id", "grp", "v"))
      // writer-visible latency excludes dependent-view work: whatever
      // runs, runs on the executor thread — the record carries the
      // thread name, and it is never this (the writer's) thread
      MatView.awaitMaintenance()
      val Some((d, outcome)) = Option(MatView.lastMaintenance.get())
      assert(d === dir)
      assert(outcome.startsWith("[graft-mv-maintenance"),
        s"pass must run on the maintenance executor, got: $outcome")
      assert(!outcome.contains(Thread.currentThread().getName))
      assert(MatView.get(dir).exists(_.builtVersion == 2L))
      val q = lakeDf(dir).groupBy(col("grp")).agg(sum(col("v")).as("s"))
      assert(kindOf(q, dir) === "direct")
      assert(q.orderBy("grp").collect().map(r =>
        (r.getString(0), r.getLong(1))).toSeq === Seq(("a", 10L), ("b", 20L)))
    } finally {
      MatView.disableAutoMaintenance()
      MatView.unregister(dir)
    }
  }

  test("an async pass that throws surfaces from awaitMaintenance, once") {
    import spark.implicits._
    val dir = fresh("asyncfail")
    Lake.create(Seq((1L, "a", 10L)).toDF("id", "grp", "v"), dir, "id",
      targetFiles = 1)
    MatView.define(spark, dir, dir + "-view", Seq("grp"), Seq("v"))
    MatView.enableAutoMaintenance(MatView.MaintainPolicy(async = true))
    // the pass throws before it touches data, outside runPass's
    // per-view containment
    MatView.passGate.set(new java.util.concurrent.CountDownLatch(0) {
      override def await(t: Long, u: java.util.concurrent.TimeUnit): Boolean =
        throw new IllegalArgumentException("injected pass failure")
    })
    try {
      Lake.upsert(spark, dir, Seq((2L, "b", 20L)).toDF("id", "grp", "v"))
      assert(Lake.latestVersion(dir) === 2L, "writer must not fail")
      val e = intercept[IllegalStateException](MatView.awaitMaintenance())
      assert(e.getMessage.contains(dir))
      assert(e.getCause.getMessage === "injected pass failure")
      assert(MatView.get(dir).exists(_.builtVersion == 1L))
      MatView.awaitMaintenance() // reported once, then cleared
    } finally {
      MatView.passGate.set(null)
      MatView.disableAutoMaintenance()
      MatView.unregister(dir)
    }
  }

  test("independent sources' passes OVERLAP on the bounded pool; " +
      "per-source ordering holds (round 14)") {
    import spark.implicits._
    val dirs = (0 until 3).map(i => fresh(s"par$i"))
    dirs.foreach { d =>
      Lake.create(Seq((1L, "a", 10L)).toDF("id", "grp", "v"), d, "id",
        targetFiles = 1)
      MatView.define(spark, d, d + "-view", Seq("grp"), Seq("v"))
    }
    MatView.enableAutoMaintenance(
      MatView.MaintainPolicy(async = true, workers = 4))
    val gate = new java.util.concurrent.CountDownLatch(1)
    MatView.passGate.set(gate)
    try {
      // three commits to three INDEPENDENT sources: each schedules its
      // own pass; the gate holds every started pass so the overlap is
      // observed deterministically instead of racing pass duration
      dirs.foreach(d =>
        Lake.upsert(spark, d, Seq((2L, "b", 20L)).toDF("id", "grp", "v")))
      val deadline = System.nanoTime() + 15L * 1000000000L
      while (MatView.maintenanceOverlap < 3 && System.nanoTime() < deadline)
        Thread.sleep(5)
      assert(MatView.maintenanceOverlap >= 3,
        "three independent sources must run their passes concurrently")
      MatView.passGate.set(null)
      gate.countDown()
      MatView.awaitMaintenance()
      assert(MatView.maintenanceOrderingViolations === 0L)
      dirs.foreach { d =>
        assert(MatView.get(d).exists(_.builtVersion == 2L), s"$d fresh")
        val q = lakeDf(d).groupBy(col("grp")).agg(sum(col("v")).as("s"))
        assert(kindOf(q, d) === "direct")
        assert(q.orderBy("grp").collect().map(r =>
          (r.getString(0), r.getLong(1))).toSeq ===
          Seq(("a", 10L), ("b", 20L)))
      }
    } finally {
      MatView.passGate.set(null)
      gate.countDown()
      MatView.disableAutoMaintenance()
      dirs.foreach(MatView.unregister)
    }
  }

  test("a commit landing DURING a source's pass marks it dirty: exactly " +
      "one follow-up pass, never a concurrent second pass") {
    import spark.implicits._
    val dir = fresh("dirty")
    Lake.create(Seq((1L, "a", 10L)).toDF("id", "grp", "v"), dir, "id",
      targetFiles = 1)
    MatView.define(spark, dir, dir + "-view", Seq("grp"), Seq("v"))
    MatView.enableAutoMaintenance(
      MatView.MaintainPolicy(async = true, workers = 4))
    val gate = new java.util.concurrent.CountDownLatch(1)
    MatView.passGate.set(gate)
    try {
      Lake.upsert(spark, dir, Seq((2L, "b", 20L)).toDF("id", "grp", "v"))
      // wait for pass 1 to START (held at the gate = mid-pass)
      val deadline = System.nanoTime() + 15L * 1000000000L
      while (MatView.maintenanceOverlap < 1 && System.nanoTime() < deadline)
        Thread.sleep(5)
      // three more commits while the pass is in flight: they collapse
      // into ONE dirty re-queue, and no second pass starts concurrently
      (3L to 5L).foreach(i =>
        Lake.upsert(spark, dir, Seq((i, "a", i)).toDF("id", "grp", "v")))
      MatView.passGate.set(null)
      gate.countDown()
      MatView.awaitMaintenance()
      assert(MatView.maintenanceOrderingViolations === 0L)
      assert(MatView.maintenancePasses(dir) === 2L,
        "one held pass + exactly one dirty follow-up")
      assert(MatView.get(dir).exists(
        _.builtVersion == Lake.latestVersion(dir)))
      val q = lakeDf(dir).groupBy(col("grp")).agg(sum(col("v")).as("s"))
      assert(kindOf(q, dir) === "direct")
      assert(q.orderBy("grp").collect().map(r =>
        (r.getString(0), r.getLong(1))).toSeq ===
        Seq(("a", 22L), ("b", 20L)))
    } finally {
      MatView.passGate.set(null)
      gate.countDown()
      MatView.disableAutoMaintenance()
      MatView.unregister(dir)
    }
  }

  test("maxLagMs: a slow-trickle writer's debounced commit advances " +
      "after the lag expires (injected clock), not 10 commits later") {
    import spark.implicits._
    val dir = fresh("lag")
    Lake.create(Seq((1L, "a", 10L)).toDF("id", "grp", "v"), dir, "id",
      targetFiles = 1)
    MatView.define(spark, dir, dir + "-view", Seq("grp"), Seq("v"))
    @volatile var now = 1000000L
    MatView.maintenanceClock = () => now
    MatView.enableAutoMaintenance(MatView.MaintainPolicy(
      everyN = 10, async = true, maxLagMs = Some(60000L)))
    try {
      Lake.upsert(spark, dir, Seq((2L, "b", 20L)).toDF("id", "grp", "v"))
      MatView.awaitMaintenance()
      assert(MatView.get(dir).exists(_.builtVersion == 1L),
        "commit 1 of 10 is debounced — view stays at the old pin")
      // the lag has not expired: poke is a no-op
      now += 59999L
      MatView.pokeMaintenance()
      MatView.awaitMaintenance()
      assert(MatView.maintenancePasses(dir) === 0L)
      // expiry: the pending source gets its pass without another commit
      now += 2L
      MatView.pokeMaintenance()
      MatView.awaitMaintenance()
      assert(MatView.maintenancePasses(dir) === 1L)
      assert(MatView.get(dir).exists(_.builtVersion == 2L))
      val q = lakeDf(dir).groupBy(col("grp")).agg(sum(col("v")).as("s"))
      assert(kindOf(q, dir) === "direct")
      // an everyN-boundary pass CLEARS the pending lag: no double pass
      (3L to 11L).foreach(i =>
        Lake.upsert(spark, dir, Seq((i, "a", i)).toDF("id", "grp", "v")))
      MatView.awaitMaintenance()
      val after = MatView.maintenancePasses(dir)
      now += 120000L
      MatView.pokeMaintenance()
      MatView.awaitMaintenance()
      assert(MatView.maintenancePasses(dir) === after,
        "a cleared lag must not fire a stale extra pass")
    } finally {
      MatView.maintenanceClock = () => System.currentTimeMillis()
      MatView.disableAutoMaintenance()
      MatView.unregister(dir)
    }
  }

  test("disabled by default: commits without enable leave views stale") {
    import spark.implicits._
    val dir = fresh("off")
    Lake.create(Seq((1L, "a", 10L)).toDF("id", "grp", "v"), dir, "id",
      targetFiles = 1)
    MatView.define(spark, dir, dir + "-view", Seq("grp"), Seq("v"))
    try {
      Lake.upsert(spark, dir, Seq((2L, "b", 20L)).toDF("id", "grp", "v"))
      assert(MatView.get(dir).exists(_.builtVersion == 1L),
        "no auto-advance without enableAutoMaintenance")
      val q = lakeDf(dir).groupBy(col("grp")).agg(sum(col("v")).as("s"))
      assert(kindOf(q, dir) === "compensated")
    } finally MatView.unregister(dir)
  }
}
