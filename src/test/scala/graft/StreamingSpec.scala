package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.streaming.EventStream
import graft.streaming.EventStream.Event

/** X6 streaming: windowed aggregation with watermark + stateful
  * sessionizer, driven synchronously via MemoryStream. */
class StreamingSpec extends SparkSpec {

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 00:$minute%02d:00")
  private def tsHM(hour: Int, minute: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 $hour%02d:$minute%02d:00")

  test("streaming tumbling window counts with watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = EventStream.windowedCounts(mem.toDF())
      .writeStream.outputMode("complete").format("memory").queryName("wc").start()
    try {
      mem.addData(
        Event(1, ts(1), 10, "click", 1.0),
        Event(2, ts(2), 10, "click", 2.0),
        Event(3, ts(7), 11, "view", 3.0))
      q.processAllAvailable()
      val rows = spark.table("wc").collect()
      assert(rows.length === 2) // [00:00,00:05) clicks ×2, [00:05,00:10) view ×1
      val clicks = rows.find(_.getAs[String]("event_type") == "click").get
      assert(clicks.getAs[Long]("n") === 2L)
      assert(clicks.getAs[Double]("sum_value") === 3.0)
    } finally q.stop()
  }

  test("watermark drops late data in append mode") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = EventStream.windowedCounts(mem.toDF())
      .writeStream.outputMode("append").format("memory").queryName("late").start()
    try {
      // batch 1: events at 00:01 and 00:02
      mem.addData(Event(1, ts(1), 1, "click", 1.0), Event(2, ts(2), 1, "click", 1.0))
      q.processAllAvailable()
      // batch 2: event at 01:00 advances the watermark to 00:50,
      // finalizing (and emitting) the [00:00,00:05) window
      mem.addData(Event(3, tsHM(1, 0), 1, "view", 1.0))
      q.processAllAvailable()
      val afterAdvance = spark.table("late").collect()
      assert(afterAdvance.exists(r => r.getAs[Long]("n") == 2L))
      // batch 3: a LATE click at 00:03 — behind the watermark → dropped
      mem.addData(Event(4, ts(3), 1, "click", 99.0))
      q.processAllAvailable()
      val finalRows = spark.table("late").collect()
      assert(finalRows.count(r => r.getAs[String]("event_type") == "click" &&
        r.getAs[Long]("n") == 2L) === 1) // unchanged: late row did not reopen it
      assert(!finalRows.exists(r => r.getAs[Double]("sum_value") == 99.0 ||
        r.getAs[Double]("sum_value") == 101.0))
    } finally q.stop()
  }

  test("stateful sessionizer emits closed sessions across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    // idleTimeout=false: processAllAvailable never quiesces with an
    // armed processing-time timeout (the production default)
    val q = EventStream.sessionize(mem.toDS(), idleTimeout = false)
      .writeStream.outputMode("append").format("memory").queryName("sess").start()
    try {
      mem.addData(
        Event(1, ts(0), 1, "click", 1.0),
        Event(2, ts(10), 1, "click", 2.0)) // same session (gap 10m)
      q.processAllAvailable()
      assert(spark.table("sess").count() === 0) // session still open
      mem.addData(Event(3, tsHM(2, 0), 1, "click", 5.0)) // gap 110m → closes
      q.processAllAvailable()
      val closed = spark.table("sess").collect()
      assert(closed.length === 1)
      assert(closed.head.getAs[Long]("n_events") === 2L)
      assert(closed.head.getAs[Double]("sum_value") === 3.0)
    } finally q.stop()
  }

  test("stream-stream interval join attributes errors to recent clicks") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = EventStream.errorsNearClicks(mem.toDF())
      .writeStream.outputMode("append").format("memory").queryName("ssj").start()
    try {
      mem.addData(
        Event(1, ts(0), 1, "click", 5.0),   // within 30m of the error
        Event(2, ts(20), 1, "error", 0.0),  // joins to click@00:00
        Event(3, ts(1), 2, "click", 7.0),   // different user
        Event(4, tsHM(2, 0), 3, "view", 0.0)) // advances both watermarks
      q.processAllAvailable()
      mem.addData(Event(5, tsHM(3, 0), 9, "view", 0.0)) // push watermark past join window
      q.processAllAvailable()
      val rows = spark.table("ssj").collect()
      assert(rows.length === 1)
      assert(rows.head.getAs[Long]("user_id") === 1L)
      assert(rows.head.getAs[Double]("click_value") === 5.0)
    } finally q.stop()
  }

  test("batch and streaming window aggregation agree on events table") {
    val sf = "/root/testdata/sf0.001"
    val batch = graft.ext.EventWindows.tumbling(spark, sf)
    assert(batch.count() > 0)
    // same window expression, streaming source, complete mode
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[Event]
    val events = Tables.events(spark, sf)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      .as[Event].collect()
    val q = EventStream.windowedCounts(mem.toDF())
      .writeStream.outputMode("complete").format("memory").queryName("agree").start()
    try {
      mem.addData(events.toSeq)
      q.processAllAvailable()
      val streamed = spark.table("agree")
        .agg(sum("n")).head().getLong(0)
      assert(streamed === events.length.toLong)
    } finally q.stop()
  }

  test("x6_stream_tumbling: readStream -> land -> read-back equals the batch query bit-for-bit") {
    val sf = "/root/testdata/sf0.001"
    val batch = graft.ext.EventWindows.tumbling(spark, sf).collect()
    val streamed = EventStream.streamedTumbling(spark, sf).collect()
    assert(batch.nonEmpty && streamed.sameElements(batch),
      s"streamed landing diverged from batch (${streamed.length} vs ${batch.length} rows)")
    // the chronological multi-file source + maxFilesPerTrigger=1 must
    // yield a REAL multi-batch run (VERDICT r7 #2): the landing layout
    // carries one batch_id=N partition per micro-batch
    val landed = new java.io.File(
      graft.Scratch.dir(spark, "stream-land", sf), "landed")
    val batchDirs = Option(landed.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.startsWith("batch_id=")).map(_.getName).toSet
    assert(batchDirs.size > 1,
      s"expected >1 micro-batch partitions under the driver gate, got $batchDirs")
    // and a SECOND invocation (stale scratch from the first) is
    // idempotent — the wipe-together contract
    val again = EventStream.streamedTumbling(spark, sf).collect()
    assert(again.sameElements(batch))
  }

  test("x6_stream_lake: multi-batch ingest commits one exactly-once version per micro-batch") {
    val sf = "/root/testdata/sf0.001"
    EventStream.streamedLakeIngest(spark, sf).collect()
    val tableDir = new java.io.File(
      graft.Scratch.dir(spark, "stream-lake", sf), "table").getAbsolutePath
    val latest = graft.lake.Lake.latestVersion(tableDir)
    assert(latest > 1L,
      s"chronological multi-file source must commit >1 lake versions, got $latest")
    // every committed version carries the sink's replay marker chain:
    // the newest (appId -> batchId) marker equals version - 1 (batch
    // ids are 0-based), pinning exactly-once ACROSS micro-batches
    val m = graft.lake.Lake.manifest(tableDir, latest)
    assert(m.txns.get("events-ingest").contains(latest - 1L),
      s"txn marker chain broken: version $latest, txns ${m.txns}")
  }

  test("x6_stream_recovery: kill + commit-drop + restart reloads state and replays exactly once") {
    val sf = "/root/testdata/sf0.001"
    val out = EventStream.streamedRecovery(spark, sf).collect()
    val tableDir = new java.io.File(
      graft.Scratch.dir(spark, "stream-recover", sf), "table").getAbsolutePath
    // one lake version per micro-batch, NONE duplicated by the replay
    val latest = graft.lake.Lake.latestVersion(tableDir)
    assert(latest === graft.streaming.StreamSource.NumFiles.toLong,
      s"expected exactly one version per micro-batch, got $latest")
    // the final per-hour counts equal the batch aggregate — a lost
    // state store would leave the kill-boundary window partial
    val batch = Tables.events(spark, sf)
      .groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("n"))
      .select(unix_timestamp(col("window.start")).as("ws"), col("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val streamed = out.map(r =>
      r.getLong(r.fieldIndex("window_start")) ->
        r.getLong(r.fieldIndex("n_events"))).toMap
    assert(streamed === batch,
      s"recovered stream diverged from batch on ${
        (streamed.toSet diff batch.toSet).take(3)} ...")
  }

  test("crash recovery (deterministic): the dropped commit's batch re-runs and its sink txn no-ops") {
    val sf = "/root/testdata/sf0.001"
    // pin the batch COUNT deterministic: under host load the engine
    // may insert a no-data micro-batch to advance the watermark, which
    // bumps the sink's txn marker past the asserted batch ids (seen
    // once in a contended full-suite run; the landed DATA is identical
    // either way). Data batches alone are what this test counts.
    val noDataPrior = spark.conf
      .get("spark.sql.streaming.noDataMicroBatches.enabled")
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    try {
    // private two-file source: phase 1 deterministically lands batches
    // 0..1, the crash drops commit 1, phase 2 (files 3..4 added)
    // replays batch 1 and continues
    val base = graft.Scratch.dir(spark, "stream-recover-spec", sf)
    graft.Scratch.rm(base)
    val srcAll = graft.streaming.StreamSource.chronological(spark, sf, "events", "ts")
    val parts = Option(new java.io.File(srcAll).listFiles()).get
      .filter(_.getName.startsWith("part-")).sortBy(_.getName)
    assert(parts.length === graft.streaming.StreamSource.NumFiles)
    val srcDir = new java.io.File(base, "src"); srcDir.mkdirs()
    val tableDir = new java.io.File(base, "table").getAbsolutePath
    val checkpoint = new java.io.File(base, "checkpoint").getAbsolutePath
    def addFiles(fs: Seq[java.io.File]): Unit = fs.foreach { f =>
      java.nio.file.Files.copy(f.toPath,
        new java.io.File(srcDir, f.getName).toPath)
      ()
    }
    val schema = spark.read.parquet(srcAll).schema
    def runToCompletion(): Unit = {
      val q = EventStream.recoveryPipeline(spark, srcDir.getAbsolutePath,
          schema, tableDir)
        .outputMode("update")
        .option("checkpointLocation", checkpoint)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try q.awaitTermination() finally if (q.isActive) q.stop()
    }
    addFiles(parts.take(2))
    runToCompletion() // batches 0, 1
    assert(graft.lake.Lake.latestVersion(tableDir) === 2L)
    val markerBefore = graft.lake.Lake.manifest(tableDir, 2L).txns("events-recovery")
    assert(markerBefore === 1L)
    EventStream.crashLastCommit(checkpoint)
    addFiles(parts.drop(2))
    runToCompletion() // replays batch 1 (no-op sink txn), then 2, 3
    val latest = graft.lake.Lake.latestVersion(tableDir)
    assert(latest === 4L,
      s"replayed batch must commit NOTHING; expected 4 versions, got $latest")
    assert(graft.lake.Lake.manifest(tableDir, latest)
      .txns("events-recovery") === 3L)
    // all four micro-batches recorded in the restarted commit log
    val commits = Option(new java.io.File(checkpoint, "commits").listFiles())
      .get.filter(_.getName.forall(_.isDigit)).map(_.getName.toLong).sorted
    assert(commits.toSeq === Seq(0L, 1L, 2L, 3L),
      s"commit log after kill/restart: ${commits.toSeq}")
    } finally spark.conf.set(
      "spark.sql.streaming.noDataMicroBatches.enabled", noDataPrior)
  }

  test("x6_stream_session: watermark-finalized landing + tail completion equals batch sessionize") {
    val sf = "/root/testdata/sf0.001"
    val batch = SparkEntry.queries("x6_session_window")(spark, sf).collect()
    val streamed = EventStream.streamedSessions(spark, sf).collect()
    assert(batch.nonEmpty && streamed.sameElements(batch),
      s"streamed sessions diverged from batch (${streamed.length} vs ${batch.length} rows)")
    // the STREAMING path must have finalized the bulk of the sessions —
    // a broken watermark that finalizes nothing would leave the batch
    // tail to produce the whole (still hash-correct) answer
    val landed = spark.read.parquet(new java.io.File(
      graft.Scratch.dir(spark, "stream-session", sf), "landed").getAbsolutePath)
    assert(landed.count() > batch.length / 2,
      s"watermark finalization landed only ${landed.count()} of ${batch.length} sessions")
  }

  test("x6_stream_join: stream-stream binned interval join equals the batch range join") {
    val sf = "/root/testdata/sf0.001"
    val batch = graft.analytics.RangeJoin.errorClickImpact(spark, sf).collect()
    val streamed = EventStream.streamedIntervalJoin(spark, sf).collect()
    assert(batch.nonEmpty && streamed.sameElements(batch),
      s"streamed join diverged from batch (${streamed.length} vs ${batch.length} rows)")
  }

  test("x6_stream_hll: sketch registers merge across micro-batches bit-for-bit") {
    val sf = "/root/testdata/sf0.001"
    val batch = SparkEntry.queries("x4_hll_distinct")(spark, sf).collect()
    val streamed = graft.streaming.DocStream.streamedHll(spark, sf).collect()
    assert(batch.nonEmpty && streamed.sameElements(batch),
      s"stream-merged HLL diverged (${streamed.length} vs ${batch.length} rows)")
    // several update-mode batches actually landed: the merge property
    // was exercised, not a single-batch recomputation
    val landed = new java.io.File(
      graft.Scratch.dir(spark, "stream-hll", sf), "landed")
    val batchDirs = Option(landed.listFiles()).getOrElse(Array.empty)
      .count(_.getName.startsWith("batch_id="))
    assert(batchDirs > 1, s"expected >1 update-mode micro-batches, got $batchDirs")
  }

  test("x6_stream_attribution: transformWithState touch state survives micro-batch boundaries") {
    val sf = "/root/testdata/sf0.001"
    val batch = SparkEntry.queries("x6_attribution")(spark, sf).collect()
    val streamed = EventStream.streamedAttribution(spark, sf).collect()
    assert(batch.nonEmpty && streamed.sameElements(batch),
      s"streamed attribution diverged (${streamed.length} vs ${batch.length} rows)")
    // multi-batch actually happened: the landing carries several
    // batch_id partitions, so touches credited purchases ACROSS them
    val landed = new java.io.File(
      graft.Scratch.dir(spark, "stream-attr", sf), "landed")
    val batchDirs = Option(landed.listFiles()).getOrElse(Array.empty)
      .count(_.getName.startsWith("batch_id="))
    assert(batchDirs > 1, s"expected >1 micro-batches, got $batchDirs")
  }

  test("x6_stream_join_outer: the STREAM emits zero-match rows at expiry; tail completes the rest") {
    val sf = "/root/testdata/sf0.001"
    val batch = graft.analytics.RangeJoin.errorClickImpact(spark, sf).collect()
    val streamed = EventStream.streamedIntervalJoinOuter(spark, sf).collect()
    assert(batch.nonEmpty && streamed.sameElements(batch),
      s"outer streamed join diverged (${streamed.length} vs ${batch.length} rows)")
    // the landed output must contain stream-finalized NULL rows for
    // the majority of zero-match errors — otherwise the whole outer
    // semantic was produced by the relational tail and the streaming
    // path proved nothing
    val landed = spark.read.parquet(new java.io.File(
      graft.Scratch.dir(spark, "stream-join-outer", sf), "landed").getAbsolutePath)
    val streamNulls = landed.filter(col("click_value").isNull)
      .select(col("err_id")).distinct().count()
    val zeroMatch = batch.count(_.getLong(1) == 0L)
    assert(zeroMatch > 0 && streamNulls > zeroMatch / 2,
      s"stream finalized only $streamNulls of $zeroMatch zero-match errors")
  }

  test("streaming session windows equal the registered batch query bit-for-bit") {
    val sf = "/root/testdata/sf0.001"
    val batch = SparkEntry.queries("x6_session_window")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(batch.nonEmpty)
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val events = Tables.events(spark, sf)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      .as[Event].collect()
    val maxMs = events.map(_.ts.getTime).max
    val mem = MemoryStream[Event]
    val q = EventStream.sessionAggregate(mem.toDF())
      .writeStream.outputMode("append").format("memory").queryName("sessagree").start()
    try {
      mem.addData(events.toSeq)
      q.processAllAvailable()
      // append mode only emits sessions the watermark has sealed; two
      // sentinel batches push the watermark far past every real session
      // (watermark for batch N is computed from batch N-1's max event)
      mem.addData(Event(-1, new Timestamp(maxMs + 11 * 3600 * 1000L), -999L, "sentinel", 0.0))
      q.processAllAvailable()
      mem.addData(Event(-2, new Timestamp(maxMs + 22 * 3600 * 1000L), -998L, "sentinel", 0.0))
      q.processAllAvailable()
      val streamed = spark.table("sessagree").filter(col("user_id") >= 0L).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
      assert(streamed === batch,
        s"stream/batch session divergence: only-stream=${(streamed -- batch).take(3)} " +
          s"only-batch=${(batch -- streamed).take(3)}")
    } finally q.stop()
  }

  test("streaming exact dedup drops re-arrivals within the watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, String)]
    val docs = mem.toDF().toDF("doc_id", "ts", "text")
    val q = EventStream.dedupStream(docs)
      .writeStream.outputMode("append").format("memory").queryName("dd").start()
    try {
      mem.addData((1L, ts(1), "alpha"), (2L, ts(2), "beta"))
      q.processAllAvailable()
      // same text re-arrives in a later batch, inside the watermark
      mem.addData((3L, ts(3), "alpha"), (4L, ts(4), "gamma"))
      q.processAllAvailable()
      val ids = spark.table("dd").select("doc_id").collect().map(_.getLong(0)).toSet
      assert(ids === Set(1L, 2L, 4L), "first copies kept, duplicate doc 3 dropped")
    } finally q.stop()
  }

  test("streaming dedup equals the registered x1_exact_dedup batch query bit-for-bit") {
    // The registered batch query doubles the corpus with an id-shifted
    // copy and keeps the lowest doc_id per text. Stream the SAME doubled
    // corpus through dropDuplicatesWithinWatermark — originals in batch 1,
    // shifted copies in batch 2 (inside the watermark) — and the stream's
    // keep-first-arrival semantics must reproduce the batch result
    // exactly: testdata texts are unique, so batch 1 has no intra-batch
    // duplicates and every batch-2 copy is a within-watermark re-arrival.
    val sf = "/root/testdata/sf0.001"
    val batch = SparkEntry.queries("x1_exact_dedup")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3))).toSet
    assert(batch.nonEmpty)
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text"), col("lang"), col("source")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3)))
    val shift = base.map(_._1).max + 1
    val mem = MemoryStream[(Long, Timestamp, String, String, String)]
    val docs = mem.toDF().toDF("doc_id", "ts", "text", "lang", "source")
    val q = EventStream.dedupStream(docs)
      .select(col("doc_id"), col("lang"), col("source"), col("text_md5"))
      .writeStream.outputMode("append").format("memory").queryName("x1agree").start()
    try {
      mem.addData(base.map { case (id, t, l, s) => (id, ts(1), t, l, s) }.toSeq)
      q.processAllAvailable()
      mem.addData(base.map { case (id, t, l, s) => (id + shift, ts(2), t, l, s) }.toSeq)
      q.processAllAvailable()
      val streamed = spark.table("x1agree").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3))).toSet
      assert(streamed === batch,
        s"stream/batch dedup divergence: only-stream=${(streamed -- batch).take(3)} " +
          s"only-batch=${(batch -- streamed).take(3)}")
    } finally q.stop()
  }

  test("streaming attribution equals the registered x6_attribution batch query") {
    // same corpus, split into two event-time-ordered micro-batches at
    // the global median so touch state must survive the batch boundary;
    // streamed per-purchase rows aggregated by channel with the same
    // DECIMAL(18,2) arithmetic must equal the batch query bit-for-bit
    val sf = "/root/testdata/sf0.001"
    val batch = graft.ext.EventWindows.attribution(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1),
        BigDecimal(r.getDouble(2)).setScale(2, BigDecimal.RoundingMode.HALF_UP))).toMap
    assert(batch.nonEmpty)
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val conf = spark.conf
    val prev = conf.getOption("spark.sql.streaming.stateStore.providerClass")
    conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val events = Tables.events(spark, sf)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      .as[Event].collect().sortBy(_.ts.getTime)
    val mid = events(events.length / 2).ts.getTime
    val mem = MemoryStream[Event]
    val q = EventStream.attributionStream(mem.toDS())
      .writeStream.outputMode("append").format("memory").queryName("attragree").start()
    try {
      mem.addData(events.filter(_.ts.getTime <= mid).toSeq)
      q.processAllAvailable()
      mem.addData(events.filter(_.ts.getTime > mid).toSeq)
      q.processAllAvailable()
      val streamed = spark.table("attragree").collect()
        .map(r => (r.getString(1), r.getDouble(2)))
        .groupBy(_._1)
        .map { case (ch, rows) =>
          ch -> (rows.length.toLong,
            rows.map(r => BigDecimal(r._2).setScale(2, BigDecimal.RoundingMode.HALF_UP)).sum)
        }
      assert(streamed === batch,
        s"stream/batch attribution divergence: stream=$streamed batch=$batch")
    } finally {
      q.stop()
      prev match {
        case Some(v) => conf.set("spark.sql.streaming.stateStore.providerClass", v)
        case None => conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("transformWithState keeps running per-user totals across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val conf = spark.conf
    val prev = conf.getOption("spark.sql.streaming.stateStore.providerClass")
    conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val mem = MemoryStream[Event]
    val q = EventStream.spendTotals(mem.toDS())
      .writeStream.outputMode("update").format("memory").queryName("tws").start()
    try {
      mem.addData(Event(1, ts(1), 10, "purchase", 5.0), Event(2, ts(2), 10, "purchase", 7.0))
      q.processAllAvailable()
      mem.addData(Event(3, ts(3), 10, "purchase", 1.5), Event(4, ts(4), 20, "purchase", 2.0))
      q.processAllAvailable()
      val last = spark.table("tws").collect()
        .groupBy(_.getAs[Long]("user_id"))
        .map { case (u, rows) => u -> rows.maxBy(_.getAs[Long]("n_events")) }
      assert(last(10L).getAs[Long]("n_events") === 3L)
      assert(last(10L).getAs[Double]("total_value") === 13.5)
      assert(last(20L).getAs[Long]("n_events") === 1L)
      assert(last(20L).getAs[Double]("total_value") === 2.0)
    } finally {
      q.stop()
      prev match {
        case Some(v) => conf.set("spark.sql.streaming.stateStore.providerClass", v)
        case None => conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("streaming near-dup detects cross-batch simhash twins; far docs stay clean") {
    import spark.implicits._
    import graft.streaming.DocStream
    implicit val sqlCtx = spark.sqlContext
    val base = "the quick brown fox jumps over the lazy dog " * 8
    val twin = base.dropRight(2) + "x " // tail tweak → simhash hamming = 3
    val other = "completely different content about spark shuffles " * 8
    val mem = MemoryStream[DocStream.DocRow]
    val q = DocStream.nearDupStream(mem.toDF(), "10 minutes")
      .writeStream.outputMode("append").format("memory").queryName("nd").start()
    try {
      mem.addData(DocStream.DocRow(1L, ts(1), base), DocStream.DocRow(2L, ts(2), other))
      q.processAllAvailable()
      assert(spark.table("nd").count() === 0) // batch 1: no dups yet
      mem.addData(DocStream.DocRow(3L, ts(3), twin)) // arrives in a LATER batch
      q.processAllAvailable()
      val hits = spark.table("nd").select("i", "j").distinct().as[(Long, Long)].collect()
      assert(hits.toSet === Set((1L, 3L))) // twin found across batches, other not
    } finally q.stop()
  }

  test("streaming near-dup state expires with the watermark (no stale matches)") {
    import spark.implicits._
    import graft.streaming.DocStream
    implicit val sqlCtx = spark.sqlContext
    val base = "state must not outlive the watermark window " * 10
    val mem = MemoryStream[DocStream.DocRow]
    val q = DocStream.nearDupStream(mem.toDF(), "10 minutes")
      .writeStream.outputMode("append").format("memory").queryName("ndexp").start()
    try {
      mem.addData(DocStream.DocRow(1L, ts(1), base))
      q.processAllAvailable()
      // advance the watermark far past doc 1 (unrelated doc at 02:00)
      mem.addData(DocStream.DocRow(2L, tsHM(2, 0), "unrelated filler text " * 10))
      q.processAllAvailable()
      // doc 1's twin arrives long after doc 1 left the window → clean
      mem.addData(DocStream.DocRow(3L, tsHM(2, 1), base))
      q.processAllAvailable()
      assert(spark.table("ndexp").count() === 0)
    } finally q.stop()
  }

  test("typed streaming simhash matches the batch expression pipeline bit-for-bit") {
    import spark.implicits._
    import graft.streaming.DocStream
    val docs = Tables.documents(spark, "/root/testdata/sf0.001").limit(100)
    val batch = graft.ext.Dedup.simhashFrame(docs)
      .select("doc_id", "simhash").as[(Long, Long)].collect().toMap
    val typed = docs.select("doc_id", "text").as[(Long, String)].collect()
      .map { case (id, t) => id -> DocStream.simhash60(t) }.toMap
    assert(typed === batch)
  }

  test("streaming HLL distinct estimate equals the batch estimate across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // cardinality must sit in the raw estimator's regime (n ≳ 10·m =
    // 2560 at p=8) — tiny universes are linear-counting territory,
    // which the oracle-parity rules keep out of HllAgg (needs ln)
    val all = (1 to 8000).map(i =>
      Event(i.toLong, ts(i % 30), (i * 37 % 5000).toLong,
        if (i % 3 == 0) "click" else "view", 1.0))
    val mem = MemoryStream[Event]
    val q = EventStream.distinctUserEstimate(mem.toDF()).writeStream
      .format("memory").queryName("hll_users").outputMode("complete").start()
    try {
      // two micro-batches: the sketch buffers must MERGE in the state
      // store, not restart — a non-mergeable aggregate would drift
      mem.addData(all.take(5000): _*)
      q.processAllAvailable()
      mem.addData(all.drop(5000): _*)
      q.processAllAvailable()
      val streamed = spark.table("hll_users")
        .as[(String, Double)].collect().toMap
      val batch = EventStream.distinctUserEstimate(all.toDF())
        .as[(String, Double)].collect().toMap
      assert(streamed === batch, "streamed sketch diverged from batch")
      // and the estimate is in range of the true distinct counts
      val exact = all.groupBy(_.event_type)
        .map { case (k, es) => k -> es.map(_.user_id).distinct.size }
      exact.foreach { case (k, n) =>
        assert(math.abs(streamed(k) - n) / n.toDouble < 0.2, s"$k: ${streamed(k)} vs $n")
      }
    } finally q.stop()
  }

  test("file-source stream restarts from checkpoint without reprocessing or loss") {
    import spark.implicits._
    // the recovery contract a production ingest relies on: stop the
    // query, land more input, restart with the SAME checkpoint — files
    // processed before the restart must not re-land (no dups), files
    // added while down must land exactly once (no loss)
    val base = java.nio.file.Files.createTempDirectory("graft-restart").toString
    val (in, out, chk) = (s"$base/in", s"$base/out", s"$base/ckpt")
    Seq(Event(1, ts(1), 10, "click", 1.0), Event(2, ts(2), 10, "view", 2.0))
      .toDF().write.mode("append").parquet(in)
    val schema = spark.read.parquet(in).schema
    val q1 = EventStream.landToParquet(
      spark.readStream.schema(schema).parquet(in), out, chk)
    try { q1.processAllAvailable() } finally q1.stop()
    assert(spark.read.parquet(out).count() === 2)
    // query is DOWN; new input arrives
    Seq(Event(3, ts(3), 11, "click", 3.0))
      .toDF().write.mode("append").parquet(in)
    val q2 = EventStream.landToParquet(
      spark.readStream.schema(schema).parquet(in), out, chk)
    try { q2.processAllAvailable() } finally q2.stop()
    val rows = spark.read.parquet(out)
    assert(rows.count() === 3, "pre-restart files reprocessed or new file lost")
    assert(rows.select("event_id").distinct().count() === 3)
    assert(rows.select("event_id").as[Long].collect().toSet === Set(1L, 2L, 3L))
  }

  test("foreachBatch landing sink is idempotent under batch replay") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("graft-land").toString
    val dir = s"$base/out"
    val mem = MemoryStream[Event]
    val q = EventStream.landToParquet(mem.toDF(), dir, s"$base/ckpt")
    try {
      mem.addData(Event(1, ts(1), 10, "click", 1.0), Event(2, ts(2), 10, "view", 2.0))
      q.processAllAvailable()
      mem.addData(Event(3, ts(3), 11, "click", 3.0))
      q.processAllAvailable()
      val n = spark.read.parquet(dir).count()
      assert(n === 3)
      // simulate the post-failure replay of batch 0: same data, same id
      val replay = Seq(
        Event(1, ts(1), 10, "click", 1.0), Event(2, ts(2), 10, "view", 2.0)).toDF()
      EventStream.landBatch(dir)(replay, 0L)
      assert(spark.read.parquet(dir).count() === 3, "replay must not duplicate")
      // both batches present, in their own partitions
      // partition-dir discovery may type batch_id INT, so go via string
      val batches = spark.read.parquet(dir)
        .select("batch_id").distinct().collect().map(_.get(0).toString.toLong).toSet
      assert(batches === Set(0L, 1L))
    } finally q.stop()
  }

  test("graft-lake-cdf source: one micro-batch per version, feed ≡ batch CDF, restart resumes") {
    import graft.lake.Lake
    val base = java.nio.file.Files.createTempDirectory("graft-cdf-src").toString
    val dir = s"$base/table"
    val orders = Tables.orders(spark, "/root/testdata/sf0.001")
    Lake.create(orders.filter(col("o_orderkey") % 3 =!= 0), dir, "o_orderkey")
    Lake.upsert(spark, dir, orders.filter(col("o_orderkey") % 3 === 0))
    Lake.delete(spark, dir,
      orders.filter(col("o_orderkey") % 11 === 0).select("o_orderkey"))
    def run(land: String, ckpt: String): Unit = {
      val q = spark.readStream.format("graft-lake-cdf")
        .option("path", dir).option("maxVersionsPerTrigger", "1").load()
        .writeStream.foreachBatch(EventStream.landBatch(land) _)
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try q.awaitTermination() finally if (q.isActive) q.stop()
    }
    val land = s"$base/land"
    run(land, s"$base/ckpt")
    val landed = spark.read.parquet(land)
    // one micro-batch per version: 3 versions → 3 landed batch ids
    assert(landed.select("batch_id").distinct().count() === 3L)
    assert(landed.select("_commit_version").distinct().count() === 3L)
    // stream feed ≡ v1-snapshot-as-inserts + the batch change feed
    val expect = Lake.read(spark, dir, 1L)
      .withColumn("_change_type", lit("insert"))
      .withColumn("_commit_version", lit(1L))
      .unionByName(Lake.changes(spark, dir, 1L))
    assert(landed.drop("batch_id").collect().map(_.toSeq).toSet
      === expect.collect().map(_.toSeq).toSet)
    // restart on the SAME checkpoint after a new commit: exactly the
    // new version streams, nothing replays
    Lake.upsert(spark, dir, orders.limit(7)
      .withColumn("o_orderpriority", lit("9-CDF-V4")))
    run(land, s"$base/ckpt")
    val after = spark.read.parquet(land)
    assert(after.select("batch_id").distinct().count() === 4L)
    assert(after.filter(col("_commit_version") === 4L)
      .filter(col("_change_type").isin("update_postimage", "insert"))
      .count() === 7L)
    assert(after.count() > landed.count())
  }

  test("graft-lake streaming SINK: declarative exactly-once keyed ingest") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.lake.Lake
    val base = java.nio.file.Files.createTempDirectory("graft-sink").toString
    val dir = s"$base/table"
    val mem = MemoryStream[Event]
    val q = mem.toDF().writeStream.format("graft-lake")
      .option("path", dir).option("key", "event_id")
      .option("checkpointLocation", s"$base/ckpt")
      .outputMode("append").start()
    try {
      mem.addData(Event(1, ts(1), 10, "click", 1.0), Event(2, ts(2), 10, "view", 2.0))
      q.processAllAvailable()
      assert(Lake.latestVersion(dir) === 1L)
      assert(Lake.read(spark, dir).count() === 2L)
      // batch 2 UPDATES key 2 and inserts key 3: upsert, not append-dup
      mem.addData(Event(2, ts(3), 10, "view", 9.0), Event(3, ts(4), 11, "click", 3.0))
      q.processAllAvailable()
      assert(Lake.latestVersion(dir) === 2L)
      val rows = Lake.read(spark, dir).orderBy("event_id").collect()
      assert(rows.length === 3)
      assert(rows(1).getAs[Double]("value") === 9.0)
    } finally q.stop()
    // exactly-once under replay: re-running an already-marked batch id
    // through the same writer identity commits NOTHING (the sink's
    // appId is checkpoint-derived, so a restarted query IS the writer)
    val before = Lake.latestVersion(dir)
    val replayed = Lake.streamUpsert(spark, dir,
      Seq(Event(9, ts(9), 9, "x", 9.0)).toDF(), "event_id",
      "sink-" + java.util.UUID.nameUUIDFromBytes(
        s"$base/ckpt".getBytes(java.nio.charset.StandardCharsets.UTF_8)).toString,
      txnVersion = 1L)
    assert(replayed === before) // marker observed → no-op
    assert(Lake.read(spark, dir).count() === 3L)
  }

  test("graft-lake streaming SINK: stateful update-mode aggregation converges") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.lake.Lake
    val base = java.nio.file.Files.createTempDirectory("graft-sink-agg").toString
    val dir = s"$base/table"
    val mem = MemoryStream[Event]
    val agg = mem.toDF()
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
    val q = agg.writeStream.format("graft-lake")
      .option("path", dir).option("key", "user_id")
      .option("checkpointLocation", s"$base/ckpt")
      .outputMode("update").start()
    try {
      mem.addData(Event(1, ts(1), 1, "click", 1.0), Event(2, ts(2), 2, "view", 2.0))
      q.processAllAvailable()
      // batch 2 touches user 1 only: state must CARRY (n=3 total), and
      // the untouched user-2 row must survive the keyed upsert
      mem.addData(Event(3, ts(3), 1, "click", 4.0), Event(4, ts(4), 1, "click", 8.0))
      q.processAllAvailable()
      val rows = Lake.read(spark, dir).orderBy("user_id").collect()
      assert(rows.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
        === Seq((1L, 3L, 13.0), (2L, 1L, 2.0)))
      assert(Lake.latestVersion(dir) === 2L) // one commit per micro-batch
    } finally q.stop()
  }

  test("graft-lake sink: STRING-keyed stateful aggregation through the sink") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.lake.Lake
    val base = java.nio.file.Files.createTempDirectory("graft-sink-str").toString
    val dir = s"$base/table"
    val mem = MemoryStream[Event]
    val agg = mem.toDF().groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"))
    val q = agg.writeStream.format("graft-lake")
      .option("path", dir).option("key", "event_type")
      .option("checkpointLocation", s"$base/ckpt")
      .outputMode("update").start()
    try {
      mem.addData(Event(1, ts(1), 1, "click", 1.0), Event(2, ts(2), 1, "view", 2.0))
      q.processAllAvailable()
      mem.addData(Event(3, ts(3), 2, "click", 3.0))
      q.processAllAvailable()
      val rows = Lake.read(spark, dir).orderBy("event_type").collect()
      assert(rows.map(r => (r.getString(0), r.getLong(1))).toSeq
        === Seq(("click", 2L), ("view", 1L)))
      // string-keyed manifest bounds are the order-preserving encoding
      val m = Lake.manifest(dir, Lake.latestVersion(dir))
      assert(m.files.filter(_.rows > 0).forall(f =>
        f.minKey >= Lake.encString("click") && f.maxKey <= Lake.encString("view")))
    } finally q.stop()
  }

  test("graft-lake streaming SINK: complete mode replaces the snapshot") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.lake.Lake
    val base = java.nio.file.Files.createTempDirectory("graft-sink-cpl").toString
    val dir = s"$base/table"
    val mem = MemoryStream[Event]
    val agg = mem.toDF().groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"))
    val q = agg.writeStream.format("graft-lake")
      .option("path", dir).option("key", "user_id")
      .option("checkpointLocation", s"$base/ckpt")
      .outputMode("complete").start()
    try {
      mem.addData(Event(1, ts(1), 7, "click", 1.0))
      q.processAllAvailable()
      mem.addData(Event(2, ts(2), 8, "view", 1.0))
      q.processAllAvailable()
      // each trigger replaced the snapshot with the FULL aggregate
      assert(Lake.latestVersion(dir) === 2L)
      val now = Lake.read(spark, dir).orderBy("user_id").collect()
      assert(now.map(r => (r.getLong(0), r.getLong(1))).toSeq
        === Seq((7L, 1L), (8L, 1L)))
      // time travel still serves the pre-replace snapshot
      assert(Lake.read(spark, dir, 1L).count() === 1L)
    } finally q.stop()
  }

  test("graft-lake streaming SINK: two racing complete-mode commits both land") {
    import spark.implicits._
    import graft.lake.Lake
    val dir = java.nio.file.Files.createTempDirectory("graft-sink-race").toString + "/table"
    Lake.create(Seq((7L, 1L)).toDF("user_id", "n"), dir, "user_id")
    // two writers, each with its own replay id, emit their complete
    // result as batch 0 behind one barrier: the loser's commit
    // conflicts, and the sink retries its exactly-once step against
    // the winner's version instead of failing the micro-batch
    val gate = new java.util.concurrent.CyclicBarrier(2)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = Seq("A" -> 10L, "B" -> 20L).map { case (id, n) =>
      val sink = new graft.sources.LakeSource().createSink(spark.sqlContext,
        Map("path" -> dir, "txnAppId" -> id), Nil,
        org.apache.spark.sql.streaming.OutputMode.Complete())
      val batch = Seq((7L, n), (8L, n)).toDF("user_id", "n")
      val t = new Thread(() => {
        try { gate.await(); sink.addBatch(0L, batch) }
        catch { case e: Throwable => errs.add(e); () }
      })
      t.start(); t
    }
    threads.foreach(_.join())
    assert(errs.isEmpty, s"racing sink commit failed: ${Option(errs.peek())}")
    assert(Lake.latestVersion(dir) === 3L)
    // the later commit re-read the earlier one: both replay markers ride it
    val txns = Lake.manifest(dir, 3L).txns
    assert(txns.get("A").contains(0L) && txns.get("B").contains(0L), txns)
    assert(Lake.read(spark, dir).count() === 2L)
  }
}
