package graft

import org.apache.spark.sql.functions._

import graft.lake.{Lake, LakeQueries}

/** The [[graft.lake.Lake]] table format's protocol contracts: snapshot
  * isolation + time travel, copy-on-write FILE SKIPPING (untouched
  * files carry forward by reference), optimistic-concurrency commit
  * conflicts, and delete-by-key. The merge ANSWER itself is
  * driver-gated through `x8_lake_upsert`'s DuckDB mirror. */
class LakeSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def freshDir(tag: String): String = {
    val d = java.nio.file.Files.createTempDirectory(s"graft-lake-$tag").toFile
    d.delete() // Lake.create requires a nonexistent/empty table root
    d.getAbsolutePath
  }

  test("create + upsert: snapshots are isolated; time travel reads v1 unchanged") {
    val dir = freshDir("tt")
    val orders = Tables.orders(spark, sf)
    val base = orders.filter(col("o_orderkey") % 3 =!= 0)
    assert(Lake.create(base, dir, "o_orderkey") === 1L)
    val v1Rows = Lake.read(spark, dir).count()
    assert(v1Rows === base.count())
    val inserts = orders.filter(col("o_orderkey") % 3 === 0)
    assert(Lake.upsert(spark, dir, inserts) === 2L)
    // current snapshot = full orders; v1 unchanged through time travel
    assert(Lake.read(spark, dir).count() === orders.count())
    assert(Lake.read(spark, dir, 1L).count() === v1Rows)
    // upsert REPLACES same-key rows (SCD1): re-upsert v1 keys with a
    // sentinel priority, count must not grow and sentinel must win
    val marked = base.withColumn("o_orderpriority", lit("9-SENTINEL"))
    assert(Lake.upsert(spark, dir, marked) === 3L)
    val v3 = Lake.read(spark, dir)
    assert(v3.count() === orders.count())
    assert(v3.filter(col("o_orderpriority") === "9-SENTINEL").count() === v1Rows)
  }

  test("upsert rewrites ONLY intersecting files; others carry forward by reference") {
    val dir = freshDir("skip")
    val orders = Tables.orders(spark, sf)
    Lake.create(orders, dir, "o_orderkey", targetFiles = 4)
    val m1 = Lake.manifest(dir, 1L)
    assert(m1.files.size >= 2, "need multiple range-clustered files to show skipping")
    // touch only the lowest key range: update the single minimum key
    val minKey = orders.agg(min(col("o_orderkey"))).head().getLong(0)
    val upd = orders.filter(col("o_orderkey") === minKey)
      .withColumn("o_orderpriority", lit("9-TOUCHED"))
    Lake.upsert(spark, dir, upd)
    val m2 = Lake.manifest(dir, 2L)
    val survived = m1.files.map(_.name).toSet.intersect(m2.files.map(_.name).toSet)
    val rewritten = m1.files.map(_.name).toSet -- m2.files.map(_.name).toSet
    assert(rewritten.nonEmpty, "the file containing the touched key must rewrite")
    assert(survived.size === m1.files.size - rewritten.size)
    assert(survived.nonEmpty,
      s"non-intersecting files must carry forward by reference: $m1 -> $m2")
    // and the data is right
    val cur = Lake.read(spark, dir)
    assert(cur.count() === orders.count())
    assert(cur.filter(col("o_orderpriority") === "9-TOUCHED").count() === 1L)
  }

  test("file-skip pairing is a binned equi-join, never a nested loop") {
    // VERDICT r8 #2: a many-key upsert against a many-file table must
    // not pay an O(|files| x |keys|) theta join in the metadata plane
    val dir = freshDir("skipjoin")
    val orders = Tables.orders(spark, sf)
    Lake.create(orders, dir, "o_orderkey", targetFiles = 8)
    val m = Lake.manifest(dir, 1L)
    import spark.implicits._
    val keys = (1L to 500L).map(_ * 7L)
    val tuples = keys.toDF("_uk_o_orderkey")
    val joined = Lake.touchedFilesJoin(spark, m.files, tuples, Seq("o_orderkey"))
    val bnlj = joined.queryExecution.executedPlan.collect {
      case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
    }
    assert(bnlj.isEmpty,
      s"file-skip pairing planned as a nested loop:\n${joined.queryExecution.executedPlan}")
    // and the binning loses nothing vs the brute-force box test
    val names = joined.collect().map(_.getString(0)).toSet
    val expected = m.files
      .filter(f => keys.exists(k => k >= f.minKey && k <= f.maxKey))
      .map(_.name).toSet
    assert(names === expected)
  }

  test("optimistic concurrency: the second committer of a version loses deterministically") {
    val dir = freshDir("occ")
    val orders = Tables.orders(spark, sf).limit(100)
    Lake.create(orders, dir, "o_orderkey")
    val m1 = Lake.manifest(dir, 1L)
    // two writers both read v1 and race to publish v2: first wins,
    // second gets CommitConflict and leaves the winner's manifest intact
    val winner = Lake.Manifest(2L, "o_orderkey", m1.files)
    Lake.commit(dir, Some(m1), winner)
    intercept[Lake.CommitConflict] {
      Lake.commit(dir, Some(m1), Lake.Manifest(2L, "o_orderkey", Nil))
    }
    assert(Lake.manifest(dir, 2L).files === m1.files)
    assert(Lake.latestVersion(dir) === 2L)
  }

  test("withRetry(upsert): two racing writers BOTH land (loser re-merges against winner)") {
    val dir = freshDir("retry")
    val orders = Tables.orders(spark, sf).limit(200)
    Lake.create(orders, dir, "o_orderkey", targetFiles = 4)
    // two writers with DISJOINT single-row updates start behind one
    // barrier: whoever loses the v2 race must re-read, re-merge
    // against the winner's state, and land as v3 — not throw, not
    // clobber. (Each attempt re-derives its merge from the manifest
    // it re-reads, so the loop is the full Delta retry contract.)
    val updA = orders.limit(1).withColumn("o_orderpriority", lit("9-WRITER-A"))
      .collect()
    val updB = orders.orderBy(col("o_orderkey").desc).limit(1)
      .withColumn("o_orderpriority", lit("9-WRITER-B")).collect()
    val schema = orders.schema
    val gate = new java.util.concurrent.CyclicBarrier(2)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = Seq(updA, updB).map { rows =>
      val t = new Thread(() => {
        try {
          val df = spark.createDataFrame(
            java.util.Arrays.asList(rows: _*), schema)
          gate.await()
          Lake.withRetry()(Lake.upsert(spark, dir, df))
          ()
        } catch { case e: Throwable => errs.add(e); () }
      })
      t.start(); t
    }
    threads.foreach(_.join())
    assert(errs.isEmpty, s"racing writer failed: ${Option(errs.peek())}")
    assert(Lake.latestVersion(dir) === 3L,
      "both writers must commit (one directly, one after a conflict retry)")
    val cur = Lake.read(spark, dir)
    assert(cur.filter(col("o_orderpriority") === "9-WRITER-A").count() === 1L)
    assert(cur.filter(col("o_orderpriority") === "9-WRITER-B").count() === 1L)
    assert(cur.count() === orders.count())
  }

  test("composite key (tenant,id): upsert/delete match on the full tuple; pruning boxes both columns") {
    val dir = freshDir("composite")
    val orders = Tables.orders(spark, sf)
    // (o_custkey, o_orderkey) — the tenant,row multi-tenant PK shape;
    // o_orderkey alone is ALSO unique here, so a bug that matches on
    // one column only would still produce the right row counts — the
    // content asserts below are what catch it
    Lake.create(orders, dir, "o_custkey,o_orderkey", targetFiles = 8)
    val m1 = Lake.manifest(dir, 1L)
    assert(m1.files.size === 8)
    // every file carries the trailing key column's stats
    assert(m1.files.forall(_.stats.contains("o_orderkey")))
    // upsert three rows of ONE tenant: full-tuple replacement
    val tenant = orders.select(col("o_custkey")).orderBy(col("o_custkey")).head().getLong(0)
    val upd = orders.filter(col("o_custkey") === tenant).limit(3)
      .withColumn("o_orderpriority", lit("9-TENANT"))
    assert(Lake.upsert(spark, dir, upd) === 2L)
    val cur = Lake.read(spark, dir)
    assert(cur.count() === orders.count(), "full-tuple match must replace, not append")
    assert(cur.filter(col("o_orderpriority") === "9-TENANT").count() === 3L)
    // the tenant's rows live in ONE leading-column range slice: the
    // upsert must carry most of the 8 files forward by reference
    val m2 = Lake.manifest(dir, 2L)
    val carried = m2.files.map(_.name).toSet intersect m1.files.map(_.name).toSet
    assert(carried.size >= 6,
      s"composite pruning must keep non-intersecting files by reference: ${carried.size}/8")
    // delete by (tenant, id) pairs — positional column mapping
    val victims = upd.select(col("o_custkey"), col("o_orderkey"))
    assert(Lake.delete(spark, dir, victims) === 3L)
    val afterDelete = Lake.read(spark, dir)
    assert(afterDelete.count() === orders.count() - 3L)
    assert(afterDelete.filter(col("o_orderpriority") === "9-TENANT").count() === 0L)
    // time travel intact, and CDF classifies the tuple-keyed history
    assert(Lake.read(spark, dir, 1L).count() === orders.count())
    val feed = Lake.changes(spark, dir, 1L)
    assert(feed.filter(col("_change_type") === "update_postimage").count() === 3L)
    assert(feed.filter(col("_change_type") === "delete").count() === 3L)
  }

  test("merge: insert+update+delete land as ONE atomic commit; deletes win overlaps") {
    val dir = freshDir("merge")
    val orders = Tables.orders(spark, sf)
    Lake.create(orders.filter(col("o_orderkey") % 3 =!= 0), dir, "o_orderkey",
      targetFiles = 4)
    val inserts = orders.filter(col("o_orderkey") % 3 === 0)
    val updates = orders
      .filter(col("o_orderkey") % 3 =!= 0 && col("o_orderkey") % 7 === 0)
      .withColumn("o_orderpriority", lit("9-MERGED"))
    assert(Lake.merge(spark, dir, inserts.unionByName(updates),
      orders.filter(col("o_orderkey") % 11 === 0).select(col("o_orderkey"))) === 2L)
    // ONE commit: history is exactly two versions
    assert(Lake.latestVersion(dir) === 2L)
    val cur = Lake.read(spark, dir)
    assert(cur.count() === orders.filter(col("o_orderkey") % 11 =!= 0).count())
    // deletes beat the overlapping %33 inserts
    assert(cur.filter(col("o_orderkey") % 11 === 0).count() === 0L)
    // surviving %7 updates applied
    assert(cur.filter(col("o_orderpriority") === "9-MERGED").count() ===
      orders.filter(col("o_orderkey") % 3 =!= 0 && col("o_orderkey") % 7 === 0 &&
        col("o_orderkey") % 11 =!= 0).count())
    // snapshot isolation: v1 untouched
    assert(Lake.read(spark, dir, 1L).count() ===
      orders.filter(col("o_orderkey") % 3 =!= 0).count())
  }

  test("graft-lake SQL surface: pushed key range prunes files; answers match raw") {
    val dir = freshDir("sqlsrc")
    val orders = Tables.orders(spark, sf)
    Lake.create(orders, dir, "o_orderkey", targetFiles = 8)
    val sb = new graft.sources.LakeScanBuilder(spark, dir,
      Lake.latestVersion(dir), Lake.snapshotSchema(spark, dir))
    val all = sb.prunedFiles(Nil)
    assert(all.size === 8)
    val f0 = all.minBy(_.minKey)
    val narrow = {
      import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
      import org.apache.spark.sql.catalyst.expressions.{GreaterThanOrEqual, LessThanOrEqual, Literal}
      sb.prunedFiles(Seq(
        GreaterThanOrEqual(UnresolvedAttribute("o_orderkey"), Literal(f0.minKey)),
        LessThanOrEqual(UnresolvedAttribute("o_orderkey"), Literal(f0.maxKey))))
    }
    assert(narrow.size < all.size,
      s"BETWEEN one file's range must prune, opened ${narrow.size}/${all.size}")
    // and the SQL answer over the pruned relation equals the raw scan
    spark.read.format("graft-lake").option("path", dir).load()
      .createOrReplaceTempView("lake_sql_spec")
    val pruned = spark.sql(
      s"""SELECT count(*) FROM lake_sql_spec
         |WHERE o_orderkey BETWEEN ${f0.minKey} AND ${f0.maxKey}""".stripMargin)
    val viaSql = pruned.head().getLong(0)
    val raw = orders.filter(
      col("o_orderkey").between(f0.minKey, f0.maxKey)).count()
    assert(viaSql === raw && raw > 0)
    // the V2 migration's point (VERDICT r8 #1): the physical plan is a
    // COLUMNAR parquet BatchScan — no RDD conversion exit, no codegen
    // fence above the scan
    val phys = pruned.queryExecution.executedPlan match {
      // AQE wraps the real plan; unwrap so collect() sees the scan
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    val scans = phys.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }
    assert(scans.nonEmpty, s"expected a BatchScan node, got:\n$phys")
    assert(scans.forall(_.scan.isInstanceOf[graft.sources.LakeScan]),
      "the graft-lake read must plan through the runtime-filterable LakeScan")
    assert(scans.forall(_.supportsColumnar),
      "the delegated parquet scan must read columnar (vectorized)")
    assert(!phys.toString.contains("ExistingRDD"),
      s"V1-style RDD conversion exit survived the V2 migration:\n$phys")
    // versionAsOf plumbs through the option
    val v1 = spark.read.format("graft-lake").option("path", dir)
      .option("versionAsOf", "1").load().count()
    assert(v1 === orders.count())
  }

  test("graft-lake SQL surface: pruned subset still resolves columns newer files added") {
    // ADVICE r8 (medium): a pushed filter that prunes to only
    // PRE-EVOLUTION files must not unresolve a column that only newer
    // files carry — the scan declares the SNAPSHOT schema and
    // null-fills, exactly like the full-list merged read
    val dir = freshDir("sqlevo")
    val orders = Tables.orders(spark, sf).limit(2000)
    Lake.create(orders, dir, "o_orderkey", targetFiles = 4)
    val hiKeys = orders.agg(max(col("o_orderkey"))).head().getLong(0)
    // evolve the schema by upserting ONLY high-key rows with a new column
    Lake.upsert(spark, dir,
      orders.filter(col("o_orderkey") > hiKeys - 10)
        .withColumn("o_evolved", lit(1L)))
    spark.read.format("graft-lake").option("path", dir).load()
      .createOrReplaceTempView("lake_evo_spec")
    // the low key range prunes to pre-evolution files only
    val r = spark.sql(
      """SELECT count(*) AS n, count(o_evolved) AS evolved
        |FROM lake_evo_spec WHERE o_orderkey <= 50""".stripMargin).head()
    assert(r.getLong(0) > 0, "low-key slice must have rows")
    assert(r.getLong(1) === 0L, "o_evolved must null-fill on pre-evolution files")
  }

  test("typed stats: date/string clustering skips files on timestamp and string ranges") {
    val dir = freshDir("typed")
    val orders = Tables.orders(spark, sf)
    Lake.create(orders, dir, "o_orderkey", targetFiles = 4)
    // ---- date (timestamp) stats: epoch-micros encoding ----
    Lake.compactClustered(spark, dir, Seq("o_orderdate"), targetFiles = 8)
    val m = Lake.manifest(dir, 2L)
    assert(m.files.size === 8)
    assert(m.files.forall(_.stats.contains("o_orderdate")),
      "every date-clustered file must carry an o_orderdate stat")
    def micros(ts: String): Long =
      spark.sql(s"SELECT unix_micros(TIMESTAMP'$ts')").head().getLong(0)
    val lo = micros("1995-01-01 00:00:00")
    val hi = micros("1995-12-31 23:59:59")
    val hit = Lake.colRangeFiles(dir, "o_orderdate", lo, hi, 2L)
    assert(hit.nonEmpty && hit.size < m.files.size,
      s"a one-year window must skip files, opened ${hit.size}/${m.files.size}")
    val viaRange = Lake.readColRange(spark, dir, "o_orderdate", lo, hi, 2L).count()
    val raw = orders.filter(
      unix_micros(col("o_orderdate").cast("timestamp")).between(lo, hi)).count()
    assert(viaRange === raw && raw > 0)
    // the SQL surface prunes on the same timestamp predicate
    locally {
      import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
      import org.apache.spark.sql.catalyst.expressions.{GreaterThanOrEqual, LessThanOrEqual, Literal}
      import org.apache.spark.sql.types.TimestampType
      val sb = new graft.sources.LakeScanBuilder(spark, dir, 2L,
        Lake.snapshotSchema(spark, dir, 2L))
      val pruned = sb.prunedFiles(Seq(
        GreaterThanOrEqual(UnresolvedAttribute("o_orderdate"), Literal(lo, TimestampType)),
        LessThanOrEqual(UnresolvedAttribute("o_orderdate"), Literal(hi, TimestampType))))
      assert(pruned.map(_.name).toSet === hit.map(_.name).toSet)
    }
    // ---- string stats: lexicographic bounds, hex round-trip ----
    Lake.compactClustered(spark, dir, Seq("o_orderpriority"), targetFiles = 5)
    val m3 = Lake.manifest(dir, 3L)
    assert(m3.files.forall(_.strStats.contains("o_orderpriority")))
    val hitS = Lake.strRangeFiles(dir, "o_orderpriority", "1-URGENT", "1-URGENT", 3L)
    assert(hitS.nonEmpty && hitS.size < m3.files.size,
      s"a one-priority probe must skip files, opened ${hitS.size}/${m3.files.size}")
    val viaS = Lake.readStrRange(spark, dir,
      "o_orderpriority", "1-URGENT", "1-URGENT", 3L).count()
    assert(viaS === orders.filter(col("o_orderpriority") === "1-URGENT").count())
    // a window over everything opens everything (no false skips)
    assert(Lake.strRangeFiles(dir, "o_orderpriority", "0", "Z", 3L).size === m3.files.size)
  }

  test("readAsOf: TIMESTAMP AS OF resolves the version whose commit had published") {
    val dir = freshDir("asof")
    val orders = Tables.orders(spark, sf).limit(100)
    Lake.create(orders, dir, "o_orderkey", targetFiles = 2)
    Thread.sleep(30)
    val betweenV1V2 = System.currentTimeMillis()
    Thread.sleep(30)
    Lake.upsert(spark, dir,
      orders.limit(5).withColumn("o_orderpriority", lit("9-ASOF")))
    Thread.sleep(30)
    val afterV2 = System.currentTimeMillis()
    assert(Lake.versionAt(dir, betweenV1V2) === 1L)
    assert(Lake.versionAt(dir, afterV2) === 2L)
    assert(Lake.readAsOf(spark, dir, betweenV1V2)
      .filter(col("o_orderpriority") === "9-ASOF").count() === 0L)
    assert(Lake.readAsOf(spark, dir, afterV2)
      .filter(col("o_orderpriority") === "9-ASOF").count() === 5L)
    intercept[Exception] { Lake.versionAt(dir, 1000L) } // before creation
  }

  test("vacuumOrphans: unreferenced staged files go; referenced data is untouched") {
    val dir = freshDir("orphans")
    val orders = Tables.orders(spark, sf).limit(100)
    Lake.create(orders, dir, "o_orderkey", targetFiles = 2)
    val before = Lake.read(spark, dir).collect().map(_.toSeq).toSet
    // plant an orphan the way a crashed/losing writer would: a staged
    // data subdir no manifest ever references
    val orphanDir = new java.io.File(dir, "data-orphan-test")
    orphanDir.mkdirs()
    val orphan = new java.io.File(orphanDir, "part-00000-fake.parquet")
    java.nio.file.Files.write(orphan.toPath, Array[Byte](1, 2, 3))
    // backdate the planted orphan past the age cutoff: the strict `<`
    // mtime guard (correctly) protects anything created in the cutoff
    // millisecond itself, which this test could otherwise race
    orphan.setLastModified(System.currentTimeMillis() - 60000L)
    orphanDir.setLastModified(System.currentTimeMillis() - 60000L)
    val deleted = Lake.vacuumOrphans(dir, minAgeMillis = 1000L)
    assert(deleted.contains("data-orphan-test/part-00000-fake.parquet"),
      s"orphan must be swept: $deleted")
    assert(!orphan.exists() && !orphanDir.exists(), "orphan file and emptied dir removed")
    assert(Lake.read(spark, dir).collect().map(_.toSeq).toSet === before,
      "referenced data must be untouched")
  }

  test("delta log: commit metadata is O(files touched), not O(table)") {
    val dir = freshDir("deltalog")
    val orders = Tables.orders(spark, sf)
    Lake.create(orders, dir, "o_orderkey", targetFiles = 16)
    val v1Bytes = java.nio.file.Files.size(
      java.nio.file.Paths.get(dir, "_manifests", "v00000001.json"))
    // a single-key upsert touches ONE of the 16 files; its log record
    // must carry only that rewrite (1 rm + the rewritten adds), not
    // the untouched 15 — the VERDICT-r7 O(table)-per-commit fix
    val oneKey = orders.orderBy(col("o_orderkey")).limit(1)
      .withColumn("o_orderpriority", lit("9-DELTA"))
    assert(Lake.upsert(spark, dir, oneKey, targetFiles = 1) === 2L)
    val v2Path = java.nio.file.Paths.get(dir, "_manifests", "v00000002.json")
    val v2Bytes = java.nio.file.Files.size(v2Path)
    assert(v2Bytes * 4 < v1Bytes,
      s"delta commit ($v2Bytes B) must be far smaller than the full v1 log ($v1Bytes B)")
    val v2Text = new String(java.nio.file.Files.readAllBytes(v2Path), "UTF-8")
    val nTouched = v2Text.linesIterator.count(l =>
      l.startsWith("add=") || l.startsWith("rm="))
    assert(nTouched <= 3, s"1-file rewrite must log <=3 file lines, got $nTouched:\n$v2Text")
    // and the resolved snapshot is still the full table
    assert(Lake.manifest(dir, 2L).files.size === 16)
    assert(Lake.read(spark, dir).count() === orders.count())
  }

  test("delta log: checkpoint lands every CheckpointInterval commits; resolution crosses it") {
    val dir = freshDir("ckpt")
    val orders = Tables.orders(spark, sf).limit(300)
    Lake.create(orders, dir, "o_orderkey", targetFiles = 2)
    // drive past one checkpoint boundary with tiny upserts
    (2L to Lake.CheckpointInterval + 2L).foreach { v =>
      val upd = orders.limit(1)
        .withColumn("o_orderpriority", lit(s"9-V$v"))
      assert(Lake.upsert(spark, dir, upd, targetFiles = 1) === v)
    }
    val md = java.nio.file.Paths.get(dir, "_manifests")
    assert(java.nio.file.Files.exists(
      md.resolve(f"v${Lake.CheckpointInterval}%08d.ckpt")),
      s"checkpoint must exist at version ${Lake.CheckpointInterval}")
    assert(new String(java.nio.file.Files.readAllBytes(
        md.resolve("_last_checkpoint")), "UTF-8").trim
      === Lake.CheckpointInterval.toString)
    // snapshots at, below, and above the checkpoint all resolve; the
    // one above must fold checkpoint + deltas (same row count, newest
    // priority marker present exactly once)
    val latest = Lake.CheckpointInterval + 2L
    assert(Lake.latestVersion(dir) === latest)
    (Seq(1L, Lake.CheckpointInterval - 1L, Lake.CheckpointInterval.toLong, latest))
      .foreach { v => assert(Lake.read(spark, dir, v).count() === orders.count()) }
    assert(Lake.read(spark, dir)
      .filter(col("o_orderpriority") === s"9-V$latest").count() === 1L)
  }

  test("delete by key: rows gone, version advances, old snapshot still has them") {
    val dir = freshDir("del")
    val orders = Tables.orders(spark, sf)
    Lake.create(orders, dir, "o_orderkey", targetFiles = 4)
    val victims = orders.filter(col("o_orderkey") % 10 === 0).select(col("o_orderkey"))
    val nVictims = victims.count()
    assert(nVictims > 0)
    assert(Lake.delete(spark, dir, victims) === 2L)
    val cur = Lake.read(spark, dir)
    assert(cur.count() === orders.count() - nVictims)
    assert(cur.filter(col("o_orderkey") % 10 === 0).count() === 0L)
    assert(Lake.read(spark, dir, 1L).count() === orders.count())
  }

  test("compact shrinks file count as a new version; vacuum drops only expired-version files") {
    val dir = freshDir("maint")
    val orders = Tables.orders(spark, sf)
    Lake.create(orders, dir, "o_orderkey", targetFiles = 4)
    // a second version so v1 becomes vacuumable history
    Lake.upsert(spark, dir,
      orders.limit(5).withColumn("o_orderpriority", lit("9-V2")))
    val before = Lake.read(spark, dir).collect().map(_.toSeq).toSet
    val v3 = Lake.compact(spark, dir, targetFiles = 1)
    assert(v3 === 3L)
    val m3 = Lake.manifest(dir, 3L)
    assert(m3.files.size === 1, s"compaction must bin-pack: ${m3.files}")
    assert(Lake.read(spark, dir).collect().map(_.toSeq).toSet === before)
    // vacuum keeping 1 version: v1/v2 manifests go; v3's single file
    // (and any old files it still references — none here) survive
    val deleted = Lake.vacuum(dir, retainVersions = 1)
    assert(deleted.nonEmpty)
    assert(Lake.latestVersion(dir) === 3L)
    assert(Lake.read(spark, dir).collect().map(_.toSeq).toSet === before)
    assert(m3.files.map(_.name).forall(n =>
      java.nio.file.Files.exists(java.nio.file.Paths.get(dir, n))))
    intercept[Exception] { Lake.manifest(dir, 1L) } // history actually gone
    // round 12: the error is DESCRIPTIVE — the version was vacuumed,
    // not never-committed, and the floor is named
    val msg = intercept[Exception] { Lake.manifest(dir, 1L) }.getMessage
    assert(msg.contains("has been vacuumed") &&
      msg.contains("earliest time-travelable version is 3"), msg)
  }

  test("compactAnalyzed: per-file HLL sketches + exact null counts; " +
      "the scan reports the merged NDV through columnStats") {
    import spark.implicits._
    val dir = freshDir("analyze")
    // c_nationkey is NOT a key component here — without analyze it
    // would carry no stats at all
    Lake.create(Tables.customer(spark, sf), dir, "c_custkey", targetFiles = 4)
    val v = Lake.compactAnalyzed(spark, dir, Seq("c_nationkey"),
      targetFiles = 4)
    assert(v === 2L && Lake.rewriteOnly(dir, 2L),
      "analyze must commit as row-preserving maintenance")
    val m = Lake.manifest(dir, v)
    val live = m.files.filter(_.rows > 0)
    assert(live.forall(f => f.ndv.contains("c_nationkey") &&
      f.nulls.contains("c_nationkey")))
    // merged estimate ≈ exact distinct count (HLL lgK 12 → ~1.6% RSE)
    val exact = Lake.read(spark, dir).select("c_nationkey").distinct().count()
    val est = Lake.mergeNdv(live.map(_.ndv("c_nationkey")))
    assert(math.abs(est - exact) <= math.max(1L, exact / 10),
      s"merged NDV $est vs exact $exact")
    assert(live.map(_.nulls("c_nationkey")).sum === 0L)
    // range stats landed alongside (analyze lists the column)
    assert(live.forall(_.stats.contains("c_nationkey")))
    // the V2 scan exposes the merged statistics to CBO
    val schema = Lake.snapshotSchema(spark, dir, v)
    val scan = new graft.sources.LakeScanBuilder(spark, dir, v, schema).build()
    val colStats = scan
      .asInstanceOf[org.apache.spark.sql.connector.read.SupportsReportStatistics]
      .estimateStatistics().columnStats()
    val entry = colStats.get(
      org.apache.spark.sql.connector.expressions.Expressions.column("c_nationkey"))
    assert(entry != null, s"columnStats must cover the analyzed column")
    assert(entry.distinctCount.getAsLong === est)
    assert(entry.nullCount.getAsLong === 0L)
    assert(entry.min.isPresent && entry.max.isPresent,
      "range stats must carry over into the analyzed entry")
    // NULL accounting is exact: re-analyze a table with nulls
    val dir2 = freshDir("analyze-nulls")
    Lake.create(Seq((1L, Some(5L)), (2L, None), (3L, None), (4L, Some(7L)))
      .toDF("k", "x"), dir2, "k", targetFiles = 2)
    Lake.compactAnalyzed(spark, dir2, Seq("x"), targetFiles = 2)
    val live2 = Lake.manifest(dir2, 2L).files.filter(_.rows > 0)
    assert(live2.map(_.nulls("x")).sum === 2L)
    assert(Lake.mergeNdv(live2.map(_.ndv("x"))) === 2L)
  }

  test("incremental statistics: post-ANALYZE writes sketch their new " +
      "files, so every live file stays stat-covered (round 13)") {
    import spark.implicits._
    val dir = freshDir("analyze-inc")
    val cust = Tables.customer(spark, sf)
    Lake.create(cust.filter(col("c_custkey") % 2 === 1), dir, "c_custkey",
      targetFiles = 3)
    Lake.compactAnalyzed(spark, dir, Seq("c_nationkey"), targetFiles = 3)
    // an ordinary append and an update slice — neither names the column
    Lake.upsert(spark, dir, cust.filter(col("c_custkey") % 2 === 0))
    Lake.upsert(spark, dir, Lake.read(spark, dir)
      .filter(col("c_custkey") % 5 === 0)
      .withColumn("c_acctbal", col("c_acctbal") + 1.0))
    val live = Lake.manifest(dir, Lake.latestVersion(dir))
      .files.filter(_.rows > 0)
    assert(live.forall(f => f.ndv.contains("c_nationkey") &&
      f.nulls.contains("c_nationkey") && f.stats.contains("c_nationkey")),
      "every live file, including post-ANALYZE writes, carries the stat")
    val exact = Lake.read(spark, dir).select("c_nationkey").distinct().count()
    val est = Lake.mergeNdv(live.map(_.ndv("c_nationkey")))
    assert(math.abs(est - exact) <= math.max(1L, exact / 10),
      s"merged NDV $est vs exact $exact after incremental maintenance")
    // a NEVER-analyzed table pays nothing: new files carry no sketches
    val dir2 = freshDir("analyze-inc-off")
    Lake.create(Seq((1L, 5L)).toDF("k", "x"), dir2, "k", targetFiles = 1)
    Lake.upsert(spark, dir2, Seq((2L, 6L)).toDF("k", "x"))
    assert(Lake.manifest(dir2, Lake.latestVersion(dir2)).files
      .forall(f => f.ndv.isEmpty && f.nulls.isEmpty))
  }

  test("auto-compact: small-file accumulation self-heals past the budget; " +
      "rows exact; maintenance markers stamped") {
    import spark.implicits._
    val dir = freshDir("autocompact")
    Lake.create((1L to 1000L).map(i => (i, i % 7)).toDF("k", "v"), dir,
      "k", targetFiles = 2)
    Lake.enableAutoCompact(rowThreshold = 100L, maxSmallFiles = 3)
    try {
      // ten 20-row appends in fresh key ranges: unmanaged this would
      // accumulate ten small files
      (0 until 10).foreach { b =>
        Lake.upsert(spark, dir,
          (1L to 20L).map(i => (2000L + b * 100L + i, i)).toDF("k", "v"))
      }
      val m = Lake.manifest(dir, Lake.latestVersion(dir))
      assert(m.files.count(_.rows > 0) <= 6,
        s"file count must stay bounded: ${m.files.map(_.rows)}")
      // compactions actually fired, as row-preserving maintenance
      val maint = Lake.history(dir).count(c => Lake.rewriteOnly(dir, c.version))
      assert(maint >= 1, "expected at least one auto-compaction commit")
      assert(Option(Lake.lastAutoCompact.get()).exists(_._1 == dir))
      // no row lost or duplicated
      assert(Lake.read(spark, dir).count() === 1200L)
      assert(Lake.read(spark, dir).select(sum(col("v"))).head().getLong(0) ===
        (1L to 1000L).map(_ % 7).sum + 10L * (1L to 20L).sum)
    } finally Lake.disableAutoCompact()
  }

  test("auto-compact composes with auto MV maintenance: the compaction " +
      "commit neither refreshes nor degrades the view") {
    import spark.implicits._
    import graft.lake.MatView
    val dir = freshDir("autoboth")
    Lake.create((1L to 500L).map(i => (i, s"g${i % 3}", i)).toDF("k", "g", "v"),
      dir, "k", targetFiles = 1)
    MatView.define(spark, dir, dir + "-view", Seq("g"), Seq("v"))
    Lake.enableAutoCompact(rowThreshold = 50L, maxSmallFiles = 2)
    MatView.enableAutoMaintenance()
    try {
      (0 until 6).foreach { b =>
        Lake.upsert(spark, dir,
          (1L to 10L).map(i => (1000L + b * 50L + i, s"g${i % 3}", i))
            .toDF("k", "g", "v"))
      }
      // the view advanced through the DATA commits only: its pin is a
      // version whose suffix to head is all maintenance
      val d = MatView.get(dir).get
      val head = Lake.latestVersion(dir)
      assert(MatView.effectiveVersion(dir, d.builtVersion, head)
        === d.builtVersion,
        s"view pin ${d.builtVersion} must be row-preserving-equal to head $head")
      // and the serve is DIRECT with exact values
      org.apache.spark.sql.GraftSqlShim.addOptimization(
        spark, graft.plans.MatViewRewrite)
      val q = spark.read.format("graft-lake").option("path", dir).load()
        .groupBy(col("g")).agg(sum(col("v")).as("s"))
      MatView.lastRewrite.set(null)
      q.queryExecution.optimizedPlan
      assert(Option(MatView.lastRewrite.get()).exists(r =>
        r._1 == dir && r._2 == "direct"))
      val exp = Lake.read(spark, dir).groupBy(col("g")).agg(sum(col("v")).as("s"))
        .orderBy("g").collect().map(_.toSeq).toSeq
      assert(q.orderBy("g").collect().map(_.toSeq).toSeq === exp)
    } finally {
      MatView.disableAutoMaintenance()
      Lake.disableAutoCompact()
      MatView.unregister(dir)
    }
  }

  test("vacuum refuses below a registered view pin; a refreshed pin unblocks") {
    import graft.lake.MatView
    val dir = freshDir("vacpin")
    val orders = Tables.orders(spark, sf)
      .select("o_orderkey", "o_orderpriority", "o_custkey")
    Lake.create(orders.filter(col("o_orderkey") % 2 === 1), dir,
      "o_orderkey", targetFiles = 2)
    MatView.define(spark, dir, dir + "-view",
      Seq("o_orderpriority"), Seq("o_custkey"))
    try {
      Lake.upsert(spark, dir, orders.filter(col("o_orderkey") % 2 === 0))
      Lake.upsert(spark, dir, Lake.read(spark, dir).limit(5)
        .withColumn("o_orderpriority", lit("9-MOVED")))
      // view pinned at v1, retention floor v2 → refuse, with remediation
      val msg = intercept[IllegalArgumentException] {
        Lake.vacuum(dir, retainVersions = 2)
      }.getMessage
      assert(msg.contains("registered view pins") &&
        msg.contains("-view@v1"), msg)
      // nothing was deleted: the full history still resolves
      assert(Lake.manifest(dir, 1L).files.nonEmpty)
      // advancing the pin clears the block
      MatView.refresh(spark, dir)
      assert(Lake.vacuum(dir, retainVersions = 2).nonEmpty)
      assert(Lake.latestVersion(dir) === 3L)
    } finally MatView.unregister(dir)
  }

  test("readRange: manifest stats skip non-intersecting files; result stays exact") {
    val dir = freshDir("range")
    val orders = Tables.orders(spark, sf)
    Lake.create(orders, dir, "o_orderkey", targetFiles = 4)
    val m = Lake.manifest(dir, 1L)
    assert(m.files.size >= 2)
    // query exactly the first file's key range
    val f0 = m.files.minBy(_.minKey)
    val ranged = Lake.readRange(spark, dir, f0.minKey, f0.maxKey)
    val expected = orders
      .filter(col("o_orderkey") >= f0.minKey && col("o_orderkey") <= f0.maxKey)
      .collect().map(_.toSeq).toSet
    assert(ranged.collect().map(_.toSeq).toSet === expected)
    // the skip actually happened: fewer files opened than the table has
    assert(ranged.inputFiles.length < m.files.size,
      s"expected file skipping, scanned ${ranged.inputFiles.length}/${m.files.size}")
    // empty range: schema-correct, zero rows, no crash
    val empty = Lake.readRange(spark, dir, Long.MaxValue - 1, Long.MaxValue)
    assert(empty.count() === 0L)
    assert(empty.columns.toSeq === ranged.columns.toSeq)
  }

  test("schema evolution: an upsert with a NEW column null-fills old rows on read") {
    val dir = freshDir("evo")
    val orders = Tables.orders(spark, sf)
      .select(col("o_orderkey"), col("o_orderpriority"))
    Lake.create(orders, dir, "o_orderkey", targetFiles = 4)
    val minKey = orders.agg(min(col("o_orderkey"))).head().getLong(0)
    val evolved = orders.filter(col("o_orderkey") === minKey)
      .withColumn("audit_tag", lit("round7"))
    Lake.upsert(spark, dir, evolved)
    val cur = Lake.read(spark, dir)
    assert(cur.columns.contains("audit_tag"), cur.columns.mkString(","))
    assert(cur.count() === orders.count())
    assert(cur.filter(col("audit_tag") === "round7").count() === 1L)
    // every untouched row reads the evolved column as NULL
    assert(cur.filter(col("audit_tag").isNull).count() === orders.count() - 1L)
    // and time travel still reads v1 with the ORIGINAL schema
    assert(!Lake.read(spark, dir, 1L).columns.contains("audit_tag"))
  }

  test("streamUpsert: replayed (appId, txnVersion) commits NOTHING — exactly-once state") {
    val dir = freshDir("txn")
    val events = Tables.events(spark, sf)
      .select(col("event_id"), col("event_type"), col("value"))
    // batch 0 creates the table with its marker
    assert(Lake.streamUpsert(spark, dir, events, "event_id", "ingest", 0L) === 1L)
    val v1State = Lake.read(spark, dir).collect().map(_.toSeq).toSet
    // the same batch REPLAYED (post-failure re-run, same id) with a
    // corrupted payload must be a version-preserving no-op
    val poisoned = events.limit(10).withColumn("event_type", lit("POISON"))
    assert(Lake.streamUpsert(spark, dir, poisoned, "event_id", "ingest", 0L) === 1L)
    assert(Lake.latestVersion(dir) === 1L)
    assert(Lake.read(spark, dir).collect().map(_.toSeq).toSet === v1State)
    // a genuinely NEW batch id applies...
    val upd = events.limit(5).withColumn("event_type", lit("B1"))
    assert(Lake.streamUpsert(spark, dir, upd, "event_id", "ingest", 1L) === 2L)
    assert(Lake.read(spark, dir).filter(col("event_type") === "B1").count() === 5L)
    // ...and markers survive maintenance commits (compaction)
    Lake.compact(spark, dir, targetFiles = 1)
    assert(Lake.streamUpsert(spark, dir, poisoned, "event_id", "ingest", 1L)
      === Lake.latestVersion(dir))
    assert(Lake.read(spark, dir).filter(col("event_type") === "POISON").count() === 0L)
  }

  test("x6_stream_lake: streamed transactional ingest equals the batch aggregate") {
    val batch = Tables.events(spark, sf)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum((col("value").cast("decimal(18,2)") * 100).cast("long")).as("value_cents"))
      .orderBy(col("event_type")).collect()
    val streamed = graft.streaming.EventStream.streamedLakeIngest(spark, sf).collect()
    assert(batch.nonEmpty && streamed.sameElements(batch))
  }

  test("x8_lake_upsert query is idempotent across invocations (scratch wiped per run)") {
    val a = LakeQueries.lakeUpsert(spark, sf).collect()
    val b = LakeQueries.lakeUpsert(spark, sf).collect()
    assert(a.nonEmpty && a.sameElements(b))
  }

  test("compactZOrder: box reads skip files on BOTH dimensions; answer exact") {
    val dir = freshDir("zorder")
    val orders = Tables.orders(spark, sf)
      .withColumn("o_days",
        datediff(col("o_orderdate"), lit("1995-01-01")).cast("long"))
      .drop("o_orderdate")
    Lake.create(orders, dir, "o_orderkey", targetFiles = 4)
    Lake.compactZOrder(spark, dir, "o_custkey", "o_days", targetFiles = 16)
    val m = Lake.manifest(dir, Lake.latestVersion(dir))
    assert(m.files.forall(f => f.stats.contains("o_custkey") && f.stats.contains("o_days")),
      "z-compacted files must carry both dimension stats")
    val total = m.files.size
    val hit = Lake.boxFiles(dir, "o_custkey", 20L, 80L, "o_days", 400L, 900L)
    assert(hit.size < total,
      s"2-D stat pruning must skip files (opened ${hit.size} of $total)")
    // answer equals the full-scan filter, bit-for-bit
    val box = Lake.readBox(spark, dir, "o_custkey", 20L, 80L, "o_days", 400L, 900L)
      .orderBy(col("o_orderkey")).collect()
    val full = Lake.read(spark, dir)
      .filter(col("o_custkey").between(20L, 80L) && col("o_days").between(400L, 900L))
      .orderBy(col("o_orderkey")).collect()
    assert(full.nonEmpty && box.sameElements(full))
    // a pre-z-order version lacks the stats: readable, never skipped
    assert(Lake.boxFiles(dir, "o_custkey", 20L, 80L, "o_days", 400L, 900L, 1L).size ===
      Lake.manifest(dir, 1L).files.size)
  }

  test("bloom index: point lookups open a fraction of a scattered layout; answer exact") {
    val dir = freshDir("bloom")
    val orders = Tables.orders(spark, sf)
      .withColumn("o_days",
        datediff(col("o_orderdate"), lit("1995-01-01")).cast("long"))
      .drop("o_orderdate")
    Lake.create(orders, dir, "o_orderkey", targetFiles = 4)
    Lake.compactWithBloom(spark, dir, "o_days", "o_orderkey", targetFiles = 8)
    val total = Lake.manifest(dir, Lake.latestVersion(dir)).files.size
    assert(total >= 4)
    // a present key: pruned to (far) fewer files than the table, and
    // the row comes back exactly
    val hit = Lake.pointFiles(spark, dir, "o_orderkey", 777L)
    assert(hit.size < total, s"bloom must prune (opened ${hit.size}/$total)")
    val row = Lake.readPoint(spark, dir, "o_orderkey", 777L).collect()
    assert(row.length === 1 && row.head.getAs[Long]("o_orderkey") === 777L)
    // an absent value: at most false-positive files open, zero rows
    val none = Lake.readPoint(spark, dir, "o_orderkey", 99999999L)
    assert(none.count() === 0L)
    // key-range stats CANNOT serve this lookup on the day-clustered
    // layout: (almost) every file's [minKey, maxKey] spans the probe
    val rangeHit = Lake.manifest(dir, Lake.latestVersion(dir)).files
      .count(f => f.minKey <= 777L && f.maxKey >= 777L)
    assert(rangeHit > hit.size,
      s"scenario broken: range stats pruned better ($rangeHit) than bloom (${hit.size})")
  }

  test("restore: rolls back by re-publishing old files; history intact, no data copied") {
    val dir = freshDir("restore")
    val orders = Tables.orders(spark, sf)
    Lake.create(orders.filter(col("o_orderkey") % 3 =!= 0), dir, "o_orderkey",
      targetFiles = 4)
    val v1 = Lake.read(spark, dir, 1L).collect().map(_.toSeq).toSet
    Lake.upsert(spark, dir, orders.filter(col("o_orderkey") % 3 === 0))
    assert(Lake.restore(spark, dir, 1L) === 3L)
    // restored state IS v1, and the manifest references v1's files
    assert(Lake.read(spark, dir).collect().map(_.toSeq).toSet === v1)
    assert(Lake.manifest(dir, 3L).files === Lake.manifest(dir, 1L).files)
    // the rolled-back version stays time-travelable
    assert(Lake.read(spark, dir, 2L).count() === orders.count())
    // and the restore step's change feed is exactly the upsert undone
    val feed = Lake.changes(spark, dir, 2L, 3L)
    assert(feed.filter(col("_change_type") === "delete").count() ===
      orders.filter(col("o_orderkey") % 3 === 0).count())
    assert(feed.filter(col("_change_type") === "insert").count() === 0L)
  }

  test("changes: insert/update-pair/delete classified exactly; copied rows excluded") {
    val dir = freshDir("cdf")
    val orders = Tables.orders(spark, sf)
    Lake.create(orders.filter(col("o_orderkey") % 3 =!= 0), dir, "o_orderkey",
      targetFiles = 4)
    val inserts = orders.filter(col("o_orderkey") % 3 === 0)
    val updates = orders
      .filter(col("o_orderkey") % 3 =!= 0 && col("o_orderkey") % 7 === 0)
      .withColumn("o_orderpriority", lit("9-CHANGED"))
    Lake.upsert(spark, dir, inserts.unionByName(updates))
    val feed = Lake.changes(spark, dir, 1L).persist()
    val byType = feed.groupBy(col("_change_type")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byType.getOrElse("insert", 0L) === inserts.count())
    assert(byType.getOrElse("update_preimage", 0L) === updates.count())
    assert(byType.getOrElse("update_postimage", 0L) === updates.count())
    assert(byType.getOrElse("delete", 0L) === 0L)
    // copied rows excluded: every feed key is an insert or update key
    val feedKeys = feed.select(col("o_orderkey")).distinct().count()
    assert(feedKeys === inserts.count() + updates.count())
    // postimages carry the new value, preimages the old
    assert(feed.filter(col("_change_type") === "update_postimage" &&
      col("o_orderpriority") =!= "9-CHANGED").count() === 0L)
    assert(feed.filter(col("_change_type") === "update_preimage" &&
      col("o_orderpriority") === "9-CHANGED").count() === 0L)
    feed.unpersist()
    // delete steps feed as deletes with the pre-delete payload
    Lake.delete(spark, dir,
      orders.filter(col("o_orderkey") % 11 === 0).select(col("o_orderkey")))
    val delFeed = Lake.changes(spark, dir, 2L)
    assert(delFeed.filter(col("_change_type") =!= "delete").count() === 0L)
    assert(delFeed.count() === orders.filter(col("o_orderkey") % 11 === 0).count())
  }

  test("changes: a compaction commit contributes an EMPTY change feed") {
    val dir = freshDir("cdf-compact")
    val orders = Tables.orders(spark, sf)
    Lake.create(orders, dir, "o_orderkey", targetFiles = 6)
    Lake.compact(spark, dir, targetFiles = 2)
    // every file rewrote, every row copied → nothing changed
    assert(Lake.changes(spark, dir, 1L).count() === 0L)
  }

  test("changes: a feed spanning additive schema evolution null-fills old images") {
    val dir = freshDir("cdf-evolve")
    val orders = Tables.orders(spark, sf).select(col("o_orderkey"), col("o_totalprice"))
    Lake.create(orders, dir, "o_orderkey", targetFiles = 2)
    val evolved = orders.limit(10)
      .withColumn("o_totalprice",
        (col("o_totalprice").cast("decimal(18,2)") * 2).cast("double"))
      .withColumn("flag", lit("new"))
    Lake.upsert(spark, dir, evolved)
    val feed = Lake.changes(spark, dir, 1L).persist()
    // preimages predate the column: NULL flag; postimages carry it
    assert(feed.filter(col("_change_type") === "update_preimage" &&
      col("flag").isNotNull).count() === 0L)
    assert(feed.filter(col("_change_type") === "update_postimage" &&
      col("flag") =!= "new").count() === 0L)
    assert(feed.filter(col("_change_type") === "update_postimage").count() === 10L)
    feed.unpersist()
  }

  test("streamMerge: atomic upsert+delete per batch; replayed txnVersion commits NOTHING") {
    val dir = freshDir("smerge")
    val orders = Tables.orders(spark, sf)
    // batch 0 creates the table (its deletes aim at nothing)
    Lake.streamMerge(spark, dir,
      orders.filter(col("o_orderkey") <= 100), orders.limit(0).select("o_orderkey"),
      "o_orderkey", "cdc-app", 0L)
    assert(Lake.latestVersion(dir) === 1L)
    // batch 1: update keys <= 10, delete 50..60 — one commit
    Lake.streamMerge(spark, dir,
      orders.filter(col("o_orderkey") <= 10)
        .withColumn("o_orderpriority", lit("9-SM")),
      orders.filter(col("o_orderkey").between(50, 60)).select("o_orderkey"),
      "o_orderkey", "cdc-app", 1L)
    assert(Lake.latestVersion(dir) === 2L)
    val s = Lake.read(spark, dir)
    assert(s.filter(col("o_orderkey").between(50, 60)).count() === 0L)
    assert(s.filter(col("o_orderkey") <= 10 &&
      col("o_orderpriority") =!= "9-SM").count() === 0L)
    val state = s.collect().map(_.toSeq).toSet
    // replay batch 1 (post-failure re-run, same txnVersion): no-op
    Lake.streamMerge(spark, dir,
      orders.filter(col("o_orderkey") <= 10)
        .withColumn("o_orderpriority", lit("9-SM")),
      orders.filter(col("o_orderkey").between(50, 60)).select("o_orderkey"),
      "o_orderkey", "cdc-app", 1L)
    assert(Lake.latestVersion(dir) === 2L)
    assert(Lake.read(spark, dir).collect().map(_.toSeq).toSet === state)
  }

  test("SQL INSERT INTO is a key-merge upsert; INSERT OVERWRITE replaces the snapshot") {
    val dir = freshDir("sqlwrite")
    val orders = Tables.orders(spark, sf)
    Lake.create(orders.filter(col("o_orderkey") <= 100), dir, "o_orderkey")
    orders.createOrReplaceTempView("spec_orders_src")
    def reload(): Unit =
      spark.read.format("graft-lake").option("path", dir).load()
        .createOrReplaceTempView("spec_lake_w")
    reload()
    // INSERT INTO: keys ≤50 overlap v1 (replaced), 101..120 are new
    val stamped = orders.columns.map(c =>
      if (c == "o_orderpriority") "'9-SQL' AS o_orderpriority" else c).mkString(", ")
    spark.sql(s"""INSERT INTO spec_lake_w SELECT $stamped FROM spec_orders_src
                 |WHERE o_orderkey <= 50 OR o_orderkey BETWEEN 101 AND 120""".stripMargin)
    assert(Lake.latestVersion(dir) === 2L)
    reload()
    val v2 = spark.table("spec_lake_w")
    val n101to120 = orders.filter(col("o_orderkey").between(101, 120)).count()
    assert(v2.count() ===
      orders.filter(col("o_orderkey") <= 100).count() + n101to120)
    // the overlap was REPLACED, not duplicated; disjoint rows untouched
    assert(v2.filter(col("o_orderkey") <= 50 &&
      col("o_orderpriority") =!= "9-SQL").count() === 0L)
    assert(v2.filter(col("o_orderkey").between(51, 100) &&
      col("o_orderpriority") === "9-SQL").count() === 0L)
    assert(v2.groupBy("o_orderkey").count().filter(col("count") > 1).count() === 0L)
    // INSERT OVERWRITE: snapshot replaced wholesale as v3; v2 still travels
    spark.sql("""INSERT OVERWRITE TABLE spec_lake_w
                |SELECT * FROM spec_orders_src WHERE o_orderkey BETWEEN 200 AND 230""".stripMargin)
    assert(Lake.latestVersion(dir) === 3L)
    reload()
    assert(spark.table("spec_lake_w").select("o_orderkey").collect().map(_.getLong(0)).toSet
      === orders.filter(col("o_orderkey").between(200, 230))
        .select("o_orderkey").collect().map(_.getLong(0)).toSet)
    assert(Lake.read(spark, dir, 2L).count() === v2.count())
  }

  test("a versionAsOf-pinned relation REJECTS writes") {
    val dir = freshDir("pinned")
    val orders = Tables.orders(spark, sf)
    Lake.create(orders.limit(20), dir, "o_orderkey")
    Lake.upsert(spark, dir, orders.limit(5)
      .withColumn("o_orderpriority", lit("9-V2")))
    spark.read.format("graft-lake").option("path", dir)
      .option("versionAsOf", "1").load()
      .createOrReplaceTempView("spec_lake_pinned")
    orders.limit(1).createOrReplaceTempView("spec_one_row")
    val e = intercept[Exception] {
      spark.sql("INSERT INTO spec_lake_pinned SELECT * FROM spec_one_row")
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("versionAsOf")), s"got: $e")
    assert(Lake.latestVersion(dir) === 2L) // nothing landed
  }

  test("encString: order-preserving, and the SQL expression path agrees bit-for-bit") {
    import spark.implicits._
    // order preservation on byte-lexicographic order, incl. prefixes,
    // non-ASCII (UTF-8 bytes), empties, and >8-byte truncation ties
    val samples = Seq("", "a", "ab", "abc", "abcdefgh", "abcdefghi",
      "abcdefghz", "doc-0001", "doc-0002", "doc-9999", "zzz",
      "café", "é", "中文", "DOC-0001", "0", "~")
    // pairwise check against unsigned-byte lexicographic compare
    def lexLt(a: String, b: String): Boolean = {
      val (x, y) = (a.getBytes("UTF-8"), b.getBytes("UTF-8"))
      val n = math.min(x.length, y.length)
      var i = 0
      while (i < n) {
        val c = (x(i) & 0xff) - (y(i) & 0xff)
        if (c != 0) return c < 0
        i += 1
      }
      x.length < y.length
    }
    for (a <- samples; b <- samples if lexLt(a, b))
      assert(Lake.encString(a) <= Lake.encString(b),
        s"enc order violated: '$a' vs '$b'")
    // the distributed expression must equal the driver-side loop
    val viaExpr = samples.toDF("s")
      .select(col("s"), Lake.encExpr(col("s")).as("e")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    samples.foreach(s =>
      assert(viaExpr(s) === Lake.encString(s), s"expr/driver mismatch on '$s'"))
  }

  test("STRING leading key: lifecycle, skip join, and SQL file skipping") {
    val dir = freshDir("strkey")
    val docs = Tables.read(spark, "/root/testdata/sf0.001", "documents")
      .select(concat(lit("doc-"), lpad(col("doc_id").cast("string"), 8, "0"))
          .as("doc_key"),
        col("doc_id"), col("lang"), col("source"), col("n_chars"))
    assert(Lake.create(docs.filter(col("doc_id") % 3 =!= 0), dir, "doc_key",
      targetFiles = 4) === 1L)
    // manifest carries encoded bounds AND lexicographic strStats for the head
    val m1 = Lake.manifest(dir, 1L)
    assert(m1.files.forall(f => f.minKey <= f.maxKey))
    assert(m1.files.forall(_.strStats.contains("doc_key")))
    // upsert: inserts + stamped updates — only intersecting files rewrite
    val updates = docs.filter(col("doc_id") % 3 === 0 || col("doc_id") % 5 === 0)
      .withColumn("source",
        when(col("doc_id") % 5 === 0, lit("9-STR")).otherwise(col("source")))
    assert(Lake.upsert(spark, dir, updates) === 2L)
    val now = Lake.read(spark, dir)
    assert(now.count() === docs.count())
    assert(now.filter(col("source") === "9-STR").count()
      === docs.filter(col("doc_id") % 5 === 0).count())
    // delete by string key
    Lake.delete(spark, dir, docs.filter(col("doc_id") % 7 === 0).select("doc_key"))
    assert(Lake.read(spark, dir).count()
      === docs.filter(col("doc_id") % 7 =!= 0).count())
    // the change feed joins on REAL key values, so it is string-clean:
    // v2 inserts = the %3 keys, v3 deletes = every %7 key
    val feed = Lake.changes(spark, dir, 1L)
    assert(feed.filter(col("_commit_version") === 2L &&
        col("_change_type") === "insert").count()
      === docs.filter(col("doc_id") % 3 === 0).count())
    assert(feed.filter(col("_commit_version") === 3L &&
        col("_change_type") === "delete").count()
      === docs.filter(col("doc_id") % 7 === 0).count())
    // SQL file skipping on a string range predicate via strStats
    spark.read.format("graft-lake").option("path", dir).load()
      .createOrReplaceTempView("spec_strkey")
    val sb = new graft.sources.LakeScanBuilder(spark, dir,
      Lake.latestVersion(dir), Lake.snapshotSchema(spark, dir))
    val all = sb.prunedFiles(Nil).size
    val lo = {
      import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
      import org.apache.spark.sql.catalyst.expressions.{GreaterThanOrEqual, Literal}
      GreaterThanOrEqual(UnresolvedAttribute("doc_key"), Literal("doc-00000900"))
    }
    assert(sb.prunedFiles(Seq(lo)).size < all)
  }

  test("updateWhere: CoW rewrite of touched files only; assignments see the original row") {
    val dir = freshDir("upd")
    val orders = Tables.orders(spark, sf)
      .select("o_orderkey", "o_orderstatus", "o_orderpriority", "o_totalprice")
    Lake.create(orders, dir, "o_orderkey", targetFiles = 8)
    val m1 = Lake.manifest(dir, 1L)
    assert(m1.files.size >= 4)
    // a narrow key-range condition: the manifest prune must carry the
    // non-intersecting files forward BY REFERENCE (same entry names)
    val minKey = orders.agg(min(col("o_orderkey"))).head().getLong(0)
    val v2 = Lake.updateWhere(spark, dir,
      col("o_orderkey") === minKey,
      Seq("o_orderpriority" -> lit("9-UPDATED")))
    assert(v2 === 2L)
    val m2 = Lake.manifest(dir, 2L)
    val survived = m1.files.map(_.name).toSet.intersect(m2.files.map(_.name).toSet)
    assert(survived.size >= m1.files.size - 2,
      s"non-intersecting files must carry forward: ${m1.files.size} -> survived ${survived.size}")
    val t2 = Lake.read(spark, dir)
    assert(t2.filter(col("o_orderpriority") === "9-UPDATED").count() === 1L)
    assert(t2.filter(col("o_orderkey") === minKey)
      .head().getAs[String]("o_orderpriority") === "9-UPDATED")
    assert(t2.count() === orders.count())
    // simultaneous assignment semantics: a two-column swap must read
    // BOTH right-hand sides from the original row
    val probeKey = orders.filter(col("o_orderkey") > minKey)
      .agg(min(col("o_orderkey"))).head().getLong(0)
    val before = t2.filter(col("o_orderkey") === probeKey)
      .select("o_orderstatus", "o_orderpriority").head()
    val v3 = Lake.updateWhere(spark, dir,
      col("o_orderkey") === probeKey,
      Seq("o_orderstatus" -> col("o_orderpriority"),
        "o_orderpriority" -> col("o_orderstatus")))
    assert(v3 === 3L)
    val after = Lake.read(spark, dir).filter(col("o_orderkey") === probeKey)
      .select("o_orderstatus", "o_orderpriority").head()
    assert(after.getString(0) === before.getString(1))
    assert(after.getString(1) === before.getString(0))
    // no-match UPDATE commits NOTHING (both the stats-pruned and the
    // scanned-but-unmatched shape)
    assert(Lake.updateWhere(spark, dir, col("o_orderkey") < 0,
      Seq("o_orderpriority" -> lit("NEVER"))) === 3L)
    assert(Lake.updateWhere(spark, dir, col("o_orderstatus") === "NO-SUCH",
      Seq("o_orderpriority" -> lit("NEVER"))) === 3L)
    assert(Lake.latestVersion(dir) === 3L)
    // key columns must not be assigned
    val e = intercept[IllegalArgumentException] {
      Lake.updateWhere(spark, dir, lit(true), Seq("o_orderkey" -> lit(0L)))
    }
    assert(e.getMessage.contains("key column"))
    // time travel below the updates reads the original values
    assert(Lake.read(spark, dir, 1L)
      .filter(col("o_orderpriority") === "9-UPDATED").count() === 0L)
  }

  test("deletion vectors: MoR delete masks rows without touching data files") {
    val dir = freshDir("dv")
    val orders = Tables.orders(spark, sf)
      .select("o_orderkey", "o_orderpriority", "o_totalprice")
    Lake.create(orders, dir, "o_orderkey", targetFiles = 4)
    val m1 = Lake.manifest(dir, 1L)
    val n = orders.count()
    val nDel = orders.filter(col("o_orderkey") % 11 === 0).count()
    assert(Lake.deleteWhereMor(spark, dir, col("o_orderkey") % 11 === 0) === 2L)
    val m2 = Lake.manifest(dir, 2L)
    // identical data file names — the commit was sidecar-only
    assert(m2.files.map(_.name).toSet === m1.files.map(_.name).toSet)
    assert(m2.files.exists(_.dv.isDefined))
    assert(Lake.read(spark, dir).count() === n - nDel)
    assert(Lake.read(spark, dir)
      .filter(col("o_orderkey") % 11 === 0).count() === 0L)
    // time travel below the mask still reads the full state
    assert(Lake.read(spark, dir, 1L).count() === n)
    val (mf, phys, masked) = Lake.dvStats(spark, dir)
    assert(masked === nDel && phys >= masked && mf >= 1)
    // second MoR delete UNIONS masks; overlap must not re-mark
    val nDel13 = orders.filter(col("o_orderkey") % 13 === 0 &&
      col("o_orderkey") % 11 =!= 0).count()
    assert(Lake.deleteWhereMor(spark, dir, col("o_orderkey") % 13 === 0) === 3L)
    assert(Lake.read(spark, dir).count() === n - nDel - nDel13)
    assert(Lake.dvStats(spark, dir)._3 === nDel + nDel13)
    // no-match MoR delete commits nothing
    assert(Lake.deleteWhereMor(spark, dir, col("o_orderkey") < 0) === 3L)
    // history classifies the sidecar commits
    assert(Lake.history(dir).map(_.kind).count(_ == "mor_delete") === 2)
  }

  test("deletion vectors: CoW rewrites and CDF never resurrect masked rows") {
    val dir = freshDir("dv2")
    val orders = Tables.orders(spark, sf)
      .select("o_orderkey", "o_orderpriority", "o_totalprice")
    Lake.create(orders, dir, "o_orderkey", targetFiles = 2)
    val nDel = orders.filter(col("o_orderkey") % 7 === 0).count()
    Lake.deleteWhereMor(spark, dir, col("o_orderkey") % 7 === 0)
    // the CDF of the MoR commit is exactly its masked rows as deletes
    val feed = Lake.changes(spark, dir, 1L, 2L)
    assert(feed.filter(col("_change_type") === "delete").count() === nDel)
    assert(feed.filter(col("_change_type") =!= "delete").count() === 0L)
    // an upsert whose touched file carries a mask reads THROUGH it:
    // the rewritten file must not resurrect the masked rows. (The
    // upserted key itself must NOT be a masked one — re-inserting a
    // MoR-deleted key is legitimate SCD1 insert semantics.)
    val upKey = orders.filter(col("o_orderkey") % 7 =!= 0)
      .agg(min(col("o_orderkey"))).head().getLong(0)
    Lake.upsert(spark, dir, orders.filter(col("o_orderkey") === upKey)
      .withColumn("o_orderpriority", lit("9-UP")))
    val t = Lake.read(spark, dir)
    assert(t.filter(col("o_orderkey") % 7 === 0).count() === 0L)
    assert(t.count() === orders.count() - nDel)
    // materialize: empty feed, plain entries, SQL surface serves again
    val vr = Lake.rewriteDvs(spark, dir)
    assert(Lake.changes(spark, dir, vr - 1L, vr).count() === 0L)
    assert(Lake.manifest(dir, vr).files.forall(_.dv.isEmpty))
    val sqlN = spark.read.format("graft-lake").option("path", dir).load().count()
    assert(sqlN === orders.count() - nDel)
    // further rewrite is a no-op
    assert(Lake.rewriteDvs(spark, dir) === vr)
  }

  test("changes mask-only fast path: overlapping masks feed once, payloads exact, restore feeds inserts") {
    // pins the round-15 sidecar-diff path: a MoR step (same file names,
    // only dvs changed) must feed exactly the mask DIFF — not the
    // full before/after reads the general join path pays
    val dir = freshDir("dv-cdf")
    val orders = Tables.orders(spark, sf)
      .select("o_orderkey", "o_orderpriority", "o_totalprice")
    Lake.create(orders, dir, "o_orderkey", targetFiles = 3)
    Lake.deleteWhereMor(spark, dir, col("o_orderkey") % 6 === 0) // v2
    // v3 overlaps v2 (%6 ⊂ %3): already-masked rows must NOT re-feed
    Lake.deleteWhereMor(spark, dir, col("o_orderkey") % 3 === 0) // v3
    val step3 = Lake.changes(spark, dir, 2L, 3L)
    val expect3 = orders
      .filter(col("o_orderkey") % 3 === 0 && col("o_orderkey") % 6 =!= 0)
    assert(step3.filter(col("_change_type") =!= "delete").count() === 0L)
    // payload equality, not just counts: the delete images are the
    // live pre-delete rows
    assert(step3.select("o_orderkey", "o_orderpriority", "o_totalprice")
      .collect().map(_.toSeq).toSet === expect3.collect().map(_.toSeq).toSet)
    // mask SHRINK (restore to v2): the step's feed is the re-surfaced
    // rows as INSERTS — same names, dv rolled back
    Lake.restore(spark, dir, 2L) // v4
    val step4 = Lake.changes(spark, dir, 3L, 4L)
    assert(step4.filter(col("_change_type") =!= "insert").count() === 0L)
    assert(step4.select("o_orderkey", "o_orderpriority", "o_totalprice")
      .collect().map(_.toSeq).toSet === expect3.collect().map(_.toSeq).toSet)
    // and the cumulative feed from v1 nets to the v4 state
    assert(Lake.read(spark, dir).count() ===
      orders.filter(col("o_orderkey") % 6 =!= 0).count())
  }

  test("deletion vectors: SQL scan refuses a MoR snapshot descriptively; vacuum reclaims masks") {
    val dir = freshDir("dv3")
    val orders = Tables.orders(spark, sf).select("o_orderkey", "o_totalprice")
    Lake.create(orders, dir, "o_orderkey", targetFiles = 2)
    Lake.deleteWhereMor(spark, dir, col("o_orderkey") % 5 === 0)
    val e = intercept[Exception] {
      spark.read.format("graft-lake").option("path", dir).load().count()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(_.contains("rewrite_dvs")), s"got: $e")
    // supersede the mask (second delete) then materialize and vacuum:
    // both sidecar dirs are version-only references and must reclaim
    Lake.deleteWhereMor(spark, dir, col("o_orderkey") % 3 === 0)
    val dvDirs = Lake.manifest(dir, 3L).files.flatMap(_.dv).distinct ++
      Lake.manifest(dir, 2L).files.flatMap(_.dv).distinct
    assert(dvDirs.nonEmpty)
    Lake.rewriteDvs(spark, dir)
    Lake.vacuum(dir, retainVersions = 1)
    dvDirs.foreach { d =>
      assert(!new java.io.File(dir, d).exists(), s"sidecar $d must be vacuumed")
    }
    // the materialized state still reads exactly
    assert(Lake.read(spark, dir).count() ===
      orders.filter(col("o_orderkey") % 5 =!= 0 && col("o_orderkey") % 3 =!= 0).count())
  }
}
