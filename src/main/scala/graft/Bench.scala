package graft
import org.apache.spark.sql.SparkSession
object Bench {
  /** Pure-CPU host-speed probe: per-thread xorshift64* loops, wall ms.
    * Identical code and data have measured 73 s and 152 s full-surface
    * totals on this class of shared host in the SAME day (near-uniform
    * per-query inflation + vmstat steal spikes — co-tenant contention).
    * Embedding the probe in every BENCH_FULL.json gives later readers
    * the denominator: per-query regressions are only meaningful
    * between runs whose probe values agree (see BASELINE.md). */
  private def hostProbe(threads: Int): Long = {
    val t0 = System.nanoTime()
    val sink = new java.util.concurrent.atomic.AtomicLong()
    val pool = (0 until threads).map { i =>
      val t = new Thread(() => {
        var x = 0x9E3779B97F4A7C15L + i
        var acc = 0L
        var n = 0
        while (n < 100000000) {
          x ^= x >>> 12; x ^= x << 25; x ^= x >>> 27
          acc += x * 0x2545F4914F6CDD1DL
          n += 1
        }
        sink.addAndGet(acc)
      })
      t.start(); t
    }
    pool.foreach(_.join())
    (System.nanoTime() - t0) / 1000000
  }

  /** The previous committed artifact's per-query seconds (and its sf),
    * parsed leniently from BENCH_FULL.json BEFORE this run overwrites
    * it — the denominator for the uniform-inflation contention check.
    * No JSON library in the dependency budget; the file is our own
    * single-line format, so a pair regex is exact enough. */
  private def priorArtifact(): (Map[String, Double], String) = {
    try {
      val text = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("BENCH_FULL.json")), "UTF-8")
      val qsec = "\"queries\":\\{([^}]*)\\}".r.findFirstMatchIn(text).map(_.group(1))
        .getOrElse("")
      val qs = "\"([A-Za-z0-9_]+)\":(-?[0-9.]+)".r.findAllMatchIn(qsec)
        .map(m => m.group(1) -> m.group(2).toDouble).toMap
      val sf = "\"sf\":\"([^\"]*)\"".r.findFirstMatchIn(text)
        .map(_.group(1)).getOrElse("")
      (qs.filter(_._2 > 0), sf)
    } catch { case _: Throwable => (Map.empty, "") }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Probes BRACKET the run (round 8, VERDICT r7 #4): round 7's
    // driver artifact read 2.1x the quiet run with QUIET probes,
    // because the probe ran only AFTER the 24-minute query window — a
    // steal window that subsides before probe time was invisible.
    // before/mid/after probes + the per-query ratio check below make
    // the artifact carry its own contention verdict.
    val (priorQ, priorSf) = priorArtifact()
    val nThreads = Runtime.getRuntime.availableProcessors()
    // warm the probe's own code path first (ADVICE r8): the before
    // probes run on a JIT-cold JVM while mid/after run hours hot, so
    // an unwarmed first sample can breach the 1.30x disagreement
    // threshold on a perfectly quiet host and false-flag the run.
    // Round 12: additionally take MIN-OF-3 with settle gaps — the
    // forked JVM starts while the sbt parent is still finishing its
    // own post-compile bookkeeping/GC, and that few-second burst read
    // as 1.8x on an otherwise idle host (two false contended flags).
    // The min over a 1s window prices the host, not the launcher's
    // exhaust; a REAL steal window lasts the whole run and still trips
    // the mid/after disagreement.
    hostProbe(1); hostProbe(nThreads)
    def minOf3(threads: Int): Long =
      (0 until 3).map { _ => Thread.sleep(300); hostProbe(threads) }.min
    val probeBefore1 = minOf3(1)
    val probeBeforeN = minOf3(nThreads)
    // Empirically best on the 32-core contract machine at sf0.1:
    // local[16] with 8 shuffle partitions (measured full-suite sweep:
    // 4/4=173s, 8/8=98s, 16/16=163s, 32/32=242s, 32/8=125s, 16/8=84s).
    // More task slots help the scan/codegen stages; FEWER shuffle
    // partitions keep the 96-query tail's stages from drowning in
    // per-task overhead at this data scale. Both remain overridable.
    val spark = Graft.toolSession()
    // Warm the JVM/codegen/file-listing paths so per-query numbers
    // measure the query, not first-touch costs.
    Seq("lineitem", "orders", "customer", "documents", "embeddings", "events")
      .foreach(t => try Tables.read(spark, sfDir, t).count() catch { case _: Throwable => () })
    // Warm EVERY query's generated code at the smallest SF: whole-stage
    // codegen classes + their C2 compilation depend on plan SHAPE, not
    // data size, and first execution of the heavy shapes costs up to
    // 15 s extra (measured: ngram run1 23 s → run3 6.5 s in one JVM).
    // Without this, per-query numbers depend on which earlier query
    // happened to share codegen shapes — i.e. on Map iteration order.
    val warmSf = sfDir.replaceAll("sf[0-9.]+$", "sf0.001")
    if (warmSf != sfDir && new java.io.File(warmSf).isDirectory)
      SparkEntry.queries.foreach { case (_, fn) =>
        try fn(spark, warmSf).count() catch { case _: Throwable => () }
      }
    spark.catalog.clearCache()
    def once(name: String, fn: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame): (Double, Boolean) = {
      val t0 = System.nanoTime()
      // a failed query's cause goes to stderr (never stdout — the JSON
      // line stays parseable): a red bench must be diagnosable from
      // the log, not reproduced under a debugger
      val ok = try { fn(spark, sfDir).count(); true } catch {
        case t: Throwable =>
          System.err.println(s"[bench] $name failed: ${t.getClass.getName}: ${t.getMessage}")
          t.getStackTrace.take(12).foreach(e => System.err.println(s"[bench]   at $e"))
          false
      }
      val dt = (System.nanoTime() - t0) / 1e9
      // queries that persist() intermediates (lang_id's trigram frame,
      // the ml feature vectors) must not occupy storage memory for the
      // rest of the run — later queries would pay their GC bill
      spark.catalog.clearCache()
      // settle the heap between queries so one query's garbage doesn't
      // surface as a GC pause inside the next query's timing window
      System.gc()
      (dt, ok)
    }
    // Every query is timed twice and the MIN reported, unconditionally.
    // The shared host shows 2-3× noise spikes on individual queries
    // (CPU steal / stragglers / residual JIT); a single noisy first run
    // on a heavy query previously faked a 20 s regression. The second
    // run's time only counts when it SUCCEEDED — an intermittent
    // failure's (typically short) duration must not masquerade as a
    // fast success — and a pass-then-fail query is surfaced in the
    // `flaky` list rather than silently reported green on run 1 alone.
    // A query whose steady runs call a fixture memo's `get` reads a
    // memoized fixture: the cold pass below re-times exactly those.
    val touched = Seq.newBuilder[String]
    val results = SparkEntry.queries.map { case (name, fn) =>
      val gets0 = Scratch.FixtureMemo.gets
      val (dt1, ok1) = once(name, fn)
      val (dt, flaky) =
        if (ok1) {
          val (dt2, ok2) = once(name, fn)
          if (ok2) (math.min(dt1, dt2), false) else (dt1, true)
        } else (dt1, false)
      if (Scratch.FixtureMemo.gets != gets0) touched += name
      (name, dt, ok1, flaky)
    }
    val memoizedQueries = touched.result().sorted
    // Cold-accounting pass (round-7, per ADVICE r6): the memoized
    // pair-set consumers' steady-state numbers above are checkpoint-scan
    // timings — run 1 of the first consumer pays the LSH/shingle/simhash
    // materialization and min-of-2 discards it. Re-time each memoized
    // query with the memos INVALIDATED immediately before it, so its
    // cold number includes the full pipeline build. Runs after the
    // steady-state loop (cannot perturb those timings); both
    // accountings land in BENCH_FULL.json (`queries` = steady-state /
    // production marginal cost, `cold_queries` = first-consumer cost),
    // with `memoized` naming exactly which keys the split applies to.
    // mid-run probe: between the steady-state loop and the cold pass —
    // catches a steal window confined to the (long) query phase. Settle
    // the heap first: an in-session probe right after a query loop
    // otherwise races residual GC/JIT threads and reads ~20% hot even
    // on a quiet host (measured 361 vs 292 ms at sf0.001).
    System.gc(); Thread.sleep(200)
    val probeMidN = hostProbe(nThreads)
    val coldResults = memoizedQueries.map { name =>
      SparkEntry.invalidateMemos()
      val (dt, ok) = once(name, SparkEntry.queries(name))
      (name, dt, ok)
    }
    SparkEntry.invalidateMemos()
    // failed queries are surfaced (negative time + errors list), never
    // silently counted as a fast success
    def fmt(v: Double): String = BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    val allEntries = results.toSeq.map { case (k, v, ok, _) =>
      ("\"" + k + "\":" + (if (ok) fmt(v) else "-1.0"), if (ok) v else Double.MaxValue)
    }
    val errors = results.collect { case (k, _, false, _) => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    val flaky = results.collect { case (k, _, true, true) => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    val total = results.collect { case (_, v, true, _) => v }.sum
    // closing probe pair (1-thread isolates clock speed, all-threads
    // exposes co-tenant steal; wall ms, lower = faster host) — kept
    // under the round-1..7 field names so cross-round tooling and the
    // BASELINE.md normalization notes keep reading
    System.gc(); Thread.sleep(200)
    val probe1 = hostProbe(1)
    val probeN = hostProbe(nThreads)
    // ---- self-adjudication (VERDICT r7 #4) ----------------------------
    // Signal 1: the bracketing probes disagree >30% — the host speed
    // CHANGED during the run, so per-query numbers mix regimes. The
    // threshold sits between in-session probe jitter (~1.2x even after
    // a gc+settle: the JVM's own background threads) and the real
    // steal signature (round 6/7 episodes read 2-4.4x) — a flag that
    // fires on quiet runs would be ignored on contended ones.
    val probesN = Seq(probeBeforeN, probeMidN, probeN).map(_.toDouble)
    val probeDisagree = probesN.max / probesN.min > 1.30
    // Signal 2: uniform inflation vs the last committed artifact at
    // the same sf — the contention signature that round 7 required
    // manual forensics to establish (median ratio AND the 10th
    // percentile both elevated ⇒ the whole surface slowed, which no
    // plan regression does; a real regression is concentrated).
    val ratios = (for {
      (k, v, ok, _) <- results if ok
      p <- priorQ.get(k) if p > 0 && priorSf == sfDir
    } yield v / p).toSeq.sorted
    def quantile(q: Double): Double =
      if (ratios.isEmpty) 1.0
      else ratios(math.min(ratios.size - 1, (q * ratios.size).toInt))
    val medianVsPrev = quantile(0.5)
    val p10VsPrev = quantile(0.1)
    val uniformInflation = ratios.size >= 20 && medianVsPrev > 1.5 && p10VsPrev > 1.2
    val contended = probeDisagree || uniformInflation
    val adjudication =
      s""""probe_before_1t_ms":$probeBefore1,"probe_before_nt_ms":$probeBeforeN,""" +
      s""""probe_mid_nt_ms":$probeMidN,"probe_after_1t_ms":$probe1,""" +
      s""""probe_after_nt_ms":$probeN,"vs_prev_median":${fmt(medianVsPrev)},""" +
      s""""vs_prev_p10":${fmt(p10VsPrev)},"vs_prev_n":${ratios.size},""" +
      s""""probe_disagree":$probeDisagree,"uniform_inflation":$uniformInflation,""" +
      s""""contended":$contended"""
    val fullQs = allEntries.map(_._1).mkString("{", ",", "}")
    val memoizedJson = memoizedQueries.map("\"" + _ + "\"").mkString("[", ",", "]")
    val coldQs = coldResults
      .map { case (k, v, ok) => "\"" + k + "\":" + (if (ok) fmt(v) else "-1.0") }
      .mkString("{", ",", "}")
    val coldTotal = coldResults.collect { case (_, v, true) => v }.sum
    val fullLine = s"""{"metric":"total","value":${fmt(total)},"unit":"sec","n_queries":${results.size},"host_probe_1t_ms":$probe1,"host_probe_nt_ms":$probeN,$adjudication,"queries":$fullQs,"memoized":$memoizedJson,"cold_queries":$coldQs,"cold_total":${fmt(coldTotal)},"errors":$errors,"flaky":$flaky,"sf":"$sfDir"}"""
    // Complete per-query detail goes to a file; the harness that captures
    // stdout keeps only the last ~2000 characters, so the printed line is
    // size-bounded: slowest queries first, greedily packed to the budget.
    try {
      val w = new java.io.PrintWriter("BENCH_FULL.json")
      try w.println(fullLine) finally w.close()
    } catch { case _: Throwable => () }
    val suffixTail = s""","cold_total":${fmt(coldTotal)},"n_memoized":${coldResults.size},"probe_nt_ms":[$probeBeforeN,$probeMidN,$probeN],"contended":$contended,"errors":$errors,"flaky":$flaky,"sf":"$sfDir","full":"BENCH_FULL.json"}"""
    val prefixBase = s"""{"metric":"total","value":${fmt(total)},"unit":"sec","n_queries":${results.size},"""
    val budget = 1600 - suffixTail.length - prefixBase.length - 64 // slack for n_shown + braces
    val sortedBySlow = allEntries.sortBy { case (_, t) => -t } // errors (MaxValue) first: always visible
    val shown = scala.collection.mutable.ArrayBuffer.empty[String]
    var used = 0
    sortedBySlow.foreach { case (s, _) =>
      if (used + s.length + 1 <= budget) { shown += s; used += s.length + 1 }
    }
    val qs = shown.mkString("{", ",", "}")
    println(prefixBase + s""""n_shown":${shown.size},"queries":$qs""" + suffixTail)
    spark.stop()
    // A broken registered query must never ride into the round gate
    // disguised as a bench artifact with a quiet `-1.0`: the JSON line is
    // already printed/persisted above, so failing the process loses no
    // data but turns any error red in CI and in tools/round_check.sh.
    val nErrors = results.count { case (_, _, ok, _) => !ok } +
      coldResults.count { case (_, _, ok) => !ok }
    if (nErrors > 0) {
      System.err.println(s"BENCH RED: $nErrors queries errored: $errors")
      sys.exit(1)
    }
  }
}
