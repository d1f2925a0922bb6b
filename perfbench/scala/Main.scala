package graft.perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

final case class Metric(name: String, unit: String, value: Double, n: Int)

object Stats {
  /** Linear-interpolated percentile, 0 for no samples. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val r = (s.size - 1) * p / 100.0
      val lo = math.floor(r).toInt; val hi = math.ceil(r).toInt
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }
}

/** The timed samples of one loop. */
final class Samples {
  val kinds = mutable.ArrayBuffer[String]()
  /** Each operation's slot: its position in its round. */
  val slots = mutable.ArrayBuffer[Int]()
  val ms = mutable.ArrayBuffer[Double]()
  var items = 0L
  var failed = 0
  def ops: Int = ms.size
  /** Summed operation time: the loop's wall without the output checks. */
  def timedS: Double = ms.sum / 1000.0
  def of(k: Set[String]): Seq[Double] = kinds.zip(ms).collect { case (x, t) if k(x) => t }.toSeq
  /** The latencies of each slot of the round whose kind passes `k`. One
    * kind can cost differently at two slots: a point read right after a
    * deletion-vector delete reads more than one after a compaction. */
  private def bySlot(k: String => Boolean): Seq[Seq[Double]] =
    ms.indices.filter(j => k(kinds(j))).groupBy(slots).values.map(_.map(ms)).toSeq
  /** Mean over the slots whose kind passes `k` of each slot's median
    * latency. A median over a pool of kinds sits where two kinds'
    * latencies meet, so one slow operation of the faster kind moves it;
    * a median per slot does not. */
  def slotP50(k: String => Boolean): Double = {
    val g = bySlot(k)
    if (g.isEmpty) 0.0 else g.map(Stats.pct(_, 50)).sum / g.size
  }
  /** Work items per second, with every operation timed at its slot's
    * median: a rate that one slow operation does not move. */
  def rateP50: Double = items / (bySlot(_ => true).map(xs => Stats.pct(xs, 50) * xs.size).sum / 1000.0)
}

object Layers {
  private def perOp(tr: Tracer, f: Span => Double): Seq[Double] = tr.opSpans.map(f)
  /** Median over operations of the self time of the spans named `name`. */
  def spanP50(tr: Tracer, name: String): Double = {
    val xs = perOp(tr, op => tr.subtree(op).filter(_.name == name).map(tr.selfMs).sum)
    Stats.pct(xs.filter(_ > 0), 50)
  }
  def countP50(tr: Tracer, name: String): Double =
    Stats.pct(tr.counts.collect { case ((_, n), v) if n == name => v }.toSeq, 50)
  def countSum(tr: Tracer, name: String): Double =
    tr.counts.collect { case ((_, n), v) if n == name => v }.sum
  def countMean(tr: Tracer, name: String): Double =
    countSum(tr, name) / math.max(1, tr.opSpans.size)

  /** Layer metrics every workload shares: Catalyst, injected rules,
    * scheduler, shuffle, scan and JVM. Values are medians over the
    * traced operations of each operation's total. */
  def common(tr: Tracer, nproc: Int, gcMs: Double, heapMb: Double): Map[String, Double] = {
    val ops = tr.opSpans
    def p50(f: Span => Double): Double = Stats.pct(ops.map(f), 50)
    def cnt(op: Span, n: String): Double = tr.counts.getOrElse((op.op, n), 0.0)
    val jobs = ops.map(op => op -> tr.jobsUnder(op)).toMap
    def sumJobs(op: Span, f: JobRec => Double): Double = jobs(op).map(f).sum
    val wallMs = ops.map(tr.ms).sum
    val runMs = ops.map(op => sumJobs(op, _.runMs.toDouble)).sum
    val skews = jobs.values.flatten.flatMap(_.stageTaskMs.values).filter(_.size > 1).map { ts =>
      ts.max / math.max(1.0, Stats.pct(ts.map(_.toDouble).toSeq, 50))
    }.toSeq
    val runs = ops.map(cnt(_, "plans.matview_rewrite_runs")).sum
    Map(
      "catalyst.analysis_ms" -> p50(cnt(_, "catalyst.analysis_ms")),
      "catalyst.optimization_ms" -> p50(cnt(_, "catalyst.optimization_ms")),
      "catalyst.planning_ms" -> p50(cnt(_, "catalyst.planning_ms")),
      "plans.matview_rewrite_ms" -> p50(cnt(_, "plans.matview_rewrite_ms")),
      "plans.topn_prune_ms" -> p50(cnt(_, "plans.topn_prune_ms")),
      "plans.range_join_rule_ms" -> p50(cnt(_, "plans.range_join_rule_ms")),
      "plans.matview_rewrite_effective_ratio" ->
        (if (runs == 0) 0.0 else ops.map(cnt(_, "plans.matview_rewrite_effective")).sum / runs),
      "jobs.count" -> p50(op => jobs(op).size.toDouble),
      "jobs.tasks" -> p50(op => sumJobs(op, _.tasks.toDouble)),
      "jobs.busy_ms" -> p50(op => tr.busyMs(jobs(op))),
      "jobs.driver_gap_ms" -> p50(op => tr.ms(op) - tr.busyMs(jobs(op))),
      "jobs.executor_run_ms" -> p50(op => sumJobs(op, _.runMs.toDouble)),
      "jobs.executor_cpu_ms" -> p50(op => sumJobs(op, _.cpuNs / 1e6)),
      "jobs.core_util" -> (if (wallMs == 0) 0.0 else runMs / (wallMs * nproc)),
      "jobs.task_skew" -> Stats.pct(skews, 90),
      "shuffle.write_bytes" -> p50(op => sumJobs(op, _.shWrite.toDouble)),
      "shuffle.read_bytes" -> p50(op => sumJobs(op, _.shRead.toDouble)),
      "shuffle.fetch_wait_ms" -> p50(op => sumJobs(op, _.fetchWaitMs.toDouble)),
      "spill.memory_bytes" -> p50(op => sumJobs(op, _.spillMem.toDouble)),
      "spill.disk_bytes" -> p50(op => sumJobs(op, _.spillDisk.toDouble)),
      "scan.input_bytes" -> p50(op => sumJobs(op, _.inBytes.toDouble)),
      "scan.input_rows" -> p50(op => sumJobs(op, _.inRows.toDouble)),
      "jvm.gc_ms" -> gcMs / math.max(1, ops.size),
      "jvm.heap_after_gc_mb" -> heapMb,
      "trace.spans" -> tr.spans.size.toDouble)
  }
}

/** Host facts recorded with every result, so that a contended run can
  * be recognised and runs at different core counts are not compared. */
object Host {
  def loadavg: String =
    scala.util.Try(new String(java.nio.file.Files.readAllBytes(new File("/proc/loadavg").toPath)).trim)
      .getOrElse("")
  /** (steal, total) jiffies of the aggregate cpu line of /proc/stat. */
  def steal: (Long, Long) = scala.util.Try {
    val f = scala.io.Source.fromFile("/proc/stat")
    try {
      val xs = f.getLines().next().split("\\s+").drop(1).map(_.toLong)
      (if (xs.length > 7) xs(7) else 0L, xs.sum)
    } finally f.close()
  }.getOrElse((0L, 0L))
  def peakRssMb: Double = scala.util.Try {
    val f = scala.io.Source.fromFile("/proc/self/status")
    try f.getLines().find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    finally f.close()
  }.getOrElse(0.0)
  def gcMs: Double = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum.toDouble
  def heapAfterGcMb: Double = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
    .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1048576.0
}

/** Runs one workload at one seed and prints its metrics; the last line
  * of standard output is the JSON result.
  *
  * Usage: Main --workload ingest|lake|dedup --seed N --seconds S
  * --trace 0|1 --work DIR */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts.getOrElse("trace", "0") == "1"
    val work = new File(opts("work")).getAbsoluteFile
    val nproc = Runtime.getRuntime.availableProcessors()
    val master = s"local[$nproc]"

    val loadBefore = Host.loadavg
    val stealBefore = Host.steal
    val t0 = System.nanoTime()
    val spark: SparkSession = graft.Graft.builder(master, nproc)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      // the scan split settings graft.Bench times the registered queries with
      .config("spark.sql.files.maxPartitionBytes", "4m")
      .config("spark.sql.files.openCostInBytes", "1m")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.functions.VectorFunctions.register(spark)
    graft.functions.StringFunctions.register(spark)
    graft.functions.Shingles.register(spark)
    val sessionS = (System.nanoTime() - t0) / 1e9

    val wl: Workload = workload match {
      case "ingest" => new IngestWorkload(spark, seed, batches = 40, rowsPerBatch = 15000)
      case "lake" => new LakeWorkload(spark, seed, rows = 15000, withView = trace)
      case "dedup" => new DedupWorkload(spark, seed, docs = 2000)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    // set-up: generate the seeded inputs several times, report the median
    val setupTimes = (0 until wl.setupReps).map { k =>
      val dir = new File(work, s"input-$k")
      Gen.rm(dir)
      val s0 = System.nanoTime()
      wl.setup(dir.getPath)
      (System.nanoTime() - s0) / 1e9
    }
    var i = 0
    var failed = 0
    /** An operation that throws counts as failed; the loop goes on. */
    def attempt(tr: Tracer): OpResult =
      try tr.op(i, wl.name)(wl.op(i, tr))
      catch {
        case e: Exception =>
          System.err.println(s"[perfbench] op $i failed: $e")
          e.printStackTrace()
          OpResult("failed", 0, () => false)
      }
    val off = new Tracer(false, spark.sparkContext)
    val w0 = System.nanoTime()
    while (i < wl.warmRounds * wl.roundSize) { if (!attempt(off).check()) failed += 1; i += 1 }
    val warmS = (System.nanoTime() - w0) / 1e9

    /** Runs whole rounds until `budgetS` has passed and at least the
      * workload's `minRounds` are done. */
    def loop(tr: Tracer, budgetS: Double): Samples = {
      val s = new Samples
      val i0 = i
      val l0 = System.nanoTime()
      var done = false
      while (!done) {
        val o0 = System.nanoTime()
        val r = attempt(tr)
        s.ms += (System.nanoTime() - o0) / 1e6
        s.kinds += r.kind
        s.slots += i % wl.roundSize
        s.items += r.items
        if (!tr.outside(r.check())) s.failed += 1
        i += 1
        done = i % wl.roundSize == 0 && (i + wl.roundSize > wl.maxOps ||
          ((System.nanoTime() - l0) / 1e9 >= budgetS && i - i0 >= wl.minRounds * wl.roundSize))
      }
      s
    }

    val plain = loop(off, if (trace) seconds / 2 else seconds)
    val rss = Host.peakRssMb
    val headline = wl.headline(plain)
    val stealAfter = Host.steal
    val loadAfter = Host.loadavg

    val e2e = Seq(
      Metric("setup_s", "s", Stats.pct(setupTimes, 50), wl.setupReps),
      Metric("op_p50_ms", "ms", plain.slotP50(wl.latencyKinds), plain.kinds.count(wl.latencyKinds)),
      Metric("throughput", "1/s", plain.rateP50, plain.ops))

    val (traced, layerMetrics) = if (!trace) (None, Seq.empty[Metric]) else {
      val tr = new Tracer(true, spark.sparkContext)
      val gc0 = Host.gcMs
      val s = loop(tr, seconds)
      tr.drain()
      val gc = Host.gcMs - gc0
      val lm = Layers.common(tr, nproc, gc, Host.heapAfterGcMb) ++ wl.layers(tr) ++ Map(
        "trace.overhead_ms" -> (s.slotP50(wl.latencyKinds) - plain.slotP50(wl.latencyKinds)),
        "trace.overhead_share" ->
          (s.slotP50(wl.latencyKinds) / math.max(1e-9, plain.slotP50(wl.latencyKinds)) - 1.0))
      tr.writeJsonl(new File(work, s"spans-$workload-$seed.jsonl"), workload, seed)
      tr.close()
      (Some(s), lm.toSeq.sortBy(_._1).map { case (k, v) => Metric(k, unitOf(k), v, s.ops) })
    }
    val finalOk = wl.finish()
    spark.stop()

    val attempted = wl.warmRounds * wl.roundSize + plain.ops + traced.map(_.ops).getOrElse(0)
    val failedAll = failed + plain.failed + traced.map(_.failed).getOrElse(0)
    val correct = finalOk && failedAll == 0
    val stealShare = {
      val dt = stealAfter._2 - stealBefore._2
      if (dt <= 0) 0.0 else (stealAfter._1 - stealBefore._1).toDouble / dt
    }

    println(s"# perfbench workload=$workload seed=$seed trace=${if (trace) 1 else 0}")
    println(s"# host nproc=$nproc master=$master shuffle_partitions=$nproc " +
      s"xmx_mb=${Runtime.getRuntime.maxMemory / 1048576} loadavg_before=[$loadBefore] " +
      s"loadavg_after=[$loadAfter] steal_share=${Json.num(stealShare)}")
    println(f"# session_s=$sessionS%.3f warm_s=$warmS%.3f setup_s_each=${setupTimes.map(t => f"$t%.3f").mkString(",")}")
    def show(m: Metric): Unit = println(f"${m.name}%-38s ${Json.num(m.value)}%16s ${m.unit}%-9s n=${m.n}")
    println("## end-to-end (untraced)")
    e2e.foreach(show)
    headline.foreach(show)
    show(Metric("peak_rss_mb", "MB", rss, 1))
    println(f"${"failed_op_share"}%-38s ${Json.num(failedAll.toDouble / attempted)}%16s ${"ratio"}%-9s n=$attempted")
    println("## untraced p50 per operation kind")
    plain.kinds.distinct.sorted.foreach { k =>
      val xs = plain.of(Set(k))
      println(f"# $k%-36s ${Stats.pct(xs, 50)}%12.1f ms n=${xs.size}")
    }
    println(s"# op_ms ${plain.ms.map(t => f"$t%.0f").mkString(",")}")
    traced.foreach { s =>
      println("## traced loop")
      println(f"${"traced_op_p50_ms"}%-38s ${Json.num(s.slotP50(wl.latencyKinds))}%16s ${"ms"}%-9s n=${s.ops}")
      println(f"${"untraced_op_p50_ms"}%-38s ${Json.num(plain.slotP50(wl.latencyKinds))}%16s ${"ms"}%-9s n=${plain.ops}")
      println("## per-layer (traced)")
      layerMetrics.foreach(show)
    }
    val shown = if (trace) layerMetrics else e2e
    val metricsJson = shown.map(m =>
      s"${Json.str(m.name)}: {${Json.str("value")}: ${Json.num(m.value)}, ${Json.str("unit")}: ${Json.str(m.unit)}}")
    println(s"""{"correct": $correct, "attempted": $attempted, "failed": $failedAll, "metrics": {${metricsJson.mkString(", ")}}}""")
    System.out.flush()
    if (!correct) sys.exit(1)
  }

  def unitOf(name: String): String = name match {
    case n if n.endsWith("_ms") => "ms"
    case n if n.endsWith("_bytes") || n.endsWith("bytes_written") || n.endsWith("bytes_rewritten") => "bytes"
    case n if n.endsWith("_mb") => "MB"
    case n if n.endsWith("_rows") => "rows"
    case "jobs.count" | "jobs.tasks" | "trace.spans" | "lake.files_live" | "lake.log_versions" |
         "ingest.union_files" | "ingest.mixed_union_failures" | "lake.commit_jobs" => "count"
    case _ => "ratio"
  }
}
