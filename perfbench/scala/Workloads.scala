package graft.perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{IngestJob, SparkEntry}
import graft.ingest.{RawReader, Sniffer}
import graft.lake.{Lake, MatView}
import graft.ops.{CountyRollup, DistrictExtract, FuzzyMatch, Normalize, SchemaAlign}
import graft.schema.ContestSchema

/** What one operation did: its kind, the work items it completed (rows,
  * ops or documents) and the check of its output, which the loop runs
  * outside the timed region and outside the operation's span. */
final case class OpResult(kind: String, items: Long, check: () => Boolean)

/** A closed-loop workload driven by one client thread. */
trait Workload {
  def name: String
  /** Generates the seeded inputs under `dir`. Called several times per
    * run, each time into a fresh directory; the last call's inputs are
    * the ones the run uses. */
  def setup(dir: String): Unit
  /** Set-ups per run; `setup_s` is their median. */
  def setupReps: Int = 3
  /** Operations per round. The loop ends on a round boundary, so every
    * run holds the same operation mix. */
  def roundSize: Int
  /** Operations the generated inputs can feed; the loop stops before it. */
  def maxOps: Int = Int.MaxValue
  /** Untimed rounds before the loop. They load and compile the code the
    * loop times; the first records the reference results later rounds
    * are checked against. */
  def warmRounds: Int = 2
  /** Timed rounds the loop runs at least, however short the time budget:
    * every slot's median then has three samples or more. Each workload
    * sets it so that these rounds take at least the run's usual budget
    * (10 s on 4 cores): the loop then runs as many rounds on every seed.
    * When the count swings with the host's speed, a fast run's median
    * takes in more of the later, warmer rounds than a slow one's, which
    * widens the spread between runs. */
  def minRounds: Int = 3
  /** Runs operation `i`. */
  def op(i: Int, tr: Tracer): OpResult
  /** End-of-run correctness check of the program's final state. */
  def finish(): Boolean
  /** The operation kinds whose slots' medians `op_p50_ms` averages:
    * every kind, by default. */
  def latencyKinds: String => Boolean = _ => true
  /** The workload's own headline figures, from the untimed samples. */
  def headline(s: Samples): Seq[Metric]
  /** Per-layer metrics of the traced loop. */
  def layers(tr: Tracer): Map[String, Double]
}

object Check {
  /** Row count and an order-independent hash of every column of `df`,
    * computed in one job. */
  def sig(df: DataFrame): (Long, Long, DataFrame) = {
    val flat = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val agg = flat.select(xxhash64(flat.columns.map(col): _*).as("h"))
      .agg(count(lit(1)), sum(pmod(col("h"), lit(1000000007L))))
    val r = agg.collect().head
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1), agg)
  }

  /** Catalyst phase times and injected-rule stats of the frames an
    * operation built, into the tracer's per-op counters. */
  def catalyst(tr: Tracer, dfs: DataFrame*): Unit = if (tr.enabled) {
    dfs.foreach { df =>
      val t = df.queryExecution.tracker
      Seq("analysis", "optimization", "planning").foreach { p =>
        t.phases.get(p).foreach(s => tr.count(s"catalyst.${p}_ms", s.durationMs.toDouble))
      }
      t.rules.foreach { case (rule, s) =>
        Seq("MatViewRewrite" -> "matview_rewrite", "TopNFilterPrune" -> "topn_prune",
          "BinnedRangeJoinRule" -> "range_join_rule").foreach { case (cls, key) =>
          if (rule.endsWith(cls)) {
            tr.count(s"plans.${key}_ms", s.totalTimeNs / 1e6)
            tr.count(s"plans.${key}_runs", s.numInvocations.toDouble)
            tr.count(s"plans.${key}_effective", s.numEffectiveInvocations.toDouble)
          }
        }
      }
    }
  }
}

/** `ingest`: the paper's flow. One operation stages nothing new: it
  * runs `IngestJob.run` on one pre-staged batch (append to a partitioned
  * store), then the county rollup over that batch's election dates. */
final class IngestWorkload(spark: SparkSession, seed: Long, batches: Int, rowsPerBatch: Int)
    extends Workload {
  /** The first warm round's batches are a tenth the size: they load the
    * same code at a fraction of the run's time budget; the second round's
    * are full-size, so that the JIT has compiled the hot paths before the
    * loop times them. */
  private def rowsOf(b: Int): Int = if (b < roundSize) rowsPerBatch / 10 else rowsPerBatch
  val name = "ingest"
  private var staged: Seq[Gen.Batch] = Nil
  private var store = ""
  private var ok = true
  val runMs = mutable.ArrayBuffer[Double]()
  val rollupMs = mutable.ArrayBuffer[Double]()
  private val rowsDone = mutable.ArrayBuffer[Long]()

  def setup(dir: String): Unit = {
    staged = Gen.staged(s"$dir/staged", seed, batches, rowsOf)
    store = s"$dir/store"
  }

  def roundSize = 2
  override def maxOps: Int = batches
  /** Its set-up is the cheapest (about 0.1 s on 4 cores), and its
    * times vary the most, so the median is taken over more of them. */
  override def setupReps: Int = 15
  /** Its rounds take about 3 s on 4 cores. */
  override def minRounds: Int = 4

  def op(i: Int, tr: Tracer): OpResult = {
    require(i < staged.size, s"ran out of staged batches at op $i")
    val b = staged(i)
    if (tr.enabled) traceLayers(b, tr)
    val t0 = System.nanoTime()
    val n = tr.span("ingest.run")(IngestJob.run(spark, b.dir, store, ContestSchema.precinct))
    val t1 = System.nanoTime()
    val (rolled, votes) = tr.span("ops.rollup") {
      val df = CountyRollup(spark.read.parquet(store).filter(col("election_date").isin(b.dates: _*)))
        .agg(count(lit(1)), sum(col("total_votes")))
      val r = df.collect().head
      Check.catalyst(tr, df)
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }
    val t2 = System.nanoTime()
    if (i >= warmRounds * roundSize) { runMs += (t1 - t0) / 1e6; rollupMs += (t2 - t1) / 1e6; rowsDone += b.rows }
    OpResult(if (i % 2 == 0) "single_scan" else "union", b.rows, () => {
      val tally = b.votesByDate.values.sum
      val stored = spark.read.parquet(store).filter(col("election_date").isin(b.dates: _*))
        .agg(count(lit(1)), sum(col("total_votes"))).collect().head
      val good = n >= b.wellFormed && n <= b.rows && rolled > 0 && votes == tally &&
        stored.getLong(0) >= b.wellFormed && stored.getLong(0) <= b.rows && stored.getLong(1) == tally
      if (!good) System.err.println(s"[perfbench] ingest batch $i wrong: rows=$n stored=$stored " +
        s"rollup_votes=$votes tally=$tally well_formed=${b.wellFormed} generated=${b.rows}")
      ok &&= good
      good
    })
  }

  /** Calls the layers `IngestJob.run` is made of, one by one, on the same
    * batch, so each gets its own span; the run itself follows. */
  private def traceLayers(b: Gen.Batch, tr: Tracer): Unit = {
    val files = new File(b.dir).listFiles().filter(_.isFile).map(_.getPath).sorted
    tr.span("ingest.sniff")(files.foreach(Sniffer.sniffFile))
    val raw = tr.span("ingest.read")(RawReader.readDir(spark, b.dir))
    val leaves = raw.queryExecution.analyzed.collectLeaves().size
    tr.count("ingest.union_files", if (leaves > 1) leaves.toDouble else 0.0)
    val aligned = tr.span("ops.map") {
      val schema = ContestSchema.precinct
      val merged = FuzzyMatch.mapColumns(schema.fieldNames.toSeq, raw.columns.toSeq)
      val mapping = schema.fieldNames.toSeq.flatMap(c => merged.get(c).map(_ -> c))
      SchemaAlign(DistrictExtract.withGate(Normalize(raw, mapping)), schema)
    }
    tr.span("ops.plan")(aligned.queryExecution.executedPlan)
    tr.count("ingest.staged_bytes", b.bytes.toDouble)
  }

  def finish(): Boolean = {
    val total = spark.read.parquet(store).agg(sum(col("total_votes"))).collect().head
    val done = staged.take(rowsDone.size + warmRounds * roundSize).map(_.votesByDate.values.sum).sum
    val good = ok && !total.isNullAt(0) && total.getLong(0) == done
    if (!good) System.err.println(s"[perfbench] ingest store total ${total} != tally $done")
    good
  }

  def headline(s: Samples): Seq[Metric] = Seq(
    Metric("ingest_rows_per_s", "rows/s", rowsDone.sum / (runMs.sum / 1000.0), runMs.size),
    Metric("ingest_rollup_p50_s", "s", Stats.pct(rollupMs.toSeq, 50) / 1000.0, rollupMs.size))

  /** Ingests [[Gen.mixedUnion]]'s batch into a store of its own: 1 when
    * it fails or loses well-formed rows (the per-file union path's known
    * defect), 0 when it lands them. */
  private def mixedUnionProbe(): Double = {
    val probe = new File(new File(store).getParentFile, "mixed-union")
    val wellFormed = Gen.mixedUnion(s"$probe/staged")
    val r = scala.util.Try(IngestJob.run(spark, s"$probe/staged", s"$probe/store", ContestSchema.precinct))
    if (r.toOption.exists(_ >= wellFormed)) 0.0
    else {
      System.err.println(s"[perfbench] known defect: a union batch mixing files with and without " +
        s"a malformed vote total does not ingest: ${r.failed.map(_.getMessage.take(200)).getOrElse(r.get)}")
      1.0
    }
  }

  def layers(tr: Tracer): Map[String, Double] = {
    val ops = tr.opSpans
    val perOp = ops.map { op =>
      val run = tr.subtree(op).filter(_.name == "ingest.run")
      val runJobs = tr.jobsOf(run.map(_.id).toSet)
      val staged = tr.counts.getOrElse((op.op, "ingest.staged_bytes"), 1.0)
      val readJobs = tr.jobsOf(tr.subtree(op).filter(_.name == "ingest.read").map(_.id).toSet)
      // call sites inside IngestJob.run: "csv at RawReader…" is schema
      // inference, "parquet at IngestJob…" the write; the recount's jobs
      // run on AQE's stage threads and carry no call site of ours
      val rest = runJobs.filterNot(_.callSite.startsWith("csv at"))
      val (write, recount) = rest.partition(_.callSite.startsWith("parquet at"))
      Map(
        "ops.write_ms" -> tr.busyMs(write),
        "ops.recount_ms" -> tr.busyMs(recount),
        "ops.scan_passes" -> runJobs.map(_.inBytes).sum / staged,
        "ingest.read_input_bytes" -> readJobs.map(_.inBytes).sum.toDouble,
        "ops.rollup_shuffle_bytes" -> tr.jobsOf(tr.subtree(op).filter(_.name == "ops.rollup")
          .map(_.id).toSet).map(_.shWrite).sum.toDouble)
    }
    val med = perOp.flatMap(_.keys).distinct.map(k => k -> Stats.pct(perOp.map(_(k)), 50)).toMap
    med ++ Seq(
      "ingest.mixed_union_failures" -> mixedUnionProbe(),
      "ingest.sniff_ms" -> Layers.spanP50(tr, "ingest.sniff"),
      "ingest.read_ms" -> Layers.spanP50(tr, "ingest.read"),
      "ingest.union_files" -> Layers.countMean(tr, "ingest.union_files"),
      "ops.map_ms" -> Layers.spanP50(tr, "ops.map"),
      "ops.plan_ms" -> Layers.spanP50(tr, "ops.plan"),
      "ops.rollup_ms" -> Layers.spanP50(tr, "ops.rollup"))
  }
}

/** `lake`: a fixed round of reads and writes on one versioned table,
  * with seeded keys, checked against an in-memory model of the table. */
final class LakeWorkload(spark: SparkSession, seed: Long, rows: Long, withView: Boolean)
    extends Workload {
  val name = "lake"
  private var dir = ""
  /** The model: key → (priority, cents), and (rows, Σ cents) per version. */
  private val model = mutable.HashMap[Long, (String, Long)]()
  private val history = mutable.HashMap[Long, (Long, Long)]()
  private var maxKey = 0L
  private var commits = 0
  private var ok = true
  private val rnd = new scala.util.Random(seed)
  private var userBytes = 0.0
  private var bytesPerRow = 0.0
  private var dirBytesAtStart = 0L
  val CompactEvery = 3
  /** One round: 5 reads and 3 writes, the last of which also compacts
    * the table. The order is fixed, not seeded: what a read costs
    * depends on the writes before it (deletion vectors, files since the
    * last compaction), so a seeded order would make the seed a cost
    * factor. The view is not read or refreshed in the timed loop: a
    * synchronous refresh (37 jobs, ~6 s on 4 cores) or the compensation
    * a stale view pays on every read would take most of the run's time
    * budget and most of its variance. A traced run defines the view at
    * set-up and, after its loop, times one refresh and one aggregate
    * the refreshed view answers. */
  val Round: Seq[String] = Seq("upsert", "point", "range", "delete_mor", "travel",
    "point", "merge", "range")

  def setup(d: String): Unit = {
    dir = s"$d/orders"
    val orders = Gen.orders(spark, seed, rows)
    Lake.create(orders, dir, "o_orderkey")
    if (withView) MatView.define(spark, dir, s"$d/orders-view", Seq("o_orderpriority"), Seq("o_cents"))
    model.clear(); history.clear(); commits = 0
    orders.collect().foreach(r => model(r.getLong(0)) = (r.getString(1), r.getLong(2)))
    maxKey = model.keys.max
    history(Lake.latestVersion(dir)) = snapshot
    dirBytesAtStart = Gen.dirBytes(new File(dir))
    bytesPerRow = dirBytesAtStart.toDouble / model.size
  }

  private def snapshot: (Long, Long) = (model.size.toLong, model.valuesIterator.map(_._2).sum)

  private val Reads = Set("point", "range", "travel")

  /** Reads only: the writes show in `throughput`. */
  override def latencyKinds: String => Boolean = Reads

  def roundSize: Int = Round.size
  /** Its rounds are the longest; the loop's per-slot medians over four
    * rounds leave out the first timed one, which is still the slowest. */
  override def warmRounds: Int = 1
  override def minRounds: Int = 4

  private def batch(keys: Seq[Long]): DataFrame = {
    import spark.implicits._
    keys.map(k => (k, Gen.Priorities(rnd.nextInt(5)), rnd.nextInt(5000000).toLong))
      .toDF("o_orderkey", "o_orderpriority", "o_cents")
  }

  private def apply(df: DataFrame): Unit =
    df.collect().foreach(r => model(r.getLong(0)) = (r.getString(1), r.getLong(2)))

  /** `n` consecutive keys at or below `maxKey`, so that a batch never
    * repeats a key of the new keys an upsert appends above it. */
  private def keyRange(n: Int): Seq[Long] = {
    val lo = (rnd.nextDouble() * (maxKey - n)).toLong
    lo until lo + n
  }

  def op(i: Int, tr: Tracer): OpResult = {
    val kind = Round(i % roundSize)
    val check = kind match {
      case "point" | "range" | "travel" => read(kind, tr)
      case w => write(w, tr); () => true
    }
    OpResult(kind, 1, () => {
      val good = check()
      if (!good) System.err.println(s"[perfbench] lake op $i ($kind) disagrees with the model")
      ok &&= good
      good
    })
  }

  /** Runs one read; returns its check against the model. */
  private def read(kind: String, tr: Tracer): () => Boolean = kind match {
    case "point" =>
      val k = model.keysIterator.drop(rnd.nextInt(model.size)).next()
      val df = tr.span("lake.read_plan")(Lake.readPoint(spark, dir, "o_orderkey", k))
      val r = tr.span("lake.read_exec")(df.select(col("o_cents")).collect())
      scanCounts(tr, df); Check.catalyst(tr, df)
      () => r.map(_.getLong(0)).toSeq == Seq(model(k)._2)
    case "range" =>
      val lo = (rnd.nextDouble() * maxKey).toLong; val hi = lo + 2000
      val df = tr.span("lake.read_plan")(Lake.readColRange(spark, dir, "o_orderkey", lo, hi))
      val agg = df.agg(count(lit(1)), sum(col("o_cents")))
      val r = tr.span("lake.read_exec")(agg.collect().head)
      scanCounts(tr, df); Check.catalyst(tr, agg)
      () => {
        val in = model.iterator.filter { case (k, _) => k >= lo && k <= hi }.map(_._2._2).toSeq
        r.getLong(0) == in.size && (in.isEmpty || r.getLong(1) == in.sum)
      }
    case "travel" =>
      // three versions back: the state before the round's last writes
      val v = math.max(1L, Lake.latestVersion(dir) - 3)
      val df = tr.span("lake.read_plan")(Lake.read(spark, dir, v))
      val agg = df.agg(count(lit(1)), sum(col("o_cents")))
      val r = tr.span("lake.read_exec")(agg.collect().head)
      scanCounts(tr, df); Check.catalyst(tr, agg)
      () => (r.getLong(0), r.getLong(1)) == history(v)
  }

  private def scanCounts(tr: Tracer, df: DataFrame): Unit = if (tr.enabled) {
    val live = Lake.manifest(dir, Lake.latestVersion(dir)).files.size
    tr.count("lake.files_scanned_per_read", df.inputFiles.length.toDouble / math.max(1, live))
    tr.count("lake.reads", 1)
  }

  private def write(kind: String, tr: Tracer): Unit = {
    val before = if (tr.enabled) Gen.dirBytes(new File(dir)) else 0L
    val submitted = tr.span("lake.commit") {
      kind match {
        case "upsert" =>
          val df = batch(keyRange(300) ++ (maxKey + 1 to maxKey + 50))
          Lake.upsert(spark, dir, df); apply(df); maxKey += 50; 350
        case "merge" =>
          val upd = batch(keyRange(200))
          val del = keyRange(50)
          import spark.implicits._
          Lake.merge(spark, dir, upd, del.toDF("o_orderkey"))
          apply(upd); del.foreach(model.remove); 250
        case "delete_mor" =>
          val keys = keyRange(60)
          Lake.deleteWhereMor(spark, dir, col("o_orderkey").between(keys.head, keys.last))
          keys.foreach(model.remove); 60
      }
    }
    commits += 1
    history(Lake.latestVersion(dir)) = snapshot
    if (commits % CompactEvery == 0) {
      val c0 = if (tr.enabled) Gen.dirBytes(new File(dir)) else 0L
      tr.span("lake.compact")(Lake.compact(spark, dir, 4))
      if (tr.enabled) tr.count("lake.compact_bytes_rewritten", (Gen.dirBytes(new File(dir)) - c0).toDouble)
      history(Lake.latestVersion(dir)) = snapshot
    }
    userBytes += submitted * bytesPerRow
    if (tr.enabled) tr.count("lake.bytes_written", (Gen.dirBytes(new File(dir)) - before).toDouble)
  }

  def finish(): Boolean = {
    val got = Lake.read(spark, dir).select(col("o_orderkey"), col("o_cents")).collect()
    val keys = got.map(_.getLong(0)).sorted.toSeq
    val good = ok && keys == model.keys.toSeq.sorted && got.map(_.getLong(1)).sum == snapshot._2
    if (!good) System.err.println(s"[perfbench] lake final state: ${keys.size} rows vs model ${model.size}")
    good
  }

  def headline(s: Samples): Seq[Metric] = {
    val reads = s.of(Reads)
    val writes = s.of(Set("upsert", "merge", "delete_mor"))
    Seq(
      Metric("lake_ops_per_s", "ops/s", s.ops / s.timedS, s.ops),
      Metric("lake_read_p50_ms", "ms", Stats.pct(reads, 50), reads.size),
      Metric("lake_write_p50_ms", "ms", Stats.pct(writes, 50), writes.size),
      Metric("lake_write_p90_ms", "ms", Stats.pct(writes, 90), writes.size),
      Metric("lake_write_amp", "ratio",
        (Gen.dirBytes(new File(dir)) - dirBytesAtStart) / math.max(1.0, userBytes), writes.size))
  }

  def layers(tr: Tracer): Map[String, Double] = {
    val r0 = System.nanoTime()
    MatView.refresh(spark, dir)
    val refreshMs = (System.nanoTime() - r0) / 1e6
    // an aggregate the refreshed view answers: the rewrite rule's yield
    val agg = spark.read.format("graft-lake").option("path", dir).load()
      .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n"), sum(col("o_cents")).as("c"))
    val got = agg.collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    ok &&= got == model.values.groupBy(_._1).map { case (p, vs) => p -> (vs.size.toLong, vs.map(_._2).sum) }
    val rules = agg.queryExecution.tracker.rules.collect { case (r, x) if r.endsWith("MatViewRewrite") => x }
    val effective = rules.map(_.numEffectiveInvocations).sum.toDouble / math.max(1, rules.map(_.numInvocations).sum)
    val commitSpans = tr.named("lake.commit")
    val m = Lake.manifest(dir, Lake.latestVersion(dir))
    Map(
      "lake.commit_ms" -> Layers.spanP50(tr, "lake.commit"),
      "lake.commit_jobs" -> Stats.pct(commitSpans.map(sp => tr.jobsUnder(sp).size.toDouble), 50),
      "lake.read_plan_ms" -> Layers.spanP50(tr, "lake.read_plan"),
      "lake.read_exec_ms" -> Layers.spanP50(tr, "lake.read_exec"),
      "lake.files_live" -> m.files.size.toDouble,
      "lake.log_versions" -> Lake.latestVersion(dir).toDouble,
      "lake.files_scanned_per_read" -> Layers.countSum(tr, "lake.files_scanned_per_read") /
        math.max(1.0, Layers.countSum(tr, "lake.reads")),
      "lake.bytes_written" -> Layers.countP50(tr, "lake.bytes_written"),
      "lake.compact_ms" -> Layers.spanP50(tr, "lake.compact"),
      "lake.compact_bytes_rewritten" -> Layers.countP50(tr, "lake.compact_bytes_rewritten"),
      "lake.mv_refresh_ms" -> refreshMs,
      "plans.matview_rewrite_effective_ratio" -> effective)
  }
}

/** `dedup`: one near-linear LLM-pipeline operator per operation, cold
  * (every fixture memo dropped first), over a seeded corpus. */
final class DedupWorkload(spark: SparkSession, seed: Long, docs: Int) extends Workload {
  val name = "dedup"
  /** Two operators; `op_p50_ms` is the mean of their medians. */
  val Ops: Seq[(String, String)] = Seq("minhash_lsh" -> "x2_minhash_lsh", "ann_lsh" -> "x3_ann_lsh")
  private var dir = ""
  private val reference = mutable.Map[String, (Long, Long)]()

  def setup(d: String): Unit = { Gen.corpus(spark, d, seed, docs); dir = d }

  def roundSize: Int = Ops.size
  /** Its rounds are the shortest, about 3 s on 4 cores, and the most
    * exposed to a burst on the host, since its tasks fill every core. */
  override def minRounds: Int = 6

  def op(i: Int, tr: Tracer): OpResult = {
    val (short, q) = Ops(i % roundSize)
    SparkEntry.invalidateMemos()
    val (n, h) = tr.span(s"ext.$short") {
      val df = SparkEntry.queries(q)(spark, dir)
      val (n, h, agg) = Check.sig(df)
      Check.catalyst(tr, df, agg)
      (n, h)
    }
    spark.catalog.clearCache()
    OpResult(short, docs, () => {
      val good = n > 0 && (reference.get(q) match {
        case None => reference(q) = (n, h); true
        case Some(ref) => ref == (n, h)
      })
      if (!good) System.err.println(s"[perfbench] dedup $q: ($n,$h) != warm ${reference.get(q)}")
      good
    })
  }

  def finish(): Boolean = reference.size == Ops.size

  def headline(s: Samples): Seq[Metric] = Seq(
    Metric("dedup_docs_per_s", "docs/s", s.items / s.timedS, s.ops),
    Metric("dedup_op_p50_s", "s", s.slotP50(_ => true) / 1000.0, s.ops))

  def layers(tr: Tracer): Map[String, Double] = {
    val p = graft.ext.Dedup.bandedPairsProbe(spark, dir)
    val pairYield = p("dup_pairs").toDouble / math.max(1L, p("cand_pairs"))
    Ops.map { case (short, _) => s"ext.${short}_ms" -> Layers.spanP50(tr, s"ext.$short") }.toMap +
      ("ext.pair_yield" -> pairYield)
  }
}
