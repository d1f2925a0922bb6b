package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sink.Sinks

/** Bucketing: joins between co-bucketed tables must plan without a
  * shuffle exchange (the persistent co-location strategy for 100 TB). */
class BucketedJoinSpec extends AnyFunSuite {

  private val Threshold = "spark.sql.autoBroadcastJoinThreshold"
  private val LeakCheck = "the shared session's broadcast threshold is unchanged after the suite"

  /** The threshold the suite's shared session read before this spec
    * first touched it (Spark's default when no session existed yet). */
  private var priorThreshold = ""

  // dedicated session: needs a warehouse dir for managed tables
  private lazy val spark: SparkSession = {
    priorThreshold = SparkSession.getDefaultSession.map(_.conf.get(Threshold))
      .getOrElse(new org.apache.spark.sql.internal.SQLConf().getConfString(Threshold))
    val wh = Files.createTempDirectory("graft_wh").toFile.getPath
    LocalDirs.configure(SparkSession.builder())
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", wh)
      .config("spark.ui.enabled", "false")
      .appName("bucketed")
      .getOrCreate()
  }

  /** Each test runs with broadcasts off (the sort-merge path these
    * plans are about). `getOrCreate` hands every spec the same
    * session, so the threshold is set around each test and restored
    * after it, never at build time. */
  override def withFixture(test: NoArgTest): org.scalatest.Outcome =
    if (test.name == LeakCheck) super.withFixture(test)
    else {
      val prior = spark.conf.get(Threshold)
      spark.conf.set(Threshold, "-1")
      try super.withFixture(test) finally spark.conf.set(Threshold, prior)
    }

  /** A killed JVM can leave a managed table's LOCATION behind with no
    * catalog entry (the in-memory metastore dies with the process);
    * the next CREATE then fails LOCATION_ALREADY_EXISTS. Drop both
    * the table and any orphaned location before writing. */
  private def cleanTable(name: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $name")
    val wh = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm)
      f.delete(); ()
    }
    val loc = new java.io.File(wh, name)
    if (loc.exists()) rm(loc)
  }

  test("co-bucketed join plans with zero shuffle exchanges") {
    val sf = "/root/testdata/sf0.001"
    Seq("orders_b", "customer_b").foreach(cleanTable)
    Sinks.writeBucketed(Tables.orders(spark, sf), "orders_b", 4, Seq("o_custkey"))
    Sinks.writeBucketed(
      Tables.customer(spark, sf).withColumn("c_custkey", col("c_custkey")),
      "customer_b", 4, Seq("c_custkey"))
    val joined = spark.table("orders_b")
      .join(spark.table("customer_b"), col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"), col("c_mktsegment"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"expected shuffle-free bucketed join, got:\n$plan")
    // and it still computes the right thing
    val viaPlain = Tables.orders(spark, sf)
      .join(Tables.customer(spark, sf), col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"), col("c_mktsegment"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(joined.collect().map(r => (r.getLong(0), r.getString(1))).toSet === viaPlain)
  }

  test("x2 sketch table: persisted band table joins with zero exchange on the bucketed side") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, ShuffledHashJoinExec,
      SortMergeJoinExec}
    val sf = "/root/testdata/sf0.001"
    // build phase: persist the index band table (content-addressed name)
    val table = graft.ext.Dedup.bandIndexTable(spark, sf)
    val scanDesc = spark.table(table).queryExecution.sparkPlan.collectFirst {
      case s: FileSourceScanExec => s
    }.get
    assert(scanDesc.bucketedScan || scanDesc.relation.bucketSpec.nonEmpty,
      "index table must carry its bucket spec")
    // consume phase: the candidate stage of the registered incremental
    // query — since round 14 the verify stage lazily checkpoints its
    // candidate input (one banding materialization instead of three),
    // so the registered query's TOP plan shows the candidates as an
    // ExistingRDD scan; the bucketed join is asserted on the plan that
    // computes it (and executes verbatim through the checkpoint).
    // Assert on the pre-execution sparkPlan, which is concrete (no
    // AdaptiveSparkPlanExec wrapper there).
    val df = graft.ext.Dedup.sketchTableCandidates(spark, sf)
    val plan = df.queryExecution.sparkPlan
    // locate every join whose one side scans the persisted table, and
    // assert that side has NO shuffle exchange between scan and join:
    // the bucketed layout replaces it
    val joins = plan.collect {
      case j: SortMergeJoinExec => j.children
      case j: ShuffledHashJoinExec => j.children
      case j: BroadcastHashJoinExec => j.children
    }
    val idxSides = joins.flatten.filter(_.collectFirst {
      case s: FileSourceScanExec if s.relation.bucketSpec.nonEmpty => s
    }.nonEmpty)
    assert(idxSides.nonEmpty, s"no join consumes the bucketed table:\n$plan")
    idxSides.foreach { side =>
      val shuffles = side.collect { case e: ShuffleExchangeExec => e }
      assert(shuffles.isEmpty,
        s"bucketed side must not shuffle (layout IS the partitioning):\n$side")
    }
    // and the lifecycle's answer equals the recompute-everything form
    val viaTable = graft.ext.Dedup.sketchTableDedup(spark, sf)
      .collect().map(_.toSeq).toSeq
    val viaRecompute = graft.ext.Dedup.minhashDeltaDedup(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(viaTable === viaRecompute,
      s"sketch-table result diverged: ${viaTable.length} vs ${viaRecompute.length} rows")
  }

  test("x3 ivf table: persisted cell table carries its bucket spec; answer equals recompute") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val sf = "/root/testdata/sf0.001"
    val table = graft.ext.Similarity.ivfCellTable(spark, sf)
    val scanDesc = spark.table(table).queryExecution.sparkPlan.collectFirst {
      case s: FileSourceScanExec => s
    }.get
    assert(scanDesc.relation.bucketSpec.nonEmpty,
      "ivf cell table must carry its bucket spec")
    // same answer as the inline-index form (shared oracle)
    val viaTable = graft.ext.Similarity.ivfTableTopK(spark, sf)
      .collect().map(_.toSeq).toSeq
    val viaInline = graft.ext.Similarity.ivfGridTopK(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(viaTable === viaInline,
      s"ivf-table result diverged: ${viaTable.length} vs ${viaInline.length} rows")
  }

  // last in the file, so it runs after every test above
  test(LeakCheck) {
    assert(spark.conf.get(Threshold) === priorThreshold)
  }
}
