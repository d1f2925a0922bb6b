package graft

import org.apache.spark.sql.SparkSession

/** Library front door — the one-call session a user of the engine
  * starts from:
  *
  * {{{
  *   val spark = Graft.session()          // local, extensions wired
  *   graft.SparkEntry.queries("a1_county_rollup")(spark, dir)
  * }}}
  *
  * Wires everything the library registers via
  * `SparkSessionExtensions` (custom expressions `vec_dot`/`vec_qdot`/
  * `vec_sq8dot`/`nfc_normalize`/`rolling_hash`, the `shingles`
  * generator, the TopKPerKey planner strategy, the BinnedRangeJoin
  * optimizer rule) plus the local-mode configs the mains use. On a
  * real cluster, pass the same extension class through
  * `--conf spark.sql.extensions=graft.functions.GraftExtensions` and
  * only the session-builder sugar here is local-specific.
  */
object Graft {
  /** Default core count for local sessions (measured sweet spot on
    * the 32-core contract machine — see Bench). */
  def defaultCores: Int = math.min(16, Runtime.getRuntime.availableProcessors())

  def builder(
      master: String = s"local[$defaultCores]",
      shufflePartitions: Int = 8): SparkSession.Builder =
    LocalDirs.configure(
      SparkSession.builder()
        .master(master)
        .withExtensions(new graft.functions.GraftExtensions)
        .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        // INT64 micros instead of the deprecated INT96 (guide §6):
        // INT96 chunks carry NO usable min/max statistics, so every
        // timestamp column was invisible to footer-derived stats,
        // column indexes, and predicate pushdown; micros round-trips
        // Catalyst's microsecond timestamps exactly
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        // storage-partitioned joins over compactBucketed lake tables:
        // honor a V2 scan's KeyGroupedPartitioning instead of shuffling
        .config("spark.sql.sources.v2.bucketing.enabled", "true"))

  /** The session of the timing and inspection mains (`Bench`,
    * `QueryTime`, `ColdTime`, `JobProfile`, `SkewAudit`, `Explain`), so
    * a number or a plan one of them prints is taken under the same
    * settings as the others: `SPARK_GRAFT_CPUS` cores (default
    * [[defaultCores]]), `SPARK_GRAFT_SHUFFLE` shuffle partitions
    * (default min(8, cores)), 4 MB scan splits at a 1 MB open cost —
    * the testdata files are single small parquets (lineitem@sf0.1 ≈
    * 11 MB), so the 128 MB default split would make every scan one
    * task — and no UI. */
  def toolSession(logLevel: String = "WARN"): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCores.toString).toInt
    val shuffle = sys.env.get("SPARK_GRAFT_SHUFFLE").map(_.toInt)
      .getOrElse(math.min(8, cpus))
    val s = builder(s"local[$cpus]", shuffle)
      .config("spark.sql.files.maxPartitionBytes", "4m")
      .config("spark.sql.files.openCostInBytes", "1m")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel(logLevel)
    s
  }

  /** `getOrCreate` returns a PRE-EXISTING session unchanged (its
    * builder-time extensions never ran in that case), so the function
    * surface is (re-)registered post-hoc — temp-function registration
    * is idempotent and works on any session. The TopKPerKey strategy
    * self-registers on first use (GraftSqlShim) and the range-join
    * rule is only additive, so functions are the one piece that would
    * otherwise go missing. */
  def session(): SparkSession = {
    val s = builder().getOrCreate()
    graft.functions.VectorFunctions.register(s)
    graft.functions.StringFunctions.register(s)
    graft.functions.Shingles.register(s)
    s
  }
}
