package graft

import java.util.concurrent.TimeoutException

import scala.concurrent.Await
import scala.concurrent.duration._

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.ingest.RawReader
import graft.ops.{DistrictExtract, FuzzyMatch, Normalize, SchemaAlign}
import graft.schema.ContestSchema

/** The reference's end-to-end ingest flow (EP2 + EP3,
  * /root/reference/ingestor_precinct.py:70-225) as one batch job:
  *
  *   stage dir → sniff/scan/union → fuzzy column map → normalize →
  *   district extraction (gated) → schema align → parquet (or JDBC)
  *
  * One pass over the input: the read is all-string with schemas taken
  * from the files' headers (no inference job), [[SchemaAlign]] casts each
  * grand-schema column once, and the write's own job fills an
  * `Observation` with the rows written and, per cast column, the
  * malformed cells (a non-null source value whose cast failed, stored as
  * null) — see [[IngestReport]].
  *
  * Usage: `runMain graft.IngestJob <inDir> <outPath> [precinct|county]
  * [canonical=sourceOrConst ...]` where extra args add/override the
  * fuzzy column mapping (the batch stand-in for the reference's
  * human-edited TextInput boxes — e.g. `election_date=11/06/2012`
  * injects a constant, P3/P4; `candidate=Choice` forces a source
  * column).
  *
  * Writes parquet partitioned by election_date: at 100 TB the contest
  * store is naturally pruned by election, and every downstream query
  * filtering on election_date skips irrelevant partitions entirely.
  */
object IngestJob {

  /** args(2) is the table kind ONLY when it literally names one —
    * otherwise it is the first override (`IngestJob in out k=v` must
    * not silently eat `k=v` as an unknown kind). Non-`k=v` stragglers
    * are rejected, not dropped. */
  private[graft] def parseArgs(args: Array[String])
      : (String, String, StructType, Seq[(String, String)]) = {
    require(args.length >= 2,
      "usage: IngestJob <inDir> <outPath> [precinct|county] [canonical=sourceOrConst ...]")
    val (schema, rest) = args.drop(2) match {
      case a if a.headOption.contains("county") => (ContestSchema.county, a.tail)
      case a if a.headOption.contains("precinct") => (ContestSchema.precinct, a.tail)
      case a => (ContestSchema.precinct, a)
    }
    val overrides = rest.map { kv =>
      require(kv.contains("="),
        s"unknown arg '$kv': expected precinct|county or canonical=sourceOrConst")
      val Array(k, v) = kv.split("=", 2); (k, v)
    }.toSeq
    (args(0), args(1), schema, overrides)
  }

  def main(args: Array[String]): Unit = {
    val (inDir, outPath, schema, overrides) = parseArgs(args)

    // the session the engine's benchmarks run: Graft's extensions and configs
    val spark = Graft.builder(sys.env.getOrElse("SPARK_MASTER", "local[4]"),
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try println(s"[ingest] $inDir -> $outPath: ${ingest(spark, inDir, outPath, schema, overrides)}")
    finally spark.stop()
  }

  /** How long the write's row counts may take to arrive after the write
    * returns (they come over the listener bus). */
  val ObservedTimeout: FiniteDuration = 60.seconds

  /** The observed counts of `obs`, failing loudly when the pass that
    * should fill them has not done so within `timeout`. */
  private[graft] def awaitObserved(obs: Observation, timeout: FiniteDuration): Map[String, Long] = {
    val row = try Await.result(obs.future, timeout)
    catch {
      case e: TimeoutException => throw new IllegalStateException(
        s"observation '${obs.name}' was not filled within $timeout of its pass", e)
    }
    row.schema.fieldNames.zipWithIndex.map { case (n, i) =>
      n -> (if (row.isNullAt(i)) 0L else row.getLong(i))
    }.toMap
  }

  /** The batch in `inDir` as grand-schema rows, with `obs` filled by the
    * pass that consumes them. overrides: canonical →
    * sourceColumnOrConstant (wins over fuzzy). */
  private[graft] def aligned(spark: SparkSession, inDir: String, schema: StructType,
      overrides: Seq[(String, String)], obs: Observation): DataFrame = {
    val raw = RawReader.readDir(spark, inDir)
    // T3 fuzzy pass (canonical → source), then explicit overrides win
    val merged = FuzzyMatch.mapColumns(schema.fieldNames.toSeq, raw.columns.toSeq) ++
      overrides.toMap
    // Normalize expects (sourceOrConstant → canonical), in schema order
    val mapping = schema.fieldNames.toSeq.flatMap(c => merged.get(c).map(_ -> c))
    SchemaAlign.observed(DistrictExtract.withGate(Normalize(raw, mapping)), schema, obs)
  }

  /** overrides: canonical → sourceColumnOrConstant (wins over fuzzy). */
  def ingest(spark: SparkSession, inDir: String, outPath: String, schema: StructType,
      overrides: Seq[(String, String)] = Nil): IngestReport = {
    val obs = Observation("ingest")
    aligned(spark, inDir, schema, overrides, obs).write
      .mode("append")
      .partitionBy("election_date")
      .parquet(outPath)
    // this run's counts, from the write's own pass (a store read-back
    // would report the CUMULATIVE count under append mode)
    val counts = awaitObserved(obs, ObservedTimeout)
    IngestReport(counts("rows"), counts - "rows")
  }

  /** [[ingest]], returning the number of rows this run wrote. */
  def run(spark: SparkSession, inDir: String, outPath: String, schema: StructType,
      overrides: Seq[(String, String)] = Nil): Long =
    ingest(spark, inDir, outPath, schema, overrides).rows
}

/** One ingest run's counts: rows written, and per grand-schema column
  * the malformed cells stored as null. */
final case class IngestReport(rows: Long, malformed: Map[String, Long]) {
  def malformedCells: Long = malformed.values.sum

  override def toString: String = {
    val bad = malformed.filter(_._2 > 0).toSeq.sortBy(_._1).map { case (c, n) => s"$c=$n" }
    s"rows=$rows malformed_cells=$malformedCells" + (if (bad.isEmpty) "" else bad.mkString(" (", ", ", ")"))
  }
}
