package graft

import java.nio.file.Files

import scala.concurrent.duration._

import org.apache.spark.sql.Observation
import org.apache.spark.sql.functions._
import graft.ops.{ContestData, CountyRollup, FuzzyMatch}
import graft.schema.ContestSchema

/** End-to-end ingest job + partitioned county materialization with
  * partition pruning verified in the physical plan. */
class IngestJobSpec extends SparkSpec {

  /** A staged batch directory holding `files` (name → content). */
  private def batch(files: (String, String)*): String = {
    val dir = Files.createTempDirectory("graft_batch")
    files.foreach { case (n, c) => Files.writeString(dir.resolve(n), c) }
    dir.toString
  }

  private def store(): String = Files.createTempDirectory("graft_store").toString + "/contest"

  test("IngestJob: staged CSVs → partitioned canonical parquet") {
    val in = Files.createTempDirectory("graft_job_in").toFile
    val out = Files.createTempDirectory("graft_job_out").toFile.getPath + "/contest"
    Files.writeString(in.toPath.resolve("results.csv"),
      "County,Contest Name,Choice,Total Votes\n" +
        "WAKE,US HOUSE OF REPRESENTATIVES DISTRICT 4,Jane Doe,1234\n" +
        "DURHAM,GOVERNOR,John Roe,777\n")
    val n = IngestJob.run(spark, in.getPath, out, ContestSchema.precinct,
      overrides = Seq("election_date" -> "11/06/2012"))
    assert(n === 2L)
    val back = spark.read.parquet(out)
    assert(back.columns.toSet === ContestSchema.precinctColumns.toSet)
    // constant injection landed as the partition value
    assert(back.select("election_date").distinct().head().getDate(0)
      === java.sql.Date.valueOf("2012-11-06"))
    val row = back.filter(col("county") === "WAKE").head()
    assert(row.getAs[String]("contest_name") === "US HOUSE OF REPRESENTATIVES ")
    assert(row.getAs[String]("district") === " 4")
    assert(row.getAs[String]("candidate") === "Jane Doe") // Choice fallback
  }

  test("county materialization partitions by election_date and prunes") {
    val out = Files.createTempDirectory("graft_county").toFile.getPath + "/county"
    CountyRollup.materialize(ContestData.precinct(spark, "/root/testdata/sf0.001"), out)
    val dirs = new java.io.File(out).listFiles().filter(_.isDirectory).map(_.getName)
    assert(dirs.nonEmpty && dirs.forall(_.startsWith("election_date=")))
    val someDate = dirs.head.stripPrefix("election_date=")
    val q = spark.read.parquet(out).filter(col("election_date") === someDate)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") &&
      plan.contains(someDate), s"expected partition pruning in:\n$plan")
    assert(q.count() > 0)
  }

  test("typed Dataset[ContestRow] surface round-trips") {
    val ds = ContestData.typedPrecinct(spark, "/root/testdata/sf0.001")
    val row = ds.head()
    assert(row.total_votes ===
      row.election_day + row.one_stop + row.absentee_by_mail + row.provisional)
    // typed aggregation compiles and agrees with the untyped path
    val typedCount = ds.filter(_.winner_flag == 1L).count()
    val untypedCount = ContestData.precinct(spark, "/root/testdata/sf0.001")
      .filter(col("winner_flag") === 1L).count()
    assert(typedCount === untypedCount)
  }

  test("CLI parse: kind slot is positional only when it names a kind") {
    val (_, _, s1, o1) = IngestJob.parseArgs(Array("in", "out", "county", "a=b"))
    assert(s1 === ContestSchema.county && o1 === Seq("a" -> "b"))
    // override in the kind slot must NOT be eaten as an unknown kind
    val (_, _, s2, o2) = IngestJob.parseArgs(
      Array("in", "out", "election_date=11/06/2012", "candidate=Choice"))
    assert(s2 === ContestSchema.precinct)
    assert(o2 === Seq("election_date" -> "11/06/2012", "candidate" -> "Choice"))
    // non-k=v straggler is an error, not silently dropped
    assertThrows[IllegalArgumentException] {
      IngestJob.parseArgs(Array("in", "out", "precint"))
    }
  }

  test("mixed union batch: one file's malformed total lands as null and is counted once") {
    // a comma file with an unparseable total, and a tab file with permuted
    // columns and none: every file is read as strings, so the union never
    // casts the first file's cells to the second file's inferred type
    val in = batch(
      "a.csv" -> ("County,Election Date,Contest Name,Choice,Election Day,Total Votes\n" +
        "WAKE,2012-11-06,US SENATE,Jane Doe,3,5#\n" +
        "DURHAM,2012-11-06,US SENATE,John Roe,4,7\n"),
      "b.tsv" -> ("Total Votes\tElection Day\tChoice\tContest Name\tElection Date\tCounty\n" +
        "11\t6\tJane Doe\tGOVERNOR\t2012-11-06\tORANGE\n"))
    val out = store()
    val r = IngestJob.ingest(spark, in, out, ContestSchema.precinct)
    assert(r.rows === 3L)
    assert(r.malformedCells === 1L)
    assert(r.malformed("total_votes") === 1L)
    val totals = spark.read.parquet(out).select("county", "total_votes").collect()
      .map(row => row.getString(0) -> Option(row.get(1))).toMap
    assert(totals === Map("WAKE" -> None, "DURHAM" -> Some(7L), "ORANGE" -> Some(11L)))
  }

  test("a batch without an Election Day column counts only its one malformed total") {
    // `Election Date` feeds election_date alone: it is not also cast
    // into the vote count election_day, which would store three nulls
    // and count them malformed
    val in = batch(
      "a.csv" -> ("County,Election Date,Contest Name,Choice,Total Votes\n" +
        "WAKE,2012-11-06,US SENATE,Jane Doe,5#\n" +
        "DURHAM,2012-11-06,US SENATE,John Roe,7\n"),
      "b.tsv" -> ("Total Votes\tChoice\tContest Name\tElection Date\tCounty\n" +
        "11\tJane Doe\tGOVERNOR\t2012-11-06\tORANGE\n"))
    val r = IngestJob.ingest(spark, in, store(), ContestSchema.precinct)
    assert(r.rows === 3L)
    assert(r.malformedCells === 1L)
    assert(r.malformed.filter(_._2 > 0) === Map("total_votes" -> 1L))
  }

  test("header-only batch writes no rows and returns 0") {
    val in = batch("a.csv" -> "County,Contest Name,Total Votes\n")
    assert(IngestJob.run(spark, in, store(), ContestSchema.precinct,
      overrides = Seq("election_date" -> "11/06/2012")) === 0L)
  }

  test("batch with no contest-name column lands; district extraction is skipped") {
    val header = "County,Precinct,Total Votes"
    assert(!FuzzyMatch.mapColumns(ContestSchema.precinctColumns, header.split(",").toSeq)
      .contains("contest_name"))
    val out = store()
    val n = IngestJob.run(spark, batch("a.csv" -> s"$header\nWAKE,P1,5\n"), out,
      ContestSchema.precinct, overrides = Seq("election_date" -> "11/06/2012"))
    assert(n === 1L)
    val row = spark.read.parquet(out).head()
    assert(row.getAs[String]("county") === "WAKE")
    assert(row.isNullAt(row.fieldIndex("contest_name")) && row.isNullAt(row.fieldIndex("district")))
  }

  test("counts that never arrive fail within the bound instead of hanging") {
    val t0 = System.nanoTime()
    val e = intercept[IllegalStateException] {
      IngestJob.awaitObserved(Observation("never_filled"), 200.millis)
    }
    assert(e.getMessage.contains("never_filled"))
    assert(System.nanoTime() - t0 < 10.seconds.toNanos)
  }
}
