package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.StringType

import graft.ingest.{RawReader, Sniffer}
import graft.ops.Normalize

/** RawReader's single-scan fast path, header naming, file listing and
  * job-free read + Normalize date fallback. */
class RawReaderFastPathSpec extends SparkSpec {

  private def dirOf(files: (String, String)*): String = {
    val dir = Files.createTempDirectory("graft_raw")
    files.foreach { case (n, c) => Files.writeString(dir.resolve(n), c) }
    dir.toString
  }

  private def isSingleScan(df: DataFrame): Boolean =
    !df.queryExecution.executedPlan.toString.contains("Union")

  test("S5 fast path: same delimiter + same header → one distributed scan") {
    val dir = Files.createTempDirectory("graft_fast").toFile
    Files.writeString(dir.toPath.resolve("a.csv"), "x,y\n1,2\n")
    Files.writeString(dir.toPath.resolve("b.csv"), "x,y\n3,4\n")
    val df = RawReader.readDir(spark, dir.getPath)
    assert(df.count() === 2) // header consumed per file
    // single FileScan over the directory (not a union of per-file plans)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Union"), s"expected single scan, got:\n$plan")
  }

  test("P4: unparseable MM/dd/yyyy constant falls back to ISO") {
    import spark.implicits._
    val df = Seq(("w")).toDF("src")
    val out = Normalize(df, Seq("src" -> "a", "2012-11-06" -> "election_date"))
    assert(out.select("election_date").head().getDate(0)
      === java.sql.Date.valueOf("2012-11-06"))
    // garbage constant → null, not an ANSI error
    val out2 = Normalize(df, Seq("src" -> "a", "not a date" -> "election_date"))
    assert(out2.select("election_date").head().isNullAt(0))
  }

  test("header names: CSV tokenizer + Spark's safe-header rule, as inference names them") {
    // a quoted name holding the separator, a case-insensitive duplicate,
    // an empty name, CRLF line ends
    val dir = dirOf("a.csv" ->
      "\"Contest, Name\",County,county,,Total Votes\r\nUS SENATE,WAKE,wake,x,5\r\nGOVERNOR,DURHAM,durham,y,7\r\n")
    val df = RawReader.readDir(spark, dir)
    assert(df.columns.toSeq === Seq("Contest, Name", "County1", "county2", "_c3", "Total Votes"))
    val inferred = spark.read.option("header", "true").option("inferSchema", "true").csv(dir)
    assert(df.columns.toSeq === inferred.columns.toSeq)
    assert(df.collect().map(_.getString(4)).toSet === Set("5", "7")) // no CR kept
    assert(df.schema.fields.forall(_.dataType == StringType))
  }

  test("a non-UTF-8 header byte is read as U+FFFD, as Spark reads it, on both paths") {
    def dirOfBytes(files: (String, String)*): String = {
      val dir = Files.createTempDirectory("graft_raw_bytes")
      files.foreach { case (n, c) => Files.write(dir.resolve(n), c.getBytes("ISO-8859-1")) }
      dir.toString
    }
    val single = dirOfBytes("a.csv" -> "N\u00famero,County\n5,WAKE\n", "b.csv" -> "N\u00famero,County\n7,DURHAM\n")
    val df = RawReader.readDir(spark, single)
    assert(isSingleScan(df))
    assert(df.columns.toSeq === Seq("N\uFFFDmero", "County"))
    assert(df.columns.toSeq === spark.read.option("header", "true").csv(single).columns.toSeq)
    assert(df.count() === 2)
    val union = dirOfBytes("a.csv" -> "N\u00famero,County\n5,WAKE\n", "b.tsv" -> "\n \nCounty\tN\u00famero\nDURHAM\t7\n")
    val u = RawReader.readDir(spark, union)
    assert(!isSingleScan(u))
    assert(u.columns.toSeq === Seq("N\uFFFDmero", "County"))
    assert(u.collect().map(r => (r.getString(0), r.getString(1))).toSet === Set(("5", "WAKE"), ("7", "DURHAM")))
    // the sniffer takes the same line: the first non-blank one
    assert(Sniffer.sniffFile(s"$union/b.tsv") === "\t")
  }

  test("listing: hidden, underscore-prefixed and zero-byte files are skipped like Spark's scan") {
    val dir = dirOf(
      "a.csv" -> "x,y\n1,2\n",
      "b.csv" -> "x,y\n3,4\n",
      "_SUCCESS.csv" -> "",
      "_committed.csv" -> "q\n9\n",
      ".hidden.csv" -> "q,r\n9,9\n",
      "empty.csv" -> "")
    val df = RawReader.readDir(spark, dir)
    assert(isSingleScan(df))
    assert(df.columns.toSeq === Seq("x", "y"))
    assert(df.count() === 2)
  }

  test("a header-only file still contributes its columns") {
    val df = RawReader.readDir(spark, dirOf("a.csv" -> "x,y\n1,2\n", "b.csv" -> "x,y,z\n"))
    assert(df.columns.toSet === Set("x", "y", "z"))
    assert(df.collect().toSeq.map(r => (r.getAs[String]("x"), r.getAs[String]("z"))) === Seq(("1", null)))
  }

  test("readDir runs no Spark job on the single-scan or the union path") {
    val single = dirOf("a.csv" -> "x,y\n1,2\n", "b.csv" -> "x,y\n3,4\n")
    val union = dirOf("a.csv" -> "x,y\n1,2\n", "b.tsv" -> "y\tx\n3\t4\n")
    val sc = spark.sparkContext
    val group = "graft_rawreader_jobs"
    sc.setJobGroup(group, "readDir")
    try {
      assert(isSingleScan(RawReader.readDir(spark, single)))
      assert(!isSingleScan(RawReader.readDir(spark, union)))
      sc.parallelize(Seq(1), 1).count() // a sentinel: its job is the group's only one
    } finally sc.clearJobGroup()
    // job events arrive in order, so once the sentinel shows, any job
    // the reads started shows too
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    def jobs = sc.statusTracker.getJobIdsForGroup(group)
    while (jobs.isEmpty && System.nanoTime() < deadline) Thread.sleep(20)
    assert(jobs.length === 1)
  }
}
