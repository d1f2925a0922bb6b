package graft

import java.nio.file.Files
import java.sql.Date

import org.apache.spark.sql.{Observation, Row}
import graft.ingest.{RawReader, Sniffer}
import graft.ops.{Normalize, SchemaAlign}
import graft.schema.ContestSchema

/** S3 sniffer, S4 null token, S5 multi-file union, P1-P4 normalize,
  * U1 schema-align — the ingest path end-to-end on synthetic files
  * shaped like FIXTURES.md §2. */
class IngestSpec extends SparkSpec {

  test("S3: delimiter sniff picks dominant separator") {
    assert(Sniffer.sniffLine("a,b,c") === ",")
    assert(Sniffer.sniffLine("a\tb\tc") === "\t")
    assert(Sniffer.sniffLine("a|b|c") === "|")
    assert(Sniffer.sniffLine("a;b;c") === ";")
    assert(Sniffer.sniffLine("plain") === ",")
  }

  test("S4+S5: mixed-delimiter dir reads, 'Not Found' → null, union by name") {
    val dir = Files.createTempDirectory("graft_ingest").toFile
    Files.writeString(dir.toPath.resolve("f1.csv"),
      "County,Contest Name,Total Votes\nWAKE,US SENATE,100\nDURHAM,Not Found,7\n")
    Files.writeString(dir.toPath.resolve("f2.tsv"),
      "Contest Name\tCounty\nGOVERNOR\tORANGE\n")
    val df = RawReader.readDir(spark, dir.getPath)
    assert(df.columns.toSet === Set("County", "Contest Name", "Total Votes"))
    assert(df.count() === 3)
    assert(df.filter(df("Contest Name").isNull).count() === 1) // "Not Found"
    assert(df.filter(df("County") === "ORANGE").count() === 1)
  }

  test("P1-P4 + U1: mapping, constant injection, date parse, align") {
    import spark.implicits._
    val raw = Seq(("WAKE", "US SENATE", 100)).toDF("County", "Contest Name", "Total Votes")
    val mapping = Seq(
      "County" -> "county",
      "Contest Name" -> "contest_name",
      "Total Votes" -> "total_votes",
      "11/06/2012" -> "election_date", // constant with date parse
      "state" -> "contest_type")       // plain constant
    val aligned = SchemaAlign(Normalize(raw, mapping), ContestSchema.precinct)
    assert(aligned.columns.toSeq === ContestSchema.precinctColumns)
    val r = aligned.select("county", "contest_name", "total_votes",
      "election_date", "contest_type", "precinct").head()
    assert(r === Row("WAKE", "US SENATE", 100L,
      java.sql.Date.valueOf("2012-11-06"), "state", null))
  }

  test("U1: extra input columns dropped, order canonical") {
    import spark.implicits._
    val df = Seq(("x", "y")).toDF("county", "bogus_extra")
    val aligned = SchemaAlign(df, ContestSchema.county)
    assert(aligned.columns.toSeq === ContestSchema.countyColumns)
    assert(aligned.select("county").head().getString(0) === "x")
  }

  test("ingest golden path: sniff → read → fuzzy map → normalize → extract → align") {
    val dir = Files.createTempDirectory("graft_golden").toFile
    Files.writeString(dir.toPath.resolve("results.csv"),
      "County,Election Date,Contest Name,Choice,Total Votes\n" +
        "WAKE,11/06/2012,US HOUSE OF REPRESENTATIVES DISTRICT 4,Jane Doe,1234\n" +
        "WAKE,11/06/2012,US SENATE,John Roe,Not Found\n")
    val raw = RawReader.readDir(spark, dir.getPath)
    val m = graft.ops.FuzzyMatch.mapColumns(ContestSchema.precinctColumns, raw.columns.toSeq)
    assert(m("candidate") === "Choice") // fallback path
    val normalized = Normalize(raw, m.map(_.swap).toSeq)
    val extracted = graft.ops.DistrictExtract.withGate(normalized)
    val out = SchemaAlign(extracted, ContestSchema.precinct)
    val rows = out.select("contest_name", "district", "candidate", "total_votes")
      .collect().map(r => (r.get(0), r.get(1), r.get(2), r.get(3))).toSet
    assert(rows === Set(
      ("US HOUSE OF REPRESENTATIVES ", " 4", "Jane Doe", 1234L),
      ("US SENATE", null, "John Roe", null)))
  }

  test("U1 cast table: string cells store what the inference path stored") {
    // (target column, raw cell, stored value, counted as malformed)
    val cases = Seq[(String, String, Any, Boolean)](
      ("total_votes", "5", 5L, false),
      ("total_votes", " 6 ", 6L, false),
      ("total_votes", "1.0", 1L, false),
      ("total_votes", "5#", null, true),
      ("total_votes", "Not Found", null, false),
      ("is_partisan", "True", true, false),
      ("is_partisan", "yes", true, false),
      ("candidacy_date", "2012-11-06", Date.valueOf("2012-11-06"), false),
      ("candidacy_date", "2012-11-06 00:00:00", Date.valueOf("2012-11-06"), false),
      ("candidacy_date", "11/06/2012", null, true))
    val targets = cases.map(_._1).distinct
    // one line per case: its cell under its column, the others empty (null)
    val dir = Files.createTempDirectory("graft_casts")
    Files.writeString(dir.resolve("cases.csv"), ("county" +: targets).mkString(",") + "\n" +
      cases.zipWithIndex.map { case ((t, raw, _, _), i) =>
        (s"case$i" +: targets.map(c => if (c == t) raw else "")).mkString(",")
      }.mkString("\n") + "\n")
    val obs = Observation("cast_table")
    val stored = SchemaAlign.observed(RawReader.readDir(spark, dir.toString), ContestSchema.precinct, obs)
      .collect().map(r => r.getAs[String]("county") -> r).toMap
    cases.zipWithIndex.foreach { case ((t, raw, want, _), i) =>
      assert(stored(s"case$i").getAs[Any](t) === want, s"$t <- '$raw'")
    }
    val counts = IngestJob.awaitObserved(obs, IngestJob.ObservedTimeout)
    assert(counts("rows") === cases.size.toLong)
    targets.foreach(t => assert(counts(t) === cases.count(c => c._1 == t && c._4).toLong, t))
  }
}
