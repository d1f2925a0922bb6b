package graft

import org.apache.spark.sql.Row
import graft.ops.DistrictExtract

/** T2 fidelity vs /root/reference/ingestor_precinct.py:165-183 —
  * including the rsplit-on-LAST-occurrence, kept whitespace, uppercase
  * write-back, sequential pattern application, and the quirky roman
  * numeral regex. */
class DistrictExtractSpec extends SparkSpec {
  import spark.implicits._

  private def run(names: (String, String)*): Map[String, (String, String)] = {
    val df = names.toSeq.toDF("id", "contest_name")
    DistrictExtract(df).collect()
      .map { case Row(id: String, name: String, d) =>
        id -> (name, Option(d).map(_.asInstanceOf[String]).orNull)
      }.toMap
  }

  test("digit district: split on last DISTRICT, spaces kept, name uppercased") {
    val r = run("a" -> "US House of Representatives DISTRICT 4")
    assert(r("a") === ("US HOUSE OF REPRESENTATIVES ", " 4"))
  }

  test("case-insensitive match, multi-digit") {
    val r = run("a" -> "nc senate district 27")
    assert(r("a") === ("NC SENATE ", " 27"))
  }

  test("single-letter district") {
    val r = run("a" -> "SUPERIOR COURT DISTRICT B")
    assert(r("a") === ("SUPERIOR COURT ", " B"))
  }

  test("roman numeral quirks: IV,V,VIII match; letters I,V taken by pattern 2 first") {
    val r = run(
      "iv" -> "SANITARY DISTRICT IV",
      "v" -> "SANITARY DISTRICT V",
      "viii" -> "SANITARY DISTRICT VIII")
    assert(r("iv") === ("SANITARY ", " IV"))
    assert(r("v") === ("SANITARY ", " V"))
    assert(r("viii") === ("SANITARY ", " VIII"))
  }

  test("no district pattern: row untouched, district stays null") {
    val r = run("a" -> "US SENATE")
    assert(r("a") === ("US SENATE", null))
  }

  test("rsplit uses LAST occurrence of DISTRICT") {
    val r = run("a" -> "DISTRICT COURT DISTRICT 9")
    assert(r("a") === ("DISTRICT COURT ", " 9"))
  }

  test("IX matches roman branch") {
    val r = run("a" -> "FIRE DISTRICT IX")
    assert(r("a") === ("FIRE ", " IX"))
  }

  test("gate: skips extraction when district has any truthy value") {
    val df = Seq(("a", "COURT DISTRICT 1", "5"), ("b", "COURT DISTRICT 2", null))
      .toDF("id", "contest_name", "district")
    assert(!DistrictExtract.shouldExtract(df))
    val out = DistrictExtract.withGate(df).collect()
      .map { case Row(id: String, n: String, d) => id -> (n, d) }.toMap
    assert(out("a") === ("COURT DISTRICT 1", "5"))
  }

  test("gate: empty strings are falsy (pandas .any() semantics)") {
    val df = Seq(("a", "COURT DISTRICT 1", ""), ("b", "PLAIN", ""))
      .toDF("id", "contest_name", "district")
    assert(DistrictExtract.shouldExtract(df))
    val out = DistrictExtract.withGate(df).collect()
      .map { case Row(id: String, n: String, d) => id -> (n, d) }.toMap
    assert(out("a") === ("COURT ", " 1"))
    assert(out("b") === ("PLAIN", "")) // unmatched rows keep prior value
  }

  test("gate: missing district column triggers extraction") {
    val df = Seq(("a", "COURT DISTRICT 1")).toDF("id", "contest_name")
    assert(DistrictExtract.shouldExtract(df))
  }

  test("gate: no contest_name column → nothing to extract, frame passes through") {
    val df = Seq(("WAKE", "5")).toDF("county", "total_votes")
    assert(!DistrictExtract.shouldExtract(df))
    val out = DistrictExtract.withGate(df)
    assert(out.columns.toSeq === Seq("county", "total_votes"))
    assert(out.collect().toSeq === Seq(Row("WAKE", "5")))
  }
}
