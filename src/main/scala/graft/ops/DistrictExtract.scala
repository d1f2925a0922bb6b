package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** T2 + F1 + F2 — district extraction from contest_name
  * (/root/reference/ingestor_precinct.py:165-183).
  *
  * Reference semantics, preserved exactly:
  *  - Gate (F2): runs only when the `district` column is absent OR has
  *    no truthy value — pandas `.any()` truthiness: null and `""` are
  *    both falsy (SURVEY.md §7.3). A frame with no `contest_name`
  *    column has nothing to extract from and passes through.
  *  - Three case-insensitive patterns applied SEQUENTIALLY, each mask
  *    recomputed on the already-mutated contest_name:
  *      1. `DISTRICT \d`          — digit districts
  *      2. `DISTRICT [a-z]\b`     — single-letter districts (this also
  *         swallows roman I/V/X before pattern 3 sees them)
  *      3. `DISTRICT (IX|I?V|V?I{1,3})\b` — the reference's quirky
  *         roman-numeral regex, copied verbatim (matches IV, V, VIII;
  *         misses e.g. IX-less forms like VIV) (:179)
  *  - On match: uppercase the name, split on the LAST literal
  *    'DISTRICT' (`str.rsplit('DISTRICT', n=1)`): contest_name := the
  *    uppercased prefix (trailing space KEPT), district := the suffix
  *    (leading space KEPT).
  *
  * Implementation is pure column algebra — `substring_index(u,
  * 'DISTRICT', -1)` gives the rsplit suffix, a length subtraction the
  * prefix — so the whole transform stays inside WholeStageCodegen with
  * no UDF. The gate is one short-circuit aggregate (`LIMIT 1` scan).
  */
object DistrictExtract {

  /** (F1) the three regex predicates, in reference order. */
  val patterns: Seq[String] = Seq(
    "(?i)DISTRICT \\d",
    "(?i)DISTRICT [a-z]\\b",
    "(?i)DISTRICT (IX|I?V|V?I{1,3})\\b",
  )

  /** F2 gate: pandas-truthiness "any" over the district column. False
    * when there is no contest_name to extract from. */
  def shouldExtract(df: DataFrame): Boolean =
    df.columns.contains("contest_name") && (!df.columns.contains("district") ||
      df.filter(col("district").isNotNull && col("district") =!= "").isEmpty)

  /** The unconditional 3-pattern pipeline. */
  def apply(df: DataFrame): DataFrame = {
    val base =
      if (df.columns.contains("district")) df
      else df.withColumn("district", lit(null).cast("string"))
    patterns.foldLeft(base) { (d, p) =>
      val matched = col("contest_name").rlike(p)
      val u = upper(col("contest_name"))
      val suffix = substring_index(u, "DISTRICT", -1)
      val prefix = u.substr(lit(1), length(u) - length(suffix) - lit("DISTRICT".length))
      d.withColumn("district", when(matched, suffix).otherwise(col("district")))
        .withColumn("contest_name", when(matched, prefix).otherwise(col("contest_name")))
    }
  }

  /** Reference behavior: gate, then extract. */
  def withGate(df: DataFrame): DataFrame =
    if (shouldExtract(df)) apply(df) else df
}
