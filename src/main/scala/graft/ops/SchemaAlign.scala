package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DoubleType, LongType, StringType, StructField, StructType}

/** U1 — schema-aligned vertical union
  * (/root/reference/ingestor_precinct.py:184: `pd.concat([schema, df])`
  * pads missing grand-schema columns with NA and fixes column order).
  *
  * Spark-first: no empty-frame union needed — project every grand-schema
  * column, typed-null for the missing ones, in canonical order. Extra
  * input columns are dropped (the reference's projection at :163 already
  * removed them). Pure projection → no shuffle, collapses into the scan.
  *
  * This is the ingest's only typing step: [[graft.ingest.RawReader]]
  * reads every column as a string, and each grand-schema column is cast
  * once here. A cast that fails yields null (pandas-tolerant) instead of
  * an ANSI-mode job abort; [[observed]] counts those cells.
  */
object SchemaAlign {

  /** The cast of a `from` column to `to`, null where it fails. A string
    * bound for `LongType` also goes through `DOUBLE`, so `"1.0"` stores
    * 1, as it does when CSV inference types the column as a double. */
  private def typed(c: Column, from: DataType, to: DataType): Column =
    if (from == StringType && to == LongType)
      coalesce(c.try_cast(LongType), c.try_cast(DoubleType).try_cast(LongType))
    else c.try_cast(to)

  /** Each grand-schema field with its typed column, and the source
    * column when a cast is needed. */
  private def columns(df: DataFrame, schema: StructType): Seq[(StructField, Column, Option[Column])] = {
    val present = df.schema.fields.map(f => f.name -> f.dataType).toMap
    schema.fields.toSeq.map { f =>
      present.get(f.name) match {
        case Some(t) if t == f.dataType => (f, col(f.name), None)
        case Some(t) => (f, typed(col(f.name), t, f.dataType), Some(col(f.name)))
        case None => (f, lit(null).cast(f.dataType), None)
      }
    }
  }

  def apply(df: DataFrame, schema: StructType): DataFrame =
    df.select(columns(df, schema).map { case (f, c, _) => c.as(f.name) }: _*)

  /** [[apply]], with `obs` filled by the pass that consumes the result:
    * `rows`, and per cast column the number of malformed cells — a
    * non-null source value whose cast failed. */
  def observed(df: DataFrame, schema: StructType, obs: Observation): DataFrame = {
    val cols = columns(df, schema)
    val flags = cols.collect { case (f, c, Some(src)) =>
      f.name -> when(src.isNotNull && c.isNull, 1L).otherwise(0L).as(s"_malformed_${f.name}")
    }
    df.select(cols.map { case (f, c, _) => c.as(f.name) } ++ flags.map(_._2): _*)
      .observe(obs, count(lit(1)).as("rows"),
        flags.map { case (n, _) => sum(col(s"_malformed_$n")).as(n) }: _*)
      .select(schema.fieldNames.toSeq.map(col): _*)
  }
}
