package graft.ingest

import java.io.File
import java.nio.file.{Files, Paths}
import java.util.Locale

import com.univocity.parsers.csv.{CsvParser, CsvParserSettings, UnescapedQuoteHandling}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** S4 + S5 — raw CSV/TSV scan and multi-file union
  * (/root/reference/ingestor_precinct.py:109-113).
  *
  * Reference behavior: glob a directory, per-file delimiter sniff,
  * `pd.read_csv(f, sep, na_values='Not Found')`, then concat.
  *
  * Spark mapping:
  *  - every file is read with an explicit all-`StringType` schema named
  *    from its own header, which is read locally (first non-blank line,
  *    tokenized like Spark's CSV reader). A read therefore runs no Spark
  *    job: no header job, no schema-inference pass. Typing happens once,
  *    later, in [[graft.ops.SchemaAlign]]'s cast to the grand schema,
  *    whose target types the reference also fixes up front (:192-218);
  *  - same-delimiter, same-header directories: ONE distributed
  *    `spark.read.csv(dir)` call (splittable, parallel by file/block);
  *  - mixed delimiters / differing headers: per-file reads unioned by
  *    name. Every file is all-string, so the union never coerces one
  *    file's values to another file's type.
  *
  * The files read are the ones Spark's own scan of the directory lists:
  * hidden (`_`/`.`-prefixed) and zero-byte files are skipped.
  * `"Not Found"` → null is the reference's na_values token (:112).
  */
object RawReader {

  val NullToken = "Not Found"

  /** Spark's file-listing rule (`InMemoryFileIndex.shouldFilterOutPathName`)
    * plus the scan's zero-length-split filter. */
  private def inputFiles(dir: String): Seq[String] =
    Option(new File(dir).listFiles()).getOrElse(Array.empty[File]).toSeq
      .filter { f =>
        val n = f.getName
        f.isFile && f.length > 0 && !n.startsWith(".") && !n.endsWith("._COPYING_") &&
          !(n.startsWith("_") && !n.contains("="))
      }
      .map(_.getPath).sorted

  /** The first non-blank line, as Spark's CSV reader takes the header. */
  private def headerLine(path: String): Option[String] = {
    val reader = Files.newBufferedReader(Paths.get(path))
    try Iterator.continually(reader.readLine()).takeWhile(_ != null).find(_.trim.nonEmpty)
    finally reader.close()
  }

  /** Univocity with the settings Spark's CSV reader uses by default. */
  private def tokenize(line: String, sep: String): Array[String] = {
    val settings = new CsvParserSettings()
    val format = settings.getFormat
    format.setDelimiter(sep)
    format.setQuote('"')
    format.setQuoteEscape('\\')
    settings.setCommentProcessingEnabled(false)
    settings.setIgnoreLeadingWhitespaces(false)
    settings.setIgnoreTrailingWhitespaces(false)
    settings.setMaxColumns(20480)
    settings.setMaxCharsPerColumn(-1)
    settings.setUnescapedQuoteHandling(UnescapedQuoteHandling.STOP_AT_DELIMITER)
    Option(new CsvParser(settings).parseLine(line)).getOrElse(Array.empty[String])
  }

  /** Spark's safe-header rule (`CSVUtils.makeSafeHeader`): an empty or
    * null-token name becomes `_c<i>`, a duplicate name (compared
    * case-insensitively unless the session is case-sensitive) `name<i>`. */
  private def safeHeader(names: Seq[String], caseSensitive: Boolean): Seq[String] = {
    def key(n: String) = if (caseSensitive) n else n.toLowerCase(Locale.ROOT)
    val dups = names.filter(_ != null).groupBy(key).collect { case (k, v) if v.size > 1 => k }.toSet
    names.zipWithIndex.map {
      case (n, i) if n == null || n.isEmpty || n == NullToken => s"_c$i"
      case (n, i) if dups(key(n)) => s"$n$i"
      case (n, _) => n
    }
  }

  private def read(spark: SparkSession, path: String, sep: String, names: Seq[String]): DataFrame =
    spark.read
      .schema(StructType(names.map(StructField(_, StringType))))
      .option("header", "true")
      .option("sep", sep)
      .option("nullValue", NullToken)
      .csv(path)

  /** Glob + per-file sniff + union-by-name, like the reference loop.
    * Fast-paths to a single multi-file scan when all seps agree and
    * headers match — decided from the header line of each file
    * (metadata cost, no Spark job). A file with no header line holds no
    * rows and adds no columns. */
  def readDir(spark: SparkSession, dir: String): DataFrame = {
    val caseSensitive = spark.sessionState.conf.caseSensitiveAnalysis
    val files = inputFiles(dir).flatMap { f =>
      headerLine(f).map { l =>
        val sep = Sniffer.sniffLine(l)
        (f, sep, safeHeader(tokenize(l, sep).toSeq, caseSensitive))
      }
    }
    require(files.nonEmpty, s"no input files in $dir")
    if (files.map(_._2).distinct.length == 1 && files.map(_._3).distinct.length == 1)
      read(spark, dir, files.head._2, files.head._3) // one distributed scan
    else
      files.map { case (f, sep, names) => read(spark, f, sep, names) }
        .reduce(_.unionByName(_, allowMissingColumns = true))
  }
}
