package graft.ingest

import java.io.File
import java.util.Locale

import com.univocity.parsers.csv.{CsvParser, CsvParserSettings, UnescapedQuoteHandling}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
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
  *  - mixed delimiters / differing headers: every file is its own
  *    single-path scan and the scans are unioned. Every file is
  *    all-string, so the union never coerces one file's values to
  *    another file's type.
  *
  * The union path keeps what consumes it out of the per-file plans.
  * Catalyst's `PushProjectionThroughUnion` copies any deterministic
  * projection that sits on a `Union` into every child, where it is bound
  * to that child's own column order: the fuzzy map, the district regexes
  * and the casts above would be generated and compiled anew for every
  * file of every batch, on the driver and again in the tasks. So:
  *  - each file is projected to one layout that does not depend on
  *    file order: the batch's column set, sorted, with a typed string
  *    null where the file lacks a column. A file's plan is then only
  *    its scan and that projection;
  *  - a no-shuffle `coalesce(Int.MaxValue)` sits on the union. It is a
  *    barrier the projection is not pushed through, starts no job, and,
  *    asking for more partitions than the union has, merges none;
  *  - a final select restores the order `unionByName` gives (columns in
  *    order of first appearance, named as they first appear, matched
  *    case-insensitively unless the session is case-sensitive). It
  *    collapses into the projection above the barrier, whose generated
  *    code is then the same for every batch with the same column set
  *    and number of files: the first such batch of a session compiles
  *    it, the later ones reuse it.
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

  private def quoted(name: String): String = "`" + name.replace("`", "``") + "`"

  /** Glob + per-file sniff + union-by-name, like the reference loop.
    * Fast-paths to a single multi-file scan when all seps agree and
    * headers match — decided from the header line of each file
    * (metadata cost, no Spark job); otherwise one scan per file,
    * unioned below a barrier (see above). A file with no header
    * line holds no rows and adds no columns. */
  def readDir(spark: SparkSession, dir: String): DataFrame = {
    val caseSensitive = spark.sessionState.conf.caseSensitiveAnalysis
    val files = inputFiles(dir).flatMap { f =>
      Sniffer.headerLine(f).map { l =>
        val sep = Sniffer.sniffLine(l)
        (f, sep, safeHeader(tokenize(l, sep).toSeq, caseSensitive))
      }
    }
    require(files.nonEmpty, s"no input files in $dir")
    if (files.map(_._2).distinct.length == 1 && files.map(_._3).distinct.length == 1)
      read(spark, dir, files.head._2, files.head._3) // one distributed scan
    else {
      def key(n: String) = if (caseSensitive) n else n.toLowerCase(Locale.ROOT)
      // unionByName's columns: first-appearance order and spelling
      val columns = files.flatMap(_._3).distinctBy(key)
      val spelling = columns.map(n => key(n) -> n).toMap
      val layout = columns.sortBy(key)
      val scans = files.map { case (path, sep, names) =>
        val have = names.map(key).toSet
        read(spark, path, sep, names.map(n => spelling(key(n))))
          .select(layout.map(n => if (have(key(n))) col(quoted(n)) else lit(null).cast(StringType).as(n)): _*)
      }
      scans.reduce(_.union(_)).coalesce(Int.MaxValue).select(columns.map(n => col(quoted(n))): _*)
    }
  }
}
