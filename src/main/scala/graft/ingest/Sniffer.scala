package graft.ingest

import java.io.{BufferedReader, InputStreamReader}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** S3 — delimiter inference (/root/reference/ingestor_precinct.py:27-31:
  * `csv.Sniffer().sniff(first line)`).
  *
  * Driver-side, metadata-sized: reads ONE line of ONE file; the result
  * is passed to the distributed CSV scan as `option("sep", …)`. Spark's
  * CSV reader has no sniffer, so this is the tiny helper SURVEY.md §2a
  * calls for. Candidate set mirrors csv.Sniffer's preferred list.
  */
object Sniffer {

  val candidates: Seq[Char] = Seq(',', '\t', ';', '|', ':')

  /** Pick the candidate with the highest count in the header line
    * (ties → earlier candidate, like csv.Sniffer's preference order). */
  def sniffLine(line: String): String = {
    val best = candidates.maxBy(c => line.count(_ == c))
    if (line.count(_ == best) == 0) "," else best.toString
  }

  /** The first non-blank line, as Spark's CSV reader takes the header:
    * decoded as UTF-8 with U+FFFD for invalid bytes, as Spark decodes it
    * (a strict decoder would fail the whole batch on one stray byte). */
  def headerLine(path: String): Option[String] = {
    val reader = new BufferedReader(
      new InputStreamReader(Files.newInputStream(Paths.get(path)), StandardCharsets.UTF_8))
    try Iterator.continually(reader.readLine()).takeWhile(_ != null).find(_.trim.nonEmpty)
    finally reader.close()
  }

  def sniffFile(path: String): String = sniffLine(headerLine(path).getOrElse(""))
}
