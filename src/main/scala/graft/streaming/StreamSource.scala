package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

/** Multi-file CHRONOLOGICAL source layout for the driver-oracled
  * streaming loops (round 8, VERDICT r7 #2): the testdata assets are
  * single parquet files, and Spark's file stream source batches per
  * file — so every streaming gate used to run exactly ONE micro-batch,
  * leaving cross-batch state carry, watermark advancement, and
  * exactly-once replay markers pinned only in specs. This fixture
  * lands an asset as [[NumFiles]] range-partitioned-by-time files and
  * stamps ascending mtimes on them; consumers read the directory with
  * `maxFilesPerTrigger=1`, so an `AvailableNow` run drains it as
  * [[NumFiles]] ordered micro-batches — a real log-arrival replay.
  *
  * Chronological order is LOAD-BEARING for the watermarked loops: the
  * events table spans 30 days while `x6_stream_join` carries a 1-day
  * watermark — an arbitrary (hash/id) split would feed batch N+1 rows
  * OLDER than the watermark advanced by batch N, and Structured
  * Streaming would (correctly, per its contract) drop them as late,
  * breaking the hash gate. Range-partitioning by event time makes
  * every batch's minimum ≥ the previous batch's maximum — the same
  * in-order contract a time-compacted log gives a production consumer.
  *
  * Built once per (session, sfDir, asset fingerprint) — the memo
  * prices source ARRIVAL (not query work) out of steady-state bench
  * numbers; every streaming query reads it through the memo, so
  * Bench's cold pass republishes each with the landing cost included.
  */
object StreamSource {

  val NumFiles = 4

  private val memo = new graft.Scratch.FixtureMemo[String](
    d => graft.Scratch.rm(new java.io.File(d)))

  /** The asset landed as [[NumFiles]] time-ordered parquet files;
    * returns the directory to `readStream` from. `orderCol` is the
    * event-time column in whatever RAW encoding the asset carries
    * (int64-nanos orders identically to the timestamp it encodes). */
  private[graft] def chronological(spark: SparkSession, sfDir: String,
      asset: String, orderCol: String): String =
    memo.get(spark, sfDir, Seq(s"$sfDir/$asset.parquet"), tag = asset) { () =>
      val dir = graft.Scratch.dir(spark, s"stream-src-$asset", sfDir)
      graft.Scratch.rm(dir)
      graft.Tables.read(spark, sfDir, asset)
        .repartitionByRange(NumFiles, col(orderCol))
        .write.parquet(dir.getAbsolutePath)
      // range partition i lands as part-0000i: stamp ascending mtimes
      // so the file stream source (which orders candidate files by
      // modification time) drains them oldest-time-range first
      val parts = Option(dir.listFiles()).getOrElse(Array.empty)
        .filter(_.getName.startsWith("part-")).sortBy(_.getName)
      val t0 = System.currentTimeMillis() - parts.length * 2000L
      parts.zipWithIndex.foreach { case (f, i) =>
        f.setLastModified(t0 + i * 2000L); ()
      }
      dir.getAbsolutePath
    }
}
