package graft

import org.apache.spark.sql.SparkSession

/** Local-mode session settings for the local disk: where shuffle and
  * spill files go, and which class writes `file:` paths.
  *
  * Spark's local dirs default to `java.io.tmpdir`; on this container
  * buffered writes to the root disk sustain ~26 MB/s with heavy kernel
  * (writeback) time, which turns every shuffle-bound query into an I/O
  * stall — measured 6× on the full bench, 17× on shuffle-heavy ngram
  * dedup. RAM-backed tmpfs (`/dev/shm`, 126 GiB here) removes the
  * writeback path entirely; at bench scale (sf0.1) shuffle files are
  * MBs, far below the tmpfs bound. On a real cluster the same knob is
  * `spark.local.dir` → NVMe scratch; this helper is the local-mode
  * equivalent and is a no-op when no tmpfs exists (CI, other hosts) or
  * when the operator already set SPARK_LOCAL_DIRS explicitly.
  *
  * Every `file:` path Spark writes (parquet output, lake data files,
  * their `.crc` companions, the directories above them) goes through
  * [[NioLocalFileSystem]], which sets file modes in process instead of
  * forking a `chmod` per file and per directory as Hadoop's stock
  * local filesystem does without libhadoop. Modes and checksums are
  * unchanged. Every session the engine, its tools and its specs build
  * comes through [[configure]], so the whole JVM agrees on the class.
  */
object LocalDirs {
  def tmpfs: Option[String] = {
    if (sys.env.contains("SPARK_LOCAL_DIRS")) return None
    val shm = new java.io.File("/dev/shm")
    if (!(shm.isDirectory && shm.canWrite)) return None
    val dir = new java.io.File(shm, "graft-spark")
    dir.mkdirs()
    if (dir.isDirectory && dir.canWrite) Some(dir.getAbsolutePath) else None
  }

  /** Apply to a builder: register [[NioLocalFileSystem]] for `file:`,
    * and set spark.local.dir to tmpfs when available. */
  def configure(b: SparkSession.Builder): SparkSession.Builder = {
    b.config("spark.hadoop.fs.file.impl", classOf[NioLocalFileSystem].getName)
    tmpfs.fold(b)(d => b.config("spark.local.dir", d))
  }
}
