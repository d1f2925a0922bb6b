package graft

import java.nio.file.{Files, Path => JPath}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.functions._

import graft.lake.Lake

/** [[NioLocalFileSystem]]: every `file:` write of a session sets its
  * modes in process, with the same modes and `.crc` companions as
  * Hadoop's stock `LocalFileSystem`. */
class NioLocalFileSystemSpec extends SparkSpec {

  private def scratch(tag: String): JPath = {
    val d = new java.io.File(Scratch.root,
      s"graft-niofs-$tag-${spark.sparkContext.applicationId}")
    Scratch.rm(d)
    d.mkdirs()
    d.toPath
  }

  /** Relative path → permission bits (sticky included) of everything
    * under `root`. */
  private def modes(root: JPath): Map[String, Int] =
    Files.walk(root).iterator.asScala.filter(_ != root).map(p =>
      root.relativize(p).toString ->
        (Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff)).toMap

  test("the session's file: paths go through NioLocalFileSystem") {
    val fs = new Path(scratch("class").toUri)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.isInstanceOf[NioLocalFileSystem], fs.getClass.getName)
  }

  test("modes and .crc companions match a stock LocalFileSystem write") {
    def write(impl: Class[_ <: FileSystem], root: JPath): Map[String, Int] = {
      val conf = new Configuration(spark.sparkContext.hadoopConfiguration)
      conf.set("fs.file.impl", impl.getName)
      val fs = FileSystem.newInstance(root.toUri, conf)
      try {
        assert(fs.getClass === impl)
        val r = new Path(root.toUri)
        fs.mkdirs(new Path(r, "a/b/c"))
        val out = fs.create(new Path(r, "a/b/c/part-0.parquet"))
        out.write(Array[Byte](1, 2, 3)); out.close()
        fs.mkdirs(new Path(r, "x/y"), new FsPermission("750"))
        fs.create(new Path(r, "x/y/f"), new FsPermission("640"), false, 4096,
          1.toShort, 1L << 20, null).close()
        fs.setPermission(new Path(r, "x"), new FsPermission("1777"))
      } finally fs.close()
      modes(root)
    }
    val stock = write(classOf[LocalFileSystem], scratch("stock"))
    val nio = write(classOf[NioLocalFileSystem], scratch("nio"))
    assert(nio === stock)
    assert(nio.contains("a/b/c/.part-0.parquet.crc") && nio.contains("x/y/.f.crc"))
    assert(nio("x") === Integer.parseInt("1777", 8))
  }

  /** Is this process start Spark's own session-artifact cleanup? Every
    * `Dataset.persist()` clones the session (spark-sql 4.1's
    * `CacheManager.getOrCloneSessionWithConfigsOff`), and when a clone
    * is collected the `Cleaner-0` thread deletes its artifact directory
    * by forking `rm -rf …/artifacts-…` — at a moment set by the
    * garbage collector, not by the code under test. */
  private def artifactCleanup(thread: String, command: String): Boolean =
    thread == "Cleaner-0" && command.startsWith("rm -rf ") &&
      command.contains("/artifacts-")

  /** `[thread] command` of every process started while `body` runs,
    * Spark's artifact cleanup excepted. */
  private def processesStarted(out: JPath)(body: => Unit): Seq[String] = {
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try body finally rec.stop()
    val jfr = out.resolve("proc.jfr")
    rec.dump(jfr)
    rec.close()
    jdk.jfr.consumer.RecordingFile.readAllEvents(jfr).asScala.toSeq
      .filter(_.getEventType.getName == "jdk.ProcessStart")
      .map(e => (Option(e.getThread).map(_.getJavaName).getOrElse("?"),
        e.getString("command")))
      .filterNot { case (t, c) => artifactCleanup(t, c) }
      .map { case (t, c) => s"[$t] $c" }
  }

  test("a parquet write plus a lake commit start no process") {
    spark.range(1).count() // session start-up is outside the recording
    val out = scratch("proc")
    val started = processesStarted(out) {
      spark.range(0, 1000).select(col("id").as("k"), (col("id") * 2).as("v"))
        .write.parquet(out.resolve("plain").toString)
      Lake.create(spark.range(0, 1000).select(col("id").as("k"), col("id").as("v")),
        out.resolve("lake").toString, "k", targetFiles = 2)
      Lake.upsert(spark, out.resolve("lake").toString,
        spark.range(990, 1010).select(col("id").as("k"), lit(0L).as("v")))
    }
    assert(started.isEmpty, s"processes started:\n${started.mkString("\n")}")
  }

  test("the probe sees the chmod forks of a stock LocalFileSystem write") {
    assume(!org.apache.hadoop.util.NativeCodeLoader.isNativeCodeLoaded,
      "libhadoop sets modes without forking")
    val out = scratch("stock-proc")
    val conf = new Configuration(spark.sparkContext.hadoopConfiguration)
    conf.set("fs.file.impl", classOf[LocalFileSystem].getName)
    val fs = FileSystem.newInstance(out.toUri, conf)
    val started =
      try processesStarted(out) {
        fs.mkdirs(new Path(new Path(out.toUri), "d"), new FsPermission("750"))
      } finally fs.close()
    assert(started.exists(_.contains("chmod")), started.mkString("\n"))
  }

  test("the probe exempts only Spark's artifact cleanup") {
    assert(artifactCleanup("Cleaner-0", "rm -rf /tmp/artifacts-0f1e/0f1e"))
    assert(!artifactCleanup("Executor task launch worker for task 0.0",
      "rm -rf /tmp/artifacts-0f1e/0f1e"))
    assert(!artifactCleanup("Cleaner-0", "chmod 644 /tmp/artifacts-0f1e/x"))
    assert(!artifactCleanup("Cleaner-0", "rm -rf /tmp/lake/data-0f1e"))
  }
}
