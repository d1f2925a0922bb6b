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

  test("a parquet write plus a lake commit start no process") {
    spark.range(1).count() // session start-up is outside the recording
    val out = scratch("proc")
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try {
      spark.range(0, 1000).select(col("id").as("k"), (col("id") * 2).as("v"))
        .write.parquet(out.resolve("plain").toString)
      Lake.create(spark.range(0, 1000).select(col("id").as("k"), col("id").as("v")),
        out.resolve("lake").toString, "k", targetFiles = 2)
      Lake.upsert(spark, out.resolve("lake").toString,
        spark.range(990, 1010).select(col("id").as("k"), lit(0L).as("v")))
    } finally rec.stop()
    val jfr = out.resolve("proc.jfr")
    rec.dump(jfr)
    rec.close()
    val started = jdk.jfr.consumer.RecordingFile.readAllEvents(jfr).asScala
      .filter(_.getEventType.getName == "jdk.ProcessStart")
      .map(_.getString("command"))
    assert(started.isEmpty, s"processes started:\n${started.mkString("\n")}")
  }
}
