package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.SpecBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.lake.Lake

/** Guards on the Spark jobs a copy-on-write lake commit and a
  * deletion-vector read start, on a KB-sized four-file table. A commit
  * decides which files it touches with one semi-join and feeds its
  * anti-joins undeduplicated keys (SQL `DELETE`'s included); mask
  * sidecars are read with their declared schema. A change that adds a
  * metadata job back to either path fails here. */
class LakeCommitJobsSpec extends SparkSpec {
  import spark.implicits._

  private val Rows = 2000L

  private def table(tag: String): String =
    table(new java.io.File(Scratch.root,
      s"graft-commitjobs-$tag-${spark.sparkContext.applicationId}"))

  private def table(d: java.io.File): String = {
    Scratch.rm(d)
    Lake.create(spark.range(1L, Rows + 1L).select(col("id").as("k"),
      (col("id") % 5).cast("string").as("p"), (col("id") * 3L).as("c")),
      d.getAbsolutePath, "k", targetFiles = 4)
    assert(Lake.manifest(d.getAbsolutePath, 1L).files.size === 4)
    d.getAbsolutePath
  }

  private def batch(keys: Seq[Long]): DataFrame =
    keys.map(k => (k, "u", k * 7L)).toDF("k", "p", "c")

  /** `body`'s result and the call sites of the jobs it started (in its
    * job group, which Spark SQL hands to the threads it runs the
    * query's stages on). */
  private def jobsOf[T](body: => T): (T, Seq[String]) = {
    val sc = spark.sparkContext
    val group = s"commitjobs-${java.util.UUID.randomUUID}"
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.add(Option(e.properties.getProperty("callSite.short"))
            .getOrElse(e.stageInfos.maxBy(_.stageId).name))
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, group)
    try {
      val r = body
      SpecBus.drain(sc)
      (r, jobs.asScala.toSeq)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("a 350-key upsert into a four-file table runs at most 8 jobs") {
    val dir = table("upsert")
    val (_, jobs) = jobsOf(Lake.upsert(spark, dir,
      batch((701L to 1000L) ++ (Rows + 1L to Rows + 50L))))
    info(s"${jobs.size} jobs: ${jobs.mkString("; ")}")
    assert(jobs.size <= 8, s"${jobs.size} jobs:\n${jobs.mkString("\n")}")
    val back = Lake.read(spark, dir)
    assert(back.count() === Rows + 50L)
    assert(back.filter(col("p") === "u").count() === 350L)
  }

  test("a merge into a four-file table runs at most 8 jobs") {
    val dir = table("merge")
    val (_, jobs) = jobsOf(Lake.merge(spark, dir, batch(301L to 500L),
      (1201L to 1250L).toDF("k")))
    info(s"${jobs.size} jobs: ${jobs.mkString("; ")}")
    assert(jobs.size <= 8, s"${jobs.size} jobs:\n${jobs.mkString("\n")}")
    val back = Lake.read(spark, dir)
    assert(back.count() === Rows - 50L)
    assert(back.filter(col("p") === "u").count() === 200L)
    assert(back.filter(col("k").between(1201L, 1250L)).count() === 0L)
  }

  test("a 100-key copy-on-write delete from a four-file table runs at most 5 jobs") {
    val dir = table("delete")
    val (_, jobs) = jobsOf(Lake.delete(spark, dir, (1201L to 1300L).toDF("k")))
    info(s"${jobs.size} jobs: ${jobs.mkString("; ")}")
    assert(jobs.size <= 5, s"${jobs.size} jobs:\n${jobs.mkString("\n")}")
    assert(Lake.read(spark, dir).count() === Rows - 100L)
  }

  test("a SQL DELETE of 100 keys from a four-file table runs at most 5 jobs") {
    val wh = new java.io.File(Scratch.root,
      s"graft-commitjobs-wh-${spark.sparkContext.applicationId}")
    Scratch.rm(wh)
    spark.conf.set("spark.sql.catalog.commitjobs",
      classOf[graft.sources.LakeCatalog].getName)
    spark.conf.set("spark.sql.catalog.commitjobs.warehouse", wh.getAbsolutePath)
    val dir = table(new java.io.File(wh, "ns/t"))
    val (_, jobs) = jobsOf(spark.sql("DELETE FROM commitjobs.ns.t WHERE k > 1200 AND k <= 1300"))
    info(s"${jobs.size} jobs: ${jobs.mkString("; ")}")
    assert(jobs.size <= 5, s"${jobs.size} jobs:\n${jobs.mkString("\n")}")
    assert(Lake.read(spark, dir).count() === Rows - 100L)
  }

  test("repeated delete keys in a merge delete each row once; deletes win") {
    val dir = table("dups")
    Lake.merge(spark, dir, batch((301L to 310L) :+ 1203L),
      ((1201L to 1205L) ++ (1201L to 1205L)).toDF("k"))
    val back = Lake.read(spark, dir)
    assert(back.count() === Rows - 5L)
    assert(back.filter(col("p") === "u").count() === 10L)
    assert(back.filter(col("k").between(1201L, 1205L)).count() === 0L)
  }

  test("reading a snapshot with a deletion vector starts no schema-inference job") {
    val dir = table("dv")
    Lake.deleteWhereMor(spark, dir, col("k").between(10L, 20L))
    assert(Lake.manifest(dir, 2L).files.exists(_.dv.isDefined))
    val (df, jobs) = jobsOf(Lake.read(spark, dir))
    assert(jobs.isEmpty, s"building the read ran jobs:\n${jobs.mkString("\n")}")
    assert(df.count() === Rows - 11L)
    val (maskedFiles, _, maskedRows) = Lake.dvStats(spark, dir)
    assert((maskedFiles, maskedRows) === ((1, 11L)))
  }
}
