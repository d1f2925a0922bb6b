package graft.tools

import graft.{Graft, SparkEntry}

/** Structural profile of one registered query's STEADY execution: job
  * count, stage count, task count, and per-job wall ms, via a
  * SparkListener over a warmed second run. Answers "is this serve
  * data-bound or job-launch-bound?" without the UI.
  *
  * Run: sbt "runMain graft.tools.JobProfile x8_mv_join_stale"
  */
object JobProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Graft.toolSession()
    args.filterNot(_.startsWith("--")).foreach { name =>
      val fn = SparkEntry.queries.getOrElse(name,
        sys.error(s"unknown query: $name"))
      fn(spark, sfDir).count() // warm: fixtures land, code compiles
      val jobs = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Long)]()
      val descs = new java.util.concurrent.ConcurrentHashMap[Int, String]()
      val stages = new java.util.concurrent.atomic.AtomicInteger(0)
      val tasks = new java.util.concurrent.atomic.AtomicInteger(0)
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          jobs.put(e.jobId, (e.time, -1L))
          descs.put(e.jobId, Option(e.properties)
            .flatMap(p => Option(p.getProperty("spark.job.description")))
            .orElse(e.stageInfos.lastOption.map(_.name.takeWhile(_ != '\n')))
            .getOrElse(""))
          stages.addAndGet(e.stageInfos.size)
          tasks.addAndGet(e.stageInfos.map(_.numTasks).sum)
        }
        override def onJobEnd(
            e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
          jobs.computeIfPresent(e.jobId, (_, v) => (v._1, e.time))
      }
      spark.sparkContext.addSparkListener(listener)
      for (aqe <- Seq("true", "false")) {
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
        jobs.clear(); stages.set(0); tasks.set(0)
        val t0 = System.nanoTime()
        fn(spark, sfDir).count()
        val wall = (System.nanoTime() - t0) / 1e9
        Thread.sleep(300) // let the listener bus drain
        import scala.jdk.CollectionConverters._
        val durs = jobs.values().asScala.toSeq
          .filter(_._2 > 0).map(v => v._2 - v._1).sorted.reverse
        println(f"$name%-24s aqe=$aqe%-5s wall=$wall%.2fs jobs=${jobs.size}" +
          f" stages=${stages.get} tasks=${tasks.get}" +
          f" jobMsTop=${durs.take(8).mkString(",")} jobMsSum=${durs.sum}")
        // --desc: per-job wall + gap since previous job's end + call
        // site — attributes the BETWEEN-jobs driver tail, not just the
        // in-job time
        if (args.contains("--desc")) {
          import scala.jdk.CollectionConverters._
          val seq = jobs.asScala.toSeq.filter(_._2._2 > 0).sortBy(_._2._1)
          var prevEnd = seq.headOption.map(_._2._1).getOrElse(0L)
          seq.foreach { case (id, (t0, t1)) =>
            val gap = t0 - prevEnd
            prevEnd = math.max(prevEnd, t1)
            println(f"    job $id%3d ${t1 - t0}%5d ms  gap=$gap%5d ms  ${descs.getOrDefault(id, "").take(100)}")
          }
        }
      }
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.sparkContext.removeSparkListener(listener)
    }
    spark.stop()
  }
}
