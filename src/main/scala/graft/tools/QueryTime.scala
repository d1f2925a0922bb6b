package graft.tools

import graft.{Graft, SparkEntry}

/** Steady-state timer for individual registered queries: runs each
  * named query N times in one JVM (same session config as Bench) and
  * prints every run's wall seconds plus the min — separating real
  * regressions from shared-host noise without paying for the full
  * Bench sweep.
  *
  * Run: sbt "runMain graft.tools.QueryTime x2_dup_clusters [more...] [--n=4]"
  */
object QueryTime {
  def main(args: Array[String]): Unit = {
    val n = args.collectFirst { case a if a.startsWith("--n=") => a.drop(4).toInt }.getOrElse(4)
    val names = args.filterNot(_.startsWith("--"))
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Graft.toolSession()
    names.foreach { name =>
      val fn = SparkEntry.queries.getOrElse(name, sys.error(s"unknown query: $name"))
      val times = (1 to n).map { _ =>
        val t0 = System.nanoTime()
        fn(spark, sfDir).count()
        val dt = (System.nanoTime() - t0) / 1e9
        spark.catalog.clearCache()
        System.gc()
        dt
      }
      println(f"$name%-24s runs=${times.map(t => f"$t%.2f").mkString(",")}  min=${times.min}%.2f")
    }
    spark.stop()
  }
}
