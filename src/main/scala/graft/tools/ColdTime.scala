package graft.tools

import graft.{Graft, SparkEntry}

/** COLD timer for memoized queries: invalidates every fixture memo
  * immediately before each run (exactly Bench's cold-accounting
  * sequence) and prints per-run wall seconds + min — for optimizing
  * the cold landings without paying for a full Bench sweep.
  *
  * Run: sbt "runMain graft.tools.ColdTime x6_stream_medallion [--n=3]"
  */
object ColdTime {
  def main(args: Array[String]): Unit = {
    val n = args.collectFirst { case a if a.startsWith("--n=") => a.drop(4).toInt }.getOrElse(3)
    val names = args.filterNot(_.startsWith("--"))
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Graft.toolSession()
    names.foreach { name =>
      val fn = SparkEntry.queries.getOrElse(name, sys.error(s"unknown query: $name"))
      fn(spark, sfDir).count() // warm codegen/JIT on the landed path once
      val times = (1 to n).map { _ =>
        SparkEntry.invalidateMemos()
        val t0 = System.nanoTime()
        fn(spark, sfDir).count()
        val dt = (System.nanoTime() - t0) / 1e9
        spark.catalog.clearCache()
        System.gc()
        dt
      }
      println(f"$name%-24s cold runs=${times.map(t => f"$t%.2f").mkString(",")}  min=${times.min}%.2f")
    }
    spark.stop()
  }
}
