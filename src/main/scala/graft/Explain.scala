package graft

import org.apache.spark.sql.SparkSession

/** Plan inspection: `runMain graft.Explain [queryName ...]` prints the
  * formatted physical plan of each query (default: a scale-critical
  * subset) at sf0.001 — used to check pushdown, broadcast choices, and
  * WholeStageCodegen coverage. */
object Explain {
  def main(args: Array[String]): Unit = {
    // Bench's session (Graft.toolSession), so a dumped plan matches
    // what Bench executes; the sf defaults to sf0.001 for a quick look
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val spark = Graft.toolSession("ERROR")
    val names = if (args.nonEmpty) args.toSeq
      else Seq("q1_pricing_summary", "x8_join_star", "a1_county_rollup",
        "x7_topk_global", "x2_minhash_lsh", "x3_cosine_topk",
        "x6_session_window", "x6_asof_join", "x9_profile",
        "x6_range_join", "q3_shipping_priority", "x8_merge_upsert")
    names.foreach { n =>
      println(s"\n========== $n ==========")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
