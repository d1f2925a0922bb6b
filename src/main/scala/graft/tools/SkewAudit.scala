package graft.tools

import org.apache.spark.sql.functions._

import graft.Graft

/** Guide §2.5 skew audit for the dedup band self-joins (VERDICT r14
  * #6): the (band, bh) key histogram decides whether a hot band makes
  * the candidate self-join quadratic on one key. Prints, for each
  * banding pipeline at the given SF:
  *   - total band rows and distinct (band, bh) keys;
  *   - the top keys by bucket size, their share of Σ c·(c−1)/2 pair
  *     work, and max/median bucket size (the §2.5 ratio);
  *   - the same for a SYNTHETIC hot band (every doc's text prefixed
  *     with a shared boilerplate header — the real-world failure mode:
  *     shared headers/footers collapse a band to one value).
  *
  * Run: sbt "runMain graft.tools.SkewAudit"
  */
object SkewAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Graft.toolSession()

    def audit(label: String, banded: org.apache.spark.sql.DataFrame): Unit = {
      val counts = banded.groupBy(col("band"), col("bh"))
        .agg(count(lit(1)).as("c"))
        .persist()
      val row = counts.agg(
        count(lit(1)).as("keys"),
        sum(col("c")).as("rows"),
        max(col("c")).as("max_c"),
        expr("percentile_approx(c, 0.5)").as("median_c"),
        sum(expr("c * (c - 1) div 2")).as("pairs")).collect()(0)
      val top = counts.orderBy(col("c").desc).limit(5)
        .collect().map(r => s"${r.getLong(2)}")
      val pairs = row.getLong(4)
      val topPairShare = counts.orderBy(col("c").desc).limit(1)
        .select(expr("c * (c - 1) div 2")).collect()(0).getLong(0)
      println(f"[skew] $label%-18s rows=${row.getLong(1)} keys=${row.getLong(0)} " +
        f"max=${row.getLong(2)} median=${row.get(3)} pairs=$pairs " +
        f"top_key_pair_share=${if (pairs == 0) 0.0 else topPairShare * 100.0 / pairs}%.2f%% " +
        f"top5_c=${top.mkString(",")}")
      counts.unpersist(); ()
    }

    val docs = graft.Tables.documents(spark, sfDir)
    audit("minhash(real)", graft.ext.Dedup.bandedFrameForAudit(docs))
    // synthetic hot band: a shared 64-char boilerplate header on EVERY
    // document — shared prefixes give many docs identical minima in
    // the permutations a band samples, collapsing band buckets
    val boiler = docs.withColumn("text",
      concat(lit("COMMON-CRAWL-BOILERPLATE-HEADER (c) 2026 ALL RIGHTS RESERVED :: "),
        col("text")))
    audit("minhash(hotband)", graft.ext.Dedup.bandedFrameForAudit(boiler))
    spark.stop()
  }
}
