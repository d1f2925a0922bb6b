package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.catalyst.expressions.{Cast, EvalMode, Expression, RLike}
import org.apache.spark.sql.execution.{InputAdapter, SparkPlan, UnionExec, WholeStageCodegenExec}

import graft.ingest.{RawReader, Sniffer}
import graft.ops.FuzzyMatch
import graft.schema.ContestSchema

/** RawReader's union path: one scan per file, each projected to one
  * file-order-free column layout, and a barrier that keeps the map/cast
  * projection above the union. */
class RawReaderUnionSpec extends SparkSpec {

  private def dirOf(files: (String, String)*): String = {
    val dir = Files.createTempDirectory("graft_union")
    files.foreach { case (n, c) => Files.writeString(dir.resolve(n), c) }
    dir.toString
  }

  /** What the union path returned before the column layout and the
    * barrier: one inferred read per file, unioned by name. */
  private def perFileUnion(dir: String): DataFrame =
    new java.io.File(dir).listFiles().map(_.getPath).sorted.toSeq.map { f =>
      spark.read.option("header", "true").option("sep", Sniffer.sniffFile(f))
        .option("nullValue", RawReader.NullToken).csv(f)
    }.reduce(_.unionByName(_, allowMissingColumns = true))

  private def rows(df: DataFrame): Set[Seq[Any]] = df.collect().map(_.toSeq).toSet

  test("union path: one column per name, case-insensitively, in first-appearance order") {
    val dir = dirOf(
      "a.csv" -> "County,Total Votes\nWAKE,5\n",
      "b.tsv" -> "total votes\tcounty\tPrecinct\n7\tDURHAM\tP1\n",
      "c.csv" -> "Precinct,Contest Name,county\nP2,US SENATE,ORANGE\n",
      "d.csv" -> "County,Total Votes\nDARE,9\n")
    val df = RawReader.readDir(spark, dir)
    assert(df.columns.toSeq === Seq("County", "Total Votes", "Precinct", "Contest Name"))
    val before = perFileUnion(dir)
    assert(df.columns.toSeq === before.columns.toSeq)
    assert(rows(df) === rows(before))
  }

  test("union path: a fuzzy-map tie resolves to the first-appearing column") {
    assert(FuzzyMatch.wratio("county", "Name County") === FuzzyMatch.wratio("county", "County Name"))
    assert(FuzzyMatch.wratio("county", "Name County") > FuzzyMatch.Threshold)
    // sorted, "County Name" would come first
    val df = RawReader.readDir(spark, dirOf(
      "a.csv" -> "Name County,Total Votes\nWAKE,5\n",
      "b.tsv" -> "Total Votes\tCounty Name\n7\tDURHAM\n"))
    assert(df.columns.toSeq === Seq("Name County", "Total Votes", "County Name"))
    assert(FuzzyMatch.mapColumns(Seq("county"), df.columns.toSeq) === Map("county" -> "Name County"))
  }

  test("union path: the barrier merges no partitions") {
    val key = "spark.sql.files.maxPartitionBytes"
    val lines = (1 to 300).map(i => s"COUNTY_$i,$i").mkString("\n")
    val dir = dirOf("a.csv" -> s"County,Total Votes\n$lines\n", "b.tsv" -> "Total Votes\tCounty\n7\tWAKE\n")
    val sc = spark.sparkContext
    val group = "graft_union_barrier"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "1k")
    val unionParts = try {
      val df = RawReader.readDir(spark, dir)
      val union = df.queryExecution.executedPlan.collect { case u: UnionExec => u }
      assert(union.size === 1)
      val n = union.head.execute().getNumPartitions
      sc.setJobGroup(group, "barrier")
      try df.write.format("noop").mode("overwrite").save()
      finally sc.clearJobGroup()
      n
    } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    assert(unionParts > 2, "a.csv should span several splits")
    val tracker = sc.statusTracker
    def stages = tracker.getJobIdsForGroup(group).toSeq.flatMap(tracker.getJobInfo).flatMap(_.stageIds)
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (stages.isEmpty && System.nanoTime() < deadline) Thread.sleep(20)
    assert(stages.flatMap(tracker.getStageInfo).map(_.numTasks) === Seq(unionParts))
  }

  /** The nodes of one whole-stage-codegen stage, not those of the stages
    * it reads from. */
  private def stageNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case _: InputAdapter => Nil
    case _ => p +: p.children.flatMap(stageNodes)
  }

  private def holds(p: SparkPlan, f: Expression => Boolean): Boolean = p.expressions.exists(_.exists(f))
  private val isTryCast: Expression => Boolean = {
    case c: Cast => c.evalMode == EvalMode.TRY
    case _ => false
  }

  test("union batches with one column set share the map/cast stage's generated code") {
    val header = Seq("County", "Contest Name", "Choice", "Election Date", "Total Votes")
    val values = Seq("WAKE", "US HOUSE OF REPRESENTATIVES DISTRICT 4", "Jane Doe", "2012-11-06", "12")
    def file(order: Seq[Int], sep: String) =
      order.map(header).mkString(sep) + "\n" + order.map(values).mkString(sep) + "\n"
    val batches = Seq(
      dirOf("a.csv" -> file(Seq(0, 1, 2, 3, 4), ","), "b.tsv" -> file(Seq(4, 3, 2, 1, 0), "\t")),
      dirOf("a.csv" -> file(Seq(3, 0, 4, 2, 1), ","), "b.tsv" -> file(Seq(1, 4, 0, 3, 2), "\t")))
    val bodies = batches.map { dir =>
      val plan = IngestJob.aligned(spark, dir, ContestSchema.precinct, Nil, Observation()).queryExecution
        .executedPlan
      val perFile = plan.collect { case u: UnionExec => u.children }.flatten
      assert(perFile.size === 2)
      perFile.foreach(child => assert(!child.exists(holds(_, e => isTryCast(e) || e.isInstanceOf[RLike]))))
      val castStages = plan.collect {
        case w: WholeStageCodegenExec if stageNodes(w.child).exists(holds(_, isTryCast)) => w
      }
      assert(castStages.size === 1)
      assert(stageNodes(castStages.head.child).exists(holds(_, _.isInstanceOf[RLike])))
      castStages.head.doCodeGen()._2.body
    }
    assert(bodies(0) === bodies(1))
    val out = Files.createTempDirectory("graft_union_store").toString + "/contest"
    batches.foreach { dir =>
      val r = IngestJob.ingest(spark, dir, out, ContestSchema.precinct)
      assert(r.rows === 2L && r.malformed("total_votes") === 0L)
    }
    val landed = spark.read.parquet(out).select("county", "district", "total_votes").collect()
    assert(landed.map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet === Set(("WAKE", " 4", 12L)))
    assert(landed.length === 4)
  }
}
