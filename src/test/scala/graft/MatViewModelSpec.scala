package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.lake.{Lake, MatView}

/** Model-based test of view maintenance: a SEEDED random sequence of
  * fact writes (append, upsert, delete, merge, deletion-vector delete,
  * compaction, deletion-vector rewrite) and dimension upserts runs
  * under a plain view (with a derived sum), a star view (with its aux
  * rollup) and a distinct view. After every step:
  *  - each view's stale compensated serve, extrema included, equals
  *    the direct aggregate of the current source;
  *  - every sidecar, written before the step, recovers to the
  *    registered definition.
  * Every fourth step the views refresh ([[MatView.refresh]],
  * [[MatView.refreshDim]], [[MatView.refreshDistinct]]), and the view
  * and aux tables must then equal a fresh define at that version. */
class MatViewModelSpec extends SparkSpec {

  private type Fact = (Long, String, Long, Option[Long], Option[Long])

  private def freshDir(tag: String): String = {
    val d = new java.io.File(Scratch.root,
      s"graft-mvmodel-$tag-${spark.sparkContext.applicationId}")
    Scratch.rm(d)
    d.getAbsolutePath
  }

  private def rowsOf(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).toSeq.sorted

  /** What a register frame serves per group: the row count, then per
    * sum column its sum (NULL when every value is NULL), non-null
    * count, min and max. */
  private def served(df: DataFrame, groupCols: Seq[String],
      sums: Seq[String]): Seq[String] =
    rowsOf(df.select(groupCols.map(col) ++ Seq(col(MatView.countCol)) ++
      sums.flatMap(c => Seq(
        when(col(MatView.nnCol(c)) > 0L, col(MatView.sumCol(c))),
        col(MatView.nnCol(c)), col(MatView.minCol(c)),
        col(MatView.maxCol(c)))): _*))

  /** The same answer computed directly from source rows. */
  private def direct(df: DataFrame, groupCols: Seq[String],
      sums: Seq[String]): Seq[String] =
    rowsOf(df.groupBy(groupCols.map(col): _*).agg(count(lit(1)),
      sums.flatMap(c => Seq(sum(col(c)), count(col(c)), min(col(c)),
        max(col(c)))): _*))

  /** A distinct view's answer per group: rows and distinct values. */
  private def distinctServed(df: DataFrame): Seq[String] =
    rowsOf(df.groupBy("g").agg(sum(col(MatView.countCol)),
      count(when(col(MatView.vNullCol) === 0, lit(1)))))

  private def hex(s: String): String =
    s.getBytes("UTF-8").map(b => f"${b & 0xff}%02x").mkString

  private def sidecar(dir: String, name: String): String =
    new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, name)), "UTF-8")

  test("random write sequences: served, refreshed and recovered views match the source") {
    import spark.implicits._
    MatView.disableAutoMaintenance()
    val src = freshDir("fact")
    val dim = freshDir("dim")
    val (mv, star, dmv) = (freshDir("mv"), freshDir("star"), freshDir("dmv"))
    val rnd = new scala.util.Random(20261021L)
    // a fact row: key, group, dim key (6 has no dim row at first),
    // nullable sum column x, nullable distinct source u
    def fact(k: Long): Fact = (k, s"g${rnd.nextInt(4)}", rnd.nextInt(7).toLong,
      if (rnd.nextInt(5) == 0) None else Some(rnd.nextInt(1000).toLong),
      if (rnd.nextInt(6) == 0) None else Some(rnd.nextInt(40).toLong))
    def facts(rows: Seq[Fact]) = rows.toDF("k", "g", "dk", "x", "u")
    def dims(rows: Seq[(Long, String)]) = rows.toDF("d_key", "region")
    var nextKey = 240L
    def existing(n: Int): Seq[Long] =
      Lake.read(spark, src).select("k").as[Long].collect().toSeq
        .sorted.take(n * 8).filter(_ => rnd.nextInt(8) == 0).take(n)

    Lake.create(facts((0L until nextKey).map(fact)), src, "k", targetFiles = 3)
    Lake.create(dims((0L to 5L).map(k => k -> s"r${k % 3}")), dim, "d_key",
      targetFiles = 1)
    val derived = Seq("x2" -> "x * 2")
    MatView.define(spark, src, mv, Seq("g"), Seq("x", "x2"), derived = derived)
    MatView.defineStar(spark, src, Seq((dim, "dk", "d_key")), star,
      Seq("region", "g"), Seq("x"))
    val ub = Seq("ub" -> "u % 7")
    MatView.defineDistinct(spark, src, dmv, Seq("g"), "ub", derived = ub)
    assert(sidecar(mv, "_mv") === s"fmt=2\nsource=$src\ngroup=g\n" +
      s"sums=x,x2\nbuiltVersion=1\nder0=x2|${hex("x * 2")}\n")
    assert(sidecar(star, "_mv") === s"fmt=2\nsource=$src\ngroup=region,g\n" +
      s"sums=x\nbuiltVersion=1\ndim0=$dim|dk|d_key|1\n")
    assert(sidecar(dmv, "_mvd") === s"fmt=1\nsource=$src\ngroup=g\n" +
      s"dcol=ub\nbuiltVersion=1\nder0=ub|${hex("u % 7")}\n")

    def plainDef = MatView.get(src).get
    def starDef = MatView.getStar(src, Seq(dim)).get
    def distinctDef = MatView.getDistinct(dmv).get
    def source = Lake.read(spark, src)
    val withX2 = (df: DataFrame) => df.withColumn("x2", expr("x * 2"))
    def joined = source.join(Lake.read(spark, dim), col("dk") === col("d_key"))
    def distinctSource =
      source.withColumn("ub", expr("u % 7")).groupBy("g")
        .agg(count(lit(1)), countDistinct(col("ub")))

    val kinds = Seq("append", "upsert", "delete", "merge", "dv-delete",
      "compact", "rewrite-dvs", "dim-upsert")
    val steps = rnd.shuffle(kinds)
    // serves over insert-only and over delete-bearing slices: the two
    // ways the extrema roll forward
    var (feedSlices, recomputeSlices) = (0, 0)
    try {
      steps.zipWithIndex.foreach { case (kind, i) =>
        val step = s"step ${i + 1} ($kind)"
        kind match {
          case "append" =>
            Lake.upsert(spark, src, facts((nextKey until nextKey + 12).map(fact)))
            nextKey += 12
          case "upsert" =>
            Lake.upsert(spark, src, facts((existing(10) ++
              (nextKey until nextKey + 4)).map(fact)))
            nextKey += 4
          case "delete" =>
            Lake.delete(spark, src, existing(8).toDF("k"))
          case "merge" =>
            val dels = existing(5)
            Lake.merge(spark, src,
              facts((existing(6).filterNot(dels.contains) :+ nextKey).map(fact)),
              dels.toDF("k"))
            nextKey += 1
          case "dv-delete" =>
            Lake.deleteWhereMor(spark, src, col("k") % 17 === rnd.nextInt(17))
          case "compact" =>
            Lake.compact(spark, src, targetFiles = 2)
          case "rewrite-dvs" =>
            Lake.rewriteDvs(spark, src)
          case "dim-upsert" =>
            Lake.upsert(spark, dim, dims(Seq(rnd.nextInt(7).toLong,
              rnd.nextInt(7).toLong).distinct.map(k => k -> s"r${rnd.nextInt(4)}")))
        }
        val head = Lake.latestVersion(src)
        val dimHead = Lake.latestVersion(dim)
        if (head > plainDef.builtVersion) {
          if (MatView.appendOnlySlice(src, plainDef.builtVersion, head))
            feedSlices += 1
          else recomputeSlices += 1
        }

        // 1. the stale compensated serve equals the direct aggregate
        assert(served(MatView.compensated(spark, plainDef, head,
            wantsExtrema = true), Seq("g"), Seq("x", "x2")) ===
          direct(withX2(source), Seq("g"), Seq("x", "x2")), s"plain serve, $step")
        val staleDims =
          if (dimHead > starDef.dims.head.dimVersion) Seq(0 -> dimHead) else Nil
        assert(served(MatView.compensatedStar(spark, starDef, head, staleDims,
            wantsExtrema = true), Seq("region", "g"), Seq("x")) ===
          direct(joined, Seq("region", "g"), Seq("x")), s"star serve, $step")
        assert(distinctServed(MatView.compensatedDistinct(spark, distinctDef,
            head)) === rowsOf(distinctSource), s"distinct serve, $step")

        // 2. sidecars written before the step recover the registered views
        val registered = (plainDef, starDef, distinctDef)
        assert((MatView.recover(mv), MatView.recover(star),
          MatView.recoverDistinct(dmv)) === registered, s"recovery, $step")

        // 3. refreshed views equal a fresh define at this version
        if ((i + 1) % 4 == 0) {
          MatView.refresh(spark, src)
          MatView.refresh(spark, src, Seq(dim))
          MatView.refreshDim(spark, src, Seq(dim))
          MatView.refreshDistinct(spark, dmv)
          val (mvF, starF, dmvF) =
            (freshDir("mv-f"), freshDir("star-f"), freshDir("dmv-f"))
          MatView.define(spark, src, mvF, Seq("g"), Seq("x", "x2"),
            derived = derived)
          MatView.defineStar(spark, src, Seq((dim, "dk", "d_key")), starF,
            Seq("region", "g"), Seq("x"))
          MatView.defineDistinct(spark, src, dmvF, Seq("g"), "ub", derived = ub)
          // the fresh defines took over the registry: hand it back
          MatView.recover(mv); MatView.recover(star); MatView.recoverDistinct(dmv)
          assert(MatView.get(src).get.builtVersion === head)
          def table(d: String) = Lake.read(spark, d)
          assert(served(table(mv), Seq("g"), Seq("x", "x2")) ===
            served(table(mvF), Seq("g"), Seq("x", "x2")), s"plain refresh, $step")
          assert(served(table(star), Seq("region", "g"), Seq("x")) ===
            served(table(starF), Seq("region", "g"), Seq("x")),
            s"star refresh, $step")
          assert(served(table(s"$star-aux"), Seq("dk", "g"), Seq("x")) ===
            served(table(s"$starF-aux"), Seq("dk", "g"), Seq("x")),
            s"aux refresh, $step")
          assert(rowsOf(table(dmv)) === rowsOf(table(dmvF)),
            s"distinct refresh, $step")
          Seq(mvF, starF, dmvF).foreach(d => Scratch.rm(new java.io.File(d)))
          Scratch.rm(new java.io.File(s"$starF-aux"))
        }
      }
      assert(feedSlices > 0 && recomputeSlices > 0,
        s"served $feedSlices insert-only and $recomputeSlices other slices")
    } finally {
      MatView.unregister(src)
      MatView.unregisterStar(src, Seq(dim))
      MatView.unregisterDistinct(dmv)
    }
  }
}
