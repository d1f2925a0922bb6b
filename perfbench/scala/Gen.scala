package graft.perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input synthesis: the same seed gives the same inputs. Values
  * Spark generates are hashes of (seed, column tag, row id), never
  * `rand()`, so they do not depend on partitioning; values built on the
  * Spark driver come from generators seeded from the seed. */
object Gen {

  val Priorities: Seq[String] = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

  /** `n` orders keyed 0 until n, each with a seeded priority and a price
    * in cents. */
  def orders(spark: SparkSession, seed: Long, n: Long): DataFrame = {
    def h(tag: String, m: Long): Column = pmod(xxhash64(lit(seed), lit(tag), col("id")), lit(m))
    spark.range(0, n, 1, 4).select(col("id").as("o_orderkey"),
      element_at(array(Priorities.map(lit): _*), (h("o_prio", 5) + 1).cast("int")).as("o_orderpriority"),
      (lit(100000L) + h("o_cents", 49900000L)).as("o_cents"))
  }

  private val Vocab: Array[String] = ("a the key agg row scan slow fast table value part hash " +
    "merge batch spark line sort window join small big query order group column data " +
    "stream filter customer vector").split(" ")

  /** `documents` + `embeddings` in the testdata schema, `n` rows each.
    * A quarter of the documents are near-copies of an earlier one (a few
    * words replaced) and a twentieth exact copies, so the near-dup
    * operators have real pairs to find; embeddings sit around ten label
    * centroids, and near-dup documents get near-identical vectors. */
  def corpus(spark: SparkSession, dir: String, seed: Long, n: Int): Unit = {
    val rnd = new java.util.Random(seed * 1000003L + 17)
    val langs = Array("en", "en", "en", "de", "es", "fr", "zh")
    val texts = new Array[String](n)
    val origin = new Array[Int](n)
    for (i <- 0 until n) {
      val r = rnd.nextInt(20)
      if (i > 10 && r < 5) {
        val src = rnd.nextInt(i)
        val words = texts(src).split(" ")
        val edits = if (r == 0) 0 else 1 + rnd.nextInt(3)
        for (_ <- 0 until edits) words(rnd.nextInt(words.length)) = Vocab(rnd.nextInt(Vocab.length))
        texts(i) = words.mkString(" "); origin(i) = origin(src)
      } else {
        texts(i) = Array.fill(20 + rnd.nextInt(60))(Vocab(rnd.nextInt(Vocab.length))).mkString(" ")
        origin(i) = i
      }
    }
    import spark.implicits._
    val docs = (0 until n).map { i =>
      (i.toLong, texts(i), langs(rnd.nextInt(langs.length)), s"src${rnd.nextInt(20)}", texts(i).length.toLong)
    }
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val centroids = Array.fill(10, 64)(rnd.nextGaussian().toFloat * 0.2f)
    val base = new Array[Array[Float]](n)
    val vecs = (0 until n).map { i =>
      val label = origin(i) % 10
      val v =
        if (origin(i) != i && base(origin(i)) != null)
          base(origin(i)).map(x => x + rnd.nextGaussian().toFloat * 0.002f)
        else centroids(label).map(x => x + rnd.nextGaussian().toFloat * 0.1f)
      base(i) = v
      (i.toLong, v.toSeq, label)
    }
    vecs.toDF("vec_id", "embedding", "label")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
  }

  /** NCSBE-style staged results, one sub-directory per batch.
    * Batch `b` carries election dates unique to it, so a rollup over
    * the batch's dates reads exactly what the batch appended. Even
    * batches: four comma files with one header (the single-scan path);
    * odd batches: comma and tab files with permuted column order (the
    * per-file union path). Every file carries `Not Found` tokens and
    * `… DISTRICT n|X|IV` contest names with no district column. In the
    * even batches each line is malformed (an unparseable vote total)
    * with probability 1/200, at seeded positions. The odd batches carry
    * none: a union batch in which one file has a malformed vote total
    * and another has none aborts with CAST_INVALID_INPUT instead of
    * nulling the value; [[mixedUnion]] builds that case for the traced
    * run's probe. */
  final case class Batch(dir: String, dates: Seq[String], rows: Long, wellFormed: Long,
      votesByDate: Map[String, Long], bytes: Long)

  val Header: Seq[String] = Seq("County", "Election Date", "Precinct", "Contest Group ID",
    "Contest Type", "Contest Name", "Choice", "Choice Party", "Vote For", "Election Day",
    "One Stop", "Absentee by Mail", "Provisional", "Total Votes")

  /** Every field value a staged line draws from, as ASCII bytes built
    * once. A line is then a run of copies into one reused buffer and
    * allocates nothing, so the set-up's time does not depend on how much
    * of the heap the JVM has touched yet. */
  private def ascii(x: String): Array[Byte] = x.getBytes(StandardCharsets.US_ASCII)
  private def names(prefix: String, n: Int): Array[Array[Byte]] = Array.tabulate(n)(i => ascii(s"$prefix$i"))
  private val Num = names("", 1000)
  private val NumMalformed = Array.tabulate(1000)(i => ascii(s"$i#"))
  private val Counties = names("COUNTY_", 100)
  private val Precincts = names("P", 2000)
  private val Groups = names("G", 50)
  private val Choices = names("CAND_", 8)
  private val Parties = Array("DEM", "REP", "LIB").map(ascii)
  private val House = Array.tabulate(13)(i => ascii(s"US HOUSE OF REPRESENTATIVES DISTRICT ${i + 1}"))
  private val Court = Array.tabulate(26)(i => ascii(s"SUPERIOR COURT DISTRICT ${('A' + i).toChar}"))
  private val Sanitary = Array("I", "II", "III", "IV", "V", "IX").map(r => ascii(s"SANITARY DISTRICT $r"))
  private val Senate = ascii("US SENATE")
  private val NotFound = ascii("Not Found")
  private val ContestTypes = Array("S", "C").map(ascii)

  /** A file written through a caller's buffer. */
  private final class Out(file: File, buf: Array[Byte]) {
    private val os = new java.io.FileOutputStream(file)
    private var n = 0
    def put(x: Array[Byte]): Unit = { System.arraycopy(x, 0, buf, n, x.length); n += x.length }
    def put(x: Byte): Unit = { buf(n) = x; n += 1 }
    /** Writes the buffer out once it is nearly full; call after each line. */
    def endLine(): Unit = if (n > buf.length - 4096) { os.write(buf, 0, n); n = 0 }
    def close(): Unit = try os.write(buf, 0, n) finally os.close()
  }

  /** Draws one staged line into `out`. Returns -1 for a malformed line,
    * else its vote total × 2 + its date's index. */
  private def stagedLine(rnd: java.util.SplittableRandom, withMalformed: Boolean, dates: Array[Array[Byte]],
      order: Array[Int], sep: Byte, fields: Array[Array[Byte]], out: Out): Int = {
    val d = rnd.nextInt(2)
    val ed = rnd.nextInt(400); val os = rnd.nextInt(300)
    val abm = rnd.nextInt(100); val prov = rnd.nextInt(10)
    val malformed = withMalformed && rnd.nextInt(200) == 0
    val total = ed + os + abm + prov
    fields(5) = rnd.nextInt(4) match {
      case 0 => House(rnd.nextInt(13))
      case 1 => Court(rnd.nextInt(26))
      case 2 => Sanitary(rnd.nextInt(6))
      case _ => Senate
    }
    fields(0) = Counties(rnd.nextInt(100)); fields(1) = dates(d)
    fields(2) = Precincts(rnd.nextInt(2000)); fields(3) = Groups(rnd.nextInt(50))
    fields(4) = ContestTypes(rnd.nextInt(2)); fields(6) = Choices(rnd.nextInt(8))
    fields(7) = if (rnd.nextInt(10) == 0) NotFound else Parties(rnd.nextInt(3))
    fields(8) = Num(1 + rnd.nextInt(3)); fields(9) = Num(ed)
    fields(10) = if (rnd.nextInt(25) == 0) NotFound else Num(os)
    fields(11) = Num(abm); fields(12) = Num(prov)
    fields(13) = if (malformed) NumMalformed(total) else Num(total)
    var j = 0
    while (j < order.length) {
      if (j > 0) out.put(sep)
      out.put(fields(order(j))); j += 1
    }
    out.put('\n'.toByte)
    out.endLine()
    if (malformed) -1 else total * 2 + d
  }

  /** Writes the batches on one thread per core, as the engine reads them:
    * a single-threaded set-up took twice as long in some JVMs as in
    * others on a shared host. Each batch draws from its own seeded
    * generator, so the files do not depend on the thread count. */
  def staged(root: String, seed: Long, batches: Int, rowsOf: Int => Int): Seq[Batch] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(Runtime.getRuntime.availableProcessors())
    try {
      val tasks = (0 until batches).map { b =>
        pool.submit(new java.util.concurrent.Callable[Batch] {
          def call(): Batch = stagedBatch(new File(root, f"batch$b%03d"), seed, b, rowsOf(b))
        })
      }
      tasks.map(_.get())
    } finally pool.shutdown()
  }

  private def stagedBatch(dir: File, seed: Long, b: Int, rows: Int): Batch = {
    val rnd = new java.util.SplittableRandom(seed * 7919L + b)
    dir.mkdirs()
    val dates = Array(0, 1).map(k => java.time.LocalDate.of(2000, 1, 4).plusDays(14L * b + 7L * k).toString)
    val dateBytes = dates.map(ascii)
    val buf = new Array[Byte](1 << 18)
    val fields = new Array[Array[Byte]](Header.size)
    val nFiles = 4
    var wellFormed = 0L
    val votes = new Array[Long](2)
    for (f <- 0 until nFiles) {
      val sep = if (b % 2 == 0 || f % 2 == 0) ',' else '\t'
      val order = if (b % 2 == 0) Header.indices.toArray
        else new scala.util.Random(seed + b * 31 + f).shuffle(Header.indices.toList).toArray
      val out = new Out(new File(dir, f"results_$f%02d.${if (sep == ',') "csv" else "tsv"}"), buf)
      try {
        out.put(ascii(order.map(Header).mkString(sep.toString) + "\n"))
        var k = 0
        while (k < rows / nFiles) {
          val v = stagedLine(rnd, b % 2 == 0, dateBytes, order, sep.toByte, fields, out)
          if (v >= 0) { wellFormed += 1; votes(v & 1) += v >> 1 }
          k += 1
        }
      } finally out.close()
    }
    Batch(dir.getPath, dates.toSeq, (rows / nFiles).toLong * nFiles, wellFormed,
      dates.indices.map(d => dates(d) -> votes(d)).toMap, dir.listFiles().map(_.length).sum)
  }

  /** A two-file union batch (a comma and a tab file, columns permuted)
    * in which only the first file has a malformed vote total: the case
    * the per-file union path fails on. Returns the number of well-formed
    * lines. */
  def mixedUnion(dir: String): Long = {
    val d = new File(dir); d.mkdirs()
    val lines = 100
    for (f <- 0 until 2) {
      val sep = if (f == 0) "," else "\t"
      val order = Header.indices.reverse
      val w = Files.newBufferedWriter(new File(d, s"results_$f.${if (f == 0) "csv" else "tsv"}").toPath,
        StandardCharsets.UTF_8)
      try {
        w.write(order.map(Header).mkString(sep)); w.newLine()
        for (k <- 0 until lines) {
          val total = if (f == 0 && k == 7) "301#" else "301"
          val fields = Seq(s"COUNTY_$k", "1999-12-31", s"P$k", "G1", "S", "US SENATE", s"CAND_${k % 8}",
            "DEM", "1", "200", "100", "1", "0", total)
          w.write(order.map(fields).mkString(sep)); w.newLine()
        }
      } finally w.close()
    }
    2L * lines - 1
  }

  def dirBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(dirBytes).sum).getOrElse(0L) else f.length

  def rm(f: File): Unit = graft.Scratch.rm(f)
}
