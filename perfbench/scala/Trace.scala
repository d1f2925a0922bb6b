package graft.perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One Spark job as the listener saw it, with its tasks' metrics summed
  * and each stage's task durations kept for the skew figure. */
final class JobRec(val id: Int, val span: Int, val callSite: String, val startMs: Long) {
  var endMs: Long = -1L
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var inBytes = 0L
  var inRows = 0L
  var shWrite = 0L
  var shRead = 0L
  var fetchWaitMs = 0L
  var spillMem = 0L
  var spillDisk = 0L
  val stageTaskMs = mutable.Map[Int, mutable.ArrayBuffer[Long]]()
}

/** Attributes every job to the span that was open on the client thread
  * when the job was submitted, through a local property the tracer sets
  * (Spark copies local properties into each job it launches, including
  * broadcast jobs started from its own threads). */
final class JobListener extends SparkListener {
  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    val span = p.flatMap(x => Option(x.getProperty(JobListener.SpanKey))).map(_.toInt).getOrElse(-1)
    // the result stage carries the job's call site ("parquet at IngestJob.scala:80")
    val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
    val rec = new JobRec(e.jobId, span, site, e.time)
    jobs.put(e.jobId, rec)
    e.stageIds.foreach(s => stageJob.put(s, rec))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val rec = stageJob.get(e.stageId)
    val m = e.taskMetrics
    if (rec != null && m != null) rec.synchronized {
      rec.tasks += 1
      rec.runMs += m.executorRunTime
      rec.cpuNs += m.executorCpuTime
      rec.inBytes += m.inputMetrics.bytesRead
      rec.inRows += m.inputMetrics.recordsRead
      rec.shWrite += m.shuffleWriteMetrics.bytesWritten
      rec.shRead += m.shuffleReadMetrics.totalBytesRead
      rec.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      rec.spillMem += m.memoryBytesSpilled
      rec.spillDisk += m.diskBytesSpilled
      rec.stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer()) += e.taskInfo.duration
    }
  }
}

object JobListener {
  val SpanKey = "perfbench.span"
}

final case class Span(id: Int, parent: Int, name: String, op: Long, startNs: Long, var endNs: Long)

/** Spans around every operation and every call into a layer, kept in
  * memory and written when the run ends. With tracing off every method
  * just runs its body: no listener, no span, no counter. */
final class Tracer(val enabled: Boolean, sc: SparkContext) {
  val spans = mutable.ArrayBuffer[Span]()
  val listener: Option[JobListener] = if (enabled) Some(new JobListener) else None
  listener.foreach(sc.addSparkListener)
  /** Per-operation counters: (op id, name) → value. */
  val counts = mutable.LinkedHashMap[(Long, String), Double]()
  private val open = mutable.Stack[Span]()
  private var opId = -1L

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(spans.size, open.headOption.map(_.id).getOrElse(-1), name, opId, System.nanoTime(), -1L)
      spans += s
      open.push(s)
      sc.setLocalProperty(JobListener.SpanKey, s.id.toString)
      try body
      finally {
        s.endNs = System.nanoTime()
        open.pop()
        sc.setLocalProperty(JobListener.SpanKey, open.headOption.map(_.id.toString).orNull)
      }
    }

  /** The top-level span of one operation; its id groups all spans and
    * jobs of the operation. */
  def op[T](id: Long, kind: String)(body: => T): T = {
    opId = id
    span(s"op.$kind")(body)
  }

  /** Runs `body` with no span open, so its jobs belong to no operation. */
  def outside[T](body: => T): T =
    if (!enabled) body
    else {
      sc.setLocalProperty(JobListener.SpanKey, null)
      body
    }

  def count(name: String, v: Double): Unit =
    if (enabled) counts((opId, name)) = counts.getOrElse((opId, name), 0.0) + v

  /** Blocks until the listener has seen every event posted so far. */
  def drain(): Unit = if (enabled) org.apache.spark.PerfbenchBus.drain(sc)

  def close(): Unit = listener.foreach(sc.removeSparkListener)

  def ms(s: Span): Double = (s.endNs - s.startNs) / 1e6

  lazy val children: Map[Int, Seq[Span]] = spans.toSeq.filter(_.parent >= 0).groupBy(_.parent)

  /** Duration minus the part its children cover (children run one at a
    * time on the client thread, so their durations do not overlap). */
  def selfMs(s: Span): Double = ms(s) - children.getOrElse(s.id, Nil).map(ms).sum

  /** Every span of the subtree rooted at `s`. */
  def subtree(s: Span): Seq[Span] = s +: children.getOrElse(s.id, Nil).flatMap(subtree)

  def jobsUnder(s: Span): Seq[JobRec] = {
    val ids = subtree(s).map(_.id).toSet
    import scala.jdk.CollectionConverters._
    listener.map(_.jobs.values.asScala.toSeq.filter(j => ids.contains(j.span))).getOrElse(Nil)
  }

  def jobsOf(spanIds: Set[Int]): Seq[JobRec] = {
    import scala.jdk.CollectionConverters._
    listener.map(_.jobs.values.asScala.toSeq.filter(j => spanIds.contains(j.span))).getOrElse(Nil)
  }

  def opSpans: Seq[Span] = spans.toSeq.filter(_.parent < 0)

  def named(prefix: String): Seq[Span] = spans.toSeq.filter(_.name.startsWith(prefix))

  /** Union of the jobs' [start, end] intervals, in ms. */
  def busyMs(js: Seq[JobRec]): Double = {
    val iv = js.filter(_.endMs >= 0).map(j => (j.startMs, j.endMs)).sortBy(_._1)
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    iv.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total.toDouble
  }

  def writeJsonl(path: java.io.File, workload: String, seed: Long): Unit = {
    path.getParentFile.mkdirs()
    val w = java.nio.file.Files.newBufferedWriter(path.toPath)
    val byspan = listener.map { l =>
      import scala.jdk.CollectionConverters._
      l.jobs.values.asScala.toSeq.groupBy(_.span)
    }.getOrElse(Map.empty)
    try spans.foreach { s =>
      val jobs = byspan.getOrElse(s.id, Nil).sortBy(_.id).map { j =>
        s"""{"job":${j.id},"call_site":${Json.str(j.callSite)},"start_ms":${j.startMs},"end_ms":${j.endMs},""" +
          s""""tasks":${j.tasks},"run_ms":${j.runMs},"cpu_ms":${j.cpuNs / 1000000},"input_bytes":${j.inBytes},""" +
          s""""shuffle_write_bytes":${j.shWrite},"shuffle_read_bytes":${j.shRead},"spill_disk_bytes":${j.spillDisk}}"""
      }
      w.write(s"""{"workload":${Json.str(workload)},"seed":$seed,"op":${s.op},"span":${s.id},""" +
        s""""parent":${s.parent},"name":${Json.str(s.name)},"start_ns":${s.startNs},"end_ns":${s.endNs},""" +
        s""""jobs":[${jobs.mkString(",")}]}""")
      w.newLine()
    } finally w.close()
  }
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else java.math.BigDecimal.valueOf(d).toPlainString
}
