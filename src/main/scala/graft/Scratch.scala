package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session-scoped scratch directories for queries that materialize
  * intermediate layouts (streaming landings/checkpoints, lake-table
  * fixtures, shard exports).
  *
  * The path is keyed by BOTH the sfDir hash and the Spark
  * application id (ADVICE r7): two concurrent sessions benching the
  * same sfDir previously shared a scratch root keyed only by
  * `sfDir.hashCode` and would `rm` each other's checkpoint/landing
  * dirs mid-query. The applicationId component gives each session its
  * own namespace — the same per-writer UUID discipline
  * [[graft.lake.Lake]] applies to data subdirs. Roots live on the
  * session tmpfs when available (same policy as [[LocalDirs]]), so
  * they vanish with the host's tmpfs rather than accreting on disk.
  */
object Scratch {

  def root: String =
    LocalDirs.tmpfs.getOrElse(System.getProperty("java.io.tmpdir"))

  /** `<root>/graft-<kind>-<appId>-<sfHash>` — stable within a session
    * (memoizable), disjoint across sessions and across SFs. */
  def dir(spark: SparkSession, kind: String, sfDir: String): java.io.File =
    new java.io.File(root,
      s"graft-$kind-${spark.sparkContext.applicationId}-" +
        java.lang.Integer.toHexString(sfDir.hashCode))

  /** Recursive delete (no symlink traversal concerns on the private
    * scratch namespace). */
  def rm(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
    f.delete(); ()
  }

  /** One lazily-built memo slot: the expensive build runs inside the
    * slot's own lock, NOT inside `ConcurrentHashMap.computeIfAbsent`
    * — concurrent first calls whose keys collide on a map bin never
    * serialize behind each other's build, and a re-entrant build
    * (one fixture consuming another, e.g. the CC cluster map over the
    * minhash pair set) cannot deadlock on the bin lock. Private:
    * fixtures memoize through [[FixtureMemo]] only. */
  private final class Slot[T <: AnyRef](build: () => T) {
    @volatile private var cached: T = _
    def get: T = {
      val c = cached
      if (c != null) c
      else synchronized { if (cached == null) cached = build(); cached }
    }
    /** The value if already built — never triggers the build
      * (invalidation must not run the pipeline it is discarding). */
    def peek: Option[T] = Option(cached)
  }

  /** Landed-fixture memo: one [[Slot]] per (session, sfDir, tag, input
    * fingerprint) — the disclosed-memo policy every shared fixture
    * family follows (BASELINE.md). `tag` tells apart the fixtures one
    * memo lands under the same (session, sfDir): the streaming
    * landing kind, the chronological source asset, the dedup
    * pipeline. The fingerprint covers every input path the caller
    * names, so rewritten testdata self-invalidates: a stale entry of
    * the same (session, sfDir, tag) is evicted WITH its teardown
    * before the fresh build.
    *
    * Every instance registers itself in the companion on
    * construction, and [[FixtureMemo.invalidateAll]] tears down every
    * live slot of every memo — the single switch Bench's cold pass
    * flips ([[graft.SparkEntry.invalidateMemos]]): steady-state
    * timings price the consumer of the landed fixture, `cold_queries`
    * re-prices the full lifecycle. This is the only fixture-memo
    * mechanism; `FixtureMemoSpec` fails on a hand-rolled map of
    * slots anywhere else. */
  final class FixtureMemo[T <: AnyRef](teardown: T => Unit) {
    private type Key = (SparkSession, String, String, String)
    private val m = new java.util.concurrent.ConcurrentHashMap[Key, Slot[T]]()
    FixtureMemo.all.add(this)

    def get(spark: SparkSession, sfDir: String, inputs: Seq[String],
        tag: String = "")(build: () => T): T = {
      FixtureMemo.touches.incrementAndGet()
      val fp = inputs.map(fingerprint).mkString("|")
      import scala.jdk.CollectionConverters._
      m.keySet.asScala
        .filter(k => (k._1 eq spark) && k._2 == sfDir && k._3 == tag && k._4 != fp)
        .foreach(drop)
      m.computeIfAbsent((spark, sfDir, tag, fp), _ => new Slot(build)).get
    }

    /** Remove one slot; its teardown runs only if it was built, and
      * only for the caller whose `remove` won. */
    private def drop(k: Key): Unit =
      Option(m.remove(k)).foreach(_.peek.foreach(teardown))

    private[graft] def invalidate(): Unit = {
      import scala.jdk.CollectionConverters._
      m.keySet.asScala.foreach(drop)
    }

    private[graft] def isEmpty: Boolean = m.isEmpty
  }

  object FixtureMemo {
    private val all =
      new java.util.concurrent.CopyOnWriteArrayList[FixtureMemo[_ <: AnyRef]]()
    private val touches = new java.util.concurrent.atomic.AtomicLong()

    /** Every memo constructed so far in this JVM. */
    private[graft] def registered: Seq[FixtureMemo[_ <: AnyRef]] = {
      import scala.jdk.CollectionConverters._
      all.asScala.toSeq
    }

    /** Count of [[FixtureMemo.get]] calls across all memos: a query
      * whose run moves it read a memoized fixture, which is how Bench
      * derives the set of queries its cold pass re-times. */
    def gets: Long = touches.get

    /** Tear down every live slot of every memo, never building one. */
    def invalidateAll(): Unit = registered.foreach(_.invalidate())
  }

  /** Drop the checkpoint blocks behind a memoized frame. A
    * `localCheckpoint` result is a `LogicalRDD` over the persisted
    * RDD; unpersisting THAT rdd (not the Dataset, whose `unpersist`
    * only consults the cache manager) frees the executor blocks
    * immediately instead of waiting for the ContextCleaner's GC-driven
    * sweep. */
  def releaseCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed.foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.unpersist(false)
      case _ => ()
    }

  /** Cheap content fingerprint of an asset directory/file (name,
    * length, mtime of every file) — the memo-key component that makes
    * session-scoped fixtures self-invalidate when the data under an
    * already-memoized path is rewritten. */
  def fingerprint(path: String): String = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory)
        Option(f.listFiles()).map(_.toSeq.sortBy(_.getName)).getOrElse(Nil).flatMap(walk)
      else Seq(f)
    val root = new java.io.File(path)
    if (!root.exists()) "absent"
    else walk(root).map(f => s"${f.getName}:${f.length}:${f.lastModified}").mkString(",")
  }
}
