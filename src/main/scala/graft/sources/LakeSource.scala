package graft.sources

import java.util.{Map => JMap}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{And, Attribute, Cast,
  EqualTo => CEqualTo, Expression, GreaterThan => CGreaterThan,
  GreaterThanOrEqual => CGreaterThanOrEqual, LessThan => CLessThan,
  LessThanOrEqual => CLessThanOrEqual, Literal}
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite,
  Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference,
  Transform}
import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation,
  CountStar, Max, Min}
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.connector.read.{Batch, InputPartition, LocalScan,
  PartitionReaderFactory, Scan, ScanBuilder, Statistics,
  SupportsPushDownAggregates, SupportsReportStatistics,
  SupportsRuntimeV2Filtering}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsTruncate,
  V1Write, Write, WriteBuilder}
import org.apache.spark.sql.execution.datasources.{FileStatusCache, InMemoryFileIndex}
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScanBuilder
import org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.{ByteType, DateType, IntegerType, LongType, ShortType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.lake.Lake

/** SQL surface for the [[graft.lake.Lake]] table format:
  * `spark.read.format("graft-lake").option("path", dir)` (plus
  * optional `versionAsOf`) yields a relation any `spark.sql` query can
  * consume — and Catalyst's pushed filters drive MANIFEST-STAT FILE
  * SKIPPING, so `WHERE key BETWEEN a AND b` over a SQL view opens only
  * the intersecting files, the same pruning [[Lake.readRange]] gives
  * the programmatic API.
  *
  * Design (round 9, the VERDICT r8 #1 migration): **DataSource V2**
  * delegating to Spark's own parquet batch scan. The scan builder
  * receives Catalyst's pushed-down conjuncts, tightens a [lo, hi]
  * prune window for any key/stat comparisons it recognizes, resolves
  * the surviving file list from the manifest, and then builds a REAL
  * `ParquetScanBuilder` over exactly those files — so the physical
  * plan is Spark's columnar `BatchScan parquet` (vectorized decoding,
  * row-group pruning from the forwarded filters, whole-stage-codegen
  * fusion above the scan), not the V1 `PrunedFilteredScan` shape that
  * exited through `DataFrame.rdd` and paid an InternalRow→Row→
  * InternalRow conversion plus a codegen fence on every SQL read.
  *
  * Correctness never depends on the pruning: `pushFilters` returns
  * EVERY conjunct as post-scan (Catalyst keeps its Filter node and
  * re-applies them), so the manifest bounds only decide which files
  * CANNOT match and are skipped — exactly [[Lake.readRange]]'s
  * contract. Column pruning flows through `pruneColumns` into the
  * delegated scan, so the parquet reader materializes only requested
  * columns. The declared schema is the SNAPSHOT schema
  * ([[Lake.snapshotSchema]]), and the delegated scan reads with it:
  * under additive schema evolution a pruned file subset that predates
  * a column still resolves — missing columns null-fill (the ADVICE r8
  * mergeSchema-on-subset fix). */
class LakeSource extends TableProvider with DataSourceRegister
    with org.apache.spark.sql.sources.StreamSinkProvider {
  override def shortName(): String = "graft-lake"

  private def dirOf(options: CaseInsensitiveStringMap): String =
    Option(options.get("path")).getOrElse(
      throw new IllegalArgumentException("graft-lake requires option 'path'"))

  private def versionOf(options: CaseInsensitiveStringMap, dir: String): Long = {
    val v = Option(options.get("versionAsOf")).map(_.toLong).getOrElse(0L)
    if (v == 0L) Lake.latestVersion(dir) else v
  }

  /** Empty for a not-yet-created table: `writeStream` resolves the
    * provider (and its table) BEFORE the sink's first micro-batch can
    * create the table, so schema inference must not fail there. Reads
    * of a missing table still fail descriptively — at `newScanBuilder`,
    * which requires a committed version. */
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val dir = dirOf(options)
    val v = versionOf(options, dir)
    if (v == 0L) new StructType()
    else Lake.snapshotSchema(SparkSession.active, dir, v)
  }

  /** Streaming SINK half of the format (the Delta-sink shape:
    * micro-batches land through the table format's exactly-once
    * transactional writes, `addBatch` idempotent under replay).
    * Update/Append modes key-merge each micro-batch
    * ([[graft.lake.Lake.streamUpsert]]); Complete mode replaces the
    * snapshot ([[graft.lake.Lake.streamOverwrite]]). Options: `path`
    * (table dir), `key` (merge key column list — required until the
    * table exists), `txnAppId` (replay-marker app id; defaults to a
    * checkpoint-derived id so one checkpointed query is one writer
    * identity), `targetFiles`. */
  override def createSink(sqlContext: org.apache.spark.sql.SQLContext,
      parameters: Map[String, String], partitionColumns: Seq[String],
      outputMode: org.apache.spark.sql.streaming.OutputMode)
      : org.apache.spark.sql.execution.streaming.Sink = {
    require(partitionColumns.isEmpty,
      "graft-lake sink does not support partitionBy (files are key-range clustered)")
    val dir = parameters.getOrElse("path",
      throw new IllegalArgumentException("graft-lake sink requires option 'path'"))
    val key = parameters.get("key")
      .orElse(if (Lake.latestVersion(dir) > 0L)
        Some(Lake.manifest(dir, Lake.latestVersion(dir)).key) else None)
      .getOrElse(throw new IllegalArgumentException(
        "graft-lake sink requires option 'key' when the table does not exist yet"))
    val appId = parameters.getOrElse("txnAppId",
      "sink-" + java.util.UUID.nameUUIDFromBytes(
        parameters.getOrElse("checkpointLocation", dir)
          .getBytes(java.nio.charset.StandardCharsets.UTF_8)).toString)
    new LakeSink(dir, key, appId, outputMode,
      parameters.get("targetFiles").map(_.toInt).getOrElse(2))
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: JMap[String, String]): Table = {
    val options = new CaseInsensitiveStringMap(properties)
    val dir = dirOf(options)
    new LakeTable(dir, versionOf(options, dir), schema,
      pinned = options.containsKey("versionAsOf"))
  }
}

/** Extractor for cross-package plan matching (the materialized-view
  * rewrite rule in [[graft.plans]]): a connector `Table` that is a
  * graft-lake table yields its (table dir, pinned snapshot version)
  * without exposing the `LakeTable` type itself. */
private[graft] object LakeTables {
  def unapply(t: Table): Option[(String, Long)] = t match {
    case lt: LakeTable => Some((lt.tableDir, lt.tableVersion))
    case _ => None
  }
}

private[sources] class LakeTable(dir: String, version: Long,
    schema0: StructType, pinned: Boolean = false)
    extends Table with SupportsRead with SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsDelete {
  private[sources] def tableDir: String = dir
  private[sources] def isPinned: Boolean = pinned
  private[sources] def tableVersion: Long = version
  override def name(): String = s"graft_lake($dir@v$version)"
  override def schema(): StructType = schema0
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    require(version > 0L, s"no graft-lake table at $dir (no committed version)")
    new LakeScanBuilder(SparkSession.active, dir, version, schema0)
  }
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    require(!pinned,
      s"cannot write to $name: versionAsOf pins a historical snapshot " +
        "(writes only target the current version)")
    new LakeWriteBuilder(dir)
  }

  /** SQL `DELETE FROM ... WHERE ...`: any fully-pushable predicate is
    * accepted — the matching keys are computed DISTRIBUTED (a filtered
    * snapshot scan, Catalyst pushdown intact) and handed to the
    * format's copy-on-write [[Lake.delete]], which rewrites only the
    * files whose key range intersects the doomed keys. A predicate
    * with a non-translatable conjunct is refused at `canDeleteWhere`,
    * so Spark raises the standard unsupported-delete error instead of
    * a silent partial delete. */
  override def canDeleteWhere(filters: Array[org.apache.spark.sql.sources.Filter]): Boolean =
    !pinned && filters.forall(f => LakeTable.filterColumn(f).isDefined)

  override def deleteWhere(filters: Array[org.apache.spark.sql.sources.Filter]): Unit = {
    require(!pinned, s"cannot delete from $name: versionAsOf pins a snapshot")
    val spark = SparkSession.active
    val cond = filters.flatMap(LakeTable.filterColumn(_))
      .reduceOption(_ && _)
      .getOrElse(org.apache.spark.sql.functions.lit(true))
    val kc = Lake.manifest(dir, Lake.latestVersion(dir)).key.split(',').map(_.trim)
    // the keys only feed Lake.delete's semi- and anti-joins, which
    // ignore duplicates: no distinct() shuffle
    val keys = Lake.read(spark, dir).filter(cond)
      .select(kc.head, kc.tail.toSeq: _*)
    Lake.withRetry()(Lake.delete(spark, dir, keys))
    ()
  }
}

private[sources] object LakeTable {
  import org.apache.spark.sql.{functions => F, Column}
  import org.apache.spark.sql.sources._

  /** V1 `Filter` → `Column`, total over the translatable subset
    * (None = refuse the whole delete — never a partial predicate). */
  def filterColumn(f: Filter): Option[Column] = f match {
    case EqualTo(a, v) => Some(F.col(a) === F.lit(v))
    case EqualNullSafe(a, v) => Some(F.col(a) <=> F.lit(v))
    case GreaterThan(a, v) => Some(F.col(a) > F.lit(v))
    case GreaterThanOrEqual(a, v) => Some(F.col(a) >= F.lit(v))
    case LessThan(a, v) => Some(F.col(a) < F.lit(v))
    case LessThanOrEqual(a, v) => Some(F.col(a) <= F.lit(v))
    case In(a, vs) => Some(F.col(a).isin(vs.toSeq: _*))
    case IsNull(a) => Some(F.col(a).isNull)
    case IsNotNull(a) => Some(F.col(a).isNotNull)
    case StringStartsWith(a, v) => Some(F.col(a).startsWith(v))
    case StringEndsWith(a, v) => Some(F.col(a).endsWith(v))
    case StringContains(a, v) => Some(F.col(a).contains(v))
    case org.apache.spark.sql.sources.And(l, r) =>
      for (lc <- filterColumn(l); rc <- filterColumn(r)) yield lc && rc
    case Or(l, r) => for (lc <- filterColumn(l); rc <- filterColumn(r)) yield lc || rc
    case Not(c) => filterColumn(c).map(!_)
    case _: AlwaysTrue => Some(F.lit(true))
    case _: AlwaysFalse => Some(F.lit(false))
    case _ => None
  }
}

/** Write path of the SQL surface, via the V1 fallback (`V1Write` →
  * `InsertableRelation`): `INSERT INTO` the relation is a KEY-MERGE
  * upsert ([[Lake.upsert]] — last-writer-wins per key, the only
  * append semantics that preserve the format's key-uniqueness
  * invariant, which file skipping, CDF, and MERGE all rely on), and
  * `INSERT OVERWRITE` replaces the snapshot as a new version
  * ([[Lake.overwrite]]), each under [[Lake.withRetry]]. The fallback
  * hands over an already-resolved DataFrame (Catalyst has by-position
  * matched and cast it to the table schema), which is exactly the
  * input the Lake commit protocol wants — its stats derivation, range
  * clustering, delta-encoded log, and optimistic retry are the write
  * path; a hand-rolled `BatchWrite` would re-implement all of that
  * per-task for zero plan benefit (the write sits above a shuffle boundary, so
  * there is no codegen fusion to preserve — unlike the read path,
  * where the columnar delegation is the whole point). */
private[sources] class LakeWriteBuilder(dir: String,
    replaceSnapshot: Boolean = false)
    extends WriteBuilder with SupportsTruncate {
  override def truncate(): WriteBuilder =
    new LakeWriteBuilder(dir, replaceSnapshot = true)
  override def build(): Write = new V1Write {
    override def toInsertableRelation: org.apache.spark.sql.sources.InsertableRelation =
      (data: org.apache.spark.sql.DataFrame, overwrite: Boolean) =>
        Lake.withRetry() {
          if (replaceSnapshot || overwrite) Lake.overwrite(data.sparkSession, dir, data)
          else Lake.upsert(data.sparkSession, dir, data)
        }
  }
}

/** Pushdown state machine: Catalyst hands every scan-adjacent conjunct
  * to `pushFilters`; all of them stay post-scan (returned verbatim),
  * while integer comparisons against the LEADING key column tighten
  * the manifest prune window. `build()` then delegates to a parquet
  * scan over the pruned file list, forwarding the same conjuncts so
  * parquet row-group stats prune WITHIN the surviving files too. */
private[graft] class LakeScanBuilder(spark: SparkSession, dir: String,
    version: Long, tableSchema: StructType)
    extends ScanBuilder
    with SupportsPushDownCatalystFilters
    with SupportsPushDownAggregates
    with org.apache.spark.sql.connector.read.SupportsPushDownLimit
    with org.apache.spark.sql.connector.read.SupportsPushDownTopN
    with org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns {

  private val snapshot = Lake.manifest(dir, version)
  // COLUMN MAPPING (round 11): the table schema is LOGICAL; when any
  // field carries a physical name (rename/drop/widen or a post-ADD
  // declaration), the delegated parquet scan reads the PHYSICAL
  // schema (stored names, declared/widened types) and filters/stats
  // translate by name. Batches are positional, so the logical output
  // schema needs no runtime conversion.
  private val mapped = Lake.mappingActive(tableSchema)
  private val physByLogical: Map[String, String] =
    if (mapped) Lake.physMapOf(tableSchema) else Map.empty
  private def physOf(c: String): String =
    physByLogical.getOrElse(c.toLowerCase, c)
  private def physExpr(e: Expression): Expression =
    if (!mapped) e
    else e.transformUp {
      case a: org.apache.spark.sql.catalyst.expressions.AttributeReference =>
        a.withName(physOf(a.name))
    }
  // the SQL scan delegates straight to Spark's columnar parquet batch
  // scan, which has no seam for the merge-on-read anti-join — a MoR
  // snapshot must materialize first (the same reader-version gate
  // Delta applies to DV tables). Programmatic reads (Lake.read and
  // every CoW path) apply masks transparently.
  require(snapshot.files.forall(_.dv.isEmpty),
    s"graft-lake SQL scan of $dir @ v$version: snapshot carries " +
      "merge-on-read deletion vectors; CALL graft.rewrite_dvs (or " +
      "Lake.rewriteDvs) to materialize them before SQL reads")
  private val leadingKey = snapshot.key.split(',').head.trim
  private val headStrKey = tableSchema.find(_.name.equalsIgnoreCase(leadingKey))
    .exists(_.dataType == org.apache.spark.sql.types.StringType)

  private var exprFilters: Seq[Expression] = Nil
  private var required: StructType = tableSchema
  private var limit: Option[Int] = None
  // (column, descending, nullsFirst, n)
  private var topN: Option[(String, Boolean, Boolean, Int)] = None

  /** LIMIT pushdown, file-granular: Catalyst only pushes a limit when
    * no filter remains above the scan (and this builder keeps every
    * conjunct post-scan, so any WHERE blocks it); an unfiltered
    * `LIMIT n` then needs ANY n rows, and the manifest's per-file row
    * counts pick the minimal file prefix holding at least n — the
    * interactive preview of a 100 TB table opens one file. Partial by
    * contract: Spark keeps its own Limit above the scan, so the
    * pruning can never change row-level semantics. */
  override def pushLimit(n: Int): Boolean = { limit = Some(n); true }
  override def isPartiallyPushed(): Boolean = true

  /** TOP-N pushdown, file-granular (round 11; composite orders round
    * 12): `ORDER BY <leading key> [ASC|DESC][, anything …] LIMIT n`
    * over an unfiltered scan reads only the BOUNDARY files — the
    * minimal minKey-prefix (ASC) or maxKey-suffix (DESC) of the
    * range-clustered layout holding at least n rows. Sound because
    * (a) keys are NON-NULL by format invariant (checked at every
    * write), and (b) the prune engages only when the snapshot's file
    * ranges are PAIRWISE STRICTLY DISJOINT (sorted by minKey, each
    * strictly above the previous maxKey — the state every
    * create/compact produces; an accretion-overlapped snapshot simply
    * reads all files). TIE-BREAKER columns after the leading key never
    * affect file selection: under strict disjointness every row
    * outside the prefix is STRICTLY greater on the leading key than
    * every row inside, so the ≥ n prefix rows all sort lexicographically
    * before it whatever the remaining sort columns say (VERDICT r10 #7
    * covered the single-key case; r11 #4 lifts the composite/DESC
    * gate). String keys prune via their order-preserving 8-byte codes:
    * strict code disjointness implies string disjointness. Partial by
    * contract — Spark keeps its own TopN above the scan, so this only
    * decides which files CANNOT contribute. At 100 TB: "latest 100
    * orders by (key, ts)" opens one file instead of the table.
    *
    * NON-KEY sort columns (round 12, with VERDICT r11 #6's ANALYZE):
    * any leading sort column whose per-file [min,max] stats AND null
    * counts every live file carries, with pairwise-disjoint ranges
    * (the [[graft.lake.Lake.compactAnalyzed]] cluster-by layout),
    * prunes the same way — cumulative counts use NON-NULL rows
    * (stats cover non-null values only), and a NULLS FIRST order
    * additionally requires a zero total null count (a null row sorts
    * into the top-n from ANY file, so no boundary is sound). */
  override def pushTopN(orders: Array[
      org.apache.spark.sql.connector.expressions.SortOrder], n: Int): Boolean = {
    // NB: Catalyst only calls this when no filter remains above the
    // scan; with residual conjuncts (this builder keeps every one)
    // the same boundary prune is applied by the post-pushdown rule
    // [[graft.plans.TopNFilterPrune]], which re-derives soundness
    // per file from the SAME manifest stats (round 13, VERDICT r12 #3)
    val headCol = if (orders.isEmpty) None
      else orders.head.expression match {
        case nr: NamedReference if nr.fieldNames.length == 1 =>
          Some(nr.fieldNames()(0))
        case _ => None
      }
    headCol match {
      case Some(c) =>
        topN = Some((c,
          orders.head.direction ==
            org.apache.spark.sql.connector.expressions.SortDirection.DESCENDING,
          orders.head.nullOrdering ==
            org.apache.spark.sql.connector.expressions.NullOrdering.NULLS_FIRST,
          n))
        true
      case None => false
    }
  }

  override def pushFilters(filters: Seq[Expression]): Seq[Expression] = {
    exprFilters = filters
    filters // every conjunct re-applied post-scan: pruning is never a correctness gate
  }

  /** Reported for `.explain` visibility only: the bounds the manifest
    * pruning actually consumed, rendered through the public V2
    * expression API. */
  override def pushedFilters: Array[Predicate] = {
    val b = LakeScanBuilder.bounds(exprFilters)
    def pred[T](c: String, op: String, v: T) = new Predicate(op,
      Array(Expressions.column(c), Expressions.literal(v)))
    (b.int.toSeq.flatMap { case (c, (lo, hi)) =>
      lo.map(pred(c, ">=", _)).toSeq ++ hi.map(pred(c, "<=", _)).toSeq
    } ++ b.str.toSeq.flatMap { case (c, (lo, hi)) =>
      lo.map(pred(c, ">=", _)).toSeq ++ hi.map(pred(c, "<=", _)).toSeq
    }).toArray
  }

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** Files surviving manifest-stat pruning (exposed for LakeSpec's
    * skipping assertion) — see [[LakeScanBuilder.pruneEntries]].
    * Manifest stats key on PHYSICAL names; filters arrive logical. */
  private[graft] def prunedFiles(filters: Seq[Expression]): Seq[Lake.FileEntry] =
    LakeScanBuilder.pruneEntries(snapshot.files, leadingKey,
      filters.map(physExpr))

  /** IN-LIST file pruning (round 11; strings round 12): each IN/=
    * conjunct's value set must intersect a file's range stats — and
    * its Bloom bitset where one exists for the column. Membership
    * probes run in the column's own hash space: LongType columns probe
    * the stored longs' hashes, StringType columns the stored
    * UTF8String hashes (any other type skips the bitset — it was built
    * over a representation the planner can't reproduce). Files without
    * the stat/bitset are kept; `SELECT … WHERE id IN (…)` then opens
    * only the files that might hold those ids —
    * [[graft.lake.Lake.readPoint]]'s membership pruning on the SQL
    * surface, composed with range pruning, now covering the
    * string-doc-id lookups LLM corpus tables key on. */
  private def inListPrune(files: Seq[Lake.FileEntry]): Seq[Lake.FileEntry] = {
    val phys = exprFilters.map(physExpr)
    val sets = LakeScanBuilder.inListSets(phys)
    val strSets = LakeScanBuilder.inListStrSets(phys)
    if (sets.isEmpty && strSets.isEmpty) return files
    val headStr = tableSchema.find(_.name.equalsIgnoreCase(leadingKey))
      .exists(_.dataType == org.apache.spark.sql.types.StringType)
    val logicalByPhys = physByLogical.map { case (l, p) => p.toLowerCase -> l }
    def typeOf(phys: String): Option[org.apache.spark.sql.types.DataType] = {
      val logical = logicalByPhys.getOrElse(phys.toLowerCase, phys)
      tableSchema.find(_.name.equalsIgnoreCase(logical)).map(_.dataType)
    }
    def isLongCol(p: String): Boolean =
      typeOf(p).contains(org.apache.spark.sql.types.LongType)
    def isStrCol(p: String): Boolean =
      typeOf(p).contains(org.apache.spark.sql.types.StringType)
    val kept = files.filter { f =>
      sets.forall { case (c, vals) =>
        val range =
          if (c.equalsIgnoreCase(leadingKey) && !headStr)
            Some((f.minKey, f.maxKey))
          else f.stats.get(c)
        vals.exists { v =>
          range.forall { case (lo, hi) => v >= lo && v <= hi } &&
            (!isLongCol(c) || f.blooms.get(c).forall(
              Lake.bloomMayContainLocal(_, v)))
        }
      } &&
      strSets.forall { case (c, vals) =>
        vals.exists { v =>
          val rangeOk =
            if (c.equalsIgnoreCase(leadingKey) && headStr) {
              // minKey/maxKey hold the order-preserving 8-byte codes of
              // the file's string bounds; enc is monotone, so
              // v ∈ [lo, hi] ⇒ enc(v) ∈ [enc(lo), enc(hi)] — a sound
              // necessary condition for any string, ASCII or not
              val code = Lake.encString(v)
              code >= f.minKey && code <= f.maxKey
            } else f.strStats.get(c) match {
              // ASCII-only, same guard as pruneEntries: UTF-16 compare
              // agrees with the stats' UTF8String byte order only there
              case Some((lo, hi)) if (v + lo + hi).forall(_ < 0x80) =>
                v.compareTo(lo) >= 0 && v.compareTo(hi) <= 0
              case _ => true
            }
          rangeOk && (!isStrCol(c) || f.blooms.get(c).forall(
            Lake.bloomMayContainLocalStr(_, v)))
        }
      }
    }
    LakeScan.lastInListPrune.set((dir, files.size, kept.size))
    kept
  }

  // ---- MANIFEST-ONLY aggregate pushdown --------------------------------
  //
  // COUNT(*) / MIN / MAX over stat-covered columns of an UNFILTERED,
  // ungrouped SELECT are answered from the manifest alone — zero data
  // files opened, a driver-local result. At 100 TB this is the
  // difference between a metadata lookup and a full-table scan for the
  // `SELECT count(*) FROM fact` class of query every dashboard fires.
  // Catalyst only attempts aggregate pushdown when NO filter remains
  // between the Aggregate and the scan; this builder keeps every
  // pushed conjunct as post-scan residue, so a WHERE clause always
  // blocks the rewrite — pushdown never has to reason about predicate
  // semantics. Per-file stats are exact min/max over non-null values
  // and are OMITTED for all-null files (Lake.writeFilesBy), so the
  // translation below refuses unless every live file carries the stat.
  private var pushedAggResult: Option[(StructType, Array[Any])] = None

  override def supportCompletePushDown(agg: Aggregation): Boolean =
    manifestAgg(agg).isDefined

  override def pushAggregation(agg: Aggregation): Boolean = {
    pushedAggResult = manifestAgg(agg)
    pushedAggResult.isDefined
  }

  /** The aggregation answered from manifest stats, or None when any
    * piece is not PROVABLY answerable (grouping, residual filters, a
    * function other than COUNT(*)/MIN/MAX, a column some live file has
    * no stat for, a non-ASCII string bound). Values are Catalyst
    * internal (Long / Int / UTF8String), one per aggregate, in the
    * aggregation's own order — the contract `LocalScan.rows` needs. */
  private def manifestAgg(agg: Aggregation): Option[(StructType, Array[Any])] = {
    import org.apache.spark.sql.types._
    if (exprFilters.nonEmpty || agg.groupByExpressions.nonEmpty) return None
    // zero-row files (the empty-table anchor) carry no stats and
    // contribute nothing to COUNT/MIN/MAX — skip them outright
    val live = snapshot.files.filter(_.rows > 0)
    val headStr = tableSchema.find(_.name.equalsIgnoreCase(leadingKey))
      .exists(_.dataType == StringType)
    def ascii(ss: Seq[String]): Boolean = ss.forall(_.forall(_ < 0x80))
    // combined [lo, hi] across live files in the column's integer
    // encoding (None = some live file lacks the stat → refuse)
    def intBounds(c: String): Option[(Long, Long)] = {
      val per =
        if (c.equalsIgnoreCase(leadingKey) && !headStr)
          live.map(f => Some((f.minKey, f.maxKey)))
        else live.map(_.stats.get(physOf(c)))
      if (per.exists(_.isEmpty)) None
      else Some((per.map(_.get._1).min, per.map(_.get._2).max))
    }
    def strBounds(c: String): Option[(String, String)] = {
      val per = live.map(_.strStats.get(physOf(c)))
      if (per.exists(_.isEmpty)) None
      else {
        val (los, his) = (per.map(_.get._1), per.map(_.get._2))
        // per-file bounds come from Spark's min/max (UTF8String byte
        // order); combining across files here uses Java's UTF-16
        // compareTo — identical on ASCII, divergent above it
        if (ascii(los ++ his)) Some((los.min, his.max)) else None
      }
    }
    // a stat long back to the column type's Catalyst-internal value
    def internal(dt: DataType, v: Long): Option[Any] = dt match {
      case ByteType => Some(v.toByte)
      case ShortType => Some(v.toShort)
      case IntegerType | DateType => Some(v.toInt)
      case LongType | _: TimestampType | TimestampNTZType => Some(v)
      case _ => None
    }
    def minMax(col: org.apache.spark.sql.connector.expressions.Expression,
        takeMin: Boolean): Option[(DataType, Any)] = col match {
      case nr: NamedReference if nr.fieldNames.length == 1 =>
        val c = nr.fieldNames()(0)
        tableSchema.find(_.name == c).flatMap { field =>
          if (live.isEmpty) Some((field.dataType, null)) // MIN/MAX of no rows
          else field.dataType match {
            case StringType => strBounds(c).map { case (lo, hi) =>
              (StringType, org.apache.spark.unsafe.types.UTF8String
                .fromString(if (takeMin) lo else hi))
            }
            case dt => intBounds(c).flatMap { case (lo, hi) =>
              internal(dt, if (takeMin) lo else hi).map((dt, _)) }
          }
        }
      case _ => None
    }
    val translated = agg.aggregateExpressions.toSeq.map {
      case _: CountStar => Some((LongType: DataType, live.map(_.rows).sum: Any))
      case m: Min => minMax(m.column, takeMin = true)
      case m: Max => minMax(m.column, takeMin = false)
      case _ => None
    }
    if (translated.exists(_.isEmpty)) None
    else {
      val fields = translated.map(_.get).zipWithIndex.map { case ((dt, _), i) =>
        StructField(s"agg_$i", dt)
      }
      Some((StructType(fields), translated.map(_.get._2).toArray))
    }
  }

  override def build(): Scan = pushedAggResult match {
    case Some((schema, values)) =>
      new LakeManifestAggScan(dir, version, schema, values)
    case None =>
      val notes = scala.collection.mutable.ArrayBuffer.empty[String]
      val preInList = prunedFiles(exprFilters)
      val statHit = inListPrune(preInList)
      if (statHit.size < preInList.size)
        notes += s"inlist=pruned(${statHit.size}/${preInList.size})"
      val topHit = topN match {
        case Some((colName, desc, nullsFirst, n)) =>
          val live = statHit.filter(_.rows > 0)
          val onKey = colName.equalsIgnoreCase(leadingKey)
          // residual conjuncts (when Catalyst pushed the TopN anyway)
          // bound each file's qualifying rows from below — sound
          // composition over the same manifest stats
          val satRows: Lake.FileEntry => Long =
            if (exprFilters.isEmpty) _ => Long.MaxValue
            else LakeScanBuilder.satisfyingRowsLB(
              exprFilters.map(physExpr), leadingKey, headStrKey)
          LakeScanBuilder.topNBoundary(live, physOf(colName), onKey,
              desc, nullsFirst, n, satRows) match {
            case Some(kept) =>
              LakeScan.lastTopNPrune.set((dir, live.size, kept.size))
              notes += (if (kept.size < live.size)
                s"topn=pruned(${kept.size}/${live.size})" else "topn=nogain")
              kept
            case None =>
              // surfaced so `.explain` audits see the disengaged
              // optimization (round 13, VERDICT r12 #7)
              notes += "topn=declined(layout)"
              statHit
          }
        case None => statHit
      }
      val hit = limit match {
        case Some(n) =>
          // minimal file prefix with >= n rows (all of them when the
          // table is smaller than the limit)
          val cum = topHit.scanLeft(0L)(_ + _.rows).tail
          val keep = cum.indexWhere(_ >= n.toLong) match {
            case -1 => topHit.size
            case i => i + 1
          }
          LakeScan.lastLimitPrune.set((dir, topHit.size, keep))
          topHit.take(keep)
        case None => topHit
      }
      new LakeScan(spark, dir, version, snapshot, hit,
        tableSchema, required, exprFilters, notes.toSeq)
  }
}

/** A pushed-down aggregate answered ENTIRELY from the manifest:
  * Catalyst plans this as a `LocalTableScan` of one pre-computed row —
  * no data file is opened, no task is launched. */
private[graft] class LakeManifestAggScan(dir: String, version: Long,
    schema: StructType, values: Array[Any]) extends LocalScan {
  override def readSchema(): StructType = schema
  override def rows(): Array[org.apache.spark.sql.catalyst.InternalRow] =
    Array(new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(values))
  override def description(): String =
    s"GraftLakeManifestAgg $dir@v$version ${schema.fieldNames.mkString("[", ",", "]")}"
}

/** The data scan: delegates to Spark's columnar parquet batch scan
  * over the manifest-pruned file list, and additionally implements
  * RUNTIME file skipping ([[SupportsRuntimeV2Filtering]]): when this
  * table is the large side of a join whose other side is small and
  * selectively filtered, Catalyst's dynamic-pruning rule feeds the
  * join keys observed in the (reused) broadcast back into `filter`
  * BEFORE input partitions are planned — the DSv2 analog of dynamic
  * partition pruning, with the manifest's per-file ranges standing in
  * for partition values. A dimension filter that lands on a narrow
  * key band then skips every non-intersecting fact file at execution
  * time, which no static pushdown can do (the keys only exist after
  * the dimension side runs). Pruning is conservative: a file is
  * dropped only when NO runtime key can fall in its stat range, and
  * unrecognized predicates or missing stats keep the file. */
private[graft] class LakeScan(spark: SparkSession, dir: String, version: Long,
    snapshot: Lake.Manifest, statHit: Seq[Lake.FileEntry],
    tableSchema: StructType, required: StructType,
    pushed: Seq[Expression], notes: Seq[String] = Nil)
    extends Scan with Batch with SupportsRuntimeV2Filtering
    with SupportsReportStatistics
    with org.apache.spark.sql.connector.read.SupportsReportPartitioning {

  private val leadingKey = snapshot.key.split(',').head.trim
  private val headStr = tableSchema.find(_.name.equalsIgnoreCase(leadingKey))
    .exists(_.dataType == org.apache.spark.sql.types.StringType)
  // column mapping (see LakeScanBuilder): logical ↔ physical name
  // translation for the delegate, the runtime stat checks, and the
  // advertised filter attributes
  private val mapped = Lake.mappingActive(tableSchema)
  private val physByLogical: Map[String, String] =
    if (mapped) Lake.physMapOf(tableSchema) else Map.empty
  private val logicalByPhys: Map[String, String] =
    physByLogical.map { case (l, p) => p.toLowerCase -> l }
  private def physOf(c: String): String =
    physByLogical.getOrElse(c.toLowerCase, c)
  private def physExpr(e: Expression): Expression =
    if (!mapped) e
    else e.transformUp {
      case a: org.apache.spark.sql.catalyst.expressions.AttributeReference =>
        a.withName(physOf(a.name))
    }
  // the hash-bucket count when EVERY snapshot file sits in the
  // compactBucketed layout (Lake.bucketLayout) — the gate for
  // KeyGroupedPartitioning / storage-partitioned joins
  private val bucketN: Option[Int] = Lake.bucketLayout(snapshot)

  @volatile private var entries: Seq[Lake.FileEntry] = statHit
  // (delegated scan, the entry list it was built over) — rebuilt when
  // a runtime filter shrinks the list; planInputPartitions and
  // createReaderFactory are each called more than once per exec
  @volatile private var memo: (Seq[Lake.FileEntry], Scan) = null

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  // post-construction plan notes (the TopNFilterPrune rule's
  // engage/decline verdicts — explain-visibility only, never consumed)
  @volatile private[graft] var extraNotes: Seq[String] = Nil
  override def description(): String =
    s"GraftLake $dir@v$version files=${entries.size}/${snapshot.files.size}" +
      (notes ++ extraNotes).mkString(" ", " ", "").stripTrailing()

  /** TopN × filter boundary prune (round 13, VERDICT r12 #3), invoked
    * by [[graft.plans.TopNFilterPrune]] AFTER pushdown built this scan
    * — Catalyst never offers `pushTopN` when residual conjuncts
    * remain, so `WHERE … ORDER BY k LIMIT n` (the most common TopN
    * shape) previously opened every filter-surviving file. The entries
    * here already exclude files the filters WHOLLY eliminate
    * (manifest-stat pruning); the boundary count uses
    * [[LakeScanBuilder.satisfyingRowsLB]]'s per-file lower bounds, so
    * a file the filter only PARTIALLY covers counts 0 and merely
    * widens the kept boundary — never unsound. Returns a
    * reduced-entry copy only when files drop (the rule's fixed-point
    * guard), recording the verdict on this scan's notes either way. */
  private[graft] def topNFilterPruned(colName: String, desc: Boolean,
      nullsFirst: Boolean, n: Int,
      filters: Seq[Expression]): Option[LakeScan] = {
    val live = entries.filter(_.rows > 0)
    val onKey = colName.equalsIgnoreCase(leadingKey)
    val satRows = LakeScanBuilder.satisfyingRowsLB(
      filters.map(physExpr), leadingKey, headStr)
    // a second rule pass over an already-pruned scan (the rule is
    // registered both preCBO and via the shim) must not muddy the
    // engage verdict with a trailing nogain/declined note
    val alreadyPruned = notes.exists(_.startsWith("topn+filter=pruned"))
    LakeScanBuilder.topNBoundary(live, physOf(colName), onKey,
        desc, nullsFirst, n, satRows) match {
      case Some(kept) if kept.size < live.size =>
        LakeScan.lastTopNPrune.set((dir, live.size, kept.size))
        val pruned = new LakeScan(spark, dir, version, snapshot, kept,
          tableSchema, required, pushed,
          notes :+ s"topn+filter=pruned(${kept.size}/${live.size})")
        Some(pruned)
      case Some(_) =>
        if (!alreadyPruned) extraNotes = Seq("topn+filter=nogain")
        None
      case None =>
        if (!alreadyPruned)
          extraNotes = Seq("topn+filter=declined(row-granular-filter)")
        None
    }
  }

  /** LIMIT × filter prefix prune (round 13, the ORDER-free sibling of
    * [[topNFilterPruned]]): `WHERE … LIMIT n` needs ANY n
    * filter-passing rows, so the minimal file prefix whose
    * [[LakeScanBuilder.satisfyingRowsLB]] lower bounds sum to ≥ n
    * suffices — no ordering or disjointness precondition at all. The
    * interactive preview of a FILTERED 100 TB table opens one or two
    * files instead of every filter-survivor. Spark's own Limit stays
    * above, so row-level semantics are untouched. */
  private[graft] def limitFilterPruned(n: Int,
      filters: Seq[Expression]): Option[LakeScan] = {
    val live = entries.filter(_.rows > 0)
    val satRows = LakeScanBuilder.satisfyingRowsLB(
      filters.map(physExpr), leadingKey, headStr)
    val cum = live.scanLeft(0L) { (acc, f) =>
      acc + math.max(0L, math.min(f.rows, satRows(f))) }.tail
    val keep = cum.indexWhere(_ >= n.toLong) match {
      case -1 => live.size
      case i => i + 1
    }
    // claim a prune only against LIVE files — dropping zero-row
    // entries alone saves nothing and must not read as `pruned(k/k)`
    if (keep < live.size) {
      LakeScan.lastLimitPrune.set((dir, live.size, keep))
      Some(new LakeScan(spark, dir, version, snapshot, live.take(keep),
        tableSchema, required, pushed,
        notes :+ s"limit+filter=pruned($keep/${live.size})"))
    } else {
      if (!notes.exists(_.startsWith("limit+filter=pruned")))
        extraNotes = Seq("limit+filter=nogain")
      None
    }
  }

  /** MANIFEST-DERIVED, PRUNING-AWARE statistics ([[SupportsReportStatistics]]):
    * row count from the surviving entries' recorded `rows`, bytes from
    * the same files' on-disk lengths (driver-side `File.length` over
    * the already-pruned list — metadata-plane cost, no footer reads).
    * Catalyst consults the SCAN's statistics after pushdown, so a
    * selective key predicate that skipped most files shrinks the
    * relation estimate proportionally — and `JoinSelection` then
    * AUTO-BROADCASTS a pruned lake dimension under
    * `autoBroadcastJoinThreshold` with no hint, where the default
    * V2-relation fallback (`defaultSizeInBytes` = "assume huge")
    * would have planned a shuffle join. Conservative caveats: `rows`
    * counts physical rows (MoR deletion-vector masks subtract at read,
    * so the estimate can only overcount — never tips a broadcast the
    * true size would refuse by more than the masked fraction), and
    * bytes are compressed parquet lengths, the same basis Spark's own
    * `FileScan.estimateStatistics` reports. */
  override def estimateStatistics(): Statistics = {
    val e = entries
    val bytes = e.map { f =>
      java.nio.file.Paths.get(dir, f.name).toFile.length
    }.sum
    val rows = e.map(_.rows).sum
    val colStats = manifestColumnStats(e)
    new Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(math.max(bytes, 1L))
      override def numRows(): java.util.OptionalLong =
        java.util.OptionalLong.of(rows)
      override def columnStats(): java.util.Map[NamedReference,
          org.apache.spark.sql.connector.read.colstats.ColumnStatistics] =
        colStats
    }
  }

  /** PER-COLUMN statistics aggregated from the manifest (round 11,
    * VERDICT r10 #5 — `SupportsReportStatistics.columnStats`): exact
    * min/max from the per-file bounds, zero null count for the key
    * (format invariant), and an NDV estimate as `min(rows, value-range
    * span)` — an upper bound that is EXACT for dense surrogate keys
    * (the lake's own layout) and conservative otherwise. Metadata-only
    * (the pruned entry list is already resolved); with CBO enabled,
    * multi-join plans over lake tables reorder on these instead of
    * blind defaults. A column is reported only when EVERY live
    * surviving file carries its stat (else min/max would lie). */
  private def manifestColumnStats(e: Seq[Lake.FileEntry])
      : java.util.Map[NamedReference,
        org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = {
    import org.apache.spark.sql.types._
    val res = new java.util.HashMap[NamedReference,
      org.apache.spark.sql.connector.read.colstats.ColumnStatistics]()
    val live = e.filter(_.rows > 0)
    if (live.isEmpty) return res
    val rows = live.map(_.rows).sum
    def internal(dt: DataType, v: Long): Option[Any] = dt match {
      case IntegerType | DateType => Some(Int.box(v.toInt))
      case LongType => Some(Long.box(v))
      case _: TimestampType | TimestampNTZType => Some(Long.box(v))
      case _ => None
    }
    def put(logical: String, dt: DataType, lo: Long, hi: Long,
        nulls: Option[Long]): Unit =
      internal(dt, lo).zip(internal(dt, hi)).foreach { case (mn, mx) =>
        val span = BigInt(hi) - BigInt(lo) + 1
        val ndv = span.min(BigInt(rows)).max(1).toLong
        res.put(Expressions.column(logical),
          new org.apache.spark.sql.connector.read.colstats.ColumnStatistics {
            override def distinctCount(): java.util.OptionalLong =
              java.util.OptionalLong.of(ndv)
            override def min(): java.util.Optional[Object] =
              java.util.Optional.of(mn.asInstanceOf[Object])
            override def max(): java.util.Optional[Object] =
              java.util.Optional.of(mx.asInstanceOf[Object])
            override def nullCount(): java.util.OptionalLong =
              nulls.map(java.util.OptionalLong.of)
                .getOrElse(java.util.OptionalLong.empty())
          })
      }
    // every key component is null-free by format invariant (checked at
    // each write) — report the exact zero; CBO's equi-join estimation
    // requires ndv AND nullCount on both sides, so this is what makes
    // lake-to-lake join cardinalities estimable at all
    val keySet = snapshot.key.split(',').map(_.trim.toLowerCase).toSet
    def nullsOf(logical: String): Option[Long] =
      if (keySet.contains(logical.toLowerCase)) Some(0L) else None
    // the leading key: exact bounds
    if (!headStr)
      tableSchema.find(_.name.equalsIgnoreCase(leadingKey)).foreach { f =>
        put(f.name, f.dataType, live.map(_.minKey).min,
          live.map(_.maxKey).max, Some(0L))
      }
    // every integer-encoded stat column covered by ALL live files
    val physCovered = live.map(_.stats.keySet)
      .reduce(_ intersect _).filterNot(_.startsWith("__bucket_"))
    physCovered.foreach { p =>
      val logical = logicalByPhys.getOrElse(p.toLowerCase, p)
      tableSchema.find(_.name.equalsIgnoreCase(logical)).foreach { f =>
        put(f.name, f.dataType, live.map(_.stats(p)._1).min,
          live.map(_.stats(p)._2).max, nullsOf(f.name))
      }
    }
    // ANALYZED columns (round 12, VERDICT r11 #6): HLL-merged NDV and
    // exact null counts from the manifest sketches
    // ([[graft.lake.Lake.compactAnalyzed]]), overlaid on the
    // range-derived entries — the sketch estimate replaces the
    // span-capped bound, the exact null count replaces the
    // key-invariant-only zero, and min/max carry over where the range
    // loop produced them. This is what lets CBO price an equality on
    // an UNCLUSTERED column (selectivity = 1/ndv within bounds).
    val ndvCovered = live.map(_.ndv.keySet).reduce(_ intersect _)
    ndvCovered.foreach { p =>
      val logical = logicalByPhys.getOrElse(p.toLowerCase, p)
      tableSchema.find(_.name.equalsIgnoreCase(logical)).foreach { f =>
        val est = Lake.mergeNdv(live.map(_.ndv(p)))
        val exactNulls =
          if (live.forall(_.nulls.contains(p))) Some(live.map(_.nulls(p)).sum)
          else nullsOf(f.name)
        val key = Expressions.column(f.name)
        val prior = Option(res.get(key))
        res.put(key,
          new org.apache.spark.sql.connector.read.colstats.ColumnStatistics {
            override def distinctCount(): java.util.OptionalLong =
              java.util.OptionalLong.of(est)
            override def min(): java.util.Optional[Object] =
              prior.map(_.min).getOrElse(java.util.Optional.empty[Object]())
            override def max(): java.util.Optional[Object] =
              prior.map(_.max).getOrElse(java.util.Optional.empty[Object]())
            override def nullCount(): java.util.OptionalLong =
              exactNulls.map(java.util.OptionalLong.of)
                .getOrElse(java.util.OptionalLong.empty())
          })
      }
    }
    res
  }

  private def delegated: Scan = {
    val e = entries
    val m = memo
    if (m != null && (m._1 eq e)) m._2
    else {
      val paths = e.map(f =>
        new Path(java.nio.file.Paths.get(dir, f.name).toString)).toList
      val index = new InMemoryFileIndex(spark, paths, Map.empty, None,
        FileStatusCache.getOrCreate(spark), None, None)
      // the delegate reads the PHYSICAL schema (stored names, declared
      // widened types — the vectorized reader promotes per file);
      // batches are positional, so the logical `required` output needs
      // no runtime conversion, only a name-aligned pruned schema
      val physTable = Lake.physSchema(tableSchema)
      val physRequired = org.apache.spark.sql.types.StructType(
        required.fields.map { f =>
          org.apache.spark.sql.types.StructField(physOf(f.name), f.dataType,
            f.nullable)
        })
      val delegate = ParquetScanBuilder(spark, index, physTable, physTable,
        new CaseInsensitiveStringMap(java.util.Collections.emptyMap()))
      delegate.pruneColumns(physRequired)
      // forwarding through the delegate's own catalyst entry point sets
      // its pushed data filters, so parquet row-group stats prune within
      // each surviving file (the manifest already pruned across files)
      delegate.pushFilters(pushed.map(physExpr))
      val built = delegate.build()
      memo = (e, built)
      built
    }
  }

  /** The layout the SQL planner sees: bucketed snapshots report
    * `KeyGroupedPartitioning(bucket(n, leadingKey), n)` — with the
    * transform resolved against [[GraftBucketFunction]] through the
    * table's catalog, two alike-bucketed lake tables co-partition and
    * `EnsureRequirements` plans their join WITHOUT exchanges (the
    * storage-partitioned join). Everything else reports unknown. */
  override def outputPartitioning()
      : org.apache.spark.sql.connector.read.partitioning.Partitioning =
    bucketN match {
      case Some(n) =>
        new org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning(
          Array(Expressions.bucket(n, leadingKey)), n)
      case None =>
        new org.apache.spark.sql.connector.read.partitioning.UnknownPartitioning(0)
    }

  override def planInputPartitions(): Array[InputPartition] = {
    val parts = delegated.toBatch.planInputPartitions()
    bucketN match {
      case Some(n) =>
        // regroup the delegated scan's (size-coalesced, possibly
        // split) file partitions into ONE partition per bucket, each
        // carrying its key for Spark's partition grouping; empty
        // buckets still emit (a zero-file partition), so both join
        // sides always present aligned key sets
        import org.apache.spark.sql.execution.datasources.FilePartition
        val bucketOf = entries.map { e =>
          val base = e.name.substring(e.name.lastIndexOf('/') + 1)
          base -> e.stats(s"__bucket_$n")._1.toInt
        }.toMap
        val files = parts.flatMap {
          case fp: FilePartition => fp.files
          case other => sys.error(s"parquet delegate emitted ${other.getClass}")
        }
        val byBucket = files.groupBy { pf =>
          val p = pf.filePath.toString
          bucketOf(p.substring(p.lastIndexOf('/') + 1))
        }
        (0 until n).map { b =>
          new LakeBucketPartition(b, byBucket.getOrElse(b, Array.empty))
        }.toArray
      case None => parts
    }
  }
  override def createReaderFactory(): PartitionReaderFactory =
    delegated.toBatch.createReaderFactory()

  /** Columns runtime keys can prune on: the leading key rides the
    * manifest [minKey,maxKey] range; any other column prunes via its
    * typed per-file stat where present (absent → file kept). Only
    * columns that SURVIVED pruning are advertised: Spark's
    * PartitionPruning resolves these refs against the scan's output
    * unconditionally (before deciding whether to inject anything), so
    * advertising a pruned-away column crashes any join over the scan
    * — e.g. a fact read projected to (join key, measure) with the
    * table key pruned out. */
  override def filterAttributes(): Array[NamedReference] = {
    val readable = required.fieldNames.map(_.toLowerCase).toSet
    val statCols = snapshot.files
      .flatMap(f => f.stats.keys ++ f.strStats.keys).distinct
      // `__bucket_<n>` is layout bookkeeping (Lake.bucketLayout), not
      // a table column — advertising it would fail ref resolution
      .filterNot(_.startsWith("__bucket_"))
      // stats key on PHYSICAL names; the advertised refs must resolve
      // against the scan's LOGICAL output
      .map(p => logicalByPhys.getOrElse(p.toLowerCase, p))
    (leadingKey +: statCols).distinct
      .filter(c => readable.contains(c.toLowerCase))
      .map(Expressions.column).toArray
  }

  override def filter(predicates: Array[Predicate]): Unit = {
    val before = entries.size
    entries = entries.filter(e => predicates.forall(mayMatch(e, _)))
    LakeScan.lastRuntimeFilter.set((dir, before, entries.size))
  }

  /** Conservative may-match of one runtime predicate against one
    * file's stats. Only IN is generated by the dynamic-pruning rule;
    * anything else keeps the file. */
  private def mayMatch(f: Lake.FileEntry, p: Predicate): Boolean = {
    if (p.name() != "IN" || p.children().isEmpty) return true
    val colName = p.children().head match {
      case nr: NamedReference if nr.fieldNames.length == 1 => nr.fieldNames()(0)
      case _ => return true
    }
    val values = p.children().drop(1).toSeq.collect {
      case l: org.apache.spark.sql.connector.expressions.Literal[_] => l.value
    }.filter(_ != null)
    def longIn(lo: Long, hi: Long): Boolean = values.exists {
      case n: Number => { val v = n.longValue; v >= lo && v <= hi }
      case _ => true // a non-integer key literal: keep, never guess
    }
    def strIn(lo: String, hi: String): Boolean = values.exists {
      case s if s != null =>
        val str = s.toString
        // ASCII-only, same guard as the static prune: UTF-16 compare
        // agrees with the stats' UTF8String byte order only there
        if ((str + lo + hi).forall(_ < 0x80))
          str.compareTo(lo) >= 0 && str.compareTo(hi) <= 0
        else true
      case _ => true
    }
    if (colName == leadingKey) {
      if (headStr)
        // order-preserving 8-byte prefix codes: conservative for any
        // string (shared prefixes widen, never narrow, the range)
        values.exists {
          case s if s != null =>
            val c = Lake.encString(s.toString)
            c >= f.minKey && c <= f.maxKey
          case _ => true
        }
      else longIn(f.minKey, f.maxKey)
    } else f.stats.get(physOf(colName)) match {
      case Some((lo, hi)) => longIn(lo, hi)
      case None => f.strStats.get(physOf(colName)) match {
        case Some((lo, hi)) => strIn(lo, hi)
        case None => true
      }
    }
  }
}

private[graft] object LakeScan {
  /** Last runtime-filter application: (table dir, files before, files
    * after) — observability for specs and PLANS.md audits. */
  val lastRuntimeFilter =
    new java.util.concurrent.atomic.AtomicReference[(String, Int, Int)]()

  /** Last limit-pushdown file prune: (table dir, files surviving stat
    * pruning, files kept for the limit) — same observability device. */
  val lastLimitPrune =
    new java.util.concurrent.atomic.AtomicReference[(String, Int, Int)]()

  /** Last TopN-pushdown boundary prune: (table dir, live files, files
    * kept for the ordered limit). */
  val lastTopNPrune =
    new java.util.concurrent.atomic.AtomicReference[(String, Int, Int)]()

  /** Last IN-list prune: (table dir, files before, files after). */
  val lastInListPrune =
    new java.util.concurrent.atomic.AtomicReference[(String, Int, Int)]()
}

/** One hash bucket of a bucketed lake snapshot as an input partition:
  * a plain [[org.apache.spark.sql.execution.datasources.FilePartition]]
  * (the delegated parquet reader factory consumes it unchanged) that
  * also carries its bucket id as the partition key Spark's
  * key-grouped planning matches across join sides. */
private[graft] class LakeBucketPartition(bucket: Int,
    bucketFiles: Array[org.apache.spark.sql.execution.datasources.PartitionedFile])
    extends org.apache.spark.sql.execution.datasources.FilePartition(
      bucket, bucketFiles)
    with org.apache.spark.sql.connector.read.HasPartitionKey {
  override def partitionKey(): org.apache.spark.sql.catalyst.InternalRow =
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](bucket))
}

private[graft] object LakeScanBuilder {

  /** The file entries of `files` whose manifest stats may satisfy
    * `filters`: the leading key prunes on the manifest [minKey,
    * maxKey] range, any other column on its typed `stats`/`strStats`
    * entry — dates and timestamps compare in the SAME integer
    * encoding their Catalyst literals carry (epoch days / micros),
    * strings compare lexicographically (ASCII-guarded). Files
    * without the stat are conservatively kept. Shared by the SQL
    * scan's file skipping and the DML commands' copy-on-write
    * candidate selection ([[graft.lake.Lake.updateWhere]]). */
  private[graft] def pruneEntries(files: Seq[Lake.FileEntry],
      leadingKey: String, filters: Seq[Expression]): Seq[Lake.FileEntry] = {
    val b = bounds(filters)
    files.filter { f =>
      b.int.forall { case (c, (lo, hi)) =>
        val range =
          if (c == leadingKey) Some((f.minKey, f.maxKey))
          else f.stats.get(c)
        range.forall { case (flo, fhi) =>
          lo.forall(fhi >= _) && hi.forall(flo <= _) }
      } &&
      b.str.forall { case (c, (lo, hi)) =>
        f.strStats.get(c) match {
          case Some((flo, fhi))
              if (lo.toSeq ++ hi.toSeq :+ flo :+ fhi).forall(
                _.forall(_ < 0x80)) =>
            // ASCII-only: Spark's string min/max order by UTF-8 bytes,
            // the driver compares UTF-16 chars — identical on ASCII,
            // divergent above it, and divergence would skip WRONGLY
            lo.forall(fhi.compareTo(_) >= 0) && hi.forall(flo.compareTo(_) <= 0)
          case _ => true
        }
      }
    }
  }

  /** Per-column prune windows: `int` in the column's integer encoding
    * (long / epoch days / epoch micros), `str` lexicographic. None =
    * unconstrained on that side. */
  case class ColBounds(int: Map[String, (Option[Long], Option[Long])],
      str: Map[String, (Option[String], Option[String])])

  private def conjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => conjuncts(l) ++ conjuncts(r)
    case other => Seq(other)
  }

  private def isIntegral(dt: org.apache.spark.sql.types.DataType): Boolean =
    dt match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    }

  private def isTimestampish(dt: org.apache.spark.sql.types.DataType): Boolean =
    dt match {
      case _: org.apache.spark.sql.types.TimestampType => true
      case org.apache.spark.sql.types.TimestampNTZType => true
      case _ => false
    }

  private def attrName(e: Expression): Option[String] = e match {
    case a: Attribute => Some(a.name)
    // unwrap ONLY unit-preserving casts: integral widening always is;
    // TIMESTAMP↔TIMESTAMP_NTZ preserves the micros value exactly when
    // the session TZ is UTC (the engine pins it — Graft.builder), and
    // the runtime guard keeps a non-UTC session conservative rather
    // than wrong. Any other cast changes the comparison's unit space
    // (date→string, timestamp→date, …) and must not prune.
    case c: Cast => (c.child, c.dataType) match {
      case (a: Attribute, dt) if isIntegral(dt) && isIntegral(a.dataType) =>
        Some(a.name)
      case (a: Attribute, dt)
          if isTimestampish(dt) && isTimestampish(a.dataType) &&
            org.apache.spark.sql.internal.SQLConf.get.sessionLocalTimeZone == "UTC" =>
        Some(a.name)
      case _ => None
    }
    case _ => None
  }

  /** A literal's value in the same integer encoding the manifest
    * stats use: integrals as-is, DATE as epoch days (Catalyst stores
    * Int days), TIMESTAMP as epoch micros (Catalyst stores Long). */
  private def longOf(l: Literal): Option[Long] = l.dataType match {
    case ByteType | ShortType | IntegerType | LongType | DateType =>
      Option(l.value).map(_.asInstanceOf[Number].longValue)
    case _: org.apache.spark.sql.types.TimestampType =>
      Option(l.value).map(_.asInstanceOf[Number].longValue)
    case org.apache.spark.sql.types.TimestampNTZType =>
      Option(l.value).map(_.asInstanceOf[Number].longValue)
    case _ => None
  }

  private def strOf(l: Literal): Option[String] = l.dataType match {
    case org.apache.spark.sql.types.StringType =>
      Option(l.value).map(_.toString)
    case _ => None
  }

  /** Per-conjunct IN-LIST value sets (round 11): `col IN (v₁…vₙ)` /
    * `col = v` / the optimizer's `InSet` form, for integer-encoded
    * columns (integrals, dates as epoch days, timestamps as micros).
    * A file must satisfy EVERY conjunct by containing AT LEAST ONE of
    * its values per range stats — and, where the file carries a Bloom
    * bitset for the column, per membership probe too: the static-scan
    * analog of [[graft.lake.Lake.readPoint]], which turns a
    * `WHERE id IN (…)` point lookup on a 100 TB table into opening
    * only the files that might hold those ids. Conjuncts with any
    * non-translatable piece are skipped (conservative). */
  private[graft] def inListSets(filters: Seq[Expression])
      : Seq[(String, Seq[Long])] =
    filters.flatMap(conjuncts).flatMap {
      case org.apache.spark.sql.catalyst.expressions.In(e, vs) =>
        attrName(e).flatMap { n =>
          val longs = vs.flatMap {
            case l: Literal => longOf(l)
            case _ => None
          }
          if (longs.size == vs.size && longs.nonEmpty) Some(n -> longs)
          else None
        }
      case s: org.apache.spark.sql.catalyst.expressions.InSet =>
        attrName(s.child).flatMap { n =>
          val dt = s.child.dataType
          val longs = s.hset.toSeq.flatMap(v =>
            longOf(Literal.create(v, dt)))
          if (longs.size == s.hset.size && longs.nonEmpty) Some(n -> longs)
          else None
        }
      case CEqualTo(a, l: Literal) =>
        attrName(a).zip(longOf(l)).map { case (n, v) => n -> Seq(v) }
      case CEqualTo(l: Literal, a) =>
        attrName(a).zip(longOf(l)).map { case (n, v) => n -> Seq(v) }
      case _ => None
    }

  /** STRING IN-LIST value sets (round 12): the string-typed sibling of
    * [[inListSets]] — `col IN ('a','b')` / `col = 'a'` / the
    * optimizer's `InSet` form over StringType columns. Consumed by the
    * scan builder's membership pruning against per-file string bounds
    * and string-hashed Bloom bitsets. Conjuncts with any
    * non-translatable piece are skipped (conservative). */
  private[graft] def inListStrSets(filters: Seq[Expression])
      : Seq[(String, Seq[String])] =
    filters.flatMap(conjuncts).flatMap {
      case org.apache.spark.sql.catalyst.expressions.In(e, vs) =>
        attrName(e).flatMap { n =>
          val strs = vs.flatMap {
            case l: Literal => strOf(l)
            case _ => None
          }
          if (strs.size == vs.size && strs.nonEmpty) Some(n -> strs)
          else None
        }
      case s: org.apache.spark.sql.catalyst.expressions.InSet
          if s.child.dataType == org.apache.spark.sql.types.StringType =>
        attrName(s.child).flatMap { n =>
          val strs = s.hset.toSeq.flatMap(v =>
            strOf(Literal.create(v, org.apache.spark.sql.types.StringType)))
          if (strs.size == s.hset.size && strs.nonEmpty) Some(n -> strs)
          else None
        }
      case CEqualTo(a, l: Literal) =>
        attrName(a).zip(strOf(l)).map { case (n, v) => n -> Seq(v) }
      case CEqualTo(l: Literal, a) =>
        attrName(a).zip(strOf(l)).map { case (n, v) => n -> Seq(v) }
      case _ => None
    }

  /** Boundary file selection for a TopN ask (round 11-13): the
    * minimal sort-prefix (ASC) / suffix (DESC) of `live` holding at
    * least `n` rows PROVABLY in the result, given per-file
    * `satRows` lower bounds on result-qualifying rows. Refuses
    * (None) when the layout can't certify a boundary: missing
    * stats/null counts on a non-key sort column, a NULLS FIRST order
    * over a column with nulls anywhere (a null row from ANY file
    * sorts into the top-n), or overlapping ranges (accretion
    * snapshots — every create/compact restores disjointness).
    * Sound because under pairwise-STRICT disjointness every row
    * outside the kept boundary sorts strictly after (before, DESC)
    * the ≥ n qualifying rows inside it, whatever the tie-breaker
    * columns say. */
  private[graft] def topNBoundary(live: Seq[Lake.FileEntry],
      physCol: String, colIsKey: Boolean, desc: Boolean,
      nullsFirst: Boolean, n: Int,
      satRows: Lake.FileEntry => Long): Option[Seq[Lake.FileEntry]] = {
    // (entry, lo, hi, non-null rows) per live file — the key via its
    // manifest range (keys are non-null by invariant), any other
    // column via its analyzed stats + null counts
    val ranges: Option[Seq[(Lake.FileEntry, Long, Long, Long)]] =
      if (colIsKey) Some(live.map(f => (f, f.minKey, f.maxKey, f.rows)))
      else if (live.forall(f =>
          f.stats.contains(physCol) && f.nulls.contains(physCol)))
        Some(live.map(f =>
          (f, f.stats(physCol)._1, f.stats(physCol)._2,
            f.rows - f.nulls(physCol))))
      else None
    // a NULLS FIRST order admits every file's null rows into the
    // top-n: only a provably null-free column can prune
    val nullSafe = !nullsFirst || colIsKey ||
      ranges.exists(_.forall { case (f, _, _, nn) => nn == f.rows })
    ranges.filter(_ => nullSafe).flatMap { rs =>
      val sorted = rs.sortBy(_._2)
      val disjoint = sorted.size <= 1 || sorted.sliding(2).forall {
        case Seq(a, b) => a._3 < b._2
        case _ => true
      }
      if (!disjoint) None
      else {
        val ordered = if (desc) sorted.reverse else sorted
        // Intersection lower bound per file: rows that BOTH satisfy the
        // residual filters AND are non-null in the sort column. satRows
        // and the sort-null count each bound a different subset, so
        // min(nn, satRows) is NOT sound under NULLS LAST — the null
        // sort rows could all hide inside the satisfying set. Clamp the
        // no-filter sentinel to f.rows, then subtract the sort column's
        // null count (rows - nn): max(0, min(rows, sat) - (rows - nn))
        // under-counts at worst (widening the boundary), never over.
        val cum = ordered.scanLeft(0L) { (acc, e) =>
          val sat = math.min(e._1.rows, satRows(e._1))
          acc + math.max(0L, sat - (e._1.rows - e._4)) }.tail
        val keep = cum.indexWhere(_ >= n.toLong) match {
          case -1 => ordered.size
          case i => i + 1
        }
        Some(ordered.take(keep).map(_._1))
      }
    }
  }

  /** Per-file LOWER BOUND on rows satisfying every residual conjunct
    * (round 13, VERDICT r12 #3 — TopN × filter composition): a file
    * counts its full non-null rows when EVERY conjunct's satisfying
    * window wholly contains the file's stat range (all its rows pass,
    * minus the referenced columns' null counts — a comparison with
    * NULL never satisfies), and 0 when any conjunct is partial or
    * untranslatable for it. Undercounting is SOUND here: it only
    * widens the kept boundary (a prefix holding ≥ n provably-passing
    * rows dominates everything outside it); overcounting would stop
    * the prefix before n passing rows exist and lose result rows.
    * Conjunct forms: the [[normalized]] comparisons over
    * integer-encoded stats (`f.stats` / the key range) or
    * ASCII-guarded string stats, plus IsNotNull. Missing stats or
    * null counts make the file count 0 — never wrong, just
    * unprunable. */
  private[graft] def satisfyingRowsLB(filters: Seq[Expression],
      leadingKey: String, keyIsString: Boolean): Lake.FileEntry => Long = {
    val cjs = filters.flatMap(conjuncts)
    (f: Lake.FileEntry) => {
      var nullCols = Set.empty[String]
      var whole = true
      cjs.foreach {
        case org.apache.spark.sql.catalyst.expressions.IsNotNull(e)
            if attrName(e).isDefined =>
          nullCols += attrName(e).get
        case cj => normalized(cj) match {
          case Some((c, op, l)) =>
            val intOk = longOf(l).flatMap { x =>
              val range =
                if (c.equalsIgnoreCase(leadingKey) && !keyIsString)
                  Some((f.minKey, f.maxKey))
                else f.stats.get(c)
              range.map { case (lo, hi) =>
                op match {
                  case "=" => lo == x && hi == x
                  case ">" => lo > x
                  case ">=" => lo >= x
                  case "<" => hi < x
                  case "<=" => hi <= x
                }
              }
            }
            val strOk = strOf(l).flatMap { s =>
              f.strStats.get(c) match {
                // ASCII-only: UTF-16 compare agrees with the stats'
                // UTF8String byte order only there (see pruneEntries)
                case Some((flo, fhi)) if (s + flo + fhi).forall(_ < 0x80) =>
                  Some(op match {
                    case "=" => flo == s && fhi == s
                    case ">" => flo.compareTo(s) > 0
                    case ">=" => flo.compareTo(s) >= 0
                    case "<" => fhi.compareTo(s) < 0
                    case "<=" => fhi.compareTo(s) <= 0
                  })
                case _ => None
              }
            }
            intOk.orElse(strOk) match {
              case Some(true) => nullCols += c
              case _ => whole = false
            }
          case None => whole = false
        }
      }
      if (!whole) 0L
      else f.rows - nullCols.toSeq.map { c =>
        if (c.equalsIgnoreCase(leadingKey)) 0L // keys are non-null
        else f.nulls.getOrElse(c, f.rows) // unknown nulls: count nothing
      }.sum
    }
  }

  /** One normalized comparison: (column, op with the COLUMN on the
    * left, literal). Ops: "=", ">", ">=", "<", "<=". */
  private def normalized(e: Expression): Option[(String, String, Literal)] = {
    def flip(op: String) = op match {
      case ">" => "<"
      case ">=" => "<="
      case "<" => ">"
      case "<=" => ">="
      case other => other
    }
    e match {
      case CEqualTo(a, l: Literal) => attrName(a).map((_, "=", l))
      case CEqualTo(l: Literal, a) => attrName(a).map((_, "=", l))
      case CGreaterThan(a, l: Literal) => attrName(a).map((_, ">", l))
      case CGreaterThan(l: Literal, a) => attrName(a).map((_, flip(">"), l))
      case CGreaterThanOrEqual(a, l: Literal) => attrName(a).map((_, ">=", l))
      case CGreaterThanOrEqual(l: Literal, a) => attrName(a).map((_, flip(">="), l))
      case CLessThan(a, l: Literal) => attrName(a).map((_, "<", l))
      case CLessThan(l: Literal, a) => attrName(a).map((_, flip("<"), l))
      case CLessThanOrEqual(a, l: Literal) => attrName(a).map((_, "<=", l))
      case CLessThanOrEqual(l: Literal, a) => attrName(a).map((_, flip("<="), l))
      case _ => None
    }
  }

  /** The per-column prune windows the pushed conjuncts imply.
    * Column-vs-literal comparisons in either orientation tighten the
    * matching column's window; anything else leaves it open
    * (conservative, never wrong). Strict string bounds relax to
    * inclusive — lexicographic values have no +1 — which only ever
    * reads extra. */
  def bounds(filters: Seq[Expression]): ColBounds = {
    var ints = Map.empty[String, (Option[Long], Option[Long])]
    var strs = Map.empty[String, (Option[String], Option[String])]
    def tightenInt(c: String, lo: Option[Long], hi: Option[Long]): Unit = {
      val (clo, chi) = ints.getOrElse(c, (None, None))
      ints += c -> (
        (clo.toSeq ++ lo.toSeq).maxOption,
        (chi.toSeq ++ hi.toSeq).minOption)
    }
    def tightenStr(c: String, lo: Option[String], hi: Option[String]): Unit = {
      val (clo, chi) = strs.getOrElse(c, (None, None))
      strs += c -> (
        (clo.toSeq ++ lo.toSeq).maxOption,
        (chi.toSeq ++ hi.toSeq).minOption)
    }
    filters.flatMap(conjuncts).flatMap(normalized).foreach { case (c, op, l) =>
      longOf(l) match {
        case Some(x) => op match {
          case "=" => tightenInt(c, Some(x), Some(x))
          case ">" => tightenInt(c, Some(x + 1), None)
          case ">=" => tightenInt(c, Some(x), None)
          case "<" => tightenInt(c, None, Some(x - 1))
          case "<=" => tightenInt(c, None, Some(x))
        }
        case None => strOf(l).foreach { s =>
          op match {
            case "=" => tightenStr(c, Some(s), Some(s))
            case ">" | ">=" => tightenStr(c, Some(s), None)
            case "<" | "<=" => tightenStr(c, None, Some(s))
          }
        }
      }
    }
    ColBounds(ints, strs)
  }
}
