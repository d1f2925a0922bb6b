package graft.sources

import org.apache.spark.sql.{Dataset, Row}
import org.apache.spark.sql.execution.streaming.Sink
import org.apache.spark.sql.streaming.OutputMode

import graft.lake.Lake

/** `writeStream.format("graft-lake")` — the lake as a FIRST-CLASS
  * Structured Streaming sink, completing the round-9 streaming story
  * (source: `graft-lake-cdf`; sink: this). Until now streaming writes
  * reached the format only through hand-rolled `foreachBatch` closures
  * ([[graft.streaming.EventStream.streamedLakeIngest]]); this is the
  * declarative form, the same `Sink.addBatch` extension point Delta's
  * sink uses, so any streaming query — stateless ingest or stateful
  * update-mode aggregation — lands in the table format with ONE line.
  *
  * Exactly-once: every micro-batch commits through the format's
  * transactional writes with the (appId, batchId) replay marker in the
  * SAME manifest commit ([[Lake.streamUpsert]] /
  * [[Lake.streamOverwrite]]), so Structured Streaming's at-least-once
  * replay of the last uncommitted batch observes its marker and
  * no-ops — table state is exactly-once without any sink-side
  * bookkeeping beyond the manifest itself.
  *
  * Output modes map onto the format's native operations:
  *   - Update/Append → key-merge upsert of the batch (Append on a
  *     keyed table is idempotent ingest-dedup; Update is the natural
  *     landing for stateful aggregations that re-emit changed keys);
  *   - Complete → snapshot replace (each trigger's full result becomes
  *     the table's new version; history stays time-travelable).
  *
  * Scale shape: `addBatch` receives the micro-batch's already-planned
  * incremental execution, re-bound as a batch frame
  * ([[org.apache.spark.sql.execution.streaming.GraftBatchRebind]], the
  * `ForeachBatchSink` device — the raw Dataset's logical plan still
  * carries streaming sources and rejects derived plans). The lake's
  * commit protocol takes several actions over the batch (bounds
  * aggregate, file-skip join, write, stats pass), so the re-bound
  * frame is `persist()`-pinned and the one materializing action runs
  * the incremental plan exactly once — a stateful plan's state stores
  * commit once per batch (Spark 4.1 rejects the multi-commit shape of
  * a re-executed stateful plan), and every subsequent lake action
  * reads executor-cached blocks, never the driver. Rows never
  * collect(); the write stays distributed. */
private[sources] class LakeSink(dir: String, key: String, appId: String,
    mode: OutputMode, targetFiles: Int) extends Sink {

  override def addBatch(batchId: Long, data: Dataset[Row]): Unit = {
    val spark = data.sparkSession
    val batch =
      org.apache.spark.sql.execution.streaming.GraftBatchRebind.rebind(data)
        .persist()
    try {
      // One action materializes the incremental plan into the cache;
      // the lake ops below re-derive plans that substitute the cached
      // relation (sameResult on the normalized batch plan), so the
      // micro-batch executes exactly once end to end.
      batch.count()
      // a commit conflict re-runs the whole exactly-once step: the retry
      // re-reads the winner's manifest (and its replay markers) first
      Lake.withRetry() {
        if (mode == OutputMode.Complete())
          Lake.streamOverwrite(spark, dir, batch.toDF(), key, appId, batchId,
            targetFiles)
        else
          Lake.streamUpsert(spark, dir, batch.toDF(), key, appId, batchId,
            targetFiles)
      }
      ()
    } finally { batch.unpersist(); () }
  }

  override def toString: String = s"LakeSink[$dir, key=$key, mode=$mode]"
}
