package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.Sink
import org.apache.spark.sql.graft.Shims
import org.apache.spark.sql.streaming.OutputMode

/** `df.writeStream.format("graft").start(path)` — the versioned table
  * as a STREAMING SINK (Delta's writeStream idiom, re-derived on the
  * DataSource-V1 `Sink` seam). Exactly-once by the same mechanism as
  * [[graft.streaming.Streams.toVersionedSink]]: every batch commits
  * through [[VersionedTable.commitIfNew]] keyed on
  * (streaming query id, batch id) — the txn watermark rides the
  * manifest log, so a replayed batch after failure/restart is a
  * metadata no-op, never duplicate rows (Delta's appId:batchId txn
  * action).
  *
  * OutputMode.Append appends each batch; OutputMode.Complete
  * overwrites the snapshot with each batch (the maintained-state
  * shape). Options: `partitionBy` also accepted via the writer's
  * `partitionBy(...)` clause; `autoCompactEvery` = fold small files
  * every Nth committed batch (`smallBytes` threshold, default 8 MB) —
  * replayed batches never trigger it; `mergeSchema` = a batch carrying
  * new columns widens the table instead of failing the query (Delta's
  * streaming schema-evolution opt-in).
  *
  * Commit timestamps default to the WALL CLOCK of each batch's commit
  * ([[VersionedTable.TsNow]] — monotonically nudged past the previous
  * commit): age-based retention (`VACUUM ... RETAIN n HOURS`,
  * `restoreToTimestamp`, the 7-day vacuum grace) must see sink commits
  * as CURRENT, and a per-commit clock read stays current however long
  * the query lives (a construction-time base plus batchId seconds
  * drifts days behind wall clock on a long-lived low-frequency
  * trigger, mislocating `timestampAsOf` on the sink table). Pass
  * `tsBaseEpochSec` for deterministic `base + batchId`-second
  * timestamps (tests, reproducible fixtures) — with it set, age-based
  * VACUUM on the sink table is on the caller to reason about. */
final class GraftStreamSink(spark: SparkSession, path: String,
    options: Map[String, String], partitionCols: Seq[String],
    outputMode: OutputMode) extends Sink {

  private val autoCompactEvery =
    options.get("autocompactevery").map(_.trim.toInt).getOrElse(0)
  // Delta's schema-evolution opt-in for streaming writes: a batch
  // carrying new columns widens the table instead of failing the query
  private val mergeSchema =
    options.get("mergeschema").exists(_.trim.toBoolean)
  private val smallBytes =
    options.get("smallbytes").map(_.trim.toLong).getOrElse(8L * 1024 * 1024)
  private val tsBase = options.get("tsbaseepochsec").map(_.trim.toLong)
  private val mode =
    if (outputMode == OutputMode.Complete()) "overwrite" else "append"

  override def addBatch(batchId: Long, data: DataFrame): Unit = {
    // the engine hands an incrementally-planned frame that batch
    // writers refuse — re-wrap its rows as a plain batch frame
    val batch = Shims.batchDf(spark, data.queryExecution.toRdd, data.schema)
    // the streaming query id IS the txn appId (Delta's choice): stable
    // across restarts of the same checkpointed query, distinct across
    // queries
    val appId = Option(spark.sparkContext.getLocalProperty("sql.streaming.queryId"))
      .getOrElse("graft-stream")
    val ts = tsBase.fold(VersionedTable.TsNow)(base =>
      java.time.Instant.EPOCH.plusSeconds(base + batchId).toString)
    val committed = VersionedTable.commitIfNew(batch, path, appId, batchId,
      ts, mode = mode, partitionBy = partitionCols, mergeSchema = mergeSchema)
    if (autoCompactEvery > 0 && committed.isDefined &&
        batchId % autoCompactEvery == (autoCompactEvery - 1))
      VersionedTable.compactSmall(spark, path, smallBytes, ts = ts)
    // table-declared auto-compaction (graft.autoOptimize.autoCompact)
    // applies when the sink option doesn't set an explicit cadence
    else if (autoCompactEvery == 0 && committed.isDefined &&
        VersionedTable.autoCompactEnabled(spark, path))
      VersionedTable.compactSmall(spark, path, smallBytes, ts = ts)
    ()
  }

  override def toString: String = s"GraftStreamSink[$path]"
}
