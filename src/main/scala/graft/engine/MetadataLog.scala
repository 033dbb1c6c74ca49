package graft.engine

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Pipeline-run observability: the reference's `pipeline_metadata` table
  * (/root/reference/src/warehouse/pipeline_metadata.py:66-102) as an
  * append-only parquet log. A run is recorded as status events
  * (running → completed/failed); the "current state" of each run is the
  * latest event — the same last-write-wins window pattern (W4) the rest
  * of the engine uses, instead of in-place UPDATEs. The log is a
  * [[Compaction]] versioned table: appends go to the live version,
  * compaction publishes a new one.
  */
class MetadataLog(spark: SparkSession, path: String) {
  import spark.implicits._

  /** Monotonic per-process sequence: tie-breaks status events recorded at
    * the same timestamp in insertion order (a status string is NOT a valid
    * tie-break — 'running' would lexicographically beat 'completed'). */
  private val seq = new java.util.concurrent.atomic.AtomicLong(0L)

  private type Event = (String, String, String, Long,
    Option[String], Option[String], Timestamp, Long)
  private val pending = scala.collection.mutable.Buffer.empty[Event]
  private val cols = Seq("pipeline_name", "run_id", "status",
    "records_processed", "error_message", "performance_metrics",
    "event_time", "seq")

  /** metrics is the reference's JSONB column as a JSON string.
    * Writes immediately (one file per event) — fine for a demo/test
    * cadence; at production event rates use [[recordBuffered]]+[[flush]]
    * so a whole batch of status events lands as one file, and [[compact]]
    * periodically to bound the file count. */
  def record(pipelineName: String, runId: String, status: String,
             recordsProcessed: Long, errorMessage: String = null,
             metricsJson: String = null, at: Timestamp = null): Unit = {
    recordBuffered(pipelineName, runId, status, recordsProcessed,
      errorMessage, metricsJson, at)
    flush()
  }

  /** Queue a status event driver-side; nothing is written until
    * [[flush]]. */
  def recordBuffered(pipelineName: String, runId: String, status: String,
                     recordsProcessed: Long, errorMessage: String = null,
                     metricsJson: String = null, at: Timestamp = null): Unit =
    synchronized {
      val ts = Option(at).getOrElse(new Timestamp(System.currentTimeMillis()))
      pending += ((pipelineName, runId, status, recordsProcessed,
        Option(errorMessage), Option(metricsJson), ts, seq.incrementAndGet()))
    }

  /** Write all queued events as ONE parquet append (one file, not one
    * per event) into the log's live version. */
  def flush(): Unit = synchronized {
    if (pending.nonEmpty) {
      Compaction.guardedAppend(path) { live =>
        pending.toSeq.toDF(cols: _*)
          .coalesce(1).write.mode("append").parquet(live)
      }
      pending.clear()
    }
  }

  /** Rewrite the accumulated log into `targetFiles` files — the
    * compaction any small-event parquet log needs to stay listable —
    * as the next version of a [[Compaction]] versioned table: the
    * rewrite lands in its own version dir and the pointer swap
    * publishes it, so a crash at any point leaves the previous version
    * live and whole. The version superseded by the PREVIOUS compaction
    * is vacuumed first (one compaction interval of reader window).
    * Returns (files before, files after) of the live version.
    *
    * Holds the same monitor as [[flush]] and [[read]]: an append
    * landing between the rewrite's read and the swap would be left in
    * the superseded version. */
  def compact(targetFiles: Int = 1): (Int, Int) = synchronized {
    def liveFiles() = Compaction.filesPerPartition(path).values.sum
    Compaction.vacuum(path)
    val before = liveFiles()
    Compaction.compactTable(spark, path, _.coalesce(targetFiles),
      force = true)
    (before, liveFiles())
  }

  /** The returned frame is MATERIALIZED inside the monitor
    * (`localCheckpoint`): the scan cannot race a concurrent [[compact]]
    * vacuuming the files under it — the same window the monitor closes
    * for [[flush]]. The log is a control-plane table (status events),
    * so eager materialization is a few KB of blocks; the checkpoint is
    * a pure cache and is dropped with its RDD. */
  def read(): DataFrame = synchronized {
    spark.read.parquet(Compaction.resolve(path)).localCheckpoint(true)
  }

  /** Latest state per run (pipeline_metadata.py:267-275 generalized from
    * LIMIT 1 to a per-run window). */
  def currentRuns(): DataFrame =
    Cdc.dedupLastPerKey(read(), "run_id", "event_time", "seq")

  /** A6: run stats over a trailing window of days. */
  def stats(days: Int): DataFrame = {
    val runs = currentRuns()
    val maxTs = runs.agg(max($"event_time").as("_max_ts"))
    runs.crossJoin(broadcast(maxTs))
      .filter($"event_time" >= $"_max_ts" - expr(s"INTERVAL $days DAYS"))
      .agg(
        count(lit(1)).as("n_runs"),
        count(when($"status" === "completed", 1)).as("n_completed"),
        count(when($"status" === "failed", 1)).as("n_failed"),
        sum($"records_processed").as("total_records"),
        max($"event_time").as("latest_run"))
  }
}
