package cdcbench

import scala.collection.mutable

import org.apache.spark.sql.streaming.StreamingQueryProgress

/** What one measured pass over a fresh store observed. Latencies are in
  * milliseconds; a "batch" is one committed change batch (or, on
  * history_reads, also a scheduled snapshot materialization, which is a
  * publish too). */
final class Pass(val traced: Boolean) {
  val batchMs = mutable.ArrayBuffer.empty[Double]
  val queryMs = mutable.ArrayBuffer.empty[Double]
  val queryByType = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val readMs = mutable.ArrayBuffer.empty[Double]
  val filesScanned = mutable.ArrayBuffer.empty[Double]
  val maintMs = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val bytesPerBatch = mutable.ArrayBuffer.empty[Double]
  val filesPerBatch = mutable.ArrayBuffer.empty[Double]
  val progress = mutable.ArrayBuffer.empty[(Long, StreamingQueryProgress, Double)]
  val applied = mutable.ArrayBuffer.empty[ChangeFile]
  val applyMs = mutable.ArrayBuffer.empty[Double]
  val batchOpIds = mutable.ArrayBuffer.empty[Long]
  val queryOpIds = mutable.ArrayBuffer.empty[Long]
  /** stream batch id → op id, for attributing the stream's jobs */
  val batchOps = mutable.HashMap.empty[Long, Long]
  val errors = mutable.ArrayBuffer.empty[String]
  var noDataBatches = 0
  var attempted = 0L
  var failed = 0L
  var bytesWritten = 0L
  var bytesRewritten = 0L
  var rowsReturned = 0L
  var poolExhausted = false
  var wallS = 0.0
  var procCpuS = 0.0
  var executorCpuS = 0.0
  var gcS = 0.0

  def records: Long = applied.map(_.records).sum
  def changeBytes: Long = applied.map(_.bytes).sum

  def fail(what: String): Unit = {
    failed += 1
    if (errors.size < 20) errors += what.take(400)
  }

  def query(kind: String, ms: Double): Unit = {
    queryMs += ms
    queryByType.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += ms
  }

  def maint(kind: String, ms: Double): Unit =
    maintMs.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += ms

  /** Change records applied per second of time spent applying them. */
  def ingestRps: Double = records / (applyMs.sum / 1000.0)
  def writeAmp: Double = bytesWritten.toDouble / changeBytes

  def summary: Json.Obj = Json.obj(
    "traced" -> traced, "attempted" -> attempted,
    "failed" -> failed, "errors" -> errors.toSeq,
    "batches" -> Pct.summary(batchMs.toSeq), "queries" -> Pct.summary(queryMs.toSeq),
    "query_types" -> queryByType.map { case (k, v) => k -> Pct.summary(v.toSeq) },
    "maintenance" -> maintMs.map { case (k, v) => k -> Pct.summary(v.toSeq) },
    "records_applied" -> records, "files_applied" -> applied.size,
    "change_bytes" -> changeBytes, "bytes_written" -> bytesWritten,
    "stream_nodata_batches" -> noDataBatches, "pool_exhausted" -> poolExhausted,
    "wall_s" -> wallS, "proc_cpu_s" -> procCpuS, "executor_cpu_s" -> executorCpuS,
    "gc_s" -> gcS)
}
