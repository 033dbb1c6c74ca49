package cdcbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. Times are epoch milliseconds; `op` is the closed-
  * loop operation the span belongs to (0 for none). */
final case class Span(id: Long, name: String, startMs: Double, endMs: Double,
                      parent: Long, op: Long, attrs: Seq[(String, Any)] = Nil)

/** Task-level counters summed per stage, from the SparkListener. */
final class StageAgg {
  var tasks = 0L; var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
  var shuffleRead = 0L; var shuffleWrite = 0L; var spill = 0L
  var output = 0L; var inputRecords = 0L
  val schedDelayMs = mutable.ArrayBuffer.empty[Double]
}

/** The benchmark's listeners and span store. The SparkListener always
  * counts executor CPU (run context); everything else is recorded only
  * while `on` is set. Jobs are attributed to an op through the local
  * property [[Tracer.OpProp]] the benchmark sets before each call, or
  * through Structured Streaming's `streaming.sql.batchId` for jobs the
  * stream thread runs. */
final class Tracer(spark: SparkSession) {
  @volatile var on = false
  private val ids = new AtomicLong(0)
  val spans = mutable.ArrayBuffer.empty[Span]
  val stages = mutable.HashMap.empty[Int, StageAgg]
  /** stage id → (op id, stream batch id or -1) */
  val stageOwner = mutable.HashMap.empty[Int, (Long, Long)]
  /** (job id, op id, stream batch id or -1, start ms, end ms, stages, tasks) */
  val jobs = mutable.HashMap.empty[Int, Array[Long]]
  /** analysis, optimization and planning ms per finished query execution */
  val phases = mutable.ArrayBuffer.empty[(Double, Double, Double)]
  @volatile var executorCpuNs = 0L

  def nextId(): Long = ids.incrementAndGet()

  def record(s: Span): Unit = if (on) spans.synchronized(spans += s)

  /** Run `body` as span `name` under `parent`; with tracing off only the
    * op attribution property is set. */
  def span[T](name: String, parent: Long, op: Long, id: Long = -1)(body: => T): T = {
    if (!on) return body
    val sid = if (id > 0) id else nextId()
    val t0 = System.currentTimeMillis().toDouble
    try body
    finally record(Span(sid, name, t0, System.currentTimeMillis().toDouble, parent, op))
  }

  def setOp(op: Long): Unit =
    spark.sparkContext.setLocalProperty(Tracer.OpProp, op.toString)

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (on) {
      val props = Option(e.properties)
      val op = props.flatMap(p => Option(p.getProperty(Tracer.OpProp)))
        .map(_.toLong).getOrElse(0L)
      val batch = props.flatMap(p => Option(p.getProperty("streaming.sql.batchId")))
        .map(_.toLong).getOrElse(-1L)
      jobs.synchronized {
        jobs(e.jobId) = Array(e.jobId.toLong, op, batch, e.time, -1L,
          e.stageInfos.size.toLong, e.stageInfos.map(_.numTasks.toLong).sum)
        e.stageIds.foreach(s => stageOwner(s) = (op, batch))
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = if (on)
      jobs.synchronized(jobs.get(e.jobId).foreach(_(4) = e.time))

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        executorCpuNs += m.executorCpuTime
        if (on) stages.synchronized {
          val a = stages.getOrElseUpdate(e.stageId, new StageAgg)
          a.tasks += 1; a.runMs += m.executorRunTime; a.cpuNs += m.executorCpuTime
          a.gcMs += m.jvmGCTime
          a.shuffleRead += m.shuffleReadMetrics.remoteBytesRead +
            m.shuffleReadMetrics.localBytesRead
          a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          a.output += m.outputMetrics.bytesWritten
          a.inputRecords += m.inputMetrics.recordsRead
          val i = e.taskInfo
          a.schedDelayMs += math.max(0L, i.duration - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime).toDouble
        }
      }
    }
  }

  val qeListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (on) {
        val p = qe.tracker.phases
        def ms(k: String) = p.get(k).map(_.durationMs.toDouble).getOrElse(0.0)
        phases.synchronized(phases += ((ms("analysis"), ms("optimization"), ms("planning"))))
      }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  spark.sparkContext.addSparkListener(sparkListener)
  spark.listenerManager.register(qeListener)

  /** Forget everything recorded so far (counters keep running). */
  def reset(): Unit = {
    spans.synchronized(spans.clear()); stages.synchronized(stages.clear())
    jobs.synchronized { jobs.clear(); stageOwner.clear() }
    phases.synchronized(phases.clear())
  }

  /** Give the asynchronous listener buses time to deliver the events of
    * the work that just finished. */
  def settle(): Unit = {
    val deadline = System.currentTimeMillis() + 5000
    Thread.sleep(200)
    while (System.currentTimeMillis() < deadline &&
      jobs.synchronized(jobs.values.exists(_(4) < 0))) Thread.sleep(20)
  }

  /** Stage aggregates grouped by the op that ran them; `batchOp` maps a
    * stream batch id to its op (0 for a batch that carried no data). */
  def stagesByOp(batchOp: Long => Long): Map[Long, Seq[StageAgg]] =
    stages.synchronized(jobs.synchronized {
      stages.toSeq.groupBy { case (s, _) =>
        stageOwner.get(s).map { case (op, b) => if (b >= 0) batchOp(b) else op }
          .getOrElse(0L)
      }.map { case (op, xs) => op -> xs.map(_._2) }
    })

  /** Jobs as child spans of their ops, and each span's self time (its
    * duration minus the part of it covered by its children). */
  def jobSpans(batchOp: Long => Long): Seq[Span] = jobs.synchronized {
    jobs.values.toSeq.sortBy(_(0)).map { j =>
      val op = if (j(2) >= 0) batchOp(j(2)) else j(1)
      Span(nextId(), "spark.job", j(3).toDouble,
        (if (j(4) < 0) j(3) else j(4)).toDouble, op, op,
        Seq("job" -> j(0), "stream_batch" -> j(2), "stages" -> j(5), "tasks" -> j(6)))
    }
  }
}

object Tracer {
  val OpProp = "cdcbench.op"

  /** Self time per span: duration minus the union of its children. */
  def selfTimes(spans: Seq[Span]): Map[Long, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val iv = kids.getOrElse(s.id, Nil).map(c =>
        (math.max(c.startMs, s.startMs), math.min(c.endMs, s.endMs)))
        .filter(x => x._2 > x._1).sortBy(_._1)
      var covered = 0.0; var curS = Double.NaN; var curE = Double.NaN
      iv.foreach { case (a, b) =>
        if (curS.isNaN || a > curE) {
          if (!curS.isNaN) covered += curE - curS
          curS = a; curE = b
        } else curE = math.max(curE, b)
      }
      if (!curS.isNaN) covered += curE - curS
      s.id -> (s.endMs - s.startMs - covered)
    }.toMap
  }

  def toJson(s: Span, self: Double): Json.Obj =
    Json.Obj(Seq("id" -> s.id, "name" -> s.name, "start_ms" -> s.startMs,
      "end_ms" -> s.endMs, "parent" -> s.parent, "op" -> s.op,
      "self_ms" -> self) ++ s.attrs)
}
