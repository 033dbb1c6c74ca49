package graft.engine

import java.util.concurrent.TimeoutException
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import org.apache.spark.sql.SparkSession

/** Concurrent driver-side Spark work with a bounded wait that cancels
  * the work it gives up on. */
private[graft] object Bounded {

  /** Run each thunk as its own Future (the multi-job pattern: the jobs
    * they submit run concurrently) and wait for each result up to
    * `timeout`, returning them in order. A hung job must fail its caller
    * loudly, not wedge it forever — and must not keep using the cluster
    * after the caller gave up, so each thunk runs under its own Spark
    * job group, and a timeout cancels every group of this call before
    * it rethrows. Each Future clears its group in `finally`, so the
    * pool thread carries no stale group into later work. */
  def awaitAll[T](spark: SparkSession, thunks: Seq[() => T],
                  timeout: FiniteDuration = 30.minutes): Seq[T] = {
    implicit val ec: ExecutionContext = ExecutionContext.global
    val sc = spark.sparkContext
    val runs = thunks.map { t =>
      val group = s"graft-bounded-${java.util.UUID.randomUUID()}"
      group -> Future {
        sc.setJobGroup(group, "bounded await", interruptOnCancel = true)
        try t() finally sc.clearJobGroup()
      }
    }
    try runs.map { case (_, f) => Await.result(f, timeout) }
    catch {
      case e: TimeoutException =>
        runs.foreach { case (group, _) => sc.cancelJobGroup(group) }
        throw e
    }
  }
}
