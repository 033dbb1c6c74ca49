package graft.engine

import org.apache.spark.sql.SparkSession

/** Job naming for the engine's Spark actions.
  *
  * Spark names a job by the call site of the thread that submits it. A
  * streaming query pins its own (`start at …`) on its thread, so every job
  * of every micro-batch carried the same name; and AQE submits a query's
  * stages from its own threads, which copy the caller's call-site
  * properties but have no engine frame on their stack. [[named]] sets the
  * call site to the engine line that runs `body`, so those jobs — in the
  * trace and in the Spark UI — say which line ran them. */
private[graft] object CallSites {
  private val Keys = Seq("callSite.short", "callSite.long")

  /** Run `body` with the jobs it submits named by the caller's line. */
  def named[T](spark: SparkSession)(body: => T): T = {
    val frames = Thread.currentThread.getStackTrace.drop(2)
    val at = frames.head
    cleared(spark) {
      val sc = spark.sparkContext
      sc.setLocalProperty(Keys.head,
        s"${at.getMethodName} at ${at.getFileName}:${at.getLineNumber}")
      sc.setLocalProperty(Keys(1), frames.take(20).mkString("\n"))
      body
    }
  }

  /** Run `body` with no call site pinned, so each job Spark submits from
    * this thread is named by the line that submitted it; the previous
    * call site is put back afterwards. */
  def cleared[T](spark: SparkSession)(body: => T): T = {
    val sc = spark.sparkContext
    val saved = Keys.map(k => k -> sc.getLocalProperty(k))
    sc.clearCallSite()
    try body finally saved.foreach { case (k, v) => sc.setLocalProperty(k, v) }
  }
}
