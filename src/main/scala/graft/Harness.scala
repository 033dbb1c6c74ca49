package graft

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

/** What every main but [[Bench]] shares: its session, its timer, its
  * job/stage census and its section dispatch. */
object Harness {

  /** The local session: `SPARK_GRAFT_CPUS` cores (else `defaultCpus`),
    * as many shuffle partitions, UTC session time, the graft SQL
    * extensions. */
  def session(defaultCpus: Int): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** One measured invocation: wall seconds and the result. */
  def time[T](body: => T): (Double, T) = {
    val t0 = System.nanoTime()
    val r = body
    ((System.nanoTime() - t0) / 1e9, r)
  }

  /** Runs the section `args(0)` names on the rest of `args`. */
  def sections(main: String, args: Array[String])(
      all: (String, Array[String] => Unit)*): Unit =
    all.find(s => args.headOption.contains(s._1)) match {
      case Some((_, run)) => run(args.tail)
      case None =>
        System.err.println(s"usage: $main ${all.map(_._1).mkString("|")} [args...]")
        sys.exit(2)
    }

  /** A listener counting the jobs and stages that end, and logging each
    * completed stage: wall time, task count, summed executor run, GC
    * and CPU time — which tells single-task serial stages apart from
    * scheduling and planning overhead. */
  final class Census extends SparkListener {
    val jobs = new AtomicInteger
    val stages = new AtomicInteger
    val log = new ConcurrentLinkedQueue[String]()

    override def onJobEnd(e: SparkListenerJobEnd): Unit = { jobs.incrementAndGet(); () }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      stages.incrementAndGet()
      val si = e.stageInfo
      val wall = (for { s <- si.submissionTime; c <- si.completionTime }
        yield (c - s) / 1e3).getOrElse(-1.0)
      log.add(f"stage ${si.stageId}%4d tasks=${si.numTasks}%3d wall=$wall%7.3f s " +
        f"exec=${si.taskMetrics.executorRunTime / 1e3}%7.3f s " +
        f"gc=${si.taskMetrics.jvmGCTime / 1e3}%6.3f s " +
        f"cpu=${si.taskMetrics.executorCpuTime / 1e9}%7.3f s " +
        f"${si.name.takeWhile(_ != '(').trim}")
      ()
    }

    /** Waits for the listener bus to deliver the events of jobs that
      * have just ended. */
    def settle(): Unit = Thread.sleep(300)
  }

  def census(spark: SparkSession): Census = {
    val c = new Census
    spark.sparkContext.addSparkListener(c)
    c
  }
}
