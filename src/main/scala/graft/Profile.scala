package graft

import org.apache.spark.sql.SparkSession

/** Dev profiler: time a named query's stages / print its plan.
  * Usage: graft.Profile <sfDir> <queryName> [explain] */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val name = args(1)
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .config("spark.sql.shuffle.partitions", sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    if (name == "adaptive_caps") {
      // print the data-derived skew constants for this corpus (PLANS.md
      // records them per round)
      val docs = graft.engine.Tables.documents(spark, sfDir)
      println("ADAPTIVE_SALT=" + graft.ops.DedupOps.adaptiveSaltFactor(docs, 5))
      println("ADAPTIVE_MAXDF=" + graft.ops.TextOps.adaptiveMaxDf(docs))
      spark.stop(); return
    }
    val df = SparkEntry.queries(name)(spark, sfDir)
    if (args.length > 2 && args(2) == "explain") df.explain("formatted")
    if (args.length > 2 && args(2) == "stages") {
      // per-stage breakdown: stage wall duration, task count, summed
      // executor run time — tells single-task serial stages apart from
      // scheduling/planning overhead
      val events = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onStageCompleted(
            sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
          val si = sc.stageInfo
          val wall = for {
            s <- si.submissionTime; c <- si.completionTime
          } yield (c - s) / 1e3
          events.add(f"stage ${si.stageId}%4d tasks=${si.numTasks}%3d " +
            f"wall=${wall.getOrElse(-1.0)}%7.3f s " +
            f"exec=${si.taskMetrics.executorRunTime / 1e3}%7.3f s " +
            f"gc=${si.taskMetrics.jvmGCTime / 1e3}%6.3f s " +
            f"cpu=${si.taskMetrics.executorCpuTime / 1e9}%7.3f s " +
            f"${si.name.takeWhile(_ != '(').trim}")
        }
      }
      spark.sparkContext.addSparkListener(listener)
      for (i <- 1 to 3) {
        events.clear()
        // reconstruct per run, like the bench does: queries with eager
        // construction-time work (concurrent-job materialization) are
        // otherwise invisible to the timing
        val t0 = System.nanoTime()
        val n = SparkEntry.queries(name)(spark, sfDir).count()
        val dt = (System.nanoTime() - t0) / 1e9
        Thread.sleep(300) // let listener events drain
        println(f"run $i: $dt%.2f s  rows=$n")
        if (i == 3) events.forEach(e => println("  " + e))
      }
      spark.stop(); return
    }
    // warm + timed runs
    for (i <- 1 to 3) {
      val t0 = System.nanoTime()
      val n = df.count()
      println(f"run $i: ${(System.nanoTime() - t0) / 1e9}%.2f s  rows=$n")
    }
    spark.stop()
  }
}
