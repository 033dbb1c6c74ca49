package cdcbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

import graft.engine.SnapshotStore

/** The CDC history-warehouse benchmark.
  *
  * {{{
  * Main --workload <ingest_micro|ingest_bulk|history_reads> --seed <n>
  *      --seconds <s> --trace <0|1> [--scale full|tiny] [--out <dir>]
  * }}}
  *
  * Prints a context line (inputs, host load, CPU, per-pass detail) and, as
  * the last line, `{"correct", "attempted", "failed", "metrics"}`: the
  * end-to-end metrics with `--trace 0`, the per-layer metrics with
  * `--trace 1`. A traced run measures three half-length passes, each on a
  * fresh store (untraced, traced, untraced) and reports the traced one
  * against the mean of the other two as the tracing overhead; its spans go
  * to `<out>/traces/`. Exits 1 when a correctness gate fails. */
object Main {
  val Cores: Int = math.min(4, Runtime.getRuntime.availableProcessors())
  val SetupReps = 3

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a.getOrElse("workload", sys.error("--workload is required"))
    val seed = a.getOrElse("seed", "1").toLong
    val seconds = a.getOrElse("seconds", "10").toInt
    val trace = a.getOrElse("trace", "0") == "1"
    val scale = a.getOrElse("scale", "full")
    val out = Paths.get(a.getOrElse("out", ".bench_build")).toAbsolutePath
    val shape = Shape(workload, scale, seconds)
    val work = out.resolve(s"work/$workload-${ProcessHandle.current().pid()}")
    Fs.deleteTree(work)
    Files.createDirectories(work)
    // exit explicitly even when the run throws: Spark's non-daemon
    // threads would otherwise keep the JVM alive
    val code =
      try run(workload, shape, seed, seconds, trace, scale, out, work)
      catch { case e: Throwable => e.printStackTrace(); 2 }
      finally Fs.deleteTree(work)
    sys.exit(code)
  }

  private def run(workload: String, shape: Shape, seed: Long, seconds: Int, trace: Boolean,
                  scale: String, out: Path, work: Path): Int = {
    val load0 = Proc.loadavg()
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("cdcbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    val sessionS = (System.nanoTime() - t0) / 1e9
    val tracer = new Tracer(spark)

    val w = new Workload(spark, tracer, workload, shape, seed, work)
    val stagingS = (System.nanoTime() - t0) / 1e9 - sessionS

    // set-up: seed-dim publish plus one warm-up batch on a throwaway
    // store, SetupReps times; the last publish is the first pass's store
    tracer.on = trace
    val reps = (0 until SetupReps).map { k =>
      val root = work.resolve(s"store_$k")
      val store = new SnapshotStore(spark, root.toString)
      val c0 = tracer.executorCpuNs; val t1 = System.nanoTime()
      tracer.span("setup.publish", 0, 0)(w.publishSeed(store))
      val c1 = tracer.executorCpuNs; val t2 = System.nanoTime()
      tracer.span("setup.warmup_batch", 0, 0)(w.warmup(work.resolve(s"warm_$k")))
      val c2 = tracer.executorCpuNs; val t3 = System.nanoTime()
      if (k < SetupReps - 1) Fs.deleteTree(root)
      ((t2 - t1) / 1e9, (t3 - t2) / 1e9, (c1 - c0) / 1e9, (c2 - c1) / 1e9, root, store)
    }
    tracer.on = false
    val setupSpans = tracer.spans.toList
    tracer.reset()
    // the session starts once per JVM, so it is reported on its own
    // (setup.session_s) rather than folded into the repeated set-up
    val setupS = Pct.median(reps.map(r => r._1 + r._2))

    // untraced pass: the end-to-end metrics
    val p0 = new Pass(traced = false)
    // a traced run measures three half-length passes, to stay inside the
    // run time limit
    val passSeconds = if (trace) math.max(1, seconds / 2) else seconds
    w.run(reps.last._6, reps.last._5, p0, work.resolve("pass0"), passSeconds)
    val rss = Proc.vmHwmMb()
    val g0 = System.nanoTime()
    val gate0 = w.gate(reps.last._6, p0, work.resolve("pass0"))
    val gateS = (System.nanoTime() - g0) / 1e9
    val e2e = endToEnd(p0, setupS, rss)

    // traced run: a traced pass, then a second untraced pass, each on a
    // fresh store; the per-layer metrics come from the traced one
    def freshPass(traced: Boolean, name: String): (Pass, SnapshotStore, Path, Seq[String]) = {
      val root = work.resolve(s"store_$name")
      val store = new SnapshotStore(spark, root.toString)
      w.publishSeed(store)
      val p = new Pass(traced)
      tracer.on = traced
      w.run(store, root, p, work.resolve(name), passSeconds)
      if (traced) tracer.settle()
      tracer.on = false
      (p, store, root, w.gate(store, p, work.resolve(name)))
    }
    var layers = Seq.empty[(String, Double, String)]
    var traceFile = ""
    val extra = if (!trace) Nil else {
      val (p1, store, root, gate1) = freshPass(traced = true, "pass1")
      val (p2, _, _, gate2) = freshPass(traced = false, "pass2")
      val r = Layers(w, p1, Seq(p0, p2), tracer, store, root,
        reps.map(x => (x._1, x._2, x._3, x._4)), sessionS, load0)
      layers = r._1
      traceFile = writeTrace(out, workload, seed, setupSpans ++ r._2).toString
      Seq((p1, gate1), (p2, gate2))
    }

    val gateErrors = gate0 ++ extra.flatMap(_._2)
    val passes = p0 +: extra.map(_._1)
    val attempted = passes.map(_.attempted).sum
    val failed = passes.map(_.failed).sum + gateErrors.size
    val load1 = Proc.loadavg()
    val context = Json.obj(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
      "scale" -> scale, "cores" -> Cores, "shape" -> shape.toString,
      "inputs" -> w.properties,
      "loadavg_start" -> load0, "loadavg_end" -> load1,
      "run_wall_s" -> (System.nanoTime() - t0) / 1e9, "run_proc_cpu_s" -> Proc.cpuS(),
      "run_executor_cpu_s" -> tracer.executorCpuNs / 1e9,
      "staging_s" -> stagingS, "gate_s" -> gateS,
      "setup" -> Json.obj("session_s" -> sessionS,
        "publish_s" -> reps.map(_._1), "warmup_batch_s" -> reps.map(_._2)),
      "gate_checks" -> w.checks, "gate_errors" -> gateErrors,
      "end_to_end" -> metricsJson(e2e),
      "untraced_pass" -> p0.summary,
      "traced_pass" -> extra.headOption.map(_._1.summary),
      "second_untraced_pass" -> extra.lift(1).map(_._1.summary),
      "trace_file" -> traceFile)
    println(Json(Json.obj("context" -> context)))
    spark.stop()

    val correct = gateErrors.isEmpty && failed == 0
    val metrics = if (!correct) Nil else if (trace) layers else e2e
    println(Json(Json.obj("correct" -> correct, "attempted" -> attempted,
      "failed" -> failed, "metrics" -> metricsJson(metrics))))
    if (correct) 0 else 1
  }

  def endToEnd(p: Pass, setupS: Double, rssMb: Double): Seq[(String, Double, String)] = Seq(
    ("setup_s", setupS, "s"),
    ("ingest_rps", p.ingestRps, "rec/s"),
    ("batch_p50_ms", Pct.median(p.batchMs.toSeq), "ms"),
    ("batch_tail_ms", Pct.tail(p.batchMs.toSeq).value, "ms"),
    ("query_p50_ms", Pct.median(p.queryMs.toSeq), "ms"),
    ("query_tail_ms", Pct.tail(p.queryMs.toSeq).value, "ms"),
    ("write_amp", p.writeAmp, "ratio"),
    ("peak_rss_mb", rssMb, "MB"))

  def metricsJson(ms: Seq[(String, Double, String)]): Json.Obj =
    Json.Obj(ms.map { case (n, v, u) => n -> Json.obj("value" -> v, "unit" -> u) })

  private def writeTrace(out: Path, workload: String, seed: Long, spans: Seq[Span]): Path = {
    val dir = out.resolve("traces"); Files.createDirectories(dir)
    val self = Tracer.selfTimes(spans)
    val byName = spans.groupBy(_.name).toSeq.sortBy(_._1).map { case (n, ss) =>
      n -> Json.obj("count" -> ss.size, "total_ms" -> ss.map(s => s.endMs - s.startMs).sum,
        "self_ms" -> ss.map(s => self(s.id)).sum)
    }
    val f = dir.resolve(s"$workload-seed$seed-${System.currentTimeMillis()}.json")
    Files.writeString(f, Json(Json.obj("workload" -> workload, "seed" -> seed,
      "by_name" -> Json.Obj(byName),
      "spans" -> spans.sortBy(_.startMs).map(s => Tracer.toJson(s, self(s.id))))))
    f
  }
}
