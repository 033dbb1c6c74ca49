package cdcbench

import scala.jdk.CollectionConverters._

import graft.engine.SnapshotStore

/** The per-layer metrics of a traced pass, named `<module>.<metric>`.
  * A metric that does not apply to a workload reads 0 (for example the
  * stream's trigger phases on history_reads, which applies its batches
  * without a stream). Latencies are medians over the pass's ops; "per
  * op" means divided by every timed op of the pass. */
object Layers {
  type M = (String, Double, String)

  def apply(w: Workload, p: Pass, untraced: Seq[Pass], tr: Tracer, store: SnapshotStore,
            root: java.nio.file.Path, setup: Seq[(Double, Double, Double, Double)], sessionS: Double,
            load0: Seq[Double]): (Seq[M], Seq[Span]) = {
    def med(xs: Iterable[Double]) = if (xs.isEmpty) 0.0 else Pct.median(xs.toSeq)
    def or0(d: Double) = if (d.isNaN || d.isInfinite) 0.0 else d
    val ops = math.max(p.attempted, 1L).toDouble
    val batchOp: Long => Long = b => p.batchOps.getOrElse(b, 0L)

    // Structured Streaming's own per-trigger durations
    def dur(k: String) = p.progress.map { case (_, pr, _) =>
      Option(pr.durationMs.get(k)).map(_.toDouble).getOrElse(0.0) }
    val trigger = dur("triggerExecution"); val addBatch = dur("addBatch")
    val stream = p.progress.nonEmpty
    val cdc = Seq[M](
      ("CdcStream.trigger_ms", med(trigger), "ms"),
      ("CdcStream.add_batch_ms", if (stream) med(addBatch) else med(p.applyMs), "ms"),
      ("CdcStream.source_ms", med(dur("latestOffset").zip(dur("getBatch")).map(x => x._1 + x._2)), "ms"),
      ("CdcStream.planning_ms", med(dur("queryPlanning")), "ms"),
      ("CdcStream.commit_ms", med(dur("walCommit").zip(dur("commitOffsets")).map(x => x._1 + x._2)), "ms"),
      ("CdcStream.overhead_ms", med(trigger.zip(addBatch).map(x => x._1 - x._2)), "ms"),
      ("CdcStream.poll_wait_ms", med(p.progress.map { case (_, pr, arr) =>
        w.progressTimestampMs(pr) - arr }), "ms"),
      ("CdcStream.batches", p.applied.size.toDouble, "count"),
      ("CdcStream.nodata_batches", p.noDataBatches.toDouble, "count"),
      ("CdcStream.rows_per_batch", med(p.applied.map(_.records.toDouble)), "count"))

    // Spark: planning phases, scheduling counts, task metrics
    val stages = tr.stages.synchronized(tr.stages.values.toList)
    val byOp = tr.stagesByOp(batchOp)
    val jobCount = tr.jobs.synchronized(tr.jobs.size)
    val phases = tr.phases.synchronized(tr.phases.toList)
    val cpuS = stages.map(_.cpuNs).sum / 1e9
    val spark = Seq[M](
      ("spark.analysis_ms", phases.map(_._1).sum / ops, "ms"),
      ("spark.optimization_ms", phases.map(_._2).sum / ops, "ms"),
      ("spark.planning_ms", phases.map(_._3).sum / ops, "ms"),
      ("spark.jobs_per_op", jobCount / ops, "count"),
      ("spark.stages_per_op", stages.size / ops, "count"),
      ("spark.tasks_per_op", stages.map(_.tasks).sum / ops, "count"),
      ("spark.sched_delay_ms", med(stages.flatMap(_.schedDelayMs)), "ms"),
      ("spark.executor_run_s", stages.map(_.runMs).sum / 1000.0, "s"),
      ("spark.executor_cpu_s", cpuS, "s"),
      ("spark.cpu_wall_ratio", cpuS / p.wallS, "ratio"),
      ("spark.shuffle_read_bytes", stages.map(_.shuffleRead).sum.toDouble, "bytes"),
      ("spark.shuffle_write_bytes", stages.map(_.shuffleWrite).sum.toDouble, "bytes"),
      ("spark.spill_bytes", stages.map(_.spill).sum.toDouble, "bytes"),
      ("spark.gc_s", stages.map(_.gcMs).sum / 1000.0, "s"),
      ("spark.output_bytes", stages.map(_.output).sum.toDouble, "bytes"))

    // SCD2 merge: counts from the staged inputs and the published store
    val recs = p.records.toDouble
    val scd2 = Seq[M](
      ("Scd2.changes_in", recs, "count"),
      ("Scd2.dedup_ratio", or0(p.applied.map(_.keys).sum / recs), "ratio"),
      ("Scd2.applied_ratio", or0(w.appliedRatio(store, p)), "ratio"),
      ("Scd2.dim_rows_before", w.dim.rows.toDouble, "count"),
      ("Scd2.merge_exec_s", med(p.batchOpIds.map(id => byOp.getOrElse(id, Nil)
        .filter(_.output == 0).map(_.runMs).sum / 1000.0)), "s"))

    val maint = (k: String) => p.maintMs.get(k).map(med(_)).getOrElse(0.0)
    val snap = Seq[M](
      ("SnapshotStore.bytes_written_per_batch", med(p.bytesPerBatch), "bytes"),
      ("SnapshotStore.files_written_per_batch", med(p.filesPerBatch), "count"),
      ("SnapshotStore.store_bytes", Inputs.dirBytes(root).toDouble, "bytes"),
      ("SnapshotStore.versions_live", store.versions().size.toDouble, "count"),
      ("SnapshotStore.read_ms", med(p.readMs), "ms"),
      ("SnapshotStore.files_scanned_per_query", med(p.filesScanned), "count"),
      ("SnapshotStore.materialize_ms", maint("materialize"), "ms"),
      ("SnapshotStore.vacuum_ms", maint("vacuum"), "ms"),
      ("SnapshotStore.bytes_rewritten", p.bytesRewritten.toDouble, "bytes"))

    val qt = (k: String) => p.queryByType.get(k).map(med(_)).getOrElse(0.0)
    val scanned = p.queryOpIds.flatMap(id => byOp.getOrElse(id, Nil)).map(_.inputRecords).sum
    val query = Seq[M](
      ("query.current_ms", qt("current"), "ms"),
      ("query.asof_ms", qt("asof"), "ms"),
      ("query.timeline_ms", qt("timeline"), "ms"),
      ("query.asof_join_ms", qt("asof_join"), "ms"),
      ("query.diff_ms", qt("diff"), "ms"),
      ("query.probe_ms", qt("probe"), "ms"),
      ("query.rows_scanned_per_row_returned",
        or0(scanned.toDouble / p.rowsReturned), "ratio"))

    val setupM = Seq[M](
      ("setup.session_s", sessionS, "s"),
      ("setup.publish_s", med(setup.map(_._1)), "s"),
      ("setup.warmup_batch_s", med(setup.map(_._2)), "s"),
      ("setup.publish_cpu_s", med(setup.map(_._3)), "s"),
      ("setup.warmup_batch_cpu_s", med(setup.map(_._4)), "s"))

    val ctx = Seq[M](
      ("proc.cpu_s", p.procCpuS, "s"),
      ("proc.load1_start", load0.headOption.getOrElse(0.0), "load"),
      ("proc.load1_end", Proc.loadavg().headOption.getOrElse(0.0), "load"),
      ("jvm.gc_s", p.gcS, "s"),
      ("jvm.heap_peak_mb", Proc.heapPeakMb(), "MB"))

    // the traced pass against the mean of the untraced passes run just
    // before and just after it, so JVM warm-up does not favour either side
    def ratio(f: Pass => Double) = or0(f(p) / (untraced.map(f).sum / untraced.size))
    def p50(xs: Iterable[Double]) = if (xs.isEmpty) Double.NaN else Pct.median(xs.toSeq)
    val overhead = Seq[M](
      ("trace.batch_p50_ratio", ratio(x => p50(x.batchMs)), "ratio"),
      ("trace.query_p50_ratio", ratio(x => p50(x.queryMs)), "ratio"),
      ("trace.ingest_rps_ratio", ratio(_.ingestRps), "ratio"))

    // a stream batch's jobs run inside its addBatch phase
    val phased = phaseSpans(w, p, tr)
    val addBatchOf = phased.filter(_.name == "CdcStream.addBatch").map(s => s.op -> s.id).toMap
    val jobs = tr.jobSpans(batchOp).map { j =>
      if (j.attrs.contains("stream_batch" -> -1L)) j
      else j.copy(parent = addBatchOf.getOrElse(j.op, j.parent))
    }
    (cdc ++ spark ++ scd2 ++ snap ++ query ++ setupM ++ ctx ++ overhead,
      tr.spans.synchronized(tr.spans.toList) ++ phased ++ jobs)
  }

  /** The stream's trigger phases as child spans of each batch, laid out
    * in execution order from the trigger's start (Structured Streaming
    * reports their durations, not their start times). */
  private def phaseSpans(w: Workload, p: Pass, tr: Tracer): Seq[Span] =
    p.progress.toSeq.flatMap { case (op, pr, arrival) =>
      val start = w.progressTimestampMs(pr)
      val d = pr.durationMs.asScala.map { case (k, v) => k -> v.toDouble }
      val wait = Span(tr.nextId(), "CdcStream.poll_wait", arrival, start, op, op)
      val order = Seq("latestOffset", "walCommit", "getBatch", "queryPlanning",
        "addBatch", "commitOffsets")
      val phases = order.filter(d.contains).scanLeft((start, Option.empty[Span])) {
        case ((t, _), k) => (t + d(k),
          Some(Span(tr.nextId(), s"CdcStream.$k", t, t + d(k), op, op)))
      }.flatMap(_._2)
      wait +: phases
    }
}
