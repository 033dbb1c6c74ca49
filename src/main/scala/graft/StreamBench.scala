package graft

import java.nio.file.Files

import graft.engine.{ChangeGen, Scd2, SnapshotStore}
import graft.streaming.CdcStream

/** Measured end-to-end STREAMING ingestion throughput — the one
  * BASELINE row no round had numbers for: the reference lists
  * 10K+ rec/s @ 200–500 ms micro-batches as an *aspirational* target
  * (README.md:552-571) and ~330 rec/s sustained as its real batch rate
  * (100K records / 5.1 min, README.md:538). This harness times the
  * PRODUCTION stream — [[CdcStream.start]]: JSON change files →
  * op-aware SCD2 merge (stale guard, DELETE expiry) → atomic snapshot
  * publish per micro-batch, `maxFilesPerTrigger=1` so one file ≙ one
  * micro-batch — over two workload shapes:
  *
  *  - **bulk**: 100K records in 10 × 10K files (the reference's largest
  *    batch scale) — sustained rec/s;
  *  - **micro**: 20K records in 40 × 500 files — per-micro-batch
  *    latency, the regime the 200–500 ms aspiration names.
  *
  * Generation and file staging happen OUTSIDE the timed window; the
  * timed window is stream start → AvailableNow drain. Post-drain the
  * harness fail-louds unless the dim's current rows equal the batch
  * path's answer over the same files (the PipelineDemo agreement
  * check, so a "fast" stream that merged wrong cannot publish a
  * number). Results: `bench/STREAM_r18.md`. */
object StreamBench {

  import Harness.time

  private val K = "order_key"; private val TS = "cdc_timestamp"
  private val TIE = "change_id"

  def main(args: Array[String]): Unit = {
    val spark = Harness.session(32)

    for ((label, n, nKeys, files, perFile, mfpt) <- Seq(
        ("bulk_100k", 100000L, 5000, 10, 10000L, 1),
        ("micro_20k", 20000L, 2000, 40, 500L, 1),
        // the production dial: the SAME 40 arriving files coalesced
        // 8-per-trigger — what trigger tuning buys over micro_20k
        ("micro_20k_mfpt8", 20000L, 2000, 40, 500L, 8))) {
      val work = Files.createTempDirectory(s"stream_bench_$label").toString
      val changes = ChangeGen.changes(spark, n, nKeys, seed = 7)
      val nFiles = ChangeGen.writeBatchFiles(changes, TIE, files, perFile, work)
      val nRecs = changes.count() // NOOPs filtered: the real record count
      val schema = changes.schema
      val store = new SnapshotStore(spark, s"$work/dim")
      val (wall, batches) = time {
        val q = CdcStream.start(spark, s"$work/changes_*.json",
          s"$work/ckpt", store, schema, K, TS, TIE,
          opCol = Some("operation_type"), maxFilesPerTrigger = mfpt)
        q.awaitTermination()
        // the ACTUAL micro-batch count, from the query's own progress —
        // never a ceil(files/mfpt) prediction the engine may not match
        q.recentProgress.count(_.numInputRows > 0)
      }
      // correctness gate, FULL current-row payload: every source column
      // plus valid_from/valid_to/is_current must agree with the batch
      // merge — a stream that picks the right change per key but
      // corrupts a payload column must not publish a throughput.
      // version_no and cdc_operation are EXCLUDED by design: both
      // depend on how many micro-batches the history arrived in (the
      // one-shot reference merge applies last-per-key upsert semantics
      // → one version; the stream builds per-batch history → N), so
      // they are batch-granularity bookkeeping, not answers — the
      // Scd2Spec parity suite pins them against rebuild at fixed
      // granularity instead.
      val cols = Scd2.current(store.read().get).columns.sorted.toSeq
        .filterNot(c => c == "version_no" || c == "cdc_operation")
      val batchDim = Scd2.merge(
        Scd2.rebuild(changes.limit(0), K, TS, TIE),
        changes, K, TS, TIE, Some("operation_type"))
      val a = Scd2.current(store.read().get).select(cols.head, cols.tail: _*)
        .orderBy(K).collect().toSeq
      val b = Scd2.current(batchDim).select(cols.head, cols.tail: _*)
        .orderBy(K).collect().toSeq
      if (a != b) {
        val firstDiff = a.zip(b).zipWithIndex
          .collectFirst { case ((x, y), i) if x != y =>
            val c = cols.zipWithIndex.collectFirst {
              case (name, j) if x.get(j) != y.get(j) =>
                s"$name: stream=${x.get(j)} batch=${y.get(j)}"
            }.getOrElse("?")
            s"row $i ($c)\n  stream: $x\n  batch:  $y"
          }.getOrElse(s"row-count ${a.size} vs ${b.size}")
        sys.error(s"$label: streamed current rows disagree with the " +
          s"batch merge — refusing to report throughput for a wrong " +
          s"answer; first diff at $firstDiff")
      }
      val recsPerSec = nRecs / wall
      val perBatchMs = wall * 1000.0 / math.max(batches, 1)
      println(f"$label%-15s records=$nRecs%7d files=$nFiles%3d " +
        f"batches=$batches%3d wall=$wall%7.2fs " +
        f"throughput=$recsPerSec%9.0f rec/s " +
        f"per_microbatch=$perBatchMs%7.1f ms current_agrees=true")
    }

    // ── dim-size slope: whole-dim publish vs partition-scoped
    // incremental publish (dimBuckets), per-batch cost vs dim size ──
    // The r18 verdict's named scale-killer was the O(dim) per-batch
    // term of the whole-dim republish. This shape measures it and its
    // fix: the SAME hot-key trickle (10 files × 500 records over 32
    // keys — a handful of the 256 buckets per batch) merged into a
    // pre-seeded dim at 1× and 10×. Whole mode's per-batch cost must
    // grow with dim size; incremental's must track the CHANGED buckets.
    // Gate: at each dim size the two modes' final dims must agree
    // row-for-row (order-independent row-hash sum + count) — a fast
    // wrong merge reports nothing.
    val hot = ChangeGen.changes(spark, 5000, 32, seed = 7)
    val hotRecs = hot.count()
    // default 1×/10×; SPARK_GRAFT_SLOPE_SCALES=1,10,100 adds the
    // crossover point (100× seeds a ~5.4M-row dim — minutes of setup,
    // so it is opt-in rather than the per-round default)
    val scales = sys.env.getOrElse("SPARK_GRAFT_SLOPE_SCALES", "1,10")
      .split(",").toSeq.map(_.trim).filter(_.nonEmpty).map { t =>
        val v = try t.toInt catch {
          case _: NumberFormatException => sys.error(
            s"SPARK_GRAFT_SLOPE_SCALES: '$t' is not an integer scale")
        }
        // 0 would silently route the 'incremental' arm to the
        // whole-dim path (dimBuckets=0), mislabeling the comparison;
        // huge scales overflow the Int key-count multiply
        require(v >= 1 && v <= 1000,
          s"SPARK_GRAFT_SLOPE_SCALES: scale $v outside [1, 1000]")
        v
      }
    val perScale = scales.map { dimScale =>
      val seedChanges = ChangeGen.changes(spark, 60000L * dimScale,
        30000 * dimScale, seed = 3, startTs = "2024-01-01 00:00:00")
      val dim0 = Scd2.rebuild(seedChanges, K, TS, TIE)
      val dimRows = dim0.count()
      // bucket COUNT scales with the dim (fixed bucket SIZE) — the
      // sizing discipline a 100-TB deployment applies, and the reason
      // incremental per-batch cost stays flat as the dim grows: the
      // batch's ~32 hot keys touch ~the same number of same-sized
      // buckets at every scale
      val results = Seq(("whole", 0), ("incremental", 256 * dimScale)).map {
        case (mode, buckets) =>
          val work = Files
            .createTempDirectory(s"stream_slope_${mode}_$dimScale").toString
          ChangeGen.writeBatchFiles(hot, TIE, 10, 500, work)
          val store = new SnapshotStore(spark, s"$work/dim")
          if (buckets > 0) {
            // the _BUCKETS sidecar is the layout contract the stream
            // validates before taking the incremental path — a seed
            // without it would make batch 1 a full migration republish
            store.publish(
              CdcStream.clustered(CdcStream.bucketed(dim0, K, buckets)),
              Seq(CdcStream.BucketCol),
              Map(CdcStream.DimBucketsMeta -> buckets.toString))
          } else store.publish(dim0)
          val (wall, batches) = time {
            val q = CdcStream.start(spark, s"$work/changes_*.json",
              s"$work/ckpt", store, hot.schema, K, TS, TIE,
              opCol = Some("operation_type"), dimBuckets = buckets)
            q.awaitTermination()
            q.recentProgress.count(_.numInputRows > 0)
          }
          val d = store.read().get.drop(CdcStream.BucketCol)
          val cols = d.columns.sorted.toIndexedSeq
          // order-independent signature: count + bit-XOR of row hashes
          // (a sum overflows ANSI long arithmetic on 64-bit hashes)
          val sig = d.selectExpr("count(1)",
            s"bit_xor(xxhash64(${cols.map(c => s"`$c`").mkString(", ")}))")
            .head()
          val perBatchMs = wall * 1000.0 / math.max(batches, 1)
          println(f"slope_${mode}%-12s dim_rows=$dimRows%7d " +
            f"records=$hotRecs%5d batches=$batches%3d wall=$wall%7.2fs " +
            f"per_microbatch=$perBatchMs%7.1f ms")
          (mode, (sig.getLong(0), sig.getLong(1)), perBatchMs)
      }
      results.tail.foreach { r =>
        if (r._2 != results(0)._2)
          sys.error(s"dim-size slope at ${dimScale}x: whole and ${r._1} " +
            s"publish disagree (${results(0)._2} vs ${r._2}) — refusing " +
            "to report a wrong merge's cost")
      }
      (dimScale, dimRows, results(0)._3, results(1)._3)
    }
    perScale.foreach { case (s, rows, whole, inc) =>
      println(f"slope_summary   scale=${s}%2dx dim_rows=$rows%7d " +
        f"whole_per_batch=$whole%7.1f ms incremental_per_batch=$inc%7.1f ms")
    }
    spark.stop()
  }
}
