package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.engine.{ChangeGen, Compaction, Ledger, MetadataLog, SnapshotStore}

class PipelineSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  test("snapshot store publishes atomically and keeps versions for time travel") {
    val root = tmp("snap")
    val store = new SnapshotStore(spark, root)
    assert(store.read().isEmpty)
    val v0 = store.publish(Seq((1, "a")).toDF("k", "v"))
    val v1 = store.publish(Seq((1, "a"), (2, "b")).toDF("k", "v"))
    assert(v0 === 0L && v1 === 1L)
    assert(store.currentVersion().contains(1L))
    assert(store.read().get.count() === 2)
    assert(store.readVersion(0).count() === 1) // time travel
    assert(store.versions() === Seq(0L, 1L))
  }

  test("partitioned publish prunes reads at the partition level") {
    val root = tmp("snapp")
    val store = new SnapshotStore(spark, root)
    val df = (1 to 100).map(i => (i.toLong, s"2024-01-${"%02d".format(i % 5 + 1)}", s"v$i"))
      .toDF("k", "day", "v")
    val ver = store.publish(df, partitionBy = Seq("day"))
    val pruned = store.readVersion(ver).filter(col("day") === "2024-01-03")
    // the day predicate lands in PartitionFilters — directory-level
    // pruning, the 100 TB time-keyed layout
    val scan = pruned.queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("PartitionFilters") && scan.contains("2024-01-03"),
      s"expected partition pruning in:\n$scan")
    assert(pruned.count() === df.filter(col("day") === "2024-01-03").count())
    // the pointer protocol is unchanged: current version readable in full
    assert(store.read().get.count() === 100)
  }

  test("vacuum bounds time travel but never touches the published version") {
    val root = tmp("vac")
    val store = new SnapshotStore(spark, root)
    (1 to 5).foreach(i => store.publish(Seq((i, "x")).toDF("k", "v")))
    assert(store.versions() === Seq(0L, 1L, 2L, 3L, 4L))
    val dropped = store.vacuum(keepLast = 2)
    assert(dropped === Seq(0L, 1L, 2L))
    assert(store.versions() === Seq(3L, 4L))
    assert(store.currentVersion().contains(4L))
    assert(store.read().get.count() === 1)
    assert(store.readVersion(3).count() === 1) // retained history still readable
  }

  test("purgeKeys forgets a key across the WHOLE time-travel window: " +
    "current republished, every retained version rewritten, idempotent") {
    val root = tmp("purge_snap")
    val store = new SnapshotStore(spark, root)
    store.publish(Seq((1L, "a0"), (2L, "b0")).toDF("user_id", "v"))
    store.publish(Seq((1L, "a1"), (2L, "b1"), (3L, "c1"))
      .toDF("user_id", "v"))
    store.publish(Seq((1L, "a2"), (3L, "c2")).toDF("user_id", "v"))
    // vacuum alone CANNOT forget user 1: it lives in every retained
    // version — the reason the verb exists
    val rewritten = store.purgeKeys(Seq(1L).toDF("user_id"), "user_id")
    // a fresh current was published (v3) and all three historical dirs
    // rewrote in place
    assert(store.currentVersion().contains(3L))
    assert(rewritten.toSet === Set(3L, 0L, 1L, 2L))
    store.versions().foreach { v =>
      assert(store.readVersion(v).filter($"user_id" === 1L).count() === 0L,
        s"user 1 must be gone from version $v")
    }
    // everything else survives, per version
    assert(store.read().get.orderBy("user_id").as[(Long, String)]
      .collect().toSeq === Seq((3L, "c2")))
    assert(store.readVersion(1L).count() === 2L) // users 2, 3
    // idempotent: a replayed purge changes nothing (one more publish)
    store.purgeKeys(Seq(1L).toDF("user_id"), "user_id")
    assert(store.read().get.collect().toSeq.length === 1)
    // crash recovery: an unmarked temp (torn write) is discarded, a
    // marked temp is adopted as the authoritative purged copy — and a
    // lingering temp must not break version enumeration (vacuum and
    // the stream tick list through versions())
    val torn = java.nio.file.Paths.get(root, "v1._purge")
    java.nio.file.Files.createDirectories(torn)
    java.nio.file.Files.writeString(torn.resolve("part-junk"), "junk")
    assert(store.versions() === Seq(0L, 1L, 2L, 3L, 4L),
      "a staging temp is not a version")
    store.purgeKeys(Seq(99L).toDF("user_id"), "user_id") // absent key
    assert(!java.nio.file.Files.exists(torn),
      "a temp without _SUCCESS is a torn write and must be discarded")
    assert(store.readVersion(1L).count() === 2L)
    // an EMPTY key set short-circuits: no publish, no rewrites — the
    // scheduled compliance sweep with nothing queued costs nothing
    val before = store.currentVersion()
    assert(store.purgeKeys(Seq.empty[Long].toDF("user_id"), "user_id")
      .isEmpty)
    assert(store.currentVersion() === before)
    // ambiguous key input refuses loudly instead of purging the wrong
    // column (a silent compliance failure)
    assertThrows[IllegalArgumentException] {
      store.purgeKeys(Seq((5L, 1L)).toDF("request_id", "other"), "user_id")
    }
    // a multi-column keys table WITH the key column purges the right one
    store.purgeKeys(Seq((999L, 2L)).toDF("request_id", "user_id"),
      "user_id")
    store.versions().foreach { v =>
      assert(store.readVersion(v).filter($"user_id" === 2L).count() === 0L)
      assert(store.readVersion(v).filter($"user_id" === 999L).count() ===
        store.readVersion(v).filter($"user_id" === 999L).count()) // no-op sanity
    }
  }

  test("queued purge requests fold into ONE window rewrite per sweep") {
    val root = tmp("purge_queue")
    val store = new SnapshotStore(spark, root)
    store.publish(Seq((1L, "a0"), (2L, "b0"), (3L, "c0"), (4L, "d0"))
      .toDF("user_id", "v"))
    store.publish(Seq((1L, "a1"), (2L, "b1"), (3L, "c1"), (4L, "d1"))
      .toDF("user_id", "v"))
    // three erasure requests arrive between sweeps — each append is
    // O(|keys|), no version dir is touched yet
    assert(store.purgeQueueStats() ===
      store.PurgeQueueStats(0L, 0L, None), "fresh queue reads empty")
    val tEnq = System.currentTimeMillis()
    store.queuePurgeKeys(Seq(1L).toDF("user_id"), "user_id")
    store.queuePurgeKeys(Seq(2L).toDF("user_id"), "user_id")
    store.queuePurgeKeys(Seq(1L).toDF("user_id"), "user_id") // replayed
    assert(store.currentVersion().contains(1L),
      "enqueue must not rewrite anything")
    // SLA observability: depth + age of the oldest pending request —
    // the sweep scheduler's alert input (nothing else bounds queue age)
    val stats = store.purgeQueueStats()
    assert(stats.files === 3L && stats.keys === 3L)
    assert(stats.oldestEnqueueMs.exists(t =>
      t >= tEnq - 60000 && t <= System.currentTimeMillis()))
    // ONE scheduled sweep folds all three: exactly one fresh publish
    // (v2) and one rewrite of each retained historical dir
    val rewritten = store.purgeSweep("user_id")
    assert(rewritten.toSet === Set(2L, 0L, 1L))
    assert(store.currentVersion().contains(2L),
      "N queued requests must cost ONE window rewrite, not N")
    store.versions().foreach { v =>
      assert(store.readVersion(v)
        .filter($"user_id" === 1L || $"user_id" === 2L).count() === 0L,
        s"queued keys must be gone from version $v")
    }
    assert(store.read().get.orderBy("user_id").as[(Long, String)]
      .collect().toSeq === Seq((3L, "c1"), (4L, "d1")))
    // the consumed queue is cleared: the next sweep is the documented
    // nothing-queued no-op (no publish, no rewrites) — and the stats
    // read empty again (the SLA clock resets)
    assert(store.purgeQueueStats() === store.PurgeQueueStats(0L, 0L, None))
    assert(store.purgeSweep("user_id").isEmpty)
    assert(store.currentVersion().contains(2L))
    // requests arriving after a sweep fold into the next one
    store.queuePurgeKeys(Seq((77L, 3L)).toDF("request_id", "user_id"),
      "user_id")
    assert(store.purgeSweep("user_id").nonEmpty)
    store.versions().foreach { v =>
      assert(store.readVersion(v).filter($"user_id" === 3L).count() === 0L)
    }
    // ambiguous enqueue input refuses loudly, like purgeKeys itself
    assertThrows[IllegalArgumentException] {
      store.queuePurgeKeys(Seq((5L, 1L)).toDF("request_id", "other"),
        "user_id")
    }
    // a type-drifted enqueue is refused before it poisons the queue
    store.queuePurgeKeys(Seq(4L).toDF("user_id"), "user_id")
    assertThrows[IllegalArgumentException] {
      store.queuePurgeKeys(Seq("4").toDF("user_id"), "user_id")
    }
    // a NAME-drifted single-column enqueue is refused too: mixed column
    // names across queue files would mis-align the sweep's multi-file read
    assertThrows[IllegalArgumentException] {
      store.queuePurgeKeys(Seq(4L).toDF("uid"), "uid")
    }
    assert(store.purgeSweep("user_id").nonEmpty) // drain
    // the schema is a PERSISTED _SCHEMA sidecar, not a probe of a data
    // file: it survives the drain, so a drifted enqueue against the
    // now-EMPTY queue (where the old probe found nothing to conflict
    // with) is still refused — the r18-advice race is closed
    assertThrows[IllegalArgumentException] {
      store.queuePurgeKeys(Seq("5").toDF("user_id"), "user_id")
    }
    // legacy migration: a queue whose files predate the sidecar gets
    // its schema established FROM a queued file on the next enqueue
    store.queuePurgeKeys(Seq(6L).toDF("user_id"), "user_id")
    java.nio.file.Files.delete(
      java.nio.file.Paths.get(root, "_purge_queue", "_SCHEMA"))
    assertThrows[IllegalArgumentException] {
      store.queuePurgeKeys(Seq("7").toDF("user_id"), "user_id")
    }
    store.queuePurgeKeys(Seq(7L).toDF("user_id"), "user_id")
    assert(store.purgeSweep("user_id").nonEmpty)
  }

  test("vacuum adopts a crash-left purge temp — any maintenance verb " +
    "closes the compliance window, not only the next purge") {
    val root = tmp("vacuum_adopt")
    val store = new SnapshotStore(spark, root)
    store.publish(Seq((1L, "a0"), (2L, "b0")).toDF("user_id", "v"))
    store.publish(Seq((1L, "a1"), (2L, "b1")).toDF("user_id", "v"))
    // fabricate the crash: a completed purged rewrite of v0 (data +
    // _SUCCESS + the _PURGED adoption marker) whose swap never ran —
    // the live v0 still serves the UNPURGED copy
    val tmpDir = java.nio.file.Paths.get(root, "v0._purge")
    store.readVersion(0L).filter($"user_id" =!= 1L)
      .write.parquet(tmpDir.toString)
    java.nio.file.Files.createFile(tmpDir.resolve("_PURGED"))
    assert(store.readVersion(0L).filter($"user_id" === 1L).count() === 1L)
    // vacuum (dropping nothing) must adopt the purged copy
    assert(store.vacuum(keepLast = 10).isEmpty)
    assert(!java.nio.file.Files.exists(tmpDir), "temp must be consumed")
    assert(store.readVersion(0L).filter($"user_id" === 1L).count() === 0L,
      "vacuum must adopt the authoritative purged copy of v0")
    assert(store.readVersion(0L).count() === 1L)
  }

  test("purgeKeys preserves a partitioned version's hive layout") {
    val root = tmp("purge_part")
    val store = new SnapshotStore(spark, root)
    val df = (1 to 40).map(i => (i.toLong, s"2024-01-0${i % 4 + 1}", s"v$i"))
      .toDF("user_id", "day", "v")
    store.publish(df, partitionBy = Seq("day"))
    store.purgeKeys(Seq(3L).toDF("user_id"), "user_id")
    // both the rewritten historical dir and the fresh current keep the
    // day= directory layout (PartitionFilters pruning intact)
    store.versions().foreach { v =>
      val pruned = store.readVersion(v).filter(col("day") === "2024-01-03")
      val scan = pruned.queryExecution.executedPlan.collectLeaves().head
        .toString
      assert(scan.contains("PartitionFilters") && scan.contains("2024-01-03"),
        s"version $v lost partition pruning after the purge:\n$scan")
      assert(store.readVersion(v).filter(col("user_id") === 3L).count() === 0L)
    }
    assert(store.read().get.count() === 39L)
  }

  test("batch-file vacuum drops only aged change files, never other artifacts") {
    val dir = tmp("gc")
    val changes = ChangeGen.changes(spark, 40, 10, seed = 7)
    ChangeGen.writeBatchFiles(changes, "change_id", 4, 10, dir)
    // non-batch artifacts under the same root must survive any age
    Files.writeString(java.nio.file.Paths.get(dir, "running_changes.jsonl"), "{}\n")
    Files.writeString(java.nio.file.Paths.get(dir, "notes.txt"), "keep me")
    val old = java.nio.file.attribute.FileTime.fromMillis(1000L)
    // age two of the four batch files (and the decoys) far past retention
    Seq("changes_000.json", "changes_001.json", "running_changes.jsonl", "notes.txt")
      .foreach(n => Files.setLastModifiedTime(java.nio.file.Paths.get(dir, n), old))
    val now = System.currentTimeMillis()
    val dropped =
      ChangeGen.vacuumBatchFiles(dir, java.time.Duration.ofHours(24), now)
    assert(dropped === Seq("changes_000.json", "changes_001.json"))
    val left = Files.list(java.nio.file.Paths.get(dir))
    val names = try {
      import scala.jdk.CollectionConverters._
      left.iterator().asScala.map(_.getFileName.toString)
        .filterNot(_.startsWith("_stage_")).toSet
    } finally left.close()
    assert(names === Set("changes_002.json", "changes_003.json",
      "running_changes.jsonl", "notes.txt"))
    // idempotent: nothing else is old enough
    assert(ChangeGen.vacuumBatchFiles(dir, java.time.Duration.ofHours(24), now).isEmpty)
  }

  test("crash window between publish and ledger append is replay-safe") {
    // the reference has the same window (scd2_loader.py:523-538): commit
    // succeeded but the ledger append didn't — reprocessing the file must
    // be a semantic no-op thanks to merge idempotence (stale guard)
    import graft.engine.{Cdc, ChangeGen, Scd2}
    val store = new SnapshotStore(spark, tmp("crash") + "/dim")
    val batch = ChangeGen.changes(spark, 200, 30, seed = 5)
    val empty = Scd2.rebuild(batch.limit(0), "order_key", "cdc_timestamp", "change_id")
    store.publish(Scd2.merge(empty, batch, "order_key", "cdc_timestamp", "change_id"))
    val v1 = store.currentVersion().get
    val rows1 = store.read().get.orderBy("order_key", "version_no").collect().toSeq
    // crash before ledger append → orchestrator re-applies the same file
    store.publish(Scd2.merge(store.read().get, batch,
      "order_key", "cdc_timestamp", "change_id"))
    assert(store.currentVersion().get === v1 + 1) // a new version is written...
    assert(store.read().get.orderBy("order_key", "version_no").collect().toSeq
      === rows1) // ...but its content is identical
  }

  test("ledger: anti-join discovery and replay detection") {
    val path = tmp("ledger") + "/ledger"
    val ledger = new Ledger(spark, path)
    assert(!ledger.isProcessed("f1.json", "abc"))
    ledger.append("f1.json", "abc")
    assert(ledger.isProcessed("f1.json", "abc"))
    assert(!ledger.isProcessed("f1.json", "other")) // content changed → reprocess
    val candidates = Seq("f1.json", "f2.json").toDF("filename")
    val todo = ledger.unprocessed(candidates).as[String].collect()
    assert(todo.toSeq === Seq("f2.json"))
  }

  test("ledger compaction collapses per-append files, appends keep working") {
    import graft.engine.Compaction
    val path = tmp("ledger_c") + "/ledger"
    val ledger = new Ledger(spark, path)
    (1 to 10).foreach(i => ledger.append(s"f$i.json", s"h$i"))
    def files(): Int = {
      val p = java.nio.file.Paths.get(Compaction.resolve(path))
      val s = java.nio.file.Files.walk(p)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.count(_.toString.endsWith(".parquet"))
      } finally s.close()
    }
    assert(files() === 10, "one file per append before compaction")
    assert(!ledger.compact(maxFiles = 64), "below threshold → no-op")
    assert(ledger.compact(maxFiles = 4))
    assert(files() === 1, "compaction rewrites the ledger to one file")
    assert(ledger.read().count() === 10L, "no row lost across the swap")
    assert(ledger.isProcessed("f7.json", "h7"))
    // the lifecycle continues behind the pointer
    ledger.append("f11.json", "h11")
    assert(ledger.isProcessed("f11.json", "h11"))
    assert(ledger.read().count() === 11L)
  }

  test("metadata log: status events resolve last-write-wins, stats aggregate") {
    val path = tmp("meta") + "/runs"
    val log = new MetadataLog(spark, path)
    val t0 = java.sql.Timestamp.valueOf("2024-03-01 00:00:00")
    val t1 = java.sql.Timestamp.valueOf("2024-03-01 00:05:00")
    log.record("cdc_load", "run1", "running", 0, at = t0)
    log.record("cdc_load", "run1", "completed", 500,
      metricsJson = """{"batches":3}""", at = t1)
    log.record("cdc_load", "run2", "failed", 10, errorMessage = "boom", at = t1)
    val cur = log.currentRuns().select("run_id", "status")
      .as[(String, String)].collect().toMap
    assert(cur === Map("run1" -> "completed", "run2" -> "failed"))
    val s = log.stats(7).first()
    assert(s.getAs[Long]("n_runs") === 2L)
    assert(s.getAs[Long]("n_completed") === 1L)
    assert(s.getAs[Long]("n_failed") === 1L)
  }

  test("metadata log: buffered flush writes one file, compaction preserves events") {
    import java.nio.file.{Files, Paths}
    def partFiles(p: String): Int = {
      val s = Files.list(Paths.get(Compaction.resolve(p)))
      try s.filter(f => f.getFileName.toString.startsWith("part-")).count().toInt
      finally s.close()
    }
    // the second input tears one compaction after it wrote its version
    // and before the pointer swap, then carries on
    Seq(false, true).foreach { crashBeforeSwap =>
      val path = tmp("meta_c") + "/runs"
      val log = new MetadataLog(spark, path)
      val t = java.sql.Timestamp.valueOf("2024-03-01 00:00:00")
      def runs() = log.currentRuns().orderBy("run_id").collect().toSeq
      // immediate mode: one file per event (the tiny-files failure mode)
      (1 to 5).foreach(i => log.record("p", s"run$i", "completed", i.toLong, at = t))
      if (crashBeforeSwap) {
        val atCrash = runs()
        intercept[IllegalStateException] {
          Compaction.compactTable(spark, path, _.coalesce(1), force = true,
            beforePublish = _ => throw new IllegalStateException("crash"))
        }
        assert(Files.exists(Paths.get(path, "_v0")),
          "the torn compaction wrote its version")
        assert(runs() === atCrash,
          "a compaction torn before its swap must leave currentRuns unchanged")
      }
      log.record("p", "run6", "completed", 6L, at = t)
      assert(partFiles(path) === 6)

      // compaction rewrites the log without losing or reordering state
      val before = runs()
      val (was, now) = log.compact(targetFiles = 1)
      assert(was === 6 && now === 1)
      assert(runs() === before)
      assert(log.read().count() === 6L, "no event may be lost or doubled")

      // buffered mode: a whole batch of events lands as ONE appended file
      (7 to 9).foreach(i => log.recordBuffered("p", s"run$i", "running", 0, at = t))
      assert(partFiles(path) === 1) // nothing written yet
      log.flush()
      assert(partFiles(path) === 2)
      assert(log.currentRuns().count() === 9)
    }
  }

  test("salted join equals the plain join on skewed data") {
    import graft.engine.Skew
    // 90% of rows on one hot key
    val large = spark.range(10000)
      .select($"id".as("row_id"),
        when($"id" % 10 === 0, $"id" % 7).otherwise(lit(42L)).as("k"))
    val small = Seq((42L, "hot"), (0L, "a"), (1L, "b"), (2L, "c"),
      (3L, "d"), (4L, "e"), (5L, "f"), (6L, "g")).toDF("k", "v")
    val plain = large.join(small, "k").select("row_id", "v")
    val salted = Skew.saltedJoin(large, small, "k", 8, "row_id")
      .select("row_id", "v")
    assert(salted.orderBy("row_id").collect().toSeq ===
      plain.orderBy("row_id").collect().toSeq)
  }

  test("change generator is deterministic with the documented op mix") {
    val a = ChangeGen.changes(spark, 2000, 100, seed = 7)
    val b = ChangeGen.changes(spark, 2000, 100, seed = 7)
    assert(a.orderBy("change_id").collect().toSeq ===
      b.orderBy("change_id").collect().toSeq)
    val mix = a.groupBy("operation_type").count()
      .as[(String, Long)].collect().toMap
    assert(mix("INSERT") > 400 && mix("INSERT") < 800)   // ~30% of 2000
    assert(mix("UPDATE") > 600 && mix("UPDATE") < 1000)  // ~40%
    assert(mix("DELETE") > 250 && mix("DELETE") < 550)   // ~20%
    assert(!mix.contains("NOOP"))                        // ~10% no-op ticks emit nothing
    // generated column: total = quantity × price, exact decimal
    assert(a.filter($"total_amount" =!=
      ($"quantity" * $"unit_price").cast("decimal(10,2)")).count() === 0)
  }
}
