package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.engine.{Compaction, StoredIndexes, Tables}
import graft.ops.{DedupOps, SimilarityOps, TextOps}

/** The build-once staging root's concurrency and keying contracts, plus
  * the small-file compaction lifecycle for the four stored-index
  * families: N append-only merges accumulate files, compaction rewrites
  * them behind the atomic version pointer, and every query result stays
  * bit-identical across the swap. */
class StoredIndexesSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  /** The rows of a drift log's live version, as sorted (n, mean_d2). */
  private def driftRows(log: String): Seq[(Long, Double)] =
    spark.read.parquet(Compaction.resolve(log))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).sorted.toSeq

  /** The one partial a drift-log collapse must produce from `rows`:
    * Σn and the n-weighted mean. */
  private def assertCollapsedFrom(collapsed: Seq[(Long, Double)],
                                  rows: Seq[(Long, Double)], clue: String): Unit = {
    val n = rows.map(_._1).sum
    val wm = rows.map { case (ni, mi) => mi * ni }.sum / n.toDouble
    assert(collapsed.length === 1 && collapsed.head._1 === n &&
      math.abs(collapsed.head._2 - wm) < 1e-12, clue)
  }

  private def parquetFiles(dir: String): Int = {
    val p = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(p)) return 0
    val s = java.nio.file.Files.walk(p)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.count(_.toString.endsWith(".parquet"))
    } finally s.close()
  }

  test("fingerprint index: merges accumulate files, compact collapses them, " +
    "queries bit-identical, post-compact merges still absorb") {
    val path = java.nio.file.Files.createTempDirectory("cmp_fp").toString
    def doc(id: Long, tag: String) =
      (id, (1 to 50).map(j => s"$tag$j").mkString(" "))
    DedupOps.buildFingerprintIndex(
      Seq(doc(1, "aa"), doc(2, "bb")).toDF("doc_id", "text"), path)
    (3 to 8).foreach { i =>
      DedupOps.mergeFingerprintIndex(
        Seq(doc(i.toLong, s"m$i")).toDF("doc_id", "text"), path)
    }
    // probe: a near-dup of merged doc 5's text
    val probe = Seq(doc(99, "m5")).toDF("doc_id", "text")
    def screen() = DedupOps.queryFingerprintIndex(spark, path, probe)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSet
    val before = screen()
    assert(before.exists(_._2 == 5L), "probe must hit merged doc 5")
    val filesBefore = parquetFiles(Compaction.resolve(s"$path/postings"))
    assert(filesBefore > 4, s"merges must accumulate files (got $filesBefore)")

    assert(Compaction.compactIndex(spark, path, "fingerprint",
      maxFilesPerPartition = 2))
    assert(Compaction.resolve(s"$path/postings") === s"$path/postings/_v0",
      "compaction must publish a versioned dir behind the pointer")
    val filesAfter = parquetFiles(Compaction.resolve(s"$path/postings"))
    assert(filesAfter < filesBefore,
      s"compaction must collapse files ($filesBefore -> $filesAfter)")
    assert(screen() === before, "screen results must be bit-identical")

    // the lifecycle continues: merges append into the live version and
    // a second compaction publishes v1
    (10 to 16).foreach { i =>
      DedupOps.mergeFingerprintIndex(
        Seq(doc(i.toLong, s"m$i")).toDF("doc_id", "text"), path)
    }
    val probe2 = Seq(doc(98, "m12")).toDF("doc_id", "text")
    assert(DedupOps.queryFingerprintIndex(spark, path, probe2)
      .collect().exists(_.getLong(1) == 12L),
      "post-compact merges must be screen-visible")
    assert(Compaction.compactIndex(spark, path, "fingerprint",
      maxFilesPerPartition = 2))
    assert(Compaction.resolve(s"$path/postings") === s"$path/postings/_v1")
    assert(DedupOps.queryFingerprintIndex(spark, path, probe2)
      .collect().exists(_.getLong(1) == 12L))

    // retention: superseded versions (and the original plain files) stay
    // on disk for in-flight readers until vacuum — then only the live
    // version remains, and queries are untouched
    assert(parquetFiles(s"$path/postings") >
      parquetFiles(s"$path/postings/_v1"),
      "pre-vacuum the table dir still holds superseded data")
    val removed = Compaction.vacuumIndex(path, "fingerprint")
    assert(removed.nonEmpty)
    assert(parquetFiles(s"$path/postings") ===
      parquetFiles(s"$path/postings/_v1"),
      "vacuum must leave exactly the live version's files")
    assert(DedupOps.queryFingerprintIndex(spark, path, probe2)
      .collect().exists(_.getLong(1) == 12L))
  }

  test("bm25 index: compact is a below-threshold no-op, then collapses " +
    "merge debt with bit-identical scores") {
    val path = java.nio.file.Files.createTempDirectory("cmp_bm").toString
    TextOps.buildBm25Index(
      Seq((1L, "spark shuffles data"), (2L, "ducks like water"))
        .toDF("doc_id", "text"), path)
    // a fresh build has no append debt: nothing to compact
    assert(!Compaction.compactIndex(spark, path, "bm25",
      maxFilesPerPartition = 8))
    (3 to 9).foreach { i =>
      TextOps.mergeBm25Index(
        Seq((i.toLong, s"spark query number$i water")).toDF("doc_id", "text"),
        path)
    }
    def topk() = TextOps.queryBm25Index(spark, path, Seq("spark", "water"), 5)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val before = topk()
    val filesBefore = parquetFiles(Compaction.resolve(s"$path/postings"))
    assert(Compaction.compactIndex(spark, path, "bm25",
      maxFilesPerPartition = 2))
    assert(parquetFiles(Compaction.resolve(s"$path/postings")) < filesBefore)
    assert(topk() === before, "BM25 scores must be bit-identical")
  }

  test("ivf index: compaction collapses every cell dir to one file and " +
    "keeps the pruned probe bit-identical") {
    val e = Tables.embeddings(spark, sfDir)
    val path = java.nio.file.Files.createTempDirectory("cmp_ivf").toString
    SimilarityOps.buildIvfIndex(e.filter($"vec_id" % 4 === 0L), path)
    (1L to 3L).foreach { r =>
      SimilarityOps.mergeIvfIndex(e.filter($"vec_id" % 4 === r), path)
    }
    val qv = e.filter($"vec_id" === 0L)
      .select(SimilarityOps.asDoubleVec($"embedding")).head().getSeq[Double](0)
    def probe() = SimilarityOps.queryIvfIndex(spark, path, qv, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
    val before = probe()
    assert(Compaction.compactIndex(spark, path, "ivf",
      maxFilesPerPartition = 1))
    val perCell = Compaction.filesPerPartition(s"$path/assignments")
    assert(perCell.nonEmpty && perCell.valuesIterator.max === 1,
      s"each cell dir must hold one file after compaction (got $perCell)")
    assert(probe() === before, "IVF probe must be bit-identical")
  }

  test("maintenance tick collapses the per-merge drift sidecar without " +
    "changing the retrain signal") {
    val e = Tables.embeddings(spark, sfDir)
    val path = java.nio.file.Files.createTempDirectory("cmp_mlog").toString
    SimilarityOps.buildIvfIndex(e.filter($"vec_id" % 8 === 0L), path)
    (1L to 6L).foreach { r =>
      SimilarityOps.mergeIvfIndex(e.filter($"vec_id" % 8 === r), path)
    }
    def mlog = Compaction.resolve(s"$path/merge_log")
    assert(parquetFiles(mlog) === 6,
      "each merge must have appended one drift file")
    val rowsBefore = spark.read.parquet(mlog)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val retrainBefore = SimilarityOps.shouldRetrain(spark, path)
    Compaction.maintainIndex(spark, path, "ivf", maxFilesPerPartition = 4)
    assert(parquetFiles(mlog) === 1,
      "the tick must collapse the drift log to one file")
    // the collapse AGGREGATES (the signal is distributive): one partial
    // row carrying Σn and the n-weighted mean — O(1) rows on a
    // long-running stream instead of one per merge forever
    val collapsed = spark.read.parquet(mlog)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(collapsed.length === 1,
      "collapse must reduce the per-merge rows to one partial")
    val n = rowsBefore.map(_._1).sum
    val wm = rowsBefore.map { case (ni, mi) => mi * ni }.sum / n.toDouble
    assert(collapsed.head._1 === n &&
      math.abs(collapsed.head._2 - wm) < 1e-12,
      "the partial must carry the exact sum and weighted mean")
    assert(SimilarityOps.shouldRetrain(spark, path) === retrainBefore)
    // below the threshold the next tick leaves it alone
    Compaction.maintainIndex(spark, path, "ivf", maxFilesPerPartition = 4)
    assert(parquetFiles(mlog) === 1)
  }

  test("fingerprint tombstones: immediate screen, forced physical " +
    "rewrite across BOTH tables, guarded re-insert") {
    val path = java.nio.file.Files.createTempDirectory("fp_tomb").toString
    def doc(id: Long, tag: String) =
      (id, (1 to 50).map(j => s"$tag$j").mkString(" "))
    DedupOps.buildFingerprintIndex(
      Seq(doc(1, "ta"), doc(2, "tb")).toDF("doc_id", "text"), path)
    val probe = Seq(doc(99, "ta")).toDF("doc_id", "text") // near-dup of 1
    def hits() = DedupOps.queryFingerprintIndex(spark, path, probe)
      .select("doc_old").collect().map(_.getLong(0)).toSet
    assert(hits() === Set(1L))
    DedupOps.tombstoneFingerprintIndex(Seq(1L).toDF("doc_id"), path)
    assert(hits() === Set.empty[Long],
      "a tombstoned doc must stop matching before the rewrite")
    val e = intercept[IllegalArgumentException] {
      DedupOps.mergeFingerprintIndex(
        Seq(doc(1, "ta")).toDF("doc_id", "text"), path)
    }
    assert(e.getMessage.contains("tombstoned"))
    // forced rewrite (fresh build has zero file debt) + tombstone clear
    assert(Compaction.compactIndex(spark, path, "fingerprint"),
      "pending tombstones must force the rewrite")
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$path/tombstones")))
    assert(spark.read.parquet(Compaction.resolve(s"$path/postings"))
      .filter($"doc_id" === 1L).count() === 0L)
    assert(spark.read.parquet(Compaction.resolve(s"$path/sizes"))
      .filter($"doc_id" === 1L).count() === 0L,
      "BOTH tables must drop the tombstoned id")
    // delete + reinsert, CDC-style, now lands
    DedupOps.mergeFingerprintIndex(
      Seq(doc(1, "ta")).toDF("doc_id", "text"), path)
    assert(hits() === Set(1L))
  }

  test("sidecar crash recovery: a partial live dir never wins over a " +
    "completed rewrite") {
    val e = Tables.embeddings(spark, sfDir)
    val path = java.nio.file.Files.createTempDirectory("cmp_mlog_crash").toString
    SimilarityOps.buildIvfIndex(e.filter($"vec_id" % 8 === 0L), path)
    (1L to 6L).foreach { r =>
      SimilarityOps.mergeIvfIndex(e.filter($"vec_id" % 8 === r), path)
    }
    val log = s"$path/merge_log"
    val merged = driftRows(log)
    // the tick swaps the pointer to the collapsed version; the plain
    // per-merge files at the log root are now the superseded version
    Compaction.maintainIndex(spark, path, "ivf", maxFilesPerPartition = 4)
    val history = driftRows(log)
    assertCollapsedFrom(history, merged,
      "the collapsed version must carry the exact sum and weighted mean")
    val retrain = SimilarityOps.shouldRetrain(spark, path)
    // crash window: the next tick's vacuum died midway, leaving the
    // superseded version PARTIALLY deleted
    val superseded = new java.io.File(log).listFiles()
      .filter(_.getName.endsWith(".parquet"))
    assert(superseded.length > 2)
    superseded.take(superseded.length / 2).foreach(f => assert(f.delete()))
    assert(driftRows(log) === history,
      "a partly deleted superseded version must never reach a reader")
    assert(SimilarityOps.shouldRetrain(spark, path) === retrain)
    // the restarted tick finishes the vacuum; the history stays exact
    Compaction.maintainIndex(spark, path, "ivf", maxFilesPerPartition = 4)
    assert(driftRows(log) === history,
      "recovery must keep the full drift history of the live version")
    assert(!new java.io.File(log).listFiles()
      .exists(_.getName.endsWith(".parquet")),
      "the superseded version must be fully reaped")
  }

  test("hash-index tombstones: immediate logical delete, physical at " +
    "the tick, re-insert guarded until served") {
    import graft.ops.{DedupOps, Multimodal}
    val path = java.nio.file.Files.createTempDirectory("hidx_tomb").toString
    val sk = Multimodal.imageAHash(Seq(
      (1L, Multimodal.syntheticPng(1L, 8, 8)),
      (2L, Multimodal.syntheticPng(2L, 12, 10)),
      (3L, Multimodal.syntheticPng(3L, 10, 14))).toDF("doc_id", "payload"))
    DedupOps.buildHashIndex(sk, path)
    // a raster-identical probe of doc 1 (mod-256 twin) matches...
    val probe = Multimodal.imageAHash(
      Seq((257L, Multimodal.syntheticPng(257L, 8, 8))).toDF("doc_id", "payload"))
    def hitIds() = DedupOps.queryHashIndex(spark, probe, path, maxDist = 0)
      .select("doc_old").collect().map(_.getLong(0)).toSet
    assert(hitIds() === Set(1L))
    // ...until doc 1 is tombstoned: the delete screens IMMEDIATELY,
    // before any rewrite
    DedupOps.tombstoneHashIndex(Seq(1L).toDF("doc_id"), path)
    assert(hitIds() === Set.empty[Long],
      "a tombstoned id must stop matching before the compaction")
    // re-inserting the deleted id before the tick is refused loudly
    val e = intercept[IllegalArgumentException] {
      DedupOps.mergeHashIndex(sk.filter($"doc_id" === 1L), path)
    }
    assert(e.getMessage.contains("tombstoned"))
    // the tick makes the deletion physical (forced rewrite — no file
    // debt needed) and clears the served tombstones
    assert(Compaction.maintainIndex(spark, path, "ahash"),
      "pending tombstones must force the rewrite")
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$path/tombstones")))
    assert(spark.read.parquet(Compaction.resolve(s"$path/bands"))
      .filter($"doc_id" === 1L).count() === 0L,
      "the band rows must be physically gone")
    // after the tick the id may return (delete + reinsert, CDC-style)
    DedupOps.mergeHashIndex(sk.filter($"doc_id" === 1L), path)
    assert(hitIds() === Set(1L))
  }

  test("sidecar crash recovery: a fresh drift row appended after the " +
    "crash survives the next tick (recovery-first append)") {
    // crash mid-collapse (the collapsed next version written, the
    // pointer not swapped) -> stream restarts and appends a FRESH drift
    // row -> next tick. The orphan version never held the fresh row, so
    // the tick must rewrite from the live version, never adopt it.
    val e = Tables.embeddings(spark, sfDir)
    val path = java.nio.file.Files.createTempDirectory("cmp_mlog_fresh").toString
    SimilarityOps.buildIvfIndex(e.filter($"vec_id" % 8 === 0L), path)
    (1L to 6L).foreach { r =>
      SimilarityOps.mergeIvfIndex(e.filter($"vec_id" % 8 === r), path)
    }
    val log = s"$path/merge_log"
    val preCrash = driftRows(log)
    import org.apache.spark.sql.functions.sum
    // crash window: the collapse wrote `_v0` and died before the swap
    intercept[IllegalStateException] {
      Compaction.compactTable(spark, log,
        _.agg(sum("n").cast("long").as("n"),
          (sum($"mean_d2" * $"n".cast("double")) /
            sum($"n".cast("double"))).as("mean_d2")).coalesce(1),
        force = true,
        beforePublish = _ => throw new IllegalStateException("crash"))
    }
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(log, "_v0")),
      "the crash leaves the collapsed version written")
    assert(Compaction.resolve(log) === log, "...but never published")
    // restarted stream appends fresh drift (merge #7) to the live version
    SimilarityOps.mergeIvfIndex(e.filter($"vec_id" % 8 === 7L), path)
    val live = driftRows(log)
    assert(live.length === preCrash.length + 1,
      "the fresh post-crash drift row must land beside the pre-crash rows")
    assert(preCrash.forall(live.contains))
    // the next maintenance tick must keep ALL SEVEN rows
    Compaction.maintainIndex(spark, path, "ivf", maxFilesPerPartition = 4)
    assertCollapsedFrom(driftRows(log), live,
      "the tick must fold the fresh row and the full pre-crash history")
  }

  test("sidecar crash recovery: a sole-survivor tmp without _SUCCESS is " +
    "adopted, never deleted") {
    // a committer configured without markers (marksuccessfuljobs=false)
    // publishes a live version with no _SUCCESS; the pointer, not the
    // marker, is what makes it live, so nothing may discard it
    val e = Tables.embeddings(spark, sfDir)
    val path = java.nio.file.Files.createTempDirectory("cmp_mlog_nomark").toString
    SimilarityOps.buildIvfIndex(e.filter($"vec_id" % 8 === 0L), path)
    (1L to 6L).foreach { r =>
      SimilarityOps.mergeIvfIndex(e.filter($"vec_id" % 8 === r), path)
    }
    val log = s"$path/merge_log"
    val rows = driftRows(log)
    val conf = spark.sparkContext.hadoopConfiguration
    val marker = "mapreduce.fileoutputcommitter.marksuccessfuljobs"
    val prior = Option(conf.get(marker))
    conf.setBoolean(marker, false)
    try Compaction.maintainIndex(spark, path, "ivf", maxFilesPerPartition = 4)
    finally prior.fold(conf.unset(marker))(conf.set(marker, _))
    val live = Compaction.resolve(log)
    assert(live !== log, "the tick must have published a version")
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(live, "_SUCCESS")),
      "the committer must have written no marker")
    val collapsed = driftRows(log)
    assertCollapsedFrom(collapsed, rows,
      "the marker-less version must carry the exact sum and weighted mean")
    Compaction.maintainIndex(spark, path, "ivf", maxFilesPerPartition = 4)
    Compaction.vacuumIndex(path, "ivf")
    assert(Compaction.resolve(log) === live && driftRows(log) === collapsed,
      "neither the tick nor vacuum may delete the marker-less live version")
  }

  test("a _CURRENT pointer with trailing lines reads as its first line " +
    "in both SnapshotStore and Compaction") {
    val root = java.nio.file.Files.createTempDirectory("ptr_lines")
    java.nio.file.Files.writeString(root.resolve("_CURRENT"),
      "3\nwritten-by: a later format")
    assert(new graft.engine.SnapshotStore(spark, root.toString)
      .currentVersion() === Some(3L))
    assert(Compaction.resolve(root.toString) === s"$root/_v3")
  }

  test("publishVersion over a torn attempt's orphan version dir " +
    "publishes a version without the orphan's files") {
    import java.nio.file.{Files, Paths}
    val table = Files.createTempDirectory("ptr_orphan").toString
    // a publish that crashed before its swap left `_v0` with a stray file
    Files.createDirectories(Paths.get(table, "_v0"))
    Files.writeString(Paths.get(table, "_v0", "stray.txt"), "torn")
    // a writer that fills only subdirs, as the stored tokenizer does
    Compaction.publishVersion(table) { dir =>
      Seq(1L, 2L).toDF("id").coalesce(1).write.parquet(s"$dir/rules")
    }
    val live = Compaction.resolve(table)
    assert(live === s"$table/_v0")
    assert(!Files.exists(Paths.get(live, "stray.txt")),
      "the orphan's stray file must not survive into the published version")
    assert(spark.read.parquet(s"$live/rules").count() === 2L)
  }

  test("ivfpq index: merges append to cells, compaction keeps the pruned " +
    "ADC probe bit-identical, drift log feeds the rebuild signal") {
    val e = Tables.embeddings(spark, sfDir)
    val path = java.nio.file.Files.createTempDirectory("cmp_ivfpq").toString
    SimilarityOps.buildIvfPqIndex(e.filter($"vec_id" % 4 === 0L), path)
    val filesAfterBuild = Compaction.filesPerPartition(s"$path/codes").values.sum
    (1L to 3L).foreach { r =>
      SimilarityOps.mergeIvfPqIndex(e.filter($"vec_id" % 4 === r), path)
    }
    // append-only merges accumulate small files and drift rows
    assert(Compaction.filesPerPartition(s"$path/codes").values.sum > filesAfterBuild)
    assert(parquetFiles(Compaction.resolve(s"$path/merge_log")) === 3)
    val qv = e.filter($"vec_id" === 0L)
      .select(SimilarityOps.asDoubleVec($"embedding")).head().getSeq[Double](0)
    def probe() = SimilarityOps.queryIvfPqIndex(spark, path, qv, 10,
      nprobe = 2, excludeIds = Seq(0L))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val before = probe()
    assert(before.nonEmpty)
    assert(Compaction.maintainIndex(spark, path, "ivfpq",
      maxFilesPerPartition = 1))
    val perCell = Compaction.filesPerPartition(s"$path/codes")
    assert(perCell.nonEmpty && perCell.valuesIterator.max === 1,
      s"each cell dir must hold one file after compaction (got $perCell)")
    assert(probe() === before, "ADC scores must be bit-identical")
    assert(parquetFiles(Compaction.resolve(s"$path/merge_log")) === 1,
      "the tick must collapse the drift sidecar")
    // the composite's rebuild decision rides the PQ distortion signal
    assert(!SimilarityOps.shouldRetrainPq(spark, path),
      "a same-distribution feed must not trip the rebuild signal")
  }

  test("vocab view: disjoint merges re-sum to the full corpus, compaction " +
    "re-aggregates partials without changing the answer") {
    val docs = Tables.documents(spark, sfDir)
    val path = java.nio.file.Files.createTempDirectory("vocab_mv").toString
    TextOps.buildVocabIndex(docs.filter($"doc_id" % 3 === 0L), path)
    val filesAfterBuild = Compaction.filesPerPartition(s"$path/counts").values.sum
    (1L to 2L).foreach { r =>
      TextOps.mergeVocabIndex(docs.filter($"doc_id" % 3 === r), path)
    }
    assert(Compaction.filesPerPartition(s"$path/counts").values.sum
      > filesAfterBuild, "each merge appends its partials")
    def top() = TextOps.queryVocabTopK(spark, path, 50)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    // the re-summed view over the disjoint union equals the one-shot
    // full-corpus aggregate
    val full = TextOps.vocabTopK(docs, 50)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(top() === full)
    // compaction re-aggregates: rows collapse toward one per word, the
    // view's answer is unchanged
    assert(Compaction.maintainIndex(spark, path, "vocab",
      maxFilesPerPartition = 1))
    assert(top() === full, "re-aggregated partials must re-sum identically")
    val rows = spark.read.parquet(Compaction.resolve(s"$path/counts"))
    assert(rows.groupBy("word").count()
      .filter(org.apache.spark.sql.functions.col("count") > 1).count() === 0L,
      "post-compaction: one partial row per word")
  }

  test("hll view: absorb-order-invariant estimates within tolerance, " +
    "compaction collapses partials without changing the answer") {
    import org.apache.spark.sql.functions.{abs => fabs, col, countDistinct}
    val ev = Tables.events(spark, sfDir)
    def buildAt(order: Seq[Long]): String = {
      val p = java.nio.file.Files.createTempDirectory("hll_mv").toString
      graft.engine.Stats.buildDistinctView(
        ev.filter($"event_id" % 3 === order.head), "event_type", "user_id", p)
      order.tail.foreach { r =>
        graft.engine.Stats.mergeDistinctView(
          ev.filter($"event_id" % 3 === r), "event_type", "user_id", p)
      }
      p
    }
    val path = buildAt(Seq(0L, 1L, 2L))
    def est(p: String) = graft.engine.Stats
      .queryDistinctView(spark, p, "event_type")
      .collect().map(r => (r.getString(0), r.getLong(1))).sortBy(_._1).toSeq
    val e1 = est(path)
    // every group's view estimate is within 5 % of the exact count
    val exact = ev.groupBy("event_type").agg(countDistinct("user_id"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    e1.foreach { case (t, a) =>
      assert(math.abs(a.toDouble - exact(t)) / exact(t) <= 0.05, s"group $t") }
    // HLL union is register-max — absorb order cannot change the answer
    assert(est(buildAt(Seq(2L, 0L, 1L))) === e1)
    // compaction re-unions partials to one row per group, same estimates
    val before = Compaction.filesPerPartition(s"$path/sketches").values.sum
    assert(Compaction.maintainIndex(spark, path, "hll",
      maxFilesPerPartition = 1))
    assert(Compaction.filesPerPartition(s"$path/sketches").values.sum
      < before, "partial sketch files collapse")
    assert(est(path) === e1, "re-unioned partials must estimate identically")
    val rows = spark.read.parquet(Compaction.resolve(s"$path/sketches"))
    assert(rows.groupBy("grp").count()
      .filter(col("count") > 1).count() === 0L,
      "post-compaction: one sketch row per group")
    // the view still absorbs after the rewrite: fresh keys raise counts
    val extra = spark.range(500, 900)
      .select(org.apache.spark.sql.functions.lit("purchase").as("event_type"),
        $"id".as("user_id"))
    graft.engine.Stats.mergeDistinctView(extra, "event_type", "user_id", path)
    val e2 = est(path).toMap
    assert(e2("purchase") > e1.toMap.apply("purchase"))
    // a rebuild-from-scratch clears a pending _retracted marker: the
    // fresh view IS consistent, so it must not report stale (and must
    // not force-fold a just-built table at the next tick)
    graft.engine.Stats.retractDistinctView(
      ev.filter($"event_id" % 7 === 0), "event_type", "user_id", path)
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$path/_retracted")))
    graft.engine.Stats.buildDistinctView(ev, "event_type", "user_id", path)
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$path/_retracted")),
      "a from-scratch rebuild must clear the pending staleness marker")
    assert(!graft.engine.Stats.queryDistinctView(spark, path, "event_type")
      .select("stale").head().getBoolean(0),
      "the rebuilt view must not report stale")
    // untouched groups keep their exact pre-merge estimates
    e1.toMap.removed("purchase").foreach { case (t, a) => assert(e2(t) === a) }
  }

  test("stored-view LM scoring: equals inline on full coverage, floors OOV, " +
    "raises on a negative-netting view") {
    val docs = Tables.documents(spark, sfDir)
    val path = java.nio.file.Files.createTempDirectory("vocab_lm").toString
    TextOps.buildVocabIndex(docs.filter($"doc_id" % 2 === 0L), path)
    TextOps.mergeVocabIndex(docs.filter($"doc_id" % 2 === 1L), path)
    // full coverage → bit-identical to the inline corpus-as-LM score
    val stored = TextOps.lmScoreStored(spark, docs, path)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq.sorted
    val inline = TextOps.lmScore(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq.sorted
    assert(stored === inline)
    // a batch with words the view has never seen scores at the OOV
    // floor ln(1/N) — strictly below every in-view word's log-prob
    val n = spark.read.parquet(Compaction.resolve(s"$path/counts"))
      .agg(org.apache.spark.sql.functions.sum("tf")).head().getLong(0).toDouble
    val floor = BigDecimal(math.log(1.0 / n))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val oov = Seq((900001L, "qqqqz wwwwz qqqqz")).toDF("doc_id", "text")
    val got = TextOps.lmScoreStored(spark, oov, path).collect().head
    assert(got.getLong(1) === 3L)
    assert(got.getDouble(2) === floor)
    // retraction without its absorb nets negative → the read raises
    TextOps.retractVocabIndex(
      Seq((900002L, "zzzzqy zzzzqy")).toDF("doc_id", "text"), path)
    val ex = intercept[Exception] {
      TextOps.lmScoreStored(spark, docs, path).collect()
    }
    assert(ex.getMessage.contains("netted negative"))
  }

  test("stored-view BPE pairs equal inline, and track retraction") {
    val docs = Tables.documents(spark, sfDir)
    val path = java.nio.file.Files.createTempDirectory("vocab_bpe").toString
    TextOps.buildVocabIndex(docs.filter($"doc_id" % 2 === 0L), path)
    TextOps.mergeVocabIndex(docs.filter($"doc_id" % 2 === 1L), path)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(pairs(TextOps.bpePairCountsStored(spark, path, 30))
      === pairs(TextOps.bpePairCounts(docs, 30)))
    // retract half the corpus: the view-backed counts follow, with no
    // corpus re-scan on the training side
    TextOps.retractVocabIndex(docs.filter($"doc_id" % 2 === 1L), path)
    assert(pairs(TextOps.bpePairCountsStored(spark, path, 30))
      === pairs(TextOps.bpePairCounts(docs.filter($"doc_id" % 2 === 0L), 30)))
  }

  test("semdedup screen: threshold arms and best-match agree with a cell replay") {
    val emb = Tables.embeddings(spark, sfDir)
    val path = java.nio.file.Files.createTempDirectory("ivf_screen").toString
    SimilarityOps.buildIvfIndex(emb.filter($"vec_id" % 4 < 3), path, 8, 2)
    val batch = emb.filter($"vec_id" % 4 === 3)
    // τ below every cosine → everything with a non-empty cell flags
    val all = SimilarityOps.semDedupScreen(spark, path, batch, -2.0).collect()
    assert(all.length === batch.count())
    all.foreach(r => assert(r.getBoolean(4) === !r.isNullAt(3)))
    // τ above 1 → nothing flags, matches still reported
    val none = SimilarityOps.semDedupScreen(spark, path, batch, 1.01).collect()
    assert(none.forall(!_.getBoolean(4)))
    // the reported best match replays driver-side from the stored cells
    val screened = SimilarityOps.semDedupScreen(spark, path, batch, 0.35)
      .collect().map(r => r.getLong(0) ->
        ((if (r.isNullAt(1)) -1L else r.getLong(1)),
          if (r.isNullAt(3)) Double.NaN else r.getDouble(3),
          r.getBoolean(4))).toMap
    val idx = spark.read.parquet(Compaction.resolve(s"$path/assignments"))
      .collect().map(r => (r.getLong(r.fieldIndex("vec_id")),
        // the cluster partition column reads back as Int
        r.getInt(r.fieldIndex("cluster")).toLong,
        r.getSeq[Double](r.fieldIndex("v")).toArray))
    val cents = spark.read.parquet(Compaction.resolve(s"$path/centroids"))
      .collect().map(r => r.getLong(r.fieldIndex("cluster")) ->
        r.getSeq[Double](r.fieldIndex("c")).toArray).toMap
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }; s
    }
    def l2(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }; s
    }
    batch.select($"vec_id", SimilarityOps.asDoubleVec($"embedding").as("v"))
      .collect().foreach { r =>
        val (id, qv) = (r.getLong(0), r.getSeq[Double](1).toArray)
        val cell = cents.toSeq.map { case (cl, c) => (l2(qv, c), cl) }
          .sortBy(identity).head._2
        val members = idx.filter(_._2 == cell)
        val best = members
          .map { case (mid, _, v) =>
            val c = BigDecimal(dot(qv, v) / (math.sqrt(dot(v, v)) * math.sqrt(dot(qv, qv))))
              .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
            (mid, c)
          }.sortBy { case (mid, c) => (-c, mid) }.headOption
        val (gotMatch, gotCos, gotDup) = screened(id)
        best match {
          case Some((mid, c)) =>
            assert(gotMatch === mid && gotCos === c && gotDup === (c >= 0.35))
          case None =>
            assert(gotMatch === -1L && gotCos.isNaN && !gotDup)
        }
      }
  }

  test("batch IVF probe equals the per-query probe for every query") {
    val e = Tables.embeddings(spark, sfDir)
    val path = java.nio.file.Files.createTempDirectory("cmp_ivfb").toString
    SimilarityOps.buildIvfIndex(e, path)
    val ids = Seq(0L, 7L, 31L)
    val batch = SimilarityOps.queryIvfIndexBatch(spark, path,
      e.filter($"vec_id".isin(ids: _*)), topK = 5, nprobe = 1)
      .collect()
      .groupBy(_.getLong(0))
      .view.mapValues(_.sortBy(r => (-r.getDouble(3), r.getLong(1)))
        .map(r => (r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq)
      .toMap
    ids.foreach { id =>
      val qv = e.filter($"vec_id" === id)
        .select(SimilarityOps.asDoubleVec($"embedding")).head().getSeq[Double](0)
      val single = SimilarityOps.queryIvfIndex(spark, path, qv, 5,
        nprobe = 1, excludeIds = Seq(id))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
      assert(batch(id) === single,
        s"batch probe for q_id=$id must be bit-identical to the single probe")
    }
  }

  test("batch BM25 probe equals the per-query probe for every query") {
    val docs = Tables.documents(spark, sfDir)
    val path = java.nio.file.Files.createTempDirectory("cmp_bmb").toString
    TextOps.buildBm25Index(docs, path)
    // two queries with different term lists, given UNSORTED to prove the
    // batch fold is order-insensitive (it folds term-ascending)
    val qs = Seq((1L, "window"), (1L, "spark"), (1L, "join"),
      (2L, "water"), (2L, "spark")).toDF("q_id", "term")
    val batch = TextOps.queryBm25IndexBatch(spark, path, qs, topK = 5)
      .collect()
      .groupBy(_.getLong(0))
      .view.mapValues(_.sortBy(r => (-r.getDouble(2), r.getLong(1)))
        .map(r => (r.getLong(1), r.getDouble(2))).toSeq)
      .toMap
    // the single probe folds in the GIVEN term order, so hand it the
    // sorted list the batch path uses; rounding to 6 dp mirrors the
    // batch path's determinism treatment
    val singles = Map(
      1L -> Seq("join", "spark", "window"), 2L -> Seq("spark", "water"))
    singles.foreach { case (id, terms) =>
      val single = TextOps.queryBm25Index(spark, path, terms, 5)
        .collect()
        .map(r => (r.getLong(0),
          BigDecimal(r.getDouble(1)).setScale(6,
            BigDecimal.RoundingMode.HALF_UP).toDouble)).toSeq
      assert(batch(id) === single,
        s"batch BM25 for q_id=$id must match the single probe to 6 dp")
    }
    // the whole batch must ride ONE postings scan
    val plan = TextOps.queryBm25IndexBatch(spark, path, qs, topK = 5)
      .queryExecution.executedPlan.toString
    assert("postings".r.findAllIn(plan).length === 1,
      "batch probe must scan postings exactly once")
  }

  test("batch PQ probe equals the per-query probe for every query") {
    val e = Tables.embeddings(spark, sfDir)
    val path = java.nio.file.Files.createTempDirectory("cmp_pqb").toString
    SimilarityOps.buildPqIndex(e, path)
    val ids = Seq(0L, 7L, 31L)
    val batch = SimilarityOps.queryPqIndexBatch(spark, path,
      e.filter($"vec_id".isin(ids: _*)), topK = 5)
      .collect()
      .groupBy(_.getLong(0))
      .view.mapValues(_.sortBy(r => (r.getDouble(2), r.getLong(1)))
        .map(r => (r.getLong(1), r.getDouble(2))).toSeq)
      .toMap
    ids.foreach { id =>
      val qv = e.filter($"vec_id" === id)
        .select(SimilarityOps.asDoubleVec($"embedding")).head().getSeq[Double](0)
      val single = SimilarityOps.queryPqIndex(spark, path, qv, 5,
        excludeIds = Seq(id))
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(batch(id) === single,
        s"batch ADC for q_id=$id must be bit-identical to the single probe")
    }
  }

  test("over-budget PQ geometry (transform representation) matches a " +
      "driver-side exact ADC replay") {
    // m=16 × ksub=32 = 512 inlined calls > MaxInlinedKernelCalls(384):
    // the build's encode and the probe's distance tables take the
    // literal-matrix `transform` form. The probe's top-k must equal an
    // independent driver-side replay of the stored control planes —
    // codebooks and codes read back from parquet, ADC summed in plain
    // Scala with the same left-to-right fold.
    val e = Tables.embeddings(spark, sfDir)
    val path = java.nio.file.Files.createTempDirectory("budget_pq").toString
    SimilarityOps.buildPqIndex(e, path, m = 16, ksub = 32, iters = 1)
    val got = SimilarityOps.queryPqIndexBatch(spark, path,
        e.filter($"vec_id" === 0L), topK = 5)
      .collect().map(r => (r.getLong(1), r.getDouble(2))).toSeq
      .sortBy(r => (r._2, r._1))
    // driver replay from the stored artifacts
    val cb = spark.read.parquet(s"$path/codebooks").collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getSeq[Double](2)).toMap
    val qv = e.filter($"vec_id" === 0L)
      .select(SimilarityOps.asDoubleVec($"embedding")).head().getSeq[Double](0)
    val subDim = qv.length / 16
    val tables = (0 until 16).map { s =>
      val qs = qv.slice(s * subDim, (s + 1) * subDim)
      (0 until 32).map { j =>
        qs.zip(cb((s, j))).foldLeft(0.0) {
          case (acc, (x, y)) => acc + (x - y) * (x - y) }
      }
    }
    val codes = spark.read.parquet(s"$path/codes").collect()
    val adc = codes.filter(_.getLong(0) != 0L).map { r =>
      val vid = r.getLong(0)
      val d = (0 until 16).map { s =>
        tables(s)(r.getInt(r.fieldIndex(s"code_$s")))
      }.reduceLeft(_ + _) // same left fold as pqAdc
      (vid, d)
    }.sortBy(r => (r._2, r._1)).take(5).toSeq
    assert(got === adc,
      "the transform-form probe must be bit-identical to the stored-" +
        "artifact replay")
  }

  test("batch IVF-PQ probe equals the per-query probe for every query") {
    val e = Tables.embeddings(spark, sfDir)
    val path = java.nio.file.Files.createTempDirectory("cmp_ivfpqb").toString
    SimilarityOps.buildIvfPqIndex(e, path)
    val ids = Seq(0L, 7L, 31L)
    val batch = SimilarityOps.queryIvfPqIndexBatch(spark, path,
      e.filter($"vec_id".isin(ids: _*)), topK = 5, nprobe = 2)
      .collect()
      .groupBy(_.getLong(0))
      .view.mapValues(_.sortBy(r => (r.getDouble(3), r.getLong(1)))
        .map(r => (r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq)
      .toMap
    ids.foreach { id =>
      val qv = e.filter($"vec_id" === id)
        .select(SimilarityOps.asDoubleVec($"embedding")).head().getSeq[Double](0)
      val single = SimilarityOps.queryIvfPqIndex(spark, path, qv, 5,
        nprobe = 2, excludeIds = Seq(id))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
      assert(batch(id) === single,
        s"batch composite for q_id=$id must be bit-identical to the single probe")
    }
  }

  test("pq index: compaction collapses the code table with bit-identical ADC") {
    val e = Tables.embeddings(spark, sfDir)
    val path = java.nio.file.Files.createTempDirectory("cmp_pq").toString
    SimilarityOps.buildPqIndex(e.filter($"vec_id" % 4 === 0L), path)
    (1L to 3L).foreach { r =>
      SimilarityOps.mergePqIndex(e.filter($"vec_id" % 4 === r), path)
    }
    val qv = e.filter($"vec_id" === 0L)
      .select(SimilarityOps.asDoubleVec($"embedding")).head().getSeq[Double](0)
    def probe() = SimilarityOps.queryPqIndex(spark, path, qv, 10,
      excludeIds = Seq(0L))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val before = probe()
    val filesBefore = parquetFiles(Compaction.resolve(s"$path/codes"))
    assert(Compaction.compactIndex(spark, path, "pq",
      maxFilesPerPartition = 2))
    assert(parquetFiles(Compaction.resolve(s"$path/codes")) < filesBefore)
    assert(probe() === before, "PQ ADC ranking must be bit-identical")
  }

  test("colliding String.hashCode corpus dirs get distinct artifact paths") {
    // "Aa" and "BB" famously share a Java hashCode; with the old
    // 32-bit keying one corpus's index would silently serve the other
    assert("Aa".hashCode === "BB".hashCode)
    assert(StoredIndexes.pathFor("idx", "Aa") !== StoredIndexes.pathFor("idx", "BB"))
    // and the key is stable: same input, same path
    assert(StoredIndexes.pathFor("idx", "Aa") === StoredIndexes.pathFor("idx", "Aa"))
  }

  test("concurrent first builders run the build exactly once, all share it") {
    val calls = new java.util.concurrent.atomic.AtomicInteger(0)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val futures = (1 to 8).map { _ =>
        pool.submit(new java.util.concurrent.Callable[String] {
          def call(): String =
            StoredIndexes.ensure("spec_art", "/spec/corpus") { p =>
              calls.incrementAndGet()
              Thread.sleep(50) // widen the race window
              java.nio.file.Files.createDirectories(java.nio.file.Paths.get(p))
              ()
            }
        })
      }
      val paths = futures.map(_.get()).toSet
      assert(calls.get() === 1, "the build must run exactly once")
      assert(paths.size === 1, "every caller must see the same artifact path")
    } finally pool.shutdown()
  }

  test("a failed build is not memoized; the next caller retries") {
    val calls = new java.util.concurrent.atomic.AtomicInteger(0)
    assertThrows[RuntimeException] {
      StoredIndexes.ensure("spec_fail", "/spec/corpus") { _ =>
        calls.incrementAndGet(); sys.error("boom")
      }
    }
    StoredIndexes.ensure("spec_fail", "/spec/corpus")(_ => calls.incrementAndGet())
    assert(calls.get() === 2)
  }

  test("ANN tombstones (IVF/PQ/IVFPQ): immediate logical delete on every " +
    "stored probe, physical at the tick, re-insert guarded until served") {
    def baseVec(i: Int): Seq[Double] =
      Seq.tabulate(4)(j => if (j == i % 4) 1.0 + i else 0.01 * (j + 1))
    val base = (0 until 12).map(i => (i.toLong, baseVec(i)))
      .toDF("vec_id", "embedding")
    val qv = baseVec(2)

    // IVF — the full lifecycle
    val ivf = java.nio.file.Files.createTempDirectory("ivf_tomb").toString
    SimilarityOps.buildIvfIndex(base, ivf, k = 4, iters = 2)
    def ivfTop() = SimilarityOps.queryIvfIndex(spark, ivf, qv, 3, nprobe = 1)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(ivfTop().contains(2L))
    SimilarityOps.tombstoneAnnIndex(Seq(2L).toDF("vec_id"), ivf)
    assert(!ivfTop().contains(2L),
      "a tombstoned vector must stop matching before the compaction")
    // the batch probe screens too
    val probeQ = Seq((100L, qv)).toDF("vec_id", "embedding")
    assert(!SimilarityOps.queryIvfIndexBatch(spark, ivf, probeQ, 3)
      .select("vec_id").collect().map(_.getLong(0)).contains(2L))
    // re-inserting the deleted id before the tick is refused loudly
    val e = intercept[IllegalArgumentException] {
      SimilarityOps.mergeIvfIndex(base.filter($"vec_id" === 2L), ivf)
    }
    assert(e.getMessage.contains("tombstoned"))
    // the tick makes the deletion physical and clears the tombstones
    assert(Compaction.maintainIndex(spark, ivf, "ivf"),
      "pending tombstones must force the rewrite")
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$ivf/tombstones")))
    assert(spark.read.parquet(Compaction.resolve(s"$ivf/assignments"))
      .filter($"vec_id" === 2L).count() === 0L,
      "the assignment rows must be physically gone")
    // after the tick the id may return (delete + reinsert, CDC-style)
    SimilarityOps.mergeIvfIndex(base.filter($"vec_id" === 2L), ivf)
    assert(ivfTop().contains(2L))

    // PQ + IVFPQ — screen and physical delete on the code tables
    val pq = java.nio.file.Files.createTempDirectory("pq_tomb").toString
    SimilarityOps.buildPqIndex(base, pq, m = 2, ksub = 4)
    SimilarityOps.tombstoneAnnIndex(Seq(2L).toDF("vec_id"), pq)
    assert(!SimilarityOps.queryPqIndex(spark, pq, qv, 3)
      .select("vec_id").collect().map(_.getLong(0)).contains(2L))
    assert(Compaction.maintainIndex(spark, pq, "pq"))
    assert(spark.read.parquet(Compaction.resolve(s"$pq/codes"))
      .filter($"vec_id" === 2L).count() === 0L)
    val ivfpq = java.nio.file.Files.createTempDirectory("ivfpq_tomb").toString
    SimilarityOps.buildIvfPqIndex(base, ivfpq, k = 4, m = 2, ksub = 4)
    SimilarityOps.tombstoneAnnIndex(Seq(2L).toDF("vec_id"), ivfpq)
    assert(!SimilarityOps.queryIvfPqIndex(spark, ivfpq, qv, 3, nprobe = 4)
      .select("vec_id").collect().map(_.getLong(0)).contains(2L))
    assert(Compaction.maintainIndex(spark, ivfpq, "ivfpq"))
    assert(spark.read.parquet(Compaction.resolve(s"$ivfpq/codes"))
      .filter($"vec_id" === 2L).count() === 0L)
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$ivfpq/tombstones")))
  }

  test("IVF retrain: drift signal clears, probes equal a fresh build on " +
    "the live set, tombstones served, centroids survive later compaction") {
    def vec(i: Int, shift: Double): Seq[Double] =
      Seq.tabulate(4)(j => shift + (if (j == i % 4) 1.0 + i else 0.01 * j))
    // build regime near the origin; the merge feed lands 50 units away —
    // far from every frozen centroid, so the drift ratio trips
    val built = (0 until 8).map(i => (i.toLong, vec(i, 0.0)))
    val drifted = (8 until 16).map(i => (i.toLong, vec(i, 50.0)))
    val path = java.nio.file.Files.createTempDirectory("ivf_retrain").toString
    SimilarityOps.buildIvfIndex(built.toDF("vec_id", "embedding"), path,
      k = 4, iters = 2)
    SimilarityOps.mergeIvfIndex(drifted.toDF("vec_id", "embedding"), path)
    assert(SimilarityOps.shouldRetrain(spark, path),
      "a 50-unit-shifted merge feed must trip the drift signal")

    SimilarityOps.retrainIvfIndex(spark, path, k = 4, iters = 2)
    assert(!SimilarityOps.shouldRetrain(spark, path),
      "the retrain must reset the drift ledger")
    // the retrained index is bit-identical to a FRESH build on the same
    // live set (k-means is deterministic on the set, not arrival order)
    val fresh = java.nio.file.Files.createTempDirectory("ivf_fresh").toString
    SimilarityOps.buildIvfIndex((built ++ drifted).toDF("vec_id", "embedding"),
      fresh, k = 4, iters = 2)
    val qv = vec(10, 50.0)
    def top(p: String) = SimilarityOps.queryIvfIndex(spark, p, qv, 5,
      nprobe = 1).collect().map(r => (r.getLong(0), r.getLong(1),
      r.getDouble(2))).toSeq
    assert(top(path) === top(fresh),
      "retrained probe must equal the fresh-build probe bit-for-bit")
    // the centroid table rode the SAME atomic publish as the assignments
    val versionedCents = java.nio.file.Paths.get(
      Compaction.resolve(s"$path/assignments"), "_centroids")
    assert(java.nio.file.Files.exists(versionedCents),
      "retrained centroids must live inside the published version dir")

    // a pending tombstone is served physically by the retrain
    SimilarityOps.tombstoneAnnIndex(Seq(10L).toDF("vec_id"), path)
    SimilarityOps.retrainIvfIndex(spark, path, k = 4, iters = 2)
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$path/tombstones")),
      "the retrain republish must clear the served tombstones")
    assert(spark.read.parquet(Compaction.resolve(s"$path/assignments"))
      .filter($"vec_id" === 10L).count() === 0L,
      "the tombstoned vector must be physically gone after the retrain")
    val afterDelete = top(path)
    assert(!afterDelete.exists(_._1 == 10L))

    // merges keep flowing and a LATER debt compaction must carry the
    // versioned centroids forward — a post-compaction probe that fell
    // back to the stale build-time table would answer wrong, not slow
    (0 until 4).foreach { b =>
      SimilarityOps.mergeIvfIndex(
        Seq((100L + b, vec(100 + b, 50.0))).toDF("vec_id", "embedding"), path)
    }
    val beforeCompact = top(path)
    assert(Compaction.compactIndex(spark, path, "ivf",
      maxFilesPerPartition = 1), "accumulated merge files must compact")
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(
      Compaction.resolve(s"$path/assignments"), "_centroids")),
      "compaction must carry the centroid sidecar into the new version")
    assert(top(path) === beforeCompact,
      "the probe must be bit-identical across the compaction swap")
  }

  test("PQ rebuild: drift signal clears, probe equals a fresh build on the " +
    "screened corpus, tombstones served, codebooks survive compaction") {
    def vec(i: Int, shift: Double): Seq[Double] =
      Seq.tabulate(4)(j => shift + (if (j == i % 4) 1.0 + i else 0.01 * j))
    val built = (0 until 8).map(i => (i.toLong, vec(i, 0.0)))
    val drifted = (8 until 16).map(i => (i.toLong, vec(i, 50.0)))
    val all = built ++ drifted
    val path = java.nio.file.Files.createTempDirectory("pq_rebuild").toString
    SimilarityOps.buildPqIndex(built.toDF("vec_id", "embedding"), path,
      m = 2, ksub = 4)
    SimilarityOps.mergePqIndex(drifted.toDF("vec_id", "embedding"), path)
    assert(SimilarityOps.shouldRetrainPq(spark, path),
      "a 50-unit-shifted merge feed must trip the rebuild signal")

    // tombstone BEFORE the rebuild: the caller's source corpus still
    // carries the deleted row — the rebuild must screen it out and
    // serve the tombstone physically in the same republish
    SimilarityOps.tombstoneAnnIndex(Seq(10L).toDF("vec_id"), path)
    SimilarityOps.rebuildPqIndex(all.toDF("vec_id", "embedding"), path)
    assert(!SimilarityOps.shouldRetrainPq(spark, path),
      "the rebuild must reset the drift ledger")
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$path/tombstones")),
      "the rebuild republish must clear the served tombstones")
    assert(spark.read.parquet(Compaction.resolve(s"$path/codes"))
      .filter($"vec_id" === 10L).count() === 0L,
      "the tombstoned vector must not survive a rebuild whose source " +
        "corpus still carries it")
    // codebooks rode the SAME atomic publish as the codes
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(
      Compaction.resolve(s"$path/codes"), "_codebooks")),
      "rebuilt codebooks must live inside the published version dir")

    // bit-identical to a FRESH build on the screened set (per-subspace
    // k-means is deterministic on the set, not arrival order)
    val fresh = java.nio.file.Files.createTempDirectory("pq_fresh").toString
    SimilarityOps.buildPqIndex(
      all.filterNot(_._1 == 10L).toDF("vec_id", "embedding"), fresh,
      m = 2, ksub = 4)
    val qv = vec(10, 50.0)
    def top(p: String) = SimilarityOps.queryPqIndex(spark, p, qv, 5)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(top(path) === top(fresh),
      "rebuilt probe must equal the fresh-build probe bit-for-bit")

    // merges keep flowing against the REBUILT codebooks, and a later
    // debt compaction must carry the codebook sidecar forward
    (0 until 4).foreach { b =>
      SimilarityOps.mergePqIndex(
        Seq((100L + b, vec(100 + b, 50.0))).toDF("vec_id", "embedding"), path)
    }
    val beforeCompact = top(path)
    assert(Compaction.compactIndex(spark, path, "pq",
      maxFilesPerPartition = 1), "accumulated merge files must compact")
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(
      Compaction.resolve(s"$path/codes"), "_codebooks")),
      "compaction must carry the codebook sidecar into the new version")
    assert(top(path) === beforeCompact,
      "the probe must be bit-identical across the compaction swap")
  }

  test("IVF-PQ rebuild: both control planes republish atomically, probe " +
    "equals a fresh build, sidecars survive compaction") {
    def vec(i: Int, shift: Double): Seq[Double] =
      Seq.tabulate(4)(j => shift + (if (j == i % 4) 1.0 + i else 0.01 * j))
    val built = (0 until 8).map(i => (i.toLong, vec(i, 0.0)))
    val drifted = (8 until 16).map(i => (i.toLong, vec(i, 50.0)))
    val all = built ++ drifted
    val path = java.nio.file.Files.createTempDirectory("ivfpq_rebuild").toString
    SimilarityOps.buildIvfPqIndex(built.toDF("vec_id", "embedding"), path,
      k = 4, m = 2, ksub = 4)
    SimilarityOps.mergeIvfPqIndex(drifted.toDF("vec_id", "embedding"), path)
    assert(SimilarityOps.shouldRetrainPq(spark, path))

    SimilarityOps.tombstoneAnnIndex(Seq(10L).toDF("vec_id"), path)
    SimilarityOps.rebuildIvfPqIndex(all.toDF("vec_id", "embedding"), path)
    assert(!SimilarityOps.shouldRetrainPq(spark, path))
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$path/tombstones")))
    assert(spark.read.parquet(Compaction.resolve(s"$path/codes"))
      .filter($"vec_id" === 10L).count() === 0L)
    val verDir = Compaction.resolve(s"$path/codes")
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(verDir, "_centroids")) &&
      java.nio.file.Files.exists(
        java.nio.file.Paths.get(verDir, "_codebooks")),
      "BOTH rebuilt control planes must ride the published version dir")

    val fresh = java.nio.file.Files.createTempDirectory("ivfpq_fresh").toString
    SimilarityOps.buildIvfPqIndex(
      all.filterNot(_._1 == 10L).toDF("vec_id", "embedding"), fresh,
      k = 4, m = 2, ksub = 4)
    val qv = vec(10, 50.0)
    def top(p: String) = SimilarityOps.queryIvfPqIndex(spark, p, qv, 5,
      nprobe = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(top(path) === top(fresh),
      "rebuilt probe must equal the fresh-build probe bit-for-bit")

    (0 until 4).foreach { b =>
      SimilarityOps.mergeIvfPqIndex(
        Seq((100L + b, vec(100 + b, 50.0))).toDF("vec_id", "embedding"), path)
    }
    val beforeCompact = top(path)
    assert(Compaction.compactIndex(spark, path, "ivfpq",
      maxFilesPerPartition = 1))
    val verDir2 = Compaction.resolve(s"$path/codes")
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(verDir2, "_centroids")) &&
      java.nio.file.Files.exists(
        java.nio.file.Paths.get(verDir2, "_codebooks")),
      "compaction must carry both sidecars into the new version")
    assert(top(path) === beforeCompact)
  }

  test("IVF-PQ coarse-cell drift: a cluster-structure shift with flat " +
    "ADC distortion trips the composite gate, not the ADC-only one") {
    import graft.engine.Compaction
    // two clean clusters at 0 and 10, membership alternating by vec_id
    // so the k-lowest-ids k-means init lands one seed in each; jitter
    // keyed on (i % 16) gives build and merge the SAME jitter multiset,
    // so per-subspace (ADC) distortion stays flat across the shift
    def jit(i: Int, j: Int): Double = (((i % 16) * 7 + j * 3) % 5 - 2) * 0.1
    def near(base: Double, i: Int): Seq[Double] =
      Seq.tabulate(4)(j => base + jit(i, j))
    val built = (0 until 16).map(i =>
      (i.toLong, near(if (i % 2 == 0) 0.0 else 10.0, i)))
    val path = java.nio.file.Files.createTempDirectory("ivfpq_cell").toString
    SimilarityOps.buildIvfPqIndex(built.toDF("vec_id", "embedding"), path,
      k = 2, m = 2, ksub = 2)
    // the drifted feed: subspace-pure RECOMBINATIONS — (0,0,10,10) and
    // (10,10,0,0) shapes. Every subspace value sits on a frozen
    // codebook centroid (ADC distortion unchanged), but the whole
    // vectors are ~√200 from BOTH frozen cells: pruning recall decays
    // while the ADC signal sleeps.
    def mix(lo: Double, hi: Double, i: Int): Seq[Double] =
      Seq.tabulate(4)(j => (if (j < 2) lo else hi) + jit(i, j))
    val shifted = (100 until 108).map(i => (i.toLong, mix(0.0, 10.0, i))) ++
      (108 until 116).map(i => (i.toLong, mix(10.0, 0.0, i)))
    SimilarityOps.mergeIvfPqIndex(shifted.toDF("vec_id", "embedding"), path)
    assert(!SimilarityOps.shouldRetrainPq(spark, path, 1.5),
      "subspace-pure recombinations keep ADC distortion flat — the " +
        "ADC-only gate must stay silent even at a tight threshold")
    assert(SimilarityOps.shouldRetrainIvfPq(spark, path),
      "the coarse-cell signal must catch the cluster-structure shift")
    // the maintenance collapse preserves the n-weighted mean — the
    // signal survives the cell_log's file-debt fold
    Compaction.maintainIndex(spark, path, "ivfpq", maxFilesPerPartition = 1)
    assert(SimilarityOps.shouldRetrainIvfPq(spark, path),
      "the drift signal must survive the cell_log collapse")
    // the rebuild the signal calls for re-baselines BOTH ledgers
    SimilarityOps.rebuildIvfPqIndex(
      (built ++ shifted).toDF("vec_id", "embedding"), path)
    assert(!SimilarityOps.shouldRetrainIvfPq(spark, path),
      "a rebuild resets both drift ledgers and re-baselines both metas")
    // a pre-r17 index (no cell tables) degrades to the ADC-only gate
    def rm(p: java.nio.file.Path): Unit =
      if (java.nio.file.Files.exists(p)) {
        if (java.nio.file.Files.isDirectory(p)) {
          val s = java.nio.file.Files.list(p)
          try s.forEach(rm(_)) finally s.close()
        }
        java.nio.file.Files.delete(p)
      }
    rm(java.nio.file.Paths.get(s"$path/cell_meta"))
    rm(java.nio.file.Paths.get(s"$path/cell_log"))
    assert(!SimilarityOps.shouldRetrainIvfPq(spark, path),
      "missing cell tables must degrade to the ADC gate, never crash")
  }

  test("BM25 retraction: scores equal a rebuild on the remaining corpus, " +
    "postings physical at the tick, replays idempotent, phantom raises") {
    def doc(id: Long, words: String) = (id, words)
    val docs = Seq(
      doc(1L, "spark join window spark " + (1 to 30).map("w" + _).mkString(" ")),
      doc(2L, "spark spark unique2only join " + (1 to 20).map("x" + _).mkString(" ")),
      doc(3L, "window join " + (1 to 25).map("y" + _).mkString(" ")),
      doc(4L, "spark window " + (1 to 15).map("z" + _).mkString(" ")))
      .toDF("doc_id", "text")
    val path = java.nio.file.Files.createTempDirectory("bm25_tomb").toString
    TextOps.buildBm25Index(docs, path)
    val terms = Seq("spark", "join", "window")
    def stored() = TextOps.queryBm25Index(spark, path, terms, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(stored().map(_._1).contains(2L))
    // retract doc 2 (full row image, the CDC delete-capture contract)
    TextOps.retractBm25Index(docs.filter($"doc_id" === 2L), path)
    // stored scores now bit-identical to an index REBUILT on {1,3,4}
    val rebuilt = java.nio.file.Files.createTempDirectory("bm25_rebuild").toString
    TextOps.buildBm25Index(docs.filter($"doc_id" =!= 2L), rebuilt)
    assert(stored() === TextOps.queryBm25Index(spark, rebuilt, terms, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq,
      "retraction must adjust tf/df/dl/n_docs/sum_dl exactly")
    // the batch probe screens too
    val qt = Seq((900L, "spark"), (900L, "unique2only")).toDF("q_id", "term")
    assert(!TextOps.queryBm25IndexBatch(spark, path, qt, 10)
      .select("doc_id").collect().map(_.getLong(0)).contains(2L))
    // re-inserting before the tick is refused loudly
    val e = intercept[IllegalArgumentException] {
      TextOps.mergeBm25Index(docs.filter($"doc_id" === 2L), path)
    }
    assert(e.getMessage.contains("tombstoned"))
    // tick: physical deletion + tombstone clear, answers unchanged
    val before = stored()
    assert(Compaction.maintainIndex(spark, path, "bm25"))
    assert(spark.read.parquet(Compaction.resolve(s"$path/postings"))
      .filter($"doc_id" === 2L).count() === 0L)
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$path/tombstones")))
    assert(stored() === before)
    // re-insert after the tick: back to the full-corpus scores
    TextOps.mergeBm25Index(docs.filter($"doc_id" === 2L), path)
    val full = java.nio.file.Files.createTempDirectory("bm25_full").toString
    TextOps.buildBm25Index(docs, full)
    val fullScores = TextOps.queryBm25Index(spark, full, terms, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(stored() === fullScores)
    // crashed-ledger MERGE replay: re-presenting the same batch (its
    // signature committed in the side-table swap, the ledger append was
    // lost) must not double-add df/stats — scores stay full-corpus
    TextOps.mergeBm25Index(docs.filter($"doc_id" === 2L), path)
    assert(stored() === fullScores,
      "a replayed merge must not apply its exact arithmetic twice")
    // retract once more, then replay the SAME retraction: exact
    // subtraction is not naturally idempotent, so the replay must skip
    // via the applied-signature log, not double-subtract
    TextOps.retractBm25Index(docs.filter($"doc_id" === 2L), path)
    val afterRetract = stored()
    TextOps.retractBm25Index(docs.filter($"doc_id" === 2L), path)
    assert(stored() === afterRetract,
      "a replayed retraction must not subtract twice")
    // and still bit-identical to the rebuild on the remaining corpus
    assert(stored() === TextOps.queryBm25Index(spark, rebuilt, terms, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq)
    // the fail-loud contract survives the idempotence: retracting
    // content the index NEVER absorbed is corrupt by contract (phantom
    // term), a genuinely different batch, not a replay
    val corrupt = intercept[Exception] {
      TextOps.retractBm25Index(
        Seq((99L, "neverabsorbedterm spark")).toDF("doc_id", "text"), path)
    }
    assert(String.valueOf(corrupt.getMessage).contains("absorb"))
    // crashed-ledger replay of a DELETE→RE-INSERT cycle: the serving
    // tick RESETS the signature log between the halves (a legal
    // re-insert must not be mistaken for the pre-deletion batch), so
    // the replay re-applies BOTH halves — exact inverses that net out
    def cycle(): Unit = {
      TextOps.retractBm25Index(docs.filter($"doc_id" === 3L), path)
      assert(Compaction.maintainIndex(spark, path, "bm25"))
      TextOps.mergeBm25Index(docs.filter($"doc_id" === 3L), path)
    }
    cycle()
    val afterCycle = stored()
    cycle() // the ledgerless re-run
    assert(stored() === afterCycle,
      "a replayed delete→re-insert cycle must net out exactly")
    // the signature log is O(1), not one row per merge forever: an
    // append-only feed must not accrete an unbounded driver collect
    val appliedDir = java.nio.file.Paths.get(
      Compaction.resolve(s"$path/lexicon"), "_applied")
    assert(java.nio.file.Files.exists(appliedDir))
    assert(spark.read.parquet(appliedDir.toString).count() <= 8L,
      "the applied-signature log must stay pruned to its short tail")
  }

  test("vocab view replays: a re-appended batch is healed by the " +
    "batch-tagged dedup, through reads and the compaction") {
    import graft.ops.TextOps
    val path = java.nio.file.Files.createTempDirectory("vv_replay").toString
    TextOps.buildVocabIndex(
      Seq((1L, "spark rows table table")).toDF("doc_id", "text"), path)
    val batch = Seq((2L, "table merge merge")).toDF("doc_id", "text")
    TextOps.mergeVocabIndex(batch, path)
    def top() = TextOps.queryVocabTopK(spark, path, 10).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    val after = top()
    // crashed-ledger replay: the same batch re-appends byte-identical
    // tagged partials — the additive re-sum must not double-count
    TextOps.mergeVocabIndex(batch, path)
    assert(top() === after,
      "a replayed merge's partials must dedup, not double-count")
    // retraction replays heal the same way
    TextOps.retractVocabIndex(batch, path)
    val afterDel = top()
    TextOps.retractVocabIndex(batch, path)
    assert(top() === afterDel,
      "a replayed retraction must not net counts out twice")
    // the compaction's re-sum applies the same heal before aggregating,
    // and its compacted rows stay dedup-safe for later reads
    assert(Compaction.compactIndex(spark, path, "vocab",
      maxFilesPerPartition = 1))
    assert(top() === afterDel)
  }

  test("vocab view delete→re-insert: re-merging retracted byte-identical " +
    "content applies as a fresh cycle instead of collapsing as a replay") {
    import graft.ops.TextOps
    val path = java.nio.file.Files.createTempDirectory("vv_cycle").toString
    TextOps.buildVocabIndex(
      Seq((1L, "spark rows")).toDF("doc_id", "text"), path)
    val batch = Seq((2L, "table merge merge")).toDF("doc_id", "text")
    def top() = TextOps.queryVocabTopK(spark, path, 10).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    val base = top()
    TextOps.mergeVocabIndex(batch, path)
    val withBatch = top()
    assert(withBatch !== base)
    // the CDC delete→re-insert cycle on byte-identical content: after
    // the retraction those docs are NOT in the view, so the re-merge is
    // contract-clean and must land — not vanish as a pseudo-replay
    TextOps.retractVocabIndex(batch, path)
    assert(top() === base, "retraction must net the batch out")
    TextOps.mergeVocabIndex(batch, path)
    assert(top() === withBatch,
      "re-inserting retracted content must re-apply its counts")
    // a crashed-ledger replay of the RE-INSERT recomputes the same
    // cycle tag and still heals
    TextOps.mergeVocabIndex(batch, path)
    assert(top() === withBatch,
      "a replayed re-insert must dedup against the cycle's own rows")
    // the second retraction pairs with the second merge cycle
    TextOps.retractVocabIndex(batch, path)
    assert(top() === base, "the second retraction must net out again")
    TextOps.retractVocabIndex(batch, path)
    assert(top() === base,
      "a replayed second retraction must not double-net")
    // the compaction heals and re-sums the full cycle history
    assert(Compaction.compactIndex(spark, path, "vocab",
      maxFilesPerPartition = 0))
    assert(top() === base)
  }

  test("vocab view delete→re-insert of BUILD-entered content: the " +
    "retraction pairs with the latest merge cycle, not the merge count") {
    import graft.ops.TextOps
    val path = java.nio.file.Files.createTempDirectory("vv_bcycle").toString
    // content X enters via the BUILD (tag 'build' — no content-signature
    // merge tag exists), the deletedVocabPath shape
    val x = Seq((5L, "xray xray yank")).toDF("doc_id", "text")
    TextOps.buildVocabIndex(
      Seq((1L, "spark rows"), (5L, "xray xray yank"))
        .toDF("doc_id", "text"), path)
    def top() = TextOps.queryVocabTopK(spark, path, 10).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    val full = top()
    TextOps.retractVocabIndex(x, path) // first retraction: cycle 0
    val without = top()
    assert(without !== full)
    TextOps.mergeVocabIndex(x, path)   // re-insert: merge cycle 1
    assert(top() === full, "the re-insert must re-apply X's counts")
    // the second retraction must pair with merge cycle 1 — pairing by
    // merge COUNT (=1) would alias it onto the first retraction's tag
    // and the dedup would silently discard it, un-deleting X
    TextOps.retractVocabIndex(x, path)
    assert(top() === without,
      "the second retraction of build-entered content must net X out")
    // and its replay still heals
    TextOps.retractVocabIndex(x, path)
    assert(top() === without)
    // the compaction re-sums the whole build+cycle history cleanly
    assert(Compaction.compactIndex(spark, path, "vocab",
      maxFilesPerPartition = 0))
    assert(top() === without)
  }

  test("vocab view replay after compaction: an absorbed batch tag is " +
    "skipped instead of double-added (rows no longer exist to dedup " +
    "against)") {
    import graft.ops.TextOps
    val path = java.nio.file.Files.createTempDirectory("vv_absorb").toString
    TextOps.buildVocabIndex(
      Seq((1L, "spark rows")).toDF("doc_id", "text"), path)
    val batch = Seq((2L, "table merge")).toDF("doc_id", "text")
    // explicit (stream-style) tag — the CdcStream shape
    TextOps.mergeVocabIndex(batch, path, batchTag = "s1/b7")
    def top() = TextOps.queryVocabTopK(spark, path, 10).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    val after = top()
    // the compaction folds the batch's rows into the `compacted`
    // aggregate and records its tag in the `_absorbed` sidecar
    assert(Compaction.compactIndex(spark, path, "vocab",
      maxFilesPerPartition = 0))
    assert(top() === after)
    // a crashed-ledger replay arriving AFTER the tick: the tagged rows
    // are gone, so the dedup heal has nothing to collapse against — the
    // absorbed-tag check must skip the append outright
    TextOps.mergeVocabIndex(batch, path, batchTag = "s1/b7")
    assert(top() === after,
      "an absorbed batch's replay must be skipped, not double-added")
    // same for default (content-derived) tags
    val b2 = Seq((3L, "shuffle")).toDF("doc_id", "text")
    TextOps.mergeVocabIndex(b2, path)
    val after2 = top()
    assert(Compaction.compactIndex(spark, path, "vocab",
      maxFilesPerPartition = 0))
    TextOps.mergeVocabIndex(b2, path)
    assert(top() === after2,
      "an absorbed content-tagged replay must be skipped too")
    // retraction replay across the tick is skipped the same way
    TextOps.retractVocabIndex(b2, path)
    val netted = top()
    assert(Compaction.compactIndex(spark, path, "vocab",
      maxFilesPerPartition = 0))
    TextOps.retractVocabIndex(b2, path)
    assert(top() === netted,
      "an absorbed retraction's replay must not net out twice")
  }

  test("vocab view guards: reserved batch tags raise; a pre-tag table " +
    "upgrades to tagged layout before the first tagged append") {
    import graft.ops.TextOps
    val path = java.nio.file.Files.createTempDirectory("vv_legacy").toString
    intercept[IllegalArgumentException] {
      TextOps.mergeVocabIndex(
        Seq((1L, "x")).toDF("doc_id", "text"), path, batchTag = "compacted")
    }
    intercept[IllegalArgumentException] {
      TextOps.retractVocabIndex(
        Seq((1L, "x")).toDF("doc_id", "text"), path, batchTag = "build")
    }
    // legacy layout: per-word partials with NO bsig column, including
    // two partials of the same word that must re-sum (never collapse)
    Seq(("spark", 2L, 1L), ("spark", 1L, 1L), ("rows", 1L, 1L))
      .toDF("word", "tf", "df")
      .write.parquet(s"$path/counts")
    Compaction.seedBase(s"$path/counts")
    def top() = TextOps.queryVocabTopK(spark, path, 10).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(top() === Seq(("spark", 3L, 2L), ("rows", 1L, 1L)),
      "pre-tag partials must re-sum additively through the reader shim")
    // the first merge forces the layout upgrade (one compaction tick),
    // then appends tagged rows — and the upgraded table keeps serving
    TextOps.mergeVocabIndex(
      Seq((9L, "rows rows")).toDF("doc_id", "text"), path)
    assert(top() === Seq(("rows", 3L, 2L), ("spark", 3L, 2L)),
      "the upgraded table must absorb tagged merges correctly")
    val live = Compaction.resolve(s"$path/counts")
    assert(spark.read.parquet(live).columns.contains("bsig"),
      "the upgrade must have rewritten the table into tagged layout")
    // merging into a never-built path still establishes the view (the
    // first append creates the tagged table — no schema to probe, no
    // history to count)
    val fresh = java.nio.file.Files.createTempDirectory("vv_fresh").toString
    TextOps.mergeVocabIndex(
      Seq((1L, "spark spark rows")).toDF("doc_id", "text"), fresh)
    assert(TextOps.queryVocabTopK(spark, fresh, 10).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
      === Seq(("spark", 2L), ("rows", 1L)))
  }

  test("hash-index probe broadcast is size-guarded: with broadcasting " +
    "disabled the probe falls back to a shuffle join, same answers") {
    import graft.ops.{DedupOps, Multimodal}
    val path = java.nio.file.Files.createTempDirectory("hidx_guard").toString
    val sk = Multimodal.imageAHash(Seq(
      (1L, Multimodal.syntheticPng(1L, 8, 8)),
      (2L, Multimodal.syntheticPng(2L, 12, 10))).toDF("doc_id", "payload"))
    DedupOps.buildHashIndex(sk, path)
    DedupOps.tombstoneHashIndex(Seq(2L).toDF("doc_id"), path)
    val probe = Multimodal.imageAHash(
      Seq((257L, Multimodal.syntheticPng(257L, 8, 8))).toDF("doc_id", "payload"))
    def hits() = DedupOps.queryHashIndex(spark, probe, path, maxDist = 0)
    val withBc = hits()
    assert(withBc.queryExecution.executedPlan.toString
      .contains("BroadcastHashJoin"),
      "default config: the tiny probe (and tombstone screen) broadcast")
    val expected = withBc.select("doc_old").collect().map(_.getLong(0)).toSet
    assert(expected === Set(1L))
    val old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val guarded = hits()
      assert(!guarded.queryExecution.executedPlan.toString
        .contains("BroadcastHashJoin"),
        "an oversized probe/tombstone set must NOT be forced into a " +
          "driver broadcast — the guard falls back to planner strategy")
      assert(guarded.select("doc_old").collect().map(_.getLong(0)).toSet
        === expected, "the fallback plan must give identical answers")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
  }
}
