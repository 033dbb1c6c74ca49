package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.engine.{Cdc, ChangeGen, Scd2, SnapshotStore}
import graft.streaming.{CdcStream, GracefulShutdown}

/** End-to-end streaming CDC → SCD2: JSON change-batch files drained with
  * Trigger.AvailableNow through foreachBatch merge + atomic snapshot swap;
  * checkpoint gives exactly-once file processing (SURVEY §2.9 T2/T3/T5). */
class StreamingSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  test("streaming screen-and-absorb dedup catches cross-batch near-dups") {
    import graft.ops.DedupOps
    import org.apache.spark.sql.types.StructType
    val in = Files.createTempDirectory("ds_in").toString
    val ckpt = Files.createTempDirectory("ds_ckpt").toString
    val idx = Files.createTempDirectory("ds_idx").toString
    val body = (1 to 40).map(j => s"base$j").mkString(" ")
    val base = Seq(
      (1L, s"$body tail one"),
      (2L, (1 to 50).map(j => s"u2x$j").mkString(" "))).toDF("doc_id", "text")
    DedupOps.buildFingerprintIndex(base, idx)
    def jline(id: Long, text: String) = s"""{"doc_id":$id,"text":"$text"}"""
    // batch 1: a near-dup of indexed doc 1 + a fresh doc; batch 2 (later
    // mtime → later micro-batch): a near-dup of BOTH doc 1 and batch 1's
    // doc 61 — catching the latter requires batch 1 to have been absorbed
    val f1 = java.nio.file.Paths.get(in, "docs_000.json")
    Files.writeString(f1,
      jline(61, s"$body tail two") + "\n" +
        jline(62, (1 to 50).map(j => s"v62x$j").mkString(" ")) + "\n")
    Files.setLastModifiedTime(f1, java.nio.file.attribute.FileTime
      .fromMillis(System.currentTimeMillis() - 60000))
    Files.writeString(java.nio.file.Paths.get(in, "docs_001.json"),
      jline(70, s"$body tail three") + "\n")
    val hits = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val schema = new StructType().add("doc_id", "long").add("text", "string")
    val q = CdcStream.dedupScreenStream(spark, s"$in/docs_*.json", ckpt,
      schema, idx,
      (df, _) => hits ++=
        df.select("doc_new", "doc_old").as[(Long, Long)].collect())
    q.awaitTermination()
    val all = hits.toSet
    assert(all.contains((61L, 1L)), "batch 1 near-dup of the indexed corpus")
    assert(all.contains((70L, 1L)) && all.contains((70L, 61L)),
      "batch 2 must be screened against batch 1's absorbed docs")
    assert(!all.exists(_._1 == 62L), "the fresh doc must not fire")
    // the stream released its per-batch caches
    // (ensureCached entries registered inside the foreachBatch scope)
    // — long-running ingestion stays flat
  }

  test("screen-and-absorb crash replay absorbs each batch exactly once") {
    import graft.ops.DedupOps
    import org.apache.spark.sql.types.StructType
    val in = Files.createTempDirectory("dsr_in").toString
    val ckpt = Files.createTempDirectory("dsr_ckpt").toString
    val idx = Files.createTempDirectory("dsr_idx").toString
    val base = Seq((1L, (1 to 50).map(j => s"rb$j").mkString(" ")))
      .toDF("doc_id", "text")
    DedupOps.buildFingerprintIndex(base, idx)
    val postings0 = spark.read.parquet(s"$idx/postings").count()
    Files.writeString(java.nio.file.Paths.get(in, "docs_000.json"),
      s"""{"doc_id":5,"text":"${(1 to 50).map(j => s"rc$j").mkString(" ")}"}\n""")
    val schema = new StructType().add("doc_id", "long").add("text", "string")

    // crash between screen and absorb: onHits throws on its first call,
    // killing the micro-batch BEFORE the merge and before checkpoint
    // commit — the classic replay trigger
    var crashed = false
    def onHits(df: org.apache.spark.sql.DataFrame, id: Long): Unit = {
      df.count() // consume eagerly (the foreachBatch contract)
      if (!crashed) { crashed = true; sys.error("injected crash after screen") }
    }
    val q1 = CdcStream.dedupScreenStream(spark, s"$in/docs_*.json", ckpt,
      schema, idx, onHits)
    intercept[org.apache.spark.sql.streaming.StreamingQueryException](
      q1.awaitTermination())
    assert(spark.read.parquet(s"$idx/postings").count() === postings0,
      "crashed batch must not have been absorbed")

    // restart: the checkpoint replays the same file; the batch is
    // screened again and absorbed exactly once
    val q2 = CdcStream.dedupScreenStream(spark, s"$in/docs_*.json", ckpt,
      schema, idx, onHits)
    q2.awaitTermination()
    val afterRestart = spark.read.parquet(s"$idx/postings").count()
    assert(afterRestart > postings0, "replayed batch must be absorbed")
    assert(spark.read.parquet(s"$idx/sizes")
      .groupBy("doc_id").count().filter(col("count") > 1).count() === 0L,
      "no doc may carry duplicate size rows")

    // the other half of the window — crash AFTER the merge but before
    // checkpoint commit: foreachBatch re-delivers the same batch id; the
    // ledger check must make the re-merge a no-op
    val replayed = spark.read.json(s"$in/docs_000.json")
    CdcStream.screenAndAbsorb(spark, replayed, 0L, idx, ckpt,
      CdcStream.Screen.fingerprint, (df, _) => { df.count(); () })
    assert(spark.read.parquet(s"$idx/postings").count() === afterRestart,
      "replaying an absorbed batch id must not duplicate postings")
    val ledgerRows = spark.read.parquet(s"$idx/_ledger").count()
    assert(ledgerRows === 1L, "exactly one ledger row per absorbed batch")
  }

  test("ANN screen-and-absorb stream catches cross-batch near-dup vectors") {
    import graft.ops.SimilarityOps
    import graft.engine.Compaction
    import org.apache.spark.sql.types.{ArrayType, DoubleType, StructType}
    val in = Files.createTempDirectory("as_in").toString
    val ckpt = Files.createTempDirectory("as_ckpt").toString
    val idx = Files.createTempDirectory("as_idx").toString
    // 10 base vectors in 4 near-one-hot directions; exact copies give
    // cosine 1.0, cross-direction pairs stay far below the threshold
    def baseVec(i: Int): Seq[Double] =
      Seq.tabulate(4)(j => if (j == i % 4) 1.0 + i else 0.01 * (j + 1))
    val base = (0 until 10).map(i => (i.toLong, baseVec(i)))
      .toDF("vec_id", "embedding")
    SimilarityOps.buildIvfIndex(base, idx)
    def jline(id: Long, v: Seq[Double]) =
      s"""{"vec_id":$id,"embedding":[${v.mkString(",")}]}"""
    val fresh = Seq(0.5, 0.5, 0.5, 0.5)
    // batch 0: an exact copy of base vec 2 + a genuinely new direction;
    // batch 1: an exact copy of batch 0's NEW vector — catching it
    // requires batch 0 to have been absorbed into the index
    val f0 = java.nio.file.Paths.get(in, "vecs_000.json")
    Files.writeString(f0,
      jline(100, baseVec(2)) + "\n" + jline(101, fresh) + "\n")
    Files.setLastModifiedTime(f0, java.nio.file.attribute.FileTime
      .fromMillis(System.currentTimeMillis() - 60000))
    Files.writeString(java.nio.file.Paths.get(in, "vecs_001.json"),
      jline(200, fresh) + "\n")
    val hits = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val schema = new StructType().add("vec_id", "long")
      .add("embedding", ArrayType(DoubleType))
    val q = CdcStream.annScreenStream(spark, s"$in/vecs_*.json", ckpt,
      schema, idx, topK = 3, minCosine = 0.999,
      (df, _) => hits ++= df.select("q_id", "vec_id").as[(Long, Long)].collect(),
      maintainEvery = 1, maintainMaxFiles = 1) // tick between batches too
    q.awaitTermination()
    val all = hits.toSet
    assert(all.contains((100L, 2L)), "batch-0 copy of an indexed vector")
    assert(all.contains((200L, 101L)),
      "batch 1 must be screened against batch 0's absorbed vectors")
    assert(!all.exists(_._1 == 101L), "the fresh direction must not fire")
    // absorbed exactly once each, through the maintenance ticks
    val assigned = spark.read
      .parquet(Compaction.resolve(s"$idx/assignments"))
    assert(assigned.select("vec_id").distinct().count() === 13L)
    assert(assigned.count() === 13L, "no duplicate assignment rows")
    assert(spark.read.parquet(Compaction.resolve(s"$idx/_ledger"))
      .count() === 2L, "one ledger row per absorbed batch")
    // re-delivery of an already-absorbed batch id is a no-op merge
    val replayed = spark.read.schema(schema).json(s"$in/vecs_001.json")
    CdcStream.screenAndAbsorb(spark, replayed, 1L, idx, ckpt,
      CdcStream.Screen.ivf(3, 0.999, 1), (df, _) => { df.count(); () })
    assert(spark.read.parquet(Compaction.resolve(s"$idx/assignments"))
      .count() === 13L, "replaying an absorbed batch must not duplicate")
  }

  test("ANN stream drift retrain: a drifted feed trips the tick, the " +
    "index retrains between batches to a fresh-build-identical state") {
    import graft.ops.SimilarityOps
    import graft.engine.Compaction
    import org.apache.spark.sql.types.{ArrayType, DoubleType, StructType}
    val in = Files.createTempDirectory("ar_in").toString
    val ckpt = Files.createTempDirectory("ar_ckpt").toString
    val idx = Files.createTempDirectory("ar_idx").toString
    def vec(i: Int, shift: Double): Seq[Double] =
      Seq.tabulate(4)(j => shift + (if (j == i % 4) 1.0 + i else 0.01 * j))
    // build regime near the origin; the stream's feed lands 50 units
    // away — every batch far from every frozen centroid
    val built = (0 until 8).map(i => (i.toLong, vec(i, 0.0)))
    SimilarityOps.buildIvfIndex(built.toDF("vec_id", "embedding"), idx,
      k = 4, iters = 2)
    def jline(id: Long, v: Seq[Double]) =
      s"""{"vec_id":$id,"embedding":[${v.mkString(",")}]}"""
    // batch 0: four drifted vectors; batch 1: an exact copy of one of
    // them (cross-batch screen) — the retrain tick fires after batch 1
    val f0 = java.nio.file.Paths.get(in, "vecs_000.json")
    Files.writeString(f0, (100 until 104)
      .map(i => jline(i.toLong, vec(i, 50.0))).mkString("\n") + "\n")
    Files.setLastModifiedTime(f0, java.nio.file.attribute.FileTime
      .fromMillis(System.currentTimeMillis() - 60000))
    Files.writeString(java.nio.file.Paths.get(in, "vecs_001.json"),
      jline(200, vec(100, 50.0)) + "\n")
    val hits = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val schema = new StructType().add("vec_id", "long")
      .add("embedding", ArrayType(DoubleType))
    val q = CdcStream.annScreenStream(spark, s"$in/vecs_*.json", ckpt,
      schema, idx, topK = 3, minCosine = 0.999,
      (df, _) => hits ++= df.select("q_id", "vec_id").as[(Long, Long)].collect(),
      retrainEvery = 1)
    q.awaitTermination()
    assert(hits.toSet.contains((200L, 100L)),
      "the cross-batch copy must be screened before the retrain")
    // the tick retrained: drift ledger reset, centroids republished
    // inside the live assignments version
    assert(!SimilarityOps.shouldRetrain(spark, idx),
      "the in-stream retrain must have reset the drift signal")
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(
      Compaction.resolve(s"$idx/assignments"), "_centroids")),
      "retrained centroids must ride the published version dir")
    // and the retrained index equals a FRESH build on everything the
    // stream absorbed (13 vectors), bit for bit
    val fresh = Files.createTempDirectory("ar_fresh").toString
    val all = built ++ (100 until 104).map(i => (i.toLong, vec(i, 50.0))) ++
      Seq((200L, vec(100, 50.0)))
    SimilarityOps.buildIvfIndex(all.toDF("vec_id", "embedding"), fresh,
      k = 4, iters = 2)
    val qv = vec(102, 50.0)
    def top(p: String) = SimilarityOps.queryIvfIndex(spark, p, qv, 5,
      nprobe = 1).collect().map(r => (r.getLong(0), r.getLong(1),
      r.getDouble(2))).toSeq
    assert(top(idx) === top(fresh),
      "post-retrain probe must equal the fresh-build probe bit-for-bit")
    // replaying an absorbed batch against the RETRAINED index is still
    // a no-op (the ledger survives the republish)
    val n = spark.read.parquet(Compaction.resolve(s"$idx/assignments")).count()
    val replayed = spark.read.schema(schema).json(s"$in/vecs_001.json")
    CdcStream.screenAndAbsorb(spark, replayed, 1L, idx, ckpt,
      CdcStream.Screen.ivf(3, 0.999, 1), (df, _) => { df.count(); () })
    assert(spark.read.parquet(Compaction.resolve(s"$idx/assignments"))
      .count() === n, "replay after retrain must not duplicate")
  }

  test("streaming vocab view: batches absorb exactly once, view equals " +
    "the one-shot aggregate") {
    import graft.ops.TextOps
    import org.apache.spark.sql.types.StructType
    val in = Files.createTempDirectory("vv_in").toString
    val ckpt = Files.createTempDirectory("vv_ckpt").toString
    val view = Files.createTempDirectory("vv_view").toString
    val batches = Seq(
      Seq((1L, "spark rows table table"), (2L, "rows merge")),
      Seq((3L, "table merge merge spark")),
      Seq((4L, "rows rows table")))
    TextOps.buildVocabIndex(
      Seq((0L, "spark table")).toDF("doc_id", "text"), view)
    batches.zipWithIndex.foreach { case (docs, i) =>
      val f = java.nio.file.Paths.get(in, f"docs_$i%03d.json")
      Files.writeString(f, docs.map { case (id, t) =>
        s"""{"doc_id":$id,"text":"$t"}""" }.mkString("", "\n", "\n"))
      Files.setLastModifiedTime(f, java.nio.file.attribute.FileTime
        .fromMillis(System.currentTimeMillis() - (600 - i * 60) * 1000L))
    }
    val schema = new StructType().add("doc_id", "long").add("text", "string")
    val q = CdcStream.vocabAbsorbStream(spark, s"$in/docs_*.json", ckpt,
      schema, view, maintainEvery = 1, maintainMaxFiles = 1)
    q.awaitTermination()
    def top() = TextOps.queryVocabTopK(spark, view, 20)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    // view == one-shot aggregate over everything ever absorbed
    val allDocs = (Seq((0L, "spark table")) ++ batches.flatten)
      .toDF("doc_id", "text")
    val full = TextOps.vocabTopK(allDocs, 20)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(top() === full)
    // replaying an absorbed batch id must NOT double-add partials — the
    // failure an additive aggregate cannot tolerate
    val replayed = spark.read.schema(schema).json(s"$in/docs_001.json")
    CdcStream.vocabAbsorb(spark, replayed, 1L, view, ckpt)
    assert(top() === full, "replay must be a ledger no-op")
    // the stored-view READERS compose with the streamed view: LM scores
    // and BPE pair counts off the streamed-into view equal the inline
    // ops over everything ever absorbed
    val lmStored = TextOps.lmScoreStored(spark, allDocs, view)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq.sorted
    val lmInline = TextOps.lmScore(allDocs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq.sorted
    assert(lmStored === lmInline,
      "stored-view LM over a streamed view must equal inline")
    val bpeStored = TextOps.bpePairCountsStored(spark, view, 10)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val bpeInline = TextOps.bpePairCounts(allDocs, 10)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(bpeStored === bpeInline,
      "stored-view BPE counts over a streamed view must equal inline")
  }

  test("streaming distinct view: sketches absorb exactly once through " +
    "maintenance ticks; DELETE batches retract per-pair counts") {
    import graft.engine.{Compaction, Stats}
    import org.apache.spark.sql.types.StructType
    val in = Files.createTempDirectory("dv_in").toString
    val ckpt = Files.createTempDirectory("dv_ckpt").toString
    val view = Files.createTempDirectory("dv_view").toString
    Stats.buildDistinctView(
      Seq(("click", 1L), ("click", 2L)).toDF("event_type", "user_id"),
      "event_type", "user_id", view)
    val batches = Seq(
      Seq(("click", 2L), ("view", 7L)),   // user 2 is a cross-batch repeat
      Seq(("click", 3L), ("view", 7L)),   // user 7 repeats within 'view'
      Seq(("click", 4L)))
    batches.zipWithIndex.foreach { case (evs, i) =>
      val f = java.nio.file.Paths.get(in, f"ev_$i%03d.json")
      Files.writeString(f, evs.map { case (t, u) =>
        s"""{"event_type":"$t","user_id":$u}""" }.mkString("", "\n", "\n"))
      Files.setLastModifiedTime(f, java.nio.file.attribute.FileTime
        .fromMillis(System.currentTimeMillis() - (600 - i * 60) * 1000L))
    }
    val schema = new StructType().add("event_type", "string")
      .add("user_id", "long")
    val q = CdcStream.distinctAbsorbStream(spark, s"$in/ev_*.json", ckpt,
      schema, view, "event_type", "user_id",
      maintainEvery = 1, maintainMaxFiles = 1)
    q.awaitTermination()
    def est() = Stats.queryDistinctView(spark, view, "event_type")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // at these cardinalities the HLL is in exact (sparse) range: the
    // view must count distinct users precisely, repeats collapsed
    assert(est() === Map("click" -> 4L, "view" -> 1L))
    val rowsBefore = spark.read
      .parquet(Compaction.resolve(s"$view/sketches")).count()
    // replaying an absorbed batch id is a ledger no-op: no new partials
    val replayed = spark.read.schema(schema).json(s"$in/ev_001.json")
    CdcStream.distinctAbsorb(spark, replayed, 1L, view, "event_type",
      "user_id", ckpt)
    assert(spark.read.parquet(Compaction.resolve(s"$view/sketches")).count()
      === rowsBefore, "replay must append nothing")
    assert(est() === Map("click" -> 4L, "view" -> 1L))
    // a CDC DELETE retracts through the exact companion (r17). User 2
    // was absorbed TWICE in 'click' (build + batch 0), so one delete
    // nets its pair to 1 — still distinct:
    def exact() = Stats.queryDistinctViewExact(spark, view, "event_type")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val del = Seq(("click", 2L, "DELETE"))
      .toDF("event_type", "user_id", "op")
    CdcStream.distinctAbsorb(spark, del, 99L, view, "event_type",
      "user_id", ckpt)
    assert(exact() === Map("click" -> 4L, "view" -> 1L),
      "a key with remaining events stays distinct")
    // the second delete (identical content, NEW batch id → new stream
    // tag) nets the pair to zero: the key leaves the exact view at
    // once, and the HLL view after the rebuild tick
    val del2 = Seq(("click", 2L, "DELETE"))
      .toDF("event_type", "user_id", "op")
    CdcStream.distinctAbsorb(spark, del2, 100L, view, "event_type",
      "user_id", ckpt)
    assert(exact() === Map("click" -> 3L, "view" -> 1L))
    assert(est() === Map("click" -> 4L, "view" -> 1L),
      "pre-tick HLL over-counts by design")
    CdcStream.maintainStreamedIndex(spark, view, "hll")
    assert(est() === Map("click" -> 3L, "view" -> 1L),
      "the tick rebuilds the sketches from the netted pairs")
  }

  test("streaming image dedup: real decode, stored-index screen, " +
    "cross-batch absorb, ledger replay no-op") {
    import graft.ops.{DedupOps, Multimodal}
    import graft.engine.Compaction
    import org.apache.spark.sql.types.StructType
    val in = Files.createTempDirectory("img_in").toString
    val ckpt = Files.createTempDirectory("img_ckpt").toString
    val idx = Files.createTempDirectory("img_idx").toString
    // index two distinct rasters (id 1, 9)
    val base = Seq(
      (1L, Multimodal.syntheticPng(1L, 8, 8)),
      (9L, Multimodal.syntheticPng(9L, 16, 12))).toDF("doc_id", "payload")
    DedupOps.buildHashIndex(Multimodal.imageAHash(base), idx)
    def jline(id: Long, png: Array[Byte]) = {
      val b64 = java.util.Base64.getEncoder.encodeToString(png)
      s"""{"doc_id":$id,"payload":"$b64"}"""
    }
    // batch 0: a raster-identical twin of indexed id 1 (id 257 — mod-256
    // collision) + a genuinely fresh raster; batch 1: a twin of batch
    // 0's FRESH raster — catching it needs batch 0 absorbed
    def mtime(name: String, agoMs: Long): Unit =
      Files.setLastModifiedTime(java.nio.file.Paths.get(in, name),
        java.nio.file.attribute.FileTime
          .fromMillis(System.currentTimeMillis() - agoMs))
    val f0 = java.nio.file.Paths.get(in, "img_000.json")
    Files.writeString(f0,
      jline(257, Multimodal.syntheticPng(257L, 8, 8)) + "\n" +
        jline(300, Multimodal.syntheticPng(300L, 12, 12)) + "\n")
    mtime("img_000.json", 120000)
    Files.writeString(java.nio.file.Paths.get(in, "img_001.json"),
      jline(556, Multimodal.syntheticPng(300L, 12, 12)) + "\n")
    mtime("img_001.json", 90000)
    // batch 2: CDC DELETEs for the raster-300 twins (both absorbed
    // ids), key-only rows; batch 3: a fresh id with that same raster —
    // it must NOT hit anything once the deletes are served
    Files.writeString(java.nio.file.Paths.get(in, "img_002.json"),
      """{"doc_id":300,"payload":null,"op":"DELETE"}""" + "\n" +
        """{"doc_id":556,"payload":null,"op":"DELETE"}""" + "\n")
    mtime("img_002.json", 60000)
    Files.writeString(java.nio.file.Paths.get(in, "img_003.json"),
      jline(700, Multimodal.syntheticPng(300L, 12, 12)) + "\n")
    mtime("img_003.json", 30000)
    // batch 4: the CDC UPDATE shape — DELETE and re-INSERT of the SAME
    // id in one batch (the Debezium-style transaction file); the stream
    // must serve the deletion inline (forced tick) and land the new
    // raster, never crash-loop
    Files.writeString(java.nio.file.Paths.get(in, "img_004.json"),
      """{"doc_id":257,"payload":null,"op":"DELETE"}""" + "\n" +
        jline(257, Multimodal.syntheticPng(900L, 9, 9)) + "\n")
    mtime("img_004.json", 15000)
    val hits = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
    val schema = new StructType().add("doc_id", "long")
      .add("payload", "string").add("op", "string")
    val q = CdcStream.imageScreenStream(spark, s"$in/img_*.json", ckpt,
      schema, idx, maxDist = 0,
      (df, _) => hits ++= df
        .select("doc_new", "doc_old", "hamming")
        .as[(Long, Long, Long)].collect(),
      maintainEvery = 1, maintainMaxFiles = 1)
    q.awaitTermination()
    val all = hits.toSet
    assert(all.contains((257L, 1L, 0L)), "twin of an indexed raster")
    assert(all.contains((556L, 300L, 0L)),
      "batch 1 must screen against batch 0's absorbed raster")
    assert(!all.exists(_._1 == 300L), "the fresh raster must not fire")
    // the CDC DELETE batch removed both raster-300 ids before batch 3
    // screened — the same raster no longer matches anything
    assert(!all.exists(_._1 == 700L),
      "a raster whose twins were DELETEd must not hit")
    // the same-batch UPDATE landed: 257 now carries the raster-900
    // image (its twin matches), and its OLD raster no longer does
    val newProbe = Multimodal.imageAHash(Seq(
      (1156L, Multimodal.syntheticPng(900L, 9, 9))).toDF("doc_id", "payload"))
    assert(DedupOps.queryHashIndex(spark, newProbe, idx, 0)
      .select("doc_old").collect().map(_.getLong(0)).toSet === Set(257L),
      "the updated raster must be screenable")
    val oldProbe = Multimodal.imageAHash(Seq(
      (1157L, Multimodal.syntheticPng(257L, 8, 8))).toDF("doc_id", "payload"))
    assert(!DedupOps.queryHashIndex(spark, oldProbe, idx, 0)
      .select("doc_old").collect().map(_.getLong(0)).contains(257L),
      "the update's old raster must be gone for 257")
    // replaying an absorbed batch id appends nothing (ledger no-op)
    val bandRowsNow = spark.read
      .parquet(Compaction.resolve(s"$idx/bands")).count()
    val replayed = spark.read.schema(schema).json(s"$in/img_001.json")
    CdcStream.screenAndAbsorb(spark, replayed, 1L, idx, ckpt,
      CdcStream.Screen.image(0), (df, _) => { df.count(); () })
    assert(spark.read.parquet(Compaction.resolve(s"$idx/bands")).count()
      === bandRowsNow, "replay must not duplicate band rows")
    // the maintenance tick collapsed the per-merge appends
    assert(Compaction.filesPerPartition(s"$idx/bands").values.sum <= 2,
      "ahash compaction must bound the band-table file debt")
  }

  test("streaming tokenizer lifecycle: absorb -> drift detect -> " +
    "retrain from the view the stream itself maintains") {
    import graft.ops.TextOps
    import org.apache.spark.sql.types.StructType
    val in = Files.createTempDirectory("tk_in").toString
    val ckpt = Files.createTempDirectory("tk_ckpt").toString
    val view = Files.createTempDirectory("tk_view").toString
    val tok = Files.createTempDirectory("tk_tok").toString + "/tok"
    TextOps.buildVocabIndex(
      Seq((0L, "alpha beta alpha")).toDF("doc_id", "text"), view)
    val batches = Seq(
      Seq((1L, "alpha beta gamma alpha beta")),   // letters: seeds the artifact
      Seq((2L, "beta gamma delta")),              // letters: no drift, no retrain
      Seq((3L, "zq77 zq77 zq77 zq77 epsilon")))   // digits: UNK mass -> retrain
    batches.zipWithIndex.foreach { case (docs, i) =>
      val f = java.nio.file.Paths.get(in, f"docs_$i%03d.json")
      Files.writeString(f, docs.map { case (id, t) =>
        s"""{"doc_id":$id,"text":"$t"}""" }.mkString("", "\n", "\n"))
      Files.setLastModifiedTime(f, java.nio.file.attribute.FileTime
        .fromMillis(System.currentTimeMillis() - (600 - i * 60) * 1000L))
    }
    val schema = new StructType().add("doc_id", "long").add("text", "string")
    val q = CdcStream.vocabTokenizerStream(spark, s"$in/docs_*.json", ckpt,
      schema, view, tok, rules = 2, retrainEvery = 1, unkThreshold = 0.05)
    q.awaitTermination()
    // the final artifact was retrained AFTER the drifted batch absorbed
    // into the view, so the drifted vocabulary is covered: zero UNKs
    val drifted = Seq((100L, "zq77 zq77")).toDF("doc_id", "text")
    assert(TextOps.tokenizerUnkRate(spark, drifted, tok) === 0.0,
      "the post-drift retrain must cover the new symbols")
    // and a sample matching the view trips nothing further
    assert(!CdcStream.maintainTokenizer(spark, view, tok, drifted, 2, 0.05),
      "no drift -> no retrain")
    // genuinely novel symbols still register as drift against the
    // refreshed artifact (the signal stays live after a retrain)
    val novel = Seq((101L, "xx xx xx xx")).toDF("doc_id", "text")
    assert(TextOps.tokenizerUnkRate(spark, novel, tok) > 0.0)
  }

  test("streaming snapshot OPTIMIZE + export: absorb exactly once, " +
    "z-order tick + verified export, crash replay consistent") {
    import graft.engine.SnapshotStore
    import graft.ops.SamplingOps
    import org.apache.spark.sql.types.StructType
    val in = Files.createTempDirectory("snap_in").toString
    val ckpt = Files.createTempDirectory("snap_ckpt").toString
    val root = Files.createTempDirectory("snap_store").toString + "/docs"
    val exp = Files.createTempDirectory("snap_exp").toString + "/shards"
    val batches = Seq(
      Seq((1L, "alpha beta gamma delta", 22), (2L, "epsilon zeta", 12)),
      Seq((3L, "eta theta iota kappa", 20)),
      Seq((4L, "lambda mu nu xi omicron", 23), (5L, "pi rho", 6)),
      Seq((6L, "sigma tau upsilon", 17)))
    batches.zipWithIndex.foreach { case (docs, i) =>
      val f = java.nio.file.Paths.get(in, f"docs_$i%03d.json")
      Files.writeString(f, docs.map { case (id, t, nc) =>
        s"""{"doc_id":$id,"text":"$t","n_chars":$nc}""" }
        .mkString("", "\n", "\n"))
      Files.setLastModifiedTime(f, java.nio.file.attribute.FileTime
        .fromMillis(System.currentTimeMillis() - (600 - i * 60) * 1000L))
    }
    val schema = new StructType().add("doc_id", "long")
      .add("text", "string").add("n_chars", "int")
    val q = CdcStream.snapshotAbsorbStream(spark, s"$in/docs_*.json", ckpt,
      schema, root, a = "n_chars", b = "doc_id", tie = "doc_id",
      numFiles = 2, optimizeEvery = 2, keepVersions = 2,
      exportPath = Some(exp), tokensPerShard = 6L)
    q.awaitTermination()
    val store = new SnapshotStore(spark, root)
    def ids() = store.read().get.select("doc_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(ids() === (1L to 6L), "snapshot = union of every batch")
    // the optimize tick ran (at batch id 2): versions were vacuumed to
    // the retention bound
    assert(store.versions().size <= 3,
      s"vacuum must bound versions, got ${store.versions()}")
    // crash BEFORE checkpoint commit: the batch re-delivers with the
    // same id — the ledger makes the re-publish a no-op
    val vBefore = store.versions().size
    val replay = spark.read.schema(schema).json(s"$in/docs_001.json")
    CdcStream.snapshotAbsorb(spark, replay, 1L, root, ckpt)
    assert(store.versions().size === vBefore && ids() === (1L to 6L),
      "replaying an absorbed batch id must publish nothing")
    // the OTHER crash window — publish succeeded, ledger append did NOT
    // (simulated with a fresh stream id + batch id, so neither the
    // ledger nor the real stream's high-water is touched): the keyed
    // union must publish a content-identical version instead of
    // duplicating the batch's rows
    CdcStream.snapshotAbsorb(spark, replay, 0L, root, "crash-sim")
    assert(ids() === (1L to 6L),
      "a replayed merge against a snapshot already containing the batch " +
        "must not duplicate rows (keyed upsert)")
    assert(store.read().get.count() === 6L)
    // and the upsert's other half: a genuine UPDATE to an existing key
    // lands its new content (a key-presence filter would drop it)
    val upd = Seq((3L, "eta theta iota kappa REVISED", 28))
      .toDF("doc_id", "text", "n_chars")
    CdcStream.snapshotAbsorb(spark, upd, 1L, root, "update-sim")
    assert(store.read().get.filter($"doc_id" === 3L)
      .select("text").head().getString(0).endsWith("REVISED"),
      "an updated document must replace its old content")
    assert(store.read().get.count() === 6L, "update, not append")
    // op-aware DELETE (right-to-be-forgotten): a mixed batch removes
    // doc 2 and upserts doc 8 in ONE published version
    val mixed = Seq(
      (2L, null.asInstanceOf[String], 0, "DELETE"),
      (8L, "omega", 5, "INSERT")).toDF("doc_id", "text", "n_chars", "op")
    CdcStream.snapshotAbsorb(spark, mixed, 2L, root, "update-sim")
    assert(ids() === Seq(1L, 3L, 4L, 5L, 6L, 8L),
      "the DELETE must remove its key and the INSERT must land")
    // deleting an absent key is a SQL-DELETE no-op
    CdcStream.snapshotAbsorb(spark,
      Seq((99L, null.asInstanceOf[String], 0, "DELETE"))
        .toDF("doc_id", "text", "n_chars", "op"),
      3L, root, "update-sim")
    assert(ids() === Seq(1L, 3L, 4L, 5L, 6L, 8L))
    // intra-batch key discipline: exact duplicate ROWS fold silently
    // (a file re-delivering the same record), but two DIFFERENT rows
    // for one key are refused — no order column exists to arbitrate
    // last-write-wins, and keeping both would bake duplicate keys into
    // every later version
    CdcStream.snapshotAbsorb(spark,
      Seq((9L, "same", 4), (9L, "same", 4)).toDF("doc_id", "text", "n_chars"),
      4L, root, "update-sim")
    assert(ids() === Seq(1L, 3L, 4L, 5L, 6L, 8L, 9L),
      "exact duplicate rows fold to one")
    val dupErr = intercept[IllegalArgumentException] {
      CdcStream.snapshotAbsorb(spark,
        Seq((10L, "first", 5), (10L, "second", 6))
          .toDF("doc_id", "text", "n_chars"),
        5L, root, "update-sim")
    }
    assert(dupErr.getMessage.contains("conflicting rows"))
    assert(ids() === Seq(1L, 3L, 4L, 5L, 6L, 8L, 9L),
      "a refused batch publishes nothing")
    // crash INSIDE the maintenance tick: the re-run (restart path) is
    // answer-idempotent — same rows, export still verifies
    CdcStream.optimizeSnapshotTick(spark, root, "n_chars", "doc_id",
      "doc_id", 2, 2, Some(exp), 6L)
    assert(ids() === Seq(1L, 3L, 4L, 5L, 6L, 8L, 9L),
      "a replayed tick must not change answers")
    // the tick's OPTIMIZE publish is the current version now: z-ordered
    // into the numFiles range partitions
    val curDir = s"$root/v${store.currentVersion().get}"
    val zFiles = new java.io.File(curDir).listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(zFiles <= 2, s"OPTIMIZE publish must respect numFiles, got $zFiles")
    // the tick re-exported from the final snapshot — the export was
    // verified at publish time inside the tick; independently re-verify
    def mrows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getString(5))).sortBy(_._1).toSeq
    assert(mrows(SamplingOps.manifestOf(spark.read.parquet(exp)
        .select($"doc_id", $"n_tokens", $"shard_id".cast("long"))))
      === mrows(SamplingOps.shardManifest(store.read().get, 6L)),
      "exported shards must reproduce the planning manifest")
    // restart with a NEW batch: same checkpoint, only the new file runs
    val late = java.nio.file.Paths.get(in, "docs_004.json")
    Files.writeString(late, s"""{"doc_id":7,"text":"phi chi psi","n_chars":11}\n""")
    val q2 = CdcStream.snapshotAbsorbStream(spark, s"$in/docs_*.json", ckpt,
      schema, root, a = "n_chars", b = "doc_id", tie = "doc_id",
      numFiles = 2, optimizeEvery = 2, keepVersions = 2,
      exportPath = Some(exp), tokensPerShard = 6L)
    q2.awaitTermination()
    assert(ids() === Seq(1L, 3L, 4L, 5L, 6L, 7L, 8L, 9L),
      "the restarted stream must absorb exactly the new batch")
  }

  test("vocab view retraction: CDC DELETE nets counts out, replays no-op, " +
    "unmatched retraction fails the compaction") {
    import graft.ops.TextOps
    import graft.engine.Compaction
    val view = Files.createTempDirectory("vv_del_view").toString
    val ledger = Files.createTempDirectory("vv_del_ledger").toString
    val base = Seq(
      (1L, "spark rows table table"),
      (2L, "rows merge"),
      (3L, "table merge merge spark"))
    TextOps.buildVocabIndex(base.toDF("doc_id", "text"), view)
    def top() = TextOps.queryVocabTopK(spark, view, 20)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    def agg(docs: Seq[(Long, String)]) = TextOps.vocabTopK(
      docs.toDF("doc_id", "text"), 20)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq

    // a mixed CDC batch: doc 4 arrives, doc 2 is deleted (full row image,
    // the delete-capture contract) — one ledger entry for both halves
    val mixed = Seq(
      (4L, "vector vector rows", null.asInstanceOf[String]),
      (2L, "rows merge", "DELETE")).toDF("doc_id", "text", "op")
    CdcStream.vocabAbsorb(spark, mixed, 10L, view, ledger)
    val want = agg(Seq(base(0), base(2), (4L, "vector vector rows")))
    assert(top() === want, "view must equal the aggregate over live docs")

    // replaying the mixed batch re-applies NEITHER the add nor the delete
    CdcStream.vocabAbsorb(spark, mixed, 10L, view, ledger)
    assert(top() === want, "mixed-batch replay must be a ledger no-op")

    // delete the only doc containing 'vector': the word nets to zero and
    // leaves the view read immediately...
    TextOps.retractVocabIndex(
      Seq((4L, "vector vector rows")).toDF("doc_id", "text"), view)
    val want2 = agg(Seq(base(0), base(2)))
    assert(top() === want2, "fully-retracted word must leave the view")
    // ...and the re-aggregating compaction nets the zero rows away while
    // keeping live words intact
    assert(Compaction.compactIndex(spark, view, "vocab", maxFilesPerPartition = 1))
    assert(top() === want2, "compaction must preserve the netted view")
    val stored = spark.read.parquet(Compaction.resolve(s"$view/counts"))
    assert(stored.filter($"word" === "vector").isEmpty,
      "zero-netted word must be dropped by the compaction rewrite")

    // contract violation: retract a doc that was never absorbed — the
    // READ path must refuse to serve the negative-count view (silently
    // dropping the word would hide the corruption)
    def chain(t: Throwable): String = Iterator.iterate(t)(_.getCause)
      .takeWhile(_ != null).map(e => String.valueOf(e.getMessage)).mkString(" | ")
    TextOps.retractVocabIndex(
      Seq((9L, "unseen words here")).toDF("doc_id", "text"), view)
    val exRead = intercept[Throwable] { top() }
    assert(chain(exRead).contains("netted negative"), chain(exRead))
    // ...and once append debt triggers a rewrite, the compaction refuses
    // to PUBLISH it (same guard at the other lifecycle point)
    TextOps.retractVocabIndex(
      Seq((9L, "unseen words here")).toDF("doc_id", "text"), view)
    TextOps.retractVocabIndex(
      Seq((9L, "unseen words here")).toDF("doc_id", "text"), view)
    val ex = intercept[Throwable] {
      Compaction.compactIndex(spark, view, "vocab", maxFilesPerPartition = 1)
    }
    assert(chain(ex).contains("netted negative"), chain(ex))
  }

  test("IVF-PQ screen-and-absorb stream catches cross-batch dup vectors by ADC") {
    import graft.ops.SimilarityOps
    import graft.engine.Compaction
    import org.apache.spark.sql.types.{ArrayType, DoubleType, StructType}
    val in = Files.createTempDirectory("pqs_in").toString
    val ckpt = Files.createTempDirectory("pqs_ckpt").toString
    val idx = Files.createTempDirectory("pqs_idx").toString
    def baseVec(i: Int): Seq[Double] =
      Seq.tabulate(4)(j => if (j == i % 4) 1.0 + i else 0.01 * (j + 1))
    val base = (0 until 10).map(i => (i.toLong, baseVec(i)))
      .toDF("vec_id", "embedding")
    // m=2 subspaces over 4 dims; ksub>corpus → codebooks hold every
    // distinct subvector, so any vector WHOSE SUBVECTORS are codewords
    // screens at exactly its candidate's code distance. `fresh` splices
    // vec 0's sub0 with vec 3's sub1: zero quantization distortion (both
    // halves are codewords) yet equal to NO indexed vector — the crisp
    // ADC=0 self-match the quantized screen can certify, while every
    // indexed candidate differs from it in one subspace (ADC ≥ 0.98)
    SimilarityOps.buildIvfPqIndex(base, idx, m = 2, ksub = 16)
    def jline(id: Long, v: Seq[Double]) =
      s"""{"vec_id":$id,"embedding":[${v.mkString(",")}]}"""
    val fresh = Seq(1.0, 0.02, 0.03, 4.0)
    val f0 = java.nio.file.Paths.get(in, "vecs_000.json")
    Files.writeString(f0,
      jline(100, baseVec(2)) + "\n" + jline(101, fresh) + "\n")
    Files.setLastModifiedTime(f0, java.nio.file.attribute.FileTime
      .fromMillis(System.currentTimeMillis() - 60000))
    Files.writeString(java.nio.file.Paths.get(in, "vecs_001.json"),
      jline(200, fresh) + "\n")
    val hits = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val schema = new StructType().add("vec_id", "long")
      .add("embedding", ArrayType(DoubleType))
    val q = CdcStream.ivfPqScreenStream(spark, s"$in/vecs_*.json", ckpt,
      schema, idx, topK = 3, maxAdc = 1e-6,
      (df, _) => hits ++= df.select("q_id", "vec_id").as[(Long, Long)].collect(),
      maintainEvery = 1, maintainMaxFiles = 1)
    q.awaitTermination()
    val all = hits.toSet
    assert(all.contains((100L, 2L)),
      "an exact copy of an indexed vector screens at ADC 0")
    assert(all.contains((200L, 101L)),
      "batch 1 must be screened against batch 0's absorbed codes")
    assert(!all.exists(_._1 == 101L), "the fresh direction must not fire")
    // absorbed exactly once each, through the maintenance ticks
    val codes = spark.read.parquet(Compaction.resolve(s"$idx/codes"))
    assert(codes.select("vec_id").distinct().count() === 13L)
    assert(codes.count() === 13L, "no duplicate code rows")
    // re-delivery of an already-absorbed batch id is a no-op merge
    val replayed = spark.read.schema(schema).json(s"$in/vecs_001.json")
    CdcStream.screenAndAbsorb(spark, replayed, 1L, idx, ckpt,
      CdcStream.Screen.ivfPq(3, 1e-6, 2), (df, _) => { df.count(); () })
    assert(spark.read.parquet(Compaction.resolve(s"$idx/codes"))
      .count() === 13L, "replaying an absorbed batch must not duplicate")
  }

  test("IVF-PQ stream drift rebuild: a drifted feed trips the tick, the " +
    "index rebuilds from the caller's source to a fresh-build state") {
    import graft.ops.SimilarityOps
    import graft.engine.Compaction
    import org.apache.spark.sql.types.{ArrayType, DoubleType, StructType}
    val in = Files.createTempDirectory("pr_in").toString
    val ckpt = Files.createTempDirectory("pr_ckpt").toString
    val idx = Files.createTempDirectory("pr_idx").toString
    def vec(i: Int, shift: Double): Seq[Double] =
      Seq.tabulate(4)(j => shift + (if (j == i % 4) 1.0 + i else 0.01 * j))
    // build regime near the origin; the stream's feed lands 50 units
    // away — every batch quantizes badly against the frozen codebooks
    val built = (0 until 8).map(i => (i.toLong, vec(i, 0.0)))
    SimilarityOps.buildIvfPqIndex(built.toDF("vec_id", "embedding"), idx,
      k = 4, m = 2, ksub = 4)
    def jline(id: Long, v: Seq[Double]) =
      s"""{"vec_id":$id,"embedding":[${v.mkString(",")}]}"""
    val streamed = (100 until 104).map(i => (i.toLong, vec(i, 50.0))) ++
      Seq((200L, vec(104, 50.0)))
    val f0 = java.nio.file.Paths.get(in, "vecs_000.json")
    Files.writeString(f0, streamed.take(4)
      .map { case (id, v) => jline(id, v) }.mkString("\n") + "\n")
    Files.setLastModifiedTime(f0, java.nio.file.attribute.FileTime
      .fromMillis(System.currentTimeMillis() - 60000))
    Files.writeString(java.nio.file.Paths.get(in, "vecs_001.json"),
      jline(200L, vec(104, 50.0)) + "\n")
    val schema = new StructType().add("vec_id", "long")
      .add("embedding", ArrayType(DoubleType))
    // the caller's source of truth: everything it ever fed (build +
    // stream) — exactly what a snapshot-store current view would hold.
    // PQ codes are lossy, so the rebuild MUST read this, not the index.
    val all = built ++ streamed
    val q = CdcStream.ivfPqScreenStream(spark, s"$in/vecs_*.json", ckpt,
      schema, idx, topK = 3, maxAdc = 1e-6,
      (df, _) => { df.count(); () },
      rebuildEvery = 1,
      rebuildFrom = s => { import s.implicits._
        all.toDF("vec_id", "embedding") })
    q.awaitTermination()
    // the tick rebuilt: drift ledger reset, both control planes
    // republished inside the live codes version
    assert(!SimilarityOps.shouldRetrainPq(spark, idx),
      "the in-stream rebuild must have reset the drift signal")
    val verDir = Compaction.resolve(s"$idx/codes")
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(verDir, "_centroids")) &&
      java.nio.file.Files.exists(
        java.nio.file.Paths.get(verDir, "_codebooks")),
      "rebuilt control planes must ride the published version dir")
    // and the rebuilt index equals a FRESH build on the source corpus
    val fresh = Files.createTempDirectory("pr_fresh").toString
    SimilarityOps.buildIvfPqIndex(all.toDF("vec_id", "embedding"), fresh,
      k = 4, m = 2, ksub = 4)
    val qv = vec(102, 50.0)
    def top(p: String) = SimilarityOps.queryIvfPqIndex(spark, p, qv, 5,
      nprobe = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(top(idx) === top(fresh),
      "post-rebuild probe must equal the fresh-build probe bit-for-bit")
    // replaying an absorbed batch against the REBUILT index is still a
    // no-op (the ledger survives the republish)
    val n = spark.read.parquet(Compaction.resolve(s"$idx/codes")).count()
    val replayed = spark.read.schema(schema).json(s"$in/vecs_001.json")
    CdcStream.screenAndAbsorb(spark, replayed, 1L, idx, ckpt,
      CdcStream.Screen.ivfPq(3, 1e-6, 2), (df, _) => { df.count(); () })
    assert(spark.read.parquet(Compaction.resolve(s"$idx/codes"))
      .count() === n, "replay after rebuild must not duplicate")
  }

  test("maintenance tick beside the stream: files collapse, answers unchanged") {
    import graft.ops.DedupOps
    import graft.engine.Compaction
    import org.apache.spark.sql.types.StructType
    // the full lifecycle beside a LIVE stream (verdict r10 gap #1): six
    // micro-batches with maintenance every 2, vs the same stream
    // unmaintained — screening hits, postings content, ledger rows, and
    // post-stream query answers must be identical; only the file count
    // may differ (collapse)
    val in = Files.createTempDirectory("dm_in").toString
    val body = (1 to 40).map(j => s"mt$j").mkString(" ")
    (0 until 6).foreach { i =>
      val text =
        if (i % 2 == 0) s"$body tail v$i" // near-dup of the indexed doc 1
        else (1 to 50).map(j => s"fresh${i}x$j").mkString(" ")
      val f = java.nio.file.Paths.get(in, f"docs_$i%03d.json")
      Files.writeString(f, s"""{"doc_id":${100 + i},"text":"$text"}\n""")
      // strictly increasing mtimes → deterministic batch order
      Files.setLastModifiedTime(f, java.nio.file.attribute.FileTime
        .fromMillis(System.currentTimeMillis() - (600 - i * 60) * 1000L))
    }
    val schema = new StructType().add("doc_id", "long").add("text", "string")
    def run(maintainEvery: Int): (Set[(Long, Long)], String) = {
      val ckpt = Files.createTempDirectory("dm_ckpt").toString
      val idx = Files.createTempDirectory("dm_idx").toString
      DedupOps.buildFingerprintIndex(
        Seq((1L, s"$body tail one")).toDF("doc_id", "text"), idx)
      val hits = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      val q = CdcStream.dedupScreenStream(spark, s"$in/docs_*.json", ckpt,
        schema, idx,
        (df, _) => hits ++=
          df.select("doc_new", "doc_old").as[(Long, Long)].collect(),
        maintainEvery = maintainEvery, maintainMaxFiles = 1)
      q.awaitTermination()
      (hits.toSet, idx)
    }
    val (hitsA, idxA) = run(0) // never maintained
    val (hitsB, idxB) = run(2) // compact+vacuum every 2 batches
    assert(hitsA.nonEmpty && hitsA === hitsB,
      "maintenance must not change any screening decision")
    // no lost batches: identical postings CONTENT (not just counts) and
    // one ledger row per absorbed batch on both sides
    def postings(idx: String) =
      spark.read.parquet(Compaction.resolve(s"$idx/postings"))
        .orderBy("fp", "doc_id").collect().toSeq
    assert(postings(idxA) === postings(idxB),
      "compaction dropped or duplicated postings")
    def ledgerRows(idx: String) =
      spark.read.parquet(Compaction.resolve(s"$idx/_ledger")).count()
    assert(ledgerRows(idxA) === 6L && ledgerRows(idxB) === 6L)
    // the maintained index really went through the pointer-swap
    // lifecycle and carries fewer live files
    assert(Files.exists(java.nio.file.Paths.get(s"$idxB/postings/_CURRENT")),
      "expected at least one compaction to have published a version")
    val filesA = Compaction.filesPerPartition(s"$idxA/postings").values.sum
    val filesB = Compaction.filesPerPartition(s"$idxB/postings").values.sum
    assert(filesB < filesA, s"file count must collapse ($filesB vs $filesA)")
    // post-stream screening answers bit-identical across the two indexes
    val probe = Seq((900L, s"$body tail probe")).toDF("doc_id", "text")
    def screen(idx: String) =
      DedupOps.queryFingerprintIndex(spark, idx, probe)
        .orderBy("doc_old").collect().toSeq
    val sa = screen(idxA)
    assert(sa.nonEmpty && sa === screen(idxB))
  }

  test("streaming windowed aggregation with watermark matches the batch result") {
    import graft.engine.Tables
    // stream the events table (timestamp-unit detection applies) through an
    // event-time tumbling window with watermark, drain with AvailableNow
    // the streaming file source needs a directory; stage the table file
    val dir = Files.createTempDirectory("events_stream")
    Files.copy(java.nio.file.Paths.get(s"$sfDir/events.parquet"),
      dir.resolve("events.parquet"))
    val stream = Tables.eventsStream(spark, dir.toString)
      .withWatermark("ts", "1 hour")
      .groupBy(window($"ts", "1 hour"), $"event_type")
      .agg(count(lit(1)).as("n"))
    val q = stream.writeStream.outputMode("append")
      .format("memory").queryName("hourly_out")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.table("hourly_out")
      .select($"window.start".as("hour_start"), $"event_type", $"n")
    val expected = Tables.events(spark, sfDir)
      .groupBy(window($"ts", "1 hour").as("w"), $"event_type")
      .agg(count(lit(1)).as("n"))
      .select($"w.start".as("hour_start"), $"event_type", $"n")
    // append mode emits only windows closed by the watermark; every
    // emitted window must match the batch result, and most windows close
    val exp = expected.collect().map(r => (r.getTimestamp(0), r.getString(1)) -> r.getLong(2)).toMap
    val gotRows = got.collect()
    assert(gotRows.nonEmpty)
    gotRows.foreach { r =>
      assert(exp((r.getTimestamp(0), r.getString(1))) === r.getLong(2))
    }
  }

  test("native session_window (streaming) matches batch gaps-and-islands sessionize") {
    import graft.engine.{Stats, Tables}
    // stage events as 3 JSON micro-batch files; ts travels as exact unix
    // micros (a JSON timestamp string would round-trip at ms precision and
    // shift session boundaries against the batch oracle)
    val ev = Tables.events(spark, sfDir)
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
    val staged = ev.withColumn("ts", expr("unix_micros(ts)"))
    val n = staged.count()
    val in = Files.createTempDirectory("sess_in").toString
    val nFiles = ChangeGen.writeBatchFiles(staged, "event_id", 3, n / 3 + 1, in)
    assert(nFiles === 3)

    val stream = spark.readStream.schema(staged.schema)
      .option("maxFilesPerTrigger", "1").json(s"$in/changes_*.json")
      .withColumn("ts", expr("timestamp_micros(ts)"))
    val q = Stats.sessionWindowAgg(stream, "user_id", "ts", "2 hours")
      .writeStream.outputMode("complete")
      .format("memory").queryName("sess_native")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()

    val cols = Seq("user_id", "session_start", "session_end", "n_events", "total_value")
    val got = spark.table("sess_native").select(cols.map(col): _*)
      .orderBy("user_id", "session_start").collect().toSeq
    val expected = Stats.sessionize(ev, "user_id", "ts", "event_id", 7200)
      .select(cols.map(col): _*)
      .orderBy("user_id", "session_start").collect().toSeq
    assert(got === expected)
    assert(got.nonEmpty)

    // boundary discipline on a HAND-BUILT frame the random corpus may
    // never produce: (a) a pair exactly gap apart — session_window's
    // gap interval is CLOSED (measured here), so both events MERGE and
    // sessionize's strict > must agree; (b) a sub-second straddle —
    // 7200.4s apart is a NEW session even though second-truncated
    // arithmetic reads exactly 7200 and would merge it
    def evAt(id: Long, user: Long, us: Long) =
      (id, us, user, "click", 1.0, "{}")
    val edge = Seq(
      evAt(1L, 1L, 1000000000000000L),
      evAt(2L, 1L, 1000000000000000L + 7200L * 1000000L), // exactly gap
      evAt(3L, 2L, 1000000000000000L),
      evAt(4L, 2L, 1000000000000000L + 7200400000L)) // 7200.4s straddle
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .withColumn("ts", expr("timestamp_micros(ts)"))
    val edgeBatch = Stats.sessionize(edge, "user_id", "ts", "event_id", 7200)
      .select(cols.map(col): _*).orderBy("user_id", "session_start")
      .collect().toSeq
    val edgeNative = Stats.sessionWindowAgg(edge, "user_id", "ts", "2 hours")
      .select(cols.map(col): _*).orderBy("user_id", "session_start")
      .collect().toSeq
    assert(edgeBatch === edgeNative,
      "gaps-and-islands must agree with session_window on exact-gap " +
        "and sub-second-straddle boundaries")
    assert(edgeBatch.size === 3L,
      "exact-gap pair merges (closed interval); the 7200.4s straddle " +
        "splits")
  }

  test("coalesced micro-batches (maxFilesPerTrigger > 1) land the same " +
    "dimension as one-file-per-trigger") {
    val in = Files.createTempDirectory("cdc_co_in").toString
    val changes = ChangeGen.changes(spark, 600, 60, seed = 13)
      .select("change_id", "cdc_timestamp", "order_key", "operation_type",
        "order_status", "quantity", "unit_price", "total_amount")
    assert(ChangeGen.writeBatchFiles(changes, "change_id", 6, 100, in) === 6)
    val schema = changes.schema
    def drain(mfpt: Int): Seq[(Long, Long)] = {
      val store = new SnapshotStore(spark,
        Files.createTempDirectory(s"cdc_co_snap$mfpt").toString)
      CdcStream.start(spark, s"$in/changes_*.json",
        Files.createTempDirectory(s"cdc_co_ckpt$mfpt").toString, store,
        schema, "order_key", "cdc_timestamp", "change_id",
        opCol = Some("operation_type"), maxFilesPerTrigger = mfpt)
        .awaitTermination()
      Scd2.current(store.read().get).select("order_key", "change_id")
        .orderBy("order_key").as[(Long, Long)].collect().toSeq
    }
    // 3-per-trigger coalesces multi-change-per-key files into one merge
    // call — the throughput dial must change cost, never answers
    assert(drain(3) === drain(1))
  }

  test("stream merges batches into a valid dimension, checkpoint is exactly-once") {
    val in = Files.createTempDirectory("cdc_in").toString
    val ckpt = Files.createTempDirectory("cdc_ckpt").toString
    val snap = Files.createTempDirectory("cdc_snap").toString

    // three time-ordered change batch files over 60 keys
    val changes = ChangeGen.changes(spark, 600, 60, seed = 11)
      .select("change_id", "cdc_timestamp", "order_key", "operation_type",
        "order_status", "quantity", "unit_price", "total_amount")
    val idx = ChangeGen.writeBatchFiles(changes, "change_id", 3, 200, in)
    assert(idx === 3)

    val schema = changes.schema
    val store = new SnapshotStore(spark, snap)
    // a caller-held cache must survive the stream's per-batch cleanup
    // (the old implementation cleared the WHOLE session cache per batch)
    val callerCache = spark.range(100).toDF("n").persist()
    callerCache.count()
    val q = CdcStream.start(spark, s"$in/changes_*.json", ckpt, store, schema,
      "order_key", "cdc_timestamp", "change_id")
    q.awaitTermination()
    assert(callerCache.storageLevel !== org.apache.spark.storage.StorageLevel.NONE)
    callerCache.unpersist()

    val dim = store.read().get
    // invariants
    assert(Scd2.duplicateCurrentKeys(dim, "order_key").count() === 0)
    assert(dim.filter($"is_current" =!= $"valid_to".isNull).count() === 0)
    // every key's current row is its globally-latest change
    val latest = Cdc.dedupLastPerKey(
      spark.read.schema(schema).json(s"$in/changes_*.json"),
      "order_key", "cdc_timestamp", "change_id")
      .select($"order_key", $"change_id".as("latest_change"))
    val cur = Scd2.current(dim).select($"order_key", $"change_id")
    assert(cur.join(latest, "order_key")
      .filter($"change_id" =!= $"latest_change").count() === 0)

    // restart with same checkpoint: no new files → no new snapshot version
    val vBefore = store.currentVersion().get
    val q2 = CdcStream.start(spark, s"$in/changes_*.json", ckpt, store, schema,
      "order_key", "cdc_timestamp", "change_id")
    q2.awaitTermination()
    assert(store.currentVersion().get === vBefore)
  }

  test("stream restarted with a wider batch schema evolves the dimension") {
    import org.apache.spark.sql.types.StructType
    val in = Files.createTempDirectory("ev_in").toString
    val ckpt = Files.createTempDirectory("ev_ckpt").toString
    val snap = Files.createTempDirectory("ev_snap").toString
    val store = new SnapshotStore(spark, snap)
    def jl(id: Long, key: Long, ts: String, extra: Option[String]) =
      s"""{"change_id":$id,"order_key":$key,"cdc_timestamp":"$ts","status":"s$id"""" +
        extra.map(r => s""","region":"$r"""").getOrElse("") + "}"

    // phase 1: the original schema
    val s1 = new StructType().add("change_id", "long").add("order_key", "long")
      .add("cdc_timestamp", "timestamp").add("status", "string")
    Files.writeString(java.nio.file.Paths.get(in, "changes_000.json"),
      jl(1, 10, "2024-01-01 00:00:00", None) + "\n" +
        jl(2, 20, "2024-01-01 00:00:00", None) + "\n")
    CdcStream.start(spark, s"$in/changes_*.json", ckpt, store, s1,
      "order_key", "cdc_timestamp", "change_id").awaitTermination()
    assert(!store.read().get.columns.contains("region"))

    // phase 2: restart with the ALTER-TABLE'd wider schema — the live
    // case a long-running CDC pipeline meets; the snapshot has never
    // seen `region`
    val s2 = s1.add("region", "string")
    Files.writeString(java.nio.file.Paths.get(in, "changes_001.json"),
      jl(3, 10, "2024-02-01 00:00:00", Some("eu")) + "\n" +
        jl(4, 30, "2024-02-01 00:00:00", Some("us")) + "\n")
    CdcStream.start(spark, s"$in/changes_*.json", ckpt, store, s2,
      "order_key", "cdc_timestamp", "change_id").awaitTermination()

    val dim = store.read().get
    assert(dim.columns.contains("region"))
    // pre-evolution versions read null; merged rows carry their values
    val byChange = dim.select($"change_id", $"region", $"is_current")
      .collect().map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(byChange(1L).isEmpty && byChange(2L).isEmpty)
    assert(byChange(3L).contains("eu") && byChange(4L).contains("us"))
    // key 10 evolved AND merged: two versions, the new one current
    assert(dim.filter($"order_key" === 10L).count() === 2)
    assert(Scd2.current(dim).filter($"order_key" === 10L)
      .select($"change_id").head().getLong(0) === 3L)
    assert(Scd2.duplicateCurrentKeys(dim, "order_key").count() === 0)
  }

  test("bucketed incremental publish: untouched bucket dirs carry over " +
    "by file identity, only changed buckets rewrite") {
    val snap = Files.createTempDirectory("kb_snap").toString
    val store = new SnapshotStore(spark, snap)
    val B = 16
    def batch(rows: (Long, Long, String, String)*) =
      rows.toDF("change_id", "order_key", "cdc_timestamp", "status")
        .withColumn("cdc_timestamp", $"cdc_timestamp".cast("timestamp"))
        .withColumn("operation_type", lit("UPDATE"))
    // bootstrap: 64 keys spread over the 16 buckets
    val seed = batch((1L to 64L).map(k =>
      (k, k, "2024-01-01 00:00:00", s"s$k")): _*)
    CdcStream.applyChangeBatch(store, seed, "order_key", "cdc_timestamp",
      "change_id", Some("operation_type"), dimBuckets = B)
    val v0 = store.currentVersion().get
    val v0Dir = java.nio.file.Paths.get(snap, s"v$v0")
    // micro-batch touching ONE key
    val touched = 7L
    CdcStream.applyChangeBatch(store,
      batch((100L, touched, "2024-02-01 00:00:00", "hot")),
      "order_key", "cdc_timestamp", "change_id", Some("operation_type"),
      dimBuckets = B)
    val v1 = store.currentVersion().get
    assert(v1 === v0 + 1)
    val v1Dir = java.nio.file.Paths.get(snap, s"v$v1")
    val hotKb = seed.sparkSession.range(1)
      .select(pmod(xxhash64(lit(touched)), lit(B.toLong)).cast("int"))
      .head().getInt(0)
    def dataFiles(d: java.nio.file.Path): Seq[java.nio.file.Path] = {
      val s = Files.list(d)
      try {
        val buf = scala.collection.mutable.ArrayBuffer.empty[java.nio.file.Path]
        s.iterator().forEachRemaining { p =>
          if (p.getFileName.toString.endsWith(".parquet")) buf += p }
        buf.sortBy(_.getFileName.toString).toSeq
      } finally s.close()
    }
    var carried = 0
    val ls = Files.list(v0Dir)
    try ls.iterator().forEachRemaining { p =>
      val name = p.getFileName.toString
      if (name.startsWith(s"${CdcStream.BucketCol}=")) {
        val kb = name.split("=")(1).toInt
        val old = dataFiles(p); val neu = dataFiles(v1Dir.resolve(name))
        if (kb == hotKb)
          assert(!old.zip(neu).exists { case (a, b) =>
            Files.isSameFile(a, b) },
            s"the touched bucket $name must be REWRITTEN")
        else {
          assert(old.map(_.getFileName) === neu.map(_.getFileName) &&
            old.zip(neu).forall { case (a, b) => Files.isSameFile(a, b) },
            s"untouched bucket $name must carry over by file identity")
          carried += 1
        }
      }
    } finally ls.close()
    assert(carried >= B - 2, "nearly all buckets must be carried, not rewritten")
    // the INCREMENTAL publish must re-advertise the bucket count: the
    // next batch's layout guard reads the CURRENT version's sidecar,
    // so an incremental version without it silently degrades every
    // following batch to a full migration republish (caught live in
    // bench r19: alternating incremental/full versions, 5× per-batch)
    assert(store.currentVersionSidecar(CdcStream.DimBucketsMeta)
      .contains(B.toString),
      "incremental version must carry the _BUCKETS sidecar")
    // the dim-side read is partition-pruned to the affected buckets
    val pruned = store.read().get.filter(col(CdcStream.BucketCol) === hotKb)
    val scan = pruned.queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("PartitionFilters") && scan.contains(s"$hotKb"),
      s"bucket filter must prune at the partition level:\n$scan")
    // agreement with the whole-dim publish path at the SAME batch
    // granularity (per-key history intact: key 7 keeps two versions)
    val wholeStore = new SnapshotStore(spark,
      Files.createTempDirectory("kb_whole").toString)
    CdcStream.applyChangeBatch(wholeStore, seed, "order_key",
      "cdc_timestamp", "change_id", Some("operation_type"))
    CdcStream.applyChangeBatch(wholeStore,
      batch((100L, touched, "2024-02-01 00:00:00", "hot")),
      "order_key", "cdc_timestamp", "change_id", Some("operation_type"))
    val expect = wholeStore.read().get
    val got = store.read().get.drop(CdcStream.BucketCol)
    assert(got.orderBy("order_key", "version_no")
      .select(expect.columns.sorted.map(col).toIndexedSeq: _*).collect().toSeq ===
      expect.orderBy("order_key", "version_no")
        .select(expect.columns.sorted.map(col).toIndexedSeq: _*).collect().toSeq)
    // vacuum composes: dropping v0 unlinks, never destroys v1's reused files
    store.publish(store.read().get.drop(CdcStream.BucketCol)) // v2, unbucketed
    assert(store.vacuum(keepLast = 2) === Seq(v0), "v0 must drop")
    assert(store.readVersion(v1).count() === 65L,
      "v1 must stay fully readable after the carried-from version is vacuumed")
  }

  test("bucketed stream lands the same dimension as whole-dim publish; " +
    "widened schema falls back to a full republish") {
    val in = Files.createTempDirectory("kb_in").toString
    val changes = ChangeGen.changes(spark, 600, 60, seed = 17)
      .select("change_id", "cdc_timestamp", "order_key", "operation_type",
        "order_status", "quantity", "unit_price", "total_amount")
    assert(ChangeGen.writeBatchFiles(changes, "change_id", 6, 100, in) === 6)
    val schema = changes.schema
    def drain(buckets: Int,
              manifest: Boolean = false): Seq[org.apache.spark.sql.Row] = {
      val store = new SnapshotStore(spark,
        Files.createTempDirectory(s"kb_snap${buckets}_$manifest").toString)
      CdcStream.start(spark, s"$in/changes_*.json",
        Files.createTempDirectory(s"kb_ckpt${buckets}_$manifest").toString,
        store, schema, "order_key", "cdc_timestamp", "change_id",
        opCol = Some("operation_type"), dimBuckets = buckets,
        manifestCarry = manifest)
        .awaitTermination()
      val d = store.read().get.drop(CdcStream.BucketCol)
      d.orderBy("order_key", "version_no")
        .select(d.columns.sorted.map(col).toIndexedSeq: _*).collect().toSeq
    }
    val whole = drain(0)
    assert(drain(8) === whole,
      "the publish mode is a layout dial — it must never change answers")
    assert(drain(8, manifest = true) === whole,
      "the manifest carry is a layout dial — it must never change answers")

    // widened schema on a BUCKETED store: full republish, no mixed-schema
    // dirs — every version-dir file carries the new column
    val snap = Files.createTempDirectory("kb_ev_snap").toString
    val store = new SnapshotStore(spark, snap)
    def b1(rows: (Long, Long, String)*) =
      rows.toDF("change_id", "order_key", "cdc_timestamp")
        .withColumn("cdc_timestamp", $"cdc_timestamp".cast("timestamp"))
    CdcStream.applyChangeBatch(store,
      b1((1L, 1L, "2024-01-01 00:00:00"), (2L, 2L, "2024-01-01 00:00:00")),
      "order_key", "cdc_timestamp", "change_id", None, dimBuckets = 4)
    CdcStream.applyChangeBatch(store,
      b1((3L, 1L, "2024-02-01 00:00:00"))
        .withColumn("region", lit("eu")),
      "order_key", "cdc_timestamp", "change_id", None, dimBuckets = 4)
    val dim = store.read().get
    assert(dim.columns.contains("region"))
    assert(dim.filter($"order_key" === 2L).select($"region").head()
      .isNullAt(0), "pre-evolution rows read null for the new column")
    val vDir = java.nio.file.Paths.get(snap, s"v${store.currentVersion().get}")
    val walk = Files.walk(vDir)
    try walk.iterator().forEachRemaining { p =>
      if (p.getFileName.toString.endsWith(".parquet"))
        assert(spark.read.parquet(p.toString).columns.contains("region"),
          s"widened republish left a pre-evolution file behind: $p")
    } finally walk.close()
    // the widened republish must re-advertise the bucket count too, or
    // the batch AFTER every schema widening silently degrades to a
    // full migration republish (same failure class the incremental
    // sidecar assertion pins)
    assert(store.currentVersionSidecar(CdcStream.DimBucketsMeta)
      .contains("4"))

    // migration: a pre-bucketing (unpartitioned) snapshot takes one full
    // bucketed publish, then goes incremental
    val snap2 = Files.createTempDirectory("kb_mig_snap").toString
    val store2 = new SnapshotStore(spark, snap2)
    store2.publish(Scd2.rebuild(
      b1((1L, 1L, "2024-01-01 00:00:00"), (2L, 2L, "2024-01-01 00:00:00")),
      "order_key", "cdc_timestamp", "change_id"))
    CdcStream.applyChangeBatch(store2, b1((3L, 3L, "2024-02-01 00:00:00")),
      "order_key", "cdc_timestamp", "change_id", None, dimBuckets = 4)
    assert(store2.read().get.columns.contains(CdcStream.BucketCol),
      "migration batch must establish the bucketed layout")
    assert(store2.read().get.count() === 3L)
    // a restart with a DIFFERENT bucket count must take the full
    // re-bucketing publish, never the incremental path — modulo-8 keys
    // looked up in modulo-4 dirs would split version chains silently
    assert(store2.currentVersionSidecar(CdcStream.DimBucketsMeta)
      .contains("4"))
    CdcStream.applyChangeBatch(store2, b1((4L, 1L, "2024-03-01 00:00:00")),
      "order_key", "cdc_timestamp", "change_id", None, dimBuckets = 8)
    val reb = store2.read().get
    assert(reb.count() === 4L, "key 1 must gain exactly one version")
    assert(Scd2.duplicateCurrentKeys(reb, "order_key").count() === 0L,
      "a bucket-count change must never produce duplicate current rows")
    // pin the ARM taken, not just the (possibly coincidentally right)
    // answer: a full re-bucketing publish rehomes EVERY key into its
    // modulo-8 dir, while the (forbidden) incremental arm would carry
    // untouched keys' modulo-4 dirs forward. Non-vacuity first: at
    // least one untouched key must have differing mod-4/mod-8 buckets.
    assert(Seq(2L, 3L).exists { k =>
      spark.range(1).select((pmod(xxhash64(lit(k)), lit(4L)) =!=
        pmod(xxhash64(lit(k)), lit(8L))).as("d")).head().getBoolean(0)
    }, "test setup needs a carried key whose mod-4 and mod-8 buckets differ")
    assert(store2.read().get.filter(col(CdcStream.BucketCol).cast("long")
      =!= pmod(xxhash64(col("order_key")), lit(8L))).count() === 0L,
      "a bucket-count change must take the full re-bucketing publish " +
        "(every key rehomed to its modulo-8 dir)")
    assert(store2.currentVersionSidecar(CdcStream.DimBucketsMeta)
      .contains("8"))
    // ...and an explicit dimBuckets=0 restart migrates BACK to the
    // whole-dim layout instead of crashing on the bucket column
    CdcStream.applyChangeBatch(store2, b1((5L, 5L, "2024-04-01 00:00:00")),
      "order_key", "cdc_timestamp", "change_id", None)
    assert(!store2.read().get.columns.contains(CdcStream.BucketCol))
    assert(store2.read().get.count() === 5L)
    // the migration back split key 1's closed version into the history
    // segment; the next whole-dim batch carries that file by inode, a
    // bucketed batch reads it like any other file, and a second
    // migration back agrees with the in-memory fold of every batch
    def ino(p: java.nio.file.Path) = Files.getAttribute(p, "unix:ino")
    val migrated = store2.historyFiles(store2.currentVersion().get)
    assert(migrated.nonEmpty,
      "the migration back must send its closed rows to the history segment")
    CdcStream.applyChangeBatch(store2, b1((6L, 2L, "2024-05-01 00:00:00")),
      "order_key", "cdc_timestamp", "change_id", None)
    val carried = store2.historyFiles(store2.currentVersion().get)
      .map(p => p.getFileName -> ino(p)).toMap
    migrated.foreach(p => assert(carried.get(p.getFileName).contains(ino(p)),
      s"history file ${p.getFileName} must be carried by hard link"))
    CdcStream.applyChangeBatch(store2, b1((7L, 3L, "2024-06-01 00:00:00")),
      "order_key", "cdc_timestamp", "change_id", None, dimBuckets = 4)
    CdcStream.applyChangeBatch(store2, b1((8L, 1L, "2024-07-01 00:00:00")),
      "order_key", "cdc_timestamp", "change_id", None)
    val folded = Seq(
      b1((1L, 1L, "2024-01-01 00:00:00"), (2L, 2L, "2024-01-01 00:00:00")),
      b1((3L, 3L, "2024-02-01 00:00:00")), b1((4L, 1L, "2024-03-01 00:00:00")),
      b1((5L, 5L, "2024-04-01 00:00:00")), b1((6L, 2L, "2024-05-01 00:00:00")),
      b1((7L, 3L, "2024-06-01 00:00:00")), b1((8L, 1L, "2024-07-01 00:00:00")))
      .tail.foldLeft(Scd2.rebuild(
        b1((1L, 1L, "2024-01-01 00:00:00"), (2L, 2L, "2024-01-01 00:00:00")),
        "order_key", "cdc_timestamp", "change_id")) { (d, b) =>
        Scd2.merge(d, b, "order_key", "cdc_timestamp", "change_id")
          .localCheckpoint()
      }
    val got = store2.read().get
    assert(!got.columns.contains(CdcStream.BucketCol))
    val fc = folded.columns.sorted.map(col).toIndexedSeq
    assert(got.select(fc: _*).orderBy("order_key", "version_no").collect().toSeq ===
      folded.select(fc: _*).orderBy("order_key", "version_no").collect().toSeq,
      "whole-dim → bucketed → whole-dim must agree with the in-memory fold")
    // and a bucketed carry refuses a flat version it cannot carry from
    assertThrows[IllegalArgumentException] {
      val s3 = new SnapshotStore(spark,
        Files.createTempDirectory("kb_refuse").toString)
      s3.publish(b1((1L, 1L, "2024-01-01 00:00:00")))
      val d = b1((2L, 2L, "2024-02-01 00:00:00")).withColumn(CdcStream.BucketCol, lit(0))
      s3.publishSegments(d.limit(0), d, carry = true,
        Some(SnapshotStore.Buckets(CdcStream.BucketCol, 4, Seq(0))))
    }
  }

  test("manifest carry: untouched buckets are referenced, not " +
    "materialized; vacuum keeps owners; purge materializes the chain") {
    val snap = Files.createTempDirectory("mf_snap").toString
    val store = new SnapshotStore(spark, snap)
    val B = 16
    def batch(rows: (Long, Long, String, String)*) =
      rows.toDF("change_id", "order_key", "cdc_timestamp", "status")
        .withColumn("cdc_timestamp", $"cdc_timestamp".cast("timestamp"))
        .withColumn("operation_type", lit("UPDATE"))
    def apply(b: org.apache.spark.sql.DataFrame): Unit =
      CdcStream.applyChangeBatch(store, b, "order_key", "cdc_timestamp",
        "change_id", Some("operation_type"), dimBuckets = B,
        manifestCarry = true)
    apply(batch((1L to 64L).map(k =>
      (k, k, "2024-01-01 00:00:00", s"s$k")): _*)) // bootstrap → v0, local
    apply(batch((100L, 7L, "2024-02-01 00:00:00", "hot7"))) // → v1
    apply(batch((101L, 9L, "2024-03-01 00:00:00", "hot9"))) // → v2
    // every bucket the hot keys miss holds v0's files, by inode
    def files(v: Long) = bucketInodes(java.nio.file.Paths.get(snap, s"v$v"))
    def kb(k: Long): Int = spark.range(1)
      .select(pmod(xxhash64(lit(k)), lit(B.toLong)).cast("int")).head().getInt(0)
    val (v0, v2) = (files(0L), files(2L))
    val untouched = v0 -- Seq(kb(7L), kb(9L)).map(b => s"${CdcStream.BucketCol}=$b")
    assert(untouched.nonEmpty && untouched.forall { case (b, fs) => v2.get(b).contains(fs) },
      "every untouched bucket's files must keep their inode from v0")
    // and key 7's bucket, touched by v1 only, holds v1's files
    val b7 = s"${CdcStream.BucketCol}=${kb(7L)}"
    if (kb(7L) != kb(9L))
      assert(files(1L).get(b7).exists(fs => fs.nonEmpty && v2.get(b7).contains(fs)),
        "a bucket carried from v1 must keep v1's inodes")
    assert(store.read().get.count() === 66L)
    assert(Scd2.current(store.read().get).count() === 64L)
    assert(Scd2.duplicateCurrentKeys(store.read().get, "order_key")
      .count() === 0L)
    assert(store.read().get.filter($"order_key" === 7L).count() === 2L)
    assert(store.readVersion(1L).count() === 65L)
    // each version holds every bucket, so retention keeps only the window
    assert(store.vacuum(keepLast = 1).toSet === Set(0L, 1L))
    assert(store.read().get.count() === 66L)
    assert(store.readCurrentPartitions(CdcStream.BucketCol, Seq(kb(13L)))
      .filter($"order_key" === 13L).count() === 1L,
      "a carried bucket must serve its rows")
    store.purgeKeys(Seq(13L).toDF("order_key"), "order_key")
    store.versions().foreach { v =>
      assert(store.readVersion(v).filter($"order_key" === 13L)
        .count() === 0L, s"key 13 must be gone from v$v")
      assert(!Files.exists(
        java.nio.file.Paths.get(snap, s"v$v", "_MANIFEST")),
        s"v$v must hold no _MANIFEST")
    }
    assert(store.read().get.count() === 65L)
  }

  test("manifest carry: vacuum's owner closure is transitive, so a " +
    "kept-as-owner version stays readable and purge never wedges") {
    // the hot-key chain: v0 full; v1 re-owns key 7's bucket; v2 re-owns
    // key 9's bucket; v3 re-owns key 7's bucket AGAIN. Every version
    // holds all of its buckets (carried ones by link), so no version
    // depends on another and vacuum keeps only the current one.
    val snap = Files.createTempDirectory("mf_fixpoint").toString
    val store = new SnapshotStore(spark, snap)
    val B = 16
    def batch(rows: (Long, Long, String, String)*) =
      rows.toDF("change_id", "order_key", "cdc_timestamp", "status")
        .withColumn("cdc_timestamp", $"cdc_timestamp".cast("timestamp"))
        .withColumn("operation_type", lit("UPDATE"))
    def apply(b: org.apache.spark.sql.DataFrame): Unit =
      CdcStream.applyChangeBatch(store, b, "order_key", "cdc_timestamp",
        "change_id", Some("operation_type"), dimBuckets = B,
        manifestCarry = true)
    apply(batch((1L to 64L).map(k =>
      (k, k, "2024-01-01 00:00:00", s"s$k")): _*)) // v0
    apply(batch((100L, 7L, "2024-02-01 00:00:00", "hot7a"))) // v1
    apply(batch((101L, 9L, "2024-03-01 00:00:00", "hot9"))) // v2
    apply(batch((102L, 7L, "2024-04-01 00:00:00", "hot7b"))) // v3
    assert(store.vacuum(keepLast = 1).toSet === Set(0L, 1L, 2L),
      "no version may pin another")
    assert(store.versions() === Seq(3L))
    assert(store.read().get.filter($"order_key" === 7L).count() === 3L,
      "the current version must hold key 7's whole version chain")
    // the compliance verb completes over the kept chain
    store.purgeKeys(Seq(13L).toDF("order_key"), "order_key")
    store.versions().foreach { v =>
      assert(store.readVersion(v).filter($"order_key" === 13L)
        .count() === 0L, s"key 13 must be gone from v$v")
    }
    assert(Scd2.current(store.read().get).count() === 63L)
    assert(store.read().get.filter($"order_key" === 7L).count() === 3L,
      "key 7's full version chain must survive the vacuum + purge")
  }

  test("manifest carry: purging every key of one bucket never strands " +
    "a younger version's reference to the emptied dir") {
    val snap = Files.createTempDirectory("mf_emptied").toString
    val store = new SnapshotStore(spark, snap)
    val B = 16
    def batch(rows: (Long, Long, String, String)*) =
      rows.toDF("change_id", "order_key", "cdc_timestamp", "status")
        .withColumn("cdc_timestamp", $"cdc_timestamp".cast("timestamp"))
        .withColumn("operation_type", lit("UPDATE"))
    def apply(b: org.apache.spark.sql.DataFrame): Unit =
      CdcStream.applyChangeBatch(store, b, "order_key", "cdc_timestamp",
        "change_id", Some("operation_type"), dimBuckets = B,
        manifestCarry = true)
    apply(batch((1L to 64L).map(k =>
      (k, k, "2024-01-01 00:00:00", s"s$k")): _*)) // v0
    apply(batch((100L, 7L, "2024-02-01 00:00:00", "hot7"))) // v1
    apply(batch((101L, 9L, "2024-03-01 00:00:00", "hot9"))) // v2
    // one bucket's FULL key set, chosen away from the touched keys so
    // it is a CARRIED dir in v1/v2's manifests: purging all its keys
    // makes v0's rewrite drop the dir entirely (an empty hive
    // partition writes nothing) — the oldest-first rewrite order would
    // then crash materializing v1/v2, on every re-run
    val byBucket = spark.range(1L, 65L)
      .select($"id", pmod(xxhash64($"id"), lit(B.toLong)).cast("int")
        .as("kb")).collect()
      .groupBy(_.getInt(1)).map { case (kb, rs) =>
        kb -> rs.map(_.getLong(0)).toSeq
      }
    val skip = Set(byBucket.collect { case (kb, ks)
      if ks.contains(7L) || ks.contains(9L) => kb }.toSeq: _*)
    val (victimKb, victims) = byBucket.filterNot { case (kb, _) =>
      skip.contains(kb)
    }.head
    assert(Files.exists(java.nio.file.Paths.get(snap, "v0",
      s"${CdcStream.BucketCol}=$victimKb")))
    store.purgeKeys(victims.toDF("order_key"), "order_key")
    store.versions().foreach { v =>
      val d = store.readVersion(v)
      assert(d.filter($"order_key".isin(victims: _*)).count() === 0L,
        s"every victim key must be gone from v$v")
      assert(!Files.exists(
        java.nio.file.Paths.get(snap, s"v$v", "_MANIFEST")),
        s"v$v must be materialized after the purge")
    }
    assert(Scd2.current(store.read().get).count() ===
      64L - victims.size)
    assert(store.read().get.filter($"order_key" === 7L).count() === 2L)
  }

  test("manifest carry: purge keeps the hive layout of a version whose " +
    "buckets are ALL carried (empty incremental publish)") {
    val snap = Files.createTempDirectory("mf_allcarried").toString
    val store = new SnapshotStore(spark, snap)
    val B = 8
    def batch(rows: (Long, Long, String)*) =
      rows.toDF("change_id", "order_key", "cdc_timestamp")
        .withColumn("cdc_timestamp", $"cdc_timestamp".cast("timestamp"))
    CdcStream.applyChangeBatch(store,
      batch((1L to 16L).map(k => (k, k, "2024-01-01 00:00:00")): _*),
      "order_key", "cdc_timestamp", "change_id", None, dimBuckets = B,
      manifestCarry = true) // v0
    // a no-op version: no touched bucket, every bucket carried
    val none = store.read().get.limit(0)
    store.publishSegments(none, none, carry = true,
      Some(SnapshotStore.Buckets(CdcStream.BucketCol, B, Nil)),
      Map(CdcStream.DimBucketsMeta -> B.toString)) // v1
    def kbDirs(v: Long): Long = {
      import scala.jdk.CollectionConverters._
      val s = Files.list(java.nio.file.Paths.get(snap, s"v$v"))
      try s.iterator().asScala.count(p =>
        p.getFileName.toString.startsWith(s"${CdcStream.BucketCol}="))
      finally s.close()
    }
    def buckets(v: Long) = bucketInodes(java.nio.file.Paths.get(snap, s"v$v"))
    assert(buckets(0L).nonEmpty && buckets(1L) === buckets(0L),
      "v1 must hold v0's bucket dirs by link")
    // the purge rewrites v1 — and must keep its hive bucket dirs, or the
    // rewritten version would advertise _BUCKETS over an unpartitioned
    // body
    store.purgeKeys(Seq(3L).toDF("order_key"), "order_key")
    store.versions().foreach { v =>
      assert(kbDirs(v) > 0L,
        s"v$v must keep its hive bucket layout after the purge")
      assert(Files.exists(java.nio.file.Paths.get(snap, s"v$v",
        CdcStream.DimBucketsMeta)),
        s"v$v must keep its _BUCKETS sidecar")
      assert(store.readVersion(v).filter($"order_key" === 3L)
        .count() === 0L, s"key 3 must be gone from v$v")
    }
    assert(store.read().get.count() === 15L)
  }

  test("materializeSnapshot refuses a bucket count the dirs do not have") {
    val snap = Files.createTempDirectory("mf_matguard").toString
    val store = new SnapshotStore(spark, snap)
    def batch(rows: (Long, Long, String)*) =
      rows.toDF("change_id", "order_key", "cdc_timestamp")
        .withColumn("cdc_timestamp", $"cdc_timestamp".cast("timestamp"))
    CdcStream.applyChangeBatch(store,
      batch((1L, 1L, "2024-01-01 00:00:00"), (2L, 2L, "2024-01-01 00:00:00")),
      "order_key", "cdc_timestamp", "change_id", None, dimBuckets = 8)
    // a mismatched OPTIMIZE must be refused: stamping 16 over modulo-8
    // dirs would let a stream restarted with dimBuckets=16 pass the
    // layout guard and look keys up in the wrong buckets
    val e = intercept[IllegalArgumentException] {
      CdcStream.materializeSnapshot(store, 16)
    }
    assert(e.getMessage.contains("_BUCKETS"))
    val before = store.currentVersion().get
    CdcStream.materializeSnapshot(store, 8) // the matching call publishes nothing
    assert(store.currentVersion().get === before)
    assert(store.versions() === Seq(before))
    assert(store.read().get.count() === 2L)
  }

  test("flatMapGroupsWithState running counts converge to the batch aggregate") {
    import graft.engine.Tables
    val ev = Tables.events(spark, sfDir)
      .select($"user_id", expr("unix_timestamp(ts)").as("epoch"),
        expr("cast(round(value * 100) as long)").as("cents"))
    val staged = Tables.events(spark, sfDir)
      .select("event_id", "ts", "user_id", "value")
      .withColumn("ts", expr("unix_micros(ts)"))
    val n = staged.count()
    val in = Files.createTempDirectory("state_in").toString
    assert(ChangeGen.writeBatchFiles(staged, "event_id", 3, n / 3 + 1, in) === 3)

    val stream = spark.readStream.schema(staged.schema)
      .option("maxFilesPerTrigger", "1").json(s"$in/changes_*.json")
      .select($"user_id",
        expr("unix_timestamp(timestamp_micros(ts))").as("epoch"),
        expr("cast(round(value * 100) as long)").as("cents"))
      .as[(Long, Long, Long)]
    val q = CdcStream.runningCounts(stream)
      .writeStream.outputMode("update")
      .format("memory").queryName("state_out")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()

    // last update per key == the batch aggregate (exact integer cents)
    val got = spark.table("state_out")
      .withColumn("_rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("key")
          .orderBy(desc("n_events"))))
      .filter($"_rn" === 1)
      .select("key", "n_events", "max_epoch", "total_cents")
      .as[(Long, Long, Long, Long)].collect()
      .map(t => t._1 -> (t._2, t._3, t._4)).toMap
    val expected = ev.groupBy("user_id")
      .agg(count(lit(1)).as("n"), max($"epoch").as("mx"),
        sum($"cents").as("tot"))
      .as[(Long, Long, Long, Long)].collect()
      .map(t => t._1 -> (t._2, t._3, t._4)).toMap
    assert(got === expected)
  }

  test("stream-stream interval join matches the batch interval join") {
    import graft.engine.Tables
    val ev = Tables.events(spark, sfDir)
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
    val staged = ev.withColumn("ts", expr("unix_micros(ts)"))
    val n = staged.count()
    val in = Files.createTempDirectory("ssj_in").toString
    assert(ChangeGen.writeBatchFiles(staged, "event_id", 3, n / 3 + 1, in) === 3)
    def mkStream = spark.readStream.schema(staged.schema)
      .option("maxFilesPerTrigger", "1").json(s"$in/changes_*.json")
      .withColumn("ts", expr("timestamp_micros(ts)"))
    def viewsOf(df: org.apache.spark.sql.DataFrame) =
      df.filter($"event_type" === "view").select($"user_id", $"event_id", $"ts")
    def purchasesOf(df: org.apache.spark.sql.DataFrame) =
      df.filter($"event_type" === "purchase")
        .select($"user_id", $"event_id".as("p_event_id"), $"ts".as("p_ts"))

    // attribution: purchases by the same user within 2h after a view
    val q = CdcStream.intervalJoin(viewsOf(mkStream), purchasesOf(mkStream),
      "user_id", "ts", "p_ts", before = "0 seconds", after = "2 hours")
      .select(col("l.event_id").as("view_id"), col("r.p_event_id").as("purchase_id"))
      .writeStream.outputMode("append")
      .format("memory").queryName("ssj_out")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()

    val got = spark.table("ssj_out").as[(Long, Long)].collect().toSet
    val evT = ev // batch twin: identical declaration over static frames
    val expected = CdcStream.intervalJoin(viewsOf(evT), purchasesOf(evT),
      "user_id", "ts", "p_ts", before = "0 seconds", after = "2 hours")
      .select(col("l.event_id"), col("r.p_event_id"))
      .as[(Long, Long)].collect().toSet
    assert(got === expected)
    assert(got.nonEmpty)
  }

  test("streaming dedup drops cross-file re-deliveries within the watermark") {
    import graft.engine.Tables
    import java.nio.file.Paths
    val in = Files.createTempDirectory("dedup_in").toString
    val ev = Tables.events(spark, sfDir)
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .withColumn("ts", expr("unix_micros(ts)"))
      .filter($"event_id" < 200)
    def stage(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val s = s"$in/_st_$name"
      df.coalesce(1).write.mode("overwrite").json(s)
      val parts = Files.list(Paths.get(s))
      try parts.forEach { p =>
        if (p.getFileName.toString.endsWith(".json"))
          Files.move(p, Paths.get(in, s"$name.json"))
      } finally parts.close()
    }
    // files overlap: ids 50-99 and 100-149 are each delivered twice
    stage(ev.filter($"event_id" < 100), "f0")
    stage(ev.filter($"event_id" >= 50 && $"event_id" < 150), "f1")
    stage(ev.filter($"event_id" >= 100), "f2")

    val stream = spark.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", "1").json(s"$in/*.json")
      .withColumn("ts", expr("timestamp_micros(ts)"))
    val q = CdcStream.dedupStream(stream, "event_id", "ts", "30 days")
      .writeStream.outputMode("append")
      .format("memory").queryName("dedup_out")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()

    val got = spark.table("dedup_out").select("event_id").as[Long].collect()
    assert(got.length === 200)            // 300 delivered rows → 200 unique
    assert(got.toSet === (0L until 200L).toSet)
  }

  test("graceful shutdown drains at a batch boundary, runs cleanups, preserves state") {
    val in = Files.createTempDirectory("gs_in").toString
    val ckpt = Files.createTempDirectory("gs_ckpt").toString
    val snap = Files.createTempDirectory("gs_snap").toString
    val changes = ChangeGen.changes(spark, 300, 30, seed = 23)
      .select("change_id", "cdc_timestamp", "order_key", "operation_type",
        "order_status", "quantity", "unit_price", "total_amount")
    ChangeGen.writeBatchFiles(changes, "change_id", 3, 100, in)
    val store = new SnapshotStore(spark, snap)

    // continuous trigger (NOT AvailableNow): the long-running-service shape
    // the shutdown handler exists for
    val q = CdcStream.start(spark, s"$in/changes_*.json", ckpt, store,
      changes.schema, "order_key", "cdc_timestamp", "change_id",
      availableNow = false)
    // let the stream consume everything, as a steady-state service would be
    // between batches when the signal lands
    // snapshot versions are 0-based: 3 published batches → version 2
    val deadline = System.currentTimeMillis + 120000
    while (store.currentVersion().getOrElse(-1L) < 2L &&
      System.currentTimeMillis < deadline) Thread.sleep(100)
    assert(store.currentVersion().get === 2L)

    val gs = new GracefulShutdown
    var cleaned = Seq.empty[String]
    gs.registerCleanup(() => cleaned :+= "ledger")
    gs.registerCleanup(() => throw new RuntimeException("boom")) // tolerated
    gs.registerCleanup(() => cleaned :+= "metrics")
    assert(!gs.shutdownRequested)
    val drained = gs.drainAndStop(q, timeoutMs = 30000)
    assert(drained && !q.isActive)
    assert(gs.shutdownRequested)
    assert(cleaned === Seq("ledger", "metrics")) // order kept, failure tolerated
    assert(gs.cleanupFailures.map(_.getMessage) === Seq("boom"))

    // state is consistent at the stopped boundary: invariants hold and a
    // restart from the same checkpoint reprocesses nothing
    val dim = store.read().get
    assert(Scd2.duplicateCurrentKeys(dim, "order_key").count() === 0)
    assert(dim.filter($"is_current" =!= $"valid_to".isNull).count() === 0)
    val q2 = CdcStream.start(spark, s"$in/changes_*.json", ckpt, store,
      changes.schema, "order_key", "cdc_timestamp", "change_id")
    q2.awaitTermination()
    assert(store.currentVersion().get === 2L)
  }

  /** One screened index family in the delete→re-insert scenario below.
    * `frame` turns (key, source key, op) rows into a batch whose content
    * copies the indexed source key's (None for a key-only DELETE row);
    * `newCol` names the batch key in the screen's hits; `probe` lists the
    * keys a stored probe with a key's content returns; `stored` holds one
    * row per indexed key. */
  private case class ScreenCase(
      label: String, newCol: String,
      build: String => Unit,
      frame: Seq[(Long, Option[Long], String)] => org.apache.spark.sql.DataFrame,
      screen: CdcStream.Screen,
      probe: (String, Long) => Set[Long],
      stored: String => org.apache.spark.sql.DataFrame)

  private val screenCases: Seq[ScreenCase] = {
    import graft.ops.{DedupOps, Multimodal, SimilarityOps}
    import graft.engine.Compaction
    def read(p: String) = spark.read.parquet(Compaction.resolve(p))
    def keys(df: org.apache.spark.sql.DataFrame, c: String) =
      df.select(c).collect().map(_.getLong(0)).toSet
    def vec(i: Long): Seq[Double] =
      Seq.tabulate(4)(j => if (j == i % 4) 1.0 + i else 0.01 * (j + 1))
    def vecFrame(rs: Seq[(Long, Option[Long], String)]) =
      rs.map { case (k, src, op) => (k, src.map(vec).orNull, op) }
        .toDF("vec_id", "embedding", "op")
    def text(i: Long) = (1 to 50).map(j => s"f${i}w$j").mkString(" ")
    // rasters known not to collide at Hamming 0
    def png(i: Long): Array[Byte] = i match {
      case 1L => Multimodal.syntheticPng(1L, 8, 8)
      case 2L => Multimodal.syntheticPng(300L, 12, 12)
      case _  => Multimodal.syntheticPng(9L, 16, 12)
    }
    def hashOf(i: Long) =
      Multimodal.imageAHash(Seq((900L, png(i))).toDF("doc_id", "payload"))
    Seq(
      ScreenCase("ANN", "q_id",
        idx => SimilarityOps.buildIvfIndex(
          (0L until 10L).map(i => (i, vec(i))).toDF("vec_id", "embedding"), idx),
        vecFrame,
        CdcStream.Screen.ivf(3, 0.999, 1),
        (idx, i) => keys(SimilarityOps.queryIvfIndex(spark, idx, vec(i), 3),
          "vec_id"),
        idx => read(s"$idx/assignments")),
      ScreenCase("IVF-PQ", "q_id",
        idx => SimilarityOps.buildIvfPqIndex(
          (0L until 10L).map(i => (i, vec(i))).toDF("vec_id", "embedding"),
          idx, m = 2, ksub = 16),
        vecFrame,
        CdcStream.Screen.ivfPq(3, 1e-6, 2),
        (idx, i) => keys(SimilarityOps.queryIvfPqIndex(spark, idx, vec(i), 3),
          "vec_id"),
        idx => read(s"$idx/codes")),
      ScreenCase("fingerprint", "doc_new",
        idx => DedupOps.buildFingerprintIndex(
          (0L until 10L).map(i => (i, text(i))).toDF("doc_id", "text"), idx),
        rs => rs.map { case (k, src, op) => (k, src.map(text).orNull, op) }
          .toDF("doc_id", "text", "op"),
        CdcStream.Screen.fingerprint,
        (idx, i) => keys(DedupOps.queryFingerprintIndex(spark, idx,
          Seq((900L, text(i))).toDF("doc_id", "text")), "doc_old"),
        idx => read(s"$idx/sizes")),
      ScreenCase("image", "doc_new",
        idx => DedupOps.buildHashIndex(Multimodal.imageAHash(
          Seq(1L, 2L, 9L).map(i => (i, png(i))).toDF("doc_id", "payload")), idx),
        rs => rs.map { case (k, src, op) => (k, src.map(png).orNull, op) }
          .toDF("doc_id", "payload", "op"),
        CdcStream.Screen.image(0),
        (idx, i) => keys(DedupOps.queryHashIndex(spark, hashOf(i), idx, 0),
          "doc_old"),
        // one band row per (doc, band): band 0 stands for the doc
        idx => read(s"$idx/bands").filter($"band" === 0)))
  }

  screenCases.foreach { f =>
    test(s"${f.label} stream CDC DELETE: tombstone routes under the batch " +
      "ledger, delete+reinsert update serves inline") {
      import graft.engine.Compaction
      val idx = Files.createTempDirectory("scrd_idx").toString
      val ckpt = Files.createTempDirectory("scrd_ckpt").toString
      f.build(idx)
      // batch 0 (op-aware): DELETE indexed key 2 + INSERT an exact copy of
      // it — the hit against the just-deleted key must be screened out
      val hits = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      def step(b: org.apache.spark.sql.DataFrame, id: Long,
               onHits: (org.apache.spark.sql.DataFrame, Long) => Unit) =
        CdcStream.screenAndAbsorb(spark, b, id, idx, ckpt, f.screen, onHits)
      step(f.frame(Seq((100L, Some(2L), "I"), (2L, None, "DELETE"))), 0L,
        (df, _) =>
          hits ++= df.select(f.newCol, f.screen.hitCol).as[(Long, Long)]
            .collect())
      assert(!hits.exists(_._2 == 2L),
        "a hit against a key this very batch deletes is not a real match")
      // the deletion is live immediately: the stored probe skips key 2
      assert(!f.probe(idx, 2L).contains(2L))
      // batch 1: the CDC UPDATE shape — key 2 returns. The merge collides
      // with its pending tombstone, so the inline serve runs the tick
      // (physical delete + clear) and the merge lands cleanly.
      val b1 = f.frame(Seq((2L, Some(2L), "I")))
      step(b1, 1L, (_, _) => ())
      assert(!java.nio.file.Files.exists(
        java.nio.file.Paths.get(s"$idx/tombstones")))
      val stored = f.stored(idx)
      assert(stored.filter(col(f.screen.key) === 2L).count() === 1L,
        "exactly one stored row for the re-inserted key")
      assert(f.probe(idx, 2L).contains(2L))
      // replaying an absorbed batch id is a no-op (ledger protocol)
      val n = stored.count()
      step(b1, 1L, (_, _) => ())
      assert(f.stored(idx).count() === n)
      assert(spark.read.parquet(Compaction.resolve(s"$idx/_ledger"))
        .count() === 2L, "one ledger row per absorbed batch")
    }
  }

  test("streaming BM25 absorb: merge + retract under one ledger entry, " +
    "replay no-ops, scores equal the remaining corpus") {
    import graft.ops.TextOps
    import graft.engine.Compaction
    val idx = Files.createTempDirectory("bmd_idx").toString
    val ckpt = Files.createTempDirectory("bmd_ckpt").toString
    val mk = Map(
      1L -> ("spark join window " + (1 to 30).map("w" + _).mkString(" ")),
      2L -> ("spark spark join " + (1 to 20).map("x" + _).mkString(" ")),
      3L -> ("window join " + (1 to 25).map("y" + _).mkString(" ")),
      4L -> ("spark window " + (1 to 15).map("z" + _).mkString(" ")))
    val docs = mk.toSeq.sortBy(_._1).toDF("doc_id", "text")
    TextOps.buildBm25Index(docs.filter($"doc_id" <= 3L), idx)
    // batch 1 (op-aware, ONE ledger entry): DELETE doc 2 with its full
    // row image + INSERT doc 4
    val b1 = Seq((4L, mk(4L), "I"), (2L, mk(2L), "DELETE"))
      .toDF("doc_id", "text", "op")
    CdcStream.bm25Absorb(spark, b1, 1L, idx, ckpt)
    val terms = Seq("spark", "join", "window")
    def stored() = TextOps.queryBm25Index(spark, idx, terms, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val rebuilt = Files.createTempDirectory("bmd_rebuild").toString
    TextOps.buildBm25Index(docs.filter($"doc_id" =!= 2L), rebuilt)
    val expected = TextOps.queryBm25Index(spark, rebuilt, terms, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(stored() === expected,
      "the absorbed merge+retract must equal a rebuild on {1,3,4}")
    // crash replay of the same mixed batch re-applies NEITHER half
    CdcStream.bm25Absorb(spark, b1, 1L, idx, ckpt)
    assert(stored() === expected, "a replayed mixed batch must no-op")
    assert(spark.read.parquet(Compaction.resolve(s"$idx/_ledger"))
      .count() === 1L)
    // the tick serves the deletion physically
    assert(Compaction.maintainIndex(spark, idx, "bm25"))
    assert(spark.read.parquet(Compaction.resolve(s"$idx/postings"))
      .filter($"doc_id" === 2L).count() === 0L)
    assert(stored() === expected)
  }

  test("BM25 stream CDC UPDATE (delete + re-insert the SAME doc in one " +
    "batch): inline tick serves the clash, scores equal a rebuild") {
    import graft.ops.TextOps
    import graft.engine.Compaction
    val idx = Files.createTempDirectory("bmu_idx").toString
    val ckpt = Files.createTempDirectory("bmu_ckpt").toString
    val mk = Map(
      1L -> ("spark join window " + (1 to 30).map("w" + _).mkString(" ")),
      2L -> ("spark spark join " + (1 to 20).map("x" + _).mkString(" ")),
      3L -> ("window join " + (1 to 25).map("y" + _).mkString(" ")))
    val newText2 = "spark window refresh " + (1 to 18).map("n" + _).mkString(" ")
    TextOps.buildBm25Index(mk.toSeq.sortBy(_._1).toDF("doc_id", "text"), idx)
    // ONE op-aware batch: DELETE doc 2 (full old row image) + INSERT the
    // replacement row for the same doc_id — the CDC UPDATE shape. The
    // merge clashes with the batch's OWN tombstone, so the inline tick
    // runs mid-batch (serving the deletion physically) before the merge.
    val b1 = Seq((2L, newText2, "I"), (2L, mk(2L), "DELETE"))
      .toDF("doc_id", "text", "op")
    CdcStream.bm25Absorb(spark, b1, 1L, idx, ckpt)
    val terms = Seq("spark", "join", "window", "refresh")
    def stored() = TextOps.queryBm25Index(spark, idx, terms, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val rebuilt = Files.createTempDirectory("bmu_rebuild").toString
    TextOps.buildBm25Index(
      Seq((1L, mk(1L)), (2L, newText2), (3L, mk(3L))).toDF("doc_id", "text"),
      rebuilt)
    val expected = TextOps.queryBm25Index(spark, rebuilt, terms, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(stored() === expected,
      "same-id delete+re-insert must equal a rebuild on the updated corpus")
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$idx/tombstones")))
    // a checkpoint-replayed batch id is a full no-op (ledger protocol)
    CdcStream.bm25Absorb(spark, b1, 1L, idx, ckpt)
    assert(stored() === expected)
    assert(spark.read.parquet(Compaction.resolve(s"$idx/_ledger"))
      .count() === 1L)
  }

  test("BM25 delete→re-insert crash replay: the inline tick retains the " +
    "in-flight retract signature so a replayed batch cannot double-subtract") {
    import graft.ops.TextOps
    import graft.engine.Compaction
    val idx = Files.createTempDirectory("bmc_idx").toString
    val ckpt = Files.createTempDirectory("bmc_ckpt").toString
    val mk = Map(
      1L -> ("spark join window " + (1 to 30).map("w" + _).mkString(" ")),
      2L -> ("spark spark join " + (1 to 20).map("x" + _).mkString(" ")),
      3L -> ("window join " + (1 to 25).map("y" + _).mkString(" ")))
    val newText2 = "spark window refresh " + (1 to 18).map("n" + _).mkString(" ")
    TextOps.buildBm25Index(mk.toSeq.sortBy(_._1).toDF("doc_id", "text"), idx)
    val b1 = Seq((2L, newText2, "I"), (2L, mk(2L), "DELETE"))
      .toDF("doc_id", "text", "op")
    // reproduce bm25Absorb's closure up to the crash point: the retract
    // committed its signature, the inline clash-serve tick ran (reset
    // the _applied log, RETAINING the in-flight retract sig), and then
    // the process died — before the merge and before the ledger append
    val sig = TextOps.retractBm25Index(
      Seq((2L, mk(2L))).toDF("doc_id", "text"), idx)
    CdcStream.maintainStreamedIndex(spark, idx, "bm25",
      retainApplied = Seq(sig))
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$idx/tombstones")),
      "the tick served the deletion physically")
    // restart: the stream re-delivers the SAME mixed batch. The retract
    // half must SKIP (its signature survived the reset) — re-applying it
    // would subtract doc 2's df/stats a second time (its unique terms
    // are already gone, so the phantom guard would raise) — and the
    // merge half lands
    CdcStream.bm25Absorb(spark, b1, 1L, idx, ckpt)
    val terms = Seq("spark", "join", "window", "refresh")
    val stored = TextOps.queryBm25Index(spark, idx, terms, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val rebuilt = Files.createTempDirectory("bmc_rebuild").toString
    TextOps.buildBm25Index(
      Seq((1L, mk(1L)), (2L, newText2), (3L, mk(3L))).toDF("doc_id", "text"),
      rebuilt)
    val expected = TextOps.queryBm25Index(spark, rebuilt, terms, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(stored === expected,
      "the crash-replayed batch must re-apply neither half twice")
    // and a committed-batch tick (no in-flight sig) still wipes the log:
    // stale signatures never survive a later deletion-serving cycle
    val b2 = Seq((3L, mk(3L), "DELETE")).toDF("doc_id", "text", "op")
    CdcStream.bm25Absorb(spark, b2, 2L, idx, ckpt)
    CdcStream.maintainStreamedIndex(spark, idx, "bm25")
    val appliedDir = java.nio.file.Paths.get(
      Compaction.resolve(s"$idx/lexicon"), "_applied")
    assert(spark.read.parquet(appliedDir.toString).isEmpty,
      "a between-batches tick (ledger committed) resets the log fully")
  }

  test("BM25 absorb stream: mixed insert/DELETE files with a maintenance " +
    "tick, restart re-applies nothing, scores equal a rebuild") {
    import graft.ops.TextOps
    import graft.engine.Compaction
    import org.apache.spark.sql.types.StructType
    val in = Files.createTempDirectory("bms_in").toString
    val ckpt = Files.createTempDirectory("bms_ckpt").toString
    val idx = Files.createTempDirectory("bms_idx").toString
    def text(i: Long) =
      Seq("spark join", "window join", "spark window", "join merge")(
        (i % 4).toInt) + " " + (1 to 12 + i.toInt).map(j => s"t${i}x$j").mkString(" ")
    val newText1 = "spark refresh window " + (1 to 9).map("r" + _).mkString(" ")
    TextOps.buildBm25Index(
      (1L to 3L).map(i => (i, text(i))).toDF("doc_id", "text"), idx)
    def jline(id: Long, t: String, op: String) =
      s"""{"doc_id":$id,"text":"$t","op":"$op"}"""
    def file(i: Int, lines: String*): Unit = {
      val f = java.nio.file.Paths.get(in, f"docs_$i%03d.json")
      Files.writeString(f, lines.mkString("\n") + "\n")
      // strictly increasing mtimes → deterministic batch order
      Files.setLastModifiedTime(f, java.nio.file.attribute.FileTime
        .fromMillis(System.currentTimeMillis() - (600 - i * 60) * 1000L))
    }
    // batch 0 inserts; batch 1 DELETEs doc 2 (full row image) beside an
    // insert; batch 2 DELETEs a doc batch 0 absorbed, then the tick runs;
    // batch 3 is the CDC UPDATE shape — doc 1 deleted and re-inserted
    file(0, jline(4, text(4), "I"), jline(5, text(5), "I"))
    file(1, jline(2, text(2), "DELETE"), jline(6, text(6), "I"))
    file(2, jline(4, text(4), "DELETE"))
    file(3, jline(1, text(1), "DELETE"), jline(1, newText1, "I"))
    val schema = new StructType().add("doc_id", "long").add("text", "string")
      .add("op", "string")
    def drain(): Unit = CdcStream.bm25AbsorbStream(spark, s"$in/docs_*.json",
      ckpt, schema, idx, maintainEvery = 2, maintainMaxFiles = 1)
      .awaitTermination()
    val terms = Seq("spark", "join", "window", "merge", "refresh")
    def scores(p: String) = TextOps.queryBm25Index(spark, p, terms, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    def rebuilt(docs: Seq[(Long, String)]) = {
      val p = Files.createTempDirectory("bms_rebuild").toString
      TextOps.buildBm25Index(docs.toDF("doc_id", "text"), p)
      scores(p)
    }
    def ledger() = spark.read.parquet(Compaction.resolve(s"$idx/_ledger"))
      .select("batch_id").as[String].collect().sorted.toSeq
    drain()
    val surviving = Seq((1L, newText1), (3L, text(3)), (5L, text(5)),
      (6L, text(6)))
    assert(scores(idx) === rebuilt(surviving),
      "the streamed merges + retractions must equal a rebuild on {1', 3, 5, 6}")
    assert(ledger() === Seq("0", "1", "2", "3"))
    // the tick after batch 2 made its deletions physical
    assert(spark.read.parquet(Compaction.resolve(s"$idx/postings"))
      .filter($"doc_id".isin(2L, 4L)).count() === 0L)
    // restart on the same checkpoint with one new file: only the new
    // batch is absorbed, no earlier batch is re-applied
    file(4, jline(7, text(7), "I"))
    drain()
    assert(ledger() === Seq("0", "1", "2", "3", "4"))
    assert(scores(idx) === rebuilt(surviving :+ ((7L, text(7)))),
      "after the restart the index must equal a rebuild on {1', 3, 5, 6, 7}")
  }

  test("vocab tick between a crashed partial append and its replay: the " +
    "uncommitted tag passes through unfolded, the replay heals the batch") {
    import graft.ops.TextOps
    import graft.engine.Compaction
    val idx = Files.createTempDirectory("vct_idx").toString
    TextOps.buildVocabIndex(
      Seq((1L, "alpha beta")).toDF("doc_id", "text"), idx)
    // the batch is docs 2 ("beta gamma") + 3 ("gamma delta"), but the
    // job commit tore mid-append: only SOME of the aggregated word rows
    // reached the counts dir, and the verb never reached commitTag
    val tag = "s1:7"
    Seq(("beta", 1L, 1L, tag), ("gamma", 2L, 2L, tag))
      .toDF("word", "tf", "df", "bsig")
      .write.mode("append").parquet(Compaction.resolve(s"$idx/counts"))
    // a direct-API maintenance tick runs BEFORE the replay — the exact
    // ordering the pre-r18 contract could only document: it used to
    // record the tag absorbed from the partial rows, making the replay
    // a silent no-op that lost doc 3's words forever
    assert(Compaction.compactIndex(spark, idx, "vocab",
      maxFilesPerPartition = 0))
    // re-resolve per read: each tick swaps the live version dir
    def absorbed = java.nio.file.Paths.get(
      Compaction.resolve(s"$idx/counts"), "_absorbed")
    assert(spark.read.parquet(absorbed.toString)
      .filter($"bsig" === tag).isEmpty,
      "an uncommitted (torn) tag must NOT be recorded absorbed")
    assert(spark.read.parquet(Compaction.resolve(s"$idx/counts"))
      .filter($"bsig" === tag).count() === 2L,
      "the torn rows must pass through the fold verbatim")
    // the replay is therefore NOT skipped: the full batch lands, the
    // (bsig, word) dedup heals the torn duplicates
    TextOps.mergeVocabIndex(
      Seq((2L, "beta gamma"), (3L, "gamma delta")).toDF("doc_id", "text"),
      idx, tag)
    def view() = TextOps.queryVocabTopK(spark, idx, 10)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSet
    val full = Set(("alpha", 1L, 1L), ("beta", 2L, 2L),
      ("gamma", 2L, 2L), ("delta", 1L, 1L))
    assert(view() === full, "the replayed batch must serve completely")
    // the NEXT tick folds the now-committed tag and records it — after
    // which a second replay is the absorbed-skip no-op
    assert(Compaction.compactIndex(spark, idx, "vocab",
      maxFilesPerPartition = 0))
    assert(!spark.read.parquet(absorbed.toString)
      .filter($"bsig" === tag).isEmpty,
      "a committed tag folds and records normally")
    TextOps.mergeVocabIndex(
      Seq((2L, "beta gamma"), (3L, "gamma delta")).toDF("doc_id", "text"),
      idx, tag)
    assert(view() === full, "a post-absorb replay must skip, not double-add")
  }

  test("distinct-view hll tick between a crashed partial append and its " +
    "replay: the uncommitted tag passes through, the replay heals") {
    import graft.engine.{Compaction, Stats}
    val view = Files.createTempDirectory("dct_view").toString
    Stats.buildDistinctView(
      Seq(("click", 1L)).toDF("event_type", "user_id"),
      "event_type", "user_id", view)
    // full batch: (click,2),(click,3),(view,2); the exact append tore
    // after one pair row (the sketch append preceding it is simulated
    // as lost too — the replayed merge re-appends it, HLL-union-safe)
    val tag = "s2:9"
    Seq(("click", 2L, 1L, tag)).toDF("grp", "k", "cnt", "bsig")
      .write.mode("append").parquet(Compaction.resolve(s"$view/exact"))
    assert(Compaction.compactIndex(spark, view, "hll",
      maxFilesPerPartition = 0))
    // re-resolve per read: each tick swaps the live version dir
    def absorbed = java.nio.file.Paths.get(
      Compaction.resolve(s"$view/exact"), "_absorbed")
    assert(spark.read.parquet(absorbed.toString)
      .filter($"bsig" === tag).isEmpty,
      "an uncommitted (torn) pair tag must NOT be recorded absorbed")
    assert(Stats.liveDistinctPairs(spark, view)
      .filter($"grp" === "click" && $"k" === 2L).count() === 1L,
      "the torn pair row stays live for the replay to heal against")
    // replay: the full batch — not skipped, pair dedup heals the torn row
    Stats.mergeDistinctView(
      Seq(("click", 2L), ("click", 3L), ("view", 2L))
        .toDF("event_type", "user_id"),
      "event_type", "user_id", view, tag)
    def exact() = Stats.queryDistinctViewExact(spark, view, "event_type")
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(exact() === Map("click" -> 3L, "view" -> 1L),
      "the replayed batch's missing pairs must land exactly once")
    assert(Compaction.compactIndex(spark, view, "hll",
      maxFilesPerPartition = 0))
    assert(!spark.read.parquet(absorbed.toString)
      .filter($"bsig" === tag).isEmpty)
    assert(exact() === Map("click" -> 3L, "view" -> 1L))
    // the sketch read agrees at these sparse-exact cardinalities
    assert(Stats.queryDistinctView(spark, view, "event_type")
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
      === Map("click" -> 3L, "view" -> 1L))
    // a torn RETRACTION (marker written, negated rows partially landed,
    // never committed) must keep the marker — and therefore the stale
    // flag — through the tick: the excluded retraction's rebuild is
    // still owed, and clearing would report a fresh sketch while the
    // exact read already nets the deletion
    val marker = java.nio.file.Paths.get(s"$view/_retracted")
    java.nio.file.Files.createFile(marker)
    Seq(("click", 3L, -1L, "s2:torn-retract"))
      .toDF("grp", "k", "cnt", "bsig")
      .write.mode("append").parquet(Compaction.resolve(s"$view/exact"))
    assert(Compaction.compactIndex(spark, view, "hll",
      maxFilesPerPartition = 0))
    assert(java.nio.file.Files.exists(marker),
      "the marker must survive a tick that excluded a torn retraction")
    assert(Stats.queryDistinctView(spark, view, "event_type")
      .select("stale").head().getBoolean(0),
      "readers must keep seeing stale=true until the replayed " +
        "retraction commits and rebuilds")
  }

  test("BM25 rejected retraction leaves the index untouched: no " +
    "tombstones appended, the docs keep scoring") {
    import graft.ops.TextOps
    val idx = Files.createTempDirectory("bmr_idx").toString
    val docs = Seq(
      (1L, "spark join window alpha beta gamma"),
      (2L, "spark filter delta epsilon zeta")).toDF("doc_id", "text")
    TextOps.buildBm25Index(docs, idx)
    // retraction whose row image was never absorbed (phantom terms) —
    // the guards must fire BEFORE the tombstone append, or the screens
    // stop serving doc 2 while the lexicon still counts it
    intercept[IllegalArgumentException] {
      TextOps.retractBm25Index(
        Seq((2L, "neverabsorbed qqq www")).toDF("doc_id", "text"), idx)
    }
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$idx/tombstones")),
      "a rejected retraction must not tombstone")
    assert(TextOps.queryBm25Index(spark, idx, Seq("filter"), 10)
      .select("doc_id").collect().map(_.getLong(0)).contains(2L),
      "doc 2 still scores after the rejected retraction")
  }

  test("distinct view stream CDC DELETE: retraction routes through the " +
    "exact companion under the batch ledger, HLL rebuilds on the tick") {
    import graft.engine.{Compaction, Stats}
    val view = Files.createTempDirectory("dv_view").toString
    val ckpt = Files.createTempDirectory("dv_ckpt").toString
    // click: users {1, 2, 5} (5 twice); view: users {3, 5}
    val base = Seq(("click", 1L), ("click", 2L), ("click", 5L),
      ("click", 5L), ("view", 5L), ("view", 3L))
      .toDF("event_type", "user_id")
    Stats.buildDistinctView(base, "event_type", "user_id", view)
    def exact() = Stats.queryDistinctViewExact(spark, view, "event_type")
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    def approx() = Stats.queryDistinctView(spark, view, "event_type")
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(exact() === Map("click" -> 3L, "view" -> 2L))
    // batch 1 (op-aware, ONE ledger entry): DELETE user 5's two click
    // events (full row images) + INSERT user 7's first click. User 5
    // keeps a view event, so it stays distinct THERE — the exact
    // per-pair counts carry that semantics.
    val b1 = Seq(("click", 5L, "DELETE"), ("click", 5L, "DELETE"),
      ("click", 7L, "I")).toDF("event_type", "user_id", "op")
    CdcStream.distinctAbsorb(spark, b1, 1L, view, "event_type", "user_id",
      ckpt)
    // deletion-exact immediately on the exact read
    assert(exact() === Map("click" -> 3L, "view" -> 2L)) // 1,2,7 / 3,5
    assert(Stats.liveDistinctPairs(spark, view)
      .filter($"grp" === "click" && $"k" === 5L).count() === 0L,
      "user 5 must have left the click group exactly")
    // the HLL read still over-counts (sketches cannot retract) until
    // the tick rebuilds it from the netted pairs
    assert(approx()("click") === 4L, "pre-tick HLL over-counts by design")
    def staleFlags() = Stats.queryDistinctView(spark, view, "event_type")
      .select("stale").distinct().collect().map(_.getBoolean(0)).toSet
    assert(staleFlags() === Set(true),
      "between retraction and tick the approximate read must SIGNAL " +
        "its over-count (pending _retracted marker), not just document it")
    CdcStream.maintainStreamedIndex(spark, view, "hll")
    assert(approx() === Map("click" -> 3L, "view" -> 2L),
      "the tick rebuilds the sketches from the exact companion")
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$view/_retracted")))
    assert(staleFlags() === Set(false),
      "the rebuilt sketch serves fresh — the stale flag clears with " +
        "the marker")
    // a checkpoint-replayed batch id re-applies NEITHER half
    CdcStream.distinctAbsorb(spark, b1, 1L, view, "event_type", "user_id",
      ckpt)
    assert(exact() === Map("click" -> 3L, "view" -> 2L))
    // batch 2: user 5's last event goes — the pair nets to zero and the
    // key leaves the view entirely
    val b2 = Seq(("view", 5L, "DELETE")).toDF("event_type", "user_id", "op")
    CdcStream.distinctAbsorb(spark, b2, 2L, view, "event_type", "user_id",
      ckpt)
    assert(exact() === Map("click" -> 3L, "view" -> 1L))
    CdcStream.maintainStreamedIndex(spark, view, "hll")
    assert(approx() === Map("click" -> 3L, "view" -> 1L))
    // post-tick the folded exact table serves the same answers (the
    // compaction's re-sum + _absorbed tag bookkeeping are sound)
    assert(spark.read.parquet(Compaction.resolve(s"$view/exact"))
      .filter($"bsig" =!= "compacted").count() === 0L,
      "the tick folds the partials to the compacted aggregate")
    // a retraction that was never absorbed corrupts by contract — the
    // net read refuses to serve it
    Stats.retractDistinctView(
      Seq(("click", 99L)).toDF("event_type", "user_id"), "event_type",
      "user_id", view, "bad-retract")
    val e = intercept[Throwable] { exact() }
    assert(Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(16)
      .exists(t => String.valueOf(t.getMessage).contains("netted negative")))
  }

  test("distinct view op-aware STREAM end-to-end: DELETE rows in the " +
    "JSON feed retract through the exact companion, tick rebuilds HLL") {
    import graft.engine.Stats
    import org.apache.spark.sql.types.StructType
    val in = Files.createTempDirectory("dvs_in").toString
    val ckpt = Files.createTempDirectory("dvs_ckpt").toString
    val view = Files.createTempDirectory("dvs_view").toString
    Stats.buildDistinctView(
      Seq(("click", 1L), ("click", 2L), ("view", 2L))
        .toDF("event_type", "user_id"),
      "event_type", "user_id", view)
    // batch 0: inserts only; batch 1 (later mtime): the CDC UPDATE/
    // DELETE mix — user 2 leaves 'click' (full row image) while a new
    // user arrives, one op-aware batch through the real file stream
    def j(t: String, u: Long, op: String) =
      s"""{"event_type":"$t","user_id":$u,"op":"$op"}"""
    val f0 = java.nio.file.Paths.get(in, "ev_000.json")
    Files.writeString(f0, j("click", 3L, "I") + "\n")
    Files.setLastModifiedTime(f0, java.nio.file.attribute.FileTime
      .fromMillis(System.currentTimeMillis() - 120000))
    Files.writeString(java.nio.file.Paths.get(in, "ev_001.json"),
      j("click", 2L, "DELETE") + "\n" + j("view", 4L, "I") + "\n")
    val schema = new StructType().add("event_type", "string")
      .add("user_id", "long").add("op", "string")
    val q = CdcStream.distinctAbsorbStream(spark, s"$in/ev_*.json", ckpt,
      schema, view, "event_type", "user_id",
      maintainEvery = 1, maintainMaxFiles = 1)
    q.awaitTermination()
    def exact() = Stats.queryDistinctViewExact(spark, view, "event_type")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(exact() === Map("click" -> 2L, "view" -> 2L), // 1,3 / 2,4
      "the stream's DELETE row must net user 2 out of click exactly")
    // the per-batch tick (maintainEvery=1) ran AFTER the delete batch:
    // the HLL view was rebuilt from the netted pairs and agrees
    assert(Stats.queryDistinctView(spark, view, "event_type")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      === Map("click" -> 2L, "view" -> 2L))
    // restart from the same checkpoint reprocesses nothing
    val q2 = CdcStream.distinctAbsorbStream(spark, s"$in/ev_*.json", ckpt,
      schema, view, "event_type", "user_id")
    q2.awaitTermination()
    assert(exact() === Map("click" -> 2L, "view" -> 2L))
  }

  test("distinct view derived retraction tags distinguish duplicate-" +
    "(grp,key) delete batches by their full row image") {
    import graft.engine.Stats
    val view = Files.createTempDirectory("dvt_view").toString
    // two identical events for (click, u1) — different event instances
    val base = Seq(("click", 1L, 10L), ("click", 1L, 11L),
      ("view", 2L, 12L)).toDF("event_type", "user_id", "event_id")
    Stats.buildDistinctView(base, "event_type", "user_id", view)
    def exact() = Stats.queryDistinctViewExact(spark, view, "event_type")
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    // two DERIVED-TAG (null batchTag) deletions whose (grp, key)
    // content is identical but whose row images differ — a (grp, key)-
    // only signature would alias the second onto the first's tag and
    // under-retract silently (the right-to-be-forgotten failure)
    Stats.retractDistinctView(
      Seq(("click", 1L, 10L)).toDF("event_type", "user_id", "event_id"),
      "event_type", "user_id", view)
    assert(exact() === Map("click" -> 1L, "view" -> 1L),
      "one of two instances deleted — the key stays distinct")
    Stats.retractDistinctView(
      Seq(("click", 1L, 11L)).toDF("event_type", "user_id", "event_id"),
      "event_type", "user_id", view)
    assert(exact() === Map("view" -> 1L),
      "both instances deleted — the key must leave the view")
    // a true REPLAY of the second batch (byte-identical rows) heals by
    // the (bsig, grp, k) dedup — no double-subtract, no negative net
    Stats.retractDistinctView(
      Seq(("click", 1L, 11L)).toDF("event_type", "user_id", "event_id"),
      "event_type", "user_id", view)
    assert(exact() === Map("view" -> 1L), "a replay must change nothing")
  }

  test("distinct view without the exact companion still refuses CDC " +
    "DELETE loudly (the pre-retractable contract)") {
    import graft.engine.Stats
    val view = Files.createTempDirectory("dvl_view").toString
    val ckpt = Files.createTempDirectory("dvl_ckpt").toString
    Stats.buildDistinctView(
      Seq(("click", 1L)).toDF("event_type", "user_id"),
      "event_type", "user_id", view)
    // simulate a legacy sketch-only view
    def rm(p: java.nio.file.Path): Unit = {
      if (java.nio.file.Files.isDirectory(p)) {
        val s = java.nio.file.Files.list(p)
        try s.forEach(rm(_)) finally s.close()
      }
      java.nio.file.Files.delete(p)
    }
    rm(java.nio.file.Paths.get(s"$view/exact"))
    val del = Seq(("click", 1L, "DELETE")).toDF("event_type", "user_id", "op")
    val e = intercept[IllegalArgumentException] {
      CdcStream.distinctAbsorb(spark, del, 1L, view, "event_type",
        "user_id", ckpt)
    }
    assert(e.getMessage.contains("no exact companion"))
    // and the refused batch left no ledger entry — a corrected feed can
    // re-deliver the id
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$view/_ledger")) ||
      spark.read.parquet(s"$view/_ledger").isEmpty)
  }

  test("mass purge: deleting a whole corpus slice through the stream " +
    "completes without a forced driver broadcast") {
    import graft.ops.DedupOps
    import graft.engine.Compaction
    val idx = Files.createTempDirectory("purge_idx").toString
    val ckpt = Files.createTempDirectory("purge_ckpt").toString
    def body(i: Long) = (1 to 50).map(j => s"p${i}w$j").mkString(" ")
    val docs = (0L until 30L).map(i => (i, body(i))).toDF("doc_id", "text")
    DedupOps.buildFingerprintIndex(docs, idx)
    // the purge batch: every doc_id % 3 == 0 — a third of the corpus in
    // one DELETE batch. With broadcasting disabled, every tombstone
    // screen/guard in the path must fall back to planner strategy (the
    // maybeBroadcast guard) instead of forcing a driver broadcast.
    val old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val purge = (0L until 30L by 3L)
        .map(i => (i, null.asInstanceOf[String], "DELETE"))
        .toDF("doc_id", "text", "op")
      CdcStream.screenAndAbsorb(spark, purge, 0L, idx, ckpt,
        CdcStream.Screen.fingerprint, (_, _) => ())
      // deletion live immediately: a near-dup of a purged doc is silent
      val probeDel = Seq((900L, body(0L) + " tail")).toDF("doc_id", "text")
      assert(DedupOps.queryFingerprintIndex(spark, idx, probeDel)
        .count() === 0L)
      // ...while a near-dup of a kept doc still fires
      val probeKept = Seq((901L, body(1L) + " tail")).toDF("doc_id", "text")
      assert(DedupOps.queryFingerprintIndex(spark, idx, probeKept)
        .filter($"doc_old" === 1L).count() === 1L)
      // the tick makes the purge physical under the same disabled-
      // broadcast config and clears the served tombstones
      assert(Compaction.maintainIndex(spark, idx, "fingerprint"))
      assert(spark.read.parquet(Compaction.resolve(s"$idx/postings"))
        .filter($"doc_id" % 3 === 0L).count() === 0L)
      assert(!java.nio.file.Files.exists(
        java.nio.file.Paths.get(s"$idx/tombstones")))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
  }

  // ── whole-dim history segment: carry, widening, bound, lifecycle ──

  private def histBatch(rows: (Long, Long, String, String)*) =
    rows.toDF("change_id", "order_key", "cdc_timestamp", "status")
      .withColumn("cdc_timestamp", $"cdc_timestamp".cast("timestamp"))

  private def applyWhole(store: SnapshotStore,
                         b: org.apache.spark.sql.DataFrame): Unit =
    CdcStream.applyChangeBatch(store, b, "order_key", "cdc_timestamp",
      "change_id", None)

  /** The current version's history files, name → inode. */
  private def histInodes(store: SnapshotStore): Map[String, AnyRef] =
    store.historyFiles(store.currentVersion().get).map { p =>
      p.getFileName.toString -> Files.getAttribute(p, "unix:ino")
    }.toMap

  /** The in-memory fold of `Scd2.merge` over `batches`, from an empty dim. */
  private def mergeFold(batches: Seq[org.apache.spark.sql.DataFrame]) =
    batches.foldLeft(Scd2.rebuild(batches.head.limit(0), "order_key",
      "cdc_timestamp", "change_id")) { (d, b) =>
      Scd2.merge(d, b, "order_key", "cdc_timestamp", "change_id")
        .localCheckpoint()
    }

  private def sameRows(a: org.apache.spark.sql.DataFrame,
                       b: org.apache.spark.sql.DataFrame): Unit = {
    val cs = b.columns.sorted.map(col).toIndexedSeq
    assert(a.select(cs: _*).orderBy("order_key", "version_no").collect().toSeq ===
      b.select(cs: _*).orderBy("order_key", "version_no").collect().toSeq)
  }

  /** Seed 8 keys, then close keys 1-4 and 5-8 in two batches. */
  private def carriedBatches = Seq(
    histBatch((1L to 8L).map(k => (k, k, "2024-01-01 00:00:00", "new")): _*),
    histBatch((1L to 4L).map(k => (10 + k, k, "2024-02-01 00:00:00", "paid")): _*),
    histBatch((5L to 8L).map(k => (20 + k, k, "2024-03-01 00:00:00", "paid")): _*))

  private def carriedStore(name: String) = {
    val store = new SnapshotStore(spark,
      Files.createTempDirectory(name).toString)
    val batches = carriedBatches
    batches.foreach(applyWhole(store, _))
    (store, batches)
  }

  test("whole-dim publish carries closed history by hard link and rewrites " +
    "only the current rows; vacuum keeps carried links readable") {
    val store = new SnapshotStore(spark,
      Files.createTempDirectory("hs_carry").toString)
    val Seq(b0, b1, b2) = carriedBatches
    applyWhole(store, b0)
    assert(store.historyFiles(store.currentVersion().get).isEmpty,
      "an insert-only batch closes nothing, so it writes no history file")
    applyWhole(store, b1)
    val v1 = store.currentVersion().get
    val h1 = histInodes(store)
    assert(h1.size === 1)
    assert(spark.read.parquet(store.historyFiles(v1).map(_.toString): _*)
      .filter($"is_current").count() === 0L, "history holds closed rows only")
    applyWhole(store, b2)
    val v2 = store.currentVersion().get
    val h2 = histInodes(store)
    assert(h2.size === 2)
    h1.foreach { case (n, i) => assert(h2.get(n).contains(i),
      s"history file $n must reappear with the same inode") }
    sameRows(store.read().get, mergeFold(Seq(b0, b1, b2)))
    // vacuum drops v0 and v1, whose dir held the first history file's
    // original name; v2's link to the same inode keeps it readable
    assert(store.vacuum(keepLast = 1).toSet === Set(0L, v1))
    assert(histInodes(store) === h2)
    sameRows(store.readVersion(v2), mergeFold(Seq(b0, b1, b2)))
  }

  test("a widening batch on a carried store rewrites both segments, then " +
    "carrying resumes") {
    val (store, batches) = carriedStore("hs_widen")
    val before = histInodes(store)
    val wide = histBatch((30L, 1L, "2024-04-01 00:00:00", "shipped"))
      .withColumn("region", lit("eu"))
    applyWhole(store, wide)
    val after = histInodes(store)
    assert(after.values.toSet.intersect(before.values.toSet).isEmpty,
      "a widened publish must not carry a file without the new column")
    val v = store.currentVersion().get
    val dir = java.nio.file.Paths.get(
      store.historyFiles(v).head.getParent.toString)
    val ls = Files.list(dir)
    try ls.iterator().forEachRemaining { p =>
      if (p.getFileName.toString.endsWith(".parquet"))
        assert(spark.read.parquet(p.toString).columns.contains("region"),
          s"widened publish left a file without the new column: $p")
    } finally ls.close()
    val dim = store.read().get
    assert(dim.filter($"order_key" === 1L && $"is_current")
      .select("region").head().getString(0) === "eu",
      "the new version carries the new column")
    assert(dim.filter(!$"is_current").filter($"region".isNotNull).count() === 0L,
      "history reads null for the new column")
    val next = histBatch((31L, 2L, "2024-05-01 00:00:00", "shipped"))
      .withColumn("region", lit("us"))
    applyWhole(store, next)
    after.foreach { case (n, i) => assert(histInodes(store).get(n).contains(i),
      "carrying resumes after the widening batch") }
    val expected = mergeFold(batches.map(_.withColumn("region",
      lit(null).cast("string"))) ++ Seq(wide, next))
    sameRows(store.read().get, expected)
  }

  test("history file count stays within 2 × defaultParallelism by folding " +
    "the smallest files; the dim equals the merge fold") {
    val dp = spark.sparkContext.defaultParallelism
    val store = new SnapshotStore(spark,
      Files.createTempDirectory("hs_bound").toString)
    val seed = histBatch((1L to 4L).map(k => (k, k, "2024-01-01 00:00:00", "s0")): _*)
    // every batch closes one version, so every batch adds a history file
    val batches = seed +: (1 to 6 * dp).map { i =>
      histBatch((100L + i, 1L + i % 4, f"2024-02-01 00:${i / 60}%02d:${i % 60}%02d",
        s"s$i"))
    }
    var folds = 0
    batches.foreach { b =>
      val prior = store.currentVersion().map(_ => histInodes(store))
        .getOrElse(Map.empty)
      val sizes = store.currentVersion().map(v => store.historyFiles(v)
        .map(p => p.getFileName.toString -> Files.size(p)).toMap)
        .getOrElse(Map.empty[String, Long])
      applyWhole(store, b)
      val now = histInodes(store)
      assert(now.size <= 2 * dp, s"history files ${now.size} > ${2 * dp}")
      val dropped = prior.keySet -- now.keySet
      if (dropped.nonEmpty) {
        folds += 1
        assert(prior.size === 2 * dp && now.size === dp,
          "a fold happens only at the bound and folds down to dp files")
        val largestFolded = dropped.map(sizes).max
        assert((prior.keySet -- dropped).forall(sizes(_) >= largestFolded),
          "a fold takes the smallest history files")
      }
      (prior.keySet -- dropped).foreach(n => assert(now.get(n) === prior.get(n)))
    }
    assert(folds >= 2, s"6 × dp batches must fold at least twice, got $folds")
    sameRows(store.read().get, mergeFold(batches))
  }

  test("purgeKeys over a carried store leaves no residual in any version; " +
    "the next batch re-splits") {
    val (store, batches) = carriedStore("hs_purge")
    val rewritten = store.purgeKeys(Seq(3L, 6L).toDF("order_key"), "order_key")
    assert(rewritten.nonEmpty)
    store.versions().foreach { v =>
      assert(store.readVersion(v).filter($"order_key".isin(3L, 6L))
        .count() === 0L, s"v$v still serves a purged key")
    }
    assert(store.historyFiles(store.currentVersion().get).isEmpty,
      "a purge rewrite is a plain publish, without a history segment")
    val next = histBatch((40L, 1L, "2024-04-01 00:00:00", "shipped"))
    applyWhole(store, next)
    assert(store.historyFiles(store.currentVersion().get).size === 1,
      "the next whole-dim batch re-splits the purged version")
    sameRows(store.read().get, mergeFold(batches :+ next)
      .filter(!$"order_key".isin(3L, 6L)))
  }

  test("a torn whole-dim publish (files and links written, pointer not " +
    "moved) retried gives no duplicates and leaves no temp dir") {
    val (store, batches) = carriedStore("hs_torn")
    val root = store.historyFiles(store.currentVersion().get).head
      .getParent.getParent
    val cur = store.currentVersion().get
    // a directory where the pointer's temp file goes makes the publish
    // fail after the version dir is fully written
    val blocker = root.resolve(s"_CURRENT.tmp${cur + 1}")
    Files.createDirectories(blocker.resolve("x"))
    val next = histBatch((50L, 2L, "2024-04-01 00:00:00", "shipped"))
    intercept[java.io.IOException](applyWhole(store, next))
    assert(store.currentVersion().contains(cur), "the pointer must not move")
    assert(store.historyFiles(cur + 1).size === 3,
      "the torn version dir holds its links and its new history file")
    Files.delete(blocker.resolve("x")); Files.delete(blocker)
    applyWhole(store, next)
    assert(store.currentVersion().contains(cur + 1))
    val dim = store.read().get
    assert(Scd2.duplicateCurrentKeys(dim, "order_key").count() === 0L)
    sameRows(dim, mergeFold(batches :+ next))
    val walk = Files.walk(root)
    try walk.iterator().forEachRemaining { p =>
      val n = p.getFileName.toString
      assert(n != "_hist" && !n.startsWith("_CURRENT.tmp"),
        s"a temp was left behind: $p")
    } finally walk.close()
  }
}

