package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.engine.Stats
import graft.ops.{DedupOps, Multimodal, PurgeAudit, SimilarityOps, TextOps}

/** The cross-index purge audit: residual 0 through every family's
  * production screen after deletion, hand-computable live counts, and
  * non-vacuity (an index whose deletion never ran MUST show a positive
  * residual — the audit can actually fail). */
class PurgeAuditSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(tag).toString

  // 12 docs with distinctive vocabularies; doc_id 0-11
  private def docs =
    (0L to 11L).map(id => (id, (1 to 40).map(j => s"w$id$j").mkString(" ")))
      .toDF("doc_id", "text")

  // 10 deterministic embeddings, vec_id 0-9
  private def embs =
    (0L to 9L).map(id => (id,
      Array(math.sin(id + 1.0).toFloat, math.cos(id * 2.0).toFloat,
        (id * 0.1f + 0.3f), 1.0f)))
      .toDF("vec_id", "embedding")

  private val delDocs = col("doc_id") % 3 === 1   // docs 1,4,7,10
  private val delVecs = col("vec_id") % 3 === 1   // vecs 1,4,7
  private val delKeys = col("k") % 3 === 1        // users 1,4,7,10

  // 12 (event_type, user_id) rows, one per user — the distinct view's
  // exact companion then holds one pair per user. Grouping by id % 2
  // (while the purge slice is id % 3 == 1) spreads the retracted users
  // ACROSS groups that keep survivors: a retraction bug that wiped a
  // whole touched group instead of netting per-pair would change the
  // live counts, which a purged-set ≡ group coincidence could not see.
  private def evrows =
    (0L to 11L).map(id => (s"t${id % 2}", id)).toDF("event_type", "user_id")

  private case class Roots(fp: String, ah: String, ivf: String,
                           bm: String, voc: String, pq: String,
                           ivfpq: String, dv: String)

  private def buildAll(del: Boolean): Roots = {
    val r = Roots(tmp("pa_fp"), tmp("pa_ah"), tmp("pa_ivf"), tmp("pa_bm"),
      tmp("pa_voc"), tmp("pa_pq"), tmp("pa_ivfpq"), tmp("pa_dv"))
    DedupOps.buildFingerprintIndex(docs, r.fp)
    DedupOps.buildHashIndex(
      Multimodal.imageAHash(Multimodal.encodePng(docs)), r.ah)
    SimilarityOps.buildIvfIndex(embs, r.ivf, k = 2, iters = 2)
    TextOps.buildBm25Index(docs, r.bm)
    TextOps.buildVocabIndex(docs, r.voc)
    SimilarityOps.buildPqIndex(embs, r.pq, m = 2, ksub = 2, iters = 1)
    SimilarityOps.buildIvfPqIndex(embs, r.ivfpq, k = 2, iters = 2,
      m = 2, ksub = 2, pqIters = 1)
    Stats.buildDistinctView(evrows, "event_type", "user_id", r.dv)
    if (del) {
      DedupOps.tombstoneFingerprintIndex(
        docs.filter(delDocs).select("doc_id"), r.fp)
      DedupOps.tombstoneHashIndex(docs.filter(delDocs).select("doc_id"), r.ah)
      for (annRoot <- Seq(r.ivf, r.pq, r.ivfpq))
        SimilarityOps.tombstoneAnnIndex(
          embs.filter(delVecs).select("vec_id"), annRoot)
      TextOps.retractBm25Index(docs.filter(delDocs), r.bm)
      TextOps.retractVocabIndex(docs.filter(delDocs), r.voc)
      Stats.retractDistinctView(evrows.filter(col("user_id") % 3 === 1),
        "event_type", "user_id", r.dv, "purge")
    }
    r
  }

  private def audit(r: Roots) =
    PurgeAudit.audit(spark,
      r.fp, delDocs, r.ah, delDocs, r.ivf, delVecs,
      r.bm, delDocs, r.voc, r.pq, delVecs, r.ivfpq, delVecs,
      r.dv, delKeys)
      .collect()
      .map(x => (x.getString(0), x.getString(1)) -> x.getLong(2)).toMap

  test("after deletion every family's residual is 0 and the live counts " +
    "are the remaining population") {
    val m = audit(buildAll(del = true))
    val residuals = m.filter(_._1._2 == "deleted_residual")
    assert(residuals.size === 7)
    assert(residuals.values.forall(_ == 0L),
      s"no family may serve a purged id: $residuals")
    // 8 of 12 docs remain, 7 of 10 vectors
    assert(m(("fingerprint", "live_docs")) === 8L)
    assert(m(("image_ahash", "live_docs")) === 8L)
    assert(m(("image_ahash", "band_rows")) === 32L) // 8 docs x 4 bands
    assert(m(("ann_ivf", "live_vecs")) === 7L)
    assert(m(("ann_pq", "live_vecs")) === 7L)
    assert(m(("ann_ivfpq", "live_vecs")) === 7L)
    assert(m(("bm25", "live_docs")) === 8L)
    assert(m(("bm25", "n_docs")) === 8L)
    assert(m(("bm25", "sum_dl")) === 8L * 40L)
    // distinctive vocabularies: every (doc, word) pair is unique, so
    // postings pairs = tokens, and the lexicon's df mass must agree
    assert(m(("bm25", "postings_pairs")) === 8L * 40L)
    assert(m(("bm25", "df_mass")) === m(("bm25", "postings_pairs")))
    assert(m(("vocab", "live_words")) === 8L * 40L)
    assert(m(("vocab", "token_mass")) === 8L * 40L)
    assert(m(("vocab", "df_mass")) === 8L * 40L)
    // the retractable distinct view: 8 of 12 (type, user) pairs remain
    assert(m(("distinct", "live_pairs")) === 8L)
    assert(m(("distinct", "pair_mass")) === 8L)
  }

  test("non-vacuity: an index whose deletion never ran shows a positive " +
    "residual in every id-keyed family") {
    val m = audit(buildAll(del = false))
    assert(m(("fingerprint", "deleted_residual")) > 0L)
    assert(m(("image_ahash", "deleted_residual")) > 0L)
    assert(m(("ann_ivf", "deleted_residual")) > 0L)
    assert(m(("ann_pq", "deleted_residual")) > 0L)
    assert(m(("ann_ivfpq", "deleted_residual")) > 0L)
    assert(m(("bm25", "deleted_residual")) > 0L)
    assert(m(("distinct", "deleted_residual")) > 0L)
    // and the content-keyed vocab view still carries the full corpus
    assert(m(("vocab", "token_mass")) === 12L * 40L)
  }

  test("certify raises naming every violating family before deletion " +
    "and returns the audit table after it") {
    val dirty = buildAll(del = false)
    val e = intercept[IllegalArgumentException] {
      PurgeAudit.certify(spark,
        dirty.fp, delDocs, dirty.ah, delDocs, dirty.ivf, delVecs,
        dirty.bm, delDocs, dirty.voc,
        dirty.pq, delVecs, dirty.ivfpq, delVecs, dirty.dv, delKeys)
    }
    for (f <- Seq("fingerprint", "image_ahash", "ann_ivf", "ann_pq",
        "ann_ivfpq", "bm25", "distinct"))
      // delimited match: the message format is "family (N rows)", and a
      // bare contains("ann_ivf") would be satisfied by "ann_ivfpq"
      assert(e.getMessage.contains(s"$f ("),
        s"the raise must name family '$f': ${e.getMessage}")
    val clean = buildAll(del = true)
    val rows = PurgeAudit.certify(spark,
      clean.fp, delDocs, clean.ah, delDocs, clean.ivf, delVecs,
      clean.bm, delDocs, clean.voc,
      clean.pq, delVecs, clean.ivfpq, delVecs,
      clean.dv, delKeys).collect()
    assert(rows.length === 24)
  }

  test("one Erasure.sweep fans a request across dim + every stored " +
    "family, folds queued requests, and certifies residual 0 everywhere") {
    import graft.engine.SnapshotStore
    import graft.ops.Erasure
    val r = buildAll(del = false) // nothing deleted yet
    // SCD2 dim store with two retained versions over the same user ids
    val store = new SnapshotStore(spark, tmp("pa_dim"))
    store.publish((0L to 11L).map(u => (u, s"a$u")).toDF("user_id", "v"))
    store.publish((0L to 11L).map(u => (u, s"b$u")).toDF("user_id", "v"))
    // an erasure request already queued BEFORE this sweep must fold
    // into the same single window rewrite
    store.queuePurgeKeys(Seq(10L).toDF("user_id"), "user_id")
    val vBefore = store.currentVersion().get

    val auditRows = Erasure.sweep(spark,
      docs.filter(delDocs),                       // docs 1,4,7,10
      embs.filter(delVecs).select("vec_id"),      // vecs 1,4,7
      Erasure.Targets(r.fp, r.ah, r.ivf, r.bm, r.voc, r.pq, r.ivfpq,
        r.dv, "event_type", "user_id", store, "user_id"),
      dimKeys = Seq(1L, 4L, 7L).toDF("user_id"),
      distinctPairs = evrows.filter(col("user_id") % 3 === 1))
      .collect()
      .map(x => (x.getString(0), x.getString(1)) -> x.getLong(2)).toMap

    // all 24 audit rows present, every residual 0 — certify would have
    // raised otherwise, but pin it explicitly
    assert(auditRows.size === 24)
    val residuals = auditRows.filter(_._1._2 == "deleted_residual")
    assert(residuals.size === 7 && residuals.values.forall(_ == 0L),
      s"one sweep must leave residual 0 in every family: $residuals")
    assert(auditRows(("fingerprint", "live_docs")) === 8L)
    assert(auditRows(("ann_ivf", "live_vecs")) === 7L)
    assert(auditRows(("distinct", "live_pairs")) === 8L)
    // the dim is deletion-complete across TIME TRAVEL, including the
    // PRE-QUEUED key 10 — and the fold cost ONE fresh publish (N
    // requests ≠ N window rewrites)
    assert(store.currentVersion().get === vBefore + 1)
    store.versions().foreach { v =>
      assert(store.readVersion(v)
        .filter(col("user_id").isin(1L, 4L, 7L, 10L)).count() === 0L,
        s"dim version $v must not serve any erased key")
    }
    // non-vacuity: an UNDER-SCOPED sweep (erased only docs 1,4 of the
    // slice) cannot certify against the full claim — the compliance
    // schedule's certify step catches a request that missed ids
    val r2 = buildAll(del = false)
    Erasure.sweep(spark, docs.filter(col("doc_id").isin(1L, 4L)),
      embs.filter(delVecs).select("vec_id"),
      Erasure.Targets(r2.fp, r2.ah, r2.ivf, r2.bm, r2.voc))
    val e = intercept[IllegalArgumentException] {
      PurgeAudit.certify(spark, r2.fp, delDocs, r2.ah, delDocs,
        r2.ivf, delVecs, r2.bm, delDocs, r2.voc)
    }
    assert(e.getMessage.contains("purge certification FAILED") &&
      e.getMessage.contains("fingerprint"),
      s"under-deletion must be named: ${e.getMessage}")
  }

  test("a null index key fails the audit loudly instead of shifting its " +
    "counts") {
    import graft.engine.Compaction
    val r = buildAll(del = false)
    // one postings row with a null fingerprint — no index writer emits
    // one; the struct-valued distinct would count it as a pair
    val live = Compaction.resolve(s"${r.fp}/postings")
    val row = spark.read.parquet(live).limit(1).localCheckpoint()
    row.withColumn("fp", lit(null).cast(row.schema("fp").dataType))
      .write.mode("append").parquet(live)
    val e = intercept[Exception](audit(r))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("null index key fp")),
      s"the audit must name the null key: $e")
  }

  test("a timed-out bounded await cancels its jobs instead of leaving " +
    "them running") {
    import scala.concurrent.duration._
    val sleeper = () =>
      spark.range(1).map { x => Thread.sleep(120000L); x }.count()
    intercept[java.util.concurrent.TimeoutException](
      graft.engine.Bounded.awaitAll(spark, Seq(sleeper), 5.seconds))
    val tracker = spark.sparkContext.statusTracker
    val deadline = System.currentTimeMillis + 30000L
    while (tracker.getActiveJobIds.nonEmpty &&
        System.currentTimeMillis < deadline) Thread.sleep(100)
    assert(tracker.getActiveJobIds.isEmpty,
      "the job the await gave up on must be cancelled")
  }
}
