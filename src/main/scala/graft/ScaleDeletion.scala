package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

/** 10× scale point for the DELETION lifecycle — the r16 verdict's ask:
  * the tombstone → compaction machinery had plan audits and small-scale
  * specs but no committed slope. Same corpus construction and procedure
  * as [[ScalePoint]] (replica-ciphered text, shifted doc_ids — the
  * whole workload scales, indexes and deletion predicates included),
  * measuring:
  *
  *  - `purge_audit` — the 24-row cross-family certification sweep
  *    (cold includes building every tombstoned/retracted root for the
  *    scaled dir, warm is the pure screened multi-family read);
  *  - `text_bm25_retract_topk` — the retraction read path (cold builds
  *    the index + applies the `% 13 = 5` retraction, warm probes the
  *    screened postings against the adjusted side tables);
  *  - a MASS-PURGE absorb + forced-compaction cycle on a fresh
  *    fingerprint index: one op-aware batch deletes a third of the
  *    corpus through [[graft.streaming.CdcStream.screenAndAbsorb]] with
  *    `autoBroadcastJoinThreshold = -1`, so every size-guarded
  *    tombstone screen MUST take the `Skew.maybeBroadcast` shuffle
  *    fallback (asserted on the screened probe's executed plan — the
  *    same check StoredIndexesSpec makes at small scale), then the
  *    `fingerprint` tick makes the purge physical and the harness
  *    fail-louds on any residual.
  *
  *  - `distinct_view_retracted` — the retractable distinct view's
  *    read paths (both runs are steady-state probes of the exact
  *    companion joined with the rebuilt HLL: the root's build + two
  *    tagged merges + the `user_id % 10 = 7` retraction + the hll
  *    tick's sketch rebuild happen inside `purge_audit`'s COLD run,
  *    which builds every audit root first — the lifecycle-build slope
  *    is therefore carried by the audit's cold row, not this one).
  *
  * As of r17 the replica construction scales EVENTS too (user_id /
  * event_id shifted by i·10⁷ — ScalePoint.buildScaledEvents), so the
  * events-keyed distinct family scales with everything else: 10× rows,
  * 10× (grp, key) pairs, 10× retraction slice, same group set.
  */
object ScaleDeletion {

  import ScalePoint.time

  def main(args: Array[String]): Unit = {
    val baseDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val outDir = if (args.length > 1) args(1) else "/tmp/graft_scale10x"
    val spark = ScalePoint.bootstrap(baseDir, outDir)

    val results = scala.collection.mutable.ArrayBuffer
      .empty[(String, String, Double, Double, Long)]
    for ((label, dir) <- Seq("base_sf0.1" -> baseDir, "scaled_10x" -> outDir)) {
      for (q <- Seq("purge_audit", "text_bm25_retract_topk",
          "distinct_view_retracted")) {
        val fn = SparkEntry.queries(q)
        val (t1, rows) = time(fn(spark, dir).count())
        val (t2, _) = time(fn(spark, dir).count())
        println(f"$label%-11s $q%-22s cold=$t1%8.2fs warm=$t2%8.2fs rows=$rows")
        results += ((label, q, t1, t2, rows))
      }
      // mass-purge cycle, broadcast disabled end-to-end: the absorb's
      // tombstone append, the probe's screen, and the compaction's
      // anti-join must all ride the maybeBroadcast shuffle fallback
      val docs = graft.engine.Tables.documents(spark, dir)
      val idx = Files.createTempDirectory("scale_purge_idx").toString
      val ckpt = Files.createTempDirectory("scale_purge_ckpt").toString
      // count OUTSIDE the timed block: the label needs it, the build
      // figure must not carry an unrelated corpus scan
      val nDocs = docs.count()
      val (tBuild, _) = time {
        graft.ops.DedupOps.buildFingerprintIndex(docs, idx)
      }
      val old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      try {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        val purge = docs.filter(col("doc_id") % 3 === 0)
          .select(col("doc_id"),
            lit(null).cast("string").as("text"), lit("DELETE").as("op"))
        val (tAbsorb, _) = time {
          graft.streaming.CdcStream.screenAndAbsorb(spark, purge, 0L, idx,
            ckpt, graft.streaming.CdcStream.Screen.fingerprint, (_, _) => ())
        }
        val probe = docs.filter(col("doc_id") % 3 === 1)
          .limit(50).select(col("doc_id") + 900000000L as "doc_id", col("text"))
        val screened = graft.ops.DedupOps.queryFingerprintIndex(spark, idx, probe)
        val plan = screened.queryExecution.executedPlan.toString
        require(!plan.contains("BroadcastHashJoin"),
          "mass purge: the tombstone screen must fall back to planner " +
            "strategy, never a forced driver broadcast")
        val (tProbe, nHits) = time(screened.count())
        val (tCompact, rewrote) = time(
          graft.engine.Compaction.maintainIndex(spark, idx, "fingerprint"))
        require(rewrote, "the forced tick must rewrite the purged tables")
        val residual = spark.read
          .parquet(graft.engine.Compaction.resolve(s"$idx/postings"))
          .filter(col("doc_id") % 3 === 0).count()
        require(residual == 0L,
          s"mass purge left $residual served postings rows — residual " +
            "after the physical tick must be zero")
        println(f"$label%-11s mass_purge ($nDocs docs, third deleted) " +
          f"build=$tBuild%8.2fs absorb=$tAbsorb%8.2fs " +
          f"screened_probe=$tProbe%8.2fs ($nHits hits) compact=$tCompact%8.2fs " +
          "fallback=engaged residual=0")
        // single-run measurements: one labeled row each, never packed
        // into a cold/warm pair they are not
        results += ((label, "mass_purge_build", tBuild, tBuild, nDocs))
        results += ((label, "mass_purge_absorb", tAbsorb, tAbsorb, nDocs))
        results += ((label, "mass_purge_probe", tProbe, tProbe, nHits))
        results += ((label, "mass_purge_compact", tCompact, tCompact, nDocs))
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)

      // time-travel purge over a MULTI-VERSION snapshot store — the r17
      // verdict's missing slope (purgeKeys landed after ScaleDeletion's
      // measurement): three erasure requests queue O(|keys|) each, ONE
      // scheduled sweep pays the O(retained-window) rewrite — a growing
      // three-version store, every version rewritten, residual audited.
      val evTbl = graft.engine.Tables.events(spark, dir)
      val storeRoot =
        Files.createTempDirectory("scale_purge_store").toString
      val store = new graft.engine.SnapshotStore(spark, storeRoot)
      val (tPublish, _) = time {
        store.publish(evTbl.filter(col("event_id") % 3 === 0))
        store.publish(evTbl.filter(col("event_id") % 3 =!= 2))
        store.publish(evTbl)
      }
      // the erasure slice: user_id % 30 ∈ {7,17,27} ⇔ % 10 = 7 — the
      // same 1/10-of-users residue the distinct-view retraction uses,
      // split into three arriving requests
      val nKeys = evTbl.filter(col("user_id") % 10 === 7)
        .select("user_id").distinct().count()
      val (tQueue, _) = time {
        Seq(7L, 17L, 27L).foreach { r =>
          store.queuePurgeKeys(
            evTbl.filter(col("user_id") % 30 === r)
              .select("user_id").distinct(), "user_id")
        }
      }
      val (tSweep, rewritten) = time(store.purgeSweep("user_id"))
      require(rewritten.toSet == Set(3L, 0L, 1L, 2L),
        s"the sweep must publish ONE fresh current and rewrite every " +
          s"retained version exactly once, got $rewritten")
      val resid = store.versions()
        .map(v => store.readVersion(v)
          .filter(col("user_id") % 10 === 7).count()).sum
      require(resid == 0L,
        s"time-travel purge left $resid rows of the erased users across " +
          "the retained window")
      val (tNoop, none) = time(store.purgeSweep("user_id"))
      require(none.isEmpty,
        "a sweep with nothing queued must rewrite nothing")
      println(f"$label%-11s tt_purge ($nKeys users erased, 4 versions) " +
        f"publish=$tPublish%8.2fs queue=$tQueue%8.2fs sweep=$tSweep%8.2fs " +
        f"noop_sweep=$tNoop%8.2fs residual=0")
      results += ((label, "tt_purge_publish", tPublish, tPublish, nKeys))
      results += ((label, "tt_purge_queue", tQueue, tQueue, nKeys))
      results += ((label, "tt_purge_sweep", tSweep, tSweep, nKeys))
      results += ((label, "tt_purge_noop_sweep", tNoop, tNoop, 0L))
    }
    println()
    for (q <- results.map(_._2).distinct) {
      val b = results.find(r => r._1 == "base_sf0.1" && r._2 == q).get
      val s = results.find(r => r._1 == "scaled_10x" && r._2 == q).get
      val slope =
        if (q.startsWith("mass_purge_") || q.startsWith("tt_purge_"))
          f"slope=${s._3 / b._3}%5.2fx"
        else f"cold=${s._3 / b._3}%5.2fx warm=${s._4 / b._4}%5.2fx"
      println(f"SLOPE $q%-22s $slope (rows ${b._5} -> ${s._5})")
    }
    spark.stop()
  }
}
