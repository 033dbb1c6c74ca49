package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Cross-index right-to-be-forgotten certification — the audit a
  * privacy/compliance pass runs AFTER routing CDC DELETEs
  * (reference: the delete-capture contract,
  * /root/reference/src/cdc/log_extractor.py:290-334) through the
  * stored-index deletion verbs: one table proving, per index family,
  * that nothing deleted is still being served anywhere in that family,
  * alongside data-derived live counts that pin the remaining
  * population.
  *
  * Every row reads through the SAME screened read path the production
  * probes use ([[DedupOps.screenDocTombstones]],
  * [[SimilarityOps.screenAnnTombstones]],
  * [[TextOps.screenBm25Tombstones]], [[TextOps.vocabNet]]) — the audit
  * certifies the code that answers queries, not a parallel
  * reimplementation. `deleted_residual` must come back 0 for every
  * family; the live/mass metrics are corpus-derived (and for BM25 the
  * `df_mass` row re-derives the postings-pair count from the LEXICON,
  * so a drifted side table disagrees with its own postings loudly).
  *
  * Scale shape: each metric is one partial-aggregated pass over its
  * index table (count / countDistinct — map-side combine, no joins
  * beyond the size-guarded tombstone screens already in the read
  * paths), and the result is a fixed ~24 rows regardless of corpus
  * size. At 100 TB this is strictly cheaper than any single probe
  * sweep, and embarrassingly parallel across families. */
object PurgeAudit {

  /** One audit row set per family: melt a 1-row wide aggregate into
    * (family, metric, value) long format — schema-stable as families
    * gain metrics. */
  private def melt(family: String, agged: DataFrame): DataFrame = {
    val ms = agged.columns
    val pairs = ms.map(m => s"'$m', cast(`$m` as bigint)").mkString(", ")
    agged.selectExpr(s"'$family' AS family",
      s"stack(${ms.length}, $pairs) AS (metric, value)")
  }

  /** An index key column, unchanged where non-null; a null raises.
    * Keys are non-null by index construction, and an index writer that
    * ever emits a null must fail the audit loudly: a struct with a null
    * field is a distinct value that the two-column countDistinct would
    * skip, so a null would silently move the counts off the oracle's. */
  private def key(name: String): Column =
    coalesce(col(name), raise_error(lit(s"purge audit: null index key $name")))
      .as(name)

  /** Audit the stored-index families against their deletion
    * predicates. Each `*Deleted` column is the membership test of the
    * purged id set, evaluated against the family's own key column
    * (`doc_id` for fingerprint/aHash/BM25, `vec_id` for ANN); the
    * vocab view is content-keyed, so its certification is equality of
    * the netted counts with the remaining corpus (the oracle pins
    * those), not a per-id residual. */
  def audit(spark: SparkSession,
            fingerprintPath: String, fingerprintDeleted: Column,
            ahashPath: String, ahashDeleted: Column,
            ivfPath: String, ivfDeleted: Column,
            bm25Path: String, bm25Deleted: Column,
            vocabPath: String,
            pqPath: String = null, pqDeleted: Column = null,
            ivfpqPath: String = null, ivfpqDeleted: Column = null,
            distinctPath: String = null,
            distinctDeleted: Column = null): DataFrame = {
    // Tag-union the family's two screened scans into ONE aggregate pass
    // (guide §2.6 — the r21 shape ran sizes-agg ⨯ postings-agg as two
    // jobs plus a crossJoin): conditional distincts over the tagged
    // union compute the identical values in a single exchange. The
    // struct-valued distinct equals the two-column distinct only for
    // non-null fields (oracle-pinned), so the union's keys go through
    // [[key]], which raises on a null.
    val fp = () => melt("fingerprint",
      DedupOps.liveFingerprintSizes(spark, fingerprintPath)
        .select(lit("s").as("_t"), key("doc_id"),
          lit(null).cast("long").as("fp"), fingerprintDeleted.as("_del"))
        .unionByName(DedupOps.liveFingerprintPostings(spark, fingerprintPath)
          .select(lit("p").as("_t"), key("doc_id"), key("fp"),
            fingerprintDeleted.as("_del")))
        .agg(
          countDistinct(when(col("_t") === "s", col("doc_id"))).as("live_docs"),
          countDistinct(when(col("_t") === "p",
            struct(col("fp"), col("doc_id")))).as("postings_pairs"),
          count(when(col("_del"), 1)).as("deleted_residual")))
    val ah = () => melt("image_ahash",
      DedupOps.liveHashBands(spark, ahashPath)
        .agg(countDistinct(col("doc_id")).as("live_docs"),
          countDistinct(col("band"), col("doc_id")).as("band_rows"),
          count(when(ahashDeleted, 1)).as("deleted_residual")))
    val ivf = () => melt("ann_ivf",
      SimilarityOps.liveAnnAssignments(spark, ivfPath)
        .agg(countDistinct(col("vec_id")).as("live_vecs"),
          count(when(ivfDeleted, 1)).as("deleted_residual")))
    // same tag-union shape for BM25's postings + lexicon scans; the
    // one-row stats sidecar is a control-plane head() at plan build
    // (the same collect queryBm25Index already does), not a third scan
    // subtree crossJoined into the plan
    val bm = () => {
      val bmStats = TextOps.bm25StatsDf(spark, bm25Path)
        .select(col("n_docs"), col("sum_dl")).head()
      melt("bm25",
      TextOps.liveBm25Postings(spark, bm25Path)
        .select(lit("p").as("_t"), key("term"), key("doc_id"),
          bm25Deleted.as("_del"), lit(null).cast("long").as("df"))
        .unionByName(TextOps.bm25Lexicon(spark, bm25Path)
          .select(lit("l").as("_t"), lit(null).cast("string").as("term"),
            lit(null).cast("long").as("doc_id"),
            lit(null).cast("boolean").as("_del"), col("df")))
        .agg(
          countDistinct(when(col("_t") === "p", col("doc_id"))).as("live_docs"),
          countDistinct(when(col("_t") === "p",
            struct(col("term"), col("doc_id")))).as("postings_pairs"),
          count(when(col("_del"), 1)).as("deleted_residual"),
          sum(col("df")).as("df_mass"))
        .select(col("live_docs"), col("postings_pairs"),
          col("deleted_residual"), col("df_mass"),
          lit(bmStats.get(0)).as("n_docs"), lit(bmStats.get(1)).as("sum_dl")))
    }
    val voc = () => melt("vocab",
      TextOps.vocabNet(spark, vocabPath)
        .agg(count(lit(1)).as("live_words"),
          sum(col("tf")).as("token_mass"),
          sum(col("df")).as("df_mass")))
    // the lossy-code ANN variants share the vec_id tombstone protocol
    // and the `codes` scan-table layout, so one screened reader audits
    // both; optional because older call sites audited IVF only
    val pq = Option(pqPath).map(p => () => melt("ann_pq",
      SimilarityOps.liveAnnCodes(spark, p)
        .agg(countDistinct(col("vec_id")).as("live_vecs"),
          count(when(pqDeleted, 1)).as("deleted_residual")))).toSeq
    val ivfpq = Option(ivfpqPath).map(p => () => melt("ann_ivfpq",
      SimilarityOps.liveAnnCodes(spark, p)
        .agg(countDistinct(col("vec_id")).as("live_vecs"),
          count(when(ivfpqDeleted, 1)).as("deleted_residual")))).toSeq
    // the retractable distinct view (r17): the residual is evaluated
    // against the netted live pairs — the SAME exact read path
    // queryDistinctViewExact serves — so a retraction that failed to
    // net a purged key out is caught at the serving surface; pair_mass
    // re-derives the net event count, pinning the count arithmetic
    val dv = Option(distinctPath).map(p => () => melt("distinct",
      graft.engine.Stats.liveDistinctPairs(spark, p)
        .agg(count(lit(1)).as("live_pairs"),
          sum(col("cnt")).as("pair_mass"),
          count(when(distinctDeleted, 1)).as("deleted_residual")))).toSeq
    // The family audits are INDEPENDENT (each reads only its own index
    // root) and each is now a SINGLE aggregate subtree (tag-unioned
    // scans above — guide §2.6). Each family's PLAN BUILD (driver-side
    // analysis, tombstone existence probes, the bm25 stats head()) and
    // its materialization both run inside its future, so the eight
    // builds overlap as well as the jobs. They materialize as
    // CONCURRENT driver-side jobs: the one-lazy-plan alternative was measured
    // ~0.5 s SLOWER per run this round (AQE walks the union's stage
    // waves with less overlap than eight independent schedulers), same
    // verdict r20 reached — the measurement note lives in
    // OPTIMIZATION_r22.md §5. localCheckpoint (not cache) truncates
    // each family's lineage so the final union/orderBy reads 24
    // materialized rows; everything is recomputed from the index roots
    // on every invocation — no cross-run memo.
    val fams = Seq(fp, ah, ivf, bm, voc) ++ pq ++ ivfpq ++ dv
    // BOUNDED await: one hung family job must fail the audit loudly and
    // be cancelled, not wedge the compliance tick forever
    graft.engine.Bounded
      .awaitAll(spark, fams.map(f => () => f().localCheckpoint()))
      .reduce(_ unionByName _)
      .orderBy("family", "metric")
  }

  /** Fail-loud form of [[audit]] — the verb a compliance schedule runs
    * after routing a purge's CDC DELETEs: returns the audit table when
    * every id-keyed family's `deleted_residual` is 0, RAISES naming the
    * violating families (and their residual row counts) otherwise. A
    * silent `deleted_residual > 0` in a report nobody reads is exactly
    * how a right-to-be-forgotten regression ships; a raise on the
    * maintenance tick is not ignorable. The collect is the fixed
    * ~24-row audit — bounded by construction. */
  def certify(spark: SparkSession,
              fingerprintPath: String, fingerprintDeleted: Column,
              ahashPath: String, ahashDeleted: Column,
              ivfPath: String, ivfDeleted: Column,
              bm25Path: String, bm25Deleted: Column,
              vocabPath: String,
              pqPath: String = null, pqDeleted: Column = null,
              ivfpqPath: String = null,
              ivfpqDeleted: Column = null,
              distinctPath: String = null,
              distinctDeleted: Column = null): DataFrame = {
    // localCheckpoint: the multi-family sweep runs ONCE — the residual
    // check and whatever the caller does with the returned table both
    // read the materialized rows, not a re-execution of the audit
    val a = audit(spark, fingerprintPath, fingerprintDeleted,
      ahashPath, ahashDeleted, ivfPath, ivfDeleted,
      bm25Path, bm25Deleted, vocabPath,
      pqPath, pqDeleted, ivfpqPath, ivfpqDeleted,
      distinctPath, distinctDeleted).localCheckpoint()
    val bad = a.filter(col("metric") === "deleted_residual" &&
        col("value") > 0L)
      .select("family", "value").collect()
    require(bad.isEmpty,
      "purge certification FAILED — deleted ids still served by: " +
        bad.map(r => s"${r.getString(0)} (${r.getLong(1)} rows)")
          .mkString(", "))
    a
  }
}
