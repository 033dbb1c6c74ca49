package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.engine.{Bounded, Caches, Cdc, Scd2, SnapshotStore, Stats, Tables, ZOrder}
import graft.ops.{Curation, DedupOps, Multimodal, PurgeAudit, SamplingOps, SimilarityOps, TextOps}

/** Driver contract — see /root/repo/SURVEY.md §2 (★ inventory) and §7.
  *
  * Every query is paired with a DuckDB oracle over the same parquet tables.
  * Determinism rules used throughout (SURVEY §7.4):
  *  - every result carries a total ORDER BY on a unique key;
  *  - SUM/AVG over doubles go through DECIMAL (order-independent) and cast
  *    the final scalar back to DOUBLE;
  *  - integer-ish outputs are BIGINT on both sides (Spark `cast("long")`,
  *    DuckDB row_number/count are already BIGINT);
  *  - equal event timestamps are tie-broken by `event_id`.
  */
object SparkEntry {

  /** Fixed watermark/split point inside the events table's time range. */
  private val WM = "2024-01-20 00:00:00"
  /** Fixed as-of instant for point-in-time lookups. */
  private val ASOF = "2024-01-15 00:00:00"
  // snapshot-diff endpoints: early enough that some keys' first event is
  // still ahead (INSERT rows), far enough apart that most keys advanced
  // versions (UPDATE rows)
  private val DIFF_T1 = "2024-01-02 00:00:00"
  private val DIFF_T2 = "2024-01-20 00:00:00"

  private val KEY = "user_id"; private val TS = "ts"; private val TIE = "event_id"

  private def ev(s: SparkSession, dir: String): DataFrame = Tables.events(s, dir)
  private def dimOf(df: DataFrame): DataFrame = Scd2.rebuild(df, KEY, TS, TIE)

  private val dimCols =
    Seq("user_id", "event_id", "event_type", "value", "props",
      "valid_from", "valid_to", "is_current", "version_no", "cdc_operation")

  /** DuckDB CTE mirroring [[Scd2.rebuild]] over `src`. */
  private def dimSql(src: String): String =
    s"""dim AS (
       |  SELECT event_id, user_id, event_type, value, props, ts,
       |         ts AS valid_from,
       |         lead(ts) OVER w AS valid_to,
       |         (lead(ts) OVER w IS NULL) AS is_current,
       |         row_number() OVER w AS version_no,
       |         CASE WHEN row_number() OVER w = 1 THEN 'INSERT' ELSE 'UPDATE' END AS cdc_operation
       |  FROM $src
       |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
       |)""".stripMargin

  private val dimColsSql = dimCols.mkString(", ")

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("scd2_rebuild")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ── W2: full declarative SCD2 rebuild (the flagship) ──────────────
    "scd2_rebuild" -> ((s, dir) =>
      dimOf(ev(s, dir)).select(dimCols.map(col): _*)
        .orderBy("user_id", "version_no")),

    // ── P2: current-rows snapshot ─────────────────────────────────────
    "scd2_current" -> ((s, dir) =>
      Scd2.current(dimOf(ev(s, dir))).select(dimCols.map(col): _*)
        .orderBy("user_id")),

    // ── J5: point-in-time (as-of) interval lookup ─────────────────────
    "scd2_asof" -> ((s, dir) =>
      Scd2.asOf(dimOf(ev(s, dir)), expr(s"TIMESTAMP '$ASOF'"))
        .select(dimCols.map(col): _*).orderBy("user_id")),

    // ── W3/F6: version timeline with status label ─────────────────────
    "scd2_timeline" -> ((s, dir) =>
      dimOf(ev(s, dir)).select(
        col("user_id"), col("version_no"), col("valid_from"),
        when(col("is_current"), lit("Current"))
          .otherwise(concat(lit("Expired: "),
            date_format(col("valid_to"), "yyyy-MM-dd HH:mm:ss"))).as("status"))
        .orderBy("user_id", "version_no")),

    // ── §7.3(c): dense surrogate keys without the one-task sort ───────
    // The reference's surrogate_key BIGSERIAL (scd2_loader.py:104) made
    // deterministic: 1-based sequence under the total order
    // (user_id, version_no), assigned by the two-pass range-partitioned
    // prefix sum (GlobalOrder) — numbering identical to a global
    // row_number window, work bounded per task.
    "scd2_surrogate_keys" -> ((s, dir) =>
      Scd2.withSurrogateKey(dimOf(ev(s, dir)),
          Seq(col("user_id"), col("version_no")))
        .select("surrogate_key", "user_id", "version_no", "is_current")
        .orderBy("surrogate_key")),

    // The BIGSERIAL stability property under incremental load: history
    // keyed before the watermark keeps its surrogate keys through the
    // merge (expire is an update-in-place in the reference, the row's
    // key survives — scd2_loader.py:361-402); only the merge's new
    // versions draw keys max+1.. — so fact-table foreign keys never
    // dangle across loads.
    "scd2_surrogate_extend" -> ((s, dir) => {
      val e = ev(s, dir)
      val hist = bucketedHistDim(s, dir, "hist",
        e.filter(col(TS) <= expr(s"TIMESTAMP '$WM'")))
      val keyed = Scd2.withSurrogateKey(hist,
        Seq(col("user_id"), col("version_no")))
      val merged = Scd2.merge(hist,
        e.filter(col(TS) > expr(s"TIMESTAMP '$WM'")), KEY, TS, TIE)
      Scd2.extendSurrogateKey(keyed, merged,
          Seq("user_id", "version_no"),
          Seq(col("user_id"), col("version_no")))
        .select("surrogate_key", "user_id", "version_no", "is_current")
        .orderBy("surrogate_key")
    }),

    // ── S1/P1/P5: watermarked incremental scan + op classification ────
    "cdc_watermark_scan" -> ((s, dir) =>
      Cdc.watermarkScan(ev(s, dir), expr(s"TIMESTAMP '$WM'"), KEY, TS)
        .orderBy("event_id")),

    // ── W1/A3: last-write-wins dedup per key ──────────────────────────
    "cdc_dedup_last" -> ((s, dir) =>
      Cdc.dedupLastPerKey(ev(s, dir), KEY, TS, TIE).orderBy("user_id")),

    // ── J1/J2/U3: incremental merge == rebuild over (hist ∪ batch) ────
    // The dim side is a BUCKETED published snapshot (pre-hashed by key
    // at write time — SnapshotStore.publishBucketed), so the merge's
    // per-key timeline aggregate and its routing joins plan ZERO
    // Exchange on the dimension side: only the (small) change batch
    // moves. This is the scale-correct form of the reference's per-key
    // current-row lookup loop (scd2_loader.py:189-207) — lookup locality
    // from bucketing instead of a B-tree.
    "scd2_merge_incremental" -> ((s, dir) => {
      val e = ev(s, dir)
      val batch = e.filter(col(TS) > expr(s"TIMESTAMP '$WM'"))
      Scd2.merge(bucketedHistDim(s, dir, "hist",
          e.filter(col(TS) <= expr(s"TIMESTAMP '$WM'"))),
          batch, KEY, TS, TIE)
        .select(dimCols.map(col): _*).orderBy("user_id", "version_no")
    }),

    // ── S9/J2: op-aware merge — DELETE expires without inserting ──────
    "scd2_merge_deletes" -> ((s, dir) => {
      val e = ev(s, dir).withColumn("operation_type",
        when(col("event_type") === "error", "DELETE").otherwise("UPSERT"))
      val batch = e.filter(col(TS) > expr(s"TIMESTAMP '$WM'"))
      Scd2.merge(bucketedHistDim(s, dir, "histop",
          e.filter(col(TS) <= expr(s"TIMESTAMP '$WM'"))),
          batch, KEY, TS, TIE, Some("operation_type"))
        .select(dimCols.map(col): _*).orderBy("user_id", "version_no")
    }),

    // ── J2: upsert routing by current-row existence ───────────────────
    "upsert_routing" -> ((s, dir) => {
      val e = ev(s, dir)
      val cur = Scd2.current(dimOf(e.filter(col(TS) <= expr(s"TIMESTAMP '$WM'"))))
        .select(col(KEY), lit(1).as("_exists"))
      val b = Cdc.dedupLastPerKey(e.filter(col(TS) > expr(s"TIMESTAMP '$WM'")), KEY, TS, TIE)
      b.join(cur, Seq(KEY), "left_outer")
        .select(col("user_id"), col("event_id"), col("ts"),
          when(col("_exists").isNull, lit("INSERT")).otherwise(lit("UPDATE"))
            .as("routed_op"))
        .orderBy("user_id")
    }),

    // ── A1: dimension summary stats ───────────────────────────────────
    "scd2_summary_stats" -> ((s, dir) =>
      Stats.dimSummary(dimOf(ev(s, dir)), KEY)),

    // ── A2: source table stats ────────────────────────────────────────
    "source_stats" -> ((s, dir) => Stats.sourceStats(Tables.orders(s, dir))),

    // ── A4: change-frequency per key ──────────────────────────────────
    "change_frequency" -> ((s, dir) =>
      Stats.changeFrequency(dimOf(ev(s, dir)), KEY)
        .orderBy(desc("n_versions"), col("user_id"))),

    // ── A5: duplicate-current invariant (empty == holds) ──────────────
    "dup_current_invariant" -> ((s, dir) =>
      Scd2.duplicateCurrentKeys(dimOf(ev(s, dir)), KEY).orderBy("user_id")),

    // ── A8: content-hash batch id ─────────────────────────────────────
    "batch_id_hash" -> ((s, dir) =>
      Cdc.batchId(ev(s, dir).filter(col(TS) > expr(s"TIMESTAMP '$WM'")), TIE)),

    // ── A6: trailing-window stats by type ─────────────────────────────
    "event_type_stats" -> ((s, dir) =>
      Stats.recentTypeStats(ev(s, dir), 7).orderBy("event_type")),

    // join-key skew diagnosis: the 10 heaviest user_ids with share and
    // skew factor vs the mean key — the pre-shuffle audit that decides
    // salting / broadcast / AQE skew-join before a 100 TB join
    "skew_report" -> ((s, dir) =>
      Stats.skewReport(ev(s, dir), "user_id", 10)),

    // pipeline-health alarm: daily counts ≥ 2σ from the type's mean —
    // mean/var from exact integer sums, a fixed IEEE expression both
    // engines evaluate identically
    "event_anomalies" -> ((s, dir) =>
      Stats.dailyAnomalies(ev(s, dir), 2.0).orderBy("event_type", "day")),

    // ingestion freshness: per type, latest event time and its lag
    // behind the global high-water mark (event time, not wall clock)
    "freshness_report" -> ((s, dir) =>
      Stats.freshnessReport(ev(s, dir)).orderBy("event_type")),

    // click→purchase funnel: of users with a click, the share with a
    // purchase within 7 days of their FIRST click — two narrow filtered
    // aggregates + one key join, exact counts, one IEEE division
    "funnel_conversion" -> ((s, dir) => {
      val e = ev(s, dir)
      val clicks = e.filter(col("event_type") === "click")
        .groupBy("user_id").agg(min(col(TS)).as("first_click"))
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col(TS).as("pts"))
      clicks.join(purchases, Seq("user_id"), "left")
        .groupBy("user_id")
        .agg(max(coalesce(
          (col("pts") >= col("first_click") &&
            col("pts") <= col("first_click") + expr("INTERVAL 7 DAYS"))
            .cast("long"), lit(0L))).as("converted"))
        .agg(count(lit(1)).as("n_clickers"),
          sum(col("converted")).as("n_converted"),
          (sum(col("converted")).cast("double") / count(lit(1)))
            .as("conversion_rate"))
    }),

    // weekly retention cohorts: users grouped by first-seen ISO week ×
    // weeks-since-cohort activity — the classic warehouse triangle; one
    // first-seen aggregate + one cohort join + one distinct count
    "retention_cohorts" -> ((s, dir) => {
      val e = ev(s, dir)
      val firstSeen = e.groupBy("user_id")
        .agg(min(date_trunc("week", col(TS))).as("cohort"))
      e.join(firstSeen, "user_id")
        .groupBy(col("cohort"),
          expr(s"CAST(datediff(date_trunc('week', $TS), cohort) div 7 AS BIGINT)")
            .as("week_offset"))
        .agg(count_distinct(col("user_id")).as("n_active"))
        .orderBy("cohort", "week_offset")
    }),

    // z-order layout key: Morton interleave of (user_id, event_id) — the
    // write-time clustering that keeps file min/max stats tight in BOTH
    // dimensions (ZOrderSpec measures the box-predicate pruning win vs a
    // linear sort); exact integer bit math the oracle replays verbatim
    "zorder_layout" -> ((s, dir) =>
      ev(s, dir).select(col("event_id"), col("user_id"),
        ZOrder.zvalue2(col("user_id"), col("event_id")).as("zval"))
        .orderBy("zval", "event_id")),

    // z-order over a CONTINUOUS dimension: the double `value` column is
    // first equi-depth-bucketed into 2^16 ranks (range-partitioned
    // GlobalOrder — bit-masking a double would collapse the curve), then
    // interleaved with user_id; rank ties spread by the tie-break, so a
    // hot value cannot hot-spot a cell
    "zorder_bucketed" -> ((s, dir) => {
      val b = ZOrder.equiDepthBucket(
        ev(s, dir).select("event_id", "user_id", "value"),
        Seq(col("value"), col("event_id")))
      b.select(col("event_id"), col("zbucket"),
        ZOrder.zvalue2(col("zbucket"), col("user_id")).as("zval"))
        .orderBy("zval", "event_id")
    }),

    // ── U1: union of labeled counts ───────────────────────────────────
    "union_counts" -> ((s, dir) => {
      val d = dimOf(ev(s, dir))
      val a = ev(s, dir).agg(count(lit(1)).as("n")).withColumn("label", lit("events"))
      val b = Scd2.current(d).agg(count(lit(1)).as("n"))
        .withColumn("label", lit("current_rows"))
      val c = d.filter(!col("is_current")).agg(count(lit(1)).as("n"))
        .withColumn("label", lit("historical_rows"))
      a.unionByName(b).unionByName(c).select("label", "n").orderBy("label")
    }),

    // ── O3: top-k with deterministic tie-break ────────────────────────
    "topk_orders" -> ((s, dir) =>
      Tables.orders(s, dir).select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(desc("o_totalprice"), col("o_orderkey")).limit(10)),

    // ── F1-F13: scalar function tour ──────────────────────────────────
    "scalar_funcs" -> ((s, dir) =>
      ev(s, dir).select(
        col("event_id"),
        date_trunc("day", col("ts")).as("day_bucket"),
        date_format(col("ts"), "yyyyMMdd_HHmmss").as("ts_fmt"),
        md5(concat_ws("|", col("event_id").cast("string"), col("event_type")))
          .as("row_hash"),
        when(col("event_type") === "purchase", "completed")
          .when(col("event_type") === "error", "failed")
          .otherwise("active").as("status_label"),
        concat(lit("Event: "), col("event_type")).as("label"),
        unix_timestamp(col("ts")).as("epoch_s"),
        round(col("value") * 100).cast("long").as("value_cents"),
        get_json_object(col("props"), "$.k").as("k_str"))
        .orderBy("event_id")),

    // ── TPC-H-shaped scale queries (scan+agg, multi-join) ─────────────
    "pricing_summary" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
      // All money arithmetic in exact decimal: double→decimal(_,2) recovers
      // the generator's 2-dp values, and decimal × decimal is exact, so sums
      // are order-independent and bit-identical to the oracle.
      val ext = col("l_extendedprice").cast("decimal(18,2)")
      val oneMinusDisc = lit(1).cast("decimal(3,2)") - col("l_discount").cast("decimal(3,2)")
      val onePlusTax = lit(1).cast("decimal(3,2)") + col("l_tax").cast("decimal(3,2)")
      val discPrice = ext * oneMinusDisc
      val charge = ext * oneMinusDisc * onePlusTax
      li.groupBy("l_returnflag", "l_linestatus").agg(
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"),
        sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double")
          .as("sum_base_price"),
        sum(discPrice).cast("double").as("sum_disc_price"),
        sum(charge).cast("double").as("sum_charge"),
        (sum(col("l_quantity").cast("decimal(18,2)")).cast("double") /
          count(lit(1))).as("avg_qty"),
        count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    }),

    "revenue_by_nation" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir); val o = Tables.orders(s, dir)
      val c = Tables.customer(s, dir); val n = Tables.nation(s, dir)
      val r = Tables.region(s, dir)
      // lineitem⋈orders is the big shuffle join (AQE may broadcast at small
      // SF); dims are broadcast explicitly — at 100 TB customer moves to a
      // shuffle join automatically once it exceeds the broadcast threshold.
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy(r("r_name"), n("n_name"))
        .agg(
          sum(col("l_extendedprice").cast("decimal(18,2)") *
            (lit(1).cast("decimal(3,2)") - col("l_discount").cast("decimal(3,2)")))
            .cast("double").as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy("r_name", "n_name")
    }),

    // ── 5-way star join over part/supplier (brand revenue by nation) ──
    "brand_revenue_by_nation" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
      li.join(broadcast(Tables.part(s, dir)),
          li("l_partkey") === col("p_partkey"))
        .join(broadcast(Tables.supplier(s, dir)),
          li("l_suppkey") === col("s_suppkey"))
        .join(broadcast(Tables.nation(s, dir)),
          col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("p_brand"), col("n_name"))
        .agg(
          sum(col("l_extendedprice").cast("decimal(18,2)") *
            (lit(1).cast("decimal(3,2)") - col("l_discount").cast("decimal(3,2)")))
            .cast("double").as("revenue"),
          countDistinct(col("l_partkey")).as("n_parts"),
          count(lit(1)).as("n_items"))
        .orderBy("p_brand", "n_name")
    }),

    // ── J5 generalized: per-row as-of JOIN (probes → valid version) ───
    "asof_join" -> ((s, dir) => {
      val e = ev(s, dir)
      val dim = dimOf(e.filter(col(TS) <= expr(s"TIMESTAMP '$WM'")))
        .select(col(KEY), col("valid_from"), col("version_no"),
          col("event_id").as("version_event_id"))
      val probes = e.filter(col(TS) > expr(s"TIMESTAMP '$WM'"))
        .select("event_id", "user_id", "ts")
      graft.engine.AsOf.asOfJoin(probes, dim, KEY, TS,
        Seq("version_no", "version_event_id"))
        .orderBy("event_id")
    }),

    // ── Interval-END-respecting as-of join: the dim keeps only CLOSED
    //    versions (every key's timeline ends — the delete-capture
    //    shape), probes span the whole event range, and a probe past a
    //    key's closure gets NULL payloads instead of the deleted
    //    entity's last content carried forward (plain asof_join's
    //    documented start-bound-only contract) ──────────────────────────
    "asof_join_valid" -> ((s, dir) => {
      val e = ev(s, dir)
      val dim = dimOf(e.filter(col(TS) <= expr(s"TIMESTAMP '$WM'")))
        .filter(!col("is_current"))
        .select(col(KEY), col("valid_from"), col("valid_to"),
          col("version_no"), col("event_id").as("version_event_id"))
      val probes = e.select("event_id", "user_id", "ts")
      graft.engine.AsOf.asOfJoinValid(probes, dim, KEY, TS,
        Seq("version_no", "version_event_id"))
        .orderBy("event_id")
    }),

    // ── Event-time tumbling window aggregation (streaming-shaped) ─────
    "events_hourly" -> ((s, dir) =>
      ev(s, dir)
        .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
        .agg(
          count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"),
          countDistinct(col("user_id")).as("n_users"))
        .select(col("w.start").as("hour_start"), col("event_type"),
          col("n"), col("total_value"), col("n_users"))
        .orderBy("hour_start", "event_type")),

    // ── Pivot: per-key op-type matrix (wide conditional counts) ───────
    "user_event_pivot" -> ((s, dir) =>
      ev(s, dir).groupBy("user_id")
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .orderBy("user_id")),

    // ── Rollup: subtotal hierarchy over the pricing groups ────────────
    "rollup_revenue" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .rollup("l_returnflag", "l_linestatus")
        .agg(
          sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double")
            .as("total_price"),
          count(lit(1)).as("n_items"))
        .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))),

    // ── Exact percentiles (interpolated, oracle-matched) ──────────────
    "value_percentiles" -> ((s, dir) =>
      Tables.lineitem(s, dir).groupBy("l_returnflag")
        .agg(
          expr("percentile(l_quantity, 0.5)").as("p50_qty"),
          expr("percentile(l_quantity, 0.9)").as("p90_qty"),
          count(lit(1)).as("n"))
        .orderBy("l_returnflag")),

    // the scale-safe exact-percentile machinery as a first-class query
    // over a genuinely CONTINUOUS column (events.value ≈ one distinct
    // value per row — exactly where the built-in percentile() aggregate
    // would buffer the whole column in ONE aggregation buffer):
    // ExactPercentile's GlobalOrder rank computes the bit-identical
    // interpolated quantiles with bounded per-task state, both cuts in
    // one rank pass
    "value_percentiles_exact" -> ((s, dir) => {
      val e = ev(s, dir)
      val c = graft.engine.ExactPercentile.cuts(
        e.select(col("event_id"), col("value")),
        col("value"), col("event_id"), Seq(0.5, 0.9))
      e.agg(count(lit(1)).as("n"))
        .select(lit(c(0.5).get).as("p50_value"),
          lit(c(0.9).get).as("p90_value"), col("n"))
    }),

    // skew-proof PER-GROUP exact median over a continuous column: one
    // GlobalOrder pass over (lang, score, doc_id) — range partitioning
    // splits a dominant group across many tasks, where both
    // groupBy+percentile() (per-group value buffer) and a
    // window-per-group rank (one task per group) break at 100 TB; group
    // offsets are one collected row per group
    "quality_median_by_lang" -> ((s, dir) => {
      import s.implicits._
      val docs = Tables.documents(s, dir)
      val scored = Caches.ensureCached(TextOps.qualityScore(docs))
        .join(docs.select("doc_id", "lang"), "doc_id")
      val cuts = graft.engine.ExactPercentile.groupedCuts(
        scored.select(col("lang"), col("quality_score"), col("doc_id")),
        col("lang"), col("quality_score"), col("doc_id"), 0.5)
      cuts.toDF("lang", "p50_quality", "n_scored").orderBy("lang")
    }),

    // per-group weighted median: one GlobalOrder pass over
    // (lang, score, doc_id) carries the weighted running sum — a
    // dominant group spreads across range partitions; winners picked
    // distributed via a broadcast threshold join + min-struct aggregate
    "quality_weighted_median_by_lang" -> ((s, dir) => {
      import s.implicits._
      val docs = Tables.documents(s, dir)
      val scored = Caches.ensureCached(TextOps.qualityScore(docs))
        .join(docs.select("doc_id", "lang"), "doc_id")
      val cuts = graft.engine.ExactPercentile.groupedWeightedCuts(
        scored.select(col("lang"), col("quality_score"), col("n_tokens"),
          col("doc_id")),
        col("lang"), col("quality_score"), col("n_tokens"), col("doc_id"),
        1L, 2L)
      cuts.toDF("lang", "cut_value", "lang_tokens").orderBy("lang")
    }),

    // the token-mass quality DISTRIBUTION: all nine weighted deciles in
    // ONE ranked pass (one conditional min-struct aggregate per
    // threshold, single job) — "p% of the token mass sits below this
    // score" for every decile
    "token_mass_deciles" -> ((s, dir) => {
      import s.implicits._
      val scored = Caches.ensureCached(
        TextOps.qualityScore(Tables.documents(s, dir)))
        .select(col("doc_id"), col("n_tokens"), col("quality_score"))
      val ps = (1L to 9L).map(i => (i, 10L))
      val cuts = graft.engine.ExactPercentile.weightedCuts(scored,
        col("quality_score"), col("n_tokens"), col("doc_id"), ps)
      ps.map { case (num, den) =>
        val (c, w) = cuts((num, den)).getOrElse(
          sys.error("token_mass_deciles: empty corpus"))
        (num * 10L, c, w)
      }.toDF("mass_pct", "cut_value", "total_tokens").orderBy("mass_pct")
    }),

    // TOKEN-MASS-weighted median quality (lower/inverted-CDF rule): the
    // score below which half the token mass sits — the budget-aware
    // quality cut; exact integer comparison over the GlobalOrder
    // weighted prefix sum, no float cumsums
    "quality_weighted_median" -> ((s, dir) => {
      import s.implicits._
      val scored = Caches.ensureCached(
        TextOps.qualityScore(Tables.documents(s, dir)))
        .select(col("doc_id"), col("n_tokens"), col("quality_score"))
      val r = graft.engine.ExactPercentile.weightedCut(scored,
        col("quality_score"), col("n_tokens"), col("doc_id"), 1L, 2L)
      r.map { case (c, w) => Seq((c, w)) }.getOrElse(Seq.empty)
        .toDF("cut_value", "total_tokens")
    }),

    // ── Approximate distinct (HLL sketch), oracled by tolerance: the raw
    //    estimate is engine-specific, so the query emits the exact distinct
    //    count (hash-matchable) plus a boolean attesting the engine's OWN
    //    sketch is within 5% relative error of it — DuckDB asserts the
    //    same bound on ITS sketch, and both sides hash-match on `true` ───
    "approx_distinct_users" -> ((s, dir) =>
      ev(s, dir).groupBy("event_type")
        .agg(
          countDistinct(col("user_id")).as("exact_users"),
          count(lit(1)).as("n"),
          (abs(approx_count_distinct(col("user_id")).cast("double") -
            countDistinct(col("user_id")).cast("double")) /
            countDistinct(col("user_id")).cast("double") <= 0.05)
            .as("approx_within_tol"))
        .orderBy("event_type")),

    // STORED mergeable distinct-count view: per-(type, batch) HLL sketch
    // partials absorbed in three disjoint batches, unioned at read —
    // "distinct users over all history" without ever re-shuffling the
    // key set. Rows pin the VIEW's estimate within 5 % of exact (the
    // approx_distinct_users oracle shape, now against stored state).
    "distinct_view_users" -> ((s, dir) => {
      val est = Stats.queryDistinctView(s, distinctViewPath(s, dir),
        "event_type")
      ev(s, dir).groupBy("event_type")
        .agg(countDistinct(col("user_id")).as("exact_users"))
        .join(est, "event_type")
        .select(col("event_type"), col("exact_users"),
          (abs(col("approx_distinct") - col("exact_users").cast("double")) /
            col("exact_users").cast("double") <= 0.05)
            .as("view_within_tol"))
        .orderBy("event_type")
    }),

    // the view's DELETION lifecycle end-to-end: all events of users
    // with user_id % 10 = 7 retracted through the exact (grp, key, cnt)
    // companion, sketches rebuilt from the netted pairs by the hll
    // tick. `exact_users` comes FROM THE VIEW's exact read — the oracle
    // recomputes it from the remaining corpus, so an inexact retraction
    // hash-mismatches instead of hiding behind a tolerance; the HLL
    // row pins the rebuilt sketch within the usual 5 %.
    "distinct_view_retracted" -> ((s, dir) => {
      val p = deletedDistinctPath(s, dir)
      Stats.queryDistinctViewExact(s, p, "event_type")
        .withColumnRenamed("exact_distinct", "exact_users")
        .join(Stats.queryDistinctView(s, p, "event_type"), "event_type")
        .select(col("event_type"), col("exact_users"),
          (abs(col("approx_distinct") - col("exact_users").cast("double")) /
            col("exact_users").cast("double") <= 0.05)
            .as("view_within_tol"),
          // the approximate read's staleness signal: the hll tick ran
          // in this root's build, so a pending `_retracted` marker here
          // means the rebuild was silently skipped — a red row, not a
          // documented window (StreamingSpec pins the true state
          // between retraction and tick)
          col("stale").as("hll_stale"))
        .orderBy("event_type")
    }),

    // bounded-state quantiles: approx_percentile is the mergeable-sketch
    // path for percentiles over CONTINUOUS columns at 100 TB when
    // exactness isn't required (ExactPercentile's two-pass rank when it
    // is). Same tolerance-boolean oracle shape as approx_distinct_users:
    // each engine checks its own sketch against the shared exact value.
    "approx_value_percentiles" -> ((s, dir) =>
      Tables.lineitem(s, dir).groupBy("l_returnflag")
        .agg(
          expr("percentile(l_quantity, 0.5)").as("exact_p50"),
          count(lit(1)).as("n"),
          (abs(expr("approx_percentile(l_quantity, 0.5, 1000)")
            .cast("double") - expr("percentile(l_quantity, 0.5)")) <=
            expr("percentile(l_quantity, 0.5)") * 0.05)
            .as("approx_within_tol"))
        .orderBy("l_returnflag")),

    // ── Gap-based session windows (batch twin of session_window) ─────
    "sessionization" -> ((s, dir) =>
      Stats.sessionize(ev(s, dir), KEY, TS, TIE, gapSeconds = 7200)
        .orderBy("user_id", "session_no")),

    // ── Binned interval (range) join: events → their session interval.
    //    The bin equi-join replaces the nested-loop an inequality join
    //    plans; every event lands in exactly one session ────────────────
    "range_join_sessions" -> ((s, dir) => {
      val e = ev(s, dir)
      val sessions = Stats.sessionize(e, KEY, TS, TIE, gapSeconds = 7200)
        .select(col(KEY), col("session_no"),
          col("session_start"), col("session_end"))
      graft.engine.RangeJoin.binned(
        e.select("event_id", "user_id", "ts"), TS,
        sessions, "session_start", "session_end",
        equiKeys = Seq(KEY), binSeconds = 86400)
        .select("event_id", "user_id", "ts", "session_no")
        .orderBy("event_id")
    }),

    // ── EXCEPT cohort: active (user, day) pairs with no purchase ──────
    "user_days_without_purchase" -> ((s, dir) => {
      val e = ev(s, dir).withColumn("day", date_trunc("day", col("ts")))
      e.select("user_id", "day")
        .except(e.filter(col("event_type") === "purchase")
          .select("user_id", "day"))
        .orderBy("user_id", "day")
    }),

    // ── Above-own-average filter (windowed correlated-aggregate shape) ─
    "events_above_user_avg" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window.partitionBy("user_id")
      ev(s, dir)
        .withColumn("user_avg",
          (sum(col("value").cast("decimal(18,2)")).over(w).cast("double") /
            count(lit(1)).over(w)))
        .filter(col("value") > col("user_avg"))
        .select("event_id", "user_id", "value", "user_avg")
        .orderBy("event_id")
    }),

    // ── Top-k per group (window rank + filter) ────────────────────────
    "user_topk_events" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(desc("value"), col("event_id"))
      ev(s, dir).withColumn("rnk", row_number().over(w).cast("long"))
        .filter(col("rnk") <= 3)
        .select("user_id", "rnk", "event_id", "value")
        .orderBy("user_id", "rnk")
    }),

    // ── Cube: full grouping-set lattice over type × day ───────────────
    "events_cube" -> ((s, dir) =>
      ev(s, dir).withColumn("day", date_trunc("day", col("ts")))
        .cube("event_type", "day")
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"))
        .orderBy(asc_nulls_first("event_type"), asc_nulls_first("day"))),

    // ── North-star: text analysis over documents ──────────────────────
    "text_tokens" -> ((s, dir) =>
      TextOps.tokenStats(Tables.documents(s, dir)).orderBy("doc_id")),

    "text_fingerprint" -> ((s, dir) =>
      TextOps.fingerprint(Tables.documents(s, dir)).orderBy("doc_id")),

    "text_quality" -> ((s, dir) =>
      Caches.ensureCached(TextOps.qualityScore(Tables.documents(s, dir)))
        .orderBy("doc_id")),

    "text_langid" -> ((s, dir) =>
      TextOps.langId(Tables.documents(s, dir)).orderBy("doc_id")),

    // Quality gating: keep docs at/above the corpus median score — the
    // filter-by-corpus-aggregate pattern every data-curation pipeline
    // runs. The median is ExactPercentile's GlobalOrder two-pass rank,
    // not the percentile() aggregate: over a continuous score column the
    // built-in buffers one entry per distinct value in a SINGLE
    // aggregation buffer (executor OOM at 100 TB); the rank pass keeps
    // per-task state bounded and returns the bit-identical number.
    "text_quality_gate" -> ((s, dir) => {
      // the score table feeds both the median rank and the gate filter
      // (and 3 other queries) — shared via the warm cache
      val q = Caches.ensureCached(
        TextOps.qualityScore(Tables.documents(s, dir)))
      // cut input projected to the same two-column shape Curation uses,
      // so both consumers share ONE memoized cut + ranked cache
      val cut = graft.engine.ExactPercentile.cut(
        q.select("doc_id", "quality_score"),
        col("quality_score"), col("doc_id"), 0.5)
      q.filter(cut.map(c => col("quality_score") >= lit(c))
          .getOrElse(lit(false)))
        .select("doc_id", "n_tokens", "quality_score")
        .orderBy("doc_id")
    }),

    "text_winnow" -> ((s, dir) =>
      TextOps.winnowFingerprint(Tables.documents(s, dir)).orderBy("doc_id")),

    // boilerplate span removal: chunks shared by >1 doc are cut and the
    // survivors reassemble in order — the dedup family's one content
    // TRANSFORMATION (everything else flags or drops whole docs)
    "text_strip_boilerplate" -> ((s, dir) =>
      TextOps.stripBoilerplate(Tables.documents(s, dir), 20, 1L)
        .orderBy("doc_id")),

    // memorization-hotspot audit: the 5-grams shared verbatim across the
    // most documents (license headers / templated boilerplate — the
    // sequences a model memorizes first); one partial-agg shingle
    // shuffle + a top-k heap
    "ngram_hotspots" -> ((s, dir) =>
      TextOps.ngramHotspots(Tables.documents(s, dir), P.ShingleN, 2L, 20)),

    // PII scrub pass: typed counts + placeholder redaction, a pure
    // map-side projection (the dialect-portable regex subset — see
    // TextOps.redactPii; planted-PII semantics are OpsSpec-verified,
    // this row proves cross-engine regex parity on the real table)
    "text_redact" -> ((s, dir) =>
      TextOps.redactPii(Tables.documents(s, dir)).orderBy("doc_id")),

    // MOSS containment: winnowed-fingerprint overlap / smaller set.
    // The df cap is corpus-derived (p99.9 of the fingerprint-df
    // histogram, memoized at setup) — the oracle replays the same
    // quantile, so neither side carries a constant that goes stale at
    // 100× scale.
    "text_containment" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      TextOps.containmentPairs(d, maxDf = TextOps.adaptiveMaxDf(d))
        .orderBy("doc_a", "doc_b")
    }),

    // cross-source leakage matrix: which sources share verbatim content
    // (winnow fingerprints) — the audit behind per-source dedup
    // priorities; same df-capped join as containment, collapsed to a
    // bounded |sources|² matrix
    "source_overlap_matrix" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      TextOps.sourceOverlapMatrix(d, maxDf = TextOps.adaptiveMaxDf(d))
        .orderBy("source_a", "source_b")
    }),

    // ── North-star: deduplication family ──────────────────────────────
    "dedup_exact" -> ((s, dir) =>
      DedupOps.exactDupGroups(Tables.documents(s, dir)).orderBy("doc_id")),

    // adaptive salt: the candidate self-join runs salted so a hot shingle
    // never lands one quadratic bucket on a single task, with the factor
    // derived from the corpus's own shingle-df max (ceil(maxDf/target))
    // instead of a constant that goes stale at 100× scale. The pair set
    // is proven identical to the unsalted join in OpsSpec, so the oracle
    // is salt-blind.
    "dedup_ngram_jaccard" -> ((s, dir) =>
      DedupOps.jaccardPairsAdaptive(Tables.documents(s, dir), P.ShingleN, P.JaccardT)
        .orderBy("doc_a", "doc_b")),

    "dedup_minhash_lsh" -> ((s, dir) =>
      DedupOps.minhashLshPairs(Tables.documents(s, dir), P.ShingleN, P.MinhashK, P.LshBands, P.JaccardT)
        .orderBy("doc_a", "doc_b")),

    "dedup_simhash" -> ((s, dir) =>
      DedupOps.simhash(Tables.documents(s, dir)).orderBy("doc_id")),

    // Transitive closure of the LSH near-dup pairs: connected components
    // by min-label propagation; every doc labeled with its group survivor
    "dedup_groups" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      DedupOps.dupGroups(docs, DedupOps.minhashLshPairs(docs, P.ShingleN, P.MinhashK, P.LshBands, P.JaccardT))
        .orderBy("doc_id")
    }),

    // maxDist=3, the 4-band pigeonhole recall bound; the 64-bit sketch
    // (4×16-bit bands, 65 536 buckets/band) makes distance ≤ 3 a much
    // stricter relative threshold than the old 32-bit layout, so
    // coincidental vocabulary-overlap pairs drop out on their own
    "dedup_simhash_pairs" -> ((s, dir) =>
      DedupOps.simhashPairs(Tables.documents(s, dir), 3)
        .orderBy("doc_a", "doc_b")),

    // ── North-star: embedding similarity search ───────────────────────
    "ann_cosine_topk" -> ((s, dir) =>
      SimilarityOps.cosineTopK(Tables.embeddings(s, dir), 0L, 10)),

    "embedding_near_dup" -> ((s, dir) =>
      SimilarityOps.sampledNearDupPairs(Tables.embeddings(s, dir), 10, 0.25)
        .orderBy("label", "vec_a", "vec_b")),

    "ann_ivf_topk" -> ((s, dir) =>
      SimilarityOps.ivfTopK(Tables.embeddings(s, dir), 0L, 10)),

    // IVF over TRAINED cells: deterministic Lloyd's k-means (k=8, 2
    // iterations, lowest-id init), then probe the query's nearest cell —
    // the oracle replays the identical training as an unrolled CTE chain
    "ann_ivf_kmeans_topk" -> ((s, dir) =>
      SimilarityOps.ivfKmeansTopK(Tables.embeddings(s, dir), 0L, 10, P.KmK, P.KmIters)),

    "ann_lsh_buckets" -> ((s, dir) =>
      SimilarityOps.lshBuckets(Tables.embeddings(s, dir), 16)
        .orderBy("signature")),

    // Full-corpus near-dup: LSH-bucket blocking (2 OR-ed tables of 8
    // planes — a pair missed by one table is caught by the other) +
    // exact cosine verification — the unsampled scale path of
    // embedding_near_dup
    "embedding_near_dup_lsh" -> ((s, dir) =>
      SimilarityOps.lshNearDupPairs(Tables.embeddings(s, dir), P.EmbPlanes,
        P.EmbCosT, tables = P.EmbTables)
        .orderBy("vec_a", "vec_b")),

    // embedding-space decontamination: the semantic twin of the text
    // `decontaminate` sweep — a TEST-split vector with an LSH-blocked
    // near-dup in TRAIN is cross-split leakage a text fingerprint can
    // miss (paraphrases embed close but share no 8-gram). Composition
    // of two audited shapes: hyperplane-LSH candidate blocking (never
    // all-pairs) + the reshuffle-stable hash split; the pair table is
    // tiny, so the split joins broadcast.
    "embedding_decontaminate" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val pairs = SimilarityOps.lshNearDupPairs(emb, P.EmbPlanes,
        P.EmbCosT, tables = P.EmbTables)
      val split = SamplingOps.hashSplit(emb.select("vec_id"), "vec_id")
      pairs
        .join(split.select(col("vec_id").as("vec_a"),
          col("split").as("split_a")), "vec_a")
        .join(split.select(col("vec_id").as("vec_b"),
          col("split").as("split_b")), "vec_b")
        .filter((col("split_a") === "test" && col("split_b") === "train") ||
          (col("split_a") === "train" && col("split_b") === "test"))
        .select(
          when(col("split_a") === "test", col("vec_a"))
            .otherwise(col("vec_b")).as("test_vec"),
          when(col("split_a") === "test", col("vec_b"))
            .otherwise(col("vec_a")).as("train_vec"),
          col("cosine"))
        .orderBy("test_vec", "train_vec")
    }),

    // Transitive near-dup GROUPS over embeddings — the vector twin of
    // dedup_groups: the LSH near-dup pairs feed the same
    // pointer-doubling label propagation, and every vector reports its
    // min reachable id (singletons label themselves). The survivor-
    // selection step of an embedding-level dedup sweep runs off this
    // table exactly as dedup_keep_best runs off the text one.
    "embedding_dup_groups" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val pairs = SimilarityOps.lshNearDupPairs(emb, P.EmbPlanes,
        P.EmbCosT, tables = P.EmbTables)
        .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b"))
      DedupOps.dupGroups(emb.select(col("vec_id").as("doc_id")), pairs)
        .select(col("doc_id").as("vec_id"), col("group_id"))
        .orderBy("vec_id")
    }),

    // incremental SemDeDup: the CDC change feed screened for semantic
    // duplicates against the stored subset-built IVF index — one probed
    // cell per arriving vector, survivors would then merge into the
    // index under the caller's ledger
    "semdedup_incremental" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      SimilarityOps.semDedupScreen(s, baseIvfPath(s, dir),
        emb.filter(!expr(IvfMergeBuildPred)), P.SemT)
        .orderBy("vec_id")
    }),

    // recall@10 of single-probe trained IVF vs exact brute force, per
    // batch query — the measured "is nprobe=1 good enough?" report
    "ann_recall_report" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      SimilarityOps.ivfRecallReport(emb,
        emb.filter(expr(BatchQueryPred)), 10, P.KmK, P.KmIters)
        .orderBy("q_id")
    }),

    // recall@10 of the STORED flat-ADC PQ retrieval vs brute force —
    // what the 8-byte compression cost in answer quality (meta
    // distortion never shows the retrieval-level effect)
    "ann_pq_recall" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      SimilarityOps.pqRecallReport(s, storedPqPath(s, dir), emb,
        emb.filter(expr(BatchQueryPred)), 10).orderBy("q_id")
    }),

    // recall@10 of the STORED composite vs brute force — the COMPOUNDED
    // (cell-pruning × ADC) loss, which neither signal alone measures
    "ann_ivfpq_recall" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      SimilarityOps.ivfPqRecallReport(s, storedIvfPqPath(s, dir), emb,
        emb.filter(expr(BatchQueryPred)), 10, 2).orderBy("q_id")
    }),

    // the same two reports against the REBUILT indexes: a rebuild that
    // silently lost recall would pass every tombstone/parity gate —
    // these rows are where it shows (fresh-build parity makes them
    // oracle-exact, so drift IS a red row)
    "ann_pq_rebuilt_recall" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      SimilarityOps.pqRecallReport(s, rebuiltPqPath(s, dir), emb,
        emb.filter(expr(BatchQueryPred)), 10).orderBy("q_id")
    }),

    "ann_ivfpq_rebuilt_recall" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      SimilarityOps.ivfPqRecallReport(s, rebuiltIvfPqPath(s, dir), emb,
        emb.filter(expr(BatchQueryPred)), 10, 2).orderBy("q_id")
    }),

    // ...and against the MERGED (build-on-subset + absorb-the-rest)
    // indexes: the measured recall cost of absorbing a quarter of the
    // corpus against FROZEN control planes without retraining — the
    // number that tells a deployment when the drift-gated rebuild is
    // worth its O(corpus) cost (read beside ann_pq_recall's fresh-
    // trained baseline and bench/RECALL_r17.md)
    "ann_pq_merged_recall" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      SimilarityOps.pqRecallReport(s, mergedPqPath(s, dir), emb,
        emb.filter(expr(BatchQueryPred)), 10).orderBy("q_id")
    }),

    "ann_ivfpq_merged_recall" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      SimilarityOps.ivfPqRecallReport(s, mergedIvfPqPath(s, dir), emb,
        emb.filter(expr(BatchQueryPred)), 10, 2).orderBy("q_id")
    }),

    // recall@10 of the PRODUCTION two-stage reads (ADC shortlist 4×k →
    // exact float rerank) — the dial the raw-ADC recall rows point to
    // as the deployment answer, now itself a gate: a shortlist too
    // narrow to contain the true neighbors, or a rerank regression, is
    // a red row here while every raw-ADC row stays green
    "ann_pq_rerank_recall" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      SimilarityOps.pqRerankRecallReport(s, storedPqPath(s, dir), emb,
        emb.filter(expr(BatchQueryPred)), 10, P.RerankFactor)
        .orderBy("q_id")
    }),

    // ...with the ADAPTIVE multi-probe (nprobe floor 2 + the P.ProbeRatio
    // boundary rule) and the per-query recall FLOOR gated in-plan at
    // ≥ 0.2 (raised from > 0 with the r20 geometry move — RECALL_r20.md
    // measures min 0.50 at sf0.1 under (m=16, ksub=16, iters=3), so the
    // stricter contract has 2.5× margin): if any query's recall drops
    // below the floor the row RAISES instead of passing hash-equal
    "ann_ivfpq_rerank_recall" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(lit(1))
      SimilarityOps.ivfPqRerankRecallReport(s, storedIvfPqPath(s, dir),
        emb, emb.filter(expr(BatchQueryPred)), 10, P.RerankFactor, 2,
        P.ProbeRatio)
        .withColumn("_min", min(col("recall")).over(w))
        .withColumn("_ok", when(col("_min") >= RecallFloor, lit(true))
          .otherwise(raise_error(concat(
            lit(s"ann_ivfpq_rerank_recall: per-query recall FLOOR " +
              s"breached (< $RecallFloor) — probe-coverage or ADC " +
              "regression (q_id "),
            col("q_id").cast("string"), lit(")")))))
        .filter(col("_ok")).drop("_ok", "_min")
        .orderBy("q_id")
    }),

    // the adaptive rule's COST surface, oracle-gated on its own: the
    // per-query probed-cell counts under (nprobe floor 2, ratio 1.25)
    // against the DuckDB replay of the same rule — a drifted probe-set
    // computation shows here even when end recall happens to survive it
    "ann_probe_cost" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      SimilarityOps.probedCellCounts(s, storedIvfPqPath(s, dir),
        emb.filter(expr(BatchQueryPred)), 2, P.ProbeRatio).orderBy("q_id")
    }),

    // SemDeDup (k-means-blocked semantic dedup): pairwise cosine only
    // WITHIN a trained cluster, drop the higher-centroid-similarity
    // member of any pair above the threshold — the paper's
    // keep-low-centroid-similarity upper-triangle scan, declarative
    "semdedup" -> ((s, dir) =>
      SimilarityOps.semDedup(Tables.embeddings(s, dir), P.KmK, P.KmIters,
        P.SemT).orderBy("vec_id")),

    // coreset seed set: the vector nearest each trained centroid with
    // its cluster population — a spread-out sample where random
    // sampling oversamples dense regions; one broadcast centroid join +
    // one k-group min-struct aggregate
    "diverse_representatives" -> ((s, dir) =>
      SimilarityOps.diverseRepresentatives(Tables.embeddings(s, dir),
        P.KmK, P.KmIters).orderBy("cluster")),

    // Survivor selection over the embedding near-dup graph — the vector
    // twin of dedup_keep_best, reusing DedupOps.keepBest verbatim: each
    // member's "quality" is its graph centrality (DECIMAL-exact sum of
    // incident near-dup edges' 6-dp-rounded cosines — the hub of a
    // near-dup cluster is its canonical representative), and the
    // strongest member per transitive group is kept (vec_id tie-break;
    // singletons keep themselves with strength 0).
    "embedding_keep_best" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val pairs = SimilarityOps.lshNearDupPairs(emb, P.EmbPlanes,
        P.EmbCosT, tables = P.EmbTables)
      val groups = DedupOps.dupGroups(
        emb.select(col("vec_id").as("doc_id")),
        pairs.select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b")))
      val strength = emb.select(col("vec_id").as("doc_id"))
        .join(pairs.select(col("vec_a").as("doc_id"), col("cosine"))
            .unionByName(pairs.select(col("vec_b").as("doc_id"), col("cosine")))
            .groupBy("doc_id")
            .agg(sum(col("cosine").cast("decimal(20,6)"))
              .cast("double").as("strength")),
          Seq("doc_id"), "left")
        .na.fill(0.0, Seq("strength"))
      DedupOps.keepBest(groups, strength, "strength")
        .select(col("doc_id").as("vec_id"), col("group_id"),
          col("strength"), col("keep"))
        .orderBy("vec_id")
    }),

    // Product quantization: 8 one-byte codes per vector, query scored by
    // asymmetric distance (table lookups only) — the RAM-resident index
    // construction for 100 TB ANN; oracle replays the same per-subspace
    // training and table assembly
    "ann_pq_topk" -> ((s, dir) =>
      SimilarityOps.pqTopK(Tables.embeddings(s, dir), 0L, 10, P.PqM, P.PqKsub, P.PqIters)),

    // PQ retrieve + exact re-rank: ADC shortlists 4×k, floats re-rank —
    // the production two-stage ANN read path
    "ann_pq_rerank_topk" -> ((s, dir) =>
      SimilarityOps.pqRerankTopK(Tables.embeddings(s, dir), 0L, 10,
        m = P.PqM, ksub = P.PqKsub, iters = P.PqIters)),

    // IVF-PQ composite (the FAISS IndexIVFPQ shape): coarse quantizer
    // prunes to nprobe cells, PQ ADC scores only those cells' codes —
    // oracle splices the k-means replay and the PQ replay together
    "ann_ivfpq_topk" -> ((s, dir) =>
      SimilarityOps.ivfPqTopK(Tables.embeddings(s, dir), 0L, 10,
        k = P.KmK, iters = P.KmIters, nprobe = 2,
        m = P.PqM, ksub = P.PqKsub, pqIters = P.PqIters)),

    // Stored-index read paths — build-once/query-many, the deployment
    // shape of every production ANN index. The index is built ONCE per
    // process into the auto-removed StoredIndexes root (the bench warm
    // phase triggers the build, so these closures time the pure read
    // path; a standalone run builds on first touch), then the query is a
    // partition-pruned cell scan (IVF) / code-table ADC scan (PQ).
    // Results are bit-identical to the inline-trained variants, so each
    // shares its inline twin's oracle.
    "ann_ivf_stored_topk" -> ((s, dir) =>
      SimilarityOps.queryIvfIndex(s, storedIvfPath(s, dir),
        queryEmbedding(s, dir, 0L), 10, nprobe = 1, excludeIds = Seq(0L))),

    // the stored-ANN probe AFTER a right-to-be-forgotten deletion: the
    // vec_id % 7 = 3 slice is tombstoned at index-ensure time and the
    // probe's tombstone screen drops it from the assignment scan
    // IMMEDIATELY (no compaction tick has run) — the oracle replays the
    // same training and excludes the deleted ids from candidacy only
    "ann_ivf_deleted_topk" -> ((s, dir) =>
      SimilarityOps.queryIvfIndex(s, deletedIvfPath(s, dir),
        queryEmbedding(s, dir, 0L), 10, nprobe = 1, excludeIds = Seq(0L))),

    // the stored-ANN probe AFTER a drift-triggered RETRAIN: the index
    // was BUILT on a 4/5 subset, absorbed the remainder as a merge
    // against frozen centroids, then retrained on its own live set —
    // k-means init is the k lowest vec_ids of the SET (not arrival
    // order), so the retrained index is bit-identical to a fresh build
    // on the full corpus, which is exactly what the oracle replays
    "ann_ivf_retrained_topk" -> ((s, dir) =>
      SimilarityOps.queryIvfIndex(s, retrainedIvfPath(s, dir),
        queryEmbedding(s, dir, 0L), 10, nprobe = 1, excludeIds = Seq(0L))),

    "ann_pq_stored_topk" -> ((s, dir) =>
      SimilarityOps.queryPqIndex(s, storedPqPath(s, dir),
        queryEmbedding(s, dir, 0L), 10, excludeIds = Seq(0L))),

    // the stored-PQ probe AFTER a scheduled REBUILD: the index was
    // BUILT on a 4/5 subset, absorbed the remainder encoded against the
    // frozen codebooks, then REBUILT from the caller's source corpus
    // (PQ codes are lossy — unlike IVF the index cannot self-retrain) —
    // codebooks + codes republish under ONE atomic version swap, and
    // per-subspace k-means is deterministic on the SET, so the rebuilt
    // index is bit-identical to a fresh build on the full corpus, which
    // is exactly what the inline oracle replays
    "ann_pq_rebuilt_topk" -> ((s, dir) =>
      SimilarityOps.queryPqIndex(s, rebuiltPqPath(s, dir),
        queryEmbedding(s, dir, 0L), 10, excludeIds = Seq(0L))),

    // Stored IVF-PQ: centroid ranking and the ADC table are pure driver
    // arithmetic over the memoized control-plane tables; the scan reads
    // ONLY the probed cells' code partitions (PartitionFilters) and
    // never a float vector — bit-identical to the inline composite, so
    // it shares that oracle
    "ann_ivfpq_stored_topk" -> ((s, dir) =>
      SimilarityOps.queryIvfPqIndex(s, storedIvfPqPath(s, dir),
        queryEmbedding(s, dir, 0L), 10, nprobe = 2, excludeIds = Seq(0L))),

    // the composite's rebuild read path: BOTH control planes (centroids
    // AND codebooks) plus the codes assigned/encoded against them ride
    // one published version — the probe can never see them torn
    "ann_ivfpq_rebuilt_topk" -> ((s, dir) =>
      SimilarityOps.queryIvfPqIndex(s, rebuiltIvfPqPath(s, dir),
        queryEmbedding(s, dir, 0L), 10, nprobe = 2, excludeIds = Seq(0L))),

    // Incremental stored-IVF-PQ maintenance — centroids AND codebooks
    // trained on the initial subset, the remainder assigned + encoded
    // against both frozen control planes and appended to its cells; the
    // read path is the same pruned code scan. The oracle splices the
    // subset-trained k-means and PQ replays.
    "ann_ivfpq_merged_topk" -> ((s, dir) =>
      SimilarityOps.queryIvfPqIndex(s, mergedIvfPqPath(s, dir),
        queryEmbedding(s, dir, 0L), 10, nprobe = 2, excludeIds = Seq(0L))),

    // Incremental stored-PQ maintenance — codebooks trained on the
    // initial subset, the remainder ENCODED against those frozen
    // codebooks and appended; the read path is the same stored ADC scan.
    // Completes the build/merge/query lifecycle for all three retrieval
    // families (IVF, PQ, BM25).
    "ann_pq_merged_topk" -> ((s, dir) =>
      SimilarityOps.queryPqIndex(s, mergedPqPath(s, dir),
        queryEmbedding(s, dir, 0L), 10, excludeIds = Seq(0L))),

    // Incremental stored-IVF maintenance — the CDC×ANN composition this
    // platform exists for: the index is BUILT (trained + indexed) on the
    // initial corpus subset, then the remainder arrives as a change feed
    // and is MERGED (assigned to the existing centroids, appended to its
    // cells — no retrain, no rewrite of old cells). The read path is the
    // same partition-pruned probe as ann_ivf_stored_topk; the oracle
    // replays training on the subset and assignment over everything.
    "ann_ivf_merged_topk" -> ((s, dir) =>
      SimilarityOps.queryIvfIndex(s, mergedIvfPath(s, dir),
        queryEmbedding(s, dir, 0L), 10, nprobe = 1, excludeIds = Seq(0L))),

    // Batch ANN probe — the shape a dedup sweep actually runs: every
    // 97th vector queries the stored index AT ONCE; cells rank against
    // the broadcast centroid table, then ONE dynamically-pruned
    // assignments scan serves the whole batch (vs |batch| scans of the
    // per-query path), windowed top-5 per query.
    "ann_ivf_batch_topk" -> ((s, dir) =>
      SimilarityOps.queryIvfIndexBatch(s, storedIvfPath(s, dir),
        Tables.embeddings(s, dir).filter(expr(BatchQueryPred)),
        topK = 5, nprobe = 1)
        .orderBy(col("q_id"), desc("cosine"), col("vec_id"))),

    // ADC sibling of the batch probe: no pruning exists for PQ (ADC is
    // a full code-table scan by construction) — batching instead buys
    // ONE scan for all queries, per-query distance tables broadcast as
    // array columns.
    "ann_pq_batch_topk" -> ((s, dir) =>
      SimilarityOps.queryPqIndexBatch(s, storedPqPath(s, dir),
        Tables.embeddings(s, dir).filter(expr(BatchQueryPred)), topK = 5)
        .orderBy(col("q_id"), col("adc_dist"), col("vec_id"))),

    // Batched composite: pruning AND quantization at once — each query
    // probes its 2 cells, one dynamically-pruned code scan serves the
    // batch, ADC via per-query broadcast tables
    "ann_ivfpq_batch_topk" -> ((s, dir) =>
      SimilarityOps.queryIvfPqIndexBatch(s, storedIvfPqPath(s, dir),
        Tables.embeddings(s, dir).filter(expr(BatchQueryPred)),
        topK = 5, nprobe = 2)
        .orderBy(col("q_id"), col("adc_dist"), col("vec_id"))),

    // Stored BM25 inverted index — build-once/query-many keyword
    // retrieval; scores are bit-identical to the inline text_bm25_topk
    // (same integer tf/df/dl operands, same fold order), so it shares
    // that oracle
    "text_bm25_stored_topk" -> ((s, dir) =>
      TextOps.queryBm25Index(s, storedBm25Path(s, dir), BmTerms, 10)),

    // the stored-BM25 probe AFTER a retraction: the doc_id % 13 = 5
    // slice is retracted at index-ensure time (postings tombstoned,
    // lexicon df and corpus stats subtracted exactly) — stored scores
    // are bit-identical to an index REBUILT on the remaining corpus,
    // which is exactly what the oracle computes
    "text_bm25_retract_topk" -> ((s, dir) =>
      TextOps.queryBm25Index(s, retractedBm25Path(s, dir), BmTerms, 10)),

    // Incremental stored-BM25 maintenance — the CDC×retrieval
    // composition for keywords, mirroring ann_ivf_merged_topk: the index
    // is BUILT on the initial corpus subset, the remainder arrives as a
    // change feed and is MERGED (postings appended, lexicon/stats
    // re-summed from O(|new|+|vocab|) inputs — stored postings never
    // rescanned). Scoring operands equal the full-corpus integers, so it
    // shares the inline oracle.
    "text_bm25_merged_topk" -> ((s, dir) =>
      TextOps.queryBm25Index(s, mergedBm25Path(s, dir), BmTerms, 10)),

    // Batched stored-BM25 probe — the keyword sibling of
    // ann_ivf_batch_topk: every 97th document queries the index AT ONCE
    // with its own top-3 distinctive tokens (length ≥ 5, count-desc /
    // term-asc tie-break — a deterministic, data-derived workload), and
    // ONE postings scan serves the whole batch via a broadcast term
    // join, vs |batch| term-pruned scans of the per-query path. Scores
    // fold term-ascending and round to 6 dp (the batch-ANN determinism
    // treatment); top-5 per query by window.
    "text_bm25_batch_topk" -> ((s, dir) =>
      TextOps.queryBm25IndexBatch(s, storedBm25Path(s, dir),
          bm25QueryTerms(s, dir), 5)
        .orderBy(col("q_id"), desc("bm25"), col("doc_id"))),

    // Hybrid retrieval — reciprocal-rank fusion of the two STORED-index
    // probes over the same query set (docs sampled by BmBatchPred that
    // also carry an embedding; doc_id and vec_id share the id space):
    // the lexical ranking is the BM25 batch probe (top-3 distinctive
    // terms per query, self excluded post-probe), the vector ranking is
    // the IVF batch probe (nprobe=1, self excluded by the probe), and
    // the fused score is Σ 1/(60+rank). Neither ranker rescans the
    // corpus — both are index reads — and the fuse itself is top-k-frame
    // sized, so the whole query keeps the stored-index scale shape.
    "hybrid_rrf_topk" -> ((s, dir) =>
      hybridFusedRanking(s, dir)
        .orderBy(col("q_id"), desc("rrf"), col("doc_id"))),

    // hybrid retrieval QUALITY, not just fusion arithmetic (the r19
    // verdict's #3: a silently degraded vector arm left the fused row
    // green) — the fused top-10 measured against brute-force cosine
    // ground truth per query, floor-gated in-plan like the two-stage
    // ANN reads. The vector arm rides the adaptive multi-probe, so a
    // probe-coverage regression reds this row.
    "hybrid_rrf_recall" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(lit(1))
      val fusedIds = hybridFusedRanking(s, dir)
        .select(col("q_id"), col("doc_id").as("vec_id"))
      // the query set = the fuse's own cached qids sample (emb ∩ the
      // BmBatchPred doc sample ≡ emb semi-join qids — identical rows),
      // so the recall row reuses the cached derivation instead of
      // re-scanning documents×embeddings per run
      val queries = emb.join(
        hybridQids(s, dir).select(col("doc_id").as("vec_id")),
        Seq("vec_id"), "left_semi")
      SimilarityOps.recallOf(emb, queries, 10, fusedIds)
        .withColumn("_min", min(col("recall")).over(w))
        .withColumn("_ok", when(col("_min") >= HybridRecallFloor, lit(true))
          .otherwise(raise_error(concat(
            lit(s"hybrid_rrf_recall: fused per-query recall FLOOR " +
              s"breached (< $HybridRecallFloor) — vector-arm probe " +
              "coverage or fusion regression (q_id "),
            col("q_id").cast("string"), lit(")")))))
        .filter(col("_ok")).drop("_ok", "_min")
        .orderBy("q_id")
    }),

    // recall of the stored plain-IVF batch read under the SAME adaptive
    // multi-probe rule as the IVFPQ family (r19 verdict #2: fixed
    // nprobe=1 had the same boundary-query zero-recall exposure IVFPQ
    // fixed — and this is the path the hybrid vector arm reads). Pure
    // cell-pruning loss: scoring inside probed cells is exact cosine.
    // Floor-gated in-plan at the same committed floor.
    "ann_ivf_adaptive_recall" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(lit(1))
      SimilarityOps.ivfStoredRecallReport(s, storedIvfPath(s, dir), emb,
        emb.filter(expr(BatchQueryPred)), 10, 1, P.ProbeRatio)
        .withColumn("_min", min(col("recall")).over(w))
        .withColumn("_ok", when(col("_min") >= RecallFloor, lit(true))
          .otherwise(raise_error(concat(
            lit(s"ann_ivf_adaptive_recall: per-query recall FLOOR " +
              s"breached (< $RecallFloor) — probe-coverage " +
              "regression (q_id "),
            col("q_id").cast("string"), lit(")")))))
        .filter(col("_ok")).drop("_ok", "_min")
        .orderBy("q_id")
    }),

    // Incremental dedup — the CDC×dedup composition: the change feed is
    // screened for near-duplication against the stored corpus
    // fingerprint index (built once on the initial subset; postings
    // probed via broadcast hash join, the index never shuffles). The
    // oracle replays the same df-capped winnow-containment math over
    // the two subsets.
    "dedup_incremental" -> ((s, dir) =>
      DedupOps.queryFingerprintIndex(s, dedupIdxPath(s, dir),
        Tables.documents(s, dir).filter(!expr(Bm25MergeBuildPred)))
        .orderBy("doc_new", "doc_old")),

    // ── North-star: multimodal binary columns ─────────────────────────
    "multimodal_meta" -> ((s, dir) =>
      Multimodal.binaryMeta(Tables.documents(s, dir)).orderBy("doc_id")),

    // frame SAMPLING over the real animated container (every 2nd frame
    // of each GIF decodes, the rest never materialize) — the "decode
    // 1 fps" verb, distinct from multimodal_gif_frames' decode-ALL;
    // the synthetic byte-window sampler this replaces is retired (no
    // multimodal surface serves formula-grid results where a real
    // codec path exists)
    "multimodal_frames" -> ((s, dir) =>
      Multimodal.sampleGifFrames(
        Multimodal.encodeGif(Tables.documents(s, dir)), 2)
        .orderBy("doc_id", "frame_no")),

    // nearest-neighbor resample of the 32x32 stub pixel grid to 8x8 —
    // one narrow projection, exact integer index math (oracle replays it)
    "multimodal_resize" -> ((s, dir) =>
      Multimodal.resizeNearest(Tables.documents(s, dir))
        .orderBy("doc_id")),

    // REAL codec round-trip: per-doc synthetic PNG bytes (closed-form
    // raster, executor-side encode) parsed back by JDK ImageIO; the
    // oracle recomputes dimensions + exact channel sums from the
    // generator formula alone — PNG is lossless, so equality is exact
    "multimodal_decode" -> ((s, dir) =>
      Multimodal.decodePng(Multimodal.encodePng(Tables.documents(s, dir)))
        .orderBy("doc_id")),

    // image-corpus dedup: 64-bit perceptual hash (aHash) of the REAL
    // decoded rasters, paired by the SAME banded candidate join the
    // text SimHash uses (hashPairs64) — O(images x bands), never
    // all-pairs; the oracle recomputes hash, bands, and exact Hamming
    // from the raster formula
    // cross-index right-to-be-forgotten certification: one audit table
    // proving, per stored-index family, that a purged slice is served
    // NOWHERE in that family (deleted_residual = 0 through the SAME
    // screened read paths the probes use) while data-derived live/mass
    // metrics pin the remaining population — the BM25 df_mass row
    // re-derives the postings-pair count from the LEXICON, so an
    // inexactly-subtracted side table disagrees with its own postings
    "purge_audit" -> ((s, dir) =>
      PurgeAudit.audit(s,
        deletedFpPath(s, dir), expr("doc_id % 13 = 5"),
        deletedAhashPath(s, dir), expr("doc_id % 8 = 1"),
        deletedIvfPath(s, dir), expr("vec_id % 7 = 3"),
        retractedBm25Path(s, dir), expr("doc_id % 13 = 5"),
        deletedVocabPath(s, dir),
        deletedPqPath(s, dir), expr("vec_id % 5 = 2"),
        deletedIvfPqPath(s, dir), expr("vec_id % 9 = 4"),
        deletedDistinctPath(s, dir), expr("k % 10 = 7"))),

    // right-to-be-forgotten across TIME TRAVEL: the versioned SCD2
    // snapshot store after SnapshotStore.purgeKeys removed every
    // `user_id % 10 = 3` row from the CURRENT version (fresh atomic
    // publish) AND every retained historical version (staged-replace
    // rewrites) — vacuum alone cannot forget a key inside the retained
    // window. One row per version pinning counts against the remaining
    // corpus and the purged residual at 0.
    "scd2_purge_versions" -> ((s, dir) => {
      val store = new SnapshotStore(s, s"${purgedSnapshotPath(s, dir)}/dim")
      store.versions().map { v =>
        store.readVersion(v).agg(
          count(lit(1)).as("n_rows"),
          countDistinct(col(KEY)).as("n_users"),
          count(when(col(KEY) % 10 === 3, 1)).as("purged_residual"))
          .select(lit(v).as("version"), col("n_rows"), col("n_users"),
            col("purged_residual"))
      }.reduce(_ unionByName _).orderBy("version")
    }),

    // the QUEUED compliance path end-to-end: three enqueued erasure
    // requests, one sweep, every retained version deletion-complete —
    // shares scd2_purge_versions' oracle shape (the same % 10 = 3
    // slice arrives via % 30 residues), in its OWN store root so the
    // two verbs cannot mask each other
    "purge_queue_sweep" -> ((s, dir) => {
      val store = new SnapshotStore(s, s"${queuedPurgePath(s, dir)}/dim")
      store.versions().map { v =>
        store.readVersion(v).agg(
          count(lit(1)).as("n_rows"),
          countDistinct(col(KEY)).as("n_users"),
          count(when(col(KEY) % 10 === 3, 1)).as("purged_residual"))
          .select(lit(v).as("version"), col("n_rows"), col("n_users"),
            col("purged_residual"))
      }.reduce(_ unionByName _).orderBy("version")
    }),

    "multimodal_phash_pairs" -> ((s, dir) =>
      DedupOps.hashPairs64(
        Multimodal.imageAHash(Multimodal.encodePng(Tables.documents(s, dir))),
        "ahash", maxDist = 2).orderBy("doc_a", "doc_b")),

    // the image-dedup INCREMENTAL screen: new images probe the stored
    // banded aHash index (built over the % 4 < 3 subset) — the
    // ingestion question "near-dup of anything ever seen", index never
    // shuffled, batch broadcast-probed
    "multimodal_phash_incremental" -> ((s, dir) =>
      DedupOps.queryHashIndex(s,
        Multimodal.imageAHash(Multimodal.encodePng(
          Tables.documents(s, dir).filter(expr("doc_id % 4 = 3")))),
        ahashIdxPath(s, dir), maxDist = 2)
        .orderBy("doc_new", "doc_old")),

    // REAL multi-frame container round-trip: per-doc animated GIF
    // (2-5 frames, indexed-gray palette so the palette codec is
    // lossless) written AND parsed by JDK ImageIO; one row per decoded
    // frame with dimensions + exact integer gray sum, all recomputed by
    // the oracle from the frame formula alone
    "multimodal_gif_frames" -> ((s, dir) =>
      Multimodal.decodeGifFrames(
        Multimodal.encodeGif(Tables.documents(s, dir)))
        .orderBy("doc_id", "frame_no")),

    // REAL audio codec round-trip: closed-form sawtooth PCM, WAV
    // container, decoded back by javax.sound.sampled; per-window exact
    // integer energy + zero-crossing features the oracle recomputes
    // from the waveform formula
    "multimodal_audio_features" -> ((s, dir) =>
      Multimodal.decodeWavFeatures(
        Multimodal.encodeWav(Tables.documents(s, dir)))
        .orderBy("doc_id", "win")),

    // decode + nearest-neighbor resize over the REAL decoded raster
    // (4x4 target): same index map as multimodal_resize, applied to
    // genuinely decoded pixels; oracle replays formula + index math
    "multimodal_decode_resize" -> ((s, dir) =>
      Multimodal.decodeResizePng(
        Multimodal.encodePng(Tables.documents(s, dir)), 4, 4)
        .orderBy("doc_id")),

    // ── North-star: deterministic sampling / splitting / packing ──────
    "sample_hash_split" -> ((s, dir) =>
      SamplingOps.hashSplit(Tables.documents(s, dir), "doc_id")
        .select("doc_id", "split").orderBy("doc_id")),

    "sample_stratified" -> ((s, dir) =>
      SamplingOps.stratifiedSample(Tables.documents(s, dir), "lang", "doc_id", 20)
        .select("doc_id", "lang").orderBy("lang", "doc_id")),

    // fixed-budget proportional allocation: exactly 200 docs split across
    // languages by largest-remainder quotas — driver-side exact integer
    // math (bounded control-plane counts) steering a two-phase salted
    // per-stratum selection
    "sample_proportional" -> ((s, dir) =>
      SamplingOps.proportionalSample(
        Tables.documents(s, dir).select("doc_id", "lang"),
        "lang", "doc_id", 200)
        .select("doc_id", "lang", "samp_rank")
        .orderBy("lang", "samp_rank")),

    "token_buckets" -> ((s, dir) =>
      SamplingOps.tokenBuckets(Tables.documents(s, dir), 10).orderBy("bucket")),

    "pack_sequences" -> ((s, dir) =>
      SamplingOps.packSequences(Tables.documents(s, dir), 512).orderBy("pack_id")),

    // shard-export manifest: ~4k-token shards with exact counts, doc-id
    // ranges, and a content hash per shard — the checksum artifact a
    // trainer verifies before reading; prefix sums ride GlobalOrder
    "shard_manifest" -> ((s, dir) =>
      SamplingOps.shardManifest(Tables.documents(s, dir), 4096L)
        .orderBy("shard_id")),

    // a 20k global token budget split across languages by largest
    // remainder over the mix weights, then filled greedily by quality
    // within each language — grouped prefix sums on ONE GlobalOrder pass
    "select_budget_by_lang" -> ((s, dir) =>
      SamplingOps.selectTokenBudgetByGroup(Tables.documents(s, dir), "lang",
        SamplingOps.largestRemainderBudgets(20000L, mixWeights))
        .orderBy("lang", "cum_tokens")),

    // deterministic epoch-order shuffle: seed-keyed md5 permutation,
    // contiguous position assigned by the range-partitioned GlobalOrder
    // numbering (never a single-partition row_number window)
    "shuffle_global" -> ((s, dir) =>
      SamplingOps.shuffleOrder(
        Tables.documents(s, dir).select("doc_id"), "doc_id", "graft-42")
        .orderBy("train_order")),

    // tokenizer-prep vocabulary: top-100 words by total frequency with
    // document frequency; both aggregation levels partial-agg before
    // their shuffle and the top-k is per-partition heaps
    "vocab_topk" -> ((s, dir) =>
      TextOps.vocabTopK(Tables.documents(s, dir), 100)
        .orderBy(col("tf").desc, col("word"))),

    // frequent-words sketch (bounded-state top-k): exact top-20 rows
    // with a tolerance boolean on the sketch's count — the mergeable
    // path when vocabulary-sized exact state doesn't fit
    "vocab_approx_topk" -> ((s, dir) =>
      TextOps.vocabApproxTopK(Tables.documents(s, dir), 20)),

    // incremental materialized word-count view: per-batch partials
    // appended O(|batch vocab|), re-summed at read — counts over the
    // disjoint build+merge union equal the full corpus, so it shares
    // vocab_topk's oracle
    "vocab_merged_topk" -> ((s, dir) =>
      TextOps.queryVocabTopK(s, mergedVocabPath(s, dir), 100)
        .orderBy(col("tf").desc, col("word"))),

    // unigram-LM document scoring (the CCNet-style LM quality filter
    // with the corpus as its own LM): avg token log-prob per doc,
    // DECIMAL-accumulated over 6-dp-rounded log-probs
    "lm_score" -> ((s, dir) =>
      TextOps.lmScore(Tables.documents(s, dir)).orderBy("doc_id")),

    // BPE tokenizer training step 1: within-word adjacent char-pair
    // counts weighted by word frequency — the pair explosion runs over
    // the distinct-word vocabulary, never the corpus
    "bpe_pair_counts" -> ((s, dir) =>
      TextOps.bpePairCounts(Tables.documents(s, dir), 30)),

    // LM scoring against the STORED vocab view (built on one disjoint
    // split, merged with the other — covers the corpus, so scores are
    // bit-identical to inline lm_score): O(view)+O(batch), no corpus
    // re-scan on the LM side
    "lm_score_stored" -> ((s, dir) =>
      TextOps.lmScoreStored(s, Tables.documents(s, dir),
        mergedVocabPath(s, dir)).orderBy("doc_id")),

    // BPE training step 2: apply the argmax merge (greedy left-to-right
    // fold per word) and recount — one real merge-loop iteration, still
    // a vocab-table pass after the shared word-count shuffle
    "bpe_merge_step" -> ((s, dir) =>
      TextOps.bpeMergeStep(Tables.documents(s, dir), 30)),

    // BPE pair counts from the STORED vocab view — the production merge
    // loop: O(view) per iteration, zero corpus access (bit-identical to
    // the inline step on full coverage, so the oracle is shared)
    "bpe_pairs_stored" -> ((s, dir) =>
      TextOps.bpePairCountsStored(s, mergedVocabPath(s, dir), 30)),

    // full BPE training: 3 iterations of argmax + greedy merge — the
    // learned rule table; one bounded 1-row collect steers each
    // vocab-sized distributed pass (kmeansCentroids control-flow shape)
    "bpe_train" -> ((s, dir) =>
      TextOps.bpeTrain(Tables.documents(s, dir), 3).orderBy("rule_no")),

    // the production trainer: the merge loop's word counts come from
    // the incrementally-maintained stored vocab view — NO corpus pass;
    // bit-identical to the inline trainer because the view covers the
    // corpus (distributivity), so it shares bpe_train's oracle
    "bpe_train_from_view" -> ((s, dir) =>
      TextOps.bpeTrainFromVocab(s, mergedVocabPath(s, dir), 3)
        .orderBy("rule_no")),

    // the tokenizer's final output: per-doc token-ID sequences (sorted
    // alphabet 0..B-1, then rules in order) summarized as exact count +
    // md5 id-stream signature; the fold runs once per distinct word
    "bpe_encode_ids" -> ((s, dir) =>
      TextOps.bpeEncodeIds(Tables.documents(s, dir), 3).orderBy("doc_id")),

    // the apply side: encode every doc with the learned rules — distinct
    // words fold once (vocab-sized), docs get tf-weighted counts; the
    // words/BPE-tokens ratio is the tokenizer-compression metric
    "bpe_encode_stats" -> ((s, dir) =>
      TextOps.bpeEncodeStats(Tables.documents(s, dir), 3).orderBy("doc_id")),

    // encode against the STORED tokenizer artifact (rules + ids frozen
    // at build time; UNK surfaced, zero here since the corpus IS the
    // build corpus) — bit-identical to bpe_encode_ids plus n_unk = 0
    "bpe_encode_stored" -> ((s, dir) =>
      TextOps.bpeEncodeIdsStored(s, Tables.documents(s, dir),
        storedTokenizerPath(s, dir)).orderBy("doc_id")),

    // per-source KL(source ‖ corpus) over unigram distributions — the
    // drifted-source dashboard number; 6-dp terms DECIMAL-summed
    "source_kl" -> ((s, dir) =>
      TextOps.sourceKl(Tables.documents(s, dir)).orderBy("source")),

    // overlapping sliding-window chunking (RAG / training-example prep):
    // pure per-row projection, no shuffle — the final chunk always
    // reaches the document's last word
    "text_chunk_windows" -> ((s, dir) =>
      TextOps.chunkDocs(Tables.documents(s, dir), 64, 48)
        .orderBy("doc_id", "chunk_no")),

    // greedy token-budget curation: highest-quality docs while the
    // running token total fits the budget — the global running sum rides
    // the range-partitioned prefix scaffold, never one window partition
    "select_token_budget" -> ((s, dir) =>
      SamplingOps.selectTokenBudget(Tables.documents(s, dir), 10000L)
        .orderBy(desc("quality_score"), col("doc_id"))),

    // deterministic weighted interleave: mixing-weight-scaled hash order
    // so heavier languages surface proportionally denser in the epoch
    "interleave_weighted" -> ((s, dir) =>
      SamplingOps.weightedInterleave(
        Tables.documents(s, dir), "lang", "doc_id", mixWeights)
        .orderBy("train_order")),

    // close the curation loop: pack the EPOCH — the weighted-interleave
    // train order — not doc_id order, so the fixed-budget windows cut
    // the token stream the trainer actually reads. Two chained
    // range-partitioned prefix passes (interleave position, then the
    // running token sum); no single-partition window anywhere.
    "pack_interleaved" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val ord = SamplingOps.weightedInterleave(docs, "lang", "doc_id",
        mixWeights)
      val toks = docs.select(col("doc_id"),
        size(TextOps.normWords(col("text"))).cast("long").as("n_tokens"))
      SamplingOps.packSequencesBy(ord.join(toks, "doc_id"),
        Seq(col("train_order")), 512)
        .orderBy("pack_id")
    }),

    // tokenizer coverage: token mass OUTSIDE the top-20 vocabulary per
    // language (K=20 of the corpus's 31 words, so the OOV tail is real) —
    // the vocab is K rows by construction, so the coverage join
    // broadcasts and the scoring pass is map-side
    "text_oov_rate" -> ((s, dir) =>
      TextOps.oovRate(Tables.documents(s, dir), "lang", 20)
        .orderBy("lang")),

    // corpus-relative informativeness: mean ln(N/df) over each doc's
    // distinct words — template-heavy docs sink, rare-content docs rise;
    // the DECIMAL-routed mean keeps the double sum order-independent
    "doc_idf" -> ((s, dir) =>
      TextOps.docIdf(Tables.documents(s, dir)).orderBy("doc_id")),

    // per-source quota (the "max N pages per domain" rule): best 5 docs
    // per source by quality — two-phase salted top-N, so one giant
    // domain never serializes into a single window task
    "cap_per_source" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val scored = TextOps.qualityScore(docs)
        .join(docs.select("doc_id", "source"), "doc_id")
        .select(col("doc_id"), col("source"), col("quality_score"))
      SamplingOps.capPerGroup(scored, "source", "doc_id",
        Seq(col("quality_score").desc, col("doc_id")), 5)
        .orderBy("source", "grp_rank")
    }),

    // temperature-flattened mixing (α = ½): big langs downsampled toward
    // the smallest, rate = sqrt(min_tokens/tokens) — all single-rounded
    // IEEE ops, so membership is bit-stable across engines
    "sample_temperature" -> ((s, dir) =>
      SamplingOps.temperatureSample(Tables.documents(s, dir), "lang", "doc_id")
        .select("doc_id", "lang")
        .orderBy("doc_id")),

    // the full curation pipeline as ONE auditable per-doc decision
    // table: exact-dedup survivor ∧ quality median gate ∧ decontamination
    // ∧ temperature mixing ∧ split — every verdict individually oracled
    // elsewhere, composed and re-oracled end-to-end here
    "curation_report" -> ((s, dir) =>
      Curation.curationReport(Tables.documents(s, dir)).orderBy("doc_id")),

    // calibration: do duplicates concentrate in low-quality deciles?
    // nine exact decile cuts in ONE ranked pass (broadcast literals),
    // is_dup = non-survivor of its exact-fingerprint group
    "quality_dup_calibration" -> ((s, dir) =>
      Curation.qualityDupCalibration(Tables.documents(s, dir))
        .orderBy("decile")),

    // interpolated bigram LM (Jelinek-Mercer λ=0.7): token 1 scores
    // under the unigram LM, later tokens under λ·p(w|prev)+(1−λ)·p(w)
    "lm_bigram_score" -> ((s, dir) =>
      TextOps.lmBigramScore(Tables.documents(s, dir), 0.7)
        .orderBy("doc_id")),

    // the curation dashboard number: per-stage survivor counts through
    // the monotone filter chain (canonical → quality → clean → mixed →
    // train-split) — one aggregate over the report, so the funnel can
    // never disagree with the per-doc decisions it summarizes
    "curation_funnel" -> ((s, dir) => {
      val r = Curation.curationReport(Tables.documents(s, dir))
      val canonical = col("is_canonical")
      val quality = canonical && col("quality_ok")
      val clean = quality && !col("contaminated")
      val mixed = clean && col("temp_keep")
      r.agg(
        count(lit(1)).as("n_docs"),
        sum(when(canonical, 1L).otherwise(0L)).as("n_canonical"),
        sum(when(quality, 1L).otherwise(0L)).as("n_quality"),
        sum(when(clean, 1L).otherwise(0L)).as("n_clean"),
        sum(when(mixed, 1L).otherwise(0L)).as("n_mixed"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"))
    }),

    "corpus_mix" -> ((s, dir) =>
      SamplingOps.corpusMix(Tables.documents(s, dir), "lang", mixWeights)
        .orderBy("lang")),

    // the mix plan EXECUTED: ⌊dup_factor⌋ copies per doc plus a
    // hash-selected extra for the fractional part — deterministic, and
    // the report shows how close the integerized epoch lands on target
    "epoch_materialize" -> ((s, dir) =>
      SamplingOps.epochMaterialize(Tables.documents(s, dir), "lang",
        "doc_id", mixWeights).orderBy("lang")),

    // the release one-pager: per-language doc/token counts + dup /
    // quality-gate / PII rates — exact counts, single IEEE divisions,
    // the memoized scale-safe median cut
    "corpus_datacard" -> ((s, dir) =>
      Curation.dataCard(Tables.documents(s, dir)).orderBy("lang")),

    // incremental-reprocessing planner: v2 simulates a 10% deletion wave
    // (hash band), the diff reports ONLY the stable key-hash buckets
    // whose content signature moved — the work list a re-tokenization
    // run processes instead of the whole corpus
    "corpus_diff" -> ((s, dir) => {
      val v1 = Tables.documents(s, dir)
      val v2 = v1.filter(pmod(SamplingOps.keyHash("doc_id"), lit(100)) >= 10)
      Curation.corpusDiff(v1, v2, 64).orderBy("bucket")
    }),

    "text_repetition" -> ((s, dir) =>
      TextOps.repetitionScore(Tables.documents(s, dir)).orderBy("doc_id")),

    // contamination sweep: train docs sharing winnow fingerprints with
    // the held-out hash split (top 10% of the doc_id hash space)
    "decontaminate" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      TextOps.decontaminate(d, maxDf = TextOps.adaptiveMaxDf(d))
        .orderBy("doc_id")
    }),

    // ── CDC snapshot-to-snapshot diff ─────────────────────────────────
    // what changed between two reporting dates: single-pass membership
    // tagging + one key aggregate (no self-join of the dim) classifying
    // INSERT / UPDATE / DELETE per key
    "snapshot_diff" -> ((s, dir) =>
      Scd2.snapshotDiff(dimOf(ev(s, dir)), KEY,
        expr(s"TIMESTAMP '$DIFF_T1'"), expr(s"TIMESTAMP '$DIFF_T2'"),
        Seq("event_type", "value"))
        .orderBy("user_id")),

    // ── Chunk-level (paragraph) exact dedup ───────────────────────────
    // fixed-width word chunks hashed and counted across the corpus —
    // the linear full-corpus boilerplate pass before near-dup candidates
    "dedup_chunks" -> ((s, dir) =>
      DedupOps.chunkDupStats(Tables.documents(s, dir), P.ChunkWords)
        .orderBy("doc_id")),

    // ── Dedup survivor selection ──────────────────────────────────────
    // transitive dup groups joined with quality scores; best-quality doc
    // per group keeps, rest drop — the decision table a curation
    // pipeline audits before filtering
    "dedup_keep_best" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      DedupOps.keepBest(
        DedupOps.dupGroups(docs,
          DedupOps.minhashLshPairs(docs, P.ShingleN, P.MinhashK, P.LshBands,
            P.JaccardT)),
        Caches.ensureCached(TextOps.qualityScore(docs))
          .select("doc_id", "quality_score"),
        "quality_score")
        .orderBy("doc_id")
    }),

    // ── BM25 keyword retrieval ────────────────────────────────────────
    "text_bm25_topk" -> ((s, dir) =>
      TextOps.bm25TopK(Tables.documents(s, dir), BmTerms, 10)),
  )

  /** BM25 demo query terms (literal-identical in the oracle SQL). */
  private val BmTerms = Seq("spark", "join", "window")

  /** The initially-indexed subset for the incremental IVF build/merge
    * scenario — one predicate string evaluated by Spark (`expr`) and
    * replayed literally by the oracle's training CTE, so both sides train
    * on exactly these vectors. Keeps vec_id 0 (the demo query vector) in
    * the build set. */
  private val IvfMergeBuildPred = "vec_id % 4 < 3"

  /** The batch-probe query set (every 97th vector — 6 queries at
    * sf0.01, 21 at sf0.1), shared literally by the Spark closures and
    * the oracle SQL of `ann_ivf_batch_topk`/`ann_pq_batch_topk`. */
  private val BatchQueryPred = "vec_id % 97 = 0"

  /** The BM25 batch-probe query documents (every 97th doc — 6 queries
    * at sf0.01, 52 at sf0.1); each queries the stored index with its
    * own top-3 distinctive tokens. Shared literally with the oracle. */
  private val BmBatchPred = "doc_id % 97 = 0"

  /** Initial-corpus predicate for the merged BM25 index: the first ¾ of
    * documents are indexed at build time, the rest arrive as the change
    * feed and are merged. BM25 operands (tf/df/dl/n_docs/sum_dl) are
    * corpus-total integers either way, so the merged index shares the
    * inline oracle. */
  private val Bm25MergeBuildPred = "doc_id % 4 < 3"

  /** Target mixture weights for the corpus-mix report (one per corpus
    * lang; must stay literal-identical to the oracle's CASE). */
  private val mixWeights: Map[String, Double] = Map(
    "de" -> 0.15, "en" -> 0.35, "es" -> 0.15, "fr" -> 0.15, "zh" -> 0.20)

  /** Shared operator parameters — the single source for the query
    * closures AND [[warmSharedCaches]]. The warm phase must build exactly
    * the plans the queries hit; a drifted literal would silently warm
    * dead caches and migrate the one-time build cost back into whichever
    * query runs first (WarmCacheSpec asserts the warmed plans are
    * cache-hits). The oracle SQL mirrors these values as literal text, so
    * changing one here requires the matching oracle edit. */
  private[graft] object P {
    val ShingleN = 5      // word n-gram size for shingle dedup
    val MinhashK = 8      // minhash signature length
    val LshBands = 4      // minhash LSH bands (rows = MinhashK / LshBands)
    val JaccardT = 0.8    // near-dup jaccard threshold
    val EmbPlanes = 8     // hyperplanes per embedding LSH table
    val EmbTables = 2     // OR-ed embedding LSH tables
    val EmbCosT = 0.3     // embedding near-dup cosine threshold
    val KmK = 8           // IVF k-means cells
    val KmIters = 2       // IVF k-means Lloyd iterations
    val SemT = 0.35       // SemDeDup within-cluster cosine threshold
                          // (≈ p99.5 of the all-pairs distribution —
                          // max is 0.51, so drops are a real minority)
    val PqM = 16          // PQ subspaces (subDim = 64/16 = 4)
    val PqKsub = 16       // PQ centroids per subspace
    val PqIters = 3       // PQ k-means iterations
                          // Geometry moved r19 → r20 (the r19 verdict's
                          // ADC-ceiling ask): (m=8, ksub=16, iters=1)
                          // topped out at ivfpq+rerank4 recall avg
                          // 0.386 / min 0.10 with probing already
                          // near-exhaustive — the ADC shortlist itself
                          // was the bottleneck. bench/RECALL_r20.md's
                          // frontier: finer subspaces dominate per
                          // byte — (16,16,3) reads 0.743 avg / 0.50
                          // min at the same rerank 4 (16 code bytes/
                          // vector instead of 8; ksub=64 reads higher
                          // still but blows the janino 64 KB method
                          // limit and de-codegens the probe).
    val RerankFactor = 4  // two-stage ANN shortlist width = k × this.
                          // bench/RECALL_r18.md's committed sweep: 4×
                          // MORE THAN DOUBLES raw-ADC recall (PQ 0.148
                          // → 0.381 at sf0.1) at FLAT warm probe cost
                          // (the shortlist is broadcast-tiny); recall
                          // keeps climbing at 8× — the dial is cheap,
                          // size it by recall target in deployment
    val ChunkWords = 20   // words per chunk for paragraph-level dedup
    val ProbeRatio = 1.25 // adaptive multi-probe: also probe any cell
                          // whose SQUARED-L2 centroid distance ≤ ratio
                          // × the query's nearest (d² ratio — ≈1.12×
                          // in plain distance) — spends probes on the
                          // cell-BOUNDARY queries whose true neighbors
                          // live in a 3rd+ cell (the fixed-nprobe=2
                          // recall-floor-0 failure, RECALL_r18.md).
                          // bench/RECALL_r19.md: lifts the ivfpq+rerank
                          // per-query MIN recall 0.00 → 0.10 at sf0.1
                          // (avg 0.324 → 0.386); on this synthetic
                          // corpus centroid distances concentrate, so
                          // the rule probes most of the k=8 cells (avg
                          // 7.5) — the sweep's avg_cells column is the
                          // honest cost, and the floor gate below is
                          // the contract
  }

  /** The gated per-query recall floor of the two-stage ANN reads —
    * raised 0 → 0.2 with the r20 geometry move (bench/RECALL_r20.md:
    * measured min 0.50 at sf0.1, so the contract holds 2.5× margin). */
  private[graft] val RecallFloor = 0.2

  /** The hybrid fused ranking's gated floor vs brute-force COSINE
    * ground truth. Lower than [[RecallFloor]] by design: the fused
    * top-10 deliberately spends slots on lexical (BM25) hits that
    * cosine ground truth does not credit — a fused list half-filled
    * with keyword matches reads ~0.5 here even with a perfect vector
    * arm. The gate exists to catch the vector arm DEGRADING (probe
    * coverage, index corruption), which reads as a drop toward
    * BM25-only recall (bench/RECALL_r20.md measures both levels). */
  private[graft] val HybridRecallFloor = 0.1

  /** Build the cross-query shared caches and training memos so bench
    * per-query timings are attributable to plan changes rather than to
    * whichever query alphabetically first touches a shared intermediate:
    * the dedup family's shingle/signature/sketch/winnow tables, the LSH
    * signature table, the SCD2 merge queries' materialized dim snapshots,
    * the embedding vector table, and the k-means training memos (IVF +
    * the 8 PQ subspaces). Every plan is constructed by the same code path
    * the queries use, so `Caches.ensureCached`'s canonicalized-plan
    * lookup (and the k-means plan-key memo) resolve to the same
    * entries the queries hit. */
  def warmSharedCaches(s: SparkSession, dir: String): Seq[(String, String, Double)] = {
    // each warm stage is timed and returned so the bench can emit a
    // setup breakdown — a setup regression is then attributable to a
    // stage, the same property the per-run query times give the medians.
    //
    // Stages run as NINE CONCURRENT CHAINS (sequential within a chain,
    // chains submitted from separate threads — the standard Spark
    // multi-job pattern): text caches → dup groups; SCD2 dims; embedding
    // caches → stored ANN builds; the PQ rebuild root; the IVFPQ
    // rebuild root; merged ANN builds; text index builds; the purge
    // audit's tombstoned roots; the image-hash tables.
    // The chains touch
    // disjoint caches/memos/artifacts, so the only shared state is the
    // thread-safe registries they already use (Caches' CacheManager
    // lookup, the per-key StoredIndexes build locks, TrieMap memos).
    // Per-stage times stay attributable — each is measured on its own
    // chain — but chains OVERLAP, so the sum of stage times exceeds the
    // headline `setup` wall time. Warm work is dominated by small jobs
    // and driver-side planning that a single chain can't keep 32 cores
    // busy with; overlapping chains reclaims that idle width.
    // (stage, chain, secs): chains overlap, so a stage regression must be
    // attributable to its chain — "its chain got a slower neighbor" is a
    // different diagnosis than "the stage itself regressed". The chain is
    // read from the warm thread's name (set below), so call sites stay
    // chain-agnostic.
    val stages = scala.collection.mutable.ArrayBuffer.empty[(String, String, Double)]
    def stage(name: String)(body: => Unit): Unit = {
      val chain = Thread.currentThread.getName match {
        case n if n.startsWith("graft-warm-") => n.stripPrefix("graft-warm-")
        case _ => "caller" // direct (non-chained) invocation, e.g. a test
      }
      val t0 = System.nanoTime()
      body
      val dt = (System.nanoTime() - t0) / 1e9
      stages.synchronized { stages += ((name, chain, dt)) }
    }
    // Run INDEPENDENT builds within one warm stage as concurrent Spark
    // jobs (guide §2.6 — the same multi-job pattern the chains
    // themselves use): a stage of N independent stored-index builds
    // walls at ~max(build) instead of Σ(build). Shared state below the
    // thunks is already thread-safe (per-key StoredIndexes build locks,
    // TrieMap memos, CacheManager plan lookup).
    def concurrently(thunks: (() => Any)*): Unit = {
      // bounded await: a hung build fails the warm phase with the stage
      // named in the stack (and is cancelled), instead of wedging its
      // chain forever
      Bounded.awaitAll(s, thunks)
      ()
    }
    val docs = Tables.documents(s, dir)
    val chains = Seq[(String, () => Unit)](
      ("text", () => {
    // derived-skew-cap memos FIRST: one histogram pass each, a
    // per-corpus constant afterwards — setup cost, not query cost. The
    // df cap must exist before text_caches warms the containment table,
    // whose cached plan embeds it.
    stage("adaptive_caps") {
      DedupOps.adaptiveSaltFactor(docs, P.ShingleN)
      TextOps.adaptiveMaxDf(docs)
      ()
    }
    stage("text_caches") {
      // cache entries REGISTER on this thread (scope-visible), then the
      // independent builds materialize as concurrent jobs: the
      // shingle→minhash chain, the simhash table, and the
      // winnow→containment chain share nothing
      val shl = Caches.ensureCached(DedupOps.shingleArrays(docs, P.ShingleN))
      val sim = Caches.ensureCached(DedupOps.simhashLong(docs))
      val win = Caches.ensureCached(TextOps.winnowFps(docs))
      // the shared per-(doc, word) count table (lm_score + vocab_topk
      // + the sketch row's exact arm) — built here so its one-time
      // tokenize doesn't bill to whichever consumer runs first
      val dwc = TextOps.docWordCounts(docs)
      // the quality-score table feeds 4 consumers (text_quality, the
      // gate's percentile + filter sides, curation_report,
      // dedup_keep_best) — the only multiply-consumed text subplan that
      // wasn't warmed, and the gate was the suite's most noise-sensitive
      // query while it re-scored the corpus per run
      val qs = Caches.ensureCached(TextOps.qualityScore(docs))
      concurrently(
        () => {
          shl.count()
          Caches.ensureCached(DedupOps.minhashSignatures(shl, P.MinhashK))
            .count()
        },
        () => sim.count(),
        () => dwc.count(),
        () => {
          win.count()
          // containment's df-capped exploded fingerprint table (feeds
          // the candidate self-join AND the size denominator of
          // text_containment) at the corpus-derived cap the queries use
          TextOps.containmentExploded(docs,
            maxDf = TextOps.adaptiveMaxDf(docs)).count()
        },
        () => {
          qs.count()
          // the corpus-median cut (text_quality_gate + curation_report):
          // a per-corpus constant — its GlobalOrder rank jobs and ranged
          // cache belong in setup, and the session memo serves every
          // later invocation without re-ranking
          graft.engine.ExactPercentile.cut(
            qs.select("doc_id", "quality_score"),
            col("quality_score"), col("doc_id"), 0.5)
        })
      ()
    }
    // the transitive dup-group label table (memoized propagation loop) —
    // consulted by dedup_groups AND dedup_keep_best
    stage("dup_groups") {
      DedupOps.dupGroups(docs,
        DedupOps.minhashLshPairs(docs, P.ShingleN, P.MinhashK, P.LshBands,
          P.JaccardT)).count()
      ()
    }
      }),
      ("scd2", () => {
    stage("scd2_dims") {
      // the full-events rebuilt dim — the shared subplan of ~9 SCD2
      // queries (rebuild/current/asof/timeline/stats/frequency/
      // invariant/union/diff)
      val e0 = ev(s, dir)
      Caches.ensureCached(dimOf(e0)).count()
      // the WM-filtered dim cache (upsert_routing's current-rows source)
      Caches.ensureCached(
        dimOf(e0.filter(col(TS) <= expr(s"TIMESTAMP '$WM'")))).count()
      // the merge queries' BUCKETED dim snapshots — published once here
      // so the timed merge closures only read the already-bucketed table
      val eOp = e0.withColumn("operation_type",
        when(col("event_type") === "error", "DELETE").otherwise("UPSERT"))
      bucketedHistDim(s, dir, "hist",
        e0.filter(col(TS) <= expr(s"TIMESTAMP '$WM'")))
      bucketedHistDim(s, dir, "histop",
        eOp.filter(col(TS) <= expr(s"TIMESTAMP '$WM'")))
      ()
    }
      }),
      ("ann", () => {
    stage("embedding_caches") {
      // embedding vector table, LSH signature table, k-means memos
      val emb = Tables.embeddings(s, dir)
      val ev64 = emb.select(col("vec_id"),
        SimilarityOps.asDoubleVec(col("embedding")).as("v"))
      Caches.ensureCached(ev64).count()
      // ann_ivf_topk's labeled table + its corpus-wide centroid aggregate
      SimilarityOps.givenCellCentroids(emb).count()
      SimilarityOps.lshSigTable(emb, P.EmbPlanes, P.EmbTables).count()
      SimilarityOps.kmeansCentroids(ev64, P.KmK, P.KmIters)
      // PQ subspace training memos: derive dims from the corpus exactly
      // as pqTopK/buildPqIndex do, so the sliced plans canonicalize to
      // the same k-means memo keys
      val dims = ev64.select(size(col("v"))).limit(1).collect()
        .headOption.map(_.getInt(0)).getOrElse(0)
      if (dims > 0 && dims % P.PqM == 0) {
        // batched like pqCodebooks itself: ONE Spark job per Lloyd
        // round across all 16 subspaces (kmeansCentroidsBatch derives
        // the slice plans via the SAME pqSlices helper the production
        // training uses, so the memo keys canonicalize identically by
        // construction).
        SimilarityOps.kmeansCentroidsBatch(ev64, P.PqM, dims / P.PqM,
          P.PqKsub, P.PqIters)
        ()
      }
    }
    // stored-index builds (one per process, under the auto-removed
    // StoredIndexes root): index CONSTRUCTION is a pipeline stage a
    // deployment amortizes over many queries, so it belongs in setup —
    // the stored read-path closures then time what a user's query costs.
    // The ANN builds follow the embedding caches on THIS chain (they
    // consume the k-means memos warmed above); the keyword/fingerprint
    // builds need only the documents table and run on their own chain.
    stage("ann_indexes") {
      // seven independent roots (each under its own StoredIndexes build
      // lock), all consuming the k-means memos warmed above — built as
      // concurrent jobs
      concurrently(
        () => storedIvfPath(s, dir), () => storedPqPath(s, dir),
        () => storedIvfPqPath(s, dir),
        // the deletion read-paths' own roots (build + tombstone) — setup
        // cost like their ivf_idx/pq_idx twins, so the query times the
        // pure probe; the PQ/IVFPQ variants are full-corpus builds that
        // reuse the subspace k-means memos warmed above (encode-only)
        () => deletedIvfPath(s, dir),
        () => deletedPqPath(s, dir), () => deletedIvfPqPath(s, dir),
        // the retrain read-path's root (build + merge + retrain) — same
        // posture: the query times the pure probe of the retrained index
        () => retrainedIvfPath(s, dir))
      ()
    }
      }),
      // the lossy-code rebuild roots (build-on-subset + merge + rebuild-
      // from-source): like the merged variants they train their OWN
      // memos (subset plans, and the rebuild's screened-source plan) —
      // none of the full-corpus warm-up applies, and their three serial
      // trainings each were making the ann chain the setup critical
      // path. The two roots are independent, so each gets its own chain
      ("pqrebuild", () => {
    stage("pq_rebuilt_index") {
      rebuiltPqPath(s, dir)
      ()
    }
      }),
      ("ivfpqrebuild", () => {
    stage("ivfpq_rebuilt_index") {
      rebuiltIvfPqPath(s, dir)
      ()
    }
      }),
      // the merged (build-on-subset + absorb-the-rest) index variants
      // train their OWN subset memos — no dependency on the full-corpus
      // k-means the ann chain warms — so they run as their own chain:
      // with six sequential builds the ann chain was the setup critical
      // path, and half of them never needed its warm-up at all
      ("annmerge", () => {
    stage("merged_indexes") {
      concurrently(
        () => mergedIvfPath(s, dir), () => mergedPqPath(s, dir),
        () => mergedIvfPqPath(s, dir))
      ()
    }
      }),
      ("textidx", () => {
    stage("text_indexes") {
      concurrently(
        () => storedBm25Path(s, dir), () => mergedBm25Path(s, dir),
        () => dedupIdxPath(s, dir), () => mergedVocabPath(s, dir),
        // the retraction read-path's own root (build + retract) — setup
        // cost like its bm25_idx twin, so the query times the pure probe
        () => retractedBm25Path(s, dir),
        // the derived batch-probe query workload (cached, shared by the
        // standalone batch row and both hybrid rows)
        () => bm25QueryTerms(s, dir).count())
      ()
    }
      }),
      // the purge audit's three remaining tombstoned roots (fingerprint,
      // aHash, vocab — its IVF and BM25 roots already ride the ann and
      // textidx chains): index construction is setup cost everywhere
      // else, so it is here too — the timed purge_audit closure then
      // measures the pure multi-family screened read, not the builds.
      // Own chain: the builds depend on no other chain's memos beyond
      // the thread-safe adaptiveMaxDf, and textidx is already the
      // longest chain
      ("purge", () => {
    stage("purge_roots") {
      concurrently(
        () => deletedFpPath(s, dir), () => deletedAhashPath(s, dir),
        () => deletedVocabPath(s, dir), () => deletedDistinctPath(s, dir),
        () => purgedSnapshotPath(s, dir), () => queuedPurgePath(s, dir))
      ()
    }
      }),
      // the image-hash tables + stored banded index: the phash queries'
      // operator-under-test is the BANDED JOIN, but their plans start
      // from per-doc PNG encode + ImageIO decode — pure CPU that
      // inflates 25-35x under session load while SQL inflates 2-4x
      // (the r16 driver bench read 73 s on a 2.3 s query from exactly
      // this). Hash once here, as a labeled setup stage, so the timed
      // closures measure the join; the codec round-trip itself stays
      // independently measured by multimodal_decode/_gif_frames. Own
      // chain: nothing else consumes these tables.
      ("codec", () => {
    stage("ahash_tables") {
      // the two probe-side plans the queries hit (full corpus for
      // _pairs; the %4=3 change feed for _incremental), cached via the
      // same code path so the canonicalized-plan lookup resolves
      val full = Caches.ensureCached(Multimodal.imageAHash(
        Multimodal.encodePng(docs)))
      val feed = Caches.ensureCached(Multimodal.imageAHash(Multimodal.encodePng(
        docs.filter(expr("doc_id % 4 = 3")))))
      // the stored banded index build (%4<3 corpus side) — codec work
      // inside an index build is setup cost like every other family.
      // The three hashes/builds are independent → concurrent jobs.
      concurrently(
        () => full.count(), () => feed.count(), () => ahashIdxPath(s, dir))
      ()
    }
      }))
    // plain threads, not the global ExecutionContext: the chains block
    // on Spark actions and must not starve a shared pool
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = chains.map { case (name, body) =>
      val t = new Thread(() => {
        try body()
        catch { case e: Throwable => errs.add(e); () }
      }, s"graft-warm-$name")
      t.start(); t
    }
    threads.foreach(_.join())
    if (!errs.isEmpty) throw errs.peek()
    stages.toSeq
  }

  /** The merge queries' dimension side: the rebuilt historical dim,
    * published ONCE per (session, variant, corpus) as a BUCKETED snapshot
    * (hashed by `user_id` at write time) and read back through the
    * catalog — every keyed aggregate/join over it then plans without a
    * dim-side Exchange (BucketingSpec asserts this; PLANS.md shows the
    * merge plan). `hist` is by-name: when the table already exists, the
    * rebuild plan is never constructed. Data lives under the
    * StoredIndexes staging root, removed on JVM exit. */
  private def bucketedHistDim(s: SparkSession, dir: String, variant: String,
                              hist: => DataFrame): DataFrame = {
    val table = s"graft_dim_${variant}_" + engine.StoredIndexes.sha16(dir)
    // check-then-publish is atomic under the shared StoredIndexes lock,
    // so concurrent callers (a parallel runner) cannot double-publish or
    // read a half-written table
    engine.StoredIndexes.locked {
      if (!s.catalog.tableExists(table))
        SnapshotStore.publishBucketed(dimOf(hist), table, KEY, buckets = 8,
          path = Some(engine.StoredIndexes.pathFor(s"dim_$variant", dir)))
    }
    s.table(table)
  }

  // ── Build-once stored-index artifacts ────────────────────────────────
  // One build per (artifact, corpus) per process, staged under the
  // auto-removed StoredIndexes root. warmSharedCaches calls these so the
  // bench's timed closures are pure read paths; Verify (fresh process, no
  // warm) builds on first touch and reuses thereafter.
  private def storedIvfPath(s: SparkSession, dir: String): String =
    engine.StoredIndexes.ensure("ivf_idx", dir)(p =>
      SimilarityOps.buildIvfIndex(Tables.embeddings(s, dir), p, P.KmK, P.KmIters))

  /** IVF index over ONLY the merge-build subset — the "already indexed
    * corpus" a CDC screen probes (the complement is the change feed). */
  private def baseIvfPath(s: SparkSession, dir: String): String =
    engine.StoredIndexes.ensure("ivf_base", dir)(p =>
      SimilarityOps.buildIvfIndex(
        Tables.embeddings(s, dir).filter(expr(IvfMergeBuildPred)), p,
        P.KmK, P.KmIters))

  private def storedPqPath(s: SparkSession, dir: String): String =
    engine.StoredIndexes.ensure("pq_idx", dir)(p =>
      SimilarityOps.buildPqIndex(Tables.embeddings(s, dir), p, P.PqM, P.PqKsub,
        P.PqIters))

  private def storedIvfPqPath(s: SparkSession, dir: String): String =
    engine.StoredIndexes.ensure("ivfpq_idx", dir)(p =>
      SimilarityOps.buildIvfPqIndex(Tables.embeddings(s, dir), p,
        P.KmK, P.KmIters, P.PqM, P.PqKsub, P.PqIters))

  private def mergedIvfPqPath(s: SparkSession, dir: String): String =
    engine.StoredIndexes.ensure("ivfpq_merge", dir) { p =>
      val emb = Tables.embeddings(s, dir)
      SimilarityOps.buildIvfPqIndex(emb.filter(expr(IvfMergeBuildPred)), p,
        P.KmK, P.KmIters, P.PqM, P.PqKsub, P.PqIters)
      SimilarityOps.mergeIvfPqIndex(emb.filter(!expr(IvfMergeBuildPred)), p)
    }

  private def mergedIvfPath(s: SparkSession, dir: String): String =
    engine.StoredIndexes.ensure("ivf_merge", dir) { p =>
      val emb = Tables.embeddings(s, dir)
      SimilarityOps.buildIvfIndex(emb.filter(expr(IvfMergeBuildPred)), p,
        P.KmK, P.KmIters)
      SimilarityOps.mergeIvfIndex(emb.filter(!expr(IvfMergeBuildPred)), p)
    }

  private def storedBm25Path(s: SparkSession, dir: String): String =
    engine.StoredIndexes.ensure("bm25_idx", dir)(p =>
      TextOps.buildBm25Index(Tables.documents(s, dir), p))

  /** The data-derived BM25 batch workload — each `BmBatchPred` query
    * doc's top-3 distinctive (len ≥ 5) tokens. ONE derivation shared by
    * the standalone batch probe and the hybrid fusion, so the two rows
    * always probe the same lexical workload (its oracle twin is
    * [[bm25BatchScoredCtes]]' `qcnt`/`lq` chain). `qids` further
    * restricts the query docs (the hybrid's docs-with-embeddings
    * sample); None keeps the full sample. */
  /** The hybrid fused ranking (q_id, doc_id, rrf) — reciprocal-rank
    * fusion of the two STORED-index probes over the same query set
    * (docs sampled by BmBatchPred that also carry an embedding; doc_id
    * and vec_id share the id space): the lexical ranking is the BM25
    * batch probe (top-3 distinctive terms per query, self excluded
    * post-probe), the vector ranking is the IVF batch probe under the
    * ADAPTIVE multi-probe (nprobe floor 1 + the P.ProbeRatio boundary
    * rule — r19 verdict #3's ask: the fixed nprobe=1 arm could degrade
    * silently to BM25-only), and the fused score is Σ 1/(60+rank).
    * Neither ranker rescans the corpus — both are index reads — and
    * the fuse itself is top-k-frame sized, so the whole query keeps
    * the stored-index scale shape. ONE derivation shared by the
    * `hybrid_rrf_topk` correctness row and the `hybrid_rrf_recall`
    * quality gate, so the gated ranking is exactly the served one. */
  /** The hybrid rows' tiny query-id sample (docs sampled by BmBatchPred
    * that also carry an embedding) — cached; feeds the term workload,
    * the vector queries, the fuse, AND the recall row's query set, so
    * all four consumers resolve to one scan of the derivation. */
  private def hybridQids(s: SparkSession, dir: String): DataFrame =
    engine.Caches.ensureCached(
      Tables.documents(s, dir).filter(expr(BmBatchPred))
        .select("doc_id")
        .join(Tables.embeddings(s, dir).select(col("vec_id").as("doc_id")),
          Seq("doc_id"), "left_semi"))

  private def hybridFusedRanking(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    // the tiny query-id sample feeds three subtrees (term workload,
    // vector queries, and its own derivation) — cached so the
    // documents×embeddings derivation scans run once, not per branch
    val qids = hybridQids(s, dir)
    val qterms = bm25QueryTerms(s, dir, Some(qids))
    // top-11 then self-filter then re-rank ≡ top-10 of the ranking
    // with self removed (removing one row preserves relative order,
    // and the 11th candidate backfills when self sat in the top 10)
    val lexW = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(desc("bm25"), col("doc_id"))
    val lex = TextOps.queryBm25IndexBatch(s, storedBm25Path(s, dir),
        qterms, 11)
      .filter(col("doc_id") =!= col("q_id"))
      .withColumn("rank", row_number().over(lexW))
      .filter(col("rank") <= 10).select("q_id", "doc_id", "rank")
    val vecW = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(desc("cosine"), col("vec_id"))
    val vec = SimilarityOps.queryIvfIndexBatch(s, storedIvfPath(s, dir),
        emb.join(qids.select(col("doc_id").as("vec_id")), Seq("vec_id"),
          "left_semi"), topK = 10, nprobe = 1,
        probeRatio = P.ProbeRatio)
      .withColumn("rank", row_number().over(vecW))
      .select(col("q_id"), col("vec_id").as("doc_id"), col("rank"))
    // (Measured and rejected: materializing lex/vec as concurrent
    // localCheckpoint jobs — the fixed materialization cost exceeded
    // the concurrency win on these |queries|×k frames, +0.4 s on both
    // hybrid rows. The lazy fuse keeps the plan in one job, whose
    // independent arm stages the DAG scheduler already overlaps.)
    SimilarityOps.rrfFuse(Seq(lex, vec), topK = 10)
  }

  private def bm25QueryTerms(s: SparkSession, dir: String,
                             qids: Option[DataFrame] = None): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(desc("cnt"), col("term"))
    val base = Tables.documents(s, dir).filter(expr(BmBatchPred))
    val docs = qids.fold(base)(q => base.join(q, Seq("doc_id"), "left_semi"))
    // the derived QUERY WORKLOAD table (|queries|×3 rows) — cached like
    // the hybrid's qids sample: it feeds the standalone batch probe and
    // both hybrid rows, and re-deriving it (tokenize → count → window)
    // per run re-pays the corpus explode each time
    engine.Caches.ensureCached(
      docs.select(col("doc_id").as("q_id"),
          explode(TextOps.normWords(col("text"))).as("term"))
        .filter(length(col("term")) >= 5)
        .groupBy("q_id", "term").agg(count(lit(1)).as("cnt"))
        .withColumn("_rn", row_number().over(w))
        .filter(col("_rn") <= 3).select("q_id", "term"))
  }

  /** Stored BM25 index with a retraction applied — its own root (the
    * deletion must not leak into the other stored-BM25 queries). */
  private def retractedBm25Path(s: SparkSession, dir: String): String =
    engine.StoredIndexes.ensure("bm25_del", dir) { p =>
      val docs = Tables.documents(s, dir)
      TextOps.buildBm25Index(docs, p)
      TextOps.retractBm25Index(docs.filter(expr("doc_id % 13 = 5")), p)
    }

  /** Stored IVF index with a tombstoned slice — its own root, pending
    * tombstones left UNSERVED so the probe exercises the logical-delete
    * screen (the compaction tick's physical path is spec-covered). */
  private def deletedIvfPath(s: SparkSession, dir: String): String =
    engine.StoredIndexes.ensure("ivf_del", dir) { p =>
      SimilarityOps.buildIvfIndex(Tables.embeddings(s, dir), p,
        P.KmK, P.KmIters)
      SimilarityOps.tombstoneAnnIndex(
        Tables.embeddings(s, dir).filter(expr("vec_id % 7 = 3"))
          .select("vec_id"), p)
    }

  /** Stored PQ index with a tombstoned slice — the audit's lossy-code
    * twin of `ivf_del`. Full-corpus build so it reuses the subspace
    * k-means memos the `ann` warm chain trains; its own deletion
    * predicate (≠ IVF's) so the audit families are independently
    * pinned. */
  private def deletedPqPath(s: SparkSession, dir: String): String =
    engine.StoredIndexes.ensure("pq_del", dir) { p =>
      SimilarityOps.buildPqIndex(Tables.embeddings(s, dir), p, P.PqM,
        P.PqKsub, P.PqIters)
      SimilarityOps.tombstoneAnnIndex(
        Tables.embeddings(s, dir).filter(expr("vec_id % 5 = 2"))
          .select("vec_id"), p)
    }

  /** Stored IVFPQ index with a tombstoned slice — same posture. */
  private def deletedIvfPqPath(s: SparkSession, dir: String): String =
    engine.StoredIndexes.ensure("ivfpq_del", dir) { p =>
      SimilarityOps.buildIvfPqIndex(Tables.embeddings(s, dir), p,
        P.KmK, P.KmIters, P.PqM, P.PqKsub, P.PqIters)
      SimilarityOps.tombstoneAnnIndex(
        Tables.embeddings(s, dir).filter(expr("vec_id % 9 = 4"))
          .select("vec_id"), p)
    }

  /** Stored IVF index taken through the full churn lifecycle — build on
    * a subset, merge the drifting remainder against frozen centroids,
    * then RETRAIN on the index's own live set (atomic republish, drift
    * log reset). Its own root; the retrained state is bit-identical to
    * a fresh build on the full corpus (deterministic k-means over the
    * SET), which the `ann_ivf_kmeans_topk` oracle already replays. */
  private def retrainedIvfPath(s: SparkSession, dir: String): String =
    engine.StoredIndexes.ensure("ivf_retrain", dir) { p =>
      val e = Tables.embeddings(s, dir)
      SimilarityOps.buildIvfIndex(e.filter(expr("vec_id % 5 != 0")), p,
        P.KmK, P.KmIters)
      SimilarityOps.mergeIvfIndex(e.filter(expr("vec_id % 5 = 0")), p)
      SimilarityOps.retrainIvfIndex(s, p, P.KmK, P.KmIters)
    }

  /** Stored PQ index taken through the lossy-code churn lifecycle —
    * build on a subset, merge the remainder encoded against the frozen
    * codebooks, then a scheduled REBUILD from the source corpus (PQ
    * codes are lossy, so unlike IVF the rebuild reads the caller's
    * corpus; codebooks + codes republish under one atomic version
    * swap). Its own root; the rebuilt state is bit-identical to a fresh
    * build on the full corpus — the `ann_pq_topk` oracle replay. */
  private def rebuiltPqPath(s: SparkSession, dir: String): String =
    engine.StoredIndexes.ensure("pq_rebuild", dir) { p =>
      val e = Tables.embeddings(s, dir)
      SimilarityOps.buildPqIndex(e.filter(expr("vec_id % 5 != 0")), p,
        P.PqM, P.PqKsub, P.PqIters)
      SimilarityOps.mergePqIndex(e.filter(expr("vec_id % 5 = 0")), p)
      SimilarityOps.rebuildPqIndex(e, p, iters = P.PqIters)
    }

  /** The composite twin: centroids AND codebooks retrain in the
    * rebuild, and all three tables (both control planes + the codes)
    * ride one published version. */
  private def rebuiltIvfPqPath(s: SparkSession, dir: String): String =
    engine.StoredIndexes.ensure("ivfpq_rebuild", dir) { p =>
      val e = Tables.embeddings(s, dir)
      SimilarityOps.buildIvfPqIndex(e.filter(expr("vec_id % 5 != 0")), p,
        P.KmK, P.KmIters, P.PqM, P.PqKsub, P.PqIters)
      SimilarityOps.mergeIvfPqIndex(e.filter(expr("vec_id % 5 = 0")), p)
      SimilarityOps.rebuildIvfPqIndex(e, p, iters = P.KmIters,
        pqIters = P.PqIters)
    }

  private def distinctViewPath(s: SparkSession, dir: String): String =
    engine.StoredIndexes.ensure("distinct_view", dir) { p =>
      val e = ev(s, dir)
      Stats.buildDistinctView(e.filter(col("event_id") % 3 === 0),
        "event_type", "user_id", p)
      Stats.mergeDistinctView(e.filter(col("event_id") % 3 === 1),
        "event_type", "user_id", p, "seed1")
      Stats.mergeDistinctView(e.filter(col("event_id") % 3 === 2),
        "event_type", "user_id", p, "seed2")
    }

  /** Distinct view with a retraction applied — its own root (the
    * deletion must not leak into `distinct_view_users`): built in three
    * absorbs like the live view, then ALL events of users with
    * `user_id % 10 = 7` retract through the exact companion and the
    * `hll` maintenance tick rebuilds the sketches from the netted
    * pairs. Both read paths are then deletion-complete. */
  private def deletedDistinctPath(s: SparkSession, dir: String): String =
    engine.StoredIndexes.ensure("distinct_del", dir) { p =>
      val e = ev(s, dir)
      Stats.buildDistinctView(e.filter(col("event_id") % 3 === 0),
        "event_type", "user_id", p)
      Stats.mergeDistinctView(e.filter(col("event_id") % 3 === 1),
        "event_type", "user_id", p, "seed1")
      Stats.mergeDistinctView(e.filter(col("event_id") % 3 === 2),
        "event_type", "user_id", p, "seed2")
      Stats.retractDistinctView(e.filter(col("user_id") % 10 === 7),
        "event_type", "user_id", p, "purge7")
      engine.Compaction.maintainIndex(s, p, "hll")
      ()
    }

  /** Versioned SCD2 snapshot store with a time-travel purge applied —
    * its own root: v0 = the WM-filtered historical dim, v1 = the full
    * dim, then `purgeKeys` forgets every `user_id % 10 = 3` key from
    * the current version (fresh publish → v2) and both retained
    * historical dirs. */
  private def purgedSnapshotPath(s: SparkSession, dir: String): String =
    engine.StoredIndexes.ensure("scd2_purge", dir) { p =>
      val store = new SnapshotStore(s, s"$p/dim")
      val e0 = ev(s, dir)
      store.publish(dimOf(e0.filter(col(TS) <= expr(s"TIMESTAMP '$WM'"))))
      store.publish(dimOf(e0))
      store.purgeKeys(
        e0.select(col(KEY)).filter(col(KEY) % 10 === 3).distinct(), KEY)
      ()
    }

  /** The same store purged through the QUEUED compliance path — its own
    * root: the erasure keys arrive as THREE queued requests
    * (`user_id % 30 ∈ {3, 13, 23}` ⇔ the `% 10 = 3` slice), ONE
    * [[SnapshotStore.purgeSweep]] folds them into a single
    * retained-window rewrite, and the drained queue's second sweep must
    * be the documented no-op — so the queue verbs sit on the oracle
    * gate, not only on specs. */
  private def queuedPurgePath(s: SparkSession, dir: String): String =
    engine.StoredIndexes.ensure("queue_purge", dir) { p =>
      val store = new SnapshotStore(s, s"$p/dim")
      val e0 = ev(s, dir)
      store.publish(dimOf(e0.filter(col(TS) <= expr(s"TIMESTAMP '$WM'"))))
      store.publish(dimOf(e0))
      Seq(3L, 13L, 23L).foreach { r =>
        store.queuePurgeKeys(
          e0.select(col(KEY)).filter(col(KEY) % 30 === r).distinct(), KEY)
      }
      val rewritten = store.purgeSweep(KEY)
      require(rewritten.toSet == Set(2L, 0L, 1L),
        s"queued sweep must rewrite the whole window exactly once, " +
          s"got $rewritten")
      require(store.purgeSweep(KEY).isEmpty,
        "a drained queue must sweep to a no-op")
      ()
    }

  private def ahashIdxPath(s: SparkSession, dir: String): String =
    engine.StoredIndexes.ensure("ahash_idx", dir) { p =>
      DedupOps.buildHashIndex(
        Multimodal.imageAHash(Multimodal.encodePng(
          Tables.documents(s, dir).filter(expr("doc_id % 4 < 3")))), p)
    }

  private def storedTokenizerPath(s: SparkSession, dir: String): String =
    engine.StoredIndexes.ensure("bpe_tok", dir) { p =>
      TextOps.buildTokenizer(Tables.documents(s, dir), 3, p)
    }

  private def mergedVocabPath(s: SparkSession, dir: String): String =
    engine.StoredIndexes.ensure("vocab_merge", dir) { p =>
      val docs = Tables.documents(s, dir)
      TextOps.buildVocabIndex(docs.filter(expr(Bm25MergeBuildPred)), p)
      TextOps.mergeVocabIndex(docs.filter(!expr(Bm25MergeBuildPred)), p)
    }

  private def mergedBm25Path(s: SparkSession, dir: String): String =
    engine.StoredIndexes.ensure("bm25_merge", dir) { p =>
      val docs = Tables.documents(s, dir)
      TextOps.buildBm25Index(docs.filter(expr(Bm25MergeBuildPred)), p)
      TextOps.mergeBm25Index(docs.filter(!expr(Bm25MergeBuildPred)), p)
    }

  private def mergedPqPath(s: SparkSession, dir: String): String =
    engine.StoredIndexes.ensure("pq_merge", dir) { p =>
      val emb = Tables.embeddings(s, dir)
      SimilarityOps.buildPqIndex(emb.filter(expr(IvfMergeBuildPred)), p,
        P.PqM, P.PqKsub, P.PqIters)
      SimilarityOps.mergePqIndex(emb.filter(!expr(IvfMergeBuildPred)), p)
    }

  /** Fingerprint index with a tombstoned slice for the purge audit —
    * built on the FULL corpus with the corpus-derived adaptive cap (the
    * same [4,32]-clamped p99.9 the containment oracle replays), then
    * doc_id % 13 = 5 tombstoned; pending tombstones left unserved so
    * the audit certifies the logical-delete screen. */
  private def deletedFpPath(s: SparkSession, dir: String): String =
    engine.StoredIndexes.ensure("fp_del", dir) { p =>
      val docs = Tables.documents(s, dir)
      DedupOps.buildFingerprintIndex(docs, p,
        maxDf = TextOps.adaptiveMaxDf(docs))
      DedupOps.tombstoneFingerprintIndex(
        docs.filter(expr("doc_id % 13 = 5")).select("doc_id"), p)
    }

  /** Banded aHash index with a tombstoned slice for the purge audit —
    * same raster subset as `ahash_idx`, its own root (the deletion must
    * not leak into the incremental-screen queries). */
  private def deletedAhashPath(s: SparkSession, dir: String): String =
    engine.StoredIndexes.ensure("ahash_del", dir) { p =>
      val docs = Tables.documents(s, dir).filter(expr("doc_id % 4 < 3"))
      DedupOps.buildHashIndex(
        Multimodal.imageAHash(Multimodal.encodePng(docs)), p)
      DedupOps.tombstoneHashIndex(
        docs.filter(expr("doc_id % 8 = 1")).select("doc_id"), p)
    }

  /** Vocab view with a retracted slice for the purge audit — full-corpus
    * build, then the doc_id % 13 = 5 docs' counts netted out by the CDC
    * DELETE path (negated partials, content-keyed). */
  private def deletedVocabPath(s: SparkSession, dir: String): String =
    engine.StoredIndexes.ensure("vocab_del", dir) { p =>
      val docs = Tables.documents(s, dir)
      TextOps.buildVocabIndex(docs, p)
      TextOps.retractVocabIndex(docs.filter(expr("doc_id % 13 = 5")), p)
    }

  private def dedupIdxPath(s: SparkSession, dir: String): String =
    engine.StoredIndexes.ensure("dedup_idx", dir) { p =>
      // the hot-list cap is derived from (and frozen to) the INDEXED
      // subset's own df histogram — same derivation the oracle replays
      val idxDocs = Tables.documents(s, dir).filter(expr(Bm25MergeBuildPred))
      DedupOps.buildFingerprintIndex(idxDocs, p,
        maxDf = TextOps.adaptiveMaxDf(idxDocs))
    }

  /** The query vector for the stored-index read paths, as exact doubles
    * (float→double widening is exact). */
  private def queryEmbedding(s: org.apache.spark.sql.SparkSession, dir: String,
                             id: Long): Seq[Double] =
    Tables.embeddings(s, dir).filter(col("vec_id") === id)
      .select(SimilarityOps.asDoubleVec(col("embedding")).as("v"))
      .head().getSeq[Double](0).toIndexedSeq

  // ── Shared DuckDB fragments for the north-star oracles ──────────────
  /** Normalized word arrays — mirror of [[TextOps.normWords]]. */
  private val wordsSql =
    """words AS (
      |  SELECT d.*, string_split_regex(trim(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g')), ' +') AS w
      |  FROM documents d)""".stripMargin

  /** Distinct 5-gram shingles — mirror of [[DedupOps.shingleSets]].
    * n=5: with a small vocabulary, 3-grams collide across unrelated docs
    * and the candidate self-join goes quadratic; 5-grams keep random
    * collision odds negligible while near-dups still share most shingles. */
  private val shSql =
    """sh AS (
      |  SELECT DISTINCT doc_id, array_to_string(w[i:i+4], ' ') AS shingle
      |  FROM words, LATERAL unnest(range(1, len(w) - 3)) AS t(i)
      |  WHERE len(w) >= 5)""".stripMargin

  /** In-order list dot product — mirror of [[SimilarityOps.dotExpr]]. */
  private def dotSql(a: String, b: String): String =
    s"list_reduce(list_transform(list_zip($a, $b), p -> p[1] * p[2]), (acc, el) -> acc + el)"

  private def cosSql(a: String, b: String): String =
    s"${dotSql(a, b)} / (sqrt(${dotSql(a, a)}) * sqrt(${dotSql(b, b)}))"

  /** PQ oracle fragments — mirror of [[SimilarityOps.pqTopK]] (m=8
    * subspaces × 8 dims, ksub=16, one Lloyd iteration per codebook): per
    * subspace the same training chain as the k-means oracle, then a
    * query distance table and per-vector code; ADC = left-associated sum
    * of 8 lookups. Shared by the ADC and retrieve+re-rank oracles.
    * `trainPred` restricts the CODEBOOK training corpus (the incremental
    * build/merge scenario: codebooks come from the initially indexed
    * subset, codes cover every vector); None trains on everything. */
  /** Recall-report oracle for the flat-ADC PQ families: the batch PQ
    * training/code/table replay (trained on `trainPred`'s subset when
    * given — the merged-index case) intersected with the exact
    * brute-force cosine top-10 per query. One definition serves the
    * stored and merged variants, so a shape fix (tie-break, rounding,
    * k) lands once. */
  /** `rerank = Some(f)` appends the production two-stage read's replay:
    * the ADC CTE becomes a 10×f shortlist and an exact-cosine rerank
    * (same 6-dp + vec_id discipline as `brute`) takes the top 10 before
    * the intersect — the ann_pq_rerank_recall oracle. None measures the
    * raw ADC retrieval, the pre-r18 shape. */
  private def pqRecallOracleSql(trainPred: Option[String],
                                rerank: Option[Int] = None): String = {
    val (ctes, joins, adcSum, _) =
      pqOracleFragments(trainPred, batchPred = Some(BatchQueryPred))
    val shortK = rerank.map(_ * 10).getOrElse(10)
    val (rrCte, retrieved) = rerank match {
      case None => ("", "pqr")
      case Some(_) => (s""",
         |rr AS (
         |  SELECT q_id, vec_id FROM (
         |    SELECT p.q_id, p.vec_id,
         |           row_number() OVER (PARTITION BY p.q_id
         |             ORDER BY round(${cosSql("e.v", "qr.qv")}, 6) DESC, p.vec_id) AS rn
         |    FROM pqr p JOIN e ON e.vec_id = p.vec_id
         |    JOIN qr ON qr.q_id = p.q_id) WHERE rn <= 10)""".stripMargin,
        "rr")
    }
    s"""$ctes,
       |qr AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE $BatchQueryPred),
       |brute AS (
       |  SELECT q_id, vec_id FROM (
       |    SELECT qr.q_id, e.vec_id,
       |           row_number() OVER (PARTITION BY qr.q_id
       |             ORDER BY round(${cosSql("e.v", "qr.qv")}, 6) DESC, e.vec_id) AS rn
       |    FROM e, qr WHERE e.vec_id <> qr.q_id) WHERE rn <= 10),
       |pqr AS (
       |  SELECT q_id, vec_id FROM (
       |    SELECT t0.q_id, t0.vec_id,
       |           row_number() OVER (PARTITION BY t0.q_id
       |             ORDER BY $adcSum, t0.vec_id) AS rn
       |    FROM ctb_0 t0
       |    $joins
       |    WHERE t0.vec_id <> t0.q_id) WHERE rn <= $shortK)$rrCte,
       |h AS (SELECT b.q_id, count(*) AS n_hits
       |      FROM brute b JOIN $retrieved USING (q_id, vec_id) GROUP BY b.q_id)
       |SELECT qr.q_id, CAST(coalesce(n_hits, 0) AS BIGINT) AS n_hits,
       |       CAST(coalesce(n_hits, 0) AS DOUBLE) / 10 AS recall
       |FROM qr LEFT JOIN h USING (q_id) ORDER BY q_id""".stripMargin
  }

  /** The per-query probed-cell CTE — ONE text shared by the composite
    * recall replay and the `ann_probe_cost` row, so the two oracles can
    * never diverge on the adaptive rule (`rn <= nprobe OR d² ≤ ratio ×
    * min d²`, the same filter `SimilarityOps.probedCells` applies). */
  private def probedBestCte(probeRatio: Option[Double],
                            nprobe: Int = 2): String =
    s"""best AS (
       |  SELECT q_id, cl FROM (
       |    SELECT qb.q_id, c.cl,
       |           row_number() OVER (PARTITION BY qb.q_id
       |             ORDER BY ${dSql("c.cv", "qb.qv")}, c.cl) AS rn,
       |           ${dSql("c.cv", "qb.qv")} AS d,
       |           min(${dSql("c.cv", "qb.qv")}) OVER (PARTITION BY qb.q_id) AS dmin
       |    FROM qb, c2 c)
       |  WHERE rn <= $nprobe${probeRatio.map(r => s" OR d <= $r * dmin").getOrElse("")})"""
      .stripMargin

  /** The composite's twin: the ivfpq batch splice (k-means cell replay
    * + PQ replay, 2 probed cells) ∩ brute top-10 — `trainPred` as
    * [[pqRecallOracleSql]]. */
  private def ivfPqRecallOracleSql(trainPred: Option[String],
                                   rerank: Option[Int] = None,
                                   probeRatio: Option[Double] = None): String = {
    val (_, joins, adcSum, subs) =
      pqOracleFragments(trainPred, batchPred = Some(BatchQueryPred))
    val shortK = rerank.map(_ * 10).getOrElse(10)
    val (rrCte, retrieved) = rerank match {
      case None => ("", "ipq")
      case Some(_) => (s""",
         |rr AS (
         |  SELECT q_id, vec_id FROM (
         |    SELECT p.q_id, p.vec_id,
         |           row_number() OVER (PARTITION BY p.q_id
         |             ORDER BY round(${cosSql("e.v", "qb.qv")}, 6) DESC, p.vec_id) AS rn
         |    FROM ipq p JOIN e ON e.vec_id = p.vec_id
         |    JOIN qb ON qb.q_id = p.q_id) WHERE rn <= 10)""".stripMargin,
        "rr")
    }
    s"""${ivfFinCtes(trainPred, 2)},
       |$subs,
       |qb AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE $BatchQueryPred),
       |${probedBestCte(probeRatio)},
       |brute AS (
       |  SELECT q_id, vec_id FROM (
       |    SELECT qb.q_id, e.vec_id,
       |           row_number() OVER (PARTITION BY qb.q_id
       |             ORDER BY round(${cosSql("e.v", "qb.qv")}, 6) DESC, e.vec_id) AS rn
       |    FROM e, qb WHERE e.vec_id <> qb.q_id) WHERE rn <= 10),
       |ipq AS (
       |  SELECT q_id, vec_id FROM (
       |    SELECT t0.q_id, t0.vec_id,
       |           row_number() OVER (PARTITION BY t0.q_id
       |             ORDER BY $adcSum, t0.vec_id) AS rn
       |    FROM ctb_0 t0
       |    $joins
       |    JOIN fin f ON f.vec_id = t0.vec_id
       |    JOIN best b ON b.q_id = t0.q_id AND b.cl = f.cl
       |    WHERE t0.vec_id <> t0.q_id) WHERE rn <= $shortK)$rrCte,
       |h AS (SELECT b.q_id, count(*) AS n_hits
       |      FROM brute b JOIN $retrieved USING (q_id, vec_id) GROUP BY b.q_id)
       |SELECT qb.q_id, CAST(coalesce(n_hits, 0) AS BIGINT) AS n_hits,
       |       CAST(coalesce(n_hits, 0) AS DOUBLE) / 10 AS recall
       |FROM qb LEFT JOIN h USING (q_id) ORDER BY q_id""".stripMargin
  }

  /** `batchPred` switches the query side from the single vec_id=0 vector
    * to a per-query distance table keyed by `q_id` (the batch-probe
    * oracle); the training/code CTEs are identical either way. */
  private def pqOracleFragments(trainPred: Option[String],
                                batchPred: Option[String] = None) = {
    // geometry mirrors SparkEntry.P — the committed dial and its replay
    // can never drift apart
    val m = P.PqM; val ksub = P.PqKsub; val iters = P.PqIters
    val subDim = 64 / m
    def sub(s: Int): String = {
      val lo = s * subDim + 1; val hi = (s + 1) * subDim
      val (trainSrc, trainCte) = trainPred match {
        case None    => (s"e$s", "")
        case Some(p) => (s"et$s", s",\net$s AS (SELECT * FROM e$s WHERE $p)")
      }
      val cb = s"c${iters}_$s" // final codebook of the Lloyd unroll
      val (qCte, tblCte) = batchPred match {
        case None =>
          (s"q_$s AS (SELECT v[$lo:$hi] AS qv FROM e WHERE vec_id = 0)",
            s"tbl_$s AS (SELECT cl, ${dSql("cv", "qv")} AS d FROM $cb, q_$s)")
        case Some(p) =>
          (s"q_$s AS (SELECT vec_id AS q_id, v[$lo:$hi] AS qv FROM e WHERE $p)",
            s"tbl_$s AS (SELECT q_id, cl, ${dSql("cv", "qv")} AS d FROM $cb, q_$s)")
      }
      // batch mode appends one CONTRIBUTION table per subspace —
      // (vec_id, q_id, d), |codes|×|queries| rows — so the final ADC
      // never joins the eight per-query distance tables directly: the
      // tbl_$s tables are all joinable on q_id alone, and a planner
      // that pairs them before the code tables constrain cl builds a
      // ksub^8 intermediate (observed: DuckDB ground >60 s on it); ctb
      // joins can never exceed |codes|×|queries| regardless of order.
      val ctbCte = batchPred match {
        case None => ""
        case Some(_) =>
          s""",
             |ctb_$s AS (
             |  SELECT c.vec_id, t.q_id, t.d FROM code_$s c
             |  JOIN tbl_$s t ON t.cl = c.c$s)""".stripMargin
      }
      // one Lloyd round: assign → per-dim DECIMAL mean → next codebook
      // (empty cluster keeps its previous centroid) — the same unroll
      // shape as ivfFinCtes, per subspace
      def iterCte(t: Int): String =
        s"""a${t}_$s AS (
           |  SELECT vec_id, v, cl FROM (
           |    SELECT $trainSrc.vec_id, $trainSrc.v, c.cl,
           |           row_number() OVER (PARTITION BY $trainSrc.vec_id
           |             ORDER BY ${dSql(s"$trainSrc.v", "c.cv")}, c.cl) AS rn
           |    FROM $trainSrc, c${t - 1}_$s c) WHERE rn = 1),
           |s${t}_$s AS (
           |  SELECT cl, i, CAST(sum(CAST(v[i] AS DECIMAL(30,9))) AS DOUBLE) / count(*) AS mm
           |  FROM a${t}_$s, LATERAL unnest(range(1, ${subDim + 1})) AS ts${t}x$s(i) GROUP BY cl, i),
           |p${t}_$s AS (SELECT cl, i, cv[i] AS pv FROM c${t - 1}_$s, LATERAL unnest(range(1, ${subDim + 1})) AS tp${t}x$s(i)),
           |c${t}_$s AS (
           |  SELECT cl, list(coalesce(mm, pv) ORDER BY i) AS cv
           |  FROM p${t}_$s LEFT JOIN s${t}_$s USING (cl, i) GROUP BY cl)""".stripMargin
      s"""e$s AS (SELECT vec_id, v[$lo:$hi] AS v FROM e)$trainCte,
         |c0_$s AS (
         |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cl, v AS cv
         |  FROM $trainSrc ORDER BY vec_id LIMIT $ksub),
         |${(1 to iters).map(iterCte).mkString(",\n")},
         |$qCte,
         |$tblCte,
         |code_$s AS (
         |  SELECT vec_id, cl AS c$s FROM (
         |    SELECT e$s.vec_id, c.cl,
         |           row_number() OVER (PARTITION BY e$s.vec_id
         |             ORDER BY ${dSql(s"e$s.v", "c.cv")}, c.cl) AS rn
         |    FROM e$s, c${iters}_$s c) WHERE rn = 1)$ctbCte""".stripMargin
    }
    // subs exposed WITHOUT the `WITH e` prolog so a composite oracle
    // (the IVF-PQ read) can splice them after its own CTE chain
    val subs = (0 until m).map(sub).mkString(",\n")
    val ctes =
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |$subs""".stripMargin
    // batch mode drives FROM ctb_0 (aliased t0), so its joins start at 1
    val joins = (batchPred match {
      case None => (0 until m)
        .map(s => s"JOIN code_$s USING (vec_id) JOIN tbl_$s t$s ON c$s = t$s.cl")
      case Some(_) => (1 until m)
        .map(s => s"JOIN ctb_$s t$s ON t$s.vec_id = t0.vec_id AND t$s.q_id = t0.q_id")
    }).mkString("\n")
    val adcSum = (0 until m).map(s => s"t$s.d").mkString(" + ")
    (ctes, joins, adcSum, subs)
  }

  private val (pqCtesSql, pqJoinsSql, pqAdcSumSql, pqSubCtesSql) =
    pqOracleFragments(None)

  /** Winnowed fingerprint sets — mirror of [[TextOps.winnowFps]] (k=8,
    * w=4): base-257 polynomial k-gram hash mod 2^40 (DuckDB
    * `list_reduce` has no init, so its fold starts at the first char
    * code — identical to the 0-seeded fold since (0·257 + c) = c),
    * window-min of 4, sorted-distinct. */
  private val winnowFpSql =
    """fp AS (
      |  SELECT doc_id,
      |         list_sort(list_distinct([list_min(hs[j:j+3]) for j in range(1, len(hs) - 2)])) AS fps
      |  FROM (
      |    SELECT doc_id,
      |           [list_reduce(cs[i:i+7], (acc, c) -> ((acc * 257) + c) & 1099511627775) for i in range(1, len(cs) - 6)] AS hs
      |    FROM (
      |      SELECT doc_id, [CAST(ascii(substr(s, i, 1)) AS BIGINT) for i in range(1, length(s) + 1)] AS cs
      |      FROM (SELECT doc_id, regexp_replace(lower(text), '[^a-z0-9]', '', 'g') AS s
      |            FROM documents)
      |      WHERE length(s) >= 11)))""".stripMargin

  /** Unrolled Lloyd's-iteration oracle mirroring
    * [[SimilarityOps.kmeansCentroids]]: same init (8 lowest vec_ids of
    * the TRAINING set), same left-fold squared-L2, same DECIMAL(30,9)
    * mean accumulation, same lowest-cluster tie-break, same empty-cluster
    * fallback (coalesce to the previous centroid). `trainPred` restricts
    * the training corpus (the incremental build/merge scenario: centroids
    * come from the initially indexed subset, assignments cover every
    * vector); None trains on the full corpus. */
  /** DuckDB squared-L2 — mirror of the `graft_l2sq` fold. */
  private def dSql(a: String, b: String) =
    s"list_reduce(list_transform(list_zip($a, $b), p -> (p[1] - p[2]) * (p[1] - p[2])), (acc, el) -> acc + el)"

  /** The BPE training CTE chain shared by the `bpe_train` and
    * `bpe_encode_stats` oracles: vocab word counts, char symbol arrays
    * (`v0`), then per rule r: pair counts `c$r`, argmax `r$r`
    * (cnt desc, a, b — the engine's tie-break), merged symbols `v$r`
    * via the list-wrapped fold. `keepWord` threads the word column
    * through the folds for the encode join. Assumes the corpus yields
    * at least `rules` merges (the trainer itself early-stops; a corpus
    * that exhausts sooner would need the shorter unroll). */
  private def bpeChainSql(rules: Int, keepWord: Boolean): String = {
    val wcol = if (keepWord) "word, " else ""
    def iter(r: Int): String = {
      val prev = s"v${r - 1}"
      s"""c$r AS (SELECT syms[i] AS a, syms[i + 1] AS b, sum(tf) AS cnt
         |        FROM $prev, LATERAL unnest(range(1, len(syms))) AS tc$r(i)
         |        WHERE len(syms) >= 2 GROUP BY a, b),
         |r$r AS (SELECT $r AS rule_no, a, b, cnt FROM c$r
         |        ORDER BY cnt DESC, a, b LIMIT 1),
         |v$r AS (SELECT ${wcol}tf, list_reduce(list_transform(syms, s -> [s]),
         |          (acc, x) -> CASE WHEN acc[-1] = a AND x[1] = b
         |                           THEN list_append(acc[:-2], acc[-1] || x[1])
         |                           ELSE list_append(acc, x[1]) END) AS syms
         |        FROM $prev, r$r)""".stripMargin
    }
    s"""$wordsSql,
       |tok AS (SELECT doc_id, unnest(w) AS word FROM words),
       |vocab AS (SELECT word, count(*) AS tf FROM tok
       |          WHERE word <> '' GROUP BY word),
       |v0 AS (SELECT $wcol[substr(word, i, 1) for i in range(1, length(word) + 1)] AS syms, tf
       |       FROM vocab),
       |${(1 to rules).map(iter).mkString(",\n")}""".stripMargin
  }

  /** The k-means training + final-assignment CTE chain shared by every
    * IVF oracle: replays [[SimilarityOps.kmeansCentroids]] exactly
    * (first-8 seed, `iters` Lloyd rounds, DECIMAL mean accumulation) and
    * ends with `fin` (vec_id, v, cl) plus the final centroid table
    * `c$iters`. `trainPred` limits TRAINING to a subset (the merged-
    * index scenario) while `fin` still assigns every vector. */
  private def ivfFinCtes(trainPred: Option[String], iters: Int = 2): String = {
    val (src, trainCte) = trainPred match {
      case None    => ("e", "")
      case Some(p) => ("et", s",\net AS (SELECT * FROM e WHERE $p)")
    }
    def iterCte(t: Int): String =
      s"""a$t AS (
         |  SELECT vec_id, v, cl FROM (
         |    SELECT $src.vec_id, $src.v, c.cl,
         |           row_number() OVER (PARTITION BY $src.vec_id
         |             ORDER BY ${dSql(s"$src.v", "c.cv")}, c.cl) AS rn
         |    FROM $src, c${t - 1} c) WHERE rn = 1),
         |s$t AS (
         |  SELECT cl, i, CAST(sum(CAST(v[i] AS DECIMAL(30,9))) AS DOUBLE) / count(*) AS m
         |  FROM a$t, LATERAL unnest(range(1, 65)) AS ts$t(i) GROUP BY cl, i),
         |p$t AS (SELECT cl, i, cv[i] AS pv FROM c${t - 1}, LATERAL unnest(range(1, 65)) AS tp$t(i)),
         |c$t AS (
         |  SELECT cl, list(coalesce(m, pv) ORDER BY i) AS cv
         |  FROM p$t LEFT JOIN s$t USING (cl, i) GROUP BY cl)""".stripMargin
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)$trainCte,
       |c0 AS (
       |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cl, v AS cv
       |  FROM $src ORDER BY vec_id LIMIT 8),
       |${(1 to iters).map(iterCte).mkString(",\n")},
       |fin AS (
       |  SELECT vec_id, v, cl FROM (
       |    SELECT e.vec_id, e.v, c.cl,
       |           row_number() OVER (PARTITION BY e.vec_id
       |             ORDER BY ${dSql("e.v", "c.cv")}, c.cl) AS rn
       |    FROM e, c$iters c) WHERE rn = 1)""".stripMargin
  }

  private def ivfKmeansOracleSql(trainPred: Option[String],
                                 delPred: Option[String] = None): String = {
    val iters = 2
    // delPred models a tombstoned-id set: deletion screens the
    // ASSIGNMENT scan only — centroids stay frozen at build time and the
    // probed cell is chosen against them, exactly as the stored probe
    val del = delPred.map(p => s" AND NOT ($p)").getOrElse("")
    s"""${ivfFinCtes(trainPred, iters)},
       |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
       |best AS (
       |  SELECT cl FROM c$iters, q
       |  ORDER BY ${dSql("cv", "qv")}, cl LIMIT 1)
       |SELECT f.vec_id, CAST(f.cl AS BIGINT) AS cluster,
       |       round(${cosSql("f.v", "qv")}, 6) AS cosine
       |FROM fin f JOIN best USING (cl), q
       |WHERE f.vec_id <> 0$del
       |ORDER BY cosine DESC, vec_id LIMIT 10""".stripMargin
  }

  /** SemDeDup oracle — replays the identical k-means ([[ivfFinCtes]]),
    * the 6-dp-rounded centroid-similarity rank, and the declarative
    * upper-triangle drop rule of [[SimilarityOps.semDedup]]: b drops
    * iff some a with (cent_cosine, vec_id) rank before it is within
    * the cosine threshold. */
  private def semdedupOracleSql: String = {
    val iters = 2
    s"""${ivfFinCtes(None, iters)},
       |asg AS (
       |  SELECT f.vec_id, f.cl, f.v,
       |         round(${cosSql("f.v", "c.cv")}, 6) AS cent_cosine
       |  FROM fin f JOIN c$iters c ON f.cl = c.cl),
       |drops AS (
       |  SELECT DISTINCT b.vec_id
       |  FROM asg a JOIN asg b ON a.cl = b.cl AND a.vec_id <> b.vec_id
       |  WHERE round(${cosSql("a.v", "b.v")}, 6) >= CAST(${P.SemT} AS DOUBLE)
       |    AND (a.cent_cosine < b.cent_cosine OR
       |         (a.cent_cosine = b.cent_cosine AND a.vec_id < b.vec_id)))
       |SELECT g.vec_id, CAST(g.cl AS BIGINT) AS cluster, g.cent_cosine,
       |       (d.vec_id IS NULL) AS kept
       |FROM asg g LEFT JOIN drops d ON g.vec_id = d.vec_id
       |ORDER BY g.vec_id""".stripMargin
  }

  /** The BM25 batch-replay CTE chain (`tok` … `lscored`, scored over
    * every candidate doc) — ONE text shared by the standalone
    * `text_bm25_batch_topk` oracle and the hybrid fusion oracle, so
    * the twin replays can never drift on the scoring math
    * ([[bm25QueryTerms]] is the Spark-side twin of the `qcnt`/`lq`
    * workload derivation). Expects `words` to be defined; `qPred`
    * selects the query docs inside `qcnt`. */
  private def bm25BatchScoredCtes(qPred: String): String =
    s"""tok AS (SELECT doc_id, unnest(w) AS term FROM words),
       |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
       |dl AS (SELECT doc_id, len(w) AS dl FROM words),
       |stats AS (SELECT count(*) AS n_docs,
       |                 CAST(sum(len(w)) AS BIGINT) AS sum_dl FROM words),
       |lex AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
       |qcnt AS (
       |  SELECT doc_id AS q_id, term, count(*) AS cnt
       |  FROM tok WHERE ($qPred) AND len(term) >= 5
       |  GROUP BY 1, 2),
       |lq AS (
       |  SELECT q_id, term FROM (
       |    SELECT q_id, term,
       |           row_number() OVER (PARTITION BY q_id
       |             ORDER BY cnt DESC, term) AS rn
       |    FROM qcnt)
       |  WHERE rn <= 3),
       |lscored AS (
       |  SELECT lq.q_id, p.doc_id,
       |         round(list_sum(list(
       |           (CAST(s.n_docs AS DOUBLE) - CAST(l.df AS DOUBLE) + 0.5) / (CAST(l.df AS DOUBLE) + 0.5)
       |             * ((CAST(p.tf AS DOUBLE) * 2.2) / (CAST(p.tf AS DOUBLE)
       |                  + 1.2 * (0.25 + 0.75 * (CAST(dl.dl AS DOUBLE) / (CAST(s.sum_dl AS DOUBLE) / CAST(s.n_docs AS DOUBLE))))))
       |           ORDER BY lq.term)), 6) AS bm25
       |  FROM lq
       |  JOIN tf p ON p.term = lq.term
       |  JOIN dl ON dl.doc_id = p.doc_id
       |  JOIN lex l ON l.term = lq.term
       |  CROSS JOIN stats s
       |  GROUP BY lq.q_id, p.doc_id)""".stripMargin

  /** Hybrid-RRF CTE chain (shared by the topk row and its recall
    * gate): the BM25 batch replay and the IVF batch replay (the same
    * CTE chains as their standalone rows, restricted to the
    * docs-with-embeddings query sample), each ranked top-10 with self
    * excluded — the vector arm under the ADAPTIVE multi-probe (nprobe
    * floor 1 + the P.ProbeRatio rule, the same shared `best` CTE as
    * `ann_probe_cost`) — then fused by Σ 1/(60+rank) with the fused
    * top-10 in `ftop` — 6-dp round + doc_id tie-break, mirror of
    * [[SimilarityOps.rrfFuse]]. */
  private def hybridRrfCtes: String = {
    val iters = 2
    s"""${ivfFinCtes(None, iters)},
       |$wordsSql,
       |qsel AS (
       |  SELECT doc_id AS q_id FROM documents
       |  WHERE $BmBatchPred AND doc_id IN (SELECT vec_id FROM embeddings)),
       |${bm25BatchScoredCtes("doc_id IN (SELECT q_id FROM qsel)")},
       |lexr AS (
       |  SELECT q_id, doc_id, rn AS rk FROM (
       |    SELECT q_id, doc_id,
       |           row_number() OVER (PARTITION BY q_id
       |             ORDER BY bm25 DESC, doc_id) AS rn
       |    FROM lscored WHERE doc_id <> q_id)
       |  WHERE rn <= 10),
       |qb AS (SELECT vec_id AS q_id, v AS qv FROM e
       |       WHERE vec_id IN (SELECT q_id FROM qsel)),
       |${probedBestCte(Some(P.ProbeRatio), nprobe = 1)},
       |vscored AS (
       |  SELECT b.q_id, f.vec_id AS doc_id,
       |         round(${cosSql("f.v", "qb.qv")}, 6) AS cosine
       |  FROM fin f JOIN best b USING (cl)
       |  JOIN qb ON qb.q_id = b.q_id
       |  WHERE f.vec_id <> b.q_id),
       |vecr AS (
       |  SELECT q_id, doc_id, rn AS rk FROM (
       |    SELECT q_id, doc_id,
       |           row_number() OVER (PARTITION BY q_id
       |             ORDER BY cosine DESC, doc_id) AS rn
       |    FROM vscored)
       |  WHERE rn <= 10),
       |fused AS (
       |  SELECT q_id, doc_id,
       |         round(sum(1.0 / (60.0 + CAST(rk AS DOUBLE))), 6) AS rrf
       |  FROM (SELECT * FROM lexr UNION ALL SELECT * FROM vecr)
       |  GROUP BY 1, 2),
       |ftop AS (
       |  SELECT q_id, doc_id, rrf FROM (
       |    SELECT q_id, doc_id, rrf,
       |           row_number() OVER (PARTITION BY q_id
       |             ORDER BY rrf DESC, doc_id) AS rn
       |    FROM fused)
       |  WHERE rn <= 10)""".stripMargin
  }

  private def hybridRrfOracleSql: String =
    s"""$hybridRrfCtes
       |SELECT q_id, doc_id, rrf FROM ftop
       |ORDER BY q_id, rrf DESC, doc_id""".stripMargin

  /** The fused ranking ∩ brute-force cosine top-10 per query — the
    * recall gate's replay ([[SimilarityOps.recallOf]] evaluator shape:
    * q_id, n_hits, recall). */
  private def hybridRrfRecallOracleSql: String =
    s"""$hybridRrfCtes,
       |brute AS (
       |  SELECT q_id, vec_id FROM (
       |    SELECT qb.q_id, e.vec_id,
       |           row_number() OVER (PARTITION BY qb.q_id
       |             ORDER BY round(${cosSql("e.v", "qb.qv")}, 6) DESC, e.vec_id) AS rn
       |    FROM e, qb WHERE e.vec_id <> qb.q_id) WHERE rn <= 10),
       |h AS (SELECT b.q_id, count(*) AS n_hits
       |      FROM brute b JOIN ftop f ON f.q_id = b.q_id
       |        AND f.doc_id = b.vec_id GROUP BY b.q_id)
       |SELECT qb.q_id, CAST(coalesce(n_hits, 0) AS BIGINT) AS n_hits,
       |       CAST(coalesce(n_hits, 0) AS DOUBLE) / 10 AS recall
       |FROM qb LEFT JOIN h USING (q_id) ORDER BY q_id""".stripMargin

  /** The stored plain-IVF batch read under the adaptive multi-probe
    * (nprobe floor 1, P.ProbeRatio), top-10 exact cosine inside probed
    * cells, ∩ brute — the `ann_ivf_adaptive_recall` replay. */
  private def ivfAdaptiveRecallOracleSql: String =
    s"""${ivfFinCtes(None, 2)},
       |qb AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE $BatchQueryPred),
       |${probedBestCte(Some(P.ProbeRatio), nprobe = 1)},
       |ivfr AS (
       |  SELECT q_id, vec_id FROM (
       |    SELECT b.q_id, f.vec_id,
       |           row_number() OVER (PARTITION BY b.q_id
       |             ORDER BY round(${cosSql("f.v", "qb.qv")}, 6) DESC, f.vec_id) AS rn
       |    FROM fin f JOIN best b USING (cl)
       |    JOIN qb ON qb.q_id = b.q_id
       |    WHERE f.vec_id <> b.q_id) WHERE rn <= 10),
       |brute AS (
       |  SELECT q_id, vec_id FROM (
       |    SELECT qb.q_id, e.vec_id,
       |           row_number() OVER (PARTITION BY qb.q_id
       |             ORDER BY round(${cosSql("e.v", "qb.qv")}, 6) DESC, e.vec_id) AS rn
       |    FROM e, qb WHERE e.vec_id <> qb.q_id) WHERE rn <= 10),
       |h AS (SELECT b.q_id, count(*) AS n_hits
       |      FROM brute b JOIN ivfr USING (q_id, vec_id) GROUP BY b.q_id)
       |SELECT qb.q_id, CAST(coalesce(n_hits, 0) AS BIGINT) AS n_hits,
       |       CAST(coalesce(n_hits, 0) AS DOUBLE) / 10 AS recall
       |FROM qb LEFT JOIN h USING (q_id) ORDER BY q_id""".stripMargin

  /** Oracle for the batch probe: each query (`vec_id % 97 = 0`) ranks
    * the final centroids for its nearest cell (nprobe=1), joins the
    * full assignment to its cell, cosine top-5 per query — the same
    * math as [[SimilarityOps.queryIvfIndexBatch]] over the stored
    * index built on the full corpus. */
  private def ivfBatchOracleSql: String = {
    val iters = 2
    s"""${ivfFinCtes(None, iters)},
       |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE $BatchQueryPred),
       |best AS (
       |  SELECT q_id, qv, cl FROM (
       |    SELECT q.q_id, q.qv, c.cl,
       |           row_number() OVER (PARTITION BY q.q_id
       |             ORDER BY ${dSql("c.cv", "q.qv")}, c.cl) AS rn
       |    FROM q, c$iters c) WHERE rn = 1),
       |scored AS (
       |  SELECT b.q_id, f.vec_id, CAST(f.cl AS BIGINT) AS cluster,
       |         round(${cosSql("f.v", "b.qv")}, 6) AS cosine
       |  FROM fin f JOIN best b USING (cl)
       |  WHERE f.vec_id <> b.q_id)
       |SELECT q_id, vec_id, cluster, cosine FROM (
       |  SELECT *, row_number() OVER (PARTITION BY q_id
       |            ORDER BY cosine DESC, vec_id) AS rn
       |  FROM scored) WHERE rn <= 5
       |ORDER BY q_id, cosine DESC, vec_id""".stripMargin
  }

  /** Per-plane sign-bit expressions of the hyperplane LSH — mirror of
    * [[SimilarityOps.planeSigns]]/[[SimilarityOps.lshSignature]]. */
  private def lshBitsSql(planes: Int, offset: Int = 0): Seq[String] =
    (offset until offset + planes).map { p =>
      val signs = s"[CASE WHEN substr(md5('${p}_' || CAST(j AS VARCHAR)), 1, 1) > '7' THEN CAST(1.0 AS DOUBLE) ELSE CAST(-1.0 AS DOUBLE) END for j in range(0, 64)]"
      s"CASE WHEN list_reduce(list_transform(list_zip(v, $signs), p2 -> p2[1] * p2[2]), (acc, el) -> acc + el) >= 0 THEN '1' ELSE '0' END"
    }

  /** Shared LSH near-dup pair derivation over embeddings (CTEs `e`,
    * `s`, `pairs` — pairs carries the verified 6-dp-rounded cosine):
    * 2 OR-ed 8-plane signature tables, exact-cosine verify at ≥ 0.3.
    * Mirror of [[SimilarityOps.lshNearDupPairs]] with the `P.Emb*`
    * constants inlined; shared by the three embedding-dedup oracles. */
  /** The curation-report oracle body as a reusable CTE chain ending in
    * `report` — shared by the per-doc report and the funnel aggregate. */
  private def curationReportCteSql: String =
    s"""$wordsSql,
       |fpm AS (SELECT doc_id,
       |               md5(array_to_string(list_sort(list_distinct(w)), ' ')) AS fpr
       |        FROM words),
       |canon AS (SELECT doc_id,
       |                 doc_id = min(doc_id) OVER (PARTITION BY fpr) AS is_canonical
       |          FROM fpm),
       |${qualityScoredSql("qbase", "scored")},
       |qcut AS (SELECT quantile_cont(quality_score, 0.5) AS c FROM scored),
       |$winnowFpSql,
       |wex AS (SELECT doc_id, t.fp AS fp, ${keyHashSql("doc_id")} % 100 AS h
       |        FROM fp, LATERAL unnest(fps) AS t(fp)),
       |wdfc AS (SELECT fp, count(*) AS d FROM wex GROUP BY fp),
       |wcap AS (SELECT least(32, greatest(4, CAST(trunc(quantile_cont(d, 0.999)) AS BIGINT))) AS c FROM wdfc),
       |wkeep AS (SELECT fp FROM wdfc WHERE d <= (SELECT c FROM wcap)),
       |wtr AS (SELECT doc_id, fp FROM wex JOIN wkeep USING (fp) WHERE h < 90),
       |wte AS (SELECT doc_id AS tdoc, fp FROM wex JOIN wkeep USING (fp) WHERE h >= 90),
       |wsizes AS (SELECT doc_id, count(*) AS n_fps FROM wtr GROUP BY doc_id),
       |whits AS (
       |  SELECT wtr.doc_id, count(DISTINCT wtr.fp) AS n_shared_fps
       |  FROM wtr JOIN wte ON wtr.fp = wte.fp
       |  GROUP BY wtr.doc_id),
       |contam AS (
       |  SELECT doc_id, TRUE AS contaminated
       |  FROM whits JOIN wsizes USING (doc_id)
       |  WHERE CAST(n_shared_fps AS DOUBLE) / n_fps >= 0.2),
       |tper AS (SELECT lang, CAST(sum(len(w)) AS BIGINT) AS nt
       |         FROM words GROUP BY lang),
       |tr8 AS (SELECT lang,
       |               sqrt(CAST((SELECT min(nt) FROM tper) AS DOUBLE) /
       |                    CAST(nt AS DOUBLE)) AS rate
       |        FROM tper),
       |report AS (
       |  SELECT d.doc_id, d.lang,
       |         CASE WHEN ${keyHashSql("d.doc_id")} % 100 < 80 THEN 'train'
       |              WHEN ${keyHashSql("d.doc_id")} % 100 < 90 THEN 'valid'
       |              ELSE 'test' END AS split,
       |         canon.is_canonical,
       |         coalesce(scored.quality_score >= qcut.c, FALSE) AS quality_ok,
       |         coalesce(contam.contaminated, FALSE) AS contaminated,
       |         ${keyHashSql("d.doc_id")} % 1000000 <
       |           CAST(floor(tr8.rate * 1000000) AS BIGINT) AS temp_keep,
       |         canon.is_canonical
       |           AND coalesce(scored.quality_score >= qcut.c, FALSE)
       |           AND NOT coalesce(contam.contaminated, FALSE)
       |           AND ${keyHashSql("d.doc_id")} % 1000000 <
       |                 CAST(floor(tr8.rate * 1000000) AS BIGINT)
       |           AND ${keyHashSql("d.doc_id")} % 100 < 80 AS keep
       |  FROM documents d
       |  JOIN canon ON d.doc_id = canon.doc_id
       |  JOIN scored ON d.doc_id = scored.doc_id
       |  LEFT JOIN contam ON d.doc_id = contam.doc_id
       |  JOIN tr8 ON d.lang IS NOT DISTINCT FROM tr8.lang
       |  CROSS JOIN qcut)""".stripMargin

  private def embPairsSql: String =
    s"""e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |s AS (SELECT vec_id, v,
       |             concat(${lshBitsSql(8).mkString(", ")}) AS sig0,
       |             concat(${lshBitsSql(8, offset = 8).mkString(", ")}) AS sig1
       |      FROM e),
       |pairs AS (
       |  SELECT DISTINCT vec_a, vec_b, cosine FROM (
       |    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       |           round(${cosSql("a.v", "b.v")}, 6) AS cosine
       |    FROM s a JOIN s b
       |      ON (a.sig0 = b.sig0 OR a.sig1 = b.sig1) AND a.vec_id < b.vec_id)
       |  WHERE cosine >= 0.3)""".stripMargin

  /** The undirected-reachability min-label walk over `pairs` (CTEs
    * `edges`, `walk`) — the oracle's replay of
    * [[DedupOps.dupGroups]]'s pointer-doubling label propagation.
    * Requires a `WITH RECURSIVE` prologue and the [[embPairsSql]] (or an
    * equivalent `pairs`/`e`) chain before it. */
  private val dupWalkSql =
    """edges AS (
      |  SELECT vec_a AS u, vec_b AS v FROM pairs
      |  UNION ALL SELECT vec_b, vec_a FROM pairs),
      |walk(u, l) AS (
      |  SELECT vec_id, vec_id FROM e
      |  UNION
      |  SELECT ed.u, w.l FROM edges ed JOIN walk w ON w.u = ed.v)""".stripMargin

  /** 40-bit md5-prefix key hash — mirror of [[SamplingOps.keyHash]]. */
  private def keyHashSql(c: String): String =
    s"CAST(('0x' || substr(md5(CAST($c AS VARCHAR)), 1, 10)) AS BIGINT)"

  private val stopListSql = "('the', 'a', 'of', 'and', 'to', 'in', 'is', 'it')"

  /** The quality-score CTE pair (token stats + composite score), shared
    * by every oracle that scores document quality; `b`/`s` name the two
    * CTEs so each query keeps its local naming. Consumers project the
    * columns they need — extra CTE columns are pruned. */
  private def qualityScoredSql(b: String, s: String): String =
    s"""$b AS (
       |  SELECT doc_id, len(w) AS n_tokens,
       |         list_sum(list_transform(w, x -> length(x))) AS sum_len,
       |         len(list_filter(w, x -> x IN $stopListSql)) AS n_stop
       |  FROM words),
       |$s AS (
       |  SELECT doc_id, n_tokens, sum_len, n_stop,
       |         least(1.0, n_tokens / 50.0) * 0.5
       |           + (CAST(n_stop AS DOUBLE) / n_tokens) * 0.3
       |           + least(1.0, (CAST(sum_len AS DOUBLE) / n_tokens) / 8.0) * 0.2 AS quality_score
       |  FROM $b)""".stripMargin

  private val jaccardTailSql =
    """sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id)
      |SELECT doc_a, doc_b, i, CAST(i AS DOUBLE) / (sa.n + sb.n - i) AS jaccard
      |FROM inter JOIN sizes sa ON doc_a = sa.doc_id
      |           JOIN sizes sb ON doc_b = sb.doc_id
      |WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.8
      |ORDER BY doc_a, doc_b""".stripMargin

  /** The MinHash+LSH candidate chain (shl → … → inter) shared by the
    * pair oracle and the dup-group oracle — mirror of
    * [[DedupOps.minhashLshPairs]] up to candidate verification. */
  private val minhashChainSql =
    """shl AS (SELECT doc_id, list(shingle) AS shs FROM sh GROUP BY doc_id),
      |hashed AS (
      |  SELECT doc_id,
      |         list_transform(shs, sgl -> CAST(('0x' || substr(md5(sgl), 1, 10)) AS BIGINT)) AS a1,
      |         list_transform(shs, sgl -> CAST(('0x' || substr(md5(sgl), 11, 10)) AS BIGINT)) AS a2
      |  FROM shl),
      |sig AS (
      |  SELECT doc_id,
      |         [list_min(list_transform(list_zip(a1, a2), p -> p[1] + i * p[2])) for i in range(0, 8)] AS s
      |  FROM hashed),
      |bands AS (
      |  SELECT doc_id, b, md5(CAST(s[2*b + 1] AS VARCHAR) || '_' || CAST(s[2*b + 2] AS VARCHAR)) AS bh
      |  FROM sig, LATERAL unnest(range(0, 4)) AS t(b)),
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM bands a JOIN bands b ON a.b = b.b AND a.bh = b.bh AND a.doc_id < b.doc_id),
      |inter AS (
      |  SELECT c.doc_a, c.doc_b, count(*) AS i
      |  FROM cand c
      |  JOIN sh a ON a.doc_id = c.doc_a
      |  JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
      |  GROUP BY 1, 2)""".stripMargin

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = {
    val m = oracleSqlOverlay
    // from-view trainer: bit-identical to the inline trainer (the view
    // covers the corpus), so it shares bpe_train's oracle — resolved
    // AFTER the overlay map exists since both live there
    m + ("bpe_train_from_view" -> m("bpe_train"))
  }

  private def oracleSqlOverlay: Map[String, String] = oracleSqlBase ++ Map(
    // the queued sweep lands the identical end state (the %30 residues
    // union to the same %10=3 slice), so it shares the replay
    "purge_queue_sweep" -> oracleSqlBase("scd2_purge_versions"),

    // the stored-index read paths replay their inline twins bit-for-bit
    // (same training, same scoring folds), so they share oracles
    "ann_ivf_stored_topk" -> oracleSqlBase("ann_ivf_kmeans_topk"),
    "ann_pq_stored_topk" -> oracleSqlBase("ann_pq_topk"),
    "ann_ivfpq_stored_topk" -> oracleSqlBase("ann_ivfpq_topk"),
    // build-subset → merge → rebuild-from-source ≡ fresh full-corpus
    // training (per-subspace k-means is deterministic on the set), so
    // each rebuilt probe shares its inline twin's training replay
    "ann_pq_rebuilt_topk" -> oracleSqlBase("ann_pq_topk"),
    "ann_ivfpq_rebuilt_topk" -> oracleSqlBase("ann_ivfpq_topk"),
    // the rebuilt recall reports share the stored ones' replays for the
    // same fresh-build-parity reason — recall drift across a rebuild
    // therefore hash-mismatches instead of hiding
    "ann_pq_rebuilt_recall" -> oracleSqlBase("ann_pq_recall"),
    "ann_ivfpq_rebuilt_recall" -> oracleSqlBase("ann_ivfpq_recall"),

    // right-to-be-forgotten read paths: the stored index AFTER a
    // deletion — the ANN probe screens its tombstones (centroids stay
    // frozen, only the assignment scan loses the deleted ids), the BM25
    // retraction adjusts tf/df/dl/n_docs exactly, so each oracle is the
    // REBUILD on the remaining corpus
    "ann_ivf_deleted_topk" ->
      ivfKmeansOracleSql(None, delPred = Some("vec_id % 7 = 3")),
    // build-subset → merge → retrain ≡ fresh full-corpus training
    // (deterministic k-means over the set), so the oracle is the same
    // unrolled-CTE replay the inline trained probe uses
    "ann_ivf_retrained_topk" -> oracleSqlBase("ann_ivf_kmeans_topk"),
    "text_bm25_retract_topk" -> bm25OracleSql("doc_id % 13 <> 5"),
    "vocab_merged_topk" -> oracleSqlBase("vocab_topk"),
    "lm_score_stored" -> oracleSqlBase("lm_score"),
    "bpe_pairs_stored" -> oracleSqlBase("bpe_pair_counts"),

    // unrolled replay of TextOps.bpeTrain's 3-iteration loop — same
    // CTE-chain posture as the k-means oracles; symbols are lists, so
    // the fold wraps elements and pairs are (a, b) columns
    "bpe_train" ->
      s"""WITH ${bpeChainSql(3, keepWord = false)}
         |SELECT CAST(rule_no AS BIGINT) AS rule_no, a AS p1, b AS p2,
         |       CAST(cnt AS BIGINT) AS cnt
         |FROM (${(1 to 3).map(r => s"SELECT * FROM r$r").mkString(" UNION ALL ")})
         |ORDER BY rule_no""".stripMargin,

    // encode replay: the same chain keeps `word` through the folds so
    // the final symbol counts join back to per-doc term frequencies
    "bpe_encode_stats" ->
      s"""WITH ${bpeChainSql(3, keepWord = true)},
         |dc AS (SELECT doc_id, word, count(*) AS tf FROM tok
         |       WHERE word <> '' GROUP BY doc_id, word),
         |enc AS (SELECT word, len(syms) AS n_sym FROM v3)
         |SELECT dc.doc_id, CAST(sum(dc.tf) AS BIGINT) AS n_words,
         |       CAST(sum(dc.tf * n_sym) AS BIGINT) AS n_bpe_tokens
         |FROM dc JOIN enc USING (word)
         |GROUP BY dc.doc_id ORDER BY doc_id""".stripMargin,

    // id scheme replayed: sorted base alphabet 0..B-1, rule r -> B+r-1,
    // string collisions keep the smallest id; the per-doc stream orders
    // by (word position, symbol position)
    "bpe_encode_ids" ->
      s"""WITH ${bpeChainSql(3, keepWord = true)},
         |base AS (SELECT DISTINCT substr(word, i, 1) AS tok
         |         FROM vocab, LATERAL unnest(range(1, length(word) + 1)) AS tb(i)),
         |bn AS (SELECT count(*) AS nb FROM base),
         |bid AS (SELECT tok, row_number() OVER (ORDER BY tok) - 1 AS id FROM base),
         |rid AS (SELECT a || b AS tok, nb + rule_no - 1 AS id
         |        FROM (SELECT 1 AS rule_no, a, b FROM r1
         |              UNION ALL SELECT 2, a, b FROM r2
         |              UNION ALL SELECT 3, a, b FROM r3), bn),
         |ids AS (SELECT tok, CAST(min(id) AS BIGINT) AS id
         |        FROM (SELECT * FROM bid UNION ALL SELECT * FROM rid)
         |        GROUP BY tok),
         |seq AS (SELECT doc_id, i AS wpos, w[i] AS word
         |        FROM words, LATERAL unnest(range(1, len(w) + 1)) AS ts(i)
         |        WHERE w[i] <> ''),
         |wsym AS (SELECT doc_id, wpos, j AS spos, syms[j] AS tok
         |         FROM seq JOIN v3 USING (word),
         |              LATERAL unnest(range(1, len(syms) + 1)) AS tu(j)),
         |tid AS (SELECT doc_id, wpos, spos, id
         |        FROM wsym JOIN ids USING (tok))
         |SELECT doc_id, count(*) AS n_bpe_tokens,
         |       md5(string_agg(CAST(id AS VARCHAR), ',' ORDER BY wpos, spos)) AS ids_sig
         |FROM tid GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // the stored-tokenizer encode over the build corpus: identical id
    // stream (frozen rules/ids == the inline derivation) plus a zero
    // UNK count
    "bpe_encode_stored" ->
      s"""WITH ${bpeChainSql(3, keepWord = true)},
         |base AS (SELECT DISTINCT substr(word, i, 1) AS tok
         |         FROM vocab, LATERAL unnest(range(1, length(word) + 1)) AS tb(i)),
         |bn AS (SELECT count(*) AS nb FROM base),
         |bid AS (SELECT tok, row_number() OVER (ORDER BY tok) - 1 AS id FROM base),
         |rid AS (SELECT a || b AS tok, nb + rule_no - 1 AS id
         |        FROM (SELECT 1 AS rule_no, a, b FROM r1
         |              UNION ALL SELECT 2, a, b FROM r2
         |              UNION ALL SELECT 3, a, b FROM r3), bn),
         |ids AS (SELECT tok, CAST(min(id) AS BIGINT) AS id
         |        FROM (SELECT * FROM bid UNION ALL SELECT * FROM rid)
         |        GROUP BY tok),
         |seq AS (SELECT doc_id, i AS wpos, w[i] AS word
         |        FROM words, LATERAL unnest(range(1, len(w) + 1)) AS ts(i)
         |        WHERE w[i] <> ''),
         |wsym AS (SELECT doc_id, wpos, j AS spos, syms[j] AS tok
         |         FROM seq JOIN v3 USING (word),
         |              LATERAL unnest(range(1, len(syms) + 1)) AS tu(j)),
         |tid AS (SELECT doc_id, wpos, spos, id
         |        FROM wsym JOIN ids USING (tok))
         |SELECT doc_id, count(*) AS n_bpe_tokens,
         |       CAST(0 AS BIGINT) AS n_unk,
         |       md5(string_agg(CAST(id AS VARCHAR), ',' ORDER BY wpos, spos)) AS ids_sig
         |FROM tid GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "lm_bigram_score" ->
      s"""WITH $wordsSql,
         |t AS (SELECT doc_id, w FROM words WHERE w[1] <> ''),
         |bg AS (SELECT doc_id, w[i - 1] AS prev, w[i] AS word
         |       FROM t, LATERAL unnest(range(2, len(w) + 1)) AS r(i)
         |       WHERE len(w) >= 2),
         |bgc AS (SELECT prev, word, count(*) AS cbw FROM bg GROUP BY prev, word),
         |pc AS (SELECT prev, sum(cbw) AS cp FROM bgc GROUP BY prev),
         |uc AS (SELECT word, count(*) AS cw
         |       FROM (SELECT unnest(w) AS word FROM t) GROUP BY word),
         |tot AS (SELECT CAST(sum(cw) AS DOUBLE) AS n FROM uc),
         |fterm AS (
         |  SELECT doc_id,
         |         CAST(round(ln(CAST(cw AS DOUBLE) / n), 6) AS DECIMAL(20,6)) AS term
         |  FROM (SELECT doc_id, w[1] AS word FROM t) f JOIN uc USING (word), tot),
         |bterm AS (
         |  SELECT bg.doc_id,
         |         CAST(round(ln(
         |           CAST(0.7 AS DOUBLE) * (CAST(cbw AS DOUBLE) / cp) +
         |           (CAST(1 AS DOUBLE) - CAST(0.7 AS DOUBLE)) * (CAST(cw AS DOUBLE) / n)),
         |           6) AS DECIMAL(20,6)) AS term
         |  FROM bg JOIN bgc USING (prev, word) JOIN pc USING (prev)
         |       JOIN uc USING (word), tot),
         |at AS (SELECT * FROM fterm UNION ALL SELECT * FROM bterm)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
         |       round(CAST(sum(term) AS DOUBLE) / count(*), 6) AS avg_logp
         |FROM at GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "quality_dup_calibration" -> {
      val cutCols = (1 to 9)
        .map(i => s"quantile_cont(quality_score, 0.${i}) AS c$i").mkString(", ")
      val decileSum = (1 to 9)
        .map(i => s"CASE WHEN quality_score >= c$i THEN 1 ELSE 0 END")
        .mkString(" + ")
      s"""WITH $wordsSql,
         |${qualityScoredSql("base", "scored")},
         |fp AS (SELECT doc_id, md5(array_to_string(list_sort(list_distinct(w)), ' ')) AS fingerprint
         |       FROM words),
         |k AS (SELECT fingerprint, min(doc_id) AS kid FROM fp GROUP BY fingerprint),
         |d AS (SELECT fp.doc_id, fp.doc_id <> k.kid AS is_dup
         |      FROM fp JOIN k USING (fingerprint)),
         |c AS (SELECT $cutCols FROM scored),
         |a AS (SELECT ($decileSum) AS decile, is_dup
         |      FROM scored JOIN d USING (doc_id), c)
         |SELECT CAST(decile AS BIGINT) AS decile,
         |       CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT) AS n_dups,
         |       CAST(sum(CASE WHEN is_dup THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS dup_rate
         |FROM a GROUP BY decile ORDER BY decile""".stripMargin
    },
    "text_bm25_stored_topk" -> oracleSqlBase("text_bm25_topk"),
    "text_bm25_merged_topk" -> oracleSqlBase("text_bm25_topk"),

    // batch probe: replay the index operands (tf/df/dl/stats) from the
    // corpus, derive each query doc's top-3 length≥5 tokens, score every
    // (query, matching doc) pair with the same per-term expression
    // summed in term order, round to 6 dp, window top-5 per query
    "text_bm25_batch_topk" ->
      s"""WITH $wordsSql,
         |${bm25BatchScoredCtes(BmBatchPred)}
         |SELECT q_id, doc_id, bm25 FROM (
         |  SELECT lscored.*, row_number() OVER (PARTITION BY q_id
         |           ORDER BY bm25 DESC, doc_id) AS rn
         |  FROM lscored)
         |WHERE rn <= 5
         |ORDER BY q_id, bm25 DESC, doc_id""".stripMargin,
    "hybrid_rrf_topk" -> hybridRrfOracleSql,
    "hybrid_rrf_recall" -> hybridRrfRecallOracleSql,
    "ann_ivf_adaptive_recall" -> ivfAdaptiveRecallOracleSql,

    // merged PQ: codebooks trained on the build subset, codes over all
    "ann_pq_merged_topk" -> {
      val (ctes, joins, adcSum, _) = pqOracleFragments(Some(IvfMergeBuildPred))
      s"""$ctes
         |SELECT e.vec_id, $adcSum AS adc_dist
         |FROM e
         |$joins
         |WHERE e.vec_id <> 0
         |ORDER BY adc_dist, vec_id LIMIT 10""".stripMargin
    })

  private lazy val oracleSqlBase: Map[String, String] = Map(

    "asof_join" ->
      s"""WITH hist AS (SELECT * FROM events WHERE ts <= TIMESTAMP '$WM'),
         |${dimSql("hist")},
         |d AS (SELECT user_id, valid_from, version_no, event_id AS version_event_id FROM dim),
         |probes AS (SELECT event_id, user_id, ts FROM events WHERE ts > TIMESTAMP '$WM')
         |SELECT p.event_id, p.user_id, p.ts, d.version_no, d.version_event_id
         |FROM probes p ASOF LEFT JOIN d
         |  ON p.user_id = d.user_id AND p.ts >= d.valid_from
         |ORDER BY p.event_id""".stripMargin,

    // interval MEMBERSHIP replay: SCD2 intervals are disjoint per key,
    // so the valid-variant's answer is the plain join on
    // [valid_from, valid_to) — at most one match per probe
    "asof_join_valid" ->
      s"""WITH hist AS (SELECT * FROM events WHERE ts <= TIMESTAMP '$WM'),
         |${dimSql("hist")},
         |d AS (SELECT user_id, valid_from, valid_to, version_no,
         |             event_id AS version_event_id
         |      FROM dim WHERE NOT is_current),
         |probes AS (SELECT event_id, user_id, ts FROM events)
         |SELECT p.event_id, p.user_id, p.ts, d.version_no, d.version_event_id
         |FROM probes p LEFT JOIN d
         |  ON p.user_id = d.user_id AND p.ts >= d.valid_from
         | AND p.ts < d.valid_to
         |ORDER BY p.event_id""".stripMargin,

    "events_hourly" ->
      """SELECT date_trunc('hour', ts) AS hour_start, event_type,
        |       count(*) AS n,
        |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
        |       count(DISTINCT user_id) AS n_users
        |FROM events GROUP BY 1, 2 ORDER BY hour_start, event_type""".stripMargin,

    "text_tokens" ->
      """SELECT doc_id,
        |       CASE WHEN regexp_replace(text, '^\s+|\s+$', '', 'g') = ''
        |            THEN CAST(0 AS BIGINT)
        |            ELSE len(string_split_regex(
        |                   regexp_replace(text, '^\s+|\s+$', '', 'g'),
        |                   '\s+')) END AS n_ws_tokens,
        |       len(regexp_extract_all(lower(text), '[a-z]+')) AS n_alpha_tokens,
        |       len(regexp_extract_all(lower(text), ' ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ]+')) AS n_bpeish_tokens,
        |       length(text) AS n_chars_calc
        |FROM documents ORDER BY doc_id""".stripMargin,

    "text_fingerprint" ->
      s"""WITH $wordsSql
         |SELECT doc_id, md5(array_to_string(list_sort(list_distinct(w)), ' ')) AS fingerprint
         |FROM words ORDER BY doc_id""".stripMargin,

    "text_quality" ->
      s"""WITH $wordsSql,
         |${qualityScoredSql("base", "scored")}
         |SELECT doc_id, n_tokens,
         |       CAST(sum_len AS DOUBLE) / n_tokens AS avg_token_len,
         |       CAST(n_stop AS DOUBLE) / n_tokens AS stop_ratio,
         |       quality_score
         |FROM scored ORDER BY doc_id""".stripMargin,

    "text_quality_gate" ->
      s"""WITH $wordsSql,
         |${qualityScoredSql("base", "scored")},
         |cut AS (SELECT quantile_cont(quality_score, 0.5) AS c FROM scored)
         |SELECT doc_id, n_tokens, quality_score
         |FROM scored, cut WHERE quality_score >= c
         |ORDER BY doc_id""".stripMargin,

    "text_langid" ->
      s"""WITH $wordsSql
         |SELECT *,
         |       CASE WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr THEN 'de'
         |            WHEN s_en >= s_es AND s_en >= s_fr THEN 'en'
         |            WHEN s_es >= s_fr THEN 'es'
         |            ELSE 'fr' END AS lang_guess
         |FROM (
         |  SELECT doc_id, lang,
         |         len(list_filter(w, x -> x IN ('der', 'die', 'das', 'und'))) AS s_de,
         |         len(list_filter(w, x -> x IN ('the', 'a', 'of', 'and'))) AS s_en,
         |         len(list_filter(w, x -> x IN ('el', 'los', 'las', 'y'))) AS s_es,
         |         len(list_filter(w, x -> x IN ('le', 'la', 'les', 'et'))) AS s_fr
         |  FROM words)
         |ORDER BY doc_id""".stripMargin,

    "value_percentiles" ->
      """SELECT l_returnflag,
        |       quantile_cont(l_quantity, 0.5) AS p50_qty,
        |       quantile_cont(l_quantity, 0.9) AS p90_qty,
        |       count(*) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "value_percentiles_exact" ->
      """SELECT quantile_cont(value, 0.5) AS p50_value,
        |       quantile_cont(value, 0.9) AS p90_value,
        |       count(*) AS n
        |FROM events""".stripMargin,

    "quality_median_by_lang" ->
      s"""WITH $wordsSql,
         |${qualityScoredSql("base", "scored")}
         |SELECT d.lang, quantile_cont(s.quality_score, 0.5) AS p50_quality,
         |       CAST(count(*) AS BIGINT) AS n_scored
         |FROM scored s JOIN documents d ON s.doc_id = d.doc_id
         |GROUP BY d.lang ORDER BY d.lang""".stripMargin,

    "quality_weighted_median_by_lang" ->
      s"""WITH $wordsSql,
         |${qualityScoredSql("base", "scored")},
         |j AS (SELECT d.lang, s.quality_score AS v, s.n_tokens AS wt, s.doc_id
         |      FROM scored s JOIN documents d ON s.doc_id = d.doc_id),
         |g AS (SELECT lang, CAST(sum(wt) AS BIGINT) AS gw FROM j GROUP BY lang),
         |c AS (SELECT lang, v, wt, doc_id,
         |             CAST(sum(wt) OVER (PARTITION BY lang
         |               ORDER BY v, doc_id) AS BIGINT) AS cum
         |      FROM j)
         |SELECT c.lang, min(v) AS cut_value, gw AS lang_tokens
         |FROM c JOIN g USING (lang)
         |WHERE wt > 0 AND cum * 2 >= gw
         |GROUP BY c.lang, gw ORDER BY lang""".stripMargin,

    // all nine mass thresholds from one cumsum CTE crossed with the
    // decile table — the same integer comparison per threshold
    "token_mass_deciles" ->
      s"""WITH $wordsSql,
         |${qualityScoredSql("base", "scored")},
         |wts AS (SELECT quality_score AS v, n_tokens AS wt, doc_id FROM scored),
         |tot AS (SELECT CAST(sum(wt) AS BIGINT) AS tw FROM wts),
         |c AS (SELECT v, wt, doc_id,
         |             CAST(sum(wt) OVER (ORDER BY v, doc_id) AS BIGINT) AS cum
         |      FROM wts),
         |p AS (SELECT unnest(range(1, 10)) AS num)
         |SELECT CAST(num * 10 AS BIGINT) AS mass_pct,
         |       min(v) AS cut_value, tw AS total_tokens
         |FROM c, tot, p WHERE wt > 0 AND cum * 10 >= num * tw
         |GROUP BY num, tw ORDER BY mass_pct""".stripMargin,

    // lower weighted median: first row of the (score, doc_id) order
    // whose inclusive cumulative token mass clears half the total —
    // integer comparison, no float cumsum
    "quality_weighted_median" ->
      s"""WITH $wordsSql,
         |${qualityScoredSql("base", "scored")},
         |wts AS (SELECT quality_score AS v, n_tokens AS wt, doc_id FROM scored),
         |tot AS (SELECT CAST(sum(wt) AS BIGINT) AS tw FROM wts),
         |c AS (SELECT v, wt, doc_id,
         |             CAST(sum(wt) OVER (ORDER BY v, doc_id) AS BIGINT) AS cum
         |      FROM wts)
         |SELECT min(v) AS cut_value, tw AS total_tokens
         |FROM c, tot WHERE wt > 0 AND cum * 2 >= tw
         |GROUP BY tw""".stripMargin,

    "user_event_pivot" ->
      """SELECT user_id,
        |       count(CASE WHEN event_type = 'click' THEN 1 END) AS click,
        |       count(CASE WHEN event_type = 'error' THEN 1 END) AS error,
        |       count(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase,
        |       count(CASE WHEN event_type = 'signup' THEN 1 END) AS signup,
        |       count(CASE WHEN event_type = 'view' THEN 1 END) AS view
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,

    "rollup_revenue" ->
      """SELECT l_returnflag, l_linestatus,
        |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
        |       count(*) AS n_items
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,

    "sessionization" ->
      """WITH flagged AS (
        |  SELECT user_id, event_id, ts, value,
        |         CASE WHEN prev_epoch IS NULL
        |                OR epoch_us(ts) - prev_epoch > 7200000000
        |              THEN 1 ELSE 0 END AS new_session
        |  FROM (SELECT e.*,
        |               lag(epoch_us(ts)) OVER w AS prev_epoch
        |        FROM events e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))),
        |sess AS (
        |  SELECT user_id, ts, value,
        |         CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_no
        |  FROM flagged)
        |SELECT user_id, session_no,
        |       min(ts) AS session_start, max(ts) AS session_end,
        |       count(*) AS n_events,
        |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM sess GROUP BY user_id, session_no
        |ORDER BY user_id, session_no""".stripMargin,

    "range_join_sessions" ->
      """WITH flagged AS (
        |  SELECT user_id, event_id, ts,
        |         CASE WHEN prev_epoch IS NULL
        |                OR epoch_us(ts) - prev_epoch > 7200000000
        |              THEN 1 ELSE 0 END AS new_session
        |  FROM (SELECT e.*,
        |               lag(epoch_us(ts)) OVER w AS prev_epoch
        |        FROM events e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))),
        |sess AS (
        |  SELECT user_id, event_id, ts,
        |         CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_no
        |  FROM flagged),
        |sessions AS (
        |  SELECT user_id, session_no, min(ts) AS session_start, max(ts) AS session_end
        |  FROM sess GROUP BY 1, 2)
        |SELECT e.event_id, e.user_id, e.ts, s.session_no
        |FROM events e JOIN sessions s
        |  ON e.user_id = s.user_id
        | AND e.ts >= s.session_start AND e.ts <= s.session_end
        |ORDER BY e.event_id""".stripMargin,

    "user_days_without_purchase" ->
      """SELECT user_id, date_trunc('day', ts) AS day FROM events
        |EXCEPT
        |SELECT user_id, date_trunc('day', ts) FROM events
        |WHERE event_type = 'purchase'
        |ORDER BY user_id, day""".stripMargin,

    "events_above_user_avg" ->
      """SELECT event_id, user_id, value, user_avg
        |FROM (SELECT event_id, user_id, value,
        |             CAST(sum(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE)
        |               / count(*) OVER w AS user_avg
        |      FROM events WINDOW w AS (PARTITION BY user_id))
        |WHERE value > user_avg ORDER BY event_id""".stripMargin,

    "user_topk_events" ->
      """SELECT user_id, rnk, event_id, value
        |FROM (SELECT user_id, event_id, value,
        |             row_number() OVER (PARTITION BY user_id
        |               ORDER BY value DESC, event_id) AS rnk
        |      FROM events)
        |WHERE rnk <= 3 ORDER BY user_id, rnk""".stripMargin,

    "events_cube" ->
      """SELECT event_type, date_trunc('day', ts) AS day,
        |       count(*) AS n,
        |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events GROUP BY CUBE (event_type, date_trunc('day', ts))
        |ORDER BY event_type NULLS FIRST, day NULLS FIRST""".stripMargin,

    "text_winnow" ->
      s"""WITH $winnowFpSql
         |SELECT doc_id, len(fps) AS n_fingerprints,
         |       md5(array_to_string(list_transform(fps, x -> CAST(x AS VARCHAR)), ',')) AS winnow_sig
         |FROM fp ORDER BY doc_id""".stripMargin,

    "ngram_hotspots" ->
      s"""WITH $wordsSql,
         |$shSql
         |SELECT shingle AS ngram, count(*) AS df,
         |       CAST(min(doc_id) AS BIGINT) AS example_doc
         |FROM sh GROUP BY shingle HAVING count(*) >= 2
         |ORDER BY df DESC, ngram LIMIT 20""".stripMargin,

    "text_redact" -> {
      val (emailRe, phoneRe, ipRe) = graft.ops.TextOps.piiPatterns
      s"""SELECT doc_id,
         |       CAST(len(regexp_extract_all(text, '$emailRe')) AS BIGINT) AS n_emails,
         |       CAST(len(regexp_extract_all(text, '$ipRe')) AS BIGINT) AS n_ipv4,
         |       CAST(len(regexp_extract_all(text, '$phoneRe')) AS BIGINT) AS n_phones,
         |       regexp_replace(
         |         regexp_replace(
         |           regexp_replace(text, '$emailRe', '<EMAIL>', 'g'),
         |           '$ipRe', '<IP>', 'g'),
         |         '$phoneRe', '<PHONE>', 'g') AS redacted
         |FROM documents ORDER BY doc_id""".stripMargin
    },

    // mirror of DedupOps.queryFingerprintIndex over the build/feed split:
    // df cap derived from (and frozen to) the INDEXED subset, containment
    // between cross pairs only
    // the purge-audit oracle IS the remaining corpus: every live/mass
    // metric recomputed from the parquet tables minus each family's
    // deleted slice (winnow fps under the same [4,32]-clamped p99.9 cap
    // as text_containment, tokens under the shared words CTE), and
    // every deleted_residual pinned to 0 — the Spark side measures the
    // ACTUAL residual through the production screens, so a broken
    // deletion path reds this row out
    // each retained version after the time-travel purge equals the dim
    // over the REMAINING corpus (one dim row per event, so counts
    // replay directly); the residual pins to zero in every version
    "scd2_purge_versions" ->
      s"""WITH rem AS (SELECT * FROM events WHERE user_id % 10 <> 3)
         |SELECT CAST(0 AS BIGINT) AS version, count(*) AS n_rows,
         |       count(DISTINCT user_id) AS n_users,
         |       CAST(0 AS BIGINT) AS purged_residual
         |FROM rem WHERE ts <= TIMESTAMP '$WM'
         |UNION ALL
         |SELECT CAST(1 AS BIGINT), count(*), count(DISTINCT user_id),
         |       CAST(0 AS BIGINT) FROM rem
         |UNION ALL
         |SELECT CAST(2 AS BIGINT), count(*), count(DISTINCT user_id),
         |       CAST(0 AS BIGINT) FROM rem
         |ORDER BY version""".stripMargin,

    "purge_audit" ->
      s"""WITH $wordsSql,
         |$winnowFpSql,
         |ex0 AS (SELECT doc_id, unnest(fps) AS f FROM fp),
         |dfc AS (SELECT f, count(*) AS d FROM ex0 GROUP BY f),
         |cap AS (SELECT least(32, greatest(4, CAST(trunc(quantile_cont(d, 0.999)) AS BIGINT))) AS c FROM dfc),
         |ex AS (SELECT doc_id, f FROM ex0 JOIN dfc USING (f) WHERE d <= (SELECT c FROM cap)),
         |tok AS (SELECT doc_id, unnest(w) AS word FROM words),
         |rem_tok AS (SELECT * FROM tok WHERE doc_id % 13 <> 5)
         |SELECT * FROM (
         |  SELECT 'ann_ivf' AS family, 'deleted_residual' AS metric, CAST(0 AS BIGINT) AS value
         |  UNION ALL SELECT 'ann_ivf', 'live_vecs', (SELECT count(*) FROM embeddings WHERE vec_id % 7 <> 3)
         |  UNION ALL SELECT 'ann_ivfpq', 'deleted_residual', CAST(0 AS BIGINT)
         |  UNION ALL SELECT 'ann_ivfpq', 'live_vecs', (SELECT count(*) FROM embeddings WHERE vec_id % 9 <> 4)
         |  UNION ALL SELECT 'ann_pq', 'deleted_residual', CAST(0 AS BIGINT)
         |  UNION ALL SELECT 'ann_pq', 'live_vecs', (SELECT count(*) FROM embeddings WHERE vec_id % 5 <> 2)
         |  UNION ALL SELECT 'bm25', 'deleted_residual', CAST(0 AS BIGINT)
         |  UNION ALL SELECT 'bm25', 'df_mass', (SELECT count(*) FROM (SELECT DISTINCT doc_id, word FROM rem_tok))
         |  UNION ALL SELECT 'bm25', 'live_docs', (SELECT count(DISTINCT doc_id) FROM rem_tok)
         |  UNION ALL SELECT 'bm25', 'n_docs', (SELECT count(*) FROM documents WHERE doc_id % 13 <> 5)
         |  UNION ALL SELECT 'bm25', 'postings_pairs', (SELECT count(*) FROM (SELECT DISTINCT doc_id, word FROM rem_tok))
         |  UNION ALL SELECT 'bm25', 'sum_dl', (SELECT CAST(sum(len(w)) AS BIGINT) FROM words WHERE doc_id % 13 <> 5)
         |  UNION ALL SELECT 'distinct', 'deleted_residual', CAST(0 AS BIGINT)
         |  UNION ALL SELECT 'distinct', 'live_pairs', (SELECT count(*) FROM (SELECT DISTINCT event_type, user_id FROM events WHERE user_id % 10 <> 7))
         |  UNION ALL SELECT 'distinct', 'pair_mass', (SELECT count(*) FROM events WHERE user_id % 10 <> 7)
         |  UNION ALL SELECT 'fingerprint', 'deleted_residual', CAST(0 AS BIGINT)
         |  UNION ALL SELECT 'fingerprint', 'live_docs', (SELECT count(DISTINCT doc_id) FROM ex WHERE doc_id % 13 <> 5)
         |  UNION ALL SELECT 'fingerprint', 'postings_pairs', (SELECT count(*) FROM ex WHERE doc_id % 13 <> 5)
         |  UNION ALL SELECT 'image_ahash', 'band_rows', CAST(4 * (SELECT count(*) FROM documents WHERE doc_id % 4 < 3 AND doc_id % 8 <> 1) AS BIGINT)
         |  UNION ALL SELECT 'image_ahash', 'deleted_residual', CAST(0 AS BIGINT)
         |  UNION ALL SELECT 'image_ahash', 'live_docs', (SELECT count(*) FROM documents WHERE doc_id % 4 < 3 AND doc_id % 8 <> 1)
         |  UNION ALL SELECT 'vocab', 'df_mass', (SELECT count(*) FROM (SELECT DISTINCT doc_id, word FROM rem_tok WHERE word <> ''))
         |  UNION ALL SELECT 'vocab', 'live_words', (SELECT count(DISTINCT word) FROM rem_tok WHERE word <> '')
         |  UNION ALL SELECT 'vocab', 'token_mass', (SELECT count(*) FROM rem_tok WHERE word <> '')
         |) ORDER BY family, metric""".stripMargin,

    "dedup_incremental" ->
      s"""WITH $winnowFpSql,
         |ex0 AS (SELECT doc_id, unnest(fps) AS f FROM fp),
         |idx AS (SELECT * FROM ex0 WHERE doc_id % 4 < 3),
         |feed AS (SELECT * FROM ex0 WHERE NOT (doc_id % 4 < 3)),
         |dfc AS (SELECT f, count(*) AS d FROM idx GROUP BY f),
         |cap AS (SELECT least(32, greatest(4, CAST(trunc(quantile_cont(d, 0.999)) AS BIGINT))) AS c FROM dfc),
         |hot AS (SELECT f FROM dfc WHERE d > (SELECT c FROM cap)),
         |idx_k AS (SELECT doc_id, f FROM idx WHERE f NOT IN (SELECT f FROM hot)),
         |feed_k AS (SELECT doc_id, f FROM feed WHERE f NOT IN (SELECT f FROM hot)),
         |so AS (SELECT doc_id, count(*) AS n FROM idx_k GROUP BY doc_id),
         |sn AS (SELECT doc_id, count(*) AS nn FROM feed_k GROUP BY doc_id),
         |cand AS (
         |  SELECT fe.doc_id AS doc_new, ix.doc_id AS doc_old, count(*) AS n_shared
         |  FROM feed_k fe JOIN idx_k ix ON fe.f = ix.f
         |  GROUP BY 1, 2)
         |SELECT doc_new, doc_old, n_shared,
         |       CAST(n_shared AS DOUBLE) / least(sn.nn, so.n) AS containment
         |FROM cand JOIN sn ON doc_new = sn.doc_id
         |          JOIN so ON doc_old = so.doc_id
         |WHERE CAST(n_shared AS DOUBLE) / least(sn.nn, so.n) >= 0.5
         |ORDER BY doc_new, doc_old""".stripMargin,

    "text_containment" ->
      s"""WITH $winnowFpSql,
         |ex0 AS (SELECT doc_id, unnest(fps) AS f FROM fp),
         |dfc AS (SELECT f, count(*) AS d FROM ex0 GROUP BY f),
         |cap AS (SELECT least(32, greatest(4, CAST(trunc(quantile_cont(d, 0.999)) AS BIGINT))) AS c FROM dfc),
         |ex AS (SELECT doc_id, f FROM ex0 JOIN dfc USING (f) WHERE d <= (SELECT c FROM cap)),
         |sizes AS (SELECT doc_id, count(*) AS n FROM ex GROUP BY doc_id),
         |cand AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
         |  FROM ex a JOIN ex b ON a.f = b.f AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT doc_a, doc_b, n_shared,
         |       CAST(n_shared AS DOUBLE) / least(sa.n, sb.n) AS containment
         |FROM cand JOIN sizes sa ON doc_a = sa.doc_id
         |          JOIN sizes sb ON doc_b = sb.doc_id
         |WHERE CAST(n_shared AS DOUBLE) / least(sa.n, sb.n) >= 0.5
         |ORDER BY doc_a, doc_b""".stripMargin,

    "source_overlap_matrix" ->
      s"""WITH $winnowFpSql,
         |ex0 AS (SELECT doc_id, unnest(fps) AS f FROM fp),
         |dfc AS (SELECT f, count(*) AS d FROM ex0 GROUP BY f),
         |cap AS (SELECT least(32, greatest(4, CAST(trunc(quantile_cont(d, 0.999)) AS BIGINT))) AS c FROM dfc),
         |ex AS (SELECT doc_id, f FROM ex0 JOIN dfc USING (f) WHERE d <= (SELECT c FROM cap)),
         |exs AS (SELECT ex.doc_id, f, source
         |        FROM ex JOIN documents USING (doc_id)),
         |cr AS (SELECT least(a.source, b.source) AS source_a,
         |              greatest(a.source, b.source) AS source_b,
         |              a.f AS f,
         |              CAST(a.doc_id AS VARCHAR) || ':' ||
         |                CAST(b.doc_id AS VARCHAR) AS pr
         |       FROM exs a JOIN exs b
         |         ON a.f = b.f AND a.doc_id < b.doc_id
         |            AND a.source <> b.source)
         |SELECT source_a, source_b,
         |       CAST(count(DISTINCT pr) AS BIGINT) AS n_doc_pairs,
         |       CAST(count(DISTINCT f) AS BIGINT) AS n_shared_fps
         |FROM cr GROUP BY source_a, source_b
         |ORDER BY source_a, source_b""".stripMargin,

    "dedup_exact" ->
      s"""WITH $wordsSql,
         |fp AS (SELECT doc_id, md5(array_to_string(list_sort(list_distinct(w)), ' ')) AS fingerprint
         |       FROM words)
         |SELECT fingerprint, min(doc_id) AS doc_id, count(*) AS group_size
         |FROM fp GROUP BY fingerprint ORDER BY doc_id""".stripMargin,

    "text_strip_boilerplate" ->
      s"""WITH $wordsSql,
         |ch AS (SELECT doc_id, i,
         |              array_to_string(w[((i - 1) * 20 + 1):(i * 20)], ' ') AS txt
         |       FROM words,
         |            LATERAL unnest(range(1, CAST(ceil(len(w) / 20.0) AS BIGINT) + 1)) AS t(i)),
         |cdf AS (SELECT md5(txt) AS h, count(DISTINCT doc_id) AS d
         |        FROM ch GROUP BY md5(txt))
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
         |       CAST(sum(CASE WHEN d <= 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         |       coalesce(string_agg(CASE WHEN d <= 1 THEN txt END, ' ' ORDER BY i), '') AS clean_text
         |FROM ch JOIN cdf ON md5(ch.txt) = cdf.h
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "dedup_ngram_jaccard" ->
      s"""WITH $wordsSql,
         |$shSql,
         |inter AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
         |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |$jaccardTailSql""".stripMargin,

    "dedup_minhash_lsh" ->
      s"""WITH $wordsSql,
         |$shSql,
         |$minhashChainSql,
         |$jaccardTailSql""".stripMargin

    ,

    "dedup_groups" ->
      s"""WITH RECURSIVE $wordsSql,
         |$shSql,
         |$minhashChainSql,
         |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
         |pairs AS (
         |  SELECT doc_a, doc_b
         |  FROM inter JOIN sizes sa ON doc_a = sa.doc_id
         |             JOIN sizes sb ON doc_b = sb.doc_id
         |  WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.8),
         |edges AS (
         |  SELECT doc_a AS u, doc_b AS v FROM pairs
         |  UNION ALL SELECT doc_b, doc_a FROM pairs),
         |walk(u, l) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT e.u, w.l FROM edges e JOIN walk w ON w.u = e.v)
         |SELECT u AS doc_id, min(l) AS group_id
         |FROM walk GROUP BY u ORDER BY doc_id""".stripMargin,

    "dedup_simhash" -> {
      val bits = (1 to 16).map { d =>
        s"CASE WHEN list_sum(list_transform(w, x -> CASE WHEN substr(md5(x), $d, 1) > '7' THEN 1 ELSE -1 END)) >= 0 THEN '1' ELSE '0' END"
      }
      s"""WITH $wordsSql
         |SELECT doc_id, concat(${bits.mkString(", ")}) AS simhash
         |FROM words ORDER BY doc_id""".stripMargin
    },

    "dedup_simhash_pairs" -> {
      // 64-dim sketch: dims 1-32 = high bit of md5 hex digit d, dims
      // 33-64 = parity bit of digit d-32 — mirror of [[DedupOps.simhashLong]]
      val bitTerms = (1 to 64).map { d =>
        val bit = if (d <= 32) s"substr(md5(x), $d, 1) > '7'"
                  else s"substr(md5(x), ${d - 32}, 1) IN ('1','3','5','7','9','b','d','f')"
        val weight = if (d == 1) "(-9223372036854775807 - 1)"
                     else s"CAST(${1L << (64 - d)} AS BIGINT)"
        s"(CASE WHEN list_sum(list_transform(w, x -> CASE WHEN $bit THEN 1 ELSE -1 END)) >= 0 THEN $weight ELSE 0 END)"
      }
      s"""WITH $wordsSql,
         |sk AS (SELECT doc_id, ${bitTerms.mkString(" + ")} AS sh FROM words),
         |bands AS (
         |  SELECT doc_id, sh, b, (sh >> (b * 16)) & 65535 AS bv
         |  FROM sk, LATERAL unnest(range(0, 4)) AS t(b)),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, a.sh AS sha, b.doc_id AS doc_b, b.sh AS shb
         |  FROM bands a JOIN bands b
         |    ON a.b = b.b AND a.bv = b.bv AND a.doc_id < b.doc_id)
         |SELECT doc_a, doc_b, CAST(bit_count(xor(sha, shb)) AS BIGINT) AS hamming
         |FROM cand WHERE bit_count(xor(sha, shb)) <= 3
         |ORDER BY doc_a, doc_b""".stripMargin
    },

    "ann_cosine_topk" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |q AS (SELECT v AS qv FROM e WHERE vec_id = 0)
         |SELECT vec_id, round(${cosSql("v", "qv")}, 6) AS cosine
         |FROM e, q WHERE vec_id <> 0
         |ORDER BY cosine DESC, vec_id LIMIT 10""".stripMargin,

    "embedding_near_dup" ->
      s"""WITH e AS (
         |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
         |  FROM embeddings WHERE vec_id % 10 = 0)
         |SELECT label, vec_a, vec_b, cosine FROM (
         |  SELECT a.label AS label, a.vec_id AS vec_a, b.vec_id AS vec_b,
         |         round(${cosSql("a.v", "b.v")}, 6) AS cosine
         |  FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id)
         |WHERE cosine >= 0.25
         |ORDER BY label, vec_a, vec_b""".stripMargin,

    "ann_ivf_topk" ->
      s"""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
         |cexp AS (
         |  SELECT label, i AS idx, CAST(sum(CAST(v[i] AS DECIMAL(18,9))) AS DOUBLE) AS s
         |  FROM e, LATERAL unnest(range(1, 65)) AS t(i) GROUP BY label, i),
         |cent AS (SELECT label, list(s ORDER BY idx) AS c FROM cexp GROUP BY label),
         |best AS (
         |  SELECT label FROM cent, q
         |  ORDER BY (${cosSql("c", "qv")}) DESC, label LIMIT 1)
         |SELECT e.vec_id, e.label, round(${cosSql("v", "qv")}, 6) AS cosine
         |FROM e JOIN best USING (label), q WHERE vec_id <> 0
         |ORDER BY cosine DESC, vec_id LIMIT 10""".stripMargin,

    "ann_ivf_kmeans_topk" -> ivfKmeansOracleSql(trainPred = None),

    "diverse_representatives" -> {
      val iters = 2
      s"""${ivfFinCtes(None, iters)},
         |rep AS (SELECT f.cl, f.vec_id,
         |               round(${dSql("f.v", "c.cv")}, 6) AS d
         |        FROM fin f JOIN c$iters c ON f.cl = c.cl),
         |sel AS (SELECT cl, vec_id, d,
         |               row_number() OVER (PARTITION BY cl
         |                 ORDER BY d, vec_id) AS rn,
         |               count(*) OVER (PARTITION BY cl) AS nm
         |        FROM rep)
         |SELECT CAST(cl AS BIGINT) AS cluster, vec_id AS rep_vec,
         |       d AS rep_dist, CAST(nm AS BIGINT) AS n_members
         |FROM sel WHERE rn = 1 ORDER BY cluster""".stripMargin
    },

    "semdedup" -> semdedupOracleSql,

    "semdedup_incremental" -> {
      val iters = 2
      s"""${ivfFinCtes(Some(IvfMergeBuildPred), iters)},
         |idx AS (SELECT * FROM fin WHERE $IvfMergeBuildPred),
         |qb AS (SELECT vec_id AS q_id, v AS qv, cl AS qcl FROM fin
         |       WHERE NOT ($IvfMergeBuildPred)),
         |best AS (
         |  SELECT q_id, match_id, cluster, cosine FROM (
         |    SELECT qb.q_id, i.vec_id AS match_id,
         |           CAST(i.cl AS BIGINT) AS cluster,
         |           round(${cosSql("i.v", "qb.qv")}, 6) AS cosine,
         |           row_number() OVER (PARTITION BY qb.q_id
         |             ORDER BY round(${cosSql("i.v", "qb.qv")}, 6) DESC, i.vec_id) AS rn
         |    FROM idx i JOIN qb ON i.cl = qb.qcl) WHERE rn = 1)
         |SELECT qb.q_id AS vec_id, b.match_id, b.cluster, b.cosine,
         |       coalesce(b.cosine >= CAST(${P.SemT} AS DOUBLE), false) AS is_dup
         |FROM qb LEFT JOIN best b USING (q_id) ORDER BY vec_id""".stripMargin
    },

    "ann_recall_report" -> {
      val iters = 2
      s"""${ivfFinCtes(None, iters)},
         |q AS (SELECT vec_id AS q_id, v AS qv, cl AS qcl FROM fin
         |      WHERE $BatchQueryPred),
         |brute AS (
         |  SELECT q_id, vec_id FROM (
         |    SELECT q.q_id, e.vec_id,
         |           row_number() OVER (PARTITION BY q.q_id
         |             ORDER BY round(${cosSql("e.v", "q.qv")}, 6) DESC, e.vec_id) AS rn
         |    FROM e, q WHERE e.vec_id <> q.q_id) WHERE rn <= 10),
         |ivf AS (
         |  SELECT q_id, vec_id FROM (
         |    SELECT q.q_id, f.vec_id,
         |           row_number() OVER (PARTITION BY q.q_id
         |             ORDER BY round(${cosSql("f.v", "q.qv")}, 6) DESC, f.vec_id) AS rn
         |    FROM fin f JOIN q ON f.cl = q.qcl
         |    WHERE f.vec_id <> q.q_id) WHERE rn <= 10),
         |h AS (SELECT b.q_id, count(*) AS n_hits
         |      FROM brute b JOIN ivf USING (q_id, vec_id) GROUP BY b.q_id)
         |SELECT q.q_id, CAST(coalesce(n_hits, 0) AS BIGINT) AS n_hits,
         |       CAST(coalesce(n_hits, 0) AS DOUBLE) / 10 AS recall
         |FROM q LEFT JOIN h USING (q_id) ORDER BY q_id""".stripMargin
    },

    // recall of the stored flat-ADC PQ retrieval vs brute force: the
    // same per-subspace training/code/table replay as the pq batch
    // probe, intersected with the exact cosine top-10 per query
    "ann_pq_recall" -> pqRecallOracleSql(None),

    // recall of the stored composite vs brute force: the ivfpq batch
    // splice (k-means cells + PQ replay, 2 probed cells) ∩ brute top-10
    "ann_ivfpq_recall" -> ivfPqRecallOracleSql(None),

    // merged-index recall: the same intersect-with-brute shape as
    // ann_pq_recall / ann_ivfpq_recall, with the training replays
    // restricted to the build subset — codes/assignments still cover
    // every vector, exactly as the stored index does after
    // build(subset) + merge(remainder)
    "ann_pq_merged_recall" -> pqRecallOracleSql(Some(IvfMergeBuildPred)),
    "ann_ivfpq_merged_recall" -> ivfPqRecallOracleSql(Some(IvfMergeBuildPred)),

    // recall of the production two-stage reads: the same training
    // replays, the ADC CTE widened to the 4×k shortlist, then the
    // exact-cosine rerank replayed before the intersect — a rerank
    // regression or a too-narrow shortlist reds these rows while the
    // raw-ADC rows above stay green
    "ann_pq_rerank_recall" -> pqRecallOracleSql(None, Some(P.RerankFactor)),
    "ann_ivfpq_rerank_recall" ->
      ivfPqRecallOracleSql(None, Some(P.RerankFactor), Some(P.ProbeRatio)),

    // the adaptive probe's per-query cell counts, replayed via the SAME
    // shared best CTE the rerank-recall oracle uses
    "ann_probe_cost" ->
      s"""${ivfFinCtes(None, 2)},
         |qb AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE $BatchQueryPred),
         |${probedBestCte(Some(P.ProbeRatio))}
         |SELECT q_id, CAST(count(*) AS BIGINT) AS n_cells
         |FROM best GROUP BY q_id ORDER BY q_id""".stripMargin,

    // same Lloyd's replay, but TRAINED on the build subset only — the
    // assignment pass still covers every vector, exactly as the stored
    // index does after build(subset) + merge(remainder)
    "ann_ivf_merged_topk" -> ivfKmeansOracleSql(trainPred = Some(IvfMergeBuildPred)),

    // batch probes: same training replays, every 97th vector as a query
    "ann_ivf_batch_topk" -> ivfBatchOracleSql,
    "ann_pq_batch_topk" -> {
      val (ctes, joins, adcSum, _) =
        pqOracleFragments(None, batchPred = Some(BatchQueryPred))
      s"""$ctes
         |SELECT q_id, vec_id, adc_dist FROM (
         |  SELECT t0.q_id, t0.vec_id, $adcSum AS adc_dist,
         |         row_number() OVER (PARTITION BY t0.q_id
         |           ORDER BY $adcSum, t0.vec_id) AS rn
         |  FROM ctb_0 t0
         |  $joins
         |  WHERE t0.vec_id <> t0.q_id) WHERE rn <= 5
         |ORDER BY q_id, adc_dist, vec_id""".stripMargin
    },

    "ann_pq_topk" ->
      s"""$pqCtesSql
         |SELECT e.vec_id, $pqAdcSumSql AS adc_dist
         |FROM e
         |$pqJoinsSql
         |WHERE e.vec_id <> 0
         |ORDER BY adc_dist, vec_id LIMIT 10""".stripMargin,

    // batched composite: per-query nprobe cells from the k-means replay
    // restrict the ctb contribution rows; otherwise the pq batch shape
    "ann_ivfpq_batch_topk" -> {
      val (_, joins, adcSum, subs) =
        pqOracleFragments(None, batchPred = Some(BatchQueryPred))
      s"""${ivfFinCtes(None, 2)},
         |$subs,
         |qb AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE $BatchQueryPred),
         |best AS (
         |  SELECT q_id, cl FROM (
         |    SELECT qb.q_id, c.cl,
         |           row_number() OVER (PARTITION BY qb.q_id
         |             ORDER BY ${dSql("c.cv", "qb.qv")}, c.cl) AS rn
         |    FROM qb, c2 c) WHERE rn <= 2)
         |SELECT q_id, vec_id, cluster, adc_dist FROM (
         |  SELECT t0.q_id, t0.vec_id, CAST(f.cl AS BIGINT) AS cluster,
         |         $adcSum AS adc_dist,
         |         row_number() OVER (PARTITION BY t0.q_id
         |           ORDER BY $adcSum, t0.vec_id) AS rn
         |  FROM ctb_0 t0
         |  $joins
         |  JOIN fin f ON f.vec_id = t0.vec_id
         |  JOIN best b ON b.q_id = t0.q_id AND b.cl = f.cl
         |  WHERE t0.vec_id <> t0.q_id) WHERE rn <= 5
         |ORDER BY q_id, adc_dist, vec_id""".stripMargin
    },

    // merged IVF-PQ: both control planes trained on the build subset,
    // assignments and codes over every vector — the same splice with
    // the subset train predicate threaded through both replays
    "ann_ivfpq_merged_topk" -> {
      val (_, joins, adcSum, subs) = pqOracleFragments(Some(IvfMergeBuildPred))
      s"""${ivfFinCtes(Some(IvfMergeBuildPred), 2)},
         |$subs,
         |qq AS (SELECT v AS qv FROM e WHERE vec_id = 0),
         |best AS (
         |  SELECT cl FROM c2, qq
         |  ORDER BY ${dSql("cv", "qv")}, cl LIMIT 2)
         |SELECT f.vec_id, CAST(f.cl AS BIGINT) AS cluster,
         |       $adcSum AS adc_dist
         |FROM fin f JOIN best USING (cl)
         |$joins
         |WHERE f.vec_id <> 0
         |ORDER BY adc_dist, vec_id LIMIT 10""".stripMargin
    },

    // IVF-PQ composite: splice the k-means cell replay (ivfFinCtes →
    // fin, c2) with the PQ training/code/table replay (pqSubCtesSql);
    // prune to the query's 2 nearest cells, ADC-score only those rows
    "ann_ivfpq_topk" ->
      s"""${ivfFinCtes(None, 2)},
         |$pqSubCtesSql,
         |qq AS (SELECT v AS qv FROM e WHERE vec_id = 0),
         |best AS (
         |  SELECT cl FROM c2, qq
         |  ORDER BY ${dSql("cv", "qv")}, cl LIMIT 2)
         |SELECT f.vec_id, CAST(f.cl AS BIGINT) AS cluster,
         |       $pqAdcSumSql AS adc_dist
         |FROM fin f JOIN best USING (cl)
         |$pqJoinsSql
         |WHERE f.vec_id <> 0
         |ORDER BY adc_dist, vec_id LIMIT 10""".stripMargin,

    "ann_pq_rerank_topk" ->
      s"""$pqCtesSql,
         |shortlist AS (
         |  SELECT e.vec_id
         |  FROM e
         |  $pqJoinsSql
         |  WHERE e.vec_id <> 0
         |  ORDER BY $pqAdcSumSql, vec_id LIMIT 40),
         |q AS (SELECT v AS qv FROM e WHERE vec_id = 0)
         |SELECT e.vec_id, round(${cosSql("e.v", "qv")}, 6) AS cosine
         |FROM e JOIN shortlist USING (vec_id), q
         |ORDER BY cosine DESC, vec_id LIMIT 10""".stripMargin,

    "ann_lsh_buckets" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |s AS (SELECT vec_id, concat(${lshBitsSql(16).mkString(", ")}) AS signature FROM e)
         |SELECT signature, count(*) AS n_vectors, min(vec_id) AS min_vec_id
         |FROM s GROUP BY signature ORDER BY signature""".stripMargin,

    "embedding_near_dup_lsh" ->
      s"""WITH $embPairsSql
         |SELECT vec_a, vec_b, cosine FROM pairs
         |ORDER BY vec_a, vec_b""".stripMargin,

    "embedding_decontaminate" ->
      s"""WITH $embPairsSql,
         |sp AS (SELECT vec_id,
         |              CASE WHEN ${keyHashSql("vec_id")} % 100 < 80 THEN 'train'
         |                   WHEN ${keyHashSql("vec_id")} % 100 < 90 THEN 'valid'
         |                   ELSE 'test' END AS split
         |       FROM embeddings)
         |SELECT CASE WHEN sa.split = 'test' THEN p.vec_a ELSE p.vec_b END AS test_vec,
         |       CASE WHEN sa.split = 'test' THEN p.vec_b ELSE p.vec_a END AS train_vec,
         |       p.cosine
         |FROM pairs p
         |JOIN sp sa ON sa.vec_id = p.vec_a
         |JOIN sp sb ON sb.vec_id = p.vec_b
         |WHERE (sa.split = 'test' AND sb.split = 'train')
         |   OR (sa.split = 'train' AND sb.split = 'test')
         |ORDER BY test_vec, train_vec""".stripMargin,

    // same pair derivation + the recursive min-label walk dedup_groups
    // uses (reachability closure, min id per component)
    "embedding_dup_groups" ->
      s"""WITH RECURSIVE $embPairsSql,
         |$dupWalkSql
         |SELECT u AS vec_id, min(l) AS group_id
         |FROM walk GROUP BY u ORDER BY vec_id""".stripMargin,

    // pair derivation + min-label walk + graph-centrality survivor:
    // each member's strength is the DECIMAL-exact sum of its incident
    // near-dup edges' (already 6-dp-rounded) cosines — order-independent
    // on both sides — and the group's strongest member (vec_id
    // tie-break) is kept, singletons trivially keeping themselves
    "embedding_keep_best" ->
      s"""WITH RECURSIVE $embPairsSql,
         |$dupWalkSql,
         |groups AS (SELECT u AS vec_id, min(l) AS group_id
         |           FROM walk GROUP BY u),
         |inc AS (SELECT vec_a AS vec_id, cosine FROM pairs
         |        UNION ALL SELECT vec_b, cosine FROM pairs),
         |strength AS (
         |  SELECT e.vec_id,
         |         CAST(coalesce(sum(CAST(i.cosine AS DECIMAL(20, 6))), 0) AS DOUBLE) AS strength
         |  FROM e LEFT JOIN inc i USING (vec_id) GROUP BY e.vec_id)
         |SELECT g.vec_id, g.group_id, st.strength,
         |       (row_number() OVER (PARTITION BY g.group_id
         |          ORDER BY st.strength DESC, g.vec_id) = 1) AS keep
         |FROM groups g JOIN strength st USING (vec_id)
         |ORDER BY vec_id""".stripMargin,

    // the sampler ran a REAL animated-GIF parse decoding every 2nd
    // frame; the lossless indexed-gray palette means the sampled
    // frames' dims + exact gray sums recompute from the
    // (x, y, doc_id, frame) formula restricted to even frame indexes
    "multimodal_frames" ->
      """WITH g AS (SELECT doc_id, 8 + doc_id % 9 AS w,
        |                  8 + (3 * doc_id) % 9 AS h,
        |                  2 + doc_id % 4 AS n FROM documents),
        |fr AS (SELECT doc_id, w, h, f
        |       FROM g, LATERAL unnest(range(0, n)) AS t(f)
        |       WHERE f % 2 = 0),
        |px AS (SELECT doc_id, w, h, f, i % w AS x, i // w AS y
        |       FROM fr, LATERAL unnest(range(0, w * h)) AS t(i))
        |SELECT doc_id, CAST(f AS INT) AS frame_no, CAST(w AS INT) AS width,
        |       CAST(h AS INT) AS height,
        |       CAST(sum((7*x + 13*y + doc_id + 19*f) % 256) AS BIGINT)
        |         AS sum_gray
        |FROM px GROUP BY doc_id, f, w, h
        |ORDER BY doc_id, frame_no""".stripMargin,

    "multimodal_meta" ->
      """SELECT doc_id,
        |       octet_length(encode(text)) AS n_bytes,
        |       md5(text) AS content_hash,
        |       substr(hex(encode(text)), 1, 16) AS head_hex
        |FROM documents ORDER BY doc_id""".stripMargin,

    // same ⌊y·h/th⌋·w + ⌊x·w/tw⌋ integer index math as
    // Multimodal.resizeNearest (32x32 → 8x8): exact on both engines
    "multimodal_resize" ->
      """SELECT doc_id, r AS resized, md5(r) AS resized_hash
        |FROM (
        |  SELECT doc_id,
        |         array_to_string([substr(img, ((i // 8) * 32) // 8 * 32 +
        |                                      ((i % 8) * 32) // 8 + 1, 1)
        |                          for i in range(0, 64)], '') AS r
        |  FROM (SELECT doc_id, rpad(text, 1024, ' ') AS img FROM documents))
        |ORDER BY doc_id""".stripMargin,

    // the decode ran a REAL codec (ImageIO) over real PNG bytes; the
    // oracle never needs one — the synthetic raster is closed-form in
    // (x, y, doc_id) and PNG is lossless, so dimensions and exact
    // integer channel sums recompute from the formula
    "multimodal_decode" ->
      """WITH g AS (SELECT doc_id, 8 + doc_id % 9 AS w,
        |                  8 + (3 * doc_id) % 9 AS h FROM documents),
        |px AS (SELECT doc_id, w, h, i % w AS x, i // w AS y
        |       FROM g, LATERAL unnest(range(0, w * h)) AS t(i))
        |SELECT doc_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
        |       CAST(sum((7*x + 13*y + doc_id) % 256) AS BIGINT) AS sum_r,
        |       CAST(sum((11*x + 3*y + 2*doc_id) % 256) AS BIGINT) AS sum_g,
        |       CAST(sum((5*x + 17*y + 3*doc_id) % 256) AS BIGINT) AS sum_b
        |FROM px GROUP BY doc_id, w, h ORDER BY doc_id""".stripMargin,

    // resized-target pixel (tx, ty) reads source (tx*w//4, ty*h//4) —
    // the identical integer index map the JVM resize applies to the
    // decoded raster
    "multimodal_decode_resize" ->
      """WITH g AS (SELECT doc_id, 8 + doc_id % 9 AS w,
        |                  8 + (3 * doc_id) % 9 AS h FROM documents),
        |px AS (SELECT doc_id, ((i % 4) * w) // 4 AS x,
        |              ((i // 4) * h) // 4 AS y
        |       FROM g, LATERAL unnest(range(0, 16)) AS t(i))
        |SELECT doc_id, CAST(4 AS INT) AS rwidth, CAST(4 AS INT) AS rheight,
        |       CAST(sum((7*x + 13*y + doc_id) % 256) AS BIGINT) AS rsum_r,
        |       CAST(sum((11*x + 3*y + 2*doc_id) % 256) AS BIGINT) AS rsum_g,
        |       CAST(sum((5*x + 17*y + 3*doc_id) % 256) AS BIGINT) AS rsum_b
        |FROM px GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // the decode ran a REAL animated-GIF parse (ImageIO sequence reader)
    // over real container bytes; the indexed-gray palette makes the
    // codec lossless, so per-frame dims + exact gray sums recompute from
    // the (x, y, doc_id, frame) formula
    "multimodal_gif_frames" ->
      """WITH g AS (SELECT doc_id, 8 + doc_id % 9 AS w,
        |                  8 + (3 * doc_id) % 9 AS h,
        |                  2 + doc_id % 4 AS n FROM documents),
        |fr AS (SELECT doc_id, w, h, f
        |       FROM g, LATERAL unnest(range(0, n)) AS t(f)),
        |px AS (SELECT doc_id, w, h, f, i % w AS x, i // w AS y
        |       FROM fr, LATERAL unnest(range(0, w * h)) AS t(i))
        |SELECT doc_id, CAST(f AS INT) AS frame_no, CAST(w AS INT) AS width,
        |       CAST(h AS INT) AS height,
        |       CAST(sum((7*x + 13*y + doc_id + 19*f) % 256) AS BIGINT)
        |         AS sum_gray
        |FROM px GROUP BY doc_id, f, w, h
        |ORDER BY doc_id, frame_no""".stripMargin,

    "multimodal_audio_features" ->
      """WITH g AS (SELECT doc_id, 800 + (doc_id % 5) * 160 AS n
        |           FROM documents),
        |s AS (SELECT doc_id, i,
        |             ((i * 37 + doc_id * 101) % 2048) - 1024 AS v,
        |             i // 256 AS win
        |      FROM g, LATERAL unnest(range(0, n)) AS t(i)),
        |z AS (SELECT doc_id, win, i, v,
        |             lag(v) OVER (PARTITION BY doc_id, win ORDER BY i) AS pv
        |      FROM s)
        |SELECT doc_id, CAST(win AS BIGINT) AS win,
        |       CAST(count(*) AS BIGINT) AS n_samples,
        |       CAST(sum(v * v) AS BIGINT) AS energy,
        |       CAST(sum(CASE WHEN pv IS NOT NULL
        |                     AND ((v >= 0) <> (pv >= 0))
        |                THEN 1 ELSE 0 END) AS BIGINT) AS zero_crossings
        |FROM z GROUP BY doc_id, win ORDER BY doc_id, win""".stripMargin,

    "multimodal_phash_incremental" ->
      """WITH g AS (SELECT doc_id, 8 + doc_id % 9 AS w,
        |                  8 + (3 * doc_id) % 9 AS h FROM documents),
        |cell AS (SELECT doc_id, i, ((i % 8) * w) // 8 AS sx,
        |                ((i // 8) * h) // 8 AS sy
        |         FROM g, LATERAL unnest(range(0, 64)) AS t(i)),
        |gr AS (SELECT doc_id, i,
        |              ((7*sx + 13*sy + doc_id) % 256
        |               + (11*sx + 3*sy + 2*doc_id) % 256
        |               + (5*sx + 17*sy + 3*doc_id) % 256) // 3 AS gray
        |       FROM cell),
        |m AS (SELECT doc_id, sum(gray) // 64 AS mean FROM gr GROUP BY doc_id),
        |sk AS (SELECT gr.doc_id,
        |              CAST(sum(CASE WHEN gray > mean THEN
        |                CASE WHEN i = 63 THEN -9223372036854775807 - 1
        |                     ELSE (1::BIGINT << i) END ELSE 0 END) AS BIGINT) AS sh
        |       FROM gr JOIN m USING (doc_id) GROUP BY gr.doc_id),
        |bands AS (SELECT doc_id, sh, b, (sh >> (b * 16)) & 65535 AS bv
        |          FROM sk, LATERAL unnest(range(0, 4)) AS t(b)),
        |cand AS (SELECT DISTINCT p.doc_id AS doc_new, p.sh AS sn,
        |                s.doc_id AS doc_old, s.sh AS so
        |         FROM bands p JOIN bands s
        |           ON p.b = s.b AND p.bv = s.bv
        |         WHERE p.doc_id % 4 = 3 AND s.doc_id % 4 < 3)
        |SELECT doc_new, doc_old,
        |       CAST(bit_count(xor(sn, so)) AS BIGINT) AS hamming
        |FROM cand WHERE bit_count(xor(sn, so)) <= 2
        |ORDER BY doc_new, doc_old""".stripMargin,

    "multimodal_phash_pairs" ->
      """WITH g AS (SELECT doc_id, 8 + doc_id % 9 AS w,
        |                  8 + (3 * doc_id) % 9 AS h FROM documents),
        |cell AS (SELECT doc_id, i, ((i % 8) * w) // 8 AS sx,
        |                ((i // 8) * h) // 8 AS sy
        |         FROM g, LATERAL unnest(range(0, 64)) AS t(i)),
        |gr AS (SELECT doc_id, i,
        |              ((7*sx + 13*sy + doc_id) % 256
        |               + (11*sx + 3*sy + 2*doc_id) % 256
        |               + (5*sx + 17*sy + 3*doc_id) % 256) // 3 AS gray
        |       FROM cell),
        |m AS (SELECT doc_id, sum(gray) // 64 AS mean FROM gr GROUP BY doc_id),
        |sk AS (SELECT gr.doc_id,
        |              CAST(sum(CASE WHEN gray > mean THEN
        |                CASE WHEN i = 63 THEN -9223372036854775807 - 1
        |                     ELSE (1::BIGINT << i) END ELSE 0 END) AS BIGINT) AS sh
        |       FROM gr JOIN m USING (doc_id) GROUP BY gr.doc_id),
        |bands AS (SELECT doc_id, sh, b, (sh >> (b * 16)) & 65535 AS bv
        |          FROM sk, LATERAL unnest(range(0, 4)) AS t(b)),
        |cand AS (SELECT DISTINCT a.doc_id AS doc_a, a.sh AS sha,
        |                b.doc_id AS doc_b, b.sh AS shb
        |         FROM bands a JOIN bands b
        |           ON a.b = b.b AND a.bv = b.bv AND a.doc_id < b.doc_id)
        |SELECT doc_a, doc_b,
        |       CAST(bit_count(xor(sha, shb)) AS BIGINT) AS hamming
        |FROM cand WHERE bit_count(xor(sha, shb)) <= 2
        |ORDER BY doc_a, doc_b""".stripMargin,

    "scd2_rebuild" ->
      s"""WITH ${dimSql("events")}
         |SELECT $dimColsSql FROM dim ORDER BY user_id, version_no""".stripMargin,

    "scd2_current" ->
      s"""WITH ${dimSql("events")}
         |SELECT $dimColsSql FROM dim WHERE is_current ORDER BY user_id""".stripMargin,

    // deterministic surrogate sequence = a global row_number under the
    // same total order the engine range-partitions on
    "scd2_surrogate_keys" ->
      s"""WITH ${dimSql("events")}
         |SELECT row_number() OVER (ORDER BY user_id, version_no) AS surrogate_key,
         |       user_id, version_no, is_current
         |FROM dim ORDER BY surrogate_key""".stripMargin,

    // Key stability through the merge: a merged-dim version predates the
    // watermark iff valid_from <= WM (hist events all sort before the
    // batch, so version identities are preserved by the rebuild); those
    // keep the hist numbering, the rest extend it from count(hist)+1
    // under the same (user_id, version_no) order the engine uses.
    "scd2_surrogate_extend" ->
      s"""WITH hist AS (
         |  SELECT event_id, ts, user_id, event_type, value, props
         |  FROM events WHERE ts <= TIMESTAMP '$WM'),
         |latest AS (
         |  SELECT event_id, ts, user_id, event_type, value, props
         |  FROM (SELECT e.*, row_number() OVER
         |          (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
         |        FROM events e WHERE ts > TIMESTAMP '$WM')
         |  WHERE rn = 1),
         |allc AS (SELECT * FROM hist UNION ALL SELECT * FROM latest),
         |${dimSql("allc")},
         |old AS (
         |  SELECT user_id, version_no,
         |         row_number() OVER (ORDER BY user_id, version_no) AS surrogate_key
         |  FROM dim WHERE valid_from <= TIMESTAMP '$WM'),
         |fresh AS (
         |  SELECT user_id, version_no,
         |         (SELECT count(*) FROM old)
         |           + row_number() OVER (ORDER BY user_id, version_no) AS surrogate_key
         |  FROM dim WHERE valid_from > TIMESTAMP '$WM')
         |SELECT k.surrogate_key, d.user_id, d.version_no, d.is_current
         |FROM dim d
         |JOIN (SELECT * FROM old UNION ALL SELECT * FROM fresh) k
         |  USING (user_id, version_no)
         |ORDER BY surrogate_key""".stripMargin,

    "scd2_asof" ->
      s"""WITH ${dimSql("events")}
         |SELECT $dimColsSql FROM dim
         |WHERE valid_from <= TIMESTAMP '$ASOF'
         |  AND (valid_to > TIMESTAMP '$ASOF' OR valid_to IS NULL)
         |ORDER BY user_id""".stripMargin,

    "scd2_timeline" ->
      s"""WITH ${dimSql("events")}
         |SELECT user_id, version_no, valid_from,
         |       CASE WHEN is_current THEN 'Current'
         |            ELSE 'Expired: ' || strftime(valid_to, '%Y-%m-%d %H:%M:%S')
         |       END AS status
         |FROM dim ORDER BY user_id, version_no""".stripMargin,

    "cdc_watermark_scan" ->
      s"""SELECT event_id, ts, user_id, event_type, value, props,
         |       CASE WHEN first_ts > TIMESTAMP '$WM' THEN 'INSERT'
         |            ELSE 'UPDATE' END AS operation_type
         |FROM (SELECT e.*, min(ts) OVER (PARTITION BY user_id) AS first_ts
         |      FROM events e)
         |WHERE ts > TIMESTAMP '$WM'
         |ORDER BY event_id""".stripMargin,

    "cdc_dedup_last" ->
      s"""SELECT event_id, ts, user_id, event_type, value, props
         |FROM (SELECT e.*, row_number() OVER
         |        (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
         |      FROM events e)
         |WHERE rn = 1 ORDER BY user_id""".stripMargin,

    "scd2_merge_incremental" ->
      s"""WITH hist AS (
         |  SELECT event_id, ts, user_id, event_type, value, props
         |  FROM events WHERE ts <= TIMESTAMP '$WM'),
         |latest AS (
         |  SELECT event_id, ts, user_id, event_type, value, props
         |  FROM (SELECT e.*, row_number() OVER
         |          (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
         |        FROM events e WHERE ts > TIMESTAMP '$WM')
         |  WHERE rn = 1),
         |allc AS (SELECT * FROM hist UNION ALL SELECT * FROM latest),
         |${dimSql("allc")}
         |SELECT $dimColsSql FROM dim ORDER BY user_id, version_no""".stripMargin,

    "scd2_merge_deletes" ->
      s"""WITH e AS (
         |  SELECT event_id, ts, user_id, event_type, value, props,
         |         CASE WHEN event_type = 'error' THEN 'DELETE' ELSE 'UPSERT' END AS operation_type
         |  FROM events),
         |hist AS (SELECT * FROM e WHERE ts <= TIMESTAMP '$WM'),
         |${dimSql("hist")},
         |batch AS (
         |  SELECT * FROM (SELECT e2.*, row_number() OVER
         |      (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
         |    FROM e e2 WHERE ts > TIMESTAMP '$WM')
         |  WHERE rn = 1),
         |keymeta AS (
         |  SELECT user_id,
         |         greatest(max(valid_from), coalesce(max(valid_to), max(valid_from))) AS tl_end,
         |         max(version_no) AS max_vn,
         |         max(CASE WHEN is_current THEN 1 ELSE 0 END) AS has_cur
         |  FROM dim GROUP BY user_id),
         |routed AS (
         |  SELECT b.*, k.tl_end, k.max_vn, k.has_cur
         |  FROM batch b LEFT JOIN keymeta k USING (user_id)
         |  WHERE k.max_vn IS NULL OR b.ts > k.tl_end),
         |expired AS (
         |  SELECT d.user_id, d.event_id, d.event_type, d.value, d.props,
         |         d.valid_from, r.ts AS valid_to, false AS is_current,
         |         d.version_no, d.cdc_operation
         |  FROM dim d JOIN routed r USING (user_id) WHERE d.is_current),
         |curunch AS (
         |  SELECT user_id, event_id, event_type, value, props, valid_from,
         |         valid_to, is_current, version_no, cdc_operation
         |  FROM dim WHERE is_current AND user_id NOT IN (SELECT user_id FROM routed)),
         |histrows AS (
         |  SELECT user_id, event_id, event_type, value, props, valid_from,
         |         valid_to, is_current, version_no, cdc_operation
         |  FROM dim WHERE NOT is_current),
         |newv AS (
         |  SELECT user_id, event_id, event_type, value, props,
         |         ts AS valid_from, CAST(NULL AS TIMESTAMP) AS valid_to,
         |         true AS is_current,
         |         coalesce(max_vn, 0) + 1 AS version_no,
         |         CASE WHEN coalesce(has_cur, 0) = 1 THEN 'UPDATE' ELSE 'INSERT' END AS cdc_operation
         |  FROM routed WHERE operation_type <> 'DELETE')
         |SELECT $dimColsSql
         |FROM (SELECT * FROM histrows UNION ALL SELECT * FROM curunch
         |      UNION ALL SELECT * FROM expired UNION ALL SELECT * FROM newv)
         |ORDER BY user_id, version_no""".stripMargin,

    "upsert_routing" ->
      s"""WITH hist AS (SELECT * FROM events WHERE ts <= TIMESTAMP '$WM'),
         |${dimSql("hist")},
         |cur AS (SELECT user_id FROM dim WHERE is_current),
         |batch AS (
         |  SELECT event_id, ts, user_id
         |  FROM (SELECT e.*, row_number() OVER
         |          (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
         |        FROM events e WHERE ts > TIMESTAMP '$WM')
         |  WHERE rn = 1)
         |SELECT b.user_id, b.event_id, b.ts,
         |       CASE WHEN c.user_id IS NULL THEN 'INSERT' ELSE 'UPDATE' END AS routed_op
         |FROM batch b LEFT JOIN cur c ON b.user_id = c.user_id
         |ORDER BY b.user_id""".stripMargin,

    "scd2_summary_stats" ->
      s"""WITH ${dimSql("events")}
         |SELECT count(*) AS total_versions,
         |       count(CASE WHEN is_current THEN 1 END) AS current_rows,
         |       count(CASE WHEN NOT is_current THEN 1 END) AS historical_rows,
         |       count(DISTINCT user_id) AS distinct_keys,
         |       min(valid_from) AS earliest_valid_from,
         |       max(valid_from) AS latest_valid_from
         |FROM dim""".stripMargin,

    "source_stats" ->
      """SELECT count(*) AS total_orders,
        |       count(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS open_orders,
        |       count(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS finished_orders,
        |       count(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS pending_orders,
        |       max(o_orderdate) AS latest_order,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM orders""".stripMargin,

    "change_frequency" ->
      s"""WITH ${dimSql("events")}
         |SELECT user_id, count(*) AS n_versions,
         |       min(valid_from) AS first_seen,
         |       max(CASE WHEN is_current THEN valid_from END) AS current_since
         |FROM dim GROUP BY user_id ORDER BY n_versions DESC, user_id""".stripMargin,

    "dup_current_invariant" ->
      s"""WITH ${dimSql("events")}
         |SELECT user_id, count(*) AS n_current FROM dim WHERE is_current
         |GROUP BY user_id HAVING count(*) > 1 ORDER BY user_id""".stripMargin,

    "batch_id_hash" ->
      s"""SELECT md5('[' || string_agg(CAST(event_id AS VARCHAR), ',' ORDER BY event_id) || ']') AS batch_id,
         |       count(*) AS change_count
         |FROM events WHERE ts > TIMESTAMP '$WM'""".stripMargin,

    "approx_distinct_users" ->
      """SELECT event_type,
        |       count(DISTINCT user_id) AS exact_users,
        |       count(*) AS n,
        |       abs(CAST(approx_count_distinct(user_id) AS DOUBLE)
        |             - count(DISTINCT user_id))
        |         / count(DISTINCT user_id) <= 0.05 AS approx_within_tol
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    // each engine attests ITS OWN sketch path (the view-merged HLL on
    // the Spark side, approx_count_distinct here) against the shared
    // exact count — both hash-match on exact_users + `true`
    "distinct_view_users" ->
      """SELECT event_type,
        |       count(DISTINCT user_id) AS exact_users,
        |       abs(CAST(approx_count_distinct(user_id) AS DOUBLE)
        |             - count(DISTINCT user_id))
        |         / count(DISTINCT user_id) <= 0.05 AS view_within_tol
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    // exact_users must equal count(DISTINCT) over the REMAINING corpus
    // (the Spark side reads it from the retracted view's exact
    // companion — a hash mismatch means the retraction netted wrong);
    // the tolerance boolean attests each engine's own sketch path
    "distinct_view_retracted" ->
      """SELECT event_type,
        |       count(DISTINCT user_id) AS exact_users,
        |       abs(CAST(approx_count_distinct(user_id) AS DOUBLE)
        |             - count(DISTINCT user_id))
        |         / count(DISTINCT user_id) <= 0.05 AS view_within_tol,
        |       false AS hll_stale
        |FROM events WHERE user_id % 10 <> 7
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    "approx_value_percentiles" ->
      """SELECT l_returnflag,
        |       quantile_cont(l_quantity, 0.5) AS exact_p50,
        |       count(*) AS n,
        |       abs(CAST(approx_quantile(l_quantity, 0.5) AS DOUBLE)
        |             - quantile_cont(l_quantity, 0.5))
        |         <= quantile_cont(l_quantity, 0.5) * 0.05 AS approx_within_tol
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "event_type_stats" ->
      """SELECT event_type, count(*) AS n_events,
        |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_value,
        |       max(ts) AS latest_ts
        |FROM events
        |WHERE ts >= (SELECT max(ts) FROM events) - INTERVAL 7 DAY
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    "zorder_layout" ->
      s"""SELECT event_id, user_id,
         |       ${ZOrder.zvalueSql("user_id", "event_id")} AS zval
         |FROM events ORDER BY zval, event_id""".stripMargin,

    "zorder_bucketed" ->
      s"""WITH r AS (SELECT event_id, user_id,
         |                  row_number() OVER (ORDER BY value, event_id) AS rn,
         |                  count(*) OVER () AS n
         |           FROM events),
         |b AS (SELECT event_id, user_id,
         |             (rn - 1) * 65536 // n AS zbucket FROM r)
         |SELECT event_id, zbucket,
         |       ${ZOrder.zvalueSql("zbucket", "user_id")} AS zval
         |FROM b ORDER BY zval, event_id""".stripMargin,

    "event_anomalies" ->
      """WITH daily AS (SELECT event_type, date_trunc('day', ts) AS day,
        |                      count(*) AS n_events
        |               FROM events GROUP BY 1, 2),
        |st AS (SELECT event_type, count(*) AS nd,
        |              CAST(sum(n_events) AS BIGINT) AS s,
        |              CAST(sum(n_events * n_events) AS BIGINT) AS s2
        |       FROM daily GROUP BY event_type),
        |m AS (SELECT event_type, nd, s, s2,
        |             CAST(s AS DOUBLE) / nd AS mean,
        |             (CAST(s2 AS DOUBLE) - CAST(s AS DOUBLE) * (CAST(s AS DOUBLE) / nd)) / nd AS var
        |      FROM st WHERE nd > 1)
        |SELECT d.event_type, d.day, d.n_events,
        |       mean AS daily_mean,
        |       (CAST(d.n_events AS DOUBLE) - mean) / sqrt(var) AS z
        |FROM daily d JOIN m USING (event_type)
        |WHERE var > 0 AND abs((CAST(d.n_events AS DOUBLE) - mean) / sqrt(var)) >= 2.0
        |ORDER BY event_type, day""".stripMargin,

    "freshness_report" ->
      """WITH g AS (SELECT max(ts) AS hwm FROM events)
        |SELECT event_type, max(ts) AS latest_ts, count(*) AS n_events,
        |       CAST((epoch_us(hwm) - epoch_us(max(ts))) // 60000000 AS BIGINT) AS lag_minutes
        |FROM events, g GROUP BY event_type, hwm
        |ORDER BY event_type""".stripMargin,

    "funnel_conversion" ->
      """WITH c AS (SELECT user_id, min(ts) AS fc FROM events
        |           WHERE event_type = 'click' GROUP BY user_id),
        |p AS (SELECT user_id, ts AS pts FROM events
        |      WHERE event_type = 'purchase'),
        |u AS (SELECT c.user_id,
        |             max(CASE WHEN pts >= fc AND pts <= fc + INTERVAL 7 DAY
        |                      THEN 1 ELSE 0 END) AS conv
        |      FROM c LEFT JOIN p ON c.user_id = p.user_id
        |      GROUP BY c.user_id)
        |SELECT count(*) AS n_clickers,
        |       CAST(sum(conv) AS BIGINT) AS n_converted,
        |       CAST(sum(conv) AS DOUBLE) / count(*) AS conversion_rate
        |FROM u""".stripMargin,

    "retention_cohorts" ->
      """WITH f AS (SELECT user_id, min(date_trunc('week', ts)) AS cohort
        |           FROM events GROUP BY user_id)
        |SELECT cohort,
        |       CAST(date_diff('day', cohort, date_trunc('week', e.ts)) // 7
        |            AS BIGINT) AS week_offset,
        |       CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_active
        |FROM events e JOIN f USING (user_id)
        |GROUP BY 1, 2 ORDER BY cohort, week_offset""".stripMargin,

    "skew_report" ->
      """WITH per AS (SELECT user_id, count(*) AS n_rows
        |             FROM events GROUP BY user_id),
        |tot AS (SELECT CAST(sum(n_rows) AS BIGINT) AS t,
        |               count(*) AS kc FROM per)
        |SELECT user_id, n_rows,
        |       CAST(n_rows AS DOUBLE) / t AS share,
        |       CAST(n_rows AS DOUBLE) * kc / t AS skew_factor
        |FROM per, tot
        |ORDER BY n_rows DESC, user_id LIMIT 10""".stripMargin,

    "union_counts" ->
      s"""WITH ${dimSql("events")}
         |SELECT * FROM (
         |  SELECT 'events' AS label, count(*) AS n FROM events
         |  UNION ALL
         |  SELECT 'current_rows', count(*) FROM dim WHERE is_current
         |  UNION ALL
         |  SELECT 'historical_rows', count(*) FROM dim WHERE NOT is_current)
         |ORDER BY label""".stripMargin,

    "topk_orders" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin,

    "scalar_funcs" ->
      """SELECT event_id,
        |       date_trunc('day', ts) AS day_bucket,
        |       strftime(ts, '%Y%m%d_%H%M%S') AS ts_fmt,
        |       md5(CAST(event_id AS VARCHAR) || '|' || event_type) AS row_hash,
        |       CASE WHEN event_type = 'purchase' THEN 'completed'
        |            WHEN event_type = 'error' THEN 'failed'
        |            ELSE 'active' END AS status_label,
        |       'Event: ' || event_type AS label,
        |       CAST(floor(epoch(ts)) AS BIGINT) AS epoch_s,
        |       CAST(round(value * 100, 0) AS BIGINT) AS value_cents,
        |       json_extract_string(props, '$.k') AS k_str
        |FROM events ORDER BY event_id""".stripMargin,

    "pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))) AS DOUBLE) AS sum_disc_price,
        |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2))) * (CAST(1 AS DECIMAL(3,2)) + CAST(l_tax AS DECIMAL(3,2)))) AS DOUBLE) AS sum_charge,
        |       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_qty,
        |       count(*) AS count_order
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "brand_revenue_by_nation" ->
      """SELECT p_brand, n_name,
        |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))) AS DOUBLE) AS revenue,
        |       count(DISTINCT l_partkey) AS n_parts,
        |       count(*) AS n_items
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |GROUP BY p_brand, n_name ORDER BY p_brand, n_name""".stripMargin,

    "sample_hash_split" ->
      s"""SELECT doc_id,
         |       CASE WHEN ${keyHashSql("doc_id")} % 100 < 80 THEN 'train'
         |            WHEN ${keyHashSql("doc_id")} % 100 < 90 THEN 'valid'
         |            ELSE 'test' END AS split
         |FROM documents ORDER BY doc_id""".stripMargin,

    "sample_stratified" ->
      s"""SELECT doc_id, lang FROM (
         |  SELECT doc_id, lang,
         |         row_number() OVER (PARTITION BY lang
         |           ORDER BY ${keyHashSql("doc_id")}, doc_id) AS rn
         |  FROM documents)
         |WHERE rn <= 20 ORDER BY lang, doc_id""".stripMargin,

    // largest-remainder quotas replayed in pure SQL: the same integer
    // arithmetic the driver-side BigInt computation performs
    "sample_proportional" ->
      s"""WITH cnt AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
         |tot AS (SELECT CAST(sum(n) AS BIGINT) AS t FROM cnt),
         |fl AS (SELECT lang, CAST((200 * n) // t AS BIGINT) AS fl,
         |               CAST((200 * n) % t AS BIGINT) AS rem
         |        FROM cnt, tot),
         |bon AS (SELECT CAST(200 - sum(fl) AS BIGINT) AS b FROM fl),
         |q AS (SELECT lang,
         |             fl + (CASE WHEN row_number() OVER (ORDER BY rem DESC, lang)
         |                             <= b THEN 1 ELSE 0 END) AS quota
         |      FROM fl, bon),
         |r AS (SELECT doc_id, lang,
         |             CAST(row_number() OVER (PARTITION BY lang
         |               ORDER BY ${keyHashSql("doc_id")}, doc_id) AS BIGINT) AS samp_rank
         |      FROM documents)
         |SELECT doc_id, lang, samp_rank
         |FROM r JOIN q USING (lang) WHERE samp_rank <= quota
         |ORDER BY lang, samp_rank""".stripMargin,

    "token_buckets" ->
      s"""WITH $wordsSql,
         |toks AS (SELECT doc_id, len(w) AS n_tokens FROM words),
         |b AS (SELECT doc_id, n_tokens,
         |             CAST(ntile(10) OVER (ORDER BY n_tokens, doc_id) AS BIGINT) AS bucket
         |      FROM toks)
         |SELECT bucket, count(*) AS n_docs,
         |       CAST(min(n_tokens) AS BIGINT) AS min_tokens,
         |       CAST(max(n_tokens) AS BIGINT) AS max_tokens,
         |       CAST(sum(n_tokens) AS BIGINT) AS sum_tokens
         |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin,

    "pack_sequences" ->
      s"""WITH $wordsSql,
         |toks AS (SELECT doc_id, len(w) AS n_tokens FROM words),
         |off AS (SELECT doc_id, n_tokens,
         |               CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
         |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS o
         |        FROM toks)
         |SELECT CAST(o // 512 AS BIGINT) AS pack_id, count(*) AS n_docs,
         |       CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
         |       CAST(sum(CASE WHEN (o % 512) + n_tokens > 512 THEN 1 ELSE 0 END) AS BIGINT) AS n_straddlers
         |FROM off GROUP BY 1 ORDER BY pack_id""".stripMargin,

    // budgets replayed with the identical IEEE multiply + floor +
    // largest-remainder ranking; the greedy fill is the per-lang
    // quality-ordered window cumsum
    "select_budget_by_lang" ->
      s"""WITH $wordsSql,
         |${qualityScoredSql("base", "scored")},
         |wt AS (SELECT * FROM (VALUES
         |         ('de', CAST(0.15 AS DOUBLE)), ('en', CAST(0.35 AS DOUBLE)),
         |         ('es', CAST(0.15 AS DOUBLE)), ('fr', CAST(0.15 AS DOUBLE)),
         |         ('zh', CAST(0.20 AS DOUBLE))) AS t(lang, w)),
         |fl AS (SELECT lang, CAST(floor(20000 * w) AS BIGINT) AS fl,
         |              20000 * w - floor(20000 * w) AS rem FROM wt),
         |bon AS (SELECT CAST(20000 - sum(fl) AS BIGINT) AS b FROM fl),
         |q AS (SELECT lang,
         |             fl + (CASE WHEN row_number() OVER (ORDER BY rem DESC, lang)
         |                             <= b THEN 1 ELSE 0 END) AS bud
         |      FROM fl, bon),
         |j AS (SELECT d.lang, s.doc_id, s.n_tokens, s.quality_score
         |      FROM scored s JOIN documents d ON s.doc_id = d.doc_id),
         |c AS (SELECT lang, doc_id, n_tokens, quality_score,
         |             CAST(sum(n_tokens) OVER (PARTITION BY lang
         |               ORDER BY quality_score DESC, doc_id) AS BIGINT) AS cum
         |      FROM j)
         |SELECT c.lang, doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
         |       quality_score, cum AS cum_tokens
         |FROM c JOIN q USING (lang) WHERE cum <= bud
         |ORDER BY lang, cum_tokens""".stripMargin,

    "shard_manifest" ->
      s"""WITH $wordsSql,
         |toks AS (SELECT doc_id, len(w) AS n_tokens FROM words),
         |off AS (SELECT doc_id, n_tokens,
         |               CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
         |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS o
         |        FROM toks)
         |SELECT CAST(o // 4096 AS BIGINT) AS shard_id,
         |       count(*) AS n_docs,
         |       CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
         |       CAST(min(doc_id) AS BIGINT) AS first_doc,
         |       CAST(max(doc_id) AS BIGINT) AS last_doc,
         |       md5(string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id)) AS content_hash
         |FROM off GROUP BY 1 ORDER BY shard_id""".stripMargin,

    // end-to-end mirror of Curation.curationReport: each stage's SQL is
    // the same fragment its standalone oracle uses
    "curation_report" ->
      s"""WITH $curationReportCteSql
         |SELECT * FROM report ORDER BY doc_id""".stripMargin,

    "curation_funnel" ->
      s"""WITH $curationReportCteSql
         |SELECT count(*) AS n_docs,
         |       CAST(sum(CASE WHEN is_canonical THEN 1 ELSE 0 END) AS BIGINT) AS n_canonical,
         |       CAST(sum(CASE WHEN is_canonical AND quality_ok THEN 1 ELSE 0 END) AS BIGINT) AS n_quality,
         |       CAST(sum(CASE WHEN is_canonical AND quality_ok
         |                      AND NOT contaminated THEN 1 ELSE 0 END) AS BIGINT) AS n_clean,
         |       CAST(sum(CASE WHEN is_canonical AND quality_ok
         |                      AND NOT contaminated AND temp_keep THEN 1 ELSE 0 END) AS BIGINT) AS n_mixed,
         |       CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
         |FROM report""".stripMargin,

    "sample_temperature" ->
      s"""WITH $wordsSql,
         |per AS (SELECT lang, CAST(sum(len(w)) AS BIGINT) AS nt
         |        FROM words GROUP BY lang),
         |r AS (SELECT lang,
         |             sqrt(CAST((SELECT min(nt) FROM per) AS DOUBLE) /
         |                  CAST(nt AS DOUBLE)) AS rate
         |      FROM per)
         |SELECT doc_id, lang FROM documents JOIN r USING (lang)
         |WHERE ${keyHashSql("doc_id")} % 1000000 <
         |      CAST(floor(rate * 1000000) AS BIGINT)
         |ORDER BY doc_id""".stripMargin,

    "shuffle_global" ->
      """SELECT doc_id,
        |       md5('graft-42:' || CAST(doc_id AS VARCHAR)) AS skey,
        |       CAST(row_number() OVER (
        |         ORDER BY md5('graft-42:' || CAST(doc_id AS VARCHAR)), doc_id)
        |         AS BIGINT) AS train_order
        |FROM documents ORDER BY train_order""".stripMargin,

    "interleave_weighted" ->
      s"""SELECT doc_id, lang,
         |       CAST(row_number() OVER (ORDER BY pos, doc_id) AS BIGINT)
         |         AS train_order
         |FROM (SELECT doc_id, lang,
         |             (CAST(${keyHashSql("doc_id")} % 1000000 AS DOUBLE)
         |                / 1000000.0) /
         |             (CASE lang WHEN 'de' THEN CAST(0.15 AS DOUBLE)
         |                        WHEN 'en' THEN CAST(0.35 AS DOUBLE)
         |                        WHEN 'es' THEN CAST(0.15 AS DOUBLE)
         |                        WHEN 'fr' THEN CAST(0.15 AS DOUBLE)
         |                        WHEN 'zh' THEN CAST(0.20 AS DOUBLE)
         |              END) AS pos
         |      FROM documents)
         |ORDER BY train_order""".stripMargin,

    "pack_interleaved" ->
      s"""WITH $wordsSql,
         |pos AS (SELECT doc_id, len(w) AS n_tokens,
         |               (CAST(${keyHashSql("doc_id")} % 1000000 AS DOUBLE)
         |                  / 1000000.0) /
         |               (CASE lang WHEN 'de' THEN CAST(0.15 AS DOUBLE)
         |                          WHEN 'en' THEN CAST(0.35 AS DOUBLE)
         |                          WHEN 'es' THEN CAST(0.15 AS DOUBLE)
         |                          WHEN 'fr' THEN CAST(0.15 AS DOUBLE)
         |                          WHEN 'zh' THEN CAST(0.20 AS DOUBLE)
         |                END) AS p
         |        FROM words),
         |ord AS (SELECT n_tokens,
         |               row_number() OVER (ORDER BY p, doc_id) AS train_order
         |        FROM pos),
         |off AS (SELECT n_tokens,
         |               CAST(coalesce(sum(n_tokens) OVER (ORDER BY train_order
         |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS o
         |        FROM ord)
         |SELECT CAST(o // 512 AS BIGINT) AS pack_id, count(*) AS n_docs,
         |       CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
         |       CAST(sum(CASE WHEN (o % 512) + n_tokens > 512 THEN 1 ELSE 0 END) AS BIGINT) AS n_straddlers
         |FROM off GROUP BY 1 ORDER BY pack_id""".stripMargin,

    "select_token_budget" ->
      s"""WITH $wordsSql,
         |${qualityScoredSql("base", "scored")}
         |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens, quality_score,
         |       CAST(cum AS BIGINT) AS cum_tokens
         |FROM (SELECT doc_id, n_tokens, quality_score,
         |             sum(n_tokens) OVER (ORDER BY quality_score DESC, doc_id
         |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |      FROM scored)
         |WHERE cum <= 10000
         |ORDER BY quality_score DESC, doc_id""".stripMargin,

    "text_chunk_windows" ->
      s"""WITH $wordsSql,
         |k AS (SELECT doc_id, w, len(w) AS n,
         |             greatest(0, CAST(ceil((len(w) - 64) / 48.0) AS INT)) AS kk
         |      FROM words)
         |SELECT doc_id, CAST(i AS BIGINT) AS chunk_no,
         |       array_to_string(w[i * 48 + 1 : i * 48 + 64], ' ') AS chunk,
         |       CAST(least(64, n - i * 48) AS BIGINT) AS n_tokens
         |FROM k, LATERAL unnest(range(0, kk + 1)) AS tcw(i)
         |ORDER BY doc_id, chunk_no""".stripMargin,

    "vocab_topk" ->
      s"""WITH $wordsSql,
         |tok AS (SELECT doc_id, unnest(w) AS word FROM words),
         |perdoc AS (SELECT doc_id, word, CAST(count(*) AS BIGINT) AS tf
         |           FROM tok WHERE word <> '' GROUP BY doc_id, word)
         |SELECT word, CAST(sum(tf) AS BIGINT) AS tf,
         |       CAST(count(*) AS BIGINT) AS df
         |FROM perdoc GROUP BY word
         |ORDER BY tf DESC, word LIMIT 100""".stripMargin,

    // the sketch side is engine-local (the oracle cannot replay a
    // Spark SketchEstimator); rows are the exact top-20 and the
    // tolerance boolean must come back true for every one of them
    "vocab_approx_topk" ->
      s"""WITH $wordsSql,
         |tok AS (SELECT unnest(w) AS word FROM words),
         |perdoc AS (SELECT word, count(*) AS tf FROM tok
         |           WHERE word <> '' GROUP BY word)
         |SELECT word, CAST(tf AS BIGINT) AS tf, true AS sketch_ok
         |FROM perdoc ORDER BY tf DESC, word LIMIT 20""".stripMargin,

    "lm_score" ->
      s"""WITH $wordsSql,
         |tok AS (SELECT doc_id, unnest(w) AS word FROM words),
         |dc AS (SELECT doc_id, word, count(*) AS tf FROM tok
         |       WHERE word <> '' GROUP BY doc_id, word),
         |cv AS (SELECT word, sum(tf) AS ctf FROM dc GROUP BY word),
         |tot AS (SELECT CAST(sum(ctf) AS DOUBLE) AS n FROM cv),
         |lp AS (SELECT word, round(ln(CAST(ctf AS DOUBLE) / n), 6) AS logp
         |       FROM cv, tot)
         |SELECT dc.doc_id, CAST(sum(dc.tf) AS BIGINT) AS n_tokens,
         |       round(CAST(sum(CAST(lp.logp AS DECIMAL(20,6)) * dc.tf) AS DOUBLE)
         |             / sum(dc.tf), 6) AS avg_logp
         |FROM dc JOIN lp USING (word)
         |GROUP BY dc.doc_id ORDER BY doc_id""".stripMargin,

    "bpe_pair_counts" ->
      s"""WITH $wordsSql,
         |tok AS (SELECT unnest(w) AS word FROM words),
         |vocab AS (SELECT word, count(*) AS tf FROM tok
         |          WHERE word <> '' GROUP BY word)
         |SELECT substr(word, i, 2) AS pair, CAST(sum(tf) AS BIGINT) AS cnt
         |FROM vocab, LATERAL unnest(range(1, length(word))) AS t(i)
         |WHERE length(word) >= 2
         |GROUP BY pair ORDER BY cnt DESC, pair LIMIT 30""".stripMargin,

    // the fold wraps each char as a 1-element list so list_reduce's
    // accumulator is a VARCHAR[] (greedy left-to-right merge — a fresh
    // "p1p2" symbol is never p1, so a merge cannot chain within a rule)
    "bpe_merge_step" ->
      s"""WITH $wordsSql,
         |tok AS (SELECT unnest(w) AS word FROM words),
         |vocab AS (SELECT word, count(*) AS tf FROM tok
         |          WHERE word <> '' GROUP BY word),
         |mp AS (SELECT substr(pair, 1, 1) AS p1, substr(pair, 2, 1) AS p2
         |       FROM (SELECT substr(word, i, 2) AS pair, sum(tf) AS cnt
         |             FROM vocab, LATERAL unnest(range(1, length(word))) AS tp(i)
         |             WHERE length(word) >= 2
         |             GROUP BY pair ORDER BY cnt DESC, pair LIMIT 1)),
         |m AS (
         |  SELECT tf, list_reduce(
         |    list_transform([substr(word, i, 1) for i in range(1, length(word) + 1)], c -> [c]),
         |    (acc, x) -> CASE WHEN acc[-1] = p1 AND x[1] = p2
         |                     THEN list_append(acc[:-2], acc[-1] || x[1])
         |                     ELSE list_append(acc, x[1]) END) AS syms
         |  FROM vocab, mp)
         |SELECT syms[i] || ' ' || syms[i + 1] AS pair,
         |       CAST(sum(tf) AS BIGINT) AS cnt
         |FROM m, LATERAL unnest(range(1, len(syms))) AS t(i)
         |WHERE len(syms) >= 2
         |GROUP BY pair ORDER BY cnt DESC, pair LIMIT 30""".stripMargin,

    "source_kl" ->
      s"""WITH $wordsSql,
         |tok AS (SELECT source, unnest(w) AS word FROM words),
         |sw AS (SELECT source, word, count(*) AS tf FROM tok
         |       WHERE word <> '' GROUP BY source, word),
         |st AS (SELECT source, sum(tf) AS ns FROM sw GROUP BY source),
         |cw AS (SELECT word, sum(tf) AS ctf FROM sw GROUP BY word),
         |tot AS (SELECT CAST(sum(ctf) AS DOUBLE) AS n FROM cw),
         |terms AS (
         |  SELECT sw.source, st.ns,
         |         CAST(round((CAST(sw.tf AS DOUBLE) / st.ns) *
         |           ln((CAST(sw.tf AS DOUBLE) / st.ns) /
         |              (CAST(cw.ctf AS DOUBLE) / n)), 6)
         |           AS DECIMAL(20,6)) AS term
         |  FROM sw JOIN st USING (source) JOIN cw USING (word), tot)
         |SELECT source, CAST(max(ns) AS BIGINT) AS n_tokens,
         |       CAST(count(*) AS BIGINT) AS n_words,
         |       CAST(sum(term) AS DOUBLE) AS kl
         |FROM terms GROUP BY source ORDER BY source""".stripMargin,

    "text_oov_rate" ->
      s"""WITH $wordsSql,
         |tok AS (SELECT lang, unnest(w) AS word FROM words),
         |tk AS (SELECT lang, word FROM tok WHERE word <> ''),
         |vocab AS (SELECT word FROM (SELECT word, count(*) AS tf FROM tk
         |                            GROUP BY word
         |                            ORDER BY tf DESC, word LIMIT 20) vv)
         |SELECT lang, CAST(count(*) AS BIGINT) AS n_tokens,
         |       CAST(sum(CASE WHEN v.word IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
         |       CAST(sum(CASE WHEN v.word IS NULL THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS oov_rate
         |FROM tk LEFT JOIN vocab v ON tk.word = v.word
         |GROUP BY lang ORDER BY lang""".stripMargin,

    "doc_idf" ->
      s"""WITH $wordsSql,
         |tok AS (SELECT doc_id, unnest(w) AS word FROM words),
         |dw AS (SELECT DISTINCT doc_id, word FROM tok WHERE word <> ''),
         |dfq AS (SELECT word, count(*) AS dfc FROM dw GROUP BY word),
         |nq AS (SELECT count(*) AS n FROM documents),
         |per AS (SELECT dw.doc_id, ln(CAST(n AS DOUBLE) / dfc) AS idf
         |        FROM dw JOIN dfq ON dw.word = dfq.word, nq)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
         |       CAST(sum(CAST(idf AS DECIMAL(20,6))) AS DOUBLE) / count(*) AS mean_idf
         |FROM per GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "cap_per_source" ->
      s"""WITH $wordsSql,
         |${qualityScoredSql("base", "scored")},
         |j AS (SELECT s.doc_id, d.source, s.quality_score
         |      FROM scored s JOIN documents d ON s.doc_id = d.doc_id),
         |r AS (SELECT doc_id, source, quality_score,
         |        row_number() OVER (PARTITION BY source
         |          ORDER BY quality_score DESC, doc_id) AS grp_rank FROM j)
         |SELECT doc_id, source, quality_score, CAST(grp_rank AS BIGINT) AS grp_rank
         |FROM r WHERE grp_rank <= 5 ORDER BY source, grp_rank""".stripMargin,

    "corpus_mix" ->
      s"""WITH $wordsSql,
         |toks AS (SELECT lang, len(w) AS n_tokens FROM words),
         |per AS (SELECT lang, count(*) AS n_docs,
         |               CAST(sum(n_tokens) AS BIGINT) AS n_tokens
         |        FROM toks GROUP BY lang),
         |tw AS (SELECT per.*,
         |              CASE lang WHEN 'de' THEN CAST(0.15 AS DOUBLE)
         |                        WHEN 'en' THEN CAST(0.35 AS DOUBLE)
         |                        WHEN 'es' THEN CAST(0.15 AS DOUBLE)
         |                        WHEN 'fr' THEN CAST(0.15 AS DOUBLE)
         |                        WHEN 'zh' THEN CAST(0.20 AS DOUBLE)
         |                        ELSE NULL END AS target_weight
         |       FROM per),
         |tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS t FROM per)
         |SELECT lang, n_docs, n_tokens,
         |       CAST(n_tokens AS DOUBLE) / t AS share,
         |       target_weight,
         |       target_weight / (CAST(n_tokens AS DOUBLE) / t) AS dup_factor
         |FROM tw, tot ORDER BY lang""".stripMargin,

    "corpus_diff" ->
      s"""WITH s1 AS (
         |  SELECT ${keyHashSql("doc_id")} % 64 AS bucket, count(*) AS n_v1,
         |         md5(string_agg(CAST(doc_id AS VARCHAR) || ':' || md5(text), ','
         |           ORDER BY doc_id)) AS sig
         |  FROM documents GROUP BY 1),
         |s2 AS (
         |  SELECT ${keyHashSql("doc_id")} % 64 AS bucket, count(*) AS n_v2,
         |         md5(string_agg(CAST(doc_id AS VARCHAR) || ':' || md5(text), ','
         |           ORDER BY doc_id)) AS sig
         |  FROM documents WHERE ${keyHashSql("doc_id")} % 100 >= 10
         |  GROUP BY 1)
         |SELECT coalesce(s1.bucket, s2.bucket) AS bucket,
         |       coalesce(n_v1, 0) AS n_v1,
         |       coalesce(n_v2, 0) AS n_v2,
         |       CASE WHEN s1.sig IS NULL THEN 'added'
         |            WHEN s2.sig IS NULL THEN 'removed'
         |            ELSE 'changed' END AS status
         |FROM s1 FULL OUTER JOIN s2 ON s1.bucket = s2.bucket
         |WHERE s1.sig IS DISTINCT FROM s2.sig
         |ORDER BY bucket""".stripMargin,

    "corpus_datacard" -> {
      val (emailRe, phoneRe, ipRe) = graft.ops.TextOps.piiPatterns
      s"""WITH $wordsSql,
         |${qualityScoredSql("base", "scored")},
         |cut AS (SELECT quantile_cont(quality_score, 0.5) AS c FROM scored),
         |fp AS (SELECT doc_id, md5(array_to_string(list_sort(list_distinct(w)), ' ')) AS fingerprint
         |       FROM words),
         |k AS (SELECT fingerprint, min(doc_id) AS kid FROM fp GROUP BY fingerprint),
         |d AS (SELECT fp.doc_id, fp.doc_id <> k.kid AS is_dup
         |      FROM fp JOIN k USING (fingerprint)),
         |pii AS (SELECT doc_id,
         |               (len(regexp_extract_all(text, '$emailRe'))
         |                + len(regexp_extract_all(text, '$ipRe'))
         |                + len(regexp_extract_all(text, '$phoneRe'))) > 0 AS has_pii
         |        FROM documents),
         |per AS (SELECT lang, count(*) AS n_docs,
         |               CAST(sum(len(w)) AS BIGINT) AS n_tokens,
         |               sum(CASE WHEN is_dup THEN 1 ELSE 0 END) AS nd,
         |               sum(CASE WHEN quality_score >= c THEN 1 ELSE 0 END) AS nq,
         |               sum(CASE WHEN has_pii THEN 1 ELSE 0 END) AS np
         |        FROM words JOIN d USING (doc_id) JOIN scored USING (doc_id)
         |                   JOIN pii USING (doc_id), cut
         |        GROUP BY lang),
         |tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS tt FROM per)
         |SELECT lang, n_docs, n_tokens,
         |       CAST(n_tokens AS DOUBLE) / n_docs AS avg_doc_tokens,
         |       CAST(n_tokens AS DOUBLE) / tt AS token_share,
         |       CAST(nd AS DOUBLE) / n_docs AS dup_rate,
         |       CAST(nq AS DOUBLE) / n_docs AS quality_ok_rate,
         |       CAST(np AS DOUBLE) / n_docs AS pii_rate
         |FROM per, tot ORDER BY lang""".stripMargin
    },

    "epoch_materialize" ->
      s"""WITH $wordsSql,
         |toks AS (SELECT doc_id, lang, len(w) AS n_tokens FROM words),
         |per0 AS (SELECT lang, CAST(sum(n_tokens) AS BIGINT) AS nt
         |         FROM toks GROUP BY lang),
         |tot0 AS (SELECT CAST(sum(nt) AS BIGINT) AS t FROM per0),
         |fac AS (SELECT lang,
         |               (CASE lang WHEN 'de' THEN CAST(0.15 AS DOUBLE)
         |                          WHEN 'en' THEN CAST(0.35 AS DOUBLE)
         |                          WHEN 'es' THEN CAST(0.15 AS DOUBLE)
         |                          WHEN 'fr' THEN CAST(0.15 AS DOUBLE)
         |                          WHEN 'zh' THEN CAST(0.20 AS DOUBLE)
         |                          ELSE NULL END)
         |                 / (CAST(nt AS DOUBLE) / t) AS f
         |        FROM per0, tot0),
         |cp AS (SELECT toks.lang, n_tokens,
         |              CAST(floor(f) AS BIGINT) +
         |              (CASE WHEN ${keyHashSql("doc_id")} % 1000000 <
         |                      CAST(floor((f - floor(f)) * 1000000.0) AS BIGINT)
         |                    THEN 1 ELSE 0 END) AS copies
         |       FROM toks JOIN fac USING (lang)),
         |per AS (SELECT lang, count(*) AS n_docs,
         |               CAST(sum(copies) AS BIGINT) AS n_epoch_docs,
         |               CAST(sum(copies * n_tokens) AS BIGINT) AS n_epoch_tokens
         |        FROM cp GROUP BY lang),
         |tot AS (SELECT CAST(sum(n_epoch_tokens) AS BIGINT) AS te FROM per)
         |SELECT lang, n_docs, n_epoch_docs, n_epoch_tokens,
         |       CAST(n_epoch_tokens AS DOUBLE) / te AS achieved_weight
         |FROM per, tot ORDER BY lang""".stripMargin,

    "text_repetition" ->
      s"""WITH $wordsSql,
         |r AS (
         |  SELECT doc_id, len(w) - 2 AS n_ngrams,
         |         len(list_distinct([array_to_string(w[i:i+2], ' ') for i in range(1, len(w) - 1)])) AS n_distinct
         |  FROM words WHERE len(w) >= 3)
         |SELECT doc_id, CAST(n_ngrams AS BIGINT) AS n_ngrams,
         |       CAST(n_distinct AS BIGINT) AS n_distinct,
         |       CAST(1 AS DOUBLE) - CAST(n_distinct AS DOUBLE) / n_ngrams AS rep_ratio
         |FROM r ORDER BY doc_id""".stripMargin,

    "decontaminate" ->
      s"""WITH $winnowFpSql,
         |ex AS (SELECT doc_id, t.fp AS fp, ${keyHashSql("doc_id")} % 100 AS h
         |       FROM fp, LATERAL unnest(fps) AS t(fp)),
         |dfc AS (SELECT fp, count(*) AS d FROM ex GROUP BY fp),
         |cap AS (SELECT least(32, greatest(4, CAST(trunc(quantile_cont(d, 0.999)) AS BIGINT))) AS c FROM dfc),
         |keep AS (SELECT fp FROM dfc WHERE d <= (SELECT c FROM cap)),
         |tr AS (SELECT doc_id, fp FROM ex JOIN keep USING (fp) WHERE h < 90),
         |te AS (SELECT doc_id AS tdoc, fp FROM ex JOIN keep USING (fp) WHERE h >= 90),
         |sizes AS (SELECT doc_id, count(*) AS n_fps FROM tr GROUP BY doc_id),
         |hits AS (
         |  SELECT tr.doc_id, count(DISTINCT tr.fp) AS n_shared_fps,
         |         count(DISTINCT te.tdoc) AS n_test_docs
         |  FROM tr JOIN te ON tr.fp = te.fp
         |  GROUP BY tr.doc_id)
         |SELECT doc_id, n_fps, n_shared_fps, n_test_docs,
         |       CAST(n_shared_fps AS DOUBLE) / n_fps AS contamination
         |FROM hits JOIN sizes USING (doc_id)
         |WHERE CAST(n_shared_fps AS DOUBLE) / n_fps >= 0.2
         |ORDER BY doc_id""".stripMargin,

    "revenue_by_nation" ->
      """SELECT r_name, n_name,
        |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))) AS DOUBLE) AS revenue,
        |       count(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin,

    // mirror of [[Scd2.snapshotDiff]]: membership tagging + conditional
    // aggregation (at most one version row per key per snapshot)
    "snapshot_diff" ->
      s"""WITH ${dimSql("events")},
         |tagged AS (
         |  SELECT user_id, version_no, event_type, value,
         |         (valid_from <= TIMESTAMP '$DIFF_T1'
         |            AND (valid_to > TIMESTAMP '$DIFF_T1' OR valid_to IS NULL)) AS in1,
         |         (valid_from <= TIMESTAMP '$DIFF_T2'
         |            AND (valid_to > TIMESTAMP '$DIFF_T2' OR valid_to IS NULL)) AS in2
         |  FROM dim),
         |agg AS (
         |  SELECT user_id,
         |         max(CASE WHEN in1 THEN version_no END) AS old_version_no,
         |         max(CASE WHEN in2 THEN version_no END) AS new_version_no,
         |         max(CASE WHEN in1 THEN event_type END) AS old_event_type,
         |         max(CASE WHEN in2 THEN event_type END) AS new_event_type,
         |         max(CASE WHEN in1 THEN value END) AS old_value,
         |         max(CASE WHEN in2 THEN value END) AS new_value
         |  FROM tagged WHERE in1 OR in2 GROUP BY user_id)
         |SELECT user_id, old_version_no, new_version_no,
         |       old_event_type, new_event_type, old_value, new_value,
         |       CASE WHEN old_version_no IS NULL THEN 'INSERT'
         |            WHEN new_version_no IS NULL THEN 'DELETE'
         |            ELSE 'UPDATE' END AS change_type
         |FROM agg
         |WHERE old_version_no IS NULL OR new_version_no IS NULL
         |   OR old_version_no <> new_version_no
         |ORDER BY user_id""".stripMargin,

    // mirror of [[DedupOps.chunkDupStats]] (20-word chunks)
    "dedup_chunks" ->
      s"""WITH $wordsSql,
         |chunks AS (
         |  SELECT doc_id,
         |         md5(array_to_string(w[((i - 1) * 20 + 1):(i * 20)], ' ')) AS chunk_hash
         |  FROM words,
         |       LATERAL unnest(range(1, CAST(ceil(len(w) / 20.0) AS BIGINT) + 1)) AS t(i)),
         |cdf AS (SELECT chunk_hash, count(DISTINCT doc_id) AS d
         |        FROM chunks GROUP BY chunk_hash)
         |SELECT c.doc_id, count(*) AS n_chunks,
         |       CAST(sum(CASE WHEN cdf.d > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks,
         |       CAST(CAST(sum(CASE WHEN cdf.d > 1 THEN 1 ELSE 0 END) AS BIGINT) AS DOUBLE)
         |         / count(*) AS dup_chunk_ratio
         |FROM chunks c JOIN cdf USING (chunk_hash)
         |GROUP BY c.doc_id ORDER BY doc_id""".stripMargin,

    // mirror of [[DedupOps.keepBest]] over the dedup_groups construction:
    // the same recursive-CTE components walk, joined with the
    // text_quality score, best-per-group by (score DESC, doc_id)
    "dedup_keep_best" ->
      s"""WITH RECURSIVE $wordsSql,
         |$shSql,
         |$minhashChainSql,
         |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
         |pairs AS (
         |  SELECT doc_a, doc_b
         |  FROM inter JOIN sizes sa ON doc_a = sa.doc_id
         |             JOIN sizes sb ON doc_b = sb.doc_id
         |  WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.8),
         |edges AS (
         |  SELECT doc_a AS u, doc_b AS v FROM pairs
         |  UNION ALL SELECT doc_b, doc_a FROM pairs),
         |walk(u, l) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT e.u, w.l FROM edges e JOIN walk w ON w.u = e.v),
         |groups AS (SELECT u AS doc_id, min(l) AS group_id FROM walk GROUP BY u),
         |${qualityScoredSql("qb", "q")}
         |SELECT g.doc_id, g.group_id, q.quality_score,
         |       (row_number() OVER (PARTITION BY g.group_id
         |          ORDER BY q.quality_score DESC, g.doc_id) = 1) AS keep
         |FROM groups g JOIN q USING (doc_id)
         |ORDER BY doc_id""".stripMargin,

    // mirror of [[TextOps.bm25TopK]] (terms spark/join/window, k1=1.2,
    // b=0.75 pre-folded as 2.2 / 0.25 / 0.75; rational idf — no log, so
    // every op is an exact-rounded IEEE step in identical order)
    "text_bm25_topk" -> bm25OracleSql("TRUE"),
  )

  /** The BM25 oracle over the corpus restricted to `pred` — "TRUE" is
    * the inline/stored/merged twins' full corpus; a deletion predicate
    * models a retraction (the stored index after [[TextOps
    * .retractBm25Index]] scores bit-identically to a rebuild on the
    * remaining corpus, so the oracle IS the rebuild). */
  private def bm25OracleSql(pred: String): String =
      s"""WITH $wordsSql,
         |tf AS (
         |  SELECT doc_id, len(w) AS dl,
         |         len(list_filter(w, x -> x = 'spark')) AS tf_0,
         |         len(list_filter(w, x -> x = 'join')) AS tf_1,
         |         len(list_filter(w, x -> x = 'window')) AS tf_2
         |  FROM words WHERE $pred),
         |stats AS (
         |  SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT) AS sum_dl,
         |         CAST(sum(CASE WHEN tf_0 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_0,
         |         CAST(sum(CASE WHEN tf_1 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_1,
         |         CAST(sum(CASE WHEN tf_2 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_2
         |  FROM tf)
         |SELECT doc_id,
         |       (CAST(n_docs AS DOUBLE) - CAST(df_0 AS DOUBLE) + 0.5) / (CAST(df_0 AS DOUBLE) + 0.5)
         |         * ((CAST(tf_0 AS DOUBLE) * 2.2) / (CAST(tf_0 AS DOUBLE)
         |              + 1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE))))))
         |       + (CAST(n_docs AS DOUBLE) - CAST(df_1 AS DOUBLE) + 0.5) / (CAST(df_1 AS DOUBLE) + 0.5)
         |         * ((CAST(tf_1 AS DOUBLE) * 2.2) / (CAST(tf_1 AS DOUBLE)
         |              + 1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE))))))
         |       + (CAST(n_docs AS DOUBLE) - CAST(df_2 AS DOUBLE) + 0.5) / (CAST(df_2 AS DOUBLE) + 0.5)
         |         * ((CAST(tf_2 AS DOUBLE) * 2.2) / (CAST(tf_2 AS DOUBLE)
         |              + 1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE))))))
         |       AS bm25
         |FROM tf, stats
         |WHERE tf_0 + tf_1 + tf_2 > 0
         |ORDER BY bm25 DESC, doc_id LIMIT 10""".stripMargin
}
