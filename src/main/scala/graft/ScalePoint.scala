package graft

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Harness.time

/** Measured scale slopes. Usage:
  *
  *  - `graft.ScalePoint queries [baseDir] [outDir]` — the heavy
  *    declared queries at the base corpus and at 10×;
  *  - `graft.ScalePoint deletion [baseDir] [outDir]` — the deletion
  *    lifecycle at both scales;
  *  - `graft.ScalePoint bpek [sfDir] [k1,k2,...] [replicas]` — the BPE
  *    tokenizer's other axis, the learned-rule count k.
  *
  * `baseDir`/`sfDir` default to the sf0.1 test data dir, `outDir` (where
  * the 10× corpus is built once and kept) to /tmp/graft_scale10x.
  *
  * The plan audits claim the heavy hitters are linear-at-scale (stored
  * postings broadcast-probed, df-capped candidate joins, one-scan batch
  * probes). This harness turns that prose into measured points: it
  * deterministically scales the base corpus 10× and times each query at
  * both scales, in the same session, with the same procedure.
  *
  * Corpus construction (deterministic, generator-style): replica i of
  * each document applies a replica-keyed substitution cipher over
  * `[a-z0-9]` to the text (replica 0 is the original corpus). A
  * bijective char map preserves EVERY equality relation the text ops
  * key on — char 8-grams (winnow fingerprints), words (BM25 terms),
  * shingles — so each replica reproduces the original's intra-replica
  * near-dup/df structure exactly (same fingerprint df histogram, same
  * candidate densities, same adaptive caps), while cross-replica
  * grams/words diverge like independent vocabulary: scaling adds data
  * without manufacturing cross-replica duplicate pairs the sf0.1
  * distribution doesn't have. (A cheaper word-prefix perturbation
  * fails exactly there: winnowing is char-8-gram-based, and a 2-char
  * prefix leaves most 8-grams shared across replicas — measured 600×
  * output blowup.) doc_id moves to `doc_id + i·10⁷`, so the data-derived
  * workload preds (`doc_id % 97 = 0` batch queries, `% 4 < 3` index
  * subset) keep their selectivity: 10× corpus ⇒ 10× index and 10×
  * query batch — the honest scale-up of the whole workload, not just
  * the table.
  *
  * Each query runs twice per scale: run 1 includes the stored-index
  * build + shared-cache population for that dir (the "setup" cost the
  * bench amortizes into its setup phase), run 2 is the warm probe. The
  * slope of interest is scaled/base per run kind; ≲ 10× means linear.
  */
object ScalePoint {

  def main(args: Array[String]): Unit = Harness.sections("graft.ScalePoint", args)(
    "queries" -> queries, "deletion" -> deletion, "bpek" -> bpek)

  private val Replicas = 10
  // r14 adds the two heaviest new text ops: the bigram-LM score (the
  // largest count shuffle in the engine) and the BPE merge iteration
  // (vocab-pass claim). Embedding ops are excluded by design: the
  // cipher construction scales TEXT while preserving its equality
  // structure; replicating vectors would manufacture exact duplicates
  // the real distribution doesn't have. The third session adds the
  // full tokenization pass (bpe_encode_ids — corpus-linear explode +
  // vocab join) and the memorization audit (ngram_hotspots — one
  // shingle-keyed partial-agg shuffle).
  // r15 adds the embedding family, previously excluded because naive
  // replication manufactures exact duplicates. The honest construction
  // mirrors the text cipher: replica i applies a seeded coordinate
  // PERMUTATION + SIGN FLIPS to every vector — an orthogonal transform,
  // so every intra-replica cosine/L2 relation (near-dup pairs, cluster
  // structure, centroid distances) is preserved exactly, while
  // cross-replica dot products decorrelate like independent vectors:
  // 10× corpus, same per-replica geometry, no manufactured duplicates.
  // The r15 multimodal additions ride the same replica construction
  // for free: payloads derive from doc_id, and the replica shift moves
  // id % 256 and the (w, h) formula, so replica rasters/waveforms are
  // genuinely distinct — 10x docs means 10x real codec work, 10x index,
  // 10x probes.
  private val Queries =
    Seq("dedup_incremental", "text_bm25_batch_topk", "text_containment",
      "lm_bigram_score", "bpe_merge_step", "bpe_encode_ids",
      "ngram_hotspots",
      "semdedup", "ann_ivf_stored_topk", "embedding_near_dup_lsh",
      "multimodal_decode", "multimodal_phash_incremental",
      "multimodal_audio_features")

  /** The replica id shift. */
  private val Shift = 10000000L

  /** `df` crossed with `_rep` = 0 until `n`, replica 0 being `df` itself. */
  private def replicated(df: DataFrame, n: Int): DataFrame =
    df.crossJoin(df.sparkSession.range(n).select(col("id").cast("int").as("_rep")))

  /** `id` moved by `_rep` × `stride`. */
  private def shifted(id: String, stride: Long): Column =
    (col(id) + col("_rep").cast("long") * lit(stride)).as(id)

  /** `text` under replica `_rep`'s substitution cipher over `[a-z0-9]`
    * (a deterministic per-replica permutation of the alphabet), for
    * replicas 0 until `n`; replica 0 keeps the plain text. */
  private def cipheredText(n: Int): Column = {
    val alphabet = ('a' to 'z').mkString + ('0' to '9').mkString
    def cipher(rep: Int): String = {
      val arr = alphabet.toCharArray
      val rnd = new scala.util.Random(0x5ca1e + rep)
      for (j <- arr.length - 1 to 1 by -1) {
        val k = rnd.nextInt(j + 1)
        val t = arr(j); arr(j) = arr(k); arr(k) = t
      }
      new String(arr)
    }
    (1 until n).foldLeft(when(col("_rep") === 0, col("text"))) { (acc, i) =>
      acc.when(col("_rep") === i, translate(col("text"), alphabet, cipher(i)))
    }.as("text")
  }

  /** A scaled table counts as built only when Spark's `_SUCCESS` commit
    * marker is present: the harness outDir persists across runs, and a
    * run killed mid-write must be rebuilt, not silently measured
    * against a truncated table. Symlinks (earlier harness versions
    * linked unscaled tables through) never count. */
  private def builtComplete(tgt: java.nio.file.Path): Boolean =
    Files.exists(tgt) && !Files.isSymbolicLink(tgt) &&
      Files.exists(tgt.resolve("_SUCCESS"))

  /** The replica shift is i·10⁷ — sound ONLY while every base id stays
    * below 10⁷ (the sf0.1 generator tops out ~10⁵–10⁶). A larger base
    * dir would silently ALIAS ids across replicas — two replicas of
    * different rows colliding on one id — corrupting every id-keyed
    * slope (the distinct view's (grp, key) pairs, the deletion
    * predicates' selectivity), so the builders refuse loudly instead.
    * One tiny agg per build (the `builtComplete` check already
    * short-circuits rebuilt dirs before this runs). */
  private def requireIdsBelowShift(df: DataFrame, table: String,
                                   idCols: String*): Unit = {
    val row = df.agg(max(col(idCols.head)),
      idCols.tail.map(c => max(col(c))): _*).head()
    idCols.zipWithIndex.foreach { case (c, i) =>
      // max() over an EMPTY base table is null; getLong would NPE with
      // no hint of why — an empty base has no ids to alias, so it
      // passes trivially (the replica build just yields empty dirs)
      val mx = if (row.isNullAt(i)) -1L else row.getLong(i)
      require(mx < Shift,
        s"buildScaled: $table.$c max id $mx >= 10^7 — the i*10^7 replica " +
          "shift would alias ids across replicas and corrupt every " +
          "id-keyed scale slope; raise the shift for this corpus")
    }
  }

  private def buildScaled(spark: SparkSession, baseDir: String, outDir: String): Unit = {
    buildScaledEmbeddings(spark, baseDir, outDir)
    buildScaledEvents(spark, baseDir, outDir)
    val docsTgt = Paths.get(s"$outDir/documents.parquet")
    if (builtComplete(docsTgt)) return
    engine.VersionPointer.deleteTree(docsTgt) // incomplete: rebuild
    Files.createDirectories(Paths.get(outDir))
    val base = spark.read.parquet(s"$baseDir/documents.parquet")
    requireIdsBelowShift(base, "documents", "doc_id")
    replicated(base, Replicas)
      .select(shifted("doc_id", Shift), cipheredText(Replicas),
        col("lang"), col("source"), col("n_chars"))
      .repartition(32).write.mode("overwrite")
      .parquet(s"$outDir/documents.parquet")
    // the three queries only read documents, but Tables helpers expect a
    // complete dir — link the rest of the base tables in place
    val stream = Files.list(Paths.get(baseDir))
    try {
      stream.forEach { p =>
        val name = p.getFileName.toString
        val tgt = Paths.get(outDir, name)
        if (name != "documents.parquet" && !Files.exists(tgt))
          Files.createSymbolicLink(tgt, p.toAbsolutePath)
      }
    } finally stream.close()
  }

  /** Replica-keyed orthogonal transform of the embeddings table: replica
    * i permutes the 64 coordinates by a seeded shuffle and flips seeded
    * signs (replica 0 = original). Orthogonal ⇒ intra-replica geometry
    * preserved EXACTLY (up to float summation order); cross-replica
    * cosines decorrelate. vec_id += i·10⁷ keeps the workload predicates'
    * selectivity (the `% 4` stored-index subset, the `% 97`-style
    * batches), the same shift as the text replicas. Replaces a possible
    * pre-existing symlink (earlier harness versions linked embeddings
    * through unscaled). */
  private def buildScaledEmbeddings(spark: SparkSession, baseDir: String,
                                    outDir: String): Unit = {
    val tgt = Paths.get(s"$outDir/embeddings.parquet")
    if (builtComplete(tgt)) return
    Files.createDirectories(Paths.get(outDir))
    if (Files.isSymbolicLink(tgt)) Files.delete(tgt)
    else engine.VersionPointer.deleteTree(tgt) // incomplete: rebuild
    val base = spark.read.parquet(s"$baseDir/embeddings.parquet")
    requireIdsBelowShift(base, "embeddings", "vec_id")
    val dim = 64
    def permSigns(rep: Int): (Seq[Int], Seq[Float]) = {
      val rnd = new scala.util.Random(0xe3b0c4 + rep)
      val p = rnd.shuffle((0 until dim).toList)
      val s = Seq.fill(dim)(if (rnd.nextBoolean()) 1.0f else -1.0f)
      (p, s)
    }
    val embByRep = (1 until Replicas).foldLeft(
      when(col("_rep") === 0, col("embedding"))) { (acc, i) =>
      val (p, s) = permSigns(i)
      acc.when(col("_rep") === i, array((0 until dim).map(k =>
        element_at(col("embedding"), p(k) + 1) * lit(s(k))): _*))
    }
    replicated(base, Replicas)
      .select(shifted("vec_id", Shift), embByRep.as("embedding"), col("label"))
      .repartition(32).write.mode("overwrite")
      .parquet(tgt.toString)
  }

  /** Replica-shifted events table: replica i moves user_id and event_id
    * by i·10⁷ (the text/vector replicas' shift), keeping event_type, ts,
    * value, and props — 10× rows, 10× users per event type, the SAME
    * group set. Both shifts preserve the events-derived workload
    * predicates' residues: 10⁷ % 10 = 0 keeps the `user_id % 10 = 7`
    * retraction slice at 1/10 of every replica's users, and the
    * `event_id % 3` build/merge thirds keep partitioning each replica
    * ~evenly (the residue rotates per replica; the split stays ⅓/⅓/⅓).
    * So the distinct-view family scales honestly: 10× corpus ⇒ 10×
    * exact (grp, key) pairs, 10× retraction, same |groups|. Replaces a
    * possible pre-existing symlink (earlier harness versions linked
    * events through unscaled). Read via [[graft.engine.Tables.events]]
    * so the ns/µs timestamp-unit detection applies. */
  private def buildScaledEvents(spark: SparkSession, baseDir: String,
                                outDir: String): Unit = {
    val tgt = Paths.get(s"$outDir/events.parquet")
    if (builtComplete(tgt)) return
    Files.createDirectories(Paths.get(outDir))
    if (Files.isSymbolicLink(tgt)) Files.delete(tgt)
    else engine.VersionPointer.deleteTree(tgt) // incomplete: rebuild
    val baseEv = graft.engine.Tables.events(spark, baseDir)
    requireIdsBelowShift(baseEv, "events", "event_id", "user_id")
    replicated(baseEv, Replicas)
      .select(shifted("event_id", Shift), col("ts"), shifted("user_id", Shift),
        col("event_type"), col("value"), col("props"))
      .repartition(32).write.mode("overwrite").parquet(tgt.toString)
  }

  /** A measured row: `warm` is None for a single-run measurement. */
  private final case class Point(label: String, name: String, cold: Double,
                                 warm: Option[Double], rows: Long)

  /** The session plus the scaled corpus (built into `outDir` unless
    * already there) and a JVM/codegen warmup, run as `body` over the
    * base and the scaled dir; then each measured row's scaled/base
    * slope. */
  private def atBothScales(args: Array[String])(
      body: (SparkSession, String, String) => Seq[Point]): Unit = {
    val baseDir = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val outDir = args.lift(1).getOrElse("/tmp/graft_scale10x")
    val spark = Harness.session(32)
    buildScaled(spark, baseDir, outDir)
    // JVM/codegen warmup outside measurement
    spark.read.parquet(s"$baseDir/documents.parquet").count()
    val results = Seq("base_sf0.1" -> baseDir, "scaled_10x" -> outDir)
      .flatMap { case (label, dir) => body(spark, label, dir) }
    println()
    for (q <- results.map(_.name).distinct) {
      val b = results.find(r => r.label == "base_sf0.1" && r.name == q).get
      val s = results.find(r => r.label == "scaled_10x" && r.name == q).get
      val slope = (s.warm, b.warm) match {
        case (Some(sw), Some(bw)) => f"cold=${s.cold / b.cold}%5.2fx warm=${sw / bw}%5.2fx"
        case _ => f"slope=${s.cold / b.cold}%5.2fx"
      }
      println(f"SLOPE $q%-22s $slope (rows ${b.rows} -> ${s.rows})")
    }
    spark.stop()
  }

  /** One declared query at one scale: a cold run, then a warm one. */
  private def coldWarm(spark: SparkSession, label: String, dir: String, q: String): Point = {
    val fn = SparkEntry.queries(q)
    val (t1, rows) = time(fn(spark, dir).count())
    val (t2, _) = time(fn(spark, dir).count())
    println(f"$label%-11s $q%-22s cold=$t1%8.2fs warm=$t2%8.2fs rows=$rows")
    Point(label, q, t1, Some(t2), rows)
  }

  private def queries(args: Array[String]): Unit =
    atBothScales(args)((spark, label, dir) => Queries.map(coldWarm(spark, label, dir, _)))

  /** The DELETION lifecycle — the r16 verdict's ask: the tombstone →
    * compaction machinery had plan audits and small-scale specs but no
    * committed slope. Same corpus and procedure as [[queries]] (the
    * whole workload scales, indexes and deletion predicates included),
    * measuring:
    *
    *  - `purge_audit` — the 24-row cross-family certification sweep
    *    (cold includes building every tombstoned/retracted root for the
    *    scaled dir, warm is the pure screened multi-family read);
    *  - `text_bm25_retract_topk` — the retraction read path (cold builds
    *    the index + applies the `% 13 = 5` retraction, warm probes the
    *    screened postings against the adjusted side tables);
    *  - `distinct_view_retracted` — the retractable distinct view's
    *    read paths (both runs are steady-state probes of the exact
    *    companion joined with the rebuilt HLL: the root's build + two
    *    tagged merges + the `user_id % 10 = 7` retraction + the hll
    *    tick's sketch rebuild happen inside `purge_audit`'s COLD run,
    *    which builds every audit root first — the lifecycle-build slope
    *    is therefore carried by the audit's cold row, not this one);
    *  - a MASS-PURGE absorb + forced-compaction cycle on a fresh
    *    fingerprint index: one op-aware batch deletes a third of the
    *    corpus through [[graft.streaming.CdcStream.screenAndAbsorb]] with
    *    `autoBroadcastJoinThreshold = -1`, so every size-guarded
    *    tombstone screen MUST take the `Skew.maybeBroadcast` shuffle
    *    fallback (asserted on the screened probe's executed plan — the
    *    same check StoredIndexesSpec makes at small scale), then the
    *    `fingerprint` tick makes the purge physical and the harness
    *    fail-louds on any residual;
    *  - a time-travel purge over a multi-version snapshot store.
    *
    * The replica construction scales EVENTS too (user_id / event_id
    * shifted by i·10⁷), so the events-keyed distinct family scales with
    * everything else: 10× rows, 10× (grp, key) pairs, 10× retraction
    * slice, same group set. */
  private def deletion(args: Array[String]): Unit = atBothScales(args) { (spark, label, dir) =>
    val results = ArrayBuffer.empty[Point]
    for (q <- Seq("purge_audit", "text_bm25_retract_topk", "distinct_view_retracted"))
      results += coldWarm(spark, label, dir, q)
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
      results += Point(label, "mass_purge_build", tBuild, None, nDocs)
      results += Point(label, "mass_purge_absorb", tAbsorb, None, nDocs)
      results += Point(label, "mass_purge_probe", tProbe, None, nHits)
      results += Point(label, "mass_purge_compact", tCompact, None, nDocs)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)

    // time-travel purge over a MULTI-VERSION snapshot store — the r17
    // verdict's missing slope: three erasure requests queue O(|keys|)
    // each, ONE scheduled sweep pays the O(retained-window) rewrite — a
    // growing three-version store, every version rewritten, residual
    // audited.
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
    results += Point(label, "tt_purge_publish", tPublish, None, nKeys)
    results += Point(label, "tt_purge_queue", tQueue, None, nKeys)
    results += Point(label, "tt_purge_sweep", tSweep, None, nKeys)
    results += Point(label, "tt_purge_noop_sweep", tNoop, None, 0L)
    results.toSeq
  }

  /** The rule-count (k) axis of the BPE tokenizer loop. The corpus axis
    * is covered by [[queries]] (10× docs, ~linear). This measures the
    * OTHER axis — the learned-vocabulary size — which is where the r14
    * shape died: k chained fold projections (and k chained cache entries
    * in the trainer) grow Catalyst analysis time and plan depth
    * linearly, so k=32,000 merges would spend hours in analysis before
    * OOMing the driver. After the r15 restructure (trainer: eager
    * localCheckpoint per round, O(1) lineage; encode: ONE
    * nested-aggregate expression replaying a broadcast rule table) both
    * train and encode must be ~linear in k with FLAT per-plan analysis
    * time. This prints, per k (default 16, 64, 256):
    *
    *   - train_s    — full merge-loop training (k distributed argmax
    *                  rounds; linear in k by construction, the point is
    *                  the constant stays flat);
    *   - analyze_s  — encode plan resolution + physical planning ONLY
    *                  (queryExecution.executedPlan), the number that was
    *                  super-linear in the chained shape;
    *   - encode1_s / encode2_s — cold/warm full-corpus tokenization
    *                  (bpeEncodeIds: posexplode → vocab join → symbol
    *                  explode → id join → per-doc fold).
    *
    * replicas = 1 (default): the inline mode — train AND encode on the
    * sf corpus directly. The corpus's own 31-word vocabulary exhausts
    * the merge loop at ~89 rules (sum of word lengths bounds the pair
    * inventory), so this mode can't reach a realistic k.
    *
    * replicas = R > 1: the deep-k mode — the training vocabulary is the
    * sf corpus under R replica ciphers (the [[queries]] construction:
    * bijective char maps preserve the per-replica word-length/tf
    * structure exactly while replica vocabularies diverge like
    * independent languages), giving ~89·R learnable rules. Training
    * runs FROM THE STORED VOCAB VIEW (bpeTrainFromVocab — the production
    * 100 TB shape, O(view) per round, no corpus pass), the k-rule
    * tokenizer publishes, and the encode measures the FIXED base corpus
    * under the stored artifact (bpeEncodeIdsStored), so the k axis moves
    * alone: train_s(k) at constant view size, analyze_s/encode_s(k) at
    * constant corpus. */
  private def bpek(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val ks = args.lift(1).fold(Seq(16, 64, 256))(_.split(",").map(_.toInt).toSeq)
    val replicas = args.lift(2).fold(1)(_.toInt)
    val spark = Harness.session(32)
    val docs = graft.engine.Tables.documents(spark, sfDir)
    docs.count() // scan warmup outside measurement

    if (replicas <= 1) {
      for (k <- ks) {
        val (tTrain, nRules) =
          time(graft.ops.TextOps.bpeTrain(docs, k).count())
        val enc = graft.ops.TextOps.bpeEncodeIds(docs, k)
        val (tAnalyze, _) = time(enc.queryExecution.executedPlan)
        val (tEnc1, rows) = time(enc.count())
        val (tEnc2, _) =
          time(graft.ops.TextOps.bpeEncodeIds(docs, k).count())
        println(f"k=$k%-4d rules=$nRules%-4d train=$tTrain%8.2fs " +
          f"analyze=$tAnalyze%6.3fs encode1=$tEnc1%7.2fs " +
          f"encode2=$tEnc2%7.2fs rows=$rows")
      }
    } else {
      // replica namespace derived from the corpus itself: a fixed
      // constant would silently merge distinct replica rows whenever
      // base doc_ids reach it (larger-sf corpora)
      val repStride = docs.agg(max(col("doc_id"))).head().getLong(0) + 1L
      val scaled = replicated(docs, replicas)
        .select(shifted("doc_id", repStride), cipheredText(replicas))
      val work = Files.createTempDirectory("bpe_k_axis").toString
      val viewPath = s"$work/vocab_view"
      val (tView, _) =
        time(graft.ops.TextOps.buildVocabIndex(scaled, viewPath))
      println(f"view build (${replicas}x vocab): $tView%.2fs")
      for (k <- ks) {
        val (tTrain, nRules) = time(
          graft.ops.TextOps.bpeTrainFromVocab(spark, viewPath, k).count())
        val tokPath = s"$work/tok_$k"
        // reuses the memoized training — times only the id-table build
        graft.ops.TextOps.buildTokenizerFromView(spark, viewPath, k, tokPath)
        val enc = graft.ops.TextOps.bpeEncodeIdsStored(spark, docs, tokPath)
        val (tAnalyze, _) = time(enc.queryExecution.executedPlan)
        val (tEnc1, rows) = time(enc.count())
        val (tEnc2, _) = time(
          graft.ops.TextOps.bpeEncodeIdsStored(spark, docs, tokPath).count())
        println(f"k=$k%-5d rules=$nRules%-5d train=$tTrain%8.2fs " +
          f"analyze=$tAnalyze%6.3fs encode1=$tEnc1%7.2fs " +
          f"encode2=$tEnc2%7.2fs rows=$rows")
      }
    }
    spark.stop()
  }
}
