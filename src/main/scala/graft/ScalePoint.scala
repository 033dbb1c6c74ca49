package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Measured scale slope for the three most expensive queries.
  *
  * The plan audits claim the heavy hitters are linear-at-scale (stored
  * postings broadcast-probed, df-capped candidate joins, one-scan batch
  * probes). This harness turns that prose into a measured point: it
  * deterministically scales the sf0.1 documents corpus 10× and times
  * `dedup_incremental`, `text_bm25_batch_topk`, and `text_containment`
  * at both scales, in the same session, with the same procedure.
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
      require(mx < 10000000L,
        s"buildScaled: $table.$c max id $mx >= 10^7 — the i*10^7 replica " +
          "shift would alias ids across replicas and corrupt every " +
          "id-keyed scale slope; raise the shift for this corpus")
    }
  }

  private[graft] def buildScaled(spark: SparkSession, baseDir: String,
                                 outDir: String): Unit = {
    buildScaledEmbeddings(spark, baseDir, outDir)
    buildScaledEvents(spark, baseDir, outDir)
    val docsTgt = Paths.get(s"$outDir/documents.parquet")
    if (builtComplete(docsTgt)) return
    engine.VersionPointer.deleteTree(docsTgt) // incomplete: rebuild
    Files.createDirectories(Paths.get(outDir))
    val base = spark.read.parquet(s"$baseDir/documents.parquet")
    requireIdsBelowShift(base, "documents", "doc_id")
    val alphabet = ('a' to 'z').mkString + ('0' to '9').mkString
    // deterministic per-replica permutation of the 36-char alphabet
    def cipher(rep: Int): String = {
      val arr = alphabet.toCharArray
      val rnd = new scala.util.Random(0x5ca1e + rep)
      for (j <- arr.length - 1 to 1 by -1) {
        val k = rnd.nextInt(j + 1)
        val t = arr(j); arr(j) = arr(k); arr(k) = t
      }
      new String(arr)
    }
    val textByRep = (1 until Replicas).foldLeft(
      when(col("_rep") === 0, col("text"))) { (acc, i) =>
      acc.when(col("_rep") === i, translate(col("text"), alphabet, cipher(i)))
    }
    val scaled = base
      .crossJoin(spark.range(Replicas).select(col("id").cast("int").as("_rep")))
      .select(
        (col("doc_id") + col("_rep").cast("long") * lit(10000000L)).as("doc_id"),
        textByRep.as("text"),
        col("lang"), col("source"), col("n_chars"))
    scaled.repartition(32).write.mode("overwrite")
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
    base
      .crossJoin(spark.range(Replicas).select(col("id").cast("int").as("_rep")))
      .select(
        (col("vec_id") + col("_rep").cast("long") * lit(10000000L)).as("vec_id"),
        embByRep.as("embedding"),
        col("label"))
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
    baseEv
      .crossJoin(spark.range(Replicas).select(col("id").cast("long").as("_rep")))
      .select(
        (col("event_id") + col("_rep") * lit(10000000L)).as("event_id"),
        col("ts"),
        (col("user_id") + col("_rep") * lit(10000000L)).as("user_id"),
        col("event_type"), col("value"), col("props"))
      .repartition(32).write.mode("overwrite").parquet(tgt.toString)
  }

  /** One measured invocation — shared with [[ScaleDeletion]] so the two
    * scale harnesses cannot diverge on the measurement primitive. */
  private[graft] def time[T](body: => T): (Double, T) = {
    val t0 = System.nanoTime()
    val r = body
    ((System.nanoTime() - t0) / 1e9, r)
  }

  /** The harness session + scaled-corpus bootstrap (build replicas,
    * JVM/codegen warmup) — shared with [[ScaleDeletion]]. */
  private[graft] def bootstrap(baseDir: String,
                               outDir: String): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    buildScaled(spark, baseDir, outDir)
    // JVM/codegen warmup outside measurement
    spark.read.parquet(s"$baseDir/documents.parquet").count()
    spark
  }

  def main(args: Array[String]): Unit = {
    val baseDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val outDir = if (args.length > 1) args(1) else "/tmp/graft_scale10x"
    val spark = bootstrap(baseDir, outDir)

    val results = for {
      (label, dir) <- Seq("base_sf0.1" -> baseDir, "scaled_10x" -> outDir)
      q <- Queries
    } yield {
      val fn = SparkEntry.queries(q)
      val (t1, rows) = time(fn(spark, dir).count())
      val (t2, _) = time(fn(spark, dir).count())
      println(f"$label%-11s $q%-22s cold=$t1%8.2fs warm=$t2%8.2fs rows=$rows")
      (label, q, t1, t2, rows)
    }
    println()
    for (q <- Queries) {
      val b = results.find(r => r._1 == "base_sf0.1" && r._2 == q).get
      val s = results.find(r => r._1 == "scaled_10x" && r._2 == q).get
      println(f"SLOPE $q%-22s cold=${s._3 / b._3}%5.2fx warm=${s._4 / b._4}%5.2fx " +
        f"(rows ${b._5} -> ${s._5})")
    }
    spark.stop()
  }
}
