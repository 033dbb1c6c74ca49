package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.engine.{Caches, Compaction, Skew}
import graft.functions.VectorExpressions

/** Embedding similarity search: brute-force cosine top-k (the exactness
  * baseline), label-blocked (IVF-style) near-dup pairing, and
  * random-hyperplane LSH signatures (the scale path).
  *
  * Determinism: float→double widening is exact and float×double products
  * are exact in double, so an in-order fold (`aggregate` over `zip_with`)
  * produces bit-identical dot products to the oracle's `list_reduce` left
  * fold. LSH hyperplane signs are derived from md5 parity, so both engines
  * generate the same planes with no RNG.
  *
  * Scale: brute-force is O(n) per query and embarrassingly parallel;
  * all-pairs work is bounded by blocking (label cells / LSH buckets)
  * instead of the quadratic full join.
  */
object SimilarityOps {

  /** embedding float array → double array column "v". */
  def asDoubleVec(c: Column): Column = transform(c, x => x.cast("double"))

  /** Dimensionality of the `v` double-vector column, read from one row —
    * a driver-side constant every PQ plan is sliced by (hardcoding it
    * would silently train codebooks on truncated subspaces for any
    * non-matching corpus). */
  private def embeddingDims(e: DataFrame): Int = {
    val first = e.select(size(col("v"))).limit(1).collect()
    require(first.nonEmpty, "embedding corpus is empty")
    first(0).getInt(0)
  }

  /** In-order dot product of two double-array columns — the portable
    * higher-order-function formulation (bit-identical to [[graft.functions.DotProduct]]). */
  def dotExpr(a: String, b: String): Column =
    expr(s"aggregate(zip_with($a, $b, (x, y) -> x * y), cast(0.0 as double), (acc, x) -> acc + x)")

  /** Native codegen'd dot product (requires [[VectorExpressions.register]]). */
  private def dot(a: String, b: String): Column = expr(s"graft_dot($a, $b)")

  private def cosine(a: String, b: String): Column =
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))

  /** Brute-force cosine top-k neighbors of `queryId` (rounded to 6 dp with
    * vec_id tie-break for a total order). */
  def cosineTopK(embeddings: DataFrame, queryId: Long, k: Int): DataFrame = {
    VectorExpressions.register(embeddings.sparkSession)
    val e = embeddings.select(col("vec_id"), asDoubleVec(col("embedding")).as("v"))
    val q = e.filter(col("vec_id") === queryId).select(col("v").as("qv"))
    e.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= queryId)
      .select(col("vec_id"), round(cosine("v", "qv"), 6).as("cosine"))
      .orderBy(desc("cosine"), col("vec_id"))
      .limit(k)
  }

  /** Near-duplicate pairs by cosine within label blocks (IVF cells with
    * given assignments), on a deterministic 1/`modulus` sample. Blocking +
    * sampling bound the pair count at any scale; the full-corpus variant
    * swaps the sample filter for LSH-bucket blocking. */
  def sampledNearDupPairs(embeddings: DataFrame, modulus: Int,
                          threshold: Double): DataFrame = {
    VectorExpressions.register(embeddings.sparkSession)
    val e = embeddings
      .filter(col("vec_id") % modulus === 0)
      .select(col("vec_id"), col("label"), asDoubleVec(col("embedding")).as("v"))
    e.as("a")
      .join(e.as("b"),
        col("a.label") === col("b.label") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.label").as("label"),
        col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        round(cosine("a.v", "b.v"), 6).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** ±1 hyperplane components, plane p × dimension j, derived from the
    * parity of md5("p_j")'s first hex digit — an RNG-free construction
    * both engines can reproduce exactly. Evaluated once driver-side and
    * shipped as literals (leaving the md5 in the plan re-derives ~1M
    * constants per input row inside a non-codegen HOF). */
  def planeSigns(planes: Int, dims: Int): Seq[Seq[Double]] =
    (0 until planes).map { p =>
      (0 until dims).map { j =>
        val digest = java.security.MessageDigest.getInstance("MD5")
          .digest(s"${p}_$j".getBytes("UTF-8"))
        val firstHex = "%02x".format(digest(0)).charAt(0)
        if (firstHex > '7') 1.0 else -1.0
      }
    }

  /** Random-hyperplane LSH: `planes` sign bits per vector, using plane
    * indices `offset until offset+planes` (disjoint offsets give
    * independent signature tables for multi-table OR-ing). Shuffle-free
    * per-row computation; bucketing on the signature replaces all-pairs
    * search. */
  def lshSignature(planes: Int, offset: Int = 0,
                   dims: Int = 64): Column = {
    // dims must match the corpus: graft_dot folds to the SHORTER of its
    // two arrays, so a 64-plane literal against 128-dim vectors would
    // silently sign only the first half of every vector — callers that
    // read the corpus derive dims from it (embeddingDims)
    val bits = planeSigns(offset + planes, dims).drop(offset).map { signs =>
      val litArr = signs.map(s => s"${s}D").mkString("array(", ", ", ")")
      when(expr(s"graft_dot(v, $litArr)") >= 0, "1").otherwise("0")
    }
    concat(bits: _*)
  }

  /** IVF-style ANN with given cell assignments (`label`): centroids are
    * per-label elementwise sums (scale-invariant under cosine, and exact
    * via decimal accumulation → engine-portable), the query probes its
    * nearest centroid's cell only, then brute-forces top-k inside it.
    * At 100 TB this is the standard two-stage ANN shape: the centroid
    * table is tiny and broadcast, and only 1/|cells| of the corpus is
    * scanned per query. */
  /** The cached (vec_id, label, v) table behind [[ivfTopK]] — shared
    * across its probe and centroid sides (and across bench runs). */
  def labeledVecs(embeddings: DataFrame): DataFrame =
    Caches.ensureCached(embeddings.select(col("vec_id"), col("label"),
      asDoubleVec(col("embedding")).as("v")))

  /** Per-label centroid sums for the given-cells IVF — ONE wide
    * aggregate (64 decimal buffers per group, map-side partial combine;
    * no posexplode row expansion, no second shuffle to re-assemble the
    * array; decimal sums are order-independent, so values match the
    * per-dimension formulation). Cached: it is a corpus-wide aggregate
    * that every probe reuses unchanged — 8 rows of state, one build. */
  def givenCellCentroids(embeddings: DataFrame): DataFrame = {
    val vecs = labeledVecs(embeddings)
    // dims derived from the corpus, not assumed: a hardcoded width
    // would silently sum a truncated prefix of wider vectors and rank
    // probe cells against wrong centroids (the same hazard class the
    // PQ paths guard with embeddingDims)
    val dims = embeddingDims(vecs)
    Caches.ensureCached(vecs.groupBy("label")
      .agg(array((0 until dims).map(p =>
        sum(element_at(col("v"), p + 1).cast("decimal(18,9)")).cast("double")): _*)
        .as("c")))
  }

  def ivfTopK(embeddings: DataFrame, queryId: Long, k: Int): DataFrame = {
    VectorExpressions.register(embeddings.sparkSession)
    val e = labeledVecs(embeddings)
    val cent = givenCellCentroids(embeddings)
    val q = e.filter(col("vec_id") === queryId).select(col("v").as("qv"))
    val best = cent.crossJoin(broadcast(q))
      .orderBy(cosine("c", "qv").desc, col("label"))
      .select("label").limit(1)
    e.join(broadcast(best), "label")
      .crossJoin(broadcast(q))
      .filter(col("vec_id") =!= queryId)
      .select(col("vec_id"), col("label"), round(cosine("v", "qv"), 6).as("cosine"))
      .orderBy(desc("cosine"), col("vec_id"))
      .limit(k)
  }

  /** Squared-L2 distance between a vector column and a fixed centroid:
    * the codegen'd [[graft.functions.SquaredL2]], whose in-order fold
    * `((0 + d0²) + d1²) + …` matches the portable HOF formulation and the
    * oracle's left fold bit-for-bit — assignments are bit-reproducible.
    * Centroids travel as typed literals through `call_function` (never
    * SQL text, which would round-trip doubles through strings). */
  private def dist2(v: Column, centroid: Seq[Double]): Column =
    call_function("graft_l2sq", v, typedlit(centroid))

  /** Nearest-centroid id (0-based) for a vector column: first index
    * achieving the minimal distance, so ties break to the lowest cluster
    * — the same rule the oracle's `ORDER BY dist, cl LIMIT 1` applies. */
  def assignCluster(v: Column, centroids: Seq[Seq[Double]]): Column = {
    val dists = array(centroids.map(c => dist2(v, c)): _*)
    (array_position(dists, array_min(dists)) - 1).cast("int")
  }

  /** Per-projection budget of INLINED kernel calls. A projection whose
    * expressions inline more `graft_l2sq` calls than this risks
    * janino's 64 KB generated-method limit — the whole stage then
    * attempts a doomed compile and falls back to interpreted execution
    * with a stack-trace warning per task (observed at PQ geometry
    * m=16 × ksub=64 = 1024 calls; the committed 16×16 = 256 stays
    * comfortably codegen'd). Past the budget, [[distArray]] switches
    * to ONE `transform` over a literal centroid matrix per subspace —
    * CodegenFallback by construction, but a deliberate, quiet one
    * (and for the per-QUERY distance tables the evaluated rows number
    * |queries|, so the representation is performance-neutral there).
    * 384, not 512: the m×ksub PQ calls share their projection with a
    * few more expressions (the coarse k-cell assignment, the ADC
    * chain), and 512-call configs were measured to still blow the
    * limit — the committed 16×16 = 256 keeps comfortable headroom. */
  private val MaxInlinedKernelCalls = 384

  /** Distances from a vector column to each centroid, as an array
    * column — inlined per-centroid kernel calls (codegen'd) under the
    * [[MaxInlinedKernelCalls]] budget, a literal-matrix `transform`
    * above it. Element order = centroid order in both forms, and both
    * apply the same `graft_l2sq` fold, so downstream `array_position`
    * tie-breaks and ADC lookups are bit-identical either way.
    * `projectionCalls` is the TOTAL inlined calls the enclosing
    * projection would carry (m × ksub for the PQ paths — the budget is
    * per generated method, not per expression). */
  private def distArray(v: Column, cents: Seq[Seq[Double]],
                        projectionCalls: Int): Column =
    if (projectionCalls <= MaxInlinedKernelCalls)
      array(cents.map(c => dist2(v, c)): _*)
    else
      transform(typedlit(cents.map(c => c: Seq[Double])),
        c => call_function("graft_l2sq", v, c))

  /** [[assignCluster]] through [[distArray]] — the PQ encode form,
    * where m per-subspace assignments share one projection and the
    * call budget is m × ksub. */
  private def assignClusterBudgeted(v: Column, cents: Seq[Seq[Double]],
                                    projectionCalls: Int): Column = {
    val dists = distArray(v, cents, projectionCalls)
    (array_position(dists, array_min(dists)) - 1).cast("int")
  }

  /** Squared-L2 distance to the NEAREST centroid — the per-vector
    * quantization error whose corpus mean is the index-quality metric
    * behind [[shouldRetrain]]. */
  private def assignedDist2(v: Column, centroids: Seq[Seq[Double]]): Column =
    array_min(array(centroids.map(c => dist2(v, c)): _*))

  /** Deterministic Lloyd's k-means over (vec_id, v) rows: init = the `k`
    * lowest vec_ids in id order (seeded, engine-portable — production
    * would swap in k-means||), then `iters` fixed iterations of
    * assign-by-L2 / per-dimension mean. Means accumulate in DECIMAL
    * (order-independent) and divide as doubles (one IEEE op), so every
    * iteration — and therefore the final assignment — is bit-identical to
    * the oracle's unrolled CTE chain. An emptied cluster keeps its
    * previous centroid. Per iteration: one distributed assignment pass +
    * one (cluster, dim) shuffle; only the k×dims means are collected —
    * the same driver-sized control flow MLlib's k-means uses. */
  def kmeansCentroids(vecs: DataFrame, k: Int, iters: Int): Seq[Seq[Double]] = {
    // Session-scoped training memo: the same (input plan, k, iters)
    // training is requested by several read paths (inline IVF probe,
    // stored-index build, every PQ subspace × every PQ query), and
    // re-running identical deterministic Lloyd's per query was the
    // engine's one repeated-full-corpus-pass pattern. Input files are
    // assumed stable within a session (the same assumption Spark's own
    // relation cache makes).
    // weak session id: the memo must not pin closed sessions (values
    // are plain doubles, so the id is the only session reference)
    val key = (Caches.sessionId(vecs.sparkSession), Caches.planKey(vecs), k, iters)
    kmeansMemo.get(key).getOrElse(
      // in-flight dedup, same rationale as [[kmeansCentroidsBatch]]:
      // concurrent warm chains requesting the SAME coarse training
      // serialize; the loser memo-hits instead of re-running Lloyd's
      trainingLock(key) {
        kmeansMemo.getOrElseUpdate(key, kmeansCentroidsUncached(vecs, k, iters))
      })
  }

  private val kmeansMemo = graft.engine.Caches
    .sessionMemo[(String, String, Int, Int), Seq[Seq[Double]]]()

  private def kmeansCentroidsUncached(vecs: DataFrame, k: Int,
                                      iters: Int): Seq[Seq[Double]] = {
    VectorExpressions.register(vecs.sparkSession)
    // When the caller already passes exactly (vec_id, v) — every
    // pqSlices/ev64 path does — reuse its frame VERBATIM: the extra
    // `.select` used to wrap a no-op Project over the slice plan, which
    // the CacheManager's normalized-plan lookup does not collapse, so a
    // cold training persisted a SECOND copy of every slice (m duplicate
    // cache entries per corpus, doubling executor storage for the
    // training inputs — the r20 advisor finding).
    val e = Caches.ensureCached(
      if (vecs.columns.toSeq == Seq("vec_id", "v")) vecs
      else vecs.select(col("vec_id"), col("v")))
    val init: Seq[Seq[Double]] = e.orderBy("vec_id").limit(k)
      .select("v").collect().toSeq.map(_.getSeq[Double](0).toIndexedSeq)
    val dims = init.headOption.map(_.length).getOrElse(0)
    // per-dimension means as ONE wide aggregate row per cluster: `dims`
    // decimal sum buffers ride a single hash aggregate with map-side
    // partial combine — no posexplode, so no dims× row expansion at scale.
    // The identical count(1) aggregate is deduplicated by planning, and
    // decimal sums are order-independent, so every mean is bit-identical
    // to the per-dimension formulation the oracle unrolls.
    val meanCols = (0 until dims).map { p =>
      (sum(element_at(col("v"), p + 1).cast("decimal(30,9)")).cast("double") /
        count(lit(1))).as(s"m_$p")
    }
    (1 to iters).foldLeft(init) { (cents, _) =>
      val means = e.withColumn("cl", assignCluster(col("v"), cents))
        .groupBy("cl").agg(meanCols.head, meanCols.tail: _*)
        .collect()
        .map(r => r.getInt(0) -> (0 until dims).map(p => r.getDouble(1 + p)))
        .toMap
      // an emptied cluster keeps its previous centroid
      cents.zipWithIndex.map { case (c, ci) => means.getOrElse(ci, c.toIndexedSeq) }
    }
  }

  /** IVF ANN over TRAINED cells: k-means centroids (not given labels),
    * corpus assigned to its nearest centroid, the query probes its
    * `nprobe` nearest cells, brute-force cosine top-k inside them. Same
    * two-stage scale shape as [[ivfTopK]] — tiny broadcast centroid
    * table, nprobe/k of the corpus scanned per query — with the training
    * step a real pipeline needs on an unlabeled corpus. `nprobe` is the
    * recall/latency dial: 1 = fastest, k = exhaustive (provably equal to
    * brute force — asserted in OpsSpec). */
  def ivfKmeansTopK(embeddings: DataFrame, queryId: Long, topK: Int,
                    k: Int = 8, iters: Int = 2, nprobe: Int = 1): DataFrame = {
    val spark = embeddings.sparkSession
    VectorExpressions.register(spark)
    import spark.implicits._
    val e = embeddings.select(col("vec_id"), asDoubleVec(col("embedding")).as("v"))
    val cents = kmeansCentroids(e, k, iters)
    val assigned = e.withColumn("cluster",
      assignCluster(col("v"), cents).cast("long"))
    val q = e.filter(col("vec_id") === queryId).select(col("v").as("qv"))
    // nprobe nearest cells by the same in-order L2 fold used for
    // assignment (ties → lowest cluster), mirroring the oracle's
    // ORDER BY dist, cl LIMIT nprobe
    val centsDf = cents.zipWithIndex
      .map { case (c, i) => (i.toLong, c) }.toDF("cluster", "c")
    val probed = centsDf.crossJoin(broadcast(q))
      .orderBy(call_function("graft_l2sq", col("c"), col("qv")), col("cluster"))
      .select("cluster").limit(nprobe)
    assigned.join(broadcast(probed), "cluster")
      .crossJoin(broadcast(q))
      .filter(col("vec_id") =!= queryId)
      .select(col("vec_id"), col("cluster"), round(cosine("v", "qv"), 6).as("cosine"))
      .orderBy(desc("cosine"), col("vec_id"))
      .limit(topK)
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): SEMANTIC
    * deduplication by k-means cluster blocking — paraphrase-level
    * duplicates that share no text n-gram embed close together, so the
    * embedding space is where they are findable. The corpus is clustered
    * with the deterministic [[kmeansCentroids]] (the same training every
    * IVF path replays), pairwise cosine runs only WITHIN a cluster, and
    * of any pair above `cosT` the member with HIGHER similarity to its
    * own centroid is dropped — the paper's keep-low-centroid-similarity
    * policy (§4.1: prototypical members carry less marginal information
    * than outliers). The drop rule is the paper's upper-triangular scan
    * made declarative: rank cluster members by (cent_cosine asc, vec_id
    * asc); a member is dropped iff SOME earlier-ranked member is within
    * `cosT` — already-dropped members still shadow later ones, exactly
    * like the reference numpy `max over the triangle` formulation, so no
    * transitive closure is needed.
    *
    * Scale shape: assignment is a broadcast of k centroids over one
    * linear scan; the pairwise join is blocked by cluster, and k grows
    * with the corpus (the paper uses 50k clusters on LAION) so the
    * per-cluster quadratic term stays bounded — at 100 TB the cluster
    * key also carries the join's parallelism, so k must be ≳ the task
    * count; an oversized cluster can be sub-blocked with the hyperplane
    * LSH of [[lshNearDupPairs]] without changing the rule. Returns every
    * vector: (vec_id, cluster, cent_cosine, kept). */
  /** Diverse representatives — coreset selection's simplest useful
    * form: the vector nearest each k-means centroid (6-dp-rounded L2²,
    * ties by vec_id) plus its cluster population. The k winners are a
    * spread-out sample of the embedding space — the seed set for
    * curriculum anchors, eval-probe selection, or human inspection —
    * where a random sample oversamples dense regions by construction.
    * Reuses the memoized deterministic [[kmeansCentroids]] training;
    * selection is one broadcast centroid join + one k-group min-struct
    * aggregate over the corpus — no window, no per-cluster sort. */
  def diverseRepresentatives(embeddings: DataFrame, k: Int = 8,
                             iters: Int = 2): DataFrame = {
    val spark = embeddings.sparkSession
    VectorExpressions.register(spark)
    import spark.implicits._
    val e = embeddings.select(col("vec_id"), asDoubleVec(col("embedding")).as("v"))
    val cents = kmeansCentroids(e, k, iters)
    val centsDf = cents.zipWithIndex
      .map { case (c, i) => (i.toLong, c) }.toDF("cluster", "c")
    e.withColumn("cluster", assignCluster(col("v"), cents).cast("long"))
      .join(broadcast(centsDf), "cluster")
      .select(col("cluster"), col("vec_id"),
        round(call_function("graft_l2sq", col("v"), col("c")), 6).as("d"))
      .groupBy("cluster")
      .agg(count(lit(1)).as("n_members"),
        min(struct(col("d"), col("vec_id"))).as("_m"))
      .select(col("cluster"), col("_m.vec_id").as("rep_vec"),
        col("_m.d").as("rep_dist"), col("n_members"))
  }

  def semDedup(embeddings: DataFrame, k: Int = 8, iters: Int = 2,
               cosT: Double = 0.35): DataFrame = {
    val spark = embeddings.sparkSession
    VectorExpressions.register(spark)
    val e = embeddings.select(col("vec_id"), asDoubleVec(col("embedding")).as("v"))
    val cents = kmeansCentroids(e, k, iters)
    // cent_cosine rounds to 6 dp BEFORE the rank comparison so the
    // keep/drop decision compares engine-portable values
    val asg = Caches.ensureCached(
      e.withColumn("cluster", assignCluster(col("v"), cents).cast("long"))
        .withColumn("cv", element_at(typedlit(cents.map(_.toIndexedSeq)),
          (col("cluster") + 1).cast("int")))
        .select(col("vec_id"), col("cluster"), col("v"),
          round(cosine("v", "cv"), 6).as("cent_cosine")))
    val a = asg.select(col("vec_id").as("vec_a"), col("cluster"),
      col("v").as("va"), col("cent_cosine").as("ca"))
    val b = asg.select(col("vec_id").as("vec_b"), col("cluster"),
      col("v").as("vb"), col("cent_cosine").as("cb"))
    val drops = a.join(b, Seq("cluster"))
      .filter(col("vec_a") =!= col("vec_b"))
      .filter(round(cosine("va", "vb"), 6) >= cosT)
      // a precedes b in (cent_cosine asc, vec_id asc) rank → b drops
      .filter(col("ca") < col("cb") ||
        (col("ca") === col("cb") && col("vec_a") < col("vec_b")))
      .select(col("vec_b").as("vec_id")).distinct()
    // no broadcast hint: at paper-realistic drop rates (up to half of
    // LAION) the drop set is corpus-scale — let AQE size the join
    asg.join(drops.withColumn("dropped", lit(true)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster"), col("cent_cosine"),
        col("dropped").isNull.as("kept"))
  }

  /** Incremental SemDeDup — the CDC screen path: an arriving batch is
    * checked for semantic duplicates against the STORED IVF index
    * without touching the indexed corpus' float vectors outside the
    * probed cells (the same one-cell-per-query scan every stored-index
    * probe rides, [[queryIvfIndexBatch]] with topK=1 — a vector is a
    * duplicate iff its best in-cell match clears `cosT`). The screen
    * composes with the index lifecycle exactly like the fingerprint
    * screen ([[DedupOps.queryFingerprintIndex]]): screen → absorb the
    * survivors via [[mergeIvfIndex]] under the caller's ledger. Returns
    * every batch vector: (vec_id, match_id, cluster, cosine, is_dup) —
    * match/cosine null when the probed cell is empty. */
  def semDedupScreen(spark: org.apache.spark.sql.SparkSession, path: String,
                     batch: DataFrame, cosT: Double,
                     nprobe: Int = 1): DataFrame = {
    val best = queryIvfIndexBatch(spark, path, batch, topK = 1, nprobe)
      .select(col("q_id").as("vec_id"), col("vec_id").as("match_id"),
        col("cluster"), col("cosine"))
    batch.select(col("vec_id"))
      .join(best, Seq("vec_id"), "left")
      .select(col("vec_id"), col("match_id"), col("cluster"), col("cosine"),
        coalesce(col("cosine") >= lit(cosT), lit(false)).as("is_dup"))
  }

  /** ANN index-quality evaluation: recall@k of the single-probe trained-
    * IVF retrieval against the exact brute-force top-k, per query — the
    * measured answer to "is nprobe=1 good enough for this corpus?" that
    * a retrieval deployment reads before picking its latency dial (the
    * published retrain-decision signals say when to re-train; this says
    * what the trained index is worth). Both retrievals rank by the same
    * 6-dp-rounded cosine with vec_id tie-break, so the report is
    * deterministic. The brute baseline IS the evaluation's cost — one
    * corpus scan per query — so at 100 TB the query set is a sample
    * (here: the standard `% 97` batch); the IVF side scans 1/k of the
    * corpus per query like every probe. */
  def ivfRecallReport(embeddings: DataFrame, queries: DataFrame,
                      k: Int = 10, km: Int = 8, iters: Int = 2): DataFrame = {
    val spark = embeddings.sparkSession
    VectorExpressions.register(spark)
    import org.apache.spark.sql.expressions.Window
    val e = Caches.ensureCached(
      embeddings.select(col("vec_id"), asDoubleVec(col("embedding")).as("v")))
    val cents = kmeansCentroids(e, km, iters)
    val assigned = e.withColumn("cluster",
      assignCluster(col("v"), cents).cast("long"))
    // a query's probe cell is its own assignment — the same
    // lowest-cluster-tie-break nearest-centroid rule
    val q = queries.select(col("vec_id").as("q_id"),
        asDoubleVec(col("embedding")).as("qv"))
      .withColumn("qcl", assignCluster(col("qv"), cents).cast("long"))
    val w = Window.partitionBy("q_id").orderBy(desc("cosine"), col("vec_id"))
    // build only the IVF retrieval here; the brute baseline, hit join,
    // and recall projection are [[adcRecall]] — ONE evaluator for every
    // recall report, so a tie-break or rounding fix can never diverge
    val ivf = assigned.join(broadcast(q), col("cluster") === col("qcl"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"), round(cosine("v", "qv"), 6).as("cosine"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
    adcRecall(embeddings, queries, k, ivf)
  }

  /** Recall@k of the STORED IVF retrieval ([[queryIvfIndexBatch]])
    * against exact brute force — the plain-IVF twin of
    * [[ivfPqRecallReport]], measuring pure cell-pruning loss (scoring
    * inside probed cells is exact cosine, so every miss is a neighbor
    * living in an unprobed cell). With `probeRatio` this measures the
    * adaptive rule on the path the hybrid retrieval's vector arm
    * reads. */
  def ivfStoredRecallReport(spark: org.apache.spark.sql.SparkSession,
                            path: String, embeddings: DataFrame,
                            queries: DataFrame, k: Int = 10,
                            nprobe: Int = 1,
                            probeRatio: Double = 0.0): DataFrame =
    adcRecall(embeddings, queries, k,
      queryIvfIndexBatch(spark, path, queries, k, nprobe, probeRatio))

  /** Recall@k of the STORED PQ retrieval (flat ADC scan over byte
    * codes — [[queryPqIndexBatch]]) against the exact brute-force
    * cosine top-k: the measured answer to "what did the 8-byte
    * compression cost in answer quality?" — the ADC approximation is a
    * LOSSY ranking, and a deployment that reads only `meta` distortion
    * never sees the retrieval-level effect. Same deterministic ranking
    * discipline as [[ivfRecallReport]] (6-dp cosine + vec_id tie-break
    * on the brute side; exact ADC + vec_id on the stored side), and
    * the same cost honesty: the brute baseline is the evaluation — at
    * 100 TB the query set is a sample. Run against a rebuilt index's
    * path, the report measures recall drift across the rebuild. */
  def pqRecallReport(spark: org.apache.spark.sql.SparkSession,
                     path: String, embeddings: DataFrame,
                     queries: DataFrame, k: Int = 10): DataFrame =
    adcRecall(embeddings, queries, k,
      queryPqIndexBatch(spark, path, queries, k))

  /** Recall@k of the STORED IVF-PQ retrieval ([[queryIvfPqIndexBatch]])
    * against exact brute force — the COMPOUNDED loss report: the
    * composite stacks cell pruning (a true neighbor outside the nprobe
    * probed cells is unreachable) on ADC ranking error, and neither
    * signal alone measures the product. */
  def ivfPqRecallReport(spark: org.apache.spark.sql.SparkSession,
                        path: String, embeddings: DataFrame,
                        queries: DataFrame, k: Int = 10,
                        nprobe: Int = 2): DataFrame =
    adcRecall(embeddings, queries, k,
      queryIvfPqIndexBatch(spark, path, queries, k, nprobe))

  /** Recall@k of the PRODUCTION two-stage read — the ADC shortlist →
    * exact-rerank path [[pqRerankBatch]] — against brute force: the r17
    * recall rows proved the RAW ADC retrieval weak and named the rerank
    * as the production dial; this row MEASURES that dial, so a
    * too-narrow shortlist or a rerank regression is a red oracle row
    * instead of invisible. `rerankFactor` is the dial itself (shortlist
    * = k × factor); the committed width sweep lives in
    * bench/RECALL_r18.md. */
  def pqRerankRecallReport(spark: org.apache.spark.sql.SparkSession,
                           path: String, embeddings: DataFrame,
                           queries: DataFrame, k: Int = 10,
                           rerankFactor: Int = 4): DataFrame =
    adcRecall(embeddings, queries, k,
      pqRerankBatch(spark, path, embeddings, queries, k, rerankFactor))

  /** The composite's rerank twin: IVFPQ shortlist (cell pruning × ADC)
    * → exact rerank, measured against brute force. */
  def ivfPqRerankRecallReport(spark: org.apache.spark.sql.SparkSession,
                              path: String, embeddings: DataFrame,
                              queries: DataFrame, k: Int = 10,
                              rerankFactor: Int = 4,
                              nprobe: Int = 2,
                              probeRatio: Double = 0.0): DataFrame =
    adcRecall(embeddings, queries, k,
      ivfPqRerankBatch(spark, path, embeddings, queries, k, rerankFactor,
        nprobe, probeRatio))

  /** Batch two-stage read over the stored PQ index — the deployment
    * shape of [[pqRerankTopK]]: ONE screened code-table scan shortlists
    * `topK × rerankFactor` candidates per query by ADC
    * ([[queryPqIndexBatch]]), then ONLY the shortlisted candidates
    * touch their float vectors for the exact cosine ordering — full-
    * vector work stays O(|queries| × topK × factor), never O(corpus). */
  def pqRerankBatch(spark: org.apache.spark.sql.SparkSession,
                    path: String, embeddings: DataFrame,
                    queries: DataFrame, topK: Int,
                    rerankFactor: Int = 4): DataFrame =
    rerankExact(embeddings, queries,
      queryPqIndexBatch(spark, path, queries, topK * rerankFactor), topK)

  /** [[pqRerankBatch]]'s composite twin over the stored IVF-PQ index:
    * the shortlist additionally prunes to each query's `nprobe` cells
    * ([[queryIvfPqIndexBatch]]) before the exact rerank. */
  def ivfPqRerankBatch(spark: org.apache.spark.sql.SparkSession,
                       path: String, embeddings: DataFrame,
                       queries: DataFrame, topK: Int,
                       rerankFactor: Int = 4, nprobe: Int = 2,
                       probeRatio: Double = 0.0): DataFrame =
    rerankExact(embeddings, queries,
      queryIvfPqIndexBatch(spark, path, queries, topK * rerankFactor,
        nprobe, probeRatio), topK)

  /** Exact cosine re-rank of a per-query (q_id, vec_id) shortlist: the
    * candidates fetch their float vectors through one broadcast join
    * (the shortlist is query-batch-sized — |queries| × k × factor rows,
    * control-plane small at any corpus scale), the query vectors ride a
    * second broadcast, and a per-query top-k window orders by the same
    * 6-dp cosine + vec_id tie-break every exact ranking in the engine
    * uses. Self-matches were already excluded by the batch probes. */
  private def rerankExact(embeddings: DataFrame, queries: DataFrame,
                          shortlist: DataFrame, topK: Int): DataFrame = {
    val spark = embeddings.sparkSession
    VectorExpressions.register(spark)
    import org.apache.spark.sql.expressions.Window
    val e = embeddings.select(col("vec_id"),
      asDoubleVec(col("embedding")).as("v"))
    val q = queries.select(col("vec_id").as("q_id"),
      asDoubleVec(col("embedding")).as("qv"))
    e.join(broadcast(shortlist.select("q_id", "vec_id")), "vec_id")
      .join(broadcast(q), "q_id")
      .select(col("q_id"), col("vec_id"),
        round(cosine("v", "qv"), 6).as("cosine"))
      .withColumn("_rn", row_number().over(
        Window.partitionBy("q_id").orderBy(desc("cosine"), col("vec_id"))))
      .filter(col("_rn") <= topK)
      .drop("_rn")
  }

  /** [[adcRecall]] over a caller-supplied retrieved set — the sweep
    * harness's hook ([[graft.RecallSweep]]): recall@k of ANY
    * (q_id, vec_id) retrieval against exact brute force, so frontier
    * sweeps (nprobe, shortlist width) measure arbitrary configurations
    * with the same evaluator the oracle rows pin. */
  def recallOf(embeddings: DataFrame, queries: DataFrame, k: Int,
               retrieved: DataFrame): DataFrame =
    adcRecall(embeddings, queries, k, retrieved)

  /** Shared recall evaluator: exact brute top-k per query (the
    * reference set) ∩ the family's retrieved (q_id, vec_id) rows →
    * per-query hit count and recall. */
  private def adcRecall(embeddings: DataFrame, queries: DataFrame, k: Int,
                        retrieved: DataFrame): DataFrame = {
    val spark = embeddings.sparkSession
    VectorExpressions.register(spark)
    import org.apache.spark.sql.expressions.Window
    val e = Caches.ensureCached(
      embeddings.select(col("vec_id"), asDoubleVec(col("embedding")).as("v")))
    val q = queries.select(col("vec_id").as("q_id"),
      asDoubleVec(col("embedding")).as("qv"))
    val w = Window.partitionBy("q_id").orderBy(desc("cosine"), col("vec_id"))
    val brute = e.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        round(cosine("v", "qv"), 6).as("cosine"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
    // (Measured and rejected: materializing the brute and retrieved
    // arms as concurrent localCheckpoint jobs — the fixed
    // materialization cost exceeded the concurrency win at every
    // bench SF, regressing all 11 recall rows ~0.3–0.6 s each. The
    // lazy join keeps the evaluator's plan fused.)
    //
    // The retrieved side is |queries|×k rows BY CONTRACT (every caller
    // passes a top-k probe result), so broadcast it explicitly: the
    // planner's size estimate for these windowed probe plans is far too
    // large to pick the broadcast itself, and the sort-merge fallback
    // re-exchanged BOTH arms by (q_id, vec_id). Broadcast keeps the
    // brute arm on the window's hash(q_id) partitioning end-to-end, so
    // the hits aggregate below also plans without an exchange (guide
    // §2.4 — one exchange serves window + join + aggregate).
    val hits = brute.select("q_id", "vec_id")
      .join(broadcast(retrieved.select("q_id", "vec_id")),
        Seq("q_id", "vec_id"))
      .groupBy("q_id").agg(count(lit(1)).as("n_hits"))
    q.select("q_id")
      .join(hits, Seq("q_id"), "left")
      .select(col("q_id"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        (coalesce(col("n_hits"), lit(0L)).cast("double") / k).as("recall"))
  }

  /** Product-quantization ANN (the memory-compression scale path: a
    * 64-dim float vector becomes `m` one-byte codes, so a 100 TB corpus's
    * index fits in RAM). The vector is split into `m` subspaces; each
    * gets its own `ksub`-centroid codebook (deterministic
    * [[kmeansCentroids]] per subspace); a vector's code is its nearest
    * centroid per subspace. A query precomputes an m×ksub table of
    * subspace distances once, and each candidate's asymmetric distance
    * (ADC) is just m table lookups summed — no float vector is touched
    * at scan time. Exact left-to-right summation order, so ADC scores
    * hash-match the oracle's replay of the same training. */
  def pqTopK(embeddings: DataFrame, queryId: Long, topK: Int,
             m: Int = 8, ksub: Int = 16, iters: Int = 1): DataFrame = {
    val spark = embeddings.sparkSession
    VectorExpressions.register(spark)
    val e = Caches.ensureCached(
      embeddings.select(col("vec_id"), asDoubleVec(col("embedding")).as("v")))
    val dims = embeddingDims(e)
    require(dims % m == 0,
      s"pqTopK: embedding dims ($dims) must be divisible by m ($m)")
    val subDim = dims / m
    val codebooks = pqCodebooks(e, m, subDim, ksub, iters)
    val qTables = pqQueryTables(e, queryId, codebooks, subDim)
    // encode corpus + ADC score in one projection: code_s = nearest
    // subspace centroid, adc = Σ_s table_s[code_s] (fixed fold order)
    val encoded = e.select(col("vec_id") +: pqCodeCols(codebooks, subDim): _*)
    encoded
      .filter(col("vec_id") =!= queryId)
      .select(col("vec_id"), pqAdc(qTables).as("adc_dist"))
      .orderBy(col("adc_dist"), col("vec_id"))
      .limit(topK)
  }

  /** Per-subspace codebooks (driver-looped Lloyd's, tiny collect each —
    * memoized per (plan, k, iters) by [[kmeansCentroids]]).
    *
    * The `m` trainings are INDEPENDENT (each slices its own subspace),
    * so they run as concurrent Spark jobs — the standard multi-job
    * pattern the warm chains already use. At m=16 × iters=3 the
    * sequential loop was 96 driver round-trips of tiny jobs (the r20
    * geometry's dominant setup cost); concurrency collapses the wall
    * to ~the slowest subspace. Results are deterministic regardless of
    * completion order (each training is a pure derivation memoized
    * under its own plan key). */
  private def pqCodebooks(e: DataFrame, m: Int, subDim: Int, ksub: Int,
                          iters: Int): Seq[Seq[Seq[Double]]] =
    kmeansCentroidsBatch(e, m, subDim, ksub, iters)

  /** The m per-subspace trainings with ONE Spark job per Lloyd round
    * and ONE SMALL plan, instead of m independent trainings of `iters`
    * tiny jobs each (m=16 × iters=3 = 48 collect round-trips per
    * training) or the r22-interim 16-branch tagged UNION (whose
    * per-round plan was large enough that driver-side analysis +
    * codegen, not data, still dominated the rebuild chains: the stage
    * walls inside buildPqIndex summed to ~6.5 s of its 13.5 s — the
    * rest was planning gaps between jobs, and the init's windowed
    * union planned 16 sequential 1-task map stages).
    *
    * Shape: the init is ONE k-row collect (the k lowest vec_ids — the
    * per-slice seeds are slices of the same k rows, cut driver-side
    * with no arithmetic); each Lloyd round is ONE job over the
    * posexploded (s, subvector) rows, with the full centroid state as
    * a LITERAL matrix — a codegen reference object, so the round plans
    * are shape-identical and the generated code is compiled once. Per
    * (s, subvector) row the distance array `transform(matrix[s],
    * c -> graft_l2sq(sv, c))` evaluates the same left-to-right l2sq
    * fold in the same centroid order as the per-slice
    * [[assignCluster]], and the (s, cl) DECIMAL mean sums aggregate
    * the same value multisets — so the centroids stay BIT-IDENTICAL
    * to the per-slice trainings the oracle replays, and are memoized
    * under the same per-slice keys (later per-slice lookups hit the
    * memo). The per-slice cache frames ([[pqSlices]]) are still
    * registered for key derivation but no longer materialized — the
    * training reads the caller's (vec_id, v) cache directly. */
  private[graft] def kmeansCentroidsBatch(e0: DataFrame, m: Int,
      subDim: Int, k: Int, iters: Int): Seq[Seq[Seq[Double]]] = {
    if (m <= 0) return Seq.empty
    val spark = e0.sparkSession
    VectorExpressions.register(spark)
    val slices = pqSlices(e0, m, subDim)
    val keys = slices.map(s =>
      (Caches.sessionId(spark), Caches.planKey(s), k, iters))
    if (keys.forall(kmeansMemo.contains)) return keys.map(kmeansMemo(_))
    // In-flight dedup: the PQ/IVFPQ rebuild roots request the SAME
    // trainings (identical subset/screened-source plans) from concurrent
    // warm chains — without the lock both chains run the full training
    // and one result is discarded (a benign but doubled race the r21
    // verdict costed at ~2× the rebuild-chain training time). The second
    // caller blocks, then memo-hits. Keyed on the batch's key list
    // (value equality), so unrelated trainings never contend.
    trainingLock(keys) {
      if (keys.forall(kmeansMemo.contains)) return keys.map(kmeansMemo(_))
      // verbatim-frame guard, same as kmeansCentroidsUncached (the r20
      // double-cache finding): every caller passes exactly (vec_id, v)
      val e = Caches.ensureCached(
        if (e0.columns.toSeq == Seq("vec_id", "v")) e0
        else e0.select(col("vec_id"), col("v")))
      val seed = e.orderBy("vec_id").limit(k).select("v").collect()
        .map(_.getSeq[Double](0).toIndexedSeq)
      val inits: Seq[Seq[Seq[Double]]] = (0 until m).map { s =>
        seed.map(v => v.slice(s * subDim, (s + 1) * subDim): Seq[Double]).toSeq
      }
      val sub = e.select(posexplode(expr(
        s"transform(sequence(0, ${m - 1}), s -> slice(v, s * $subDim + 1, $subDim))"
        )).as(Seq("s", "sv")))
      val meanCols = (0 until subDim).map { p =>
        (sum(element_at(col("sv"), p + 1).cast("decimal(30,9)")).cast("double") /
          count(lit(1))).as(s"m_$p")
      }
      val fin = (1 to iters).foldLeft(inits) { (states, _) =>
        val matrix = typedlit(states.map(_.map(_.toIndexedSeq).toIndexedSeq)
          .toIndexedSeq)
        val dists = transform(element_at(matrix, col("s") + 1),
          c => call_function("graft_l2sq", col("sv"), c))
        val cl = (array_position(dists, array_min(dists)) - 1).cast("int")
        val bySub = sub.select(col("s"), cl.as("cl"), col("sv"))
          .groupBy("s", "cl").agg(meanCols.head, meanCols.tail: _*)
          .collect().groupBy(_.getInt(0))
        states.zipWithIndex.map { case (cents, si) =>
          val means = bySub.getOrElse(si, Array.empty[org.apache.spark.sql.Row])
            .map(r => r.getInt(1) -> (0 until subDim).map(p => r.getDouble(2 + p)))
            .toMap
          // an emptied cluster keeps its previous centroid
          cents.zipWithIndex.map { case (c, ci) =>
            means.getOrElse(ci, c.toIndexedSeq) }
        }
      }
      keys.zip(fin).foreach { case (key, cents) =>
        kmeansMemo.getOrElseUpdate(key, cents) }
      fin
    }
  }

  /** Per-key in-flight training locks: concurrent IDENTICAL trainings
    * (same memo keys) serialize so the second caller memo-hits instead
    * of duplicating the jobs; distinct trainings never contend. An entry
    * lives only while its training is in flight: the holder removes it
    * when done (only if it is still its own lock), and a caller arriving
    * after that finds the memo filled — so a long-lived service session
    * does not grow the map with every training it ever ran. */
  private[graft] val trainingLocks =
    new java.util.concurrent.ConcurrentHashMap[AnyRef, AnyRef]()
  private[graft] def trainingLock[T](key: AnyRef)(body: => T): T = {
    val lock = trainingLocks.computeIfAbsent(key, _ => new AnyRef)
    try lock.synchronized(body)
    finally trainingLocks.remove(key, lock)
  }

  /** The m per-subspace slice frames of a (vec_id, v) table, each
    * `ensureCached` on the CALLING thread — the ONE definition shared
    * by [[pqCodebooks]] and the bench warm chain, so both sides' plans
    * canonicalize to the same k-means memo keys and cache entries (a
    * hand-duplicated slice expression drifting would silently retrain
    * every subspace inside the timed path). Caller-thread registration
    * is load-bearing: `Caches.withCached` scopes are thread-local, so
    * an ensureCached issued inside the training Futures would register
    * to no scope and a service-mode request would leak one cached
    * slice per subspace per corpus; pre-registered here, the
    * trainings' own ensureCached calls (same canonicalized plan) see
    * the existing entry and skip registration. */
  private[graft] def pqSlices(e: DataFrame, m: Int,
                              subDim: Int): Seq[DataFrame] =
    (0 until m).map { s =>
      Caches.ensureCached(
        e.select(col("vec_id"),
          expr(s"slice(v, ${s * subDim + 1}, $subDim)").as("v")))
    }

  /** Query subvectors → per-subspace distance tables (driver arithmetic
    * is only transport: the distances are computed by the same codegen'd
    * kernel inside one Spark job, then collected as exact doubles). */
  private def pqQueryTables(e: DataFrame, queryId: Long,
                            codebooks: Seq[Seq[Seq[Double]]],
                            subDim: Int): Seq[Seq[Double]] = {
    val m = codebooks.length; val ksub = codebooks.head.length
    val q = e.filter(col("vec_id") === queryId)
    // one ARRAY column per subspace (budgeted representation — the
    // flat m×ksub scalar-column form hit the same janino ceiling the
    // batch tables did at fine geometry), collected as one row
    val tableCols = (0 until m).map { s =>
      distArray(expr(s"slice(v, ${s * subDim + 1}, $subDim)"),
        codebooks(s), m * ksub).as(s"t_$s")
    }
    val rows = q.select(tableCols: _*).limit(1).collect()
    require(rows.nonEmpty,
      s"pq query: vec_id $queryId is not in the corpus — the distance " +
        "tables cannot be built for an absent query vector")
    val row = rows(0)
    (0 until m).map(s => row.getSeq[Double](s).toIndexedSeq)
  }

  /** `code_s` columns: each subvector's nearest codebook entry. Must be
    * selected while the `v` column is still in scope. Budgeted: the m
    * assignments share one projection, so the inlined-call budget is
    * m × ksub ([[distArray]]). */
  private def pqCodeCols(codebooks: Seq[Seq[Seq[Double]]],
                         subDim: Int): Seq[Column] = {
    val calls = codebooks.length * codebooks.headOption.map(_.length).getOrElse(0)
    codebooks.indices.map { s =>
      assignClusterBudgeted(expr(s"slice(v, ${s * subDim + 1}, $subDim)"),
        codebooks(s), calls).as(s"code_$s")
    }
  }

  /** ADC over previously selected `code_s` columns: Σ_s table_s[code_s]
    * with the fixed left-associated fold order the oracle replays. */
  private def pqAdc(qTables: Seq[Seq[Double]]): Column =
    qTables.indices
      .map(s => element_at(typedlit(qTables(s)), col(s"code_$s") + 1))
      .reduce(_ + _)

  /** IVF-PQ composite — the architecture a 100 TB ANN service actually
    * deploys (the FAISS IndexIVFPQ shape): a coarse k-means quantizer
    * prunes the corpus to the query's `nprobe` nearest cells, and ONLY
    * those cells' vectors are scored — by PQ asymmetric distance (m
    * byte codes, table lookups), never by touching float vectors at
    * scan time. The whole read is one projection chain over the probed
    * cells: assign → prune (broadcast nprobe cell ids) → encode → ADC →
    * top-k; with a stored layout partitioned by cell the scan prunes to
    * nprobe/k of the code table. Codebooks quantize raw vectors (not
    * residuals), so cell pruning and code training stay independently
    * oracle-replayable — a residual variant is a training change, not a
    * plan change. */
  def ivfPqTopK(embeddings: DataFrame, queryId: Long, topK: Int,
                k: Int = 8, iters: Int = 2, nprobe: Int = 2,
                m: Int = 8, ksub: Int = 16, pqIters: Int = 1): DataFrame = {
    val spark = embeddings.sparkSession
    VectorExpressions.register(spark)
    import spark.implicits._
    val e = Caches.ensureCached(
      embeddings.select(col("vec_id"), asDoubleVec(col("embedding")).as("v")))
    val dims = embeddingDims(e)
    require(dims % m == 0,
      s"ivfPqTopK: embedding dims ($dims) must be divisible by m ($m)")
    val subDim = dims / m
    val cents = kmeansCentroids(e, k, iters)
    val q = e.filter(col("vec_id") === queryId).select(col("v").as("qv"))
    val centsDf = cents.zipWithIndex
      .map { case (c, i) => (i.toLong, c) }.toDF("cluster", "c")
    // nprobe nearest cells, same tie-break as the oracle (dist, then cl)
    val probed = centsDf.crossJoin(broadcast(q))
      .orderBy(call_function("graft_l2sq", col("c"), col("qv")), col("cluster"))
      .select("cluster").limit(nprobe)
    val codebooks = pqCodebooks(e, m, subDim, ksub, pqIters)
    val qTables = pqQueryTables(e, queryId, codebooks, subDim)
    e.withColumn("cluster", assignCluster(col("v"), cents).cast("long"))
      .join(broadcast(probed), "cluster")
      .select(Seq(col("vec_id"), col("cluster")) ++
        pqCodeCols(codebooks, subDim): _*)
      .filter(col("vec_id") =!= queryId)
      .select(col("vec_id"), col("cluster"), pqAdc(qTables).as("adc_dist"))
      .orderBy(col("adc_dist"), col("vec_id"))
      .limit(topK)
  }

  /** PQ retrieve + exact re-rank — the production two-stage shape: the
    * byte-code index shortlists `topK × rerankFactor` candidates by ADC
    * (cheap, quantized), then ONLY those candidates touch their float
    * vectors for an exact cosine ordering. Recall approaches brute force
    * as the factor grows while the full-vector work stays
    * O(topK × factor) instead of O(corpus). */
  def pqRerankTopK(embeddings: DataFrame, queryId: Long, topK: Int,
                   rerankFactor: Int = 4, m: Int = 8, ksub: Int = 16,
                   iters: Int = 1): DataFrame = {
    val shortlist = pqTopK(embeddings, queryId, topK * rerankFactor, m, ksub, iters)
      .select("vec_id")
    val e = embeddings.select(col("vec_id"), asDoubleVec(col("embedding")).as("v"))
    val q = e.filter(col("vec_id") === queryId).select(col("v").as("qv"))
    e.join(broadcast(shortlist), "vec_id")
      .crossJoin(broadcast(q))
      .select(col("vec_id"), round(cosine("v", "qv"), 6).as("cosine"))
      .orderBy(desc("cosine"), col("vec_id"))
      .limit(topK)
  }

  /** Build the IVF-PQ index as a stored artifact — the deployment shape
    * of [[ivfPqTopK]]: `centroids` (cluster, c) and `codebooks`
    * (subspace, cl, cv) as tiny control-plane tables, and `codes`
    * (vec_id, code_0..m−1) partitioned BY cluster, so a probe's scan
    * prunes to its nprobe cells at the storage layer while reading only
    * byte codes — at 100 TB the per-query I/O is `nprobe/k` of a code
    * table that is itself ~64× smaller than the float vectors. Build
    * once, query many. */
  def buildIvfPqIndex(embeddings: DataFrame, path: String,
                      k: Int = 8, iters: Int = 2,
                      m: Int = 8, ksub: Int = 16, pqIters: Int = 1): Unit = {
    val spark = embeddings.sparkSession
    VectorExpressions.register(spark)
    import spark.implicits._
    val e = Caches.ensureCached(
      embeddings.select(col("vec_id"), asDoubleVec(col("embedding")).as("v")))
    val dims = embeddingDims(e)
    require(dims % m == 0,
      s"buildIvfPqIndex: embedding dims ($dims) must be divisible by m ($m)")
    val subDim = dims / m
    val cents = kmeansCentroids(e, k, iters)
    cents.zipWithIndex.map { case (c, i) => (i.toLong, c) }
      .toDF("cluster", "c")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")
    // invalidate IMMEDIATELY after the overwrite (same discipline as
    // buildIvfIndex): a build that fails later must not leave this
    // JVM's memo pointing at the pre-rebuild tables
    storedCentroidMemo.remove(s"$path/centroids")
    val codebooks = pqCodebooks(e, m, subDim, ksub, pqIters)
    codebooks.zipWithIndex
      .flatMap { case (cb, s) => cb.zipWithIndex.map { case (c, j) => (s, j, c) } }
      .toDF("subspace", "cl", "cv")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/codebooks")
    storedCodebookMemo.remove(s"$path/codebooks")
    e.withColumn("cluster", assignCluster(col("v"), cents).cast("long"))
      .select(Seq(col("vec_id"), col("cluster")) ++
        pqCodeCols(codebooks, subDim): _*)
      .write.partitionBy("cluster").mode("overwrite").parquet(s"$path/codes")
    // freeze the fresh layout's file counts as the compaction trigger's
    // debt baseline: a large build is not debt (Compaction.seedBase)
    Compaction.seedBase(s"$path/codes")
    // one-row quality metas, BOTH lossy steps in one corpus pass: ADC
    // distortion (the [[shouldRetrainPq]] baseline) and the coarse
    // quantizer's assigned-cell d² — [[shouldRetrainIvfPq]]'s second
    // signal: a feed whose CLUSTER STRUCTURE shifts without moving ADC
    // distortion (subspace values stay codebook-covered, whole-vector
    // positions don't stay cell-covered) degrades pruning recall
    // invisibly to `meta`
    val md = e.agg(count(lit(1)).as("n"),
      avg(pqDistortion(subDim, codebooks)).as("mean_d2"),
      avg(assignedDist2(col("v"), cents)).as("cell_d2")).head()
    Seq((md.getLong(0), md.getDouble(1))).toDF("n", "mean_d2")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
    Seq((md.getLong(0), md.getDouble(2))).toDF("n", "mean_d2")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/cell_meta")
  }

  /** Incremental stored-IVF-PQ maintenance — the CDC×ANN composition
    * for the composite index: new vectors are assigned to the FROZEN
    * build-time centroids and encoded against the FROZEN codebooks
    * (both via the process-wide control-plane memos), then appended to
    * their cells' code partitions. O(|new|) write cost, old cells
    * untouched; drift bookkeeping records BOTH lossy steps separately —
    * ADC distortion to `merge_log` (the [[mergePqIndex]] signal) and
    * the coarse assigned-cell d² to `cell_log` — because the two can
    * move independently: a batch of subspace-pure recombinations keeps
    * ADC distortion flat while landing far from every frozen cell,
    * silently degrading the composite's pruning recall. The composite's
    * rebuild decision is [[shouldRetrainIvfPq]] (either ratio trips). */
  def mergeIvfPqIndex(newVecs: DataFrame, path: String): Unit = Caches.withCached {
    val spark = newVecs.sparkSession
    VectorExpressions.register(spark)
    import spark.implicits._
    requireNoAnnTombClash(newVecs, path, "mergeIvfPqIndex")
    val cents: Seq[Seq[Double]] = storedCentroids(spark, path).map(_._2)
    val cb = storedCodebooks(spark, path)
    val m = cb.map(_._1).max + 1
    val ksub = cb.map(_._2).max + 1
    val centroid = cb.map(r => (r._1, r._2) -> r._3).toMap
    val subDim = centroid((0, 0)).length
    val codebooks: Seq[Seq[Seq[Double]]] =
      (0 until m).map(s => (0 until ksub).map(j => centroid((s, j))))
    // cached for the merge's scope: the append and BOTH drift aggregates
    // consume the batch — uncached, each pass re-reads the batch source
    val e = Caches.ensureCached(
      newVecs.select(col("vec_id"), asDoubleVec(col("embedding")).as("v")))
    // guardedAppend: loud failure (so the caller replays the batch) if
    // a compactor swapped the pointer mid-append — see Compaction
    Compaction.guardedAppend(s"$path/codes") { live =>
      e.withColumn("cluster", assignCluster(col("v"), cents).cast("long"))
        .select(Seq(col("vec_id"), col("cluster")) ++
          pqCodeCols(codebooks, subDim): _*)
        .write.partitionBy("cluster").mode("append").parquet(live)
    }
    val md = e.agg(count(lit(1)).as("n"),
      avg(pqDistortion(subDim, codebooks)).as("mean_d2"),
      avg(assignedDist2(col("v"), cents)).as("cell_d2")).head()
    if (md.getLong(0) > 0L) {
      Compaction.guardedAppend(s"$path/merge_log") { log =>
        Seq((md.getLong(0), md.getDouble(1))).toDF("n", "mean_d2")
          .coalesce(1).write.mode("append").parquet(log)
      }
      // the coarse-cell drift row rides its OWN log (same (n,
      // mean_d2) shape → same collapse recipe), never the merge_log —
      // mixing schemas in one dir would torn-read on old indexes.
      // Gated on the baseline's existence: a pre-r17 index has no
      // cell_meta, the gate would never read the rows, and the first
      // rebuild resets the log anyway — appending there is dead I/O.
      if (java.nio.file.Files.exists(
          java.nio.file.Paths.get(s"$path/cell_meta")))
        Compaction.guardedAppend(s"$path/cell_log") { log =>
          Seq((md.getLong(0), md.getDouble(2))).toDF("n", "mean_d2")
            .coalesce(1).write.mode("append").parquet(log)
        }
    }
  }

  /** Scheduled REBUILD of a stored IVF-PQ index from the caller's source
    * corpus — the action [[shouldRetrainPq]]'s signal calls for on the
    * composite. PQ codes are lossy (byte codes, no stored vectors), so
    * unlike [[retrainIvfIndex]] the index cannot self-retrain: the
    * caller passes the source of truth (e.g. the snapshot store's
    * current view), and this verb makes the rebuild SAFE where a bare
    * [[buildIvfPqIndex]] is not:
    *
    *  - pending tombstones screen the source (a deleted doc whose row
    *    still rides the caller's corpus stays dead) and are served
    *    physically by the republish; replay duplicates heal
    *    (`dropDuplicates` on vec_id);
    *  - centroids, codebooks, and the codes assigned/encoded against
    *    them publish ATOMICALLY: all three ride ONE
    *    [[graft.engine.Compaction.publishVersion]] version dir (the
    *    cell-partitioned codes plus `_centroids` and `_codebooks`
    *    sidecars — the [[retrainIvfIndex]] pattern) and the single
    *    pointer swap publishes them together. [[buildIvfPqIndex]]'s
    *    three sequential overwrites expose every torn combination to a
    *    concurrent probe (new centroids with old codes ranks cells
    *    against the wrong table; new codebooks with old codes scores
    *    garbage ADC) — fine for a first build with no readers, wrong
    *    for in-place maintenance;
    *  - the drift ledger resets and the meta distortion re-baselines
    *    for the next [[shouldRetrainPq]] cycle.
    *
    * Deterministic on the screened source SET (k-means init is the k
    * lowest vec_ids, per subspace likewise), so the rebuilt index is
    * bit-identical to a fresh [[buildIvfPqIndex]] on that set — the
    * oracle contract. `k`/`m`/`ksub` ≤ 0 keep the index's current
    * geometry. Cost is O(corpus) — what a rebuild inherently is —
    * scheduled (signal-gated, between stream batches), never per-merge. */
  def rebuildIvfPqIndex(embeddings: DataFrame, path: String,
                        k: Int = 0, iters: Int = 2,
                        m: Int = 0, ksub: Int = 0,
                        pqIters: Int = 1): Unit = Caches.withCached {
    // own scope, like retrainIvfIndex: the screened-source cache is
    // corpus-sized and the in-stream rebuild tick runs outside any
    // per-batch scope
    val spark = embeddings.sparkSession
    VectorExpressions.register(spark)
    import spark.implicits._
    val kk = if (k > 0) k else storedCentroids(spark, path).length
    val cb0 = if (m > 0 && ksub > 0) Array.empty[(Int, Int, IndexedSeq[Double])]
              else storedCodebooks(spark, path)
    val mm = if (m > 0) m else cb0.map(_._1).max + 1
    val ks = if (ksub > 0) ksub else cb0.map(_._2).max + 1
    val tomb = Compaction.pendingTombstones(spark, path, "vec_id")
    val src = embeddings
      .select(col("vec_id"), asDoubleVec(col("embedding")).as("v"))
    val e = Caches.ensureCached((tomb match {
      case Some(t) => src.join(Skew.maybeBroadcast(t), Seq("vec_id"), "left_anti")
      case None    => src
    }).dropDuplicates("vec_id"))
    val dims = embeddingDims(e)
    require(dims % mm == 0,
      s"rebuildIvfPqIndex: embedding dims ($dims) must be divisible by m ($mm)")
    val subDim = dims / mm
    val cents = kmeansCentroids(e, kk, iters)
    val codebooks = pqCodebooks(e, mm, subDim, ks, pqIters)
    Compaction.publishVersion(s"$path/codes") { nextDir =>
      e.withColumn("cluster", assignCluster(col("v"), cents).cast("long"))
        .select(Seq(col("vec_id"), col("cluster")) ++
          pqCodeCols(codebooks, subDim): _*)
        .repartition(col("cluster")).sortWithinPartitions("vec_id")
        .write.partitionBy("cluster").mode("overwrite").parquet(nextDir)
      cents.zipWithIndex.map { case (c, i) => (i.toLong, c) }
        .toDF("cluster", "c")
        .coalesce(1).write.mode("overwrite").parquet(s"$nextDir/_centroids")
      codebooks.zipWithIndex
        .flatMap { case (cb, s) => cb.zipWithIndex.map { case (c, j) => (s, j, c) } }
        .toDF("subspace", "cl", "cv")
        .coalesce(1).write.mode("overwrite").parquet(s"$nextDir/_codebooks")
    }
    // ---- published; everything below is advisory and self-healing ----
    // tombstones were served physically by the republish
    Compaction.clearTombstones(path)
    // drift restarts from zero: both logs measured against dead control
    // planes
    Compaction.dropTable(s"$path/merge_log")
    Compaction.dropTable(s"$path/cell_log")
    // the new regime's quality yardsticks for the NEXT drift cycle —
    // ADC distortion AND the coarse assigned-cell d² (shouldRetrainIvfPq)
    val md = e.agg(count(lit(1)).as("n"),
      avg(pqDistortion(subDim, codebooks)).as("mean_d2"),
      avg(assignedDist2(col("v"), cents)).as("cell_d2")).head()
    Seq((md.getLong(0), md.getDouble(1))).toDF("n", "mean_d2")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
    Seq((md.getLong(0), md.getDouble(2))).toDF("n", "mean_d2")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/cell_meta")
    // compat copies for external readers of the plain layout; the
    // engine's own readers prefer the versioned sidecars
    cents.zipWithIndex.map { case (c, i) => (i.toLong, c) }
      .toDF("cluster", "c")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")
    storedCentroidMemo.remove(s"$path/centroids")
    codebooks.zipWithIndex
      .flatMap { case (cb, s) => cb.zipWithIndex.map { case (c, j) => (s, j, c) } }
      .toDF("subspace", "cl", "cv")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/codebooks")
    storedCodebookMemo.remove(s"$path/codebooks")
  }

  /** Query a stored IVF-PQ index: rank the (tiny, memoized) centroid
    * table driver-side for the query's `nprobe` cells, build the
    * m × ksub ADC table from the memoized codebooks — both pure driver
    * arithmetic, no Spark job — then scan ONLY the probed cells' code
    * partitions (PartitionFilters prune at the storage layer): m array
    * lookups per candidate, no float vector anywhere in the read. */
  def queryIvfPqIndex(spark: org.apache.spark.sql.SparkSession, path: String,
                      queryVec: Seq[Double], topK: Int, nprobe: Int = 2,
                      excludeIds: Seq[Long] = Nil): DataFrame = {
    // (distance, cluster) ascending — the inline probe's tie-break
    val cells = storedCentroids(spark, path)
      .map { case (cl, c) => (l2sqLocal(c, queryVec), cl) }
      .sorted.take(nprobe).map(_._2)
    val cb = storedCodebooks(spark, path)
    val m = cb.map(_._1).max + 1
    val ksub = cb.map(_._2).max + 1
    val centroid = cb.map(r => (r._1, r._2) -> r._3).toMap
    val subDim = centroid((0, 0)).length
    require(queryVec.length == m * subDim,
      s"queryIvfPqIndex: query has ${queryVec.length} dims but the index " +
        s"was built for ${m * subDim} (m=$m × subDim=$subDim)")
    val qTables: Seq[Seq[Double]] = (0 until m).map { s =>
      val qSub = queryVec.slice(s * subDim, (s + 1) * subDim)
      (0 until ksub).map { j =>
        val c = centroid((s, j))
        qSub.zip(c).foldLeft(0.0) { case (acc, (x, y)) => acc + (x - y) * (x - y) }
      }
    }
    val codes = screenAnnTombstones(spark, path,
      spark.read.parquet(Compaction.resolve(s"$path/codes"))
        .filter(col("cluster").isin(cells: _*))) // → PartitionFilters, pruned
    val kept =
      if (excludeIds.isEmpty) codes
      else codes.filter(!col("vec_id").isin(excludeIds: _*))
    val adc = (0 until m)
      .map(s => element_at(typedlit(qTables(s)), col(s"code_$s") + 1))
      .reduce(_ + _)
    kept
      // partition-column values come back as the inferred directory
      // type; pin bigint so the stored read schema-matches the inline one
      .select(col("vec_id"), col("cluster").cast("long").as("cluster"),
        adc.as("adc_dist"))
      .orderBy(col("adc_dist"), col("vec_id"))
      .limit(topK)
  }

  /** Build the IVF index as a stored artifact: trains k-means once and
    * writes two parquet tables under `path` — `centroids` (cluster, c)
    * and `assignments` (vec_id, cluster, v) partitioned BY cluster, so a
    * probe reads only its cell's files (partition pruning does the
    * 1/k-of-corpus scan at the storage layer). Build once, query many —
    * the deployment shape of every ANN index. */
  def buildIvfIndex(embeddings: DataFrame, path: String,
                    k: Int = 8, iters: Int = 2): Unit = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val e = embeddings.select(col("vec_id"), asDoubleVec(col("embedding")).as("v"))
    val cents = kmeansCentroids(e, k, iters)
    cents.zipWithIndex.map { case (c, i) => (i.toLong, c) }
      .toDF("cluster", "c")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")
    // invalidate IMMEDIATELY after the overwrite, not at build end: a
    // build that fails later must not leave this JVM's memo pointing at
    // the pre-rebuild centroids while the new table sits on disk
    storedCentroidMemo.remove(s"$path/centroids")
    e.withColumn("cluster", assignCluster(col("v"), cents).cast("long"))
      .write.partitionBy("cluster").mode("overwrite")
      .parquet(s"$path/assignments")
    // freeze the fresh layout's file counts as the compaction trigger's
    // debt baseline: a large build is not debt (Compaction.seedBase)
    Compaction.seedBase(s"$path/assignments")
    // one-row quality meta: the build corpus's mean quantization error —
    // the yardstick every later merge's drift is measured against
    val m = e.agg(count(lit(1)).as("n"),
      avg(assignedDist2(col("v"), cents)).as("mean_d2")).head()
    Seq((m.getLong(0), m.getDouble(1))).toDF("n", "mean_d2")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
  }

  /** DELETE from a stored ANN index — IVF, PQ, and IVF-PQ all share
    * this vec_id-keyed verb (each index root keeps its own tombstone
    * set): the right-to-be-forgotten path for vectors, the same LSM
    * protocol as the fingerprint/aHash text indexes — deletion APPENDS
    * (vec_id) tombstone rows (O(|ids|), previously written cell/code
    * files untouched, a writer verb under the single-writer schedule as
    * merges). Effect is immediate at the query layer — every stored
    * probe screens its scan against the set — and physical at the
    * family's next compaction tick (`ivf`/`pq`/`ivfpq` kinds), which
    * rewrites the scan table without the tombstoned vectors and clears
    * the served tombstones. The advisory side tables (meta distortion,
    * merge_log drift) are NOT adjusted: they feed only the retrain
    * signal, which may overstate until the next rebuild — the same
    * posture as the fingerprint family's dfs table. `ids` carries the
    * vec ids in its first column. */
  def tombstoneAnnIndex(ids: DataFrame, path: String): Unit =
    Compaction.appendTombstones(ids, path, "vec_id")

  /** Tombstone screen for a stored ANN scan table — deleted vectors
    * stop matching IMMEDIATELY, before the physical rewrite. The
    * broadcast is size-guarded: a mass purge's tombstone set falls back
    * to a shuffle anti-join instead of a forced driver broadcast. */
  private[graft] def screenAnnTombstones(
      spark: org.apache.spark.sql.SparkSession,
      path: String, scan: DataFrame): DataFrame =
    Compaction.pendingTombstones(spark, path, "vec_id") match {
      case Some(t) =>
        scan.join(Skew.maybeBroadcast(t), Seq("vec_id"), "left_anti")
      case None => scan
    }

  /** Screened (tombstone-dropped) assignment rows of a stored IVF
    * index, unrestricted by cell — the [[graft.ops.PurgeAudit]]'s view
    * of exactly what any probe cell choice could ever match. */
  private[graft] def liveAnnAssignments(
      spark: org.apache.spark.sql.SparkSession, path: String): DataFrame =
    screenAnnTombstones(spark, path,
      spark.read.parquet(Compaction.resolve(s"$path/assignments")))

  /** Screened code rows of a stored PQ or IVFPQ index (both keep their
    * scan table at `codes`), unrestricted by cell — the audit's view of
    * what any probe could ever score. */
  private[graft] def liveAnnCodes(
      spark: org.apache.spark.sql.SparkSession, path: String): DataFrame =
    screenAnnTombstones(spark, path,
      spark.read.parquet(Compaction.resolve(s"$path/codes")))

  /** Re-insert guard shared by the three ANN merges (mergeHashIndex's
    * twin): a tombstoned vec id must stay gone until the tick serves
    * the deletion physically, or the standing tombstone would silently
    * re-screen the freshly merged rows. Fail loudly BEFORE any append
    * so the caller replays the batch after running the tick. */
  private def requireNoAnnTombClash(newVecs: DataFrame, path: String,
                                    verb: String): Unit =
    Compaction.requireNoTombClash(newVecs, path, "vec_id", verb)

  /** Incremental stored-IVF maintenance — the CDC×ANN composition: new
    * vectors arriving after the index build are assigned to the EXISTING
    * centroids (read back from the index, a tiny control-plane collect)
    * and appended to their cells' partition directories. No retraining,
    * no rewrite of previously indexed cells — the merge touches only the
    * files it adds, so concurrent readers keep a consistent (if slightly
    * stale) view and the write cost is O(|new vectors|) regardless of
    * index size. This is how production IVF indexes absorb a change feed
    * between periodic retrains (centroid drift is a retrain decision, not
    * a merge-time one). */
  def mergeIvfIndex(newVecs: DataFrame, path: String): Unit = Caches.withCached {
    val spark = newVecs.sparkSession
    import spark.implicits._
    VectorExpressions.register(spark)
    requireNoAnnTombClash(newVecs, path, "mergeIvfIndex")
    // frozen build-time centroids via the same memo the query path uses
    // (one collect per process, not one per merged batch)
    val cents: Seq[Seq[Double]] = storedCentroids(spark, path).map(_._2)
    // cached for the merge's scope: the append AND the drift aggregate
    // both consume the batch — uncached, each re-reads and re-decodes
    // the batch source
    val nv = Caches.ensureCached(
      newVecs.select(col("vec_id"), asDoubleVec(col("embedding")).as("v")))
    // guardedAppend: loud failure (so the caller replays the batch) if
    // a compactor swapped the pointer mid-append — see Compaction
    Compaction.guardedAppend(s"$path/assignments") { live =>
      nv.withColumn("cluster", assignCluster(col("v"), cents).cast("long"))
        .write.partitionBy("cluster").mode("append").parquet(live)
    }
    // drift bookkeeping: one appended row per merge — the new batch's
    // mean quantization error against the FROZEN build-time centroids.
    // O(1) storage per merge; [[shouldRetrain]] turns the accumulated
    // log into the retrain decision the merge itself deliberately
    // doesn't make.
    val m = nv.agg(count(lit(1)).as("n"),
      avg(assignedDist2(col("v"), cents)).as("mean_d2")).head()
    if (m.getLong(0) > 0L)
      Compaction.guardedAppend(s"$path/merge_log") { log =>
        Seq((m.getLong(0), m.getDouble(1))).toDF("n", "mean_d2")
          .coalesce(1).write.mode("append").parquet(log)
      }
  }

  /** RETRAIN a stored IVF index in place — the action
    * [[shouldRetrain]]'s signal calls for, completing the index's churn
    * lifecycle (build → merge drift → signal → retrain), the ANN twin
    * of the tokenizer's drift→retrain tick. IVF is self-retrainable:
    * the assignments table stores every live vector verbatim, so the
    * rebuild needs no corpus access — it re-trains Lloyd's k-means on
    * the index's own screened live set (pending tombstones dropped,
    * replay duplicates healed) and republishes.
    *
    * Atomicity is the crux: centroids and the assignments computed
    * against them must never be observable torn (a probe ranks cells
    * against the centroid table, then scans assignment partitions — a
    * new-centroids/old-assignments mix answers WRONG, not slow). Both
    * therefore ride ONE [[graft.engine.Compaction.publishVersion]]
    * version dir — the fresh cell-partitioned assignments plus the new
    * centroid table as a `_centroids` sidecar (underscore: invisible to
    * Spark's listing and the debt counter) — and the single atomic
    * pointer swap publishes them together. [[storedCentroids]] prefers
    * the live version's sidecar; the `ivf` compaction kind carries it
    * into every later version before its own swap. A crash before the
    * swap leaves the old index fully live; after it, the post-swap
    * bookkeeping (tombstone clear, drift-log reset, meta/compat
    * rewrites) is advisory and self-heals — the retrain is
    * deterministic on the live SET (k-means init is the k lowest
    * vec_ids, not arrival order), so re-running it after any crash
    * converges to the identical index. That determinism also makes the
    * retrained index bit-identical to a fresh [[buildIvfIndex]] on the
    * same live set — the oracle contract.
    *
    * Scale shape: one distributed pass per Lloyd's iteration plus one
    * rewrite shuffle keyed by cell — O(corpus), the cost a retrain
    * inherently is, scheduled (drift-gated, between stream batches),
    * never per-merge. `k` ≤ 0 keeps the index's current cell count. */
  def retrainIvfIndex(spark: org.apache.spark.sql.SparkSession,
                      path: String, k: Int = 0,
                      iters: Int = 2): Unit = Caches.withCached {
    // own scope: the live-set cache below is corpus-sized and this verb
    // runs from stream ticks OUTSIDE any per-batch withCached scope — an
    // unscoped entry per drift-triggered retrain accretes for the
    // stream's lifetime
    VectorExpressions.register(spark)
    import spark.implicits._
    val kk = if (k > 0) k else storedCentroids(spark, path).length
    val tomb = Compaction.pendingTombstones(spark, path, "vec_id")
    val live0 = spark.read.parquet(Compaction.resolve(s"$path/assignments"))
    val vecs = Caches.ensureCached((tomb match {
      case Some(t) => live0.join(Skew.maybeBroadcast(t), Seq("vec_id"), "left_anti")
      case None    => live0
    }).select(col("vec_id"), col("v")).dropDuplicates("vec_id"))
    val cents = kmeansCentroids(vecs, kk, iters)
    Compaction.publishVersion(s"$path/assignments") { nextDir =>
      vecs.withColumn("cluster", assignCluster(col("v"), cents).cast("long"))
        .repartition(col("cluster")).sortWithinPartitions("vec_id")
        .write.partitionBy("cluster").mode("overwrite").parquet(nextDir)
      cents.zipWithIndex.map { case (c, i) => (i.toLong, c) }
        .toDF("cluster", "c")
        .coalesce(1).write.mode("overwrite").parquet(s"$nextDir/_centroids")
    }
    // ---- published; everything below is advisory and self-healing ----
    // tombstones were served physically by the republish
    Compaction.clearTombstones(path)
    // drift restarts from zero: the log measured against dead centroids
    Compaction.dropTable(s"$path/merge_log")
    // the new regime's quality yardstick for the NEXT drift cycle
    val m = vecs.agg(count(lit(1)).as("n"),
      avg(assignedDist2(col("v"), cents)).as("mean_d2")).head()
    Seq((m.getLong(0), m.getDouble(1))).toDF("n", "mean_d2")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
    // compat copy for external readers of the plain layout; the engine's
    // own reader prefers the versioned sidecar
    cents.zipWithIndex.map { case (c, i) => (i.toLong, c) }
      .toDF("cluster", "c")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")
    storedCentroidMemo.remove(s"$path/centroids")
  }

  /** The retrain decision [[mergeIvfIndex]]'s doc defers: compare the
    * merged batches' weighted-mean quantization error against the build
    * corpus's (both stored with the index — this reads two tiny tables,
    * never the corpus). A feed drawn from the indexed distribution keeps
    * the ratio near 1; a drifted feed lands far from every frozen
    * centroid and pushes it up. Returns true when the ratio exceeds
    * `threshold` — i.e. recall has degraded enough that the periodic
    * re-train (a fresh [[buildIvfIndex]]) is due. False when nothing has
    * been merged yet. */
  def shouldRetrain(spark: org.apache.spark.sql.SparkSession, path: String,
                    threshold: Double = 2.0): Boolean =
    driftExceeds(spark, s"$path/merge_log", s"$path/meta", threshold)

  /** One drift-ratio evaluation: the drift log's n-weighted mean
    * against the one-row baseline's, true past `threshold`. Advisory
    * read of the log's live version ([[Compaction.resolve]]), outside
    * the single-writer protocol by design. The resolve→read pair is
    * inherently racy against a concurrent tick (the live version can be
    * vacuumed mid-scan), so the read re-resolves once on a path failure
    * and otherwise answers "no signal" — an advisory reader returns an
    * answer, it never crashes the caller over a maintenance race. */
  private def driftExceeds(spark: org.apache.spark.sql.SparkSession,
                           logDir: String, metaDir: String,
                           threshold: Double): Boolean = {
    def readLog(): Option[org.apache.spark.sql.Row] =
      if (!java.nio.file.Files.exists(java.nio.file.Paths.get(logDir))) None
      else Some(spark.read.parquet(Compaction.resolve(logDir))
        .agg(sum("n").cast("long").as("n"),
          sum(col("mean_d2") * col("n").cast("double")).as("w")).head())
    val merged = (try readLog() catch {
      case _: org.apache.spark.sql.AnalysisException | _: java.io.IOException |
          _: org.apache.spark.SparkException =>
        try readLog() catch {
          case _: org.apache.spark.sql.AnalysisException |
              _: java.io.IOException | _: org.apache.spark.SparkException =>
            None
        }
    }) match {
      case Some(r) => r
      case None    => return false
    }
    if (merged.isNullAt(0) || merged.getLong(0) == 0L) return false
    val mergeMean = merged.getDouble(1) / merged.getLong(0).toDouble
    // the baseline read gets the same no-signal posture as the log: a
    // rebuild tick overwrites meta/cell_meta in place, and an advisory
    // reader racing that window must answer false, never crash
    val buildMean = try {
      val r = spark.read.parquet(metaDir).limit(1).collect()
      if (r.isEmpty) return false
      r.head.getDouble(1)
    } catch {
      case _: org.apache.spark.sql.AnalysisException | _: java.io.IOException |
          _: org.apache.spark.SparkException => return false
    }
    if (buildMean <= 0.0) mergeMean > 0.0 else mergeMean / buildMean > threshold
  }

  // Per-process memo of stored-index control-plane tables (IVF
  // centroids, PQ codebooks), keyed by table dir and VALIDATED against
  // a CONTENT SIGNATURE of the dir on every access: tiny rows the read
  // paths would otherwise re-read (parquet listing + footer + one-job
  // collect) on EVERY query/merge — at deployment QPS the cell probe
  // must be warm driver arithmetic, the same treatment the inline
  // variant's givenCellCentroids cache got. The signature is the
  // sorted (name, size, mtime) listing of the dir's files — NOT the
  // dir's own mtime: on filesystems with coarse (1 s) mtime
  // granularity a cross-process rebuild can land in the same dir
  // timestamp as the memoized load, and a bare-mtime memo would then
  // serve stale centroids forever. Parquet overwrites always change
  // the part-file names (fresh UUIDs), so the listing signature
  // catches every rebuild regardless of timer resolution. The
  // signature is taken BEFORE the load: if a rebuild races the load
  // (partial table read), the post-commit listing differs from the
  // memoized pre-load signature, so the next access reloads — a raced
  // load can be served at most until the next call, never pinned.
  // Same-JVM rebuilds also invalidate explicitly, immediately after
  // the overwrite.
  private[graft] def dirSignature(dir: String): String = {
    val p = java.nio.file.Paths.get(dir)
    try {
      val s = java.nio.file.Files.list(p)
      try {
        val it = s.iterator()
        val buf = scala.collection.mutable.ArrayBuffer.empty[String]
        while (it.hasNext) {
          val f = it.next()
          val sz = try java.nio.file.Files.size(f)
            catch { case _: java.io.IOException => -1L }
          val mt = try java.nio.file.Files.getLastModifiedTime(f).toMillis
            catch { case _: java.io.IOException => -1L }
          buf += s"${f.getFileName}:$sz:$mt"
        }
        buf.sorted.mkString("|")
      } finally s.close()
    } catch { case _: java.io.IOException => "<missing>" }
  }

  private def memoizedControlPlane[T](dir: String, memo:
      scala.collection.concurrent.TrieMap[String, (String, T)])(load: => T): T = {
    val sig = dirSignature(dir)
    memo.get(dir) match {
      case Some((m, v)) if m == sig => v
      case _ =>
        val v = load
        memo.put(dir, (sig, v))
        v
    }
  }

  private val storedCentroidMemo = scala.collection.concurrent.TrieMap
    .empty[String, (String, IndexedSeq[(Long, IndexedSeq[Double])])]

  private def storedCentroids(spark: org.apache.spark.sql.SparkSession,
                              path: String): IndexedSeq[(Long, IndexedSeq[Double])] = {
    // a retrained index's centroids live INSIDE the published
    // assignments version (`_centroids` sidecar — one atomic swap for
    // both, see retrainIvfIndex); prefer that copy, fall back to the
    // build-time plain table for never-retrained indexes (and for the
    // PQ/IVFPQ roots, which have no assignments table at all). The memo
    // keys on the RESOLVED dir, so a retrain's new version dir is a
    // fresh key and the signature check does the rest.
    val fromAssignments = java.nio.file.Paths.get(
      Compaction.resolve(s"$path/assignments"), "_centroids")
    // an IVF-PQ index has no assignments table — its REBUILT centroids
    // ride the codes version dir instead (rebuildIvfPqIndex)
    val fromCodes = java.nio.file.Paths.get(
      Compaction.resolve(s"$path/codes"), "_centroids")
    val dir =
      if (java.nio.file.Files.exists(fromAssignments)) fromAssignments.toString
      else if (java.nio.file.Files.exists(fromCodes)) fromCodes.toString
      else s"$path/centroids"
    memoizedControlPlane(dir, storedCentroidMemo) {
      spark.read.parquet(dir).orderBy("cluster")
        .collect().toIndexedSeq
        .map(r => (r.getLong(0), r.getSeq[Double](1).toIndexedSeq))
    }
  }

  /** Driver-side squared L2 — the same left-to-right fold as the
    * codegen'd `graft_l2sq` kernel (and the oracle's `list_reduce`), so
    * a probe decided here picks bit-identically the same cell. */
  private def l2sqLocal(a: Seq[Double], b: Seq[Double]): Double = {
    val n = math.min(a.length, b.length)
    var acc = 0.0; var i = 0
    while (i < n) { val d = a(i) - b(i); acc += d * d; i += 1 }
    acc
  }

  /** Query a stored IVF index: pick the query's nearest `nprobe` cells
    * from the (tiny, memoized) centroid table — pure driver arithmetic,
    * no Spark job — then scan ONLY those cells' partitions, cosine
    * top-k inside. No training, no full-corpus scan. `excludeIds` drops
    * known ids (e.g. the query vector itself when it is part of the
    * indexed corpus) before the top-k cut. */
  def queryIvfIndex(spark: org.apache.spark.sql.SparkSession, path: String,
                    queryVec: Seq[Double], topK: Int,
                    nprobe: Int = 1, excludeIds: Seq[Long] = Nil): DataFrame = {
    VectorExpressions.register(spark)
    // (distance, cluster) ascending — the same (_d, cluster) tie-break
    // order the previous Spark-job formulation sorted by
    val cells = storedCentroids(spark, path)
      .map { case (cl, c) => (l2sqLocal(c, queryVec), cl) }
      .sorted.take(nprobe).map(_._2)
    // tombstone screen first: deleted vectors stop matching before the
    // compaction makes the deletion physical
    val scan = screenAnnTombstones(spark, path,
      spark.read.parquet(Compaction.resolve(s"$path/assignments"))
        .filter(col("cluster").isin(cells: _*))) // → PartitionFilters, pruned
    val kept =
      if (excludeIds.isEmpty) scan
      else scan.filter(!col("vec_id").isin(excludeIds: _*))
    kept
      // partition-column values come back as the inferred directory type;
      // pin bigint so the stored read path schema-matches the inline one
      .select(col("vec_id"), col("cluster").cast("long").as("cluster"),
        round(
          call_function("graft_dot", col("v"), typedlit(queryVec)) /
            (sqrt(call_function("graft_dot", col("v"), col("v"))) *
              sqrt(call_function("graft_dot", typedlit(queryVec), typedlit(queryVec)))),
          6).as("cosine"))
      .orderBy(desc("cosine"), col("vec_id"))
      .limit(topK)
  }

  /** Batch probe over a stored IVF index — the shape a training-data
    * pipeline actually runs (a dedup sweep queries with every new doc's
    * embedding, thousands per batch), where per-query [[queryIvfIndex]]
    * calls would issue one pruned scan EACH:
    *
    *  1. every query row ranks the (tiny, broadcast) centroid table and
    *     keeps its `nprobe` nearest cells — one narrow shuffle-free
    *     pass over the batch;
    *  2. ONE scan of the assignments table joined (broadcast, on the
    *     partition column) to the probed (query, cell) pairs — Spark's
    *     dynamic partition pruning limits the scan to the UNION of
    *     probed cells, so the whole batch costs one pruned scan instead
    *     of |batch| of them;
    *  3. cosine per (query, candidate), windowed top-k per query — the
    *     only shuffle, keyed by query id over candidate-sized data.
    *
    * `queries` needs (vec_id, embedding); self-matches (same vec_id on
    * both sides) are excluded, matching the single-query paths'
    * `excludeIds = Seq(id)` convention. Returns
    * (q_id, vec_id, cluster, cosine), top-k rows per q_id.
    *
    * `probeRatio` (> 0 to enable) is the SAME adaptive multi-probe rule
    * as [[queryIvfPqIndexBatch]], through the SAME [[probedCells]]
    * helper so the two families can never diverge: fixed `nprobe` left
    * some boundary queries (several near-tied centroids) at recall 0
    * because their true neighbors live in a 3rd+ cell — the exposure
    * the r19 verdict flagged on this path after IVFPQ was fixed. The
    * rule probes every cell within `probeRatio ×` the nearest squared-
    * L2 centroid distance (floor `nprobe`), spending probes on exactly
    * the boundary queries. This path feeds the hybrid RRF retrieval's
    * vector arm, so the lifted floor carries into fused rankings. */
  def queryIvfIndexBatch(spark: org.apache.spark.sql.SparkSession,
                         path: String, queries: DataFrame, topK: Int,
                         nprobe: Int = 1,
                         probeRatio: Double = 0.0): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    VectorExpressions.register(spark)
    val q = queries.select(col("vec_id").as("q_id"),
      asDoubleVec(col("embedding")).as("qv"))
    // the query's norm is a per-query constant — compute it once per
    // probed (query, cell) row instead of per candidate row
    val qn = q.select(col("q_id"), col("qv"),
      sqrt(call_function("graft_dot", col("qv"), col("qv"))).as("qn"))
    val probed = probedCells(spark, path, q, nprobe, probeRatio)
      .join(qn, "q_id")
    val scan = screenAnnTombstones(spark, path,
      spark.read.parquet(Compaction.resolve(s"$path/assignments")))
    scan.join(broadcast(probed), "cluster") // partition-column join → DPP
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        col("cluster").cast("long").as("cluster"),
        round(
          call_function("graft_dot", col("v"), col("qv")) /
            (sqrt(call_function("graft_dot", col("v"), col("v"))) * col("qn")),
          6).as("cosine"))
      .withColumn("_rn", row_number().over(
        Window.partitionBy("q_id").orderBy(desc("cosine"), col("vec_id"))))
      .filter(col("_rn") <= topK)
      .drop("_rn")
  }

  /** Reciprocal-rank fusion of independent per-query retrieval
    * rankings (Cormack/Clarke/Büttcher, SIGIR 2009): each input frame
    * carries `(q_id, doc_id, rank)` — rank 1 = best — and a candidate's
    * fused score is Σ 1/(rrfK + rank) over the rankings that retrieved
    * it (a doc found by only one ranker contributes one term). The
    * training-data-curation use is hybrid retrieval: fuse a LEXICAL
    * ranking (stored BM25 probe) with a VECTOR ranking (stored IVF
    * probe) so contamination/quality lookups catch both paraphrases
    * (lexical misses, vector hits) and rare-token matches (vector
    * misses, lexical hits).
    *
    * Scale shape: the inputs are per-query TOP-K frames — |queries|×k
    * rows each, produced by the already-index-backed rankers — so the
    * fuse is one union + one groupBy on (q_id, doc_id) over
    * ranker-count × |queries| × k rows, never anything corpus-sized.
    * Scores are rounded to 6 dp and ranked with a doc_id tie-break:
    * rank sums of ≤ a few 1/(60+r) terms are separated far above 1e-6,
    * so the rounded ordering is engine-independent (the same
    * determinism discipline as the cosine rankers). */
  def rrfFuse(rankings: Seq[DataFrame], topK: Int,
              rrfK: Int = 60): DataFrame = {
    require(rankings.nonEmpty, "rrfFuse needs at least one ranking")
    import org.apache.spark.sql.expressions.Window
    val normed = rankings.map(_.select(col("q_id"), col("doc_id"),
      col("rank").cast("double").as("rank")))
    normed.reduce(_ unionByName _)
      // one exchange serves the (q_id, doc_id) fuse aggregate AND the
      // per-query top-k window below (guide §2.4); inputs are
      // |queries|×k top-k frames, so q_id clustering cannot hot-spot
      .repartition(col("q_id"))
      .groupBy("q_id", "doc_id")
      .agg(round(sum(lit(1.0) / (lit(rrfK.toDouble) + col("rank"))), 6)
        .as("rrf"))
      .withColumn("_rn", row_number().over(
        Window.partitionBy("q_id").orderBy(desc("rrf"), col("doc_id"))))
      .filter(col("_rn") <= topK)
      .drop("_rn")
  }

  /** Build the PQ index as a stored artifact — the missing half of
    * [[pqTopK]]'s 100 TB story: the codebooks (m × ksub subspace
    * centroids) are trained ONCE and persisted with every vector's m
    * one-byte codes; queries never touch the float corpus or re-run
    * training. Two parquet tables under `path`: `codebooks`
    * (subspace, cl, cv) — tiny, collected at query time — and `codes`
    * (vec_id, code_0..code_{m-1}) — the RAM-resident scan table (m bytes
    * of signal per vector). Training reuses [[kmeansCentroids]] on the
    * exact subspace plans the inline path derives, so a session that runs
    * both trains once. */
  def buildPqIndex(embeddings: DataFrame, path: String,
                   m: Int = 8, ksub: Int = 16, iters: Int = 1): Unit = {
    val spark = embeddings.sparkSession
    VectorExpressions.register(spark)
    import spark.implicits._
    val e = Caches.ensureCached(
      embeddings.select(col("vec_id"), asDoubleVec(col("embedding")).as("v")))
    val dims = embeddingDims(e)
    require(dims % m == 0,
      s"buildPqIndex: embedding dims ($dims) must be divisible by m ($m)")
    val subDim = dims / m
    val codebooks = pqCodebooks(e, m, subDim, ksub, iters)
    codebooks.zipWithIndex
      .flatMap { case (cb, s) => cb.zipWithIndex.map { case (c, j) => (s, j, c) } }
      .toDF("subspace", "cl", "cv")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/codebooks")
    // invalidate IMMEDIATELY after the overwrite, not at build end: a
    // build that fails later must not leave this JVM's memo pointing at
    // the pre-rebuild codebooks while the new table sits on disk
    storedCodebookMemo.remove(s"$path/codebooks")
    e.select(col("vec_id") +: pqCodeCols(codebooks, subDim): _*)
      .write.mode("overwrite").parquet(s"$path/codes")
    // freeze the fresh layout's file counts as the compaction trigger's
    // debt baseline: a large build is not debt (Compaction.seedBase)
    Compaction.seedBase(s"$path/codes")
    // one-row quality meta, mirroring buildIvfIndex: the build corpus's
    // mean quantization distortion (squared L2 between each vector and
    // its code reconstruction, summed over subspaces) — the yardstick
    // [[shouldRetrainPq]] measures every merge against
    val md = e.agg(count(lit(1)).as("n"),
      avg(pqDistortion(subDim, codebooks)).as("mean_d2")).head()
    Seq((md.getLong(0), md.getDouble(1))).toDF("n", "mean_d2")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
  }

  /** Per-vector PQ quantization distortion: Σ_s min_j ‖v_s − c_{s,j}‖² —
    * the squared L2 between a vector and its nearest-code reconstruction,
    * the standard PQ quality metric (each subspace quantizes
    * independently, so the per-subspace minima sum to the full residual). */
  private def pqDistortion(subDim: Int,
                           codebooks: Seq[Seq[Seq[Double]]]): Column = {
    // budgeted like pqCodeCols: the m min-distance terms share one
    // aggregate projection, so the inlined-call budget is m × ksub
    val calls = codebooks.length * codebooks.headOption.map(_.length).getOrElse(0)
    codebooks.zipWithIndex.map { case (cb, s) =>
      array_min(distArray(expr(s"slice(v, ${s * subDim + 1}, $subDim)"),
        cb, calls))
    }.reduce(_ + _)
  }

  /** Incremental stored-PQ maintenance — completing the lifecycle
    * symmetry with [[mergeIvfIndex]]/[[graft.ops.TextOps.mergeBm25Index]]:
    * new vectors are ENCODED against the frozen stored codebooks (a tiny
    * control-plane collect) and their m one-byte codes appended to the
    * codes table — O(|new|) write, no retraining, previously written
    * code files untouched. Codebook drift under a shifting feed is a
    * rebuild decision (the same posture as IVF's [[shouldRetrain]] —
    * compose with it via the IVF index over the same corpus, or rebuild
    * on schedule). */
  def mergePqIndex(newVecs: DataFrame, path: String): Unit = Caches.withCached {
    val spark = newVecs.sparkSession
    VectorExpressions.register(spark)
    requireNoAnnTombClash(newVecs, path, "mergePqIndex")
    // frozen codebooks via the same memo the query paths use (one
    // collect per process, not one per merged batch)
    val cb = storedCodebooks(spark, path)
    val m = cb.map(_._1).max + 1
    val centroid = cb.map(r => (r._1, r._2) -> r._3).toMap
    val ksub = cb.map(_._2).max + 1
    val subDim = centroid((0, 0)).length
    val codebooks: Seq[Seq[Seq[Double]]] =
      (0 until m).map(s => (0 until ksub).map(j => centroid((s, j))))
    // cached for the merge's scope: the append and the drift aggregate
    // both consume the batch
    val e = Caches.ensureCached(
      newVecs.select(col("vec_id"), asDoubleVec(col("embedding")).as("v")))
    // guardedAppend: loud failure (so the caller replays the batch) if
    // a compactor swapped the pointer mid-append — see Compaction
    Compaction.guardedAppend(s"$path/codes") { live =>
      e.select(col("vec_id") +: pqCodeCols(codebooks, subDim): _*)
        .write.mode("append").parquet(live)
    }
    // drift bookkeeping, mirroring mergeIvfIndex: one appended row per
    // merge — the batch's mean quantization distortion against the
    // FROZEN codebooks. O(1) storage per merge; [[shouldRetrainPq]]
    // turns the log into the rebuild decision the merge itself
    // deliberately doesn't make.
    val md = e.agg(count(lit(1)).as("n"),
      avg(pqDistortion(subDim, codebooks)).as("mean_d2")).head()
    if (md.getLong(0) > 0L) {
      import spark.implicits._
      Compaction.guardedAppend(s"$path/merge_log") { log =>
        Seq((md.getLong(0), md.getDouble(1))).toDF("n", "mean_d2")
          .coalesce(1).write.mode("append").parquet(log)
      }
    }
  }

  /** The PQ rebuild signal — completing the lifecycle symmetry with
    * IVF's [[shouldRetrain]] and the fingerprint index's
    * `hotListDrift`: merges encode against frozen codebooks, so a
    * shifting feed quantizes ever worse (its vectors land far from every
    * subspace centroid) and ADC rankings degrade silently. Compares the
    * merged batches' weighted-mean distortion against the build corpus's
    * — two tiny meta tables, never the codes — and trips when the ratio
    * exceeds `threshold`. False when nothing has been merged yet. */
  def shouldRetrainPq(spark: org.apache.spark.sql.SparkSession, path: String,
                      threshold: Double = 2.0): Boolean =
    shouldRetrain(spark, path, threshold)

  /** The COMPOSITE's rebuild signal — the r16 gap closed: gating the
    * IVF-PQ stream on ADC distortion alone ([[shouldRetrainPq]]) is
    * blind to coarse-quantizer drift, because the two losses move
    * independently — a feed of subspace-pure recombinations (every
    * subspace value well-covered by the frozen codebooks, the
    * whole-vector positions far from every frozen cell) keeps ADC
    * distortion flat while cell pruning degrades silently: queries
    * probe cells the true neighbors no longer concentrate in. This
    * signal trips when EITHER ratio exceeds `threshold`: the ADC
    * distortion drift (merge_log vs meta) OR the coarse assigned-cell
    * d² drift (cell_log vs cell_meta — both written by
    * [[mergeIvfPqIndex]]/[[buildIvfPqIndex]] as of r17). Indexes built
    * before the cell ledger existed have no cell tables and degrade to
    * the ADC-only gate — the prior behavior, never a crash. */
  def shouldRetrainIvfPq(spark: org.apache.spark.sql.SparkSession,
                         path: String,
                         threshold: Double = 2.0): Boolean =
    driftExceeds(spark, s"$path/merge_log", s"$path/meta", threshold) || (
      java.nio.file.Files.exists(java.nio.file.Paths.get(s"$path/cell_meta")) &&
        driftExceeds(spark, s"$path/cell_log", s"$path/cell_meta", threshold))

  /** Scheduled REBUILD of a stored PQ index from the caller's source
    * corpus — the flat-index sibling of [[rebuildIvfPqIndex]] (one
    * control-plane sidecar instead of two; the full contract — caller
    * supplies the corpus because codes are lossy, tombstones screen the
    * source and are served physically, codebooks + codes publish under
    * ONE atomic version swap, drift ledger and meta re-baseline — is
    * documented there). Deterministic on the screened source SET, so
    * the rebuilt index is bit-identical to a fresh [[buildPqIndex]] on
    * that set. `m`/`ksub` ≤ 0 keep the index's current geometry. */
  def rebuildPqIndex(embeddings: DataFrame, path: String,
                     m: Int = 0, ksub: Int = 0,
                     iters: Int = 1): Unit = Caches.withCached {
    // own scope — see rebuildIvfPqIndex
    val spark = embeddings.sparkSession
    VectorExpressions.register(spark)
    import spark.implicits._
    val cb0 = if (m > 0 && ksub > 0) Array.empty[(Int, Int, IndexedSeq[Double])]
              else storedCodebooks(spark, path)
    val mm = if (m > 0) m else cb0.map(_._1).max + 1
    val ks = if (ksub > 0) ksub else cb0.map(_._2).max + 1
    val tomb = Compaction.pendingTombstones(spark, path, "vec_id")
    val src = embeddings
      .select(col("vec_id"), asDoubleVec(col("embedding")).as("v"))
    val e = Caches.ensureCached((tomb match {
      case Some(t) => src.join(Skew.maybeBroadcast(t), Seq("vec_id"), "left_anti")
      case None    => src
    }).dropDuplicates("vec_id"))
    val dims = embeddingDims(e)
    require(dims % mm == 0,
      s"rebuildPqIndex: embedding dims ($dims) must be divisible by m ($mm)")
    val subDim = dims / mm
    val codebooks = pqCodebooks(e, mm, subDim, ks, iters)
    Compaction.publishVersion(s"$path/codes") { nextDir =>
      e.select(col("vec_id") +: pqCodeCols(codebooks, subDim): _*)
        .repartition(col("vec_id")).sortWithinPartitions("vec_id")
        .write.mode("overwrite").parquet(nextDir)
      codebooks.zipWithIndex
        .flatMap { case (cb, s) => cb.zipWithIndex.map { case (c, j) => (s, j, c) } }
        .toDF("subspace", "cl", "cv")
        .coalesce(1).write.mode("overwrite").parquet(s"$nextDir/_codebooks")
    }
    // ---- published; everything below is advisory and self-healing ----
    Compaction.clearTombstones(path)
    Compaction.dropTable(s"$path/merge_log")
    val md = e.agg(count(lit(1)).as("n"),
      avg(pqDistortion(subDim, codebooks)).as("mean_d2")).head()
    Seq((md.getLong(0), md.getDouble(1))).toDF("n", "mean_d2")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
    codebooks.zipWithIndex
      .flatMap { case (cb, s) => cb.zipWithIndex.map { case (c, j) => (s, j, c) } }
      .toDF("subspace", "cl", "cv")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/codebooks")
    storedCodebookMemo.remove(s"$path/codebooks")
  }

  /** Query a stored PQ index: read the (tiny) codebook table, build the
    * query's m × ksub distance table with the same left-to-right
    * squared-L2 fold as [[graft.functions.SquaredL2]] (driver doubles are
    * the same IEEE ops, so scores are bit-identical to the inline path),
    * then score the stored code table by ADC — m array lookups + a fixed
    * left-associated sum per candidate, no float vectors, no training.
    * This is the production read path: sub-second at any corpus size that
    * fits its code table. */
  // Same signature-validated control-plane memo as [[storedCentroids]]
  // for the PQ codebook table (m × ksub tiny rows).
  private val storedCodebookMemo = scala.collection.concurrent.TrieMap
    .empty[String, (String, Array[(Int, Int, IndexedSeq[Double])])]

  private def storedCodebooks(spark: org.apache.spark.sql.SparkSession,
                              path: String): Array[(Int, Int, IndexedSeq[Double])] = {
    // a REBUILT index's codebooks live INSIDE the published codes
    // version (`_codebooks` sidecar — one atomic swap for codebooks and
    // the codes encoded against them, see rebuildPqIndex); prefer that
    // copy, fall back to the build-time plain table for never-rebuilt
    // indexes. The memo keys on the RESOLVED dir, so a rebuild's new
    // version dir is a fresh key and the signature check does the rest.
    val versioned = java.nio.file.Paths.get(
      Compaction.resolve(s"$path/codes"), "_codebooks")
    val dir = if (java.nio.file.Files.exists(versioned)) versioned.toString
              else s"$path/codebooks"
    memoizedControlPlane(dir, storedCodebookMemo) {
      spark.read.parquet(dir)
        .collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toIndexedSeq))
    }
  }

  def queryPqIndex(spark: org.apache.spark.sql.SparkSession, path: String,
                   queryVec: Seq[Double], topK: Int,
                   excludeIds: Seq[Long] = Nil): DataFrame = {
    val cb = storedCodebooks(spark, path)
    val m = cb.map(_._1).max + 1
    val ksub = cb.map(_._2).max + 1
    val centroid = cb.map(r => (r._1, r._2) -> r._3).toMap
    val subDim = centroid((0, 0)).length
    require(queryVec.length == m * subDim,
      s"queryPqIndex: query has ${queryVec.length} dims but the index was " +
        s"built for ${m * subDim} (m=$m × subDim=$subDim)")
    val qTables: Seq[Seq[Double]] = (0 until m).map { s =>
      val qSub = queryVec.slice(s * subDim, (s + 1) * subDim)
      (0 until ksub).map { j =>
        val c = centroid((s, j))
        qSub.zip(c).foldLeft(0.0) { case (acc, (x, y)) => acc + (x - y) * (x - y) }
      }
    }
    val codes = screenAnnTombstones(spark, path,
      spark.read.parquet(Compaction.resolve(s"$path/codes")))
    val kept =
      if (excludeIds.isEmpty) codes
      else codes.filter(!col("vec_id").isin(excludeIds: _*))
    val adc = (0 until m)
      .map(s => element_at(typedlit(qTables(s)), col(s"code_$s") + 1))
      .reduce(_ + _)
    kept.select(col("vec_id"), adc.as("adc_dist"))
      .orderBy(col("adc_dist"), col("vec_id"))
      .limit(topK)
  }

  /** Batch probe over a stored PQ index — [[queryIvfIndexBatch]]'s ADC
    * sibling. PQ has no partition pruning (ADC is by construction a
    * full code-table scan), so what batching buys is ONE scan for the
    * whole query batch instead of |batch| scans: each query's m × ksub
    * distance table is computed as array columns over the (broadcast)
    * query batch, the code table cross-joins it once, and ADC becomes m
    * array lookups per (query, candidate) with a per-query top-k
    * window. Distance tables use the same `graft_l2sq` fold as the
    * single-query path's driver arithmetic, so scores are
    * bit-identical. Self-matches are excluded, per the batch-probe
    * convention. Returns (q_id, vec_id, adc_dist), top-k per q_id. */
  def queryPqIndexBatch(spark: org.apache.spark.sql.SparkSession,
                        path: String, queries: DataFrame,
                        topK: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    VectorExpressions.register(spark)
    val cb = storedCodebooks(spark, path)
    val m = cb.map(_._1).max + 1
    val ksub = cb.map(_._2).max + 1
    val centroid = cb.map(r => (r._1, r._2) -> r._3).toMap
    val subDim = centroid((0, 0)).length
    val q = queries.select(col("vec_id").as("q_id"),
      asDoubleVec(col("embedding")).as("qv"))
    // per-query ADC tables: dt_s[j] = l2sq(query subvector s, centroid
    // (s, j)) — ksub entries per subspace, computed once per query
    // (budgeted representation: see distArray — per-query rows, so the
    // transform fallback past the call budget is performance-neutral)
    val dtCols = (0 until m).map { s =>
      distArray(expr(s"slice(qv, ${s * subDim + 1}, $subDim)"),
        (0 until ksub).map(j => centroid((s, j))), m * ksub).as(s"dt_$s")
    }
    val qt = q.select(col("q_id") +: dtCols: _*)
    val codes = screenAnnTombstones(spark, path,
      spark.read.parquet(Compaction.resolve(s"$path/codes")))
    val adc = (0 until m)
      .map(s => element_at(col(s"dt_$s"), col(s"code_$s") + 1))
      .reduce(_ + _)
    codes.crossJoin(broadcast(qt))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"), adc.as("adc_dist"))
      .withColumn("_rn", row_number().over(
        Window.partitionBy("q_id").orderBy(col("adc_dist"), col("vec_id"))))
      .filter(col("_rn") <= topK)
      .drop("_rn")
  }

  /** Batch probe over a stored IVF-PQ index — [[queryIvfIndexBatch]]'s
    * ADC sibling WITH pruning (PQ alone cannot prune; the composite
    * can): each query ranks the broadcast centroid table for its
    * `nprobe` cells, carries its per-subspace ADC tables as array
    * columns, and ONE dynamically-pruned code scan serves the whole
    * batch — the cluster join key is the partition column, so only
    * cells some query probes are read, and each (query, candidate)
    * costs m array lookups. Per-query top-k window. Returns
    * (q_id, vec_id, cluster, adc_dist).
    *
    * `probeRatio` (> 0 to enable) turns the fixed `nprobe` into a
    * per-query ADAPTIVE multi-probe: a cell is probed if its SQUARED-L2
    * centroid distance is within `probeRatio ×` the query's nearest
    * squared-L2 centroid distance, with `nprobe` as the floor. (The
    * ratio applies to d², the quantity every probe already ranks by —
    * a ratio r in plain-distance terms is r² here; the committed 1.25
    * ≈ 1.12× in distance.) The r18 frontier
    * (bench/RECALL_r18.md) showed fixed nprobe=2 leaves some queries
    * at recall 0 — their true neighbors live in a cell ranked 3rd+,
    * which happens exactly when the query sits near a cell BOUNDARY
    * (several near-tied centroids). The ratio rule spends probes on
    * precisely those queries and stays at the floor for queries deep
    * inside one cell, so the recall FLOOR lifts without paying
    * boundary-level probe cost on every query. The rule is one extra
    * window min over the same broadcast centroid table — O(|queries|×k)
    * driver-free arithmetic at any corpus scale. */
  def queryIvfPqIndexBatch(spark: org.apache.spark.sql.SparkSession,
                           path: String, queries: DataFrame, topK: Int,
                           nprobe: Int = 2,
                           probeRatio: Double = 0.0): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    VectorExpressions.register(spark)
    val spk = spark
    import spk.implicits._
    val cb = storedCodebooks(spark, path)
    val m = cb.map(_._1).max + 1
    val ksub = cb.map(_._2).max + 1
    val centroid = cb.map(r => (r._1, r._2) -> r._3).toMap
    val subDim = centroid((0, 0)).length
    val q = queries.select(col("vec_id").as("q_id"),
      asDoubleVec(col("embedding")).as("qv"))
    // per-query ADC tables, computed ONCE per query (not per probed
    // cell); budgeted representation as in queryPqIndexBatch
    val dtCols = (0 until m).map { s =>
      distArray(expr(s"slice(qv, ${s * subDim + 1}, $subDim)"),
        (0 until ksub).map(j => centroid((s, j))), m * ksub).as(s"dt_$s")
    }
    val qt = q.select(col("q_id") +: dtCols: _*)
    val probed = probedCells(spark, path, q, nprobe, probeRatio)
      .join(qt, "q_id")
    val codes = screenAnnTombstones(spark, path,
      spark.read.parquet(Compaction.resolve(s"$path/codes")))
    val adc = (0 until m)
      .map(s => element_at(col(s"dt_$s"), col(s"code_$s") + 1))
      .reduce(_ + _)
    codes.join(broadcast(probed), "cluster") // partition-column join → DPP
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        col("cluster").cast("long").as("cluster"), adc.as("adc_dist"))
      .withColumn("_rn", row_number().over(
        Window.partitionBy("q_id").orderBy(col("adc_dist"), col("vec_id"))))
      .filter(col("_rn") <= topK)
      .drop("_rn")
  }

  /** The per-query probed cell set of the stored-index batch reads —
    * fixed-floor `nprobe` plus the `probeRatio` adaptive rule
    * ([[queryIvfPqIndexBatch]]'s doc). One broadcast of the k-row
    * centroid table, two windows over |queries|×k rows. Returns
    * (q_id, cluster). `q` must carry (q_id, qv). */
  private def probedCells(spark: org.apache.spark.sql.SparkSession,
                          path: String, q: DataFrame, nprobe: Int,
                          probeRatio: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spk = spark
    import spk.implicits._
    val cents = storedCentroids(spark, path)
      .map { case (cl, c) => (cl, c: Seq[Double]) }.toDF("cluster", "c")
    val ranked = q.crossJoin(broadcast(cents))
      .withColumn("_d", call_function("graft_l2sq", col("qv"), col("c")))
      .withColumn("_rn", row_number().over(
        Window.partitionBy("q_id").orderBy(col("_d"), col("cluster"))))
    // window results materialize as columns BEFORE the filter (window
    // expressions are not allowed inside WHERE)
    val keep =
      if (probeRatio > 0.0)
        ranked.withColumn("_dmin",
          min(col("_d")).over(Window.partitionBy("q_id")))
          .filter(col("_rn") <= nprobe ||
            col("_d") <= lit(probeRatio) * col("_dmin"))
      else ranked.filter(col("_rn") <= nprobe)
    keep.select(col("q_id"), col("cluster"))
  }

  /** Per-query probed-cell counts for a (nprobe, probeRatio) dial —
    * the adaptive multi-probe's COST column: recall frontiers read
    * beside this tell a deployment what the ratio rule spends
    * (avg cells ≈ floor means the boundary queries, not every query,
    * pay for the lifted floor). */
  def probedCellCounts(spark: org.apache.spark.sql.SparkSession,
                       path: String, queries: DataFrame, nprobe: Int,
                       probeRatio: Double): DataFrame =
    probedCells(spark, path,
      queries.select(col("vec_id").as("q_id"),
        asDoubleVec(col("embedding")).as("qv")), nprobe, probeRatio)
      .groupBy("q_id").agg(count(lit(1)).as("n_cells"))

  /** LSH bucket statistics: signature → vector count + min id. */
  def lshBuckets(embeddings: DataFrame, planes: Int): DataFrame = {
    VectorExpressions.register(embeddings.sparkSession)
    val e = embeddings.select(col("vec_id"),
      asDoubleVec(col("embedding")).as("v"))
    e.select(col("vec_id"),
        lshSignature(planes, dims = embeddingDims(e)).as("signature"))
      .groupBy("signature")
      .agg(count(lit(1)).as("n_vectors"), min(col("vec_id")).as("min_vec_id"))
  }

  /** Full-corpus embedding near-dup pairs — the scale path
    * [[sampledNearDupPairs]]'s doc promises: LSH buckets replace the
    * label/sample blocking, so candidates are only same-signature
    * vectors (expected bucket size n/2^planes — pick `planes` so buckets
    * stay small at the corpus size), then exact cosine verifies at
    * `threshold`. Shuffle-free signatures; one equi-join per table on
    * the bucket key; never an all-pairs comparison. Angle-close vectors
    * can still straddle a hyperplane, so `tables` independent signature
    * tables (disjoint plane sets) are OR-ed: a pair is a candidate if it
    * collides in ANY table — each extra table multiplies the miss
    * probability by the per-table miss rate. Every emitted pair is
    * exact-cosine-verified, so extra tables only add recall. */
  def lshNearDupPairs(embeddings: DataFrame, planes: Int,
                      threshold: Double, tables: Int = 1): DataFrame = {
    val e = lshSigTable(embeddings, planes, tables)
    (0 until tables).map { t =>
      e.as("a")
        .join(e.as("b"),
          col(s"a.sig_$t") === col(s"b.sig_$t") &&
            col("a.vec_id") < col("b.vec_id"))
        .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
          round(cosine("a.v", "b.v"), 6).as("cosine"))
    }.reduce(_ unionByName _)
      .distinct()
      .filter(col("cosine") >= threshold)
  }

  /** The cached (vec_id, v, sig_0..sig_{tables−1}) signature table behind
    * [[lshNearDupPairs]] — exposed so a bench/service setup phase can
    * build it outside any one query's timing. */
  def lshSigTable(embeddings: DataFrame, planes: Int, tables: Int): DataFrame = {
    VectorExpressions.register(embeddings.sparkSession)
    val e = embeddings.select(col("vec_id"),
      asDoubleVec(col("embedding")).as("v"))
    val dims = embeddingDims(e)
    val sigCols = (0 until tables).map(t =>
      lshSignature(planes, offset = t * planes, dims = dims).as(s"sig_$t"))
    Caches.ensureCached(e.select(col("vec_id") +: col("v") +: sigCols: _*))
  }
}
