package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Harness.time
import graft.ops.SimilarityOps

/** Recall-vs-cost sweeps for the lossy ANN read paths, with the SAME
  * brute-force evaluator the oracle rows pin
  * ([[graft.ops.SimilarityOps.recallOf]]). Each configuration reports
  * recall@10 avg/min over the `% 97` query sample. Usage:
  *
  *  - `graft.RecallSweep frontier [sfDir]` — the r17 verdict's asks #1
  *    and #6 measured together, at the committed geometry
  *    (`SparkEntry.P`), indexes built once into a temp root and
  *    full-corpus trained like the stored read paths:
  *     - shortlist-width sweep (rerank factor ∈ {1, 2, 4, 8} — 1 is the
  *       degenerate raw-top-k anchor) for the two-stage PQ / IVFPQ
  *       reads — justifying the committed 4×k default with numbers
  *       instead of a convention;
  *     - nprobe sweep ({1, 2, 4, 8}) for the stored IVF and IVFPQ batch
  *       probes — the production dial between probe cost (cells
  *       scanned) and pruning recall;
  *     - the adaptive multi-probe ratio, on this corpus and on a
  *       clustered variant.
  *    Beside recall it reports the WARM wall time of the retrieval
  *    alone (the probe the dial actually scales; the brute evaluator is
  *    evaluation cost, not production cost — at 100 TB the query set is
  *    a sample). Results: `bench/RECALL_r18.md`, `bench/RECALL_r19.md`.
  *  - `graft.RecallSweep geometry [sfDir]` — the PQ GEOMETRY frontier,
  *    the r19 verdict's ceiling question: with probing near-exhaustive
  *    (adaptive ratio 1.25 probes 7.5 of 8 cells on this corpus),
  *    ivfpq+rerank recall tops out at the ADC limit (0.386 at m=8,
  *    ksub=16) — the shortlist itself is too noisy to contain the true
  *    top-10. The lever is codebook GEOMETRY: more subspaces (finer
  *    partition of the 64 dims) and/or more centroids per subspace (more
  *    bits per subspace) and/or more Lloyd's iterations (better-fit
  *    codebooks). The section measures recall@10 avg/min of the stored
  *    two-stage read (adaptive probe ratio 1.25, nprobe floor 2) across
  *    (m, ksub, iters) × rerank factor, plus each geometry's code
  *    bytes/vector and build time — the full cost side. The stored read
  *    paths derive geometry from the stored codebooks, so every
  *    configuration exercises the exact production read. Results:
  *    `bench/RECALL_r20.md`; the committed dial change rides them.
  *
  * `sfDir` defaults to the sf0.1 test data dir. */
object RecallSweep {

  private def recallAvgMin(rep: DataFrame): (Double, Double) = {
    val r = rep.agg(avg("recall"), min("recall")).head()
    (r.getDouble(0), r.getDouble(1))
  }

  def main(args: Array[String]): Unit = Harness.sections("graft.RecallSweep", args)(
    "frontier" -> (a => sweep(a)(frontier)), "geometry" -> (a => sweep(a)(geometry)))

  /** The session, the corpus and its `% 97` query sample, and a temp
    * root for the section's indexes. */
  private def sweep(args: Array[String])(
      section: (SparkSession, DataFrame, DataFrame, String) => Unit): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = Harness.session(32)
    val emb = graft.engine.Tables.embeddings(spark, dir)
    val queries = emb.filter(expr("vec_id % 97 = 0"))
    println(s"corpus=${emb.count()} queries=${queries.count()} dir=$dir")
    section(spark, emb, queries, Files.createTempDirectory("recall_sweep").toString)
    spark.stop()
  }

  private def frontier(spark: SparkSession, emb: DataFrame, queries: DataFrame,
                       root: String): Unit = {
    // committed geometry (SparkEntry.P) — the sweep measures the dial
    // the oracle rows actually gate
    val P = SparkEntry.P
    val (tPq, _) = time(SimilarityOps.buildPqIndex(emb, s"$root/pq",
      m = P.PqM, ksub = P.PqKsub, iters = P.PqIters))
    val (tIvf, _) = time(SimilarityOps.buildIvfIndex(emb, s"$root/ivf",
      k = P.KmK, iters = P.KmIters))
    val (tIvfPq, _) = time(SimilarityOps.buildIvfPqIndex(emb,
      s"$root/ivfpq", k = P.KmK, iters = P.KmIters, m = P.PqM,
      ksub = P.PqKsub, pqIters = P.PqIters))
    println(f"index builds: pq=$tPq%.2fs ivf=$tIvf%.2fs ivfpq=$tIvfPq%.2fs")

    // the plain-IVF adaptive probe (nprobe floor 1 — the hybrid vector
    // arm's dial) — the r20 gated row's level at each ratio
    println("\n== adaptive multi-probe on plain IVF (nprobe floor 1) ==")
    println("ratio recall_avg recall_min")
    for (r <- Seq(0.0, 1.25, 1.5)) {
      val (a, m) = recallAvgMin(SimilarityOps.ivfStoredRecallReport(
        spark, s"$root/ivf", emb, queries, 10, 1, r))
      println(f"$r%5.2f $a%10.3f $m%10.3f")
    }

    println("\n== shortlist-width sweep (two-stage rerank, k=10) ==")
    println("family factor recall_avg recall_min warm_probe_s")
    for (f <- Seq(1, 2, 4, 8)) {
      // factor 1 = "rerank the raw top-10" — the degenerate lower bound
      // that shows what widening buys
      def probe() = SimilarityOps.pqRerankBatch(spark, s"$root/pq", emb,
        queries, 10, f)
      probe().count() // warm (codebook memos, shuffle files)
      val (t, _) = time(probe().count())
      val (a, m) = recallAvgMin(SimilarityOps.pqRerankRecallReport(spark,
        s"$root/pq", emb, queries, 10, f))
      println(f"pq_rerank    $f%6d $a%10.3f $m%10.3f $t%12.3f")
    }
    for (f <- Seq(1, 2, 4, 8)) {
      def probe() = SimilarityOps.ivfPqRerankBatch(spark, s"$root/ivfpq",
        emb, queries, 10, f, nprobe = 2)
      probe().count()
      val (t, _) = time(probe().count())
      val (a, m) = recallAvgMin(SimilarityOps.ivfPqRerankRecallReport(
        spark, s"$root/ivfpq", emb, queries, 10, f, nprobe = 2))
      println(f"ivfpq_rerank $f%6d $a%10.3f $m%10.3f $t%12.3f")
    }

    println("\n== nprobe sweep (stored batch probes, k=10) ==")
    println("family nprobe recall_avg recall_min warm_probe_s")
    for (np <- Seq(1, 2, 4, 8)) {
      def probe() = SimilarityOps.queryIvfIndexBatch(spark, s"$root/ivf",
        queries, 10, np)
      probe().count()
      val (t, _) = time(probe().count())
      val (a, m) = recallAvgMin(SimilarityOps.recallOf(emb, queries, 10,
        probe()))
      println(f"ivf          $np%6d $a%10.3f $m%10.3f $t%12.3f")
    }
    for (np <- Seq(1, 2, 4, 8)) {
      def probe() = SimilarityOps.queryIvfPqIndexBatch(spark,
        s"$root/ivfpq", queries, 10, np)
      probe().count()
      val (t, _) = time(probe().count())
      val (a, m) = recallAvgMin(SimilarityOps.ivfPqRecallReport(spark,
        s"$root/ivfpq", emb, queries, 10, np))
      println(f"ivfpq        $np%6d $a%10.3f $m%10.3f $t%12.3f")
      // the composite's rerank twin at the same nprobe — the frontier a
      // deployment actually walks (probe wider AND rerank)
      val (a2, m2) = recallAvgMin(SimilarityOps.ivfPqRerankRecallReport(
        spark, s"$root/ivfpq", emb, queries, 10, 4, np))
      println(f"ivfpq+rr4    $np%6d $a2%10.3f $m2%10.3f ${"-"}%12s")
    }

    // adaptive multi-probe: the ratio rule spends probes on boundary
    // queries only — the dial that lifts the recall FLOOR (the r18
    // verdict's open item: min 0.00 at fixed nprobe=2) without paying
    // boundary-level probe cost on every query. ratio=0 row = fixed
    // nprobe=2 baseline.
    println("\n== adaptive multi-probe (ivfpq + rerank 4x, nprobe floor 2) ==")
    println("ratio recall_avg recall_min avg_cells max_cells warm_probe_s")
    for (r <- Seq(0.0, 1.25, 1.5, 2.0, 3.0)) {
      def probe() = SimilarityOps.ivfPqRerankBatch(spark, s"$root/ivfpq",
        emb, queries, 10, 4, 2, r)
      probe().count()
      val (t, _) = time(probe().count())
      val (a, m) = recallAvgMin(SimilarityOps.ivfPqRerankRecallReport(
        spark, s"$root/ivfpq", emb, queries, 10, 4, 2, r))
      val cells = SimilarityOps.probedCellCounts(spark, s"$root/ivfpq",
        queries, 2, r).agg(avg("n_cells"), max("n_cells")).head()
      println(f"$r%5.2f $a%10.3f $m%10.3f ${cells.getDouble(0)}%9.2f " +
        f"${cells.getLong(1)}%9d $t%12.3f")
    }

    // the same rule on a CLUSTERED corpus: the base synthetic vectors
    // are near-uniform, so every centroid sits at about the same
    // distance from every query and the boundary rule admits most
    // cells — the honest worst case. A real trained/curated corpus
    // clusters; this section shows the rule's cost on that geometry
    // with a deterministic clustered variant (each label's vectors
    // shifted +8.0 along the label's own axis — 8 well-separated
    // modes, same cardinality/dim/ids).
    println("\n== adaptive multi-probe on a CLUSTERED corpus (same rule) ==")
    println("ratio recall_avg recall_min avg_cells max_cells")
    val clustered = emb.select(col("vec_id"), col("label"),
      expr("transform(embedding, (x, i) -> x + IF(i = label % 64, " +
        "CAST(8.0 AS FLOAT), CAST(0.0 AS FLOAT)))").as("embedding"))
    val cQueries = clustered.filter(expr("vec_id % 97 = 0"))
    SimilarityOps.buildIvfPqIndex(clustered, s"$root/ivfpq_cl",
      k = 8, iters = 2, m = 8, ksub = 16, pqIters = 1)
    for (r <- Seq(0.0, 1.25, 1.5, 2.0)) {
      val (a, m) = recallAvgMin(SimilarityOps.ivfPqRerankRecallReport(
        spark, s"$root/ivfpq_cl", clustered, cQueries, 10, 4, 2, r))
      val cells = SimilarityOps.probedCellCounts(spark,
        s"$root/ivfpq_cl", cQueries, 2, r)
        .agg(avg("n_cells"), max("n_cells")).head()
      println(f"$r%5.2f $a%10.3f $m%10.3f ${cells.getDouble(0)}%9.2f " +
        f"${cells.getLong(1)}%9d")
    }
  }

  private def geometry(spark: SparkSession, emb: DataFrame, queries: DataFrame,
                       root: String): Unit = {
    println("\n== PQ geometry frontier (ivfpq stored, adaptive ratio 1.25, nprobe floor 2) ==")
    println("m ksub iters bytes build_s factor recall_avg recall_min")
    val geoms = Seq(
      (8, 16, 1),   // committed r19 baseline
      (8, 16, 3),   // iterations only
      (8, 64, 2),   // centroids only
      (16, 16, 1),  // subspaces only
      (16, 16, 3),
      (16, 32, 2),
      (16, 64, 2))  // finest measured
    // coarse geometry from the committed dial (SparkEntry.P) — the
    // frontier must measure the index production builds, not a
    // coincidentally-equal hardcode that drifts on the next move
    val P = SparkEntry.P
    for (((m, ksub, it), gi) <- geoms.zipWithIndex) {
      val path = s"$root/g$gi"
      val (tB, _) = time(SimilarityOps.buildIvfPqIndex(emb, path,
        k = P.KmK, iters = P.KmIters, m = m, ksub = ksub, pqIters = it))
      for (f <- Seq(4, 8)) {
        val (a, mn) = recallAvgMin(SimilarityOps.ivfPqRerankRecallReport(
          spark, path, emb, queries, 10, f, 2, 1.25))
        val bytes = m // one byte-sized code per subspace at ksub <= 256
        println(f"$m%2d $ksub%4d $it%5d $bytes%5d $tB%7.2f $f%6d $a%10.3f $mn%10.3f")
      }
    }
  }
}
