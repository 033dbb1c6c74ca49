package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.functions.expr

import graft.engine.Tables
import graft.ops.{DedupOps, SimilarityOps, TextOps}

/** Dev profiler, one section per question. Usage:
  *
  *  - `graft.Profile query <sfDir> <query> [explain|stages]` — three
  *    timed runs of a declared query. `explain` prints its formatted plan
  *    first; `stages` rebuilds the query every run and logs the last
  *    run's stages. The query name `adaptive_caps` prints the
  *    corpus-derived skew constants instead (PLANS.md records them per
  *    round).
  *  - `graft.Profile plans <sfDir> <outDir> <suffix> [query ...]` —
  *    writes each query's `explain("formatted")` to
  *    `<outDir>/<query>_<suffix>.txt`, all in one session (one warm index
  *    build amortized across every dump); every declared query when none
  *    is named.
  *  - `graft.Profile rebuild <sfDir> [pq|ivfpq|both]` — the PQ and
  *    IVF-PQ rebuild chains, the setup critical path. Each chain's three
  *    phases (build on a subset → merge the rest → rebuild from source,
  *    at the committed `SparkEntry.P` geometry) run solo against a temp
  *    root, printing per-phase wall time and job/stage counts, so a chain
  *    regression is attributable to a phase rather than to
  *    chain-neighbor contention. With REBUILD_PROFILE_STAGES set, each
  *    phase's stage log follows its line. */
object Profile {
  def main(args: Array[String]): Unit = Harness.sections("graft.Profile", args)(
    "query" -> query, "plans" -> plans, "rebuild" -> rebuild)

  private def query(args: Array[String]): Unit = {
    val (sfDir, name, mode) = (args(0), args(1), args.lift(2))
    val spark = Harness.session(32)
    if (name == "adaptive_caps") {
      val docs = Tables.documents(spark, sfDir)
      println("ADAPTIVE_SALT=" + DedupOps.adaptiveSaltFactor(docs, SparkEntry.P.ShingleN))
      println("ADAPTIVE_MAXDF=" + TextOps.adaptiveMaxDf(docs))
    } else {
      val census = if (mode.contains("stages")) Some(Harness.census(spark)) else None
      val df = SparkEntry.queries(name)(spark, sfDir)
      if (mode.contains("explain")) df.explain("formatted")
      for (i <- 1 to 3) {
        census.foreach(_.log.clear())
        // `stages` reconstructs per run, like the bench does: queries
        // with eager construction-time work (concurrent-job
        // materialization) are otherwise invisible to the timing
        val run = if (census.isEmpty) df else SparkEntry.queries(name)(spark, sfDir)
        val (dt, n) = Harness.time(run.count())
        census.foreach(_.settle())
        println(f"run $i: $dt%.2f s  rows=$n")
        if (i == 3) census.foreach(_.log.forEach(e => println("  " + e)))
      }
    }
    spark.stop()
  }

  private def plans(args: Array[String]): Unit = {
    val (sfDir, outDir, suffix) = (args(0), Paths.get(args(1)), args(2))
    val names =
      if (args.length > 3) args.drop(3).toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    val spark = Harness.session(32)
    Files.createDirectories(outDir)
    names.foreach { n =>
      val txt =
        try SparkEntry.queries(n)(spark, sfDir).queryExecution.explainString(FormattedMode)
        catch { case e: Throwable => s"PLAN FAILED: $e" }
      Files.write(outDir.resolve(s"${n}_$suffix.txt"), txt.getBytes(StandardCharsets.UTF_8))
      println(s"dumped $n (${txt.length} chars)")
    }
    spark.stop()
  }

  private def rebuild(args: Array[String]): Unit = {
    val sfDir = args(0)
    val which = args.lift(1).getOrElse("both")
    val spark = Harness.session(32)
    // completed jobs/stages attribute wall to driver round-trips
    val census = Harness.census(spark)
    def phase[T](label: String)(f: => T): T = {
      val (j0, s0) = (census.jobs.get, census.stages.get)
      val (dt, r) = Harness.time(f)
      census.settle()
      println(f"$label%-28s $dt%7.2f s  jobs=${census.jobs.get - j0}%3d " +
        f"stages=${census.stages.get - s0}%3d")
      if (sys.env.contains("REBUILD_PROFILE_STAGES")) census.log.forEach(l => println("    " + l))
      census.log.clear()
      r
    }
    // JVM/parquet warm-up outside the measured phases
    spark.read.parquet(s"$sfDir/embeddings.parquet").count()

    val root = Files.createTempDirectory("rebuild_profile").toString
    val e = Tables.embeddings(spark, sfDir)
    val (subset, rest) = (e.filter(expr("vec_id % 5 != 0")), e.filter(expr("vec_id % 5 = 0")))
    val P = SparkEntry.P
    if (which == "pq" || which == "both") {
      val p = s"$root/pq_rebuild"
      println("== pq_rebuild chain ==")
      phase("total") {
        phase("buildPqIndex(subset)")(
          SimilarityOps.buildPqIndex(subset, p, P.PqM, P.PqKsub, P.PqIters))
        phase("mergePqIndex(rest)")(SimilarityOps.mergePqIndex(rest, p))
        phase("rebuildPqIndex(full)")(SimilarityOps.rebuildPqIndex(e, p, iters = P.PqIters))
      }
    }
    if (which == "ivfpq" || which == "both") {
      val p = s"$root/ivfpq_rebuild"
      println("== ivfpq_rebuild chain ==")
      phase("total") {
        phase("buildIvfPqIndex(subset)")(SimilarityOps.buildIvfPqIndex(subset, p,
          P.KmK, P.KmIters, P.PqM, P.PqKsub, P.PqIters))
        phase("mergeIvfPqIndex(rest)")(SimilarityOps.mergeIvfPqIndex(rest, p))
        phase("rebuildIvfPqIndex(full)")(SimilarityOps.rebuildIvfPqIndex(e, p,
          iters = P.KmIters, pqIters = P.PqIters))
      }
    }
    spark.stop()
  }
}
