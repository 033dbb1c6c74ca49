package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.engine.Tables
import graft.ops.{DedupOps, Multimodal, SamplingOps, SimilarityOps, TextOps}

class OpsSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private def docs = Tables.documents(spark, sfDir)

  test("tokenizer kernel is bit-identical to the regex pipeline on edge cases") {
    val cases = Seq(
      "Hello, World! 123",
      "",                       // empty → [""]
      "!!! ... ???",            // symbols only → [""]
      "  leading and   trailing  ",
      "MiXeD CaSe42x",
      "tabs\tand\nnewlines",
      "unicode: café naïve 日本語 x1", // multi-byte codepoints → delimiters
      "a", "1", " ", "a!b", "don't")
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val both = cases.select(
      TextOps.normWords($"text").as("kernel"),
      TextOps.normWordsRegex($"text").as("regex"))
    assert(both.filter($"kernel" =!= $"regex").count() === 0)
    // corpus-wide equivalence too
    val corpus = docs.select(
      TextOps.normWords($"text").as("kernel"),
      TextOps.normWordsRegex($"text").as("regex"))
    assert(corpus.filter($"kernel" =!= $"regex").count() === 0)
  }

  test("winnow kernel is bit-identical to the portable HOF formulation") {
    // edge lengths around the k+w-1 = 11 drop threshold, repeats (distinct
    // collapse), and the full corpus
    val cases = Seq(
      "exactlyelevenx", "0123456789a", "aaaaaaaaaaaa", // repeats → 1 fp
      "the quick brown fox JUMPS over 42 lazy dogs",
      "abcdefghijklmnopqrstuvwxyz0123456789")
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    for (d <- Seq(cases, docs)) {
      val kernel = TextOps.winnowFps(d).orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getSeq[Long](1)))
      val hof = TextOps.winnowFpsHof(d).orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getSeq[Long](1)))
      assert(kernel === hof)
    }
  }

  test("winnow kernel rejects non-literal or non-positive k/w with a clear error") {
    val d = Seq((1L, "abcdefghijklmnop")).toDF("doc_id", "text")
    graft.functions.VectorExpressions.register(spark)
    val nonLiteral = intercept[org.apache.spark.sql.AnalysisException] {
      d.select(call_function("graft_winnow_fps", $"text", $"doc_id", lit(4)))
        .collect()
    }
    assert(nonLiteral.getMessage.contains("graft_winnow_fps"))
    val nonPositive = intercept[org.apache.spark.sql.AnalysisException] {
      d.select(call_function("graft_winnow_fps", $"text", lit(0), lit(4)))
        .collect()
    }
    assert(nonPositive.getMessage.contains(">= 1"))
  }

  test("fingerprint is word-order invariant") {
    val d = Seq((1L, "alpha beta gamma delta"), (2L, "delta gamma beta alpha"),
      (3L, "alpha beta gamma epsilon"))
      .toDF("doc_id", "text")
    val fp = TextOps.fingerprint(d).as[(Long, String)].collect().toMap
    assert(fp(1L) === fp(2L))
    assert(fp(1L) !== fp(3L))
  }

  test("jaccard pairs find constructed near-dups and skip disjoint docs") {
    val base = (1 to 30).map(i => s"w$i").mkString(" ")
    val nearDup = (1 to 30).map(i => if (i == 30) "CHANGED" else s"w$i").mkString(" ")
    val disjoint = (31 to 60).map(i => s"w$i").mkString(" ")
    val d = Seq((1L, base), (2L, nearDup), (3L, disjoint)).toDF("doc_id", "text")
    val pairs = DedupOps.jaccardPairs(d, 5, 0.5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs === Set((1L, 2L)))
  }

  test("minhash LSH finds the same high-jaccard pairs as the exact scan") {
    val exact = DedupOps.jaccardPairs(docs, 5, 0.8)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val lsh = DedupOps.minhashLshPairs(docs, 5, 8, 4, 0.8)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(lsh.subsetOf(exact))
    // at jaccard ≥ 0.8 with 4 bands × 2 rows, collision prob ≥ 1-(1-0.64)^4 ≈ 0.98
    assert(lsh.size >= (exact.size * 0.9).toInt)
  }

  test("dup groups: min-label propagation closes transitive chains") {
    // component {1,2,3} is a CHAIN (1-2, 2-3, no 1-3 edge) — grouping it
    // needs transitivity, not just pair membership; {4,5} is a pair;
    // 6 is a singleton
    val docs = (1L to 6L).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("doc_a", "doc_b")
    val got = DedupOps.dupGroups(docs, pairs)
      .as[(Long, Long)].collect().toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L, 6L -> 6L))

    // a long chain exercises the pointer-doubling shortcut across rounds
    val chainDocs = (1L to 9L).toDF("doc_id")
    val chain = (1L to 8L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val cg = DedupOps.dupGroups(chainDocs, chain).as[(Long, Long)].collect().toMap
    assert(cg === (1L to 9L).map(_ -> 1L).toMap)

    // on the corpus: one group per doc, group ids are component minima,
    // and every LSH pair lands in the same group
    val d = this.docs
    val lsh = DedupOps.minhashLshPairs(d, 5, 8, 4, 0.8)
    val groups = DedupOps.dupGroups(d, lsh).as[(Long, Long)].collect().toMap
    assert(groups.size === d.count())
    assert(groups.forall { case (id, g) => g <= id })
    lsh.select("doc_a", "doc_b").as[(Long, Long)].collect().foreach {
      case (a, b) => assert(groups(a) === groups(b))
    }
  }

  test("simhash pairs: banded Hamming join finds dups, skips disjoint docs") {
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val nearDup = (1 to 40).map(i => if (i == 40) "CHANGED" else s"w$i").mkString(" ")
    val disjoint = (41 to 80).map(i => s"u$i").mkString(" ")
    val d = Seq((1L, base), (2L, base), (3L, nearDup), (4L, disjoint))
      .toDF("doc_id", "text")
    val got = DedupOps.simhashPairs(d, 3)
      .select("doc_a", "doc_b", "hamming")
      .as[(Long, Long, Long)].collect()
    val pairs = got.map(p => (p._1, p._2)).toSet
    // identical docs have identical sketches — hamming 0, banding recall 1
    assert(got.contains((1L, 2L, 0L)))
    // a disjoint-vocabulary doc must never pair with the base family
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))

    // on the real corpus the banded join recovers most pairs the exact
    // Jaccard path finds (measured: 22/28 at sf0.001 with the 64-bit
    // sketch at its pigeonhole bound maxDist=3 — the misses flip 4+ of
    // 64 sketch bits; an inherent simhash miss, not a banding miss) and
    // almost nothing else (24 total pairs — the 32-bit sketch's
    // coincidental vocabulary-overlap pairs are gone). The corpus has no
    // token-identical docs, so every hit is a genuine near-dup detection.
    val realPairs = DedupOps.simhashPairs(docs, 3)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val jacc = DedupOps.jaccardPairs(docs, 5, 0.8)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(jacc.nonEmpty && jacc.intersect(realPairs).size >= (jacc.size * 0.8).toInt)
  }

  test("salted jaccard candidate join: identical pairs, salt in the shuffle key") {
    // hot-shingle dataset: every doc opens with the same 5-gram, so the
    // unsalted candidate join funnels all docs through one shingle bucket
    val hot = "h1 h2 h3 h4 h5"
    val d = (1 to 20).map(i =>
        (i.toLong, s"$hot " + (1 to 10).map(j => s"w${i}x$j").mkString(" ")))
      .toDF("doc_id", "text")
    val unsalted = DedupOps.jaccardPairs(d, 5, 0.0)
      .orderBy("doc_a", "doc_b").collect().toSeq
    val salted = DedupOps.jaccardPairs(d, 5, 0.0, saltFactor = 4)
    assert(salted.orderBy("doc_a", "doc_b").collect().toSeq === unsalted)
    assert(unsalted.size === 190) // all C(20,2) pairs share the hot shingle
    // the candidate join's shuffle runs on (shingle, salt)
    assert(salted.queryExecution.executedPlan.toString.contains("_salt"))
    // adaptive: the factor comes from the hot shingle's df (20 docs /
    // 8-per-bucket target → ceil = 3), and the pair set stays identical
    assert(DedupOps.adaptiveSaltFactor(d, 5, targetBucket = 8L) === 3)
    val adaptive = DedupOps.jaccardPairsAdaptive(d, 5, 0.0, targetBucket = 8L)
    assert(adaptive.orderBy("doc_a", "doc_b").collect().toSeq === unsalted)
    // an unskewed corpus derives no salt at the production bucket target
    assert(DedupOps.adaptiveSaltFactor(docs, 5) === 1)
  }

  test("adaptive df cap drops boilerplate fingerprints, keeps true dups") {
    // 30 docs share ONLY a boilerplate opening (hot fingerprints in every
    // doc); docs 100/101 are genuine near-dups of each other
    val boiler = (1 to 30).map(i => s"boiler$i").mkString(" ")
    val body = (1 to 40).map(j => s"t$j").mkString(" ")
    val d = ((1 to 30).map(i =>
        (i.toLong, s"$boiler " + (1 to 20).map(j => s"u${i}v$j").mkString(" "))) ++
      Seq((100L, s"$body extra one"), (101L, s"$body extra two")))
      .toDF("doc_id", "text")
    val cap = TextOps.adaptiveMaxDf(d, quantile = 0.9)
    // the boilerplate fingerprints (df=30) sit above the derived cap
    assert(cap >= 4 && cap < 30)
    val capped = TextOps.containmentPairs(d, maxDf = cap)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    // boilerplate-only pairs are gone; the genuine near-dup pair survives
    assert(capped.contains((100L, 101L)))
    assert(capped.forall { case (a, b) => a >= 100L && b >= 100L })
    // without the cap the hot fingerprints fabricate boilerplate pairs
    val uncapped = TextOps.containmentPairs(d, maxDf = 1000)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(uncapped.exists { case (a, b) => a < 100L && b < 100L })
  }

  test("simhash: 16-bit sketch, equal for identical docs") {
    val d = Seq((1L, "alpha beta gamma"), (2L, "alpha beta gamma"),
      (3L, "zeta eta theta iota"))
      .toDF("doc_id", "text")
    val sh = DedupOps.simhash(d).as[(Long, String)].collect().toMap
    assert(sh(1L) === sh(2L))
    assert(sh.values.forall(s => s.length == 16 && s.forall(c => c == '0' || c == '1')))
  }

  test("cosine top-k ranks an exact duplicate vector first") {
    val v0 = Array.tabulate(64)(i => (i % 7).toFloat / 7f)
    val dup = v0.clone()
    val ortho = Array.tabulate(64)(i => if (i % 2 == 0) 1f else -1f)
    val e = Seq((0L, v0, 0), (1L, dup, 0), (2L, ortho, 1))
      .toDF("vec_id", "embedding", "label")
    val top = SimilarityOps.cosineTopK(e, 0L, 2).as[(Long, Double)].collect()
    assert(top.head._1 === 1L)
    assert(top.head._2 === 1.0)
    assert(!top.map(_._1).contains(0L)) // query excluded
  }

  test("k-means IVF: deterministic training, recall overlaps brute force") {
    val e = Tables.embeddings(spark, sfDir)
    val r1 = SimilarityOps.ivfKmeansTopK(e, 0L, 10).collect().toSeq
    val r2 = SimilarityOps.ivfKmeansTopK(e, 0L, 10).collect().toSeq
    assert(r1 === r2) // bit-stable across runs (seeded init, exact arithmetic)
    assert(r1.size === 10)
    assert(r1.map(_.getLong(1)).distinct.size === 1) // all from ONE probed cell

    // training moved the centroids: assignments differ from the naive
    // lowest-id-init assignment after 0 iterations
    val vecs = e.select($"vec_id", SimilarityOps.asDoubleVec($"embedding").as("v"))
    val c0 = SimilarityOps.kmeansCentroids(vecs, 8, 0)
    val c2 = SimilarityOps.kmeansCentroids(vecs, 8, 2)
    assert(c0 !== c2)

    // single-cell probe of a trained 8-cell index keeps useful recall@10
    val bf = SimilarityOps.cosineTopK(e, 0L, 10)
      .select("vec_id").as[Long].collect().toSeq
    val ivf = r1.map(_.getLong(0)).toSet
    assert(bf.toSet.intersect(ivf).size >= 3)

    // probing ALL cells is exhaustive: identical ranking to brute force
    val all = SimilarityOps.ivfKmeansTopK(e, 0L, 10, nprobe = 8)
      .select("vec_id").as[Long].collect().toSeq
    assert(all === bf)
  }

  test("recallOf broadcasts the retrieved side only while the query set fits a broadcast") {
    val e = Tables.embeddings(spark, sfDir)
    val queries = e.filter($"vec_id" % 97 === 0)
    // a plain retrieved frame, not a probe: every even id for each query
    val retrieved = queries.select($"vec_id".as("q_id"))
      .crossJoin(e.select("vec_id").filter($"vec_id" % 2 === 0))
    def report() = SimilarityOps.recallOf(e, queries, 10, retrieved).orderBy("q_id")
    val atDefault = report().collect().toSeq
    assert(atDefault.exists(r => r.getAs[Long]("n_hits") > 0 && r.getAs[Long]("n_hits") < 10))
    val old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val rep = report()
      assert(rep.collect().toSeq === atDefault)
      assert(!rep.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
  }

  test("PQ: deterministic codes, sane ADC ranking") {
    val e = Tables.embeddings(spark, sfDir)
    val r1 = SimilarityOps.pqTopK(e, 0L, 10).collect().toSeq
    val r2 = SimilarityOps.pqTopK(e, 0L, 10).collect().toSeq
    assert(r1 === r2) // training + encoding fully deterministic
    assert(r1.size === 10)
    val dists = r1.map(_.getDouble(1))
    assert(dists.forall(_ >= 0.0))
    assert(dists === dists.sorted) // ascending ADC
    // lossy by construction (1 training iteration, no re-rank) but the
    // quantized ranking must still surface genuinely-near vectors
    import org.apache.spark.sql.functions._
    val qv = e.filter($"vec_id" === 0L)
      .select(SimilarityOps.asDoubleVec($"embedding").as("v")).head().getSeq[Double](0)
    val exact = e.filter($"vec_id" =!= 0L)
      .select($"vec_id", SimilarityOps.asDoubleVec($"embedding").as("v"))
      .select($"vec_id",
        call_function("graft_l2sq", $"v", typedlit(qv)).as("d"))
      .orderBy("d", "vec_id").limit(10)
      .select("vec_id").as[Long].collect().toSet
    assert(r1.map(_.getLong(0)).toSet.intersect(exact).nonEmpty)

    // exact re-rank of the ADC shortlist recovers most of the true top-k
    // (measured: 7/10 vs 2/10 for pure ADC against brute-force cosine)
    val bf = SimilarityOps.cosineTopK(e, 0L, 10)
      .select("vec_id").as[Long].collect().toSet
    val rr = SimilarityOps.pqRerankTopK(e, 0L, 10)
      .select("vec_id").as[Long].collect().toSet
    val adcOnly = r1.map(_.getLong(0)).toSet
    assert(rr.intersect(bf).size >= 5)
    assert(rr.intersect(bf).size > adcOnly.intersect(bf).size)
  }

  test("stored IVF-PQ: pruned code-partition scan, bit-identical to inline") {
    val e = Tables.embeddings(spark, sfDir)
    val path = java.nio.file.Files.createTempDirectory("ivfpq_idx").toString
    SimilarityOps.buildIvfPqIndex(e, path)
    val qv = e.filter($"vec_id" === 0L)
      .select(SimilarityOps.asDoubleVec($"embedding")).head().getSeq[Double](0)
    val res = SimilarityOps.queryIvfPqIndex(spark, path, qv, 10,
      nprobe = 2, excludeIds = Seq(0L))
    // the cell filter must prune at the partition level, and the scan
    // must read codes only — never the float vectors
    val scan = res.queryExecution.executedPlan.collectLeaves()
      .map(_.toString).mkString
    assert(scan.contains("PartitionFilters") &&
      scan.toLowerCase.contains("cluster"))
    assert(!scan.contains("embedding") && !scan.contains("struct<v:"))
    val got = res.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val inline = SimilarityOps.ivfPqTopK(e, 0L, 10, nprobe = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got === inline)
  }

  test("IVF-PQ composite: exhaustive probe equals plain PQ; pruning confines to cells") {
    val e = Tables.embeddings(spark, sfDir)
    // nprobe = k scans every cell, so the composite's (vec_id, adc)
    // ranking must be bit-identical to PQ without the IVF layer
    val allCells = SimilarityOps.ivfPqTopK(e, 0L, 10, nprobe = 8)
      .select($"vec_id", $"adc_dist").collect().toSeq
    val pq = SimilarityOps.pqTopK(e, 0L, 10)
      .select($"vec_id", $"adc_dist").collect().toSeq
    assert(allCells === pq)
    // pruned probe: every hit must come from the query's nprobe cells,
    // and the result is deterministic across invocations
    val pruned = SimilarityOps.ivfPqTopK(e, 0L, 10, nprobe = 2)
    val rows = pruned.collect().toSeq
    assert(rows === SimilarityOps.ivfPqTopK(e, 0L, 10, nprobe = 2).collect().toSeq)
    assert(rows.nonEmpty && rows.map(_.getLong(1)).toSet.size <= 2)
    val dists = rows.map(_.getDouble(2))
    assert(dists === dists.sorted)
  }

  test("stored IVF index: build once, probe scans only its cell partition") {
    val e = Tables.embeddings(spark, sfDir)
    val path = java.nio.file.Files.createTempDirectory("ivf_idx").toString
    SimilarityOps.buildIvfIndex(e, path)
    val qv = e.filter($"vec_id" === 0L)
      .select(SimilarityOps.asDoubleVec($"embedding")).head().getSeq[Double](0)
    val res = SimilarityOps.queryIvfIndex(spark, path, qv, 11)
    // the cell filter must prune at the partition level, not per row
    val scan = res.queryExecution.executedPlan.collectLeaves()
      .map(_.toString).mkString
    assert(scan.contains("PartitionFilters") &&
      scan.toLowerCase.contains("cluster"))
    // identical ranking to the inline-trained path (query vector itself
    // tops its own cell; drop it to compare)
    val got = res.collect().filter(_.getLong(0) != 0L).take(10)
      .map(r => (r.getLong(0), r.getDouble(2))).toSeq
    val expected = SimilarityOps.ivfKmeansTopK(e, 0L, 10).collect()
      .map(r => (r.getLong(0), r.getDouble(2))).toSeq
    assert(got === expected)
  }

  test("stored PQ index: query path is pure ADC and matches inline scores") {
    val e = Tables.embeddings(spark, sfDir)
    val path = java.nio.file.Files.createTempDirectory("pq_idx").toString
    SimilarityOps.buildPqIndex(e, path)
    val qv = e.filter($"vec_id" === 0L)
      .select(SimilarityOps.asDoubleVec($"embedding")).head().getSeq[Double](0)
    val res = SimilarityOps.queryPqIndex(spark, path, qv, 10,
      excludeIds = Seq(0L))
    // bit-identical (id, adc) ranking to the inline-trained path
    val got = res.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val expected = SimilarityOps.pqTopK(e, 0L, 10).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got === expected)
    // the read path scans only the code table: no embedding column, no
    // float vectors — its one file scan is over codes/
    val leaves = res.queryExecution.executedPlan.collectLeaves()
      .map(_.toString).mkString
    assert(leaves.contains("codes") && !leaves.contains("embedding"))
  }

  test("multi-table LSH OR-ing only adds near-dup recall") {
    val e = Tables.embeddings(spark, sfDir)
    val one = SimilarityOps.lshNearDupPairs(e, 8, 0.3, tables = 1)
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    val two = SimilarityOps.lshNearDupPairs(e, 8, 0.3, tables = 2)
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    assert(one.subsetOf(two)) // table 0's candidates are always included
    assert(two.size > one.size) // and the second table catches real misses
  }

  test("LSH signatures are deterministic and identical for identical vectors") {
    val e = Tables.embeddings(spark, sfDir).limit(50)
    val s1 = SimilarityOps.lshBuckets(e, 16).orderBy("signature").collect().toSeq
    val s2 = SimilarityOps.lshBuckets(e, 16).orderBy("signature").collect().toSeq
    assert(s1 === s2)
    assert(s1.map(_.getString(0)).forall(_.length == 16))
  }

  test("frame sampling decodes every stride-th REAL GIF frame, keeping " +
    "original frame indexes") {
    // 5 frames at stride 2 → container frames 0, 2, 4 decode; stride 3
    // → 0, 3; the sampled rows must agree exactly with the full decode
    val gif = Multimodal.syntheticGif(0L, 5, 5, 5)
    val d = Seq((0L, gif)).toDF("doc_id", "payload")
    val all = Multimodal.decodeGifFrames(d).orderBy("frame_no").collect()
      .map(r => (r.getInt(1), r.getLong(4))).toSeq
    val s2 = Multimodal.sampleGifFrames(d, 2).orderBy("frame_no").collect()
      .map(r => (r.getInt(1), r.getLong(4))).toSeq
    assert(s2 === all.filter(_._1 % 2 == 0))
    assert(s2.map(_._1) === Seq(0, 2, 4))
    val s3 = Multimodal.sampleGifFrames(d, 3).orderBy("frame_no").collect()
      .map(r => (r.getInt(1), r.getLong(4))).toSeq
    assert(s3 === all.filter(_._1 % 3 == 0))
    // stride 1 IS the full decode; invalid strides refuse
    assert(Multimodal.sampleGifFrames(d, 1).collect().length === all.length)
    assertThrows[IllegalArgumentException](Multimodal.sampleGifFrames(d, 0))
  }

  test("nearest-neighbor resize picks the exact source indices") {
    // 4x4 grid "ABCD/EFGH/IJKL/MNOP" → 2x2: scale 2, so target (x,y)
    // reads source (2x, 2y): A C / I K
    val d = Seq((1L, "ABCDEFGHIJKLMNOP")).toDF("doc_id", "text")
    val r = Multimodal.resizeNearest(d, w = 4, h = 4, tw = 2, th = 2)
      .select("resized").as[String].head()
    assert(r === "ACIK")
    // short payloads pad with spaces instead of dropping out
    val short = Seq((2L, "AB")).toDF("doc_id", "text")
    assert(Multimodal.resizeNearest(short, 4, 4, 2, 2)
      .select("resized").as[String].head() === "A   ")
    // a target that doesn't divide the source still floors correctly:
    // 4x4 → 3x3 reads source columns/rows floor(i*4/3) = 0,1,2
    assert(Multimodal.resizeNearest(d, 4, 4, 3, 3)
      .select("resized").as[String].head() === "ABCEFGIJK")
    assertThrows[IllegalArgumentException](
      Multimodal.resizeNearest(d, 4, 4, 8, 8))
  }

  test("multimodal decode stub: schema, row preservation, determinism") {
    val in = docs.limit(20)
    val out1 = Multimodal.decodePipeline(spark, in)
    assert(out1.schema === Multimodal.decodedSchema)
    assert(out1.count() === 20)
    val a = out1.orderBy("doc_id").collect().toSeq
    val b = Multimodal.decodePipeline(spark, in).orderBy("doc_id").collect().toSeq
    assert(a === b)
    assert(a.forall(r => r.getInt(1) >= 16 && r.getInt(2) >= 16))
  }

  test("PNG decode is a REAL codec round-trip: hand-computed pixels, " +
    "exact sums, fail-loud on junk bytes") {
    // hand-check one raster: id=0, 2x2 -> r(x,y)=7x+13y, g=11x+3y,
    // b=5x+17y; sums r: 0+7+13+20=40, g: 0+11+3+14=28, b: 0+5+17+22=44
    val png = Multimodal.syntheticPng(0L, 2, 2)
    assert(png.take(4).map(_ & 0xff).toSeq === Seq(0x89, 'P', 'N', 'G'),
      "payload must be a real PNG bitstream")
    val one = Multimodal.decodePng(
      Seq((0L, png)).toDF("doc_id", "payload")).head()
    assert((one.getInt(1), one.getInt(2)) === ((2, 2)))
    assert((one.getLong(3), one.getLong(4), one.getLong(5)) ===
      ((40L, 28L, 44L)))
    // corpus path: encode on executors, decode recovers the formula's
    // dimensions for every doc
    val out = Multimodal.decodePng(Multimodal.encodePng(docs.limit(30)))
      .collect()
    out.foreach { r =>
      val id = r.getLong(0)
      assert(r.getInt(1) === 8 + (id % 9).toInt, s"doc $id width")
      assert(r.getInt(2) === 8 + ((3 * id) % 9).toInt, s"doc $id height")
    }
    // resize agrees with a driver-side replay of the index map
    val rs = Multimodal.decodeResizePng(
      Seq((5L, Multimodal.syntheticPng(5L, 8, 8))).toDF("doc_id", "payload"),
      4, 4).head()
    var (er, eg, eb) = (0L, 0L, 0L)
    for (ty <- 0 until 4; tx <- 0 until 4) {
      val (x, y) = (tx * 8 / 4, ty * 8 / 4)
      er += (7 * x + 13 * y + 5) % 256
      eg += (11 * x + 3 * y + 10) % 256
      eb += (5 * x + 17 * y + 15) % 256
    }
    assert((rs.getLong(3), rs.getLong(4), rs.getLong(5)) === ((er, eg, eb)))
    // junk bytes fail loudly, never silently skip
    val junk = Seq((9L, Array[Byte](1, 2, 3))).toDF("doc_id", "payload")
    val e = intercept[Throwable] { Multimodal.decodePng(junk).count() }
    assert(Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(16)
      .exists(t => String.valueOf(t.getMessage).contains("not a decodable")))
  }

  test("multi-frame GIF round-trip: a REAL animated-GIF encode/decode " +
    "recovers every frame's exact pixels, fail-loud on junk") {
    // hand-check: id=0, 5x5, 3 frames -> v(x,y,f) = (7x+13y+19f)%256,
    // no mod wrap at this size; f0 = Σ(7x+13y) = 5·70 + 65·10 = 1000,
    // each later frame adds 19·25
    val gif = Multimodal.syntheticGif(0L, 5, 5, 3)
    assert(gif.take(4).map(_.toChar).mkString === "GIF8",
      "payload must be a real GIF bitstream")
    val rows = Multimodal.decodeGifFrames(
      Seq((0L, gif)).toDF("doc_id", "payload"))
      .orderBy("frame_no").collect()
    assert(rows.length === 3, "all three frames must decode")
    assert(rows.map(_.getLong(4)).toSeq === Seq(1000L, 1475L, 1950L))
    rows.foreach(r => assert((r.getInt(2), r.getInt(3)) === ((5, 5))))
    // below the JDK writer's 5x5 exactness floor the encoder refuses
    // (the sweep measured 2x2-4x4 losing pixels on the round trip)
    intercept[IllegalArgumentException] {
      Multimodal.syntheticGif(0L, 4, 4, 1)
    }
    // corpus path: executor-side encode, decoded frame count follows
    // the 2 + id % 4 generator formula for every doc
    val out = Multimodal.decodeGifFrames(
      Multimodal.encodeGif(docs.limit(20)))
      .groupBy("doc_id").count().collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getLong(1) === 2 + (r.getLong(0) % 4),
        s"doc ${r.getLong(0)} frame count")
    }
    // junk bytes fail loudly, never silently skip
    val junk = Seq((9L, Array[Byte](1, 2, 3))).toDF("doc_id", "payload")
    val e = intercept[Throwable] {
      Multimodal.decodeGifFrames(junk).count()
    }
    assert(Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(16)
      .exists(t => String.valueOf(t.getMessage).contains("not a decodable")
        || t.isInstanceOf[java.io.IOException]))
  }

  test("image aHash: raster-identical images collide, banded pairs " +
    "find them without an all-pairs join") {
    // the synthetic raster is mod-256 in id: ids 256 apart produce
    // byte-identical images -> identical hashes -> a hamming-0 pair
    val twins = Seq(
      (1L, Multimodal.syntheticPng(1L, 8, 8)),
      (257L, Multimodal.syntheticPng(257L, 8, 8)),
      (9L, Multimodal.syntheticPng(9L, 16, 12))) // a different raster
      .toDF("doc_id", "payload")
    val sk = Multimodal.imageAHash(twins)
    val hashes = sk.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hashes(1L) === hashes(257L), "identical rasters, identical hash")
    val pairs = DedupOps.hashPairs64(sk, "ahash", maxDist = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(pairs.contains((1L, 257L, 0L)), s"twin pair must surface: ${pairs.toSeq}")
    // determinism across partitionings (the mapPartitions is per-row pure)
    val again = Multimodal.imageAHash(twins.repartition(3))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(again === hashes)
  }

  test("WAV decode is a REAL codec round-trip: hand-computed window " +
    "features, trailing partial window, fail-loud on junk") {
    // id=0: samples i -> (37i % 2048) - 1024; hand-check a 6-sample clip
    // with window 4: win0 = i 0..3, win1 (partial) = i 4..5
    val wav = Multimodal.syntheticWav(0L, 6)
    assert(new String(wav.take(4), "ASCII") === "RIFF", "real WAV container")
    val out = Multimodal.decodeWavFeatures(
      Seq((0L, wav)).toDF("doc_id", "payload"), window = 4)
      .orderBy("win").collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    val s = (0 until 6).map(i => (i * 37 % 2048) - 1024)
    def feat(xs: Seq[Int]) = (
      xs.map(x => x.toLong * x).sum,
      xs.sliding(2).count(p => p.length == 2 && (p(0) >= 0) != (p(1) >= 0)).toLong)
    val (e0, z0) = feat(s.take(4)); val (e1, z1) = feat(s.drop(4))
    assert(out.toSeq === Seq((0L, 4L, e0, z0), (1L, 2L, e1, z1)))
    // corpus path: one row per (doc, window), sample counts derive from
    // the closed-form length
    val rows = Multimodal.decodeWavFeatures(
      Multimodal.encodeWav(docs.limit(10))).collect()
    rows.groupBy(_.getLong(0)).foreach { case (id, ws) =>
      val n = 800 + (id % 5) * 160
      assert(ws.map(_.getLong(2)).sum === n, s"doc $id total samples")
    }
    // junk fails loudly — silent skips would understate the corpus
    val e = intercept[Throwable] {
      Multimodal.decodeWavFeatures(
        Seq((9L, Array[Byte](1, 2, 3))).toDF("doc_id", "payload")).count()
    }
    assert(e != null)
  }

  test("native graft_l2sq is bit-identical to the higher-order-function fold") {
    graft.functions.VectorExpressions.register(spark)
    val e = Tables.embeddings(spark, sfDir)
      .select($"vec_id", SimilarityOps.asDoubleVec($"embedding").as("v"))
    val q = e.filter($"vec_id" === 0L).select($"v".as("qv"))
    val both = e.crossJoin(q).select(
      expr("graft_l2sq(v, qv)").as("native"),
      expr("aggregate(zip_with(v, qv, (x, y) -> (x - y) * (x - y)), cast(0.0 as double), (acc, x) -> acc + x)")
        .as("hof"))
    assert(both.filter($"native" =!= $"hof").count() === 0)
  }

  test("native graft_dot is bit-identical to the higher-order-function fold") {
    graft.functions.VectorExpressions.register(spark)
    val e = Tables.embeddings(spark, sfDir)
      .select($"vec_id", SimilarityOps.asDoubleVec($"embedding").as("v"))
    val q = e.filter($"vec_id" === 0L).select($"v".as("qv"))
    val both = e.crossJoin(q).select(
      expr("graft_dot(v, qv)").as("native"),
      SimilarityOps.dotExpr("v", "qv").as("hof"))
    assert(both.filter($"native" =!= $"hof").count() === 0)
  }

  test("dup groups equal a reference union-find on random graphs") {
    val rnd = new scala.util.Random(7)
    for (trial <- 1 to 3) {
      val n = 60
      val edges = Seq.fill(40)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter(p => p._1 != p._2)
        .map(p => (math.min(p._1, p._2), math.max(p._1, p._2))).distinct
      // driver-side union-find reference
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expected = (0 until n).map(i => i.toLong -> find(i).toLong).toMap
      val got = DedupOps.dupGroups(
        (0L until n.toLong).toDF("doc_id"),
        edges.toDF("doc_a", "doc_b"))
        .as[(Long, Long)].collect().toMap
      // union-find roots ARE component minima here because union always
      // keeps the smaller root as parent
      assert(got === expected, s"trial $trial")
    }
  }

  test("hash split and stratified sample are pure functions of the key") {
    // over-allocated split percentages are refused, not silently
    // emptied into the test arm
    val eSplit = intercept[IllegalArgumentException] {
      SamplingOps.hashSplit(docs, "doc_id", trainPct = 80, validPct = 30)
    }
    assert(eSplit.getMessage.contains("hashSplit"))
    val s1 = SamplingOps.hashSplit(docs, "doc_id").select("doc_id", "split")
      .as[(Long, String)].collect().toMap
    // repartitioned/reordered input → identical membership
    val s2 = SamplingOps.hashSplit(docs.repartition(7), "doc_id")
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    assert(s1 === s2)
    assert(s1.values.toSet === Set("train", "valid", "test"))
    assert(s1.values.count(_ == "train") > s1.size * 7 / 10)
    // stratified: exactly k per stratum, stable under input reordering
    val st = SamplingOps.stratifiedSample(docs, "lang", "doc_id", 20)
    assert(st.groupBy("lang").count().as[(String, Long)].collect()
      .forall(_._2 === 20L))
    val st2 = SamplingOps.stratifiedSample(docs.orderBy(desc("doc_id")),
      "lang", "doc_id", 20)
    assert(st2.select("doc_id").as[Long].collect().toSet ===
      st.select("doc_id").as[Long].collect().toSet)
  }

  test("global-order scaffold: no single-partition window, tokens conserved") {
    val packs = SamplingOps.packSequences(docs, 512)
    // the window must ride range partitioning, never one global partition
    val plan = packs.queryExecution.executedPlan.toString
    assert(plan.contains("rangepartitioning"))
    assert(!plan.contains("SinglePartition"))
    // packing conserves the token stream exactly
    val total = docs
      .select(sum(size(TextOps.normWords($"text")).cast("long")).as("t"))
      .head().getLong(0)
    val rows = packs.collect()
    assert(rows.map(_.getLong(2)).sum === total)
    assert(rows.forall(r => r.getLong(3) <= r.getLong(1))) // straddlers ≤ docs
    // buckets partition the corpus with ntile population balance
    val b = SamplingOps.tokenBuckets(docs, 10).collect()
    val counts = b.map(_.getLong(1))
    assert(counts.sum === docs.count())
    assert(counts.max - counts.min <= 1)
  }

  test("packSequencesBy packs in the caller's order and conserves tokens") {
    val weights = Map("de" -> 0.15, "en" -> 0.35, "es" -> 0.15,
      "fr" -> 0.15, "zh" -> 0.20)
    val ord = SamplingOps.weightedInterleave(docs, "lang", "doc_id", weights)
    val toks = docs.select($"doc_id",
      size(TextOps.normWords($"text")).cast("long").as("n_tokens"))
    val packs = SamplingOps
      .packSequencesBy(ord.join(toks, "doc_id"), Seq($"train_order"), 512)
      .orderBy("pack_id").collect()
    // token stream conserved, pack ids contiguous from 0
    val total = toks.agg(sum($"n_tokens")).head().getLong(0)
    assert(packs.map(_.getLong(2)).sum === total)
    assert(packs.map(_.getLong(0)).toSeq === (0L until packs.length).toSeq)
    // train order ≠ doc_id order: the epoch packing must differ from the
    // naive doc_id packing somewhere (else the composition is vacuous)
    val naive = SamplingOps.packSequences(docs, 512)
      .orderBy("pack_id").collect()
    assert(packs.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq !==
      naive.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq)
    // every pack but the last carries ≥ the budget-boundary mass: the
    // exclusive-prefix cut means a pack closes only once 512 is crossed
    assert(packs.dropRight(1).forall(_.getLong(2) >= 512 - 511), "sane packs")
  }

  test("deterministic shuffle: seed-stable permutation, no single-partition window") {
    val a = SamplingOps.shuffleOrder(docs.select($"doc_id"), "doc_id", "graft-42")
    // train_order is a contiguous 1..N permutation
    val orders = a.select($"train_order").as[Long].collect().sorted.toSeq
    assert(orders === (1L to docs.count()).toSeq)
    // bit-stable across invocations of the same seed
    val first = a.orderBy("train_order").select($"doc_id").as[Long].collect().toSeq
    val again = SamplingOps.shuffleOrder(docs.select($"doc_id"), "doc_id", "graft-42")
      .orderBy("train_order").select($"doc_id").as[Long].collect().toSeq
    assert(first === again)
    // a different seed actually reshuffles
    val other = SamplingOps.shuffleOrder(docs.select($"doc_id"), "doc_id", "graft-43")
      .orderBy("train_order").select($"doc_id").as[Long].collect().toSeq
    assert(first !== other)
    // the numbering rides range partitioning, never one global partition
    val plan = a.queryExecution.executedPlan.toString
    assert(plan.contains("rangepartitioning"))
    assert(!plan.contains("SinglePartition"))
  }

  test("vocab top-k: frequencies conserved, df bounded, heap-based top-k plan") {
    val v = TextOps.vocabTopK(docs, 50).collect()
    // the synthetic corpus has a small vocabulary; k caps, never pads
    assert(v.nonEmpty && v.length <= 50)
    // ordered by tf desc with word tie-break
    val tfs = v.map(_.getLong(1)).toSeq
    assert(tfs === tfs.sorted.reverse)
    v.foreach { r =>
      assert(r.getLong(2) >= 1L, "df >= 1")
      assert(r.getLong(1) >= r.getLong(2), "tf >= df")
    }
    // the head word's tf equals a direct count of its occurrences
    val top = v.head.getString(0)
    val direct = docs.select(explode(TextOps.normWords($"text")).as("w"))
      .filter($"w" === top).count()
    assert(v.head.getLong(1) === direct)
    // top-k must be TakeOrderedAndProject, not a global sort
    val plan = TextOps.vocabTopK(docs, 50).queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"))
  }

  test("weighted interleave: heavier strata surface earlier, deterministically") {
    val weights = Map("de" -> 0.15, "en" -> 0.35, "es" -> 0.15,
      "fr" -> 0.15, "zh" -> 0.20)
    val a = SamplingOps.weightedInterleave(docs, "lang", "doc_id", weights)
      .orderBy("train_order").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    // contiguous 1..N permutation, bit-stable across invocations
    assert(a.map(_._3).toSeq === (1L to a.length.toLong))
    val again = SamplingOps.weightedInterleave(docs, "lang", "doc_id", weights)
      .orderBy("train_order").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(a.toSeq === again.toSeq)
    // the heaviest stratum's mean epoch position precedes every
    // lightest-weight stratum's (u/w keys: 0.35 scales 2.3x denser)
    def meanPos(lang: String): Double = {
      val ps = a.filter(_._2 == lang).map(_._3.toDouble)
      ps.sum / ps.length
    }
    Seq("de", "es", "fr").foreach { light =>
      assert(meanPos("en") < meanPos(light),
        s"en (w=0.35) must surface before $light (w=0.15) on average")
    }
  }

  test("token-budget selection is a maximal quality-ordered prefix") {
    val budget = 3000L
    val sel = SamplingOps.selectTokenBudget(docs, budget)
    val rows = sel.orderBy(desc("quality_score"), $"doc_id").collect()
    assert(rows.nonEmpty)
    // within budget, and cum_tokens is the inclusive running sum
    assert(rows.map(_.getLong(1)).sum <= budget)
    assert(rows.last.getLong(3) === rows.map(_.getLong(1)).sum)
    // the selection is a strict PREFIX of the quality order: the running
    // total counts every preceding doc, so the first doc that overflows
    // the budget cuts everything after it (whole docs, no skip-ahead)
    val all = TextOps.qualityScore(docs)
      .select($"doc_id", $"n_tokens", $"quality_score")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy { case (id, _, q) => (-q, id) }
    val selected = rows.map(_.getLong(0)).toSet
    var cum = 0L
    all.foreach { case (id, n, _) =>
      cum += n
      if (cum <= budget)
        assert(selected.contains(id), s"doc $id is inside the prefix (cum=$cum)")
      else
        assert(!selected.contains(id), s"doc $id is past the cut (cum=$cum)")
    }
    // the global running sum must ride range partitioning
    val plan = sel.queryExecution.executedPlan.toString
    assert(plan.contains("rangepartitioning"))
  }

  test("sliding-window chunking covers every word with the declared overlap") {
    val chunks = TextOps.chunkDocs(docs, 64, 48).collect()
      .groupBy(_.getLong(0)).view
      .mapValues(_.sortBy(_.getLong(1))).toMap
    val nWords = docs.select($"doc_id", size(TextOps.normWords($"text")).as("n"))
      .as[(Long, Int)].collect().toMap
    chunks.foreach { case (docId, rows) =>
      val n = nWords(docId)
      // chunk count = ceil(max(0, n-64)/48) + 1, contiguous numbering
      val expected = math.ceil(math.max(0, n - 64) / 48.0).toInt + 1
      assert(rows.length === expected, s"doc $docId: n=$n")
      assert(rows.map(_.getLong(1)).toSeq === (0L until expected.toLong))
      // the final chunk reaches the last word; all chunks cover [1, n]
      val last = rows.last
      assert(last.getLong(1) * 48 + last.getLong(3) === n.toLong,
        s"doc $docId: last chunk must end at word $n")
      // token counts: full-size except possibly the last
      rows.init.foreach(r => assert(r.getLong(3) === 64L))
      // chunk text matches its declared window
      val words = docs.filter($"doc_id" === docId)
        .select(TextOps.normWords($"text")).head().getSeq[String](0)
      rows.take(3).foreach { r =>
        val start = (r.getLong(1) * 48).toInt
        assert(r.getString(2) ===
          words.slice(start, start + 64).mkString(" "))
      }
    }
    assert(chunks.nonEmpty)
  }

  test("chunking property: every (size, stride) yields an end-covering, " +
    "contiguous window family") {
    val sample = docs.limit(30)
    val nWords = sample.select($"doc_id", size(TextOps.normWords($"text")).as("n"))
      .as[(Long, Int)].collect().toMap
    for ((sz, st) <- Seq((16, 16), (32, 8), (50, 50), (200, 150))) {
      val rows = TextOps.chunkDocs(sample, sz, st).collect()
        .groupBy(_.getLong(0)).view.mapValues(_.sortBy(_.getLong(1))).toMap
      assert(rows.keySet === nWords.keySet, s"($sz,$st): every doc chunks")
      rows.foreach { case (docId, cs) =>
        val n = nWords(docId)
        val expected = math.ceil(math.max(0, n - sz) / st.toDouble).toInt + 1
        assert(cs.length === expected, s"($sz,$st) doc $docId n=$n")
        assert(cs.map(_.getLong(1)).toSeq === (0L until expected.toLong))
        assert(cs.last.getLong(1) * st + cs.last.getLong(3) === n.toLong,
          s"($sz,$st) doc $docId: final chunk must end at word $n")
        cs.init.foreach(r => assert(r.getLong(3) === sz.toLong))
      }
    }
    // invalid parameters fail fast, not silently mis-chunk
    intercept[IllegalArgumentException](TextOps.chunkDocs(sample, 10, 20))
    intercept[IllegalArgumentException](TextOps.chunkDocs(sample, 0, 1))
  }

  test("repetition score separates repetitive from diverse docs") {
    val d = Seq(
      (1L, Seq.fill(30)("spam ham").mkString(" ")),          // 2 distinct 3-grams
      (2L, (1 to 60).map(i => s"w$i").mkString(" ")))        // all distinct
      .toDF("doc_id", "text")
    val r = TextOps.repetitionScore(d).collect()
      .map(x => x.getLong(0) -> x.getDouble(3)).toMap
    assert(r(1L) > 0.9)
    assert(r(2L) === 0.0)
  }

  test("decontaminate flags a planted train->test copy") {
    // find one train id and one test id under the doc_id hash split
    val probe = SamplingOps.hashSplit(spark.range(0, 200).toDF("doc_id"), "doc_id")
      .as[(Long, String)].collect()
    val trainId = probe.find(_._2 == "train").get._1
    val testId = probe.find(_._2 == "test").get._1
    val leaked = (1 to 40).map(i => s"leak$i").mkString(" ")
    val filler = (1 to 40).map(i => s"fill$i").mkString(" ")
    val d = Seq((trainId, leaked), (testId, leaked),
      (probe.find(p => p._2 == "train" && p._1 != trainId).get._1, filler))
      .toDF("doc_id", "text")
    val hits = TextOps.decontaminate(d).collect()
      .map(r => r.getLong(0) -> r.getDouble(4)).toMap
    assert(hits.keySet === Set(trainId)) // the copy, not the filler doc
    assert(hits(trainId) === 1.0)        // every fingerprint leaked
  }

  test("withCached releases every operator cache registered in scope") {
    import graft.engine.Caches
    import org.apache.spark.storage.StorageLevel
    // a corpus slice no other test caches → plans are unique to this scope
    val corpus = docs.limit(47)
    val before = Caches.liveCount
    Caches.withCached {
      DedupOps.jaccardPairs(corpus, 5, 0.8).count()        // shingle cache
      DedupOps.simhashPairs(corpus, 3).count()             // sketch cache
      TextOps.containmentPairs(corpus).count()             // winnow caches
      assert(Caches.liveCount > before)
    }
    // registry back to its pre-scope population and the shared plans
    // really unpersisted (storageLevel consults the session CacheManager
    // by canonicalized plan)
    assert(Caches.liveCount === before)
    assert(DedupOps.shingleArrays(corpus, 5).storageLevel === StorageLevel.NONE)
    assert(DedupOps.simhashLong(corpus).storageLevel === StorageLevel.NONE)
    assert(TextOps.winnowFps(corpus).storageLevel === StorageLevel.NONE)
  }

  test("star-contraction components equal min-label propagation") {
    val rnd = new scala.util.Random(11)
    // adversarial diameter (31-node chain), a ring (cycle), 3 random
    // graphs — star contraction and label propagation must agree exactly
    val cases = Seq(
      (1L to 30L).map(i => (i, i + 1)),
      (0L until 12L).map(i => (i, (i + 1) % 12))
    ) ++ (1 to 3).map { _ =>
      val n = 50
      Seq.fill(35)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter(p => p._1 != p._2).distinct.toIndexedSeq
    }
    for ((es, i) <- cases.zipWithIndex) {
      val nodes = es.flatMap(p => Seq(p._1, p._2)).max + 2 // +1 singleton
      val docs = (0L until nodes).toDF("doc_id")
      val pairs = es.toDF("doc_a", "doc_b")
      val viaLabels = DedupOps.dupGroups(docs, pairs)
        .as[(Long, Long)].collect().toMap
      val viaStars = DedupOps.dupGroupsStar(docs, pairs)
        .as[(Long, Long)].collect().toMap
      assert(viaStars === viaLabels, s"case $i")
    }
    // empty pair relation → all singletons
    val lone = DedupOps.dupGroupsStar((0L until 5L).toDF("doc_id"),
      Seq.empty[(Long, Long)].toDF("doc_a", "doc_b"))
      .as[(Long, Long)].collect().toMap
    assert(lone === (0L until 5L).map(i => i -> i).toMap)
  }

  test("binned range join equals the naive join on random intervals") {
    val rnd = new scala.util.Random(13)
    val base = java.sql.Timestamp.valueOf("2024-05-01 00:00:00").getTime
    val probes = (1 to 120).map { i =>
      (i.toLong, (rnd.nextInt(5) + 1).toLong,
        new java.sql.Timestamp(base + rnd.nextInt(200000) * 1000L))
    }.toDF("event_id", "k", "ts")
    val ivals = (1 to 40).map { i =>
      val s = base + rnd.nextInt(200000) * 1000L
      (i.toLong, (rnd.nextInt(5) + 1).toLong,
        new java.sql.Timestamp(s),
        new java.sql.Timestamp(s + (rnd.nextInt(20000) + 1) * 1000L))
    }.toDF("ival_id", "k", "s", "e")
    for (bin <- Seq(60L, 3600L, 86400L)) {
      val binned = graft.engine.RangeJoin
        .binned(probes, "ts", ivals, "s", "e", Seq("k"), bin)
        .select("event_id", "ival_id").as[(Long, Long)].collect().toSet
      val naive = probes.join(ivals, Seq("k"))
        .filter($"ts" >= $"s" && $"ts" <= $"e")
        .select("event_id", "ival_id").as[(Long, Long)].collect().toSet
      assert(binned === naive, s"binSeconds=$bin")
      assert(naive.nonEmpty)
    }
  }

  test("binned range join equals the naive inequality join") {
    import graft.engine.RangeJoin
    val probes = Seq(
      (1L, 10L, "2024-01-01 00:00:30"),
      (2L, 10L, "2024-01-01 02:30:00"), // inside no interval
      (3L, 10L, "2024-01-01 05:00:00"), // exactly at an interval start
      (4L, 20L, "2024-01-01 00:00:30"), // same ts, other key → other interval
      (5L, 20L, "2024-01-03 23:59:59"))
      .toDF("event_id", "k", "ts").withColumn("ts", to_timestamp($"ts"))
    val ivals = Seq(
      (10L, "2024-01-01 00:00:00", "2024-01-01 01:00:00", "a"),
      (10L, "2024-01-01 05:00:00", "2024-01-01 06:00:00", "b"),
      (20L, "2024-01-01 00:00:00", "2024-01-04 00:00:00", "c")) // spans bins
      .toDF("k", "s", "e", "tag")
      .withColumn("s", to_timestamp($"s")).withColumn("e", to_timestamp($"e"))

    val binned = RangeJoin.binned(probes, "ts", ivals, "s", "e",
      equiKeys = Seq("k"), binSeconds = 3600)
      .select("event_id", "tag").as[(Long, String)].collect().toSet
    val naive = probes.join(ivals, Seq("k"))
      .filter($"ts" >= $"s" && $"ts" <= $"e")
      .select("event_id", "tag").as[(Long, String)].collect().toSet
    assert(binned === naive)
    assert(binned === Set((1L, "a"), (3L, "b"), (4L, "c"), (5L, "c")))
  }

  test("as-of join attaches the version valid at each probe instant") {
    import graft.engine.{AsOf, Scd2}
    val dim = Seq(
      (1L, "2024-01-01 00:00:00", 101L),
      (1L, "2024-01-10 00:00:00", 102L),
      (2L, "2024-01-05 00:00:00", 201L))
      .toDF("user_id", "ts", "event_id")
      .withColumn("ts", to_timestamp($"ts"))
    val d = Scd2.rebuild(dim, "user_id", "ts", "event_id")
      .select($"user_id", $"valid_from", $"version_no",
        $"event_id".as("version_event_id"))
    val probes = Seq(
      (9001L, 1L, "2024-01-09 23:59:59"), // before v2 → v1
      (9002L, 1L, "2024-01-10 00:00:00"), // exactly at v2.valid_from → v2
      (9003L, 2L, "2024-01-04 00:00:00"), // before any version → null
      (9004L, 2L, "2024-01-06 00:00:00")) // after v1 → v1
      .toDF("event_id", "user_id", "ts")
      .withColumn("ts", to_timestamp($"ts"))
    val got = AsOf.asOfJoin(probes, d, "user_id", "ts",
      Seq("version_no", "version_event_id"))
      .select("event_id", "version_event_id")
      .collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(got === Map(
      9001L -> Some(101L), 9002L -> Some(102L),
      9003L -> None, 9004L -> Some(201L)))

    // the interval-END-respecting variant: a CLOSED dimension (only
    // non-current versions — the delete-capture shape) stops enriching
    // probes past each key's closure, where plain asOfJoin carries the
    // last payload forever by documented contract
    val dClosed = Scd2.rebuild(dim, "user_id", "ts", "event_id")
      .filter(!$"is_current")
      .select($"user_id", $"valid_from", $"valid_to", $"version_no",
        $"event_id".as("version_event_id"))
    // user 1 keeps only v1, valid [01-01, 01-10); user 2 has no closed
    // version at all
    val gotValid = AsOf.asOfJoinValid(probes, dClosed, "user_id", "ts",
      Seq("version_no", "version_event_id"))
      .select("event_id", "version_event_id")
      .collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(gotValid === Map(
      9001L -> Some(101L), // inside [01-01, 01-10)
      9002L -> None, // exactly at valid_to → interval closed, no match
      9003L -> None, 9004L -> None))
  }

  test("typed latestPerUser matches the untyped window dedup") {
    import graft.engine.Cdc
    val ev = Tables.events(spark, sfDir)
    val typed = TypedApi.latestPerUser(TypedApi.events(spark, sfDir))
      .collect().map(e => e.user_id -> e.event_id).toMap
    val untyped = Cdc.dedupLastPerKey(ev, "user_id", "ts", "event_id")
      .select("user_id", "event_id").as[(Long, Long)].collect().toMap
    assert(typed === untyped)
  }

  test("typed decodedImages matches the untyped decode and carries " +
    "compile-time field access") {
    val typed = TypedApi.decodedImages(spark, sfDir)
      .filter(_.width >= 12) // the typed rule the surface exists for
      .collect().map(i => i.doc_id -> ((i.width, i.sum_r))).toMap
    val untyped = graft.ops.Multimodal.decodePng(
      graft.ops.Multimodal.encodePng(Tables.documents(spark, sfDir)))
      .filter($"width" >= 12)
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getLong(3)))).toMap
    assert(typed === untyped && typed.nonEmpty)
  }

  test("language ID picks the language with most stopword hits") {
    val d = Seq(
      (1L, "le chat et la porte et les arbres", "fr"),
      (2L, "the cat and the dog of a house", "en"),
      (3L, "der hund und die katze und das haus", "de"))
      .toDF("doc_id", "text", "lang")
    val got = TextOps.langId(d).select("doc_id", "lang_guess")
      .as[(Long, String)].collect().toMap
    assert(got === Map(1L -> "fr", 2L -> "en", 3L -> "de"))
  }

  test("quality score is bounded and token stats are exact") {
    val d = Seq((1L, "the quick brown fox jumps over the lazy dog")).toDF("doc_id", "text")
    val q = TextOps.qualityScore(d).first()
    assert(q.getAs[Long]("n_tokens") === 9L)
    assert(q.getAs[Double]("quality_score") > 0.0 &&
      q.getAs[Double]("quality_score") <= 1.0)
    val t = TextOps.tokenStats(d).first()
    assert(t.getAs[Long]("n_ws_tokens") === 9L)
    assert(t.getAs[Long]("n_alpha_tokens") === 9L)
    assert(t.getAs[Long]("n_bpeish_tokens") === 9L) // pure words: 1 segment each

    // whitespace tokens are TRUE tokens: runs of any whitespace
    // separate, edges trimmed, empty counts zero — no phantom tokens
    // from double spaces, no tab glued into a token
    val ws = Seq((1L, "a  b"), (2L, "a\tb"), (3L, " a b "), (4L, ""),
      (5L, "   "), (6L, "a\n b")).toDF("doc_id", "text")
    val wsGot = TextOps.tokenStats(ws).collect()
      .map(r => r.getLong(0) -> r.getAs[Long]("n_ws_tokens")).toMap
    assert(wsGot === Map(1L -> 2L, 2L -> 2L, 3L -> 2L, 4L -> 0L,
      5L -> 0L, 6L -> 2L))

    // BPE-ish segmentation: leading space glues to the next run, and
    // letter/digit/punct runs split — "don't stop v2!" → [don]['][t][ stop][ v][2][!]
    val seg = TextOps.tokenStats(Seq((1L, "don't stop v2!")).toDF("doc_id", "text"))
      .first().getAs[Long]("n_bpeish_tokens")
    assert(seg === 7L)
  }

  test("IVF merge appends new cells only and matches a direct full assignment") {
    import java.nio.file.{Files, Paths}
    val e = Tables.embeddings(spark, sfDir)
    val path = Files.createTempDirectory("ivf_merge").toString
    val buildSet = e.filter($"vec_id" % 4 < 3)
    val mergeSet = e.filter(!($"vec_id" % 4 < 3))
    SimilarityOps.buildIvfIndex(buildSet, path)
    def dataFiles(): Set[String] = {
      import scala.jdk.CollectionConverters._
      val s = Files.walk(Paths.get(s"$path/assignments"))
      try s.iterator().asScala
        .filter(_.toString.endsWith(".parquet")).map(_.toString).toSet
      finally s.close()
    }
    val before = dataFiles()
    SimilarityOps.mergeIvfIndex(mergeSet, path)
    val after = dataFiles()
    // append-only: every pre-merge file survives untouched; only new
    // files appear (old cells are never rewritten)
    assert(before.subsetOf(after) && after.size > before.size)
    // the merged assignment table = assigning every vector to the stored
    // (build-subset-trained) centroids
    val cents = spark.read.parquet(s"$path/centroids").orderBy("cluster")
      .collect().toSeq.map(_.getSeq[Double](1).toIndexedSeq)
    val expected = e
      .select($"vec_id", SimilarityOps.asDoubleVec($"embedding").as("v"))
      .withColumn("cluster", SimilarityOps.assignCluster($"v", cents).cast("long"))
      .select($"vec_id", $"cluster").as[(Long, Long)].collect().toMap
    val got = spark.read.parquet(s"$path/assignments")
      .select($"vec_id", $"cluster".cast("long")).as[(Long, Long)]
      .collect().toMap
    assert(got === expected)
  }

  test("PQ merge appends codes only and matches a direct full encoding") {
    import java.nio.file.{Files, Paths}
    val e = Tables.embeddings(spark, sfDir)
    val path = Files.createTempDirectory("pq_merge").toString
    val buildSet = e.filter($"vec_id" % 4 < 3)
    val mergeSet = e.filter(!($"vec_id" % 4 < 3))
    SimilarityOps.buildPqIndex(buildSet, path)
    def codeFiles(): Set[String] = {
      import scala.jdk.CollectionConverters._
      val s = Files.walk(Paths.get(s"$path/codes"))
      try s.iterator().asScala
        .filter(_.toString.endsWith(".parquet")).map(_.toString).toSet
      finally s.close()
    }
    val before = codeFiles()
    SimilarityOps.mergePqIndex(mergeSet, path)
    val after = codeFiles()
    // append-only: pre-merge code files survive untouched
    assert(before.subsetOf(after) && after.size > before.size)
    // merged code table = encoding EVERY vector against the FROZEN
    // stored codebooks (the merge must not retrain)
    val cb = spark.read.parquet(s"$path/codebooks").collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getSeq[Double](2).toIndexedSeq)
      .toMap
    val m = cb.keys.map(_._1).max + 1
    val ksub = cb.keys.map(_._2).max + 1
    val subDim = cb((0, 0)).length
    val expected = e
      .select($"vec_id", SimilarityOps.asDoubleVec($"embedding").as("v"))
      .select($"vec_id" +: (0 until m).map { s =>
        SimilarityOps.assignCluster(
          expr(s"slice(v, ${s * subDim + 1}, $subDim)"),
          (0 until ksub).map(j => cb((s, j)))).as(s"code_$s")
      }: _*)
      .collect().map(r => r.getLong(0) -> r.toSeq.tail).toMap
    val got = spark.read.parquet(s"$path/codes")
      .collect().map(r => r.getLong(0) -> r.toSeq.tail).toMap
    assert(got === expected)
  }

  test("shouldRetrain trips on a drifted merge feed and not on a compatible one") {
    import java.nio.file.Files
    val e = Tables.embeddings(spark, sfDir)
    // compatible feed: held-out vectors from the SAME distribution
    val pathA = Files.createTempDirectory("ivf_drift_a").toString
    SimilarityOps.buildIvfIndex(e.filter($"vec_id" % 4 < 3), pathA)
    assert(!SimilarityOps.shouldRetrain(spark, pathA), "no merges yet → no retrain")
    SimilarityOps.mergeIvfIndex(e.filter(!($"vec_id" % 4 < 3)), pathA)
    assert(!SimilarityOps.shouldRetrain(spark, pathA),
      "a feed from the indexed distribution must not trip the retrain predicate")
    // drifted feed: the same vectors translated far from every centroid
    val pathB = Files.createTempDirectory("ivf_drift_b").toString
    SimilarityOps.buildIvfIndex(e.filter($"vec_id" % 4 < 3), pathB)
    val drifted = e.filter(!($"vec_id" % 4 < 3))
      .select(($"vec_id" + 1000000L).as("vec_id"),
        transform($"embedding", x => x + lit(10.0f)).as("embedding"))
    SimilarityOps.mergeIvfIndex(drifted, pathB)
    assert(SimilarityOps.shouldRetrain(spark, pathB),
      "a translated feed far from every frozen centroid must trip the predicate")
  }

  test("shouldRetrainPq trips on a drifted merge feed and not on a compatible one") {
    import java.nio.file.Files
    val e = Tables.embeddings(spark, sfDir)
    // compatible feed: held-out vectors from the SAME distribution
    val pathA = Files.createTempDirectory("pq_drift_a").toString
    SimilarityOps.buildPqIndex(e.filter($"vec_id" % 4 < 3), pathA)
    assert(!SimilarityOps.shouldRetrainPq(spark, pathA), "no merges yet → no retrain")
    SimilarityOps.mergePqIndex(e.filter(!($"vec_id" % 4 < 3)), pathA)
    assert(!SimilarityOps.shouldRetrainPq(spark, pathA),
      "a feed from the indexed distribution must not trip the rebuild predicate")
    // drifted feed: the same vectors translated far from every subspace
    // codebook — encodes fine (codes are argmins), but quantization
    // distortion explodes, which is exactly what the signal watches
    val pathB = Files.createTempDirectory("pq_drift_b").toString
    SimilarityOps.buildPqIndex(e.filter($"vec_id" % 4 < 3), pathB)
    val drifted = e.filter(!($"vec_id" % 4 < 3))
      .select(($"vec_id" + 1000000L).as("vec_id"),
        transform($"embedding", x => x + lit(10.0f)).as("embedding"))
    SimilarityOps.mergePqIndex(drifted, pathB)
    assert(SimilarityOps.shouldRetrainPq(spark, pathB),
      "a translated feed far from every frozen codebook must trip the predicate")
  }

  test("dupGroups memoizes the propagation loop per (docs, pairs) plan") {
    val pairs = DedupOps.minhashLshPairs(docs, 5, 8, 4, 0.8)
    val r1 = DedupOps.dupGroups(docs, pairs).collect()
    val runsAfterFirst = DedupOps.labelRuns
    val r2 = DedupOps.dupGroups(docs,
      DedupOps.minhashLshPairs(docs, 5, 8, 4, 0.8)).collect()
    assert(DedupOps.labelRuns === runsAfterFirst,
      "second consult of the same group structure re-ran the label loop")
    assert(r1.map(r => (r.getLong(0), r.getLong(1))).toSet ===
      r2.map(r => (r.getLong(0), r.getLong(1))).toSet)
  }

  test("stored BM25 index scores bit-identically to the inline path") {
    val path = java.nio.file.Files.createTempDirectory("bm25_idx").toString
    val terms = Seq("spark", "join", "window")
    TextOps.buildBm25Index(docs, path)
    val got = TextOps.queryBm25Index(spark, path, terms, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val expected = TextOps.bm25TopK(docs, terms, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got === expected)
    // the probe reads postings with the term filter pushed to the scan
    val probe = TextOps.queryBm25Index(spark, path, terms, 10)
    val leaves = probe.queryExecution.executedPlan.collectLeaves()
      .map(_.toString).mkString
    assert(leaves.contains("postings") && leaves.contains("PushedFilters"))
  }

  test("temperature sampling keeps the smallest stratum whole, downsamples big ones") {
    // lang a: 10 docs × 40 tokens; lang b: 200 docs × 40 tokens
    val d = ((1 to 10).map(i => (i.toLong, (1 to 40).map(j => s"a${i}w$j").mkString(" "), "a")) ++
      (11 to 210).map(i => (i.toLong, (1 to 40).map(j => s"b${i}w$j").mkString(" "), "b")))
      .toDF("doc_id", "text", "lang")
    val kept = SamplingOps.temperatureSample(d, "lang", "doc_id")
      .select("doc_id", "lang").as[(Long, String)].collect()
    val byLang = kept.groupBy(_._2).view.mapValues(_.length).toMap
    // rate_a = sqrt(min/min) = 1 → every doc of the smallest stratum kept
    assert(byLang.getOrElse("a", 0) === 10)
    // rate_b = sqrt(10/200) ≈ 0.224 → kept count concentrates near 200×rate
    val b = byLang.getOrElse("b", 0)
    assert(b > 20 && b < 70, s"lang b kept $b of 200")
    // membership is a pure function of the key: a rerun is identical
    val again = SamplingOps.temperatureSample(d, "lang", "doc_id")
      .select("doc_id", "lang").as[(Long, String)].collect()
    assert(kept.toSet === again.toSet)
  }

  test("fingerprint-index merge: append-only, frozen hot list, feed screening") {
    import java.nio.file.{Files, Paths}
    val path = Files.createTempDirectory("dedup_idx").toString
    val body = (1 to 40).map(j => s"base$j").mkString(" ")
    // 12 indexed docs share a boilerplate body (hot at maxDf=10);
    // doc 50 is unique; the feed brings a near-dup of doc 50 (61), a
    // fresh boilerplate doc (62), and an unrelated doc (63)
    val boiler = (1 to 30).map(i => s"bp$i").mkString(" ")
    val idxDocs = ((1 to 12).map(i =>
        (i.toLong, s"$boiler " + (1 to 20).map(j => s"o${i}q$j").mkString(" "))) :+
      (50L, s"$body tail one")).toDF("doc_id", "text")
    DedupOps.buildFingerprintIndex(idxDocs, path)
    def postingFiles(): Set[String] = {
      import scala.jdk.CollectionConverters._
      val s = Files.walk(Paths.get(s"$path/postings"))
      try s.iterator().asScala
        .filter(_.toString.endsWith(".parquet")).map(_.toString).toSet
      finally s.close()
    }
    // the boilerplate fingerprints are hot → excluded from postings
    val hotN = spark.read.parquet(s"$path/hot").count()
    assert(hotN > 0)
    val before = postingFiles()
    val feed = Seq(
      (61L, s"$body tail two"),
      (62L, s"$boiler " + (1 to 20).map(j => s"n62q$j").mkString(" ")),
      (63L, (1 to 60).map(j => s"z63y$j").mkString(" "))).toDF("doc_id", "text")
    // screening BEFORE merge: only the genuine near-dup fires; the
    // boilerplate doc does NOT (its shared fps are frozen-hot)
    val hits = DedupOps.queryFingerprintIndex(spark, path, feed)
      .select("doc_new", "doc_old").as[(Long, Long)].collect().toSet
    assert(hits === Set((61L, 50L)))
    // merge appends only; frozen hot fps never enter the new postings
    DedupOps.mergeFingerprintIndex(feed, path)
    val after = postingFiles()
    assert(before.subsetOf(after) && after.size > before.size)
    val hot = spark.read.parquet(s"$path/hot").as[Long].collect().toSet
    val merged = spark.read.parquet(s"$path/postings")
      .filter($"doc_id" >= 61L).select("fp").as[Long].collect()
    assert(merged.nonEmpty && merged.forall(fp => !hot.contains(fp)))
    // after the merge, a later batch near-dupping doc 61 is caught
    val feed2 = Seq((70L, s"$body tail three")).toDF("doc_id", "text")
    val hits2 = DedupOps.queryFingerprintIndex(spark, path, feed2)
      .select("doc_new", "doc_old").as[(Long, Long)].collect().toSet
    assert(hits2 === Set((70L, 50L), (70L, 61L)))
    // rebuild signal: the body fingerprints started at df=1 (only doc
    // 50); after enough merged near-copies their CURRENT df crosses the
    // cap while the frozen hot list still screens them
    assert(DedupOps.hotListDrift(spark, path) === 0L)
    val flood = (200 to 215).map(i => (i.toLong, s"$body tail v$i"))
      .toDF("doc_id", "text")
    DedupOps.mergeFingerprintIndex(flood, path)
    assert(DedupOps.hotListDrift(spark, path) > 0L,
      "fingerprints grown past the cap must surface as hot-list drift")
  }

  test("fingerprint-index probe plan never shuffles the stored index") {
    import java.nio.file.Files
    val path = Files.createTempDirectory("dedup_idx_plan").toString
    val mk = (ids: Range, tag: String) => ids.map(i =>
        (i.toLong, (1 to 40).map(j => s"$tag${i}w$j").mkString(" ")))
    val idxDocs = mk(1 to 30, "x").toDF("doc_id", "text")
    DedupOps.buildFingerprintIndex(idxDocs, path)
    val feed = mk(100 to 104, "y").toDF("doc_id", "text")
    val plan = DedupOps.queryFingerprintIndex(spark, path, feed)
      .queryExecution.executedPlan
    // the scale contract: stored postings/sizes are scanned (columnar
    // I/O) but NEVER sit under a shuffle Exchange — only candidate/
    // feed-sized relations may move
    val shuffledIndexScans = plan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec =>
        e.collectLeaves().filter { l =>
          val s = l.toString
          s.contains(s"$path/postings") || s.contains(s"$path/sizes")
        }
    }.flatten
    assert(shuffledIndexScans.isEmpty,
      s"stored-index scan under a shuffle Exchange:\n$shuffledIndexScans")
  }

  test("semdedup screen plan never shuffles the stored IVF index") {
    import java.nio.file.Files
    val emb = Tables.embeddings(spark, sfDir)
    val path = Files.createTempDirectory("ivf_screen_plan").toString
    SimilarityOps.buildIvfIndex(emb.filter($"vec_id" % 4 < 3), path, 8, 2)
    val plan = SimilarityOps.semDedupScreen(spark, path,
        emb.filter($"vec_id" % 4 === 3), 0.35)
      .queryExecution.executedPlan
    // the scale contract: stored cell assignments are scanned via the
    // broadcast probed-cell join, never moved through an Exchange
    val shuffledIndexScans = plan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec =>
        e.collectLeaves().filter(_.toString.contains(s"$path/assignments"))
    }.flatten
    assert(shuffledIndexScans.isEmpty,
      s"stored-index scan under a shuffle Exchange:\n$shuffledIndexScans")
  }

  test("BPE pair explosion runs over the vocabulary, never the corpus") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Generate}
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    // the scale claim: the PAIR Generate must sit ABOVE the word-level
    // aggregate — its input is the distinct-word vocab (word, tf),
    // which appears either as a bare Aggregate or as the cached
    // InMemoryRelation bpeVocab registers
    for (df <- Seq(TextOps.bpePairCounts(docs, 30),
        TextOps.bpeMergeStep(docs, 30))) {
      val gens = df.queryExecution.optimizedPlan.collect { case g: Generate => g }
      assert(gens.exists(g =>
        g.child.output.exists(_.name == "tf") &&
          (g.child.collectFirst { case a: Aggregate => a }.isDefined ||
            g.child.collectLeaves().exists(_.isInstanceOf[InMemoryRelation]))),
        "no pair Generate found above the vocab aggregate — the " +
          "explosion would re-scan the corpus")
    }
  }

  test("round-14 ops are invariant under input repartitioning") {
    // the distributed-correctness property: a different physical layout
    // of the same rows (different partition count, different row order
    // within partitions) must not change any answer — catches hidden
    // partition-order dependence (float-sum ordering, first()-style
    // picks) that local[32] with one layout would never surface
    val shuffled = docs.repartition(7)
    val embShuffled = Tables.embeddings(spark, sfDir).repartition(5)
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq
    assert(rows(TextOps.lmScore(shuffled)) === rows(TextOps.lmScore(docs)))
    assert(rows(TextOps.lmBigramScore(shuffled))
      === rows(TextOps.lmBigramScore(docs)))
    assert(rows(TextOps.sourceKl(shuffled)) === rows(TextOps.sourceKl(docs)))
    assert(rows(TextOps.bpePairCounts(shuffled, 30))
      === rows(TextOps.bpePairCounts(docs, 30)))
    assert(rows(TextOps.bpeMergeStep(shuffled, 30))
      === rows(TextOps.bpeMergeStep(docs, 30)))
    assert(rows(graft.ops.Curation.qualityDupCalibration(shuffled))
      === rows(graft.ops.Curation.qualityDupCalibration(docs)))
    val emb = Tables.embeddings(spark, sfDir)
    assert(rows(SimilarityOps.semDedup(embShuffled, 8, 2, 0.35))
      === rows(SimilarityOps.semDedup(emb, 8, 2, 0.35)))
  }

  test("BM25 merge appends postings only and matches a full-corpus build") {
    import java.nio.file.{Files, Paths}
    val path = Files.createTempDirectory("bm25_merge").toString
    val terms = Seq("spark", "join", "window")
    val buildSet = docs.filter($"doc_id" % 4 < 3)
    val mergeSet = docs.filter(!($"doc_id" % 4 < 3))
    TextOps.buildBm25Index(buildSet, path)
    def postingFiles(): Set[String] = {
      import scala.jdk.CollectionConverters._
      val s = Files.walk(Paths.get(s"$path/postings"))
      try s.iterator().asScala
        .filter(_.toString.endsWith(".parquet")).map(_.toString).toSet
      finally s.close()
    }
    val before = postingFiles()
    TextOps.mergeBm25Index(mergeSet, path)
    val after = postingFiles()
    // append-only: every pre-merge posting file survives untouched; the
    // merge only adds files (concurrent readers keep a consistent view)
    assert(before.subsetOf(after) && after.size > before.size)
    // merged index state = the state a full-corpus build would produce:
    // same per-term df, same corpus stats, bit-identical scores
    val full = Files.createTempDirectory("bm25_full").toString
    TextOps.buildBm25Index(docs, full)
    // the merge republishes lexicon+stats as one VERSION under the
    // lexicon root (atomic swap, replay log) — read the live copy the
    // way the query paths do, not the stale build-time flat files
    def liveLex(p: String) =
      graft.engine.Compaction.resolve(s"$p/lexicon")
    def lex(p: String) = spark.read.parquet(liveLex(p))
      .as[(String, Long)].collect().toMap
    def stats(p: String) = {
      val sidecar = Paths.get(liveLex(p), "_stats")
      val dir = if (Files.exists(sidecar)) sidecar.toString else s"$p/stats"
      spark.read.parquet(dir).as[(Long, Long)].head()
    }
    assert(lex(path) === lex(full))
    assert(stats(path) === stats(full))
    val got = TextOps.queryBm25Index(spark, path, terms, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val expected = TextOps.bm25TopK(docs, terms, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got === expected)
    // an empty change batch is a no-op, not an NPE on the null stats sum
    TextOps.mergeBm25Index(docs.limit(0), path)
    assert(TextOps.queryBm25Index(spark, path, terms, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq === expected)
  }

  private def msgChain(t: Throwable): String =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
      .map(e => Option(e.getMessage).getOrElse("")).mkString(" | ")

  test("PII redaction: planted emails/phones/IPs are counted and replaced") {
    val cases = Seq(
      (1L, "contact me at jane.doe+spam@mail.example.org today"),
      (2L, "server at 192.168.0.1 and 10.0.0.255 responded"),
      (3L, "call 555-867-5309 or 555.867.5309 now"),
      (4L, "mixed: bob@x.io from 1.2.3.4 dials 123-456-7890"),
      (5L, "clean text with numbers 12345 and dots a.b but no pii"),
      (6L, ""))
      .toDF("doc_id", "text")
    val got = graft.ops.TextOps.redactPii(cases).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getString(4)))
    assert(got(0) === ((1L, 1L, 0L, 0L, "contact me at <EMAIL> today")))
    assert(got(1) === ((2L, 0L, 2L, 0L,
      "server at <IP> and <IP> responded")))
    assert(got(2) === ((3L, 0L, 0L, 2L, "call <PHONE> or <PHONE> now")))
    assert(got(3) === ((4L, 1L, 1L, 1L,
      "mixed: <EMAIL> from <IP> dials <PHONE>")))
    assert(got(4) === ((5L, 0L, 0L, 0L,
      "clean text with numbers 12345 and dots a.b but no pii")))
    assert(got(5) === ((6L, 0L, 0L, 0L, "")))
    // corpus pass is a pure projection: row-preserving, and it adds NO
    // shuffle of its own — the only Exchange allowed is the loader's
    // adaptive scan rebalance, present in the bare corpus plan too
    val corpus = graft.ops.TextOps.redactPii(docs)
    assert(corpus.count() === docs.count())
    def nExchanges(df: org.apache.spark.sql.DataFrame): Int =
      "Exchange".r.findAllIn(df.queryExecution.executedPlan.toString).length
    assert(nExchanges(corpus) === nExchanges(docs.select("doc_id", "text")))
  }

  test("weightedInterleave fails loudly on a stratum with no weight") {
    val df = Seq((1L, "en"), (2L, "xx")).toDF("doc_id", "lang")
    val ex = intercept[Throwable] {
      // the op runs its GlobalOrder collect eagerly — the error arm
      // fires during the call, before any caller-side action
      SamplingOps.weightedInterleave(df, "lang", "doc_id",
        Map("en" -> 1.0)).collect()
    }
    assert(msgChain(ex).contains("has no configured weight"), msgChain(ex))
    // fully-mapped input is unaffected
    val ok = SamplingOps.weightedInterleave(
      df.filter($"lang" === "en"), "lang", "doc_id", Map("en" -> 1.0))
    assert(ok.count() === 1L)
  }

  test("corpusMix fails loudly on a stratum with no target weight") {
    val df = Seq((1L, "en a b c"), (2L, "xx d e f"))
      .toDF("doc_id", "text").withColumn("lang", split($"text", " ")(0))
    val ex = intercept[Throwable] {
      SamplingOps.corpusMix(df, "lang", Map("en" -> 1.0)).collect()
    }
    assert(msgChain(ex).contains("has no configured weight"), msgChain(ex))
    val ok = SamplingOps.corpusMix(df.filter($"lang" === "en"), "lang",
      Map("en" -> 1.0))
    assert(ok.count() === 1L)
  }

  test("oovRate counts exactly the token mass outside the elected vocab") {
    // vocab by total tf with word tie-break: topK=2 elects {a (tf 4), b (tf 3)}
    val d = Seq(
      (1L, "a a b c", "en"),
      (2L, "a b d", "en"),
      (3L, "a b e", "fr")).toDF("doc_id", "text", "lang")
    val got = TextOps.oovRate(d, "lang", topK = 2).orderBy("lang")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    // en: 7 tokens, oov {c, d} = 2; fr: 3 tokens, oov {e} = 1
    assert(got === Seq(("en", 7L, 2L), ("fr", 3L, 1L)))
    // a vocab that holds every word → zero OOV everywhere
    val full = TextOps.oovRate(docs, "lang", topK = 1000000)
    assert(full.agg(sum($"n_oov")).head().getLong(0) === 0L)
  }

  test("docIdf ranks common-vocabulary docs below rare-content docs") {
    // N=3: 'a' in docs 1,2 (df 2 → idf ln 1.5); w1..w4 / x1..x4 unique
    // to their doc (df 1 → idf ln 3)
    val d = Seq(
      (1L, "a a a a"),            // all-common → lowest mean_idf
      (2L, "a w1 w2 w3 w4"),      // mostly rare
      (3L, "x1 x2 x3 x4")).toDF("doc_id", "text")
    val got = TextOps.docIdf(d).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // decimal(20,6)-routed mean: idf values round before summing
    val ln15r = 0.405465 // ln 1.5 = 0.4054651081...
    val ln3r = 1.098612  // ln 3   = 1.0986122886...
    assert(got(0) === ((1L, 1L, ln15r)))
    assert(math.abs(got(1)._3 - (ln15r + 4 * ln3r) / 5) < 1e-12)
    assert(math.abs(got(2)._3 - ln3r) < 1e-12)
    assert(got(0)._3 < got(1)._3 && got(1)._3 < got(2)._3)
  }

  test("capPerGroup equals the single-window reference and is salt-invariant") {
    val base = Tables.documents(spark, sfDir)
    val scored = TextOps.qualityScore(base)
      .join(base.select("doc_id", "source"), "doc_id")
      .select($"doc_id", $"source", $"quality_score")
    val order = Seq($"quality_score".desc, $"doc_id")
    def run(salts: Int) =
      SamplingOps.capPerGroup(scored, "source", "doc_id", order, 3, salts)
        .orderBy("source", "grp_rank")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(3))).toSeq
    // reference: the textbook one-window formulation
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"source").orderBy(order: _*)
    val ref = scored.withColumn("grp_rank", row_number().over(w).cast("long"))
      .filter($"grp_rank" <= 3).orderBy("source", "grp_rank")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(3))).toSeq
    assert(run(16) === ref)
    // the phase-1 salt count must not change the answer (superset proof)
    assert(run(1) === ref)
    assert(run(7) === ref)
  }

  test("ngramHotspots surfaces the shared n-gram with its df and example doc") {
    val tiny = Seq(
      (0L, "all rights reserved by the author today"),
      (1L, "notice all rights reserved by the editor"),
      (2L, "all rights reserved by the publisher"),
      (3L, "completely unrelated text with different words entirely"))
      .toDF("doc_id", "text")
    val hot = TextOps.ngramHotspots(tiny, 5, 2L, 10).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // the license-header 5-gram is shared by docs 0,1,2 and tops the list
    assert(hot.head === (("all rights reserved by the"), 3L, 0L))
    // every reported hotspot clears the min-df bar; nothing from doc 3
    assert(hot.forall(_._2 >= 2L))
    assert(hot.forall(h => !h._1.contains("unrelated")))
    // df counts DISTINCT docs: a doc repeating the n-gram counts once
    val rep = Seq(
      (0L, "x y z w v x y z w v"), // the 5-gram "x y z w v" twice in one doc
      (1L, "x y z w v")).toDF("doc_id", "text")
    val r2 = TextOps.ngramHotspots(rep, 5, 2L, 10).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(r2.contains(("x y z w v", 2L)))
  }

  test("diverseRepresentatives picks each cluster's nearest member") {
    val emb = Tables.embeddings(spark, sfDir)
    val reps = SimilarityOps.diverseRepresentatives(emb, 8, 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    // one representative per non-empty cluster; populations partition
    assert(reps.map(_._1).distinct.length === reps.length)
    assert(reps.map(_._4).sum === emb.count())
    // driver replay: each winner is its own cluster's true argmin
    val e = emb.select(col("vec_id"),
      SimilarityOps.asDoubleVec(col("embedding")).as("v"))
    val cents = SimilarityOps.kmeansCentroids(e, 8, 2)
    val all = e.collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toIndexedSeq))
    def l2(a: Seq[Double], b: Seq[Double]) =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val byCluster = all.groupBy { case (_, v) =>
      cents.indices.minBy(i => (l2(v, cents(i)), i)).toLong }
    reps.foreach { case (cl, rep, d, nm) =>
      val members = byCluster(cl)
      assert(members.length.toLong === nm)
      val best = members
        .map { case (id, v) =>
          (BigDecimal(l2(v, cents(cl.toInt)))
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble, id) }
        .min
      assert((best._2, best._1) === ((rep, d)), s"cluster $cl")
    }
  }

  test("largestRemainderBudgets raises on non-distribution weights") {
    // Σw = 0.5: floors sum to ~budget/2, bonus exceeds the stratum
    // count — the "quotas sum to budget" claim silently breaks, so the
    // guard must fire instead
    val e = intercept[IllegalArgumentException] {
      SamplingOps.largestRemainderBudgets(1000L,
        Map("a" -> 0.25, "b" -> 0.25))
    }
    assert(e.getMessage.contains("weights sum"))
    // Σw = 1.5 drives the bonus negative — same guard
    val e2 = intercept[IllegalArgumentException] {
      SamplingOps.largestRemainderBudgets(1000L,
        Map("a" -> 0.75, "b" -> 0.75))
    }
    assert(e2.getMessage.contains("weights sum"))
  }

  test("selectTokenBudgetByGroup fills each stratum's budget greedily") {
    val weights = Map("de" -> 0.15, "en" -> 0.35, "es" -> 0.15,
      "fr" -> 0.15, "zh" -> 0.20)
    val budgets = SamplingOps.largestRemainderBudgets(20000L, weights)
    // quotas are an exact partition of the budget
    assert(budgets.values.sum === 20000L)
    val out = SamplingOps.selectTokenBudgetByGroup(docs, "lang", budgets)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(4)))
    // every stratum respects its own budget
    out.groupBy(_._1).foreach { case (l, rows) =>
      assert(rows.map(_._3).sum <= budgets(l), s"stratum $l over budget")
      // cum_tokens is the running sum in selection order
      assert(rows.map(_._4).max === rows.map(_._3).sum)
    }
    // matches the textbook per-group window formulation
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"lang").orderBy($"quality_score".desc, $"doc_id")
    val scored = TextOps.qualityScore(docs)
      .join(docs.select("doc_id", "lang"), "doc_id")
    val bCol = budgets.foldLeft(lit(-1L)) { case (acc, (k, v)) =>
      when($"lang" === k, lit(v)).otherwise(acc) }
    val ref = scored.withColumn("cum",
        sum($"n_tokens").over(w.rowsBetween(Long.MinValue, 0)))
      .filter($"cum" <= bCol)
      .collect().map(r => (r.getAs[String]("lang"), r.getAs[Long]("doc_id")))
      .toSet
    assert(out.map(t => (t._1, t._2)).toSet === ref)
    // an unconfigured stratum fails loudly
    val err = intercept[Exception] {
      SamplingOps.selectTokenBudgetByGroup(docs, "lang",
        budgets - "zh").collect()
    }
    assert(err.getMessage.contains("no configured weight"))
  }

  test("sourceOverlapMatrix flags the copying source pair only") {
    val shared = "the quick brown fox jumps over the lazy dog repeatedly today"
    val tiny = Seq(
      (0L, shared, "feedX"),
      (1L, s"prefix words $shared suffix words", "feedY"), // contains the copy
      (2L, "completely different material about database engines", "feedZ"),
      (3L, "another unrelated article body on sailing boats", "feedX"))
      .toDF("doc_id", "text", "source")
    val m = TextOps.sourceOverlapMatrix(tiny, maxDf = 10).collect()
      .map(r => ((r.getString(0), r.getString(1)), (r.getLong(2), r.getLong(3))))
      .toMap
    // the X↔Y copy is caught with at least one shared fingerprint
    assert(m.contains(("feedX", "feedY")))
    assert(m(("feedX", "feedY"))._1 >= 1L && m(("feedX", "feedY"))._2 >= 1L)
    // independent sources share nothing
    assert(!m.keySet.exists { case (a, b) => a == "feedZ" || b == "feedZ" })
  }

  test("epochMaterialize integerizes the mix deterministically toward target") {
    val weights = Map("de" -> 0.15, "en" -> 0.35, "es" -> 0.15,
      "fr" -> 0.15, "zh" -> 0.20)
    def run(d: org.apache.spark.sql.DataFrame) =
      SamplingOps.epochMaterialize(d, "lang", "doc_id", weights)
        .orderBy("lang").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getDouble(4))).toSeq
    val out = run(docs)
    assert(out.map(_._1).toSet === weights.keySet)
    // achieved shares are a probability vector over the epoch
    assert(math.abs(out.map(_._5).sum - 1.0) < 1e-9)
    // every stratum's epoch doc count sits in the [floor(f)·n, ceil(f)·n]
    // band its factor dictates
    val mix = SamplingOps.corpusMix(docs, "lang", weights).collect()
      .map(r => r.getString(0) -> r.getDouble(5)).toMap
    out.foreach { case (l, n, en, _, _) =>
      val f = mix(l)
      assert(en >= math.floor(f).toLong * n && en <= math.ceil(f).toLong * n,
        s"stratum $l: $en copies of $n docs under f=$f")
    }
    // hash-selected extras, not row order: reshuffling changes nothing
    assert(run(docs.repartition(9)) === out)
  }

  test("corpusDiff reports exactly the touched buckets, classified") {
    import graft.ops.Curation
    val v1 = (1L to 8L).map(i => (i, s"document number $i body")).toDF("doc_id", "text")
    // identical versions: nothing to reprocess
    assert(Curation.corpusDiff(v1, v1, 64).count() === 0L)
    // v2: doc 2 removed, doc 5 edited, doc 99 added — with enough
    // buckets each touched doc sits alone, so statuses are exact
    val v2 = v1.filter($"doc_id" =!= 2L)
      .withColumn("text", when($"doc_id" === 5L, lit("edited body"))
        .otherwise($"text"))
      .union(Seq((99L, "brand new doc")).toDF("doc_id", "text"))
    val d = Curation.corpusDiff(v1, v2, 1024).collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getString(3)))
    assert(d.length === 3, s"got ${d.toSeq}")
    assert(d.count(_._3 == "removed") === 1)
    assert(d.count(_._3 == "added") === 1)
    assert(d.count(_._3 == "changed") === 1)
    // counts agree with the classification
    assert(d.find(_._3 == "removed").get === ((1L, 0L, "removed")))
    assert(d.find(_._3 == "added").get === ((0L, 1L, "added")))
    assert(d.find(_._3 == "changed").get === ((1L, 1L, "changed")))
  }

  test("bpeEncodeIds emits the hand-derived id stream") {
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    // alphabet {a, b} -> ids a=0, b=1; pair (a,b) dominates (tf-weighted
    // count 3) so rule 1 merges it -> token "ab" gets id 2
    val tiny = Seq((0L, "ab ab b a"), (1L, "aab")).toDF("doc_id", "text")
    val out = TextOps.bpeEncodeIds(tiny, rules = 1).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    // doc 0: words [ab, ab, b, a] -> ids [2, 2, 1, 0]
    assert(out(0) === ((0L, 4L, md5hex("2,2,1,0"))))
    // doc 1: "aab" greedy-folds to [a, ab] -> ids [0, 2] (the fresh
    // merged symbol cannot chain, so the leading 'a' stays single)
    assert(out(1) === ((1L, 2L, md5hex("0,2"))))
    // corpus-level determinism: same input partitioned differently gives
    // byte-identical signatures
    val d = docs.limit(50)
    val a = TextOps.bpeEncodeIds(d, 2).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    val b = TextOps.bpeEncodeIds(d.repartition(7), 2).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    assert(a === b)
  }

  test("shardManifest partitions the corpus into verifiable shards") {
    val m = SamplingOps.shardManifest(docs, 4096L).orderBy("shard_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getString(5)))
    // shards partition the corpus exactly
    assert(m.map(_._2).sum === docs.count())
    // doc-id ranges are disjoint and ordered: layout is by doc_id, so
    // shard k's last doc precedes shard k+1's first
    m.sliding(2).foreach { case Array(a, b) =>
      assert(a._5 < b._4, s"shards ${a._1}/${b._1} ranges must not overlap")
      case _ => ()
    }
    // whole docs only: every shard's token mass is positive; interior
    // shards sit near the budget (can't exceed budget + one max doc)
    assert(m.forall(_._3 > 0))
    // the manifest is input-partitioning-invariant and reproducible
    val m2 = SamplingOps.shardManifest(docs.repartition(7), 4096L)
      .orderBy("shard_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getString(5)))
    assert(m2 === m)
    // the content hash actually protects content: dropping one doc
    // changes its shard's hash
    val dropped = SamplingOps.shardManifest(
      docs.filter($"doc_id" =!= m.head._4), 4096L).orderBy("shard_id")
      .collect().map(r => r.getLong(0) -> r.getString(5)).toMap
    assert(dropped(m.head._1) !== m.head._6)
  }

  test("proportionalSample fills the budget exactly with largest-remainder quotas") {
    val base = Tables.documents(spark, sfDir).select("doc_id", "lang")
    val out = SamplingOps.proportionalSample(base, "lang", "doc_id", 200)
    val picked = out.collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    // exactly the budget, no duplicates
    assert(picked.size === 200)
    assert(picked.map(_._1).distinct.size === 200)
    // per-stratum quota is within 1 of the exact proportional share and
    // the bonus went to the largest remainders
    val n = base.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val total = n.values.sum
    val got = picked.groupBy(_._2).map { case (l, xs) => l -> xs.size.toLong }
    n.keys.foreach { l =>
      val fl = BigInt(200) * n(l) / total
      assert(got.getOrElse(l, 0L) === fl.toLong ||
        got.getOrElse(l, 0L) === fl.toLong + 1, s"stratum $l")
    }
    // salt count must not change the answer (phase-1 superset proof),
    // and neither may the input order (hash membership, not row order)
    def key(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("lang", "samp_rank")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(key(SamplingOps.proportionalSample(base, "lang", "doc_id", 200, salts = 1))
      === key(out))
    assert(key(SamplingOps.proportionalSample(
      base.orderBy(desc("doc_id")), "lang", "doc_id", 200)) === key(out))
    // an over-budget ask fails loudly instead of silently under-filling
    val err = intercept[IllegalArgumentException] {
      SamplingOps.proportionalSample(base, "lang", "doc_id", total + 1)
    }
    assert(err.getMessage.contains("exceeds corpus size"))
  }

  test("unigram LM score ranks in-distribution text above rare-token text") {
    val tiny = Seq(
      (0L, "the cat sat on the mat"),
      (1L, "the cat sat"),
      (2L, "zq xv qq"),
      (3L, "the the the")).toDF("doc_id", "text")
    val s = TextOps.lmScore(tiny).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    // token counts exact
    assert(s(0)._1 === 6L && s(2)._1 === 3L)
    // "the" is the modal word: the all-"the" doc scores highest, the
    // rare-token doc lowest, and log-probs are strictly negative
    assert(s(3)._2 === s.values.map(_._2).max)
    assert(s(2)._2 === s.values.map(_._2).min)
    assert(s.values.forall(_._2 < 0))
    // a document's score is exactly the tf-weighted mean of its words'
    // 6-dp log-probs under the corpus unigram distribution
    val nTok = 15.0
    def lp(ctf: Long): BigDecimal =
      BigDecimal(math.log(ctf / nTok)).setScale(6, BigDecimal.RoundingMode.HALF_UP)
    // doc 1 = the(6) cat(2) sat(2), 3 tokens
    val want1 = ((lp(6) + lp(2) + lp(2)) / 3)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(s(1)._2 === want1)
  }

  test("BPE pair counts: hand-counted pairs, overlap per occurrence, heap top-k") {
    val tiny = Seq((0L, "aaa ab"), (1L, "aaa")).toDF("doc_id", "text")
    // vocab: aaa×2, ab×1 → "aa" twice per "aaa" occurrence = 4, "ab" = 1
    val p = TextOps.bpePairCounts(tiny, 10).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(p === Map("aa" -> 4L, "ab" -> 1L))
    // corpus: the argmax pair's count equals a direct text-level count
    val top = TextOps.bpePairCounts(docs, 1).collect().head
    val direct = docs
      .select(explode(TextOps.normWords($"text")).as("w"))
      .select(expr(
        s"size(filter(sequence(1, greatest(1, length(w) - 1)), " +
          s"i -> substring(w, i, 2) = '${top.getString(0)}'))").as("c"))
      .agg(sum($"c")).head().getLong(0)
    assert(top.getLong(1) === direct)
    // top-k is per-partition heaps, not a global sort
    val plan = TextOps.bpePairCounts(docs, 30).queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"))
  }

  test("BPE merge step applies the argmax merge greedily left-to-right") {
    // vocab: aaab×1, aa×1 → step-1 pairs: aa=3 (two in aaab, one in aa),
    // ab=1 → argmax "aa"; greedy merge: aaab → [aa, a, b] (the fresh
    // "aa" symbol cannot chain), aa → [aa] (no pairs left)
    val tiny = Seq((0L, "aaab aa")).toDF("doc_id", "text")
    val p = TextOps.bpeMergeStep(tiny, 10).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(p === Map("aa a" -> 1L, "a b" -> 1L))
    // corpus: every recounted pair is two space-joined symbols, and the
    // merged symbol (the step-1 argmax) appears among them
    val top1 = TextOps.bpePairCounts(docs, 1).collect().head.getString(0)
    val after = TextOps.bpeMergeStep(docs, 30).collect().map(_.getString(0))
    assert(after.forall(_.split(" ").length == 2))
    assert(after.exists(_.split(" ").contains(top1)))
  }

  test("BPE training learns the hand-derived rule sequence") {
    // corpus "aaab aa": r1 = (a,a) cnt 3; after merging, pairs (aa,a)
    // and (a,b) tie at 1 → lexicographic tie-break picks (a,b); after
    // that merge, only (aa,ab) remains — later rules merge MULTI-char
    // symbols, which substring-pair formulations cannot express
    val tiny = Seq((0L, "aaab aa")).toDF("doc_id", "text")
    val got = TextOps.bpeTrain(tiny, 3).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
      .toSeq.sortBy(_._1)
    assert(got === Seq((1L, "a", "a", 3L), (2L, "a", "b", 1L),
      (3L, "aa", "ab", 1L)))
    // early exhaustion: a corpus with nothing left to merge stops short
    val one = Seq((0L, "x y")).toDF("doc_id", "text")
    assert(TextOps.bpeTrain(one, 5).count() === 0L)
    // rule 1 always equals the step-1 argmax on the real corpus
    val r1 = TextOps.bpeTrain(docs, 1).collect().head
    val top1 = TextOps.bpePairCounts(docs, 1).collect().head
    assert(r1.getString(1) + r1.getString(2) === top1.getString(0))
    assert(r1.getLong(3) === top1.getLong(1))
  }

  test("frequent-words sketch agrees with exact counts within tolerance") {
    val rows = TextOps.vocabApproxTopK(docs, 20).collect()
    assert(rows.length === 20)
    // the sketch must validate on every exact-top-k row, and the rows
    // themselves are the exact top-k in (tf desc, word) order
    assert(rows.forall(_.getBoolean(2)), "sketch count drifted past tolerance")
    val exact = TextOps.vocabTopK(docs, 20)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(rows.map(r => (r.getString(0), r.getLong(1))).toSeq === exact)
    // an under-provisioned sketch must FAIL the check, not silently
    // return plausible counts — 20 tracked slots over a thousands-word
    // vocabulary cannot report exact-ish counts for all of the top 20
    // (Spark rejects maxItemsTracked < k outright, which is the other
    // half of the guard)
    val tight = TextOps.vocabApproxTopK(docs, 20, maxTracked = 20).collect()
    assert(tight.exists(!_.getBoolean(2)),
      "a 20-slot sketch validating all 20 counts means the check is vacuous")
  }

  test("boilerplate strip cuts shared chunks and preserves order") {
    val tiny = Seq(
      (0L, "a b c d"),
      (1L, "a b x y"),
      (2L, "u v a b w z")).toDF("doc_id", "text")
    val got = TextOps.stripBoilerplate(tiny, chunkWords = 2).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3))))
      .toMap
    // "a b" appears in all three docs → cut everywhere; survivors keep
    // their original order (middle cut in doc 2)
    assert(got(0L) === ((2L, 1L, "c d")))
    assert(got(1L) === ((2L, 1L, "x y")))
    assert(got(2L) === ((3L, 2L, "u v w z")))
    // a permissive df cap keeps everything, text round-trips
    val all = TextOps.stripBoilerplate(tiny, chunkWords = 2, maxDf = 3L)
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(all === Map(0L -> "a b c d", 1L -> "a b x y", 2L -> "u v a b w z"))
    // corpus: kept ≤ total, and a fully-unique doc round-trips its words
    val stats = TextOps.stripBoilerplate(docs).collect()
    assert(stats.length === docs.count())
    stats.foreach(r => assert(r.getLong(2) <= r.getLong(1)))
  }

  test("greedy merge fold equals the sequential reference on random words") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    // the fold is the subtle core of the BPE family — check it against
    // a plain sequential left-to-right merge on pair-dense random words
    def refMerge(word: String, p1: String, p2: String): Seq[String] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      word.foreach { ch =>
        val x = ch.toString
        if (out.nonEmpty && out.last == p1 && x == p2)
          out(out.length - 1) = out.last + x
        else out += x
      }
      out.toSeq
    }
    val wordGen = for {
      n <- Gen.choose(1, 12)
      cs <- Gen.listOfN(n, Gen.oneOf('a', 'b'))
    } yield cs.mkString
    val cases = (0 until 120).flatMap { i =>
      wordGen.apply(Gen.Parameters.default, Seed(i.toLong))
    } ++ Seq("a", "aa", "aaa", "aaaa", "abab", "aabb", "baaa")
    for ((p1, p2) <- Seq(("a", "a"), ("a", "b"), ("b", "a"))) {
      val df = cases.zipWithIndex.map { case (w, i) => (i.toLong, w) }
        .toDF("id", "word")
        .crossJoin(Seq((p1, p2)).toDF("p1", "p2"))
        .select(col("id"), col("word"), expr(
          """aggregate(
            |  slice(transform(sequence(1, length(word)), i -> substring(word, i, 1)),
            |        2, length(word) - 1),
            |  array(substring(word, 1, 1)),
            |  (acc, x) -> IF(element_at(acc, -1) = p1 AND x = p2,
            |    concat(slice(acc, 1, size(acc) - 1),
            |           array(concat(element_at(acc, -1), x))),
            |    concat(acc, array(x))))""".stripMargin).as("syms"))
      val got = df.collect()
        .map(r => r.getLong(0) -> r.getSeq[String](2).toSeq).toMap
      cases.zipWithIndex.foreach { case (w, i) =>
        assert(got(i.toLong) === refMerge(w, p1, p2),
          s"word=$w pair=($p1,$p2)")
      }
    }
  }

  test("BPE encode applies the learned rules and is bounded by chars and words") {
    // "aaab aa" trains rules (a,a),(a,b),(aa,ab) — see the trainer test —
    // under which aaab → [aaab] and aa → [aa]: 2 words, 2 BPE tokens
    val tiny = Seq((0L, "aaab aa")).toDF("doc_id", "text")
    val got = TextOps.bpeEncodeStats(tiny, 3).collect().head
    assert((got.getLong(1), got.getLong(2)) === ((2L, 2L)))
    // corpus: every doc's BPE token count sits between its word count
    // (full merges) and its character count (no merges)
    val stats = TextOps.bpeEncodeStats(docs, 3)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val chars = docs.select($"doc_id",
      aggregate(transform(TextOps.normWords($"text"), w => length(w).cast("long")),
        lit(0L), (a, x) => a + x).as("c"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    stats.foreach { case (id, (nw, nb)) =>
      assert(nw <= nb && nb <= chars(id),
        s"doc $id: words=$nw bpe=$nb chars=${chars(id)}")
    }
  }

  test("BPE single-expression rule replay matches a driver-side " +
    "reference encoder at k=8") {
    // the encode replays ALL rules in ONE nested-aggregate expression
    // (plan depth O(1) in k, the 100 TB shape) — pin its semantics at a
    // k beyond the hand-derived cases against an independent Scala
    // implementation of the same greedy left-to-right merge
    def refEncode(word: String, rules: Seq[(String, String)]): Seq[String] =
      rules.foldLeft(word.map(_.toString): Seq[String]) { case (syms, (p1, p2)) =>
        syms.tail.foldLeft(Seq(syms.head)) { (acc, x) =>
          if (acc.last == p1 && x == p2) acc.init :+ (acc.last + x)
          else acc :+ x
        }
      }
    val d = docs.limit(40)
    val k = 8
    val rules = TextOps.bpeTrain(d, k).orderBy("rule_no").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    assert(rules.length === k) // corpus is rich enough to learn all 8
    val words = d.select(explode(TextOps.normWords($"text")).as("w"))
      .filter($"w" =!= "").distinct().as[String].collect()
    val expected = words.map(w => w -> refEncode(w, rules).length).toMap
    // per-doc stats derive from the same per-word encode lengths
    val got = TextOps.bpeEncodeStats(d, k).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    val docWords = d.select($"doc_id", explode(TextOps.normWords($"text")).as("w"))
      .filter($"w" =!= "").collect()
      .groupBy(_.getLong(0)).map { case (id, rs) =>
        id -> rs.map(r => expected(r.getString(1)).toLong).sum
      }
    docWords.foreach { case (id, nb) =>
      assert(got(id) === nb, s"doc $id")
    }
  }

  test("stored tokenizer: frozen artifact encodes bit-identically, " +
    "surfaces UNK on drifted input, trips the retrain signal") {
    val path = java.nio.file.Files.createTempDirectory("graft_tok").toString
    val build = docs.limit(40)
    TextOps.buildTokenizer(build, 4, path)
    // on the build corpus the stored encode IS the inline encode (plus
    // a zero UNK count) — frozen rules/ids equal the inline derivation
    val stored = TextOps.bpeEncodeIdsStored(spark, build, path)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val inline = TextOps.bpeEncodeIds(build, 4).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(stored.map(t => (t._1, t._2, t._4)).toSeq === inline.toSeq)
    assert(stored.forall(_._3 === 0L), "build corpus has no UNKs")
    assert(TextOps.tokenizerUnkRate(spark, build, path) === 0.0)
    assert(!TextOps.shouldRetrainTokenizer(spark, build, path))
    // drifted input: digits never occurred in the build corpus (the
    // letter-only docs), so every digit symbol is UNK (id -1), counted,
    // never dropped — the signature still covers the full stream
    val letteronly = Seq((900L, "alpha beta")).toDF("doc_id", "text")
    TextOps.buildTokenizer(letteronly, 2, path + "2")
    val drifted = Seq((901L, "alpha 77 beta")).toDF("doc_id", "text")
    val d = TextOps.bpeEncodeIdsStored(spark, drifted, path + "2").head()
    assert(d.getLong(2) === 2L, "both digit symbols must count as UNK")
    assert(d.getLong(1) >= d.getLong(2), "UNKs are part of the stream")
    val rate = TextOps.tokenizerUnkRate(spark, drifted, path + "2")
    assert(rate > 0.0 && rate < 1.0)
    assert(TextOps.shouldRetrainTokenizer(spark, drifted, path + "2",
      threshold = 0.01), "2 UNK symbols must trip a 1% threshold")
    assert(!TextOps.shouldRetrainTokenizer(spark, drifted, path + "2",
      threshold = 0.9), "threshold is the caller's knob")
    // retraining REPUBLISHES behind the atomic pointer: rules and ids
    // switch together, a reader never sees a mixed or missing artifact
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(path + "2", "_CURRENT")))
    TextOps.buildTokenizer(drifted, 1, path + "2") // the "retrain"
    assert(java.nio.file.Files.readString(
      java.nio.file.Paths.get(path + "2", "_CURRENT")).trim === "1")
    assert(TextOps.tokenizerUnkRate(spark, drifted, path + "2") === 0.0,
      "readers must see the republished artifact")
  }

  test("from-view trainer: no corpus pass, inline-identical, and the " +
    "memo invalidates when the view absorbs") {
    val view = java.nio.file.Files.createTempDirectory("graft_tvv").toString
    val tok = java.nio.file.Files.createTempDirectory("graft_tvt").toString
    val d = docs.limit(40)
    // view covering the corpus via build + merge (the distributivity
    // contract) — the trainer over it must equal the inline trainer
    TextOps.buildVocabIndex(d.filter($"doc_id" % 2 === 0), view)
    TextOps.mergeVocabIndex(d.filter($"doc_id" % 2 =!= 0), view)
    def rules(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("rule_no").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2),
          r.getLong(3))).toSeq
    assert(rules(TextOps.bpeTrainFromVocab(spark, view, 4))
      === rules(TextOps.bpeTrain(d, 4)))
    // the full no-corpus-pass refresh: tokenizer built FROM the view
    // encodes identically to the inline artifact
    TextOps.buildTokenizerFromView(spark, view, 4, tok)
    val stored = TextOps.bpeEncodeIdsStored(spark, d, tok)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val inline = TextOps.bpeEncodeIds(d, 4).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(stored.map(t => (t._1, t._2, t._4)).toSeq === inline.toSeq)
    assert(stored.forall(_._3 === 0L))
    // memo invalidation: an absorb changes the view's content signature,
    // so the next training run sees the NEW counts (a path-keyed memo
    // would serve the stale rules)
    val before = rules(TextOps.bpeTrainFromVocab(spark, view, 1))
    val skew = Seq.tabulate(80)(i =>
      (5000L + i, "zq zq zq zq zq zq zq zq")).toDF("doc_id", "text")
    TextOps.mergeVocabIndex(skew, view)
    val after = rules(TextOps.bpeTrainFromVocab(spark, view, 1))
    assert(after.head._2 === "z" && after.head._3 === "q",
      s"the dominant pair after the absorb must win, got $after")
    assert(before !== after)
  }

  test("source KL: zero on itself, ln 2 on a disjoint half-half mixture") {
    // one source == the corpus → every term ln(1) = 0
    val one = Seq((0L, "x y z", "s1"), (1L, "x y", "s1"))
      .toDF("doc_id", "text", "source")
    val k1 = TextOps.sourceKl(one).collect()
    assert(k1.length === 1 && k1.head.getDouble(3) === 0.0)
    // two disjoint equal-mass sources: each is 2× its corpus prob
    // everywhere → KL = ln 2 for both
    val two = Seq((0L, "a a a", "sa"), (1L, "b b b", "sb"))
      .toDF("doc_id", "text", "source")
    val k2 = TextOps.sourceKl(two).collect()
      .map(r => r.getString(0) -> r.getDouble(3)).toMap
    val ln2 = BigDecimal(math.log(2))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(k2 === Map("sa" -> ln2, "sb" -> ln2))
    // real corpus: KL is non-negative up to per-term 6-dp rounding, and
    // token/word counts are exact
    val k = TextOps.sourceKl(docs).collect()
    assert(k.forall(_.getDouble(3) > -0.001))
    val direct = docs
      .select($"source", explode(TextOps.normWords($"text")).as("w"))
      .filter($"w" =!= "").groupBy($"source")
      .agg(count(lit(1)).as("n"), countDistinct($"w").as("d"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    k.foreach { r =>
      assert((r.getLong(1), r.getLong(2)) === direct(r.getString(0)))
    }
  }

  test("bigram LM score matches a hand-computed interpolation") {
    // corpus: "a b", "a b", "a c" → unigrams a:3 b:2 c:1 (N=6);
    // bigrams (a,b):2 (a,c):1, cp(a)=3
    val tiny = Seq((0L, "a b"), (1L, "a b"), (2L, "a c"))
      .toDF("doc_id", "text")
    val got = TextOps.lmBigramScore(tiny, 0.7).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    def r6(x: Double): BigDecimal =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP)
    val lam = 0.7; val uni = 1.0 - lam
    def score(terms: Seq[Double]): Double =
      (terms.map(r6).sum / terms.length)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val ab = score(Seq(math.log(3.0 / 6),
      math.log(lam * (2.0 / 3) + uni * (2.0 / 6))))
    val ac = score(Seq(math.log(3.0 / 6),
      math.log(lam * (1.0 / 3) + uni * (1.0 / 6))))
    assert(got === Map(0L -> ((2L, ab)), 1L -> ((2L, ab)), 2L -> ((2L, ac))))
    // the shared-context doc pair scores identically; the rarer
    // continuation scores lower
    assert(ab > ac)
    // corpus: every doc appears once with exact token counts
    val full = TextOps.lmBigramScore(docs).collect()
    assert(full.length === docs.count())
    assert(full.forall(_.getDouble(2) < 0))
    val nTok = docs.select($"doc_id",
      size(TextOps.normWords($"text")).cast("long").as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    full.foreach(r => assert(r.getLong(1) === nTok(r.getLong(0))))
  }

  test("quality-dup calibration partitions the corpus exactly") {
    val cal = graft.ops.Curation.qualityDupCalibration(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    // deciles are 0..9, docs partition exactly, dup_rate is the ratio
    assert(cal.forall { case (d, _, _, _) => d >= 0 && d <= 9 })
    assert(cal.map(_._2).sum === docs.count())
    cal.foreach { case (_, n, dups, rate) =>
      assert(dups <= n)
      assert(rate === dups.toDouble / n)
    }
    // total duplicates = docs minus distinct fingerprint groups
    val distinctFp = TextOps.fingerprint(docs)
      .select("fingerprint").distinct().count()
    assert(cal.map(_._3).sum === docs.count() - distinctFp)
  }

  test("data card partitions the corpus with consistent rates and shares") {
    val card = graft.ops.Curation.dataCard(docs).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(4),
        r.getDouble(5), r.getDouble(6), r.getDouble(7)))
    // every language accounted for, docs partition exactly
    assert(card.map(_._2).sum === docs.count())
    // token shares are exact single divisions that re-sum to ~1
    val tt = card.map(_._3).sum
    card.foreach { case (_, _, nt, share, dr, qr, pr) =>
      assert(share === nt.toDouble / tt)
      Seq(dr, qr, pr).foreach(x => assert(x >= 0.0 && x <= 1.0))
    }
    // dup mass matches the fingerprint-group arithmetic
    val distinctFp = TextOps.fingerprint(docs)
      .select("fingerprint").distinct().count()
    val nDups = card.map { case (_, n, _, _, dr, _, _) =>
      math.round(dr * n) }.sum
    assert(nDups === docs.count() - distinctFp)
    // planted corpus: one dup pair, one PII doc, rates come out exact
    val tiny = Seq(
      (0L, "alpha beta gamma delta epsilon common words", "en"),
      (1L, "alpha beta gamma delta epsilon common words", "en"),
      (2L, "reach me at bob@example.com for details", "en"),
      (3L, "totally distinct content over here", "fr"))
      .toDF("doc_id", "text", "lang")
    val t = graft.ops.Curation.dataCard(tiny).collect()
      .map(r => r.getString(0) -> ((r.getDouble(5), r.getDouble(7)))).toMap
    assert(t("en")._1 === 1.0 / 3)   // one non-survivor of three en docs
    assert(t("en")._2 === 1.0 / 3)   // one PII doc of three
    assert(t("fr") === ((0.0, 0.0)))
  }

  test("IVF recall report: exhaustive at k=1 cell, bounded and consistent at 8") {
    val emb = Tables.embeddings(spark, sfDir)
    val queries = emb.filter($"vec_id" % 10 === 0)
    // one cell = exhaustive probe = brute force → recall exactly 1.0
    val exhaustive = SimilarityOps.ivfRecallReport(emb, queries, 10, km = 1)
      .collect()
    assert(exhaustive.nonEmpty)
    exhaustive.foreach { r =>
      assert(r.getLong(1) === 10L)
      assert(r.getDouble(2) === 1.0)
    }
    // 8 cells: one row per query, recall = n_hits/k in [0,1]
    val report = SimilarityOps.ivfRecallReport(emb, queries, 10, km = 8)
      .collect()
    assert(report.length === queries.count())
    report.foreach { r =>
      assert(r.getLong(1) >= 0L && r.getLong(1) <= 10L)
      assert(r.getDouble(2) === r.getLong(1).toDouble / 10)
    }
  }

  test("semdedup: rank-first survives and the drop rule matches a driver replay") {
    val emb = Tables.embeddings(spark, sfDir)
    val out = SimilarityOps.semDedup(emb, 8, 2, 0.35).collect()
    assert(out.length === emb.count())
    val vecs = emb.select($"vec_id",
        SimilarityOps.asDoubleVec($"embedding").as("v"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def dot(x: Array[Double], y: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < x.length) { s += x(i) * y(i); i += 1 }; s
    }
    def cos6(a: Array[Double], b: Array[Double]): Double =
      BigDecimal(dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b))))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    out.groupBy(_.getLong(1)).foreach { case (_, members) =>
      val ranked = members.sortBy(r => (r.getDouble(2), r.getLong(0)))
      assert(ranked.head.getBoolean(3), "rank-first member must survive")
      // kept iff NO earlier-ranked member (kept or dropped) is within τ —
      // the paper's upper-triangular max over the centroid-similarity rank
      ranked.zipWithIndex.foreach { case (r, i) =>
        val shadowed = ranked.take(i).exists(p =>
          cos6(vecs(p.getLong(0)), vecs(r.getLong(0))) >= 0.35)
        assert(r.getBoolean(3) === !shadowed)
      }
    }
    // τ below every cosine → exactly one survivor per non-empty cluster
    val all = SimilarityOps.semDedup(emb, 8, 2, -2.0).collect()
    assert(all.count(_.getBoolean(3)) === all.map(_.getLong(1)).distinct.length)
  }

  test("rrfFuse: single-ranker docs contribute one term, ties break on doc_id") {
    // q=1: doc 10 is rank 1 in BOTH rankings (1/61+1/61); doc 20 is
    // rank 2 lexically only (1/62); doc 30 rank 2 vector-only (1/62) —
    // equal fused scores, so doc_id breaks the tie; doc 40 rank 3
    // lexically only falls below.
    val lex = Seq((1L, 10L, 1), (1L, 20L, 2), (1L, 40L, 3))
      .toDF("q_id", "doc_id", "rank")
    val vec = Seq((1L, 10L, 1), (1L, 30L, 2))
      .toDF("q_id", "doc_id", "rank")
    val fused = SimilarityOps.rrfFuse(Seq(lex, vec), topK = 3)
      .orderBy(desc("rrf"), $"doc_id").collect()
    assert(fused.map(_.getLong(1)).toSeq === Seq(10L, 20L, 30L))
    val exp10 = BigDecimal(1.0 / 61 + 1.0 / 61)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val exp20 = BigDecimal(1.0 / 62)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(fused(0).getDouble(2) === exp10)
    assert(fused(1).getDouble(2) === exp20)
    assert(fused(2).getDouble(2) === exp20) // same score, doc_id ordered
    // topK cuts per query, not globally
    val multi = SimilarityOps.rrfFuse(
      Seq(Seq((1L, 10L, 1), (2L, 11L, 1), (2L, 12L, 2))
        .toDF("q_id", "doc_id", "rank")), topK = 1).collect()
    assert(multi.map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq ===
      Seq((1L, 10L), (2L, 11L)))
  }
  test("batched PQ training is bit-identical to the per-slice trainings") {
    // The batch path (one posexploded small-plan job per Lloyd round,
    // centroid state as a literal matrix) must reproduce the per-slice
    // kmeansCentroids EXACTLY — same seeds, same assignment tie-breaks,
    // same DECIMAL means. Compare against per-slice trainings over a
    // VALUE-identical but PLAN-distinct frame (two unioned halves), so
    // the per-slice calls cannot memo-hit the batch's keys and both
    // sides genuinely compute.
    val n = 48; val dims = 8; val m = 4; val subDim = dims / m
    val rows = Seq.tabulate(n) { i =>
      (i.toLong, Seq.tabulate(dims)(d =>
        math.sin(i * 1.7 + d * 0.9) * 10.0 + (if (i % 7 == 0) 5.0 else 0.0)))
    }
    val e = rows.toDF("vec_id", "v")
    val e2 = rows.filter(_._1 % 2 == 0).toDF("vec_id", "v")
      .unionByName(rows.filter(_._1 % 2 == 1).toDF("vec_id", "v"))
    val batch = SimilarityOps.kmeansCentroidsBatch(e, m, subDim, 4, 3)
    val perSlice = SimilarityOps.pqSlices(e2, m, subDim)
      .map(sl => SimilarityOps.kmeansCentroids(sl, 4, 3))
    assert(batch.size === m)
    assert(batch === perSlice) // exact — doubles compared bit-for-bit
  }

  test("training locks are evicted once their training ends; identical " +
    "concurrent trainings still run once") {
    import java.util.concurrent.atomic.AtomicInteger
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    implicit val ec: ExecutionContext = ExecutionContext.global
    // the lock protocol kmeansCentroids uses, over a counting memo: the
    // second identical caller blocks on the first, then memo-hits
    val memo = scala.collection.concurrent.TrieMap.empty[String, Int]
    val runs = Map("a" -> new AtomicInteger, "b" -> new AtomicInteger)
    def train(key: String): Int = memo.getOrElse(key,
      SimilarityOps.trainingLock(key) {
        memo.getOrElseUpdate(key, {
          runs(key).incrementAndGet(); Thread.sleep(500); key.length })
      })
    Seq("a", "a", "b").map(k => Future(train(k)))
      .foreach(Await.result(_, 1.minute))
    assert(runs.view.mapValues(_.get).toMap === Map("a" -> 1, "b" -> 1),
      "each memo must be trained once")
    assert(SimilarityOps.trainingLocks.isEmpty)
    // and the real training path leaves no entry behind either
    val vecs = Seq.tabulate(24)(i =>
      (i.toLong, Seq(math.sin(i * 1.3), math.cos(i * 0.7)))).toDF("vec_id", "v")
    val got = Seq(2, 2, 3).map(k =>
      Future(SimilarityOps.kmeansCentroids(vecs, k, 2)))
      .map(Await.result(_, 5.minutes))
    assert(got(0) === got(1))
    assert(SimilarityOps.trainingLocks.isEmpty)
  }

}
