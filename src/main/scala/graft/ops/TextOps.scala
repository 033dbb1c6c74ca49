package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.engine.{Caches, Compaction}

/** Text-analysis operators for large-scale training-data pipelines:
  * tokenization stats, document fingerprinting, quality scoring, and
  * n-gram-heuristic language ID. All are single-pass narrow projections
  * (no shuffle) built from codegen'd builtins and higher-order functions,
  * so they stream through a 100 TB corpus at scan speed.
  *
  * Numeric policy: ratios divide exact integer counts cast to double —
  * deterministic, no float-sum ordering hazards.
  */
object TextOps {

  /** Normalized word array: lowercase, strip non-alphanumerics, split on
    * whitespace runs. Same semantics as DuckDB
    * `string_split_regex(trim(regexp_replace(lower(t),'[^a-z0-9 ]',' ','g')),' +')`,
    * executed by the codegen'd byte-scan kernel
    * [[graft.functions.TextKernels]] (bit-identical to the regex
    * pipeline [[normWordsRegex]] — asserted in OpsSpec — at a fraction
    * of the scan cost). */
  def normWords(text: Column): Column =
    call_function("graft_norm_words", text)

  /** The regex formulation of [[normWords]] — the semantic reference the
    * kernel is tested against (and the fallback for sessions without the
    * graft function registrations). */
  def normWordsRegex(text: Column): Column =
    split(trim(regexp_replace(lower(text), "[^a-z0-9 ]", " ")), " +")

  /** Distinct word n-gram shingles of a word array (empty below n words). */
  def shingles(words: Column, n: Int): Column =
    when(size(words) >= n,
      array_distinct(transform(sequence(lit(1), size(words) - (n - 1)),
        i => concat_ws(" ", slice(words, i, lit(n))))))
      .otherwise(array().cast("array<string>"))

  /** Token-counting: whitespace tokens, alphabetic regex tokens, chars. */
  /** BPE-style pre-tokenizer pattern (the GPT-2 shape, ASCII-reduced so
    * Java regex and RE2 agree): an optional leading space glued to a
    * letter run, digit run, or punctuation run — the segmentation BPE
    * merges start from, so its match count approximates BPE token count
    * without a vocabulary. */
  val bpeishPattern = " ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ]+"

  def tokenStats(docs: DataFrame): DataFrame = {
    // true whitespace tokens: runs of any whitespace separate, edges
    // trimmed, empty text counts 0 — split(text, " ") would count a
    // phantom token per extra space and treat tabs/newlines as token
    // characters, systematically inflating the published stat on any
    // irregularly-spaced text
    val wsTrimmed = regexp_replace(col("text"), "^\\s+|\\s+$", "")
    docs.select(
      col("doc_id"),
      when(wsTrimmed === "", lit(0L))
        .otherwise(size(split(wsTrimmed, "\\s+")).cast("long"))
        .as("n_ws_tokens"),
      size(regexp_extract_all(lower(col("text")), lit("[a-z]+"), lit(0)))
        .cast("long").as("n_alpha_tokens"),
      size(regexp_extract_all(lower(col("text")), lit(bpeishPattern), lit(0)))
        .cast("long").as("n_bpeish_tokens"),
      length(col("text")).cast("long").as("n_chars_calc"))
  }

  /** Overlapping sliding-window chunking (RAG / training-example prep):
    * each document becomes `ceil(max(0, n−size)/stride) + 1` chunks of up
    * to `size` words starting every `stride` words, so consecutive
    * chunks overlap by `size − stride` words and the final chunk always
    * reaches the last word. Pure per-row projection (sequence →
    * transform → slice on the word array) — no shuffle, no state; chunk
    * counts scale with the corpus linearly. */
  def chunkDocs(docs: DataFrame, size: Int = 64, stride: Int = 48): DataFrame = {
    require(size > 0 && stride > 0 && stride <= size,
      s"chunkDocs: need 0 < stride <= size (got size=$size stride=$stride)")
    docs
      .select(col("doc_id"), normWords(col("text")).as("w"))
      .select(col("doc_id"), org.apache.spark.sql.functions.size(col("w")).as("n"),
        posexplode(expr(
          s"""transform(
             |  sequence(0, greatest(0, cast(ceil((size(w) - $size) / cast($stride as double)) as int))),
             |  i -> concat_ws(' ', slice(w, i * $stride + 1, $size)))""".stripMargin))
          .as(Seq("chunk_no", "chunk")))
      .select(col("doc_id"), col("chunk_no").cast("long").as("chunk_no"),
        col("chunk"),
        least(lit(size), col("n") - col("chunk_no") * stride)
          .cast("long").as("n_tokens"))
  }

  /** Frequent-words SKETCH check — the bounded-state path for the vocab
    * top-k, completing the engine's mergeable-sketch family (HLL for
    * distinct counts, approx_percentile for quantiles, approx_top_k for
    * frequent items): at 100 TB the exact word-count state is
    * vocabulary-sized, while the sketch is O(maxTracked) per partition
    * and merges associatively. Verified the approx_distinct_users way —
    * deterministic rows are the EXACT top-k, and `sketch_ok` reports
    * whether the sketch's count for each lands within `tolerance` (the
    * oracle emits literal true, so a drifting sketch hash-fails). */
  def vocabApproxTopK(docs: DataFrame, k: Int = 20,
                      tolerance: Double = 0.02,
                      maxTracked: Int = 100000): DataFrame = {
    val words = docs.select(explode(normWords(col("text"))).as("word"))
      .filter(col("word") =!= "")
    val sk = words.agg(expr(s"approx_top_k(word, $k, $maxTracked)").as("sk"))
      .select(explode(col("sk")).as("e"))
      .select(col("e.item").as("word"), col("e.count").as("approx_tf"))
    vocabTopK(docs, k).select("word", "tf")
      .join(sk, Seq("word"), "left")
      .select(col("word"), col("tf"),
        (abs(coalesce(col("approx_tf"), lit(0L)) - col("tf")).cast("double")
          / col("tf") <= tolerance).as("sketch_ok"))
      .orderBy(col("tf").desc, col("word"))
  }

  /** Corpus vocabulary extraction (tokenizer-training prep): every
    * normalized word with its total term frequency and document
    * frequency, top-K by frequency. Two shuffles, both with map-side
    * partial aggregation: (doc_id, word) compresses each task's exploded
    * word stream to per-doc counts, then word-level Σtf + df — the df
    * count is a plain `count(*)` over the per-doc rows, never a
    * `count_distinct` carrying doc ids across the wire. The top-K lands
    * as TakeOrderedAndProject (per-partition heaps, no global sort), so
    * the op's cost at 100 TB is the word-count shuffle and nothing else. */
  def vocabTopK(docs: DataFrame, topK: Int = 100): DataFrame =
    docWordCounts(docs).groupBy("word")
      .agg(sum("tf").as("tf"), count(lit(1)).as("df"))
      .orderBy(col("tf").desc, col("word"))
      .limit(topK)

  /** The per-(doc, word) count table [[lmScore]] and [[vocabTopK]]
    * share — ONE definition, cached, so both queries resolve to the
    * same entry. (Through r20 the two hand-built plans happened to
    * canonicalize identically and vocab_topk silently rode lmScore's
    * cache; r21's kernelSpread inside lmScore broke that accidental
    * match and vocab_topk re-tokenized the corpus every run — the
    * r21 verdict's unexplained 0.23 → 0.43 s regression. A shared
    * helper makes the reuse structural instead of coincidental.) */
  private[graft] def docWordCounts(docs: DataFrame): DataFrame =
    Caches.ensureCached(
      graft.engine.Tables.kernelSpread(docs, "doc_id")
        .select(col("doc_id"), explode(normWords(col("text"))).as("word"))
        .filter(col("word") =!= "")
        .groupBy("doc_id", "word").agg(count(lit(1)).as("tf")))

  /** Unigram-LM document scoring — the CCNet-style LM quality filter
    * (Wenzek et al. 2020) with the corpus itself as the language model:
    * a document's score is the average log-probability of its tokens
    * under the corpus unigram distribution, so boilerplate-heavy and
    * in-distribution text scores high while gibberish, rare-token spam,
    * and off-language text score low — the standard companion signal to
    * the heuristic quality gate (a real pipeline scores with a held-out
    * LM; the estimator pipeline is identical).
    *
    * Shape: per-(doc, word) counts (map-side combined), a word-level
    * re-aggregation for corpus term frequencies, one scalar total
    * (broadcast one-row join), then per-doc weighted sums accumulated in
    * DECIMAL over 6-dp-rounded log-probs — order-independent, so scores
    * hash-match the oracle. The words↔log-prob join shuffles by word;
    * stopword keys are hot, which is exactly the skew class AQE's
    * skew-join split handles (the build side is one row per word), and
    * a df-capped vocabulary can be broadcast outright. Both corpus
    * passes share one cached per-doc count table. */
  def lmScore(docs: DataFrame): DataFrame = {
    val perDoc = docWordCounts(docs)
    val vocab = perDoc.groupBy("word").agg(sum("tf").as("ctf"))
    val total = vocab.agg(sum("ctf").cast("double").as("n"))
    val logp = vocab.crossJoin(broadcast(total))
      .select(col("word"),
        round(log(col("ctf").cast("double") / col("n")), 6).as("logp"))
    perDoc.join(logp, "word")
      .groupBy("doc_id")
      .agg(sum("tf").cast("long").as("n_tokens"),
        round(sum(col("logp").cast("decimal(20,6)") * col("tf")).cast("double")
          / sum("tf"), 6).as("avg_logp"))
  }

  /** BPE tokenizer training, step 1: adjacent symbol-pair counts. With
    * characters as the initial symbols, the count of every within-word
    * adjacent character pair — weighted by word frequency — is the table
    * whose argmax is BPE's first merge (Sennrich et al. 2016). The
    * corpus-proportional cost is ONE word-count shuffle (map-side
    * combined); the pair explosion then runs over the DISTINCT-word
    * vocabulary — orders of magnitude smaller than the corpus — so
    * successive merge iterations at 100 TB re-scan only the vocab table,
    * never the text. Top-K lands as TakeOrderedAndProject (per-partition
    * heaps). Overlapping pairs count per occurrence ("aaa" → "aa"×2),
    * matching the canonical BPE counting. */
  def bpePairCounts(docs: DataFrame, topK: Int = 30): DataFrame =
    bpePairCountsOf(bpeVocab(docs), topK)

  /** The word→tf vocabulary table both BPE steps share (cached: the
    * corpus is scanned once; everything after runs over distinct words). */
  private def bpeVocab(docs: DataFrame): DataFrame =
    Caches.ensureCached(
      docs.select(explode(normWords(col("text"))).as("word"))
        .filter(col("word") =!= "")
        .groupBy("word").agg(count(lit(1)).as("tf")))

  private def bpePairCountsOf(vocab: DataFrame, topK: Int): DataFrame =
    vocab
      .filter(length(col("word")) >= 2)
      .select(col("tf"), explode(expr(
        "transform(sequence(1, length(word) - 1), i -> substring(word, i, 2))"))
        .as("pair"))
      .groupBy("pair").agg(sum("tf").as("cnt"))
      .orderBy(col("cnt").desc, col("pair"))
      .limit(topK)

  /** [[bpePairCounts]] over the STORED vocabulary view — the production
    * shape of the BPE merge loop: training reads the materialized
    * word counts (maintained incrementally by the absorb/retract
    * stream), so every merge iteration at 100 TB is O(view) with NO
    * corpus access at all. Bit-identical to the inline step when the
    * view covers the corpus (the vocab view's distributivity); the
    * negative-net guard is the view read's, via the same re-sum. */
  def bpePairCountsStored(spark: org.apache.spark.sql.SparkSession,
                          path: String, topK: Int = 30): DataFrame =
    bpePairCountsOf(storedVocab(spark, path), topK)

  /** The (word, tf) vocabulary as the STORED VIEW answers it: re-summed
    * partials with the negative-net retraction guard. Every from-view
    * training path shares this read. */
  private def storedVocab(spark: org.apache.spark.sql.SparkSession,
                          path: String): DataFrame =
    vocabView(spark, path)
      .groupBy("word").agg(sum("tf").as("tf"))
      .withColumn("_ok", when(col("tf") >= 0L, lit(true))
        .otherwise(raise_error(concat(
          lit("vocab view: word '"), col("word"),
          lit("' netted negative counts — retraction without a matching absorb")))))
      .filter(col("_ok") && col("tf") > 0L).drop("_ok")

  /** BPE tokenizer training, step 2: APPLY the argmax merge of
    * [[bpePairCounts]] and recount — one real iteration of the merge
    * loop, so composing this op k times trains a k-rule BPE vocabulary.
    * The merge is the canonical greedy left-to-right pass, expressed as
    * a fold over each word's symbol array: the pair (p1,p2) merges
    * wherever the accumulator's LAST symbol is exactly p1 and the next
    * is p2 — a freshly merged symbol is "p1p2", never p1, so it cannot
    * chain within the same rule, and runs like "aaa" merge to ["aa","a"]
    * exactly as sequential BPE does. Post-merge symbols are multi-char,
    * so recounted pairs join on a space. Everything after the (shared,
    * cached) word-count shuffle runs over the distinct-word vocabulary;
    * the argmax pair arrives as a 1-row broadcast — at 100 TB each merge
    * iteration is a vocab-table pass, not a corpus scan. */
  def bpeMergeStep(docs: DataFrame, topK: Int = 30): DataFrame = {
    val vocab = bpeVocab(docs)
    val top = bpePairCountsOf(vocab, 1)
      .select(substring(col("pair"), 1, 1).as("p1"),
        substring(col("pair"), 2, 1).as("p2"))
    val merged = vocab.crossJoin(broadcast(top))
      .withColumn("cs", expr(
        "transform(sequence(1, length(word)), i -> substring(word, i, 1))"))
      .withColumn("syms", expr(
        """aggregate(
          |  slice(cs, 2, size(cs) - 1),
          |  array(element_at(cs, 1)),
          |  (acc, x) -> IF(element_at(acc, -1) = p1 AND x = p2,
          |    concat(slice(acc, 1, size(acc) - 1),
          |           array(concat(element_at(acc, -1), x))),
          |    concat(acc, array(x))))""".stripMargin))
    merged
      .filter(size(col("syms")) >= 2)
      .select(col("tf"), explode(expr(
        """transform(sequence(1, size(syms) - 1),
          |  i -> concat(element_at(syms, i), ' ', element_at(syms, i + 1)))"""
          .stripMargin)).as("pair"))
      .groupBy("pair").agg(sum("tf").as("cnt"))
      .orderBy(col("cnt").desc, col("pair"))
      .limit(topK)
  }

  /** Per-source distribution drift: KL(P_source ‖ P_corpus) over unigram
    * word distributions — the standard corpus-quality dashboard number
    * for spotting a source whose text stopped looking like the mixture
    * it feeds (scraper drift, language shift, template spam). Every
    * source word is in the corpus by construction, so no zero-probability
    * smoothing is needed. Per-word terms are 6-dp-rounded then
    * DECIMAL-summed (order-independent, the cross-engine parity rule);
    * the corpus total is a 1-row broadcast; the word join is the same
    * AQE-skew class as [[lmScore]]'s. */
  def sourceKl(docs: DataFrame): DataFrame = {
    val perSrc = Caches.ensureCached(
      docs.select(col("source"), explode(normWords(col("text"))).as("word"))
        .filter(col("word") =!= "")
        .groupBy("source", "word").agg(count(lit(1)).as("tf")))
    val srcTot = perSrc.groupBy("source").agg(sum("tf").as("ns"))
    val corpus = perSrc.groupBy("word").agg(sum("tf").as("ctf"))
    val tot = corpus.agg(sum("ctf").cast("double").as("n"))
    val ps = col("tf").cast("double") / col("ns")
    val pc = col("ctf").cast("double") / col("n")
    perSrc.join(srcTot, "source").join(corpus, "word")
      .crossJoin(broadcast(tot))
      .select(col("source"), col("tf"), col("ns"),
        round(ps * log(ps / pc), 6).cast("decimal(20,6)").as("term"))
      .groupBy("source")
      .agg(max(col("ns")).cast("long").as("n_tokens"),
        count(lit(1)).as("n_words"),
        sum(col("term")).cast("double").as("kl"))
  }

  /** BPE tokenizer TRAINING — the full merge loop: `rules` iterations of
    * (count adjacent symbol pairs over the vocabulary → take the argmax
    * → apply the merge greedily left-to-right), returning the learned
    * rule table (rule_no, p1, p2, cnt) — the artifact a tokenizer ships.
    * Symbols start as characters and grow by concatenation, so later
    * rules merge multi-char symbols (pairs are (a, b) columns, not
    * substrings). The argmax tie-breaks (cnt desc, a, b) — total order,
    * engine-portable. Control flow is the [[SimilarityOps.kmeansCentroids]]
    * shape: per iteration ONE bounded driver collect (the 1-row argmax)
    * steers the next distributed pass; everything data-sized stays in
    * DataFrames, and every pass after the shared word-count shuffle is
    * vocab-sized. The oracle unrolls the identical loop as a CTE chain,
    * like the k-means replays. Stops early if no pair remains. */
  def bpeTrain(docs: DataFrame, rules: Int = 3): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // memoized per (session, corpus plan, k): training is a driver-
    // steered loop of k argmax collects, and three queries (train,
    // encode-stats, encode-ids) share the same rule table — the
    // kmeansCentroids memo shape
    val key = (Caches.sessionId(spark), Caches.planKey(docs), rules)
    bpeTrainMemo.getOrElseUpdate(key, bpeTrainUncached(docs, rules))
      .toDF("rule_no", "p1", "p2", "cnt")
  }

  /** [[bpeTrain]] over the STORED VOCABULARY VIEW — the production
    * trainer: the merge loop's word counts come from the incrementally
    * maintained view (absorbed/retracted by the stream), so training a
    * tokenizer at 100 TB touches NO corpus data at all — every round is
    * O(view). Bit-identical to the inline trainer when the view covers
    * the corpus (the view's distributivity, same contract as
    * [[bpePairCountsStored]]). Memoized per (session, view content
    * signature, k): the signature covers the resolved counts dir's file
    * listing, so an absorb between calls invalidates the memo — a path
    * string alone would serve stale rules. */
  def bpeTrainFromVocab(spark: org.apache.spark.sql.SparkSession,
                        viewPath: String, rules: Int = 3): DataFrame = {
    val spark0 = spark
    import spark0.implicits._
    // the FULL signature string rides in the key's string component (a
    // 32-bit hashCode of it could collide across two view states and
    // silently serve a stale rule table); the `|view:` namespace keeps
    // it disjoint from inline-corpus plan keys in the shared
    // memo, and the key stays control-plane tiny (one file listing)
    val key = (Caches.sessionId(spark) +
      s"|view:$viewPath|sig:${countsSignature(viewPath)}", "view", rules)
    bpeTrainMemo.getOrElseUpdate(key,
      bpeTrainLoop(storedVocab(spark, viewPath), rules))
      .toDF("rule_no", "p1", "p2", "cnt")
  }

  /** [[buildTokenizer]] from the stored view: rules AND the id
    * vocabulary derive from the view's word counts — the complete
    * no-corpus-pass tokenizer refresh a drifted [[shouldRetrainTokenizer]]
    * signal triggers. */
  def buildTokenizerFromView(spark: org.apache.spark.sql.SparkSession,
                             viewPath: String, rules: Int,
                             tokPath: String): Unit = {
    val trained = bpeTrainFromVocab(spark, viewPath, rules)
    publishArtifact(tokPath) { dir =>
      trained.coalesce(1).write.parquet(s"$dir/rules")
      bpeIdTableOf(storedVocab(spark, viewPath), collectRules(trained))
        .coalesce(1).write.parquet(s"$dir/ids")
    }
  }

  /** Content signature of the view's resolved counts dir (file name,
    * size, mtime — the [[SimilarityOps]] control-plane-memo rule):
    * changes whenever an absorb/retract/compaction lands. */
  private def countsSignature(viewPath: String): String =
    // delegate to the ONE listing-signature implementation — the copy
    // this replaces had dropped its IOException containment, so a
    // compaction tick racing the Files.exists probe threw out of
    // bpeTrainFromVocab instead of yielding the "<missing>" sentinel
    SimilarityOps.dirSignature(
      graft.engine.Compaction.resolve(s"$viewPath/counts"))

  private val bpeTrainMemo = graft.engine.Caches
    .sessionMemo[(String, String, Int), Seq[(Long, String, String, Long)]]()

  private def bpeTrainUncached(docs: DataFrame,
                               rules: Int): Seq[(Long, String, String, Long)] =
    bpeTrainLoop(bpeVocab(docs), rules)

  /** The full k-rule merge loop over an EXPLICIT (word, tf) vocabulary —
    * the engine of [[bpeTrain]] (inline: the corpus's own vocab) and
    * [[bpeTrainFromVocab]] (production: the incrementally-maintained
    * stored view, NO corpus pass at all). */
  private def bpeTrainLoop(vocab: DataFrame,
                           rules: Int): Seq[(Long, String, String, Long)] = {
    val spark = vocab.sparkSession
    import spark.implicits._
    // probe-then-fold, as in the encode replay: most words don't
    // contain the round's pair, and the `exists` probe rejects them
    // with an allocation-free scan instead of rebuilding their array
    val mergeFold = expr(
      """IF(size(syms) < 2, syms,
        |  IF(NOT exists(sequence(1, size(syms) - 1),
        |       i -> element_at(syms, i) = p1
        |            AND element_at(syms, i + 1) = p2),
        |    syms,
        |    aggregate(
        |      slice(syms, 2, size(syms) - 1),
        |      array(element_at(syms, 1)),
        |      (acc, x) -> IF(element_at(acc, -1) = p1 AND x = p2,
        |        concat(slice(acc, 1, size(acc) - 1),
        |               array(concat(element_at(acc, -1), x))),
        |        concat(acc, array(x))))))""".stripMargin)
    // The per-round working set is materialized with an EAGER
    // localCheckpoint, NOT a cache chain: checkpointing truncates
    // lineage, so the analyzed plan stays O(1)-deep however many rules
    // run (a k-long chain of cached fold projections grows Catalyst
    // analysis time linearly and holds k vocab-sized cache entries —
    // the r14 shape, fine at k=3, hopeless at a realistic 32k-merge
    // vocabulary), and releasing the previous round's blocks keeps
    // block-manager usage at ~2 working sets regardless of k.
    // bench/SCALE_POINT.md's rule-axis campaign measures this loop at
    // k=16/64/256: per-round wall time is flat in k (corpus-bounded),
    // total train time linear.
    var syms = vocab.select(
      expr("transform(sequence(1, length(word)), i -> substring(word, i, 1))")
        .as("syms"),
      col("tf")).localCheckpoint(true)
    val learned = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, Long)]
    var r = 1
    var exhausted = false
    while (r <= rules && !exhausted) {
      val top = syms.filter(size(col("syms")) >= 2)
        .select(col("tf"), explode(expr(
          """transform(sequence(1, size(syms) - 1),
            |  i -> struct(element_at(syms, i) AS a,
            |              element_at(syms, i + 1) AS b))""".stripMargin)).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum("tf").as("cnt"))
        .orderBy(col("cnt").desc, col("a"), col("b"))
        .limit(1).collect()
      if (top.isEmpty) exhausted = true
      else {
        val (pa, pb, cnt) =
          (top.head.getString(0), top.head.getString(1), top.head.getLong(2))
        learned += ((r.toLong, pa, pb, cnt))
        val next = syms.crossJoin(broadcast(Seq((pa, pb)).toDF("p1", "p2")))
          .select(mergeFold.as("syms"), col("tf"))
          .localCheckpoint(true)
        Caches.releaseCheckpoint(syms)
        syms = next
        r += 1
      }
    }
    Caches.releaseCheckpoint(syms)
    learned.toSeq
  }

  /** Each distinct word's symbol array after replaying ALL learned
    * merge rules, in rule order — the shared vocab-sized half of both
    * encode paths, and the piece whose SHAPE decides whether the
    * tokenizer survives a real vocabulary.
    *
    * The rules are applied from a broadcast RULE TABLE inside ONE
    * expression: an outer `aggregate` over the sorted rule array drives
    * the same greedy left-to-right inner fold the trainer applies, so
    * the analyzed plan holds exactly one projection whatever k is. The
    * r14 shape — one chained fold projection per rule — was semantically
    * identical but structurally k-deep: at the tested k=3 harmless, at
    * a realistic 32k-merge vocabulary Catalyst analysis alone grows
    * linearly past usable (and the expression tree with it). Here k
    * lives in DATA (one broadcast one-row array), not in the plan;
    * bench/SCALE_POINT.md's rule-axis campaign measures encode wall
    * time ~linear in k at k=16/64/256 with flat plan-analysis time.
    *
    * Per-rule work per word is one `exists` probe (O(len), no
    * allocation) plus the rebuild fold only for words the rule actually
    * touches — the probe-then-fold split matters at large k, where
    * almost every (word, rule) pair is a miss. Rule literals never
    * enter SQL text ([[normWords]] output is [a-z0-9]+ anyway — this
    * removes the escaping question entirely). */
  private def bpeEncodedVocab(docs: DataFrame, rules: Int): DataFrame =
    bpeEncodedVocabOf(docs, collectRules(bpeTrain(docs, rules)))

  /** The sorted driver-side rule table of a trained-rules DataFrame. */
  private def collectRules(df: DataFrame): Seq[(Long, String, String)] =
    df.orderBy("rule_no").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq

  private def bpeEncodedVocabOf(docs: DataFrame,
      ruleTab: Seq[(Long, String, String)]): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // one row, one array<struct<rule_no,p1,p2>> sorted by rule_no
    // (array_sort on structs orders by leading field — collect_list
    // alone has no order guarantee)
    val ruleRow = ruleTab.toDF("rule_no", "p1", "p2")
      .agg(array_sort(collect_list(struct(col("rule_no"), col("p1"),
        col("p2")))).as("_rules"))
    bpeVocab(docs)
      .select(col("word"), expr(
        "transform(sequence(1, length(word)), i -> substring(word, i, 1))")
        .as("syms"))
      .crossJoin(broadcast(ruleRow))
      .select(col("word"), expr(
        """aggregate(
          |  _rules,
          |  syms,
          |  (ss, r) -> IF(size(ss) < 2, ss,
          |    IF(NOT exists(sequence(1, size(ss) - 1),
          |         i -> element_at(ss, i) = r.p1
          |              AND element_at(ss, i + 1) = r.p2),
          |      ss,
          |      aggregate(
          |        slice(ss, 2, size(ss) - 1),
          |        array(element_at(ss, 1)),
          |        (acc, x) -> IF(element_at(acc, -1) = r.p1 AND x = r.p2,
          |          concat(slice(acc, 1, size(acc) - 1),
          |                 array(concat(element_at(acc, -1), x))),
          |          concat(acc, array(x)))))))""".stripMargin).as("syms"))
  }

  /** ENCODE with the trained rules — the apply side of [[bpeTrain]],
    * closing the tokenizer loop (train → encode): each distinct word is
    * segmented by the single-expression rule replay
    * ([[bpeEncodedVocab]] — plan depth O(1) in the rule count), then
    * per-doc token counts come from the tf-weighted join — the corpus
    * is never re-folded per document. The words-per-BPE-token ratio
    * this yields is the standard tokenizer-compression quality
    * metric. */
  def bpeEncodeStats(docs: DataFrame, rules: Int = 3): DataFrame = {
    val encSize = bpeEncodedVocab(docs, rules)
      .select(col("word"), size(col("syms")).cast("long").as("n_sym"))
    docs.select(col("doc_id"), explode(normWords(col("text"))).as("word"))
      .filter(col("word") =!= "")
      .groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))
      .join(encSize, "word")
      .groupBy("doc_id")
      .agg(sum("tf").cast("long").as("n_words"),
        sum(col("tf") * col("n_sym")).cast("long").as("n_bpe_tokens"))
  }

  /** Full tokenization — [[bpeEncodeStats]] taken the last step, from
    * token COUNTS to the actual token-ID SEQUENCE a trainer consumes.
    * Vocabulary ids follow the standard BPE scheme: the sorted base
    * alphabet takes 0..B−1, each learned rule's merged token takes
    * B+rule−1 (a string two parses both produce keeps its smallest id —
    * deterministic either way). Per document the id stream is the words
    * in position order, each expanded to its fold-encoded symbols; the
    * row carries the exact token count plus an md5 signature of the
    * comma-joined id sequence — the artifact two engines (or two runs)
    * compare without shipping the sequences themselves.
    *
    * Scale shape: the fold runs once per DISTINCT word (vocab-sized, one
    * projection per rule); the corpus-sized work is the posexplode →
    * vocab join → symbol explode chain — the unavoidable linear
    * tokenization pass — plus one id lookup against a broadcast
    * (alphabet + rules)-row table and a per-doc sorted-struct fold.
    * Documents with no normalized words drop out (nothing to encode). */
  def bpeEncodeIds(docs: DataFrame, rules: Int = 3): DataFrame = {
    val ruleTab = collectRules(bpeTrain(docs, rules))
    bpeIdStream(docs, bpeEncodedVocabOf(docs, ruleTab),
      bpeIdTable(docs, ruleTab), withUnk = false)
  }

  /** The token→id vocabulary table the standard BPE scheme assigns: the
    * sorted base alphabet takes 0..B−1, each learned rule's merged token
    * takes B+rule−1; a string two parses both produce keeps its smallest
    * id. Driver-side (alphabet + rules is control-plane-sized). */
  private def bpeIdTable(docs: DataFrame,
      ruleTab: Seq[(Long, String, String)]): DataFrame =
    bpeIdTableOf(bpeVocab(docs), ruleTab)

  private def bpeIdTableOf(vocab: DataFrame,
      ruleTab: Seq[(Long, String, String)]): DataFrame = {
    val spark = vocab.sparkSession
    import spark.implicits._
    val baseChars = vocab.select(explode(expr(
      "transform(sequence(1, length(word)), i -> substring(word, i, 1))"))
      .as("tok")).distinct().collect().map(_.getString(0)).sorted
    val nb = baseChars.length.toLong
    val idRows = baseChars.zipWithIndex
      .map { case (t, i) => (t, i.toLong) } ++
      ruleTab.map { case (r, p1, p2) => (p1 + p2, nb + r - 1) }
    idRows.groupBy(_._1)
      .map { case (t, xs) => (t, xs.map(_._2).min) }.toSeq.toDF("tok", "id")
  }

  /** The per-doc id-stream aggregate both encode paths share: word
    * positions → fold-encoded symbols → id lookup against the broadcast
    * vocabulary → exact token count + md5 signature of the ordered id
    * sequence. `withUnk = true` (the STORED-tokenizer path, where the
    * corpus may carry symbols the build corpus never saw) left-joins
    * the vocabulary, maps unseen tokens to id −1 (the UNK convention)
    * and reports their count — silently dropping them would corrupt
    * both the count and the signature. */
  private def bpeIdStream(docs: DataFrame, enc: DataFrame, ids: DataFrame,
                          withUnk: Boolean): DataFrame = {
    val toks = docs.select(col("doc_id"),
        posexplode(normWords(col("text"))).as(Seq("wpos", "word")))
      .filter(col("word") =!= "")
      .join(enc, "word")
      .select(col("doc_id"), col("wpos"),
        posexplode(col("syms")).as(Seq("spos", "tok")))
    val withIds =
      if (withUnk)
        toks.join(broadcast(ids), Seq("tok"), "left")
          .withColumn("id", coalesce(col("id"), lit(-1L)))
      else toks.join(broadcast(ids), "tok")
    val sig = md5(concat_ws(",",
      transform(
        array_sort(collect_list(struct(col("wpos"), col("spos"),
          col("id")))),
        s => s.getField("id").cast("string")))).as("ids_sig")
    if (withUnk)
      withIds.groupBy("doc_id")
        .agg(count(lit(1)).as("n_bpe_tokens"),
          sum(when(col("id") === -1L, 1L).otherwise(0L)).cast("long")
            .as("n_unk"), sig)
    else
      withIds.groupBy("doc_id")
        .agg(count(lit(1)).as("n_bpe_tokens"), sig)
  }

  /** Persist a trained tokenizer as a STORED ARTIFACT — the missing
    * lifecycle half of the BPE loop and the thing a production pipeline
    * actually ships: training is paid ONCE on a (sampled) build corpus,
    * then any amount of data — 100 TB, a streaming feed, another
    * cluster — encodes against the frozen `rules` + `ids` tables with
    * no training pass at all, the same build-once/read-many posture as
    * every other stored family here. Both tables are control-plane
    * tiny (|alphabet| + k rows), written single-file into one `_v{N}`
    * dir behind an atomic `_CURRENT` pointer ([[publishArtifact]]) —
    * rules and ids switch TOGETHER, never a new rule table against an
    * old id table. Frozen means frozen: documents arriving after the
    * build may carry symbols the build corpus never produced — the
    * stored encode surfaces them as UNK (id −1) counts, and
    * [[shouldRetrainTokenizer]] turns the accumulated UNK mass into
    * the retrain decision, mirroring the IVF family's drift signal. */
  def buildTokenizer(docs: DataFrame, rules: Int, path: String): Unit = {
    val trained = bpeTrain(docs, rules)
    publishArtifact(path) { dir =>
      trained.coalesce(1).write.parquet(s"$dir/rules")
      bpeIdTable(docs, collectRules(trained))
        .coalesce(1).write.parquet(s"$dir/ids")
    }
  }

  /** Atomic tokenizer publish — the artifact is TWO tables (rules, ids)
    * that must switch together: an in-place overwrite would expose a
    * reader to a new rule table against an old id table (silently wrong
    * token ids) or a mid-delete missing path. Both tables are written
    * fully into the next version of a [[Compaction]] versioned table,
    * whose pointer swap publishes them at once. The vacuum just before
    * the publish keeps the previous version beside the new one (readers
    * planned against it finish their scans; the keep-2 posture of the
    * snapshot vacuum). */
  private def publishArtifact(path: String)(write: String => Unit): Unit = {
    Compaction.vacuum(path)
    Compaction.publishVersion(path)(write)
  }

  /** True once [[buildTokenizer]]/[[buildTokenizerFromView]] has
    * published an artifact at `path`. The live version resolves through
    * the pointer; an artifact written by the pre-pointer builds (plain
    * `rules/` + `ids/` dirs, no pointer) still reads from the root. */
  def tokenizerExists(path: String): Boolean =
    java.nio.file.Files.exists(
      java.nio.file.Paths.get(Compaction.resolve(path), "rules"))

  private def tokenizerLiveDir(path: String): String =
    if (tokenizerExists(path)) Compaction.resolve(path)
    else throw new IllegalStateException(
      s"no tokenizer artifact published at $path — build one first")

  /** ENCODE against a stored tokenizer — [[bpeEncodeIds]]'s production
    * twin: rules and vocabulary come from the frozen artifact (no
    * corpus pass beyond the tokenization itself), and tokens outside
    * the stored vocabulary map to UNK (id −1) with a per-doc `n_unk`
    * count. Bit-identical to the inline encode when the corpus is the
    * build corpus (zero UNKs — the oracle's contract). */
  def bpeEncodeIdsStored(spark: org.apache.spark.sql.SparkSession,
                         docs: DataFrame, path: String): DataFrame = {
    val live = tokenizerLiveDir(path)
    val ruleTab = collectRules(spark.read.parquet(s"$live/rules"))
    val ids = spark.read.parquet(s"$live/ids")
    bpeIdStream(docs, bpeEncodedVocabOf(docs, ruleTab), ids, withUnk = true)
  }

  /** Fraction of the corpus's BPE token stream that maps to UNK under
    * the stored tokenizer — one aggregate row over the stored encode.
    * 0.0 on the build corpus by construction; drifting input (new
    * scripts, new alphabets) pushes it up. */
  def tokenizerUnkRate(spark: org.apache.spark.sql.SparkSession,
                       docs: DataFrame, path: String): Double = {
    val r = bpeEncodeIdsStored(spark, docs, path)
      .agg(sum("n_unk").cast("double").as("u"),
        sum("n_bpe_tokens").cast("double").as("t")).head()
    if (r.isNullAt(1) || r.getDouble(1) == 0.0) 0.0
    else r.getDouble(0) / r.getDouble(1)
  }

  /** The tokenizer's retrain decision — the drift signal the frozen
    * artifact defers, mirroring [[SimilarityOps.shouldRetrain]]'s
    * shape: true when the UNK mass of `docs` under the stored
    * tokenizer exceeds `threshold`. */
  def shouldRetrainTokenizer(spark: org.apache.spark.sql.SparkSession,
                             docs: DataFrame, path: String,
                             threshold: Double = 0.01): Boolean =
    tokenizerUnkRate(spark, docs, path) > threshold

  /** Per-word partial counts of one corpus subset — the unit the stored
    * vocabulary view appends per merge. Every partial row carries the
    * batch's tag (`bsig`): one batch emits one row per word, so
    * (bsig, word) is unique per batch, and a replayed append lays down
    * EXACT duplicates that [[vocabView]]'s dedup collapses — unlike the
    * BM25 side tables there is no version swap to hang a signature log
    * on (the view is append-only by design), so idempotence rides the
    * rows themselves. This also heals a crash mid-append that left only
    * part of a batch's files visible: the replay re-appends the full
    * batch and dedup keeps one copy of every row. */
  private def vocabPartials(docs: DataFrame, tag: String): DataFrame =
    docs.select(col("doc_id"), explode(normWords(col("text"))).as("word"))
      .filter(col("word") =!= "")
      .groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))
      .groupBy("word").agg(sum("tf").as("tf"), count(lit(1)).as("df"))
      .withColumn("bsig", lit(tag))

  /** The stored view's partial rows with replay duplicates healed —
    * EVERY reader (and the `vocab` compaction) must re-sum over this,
    * never over the raw table. Pre-tag tables (written before the
    * replay heal existed) carry no `bsig` column; they get per-row
    * unique tags so the dedup is a no-op — those tables never had a
    * heal, and collapsing same-word partials under one constant tag
    * would corrupt their sums. */
  private def vocabView(spark: org.apache.spark.sql.SparkSession,
                        path: String): DataFrame =
    graft.engine.Compaction.taggedVocabRows(
      spark.read.parquet(graft.engine.Compaction.resolve(s"$path/counts")))
      .dropDuplicates("bsig", "word")

  /** Batch tags the `vocab` compaction has already folded into its
    * `compacted` aggregate (the version-scoped `_absorbed` sidecar) —
    * tags with NO rows left for [[vocabView]]'s dedup to collapse a
    * replay against, so their appends must be skipped instead. */
  private def vocabTagAbsorbed(spark: org.apache.spark.sql.SparkSession,
                               path: String, tag: String): Boolean = {
    val side = java.nio.file.Paths.get(
      graft.engine.Compaction.resolve(s"$path/counts"), "_absorbed")
    java.nio.file.Files.exists(side) &&
      spark.read.parquet(side.toString)
        .filter(col("bsig") === tag).limit(1).count() > 0L
  }

  /** The content-cycle tags derived from `base` in the view's history
    * (live partial rows ∪ compaction-absorbed tags): `base` itself plus
    * `base~1`, `base~2`, … Bounded collect — only the tags of ONE
    * batch's content, a handful of strings. */
  private def vocabCycleTags(spark: org.apache.spark.sql.SparkSession,
                             path: String, base: String): Seq[String] = {
    val livePath = graft.engine.Compaction.resolve(s"$path/counts")
    // never-built/empty table: no history at all
    val live = scala.util.Try(spark.read.parquet(livePath))
      .getOrElse(return Nil)
    if (!live.columns.contains("bsig")) return Nil // pre-tag table
    val side = java.nio.file.Paths.get(livePath, "_absorbed")
    val all =
      if (java.nio.file.Files.exists(side))
        live.select("bsig").union(spark.read.parquet(side.toString))
      else live.select("bsig")
    all.filter(col("bsig") === base ||
        col("bsig").startsWith(base + "~"))
      .distinct().collect().map(_.getString(0)).toSeq
  }

  /** Count of `base`-derived cycle tags present (retract tags are
    * contiguous from index 0, so count = next free index). */
  private def vocabTagCount(spark: org.apache.spark.sql.SparkSession,
                            path: String, base: String): Int =
    vocabCycleTags(spark, path, base).length

  /** Highest cycle index among `base`-derived tags present (`base` = 0,
    * `base~k` = k), or −1 when none. Merge tags are NOT contiguous from
    * 0 for build-entered content (the build's rows carry the `build`
    * tag, never a content signature), so pairing by MAX index is the
    * only correct reading. */
  private def vocabMaxCycleIdx(spark: org.apache.spark.sql.SparkSession,
                               path: String, base: String): Int = {
    val tags = vocabCycleTags(spark, path, base)
    if (tags.isEmpty) -1
    else tags.map { t =>
      if (t == base) 0 else t.stripPrefix(base + "~").toInt
    }.max
  }

  /** Stored word-count aggregate with incremental maintenance — the
    * MATERIALIZED-VIEW pattern for distributive aggregates, a different
    * lifecycle from the retrieval indexes: the stored `counts` table
    * holds per-word PARTIAL (tf, df) rows — one row per word per
    * absorbed batch — so a merge appends only the new batch's partials
    * (O(|batch vocabulary|), old rows untouched, concurrent readers
    * consistent) and a query re-sums at read time. df partials stay
    * additive because build/merge corpora are DISJOINT doc sets (the
    * caller's contract, same as the BM25 merge); replay protection is
    * the caller's ledger (streaming absorbs route through the
    * (stream, batch-id) protocol like every other family). Compaction
    * kind `vocab` re-aggregates the partials back toward one row per
    * word — the one compaction recipe where the rewrite CHANGES row
    * counts, sound exactly because the aggregate is distributive. */
  def buildVocabIndex(docs: DataFrame, path: String): Unit = {
    vocabPartials(docs, "build").write.mode("overwrite")
      .parquet(s"$path/counts")
    graft.engine.Compaction.seedBase(s"$path/counts")
    graft.engine.Compaction.ensureTagProtocol(docs.sparkSession,
      s"$path/counts")
  }

  /** Append one disjoint batch's per-word partials — O(|batch vocab|).
    * `batchTag` identifies the batch for replay healing (streams pass
    * their stable (stream, batch-id) tag); when omitted it derives from
    * the batch's content PLUS a retract-cycle index: a delete→re-insert
    * of byte-identical content (a legitimate CDC cycle — after the
    * retraction those docs are NOT in the view, so re-merging them
    * violates no disjointness) gets a fresh `~{cycle}` suffix and
    * applies, while a crash replay recomputes the SAME cycle index
    * (retractions visible then are visible now) and lays down exact
    * duplicates the view's dedup collapses. Merging identical content
    * twice WITHOUT an intervening retraction still collapses to one
    * application — that remains the disjointness contract. A tag the
    * compaction has already absorbed is skipped outright: its rows are
    * gone, so a replayed append would have nothing to dedup against and
    * would double-add.
    *
    * The replay-before-compaction ordering is ENFORCED, not merely
    * documented (r18, ADVICE r16 #3's stronger arm): the verb marks its
    * tag committed only AFTER the append returns
    * ([[graft.engine.Compaction.commitTag]]), and the `vocab` tick
    * folds + records `_absorbed` only COMMITTED tags — a mid-append
    * crash leaves the tag uncommitted, so the tick passes its partial
    * rows through verbatim and the mandated replay still heals through
    * the (bsig, word) dedup instead of being skipped against consumed
    * rows. A direct-API caller that ticks between crash and replay can
    * therefore no longer lose the batch's missing rows. Applies equally
    * to [[retractVocabIndex]]. */
  def mergeVocabIndex(newDocs: DataFrame, path: String,
                      batchTag: String = null): Unit = {
    requireVocabTag(batchTag)
    val spark = newDocs.sparkSession
    ensureTaggedVocab(spark, path)
    graft.engine.Compaction.ensureTagProtocol(spark, s"$path/counts")
    val tag = Option(batchTag).getOrElse {
      val parts = batchSignatureParts(newDocs) // ONE batch aggregate
      val cycles =
        vocabTagCount(spark, path, tagSignature(parts, "retract"))
      val base = tagSignature(parts, "merge")
      if (cycles == 0) base else s"$base~$cycles"
    }
    if (vocabTagAbsorbed(spark, path, tag)) return
    graft.engine.Compaction.guardedAppend(s"$path/counts") { live =>
      vocabPartials(newDocs, tag).write.mode("append").parquet(live)
    }
    // LAST: a crash before this leaves the tag uncommitted and the next
    // tick passes its rows through unfolded (Compaction.commitTag), so
    // the mandated replay can never be skipped against consumed rows
    graft.engine.Compaction.commitTag(s"$path/counts", tag)
  }

  /** `compacted` marks the compaction's accumulated rows and `build` the
    * build partials — a caller-supplied tag colliding with either would
    * make the view's (bsig, word) dedup collapse legitimate rows
    * nondeterministically. */
  private def requireVocabTag(tag: String): Unit =
    require(tag == null || (tag != "compacted" && tag != "build"),
      s"batchTag '$tag' is reserved by the vocab view lifecycle")

  /** Upgrade a pre-tag (no `bsig` column) counts table to tagged layout
    * before the first tagged append: mixing tagged and untagged files in
    * one dir would read back with null/dropped tags. The `vocab`
    * compaction recipe treats the pre-tag layout as forced debt, so one
    * tick rewrites it atomically; single-writer discipline makes the
    * inline call safe (the appender IS the writer). */
  private def ensureTaggedVocab(spark: org.apache.spark.sql.SparkSession,
                                path: String): Unit = {
    val live = graft.engine.Compaction.resolve(s"$path/counts")
    // a never-built/empty table has no schema to probe — nothing to
    // upgrade, the first append establishes the tagged layout
    val preTag = scala.util.Try(
      !spark.read.parquet(live).columns.contains("bsig")).getOrElse(false)
    if (preTag) {
      graft.engine.Compaction.compactIndex(spark, path, "vocab")
      ()
    }
  }

  /** Retract previously-absorbed documents from the view — the CDC
    * DELETE path: appends the batch's per-word partials NEGATED, so the
    * read-time re-sum (and the `vocab` compaction) nets the deleted
    * docs' counts out. Same O(|batch vocab|) append shape as
    * [[mergeVocabIndex]]; the view stays append-only and concurrent
    * readers stay consistent.
    *
    * Contract (fail-loud, not silent): each retracted doc must have
    * been absorbed exactly once before, with IDENTICAL text — the CDC
    * delete-capture contract, where the delete record carries the full
    * row image (reference: the BEFORE DELETE trigger snapshots the row,
    * /root/reference/src/cdc/log_extractor.py:290-334). A retraction
    * that was never absorbed (or absorbed with different text) nets
    * some word negative; the `vocab` compaction detects that and raises
    * instead of publishing a corrupt view. Replays heal through the
    * batch-tagged partial dedup ([[vocabPartials]]), so a crashed-ledger
    * re-run cannot net the counts out twice. */
  def retractVocabIndex(docs: DataFrame, path: String,
                        batchTag: String = null): Unit = {
    requireVocabTag(batchTag)
    val spark = docs.sparkSession
    ensureTaggedVocab(spark, path)
    graft.engine.Compaction.ensureTagProtocol(spark, s"$path/counts")
    // default tag pairs this retraction with the LATEST merge cycle of
    // the same content (mirror of mergeVocabIndex's suffix scheme), by
    // MAX merge-cycle index — not merge count: build-entered content
    // has no content-signature merge tag at all (its rows carry the
    // `build` tag), so after a build → retract → re-insert the merge
    // tags start at ~1 and counting them would alias the second
    // retraction onto the first's tag, silently un-deleting the
    // content. No merge tag at all (retracting build-entered content
    // the first time) pairs with cycle 0. Deterministic for in-order
    // (single-writer-ledger) replays — a crashed retract re-reads the
    // same visible history; an OUT-OF-ORDER replay interleaved with a
    // later opposite verb on identical content derives a fresh cycle
    // tag and double-applies, the same accepted out-of-window exposure
    // the BM25 applied-log documents: replay ordering is the caller's
    // ledger's contract.
    val tag = Option(batchTag).getOrElse {
      val parts = batchSignatureParts(docs) // ONE batch aggregate
      val lastMerge =
        vocabMaxCycleIdx(spark, path, tagSignature(parts, "merge"))
      val base = tagSignature(parts, "retract")
      if (lastMerge <= 0) base else s"$base~$lastMerge"
    }
    if (vocabTagAbsorbed(spark, path, tag)) return
    graft.engine.Compaction.guardedAppend(s"$path/counts") { live =>
      vocabPartials(docs, tag)
        .select(col("word"), (-col("tf")).as("tf"), (-col("df")).as("df"),
          col("bsig"))
        .write.mode("append").parquet(live)
    }
    graft.engine.Compaction.commitTag(s"$path/counts", tag)
  }

  /** Top-K view read: re-sum the stored partials (a partial-aggregated
    * shuffle over |vocab × absorbed batches| rows, not the corpus). */
  def queryVocabTopK(spark: org.apache.spark.sql.SparkSession, path: String,
                     topK: Int): DataFrame =
    vocabNet(spark, path)
      .orderBy(col("tf").desc, col("word"))
      .limit(topK)

  /** The full netted (word, tf, df) view behind [[queryVocabTopK]] —
    * re-summed partials with the retraction guards, no top-k cut; the
    * read every view consumer (and the [[graft.ops.PurgeAudit]])
    * shares. */
  private[graft] def vocabNet(spark: org.apache.spark.sql.SparkSession,
                              path: String): DataFrame =
    vocabView(spark, path)
      .groupBy("word")
      .agg(sum("tf").as("tf"), sum("df").as("df"))
      // a fully-retracted word nets to ZERO — it has left the corpus and
      // must leave the view (no-op on an additive-only view). A NEGATIVE
      // net means a retraction that was never absorbed — refuse to serve
      // the corrupt view rather than silently filtering the word out
      // (the compaction rewrite carries the same guard).
      .withColumn("_ok",
        when(col("tf") >= 0L && col("df") >= 0L, lit(true))
          .otherwise(raise_error(concat(
            lit("vocab view: word '"), col("word"),
            lit("' netted negative counts — retraction without a " +
              "matching absorb")))))
      .filter(col("_ok") && col("tf") > 0L).drop("_ok")

  /** [[lmScore]] against the STORED vocabulary view — the production
    * shape of LM quality filtering: the corpus unigram LM is the
    * materialized view (built once, maintained incrementally by the
    * streaming absorb/retract protocol), so scoring a new batch reads
    * O(view) + O(batch) and never re-scans the corpus. When the view
    * covers exactly the scored corpus, scores are bit-identical to the
    * inline [[lmScore]] (partials re-sum to the full counts — the same
    * distributivity `vocab_merged_topk` rides), which is the oracle.
    * A word the view has never seen scores at the OOV floor ln(1/N) —
    * below every in-view word; a negative-netting word (retraction
    * without its absorb) raises rather than serving a corrupt LM. */
  def lmScoreStored(spark: org.apache.spark.sql.SparkSession,
                    docs: DataFrame, path: String): DataFrame = {
    val counts = vocabView(spark, path)
      .groupBy("word").agg(sum("tf").as("ctf"))
      .withColumn("_ok", when(col("ctf") >= 0L, lit(true))
        .otherwise(raise_error(concat(
          lit("vocab view: word '"), col("word"),
          lit("' netted negative counts — retraction without a matching absorb")))))
      .filter(col("_ok") && col("ctf") > 0L).drop("_ok")
    val tot = counts.agg(sum("ctf").cast("double").as("n"))
    val logp = counts.crossJoin(broadcast(tot))
      .select(col("word"),
        round(log(col("ctf").cast("double") / col("n")), 6).as("logp"))
    docs.select(col("doc_id"), explode(normWords(col("text"))).as("word"))
      .filter(col("word") =!= "")
      .groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))
      .crossJoin(broadcast(tot))
      .join(logp, Seq("word"), "left")
      .select(col("doc_id"), col("tf"),
        coalesce(col("logp"),
          round(log(lit(1.0) / col("n")), 6)).as("logp"))
      .groupBy("doc_id")
      .agg(sum("tf").cast("long").as("n_tokens"),
        round(sum(col("logp").cast("decimal(20,6)") * col("tf")).cast("double")
          / sum("tf"), 6).as("avg_logp"))
  }

  /** Interpolated bigram-LM document scoring — one modeling step up from
    * [[lmScore]] toward the KenLM-style n-gram filters real pipelines
    * run (CCNet uses a 5-gram model; the estimator pipeline is the same
    * shape at every order). Token 1 scores under the unigram LM; token i
    * (i ≥ 2) under the Jelinek-Mercer interpolation
    * λ·p(wᵢ|wᵢ₋₁) + (1−λ)·p(wᵢ), with p(wᵢ|wᵢ₋₁) the ML estimate
    * c(wᵢ₋₁wᵢ)/Σₓc(wᵢ₋₁x). With the corpus as its own LM every document
    * bigram exists in the model, so no backoff-to-zero arm is needed;
    * 1−λ is computed as the IEEE double `1.0 − λ` on BOTH engines so the
    * weights agree bit-for-bit. Per-token log terms round to 6 dp then
    * DECIMAL-sum per doc. Corpus-proportional cost: the bigram-count
    * shuffle (high-cardinality (prev, word) keys, map-side combined);
    * the denominator and unigram tables re-aggregate from it. The
    * instance stream pre-aggregates to (doc_id, prev, word, cnt) BEFORE
    * the three count joins — on natural text that's ~5–20× fewer join
    * rows (Zipf: a doc repeats its common bigrams), and a repeated
    * instance's 6-dp term is recovered EXACTLY as cnt × term (decimal ×
    * integral is exact), so the per-doc DECIMAL sums are bit-identical
    * to per-instance summation. */
  def lmBigramScore(docs: DataFrame, lambda: Double = 0.7): DataFrame = {
    val t = Caches.ensureCached(
      graft.engine.Tables.kernelSpread(docs, "doc_id")
        .select(col("doc_id"), normWords(col("text")).as("w"))
        .filter(element_at(col("w"), 1) =!= ""))
    val dbg = t.filter(size(col("w")) >= 2)
      .select(col("doc_id"), explode(expr(
        """transform(sequence(2, size(w)),
          |  i -> struct(element_at(w, i - 1) AS prev,
          |              element_at(w, i) AS word))""".stripMargin)).as("b"))
      .select(col("doc_id"), col("b.prev").as("prev"), col("b.word").as("word"))
      .groupBy("doc_id", "prev", "word").agg(count(lit(1)).as("cnt"))
    // (A `.repartition(prev, word)` here — one exchange shared by bgc
    // and the bterm probe — was tried and REVERTED this round: the
    // static plan showed the three dbg instances each gaining an extra
    // Exchange with no ReusedExchange, because bgc/pc/uc broadcast-join
    // onto the probe, and AQE's runtime stage cache ALREADY dedups the
    // identical (doc_id, prev, word) aggregate exchanges across the
    // subtrees — so the hop added an exchange without removing any
    // recompute. Measured equal within noise (1.8–2.1 s solo both
    // ways), so the simpler three-broadcast plan stays.)
    val bgc = dbg.groupBy("prev", "word").agg(sum("cnt").as("cbw"))
    val pc = bgc.groupBy("prev").agg(sum("cbw").as("cp"))
    val uc = t.select(explode(col("w")).as("word"))
      .groupBy("word").agg(count(lit(1)).as("cw"))
    val tot = uc.agg(sum("cw").cast("double").as("n"))
    val fterm = t.select(col("doc_id"), element_at(col("w"), 1).as("word"))
      .join(uc, "word").crossJoin(broadcast(tot))
      .select(col("doc_id"), lit(1L).as("cnt"),
        round(log(col("cw").cast("double") / col("n")), 6)
          .cast("decimal(20,6)").as("term"))
    val bterm = dbg.join(bgc, Seq("prev", "word")).join(pc, Seq("prev"))
      .join(uc, Seq("word")).crossJoin(broadcast(tot))
      .select(col("doc_id"), col("cnt"),
        round(log(
          lit(lambda) * (col("cbw").cast("double") / col("cp")) +
            (lit(1.0) - lit(lambda)) * (col("cw").cast("double") / col("n"))),
          6).cast("decimal(20,6)").as("term"))
    fterm.unionByName(bterm)
      .groupBy("doc_id")
      .agg(sum(col("cnt")).cast("long").as("n_tokens"),
        round(sum(col("term") * col("cnt")).cast("double") / sum(col("cnt")),
          6).as("avg_logp"))
  }

  /** Boilerplate span REMOVAL — the CCNet-style paragraph-hash dedup as
    * a content transformation (the rest of the dedup family flags or
    * drops whole documents; this rewrites them): fixed-width word chunks
    * whose exact content appears in more than `maxDf` documents are cut,
    * and the survivors reassemble in order into `clean_text`. Shape:
    * chunk explode → one df hash-agg keyed on the chunk md5 (the text
    * itself never shuffles for counting) → per-doc ordered reassembly
    * via sort_array over (idx, txt) structs — collect_list drops the
    * nulled-out cut chunks, and the idx sort makes the rebuilt text
    * deterministic under any partitioning. Linear; the df join is the
    * familiar hot-key AQE class. */
  def stripBoilerplate(docs: DataFrame, chunkWords: Int = 20,
                       maxDf: Long = 1L): DataFrame = {
    val cw = chunkWords
    // words materialized before the chunk transform (the shingleArrays
    // CollapseProject discipline); corpus spread before the CPU-dense
    // tokenize+chunk+md5 kernel
    val words = graft.engine.Tables.kernelSpread(docs, "doc_id")
      .select(col("doc_id"), normWords(col("text")).as("w"))
    val chunks = words.select(col("doc_id"), posexplode(expr(
      s"""transform(sequence(1, cast(ceil(size(w) / ${cw}.0) as int)),
         |  i -> concat_ws(' ', slice(w, (i - 1) * $cw + 1, $cw)))"""
        .stripMargin)).as(Seq("idx", "txt")))
      .withColumn("h", md5(col("txt")))
    val cdf = chunks.groupBy("h").agg(countDistinct("doc_id").as("d"))
    chunks.join(cdf, "h")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("d") <= maxDf, 1L).otherwise(0L)).as("n_kept"),
        concat_ws(" ", expr(
          s"""transform(
             |  array_sort(collect_list(
             |    CASE WHEN d <= $maxDf THEN struct(idx, txt) END)),
             |  s -> s.txt)""".stripMargin)).as("clean_text"))
  }

  /** Tokenizer-coverage (OOV) report: the fraction of corpus tokens that
    * fall OUTSIDE the top-K vocabulary, per stratum — the go/no-go
    * metric for shipping a fixed vocabulary over a multilingual corpus
    * (a stratum with a high OOV rate is under-served by the tokenizer).
    * The vocabulary is [[vocabTopK]]'s top-K by total frequency with the
    * deterministic word tie-break. Scale shape: the vocab is K rows by
    * construction, so the coverage join is a BROADCAST against the token
    * stream, and the per-stratum rollup is a hash-agg on a small key —
    * after the vocab election the whole pass is map-side. The corpus is
    * read twice (elect, then score); at 100 TB the election side reads
    * the stored vocab view ([[queryVocabTopK]]) instead, making coverage
    * a single narrow pass. */
  def oovRate(docs: DataFrame, stratum: String, topK: Int = 100): DataFrame =
    docs.select(col(stratum), explode(normWords(col("text"))).as("word"))
      .filter(col("word") =!= "")
      .join(broadcast(vocabTopK(docs, topK).select(col("word"), lit(1L).as("_inv"))),
        Seq("word"), "left")
      .groupBy(stratum)
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("_inv").isNull, 1L).otherwise(0L)).as("n_oov"))
      // one long→double division of exact counts — bit-stable cross-engine
      .withColumn("oov_rate", col("n_oov").cast("double") / col("n_tokens"))

  /** Per-document informativeness: the mean inverse document frequency
    * (idf = ln(N / df)) of the document's DISTINCT words — boilerplate
    * and template-heavy docs (all-common vocabulary) score low, docs
    * carrying rare content score high; the cheap corpus-relative twin of
    * perplexity-based quality filters. Parity: idf is ln of one
    * exact-count division (both engines' ln agree on these operands —
    * the BM25 family's precedent) and the per-doc mean routes the double
    * sum through DECIMAL so it is addition-order-independent. Scale
    * shape: distinct (doc, word) → word-keyed df hash-agg → join back on
    * word → doc-keyed hash-agg; every shuffle keys on a high-cardinality
    * column and N arrives via a one-row broadcast — linear end to end. */
  def docIdf(docs: DataFrame): DataFrame = {
    val dw = docs
      .select(col("doc_id"), explode(normWords(col("text"))).as("word"))
      .filter(col("word") =!= "").distinct()
    val dfByWord = dw.groupBy("word").agg(count(lit(1)).as("_df"))
    val nDocs = docs.agg(count(lit(1)).as("_n"))
    dw.join(dfByWord, "word")
      .crossJoin(broadcast(nDocs))
      .select(col("doc_id"),
        log(col("_n").cast("double") / col("_df").cast("double")).as("_idf"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"),
        (sum(col("_idf").cast("decimal(20,6)")).cast("double") /
          count(lit(1))).as("mean_idf"))
  }

  private val EmailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  private val PhoneRe = "\\b\\d{3}[-. ]\\d{3}[-. ]\\d{4}\\b"
  private val Ipv4Re = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"

  /** PII redaction — the scrub pass every public-corpus curation
    * pipeline runs before training: emails, phone-shaped numbers, and
    * IPv4 literals are counted (pre-redaction) and replaced with typed
    * placeholder tokens. Patterns are deliberately restricted to syntax
    * that parses identically under Java regex (Spark) and RE2 (the
    * DuckDB oracle): character classes, bounded repetition, `\b` — no
    * lookarounds, no backreferences. Replacement order is email → ipv4
    * → phone so the email's local/domain digits can't be re-matched by
    * the narrower numeric patterns. One narrow codegen'd per-row
    * projection — no shuffle, no state; at 100 TB this is a pure
    * map-side pass that pipelines into the parquet write. */
  def redactPii(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      regexp_count(col("text"), lit(EmailRe)).cast("long").as("n_emails"),
      regexp_count(col("text"), lit(Ipv4Re)).cast("long").as("n_ipv4"),
      regexp_count(col("text"), lit(PhoneRe)).cast("long").as("n_phones"),
      regexp_replace(
        regexp_replace(
          regexp_replace(col("text"), EmailRe, "<EMAIL>"),
          Ipv4Re, "<IP>"),
        PhoneRe, "<PHONE>").as("redacted"))

  /** The redaction regexes, exposed for the SQL oracle twin. */
  private[graft] def piiPatterns: (String, String, String) =
    (EmailRe, PhoneRe, Ipv4Re)

  /** Memorization-hotspot audit: the top-`k` word `n`-grams by document
    * frequency — the sequences a model is most likely to memorize are
    * the ones repeated verbatim across many training documents (license
    * headers, templated boilerplate, chain letters), and the same table
    * doubles as the candidate list a boilerplate-stripping pass reviews.
    * `df` counts distinct documents (shingle sets are per-doc distinct
    * by construction, [[shingles]]); `example_doc` anchors each hotspot
    * for inspection. Scale: one partial-aggregated hash shuffle on the
    * shingle — the same cost class as the vocab/df passes — then a
    * TakeOrderedAndProject top-k; no joins, no windows. */
  def ngramHotspots(docs: DataFrame, n: Int, minDf: Long, k: Int): DataFrame =
    DedupOps.shingleSets(docs, n)
      .groupBy("shingle")
      .agg(count(lit(1)).as("df"), min("doc_id").as("example_doc"))
      .filter(col("df") >= minDf)
      .orderBy(col("df").desc, col("shingle"))
      .limit(k)
      .withColumnRenamed("shingle", "ngram")

  /** Content fingerprint: md5 of the sorted distinct normalized vocabulary —
    * word-order-insensitive dedup key (catches shuffled near-copies). */
  def fingerprint(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      md5(concat_ws(" ", array_sort(array_distinct(normWords(col("text"))))))
        .as("fingerprint"))

  /** Winnowing document fingerprints (rolling-hash selection, the
    * MOSS/winnowing construction): char k-grams → 40-bit base-257
    * polynomial hash (`h = ((h·257) + char) & (2^40−1)`, left fold) →
    * minimum of each sliding window of `w` hashes → distinct sorted set,
    * reported as a count + set signature. Guarantees any shared substring
    * of length ≥ k+w−1 yields a shared fingerprint. Per-row fold only —
    * no shuffle — and engine-portable: plain 64-bit integer arithmetic,
    * which DuckDB replays exactly (the round-2 md5-prefix hash paid a
    * full digest per corpus character — the dominant containment cost).
    * Docs shorter than k+w−1 chars (after normalization) are dropped on
    * both sides. */
  def winnowFingerprint(docs: DataFrame, k: Int = 8, w: Int = 4): DataFrame =
    winnowFps(docs, k, w)
      .select(col("doc_id"),
        size(col("fps")).cast("long").as("n_fingerprints"),
        md5(concat_ws(",",
          expr("transform(fps, x -> cast(x as string))"))).as("winnow_sig"))

  /** The winnowed fingerprint SET per doc (doc_id, fps sorted-distinct
    * long array) — the reusable core behind [[winnowFingerprint]] and
    * [[containmentPairs]]. Hash + window-min + distinct-sort run in the
    * codegen'd [[graft.functions.WinnowKernel]] (one primitive loop per
    * doc; bit-identical to [[winnowFpsHof]], asserted in OpsSpec). */
  def winnowFps(docs: DataFrame, k: Int = 8, w: Int = 4): DataFrame = {
    graft.functions.VectorExpressions.register(docs.sparkSession)
    // CPU-dense rolling-hash kernel: spread the corpus before it
    // (scale-adaptive no-op on multi-split inputs; guide §2.5)
    val out = graft.engine.Tables.kernelSpread(docs, "doc_id")
      .select(col("doc_id"),
      regexp_replace(lower(col("text")), "[^a-z0-9]", "").as("s"))
      // length guard on the cheap normalized string (|s| ≥ k+w−1 ⟺ the
      // kernel emits ≥1 fingerprint); a size(fps) filter would be pushed
      // below the projection and re-run the kernel inside the condition
      .filter(length(col("s")) >= k + w - 1)
      .select(col("doc_id"),
        call_function("graft_winnow_fps", col("s"), lit(k), lit(w)).as("fps"))
    // this table is CACHED and consumed by many small queries
    // (text_winnow, decontaminate, source_overlap, containment): compact
    // the cached layout to a size-derived partition count so those
    // consumers don't pay a defaultParallelism task wave per scan —
    // scale-adaptive no-op on real corpora (Tables.cacheCompact)
    graft.engine.Tables.cacheCompact(out, docs, "doc_id")
  }

  /** The portable higher-order-function formulation of [[winnowFps]] —
    * the semantic reference the kernel is tested against (and the shape
    * the DuckDB oracle mirrors). */
  def winnowFpsHof(docs: DataFrame, k: Int = 8, w: Int = 4): DataFrame =
    docs.select(col("doc_id"),
      regexp_replace(lower(col("text")), "[^a-z0-9]", "").as("s"))
      .filter(length(col("s")) >= k + w - 1)
      // the ascii-code array is materialized in its own projection (the
      // Generate/HOF subexpression-elimination trap — see shingleArrays)
      .select(col("doc_id"),
        expr("transform(sequence(1, length(s)), i -> cast(ascii(substring(s, i, 1)) as bigint))")
          .as("cs"))
      .select(col("doc_id"),
        expr(s"transform(sequence(1, size(cs) - ${k - 1}), i -> aggregate(slice(cs, i, $k), 0L, (acc, c) -> ((acc * 257) + c) & ${(1L << 40) - 1}L))")
          .as("hs"))
      .select(col("doc_id"),
        expr(s"array_sort(array_distinct(transform(sequence(1, size(hs) - ${w - 1}), j -> array_min(slice(hs, j, $w)))))")
          .as("fps"))

  /** MOSS-style containment detection: pairs whose winnowed fingerprint
    * sets overlap in ≥ `minContainment` of the smaller set — catches
    * copied passages and subset documents that whole-doc similarity
    * misses. Winnowing compresses each doc to ~|s|/w fingerprints, and
    * fingerprints seen in more than `maxDf` docs are dropped before the
    * equi-join (both from candidates AND from the ratio's denominator):
    * corpus-common grams carry no containment signal but make a join
    * bucket quadratic — the same hot-key blow-up as stopword shingles.
    * With the cap, per-fingerprint work is ≤ maxDf², linear in corpus
    * size (measured: identical pairs to the unfiltered join at 10× less
    * join volume on the test corpus). */
  def containmentPairs(docs: DataFrame, k: Int = 8, w: Int = 4,
                       minContainment: Double = 0.5, maxDf: Int = 10): DataFrame = {
    val ex = containmentExploded(docs, k, w, maxDf)
    val sizes = ex.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val cand = ex.as("a")
      .join(ex.as("b"),
        col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
    cand
      .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("_na")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("_nb")), "doc_b")
      .withColumn("containment",
        col("n_shared").cast("double") / least(col("_na"), col("_nb")))
      .filter(col("containment") >= minContainment)
      .select("doc_a", "doc_b", "n_shared", "containment")
  }

  /** Data-derived df cap for the fingerprint join: the `quantile` point
    * (exact percentile — deterministic, unlike the sketch-based approx)
    * of the winnowed-fingerprint df histogram, clamped to
    * [`minCap`, `maxCap`]. The head of the distribution (shared
    * boilerplate fingerprints, the quadratic-bucket hazard AND the
    * source of false near-dup pairs) sits above p99.9 by construction,
    * so capping there drops exactly the pathological keys while genuine
    * overlap survives. One aggregate over the per-fingerprint df counts
    * (fps are per-doc distinct, so the count IS document frequency).
    *
    * `maxCap` is the scale guard, and it is NOT optional reassurance:
    * boilerplate df grows linearly with corpus size, so the raw
    * quantile does too (42 at sf0.01 → 315 at sf0.1 on the test
    * corpus), and candidate-join work per admitted fingerprint is df² —
    * an unclamped corpus-proportional cap makes the self-join
    * quadratic in corpus size (measured: 0.3 s → 14 s for one decade
    * of sf). The ceiling pins per-fingerprint work at ≤ maxCap² pairs
    * (1024 at the default — the same order as the salted join's
    * per-bucket target), so total candidate volume stays linear in
    * corpus size; the quantile's job is to adapt DOWN below the
    * ceiling on clean corpora. */
  def adaptiveMaxDf(docs: DataFrame, k: Int = 8, w: Int = 4,
                    quantile: Double = 0.999, minCap: Int = 4,
                    maxCap: Int = 32): Int = {
    // session-scoped memo, same contract as the salt-factor memo: the
    // derived cap is a per-corpus constant. Keyed on a weak session id,
    // not the session object, so closed sessions aren't pinned by the map.
    val key = (graft.engine.Caches.sessionId(docs.sparkSession),
      graft.engine.Caches.planKey(docs), k, w, quantile, minCap, maxCap)
    maxDfMemo.getOrElseUpdate(key, {
      // register/reuse the shared winnow cache (same canonical plan as
      // the containment path's entry): the adaptive_caps warm stage runs
      // FIRST, so this pass both derives the cap and builds the cache
      // every later fingerprint consumer hits
      val dfs = graft.engine.Caches.ensureCached(winnowFps(docs, k, w))
        .select(col("doc_id"), explode(col("fps")).as("fp"))
        .groupBy("fp").agg(count(lit(1)).as("_d"))
      val q = dfs.agg(expr(s"percentile(_d, $quantile)").as("q")).head()
      if (q.isNullAt(0)) minCap
      else math.min(maxCap, math.max(minCap, q.getDouble(0).toInt))
    })
  }

  private val maxDfMemo = graft.engine.Caches
    .sessionMemo[(String, String, Int, Int, Double, Int, Int), Int]()

  /** The df-capped exploded (doc_id, fp) fingerprint table behind
    * [[containmentPairs]] — cached, because it feeds both the candidate
    * self-join and the per-doc size denominator (and at bench time the
    * cache build belongs in the shared setup phase, not in whichever
    * query runs first). */
  def containmentExploded(docs: DataFrame, k: Int = 8, w: Int = 4,
                          maxDf: Int = 10): DataFrame = {
    val f = graft.engine.Caches.ensureCached(winnowFps(docs, k, w))
    // RE-SPREAD the exploded rows before this cache: the winnow cache
    // above is deliberately COMPACT (cacheCompact — cheap consumers like
    // text_winnow pay one task, not a wave), but every consumer of THIS
    // table runs a heavy fp self-join / per-doc aggregate, and without
    // the spread the cached rows inherit the compact layout through
    // Generate+BHJ (no exchange in between), serializing those joins to
    // one task (measured: text_containment 0.5 → 1.3 s when this cache
    // went single-partition). Same scale-adaptive no-op as every other
    // kernelSpread call on real (multi-split) corpora.
    val ex0 = graft.engine.Tables.kernelSpread(
      f.select(col("doc_id"), explode(col("fps")).as("fp")), "doc_id")
    val dfCount = ex0.groupBy("fp").agg(count(lit(1)).as("_d"))
    graft.engine.Caches.ensureCached(
      ex0.join(dfCount.filter(col("_d") <= maxDf), "fp").drop("_d"))
  }

  /** Cross-source leakage matrix — "which sources copy from each
    * other": for every unordered pair of sources, the number of
    * cross-source document pairs sharing a winnow fingerprint and the
    * number of distinct shared fingerprints. A hot cell means one feed
    * mirrors another (syndication, scraping overlap) — the audit that
    * decides per-source dedup priorities and catches a supposedly-
    * independent source that isn't. Rides the SAME df-capped exploded
    * fingerprint table as [[containmentPairs]] (bounded df² candidates
    * per fingerprint, the cap corpus-derived via [[adaptiveMaxDf]]),
    * then collapses to a ≤|sources|² matrix — the per-pair distinct
    * counts shuffle on (source pair), bounded keys. */
  def sourceOverlapMatrix(docs: DataFrame, maxDf: Int = 10): DataFrame = {
    val ex = containmentExploded(docs, maxDf = maxDf)
      .join(docs.select(col("doc_id"), col("source")), "doc_id")
    ex.as("a").join(ex.as("b"),
        col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id") &&
          col("a.source") =!= col("b.source"))
      .select(least(col("a.source"), col("b.source")).as("source_a"),
        greatest(col("a.source"), col("b.source")).as("source_b"),
        col("a.fp").as("fp"),
        concat_ws(":", col("a.doc_id"), col("b.doc_id")).as("_pair"))
      .groupBy("source_a", "source_b")
      .agg(count_distinct(col("_pair")).as("n_doc_pairs"),
        count_distinct(col("fp")).as("n_shared_fps"))
  }

  /** Intra-document repetition score — the MassiveText-style quality
    * signal: the fraction of a doc's word n-grams that repeat an earlier
    * one (1 − distinct/total). Highly repetitive docs (boilerplate,
    * keyword stuffing, generation loops) score near 1. Exact integer
    * counts + one IEEE division; single-pass, no shuffle. Docs below n
    * words are dropped on both sides. */
  def repetitionScore(docs: DataFrame, n: Int = 3): DataFrame =
    docs.select(col("doc_id"), normWords(col("text")).as("w"))
      .filter(size(col("w")) >= n)
      .select(col("doc_id"),
        (size(col("w")) - (n - 1)).cast("long").as("n_ngrams"),
        size(shingles(col("w"), n)).cast("long").as("n_distinct"))
      .withColumn("rep_ratio",
        lit(1.0) - col("n_distinct").cast("double") / col("n_ngrams"))

  /** Train/test decontamination by winnowed-fingerprint overlap: the
    * corpus is hash-split (held-out = top `testPct` of the doc_id hash
    * space — same reproducible membership rule as
    * [[SamplingOps.hashSplit]]), and every TRAIN doc sharing ≥ 1 winnow
    * fingerprint with ANY held-out doc is reported with its overlap
    * counts — the contamination sweep every eval suite needs before
    * training. Fingerprints seen in more than `maxDf` docs are dropped
    * first (corpus-common grams carry no contamination signal but make
    * join buckets quadratic — the containment df-cap); a train doc is
    * flagged only when ≥ `minRatio` of its (capped) fingerprints appear
    * in held-out docs — single shared 8-grams are noise, a third of the
    * doc is an eval leak. Cost: one fingerprint equi-join, linear in
    * corpus size. */
  def decontaminate(docs: DataFrame, k: Int = 8, w: Int = 4,
                    testPct: Int = 10, maxDf: Int = 10,
                    minRatio: Double = 0.2): DataFrame = {
    val f = graft.engine.Caches.ensureCached(winnowFps(docs, k, w))
    val ex = f.select(col("doc_id"), explode(col("fps")).as("fp"))
      .withColumn("_h", pmod(SamplingOps.keyHash("doc_id"), lit(100)))
    val keep = ex.groupBy("fp").agg(count(lit(1)).as("_d"))
      .filter(col("_d") <= maxDf).select("fp")
    val capped = ex.join(keep, "fp")
    val train = capped.filter(col("_h") < 100 - testPct)
      .select(col("doc_id"), col("fp"))
    val test = capped.filter(col("_h") >= 100 - testPct)
      .select(col("doc_id").as("_tdoc"), col("fp"))
    // rows are unique per (doc, fp) — fps is a distinct set — so counts
    // are exact fingerprint counts
    val sizes = train.groupBy("doc_id").agg(count(lit(1)).as("n_fps"))
    train.join(test, "fp")
      .groupBy("doc_id")
      .agg(countDistinct(col("fp")).as("n_shared_fps"),
        countDistinct(col("_tdoc")).as("n_test_docs"))
      .join(sizes, "doc_id")
      .withColumn("contamination",
        col("n_shared_fps").cast("double") / col("n_fps"))
      .filter(col("contamination") >= minRatio)
      .select("doc_id", "n_fps", "n_shared_fps", "n_test_docs", "contamination")
  }

  private val stopwords = Seq("the", "a", "of", "and", "to", "in", "is", "it")
  private def inList(ws: Seq[String]) = ws.map(w => s"'$w'").mkString("(", ", ", ")")

  /** Quality scoring: token count, average token length, stopword ratio,
    * and a bounded linear score — the heuristics CCNet-style pipelines
    * gate training data on. */
  def qualityScore(docs: DataFrame): DataFrame = {
    // CPU-dense tokenize + per-token folds: spread the corpus
    val base = graft.engine.Tables.kernelSpread(docs, "doc_id")
      .select(col("doc_id"), normWords(col("text")).as("w"))
      .select(
        col("doc_id"),
        size(col("w")).cast("long").as("n_tokens"),
        expr("aggregate(transform(w, x -> length(x)), 0, (acc, x) -> acc + x)")
          .as("_sum_len"),
        expr(s"size(filter(w, x -> x IN ${inList(stopwords)}))").as("_n_stop"))
    // Outputs stay unrounded doubles: every operand is an exact integer
    // count, so the arithmetic is bit-identical across engines, whereas
    // round() differs at half-way boundaries (Spark rounds the exact
    // expansion, DuckDB rounds a pre-scaled float).
    base.select(
      col("doc_id"), col("n_tokens"),
      (col("_sum_len").cast("double") / col("n_tokens")).as("avg_token_len"),
      (col("_n_stop").cast("double") / col("n_tokens")).as("stop_ratio"),
      (least(lit(1.0), col("n_tokens") / lit(50.0)) * 0.5 +
        (col("_n_stop").cast("double") / col("n_tokens")) * 0.3 +
        least(lit(1.0), (col("_sum_len").cast("double") / col("n_tokens")) / 8.0) * 0.2)
        .as("quality_score"))
  }

  private val langStops: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und"),
    "en" -> Seq("the", "a", "of", "and"),
    "es" -> Seq("el", "los", "las", "y"),
    "fr" -> Seq("le", "la", "les", "et"))

  /** Language ID by stopword-hit scoring with a deterministic argmax
    * (alphabetical tie-break de > en > es > fr in CASE order). */
  def langId(docs: DataFrame): DataFrame = {
    val withW = docs.select(col("doc_id"), col("lang"), normWords(col("text")).as("w"))
    val scored = withW.select(
      (col("doc_id") +: col("lang") +:
        langStops.map { case (l, ws) =>
          expr(s"size(filter(w, x -> x IN ${inList(ws)}))").cast("long").as(s"s_$l")
        }): _*
    )
    scored.withColumn("lang_guess",
      when(col("s_de") >= col("s_en") && col("s_de") >= col("s_es") &&
        col("s_de") >= col("s_fr"), "de")
        .when(col("s_en") >= col("s_es") && col("s_en") >= col("s_fr"), "en")
        .when(col("s_es") >= col("s_fr"), "es")
        .otherwise("fr"))
  }

  /** BM25-scored retrieval: top-k documents for a bag of query terms —
    * the keyword-search read path of a corpus curation UI ("show me the
    * docs about X" before eyeballing a dedup decision).
    *
    * Two passes, both linear: per-doc term frequencies ride one narrow
    * projection (a `filter(w, ...)` count per term — the query has a
    * handful of terms, so no explode and no inverted-index shuffle);
    * corpus stats (N, Σdl, per-term df) are ONE aggregate row broadcast
    * back, and scoring + `TakeOrderedAndProject` finish without a full
    * sort. At 100 TB the tf table is the thing a real deployment would
    * persist as the inverted index; the scoring shape is unchanged.
    *
    * Uses the rational Robertson idf variant `(N - df + ½)/(df + ½)`
    * WITHOUT the logarithm: ranking is order-equivalent for a fixed
    * query (log is monotone on each factor and df is per-term constant),
    * and staying inside +,*,/ keeps every operand an exact-rounded IEEE
    * op — bit-identical across engines, which a transcendental would not
    * guarantee. k1 = 1.2, b = 0.75 appear pre-folded as 2.2 (= k1+1),
    * 0.25 (= 1−b), 0.75 literals so both engines evaluate the same
    * constants. */
  def bm25TopK(docs: DataFrame, terms: Seq[String], topK: Int = 10): DataFrame = {
    require(terms.nonEmpty, "bm25TopK needs at least one query term")
    val words = docs.select(col("doc_id"), normWords(col("text")).as("w"))
    val tf = graft.engine.Caches.ensureCached(words.select(
      (Seq(col("doc_id"), size(col("w")).as("dl")) ++
        terms.indices.map { i =>
          // the term rides as a Column LITERAL, never SQL text — an
          // apostrophe-bearing term must not break the lambda (and a
          // crafted one must not rewrite the predicate)
          size(filter(col("w"), x => x === lit(terms(i)))).as(s"tf_$i")
        }): _*))
    val statAggs =
      Seq(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl")) ++
        terms.indices.map(i =>
          sum(when(col(s"tf_$i") > 0, 1L).otherwise(0L)).as(s"df_$i"))
    val stats = tf.agg(statAggs.head, statAggs.tail: _*)
    val avgdl = col("sum_dl").cast("double") / col("n_docs").cast("double")
    def contrib(i: Int): Column = {
      val tfD = col(s"tf_$i").cast("double")
      val idf =
        (col("n_docs").cast("double") - col(s"df_$i").cast("double") + lit(0.5)) /
          (col(s"df_$i").cast("double") + lit(0.5))
      idf * ((tfD * lit(2.2)) /
        (tfD + lit(1.2) * (lit(0.25) + lit(0.75) * (col("dl").cast("double") / avgdl))))
    }
    val score = terms.indices.map(contrib).reduceLeft(_ + _)
    val anyTf = terms.indices.map(i => col(s"tf_$i")).reduceLeft(_ + _)
    tf.crossJoin(broadcast(stats))
      .filter(anyTf > 0)
      .select(col("doc_id"), score.as("bm25"))
      .orderBy(col("bm25").desc, col("doc_id"))
      .limit(topK)
  }

  /** Build the BM25 inverted index as a stored artifact — the
    * build-once/query-many split [[bm25TopK]]'s doc promises (the same
    * shape the stored IVF/PQ indexes give ANN). Three parquet tables
    * under `path`:
    *  - `postings` (term, doc_id, tf, dl): one row per (term, doc)
    *    occurrence pair, repartitioned by term and sorted within
    *    partitions so a query's term probe is a pushed-down min/max-pruned
    *    scan. `dl` rides the posting (the per-posting norm every real
    *    inverted index stores) so scoring never joins a doc-length table;
    *  - `lexicon` (term, df): per-term document frequency — the
    *    vocabulary table, tiny relative to postings;
    *  - `stats`: ONE row (n_docs, sum_dl) of corpus constants.
    * Build cost: one explode + one hash aggregate — linear in corpus
    * size, the same two shuffles a word-count costs. */
  def buildBm25Index(docs: DataFrame, path: String): Unit = {
    val words = docs.select(col("doc_id"), normWords(col("text")).as("w"))
    val postings = words
      .select(col("doc_id"), size(col("w")).as("dl"), explode(col("w")).as("term"))
      .groupBy("term", "doc_id", "dl")
      .agg(count(lit(1)).cast("int").as("tf"))
    postings
      .repartition(col("term")).sortWithinPartitions("term", "doc_id")
      .write.mode("overwrite").parquet(s"$path/postings")
    // freeze the fresh layout's file counts as the compaction trigger's
    // debt baseline: a large build is not debt (Compaction.seedBase)
    Compaction.seedBase(s"$path/postings")
    val stored = docs.sparkSession.read.parquet(s"$path/postings")
    stored.groupBy("term").agg(count(lit(1)).as("df"))
      .write.mode("overwrite").parquet(s"$path/lexicon")
    words.agg(count(lit(1)).as("n_docs"),
        sum(size(col("w")).cast("long")).as("sum_dl"))
      .coalesce(1).write.mode("overwrite").parquet(s"$path/stats")
  }

  /** Incremental stored-BM25 maintenance — the same append-only
    * discipline as [[graft.ops.SimilarityOps.mergeIvfIndex]], completing
    * the build/merge/query lifecycle for keyword retrieval: documents
    * arriving after the index build are tokenized and their postings
    * APPENDED as new files (previously written posting files are never
    * rewritten, so concurrent readers keep a consistent view), while the
    * two small side tables are rewritten from O(|new| + |vocabulary|)
    * inputs — the old lexicon joined with the new docs' per-term df, and
    * the one-row stats summed with the new docs' counts. Nothing rescans
    * stored postings, so merge cost is O(|new docs|) regardless of index
    * size.
    *
    * Assumes `newDocs` is disjoint from the indexed corpus by `doc_id`
    * (the CDC contract: an update arrives as delete + insert, not a
    * silent re-add). */
  def mergeBm25Index(newDocs: DataFrame, path: String): Unit = {
    val spark = newDocs.sparkSession
    // crashed-ledger replay: the previous attempt's side-table ADD
    // committed (its signature rode the same version swap) but the
    // caller's ledger append did not — skip the whole re-apply. The
    // postings from that attempt are already appended; a re-append
    // would be answer-invisible anyway (the pivot's first() and the
    // tick's dropDuplicates collapse duplicates), but the df/stats ADD
    // is exact arithmetic and MUST NOT run twice.
    val sig = batchSignature(newDocs, "merge")
    val applied = bm25AppliedRows(spark, path)
    if (applied.exists(_._2 == sig)) return
    // re-insert guard: a tombstoned doc must stay gone until the bm25
    // tick serves the deletion physically, or the standing tombstone
    // would silently re-screen the fresh postings
    Compaction.requireNoTombClash(newDocs, path, "doc_id", "mergeBm25Index")
    val words = newDocs.select(col("doc_id"), normWords(col("text")).as("w"))
    val add = words
      .agg(count(lit(1)).as("n_docs"), sum(size(col("w")).cast("long")).as("sum_dl"))
      .head()
    // empty change batch: nothing to index, and the stats sum would be
    // null — leave every artifact untouched
    if (add.getLong(0) == 0L) return
    val postings = words
      .select(col("doc_id"), size(col("w")).as("dl"), explode(col("w")).as("term"))
      .groupBy("term", "doc_id", "dl")
      .agg(count(lit(1)).cast("int").as("tf"))
    // guardedAppend: loud failure (so the caller replays the batch) if
    // a compactor swapped the pointer mid-append — see Compaction
    Compaction.guardedAppend(s"$path/postings") { live =>
      postings
        .repartition(col("term")).sortWithinPartitions("term", "doc_id")
        .write.mode("append").parquet(live)
    }
    val newDf = postings.groupBy("term").agg(count(lit(1)).as("df"))
    val mergedLex = bm25Lexicon(spark, path)
      .unionByName(newDf)
      .groupBy("term").agg(sum("df").as("df"))
      // materialize before republishing the root the plan reads under
      .localCheckpoint(true)
    val old = bm25StatsRow(spark, path)
    publishBm25Side(spark, path, mergedLex,
      old.getLong(0) + add.getLong(0), old.getLong(1) + add.getLong(1),
      applied, sig)
  }

  /** Retract previously-indexed documents from the stored BM25 index —
    * the CDC DELETE path for keyword retrieval, completing the
    * build/merge/query/DELETE lifecycle the ANN and fingerprint
    * families have. Three coordinated moves, O(|deleted| + |vocabulary|)
    * and never a stored-postings rescan:
    *
    *  - `postings`: deletion APPENDS (doc_id) tombstones (the LSM
    *    protocol every stored index shares — [[Compaction
    *    .appendTombstones]]); both query paths screen their postings
    *    scan against the set IMMEDIATELY, and the `bm25` compaction
    *    kind makes the deletion physical and clears the served set;
    *  - `lexicon`: the deleted docs' per-term df is SUBTRACTED (rewrite
    *    from O(|vocab| + |deleted vocab|) inputs, the merge's own
    *    shape). A term netting negative — a retraction that was never
    *    absorbed, or absorbed with different text — raises loudly
    *    instead of publishing a corrupt lexicon (the vocab-view
    *    contract);
    *  - `stats`: n_docs/sum_dl subtract the deleted docs' exact counts.
    *
    * Because every operand is adjusted exactly (long arithmetic), the
    * stored scores after a retraction are bit-identical to an index
    * rebuilt on the remaining corpus — which is what the oracle
    * replays. The delete record must carry the full row image (text),
    * the CDC delete-capture contract (reference: the BEFORE DELETE
    * trigger snapshots the row, src/cdc/log_extractor.py:290-334).
    *
    * Replay safety: exact subtraction is not naturally idempotent, and
    * the engine-wide crash protocol is "the ledger replays the whole
    * batch" — a replay whose previous attempt died AFTER the
    * adjustment but BEFORE the ledger append must not subtract twice.
    * The batch's signature therefore commits IN THE SAME version swap
    * as its effect ([[publishBm25Side]]'s `_applied` log), and a
    * replayed batch whose signature is already live skips the whole
    * verb: a byte-identical re-retraction is an idempotent no-op, while
    * retracting never-absorbed content still fails loudly through the
    * phantom/negative-net guards — and those guards run BEFORE the
    * tombstone append, so a REJECTED retraction leaves the index
    * untouched: no half-state where the screens stop serving the docs
    * while the lexicon/stats still count them.
    *
    * Returns the batch's content signature, so the absorb loop can ask
    * an inline deletion-serving tick to retain it through the
    * `_applied` reset (the crash-replay contract —
    * [[graft.streaming.CdcStream.bm25Absorb]]). */
  def retractBm25Index(deletedDocs: DataFrame, path: String): String = {
    val spark = deletedDocs.sparkSession
    val sig = batchSignature(deletedDocs, "retract")
    val applied = bm25AppliedRows(spark, path)
    if (applied.exists(_._2 == sig)) return sig
    val words = deletedDocs.select(col("doc_id"), normWords(col("text")).as("w"))
    val del = words
      .agg(count(lit(1)).as("n_docs"),
        sum(size(col("w")).cast("long")).as("sum_dl"))
      .head()
    if (del.getLong(0) == 0L) return sig
    val delDf = Caches.ensureCached(words
      .select(col("doc_id"), explode(array_distinct(col("w"))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("ddf")))
    val lex = bm25Lexicon(spark, path)
    // a retracted term ABSENT from the lexicon is a retraction that was
    // never absorbed (its absorb would have written df >= 1) — the
    // df-underflow guard below can't see it (there is no row to net
    // negative), so detect it explicitly rather than publish silently
    val phantom = delDf.join(lex, Seq("term"), "left_anti")
      .select("term").limit(1).collect()
    require(phantom.isEmpty,
      s"bm25 index: retraction carries term '${phantom.headOption
        .map(_.getString(0)).getOrElse("")}' that the lexicon has never " +
        s"absorbed at $path — retraction without a matching absorb")
    val newLex = lex
      .join(delDf, Seq("term"), "left")
      .select(col("term"),
        (col("df") - coalesce(col("ddf"), lit(0L))).as("df"))
      .withColumn("_ok",
        when(col("df") >= 0L, lit(true))
          .otherwise(raise_error(concat(
            lit("bm25 index: term '"), col("term"),
            lit("' netted negative df — retraction without a matching " +
              "absorb (or with different text)")))))
      .filter(col("_ok") && col("df") > 0L).drop("_ok")
      // materialize before republishing the root the plan reads under —
      // this is also where the negative-df raise_error fires, so from
      // here on the retraction is KNOWN valid
      .localCheckpoint(true)
    val old = bm25StatsRow(spark, path)
    val (n2, dl2) = (old.getLong(0) - del.getLong(0),
      old.getLong(1) - del.getLong(1))
    require(n2 >= 0L && dl2 >= 0L,
      s"bm25 index: retraction nets negative corpus stats at $path — " +
        "more docs/tokens retracted than were ever absorbed")
    // tombstones only after every guard has passed: the screen takes
    // effect atomically-enough with the side-table publish (a crash
    // between the two replays the batch, whose signature is not yet
    // live, and the re-appended tombstones dedup through distinct()) —
    // and a REJECTED retraction never tombstones at all
    Compaction.appendTombstones(deletedDocs.select(col("doc_id")), path)
    publishBm25Side(spark, path, newLex, n2, dl2, applied, sig)
    sig
  }

  // ---- BM25 side-table atomicity & replay idempotence ---------------
  // The lexicon (per-term df), the one-row stats, and the applied-batch
  // signature log publish as ONE versioned unit: the lexicon table is
  // the version root, `_stats` and `_applied` ride its version dir as
  // sidecars (the ANN families' `_centroids`/`_codebooks` pattern), and
  // the single pointer swap is the atomic commit point of a merge's ADD
  // or a retraction's SUBTRACT. Without it the two sequential
  // overwrites expose a torn lexicon/stats pair to a concurrent probe,
  // and — worse — a batch replayed after a crash between the adjustment
  // and the caller's ledger append would apply its exact arithmetic
  // TWICE, permanently corrupting stored scores (nothing re-derives the
  // lexicon). Postings and tombstone appends stay outside the swap:
  // both are answer-idempotent on their own (duplicate posting rows
  // collapse in the query pivot's first() and the tick's
  // dropDuplicates; tombstones read through distinct()). The bm25
  // maintenance tick resets `_applied` when it serves tombstones — a
  // legal re-insert of a deleted id always crosses that tick (the merge
  // clash guard forces it), so its fresh signature can never be
  // mistaken for the pre-deletion batch's. The one exception rides the
  // reset itself: when the tick runs INLINE under a still-uncommitted
  // ledger entry (bm25Absorb's delete→re-insert batch), that batch's
  // just-committed retract signature is RETAINED through the reset's
  // version swap (Compaction.resetBm25AppliedLog retainApplied) — its
  // batch is the only one a crash can still replay, and wiping it
  // would re-open the double-subtract the log exists to prevent.

  /** Live lexicon table — the versioned copy once any merge/retraction
    * has republished it, the flat build-time table before that. */
  private[graft] def bm25Lexicon(spark: org.apache.spark.sql.SparkSession,
                                 path: String): DataFrame =
    spark.read.parquet(Compaction.resolve(s"$path/lexicon"))

  /** Live (n_docs, sum_dl) — the lexicon version's `_stats` sidecar
    * once published, the flat build-time table before that. */
  private[graft] def bm25StatsDf(spark: org.apache.spark.sql.SparkSession,
                                 path: String): DataFrame = {
    val sidecar = java.nio.file.Paths.get(
      Compaction.resolve(s"$path/lexicon"), "_stats")
    if (java.nio.file.Files.exists(sidecar))
      spark.read.parquet(sidecar.toString)
    else spark.read.parquet(s"$path/stats")
  }

  private def bm25StatsRow(spark: org.apache.spark.sql.SparkSession,
                           path: String): org.apache.spark.sql.Row =
    bm25StatsDf(spark, path).head()

  /** How many applied-batch signatures the log retains. Replays only
    * ever re-present the MOST RECENT un-ledgered batch (single-writer:
    * an older batch's ledger entry landed or the stream halted), and
    * one absorb batch commits at most two signatures (retract + merge,
    * with a possible inline-serve reset between) — so a short tail
    * suffices, and the log stays O(1) instead of growing one row per
    * merge forever on an append-only feed.
    *
    * Accepted exposure, deliberately: a DIRECT-API caller replaying a
    * batch OLDER than this tail (its ledger lost, ≥ [[Bm25AppliedKeep]]
    * publishes ago) is not detected and double-applies — out-of-window
    * replay protection is the caller's ledger's job, the same contract
    * every other index family states. The purge audit's lexicon-derived
    * `df_mass` row catches the resulting postings/lexicon disagreement
    * after the fact. */
  private val Bm25AppliedKeep = 8

  /** Applied-batch (seq, sig) rows riding the live lexicon version,
    * seq-ascending (empty for a never-merged/never-retracted index).
    * Pre-seq logs (written before the seq column existed: a sorted bag
    * of sig strings whose ORIGINAL apply order is unrecoverable) read
    * back with seq 0 — the "order unknown" marker
    * [[publishBm25Side]]'s prune exempts, since ranking them by string
    * sort could evict the MOST RECENT signature first and re-open the
    * in-window replay double-apply the log exists to prevent. */
  private def bm25AppliedRows(spark: org.apache.spark.sql.SparkSession,
                              path: String): Seq[(Long, String)] = {
    val sidecar = java.nio.file.Paths.get(
      Compaction.resolve(s"$path/lexicon"), "_applied")
    if (!java.nio.file.Files.exists(sidecar)) return Nil
    val df = spark.read.parquet(sidecar.toString)
    if (df.columns.length == 1)
      df.collect().map(r => (0L, r.getString(0))).sortBy(_._2).toSeq
    else
      df.collect().map(r => (r.getLong(0), r.getString(1)))
        .sortBy(_._1).toSeq
  }

  /** Order-independent content signature of a change batch: one tiny
    * aggregate (count + sum of per-row xxhash64 over doc_id and the
    * text's md5), tagged with the verb so a delete and a re-insert of
    * the same rows never collide. Deterministic on the batch's content,
    * which is exactly what a ledger replay re-presents. */
  private def batchSignature(docs: DataFrame, op: String): String =
    tagSignature(batchSignatureParts(docs), op)

  /** The (count, hash-sum) content pair behind [[batchSignature]] —
    * computed ONCE per verb even when two op-prefixed tags are needed
    * (the vocab merge/retract cycle pairing probes both forms; they
    * differ only in the prefix, so a second full batch aggregate per
    * call was pure waste). */
  private def batchSignatureParts(docs: DataFrame): (Long, String) = {
    // DECIMAL sum: per-row hashes span the full long range, so a plain
    // long sum overflows (ANSI raise) on batches bigger than a handful
    val r = docs
      .select(xxhash64(col("doc_id"), md5(col("text"))).as("h"))
      .agg(count(lit(1)).as("n"),
        sum(col("h").cast("decimal(38,0)")).as("hs")).head()
    val hs = if (r.isNullAt(1)) "0" else r.getDecimal(1).toBigInteger.toString
    (r.getLong(0), hs)
  }

  private def tagSignature(parts: (Long, String), op: String): String =
    s"$op:${parts._1}:${parts._2}"

  /** Publish lexicon + stats + applied-log as one atomic version swap,
    * appending `newSig` to the log and pruning it to the
    * [[Bm25AppliedKeep]] most recent signatures. */
  private def publishBm25Side(spark: org.apache.spark.sql.SparkSession,
                              path: String, newLex: DataFrame,
                              nDocs: Long, sumDl: Long,
                              applied: Seq[(Long, String)],
                              newSig: String): Unit = {
    import spark.implicits._
    val nextSeq = applied.lastOption.map(_._1).getOrElse(0L) + 1L
    // seq-0 rows are migrated pre-seq entries with unrecoverable apply
    // order: all were applied, none can be ranked for eviction, so they
    // ride every publish verbatim (bounded by history-at-migration) and
    // only the ordered modern tail prunes
    val (legacy, modern) = applied.partition(_._1 == 0L)
    val kept = legacy ++
      (modern :+ (nextSeq, newSig)).takeRight(Bm25AppliedKeep)
    Compaction.publishVersion(s"$path/lexicon") { dir =>
      newLex.write.mode("overwrite").parquet(dir)
      Seq((nDocs, sumDl)).toDF("n_docs", "sum_dl")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/_stats")
      kept.toDF("seq", "sig")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/_applied")
    }
  }

  /** Tombstone screen for the stored postings scan — deleted docs stop
    * scoring IMMEDIATELY, before the physical rewrite. Size-guarded
    * broadcast: a mass purge falls back to a shuffle anti-join. */
  private[graft] def screenBm25Tombstones(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      postings: DataFrame): DataFrame =
    Compaction.pendingTombstones(spark, path) match {
      case Some(t) => postings.join(graft.engine.Skew.maybeBroadcast(t),
        Seq("doc_id"), "left_anti")
      case None => postings
    }

  /** Screened (tombstone-dropped) postings of a stored BM25 index —
    * the [[graft.ops.PurgeAudit]]'s view of exactly what
    * [[queryBm25Index]] can score. */
  private[graft] def liveBm25Postings(
      spark: org.apache.spark.sql.SparkSession, path: String): DataFrame =
    screenBm25Tombstones(spark, path,
      spark.read.parquet(Compaction.resolve(s"$path/postings")))

  /** Query a stored BM25 index: probe the postings for the query's terms
    * (pushed-down term filter — the scan touches only matching row
    * groups, never the corpus), pivot the ≤ |terms| posting rows per doc
    * into tf columns, and score with the identical fold as [[bm25TopK]].
    * Per-term df comes from the lexicon probe (a control-plane collect of
    * ≤ |terms| rows), n_docs/sum_dl from the one-row stats table. Every
    * operand is the same exact integer the inline path derives, and the
    * scoring expression applies the same IEEE ops in the same order, so
    * results are bit-identical to [[bm25TopK]] — the stored path shares
    * its oracle. */
  def queryBm25Index(spark: org.apache.spark.sql.SparkSession, path: String,
                     terms: Seq[String], topK: Int = 10): DataFrame = {
    require(terms.nonEmpty, "queryBm25Index needs at least one query term")
    val dfByTerm = bm25Lexicon(spark, path)
      .filter(col("term").isin(terms: _*))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val stats = bm25StatsDf(spark, path)
    val hits = screenBm25Tombstones(spark, path,
      spark.read.parquet(Compaction.resolve(s"$path/postings")))
      .filter(col("term").isin(terms: _*))
      .groupBy("doc_id", "dl").pivot("term", terms).agg(first(col("tf")))
      .na.fill(0, terms)
    val avgdl = col("sum_dl").cast("double") / col("n_docs").cast("double")
    // pivot names columns by raw term value; quote with backtick
    // ESCAPING (`` doubles) so a backtick-bearing term still resolves
    // instead of breaking the parsed reference
    def termCol(t: String): Column = col("`" + t.replace("`", "``") + "`")
    def contrib(i: Int): Column = {
      val tfD = termCol(terms(i)).cast("double")
      val dfD = lit(dfByTerm.getOrElse(terms(i), 0L).toDouble)
      val idf = (col("n_docs").cast("double") - dfD + lit(0.5)) / (dfD + lit(0.5))
      idf * ((tfD * lit(2.2)) /
        (tfD + lit(1.2) * (lit(0.25) + lit(0.75) * (col("dl").cast("double") / avgdl))))
    }
    val score = terms.indices.map(contrib).reduceLeft(_ + _)
    hits.crossJoin(broadcast(stats))
      .select(col("doc_id"), score.as("bm25"))
      .orderBy(col("bm25").desc, col("doc_id"))
      .limit(topK)
  }

  /** Batched stored-BM25 probe — the shape a retrieval sweep actually
    * runs (thousands of queries per change batch): `queries` is the
    * exploded (q_id, term) relation, and ONE postings scan serves the
    * whole batch via a broadcast hash join on `term` (vs |batch|
    * term-pruned scans of [[queryBm25Index]] — the fixed scan/plan cost
    * amortizes across the batch exactly as the IVF/PQ batch probes'
    * does). Per-term df comes from one lexicon probe joined to the
    * batch's term set (both broadcast-sized); n_docs/sum_dl ride the
    * one-row stats broadcast. The only shuffle is candidate-sized: the
    * per-(query, doc) score aggregate plus the per-query top-k window.
    *
    * Scoring applies the identical per-term expression as [[bm25TopK]],
    * folded in TERM-ASCENDING order via a sorted-struct `aggregate` —
    * deterministic across runs and partitionings regardless of each
    * query's term-list order — then rounded to 6 dp (same determinism
    * treatment as the batch ANN probes' cosine; a term-count-bounded
    * double sum is exact to ~1e-15, so 6 dp is invariant to fold
    * order). A single-query batch therefore matches [[queryBm25Index]]
    * with its terms pre-sorted, up to that rounding.
    *
    * Terms absent from a document contribute exactly 0 (tf = 0 zeroes
    * the numerator), so unmatched (query, term) pairs need no rows; a
    * term absent from the whole index simply matches no postings. */
  def queryBm25IndexBatch(spark: org.apache.spark.sql.SparkSession,
                          path: String, queries: DataFrame,
                          topK: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val qt = queries.select(col("q_id"), col("term")).distinct()
    // per-(query, term) df: one probe of the tiny lexicon by the batch's
    // term set (inner join — a term the index has never seen matches no
    // postings either, so it can't contribute a candidate row)
    val qdf = qt.join(bm25Lexicon(spark, path), Seq("term"))
    val stats = bm25StatsDf(spark, path)
    val avgdl = col("sum_dl").cast("double") / col("n_docs").cast("double")
    val contrib = {
      val tfD = col("tf").cast("double")
      val dfD = col("df").cast("double")
      val idf = (col("n_docs").cast("double") - dfD + lit(0.5)) / (dfD + lit(0.5))
      idf * ((tfD * lit(2.2)) /
        (tfD + lit(1.2) * (lit(0.25) + lit(0.75) * (col("dl").cast("double") / avgdl))))
    }
    screenBm25Tombstones(spark, path,
      spark.read.parquet(Compaction.resolve(s"$path/postings")))
      .join(broadcast(qdf), "term") // ONE scan serves every query
      .crossJoin(broadcast(stats))
      .select(col("q_id"), col("doc_id"),
        struct(col("term"), contrib.as("c")).as("tc"))
      // ONE exchange serves both keyed steps (guide §2.4): clustering
      // by q_id alone satisfies the (q_id, doc_id) aggregate AND the
      // per-query top-k window below, so the explicit repartition
      // replaces what would otherwise be two back-to-back exchanges
      // (hash(q_id, doc_id) then hash(q_id)). Per-query candidate sets
      // are df-cap bounded, so q_id clustering cannot hot-spot.
      .repartition(col("q_id"))
      // collect_SET: a crash-replayed merge can leave a posting row
      // duplicated verbatim ([[mergeBm25Index]]'s replay containment);
      // the single-query probe collapses those via its pivot's first(tf),
      // and set semantics give this path the same tolerance — exact
      // duplicate (term, contribution) structs fold once — at zero extra
      // shuffle
      .groupBy("q_id", "doc_id")
      .agg(aggregate(sort_array(collect_set(col("tc"))), lit(0.0d),
        (acc, x) => acc + x.getField("c")).as("raw"))
      .select(col("q_id"), col("doc_id"), round(col("raw"), 6).as("bm25"))
      .withColumn("_rn", row_number().over(
        Window.partitionBy("q_id").orderBy(col("bm25").desc, col("doc_id"))))
      .filter(col("_rn") <= topK)
      .select("q_id", "doc_id", "bm25")
  }
}
