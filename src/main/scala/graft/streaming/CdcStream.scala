package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType
import graft.engine.{Scd2, SnapshotStore}

/** Streaming CDC → SCD2: the reference's polling loop
  * (/root/reference/src/cdc/log_extractor.py:229-270 + the loader) as a
  * Structured Streaming pipeline (SURVEY §2.9):
  *
  *  - T1 watermark: `withWatermark` on event time replaces the `.watermark`
  *    state file;
  *  - T2 trigger: `Trigger.AvailableNow` (tests/batch drain) or
  *    `ProcessingTime` replaces `while True: extract; sleep`;
  *  - T3 exactly-once: the file-source checkpoint replaces the
  *    `.processed_files` ledger — a re-delivered batch file is never
  *    reprocessed; within a micro-batch [[Scd2.merge]]'s dedup + stale
  *    guard make the merge idempotent at row level;
  *  - T5 state: the dimension snapshot itself, swapped atomically via
  *    [[SnapshotStore]] in `foreachBatch` (the deliberate formulation —
  *    `flatMapGroupsWithState` would hold the whole dimension in stream
  *    state for no benefit, SURVEY §7.4).
  */
object CdcStream {

  /** Start a stream that merges JSON change-batch files from `inDir` into
    * the SCD2 snapshot at `store`. One micro-batch ≙ one change batch.
    * Pass `opCol` to honor DELETE change records (expire, insert nothing).
    *
    * Cache hygiene: a batch routed by planned joins caches its routed
    * changes for intra-job reuse ([[Scd2.mergeSegments]]); the cleanup runs
    * after each publish, so a long-running stream holds at most one
    * routed-batch cache entry at a time and caller-held caches are
    * untouched. A small batch caches nothing.
    *
    * `manifestCarry` is a no-op kept for callers that still pass it:
    * untouched buckets are always carried by hard link.
    */
  def start(spark: SparkSession, inDir: String, checkpointDir: String,
            store: SnapshotStore, schema: StructType,
            key: String, ts: String, tie: String,
            opCol: Option[String] = None,
            availableNow: Boolean = true,
            maxFilesPerTrigger: Int = 1,
            dimBuckets: Int = 0,
            manifestCarry: Boolean = false): StreamingQuery = {
    // maxFilesPerTrigger is the throughput/latency dial: 1 keeps the
    // one-file-≙-one-batch replay granularity the tests pin; raising it
    // coalesces arriving files into fewer micro-batches, amortizing the
    // per-batch fixed cost (merge planning + snapshot publish) — the
    // production tuning bench/STREAM_r18.md measures. The merge is
    // multi-change-per-key correct either way (interval construction
    // within the batch), so coalescing changes cost, never answers.
    val changes = spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger.toString)
      .json(inDir)
      .withWatermark(ts, "1 minute")

    val writer = changes.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // jobs are named by the engine line that runs them, not by `start`
        graft.engine.CallSites.cleared(spark) {
          applyChangeBatch(store, batch, key, ts, tie, opCol, dimBuckets)
        }
      }

    (if (availableNow) writer.trigger(Trigger.AvailableNow()) else writer).start()
  }

  /** Check that the current bucketed snapshot is laid out for
    * `dimBuckets`: REFUSED when the count disagrees with the current
    * version's `_BUCKETS` sidecar (a caller that believes in another
    * modulo would merge keys into the wrong buckets), a no-op on an empty
    * or unbucketed store. Every version already holds all of its buckets
    * (carried ones by hard link), so there is nothing to publish. */
  def materializeSnapshot(store: SnapshotStore, dimBuckets: Int): Unit =
    if (store.currentPartitionCols() == Seq(BucketCol)) {
      val stamped = store.currentVersionSidecar(DimBucketsMeta)
      require(stamped.contains(dimBuckets.toString),
        s"materializeSnapshot: bucket count $dimBuckets does not " +
          s"match the current version's $DimBucketsMeta sidecar " +
          s"(${stamped.getOrElse("absent")})")
    }

  /** The dim snapshot's key-bucket partition column —
    * `pmod(xxhash64(key), dimBuckets)`, hive-materialized so a
    * micro-batch's read AND write touch only the buckets its keys hash
    * into. Named distinctively (payload collision is refused loudly);
    * readers that compare against an unbucketed merge drop it. */
  val BucketCol = "graft_kb"

  /** `df` with its [[BucketCol]] key-bucket column appended — the ONE
    * definition of the snapshot's bucket function, shared by the
    * micro-batch merge and by callers pre-seeding a bucketed snapshot
    * (a seed published with a different hash would route every later
    * batch to the wrong partitions). */
  def bucketed(df: DataFrame, key: String, dimBuckets: Int): DataFrame =
    df.withColumn(BucketCol, bucketOf(df(key), dimBuckets))

  private def bucketOf(key: Column, dimBuckets: Int): Column =
    pmod(xxhash64(key), lit(dimBuckets.toLong)).cast("int")

  /** One micro-batch of the streaming SCD2 merge — the foreachBatch
    * body of [[start]], public so every publish mode is directly
    * testable.
    *
    * Every mode keeps one layout ([[SnapshotStore]]): the dimension is a
    * set of buckets, each a history segment (closed versions,
    * hard-linked forward, never rewritten) plus the current rows.
    * `dimBuckets <= 0` is the one-bucket case, a flat snapshot dir;
    * `dimBuckets > 0` hive-partitions it by [[BucketCol]], and a key's
    * whole version chain lives in its bucket, so a merge over the
    * buckets a batch's keys hash into IS the global merge. A batch reads
    * the segments of just those buckets (their set collected with the
    * batch's keys, bounded by `dimBuckets`), runs one
    * [[Scd2.mergeSegments]] and one [[SnapshotStore.publishSegments]]:
    * each touched bucket rewrites its current rows and appends the
    * versions it closes as one new history file, and every untouched
    * bucket is carried by hard link (`manifestCarry` is a no-op, as in
    * [[start]]). Per-batch write work therefore tracks the touched
    * buckets' current rows, not the dim.
    *
    * Bootstrap (an empty store), migration (a snapshot laid out for
    * another `dimBuckets`, in either direction) and a batch that WIDENS
    * the schema (the live ALTER TABLE case — evolveSchema appends
    * batch-only columns, null for history) make the same calls with
    * carry off: the whole dimension is merged and rewritten, so no
    * carried file can lack a new column or sit in a wrong bucket. All
    * are rare, loud-in-the-log events; steady state carries. A carried
    * batch the merge knows changes no row publishes nothing. */
  def applyChangeBatch(store: SnapshotStore, batch: DataFrame,
                       key: String, ts: String, tie: String,
                       opCol: Option[String], dimBuckets: Int = 0,
                       manifestCarry: Boolean = false): Unit = {
    require(!batch.columns.contains(BucketCol),
      s"applyChangeBatch: batch carries a '$BucketCol' column — the " +
        "name is reserved for the snapshot's key-bucket partition")
    val buckets = dimBuckets > 0
    // the batch's keys (and buckets), collected while it fits a broadcast:
    // the same job answers "is the batch empty?" (an empty batch publishes
    // nothing) and narrows the merge's dim-side work to the keys it touches
    val keys = Scd2.batchKeys(batch, key,
      if (buckets) Some(bucketOf(batch(key), dimBuckets)) else None)
    if (keys.batchIsEmpty(batch)) return
    // the CDC op column is TRANSPORT, not payload: keep it out of the
    // dimension-schema derivations (an empty-batch bootstrap would bake
    // a junk op column into every published version, and a snapshot
    // pre-seeded WITHOUT it would spuriously trip the widened-schema
    // full republish on the first batch). The merge still reads the op
    // from the batch itself.
    val payload = opCol.fold(batch)(c => batch.drop(c))
    // layout decision from a FILESYSTEM probe, never a schema read. The
    // bucket COUNT must match the CURRENT VERSION's `_BUCKETS` sidecar
    // too — dirs are modulo-dimBuckets, so a stream restarted with a
    // different dimBuckets would look keys up in the WRONG dirs (split
    // version chains, duplicate current rows, silently); a count change
    // instead re-buckets everything. The sidecar lives INSIDE the version
    // dir and rides every publish's all-or-nothing pointer flip, so data
    // and meta can never disagree across a crash.
    val kept = store.currentVersion().nonEmpty &&
      store.currentPartitionCols() == Seq(BucketCol).filter(_ => buckets) &&
      (!buckets || store.currentVersionSidecar(DimBucketsMeta).contains(dimBuckets.toString))
    lazy val touched = keys.buckets.getOrElse(graft.engine.CallSites.named(batch.sparkSession) {
      bucketed(batch, key, dimBuckets).select(col(BucketCol)).distinct().collect()
    }.map(_.getInt(0)).toSeq)
    // a widened schema carries nothing (see above)
    val segments = (if (!kept) None
      else store.readSegments(if (buckets) Some(touched.map(b => s"$BucketCol=$b")) else None))
      .map { case (h, l) => (h.map(_.drop(BucketCol)), l.drop(BucketCol)) }
      .filter { case (_, l) => Scd2.evolveSchema(l, payload).columns.length == l.columns.length }
    val (history, live) = segments.getOrElse((None, Scd2.evolveSchema(
      store.read().map(_.drop(BucketCol)).getOrElse(Scd2.rebuild(payload.limit(0), key, ts, tie)),
      payload)))
    val merged = Scd2.mergeSegments(history, live, batch, key, ts, tie, opCol, keys)
    // a carried batch known to change nothing (every change stale, or a
    // DELETE of an absent key) would publish a copy of the current version
    if (segments.nonEmpty && merged.unchanged) { merged.cleanup(); return }
    def withBucket(df: DataFrame) = if (buckets) bucketed(df, key, dimBuckets) else df
    // cleanup in finally: a throwing publish replays the batch, and each
    // failed attempt must not leave the routed-batch cache resident (a
    // crash-looping stream accumulates one per attempt)
    try store.publishSegments(withBucket(merged.closed), withBucket(merged.current),
      carry = segments.nonEmpty,
      if (!buckets) None else Some(SnapshotStore.Buckets(BucketCol, dimBuckets,
        if (segments.isEmpty) Nil else touched)),
      if (buckets) Map(DimBucketsMeta -> dimBuckets.toString) else Map.empty)
    finally merged.cleanup()
  }

  /** The per-version bucket-count sidecar — the layout's equivalent of
    * the purge queue's `_SCHEMA`: the guard that keeps a restarted
    * stream from merging modulo-N keys into modulo-M dirs. Rides every
    * publish's atomic pointer flip (and purgeKeys' rewrites carry it),
    * so the count can never disagree with the dirs it describes. */
  private[graft] val DimBucketsMeta = "_BUCKETS"

  /** One writer task per bucket → one file per bucket dir — the write
    * clustering a bucketed full publish wants (as
    * [[SnapshotStore.publishSegments]] clusters its own). Public so
    * harnesses pre-seeding a bucketed snapshot cluster their seed the
    * same way. */
  def clustered(df: DataFrame): DataFrame =
    df.repartition(df(BucketCol))

  /** Stream-stream interval join: each left event pairs with the right
    * events of the same key whose event time lies within
    * [left.ts - before, left.ts + after]. Both sides carry watermarks, so
    * Spark bounds the join state on each side by the watermark + the
    * interval — the canonical funnel/attribution join (click ⋈ purchase)
    * at unbounded-stream scale. The same call works on batch frames
    * (windowless inner join + the range predicate), which is how the
    * parity test pins its semantics. */
  def intervalJoin(left: DataFrame, right: DataFrame, key: String,
                   leftTs: String, rightTs: String,
                   before: String, after: String): DataFrame = {
    val l = left.withWatermark(leftTs, "1 minute").as("l")
    val r = right.withWatermark(rightTs, "1 minute").as("r")
    l.join(r,
      col(s"l.$key") === col(s"r.$key") &&
        col(s"r.$rightTs") >= col(s"l.$leftTs") - expr(s"INTERVAL $before") &&
        col(s"r.$rightTs") <= col(s"l.$leftTs") + expr(s"INTERVAL $after"))
  }

  /** Per-key running state for a stream of (key, epochSeconds, value)
    * rows. */
  final case class KeyState(key: Long, n_events: Long, max_epoch: Long,
                            total_cents: Long)

  /** Custom stateful operator via `flatMapGroupsWithState` — the right
    * tool exactly when per-key state is small and hand-rolled (a few
    * counters), unlike the SCD2 dimension (which stays in
    * foreachBatch + snapshot, SURVEY §7.4). Emits each key's updated
    * running (count, max event time, exact total-in-cents) every
    * micro-batch; update output mode, no timeout, so state size is
    * O(distinct keys). Value totals accumulate as integer cents —
    * order-independent, so stream and batch agree bit-for-bit. */
  def runningCounts(events: Dataset[(Long, Long, Long)]): Dataset[KeyState] = {
    import events.sparkSession.implicits._
    events.groupByKey(_._1)
      .flatMapGroupsWithState[KeyState, KeyState](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (key: Long, rows: Iterator[(Long, Long, Long)],
         state: GroupState[KeyState]) =>
          val prev = state.getOption.getOrElse(KeyState(key, 0L, Long.MinValue, 0L))
          val next = rows.foldLeft(prev) { (s, r) =>
            KeyState(key, s.n_events + 1L, math.max(s.max_epoch, r._2),
              s.total_cents + r._3)
          }
          state.update(next)
          Iterator.single(next)
      }
  }

  /** The one file-stream launcher every streamed index family shares:
    * one JSON file ≙ one micro-batch (`maxFilesPerTrigger = 1`, the
    * replay granularity the ledger protocol keys on), the checkpoint
    * making file delivery exactly-once, drained with `AvailableNow`.
    * `step` is the family's absorb followed by its own ticks; a tick
    * runs AFTER the batch is fully applied and ledgered, so a crash
    * inside it re-runs only the (idempotent) tick, never the merge.
    *
    * The replay memo is re-seeded from the ledger at stream start: a
    * prior stream in this JVM may have run against an index since
    * rebuilt at the same `root` (ledger wiped, batch ids restarted) — a
    * stale high-water would silently skip absorbing the new batches. */
  private def launch(spark: SparkSession, inGlob: String,
                     checkpointDir: String, schema: StructType,
                     root: String)(
                     step: (DataFrame, Long) => Unit): StreamingQuery = {
    absorbedHighWater.remove((root, checkpointDir))
    spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", "1")
      .json(inGlob)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch(step)
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /** The between-batches tick cadence: every `n`-th micro-batch after
    * the first; `n <= 0` disables the tick. Periodic, not per batch:
    * compaction rewrites the whole table, so inlining it every batch
    * would make total write work quadratic in stream lifetime; every N
    * batches it amortizes to linear. */
  private def due(n: Int, id: Long): Boolean = n > 0 && id > 0 && id % n == 0

  /** Streaming incremental dedup — the screen-and-absorb loop a
    * continuous ingestion pipeline runs ([[screenAndAbsorb]] with
    * [[Screen.fingerprint]]): each micro-batch of documents is screened
    * against the stored fingerprint index, the near-dup audit table
    * handed to `onHits` (route to a quarantine sink, a metrics log, or a
    * filter), then absorbed into the index so LATER batches are screened
    * against this one too.
    *
    * Long-running streams accumulate append debt in the index (one
    * postings file per batch per partition). `maintainEvery` = N > 0
    * runs [[maintainStreamedIndex]] every N batches INSIDE the trigger
    * loop — between batches, never concurrent with a merge, which is the
    * single-writer discipline Compaction requires (merge / compact /
    * vacuum are scheduled, never concurrent; an external compactor
    * racing this stream's merges would lose appended rows to the next
    * vacuum, which the merge-side pointer guard turns into a loud
    * replayable failure rather than silent loss). 0 disables the tick —
    * then schedule the maintenance yourself at moments the stream is
    * quiesced (stopped, or drained between AvailableNow runs). */
  def dedupScreenStream(spark: SparkSession, inGlob: String,
                        checkpointDir: String, schema: StructType,
                        indexPath: String,
                        onHits: (DataFrame, Long) => Unit,
                        maintainEvery: Int = 0,
                        maintainMaxFiles: Int = 8): StreamingQuery =
    launch(spark, inGlob, checkpointDir, schema, indexPath) { (batch, id) =>
      screenAndAbsorb(spark, batch, id, indexPath, checkpointDir,
        Screen.fingerprint, onHits)
      if (due(maintainEvery, id))
        maintainStreamedIndex(spark, indexPath, "fingerprint", maintainMaxFiles)
    }

  /** One scheduled-maintenance tick for ANY streamed index family — the
    * glue the lifecycle verbs need to actually run beside a live stream
    * (the reference runs its GC inline on a cadence the same way,
    * `log_extractor.py:212-227,266-267`):
    *
    *  1. the Compaction verb for `kind`: vacuum (reclaims versions
    *     superseded by the PREVIOUS tick's compaction, i.e. at least one
    *     full maintenance window old, so any reader planned against them
    *     has long finished its scan), sidecar collapse, then a
    *     debt-triggered compact behind the atomic pointer swap (no-op
    *     below the threshold — calling this tick too often costs two
    *     file listings, not a rewrite);
    *  2. the idempotency ledger gets the same treatment (it appends one
    *     tiny file per batch forever).
    *
    * Every stream's `maintainEvery` wiring lands here, so a fix to the
    * tick's ordering or error handling reaches every family at once.
    * MUST run while no merge is in flight on `indexPath` — from the
    * stream's own foreachBatch (between batches), or with the stream
    * stopped/drained. */
  def maintainStreamedIndex(spark: SparkSession, indexPath: String,
                            kind: String,
                            maxFilesPerPartition: Int = 8,
                            retainApplied: Seq[String] = Nil): Unit = {
    import graft.engine.{Compaction, Ledger}
    Compaction.maintainIndex(spark, indexPath, kind, maxFilesPerPartition,
      retainApplied)
    Compaction.vacuum(s"$indexPath/_ledger")
    new Ledger(spark, s"$indexPath/_ledger").compact(maxFilesPerPartition)
    ()
  }

  /** What [[screenAndAbsorb]] needs to know about one screened index
    * family: its maintenance `kind`, the `key` column a batch row (and a
    * key-only DELETE row) carries, the `hitCol` naming the indexed key in
    * the screen's hits, and the family's verbs — `prepare` (turns the
    * batch's upserts into what the index stores), `query` (spark, index,
    * prepared upserts → hits), `tombstone` and `merge`. */
  final case class Screen(kind: String, key: String, hitCol: String,
                          prepare: DataFrame => DataFrame,
                          query: (SparkSession, String, DataFrame) => DataFrame,
                          tombstone: (DataFrame, String) => Unit,
                          merge: (DataFrame, String) => Unit)

  object Screen {
    import graft.ops.{DedupOps, Multimodal, SimilarityOps}

    /** Text near-dups: the batch broadcast-probes the stored fingerprint
      * index ([[DedupOps.queryFingerprintIndex]] — the index never
      * shuffles); hits are (doc_new, doc_old, n_shared, containment). */
    val fingerprint: Screen = Screen("fingerprint", "doc_id", "doc_old",
      identity, (s, p, adds) => DedupOps.queryFingerprintIndex(s, p, adds),
      DedupOps.tombstoneFingerprintIndex, DedupOps.mergeFingerprintIndex(_, _))

    /** Embedding near-dups against the stored IVF index with the BATCH
      * probe ([[SimilarityOps.queryIvfIndexBatch]] — the whole batch
      * shares ONE dynamically-partition-pruned cell scan): hits are rows
      * pairing with an indexed vector at `cosine ≥ minCosine`. Absorbed
      * against frozen centroids ([[SimilarityOps.mergeIvfIndex]]). */
    def ivf(topK: Int, minCosine: Double, nprobe: Int): Screen =
      Screen("ivf", "vec_id", "vec_id", identity,
        (s, p, adds) => SimilarityOps.queryIvfIndexBatch(s, p, adds, topK,
          nprobe).filter(col("cosine") >= minCosine),
        SimilarityOps.tombstoneAnnIndex, SimilarityOps.mergeIvfIndex)

    /** [[ivf]]'s quantized sibling: pruned ADC over the stored IVF-PQ
      * index (nprobe cells + byte codes — the screen never reads a float
      * vector), absorbed against both frozen control planes. ADC is a
      * DISTANCE, so hits are rows with `adc_dist <= maxAdc` (an exact
      * copy of an indexed vector screens at its quantization distortion,
      * not 0 — size the threshold from the index's meta distortion). */
    def ivfPq(topK: Int, maxAdc: Double, nprobe: Int): Screen =
      Screen("ivfpq", "vec_id", "vec_id", identity,
        (s, p, adds) => SimilarityOps.queryIvfPqIndexBatch(s, p, adds, topK,
          nprobe).filter(col("adc_dist") <= maxAdc),
        SimilarityOps.tombstoneAnnIndex, SimilarityOps.mergeIvfPqIndex)

    /** Image near-dups: the batch's (doc_id, payload) rows — payload
      * base64 text (the JSON file transport) or binary — are decoded and
      * signature-hashed ONCE ([[Multimodal.imageAHash]], cached for the
      * batch's scope so screen and absorb share it), screened against
      * the stored banded hash index at Hamming ≤ `maxDist`
      * ([[DedupOps.queryHashIndex]]) and absorbed as band-row appends. */
    def image(maxDist: Int): Screen =
      Screen("ahash", "doc_id", "doc_old",
        adds => graft.engine.Caches.ensureCached(Multimodal.imageAHash(
          if (adds.schema("payload").dataType ==
              org.apache.spark.sql.types.StringType)
            adds.select(col("doc_id"), unbase64(col("payload")).as("payload"))
          else adds.select(col("doc_id"), col("payload")))),
        (s, p, sk) => DedupOps.queryHashIndex(s, sk, p, maxDist),
        DedupOps.tombstoneHashIndex, DedupOps.mergeHashIndex)
  }

  /** One screen-and-absorb micro-batch for the `screen` family — the
    * foreachBatch body of the four screening streams, public so the
    * replay protocol is directly testable. `streamId` scopes the
    * idempotency ledger rows (two streams feeding one index must not
    * collide on micro-batch ids); the streams pass their checkpoint dir.
    *
    * Op-aware: op='DELETE' rows (key only) route to the family's
    * tombstone verb — the CDC deletion path, end-to-end in the stream —
    * under the SAME ledger entry as the batch's merge. Hits against
    * keys this very batch deletes are not real matches (the indexed row
    * is gone the moment the batch commits), so they are screened out
    * before `onHits` sees them. The delete→re-insert UPDATE (same batch
    * or a later one) is handled by serving pending deletions inline:
    * when the batch's merge collides with a tombstone, the maintenance
    * tick runs first (between batches — the single-writer-safe moment),
    * physically removing the old rows and clearing the tombstones, and
    * only then does the merge land. Raising instead would crash-loop the
    * stream: the checkpointed batch replays identically forever and the
    * scheduled tick can never run behind a failing batch.
    *
    * Replay safety: foreachBatch re-delivers a batch with the SAME id
    * after a crash before checkpoint commit. The screen is read-only
    * (always re-run — `onHits` sinks must themselves be idempotent or
    * keyed by batch id, the standard foreachBatch contract), but the
    * merge appends, so it is applied once per (streamId, id) by
    * [[absorbOnce]]. The residual window — crash after the merge STARTS
    * but before the ledger append — spans the whole multi-write merge
    * (mergeFingerprintIndex is three separate writes, see its doc),
    * analogous to the reference's window between DB commit and
    * `.processed_files` append (scd2_loader.py:523-538). A crash inside
    * it replays the full merge on restart; the duplicates that can leave
    * behind are exact-row duplicates every family's query drops at
    * candidate level (and its compaction removes), so screening answers
    * survive the replay unchanged.
    *
    * Per-batch cache scope: the screen/merge ops register the batch's
    * derived tables; they are released at batch end so a long-running
    * stream stays flat. `onHits` must therefore consume its DataFrame
    * eagerly. */
  def screenAndAbsorb(spark: SparkSession, batch: DataFrame, id: Long,
                      indexPath: String, streamId: String, screen: Screen,
                      onHits: (DataFrame, Long) => Unit): Unit = {
    if (!batch.isEmpty) graft.engine.Caches.withCached {
      val (adds, deletes) = splitOps(batch)
      val dels = deletes.map(_.select(screen.key)).filterNot(_.isEmpty)
      val prepared =
        if (deletes.isEmpty || !adds.isEmpty) Some(screen.prepare(adds))
        else None
      prepared.foreach { p =>
        val raw = screen.query(spark, indexPath, p)
        onHits(dels.fold(raw)(d => raw.join(
          d.withColumnRenamed(screen.key, screen.hitCol),
          Seq(screen.hitCol), "left_anti")), id)
      }
      absorbOnce(spark, indexPath, streamId, id) {
        dels.foreach(screen.tombstone(_, indexPath))
        prepared.foreach { p =>
          serveTombstonesIfClashing(spark, indexPath, screen.kind, p,
            screen.key)
          screen.merge(p, indexPath)
        }
      }
    }
    ()
  }

  /** Run the family's maintenance tick iff the batch about to merge
    * collides with a pending tombstone — the inline deletion-serve that
    * makes the CDC delete→re-insert update safe in a stream. Replay-
    * safe: a re-run re-forces an idempotent rewrite. */
  private def serveTombstonesIfClashing(spark: SparkSession,
                                        indexPath: String, kind: String,
                                        adds: DataFrame,
                                        key: String = "doc_id",
                                        retainApplied: Seq[String] = Nil): Unit = {
    val clash = graft.engine.Compaction
      .pendingTombstones(spark, indexPath, key).exists { t =>
        adds.select(col(key))
          .join(graft.engine.Skew.maybeBroadcast(t), Seq(key), "left_semi")
          .limit(1).count() > 0L
      }
    if (clash) maintainStreamedIndex(spark, indexPath, kind,
      retainApplied = retainApplied)
  }

  /** Split an op-aware batch into (upserts, Some(deletes)), both without
    * the `op` column — or (batch, None) when no `op` column rides along.
    * Lazy: no Spark job runs here, so a family probes emptiness only
    * where it needs to. With no `op` column the upserts ARE the batch,
    * which every caller has already found non-empty — hence the
    * `dels.isEmpty || !adds.isEmpty` test the callers use. Key-only
    * families select their key from the deletes; the retracting families
    * (vocab, BM25, distinct) need the full row image the CDC delete
    * record carries. */
  private def splitOps(batch: DataFrame): (DataFrame, Option[DataFrame]) =
    if (batch.columns.contains("op"))
      (batch.filter(coalesce(col("op") =!= "DELETE", lit(true))).drop("op"),
        Some(batch.filter(col("op") === "DELETE").drop("op")))
    else (batch, None)

  /** Apply `merge` exactly once per (index, stream, micro-batch id) —
    * the reference's processed-batch ledger protocol
    * (`scd2_loader.py:501-538`), shared by
    * every absorb family: check the per-process high-water memo (seeded
    * from one ledger scan per (index, stream) per process — micro-batch
    * ids are monotonic per checkpoint, so after seeding, replay
    * detection is an in-memory compare instead of a full ledger scan per
    * trigger), run the merge, append the ledger row, advance the memo.
    * A merge that throws (e.g. the Compaction pointer guard) leaves no
    * ledger row, so the batch replays on restart. */
  private def absorbOnce(spark: SparkSession, indexPath: String,
                         streamId: String, id: Long)(merge: => Unit): Unit = {
    val memoKey = (indexPath, streamId)
    val highWater = absorbedHighWater.getOrElseUpdate(memoKey, {
      // one ledger scan per (index, stream) per process: the max
      // batch id this stream has ever absorbed (-1 = none)
      import org.apache.spark.sql.functions.{col, max}
      val ledger = new graft.engine.Ledger(spark, s"$indexPath/_ledger")
      Option(ledger.read().filter(col("filename") === streamId)
        .agg(max(col("batch_id").cast("long"))).head().get(0))
        .map(_.asInstanceOf[Long]).getOrElse(-1L)
    })
    if (id > highWater) {
      merge
      new graft.engine.Ledger(spark, s"$indexPath/_ledger")
        .append(streamId, id.toString)
      absorbedHighWater.update(memoKey, id)
    }
  }

  // per-process high-water mark of absorbed micro-batch ids, keyed by
  // (index path, stream id) — see [[absorbOnce]]
  private val absorbedHighWater =
    scala.collection.concurrent.TrieMap.empty[(String, String), Long]

  /** Streaming embedding dedup — [[dedupScreenStream]]'s ANN twin and
    * the CDC×ANN composition this platform exists for: each micro-batch
    * of (vec_id, embedding) rows is screened and absorbed through
    * [[screenAndAbsorb]] with [[Screen.ivf]]. `maintainEvery` = N > 0
    * runs the `ivf` maintenance tick every N batches inside the trigger
    * loop.
    *
    * `retrainEvery` = N > 0 additionally CHECKS the centroid-drift
    * signal every N batches and, when it trips, RETRAINS the index
    * between batches ([[graft.ops.SimilarityOps.retrainIvfIndex]] —
    * atomic republish, drift log reset) — the ANN twin of the
    * tokenizer stream's UNK-drift retrain, closing the churn lifecycle
    * (build → merge drift → signal → retrain) inside the stream that
    * feeds the churn. The retrain is deterministic on the live vector
    * set and self-healing, so a crash mid-tick replays safely; it is
    * gated on [[graft.ops.SimilarityOps.shouldRetrain]], so a stream
    * whose feed matches the indexed distribution never pays the
    * O(corpus) rebuild. 0 (default) keeps drift a scheduled-rebuild
    * decision outside the stream. */
  def annScreenStream(spark: SparkSession, inGlob: String,
                      checkpointDir: String, schema: StructType,
                      indexPath: String, topK: Int, minCosine: Double,
                      onHits: (DataFrame, Long) => Unit,
                      nprobe: Int = 1,
                      maintainEvery: Int = 0,
                      maintainMaxFiles: Int = 8,
                      retrainEvery: Int = 0,
                      retrainThreshold: Double = 2.0,
                      retrainIters: Int = 2): StreamingQuery =
    launch(spark, inGlob, checkpointDir, schema, indexPath) { (batch, id) =>
      import graft.ops.SimilarityOps
      screenAndAbsorb(spark, batch, id, indexPath, checkpointDir,
        Screen.ivf(topK, minCosine, nprobe), onHits)
      if (due(maintainEvery, id))
        maintainStreamedIndex(spark, indexPath, "ivf", maintainMaxFiles)
      if (due(retrainEvery, id) &&
          SimilarityOps.shouldRetrain(spark, indexPath, retrainThreshold))
        SimilarityOps.retrainIvfIndex(spark, indexPath, iters = retrainIters)
    }

  /** Streaming IVF-PQ screen-and-absorb — [[annScreenStream]]'s
    * quantized sibling ([[Screen.ivfPq]]); the maintenance tick runs
    * the `ivfpq` compaction kind.
    *
    * Codebook drift: this stream CANNOT self-retrain the way
    * [[annScreenStream]] does — PQ codes are lossy (byte codes, no
    * stored vectors), so a rebuild needs the original corpus, which
    * only the caller has. `rebuildEvery` = N > 0 closes the lifecycle
    * with that honesty intact: the caller supplies `rebuildFrom`, a
    * reader of its source of truth (e.g. the snapshot store's current
    * view — which the absorbed batches also land in), and every N
    * batches the tick checks
    * [[graft.ops.SimilarityOps.shouldRetrainIvfPq]] — BOTH drift
    * ratios, ADC distortion AND coarse assigned-cell d² (a
    * cluster-structure shift with flat distortion degrades cell
    * pruning silently) — and, when one trips, rebuilds between batches
    * via [[graft.ops.SimilarityOps.rebuildIvfPqIndex]] (atomic
    * republish of centroids + codebooks + codes under one version swap,
    * tombstones served, drift log reset). 0 (default) keeps drift a
    * scheduled-rebuild decision outside the stream.
    * `rebuildIters`/`rebuildPqIters` thread the coarse-quantizer and
    * codebook training iteration counts into that rebuild — pass the
    * counts the index was originally built with, or the rebuilt index
    * trains to a different state than the fresh-build parity the
    * oracle assumes. */
  def ivfPqScreenStream(spark: SparkSession, inGlob: String,
                        checkpointDir: String, schema: StructType,
                        indexPath: String, topK: Int, maxAdc: Double,
                        onHits: (DataFrame, Long) => Unit,
                        nprobe: Int = 2,
                        maintainEvery: Int = 0,
                        maintainMaxFiles: Int = 8,
                        rebuildEvery: Int = 0,
                        rebuildThreshold: Double = 2.0,
                        rebuildFrom: SparkSession => DataFrame = null,
                        rebuildIters: Int = 2,
                        rebuildPqIters: Int = 1): StreamingQuery = {
    require(rebuildEvery <= 0 || rebuildFrom != null,
      "ivfPqScreenStream: rebuildEvery > 0 needs rebuildFrom — PQ codes " +
        "are lossy, the rebuild must read the caller's source corpus")
    launch(spark, inGlob, checkpointDir, schema, indexPath) { (batch, id) =>
      import graft.ops.SimilarityOps
      screenAndAbsorb(spark, batch, id, indexPath, checkpointDir,
        Screen.ivfPq(topK, maxAdc, nprobe), onHits)
      if (due(maintainEvery, id))
        maintainStreamedIndex(spark, indexPath, "ivfpq", maintainMaxFiles)
      if (due(rebuildEvery, id) &&
          SimilarityOps.shouldRetrainIvfPq(spark, indexPath, rebuildThreshold))
        SimilarityOps.rebuildIvfPqIndex(rebuildFrom(spark), indexPath,
          iters = rebuildIters, pqIters = rebuildPqIters)
    }
  }

  /** Streaming IMAGE dedup — [[dedupScreenStream]]'s multimodal twin
    * ([[Screen.image]]): each micro-batch of (doc_id, payload) rows
    * carrying REAL image bytes is decoded, signature-hashed, screened
    * against the stored banded hash index and absorbed. The maintenance
    * tick runs the `ahash` compaction (drops replay-duplicated band
    * rows, re-clusters buckets). Payloads arrive base64-coded in the
    * JSON batch files (the file-stream transport; a production feed
    * reads a binary-file source instead — only the payload column's
    * provenance changes). */
  def imageScreenStream(spark: SparkSession, inGlob: String,
                        checkpointDir: String, schema: StructType,
                        indexPath: String, maxDist: Int,
                        onHits: (DataFrame, Long) => Unit,
                        maintainEvery: Int = 0,
                        maintainMaxFiles: Int = 8): StreamingQuery =
    launch(spark, inGlob, checkpointDir, schema, indexPath) { (batch, id) =>
      screenAndAbsorb(spark, batch, id, indexPath, checkpointDir,
        Screen.image(maxDist), onHits)
      if (due(maintainEvery, id))
        maintainStreamedIndex(spark, indexPath, "ahash", maintainMaxFiles)
    }

  /** Streaming incremental-view maintenance for the vocabulary
    * aggregate: each document micro-batch's per-word partial counts are
    * absorbed into the stored view ([[graft.ops.TextOps.mergeVocabIndex]])
    * exactly once under the same (stream, batch-id) ledger protocol the
    * retrieval indexes use — a crash between merge and checkpoint
    * commit replays the batch, and the ledger high-water makes the
    * re-merge a no-op, so partial counts are never double-added (the
    * failure mode an additive aggregate cannot tolerate). The
    * maintenance tick runs the re-aggregating `vocab` compaction. */
  def vocabAbsorbStream(spark: SparkSession, inGlob: String,
                        checkpointDir: String, schema: StructType,
                        viewPath: String,
                        maintainEvery: Int = 0,
                        maintainMaxFiles: Int = 8): StreamingQuery =
    launch(spark, inGlob, checkpointDir, schema, viewPath) { (batch, id) =>
      vocabAbsorb(spark, batch, id, viewPath, checkpointDir)
      if (due(maintainEvery, id))
        maintainStreamedIndex(spark, viewPath, "vocab", maintainMaxFiles)
    }

  /** [[vocabAbsorbStream]] plus the TOKENIZER lifecycle — the complete
    * streaming loop a production corpus runs: each batch's word counts
    * absorb into the vocab view exactly once (the ledger protocol), and
    * every `retrainEvery` batches the tick measures the BATCH's UNK
    * mass under the stored tokenizer
    * ([[graft.ops.TextOps.shouldRetrainTokenizer]] — data that drifted
    * from the build corpus pushes it up) and, when it trips (or no
    * tokenizer exists yet), refreshes the artifact FROM THE VIEW
    * ([[graft.ops.TextOps.buildTokenizerFromView]] — no corpus pass;
    * the view the stream itself maintains IS the training input). The
    * retrain runs between batches under the single-writer discipline,
    * is idempotent (a replayed tick rebuilds the same artifact from the
    * same view), and readers switch atomically via the artifact's
    * versioned-table pointers. */
  def vocabTokenizerStream(spark: SparkSession, inGlob: String,
                           checkpointDir: String, schema: StructType,
                           viewPath: String, tokPath: String,
                           rules: Int = 3,
                           retrainEvery: Int = 1,
                           unkThreshold: Double = 0.01,
                           maintainEvery: Int = 0,
                           maintainMaxFiles: Int = 8): StreamingQuery =
    launch(spark, inGlob, checkpointDir, schema, viewPath) { (batch, id) =>
      vocabAbsorb(spark, batch, id, viewPath, checkpointDir)
      // batch 0 included on purpose: the first batch seeds the artifact
      if (retrainEvery > 0 && id % retrainEvery == 0)
        maintainTokenizer(spark, viewPath, tokPath, batch, rules,
          unkThreshold)
      if (due(maintainEvery, id))
        maintainStreamedIndex(spark, viewPath, "vocab", maintainMaxFiles)
    }

  /** One tokenizer-maintenance tick: retrain from the view if no
    * artifact exists yet or `sample`'s UNK mass under the stored
    * artifact exceeds `unkThreshold`. Returns true if a retrain ran.
    * Public for direct tick testing; single-writer discipline. */
  def maintainTokenizer(spark: SparkSession, viewPath: String,
                        tokPath: String, sample: DataFrame, rules: Int,
                        unkThreshold: Double): Boolean = {
    import graft.ops.TextOps
    val missing = !TextOps.tokenizerExists(tokPath)
    val due = missing || (!sample.isEmpty &&
      TextOps.shouldRetrainTokenizer(spark, sample, tokPath, unkThreshold))
    if (due) TextOps.buildTokenizerFromView(spark, viewPath, rules, tokPath)
    due
  }

  /** One vocab-absorb micro-batch — public for direct replay testing.
    *
    * Op-aware: a batch carrying an `op` column routes `op = 'DELETE'`
    * rows through [[graft.ops.TextOps.retractVocabIndex]] (negative
    * partials; the delete record must carry the full text image, the
    * CDC delete-capture contract) and the rest through the additive
    * merge — both under ONE ledger entry, so a replayed mixed batch
    * re-applies neither half. Without an `op` column the batch is
    * purely additive. Stable (stream, batch-id) tags: a crashed-ledger
    * replay lays down byte-identical partial rows that the view's
    * batch-tagged dedup collapses (TextOps.vocabPartials). */
  def vocabAbsorb(spark: SparkSession, batch: DataFrame, id: Long,
                  viewPath: String, streamId: String): Unit = {
    import graft.ops.TextOps
    if (!batch.isEmpty) graft.engine.Caches.withCached {
      absorbOnce(spark, viewPath, streamId, id) {
        val tag = s"$streamId#$id"
        val (adds, dels) = splitOps(batch)
        if (dels.isEmpty || !adds.isEmpty)
          TextOps.mergeVocabIndex(adds, viewPath, s"$tag:merge")
        dels.filterNot(_.isEmpty).foreach(
          TextOps.retractVocabIndex(_, viewPath, s"$tag:retract"))
      }
    }
    ()
  }

  /** Streaming incremental maintenance for the stored BM25 inverted
    * index — the keyword-retrieval absorb loop ([[bm25Absorb]] per
    * micro-batch): postings merge exactly once under the (stream,
    * batch-id) ledger protocol, `op='DELETE'` rows retract (tombstoned
    * postings stop scoring immediately, lexicon/stats adjust exactly),
    * and the `bm25` maintenance tick makes deletions physical. */
  def bm25AbsorbStream(spark: SparkSession, inGlob: String,
                       checkpointDir: String, schema: StructType,
                       indexPath: String,
                       maintainEvery: Int = 0,
                       maintainMaxFiles: Int = 8): StreamingQuery =
    launch(spark, inGlob, checkpointDir, schema, indexPath) { (batch, id) =>
      bm25Absorb(spark, batch, id, indexPath, checkpointDir)
      if (due(maintainEvery, id))
        maintainStreamedIndex(spark, indexPath, "bm25", maintainMaxFiles)
    }

  /** One BM25 absorb micro-batch — public for direct replay testing.
    * `op='DELETE'` rows carry the full row image (the CDC delete-capture
    * contract) and route through [[graft.ops.TextOps.retractBm25Index]].
    * Retraction runs BEFORE the merge (tombstone first, then serve the
    * clash if this very batch re-inserts a deleted doc —
    * [[serveTombstonesIfClashing]]), both halves under ONE ledger entry
    * so a replayed mixed batch re-applies neither. The inline
    * clash-serve's `_applied` reset RETAINS this batch's just-committed
    * retract signature (it rides the reset's own version swap —
    * Compaction.resetBm25AppliedLog): the ledger entry is still
    * uncommitted at that point, so a crash between the tick and the
    * ledger append replays the batch, and the retraction must still find
    * its signature or it would subtract lexicon df and stats a second
    * time. A batch without an `op` column merges directly. */
  def bm25Absorb(spark: SparkSession, batch: DataFrame, id: Long,
                 indexPath: String, streamId: String): Unit = {
    import graft.ops.TextOps
    if (!batch.isEmpty) graft.engine.Caches.withCached {
      absorbOnce(spark, indexPath, streamId, id) {
        val (adds, dels) = splitOps(batch)
        val retractSig = dels.filterNot(_.isEmpty)
          .map(TextOps.retractBm25Index(_, indexPath))
        if (dels.isEmpty) TextOps.mergeBm25Index(adds, indexPath)
        else if (!adds.isEmpty) {
          serveTombstonesIfClashing(spark, indexPath, "bm25", adds,
            retainApplied = retractSig.toSeq)
          TextOps.mergeBm25Index(adds, indexPath)
        }
      }
    }
    ()
  }

  /** Streaming maintenance of the distinct-count sketch view
    * ([[graft.engine.Stats.buildDistinctView]]) — the vocab absorb's
    * twin for the HLL family: each micro-batch appends its per-group
    * sketch partials under the shared (stream, batch-id) ledger. A
    * replayed union would be VALUE-harmless (register-max is
    * idempotent), but the ledger still guards it so the view's row
    * count — and therefore its compaction debt and file lineage — stays
    * deterministic under re-delivery. Op-aware: op='DELETE' rows
    * retract through the view's exact companion (deletion-exact reads
    * immediately; the HLL side rebuilds on the `hll` maintenance tick —
    * see [[distinctAbsorb]]). */
  def distinctAbsorbStream(spark: SparkSession, inGlob: String,
                           checkpointDir: String, schema: StructType,
                           viewPath: String, group: String, key: String,
                           maintainEvery: Int = 0,
                           maintainMaxFiles: Int = 8): StreamingQuery =
    launch(spark, inGlob, checkpointDir, schema, viewPath) { (batch, id) =>
      distinctAbsorb(spark, batch, id, viewPath, group, key, checkpointDir)
      if (due(maintainEvery, id))
        maintainStreamedIndex(spark, viewPath, "hll", maintainMaxFiles)
    }

  /** One distinct-view absorb micro-batch — public for replay testing.
    * Op-aware: op='DELETE' rows (full row image — the CDC delete-capture
    * contract) route through [[graft.engine.Stats.retractDistinctView]]
    * into the view's exact companion, the rest through the sketch+exact
    * merge — both under ONE ledger entry with stable (stream, batch-id)
    * tags, so a replayed mixed batch re-applies neither half (the vocab
    * absorb's protocol verbatim). The exact read reflects the deletion
    * IMMEDIATELY; the HLL read over-counts until the scheduled `hll`
    * tick rebuilds the sketches from the netted pairs — bounded
    * staleness of one maintenance interval on the APPROXIMATE path
    * only, the documented trade (an inline per-delete rebuild would be
    * O(live pairs) per batch). A view built before the retractable
    * lifecycle (no exact companion) still refuses DELETE batches
    * loudly inside retractDistinctView — route those to a rebuild. */
  def distinctAbsorb(spark: SparkSession, batch: DataFrame, id: Long,
                     viewPath: String, group: String, key: String,
                     streamId: String): Unit = {
    import graft.engine.Stats
    if (!batch.isEmpty) graft.engine.Caches.withCached {
      absorbOnce(spark, viewPath, streamId, id) {
        val tag = s"$streamId#$id"
        val (adds, dels) = splitOps(batch)
        dels.filterNot(_.isEmpty).foreach(
          Stats.retractDistinctView(_, group, key, viewPath, s"$tag:retract"))
        if (dels.isEmpty || !adds.isEmpty)
          Stats.mergeDistinctView(adds, group, key, viewPath, s"$tag:merge")
      }
    }
    ()
  }

  /** Streaming maintenance for the VERSIONED SNAPSHOT and its derived
    * layout artifacts — the z-ordered OPTIMIZE publish and the verified
    * shard export get the same between-batches lifecycle the stored
    * indexes have, closing the r14 gap where both had batch-only verbs.
    *
    * Per micro-batch: the batch's document rows are unioned into the
    * current snapshot and published as the next version
    * ([[SnapshotStore.publish]] — the store's atomic commit unit),
    * exactly once under the (stream, batch-id) ledger ([[absorbOnce]]).
    * Every `optimizeEvery` batches, AFTER the batch commits and
    * ledgers, [[optimizeSnapshotTick]] runs:
    *
    *  1. OPTIMIZE — re-publish the current version z-ordered on
    *     (`a`, `b`) ([[SnapshotStore.publishZOrdered]], `numFiles`
    *     range partitions): answers unchanged, 2-D box scans pruned;
    *  2. retention — [[SnapshotStore.vacuum]] to `keepVersions`;
    *  3. export — re-materialize the shard export from the optimized
    *     snapshot under the write → re-read → manifest-compare publish
    *     protocol (the ExportSpec loop); a mismatch raises BEFORE the
    *     export is treated as published.
    *
    * Crash safety: a crash BEFORE the publish replays the absorb and
    * the ledger check skips nothing real; a crash AFTER the publish but
    * BEFORE the ledger append re-delivers the batch against a snapshot
    * that already contains it — which is why [[snapshotAbsorb]]'s merge
    * is a keyed last-write-wins UPSERT, making the replayed merge
    * publish a content-identical version (and a genuine update land its
    * new content) instead of baking duplicates into every later version
    * and export. A crash inside the tick re-runs only the
    * tick, whose verbs are idempotent at the answer level — a replayed
    * OPTIMIZE publishes another version with identical content behind
    * the atomic pointer, vacuum re-evaluates, and the export rewrite
    * re-verifies.
    *
    * Scale posture: per-batch publish re-writes the current snapshot
    * (the SCD2 stream's deliberate SnapshotStore formulation — at
    * 100 TB the snapshot is date-partitioned and only touched
    * partitions rewrite); the z-sort's full range shuffle is paid only
    * at the OPTIMIZE cadence, and the export here rewrites all shards —
    * a production cadence exports only the shards the corpus diff
    * invalidated (Curation.corpusDiff's stable-bucket keying exists for
    * exactly that). */
  def snapshotAbsorbStream(spark: SparkSession, inGlob: String,
                           checkpointDir: String, schema: StructType,
                           storeRoot: String, a: String, b: String,
                           tie: String, numFiles: Int = 8,
                           optimizeEvery: Int = 0, keepVersions: Int = 3,
                           exportPath: Option[String] = None,
                           tokensPerShard: Long = 0L,
                           key: String = "doc_id"): StreamingQuery = {
    require(exportPath.isEmpty || tokensPerShard > 0L,
      "snapshotAbsorbStream: an export path needs tokensPerShard > 0")
    launch(spark, inGlob, checkpointDir, schema, storeRoot) { (batch, id) =>
      snapshotAbsorb(spark, batch, id, storeRoot, checkpointDir, key)
      if (due(optimizeEvery, id))
        optimizeSnapshotTick(spark, storeRoot, a, b, tie, numFiles,
          keepVersions, exportPath, tokensPerShard)
    }
  }

  /** One snapshot-absorb micro-batch — public for replay testing.
    *
    * The merge is a LAST-WRITE-WINS UPSERT on `key`, not a blind union:
    * current rows whose key appears in the batch are replaced by the
    * batch's rows. That one shape covers both hazards at once — a
    * legitimate re-delivery of an UPDATED document lands its new
    * content (a key-presence filter would silently discard it), and a
    * crash-replayed batch (published but not yet ledgered — the window
    * the ledger cannot close by itself) replaces its own rows with
    * identical content, publishing a content-identical version instead
    * of baking duplicates into every later version and export. */
  def snapshotAbsorb(spark: SparkSession, batch: DataFrame, id: Long,
                     storeRoot: String, streamId: String,
                     key: String = "doc_id"): Unit = {
    if (!batch.isEmpty) absorbOnce(spark, storeRoot, streamId, id) {
      val store = new SnapshotStore(spark, storeRoot)
      // op-aware: a batch carrying an `op` column routes op='DELETE'
      // keys to REMOVAL — the right-to-be-forgotten flow a training
      // corpus must support; the delete record needs only the key.
      // Upserts and deletes land in ONE published version (and one
      // ledger entry), so a replayed mixed batch re-applies neither
      // half. Deleting an absent key is a no-op, as in SQL DELETE.
      // Scope honesty: this deletes from the CURRENT version — the
      // versions retained for time travel still carry the key until
      // the compliance sweep (SnapshotStore.purgeKeys) rewrites the
      // whole retained window.
      val (rawUpserts, dels) = splitOps(batch)
      // intra-batch key discipline: exact duplicate ROWS fold (a file
      // re-delivering the same record twice), but two DIFFERENT rows
      // for one key in one batch are refused loudly — this verb's
      // records carry no sequence column, so "last-write-wins" between
      // them is undefined and keeping both would bake duplicate keys
      // into every published version and export (the anti-join removes
      // cur's row, then the union adds BOTH)
      val upserts = rawUpserts.dropDuplicates()
      require(upserts.groupBy(col(key)).count()
          .filter(col("count") > 1L).isEmpty,
        s"snapshotAbsorb: batch $id carries conflicting rows for the " +
          s"same '$key' — no order column exists to arbitrate " +
          "last-write-wins within a batch; split the batch or dedup " +
          "upstream")
      val next = store.read() match {
        case Some(cur) =>
          val victims = dels.fold(upserts.select(key))(d =>
            upserts.select(key).unionByName(d.select(key)))
          cur.join(victims, Seq(key), "left_anti").unionByName(upserts)
        case None => upserts
      }
      store.publish(next)
      ()
    }
    ()
  }

  /** The snapshot OPTIMIZE + export maintenance tick — public so a
    * quiesced deployment (or a replay test) can run it directly. MUST
    * not run concurrently with an absorb on `storeRoot` (the
    * single-writer discipline every maintenance verb shares);
    * [[snapshotAbsorbStream]] calls it between batches. */
  def optimizeSnapshotTick(spark: SparkSession, storeRoot: String,
                           a: String, b: String, tie: String,
                           numFiles: Int, keepVersions: Int,
                           exportPath: Option[String],
                           tokensPerShard: Long): Unit = {
    val store = new SnapshotStore(spark, storeRoot)
    store.read().foreach { cur =>
      store.publishZOrdered(cur, a, b, tie, numFiles)
      store.vacuum(keepVersions)
      exportPath.foreach { p =>
        import graft.ops.SamplingOps
        val snap = store.read().get
        SamplingOps.writeShards(snap, tokensPerShard, p)
        // publish-time verification: the re-read export must reproduce
        // the planning manifest row-for-row. Compared DISTRIBUTIVELY
        // (two multiset differences, each short-circuited at the first
        // witness row) — a small tokensPerShard over a large snapshot
        // makes the manifest row count unbounded, so collecting both
        // sides to the driver is the OOM class the MaxDriverGroups
        // posture exists to prevent
        val cols = Seq("shard_id", "n_docs", "n_tokens", "first_doc",
          "last_doc", "content_hash").map(col)
        val planned =
          SamplingOps.shardManifest(snap, tokensPerShard).select(cols: _*)
        // partition-dir column inference types shard_id as INT on
        // re-read — normalize before the manifest compare
        val reread = SamplingOps.manifestOf(
          spark.read.parquet(p).select(col("doc_id"), col("n_tokens"),
            col("shard_id").cast("long").as("shard_id"))).select(cols: _*)
        val mismatch =
          planned.exceptAll(reread).limit(1).count() > 0L ||
            reread.exceptAll(planned).limit(1).count() > 0L
        if (mismatch)
          throw new IllegalStateException(
            s"shard export at $p failed publish-time verification " +
              "(re-read manifest differs from the planning manifest) — " +
              "the export must not be consumed")
      }
    }
  }

  /** Streaming exact dedup — A3's streaming twin: drop re-deliveries of
    * the same `idCol` arriving within the watermark delay, turning an
    * at-least-once file/log source into exactly-once rows before the
    * merge. State holds one entry per id inside the watermark window and
    * is evicted as event time advances — bounded, unlike a naive
    * `dropDuplicates` whose state grows forever. */
  def dedupStream(stream: DataFrame, idCol: String, ts: String,
                  delay: String): DataFrame =
    stream.withWatermark(ts, delay).dropDuplicatesWithinWatermark(idCol)
}
