package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.types._

/** Loaders for the driver-generated parquet test tables (see
  * /root/repo/TESTDATA.md). Schemas are fixed by the generator, so we rely
  * on parquet metadata (never `inferSchema` over text formats — SURVEY §1.3).
  *
  * At cluster scale these would be catalog tables partitioned by date; the
  * read path (columnar parquet + pushdown) is identical.
  */
object Tables {
  /** Scale-adaptive rebalance for CPU-BOUND kernel stages (optimization
    * guide §2.5, "input skew"): the bench corpora ship as ONE small
    * parquet file per table, so a scan plans a single partition and all
    * per-row CPU ahead of the first Exchange — codec round-trips,
    * winnowing/shingle/quality kernels, BPE/LM scoring — runs on one of
    * the session's cores. A deterministic hash repartition on the
    * table's unique id spreads that work across the executors for the
    * price of shuffling the (tiny) source bytes once. The probe is the
    * PHYSICAL plan parallelism, so on a real deployment (thousands of
    * input splits ≥ defaultParallelism) this is a no-op and the scan
    * shape is unchanged — the dial adapts to input size rather than
    * hard-coding either local mode or the cluster.
    *
    * Deliberately applied at the HEAVY-KERNEL entry points, not at the
    * table loader: a loader-level rebalance was measured to tax every
    * cheap aggregate/sampling query ~0.1–0.3 s of extra
    * exchange+task-scheduling overhead and to inflate the tiny
    * iterative k-means jobs (32-task rounds over KB-sized slices),
    * costing more across the suite than the kernel parallelism won
    * back. Hash-by-unique-id (not round-robin) keeps the row→partition
    * map deterministic under task retry with no sort-before-repartition
    * pass (SPARK-38388). Filters and column pruning still reach the
    * parquet scan below the added Exchange (verified in plans/r21). */
  def kernelSpread(df: DataFrame, key: String): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    // Split-count estimate from optimizer statistics (leaf-scan bytes /
    // maxPartitionBytes) rather than `df.rdd.getNumPartitions`: the RDD
    // probe physically planned the input a SECOND time per call — paid
    // at every query build routed through a kernel — and instantiated an
    // RDD lineage AQE never sees. Ignoring openCostInBytes UNDER-counts
    // splits for many-small-file inputs; the only consequence is
    // spreading when the scan already had enough splits, and adjacent
    // repartitions collapse (CollapseRepartition). The estimate can
    // also OVER-count (filters and joins, see splitEstimate); then the
    // spread is skipped and the kernel runs under-parallelized — slower,
    // never a different answer.
    if (splitEstimate(df) >= target) df
    else df.repartition(target, df.col(key))
  }

  /** Estimated scan split count of `df`'s plan: optimizer-stats bytes
    * over `spark.sql.files.maxPartitionBytes`. With CBO off (the
    * default) the size-only stats visitor passes a child's
    * `sizeInBytes` through `Filter` unchanged (and multiplies it across
    * joins), so a filter does NOT shrink the estimate: a filtered or
    * joined input can be over-estimated, and an over-estimate can skip
    * the spread a genuinely narrow input needed. */
  private def splitEstimate(df: DataFrame): Long = {
    val maxSplit = math.max(1L,
      df.sparkSession.sessionState.conf.filesMaxPartitionBytes)
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    (bytes / maxSplit).toLong + 1L
  }

  /** Size-derived partition count for a CACHED kernel output
    * (optimization guide §2.2 "fewer, larger partitions"): the kernel
    * itself runs spread across the cores ([[kernelSpread]]), but
    * persisting its small output at defaultParallelism partitions taxes
    * every small downstream consumer with a full task wave per scan —
    * the r21 decontaminate/source_overlap/text_winnow regression. The
    * count derives from the SOURCE's scan bytes (a target of
    * `targetBytes` of source text per cached partition, clamped to
    * [1, defaultParallelism]), so on a real corpus the compaction is a
    * no-op (count reaches the clamp and the data already carries ≥ that
    * many partitions) while a bench-sized corpus caches as one
    * partition. Hash-by-unique-key keeps the row→partition map
    * deterministic under retry (SPARK-38388). */
  def cacheCompact(out: DataFrame, source: DataFrame, key: String,
                   targetBytes: Long = 32L << 20): DataFrame = {
    val target = out.sparkSession.sparkContext.defaultParallelism
    val bytes = source.queryExecution.optimizedPlan.stats.sizeInBytes
    val n = ((bytes / targetBytes) + 1).min(BigInt(target)).max(BigInt(1)).toInt
    if (n >= target) out else out.repartition(n, out.col(key))
  }

  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    try spark.read.parquet(s"$dir/$name.parquet")
    catch {
      // a generator-side unit flip to TIMESTAMP(NANOS) (the r12 events
      // incident, see bench/REGRESSION_r12.md) must fail with the fix in
      // the message, not a bare footer exception deep inside a query
      case e: Exception if isNanosFooter(e) =>
        throw new IllegalStateException(
          s"$name.parquet stores TIMESTAMP(NANOS), which Spark's schema " +
            "inference rejects — give this table a unit-detecting loader " +
            "like Tables.events (raw-long read + ns→µs truncation)", e)
    }

  /** The events table's fixed generator schema, with `ts` requested as
    * LongType: parquet TIMESTAMP(NANOS) is physically INT64, and an
    * explicit user schema asking for long makes the reader hand back the
    * raw nanos — scoped to this one read, with no session conf involved. */
  val eventsNanosSchema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", LongType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  /** events.ts has shipped as both parquet TIMESTAMP(MICROS) and
    * TIMESTAMP(NANOS) across generator versions, so the loader detects
    * which it got rather than assuming. The plain read succeeds for µs
    * (ordinary TimestampType — use as-is; NTZ is cast to the session-TZ
    * TimestampType the engine uses). For ns, Spark's schema inference
    * rejects the footer ([PARQUET_TYPE_ILLEGAL]); fall back to reading
    * `ts` as a raw long under [[eventsNanosSchema]] (a per-read request,
    * NOT the session-global `spark.sql.legacy.parquet.nanosAsLong`
    * switch) and truncate ns→µs — the same truncation DuckDB applies —
    * so oracle comparisons line up either way. */
  def events(spark: SparkSession, dir: String): DataFrame = {
    val path = s"$dir/events.parquet"
    try {
      val df = spark.read.parquet(path)
      df.schema("ts").dataType match {
        case TimestampType    => df
        case TimestampNTZType => df.withColumn("ts", expr("cast(ts as timestamp)"))
        case LongType         => tsFromNanos(df) // nanosAsLong session conf active
        case other => throw new IllegalStateException(
          s"events.ts: unexpected parquet type $other")
      }
    } catch {
      case e: Exception if isNanosFooter(e) =>
        tsFromNanos(spark.read.schema(eventsNanosSchema).parquet(path))
    }
  }

  /** Convert a nanos-as-long `ts` column (read under `nanosAsLong`) to the
    * µs TimestampType the rest of the engine uses. */
  def tsFromNanos(df: DataFrame): DataFrame =
    df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))

  /** The events schema with `ts` at the current generator's unit
    * (TIMESTAMP(MICROS) → plain TimestampType). */
  val eventsMicrosSchema: StructType = StructType(
    eventsNanosSchema.map(f =>
      if (f.name == "ts") f.copy(dataType = TimestampType) else f))

  /** Streaming variant of [[events]]: the file-stream source needs an
    * explicit schema, so probe the directory's footers with a batch read
    * to learn the timestamp unit, then stream under the matching schema.
    * An empty ingest directory (stream started before the first file
    * lands) can't be probed — wait up to `probeWaitMs` for the first
    * file (re-probing every 50 ms; 0 disables the wait), and if still
    * empty assume the current generator's micros unit, matching the
    * batch loader's primary path. The dir is then recorded in
    * [[assumedUnit]] so [[explainStreamFailure]] can turn the eventual
    * footer error into an actionable restart message.
    *
    * Caveat (empty-dir start only): the unit is FROZEN at stream start.
    * If the first files to land later carry TIMESTAMP(NANOS) (the
    * pre-r12 generator unit the probe otherwise detects), the running
    * micros-schema stream fails per file with the nanos footer error at
    * read time rather than silently mis-scaling. A running stream
    * cannot re-probe — Structured Streaming pins the source schema for
    * the checkpoint's lifetime, so unit changes mid-stream are a
    * restart by construction — which is why the failure must carry the
    * fix: wrap the query's await/stop in [[explainStreamFailure]] (or
    * pass a `probeWaitMs` sized to the feed's arrival latency so the
    * assumption is never made). */
  def eventsStream(spark: SparkSession, dir: String,
                   probeWaitMs: Long = 0L): DataFrame =
    try {
      val probe = spark.read.parquet(dir)
      assumedUnitDirs.remove(dir)
      val df = spark.readStream.schema(probe.schema).parquet(dir)
      if (probe.schema("ts").dataType == TimestampType) df
      else df.withColumn("ts", expr("cast(ts as timestamp)"))
    } catch {
      case e: Exception if isNanosFooter(e) =>
        assumedUnitDirs.remove(dir)
        tsFromNanos(spark.readStream.schema(eventsNanosSchema).parquet(dir))
      case e: Exception if String.valueOf(e.getMessage)
          .contains("Unable to infer schema") =>
        // empty dir: re-probe once files land (bounded wait), else
        // assume micros and REMEMBER the assumption for fail-loud
        // translation of a later unit mismatch
        val deadline = System.nanoTime + probeWaitMs * 1000000L
        var ready = false
        // only "no files yet" (schema-inference failure) is the
        // retryable not-ready signal; any OTHER error PERSISTING across
        // consecutive probes for a full second (a permissions/IO fault)
        // is terminal — retrying it would silently burn the whole wait
        // budget and then mask the real fault behind an assumed schema.
        // The full-second horizon (not two 50 ms strikes) matters: a
        // multi-MB first file lands mid-write without temp+rename and
        // throws the SAME exception class from back-to-back probes
        // while perfectly healthy — in-flight writes resolve in well
        // under a second, persistent faults never do
        var otherSince = 0L
        var lastOther: Exception = null
        while (!ready && System.nanoTime < deadline) {
          Thread.sleep(50)
          ready = try {
            spark.read.parquet(dir).schema
            otherSince = 0L; lastOther = null; true
          } catch {
            case e2: Exception if isNanosFooter(e2) => true
            case e2: Exception if String.valueOf(e2.getMessage)
                .contains("Unable to infer schema") =>
              otherSince = 0L; lastOther = null; false
            case e2: Exception =>
              if (lastOther != null && lastOther.getClass == e2.getClass) {
                if (System.nanoTime - otherSince >= 1000000000L) throw e2
              } else otherSince = System.nanoTime
              lastOther = e2; false
          }
        }
        if (ready) eventsStream(spark, dir, 0L)
        else {
          assumedUnitDirs.add(dir)
          spark.readStream.schema(eventsMicrosSchema).parquet(dir)
        }
    }

  private val assumedUnitDirs =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** True if `dir`'s stream schema was ASSUMED (dir empty at start)
    * rather than probed from a footer. */
  def assumedUnit(dir: String): Boolean = assumedUnitDirs.contains(dir)

  /** Translate a streaming failure on an ingest stream over `dir` into
    * an actionable error when it is the assumed-unit mismatch: the dir
    * was empty at stream start (micros schema assumed) and the failure
    * chain bottoms out in the TIMESTAMP(NANOS) footer rejection.
    * Returns the (re-thrown) actionable exception, or the original
    * failure untouched for anything else. Usage:
    * `try q.awaitTermination() catch { case e: Throwable => throw
    * Tables.explainStreamFailure(dir, e) }`. */
  def explainStreamFailure(dir: String, e: Throwable): Throwable = {
    // two failure shapes for the same root cause: schema INFERENCE over
    // a nanos footer raises PARQUET_TYPE_ILLEGAL, but a running stream
    // reads under an EXPLICIT micros schema, so the per-file failure is
    // the reader's type mismatch (ts expected timestamp, physical INT64
    // with a nanos annotation Spark won't down-convert)
    def isUnitMismatch(t: Throwable): Boolean = t match {
      case _: org.apache.spark.sql.execution.datasources
          .SchemaColumnConvertNotSupportedException => true
      case ex: Exception =>
        isNanosFooter(ex) || (ex.getMessage != null &&
          ex.getMessage.contains("PARQUET_COLUMN_DATA_TYPE_MISMATCH") &&
          ex.getMessage.contains("[ts]"))
      case _ => false
    }
    val chain = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(16)
    val nanos = chain.exists(isUnitMismatch)
    if (nanos && assumedUnit(dir))
      new IllegalStateException(
        s"ingest dir $dir was empty at stream start, so the source " +
          "schema was ASSUMED to be the micros-era unit — the files now " +
          "arriving carry TIMESTAMP(NANOS). Restart the stream (same " +
          "checkpoint) so Tables.eventsStream can re-probe and take the " +
          "ns->us truncation path; no data was processed under the " +
          "wrong unit (the source fails per file, it never mis-scales)", e)
    else e
  }

  private def isNanosFooter(e: Exception): Boolean =
    e.getMessage != null &&
      (e.getMessage.contains("PARQUET_TYPE_ILLEGAL") ||
       e.getMessage.contains("Illegal Parquet type"))
  def orders(spark: SparkSession, dir: String): DataFrame     = table(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame   = table(spark, dir, "lineitem")
  def customer(spark: SparkSession, dir: String): DataFrame   = table(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame   = table(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame       = table(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame     = table(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame     = table(spark, dir, "region")
  def documents(spark: SparkSession, dir: String): DataFrame  = table(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "embeddings")
}
