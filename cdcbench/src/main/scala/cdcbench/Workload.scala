package cdcbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.sql.Timestamp
import java.time.{Instant, LocalDateTime, ZoneOffset}
import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

import scala.jdk.CollectionConverters._
import scala.util.chaining._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.types.StructType

import graft.engine.{AsOf, Scd2, SnapshotStore}
import graft.streaming.CdcStream

/** Converts `System.nanoTime` readings to epoch milliseconds for spans. */
object Clock {
  private val baseNs = System.nanoTime()
  private val baseMs = System.currentTimeMillis().toDouble
  def ms(ns: Long): Double = baseMs + (ns - baseNs) / 1e6
}

/** A history query with its parameters. */
sealed trait Q { def kind: String }
final case class Current() extends Q { val kind = "current" }
final case class AsOfAt(at: Timestamp) extends Q { val kind = "asof" }
final case class Timeline(key: Long) extends Q { val kind = "timeline" }
final case class AsOfJoin() extends Q { val kind = "asof_join" }
final case class Diff(at1: Timestamp, at2: Timestamp) extends Q { val kind = "diff" }

/** Where a history query reads from: `read()` is the whole snapshot,
  * `keyRows(k)` the rows of one key. */
final case class Source(read: () => DataFrame, keyRows: Long => DataFrame)

/** One workload: its staged inputs, its set-up, its measured passes and
  * its correctness gates. Every pass runs on a fresh store seeded with the
  * same dimension and fed the same files in the same order. */
final class Workload(spark: SparkSession, tracer: Tracer, val name: String,
                     val shape: Shape, seed: Long, work: Path) {
  import Inputs._

  val reads: Boolean = name == "history_reads"
  private val B = shape.buckets
  private val BucketsSidecar = "_BUCKETS" // CdcStream's bucket-count sidecar
  private def epoch(s: String): Long =
    LocalDateTime.parse(s.replace(' ', 'T')).toEpochSecond(ZoneOffset.UTC)

  // ── staging: all of it before any timer ────────────────────────────
  val inputs: Path = work.resolve("inputs")
  val dim: SeedDim = seedDim(spark, shape.dimChanges, shape.dimKeys, seed * 7919 + 1, inputs)
  // the pool's last file is set aside as the set-up's warm-up batch
  private val pool: DataFrame =
    if (reads) uniqueKeyChanges(spark, shape.perFile, shape.poolFiles + 1,
      shape.changeKeys, seed * 7919 + 2, ChangeStart)
    else changes(spark, shape.perFile, shape.poolFiles + 1, shape.changeKeys,
      seed * 7919 + 2, ChangeStart)
  val schema: StructType = schemaOf(pool)
  private val staged = stageFiles(pool, inputs.resolve("pool"), "changes", withKeys = reads)
  val files: IndexedSeq[ChangeFile] = staged.init
  val warm: ChangeFile = {
    val dir = Files.createDirectories(inputs.resolve("warm"))
    staged.last.copy(path = Files.move(staged.last.path, dir.resolve("warm.json")))
  }
  private val bucketOf: Array[Int] =
    if (reads) bucketsOf(spark, shape.changeKeys, B) else Array.empty
  private val probes: DataFrame =
    if (!reads) null
    else {
      val rng0 = new scala.util.Random(seed)
      val lo = epoch(SeedStart); val hi = epoch(ChangeStart) + shape.poolFiles * shape.perFile
      val rows = Seq.fill(shape.probes)(Row(rng0.nextInt(shape.dimKeys).toLong,
        new Timestamp((lo + (rng0.nextDouble() * (hi - lo)).toLong) * 1000)))
      spark.createDataFrame(rows.asJava, new StructType()
        .add(K, "long").add("probe_ts", "timestamp")).cache()
    }
  if (probes != null) probes.count()
  val properties: Json.Obj = Inputs.properties(files, dim, seed)

  // ── set-up ─────────────────────────────────────────────────────────
  def publishSeed(store: SnapshotStore): Unit = {
    val df = spark.read.parquet(dim.path)
    if (B > 0) store.publish(CdcStream.clustered(CdcStream.bucketed(df, K, B)),
      Seq(CdcStream.BucketCol), Map(BucketsSidecar -> B.toString))
    else store.publish(df)
  }

  /** One change batch through the engine onto an empty throwaway store. */
  def warmup(dir: Path): Unit = {
    val store = new SnapshotStore(spark, dir.resolve("store").toString)
    if (reads)
      CdcStream.applyChangeBatch(store, spark.read.schema(schema).json(warm.path.toString),
        K, TS, TIE, Some(Op), B, shape.manifestCarry)
    else
      CdcStream.start(spark, s"${warm.path.getParent}/*.json", dir.resolve("ckpt").toString,
        store, schema, K, TS, TIE, Some(Op), availableNow = true, maxFilesPerTrigger = 1,
        dimBuckets = B, manifestCarry = shape.manifestCarry).awaitTermination()
    Fs.deleteTree(dir)
  }

  // ── measured pass ──────────────────────────────────────────────────
  def run(store: SnapshotStore, root: Path, p: Pass, dir: Path, seconds: Int): Unit = {
    val meter = new WriteMeter(root); meter.scan()
    val cpu0 = Proc.cpuS(); val ex0 = tracer.executorCpuNs; val gc0 = Proc.gcS()
    val t0 = System.nanoTime()
    if (reads) readsLoop(store, meter, p, t0, seconds)
    else ingestLoop(store, meter, p, dir, t0, seconds)
    p.wallS = (System.nanoTime() - t0) / 1e9
    p.procCpuS = Proc.cpuS() - cpu0
    p.gcS = Proc.gcS() - gc0
    Thread.sleep(100) // the task-end events of the last op
    p.executorCpuS = (tracer.executorCpuNs - ex0) / 1e9
  }

  private def elapsed(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Run `body` as one closed-loop op: counted, timed in ms, attributed. */
  private def op[T](p: Pass, spanName: String)(body: Long => T): Option[(T, Double, Long)] = {
    val id = tracer.nextId(); p.attempted += 1
    tracer.setOp(id)
    val t0 = System.nanoTime()
    try {
      val r = tracer.span(spanName, 0, id, id)(body(id))
      Some((r, (System.nanoTime() - t0) / 1e6, id))
    } catch {
      case e: Exception => p.fail(s"$spanName: $e"); None
    } finally tracer.setOp(0)
  }

  private def timedRead(p: Pass, opId: Long)(body: => DataFrame): DataFrame = {
    val t0 = System.nanoTime()
    val d = tracer.span("SnapshotStore.read", opId, opId)(body)
    p.readMs += (System.nanoTime() - t0) / 1e6
    d
  }

  // ingest_*: a feeder moves one staged file into the stream's input dir,
  // waits for its commit, runs one read-back probe, and only then (with
  // the stream idle) moves the next one
  private def ingestLoop(store: SnapshotStore, meter: WriteMeter, p: Pass,
                         dir: Path, t0: Long, seconds: Int): Unit = {
    val inDir = dir.resolve("in"); Files.createDirectories(inDir)
    val events = new LinkedBlockingQueue[(Long, StreamingQueryProgress)]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        events.put((System.nanoTime(), e.progress))
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    def feed(f: ChangeFile): Long = {
      // a leading '_' hides the partial copy from the file source
      val tmp = inDir.resolve("_" + f.path.getFileName + ".tmp")
      Files.copy(f.path, tmp)
      Files.move(tmp, inDir.resolve(f.path.getFileName), StandardCopyOption.ATOMIC_MOVE)
      System.nanoTime()
    }
    spark.streams.addListener(listener)
    var arrival = feed(files(0))
    val q = CdcStream.start(spark, s"$inDir/*.json", dir.resolve("ckpt").toString, store,
      schema, K, TS, TIE, Some(Op), availableNow = false, maxFilesPerTrigger = 1,
      dimBuckets = B, manifestCarry = shape.manifestCarry)
    try {
      var i = 0; var done = false
      while (!done) {
        val f = files(i); val id = tracer.nextId(); p.attempted += 1
        nextDataProgress(events, q, p) match {
          case None =>
            p.fail(s"stream stopped before batch $i committed: " +
              q.exception.map(_.toString).getOrElse("no progress within 120 s"))
            done = true
          case Some((commitNs, prog)) =>
            val lat = (commitNs - arrival) / 1e6
            p.batchMs += lat; p.applyMs += lat; p.applied += f
            p.progress += ((id, prog, Clock.ms(arrival)))
            p.batchOps(prog.batchId) = id; p.batchOpIds += id
            tracer.record(Span(id, "CdcStream.batch", Clock.ms(arrival), Clock.ms(commitNs), 0, id,
              Seq("stream_batch" -> prog.batchId, "rows" -> prog.numInputRows)))
            probe(store, f, p)
            val (b, n) = meter.scan()
            p.bytesWritten += b; p.bytesPerBatch += b.toDouble; p.filesPerBatch += n.toDouble
            i += 1
            if (elapsed(t0) >= seconds) done = true
            else if (i == files.size) { p.poolExhausted = true; done = true }
            else { waitIdle(q); arrival = feed(files(i)) }
        }
      }
    } finally {
      q.stop()
      spark.streams.removeListener(listener)
    }
  }

  private def nextDataProgress(events: LinkedBlockingQueue[(Long, StreamingQueryProgress)],
                               q: StreamingQuery, p: Pass): Option[(Long, StreamingQueryProgress)] = {
    val deadline = System.nanoTime() + 120L * 1000000000L
    while (System.nanoTime() < deadline) {
      val e = events.poll(50, TimeUnit.MILLISECONDS)
      if (e != null) {
        if (e._2.numInputRows > 0) return Some(e)
        p.noDataBatches += 1
      } else if (!q.isActive) return None
    }
    None
  }

  /** Wait until the stream has finished every trigger it started (a
    * watermark-only batch may follow a data batch). */
  private def waitIdle(q: StreamingQuery): Unit = {
    val deadline = System.nanoTime() + 30L * 1000000000L
    var quiet = 0
    while (quiet < 2 && System.nanoTime() < deadline) {
      if (q.status.isTriggerActive) quiet = 0 else quiet += 1
      Thread.sleep(5)
    }
  }

  /** Read-your-writes probe: the last key of the file just committed must
    * show that change (or no current row, if the change was a DELETE). */
  private def probe(store: SnapshotStore, f: ChangeFile, p: Pass): Unit =
    op(p, "query.probe") { id =>
      val d = timedRead(p, id)(store.read().get)
      (d, d.filter(col(K) === f.lastKey && col("is_current"))
        .select("order_status", "total_amount").collect())
    }.foreach { case ((d, rows), ms, id) =>
      p.query("probe", ms); p.queryOpIds += id; p.rowsReturned += rows.length
      if (p.traced) p.filesScanned += d.inputFiles.length.toDouble
      checks += 1
      val ok =
        if (f.lastDeleted) rows.isEmpty
        else rows.length == 1 && rows(0).getString(0) == f.lastStatus &&
          rows(0).getDecimal(1).compareTo(f.lastAmount) == 0
      if (!ok) p.fail(s"probe of key ${f.lastKey} after ${f.path.getFileName}: " +
        s"got ${rows.mkString(",")}, expected " +
        (if (f.lastDeleted) "no current row" else s"[${f.lastStatus},${f.lastAmount}]"))
    }

  // history_reads: one reader; every `writeEvery`-th op applies the next
  // change batch, and every period ends with materialize + vacuum
  private def readsLoop(store: SnapshotStore, meter: WriteMeter, p: Pass, t0: Long,
                        seconds: Int): Unit = {
    val rng = new scala.util.Random(seed)
    val src = storeSource(store)
    val lo = epoch(SeedStart)
    var hi = epoch(SeedStart) + shape.dimChanges
    var recent = Vector.empty[Long]
    var next = 0; var i = 0; var qi = 0
    def instant(): Timestamp = new Timestamp((lo + (rng.nextDouble() * (hi - lo)).toLong) * 1000)
    // A period is `applies` change batches, each after writeEvery - 1
    // queries. Passes run whole periods, so every run has the same op mix.
    // A 15 s pass is one period of 24 queries, which puts both the median
    // and the tail statistic inside the as-of block of the sorted samples
    // rather than on the edge between two query types. A hard stop at
    // 4 × seconds bounds a run on a much slower engine.
    val applies = math.max(2, math.min(5, seconds / 4))
    val period = shape.writeEvery * applies
    while ((elapsed(t0) < seconds || i % period != 0) && elapsed(t0) < 4 * seconds) {
      if (i % shape.writeEvery == shape.writeEvery - 1 && next < files.size) {
        val f = files(next); next += 1
        op(p, "CdcStream.applyChangeBatch") { _ =>
          CdcStream.applyChangeBatch(store, spark.read.schema(schema).json(f.path.toString),
            K, TS, TIE, Some(Op), B, shape.manifestCarry)
        }.foreach { case (_, ms, id) =>
          p.batchMs += ms; p.applyMs += ms; p.applied += f; p.batchOpIds += id
          hi = math.max(hi, f.lastTs.getTime / 1000)
          recent = (recent ++ f.keyList).takeRight(4 * shape.perFile.toInt)
        }
        val (b, n) = meter.scan()
        p.bytesWritten += b; p.bytesPerBatch += b.toDouble; p.filesPerBatch += n.toDouble
        if (p.applied.size % applies == 0) {
          op(p, "SnapshotStore.materialize")(_ => CdcStream.materializeSnapshot(store, B))
            .foreach { case (_, ms, _) =>
              p.batchMs += ms; p.maint("materialize", ms)
              val (mb, _) = meter.scan(); p.bytesWritten += mb; p.bytesRewritten += mb
            }
          op(p, "SnapshotStore.vacuum")(_ => store.vacuum(shape.keepLast))
            .foreach { case (_, ms, _) => p.maint("vacuum", ms); meter.scan() }
        }
      } else {
        if (i % shape.writeEvery == shape.writeEvery - 1) p.poolExhausted = true
        val q: Q = QueryCycle(qi % QueryCycle.size) match {
          case "current" => Current()
          case "asof" => AsOfAt(instant())
          case "timeline" => Timeline(
            if (recent.nonEmpty && rng.nextDouble() < 0.7) recent(rng.nextInt(recent.size))
            else rng.nextInt(shape.dimKeys).toLong)
          case "asof_join" => AsOfJoin()
          case _ => val a = instant(); val b = instant()
            Diff(if (a.before(b)) a else b, if (a.before(b)) b else a)
        }
        qi += 1
        op(p, s"query.${q.kind}") { id =>
          val d = timedRead(p, id)(readFor(src, q))
          (d, answer(q, d))
        }.foreach { case ((d, rows), ms, id) =>
          p.query(q.kind, ms); p.queryOpIds += id; p.rowsReturned += rows.length
          if (p.traced) p.filesScanned += d.inputFiles.length.toDouble
        }
      }
      i += 1
    }
  }

  /** The reader's query types, in the fixed order it cycles through, so
    * every run sees the same mix; only keys and instants are seeded. With
    * each type equally often and their costs apart, the median query is
    * the middle type's median rather than a boundary between two types. */
  private val QueryCycle = Seq("timeline", "asof", "current", "diff", "asof_join")

  private def storeSource(store: SnapshotStore): Source = Source(
    () => store.read().get,
    k => store.readCurrentPartitions(CdcStream.BucketCol, Seq(bucketOf(k.toInt)))
      .filter(col(K) === k))

  private def readFor(src: Source, q: Q): DataFrame = q match {
    case Timeline(k) => src.keyRows(k)
    case _ => src.read()
  }

  private val TimelineCols = Seq(K, "valid_from", "valid_to", "is_current", "version_no",
    "cdc_operation", "order_status", "quantity", "unit_price", "total_amount", TS, TIE)

  private def answer(q: Q, d: DataFrame): Array[Row] = {
    def byStatus(df: DataFrame) = df.groupBy("order_status")
      .agg(count(lit(1)).as("n"), sum("total_amount").as("amount"))
    q match {
      case Current() => byStatus(Scd2.current(d)).collect()
      case AsOfAt(at) => byStatus(Scd2.asOf(d, lit(at))).collect()
      case Timeline(_) => d.select(TimelineCols.map(col): _*).orderBy("valid_from").collect()
      case AsOfJoin() => byStatus(AsOf.asOfJoin(probes,
        d.select(K, "valid_from", "version_no", "order_status", "total_amount"),
        K, "probe_ts", Seq("order_status", "total_amount"))).collect()
      case Diff(a, b) => Scd2.snapshotDiff(d, K, lit(a), lit(b),
          Seq("order_status", "total_amount"))
        .groupBy("change_type").agg(count(lit(1)).as("n"),
          sum("new_total_amount").as("amount"), sum("old_total_amount").as("old_amount"))
        .collect()
    }
  }

  // ── correctness gates ──────────────────────────────────────────────
  private def appliedChanges(p: Pass): Option[DataFrame] =
    if (p.applied.isEmpty) None
    else Some(spark.read.schema(schema).json(p.applied.map(_.path.toString).toSeq: _*))

  /** The dim's current rows must equal one `Scd2.merge` of every applied
    * change onto the seed dim, on every payload column (`version_no` and
    * `cdc_operation` count batches, so they are left out), and no key may
    * have two current rows. */
  def gateIngest(store: SnapshotStore, p: Pass): Seq[String] = {
    val seedDf = spark.read.parquet(dim.path)
    val ref = Scd2.current(appliedChanges(p).fold(seedDf)(a =>
      Scd2.merge(seedDf, a, K, TS, TIE, Some(Op))))
    val got = Scd2.current(store.read().get.drop(CdcStream.BucketCol))
    val cols = got.columns.filterNot(Set("version_no", "cdc_operation")).sorted.toSeq
    def sig(df: DataFrame) = df.select(xxhash64(cols.map(col): _*).as("h"))
      .agg(count(lit(1)), bit_xor(col("h")), sum(col("h").bitwiseAND(0xFFFFFFFFL)))
      .head().toSeq
    val (a, b) = (sig(got), sig(ref))
    checks += 1
    val current =
      if (a == b) Nil
      else Seq(s"current rows differ from the one-shot merge: store $a vs merge $b; " +
        "first rows only in the store: " + got.select(cols.map(col): _*)
          .exceptAll(ref.select(cols.map(col): _*)).limit(2).collect().mkString("; "))
    current ++ duplicates(store)
  }

  /** How many gate checks ran (the self-test asserts they did). */
  var checks = 0

  private def duplicates(store: SnapshotStore): Seq[String] = {
    checks += 1
    val d = Scd2.duplicateCurrentKeys(store.read().get, K).limit(3).collect()
    if (d.isEmpty) Nil else Seq(s"keys with more than one current row: ${d.mkString(", ")}")
  }

  /** Each query type, at fixed parameters, must answer the same on the
    * final store as on a fresh single publish of one merge of every
    * applied change onto the seed dim. */
  def gateReads(store: SnapshotStore, p: Pass, dir: Path): Seq[String] = {
    val seedDf = spark.read.parquet(dim.path)
    val refStore = new SnapshotStore(spark, dir.resolve("reference").toString)
    refStore.publish(appliedChanges(p).fold(seedDf)(a =>
      Scd2.merge(seedDf, a, K, TS, TIE, Some(Op))))
    val refDim = refStore.read().get.cache()
    val ref = Source(() => refDim, k => refDim.filter(col(K) === k))
    val stored = store.read().get
    val src = storeSource(store).copy(read = () => stored)
    val lo = epoch(SeedStart)
    val hi = p.applied.lastOption.map(_.lastTs.getTime / 1000)
      .getOrElse(lo + shape.dimChanges)
    def at(share: Double) = new Timestamp((lo + ((hi - lo) * share).toLong) * 1000)
    val keys = p.applied.lastOption.map(_.keyList.head).toSeq :+ (shape.dimKeys / 2L)
    val qs: Seq[Q] = Seq(Current(), AsOfAt(at(0.97)), AsOfJoin(), Diff(at(0.3), at(1.0))) ++
      keys.map(Timeline(_))
    def norm(rows: Array[Row]) = rows.map(_.toString).sorted.toSeq
    checks += qs.size
    qs.flatMap { q =>
      val (a, b) = (norm(answer(q, readFor(src, q))), norm(answer(q, readFor(ref, q))))
      if (a == b) None
      else Some(s"$q: store ${a.take(3).mkString(";")} vs rebuild ${b.take(3).mkString(";")}")
    }.tap(_ => refDim.unpersist()) ++ duplicates(store)
  }

  def gate(store: SnapshotStore, p: Pass, dir: Path): Seq[String] =
    try if (reads) gateReads(store, p, dir) else gateIngest(store, p)
    catch { case e: Exception => Seq(s"gate could not run: $e") }

  // ── per-layer figures of a traced pass ─────────────────────────────
  /** Versions opened and expired by the measured changes, per change in. */
  def appliedRatio(store: SnapshotStore, p: Pass): Double = {
    val t = new Timestamp(epoch(ChangeStart) * 1000)
    val r = store.read().get.agg(
      sum(when(col("valid_from") >= lit(t), 1L).otherwise(0L)),
      sum(when(col("valid_to") >= lit(t), 1L).otherwise(0L))).head()
    (r.getLong(0) + r.getLong(1)).toDouble / p.records
  }

  def progressTimestampMs(prog: StreamingQueryProgress): Double =
    Instant.parse(prog.timestamp).toEpochMilli.toDouble
}
