package graft

import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.{ChangeGen, SnapshotStore}
import graft.streaming.CdcStream

/** One micro-batch of the streaming SCD2 merge, as [[CdcStream]] runs it:
  * what an empty or a no-op batch publishes, the schema readers see, and
  * what each job of a batch is named. */
class CdcBatchSpec extends AnyFunSuite {
  import TestSpark._

  private val (key, ts, tie, op) = ("order_key", "cdc_timestamp", "change_id", "operation_type")
  private val changes = ChangeGen.changes(spark, 900, 80, seed = 23)
    .select("change_id", "cdc_timestamp", "order_key", "operation_type",
      "order_status", "quantity", "unit_price", "total_amount")
  private val schema: StructType = changes.schema

  /** Change ids [lo, hi) as a batch read from a JSON file, as the stream
    * reads one. */
  private def batchFile(lo: Long, hi: Long): DataFrame = {
    val dir = Files.createTempDirectory("cdc_batch").resolve("b").toString
    changes.filter(col(tie) >= lo && col(tie) < hi).coalesce(1).write.json(dir)
    spark.read.schema(schema).json(dir)
  }

  private def apply(store: SnapshotStore, batch: DataFrame, buckets: Int,
                    manifest: Boolean): Unit =
    CdcStream.applyChangeBatch(store, batch, key, ts, tie, Some(op), buckets, manifest)

  private def rows(store: SnapshotStore): Seq[String] =
    store.read().get.drop(CdcStream.BucketCol).collect().map(_.toString).sorted.toSeq

  for ((mode, buckets, manifest) <- Seq(("whole-dim", 0, false),
      ("bucketed", 4, false), ("manifest-carry", 4, true))) {
    test(s"an empty batch publishes no version ($mode)") {
      val store = new SnapshotStore(spark,
        Files.createTempDirectory(s"cdc_empty_$mode").toString)
      apply(store, batchFile(0, 400), buckets, manifest)
      apply(store, batchFile(400, 700), buckets, manifest)
      val v = store.currentVersion()
      val before = rows(store)
      val emptyDir = Files.createTempDirectory("cdc_empty_files")
      Files.writeString(emptyDir.resolve("blank.json"), "\n\n")
      Files.createFile(emptyDir.resolve("zero.json"))
      val empties = Seq(
        batchFile(0, 400).limit(0),
        batchFile(0, 400).filter(col(tie) < -1),
        spark.read.schema(schema).json(emptyDir.resolve("blank.json").toString),
        spark.read.schema(schema).json(emptyDir.resolve("zero.json").toString),
        spark.createDataFrame(java.util.Collections.emptyList[org.apache.spark.sql.Row](),
          schema))
      empties.foreach { e =>
        apply(store, e, buckets, manifest)
        assert(store.currentVersion() === v)
      }
      assert(store.versions().max === v.get)
      assert(rows(store) === before)
    }
  }

  for ((mode, buckets) <- Seq(("whole-dim", 0), ("bucketed", 4))) {
    test(s"a batch that changes no row publishes no version ($mode)") {
      val store = new SnapshotStore(spark,
        Files.createTempDirectory(s"cdc_noop_$mode").toString)
      apply(store, batchFile(0, 400), buckets, manifest = false)
      apply(store, batchFile(400, 700), buckets, manifest = false)
      val (v, vs, before) = (store.currentVersion(), store.versions(), rows(store))
      // an UPDATE older than its key's timeline end (the stale guard
      // drops it) and a DELETE of a key the dimension never held
      val one = batchFile(0, 100).limit(1)
      val stale = one.withColumn(tie, lit(100000L)).withColumn(op, lit("UPDATE"))
        .withColumn(ts, lit("2000-01-01 00:00:00").cast("timestamp"))
      val absent = one.withColumn(tie, lit(100001L)).withColumn(op, lit("DELETE"))
        .withColumn(key, lit(99999999L))
      apply(store, stale.unionByName(absent), buckets, manifest = false)
      assert(store.currentVersion() === v)
      assert(store.versions() === vs)
      assert(rows(store) === before)
    }
  }

  test("readers see the schema spark.read.parquet infers, field for field") {
    val root = Files.createTempDirectory("cdc_schema")
    val store = new SnapshotStore(spark, root.toString)
    def inferred(v: Long): StructType = spark.read.parquet(root.resolve(s"v$v").toString).schema
    def same(a: StructType, b: StructType, what: String): Unit =
      assert(a.fields.toSeq === b.fields.toSeq, what)
    def check(what: String): Unit = {
      val v = store.currentVersion().get
      same(store.read().get.schema, inferred(v), s"$what: read")
      store.readSegments().foreach { case (h, l) =>
        h.foreach(x => same(x.schema, inferred(v), s"$what: history segment"))
        same(l.schema, inferred(v), s"$what: live segment")
      }
      if (store.currentPartitionCols().nonEmpty)
        same(store.readCurrentPartitions(CdcStream.BucketCol, Seq(0, 1)).schema, inferred(v),
          s"$what: partition read")
    }
    // a plain publish: a legacy version without `hist-` files
    store.publish(batchFile(0, 300).drop(op).withColumn("valid_from", col(ts))
      .withColumn("valid_to", lit(null).cast("timestamp"))
      .withColumn("is_current", lit(true)).withColumn("version_no", lit(1L))
      .withColumn("cdc_operation", lit("INSERT")).dropDuplicates(key))
    check("seed publish")
    apply(store, batchFile(300, 600), 0, manifest = false)
    assert(store.historyFiles(store.currentVersion().get).nonEmpty)
    check("segmented publish")
    apply(store, batchFile(600, 750).withColumn("channel", lit("web")), 0, manifest = false)
    assert(store.read().get.columns.contains("channel"))
    check("a batch that widens the schema")
    // delete every key: the live segment is left empty
    val everyKey = store.read().get.filter(col("is_current")).select(key).distinct()
      .withColumn(tie, lit(10000L) + monotonically_increasing_id())
      .withColumn(ts, lit("2030-01-01 00:00:00").cast("timestamp"))
      .withColumn(op, lit("DELETE"))
    val deletes = schema.fieldNames.foldLeft(everyKey) { (d, f) =>
      if (d.columns.contains(f)) d else d.withColumn(f, lit(null).cast(schema(f).dataType))
    }.withColumn("channel", lit("web"))
    apply(store, deletes, 0, manifest = false)
    assert(store.read().get.filter(col("is_current")).isEmpty)
    check("every key deleted")
    store.purgeKeys(store.read().get.select(key).limit(5), key)
    check("purgeKeys rewrite")
    val web = (lo: Long, hi: Long) => batchFile(lo, hi).withColumn("channel", lit("web"))
    apply(store, web(750, 850), 16, manifest = false)
    assert(store.currentPartitionCols() === Seq(CdcStream.BucketCol))
    check("a bucketed version")
    val before = bucketInodes(root.resolve(s"v${store.currentVersion().get}"))
    // one new key (every older key was deleted in 2030): its bucket
    // writes a current row, the other 15 carry
    apply(store, web(850, 900).filter(col(op) === "INSERT").limit(1)
      .withColumn(key, lit(1000000L)), 16, manifest = true)
    val after = bucketInodes(root.resolve(s"v${store.currentVersion().get}"))
    assert(before.size === 16 && after.size === 16)
    assert(after.count { case (b, files) => before.get(b).contains(files) } === 15,
      "a one-key batch must carry 15 of 16 buckets by link")
    check("a version with 15 of 16 buckets carried")
    store.purgeKeys(store.read().get.select(key).limit(5), key)
    check("a bucketed purge rewrite")
  }

  test("a version an older build carried by _MANIFEST is refused by read and vacuum") {
    val root = Files.createTempDirectory("cdc_legacy")
    val store = new SnapshotStore(spark, root.toString)
    apply(store, batchFile(0, 400), 4, manifest = false)
    apply(store, batchFile(400, 700), 4, manifest = false)
    val cur = root.resolve(s"v${store.currentVersion().get}")
    val mf = cur.resolve("_MANIFEST")
    // the older build's format: `bucket<TAB>owner version`, one line a
    // carried bucket
    Files.writeString(mf, s"${CdcStream.BucketCol}=0\t0\n${CdcStream.BucketCol}=1\t0")
    Seq[(String, () => Any)]("read" -> (() => store.read()),
        "vacuum" -> (() => store.vacuum(keepLast = 1))).foreach { case (verb, call) =>
      val e = intercept[IllegalStateException](call())
      assert(e.getMessage.contains(mf.toString), s"$verb: ${e.getMessage}")
    }
    assert(store.versions() === Seq(0L, 1L), "the refused vacuum must delete nothing")
  }

  test("a streamed batch's jobs are named by the engine, not the stream") {
    val in = Files.createTempDirectory("cdc_callsite_in").toString
    val ckpt = Files.createTempDirectory("cdc_callsite_ckpt").toString
    val store = new SnapshotStore(spark,
      Files.createTempDirectory("cdc_callsite_store").toString)
    assert(ChangeGen.writeBatchFiles(changes, tie, 2, 450, in) === 2)
    val details = mutable.Buffer.empty[(String, String)]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("streaming.sql.batchId") != null))
          details.synchronized(e.stageInfos.foreach(s => details += ((s.name, s.details))))
    }
    spark.sparkContext.addSparkListener(listener)
    try CdcStream.start(spark, s"$in/changes_*.json", ckpt, store, schema, key, ts, tie,
      Some(op)).awaitTermination()
    finally spark.sparkContext.removeSparkListener(listener)
    Thread.sleep(500) // the listener bus delivers asynchronously
    val seen = details.synchronized(details.toList)
    assert(seen.nonEmpty)
    seen.foreach { case (name, d) =>
      assert(Seq("applyChangeBatch", "SnapshotStore", "Scd2").exists(d.contains),
        s"stage '$name' is not named by the engine:\n$d")
      assert(!name.startsWith("start at"), s"stage named by the stream: $name")
    }
    assert(seen.exists(_._1.contains("SnapshotStore.scala")))
    assert(seen.exists(_._1.contains("Scd2.scala")))
  }

  test("insert-only batches write without a shuffle once the current rows span the files") {
    val store = new SnapshotStore(spark,
      Files.createTempDirectory("cdc_insert_only").toString)
    val publishStages = mutable.Set.empty[Int]
    val shuffled = mutable.Map.empty[Int, Long]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).flatMap(p => Option(p.getProperty("callSite.short")))
            .exists(_.contains("publishSegments")))
          publishStages.synchronized(publishStages ++= e.stageInfos.map(_.stageId))
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        shuffled.synchronized(shuffled(e.stageInfo.stageId) =
          e.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
    }
    /** Shuffle bytes the publish of one insert-only batch wrote: batch `i`
      * carries keys no earlier batch had, so it closes no row. */
    def publishShuffle(i: Int): Long = {
      publishStages.synchronized(publishStages.clear())
      apply(store, batchFile(0, 300).withColumn(key, col(key) + i * 100000L), 0, false)
      Thread.sleep(500) // the listener bus delivers asynchronously
      val ids = publishStages.synchronized(publishStages.toSet)
      assert(ids.nonEmpty)
      shuffled.synchronized(ids.toSeq.map(shuffled.getOrElse(_, 0L)).sum)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      // the first publish spreads the current rows over the files
      assert(publishShuffle(0) > 0)
      (1 to 3).foreach(i => assert(publishShuffle(i) === 0L, s"batch $i shuffled"))
      assert(store.historyFiles(store.currentVersion().get).isEmpty)
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
