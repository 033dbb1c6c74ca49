package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.engine.{Cdc, Scd2}

/** Property tests over random change sequences (SURVEY §5): the SCD2
  * rebuild is deterministic and invariant-preserving for ANY input, and
  * splitting a change stream at ANY point then merging reproduces the
  * full rebuild. */
class Scd2PropertySpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  /** Plain-ScalaCheck property loop (the scalatest bridge artifact is not
    * on the offline resolver): deterministic seeds, failures report the
    * seed index. */
  private def forAllSeeded[A](gen: Gen[A], n: Int)(body: A => Unit): Unit =
    (0 until n).foreach { i =>
      gen.apply(Gen.Parameters.default, Seed(i.toLong)) match {
        case Some(v) => withClue(s"seed=$i")(body(v))
        case None => ()
      }
    }

  private val changeGen = for {
    n <- Gen.choose(1, 60)
    rows <- Gen.listOfN(n, for {
      key <- Gen.choose(1L, 8L)
      tsOff <- Gen.choose(0L, 500L)
      op <- Gen.oneOf("UPSERT", "UPSERT", "UPSERT", "DELETE")
      v <- Gen.choose(0, 999)
    } yield (key, tsOff, op, v.toDouble))
  } yield rows.zipWithIndex.map { case ((k, t, o, v), i) =>
    (i.toLong, k, java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime + t * 1000, o, v)
  }

  private def toDf(rows: Seq[(Long, Long, Long, String, Double)]) =
    rows.toDF("event_id", "user_id", "epoch", "operation_type", "value")
      .withColumn("ts", timestamp_millis($"epoch")).drop("epoch")

  test("rebuild is deterministic and preserves invariants on random streams") {
    forAllSeeded(changeGen, 15) { rows =>
      val df = toDf(rows)
      val d1 = Scd2.rebuild(df, "user_id", "ts", "event_id")
      val d2 = Scd2.rebuild(df, "user_id", "ts", "event_id")
      assert(d1.orderBy("user_id", "version_no").collect().toSeq ===
        d2.orderBy("user_id", "version_no").collect().toSeq)
      assert(Scd2.duplicateCurrentKeys(d1, "user_id").count() === 0)
      assert(d1.filter($"is_current" =!= $"valid_to".isNull).count() === 0)
    }
  }

  test("merge at any split point reproduces rebuild over hist ∪ deduped batch") {
    forAllSeeded(changeGen.flatMap(r => Gen.choose(0L, 500L).map(o => (r, o))), 15) { case (rows, splitOff) =>
      val df = toDf(rows)
      val split = timestamp_millis(lit(
        java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime + splitOff * 1000))
      val hist = df.filter($"ts" <= split)
      val batch = df.filter($"ts" > split)
      val merged = Scd2.merge(Scd2.rebuild(hist, "user_id", "ts", "event_id"),
        batch, "user_id", "ts", "event_id")
      val expected = Scd2.rebuild(
        hist.unionByName(Cdc.dedupLastPerKey(batch, "user_id", "ts", "event_id")),
        "user_id", "ts", "event_id")
      val cols = expected.columns.sorted.map(col)
      assert(merged.select(cols: _*).orderBy("user_id", "version_no").collect().toSeq ===
        expected.select(cols: _*).orderBy("user_id", "version_no").collect().toSeq)
    }
  }

  test("op-aware merge keeps invariants with random DELETE mix") {
    forAllSeeded(changeGen, 10) { rows =>
      val df = toDf(rows)
      val mid = timestamp_millis(lit(
        java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime + 250 * 1000))
      val hist = df.filter($"ts" <= mid)
      val batch = df.filter($"ts" > mid)
      val dim = Scd2.rebuild(hist, "user_id", "ts", "event_id")
      val merged = Scd2.merge(dim, batch, "user_id", "ts", "event_id", Some("operation_type"))
      // every routing agrees: the batch's keys collected, and the planned
      // joins with and without broadcasts
      val want = merged.orderBy("user_id", "version_no").collect().toSeq
      val collected = Scd2.mergeBatch(dim, batch, "user_id", "ts", "event_id",
        Some("operation_type"), Scd2.batchKeys(batch, "user_id"))
      try assert(collected.dim.orderBy("user_id", "version_no").collect().toSeq === want)
      finally collected.cleanup()
      withoutBroadcast {
        assert(Scd2.merge(dim, batch, "user_id", "ts", "event_id", Some("operation_type"))
          .orderBy("user_id", "version_no").collect().toSeq === want)
      }
      // at most one current row per key; never a current row for a key
      // whose latest routed change was DELETE
      assert(Scd2.duplicateCurrentKeys(merged, "user_id").count() === 0)
      assert(merged.filter($"is_current" =!= $"valid_to".isNull).count() === 0)
      val latestBatch = Cdc.dedupLastPerKey(batch, "user_id", "ts", "event_id")
      val deletedKeys = latestBatch.filter($"operation_type" === "DELETE")
        .select("user_id")
      assert(Scd2.current(merged).join(deletedKeys, "user_id").count() === 0)
      // no overlapping versions: as-of at sampled instants is unique per key
      for (off <- Seq(100L, 300L, 450L)) {
        val at = timestamp_millis(lit(
          java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime + off * 1000))
        val atRows = Scd2.asOf(merged, at)
        assert(atRows.count() === atRows.select("user_id").distinct().count())
      }
    }
  }

  /** Run `body` with broadcast joins off: every merge plans sort-merge
    * joins, and the store path routes by planned joins. */
  private def withoutBroadcast[T](body: => T): T = {
    val old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try body finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
  }

  /** A random change history cut into micro-batches: rows are
    * (event_id, key, ts offset, op, value), batches are in arrival order,
    * which is not event-time order, so later batches carry stale rows; ts
    * offsets span a narrow range, so same-timestamp ties are common; and
    * some rows are re-delivered verbatim in the same or a later batch. */
  private val splitHistoryGen = for {
    nBatches <- Gen.choose(1, 4)
    n <- Gen.choose(1, 24)
    rows <- Gen.listOfN(n, for {
      key <- Gen.choose(1L, 6L)
      tsOff <- Gen.choose(0L, 20L)
      op <- Gen.oneOf("INSERT", "UPDATE", "UPDATE", "DELETE")
      v <- Gen.choose(0, 99)
      b <- Gen.choose(0, nBatches - 1)
    } yield (key, tsOff, op, v.toDouble, b))
    nRedeliver <- Gen.choose(0, 3)
    redeliver <- Gen.listOfN(nRedeliver,
      Gen.zip(Gen.choose(0, n - 1), Gen.choose(0, nBatches - 1)))
  } yield {
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    val ids = rows.zipWithIndex.map { case ((k, t, o, v, b), i) =>
      ((i.toLong, k, t0 + t * 1000, o, v), b)
    }
    val again = redeliver.map { case (i, b) =>
      (ids(i)._1, math.max(b, ids(i)._2)) }
    (0 until nBatches).map(b => (ids ++ again).filter(_._2 == b).map(_._1))
  }

  test("whole-dim store path equals the in-memory fold of Scd2.merge over " +
    "random micro-batch splits; history files carry forward by inode") {
    storeFoldProperty(broadcast = true)
  }

  test("whole-dim store path routed by planned joins (no broadcast) equals " +
    "the in-memory fold of Scd2.merge") {
    withoutBroadcast(storeFoldProperty(broadcast = false))
  }

  /** With `broadcast` the store path routes each batch with its keys
    * collected; without, by sort-merge joins. The fold plans joins. Each
    * history also draws a layout — whole-dim or 4 buckets — and a vacuum
    * keeping only the current version runs after every batch, so the final
    * equality shows that carry never depends on a dropped version. */
  private def storeFoldProperty(broadcast: Boolean): Unit = {
    import graft.engine.SnapshotStore
    import graft.streaming.CdcStream
    import java.nio.file.Files
    def ino(p: java.nio.file.Path) = Files.getAttribute(p, "unix:ino")
    val (key, ts, tie, op) = ("user_id", "ts", "event_id", Some("operation_type"))
    forAllSeeded(Gen.zip(splitHistoryGen, Gen.oneOf(0, 4)), if (broadcast) 100 else 40) {
      case (batches, buckets) => withClue(s"buckets=$buckets") {
      val root = Files.createTempDirectory("prop_store")
      val store = new SnapshotStore(spark, root.toString)
      def currentBuckets() =
        store.currentVersion().fold(Map.empty[String, Map[String, AnyRef]])(v => bucketInodes(root.resolve(s"v$v")))
      // the most history files a bucket may keep
      val bound = 2 * math.max(1, spark.sparkContext.defaultParallelism / math.max(1, buckets))
      val empty = Scd2.rebuild(toDf(Nil).drop("operation_type"), key, ts, tie)
      val expected = batches.map(toDf).foldLeft(empty) { (dim, b) =>
        if (b.isEmpty) dim
        else {
          val prior = store.currentVersion().map(v => store.historyFiles(v)
            .map(p => p.getFileName.toString -> ino(p))).getOrElse(Nil)
          val priorBuckets = currentBuckets()
          // the routing the store path takes
          assert(Scd2.batchKeys(b, key).values.isDefined === broadcast)
          CdcStream.applyChangeBatch(store, b, key, ts, tie, op, buckets)
          val hist = store.historyFiles(store.currentVersion().get)
          hist.foreach(f => assert(closedOnly(f), s"history file $f holds a current row"))
          hist.groupBy(_.getParent).foreach { case (d, fs) =>
            assert(fs.size <= bound, s"bucket $d keeps ${fs.size} history files") }
          if (buckets == 0) {
            // at most 3 prior history files here, far below the fold bound,
            // and the schema never widens: every file must carry by inode
            val now = hist.map(p => p.getFileName.toString -> ino(p)).toMap
            prior.foreach { case (n, i) => assert(now.get(n).contains(i),
              s"history file $n was rewritten instead of carried") }
          } else {
            // every bucket the batch's keys miss keeps its files' inodes
            val touched = CdcStream.bucketed(b, key, buckets).select(CdcStream.BucketCol)
              .distinct().collect().map(r => s"${CdcStream.BucketCol}=${r.getInt(0)}").toSet
            val now = currentBuckets()
            (priorBuckets -- touched).foreach { case (d, files) =>
              assert(now.get(d).contains(files), s"untouched bucket $d was not carried by link") }
          }
          store.vacuum(keepLast = 1)
          Scd2.merge(dim, b, key, ts, tie, op).localCheckpoint()
        }
      }
      store.currentVersion().foreach { _ =>
        val cols = expected.columns.sorted.map(col).toIndexedSeq
        assert(store.read().get.select(cols: _*)
          .orderBy(key, "version_no").collect().toSeq ===
          expected.select(cols: _*).orderBy(key, "version_no").collect().toSeq)
      }
    } }
  }

  /** Does parquet file `f` hold closed rows only? Read from its footer:
    * every row group's `is_current` statistics must top out at false. */
  private def closedOnly(f: java.nio.file.Path): Boolean = {
    import scala.jdk.CollectionConverters._
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(
      new org.apache.parquet.io.LocalInputFile(f))
    try r.getFooter.getBlocks.asScala.forall(_.getColumns.asScala.exists { c =>
      val st: org.apache.parquet.column.statistics.Statistics[_] = c.getStatistics
      c.getPath.toDotString == "is_current" && st != null && st.hasNonNullValue &&
        st.genericGetMax == java.lang.Boolean.FALSE
    }) finally r.close()
  }
}
