package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.engine._
import graft.streaming.CdcStream

/** End-to-end pipeline driver: generate change batches → discover
  * unprocessed files via the ledger → merge into the versioned snapshot →
  * record run metadata → drain the same batches through the streaming
  * path and compare. The library-level mirror of the reference's
  * `run_pipeline.sh` flow. Usage: graft.PipelineDemo [workDir] */
object PipelineDemo {
  def main(args: Array[String]): Unit = {
    val work = if (args.nonEmpty) args(0)
    else Files.createTempDirectory("graft_pipeline").toString
    val spark = Harness.session(4)
    import spark.implicits._

    val K = "order_key"; val TS = "cdc_timestamp"; val TIE = "change_id"

    // 1. simulate workload → three JSON change-batch files (S10 + S4).
    // Batch (time) order is kept in the file names: applying batches out
    // of order is legal — the T4 stale guard drops late-arriving older
    // changes — but this demo asserts the happy path.
    val changes = ChangeGen.changes(spark, 900, 80, seed = 42)
    val idx = ChangeGen.writeBatchFiles(changes, "change_id", 3, 300, work)
    println(s"wrote $idx change batch files")

    // 2. batch load: ledger discovery → dedup → merge → snapshot publish
    val schema = changes.schema
    val store = new SnapshotStore(spark, s"$work/dim")
    val ledger = new Ledger(spark, s"$work/ledger")
    val meta = new MetadataLog(spark, s"$work/meta")
    val files = (0 until idx).map(i => f"changes_$i%03d.json").toDF("filename")
    val todo = ledger.unprocessed(files).as[String].collect().sorted
    println(s"unprocessed: ${todo.mkString(", ")}")
    meta.record("batch_load", "run1", "running", 0)
    var applied = 0L
    todo.foreach { f =>
      val batch = spark.read.schema(schema).json(s"$work/$f")
      val batchId = Cdc.batchId(batch, TIE).first().getString(0)
      if (!ledger.isProcessed(f, batchId)) {
        val dim = store.read().getOrElse(Scd2.rebuild(batch.limit(0), K, TS, TIE))
        store.publish(Scd2.merge(dim, batch, K, TS, TIE, Some("operation_type")))
        ledger.append(f, batchId)
        applied += batch.count()
      }
    }
    meta.record("batch_load", "run1", "completed", applied)
    val dim = store.read().get
    println(s"batch dim: version=${store.currentVersion().get} rows=${dim.count()} " +
      s"current=${Scd2.current(dim).count()} " +
      s"dupCurrentKeys=${Scd2.duplicateCurrentKeys(dim, K).count()}")

    // per-key lineage observability (reference verify_scd2.py:344-495):
    // report the most-versioned key's full timeline
    val hotKey = Stats.changeFrequency(dim, K)
      .orderBy(org.apache.spark.sql.functions.desc("n_versions"),
        org.apache.spark.sql.functions.col(K))
      .first().getAs[Long](K)
    println(graft.engine.Lineage.report(dim, K, hotKey))

    // replay: nothing should change
    val v0 = store.currentVersion().get
    val todo2 = ledger.unprocessed(files).count()
    println(s"replay discovery finds $todo2 files (expect 0); version stays $v0")

    // T7 retention: bound the time-travel window, keep the published version
    val vacuumed = store.vacuum(keepLast = 2)
    println(s"vacuumed versions ${vacuumed.mkString(",")}; " +
      s"remaining ${store.versions().mkString(",")}; " +
      s"current still readable: ${store.read().get.count() > 0}")

    // 3. streaming load of the same files into a second snapshot
    val store2 = new SnapshotStore(spark, s"$work/dim_stream")
    val q = CdcStream.start(spark, s"$work/changes_*.json", s"$work/ckpt",
      store2, schema, K, TS, TIE, opCol = Some("operation_type"))
    q.awaitTermination()
    val dim2 = store2.read().get
    val a = Scd2.current(dim).select(K, TIE).orderBy(K)
    val b = Scd2.current(dim2).select(K, TIE).orderBy(K)
    val same = a.collect().toSeq == b.collect().toSeq
    println(s"stream dim: rows=${dim2.count()} current==batch_current: $same")
    println(s"metadata: " + meta.stats(30).first())
    spark.stop()
    if (!same || todo2 != 0) sys.exit(1)
  }
}
