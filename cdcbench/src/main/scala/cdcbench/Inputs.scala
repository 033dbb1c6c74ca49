package cdcbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.chaining._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.engine.{Cdc, ChangeGen, Scd2}
import graft.streaming.CdcStream

/** One staged change file: its path and the properties the workload and
  * its gates need, all computed from the generated rows at staging time.
  * `last*` describe the file's final record, whose key the ingest probe
  * looks up right after the file commits. */
final case class ChangeFile(path: Path, records: Long, keys: Long,
                            deletes: Long, bytes: Long, keyList: Seq[Long],
                            lastKey: Long, lastDeleted: Boolean,
                            lastStatus: String, lastAmount: java.math.BigDecimal,
                            lastTs: java.sql.Timestamp)

/** The seeded dimension, staged as parquet before any timer starts. */
final case class SeedDim(path: String, rows: Long, currentRows: Long, bytes: Long)

/** Input generation and staging. Everything here runs before a timer
  * starts; the engine later sees only the files written here. */
object Inputs {
  val K = "order_key"; val TS = "cdc_timestamp"; val TIE = "change_id"
  val Op = "operation_type"
  val SeedStart = "2024-01-01 00:00:00"
  val ChangeStart = "2024-03-01 00:00:00"

  /** `dimChanges` seeded changes over `dimKeys` keys, rebuilt into a
    * versioned dimension (the op column is transport, not payload). */
  def seedDim(spark: SparkSession, dimChanges: Long, dimKeys: Int, seed: Long,
              dir: Path): SeedDim = {
    val path = dir.resolve("seed_dim").toString
    val ch = ChangeGen.changes(spark, dimChanges, dimKeys, seed, SeedStart).drop(Op)
    Scd2.rebuild(ch, K, TS, TIE).write.parquet(path)
    val r = spark.read.parquet(path)
      .agg(count(lit(1)), sum(when(col("is_current"), 1L).otherwise(0L))).head()
    SeedDim(path, r.getLong(0), r.getLong(1), dirBytes(Paths.get(path)))
  }

  /** Changes for the measured drain: `nFiles` × `perFile` generated ids,
    * file `i` holding ids `[i·perFile, (i+1)·perFile)` (NOOP ticks emit
    * nothing, so a file holds ~90% of `perFile` records). */
  def changes(spark: SparkSession, perFile: Long, nFiles: Int, nKeys: Int,
              seed: Long, start: String): DataFrame =
    ChangeGen.changes(spark, perFile * nFiles, nKeys, seed, start)
      .withColumn("_f", floor(col(TIE) / perFile).cast("int"))

  /** Changes holding at most one change per key across all files, so a
    * single merge over any prefix of the files gives the same history as
    * merging them one file at a time (the history_reads rebuild gate). */
  def uniqueKeyChanges(spark: SparkSession, perFile: Long, nFiles: Int,
                       nKeys: Int, seed: Long, start: String): DataFrame = {
    val one = Cdc.dedupLastPerKey(
      ChangeGen.changes(spark, perFile * nFiles * 3, nKeys, seed, start), K, TS, TIE)
    one.withColumn("_rn", row_number().over(Window.orderBy(col(TIE))))
      .filter(col("_rn") <= perFile * nFiles)
      .withColumn("_f", ((col("_rn") - 1) / perFile).cast("int"))
      .drop("_rn")
  }

  def schemaOf(df: DataFrame): StructType =
    StructType(df.schema.fields.filterNot(_.name == "_f"))

  /** Write `df` (carrying a file-number column `_f`) as one JSON file per
    * `_f` value, named `<prefix>_NNNNN.json` under `dir`, in one job. */
  def stageFiles(df: DataFrame, dir: Path, prefix: String,
                 withKeys: Boolean = false): IndexedSeq[ChangeFile] = {
    val stage = dir.resolve(s"_stage_$prefix")
    df.repartition(col("_f")).sortWithinPartitions("_f", TIE)
      .write.partitionBy("_f").json(stage.toString)
    val last = struct(col(K), col(Op), col("order_status"), col("total_amount"), col(TS))
    val stats = df.groupBy("_f").agg(count(lit(1)), countDistinct(col(K)),
        sum(when(col(Op) === "DELETE", 1L).otherwise(0L)),
        max_by(last, col(TIE)),
        if (withKeys) collect_set(col(K)) else array().cast("array<bigint>"))
      .collect().map(r => r.getInt(0) -> r).toMap
    Files.createDirectories(dir)
    stats.keys.toSeq.sorted.zipWithIndex.map { case (f, i) =>
      val parts = Files.list(stage.resolve(s"_f=$f"))
      val src = try parts.iterator().asScala
        .filter(_.getFileName.toString.endsWith(".json")).toSeq finally parts.close()
      require(src.size == 1, s"staging: file group $f wrote ${src.size} files")
      val dst = dir.resolve(f"${prefix}_$i%05d.json")
      Files.move(src.head, dst)
      val r = stats(f); val l = r.getStruct(4)
      ChangeFile(dst, r.getLong(1), r.getLong(2), r.getLong(3), Files.size(dst),
        r.getSeq[Long](5).sorted, l.getLong(0), l.getString(1) == "DELETE",
        l.getString(2), l.getDecimal(3), l.getTimestamp(4))
    }.toIndexedSeq.tap(_ => Fs.deleteTree(stage))
  }

  /** `pmod(xxhash64(key), buckets)` for every key in `[0, keySpace)`,
    * computed by the engine's own bucket function. */
  def bucketsOf(spark: SparkSession, keySpace: Int, buckets: Int): Array[Int] = {
    val out = new Array[Int](keySpace)
    CdcStream.bucketed(spark.range(keySpace).toDF(K), K, buckets)
      .collect().foreach(r => out(r.getLong(0).toInt) = r.getInt(1))
    out
  }

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val st = Files.walk(p)
      try st.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally st.close()
    }

  /** The input properties every run records next to its metrics. */
  def properties(files: Seq[ChangeFile], dim: SeedDim, seed: Long): Json.Obj = {
    val recs = files.map(_.records).sum.toDouble
    Json.obj("seed" -> seed, "files" -> files.size,
      "records" -> files.map(_.records).sum,
      "distinct_keys_per_file" -> files.map(_.keys).sum / files.size.toDouble,
      "delete_share" -> files.map(_.deletes).sum / recs,
      "duplicate_share" -> (1.0 - files.map(_.keys).sum / recs),
      "change_bytes" -> files.map(_.bytes).sum,
      "seed_dim_rows" -> dim.rows, "seed_dim_current_rows" -> dim.currentRows,
      "seed_dim_bytes" -> dim.bytes)
  }
}
