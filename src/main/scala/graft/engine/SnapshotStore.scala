package graft.engine

import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, hash, lit, pmod}
import org.apache.spark.sql.types.{IntegerType, StructType}

/** Versioned parquet snapshot store with atomic publish — the engine's
  * replacement for the reference's transactional UPDATE+INSERT unit
  * (/root/reference/src/warehouse/scd2_loader.py:523-538) in an
  * immutable-file world (no table format jar in scope, so the commit
  * protocol is ours: SURVEY §7.3).
  *
  * Layout: `root/v{N}/` parquet dirs plus a `root/_CURRENT` pointer file
  * whose first line is the published version number — the engine's one
  * pointer protocol ([[VersionPointer]]), shared with [[Compaction]]'s
  * versioned tables. Writers write the new
  * version dir fully, then atomically move a temp pointer over `_CURRENT`;
  * readers resolve the pointer first, so they never observe a
  * half-written snapshot. Old versions remain for time travel until
  * vacuumed. A crash between dir write and pointer publish leaves an
  * orphan dir — harmless, the pointer still names the last good version,
  * and the retry clears it before writing its own
  * (same replay-safety window the reference has between commit and ledger
  * append, solved the same way: re-publishing version N+1 is idempotent).
  *
  * Buckets and segments: a version's data lives in buckets — one
  * `col=value` partition dir each, or the version dir itself when it is
  * flat (the one-bucket case). A bucket may be carried from an older
  * version by hard link, so every version dir holds all of its buckets
  * and a read of it is one parquet relation. Inside a bucket,
  * [[publishSegments]] (the SCD2 publish, in every mode) keeps the
  * closed rows (`is_current = false`) in `hist-`-prefixed files
  * apart from the current rows. Closed versions never change, so the
  * next such publish hard-links those files forward and rewrites only
  * the current rows of the buckets it touches. The split is invisible
  * to readers: a version is still one parquet table with one schema, and
  * every other writer (including [[purgeKeys]]' rewrites) produces
  * buckets without a history segment, which the next [[publishSegments]]
  * simply re-splits.
  */
class SnapshotStore(spark: SparkSession, root: String) {
  private val rootPath = Paths.get(root)

  def currentVersion(): Option[Long] = VersionPointer.read(root)

  def read(): Option[DataFrame] = currentVersion().map(readVersion)

  /** Read a version — every bucket of it — with the schema of one
    * footer read (see [[schemaOf]]). */
  def readVersion(v: Long): DataFrame = {
    val dirs = bucketDirs(v)
    readPaths(v, schemaOf(dirs), dirs.values.toSeq)
  }

  /** The schema `spark.read.parquet` infers for `dirs` (bucket name →
    * dir, see [[bucketDirs]]), without its schema-inference job: the
    * footer schema of their first file plus, for partition dirs, the
    * partition column typed integer, as inference types integer values.
    * None (the read infers) when there is no file or the partition values
    * are not all integers. */
  private def schemaOf(dirs: Map[String, java.nio.file.Path]): Option[StructType] = {
    val parts = dirs.keys.filter(_.nonEmpty).map(_.split("=", 2)).toSeq
    val typed = parts.isEmpty || (spark.sessionState.conf.partitionColumnTypeInferenceEnabled &&
      parts.forall(p => p.length == 2 && p(1).toIntOption.isDefined))
    if (!typed) None
    else dirs.toSeq.sortBy(_._1).iterator.map(d => dataFiles(d._2).headOption)
      .collectFirst { case Some(f) => f }.flatMap(f => footerSchema(Seq(f)))
      .map(s => parts.headOption.fold(s)(p => s.add(p(0), IntegerType)))
  }

  /** The schema `spark.read.parquet` infers for a flat dir of these
    * files, from one footer read in the application instead of a schema-
    * inference job: Spark's own converter over the first file, which is
    * what its inference reads when schemas are not merged. Every file of a
    * version shares its schema (a publish that widens it rewrites every
    * file). None when there is no file or schema merging is on: the read
    * then infers. */
  private def footerSchema(files: Seq[java.nio.file.Path]): Option[StructType] =
    files.headOption.filter(_ => !spark.sessionState.conf.isParquetSchemaMergingEnabled)
      .map { f =>
        import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
        ParquetFileFormat.readSchemaFromFooter(
          new org.apache.parquet.hadoop.Footer(new org.apache.hadoop.fs.Path(f.toUri), footer(f)),
          new ParquetToSparkSchemaConverter(spark.sessionState.conf))
      }

  /** A parquet file's footer, read straight from the local file: no
    * Hadoop configuration lookups, which cost more than the read. */
  private def footer(f: java.nio.file.Path): org.apache.parquet.hadoop.metadata.ParquetMetadata = {
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(
      new org.apache.parquet.io.LocalInputFile(f))
    try r.getFooter finally r.close()
  }

  /** Read parquet `paths` (bucket dirs or their files) of version `v`
    * as one relation whose `basePath` is the version dir, so hive
    * partition inference sees the bucket column. `glob` filters the file
    * names read. The ONE read every reader here goes through, so the
    * resolution paths can never diverge. */
  private def readPaths(v: Long, schema: Option[StructType], paths: Seq[java.nio.file.Path],
                        glob: Option[String] = None): DataFrame = {
    val r = schema.fold(spark.read)(spark.read.schema(_))
      .option("basePath", versionDir(v).toString)
    glob.fold(r)(r.option("pathGlobFilter", _)).parquet(paths.map(_.toString).sorted: _*)
  }

  private def versionDir(v: Long): java.nio.file.Path = rootPath.resolve(s"v$v")

  private def isPartitionDir(p: java.nio.file.Path): Boolean =
    Files.isDirectory(p) && p.getFileName.toString.contains("=")

  /** A version's buckets, name → dir: its `col=value` partition dirs, or,
    * for a flat version, the version dir itself under the name "". */
  private def bucketDirs(v: Long): Map[String, java.nio.file.Path] = {
    val dir = versionDir(v)
    refuseManifest(dir)
    val parts = children(dir).filter(isPartitionDir).map(p => p.getFileName.toString -> p).toMap
    if (parts.nonEmpty) parts else Map("" -> dir)
  }

  /** Refuse a version dir an older build wrote with a `_MANIFEST`: its
    * carried buckets live in the versions that manifest names, which this
    * build neither reads nor keeps, so serving the version would miss
    * buckets and vacuuming would drop the versions it needs. */
  private def refuseManifest(dir: java.nio.file.Path): Unit = {
    val mf = dir.resolve("_MANIFEST")
    if (Files.exists(mf)) throw new IllegalStateException(
      s"$mf: this version's buckets are carried by a manifest naming older " +
        "versions, which this build does not resolve — materialize the store " +
        "with the build that wrote it first")
  }

  /** The entries of `dir`, empty when it does not exist. */
  private def children(dir: java.nio.file.Path): Seq[java.nio.file.Path] =
    if (!Files.isDirectory(dir)) Nil
    else {
      val stream = Files.list(dir)
      try {
        import scala.jdk.CollectionConverters._
        stream.iterator().asScala.toList
      } finally stream.close()
    }

  /** Write `df` as the next version and atomically publish it.
    * `partitionBy` columns become hive-style partition directories inside
    * the version dir — the 100 TB layout for time-keyed tables (a
    * date-bucketed change table or dim snapshot), where a reader's time
    * predicate then prunes at the directory level (PartitionFilters)
    * instead of scanning every file. The publish protocol is unchanged:
    * the version dir is written fully before the pointer moves. */
  def publish(df: DataFrame, partitionBy: Seq[String] = Nil,
              sidecars: Map[String, String] = Map.empty): Long =
    Lease.withLease(root, "publish") { publishVersionDir { dir =>
      val w = df.write.mode("overwrite")
      CallSites.named(spark) {
        (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
          .parquet(dir)
      }
      writeSidecars(dir, sidecars)
    } }

  /** Drop `_`-prefixed metadata files into a version dir BEFORE its
    * pointer flip — layout contracts (bucket count, …) that must be
    * atomic with the data they describe: a sidecar stored anywhere
    * else can survive a crash the version publish didn't, and a
    * layout/meta disagreement is silent corruption for readers that
    * trust the meta. */
  private def writeSidecars(dir: String,
                            sidecars: Map[String, String]): Unit =
    sidecars.foreach { case (n, c) =>
      require(n.startsWith("_"), s"version sidecar '$n' must be _-prefixed")
      Files.writeString(Paths.get(dir).resolve(n), c)
      ()
    }

  /** A named sidecar of the CURRENT version, if present — the read
    * side of the `sidecars` publish parameter. One existence probe +
    * tiny read, never a Spark job. */
  def currentVersionSidecar(name: String): Option[String] =
    currentVersion().flatMap { v =>
      val p = rootPath.resolve(s"v$v").resolve(name)
      if (Files.exists(p)) Some(Files.readString(p).trim) else None
    }

  /** Refuse to carry buckets from version `v` into a version partitioned
    * by `parts` when `v` is laid out otherwise: carrying across layouts
    * would drop data. */
  private def requireLayout(v: Long, parts: Seq[String], verb: String): Unit = {
    val have = partitionCols(v)
    require(have == parts,
      s"$verb: current version v$v is partitioned by " +
        s"[${have.mkString(", ")}], not [${parts.mkString(", ")}] — " +
        "carrying partitions across layouts would drop data; " +
        "bootstrap/migrate with a full publish first")
  }

  /** Carry partition `dirs` (name → dir, in the current version) into
    * the version being written at `dir` by per-file hard links (copies
    * where links are unsupported): an unchanged dir's files in v{N+1} ARE
    * v{N}'s inodes, and [[vacuum]] deleting an old version unlinks, never
    * destroys, them. A parallel walk: the dirs are independent, and at
    * high bucket counts the serial syscall walk is the dominant per-batch
    * fixed cost (measured ~3 s at 25K dirs single-threaded). */
  private def carryDirs(dirs: Map[String, java.nio.file.Path],
                        dir: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    dirs.toSeq.asJava.parallelStream().forEach(e => linkTree(e._2, dir.resolve(e._1)))
  }

  /** File-name prefix of a bucket's history segment (closed rows only).
    * Visible to Spark's listing, so readers of the version see these
    * files like any other. */
  private val HistoryPrefix = "hist-"

  private def isHistory(f: java.nio.file.Path): Boolean =
    f.getFileName.toString.startsWith(HistoryPrefix)

  /** A version's history-segment files, in every bucket. */
  private[graft] def historyFiles(v: Long): Seq[java.nio.file.Path] =
    bucketDirs(v).values.toSeq.flatMap(dataFiles).filter(isHistory).sortBy(_.toString)

  /** The visible parquet files directly inside `dir`, sorted by name. */
  private def dataFiles(dir: java.nio.file.Path): Seq[java.nio.file.Path] =
    children(dir).filter { p =>
      val n = p.getFileName.toString
      n.endsWith(".parquet") && !n.startsWith("_") && !n.startsWith(".") &&
        Files.isRegularFile(p)
    }.sortBy(_.getFileName.toString)

  /** The current version's `buckets` (partition dir names; None reads
    * every bucket, and a flat version is its own one bucket) as the two
    * segments a merge wants: their history files (None when there are
    * none) and everything else. A bucket without a history segment (a
    * plain [[publish]], a purge rewrite) is all "everything else". Both
    * segments read with the version's schema, as [[readVersion]]. None on
    * an empty store. */
  def readSegments(buckets: Option[Seq[String]] = None): Option[(Option[DataFrame], DataFrame)] =
    currentVersion().map { v =>
      val all = bucketDirs(v)
      val dirs = buckets.fold(all)(bs => bs.flatMap(b => all.get(b).map(b -> _)).toMap)
      val schema = schemaOf(dirs).orElse(schemaOf(all))
      val (hist, live) = dirs.values.toSeq.flatMap(dataFiles).partition(isHistory)
      // each segment reads its files' dirs, filtered by name: the dir count
      // bounds Spark's listing, not the file count
      def segment(files: Seq[java.nio.file.Path], glob: String) =
        if (files.isEmpty) None
        else Some(readPaths(v, schema, files.map(_.getParent).distinct, Some(glob)))
      (segment(hist, s"$HistoryPrefix*"),
        segment(live, s"[!${HistoryPrefix.head}]*").getOrElse(schema.fold(
          readVersion(v).limit(0))(s => spark.createDataFrame(java.util.List.of[Row](), s))))
    }

  /** The SCD2 publish, in every layout: the next version's buckets, each
    * a history segment plus current rows, with `buckets` None for a flat
    * version (one bucket, the version dir). `closed` and `current` are
    * the output of [[Scd2.mergeSegments]] for the touched buckets. With
    * n = max(1, defaultParallelism / buckets), each touched bucket gets:
    *
    *  - its current rows, rewritten into at most n files;
    *  - with `carry`, its history files hard-linked forward from the
    *    current version (copied where links are unsupported) and `closed`
    *    as ONE new history file, so write work is O(current rows + closed
    *    rows) instead of O(every version ever written). A bucket holds at
    *    most 2n history files: a publish that would exceed that folds its
    *    smallest carried files into the new one, down to n files;
    *  - without `carry`, `closed` is taken to be the WHOLE history and is
    *    written into at most n files, and nothing is carried (bootstrap, a
    *    changed layout, or a widened schema: a carried file without the
    *    new column could hide it from readers).
    *
    * With `carry`, untouched buckets are hard-linked by [[carryDirs]]. The
    * write is ONE job, with no shuffle on a flat carry once the current
    * rows span n files; each row's segment is a partition column of the
    * write, whose dirs are dissolved into their bucket (history files
    * renamed `hist-`) before the pointer flip. A bucket without a history
    * segment carries nothing, so a plain [[publish]] or a purge rewrite
    * is re-split here. */
  def publishSegments(closed: DataFrame, current: DataFrame, carry: Boolean,
                      buckets: Option[SnapshotStore.Buckets] = None,
                      sidecars: Map[String, String] = Map.empty): Long =
    Lease.withLease(root, "publishSegments") {
      val n = math.max(1, spark.sparkContext.defaultParallelism / buckets.fold(1)(_.count))
      val cur = currentVersion().filter(_ => carry)
      cur.foreach(requireLayout(_, buckets.map(_.col).toSeq, "publishSegments"))
      val dirs = cur.map(bucketDirs).getOrElse(Map.empty)
      val touched = buckets.fold(Seq(""))(b => b.touched.map(t => s"${b.col}=$t"))
      val segments = touched.map(t => t -> dirs.get(t).map(dataFiles).getOrElse(Nil).partition(isHistory))
      val prior = segments.map { case (t, (h, _)) => t -> h }
      val fold = prior.flatMap { case (_, p) =>
        if (p.size < 2 * n) Nil else p.sortBy(Files.size(_)).take(p.size + 1 - n) }
      val hist = if (fold.isEmpty) closed
                 else closed.unionByName(readPaths(cur.get, Some(closed.schema), fold))
      // one task a bucket dir, or n where buckets are few; flat, a
      // coalesce keeps the file sizes it reads (a seed written as one
      // file would stay one task's work every batch), so current rows
      // read from fewer than n files are spread evenly over n once
      def spread(df: DataFrame) = buckets.fold(df.repartition(n)) { b =>
        df.repartition(col(b.col) +: (if (n == 1) Nil
          else Seq(pmod(hash(df.columns.toIndexedSeq.map(col): _*), lit(n)))): _*)
      }
      val flatCarry = buckets.isEmpty && carry && segments.map(_._2._2.size).sum >= n
      val rows = (if (flatCarry) current.coalesce(n) else spread(current))
        .withColumn(SegmentCol, lit("live"))
        .unionByName((if (carry) hist.coalesce(1) else spread(hist))
          .withColumn(SegmentCol, lit("hist")))
      publishVersionDir { dir =>
        CallSites.named(spark) {
          rows.write.mode("overwrite")
            .partitionBy(buckets.map(_.col).toSeq :+ SegmentCol: _*).parquet(dir)
        }
        val d = Paths.get(dir)
        dissolveSegments(d)
        prior.foreach { case (t, fs) => fs.filterNot(fold.contains).foreach { p =>
          Files.createDirectories(d.resolve(t))
          linkFile(p, d.resolve(t).resolve(p.getFileName.toString))
        } }
        carryDirs(dirs -- touched, d)
        // an empty dimension still needs a file that carries its schema
        if (children(d).forall(p => !isPartitionDir(p) && !p.getFileName.toString.endsWith(".parquet")))
          CallSites.named(spark)(current.limit(0).write.mode("append").parquet(dir))
        writeSidecars(dir, sidecars)
      }
    }

  /** The transient partition column [[publishSegments]] writes each
    * row's segment into. */
  private val SegmentCol = "graft_segment"

  /** Move the files of every `SegmentCol=` dir under `dir` up into its
    * bucket — history files renamed with [[HistoryPrefix]], their `.crc`
    * sidecars along — and delete the emptied dirs. */
  private def dissolveSegments(dir: java.nio.file.Path): Unit =
    children(dir).filter(Files.isDirectory(_)).foreach { c =>
      val name = c.getFileName.toString
      if (!name.startsWith(s"$SegmentCol=")) dissolveSegments(c)
      else {
        val prefix = if (name == s"$SegmentCol=hist") HistoryPrefix else ""
        children(c).foreach { f =>
          val n = f.getFileName.toString
          Files.move(f, dir.resolve(if (n.startsWith(".")) s".$prefix${n.drop(1)}" else prefix + n))
        }
        Files.delete(c)
      }
    }

  /** The hive partition columns of the CURRENT version (empty when
    * unpartitioned or no version), carried buckets included — a
    * filesystem probe, NOT a schema read: callers deciding on a publish
    * path must not pay a full partition discovery (O(partitions)
    * listing) just to ask how the snapshot is laid out. */
  def currentPartitionCols(): Seq[String] =
    currentVersion().map(partitionCols).getOrElse(Seq.empty)

  /** Read ONLY the named partition dirs of the current version — a
    * point read touching 1 of 4,096 buckets lists 1 dir, not a full
    * partition discovery over all 4,096. `basePath` keeps the partition
    * column in the schema, which comes from one footer read (see
    * [[schemaOf]]). Values whose dir doesn't exist are skipped; if none
    * exist, an empty frame with the snapshot's schema is returned. */
  def readCurrentPartitions(partitionCol: String,
                            values: Seq[Any]): DataFrame = {
    val v = currentVersion().getOrElse(throw new IllegalStateException(
      s"readCurrentPartitions: no published version under $root"))
    val eff = bucketDirs(v)
    if (eff.contains("")) throw new IllegalStateException(
      s"readCurrentPartitions: v$v has no $partitionCol= dirs")
    val wanted = values.flatMap(x => eff.get(s"$partitionCol=$x").map(s"$partitionCol=$x" -> _)).toMap
    val schema = schemaOf(wanted).orElse(schemaOf(eff))
    if (wanted.nonEmpty) readPaths(v, schema, wanted.values.toSeq)
    else readPaths(v, schema, Seq(eff.head._2)).limit(0)
  }

  /** Mirror `src` under `dst` with per-file hard links (copy where the
    * filesystem refuses links) — [[carryDirs]]' walk. */
  private def linkTree(src: java.nio.file.Path,
                       dst: java.nio.file.Path): Unit = {
    Files.createDirectories(dst)
    children(src).foreach { p =>
      val d = dst.resolve(p.getFileName.toString)
      if (Files.isDirectory(p)) linkTree(p, d) else link(p, d)
    }
  }

  /** Hard-link one data file plus its `.crc` sidecar, when it has one —
    * the history-segment carry-over of [[publishSegments]]. */
  private def linkFile(src: java.nio.file.Path,
                       dst: java.nio.file.Path): Unit = {
    link(src, dst)
    val crc = src.resolveSibling(s".${src.getFileName}.crc")
    if (Files.exists(crc)) link(crc, dst.resolveSibling(s".${dst.getFileName}.crc"))
  }

  private def link(src: java.nio.file.Path, dst: java.nio.file.Path): Unit =
    try { Files.createLink(dst, src); () }
    catch {
      case _: UnsupportedOperationException =>
        Files.copy(src, dst, StandardCopyOption.COPY_ATTRIBUTES); ()
    }

  /** Write the next version via `write` (handed the version dir path)
    * and atomically publish it — the engine's one pointer protocol
    * ([[VersionPointer]], which also clears a torn attempt's orphan
    * dir) behind every publish verb here. `write` may drop
    * `_`-prefixed sidecars (layout metadata) into the dir; they ride
    * the same all-or-nothing publication as the data. */
  private def publishVersionDir(write: String => Unit): Long =
    VersionPointer.publish(root, "v")(write)

  /** OPTIMIZE-style clustered publish: the next version written in
    * z-order of (`a`, `b`) — [[ZOrder.clustered]]'s range-partition +
    * partition-sort layout, one file per range partition (plus `tie`
    * for a total order), behind the SAME atomic pointer protocol as
    * [[publish]]. Readers are untouched (the pointer resolves as
    * always, answers are layout-independent); the payoff is file-stat
    * pruning for 2-D box predicates on versions published this way —
    * the lakehouse OPTIMIZE ZORDER verb expressed as a snapshot
    * version transition, so a periodic re-cluster is just another
    * publish and time travel across layout changes keeps working.
    *
    * The layout spec is PERSISTED as a `_LAYOUT` sidecar inside the
    * version dir (invisible to readers — `_`-prefixed), so maintenance
    * rewrites of the version — [[purgeKeys]]' historical staged-replace
    * — can REPRODUCE the clustering instead of silently degrading every
    * range probe against the purged version until the next OPTIMIZE. */
  def publishZOrdered(df: DataFrame, a: String, b: String, tie: String,
                      numFiles: Int): Long =
    Lease.withLease(root, "publishZOrdered") { publishVersionDir { dir =>
      ZOrder.clustered(df, df(a), df(b), df(tie), numFiles)
        .write.mode("overwrite").parquet(dir)
      writeLayout(Paths.get(dir), ZLayout(a, b, tie, numFiles))
    } }

  /** A version's persisted clustering spec — written by
    * [[publishZOrdered]], re-applied by [[purgeKeys]]' rewrites. */
  private case class ZLayout(a: String, b: String, tie: String,
                             numFiles: Int)

  private def writeLayout(dir: java.nio.file.Path, z: ZLayout): Unit =
    Files.writeString(dir.resolve("_LAYOUT"),
      s"zorder\t${z.a}\t${z.b}\t${z.tie}\t${z.numFiles}")

  private def layoutOf(dir: java.nio.file.Path): Option[ZLayout] = {
    val p = dir.resolve("_LAYOUT")
    if (!Files.exists(p)) None
    else Files.readString(p).trim.split("\t", -1) match {
      case Array("zorder", a, b, tie, n) => Some(ZLayout(a, b, tie, n.toInt))
      case other => throw new IllegalStateException(
        s"unrecognized _LAYOUT sidecar under $dir: " +
          s"'${other.mkString("\\t")}' — refusing to rewrite a version " +
          "whose layout this build cannot reproduce")
    }
  }

  /** `df` in `dir`'s persisted layout (when it has one): the purge
    * rewrites route through here so a clustered version stays
    * clustered. */
  private def applyLayout(df: DataFrame,
                          dir: java.nio.file.Path): DataFrame =
    layoutOf(dir) match {
      case Some(z) =>
        ZOrder.clustered(df, df(z.a), df(z.b), df(z.tie), z.numFiles)
      case None => df
    }

  /** T7 retention: delete version dirs older than the `keepLast` most
    * recent (never the published one). Returns the versions removed.
    * Mirrors the reference's batch-file GC (log_extractor.py:212-227) at
    * the snapshot level — the time-travel window is bounded, the current
    * pointer is untouched, so readers are never broken.
    *
    * Purge-temp GC rides retention: a dropped version's `v{N}._purge`
    * temp goes FIRST (a marked temp outliving its retention-dropped
    * version would be adopted by the next purge's recovery pass —
    * resurrecting a version vacuum already deleted; temp-then-dir order
    * means a crash between the two deletes leaves the version retained
    * one cycle longer, never resurrected), and UNMARKED temps of any
    * version are discarded here too — they are torn writes recovery
    * would discard anyway, but only if [[purgeKeys]] ever runs again;
    * without this a store that stops purging leaks them forever.
    *
    * Adoptable temps are ADOPTED first, not merely kept: a crash
    * between [[purgeKeys]]' live-dir delete and its swap leaves the
    * `_PURGED` temp as the version's only (purged) copy, and until
    * some verb adopts it readers of that version keep failing — or,
    * pre-delete-crash, keep serving the UNPURGED copy. Recovery riding
    * every maintenance verb (not only the next purge) bounds that
    * compliance window by the maintenance cadence even if purging
    * stops entirely. */
  def vacuum(keepLast: Int): Seq[Long] = Lease.withLease(root, "vacuum") {
    recoverPurgeTemps()
    val all = versions()
    val keep = all.takeRight(math.max(keepLast, 1)).toSet ++ currentVersion().toSet
    keep.foreach(v => refuseManifest(versionDir(v)))
    val drop = all.filterNot(keep)
    drop.foreach { v =>
      VersionPointer.deleteTree(rootPath.resolve(s"v$v._purge"))
      VersionPointer.deleteTree(rootPath.resolve(s"v$v"))
    }
    purgeTemps().filterNot(adoptablePurgeTemp).foreach(VersionPointer.deleteTree)
    drop
  }

  /** Would [[recoverPurgeTemps]] adopt this temp? (Shared with vacuum's
    * torn-temp GC so the two can never disagree on what is garbage.) */
  private def adoptablePurgeTemp(tmp: java.nio.file.Path): Boolean = {
    val live = rootPath.resolve(
      tmp.getFileName.toString.stripSuffix("._purge"))
    Files.exists(tmp.resolve("_PURGED")) ||
      (!Files.exists(live) && Files.exists(tmp.resolve("_SUCCESS")))
  }

  /** Right-to-be-forgotten across TIME TRAVEL — the retention verb
    * [[vacuum]] cannot express: a purged key INSIDE the retained window
    * survives every vacuum, so an SCD2 store that keeps history for
    * time travel keeps serving the key's old versions to
    * `readVersion`. This verb removes every row whose `keyCol` value is
    * in `keys` from (1) the CURRENT version, as a fresh atomic
    * [[publish]] — live readers move to the purged snapshot at the
    * pointer swap — and (2) EVERY retained version dir, as a
    * staged-replace rewrite per dir (temp `v{N}._purge` written fully —
    * data, `_SUCCESS`, layout sidecars — then OUR `_PURGED` adoption
    * marker last, then swap), so the whole retained window is
    * deletion-complete.
    *
    * Contract: single-writer (no publish/vacuum in flight), the same
    * schedule every maintenance verb runs under; TIME-TRAVEL readers
    * racing a historical swap can see that one version dir mid-replace
    * (current-version readers never can — the pointer moved first).
    * Crash-safe: an unmarked temp is a torn write and is discarded, a
    * marked temp is the authoritative purged copy and is adopted, both
    * at the next call's recovery pass — and re-running the purge
    * anti-joins already-absent keys, reproducing the same contents
    * (each nonempty run still republishes/rewrites, bounded by
    * [[vacuum]]; an EMPTY key set short-circuits to a no-op, so a
    * scheduled sweep with nothing queued costs nothing). `keys` must
    * carry the key in a column named `keyCol`, or be a single-column
    * table (then renamed). PHYSICAL LAYOUT survives the rewrite:
    * hive-partitioned versions reproduce their partition dirs (detected
    * from the dir), and z-ordered versions re-cluster from the
    * `_LAYOUT` spec [[publishZOrdered]] persisted — at 100 TB a
    * purged-then-unclustered version would regress every range probe
    * against it until the next OPTIMIZE. The anti-join is size-guarded
    * ([[Skew.maybeBroadcast]]): a mass purge falls back to planner
    * strategy, never a forced driver broadcast. Returns the rewritten
    * version ids (the fresh current publish first, when the store has
    * one). */
  def purgeKeys(keys: DataFrame, keyCol: String): Seq[Long] =
    Lease.withLease(root, "purgeKeys") { Caches.withCached {
      recoverPurgeTemps()
      require(keys.columns.contains(keyCol) || keys.columns.length == 1,
        s"purgeKeys: keys has no '$keyCol' column and is not " +
          s"single-column (${keys.columns.mkString(", ")}) — ambiguous " +
          "key source refused (a silent wrong-column purge is a " +
          "compliance failure)")
      val keyIn = if (keys.columns.contains(keyCol))
        keys.col(keyCol) else keys.col(keys.columns.head)
      // eager materialization with lineage truncated: the keys may
      // derive from this store's own version dirs, which the loop
      // below deletes — a lazily recomputed key set mid-purge would
      // read files that no longer exist (or purged rewrites, yielding
      // an empty set and silently kept keys)
      val k = keys.select(keyIn.as(keyCol)).distinct().localCheckpoint(true)
      try {
        if (k.isEmpty) Seq.empty // scheduled sweep, nothing queued
        else {
          def purged(df: DataFrame): DataFrame =
            df.join(Skew.maybeBroadcast(k), Seq(keyCol), "left_anti")
          // current first: one atomic publish moves live readers over —
          // reproducing the purged version's PHYSICAL layout (hive
          // partition dirs, or a persisted z-order spec), so the purge
          // never silently declusters what an OPTIMIZE paid for
          val fresh = read().map { cur =>
            val curV = currentVersion().get
            val curDir = rootPath.resolve(s"v$curV")
            layoutOf(curDir) match {
              case Some(z) =>
                publishZOrdered(purged(cur), z.a, z.b, z.tie, z.numFiles)
              case None =>
                val parts = partitionCols(curV)
                publish(clusterManyPartitions(purged(cur), parts, curV),
                  parts, versionSidecars(curDir))
            }
          }
          val hist = versions().filterNot(fresh.contains)
          hist.foreach { v =>
            val dir = rootPath.resolve(s"v$v")
            val tmp = rootPath.resolve(s"v$v._purge")
            val parts = partitionCols(v)
            val body = clusterManyPartitions(
              applyLayout(purged(readVersion(v)), dir), parts, v)
            val w = body.write.mode("overwrite")
            (if (parts.nonEmpty) w.partitionBy(parts: _*) else w)
              .parquet(tmp.toString)
            if (!Files.exists(tmp.resolve("_SUCCESS"))) {
              VersionPointer.deleteTree(tmp)
              throw new IllegalStateException(
                s"purgeKeys: committer wrote no _SUCCESS marker under " +
                  s"$tmp — refusing to replace the live version dir")
            }
            // the layout spec rides the staged replace: the rewritten
            // dir must advertise the clustering it reproduces — and so
            // do any caller-published sidecars (bucket count, …): a
            // maintenance rewrite must never strip a layout contract
            // from the version it rewrites
            layoutOf(dir).foreach(writeLayout(tmp, _))
            versionSidecars(dir).foreach { case (n, c) =>
              Files.writeString(tmp.resolve(n), c); ()
            }
            // OUR adoption marker goes LAST — after the committer's
            // _SUCCESS and after every sidecar — so recovery can never
            // adopt a temp missing its layout spec (the committer
            // writes _SUCCESS before this code regains control, so
            // _SUCCESS alone cannot gate the sidecars). A crash before
            // the marker discards the temp and the re-run rewrites it.
            Files.createFile(tmp.resolve("_PURGED"))
            VersionPointer.deleteTree(dir)
            Files.move(tmp, dir, StandardCopyOption.ATOMIC_MOVE)
          }
          fresh.toSeq ++ hist
        }
      } finally Caches.releaseCheckpoint(k)
    } }

  /** Queue erasure keys for the next scheduled [[purgeSweep]] — the
    * compliance-request INGESTION verb: appends O(|keys|) rows to the
    * tiny `_purge_queue` sidecar dir and touches NO version dir, so N
    * erasure requests arriving between sweeps cost N small appends plus
    * ONE O(retained-window) rewrite when the sweep folds them — not the
    * N whole-window rewrites a per-request [[purgeKeys]] deployment
    * would pay (the r17-stated scale hazard: a daily erasure feed
    * rewriting the whole window daily). At-least-once by design: a
    * crashed append is re-queued by the caller's replay, and duplicate
    * or already-absent keys are harmless (the sweep distincts; purging
    * an absent key reproduces the same contents). Same key-column
    * validation as [[purgeKeys]]; the key TYPE must stay stable across
    * enqueues — one queue schema per store. */
  def queuePurgeKeys(keys: DataFrame, keyCol: String): Unit = {
    require(keys.columns.contains(keyCol) || keys.columns.length == 1,
      s"queuePurgeKeys: keys has no '$keyCol' column and is not " +
        s"single-column (${keys.columns.mkString(", ")}) — ambiguous " +
        "key source refused (a silent wrong-column purge is a " +
        "compliance failure)")
    val keyIn = if (keys.columns.contains(keyCol))
      keys.col(keyCol) else keys.col(keys.columns.head)
    val out = keys.select(keyIn.as(keyCol)).distinct()
    // one-queue-schema-per-store, ENFORCED against a PERSISTED source
    // of truth: the `_SCHEMA` sidecar (name + type of the queue's one
    // column), written once when the queue's schema is first
    // established and never consumed by the sweep (queueFiles lists
    // only `*.parquet`, purgeSweep deletes only what it lists) — so
    // unlike the earlier best-effort probe of a data file, the check
    // cannot race a concurrent sweep deleting its probe target: the
    // sidecar outlives every drain. A type- OR name-drifted enqueue
    // would poison the whole queue (the sweep's multi-file read fails,
    // or worse coerces/mis-aligns columns) — refuse the single bad
    // request instead. Legacy queues (files enqueued before the
    // sidecar protocol) are migrated here: their schema is read from a
    // queued file once and persisted, after which the sidecar governs.
    val now = out.schema.head
    Files.createDirectories(queueDir)
    if (readQueueSchema().isEmpty) {
      val legacy = queueFiles().headOption.flatMap(f =>
        scala.util.Try(spark.read.parquet(f.toString).schema.head).toOption)
      // establish: legacy schema if one exists, else this enqueue's.
      // Atomic tmp+move so a torn write can never half-establish; the
      // tmp name is per-attempt unique, so two racing first-ever
      // enqueues (enqueue-during-enqueue is inside the allowed append
      // concurrency) both complete instead of the loser crashing on a
      // shared tmp moved out from under it.
      val establish = legacy.getOrElse(now)
      val tmp = queueDir.resolve(
        s"_SCHEMA.tmp${java.util.UUID.randomUUID()}")
      Files.writeString(tmp, s"${establish.name}\t${establish.dataType.json}")
      Files.move(tmp, queueSchemaFile, StandardCopyOption.ATOMIC_MOVE,
        StandardCopyOption.REPLACE_EXISTING)
    }
    // validate against the sidecar as ESTABLISHED on disk — never the
    // locally computed value: when two first-ever enqueues race, one
    // establishment wins the move, and the loser must be checked
    // against the WINNER's schema or a drifted loser would append a
    // mixed-schema file the sidecar doesn't name (the poisoning this
    // guard exists to refuse)
    val (priorName, priorType) = readQueueSchema().getOrElse(
      throw new IllegalStateException(
        s"queuePurgeKeys: _SCHEMA sidecar vanished after establishment " +
          s"under $queueDir — refusing to append unvalidated"))
    require(priorName == now.name && priorType == now.dataType,
      s"queuePurgeKeys: enqueue of ($keyCol: ${now.dataType}) does " +
        s"not match the queue's established schema ($priorName: " +
        s"$priorType) — one queue schema per store (a drifted " +
        "enqueue would poison every queued request at sweep time)")
    out.write.mode("append").parquet(queueDir.toString)
  }

  private val queueSchemaFile = {
    // resolved lazily-by-name only; the dir may not exist yet
    rootPath.resolve("_purge_queue").resolve("_SCHEMA")
  }

  /** The queue's established (column name, type), if the sidecar
    * exists. Unparseable content fails loudly — a corrupt schema
    * record must not silently admit drifted enqueues. */
  private def readQueueSchema(): Option[(String, org.apache.spark.sql.types.DataType)] =
    if (!Files.exists(queueSchemaFile)) None
    else Files.readString(queueSchemaFile).split("\t", 2) match {
      case Array(n, j) =>
        Some((n, org.apache.spark.sql.types.DataType.fromJson(j)))
      case other => throw new IllegalStateException(
        s"unparseable _SCHEMA sidecar under $queueDir: " +
          s"'${other.mkString}' — refusing to validate enqueues " +
          "against a corrupt schema record")
    }

  /** Fold every queued erasure key into ONE [[purgeKeys]] call and
    * clear exactly the queue files that call consumed. Returns the
    * rewritten versions — empty when nothing is queued, so a scheduled
    * sweep with an empty queue costs one directory listing and zero
    * rewrites. Crash-safe: the queue clears only AFTER the purge
    * completes, so a crash mid-sweep leaves the keys queued and the
    * next sweep re-purges them (idempotent by [[purgeKeys]]' contract);
    * keys enqueued WHILE the sweep runs are outside its file-listing
    * snapshot and fold into the next sweep, never lost. Single-writer
    * like every maintenance verb ([[queuePurgeKeys]] appends are the
    * one exception the snapshot listing makes safe). */
  def purgeSweep(keyCol: String): Seq[Long] =
    Lease.withLease(root, "purgeSweep") {
      val files = queueFiles()
      if (files.isEmpty) Seq.empty
      else {
        val rewritten = purgeKeys(
          spark.read.parquet(files.map(_.toString): _*), keyCol)
        files.foreach(Files.deleteIfExists)
        rewritten
      }
    }

  /** Erasure-queue observability — the numbers a deployment's erasure
    * SLA is scheduled against: `files` = queued request appends not yet
    * swept, `keys` = queued key rows across them (pre-distinct — the
    * sweep dedups), `oldestEnqueueMs` = the oldest queued file's mtime.
    * Nothing in the engine bounds queue age by itself ([[purgeSweep]]
    * runs when scheduled); the staleness CONTRACT is the scheduler's:
    * run the sweep at least every `SLA − ε`, and alert when
    * now − oldestEnqueueMs approaches the SLA — this stat is that
    * alert's input. Cost: one directory listing plus (when nonempty)
    * one footer-count job over the tiny queue files. */
  final case class PurgeQueueStats(files: Long, keys: Long,
                                   oldestEnqueueMs: Option[Long])

  def purgeQueueStats(): PurgeQueueStats = {
    val fs = queueFiles()
    if (fs.isEmpty) PurgeQueueStats(0L, 0L, None)
    else PurgeQueueStats(fs.size.toLong,
      spark.read.parquet(fs.map(_.toString): _*).count(),
      Some(fs.map(f => Files.getLastModifiedTime(f).toMillis).min))
  }

  private val queueDir = rootPath.resolve("_purge_queue")

  /** The queue's parquet data files (committer sidecars like `_SUCCESS`
    * excluded) — the sweep's consumption snapshot. */
  private def queueFiles(): Seq[java.nio.file.Path] =
    if (!Files.exists(queueDir)) Seq.empty else dataFiles(queueDir)

  /** The hive partition columns version `v` was written with, in
    * nesting order — detected from the `col=value` directory levels, so
    * a purge rewrite can reproduce the layout it replaces. Every bucket
    * of a version is in its dir (carried ones by link), so the dir alone
    * answers. */
  private def partitionCols(v: Long): Seq[String] = partitionColsOf(versionDir(v))

  private def partitionColsOf(dir: java.nio.file.Path): Seq[String] =
    children(dir).find(isPartitionDir).toSeq.flatMap(c =>
      c.getFileName.toString.split("=", 2)(0) +: partitionColsOf(c))

  /** Cluster a purge rewrite's output by its partition columns when the
    * version has MORE partition values than shuffle partitions (the
    * many-small-buckets layout — a kb-bucketed dim): unclustered, every
    * writer task drops a sliver into every dir and a 25K-bucket rewrite
    * explodes into tasks × buckets files. Few-big-partitions layouts
    * (a 3-day hive table) are left unclustered — one task per day would
    * serialize the rewrite. */
  private def clusterManyPartitions(df: DataFrame, parts: Seq[String],
                                    v: Long): DataFrame =
    if (parts.nonEmpty &&
        bucketDirs(v).size >
          spark.sessionState.conf.numShufflePartitions)
      df.repartition(parts.map(df(_)): _*)
    else df

  /** The caller-published `_`-sidecars of a version dir (committer and
    * protocol artifacts excluded) — carried by [[purgeKeys]]' rewrites
    * so maintenance never strips a layout contract from the version it
    * rewrites. */
  private def versionSidecars(dir: java.nio.file.Path): Map[String, String] =
    children(dir).filter { p =>
      val n = p.getFileName.toString
      Files.isRegularFile(p) && n.startsWith("_") &&
        n != "_SUCCESS" && n != "_PURGED" && n != "_LAYOUT" && !n.endsWith(".crc")
    }.map(p => p.getFileName.toString -> Files.readString(p)).toMap

  /** Adopt-or-discard any `v{N}._purge` temp a crashed [[purgeKeys]]
    * left: temps carrying the `_PURGED` adoption marker (written LAST,
    * after the committer's `_SUCCESS` and every sidecar) are
    * authoritative purged copies (replace the live dir — which may be
    * pre-purge, or already gone); anything less is a torn write and is
    * discarded — the re-run rewrites it. Gating on `_PURGED` rather
    * than `_SUCCESS` means a crash between the data commit and the
    * `_LAYOUT` sidecar can never adopt a clustered version without its
    * spec (which would silently decluster the NEXT rewrite). */
  private def recoverPurgeTemps(): Unit = {
    purgeTemps().foreach { tmp =>
      val live = rootPath.resolve(
        tmp.getFileName.toString.stripSuffix("._purge"))
      // adoptablePurgeTemp's fallback arm (no _PURGED, data-complete,
      // live dir GONE) covers a pre-_PURGED-protocol crash between the
      // live delete and the swap: the temp is the ONLY remaining copy
      // of the version, so adopting (possibly without a layout sidecar)
      // beats losing the version outright
      if (adoptablePurgeTemp(tmp)) {
        VersionPointer.deleteTree(live)
        Files.move(tmp, live, StandardCopyOption.ATOMIC_MOVE)
      } else VersionPointer.deleteTree(tmp)
    }
  }

  /** The `v{N}._purge` staging temps currently on disk. */
  private def purgeTemps(): Seq[java.nio.file.Path] =
    children(rootPath).filter(_.getFileName.toString.endsWith("._purge"))

  /** Versions currently on disk (published or orphaned), ascending.
    * Strictly `v{digits}` names: a purge's `v{N}._purge` staging temp
    * (present during every historical rewrite, or left by a crash) is
    * NOT a version and must not break enumeration — vacuum and the
    * stream's maintenance tick both list through here. */
  def versions(): Seq[Long] =
    children(rootPath).map(_.getFileName.toString).collect {
      case n if n.length > 1 && n.startsWith("v") && n.drop(1).forall(_.isDigit) =>
        n.drop(1).toLong
    }.sorted
}

object SnapshotStore {

  /** The bucket layout of a [[SnapshotStore!.publishSegments publishSegments]]
    * call: rows carry their bucket (one of `count`) in partition column
    * `col`, and `touched` names the buckets the publish rewrites; with
    * carry, every other bucket is hard-linked forward. */
  final case class Buckets(col: String, count: Int, touched: Seq[Int])

  /** Publish a dimension snapshot as a BUCKETED managed table — the
    * layout the merge read path wants at scale: with the snapshot
    * pre-hashed into `buckets` files by `key` (and sorted by it within
    * each bucket), the merge's per-key aggregate and its routing join
    * read the dim with ZERO Exchange on the dimension side — only the
    * (small) change batch moves. This is the scale-correct form of the
    * reference's per-key current-row lookup loop
    * (/root/reference/src/warehouse/scd2_loader.py:189-207): the lookup
    * locality it gets from the B-tree index, a Spark warehouse gets from
    * bucketing. Bucketed tables go through the session catalog (the
    * bucket spec lives there), hence a table name rather than a path;
    * `path` makes the table external (data at the given location instead
    * of the session warehouse dir — e.g. a staging root with its own
    * lifecycle). Versioning composes by publishing `table_v{N}` names
    * through the same pointer protocol as the path store. Deletion
    * lifecycle: a bucketed table is a DERIVED layout — after
    * [[SnapshotStore!.purgeKeys purgeKeys]] sweeps the source store,
    * re-publish the table from the purged snapshot (mode overwrite,
    * same verb); the table has no in-place purge because its bucket
    * files are rewritten wholesale on every publish anyway. */
  def publishBucketed(df: DataFrame, table: String, key: String,
                      buckets: Int, path: Option[String] = None): Unit = {
    val w = df.write.mode("overwrite").format("parquet")
      .bucketBy(buckets, key).sortBy(key)
    path.fold(w)(p => w.option("path", p)).saveAsTable(table)
  }
}
