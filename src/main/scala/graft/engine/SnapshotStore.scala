package graft.engine

import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Versioned parquet snapshot store with atomic publish — the engine's
  * replacement for the reference's transactional UPDATE+INSERT unit
  * (/root/reference/src/warehouse/scd2_loader.py:523-538) in an
  * immutable-file world (no table format jar in scope, so the commit
  * protocol is ours: SURVEY §7.3).
  *
  * Layout: `root/v{N}/` parquet dirs plus a `root/_CURRENT` pointer file
  * whose content is the published version number. Writers write the new
  * version dir fully, then atomically move a temp pointer over `_CURRENT`;
  * readers resolve the pointer first, so they never observe a
  * half-written snapshot. Old versions remain for time travel until
  * vacuumed. A crash between dir write and pointer publish leaves an
  * orphan dir — harmless, the pointer still names the last good version
  * (same replay-safety window the reference has between commit and ledger
  * append, solved the same way: re-publishing version N+1 is idempotent).
  *
  * History segment: a flat version written by [[publishSegments]] (the
  * whole-dim SCD2 publish, and the only writer of it) keeps its closed
  * rows (`is_current = false`) in `hist-`-prefixed files apart from the
  * rest. Closed versions never change, so the next such publish
  * hard-links those files forward and rewrites only the current rows.
  * The split is invisible to readers: a version is still one parquet
  * directory with one schema, and every other writer (including
  * [[purgeKeys]]' rewrites) produces versions without a history
  * segment, which the next [[publishSegments]] simply re-splits.
  */
class SnapshotStore(spark: SparkSession, root: String) {
  private val rootPath = Paths.get(root)
  private val pointer = rootPath.resolve("_CURRENT")

  def currentVersion(): Option[Long] =
    if (Files.exists(pointer)) Some(Files.readString(pointer).trim.toLong) else None

  def read(): Option[DataFrame] = currentVersion().map(readVersion)

  /** Read a version — resolving its `_MANIFEST`, when it has one,
    * through [[effectiveDirs]]: carried partition dirs are read from
    * their OWNER version dirs (one grouped read per owner so hive
    * partition inference stays correct under each owner's basePath,
    * then a union-by-name across the ≤ #versions owner groups — plan
    * size is bounded by the version chain, never the bucket count). */
  def readVersion(v: Long): DataFrame = {
    val dir = rootPath.resolve(s"v$v")
    if (!Files.exists(dir.resolve(ManifestName)))
      spark.read.parquet(s"$root/v$v")
    else readGrouped(effectiveDirs(v).values.toSeq)
  }

  /** Read `col=value` partition dirs that may span several VERSION
    * dirs (manifest-carried buckets live in their owner versions):
    * grouped per owner so hive partition inference stays correct
    * under each owner's basePath, deterministically ordered, then a
    * union-by-name across the ≤ version-chain owner groups — plan
    * size is bounded by the version chain, never the bucket count.
    * The ONE grouped-read used by [[readVersion]] and
    * [[readCurrentPartitions]], so the two resolution paths can
    * never diverge. */
  private def readGrouped(dirs: Seq[java.nio.file.Path]): DataFrame =
    dirs.groupBy(_.getParent).toSeq.sortBy(_._1.toString)
      .map { case (base, ds) =>
        spark.read.option("basePath", base.toString)
          .parquet(ds.map(_.toString).sorted: _*)
      }
      .reduce(_ unionByName _)

  /** The manifest sidecar: `name<TAB>ownerVersion` per CARRIED
    * partition dir — the version's locally absent dirs, resolved to
    * the version that physically holds them. Written by
    * [[publishIncremental]]'s manifest mode; locally present dirs
    * always own themselves and never appear in it. */
  private val ManifestName = "_MANIFEST"

  /** A version's effective `col=value` partition-dir map
    * (name → absolute dir): local dirs plus manifest-carried ones,
    * local winning (a rewritten bucket owns itself). O(local dirs) +
    * one small-file manifest parse — never a recursive walk. */
  private def effectiveDirs(v: Long): Map[String, java.nio.file.Path] = {
    val dir = rootPath.resolve(s"v$v")
    var m = Map.empty[String, java.nio.file.Path]
    manifestEntries(v).foreach { case (name, owner) =>
      m += (name -> rootPath.resolve(s"v$owner").resolve(name))
    }
    val stream = Files.list(dir)
    try {
      val it = stream.iterator()
      while (it.hasNext) {
        val p = it.next()
        val n = p.getFileName.toString
        if (Files.isDirectory(p) && n.contains("=")) m += (n -> p)
      }
    } finally stream.close()
    m
  }

  /** A version's parsed `_MANIFEST` entries (carried-dir name → owner
    * version), empty when it has none. The ONE parser for the
    * sidecar's `name<TAB>ownerVersion` format — every reader
    * ([[effectiveDirs]], [[manifestOwners]]) fails the same loud way
    * on a corrupt line instead of disagreeing on corruption
    * handling. */
  private def manifestEntries(v: Long): Seq[(String, Long)] = {
    val dir = rootPath.resolve(s"v$v")
    val mf = dir.resolve(ManifestName)
    if (!Files.exists(mf)) Seq.empty
    else Files.readString(mf).linesIterator.filter(_.nonEmpty).map {
      line =>
        line.split("\t", 2) match {
          case Array(name, owner) if owner.trim.nonEmpty &&
              owner.trim.forall(_.isDigit) =>
            (name, owner.trim.toLong)
          case _ => throw new IllegalStateException(
            s"unparseable $ManifestName line under $dir: '$line' — " +
              "refusing to serve a version whose carried dirs this " +
              "build cannot resolve")
        }
    }.toSeq
  }

  /** The DIRECT owner versions a version's manifest references —
    * always strictly OLDER versions, and always the version that
    * physically holds each dir (carry resolves through
    * [[effectiveDirs]] at publish time, so references never chain
    * per-dir; READABILITY of a kept owner still chains — see
    * [[vacuum]]'s fixpoint). */
  private def manifestOwners(v: Long): Set[Long] =
    manifestEntries(v).map(_._2).toSet

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
      (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
        .parquet(dir)
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

  /** Copy-on-write publish: the next version carries `changed`'s
    * partitions REWRITTEN and every other `partitionCol=` dir of the
    * current version REUSED at file level — write work is
    * O(changed partitions), not O(snapshot). This is the scale form of
    * a hot-key merge against a 100-TB dimension: a micro-batch touching
    * 12 of 4,096 key-bucket partitions rewrites 12 dirs, while a
    * whole-snapshot [[publish]] would rewrite all of them every batch
    * (the r18-measured O(dim) per-batch term, bench/STREAM_r18.md).
    *
    * Contract: `changed` must contain the FULL post-merge contents of
    * every partition it includes (its distinct `partitionCol` values)
    * and nothing else; the current version must already be partitioned
    * by exactly `partitionCol` (enforced — carrying partitions over
    * from an unpartitioned or differently-partitioned version would
    * silently drop data; bootstrap/migrate with a full [[publish]]).
    * An empty store publishes `changed` whole.
    *
    * File reuse is hard-link first (metadata-only on POSIX — the local
    * realization of manifest-style file reuse; an unchanged partition's
    * files in v{N+1} ARE v{N}'s inodes, so "byte-identical" is
    * structural), per-file copy as the fallback where links are
    * unsupported. On HDFS/object storage the same contract is kept by
    * a manifest (a snapshot referencing prior data files, the
    * Iceberg/Delta shape) — the store's pointer protocol doesn't care
    * which realization writes the dir, and readers are untouched
    * either way: v{N+1} is a plain hive-partitioned parquet dir behind
    * the same atomic `_CURRENT` flip, so time travel, [[vacuum]]
    * (deleting an old version unlinks, never destroys a newer
    * version's reused files) and [[purgeKeys]] (which already
    * reproduces hive layouts) all compose unchanged. Crash mid-link
    * leaves an orphan dir the pointer never named — the standard
    * torn-publish posture. */
  def publishIncremental(changed: DataFrame, partitionCol: String,
                         sidecars: Map[String, String] = Map.empty,
                         manifest: Boolean = false): Long =
    Lease.withLease(root, "publishIncremental") { currentVersion() match {
      case None => publish(changed, Seq(partitionCol), sidecars)
      case Some(cur) =>
        val curDir = rootPath.resolve(s"v$cur")
        val curParts = partitionColsOf(curDir)
        require(curParts == Seq(partitionCol),
          s"publishIncremental: current version v$cur is partitioned by " +
            s"[${curParts.mkString(", ")}], not [$partitionCol] — " +
            "carrying partitions across layouts would drop data; " +
            "bootstrap/migrate with a full publish first")
        publishVersionDir { dir =>
          // cluster the write: one task per partition value → ONE file
          // per changed dir, so carry-over cost is one link (or one
          // manifest line) per UNCHANGED dir and later pruned reads
          // open one file per bucket — without this, every writer task
          // drops a sliver into every dir and the version dir explodes
          // into tasks × partitions small files
          changed.repartition(changed(partitionCol))
            .write.mode("overwrite")
            .partitionBy(partitionCol).parquet(dir)
          val newDir = Paths.get(dir)
          // carry-over resolves through the PREVIOUS version's
          // effective map, so either mode composes after the other
          // (a link publish after a manifest one materializes the
          // carried dirs; a manifest one after links references them)
          val carried = effectiveDirs(cur).filter { case (n, _) =>
            !Files.exists(newDir.resolve(n))
          }
          if (manifest) {
            // manifest mode: carried dirs are REFERENCED by owner, not
            // materialized — carry-over cost is ONE small sequential
            // file write regardless of bucket count (the shape a
            // 100-TB object-store deployment needs; links don't exist
            // there and even parallel local links are O(#buckets)
            // syscalls per batch). The cost moves to the lifecycle:
            // vacuum must keep referenced owner versions ([[vacuum]]'s
            // manifest closure), and a periodic full publish
            // (materialize/OPTIMIZE) resets the chain.
            val lines = carried.toSeq.sortBy(_._1).map { case (n, p) =>
              s"$n\t${p.getParent.getFileName.toString.drop(1)}"
            }
            Files.writeString(newDir.resolve(ManifestName),
              lines.mkString("\n"))
          } else {
            // link mode: PARALLEL hard-link walk — each unchanged
            // dir's links are independent, and at high bucket counts
            // the serial syscall walk is the dominant per-batch fixed
            // cost (measured ~3 s at 25K dirs single-threaded)
            import scala.jdk.CollectionConverters._
            carried.toSeq.asJava.parallelStream().forEach { e =>
              linkTree(e._2, newDir.resolve(e._1))
            }
          }
          writeSidecars(dir, sidecars)
        }
    } }

  /** File-name prefix of a version's history segment (closed rows only).
    * Visible to Spark's listing, so readers of the version dir see these
    * files like any other. */
  private val HistoryPrefix = "hist-"

  /** A version's history-segment files, by name. */
  private[graft] def historyFiles(v: Long): Seq[java.nio.file.Path] =
    dataFiles(rootPath.resolve(s"v$v")).filter(
      _.getFileName.toString.startsWith(HistoryPrefix))

  /** The visible parquet files directly inside `dir`, sorted by name. */
  private def dataFiles(dir: java.nio.file.Path): Seq[java.nio.file.Path] = {
    val stream = Files.list(dir)
    try {
      val it = stream.iterator()
      val buf = scala.collection.mutable.ArrayBuffer.empty[java.nio.file.Path]
      while (it.hasNext) {
        val p = it.next()
        val n = p.getFileName.toString
        if (n.endsWith(".parquet") && !n.startsWith("_") &&
            !n.startsWith(".") && Files.isRegularFile(p)) buf += p
      }
      buf.sortBy(_.getFileName.toString).toSeq
    } finally stream.close()
  }

  /** The current version as the two segments a whole-dim merge wants:
    * its history segment (None when it has none) and everything else.
    * A version without one (a plain [[publish]], a purge rewrite, a
    * bucketed or manifest version) is all "everything else". None on an
    * empty store. */
  def readSegments(): Option[(Option[DataFrame], DataFrame)] =
    currentVersion().map { v =>
      val hist = historyFiles(v).map(_.toString)
      val live = dataFiles(rootPath.resolve(s"v$v")).map(_.toString)
        .filterNot(hist.contains)
      if (hist.isEmpty) (None, readVersion(v))
      else if (live.isEmpty) { // every key deleted: no current row left
        val h = spark.read.parquet(hist: _*)
        (Some(h), h.limit(0))
      } else {
        // the history read reuses the live read's schema: one footer
        // inference per batch, not one per segment
        val l = spark.read.parquet(live: _*)
        (Some(spark.read.schema(l.schema).parquet(hist: _*)), l)
      }
    }

  /** Whole-dim publish of a dimension kept as a history segment plus
    * current rows (the output of [[Scd2.mergeSegments]]), all inside the
    * version dir before the pointer flip:
    *
    *  - `current` is rewritten into at most `defaultParallelism` files;
    *  - with `carry`, the previous version's history files are
    *    hard-linked forward (copied where links are unsupported) and
    *    `closed` becomes ONE new history file, so write work is
    *    O(current rows + closed rows) instead of O(every version ever
    *    written);
    *  - without `carry`, `closed` is taken to be the WHOLE history and is
    *    written into `defaultParallelism` files (a widened schema: a
    *    carried file without the new column could hide it from readers,
    *    since Spark infers a flat dir's schema from one footer).
    *
    * A version holds at most `2 × defaultParallelism` history files: a
    * publish that would exceed that folds its smallest carried files into
    * the new one, down to `defaultParallelism` files. A previous version
    * without a history segment carries nothing, so the seed publish, a
    * purge rewrite, a migration back from bucketed and an empty store all
    * go through here unchanged. */
  def publishSegments(closed: DataFrame, current: DataFrame,
                      carry: Boolean): Long =
    Lease.withLease(root, "publishSegments") {
      val n = spark.sparkContext.defaultParallelism
      val prior = if (carry) currentVersion().map(historyFiles).getOrElse(Nil)
                  else Nil
      val fold = if (prior.size < 2 * n) Nil
                 else prior.sortBy(Files.size(_)).take(prior.size + 1 - n)
      val hist = if (fold.isEmpty) closed
                 else closed.unionByName(spark.read.schema(closed.schema)
                   .parquet(fold.map(_.toString): _*))
      publishVersionDir { dir =>
        // ONE write job, no shuffle on the carry path: the current rows
        // coalesce into at most n tasks and the new history rows into
        // one task of their own, so no file mixes the two, and the
        // footers tell them apart afterwards
        current.coalesce(n)
          .unionByName(if (carry) hist.coalesce(1) else hist.repartition(n))
          .write.mode("overwrite").parquet(dir)
        val d = Paths.get(dir)
        dataFiles(d).filter(onlyClosedRows).foreach { f =>
          val name = f.getFileName.toString
          val crc = d.resolve(s".$name.crc")
          if (Files.exists(crc))
            Files.move(crc, d.resolve(s".$HistoryPrefix$name.crc"))
          Files.move(f, d.resolve(HistoryPrefix + name))
        }
        prior.filterNot(fold.contains).foreach { p =>
          linkFile(p, d.resolve(p.getFileName.toString))
        }
      }
    }

  /** Does parquet file `f` hold rows, all of them closed
    * (`is_current = false`)? Read from the footer's statistics, never
    * the data; a file without the statistic counts as current, which is
    * always safe (its closed rows move to history at the next merge). */
  private def onlyClosedRows(f: java.nio.file.Path): Boolean = {
    import scala.jdk.CollectionConverters._
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(f.toString),
        spark.sparkContext.hadoopConfiguration))
    try r.getRecordCount > 0 && r.getFooter.getBlocks.asScala.forall { b =>
      b.getRowCount == 0 || b.getColumns.asScala.exists { c =>
        val st: org.apache.parquet.column.statistics.Statistics[_] =
          c.getStatistics
        c.getPath.toDotString == "is_current" && st != null &&
          st.hasNonNullValue && st.genericGetMax == java.lang.Boolean.FALSE
      }
    } finally r.close()
  }

  /** The hive partition columns of the CURRENT version dir (empty when
    * unpartitioned or no version) — a filesystem probe, NOT a schema
    * read: callers deciding between the incremental and full publish
    * paths must not pay a full partition discovery (O(partitions)
    * listing) just to ask how the snapshot is laid out. */
  def currentPartitionCols(): Seq[String] =
    currentVersion().map(v => partitionColsOf(rootPath.resolve(s"v$v")))
      .getOrElse(Seq.empty)

  /** Read ONLY the named partition dirs of the current version — the
    * manifest-style read the incremental merge wants: a micro-batch
    * touching 28 of 4,096 buckets must list 28 dirs, not run a full
    * partition discovery over all 4,096 (O(partitions) driver listing
    * per batch — measured as the dominant incremental cost before this
    * existed). `basePath` keeps the partition column in the schema.
    * Values whose dir doesn't exist (first change in a fresh bucket)
    * are skipped; if none exist, an empty frame with the snapshot's
    * schema is returned (derived from one existing partition dir). */
  def readCurrentPartitions(partitionCol: String,
                            values: Seq[Any]): DataFrame = {
    val v = currentVersion().getOrElse(throw new IllegalStateException(
      s"readCurrentPartitions: no published version under $root"))
    // resolution goes through the effective map, so manifest-carried
    // dirs read from their owner versions exactly like local ones
    val eff = effectiveDirs(v)
    val wanted = values
      .flatMap(x => eff.get(s"$partitionCol=$x"))
    if (wanted.nonEmpty) readGrouped(wanted)
    else {
      val one = eff.headOption.map(_._2).getOrElse(
        throw new IllegalStateException(
          s"readCurrentPartitions: v$v has no $partitionCol= dirs"))
      spark.read.option("basePath", one.getParent.toString)
        .parquet(one.toString).limit(0)
    }
  }

  /** Mirror `src` under `dst` with per-file hard links (copy where the
    * filesystem refuses links) — the unchanged-partition carry-over of
    * [[publishIncremental]]. */
  private def linkTree(src: java.nio.file.Path,
                       dst: java.nio.file.Path): Unit = {
    Files.createDirectories(dst)
    val stream = Files.list(src)
    try {
      val it = stream.iterator()
      while (it.hasNext) {
        val p = it.next()
        val d = dst.resolve(p.getFileName.toString)
        if (Files.isDirectory(p)) linkTree(p, d) else link(p, d)
      }
    } finally stream.close()
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
    * and atomically publish it — the shared pointer protocol behind
    * [[publish]] and [[publishZOrdered]]. `write` may drop `_`-prefixed
    * sidecars (layout metadata) into the dir; they ride the same
    * all-or-nothing publication as the data. */
  private def publishVersionDir(write: String => Unit): Long = {
    Files.createDirectories(rootPath)
    val next = currentVersion().getOrElse(-1L) + 1L
    write(s"$root/v$next")
    val tmp = rootPath.resolve(s"_CURRENT.tmp$next")
    Files.writeString(tmp, next.toString)
    Files.move(tmp, pointer, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    next
  }

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
    val cur = currentVersion()
    val retained = all.takeRight(math.max(keepLast, 1)).toSet ++ cur.toSet
    // manifest closure, to a FIXPOINT: a retained version's carried
    // dirs live in owner versions, which must survive this vacuum even
    // when they fall outside the retention window — dropping them
    // would tear every reader of the retained version. And a
    // kept-as-owner version must itself stay READABLE, not merely
    // hold its dirs: purgeKeys rewrites every on-disk version through
    // readVersion, so a kept owner whose OWN manifest references a
    // dropped version would wedge the compliance verb forever (the
    // hot-key chain v1 local → v2 carries from v1 → v3 re-owns the
    // bucket: one hop keeps v2 for v3 but drops v1, and v2 is then
    // unreadable while permanently pinned). Entries name the version
    // that physically holds each DIR, so per-dir resolution is one
    // hop — readability of the kept owners is what chains. The space
    // bound degrades gracefully under long manifest chains; a periodic
    // full publish (materialize/OPTIMIZE) resets the chain and lets
    // the owners age out at the next vacuum.
    var keep = retained
    var frontier = retained.flatMap(manifestOwners) -- keep
    while (frontier.nonEmpty) {
      keep = keep ++ frontier
      frontier = frontier.flatMap(manifestOwners) -- keep
    }
    val drop = all.filterNot(keep)
    drop.foreach { v =>
      val tmp = rootPath.resolve(s"v$v._purge")
      if (Files.exists(tmp)) deleteTree(tmp)
      deleteTree(rootPath.resolve(s"v$v"))
    }
    purgeTemps().filterNot(adoptablePurgeTemp).foreach(deleteTree)
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
                val parts = effectivePartitionCols(curV)
                publish(clusterManyPartitions(purged(cur), parts, curV),
                  parts, versionSidecars(curDir))
            }
          }
          // NEWEST-FIRST: a version's manifest references strictly
          // OLDER owners, so rewriting in descending order guarantees
          // every readVersion(v) below resolves its carried dirs from
          // still-unrewritten owner dirs. Ascending order breaks on a
          // bucket the purge EMPTIES: the older owner's rewrite drops
          // the now-empty partition dir, a younger version's manifest
          // still names it, and the younger version's materializing
          // read crashes — on every re-run, so the compliance verb
          // could never complete.
          val hist = versions().filterNot(fresh.contains)
            .sorted(Ordering[Long].reverse)
          hist.foreach { v =>
            val dir = rootPath.resolve(s"v$v")
            val tmp = rootPath.resolve(s"v$v._purge")
            val parts = effectivePartitionCols(v)
            val body = clusterManyPartitions(
              applyLayout(purged(readVersion(v)), dir), parts, v)
            val w = body.write.mode("overwrite")
            (if (parts.nonEmpty) w.partitionBy(parts: _*) else w)
              .parquet(tmp.toString)
            if (!Files.exists(tmp.resolve("_SUCCESS"))) {
              deleteTree(tmp)
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
            deleteTree(dir)
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

  /** The hive partition columns a version dir was written with, in
    * nesting order — detected from the `col=value` directory levels, so
    * a purge rewrite can reproduce the layout it replaces. */
  /** A version's partition columns as [[purgeKeys]]' rewrites must see
    * them: local hive dirs when the version holds any, else the carried
    * dirs named by its manifest — a version whose buckets are ALL
    * carried (an empty incremental publish) has no local `col=` child,
    * and detecting layout from the local dir alone would rewrite it
    * unpartitioned while still carrying the `_BUCKETS` sidecar: exactly
    * the layout/meta disagreement the sidecar protocol refuses. Manifest
    * versions are single-level by construction ([[publishIncremental]]
    * takes one partition column), so the carried-dir name prefix is the
    * whole answer there. */
  private def effectivePartitionCols(v: Long): Seq[String] = {
    val local = partitionColsOf(rootPath.resolve(s"v$v"))
    if (local.nonEmpty) local
    else manifestEntries(v).headOption.toSeq
      .map(_._1.split("=", 2)(0))
  }

  private def partitionColsOf(dir: java.nio.file.Path): Seq[String] = {
    val buf = scala.collection.mutable.ArrayBuffer.empty[String]
    var cur = dir
    var descend = true
    while (descend) {
      descend = false
      if (Files.isDirectory(cur)) {
        val stream = Files.list(cur)
        val child = try {
          val it = stream.iterator()
          var found: Option[java.nio.file.Path] = None
          while (it.hasNext && found.isEmpty) {
            val p = it.next()
            if (Files.isDirectory(p) &&
                p.getFileName.toString.contains("=")) found = Some(p)
          }
          found
        } finally stream.close()
        child.foreach { c =>
          buf += c.getFileName.toString.split("=", 2)(0)
          cur = c
          descend = true
        }
      }
    }
    buf.toSeq
  }

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
        effectiveDirs(v).size >
          spark.sessionState.conf.numShufflePartitions)
      df.repartition(parts.map(df(_)): _*)
    else df

  /** The caller-published `_`-sidecars of a version dir (committer and
    * protocol artifacts excluded) — carried by [[purgeKeys]]' rewrites
    * so maintenance never strips a layout contract from the version it
    * rewrites. */
  private def versionSidecars(dir: java.nio.file.Path): Map[String, String] =
    if (!Files.isDirectory(dir)) Map.empty
    else {
      val stream = Files.list(dir)
      try {
        val it = stream.iterator()
        var m = Map.empty[String, String]
        while (it.hasNext) {
          val p = it.next()
          val n = p.getFileName.toString
          // _MANIFEST is a protocol artifact, not a caller sidecar: a
          // purge rewrite MATERIALIZES the version (readVersion resolved
          // the manifest into the rewritten data), so carrying the
          // stale manifest would double-serve carried dirs
          if (Files.isRegularFile(p) && n.startsWith("_") &&
              n != "_SUCCESS" && n != "_PURGED" && n != "_LAYOUT" &&
              n != ManifestName && !n.endsWith(".crc"))
            m += (n -> Files.readString(p))
        }
        m
      } finally stream.close()
    }

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
        if (Files.exists(live)) deleteTree(live)
        Files.move(tmp, live, StandardCopyOption.ATOMIC_MOVE)
      } else deleteTree(tmp)
    }
  }

  /** The `v{N}._purge` staging temps currently on disk. */
  private def purgeTemps(): Seq[java.nio.file.Path] =
    if (!Files.exists(rootPath)) Seq.empty
    else {
      val stream = Files.list(rootPath)
      try {
        val it = stream.iterator()
        val buf =
          scala.collection.mutable.ArrayBuffer.empty[java.nio.file.Path]
        while (it.hasNext) {
          val p = it.next()
          if (p.getFileName.toString.endsWith("._purge")) buf += p
        }
        buf.toSeq
      } finally stream.close()
    }

  private def deleteTree(dir: java.nio.file.Path): Unit = {
    val stream = Files.walk(dir)
    try {
      stream.sorted(java.util.Comparator.reverseOrder())
        .forEach(p => Files.deleteIfExists(p))
    } finally stream.close()
  }

  /** Versions currently on disk (published or orphaned), ascending.
    * Strictly `v{digits}` names: a purge's `v{N}._purge` staging temp
    * (present during every historical rewrite, or left by a crash) is
    * NOT a version and must not break enumeration — vacuum and the
    * stream's maintenance tick both list through here. */
  def versions(): Seq[Long] =
    if (!Files.exists(rootPath)) Seq.empty
    else {
      val stream = Files.list(rootPath)
      try {
        val it = stream.iterator()
        val buf = scala.collection.mutable.ArrayBuffer.empty[Long]
        while (it.hasNext) {
          val name = it.next().getFileName.toString
          if (name.length > 1 && name.startsWith("v") &&
              name.drop(1).forall(_.isDigit)) buf += name.drop(1).toLong
        }
        buf.sorted.toSeq
      } finally stream.close()
    }
}

object SnapshotStore {

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
