package graft.engine

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

/** The engine's one commit point. A versioned table `root` serves its
  * data from `root/{prefix}{N}` behind a `root/_CURRENT` pointer file
  * whose first line is N. A writer fills the next version dir
  * completely, then moves a temp pointer over `_CURRENT` atomically:
  * readers resolve the pointer first, so they see the old version or
  * the new one, never a half-written one. A crash before the swap
  * leaves an orphan `{prefix}{N+1}` that no pointer names; the next
  * publish clears it before writing, so a retry is never wedged by, and
  * never inherits files from, a torn attempt.
  *
  * [[Compaction]] names its versions `_v{N}` (hidden from Spark's
  * listing of the table root); [[SnapshotStore]] names them `v{N}`.
  * Callers own the single-writer discipline ([[Lease]]). */
private[graft] object VersionPointer {

  /** The pointer file's name, for listings that must spare it. */
  val Name = "_CURRENT"

  /** The published version of `root`, if any. Only the first line
    * counts: the format may grow trailing metadata lines. */
  def read(root: String): Option[Long] = {
    val p = Paths.get(root, Name)
    if (Files.exists(p)) Some(Files.readString(p).split('\n').head.trim.toLong)
    else None
  }

  /** Publish the next version of `root`: clear an orphan
    * `{prefix}{next}`, hand its path to `write`, then swap the pointer.
    * Returns the published version number. */
  def publish(root: String, prefix: String)(write: String => Unit): Long = {
    val next = read(root).getOrElse(-1L) + 1L
    val dir = s"$root/$prefix$next"
    Files.createDirectories(Paths.get(root))
    deleteTree(Paths.get(dir))
    write(dir)
    val tmp = Paths.get(root, s"$Name.tmp$next")
    Files.writeString(tmp, next.toString)
    Files.move(tmp, Paths.get(root, Name), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    next
  }

  /** Delete `p` and everything under it; a missing `p` is a no-op.
    * Children go before their parents (reverse-sorted walk), and a file
    * that vanished meanwhile is skipped. */
  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(f => { Files.deleteIfExists(f); () })
      finally walk.close()
    }
}
