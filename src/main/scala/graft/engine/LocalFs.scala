package graft.engine

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, NoSuchFileException}
import java.nio.file.attribute.PosixFilePermission
import java.nio.file.attribute.PosixFilePermission._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FileSystem, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession

/** The `file:` scheme without process forks.
  *
  * Without Hadoop's native library, `RawLocalFileSystem` runs a `chmod`
  * process for every permission it sets (every file, `.crc` and directory
  * a write creates) and a `readlink` process for every link-status probe
  * (two per `FileContext` rename, i.e. per streaming checkpoint file). A
  * micro-batch paid ~40 such forks. [[NoForkRawLocalFileSystem]] does the
  * same two things through `java.nio.file`; everything else, checksums
  * included, is Hadoop's own code. [[setup]] installs it for a session. */
object LocalFs {
  private val FsKey = "fs.file.impl"
  private val AfsKey = "fs.AbstractFileSystem.file.impl"
  private val LocalUri = URI.create("file:///")

  /** Install the fork-free local file system in the session's Hadoop
    * configuration, which every Spark read, write and streaming checkpoint
    * derives its own from. Idempotent; called by
    * [[graft.functions.GraftExtensions]] as each session builds its state.
    * A `file:` implementation the user configured is left alone. */
  def setup(session: SparkSession): Unit = setup(session.sparkContext.hadoopConfiguration)

  private[graft] def setup(conf: Configuration): Unit = synchronized {
    install(conf, FsKey, classOf[LocalFileSystem], classOf[NoForkLocalFileSystem])
    install(conf, AfsKey, classOf[org.apache.hadoop.fs.local.LocalFs], classOf[NoForkLocalFs])
    // Hadoop caches one FileSystem per (scheme, authority, user), so a
    // stock instance created before this setup would keep serving `file:`
    // paths; closing it drops it from the cache
    if (conf.get(FsKey) == classOf[NoForkLocalFileSystem].getName) {
      val cached = FileSystem.get(LocalUri, conf)
      if (!cached.isInstanceOf[NoForkLocalFileSystem]) cached.close()
    }
  }

  private def install(conf: Configuration, key: String, stock: Class[_],
                      ours: Class[_]): Unit = {
    val now = conf.getTrimmed(key, "")
    if (now.isEmpty || now == stock.getName) conf.set(key, ours.getName)
  }

  private val Bits = Seq(OWNER_READ, OWNER_WRITE, OWNER_EXECUTE,
    GROUP_READ, GROUP_WRITE, GROUP_EXECUTE,
    OTHERS_READ, OTHERS_WRITE, OTHERS_EXECUTE)

  /** `p`'s rwx bits as NIO permissions; None when it carries a bit NIO
    * cannot set (the sticky bit). */
  private[engine] def posix(p: FsPermission): Option[java.util.Set[PosixFilePermission]] =
    if (p.getStickyBit) None
    else {
      val mode = p.toShort
      val s = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
      Bits.zipWithIndex.foreach { case (b, i) => if ((mode & (0x100 >> i)) != 0) s.add(b) }
      Some(s)
    }
}

/** `RawLocalFileSystem` whose `setPermission` and `getFileLinkStatus` run
  * no process. Anything NIO cannot express exactly (a sticky bit, a file
  * system without POSIX attributes, a real symlink) takes Hadoop's path. */
class NoForkRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    LocalFs.posix(permission) match {
      case Some(perms) =>
        try { Files.setPosixFilePermissions(pathToFile(p).toPath, perms); () }
        catch {
          case e: NoSuchFileException =>
            throw new FileNotFoundException(e.getMessage)
          case _: UnsupportedOperationException => super.setPermission(p, permission)
        }
      case None => super.setPermission(p, permission)
    }

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** `LocalFileSystem` (checksummed, `fs.file.impl`) over
  * [[NoForkRawLocalFileSystem]]. */
class NoForkLocalFileSystem extends LocalFileSystem(new NoForkRawLocalFileSystem)

/** `FileContext`'s raw local file system over [[NoForkRawLocalFileSystem]]:
  * Hadoop's `RawLocalFs` with the delegate swapped. */
class NoForkRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new NoForkRawLocalFileSystem, conf,
      "file", false) {
  override def getUriDefaultPort(): Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults =
    LocalConfigKeys.getServerDefaults()
  @deprecated("as in AbstractFileSystem", "")
  override def getServerDefaults(): FsServerDefaults =
    LocalConfigKeys.getServerDefaults()
  override def isValidName(src: String): Boolean = true
}

/** `FileContext`'s local file system (checksummed,
  * `fs.AbstractFileSystem.file.impl`) over [[NoForkRawLocalFs]]; Hadoop
  * builds it through this (URI, Configuration) constructor. */
class NoForkLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new NoForkRawLocalFs(uri, conf))
