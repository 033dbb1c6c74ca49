package graft

import java.net.URI
import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.PosixFilePermissions

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, FileSystem, LocalFileSystem, Options, Path}
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.{LocalFs, NoForkLocalFileSystem, NoForkLocalFs}

/** The fork-free `file:` file system: installed for every session, and
  * indistinguishable from Hadoop's own in what it leaves on disk. */
class LocalFsSpec extends AnyFunSuite {
  import TestSpark._

  private val LocalUri = URI.create("file:///")
  private def tmp(p: String): JPath = Files.createTempDirectory(p)

  test("newHadoopConf() resolves file: to the fork-free file systems") {
    val conf = spark.sessionState.newHadoopConf()
    assert(FileSystem.get(LocalUri, conf).isInstanceOf[NoForkLocalFileSystem])
    assert(FileSystem.getLocal(conf).isInstanceOf[NoForkLocalFileSystem])
    assert(FileContext.getFileContext(LocalUri, conf).getDefaultFileSystem
      .isInstanceOf[NoForkLocalFs])
  }

  test("setup is idempotent") {
    val conf = spark.sparkContext.hadoopConfiguration
    val before = (conf.get("fs.file.impl"), conf.get("fs.AbstractFileSystem.file.impl"),
      FileSystem.get(LocalUri, conf))
    LocalFs.setup(spark)
    LocalFs.setup(spark)
    assert((conf.get("fs.file.impl"), conf.get("fs.AbstractFileSystem.file.impl"),
      FileSystem.get(LocalUri, conf)) === before)
    assert(before._3.isInstanceOf[NoForkLocalFileSystem])
  }

  test("setup replaces a stock instance already in Hadoop's cache") {
    val stock = new Configuration()
    stock.set("fs.file.impl", classOf[LocalFileSystem].getName)
    // evict the cached instance so the stock class gets cached in its place
    FileSystem.get(LocalUri, stock).close()
    val cached = FileSystem.get(LocalUri, stock)
    assert(cached.getClass === classOf[LocalFileSystem])
    val fresh = new Configuration()
    LocalFs.setup(fresh)
    assert(FileSystem.get(LocalUri, fresh).isInstanceOf[NoForkLocalFileSystem])
    // a configuration naming the stock class now gets the cached fork-free one
    assert(FileSystem.get(LocalUri, stock).isInstanceOf[NoForkLocalFileSystem])
    // a user's own file: implementation is left alone
    val custom = new Configuration()
    custom.set("fs.file.impl", "org.example.MyLocalFs")
    LocalFs.setup(custom)
    assert(custom.get("fs.file.impl") === "org.example.MyLocalFs")
  }

  // a real symlink takes Hadoop's own (readlink) path, so it is reported
  // exactly as stock Hadoop reports it, through FileSystem and FileContext
  test("getFileLinkStatus answers as stock Hadoop, a real symlink included") {
    val d = tmp("localfs_link")
    val target = Files.writeString(d.resolve("target"), "x")
    val link = Files.createSymbolicLink(d.resolve("link"), target)
    val conf = spark.sessionState.newHadoopConf()
    val stock = new LocalFileSystem()
    stock.initialize(LocalUri, conf)
    val ours = FileSystem.get(LocalUri, conf)
    for (p <- Seq(link, target).map(x => new Path(x.toUri))) {
      val (a, b) = (stock.getFileLinkStatus(p), ours.getFileLinkStatus(p))
      assert((b.isSymlink, b.getPath, b.getLen, b.isDirectory) ===
        ((a.isSymlink, a.getPath, a.getLen, a.isDirectory)))
      if (a.isSymlink) assert(b.getSymlink === a.getSymlink)
    }
    val stockConf = new org.apache.hadoop.conf.Configuration(conf)
    stockConf.set("fs.AbstractFileSystem.file.impl", "org.apache.hadoop.fs.local.LocalFs")
    val (fc, stockFc) = (FileContext.getFileContext(LocalUri, conf),
      FileContext.getFileContext(LocalUri, stockConf))
    for (p <- Seq(link, target).map(x => new Path(x.toUri))) {
      val (a, b) = (stockFc.getFileLinkStatus(p), fc.getFileLinkStatus(p))
      assert((b.isSymlink, b.getPath, b.getLen) === ((a.isSymlink, a.getPath, a.getLen)))
      if (a.isSymlink) assert(b.getSymlink === a.getSymlink)
    }
    intercept[java.io.FileNotFoundException](
      ours.getFileLinkStatus(new Path(d.resolve("absent").toUri)))
  }

  /** Every path under `root` (relative) with its POSIX permissions. */
  private def modes(root: JPath): Map[String, String] = {
    val s = Files.walk(root)
    try s.iterator().asScala.filterNot(_ == root).map { p =>
      root.relativize(p).toString
        .replaceAll("[0-9a-f]{8}(-[0-9a-f]{4}){3}-[0-9a-f]{12}", "UUID") ->
        PosixFilePermissions.toString(Files.getPosixFilePermissions(p))
    }.toMap finally s.close()
  }

  for (umask <- Seq("022", "027")) {
    test(s"a write leaves the same POSIX permissions as stock Hadoop (umask $umask)") {
      def conf(fs: Class[_], afs: String): Map[String, String] = Map(
        "fs.permissions.umask-mode" -> umask,
        "fs.file.impl" -> fs.getName,
        "fs.file.impl.disable.cache" -> "true",
        "fs.AbstractFileSystem.file.impl" -> afs)
      val sides = Seq(
        conf(classOf[LocalFileSystem], "org.apache.hadoop.fs.local.LocalFs"),
        conf(classOf[NoForkLocalFileSystem], classOf[NoForkLocalFs].getName))
      val trees = sides.map { kv =>
        val c = new Configuration()
        kv.foreach { case (k, v) => c.set(k, v) }
        val root = tmp("localfs_perm")
        // mkdirs
        FileSystem.get(LocalUri, c).mkdirs(new Path(root.resolve("a/b/c").toUri))
        // a checkpoint-style create-and-rename through FileContext
        val fc = FileContext.getFileContext(LocalUri, c)
        val t = new Path(root.resolve("ckpt/.0.tmp").toUri)
        fc.create(t, java.util.EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE),
          Options.CreateOpts.createParent()).close()
        fc.rename(t, new Path(root.resolve("ckpt/0").toUri), Options.Rename.OVERWRITE)
        // a parquet write, in a session whose Hadoop conf names this side
        val s = spark.newSession()
        kv.foreach { case (k, v) => s.conf.set(k, v) }
        s.range(10).repartition(2).write.parquet(root.resolve("pq").toString)
        modes(root)
      }
      assert(trees(0).keySet === trees(1).keySet)
      assert(trees(0).contains("ckpt/0") && trees(0).contains("pq/_SUCCESS") &&
        trees(0).contains("a/b/c"))
      assert(trees(1) === trees(0))
    }
  }
}
