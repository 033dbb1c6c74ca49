package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  val sfDir = "/root/testdata/sf0.001"

  /** The bucket dirs of a store's version dir: name → (file name →
    * inode), to tell a bucket carried by hard link from a rewritten one. */
  def bucketInodes(versionDir: java.nio.file.Path): Map[String, Map[String, AnyRef]] = {
    import java.nio.file.Files
    import scala.jdk.CollectionConverters._
    def list(d: java.nio.file.Path) = { val s = Files.list(d); try s.iterator().asScala.toList finally s.close() }
    list(versionDir).filter(Files.isDirectory(_)).map(d => d.getFileName.toString ->
      list(d).map(f => f.getFileName.toString -> Files.getAttribute(f, "unix:ino")).toMap).toMap
  }
}
