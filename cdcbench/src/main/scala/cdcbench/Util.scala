package cdcbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Minimal JSON writer. Objects are `Seq[(String, Any)]` so key order is
  * the order the benchmark wrote them in. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case o: Obj => o.fields.map { case (k, x) => str(k) + ":" + apply(x) }
      .mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => str(k.toString) + ":" + apply(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  final case class Obj(fields: Seq[(String, Any)])
  def obj(fields: (String, Any)*): Obj = Obj(fields)
}

/** Order statistics over latency samples. */
object Pct {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** The highest order statistic with at least ten samples beyond it,
    * never below the median: with fewer than 21 samples no such
    * percentile exists above the median and the tail reads as the
    * (upper) median. `pct` and `beyond` say which statistic was used. */
  final case class Tail(value: Double, pct: Double, beyond: Int, n: Int)
  def tail(xs: Seq[Double]): Tail =
    if (xs.isEmpty) Tail(Double.NaN, Double.NaN, 0, 0)
    else {
      val s = xs.sorted; val n = s.size
      val idx = math.max(n - 11, n / 2)
      Tail(s(idx), if (n == 1) 100.0 else 100.0 * idx / (n - 1), n - 1 - idx, n)
    }

  def summary(xs: Seq[Double]): Json.Obj = {
    val t = tail(xs)
    Json.obj("n" -> xs.size, "p50" -> median(xs), "tail" -> t.value,
      "tail_pct" -> t.pct, "tail_beyond" -> t.beyond,
      "min" -> (if (xs.isEmpty) Double.NaN else xs.min),
      "max" -> (if (xs.isEmpty) Double.NaN else xs.max))
  }
}

/** Process and host context read from /proc and the JVM's MXBeans. */
object Proc {
  def loadavg(): Seq[Double] =
    try Files.readString(Paths.get("/proc/loadavg")).trim.split("\\s+")
      .take(3).toSeq.map(_.toDouble)
    catch { case _: Exception => Seq.empty }

  /** Peak resident set of this process (VmHWM), in MiB. */
  def vmHwmMb(): Double =
    try Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(Double.NaN)
    catch { case _: Exception => Double.NaN }

  def cpuS(): Double = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
    case _ => Double.NaN
  }

  def gcS(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum / 1000.0

  def heapPeakMb(): Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / (1024.0 * 1024.0)
}

/** Bytes written under a store root, counted by inode: a hard-linked
  * carry-over of an unchanged partition is not a write. `scan()` returns
  * (bytes, files) of the inodes that appeared since the previous scan. */
final class WriteMeter(root: Path) {
  private val seen = mutable.HashSet.empty[Any]

  def scan(): (Long, Long) = {
    var b = 0L; var f = 0L
    val live = mutable.HashSet.empty[Any]
    if (Files.exists(root)) {
      val st = Files.walk(root)
      try st.iterator().asScala.filter(Files.isRegularFile(_)).foreach { p =>
        val ino = Files.getAttribute(p, "unix:ino")
        live += ino
        if (seen.add(ino)) { b += Files.size(p); f += 1 }
      } finally st.close()
    }
    seen.filterInPlace(live.contains) // a deleted file's inode may be reused
    (b, f)
  }
}

object Fs {
  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val st = Files.walk(p)
      try st.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
      finally st.close()
    }
}
