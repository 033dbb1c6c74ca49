package cdcbench

/** The input sizes of one workload. `poolFiles` is how many change files
  * are staged before the timer starts; a pass applies them in order until
  * its time is up (or the pool runs out, which the run records). */
final case class Shape(
    dimChanges: Long,      // generated changes rebuilt into the seed dim
    dimKeys: Int,          // key space of the seed dim
    changeKeys: Int,       // key space of the measured changes
    perFile: Long,         // generated ids per change file (~90% are records)
    poolFiles: Int,
    buckets: Int,          // CdcStream dimBuckets; 0 = whole-dim publish
    manifestCarry: Boolean,
    writeEvery: Int = 0,   // history_reads: every Nth op applies a batch
    keepLast: Int = 0,     // history_reads: vacuum keeps this many versions
    probes: Int = 0)       // history_reads: as-of join probe rows

object Shape {
  val Workloads = Seq("ingest_micro", "ingest_bulk", "history_reads")

  def apply(workload: String, scale: String, seconds: Int): Shape = {
    val tiny = scale == "tiny"
    require(scale == "full" || tiny, s"unknown --scale '$scale' (full|tiny)")
    def n(full: Long, small: Long): Long = if (tiny) small else full
    def i(full: Int, small: Int): Int = if (tiny) small else full
    workload match {
      case "ingest_micro" => Shape(
        dimChanges = n(55000, 2000), dimKeys = i(25000, 1000),
        changeKeys = i(25000, 1000), perFile = n(500, 100),
        poolFiles = i(math.max(8, seconds * 4), 4),
        buckets = 0, manifestCarry = false)
      case "ingest_bulk" => Shape(
        dimChanges = n(280000, 8000), dimKeys = i(120000, 4000),
        changeKeys = i(120000, 4000), perFile = n(10000, 1000),
        poolFiles = i(math.max(4, seconds), 3),
        buckets = i(32, 8), manifestCarry = true)
      case "history_reads" => Shape(
        dimChanges = n(55000, 2000), dimKeys = i(25000, 1000),
        changeKeys = i(27500, 1100), perFile = n(20, 10),
        poolFiles = i(math.max(8, seconds), 8),
        buckets = i(16, 8), manifestCarry = true,
        writeEvery = 9, keepLast = 4, probes = i(200, 20))
      case other => throw new IllegalArgumentException(
        s"unknown workload '$other' (one of ${Workloads.mkString(", ")})")
    }
  }
}
