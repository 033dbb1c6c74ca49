package graft

/** Local smoke runner mirroring the driver's t1 check: `entry` must return
  * rows > 0 on sf0.001. Usage: graft.Smoke */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = Harness.session(4)
    val df = SparkEntry.entry(spark)
    val n = df.count()
    println(s"ENTRY_ROWS=$n")
    df.show(5, truncate = false)
    spark.stop()
    if (n <= 0) sys.exit(1)
  }
}
