package graft.engine

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Skew mitigation for large joins (SURVEY §4 / the 100 TB design notes).
  *
  * AQE's skew-join handles most runtime skew; this is the deterministic
  * manual pattern for pipelines that pre-partition or bucket: split each
  * hot key's rows across `factor` salts on the large side and replicate
  * the small side once per salt, so no single task receives a whole hot
  * key. Cost: small side × factor — use only when key histograms are
  * known to be pathological.
  */
object Skew {

  /** Equi-join `large ⋈ small` on `key`, salted `factor` ways. `tie` is
    * any column spreading rows of one key (a unique id); result equals
    * the unsalted inner join. */
  def saltedJoin(large: DataFrame, small: DataFrame, key: String,
                 factor: Int, tie: String): DataFrame = {
    val salted = large.withColumn("_salt", pmod(hash(col(tie)), lit(factor)))
    val replicated = small.withColumn("_salt",
      explode(sequence(lit(0), lit(factor - 1))))
    salted.join(replicated, Seq(key, "_salt")).drop("_salt")
  }

  /** Broadcast-hint `df` only while the optimizer's size estimate fits
    * `autoBroadcastJoinThreshold`. The pattern every "small side" join
    * in this engine applies to batch-sized inputs: a steady-state change
    * batch is megabytes and must broadcast, but nothing stops a caller
    * replaying a month of history in one call — an oversized batch must
    * NOT be forced into a driver-side broadcast (OOM); it falls back to
    * planner/AQE strategy instead. */
  def maybeBroadcast(df: DataFrame): DataFrame =
    if (fitsBroadcast(df)) broadcast(df) else df

  /** Does the optimizer's size estimate of `df` fit
    * `autoBroadcastJoinThreshold`? The guard of [[maybeBroadcast]]. */
  def fitsBroadcast(df: DataFrame): Boolean = {
    val threshold = df.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    threshold > 0 && df.queryExecution.optimizedPlan.stats.sizeInBytes <= threshold
  }
}
