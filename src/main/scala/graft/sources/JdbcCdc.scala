package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** JDBC CDC ingress/egress — the reference's actual transport: the
  * extractor polls PostgreSQL with a watermark query
  * (/root/reference/src/cdc/log_extractor.py:125-144) and the loader
  * writes the dimension back row-at-a-time over psycopg2
  * (/root/reference/src/warehouse/scd2_loader.py:254-276).
  *
  * The Spark-first shape of both halves:
  *  - ingress is `spark.read.format("jdbc")` with the watermark filter
  *    pushed INTO the database as a dbtable subquery (only new changes
  *    cross the wire) and `partitionColumn/lowerBound/upperBound` so the
  *    scan arrives as N parallel range queries instead of one cursor;
  *  - egress is set-based: stage the batch with Spark's parallel JDBC
  *    writer, then ONE `INSERT ... ON CONFLICT` / expire statement over
  *    the staging table — the reference's per-row
  *    lookup/expire/insert loop collapsed to two statements, which is
  *    the only per-batch shape that survives a 100 TB change feed.
  *
  * This container ships no JDBC driver jar and no database (documented
  * environment gap, SURVEY §1.1), so `read`/`stage` are thin compositions
  * over `spark.read`/`df.write` that need only a driver on the classpath
  * to go live. Everything decision-bearing — option maps, pushdown
  * subqueries, partition-bound math, upsert/expire SQL — is a pure
  * function, unit-tested in JdbcSpec.
  */
object JdbcCdc {

  /** Connection descriptor. `driver` is the JDBC class name (e.g.
    * PostgreSQL's "org.postgresql.Driver") — resolved only at `load()`
    * time, so plans can be built and tested without the jar. */
  final case class Conn(url: String, user: String, password: String,
                       driver: String)

  /** The two SQL renderings this layer needs to vary by target database.
    * `Pg` is the deployment dialect (ANSI timestamp literals, windowed
    * row_number, UPDATE..FROM); `Ansi` is the lowest-common-denominator
    * rendering proven live against embedded Derby (JdbcSpec): the
    * `TIMESTAMP('...')` literal function, and merge statements built
    * from correlated subqueries only (Derby accepts no PARTITION BY in
    * a window and no FROM clause on UPDATE). */
  sealed trait Dialect { def tsLiteral(ts: String): String }
  case object Pg extends Dialect {
    def tsLiteral(ts: String): String = s"TIMESTAMP '$ts'"
  }
  case object Ansi extends Dialect {
    def tsLiteral(ts: String): String = s"TIMESTAMP('$ts')"
  }

  private val tsFmt = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")

  private def tsLit(ts: java.time.Instant): String =
    tsFmt.format(java.time.LocalDateTime.ofInstant(ts, java.time.ZoneOffset.UTC))

  /** The watermark-pushdown subquery used as `dbtable`: the reference's
    * extractor query (log_extractor.py:125-144) — rows touched since the
    * watermark, labeled UPSERT — with the WHERE evaluated inside the
    * database. Identifier safety: `table`/`tsCols` must be trusted
    * catalog names (they come from engine config, never user input);
    * the timestamp is rendered as an ANSI literal, not interpolated
    * user text. */
  def watermarkSubquery(table: String, tsCols: Seq[String],
                        watermark: java.time.Instant,
                        dialect: Dialect = Pg): String = {
    require(tsCols.nonEmpty, "watermarkSubquery needs at least one ts column")
    val wm = dialect.tsLiteral(tsLit(watermark))
    val preds = tsCols.map(c => s"$c > $wm").mkString(" OR ")
    // qualified star: ANSI targets (Derby live-tested) reject a bare
    // `SELECT *, expr` select list; `alias.*, expr` parses everywhere
    s"(SELECT graft_t.*, 'UPSERT' AS operation_type FROM $table graft_t" +
      s" WHERE $preds) AS graft_src"
  }

  /** Option map for a parallel partitioned JDBC read: Spark issues
    * `numPartitions` range queries over `partitionCol` between the
    * bounds — the distributed form of the reference's single cursor.
    * `fetchSize` keeps the per-task cursor streaming instead of
    * buffering the partition. */
  def readOptions(conn: Conn, dbtable: String, partitionCol: String,
                  lower: Long, upper: Long, numPartitions: Int,
                  fetchSize: Int = 10000): Map[String, String] = Map(
    "url" -> conn.url,
    "user" -> conn.user,
    "password" -> conn.password,
    "driver" -> conn.driver,
    "dbtable" -> dbtable,
    "partitionColumn" -> partitionCol,
    "lowerBound" -> lower.toString,
    "upperBound" -> upper.toString,
    "numPartitions" -> math.max(1, numPartitions).toString,
    "fetchsize" -> fetchSize.toString)

  /** One-row bounds probe for [[readOptions]] — runs as its own tiny
    * JDBC query (`SELECT min, max`) so the range partitioning adapts to
    * the key space actually present, the same way the stored-index
    * probes collect only control-plane rows. */
  def boundsSubquery(table: String, partitionCol: String): String =
    s"(SELECT min($partitionCol) AS lo, max($partitionCol) AS hi FROM $table) AS graft_bounds"

  /** Watermarked parallel read — composition of the pieces above.
    * Requires a JDBC driver jar on the classpath at `load()` time. */
  def read(spark: SparkSession, conn: Conn, table: String,
           tsCols: Seq[String], watermark: java.time.Instant,
           partitionCol: String, lower: Long, upper: Long,
           numPartitions: Int, dialect: Dialect = Pg): DataFrame =
    spark.read.format("jdbc")
      .options(readOptions(conn,
        watermarkSubquery(table, tsCols, watermark, dialect),
        partitionCol, lower, upper, numPartitions))
      .load()

  /** Stage a change batch into a scratch table with Spark's parallel
    * JDBC writer (overwrite: staging is per-batch scratch). The merge
    * then runs as ONE transaction over this table: [[upsertSql]] first,
    * [[expireSql]] second (see [[expireSql]] for why that order).
    * `columnTypes` overrides the dialect's default DDL type per column
    * (Spark's createTableColumnTypes) — e.g. VARCHAR instead of a
    * default TEXT/CLOB whose values the merge SQL could not compare. */
  def stage(df: DataFrame, conn: Conn, stagingTable: String,
            batchPartitions: Int = 8,
            columnTypes: Map[String, String] = Map.empty): Unit = {
    val w = df.repartition(batchPartitions).write.format("jdbc")
      .option("url", conn.url).option("user", conn.user)
      .option("password", conn.password).option("driver", conn.driver)
      .option("dbtable", stagingTable)
    (if (columnTypes.isEmpty) w
     else w.option("createTableColumnTypes",
       columnTypes.map { case (c, t) => s"$c $t" }.mkString(", ")))
      .mode("overwrite").save()
  }

  /** The set-based form of the reference's per-key expire loop
    * (scd2_loader.py:276-301): ONE statement closes every current row
    * whose key appears in the staged batch with a strictly newer
    * change. The stale guard (`<`) is the same late-data rule
    * `Scd2.merge` applies.
    *
    * Statement ORDER within the merge transaction: [[upsertSql]] FIRST,
    * then this — the upsert's timeline-end guard must read the
    * PRE-batch dimension (exactly like `Scd2.merge` computes
    * `keyMeta` before routing); run after the expire, the just-stamped
    * `valid_to = s.ts` would equal the incoming ts and block its own
    * key's insert. The expire is safe second: the freshly inserted
    * current row has `valid_from = s.ts`, which fails this statement's
    * `< s.ts` predicate, so only the superseded row closes. */
  def expireSql(dimTable: String, stagingTable: String, key: String,
                tsCol: String): String =
    s"""UPDATE $dimTable d
       |SET valid_to = s.$tsCol, is_current = FALSE
       |FROM (SELECT $key, max($tsCol) AS $tsCol FROM $stagingTable GROUP BY $key) s
       |WHERE d.$key = s.$key AND d.is_current = TRUE AND d.valid_from < s.$tsCol""".stripMargin

  /** The set-based form of the reference's per-row INSERT loop
    * (scd2_loader.py:254-276): one statement inserts the latest change
    * per key as the new current row. `cols` are the payload columns to
    * carry over (trusted catalog names).
    *
    * Two guards keep this in lockstep with `Scd2.merge`'s routing
    * (engine/Scd2.scala:113-160) so the SQL path preserves the
    * single-current invariant the reference verifies
    * (verify_scd2.py:291-298):
    *  - row_number over `($tsCol DESC, $tie DESC)` — the exact order
    *    `Cdc.dedupLastPerKey` uses — so two staged rows tied on a key's
    *    max timestamp yield exactly ONE insert, deterministically;
    *  - `NOT EXISTS` timeline-end guard: the change is admitted only
    *    when it is strictly newer than the key's TIMELINE END over ALL
    *    versions — `COALESCE(valid_to, valid_from)`, the same
    *    `_tl_end` rule as `Scd2.merge` (its `keyMeta`).
    *    Checking only current rows would miss two cases: a stale batch
    *    against a newer current row (second current row per key), and
    *    a late change for a DELETEd key — the delete stamps `valid_to`
    *    and leaves NO current row, so a current-only guard would
    *    resurrect the key with pre-delete data inside its closed
    *    interval. */
  def upsertSql(dimTable: String, stagingTable: String, key: String,
                tsCol: String, tie: String, cols: Seq[String]): String = {
    val colList = (Seq(key) ++ cols ++ Seq("valid_from", "is_current")).mkString(", ")
    val selList = (Seq(s"s.$key") ++ cols.map(c => s"s.$c") ++
      Seq(s"s.$tsCol", "TRUE")).mkString(", ")
    s"""INSERT INTO $dimTable ($colList)
       |SELECT $selList
       |FROM (SELECT *, row_number() OVER (
       |        PARTITION BY $key ORDER BY $tsCol DESC, $tie DESC) AS graft_rn
       |      FROM $stagingTable) s
       |WHERE s.graft_rn = 1
       |  AND s.operation_type <> 'DELETE'
       |  AND NOT EXISTS (SELECT 1 FROM $dimTable d
       |                  WHERE d.$key = s.$key
       |                    AND COALESCE(d.valid_to, d.valid_from) >= s.$tsCol)""".stripMargin
  }

  /** [[expireSql]] rendered in the [[Ansi]] dialect: Derby (and other
    * targets without PostgreSQL's `UPDATE .. FROM`) get the same
    * set-based expire as two correlated subqueries against the staging
    * table — the per-key max is computed twice, but the planner shares
    * it and the staging table is batch-sized either way. Keys absent
    * from the batch compare against NULL and are untouched; run AFTER
    * [[upsertSqlAnsi]] in the same transaction (the freshly inserted
    * current row has `valid_from` = the key's max staged ts, which
    * fails the strict `<`, so only the superseded row closes — the same
    * order argument as [[expireSql]]). */
  def expireSqlAnsi(dimTable: String, stagingTable: String, key: String,
                    tsCol: String): String =
    s"""UPDATE $dimTable d
       |SET valid_to = (SELECT max(s.$tsCol) FROM $stagingTable s
       |                WHERE s.$key = d.$key),
       |    is_current = FALSE
       |WHERE d.is_current = TRUE
       |  AND d.valid_from < (SELECT max(s.$tsCol) FROM $stagingTable s
       |                      WHERE s.$key = d.$key)""".stripMargin

  /** [[upsertSql]] rendered in the [[Ansi]] dialect: the in-batch
    * last-write-wins dedup is a NOT EXISTS over the staging table on the
    * same strict (ts DESC, tie DESC) order instead of a windowed
    * row_number (which Derby cannot parse). Semantically identical to
    * [[upsertSql]] PROVIDED (key, ts, tie) has no exact duplicates in
    * the staging batch — row_number would arbitrarily keep one of two
    * fully tied rows where the NOT EXISTS keeps both; the engine's
    * staging feed satisfies this (the tie column is a unique change
    * sequence, the same uniqueness `Cdc.dedupLastPerKey`'s determinism
    * already relies on). The timeline-end guard is byte-identical to
    * [[upsertSql]]'s. */
  def upsertSqlAnsi(dimTable: String, stagingTable: String, key: String,
                    tsCol: String, tie: String, cols: Seq[String]): String = {
    val colList = (Seq(key) ++ cols ++ Seq("valid_from", "is_current")).mkString(", ")
    val selList = (Seq(s"s.$key") ++ cols.map(c => s"s.$c") ++
      Seq(s"s.$tsCol", "TRUE")).mkString(", ")
    s"""INSERT INTO $dimTable ($colList)
       |SELECT $selList
       |FROM $stagingTable s
       |WHERE s.operation_type <> 'DELETE'
       |  AND NOT EXISTS (SELECT 1 FROM $stagingTable s2
       |                  WHERE s2.$key = s.$key
       |                    AND (s2.$tsCol > s.$tsCol
       |                         OR (s2.$tsCol = s.$tsCol AND s2.$tie > s.$tie)))
       |  AND NOT EXISTS (SELECT 1 FROM $dimTable d
       |                  WHERE d.$key = s.$key
       |                    AND COALESCE(d.valid_to, d.valid_from) >= s.$tsCol)""".stripMargin
  }
}
