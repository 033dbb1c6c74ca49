package graft.engine

/** Per-process staging root for stored-index artifacts (the IVF/PQ/BM25
  * parquet indexes and bucketed dim snapshots behind the
  * build-once/query-many operators).
  *
  * Two problems this solves at once:
  *  - build-once semantics: a bench/service process that times the stored
  *    read paths must not rebuild the index per invocation (3× per query
  *    under median-of-3 timing) — the build belongs in the shared setup
  *    phase, exactly like the reference amortizes its index builds over
  *    the query workload;
  *  - temp hygiene: previously every invocation created a fresh
  *    `Files.createTempDirectory` that was never deleted, leaking one
  *    index copy per run. Now all artifacts live under ONE root that a
  *    JVM shutdown hook removes.
  *
  * Single-process assumption (same as the k-means memo and Spark's own
  * relation cache): paths are memoized per (kind, corpus dir) for the
  * lifetime of this JVM; concurrent first builders are serialized.
  */
private[graft] object StoredIndexes {

  private lazy val root: java.nio.file.Path = {
    val r = java.nio.file.Files.createTempDirectory("graft_indexes_")
    Runtime.getRuntime.addShutdownHook(
      new Thread(() => VersionPointer.deleteTree(r)))
    r
  }

  private val built =
    scala.collection.concurrent.TrieMap.empty[(String, String), String]
  private val lock = new Object

  /** The staging path for artifact `kind` over corpus `sfDir` — stable
    * within the process, under the auto-removed root. Does NOT build.
    * The corpus-dir component is a SHA-256 prefix (64 bits), not
    * String.hashCode: with the 32-bit hash, two corpus dirs colliding in
    * one process would silently serve one corpus's index to the other's
    * queries. */
  def pathFor(kind: String, sfDir: String): String =
    root.resolve(s"${kind}_${sha16(sfDir)}").toString

  /** First 16 hex chars of SHA-256 — the collision-resistant dir/table
    * disambiguator shared by index paths and catalog table names. */
  def sha16(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .take(8).map(b => f"$b%02x").mkString

  /** Run `body` under the global lock — for artifacts that live outside
    * the path memo (e.g. catalog-registered bucketed tables) but need the
    * same check-then-build atomicity as [[ensure]]. Reentrant. */
  def locked[T](body: => T): T = lock.synchronized(body)

  // One lock per artifact key: concurrent first builders of the SAME
  // artifact still serialize (build runs exactly once), but builders of
  // DIFFERENT artifacts proceed in parallel — the parallel warm chains
  // build the ANN and keyword indexes concurrently, and a global build
  // lock would quietly re-serialize them.
  private val keyLocks =
    scala.collection.concurrent.TrieMap.empty[(String, String), Object]

  /** Build-once artifact path: the first caller for (kind, sfDir) runs
    * `build` against [[pathFor]]'s path; everyone after (including
    * concurrent callers — the build runs inside the key's lock, never
    * twice) reuses the finished artifact. A failed build is not
    * memoized, so the next caller retries. */
  def ensure(kind: String, sfDir: String)(build: String => Unit): String = {
    val key = (kind, sfDir)
    built.getOrElse(key, keyLocks.getOrElseUpdate(key, new Object).synchronized {
      built.get(key) match {
        case Some(p) => p
        case None =>
          val p = pathFor(kind, sfDir)
          build(p)
          built.put(key, p)
          p
      }
    })
  }
}
