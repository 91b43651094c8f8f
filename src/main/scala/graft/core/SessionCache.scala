package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Session-scoped materialized-table cache — the one implementation of
  * the "compute once per (session, dir), persist, reuse across queries"
  * pattern (shingle index, simhash signatures, multimodal features,
  * normed embedding corpus).
  *
  * Materialization is EAGER (one count() at build): lazy materialization
  * lets several subtrees of the first query race into the unmaterialized
  * cache and lets later queries plan against pre-materialization stats
  * (observed as bimodal timings). Entries are keyed by (session, kind,
  * dir) and live until invalidated — callers that rewrite the underlying
  * files mid-session must call `invalidate` (documented on each cached
  * accessor); `clear(spark)` drops a whole session's entries, e.g.
  * before spark.stop().
  */
object SessionCache {

  private val tables =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String, String), DataFrame]()

  /** Per-key build locks: builds are serialized per key (not globally,
    * and not via computeIfAbsent — see getOrBuild) so two threads never
    * construct the same entry concurrently. Without this, the loser's
    * unpersist would evict the WINNER's data too: Spark's CacheManager
    * keys cached plans by sameResult, and the deterministic builders
    * produce identical plans in both threads. Builders may nest
    * getOrBuild for OTHER keys (pairs → signatures → corpus); the key
    * graph is a DAG, so per-key monitors cannot deadlock. Entries are a
    * bare Object per distinct key ever used — same negligible footprint
    * argument as `gens` below. */
  private val locks =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String, String), Object]()

  /** Per-key invalidation generation: bumped by invalidate/clear so a
    * build that was in flight when its files were rewritten can detect
    * the race and rebuild instead of installing a stale frame (the old
    * computeIfAbsent serialized invalidate behind the build; the
    * reentrancy-safe shape needs this explicit check). */
  private val gens =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String, String), java.lang.Long]()

  private def genOf(key: (SparkSession, String, String)): Long = {
    val g = gens.get(key)
    if (g == null) 0L else g.longValue()
  }

  private def bumpGen(key: (SparkSession, String, String)): Unit =
    gens.merge(key, java.lang.Long.valueOf(1L), (a, b) => java.lang.Long.valueOf(a + b))

  /** Cleanup callbacks fired when a watched session's application ends —
    * other session-keyed caches (e.g. TextDedup's shingle indexes)
    * register here so one listener evicts everything and no stopped
    * session stays pinned for the JVM lifetime. */
  private val cleanups =
    new java.util.concurrent.CopyOnWriteArrayList[SparkSession => Unit]()

  private val watched =
    java.util.concurrent.ConcurrentHashMap.newKeySet[SparkSession]()

  def onSessionEnd(f: SparkSession => Unit): Unit = cleanups.add(f)

  /** Install the end-of-application eviction listener for `spark` (once
    * per session). Every cache keyed by SparkSession calls this on first
    * insert for the session. */
  def watch(spark: SparkSession): Unit =
    if (watched.add(spark)) {
      // a stopped context rejects listeners — nothing left to watch, and
      // the caller's cache op must not start throwing because of it
      try spark.sparkContext.addSparkListener(
        new org.apache.spark.scheduler.SparkListener {
          override def onApplicationEnd(
              e: org.apache.spark.scheduler.SparkListenerApplicationEnd): Unit =
            sessionEnded(spark)
        })
      catch { case _: Throwable => }
    }

  /** Evict everything held for `spark` (the listener's entry point —
    * public so specs can drive it without stopping the shared context).
    * The session stays in `watched` while its context is alive: removing
    * it would make a later cache insert register a SECOND listener on
    * the same bus (they accumulate and each end-of-app would re-fire). */
  def sessionEnded(spark: SparkSession): Unit = {
    if (try spark.sparkContext.isStopped catch { case _: Throwable => true })
      watched.remove(spark) // context (and its listener) are gone
    clear(spark)
    cleanups.forEach { f =>
      try f(spark) catch { case _: Throwable => /* context is stopping */ }
    }
  }

  def getOrBuild(spark: SparkSession, kind: String, dir: String)(
      build: => DataFrame): DataFrame = {
    watch(spark)
    val key = (spark, kind, dir)
    val existing = tables.get(key)
    if (existing != null) return existing
    // Build OUTSIDE any map update: builders legitimately NEST
    // getOrBuild calls (minhashPairs materializes the signature table,
    // the vector gate materializes the normed corpus, ...), and
    // ConcurrentHashMap.computeIfAbsent forbids reentrant updates — it
    // throws "Recursive update" whenever the nested key happens to land
    // in the same hash bin, a lottery on the dir string. Builds are
    // serialized per key by `locks` (concurrent duplicate builds would
    // cross-evict each other's CacheManager entries — see `locks` doc).
    // invalidate() does NOT take the lock (it must not block behind a
    // build), so the generation counter detects files rewritten while a
    // build was in flight. The post-install re-check closes the last
    // window: an invalidate that ran ENTIRELY between the generation
    // snapshot and the install finds nothing to remove — if the
    // generation moved by install time, we take our own entry back out
    // and rebuild; if it did not move, any later invalidate's remove is
    // ordered after our install and evicts the entry itself.
    val lock = locks.computeIfAbsent(key, _ => new Object)
    lock.synchronized {
      var attempt = 0
      while (attempt < 3) {
        val cached = tables.get(key)
        if (cached != null) return cached
        val genBefore = genOf(key)
        val df = build.persist(StorageLevel.MEMORY_AND_DISK)
        df.count()
        if (genOf(key) == genBefore) {
          tables.put(key, df)
          if (genOf(key) == genBefore) return df
          tables.remove(key, df) // TOCTOU'd invalidate missed it; undo
        }
        df.unpersist(blocking = false)
        attempt += 1
      }
    }
    // Invalidate storm (3 builds each raced by an invalidate): hand the
    // caller a correct, freshly planned frame WITHOUT persisting it —
    // the caller can't know it would have to unpersist, so caching here
    // would leak the blocks; the next call re-attempts installation.
    build
  }

  /** Whether an entry is currently installed (specs assert cache-gate
    * behavior; not a liveness guarantee under concurrent invalidate). */
  def contains(spark: SparkSession, kind: String, dir: String): Boolean =
    tables.containsKey((spark, kind, dir))

  /** Drop one entry (unpersists). Call after rewriting `dir`'s files.
    * Also bumps the key's generation so an in-flight build of the same
    * entry discards its (now stale) result instead of installing it. */
  def invalidate(spark: SparkSession, kind: String, dir: String): Unit = {
    val key = (spark, kind, dir)
    bumpGen(key)
    val df = tables.remove(key)
    if (df != null) df.unpersist(blocking = false)
  }

  /** Drop every entry of `dir` whose kind starts with one of `prefixes` —
    * parameterized kinds (`ngram_pairs@0.2`, `semantic_clusters_0.35`)
    * included, so a caller never has to list each variant it ever built.
    * Walks `locks`, which holds every key ever built or being built, so
    * in-flight builds see their generation bumped like `invalidate`. */
  def invalidatePrefixed(spark: SparkSession, dir: String, prefixes: Seq[String]): Unit =
    locks.keySet().forEach { k =>
      if ((k._1 eq spark) && k._3 == dir && prefixes.exists(k._2.startsWith))
        invalidate(spark, k._2, dir)
    }

  /** Drop every entry of a session (before spark.stop()). */
  def clear(spark: SparkSession): Unit = {
    val it = tables.keySet().iterator()
    while (it.hasNext) {
      val k = it.next()
      if (k._1 eq spark) {
        bumpGen(k) // in-flight builds of this session discard their result
        val df = tables.remove(k)
        if (df != null) {
          // unpersist on an already-stopping context can throw; the map
          // entry removal is the part that must not be skipped
          try df.unpersist(blocking = false) catch { case _: Throwable => }
        }
      }
    }
    // generation counters are deliberately NOT removed here: resetting
    // one to 0 could make an in-flight build that snapshotted 0 see "no
    // change" and re-install into the cleared cache. A Long per distinct
    // (session, kind, dir) ever used is negligible.
  }
}
