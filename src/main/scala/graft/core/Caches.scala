package graft.core

import org.apache.spark.sql.{DataFrame, GraftBridge, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Query-scoped cache registry. Query builders return LAZY plans, so a
  * `.cache()` inside a builder cannot be unpersisted by the builder
  * itself — the materialization happens later, in the driver action
  * (Verify's parquet write, Bench's count, a spec's collect). Left
  * alone, those caches live for the session: across an 81-query
  * battery they accumulate without bound.
  *
  * Discipline: builders register every cache here instead of calling
  * `.cache()` directly; each driver harness calls [[drain]] once the
  * query's action has completed, then asserts the session cache manager
  * is actually empty ([[assertEmpty]]) so an unregistered cache fails
  * fast instead of leaking.
  *
  * Scope: registrations are keyed by the REGISTERING THREAD, and
  * [[drain]] releases only the calling thread's registrations — so two
  * queries built and drained on different threads (parallel spec
  * suites) cannot evict each other's in-flight caches. The invariant this encodes: build → action →
  * drain happen on one thread per query, which is how every harness
  * (`graft.Harness.run` for Verify and Bench; specs)
  * drives queries. A builder that registers on one thread but is
  * drained from another leaks its cache on purpose — the next [[assertEmpty]] trips, surfacing the broken
  * ownership instead of silently cross-evicting. [[assertEmpty]]
  * itself checks the whole session cache manager and therefore belongs
  * ONLY in sequential whole-battery drivers, never between concurrent
  * queries.
  */
object Caches {

  private val live = new java.util.concurrent.ConcurrentHashMap[
    Long, java.util.concurrent.ConcurrentLinkedQueue[DataFrame]]()

  private def queue(): java.util.concurrent.ConcurrentLinkedQueue[DataFrame] =
    live.computeIfAbsent(Thread.currentThread().getId,
      _ => new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]())

  /** `.cache()` + register for the next same-thread [[drain]]. */
  def cached(df: DataFrame): DataFrame = {
    val c = df.cache()
    queue().add(c)
    c
  }

  /** [[cached]] with the partition count first coalesced to the
    * session's default parallelism (narrow — no extra exchange).
    *
    * Why: cached plans are pinned to their physical partitioning when
    * `spark.sql.optimizer.canChangeCachedPlanOutputPartitioning` is
    * false (the engine's default posture), so a small descriptor table
    * cached off a 128-partition exchange makes EVERY consumer stage
    * schedule 128 near-empty tasks. Coalescing to
    * `defaultParallelism` (= cores locally, executor slots on a
    * cluster) keeps one task per slot — scale-adaptive, not a tuned
    * constant.
    *
    * Use ONLY where no consumer reuses the cached frame's hash/range
    * partitioning (a coalesce destroys it); tables whose partitioning
    * feeds a downstream join/window exchange-free stay on [[cached]]. */
  def cachedCompact(df: DataFrame): DataFrame = {
    val slots = df.sparkSession.sparkContext.defaultParallelism
    cached(df.coalesce(math.max(1, slots)))
  }

  /** `.persist(level)` + register for the next same-thread [[drain]]. */
  def persisted(df: DataFrame, level: StorageLevel): DataFrame = {
    val c = df.persist(level)
    queue().add(c)
    c
  }

  /** Unpersist every cache registered BY THIS THREAD since its last
    * drain. Non-blocking: block eviction proceeds asynchronously; the
    * plans are already de-registered from the cache manager
    * synchronously. Entries whose owning session has already stopped
    * (Bench's scaling ladder spins up and tears down whole sessions)
    * are skipped — their cache died with the session. */
  def drain(): Unit = {
    val q = live.remove(Thread.currentThread().getId)
    if (q != null) {
      var d = q.poll()
      while (d != null) {
        try d.unpersist(blocking = false)
        catch { case _: Throwable => () } // session gone — nothing to free
        d = q.poll()
      }
    }
  }

  /** Assert the session holds zero cached plans — call after [[drain]]
    * in SEQUENTIAL whole-battery drivers only (the check is
    * session-wide); trips on any cache that bypassed [[cached]] or was
    * registered on a thread that never drained. */
  def assertEmpty(spark: SparkSession): Unit =
    require(GraftBridge.cacheManagerEmpty(spark),
      "cache manager not empty after drain — an unregistered " +
        ".cache()/persist() leaked past its query")
}
