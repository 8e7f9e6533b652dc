package graft

import org.apache.spark.sql.DataFrame

/** Working-set caches scoped to one query, so a driver program can
  * release them once the consuming action finishes. A cache here serves
  * multiple consumers within ONE query's DAG (column pruning specializes
  * the aggregate per consumer, so ReuseExchange can't dedupe them) — it
  * has no value after the action, and across a 90-entry Verify/Bench
  * sweep unreleased caches accumulate into real memory pressure. Users:
  * the pair and index operators (dedup, similarity, text, monitoring),
  * the engine, and the multi-stage entries; [[release]] after each
  * materialized query.
  *
  * Thread-local: a multi-tenant driver running concurrent queries must
  * not have one request's release() unpersist another's still-in-flight
  * cache (register and release happen on the caller's thread; Spark
  * actions the frame fans out to don't touch this). */
object ScopedCache {

  private val scoped =
    ThreadLocal.withInitial[java.util.ArrayDeque[DataFrame]](
      () => new java.util.ArrayDeque[DataFrame]())

  /** Cache `df` for the duration of the current query, registered for
    * [[release]]. */
  def cache(df: DataFrame): DataFrame = {
    val cached = df.cache()
    scoped.get().add(cached)
    cached
  }

  /** Unpersist every cache registered ON THIS THREAD since the last
    * call (non-blocking). Safe to call at any time: released frames
    * recompute.
    *
    * CONTRACT: [[cache]] and [[release]] must pair on the SAME thread —
    * a cache registered on a pool thread can never be released from the
    * main thread, and the per-thread registry would pin the frame for
    * the pool thread's lifetime. A driver dispatching queries to a
    * thread pool must run each query's build → action → release()
    * sequence entirely on one pool thread (Verify and Bench do:
    * single-threaded sweep, release after every entry). */
  def release(): Unit = {
    val q = scoped.get()
    var df = q.poll()
    while (df != null) { df.unpersist(false); df = q.poll() }
  }
}
