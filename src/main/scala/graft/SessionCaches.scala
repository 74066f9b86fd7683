package graft

import org.apache.spark.sql.SparkSession

/** A (session, dir)-keyed cache — the one implementation every
  * session-scoped cache in the engine is an instance of; grep
  * `new SessionCache` for the list. `K` refines the key within a
  * (session, dir): a table name, a flag, model parameters, or `Unit`.
  *
  * Lifecycle: an entry lives until [[evict]] drops its (session, dir),
  * which calls `release` on each dropped value (`unpersist` for the
  * persisted-DataFrame caches, a no-op for driver metadata). Dirs are
  * assumed immutable for a session's lifetime; a caller that rewrites
  * one in place must evict it. A long-lived service touching many dirs
  * must evict finished ones, or pinned blocks accumulate.
  *
  * Stopped sessions: a long-lived JVM that creates and stops sessions —
  * or the shared test JVM — must not pin dead sessions' entries
  * forever, so a miss first drops every entry whose session is stopped
  * (see [[SessionCaches.getOrBuildWhere]]). Those are dropped WITHOUT
  * `release`: a stopped SparkContext has already torn down its block
  * manager, so `unpersist()` on the dead plan would at best no-op and
  * at worst throw into the purge loop.
  *
  * Two instances never share a map, so one cache's build may read
  * another cache; a build must not read its own cache
  * (`computeIfAbsent` throws "Recursive update").
  */
final class SessionCache[K, V](release: V => Unit) {

  private val map = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String, K), V]

  def apply(s: SparkSession, d: String, k: K)(build: => V): V =
    SessionCaches.getOrBuildWhere(map, (s, d, k),
      (key: (SparkSession, String, K)) => key._1.sparkContext.isStopped)(
      build)

  /** Drop every entry of (`s`, `d`), releasing each one once. */
  def evict(s: SparkSession, d: String): Unit = {
    val it = map.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val (ks, kd, _) = e.getKey
      if (ks == s && kd == d && map.remove(e.getKey, e.getValue))
        release(e.getValue)
    }
  }
}

private[graft] object SessionCaches {

  /** Cache lookup with the stopped-session purge on the miss path —
    * the seam SessionCachesSpec pins the purge through, with an
    * explicit deadness predicate (a JVM holds ONE SparkContext, so a
    * live-plus-stopped session pair cannot exist in the test JVM).
    *
    * The purge runs on the MISS path only (the hit path stays a single
    * `get`) and BEFORE `computeIfAbsent`, outside its mapping function:
    * the CHM contract forbids the mapping function from mutating the
    * map (a removal landing in the bin being computed can corrupt it).
    */
  private[graft] def getOrBuildWhere[K, V](
      cache: java.util.concurrent.ConcurrentHashMap[K, V],
      key: K, dead: K => Boolean)(build: => V): V = {
    val hit = cache.get(key)
    if (hit != null) hit
    else {
      val it = cache.keySet().iterator()
      while (it.hasNext)
        if (dead(it.next())) it.remove()
      cache.computeIfAbsent(key, { _: K => build })
    }
  }
}
