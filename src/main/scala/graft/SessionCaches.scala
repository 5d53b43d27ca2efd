package graft

import java.util.concurrent.{ConcurrentHashMap, CopyOnWriteArrayList}

import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.SparkSession

/** Registry for static per-session caches (broadcast Hadoop confs, CBO
  * child sessions, layout-ready markers, resident input state) so
  * they are EVICTED when the owning SparkContext stops, instead of
  * accumulating forever in a long-lived JVM (test suites and repeated
  * bench invocations share one JVM — round-9 advice). Every such cache
  * keys its entries by [[graft.sessionKey]] (or a sessionKey-prefixed
  * string), which starts with the application id — so one
  * ApplicationEnd listener per app can sweep every registered cache by
  * key prefix.
  *
  * Exactly one registered cache holds DATA rather than handles:
  * [[graft.Resident]], the sanctioned exception to Q's cache-ownership
  * contract (graft/package.scala). It holds only intermediates derived
  * from an input table and keyed by that input's fingerprint (retrieval:
  * normalized corpus, IVF-PQ serving state, LSH model + hashed corpus;
  * dedup: shingle table, shingle counts, min-hash signature, capped
  * n-gram pair set) as persisted RDDs outside the SQL cache, keyed by
  * `sessionKey/kind/dir/stamp` (input fingerprint, plus the artifact
  * build id for index state); a refill of a key unpersists the entry it
  * supersedes, and this sweep drops the app's entries at application
  * end. It never holds a key's result or anything derived from a query
  * set.
  */
object SessionCaches {

  private val caches = new CopyOnWriteArrayList[ConcurrentHashMap[String, _]]()
  private val hooked = ConcurrentHashMap.newKeySet[String]()

  /** Register `cache` for eviction and install (once per application) the
    * stop listener that sweeps its entries. Call at every cache use —
    * idempotent and lock-free on the hot path. */
  def evictOnStop(s: SparkSession,
      cache: ConcurrentHashMap[String, _]): Unit = {
    if (!caches.contains(cache)) caches.addIfAbsent(cache)
    val appId = s.sparkContext.applicationId
    if (hooked.add(appId)) {
      s.sparkContext.addSparkListener(new SparkListener {
        override def onApplicationEnd(
            end: SparkListenerApplicationEnd): Unit = {
          val prefix = appId + "@"
          caches.forEach { c =>
            c.keySet.removeIf(
              (k: String) => k.startsWith(prefix))
          }
          hooked.remove(appId)
        }
      })
    }
  }

  /** Entries that registered caches still hold for application `appId`. */
  private[graft] def held(appId: String): Int = {
    var n = 0
    caches.forEach(_.keySet.forEach { k =>
      if (k.startsWith(appId + "@")) n += 1
    })
    n
  }
}
