package graft

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Session-resident input state: the ONE sanctioned holder of state
  * across query-fn calls under Q's cache-ownership contract
  * (graft/package.scala).
  *
  * What it may hold: intermediates DERIVED FROM AN INPUT TABLE and keyed
  * by that input's fingerprint, which a key would otherwise rebuild per
  * call. Two clients use it:
  *  - retrieval (llm.Similarity): the normalized embedding corpus, the
  *    IVF-PQ serving state read back from a persisted artifact
  *    (quantizers on the driver, ~20 KB; postings on executors), the LSH
  *    model and the hashed corpus;
  *  - dedup (llm.DedupCore): the distinct 3-token shingle table, the
  *    per-document shingle counts, the 8-min-hash md5 signature and the
  *    capped n-gram pair set of the documents corpus.
  * Never a key's result, and never anything derived from a query set:
  * every request selects its queries, probes, ADC tables and hashes
  * afresh.
  *
  * Key: `sessionKey/kind/dir/stamp`, where the stamp is the input's
  * fingerprint (plus the artifact's build id for index state). Data
  * rows are persisted RDDs (MEMORY_AND_DISK, lineage kept) outside the
  * SQL CacheManager, so `clearCache()` leaves them alone and a lost
  * block recomputes from its source.
  *
  * Eviction: filling a key releases (unpersists) every other entry of
  * the same `sessionKey/kind/dir` — a regenerated input or a rebuilt
  * artifact supersedes its predecessor, so at most one entry per
  * (session, kind, dir) is live. An entry whose blocks were unpersisted
  * from outside is refilled on its next use. Application end drops the
  * app's entries ([[graft.SessionCaches]]). */
private[graft] object Resident {

  private final class Entry(val value: AnyRef, rdds: Seq[RDD[_]]) {
    def live: Boolean = rdds.forall(_.getStorageLevel != StorageLevel.NONE)
    def release(): Unit = rdds.foreach(_.unpersist(blocking = false))
  }

  private val entries = new ConcurrentHashMap[String, Entry]()

  /** Persists frames for one entry while it is being filled. */
  final class Fill private[Resident] {
    private[Resident] val rdds =
      scala.collection.mutable.ArrayBuffer[RDD[_]]()

    /** `df` materialized as resident blocks (one job, at fill time). */
    def persist(df: DataFrame, what: String): DataFrame = {
      val (frame, rdd) = org.apache.spark.sql.graft.PlanBridge
        .persisted(df, StorageLevel.MEMORY_AND_DISK)
      rdds += rdd.setName(s"graft.resident $what")
      rdd.count(): Unit
      frame
    }
  }

  /** The live entry for (session, kind, dir, stamp), filled on a miss. */
  def get[T <: AnyRef](s: SparkSession, kind: String, dir: String,
      stamp: String)(fill: Fill => T): T = {
    graft.SessionCaches.evictOnStop(s, entries)
    val scope = s"${graft.sessionKey(s)}/$kind/$dir/"
    def hit = Option(entries.get(scope + stamp)).filter(_.live)
    hit.getOrElse(synchronized {
      hit.getOrElse {
        entries.keySet.asScala.filter(_.startsWith(scope)).foreach { k =>
          Option(entries.remove(k)).foreach(_.release())
        }
        val f = new Fill
        val value =
          try fill(f)
          catch { case e: Throwable => f.rdds.foreach(_.unpersist()); throw e }
        val e = new Entry(value, f.rdds.toSeq)
        entries.put(scope + stamp, e)
        e
      }
    }).value.asInstanceOf[T]
  }
}
