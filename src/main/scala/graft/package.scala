package object graft {
  /** A declared operator query: (session, sf-dir) => result.
    * The driver hash-compares the result against `oracleSql` run by DuckDB
    * over the same parquet (SURVEY §0 "verification contract").
    *
    * Cache-ownership contract: a query fn owns every plan it caches and
    * must leave `spark.sharedState.cacheManager` empty once its result has
    * been consumed — either `unpersist()` on its own exit path (when the
    * returned plan no longer references the cached one) or
    * `localCheckpoint(eager = true)` instead of `cache()` (when it does;
    * checkpoint blocks live outside the SQL cache and are reclaimed by the
    * ContextCleaner when the plan is dropped). Rationale: 95 queries run
    * in one session under Verify/Bench — leaked cache entries accumulate
    * into a GC benchmark (VERDICT r3 "what's wrong" #3). Enforced by
    * PlanSpec's cache-hygiene test.
    *
    * One sanctioned exception keeps data across calls: [[Resident]].
    * It may hold only intermediates DERIVED FROM AN INPUT TABLE and keyed
    * by that input's fingerprint — the normalized embedding corpus, the
    * IVF-PQ serving state read back from a persisted artifact, the LSH
    * model and hashed corpus; the documents' shingle table, shingle
    * counts, md5 min-hash signature and capped n-gram pair set. A key's
    * returned DataFrame (its result) is never held, and neither is
    * anything derived from a query set. Its data are persisted RDDs,
    * not SQL-cache entries (so the SQL cache still ends empty), keyed by
    * [[sessionKey]] plus the input fingerprint (plus the artifact's
    * build id for index state); a new fingerprint or build supersedes
    * and unpersists the old entry, and application end evicts the app's
    * entries through [[SessionCaches]]. PlanSpec's hygiene list covers
    * the retrieval and dedup keys that use it.
    */
  type Q = (org.apache.spark.sql.SparkSession, String) =>
    org.apache.spark.sql.DataFrame

  /** Stable cache key for per-session memoization (broadcast configs,
    * derived sessions): app id + session identity. Query fns are invoked
    * repeatedly with the same session under Verify/Bench — identity
    * keying lets them reuse session-scoped state without assuming any
    * particular SparkSession API for session ids. */
  def sessionKey(s: org.apache.spark.sql.SparkSession): String =
    s.sparkContext.applicationId + "@" +
      Integer.toHexString(System.identityHashCode(s))
}
