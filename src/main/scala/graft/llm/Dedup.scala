package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Q, Tables}

/** Corpus analysis + deduplication (SURVEY §2.10) — the operators a
  * large-scale training-data pipeline runs over raw document tables.
  *
  * Scale notes (100 TB posture):
  *  - q_dedup_exact is the canonical shape: group on a content hash
  *    (sha256), keep min doc_id. The shuffle is keyed by hash — uniform by
  *    construction (no skew), volume O(distinct docs), never a window over
  *    everything and never a driver-side collect.
  *  - q_dedup_near is MinHash+LSH on the resident md5 core
  *    ([[DedupCore]]): 8 single-row bands over the min-hash signature →
  *    candidate pairs via a hash-keyed bucket self-join (buckets capped
  *    at StopShingleMaxDf) → exact Jaccard filter over the resident
  *    shingles. Cost is O(candidates), not O(n²); hashes are md5, so
  *    results are deterministic.
  */
object Dedup {

  /** q_text_stats — per (lang, source): corpus size, char-length stats,
    * token stats, and type-token ratio. Two partial aggregates (doc-level
    * and token-level) joined on the group key — both map-side combined. */
  def qTextStats(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    // ratio outputs (avg of ints, k/n) use floor(x·1e6)/1e6, not round():
    // rationals can sit exactly on a half-way decimal where Spark
    // (decimal HALF_UP) and DuckDB (binary round) split (SURVEY §7.4.9)
    val docStats = docs.groupBy("lang", "source").agg(
      count(lit(1)).as("n_docs"),
      (floor(avg("n_chars") * 1e6) / 1e6).as("avg_chars"),
      min("n_chars").as("min_chars"),
      max("n_chars").as("max_chars"))
    val tokStats = docs
      .select(col("lang"), col("source"),
        explode(split(col("text"), " ")).as("token"))
      .groupBy("lang", "source").agg(
        count(lit(1)).as("n_tokens"),
        countDistinct(col("token")).as("n_types"))
      .select(col("lang"), col("source"), col("n_tokens"),
        (floor(col("n_types") / col("n_tokens") * 1e6) / 1e6).as("ttr"))
    docStats.join(tokStats, Seq("lang", "source"))
      .orderBy("lang", "source")
  }

  /** q_dedup_exact — canonical doc per content hash: keep min doc_id,
    * count duplicates. */
  def qDedupExact(s: SparkSession, dir: String): DataFrame =
    // NOT spread (round 22): per-doc sha256 is cheap enough that the
    // extra exchange's 32-task scheduling overhead costs more than the
    // serial hash at sf0.1 (measured 0.36 → 0.72 s min-of-3) — the
    // map-side partial agg keeps the shuffle tiny either way
    Tables.documents(s, dir)
      .select(col("doc_id"), sha2(col("text"), 256).as("h"))
      .groupBy("h")
      .agg(min(col("doc_id")).as("keeper_id"),
        count(lit(1)).as("dup_count"))
      .select("keeper_id", "h", "dup_count")
      .orderBy("keeper_id")

  /** q_dedup_near — MinHash-LSH near-duplicate pairs with Jaccard ≥ 0.8
    * over distinct 3-token shingle sets. Unigram sets are useless on a
    * small vocabulary (nearly all pairs collide); 3-gram shingles separate
    * the corpus's constructed near-dups (Jaccard ≈ 0.99) from everything
    * else (< 0.2).
    *
    * Built on the md5 core q_dedup_minhash shares ([[DedupCore]]): the
    * 8 min-hashes of the resident signature are 8 single-row bands, so a
    * pair is a candidate when any one min-hash agrees — P(candidate) =
    * 1−(1−j)⁸ (≈ 0.999997 at j = 0.8, against q_dedup_minhash's 4×2
    * banding at 0.98). Candidates pass the exact filter
    * 5·common ≥ 4·union (Jaccard ≥ 0.8 in integers) over the resident
    * shingles, and `jaccard` is the exact round(common/union, 6). No
    * oracle; ApproxSpec pins the pair set to the exact-Jaccard truth and
    * to q_dedup_ngram's. */
  def qDedupNear(s: SparkSession, dir: String): DataFrame =
    nearDupPairs(s, dir, DedupCore.StopShingleMaxDf).orderBy("id_a", "id_b")

  /** [[qDedupNear]]'s candidate pairs (id_a < id_b, distinct): docs that
    * share a (band, min-hash) bucket. A bucket with more than `maxDf`
    * documents is dropped, as the n-gram index drops long posting lists
    * ([[DedupCore.StopShingleMaxDf]]), which bounds the self-join's
    * per-bucket fan-out; singleton buckets are dropped before the join.
    * The bucket size is a window partitioned by the self-join's own
    * (b, h) key, and the self-join is a hash join on that primitive
    * (int, string) key — PlanSpec pins it. */
  private[graft] def nearDupCandidates(s: SparkSession, dir: String,
      maxDf: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bands = DedupCore.signature(s, dir)
      .select(col("doc_id"),
        posexplode(array((0 to 7).map(i => col(s"h$i")): _*))
          .as(Seq("b", "h")))
      .withColumn("df", count(lit(1)).over(Window.partitionBy("b", "h")))
      .filter(col("df") >= 2 && col("df") <= maxDf)
      .select("doc_id", "b", "h")
    bands.as("x")
      .join(bands.as("y").hint("shuffle_hash"),
        col("x.b") === col("y.b") && col("x.h") === col("y.h") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"))
      .distinct()
  }

  /** [[qDedupNear]]'s pairs under bucket cap `maxDf`, unordered. */
  private[graft] def nearDupPairs(s: SparkSession, dir: String,
      maxDf: Long): DataFrame =
    DedupCore.common(s, dir, nearDupCandidates(s, dir, maxDf), "id_a", "id_b")
      .filter(lit(5) * col("common") >= lit(4) * col("union"))
      .select(col("id_a"), col("id_b"),
        round(col("common") / col("union"), 6).as("jaccard"))

  val queries: Map[String, Q] = Map(
    "q_text_stats" -> (qTextStats _),
    "q_dedup_exact" -> (qDedupExact _),
    "q_dedup_near" -> (qDedupNear _))

  val oracle: Map[String, String] = Map(
    "q_text_stats" ->
      """WITH doc_stats AS (
        |  SELECT lang, source, COUNT(*) AS n_docs,
        |    floor(AVG(n_chars) * 1e6) / 1e6 AS avg_chars,
        |    MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars
        |  FROM documents GROUP BY lang, source),
        |tok AS (
        |  SELECT lang, source, COUNT(*) AS n_tokens,
        |    floor(COUNT(DISTINCT token) * 1.0 / COUNT(*) * 1e6) / 1e6 AS ttr
        |  FROM (SELECT lang, source, unnest(string_split(text, ' ')) AS token
        |        FROM documents)
        |  GROUP BY lang, source)
        |SELECT lang, source, n_docs, avg_chars, min_chars, max_chars,
        |  n_tokens, ttr
        |FROM doc_stats JOIN tok USING (lang, source)
        |ORDER BY lang, source""".stripMargin,
    "q_dedup_exact" ->
      """SELECT MIN(doc_id) AS keeper_id, sha256(text) AS h,
        |  COUNT(*) AS dup_count
        |FROM documents
        |GROUP BY sha256(text)
        |ORDER BY keeper_id""".stripMargin)
}
