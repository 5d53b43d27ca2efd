package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** The shingle-based dedup keys' shared core, resident per session and
  * documents fingerprint ([[graft.Resident]]'s dedup client). Four
  * frames, each filled by the first key that needs it and read by every
  * later one:
  *  - [[shingles]]: the distinct 3-token shingle table (doc_id, sh);
  *  - [[sizes]]: the per-document shingle counts (doc_id, n), the
  *    Jaccard denominator over the FULL uncapped shingle set;
  *  - [[signature]]: the 8-min-hash md5 signature (doc_id, h0..h7);
  *  - [[pairs]]: the n-gram pair set at [[StopShingleMaxDf]]
  *    (id_a, id_b, common, jaccard), unordered.
  * q_dedup_minhash(_incremental) and q_dedup_near read the signature and
  * the shingles; q_dedup_ngram, q_dedup_cluster and q_recursive_cte read
  * the pair set. Every frame is input-derived (a pure function of the
  * documents table), never a key's result.
  *
  * Scale shape (SCALE.md): the frames are MEMORY_AND_DISK persisted RDDs
  * outside the SQL cache, each filled in one pass and never collected;
  * the shingle table — several times the corpus — spills as blocks.
  * Shingle-less documents (< 3 tokens) appear in no frame. */
private[graft] object DedupCore {

  /** 3-token shingle array (distinct) over a precomputed `toks` column.
    * The lambda indexes the already-split array — `split(text)[i]` inside
    * a higher-order lambda re-splits the whole doc per element (interpreted,
    * no CSE): O(tokens²·len) per doc (see Analysis.bigramExpr). */
  private def shingleExpr = expr(
    """array_distinct(transform(
      |  slice(toks, 1, greatest(size(toks) - 2, 0)),
      |  (t, i) -> concat(t, ' ', toks[i + 1], ' ', toks[i + 2])))"""
      .stripMargin)

  /** Stop-shingle document-frequency cap: a shingle present in more than
    * this many documents is dropped from the inverted index before
    * candidate generation. This bounds every posting list — and therefore
    * the per-shingle join fan-out (≤ maxDf²/2 pairs per shingle) — which
    * is what keeps the shingle-keyed shuffle skew-free at corpus scale: a
    * boilerplate shingle ("all rights reserved …") in 1% of a 10B-doc
    * corpus would otherwise emit 10^15 pairs on one key. Dropped shingles
    * only shrink `common` (the jaccard numerator; sizes stay exact), so
    * the cap can only lose candidates — the standard stop-shingle
    * recall trade-off. The harness corpus' max doc-frequency is far below
    * this constant, so the oracle result is unchanged (ApproxSpec asserts
    * recall on the constructed near-dups; the cap-trips path is exercised
    * with a tiny maxDf). q_dedup_near caps its min-hash buckets at the
    * same size. The cap is mirrored as a literal `1000` in the
    * q_dedup_ngram / q_dedup_cluster oracle SQL (`kept` CTE, QUALIFY) so
    * engine and oracle compute the same function — keep them in sync. */
  private[graft] val StopShingleMaxDf = 1000L

  private def resident(s: SparkSession, dir: String, kind: String)(
      build: => DataFrame): DataFrame =
    graft.Resident.get(s, s"dedup.$kind", dir,
        graft.Scratch.fingerprint(dir, "documents")) {
      _.persist(build, s"dedup $kind")
    }

  /** The distinct 3-token shingle table (doc_id, sh). The one-row-group
    * scan is spread before the interpreted shingle transform — otherwise
    * the whole tokenize→shingle→explode subtree runs on ONE core (guide
    * §2.5; no-op at scale). */
  def shingles(s: SparkSession, dir: String): DataFrame =
    resident(s, dir, "shingles") {
      Tables.spread(Tables.documents(s, dir)
          .select(col("doc_id"), col("text")))
        .withColumn("toks", split(col("text"), " "))
        .select(col("doc_id"), explode(shingleExpr).as("sh"))
    }

  /** Per-document shingle counts (doc_id, n) over the full shingle set. */
  def sizes(s: SparkSession, dir: String): DataFrame =
    resident(s, dir, "sizes") {
      shingles(s, dir).groupBy("doc_id").agg(count(lit(1)).as("n"))
    }

  /** The 8-min-hash signature (doc_id, h0..h7), h_i = MIN over the doc's
    * shingles of md5("i:" ++ shingle) — md5 hex strings are
    * byte-identical and compare lexicographically the same in Spark and
    * DuckDB, so the signature is a pure deterministic function of the
    * text. ONE doc-keyed aggregate with 8 algebraic MINs: no seed
    * explode, map-side combined, shuffle O(docs × 8 hashes). */
  def signature(s: SparkSession, dir: String): DataFrame =
    resident(s, dir, "signature") {
      shingles(s, dir).groupBy("doc_id").agg(
        min(md5(concat(lit("0:"), col("sh")))).as("h0"),
        (1 to 7).map(i =>
          min(md5(concat(lit(s"$i:"), col("sh")))).as(s"h$i")): _*)
    }

  /** The n-gram pair set at [[StopShingleMaxDf]], unordered: the graph
    * consumers (q_dedup_cluster, q_recursive_cte) feed it into keyed
    * shuffles that destroy order anyway; q_dedup_ngram sorts it. */
  def pairs(s: SparkSession, dir: String): DataFrame =
    resident(s, dir, "pairs") { ngramPairs(s, dir, StopShingleMaxDf) }

  /** Exact n-gram Jaccard pairs ≥ 0.8 (id_a, id_b, common, jaccard) over
    * the resident shingles, parameterized by the stop-shingle cap.
    *
    * Shape (round 6): single-pass posting lists. The shingle table feeds
    * ONE shingle-keyed shuffle that builds each shingle's sorted posting
    * list + document frequency; candidate pairs are then exploded directly
    * from lists with 2 ≤ df ≤ maxDf — no shingle-keyed self-join.
    *
    * Memory: the posting list is built with `collect_bounded(doc_id,
    * maxDf+1)` (functions/BoundedCollect.scala) — a TypedImperativeAggregate
    * whose buffer stops appending at maxDf+1 elements, so worst-case agg
    * memory is maxDf+1 longs per shingle BY CONSTRUCTION even when the true
    * df is 10^8 (boilerplate at corpus scale); `df` comes from the exact
    * count(1) alongside it, and kept lists (df ≤ maxDf < bound) are
    * provably complete. The pair explode is likewise bounded —
    * ≤ maxDf²/2 pairs per shingle — which is exactly the skew guarantee
    * the cap exists to provide. */
  private[graft] def ngramPairs(s: SparkSession, dir: String,
      maxDf: Long): DataFrame = {
    graft.functions.NativeFunctions.register(s)
    val sh = shingles(s, dir)
    // posting list + df per shingle in one aggregation; sorted ascending
    // so exploded pairs (i < j) satisfy id_a < id_b with no least/greatest.
    // The list aggregate's buffer is capped at maxDf+1 ids; exact df from
    // count(1) drives the keep/drop decision, so the cap never alters a
    // kept list — it only stops feeding buffers the filter will discard.
    // bound = maxDf+1 clamped into Int range (callers may pass
    // Long.MaxValue to mean "uncapped"; buffer sizes are JVM-array Ints)
    val bound = math.min(maxDf, Int.MaxValue - 1L) + 1
    val posts = sh.groupBy("sh")
      .agg(expr(s"sort_array(collect_bounded(doc_id, $bound))").as("docs"),
        count(lit(1)).as("df"))
    // ordered pairs from each kept posting list: docs[i] × slice past i,
    // as TWO chained Generate nodes (posexplode → explode(slice)) that
    // run inside whole-stage codegen — a transform/flatten lambda would
    // be interpreted (round 22, guide §1.2 step 2 / §4.1). posexplode's
    // pos is 0-based, slice's start is 1-based: slice(docs, i+2, …)
    // starts at the element AFTER docs[i].
    val pairs = posts
      .filter(col("df") >= 2 && col("df") <= maxDf)
      .select(col("docs"), posexplode(col("docs")).as(Seq("i", "id_a")))
      .select(col("id_a"),
        explode(slice(col("docs"), col("i") + lit(2),
          size(col("docs")))).as("id_b"))
    val common = pairs.groupBy("id_a", "id_b").agg(count(lit(1)).as("common"))
    withSizes(s, dir, common, "id_a", "id_b")
      // floor(x·1e6)/1e6, not round(): jaccard is a rational k/n that can
      // sit exactly on a half-way decimal, where Spark (decimal HALF_UP)
      // and DuckDB (binary round) split (SURVEY §7.4.9)
      .withColumn("jaccard",
        floor(col("common") / col("union") * 1e6) / 1e6)
      .filter(col("jaccard") >= 0.8)
      .select("id_a", "id_b", "common", "jaccard")
  }

  /** Common-shingle counts of candidate pairs (columns `a`, `b`), with
    * the pair's shingle-set union: the shingle equality is pushed into the
    * join condition by Catalyst, so (id, sh) both become hash-join keys —
    * no post-join blow-up. Touches only candidate pairs. */
  def common(s: SparkSession, dir: String, cand: DataFrame, a: String,
      b: String): DataFrame = {
    val sh = shingles(s, dir)
    withSizes(s, dir, cand
      .join(sh.select(col("doc_id").as(a), col("sh").as("sh_a")), a)
      .join(sh.select(col("doc_id").as(b), col("sh").as("sh_b")), b)
      .filter(col("sh_a") === col("sh_b"))
      .groupBy(a, b).agg(count(lit(1)).as("common")), a, b)
  }

  /** `pairs` (a, b, common) with `union` = |sh(a)| + |sh(b)| − common. */
  private def withSizes(s: SparkSession, dir: String, pairs: DataFrame,
      a: String, b: String): DataFrame = {
    val n = sizes(s, dir)
    pairs
      .join(n.select(col("doc_id").as(a), col("n").as("na")), a)
      .join(n.select(col("doc_id").as(b), col("n").as("nb")), b)
      .withColumn("union", col("na") + col("nb") - col("common"))
  }
}
