package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Q, Tables}

/** Data-governance operators for training-data pipelines (SURVEY §2.13,
  * round 6): benchmark decontamination, PII redaction, temperature-based
  * language rebalancing, and deterministic shard assignment — the four
  * curation steps a 100 TB pretraining pipeline runs between dedup and
  * packing that the engine did not yet cover.
  *
  * Scale notes (100 TB posture):
  *  - q_decontam_ngram joins the corpus' exploded 8-gram stream against a
  *    BROADCAST eval-gram set: benchmark suites are ≪ the corpus (KBs-MBs
  *    of distinct grams vs TBs of text), so the contamination check is one
  *    map-side hash probe per gram — the training-side explode is
  *    evaluated ONCE (single left-join + doc-keyed aggregate; no
  *    gram-keyed shuffle at all, unlike the dedup inverted index which
  *    must shuffle because both sides are large). The eval side here is
  *    carved from `documents` by id; in production it is its own tiny
  *    benchmark table.
  *  - q_text_redact is a pure projection (regex codegen'd per row, no
  *    shuffle); output carries an md5 of the redacted text, not the text,
  *    so the result stays narrow.
  *  - q_sample_temperature needs one tiny aggregate (per-language counts —
  *    5 rows here, O(langs) anywhere) broadcast back; acceptance is a
  *    deterministic per-row hash test, so the sample is reproducible
  *    across runs/engines and the whole operator is scan + broadcast
  *    probe, no corpus shuffle.
  *  - q_shard_assign is one keyed partial aggregate over n_shards keys —
  *    the manifest a training loader consumes for a deterministic global
  *    shuffle. Shards come from the md5-derived h32 (engine-portable),
  *    not Spark's hash() (SURVEY §7.4.12).
  *
  * Determinism: uniform deviates u ∈ [0,1) derive from the shared md5
  * idiom h32(doc_id)/2^32 (§7.4.12); acceptance thresholds use pow(), an
  * irrational-valued function safely comparable across engines (§7.4.9) —
  * verified: the closest |u − a| gap on the harness corpus is ~9e-5,
  * astronomically wider than any pow() last-ulp divergence.
  */
object Governance {

  /** Distinct 8-token grams over a pre-split `toks` array. The lambda
    * slices the ALREADY-SPLIT array (cheap array copy) — never re-split
    * text inside a higher-order lambda (see Analysis.bigramExpr). W=8:
    * long enough that the 31-word synthetic vocabulary cannot collide by
    * chance (the observed overlaps are the constructed near-dups), short
    * enough that every harness doc (min 10 tokens) emits grams. */
  private def gram8Expr = expr(
    """array_distinct(transform(
      |  slice(toks, 1, greatest(size(toks) - 7, 0)),
      |  (t, i) -> concat_ws(' ', slice(toks, i + 1, 8))))""".stripMargin)

  /** Engine-portable h32 of a column (SURVEY §7.4.12 md5 idiom). */
  private def h32(colName: String) =
    expr(s"cast(conv(substring(md5(cast($colName as string)), 1, 8)," +
      " 16, 10) as bigint)")

  /** Engine-portable uniform deviate in [0,1) from a bigint key column. */
  private def u01(colName: String) = h32(colName) / lit(4294967296.0)

  /** q_decontam_ngram — benchmark decontamination: flag training docs
    * sharing any 8-token gram with the held-out eval slice (doc_id % 10
    * = 0 stands in for a benchmark suite). Emits per-contaminated-doc
    * overlap counts + floor-truncated hit ratio — the report a pipeline
    * uses to drop (or audit) leaked documents before training. */
  def qDecontamNgram(s: SparkSession, dir: String): DataFrame = {
    // spread: the interpreted 8-gram transform is evaluated by BOTH the
    // eval-set and training-side consumers above an unsplittable
    // one-task scan (round 22, guide §2.5; no-op at scale)
    val g = Tables.spread(Tables.documents(s, dir)
        .select(col("doc_id"), col("text")))
      .withColumn("toks", split(col("text"), " "))
      .select(col("doc_id"), explode(gram8Expr).as("g"))
    val ev = g.filter(col("doc_id") % 10 === 0)
      .select("g").distinct().withColumn("hit", lit(1))
    // single pass over the training-side explode: left join against the
    // broadcast eval set marks hits, one doc-keyed aggregate counts both
    // totals and hits (count(col) skips nulls)
    g.filter(col("doc_id") % 10 =!= 0)
      .join(broadcast(ev), Seq("g"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"), count(col("hit")).as("n_hit"))
      .filter(col("n_hit") > 0)
      .withColumn("hit_ratio",
        floor(col("n_hit") * lit(1e6) / col("n_grams")) / lit(1e6))
      .select("doc_id", "n_hit", "n_grams", "hit_ratio")
      .orderBy("doc_id")
  }

  /** q_text_redact — PII redaction: scrub emails and phone-shaped numbers,
    * report per-doc match counts and the md5 of the scrubbed text. The
    * harness corpus is synthetic (no real PII), so deterministic fake PII
    * is appended per doc — the regex machinery, counts, and replacement
    * are the production operator; patterns stay in the Java∩RE2 common
    * subset (SURVEY §7.4.4). */
  def qTextRedact(s: SparkSession, dir: String): DataFrame = {
    val emailRe = "[a-z0-9]+@[a-z]+\\.[a-z]+"
    val phoneRe = "[0-9]{3}-[0-9]{4}"
    Tables.documents(s, dir)
      .withColumn("pii_text", concat(
        col("text"), lit(" contact user"), col("doc_id").cast("string"),
        lit("@example.com or 555-"),
        lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
      .select(col("doc_id"),
        size(regexp_extract_all(col("pii_text"), lit(emailRe), lit(0)))
          .as("n_emails"),
        size(regexp_extract_all(col("pii_text"), lit(phoneRe), lit(0)))
          .as("n_phones"),
        md5(regexp_replace(
          regexp_replace(col("pii_text"), emailRe, "<EMAIL>"),
          phoneRe, "<PHONE>")).as("redacted_md5"))
      .orderBy("doc_id")
  }

  /** q_sample_temperature — multilingual temperature rebalancing (α = 0.7):
    * keep language l with probability a_l = (n_min/n_l)^(1−α), the
    * downsample-only acceptance that realizes p_l ∝ (n_l/N)^α without
    * upsampling — the standard mixing step before multilingual training.
    * Acceptance is the deterministic per-doc hash test u(doc_id) < a_l,
    * so the sample is exact-reproducible on any engine/cluster. */
  def qSampleTemperature(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, dir)
    // n_min via a 1-partition window over the O(langs)-row aggregate — NOT
    // a crossJoin(broadcast(lc.agg(min))), which would re-scan the corpus
    // for a second language-count aggregation
    // constant-valued but NON-foldable partition key: a foldable literal
    // is optimized away, leaving an empty partition spec and the
    // WindowExec single-partition warning (round-10 verdict wart #3);
    // the window stays bounded by construction at O(langs) rows
    val rates = docs.groupBy("lang").agg(count(lit(1)).as("n"))
      .withColumn("a", pow(
        min("n").over(Window.partitionBy(substring(col("lang"), 0, 0)))
          .cast("double") / col("n"),
        0.3))
      .select("lang", "a")
    docs.select(col("doc_id"), col("lang"))
      .join(broadcast(rates), "lang")
      .filter(u01("doc_id") < col("a"))
      .select(col("doc_id"), col("lang"),
        (floor(col("a") * lit(1e6)) / lit(1e6)).as("accept_rate"))
      .orderBy("doc_id")
  }

  /** q_shard_assign — deterministic training-shard manifest: every doc
    * hashes to one of 16 shards via the engine-portable h32; emits
    * per-shard doc/token totals and id bounds (what a loader consumes to
    * plan a deterministic global shuffle). */
  def qShardAssign(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"),
        size(split(col("text"), " ")).as("tok"),
        (h32("doc_id") % 16).as("shard"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"),
        sum("tok").as("total_tokens"),
        min("doc_id").as("first_doc"),
        max("doc_id").as("last_doc"))
      .orderBy("shard")

  /** q_mix_entropy — data-mix diagnostics (round 7): per-source Shannon
    * entropy of the language distribution, the report a pipeline watches
    * to catch a source collapsing to one language (entropy → 0) or a mix
    * drifting after a recrawl. One keyed aggregate over (source, lang) —
    * O(sources × langs) rows — then a per-source window for the shares;
    * nothing corpus-sized shuffles twice. Entropy is floor-truncated at
    * 1e-6 (§7.4.9): the terms are irrational (-p·ln p, ln exact only at
    * p = 1, where the term is exactly 0 in both engines), so engine
    * last-ulp sum differences cannot straddle a truncation boundary —
    * measured: the closest entropy×1e6 sits 2.4e-8 from a boundary
    * across all three sf dirs, ~10^7 × wider than double sum noise. */
  def qMixEntropy(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("source")
    Tables.documents(s, dir)
      .groupBy("source", "lang").agg(count(lit(1)).as("n"))
      .withColumn("p", col("n") / sum("n").over(w))
      .groupBy("source")
      .agg(count(lit(1)).as("n_langs"),
        sum("n").as("n_docs"),
        (floor(sum(-col("p") * log(col("p"))) * lit(1e6)) / lit(1e6))
          .as("lang_entropy"))
      .orderBy("source")
  }

  /** q_split_hash — deterministic train/val/test split (round 7): each doc
    * lands in a split by its engine-portable hash bucket (h32 % 100 →
    * 90/5/5), so membership is a pure function of doc_id — stable under
    * re-runs, re-shards, engine swaps, and corpus growth (new docs never
    * move old ones, unlike any rank- or sample-based split). Emits the
    * per-(split, lang) manifest a pipeline audits for stratification
    * drift. Scale shape: one scan, one O(splits × langs)-key aggregate. */
  def qSplitHash(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"),
        size(split(col("text"), " ")).as("tok"),
        (h32("doc_id") % 100).as("b"))
      .withColumn("split",
        when(col("b") < 90, "train").when(col("b") < 95, "val")
          .otherwise("test"))
      .groupBy("split", "lang")
      .agg(count(lit(1)).as("n_docs"), sum("tok").as("total_tokens"),
        min("doc_id").as("first_doc"), max("doc_id").as("last_doc"))
      .orderBy("split", "lang")

  /** q_decontam_embed — embedding-space benchmark decontamination: the
    * semantic complement of q_decontam_ngram (paraphrased leaks share no
    * 8-gram but sit close in embedding space). Training vectors flagged
    * when cosine ≥ 0.3 to ANY held-out eval vector (vec_id%10=0 stands in
    * for the benchmark suite), with hit count + max similarity per
    * offender. Scale shape: the eval set is benchmark-sized — BROADCAST —
    * so the corpus side is one scan with a per-row probe (same posture as
    * q_anomaly_zscore); the codegen'd array_dot keeps the n_train×n_eval
    * probe loop tight; at larger eval sets the IVF bucketing of
    * q_dedup_embed_bucketed slots in front unchanged. */
  def qDecontamEmbed(s: SparkSession, dir: String): DataFrame = {
    graft.functions.NativeFunctions.register(s)
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id"),
        col("embedding").cast("array<double>").as("emb"))
      .withColumn("nrm",
        sqrt(call_function("array_dot", col("emb"), col("emb"))))
    val eval = e.filter(pmod(col("vec_id"), lit(10)) === 0)
      .select(col("vec_id").as("e_id"), col("emb").as("e_emb"),
        col("nrm").as("e_nrm"))
    e.filter(pmod(col("vec_id"), lit(10)) =!= 0)
      .crossJoin(broadcast(eval))
      .withColumn("cos", round(
        call_function("array_dot", col("emb"), col("e_emb")) /
          (col("nrm") * col("e_nrm")), 6))
      .filter(col("cos") >= 0.3)
      .groupBy("vec_id")
      .agg(count(lit(1)).as("n_eval_hits"), max("cos").as("max_cos"))
      .orderBy("vec_id")
  }

  /** q_quality_unigram_lp — unigram language-model quality proxy (the
    * CCNet-style LM filter without the external LM): per doc, the mean
    * token surprisal −ln p(t) under the corpus's own unigram
    * distribution; outliers are gibberish (high) or degenerate repetition
    * (low). Two keyed aggregates: vocabulary counts (map-side combined,
    * shuffle bounded by distinct tokens) and the per-doc mean after a
    * token-keyed join; the token table is checkpointed once for its two
    * consumers. Surprisal is irrational (ln) → 1e-6 floor is ulp-safe
    * (SURVEY §7.4.9). */
  def qQualityUnigramLp(s: SparkSession, dir: String): DataFrame = {
    val tok = Tables.documents(s, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .localCheckpoint(true)
    val vocab = tok.groupBy("tok").agg(count(lit(1)).as("c"))
    val total = tok.agg(count(lit(1)).as("n_corpus"))
    tok.join(vocab, "tok")
      .crossJoin(broadcast(total))
      .select(col("doc_id"),
        (log(col("n_corpus")) - log(col("c"))).as("surprisal"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        (floor(avg("surprisal") * 1e6) / 1e6).as("mean_surprisal"))
      .orderBy("doc_id")
  }

  /** q_delete_propagate — right-to-be-forgotten cascade audit
    * (round 13): given a bounded deletion-request manifest (customers
    * with c_custkey % 97 == 0 — in production, the keys arriving on the
    * privacy queue), propagate the deletion through the key graph —
    * requests name CUSTOMERS, but their rows live on in orders keyed by
    * o_custkey and in lineitem keyed only TRANSITIVELY via o_orderkey —
    * and emit the per-table audit (rows_before / rows_deleted /
    * rows_after) a compliance sweep signs off before any file is
    * rewritten.
    *
    * Scale shape: the request manifest is bounded by privacy-queue
    * volume (≪ corpus), so every hop is a BROADCAST probe on a fact
    * scan — customer and orders are each audited in ONE scan with a
    * broadcast left join (key-unique build side: no fan-out, no
    * shuffle); the customer→orders hop materializes the deleted-order
    * key manifest (left_semi, checkpointed — bounded by requests ×
    * orders-per-customer), which then audits lineitem the same way. At
    * 100 TB the counts here are the PLAN of the delete; the delete
    * itself is a rewrite of only the affected files (partitioned /
    * compacted layouts, q_write_compact) — audit first, rewrite once.
    * Oracle recomputes all three audits with IN-subqueries. */
  def qDeletePropagate(s: SparkSession, dir: String): DataFrame = {
    val del = Tables.customer(s, dir)
      .filter(col("c_custkey") % 97 === 0)
      .select(col("c_custkey").as("k"))
      .localCheckpoint(true)
    val delOrders = Tables.orders(s, dir)
      .join(broadcast(del), col("o_custkey") === col("k"), "left_semi")
      .select(col("o_orderkey").as("k"))
      .localCheckpoint(true)
    def audit(tbl: String, df: DataFrame, keyCol: String,
        keys: DataFrame): DataFrame =
      df.join(broadcast(keys), col(keyCol) === col("k"), "left")
        .agg(count(lit(1)).as("rows_before"),
          coalesce(sum(col("k").isNotNull.cast("long")), lit(0L))
            .as("rows_deleted"))
        .select(lit(tbl).as("tbl"), col("rows_before"), col("rows_deleted"),
          (col("rows_before") - col("rows_deleted")).as("rows_after"))
    audit("customer", Tables.customer(s, dir), "c_custkey", del)
      .unionByName(audit("orders", Tables.orders(s, dir), "o_custkey", del))
      .unionByName(
        audit("lineitem", Tables.lineitem(s, dir), "l_orderkey", delOrders))
      .orderBy("tbl")
  }

  /** Output file count for [[qDeleteExecute]]'s ownership-clustered
    * layouts. 64 files keeps the affected fraction visibly small at every
    * harness SF (deletion requests touch ~1% of owners → ≲15 of 64
    * files); production sizes files by bytes like q_write_compact. */
  private[graft] val DeleteLayoutFiles = 64

  /** Hardlink the pristine layout's parquet parts into a TxTable's data
    * dir — the per-invocation v1 snapshot [[qDeleteExecute]] deletes
    * from, so every invocation (bench re-runs included) starts from the
    * pristine layout and times a REAL rewrite instead of a converged
    * no-op (VERDICT r15 item 2). Hardlinks are sound because the commit
    * protocol never modifies a data file in place — a rewrite commit only
    * stops LISTING its victims — so the pristine copy's bytes are
    * untouchable through the table. Cost is O(files) metadata ops, the
    * same O(1)-data snapshot a table format's metadata commit gives at
    * 100 TB. Returns the linked files' table-relative names (v1's
    * manifest). */
  private def linkSnapshot(src: String, dst: String): Seq[String] = {
    val d = new java.io.File(dst)
    d.mkdirs()
    new java.io.File(src).listFiles().toSeq.sortBy(_.getName).flatMap { f =>
      // fail LOUDLY on a nested entry: silently skipping a subdirectory
      // (e.g. if the layout ever becomes directory-partitioned) would
      // snapshot an empty table and the delete would converge vacuously
      // — the exact no-op-masquerading-as-work this snapshot exists to
      // prevent
      require(f.isFile,
        s"linkSnapshot expects a flat layout; found directory ${f.getPath}")
      if (!f.getName.endsWith(".parquet")) None
      else {
        java.nio.file.Files.createLink(
          new java.io.File(d, f.getName).toPath, f.toPath): Unit
        Some(s"data/${f.getName}")
      }
    }
  }

  /** Build the DELETABLE layouts for [[qDeleteExecute]] if absent:
    * orders and lineitem copies range-partitioned by the OWNING customer
    * (lineitem's owner resolved through its order — the one-time
    * denormalization). Clustering fact tables by owner is what makes
    * right-to-be-forgotten affordable at 100 TB: a deletion request's
    * rows live in O(requests) files instead of O(all files). Keyed by
    * source-data fingerprint with a `_SUCCESS` guard, so one JVM builds
    * each layout once. Since round 16 the returned layouts are PRISTINE:
    * [[qDeleteExecute]] rewrites a per-invocation hardlink snapshot, so
    * they are read-only after the build. */
  private[graft] def ensureDeletableLayouts(s: SparkSession, dir: String,
      variant: String = ""): (String, String) = {
    val t = variant + dir.replaceAll("[^a-zA-Z0-9]", "_") + "_" +
      graft.Scratch.fingerprint(dir, "customer", "orders", "lineitem")
    val ordPath = graft.Scratch.dir("deleteexec", s"orders_$t")
    val liPath = graft.Scratch.dir("deleteexec", s"lineitem_$t")
    if (!new java.io.File(ordPath, "_SUCCESS").exists()) {
      Tables.orders(s, dir)
        .withColumn("owner", col("o_custkey"))
        .repartitionByRange(DeleteLayoutFiles, col("owner"),
          col("o_orderkey"))
        .write.mode("overwrite").parquet(ordPath)
    }
    if (!new java.io.File(liPath, "_SUCCESS").exists()) {
      val own = Tables.orders(s, dir)
        .select(col("o_orderkey").as("l_orderkey"),
          col("o_custkey").as("owner"))
      Tables.lineitem(s, dir)
        .join(own, Seq("l_orderkey"))
        .repartitionByRange(DeleteLayoutFiles, col("owner"),
          col("l_orderkey"), col("l_linenumber"))
        .write.mode("overwrite").parquet(liPath)
    }
    (ordPath, liPath)
  }

  /** Wrap a pristine flat layout as a fresh [[graft.sources.TxTable]]:
    * hardlink its parquet parts in as the v1 commit, with the schema of
    * one footer. Shared by [[qDeleteExecute]] and the specs' stream/batch
    * twins. */
  private[graft] def layoutAsTable(s: SparkSession, pristine: String,
      root: String): String = {
    graft.sources.TxTable.init(root)
    graft.sources.TxTable.commitInit(root,
      linkSnapshot(pristine, s"$root/data"),
      s.read.parquet(pristine).schema): Unit
    root
  }

  /** TxTable roots of the most recent [[qDeleteExecute]] invocation
    * (orders, lineitem) — the spec reads these to pin the commit
    * discipline on the key's own run. */
  private[graft] val lastDeleteRoots =
    new java.util.concurrent.atomic.AtomicReference[(String, String)]()

  /** q_delete_execute — the right-to-be-forgotten rewrite (round 14;
    * round 17 runs it THROUGH TRANSACTIONAL COMMITS): PERFORMS the
    * delete that [[qDeletePropagate]] only audits. The same bounded
    * request manifest (c_custkey % 97 == 0) drives an affected-files-only
    * rewrite of ownership-clustered copies of orders and lineitem, each
    * wrapped as a [[graft.sources.TxTable]]: v1 commits the pristine
    * layout's parts (hardlinked in — O(files) metadata), the delete is
    * ONE rewrite commit per table (SQL `DELETE … WHERE owner IN (SELECT
    * owner FROM <request view>)`: the runtime group filter finds the
    * affected files with a broadcast probe of the manifest and only
    * those are rewritten), and a second identical DELETE must leave the
    * version unchanged — "audit first, rewrite once", proven on every
    * run. A concurrent reader pinned on v1 sees the complete pre-delete
    * table throughout; one that opens after the commit sees the
    * complete post-delete table; a torn layout is
    * unobservable by construction (closing the r14–r16 caveat that the
    * per-file delete-then-rename swap was non-transactional).
    *
    * Scale shape: the request manifest is privacy-queue-bounded →
    * broadcast everywhere; discovery is one owner-column scan per table
    * (collect bounded by FILE count); the rewrite reads and writes only
    * O(requests) files; the commit itself is O(1) data. At 100 TB this
    * is the GDPR compliance pass a table format runs: audit signs off
    * the counts, one commit rewrites the files, the second discovery
    * proves convergence, and vacuum retires the
    * pre-delete snapshot once its retention lease expires. Oracle: the
    * survivor key sets read back from the final snapshots must equal
    * DuckDB's NOT-IN recompute over the source tables. */
  def qDeleteExecute(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.TxTable
    // pristine fingerprint-keyed layouts (built once, warmed by Bench)
    // are NEVER mutated; each invocation deletes from its own
    // hardlink-seeded table, so re-runs measure the same real delete,
    // not a no-op
    val (ordPristine, liPristine) = ensureDeletableLayouts(s, dir)
    // each invocation's two tables live under one rotating root, so
    // scratch stays bounded across invocations
    val (ordRoot, liRoot) = graft.Scratch.rotating("deleteexec", "exec") {
      invRoot =>
        // the request manifest for both tables' DELETEs; without CBO its
        // size estimate is the customer table's, so only the hint keeps
        // the probe a broadcast at scale (PlanSpec pins it)
        val delView =
          s"graft_delete_exec_req_${new java.io.File(invRoot).getName}"
        broadcast(Tables.customer(s, dir)
          .filter(col("c_custkey") % 97 === 0)
          .select(col("c_custkey").as("owner"))
          .localCheckpoint(true))
          .createOrReplaceTempView(delView)
        // the two tables are INDEPENDENT (own roots, own commit logs):
        // their snapshot→delete→convergence sequences run as two
        // concurrent driver threads so each table's scheduling tail
        // back-fills the other's executor slack (serial, this key took
        // 4.2 s wall / 32 cpu-s). Per-table ordering — link snapshot,
        // delete commit, convergence proof — is unchanged, so the
        // result and the commit discipline are identical.
        val outcome = Similarity.parTabulate(2) { i =>
          val (pristine, name) =
            if (i == 0) (ordPristine, "orders") else (liPristine, "lineitem")
          val root = layoutAsTable(s, pristine, s"$invRoot/$name")
          val delete = s"DELETE FROM ${TxTable.pathTable(s, root)} " +
            s"WHERE owner IN (SELECT owner FROM $delView)"
          s.sql(delete)
          val v = TxTable.currentVersion(root)
          s.sql(delete)
          require(TxTable.currentVersion(root) == v,
            s"delete did not converge: the second pass committed at $root")
          root
        }
        s.catalog.dropTempView(delView): Unit
        (outcome(0), outcome(1))
    }
    lastDeleteRoots.set((ordRoot, liRoot))
    val ord = TxTable.snapshot(s, ordRoot)
      .select(lit("orders").as("tbl"), col("o_orderkey").as("k1"),
        lit(0L).as("k2"))
    val li = TxTable.snapshot(s, liRoot)
      .select(lit("lineitem").as("tbl"), col("l_orderkey").as("k1"),
        col("l_linenumber").cast("long").as("k2"))
    li.unionByName(ord).orderBy("tbl", "k1", "k2")
  }

  val queries: Map[String, Q] = Map(
    "q_delete_propagate" -> (qDeletePropagate _),
    "q_delete_execute" -> (qDeleteExecute _),
    "q_decontam_embed" -> (qDecontamEmbed _),
    "q_quality_unigram_lp" -> (qQualityUnigramLp _),
    "q_decontam_ngram" -> (qDecontamNgram _),
    "q_split_hash" -> (qSplitHash _),
    "q_text_redact" -> (qTextRedact _),
    "q_sample_temperature" -> (qSampleTemperature _),
    "q_shard_assign" -> (qShardAssign _),
    "q_mix_entropy" -> (qMixEntropy _))

  val oracle: Map[String, String] = Map(
    "q_delete_execute" ->
      """WITH del AS (
        |  SELECT c_custkey FROM customer WHERE c_custkey % 97 = 0),
        |del_orders AS (
        |  SELECT o_orderkey FROM orders
        |  WHERE o_custkey IN (SELECT c_custkey FROM del))
        |SELECT 'lineitem' AS tbl, l_orderkey AS k1,
        |       CAST(l_linenumber AS BIGINT) AS k2
        |FROM lineitem
        |WHERE l_orderkey NOT IN (SELECT o_orderkey FROM del_orders)
        |UNION ALL
        |SELECT 'orders' AS tbl, o_orderkey AS k1, CAST(0 AS BIGINT) AS k2
        |FROM orders
        |WHERE o_custkey NOT IN (SELECT c_custkey FROM del)
        |ORDER BY tbl, k1, k2""".stripMargin,
    "q_delete_propagate" ->
      """WITH del AS (
        |  SELECT c_custkey FROM customer WHERE c_custkey % 97 = 0),
        |del_orders AS (
        |  SELECT o_orderkey FROM orders
        |  WHERE o_custkey IN (SELECT c_custkey FROM del)),
        |a AS (
        |  SELECT 'customer' AS tbl, COUNT(*) AS rows_before,
        |    CAST(SUM(CASE WHEN c_custkey % 97 = 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS rows_deleted
        |  FROM customer
        |  UNION ALL
        |  SELECT 'orders', COUNT(*),
        |    CAST(SUM(CASE WHEN o_custkey IN (SELECT c_custkey FROM del)
        |      THEN 1 ELSE 0 END) AS BIGINT)
        |  FROM orders
        |  UNION ALL
        |  SELECT 'lineitem', COUNT(*),
        |    CAST(SUM(CASE WHEN l_orderkey IN
        |        (SELECT o_orderkey FROM del_orders)
        |      THEN 1 ELSE 0 END) AS BIGINT)
        |  FROM lineitem)
        |SELECT tbl, rows_before, rows_deleted,
        |  rows_before - rows_deleted AS rows_after
        |FROM a ORDER BY tbl""".stripMargin,
    "q_decontam_embed" ->
      """WITH e AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
        |ev AS (SELECT * FROM e WHERE vec_id % 10 = 0),
        |tr AS (SELECT * FROM e WHERE vec_id % 10 <> 0)
        |SELECT tr.vec_id AS vec_id, COUNT(*) AS n_eval_hits,
        |  MAX(ROUND(list_cosine_similarity(tr.emb, ev.emb), 6)) AS max_cos
        |FROM tr JOIN ev
        |  ON ROUND(list_cosine_similarity(tr.emb, ev.emb), 6) >= 0.3
        |GROUP BY tr.vec_id
        |ORDER BY vec_id""".stripMargin,
    "q_quality_unigram_lp" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |vocab AS (SELECT tok, COUNT(*) AS c FROM tok GROUP BY tok),
        |total AS (SELECT COUNT(*) AS n_corpus FROM tok)
        |SELECT doc_id, COUNT(*) AS n_tokens,
        |  floor(AVG(ln(n_corpus) - ln(c)) * 1e6) / 1e6 AS mean_surprisal
        |FROM tok JOIN vocab USING (tok) CROSS JOIN total
        |GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin,
    "q_split_hash" ->
      """WITH s AS (
        |  SELECT doc_id, lang,
        |    len(string_split(text, ' ')) AS tok,
        |    ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
        |      % 100 AS b
        |  FROM documents)
        |SELECT CASE WHEN b < 90 THEN 'train' WHEN b < 95 THEN 'val'
        |         ELSE 'test' END AS split,
        |  lang, COUNT(*) AS n_docs,
        |  CAST(SUM(tok) AS BIGINT) AS total_tokens,
        |  MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
        |FROM s GROUP BY 1, 2
        |ORDER BY split, lang""".stripMargin,
    "q_decontam_ngram" ->
      """WITH g AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    range(1, len(string_split(text, ' ')) - 6),
        |    i -> array_to_string(string_split(text, ' ')[i:i+7], ' '))))
        |    AS g
        |  FROM documents),
        |ev AS (SELECT DISTINCT g FROM g WHERE doc_id % 10 = 0),
        |tr AS (SELECT doc_id, g FROM g WHERE doc_id % 10 <> 0),
        |agg AS (
        |  SELECT tr.doc_id, COUNT(*) AS n_grams,
        |    COUNT(ev.g) AS n_hit
        |  FROM tr LEFT JOIN ev ON tr.g = ev.g
        |  GROUP BY tr.doc_id)
        |SELECT doc_id, n_hit, n_grams,
        |  FLOOR(n_hit * 1e6 / n_grams) / 1e6 AS hit_ratio
        |FROM agg WHERE n_hit > 0
        |ORDER BY doc_id""".stripMargin,
    "q_text_redact" ->
      """WITH pii AS (
        |  SELECT doc_id,
        |    text || ' contact user' || CAST(doc_id AS VARCHAR) ||
        |    '@example.com or 555-' ||
        |    lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS pii_text
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(pii_text,
        |    '[a-z0-9]+@[a-z]+\.[a-z]+')) AS INT) AS n_emails,
        |  CAST(len(regexp_extract_all(pii_text,
        |    '[0-9]{3}-[0-9]{4}')) AS INT) AS n_phones,
        |  md5(regexp_replace(regexp_replace(pii_text,
        |    '[a-z0-9]+@[a-z]+\.[a-z]+', '<EMAIL>', 'g'),
        |    '[0-9]{3}-[0-9]{4}', '<PHONE>', 'g')) AS redacted_md5
        |FROM pii ORDER BY doc_id""".stripMargin,
    "q_sample_temperature" ->
      """WITH lc AS (SELECT lang, COUNT(*) AS n FROM documents
        |  GROUP BY lang),
        |mn AS (SELECT MIN(n) AS n_min FROM lc),
        |rates AS (SELECT lang,
        |  POW(CAST(n_min AS DOUBLE) / n, 0.3) AS a FROM lc, mn),
        |u AS (
        |  SELECT doc_id, lang,
        |    ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
        |      / 4294967296.0 AS u
        |  FROM documents)
        |SELECT u.doc_id, u.lang, FLOOR(r.a * 1e6) / 1e6 AS accept_rate
        |FROM u JOIN rates r USING (lang)
        |WHERE u.u < r.a
        |ORDER BY doc_id""".stripMargin,
    "q_shard_assign" ->
      """WITH s AS (
        |  SELECT doc_id,
        |    len(string_split(text, ' ')) AS tok,
        |    ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
        |      % 16 AS shard
        |  FROM documents)
        |SELECT shard, COUNT(*) AS n_docs,
        |  CAST(SUM(tok) AS BIGINT) AS total_tokens,
        |  MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
        |FROM s GROUP BY shard ORDER BY shard""".stripMargin,
    "q_mix_entropy" ->
      """WITH c AS (
        |  SELECT source, lang, COUNT(*) AS n FROM documents
        |  GROUP BY 1, 2),
        |p AS (
        |  SELECT source, n,
        |    n::DOUBLE / SUM(n) OVER (PARTITION BY source) AS p
        |  FROM c)
        |SELECT source, COUNT(*) AS n_langs,
        |  CAST(SUM(n) AS BIGINT) AS n_docs,
        |  FLOOR(SUM(-p * ln(p)) * 1e6) / 1e6 AS lang_entropy
        |FROM p GROUP BY source ORDER BY source""".stripMargin)
}
