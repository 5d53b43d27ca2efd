package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.TxScanProbe

/** Write-side layout operators (sources/Layout.scala): compaction
  * file-count bound + schema-evolution merge semantics — the structural
  * halves the identity oracles can't see. */
class LayoutSpec extends AnyFunSuite with SparkFixture {

  test("q_write_compact emits exactly the planned file count and " +
      "contiguous doc_id ranges per file") {
    val (readBack, path, nFiles) = sources.Layout.writeCompact(spark, sf0001)
    val files = new java.io.File(path).listFiles()
      .filter(_.getName.endsWith(".parquet"))
    // repartitionByRange(nFiles) → one file per partition; the
    // maxRecordsPerFile belt only splits under pathological range skew,
    // which the uniform doc_id fixture doesn't have
    assert(files.length == nFiles,
      s"planned $nFiles files, wrote ${files.length}")
    assert(nFiles > 1, "fixture must exercise multi-file compaction")
    // range layout: per-file [min,max] doc_id spans must not overlap —
    // this is what keeps downstream min/max row-group pruning effective
    val spans = files.sortBy(_.getName).toSeq.map { f =>
      val d = spark.read.parquet(f.getPath)
        .agg(org.apache.spark.sql.functions.min("doc_id"),
          org.apache.spark.sql.functions.max("doc_id"))
        .head()
      (d.getLong(0), d.getLong(1))
    }.sortBy(_._1)
    assert(spans.zip(spans.tail).forall { case ((_, hi), (lo, _)) =>
      hi < lo }, s"file doc_id ranges overlap: $spans")
    // and the layout change preserved the row count
    assert(readBack.count() == Tables.documents(spark, sf0001).count())
  }

  test("q_write_zorder keeps per-file min/max spans narrow on BOTH " +
      "clustering dimensions") {
    import org.apache.spark.sql.functions._
    // force a multi-file layout: 500 sf0.001 docs over 16 files
    val (readBack, path, nFiles) =
      sources.Layout.writeZorder(spark, sf0001, Some(16))
    assert(nFiles == 16)
    val files = new java.io.File(path).listFiles()
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName).toSeq
    assert(files.length == 16, s"wrote ${files.length} files")
    val spans = files.map { f =>
      val r = spark.read.parquet(f.getPath)
        .agg(min("lang"), max("lang"), min("n_chars"), max("n_chars"))
        .head()
      (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3))
    }
    val langs = Tables.documents(spark, sf0001).select("lang").distinct()
      .collect().map(_.getString(0)).sorted
    val (mnG, mxG) = {
      val r = Tables.documents(spark, sf0001)
        .agg(min("n_chars"), max("n_chars")).head()
      (r.getLong(0), r.getLong(1))
    }
    // dimension 1 (lang, point predicate): a file survives pruning for
    // lang L iff min ≤ L ≤ max — averaged over all langs, most files
    // must be pruned by the lang stats ALONE
    val langUnpruned = langs.map { l =>
      spans.count { case (lo, hi, _, _) => lo <= l && l <= hi }
        .toDouble / spans.size
    }
    val avgLangUnpruned = langUnpruned.sum / langUnpruned.length
    // dimension 2 (n_chars, range predicate): per-file span must be a
    // small fraction of the global range
    val avgCharSpan = spans
      .map { case (_, _, lo, hi) => (hi - lo).toDouble }.sum / spans.size
    val globalSpan = (mxG - mnG).toDouble
    info(s"avg lang unpruned frac = $avgLangUnpruned, " +
      s"avg n_chars span frac = ${avgCharSpan / globalSpan}")
    assert(avgLangUnpruned < 0.6,
      s"lang stats prune too little: $avgLangUnpruned of files survive")
    assert(avgCharSpan < 0.6 * globalSpan,
      s"n_chars spans too wide: $avgCharSpan vs global $globalSpan")
    // a doc_id-ordered layout clusters NEITHER dimension — sanity-anchor
    // the claim that the z layout is doing the work: under doc_id order
    // every file would span essentially all langs (fixture ids are
    // uncorrelated with lang), i.e. unpruned frac ≈ 1
    assert(readBack.count() == Tables.documents(spark, sf0001).count())
  }

  test("q_delete_execute runs through TxTable commits: pristine layout " +
      "untouchable (hardlink identity), pre-delete snapshot intact after " +
      "the commit, affected-file minimality, survivors clean") {
    import org.apache.spark.sql.functions._
    assert(llm.Governance.qDeleteExecute(spark, sf0001).count() > 0)
    val (ordRoot, liRoot) = llm.Governance.lastDeleteRoots.get
    val (ordPristine, liPristine) =
      llm.Governance.ensureDeletableLayouts(spark, sf0001)
    val delKeys = Tables.customer(spark, sf0001)
      .filter(col("c_custkey") % 97 === 0)
      .collect().map(_.getLong(0)).toSet
    for ((root, pristine) <- Seq(ordRoot -> ordPristine,
        liRoot -> liPristine)) {
      // exactly two commits: the pristine init and ONE delete commit
      // (the converged second pass committed nothing)
      assert(sources.TxTable.versions(root) == Seq(1, 2),
        s"$root: expected versions 1,2, got " +
          sources.TxTable.versions(root).mkString(","))
      val v1 = sources.TxTable.readManifest(root, 1).files
      val v2 = sources.TxTable.readManifest(root, 2).files.toSet
      // v1's data files ARE the pristine parts (same inode) — the
      // pristine layout's bytes are untouchable through the table
      v1.foreach { f =>
        val name = f.substring(f.lastIndexOf('/') + 1)
        assert(java.nio.file.Files.isSameFile(
          new java.io.File(root, f).toPath,
          new java.io.File(pristine, name).toPath),
          s"$root: $f is not a hardlink of the pristine part")
      }
      // affected-files-only: the delete commit dropped a strict minority
      // of v1's files (one deleted owner of 150 at sf0.001 — the
      // ownership clustering is what localizes the delete)
      val dropped = v1.toSet -- v2
      assert(dropped.nonEmpty, s"$root: fixture deleted no files")
      assert(dropped.size < v1.size / 2,
        s"$root: ${dropped.size} of ${v1.size} files affected — " +
          "clustering is not localizing the delete")
      // the pre-delete snapshot is INTACT after the commit: every v1
      // file still on disk, row count equal to the pristine layout
      assert(v1.forall(f => new java.io.File(root, f).isFile),
        s"$root: a v1 file was unlinked by the delete commit")
      assert(sources.TxTable.snapshot(spark, root, 1).count() ==
        spark.read.parquet(pristine).count(),
        s"$root: pinned v1 read diverged from the pristine layout")
      // survivors are exactly the NOT-IN recompute (the oracle's check,
      // re-stated structurally over the committed snapshot)
      val survOwners = sources.TxTable.snapshot(spark, root)
        .select("owner").distinct().collect().map(_.getLong(0)).toSet
      assert(survOwners.intersect(delKeys).isEmpty)
    }
  }

  // ------------------------------------------------------------------
  // TxTable: the transactional commit protocol (round 17). These pin the
  // structural halves the identity oracles can't see.
  // ------------------------------------------------------------------

  private def mkTable(sub: String): String = {
    val root = graft.Scratch.dir("txtable", s"spec_$sub")
    sources.TxTable.init(root)
    root
  }

  /** (planned, listed) data files of the version-`v` snapshot read of
    * `root` filtered by `pred` — what the scan's stats skipping plans. */
  private def plannedAt(root: String, v: Int,
      pred: org.apache.spark.sql.Column): (Seq[String], Seq[String]) =
    TxScanProbe.planned(sources.TxTable.snapshot(spark, root, v).filter(pred))

  /** SQL MERGE of temp view `src` into the table at `root` on
    * o_orderkey: matched rows take the source o_totalprice, unmatched
    * source rows insert. Returns (version, affected files, inserted
    * rows = the row-count delta). */
  private def mergeSql(root: String, src: String): (Int, Seq[String], Long) = {
    val n0 = sources.TxTable.snapshot(spark, root).count()
    val (v, aff) = txDml(root)(tbl => s"""MERGE INTO $tbl t USING $src m
        |ON t.o_orderkey = m.o_orderkey
        |WHEN MATCHED THEN UPDATE SET o_totalprice = m.o_totalprice
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    (v, aff, sources.TxTable.snapshot(spark, root).count() - n0)
  }

  test("TxTable: staged data files are invisible until the commit lands, " +
      "and a reader pinned on an old version sees it unchanged across a " +
      "later delete commit (old-or-new, never torn)") {
    import org.apache.spark.sql.functions._
    val root = mkTable("oldnew")
    val orders = Tables.orders(spark, sf0001)
      .select("o_orderkey", "o_custkey", "o_totalprice")
    sources.TxTable.append(spark, root,
      orders.filter(col("o_orderkey") % 3 === 0))
    // STAGE day-2 without committing: the current snapshot must not move
    val preStage = sources.TxTable.snapshot(spark, root).count()
    val staged = sources.TxTable.writeData(spark, root,
      orders.filter(col("o_orderkey") % 3 === 1))
    assert(staged.nonEmpty)
    assert(sources.TxTable.currentVersion(root) == 1 &&
      sources.TxTable.snapshot(spark, root).count() == preStage,
      "staged-but-uncommitted files leaked into the snapshot")
    // now commit them; v2 appears complete
    sources.TxTable.commit(root, "append", _ ++ staged)
    val v2Files = sources.TxTable.readManifest(root, 2).files
    val v2Rows = sources.TxTable.snapshot(spark, root, 2)
      .orderBy("o_orderkey").collect().map(_.toSeq).toSeq
    // a delete commit lands v3; the pinned v2 reader is untouched:
    // same manifest, all files still on disk, identical rows on re-read
    val (v3, affected) = txDml(root)(tbl =>
      s"DELETE FROM $tbl WHERE o_custkey % 97 = 0")
    assert(v3 == 3 && affected.nonEmpty)
    assert(sources.TxTable.readManifest(root, 2).files == v2Files)
    assert(v2Files.forall(f => new java.io.File(root, f).isFile),
      "a delete commit unlinked files a retained snapshot still lists")
    assert(sources.TxTable.snapshot(spark, root, 2)
      .orderBy("o_orderkey").collect().map(_.toSeq).toSeq == v2Rows,
      "pinned v2 read changed across the v3 commit")
    // and v3 is exactly v2 minus the deleted owners
    val expect = sources.TxTable.snapshot(spark, root, 2)
      .filter(col("o_custkey") % 97 =!= 0)
      .orderBy("o_orderkey").collect().map(_.toSeq).toSeq
    assert(sources.TxTable.snapshot(spark, root, 3)
      .orderBy("o_orderkey").collect().map(_.toSeq).toSeq == expect)
  }

  test("TxTable: the delete commit rewrites ONLY affected files and a " +
      "second pass is a no-op (no new version)") {
    import org.apache.spark.sql.functions._
    val root = mkTable("minimal")
    sources.TxTable.buildDemoHistory(spark, root, sf0001)
    val v2 = sources.TxTable.readManifest(root, 2).files.toSet
    val m3 = sources.TxTable.readManifest(root, 3)
    val v3 = m3.files.toSet
    // the v3 delete is a rewrite: op delete, no position-delete entries
    assert(m3.props.get("op").contains("delete") &&
      sources.TxTable.deleteEntries(m3.files).isEmpty,
      s"v3 must be a copy-on-write rewrite, got ${m3.props.get("op")}")
    val dropped = v2 -- v3
    // affected-files-only: the owner clustering keeps the delete's file
    // footprint a strict minority of the snapshot
    assert(dropped.nonEmpty && dropped.size < v2.size / 2,
      s"${dropped.size} of ${v2.size} files rewritten — the delete is " +
        "not file-local")
    // carried-over files are THE SAME file entries (never copied): bytes
    // untouched by identity
    assert((v3 -- (v3 -- v2)) == (v2 -- dropped))
    // convergence: re-running the delete finds nothing and commits nothing
    val (vAgain, affAgain) = txDml(root)(tbl =>
      s"DELETE FROM $tbl WHERE o_custkey % 97 = 0")
    assert(vAgain == 3 && affAgain.isEmpty,
      "second delete pass was not a no-op")
  }

  test("TxTable: commit race — exactly one committer lands a version; " +
      "the loser retries onto the next") {
    val root = mkTable("race")
    assert(sources.TxTable.tryCommit(root, 1, Map("op" -> "a"), Seq("data/x")))
    // the losing committer of v1 must NOT clobber the winner
    assert(!sources.TxTable.tryCommit(root, 1, Map("op" -> "b"), Seq("data/y")))
    assert(sources.TxTable.readManifest(root, 1).props("op") == "a")
    // commit() retries past the taken version
    val v = sources.TxTable.commit(root, "b", _ :+ "data/y")
    assert(v == 2 &&
      sources.TxTable.readManifest(root, 2).files == Seq("data/x", "data/y"))
  }

  test("TxTable: vacuum prunes old versions and exactly their " +
      "exclusively-referenced files; retained snapshots still read") {
    import org.apache.spark.sql.functions._
    val root = mkTable("vacuum")
    sources.TxTable.buildDemoHistory(spark, root, sf0001)
    val v1Only = sources.TxTable.readManifest(root, 1).files.toSet --
      sources.TxTable.readManifest(root, 2).files.toSet --
      sources.TxTable.readManifest(root, 3).files.toSet
    val keep3 = sources.TxTable.snapshot(spark, root, 3).count()
    val (pruned, removed) = sources.TxTable.vacuum(root, 2)
    assert(pruned == Seq(1))
    // v1 append wrote fresh files that v2 re-lists (append keeps prev),
    // so only files NO retained manifest lists may go
    assert(removed.toSet == v1Only)
    assert(removed.forall(f => !new java.io.File(root, f).exists()))
    assert(sources.TxTable.versions(root) == Seq(2, 3))
    assert(sources.TxTable.snapshot(spark, root, 3).count() == keep3)
    intercept[Exception] {
      sources.TxTable.snapshot(spark, root, 1).count()
    }
  }

  test("TxTable: CDC reads only commit-sized file sets, and a pure " +
      "compaction diffs to ZERO changes") {
    import org.apache.spark.sql.functions._
    val root = mkTable("cdc")
    sources.TxTable.buildDemoHistory(spark, root, sf0001)
    // file-diff boundedness: the append step removes nothing; the delete
    // step's diff is a strict minority of the snapshot on both sides
    val m = (1 to 3).map(v => sources.TxTable.readManifest(root, v).files.toSet)
    assert((m(0) -- m(1)).isEmpty, "append must remove no files")
    assert((m(1) -- m(2)).size < m(1).size / 2 &&
      (m(2) -- m(1)).size < m(1).size / 2,
      "delete CDC must touch commit-sized file sets, not the table")
    // compact: full rewrite, conflict-checked commit
    val preRows = sources.TxTable.snapshot(spark, root)
      .orderBy("o_orderkey").collect().map(_.toSeq).toSeq
    val rewritten = sources.TxTable.writeData(spark, root,
      sources.TxTable.snapshot(spark, root)
        .repartitionByRange(2, col("o_custkey"), col("o_orderkey")))
    val v4 = sources.TxTable.commit(root, "compact", _ => rewritten)
    assert(v4 == 4 && rewritten.size == 2)
    // content-neutral: the compaction commit's change sets are EMPTY on
    // both sides (every key is carried) — the CDC law that lets an
    // incremental consumer skip compactions entirely
    val (ins, del, upd) = sources.TxTable.changeSets(spark, root, 3, 4)
    assert(ins.map(_.count()).getOrElse(0L) == 0L,
      "compaction emitted phantom inserts")
    assert(del.map(_.count()).getOrElse(0L) == 0L,
      "compaction emitted phantom deletes")
    assert(upd.map(_.count()).getOrElse(0L) == 0L,
      "compaction emitted phantom updates")
    assert(sources.TxTable.snapshot(spark, root)
      .orderBy("o_orderkey").collect().map(_.toSeq).toSeq == preRows)
  }

  test("changeSets across a SQL UPDATE of 50 keys reports exactly those " +
      "keys as updates: no inserts, no deletes") {
    import org.apache.spark.sql.functions._
    val root = graft.Scratch.dir("txtable", "spec_cdf_update")
    graft.Scratch.deleteRec(new java.io.File(root))
    sources.TxTable.init(root)
    sources.TxTable.appendDemoLoads(spark, root, sf0001)
    val v0 = sources.TxTable.currentVersion(root)
    val keys = sources.TxTable.snapshot(spark, root).select("o_orderkey")
      .orderBy("o_orderkey").limit(50).collect().map(_.getLong(0)).toSet
    assert(keys.size == 50)
    val (v, _) = txDml(root)(t => s"UPDATE $t SET o_totalprice = " +
      s"o_totalprice + 1.0 WHERE o_orderkey IN (${keys.mkString(", ")})")
    assert(v == v0 + 1 && sources.TxTable.readManifest(root, v)
      .props.get("op").contains("update"))
    val (ins, del, upd) = sources.TxTable.changeSets(spark, root, v0, v)
    assert(ins.map(_.count()).getOrElse(0L) == 0L,
      "an updated key surfaced as an insert")
    assert(del.map(_.count()).getOrElse(0L) == 0L,
      "an updated key surfaced as a delete")
    assert(upd.map(_.select("o_orderkey").collect().map(_.getLong(0))
      .toSet).getOrElse(Set.empty) == keys)
    assert(upd.get.count() == 50L)
  }

  test("q_table_compact bounds versions via in-key vacuum and " +
      "q_table_rollback keeps the bad version as evidence") {
    import org.apache.spark.sql.functions._
    // two invocations: versions grow then retention clamps to the window
    sources.TxTable.qTableCompact(spark, sf0001).count()
    sources.TxTable.qTableCompact(spark, sf0001).count()
    val cRoot = sources.TxTable.ensureDemoTable(spark, sf0001, "compacttbl")
    assert(sources.TxTable.versions(cRoot).size <=
      sources.TxTable.CompactRetain,
      s"vacuum did not clamp versions: ${sources.TxTable.versions(cRoot)}")
    // rollback: O(1) metadata — commits a manifest, creates NO data files
    val rRoot = sources.TxTable.ensureDemoTable(spark, sf0001, "rbtbl")
    def nData = new java.io.File(rRoot, "data").list().length
    val before = nData
    val out = sources.TxTable.qTableRollback(spark, sf0001)
    assert(out.count() > 0 && nData == before,
      "rollback must not move data")
    // the bad v3 (the wrong delete) is retained as incident evidence and
    // still time-travels to the deleted state
    val v3 = sources.TxTable.snapshot(spark, rRoot, 3)
    assert(v3.filter(col("o_custkey") % 97 === 0).count() == 0,
      "v3 should be the (bad) post-delete state")
    // while CURRENT serves the restored v2 snapshot (deleted rows back)
    assert(sources.TxTable.snapshot(spark, rRoot)
      .filter(col("o_custkey") % 97 === 0).count() > 0,
      "rollback did not restore the deleted rows")
  }

  test("TxTable: merge is ONE atomic commit (update + insert together) " +
      "and re-merging the same batch is state-idempotent") {
    import org.apache.spark.sql.functions._
    val root = mkTable("merge")
    sources.TxTable.buildDemoHistory(spark, root, sf0001)
    val src = Tables.orders(spark, sf0001)
      .filter(col("o_orderkey") % 3 === 2 ||
        (col("o_orderkey") % 3 === 0 && col("o_orderkey") % 30 === 0))
      .select(col("o_orderkey"), col("o_custkey"),
        ((col("o_orderkey") % 1000).cast("double") + 0.5)
          .as("o_totalprice"))
    src.createOrReplaceTempView("spec_merge_src")
    val (v, aff, nIns) = mergeSql(root, "spec_merge_src")
    // exactly one commit carries BOTH halves: no intermediate version
    // where the updates exist without the inserts
    assert(v == 4, s"merge landed as version $v, expected one commit (4)")
    assert(aff.nonEmpty && nIns > 0,
      s"fixture must exercise both paths (affected=$aff inserts=$nIns)")
    val rows1 = sources.TxTable.snapshot(spark, root)
      .orderBy("o_orderkey").collect().map(_.toSeq).toSeq
    // matched rows carry the source payload; unmatched keep their own
    val updated = sources.TxTable.snapshot(spark, root)
      .filter(col("o_orderkey") % 3 === 0 && col("o_orderkey") % 30 === 0)
      .withColumn("want",
        (col("o_orderkey") % 1000).cast("double") + 0.5)
    assert(updated.filter(col("o_totalprice") =!= col("want")).count() == 0,
      "a matched row did not take the source payload")
    // re-merge: the at-least-once redelivery case — zero inserts, the
    // state is unchanged (payload is a pure key function)
    val (v2, _, nIns2) = mergeSql(root, "spec_merge_src")
    assert(v2 == 5 && nIns2 == 0,
      s"re-merge must insert nothing (v=$v2, inserts=$nIns2)")
    assert(sources.TxTable.snapshot(spark, root)
      .orderBy("o_orderkey").collect().map(_.toSeq).toSeq == rows1,
      "re-merging the same batch changed the table state")
  }

  test("TxTable: time-travel reads equal the historical recompute at " +
      "every version") {
    import org.apache.spark.sql.functions._
    val root = sources.TxTable.ensureDemoTable(spark, sf0001)
    val orders = Tables.orders(spark, sf0001)
      .select("o_orderkey", "o_custkey", "o_totalprice")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("o_orderkey").collect().map(_.toSeq).toSeq
    val hist = Seq(
      1 -> orders.filter(col("o_orderkey") % 3 === 0),
      2 -> orders.filter(col("o_orderkey") % 3 < 2),
      3 -> orders.filter(col("o_orderkey") % 3 < 2 &&
        col("o_custkey") % 97 =!= 0))
    hist.foreach { case (v, expect) =>
      assert(rows(sources.TxTable.snapshot(spark, root, v)) == rows(expect),
        s"snapshot v$v diverged from the historical recompute")
    }
  }

  test("TxTable: DELETE WHERE keeps NULL-predicate rows (the SQL " +
      "not-TRUE contract), even co-located with matching rows") {
    import org.apache.spark.sql.functions._
    val root = mkTable("nullpred")
    // one file holding both matching rows and NULL-predicate rows: even
    // ids carry v=id (pred TRUE → deleted), odd ids carry v=NULL (pred
    // NULL → MUST survive; a bare !pred filter would drop them too)
    sources.TxTable.append(spark, root,
      spark.range(10).select(col("id").as("k"),
        when(col("id") % 2 === 0, col("id")).as("v"))
        .repartition(1))
    val (v, aff) = txDml(root)(tbl => s"DELETE FROM $tbl WHERE v % 2 = 0")
    assert(v == 2 && aff.nonEmpty)
    val left = sources.TxTable.snapshot(spark, root)
      .orderBy("k").collect()
    assert(left.length == 5 && left.forall(_.isNullAt(1)),
      s"NULL-predicate rows were deleted: ${left.mkString(",")}")
  }

  test("TxTable: a delete that empties the table leaves a READABLE " +
      "empty snapshot (schema from a retained version) that appends and " +
      "merges can rebuild") {
    import org.apache.spark.sql.functions._
    val root = mkTable("emptytbl")
    val orders = Tables.orders(spark, sf0001)
      .select("o_orderkey", "o_custkey", "o_totalprice").limit(20)
    sources.TxTable.append(spark, root, orders.repartition(1))
    val schema0 = sources.TxTable.snapshot(spark, root).schema
    // true on every row, yet no source filter: the group rewrite, which
    // drops every data file from the manifest (no DV keeps them)
    val deleteAll: String => String =
      tbl => s"DELETE FROM $tbl WHERE o_orderkey % 1 = 0"
    val (v, _) = txDml(root)(deleteAll)
    assert(v == 2)
    assert(sources.TxTable.readManifest(root, v).files.isEmpty,
      "an emptying rewrite must list no files")
    // the empty current version reads as zero rows, same schema — not an
    // exception (empty is a legitimate post-delete state)
    val empty = sources.TxTable.snapshot(spark, root)
    assert(empty.count() == 0 && empty.schema == schema0)
    // rewrites on the empty table are no-ops, not crashes
    val (vNoop, affNoop) = txDml(root)(deleteAll)
    assert(vNoop == v && affNoop.isEmpty)
    // a merge into the empty table appends every source row in one commit
    orders.createOrReplaceTempView("spec_empty_src")
    val (vM, affM, nIns) = mergeSql(root, "spec_empty_src")
    assert(vM == v + 1 && affM.isEmpty && nIns == orders.count(),
      s"merge-into-empty must be pure insert (aff=$affM ins=$nIns)")
    assert(sources.TxTable.snapshot(spark, root, vM).count() == nIns)
  }

  test("TxTable: schema evolution under commits — the merged current " +
      "read NULL-backfills exactly the pre-drift commit while a pinned " +
      "pre-drift snapshot keeps the base schema") {
    import org.apache.spark.sql.functions._
    val root = sources.TxTable.ensureEvoTable(spark, sf0001)
    // time travel ACROSS the schema change: v1 predates o_prio and must
    // not grow it — its manifest lists only base-schema files
    assert(sources.TxTable.snapshot(spark, root, 1).columns.toSeq ==
      Seq("o_orderkey", "o_custkey", "o_totalprice"))
    val cur = sources.TxTable.snapshot(spark, root)
    assert(cur.columns.toSeq ==
      Seq("o_orderkey", "o_custkey", "o_totalprice", "o_prio"))
    // driver-side recompute: both drops, o_prio only on the odd keys
    val want = Tables.orders(spark, sf0001)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        when(col("o_orderkey") % 2 === 1,
          (col("o_orderkey") % 5).cast("int")).as("o_prio"))
    assert(cur.orderBy("o_orderkey").collect().map(_.toSeq).toSeq ==
      want.orderBy("o_orderkey").collect().map(_.toSeq).toSeq,
      "evolved read diverged from the source recompute")
    // the backfill lands exactly on the pre-drift drop: NULL iff even key
    assert(cur.filter(col("o_orderkey") % 2 === 0 &&
      col("o_prio").isNotNull).count() == 0,
      "a pre-drift row grew a non-NULL o_prio")
    assert(cur.filter(col("o_orderkey") % 2 === 1 &&
      col("o_prio").isNull).count() == 0,
      "a post-drift row lost its o_prio")
  }

  test("TxTable: 8 concurrent committers — gapless versions, every " +
      "entry exactly once, parent chain intact (optimistic concurrency)") {
    val root = mkTable("mt")
    val writers = 8
    val perWriter = 25
    val pool = java.util.concurrent.Executors.newFixedThreadPool(writers)
    try {
      val futs = (0 until writers).map { t =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          def call(): Unit = (0 until perWriter).foreach { i =>
            sources.TxTable.commit(root, "append",
              _ :+ s"data/t${t}_$i"): Unit
          }
        })
      }
      futs.foreach(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
    } finally { pool.shutdown(): Unit }
    val total = writers * perWriter
    // exactly one winner per version, no gaps, no lost commits
    assert(sources.TxTable.versions(root) == (1 to total),
      "version sequence has gaps or extras under contention")
    (1 to total).foreach { v =>
      val m = sources.TxTable.readManifest(root, v)
      assert(m.props("parent").toInt == v - 1,
        s"v$v's parent chain broken: ${m.props}")
      assert(m.files.size == v,
        s"v$v lost a concurrent writer's entry (${m.files.size} files)")
    }
    val fin = sources.TxTable.readManifest(root, total).files
    assert(fin.distinct.size == total &&
      fin.toSet == (0 until writers).flatMap(t =>
        (0 until perWriter).map(i => s"data/t${t}_$i")).toSet,
      "the final manifest is not exactly the union of all writers")
  }

  test("TxTable: a position-delete commit touches NO data file " +
      "(byte identity), converges, and reads equal the rewrite-delete " +
      "twin") {
    import org.apache.spark.sql.functions._
    // copy-on-write twin for comparison
    val cow = mkTable("dv_cow")
    sources.TxTable.buildDemoHistory(spark, cow, sf0001)
    // merge-on-read: same appends, DV delete instead of rewrite
    val root = mkTable("dv_mor")
    sources.TxTable.appendDemoLoads(spark, root, sf0001)
    val before = sources.TxTable.readManifest(root, 2).files
    val sizes = before.map(f =>
      f -> new java.io.File(root, f).length()).toMap
    val (v3, dvFiles) = sources.TxTable.deleteVector(spark, root,
      col("o_custkey") % 97 === 0)
    assert(v3 == 3 && dvFiles.nonEmpty &&
      dvFiles.forall(_.startsWith("deletes/")))
    val after = sources.TxTable.readManifest(root, 3).files
    // EVERY data entry carried unchanged — zero rewrites, bytes intact
    assert(sources.TxTable.dataEntries(after) == before,
      "a position delete rewrote or dropped a data file")
    assert(before.forall(f =>
      new java.io.File(root, f).length() == sizes(f)),
      "a data file's bytes changed under a position delete")
    // reads converge with the rewrite-based delete
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("o_orderkey").collect().map(_.toSeq).toSeq
    assert(rows(sources.TxTable.snapshot(spark, root)) ==
      rows(sources.TxTable.snapshot(spark, cow)),
      "merge-on-read and copy-on-write deletes diverged")
    // convergent: the predicate re-applied on the DV-applied snapshot
    // addresses nothing and commits nothing
    val (vAgain, dvAgain) = sources.TxTable.deleteVector(spark, root,
      col("o_custkey") % 97 === 0)
    assert(vAgain == 3 && dvAgain.isEmpty,
      "second DV pass was not a no-op")
  }

  test("TxTable: compaction materializes position deletes away and a " +
      "merge on a DV'd table does not resurrect deleted rows") {
    import org.apache.spark.sql.functions._
    val root = mkTable("dv_compact")
    sources.TxTable.appendDemoLoads(spark, root, sf0001)
    sources.TxTable.deleteVector(spark, root,
      col("o_custkey") % 97 === 0): Unit
    val preRows = sources.TxTable.snapshot(spark, root)
      .orderBy("o_orderkey").collect().map(_.toSeq).toSeq
    // a MERGE rewrites affected files: its rewrite input must be the
    // DV-applied read, so deleted rows stay gone in the rewritten files
    val src = Tables.orders(spark, sf0001)
      .filter(col("o_orderkey") % 30 === 0)
      .select(col("o_orderkey"), col("o_custkey"),
        lit(1.5).as("o_totalprice"))
    src.createOrReplaceTempView("spec_dv_merge_src")
    mergeSql(root, "spec_dv_merge_src"): Unit
    assert(sources.TxTable.snapshot(spark, root)
      .filter(col("o_custkey") % 97 === 0 &&
        col("o_orderkey") % 30 =!= 0).count() == 0,
      "a merge rewrite resurrected DV-deleted rows")
    // the merge touched ONLY its source keys: every other surviving row
    // is carried bit-for-bit from the pre-merge DV-applied state
    val nonSrc = sources.TxTable.snapshot(spark, root)
      .filter(col("o_orderkey") % 30 =!= 0)
      .orderBy("o_orderkey").collect().map(_.toSeq).toSeq
    assert(nonSrc == preRows.filter(r =>
      r.head.asInstanceOf[Long] % 30 != 0),
      "the merge disturbed rows outside its source keys")
    // compaction: rewrite the DV-applied snapshot, publish data-only
    val rewritten = sources.TxTable.writeData(spark, root,
      sources.TxTable.snapshot(spark, root)
        .repartitionByRange(2, col("o_custkey"), col("o_orderkey")))
    sources.TxTable.commit(root, "compact", _ => rewritten): Unit
    val cv = sources.TxTable.currentVersion(root)
    val m = sources.TxTable.readManifest(root, cv)
    assert(sources.TxTable.deleteEntries(m.files).isEmpty,
      "compaction did not materialize the position deletes away")
    // rows before the compaction (post-merge) == rows after, and the
    // CDC law holds ON A DV'D TABLE: the compaction diffs to ZERO
    // changes (the removed side reads with the prev manifest's deletes
    // applied — r17 review: a raw read would re-report the GDPR'd rows)
    val postMerge = sources.TxTable.snapshot(spark, root, cv - 1)
      .orderBy("o_orderkey").collect().map(_.toSeq).toSeq
    assert(sources.TxTable.snapshot(spark, root)
      .orderBy("o_orderkey").collect().map(_.toSeq).toSeq == postMerge)
    val (ins, del, upd) = sources.TxTable.changeSets(spark, root, cv - 1, cv)
    assert(ins.map(_.count()).getOrElse(0L) == 0L &&
      del.map(_.count()).getOrElse(0L) == 0L &&
      upd.map(_.count()).getOrElse(0L) == 0L,
      "compacting a DV'd table emitted phantom CDC changes")
  }

  test("Scratch.buildOnce never adopts a stale staging dir and is " +
      "idempotent once adopted") {
    val root = graft.Scratch.dir("misc", "buildonce_spec")
    // simulate a crashed earlier builder: a staging dir with leftovers
    val staging = new java.io.File(root + ".staging")
    staging.mkdirs()
    java.nio.file.Files.write(staging.toPath.resolve("junk.txt"),
      "stale".getBytes("UTF-8")): Unit
    var builds = 0
    def build(st: String): Unit = {
      builds += 1
      java.nio.file.Files.write(
        java.nio.file.Paths.get(st, "real.txt"), "ok".getBytes("UTF-8")): Unit
    }
    graft.Scratch.buildOnce(root)(build)
    assert(new java.io.File(root, "real.txt").isFile &&
      !new java.io.File(root, "junk.txt").exists(),
      "stale staging content was adopted into the artifact")
    assert(new java.io.File(root, "_GRAFT_DONE").isFile &&
      !staging.exists())
    // adopted artifacts are never rebuilt
    graft.Scratch.buildOnce(root)(build)
    assert(builds == 1, s"done-marked artifact rebuilt ($builds builds)")
  }

  test("q_schema_evolution backfills NULL lang exactly for the " +
      "pre-drift drop") {
    val rows = sources.Layout.qSchemaEvolution(spark, sf0001).collect()
    assert(rows.nonEmpty)
    // even ids came from the base-schema drop → lang must be null;
    // odd ids from the post-drift drop → lang must be populated
    assert(rows.forall { r =>
      if (r.getLong(0) % 2 == 0) r.isNullAt(2) else !r.isNullAt(2) })
  }

  test("TxTable data skipping: manifests carry per-file min/max lifted " +
      "from parquet footers at commit time; a selective predicate plans " +
      "FEWER files than listed and the pruned read equals the unpruned " +
      "recompute, including under position deletes") {
    import org.apache.spark.sql.functions._
    val root = mkTable("skip")
    sources.TxTable.buildDemoHistory(spark, root, sf0001)
    val m = sources.TxTable.readManifest(root,
      sources.TxTable.currentVersion(root))
    val data = sources.TxTable.dataEntries(m.files)
    // every data entry carries stats for the clustering column
    assert(data.nonEmpty && data.forall(f =>
      m.stats.get(f).exists(_.cols.contains("o_custkey"))),
      "a data entry is missing o_custkey manifest stats")
    // stats are sound: each file's recorded span equals its actual span
    data.foreach { f =>
      val cs = m.stats(f).cols("o_custkey")
      val d = spark.read.parquet(s"$root/$f")
        .agg(min("o_custkey"), max("o_custkey")).head()
      assert(BigDecimal(cs.min) == BigDecimal(d.getLong(0)) &&
        BigDecimal(cs.max) == BigDecimal(d.getLong(1)),
        s"manifest stats for $f disagree with the file: $cs vs $d")
      assert(m.stats(f).rows == spark.read.parquet(s"$root/$f").count())
    }
    val cut = Tables.orders(spark, sf0001)
      .agg(max("o_custkey")).head().getAs[Number](0).longValue / 10
    val pred = col("o_custkey") <= cut
    val (kept, all) = plannedAt(root, m.version, pred)
    assert(kept.nonEmpty && kept.size < all.size,
      s"skipping planned ${kept.size}/${all.size} files — the " +
        "owner-clustered layout must prune most of them")
    // identity: the pruned read == the source recompute, row for row
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("o_orderkey").collect().map(_.toSeq).toSeq
    val want = Tables.orders(spark, sf0001)
      .filter(col("o_orderkey") % 3 < 2 && col("o_custkey") % 97 =!= 0)
      .filter(pred)
      .select("o_orderkey", "o_custkey", "o_totalprice")
    assert(rows(sources.TxTable.snapshot(spark, root).filter(pred)) ==
      rows(want), "pruned read diverged from the source recompute")
    // composes with merge-on-read: a DV commit's deletes still apply
    // on the pruned read path
    sources.TxTable.deleteVector(spark, root,
      col("o_orderkey") % 10 === 0): Unit
    assert(rows(sources.TxTable.snapshot(spark, root).filter(pred)) ==
      rows(want.filter(col("o_orderkey") % 10 =!= 0)),
      "pruned read diverged after a position-delete commit")
    // the evaluator is conservative: a predicate it can't reason about
    // (expression over the column) keeps every file
    val (keptOpaque, _) = plannedAt(root, m.version,
      abs(col("o_custkey")) <= cut)
    assert(keptOpaque.size == all.size,
      "an un-analyzable predicate must not prune")
    // OR widens, AND narrows
    val (keptOr, _) = plannedAt(root, m.version,
      pred || col("o_custkey") > lit(Long.MaxValue - 1))
    assert(keptOr.size >= kept.size)
    val (keptAnd, _) = plannedAt(root, m.version,
      pred && col("o_custkey") <= lit(-1L))
    assert(keptAnd.isEmpty, "an unsatisfiable AND must prune everything")
    // kept.isEmpty still reads: zero rows, real schema
    val none = sources.TxTable.snapshot(spark, root)
      .filter(col("o_custkey") <= lit(-1L))
    assert(none.count() == 0 &&
      none.columns.toSeq == Seq("o_orderkey", "o_custkey", "o_totalprice"))
  }

  test("TxTable partitioned: entries carry the partition directory, a " +
      "partition predicate plans exactly that partition's files through " +
      "the same stats mechanism, reads re-derive the column, and the " +
      "rewrite paths re-stage survivors partition-preserving") {
    import org.apache.spark.sql.functions._
    val root = mkTable("part")
    sources.TxTable.buildPartHistory(spark, root, sf0001)
    val m = sources.TxTable.readManifest(root,
      sources.TxTable.currentVersion(root))
    val data = sources.TxTable.dataEntries(m.files)
    assert(data.nonEmpty && data.forall(
      _.matches("data/o_orderpriority=[^/]+/part-.*\\.parquet")),
      s"partitioned entries must carry their directory: $data")
    val urgent = "data/o_orderpriority=1-URGENT/"
    val (kept, all) = plannedAt(root, m.version,
      col("o_orderpriority") === "1-URGENT")
    assert(kept.nonEmpty && kept.size < all.size)
    assert(kept.forall(_.startsWith(urgent)) &&
      kept.size == all.count(_.startsWith(urgent)),
      "partition pruning must keep exactly the matching partition's files")
    // the read re-derives the partition column and equals the source
    // recompute of both loads
    val got = sources.TxTable.snapshot(spark, root)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")
      .orderBy("o_orderkey").collect().map(_.toSeq).toSeq
    val want = Tables.orders(spark, sf0001)
      .filter(col("o_orderkey") % 3 <= 1 &&
        col("o_orderpriority") === "1-URGENT")
      .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")
      .orderBy("o_orderkey").collect().map(_.toSeq).toSeq
    assert(got == want, s"partitioned read diverged (${got.size} vs " +
      s"${want.size} rows)")
    // time travel: v1 (first load only) prunes and reads the same way
    val v1 = sources.TxTable.snapshot(spark, root, 1)
      .filter(col("o_orderpriority") === "1-URGENT")
    assert(v1.count() == Tables.orders(spark, sf0001)
      .filter(col("o_orderkey") % 3 === 0 &&
        col("o_orderpriority") === "1-URGENT").count())
    // a value-column predicate composes with partition pruning (both
    // stats live in the same manifest entry)
    val cut = Tables.orders(spark, sf0001)
      .agg(max("o_custkey")).head().getAs[Number](0).longValue / 10
    val both = sources.TxTable.snapshot(spark, root)
      .filter(col("o_orderpriority") === "1-URGENT" && col("o_custkey") <= cut)
    val (keptBoth, _) = plannedAt(root, m.version,
      col("o_orderpriority") === "1-URGENT" && col("o_custkey") <= cut)
    assert(keptBoth.size <= kept.size)
    assert(both.count() == Tables.orders(spark, sf0001)
      .filter(col("o_orderkey") % 3 <= 1 &&
        col("o_orderpriority") === "1-URGENT" &&
        col("o_custkey") <= cut).count())
    // partition-preserving copy-on-write delete (round 18, closing the
    // r18 interim guard): survivors re-stage under their OWN partition
    // dirs, untouched partitions' files are not rewritten, and the
    // partition column survives the rewrite
    val preDel = sources.TxTable.readManifest(root,
      sources.TxTable.currentVersion(root)).files.toSet
    val preCount = sources.TxTable.snapshot(spark, root).count()
    val nDel = sources.TxTable.snapshot(spark, root)
      .filter(col("o_orderpriority") === "1-URGENT" &&
        col("o_custkey") % 7 === 0).count()
    assert(nDel > 0, "fixture must delete something")
    val (dv1, affected) = txDml(root)(tbl => s"DELETE FROM $tbl WHERE " +
      "o_orderpriority = '1-URGENT' AND o_custkey % 7 = 0")
    assert(affected.nonEmpty &&
      affected.forall(_.startsWith(urgent)),
      s"a single-partition delete touched other partitions: $affected")
    val postM = sources.TxTable.readManifest(root, dv1)
    val postData = sources.TxTable.dataEntries(postM.files)
    assert(postData.forall(
      _.matches("data/o_orderpriority=[^/]+/part-.*\\.parquet")),
      s"a rewrite flattened partitioned entries: $postData")
    // untouched partitions' entries carried verbatim
    assert((preDel -- postM.files.toSet).forall(_.startsWith(urgent)),
      "a non-URGENT file changed under a URGENT-only delete")
    val post = sources.TxTable.snapshot(spark, root)
    assert(post.count() == preCount - nDel)
    assert(post.filter(col("o_orderpriority") === "1-URGENT" &&
      col("o_custkey") % 7 === 0).count() == 0)
    // rewritten files still carry partition stats → still prune exactly
    val (keptPost, allPost) = plannedAt(root, postM.version,
      col("o_orderpriority") === "1-URGENT")
    assert(keptPost.nonEmpty &&
      keptPost.size == allPost.count(_.startsWith(urgent)))
    // …and the DV delete path also works: address-based, no rewrite
    val (dvv, dvFiles) = sources.TxTable.deleteVector(spark, root,
      col("o_custkey") % 7 === 0)
    assert(dvFiles.nonEmpty)
    assert(sources.TxTable.snapshot(spark, root, dvv)
      .filter(col("o_custkey") % 7 === 0).count() == 0,
      "DV delete on a partitioned table did not apply")
    // MERGE on a partitioned table (under the live DVs): rewrites AND
    // appends land under partition dirs in one commit
    val curSnap = sources.TxTable.snapshot(spark, root)
    val mSrc = curSnap.filter(col("o_orderkey") % 5 === 0)
      .withColumn("o_totalprice", lit(9.75))
      .unionByName(Tables.orders(spark, sf0001)
        .filter(col("o_orderkey") % 3 === 2 && col("o_orderkey") % 5 === 0)
        .select(col("o_orderkey"), col("o_custkey"),
          lit(9.75).as("o_totalprice"), col("o_orderpriority")))
    mSrc.createOrReplaceTempView("spec_part_merge_src")
    val (mv, mAff, mIns) = mergeSql(root, "spec_part_merge_src")
    assert(mIns > 0 && mAff.nonEmpty,
      s"partitioned merge must exercise both paths ($mAff, $mIns)")
    val mData = sources.TxTable.dataEntries(
      sources.TxTable.readManifest(root, mv).files)
    assert(mData.forall(
      _.matches("data/o_orderpriority=[^/]+/part-.*\\.parquet")),
      s"merge flattened partitioned entries")
    val merged = sources.TxTable.snapshot(spark, root, mv)
    assert(merged.filter(col("o_orderkey") % 5 === 0 &&
      col("o_totalprice") =!= 9.75).count() == 0,
      "a matched partitioned row did not take the merge payload")
    assert(merged.filter(col("o_orderpriority").isNull).count() == 0,
      "a merged row lost its partition value")
  }

  test("TxTable column mapping: rename and drop are metadata-only " +
      "commits, time travel keeps per-version names, a re-added column " +
      "never resurrects dropped data, rewrites shed dropped columns " +
      "physically, and stats pruning works through the rename") {
    import org.apache.spark.sql.functions._
    val root = mkTable("colmap")
    sources.TxTable.appendDemoLoads(spark, root, sf0001) // v1, v2
    val v2Files = sources.TxTable.readManifest(root, 2).files
    val v2Mtimes = sources.TxTable.dataEntries(v2Files)
      .map(f => f -> new java.io.File(root, f).lastModified()).toMap
    // v3: RENAME o_custkey -> owner_id — zero data movement
    val v3 = sources.TxTable.renameColumn(spark, root,
      "o_custkey", "owner_id")
    assert(sources.TxTable.readManifest(root, v3).files == v2Files,
      "rename must republish the parent's file list verbatim")
    assert(v2Mtimes.forall { case (f, t) =>
      new java.io.File(root, f).lastModified() == t },
      "rename touched a data file")
    assert(sources.TxTable.snapshot(spark, root).columns.toSeq ==
      Seq("o_orderkey", "owner_id", "o_totalprice"))
    // time travel: the pinned pre-rename snapshot keeps old names
    assert(sources.TxTable.snapshot(spark, root, 2).columns.toSeq ==
      Seq("o_orderkey", "o_custkey", "o_totalprice"))
    // renaming onto an existing name fails loudly
    intercept[IllegalArgumentException] {
      sources.TxTable.renameColumn(spark, root,
        "o_orderkey", "owner_id"): Unit
    }
    // v4: an append SPEAKING the new schema stages under the physical
    // name (one uniform file schema)
    sources.TxTable.append(spark, root,
      Tables.orders(spark, sf0001).filter(col("o_orderkey") % 3 === 2)
        .select(col("o_orderkey"), col("o_custkey").as("owner_id"),
          col("o_totalprice"))): Unit
    val v4files = sources.TxTable.dataEntries(
      sources.TxTable.readManifest(root, 4).files)
    val newFile = (v4files.toSet --
      sources.TxTable.dataEntries(v2Files).toSet).head
    assert(spark.read.parquet(s"$root/$newFile").columns.toSeq ==
      Seq("o_orderkey", "o_custkey", "o_totalprice"),
      "a post-rename append must stage under PHYSICAL names")
    // stats pruning translates the renamed predicate name
    val cut = Tables.orders(spark, sf0001)
      .agg(max("o_custkey")).head().getAs[Number](0).longValue / 10
    val (kept, all) = plannedAt(root, 4, col("owner_id") <= cut)
    assert(kept.nonEmpty && kept.size < all.size,
      s"pruning through the rename planned ${kept.size}/${all.size}")
    assert(sources.TxTable.snapshot(spark, root, 4)
        .filter(col("owner_id") <= cut).count() ==
      Tables.orders(spark, sf0001).filter(col("o_custkey") <= cut).count())
    // v5: DROP o_totalprice — metadata-only, old snapshots unaffected
    val v5 = sources.TxTable.dropColumn(spark, root, "o_totalprice")
    assert(sources.TxTable.readManifest(root, v5).files ==
      sources.TxTable.readManifest(root, 4).files)
    assert(sources.TxTable.snapshot(spark, root).columns.toSeq ==
      Seq("o_orderkey", "owner_id"))
    assert(sources.TxTable.snapshot(spark, root, 4).columns
      .contains("o_totalprice"),
      "a pinned pre-drop snapshot must still read the dropped column")
    // v6: RE-ADD a logical o_totalprice — fresh physical name, the
    // dropped data must NOT resurrect
    sources.TxTable.append(spark, root,
      spark.range(1).select(lit(-1L).as("o_orderkey"),
        lit(-1L).as("owner_id"), lit(123.25).as("o_totalprice"))): Unit
    val cur6 = sources.TxTable.snapshot(spark, root)
    assert(cur6.columns.toSeq == Seq("o_orderkey", "owner_id", "o_totalprice"))
    val readded = cur6.filter(col("o_totalprice").isNotNull)
    assert(cur6.count() == Tables.orders(spark, sf0001).count() + 1 &&
      readded.count() == 1 &&
      readded.select("o_orderkey", "owner_id", "o_totalprice").head()
        .toSeq == Seq[Any](-1L, -1L, 123.25),
      "the re-added column must carry ONLY the new commit's data — " +
        "old dropped values must stay invisible")
    // the new file's PHYSICAL schema uses the tombstone-avoiding name
    val v6 = sources.TxTable.currentVersion(root)
    val v6new = (sources.TxTable.dataEntries(
        sources.TxTable.readManifest(root, v6).files).toSet --
      sources.TxTable.dataEntries(
        sources.TxTable.readManifest(root, v5).files).toSet).head
    assert(spark.read.parquet(s"$root/$v6new").columns
      .exists(_.startsWith("o_totalprice__r")),
      "a re-added dropped column must write under a fresh physical name")
    // v7: a rewrite DELETE sheds the dropped column physically
    val (v7, aff) = txDml(root)(tbl =>
      s"DELETE FROM $tbl WHERE owner_id % 13 = 0")
    assert(aff.nonEmpty)
    val v7new = (sources.TxTable.dataEntries(
        sources.TxTable.readManifest(root, v7).files).toSet --
      sources.TxTable.dataEntries(
        sources.TxTable.readManifest(root, v6).files).toSet)
    assert(v7new.nonEmpty)
    // rewritten files: logical names back under physical mapping — the
    // dropped physical o_totalprice is GONE from their footers
    v7new.foreach { f =>
      val cols = spark.read.parquet(s"$root/$f").columns.toSeq
      assert(!cols.contains("o_totalprice"),
        s"a rewrite republished the dropped physical column in $f")
      assert(cols.contains("o_custkey"),
        s"the renamed column must still stage physical in $f: $cols")
    }
    assert(sources.TxTable.snapshot(spark, root)
      .filter(col("owner_id") % 13 === 0).count() == 0)
  }

  test("TxTable: MERGE WHEN MATCHED DELETE — update + insert + expiry " +
      "land in ONE atomic commit, re-merge is idempotent, and CDC emits " +
      "update post-images for merge-rewritten keys") {
    import org.apache.spark.sql.functions._
    val root = mkTable("merge_del")
    sources.TxTable.buildDemoHistory(spark, root, sf0001)
    val v0 = sources.TxTable.currentVersion(root)
    val live = sources.TxTable.snapshot(spark, root).cache()
    // three-way source: matched+delete (every 30th key), matched+update
    // (the other matched multiples of 3), unmatched insert (keys %3==2,
    // absent from demo history which loads %3∈{0,1})
    val src = Tables.orders(spark, sf0001)
      .filter(col("o_orderkey") % 3 === 2 || col("o_orderkey") % 3 === 0)
      .select(col("o_orderkey"), col("o_custkey"),
        ((col("o_orderkey") % 1000).cast("double") + 0.25)
          .as("o_totalprice"),
        (col("o_orderkey") % 30 === 0).as("expire"))
    val wantDel = live.join(src.filter(col("expire")), Seq("o_orderkey"),
      "left_semi").select("o_orderkey").collect().map(_.getLong(0)).toSet
    assert(wantDel.nonEmpty, "fixture must exercise the delete clause")
    src.drop("expire").createOrReplaceTempView("spec_merge_del_src")
    // a tombstone (expiring source row) deletes its match and is never
    // inserted: an absent key's tombstone is a no-op
    val mergeDel: String => String = tbl =>
      s"""MERGE INTO $tbl t USING spec_merge_del_src m
         |ON t.o_orderkey = m.o_orderkey
         |WHEN MATCHED AND m.o_orderkey % 30 = 0 THEN DELETE
         |WHEN MATCHED THEN UPDATE SET o_totalprice = m.o_totalprice
         |WHEN NOT MATCHED AND m.o_orderkey % 30 != 0 THEN INSERT *
         |""".stripMargin
    def keys(df: org.apache.spark.sql.DataFrame) = df.select("o_orderkey")
    val (v, aff) = txDml(root)(mergeDel)
    // ONE commit: no intermediate version where any half is missing
    assert(v == v0 + 1, s"merge landed as $v, expected one commit")
    val after = sources.TxTable.snapshot(spark, root).cache()
    // inserted rows = keys present after the merge and absent before
    val nIns = keys(after).except(keys(live)).count()
    assert(aff.nonEmpty && nIns > 0, "fixture must exercise all 3 paths")
    // expired keys are gone…
    assert(after.filter(col("o_orderkey").isin(wantDel.toSeq: _*))
      .count() == 0, "a WHEN MATCHED DELETE row survived")
    // …while matched non-expired rows took the source payload…
    val updated = after.filter(col("o_orderkey") % 3 === 0)
      .withColumn("want", (col("o_orderkey") % 1000).cast("double") + 0.25)
    assert(updated.count() > 0 &&
      updated.filter(col("o_totalprice") =!= col("want")).count() == 0,
      "a matched row did not take the source payload")
    // …and a deleted key did NOT re-enter via the insert path (WHEN NOT
    // MATCHED only inserts source rows the delete clause spared)
    assert(after.count() == live.count() - wantDel.size + nIns)
    // CDC over the merge commit: rewritten keys emit as UPDATEs, expired
    // keys as deletes, appended keys as inserts — nothing swallowed
    val (ins, del, upd) =
      sources.TxTable.changeSets(spark, root, v0, v)
    assert(upd.map(_.count()).getOrElse(0L) > 0,
      "merge-rewritten keys must surface as CDC updates")
    assert(upd.get.filter(col("o_orderkey") % 3 =!= 0).count() == 0,
      "a non-updated key leaked into the CDC update set")
    val cdcDel = del.map(_.select("o_orderkey").collect()
      .map(_.getLong(0)).toSet).getOrElse(Set.empty)
    assert(wantDel.subsetOf(cdcDel),
      s"expired keys missing from CDC deletes: ${wantDel -- cdcDel}")
    assert(ins.map(_.count()).getOrElse(0L) == nIns,
      "CDC insert count disagrees with the merge's insert count")
    // idempotence: re-merging the same batch (at-least-once redelivery)
    // changes nothing — tombstones for absent keys are no-ops and the
    // delete clause keeps their rows out of the insert path
    val rows1 = after.orderBy("o_orderkey").collect().map(_.toSeq).toSeq
    txDml(root)(mergeDel): Unit
    val nIns2 = keys(sources.TxTable.snapshot(spark, root))
      .except(keys(after)).count()
    assert(nIns2 == 0, s"re-merge must insert nothing (got $nIns2)")
    assert(sources.TxTable.snapshot(spark, root)
      .orderBy("o_orderkey").collect().map(_.toSeq).toSeq == rows1,
      "re-merging the same batch changed the table state")
    live.unpersist(); after.unpersist(): Unit
  }

  test("TxTable type promotion: ALTER COLUMN TYPE is metadata-only, " +
      "pinned pre-promotion snapshots keep the narrow types, an " +
      "un-promoted widening append fails loudly, and a narrower " +
      "post-promotion append casts up at the write boundary") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    val root = mkTable("promo")
    sources.TxTable.buildPromoHistory(spark, root, sf0001)
    // the two promote commits are metadata-only: same file list as v1,
    // zero data files created
    val f1 = sources.TxTable.readManifest(root, 1).files
    assert(sources.TxTable.readManifest(root, 2).files == f1 &&
      sources.TxTable.readManifest(root, 3).files == f1,
      "a promote commit touched data files")
    // time travel ACROSS the type change: v1 keeps int/float, the
    // current schema is bigint/double
    val s1 = sources.TxTable.snapshot(spark, root, 1).schema
    assert(s1("units").dataType == IntegerType &&
      s1("rating").dataType == FloatType,
      s"pre-promotion snapshot widened: $s1")
    val cur = sources.TxTable.snapshot(spark, root)
    assert(cur.schema("units").dataType == LongType &&
      cur.schema("rating").dataType == DoubleType,
      s"promotion did not widen the current schema: ${cur.schema}")
    // era-1's narrow physical pages read back widened and EXACT
    val era1 = cur.filter(col("o_orderkey") % 3 === 0)
    assert(era1.count() > 0 &&
      era1.filter(col("units") =!= col("o_orderkey") % 100000)
        .count() == 0,
      "read-widened era-1 values drifted")
    // era-2 rows exceed 32 bits — representable only post-promotion
    assert(cur.filter(col("units") > Int.MaxValue.toLong).count() ==
      cur.filter(col("o_orderkey") % 3 === 1).count())
    // the Iceberg ALTER-before-write contract: an un-promoted widening
    // append fails loudly instead of silently drifting the type
    val root2 = mkTable("promo_strict")
    sources.TxTable.append(spark, root2,
      Tables.orders(spark, sf0001).limit(100)
        .select(col("o_orderkey"),
          (col("o_orderkey") % 10).cast("int").as("units"))): Unit
    val e = intercept[RuntimeException] {
      sources.TxTable.append(spark, root2,
        Tables.orders(spark, sf0001).limit(100)
          .select(col("o_orderkey"),
            (col("o_orderkey") % 10).as("units"))): Unit
    }
    assert(e.getMessage.contains("promote"), e.getMessage)
    // a NARROWER append after promotion casts up at the write boundary,
    // so files stay type-uniform going forward
    val v4 = sources.TxTable.append(spark, root,
      Tables.orders(spark, sf0001).filter(col("o_orderkey") % 3 === 2)
        .limit(50)
        .select(col("o_orderkey"), col("o_custkey"),
          (col("o_orderkey") % 100).cast("int").as("units"),
          (col("o_orderkey") % 5).cast("float").as("rating")))
    val v4new = sources.TxTable.dataEntries(
      sources.TxTable.readManifest(root, v4).files).toSet --
      sources.TxTable.dataEntries(
        sources.TxTable.readManifest(root, 3).files)
    assert(v4new.nonEmpty)
    v4new.foreach { f =>
      val sch = spark.read.parquet(s"$root/$f").schema
      assert(sch("units").dataType == LongType &&
        sch("rating").dataType == DoubleType,
        s"post-promotion append staged narrow physical types in $f")
    }
    // illegal type changes refused: narrowing and cross-family
    val e2 = intercept[IllegalArgumentException] {
      sources.TxTable.promoteColumnType(spark, root, "units", "int"): Unit
    }
    assert(e2.getMessage.contains("widening"))
    val e3 = intercept[IllegalArgumentException] {
      sources.TxTable.promoteColumnType(spark, root, "rating", "bigint")
        : Unit
    }
    assert(e3.getMessage.contains("widening"))
    // stats skipping still prunes on the promoted column (the stats
    // codec records int32 and int64 pages both as "long", so pre- and
    // post-promotion stats compare numerically in one domain)
    val (kept, all) = plannedAt(root, sources.TxTable.currentVersion(root),
      col("units") > lit(Int.MaxValue.toLong))
    assert(kept.size < all.size,
      s"promoted-column predicate pruned nothing: ${kept.size}/${all.size}")
  }

  private def batchScansOf(df: org.apache.spark.sql.DataFrame) =
    df.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec
        => b
    }

  test("TxTable DSv2 batch read: Catalyst filter pushdown drives " +
      "manifest stats skipping (fewer partitions than files), columns " +
      "prune into the scan, schema infers from the manifest, position " +
      "deletes apply in the reader, versionAsOf time travels, and the " +
      "scan reports post-skipping statistics") {
    import org.apache.spark.sql.functions._
    val root = mkTable("dsv2")
    sources.TxTable.buildDemoHistory(spark, root, sf0001)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("o_orderkey").collect().map(_.toSeq).toSeq

    // the demo history's states, recomputed from the source table
    val orders = Tables.orders(spark, sf0001)
      .select("o_orderkey", "o_custkey", "o_totalprice")
    val wantV2 = orders.filter(col("o_orderkey") % 3 < 2)
    val wantV3 = wantV2.filter(col("o_custkey") % 97 =!= 0)

    // schema inference from the manifest-tracked tblschema (no .schema)
    val full = spark.read.format("txtable").load(root)
    assert(full.columns.toSeq ==
      Seq("o_orderkey", "o_custkey", "o_totalprice"))
    assert(rows(full) == rows(wantV3),
      "DSv2 batch read diverged from the source recompute")
    // count() prunes every column; the reader must still count rows
    assert(full.count() == wantV3.count())

    // filter pushdown → file skipping: the filtered scan plans fewer
    // partitions than the table lists data files
    val cut = Tables.orders(spark, sf0001).agg(max("o_custkey")).head()
      .getAs[Number](0).longValue / 10
    val pred = col("o_custkey") <= cut
    val filtered = spark.read.format("txtable").load(root).filter(pred)
    val m = sources.TxTable.readManifest(root,
      sources.TxTable.currentVersion(root))
    val nData = sources.TxTable.dataEntries(m.files).size
    val scans = batchScansOf(filtered)
    assert(scans.nonEmpty, "no BatchScanExec in the plan")
    assert(scans.head.scan.description().contains("files planned"),
      scans.head.scan.description())
    val planned = filtered.rdd.getNumPartitions
    assert(planned > 0 && planned < nData,
      s"pushdown planned $planned of $nData files — must prune")
    assert(rows(filtered) == rows(wantV3.filter(pred)),
      "pushed-down read diverged from the source recompute")

    // column pruning narrows the scan's read schema
    val twoCol = spark.read.format("txtable").load(root)
      .select("o_orderkey", "o_totalprice")
    assert(batchScansOf(twoCol).head.scan.readSchema().fieldNames.toSeq ==
      Seq("o_orderkey", "o_totalprice"))
    assert(twoCol.count() == full.count())

    // the scan hands the optimizer post-skipping cardinality
    import org.apache.spark.sql.connector.read.SupportsReportStatistics
    val st = batchScansOf(filtered).head.scan
      .asInstanceOf[SupportsReportStatistics].estimateStatistics()
    assert(st.numRows().isPresent && st.sizeInBytes().isPresent)
    val keptRows = TxScanProbe.planned(filtered)._1
      .map(f => m.stats(f).rows).sum
    assert(st.numRows().getAsLong == keptRows,
      s"scan stats ${st.numRows()} != planned-file row sum $keptRows")

    // merge-on-read: a DV commit's position deletes apply IN the reader
    sources.TxTable.deleteVector(spark, root,
      col("o_orderkey") % 10 === 0): Unit
    val afterDv = spark.read.format("txtable").load(root)
    assert(afterDv.filter(col("o_orderkey") % 10 === 0).count() == 0,
      "reader served position-deleted rows")
    assert(rows(afterDv) ==
      rows(wantV3.filter(col("o_orderkey") % 10 =!= 0)),
      "DV-applied DSv2 read diverged from the source recompute")

    // versionAsOf: each version reads under its own manifest
    val v2 = spark.read.format("txtable").option("versionAsOf", "2")
      .load(root)
    assert(rows(v2) == rows(wantV2),
      "versionAsOf read diverged from the v2 recompute")

    // _commit_version is streaming provenance; batch rejects it loudly
    val e = intercept[Exception] {
      spark.read.format("txtable")
        .schema(org.apache.spark.sql.types.StructType(
          full.schema.fields :+ org.apache.spark.sql.types.StructField(
            "_commit_version", org.apache.spark.sql.types.IntegerType)))
        .load(root).collect(): Unit
    }
    assert(e.getMessage != null && e.getMessage.contains("_commit_version"),
      s"expected the batch CDF rejection, got: ${e.getMessage}")
  }

  test("TxTable DSv2 batch write: task-staged files land as ONE OCC " +
      "commit with skipping stats, overwrite truncates with time travel " +
      "intact, Catalyst enforces the schema contract, and fresh/" +
      "fresh targets are refused while partitioned targets route") {
    import org.apache.spark.sql.functions._
    val root = mkTable("dsv2w")
    val orders = Tables.orders(spark, sf0001)
      .select("o_orderkey", "o_custkey", "o_totalprice")
    sources.TxTable.append(spark, root,
      orders.filter(col("o_orderkey") % 3 === 0)): Unit
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("o_orderkey").collect().map(_.toSeq).toSeq

    // DSv2 append = one new version listing exactly the staged files
    orders.filter(col("o_orderkey") % 3 === 1).repartition(3)
      .write.format("txtable").mode("append").save(root)
    assert(sources.TxTable.currentVersion(root) == 2)
    val m2 = sources.TxTable.readManifest(root, 2)
    assert(m2.props.get("op").contains("append"))
    val v1Files = sources.TxTable.readManifest(root, 1).files.toSet
    val newFiles = sources.TxTable.dataEntries(m2.files)
      .filterNot(v1Files)
    assert(newFiles.size == 3,
      s"3 writer tasks must stage 3 files, got ${newFiles.size}")
    assert(newFiles.forall(f => f.startsWith("data/part-dsv2-") &&
      m2.stats.contains(f)),
      "a DSv2-written file is missing its manifest stats line")
    // no hidden in-progress files leak
    assert(new java.io.File(root, "data").listFiles()
      .forall(!_.getName.startsWith(".")), "hidden staged file leaked")
    // content: snapshot == both eras; round-trips through the DSv2 read
    assert(rows(sources.TxTable.snapshot(spark, root)) ==
      rows(orders.filter(col("o_orderkey") % 3 <= 1)))
    assert(rows(spark.read.format("txtable").load(root)) ==
      rows(orders.filter(col("o_orderkey") % 3 <= 1)))
    // skipping stats on the written files actually prune
    val (kept, all) = plannedAt(root, 2, col("o_orderkey") <= lit(-1L))
    assert(kept.isEmpty && all.nonEmpty,
      "written-file stats must support pruning")

    // overwrite: replaces the file list, old versions still time-travel
    val ow = orders.filter(col("o_orderkey") % 3 === 2)
    ow.write.format("txtable").mode("overwrite").save(root)
    val v3 = sources.TxTable.currentVersion(root)
    assert(sources.TxTable.readManifest(root, v3).props.get("op")
      .contains("overwrite"))
    assert(rows(sources.TxTable.snapshot(spark, root)) == rows(ow))
    assert(rows(sources.TxTable.snapshot(spark, root, 2)) ==
      rows(orders.filter(col("o_orderkey") % 3 <= 1)),
      "overwrite must not disturb the pinned pre-overwrite snapshot")

    // schema contract is the SOURCE's (save() hands the provider the
    // frame's own schema — no catalog validates): a column-set mismatch
    // fails loudly at plan time, the table schema always wins
    val mismatch = intercept[Exception] {
      orders.select(col("o_orderkey"), col("o_custkey"))
        .limit(5).write.format("txtable").mode("append").save(root)
    }
    assert(mismatch.getMessage != null &&
      mismatch.getMessage.contains("match the table schema"),
      s"column-set mismatch must refuse: ${mismatch.getMessage}")
    // a WIDER incoming column is refused pointing at promoteColumnType
    // (the ALTER-before-write contract, source-enforced)
    val intRoot = mkTable("dsv2w_int")
    sources.TxTable.append(spark, intRoot,
      orders.limit(20).select(col("o_orderkey"),
        (col("o_custkey") % 100).cast("int").as("units"))): Unit
    val wide = intercept[Exception] {
      orders.limit(5).select(col("o_orderkey"),
          col("o_custkey").as("units"))
        .write.format("txtable").mode("append").save(intRoot)
    }
    assert(wide.getMessage != null && wide.getMessage.contains("promote"),
      s"widening write must point at promoteColumnType: ${wide.getMessage}")
    // ...and a NARROWER numeric widens IN the writer: int values land
    // in the bigint column, and the staged file itself is wide (files
    // stay type-uniform — the write-boundary cast-up, executor-side)
    val preNarrow = sources.TxTable.readManifest(root,
      sources.TxTable.currentVersion(root)).files.toSet
    orders.limit(7).select(col("o_orderkey"),
        col("o_custkey").cast("int").as("o_custkey"),
        col("o_totalprice"))
      .write.format("txtable").mode("append").save(root)
    val narrowed = sources.TxTable.snapshot(spark, root)
    assert(narrowed.schema("o_custkey").dataType ==
      org.apache.spark.sql.types.LongType)
    assert(narrowed.count() == ow.count() + 7)
    val narrowNew = sources.TxTable.dataEntries(
      sources.TxTable.readManifest(root,
        sources.TxTable.currentVersion(root)).files)
      .filterNot(preNarrow)
    assert(narrowNew.nonEmpty)
    narrowNew.foreach { f =>
      assert(spark.read.parquet(s"$root/$f").schema("o_custkey")
        .dataType == org.apache.spark.sql.types.LongType,
        s"writer staged a narrow physical column in $f")
    }

    // loud boundaries: fresh table and partitioned table
    val fresh = mkTable("dsv2w_fresh")
    val eFresh = intercept[Exception] {
      orders.limit(3).write.format("txtable").mode("append").save(fresh)
    }
    assert(eFresh.getMessage != null &&
      (eFresh.getMessage.contains("bootstrap") ||
        eFresh.getMessage.contains("explicit .schema")),
      s"fresh-table write must point at the bootstrap: ${eFresh.getMessage}")
    // a PARTITIONED target routes the DSv2 write into its partition
    // directories (round 19 — the old loud refusal is closed)
    val partRoot = mkTable("dsv2w_part")
    sources.TxTable.buildPartHistory(spark, partRoot, sf0001)
    val before = sources.TxTable.snapshot(spark, partRoot).count()
    val firstRows = sources.TxTable.snapshot(spark, partRoot).limit(5)
    firstRows.write.format("txtable").mode("append").save(partRoot)
    assert(sources.TxTable.snapshot(spark, partRoot).count() ==
      before + 5)
    val mPart = sources.TxTable.readManifest(partRoot,
      sources.TxTable.currentVersion(partRoot))
    assert(mPart.files.filter(_.startsWith("data/"))
      .forall(_.matches("data/[^/=]+=[^/]*/[^/]+\\.parquet")),
      "DSv2 write to a partitioned table must land partition-routed " +
        s"files: ${mPart.files}")
  }

  test("one file encoder: the same rows staged by a DSv2 INSERT and by " +
      "library writeData carry the session codec, one physical schema " +
      "and INT64 TIMESTAMP_MICROS timestamps with min/max stats") {
    import org.apache.spark.sql.functions._
    import scala.jdk.CollectionConverters._
    import org.apache.parquet.schema.LogicalTypeAnnotation
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
    val root = mkTable("one_encoder")
    val rows = spark.range(0, 500).select(col("id").as("k"),
      (col("id") * 0.5).as("v"), concat(lit("s"), col("id")).as("s"),
      timestamp_seconds(col("id") * 3600).as("ts")).coalesce(1)
    rows.createOrReplaceTempView("one_encoder_src")
    sources.TxTable.createEmpty(root, rows.schema): Unit
    spark.sql(s"INSERT INTO ${sources.TxTable.pathTable(spark, root)} " +
      "SELECT * FROM one_encoder_src")
    val dsv2 = sources.TxTable.dataEntries(sources.TxTable.readManifest(
      root, sources.TxTable.currentVersion(root)).files)
    val lib = sources.TxTable.writeData(spark, root, rows)
    assert(dsv2.size == 1 && lib.size == 1,
      s"one task must stage one file per path: $dsv2 / $lib")
    def footer(rel: String) = {
      val rd = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(s"$root/$rel"),
          new org.apache.hadoop.conf.Configuration()))
      try rd.getFooter finally rd.close()
    }
    val codec = org.apache.parquet.hadoop.metadata.CompressionCodecName
      .valueOf(spark.conf.get("spark.sql.parquet.compression.codec")
        .toUpperCase)
    assert(codec.name == "SNAPPY", s"session codec is $codec, not the default")
    val footers = Seq(dsv2.head, lib.head).map(footer)
    footers.foreach { f =>
      val chunks = f.getBlocks.asScala.flatMap(_.getColumns.asScala)
      assert(chunks.nonEmpty && chunks.forall(_.getCodec == codec),
        s"file codecs ${chunks.map(_.getCodec).distinct} != $codec")
      val ts = f.getFileMetaData.getSchema.getFields.asScala
        .find(_.getName == "ts").get.asPrimitiveType
      assert(ts.getPrimitiveTypeName == PrimitiveTypeName.INT64 &&
        ts.getLogicalTypeAnnotation == LogicalTypeAnnotation.timestampType(
          true, LogicalTypeAnnotation.TimeUnit.MICROS),
        s"timestamp column written as $ts")
      val st = chunks.find(_.getPath.toDotString == "ts").get.getStatistics
      assert(st.hasNonNullValue &&
        st.genericGetMin == 0L && st.genericGetMax == 499L * 3600000000L,
        s"timestamp min/max stats missing or wrong: $st")
    }
    assert(footers(0).getFileMetaData.getSchema ==
      footers(1).getFileMetaData.getSchema,
      "the two write paths staged different physical schemas")
    // the DSv2 file is the committed one; the library file is staged
    // only, so it commits too and both read back as the same rows
    sources.TxTable.commit(root, "append", _ ++ lib): Unit
    val back = sources.TxTable.snapshot(spark, root)
      .groupBy("k", "v", "s", "ts").count()
    assert(back.count() == 500 && back.filter(col("count") =!= 2).isEmpty)
  }

  test("TxTable OPTIMIZE ZORDER: the cluster commit is content-neutral, " +
      "improves the pruning fraction on the scattered dimension, and " +
      "keeps the other dimension pruning") {
    import org.apache.spark.sql.functions._
    val root = mkTable("cluster")
    val orders = Tables.orders(spark, sf0001)
      .select("o_orderkey", "o_custkey", "o_totalprice")
    sources.TxTable.append(spark, root,
      orders.filter(col("o_orderkey") % 2 === 0)
        .repartitionByRange(8, col("o_orderkey"))): Unit
    sources.TxTable.append(spark, root,
      orders.filter(col("o_orderkey") % 2 === 1)
        .repartitionByRange(8, col("o_orderkey"))): Unit
    val cut = orders.agg(max("o_custkey")).head()
      .getAs[Number](0).longValue / 10
    val pred = col("o_custkey") <= cut
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("o_orderkey").collect().map(_.toSeq).toSeq
    val before = rows(sources.TxTable.snapshot(spark, root))
    val mBefore = sources.TxTable.readManifest(root,
      sources.TxTable.currentVersion(root))
    val (keptB, allB) = plannedAt(root, mBefore.version, pred)
    // ingest order scatters custkey: the predicate prunes (almost)
    // nothing before the optimize
    assert(keptB.size >= allB.size - 1,
      s"fixture invalid: ingest layout already prunes " +
        s"(${keptB.size}/${allB.size})")

    sources.TxTable.clusterBy(spark, root,
      "o_custkey", "o_orderkey", 16): Unit
    val mAfter = sources.TxTable.readManifest(root,
      sources.TxTable.currentVersion(root))
    assert(mAfter.props.get("op").contains("cluster"))
    // content-neutral: same rows, byte-shape only
    assert(rows(sources.TxTable.snapshot(spark, root)) == before,
      "OPTIMIZE changed table content")
    // the scattered dimension now prunes: strictly better fraction
    val (keptA, allA) = plannedAt(root, mAfter.version, pred)
    assert(keptA.size.toDouble / allA.size <
      0.5 * keptB.size.toDouble / allB.size,
      s"clustering must improve custkey pruning: " +
        s"${keptA.size}/${allA.size} after vs ${keptB.size}/${allB.size}")
    // the Z-curve keeps BOTH dimensions: an orderkey slice still prunes
    val okCut = orders.agg(max("o_orderkey")).head()
      .getAs[Number](0).longValue / 10
    val (keptOk, allOk) = plannedAt(root, mAfter.version,
      col("o_orderkey") <= okCut)
    assert(keptOk.size < allOk.size,
      s"Z-order lost the orderkey dimension: ${keptOk.size}/${allOk.size}")

    // (the conflict-check + abort-reclaim path is byte-identical in
    // shape to compaction's, pinned by the compact abort spec)
  }

  test("TxTable metadata conflict check: a write planned against one " +
      "schema/column-mapping refuses to commit after a concurrent " +
      "rename, and the refused epoch's staging is reclaimed") {
    import org.apache.spark.sql.functions._
    val root = mkTable("metaconflict")
    val orders = Tables.orders(spark, sf0001)
      .select("o_orderkey", "o_custkey", "o_totalprice")
    sources.TxTable.append(spark, root, orders.limit(50)): Unit
    // snapshot the schema props a write would plan against NOW
    val planned = sources.TxTable.readManifest(root, 1).props
      .filter { case (k, _) => sources.TxTable.SchemaProps(k) }
    def check(cur: Map[String, String]): Unit = {
      val now = cur.filter { case (k, _) =>
        sources.TxTable.SchemaProps(k) }
      if (now != planned) sys.error("schema/column-mapping changed " +
        "concurrently — aborting")
    }
    // no conflict: the guarded epoch commits normally
    val s1 = sources.TxTable.writeData(spark, root, orders.limit(5))
    assert(sources.TxTable.commitEpoch(root, 0L, s1, check))
    // a RENAME lands (metadata-only — same file list, so a file-list
    // conflict check would wave it through)
    sources.TxTable.renameColumn(spark, root, "o_custkey", "owner_id")
      : Unit
    val nFiles = new java.io.File(root, "data").list().length
    val s2 = sources.TxTable.writeData(spark, root, orders.limit(5))
    val e = intercept[RuntimeException] {
      sources.TxTable.commitEpoch(root, 1L, s2, check)
    }
    assert(e.getMessage.contains("concurrently"), e.getMessage)
    assert(new java.io.File(root, "data").list().length == nFiles,
      "the refused epoch leaked its staged files")
    assert(sources.TxTable.currentVersion(root) == 3,
      "the refused epoch landed a version") // v1 load, v2 epoch, v3 rename
  }

  test("TxTable SQL catalog: CREATE is a zero-file schema commit, " +
      "INSERT validates through the engine, VERSION AS OF time-travels " +
      "in SQL, the same root serves all three surfaces, and DROP/ALTER " +
      "behave") {
    import org.apache.spark.sql.functions._
    val wh = graft.Scratch.dir("txtable", "spec_sqlcat")
    new java.io.File(wh).mkdirs()
    spark.conf.set("spark.sql.catalog.spec_tx",
      classOf[graft.streaming.TxTableCatalog].getName)
    spark.conf.set("spark.sql.catalog.spec_tx.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS spec_tx.db")
    spark.sql("""CREATE TABLE spec_tx.db.t
                |(o_orderkey BIGINT, o_custkey BIGINT,
                | o_totalprice DOUBLE)""".stripMargin)
    val root = s"$wh/db/t"
    // CREATE = one manifest, zero data files, schema readable
    val m1 = sources.TxTable.readManifest(root, 1)
    assert(m1.files.isEmpty && m1.props.get("op").contains("create"))
    assert(spark.sql("SELECT * FROM spec_tx.db.t").count() == 0)
    assert(spark.sql("SELECT * FROM spec_tx.db.t").columns.toSeq ==
      Seq("o_orderkey", "o_custkey", "o_totalprice"))

    val orders = Tables.orders(spark, sf0001)
      .select("o_orderkey", "o_custkey", "o_totalprice")
    orders.createOrReplaceTempView("spec_sql_src")
    spark.sql("""INSERT INTO spec_tx.db.t
                |SELECT * FROM spec_sql_src
                |WHERE o_orderkey % 3 = 0""".stripMargin)
    spark.sql("""INSERT INTO spec_tx.db.t
                |SELECT * FROM spec_sql_src
                |WHERE o_orderkey % 3 = 1""".stripMargin)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("o_orderkey").collect().map(_.toSeq).toSeq
    // one format, three surfaces over the SAME root
    val sqlRead = spark.sql("SELECT * FROM spec_tx.db.t")
    assert(rows(sqlRead) == rows(sources.TxTable.snapshot(spark, root)))
    assert(rows(sqlRead) ==
      rows(spark.read.format("txtable").load(root)))
    assert(rows(sqlRead) ==
      rows(orders.filter(col("o_orderkey") % 3 <= 1)))

    // the engine validates INSERT against the CATALOG schema: a frame
    // with too few columns is an analysis error, before any staging
    val filesBefore = new java.io.File(root, "data").list().length
    val bad = intercept[Exception] {
      spark.sql("""INSERT INTO spec_tx.db.t
                  |SELECT o_orderkey, o_custkey FROM spec_sql_src
                  |LIMIT 3""".stripMargin)
    }
    assert(bad.getMessage != null)
    assert(new java.io.File(root, "data").list().length == filesBefore,
      "a refused INSERT staged files")

    // positional INSERT: literal VALUES carry no names — the engine's
    // output resolution renames them to the table attributes before
    // the write's name-set validation sees them
    spark.sql(
      "INSERT INTO spec_tx.db.t VALUES (900000001, 7, 1.25)")
    assert(spark.sql("SELECT o_custkey FROM spec_tx.db.t " +
      "WHERE o_orderkey = 900000001").collect().map(_.getLong(0)).toSeq
      == Seq(7L))

    // VERSION AS OF in plain SQL: v2 = first insert only
    assert(rows(spark.sql(
      "SELECT * FROM spec_tx.db.t VERSION AS OF 2")) ==
      rows(orders.filter(col("o_orderkey") % 3 === 0)))
    // TIMESTAMP AS OF: the manifest file's mtime IS the commit time —
    // an instant just after v2 landed resolves to v2
    val t2 = new java.io.File(s"$root/_txlog/v2").lastModified()
    val iso = java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd HH:mm:ss.SSS")
      .withZone(java.time.ZoneId.systemDefault())
      .format(java.time.Instant.ofEpochMilli(t2))
    assert(rows(spark.sql(
      s"SELECT * FROM spec_tx.db.t TIMESTAMP AS OF '$iso'")) ==
      rows(orders.filter(col("o_orderkey") % 3 === 0)),
      "TIMESTAMP AS OF did not resolve to the commit at that instant")
    // an instant before the table existed fails loudly
    assert(intercept[Exception] {
      spark.sql("SELECT * FROM spec_tx.db.t " +
        "TIMESTAMP AS OF '1999-01-01 00:00:00'").collect()
    }.getMessage != null)
    // a pinned table refuses writes
    val pinnedWrite = intercept[Exception] {
      spark.sql("""INSERT INTO spec_tx.db.t VERSION AS OF 2
                  |SELECT * FROM spec_sql_src LIMIT 1""".stripMargin)
    }
    assert(pinnedWrite.getMessage != null)

    // INSERT OVERWRITE truncates through the same commit protocol
    spark.sql("""INSERT OVERWRITE spec_tx.db.t
                |SELECT * FROM spec_sql_src
                |WHERE o_orderkey % 3 = 2""".stripMargin)
    assert(rows(spark.sql("SELECT * FROM spec_tx.db.t")) ==
      rows(orders.filter(col("o_orderkey") % 3 === 2)))

    // SQL ALTER TABLE == the library's metadata-only evolution commits
    // (round 19): RENAME lands a colmap commit, time travel across it
    // serves the pre-rename name, ADD COLUMN NULL-backfills, ALTER
    // COLUMN TYPE widens — all with ZERO data files touched
    val vA = sources.TxTable.currentVersion(root)
    val filesA = sources.TxTable.readManifest(root, vA).files
    spark.sql("ALTER TABLE spec_tx.db.t RENAME COLUMN o_custkey TO cust")
    assert(spark.sql("SELECT * FROM spec_tx.db.t").columns.toSeq ==
      Seq("o_orderkey", "cust", "o_totalprice"))
    val mRen = sources.TxTable.readManifest(root, vA + 1)
    assert(mRen.props.get("op").contains("rename") &&
      mRen.files == filesA, "SQL RENAME must be the library's " +
        "metadata-only colmap commit (zero file churn)")
    assert(spark.sql(
      s"SELECT * FROM spec_tx.db.t VERSION AS OF $vA").columns.toSeq ==
      Seq("o_orderkey", "o_custkey", "o_totalprice"),
      "time travel across a SQL rename must serve the old name")
    spark.sql("ALTER TABLE spec_tx.db.t ADD COLUMN units INT")
    assert(spark.sql("SELECT units FROM spec_tx.db.t WHERE units IS " +
      "NOT NULL").count() == 0, "ADD COLUMN must NULL-backfill")
    spark.sql("ALTER TABLE spec_tx.db.t ALTER COLUMN units TYPE BIGINT")
    assert(spark.sql("SELECT * FROM spec_tx.db.t").schema("units")
      .dataType == org.apache.spark.sql.types.LongType)
    val mProm = sources.TxTable.readManifest(
      root, sources.TxTable.currentVersion(root))
    assert(mProm.props.get("op").contains("promote") &&
      mProm.files == filesA, "SQL type widening must be the library's " +
        "metadata-only promote commit")
    // narrowing refuses loudly (the promotion lattice is one-way)
    assert(intercept[Exception] {
      spark.sql("ALTER TABLE spec_tx.db.t ALTER COLUMN units TYPE INT")
    }.getMessage != null)
    spark.sql("ALTER TABLE spec_tx.db.t DROP COLUMN units")
    assert(!spark.sql("SELECT * FROM spec_tx.db.t").columns
      .contains("units"))

    // listing + DROP
    assert(spark.sql("SHOW TABLES IN spec_tx.db").collect()
      .map(_.getString(1)).contains("t"))
    spark.sql("DROP TABLE spec_tx.db.t")
    assert(!new java.io.File(root).exists())
    assert(intercept[Exception] {
      spark.sql("SELECT * FROM spec_tx.db.t").collect()
    }.getMessage != null)
  }

  test("a pruned snapshot read serves the manifest-tracked schema: " +
      "kept files read evolved and promoted, and the all-pruned read " +
      "keeps the same schema (ADVICE r18)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val root = graft.Scratch.dir("txtable", "spec_swschema")
    graft.Scratch.deleteRec(new java.io.File(root))
    sources.TxTable.init(root)
    sources.TxTable.append(spark,
      root, Seq((1, 10.0f), (2, 20.0f)).toDF("k", "x"))
    // promote int→bigint, float→double: old files stay narrow on disk
    sources.TxTable.promoteColumnType(spark, root, "k", "bigint")
    sources.TxTable.promoteColumnType(spark, root, "x", "double")
    // evolve: a later append adds column `lang` — the first file
    // physically lacks it
    sources.TxTable.append(spark,
      root, Seq((3L, 30.0, "en"), (4L, 40.0, "de")).toDF("k", "x", "lang"))
    val pred = col("k") <= 3
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("k").collect().map(_.toSeq).toSeq
    val v = sources.TxTable.currentVersion(root)
    val pruned = sources.TxTable.snapshot(spark, root).filter(pred)
    // the evolved, promoted schema — driver-side expected values
    import org.apache.spark.sql.types._
    val want = StructType(Seq(StructField("k", LongType),
      StructField("x", DoubleType), StructField("lang", StringType)))
    assert(pruned.schema == want,
      s"pruned-read schema drifted: ${pruned.schema.catalogString}")
    assert(rows(pruned) == Seq(Seq[Any](1L, 10.0, null),
      Seq[Any](2L, 20.0, null), Seq[Any](3L, 30.0, "en")))
    // the all-pruned read serves the SAME (evolved, promoted) schema
    val none = sources.TxTable.snapshot(spark, root).filter(col("k") > 99)
    assert(plannedAt(root, v, col("k") > 99)._1.isEmpty,
      "k > 99 must prune every file")
    assert(none.schema == want && none.count() == 0)
  }

  test("append replans when a metadata commit (promote) lands between " +
      "schema planning and the OCC commit — the promotion is NOT " +
      "reverted by the append's stale props (ADVICE r18)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // two layouts through the one append loop: flat, and partitioned by
    // `p` (a partitioned append replans the same way)
    for (part <- Seq(false, true)) {
      val root = graft.Scratch.dir("txtable",
        if (part) "spec_metarace_part" else "spec_metarace")
      graft.Scratch.deleteRec(new java.io.File(root))
      sources.TxTable.init(root)
      def append(df: org.apache.spark.sql.DataFrame): Int =
        if (part) sources.TxTable.appendPartitioned(spark, root,
          df.withColumn("p", lit("a")), "p")
        else sources.TxTable.append(spark, root, df)
      append(Seq((1, 5)).toDF("k", "v"))
      // a UDF that fires a CONCURRENT promote while the append is
      // staging its files — i.e. after the append planned its schema
      // props but before its commit attempt (local mode: the UDF runs
      // in-JVM)
      val fired = new java.util.concurrent.atomic.AtomicBoolean(false)
      val sneak = udf { (x: Int) =>
        if (fired.compareAndSet(false, true)) {
          sources.TxTable.promoteColumnType(spark, root, "v", "bigint")
            : Unit
        }
        x
      }
      val df = Seq((2, 7)).toDF("k", "v")
        .withColumn("v", sneak(col("v")).cast("int"))
      append(df)
      val m = sources.TxTable.readManifest(
        root, sources.TxTable.currentVersion(root))
      val schema = sources.TxTable.schemaOf(m).get
      assert(schema("v").dataType ==
        org.apache.spark.sql.types.LongType,
        s"append's stale schema props reverted the concurrent promotion " +
          s"(partitioned=$part)")
      if (part) assert(sources.TxTable.dataEntries(m.files)
        .forall(_.startsWith("data/p=a/")),
        s"the replanned partitioned append lost its layout: ${m.files}")
      val got = sources.TxTable.snapshot(spark, root)
        .select("k", "v").orderBy("k").collect().map(_.toSeq).toSeq
      assert(got == Seq(Seq(1L, 5L), Seq(2L, 7L))
        .map(_.map(_.asInstanceOf[Any])) ||
        got.map(_.map(_.toString)) ==
          Seq(Seq("1", "5"), Seq("2", "7")))
    }
  }

  test("string pruning compares parquet stats in unsigned UTF-8 order, " +
      "not JVM UTF-16 order: supplementary-plane values are never " +
      "wrongly pruned (ADVICE r18)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val root = graft.Scratch.dir("txtable", "spec_u8prune")
    graft.Scratch.deleteRec(new java.io.File(root))
    sources.TxTable.init(root)
    // one file holding only a supplementary-plane value: UTF-16 order
    // says "😀" < "�" (surrogate 0xD83D < 0xFFFD), but
    // Spark/parquet binary order says the opposite (UTF-8 F0 9F … >
    // EF BF BD) — pruning in String order would drop the matching file
    sources.TxTable.append(spark, root,
      Seq(("😀", 1L)).toDF("s", "n"))
    sources.TxTable.append(spark, root,
      Seq(("aaa", 2L)).toDF("s", "n"))
    val pred = col("s") > "�"
    // Spark's own binary order keeps the emoji row: exactly one match
    val (kept, all) = plannedAt(root, 2, pred)
    assert(kept.size == 1 && all.size == 2,
      s"unsound pruning: planned ${kept.size}/${all.size}")
    assert(sources.TxTable.snapshot(spark, root).filter(pred)
      .collect().map(_.toSeq).toSeq == Seq(Seq[Any]("😀", 1L)),
      "unsound pruning: stats skipping dropped a matching file")
  }

  test("a malformed manifest stats line degrades to no-stats instead " +
      "of poisoning the table (ADVICE r18)") {
    import spark.implicits._
    val root = graft.Scratch.dir("txtable", "spec_badstats")
    graft.Scratch.deleteRec(new java.io.File(root))
    sources.TxTable.init(root)
    sources.TxTable.append(spark, root, Seq((1, "a")).toDF("k", "s"))
    val v = sources.TxTable.currentVersion(root)
    val mf = new java.io.File(root, s"_txlog/v$v").toPath
    // simulate a stats field whose min token is not valid base64 (the
    // shape a separator-bearing column name would have produced)
    java.nio.file.Files.write(mf,
      "\n#s\tdata/zzz.parquet\t1\tbad,name,!!notb64!!,alsobad"
        .getBytes(java.nio.charset.StandardCharsets.UTF_8),
      java.nio.file.StandardOpenOption.APPEND): Unit
    val m = sources.TxTable.readManifest(root, v)
    assert(m.files.nonEmpty, "file list must survive a bad stats line")
    assert(!m.stats.contains("data/zzz.parquet"),
      "malformed stats line should be dropped, not decoded")
    // the table stays fully readable
    assert(sources.TxTable.snapshot(spark, root).count() == 1L)
  }

  test("path-table identifiers: graft_tx.`<absolute root>` serves " +
      "SELECT and row-level DML on a library-built table; a relative " +
      "path is still refused by the segment check") {
    import org.apache.spark.sql.functions._
    val root = mkTable("pathident")
    sources.TxTable.appendDemoLoads(spark, root, sf0001)
    val tbl = sources.TxTable.pathTable(spark, root)
    assert(tbl == s"graft_tx.`$root`")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("o_orderkey").collect().map(_.toSeq).toSeq
    assert(rows(spark.sql(s"SELECT * FROM $tbl")) ==
      rows(sources.TxTable.snapshot(spark, root)))
    val before = sources.TxTable.snapshot(spark, root).cache()
    spark.sql(s"UPDATE $tbl SET o_totalprice = -1.0 WHERE o_orderkey % 5 = 0")
    spark.sql(s"DELETE FROM $tbl WHERE o_custkey % 11 = 0")
    assert(sources.TxTable.versions(root) == Seq(1, 2, 3, 4))
    assert((3 to 4).map(v => sources.TxTable.readManifest(root, v)
      .props("op")) == Seq("update", "delete"))
    val want = before.filter(col("o_custkey") % 11 =!= 0)
      .withColumn("o_totalprice", when(col("o_orderkey") % 5 === 0,
        lit(-1.0)).otherwise(col("o_totalprice")))
    assert(rows(spark.sql(s"SELECT * FROM $tbl")) == rows(want))
    before.unpersist(): Unit
    // only an ABSOLUTE one-part name is a path; anything else is a
    // warehouse identifier and keeps the segment check
    val e = intercept[Exception](
      spark.sql("SELECT * FROM graft_tx.`txtable/spec_pathident`")
        .collect())
    assert(e.getMessage.contains("[A-Za-z0-9_]+ segments"),
      s"a relative path escaped the segment check: ${e.getMessage}")
  }

  test("SQL row-level DML: DELETE takes the metadata DV fast path on " +
      "convertible predicates and the group rewrite on subqueries, " +
      "UPDATE rewrites only stats-matching files, MERGE INTO equals " +
      "the driver-side expected state, TRUNCATE is one commit (round 19)") {
    import org.apache.spark.sql.functions._
    val wh = graft.Scratch.dir("txtable", "spec_dml")
    graft.Scratch.deleteRec(new java.io.File(wh))
    new java.io.File(wh).mkdirs()
    spark.conf.set("spark.sql.catalog.dml_tx",
      classOf[graft.streaming.TxTableCatalog].getName)
    spark.conf.set("spark.sql.catalog.dml_tx.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS dml_tx.db")
    val orders = Tables.orders(spark, sf0001)
      .select("o_orderkey", "o_custkey", "o_totalprice")
    orders.createOrReplaceTempView("spec_dml_src")
    spark.sql("""CREATE TABLE dml_tx.db.t AS
                |SELECT * FROM spec_dml_src""".stripMargin)
    val root = s"$wh/db/t"
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("o_orderkey").collect().map(_.toSeq).toSeq
    // mirror frame of expected state, evolved alongside the SQL
    var expect = orders.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq

    // 1. DELETE with a fully convertible predicate → the METADATA
    //    fast path: a position-delete commit (op delete-dv), zero data
    //    files removed from the manifest
    val vBefore = sources.TxTable.currentVersion(root)
    val dataBefore = sources.TxTable.readManifest(root, vBefore)
      .files.filter(_.startsWith("data/")).toSet
    spark.sql("DELETE FROM dml_tx.db.t " +
      "WHERE o_custkey <= 40 OR o_custkey IN (77, 78)")
    expect = expect.filterNot(t =>
      t._2 <= 40 || t._2 == 77 || t._2 == 78)
    val mDv = sources.TxTable.readManifest(
      root, sources.TxTable.currentVersion(root))
    assert(mDv.props.get("op").contains("delete-dv"),
      s"convertible DELETE must take the DV fast path, op was " +
        s"${mDv.props.get("op")}")
    assert(mDv.files.filter(_.startsWith("data/")).toSet == dataBefore,
      "DV delete must not rewrite or remove data files")
    assert(rows(spark.sql("SELECT * FROM dml_tx.db.t")) ==
      expect.sortBy(_._1).map(t => Seq[Any](t._1, t._2, t._3)))

    // 2. DELETE with a subquery condition → the group-based rewrite
    //    (op delete), which also absorbs the DV from step 1
    spark.sql("""DELETE FROM dml_tx.db.t
                |WHERE o_custkey IN (SELECT o_custkey FROM spec_dml_src
                |                    WHERE o_orderkey % 100 = 7)""".stripMargin)
    val badCust = orders.filter(col("o_orderkey") % 100 === 7)
      .select("o_custkey").collect().map(_.getLong(0)).toSet
    expect = expect.filterNot(t => badCust(t._2))
    val mGrp = sources.TxTable.readManifest(
      root, sources.TxTable.currentVersion(root))
    assert(mGrp.props.get("op").contains("delete"),
      s"subquery DELETE must take the group rewrite, op was " +
        s"${mGrp.props.get("op")}")
    assert(rows(spark.sql("SELECT * FROM dml_tx.db.t")) ==
      expect.sortBy(_._1).map(t => Seq[Any](t._1, t._2, t._3)))

    // 3. UPDATE — merge-on-read, and its scan is FILE PRUNING: make the
    //    table multi-file with disjoint key ranges first, then update
    //    one range and check untouched ranges' files survive verbatim
    //    and only the matching file is addressed
    spark.sql("""UPDATE dml_tx.db.t SET o_totalprice = o_totalprice * 2
                |WHERE o_orderkey % 5 = 0""".stripMargin)
    expect = expect.map(t =>
      if (t._1 % 5 == 0) (t._1, t._2, t._3 * 2) else t)
    assert(rows(spark.sql("SELECT * FROM dml_tx.db.t")) ==
      expect.sortBy(_._1).map(t => Seq[Any](t._1, t._2, t._3)))
    val mUpd = sources.TxTable.readManifest(
      root, sources.TxTable.currentVersion(root))
    assert(mUpd.props.get("op").contains("update"))

    // file pruning evidence: append a disjoint high range as its own
    // file, then UPDATE only that range — the low files must survive
    val preFiles = sources.TxTable.readManifest(
      root, sources.TxTable.currentVersion(root))
      .files.filter(_.startsWith("data/")).toSet
    spark.sql("""INSERT INTO dml_tx.db.t
                |SELECT o_orderkey + 900000000, o_custkey, o_totalprice
                |FROM spec_dml_src LIMIT 50""".stripMargin)
    val mIns = sources.TxTable.readManifest(
      root, sources.TxTable.currentVersion(root))
    val highFile = mIns.files.filter(_.startsWith("data/")).toSet -- preFiles
    spark.sql("""UPDATE dml_tx.db.t SET o_totalprice = 0.0
                |WHERE o_orderkey >= 900000000""".stripMargin)
    val mUpd2 = sources.TxTable.readManifest(
      root, sources.TxTable.currentVersion(root))
    assert(preFiles.subsetOf(
      mUpd2.files.filter(_.startsWith("data/")).toSet),
      "an UPDATE outside the old files' key ranges must not rewrite " +
        "them (group selection = stats pruning)")
    val newDvs = sources.TxTable.deleteEntries(mUpd2.files).toSet --
      sources.TxTable.deleteEntries(mIns.files)
    assert(highFile.size == 1 && newDvs.nonEmpty && newDvs.forall { f =>
      val c = sources.TxTable.computeStats(root, f,
        spark.sparkContext.hadoopConfiguration).cols("fname")
      Set(c.min, c.max) == highFile.map(_.stripPrefix("data/"))
    }, "the UPDATE must address only the file holding its keys")
    spark.sql("DELETE FROM dml_tx.db.t WHERE o_orderkey >= 900000000")

    // 4. MERGE INTO == the library-computed expectation: updates hit,
    //    inserts append, one atomic commit
    orders.filter(col("o_orderkey") % 7 === 0)
      .select(col("o_orderkey"),
        col("o_custkey"),
        lit(-1.0).as("o_totalprice"))
      .unionByName(
        spark.range(3).select(
          (col("id") + 950000000L).as("o_orderkey"),
          lit(1L).as("o_custkey"), lit(9.9).as("o_totalprice")))
      .createOrReplaceTempView("spec_dml_merge_src")
    spark.sql("""MERGE INTO dml_tx.db.t t USING spec_dml_merge_src s
                |ON t.o_orderkey = s.o_orderkey
                |WHEN MATCHED THEN UPDATE SET
                |  o_totalprice = s.o_totalprice
                |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val present = expect.map(_._1).toSet
    expect = expect.map(t =>
      if (t._1 % 7 == 0) (t._1, t._2, -1.0) else t) ++
      (0 until 3).map(i => (950000000L + i, 1L, 9.9)) ++
      orders.filter(col("o_orderkey") % 7 === 0).collect()
        .map(r => (r.getLong(0), r.getLong(1), -1.0))
        .filterNot(t => present(t._1))
    val mMrg = sources.TxTable.readManifest(
      root, sources.TxTable.currentVersion(root))
    assert(mMrg.props.get("op").contains("merge"))
    assert(rows(spark.sql("SELECT * FROM dml_tx.db.t")) ==
      expect.sortBy(_._1).map(t => Seq[Any](t._1, t._2, t._3)))

    // 5. TRUNCATE: one overwrite-to-empty commit, schema intact,
    //    history time-travelable
    val vPre = sources.TxTable.currentVersion(root)
    spark.sql("TRUNCATE TABLE dml_tx.db.t")
    assert(spark.sql("SELECT * FROM dml_tx.db.t").count() == 0)
    assert(spark.sql("SELECT * FROM dml_tx.db.t").columns.toSeq ==
      Seq("o_orderkey", "o_custkey", "o_totalprice"))
    assert(spark.sql(
      s"SELECT * FROM dml_tx.db.t VERSION AS OF $vPre").count() ==
      expect.size.toLong)
    spark.sql("DROP TABLE dml_tx.db.t")
  }

  test("MERGE conditional clauses: WHEN MATCHED AND cond THEN DELETE, " +
      "unconditional UPDATE fallback, WHEN NOT MATCHED AND cond INSERT " +
      "— one atomic commit (round 19)") {
    import spark.implicits._
    val wh = graft.Scratch.dir("txtable", "spec_mergecond")
    graft.Scratch.deleteRec(new java.io.File(wh))
    new java.io.File(wh).mkdirs()
    spark.conf.set("spark.sql.catalog.mc_tx",
      classOf[graft.streaming.TxTableCatalog].getName)
    spark.conf.set("spark.sql.catalog.mc_tx.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS mc_tx.db")
    Seq((1L, 10.0), (2L, 20.0), (3L, 30.0), (4L, 40.0))
      .toDF("k", "v").createOrReplaceTempView("mc_base")
    spark.sql("CREATE TABLE mc_tx.db.t AS SELECT * FROM mc_base")
    // source: k=1 (v<0 → DELETE), k=2 (v≥0 → UPDATE),
    //         k=9 (v>100 → INSERT), k=8 (v≤100 → dropped)
    Seq((1L, -1.0), (2L, 22.0), (9L, 999.0), (8L, 5.0))
      .toDF("k", "v").createOrReplaceTempView("mc_src")
    val vBefore = sources.TxTable.currentVersion(s"$wh/db/t")
    spark.sql("""MERGE INTO mc_tx.db.t t USING mc_src s
                |ON t.k = s.k
                |WHEN MATCHED AND s.v < 0 THEN DELETE
                |WHEN MATCHED THEN UPDATE SET v = s.v
                |WHEN NOT MATCHED AND s.v > 100 THEN INSERT *
                |""".stripMargin)
    assert(sources.TxTable.currentVersion(s"$wh/db/t") == vBefore + 1,
      "a multi-clause MERGE must land as ONE commit")
    val got = spark.sql("SELECT * FROM mc_tx.db.t").orderBy("k")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == Seq((2L, 22.0), (3L, 30.0), (4L, 40.0), (9L, 999.0)),
      s"conditional MERGE produced $got")
    spark.sql("DROP TABLE mc_tx.db.t")
  }

  test("MERGE WHEN NOT MATCHED BY SOURCE lands as ONE commit and " +
      "deletes exactly the source-absent matches (round 20, the " +
      "CDC-sync clause)") {
    import spark.implicits._
    val wh = graft.Scratch.dir("txtable", "spec_cdcmerge")
    graft.Scratch.deleteRec(new java.io.File(wh))
    new java.io.File(wh).mkdirs()
    spark.conf.set("spark.sql.catalog.cdc_tx",
      classOf[graft.streaming.TxTableCatalog].getName)
    spark.conf.set("spark.sql.catalog.cdc_tx.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS cdc_tx.db")
    Seq((1L, 10.0), (2L, 20.0), (3L, 30.0), (4L, 40.0), (5L, 50.0))
      .toDF("k", "v").createOrReplaceTempView("cdcm_base")
    spark.sql("CREATE TABLE cdc_tx.db.t AS SELECT * FROM cdcm_base")
    // source snapshot: k=2 (update), k=9 (insert); 1,3,4,5 are absent —
    // absent AND k%2=1 (1,3,5) expire, 4 survives
    Seq((2L, 22.0), (9L, 99.0)).toDF("k", "v")
      .createOrReplaceTempView("cdcm_src")
    val root = s"$wh/db/t"
    val vBefore = sources.TxTable.currentVersion(root)
    spark.sql("""MERGE INTO cdc_tx.db.t t USING cdcm_src s
                |ON t.k = s.k
                |WHEN MATCHED THEN UPDATE SET v = s.v
                |WHEN NOT MATCHED THEN INSERT *
                |WHEN NOT MATCHED BY SOURCE AND t.k % 2 = 1 THEN DELETE
                |""".stripMargin)
    assert(sources.TxTable.currentVersion(root) == vBefore + 1,
      "a CDC MERGE must land as ONE commit")
    assert(sources.TxTable.readManifest(root, vBefore + 1).props
      .get("op").contains("merge"))
    val got = spark.sql("SELECT * FROM cdc_tx.db.t").orderBy("k")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == Seq((2L, 22.0), (4L, 40.0), (9L, 99.0)),
      s"CDC merge produced $got")
    spark.sql("DROP TABLE cdc_tx.db.t")
  }

  test("SQL CALL procedures: OPTIMIZE matches the library clusterBy " +
      "commit, VACUUM prunes retention, RESTORE republishes a retained " +
      "version (round 20)") {
    import org.apache.spark.sql.functions._
    val wh = graft.Scratch.dir("txtable", "spec_proc")
    graft.Scratch.deleteRec(new java.io.File(wh))
    new java.io.File(wh).mkdirs()
    spark.conf.set("spark.sql.catalog.proc_tx",
      classOf[graft.streaming.TxTableCatalog].getName)
    spark.conf.set("spark.sql.catalog.proc_tx.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS proc_tx.db")
    spark.range(0, 2000)
      .select(col("id").as("k"), (col("id") % 37).as("g"))
      .createOrReplaceTempView("proc_src")
    spark.sql("CREATE TABLE proc_tx.db.t (k BIGINT, g BIGINT)")
    spark.sql("INSERT INTO proc_tx.db.t SELECT * FROM proc_src " +
      "WHERE k % 2 = 0")
    spark.sql("INSERT INTO proc_tx.db.t SELECT * FROM proc_src " +
      "WHERE k % 2 = 1")
    val root = s"$wh/db/t"
    // library twin: identical history, library clusterBy
    val twin = graft.Scratch.dir("txtable", "spec_proc_twin")
    graft.Scratch.deleteRec(new java.io.File(twin))
    sources.TxTable.init(twin)
    sources.TxTable.append(spark, twin, spark.table("proc_src")
      .filter(col("k") % 2 === 0)): Unit
    sources.TxTable.append(spark, twin, spark.table("proc_src")
      .filter(col("k") % 2 === 1)): Unit
    sources.TxTable.clusterBy(spark, twin, "k", "g", 3): Unit
    // SQL OPTIMIZE → the same cluster commit
    val opt = spark.sql(
      "CALL proc_tx.system.optimize('db.t', 'k', 'g', 3)").collect()(0)
    val vOpt = opt.getInt(0)
    val mOpt = sources.TxTable.readManifest(root, vOpt)
    val mTwin = sources.TxTable.readManifest(twin,
      sources.TxTable.currentVersion(twin))
    assert(mOpt.props.get("op").contains("cluster"))
    assert(opt.getInt(1) == 3 &&
      mOpt.files.count(_.startsWith("data/")) == 3)
    // the SAME commit semantics as the library call: a content-neutral
    // cluster rewrite (snapshot rows identical to the library-optimized
    // twin) respecting n_files; per-file byte shape may differ because
    // range sampling sees each table's own ingest layout
    assert(mTwin.props.get("op").contains("cluster"))
    assert(spark.sql("SELECT * FROM proc_tx.db.t").orderBy("k")
      .collect().map(_.toSeq).toSeq ==
      sources.TxTable.snapshot(spark, twin).orderBy("k")
        .collect().map(_.toSeq).toSeq)
    // VACUUM through SQL: retain 2 → the pre-optimize manifests prune
    val vac = spark.sql(
      "CALL proc_tx.system.vacuum('db.t', 2)").collect()(0)
    assert(vac.getInt(0) > 0, "vacuum must prune old versions")
    assert(sources.TxTable.versions(root).size == 2)
    // RESTORE through SQL: a bad load, then a pointer-flip back
    spark.sql("INSERT INTO proc_tx.db.t SELECT k, -1 FROM proc_src " +
      "WHERE k < 10")
    val before = spark.sql("SELECT count(*) FROM proc_tx.db.t")
      .collect()(0).getLong(0)
    val res = spark.sql(
      s"CALL proc_tx.system.restore('db.t', $vOpt)").collect()(0)
    assert(res.getInt(0) == vOpt)
    assert(sources.TxTable.readManifest(root, res.getInt(1)).props
      .get("op").contains("rollback"))
    assert(spark.sql("SELECT count(*) FROM proc_tx.db.t")
      .collect()(0).getLong(0) == before - 10)
    spark.sql("DROP TABLE proc_tx.db.t")
  }

  test("the SQL keys' scratch stays bounded across repeated " +
      "invocations: one stable warehouse, DROP-then-CREATE per key " +
      "(VERDICT r18 item 8)") {
    val wh = graft.Scratch.dir("txtable", "sqlcat_warehouse")
    def run(): Unit = {
      sources.TxTable.qTableSql(spark, sf0001).count(): Unit
      sources.TxTable.qTableSqlDml(spark, sf0001).count(): Unit
      sources.TxTable.qTableCtas(spark, sf0001).count(): Unit
      sources.TxTable.qTableSqlAlter(spark, sf0001).count(): Unit
      sources.TxTable.qTableSpj(spark, sf0001).count(): Unit
      sources.TxTable.qTableMergeCdc(spark, sf0001).count(): Unit
      sources.TxTable.qTableMaintenance(spark, sf0001).count(): Unit
    }
    def fileCount: Int = {
      def walk(f: java.io.File): Int =
        if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(walk).sum
        else 1
      walk(new java.io.File(wh))
    }
    run(); run()
    val afterTwo = fileCount
    run(); run()
    val afterFour = fileCount
    assert(afterFour <= afterTwo,
      s"SQL-key scratch grew across invocations: $afterTwo -> " +
        s"$afterFour files under $wh")
    // exactly the four tables' dirs live under db/ — no per-invocation
    // warehouses, no orphaned table dirs
    val dbDirs = Option(new java.io.File(wh, "db").listFiles())
      .toSeq.flatten.map(_.getName).sorted
    assert(dbDirs ==
      Seq("alter_t", "cdc_t", "ctas_t", "dml_t", "maint_t", "orders_t",
        "spj_a", "spj_b"),
      s"unexpected table dirs: $dbDirs")
  }

  test("CTAS + PARTITIONED BY through the catalog: rows route to " +
      "partition directories via the DSv2 writer, partition stats " +
      "prune the scan, and INSERT INTO keeps routing (round 19)") {
    import org.apache.spark.sql.functions._
    val wh = graft.Scratch.dir("txtable", "spec_ctas")
    graft.Scratch.deleteRec(new java.io.File(wh))
    new java.io.File(wh).mkdirs()
    spark.conf.set("spark.sql.catalog.ctas_tx",
      classOf[graft.streaming.TxTableCatalog].getName)
    spark.conf.set("spark.sql.catalog.ctas_tx.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS ctas_tx.db")
    Tables.orders(spark, sf0001)
      .select(col("o_orderkey"), col("o_custkey"),
        col("o_totalprice"),
        (col("o_orderkey") % 4).cast("int").as("bucket"))
      .createOrReplaceTempView("spec_ctas_src")
    spark.sql("""CREATE TABLE ctas_tx.db.po PARTITIONED BY (bucket)
                |AS SELECT * FROM spec_ctas_src
                |WHERE o_orderkey % 2 = 0""".stripMargin)
    val root = s"$wh/db/po"
    // the CTAS payload landed as data/bucket=<v>/ files via the DSv2
    // partitioned writer (no library appendPartitioned involved)
    val m = sources.TxTable.readManifest(
      root, sources.TxTable.currentVersion(root))
    val dataEntries = m.files.filter(_.startsWith("data/"))
    assert(dataEntries.nonEmpty &&
      dataEntries.forall(_.matches("data/bucket=\\d+/.*\\.parquet")),
      s"unpartitioned CTAS layout: $dataEntries")
    assert(m.props.get("partcol").contains("bucket"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("o_orderkey").collect().map(_.toSeq).toSeq
    val expect = spark.table("spec_ctas_src")
      .filter(col("o_orderkey") % 2 === 0)
    assert(rows(spark.sql("SELECT * FROM ctas_tx.db.po")) ==
      rows(expect.select("o_orderkey", "o_custkey", "o_totalprice",
        "bucket")) ||
      rows(spark.sql(
        "SELECT o_orderkey, o_custkey, o_totalprice, bucket " +
          "FROM ctas_tx.db.po")) ==
        rows(expect.select("o_orderkey", "o_custkey", "o_totalprice",
          "bucket")))
    // partition predicate plans ONLY that partition's files (the
    // path-segment min=max stats — one mechanism with stats skipping)
    val pred = col("bucket") === 2
    val (kept, all) = sources.TxTable.pruneDataFilesTree(root, m,
      org.apache.spark.sql.graft.PlanBridge.PredCmp("=", "bucket", 2))
    assert(kept.nonEmpty && kept.size < all.size &&
      kept.forall(_.startsWith("data/bucket=2/")),
      s"partition pruning failed: kept $kept of $all")
    assert(plannedAt(root, m.version, pred)._1 == kept)
    assert(sources.TxTable.snapshot(spark, root).filter(pred).count() ==
      expect.filter(pred).count())
    // INSERT INTO keeps routing new rows into partition directories
    spark.sql("""INSERT INTO ctas_tx.db.po
                |SELECT * FROM spec_ctas_src
                |WHERE o_orderkey % 2 = 1""".stripMargin)
    val m2 = sources.TxTable.readManifest(
      root, sources.TxTable.currentVersion(root))
    assert(m2.files.filter(_.startsWith("data/"))
      .forall(_.matches("data/bucket=\\d+/.*\\.parquet")))
    assert(spark.sql("SELECT count(*) FROM ctas_tx.db.po")
      .collect()(0).getLong(0) == spark.table("spec_ctas_src").count())
    // a partitioned CREATE + streaming-independent second surface: the
    // library snapshot sees the same rows (one format, all surfaces)
    assert(sources.TxTable.snapshot(spark, root).count() ==
      spark.table("spec_ctas_src").count())
    spark.sql("DROP TABLE ctas_tx.db.po")
  }

  test("qTableSql is re-invocation-safe: the catalog instance caches " +
      "its first warehouse, so a second same-session invocation must " +
      "still succeed (DROP-then-CREATE over one stable warehouse)") {
    // the r18 driver bench's rerun pass hit TABLE_OR_VIEW_ALREADY_EXISTS
    // here — the per-invocation warehouse conf was dead after the first
    // call because TxTableCatalog.initialize reads `warehouse` once
    val r1 = sources.TxTable.qTableSql(spark, sf0001).collect()
    val r2 = sources.TxTable.qTableSql(spark, sf0001).collect()
    assert(r1.length > 0 && r1.map(_.toSeq).toSeq == r2.map(_.toSeq).toSeq)
  }

  test("TxTable DSv2 batch read: a partition predicate plans exactly " +
      "the matching partition's files and the partition column " +
      "re-derives from the path") {
    import org.apache.spark.sql.functions._
    val root = mkTable("dsv2part")
    sources.TxTable.buildPartHistory(spark, root, sf0001)
    val pred = col("o_orderpriority") === "1-URGENT"
    val df = spark.read.format("txtable").load(root).filter(pred)
    val m = sources.TxTable.readManifest(root,
      sources.TxTable.currentVersion(root))
    val urgent = sources.TxTable.dataEntries(m.files)
      .filter(_.contains("o_orderpriority=1-URGENT"))
    assert(urgent.nonEmpty)
    assert(df.rdd.getNumPartitions == urgent.size,
      s"planned ${df.rdd.getNumPartitions}, partition holds " +
        s"${urgent.size} files")
    val cols = Seq("o_orderkey", "o_custkey", "o_totalprice",
      "o_orderpriority")
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.select(cols.map(col): _*).orderBy("o_orderkey")
        .collect().map(_.toSeq).toSeq
    assert(rows(df) == rows(Tables.orders(spark, sf0001)
        .filter(col("o_orderkey") % 3 < 2).filter(pred)),
      "partition-pruned DSv2 read diverged from the source recompute")
  }

  test("aggregate pushdown: COUNT(*)/MIN/MAX answer from manifest " +
      "stats as a LocalTableScan (ZERO data files planned), and the " +
      "soundness gate falls back to a real scan under filters or " +
      "position deletes (round 20)") {
    import org.apache.spark.sql.functions._
    val root = mkTable("aggpd")
    graft.Scratch.deleteRec(new java.io.File(root))
    sources.TxTable.init(root)
    val orders = Tables.orders(spark, sf0001)
      .select("o_orderkey", "o_custkey", "o_totalprice")
    sources.TxTable.append(spark, root,
      orders.filter(col("o_orderkey") % 3 === 0).repartition(3)): Unit
    sources.TxTable.append(spark, root,
      orders.filter(col("o_orderkey") % 3 === 1).repartition(2)): Unit
    def agged(df: org.apache.spark.sql.DataFrame) =
      df.agg(count(lit(1)).as("n"), min("o_custkey").as("mn"),
        max("o_custkey").as("mx"), max("o_totalprice").as("mp"))
    val pushed = agged(spark.read.format("txtable").load(root))
    val plan = pushed.queryExecution.executedPlan.toString
    assert(plan.contains("LocalTableScan") && !plan.contains("BatchScan"),
      s"aggregate did not push to a LocalScan:\n$plan")
    val expect = agged(sources.TxTable.snapshot(spark, root))
      .collect()(0).toSeq
    assert(pushed.collect()(0).toSeq == expect,
      "pushed-down aggregates diverged from the scan recompute")
    // gate 1: a residual filter keeps the real scan (rows must filter)
    val filtered = agged(spark.read.format("txtable").load(root)
      .filter(col("o_custkey") % 2 === 0))
    assert(filtered.queryExecution.executedPlan.toString
      .contains("BatchScan"), "filtered aggregate must scan files")
    assert(filtered.collect()(0).toSeq ==
      agged(sources.TxTable.snapshot(spark, root)
        .filter(col("o_custkey") % 2 === 0)).collect()(0).toSeq)
    // gate 2: position deletes make stats unprovable — fall back
    sources.TxTable.deleteVector(spark, root,
      col("o_custkey") % 5 === 0): Unit
    val dvAgg = agged(spark.read.format("txtable").load(root))
    assert(dvAgg.queryExecution.executedPlan.toString
      .contains("BatchScan"),
      "aggregate over a DV'd table must scan files")
    assert(dvAgg.collect()(0).toSeq ==
      agged(sources.TxTable.snapshot(spark, root)).collect()(0).toSeq)
    // gate 3: GROUP BY refuses (table-level stats can't group)
    val grouped = spark.read.format("txtable").load(root)
      .groupBy((col("o_orderkey") % 3).as("g")).agg(count(lit(1)))
    assert(grouped.queryExecution.executedPlan.toString
      .contains("BatchScan"))
    // time travel composes: versionAsOf answers from THAT manifest's
    // stats (v1 = first append only) — still zero data files planned
    val v1 = agged(spark.read.format("txtable")
      .option("versionAsOf", 1).load(root))
    assert(v1.queryExecution.executedPlan.toString
      .contains("LocalTableScan"))
    assert(v1.collect()(0).toSeq ==
      agged(sources.TxTable.snapshot(spark, root, 1)).collect()(0).toSeq,
      "time-traveled aggregate pushdown diverged")
  }

  test("GROUP BY partition columns pushes down too: per-partition " +
      "COUNT/MIN/MAX answer from path-segment stats (one LocalTableScan " +
      "row per partition, NULL partition included); non-partition " +
      "grouping falls back (round 20)") {
    import org.apache.spark.sql.functions._
    val wh = graft.Scratch.dir("txtable", "spec_aggpd_grp")
    graft.Scratch.deleteRec(new java.io.File(wh))
    new java.io.File(wh).mkdirs()
    spark.conf.set("spark.sql.catalog.apg_tx",
      classOf[graft.streaming.TxTableCatalog].getName)
    spark.conf.set("spark.sql.catalog.apg_tx.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS apg_tx.db")
    spark.range(0, 300)
      .select(col("id").as("k"),
        when(col("id") % 5 === 4, lit(null))
          .otherwise(concat(lit("p"), col("id") % 5)).as("pc"))
      .createOrReplaceTempView("apg_src")
    spark.sql("""CREATE TABLE apg_tx.db.t PARTITIONED BY (pc) AS
                |SELECT * FROM apg_src""".stripMargin)
    val grouped = spark.sql("""SELECT pc, count(*) AS n, min(k) AS mn,
      |max(k) AS mx FROM apg_tx.db.t GROUP BY pc""".stripMargin)
    val plan = grouped.queryExecution.executedPlan.toString
    assert(plan.contains("LocalTableScan") && !plan.contains("BatchScan"),
      s"grouped aggregate did not push:\n$plan")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq)
        .sortBy(_.mkString(" ")).toSeq
    assert(rows(grouped) == rows(spark.table("apg_src")
      .groupBy("pc").agg(count(lit(1)).as("n"),
        min("k").as("mn"), max("k").as("mx"))),
      "grouped pushdown diverged (incl. the NULL partition group)")
    // non-partition grouping falls back to the real scan
    val nonPart = spark.sql(
      "SELECT k % 3 AS g, count(*) FROM apg_tx.db.t GROUP BY k % 3")
    assert(nonPart.queryExecution.executedPlan.toString
      .contains("BatchScan"))
    spark.sql("DROP TABLE apg_tx.db.t")
  }

  test("MIN/MAX of a string partition column ignores the NULL-partition " +
      "marker file: the pushed answer equals real aggregation, never " +
      "'__HIVE_DEFAULT_PARTITION__' (ADVICE r20 fix, round 21)") {
    import org.apache.spark.sql.functions._
    val wh = graft.Scratch.dir("txtable", "spec_aggpd_nullpart")
    graft.Scratch.deleteRec(new java.io.File(wh))
    new java.io.File(wh).mkdirs()
    spark.conf.set("spark.sql.catalog.apn_tx",
      classOf[graft.streaming.TxTableCatalog].getName)
    spark.conf.set("spark.sql.catalog.apn_tx.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS apn_tx.db")
    // values sort ABOVE the marker in UTF-8 ('_' < 'a'): before the fix
    // MIN silently returned the marker string itself
    spark.range(0, 100)
      .select(col("id").as("k"),
        when(col("id") % 4 === 3, lit(null))
          .otherwise(concat(lit("apple"), col("id") % 4)).as("pc"))
      .createOrReplaceTempView("apn_src")
    spark.sql("""CREATE TABLE apn_tx.db.t PARTITIONED BY (pc) AS
                |SELECT * FROM apn_src""".stripMargin)
    val agg = spark.sql(
      "SELECT min(pc) AS mn, max(pc) AS mx, count(*) AS n FROM apn_tx.db.t")
    val plan = agg.queryExecution.executedPlan.toString
    assert(plan.contains("LocalTableScan") && !plan.contains("BatchScan"),
      s"partition-column MIN/MAX did not push:\n$plan")
    assert(agg.collect()(0).toSeq ===
      spark.table("apn_src")
        .agg(min("pc"), max("pc"), count(lit(1))).collect()(0).toSeq,
      "pushed MIN/MAX over a NULL-partitioned string column diverged")
    spark.sql("DROP TABLE apn_tx.db.t")
  }

  test("txtable schema evolution, combined: one table holds a file " +
      "written before ADD COLUMN, pre-promotion int32 pages, a renamed " +
      "column and an escaped string partition value; the batch snapshot " +
      "and a readStream both widen, NULL-fill, resolve the rename and " +
      "unescape") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    val root = graft.Scratch.dir("txtable", "spec_evo_combined")
    graft.Scratch.deleteRec(new java.io.File(root))
    sources.TxTable.init(root)
    val odd = "a:b/c%d=e" // escapes to a%3Ab%2Fc%25d%3De on disk
    def part(id: org.apache.spark.sql.Column) =
      when(id % 2 === 0, lit(odd)).otherwise(lit("plain")).as("p")
    // v1: int `n`, string `old`, partitioned by string `p`
    val v1 = sources.TxTable.appendPartitioned(spark, root,
      spark.range(0, 40).select(col("id").as("k"),
        col("id").cast("int").as("n"),
        concat(lit("o"), col("id").cast("string")).as("old"),
        part(col("id"))), "p")
    sources.TxTable.promoteColumnType(spark, root, "n", "bigint"): Unit
    sources.TxTable.renameColumn(spark, root, "old", "renamed"): Unit
    sources.TxTable.addColumn(root, "extra", LongType): Unit
    // post-evolution rows: n beyond 32 bits, `extra` set
    val v5 = sources.TxTable.appendPartitioned(spark, root,
      spark.range(40, 60).select(col("id").as("k"),
        (col("id") + 3000000000L).as("n"),
        concat(lit("o"), col("id").cast("string")).as("renamed"),
        part(col("id")), (col("id") * 10).as("extra")), "p")
    // the cases this test is about are really on disk
    val v1Files = sources.TxTable.dataEntries(
      sources.TxTable.readManifest(root, v1).files)
    assert(v1Files.exists(_.contains("p=a%3Ab%2Fc%25d%3De/")),
      s"no escaped partition directory: $v1Files")
    v1Files.foreach { f =>
      val sch = spark.read.parquet(s"$root/$f").schema
      assert(sch("n").dataType == IntegerType &&
        sch.fieldNames.contains("old") && !sch.fieldNames.contains("extra"),
        s"$f is not a pre-evolution file: $sch")
    }

    val want = (0L until 60L).map { k =>
      Seq[Any](k, if (k < 40) k else k + 3000000000L, s"o$k",
        if (k % 2 == 0) odd else "plain",
        if (k < 40) null else k * 10, if (k < 40) v1 else v5)
    }
    val cols = Seq("k", "n", "renamed", "p", "extra")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("k").collect().map(_.toSeq).toSeq
    val snap = sources.TxTable.snapshot(spark, root)
    assert(snap.schema("n").dataType == LongType)
    assert(rows(snap.select(cols.map(col): _*)) == want.map(_.init),
      "the batch snapshot diverged from the model")
    // filters on evolved columns (pushed into the file reader too)
    assert(snap.filter(col("n") < 3000000000L).count() == 40)
    assert(snap.filter(col("n") >= 3000000050L).count() == 10)
    assert(snap.filter(col("renamed") === "o7").select("k")
      .collect().map(_.getLong(0)).toSeq == Seq(7L))
    assert(snap.filter(col("p") === odd).count() == 30)
    assert(snap.filter(col("extra").isNull).count() == 40)

    val sch = StructType(Seq(StructField("k", LongType),
      StructField("n", LongType), StructField("renamed", StringType),
      StructField("p", StringType), StructField("extra", LongType),
      StructField("_commit_version", IntegerType)))
    val q = spark.readStream.format("txtable").schema(sch).load(root)
      .writeStream.format("memory").queryName("evo_combined_stream")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try q.awaitTermination() finally q.stop()
    assert(rows(spark.table("evo_combined_stream")) == want,
      "the stream diverged from the model")
  }
}
