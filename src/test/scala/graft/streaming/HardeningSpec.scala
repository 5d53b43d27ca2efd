package graft.streaming

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.TxTable

/** Round 20 — the four ADVICE-r19 hardenings, each pinned:
  *  1. partition-value escaping round-trips (write-side escapePathName
  *     vs read-side raw-segment parsing silently dropped rows for
  *     values containing ':', '%', '=');
  *  2. metadata-only DDL commits carry a SchemaProps conflict check (a
  *     concurrent rename racing an ADD COLUMN was silently reverted);
  *  3. the row-level commit derives its groups from the runtime
  *     filter's own recorded state, never from planning-call order;
  *  4. commit timestamps are a durable manifest prop — timestamp
  *     travel survives mtime perturbation (table copies, backups). */
class HardeningSpec extends AnyFunSuite with graft.SparkFixture {

  test("partition values with ':', '%', '=' round-trip through the " +
      "escaped directory layout: DSv2 reader unescapes, equality " +
      "predicates prune to the RIGHT file instead of none (ADVICE r19)") {
    val wh = graft.Scratch.dir("txtable", "spec_escape")
    graft.Scratch.deleteRec(new java.io.File(wh))
    new java.io.File(wh).mkdirs()
    spark.conf.set("spark.sql.catalog.esc_tx",
      classOf[TxTableCatalog].getName)
    spark.conf.set("spark.sql.catalog.esc_tx.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS esc_tx.db")
    // timestamp-like and separator-bearing partition values — exactly
    // the shapes escapePathName encodes on disk
    val vals = Seq("2024-01-01 10:30:00", "p%q", "a=b", "plain")
    spark.createDataFrame(
      (0 until 40).map(i => (i.toLong, vals(i % 4))))
      .toDF("k", "pc").createOrReplaceTempView("esc_src")
    spark.sql("""CREATE TABLE esc_tx.db.t PARTITIONED BY (pc) AS
                |SELECT * FROM esc_src""".stripMargin)
    val root = s"$wh/db/t"
    val m = TxTable.readManifest(root, TxTable.currentVersion(root))
    // the layout IS escaped on disk (write side unchanged)
    assert(m.files.exists(_.contains("pc=2024-01-01 10%3A30%3A00")),
      s"expected escaped ':' in layout, got ${m.files}")
    // 1. the DSv2 reader surfaces the UNESCAPED value
    val got = spark.read.format("txtable").load(root)
      .select("pc").distinct().collect().map(_.getString(0)).toSet
    assert(got == vals.toSet, s"reader surfaced escaped values: $got")
    // 2. an equality predicate on the unescaped literal keeps the
    //    matching file (manifest part stats now store decoded values)
    val (kept, all) = TxTable.pruneDataFilesTree(root, m,
      org.apache.spark.sql.graft.PlanBridge.PredCmp("=", "pc",
        "2024-01-01 10:30:00"))
    assert(kept.nonEmpty && kept.size < all.size &&
      kept.forall(_.contains("pc=2024-01-01")),
      s"escaped-value pruning is wrong: kept $kept of $all")
    // 3. end-to-end: the pushed-down equality read returns the rows
    assert(spark.read.format("txtable").load(root)
      .filter(col("pc") === "2024-01-01 10:30:00").count() == 10)
    assert(TxTable.snapshot(spark, root)
      .filter(col("pc") === "a=b").count() == 10)
    spark.sql("DROP TABLE esc_tx.db.t")
  }

  test("metadata-only DDL racing a concurrent rename fails LOUDLY " +
      "instead of silently reverting it (ADVICE r19: the file-list " +
      "check cannot see metadata-only commits)") {
    val root = graft.Scratch.dir("txtable", "spec_ddlrace")
    graft.Scratch.deleteRec(new java.io.File(root))
    TxTable.init(root)
    TxTable.append(spark, root,
      spark.range(10).select(col("id").as("k"),
        (col("id") * 2.0).as("v"))): Unit
    // DDL planned against THIS manifest …
    val planned = TxTable.readManifest(root, TxTable.currentVersion(root))
    // … then a concurrent rename lands: SAME file list, new colmap
    TxTable.renameColumn(spark, root, "v", "w"): Unit
    val files = TxTable.readManifest(root,
      TxTable.currentVersion(root)).files
    assert(files == planned.files, "rename must republish the file list")
    // the stale-planned DDL must refuse (committing its props would
    // silently revert the rename)
    val e = intercept[Exception] {
      TxTable.commitMetadataDdl(root, "addcol", planned,
        Map("tblschema" -> "c3RhbGU="))
    }
    assert(e.getMessage.contains("concurrent schema"),
      s"wrong failure: ${e.getMessage}")
    // and the real DDL surface, planned against the CURRENT head, works
    TxTable.addColumn(root, "note",
      org.apache.spark.sql.types.StringType): Unit
    assert(TxTable.snapshot(spark, root).columns.toSeq ==
      Seq("k", "w", "note"))
  }

  test("row-level commit derives groups from the runtime filter's " +
      "recorded state, not planning-call order: a stale unfiltered " +
      "planning pass cannot widen the removed set (ADVICE r19)") {
    val root = graft.Scratch.dir("txtable", "spec_rlorder")
    graft.Scratch.deleteRec(new java.io.File(root))
    TxTable.init(root)
    // two files, distinguishable by k range
    TxTable.append(spark, root, spark.range(0, 10)
      .select(col("id").as("k"), (col("id") * 2.0).as("v"))
      .repartition(1)): Unit
    TxTable.append(spark, root, spark.range(10, 20)
      .select(col("id").as("k"), (col("id") * 2.0).as("v"))
      .repartition(1)): Unit
    val v0 = TxTable.currentVersion(root)
    val m = TxTable.readManifest(root, v0)
    val dataFiles = m.files.filter(_.startsWith("data/"))
    assert(dataFiles.size == 2)
    val target = dataFiles.head
    // simulate the adversarial order: the operation's LAST planning
    // record is the UNFILTERED full set; only runtimeKeep carries the
    // filter's admitted file
    val op = new TxRowLevelOperation(root,
      org.apache.spark.sql.connector.write.RowLevelOperation.Command.UPDATE)
    op.planned = Some(TxPlannedGroups(v0, dataFiles))
    op.runtimeKeep = Some(Set(s"$root/$target"))
    // a staged replacement for the one admitted group
    val staged = TxTable.writeData(spark, root, spark.range(0, 10)
      .select(col("id").as("k"), (col("id") * 3.0).as("v"))
      .repartition(1))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.DoubleType)))
    val w = new TxGroupReplaceWrite(root, schema, op)
    w.requiredDistribution(): Unit // force plan (captures plannedMeta)
    w.commit(Array(TxFileCommitMessage(staged)))
    val after = TxTable.readManifest(root, TxTable.currentVersion(root))
      .files.filter(_.startsWith("data/")).toSet
    assert(!after.contains(target), "the admitted group must be replaced")
    assert(after.intersect(dataFiles.toSet) ==
      dataFiles.toSet - target,
      s"commit removed files OUTSIDE the runtime-filtered group: " +
        s"kept $after of $dataFiles")
    assert(staged.forall(after), "staged replacement must be listed")
  }

  test("commit timestamps are durable manifest props: timestamp " +
      "travel and commitTimeMillis survive mtime perturbation " +
      "(ADVICE r19 — mtimes don't survive table copies)") {
    val root = graft.Scratch.dir("txtable", "spec_tsdur")
    graft.Scratch.deleteRec(new java.io.File(root))
    TxTable.init(root)
    def app(lo: Int, hi: Int): Unit = TxTable.append(spark, root,
      spark.range(lo, hi).select(col("id").as("k"))): Unit
    app(0, 10); Thread.sleep(20); app(10, 20); Thread.sleep(20)
    app(20, 30)
    val ts = (1 to 3).map(v => TxTable.commitTimeMillis(root, v))
    assert(ts == ts.sorted, s"commit times must be monotonic: $ts")
    // perturb every manifest mtime OUT OF ORDER (v3 oldest)
    (1 to 3).foreach { v =>
      new java.io.File(s"$root/_txlog/v$v")
        .setLastModified(1000000000000L - v * 1000L): Unit
    }
    val ts2 = (1 to 3).map(v => TxTable.commitTimeMillis(root, v))
    assert(ts2 == ts,
      s"commitTimeMillis must read the durable prop, not mtime: $ts2")
    // streaming startingTimestamp between v2 and v3 still resolves to
    // v3+ despite the scrambled mtimes
    import org.apache.spark.sql.types._
    val sch = StructType(Seq(StructField("k", LongType),
      StructField("_commit_version", IntegerType)))
    val between = java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd HH:mm:ss.SSS")
      .withZone(java.time.ZoneId.systemDefault())
      .format(java.time.Instant.ofEpochMilli((ts(1) + ts(2)) / 2))
    val q = spark.readStream.format("txtable").schema(sch)
      .option("startingTimestamp", between).load(root)
      .writeStream.format("memory").queryName("tsdur_q")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val got = spark.table("tsdur_q").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSeq
    spark.catalog.dropTempView("tsdur_q")
    assert(got.nonEmpty && got.forall { case (k, v) => k >= 20 && v == 3 },
      s"perturbed mtimes changed timestamp resolution: $got")
  }

  test("NULL partition values take the Hive default-partition " +
      "convention: they land under __HIVE_DEFAULT_PARTITION__, read " +
      "back as NULL, and comparison predicates prune the default dir " +
      "(round 20)") {
    val wh = graft.Scratch.dir("txtable", "spec_nullpart")
    graft.Scratch.deleteRec(new java.io.File(wh))
    new java.io.File(wh).mkdirs()
    spark.conf.set("spark.sql.catalog.np_tx",
      classOf[TxTableCatalog].getName)
    spark.conf.set("spark.sql.catalog.np_tx.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS np_tx.db")
    spark.range(0, 40)
      .select(col("id").as("k"),
        when(col("id") % 4 === 0, lit(null))
          .otherwise(concat(lit("g"), col("id") % 4)).as("pc"))
      .createOrReplaceTempView("np_src")
    spark.sql("""CREATE TABLE np_tx.db.t PARTITIONED BY (pc) AS
                |SELECT * FROM np_src""".stripMargin)
    val root = s"$wh/db/t"
    val m = TxTable.readManifest(root, TxTable.currentVersion(root))
    assert(m.files.exists(_.contains("pc=__HIVE_DEFAULT_PARTITION__")),
      s"no default-partition dir in ${m.files}")
    // NULLs read back as NULL on the DSv2, library, and SQL surfaces
    for (df <- Seq(spark.read.format("txtable").load(root),
      TxTable.snapshot(spark, root),
      spark.sql("SELECT * FROM np_tx.db.t"))) {
      assert(df.filter(col("pc").isNull).count() == 10,
        "default-partition rows must surface as NULL")
      assert(df.count() == 40)
    }
    // an equality predicate prunes the default dir (NULL never matches
    // a comparison); IS NULL keeps it (unconvertible → sound)
    val (kept, all) = TxTable.pruneDataFilesTree(root, m,
      org.apache.spark.sql.graft.PlanBridge.PredCmp("=", "pc", "g1"))
    assert(kept.nonEmpty && kept.size < all.size &&
      kept.forall(!_.contains("__HIVE_DEFAULT_PARTITION__")),
      s"default dir not pruned: $kept")
    assert(TxScanProbe.planned(TxTable.snapshot(spark, root)
      .filter(col("pc") === "g1")) == (kept, all))
    assert(TxTable.snapshot(spark, root)
      .filter(col("pc") === "g1").count() == 10)
    assert(TxTable.snapshot(spark, root)
      .filter(col("pc").isNull).count() == 10)
    spark.sql("DROP TABLE np_tx.db.t")
  }

  test("multi-column partitioning: CTAS PARTITIONED BY (a, b) nests " +
      "directories, pruning composes per column (incl. the NULL " +
      "partition), and rewrites preserve the nested layout (round 20)") {
    val wh = graft.Scratch.dir("txtable", "spec_multipart")
    graft.Scratch.deleteRec(new java.io.File(wh))
    new java.io.File(wh).mkdirs()
    spark.conf.set("spark.sql.catalog.mp_tx",
      classOf[TxTableCatalog].getName)
    spark.conf.set("spark.sql.catalog.mp_tx.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS mp_tx.db")
    spark.range(0, 120)
      .select(col("id").as("k"),
        concat(lit("r"), col("id") % 3).as("region"),
        when(col("id") % 4 === 0, lit(null))
          .otherwise((col("id") % 4).cast("int")).as("tier"))
      .createOrReplaceTempView("mp_src")
    spark.sql("""CREATE TABLE mp_tx.db.t PARTITIONED BY (region, tier)
                |AS SELECT * FROM mp_src""".stripMargin)
    val root = s"$wh/db/t"
    val m = TxTable.readManifest(root, TxTable.currentVersion(root))
    val entries = m.files.filter(_.startsWith("data/"))
    assert(entries.nonEmpty && entries.forall(
      _.matches("data/region=r\\d/tier=[^/]+/.*\\.parquet")),
      s"layout not nested region/tier: $entries")
    assert(TxTable.partitionColumns(m) == Seq("region", "tier"))
    // reads surface both columns (path-derived) with NULL tier intact
    for (df <- Seq(spark.sql("SELECT * FROM mp_tx.db.t"),
      spark.read.format("txtable").load(root),
      TxTable.snapshot(spark, root))) {
      assert(df.count() == 120)
      assert(df.filter(col("tier").isNull).count() == 30)
      assert(df.filter(col("region") === "r1" && col("tier") === 1)
        .count() ==
        spark.table("mp_src")
          .filter(col("region") === "r1" && col("tier") === 1).count())
    }
    // pruning composes per column: region alone, tier alone, both
    import org.apache.spark.sql.graft.PlanBridge._
    val (kr, all) = TxTable.pruneDataFilesTree(root, m,
      PredCmp("=", "region", "r1"))
    assert(kr.nonEmpty && kr.size < all.size &&
      kr.forall(_.contains("region=r1/")))
    val (kt, _) = TxTable.pruneDataFilesTree(root, m,
      PredCmp("=", "tier", 2))
    assert(kt.nonEmpty && kt.forall(_.contains("/tier=2/")) &&
      kt.forall(!_.contains("__HIVE_DEFAULT_PARTITION__")),
      s"tier pruning kept $kt")
    val (kb, _) = TxTable.pruneDataFilesTree(root, m,
      PredAnd(PredCmp("=", "region", "r2"), PredCmp("=", "tier", 3)))
    assert(kb.nonEmpty &&
      kb.forall(f => f.contains("region=r2/") && f.contains("/tier=3/")))
    // INSERT keeps nested routing; a rewrite preserves the layout
    spark.sql("""INSERT INTO mp_tx.db.t
                |SELECT k + 1000, region, tier FROM mp_src""".stripMargin)
    spark.sql("DELETE FROM mp_tx.db.t WHERE k % 2 = 0 AND k >= 1000 " +
      "AND k IN (SELECT k + 1000 FROM mp_src WHERE k % 8 = 2)")
    val m2 = TxTable.readManifest(root, TxTable.currentVersion(root))
    assert(m2.files.filter(_.startsWith("data/")).forall(
      _.matches("data/region=r\\d/tier=[^/]+/.*\\.parquet")),
      "post-DML layout lost its nesting")
    assert(spark.sql("SELECT count(*) FROM mp_tx.db.t")
      .collect()(0).getLong(0) ==
      240 - spark.table("mp_src")
        .filter(col("k") % 8 === 2 && (col("k") + 1000) % 2 === 0)
        .count())
    spark.sql("DROP TABLE mp_tx.db.t")
  }

  test("DV commit auto-retry: a rewrite landing mid-flight triggers a " +
      "recompute-and-rebase instead of a user-visible abort (round 20, " +
      "OCC auto-retry)") {
    val root = graft.Scratch.dir("txtable", "spec_dvrebase")
    graft.Scratch.deleteRec(new java.io.File(root))
    TxTable.init(root)
    TxTable.append(spark, root, spark.range(0, 100)
      .select(col("id").as("k"), (col("id") * 2.0).as("v"))
      .repartition(2)): Unit
    val vBefore = TxTable.currentVersion(root)
    // the hook fires between address computation and the DV commit: a
    // copy-on-write delete rewrites the target files underneath it
    var hookRan = false
    val (v, dvFiles) = TxTable.deleteVector(spark, root,
      col("k") % 10 === 0,
      () => { hookRan = true
        txDml(root)(tbl => s"DELETE FROM $tbl WHERE k % 7 = 0"): Unit })
    assert(hookRan)
    // the retry recomputed on the post-rewrite head and committed
    assert(dvFiles.nonEmpty && v == vBefore + 2,
      s"expected rewrite commit + rebased DV commit, at v$v")
    assert(TxTable.readManifest(root, v).props.get("op")
      .contains("delete-dv"))
    // both deletes applied exactly once
    val got = TxTable.snapshot(spark, root).select("k")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(got == (0L until 100L).filter(k => k % 7 != 0 && k % 10 != 0),
      s"rebased DV diverged: $got")
  }

  test("DV commit auto-retry: a SQL UPDATE of a matching key landing " +
      "mid-flight triggers a rebase, the key is deleted, and the table " +
      "equals the serial replay") {
    def load(name: String): String = {
      val root = graft.Scratch.dir("txtable", name)
      graft.Scratch.deleteRec(new java.io.File(root))
      TxTable.init(root)
      TxTable.append(spark, root, spark.range(0, 100)
        .select(col("id").as("k"), (col("id") * 2.0).as("v"))
        .repartition(2)): Unit
      root
    }
    val update = (t: String) => s"UPDATE $t SET v = -v WHERE k = 40"
    val root = load("spec_dvrebase_upd")
    val vBefore = TxTable.currentVersion(root)
    // the hook fires between address staging and the DV commit: the
    // UPDATE moves key 40 into a new file and position-deletes its old
    // row, so the staged address of key 40 goes stale without any
    // target file leaving the snapshot
    var hookRan = false
    val (v, dvFiles) = TxTable.deleteVector(spark, root,
      col("k") % 10 === 0,
      () => { hookRan = true; txDml(root)(update): Unit })
    assert(hookRan)
    assert(dvFiles.nonEmpty && v == vBefore + 2,
      s"expected the UPDATE commit + a rebased DV commit, at v$v")
    assert((vBefore + 1 to v).map(x => TxTable.readManifest(root, x)
      .props("op")) == Seq("update", "delete-dv"))
    def rows(r: String) = TxTable.snapshot(spark, r).orderBy("k")
      .collect().map(x => (x.getLong(0), x.getDouble(1))).toSeq
    val got = rows(root)
    assert(!got.exists(_._1 == 40L), "the updated key survived the DELETE")
    // the serial replay: the UPDATE, then the DELETE
    val serial = load("spec_dvrebase_upd_serial")
    txDml(serial)(update): Unit
    TxTable.deleteVector(spark, serial, col("k") % 10 === 0): Unit
    assert(got == rows(serial), "the rebased DELETE diverged from the " +
      "serial replay")
    assert(got.map(_._1) == (0L until 100L).filter(_ % 10 != 0))
  }

  test("a txtable catalog whose warehouse setting changes after its " +
      "first use fails loudly, naming both paths, and writes nothing " +
      "under the new one") {
    val wh = graft.Scratch.dir("txtable", "spec_wh_first")
    val moved = graft.Scratch.dir("txtable", "spec_wh_moved")
    Seq(wh, moved).foreach { d =>
      graft.Scratch.deleteRec(new java.io.File(d))
      new java.io.File(d).mkdirs()
    }
    spark.conf.set("spark.sql.catalog.whc_tx",
      classOf[TxTableCatalog].getName)
    spark.conf.set("spark.sql.catalog.whc_tx.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS whc_tx.db")
    spark.sql("CREATE TABLE whc_tx.db.t (k BIGINT)")
    spark.conf.set("spark.sql.catalog.whc_tx.warehouse", moved)
    try {
      val e = intercept[Exception](
        spark.sql("INSERT INTO whc_tx.db.t VALUES (1)").collect())
      val msgs = Iterator.iterate[Throwable](e)(_.getCause)
        .takeWhile(_ != null).flatMap(c => Option(c.getMessage)).toSeq
      assert(msgs.exists(m => m.contains(wh) && m.contains(moved)),
        s"the error must name both warehouses: $msgs")
      assert(Option(new java.io.File(moved).list()).forall(_.isEmpty),
        "a write landed under the new warehouse")
    } finally spark.conf.set("spark.sql.catalog.whc_tx.warehouse", wh)
    assert(spark.sql("SELECT count(*) FROM whc_tx.db.t").collect()(0)
      .getLong(0) == 0L)
    spark.sql("DROP TABLE whc_tx.db.t"): Unit
  }

  test("DSv2 append rebases across a concurrent rename + promote " +
      "instead of aborting: staged narrow files land under the new " +
      "metadata and read-widen (round 20, OCC auto-retry)") {
    val root = graft.Scratch.dir("txtable", "spec_dsv2rebase")
    graft.Scratch.deleteRec(new java.io.File(root))
    TxTable.init(root)
    TxTable.append(spark, root, spark.range(0, 10)
      .select(col("id").cast("int").as("k"), (col("id") * 2.0).as("v"))
      .repartition(1)): Unit
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k",
        org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.DoubleType)))
    val w = new TxTableBatchWrite(root, schema, overwrite = false)
    w.requiredDistribution(): Unit // force plan (captures plannedMeta)
    // stage the incoming rows under the PLANNED physical names/types
    val staged = TxTable.writeData(spark, root, spark.range(10, 20)
      .select(col("id").cast("int").as("k"), (col("id") * 2.0).as("v"))
      .repartition(1))
    // concurrent metadata commits land between plan and commit
    TxTable.renameColumn(spark, root, "v", "w"): Unit
    TxTable.promoteColumnType(spark, root, "k", "bigint"): Unit
    // the commit REBASES (no abort): files land under current metadata
    w.commit(Array(TxFileCommitMessage(staged)))
    val snap = TxTable.snapshot(spark, root)
    assert(snap.columns.toSeq == Seq("k", "w"))
    assert(snap.schema("k").dataType ==
      org.apache.spark.sql.types.LongType,
      "promoted type must win; staged int32 pages read-widen")
    assert(snap.select("k").collect().map(_.getLong(0)).sorted.toSeq ==
      (0L until 20L).toSeq)
  }

  test("8 concurrent SQL INSERTs racing a column-renamer: zero " +
      "user-visible insert aborts, every row lands (round 20, the " +
      "rebasable-append stress)") {
    val wh = graft.Scratch.dir("txtable", "spec_insstress")
    graft.Scratch.deleteRec(new java.io.File(wh))
    new java.io.File(wh).mkdirs()
    spark.conf.set("spark.sql.catalog.ins_tx",
      classOf[TxTableCatalog].getName)
    spark.conf.set("spark.sql.catalog.ins_tx.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS ins_tx.db")
    spark.sql("CREATE TABLE ins_tx.db.t (k BIGINT, v DOUBLE)")
    val pool = java.util.concurrent.Executors.newFixedThreadPool(9)
    val insertFailures =
      new java.util.concurrent.atomic.AtomicInteger(0)
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    // the renamer flips v<->w as fast as its loud DDL conflicts allow;
    // its own aborts are EXPECTED (metadata DDL stays loud) — the pin
    // is that INSERTS never surface one
    val renamer = pool.submit(new Runnable {
      override def run(): Unit = {
        var name = "v"
        while (!stop.get()) {
          val next = if (name == "v") "w" else "v"
          try {
            spark.sql(
              s"ALTER TABLE ins_tx.db.t RENAME COLUMN $name TO $next")
            name = next
          } catch { case _: Throwable => () } // lost to an insert: retry
        }
      }
    })
    val writers = (0 until 8).map { i =>
      pool.submit(new Runnable {
        override def run(): Unit =
          try spark.sql(
            s"""INSERT INTO ins_tx.db.t
               |SELECT id, id * 1.0 FROM range(${i * 1000},
               |${i * 1000 + 1000})""".stripMargin): Unit
          catch { case e: Throwable =>
            insertFailures.incrementAndGet(): Unit
            System.err.println(s"insert $i failed: ${e.getMessage}")
          }
      })
    }
    writers.foreach(_.get())
    stop.set(true); renamer.get()
    pool.shutdown()
    assert(insertFailures.get() == 0,
      s"${insertFailures.get()} inserts aborted under the renamer")
    assert(spark.sql("SELECT count(*) FROM ins_tx.db.t")
      .collect()(0).getLong(0) == 8000L)
    spark.sql("DROP TABLE ins_tx.db.t")
  }

  test("4 concurrent row-level writers on disjoint key ranges of one " +
      "table: conflicts surface only as the documented retryable " +
      "errors, versions stay gapless, and the final table equals the " +
      "same statements applied serially") {
    val wh = graft.Scratch.dir("txtable", "spec_rowlevel_race")
    graft.Scratch.deleteRec(new java.io.File(wh))
    new java.io.File(wh).mkdirs()
    spark.conf.set("spark.sql.catalog.rl_tx",
      classOf[TxTableCatalog].getName)
    spark.conf.set("spark.sql.catalog.rl_tx.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS rl_tx.db")
    val writers = 4
    // writer i owns keys [1000 i, 1000 i + 1000); the load round-robins
    // every range over the same two files, so the writers' rewrites
    // overlap on files and their commits genuinely conflict
    def load(t: String): Unit = {
      spark.sql(s"CREATE TABLE $t (k BIGINT, v DOUBLE)")
      spark.sql(s"""INSERT INTO $t SELECT /*+ REPARTITION(2) */
                   |id, CAST(id AS DOUBLE) FROM range(0, ${writers * 1000})
                   |WHERE id % 1000 < 100""".stripMargin): Unit
    }
    def script(t: String, i: Int): Seq[String] = {
      val lo = i * 1000L
      Seq(
        s"""MERGE INTO $t t USING (SELECT id AS k, -CAST(id AS DOUBLE) AS v
           |FROM range(${lo + 50}, ${lo + 150})) s ON t.k = s.k
           |WHEN MATCHED THEN UPDATE SET v = s.v
           |WHEN NOT MATCHED THEN INSERT *""".stripMargin,
        s"UPDATE $t SET v = v + 0.5 WHERE k >= $lo AND k < ${lo + 1000} " +
          "AND k % 3 = 0",
        s"DELETE FROM $t WHERE k IN (SELECT id FROM range($lo, " +
          s"${lo + 1000}, 7))")
    }
    val conflict = Seq("concurrent rewrite conflict",
      "concurrent position-delete conflict")
    def retryable(e: Throwable): Boolean =
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
        .exists(c => Option(c.getMessage).exists(m =>
          conflict.exists(m.contains)))
    val retries = new java.util.concurrent.atomic.AtomicInteger(0)
    def runRetrying(stmt: String): Unit = {
      var done = false
      var attempt = 0
      while (!done) {
        try { spark.sql(stmt); done = true }
        catch {
          case e: Throwable if retryable(e) && attempt < 100 =>
            attempt += 1; retries.incrementAndGet(): Unit
        }
      }
    }
    load("rl_tx.db.t")
    val root = s"$wh/db/t"
    val vLoaded = TxTable.currentVersion(root)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(writers)
    try {
      (0 until writers).map { i =>
        pool.submit(new Runnable {
          override def run(): Unit =
            script("rl_tx.db.t", i).foreach(runRetrying)
        })
      }.foreach(_.get())
    } finally pool.shutdown()
    info(s"${retries.get()} conflicting statements retried")
    // gapless: every statement changed rows, so each landed exactly one
    // version, and no version number was skipped
    val vs = TxTable.versions(root)
    assert(vs == (1 to vLoaded + writers * 3),
      s"versions not gapless or miscounted: $vs")
    val ops = vs.map(v => TxTable.readManifest(root, v).props("op"))
    assert(ops.take(vLoaded).forall(Set("create", "append")),
      s"unexpected load ops: $ops")
    assert(ops.drop(vLoaded).forall(
        Set("update", "merge", "delete", "delete-dv")),
      s"a concurrent statement committed an unexpected op: $ops")
    // the serial reference: the same statements, one at a time
    load("rl_tx.db.serial")
    (0 until writers).foreach(i =>
      script("rl_tx.db.serial", i).foreach(spark.sql(_): Unit))
    def rows(t: String) = spark.sql(s"SELECT k, v FROM $t ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(rows("rl_tx.db.t") == rows("rl_tx.db.serial"),
      "the concurrent writers diverged from their serial replay")
    spark.sql("DROP TABLE rl_tx.db.t")
    spark.sql("DROP TABLE rl_tx.db.serial"): Unit
  }

  test("a write whose stage fails mid-job leaves the head version, the " +
      "rows and the directory tree as they were: library append and " +
      "DSv2 INSERT") {
    val root = graft.Scratch.dir("txtable", "spec_failstage")
    graft.Scratch.deleteRec(new java.io.File(root))
    TxTable.init(root)
    TxTable.append(spark, root, spark.range(0, 100)
      .select(col("id").as("k"), (col("id") * 2).as("v"))): Unit
    // one row of one task (k = 1234 lies in the first of 4 tasks) throws
    val boom = udf { (k: Long) =>
      if (k == 1234L) throw new IllegalStateException("injected failure")
      k
    }
    val input = spark.range(1000, 2000, 1, 4)
      .select(boom(col("id")).as("k"), (col("id") * 2).as("v"))
    input.createOrReplaceTempView("failstage_src")
    def rows = TxTable.snapshot(spark, root).orderBy("k").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val before = rows
    // every file outside the log must be one some manifest lists: no
    // visible or hidden part file, no staging directory
    def unlisted: Seq[String] = {
      val listed = TxTable.versions(root)
        .flatMap(v => TxTable.readManifest(root, v).files).toSet
      def walk(d: java.io.File, rel: String): Seq[String] =
        Option(d.listFiles()).toSeq.flatten.flatMap { f =>
          val r = if (rel.isEmpty) f.getName else s"$rel/${f.getName}"
          if (f.isDirectory) {
            if (r == "_txlog") Nil
            else if (f.getName.startsWith(".staging-")) Seq(r + "/")
            else walk(f, r)
          } else Seq(r).filterNot(listed)
        }
      walk(new java.io.File(root), "")
    }
    assert(unlisted.isEmpty, s"fixture left unlisted files: $unlisted")
    val writes: Seq[(String, () => Unit)] = Seq(
      "library append" -> (() =>
        TxTable.append(spark, root, input): Unit),
      "DSv2 INSERT" -> (() => spark.sql(
        s"INSERT INTO ${TxTable.pathTable(spark, root)} " +
          "SELECT * FROM failstage_src"): Unit))
    writes.foreach { case (name, write) =>
      val v0 = TxTable.currentVersion(root)
      val e = intercept[Exception](write())
      assert(Iterator.iterate[Throwable](e)(_.getCause)
        .takeWhile(_ != null)
        .exists(t => String.valueOf(t.getMessage).contains(
          "injected failure")),
        s"$name failed for another reason: $e")
      assert(TxTable.currentVersion(root) == v0,
        s"$name moved the head version")
      assert(rows == before, s"$name changed the table's rows")
      assert(unlisted.isEmpty, s"$name left files behind: $unlisted")
    }
  }
}
