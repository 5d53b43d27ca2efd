package graft.streaming

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.TxTable

/** Round 20 — storage-partitioned joins (VERDICT r19 item 1): tables
  * created `PARTITIONED BY (bucket(n, col))` route rows to
  * `data/__bucket=<b>/`, their scans report KeyGroupedPartitioning
  * resolved through the catalog's `bucket` function, and a join of two
  * co-bucketed tables plans with ZERO Exchange on either side. */
class SpjSpec extends AnyFunSuite with graft.SparkFixture {

  private lazy val wh: String = {
    val w = graft.Scratch.dir("txtable", "spec_spj")
    graft.Scratch.deleteRec(new java.io.File(w))
    new java.io.File(w).mkdirs()
    spark.conf.set("spark.sql.catalog.spj_tx",
      classOf[TxTableCatalog].getName)
    spark.conf.set("spark.sql.catalog.spj_tx.warehouse", w)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS spj_tx.db")
    spark.range(0, 5000)
      .select(col("id").as("k"), (col("id") % 100).as("g"),
        (col("id") * 1.5).as("v"))
      .createOrReplaceTempView("spj_src")
    spark.sql("""CREATE TABLE spj_tx.db.a PARTITIONED BY (bucket(8, k))
                |AS SELECT * FROM spj_src WHERE k % 2 = 0""".stripMargin)
    spark.sql("""CREATE TABLE spj_tx.db.b PARTITIONED BY (bucket(8, k))
                |AS SELECT k, v + 0.25 AS w FROM spj_src
                |WHERE k % 3 = 0""".stripMargin)
    w
  }

  test("bucketed CTAS routes rows to __bucket dirs with the shared " +
      "hash; the bucket column stays a data column and __bucket never " +
      "surfaces") {
    val root = s"$wh/db/a"
    val m = TxTable.readManifest(root, TxTable.currentVersion(root))
    val entries = m.files.filter(_.startsWith("data/"))
    assert(entries.nonEmpty &&
      entries.forall(_.matches("data/__bucket=\\d+/.*\\.parquet")),
      s"unbucketed layout: $entries")
    // every file holds ONLY keys of its directory's bucket id
    entries.groupBy(_.split("/")(1).split("=")(1).toInt)
      .foreach { case (b, fs) =>
        val ks = spark.read.parquet(fs.map(f => s"$root/$f"): _*)
          .select("k").collect().map(_.getLong(0))
        assert(ks.nonEmpty && ks.forall(TxBucket.ofLong(_, 8) == b),
          s"bucket $b dir holds foreign keys")
      }
    // reads: correct rows, no __bucket column, on all three surfaces
    val expect = spark.table("spj_src").filter(col("k") % 2 === 0)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("k", "g", "v").orderBy("k").collect().map(_.toSeq).toSeq
    for (df <- Seq(spark.sql("SELECT * FROM spj_tx.db.a"),
      spark.read.format("txtable").load(root),
      TxTable.snapshot(spark, root))) {
      assert(!df.columns.contains("__bucket"))
      assert(rows(df) == rows(expect))
    }
  }

  test("a library append to a bucketed table routes with the shared " +
      "hash, one file per bucket per task, and refuses a NULL bucket " +
      "value") {
    wh: Unit
    spark.sql("CREATE TABLE spj_tx.db.lib (k BIGINT, g BIGINT, v DOUBLE) " +
      "PARTITIONED BY (bucket(8, k))")
    val root = s"$wh/db/lib"
    val in = spark.table("spj_src").repartition(2)
    TxTable.append(spark, root, in): Unit
    val entries = TxTable.dataEntries(TxTable.readManifest(root,
      TxTable.currentVersion(root)).files)
    // each task's rows arrive sorted by bucket id, so it writes each
    // bucket it sees exactly once: 2 tasks × 8 buckets
    assert(entries.size == 16 &&
      entries.forall(_.matches("data/__bucket=\\d+/.*\\.parquet")),
      s"library bucketed layout: $entries")
    entries.groupBy(_.split("/")(1).split("=")(1).toInt)
      .foreach { case (b, fs) =>
        val ks = spark.read.parquet(fs.map(f => s"$root/$f"): _*)
          .select("k").collect().map(_.getLong(0))
        assert(ks.nonEmpty && ks.forall(TxBucket.ofLong(_, 8) == b),
          s"bucket $b dir holds foreign keys")
      }
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("k", "g", "v").orderBy("k").collect().map(_.toSeq).toSeq
    assert(rows(TxTable.snapshot(spark, root)) == rows(in))
    val e = intercept[Exception](TxTable.append(spark, root,
      in.limit(3).withColumn("k", lit(null).cast("bigint"))))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage)
        .contains("NULL bucket value refused")),
      s"a NULL bucket value must be refused: $e")
    spark.sql("DROP TABLE spj_tx.db.lib")
  }

  test("a join of two co-bucketed txtables plans with ZERO Exchange " +
      "(storage-partitioned join) and equal results to the shuffled " +
      "plan") {
    wh: Unit
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    try {
      val q = """SELECT /*+ MERGE(a) */ a.k, a.g, a.v, b.w
                |FROM spj_tx.db.a a JOIN spj_tx.db.b b ON a.k = b.k
                |""".stripMargin
      val df = spark.sql(q)
      df.collect(): Unit // materialize so AQE finalizes the plan
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"),
        s"expected a sort-merge join:\n$plan")
      assert(!plan.contains("Exchange"),
        s"co-bucketed txtable join must not shuffle either side:\n$plan")
      // results equal the conventional (bucketing-disabled) plan
      val got = df.orderBy("k").collect().map(_.toSeq).toSeq
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "false")
      val conv = spark.sql(q).orderBy("k").collect().map(_.toSeq).toSeq
      assert(got == conv && got.nonEmpty)
    } finally {
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "false")
    }
  }

  test("the q_table_spj KEY's own join is exchange-free (the declared " +
      "query, not just the spec twin)") {
    val df = TxTable.qTableSpj(spark, sf0001)
    df.collect(): Unit
    // the FINAL adaptive plan only (the AQE string echoes the initial
    // plan below it)
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(plan.contains("SortMergeJoin"),
      s"q_table_spj must take the sort-merge path:\n$plan")
    // exactly ONE exchange total — the ORDER BY's rangepartitioning
    // ABOVE the join; neither join input hash-shuffles
    assert(!plan.contains("Exchange hashpartitioning"),
      s"q_table_spj join inputs shuffled:\n$plan")
    assert("Exchange".r.findAllIn(plan).length == 1,
      s"expected only the ORDER BY exchange:\n$plan")
  }

  test("identity-partitioned SPJ: two tables PARTITIONED BY the same " +
      "column join exchange-free on it; with the flag OFF the scan " +
      "keeps per-file parallelism (round 20)") {
    wh: Unit
    spark.range(0, 2000)
      .select((col("id") % 10).cast("int").as("g"), col("id").as("k"),
        (col("id") * 1.0).as("v"))
      .createOrReplaceTempView("spj_ident_src")
    spark.sql("""CREATE TABLE spj_tx.db.ia PARTITIONED BY (g) AS
                |SELECT * FROM spj_ident_src WHERE k % 2 = 0
                |""".stripMargin)
    spark.sql("""CREATE TABLE spj_tx.db.ib PARTITIONED BY (g) AS
                |SELECT g, sum(v) AS sv FROM spj_ident_src
                |GROUP BY g""".stripMargin)
    // flag OFF (default): per-file parallelism, Unknown partitioning
    val files = TxTable.readManifest(s"$wh/db/ia",
      TxTable.currentVersion(s"$wh/db/ia"))
      .files.count(_.startsWith("data/"))
    assert(spark.sql("SELECT * FROM spj_tx.db.ia").rdd
      .getNumPartitions == files,
      "default-mode scans must keep per-file parallelism")
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    try {
      val q = """SELECT /*+ MERGE(a) */ a.g, a.k, a.v, b.sv
                |FROM spj_tx.db.ia a JOIN spj_tx.db.ib b ON a.g = b.g
                |""".stripMargin
      val df = spark.sql(q)
      df.collect(): Unit
      val plan = df.queryExecution.executedPlan.toString
        .split("== Initial Plan ==")(0)
      assert(plan.contains("SortMergeJoin") &&
        !plan.contains("Exchange"),
        s"co-identity-partitioned join must not shuffle:\n$plan")
      // results equal the conventional plan
      val got = df.orderBy("k").collect().map(_.toSeq).toSeq
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "false")
      assert(got == spark.sql(q).orderBy("k").collect()
        .map(_.toSeq).toSeq && got.nonEmpty)
    } finally {
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "false")
      spark.sql("DROP TABLE spj_tx.db.ia")
      spark.sql("DROP TABLE spj_tx.db.ib")
    }
  }

  test("INSERT INTO and MERGE INTO keep the bucket layout; the " +
      "post-DML join is still exchange-free") {
    wh: Unit
    spark.sql("""INSERT INTO spj_tx.db.b
                |SELECT k, v - 0.25 AS w FROM spj_src
                |WHERE k % 3 = 1 AND k % 2 = 0""".stripMargin)
    spark.sql("""CREATE OR REPLACE TEMP VIEW spj_upd AS
                |SELECT k, CAST(-9.0 AS DOUBLE) AS w FROM spj_src
                |WHERE k % 30 = 0""".stripMargin)
    spark.sql("""MERGE INTO spj_tx.db.b t USING spj_upd s ON t.k = s.k
                |WHEN MATCHED THEN UPDATE SET w = s.w
                |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val root = s"$wh/db/b"
    val m = TxTable.readManifest(root, TxTable.currentVersion(root))
    val entries = m.files.filter(_.startsWith("data/"))
    assert(entries.forall(_.matches("data/__bucket=\\d+/.*\\.parquet")),
      s"DML broke the bucket layout: ${entries.filterNot(
        _.matches("data/__bucket=\\d+/.*\\.parquet"))}")
    // recompute oracle for the merged state
    val base = spark.table("spj_src").filter(col("k") % 3 === 0)
      .select(col("k"), (col("v") + 0.25).as("w"))
      .union(spark.table("spj_src")
        .filter(col("k") % 3 === 1 && col("k") % 2 === 0)
        .select(col("k"), (col("v") - 0.25).as("w")))
    val upd = spark.table("spj_src").filter(col("k") % 30 === 0)
      .select(col("k"), lit(-9.0).as("u"))
    val expect = base.join(upd, Seq("k"), "left")
      .select(col("k"), coalesce(col("u"), col("w")).as("w"))
      .union(upd.join(base.select("k"), Seq("k"), "left_anti")
        .select(col("k"), col("u").as("w")))
    assert(spark.sql("SELECT k, w FROM spj_tx.db.b").orderBy("k")
      .collect().map(_.toSeq).toSeq ==
      expect.orderBy("k").collect().map(_.toSeq).toSeq)
    // and the join STILL plans exchange-free after append + DML
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    try {
      val df = spark.sql("""SELECT /*+ MERGE(a) */ a.k, a.v, b.w
        |FROM spj_tx.db.a a JOIN spj_tx.db.b b ON a.k = b.k
        |""".stripMargin)
      df.collect(): Unit
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"post-DML co-bucketed join shuffled:\n$plan")
    } finally {
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "false")
    }
  }
}
