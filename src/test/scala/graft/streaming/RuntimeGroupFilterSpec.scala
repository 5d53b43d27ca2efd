package graft.streaming

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.TxTable

/** Round 19: runtime group filtering for row-level DML on PARTITIONED
  * tables — a MERGE/UPDATE whose matching rows live in one partition
  * rewrites that partition only (Spark's
  * RowLevelOperationRuntimeGroupFiltering × TxRuntimeFilteredScan). */
class RuntimeGroupFilterSpec extends AnyFunSuite with graft.SparkFixture {

  private def mkPartitioned(tag: String): String = {
    val wh = graft.Scratch.dir("txtable", s"spec_rgf_$tag")
    graft.Scratch.deleteRec(new java.io.File(wh))
    new java.io.File(wh).mkdirs()
    spark.conf.set(s"spark.sql.catalog.rgf_$tag",
      classOf[TxTableCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.rgf_$tag.warehouse", wh)
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS rgf_$tag.db")
    spark.range(0, 4000)
      .select(col("id").as("k"), (col("id") % 4).cast("int").as("b"),
        (col("id") * 1.0).as("v"))
      .createOrReplaceTempView(s"rgf_src_$tag")
    spark.sql(s"""CREATE TABLE rgf_$tag.db.t PARTITIONED BY (b) AS
                 |SELECT * FROM rgf_src_$tag""".stripMargin)
    s"$wh/db/t"
  }
  private def dataFiles(root: String): Set[String] =
    TxTable.readManifest(root, TxTable.currentVersion(root))
      .files.filter(_.startsWith("data/")).toSet

  test("MERGE INTO a partitioned table whose source keys live in ONE " +
      "partition rewrites only that partition's files") {
    val root = mkPartitioned("merge")
    val before = dataFiles(root)
    val untouched = before.filterNot(_.startsWith("data/b=1/"))
    assert(untouched.nonEmpty && before.exists(_.startsWith("data/b=1/")))
    // source keys: k ≡ 1 (mod 4) → partition b=1 only, plus fresh keys
    // that also land in b=1
    spark.range(0, 50)
      .select((col("id") * 4 + 1).as("k"), lit(1).cast("int").as("b"),
        lit(-5.0).as("v"))
      .createOrReplaceTempView("rgf_merge_src")
    spark.sql("""MERGE INTO rgf_merge.db.t t USING rgf_merge_src s
                |ON t.k = s.k
                |WHEN MATCHED THEN UPDATE SET v = s.v
                |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val after = dataFiles(root)
    assert(untouched.subsetOf(after),
      "runtime group filtering must leave non-matching partitions' " +
        s"files untouched; lost: ${untouched -- after}")
    assert(!before.filter(_.startsWith("data/b=1/")).subsetOf(after),
      "the matching partition must have been rewritten")
    // correctness: merged values present, everything else intact
    val got = spark.sql("SELECT * FROM rgf_merge.db.t")
    assert(got.filter(col("k") % 4 === 1 && col("k") < 200).agg(
      sum(when(col("v") === -5.0, 1).otherwise(0))).collect()(0)
      .getLong(0) == 50L)
    assert(got.count() == 4000L)
    assert(got.filter(col("b") =!= 1 && col("v") < 0).count() == 0)
    // full-content check against a recompute
    val expect = spark.table("rgf_merge_src").select("k")
      .collect().map(_.getLong(0)).toSet
    val recompute = spark.range(0, 4000)
      .select(col("id").as("k"), (col("id") % 4).cast("int").as("b"),
        when(col("id").isin(expect.toSeq.map(Long.box): _*), -5.0)
          .otherwise(col("id") * 1.0).as("v"))
    assert(got.orderBy("k").collect().map(_.toSeq).toSeq ==
      recompute.orderBy("k").collect().map(_.toSeq).toSeq)
  }

  test("FLAT-table MERGE rewrites only the files holding matching " +
      "keys: file-grain runtime group filtering via _tx_file") {
    val wh = graft.Scratch.dir("txtable", "spec_rgf_flat")
    graft.Scratch.deleteRec(new java.io.File(wh))
    new java.io.File(wh).mkdirs()
    spark.conf.set("spark.sql.catalog.rgf_flat",
      classOf[TxTableCatalog].getName)
    spark.conf.set("spark.sql.catalog.rgf_flat.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS rgf_flat.db")
    spark.sql("""CREATE TABLE rgf_flat.db.t
                |(k BIGINT, v DOUBLE)""".stripMargin)
    val root = s"$wh/db/t"
    // two files with DISJOINT key ranges (separate commits)
    TxTable.append(spark, root, spark.range(0, 1000)
      .select(col("id").as("k"), (col("id") * 1.0).as("v"))
      .repartition(1))
    TxTable.append(spark, root, spark.range(100000, 101000)
      .select(col("id").as("k"), (col("id") * 1.0).as("v"))
      .repartition(1))
    val before = dataFiles(root)
    assert(before.size == 2, s"expected two files, got $before")
    // source keys hit only the LOW file's range
    spark.range(0, 20).select(col("id").as("k"), lit(-3.0).as("v"))
      .createOrReplaceTempView("rgf_flat_src")
    spark.sql("""MERGE INTO rgf_flat.db.t t USING rgf_flat_src s
                |ON t.k = s.k
                |WHEN MATCHED THEN UPDATE SET v = s.v
                |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val after = dataFiles(root)
    val highFile = before.filter { f =>
      val m0 = TxTable.readManifest(root, 3) // after both appends
      m0.stats.get(f).exists(_.cols.get("k").exists(_.min == "100000"))
    }
    assert(highFile.size == 1 && highFile.subsetOf(after),
      s"file-grain group filtering must keep the non-matching file: " +
        s"before=$before after=$after high=$highFile")
    assert(!before.subsetOf(after), "the matching file must be rewritten")
    // correctness
    val got = spark.sql("SELECT * FROM rgf_flat.db.t")
    assert(got.count() == 2000L)
    assert(got.filter(col("v") === -3.0).count() == 20L)
    assert(got.filter(col("k") >= 100000 && col("v") < 0).count() == 0L)
    // the _tx_file metadata column is user-selectable and file-constant
    val files = spark.sql(
      "SELECT DISTINCT _tx_file FROM rgf_flat.db.t WHERE k >= 100000")
      .collect().map(_.getString(0)).toSeq
    assert(files == highFile.toSeq.map(f => s"$root/$f"),
      s"_tx_file must surface the provenance path: $files")
    spark.sql("DROP TABLE rgf_flat.db.t")
  }

  test("a group rewrite over a table with OUTSTANDING position deletes " +
      "absorbs them: DV-deleted rows stay gone, the update applies, and " +
      "the commit records the DV set it read") {
    val wh = graft.Scratch.dir("txtable", "spec_rgf_dv")
    graft.Scratch.deleteRec(new java.io.File(wh))
    new java.io.File(wh).mkdirs()
    spark.conf.set("spark.sql.catalog.rgf_dv",
      classOf[TxTableCatalog].getName)
    spark.conf.set("spark.sql.catalog.rgf_dv.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS rgf_dv.db")
    spark.sql("CREATE TABLE rgf_dv.db.t (k BIGINT, v DOUBLE)")
    val root = s"$wh/db/t"
    TxTable.append(spark, root, spark.range(0, 100)
      .select(col("id").as("k"), (col("id") * 1.0).as("v"))
      .repartition(1))
    // merge-on-read deletes FIRST (convertible → DV fast path)
    spark.sql("DELETE FROM rgf_dv.db.t WHERE k >= 90")
    assert(TxTable.readManifest(root, TxTable.currentVersion(root))
      .props.get("op").contains("delete-dv"))
    // then a COPY-ON-WRITE update over the same file (a MERGE is a
    // group rewrite, which must absorb the outstanding DV)
    spark.range(0, 10).select(col("id").as("k"))
      .createOrReplaceTempView("rgf_dv_keys")
    val dvRead = TxTable.deleteEntries(TxTable.readManifest(root,
      TxTable.currentVersion(root)).files)
    spark.sql("""MERGE INTO rgf_dv.db.t t USING rgf_dv_keys s
                |ON t.k = s.k WHEN MATCHED THEN UPDATE SET v = -1.0"""
      .stripMargin)
    val mMerge = TxTable.readManifest(root, TxTable.currentVersion(root))
    assert(mMerge.props.get("op").contains("merge") &&
      TxTable.deleteEntries(mMerge.files) == dvRead,
      "the rewrite must commit over exactly the DV set it read")
    def rows() = spark.sql("SELECT * FROM rgf_dv.db.t").orderBy("k")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val got = rows()
    assert(got.size == 90, s"DV-deleted rows resurrected: ${got.size}")
    assert(got.takeWhile(_._1 < 10).forall(_._2 == -1.0))
    assert(got.filter(t => t._1 >= 10 && t._1 < 90)
      .forall(t => t._2 == t._1 * 1.0))
    // a merge-on-read UPDATE (subquery condition) over the same
    // outstanding DVs keeps them gone too
    spark.sql("""UPDATE rgf_dv.db.t SET v = -2.0
                |WHERE k IN (SELECT k FROM rgf_dv_keys)""".stripMargin)
    assert(rows() == got.map(t => if (t._1 < 10) (t._1, -2.0) else t))
    spark.sql("DROP TABLE rgf_dv.db.t")
  }

  test("a concurrent position-delete landing mid-rewrite ABORTS the " +
      "SQL UPDATE loudly (scan-to-commit DV conflict check), discards " +
      "its staged files, and loses no committed state") {
    val wh = graft.Scratch.dir("txtable", "spec_rgf_race")
    graft.Scratch.deleteRec(new java.io.File(wh))
    new java.io.File(wh).mkdirs()
    spark.conf.set("spark.sql.catalog.rgf_race",
      classOf[TxTableCatalog].getName)
    spark.conf.set("spark.sql.catalog.rgf_race.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS rgf_race.db")
    spark.sql("CREATE TABLE rgf_race.db.t (k BIGINT, v DOUBLE)")
    val root = s"$wh/db/t"
    TxTable.append(spark, root, spark.range(0, 100)
      .select(col("id").as("k"), (col("id") * 1.0).as("v"))
      .repartition(1))
    // a DRIVER-SIDE thread lands ONE conflicting merge-on-read delete
    // while the UPDATE's rewrite is recomputing rows (after its scan
    // planned groups and captured the DV set, before its commit): the
    // recomputation's UDF signals the thread and BLOCKS until the
    // delete commits (a task thread cannot launch nested jobs itself)
    val sess = spark
    import RgfRaceCoordination._
    val sneaker = new Thread(() => {
      started.await()
      try TxTable.deleteVector(sess, root,
        col("k") === 77): Unit
      finally done.countDown()
    })
    sneaker.start()
    // the lambda references only the static coordination object, so the
    // closure stays serializable (local mode still serializes tasks)
    spark.udf.register("rgf_race_sneak", (x: Double) => {
      if (RgfRaceCoordination.fired.compareAndSet(false, true)) {
        RgfRaceCoordination.started.countDown()
        RgfRaceCoordination.done.await()
      }
      x + 100.0
    })
    val vBefore = TxTable.currentVersion(root)
    val e = intercept[Exception] {
      spark.sql("""UPDATE rgf_race.db.t SET v = rgf_race_sneak(v)
                  |WHERE k IN (SELECT id FROM range(0, 50))"""
        .stripMargin)
    }
    def rootMsg(t: Throwable): String = {
      var c: Throwable = t
      val sb = new StringBuilder
      while (c != null) { sb.append(c.getMessage).append(" | "); c = c.getCause }
      sb.toString
    }
    assert(rootMsg(e).contains("position-delete conflict"),
      s"expected the DV conflict abort, got: ${rootMsg(e)}")
    // the UPDATE aborted: no version landed beyond the sneak's delete,
    // no update applied, the DV delete IS applied, and no staged file
    // leaked (visible files == manifest files)
    val m = TxTable.readManifest(root, TxTable.currentVersion(root))
    assert(m.props.get("op").contains("delete-dv") &&
      m.version == vBefore + 1)
    val got = spark.sql("SELECT * FROM rgf_race.db.t")
    assert(got.count() == 99L, "the concurrent DV delete must hold")
    assert(got.filter(col("v") >= 100.0).count() == 0,
      "the aborted UPDATE must not be partially applied")
    // (data files and the UPDATE's position-delete files alike)
    Seq("data", "deletes").foreach { dir =>
      val visible = Option(new java.io.File(root, dir).listFiles())
        .toSeq.flatten.filterNot(_.getName.startsWith(".")).map(_.getName)
        .toSet
      val listed = m.files.filter(_.startsWith(s"$dir/"))
        .map(_.stripPrefix(s"$dir/")).toSet
      assert(visible == listed,
        s"aborted UPDATE leaked staged files: ${visible -- listed}")
    }
    spark.sql("DROP TABLE rgf_race.db.t")
  }

  test("UPDATE with a subquery condition on a partitioned table keeps " +
      "non-matching partitions' files (group filter via the matching-" +
      "rows subquery)") {
    val root = mkPartitioned("upd")
    val before = dataFiles(root)
    val untouched = before.filterNot(_.startsWith("data/b=2/"))
    // subquery condition (not pushable statically): keys ≡ 2 (mod 4)
    spark.sql("""UPDATE rgf_upd.db.t SET v = -9.0
                |WHERE k IN (SELECT k FROM rgf_src_upd
                |            WHERE b = 2 AND k < 100)""".stripMargin)
    val after = dataFiles(root)
    assert(untouched.subsetOf(after),
      "subquery UPDATE must rewrite only the matching partition; " +
        s"lost: ${untouched -- after}")
    val got = spark.sql("SELECT * FROM rgf_upd.db.t")
    assert(got.filter(col("v") === -9.0).count() ==
      spark.table("rgf_src_upd").filter(col("b") === 2 && col("k") < 100)
        .count())
    assert(got.count() == 4000L)
  }
}

/** Driver/executor coordination for the mid-rewrite conflict test —
  * static so the UDF closure captures nothing non-serializable. */
object RgfRaceCoordination {
  val started = new java.util.concurrent.CountDownLatch(1)
  val done = new java.util.concurrent.CountDownLatch(1)
  val fired = new java.util.concurrent.atomic.AtomicBoolean(false)
}
