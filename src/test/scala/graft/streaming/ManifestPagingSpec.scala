package graft.streaming

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.TxTable

/** Round 20 — manifest paging: above the page threshold a snapshot's
  * entries live in immutable `_txlog/page-*` files referenced from the
  * manifest body, a child commit REUSES every untouched parent page
  * (O(commit + touched pages) manifest I/O instead of O(table) — the
  * Iceberg manifest-list shape, closing the round-17 scaladoc's
  * declared 100 TB IOU), readers see the same flattened protocol, and
  * vacuum garbage-collects unreferenced pages under a grace window. */
class ManifestPagingSpec extends AnyFunSuite with graft.SparkFixture {

  private def manifestBody(root: String, v: Int): Seq[String] = {
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get(root, "_txlog", s"v$v")).asScala.toSeq
  }
  private def pageFiles(root: String): Set[String] =
    Option(new java.io.File(root, "_txlog").list()).toSeq.flatten
      .filter(_.startsWith("page-")).toSet

  test("paged manifests: refs on disk, flattened protocol to readers, " +
      "append reuses every parent page, a rewrite drops only the pages " +
      "holding its victims, vacuum GCs unreferenced pages") {
    val root = graft.Scratch.dir("txtable", "spec_paging")
    graft.Scratch.deleteRec(new java.io.File(root))
    TxTable.init(root)
    val (oldSize, oldGrace) =
      (TxTable.ManifestPageSize, TxTable.PageGraceMs)
    TxTable.ManifestPageSize = 4
    TxTable.PageGraceMs = 0L
    try {
      // v1: 12 files → 3 pages of 4
      TxTable.append(spark, root, spark.range(0, 1200)
        .select(col("id").as("k"), (col("id") * 2.0).as("v"))
        .repartitionByRange(12, col("k"))): Unit
      val m1 = TxTable.readManifest(root, 1)
      assert(m1.files.size == 12 && m1.pages.size == 3,
        s"expected 3 pages over 12 entries, got ${m1.pages.size}")
      assert(manifestBody(root, 1).tail.forall(_.startsWith("@")),
        "paged manifest body must be reference lines")
      // stats ride the pages: skipping still prunes
      assert(m1.stats.size == 12, "page-carried stats lost")
      val (kept, all) = TxTable.pruneDataFilesTree(root, m1,
        org.apache.spark.sql.graft.PlanBridge.PredCmp("<", "k", 100))
      assert(kept.nonEmpty && kept.size < all.size,
        s"paged stats must prune: $kept of ${all.size}")
      // v2 append: every v1 page REUSED + one fresh page
      TxTable.append(spark, root, spark.range(1200, 1600)
        .select(col("id").as("k"), (col("id") * 2.0).as("v"))
        .repartition(4)): Unit
      val m2 = TxTable.readManifest(root, 2)
      val p1 = m1.pages.map(_._1).toSet
      val p2 = m2.pages.map(_._1).toSet
      assert(p1.subsetOf(p2),
        s"append must reuse all parent pages: $p1 vs $p2")
      assert((p2 -- p1).size == 1,
        s"a 4-file append is ONE fresh page, got ${(p2 -- p1).size}")
      assert(m2.files.size == 16 &&
        m2.files.toSet.size == 16)
      // the snapshot protocol is unchanged: reads equal the recompute
      assert(TxTable.snapshot(spark, root).count() == 1600)
      assert(TxTable.snapshot(spark, root)
        .filter(col("k") < 100).count() == 100)
      // v3 rewrite (delete): only the pages holding victims drop. The
      // victims live in the low-range files; the modulo conjunct converts
      // to no source filter, so this is the group rewrite, not a DV
      val (_, affected) = txDml(root)(tbl =>
        s"DELETE FROM $tbl WHERE k < 100 AND k % 1 = 0")
      assert(TxTable.readManifest(root, 3).props.get("op")
        .contains("delete"))
      val m3 = TxTable.readManifest(root, 3)
      val p3 = m3.pages.map(_._1).toSet
      val droppedPages = p2 -- p3
      assert(droppedPages.nonEmpty && (p3 & p2).nonEmpty,
        s"a selective rewrite must drop SOME pages and keep others " +
          s"(dropped ${droppedPages.size} of ${p2.size})")
      assert(affected.nonEmpty)
      assert(TxTable.snapshot(spark, root).count() == 1500)
      // DDL equality checks still hold over paged manifests
      TxTable.renameColumn(spark, root, "v", "w"): Unit
      assert(TxTable.snapshot(spark, root).columns.toSeq ==
        Seq("k", "w"))
      val m4 = TxTable.readManifest(root, 4)
      assert(m4.files == m3.files,
        "metadata DDL must republish the paged list verbatim")
      assert(m4.pages.map(_._1) == m3.pages.map(_._1),
        "metadata DDL must reuse every page (zero fresh pages)")
      // vacuum: retain 2 → pages referenced only by v1/v2 GC'd
      val before = pageFiles(root)
      TxTable.vacuum(root, 2): Unit
      val after = pageFiles(root)
      val liveRefs = (3 to 4).flatMap(v =>
        TxTable.readManifest(root, v).pages.map(_._1)).toSet
      assert(after == liveRefs,
        s"vacuum must keep exactly the referenced pages: " +
          s"$after vs $liveRefs (before: ${before.size})")
      assert(TxTable.snapshot(spark, root).count() == 1500)
    } finally {
      TxTable.ManifestPageSize = oldSize
      TxTable.PageGraceMs = oldGrace
    }
  }

  test("paged tables serve every surface: DSv2 pushdown read, " +
      "streaming source, CDC, time travel") {
    val root = graft.Scratch.dir("txtable", "spec_paging2")
    graft.Scratch.deleteRec(new java.io.File(root))
    TxTable.init(root)
    val (oldSize, oldGrace) =
      (TxTable.ManifestPageSize, TxTable.PageGraceMs)
    TxTable.ManifestPageSize = 3
    TxTable.PageGraceMs = 0L
    try {
      TxTable.append(spark, root, spark.range(0, 500)
        .select(col("id").as("k"), (col("id") * 2.0).as("v"))
        .repartitionByRange(5, col("k"))): Unit
      TxTable.append(spark, root, spark.range(500, 1000)
        .select(col("id").as("k"), (col("id") * 2.0).as("v"))
        .repartitionByRange(5, col("k"))): Unit
      assert(TxTable.readManifest(root, 2).pages.nonEmpty)
      // DSv2 batch read: pushdown prunes across page-carried stats
      val df = spark.read.format("txtable").load(root)
        .filter(col("k") >= 900)
      assert(df.count() == 100)
      assert(df.rdd.getNumPartitions < 10,
        "pushed predicate must prune page-carried files")
      // time travel to the paged v1
      assert(spark.read.format("txtable").option("versionAsOf", 1)
        .load(root).count() == 500)
      // streaming source drains both commits from paged manifests
      import org.apache.spark.sql.types._
      val sch = StructType(Seq(StructField("k", LongType),
        StructField("v", DoubleType),
        StructField("_commit_version", IntegerType)))
      val q = spark.readStream.format("txtable").schema(sch).load(root)
        .writeStream.format("memory").queryName("paged_stream")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val got = spark.table("paged_stream").collect()
      assert(got.length == 1000 &&
        got.count(_.getInt(2) == 2) == 500,
        "streaming over paged manifests lost rows")
      spark.catalog.dropTempView("paged_stream"): Unit
    } finally {
      TxTable.ManifestPageSize = oldSize
      TxTable.PageGraceMs = oldGrace
    }
  }
}
