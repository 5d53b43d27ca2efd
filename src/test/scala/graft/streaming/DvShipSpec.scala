package graft.streaming

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.TxTable

/** Round 19 (VERDICT r18 item 6): position deletes apply EXECUTOR-side.
  * The batch scan's InputPartitions carry delete-FILE PATHS (footer
  * range-filtered), never driver-materialized ordinals. */
class DvShipSpec extends AnyFunSuite with graft.SparkFixture {

  test("DSv2 batch read ships delete-file paths per partition, " +
      "resolves ordinals executor-side, and results equal the library " +
      "snapshot") {
    import spark.implicits._
    val root = graft.Scratch.dir("txtable", "spec_dvship")
    graft.Scratch.deleteRec(new java.io.File(root))
    TxTable.init(root)
    TxTable.append(spark, root,
      spark.range(0, 1000).select(col("id").as("k"),
        (col("id") % 97).as("v")))
    TxTable.append(spark, root,
      spark.range(1000, 2000).select(col("id").as("k"),
        (col("id") % 97).as("v")))
    // two separate DV commits (un-compacted accumulation)
    TxTable.deleteVector(spark, root, col("k") % 10 === 3)
    TxTable.deleteVector(spark, root, col("k") % 10 === 7)

    // partitions carry dv FILE PATHS (a partition has no field for
    // driver-resolved ordinals, so none can be materialized)
    val v = TxTable.currentVersion(root)
    val schema = TxTable.inferLogicalSchema(root, v).get
    val scan = new TxTableScanBuilder(schema, root, None,
      skipChange = false, Int.MaxValue, None).build()
    val parts = scan.toBatch.planInputPartitions()
      .map(_.asInstanceOf[TxFilePartition])
    assert(parts.nonEmpty)
    parts.foreach { p =>
      assert(p.dvFiles.nonEmpty,
        "partition carries no delete files despite outstanding DVs")
    }

    // results identical to the driver-side expected rows, on the path
    // read and on the library snapshot
    val expected = (0L until 2000L)
      .filter(k => k % 10 != 3 && k % 10 != 7)
      .map(k => Seq[Any](k, k % 97))
    val dsv2 = spark.read.format("txtable").load(root)
    val lib = TxTable.snapshot(spark, root)
    assert(dsv2.count() == expected.size)
    assert(dsv2.orderBy("k").collect().map(_.toSeq).toSeq == expected)
    assert(lib.orderBy("k").collect().map(_.toSeq).toSeq == expected)
    assert(dsv2.filter(col("k") % 10 === 3).count() == 0)
    assert(dsv2.filter(col("k") % 10 === 7).count() == 0)

    // a PRUNED read still applies the right DVs (delete files whose
    // fname range misses a partition's file are skipped, not lost)
    val prunedRead = spark.read.format("txtable").load(root)
      .filter(col("k") >= 1500)
    assert(prunedRead.count() ==
      expected.count(_.head.asInstanceOf[Long] >= 1500))

    // post-skipping statistics subtract ALL dv rows when every file is
    // planned (footer row counts, no address materialization)
    val stats = scan.asInstanceOf[TxTableScan].estimateStatistics()
    assert(stats.numRows.isPresent &&
      stats.numRows.getAsLong == expected.size,
      s"reported ${stats.numRows} vs actual ${expected.size}")
  }

  test("_tx_pos addresses: a DV delete writes exactly the (file, row " +
      "index) pairs a _tx_pos read selects, in the parquet row-index " +
      "numbering, and the post-delete read skips exactly those rows") {
    val root = graft.Scratch.dir("txtable", "spec_txpos")
    graft.Scratch.deleteRec(new java.io.File(root))
    TxTable.init(root)
    TxTable.append(spark, root, spark.range(0, 900).repartition(3)
      .select(col("id").as("k"), (col("id") % 11).as("v")))
    def addrs(df: org.apache.spark.sql.DataFrame): Set[(String, Long)] =
      df.select(regexp_extract(col("_tx_file"), "[^/]+$", 0),
          col("_tx_pos"))
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val v1 = TxTable.currentVersion(root)
    val before = TxTable.snapshot(spark, root, v1)
      .select(col("k"), col("_tx_file"), col("_tx_pos"))
    // _tx_pos is the row's index in its file: per file, the same
    // numbering Spark's own parquet reader reports as row_index
    TxTable.dataEntries(TxTable.readManifest(root, v1).files).foreach { f =>
      val ours = before.filter(col("_tx_file") === s"$root/$f")
        .select("k", "_tx_pos").collect().map(r => (r.getLong(0),
          r.getLong(1))).toSet
      val spark0 = spark.read.parquet(s"$root/$f")
        .select(col("k"), col("_metadata.row_index")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(ours.nonEmpty && ours == spark0,
        s"_tx_pos disagrees with the parquet row index in $f")
    }
    val want = addrs(before.filter(col("k") % 7 === 0))
    val (v2, dvFiles) = TxTable.deleteVector(spark, root, col("k") % 7 === 0)
    assert(v2 == v1 + 1 && dvFiles.nonEmpty)
    // the address files hold exactly the _tx_pos addresses
    val written = spark.read.parquet(dvFiles.map(f => s"$root/$f"): _*)
      .collect().map(r => (r.getAs[String]("fname"), r.getAs[Long]("pos")))
    assert(written.length == want.size && written.toSet == want,
      "the DV addresses are not the _tx_pos addresses of the matches")
    // post-delete: positions keep their pre-delete numbering, and exactly
    // the addressed rows are gone
    val after = TxTable.snapshot(spark, root, v2)
      .select(col("k"), col("_tx_file"), col("_tx_pos"))
    assert(addrs(after) == addrs(before) -- want)
    assert(after.filter(col("k") % 7 === 0).count() == 0 &&
      after.count() == 900 - want.size)
  }

  test("row-group skipping keeps position deletes and _tx_pos exact: a " +
      "predicate whose parquet stats skip the first row groups of a " +
      "file still drops the deleted rows of its last row group, and " +
      "_tx_pos equals Spark's own row_index") {
    val root = graft.Scratch.dir("txtable", "spec_rowgroups")
    graft.Scratch.deleteRec(new java.io.File(root))
    TxTable.init(root)
    // a small parquet block size: the one data file gets several row
    // groups, k ascending through them
    spark.conf.set("parquet.block.size", "1024")
    try TxTable.append(spark, root, spark.range(0, 3000).coalesce(1)
      .select(col("id").as("k"), (col("id") % 13).as("v"))): Unit
    finally spark.conf.unset("parquet.block.size")
    val files = TxTable.dataEntries(
      TxTable.readManifest(root, TxTable.currentVersion(root)).files)
    assert(files.size == 1)
    val path = s"$root/${files.head}"
    val kRanges: Seq[(Long, Long)] = {
      import scala.jdk.CollectionConverters._
      val rd = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(path),
          spark.sparkContext.hadoopConfiguration))
      try rd.getFooter.getBlocks.asScala.toSeq.map { b =>
        val st = b.getColumns.asScala.find(_.getPath.toDotString == "k")
          .get.getStatistics
        (st.genericGetMin.asInstanceOf[java.lang.Long].longValue,
          st.genericGetMax.asInstanceOf[java.lang.Long].longValue)
      } finally rd.close()
    }
    val lastMin = kRanges.last._1
    assert(kRanges.size >= 3 && kRanges.init.forall(_._2 < lastMin),
      s"want >= 3 row groups, the last above the others: $kRanges")

    // delete rows of the last row group only
    val (_, dvFiles) = TxTable.deleteVector(spark, root,
      col("k") >= lastMin && col("k") % 5 === 0)
    assert(dvFiles.nonEmpty)
    val rowIndex = spark.read.parquet(path)
      .select(col("k"), col("_metadata.row_index")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val read = TxTable.snapshot(spark, root)
      .filter(col("k") >= lastMin).select("k", "_tx_pos").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(!read.exists(_._1 % 5 == 0), "a deleted row came back")
    assert(read.forall { case (k, pos) => rowIndex(k) == pos },
      "_tx_pos disagrees with the parquet row index under row-group " +
        "skipping")
    assert(read.length == (lastMin until 3000L).count(_ % 5 != 0))
  }

  test("the scan reports filesRead, deleteFilesRead and rowsDeleted as " +
      "custom metrics") {
    val root = graft.Scratch.dir("txtable", "spec_scanmetrics")
    graft.Scratch.deleteRec(new java.io.File(root))
    TxTable.init(root)
    TxTable.append(spark, root, spark.range(0, 500).coalesce(1)
      .select(col("id").as("k"), (col("id") % 7).as("v"))): Unit
    // two delete files addressing the one data file: N = 100 rows
    TxTable.deleteVector(spark, root, col("k") % 10 === 1): Unit
    TxTable.deleteVector(spark, root, col("k") % 10 === 2): Unit
    val df = spark.read.format("txtable").load(root)
    assert(df.collect().length == 400)
    val metrics = TxScanProbe.metrics(df)
    assert(metrics.size == 1, s"expected one txtable scan: $metrics")
    val m = metrics.head
    assert(m("filesRead") == 1 && m("deleteFilesRead") == 2 &&
      m("rowsDeleted") == 100, s"scan metrics: $m")
  }
}
