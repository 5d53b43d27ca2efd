package graft.streaming

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.TxTable

/** The one conflict rule of file-replacing commits
  * ([[TxTable.commitReplace]]): the first committer wins on every file a
  * commit removes or addresses, and a concurrent commit on other files
  * lands beside it. Each test races a real commit into the window
  * between a write's read and its commit. */
class ConflictSpec extends AnyFunSuite with graft.SparkFixture {

  /** A fresh table at scratch `name`: keys [0, 100) over two files,
    * then (with `second`) keys [1000, 1100) over two more. */
  private def load(name: String, second: Boolean = false): String = {
    val root = graft.Scratch.dir("txtable", name)
    graft.Scratch.deleteRec(new java.io.File(root))
    TxTable.init(root)
    def add(lo: Long): Unit = TxTable.append(spark, root,
      spark.range(lo, lo + 100)
        .select(col("id").as("k"), (col("id") * 2.0).as("v"))
        .repartition(2)): Unit
    add(0)
    if (second) add(1000)
    root
  }

  private def rows(root: String): Seq[(Long, Double)] =
    TxTable.snapshot(spark, root).orderBy("k").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq

  private def ops(root: String, from: Int): Seq[String] =
    TxTable.versions(root).filter(_ >= from)
      .map(v => TxTable.readManifest(root, v).props("op"))

  /** Files under data/ and deletes/ (hidden ones included) that no
    * manifest lists. */
  private def unlisted(root: String): Seq[String] = {
    val listed = TxTable.versions(root)
      .flatMap(v => TxTable.readManifest(root, v).files).toSet
    def walk(d: java.io.File, rel: String): Seq[String] =
      Option(d.listFiles()).toSeq.flatten.flatMap { f =>
        val r = s"$rel/${f.getName}"
        if (f.isDirectory) walk(f, r) else Seq(r).filterNot(listed)
      }
    Seq("data", "deletes").flatMap(d => walk(new java.io.File(root, d), d))
  }

  private def chain(e: Throwable): String =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(_.getMessage).mkString(" | ")

  test("DV DELETE racing a rollback that revives rows it read as " +
      "deleted rebases: no matching row survives and the table equals " +
      "the serial replay") {
    val root = load("spec_conflict_rb")
    val vLoaded = TxTable.currentVersion(root)
    TxTable.deleteVector(spark, root, col("k") % 10 === 0): Unit
    // the rollback lands between the second DELETE's address staging
    // and its commit: the k % 10 = 0 rows it read as deleted are live
    // again, and its staged addresses do not cover them
    TxTable.deleteVector(spark, root, col("k") % 5 === 0,
      () => TxTable.rollbackTo(root, vLoaded): Unit): Unit
    assert(ops(root, vLoaded + 1) ==
      Seq("delete-dv", "rollback", "delete-dv"))
    val got = rows(root)
    assert(!got.exists(_._1 % 5 == 0),
      s"rows the DELETE matches survived it: ${
        got.filter(_._1 % 5 == 0).map(_._1)}")
    // the serial replay: the rollback, then the delete
    val serial = load("spec_conflict_rb_serial")
    TxTable.deleteVector(spark, serial, col("k") % 10 === 0): Unit
    TxTable.rollbackTo(serial, vLoaded): Unit
    TxTable.deleteVector(spark, serial, col("k") % 5 === 0): Unit
    assert(got == rows(serial))
  }

  test("compaction and OPTIMIZE land beside a concurrent INSERT and keep " +
      "its rows") {
    Seq("compact", "cluster").foreach { op =>
      val root = load(s"spec_conflict_ins_$op", second = true)
      val before = rows(root)
      val v0 = TxTable.currentVersion(root)
      val read = TxTable.readManifest(root, v0).files
      val v = TxTable.rewriteSnapshot(spark, root, op) { (snap, _) =>
        txDml(root)(t =>
          s"INSERT INTO $t SELECT id, CAST(id * 3 AS DOUBLE) " +
            "FROM range(5000, 5010)"): Unit
        snap.repartition(2)
      }
      assert(v == v0 + 2 && ops(root, v0 + 1) == Seq("append", op))
      val files = TxTable.readManifest(root, v).files
      assert(read.forall(f => !files.contains(f)),
        s"$op left a file it rewrote listed")
      assert(rows(root) == (before ++
        (5000L until 5010L).map(k => (k, k * 3.0))).sortBy(_._1),
        s"$op lost or duplicated rows beside the concurrent INSERT")
      assert(unlisted(root).isEmpty)
    }
  }

  test("compaction and OPTIMIZE racing a DV DELETE on a file they read " +
      "abort with a position-delete conflict and leave no unlisted file") {
    Seq("compact", "cluster").foreach { op =>
      val root = load(s"spec_conflict_dv_$op", second = true)
      val v0 = TxTable.currentVersion(root)
      val e = intercept[Exception] {
        TxTable.rewriteSnapshot(spark, root, op) { (snap, _) =>
          TxTable.deleteVector(spark, root, col("k") === 1042): Unit
          snap.repartition(2)
        }
      }
      assert(chain(e).contains("concurrent position-delete conflict"),
        s"$op failed for another reason: ${chain(e)}")
      assert(ops(root, v0 + 1) == Seq("delete-dv"))
      assert(rows(root).map(_._1) ==
        ((0L until 100L) ++ (1000L until 1100L)).filterNot(_ == 1042L))
      assert(unlisted(root).isEmpty,
        s"the refused $op left files behind: ${unlisted(root)}")
    }
  }

  test("a SQL UPDATE racing a DV DELETE on a file it does not address " +
      "commits, and the table equals the serial replay") {
    val root = load("spec_conflict_upd", second = true)
    val v0 = TxTable.currentVersion(root)
    // a driver-side thread lands the DELETE of a key outside the
    // UPDATE's range while the UPDATE's task is writing (after its scan
    // planned, before its commit); the UDF signals it and blocks until
    // the delete commits
    val sess = spark
    import UpdRaceCoordination._
    val sneaker = new Thread(() => {
      started.await()
      try TxTable.deleteVector(sess, root, col("k") === 1077): Unit
      finally done.countDown()
    })
    sneaker.start()
    spark.udf.register("upd_race_sneak", (x: Double) => {
      if (UpdRaceCoordination.fired.compareAndSet(false, true)) {
        UpdRaceCoordination.started.countDown()
        UpdRaceCoordination.done.await()
      }
      x + 100.0
    })
    val update = (f: String) => (t: String) =>
      s"UPDATE $t SET v = $f(v) WHERE k IN (SELECT id FROM range(0, 50))"
    txDml(root)(update("upd_race_sneak")): Unit
    sneaker.join()
    assert(ops(root, v0 + 1) == Seq("delete-dv", "update"))
    // the serial replay: the DELETE, then the UPDATE
    val serial = load("spec_conflict_upd_serial", second = true)
    TxTable.deleteVector(spark, serial, col("k") === 1077): Unit
    spark.udf.register("upd_race_plain", (x: Double) => x + 100.0)
    txDml(serial)(update("upd_race_plain")): Unit
    val got = rows(root)
    assert(got == rows(serial))
    assert(got.size == 199 && got.filter(_._1 < 50)
      .forall { case (k, v) => v == k * 2.0 + 100.0 })
  }
}

/** Driver/executor coordination for the UPDATE race — static so the UDF
  * closure captures nothing non-serializable. */
object UpdRaceCoordination {
  val started = new java.util.concurrent.CountDownLatch(1)
  val done = new java.util.concurrent.CountDownLatch(1)
  val fired = new java.util.concurrent.atomic.AtomicBoolean(false)
}
