package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.Suite

/** Shared local SparkSession for suites: local[4], UTC, 4 shuffle
  * partitions — pinned to match Verify's configuration so seeded
  * randomSplit/ML results are identical between tests and the driver's
  * correctness run (SURVEY §7.4.5). */
trait SparkFixture extends BeforeAndAfterAll { self: Suite =>

  val sf0001 = "/root/testdata/sf0.001"
  val sf001 = "/root/testdata/sf0.01"

  lazy val spark: SparkSession = SparkFixture.session

  /** Run one SQL statement against the table at `root`, addressed by
    * its path-table name (`stmt` receives that name). Returns the
    * current version afterwards and the affected files: the data
    * entries of the version before minus those after (empty when the
    * statement committed nothing). */
  def txDml(root: String, s: SparkSession = spark)(
      stmt: String => String): (Int, Seq[String]) = {
    import graft.sources.TxTable
    def data(v: Int): Set[String] =
      if (v == 0) Set.empty
      else TxTable.dataEntries(TxTable.readManifest(root, v).files).toSet
    val v0 = TxTable.currentVersion(root)
    s.sql(stmt(TxTable.pathTable(s, root)))
    val v = TxTable.currentVersion(root)
    (v, if (v == v0) Nil else (data(v0) -- data(v)).toSeq.sorted)
  }

  override def afterAll(): Unit = super.afterAll()
}

object SparkFixture {
  /** One session per JVM (sbt forks one test JVM; suites share it). */
  lazy val session: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}
