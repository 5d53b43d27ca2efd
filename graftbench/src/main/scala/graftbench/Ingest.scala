package graftbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.Row

/** Serve's table part: row-level writes, reads, time travel and
  * maintenance on one transactional catalog table. The client
  * keeps a replay of its operation log (`model`) and checks every read,
  * and the final table, against it. */
final class Ingest(c: Ctx) extends Workload(c) {
  private val table = "tx.bench.orders"
  private val root = new File(ctx.work, "tx/bench/orders")
  private val log = new File(root, "_txlog")
  private case class R(cust: Long, status: String, price: Double)
  private val model = mutable.HashMap[Long, R]()
  /** Live row count of every committed version the client has seen. */
  private val versionRows = mutable.HashMap[Int, Long]()
  private var width = 0L
  private var nCust = 1L
  private var nextKey = 0L
  private var maintNs = 0L
  private var commits = 0L
  private var filesWritten = 0L
  private var tracedBytes = 0L
  private val statuses = Array("F", "O", "P")
  private val batch = 200
  /** Statements per round. */
  private val mix = Seq("point" -> 2, "range" -> 1, "aggregate" -> 1,
    "version_as_of" -> 1, "insert" -> 3, "merge" -> 3, "update" -> 1,
    "delete" -> 1)
  /** Maintenance follows every `maintEvery`-th row-level write, counted
    * across rounds, so it does not fall on a round boundary. */
  private val maintEvery = 10
  private var userWrites = 0L

  def setup(): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $table")
    spark.sql("CREATE NAMESPACE IF NOT EXISTS tx.bench")
    graft.Tables.orders(spark, ctx.data)
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
      .createOrReplaceTempView("graftbench_orders")
    spark.sql(s"CREATE TABLE $table AS SELECT * FROM graftbench_orders")
  }

  private def versions(): Seq[Int] =
    Option(log.list()).toSeq.flatten.filter(_.matches("v\\d+"))
      .map(_.drop(1).toInt).sorted

  /** Loads the replay's starting state (the rows the last set-up
    * loaded), then runs one untimed round. */
  override def warmup(): Unit = {
    model.clear()
    graft.Tables.orders(spark, ctx.data)
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
      .collect().foreach { r =>
        model(r.getLong(0)) = R(r.getLong(1), r.getString(2), r.getDouble(3))
      }
    width = spark.table(table).schema.defaultSize.toLong
    nCust = graft.Tables.customer(spark, ctx.data).count()
    nextKey = model.keys.max + 1
    versionRows(versions().last) = model.size.toLong
    round().foreach(_())
  }

  /** Zipf(1.0) rank in [1, n]: the skew of hot keys and hot customers. */
  private def zipf(n: Long): Long = {
    val h = math.log(n.toDouble) + 0.5772
    val u = ctx.rng.nextDouble() * h
    math.min(n, math.max(1L, math.exp(u - 0.5772).toLong))
  }
  private def hotKey(): Option[Long] =
    Iterator.continually(zipf(nextKey)).take(20).find(model.contains)
  private def price(): Double = math.rint(ctx.rng.nextDouble() * 1e7) / 100
  private def status(): String = statuses(ctx.rng.nextInt(3))

  private def source(rows: Seq[(Long, R)]): Unit = {
    val session = spark
    import session.implicits._
    rows.map { case (k, r) => (k, r.cust, r.status, r.price) }
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
      .createOrReplaceTempView("graftbench_src")
  }

  /** A write statement: timed, then accounted from the table directory
    * and applied to the replay once it succeeded. */
  private def write(name: String, sql: String, rows: Long,
      maintenance: Boolean = false)(apply: => Unit): Unit = {
    val before = Disk.files(root)
    val t0 = System.nanoTime()
    val ok = client.op(name, "streaming", Write)(spark.sql(sql).collect()) {
      _ =>
        val added = Disk.added(before, Disk.files(root))
        client.bytesWritten += added.values.sum
        client.logicalBytesWritten += rows * width
        client.rowsWritten += rows
        if (ctx.tracer.isRecording) {
          commits += added.keys.count(_.matches("_txlog/v\\d+"))
          filesWritten += added.keys.count(!_.startsWith("_txlog/"))
          tracedBytes += added.values.sum
          if (maintenance) maintNs += System.nanoTime() - t0
        }
        None
    }.isDefined
    if (ok) {
      apply
      versions().lastOption.foreach(versionRows(_) = model.size.toLong)
      // space is sampled at rest: after maintenance, not between the
      // copy-on-write rewrites it cleans up
      if (name == "vacuum")
        client.spaceAmp += Disk.bytes(root).toDouble / (model.size * width)
    }
    if (!maintenance) {
      userWrites += 1
      if (userWrites % maintEvery == 0) { run("optimize"); run("vacuum") }
    }
  }

  private def read(name: String, sql: String)(check: Array[Row] => Option[String])
      : Unit = {
    client.op(name, "sources", Read)(spark.sql(sql).collect())(check)
    ctx.tracer.last.foreach(_.rows = 1)
  }

  private def near(a: Double, b: Double) =
    math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(b))

  def round(): Seq[() => Unit] = ctx.rng.shuffle(
    mix.flatMap { case (k, n) => Seq.fill(n)(() => run(k)) })

  private def run(kind: String): Unit = kind match {
    // VACUUM keeps the optimized version and the one before it
    case "vacuum" =>
      write("vacuum", s"CALL tx.system.vacuum('bench.orders', 2)", 0,
        maintenance = true)(())
    case "optimize" =>
      write("optimize", "CALL tx.system.optimize('bench.orders', " +
        "'o_orderkey', 'o_custkey', 4)", 0, maintenance = true)(())
    case "point" =>
      val k = hotKey().getOrElse(1L)
      read("point", s"SELECT * FROM $table WHERE o_orderkey = $k") { rows =>
        val got = rows.map(x => R(x.getLong(1), x.getString(2), x.getDouble(3)))
        if (got.toSeq == model.get(k).toSeq) None
        else Some(s"key $k: ${got.mkString} vs ${model.get(k)}")
      }
    case "range" =>
      val a = zipf(nextKey)
      val b = a + 999
      read("range", s"SELECT count(*), sum(o_totalprice) FROM $table " +
        s"WHERE o_orderkey BETWEEN $a AND $b") { rows =>
        val in = model.iterator.filter { case (k, _) => k >= a && k <= b }
          .map(_._2.price).toSeq
        val n = rows(0).getLong(0)
        val s = if (rows(0).isNullAt(1)) 0.0 else rows(0).getDouble(1)
        if (n == in.size && near(s, in.sum)) None
        else Some(s"range [$a, $b]: $n rows, sum $s vs ${in.size}, ${in.sum}")
      }
    case "aggregate" =>
      read("aggregate", s"SELECT o_orderstatus, count(*) FROM $table " +
        "GROUP BY o_orderstatus") { rows =>
        val got = rows.map(x => x.getString(0) -> x.getLong(1)).toMap
        val want = model.values.groupBy(_.status).map {
          case (s, rs) => s -> rs.size.toLong }
        if (got == want) None else Some(s"$got vs $want")
      }
    case "version_as_of" =>
      val kept = versions().filter(versionRows.contains)
      val v = kept(ctx.rng.nextInt(kept.size))
      read("version_as_of",
        s"SELECT count(*) FROM $table VERSION AS OF $v") { rows =>
        if (rows(0).getLong(0) == versionRows(v)) None
        else Some(s"v$v: ${rows(0).getLong(0)} vs ${versionRows(v)}")
      }
    case "insert" =>
      val rows = (0 until batch).map(j =>
        (nextKey + j, R(zipf(nCust), status(), price())))
      source(rows)
      write("insert", s"INSERT INTO $table SELECT * FROM graftbench_src",
        batch) { model ++= rows; nextKey += batch }
    case "merge" =>
      val hot = Iterator.continually(hotKey()).take(4 * batch).flatten
        .toSeq.distinct.take(3 * batch / 4)
      val fresh = (0 until batch - hot.size).map(nextKey + _)
      val rows = (hot ++ fresh).map(k =>
        k -> R(model.get(k).map(_.cust).getOrElse(zipf(nCust)), status(),
          price()))
      source(rows)
      write("merge", s"MERGE INTO $table t USING graftbench_src s " +
        "ON t.o_orderkey = s.o_orderkey " +
        "WHEN MATCHED THEN UPDATE SET o_orderstatus = s.o_orderstatus, " +
        "o_totalprice = s.o_totalprice WHEN NOT MATCHED THEN INSERT *",
        rows.size.toLong) { model ++= rows; nextKey += fresh.size }
    case "update" =>
      val a = zipf(nextKey)
      val hit = model.keys.filter(k => k >= a && k < a + 50).toSeq
      write("update", s"UPDATE $table SET o_totalprice = o_totalprice + " +
        s"1.0 WHERE o_orderkey BETWEEN $a AND ${a + 49}", hit.size.toLong) {
        hit.foreach(k => model(k) = model(k).copy(price = model(k).price + 1.0))
      }
    case "delete" =>
      val a = hotKey().getOrElse(1L)
      val hit = model.keys.filter(k => k >= a && k < a + 25).toSeq
      // deletes submit no user rows (like the maintenance procedures)
      write("delete", s"DELETE FROM $table WHERE o_orderkey BETWEEN $a " +
        s"AND ${a + 24}", 0) { model --= hit }
  }

  /** The final table must equal the replay of the operation log. */
  override def verify(): Unit = {
    checkOp("replay") {
      val got = spark.sql(s"SELECT * FROM $table").collect()
        .map(x => x.getLong(0) -> R(x.getLong(1), x.getString(2),
          x.getDouble(3))).toMap
      val diff = (got.keySet ++ model.keySet).count(k => got.get(k) != model.get(k))
      if (got.size == model.size && diff == 0) None
      else Some(s"${got.size} rows vs ${model.size} replayed, $diff differ")
    }
    extra("streaming.commits") = commits.toDouble
    extra("streaming.files_written") = filesWritten.toDouble
    extra("streaming.bytes_written_mb") = tracedBytes / 1048576.0
    extra("streaming.maint_s") = maintNs / 1e9
  }
}
