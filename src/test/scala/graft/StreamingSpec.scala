package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}
import org.scalatest.funsuite.AnyFunSuite

/** Streaming semantics (SURVEY §2.11 / §5.5): each transform is defined
  * once in stream.EventOps; here it runs through a MemoryStream with
  * out-of-order input + watermark and must equal its batch result on
  * closed windows. Late data beyond the watermark must be dropped.
  * Arbitrary stateful processing is exercised via flatMapGroupsWithState. */
/** Top-level so Spark can derive an Encoder (inner classes can't be
  * instantiated by generated code). */
case class Ev(event_id: Long, ts: Timestamp, user_id: Long,
  event_type: String, value: Double)

/** Spark 4 transformWithState processor: running per-user event count in
  * a ValueState (the arbitrary-stateful-op surface, SURVEY §2.11). */
class RunningCountProcessor
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      Long, Ev, (Long, Long)] {
  import org.apache.spark.sql.streaming.{TTLConfig, ValueState}
  @transient private var count: ValueState[Long] = _
  override def init(outputMode: org.apache.spark.sql.streaming.OutputMode,
      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
    count = getHandle.getValueState[Long]("count",
      org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
  override def handleInputRows(key: Long, rows: Iterator[Ev],
      timerValues: org.apache.spark.sql.streaming.TimerValues)
      : Iterator[(Long, Long)] = {
    val n = (if (count.exists()) count.get() else 0L) + rows.size
    count.update(n)
    Iterator((key, n))
  }
}

class StreamingSpec extends AnyFunSuite with SparkFixture {

  private val t0 = Timestamp.valueOf("2024-01-01 00:00:00").getTime

  private def ts(min: Int, sec: Int = 0): Timestamp =
    new Timestamp(t0 + min * 60000L + sec * 1000L)

  test("tumbling window: stream (with watermark) == batch on closed windows") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val events = Seq(
      Ev(1, ts(1), 1, "click", 1.0), Ev(2, ts(5), 1, "view", 2.0),
      Ev(3, ts(3), 2, "click", 3.0), // out of order within window
      Ev(4, ts(62), 1, "click", 4.0), Ev(5, ts(65), 2, "view", 5.0),
      Ev(6, ts(130), 1, "click", 6.0)) // advances watermark past 1st hour
    val mem = MemoryStream[Ev]
    mem.addData(events: _*)
    val streamed = stream.EventOps.tumblingTransform(
      mem.toDF().withWatermark("ts", "10 minutes"))
    val q = streamed.writeStream.format("memory").queryName("tumbling_out")
      .outputMode(OutputMode.Append).start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("tumbling_out")
      .select("window_start", "event_type", "cnt", "sum_value")
      .collect().map(_.toSeq).toSet
    val batch = stream.EventOps.tumblingTransform(events.toDF())
      .collect().map(_.toSeq)
      // append mode only emits windows the watermark has closed (< 2:00)
      .filter(_.head.asInstanceOf[Timestamp].before(ts(120)))
      .toSet
    assert(got == batch)
  }

  test("sliding window: stream (with watermark) == batch on closed " +
      "windows, each event in exactly two windows") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val events = Seq(
      Ev(1, ts(10), 1, "click", 1.0), Ev(2, ts(40), 1, "view", 2.0),
      Ev(3, ts(75), 2, "click", 3.0),
      Ev(4, ts(300), 1, "click", 4.0)) // closes the early windows
    val mem = MemoryStream[Ev]
    mem.addData(events: _*)
    val q = stream.EventOps.slidingTransform(
      mem.toDF().withWatermark("ts", "10 minutes"))
      .writeStream.format("memory").queryName("sliding_out")
      .outputMode(OutputMode.Append).start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("sliding_out")
      .select("window_start", "cnt", "sum_value")
      .collect().map(_.toSeq).toSet
    val batch = stream.EventOps.slidingTransform(events.toDF())
      .collect().map(_.toSeq)
      .filter(_.head.asInstanceOf[Timestamp].before(ts(230)))
      .toSet
    assert(got == batch)
    // sliding 1h/30min ⇒ every event lands in exactly 2 windows
    val totalAssigned = stream.EventOps.slidingTransform(events.toDF())
      .agg(org.apache.spark.sql.functions.sum("cnt")).collect()
      .head.getLong(0)
    assert(totalAssigned == events.length * 2)
  }

  test("foreachBatch sink writes each micro-batch to parquet") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files
      .createTempDirectory("graft_fes").toString
    val mem = MemoryStream[Ev]
    mem.addData(Ev(1, ts(1), 1, "click", 1.0), Ev(2, ts(2), 2, "view", 2.0))
    val q = stream.EventOps.dedupTransform(
      mem.toDF().withWatermark("ts", "10 minutes"))
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        batch.write.mode("append").parquet(s"$dir/out")
      }
      .trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop()
    val written = spark.read.parquet(s"$dir/out")
    assert(written.count() == 2)
    assert(written.columns.toSet ==
      Set("event_id", "user_id", "event_type", "value"))
  }

  test("file-source checkpoint resume: kill the query mid-stream, " +
      "resume from the offset log, exactly-once output across the " +
      "restart (the Kafka-contract emulation: offset tracking + " +
      "maxFilesPerTrigger rate limiting)") {
    // The zero-egress image has no Kafka, but the contract a Kafka user
    // depends on — durable offsets, restart-from-checkpoint, rate
    // limiting, exactly-once sink output — is source-independent and
    // fully exercised by the file source: files stand in for offset
    // ranges, maxFilesPerTrigger for maxOffsetsPerTrigger, the
    // checkpoint's offset/commit logs and the file sink's _spark_metadata
    // manifest are literally the same code paths production runs.
    import spark.implicits._
    val root = graft.Scratch.dir("stream", "ckpt_resume")
    val src = s"$root/src"; val ckpt = s"$root/ckpt"
    val out = s"$root/out"
    new java.io.File(src).mkdirs()
    def addFile(ids: Range): Unit =
      ids.map(i => Ev(i.toLong, ts(i), i.toLong % 3, "click", i.toDouble))
        .toDF().coalesce(1).write.mode("append").parquet(src)
    val sch = Seq.empty[Ev].toDF().schema
    def startQuery() = spark.readStream.schema(sch)
      .option("maxFilesPerTrigger", 1) // the rate-limit contract
      .parquet(src)
      .select(col("event_id"), col("user_id"), col("event_type"),
        (col("value") * 2).as("v2"))
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append).start()
    // run 1: three files land, the query drains them one per trigger,
    // then is KILLED while the stream (unbounded by definition) has
    // more data coming
    addFile(0 until 4); addFile(4 until 8); addFile(8 until 12)
    val q1 = startQuery()
    q1.processAllAvailable(); q1.stop()
    val dataBatches1 = q1.recentProgress.filter(_.numInputRows > 0)
    // rate limiting held: one file (4 rows) per micro-batch, 3 batches
    assert(dataBatches1.length == 3 &&
      dataBatches1.forall(_.numInputRows == 4),
      s"expected 3 batches of 4 rows, got " +
        dataBatches1.map(_.numInputRows).mkString(","))
    val run1 = spark.read.parquet(out).select("event_id")
      .collect().map(_.getLong(0)).sorted
    assert(run1.toSeq == (0L until 12L),
      s"run 1 output: ${run1.mkString(",")}")
    // run 2: more files arrive while the query is down; an IDENTICAL
    // query restarts from the same checkpointLocation
    addFile(12 until 16); addFile(16 until 20)
    val q2 = startQuery()
    q2.processAllAvailable(); q2.stop()
    val dataBatches2 = q2.recentProgress.filter(_.numInputRows > 0)
    // the offset log advanced — batchIds CONTINUE (3, 4), they do not
    // reset, and the already-committed files are not re-read
    assert(dataBatches2.map(_.batchId).toSeq == Seq(3L, 4L),
      s"resume did not continue the offset log: " +
        dataBatches2.map(_.batchId).mkString(","))
    // exactly-once across the kill/restart: every event id exactly once
    val all = spark.read.parquet(out).select("event_id")
      .collect().map(_.getLong(0))
    assert(all.length == 20 && all.sorted.toSeq == (0L until 20L),
      s"output not exactly-once: ${all.sorted.mkString(",")}")
    // and the transform rode along (sink rows are the projected shape)
    val v = spark.read.parquet(out).filter(col("event_id") === 7)
      .select("v2").collect().map(_.getDouble(0)).toSeq
    assert(v == Seq(14.0))
  }

  test("exactly-once streaming sink INTO the committed table: " +
      "batchId-idempotent commits, a replayed batch commits zero new " +
      "files, kill+resume continues the log, final table equals the " +
      "batch run (VERDICT r16 item 2)") {
    // Closes the sink half of the pinned Kafka contract: the source half
    // (durable offsets, restart-from-checkpoint, rate limiting) is the
    // test above; here the sink is writeStream.format("txtable") — each
    // micro-batch lands as ONE atomic, batchId-tagged commit
    // (TxTable.commitEpoch), so the crash window exactly-once exists for
    // (batch committed, checkpoint commit log not yet written → Spark
    // REPLAYS the same batchId on restart) dedupes to a no-op instead of
    // double-writing.
    import spark.implicits._
    val root = graft.Scratch.dir("txtable", "stream_sink")
    val base = graft.Scratch.dir("stream", "tx_sink")
    val src = s"$base/src"; val ckpt = s"$base/ckpt"
    new java.io.File(src).mkdirs()
    def addFile(ids: Range): Unit =
      ids.map(i => Ev(i.toLong, ts(i), i.toLong % 3, "click", i.toDouble))
        .toDF().coalesce(1).write.mode("append").parquet(src)
    val sch = Seq.empty[Ev].toDF().schema
    def transform(df: org.apache.spark.sql.DataFrame) =
      df.select(col("event_id"), col("user_id"),
        (col("value") * 2).as("v2"))
    // the sink target exists before the stream (CREATE-then-write):
    // v1 is the create commit, so batch k lands as version k + 2
    sources.TxTable.createEmpty(root,
      transform(spark.read.schema(sch).parquet(src)).schema): Unit
    def startQuery() = spark.readStream.schema(sch)
      .option("maxFilesPerTrigger", 1).parquet(src)
      .transform(transform)
      .writeStream.format("txtable")
      .option("path", root)
      .option("checkpointLocation", ckpt).start()
    def dataFiles(): Int = new java.io.File(root, "data").list().length
    // run 1: three files, one per rate-limited micro-batch → 3 commits
    addFile(0 until 4); addFile(4 until 8); addFile(8 until 12)
    val q1 = startQuery(); q1.processAllAvailable(); q1.stop()
    assert(sources.TxTable.versions(root) == Seq(1, 2, 3, 4))
    // REPLAY: re-delivering an already-committed batchId (the
    // crash-between-commit-and-checkpoint window) must commit NOTHING —
    // zero new versions, zero new data files (its staged files reclaimed)
    val before = (sources.TxTable.currentVersion(root), dataFiles())
    val replayed = sources.TxTable.writeData(spark, root,
      transform(spark.read.schema(sch).parquet(src)))
    val committed = sources.TxTable.commitEpoch(root, 2L, replayed)
    assert(!committed, "replayed batchId was committed again")
    assert((sources.TxTable.currentVersion(root), dataFiles()) == before,
      "replayed batch changed the table")
    // kill + resume: more data arrives while the query is down; the
    // restarted query continues the offset log (batchIds 3, 4) and each
    // lands exactly one further commit
    addFile(12 until 16); addFile(16 until 20)
    val q2 = startQuery(); q2.processAllAvailable(); q2.stop()
    assert(sources.TxTable.versions(root) == Seq(1, 2, 3, 4, 5, 6))
    assert(sources.TxTable.versions(root).drop(1).map(v =>
      sources.TxTable.readManifest(root, v).props("batch")) ==
      Seq("0", "1", "2", "3", "4"),
      "batchIds did not continue across the restart")
    // exactly-once end-to-end: the committed table equals the BATCH run
    // of the same transform over the full source
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("event_id").collect().map(_.toSeq).toSeq
    assert(rows(sources.TxTable.snapshot(spark, root)) ==
      rows(transform(spark.read.schema(sch).parquet(src))),
      "streamed table diverged from the batch run")
  }

  test("txtable streaming SOURCE: offsets are versions — a restart " +
      "resumes after new appends with no loss and no duplicates, and " +
      "_commit_version tags each row's commit") {
    // the read half of the table's streaming contract (the sink half is
    // the test above): readStream.format("txtable") drains the commit
    // log; the checkpoint's offset log stores the last version, so a
    // stopped consumer picks up EXACTLY the commits that landed while it
    // was down
    import org.apache.spark.sql.types._
    val root = graft.Scratch.dir("txtable", "stream_src")
    sources.TxTable.init(root)
    import org.apache.spark.sql.functions._
    def appendIds(lo: Int, hi: Int): Unit =
      sources.TxTable.append(spark, root,
        spark.range(lo, hi).select(col("id").as("k"),
          (col("id") * 2.0).as("v")).repartition(2)): Unit
    appendIds(0, 10); appendIds(10, 20)
    val sch = StructType(Seq(StructField("k", LongType),
      StructField("v", DoubleType),
      StructField("_commit_version", IntegerType)))
    val base = graft.Scratch.dir("stream", "tx_src")
    val sink = s"$base/sink"; val ckpt = s"$base/ckpt"
    def drain(): Unit = {
      val q = spark.readStream.format("txtable").schema(sch).load(root)
        .writeStream.format("parquet")
        .option("path", sink).option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    drain()
    val r1 = spark.read.schema(sch).parquet(sink)
    assert(r1.count() == 20)
    // version tagging: the commit that added each row
    assert(r1.filter((col("k") < 10 && col("_commit_version") =!= 1) ||
      (col("k") >= 10 && col("_commit_version") =!= 2)).count() == 0,
      "_commit_version does not match the adding commit")
    // consumer down; a new commit lands; restart drains ONLY it
    appendIds(20, 25)
    drain()
    val r2 = spark.read.schema(sch).parquet(sink)
    assert(r2.count() == 25, s"restart lost or duplicated rows: ${r2.count()}")
    assert(r2.select("k").distinct().count() == 25)
    assert(r2.filter(col("k") >= 20 && col("_commit_version") =!= 3)
      .count() == 0)
  }

  test("txtable streaming SOURCE: maxVersionsPerTrigger admits one " +
      "commit per micro-batch and AvailableNow still drains the " +
      "pinned head") {
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.functions._
    val root = graft.Scratch.dir("txtable", "stream_rate")
    sources.TxTable.init(root)
    (0 until 3).foreach { c =>
      sources.TxTable.append(spark, root,
        spark.range(c * 10, c * 10 + 10).select(col("id").as("k"),
          (col("id") * 2.0).as("v")).repartition(1)): Unit
    }
    val sch = StructType(Seq(StructField("k", LongType),
      StructField("v", DoubleType),
      StructField("_commit_version", IntegerType)))
    val batches =
      new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Long)]
    val q = spark.readStream.format("txtable").schema(sch)
      .option("maxVersionsPerTrigger", "1").load(root)
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        val vs = b.select("_commit_version").distinct()
          .collect().map(_.getInt(0)).toSeq
        batches.add((id, b.count(), vs.size.toLong)): Unit
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    import scala.jdk.CollectionConverters._
    val bs = batches.asScala.toSeq.sortBy(_._1)
    // one commit per admitted batch, and the drain reaches the head
    assert(bs.map(_._2).sum == 30, s"rows lost/duplicated: $bs")
    assert(bs.count(_._2 > 0) == 3 && bs.forall(_._3 <= 1),
      s"rate limit admitted more than one commit per batch: $bs")
  }

  test("txtable streaming SOURCE: a fresh stream on a VACUUMED table " +
      "subscribes after the first retained version instead of crashing " +
      "on pruned manifests") {
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.functions._
    val root = graft.Scratch.dir("txtable", "stream_vac")
    sources.TxTable.init(root)
    def appendIds(lo: Int, hi: Int): Unit =
      sources.TxTable.append(spark, root,
        spark.range(lo, hi).select(col("id").as("k"),
          (col("id") * 2.0).as("v")).repartition(1)): Unit
    appendIds(0, 10); appendIds(10, 20); appendIds(20, 30)
    sources.TxTable.vacuum(root, 2): Unit // v1 pruned; base = v2
    val sch = StructType(Seq(StructField("k", LongType),
      StructField("v", DoubleType),
      StructField("_commit_version", IntegerType)))
    val qn = "txsrc_vac"
    val q = spark.readStream.format("txtable").schema(sch).load(root)
      .writeStream.format("memory").queryName(qn)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // only commits AFTER the retained base stream (v3's appends); the
    // bootstrap is the batch snapshot read at the base
    val got = spark.table(qn).collect()
    assert(got.length == 10 && got.forall(r =>
      r.getLong(0) >= 20 && r.getInt(2) == 3),
      s"vacuumed-base stream emitted the wrong slice: ${got.length} rows")
    assert(sources.TxTable.snapshot(spark, root, 2).count() == 20,
      "the batch bootstrap read at the base must still work")
    spark.catalog.dropTempView(qn): Unit
  }

  test("txtable streaming SOURCE: startingTimestamp mirrors TIMESTAMP " +
      "AS OF — an instant between v2 and v3 streams exactly v3+, one " +
      "after the head subscribes to future commits only (round 19)") {
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.functions._
    val root = graft.Scratch.dir("txtable", "stream_sts")
    graft.Scratch.deleteRec(new java.io.File(root))
    sources.TxTable.init(root)
    def appendIds(lo: Int, hi: Int): Unit =
      sources.TxTable.append(spark, root,
        spark.range(lo, hi).select(col("id").as("k"),
          (col("id") * 2.0).as("v")).repartition(1)): Unit
    appendIds(0, 10); appendIds(10, 20)
    // a commit-time gap so "between v2 and v3" is a real instant
    Thread.sleep(1100)
    val between = System.currentTimeMillis()
    Thread.sleep(1100)
    appendIds(20, 30) // v3
    val sch = StructType(Seq(StructField("k", LongType),
      StructField("v", DoubleType),
      StructField("_commit_version", IntegerType)))
    val iso = java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd HH:mm:ss.SSS")
      .withZone(java.time.ZoneId.systemDefault())
      .format(java.time.Instant.ofEpochMilli(between))
    val q = spark.readStream.format("txtable").schema(sch)
      .option("startingTimestamp", iso).load(root)
      .writeStream.format("memory").queryName("txsrc_sts")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val got = spark.table("txsrc_sts").collect()
      .map(r => (r.getLong(0), r.getInt(2))).toSeq
    spark.catalog.dropTempView("txsrc_sts")
    assert(got.size == 10 && got.forall { case (k, v) =>
      k >= 20 && v == 3 },
      s"timestamp between v2 and v3 must stream exactly v3+: $got")
    // an instant after the head = subscribe to future commits only
    val after = java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd HH:mm:ss.SSS")
      .withZone(java.time.ZoneId.systemDefault())
      .format(java.time.Instant.ofEpochMilli(
        System.currentTimeMillis() + 3600 * 1000))
    val q2 = spark.readStream.format("txtable").schema(sch)
      .option("startingTimestamp", after).load(root)
      .writeStream.format("memory").queryName("txsrc_sts2")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q2.awaitTermination()
    assert(spark.table("txsrc_sts2").count() == 0,
      "a post-head timestamp must emit nothing at subscribe time")
    spark.catalog.dropTempView("txsrc_sts2")
    // both options together refuse loudly
    assert(intercept[Exception] {
      spark.readStream.format("txtable").schema(sch)
        .option("startingTimestamp", iso)
        .option("startingVersion", "2").load(root)
        .writeStream.format("memory").queryName("txsrc_sts3")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start().awaitTermination()
    }.getMessage != null)
  }

  test("txtable streaming SOURCE: startingVersion picks where a fresh " +
      "stream subscribes — an integer streams commits >= N, 'latest' " +
      "subscribes after the head, and a start past the retention " +
      "window fails LOUDLY at stream start") {
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.functions._
    val root = graft.Scratch.dir("txtable", "stream_sv")
    sources.TxTable.init(root)
    def appendIds(lo: Int, hi: Int): Unit =
      sources.TxTable.append(spark, root,
        spark.range(lo, hi).select(col("id").as("k"),
          (col("id") * 2.0).as("v")).repartition(1)): Unit
    appendIds(0, 10); appendIds(10, 20); appendIds(20, 30) // v1..v3
    val sch = StructType(Seq(StructField("k", LongType),
      StructField("v", DoubleType),
      StructField("_commit_version", IntegerType)))
    def drainFresh(opts: Map[String, String], qn: String): Seq[(Long, Int)] = {
      val rd = opts.foldLeft(spark.readStream.format("txtable").schema(sch)) {
        case (r, (k, v)) => r.option(k, v)
      }
      val q = rd.load(root)
        .writeStream.format("memory").queryName(qn)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val got = spark.table(qn).collect()
        .map(r => (r.getLong(0), r.getInt(2))).toSeq
      spark.catalog.dropTempView(qn)
      got
    }
    // startingVersion=2: commits 2 and 3 stream, commit 1 does not
    val from2 = drainFresh(Map("startingVersion" -> "2"), "txsrc_sv2")
    assert(from2.size == 20 && from2.forall { case (k, v) =>
      k >= 10 && v >= 2 }, s"startingVersion=2 emitted the wrong slice")
    // 'latest': nothing at subscribe time; only the NEXT commit streams
    val base = graft.Scratch.dir("stream", "tx_sv_latest")
    val q = spark.readStream.format("txtable").schema(sch)
      .option("startingVersion", "latest").load(root)
      .writeStream.format("parquet")
      .option("path", s"$base/sink")
      .option("checkpointLocation", s"$base/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assert(!new java.io.File(s"$base/sink").exists() ||
      spark.read.schema(sch).parquet(s"$base/sink").count() == 0,
      "'latest' must emit nothing at subscribe time")
    appendIds(30, 35) // v4, after the subscription point
    val q2 = spark.readStream.format("txtable").schema(sch)
      .option("startingVersion", "latest").load(root)
      .writeStream.format("parquet")
      .option("path", s"$base/sink")
      .option("checkpointLocation", s"$base/ckpt") // resume: offset = v3
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q2.awaitTermination()
    val latest = spark.read.schema(sch).parquet(s"$base/sink").collect()
    assert(latest.length == 5 && latest.forall(r =>
      r.getLong(0) >= 30 && r.getInt(2) == 4),
      s"'latest' resume drained the wrong slice: ${latest.length} rows")
    // past-retention start fails loudly AT START, not from a wrong base
    sources.TxTable.vacuum(root, 3): Unit // v1, v2 pruned; retained: v3+
    val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      val qf = spark.readStream.format("txtable").schema(sch)
        .option("startingVersion", "2").load(root)
        .writeStream.format("memory").queryName("txsrc_sv_fail")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      qf.awaitTermination()
    }
    def chain(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: chain(t.getCause)
    assert(chain(err).exists(
      _.getMessage.contains("past the retention window")),
      s"expected a loud past-retention failure, got: ${err.getMessage}")
    // a retained start still works after the vacuum
    val from4 = drainFresh(Map("startingVersion" -> "4"), "txsrc_sv4")
    assert(from4.size == 5 && from4.forall { case (k, v) =>
      k >= 30 && v == 4 }, "retained startingVersion must still stream")
  }

  test("txtable streaming SOURCE: a PARTITIONED table streams with the " +
      "partition column re-derived from the path, typed per the " +
      "declared schema") {
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.functions._
    val root = graft.Scratch.dir("txtable", "stream_part")
    sources.TxTable.init(root)
    def load(lo: Int, hi: Int): Unit =
      sources.TxTable.appendPartitioned(spark, root,
        spark.range(lo, hi).select(col("id").as("k"),
          (col("id") * 2.0).as("v"),
          concat(lit("g"), col("id") % 3).as("g")), "g"): Unit
    load(0, 10); load(10, 20)
    val sch = StructType(Seq(StructField("k", LongType),
      StructField("v", DoubleType), StructField("g", StringType),
      StructField("_commit_version", IntegerType)))
    val qn = "txsrc_part"
    val q = spark.readStream.format("txtable").schema(sch).load(root)
      .writeStream.format("memory").queryName(qn)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val got = spark.table(qn).collect()
    assert(got.length == 20)
    // the partition value is a per-file constant from the directory,
    // never a NULL backfill — and it matches the row's own key
    assert(got.forall(r => r.getString(2) == s"g${r.getLong(0) % 3}"),
      "partition column not re-derived from the path")
    assert(got.forall(r =>
      r.getInt(3) == (if (r.getLong(0) < 10) 1 else 2)))
    spark.catalog.dropTempView(qn): Unit
  }

  test("txtable streaming SOURCE: a RENAMED table streams under its " +
      "logical schema — declared names resolve to the files' physical " +
      "columns through the commit's column mapping") {
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.functions._
    val root = graft.Scratch.dir("txtable", "stream_cm")
    sources.TxTable.init(root)
    sources.TxTable.append(spark, root,
      spark.range(0, 10).select(col("id").as("k"),
        (col("id") * 2.0).as("v")).repartition(1)): Unit // v1: physical (k, v)
    sources.TxTable.renameColumn(spark, root, "v", "val"): Unit // v2
    // v3: an append SPEAKING the new schema (stages physical `v`)
    sources.TxTable.append(spark, root,
      spark.range(10, 20).select(col("id").as("k"),
        (col("id") * 2.0).as("val")).repartition(1)): Unit
    val sch = StructType(Seq(StructField("k", LongType),
      StructField("val", DoubleType),
      StructField("_commit_version", IntegerType)))
    val qn = "txsrc_cm"
    val q = spark.readStream.format("txtable").schema(sch).load(root)
      .writeStream.format("memory").queryName(qn)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val got = spark.table(qn).collect()
    assert(got.length == 20)
    // the logical `val` column must be populated for BOTH the
    // pre-rename commit's file and the post-rename one — a reader
    // ignorant of the mapping would NULL-backfill all of them
    assert(got.forall(r => !r.isNullAt(1) &&
      r.getDouble(1) == r.getLong(0) * 2.0),
      "the renamed column did not resolve through the mapping")
    spark.catalog.dropTempView(qn): Unit
  }

  test("txtable streaming SOURCE: a TYPE-PROMOTED table streams " +
      "widened — a pre-promotion file's narrow int32/float pages " +
      "extract through the narrow getter into the declared " +
      "bigint/double") {
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.functions._
    val root = graft.Scratch.dir("txtable", "stream_promo")
    sources.TxTable.init(root)
    sources.TxTable.append(spark, root,
      spark.range(0, 10).select(col("id").as("k"),
        col("id").cast("int").as("n"),
        (col("id") % 3).cast("float").as("x")).repartition(1)): Unit
    sources.TxTable.promoteColumnType(spark, root, "n", "bigint"): Unit
    sources.TxTable.promoteColumnType(spark, root, "x", "double"): Unit
    sources.TxTable.append(spark, root,
      spark.range(10, 20).select(col("id").as("k"),
        (col("id") + lit(10000000000L)).as("n"),
        ((col("id") % 3).cast("double") + 0.25).as("x"))
        .repartition(1)): Unit
    val sch = StructType(Seq(StructField("k", LongType),
      StructField("n", LongType), StructField("x", DoubleType)))
    val qn = "txsrc_promo"
    val q = spark.readStream.format("txtable").schema(sch).load(root)
      .writeStream.format("memory").queryName(qn)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val got = spark.table(qn)
    assert(got.count() == 20)
    // era-1 (k < 10): physically int32/float, must stream EXACT widened
    assert(got.filter(col("k") < 10 && (col("n") =!= col("k") ||
      col("x") =!= (col("k") % 3).cast("double"))).count() == 0,
      "a pre-promotion file streamed wrong widened values")
    // era-2 (k >= 10): natively wide, beyond 32-bit range
    assert(got.filter(col("k") >= 10 &&
      col("n") =!= col("k") + 10000000000L).count() == 0)
    spark.catalog.dropTempView(qn): Unit
  }

  test("txtable streaming SOURCE: a rollback commit re-adding " +
      "already-streamed files is a CHANGE commit (op-classified), " +
      "never a silent replay") {
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.functions._
    val root = graft.Scratch.dir("txtable", "stream_rb")
    sources.TxTable.init(root)
    def appendIds(lo: Int, hi: Int): Unit =
      sources.TxTable.append(spark, root,
        spark.range(lo, hi).select(col("id").as("k"),
          (col("id") * 2.0).as("v")).repartition(1)): Unit
    appendIds(0, 10) // v1: file A
    appendIds(10, 20) // v2: file B
    // v3: whole-file delete of A — drop it from the list, rewrite nothing
    val fA = sources.TxTable.readManifest(root, 1).files.head
    sources.TxTable.commit(root, "delete", _.filterNot(_ == fA)): Unit
    // v4: rollback to v2 — RE-ADDS file A, removes nothing: by file diff
    // alone this is indistinguishable from a fresh append
    sources.TxTable.rollbackTo(root, 2): Unit
    val sch = StructType(Seq(StructField("k", LongType),
      StructField("v", DoubleType),
      StructField("_commit_version", IntegerType)))
    val qn = "txsrc_rb"
    val q = spark.readStream.format("txtable").schema(sch)
      .option("skipChangeCommits", "true").load(root)
      .writeStream.format("memory").queryName(qn)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // v1+v2 stream; v3 (removal) and v4 (rollback re-add) are both
    // skipped — every key exactly once, no row replayed under v4
    val got = spark.table(qn).collect()
    assert(got.length == 20, s"rollback replayed rows: ${got.length}")
    assert(got.map(_.getLong(0)).distinct.length == 20)
    assert(got.forall(_.getInt(2) <= 2),
      "a row was emitted from the rollback commit")
    spark.catalog.dropTempView(qn): Unit
  }

  test("txtable streaming SOURCE: a position-delete commit is a " +
      "CHANGE commit even though it removes no files") {
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.functions._
    val root = graft.Scratch.dir("txtable", "stream_dv")
    sources.TxTable.init(root)
    sources.TxTable.append(spark, root,
      spark.range(0, 10).select(col("id").as("k"),
        (col("id") * 2.0).as("v")).repartition(1)): Unit
    sources.TxTable.deleteVector(spark, root, col("k") < 5): Unit
    val sch = StructType(Seq(StructField("k", LongType),
      StructField("v", DoubleType)))
    def run(skip: Boolean): Long = {
      val qn = s"txsrc_dv_$skip"
      val q = spark.readStream.format("txtable").schema(sch)
        .option("skipChangeCommits", skip.toString).load(root)
        .writeStream.format("memory").queryName(qn)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val n = spark.table(qn).count()
      spark.catalog.dropTempView(qn): Unit
      n
    }
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      run(skip = false)
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(e).exists(c =>
      Option(c.getMessage).exists(_.contains("append-only"))),
      s"DV commit did not fail the append-only stream: $e")
    // skipped: v1's 10 appended rows streamed, the DV commit emits
    // nothing — and crucially no deletes/ file is ever streamed as data
    assert(run(skip = true) == 10)
  }

  test("txtable streaming SOURCE: a SQL UPDATE is a CHANGE commit even " +
      "though it removes no files") {
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.functions._
    val root = graft.Scratch.dir("txtable", "stream_upd")
    graft.Scratch.deleteRec(new java.io.File(root))
    sources.TxTable.init(root)
    sources.TxTable.append(spark, root,
      spark.range(0, 10).select(col("id").as("k"),
        (col("id") * 2.0).as("v")).repartition(1)): Unit
    val before = sources.TxTable.readManifest(root, 1).files.toSet
    val (v, removed) = txDml(root)(t => s"UPDATE $t SET v = -1.0 WHERE k < 3")
    // merge-on-read: the commit removes nothing and adds a delete file
    // next to the updated rows' new data file — an append by file names
    val after = sources.TxTable.readManifest(root, v).files.toSet
    assert(removed.isEmpty && before.subsetOf(after) &&
      sources.TxTable.deleteEntries((after -- before).toSeq).nonEmpty)
    val sch = StructType(Seq(StructField("k", LongType),
      StructField("v", DoubleType)))
    def run(skip: Boolean): Seq[(Long, Double)] = {
      val qn = s"txsrc_upd_$skip"
      val q = spark.readStream.format("txtable").schema(sch)
        .option("skipChangeCommits", skip.toString).load(root)
        .writeStream.format("memory").queryName(qn)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val got = spark.table(qn).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      spark.catalog.dropTempView(qn): Unit
      got
    }
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      run(skip = false)
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(e).exists(c =>
      Option(c.getMessage).exists(_.contains("append-only"))),
      s"the UPDATE commit did not fail the append-only stream: $e")
    // skipped: v1's 10 rows stream once, the UPDATE's new rows never
    assert(run(skip = true).sorted == (0L until 10L).map(k => (k, k * 2.0)))
  }

  test("txtable streaming SOURCE: a change commit fails the stream " +
      "loudly unless skipChangeCommits, which skips it entirely") {
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.functions._
    // the demo table's v3 is the GDPR delete — a commit that REMOVES
    // files (rows already streamed changed): append-only reads must fail
    val root = sources.TxTable.ensureDemoTable(spark, sf0001)
    val sch = StructType(Seq(StructField("o_orderkey", LongType),
      StructField("o_custkey", LongType),
      StructField("o_totalprice", DoubleType)))
    def run(skip: Boolean): Long = {
      val qn = s"txsrc_chg_$skip"
      val q = spark.readStream.format("txtable").schema(sch)
        .option("skipChangeCommits", skip.toString).load(root)
        .writeStream.format("memory").queryName(qn)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val n = spark.table(qn).count()
      spark.catalog.dropTempView(qn): Unit
      n
    }
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      run(skip = false)
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(e).exists(c =>
      Option(c.getMessage).exists(_.contains("append-only"))),
      s"wrong failure: $e")
    // skipChangeCommits: v1+v2 appends stream, the v3 delete is skipped —
    // deleted rows were already emitted, so the count is the PRE-delete one
    val n = run(skip = true)
    val expect = sources.TxTable.snapshot(spark, root, 2).count()
    assert(n == expect, s"skip-mode streamed $n rows, expected $expect")
  }

  test("streaming dedup drops duplicate event ids") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    mem.addData(
      Ev(1, ts(1), 1, "click", 1.0), Ev(1, ts(1), 1, "click", 1.0),
      Ev(2, ts(2), 1, "view", 2.0))
    val q = stream.EventOps.dedupTransform(
      mem.toDF().withWatermark("ts", "10 minutes"))
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode(OutputMode.Append).start()
    q.processAllAvailable()
    // a later batch re-sending event 2 must also be dropped (cross-batch
    // dedup state), and event 3 passes through
    mem.addData(Ev(2, ts(3), 1, "view", 2.5), Ev(3, ts(4), 2, "click", 3.0))
    q.processAllAvailable(); q.stop()
    val got = spark.table("dedup_out").select("event_id").collect()
      .map(_.getLong(0)).sorted
    assert(got.sameElements(Array(1L, 2L, 3L)))
  }

  test("stream-static anti-join: streaming incremental dedup == batch " +
      "q_dedup_incremental") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // the streaming twin of q_dedup_incremental: today's crawl arrives
    // as a stream, the prior-corpus manifest is a static table, and the
    // stream-static LEFT ANTI join emits only never-seen fingerprints —
    // micro-batch by micro-batch, no state beyond the static side
    val pref = md5(concat_ws(" ", slice(split(col("text"), " "), 1, 16)))
    val docs = Tables.documents(spark, sf0001)
      .select(col("doc_id"), col("text"))
    val manifest = docs.filter(col("doc_id") % 4 =!= 3)
      .select(pref.as("prefix_md5")).distinct()
    val today = docs.filter(col("doc_id") % 4 === 3)
      .select(col("doc_id"), pref.as("prefix_md5"))
      .as[(Long, String)].collect()
    val (b1, b2) = today.splitAt(today.length / 2)
    val mem = MemoryStream[(Long, String)]
    mem.addData(b1.toSeq)
    val q = mem.toDF().toDF("doc_id", "prefix_md5")
      .join(manifest, Seq("prefix_md5"), "left_anti")
      .writeStream.format("memory").queryName("incr_dedup_out")
      .outputMode(OutputMode.Append).start()
    q.processAllAvailable()
    mem.addData(b2.toSeq) // second day-slice micro-batch
    q.processAllAvailable(); q.stop()
    val got = spark.table("incr_dedup_out").select("doc_id").collect()
      .map(_.getLong(0)).sorted
    val expected = llm.DedupVariants.qDedupIncremental(spark, sf0001)
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(got.sameElements(expected),
      s"stream got ${got.length} docs, batch ${expected.length}")
  }

  test("foreachBatch manifest write-back: a replayed crawl batch admits " +
      "nothing (streaming half of q_dedup_manifest_update)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // each micro-batch is deduped against the manifest-so-far and its
    // admitted fingerprints are appended BACK — the loop a production
    // streaming ingest runs. The property under test is the one that
    // makes it safe under at-least-once delivery: replaying the same
    // batch admits zero docs the second time, because the first pass
    // manifested them.
    val dir = java.nio.file.Files
      .createTempDirectory("graft_mwb").toString
    val manifestPath = s"$dir/manifest"
    val admittedPath = s"$dir/admitted"
    val pref = md5(concat_ws(" ", slice(split(col("text"), " "), 1, 16)))
    val docs = Tables.documents(spark, sf0001)
      .select(col("doc_id"), col("text"))
    docs.filter(col("doc_id") % 4 =!= 3)
      .select(pref.as("prefix_md5")).distinct()
      .write.parquet(manifestPath)
    val today = docs.filter(col("doc_id") % 4 === 3)
      .select(col("doc_id"), pref.as("prefix_md5"))
      .as[(Long, String)].collect()
    val mem = MemoryStream[(Long, String)]
    val q = mem.toDF().toDF("doc_id", "prefix_md5")
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val m = batch.sparkSession.read.parquet(manifestPath)
        // materialize the anti-join BEFORE appending to the manifest it
        // reads — appending first would have the lazy plan read its own
        // output
        val admitted = batch.join(m, Seq("prefix_md5"), "left_anti")
          .localCheckpoint(true)
        admitted.select("doc_id").write.mode("append").parquet(admittedPath)
        admitted.select("prefix_md5").distinct()
          .write.mode("append").parquet(manifestPath)
      }
      .start()
    mem.addData(today.toSeq) // day-1 crawl
    q.processAllAvailable()
    mem.addData(today.toSeq) // the SAME crawl replayed (redelivery)
    q.processAllAvailable(); q.stop()
    val admitted = spark.read.parquet(admittedPath)
      .select("doc_id").collect().map(_.getLong(0)).sorted
    val batchExpected = llm.DedupVariants.qDedupIncremental(spark, sf0001)
      .select("doc_id").collect().map(_.getLong(0)).sorted
    // batch 1 admits exactly the batch key's result; batch 2 admits
    // nothing — so the TOTAL admitted set equals one day's worth
    assert(admitted.sameElements(batchExpected),
      s"expected ${batchExpected.length} admitted docs once each, " +
        s"got ${admitted.length}")
  }

  test("streaming delete queue: foreachBatch applies micro-batched " +
      "deletion manifests through rewrite COMMITS; a replayed batch " +
      "rewrites zero files and survivors equal the one-shot batch delete " +
      "(streaming half of q_delete_execute)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // a production privacy queue arrives as a STREAM of deletion
    // requests; each micro-batch manifest is applied through the same
    // affected-files-only rewrite commit the batch key runs (a SQL
    // `DELETE … WHERE owner IN (SELECT owner FROM <manifest>)` — each
    // micro-batch lands one atomic version). The properties under test:
    // at-least-once safety (re-delivering an already-applied manifest rewrites ZERO files and
    // commits NOTHING — the discovery over the new snapshot finds
    // nothing, the q_dedup_manifest_update replay discipline) and
    // batch-boundary irrelevance (survivors after N micro-batches ==
    // one-shot delete of the union manifest).
    val (ordP, liP) =
      llm.Governance.ensureDeletableLayouts(spark, sf0001, "specstream_")
    val ordS = llm.Governance.layoutAsTable(spark, ordP,
      graft.Scratch.dir("txtable", "specstream_orders"))
    val liS = llm.Governance.layoutAsTable(spark, liP,
      graft.Scratch.dir("txtable", "specstream_lineitem"))
    val ordB = llm.Governance.layoutAsTable(spark, ordP,
      graft.Scratch.dir("txtable", "specbatch_orders"))
    val liB = llm.Governance.layoutAsTable(spark, liP,
      graft.Scratch.dir("txtable", "specbatch_lineitem"))
    // affected files of one key-manifest delete through SQL DML
    def deleteOwners(s: org.apache.spark.sql.SparkSession, root: String,
        view: String): Int =
      txDml(root, s)(tbl =>
        s"DELETE FROM $tbl WHERE owner IN (SELECT owner FROM $view)")
        ._2.length
    // %29 keeps ~5 requests at sf0.001 (the %97 batch-key manifest has
    // only one owner here — not enough to micro-batch)
    val owners = Tables.customer(spark, sf0001)
      .filter(col("c_custkey") % 29 === 0)
      .select(col("c_custkey")).as[Long].collect().sorted.toSeq
    assert(owners.length >= 2,
      s"need >= 2 deletion requests to micro-batch, got ${owners.length}")
    val rewrites = scala.collection.mutable.ArrayBuffer.empty[Int]
    val mem = MemoryStream[Long]
    val q = mem.toDF().toDF("owner")
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        batch.select("owner").localCheckpoint(true)
          .createOrReplaceTempView("spec_stream_del")
        val bs = batch.sparkSession
        rewrites += (deleteOwners(bs, ordS, "spec_stream_del") +
          deleteOwners(bs, liS, "spec_stream_del"))
        ()
      }
      .start()
    val (h, t) = owners.splitAt(owners.length / 2)
    mem.addData(h); q.processAllAvailable()
    mem.addData(t); q.processAllAvailable()
    mem.addData(h) // the first manifest batch re-delivered
    q.processAllAvailable(); q.stop()
    assert(rewrites.length == 3, s"expected 3 micro-batches, got $rewrites")
    assert(rewrites(0) + rewrites(1) > 0,
      "the live manifests never rewrote a file — nothing was deleted")
    assert(rewrites(2) == 0,
      s"replayed manifest rewrote ${rewrites(2)} files (not replay-safe)")
    // batch-boundary irrelevance: one-shot delete of the union manifest
    // on the reference layout pair must leave the same survivors
    Tables.customer(spark, sf0001)
      .filter(col("c_custkey") % 29 === 0)
      .select(col("c_custkey").as("owner")).localCheckpoint(true)
      .createOrReplaceTempView("spec_batch_del")
    deleteOwners(spark, ordB, "spec_batch_del"): Unit
    deleteOwners(spark, liB, "spec_batch_del"): Unit
    def keysOf(ordRoot: String, liRoot: String): Set[(String, Long, Long)] =
      sources.TxTable.snapshot(spark, ordRoot)
        .select(lit("o"), col("o_orderkey"), lit(0L)).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet ++
      sources.TxTable.snapshot(spark, liRoot)
        .select(lit("l"), col("l_orderkey"),
          col("l_linenumber").cast("long")).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val streamed = keysOf(ordS, liS)
    val oneShot = keysOf(ordB, liB)
    assert(streamed == oneShot,
      s"streamed survivors diverge from one-shot delete: " +
        s"only-stream=${(streamed -- oneShot).take(3)} " +
        s"only-batch=${(oneShot -- streamed).take(3)}")
  }

  test("streaming index ingest: foreachBatch encodes micro-batches under " +
      "frozen quantizers; final postings == one batch encode of all " +
      "arrivals (streaming half of q_sim_index_update)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // index state trained on the prior corpus only, then FROZEN — each
    // micro-batch of arriving vectors is assigned + PQ-coded under that
    // state and appended to the postings, the continuous-ingest loop a
    // production vector store runs between scheduled rebuilds. Encode is
    // per-row and stateless given the frozen quantizers, so arrival
    // order and batch boundaries must not matter: the property under
    // test is streamed-postings == one-shot batch encode, row for row.
    val e = llm.Similarity.unitVectors(spark, sf0001)
    val day1 = e.filter(col("vec_id") % 4 =!= 3)
    val (coarse, cb) = llm.Similarity.ivfPqTrain(day1)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_sidx").toString
    val postings = s"$dir/coded"
    llm.Similarity.ivfPqEncode(spark, day1, coarse, cb)
      .write.parquet(postings)
    val day2 = e.filter(col("vec_id") % 4 === 3)
      .select("vec_id", "unit").as[(Long, Seq[Double])].collect()
    val mem = MemoryStream[(Long, Seq[Double])]
    val q = mem.toDF().toDF("vec_id", "unit")
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        llm.Similarity.ivfPqEncode(batch.sparkSession, batch, coarse, cb)
          .write.mode("append").parquet(postings)
      }
      .start()
    // two out-of-order micro-batches (odd ids first)
    val (evens, odds) = day2.partition(_._1 % 2 == 0)
    mem.addData(odds.toSeq); q.processAllAvailable()
    mem.addData(evens.toSeq); q.processAllAvailable(); q.stop()
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Int](2).toList))
        .toSet
    val streamed = rows(spark.read.parquet(postings))
    val batchRef = rows(llm.Similarity.ivfPqEncode(spark, e, coarse, cb))
    assert(streamed == batchRef,
      s"streamed postings diverge from batch encode: " +
        s"only-stream=${(streamed -- batchRef).take(2)} " +
        s"only-batch=${(batchRef -- streamed).take(2)}")
  }

  test("stream-stream interval join == batch join, out-of-order input") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val events = Seq(
      Ev(1, ts(1), 1, "click", 1.0), Ev(2, ts(5), 1, "click", 2.0),
      Ev(3, ts(8), 1, "purchase", 10.0), // joins clicks 1 & 2
      Ev(4, ts(3), 2, "purchase", 20.0), // no clicks → absent (inner)
      Ev(5, ts(30), 1, "click", 3.0),    // after purchase 3 → no match
      Ev(6, ts(35), 1, "purchase", 30.0)) // joins click 5 only (10m window)
    val mem = MemoryStream[Ev]
    val df = mem.toDF()
    val joined = stream.EventOps.joinTransform(
      df.filter(col("event_type") === "click")
        .withWatermark("ts", "10 minutes"),
      df.filter(col("event_type") === "purchase")
        .withWatermark("ts", "10 minutes"))
      .select("purchase_id", "c_value")
    val q = joined.writeStream.format("memory").queryName("ssjoin_out")
      .outputMode(OutputMode.Append).start()
    // deliver out of order across batches; then advance the watermark
    mem.addData(events(2), events(0))
    q.processAllAvailable()
    mem.addData(events(1), events(3), events(4), events(5))
    q.processAllAvailable()
    mem.addData(Ev(7, ts(500), 2, "click", 0.5)) // close everything
    q.processAllAvailable(); q.stop()
    val got = spark.table("ssjoin_out").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet
    val batch = stream.EventOps.joinTransform(
      events.toDF().filter(col("event_type") === "click"),
      events.toDF().filter(col("event_type") === "purchase"))
      .select("purchase_id", "c_value").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(got == batch)
    assert(batch == Set((3L, 1.0), (3L, 2.0), (6L, 3.0)))
  }

  test("late rows beyond the watermark are dropped in append mode") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val agg = stream.EventOps.tumblingTransform(
      mem.toDF().withWatermark("ts", "10 minutes"))
    val q = agg.writeStream.format("memory").queryName("late_out")
      .outputMode(OutputMode.Append).start()
    mem.addData(Ev(1, ts(5), 1, "click", 1.0))
    q.processAllAvailable()
    // advance watermark far past the first hour...
    mem.addData(Ev(2, ts(200), 1, "click", 2.0))
    q.processAllAvailable()
    // ...then send a very late row into the long-closed first window.
    mem.addData(Ev(3, ts(6), 1, "click", 100.0))
    q.processAllAvailable()
    mem.addData(Ev(4, ts(400), 1, "click", 3.0))
    q.processAllAvailable(); q.stop()
    val firstWindow = spark.table("late_out")
      .filter(col("window_start") === Timestamp.valueOf("2024-01-01 00:00:00"))
      .collect()
    assert(firstWindow.length == 1)
    // the late row (value=100) must NOT be in the emitted first window
    assert(firstWindow.head.getAs[Long]("cnt") == 1)
  }

  test("session windows: batch sessionization splits on >30min gaps") {
    import spark.implicits._
    val events = Seq(
      Ev(1, ts(0), 1, "click", 1.0), Ev(2, ts(10), 1, "view", 2.0),
      Ev(3, ts(55), 1, "click", 3.0), // 45min gap → new session
      Ev(4, ts(60), 1, "view", 4.0),
      Ev(5, ts(0), 2, "click", 5.0))
    val got = stream.EventOps.sessionTransform(events.toDF())
      .select("user_id", "session_id", "n_events")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set((1L, 1L, 2L), (1L, 2L, 2L), (2L, 1L, 1L)))
  }

  test("session_window operator: stream (watermark, out-of-order) == " +
      "batch lag+cumsum sessionization on closed sessions") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val events = Seq(
      Ev(1, ts(0), 1, "click", 1.0), Ev(2, ts(10), 1, "view", 2.0),
      Ev(3, ts(55), 1, "click", 3.0), // 45min gap → new session
      Ev(4, ts(60), 1, "view", 4.0),
      Ev(5, ts(2), 2, "click", 5.0))
    val mem = MemoryStream[Ev]
    val q = stream.EventOps.sessionWindowTransform(
      mem.toDF().withWatermark("ts", "10 minutes"))
      .writeStream.format("memory").queryName("sw_out")
      .outputMode(OutputMode.Append).start()
    // out-of-order delivery across micro-batches
    mem.addData(events(1), events(0), events(4))
    q.processAllAvailable()
    mem.addData(events(2), events(3))
    q.processAllAvailable()
    // advance the watermark far past every session end → all close
    mem.addData(Ev(6, ts(1000), 3, "click", 0.0))
    q.processAllAvailable(); q.stop()
    val got = spark.table("sw_out")
      .select("user_id", "session_start", "n_events", "sum_value")
      .collect().map(_.toSeq).toSet
    // the closing event's own session (user 3) is still open — the
    // batch side is computed over the original 5 events only
    val batch = stream.EventOps.sessionTransform(events.toDF())
      .select("user_id", "session_start", "n_events", "sum_value")
      .collect().map(_.toSeq).toSet
    assert(got == batch)
    assert(got.size == 3) // user 1 × 2 sessions, user 2 × 1
  }

  test("transformWithState (Spark 4): running per-user counter with " +
      "ValueState on the RocksDB store") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{TimeMode, OutputMode => OM}
    implicit val sqlCtx = spark.sqlContext
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state." +
        "RocksDBStateStoreProvider")
    try {
      val mem = MemoryStream[Ev]
      val counted = mem.toDS()
        .groupByKey(_.user_id)
        .transformWithState(new RunningCountProcessor,
          TimeMode.None(), OM.Update())
        .toDF("user_id", "n_events")
      val q = counted.writeStream.format("memory").queryName("tws_out")
        .outputMode(OM.Update).start()
      mem.addData(Ev(1, ts(1), 1, "click", 1.0), Ev(2, ts(2), 1, "view", 2.0))
      q.processAllAvailable()
      mem.addData(Ev(3, ts(3), 1, "click", 3.0), Ev(4, ts(4), 2, "view", 4.0))
      q.processAllAvailable(); q.stop()
      val rows = spark.table("tws_out").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      assert(rows.toSet == Set((1L, 2L), (1L, 3L), (2L, 1L)))
    } finally {
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("arbitrary stateful op: running per-user counter via " +
      "flatMapGroupsWithState") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val counted = mem.toDS()
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout) {
        (user: Long, evs: Iterator[Ev], state: GroupState[Long]) =>
          val prev = state.getOption.getOrElse(0L)
          val n = prev + evs.size
          state.update(n)
          Iterator((user, n))
      }.toDF("user_id", "n_events")
    val q = counted.writeStream.format("memory").queryName("counter_out")
      .outputMode(OutputMode.Append).start()
    mem.addData(Ev(1, ts(1), 1, "click", 1.0), Ev(2, ts(2), 1, "view", 2.0))
    q.processAllAvailable()
    mem.addData(Ev(3, ts(3), 1, "click", 3.0), Ev(4, ts(4), 2, "view", 4.0))
    q.processAllAvailable(); q.stop()
    val byBatch = spark.table("counter_out").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    // user 1 counted 2 then 3 cumulative; user 2 counted 1
    assert(byBatch.toSet == Set((1L, 2L), (1L, 3L), (2L, 1L)))
  }

  test("DSv2 streaming SINK: writeStream.format(txtable) drains a " +
      "source table exactly-once, checkpoint resume streams only NEW " +
      "commits, and a replayed epoch DISCARDS its staged files") {
    import org.apache.spark.sql.functions._
    val src = graft.Scratch.dir("txtable", "dsv2sink_src")
    val dst = graft.Scratch.dir("txtable", "dsv2sink_dst")
    sources.TxTable.init(src); sources.TxTable.init(dst)
    val orders = Tables.orders(spark, sf0001)
      .select("o_orderkey", "o_custkey", "o_totalprice")
    sources.TxTable.append(spark, src,
      orders.filter(col("o_orderkey") % 3 === 0)): Unit
    sources.TxTable.append(spark, src,
      orders.filter(col("o_orderkey") % 3 === 1)): Unit
    // CREATE-then-write: empty bootstrap records the sink's schema
    sources.TxTable.append(spark, dst, orders.limit(0)): Unit
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("o_orderkey").collect().map(_.toSeq).toSeq
    def drain(): Unit = {
      val q = spark.readStream.format("txtable").load(src)
        .writeStream.format("txtable")
        .option("path", dst)
        .option("checkpointLocation", s"$dst/_checkpoint")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    drain()
    assert(rows(sources.TxTable.snapshot(spark, dst)) ==
      rows(orders.filter(col("o_orderkey") % 3 <= 1)),
      "drained sink diverged from the source content")
    // resume: a third source commit arrives; the SAME checkpoint streams
    // only it — no re-emission of already-sunk commits
    val vMid = sources.TxTable.currentVersion(dst)
    sources.TxTable.append(spark, src,
      orders.filter(col("o_orderkey") % 3 === 2)): Unit
    drain()
    assert(rows(sources.TxTable.snapshot(spark, dst)) == rows(orders),
      "resumed sink lost or duplicated rows")
    assert(sources.TxTable.currentVersion(dst) == vMid + 1,
      "resume must land exactly one further commit")
    // an idle re-drain (no new source commits) lands nothing
    val vEnd = sources.TxTable.currentVersion(dst)
    drain()
    assert(sources.TxTable.currentVersion(dst) == vEnd,
      "idle drain committed a version")

    // replay-discard: re-delivering an epoch at/below the high-water
    // mark must reclaim its already-staged files and commit nothing
    val hw = sources.TxTable.readManifest(dst,
      sources.TxTable.currentVersion(dst)).props("lastbatch").toLong
    val clean = (sources.TxTable.currentVersion(dst),
      new java.io.File(dst, "data").list().length)
    val staged = sources.TxTable.writeData(spark, dst, orders.limit(3))
    assert(new java.io.File(dst, "data").list().length >
      clean._2, "fixture: staging must add a file")
    assert(!sources.TxTable.commitEpoch(dst, hw, staged),
      "replayed epoch committed")
    assert((sources.TxTable.currentVersion(dst),
      new java.io.File(dst, "data").list().length) == clean,
      "replayed epoch leaked staged files or landed a version")
    // and the next FRESH epoch still commits normally
    val staged2 = sources.TxTable.writeData(spark, dst, orders.limit(2))
    assert(sources.TxTable.commitEpoch(dst, hw + 1, staged2))
    assert(sources.TxTable.snapshot(spark, dst).count() ==
      orders.count() + 2)
  }

  test("DSv2 streaming SINK to a PARTITIONED target routes each " +
      "epoch's rows into partition directories (the batch writer's " +
      "dynamic routing, inherited — round 19)") {
    import org.apache.spark.sql.functions._
    val wh = graft.Scratch.dir("txtable", "dsv2sink_part")
    graft.Scratch.deleteRec(new java.io.File(wh))
    new java.io.File(wh).mkdirs()
    spark.conf.set("spark.sql.catalog.psink_tx",
      classOf[graft.streaming.TxTableCatalog].getName)
    spark.conf.set("spark.sql.catalog.psink_tx.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS psink_tx.db")
    spark.sql("""CREATE TABLE psink_tx.db.t
                |(k BIGINT, b INT, v DOUBLE) PARTITIONED BY (b)
                |""".stripMargin)
    val dst = s"$wh/db/t"
    val src = graft.Scratch.dir("txtable", "dsv2sink_part_src")
    sources.TxTable.init(src)
    sources.TxTable.append(spark, src, spark.range(0, 300)
      .select(col("id").as("k"), (col("id") % 3).cast("int").as("b"),
        (col("id") * 1.0).as("v"))): Unit
    val q = spark.readStream.format("txtable").load(src)
      .writeStream.format("txtable")
      .option("path", dst)
      .option("checkpointLocation", s"$dst/_checkpoint")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val m = sources.TxTable.readManifest(dst,
      sources.TxTable.currentVersion(dst))
    val data = m.files.filter(_.startsWith("data/"))
    assert(data.nonEmpty &&
      data.forall(_.matches("data/b=\\d+/.*\\.parquet")),
      s"streamed epoch must land partition-routed files: $data")
    assert((0 to 2).forall(i =>
      data.exists(_.startsWith(s"data/b=$i/"))),
      s"all three partitions must be populated: $data")
    assert(sources.TxTable.snapshot(spark, dst).count() == 300L)
    // partition pruning works on the streamed layout too
    val b1 = sources.TxTable.snapshot(spark, dst).filter(col("b") === 1)
    assert(b1.count() == 100L)
    val (kept, all) = graft.streaming.TxScanProbe.planned(b1)
    assert(kept.size < all.size,
      s"partition predicate must prune: ${kept.size}/${all.size}")
    spark.sql("DROP TABLE psink_tx.db.t")
  }
}
