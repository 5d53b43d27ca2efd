package graftbench

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.{Executors, TimeUnit}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Read operations return a result to the client; write operations change
  * stored state. Every workload has both. */
sealed trait Kind
case object Read extends Kind
case object Write extends Kind

/** Quantiles of a sample. `quantile` interpolates linearly between two
  * neighbouring samples (numpy's default). */
object Stats {
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Harrell–Davis quantile estimate: a Beta-weighted average of every
    * order statistic. On the few dozen latency samples of one run it
    * varies less than interpolating between two neighbouring samples. */
  def hdQuantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val n = s.size
    val (a, b) = (q * (n + 1), (1 - q) * (n + 1))
    def cdf(x: Double) =
      org.apache.commons.math3.special.Beta.regularizedBeta(x, a, b)
    s.indices.map(i =>
      (cdf((i + 1).toDouble / n) - cdf(i.toDouble / n)) * s(i)).sum
  }
}

/** Peak heap in use right after a collection: the sum of the heap pools'
  * post-GC usage, over every GC notification since the last reset. */
object HeapPeak {
  @volatile private var peak = 0L
  private lazy val heapPools: Set[String] =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet

  private val listener = new NotificationListener {
    override def handleNotification(n: Notification, hb: AnyRef): Unit =
      if (n.getType == com.sun.management.GarbageCollectionNotificationInfo
          .GARBAGE_COLLECTION_NOTIFICATION) {
        val info = com.sun.management.GarbageCollectionNotificationInfo
          .from(n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        if (used > peak) peak = used
      }
  }

  def install(): Unit = ManagementFactory.getGarbageCollectorMXBeans
    .asScala.foreach(_.asInstanceOf[NotificationEmitter]
      .addNotificationListener(listener, null, null))
  def reset(): Unit = peak = 0L
  /** Forces a full collection so the window always ends with one sample. */
  def peakMb(): Double = {
    System.gc()
    Thread.sleep(50)
    peak / 1048576.0
  }
}

/** File-system accounting for write amplification and space use. */
object Disk {
  /** Every regular file under `root`, relative path → size. */
  def files(root: File): Map[String, Long] = {
    val base = root.toPath
    def walk(f: File): Iterator[File] =
      if (f.isDirectory) Option(f.listFiles()).iterator.flatten.flatMap(walk)
      else Iterator(f)
    if (!root.exists()) Map.empty
    else walk(root).map(f => base.relativize(f.toPath).toString -> f.length)
      .toMap
  }
  def bytes(root: File): Long = files(root).values.sum
  /** Files that appeared or changed size between two listings. */
  def added(before: Map[String, Long], after: Map[String, Long])
      : Map[String, Long] =
    after.filter { case (p, n) => !before.get(p).contains(n) }
  def delete(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(delete)
    f.delete(): Unit
  }
  /** Row count of a parquet output directory, from the footers only. */
  def parquetRows(spark: SparkSession, dir: File): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    Option(dir.listFiles()).toSeq.flatten
      .filter(f => f.getName.endsWith(".parquet")).map { f =>
        val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f.getPath), conf)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try r.getRecordCount finally r.close()
      }.sum
  }
}

/** One successful operation's latency sample. */
final case class Sample(name: String, layer: String, kind: Kind,
    traced: Boolean, ms: Double)

/** The client side of a closed loop: runs one operation at a time, times
  * it, cancels it after `timeoutS`, and keeps the end-to-end accounting.
  * A failed, timed-out or wrong operation counts in `failed` and never
  * adds a latency sample. */
final class Client(spark: SparkSession, val tracer: Tracer, timeoutS: Int) {
  var attempted = 0L
  var failed = 0L
  var rowsWritten = 0L
  var bytesWritten = 0L
  var logicalBytesWritten = 0L
  /** Bytes on disk per logical byte of live rows, sampled whenever the
    * workload's stored data is at rest. */
  val spaceAmp = ArrayBuffer[Double]()
  val failures = ArrayBuffer[String]()
  val samples = ArrayBuffer[Sample]()
  private var nextReq = 0L

  def ms(kind: Kind): Seq[Double] = samples.filter(_.kind == kind).map(_.ms)
    .toSeq

  /** Starts the measured window: drops the warm-up's samples and volumes
    * (attempted and failed operations keep counting). */
  def resetWindow(): Unit = {
    samples.clear(); spaceAmp.clear(); rowsWritten = 0L
    bytesWritten = 0L; logicalBytesWritten = 0L
  }

  private val watchdog = Executors.newSingleThreadScheduledExecutor { r =>
    val t = new Thread(r, "graftbench-watchdog"); t.setDaemon(true); t
  }

  /** Run `body` as one operation calling into `layer`; `check` validates
    * the result outside the timed section. Returns the result when the
    * operation succeeded and its result was right. */
  def op[T](name: String, layer: String, kind: Kind, parent: Long = 0L)
      (body: => T)(check: T => Option[String]): Option[T] = {
    attempted += 1
    nextReq += 1
    val span = tracer.open(name, layer, parent, nextReq)
    val timer = watchdog.schedule(new Runnable {
      def run(): Unit = spark.sparkContext.cancelJobGroup(span.group)
    }, timeoutS.toLong, TimeUnit.SECONDS)
    val t0 = System.nanoTime()
    val out = try Right(body) catch { case e: Throwable => Left(e) }
    val ns = System.nanoTime() - t0
    timer.cancel(false)
    tracer.close(span, failed = out.isLeft)
    val verdict = out match {
      case Left(e) => Some(s"error: ${e.getClass.getSimpleName}: " +
        Option(e.getMessage).map(_.linesIterator.nextOption().getOrElse(""))
          .getOrElse(""))
      case Right(v) => try check(v) catch {
        case e: Throwable => Some(s"check error: $e")
      }
    }
    verdict match {
      case Some(why) =>
        failed += 1
        failures += s"$name: $why"
        System.err.println(s"[graftbench] FAILED $name: $why")
        None
      case None =>
        samples += Sample(name, layer, kind, span.recorded, ns / 1e6)
        out.toOption
    }
  }

  def close(): Unit = watchdog.shutdownNow(): Unit
}
