package graftbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM: set up a workload several times, warm it,
  * drive its closed loop for the window, check its answers, and write the
  * metrics as JSON.
  *
  * {{{
  *   graftbench.Main --workload W --seed N --seconds S --trace 0|1
  *     --data DIR --work DIR --out FILE
  * }}}
  *
  * Spark runs `local[SPARK_GRAFT_CPUS]` (default: all processors).
  */
object Main {
  private def arg(args: Array[String], name: String): Option[String] =
    args.sliding(2).collectFirst { case Array(`name`, v) => v }

  def main(args: Array[String]): Unit = {
    def need(n: String) = arg(args, n).getOrElse(sys.error(s"missing $n"))
    val workload = need("--workload")
    val seed = need("--seed").toLong
    val seconds = need("--seconds").toInt
    val trace = need("--trace") == "1"
    val data = new File(need("--data")).getAbsolutePath
    val work = new File(need("--work")).getAbsoluteFile
    val out = new File(need("--out"))
    val nproc = Runtime.getRuntime.availableProcessors
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(nproc)
    // one client thread per workload, and never more Spark threads than
    // the host has processors
    require(cpus >= 1 && cpus <= nproc,
      s"refusing $cpus Spark threads on a host with $nproc processors")

    val host = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed, "nproc" -> nproc,
      "spark_threads" -> cpus, "clients" -> 1,
      "load_avg_start" -> loadAvg(),
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576)

    HeapPeak.install()
    val phases = mutable.LinkedHashMap[String, Double]()
    var mark = System.nanoTime()
    def phase(name: String): Unit = {
      val now = System.nanoTime(); phases(name) = (now - mark) / 1e9; mark = now
    }
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"graftbench-$workload")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .config("spark.sql.catalog.tx",
        classOf[graft.streaming.TxTableCatalog].getName)
      .config("spark.sql.catalog.tx.warehouse", new File(work, "tx").getPath)
      // serve: the star schema's lineitem sits above this threshold
      // and its dimension tables below it (recorded in the host record)
      .config("spark.sql.autoBroadcastJoinThreshold",
        if (workload == "serve") "256KB" else "10MB")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    phase("spark_start_s")

    val tracer = new Tracer(spark, trace)
    val client = new Client(spark, tracer, timeoutS = 60)
    val ctx = Ctx(spark, data, work, seed, trace, client)
    val w: Workload = workload match {
      case "curate" => new Curate(ctx)
      case "serve" => new Serve(ctx)
      case other => sys.error(s"unknown workload $other")
    }
    host ++= inputSizes(spark, data)

    // setup_s is the median of three set-ups; a traced run does not
    // report it and sets up once
    val setupS = (1 to (if (trace) 1 else 3)).map { _ =>
      val t0 = System.nanoTime(); w.setup(); (System.nanoTime() - t0) / 1e9
    }
    phase("setup_s")
    w.warmup()
    phase("warmup_s")
    client.resetWindow()
    HeapPeak.reset()

    // A fixed number of whole rounds, whatever the clock says: one
    // (curate: the cold pass; serve: 12-15 s on a 4-core host). A traced
    // run makes four and records the middle two, so traced and untraced
    // rounds sit symmetrically in the run (ABBA). `--seconds` is only a
    // ceiling: a round that runs longer than six times it fails the run.
    val rounds = if (trace) 4 else 1
    val t0 = System.nanoTime()
    for (r <- 0 until rounds) {
      tracer.setRecording(r == 1 || r == 2)
      val r0 = System.nanoTime()
      w.round().foreach(_())
      val roundS = (System.nanoTime() - r0) / 1e9
      if (roundS > 6.0 * seconds) {
        System.err.println(f"[graftbench] round $r took $roundS%.1f s, " +
          s"over the ceiling of 6 x $seconds s")
        spark.stop()
        sys.exit(3)
      }
    }
    val windowS = (System.nanoTime() - t0) / 1e9
    tracer.setRecording(false)
    phase("window_s")
    val heapMb = HeapPeak.peakMb()
    w.verify()
    phase("verify_s")
    host ++= Seq("phases" -> phases.toMap, "window_s" -> windowS,
      "rounds" -> rounds, "read_samples" -> client.ms(Read).size,
      "write_samples" -> client.ms(Write).size,
      "latency_by_layer" -> latencyByLayer(client),
      "latencies_ms" -> client.samples.map(x => Seq(x.name, x.ms)).toSeq,
      "setup_runs_s" -> setupS, "load_avg_end" -> loadAvg(),
      "failures" -> client.failures.take(20).toSeq)

    val metrics: Seq[(String, Double, String)] =
      if (!trace) endToEnd(w, client, setupS, heapMb)
      else perLayer(w, tracer, client, cpus)
    writeResult(out, client, metrics, host.toSeq, w.oracleKeys)
    if (trace) tracer.dump(new File(work, "spans.jsonl"))
    client.close()

    // The DuckDB oracle compare needs each oracle key's answer on disk;
    // graft.Verify writes them (and stops the session, so it runs last).
    if (w.oracleKeys.nonEmpty)
      graft.Verify.main(Array(data, new File(work, "verify").getPath) ++
        w.oracleKeys)
    else spark.stop()
  }

  private def loadAvg(): Double =
    ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  /** Input bytes per table (what the planner estimates a parquet scan
    * at) next to the broadcast threshold and the storage memory. */
  private def inputSizes(spark: SparkSession, data: String)
      : Seq[(String, Any)] = {
    val thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val storage = spark.sparkContext.getExecutorMemoryStatus.values
      .map(_._1).sum
    val tables = graft.Tables.names.map(t =>
      t -> new File(data, s"$t.parquet").length)
    Seq("broadcast_threshold" -> thr, "storage_memory_bytes" -> storage,
      "input_bytes" -> tables.toMap,
      "input_bytes_total" -> tables.map(_._2).sum)
  }

  private def pct(xs: Seq[Double], q: Double) =
    if (xs.isEmpty) 0.0 else Stats.hdQuantile(xs, q)

  private def endToEnd(w: Workload, c: Client, setupS: Seq[Double],
      heapMb: Double): Seq[(String, Double, String)] = {
    def rate(n: Double, s: Double) = if (s == 0) 0.0 else n / s
    val (reads, writes) = (c.ms(Read), c.ms(Write))
    val (docs, docS) = w.docRate
    Seq(
      ("setup_s", Stats.median(setupS), "s"),
      ("docs_per_s", rate(docs.toDouble, docS), "1/s"),
      ("queries_per_s", rate(c.samples.size.toDouble,
        c.samples.map(_.ms).sum / 1e3), "1/s"),
      ("read_p50_ms", pct(reads, 0.5), "ms"),
      ("read_p90_ms", pct(reads, 0.9), "ms"),
      ("rows_per_s", rate(c.rowsWritten.toDouble, writes.sum / 1e3), "1/s"),
      ("write_p50_ms", pct(writes, 0.5), "ms"),
      ("write_p90_ms", pct(writes, 0.9), "ms"),
      ("write_amp", if (c.logicalBytesWritten == 0) 0.0
        else c.bytesWritten.toDouble / c.logicalBytesWritten, "ratio"),
      ("space_amp", pct(c.spaceAmp.toSeq, 0.5), "ratio"),
      ("live_heap_peak_mb", heapMb, "MB"))
  }

  /** Read and write latency percentiles of each layer's operations, for
    * the host record: serve's end-to-end percentiles mix its parts. */
  private def latencyByLayer(c: Client): Map[String, Map[String, Double]] =
    c.samples.groupBy(_.layer).map { case (layer, xs) =>
      layer -> Seq(Read -> "read", Write -> "write").flatMap { case (k, n) =>
        val ms = xs.filter(_.kind == k).map(_.ms).toSeq
        if (ms.isEmpty) Nil
        else Seq(s"${n}s" -> ms.size.toDouble, s"${n}_p50_ms" -> pct(ms, 0.5),
          s"${n}_p90_ms" -> pct(ms, 0.9))
      }.toMap
    }

  private def perLayer(w: Workload, t: Tracer, c: Client, cores: Int)
      : Seq[(String, Double, String)] = {
    val counters = t.countersBySpan()
    val mb = 1048576.0
    val generic = Layers.all.flatMap { layer =>
      val spans = t.spans.filter(_.layer == layer)
      val cs = spans.map(s => counters(s.id))
      def sum(f: SpanCounters => Long) = cs.map(f).sum
      val busyS = spans.map(s => s.endNs - s.startNs).sum / 1e9
      val base = Seq(
        ("calls", spans.size.toDouble, "count"),
        ("busy_s", busyS, "s"),
        ("failed", spans.count(_.failed).toDouble, "count"),
        ("tasks", sum(_.tasks).toDouble, "count"),
        ("task_cpu_s", sum(_.cpuNs) / 1e9, "s"),
        ("core_util", if (busyS == 0) 0.0
          else sum(_.runMs) / 1e3 / (busyS * cores), "ratio"),
        ("shuffle_mb", sum(_.shuffleBytes) / mb, "MB"),
        ("spill_mb", sum(_.spillBytes) / mb, "MB"),
        ("gc_s", sum(_.gcMs) / 1e3, "s"))
      val examined =
        if (!Set("llm.dedup", "llm.similarity", "llm.retrieval",
            "relational")(layer)) Nil
        else {
          val out = spans.map(_.rows).sum
          Seq(("rows_examined_per_out",
            if (out == 0) 0.0 else sum(_.joinRows).toDouble / out, "ratio"))
        }
      val sources = if (layer != "sources") Nil else {
        val listed = sum(_.filesListed)
        Seq(("files_read_frac",
          if (listed == 0) 0.0 else sum(_.filesPlanned).toDouble / listed,
          "ratio"), ("scan_mb", sum(_.scanBytes) / mb, "MB"))
      }
      (base ++ examined ++ sources).map { case (n, v, u) => (s"$layer.$n", v, u) }
    }
    val specific = Seq(
      ("llm.dedup.planted_recall", "ratio"),
      ("llm.similarity.recall_at_k", "ratio"),
      ("streaming.commits", "count"), ("streaming.files_written", "count"),
      ("streaming.bytes_written_mb", "MB"), ("streaming.maint_s", "s"))
      .map { case (n, u) => (n, w.extra.getOrElse(n, 0.0), u) }
    generic ++ specific :+ ("trace.overhead_pct", overheadPct(c), "%")
  }

  /** Traced minus untraced latency of the same operations, as a share of
    * untraced: per operation name, the difference of the medians, weighted
    * by how often the name ran. */
  private def overheadPct(c: Client): Double = {
    val byName = c.samples.groupBy(_.name).values.flatMap { xs =>
      val (on, off) = xs.partition(_.traced)
      if (on.isEmpty || off.isEmpty) None
      else Some((Stats.median(on.map(_.ms).toSeq),
        Stats.median(off.map(_.ms).toSeq), xs.size))
    }
    val base = byName.map { case (_, off, n) => off * n }.sum
    if (base == 0) 0.0
    else 100 * byName.map { case (on, off, n) => (on - off) * n }.sum / base
  }

  private def json(v: Any): String = v match {
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case m: Map[_, _] => m.map { case (k, x) => json(k.toString) + ":" + json(x) }
      .mkString("{", ",", "}")
    case xs: Seq[_] => xs.map(json).mkString("[", ",", "]")
    case other => other.toString
  }

  private def writeResult(out: File, c: Client,
      metrics: Seq[(String, Double, String)], host: Seq[(String, Any)],
      oracleKeys: Seq[String]): Unit = {
    val m = metrics.map { case (n, v, u) => n -> Map("value" -> v, "unit" -> u) }
    val doc = Seq(
      "attempted" -> c.attempted, "failed" -> c.failed,
      "metrics" -> m.toMap, "oracle_keys" -> oracleKeys,
      "host" -> host.toMap)
    val w = new PrintWriter(out, "UTF-8")
    try w.println(json(doc.toMap)) finally w.close()
  }
}
