package graftbench

import java.io.File

import scala.collection.mutable.ArrayBuffer
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** What every workload gets: the session, its generated inputs, a private
  * work directory, the seeded random stream and the client. */
final case class Ctx(spark: SparkSession, data: String, work: File,
    seed: Long, trace: Boolean, client: Client) {
  val rng = new Random(seed)
  def tracer: Tracer = client.tracer
  lazy val planted: Planted = Planted.load(new File(data, "planted.json"))
}

/** The answers the generator planted (see gen.py). */
final case class Planted(exactPairs: Seq[(Long, Long)],
    nearPairs: Seq[(Long, Long)], twins: Map[Long, Long])

object Planted {
  def load(f: File): Planted = {
    import scala.jdk.CollectionConverters._
    val js = new com.fasterxml.jackson.databind.ObjectMapper().readTree(f)
    def pairs(key: String): Seq[(Long, Long)] =
      js.get(key).elements().asScala
        .map(p => p.get(0).asLong -> p.get(1).asLong).toSeq
    Planted(pairs("exact_pairs"), pairs("near_pairs"), pairs("twins").toMap)
  }
}

/** Layer of every public query key: the `graft` module that defines it. */
object Layers {
  val all: Seq[String] = Seq("text", "llm.dedup", "llm.governance",
    "llm.curation", "llm.similarity", "llm.retrieval", "ml", "relational",
    "stream", "sources", "streaming")

  private val byModule: Seq[(String, Iterable[String])] = {
    import graft._
    Seq(
      "text" -> (text.TextOps.queries.keys ++ text.Analysis.queries.keys),
      "llm.dedup" -> (llm.Dedup.queries.keys ++
        llm.DedupVariants.queries.keys),
      "llm.governance" -> llm.Governance.queries.keys,
      "llm.curation" -> llm.Curation.queries.keys,
      "llm.similarity" -> llm.Similarity.queries.keys,
      "llm.retrieval" -> llm.Retrieval.queries.keys,
      "ml" -> ml.Pipelines.queries.keys,
      "relational" -> Seq(relational.Core.queries, relational.Joins.queries,
        relational.Aggregates.queries, relational.Windows.queries,
        relational.Scalars.queries, relational.ScaleOps.queries,
        relational.Stats.queries, relational.Extended.queries,
        relational.TimeSeries.queries).flatMap(_.keys),
      "stream" -> stream.EventOps.queries.keys)
  }
  val ofKey: Map[String, String] =
    byModule.flatMap { case (l, ks) => ks.map(_ -> l) }.toMap
}

/** One benchmark workload. `setup` must be repeatable: [[Main]] calls it
  * several times and reports the median. */
abstract class Workload(val ctx: Ctx) {
  protected def spark: SparkSession = ctx.spark
  protected def client: Client = ctx.client
  def setup(): Unit
  /** The operations of one round, in a seeded order. Every round has the
    * same composition, so whole rounds compare across seeds. */
  def round(): Seq[() => Unit]
  /** One untimed round, so the window sees warm code. */
  def warmup(): Unit = round().foreach(_())
  /** End-of-run correctness checks, outside the timed window. */
  def verify(): Unit = ()
  /** `docs_per_s` numerator and denominator: documents handled and the
    * seconds spent handling them. */
  def docRate: (Long, Double) = (0L, 0.0)
  /** Layer-specific metrics this workload measures. */
  val extra = scala.collection.mutable.LinkedHashMap[String, Double]()
  /** Analytics keys to compare against the DuckDB oracle after the run. */
  def oracleKeys: Seq[String] = Nil

  /** A correctness check counted as one operation of its own. */
  protected def checkOp(name: String)(why: => Option[String]): Unit = {
    client.attempted += 1
    val w = try why catch { case e: Throwable => Some(s"check error: $e") }
    w.foreach { m =>
      client.failed += 1
      client.failures += s"$name: $m"
      System.err.println(s"[graftbench] CHECK FAILED $name: $m")
    }
  }
}

/** Runs public query keys as reads (result collected to the client) or
  * writes (result persisted as parquet under `results/`). */
trait KeyRunner { self: Workload =>
  protected val results = new File(ctx.work, "results")
  private val live = scala.collection.mutable.Map[String, Long]()
  private val disk = scala.collection.mutable.Map[String, Long]()

  protected def query(key: String): DataFrame =
    graft.SparkEntry.queries(key)(spark, ctx.data)

  protected def read(key: String, parent: Long = 0L)
      (check: Array[Row] => Option[String]): Option[Array[Row]] = {
    val r = client.op(key, Layers.ofKey(key), Read, parent)(
      query(key).collect())(check)
    r.foreach(rows => ctx.tracer.last.foreach(_.rows = rows.length))
    r
  }

  protected def write(key: String, parent: Long = 0L): Option[Long] = {
    val out = new File(results, key)
    var width = 0L
    client.op(key, Layers.ofKey(key), Write, parent) {
      val df = query(key)
      width = df.schema.defaultSize.toLong
      df.write.mode("overwrite").parquet(out.getPath)
    } { _ =>
      val rows = Disk.parquetRows(spark, out)
      val bytes = Disk.files(out).filter(_._1.endsWith(".parquet")).values.sum
      client.rowsWritten += rows
      client.bytesWritten += bytes
      client.logicalBytesWritten += rows * width
      live(key) = rows * width
      disk(key) = bytes
      ctx.tracer.last.foreach(_.rows = rows)
      if (rows > 0) None else Some("wrote no rows")
    }.map(_ => live(key))
  }

  /** Samples space amplification over every result written so far. */
  protected def sampleSpace(): Unit =
    if (live.values.sum > 0)
      client.spaceAmp += disk.values.sum.toDouble / live.values.sum

  /** One round of a key mix: each key read `weight` times, checked by
    * `check`, in a seeded order. */
  protected def roundOf(mix: Seq[(String, Int)])(
      check: String => Array[Row] => Option[String]): Seq[() => Unit] =
    ctx.rng.shuffle(mix.flatMap { case (k, n) =>
      Seq.fill(n)(() => read(k)(check(k)): Unit) })
}

/** `curate`: one batch pass over the corpus per round, the whole chain. */
final class Curate(c: Ctx) extends Workload(c) with KeyRunner {
  private val chain: Seq[(String, Kind)] = Seq(
    "q_text_clean" -> Read, "q_text_tokenize" -> Read,
    "q_text_langid" -> Read, "q_text_quality" -> Read,
    "q_dedup_exact" -> Read, "q_dedup_minhash" -> Read,
    "q_dedup_ngram" -> Read, "q_dedup_near" -> Read,
    "q_dedup_cluster" -> Write, "q_decontam_ngram" -> Write,
    "q_split_holdout" -> Write, "q_pack_sequences" -> Write,
    "q_sample_budget" -> Write, "q_ml_tfidf_nb" -> Read,
    "q_ml_eval" -> Read)
  private var nDocs = 0L
  private val passNs = ArrayBuffer[Long]()
  private val recall = ArrayBuffer[Double]()

  /** Validates the corpus against the library's schema contract and
    * counts it. */
  def setup(): Unit = {
    val docs = graft.Tables.documents(spark, ctx.data)
    val want = graft.Tables.expectedSchemas.toMap.apply("documents")
    val got = docs.schema.fields.map(f => f.name -> f.dataType.simpleString)
    require(got.length == want.size && got.zip(want).forall {
      case ((n, t), (wn, wt)) => n == wn && wt(t) }, s"corpus schema $got")
    nDocs = docs.count()
    Disk.delete(results)
  }

  private lazy val plantedPairs =
    (ctx.planted.exactPairs ++ ctx.planted.nearPairs).map {
      case (a, b) => (math.min(a, b), math.max(a, b)) }.toSet

  /** Share of the planted duplicate pairs found among (id_a, id_b). */
  private def pairRecall(rows: Array[Row]): Double = {
    val found = rows.map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")))
      .toSet
    plantedPairs.count(found).toDouble / plantedPairs.size
  }

  private def check(key: String)(rows: Array[Row]): Option[String] =
    if (rows.isEmpty) Some("empty result")
    else key match {
      // exact Jaccard over n-grams: every planted pair must be found
      case "q_dedup_ngram" =>
        val r = pairRecall(rows)
        if (r == 1.0) None else Some(f"planted-pair recall $r%.4f < 1")
      // MinHash LSH: approximate, held to the library's own floor
      case "q_dedup_near" =>
        val r = pairRecall(rows)
        recall += r
        if (r >= 0.9) None else Some(f"planted-pair recall $r%.4f < 0.9")
      case _ => None
    }

  private def pass(): Boolean = {
    val p = ctx.tracer.open("curate.pass", "pipeline", 0L, 0L)
    val t0 = System.nanoTime()
    val ok = chain.map {
      case (k, Read) => read(k, p.id)(check(k)).isDefined
      case (k, Write) => write(k, p.id).isDefined
    }.forall(identity)
    val ns = System.nanoTime() - t0
    ctx.tracer.close(p, failed = !ok)
    // the curated artifacts are at rest once the pass has written them all
    if (ok) { passNs += ns; sampleSpace() }
    ok
  }

  /** A batch pass runs once in a fresh process, so the measured passes
    * start with the cold one; a traced run warms up with one pass, so its
    * traced and untraced passes are both warm. */
  override def warmup(): Unit = if (ctx.trace) pass(): Unit
  def round(): Seq[() => Unit] = Seq(() => pass(): Unit)
  override def docRate: (Long, Double) =
    (nDocs * passNs.size, passNs.sum / 1e9)
  override def verify(): Unit =
    extra("llm.dedup.planted_recall") =
      if (recall.isEmpty) 0.0 else recall.min
}

/** Serve's retrieval part: requests over a clustered embedding table,
  * served in part from the ANN index built in set-up. */
final class Search(c: Ctx) extends Workload(c) with KeyRunner {
  private val mix = Seq("q_sim_index_persist" -> 1, "q_sim_topk" -> 1,
    "q_sim_lsh" -> 1, "q_knn_classify" -> 1, "q_rank_bm25" -> 1)
  private val lastRows = scala.collection.mutable.Map[String, Array[Row]]()
  private lazy val labels: Map[Long, Int] = graft.Tables.embeddings(spark,
      ctx.data).filter("vec_id < 20").select("vec_id", "label").collect()
    .map(r => r.getLong(0) -> r.getInt(1)).toMap

  /** Drops every derived similarity artifact, so each set-up builds the
    * persisted IVF-PQ index from scratch. */
  def setup(): Unit = {
    Disk.delete(new File(graft.Scratch.dir("sim", "x")).getParentFile)
    Disk.delete(results)
    graft.SparkEntry.queries("q_sim_index_persist")(spark, ctx.data)
      .collect(): Unit
  }

  /** (qid, cid) of each query's top-1 neighbour. */
  private def top1(rows: Array[Row]): Map[Long, Long] =
    rows.filter(_.getAs[Int]("rn") == 1)
      .map(r => r.getAs[Long]("qid") -> r.getAs[Long]("cid")).toMap

  private def check(key: String)(rows: Array[Row]): Option[String] = {
    lastRows(key) = rows
    key match {
      case "q_rank_bm25" =>
        if (rows.nonEmpty) None else Some("no ranked documents")
      case "q_knn_classify" =>
        val bad = rows.count(r =>
          labels.get(r.getAs[Long]("qid")).forall(_ != r.getAs[Int]("pred_label")))
        if (rows.length == 20 && bad == 0) None
        else Some(s"${rows.length} answers, $bad wrong labels")
      case _ =>
        // the nearest neighbour of each query is its planted twin
        val t = top1(rows)
        val miss = ctx.planted.twins.count { case (q, tw) => !t.get(q).contains(tw) }
        if (miss == 0) None else Some(s"$miss of 20 queries missed their twin")
    }
  }

  def round(): Seq[() => Unit] = roundOf(mix)(check)

  /** Rows each retrieval key searches per request (the embedding table or
    * the corpus), over the seconds its requests took. */
  override def docRate: (Long, Double) = {
    val vectors = graft.Tables.embeddings(spark, ctx.data).count()
    val docs = graft.Tables.documents(spark, ctx.data).count()
    val served = client.samples.filter(s => mix.exists(_._1 == s.name))
    (served.map(s => if (s.name == "q_rank_bm25") docs else vectors).sum,
      served.map(_.ms).sum / 1e3)
  }

  /** recall@5 of an approximate key against the exact top-k. */
  private def recallAt5(key: String): Double = {
    def sets(rows: Array[Row]) = rows.groupBy(_.getAs[Long]("qid"))
      .map { case (q, rs) => q -> rs.map(_.getAs[Long]("cid")).toSet }
    val exact = sets(lastRows("q_sim_topk"))
    val approx = sets(lastRows(key))
    exact.map { case (q, e) => (approx.getOrElse(q, Set.empty) & e).size }
      .sum.toDouble / exact.values.map(_.size).sum
  }

  override def verify(): Unit = {
    mix.foreach { case (k, _) =>
      if (!lastRows.contains(k)) read(k)(check(k)) }
    val ivf = recallAt5("q_sim_index_persist")
    val lsh = recallAt5("q_sim_lsh")
    extra("llm.similarity.recall_at_k") = ivf
    // the library's own recall floors (ApproxSpec)
    checkOp("recall_at_5.ivfpq")(
      if (ivf >= 0.6) None else Some(f"IVF-PQ recall@5 $ivf%.3f < 0.6"))
    checkOp("recall_at_5.lsh")(
      if (lsh >= 0.8) None else Some(f"LSH recall@5 $lsh%.3f < 0.8"))
  }
}

/** Serve's analytics part: relational and event-stream queries over a
  * generated star schema. */
final class Analytics(c: Ctx) extends Workload(c) with KeyRunner {
  private val mix = Seq("q_agg_hash" -> 1, "q_join_star" -> 1,
    "q_join_skew_aqe" -> 1, "q_join_asof" -> 1, "q_window_rank" -> 1,
    "q_stream_session" -> 1)
  private val reference = scala.collection.mutable.Map[String, Seq[String]]()

  /** Plans a scan of every star-schema table (the sizes the planner
    * sees) and counts the fact table. */
  def setup(): Unit = {
    Disk.delete(results)
    Seq("lineitem", "orders", "customer", "part", "supplier", "events")
      .foreach(t => graft.Tables.loader(t)(spark, ctx.data)
        .queryExecution.optimizedPlan.stats.sizeInBytes)
    graft.Tables.lineitem(spark, ctx.data).count(): Unit
  }

  private def canon(rows: Array[Row]): Seq[String] = rows.map(_.toString).toSeq

  /** Every answer equals the first one (the oracle checks that one). */
  private def check(key: String)(rows: Array[Row]): Option[String] =
    reference.get(key) match {
      case None => reference(key) = canon(rows); None
      case Some(ref) =>
        if (canon(rows) == ref) None
        else Some(s"answer changed: ${rows.length} rows vs ${ref.size}")
    }

  def round(): Seq[() => Unit] = roundOf(mix)(check)
  override def oracleKeys: Seq[String] =
    mix.map(_._1).filter(graft.SparkEntry.oracleSql.contains)
}

/** `serve`: one client's closed loop over the three interactive parts —
  * retrieval ([[Search]]) and analytics ([[Analytics]]) reads and the
  * transactional table's reads and writes ([[Ingest]]) — each round all
  * three parts' rounds dealt together in a seeded order. `docs_per_s` is
  * the retrieval part's. */
final class Serve(c: Ctx) extends Workload(c) {
  private val search = new Search(c)
  private val analytics = new Analytics(c)
  private val parts = Seq(search, analytics, new Ingest(c))

  def setup(): Unit = parts.foreach(_.setup())
  override def warmup(): Unit = parts.foreach(_.warmup())
  def round(): Seq[() => Unit] = ctx.rng.shuffle(parts.flatMap(_.round()))
  override def docRate: (Long, Double) = search.docRate
  override def verify(): Unit = parts.foreach { p =>
    p.verify()
    extra ++= p.extra
  }
  override def oracleKeys: Seq[String] = analytics.oracleKeys
}
