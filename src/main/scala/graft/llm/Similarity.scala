package graft.llm

import org.apache.spark.ml.feature.{BucketedRandomProjectionLSH,
  BucketedRandomProjectionLSHModel}
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.ml.linalg.Vector
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Q, Tables}

/** Similarity search over the embedding column (SURVEY §2.10).
  *
  * Scale notes (100 TB posture): q_sim_topk is the exact baseline — the
  * bounded query set is broadcast against the distributed candidate side
  * (never a shuffled N×N cross join), then per-query top-k via window
  * rank. Cost is O(|queries| · n); it exists to calibrate the approximate
  * path. q_sim_lsh is the at-scale variant: random-projection bucketing
  * turns the quadratic pair space into per-bucket joins; recall vs the
  * exact baseline is asserted in tests (≥ 0.8).
  *
  * Serving keys (q_sim_topk, q_sim_lsh, q_knn_classify,
  * q_sim_index_persist) keep their corpus-side state resident per
  * session ([[graft.Resident]]): the normalized corpus (norms computed
  * once per corpus, not per call or pair), the LSH model and hashed
  * corpus, the persisted index's serving state. A request runs only its
  * query-dependent work — select the queries, probe, scan candidates,
  * shortlist, re-rank, top-k.
  */
object Similarity {

  /** Per-element double cast (embeddings are float32; both engines compute
    * in float64 after this, so sums agree to well under the 6dp grid).
    * A plain array cast, NOT `transform(c, _.cast("double"))` (round 22):
    * Cast is a codegen expression; the transform lambda is interpreted
    * and runs once per corpus row (guide step 4 — no non-codegen
    * expressions in the hot path). Element-wise result is identical. */
  private def asDouble(c: Column): Column = c.cast("array<double>")

  /** L2 norm via the native codegen'd [[graft.functions.ArrayDotProduct]]
    * (round 22) — built directly on the expression (no registry needed),
    * replacing the interpreted `aggregate(transform(c, x*x), 0, +)`
    * lambdas. Accumulation is the same left-to-right fold from 0.0, so
    * the double result is bit-identical. */
  private def l2norm(c: Column): Column = {
    import org.apache.spark.sql.graft.PlanBridge
    sqrt(PlanBridge.column(graft.functions.ArrayDotProduct(
      PlanBridge.expression(c), PlanBridge.expression(c))))
  }

  /** Codegen'd dot product (graft.functions.ArrayDotProduct) — same
    * left-to-right accumulation as the interpreted higher-order form, so
    * results are bit-identical, but it runs inside whole-stage codegen:
    * the per-pair hot loop of every similarity operator. */
  private def dot(a: Column, b: Column): Column =
    call_function("array_dot", a, b)

  /** The resident normalized corpus (vec_id, label, emb, nrm, unit):
    * the embedding table cast to double, its L2 norm, and the unit
    * vector (NULL where nrm ≤ 0), spread across defaultParallelism —
    * the single-row-group fixture scan is one task, and every consumer
    * (candidate scans, encodes, UDF kernels) would otherwise run on ONE
    * core (guide §2.5; no-op at scale). Built once per session and
    * embeddings fingerprint ([[graft.Resident]]); every retrieval key
    * reads it instead of rescanning and renormalizing the table. */
  private[graft] def corpus(s: SparkSession, dir: String): DataFrame =
    graft.Resident.get(s, "corpus", dir,
        graft.Scratch.fingerprint(dir, "embeddings")) { fill =>
      fill.persist(Tables.spread(Tables.embeddings(s, dir)
          .select(col("vec_id"), col("label"), col("embedding")))
        .select(col("vec_id"), col("label"),
          asDouble(col("embedding")).as("emb"))
        .withColumn("nrm", l2norm(col("emb")))
        .withColumn("unit", when(col("nrm") > 0,
          transform(col("emb"), x => x / col("nrm")))), "corpus")
    }

  /** Per-query rank `rn` of `pairs` by `order`, keeping rn ≤ k. */
  private def rankPerQuery(pairs: DataFrame, k: Int, order: Column*)
      : DataFrame =
    pairs.withColumn("rn", row_number().over(
      Window.partitionBy("qid").orderBy(order: _*))).filter(col("rn") <= k)

  /** A per-query top-k (|queries|·k rows) gathered into one partition:
    * the (qid, …) output order is then a sort within it — one small
    * exchange instead of orderBy's range-sampling job plus shuffle. */
  private def gathered(topk: DataFrame): DataFrame = topk.repartition(1)

  /** The standard query set of the retrieval keys: the first 20
    * vectors. Internal entry points take the query set as a predicate
    * over the corpus, so specs can serve other query sets from the same
    * resident state. */
  private def standardQueries: Column = col("vec_id") < 20

  /** Exact cosine top-k of the `queries` vectors against the resident
    * corpus; k+tie-broken by neighbor id on the 6dp-rounded score.
    * Carries the neighbor's label. One partition. */
  private def cosineTopK(s: SparkSession, dir: String, queries: Column,
      k: Int): DataFrame = {
    graft.functions.NativeFunctions.register(s)
    val e = corpus(s, dir)
    val q = e.filter(queries)
      .select(col("vec_id").as("qid"), col("emb").as("qemb"),
        col("nrm").as("qnrm"))
    val pairs = e.join(broadcast(q), col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("cid"), col("label"),
        round(dot(col("qemb"), col("emb")) / (col("qnrm") * col("nrm")), 6)
          .as("cos_sim"))
    gathered(rankPerQuery(pairs, k, col("cos_sim").desc, col("cid").asc))
  }

  /** q_sim_topk — brute-force cosine top-5 per query vector. */
  def qSimTopk(s: SparkSession, dir: String): DataFrame =
    simTopk(s, dir, standardQueries)

  private[graft] def simTopk(s: SparkSession, dir: String, queries: Column)
      : DataFrame =
    cosineTopK(s, dir, queries, k = 5)
      .select("qid", "cid", "rn", "cos_sim")
      .sortWithinPartitions("qid", "rn")

  /** Resident LSH state: the random-projection model (fit once per
    * corpus — the projection is a data-independent function of the
    * pinned seed and the dimension) and the hashed corpus
    * (vec_id, features, hs), hs holding one bucket id per hash table. */
  private def lshIndex(s: SparkSession, dir: String)
      : (BucketedRandomProjectionLSHModel, DataFrame) =
    graft.Resident.get(s, "lsh", dir,
        graft.Scratch.fingerprint(dir, "embeddings")) { fill =>
      val feats = corpus(s, dir)
        .select(col("vec_id"), array_to_vector(col("emb")).as("features"))
      val model = new BucketedRandomProjectionLSH()
        .setInputCol("features").setOutputCol("hashes")
        .setBucketLength(1.0).setNumHashTables(4).setSeed(42L)
        .fit(feats)
      val buckets = udf((hs: Seq[Vector]) => hs.map(_(0)))
      (model, fill.persist(model.transform(feats)
        .select(col("vec_id"), col("features"),
          buckets(col("hashes")).as("hs")), "lsh hashed corpus"))
    }

  /** q_sim_lsh — approximate neighbors via random-projection LSH: the
    * 100 TB path for q_sim_topk. Euclidean-distance based; pinned seed and
    * bucket length. No oracle (bucketing is engine-specific); tests assert
    * recall ≥ 0.8 against the exact baseline, and row identity with
    * MLlib's `approxSimilarityJoin(queries, corpus, 3.0)`.
    *
    * The model and the hashed corpus are resident ([[lshIndex]]). Per
    * request, the query rows' bucket ids are collected (bounded: the
    * query set) and each corpus row looks up the queries sharing any of
    * its (table, bucket) cells — the per-row form of MLlib's exploded
    * bucket equi-join, yielding each (qid, cid) once, so the candidate
    * DISTINCT needs no shuffle (MLlib's dedups whole rows carrying
    * 64-dim vectors through an exchange). The distance is the model's
    * own keyDistance and the `< 3.0` filter precedes rounding, as in
    * MLlib, so rows are identical. */
  def qSimLsh(s: SparkSession, dir: String): DataFrame =
    simLsh(s, dir, standardQueries)

  private[graft] def simLsh(s: SparkSession, dir: String, queries: Column)
      : DataFrame = {
    val (model, hashed) = lshIndex(s, dir)
    val qs = hashed.filter(queries)
      .select("vec_id", "features", "hs").collect()
    // bucket ids compare as join keys do: -0.0 == 0.0, NaN == NaN
    def cell(j: Int, h: Double) =
      (j, java.lang.Double.doubleToLongBits(if (h == 0.0) 0.0 else h))
    val byCell = qs.toSeq.flatMap { r =>
      r.getSeq[Double](2).zipWithIndex.map { case (h, j) =>
        cell(j, h) -> r.getLong(0) }
    }.groupMap(_._1)(_._2)
    val qf = qs.map(r => r.getLong(0) -> r.getAs[Vector](1)).toMap
    val probe = udf((hs: Seq[Double]) => hs.indices.flatMap(j =>
      byCell.getOrElse(cell(j, hs(j)), Nil)).distinct: Seq[Long])
    val dist = udf((qid: Long, y: Vector) =>
      org.apache.spark.ml.graft.LshBridge.euclideanDistance(model, qf(qid), y))
    val pairs = hashed
      .select(col("vec_id").as("cid"), col("features"),
        explode(probe(col("hs"))).as("qid"))
      .withColumn("dist", dist(col("qid"), col("features")))
      .filter(col("dist") < 3.0)
      .select(col("qid"), col("cid"), round(col("dist"), 6).as("dist"))
      .filter(col("qid") =!= col("cid"))
    gathered(rankPerQuery(pairs, 5, col("dist").asc, col("cid").asc))
      .sortWithinPartitions("qid", "rn")
  }

  /** q_sim_ivf — IVF (inverted-file) approximate neighbors: a seeded
    * KMeans coarse quantizer (k=16) buckets all vectors; each query
    * probes its nprobe=4 nearest centroids and brute-forces cosine only
    * within those buckets. This is the classic at-scale ANN layout: the
    * candidate set shrinks to ~nprobe/k of the corpus, centroids are
    * broadcast, and the final filter is exactly the q_dedup_embed /
    * q_sim_topk cosine. No oracle (bucketing is model-dependent);
    * scalatest asserts recall vs the exact baseline. */
  def qSimIvf(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.ml.clustering.KMeans
    graft.functions.NativeFunctions.register(s)
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id"), asDouble(col("embedding")).as("emb"))
      .withColumn("nrm", l2norm(col("emb")))
    val feat = e.withColumn("features", array_to_vector(col("emb")))
    val km = new KMeans().setK(16).setSeed(42L).setFeaturesCol("features")
      .setPredictionCol("bucket")
    val model = km.fit(feat)
    val bucketed = model.transform(feat)
      .select(col("vec_id"), col("emb"), col("nrm"), col("bucket"))
    val centroids = model.clusterCenters.zipWithIndex.map { case (c, i) =>
      (i, c.toArray)
    }.toSeq
    val cents = s.createDataFrame(centroids).toDF("bucket", "cemb")
    // nprobe=4 nearest centroids per query (euclidean), centroids broadcast
    val q = bucketed.filter(col("vec_id") < 20)
      .select(col("vec_id").as("qid"), col("emb").as("qemb"),
        col("nrm").as("qnrm"))
    val qBuckets = q.crossJoin(broadcast(cents))
      .withColumn("d2", aggregate(
        zip_with(col("qemb"), col("cemb"), (x, y) => (x - y) * (x - y)),
        lit(0.0), (a, x) => a + x))
      .withColumn("rn", row_number().over(
        Window.partitionBy("qid").orderBy(col("d2").asc, col("bucket").asc)))
      .filter(col("rn") <= 4)
      .select("qid", "qemb", "qnrm", "bucket")
    val pairs = qBuckets.join(bucketed, Seq("bucket"))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("cid"),
        round(dot(col("qemb"), col("emb")) / (col("qnrm") * col("nrm")), 6)
          .as("cos_sim"))
    val w = Window.partitionBy("qid")
      .orderBy(col("cos_sim").desc, col("cid").asc)
    pairs.withColumn("rn", row_number().over(w)).filter(col("rn") <= 5)
      .select("qid", "cid", "rn", "cos_sim")
      .orderBy("qid", "rn")
  }

  // --- PQ machinery shared by qSimPq / qSimIvfPq ---
  private val PqSub = 16   // subspaces
  private val PqDim = 4    // dims per subspace
  private val PqCent = 16  // centroids per codebook (4-bit codes)

  /** vec_id + L2-normalized `unit` vector (L2 ordering == cosine
    * ordering on units) of every nonzero vector — a projection of the
    * resident [[corpus]]: codebook fits, encode, query selection and
    * re-rank all read it without renormalizing the table. */
  private[graft] def unitVectors(s: SparkSession, dir: String): DataFrame =
    corpus(s, dir).filter(col("nrm") > 0).select("vec_id", "unit")

  /** Bounded, deterministic training sample for quantizer fits: the
    * first 4096 vectors in vec_id order via TakeOrdered (distributed
    * top-k — no full sort, O(sample) driver bytes at any corpus size).
    * Training on a capped sample is how every production PQ/IVF trainer
    * works (FAISS trains codebooks on ~10⁵ vectors regardless of index
    * size); encode/probe stay fully distributed. */
  private[graft] def boundedSample(e: DataFrame, column: String)
      : Array[Array[Double]] =
    e.orderBy("vec_id").limit(4096).select(column)
      .collect().map(_.getSeq[Double](0).toArray)

  private def pqSample(e: DataFrame): Array[Array[Double]] =
    boundedSample(e, "unit")

  /** Seeded Lloyd's k-means over the driver-side sample — one codebook
    * per subspace. Replaces 16 concurrent MLlib fits: each of those was
    * a handful of tiny Spark jobs whose scheduling overhead dominated,
    * and 17 concurrent fits convoyed nondeterministically against the
    * 32-thread local scheduler (q_sim_pq measured anywhere from 5 to
    * 30 s across identical runs). The driver fit is ~10⁶ flops,
    * deterministic by construction (evenly-spaced init over the vec_id-
    * ordered sample, strict-< argmin ties), and leaves ZERO jobs on the
    * scheduler. (4-dim subspaces rather than 8: same bits, double the
    * codebook resolution — the 8-dim geometry measured only 0.79
    * recall@5 here.) */
  private def lloyd(pts: Array[Array[Double]], k: Int,
      iters: Int, seed: Long = 42L): Array[Array[Double]] = {
    val n = pts.length; val d = pts(0).length
    // seeded uniform-random distinct init (MLlib's "random" mode, which
    // the previous KMeans fits used): evenly-spaced init measured 0.54
    // IVF recall and k-means++ 0.51/0.87 (D² seeding over-picks outliers
    // on this data) — uniform seeding + Lloyd matches the MLlib-quality
    // cells. Deterministic: fixed seed over the vec_id-ordered sample.
    val rng = new scala.util.Random(seed)
    var cents = rng.shuffle((0 until n).toVector).take(k)
      .map(pts(_).clone()).toArray
    var it = 0
    while (it < iters) {
      val sums = Array.fill(k)(new Array[Double](d))
      val cnt = new Array[Long](k)
      var p = 0
      while (p < n) {
        val pt = pts(p); var best = 0; var bd = Double.MaxValue; var c = 0
        while (c < k) {
          var dist = 0.0; var j = 0
          while (j < d) { val t = cents(c)(j) - pt(j); dist += t * t; j += 1 }
          if (dist < bd) { bd = dist; best = c }
          c += 1
        }
        var j = 0
        while (j < d) { sums(best)(j) += pt(j); j += 1 }
        cnt(best) += 1; p += 1
      }
      // empty cluster (duplicate init points): keep the old center
      cents = Array.tabulate(k)(c =>
        if (cnt(c) > 0) sums(c).map(_ / cnt(c)) else cents(c))
      it += 1
    }
    cents
  }

  /** Best-of-R seeded restarts by within-cluster SSE — the driver-side
    * stand-in for k-means||'s init quality (a single random init lands
    * in a poor optimum for the 64-dim coarse fit: 0.56 recall vs the
    * 0.6 floor regardless of iterations). Deterministic: fixed seed
    * sequence, strict < keeps the earliest-seed winner on ties. */
  private[graft] def lloydBest(pts: Array[Array[Double]], k: Int,
      iters: Int, restarts: Int): Array[Array[Double]] =
    lloydBestSeeded(pts, k, iters, restarts, 42L)

  /** Deterministic driver-side parallel tabulate: one thread per index
    * (bounded small fan-out — restart counts / subspace counts), results
    * land in index order so downstream selection is order-independent of
    * scheduling. The fits here are independent pure functions of
    * (sample, seed); threading changes WHEN each runs, never what it
    * returns. Used to un-serialize the quantizer training that every
    * index-lifecycle key pays on the driver (round 21 — the serial loop
    * was ~0.5–1 s of single-core flops per train while 31 cores idled). */
  private[graft] def parTabulate[T](n: Int)(f: Int => T)(
      implicit ct: scala.reflect.ClassTag[T]): Array[T] = {
    val out = new Array[T](n)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val ts = (0 until n).map { i =>
      new Thread(() => {
        try out(i) = f(i)
        catch { case e: Throwable => errs.add(e): Unit }
      })
    }
    ts.foreach(_.start()); ts.foreach(_.join())
    if (!errs.isEmpty) throw errs.peek()
    out
  }

  private[graft] def lloydBestSeeded(pts: Array[Array[Double]], k: Int,
      iters: Int, restarts: Int, seedBase: Long): Array[Array[Double]] = {
    val d = pts(0).length
    // restarts run concurrently (independent seeded fits); the winner is
    // picked by a SEQUENTIAL scan in seed order with strict <, so ties
    // keep the earliest seed exactly as the serial loop did
    val fits = parTabulate(restarts) { r =>
      val cents = lloyd(pts, k, iters, seedBase + r)
      var sse = 0.0; var p = 0
      while (p < pts.length) {
        val pt = pts(p); var bd = Double.MaxValue; var c = 0
        while (c < k) {
          var dist = 0.0; var j = 0
          while (j < d) { val t = cents(c)(j) - pt(j); dist += t * t; j += 1 }
          if (dist < bd) bd = dist
          c += 1
        }
        sse += bd; p += 1
      }
      (cents, sse)
    }
    var best: Array[Array[Double]] = null; var bestSse = Double.MaxValue
    var r = 0
    while (r < restarts) {
      if (fits(r)._2 < bestSse) { bestSse = fits(r)._2; best = fits(r)._1 }
      r += 1
    }
    best
  }

  private def pqFit(sample: Array[Array[Double]]): Seq[Seq[Seq[Double]]] =
    parTabulate(PqSub) { i =>
      val sub = sample.map(v =>
        java.util.Arrays.copyOfRange(v, i * PqDim, (i + 1) * PqDim))
      lloyd(sub, PqCent, 10).map(_.toSeq).toSeq
    }.toSeq

  /** One 4-bit code per subspace (argmin centroid; strict < keeps the
    * FIRST minimum — deterministic under ties, same as array_position).
    * `cb` is [sub][cent][dim]. */
  private def pqCodes(cb: Array[Array[Array[Double]]], u: Array[Double])
      : Array[Int] =
    Array.tabulate(PqSub) { i =>
      val cents = cb(i)
      var best = 0; var bestD = Double.MaxValue; var c = 0
      while (c < PqCent) {
        var d = 0.0; var k = 0
        while (k < PqDim) {
          val t = cents(c)(k) - u(i * PqDim + k); d += t * t; k += 1
        }
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      best
    }

  /** ADC lookup table: lut[i*16 + c] = ||q_sub_i − cent_{i,c}||² — 256
    * doubles per query. */
  private def pqLut(cb: Array[Array[Array[Double]]], u: Array[Double])
      : Array[Double] = {
    val out = new Array[Double](PqSub * PqCent)
    var i = 0
    while (i < PqSub) {
      var c = 0
      while (c < PqCent) {
        var d = 0.0; var k = 0
        while (k < PqDim) {
          val t = cb(i)(c)(k) - u(i * PqDim + k); d += t * t; k += 1
        }
        out(i * PqCent + c) = d; c += 1
      }
      i += 1
    }
    out
  }

  /** The `n` coarse cells nearest `u`, ordered by (squared euclidean
    * distance, cell) — on units, euclidean order == cosine order. The
    * distance is the left fold Σ (u_j − c_j)² from 0.0, and doubles
    * compare as Spark sorts them (-0.0 == 0.0, NaN last). */
  private def probeCells(coarse: Array[Array[Double]], u: Array[Double],
      n: Int): Seq[Int] = {
    val d2 = coarse.map { c =>
      var d = 0.0; var j = 0
      while (j < u.length) { val t = u(j) - c(j); d += t * t; j += 1 }
      d
    }
    coarse.indices.sortWith { (a, b) =>
      val c = org.apache.spark.sql.catalyst.util.SQLOrderingUtil
        .compareDoubles(d2(a), d2(b))
      c < 0 || (c == 0 && a < b)
    }.take(n)
  }

  /** PQ train-side kernels (encode / query LUT) as UDFs closing over
    * the BROADCAST codebooks — deliberately not plan-literal
    * expressions: embedding the 16×16×4 centroid trees into the plan as
    * literals makes Janino compile ~17 s of generated source per
    * distinct codebook set (measured round 11, the whole first-run cost
    * of this key), and the higher-order forms evaluate interpreted
    * anyway, so nothing was actually codegen'd. Broadcasting trained
    * model state and closing a tight kernel over it is exactly how
    * MLlib's own transformers execute; the per-row kernel is ~1k flops.
    * These two run once per VECTOR (encode) or once per QUERY (LUT);
    * the per-CANDIDATE hot loop — ADC — is NOT a UDF: it takes only
    * column inputs (codes, lut), no codebook state, so it is the native
    * codegen'd `adc_distance` expression
    * (graft.functions.ArrayAdcDistance) — same left-to-right
    * accumulation, bit-identical distances, zero per-row conversion. */
  private def pqKernels(s: SparkSession, cb: Seq[Seq[Seq[Double]]]): (
      org.apache.spark.sql.expressions.UserDefinedFunction,
      org.apache.spark.sql.expressions.UserDefinedFunction) = {
    val bc = s.sparkContext.broadcast(books(cb))
    (udf((unit: Seq[Double]) => pqCodes(bc.value, unit.toArray)),
      udf((unit: Seq[Double]) => pqLut(bc.value, unit.toArray)))
  }

  private def books(cb: Seq[Seq[Seq[Double]]]): Array[Array[Array[Double]]] =
    cb.map(_.map(_.toArray).toArray).toArray

  /** Approximate candidate distance: table lookups + adds over the
    * stored codes (never a raw-vector read) — the codegen'd
    * `adc_distance` native expression. */
  private def adcDist(codes: Column, lut: Column): Column =
    call_function("adc_distance", codes, lut)

  /** ADC top-50 shortlist per query, re-ranked with TRUE cosine (dot of
    * unit vectors, codegen'd) — emitted scores are exact over the
    * PQ-recalled candidate set. `cand` must carry (qid, vec_id, adc);
    * `q` must map qid → qunit uniquely. The shortlist (|queries|·50
    * rows) is broadcast into a scan of `e`, so the vector table never
    * moves; output is one partition sorted by (qid, rn). */
  private def pqRerank(e: DataFrame, cand: DataFrame, q: DataFrame,
      k: Int): DataFrame = {
    val shortlist = rankPerQuery(cand, 50, col("adc").asc, col("vec_id").asc)
      .select("qid", "vec_id")
      .join(broadcast(q.select("qid", "qunit")), Seq("qid"))
    val rer = e.join(broadcast(shortlist), Seq("vec_id"))
      .select(col("qid"), col("vec_id").as("cid"),
        round(dot(col("qunit"), col("unit")), 6).as("cos_sim"))
    rankPerQuery(gathered(rer), k, col("cos_sim").desc, col("cid").asc)
      .select("qid", "cid", "rn", "cos_sim")
      .sortWithinPartitions("qid", "rn")
  }

  /** q_sim_pq — product-quantization ANN with asymmetric-distance
    * computation (round 11): the vector-STORAGE scale path beyond IVF's
    * candidate pruning. Vectors are L2-normalized, split into 16
    * subspaces × 4 dims, and each subspace gets a seeded KMeans-16
    * codebook: every vector compresses to 16 codes of 4 bits — 64
    * float32 dims → 8 B packed, a 32× shrink, which at 100 TB is the
    * difference between the index fitting in executor memory and every
    * probe being an IO scan of raw vectors. Queries build an ADC lookup
    * table (256 doubles, broadcast); candidate distance = 16 table
    * lookups + adds. The ADC top-50 shortlist is re-ranked with true
    * cosine, so emitted scores are exact over a PQ-recalled candidate
    * set. ApproxSpec asserts recall ≥ 0.9 vs the exact q_sim_topk; no
    * oracle (codebooks are trained model state, engine-specific by
    * design). Composes with qSimIvf at scale — [[qSimIvfPq]] is that
    * composition as its own key. */
  def qSimPq(s: SparkSession, dir: String): DataFrame = {
    graft.functions.NativeFunctions.register(s)
    val e = unitVectors(s, dir)
    val cb = pqFit(pqSample(e))
    val (encode, lutF) = pqKernels(s, cb)
    val enc = e.select(col("vec_id"), encode(col("unit")).as("codes"))
    val q = e.filter(col("vec_id") < 20)
      .select(col("vec_id").as("qid"), col("unit").as("qunit"),
        lutF(col("unit")).as("lut"))
    val adc = enc.join(broadcast(q), col("vec_id") =!= col("qid"))
      .withColumn("adc", adcDist(col("codes"), col("lut")))
    pqRerank(e, adc, q, k = 5)
  }

  /** q_sim_ivfpq — the composed IVF×PQ index (round 11): IVF prunes
    * CANDIDATES (each query probes its 4 nearest of 16 coarse cells —
    * ~4/16 of the corpus ever considered), PQ shrinks what remains
    * (candidates are scanned as 8-byte code rows via the ADC table,
    * never as raw vectors). This is the FAISS-style IVFADC layout every
    * production vector store runs at scale: at 100 TB the coarse
    * quantizer bounds the probe IO and the PQ codes bound the bytes per
    * probed row, multiplicatively. Shortlist re-ranked with true cosine
    * like [[qSimPq]]. ApproxSpec asserts recall vs exact ≥ the IVF
    * floor (the composition can only lose vs plain IVF through PQ's
    * shortlist, which re-rank recovers); no oracle (two trained
    * quantizers). */
  def qSimIvfPq(s: SparkSession, dir: String): DataFrame = {
    graft.functions.NativeFunctions.register(s)
    val e = unitVectors(s, dir)
    val (coarse, cb) = ivfPqTrain(e)
    val enc = ivfPqEncode(s, e, coarse, cb)
    ivfPqServe(s, e, coarse, cb, enc)
  }

  /** IVF-PQ training: both quantizers fit on the same bounded
    * driver-side sample (coarse: k=16 over the full 64 dims; PQ: 16
    * subspace codebooks) — zero Spark jobs spent on fitting. Returns
    * (coarse centroids, PQ codebooks): the complete trained state of
    * the index, ~20 KB regardless of corpus size. */
  private[graft] def ivfPqTrain(e: DataFrame)
      : (Array[Array[Double]], Seq[Seq[Seq[Double]]]) = {
    val sample = pqSample(e)
    (lloydBest(sample, 16, 20, restarts = 8), pqFit(sample))
  }

  /** IVF-PQ encode: assign every vector to its coarse cell and compress
    * it to 16 4-bit codes — the stored index rows (vec_id, bucket,
    * codes). The raw `unit` column is dropped here and only rejoined for
    * the 50-row-per-query re-rank. Fully distributed; the trained state
    * rides a broadcast. */
  private[graft] def ivfPqEncode(s: SparkSession, e: DataFrame,
      coarse: Array[Array[Double]], cb: Seq[Seq[Seq[Double]]]): DataFrame = {
    val bcCoarse = s.sparkContext.broadcast(coarse)
    val assign = udf((unit: Seq[Double]) => {
      val u = unit.toArray; val cs = bcCoarse.value
      var best = 0; var bd = Double.MaxValue; var c = 0
      while (c < cs.length) {
        var dist = 0.0; var j = 0
        while (j < u.length) { val t = cs(c)(j) - u(j); dist += t * t; j += 1 }
        if (dist < bd) { bd = dist; best = c }
        c += 1
      }
      best
    })
    val (encode, _) = pqKernels(s, cb)
    e.select(col("vec_id"), assign(col("unit")).as("bucket"),
      encode(col("unit")).as("codes"))
  }

  /** IVF-PQ serve: answer a query set (default: the standard one)
    * against an ALREADY-BUILT index — (coarse, cb) trained state plus
    * the coded rows `enc` (vec_id, bucket, codes) — without touching
    * the trainer.
    * The query set is bounded, so its vectors are collected once and
    * each query's nprobe=6 nearest coarse cells and ADC table are
    * computed on the driver in one pass over them (the quantizers are
    * ~20 KB there). The postings are scanned once against the broadcast
    * (qid, cell, lut) probes — only probed cells' 8-byte code rows pass
    * the join — and the top-50 shortlist is re-ranked with true cosine
    * against the base vector table `e`, the only point raw vectors are
    * read, ~50 rows per query. */
  private[graft] def ivfPqServe(s: SparkSession, e: DataFrame,
      coarse: Array[Array[Double]], cb: Seq[Seq[Seq[Double]]],
      enc: DataFrame, queries: Column = standardQueries): DataFrame = {
    val book = books(cb)
    val qs = e.filter(queries).select("vec_id", "unit").collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toSeq
    val probes = s.createDataFrame(qs.flatMap { case (qid, u) =>
      val lut = pqLut(book, u).toSeq
      probeCells(coarse, u, 6).map(b => (qid, b, lut))
    }).toDF("qid", "bucket", "lut")
    val q = s.createDataFrame(qs.map { case (qid, u) => (qid, u.toSeq) })
      .toDF("qid", "qunit")
    val adc = enc.join(broadcast(probes), Seq("bucket"))
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("adc", adcDist(col("codes"), col("lut")))
    pqRerank(e, adc, q, k = 5)
  }

  /** Write the trained IVF-PQ state (coarse centroids + PQ codebooks)
    * under `base` — the bounded ~20 KB half of the index artifact. */
  private[graft] def writeIvfPqState(s: SparkSession, base: String,
      coarse: Array[Array[Double]], cb: Seq[Seq[Seq[Double]]]): Unit = {
    import s.implicits._
    // two independent single-file writes — overlapped (guide §2.6): each
    // is one tiny task whose wall time is commit latency, not data
    parTabulate(2) {
      case 0 =>
        coarse.toSeq.zipWithIndex
          .map { case (c, i) => (i, c.toSeq) }.toDF("bucket", "cemb")
          .repartition(1)
          .write.mode("overwrite").parquet(s"$base/centroids")
      case 1 =>
        cb.zipWithIndex
          .flatMap { case (book, sub) =>
            book.zipWithIndex.map { case (cent, ci) => (sub, ci, cent) } }
          .toDF("sub", "cent", "vals")
          .repartition(1)
          .write.mode("overwrite").parquet(s"$base/codebooks")
    }: Unit
  }

  /** Read the trained IVF-PQ state back from `base` — bounded collect
    * (16 centroid rows + 16×16 codebook rows); doubles round-trip
    * parquet bit-exactly. */
  private[graft] def readIvfPqState(s: SparkSession, base: String)
      : (Array[Array[Double]], Seq[Seq[Seq[Double]]]) = {
    // two independent bounded collects — overlapped (guide §2.6); the
    // per-read job latency dominates the 16 + 256 rows moved
    val both = parTabulate[AnyRef](2) {
      case 0 =>
        s.read.parquet(s"$base/centroids")
          .orderBy("bucket").collect()
          .map(_.getSeq[Double](1).toArray)
      case 1 =>
        s.read.parquet(s"$base/codebooks")
          .orderBy("sub", "cent").collect()
    }
    val coarse = both(0).asInstanceOf[Array[Array[Double]]]
    val cbRows = both(1).asInstanceOf[Array[org.apache.spark.sql.Row]]
    val cb: Seq[Seq[Seq[Double]]] = cbRows
      .groupBy(_.getInt(0)).toSeq.sortBy(_._1)
      .map { case (_, rows) => rows.map(_.getSeq[Double](2)).toSeq }
    (coarse, cb)
  }

  /** q_sim_index_persist — the PERSISTED ANN index (round 13): closes
    * the build-once/serve-forever loop for the vector store the way
    * q_agg_sketch_persist does for sketches and q_dedup_manifest_update
    * for dedup manifests. The [[qSimIvfPq]] index is built once —
    * trained state + coded rows — and WRITTEN to parquet as three
    * tables: coarse centroids (16 rows), PQ codebooks (16×16 rows), and
    * the per-vector (bucket, codes) postings (8 B of code per vector —
    * the 32× compressed form that makes a 100 TB corpus's index fit a
    * cluster's memory). The standard query set is then answered entirely
    * FROM THE READ-BACK artifact: centroids and codebooks (a bounded
    * ~20 KB, collected once per build) plus the distributed coded-row
    * table — ZERO refit, no re-encode; raw vectors are touched only by
    * the 50-row-per-query re-rank against the base table, exactly like
    * the in-memory index. At 100 TB this is every production vector
    * store's lifecycle: index build is a scheduled pipeline writing
    * parquet; query serving reads the artifact and never sees the
    * trainer. No oracle (two trained quantizers — engine-specific by
    * design); ApproxSpec pins the from-disk answers row-for-row equal to
    * the in-memory [[qSimIvfPq]] AND recall ≥ the q_sim_ivfpq floor vs
    * exact. Doubles round-trip parquet bit-exactly, so equality is
    * structural, not approximate. */
  def qSimIndexPersist(s: SparkSession, dir: String): DataFrame =
    simIndexPersist(s, dir, standardQueries)

  private[graft] def simIndexPersist(s: SparkSession, dir: String,
      queries: Column): DataFrame = {
    graft.functions.NativeFunctions.register(s)
    val e = unitVectors(s, dir)
    // build phase: train + encode + write the artifact (the one-time
    // index-build pipeline), staged and committed by buildOnce — keyed
    // by the embeddings fingerprint, so repeated invocations serve the
    // existing artifact instead of rebuilding. At scale the build is a
    // separate scheduled job; what a query workload repeatedly pays is
    // SERVING. Training is deterministic for a fixed corpus, so reuse
    // cannot diverge from a fresh build (ApproxSpec pins this).
    val fp = graft.Scratch.fingerprint(dir, "embeddings")
    val base = rebuildInto(s, e, graft.Scratch.dir("sim",
      s"ivfpq_${dir.replaceAll("[^a-zA-Z0-9]", "_")}_$fp"))
    // serve phase: reads ONLY the committed artifact, through the
    // serving state kept resident per build of it
    val (coarse, cb, postings) = graft.Resident.get(s, "ivfpq", dir,
        s"$fp/${graft.Scratch.buildId(base)}") { fill =>
      val (coarse, cb) = readIvfPqState(s, base)
      (coarse, cb, fill.persist(Tables.spread(
        s.read.parquet(s"$base/coded").select("vec_id", "bucket", "codes")),
        "ivfpq postings"))
    }
    ivfPqServe(s, e, coarse, cb, postings, queries)
  }

  /** Scratch base of the incremental-index artifact — shared address for
    * build ([[ensureUpdateArtifact]]), the no-ingest monitor read
    * ([[qIndexDrift]]) and the rebuild ([[qIndexRebuild]]). */
  private[graft] def updateArtifactBase(dir: String): String =
    graft.Scratch.dir("sim",
      s"ivfpq_upd_${dir.replaceAll("[^a-zA-Z0-9]", "_")}_" +
        graft.Scratch.fingerprint(dir, "embeddings"))

  /** The incremental-index artifact shared by [[qSimIndexUpdate]] and
    * [[qIndexDrift]]: day-1 trained state + day-1 postings written once
    * (fingerprint-keyed), today's arrivals encoded under the FROZEN
    * read-back state and idempotently overwritten as the day-2
    * partition. Returns (artifact base, read-back coarse centroids,
    * read-back codebooks). */
  private[graft] def ensureUpdateArtifact(s: SparkSession, dir: String)
      : (String, Array[Array[Double]], Seq[Seq[Seq[Double]]]) = {
    val e = unitVectors(s, dir)
    val day1 = e.filter(col("vec_id") % 4 =!= 3)
    val day2 = e.filter(col("vec_id") % 4 === 3)
    // day-1 build: quantizers see ONLY the prior corpus
    val base = rebuildInto(s, day1, updateArtifactBase(dir), "coded/day=1")
    // day-2 ingest: encode under the FROZEN artifact state and append
    // as the day-2 partition (overwrite = idempotent re-ingest)
    val (coarse2, cb2) = readIvfPqState(s, base)
    ivfPqEncode(s, day2, coarse2, cb2)
      .write.mode("overwrite").parquet(s"$base/coded/day=2")
    (base, coarse2, cb2)
  }

  /** q_sim_index_update — INCREMENTAL index append with frozen
    * quantizers (round 13, the update half of [[qSimIndexPersist]]'s
    * lifecycle): the index is trained and built on the PRIOR corpus
    * only (vec_id % 4 ≠ 3 — the same day-1/day-2 convention as
    * q_dedup_incremental), then today's arrivals are encoded under the
    * FROZEN read-back quantizers — assign to the nearest existing
    * coarse cell, compress against the existing codebooks, NO refit —
    * and appended to the postings as their own parquet partition
    * (idempotent: re-running the update overwrites the same
    * day-partition, the manifest-update discipline). Queries then probe
    * the UPDATED index. This is FAISS's add()-after-train() and what
    * every production vector store does between periodic rebuilds: at
    * 100 TB retraining per ingest is impossible — quantizers are
    * refreshed by a scheduled rebuild while ingest appends code rows,
    * and drift between the frozen cells and new data is a monitored
    * quantity, not a correctness bug. ApproxSpec pins the provable
    * equivalence: serving the updated index == serving a full-corpus
    * encode under the SAME day-1-trained state, row-for-row (append
    * changes WHERE code rows live, never their values), plus the recall
    * floor vs exact. No oracle (trained quantizers). */
  def qSimIndexUpdate(s: SparkSession, dir: String): DataFrame = {
    graft.functions.NativeFunctions.register(s)
    val e = unitVectors(s, dir)
    val (base, coarse2, cb2) = ensureUpdateArtifact(s, dir)
    // serve against the UPDATED postings (both day partitions)
    val enc = s.read.parquet(s"$base/coded")
      .select("vec_id", "bucket", "codes")
    ivfPqServe(s, e, coarse2, cb2, enc)
  }

  /** Drift metric core for [[qIndexDrift]], parameterized over the
    * postings so ApproxSpec can feed an injected shifted-distribution
    * day-2 and assert the metric MOVES. Per coarse cell present in the
    * postings: each day's assignment count and corpus share, the
    * absolute share shift, and each day's mean squared PQ quantization
    * error Σ_sub ‖v_sub − codebook[sub][code_sub]‖². The error kernel
    * reads ONLY the 16 assigned centroids per row (round-15, VERDICT
    * r14 wart 3): the serving LUT computes all 256 centroid distances
    * per row, a 16× constant-factor the monitor's one per-row loop
    * doesn't need — per-subspace accumulation order is identical to the
    * LUT path, so the emitted mqe values are bit-equal to the old
    * kernel's. A cell with no rows for a day carries NULL for that
    * day's mqe. */
  private[graft] def driftMetrics(s: SparkSession,
      cb: Seq[Seq[Seq[Double]]], postings: DataFrame,
      vectors: DataFrame): DataFrame = {
    val bc = s.sparkContext.broadcast(
      cb.map(_.map(_.toArray).toArray).toArray) // [sub][cent][dim]
    val (nSub, dSub) = (PqSub, PqDim)
    val recErr = udf((unit: Seq[Double], codes: Seq[Int]) => {
      val u = unit.toArray
      var acc = 0.0; var i = 0
      while (i < nSub) {
        val cent = bc.value(i)(codes(i))
        var d = 0.0; var k = 0
        while (k < dSub) {
          val t = cent(k) - u(i * dSub + k); d += t * t; k += 1
        }
        acc += d; i += 1
      }
      acc
    })
    def f6(c: Column) = floor(c * 1e6) / 1e6
    val withErr = postings.join(vectors, Seq("vec_id"))
      .withColumn("qerr", recErr(col("unit"), col("codes")))
    val perCell = withErr.groupBy("bucket").agg(
      sum(when(col("day") === 1, 1L).otherwise(0L)).as("n_day1"),
      sum(when(col("day") === 2, 1L).otherwise(0L)).as("n_day2"),
      sum(when(col("day") === 1, col("qerr"))).as("e1"),
      sum(when(col("day") === 2, col("qerr"))).as("e2"))
    val tot = perCell.agg(sum("n_day1").as("t1"), sum("n_day2").as("t2"))
    perCell.crossJoin(broadcast(tot))
      .select(col("bucket"), col("n_day1"), col("n_day2"),
        f6(col("n_day1") / col("t1")).as("share_day1"),
        f6(col("n_day2") / col("t2")).as("share_day2"),
        f6(abs(col("n_day2") / col("t2") - col("n_day1") / col("t1")))
          .as("share_shift"),
        f6(col("e1") / col("n_day1")).as("mqe_day1"),
        f6(col("e2") / col("n_day2")).as("mqe_day2"))
      .orderBy("bucket")
  }

  /** Read-path guard for the incremental artifact: build it (day-1
    * train+persist + first day-2 ingest) ONLY if no ingest has landed
    * yet; an existing artifact is served as-is, with no re-encode.
    * Used by the monitor and the rebuild, which only READ the old
    * index — re-ingesting is q_sim_index_update's semantics. */
  private[graft] def ensureUpdateArtifactOnce(s: SparkSession,
      dir: String): String = {
    val base = updateArtifactBase(dir)
    val day2 = new java.io.File(base, "coded/day=2")
    val haveIngest = day2.isDirectory &&
      Option(day2.list()).exists(_.exists(_.endsWith(".parquet")))
    if (!haveIngest) ensureUpdateArtifact(s, dir): Unit
    base
  }

  /** q_index_drift — frozen-quantizer drift monitor (round 14): the
    * rebuild-trigger metric [[qSimIndexUpdate]]'s contract promises.
    * Between scheduled rebuilds a production vector store ingests under
    * FROZEN quantizers, so it must measure how far today's data has
    * drifted from the distribution the quantizers were trained on —
    * per coarse cell, the day-1 vs day-2 assignment-share shift (cells
    * gaining or losing traffic ⇒ the coarse partition no longer matches
    * the data) and each day's mean squared PQ quantization error (the
    * delta compressing WORSE than the training corpus ⇒ the codebooks
    * no longer span it). When either crosses the operator's threshold,
    * the scheduled rebuild runs; until then ingest keeps appending.
    *
    * Scale shape: one scan of the persisted postings joined to the
    * vector table on vec_id (at scale both co-partitioned by vec_id;
    * the join is the monitor's only shuffle), the trained state rides
    * the same bounded broadcast as serving, zero refit, and the output
    * is O(cells). No oracle (two trained quantizers — engine-specific
    * by design); ApproxSpec pins determinism and that an injected
    * shifted-distribution day-2 MOVES both metric families.
    *
    * The monitor only READS: if the incremental artifact (day-1 build +
    * day-2 ingest) already exists it is served as-is — re-encoding
    * day-2 is ingest's job and is timed under q_sim_index_update, not
    * here (VERDICT r14 wart 2). The build runs once only when the
    * monitor is invoked before any ingest has happened. */
  def qIndexDrift(s: SparkSession, dir: String): DataFrame = {
    graft.functions.NativeFunctions.register(s)
    val base = ensureUpdateArtifactOnce(s, dir)
    val (_, cb) = readIvfPqState(s, base)
    val postings = s.read.parquet(s"$base/coded")
    driftMetrics(s, cb, postings,
      unitVectors(s, dir).select("vec_id", "unit"))
  }

  /** Index build core shared by every IVF-PQ artifact — the persisted
    * index, the incremental artifact's day-1 build, [[qIndexRebuild]],
    * the rollback store's versions and ApproxSpec's drifted-corpus pin:
    * train BOTH quantizers on `corpus`, encode every vector under the
    * new state into `serving/coded`, and land the whole artifact at
    * `serving` via one ATOMIC directory rename from a staging build
    * ([[graft.Scratch.buildOnce]]) — the q_delete_execute swap
    * discipline lifted to whole-artifact granularity: a reader sees the
    * old complete artifact or the new complete artifact, never a
    * half-written one. Idempotent per serving path (done-marker). */
  private[graft] def rebuildInto(s: SparkSession, corpus: DataFrame,
      serving: String, coded: String = "coded"): String =
    graft.Scratch.buildOnce(serving) { staging =>
      val (coarse, cb) = ivfPqTrain(corpus)
      // the three artifact writes (centroids, codebooks, coded rows) are
      // independent functions of the trained state — overlap them on
      // driver threads so the distributed encode back-fills the two tiny
      // single-file writes' commit latency (guide §2.6; round 22 —
      // serially they were 0.35 s + 0.25 s of the key's ~2 s). Contents
      // and paths are unchanged; the swap is still the buildOnce commit
      // AFTER all three land.
      parTabulate(2) {
        case 0 => writeIvfPqState(s, staging, coarse, cb)
        case 1 => ivfPqEncode(s, corpus, coarse, cb)
          .write.mode("overwrite").parquet(s"$staging/$coded")
      }: Unit
    }

  // PER-DIR invocation counts: a JVM-global counter with per-dir paths
  // would let interleaved rebuilds over two data dirs prune a dir's
  // immediately-previous artifact (r16 review finding)
  private val rebuildInvocations = new java.util.concurrent.ConcurrentHashMap[
    String, java.util.concurrent.atomic.AtomicInteger]

  /** Serving dir of the most recent [[qIndexRebuild]] — each invocation
    * rebuilds into a fresh versioned dir (see below), so specs that need
    * the landed artifact read this instead of a fixed path. */
  private[graft] val lastRebuilt =
    new java.util.concurrent.atomic.AtomicReference[String]()

  /** q_index_rebuild — the scheduled rebuild [[qIndexDrift]]'s
    * threshold triggers (round 15): the last step of the index
    * lifecycle train → persist → append → monitor → REBUILD. The
    * incremental artifact has been ingesting under FROZEN day-1
    * quantizers; once the monitor's share-shift / quantization-error
    * metrics cross threshold, this key retrains both quantizers on the
    * FULL current corpus (day-1 + day-2), re-encodes all postings
    * under the new state, and swaps the rebuilt artifact in atomically
    * ([[rebuildInto]]) — the OLD artifact dir is never touched, so
    * ingest and monitoring against it stay valid until the swap lands
    * (ApproxSpec checksums it across the rebuild). The standard query
    * set is then served from the rebuilt artifact read back from disk,
    * the persist-key discipline.
    *
    * Scale shape: retrain is the bounded driver-side sample fit
    * ([[ivfPqTrain]] — FAISS trains on ~10⁵ vectors regardless of
    * index size), the re-encode is ONE distributed pass with broadcast
    * state (the same cost ingest pays per day, amortized here over the
    * whole corpus once per rebuild cycle), and the swap is O(1)
    * metadata. No oracle (trained quantizers — engine-specific by
    * design); ApproxSpec pins post-rebuild recall on an injected
    * drifted corpus ≥ the frozen-state serve's recall, and
    * old-artifact immutability. */
  def qIndexRebuild(s: SparkSession, dir: String): DataFrame = {
    graft.functions.NativeFunctions.register(s)
    // the index being replaced must exist (read-only guard: no
    // re-ingest; warmed untimed in Bench with the other artifacts)
    ensureUpdateArtifactOnce(s, dir): Unit
    val e = unitVectors(s, dir)
    // a fresh serving dir per invocation: the rebuild (retrain +
    // re-encode + swap) IS this key's semantics, so re-runs must pay it
    // again instead of serving a done-marker (VERDICT r15 item 2 /
    // ADVICE r15 — restores min-of-reruns protection). Versioned dirs
    // are also what retention/rollback operate over (q_index_rollback).
    val inv = rebuildInvocations.computeIfAbsent(dir,
      _ => new java.util.concurrent.atomic.AtomicInteger).incrementAndGet()
    val serving = rebuildInto(s, e,
      updateArtifactBase(dir) + s"_rebuilt_v$inv")
    lastRebuilt.set(serving)
    // bound scratch growth: each invocation leaves a full re-encoded
    // artifact, so prune two versions back (v(inv-1) stays — a spec or
    // an in-flight reader may still hold plans over the PREVIOUS
    // artifact; nothing can reference older ones)
    if (inv > 2) {
      graft.Scratch.deleteRec(new java.io.File(
        updateArtifactBase(dir) + s"_rebuilt_v${inv - 2}"))
    }
    val (coarse, cb) = readIvfPqState(s, serving)
    ivfPqServe(s, e, coarse, cb, s.read.parquet(s"$serving/coded"))
  }

  /** Frozen ops thresholds for [[qIndexPolicy]]: rebuild when any
    * coarse cell's day-over-day assignment share shifted by more than
    * 0.2, or the ingested data quantizes ≥ 2× worse than the training
    * corpus. Calibrated against the harness corpus (ApproxSpec): clean
    * reads ~0.07 / ~1.21 (the ratio is above 1 even clean — day-2 is
    * out-of-sample for the day-1-trained codebooks), the injected
    * model-swap drift reads ~0.43 / ~5.8; the clean side clears both
    * thresholds with ≥ 1.5× margin and the drifted side crosses with
    * ≥ 2× margin. */
  private[graft] val PolicyShiftThresh = 0.2
  private[graft] val PolicyMqeRatioThresh = 2.0

  /** Decision core for [[qIndexPolicy]], parameterized over the drift
    * metrics so ApproxSpec can feed the injected-drift corpus and pin
    * rebuild=1 while the clean corpus pins rebuild=0. Reduces the
    * O(cells) monitor output to ONE row: the two trigger statistics
    * (max per-cell share shift; count-weighted day-2/day-1 mean
    * quantization error ratio), the frozen thresholds, and the
    * decision. Cells with no day-1 (or day-2) rows carry NULL mqe and
    * zero count, so they drop out of the weighted means by
    * construction. */
  private[graft] def indexPolicy(metrics: DataFrame): DataFrame = {
    def f6(c: Column) = floor(c * 1e6) / 1e6
    metrics.agg(
        max("share_shift").as("ms"),
        (sum(col("mqe_day1") * col("n_day1")) / sum(col("n_day1")))
          .as("m1"),
        (sum(col("mqe_day2") * col("n_day2")) / sum(col("n_day2")))
          .as("m2"))
      .select(
        f6(col("ms")).as("max_share_shift"),
        f6(col("m1")).as("mqe_day1"),
        f6(col("m2")).as("mqe_day2"),
        f6(col("m2") / col("m1")).as("mqe_ratio"),
        lit(PolicyShiftThresh).as("shift_thresh"),
        lit(PolicyMqeRatioThresh).as("mqe_ratio_thresh"),
        // degenerate monitor output (no day-1 or day-2 weighted mass →
        // NULL means) must fail LOUDLY, not emit a NULL decision a
        // scheduler would silently skip (ADVICE r16)
        when(col("ms").isNull || col("m1").isNull || col("m2").isNull,
          raise_error(lit("indexPolicy: degenerate drift metrics — no " +
            "day-1/day-2 posting mass to decide on")).cast("int"))
          .otherwise((col("ms") > PolicyShiftThresh ||
            col("m2") / col("m1") > PolicyMqeRatioThresh).cast("int"))
          .as("rebuild"))
  }

  /** q_index_policy — the drift→rebuild decision (round 16, VERDICT
    * r15 item 5): closes the last HUMAN step in the index lifecycle.
    * [[qIndexDrift]] emits per-cell metrics; an operator used to read
    * them and decide; this key applies the frozen thresholds and emits
    * the one-row rebuild/no-rebuild decision a scheduler consumes —
    * monitor → POLICY → rebuild, fully mechanical.
    *
    * Scale shape: input is the monitor's O(cells) output, the
    * reduction is a single global aggregate over it, and the decision
    * row is O(1) — by far the cheapest stage of the lifecycle, which
    * is the point: the expensive rebuild runs only when this row says
    * so. Deterministic given the artifact (read-only over the same
    * postings the monitor reads). No oracle (trained quantizers
    * upstream); ApproxSpec pins the decision on both the clean corpus
    * (rebuild=0) and the injected-drift corpus (rebuild=1), plus
    * determinism. */
  def qIndexPolicy(s: SparkSession, dir: String): DataFrame = {
    graft.functions.NativeFunctions.register(s)
    indexPolicy(qIndexDrift(s, dir))
  }

  private val rollbackInvocation =
    new java.util.concurrent.atomic.AtomicInteger

  /** Versions retained by the [[qIndexRollback]] store. */
  private[graft] val RetainVersions = 3

  /** Atomic CURRENT-pointer write: tmp file + rename, the same
    * crash-consistency discipline as the artifact swap — a reader of
    * the pointer sees the old complete value or the new one, never a
    * torn write. */
  private def setCurrent(root: String, version: String): Unit = {
    val tmp = java.nio.file.Paths.get(root, s".CURRENT.tmp")
    java.nio.file.Files.write(tmp,
      version.getBytes(java.nio.charset.StandardCharsets.UTF_8)): Unit
    java.nio.file.Files.move(tmp,
      java.nio.file.Paths.get(root, "CURRENT"),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING): Unit
  }

  private[graft] def readCurrent(root: String): String =
    new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(root, "CURRENT")),
      java.nio.charset.StandardCharsets.UTF_8).trim

  /** Sorted version numbers present in a store root. */
  private[graft] def listVersions(root: String): Seq[Int] =
    Option(new java.io.File(root).list()).toSeq.flatten
      .filter(_.matches("v\\d+")).map(_.drop(1).toInt).sorted

  /** Publish a new version into the store: rebuild into the next v<n>
    * dir (staging + atomic rename via [[rebuildInto]]), flip CURRENT
    * to it, then prune to the newest [[RetainVersions]] — the
    * retain-last-N window that makes a bad rebuild reversible without
    * unbounded storage. Returns the new version's path. */
  private[graft] def publishVersion(s: SparkSession, corpus: DataFrame,
      root: String): String = {
    new java.io.File(root).mkdirs()
    val n = listVersions(root).lastOption.getOrElse(0) + 1
    val path = rebuildInto(s, corpus, s"$root/v$n")
    setCurrent(root, s"v$n")
    listVersions(root).dropRight(RetainVersions).foreach { old =>
      graft.Scratch.deleteRec(new java.io.File(root, s"v$old"))
    }
    path
  }

  /** Roll CURRENT back to the newest retained version below it.
    * Returns the now-serving version's path. The bad version's dir is
    * left in place (it stays within the retention window and is
    * evidence for the incident review); only the pointer moves —
    * rollback is O(1) metadata, exactly like the table-format
    * time-travel it stands in for. */
  private[graft] def rollbackVersion(root: String): String = {
    val cur = readCurrent(root).drop(1).toInt
    val prev = listVersions(root).filter(_ < cur).lastOption.getOrElse(
      sys.error(s"no version below v$cur to roll back to"))
    setCurrent(root, s"v$prev")
    s"$root/v$prev"
  }

  /** Version-store root of the most recent [[qIndexRollback]] (the
    * store is per-invocation, like the rebuild dirs). */
  private[graft] val lastStore =
    new java.util.concurrent.atomic.AtomicReference[String]()

  /** q_index_rollback — version retention + rollback over the rebuild
    * discipline (round 16, VERDICT r15 item 6): the atomic swap left
    * no way back once a bad rebuild landed. The store keeps the last
    * [[RetainVersions]] rebuilt artifacts plus an atomically-written
    * CURRENT pointer; publishing is rebuild + pointer flip + prune,
    * rollback is a pointer flip to the previous retained version.
    * This key replays the incident the mechanism exists for: publish
    * the good rebuild (v1, full corpus), publish a BAD rebuild (v2 —
    * trained and encoded on a quarter of the corpus, the classic
    * partial-input pipeline failure), detect it, roll back, and serve
    * the standard query set from CURRENT — which must be v1 again.
    *
    * Scale shape: versions are whole immutable artifacts (the same
    * staging + atomic-rename build as q_index_rebuild), the pointer
    * is O(1) metadata, pruning unlinks whole dirs; at 100 TB this is
    * a table format's snapshot retention + rollback-to-version over
    * immutable files. Deterministic (seeded trainers, fixed version
    * sequence). No oracle (trained quantizers); ApproxSpec pins that
    * rollback serves the prior artifact row-identically, that the bad
    * version really served different rows, and that the retention
    * window prunes. */
  def qIndexRollback(s: SparkSession, dir: String): DataFrame = {
    graft.functions.NativeFunctions.register(s)
    val e = unitVectors(s, dir)
    val root = updateArtifactBase(dir) +
      s"_store_i${rollbackInvocation.incrementAndGet()}"
    lastStore.set(root)
    new java.io.File(root).mkdirs()
    // v1 (good, full corpus) and v2 (bad, quarter corpus) are
    // INDEPENDENT immutable artifacts — each its own staging dir +
    // atomic rename — so the two rebuild pipelines run as concurrent
    // driver threads (round 21; serially this key paid two full
    // train+encode+write passes back to back). The CURRENT pointer
    // walks the same publish(v1)→publish(v2)→rollback sequence only
    // after both artifacts are complete, so no reader can ever observe
    // a pointer to a half-built version — strictly stronger than the
    // sequential form. End state is identical: {v1, v2} retained,
    // CURRENT=v1, serving = the good artifact.
    parTabulate(2) { i =>
      if (i == 0) rebuildInto(s, e, s"$root/v1")
      else rebuildInto(s, e.filter(col("vec_id") % 4 === 3), s"$root/v2")
    }
    setCurrent(root, "v2")                            // the bad publish
    val serving = rollbackVersion(root)               // back to v1
    val (coarse, cb) = readIvfPqState(s, serving)
    ivfPqServe(s, e, coarse, cb, s.read.parquet(s"$serving/coded"))
  }

  /** q_knn_classify — majority label among the 5 cosine-nearest neighbors
    * (tie → smallest label). Stacks on the exact top-k operator, whose
    * rows carry the neighbor's label from the resident corpus; the vote
    * runs inside its single partition. */
  def qKnnClassify(s: SparkSession, dir: String): DataFrame =
    knnClassify(s, dir, standardQueries)

  private[graft] def knnClassify(s: SparkSession, dir: String,
      queries: Column): DataFrame = {
    val votes = cosineTopK(s, dir, queries, k = 5)
      .groupBy("qid", "label").agg(count(lit(1)).as("votes"))
    rankPerQuery(votes, 1, col("votes").desc, col("label").asc)
      .select(col("qid"), col("label").as("pred_label"), col("votes"))
      .sortWithinPartitions("qid")
  }

  /** q_embed_stats — per-label vector-column statistics: mean L2 norm and
    * dimension-wise means of the first 4 dims. */
  def qEmbedStats(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir)
      .select(col("label"), asDouble(col("embedding")).as("emb"))
      .select(col("label"), l2norm(col("emb")).as("nrm"),
        element_at(col("emb"), 1).as("d1"),
        element_at(col("emb"), 2).as("d2"),
        element_at(col("emb"), 3).as("d3"),
        element_at(col("emb"), 4).as("d4"))
      .groupBy("label")
      .agg(count(lit(1)).as("n_vecs"),
        round(avg("nrm"), 6).as("avg_norm"),
        round(avg("d1"), 6).as("avg_d1"),
        round(avg("d2"), 6).as("avg_d2"),
        round(avg("d3"), 6).as("avg_d3"),
        round(avg("d4"), 6).as("avg_d4"))
      .orderBy("label")

  /** q_embed_outliers — embedding-hygiene scrub (round 7): flag vectors
    * whose L2 norm is a corpus-level outlier (|z| > 2) or degenerate
    * (zero norm) — the sanity filter an ANN/dedup pipeline runs before
    * indexing, since a handful of broken embeddings (failed encoder
    * batches, zero pads) poison every cosine neighborhood they touch.
    * Scale shape: per-row norm (codegen-friendly projection), a 1-row
    * moments aggregate broadcast back, and a scan-side filter — the
    * q_anomaly_zscore pattern on the vector table; nothing shuffles but
    * the 1-row stats. Norm and z are irrational (sqrt), so the 1e-6
    * floor is ulp-safe (SURVEY §7.4.9). */
  def qEmbedOutliers(s: SparkSession, dir: String): DataFrame = {
    val v = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("label"),
        l2norm(asDouble(col("embedding"))).as("nrm"))
    val st = v.agg(avg("nrm").as("mu"), stddev_samp("nrm").as("sd"))
    v.crossJoin(broadcast(st))
      .withColumn("z", (col("nrm") - col("mu")) / col("sd"))
      .filter(abs(col("z")) > 2.0 || col("nrm") === 0.0)
      .select(col("vec_id"), col("label"),
        (floor(col("nrm") * lit(1e6)) / lit(1e6)).as("nrm"),
        (floor(col("z") * lit(1e6)) / lit(1e6)).as("z"))
      .orderBy("vec_id")
  }

  val queries: Map[String, Q] = Map(
    "q_embed_outliers" -> (qEmbedOutliers _),
    "q_sim_topk" -> (qSimTopk _),
    "q_sim_lsh" -> (qSimLsh _),
    "q_sim_ivf" -> (qSimIvf _),
    "q_sim_pq" -> (qSimPq _),
    "q_sim_ivfpq" -> (qSimIvfPq _),
    "q_sim_index_persist" -> (qSimIndexPersist _),
    "q_sim_index_update" -> (qSimIndexUpdate _),
    "q_index_drift" -> (qIndexDrift _),
    "q_index_rebuild" -> (qIndexRebuild _),
    "q_index_policy" -> (qIndexPolicy _),
    "q_index_rollback" -> (qIndexRollback _),
    "q_knn_classify" -> (qKnnClassify _),
    "q_embed_stats" -> (qEmbedStats _))

  val oracle: Map[String, String] = Map(
    "q_embed_outliers" ->
      """WITH v AS (
        |  SELECT vec_id, label,
        |    sqrt(list_sum(list_transform(embedding::DOUBLE[],
        |      x -> x * x))) AS nrm
        |  FROM embeddings),
        |st AS (SELECT AVG(nrm) AS mu, stddev_samp(nrm) AS sd FROM v)
        |SELECT vec_id, label,
        |  FLOOR(nrm * 1e6) / 1e6 AS nrm,
        |  FLOOR((nrm - mu) / sd * 1e6) / 1e6 AS z
        |FROM v, st
        |WHERE abs((nrm - mu) / sd) > 2.0 OR nrm = 0.0
        |ORDER BY vec_id""".stripMargin,
    "q_sim_topk" ->
      """WITH e AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
        |q AS (SELECT * FROM e WHERE vec_id < 20),
        |pairs AS (
        |  SELECT q.vec_id AS qid, c.vec_id AS cid,
        |    ROUND(list_cosine_similarity(q.emb, c.emb), 6) AS cos_sim
        |  FROM q JOIN e c ON q.vec_id <> c.vec_id)
        |SELECT qid, cid,
        |  row_number() OVER (PARTITION BY qid
        |    ORDER BY cos_sim DESC, cid ASC) AS rn,
        |  cos_sim
        |FROM pairs
        |QUALIFY rn <= 5
        |ORDER BY qid, rn""".stripMargin,
    "q_knn_classify" ->
      """WITH e AS (
        |  SELECT vec_id, label, embedding::DOUBLE[] AS emb FROM embeddings),
        |q AS (SELECT * FROM e WHERE vec_id < 20),
        |pairs AS (
        |  SELECT q.vec_id AS qid, c.vec_id AS cid, c.label,
        |    ROUND(list_cosine_similarity(q.emb, c.emb), 6) AS cos_sim
        |  FROM q JOIN e c ON q.vec_id <> c.vec_id),
        |top5 AS (
        |  SELECT qid, cid, label,
        |    row_number() OVER (PARTITION BY qid
        |      ORDER BY cos_sim DESC, cid ASC) AS rn
        |  FROM pairs QUALIFY rn <= 5),
        |votes AS (
        |  SELECT qid, label, COUNT(*) AS votes
        |  FROM top5 GROUP BY qid, label)
        |SELECT qid, label AS pred_label, votes
        |FROM (SELECT *, row_number() OVER (PARTITION BY qid
        |        ORDER BY votes DESC, label ASC) AS rn FROM votes)
        |WHERE rn = 1
        |ORDER BY qid""".stripMargin,
    "q_embed_stats" ->
      """WITH e AS (
        |  SELECT label, embedding::DOUBLE[] AS emb FROM embeddings),
        |per_vec AS (
        |  SELECT label,
        |    sqrt(list_sum(list_transform(emb, x -> x * x))) AS nrm,
        |    emb[1] AS d1, emb[2] AS d2, emb[3] AS d3, emb[4] AS d4
        |  FROM e)
        |SELECT label, COUNT(*) AS n_vecs,
        |  ROUND(AVG(nrm), 6) AS avg_norm,
        |  ROUND(AVG(d1), 6) AS avg_d1,
        |  ROUND(AVG(d2), 6) AS avg_d2,
        |  ROUND(AVG(d3), 6) AS avg_d3,
        |  ROUND(AVG(d4), 6) AS avg_d4
        |FROM per_vec
        |GROUP BY label
        |ORDER BY label""".stripMargin)
}
