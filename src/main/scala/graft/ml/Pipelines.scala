package graft.ml

import org.apache.spark.ml.Pipeline
import org.apache.spark.ml.classification.{LogisticRegression, NaiveBayes}
import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.evaluation.MulticlassClassificationEvaluator
import org.apache.spark.ml.feature.{HashingTF, IDF, RegexTokenizer, StopWordsRemover, StringIndexer}
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.ml.tuning.{CrossValidator, ParamGridBuilder}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Q, Tables}

/** ML pipelines (SURVEY §2.9 ✗-ml keys) — the reference's primary surface:
  * text feature engineering + MLlib classifiers, natively in Scala.
  *
  * No DuckDB oracle (model fits aren't SQL-reproducible); correctness =
  * seeded determinism + accuracy floors asserted in the scalatest suite.
  * Every randomized stage pins seed=42; splits use randomSplit(seed) under
  * the harness's fixed partitioning (SURVEY §7.4.5).
  *
  * Scale notes: all estimators here are MLlib's distributed
  * implementations — NB/KMeans aggregate per-partition sufficient
  * statistics (treeAggregate), LR runs L-BFGS with one distributed
  * gradient pass per iteration over cached features. Nothing collects the
  * dataset to the driver.
  */
object Pipelines {

  private val seed = 42L

  /** Text features → label pipeline shared by fit and transform. */
  private def textPipeline(): Pipeline = {
    val tok = new RegexTokenizer().setInputCol("text").setOutputCol("toks")
      .setPattern("\\s+")
    val stop = new StopWordsRemover().setInputCol("toks").setOutputCol("kept")
      .setStopWords(graft.text.TextOps.stopWords.toArray)
    val tf = new HashingTF().setInputCol("kept").setOutputCol("tf")
      .setNumFeatures(1 << 14)
    val idf = new IDF().setInputCol("tf").setOutputCol("features")
    val label = new StringIndexer().setInputCol("lang").setOutputCol("label")
      .setStringOrderType("alphabetAsc")
    val nb = new NaiveBayes().setFeaturesCol("features").setLabelCol("label")
    new Pipeline().setStages(Array(tok, stop, tf, idf, label, nb))
  }

  /** q_ml_tfidf_nb — tokenize→stopwords→TF-IDF→NaiveBayes on documents,
    * seeded 80/20 split; per-doc test predictions. */
  def qMlTfidfNb(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val Array(train, test) = docs.randomSplit(Array(0.8, 0.2), seed)
    val model = textPipeline().fit(train)
    model.transform(test)
      .select(col("doc_id"), col("lang"), col("label").cast("int"),
        col("prediction").cast("int").as("pred"))
      .orderBy("doc_id")
  }

  private def embFeatures(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir)
      .select(col("vec_id"), col("label").cast("double").as("label"),
        array_to_vector(col("embedding").cast("array<double>"))
          .as("features"))

  /** q_ml_lr_vec — multinomial LogisticRegression on the embedding
    * vectors; seeded split; per-row test predictions. */
  def qMlLrVec(s: SparkSession, dir: String): DataFrame = {
    val Array(train, test) =
      embFeatures(s, dir).randomSplit(Array(0.8, 0.2), seed)
    val lr = new LogisticRegression().setMaxIter(50).setRegParam(0.01)
    val model = lr.fit(train)
    model.transform(test)
      .select(col("vec_id"), col("label").cast("int"),
        col("prediction").cast("int").as("pred"))
      .orderBy("vec_id")
  }

  /** q_ml_eval — evaluation surface: confusion matrix of the LR model on
    * its test split, plus accuracy/weighted-F1 as extra columns (constant
    * per row; asserted against floors in tests). */
  def qMlEval(s: SparkSession, dir: String): DataFrame =
    evalSummary(s, evalPredictions(s, dir))

  /** The LR model's (label, prediction) rows on its seeded test split. */
  private[graft] def evalPredictions(s: SparkSession, dir: String)
      : DataFrame = {
    val Array(train, test) =
      embFeatures(s, dir).randomSplit(Array(0.8, 0.2), seed)
    val model = new LogisticRegression().setMaxIter(50).setRegParam(0.01)
      .fit(train)
    model.transform(test).select("label", "prediction")
  }

  /** The confusion matrix of `pred` (label, pred, n) with accuracy and
    * weighted F1, both rounded to 4 places. The matrix is one aggregate
    * of at most classes² cells, collected once; accuracy and weighted F1
    * follow from its cells on the driver with MulticlassMetrics'
    * definitions (per-label F1 = 2pr/(p+r), 0 when p+r = 0, weighted by
    * the label's share of the split), so the predictions are scanned
    * once, not once per metric. MlSpec pins both values to
    * MulticlassClassificationEvaluator's on the same predictions. */
  private[graft] def evalSummary(s: SparkSession, pred: DataFrame)
      : DataFrame = {
    val cells = pred.groupBy(col("label").cast("int").as("label"),
        col("prediction").cast("int").as("pred"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2)))
      .sortBy(c => (c._1, c._2))
    val total = cells.map(_._3).sum.toDouble
    val hits = cells.collect { case (l, p, n) if l == p => l -> n }.toMap
    val byLabel = cells.groupMapReduce(_._1)(_._3)(_ + _)
    val byPred = cells.groupMapReduce(_._2)(_._3)(_ + _)
    def f1(label: Int): Double = {
      val tp = hits.getOrElse(label, 0L).toDouble
      val p = byPred.get(label).fold(0.0)(tp / _)
      val r = tp / byLabel(label)
      if (p + r == 0) 0.0 else 2 * p * r / (p + r)
    }
    // an empty split has no cells: accuracy is NaN, as Spark's round
    // keeps it, and no row carries it
    def rounded(x: Double): Double =
      if (x.isNaN) x
      else BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val accuracy = rounded(hits.values.sum / total)
    val weightedF1 = rounded(
      byLabel.map { case (l, n) => f1(l) * n / total }.sum)
    import s.implicits._
    cells.toSeq.map { case (l, p, n) => (l, p, n, accuracy, weightedF1) }
      .toDF("label", "pred", "n", "accuracy", "weighted_f1")
  }

  /** q_ml_cv — 3-fold cross-validation over a regParam grid for the
    * vector classifier; per-grid-point mean F1. */
  def qMlCv(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // 6 LR fits × ~30 L-BFGS iterations = hundreds of tiny treeAggregate
    // jobs; at 32 shuffle partitions the per-task scheduling overhead
    // dominates (the fold data is a few MB). Coalesce the cached features
    // to a handful of partitions and fit the grid points concurrently —
    // this is a small-data tuning loop, not the 100 TB scan path.
    val data = embFeatures(s, dir).coalesce(4).cache()
    // materialize BEFORE fit: with parallelism(2) the concurrent fold
    // fits otherwise race the lazy cache build (observed as stochastic
    // 7 s → 27–55 s full-bench runs)
    data.count()
    val lr = new LogisticRegression().setMaxIter(30)
    val grid = new ParamGridBuilder()
      .addGrid(lr.regParam, Array(0.01, 0.1)).build()
    val cv = new CrossValidator()
      .setEstimator(lr)
      .setEvaluator(new MulticlassClassificationEvaluator().setMetricName("f1"))
      .setEstimatorParamMaps(grid)
      .setNumFolds(3)
      // 4-deep fit pool (round 21; was 2): the 6 grid×fold fits are
      // seeded and per-fold deterministic, so parallelism changes only
      // wall time — the cached+counted features close the round-13
      // lazy-cache race that once made concurrency here stochastic
      .setParallelism(4)
      .setSeed(seed)
    val fitted = cv.fit(data)
    val rows = grid.zip(fitted.avgMetrics).map { case (pm, m) =>
      (pm.get(lr.regParam).get, math.rint(m * 1e4) / 1e4)
    }.toSeq
    // fit is eager and the returned grid DF is driver-built: the cached
    // features are no longer referenced (Q cache-ownership contract)
    data.unpersist()
    rows.toDF("reg_param", "avg_f1").orderBy("reg_param")
  }

  /** q_ml_kmeans — seeded KMeans (k=10) on embeddings; cluster sizes. */
  def qMlKmeans(s: SparkSession, dir: String): DataFrame = {
    val data = embFeatures(s, dir)
    val km = new KMeans().setK(10).setSeed(seed).setFeaturesCol("features")
    val model = km.fit(data)
    model.transform(data)
      .groupBy(col("prediction").as("cluster"))
      .agg(count(lit(1)).as("n"))
      .orderBy("cluster")
  }

  /** q_ml_word2vec — word-embedding training over the corpus (the
    * reference-genre text-ML op alongside TF-IDF): skip-gram Word2Vec,
    * seeded, single fit partition so the negative-sampling walk is
    * deterministic; emits the learned vocabulary as scalar rows (word,
    * vector norm, first two dims) — no vector/array columns, the driver's
    * rows-only compare chokes on ndarray cells (round-6 q_mm_decode
    * lesson). Scale: the fit is MLlib's distributed skip-gram
    * (per-partition gradient aggregation); at corpus scale raise
    * numPartitions and minCount together — the vocabulary broadcast is
    * the memory bound, so min-count pruning IS the scale lever. */
  def qMlWord2vec(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.ml.feature.Word2Vec
    val docs = Tables.documents(s, dir)
      .select(split(col("text"), " ").as("words"))
    val w2v = new Word2Vec().setInputCol("words").setOutputCol("vec")
      .setVectorSize(16).setMinCount(10).setMaxIter(1).setSeed(seed)
      .setNumPartitions(1)
    val model = w2v.fit(docs)
    // vector_to_array + built-in array ops keep the projection inside
    // whole-stage codegen (a Vector-typed Scala UDF here would force a
    // deserialize-per-row detour for vocabulary-sized data — harmless,
    // but the wrong idiom).
    model.getVectors
      .select(col("word"),
        org.apache.spark.ml.functions.vector_to_array(col("vector"))
          .as("arr"))
      .select(col("word"),
        sqrt(aggregate(col("arr"), lit(0.0), (acc, x) => acc + x * x))
          .as("nrm"),
        element_at(col("arr"), 1).as("d0"),
        element_at(col("arr"), 2).as("d1"))
      .select(col("word"), (floor(col("nrm") * 1e6) / 1e6).as("nrm"),
        (floor(col("d0") * 1e6) / 1e6).as("d0"),
        (floor(col("d1") * 1e6) / 1e6).as("d1"))
      .orderBy("word")
  }

  /** q_ml_persist — the model-ARTIFACT half of the reference's
    * workflow (round 16): a classifier is trained once by a scheduled
    * job, written to storage, and served by processes that never see
    * the trainer — exactly the lifecycle q_sim_index_persist closes
    * for the ANN index, here for the MLlib PipelineModel. The full
    * text pipeline (tokenize → stopwords → TF-IDF → label-index → NB)
    * is fit on the seeded train split and SAVED once
    * (fingerprint-keyed, done-marker; Bench warms the build like the
    * other artifacts); every invocation then LOADS the artifact from
    * disk and scores the test split — zero refit, the trainer object
    * is never referenced after the save. MlSpec pins the persisted
    * model's predictions row-identical to the in-memory twin
    * (q_ml_tfidf_nb) and load-determinism across invocations. At
    * 100 TB the artifact is the contract between the training
    * pipeline and every serving/backfill job. No oracle (✗-ml:
    * hashing-TF + NB internals are engine-specific). */
  def qMlPersist(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val Array(train, test) = docs.randomSplit(Array(0.8, 0.2), seed)
    val base = graft.Scratch.dir("ml",
      s"nbmodel_${dir.replaceAll("[^a-zA-Z0-9]", "_")}_" +
        graft.Scratch.fingerprint(dir, "documents"))
    val marker = new java.io.File(base, "_GRAFT_DONE")
    if (!marker.exists()) {
      textPipeline().fit(train).write.overwrite().save(s"$base/model")
      marker.createNewFile(): Unit
    }
    // serve phase: ONLY the read-back artifact is used from here on
    val model = org.apache.spark.ml.PipelineModel.load(s"$base/model")
    model.transform(test)
      .select(col("doc_id"), col("lang"), col("label").cast("int"),
        col("prediction").cast("int").as("pred"))
      .orderBy("doc_id")
  }

  val queries: Map[String, Q] = Map(
    "q_ml_persist" -> (qMlPersist _),
    "q_ml_word2vec" -> (qMlWord2vec _),
    "q_ml_tfidf_nb" -> (qMlTfidfNb _),
    "q_ml_lr_vec" -> (qMlLrVec _),
    "q_ml_eval" -> (qMlEval _),
    "q_ml_cv" -> (qMlCv _),
    "q_ml_kmeans" -> (qMlKmeans _))

  /** ✗-ml: no oracle entries (SURVEY §2.9) — verified by scalatest
    * thresholds instead. */
  val oracle: Map[String, String] = Map.empty
}
