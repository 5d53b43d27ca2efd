package graft

import org.scalatest.funsuite.AnyFunSuite

/** ML accuracy floors (SURVEY §5.4): seeded pipelines must clear fixed
  * thresholds. Floors are intentionally below observed values (calibrated
  * at first green run) so they catch regressions, not noise. */
class MlSpec extends AnyFunSuite with SparkFixture {

  test("LR optimizer fits the training data (in-sample accuracy >= 0.3)") {
    // The harness labels are NOT held-out-separable (a numpy softmax
    // reference reaches ~0.11 test / ~0.5 train accuracy), so the
    // meaningful floor is in-sample: the distributed L-BFGS fit must
    // clearly beat the 10-class chance level on its own training data.
    import org.apache.spark.ml.classification.LogisticRegression
    import org.apache.spark.ml.functions.array_to_vector
    import org.apache.spark.sql.functions._
    val data = Tables.embeddings(spark, sf001)
      .select(col("label").cast("double").as("label"),
        array_to_vector(transform(col("embedding"), x => x.cast("double")))
          .as("features"))
    val model = new LogisticRegression().setMaxIter(50).setRegParam(0.01)
      .fit(data)
    val pred = model.transform(data).select("label", "prediction").collect()
    val acc = pred.count(r => r.getDouble(0) == r.getDouble(1)).toDouble /
      pred.length
    assert(acc >= 0.3, s"in-sample accuracy=$acc")
  }

  test("q_ml_lr_vec emits a valid prediction per held-out row") {
    val pred = ml.Pipelines.qMlLrVec(spark, sf001).collect()
    assert(pred.nonEmpty)
    assert(pred.forall(r => r.getInt(2) >= 0 && r.getInt(2) <= 9))
  }

  test("NB text classifier beats the majority-class baseline") {
    val pred = ml.Pipelines.qMlTfidfNb(spark, sf001).collect()
    assert(pred.nonEmpty)
    val acc = pred.count(r => r.getInt(2) == r.getInt(3)).toDouble /
      pred.length
    val majority = pred.groupBy(_.getInt(2)).values.map(_.length).max
      .toDouble / pred.length
    assert(acc >= majority,
      s"accuracy=$acc must be >= majority-class baseline=$majority")
  }

  test("q_ml_eval confusion matrix totals the test split and reports " +
      "accuracy consistent with its own cells") {
    val rows = ml.Pipelines.qMlEval(spark, sf001).collect()
    val total = rows.map(_.getLong(2)).sum
    val correct = rows.filter(r => r.getInt(0) == r.getInt(1))
      .map(_.getLong(2)).sum
    val acc = rows.head.getDouble(3)
    assert(math.abs(correct.toDouble / total - acc) < 1e-3)
  }

  test("q_ml_eval's driver-side accuracy and weighted F1 equal " +
      "MulticlassClassificationEvaluator's on the same predictions") {
    import org.apache.spark.ml.evaluation.MulticlassClassificationEvaluator
    val pred = ml.Pipelines.evalPredictions(spark, sf001).localCheckpoint()
    val rows = ml.Pipelines.evalSummary(spark, pred).collect()
    assert(rows.nonEmpty)
    def reference(metric: String): Double =
      BigDecimal(new MulticlassClassificationEvaluator()
        .setMetricName(metric).evaluate(pred))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val (acc, f1) = (reference("accuracy"), reference("f1"))
    rows.foreach { r =>
      assert(r.getAs[Double]("accuracy") == acc)
      assert(r.getAs[Double]("weighted_f1") == f1)
    }
    // the public key returns the same rows
    assert(ml.Pipelines.qMlEval(spark, sf001).collect().toSeq == rows.toSeq)
  }

  test("q_ml_cv reports one mean-F1 per grid point, all in [0,1]") {
    val rows = ml.Pipelines.qMlCv(spark, sf001).collect()
    assert(rows.length == 2)
    assert(rows.forall(r => r.getDouble(1) >= 0 && r.getDouble(1) <= 1))
  }

  test("q_ml_kmeans assigns every vector to one of k=10 clusters") {
    val rows = ml.Pipelines.qMlKmeans(spark, sf001).collect()
    assert(rows.map(_.getLong(1)).sum ==
      Tables.embeddings(spark, sf001).count())
    assert(rows.length <= 10)
    assert(rows.forall(r => r.getInt(0) >= 0 && r.getInt(0) < 10))
  }

  test("seeded pipelines are run-to-run deterministic") {
    val a = ml.Pipelines.qMlLrVec(spark, sf001).collect()
    val b = ml.Pipelines.qMlLrVec(spark, sf001).collect()
    assert(a.sameElements(b))
  }

  test("q_ml_word2vec learns a unit-scale vocabulary, deterministically") {
    val a = ml.Pipelines.qMlWord2vec(spark, sf0001).collect()
    assert(a.nonEmpty, "min-count 10 should keep the frequent tokens")
    // vectors are finite and non-degenerate (training moved them off 0)
    assert(a.forall(r => !r.getDouble(1).isNaN && r.getDouble(1) > 0))
    // seeded, single-partition fit: run-to-run deterministic
    val b = ml.Pipelines.qMlWord2vec(spark, sf0001).collect()
    assert(a.map(_.toString).sameElements(b.map(_.toString)))
  }

  test("q_ml_persist: the persisted model's predictions are " +
      "row-identical to the in-memory twin, and load is deterministic") {
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSeq
    val persisted = rows(ml.Pipelines.qMlPersist(spark, sf0001))
    // save -> load loses nothing: the artifact serves exactly what the
    // in-memory PipelineModel (q_ml_tfidf_nb, same seed/split) serves
    val inMemory = rows(ml.Pipelines.qMlTfidfNb(spark, sf0001))
    assert(persisted == inMemory,
      "persisted-model predictions diverged from the in-memory twin")
    // and a second load serves identically (artifact reuse, no refit)
    assert(rows(ml.Pipelines.qMlPersist(spark, sf0001)) == persisted,
      "second load of the model artifact diverged")
  }
}
