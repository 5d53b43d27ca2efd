package graft

import java.io.File

import org.apache.spark.scheduler.SparkListenerApplicationEnd
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftprobe.BusProbe
import org.scalatest.funsuite.AnyFunSuite

/** Lifecycle of the session-resident input state (graft.Resident) and
  * its two clients, retrieval and dedup: whatever happens to the input,
  * the scratch artifacts or the resident blocks between two calls, a key
  * answers exactly as a fresh session would. */
class ResidentSpec extends AnyFunSuite with SparkFixture {

  private val keys: Seq[(String, (SparkSession, String, Column) => DataFrame)] =
    Seq(
      "q_sim_topk" -> llm.Similarity.simTopk _,
      "q_sim_lsh" -> llm.Similarity.simLsh _,
      "q_knn_classify" -> llm.Similarity.knnClassify _,
      "q_sim_index_persist" -> llm.Similarity.simIndexPersist _)

  private def answers(s: SparkSession, dir: String,
      queries: Column = col("vec_id") < 20): Map[String, Seq[Row]] =
    keys.map { case (k, f) => k -> f(s, dir, queries).collect().toSeq }.toMap

  private def residentRdds(prefix: String = "graft.resident") =
    spark.sparkContext.getPersistentRDDs.values
      .filter(r => Option(r.name).exists(_.startsWith(prefix)))

  /** The keys that read the resident dedup frames (llm.DedupCore). */
  private val dedupKeys = Seq("q_dedup_minhash", "q_dedup_ngram",
    "q_dedup_near", "q_dedup_cluster", "q_recursive_cte",
    "q_dedup_minhash_incremental")

  private def dedupAnswers(s: SparkSession, dir: String)
      : Map[String, Seq[Row]] =
    dedupKeys.map(k => k -> SparkEntry.queries(k)(s, dir).collect().toSeq)
      .toMap

  test("documents regenerated in place (new fingerprint) are deduped as " +
      "a fresh session dedups them") {
    val dir = java.nio.file.Files.createTempDirectory("graft_resident")
      .toString
    def write(df: DataFrame): Unit =
      df.coalesce(1).write.mode("overwrite")
        .parquet(s"$dir/documents.parquet")
    write(Tables.documents(spark, sf0001))
    val before = dedupAnswers(spark, dir)
    // regenerate: every document moves to another id
    write(Tables.documents(spark, sf0001)
      .withColumn("doc_id", col("doc_id") + 100000L))
    val after = dedupAnswers(spark, dir)
    assert(after == dedupAnswers(spark.newSession(), dir),
      "warm session diverged from a fresh one after the regeneration")
    dedupKeys.foreach { k =>
      assert(after(k).nonEmpty && after(k) != before(k),
        s"$k still dedups the old documents")
    }
  }

  test("resident dedup blocks unpersisted between two calls are " +
      "refilled") {
    // start from no resident dedup frame of any input or session
    residentRdds("graft.resident dedup").foreach(_.unpersist(blocking = true))
    val first = dedupAnswers(spark, sf0001)
    val dedup = residentRdds("graft.resident dedup")
    assert(dedup.size == 4, s"expected 4 resident dedup frames, got " +
      dedup.map(_.name).mkString(", "))
    dedup.foreach(_.unpersist(blocking = true))
    assert(residentRdds("graft.resident dedup").isEmpty)
    assert(dedupAnswers(spark, sf0001) == first)
    assert(residentRdds("graft.resident dedup").size == 4,
      "the resident dedup state was not refilled")
  }

  test("a corpus regenerated in place (new fingerprint) is served as a " +
      "fresh session serves it") {
    val dir = java.nio.file.Files.createTempDirectory("graft_resident")
      .toString
    def write(df: DataFrame): Unit =
      df.coalesce(1).write.mode("overwrite")
        .parquet(s"$dir/embeddings.parquet")
    write(Tables.embeddings(spark, sf0001))
    val before = answers(spark, dir)
    // regenerate: every vector moves to another id
    val n = Tables.embeddings(spark, sf0001).count()
    write(Tables.embeddings(spark, sf0001)
      .withColumn("vec_id", (col("vec_id") + 7) % n))
    val after = answers(spark, dir)
    assert(after == answers(spark.newSession(), dir),
      "warm session diverged from a fresh one after the regeneration")
    keys.foreach { case (k, _) =>
      assert(after(k) != before(k), s"$k still serves the old corpus")
    }
  }

  test("deleting and rebuilding the sim scratch area serves identical " +
      "rows") {
    // what graftbench's Search.setup does before every set-up
    val first = llm.Similarity.qSimIndexPersist(spark, sf0001).collect().toSeq
    Scratch.deleteRec(new File(Scratch.dir("sim", "x")).getParentFile)
    val rebuilt = llm.Similarity.qSimIndexPersist(spark, sf0001).collect()
      .toSeq
    assert(rebuilt.nonEmpty && rebuilt == first)
  }

  test("resident blocks unpersisted between two calls are refilled") {
    val first = answers(spark, sf0001)
    assert(residentRdds().nonEmpty, "nothing resident after the first call")
    residentRdds().foreach(_.unpersist(blocking = true))
    assert(residentRdds().isEmpty)
    assert(answers(spark, sf0001) == first)
    assert(residentRdds().nonEmpty, "the resident state was not refilled")
  }

  test("a second query set served from warm resident state equals a cold " +
      "computation (nothing resident depends on the queries)") {
    val standard = answers(spark, sf001)
    val other = col("vec_id").between(100, 119)
    val warm = answers(spark, sf001, other)
    assert(warm == answers(spark.newSession(), sf001, other))
    keys.foreach { case (k, _) =>
      assert(warm(k).nonEmpty && warm(k) != standard(k),
        s"$k did not serve the second query set")
    }
  }

  test("application end leaves SessionCaches no entry for the app") {
    answers(spark, sf0001)
    dedupAnswers(spark, sf0001)
    val sc = spark.sparkContext
    assert(residentRdds("graft.resident dedup").nonEmpty)
    assert(SessionCaches.held(sc.applicationId) > 0)
    val resident = residentRdds().toSeq
    BusProbe.post(sc, SparkListenerApplicationEnd(System.currentTimeMillis))
    BusProbe.drain(sc)
    assert(SessionCaches.held(sc.applicationId) == 0,
      "SessionCaches still holds entries of the ended application")
    // this JVM's application lives on: release what the sweep dropped
    resident.foreach(_.unpersist())
  }
}
