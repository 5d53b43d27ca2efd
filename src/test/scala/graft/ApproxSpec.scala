package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Accuracy contracts for the approximate operators (SURVEY §5): each
  * sketch/LSH path is checked against its exact twin. */
class ApproxSpec extends AnyFunSuite with SparkFixture {

  test("approx_count_distinct within 2% of exact per group") {
    val exact = Tables.lineitem(spark, sf001)
      .groupBy("l_returnflag")
      .agg(countDistinct(col("l_partkey")).as("d"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val approx = relational.Aggregates.qAggApproxDistinct(spark, sf001)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(exact.keySet == approx.keySet)
    exact.foreach { case (k, d) =>
      assert(math.abs(approx(k) - d).toDouble / d <= 0.02,
        s"group $k: approx=${approx(k)} exact=$d")
    }
  }

  test("q_profile_table_approx matches the exact profiler on every stat and " +
      "lands distincts within 10%") {
    def byCol(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3),
          r.getDouble(4), r.getDouble(5), r.getDouble(6))).toMap
    val exact = byCol(relational.Stats.qProfileTable(spark, sf001).collect())
    val approx =
      byCol(relational.Stats.qProfileTableApprox(spark, sf001).collect())
    assert(exact.keySet == approx.keySet)
    exact.foreach { case (c, (n, nulls, dist, mn, mx, avg)) =>
      val (an, anulls, adist, amn, amx, aavg) = approx(c)
      // everything except the distinct estimate must be IDENTICAL —
      // the swap touches only the distinct aggregate
      assert((an, anulls, amn, amx, aavg) == (n, nulls, mn, mx, avg),
        s"$c: non-distinct stats diverged under the approx swap")
      assert(math.abs(adist - dist).toDouble / dist <= 0.10,
        s"$c: approx distinct $adist vs exact $dist")
    }
  }

  test("quantileBinsApprox keeps every decile bin within 2% of the " +
      "exact equal-frequency share") {
    val total = Tables.events(spark, sf001).count().toDouble
    val bins = relational.Stats.quantileBinsApprox(spark, sf001)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(bins.keySet == (1 to 10).toSet,
      s"expected 10 bins, got ${bins.keySet.toSeq.sorted}")
    bins.foreach { case (b, n) =>
      assert(math.abs(n / total - 0.1) <= 0.02,
        s"bin $b holds ${n / total} of rows — sketch cutoffs drifted " +
          "outside the equal-frequency contract")
    }
  }

  test("approx percentiles within 1% of exact per group") {
    val exact = relational.Aggregates.qAggPercentile(spark, sf001)
      .select("l_returnflag", "p25", "p50", "p75").collect()
      .map(r => r.getString(0) ->
        Seq(r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    val approx = relational.Aggregates.qAggApproxPercentile(spark, sf001)
      .collect().map(r => r.getString(0) ->
        Seq(r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    assert(exact.keySet == approx.keySet)
    exact.foreach { case (k, es) =>
      es.zip(approx(k)).foreach { case (e, a) =>
        assert(math.abs(a - e) / e <= 0.01, s"group $k: approx=$a exact=$e")
      }
    }
  }

  test("LSH neighbors reach recall >= 0.8 vs exact cosine top-5") {
    val exact = llm.Similarity.qSimTopk(spark, sf001)
      .select("qid", "cid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = llm.Similarity.qSimLsh(spark, sf001)
      .select("qid", "cid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.8, s"recall=$recall")
  }

  test("q_sim_lsh rows equal MLlib's fit + approxSimilarityJoin " +
      "(sf0.001 and sf0.01)") {
    // the reference is the MLlib pipeline q_sim_lsh replaced: a fresh fit
    // per call and approxSimilarityJoin's exploded bucket join with its
    // full-row distinct. The resident rewrite must emit the same rows —
    // the recall floor above alone would let it drift silently.
    import org.apache.spark.ml.feature.BucketedRandomProjectionLSH
    import org.apache.spark.ml.functions.array_to_vector
    import org.apache.spark.sql.expressions.Window
    def reference(dir: String) = {
      val e = Tables.embeddings(spark, dir)
        .select(col("vec_id"),
          array_to_vector(col("embedding").cast("array<double>"))
            .as("features"))
      val q = e.filter(col("vec_id") < 20)
        .select(col("vec_id").as("qid"), col("features"))
      val model = new BucketedRandomProjectionLSH()
        .setInputCol("features").setOutputCol("hashes")
        .setBucketLength(1.0).setNumHashTables(4).setSeed(42L).fit(e)
      val joined = model.approxSimilarityJoin(q, e, 3.0, "dist")
        .select(col("datasetA.qid").as("qid"),
          col("datasetB.vec_id").as("cid"), round(col("dist"), 6).as("dist"))
        .filter(col("qid") =!= col("cid"))
      val w = Window.partitionBy("qid")
        .orderBy(col("dist").asc, col("cid").asc)
      joined.withColumn("rn", row_number().over(w)).filter(col("rn") <= 5)
        .orderBy("qid", "rn")
    }
    Seq(sf0001, sf001).foreach { dir =>
      val got = llm.Similarity.qSimLsh(spark, dir).collect().map(_.toSeq).toSeq
      val want = reference(dir).collect().map(_.toSeq).toSeq
      assert(got.nonEmpty && got == want,
        s"$dir: ${got.length} rows vs MLlib's ${want.length}; first diff: " +
          s"${got.zip(want).find { case (a, b) => a != b }}")
    }
  }

  test("exact dedup is idempotent and survivors cover the corpus") {
    val survivors = llm.Dedup.qDedupExact(spark, sf001).collect()
    val nDocs = Tables.documents(spark, sf001).count()
    assert(survivors.map(_.getLong(2)).sum == nDocs)
    assert(survivors.map(_.getString(1)).distinct.length == survivors.length)
  }

  test("near-dup pairs all have true Jaccard >= 0.8 and full recall") {
    import spark.implicits._
    // Ground truth: exact Jaccard over distinct 3-token shingle sets.
    val docs = Tables.documents(spark, sf001)
      .select(col("doc_id"), col("text")).as[(Long, String)].collect()
      .map { case (id, text) =>
        val t = text.split(" ")
        id -> t.sliding(3).map(_.mkString(" ")).toSet
      }
    val truth = (for {
      (a, sa) <- docs; (b, sb) <- docs if a < b
      j = (sa & sb).size.toDouble / (sa | sb).size if j >= 0.8
    } yield (a, b)).toSet
    val found = llm.Dedup.qDedupNear(spark, sf001)
      .select("id_a", "id_b", "jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(found.forall(_._3 >= 0.8))
    assert(found.map(t => (t._1, t._2)).toSet == truth,
      s"found=${found.length} truth=${truth.size}")
  }

  test("IVF neighbors reach recall >= 0.6 vs exact cosine top-5") {
    val exact = llm.Similarity.qSimTopk(spark, sf001)
      .select("qid", "cid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = llm.Similarity.qSimIvf(spark, sf001)
      .select("qid", "cid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & ivf).size.toDouble / exact.size
    assert(recall >= 0.6, s"recall=$recall")
  }

  test("PQ+ADC neighbors reach recall >= 0.9 vs exact cosine top-5") {
    val exact = llm.Similarity.qSimTopk(spark, sf001)
      .select("qid", "cid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val pq = llm.Similarity.qSimPq(spark, sf001)
      .select("qid", "cid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // the exact-cosine re-rank of the ADC top-50 shortlist means a miss
    // can ONLY come from PQ quantization pushing a true neighbor out of
    // the shortlist — this asserts the codebooks carry real signal
    val recall = (exact & pq).size.toDouble / exact.size
    assert(recall >= 0.9, s"recall=$recall (${(exact & pq).size}/${exact.size})")
    // determinism: seeded codebooks + first-min tie-breaks ⇒ identical
    // output on a second run
    val pq2 = llm.Similarity.qSimPq(spark, sf001)
      .select("qid", "cid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pq2 == pq, "q_sim_pq is not deterministic across runs")
  }

  test("IVF×PQ neighbors reach recall >= 0.6 vs exact cosine top-5 " +
      "(the IVF floor: PQ shortlist misses are re-rank-recovered)") {
    val exact = llm.Similarity.qSimTopk(spark, sf001)
      .select("qid", "cid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivfpq = llm.Similarity.qSimIvfPq(spark, sf001)
      .select("qid", "cid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // the composition can only lose vs plain IVF through the ADC
    // shortlist, and the exact re-rank recovers shortlist ordering —
    // so the IVF probe floor (nprobe=4 of 16 cells) is the bound
    val recall = (exact & ivfpq).size.toDouble / exact.size
    assert(recall >= 0.6,
      s"recall=$recall (${(exact & ivfpq).size}/${exact.size})")
    // every query must still emit a full top-5 (probed cells are never
    // empty: the query's own cell is always among its 4 nearest)
    val perQ = llm.Similarity.qSimIvfPq(spark, sf001)
      .groupBy("qid").count().collect().map(_.getLong(1)).toSet
    assert(perQ == Set(5L), s"per-query result sizes: $perQ")
  }

  test("persisted IVF×PQ index serves from disk identically to the " +
      "in-memory index and keeps the recall floor") {
    // row-for-row equality: the artifact round-trips doubles bit-exactly
    // through parquet, so the from-disk serve path must reproduce the
    // in-memory index EXACTLY — any divergence means the persisted state
    // is not the trained state
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSeq
    val mem = rows(llm.Similarity.qSimIvfPq(spark, sf001))
    val disk = rows(llm.Similarity.qSimIndexPersist(spark, sf001))
    assert(disk == mem,
      s"from-disk serve diverged from in-memory index; first diff: " +
        s"${disk.zip(mem).find { case (a, b) => a != b }}")
    // re-invocation takes the artifact-reuse path (the done-marker skips
    // the build) and must serve the identical result
    val disk2 = rows(llm.Similarity.qSimIndexPersist(spark, sf001))
    assert(disk2 == disk, "artifact-reuse serve diverged from first serve")
    // and independently: recall vs exact stays at or above the
    // q_sim_ivfpq floor (guards against BOTH paths degrading together)
    val exact = llm.Similarity.qSimTopk(spark, sf001)
      .select("qid", "cid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val persisted = disk.map(t => (t._1, t._2)).toSet
    val recall = (exact & persisted).size.toDouble / exact.size
    assert(recall >= 0.6,
      s"recall=$recall (${(exact & persisted).size}/${exact.size})")
  }

  test("incremental index update: appended day-2 postings serve " +
      "identically to a full-corpus encode under the frozen day-1 state") {
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSeq
    val updated = rows(llm.Similarity.qSimIndexUpdate(spark, sf001))
    // reference: train on day-1 only (same split), then encode the FULL
    // corpus in memory under that state — append must change where code
    // rows live, never their values, so serving must be row-identical
    val e = llm.Similarity.unitVectors(spark, sf001)
    val day1 = e.filter(col("vec_id") % 4 =!= 3)
    val (coarse, cb) = llm.Similarity.ivfPqTrain(day1)
    val enc = llm.Similarity.ivfPqEncode(spark, e, coarse, cb)
    val ref = rows(llm.Similarity.ivfPqServe(spark, e, coarse, cb, enc))
    assert(updated == ref,
      s"updated-index serve diverged from frozen-state full encode; " +
        s"first diff: ${updated.zip(ref).find { case (a, b) => a != b }}")
    // re-ingesting the same day is idempotent: the day-2 partition is
    // overwritten, not duplicated, so a second update serves identically
    val updated2 = rows(llm.Similarity.qSimIndexUpdate(spark, sf001))
    assert(updated2 == updated,
      "re-running the update changed the served result (non-idempotent append)")
    // day-2 arrivals are genuinely in the index: some emitted neighbor
    // must be a day-2 vector (the harness corpus guarantees near
    // neighbors across the % 4 slices)
    assert(updated.exists(t => t._2 % 4 == 3),
      "no day-2 vector was ever returned — the append is not being probed")
    // and the recall floor vs exact still holds under day-1-only training
    val exact = llm.Similarity.qSimTopk(spark, sf001)
      .select("qid", "cid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = updated.map(t => (t._1, t._2)).toSet
    val recall = (exact & got).size.toDouble / exact.size
    assert(recall >= 0.6,
      s"recall=$recall (${(exact & got).size}/${exact.size})")
  }

  test("index drift monitor is deterministic, and an injected " +
      "shifted-distribution day-2 moves BOTH metric families") {
    def stats(rs: Array[org.apache.spark.sql.Row]): (Double, Double) = {
      // (max per-cell share shift, n-weighted mean day-2 quantization
      // error) — the two rebuild-trigger families
      val maxShift = rs.map(_.getDouble(5)).max
      val withD2 = rs.filter(r => r.getLong(2) > 0 && !r.isNullAt(7))
      val mqe = withD2.map(r => r.getLong(2) * r.getDouble(7)).sum /
        withD2.map(_.getLong(2)).sum
      (maxShift, mqe)
    }
    val a = llm.Similarity.qIndexDrift(spark, sf001).collect()
    val b = llm.Similarity.qIndexDrift(spark, sf001).collect()
    assert(a.map(_.toSeq).toSeq == b.map(_.toSeq).toSeq,
      "drift monitor is not deterministic across runs")
    val (trueShift, trueMqe) = stats(a)
    // inject drift shaped like an upstream embedding-model swap: day-2
    // vectors pulled hard toward the all-ones direction AND rescaled to
    // norm 2, encoded under the SAME frozen state — assignments
    // concentrate (share family moves) and the frozen codebooks, fit on
    // unit-norm day-1 data, cannot span the new norm (error family
    // moves). A pure direction pull is NOT enough: it collapses
    // variance, which frozen codebooks fit BETTER (measured here —
    // mqe fell 0.369 → 0.312), so the injection must move the norm too.
    val (base, coarse, cb) =
      llm.Similarity.ensureUpdateArtifact(spark, sf001)
    val e = llm.Similarity.unitVectors(spark, sf001)
    val shifted = e.filter(col("vec_id") % 4 === 3)
      .withColumn("raw", transform(col("unit"), x => x + lit(1.0)))
      .withColumn("nrm", sqrt(aggregate(
        transform(col("raw"), x => x * x), lit(0.0), (acc, x) => acc + x)))
      .select(col("vec_id"),
        transform(col("raw"), x => x * 2.0 / col("nrm")).as("unit"))
    val day1Post = spark.read.parquet(s"$base/coded")
      .filter(col("day") === 1)
      .select("day", "vec_id", "bucket", "codes")
    val shiftedPost = llm.Similarity.ivfPqEncode(spark, shifted, coarse, cb)
      .withColumn("day", lit(2))
      .select("day", "vec_id", "bucket", "codes")
    val vectors = e.filter(col("vec_id") % 4 =!= 3)
      .select("vec_id", "unit").unionByName(shifted)
    val drifted = llm.Similarity.driftMetrics(spark, cb,
      day1Post.unionByName(shiftedPost), vectors).collect()
    val (shiftedShift, shiftedMqe) = stats(drifted)
    info(s"true:   max share_shift=$trueShift, mqe_day2=$trueMqe")
    info(s"drifted: max share_shift=$shiftedShift, mqe_day2=$shiftedMqe")
    assert(shiftedShift > trueShift,
      s"assignment-share drift did not move: $shiftedShift <= $trueShift")
    assert(shiftedMqe > trueMqe,
      s"quantization-error drift did not move: $shiftedMqe <= $trueMqe")
  }

  test("drift monitor's assigned-centroid error kernel matches an " +
      "independent driver-side recomputation per cell") {
    // the round-15 kernel reads only the 16 assigned centroids per row
    // (the serving-LUT reuse computed all 256 distances); this pins that
    // it still computes exactly sum_sub ||v_sub - cb[sub][code_sub]||^2
    // by recomputing every per-cell aggregate from collected rows with
    // plain Scala. Tolerance 2e-6: the agg's float sum order is
    // partition-dependent and the output sits on a 1e-6 floor grid.
    val (base, _, cb) = llm.Similarity.ensureUpdateArtifact(spark, sf001)
    val vectors = llm.Similarity.unitVectors(spark, sf001)
      .select("vec_id", "unit")
    val postings = spark.read.parquet(s"$base/coded")
    val got = llm.Similarity.driftMetrics(spark, cb, postings, vectors)
      .collect()
    val units = vectors.collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    val books = cb.map(_.map(_.toArray).toArray).toArray
    val agg = scala.collection.mutable.Map
      .empty[Int, (Long, Long, Double, Double)]
    postings.select("day", "vec_id", "bucket", "codes").collect()
      .foreach { r =>
        val (day, vid, bucket) = (r.getInt(0), r.getLong(1), r.getInt(2))
        val codes = r.getSeq[Int](3)
        val u = units(vid)
        var err = 0.0; var i = 0
        while (i < books.length) {
          val cent = books(i)(codes(i)); val d = cent.length
          var s = 0.0; var k = 0
          while (k < d) { val t = cent(k) - u(i * d + k); s += t * t; k += 1 }
          err += s; i += 1
        }
        val (n1, n2, e1, e2) = agg.getOrElse(bucket, (0L, 0L, 0.0, 0.0))
        agg(bucket) =
          if (day == 1) (n1 + 1, n2, e1 + err, e2)
          else (n1, n2 + 1, e1, e2 + err)
      }
    assert(got.map(_.getInt(0)).toSet == agg.keySet,
      "cell set diverged from the independent recomputation")
    got.foreach { r =>
      val (n1, n2, e1, e2) = agg(r.getInt(0))
      assert((r.getLong(1), r.getLong(2)) == (n1, n2),
        s"cell ${r.getInt(0)}: day counts diverged")
      def close(a: Double, b: Double) = math.abs(a - b) <= 2e-6
      assert(n1 == 0 || close(r.getDouble(6), e1 / n1),
        s"cell ${r.getInt(0)}: mqe_day1 ${r.getDouble(6)} != ${e1 / n1}")
      assert(n2 == 0 || close(r.getDouble(7), e2 / n2),
        s"cell ${r.getInt(0)}: mqe_day2 ${r.getDouble(7)} != ${e2 / n2}")
    }
  }

  test("index rebuild: old artifact byte-identical across the swap, " +
      "deterministic serve, and retraining on a drifted corpus keeps " +
      "recall at or above the frozen-state serve") {
    def dirMd5s(path: String): Map[String, String] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory)
          f.listFiles().toSeq.sortBy(_.getName).flatMap(walk)
        else Seq(f)
      walk(new java.io.File(path))
        .filter(_.getName.endsWith(".parquet")).map { f =>
          val bytes = java.nio.file.Files.readAllBytes(f.toPath)
          f.getPath -> java.security.MessageDigest.getInstance("MD5")
            .digest(bytes).map(b => f"$b%02x").mkString
        }.toMap
    }
    // old-artifact immutability: the incremental index being replaced
    // keeps serving ingest/monitor until the swap lands, so the rebuild
    // must never write into it
    val oldBase = llm.Similarity.ensureUpdateArtifactOnce(spark, sf001)
    val before = dirMd5s(oldBase)
    val a = llm.Similarity.qIndexRebuild(spark, sf001).collect()
    assert(a.nonEmpty)
    assert(dirMd5s(oldBase) == before,
      "rebuild touched the old incremental artifact")
    // no orphaned staging dir: the atomic move consumed it
    assert(!new java.io.File(
      llm.Similarity.lastRebuilt.get + ".staging")
      .exists(), "staging dir survived the swap")
    // each invocation rebuilds into a FRESH versioned dir (r16: re-runs
    // pay the real retrain+re-encode), so a == b now pins end-to-end
    // rebuild determinism, not just serve-from-artifact determinism
    val b = llm.Similarity.qIndexRebuild(spark, sf001).collect()
    assert(a.map(_.toSeq).toSeq == b.map(_.toSeq).toSeq,
      "rebuilt-index serve is not deterministic")

    // drifted corpus — the q_index_drift injection (day-2 pulled toward
    // all-ones, rescaled to norm 2): the frozen day-1 state neither
    // buckets nor spans it, which is exactly when the monitor fires and
    // this rebuild is the scheduled response
    val (_, coarse, cb) = llm.Similarity.ensureUpdateArtifact(spark, sf001)
    val e = llm.Similarity.unitVectors(spark, sf001)
    val shifted = e.filter(col("vec_id") % 4 === 3)
      .withColumn("raw", transform(col("unit"), x => x + lit(1.0)))
      .withColumn("nrm", sqrt(aggregate(
        transform(col("raw"), x => x * x), lit(0.0), (acc, x) => acc + x)))
      .select(col("vec_id"),
        transform(col("raw"), x => x * 2.0 / col("nrm")).as("unit"))
    val drifted = e.filter(col("vec_id") % 4 =!= 3)
      .select("vec_id", "unit").unionByName(shifted)
      .localCheckpoint(true)
    // exact twin on the drifted corpus, ranked by the serving metric
    // (6dp-rounded dot, cid-asc ties — pqRerank's exact ordering)
    graft.functions.NativeFunctions.register(spark)
    val q = drifted.filter(col("vec_id") < 20)
      .select(col("vec_id").as("qid"), col("unit").as("qunit"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("qid")
      .orderBy(col("score").desc, col("cid").asc)
    val exact = drifted.join(broadcast(q), col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("cid"),
        round(call_function("array_dot", col("qunit"), col("unit")), 6)
          .as("score"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= 5)
      .select("qid", "cid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def recall(df: org.apache.spark.sql.DataFrame): Double = {
      val got = df.select("qid", "cid").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      (exact & got).size.toDouble / exact.size
    }
    // pre-rebuild: the drifted corpus served under the FROZEN day-1
    // state (what production does between rebuilds)
    val frozenEnc = llm.Similarity.ivfPqEncode(spark, drifted, coarse, cb)
    val pre = recall(
      llm.Similarity.ivfPqServe(spark, drifted, coarse, cb, frozenEnc))
    // post-rebuild: retrain on the drifted corpus through the REAL
    // rebuild path (staging build + atomic swap, spec-private dir)
    val rbDir = llm.Similarity.rebuildInto(spark, drifted,
      graft.Scratch.dir("sim", "spec_rebuild_drifted"))
    val (c2, cb2) = llm.Similarity.readIvfPqState(spark, rbDir)
    val post = recall(llm.Similarity.ivfPqServe(spark, drifted, c2, cb2,
      spark.read.parquet(s"$rbDir/coded")))
    info(s"drifted-corpus recall: frozen=$pre rebuilt=$post")
    assert(post >= pre,
      s"rebuild did not recover recall: rebuilt=$post < frozen=$pre")
    assert(post >= 0.6, s"rebuilt-index recall floor violated: $post")
  }

  test("post-rebuild append: re-encoding arrivals under the REBUILT " +
      "frozen state serves row-identically (the lifecycle restarts on " +
      "the new artifact)") {
    // after a rebuild the train -> persist -> append -> monitor cycle
    // must RESTART against the rebuilt artifact: ingest keeps appending
    // under the (new) frozen quantizers. Encode is per-row and stateless
    // given the state, so re-encoding any slice under the rebuilt
    // read-back state and unioning it with the untouched rows must serve
    // row-identically to the rebuilt artifact itself — the
    // q_sim_index_update equivalence applied to the post-rebuild state.
    llm.Similarity.qIndexRebuild(spark, sf001).count()
    val rb = llm.Similarity.lastRebuilt.get
    val (coarse, cb) = llm.Similarity.readIvfPqState(spark, rb)
    val e = llm.Similarity.unitVectors(spark, sf001)
    val arrivals = e.filter(col("vec_id") % 8 === 7)
    val appended = spark.read.parquet(s"$rb/coded")
      .select("vec_id", "bucket", "codes")
      .filter(col("vec_id") % 8 =!= 7)
      .unionByName(llm.Similarity.ivfPqEncode(spark, arrivals, coarse, cb))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSeq
    val served = rows(
      llm.Similarity.ivfPqServe(spark, e, coarse, cb, appended))
    val full = rows(llm.Similarity.ivfPqServe(spark, e, coarse, cb,
      spark.read.parquet(s"$rb/coded").select("vec_id", "bucket", "codes")))
    assert(served == full,
      s"append under the rebuilt state diverged from the rebuilt serve; " +
        s"first diff: ${served.zip(full).find { case (a, b) => a != b }}")
  }

  test("q_index_policy: rebuild=0 on the clean corpus, rebuild=1 under " +
      "the injected model-swap drift, thresholds hold 2x margin") {
    def rowsOf(df: org.apache.spark.sql.DataFrame) = {
      val r = df.collect()
      assert(r.length == 1, "policy must emit exactly one decision row")
      r
    }
    def decision(r: Array[org.apache.spark.sql.Row]) =
      (r(0).getDouble(0), r(0).getDouble(3), r(0).getInt(6))
    // clean corpus: the key's own path (monitor -> policy), deterministic;
    // collected ONCE and reused for both the decision tuple and the
    // determinism compare (ADVICE r16)
    val a = rowsOf(llm.Similarity.qIndexPolicy(spark, sf001))
    val (cleanShift, cleanRatio, cleanDecision) = decision(a)
    assert(cleanDecision == 0,
      s"clean corpus must not trigger a rebuild " +
        s"(shift=$cleanShift ratio=$cleanRatio)")
    // both statistics sit at least 1.5x BELOW their thresholds — the
    // policy isn't one noise wiggle away from a spurious rebuild.
    // (1.5x, not 2x: the clean mqe ratio is ~1.21, not ~1.0, because
    // day-2 is out-of-sample for the day-1-trained codebooks)
    assert(cleanShift * 1.5 <= llm.Similarity.PolicyShiftThresh,
      s"clean shift $cleanShift too close to threshold")
    assert(cleanRatio * 1.5 <= llm.Similarity.PolicyMqeRatioThresh,
      s"clean mqe ratio $cleanRatio too close to threshold")
    val b = rowsOf(llm.Similarity.qIndexPolicy(spark, sf001))
    assert(a.map(_.toSeq).toSeq == b.map(_.toSeq).toSeq,
      "policy decision is not deterministic")
    // injected drift: the same model-swap injection the monitor test
    // uses (day-2 pulled toward all-ones, rescaled to norm 2)
    val (base, coarse, cb) =
      llm.Similarity.ensureUpdateArtifact(spark, sf001)
    val e = llm.Similarity.unitVectors(spark, sf001)
    val shifted = e.filter(col("vec_id") % 4 === 3)
      .withColumn("raw", transform(col("unit"), x => x + lit(1.0)))
      .withColumn("nrm", sqrt(aggregate(
        transform(col("raw"), x => x * x), lit(0.0), (acc, x) => acc + x)))
      .select(col("vec_id"),
        transform(col("raw"), x => x * 2.0 / col("nrm")).as("unit"))
    val day1Post = spark.read.parquet(s"$base/coded")
      .filter(col("day") === 1)
      .select("day", "vec_id", "bucket", "codes")
    val shiftedPost = llm.Similarity.ivfPqEncode(spark, shifted, coarse, cb)
      .withColumn("day", lit(2))
      .select("day", "vec_id", "bucket", "codes")
    val vectors = e.filter(col("vec_id") % 4 =!= 3)
      .select("vec_id", "unit").unionByName(shifted)
    val (dShift, dRatio, dDecision) = decision(rowsOf(llm.Similarity.indexPolicy(
      llm.Similarity.driftMetrics(spark, cb,
        day1Post.unionByName(shiftedPost), vectors))))
    info(s"clean: shift=$cleanShift ratio=$cleanRatio; " +
      s"drifted: shift=$dShift ratio=$dRatio")
    assert(dDecision == 1,
      s"injected drift must trigger a rebuild (shift=$dShift ratio=$dRatio)")
    // and with 2x margin ABOVE at least one threshold
    assert(dShift >= 2 * llm.Similarity.PolicyShiftThresh ||
      dRatio >= 2 * llm.Similarity.PolicyMqeRatioThresh,
      s"drifted stats too close to thresholds: shift=$dShift ratio=$dRatio")
  }

  test("q_index_rollback: rollback serves the prior artifact " +
      "row-identically and the retention window prunes") {
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSeq
    val served = rows(llm.Similarity.qIndexRollback(spark, sf001))
    val root = llm.Similarity.lastStore.get
    // the pointer moved back to the good version
    assert(llm.Similarity.readCurrent(root) == "v1",
      s"CURRENT is ${llm.Similarity.readCurrent(root)}, expected v1")
    // rollback serves the prior (good) artifact row-identically
    val e = llm.Similarity.unitVectors(spark, sf001)
    def serveFrom(v: String) = {
      val (c, cb) = llm.Similarity.readIvfPqState(spark, s"$root/$v")
      rows(llm.Similarity.ivfPqServe(spark, e, c, cb,
        spark.read.parquet(s"$root/$v/coded")))
    }
    assert(served == serveFrom("v1"),
      "post-rollback serve diverged from the v1 artifact")
    // the bad version was genuinely different — rollback changed reality
    assert(serveFrom("v2") != served,
      "bad version served identically; the incident fixture is vacuous")
    // the bad version stays retained (incident evidence), and
    // publishing past the window prunes the oldest: publish v3, v4 on
    // a tiny corpus -> v1 must be pruned, CURRENT follows the publishes
    llm.Similarity.publishVersion(spark, e.filter(col("vec_id") < 50),
      root): Unit
    llm.Similarity.publishVersion(spark, e.filter(col("vec_id") < 50),
      root): Unit
    assert(llm.Similarity.listVersions(root) == Seq(2, 3, 4),
      s"retention window broken: ${llm.Similarity.listVersions(root)}")
    assert(llm.Similarity.readCurrent(root) == "v4")
    // no torn pointer writes left behind
    assert(!new java.io.File(root, ".CURRENT.tmp").exists())
  }

  test("IVF-bucketed embed dedup: recall >= 0.95 and exact precision") {
    val exact = llm.DedupVariants.qDedupEmbed(spark, sf001)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val bucketed = llm.DedupVariants.qDedupEmbedBucketed(spark, sf001)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // the final filter is the exact cosine predicate, so every returned
    // pair must also be in the exact twin (precision = 1.0)...
    assert(bucketed.subsetOf(exact),
      s"false positives: ${(bucketed -- exact).take(5)}")
    // ...and the unioned multi-quantizer assignment (4 nearest per each
    // of 3 independent fits) must keep recall high even for
    // boundary-straddling pairs
    val recall = (exact & bucketed).size.toDouble / exact.size
    assert(recall >= 0.95, s"recall=$recall (${bucketed.size}/${exact.size})")
  }

  test("IVF-bucketed embed dedup holds recall >= 0.9 at sf0.1 too " +
      "(the bench corpus — 4x the vectors, derived K = n/occupancy)") {
    // the r16 multi-quantizer union measured 0.936 here vs the retired
    // MLlib single-fit's 0.885: this floor would have FAILED the old
    // design, so it pins the at-scale advantage, not just the toy-scale
    // contract. Round 18's derived K (n/25, VERDICT r17 item 6) lands
    // on exactly the retuned K=80 at this corpus (n=2000), so the
    // measured recall point carries over; at smaller corpora K shrinks
    // (relatively MORE candidates per vector — recall rises toward
    // brute force), which the sf0.001 floor above exercises
    val sf01 = "/root/testdata/sf0.1"
    val exact = llm.DedupVariants.qDedupEmbed(spark, sf01)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val bucketed = llm.DedupVariants.qDedupEmbedBucketed(spark, sf01)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(bucketed.subsetOf(exact),
      s"false positives: ${(bucketed -- exact).take(5)}")
    val recall = (exact & bucketed).size.toDouble / exact.size
    assert(recall >= 0.9, s"recall=$recall (${bucketed.size}/${exact.size})")
  }

  test("ngram-Jaccard dedup finds the same pairs as MinHash-LSH here") {
    val exact = llm.DedupVariants.qDedupNgram(spark, sf001)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = llm.Dedup.qDedupNear(spark, sf001)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact == lsh)
  }

  test("stop-shingle cap: recall unchanged at the production threshold") {
    // the production cap (StopShingleMaxDf) must be invisible on the
    // harness corpus: identical pair set to a fully uncapped run
    val capped = llm.DedupVariants.qDedupNgram(spark, sf001)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val uncapped = llm.DedupCore
      .ngramPairs(spark, sf001, Long.MaxValue)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped == uncapped,
      s"capped=${capped.size} uncapped=${uncapped.size}")
    assert(capped.nonEmpty) // the corpus has constructed near-dups
  }

  test("stop-shingle cap actually prunes when the threshold trips") {
    // maxDf=1 drops every shingle shared by >=2 docs — exactly the ones
    // that generate candidates — so the pair set must collapse to empty;
    // proves the cap is live code, not a dead branch
    val capped = llm.DedupCore.ngramPairs(spark, sf001, 1L)
      .select("id_a", "id_b").collect()
    assert(capped.isEmpty, s"expected no pairs at maxDf=1, got ${capped.length}")
  }

  test("near-dup bucket cap actually prunes when the threshold trips") {
    // maxDf=1 drops every min-hash bucket shared by >=2 docs — exactly
    // the ones that generate candidates — so q_dedup_near's pair set
    // must collapse to empty, while the production cap finds pairs
    assert(llm.Dedup.nearDupPairs(spark, sf001,
      llm.DedupCore.StopShingleMaxDf).count() > 0)
    val capped = llm.Dedup.nearDupPairs(spark, sf001, 1L)
      .select("id_a", "id_b").collect()
    assert(capped.isEmpty, s"expected no pairs at maxDf=1, got ${capped.length}")
  }

  test("simhash pairs include every true near-dup (banding recall)") {
    val truth = llm.DedupVariants.qDedupNgram(spark, sf001)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val sim = llm.DedupVariants.qDedupSimhash(spark, sf001)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (truth & sim).size.toDouble / truth.size
    assert(recall >= 0.8, s"simhash recall=$recall")
  }

  test("multimodal decode recovers header dims and band stats per row") {
    // (doc_id, n_bytes, width, height, channels, band_means)
    val a = multimodal.Multimodal.qMmDecode(spark, sf001).collect()
    assert(a.nonEmpty)
    // decoded dims must equal the synthesis rule recomputed from the
    // source table — the decoder only saw the payload bytes, so a match
    // proves the header round-trip
    val nChars = Tables.documents(spark, sf001)
      .select("doc_id", "n_chars").collect()
      .map(r => r.getLong(0) -> r.getLong(1).toInt).toMap
    a.foreach { r =>
      val (id, w, h, c) =
        (r.getLong(0), r.getInt(2), r.getInt(3), r.getInt(4))
      assert(w == nChars(id) % 16 + 1, s"doc $id width")
      assert(h == nChars(id) % 13 + 2, s"doc $id height")
      assert(c == (if (id % 2 == 0) 3 else 1), s"doc $id channels")
      assert(r.getInt(1) == 9 + w * h * c, s"doc $id payload size")
      val means = r.getSeq[Float](5)
      assert(means.length == c, s"doc $id band count")
      assert(means.forall(m => m >= 0f && m <= 255f))
    }
    // run-to-run deterministic (pure function of the row)
    val b = multimodal.Multimodal.qMmDecode(spark, sf001).collect()
    assert(a.map(_.toString).sameElements(b.map(_.toString)))
  }

  test("GrfCodec roundtrips dims and band means over a dim/text grid") {
    val texts = Seq("", "a", "hello world", "x" * 1000,
      "éü中文 mixed unicode")
    for {
      w <- Seq(1, 2, 16, 255)
      h <- Seq(1, 3, 14)
      c <- Seq(1, 3, 4)
      text <- texts
    } {
      val bytes = multimodal.Multimodal.GrfCodec.encode(text, w, h, c)
      assert(bytes.length == 9 + w * h * c)
      val (dw, dh, dc, means) =
        multimodal.Multimodal.GrfCodec.decode(bytes)
      assert((dw, dh, dc) == (w, h, c), s"dims for w=$w h=$h c=$c")
      assert(means.length == c)
      // band means equal a direct recomputation from the pixel body
      val body = bytes.drop(9)
      (0 until c).foreach { b =>
        val band = body.indices.filter(_ % c == b).map(body(_) & 0xff)
        val expected = (band.map(_.toLong).sum.toDouble / (w * h)).toFloat
        assert(means(b) == expected, s"band $b mean for w=$w h=$h c=$c")
      }
    }
  }

  test("GrfCodec rejects payloads with a bad magic or truncated body") {
    val ok = multimodal.Multimodal.GrfCodec.encode("hello world", 4, 3, 3)
    val (w, h, c, means) = multimodal.Multimodal.GrfCodec.decode(ok)
    assert((w, h, c) == (4, 3, 3) && means.length == 3)
    val badMagic = ok.clone(); badMagic(0) = 'X'.toByte
    intercept[IllegalArgumentException] {
      multimodal.Multimodal.GrfCodec.decode(badMagic)
    }
    intercept[IllegalArgumentException] {
      multimodal.Multimodal.GrfCodec.decode(ok.dropRight(1))
    }
  }

  test("GrfCodec.resizeHalf subsamples exactly the even-coordinate " +
      "pixels and re-encodes a valid payload") {
    for {
      w <- Seq(1, 2, 5, 16)
      h <- Seq(1, 3, 14)
      c <- Seq(1, 3)
    } {
      val in = multimodal.Multimodal.GrfCodec.encode("resize me", w, h, c)
      val out = multimodal.Multimodal.GrfCodec.resizeHalf(in)
      val (nw, nh, nc, _) = multimodal.Multimodal.GrfCodec.decode(out)
      assert((nw, nh, nc) ==
        (math.max(1, w / 2), math.max(1, h / 2), c),
        s"dims for w=$w h=$h c=$c")
      // nearest-neighbor law: out(x, y, b) == in(2x, 2y, b), exactly
      for (y <- 0 until nh; x <- 0 until nw; b <- 0 until c)
        assert(out(9 + (y * nw + x) * c + b) ==
          in(9 + ((2 * y) * w + 2 * x) * c + b),
          s"pixel ($x,$y,$b) for w=$w h=$h c=$c")
    }
  }

  test("q_mm_resize halves dims per row, deterministic across runs") {
    val a = multimodal.Multimodal.qMmResize(spark, sf001).collect()
    assert(a.nonEmpty)
    a.foreach { r =>
      val (w, h, nw, nh) =
        (r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4))
      assert(nw == math.max(1, w / 2) && nh == math.max(1, h / 2),
        s"doc ${r.getLong(0)} dims")
      val c = r.getInt(5)
      assert(r.getInt(7) == 9 + nw * nh * c,
        s"doc ${r.getLong(0)} resized payload size")
      assert(r.getString(8).length == 64)
    }
    val b = multimodal.Multimodal.qMmResize(spark, sf001).collect()
    assert(a.map(_.toString).sameElements(b.map(_.toString)))
  }

  test("GrfCodec rejects crafted headers that overflow the Int length " +
      "check or declare zero dims") {
    // 32768×32768×4 = 2³² ≡ 0 in Int arithmetic — under the old Int
    // length math a NINE-BYTE payload with this header passed the
    // `length == 9 + n` check (n wrapped to 0) and "decoded" to all-zero
    // band means; with the length computed in Long it must be rejected
    // as truncated (round-9 advice)
    val crafted = new Array[Byte](9)
    System.arraycopy(multimodal.Multimodal.GrfCodec.Magic, 0, crafted, 0, 4)
    crafted(4) = 0x80.toByte; crafted(5) = 0x00 // width 32768
    crafted(6) = 0x80.toByte; crafted(7) = 0x00 // height 32768
    crafted(8) = 0x04 // channels 4
    intercept[IllegalArgumentException] {
      multimodal.Multimodal.GrfCodec.decode(crafted)
    }
    // zero-dim header (unencodable: encode requires ≥1) must be
    // rejected rather than divide by a zero perBand
    val zeroDim = multimodal.Multimodal.GrfCodec.encode("x", 1, 1, 1)
      .clone()
    zeroDim(4) = 0; zeroDim(5) = 0 // width 0 (length now mismatched too)
    intercept[IllegalArgumentException] {
      multimodal.Multimodal.GrfCodec.decode(zeroDim)
    }
  }

  test("knn predictions agree with a driver-side recomputation") {
    val topk = llm.Similarity.qSimTopk(spark, sf001)
      .select("qid", "cid").collect().map(r => (r.getLong(0), r.getLong(1)))
    val labels = Tables.embeddings(spark, sf001)
      .select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val expected = topk.groupBy(_._1).map { case (q, ns) =>
      val votes = ns.map(n => labels(n._2))
        .groupBy(identity).map { case (l, v) => (l, v.length) }
      q -> votes.toSeq.minBy { case (l, n) => (-n, l) }._1
    }
    val got = llm.Similarity.qKnnClassify(spark, sf001).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got == expected)
  }

  test("hll sketch: merged halves equal the single-pass sketch, " +
    "within 5% of exact") {
    val merged = relational.Aggregates.qAggSketchHll(spark, sf001)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // single-pass sketch over the un-split data at the same lgConfigK
    val direct = Tables.events(spark, sf001)
      .groupBy("event_type")
      .agg(hll_sketch_estimate(
        hll_sketch_agg(col("user_id"), lit(12))).as("est"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(merged == direct,
      s"union-of-partials must equal the single-pass sketch: " +
        s"$merged vs $direct")
    val exact = Tables.events(spark, sf001)
      .groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("d"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(merged.keySet == exact.keySet)
    exact.foreach { case (k, d) =>
      assert(math.abs(merged(k) - d).toDouble / d <= 0.05,
        s"group $k: est=${merged(k)} exact=$d")
    }
  }

  test("persisted hll sketches re-merge from DISK to the exact " +
      "single-pass estimates, within 5% of true distincts") {
    val persisted = relational.Aggregates.qAggSketchPersist(spark, sf001)
      .collect().map(r => (r.getString(0), (r.getLong(1), r.getLong(2))))
      .toMap
    // HLL union at the same lgConfigK is lossless: the re-merged
    // from-disk estimate must EQUAL the direct single-pass sketch
    val direct = Tables.events(spark, sf001)
      .groupBy("event_type")
      .agg(hll_sketch_estimate(
        hll_sketch_agg(col("user_id"), lit(12))).as("est"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(persisted.view.mapValues(_._2).toMap == direct,
      s"from-disk merge must equal the single-pass sketch: " +
        s"$persisted vs $direct")
    // the stored-partial count is the per-type day count
    val days = Tables.events(spark, sf001)
      .groupBy("event_type")
      .agg(countDistinct(to_date(col("ts"))).as("d"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(persisted.view.mapValues(_._1).toMap == days)
    val exact = Tables.events(spark, sf001)
      .groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("d"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    exact.foreach { case (k, d) =>
      assert(math.abs(persisted(k)._2 - d).toDouble / d <= 0.05,
        s"group $k: est=${persisted(k)._2} exact=$d")
    }
  }
}
