package org.apache.spark.ml.graft

import org.apache.spark.ml.feature.{BucketedRandomProjectionLSHModel,
  MinHashLSHModel}
import org.apache.spark.ml.linalg.Vector

/** The one `protected[ml]` doorway the inlined LSH candidate joins need:
  * the MODEL'S OWN keyDistance (exact Jaccard distance over nonzero
  * index sets for MinHash, euclidean for random projection), so the
  * exact-filter stages of the rebuilt q_dedup_near and q_sim_lsh plans
  * compute bit-identical distances to `approxSimilarityJoin` —
  * reimplementing them would invite silent drift if MLlib's iteration
  * order ever changes. Same package-doorway idiom as
  * [[org.apache.spark.sql.graft.PlanBridge]]. */
object LshBridge {
  def jaccardDistance(m: MinHashLSHModel, x: Vector, y: Vector): Double =
    m.keyDistance(x, y)

  def euclideanDistance(m: BucketedRandomProjectionLSHModel, x: Vector,
      y: Vector): Double =
    m.keyDistance(x, y)
}
