package org.apache.spark.ml.graft

import org.apache.spark.ml.feature.BucketedRandomProjectionLSHModel
import org.apache.spark.ml.linalg.Vector

/** The one `protected[ml]` doorway the inlined LSH candidate join needs:
  * the MODEL'S OWN keyDistance (euclidean for random projection), so the
  * exact-filter stage of the rebuilt q_sim_lsh plan computes
  * bit-identical distances to `approxSimilarityJoin` —
  * reimplementing it would invite silent drift if MLlib's iteration
  * order ever changes. Same package-doorway idiom as
  * [[org.apache.spark.sql.graft.PlanBridge]]. */
object LshBridge {
  def euclideanDistance(m: BucketedRandomProjectionLSHModel, x: Vector,
      y: Vector): Double =
    m.keyDistance(x, y)
}
