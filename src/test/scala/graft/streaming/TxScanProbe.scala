package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
  QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec

/** Spec-side view of the txtable scans a query plans: for each scan,
  * the data files it planned after stats skipping and the data files
  * its manifest lists (the scan's "files planned k/n" description, with
  * names). */
object TxScanProbe {
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case other => other +: (other.children ++ other.subqueries)
      .flatMap(nodes)
  }

  /** (planned, listed) data entries of every txtable scan in `df`'s
    * executed plan, in plan order. */
  def scans(df: DataFrame): Seq[(Seq[String], Seq[String])] =
    nodes(df.queryExecution.executedPlan).collect {
      case b: BatchScanExec if b.scan.isInstanceOf[TxTableScan] =>
        b.scan.asInstanceOf[TxTableScan].pruned
    }

  /** (planned, listed) of `df`'s single txtable scan. */
  def planned(df: DataFrame): (Seq[String], Seq[String]) = {
    val all = scans(df)
    require(all.size == 1, s"expected one txtable scan, got ${all.size}")
    all.head
  }

  /** The custom metric values of every txtable scan `df` executed, in
    * plan order (run `df` first). */
  def metrics(df: DataFrame): Seq[Map[String, Long]] =
    nodes(df.queryExecution.executedPlan).collect {
      case b: BatchScanExec if b.scan.isInstanceOf[TxTableScan] =>
        b.scan.supportedCustomMetrics.map(_.name)
          .map(n => n -> b.metrics(n).value).toMap
    }
}
