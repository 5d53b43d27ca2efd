package org.apache.spark.sql.graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.storage.StorageLevel

/** The one `private[sql]` doorway a library-level custom operator needs:
  * wrapping a hand-built [[LogicalPlan]] back into a user-facing
  * DataFrame. `classic.Dataset.ofRows` is `private[sql]`, so this bridge
  * lives under `org.apache.spark.sql` — the standard extension idiom used
  * by Spark-native libraries; everything else in graft.plans sticks to
  * public catalyst/execution APIs. */
object PlanBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** `df`'s rows as a persisted RDD, plus a DataFrame over it that keeps
    * `df`'s statistics and output partitioning — the relation
    * `Dataset.localCheckpoint` builds (`LogicalRDD.fromDataset`), but
    * with the lineage intact, so a lost or unpersisted block recomputes
    * instead of failing the read, and outside the SQL CacheManager. The
    * caller owns the RDD: it materializes and unpersists it. */
  def persisted(df: DataFrame, level: StorageLevel)
      : (DataFrame, RDD[InternalRow]) = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    val rdd = ds.queryExecution.toRdd.map(_.copy()).persist(level)
    (classic.Dataset.ofRows(ds.sparkSession,
      LogicalRDD.fromDataset(rdd, ds, isStreaming = false)), rdd)
  }

  /** Run `job` over `df`'s rows under a new SQL execution id, as
    * `df.write` does, so listeners see the write as one query
    * execution (its jobs, plan and metrics). */
  def withExecution[T](df: DataFrame, name: String)(
      job: RDD[InternalRow] => T): T = {
    val qe = df.asInstanceOf[classic.Dataset[Row]].queryExecution
    org.apache.spark.sql.execution.SQLExecution.withNewExecutionId(qe,
      Some(name))(job(qe.toRdd))
  }

  /** Column ⇄ Expression doorway (Spark 4's Column wraps a ColumnNode;
    * both converters are `private[sql]`). Needed by expressions that are
    * constructed programmatically with non-Expression state — e.g. the
    * broadcast-backed bloom probe, which holds a live Broadcast handle
    * and therefore cannot come from the SQL function registry. */
  def column(e: org.apache.spark.sql.catalyst.expressions.Expression)
      : org.apache.spark.sql.Column =
    classic.ExpressionUtils.column(e)

  def expression(c: org.apache.spark.sql.Column)
      : org.apache.spark.sql.catalyst.expressions.Expression =
    classic.ExpressionUtils.expression(c)

  /** Neutral predicate tree for TxTable's data-skipping layer
    * (graft.sources.TxTable.mayMatch), normalized from the
    * `sources.Filter`s Catalyst pushes into the txtable scan
    * (graft.streaming.TxFilterTree). Anything beyond attribute-vs-literal
    * comparisons, AND/OR, and IN collapses to [[Opaque]] — the
    * evaluator's keep-the-file default. */
  sealed trait PredNode
  final case class PredAnd(l: PredNode, r: PredNode) extends PredNode
  final case class PredOr(l: PredNode, r: PredNode) extends PredNode
  /** `col op value` with op ∈ =, <, <=, >, >=. */
  final case class PredCmp(op: String, col: String, value: Any)
      extends PredNode
  final case class PredIn(col: String, values: Seq[Any]) extends PredNode
  case object Opaque extends PredNode
}
