package graft.functions

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType}

/** `collect_bounded(id, bound)` — collect_list over a bigint column whose
  * aggregation buffer NEVER holds more than `bound` elements.
  *
  * Why it exists (the posting-list memory bound): the inverted-index dedup
  * (llm/DedupCore.ngramPairs) builds per-shingle posting lists
  * with `collect_list`, then drops lists with document frequency above the
  * stop-shingle cap. Correct — but the over-cap list is still fully
  * materialized in the aggregation buffer BEFORE the filter sees it, so
  * worst-case aggregation memory tracks the corpus' true max df: a
  * boilerplate shingle in 1% of a 10B-doc corpus would buffer 10^8 ids
  * (~800 MB) on one key even though the very next operator discards it.
  * This aggregate stops appending at `bound` elements (update AND merge),
  * so every buffer is ≤ `bound` longs by construction and the skew
  * guarantee the cap promises holds inside the aggregation exec too.
  *
  * Semantics contract: callers pair it with `count(1) AS df` in the same
  * groupBy and use the array ONLY where `df < bound` (graft uses
  * `bound = maxDf + 1` and filters `df <= maxDf`). Within that contract
  * the result is EXACTLY `collect_list`: a kept group has df < bound, so
  * nothing was ever dropped from its buffer. Past the bound the array
  * content is an arbitrary bound-sized subset (arrival order is partition-
  * nondeterministic — same as unsorted collect_list) whose consumers must
  * not depend on it; determinism comes from the df filter discarding it.
  *
  * Like all TypedImperativeAggregates (collect_list included) this runs
  * under ObjectHashAggregateExec — same exec path, strictly smaller
  * buffers.
  */
case class BoundedCollect(
    child: Expression,
    boundExpr: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[ArrayBuffer[Long]] {

  // the cap must be a compile-time constant: it sizes every buffer, so a
  // per-row value is meaningless (and foldable-only keeps it codegen-free)
  private lazy val bound: Int = boundExpr.eval(InternalRow.empty) match {
    case i: Int if i > 0 => i
    case l: Long if l > 0 && l <= Int.MaxValue => l.toInt
    case other =>
      throw new IllegalArgumentException(
        "collect_bounded bound must be a positive Int-range integer, got " +
          s"$other")
  }

  override def checkInputDataTypes(): TypeCheckResult = {
    if (child.dataType != LongType)
      TypeCheckResult.TypeCheckFailure(
        s"collect_bounded requires a BIGINT input column, got " +
          s"${child.dataType.simpleString} — cast(col as bigint) first")
    else if (!boundExpr.foldable ||
        (boundExpr.dataType != IntegerType && boundExpr.dataType != LongType))
      TypeCheckResult.TypeCheckFailure(
        "collect_bounded bound must be an integer literal")
    else TypeCheckResult.TypeCheckSuccess
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "collect_bounded"
  override def children: Seq[Expression] = Seq(child, boundExpr)

  override def createAggregationBuffer(): ArrayBuffer[Long] =
    new ArrayBuffer[Long]

  override def update(buffer: ArrayBuffer[Long], input: InternalRow)
      : ArrayBuffer[Long] = {
    if (buffer.length < bound) {
      val v = child.eval(input)
      if (v != null) buffer += v.asInstanceOf[Long]
    }
    buffer
  }

  override def merge(buffer: ArrayBuffer[Long], other: ArrayBuffer[Long])
      : ArrayBuffer[Long] = {
    var i = 0
    while (buffer.length < bound && i < other.length) {
      buffer += other(i)
      i += 1
    }
    buffer
  }

  override def eval(buffer: ArrayBuffer[Long]): Any =
    new GenericArrayData(buffer.toArray)

  // serialize/deserialize run once per group per exchange side — pack
  // straight into a byte array (a per-group DataOutputStream allocation
  // chain measurably shows up at millions of groups)
  override def serialize(buffer: ArrayBuffer[Long]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(8 * buffer.length)
    var i = 0
    while (i < buffer.length) { bb.putLong(buffer(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): ArrayBuffer[Long] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val n = bytes.length / 8
    val buf = new ArrayBuffer[Long](n)
    var i = 0
    while (i < n) { buf += bb.getLong(); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): BoundedCollect =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): BoundedCollect =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): BoundedCollect =
    copy(child = newChildren(0), boundExpr = newChildren(1))
}
