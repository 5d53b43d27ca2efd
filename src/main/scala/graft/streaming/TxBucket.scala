package graft.streaming

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ApplyFunctionExpression,
  Literal}
import org.apache.spark.sql.functions.when
import org.apache.spark.sql.graft.PlanBridge
import org.apache.spark.sql.connector.catalog.functions.{BoundFunction,
  ScalarFunction, UnboundFunction}
import org.apache.spark.sql.types.{DataType, IntegerType, LongType,
  StringType, StructType}

/** THE bucket function of the txtable format (round 20, VERDICT r19
  * item 1 — storage-partitioned joins): one deterministic
  * value → bucket-id mapping shared by every surface that must agree —
  *
  *  - the table's one file writer routes each row to
  *    `data/__bucket=<b>/` (and the library stager sorts by it),
  *  - the scan groups planned files per bucket and reports
  *    `KeyGroupedPartitioning(bucket(n, col))`,
  *  - the [[TxTableCatalog]] FunctionCatalog serves this same function
  *    under the name `bucket`, which is what lets Catalyst RESOLVE the
  *    reported transform and prove two txtable scans co-partitioned
  *    (Spark's storage-partitioned join resolves a connector bucket
  *    transform through the TABLE's FunctionCatalog — the Iceberg
  *    design).
  *
  * The hash is a splitmix64-style finalizer for integrals (every input
  * bit avalanches — raw `v % n` would alias arithmetic key patterns
  * straight into bucket skew) and FNV-1a 64 over UTF-8 bytes for
  * strings, then a non-negative floor-mod into [0, n). Hash quality
  * only shapes SKEW; correctness needs only determinism + agreement,
  * which sharing this object guarantees. */
private[graft] object TxBucket {

  /** splitmix64 finalizer — the standard 64-bit avalanche mixer. */
  private def mix64(v0: Long): Long = {
    var z = v0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  private def fnv1a64(bytes: Array[Byte]): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < bytes.length) {
      h = (h ^ (bytes(i) & 0xffL)) * 0x100000001b3L
      i += 1
    }
    h
  }

  def ofLong(v: Long, n: Int): Int =
    java.lang.Math.floorMod(mix64(v), n.toLong).toInt

  def ofString(v: String, n: Int): Int =
    java.lang.Math.floorMod(fnv1a64(
      v.getBytes(java.nio.charset.StandardCharsets.UTF_8)), n.toLong).toInt

  /** `c`'s bucket id as a Column: the key the library stager sorts a
    * bucketed write by, so each task writes one bucket's file at a
    * time. NULL stays NULL; the writer refuses it. */
  def column(c: Column, dt: DataType, n: Int): Column =
    when(c.isNotNull, PlanBridge.column(ApplyFunctionExpression(
      new TxBucketBound(dt), Seq(Literal(n), PlanBridge.expression(c)))))

  /** Supported bucket-column types (mirrors the partition-column set). */
  def supported(dt: DataType): Boolean =
    dt == IntegerType || dt == LongType || dt == StringType
}

/** The catalog-served `bucket` function: `bind` sees
  * `(int numBuckets, <column>)` — exactly the shape
  * V2ExpressionUtils hands a FunctionCatalog when resolving a reported
  * `bucket(n, col)` transform. */
private[streaming] class TxBucketUnbound extends UnboundFunction {
  override def name(): String = "bucket"
  override def description(): String =
    "bucket(numBuckets, col) — txtable storage-bucketing hash " +
      "(int/bigint: splitmix64, string: FNV-1a 64; floor-mod into " +
      "[0, numBuckets))"
  override def bind(inputType: StructType): BoundFunction = {
    require(inputType.fields.length == 2,
      s"bucket takes (numBuckets, col), got ${inputType.catalogString}")
    require(inputType.fields(0).dataType == IntegerType,
      s"bucket's first argument is the INT bucket count, got " +
        inputType.fields(0).dataType.catalogString)
    val dt = inputType.fields(1).dataType
    require(TxBucket.supported(dt),
      s"bucket column must be int/bigint/string, got ${dt.catalogString}")
    new TxBucketBound(dt)
  }
}

/** Bound per column type; `canonicalName` is what Spark compares to
  * prove two scans' bucket transforms are THE SAME function — both
  * sides of a txtable join bind through this class, so co-bucketed
  * tables always match. */
private[streaming] class TxBucketBound(dt: DataType)
    extends ScalarFunction[Integer] {
  override def inputTypes(): Array[DataType] = Array(IntegerType, dt)
  override def resultType(): DataType = IntegerType
  override def name(): String = "bucket"
  override def canonicalName(): String =
    s"graft.txtable.bucket(${dt.catalogString})"
  override def isResultNullable: Boolean = false
  override def produceResult(input: InternalRow): Integer = {
    val n = input.getInt(0)
    dt match {
      case IntegerType => TxBucket.ofLong(input.getInt(1).toLong, n)
      case LongType => TxBucket.ofLong(input.getLong(1), n)
      case StringType => TxBucket.ofString(input.getUTF8String(1).toString, n)
      case other => sys.error(s"unreachable: $other passed bind")
    }
  }
}
