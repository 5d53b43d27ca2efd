package org.apache.spark.sql.graft

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.hadoop.ParquetInputFormat
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.deploy.SparkHadoopUtil
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.classic
import org.apache.spark.sql.connector.read.PartitionReader
import org.apache.spark.sql.execution.datasources.PartitionedFile
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
  ParquetOptions, ParquetReadSupport, ParquetWriteSupport}
import org.apache.spark.sql.execution.datasources.v2.parquet.{
  ParquetPartitionReaderFactory}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.sql.vectorized.ColumnarBatch
import org.apache.spark.util.SerializableConfiguration

/** Spark's own parquet file reader for one read schema, prepared on the
  * driver and shipped to tasks — the read twin of [[ParquetEncoder]]:
  * the `ParquetPartitionReaderFactory` that `spark.read.parquet`'s DSv2
  * scan runs, over ONE broadcast Hadoop conf. Spark's reader takes the
  * requested schema from that conf, so a decoder serves one schema
  * ([[reading]] derives another from the same broadcast); tasks open
  * files through [[open]] at the cost of one footer read each. What the
  * reader does per file:
  *  - columns resolve by name; a column the file lacks reads as NULL
  *    (request every field nullable);
  *  - int32 and float pages widen to a requested bigint and double;
  *  - the `filters` prune row groups by their parquet statistics (rows
  *    inside kept row groups are not filtered);
  *  - a requested [[RowIndexField]] holds each row's index in its file,
  *    counted across skipped row groups too;
  *  - `partitionValues` append as constant columns after the file's.
  * The conf travels as Spark's `private[spark]` SerializableConfiguration
  * and the factory is `private[sql]`-built, hence this bridge. */
final class ParquetDecoder private (
    factory: ParquetPartitionReaderFactory) extends Serializable {

  /** A decoder of `readSchema` (no constant columns) over this one's
    * broadcast conf: no second conf is broadcast. Its conf — a copy of
    * the broadcast one requesting `readSchema` — is made once per
    * deserialized copy, i.e. once per task. */
  def reading(readSchema: StructType): ParquetDecoder =
    new ParquetDecoder(factory.copy(
      broadcastedConf = new ParquetDecoder.Requesting(
        factory.broadcastedConf, readSchema.json),
      dataSchema = readSchema, readDataSchema = readSchema,
      partitionSchema = new StructType(), filters = Array.empty))

  /** This decoder with other row-group filters (same schema, same
    * broadcast conf), made inside a task: cheap enough to call per file.
    * The factory re-reads its settings from the task's SQL conf: the
    * driver's conf and options arrive without their (transient) maps. */
  def withFilters(filters: Array[Filter]): ParquetDecoder = {
    val conf = SQLConf.get
    new ParquetDecoder(factory.copy(sqlConf = conf, filters = filters,
      options = new ParquetOptions(Map.empty[String, String], conf)))
  }

  /** The rows of the file at `path`: the requested columns, then
    * `partitionValues`. A returned row is valid until the next `next()`.
    * Rows come from the vectorized reader's batches when the schema
    * allows columnar reads (no per-row copy), else from its row reader. */
  def open(path: String, partitionValues: InternalRow)
      : PartitionReader[InternalRow] = {
    // one split spanning the whole file
    val file = PartitionedFile(partitionValues,
      SparkPath.fromPathString(path), 0L, Long.MaxValue, Array.empty,
      0L, Long.MaxValue)
    if (factory.supportColumnarReads(null))
      new ParquetDecoder.BatchRows(factory.buildColumnarReader(file))
    else factory.buildReader(file)
  }
}

object ParquetDecoder {
  /** The field Spark's reader fills with each row's index in its file. */
  val RowIndexField: StructField = StructField(
    ParquetFileFormat.ROW_INDEX_TEMPORARY_COLUMN_NAME, LongType)

  def apply(spark: SparkSession, readSchema: StructType,
      partitionSchema: StructType, filters: Array[Filter])
      : ParquetDecoder = {
    val s = spark.asInstanceOf[classic.SparkSession]
    val sqlConf = s.sessionState.conf
    val conf = s.sessionState.newHadoopConf()
    // the keys Spark's own parquet scan sets before it broadcasts
    conf.set(ParquetInputFormat.READ_SUPPORT_CLASS,
      classOf[ParquetReadSupport].getName)
    request(conf, readSchema.json)
    conf.set(SQLConf.SESSION_LOCAL_TIMEZONE.key,
      sqlConf.sessionLocalTimeZone)
    conf.setBoolean(SQLConf.NESTED_SCHEMA_PRUNING_ENABLED.key,
      sqlConf.nestedSchemaPruningEnabled)
    conf.setBoolean(SQLConf.CASE_SENSITIVE.key, sqlConf.caseSensitiveAnalysis)
    conf.setBoolean(SQLConf.PARQUET_BINARY_AS_STRING.key,
      sqlConf.isParquetBinaryAsString)
    conf.setBoolean(SQLConf.PARQUET_INT96_AS_TIMESTAMP.key,
      sqlConf.isParquetINT96AsTimestamp)
    conf.setBoolean(SQLConf.PARQUET_INFER_TIMESTAMP_NTZ_ENABLED.key,
      sqlConf.parquetInferTimestampNTZEnabled)
    conf.setBoolean(SQLConf.LEGACY_PARQUET_NANOS_AS_LONG.key,
      sqlConf.legacyParquetNanosAsLong)
    val bc = SerializableConfiguration.broadcast(s.sparkContext, conf)
    new ParquetDecoder(ParquetPartitionReaderFactory(sqlConf, bc,
      readSchema, readSchema, partitionSchema, filters, None,
      new ParquetOptions(Map.empty[String, String], sqlConf)))
  }

  private def request(conf: Configuration, schemaJson: String): Unit = {
    conf.set(ParquetReadSupport.SPARK_ROW_REQUESTED_SCHEMA, schemaJson)
    conf.set(ParquetWriteSupport.SPARK_ROW_SCHEMA, schemaJson)
  }

  /** `base`'s conf requesting another schema, copied from the broadcast
    * value where it is first used (a copy, not a fresh conf: no
    * resources are parsed). Serialized with the task, so it ships the
    * schema only. */
  private final class Requesting(
      base: Broadcast[SerializableConfiguration], schemaJson: String)
      extends Broadcast[SerializableConfiguration](base.id) {
    @transient private lazy val conf = {
      val c = new Configuration(base.value.value)
      request(c, schemaJson)
      new SerializableConfiguration(c)
    }
    override protected def getValue(): SerializableConfiguration = conf
    override protected def doUnpersist(blocking: Boolean): Unit = ()
    override protected def doDestroy(blocking: Boolean): Unit = ()
  }

  /** The active session's Hadoop conf, or the process-wide one when no
    * session is active: for driver-side footer reads. */
  def hadoopConf(): Configuration =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .map(_.asInstanceOf[classic.SparkSession].sessionState.newHadoopConf())
      .getOrElse(SparkHadoopUtil.get.conf)

  /** Rows of a columnar reader, one batch at a time. */
  private final class BatchRows(batches: PartitionReader[ColumnarBatch])
      extends PartitionReader[InternalRow] {
    private var rows: java.util.Iterator[InternalRow] =
      java.util.Collections.emptyIterator()
    private var row: InternalRow = _
    override def next(): Boolean = {
      while (!rows.hasNext) {
        if (!batches.next()) return false
        rows = batches.get().rowIterator()
      }
      row = rows.next()
      true
    }
    override def get(): InternalRow = row
    override def close(): Unit = batches.close()
  }
}
