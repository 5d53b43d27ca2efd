package org.apache.spark.sql.graft

import org.apache.hadoop.mapreduce.{Job, TaskAttemptID}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.datasources.{OutputWriter,
  OutputWriterFactory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.SerializableConfiguration

/** Spark's own parquet file encoder for one file schema, prepared on the
  * driver and shipped to tasks: `ParquetFileFormat.prepareWrite` fixes
  * the codec (the session's `spark.sql.parquet.compression.codec`), the
  * row conversion, the encodings and the footer metadata exactly as
  * `df.write.parquet` would, and each task opens its files through
  * [[open]]. The Hadoop conf travels as Spark's `private[spark]`
  * SerializableConfiguration, hence this bridge. Timestamps are pinned
  * to INT64 `TIMESTAMP_MICROS` (Spark's default, INT96, carries no
  * usable min/max), so a timestamp column keeps the footer stats data
  * skipping reads. */
final class ParquetEncoder private (factory: OutputWriterFactory,
    conf: SerializableConfiguration, schema: StructType)
    extends Serializable {
  /** A writer of `schema`'s rows into the file at `path`. */
  def open(path: String): OutputWriter =
    factory.newInstance(path, schema,
      new TaskAttemptContextImpl(conf.value, new TaskAttemptID()))
}

object ParquetEncoder {
  def apply(spark: SparkSession, schema: StructType): ParquetEncoder = {
    val s = spark.asInstanceOf[classic.SparkSession]
    val job = Job.getInstance(s.sessionState.newHadoopConf())
    val factory = new ParquetFileFormat()
      .prepareWrite(s, job, Map.empty, schema)
    job.getConfiguration.set(SQLConf.PARQUET_OUTPUT_TIMESTAMP_TYPE.key,
      SQLConf.ParquetOutputTimestampType.TIMESTAMP_MICROS.toString)
    new ParquetEncoder(factory,
      new SerializableConfiguration(job.getConfiguration), schema)
  }
}
