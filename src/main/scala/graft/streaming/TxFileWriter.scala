package graft.streaming

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write.{DataWriter, DataWriterFactory,
  WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming
  .StreamingDataWriterFactory
import org.apache.spark.sql.graft.ParquetEncoder
import org.apache.spark.sql.types._

/** Names of the files ONE task staged and made visible at task commit.
  * A flat-table task stages one; a partitioned or bucketed task stages
  * one per routing directory it saw. A position-delete write also
  * reports its TARGETS: the distinct root-relative data files its
  * addresses point into, which the commit's conflict checks need. */
private[graft] case class TxFileCommitMessage(names: Seq[String],
    targets: Seq[String] = Nil)
    extends WriterCommitMessage

/** One incoming column's write shape: its ordinal in the incoming row,
  * the PHYSICAL name it stages under, the incoming type and the declared
  * type the file stores (a narrower incoming numeric widens in the
  * writer). */
private[graft] case class TxWriteCol(rowIdx: Int, phys: String,
    incoming: DataType, declared: DataType)

/** The validated write plan shipped to tasks: the file columns
  * (excluding the partition columns — a partitioned file's values live in
  * its directory names, Spark-layout style), the partition routing
  * columns (outermost first) or the bucket spec, the FRAME column names
  * the DSv2 write distribution clusters on, the incoming row arity, and
  * the top-level directory (`data`, or `deletes` for position-delete
  * files — see [[TxWritePlan.deletes]]). */
private[graft] case class TxWritePlan(root: String,
    fileCols: Seq[TxWriteCol], parts: Seq[TxWriteCol],
    distCols: Seq[String], numFields: Int,
    bucket: Option[(TxWriteCol, Int)] = None, dir: String = "data") {
  parts.foreach { pc =>
    require(Seq(IntegerType, LongType, StringType).contains(pc.incoming),
      s"txtable partition column '${pc.phys}' must be " +
        s"int/bigint/string, got ${pc.incoming.sql}")
  }
  bucket.foreach { case (bc, _) =>
    require(TxBucket.supported(bc.incoming),
      s"txtable bucket column '${bc.phys}' must be int/bigint/string, " +
        s"got ${bc.incoming.sql}")
  }

  def fileSchema: StructType =
    StructType(fileCols.map(c => StructField(c.phys, c.declared)))

  /** A position-delete write: its incoming rows are row addresses. */
  def addresses: Boolean = dir == "deletes"
}

private[graft] object TxWritePlan {
  /** The position-delete plan. Its incoming rows are row addresses,
    * (`_tx_file`, `_tx_pos`) — the scan's own metadata columns, which is
    * also the row id a merge-on-read UPDATE hands its writer. The file
    * stores (`fname` = the target's basename, `pos`); the writer reports
    * the distinct targets in its commit message. */
  def deletes(root: String): TxWritePlan = TxWritePlan(root,
    Seq(TxWriteCol(0, "fname", StringType, StringType),
      TxWriteCol(1, "pos", LongType, LongType)),
    parts = Nil, distCols = Nil, numFields = 2, dir = "deletes")
}

/** The one writer factory of the table format, batch and streaming:
  * the plan, Spark's parquet encoder for its file schema, whether the
  * library stager ([[graft.sources.TxTable.writeData]]) runs it, and the
  * write's id, which every file it stages carries in its name. The
  * library stager sorts each task's input by routing directory, and
  * keeps the layout Spark's own `df.write` gives: a flat data write's
  * first task stages a file even when it has no rows. A position-delete
  * write never stages an empty file. */
private[graft] case class TxWriterFactory(plan: TxWritePlan,
    encoder: ParquetEncoder, library: Boolean = false,
    writeId: String = java.util.UUID.randomUUID.toString)
    extends DataWriterFactory with StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long)
      : DataWriter[InternalRow] =
    new TxTableDataWriter(this, partitionId, taskId)
  override def createWriter(partitionId: Int, taskId: Long, epochId: Long)
      : DataWriter[InternalRow] =
    createWriter(partitionId, taskId)

  /** After the write's job failed, delete every file it staged, visible
    * or hidden: a task can commit before the failure and report after
    * it, so the committed tasks' reports do not name them all. Spark's
    * commit coordinator refuses a commit once the job has failed, so a
    * task still running then deletes its own files. One listing of the
    * write's directory tree, on the failure path only. */
  def discardAll(): Unit = {
    def walk(d: java.io.File): Unit =
      Option(d.listFiles()).toSeq.flatten.foreach { f =>
        if (f.isDirectory) walk(f)
        else if (f.getName.contains(s"-$writeId-"))
          java.nio.file.Files.deleteIfExists(f.toPath): Unit
      }
    walk(new java.io.File(plan.root, plan.dir))
  }
}

/** THE file writer of the table format: every data file and every
  * position-delete file is written by one of these, run by Spark's own
  * V2 writing task. SQL and DataFrame writes and the streaming sink
  * reach it through [[TxTableBatchWrite]], a merge-on-read UPDATE
  * through two of them ([[TxDeltaWriter]]); library appends,
  * compaction, OPTIMIZE and DV DELETE files through
  * [[graft.sources.TxTable.writeData]] and
  * [[graft.sources.TxTable.writeDeletes]].
  *
  * Each row routes to its directory (`<dir>` flat, `data/<k>=<v>/…`
  * partitioned with path escaping and `__HIVE_DEFAULT_PARTITION__` for
  * NULL, `data/__bucket=<b>/` bucketed by the shared [[TxBucket]] hash,
  * a NULL bucket value refused), is projected to the file columns by one
  * UnsafeProjection that Casts narrower numerics up to the declared
  * type (and cuts an address row's path to its basename), and is
  * encoded by Spark's parquet OutputWriter
  * ([[ParquetEncoder]]): the session codec, Spark's encodings and the
  * footer min/max stats that commit-time stats lifting prunes on. A file
  * is written hidden (`.part-…`, invisible to every manifest and
  * directory scan), renamed visible at task commit (same-directory
  * rename: metadata-only) with Hadoop's `.crc` shadow reclaimed, and
  * deleted by abort. Basenames are unique (write id, task id and a
  * per-task sequence number), because position-delete addresses name
  * files by basename.
  *
  * Open files per task: for the library stager, whose input is sorted
  * by routing key within each partition, one at a time; otherwise one per
  * routing directory the task has seen, which the clustered write
  * distribution keeps near 1. */
private[graft] class TxTableDataWriter(factory: TxWriterFactory,
    partitionId: Int, taskId: Long) extends DataWriter[InternalRow] {
  import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast,
    Literal, SubstringIndex, UnsafeProjection}
  import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils

  private val plan = factory.plan

  private val toFile = UnsafeProjection.create(plan.fileCols.map { c =>
    val in = BoundReference(c.rowIdx, c.incoming, nullable = true)
    if (plan.addresses && c.phys == "fname")
      SubstringIndex(in, Literal("/"), Literal(-1)) // the basename
    else if (c.incoming == c.declared) in else Cast(in, c.declared)
  })

  /** Position-delete writes: the distinct target paths seen so far.
    * Addresses arrive grouped by file, so comparing with the last one
    * keeps the set lookups to one per target file. */
  private val targets = scala.collection.mutable.HashSet
    .empty[org.apache.spark.unsafe.types.UTF8String]
  private var lastTarget: org.apache.spark.unsafe.types.UTF8String = _

  private var seq = 0

  private class OneFile(dir: String) {
    seq += 1
    val fname =
      s"part-dsv2-$partitionId-$taskId-${factory.writeId}-$seq.parquet"
    private val d = new java.io.File(plan.root, dir)
    d.mkdirs(): Unit
    val hidden = new java.io.File(d, s".$fname")
    val visible = new java.io.File(d, fname)
    val crc = new java.io.File(d, s"..$fname.crc")
    val rel = s"$dir/$fname"
    val writer = factory.encoder.open(hidden.getPath)
  }

  private val open =
    scala.collection.mutable.LinkedHashMap.empty[String, OneFile]
  private val closed = scala.collection.mutable.ArrayBuffer.empty[OneFile]

  private def dirOf(row: InternalRow): String = plan.bucket match {
    case Some((bc, n)) =>
      require(!row.isNullAt(bc.rowIdx),
        "txtable bucketed write: NULL bucket value refused " +
          s"(column '${bc.phys}')")
      val b = bc.incoming match {
        case IntegerType => TxBucket.ofLong(row.getInt(bc.rowIdx).toLong, n)
        case LongType => TxBucket.ofLong(row.getLong(bc.rowIdx), n)
        case _ => TxBucket.ofString(row.getUTF8String(bc.rowIdx).toString, n)
      }
      s"data/__bucket=$b"
    case None if plan.parts.isEmpty => plan.dir
    case None =>
      "data/" + plan.parts.map { pc =>
        // NULL partition values land under Spark's Hive default
        // partition directory and read back as NULL
        val v =
          if (row.isNullAt(pc.rowIdx))
            ExternalCatalogUtils.DEFAULT_PARTITION_NAME
          else ExternalCatalogUtils.escapePathName(pc.incoming match {
            case IntegerType => row.getInt(pc.rowIdx).toString
            case LongType => row.getLong(pc.rowIdx).toString
            case _ => row.getUTF8String(pc.rowIdx).toString
          })
        s"${pc.phys}=$v"
      }.mkString("/")
  }

  override def write(row: InternalRow): Unit = {
    // arity guard: the plan's row indexes were computed for exactly
    // this layout — a mismatch must fail loudly, never write misaligned
    // columns
    require(row.numFields == plan.numFields,
      s"txtable writer: row has ${row.numFields} fields, plan " +
        s"expects ${plan.numFields} — row layout drifted")
    if (plan.addresses) {
      val t = row.getUTF8String(0)
      if (t != lastTarget) {
        lastTarget = t.clone() // the incoming row's buffer is reused
        targets += lastTarget
      }
    }
    val dir = dirOf(row)
    val f = open.getOrElse(dir, {
      if (factory.library) {
        open.values.foreach { o => o.writer.close(); closed += o }
        open.clear()
      }
      val o = new OneFile(dir)
      open(dir) = o
      o
    })
    f.writer.write(toFile(row))
  }

  override def commit(): TxFileCommitMessage = {
    if (factory.library && partitionId == 0 && open.isEmpty &&
        plan.parts.isEmpty && plan.bucket.isEmpty && !plan.addresses)
      open(plan.dir) = new OneFile(plan.dir)
    open.values.foreach(_.writer.close())
    val names = (closed ++ open.values).toSeq.map { f =>
      java.nio.file.Files.move(f.hidden.toPath, f.visible.toPath): Unit
      java.nio.file.Files.deleteIfExists(f.crc.toPath): Unit
      f.rel
    }
    TxFileCommitMessage(names,
      targets.toSeq.map(_.toString.stripPrefix(s"${plan.root}/")))
  }

  override def abort(): Unit = {
    open.values.foreach(f => scala.util.Try(f.writer.close()))
    (closed ++ open.values).foreach { f =>
      Seq(f.hidden, f.visible, f.crc).foreach(p =>
        java.nio.file.Files.deleteIfExists(p.toPath): Unit)
    }
  }

  override def close(): Unit = ()
}
