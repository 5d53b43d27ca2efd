package graft.streaming

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write.{DeltaBatchWrite, DeltaWrite,
  DeltaWriteBuilder, DeltaWriter, DeltaWriterFactory, LogicalWriteInfo,
  PhysicalWriteInfo, RowLevelOperation, RowLevelOperationBuilder,
  RowLevelOperationInfo, SupportsDelta, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.graft.ParquetEncoder
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.sources.TxTable

/** SQL row-level DML (round 19, VERDICT r18 item 3): `DELETE FROM`,
  * `UPDATE` and `MERGE INTO` over catalog-addressed txtable tables,
  * via Spark's row-level-operation hooks. Library keys address a table
  * by its path name (`graft_tx.`/abs/root``). The operation
  * [[TxRowLevelOperationBuilder.build]] returns fixes Spark's plan per
  * COMMAND — no option picks it:
  *
  *  - UPDATE is MERGE-ON-READ ([[TxDeltaOperation]], Spark's WriteDelta
  *    plan — the Delta Lake deletion-vector / Iceberg v2 position-delete
  *    design). Its row id is (`_tx_file`, `_tx_pos`). Spark scans the
  *    table once with the condition pushed into
  *    [[TxTableScanBuilder.pushFilters]] (stats file skipping) and hands
  *    each MATCHED row to a [[TxDeltaWriter]]: the old row's address
  *    goes to a position-delete file, the new row to a data file. The
  *    commit publishes `prev ++ data ++ deletes` and removes nothing.
  *    One Spark job; it writes O(matched rows).
  *  - MERGE and the DELETEs the fast path below cannot take are
  *    COPY-ON-WRITE (Spark's GROUP-BASED ReplaceData plan, the machinery
  *    Iceberg's copy-on-write mode rides): a scan of the table plus a
  *    query RECOMPUTING the surviving / merged rows, written back
  *    through [[TxGroupReplaceWrite]]. GROUP SELECTION IS FILE PRUNING:
  *    the pushed condition lets the source skip whole groups — the
  *    manifest-stats skipping the batch scan already does. A MERGE's ON
  *    condition references the source relation, so nothing is
  *    pushable; the runtime group filter ([[TxRuntimeFilteredScan]])
  *    then keeps only the files holding a matched row. MERGE stays
  *    copy-on-write because its rewrite leaves one compact file: merge-
  *    on-read would keep the old files, a small delta file and its
  *    delete file per MERGE alive until OPTIMIZE, and the version before
  *    OPTIMIZE that VACUUM retains would carry them all.
  *  - METADATA-DELETE FAST PATH. [[TxTableTable]] also implements
  *    SupportsDelete: a `DELETE FROM … WHERE` whose condition converts
  *    entirely to source filters never rewrites a file — the optimizer
  *    swaps the ReplaceData plan for [[TxTable.deleteVector]]'s
  *    one-job position-delete commit. Subquery or otherwise
  *    unconvertible conditions (`%`, `IN (SELECT …)`) keep the group
  *    rewrite.
  *
  * THE SCAN AND THE WRITE SHARE ONE OPERATION INSTANCE: the scan pins
  * the version it read and records the files it planned (the groups);
  * the write commits through [[TxTable.commitReplace]] with the files
  * it replaces (copy-on-write) or addresses (merge-on-read) as touched
  * and [[TxTableBatchWrite.checkMeta]] as its schema check — the first
  * committer wins on every file a commit removes or addresses. Its two
  * conflicts (`concurrent rewrite conflict`, `concurrent
  * position-delete conflict`) are retryable: re-run the statement on
  * the new snapshot. A refused commit makes Spark abort the write,
  * which deletes every file it staged.
  *
  * Scale shape: group planning is driver-side manifest arithmetic; a
  * copy-on-write recomputation is a distributed scan+write of ONLY the
  * affected files' rows, a merge-on-read UPDATE a scan of the pruned
  * files writing only the matched rows and their addresses; no address
  * reaches the driver, and the commit is manifest metadata. */
private[streaming] class TxRowLevelOperationBuilder(root: String,
    info: RowLevelOperationInfo) extends RowLevelOperationBuilder {
  override def build(): RowLevelOperation = info.command match {
    case RowLevelOperation.Command.UPDATE => new TxDeltaOperation(root)
    case cmd => new TxRowLevelOperation(root, cmd)
  }
}

/** What the row-level scan planned: the read version and the kept data
  * files (= the groups the write replaces). */
private[streaming] case class TxPlannedGroups(version: Int,
    kept: Seq[String])

private[streaming] class TxRowLevelOperation(root: String,
    cmd: RowLevelOperation.Command) extends RowLevelOperation {

  /** Set by the shared scan's planInputPartitions; read by the write's
    * commit. Volatile: planning and commit run on driver threads that
    * need not be the same one. Records the STATS-PRUNED file set (before
    * any runtime group filter) — the commit re-derives the final groups
    * as pruned ∩ [[runtimeKeep]], so correctness never depends on WHICH
    * planning call ran last (ADVICE r19: trusting call order would lose
    * rows if a future Spark re-planned the unfiltered partitions after
    * the filtered ones). */
  @volatile private[streaming] var planned: Option[TxPlannedGroups] = None

  /** The exact `_tx_file` path set the runtime group filter admitted
    * (None = no runtime filter ran) — mirrored here by
    * [[TxRuntimeFilteredScan.filter]] so the commit derives its groups
    * from filter state, not planning-call order. */
  @volatile private[streaming] var runtimeKeep: Option[Set[String]] = None

  override def command(): RowLevelOperation.Command = cmd
  override def description(): String = s"txtable group-based $cmd"

  /** `_tx_file` rides every row-level scan (resolved from the table's
    * metadata columns): it is what the runtime group filter collects
    * and prunes on — FILE-grain copy-on-write, the Iceberg `_file`
    * shape (see [[TxRuntimeFilteredScan]]). Requesting a metadata
    * attribute also means Spark's ReplaceData carries a metadata
    * projection, so the writer receives rows PROJECTED to the table
    * schema (no marker-column offset). */
  override def requiredMetadataAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array(org.apache.spark.sql.connector.expressions.Expressions
      .column("_tx_file"))

  /** The ONE version every scan of this operation reads. Spark plans
    * two scans for a command with a runtime group filter — the
    * matching-rows subquery and the rewrite's input — and each would
    * otherwise resolve "current" on its own: a concurrent rewrite
    * landing between them made the subquery admit a file the input
    * scan no longer lists, so a MERGE saw its matches vanish and
    * re-inserted them as new rows. Pinned, both scans agree, and the
    * commit's file check catches the concurrent rewrite. */
  private lazy val readVersion: Int = TxTable.currentVersion(root)

  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : ScanBuilder = {
    val v = readVersion
    val schema = TxTable.inferLogicalSchema(root, v).getOrElse(
      sys.error(s"row-level DML needs a schema-tracking table at $root"))
    new TxTableScanBuilder(schema, root, versionAsOf = Some(v),
      skipChange = false, maxVersions = Int.MaxValue,
      startingVersion = None, recorder = Some(this),
      runtimeFileFilter = groupBased)
  }

  /** Copy-on-write operations rewrite whole groups and take Spark's
    * runtime group filter; a merge-on-read one never does. */
  protected def groupBased: Boolean = true

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): org.apache.spark.sql.connector.write.Write =
        new TxGroupReplaceWrite(root, info.schema(),
          TxRowLevelOperation.this)
    }
}

/** The ReplaceData write: stages the recomputed rows with the ordinary
  * DSv2 writer (schema contract, partitioned routing and all) and
  * commits `prev − plannedGroups ++ staged` — one atomic version whose
  * touched and removed files are both the final groups
  * ([[TxRowLevelOperationBuilder]]). */
private[streaming] class TxGroupReplaceWrite(root: String,
    querySchema: org.apache.spark.sql.types.StructType,
    op: TxRowLevelOperation)
    extends TxTableBatchWrite(root, querySchema, overwrite = false) {

  /** The operation requests the `_tx_file` metadata attribute, so
    * Spark's ReplaceData carries a metadata projection and the
    * DataAndMetadataWritingSparkTask hands this writer rows ALREADY
    * projected to the table schema (the `__row_operation` marker and
    * `_tx_file` are stripped; the 2-arg DataWriter.write default
    * discards the metadata row). Offset 0 — and the writer's arity
    * guard still verifies the layout on every row. */
  override protected def rowIndexOffset: Int = 0

  private def opName: String = op.command() match {
    case RowLevelOperation.Command.DELETE => "delete"
    case RowLevelOperation.Command.UPDATE => "update"
    case RowLevelOperation.Command.MERGE => "merge"
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val staged = messages.collect {
      case m: TxFileCommitMessage => m.names
    }.toSeq.flatten.sorted
    val g = op.planned.getOrElse(sys.error(
      "txtable row-level write committed before its scan planned " +
        "groups — the ReplaceData contract shares one operation " +
        "instance between scan and write"))
    // final groups = stats-pruned files ∩ the runtime filter's admitted
    // set, derived HERE from the filter state itself — never from which
    // planInputPartitions call happened to run last (ADVICE r19)
    val kept = op.runtimeKeep match {
      case None => g.kept
      case Some(paths) => g.kept.filter(f => paths(s"$root/$f"))
    }
    if (kept.isEmpty && staged.isEmpty) return // nothing matched: no-op
    // a refused commit throws; Spark then aborts the write, which
    // deletes the staged files
    TxTable.commitReplace(root, opName, g.version, kept.toSet, kept.toSet,
      staged, checkMeta): Unit
  }
}

/** The merge-on-read UPDATE (see [[TxRowLevelOperationBuilder]]): Spark's
  * WriteDelta plan over the row id (`_tx_file`, `_tx_pos`) — the scan's
  * own address columns, so the position delete this writes and the one
  * the reader applies use one numbering. It pins one read version like
  * the copy-on-write operation, but takes no runtime group filter: the
  * scan feeds the write directly, one Spark job. */
private[streaming] class TxDeltaOperation(root: String)
    extends TxRowLevelOperation(root, RowLevelOperation.Command.UPDATE)
    with SupportsDelta {
  import org.apache.spark.sql.connector.expressions.{Expressions,
    NamedReference}

  override def description(): String = "txtable merge-on-read UPDATE"
  override protected def groupBased: Boolean = false

  override def rowId(): Array[NamedReference] =
    Array(Expressions.column("_tx_file"), Expressions.column("_tx_pos"))
  override def requiredMetadataAttributes(): Array[NamedReference] =
    Array.empty

  override def newWriteBuilder(info: LogicalWriteInfo): DeltaWriteBuilder =
    new DeltaWriteBuilder {
      override def build(): DeltaWrite =
        new TxDeltaWrite(root, info.schema(), TxDeltaOperation.this)
    }
}

/** The WriteDelta write: each task runs a [[TxDeltaWriter]] over two of
  * the table's file writers — the ordinary DSv2 plan for the new rows
  * (schema contract, partitioned and bucketed routing and all) and the
  * position-delete plan for the old rows' addresses. The commit is one
  * `update` version, `prev ++ data ++ deletes`, touching the data files
  * the addresses point into ([[TxRowLevelOperationBuilder]]). No
  * matched row → no file, no commit. */
private[streaming] class TxDeltaWrite(root: String,
    querySchema: org.apache.spark.sql.types.StructType,
    op: TxDeltaOperation)
    extends TxTableBatchWrite(root, querySchema, overwrite = false)
    with DeltaWrite with DeltaBatchWrite {

  override def toBatch: DeltaBatchWrite = this

  @volatile private var factory: TxDeltaWriterFactory = _
  override def createBatchWriterFactory(info: PhysicalWriteInfo)
      : DeltaWriterFactory = {
    val s = org.apache.spark.sql.SparkSession.active
    val deletes = TxWritePlan.deletes(root)
    factory = TxDeltaWriterFactory(
      TxWriterFactory(plan, ParquetEncoder(s, plan.fileSchema)),
      TxWriterFactory(deletes, ParquetEncoder(s, deletes.fileSchema)))
    factory
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val reports = messages.toSeq.collect { case m: TxFileCommitMessage => m }
    val staged = reports.flatMap(_.names).sorted
    if (staged.isEmpty) return // nothing matched: no-op
    val targets = reports.flatMap(_.targets).toSet
    val g = op.planned.getOrElse(sys.error(
      "txtable UPDATE committed before its scan planned — the WriteDelta " +
        "contract shares one operation instance between scan and write"))
    // a refused commit throws; Spark then aborts the write, which
    // deletes the staged files
    TxTable.commitReplace(root, "update", g.version, targets, Set.empty,
      staged, checkMeta): Unit
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    Option(factory).foreach { f =>
      f.rows.discardAll(); f.deletes.discardAll()
    }
}

private[streaming] case class TxDeltaWriterFactory(rows: TxWriterFactory,
    deletes: TxWriterFactory) extends DeltaWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long)
      : DeltaWriter[InternalRow] =
    new TxDeltaWriter(new TxTableDataWriter(rows, partitionId, taskId),
      new TxTableDataWriter(deletes, partitionId, taskId))
}

/** One task's merge-on-read writer. An update is a delete of its old row
  * id plus an insert of its new row; each inner writer opens a file only
  * when its first row arrives. Task commit reports both writers' files
  * and the target data files the addresses point into. */
private[streaming] class TxDeltaWriter(rows: TxTableDataWriter,
    deletes: TxTableDataWriter) extends DeltaWriter[InternalRow] {
  override def delete(meta: InternalRow, id: InternalRow): Unit =
    deletes.write(id)
  override def update(meta: InternalRow, id: InternalRow,
      row: InternalRow): Unit = {
    deletes.write(id); rows.write(row)
  }
  override def insert(row: InternalRow): Unit = rows.write(row)

  override def commit(): WriterCommitMessage = {
    val d = rows.commit()
    val dv = deletes.commit()
    TxFileCommitMessage(d.names ++ dv.names, dv.targets)
  }
  override def abort(): Unit = { rows.abort(); deletes.abort() }
  override def close(): Unit = { rows.close(); deletes.close() }
}
