package graft.streaming

import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write.{LogicalWriteInfo,
  RowLevelOperation, RowLevelOperationBuilder, RowLevelOperationInfo,
  WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.sources.TxTable

/** SQL row-level DML (round 19, VERDICT r18 item 3): `DELETE FROM`,
  * `UPDATE` and `MERGE INTO` over catalog-addressed txtable tables,
  * via Spark's GROUP-BASED row-level-operation hooks — the same
  * machinery Iceberg's copy-on-write mode rides. This is the format's
  * one row-level write engine; library keys address a table by its
  * path name (`graft_tx.`/abs/root``).
  *
  *  - Catalyst's analyzer rewrites the DML into a ReplaceData plan:
  *    a scan of the table plus a query RECOMPUTING the surviving /
  *    updated / merged rows, written back through this operation.
  *  - GROUP SELECTION IS FILE PRUNING. The planner pushes the command's
  *    condition into [[TxTableScanBuilder.pushFilters]] purely to let
  *    the source skip whole groups — which for this format is exactly
  *    the manifest-stats file skipping the batch scan already does. A
  *    selective `DELETE FROM t WHERE k = 5` therefore rewrites only the
  *    files whose min/max may hold k=5, never the table. A MERGE's ON
  *    condition references the source relation, so nothing is pushable;
  *    the runtime group filter ([[TxRuntimeFilteredScan]]) then keeps
  *    only the files holding a matched row.
  *  - THE SCAN AND THE WRITE SHARE THIS OPERATION INSTANCE: the scan
  *    records the files it planned (the groups), the version it read,
  *    and the position-delete set its recomputation absorbed; the
  *    write's commit replaces exactly those files with the staged
  *    recomputation — `prev − planned ++ staged` — under three OCC
  *    checks on every commit attempt: every planned file is still
  *    current (else `concurrent rewrite conflict`); the position-delete
  *    set is the one the scan applied (else `concurrent position-delete
  *    conflict` — a DV commit removes no data file, so only this check
  *    stops the rewrite resurrecting its rows); and the schema props
  *    are still compatible with the staged files
  *    ([[TxTableBatchWrite.checkMeta]]). The two conflicts are
  *    retryable: re-run the statement on the new snapshot.
  *  - METADATA-DELETE FAST PATH. [[TxTableTable]] also implements
  *    SupportsDelete: a `DELETE FROM … WHERE` whose condition converts
  *    entirely to source filters never rewrites a file — the optimizer
  *    swaps the ReplaceData plan for [[TxTable.deleteVector]]'s
  *    position-delete commit (O(matching rows) merge-on-read, the
  *    Iceberg/Delta DV shape). Subquery or otherwise unconvertible
  *    conditions (`%`, `IN (SELECT …)`) keep the group rewrite.
  *
  * Scale shape: group planning is driver-side manifest arithmetic; the
  * recomputation is a distributed scan+write of ONLY the affected
  * files' rows; the commit is manifest metadata. An unselective UPDATE
  * rewrites what it touches — the same bound as every copy-on-write
  * engine. */
private[streaming] class TxRowLevelOperationBuilder(root: String,
    info: RowLevelOperationInfo) extends RowLevelOperationBuilder {
  override def build(): RowLevelOperation =
    new TxRowLevelOperation(root, info.command)
}

/** What the row-level scan planned: the read version, the kept data
  * files (= the groups the write replaces), and the delete-entry set
  * the recomputation applied. */
private[streaming] case class TxPlannedGroups(version: Int,
    kept: Seq[String], dvs: Seq[String])

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
      runtimeFileFilter = true)
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): org.apache.spark.sql.connector.write.Write =
        new TxGroupReplaceWrite(root, info.schema(),
          TxRowLevelOperation.this)
    }
}

/** The ReplaceData write: stages the recomputed rows with the ordinary
  * DSv2 writer (schema contract, partitioned routing and all) and
  * commits `prev − plannedGroups ++ staged` — one atomic version, with
  * the scan-to-commit conflict checks spelled out on
  * [[TxRowLevelOperationBuilder]]. */
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
      case TxFileCommitMessage(ns) => ns
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
    val keptSet = kept.toSet
    // a refused commit throws; Spark then aborts the write, which
    // deletes the staged files
    TxTable.commitChecked(root, opName, { prev =>
      require(kept.forall(prev.toSet),
        s"concurrent rewrite conflict at $root: a file this $opName " +
          "read is no longer in the current snapshot — retry")
      require(TxTable.deleteEntries(prev) == g.dvs,
        s"concurrent position-delete conflict at $root: the delete " +
          s"set changed since this $opName read its input — " +
          "committing would resurrect freshly-deleted rows; retry")
      prev.filterNot(keptSet) ++ staged
    }, Map.empty, checkMeta): Unit
  }
}
