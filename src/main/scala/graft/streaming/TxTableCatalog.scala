package graft.streaming

import java.util.{Map => JMap}

import org.apache.spark.sql.connector.catalog.{Identifier, SupportsNamespaces, Table, TableCatalog, TableChange}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.sources.TxTable

/** SQL catalog over the transactional table format (round 18): register
  * once —
  * {{{
  *   spark.conf.set("spark.sql.catalog.tx",
  *     classOf[TxTableCatalog].getName)
  *   spark.conf.set("spark.sql.catalog.tx.warehouse", "/data/tx")
  * }}}
  * — and the format is END-TO-END SQL-addressable:
  * `CREATE TABLE tx.db.t (…)`, `INSERT INTO` / `INSERT OVERWRITE`
  * (resolved through the catalog, so the ENGINE validates the frame
  * against the table schema — the half `save()` can't do),
  * `SELECT … FROM tx.db.t` (the DSv2 batch scan: stats skipping,
  * column pruning, post-skipping statistics), and time travel as SQL —
  * `SELECT … FROM tx.db.t VERSION AS OF 2` resolves through
  * [[loadTable(ident, version)]] to a version-pinned table whose scan
  * AND schema are that version's (a pre-rename/pre-promotion snapshot
  * serves its own names and types).
  *
  * Layout contract: a table `tx.ns….name` lives at
  * `<warehouse>/<ns…>/<name>` — the same roots the library/DataFrame
  * APIs address, so all three surfaces are views of ONE format (a
  * table created here can be appended by `df.write.format("txtable")`
  * and streamed by `readStream`). `CREATE TABLE` is [[TxTable]]'s
  * empty schema-tracking commit (v1 lists zero files, carries
  * `tblschema` — the metadata-only CREATE every real format does);
  * DROP deletes the directory; `ALTER TABLE` (round 19) maps each
  * TableChange onto the library's existing metadata-only evolution
  * commits — see [[alterTable]].
  *
  * Scale shape: every catalog operation is manifest metadata — create
  * is one manifest write, load is one manifest read (schema included —
  * zero data-file footers), list is a directory listing of table
  * roots. */
class TxTableCatalog extends TableCatalog with SupportsNamespaces
    with org.apache.spark.sql.connector.catalog.FunctionCatalog
    with org.apache.spark.sql.connector.catalog.ProcedureCatalog {
  private var catalogName: String = _
  private var initWarehouse: String = _

  override def initialize(name: String,
      options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    initWarehouse = Option(options.get("warehouse")).getOrElse(sys.error(
      s"txtable catalog '$name' requires spark.sql.catalog.$name" +
        ".warehouse"))
  }
  override def name(): String = catalogName

  /** The warehouse this catalog was initialized with. Spark initializes
    * a session's catalog once, at its first use, so a later change of
    * `spark.sql.catalog.<name>.warehouse` would otherwise be ignored
    * without a word: SQL would keep writing under the old path while
    * library calls address the new one. Every use re-reads the setting
    * and fails naming both paths. */
  private def warehouse: String = {
    val key = s"spark.sql.catalog.$catalogName.warehouse"
    org.apache.spark.sql.SparkSession.getActiveSession
      .flatMap(_.conf.getOption(key))
      .filter(_ != initWarehouse)
      .foreach { now =>
        throw new IllegalStateException(
          s"txtable catalog '$catalogName' serves the warehouse " +
            s"$initWarehouse it was first used with, but $key is now " +
            s"$now: a catalog's warehouse cannot change within a " +
            "session — register the new path under a new catalog name")
      }
    initWarehouse
  }

  private def checkSeg(s: String): String = {
    require(s.matches("[A-Za-z0-9_]+"),
      s"txtable catalog identifiers are [A-Za-z0-9_]+ segments, got '$s'")
    s
  }
  private def rootOf(ident: Identifier): String =
    (warehouse +: ident.namespace.toSeq.map(checkSeg) :+
      checkSeg(ident.name)).mkString("/")
  private def isTable(root: String): Boolean =
    new java.io.File(root, "_txlog").isDirectory &&
      TxTable.currentVersion(root) > 0

  private def noSuchTable(ident: Identifier): Nothing =
    throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(
      ident)

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val dir = new java.io.File(
      (warehouse +: namespace.toSeq.map(checkSeg)).mkString("/"))
    Option(dir.listFiles()).toSeq.flatten
      .filter(f => isTable(f.getPath))
      .map(f => Identifier.of(namespace, f.getName)).toArray
  }

  /** Also takes the PATH-TABLE form (Delta's and Iceberg's): a
    * one-part identifier that is an absolute path, `tx.`/abs/root``,
    * loads the table at that root, wherever the library built it. Only
    * this load takes it; every other identifier stays under [[checkSeg]]. */
  override def loadTable(ident: Identifier): Table = {
    val root =
      if (ident.namespace.isEmpty && new java.io.File(ident.name).isAbsolute)
        ident.name
      else rootOf(ident)
    if (!isTable(root)) noSuchTable(ident)
    val v = TxTable.currentVersion(root)
    val m = TxTable.readManifest(root, v)
    val schema = TxTable.inferLogicalSchema(root, v).getOrElse(
      sys.error(s"catalog table $root has no schema-tracking manifest"))
    def toLogical(p: String): String =
      TxTable.colMapOf(m).flatMap(_.physToLog.get(p)).getOrElse(p)
    val partLogical = TxTable.partitionColumns(m).map(toLogical)
    val bucketLogical = TxTable.bucketSpecOf(m).map {
      case (c, n) => (toLogical(c), n)
    }
    new TxTableTable(schema, Some(root), partitionCols = partLogical,
      bucketSpec = bucketLogical)
  }

  /** SQL time travel: `VERSION AS OF <v>` — the returned table is
    * pinned to that version's file list, column mapping, AND schema. */
  override def loadTable(ident: Identifier, version: String): Table = {
    val root = rootOf(ident)
    if (!isTable(root)) noSuchTable(ident)
    val v = try version.trim.toInt catch {
      case _: NumberFormatException => throw new IllegalArgumentException(
        s"txtable VERSION AS OF takes a commit number, got '$version'")
    }
    require(TxTable.versions(root).contains(v),
      s"version $v of ${ident.name} is not retained " +
        s"(have: ${TxTable.versions(root).mkString(", ")})")
    val schema = TxTable.inferLogicalSchema(root, v).getOrElse(
      sys.error(s"catalog table $root has no schema-tracking manifest"))
    new TxTableTable(schema, Some(root), Some(v))
  }

  /** SQL `TIMESTAMP AS OF`: micros → the LATEST version committed at or
    * before that instant, per the manifest's durable `ts` commit-time
    * prop (round 20 — manifest-file mtime is only the legacy fallback:
    * mtimes survive neither table copies nor backup tooling, the reason
    * Delta eventually grew in-commit timestamps too). */
  override def loadTable(ident: Identifier, timestampMicros: Long)
      : Table = {
    val root = rootOf(ident)
    if (!isTable(root)) noSuchTable(ident)
    val tsMillis = timestampMicros / 1000L
    val vs = TxTable.versions(root)
    // durable `ts` commit-time prop, mtime fallback for legacy
    // manifests (ADVICE r19)
    val at = vs.filter(v =>
      TxTable.commitTimeMillis(root, v) <= tsMillis)
    require(at.nonEmpty,
      s"TIMESTAMP AS OF precedes every retained commit of " +
        s"${ident.name} (earliest retained: v${vs.headOption
          .getOrElse(0)})")
    loadTable(ident, at.max.toString)
  }

  /** CREATE TABLE [AS SELECT] — a zero-file schema-tracking commit.
    * `PARTITIONED BY (col)` (round 19) accepts a single IDENTITY
    * transform: the column is recorded as the inherited `partcol` prop,
    * so the first write (the CTAS payload, an INSERT, or a streaming
    * sink epoch) routes rows into `data/<col>=<v>/` directories and
    * partition pruning rides the same stats-skipping mechanism as
    * everything else. Bucket/temporal transforms refuse loudly. */
  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: JMap[String, String])
      : Table = {
    // (IdentityTransform itself is private[sql]; the generic Transform
    // surface — name + a single one-part column reference — is public)
    def identityCol(t: Transform): Option[String] =
      if (t.name == "identity" && t.references.length == 1 &&
        t.references()(0).fieldNames.length == 1)
        Some(t.references()(0).fieldNames()(0))
      else None
    val (partCols, bucketSpec) = partitions.toSeq match {
      case Seq() => (Nil, None)
      // PARTITIONED BY (a[, b…]) — one or more identity columns,
      // OUTERMOST first (round 20 multi-column support)
      case ts if ts.nonEmpty && ts.forall(identityCol(_).isDefined) =>
        (ts.map(identityCol(_).get), None)
      // PARTITIONED BY (bucket(n, col)) — storage bucketing (round 20):
      // the bucket count is the transform's int literal argument, the
      // column its single reference (argument ORDER is
      // representation-defined, so collect by shape, not position)
      case Seq(t) if t.name == "bucket" &&
          t.references.length == 1 &&
          t.references()(0).fieldNames.length == 1 =>
        val n = t.arguments.collectFirst {
          case l: org.apache.spark.sql.connector.expressions.Literal[_]
              if l.dataType == org.apache.spark.sql.types.IntegerType =>
            l.value.asInstanceOf[Int]
        }.getOrElse(sys.error(
          s"bucket transform needs an int bucket count: $t"))
        (Nil, Some((t.references()(0).fieldNames()(0), n)))
      case other => sys.error(
        "txtable PARTITIONED BY takes identity columns or one " +
          s"bucket(n, col) transform, got ${other.mkString(", ")}")
    }
    val root = rootOf(ident)
    if (isTable(root)) throw new org.apache.spark.sql.catalyst.analysis
      .TableAlreadyExistsException(
        (catalogName +: ident.namespace.toSeq :+ ident.name)
          .map(s => s"`$s`").mkString("."))
    TxTable.createEmpty(root, schema, partCols, bucketSpec): Unit
    new TxTableTable(schema, Some(root), partitionCols = partCols,
      bucketSpec = bucketSpec)
  }

  // --- FunctionCatalog: the `bucket` function (round 20) --------------
  //
  // Storage-partitioned joins hinge on this: when the scan reports
  // KeyGroupedPartitioning(bucket(n, col)), Catalyst resolves that
  // transform through the TABLE's FunctionCatalog — both sides binding
  // to the same canonicalName is what proves two txtable scans
  // co-partitioned (the Iceberg SPJ design).
  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    if (namespace.isEmpty)
      Array(Identifier.of(Array.empty[String], "bucket"))
    else Array.empty
  override def loadFunction(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.functions.UnboundFunction =
    if (ident.name == "bucket") new TxBucketUnbound
    else throw new org.apache.spark.sql.catalyst.analysis
      .NoSuchFunctionException(ident)

  // --- ProcedureCatalog: SQL maintenance (round 20) -------------------
  //
  // CALL <cat>.system.optimize/vacuum/restore — thin SQL doors onto the
  // library's verified maintenance commits ([[TxProcedures]]).
  override def listProcedures(namespace: Array[String])
      : Array[Identifier] =
    TxProcedures.all(warehouse).keys.toArray.sorted
      .map(n => Identifier.of(Array("system"), n))
  override def loadProcedure(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.procedures
        .UnboundProcedure =
    TxProcedures.all(warehouse).getOrElse(ident.name,
      sys.error(s"txtable catalog has no procedure '${ident.name}' " +
        s"(have: ${TxProcedures.all(warehouse).keys.toSeq.sorted
          .mkString(", ")})"))

  /** SQL `ALTER TABLE` (round 19) — each TableChange maps onto the
    * format's existing METADATA-ONLY evolution commits, so the SQL
    * surface and the library commit API are one mechanism:
    * RENAME COLUMN → [[TxTable.renameColumn]] (colmap commit),
    * DROP COLUMN → [[TxTable.dropColumn]] (tombstone commit),
    * ALTER COLUMN TYPE → [[TxTable.promoteColumnType]] (widening only —
    * the Iceberg promotion lattice, narrowing refuses loudly),
    * ADD COLUMN → [[TxTable.addColumn]] (nullable, NULL-backfilled).
    * Zero data files are touched by any of them; time travel across an
    * ALTER serves each version under its own names and types. */
  override def alterTable(ident: Identifier, changes: TableChange*)
      : Table = {
    val root = rootOf(ident)
    if (!isTable(root)) noSuchTable(ident)
    val s = org.apache.spark.sql.SparkSession.active
    def top(fieldNames: Array[String], what: String): String = {
      require(fieldNames.length == 1,
        s"txtable ALTER TABLE $what supports top-level columns only, " +
          s"got ${fieldNames.mkString(".")}")
      fieldNames(0)
    }
    changes.foreach {
      case r: TableChange.RenameColumn =>
        TxTable.renameColumn(s, root,
          top(r.fieldNames, "RENAME COLUMN"), r.newName): Unit
      case d: TableChange.DeleteColumn =>
        val name = top(d.fieldNames, "DROP COLUMN")
        val have = TxTable.inferLogicalSchema(
          root, TxTable.currentVersion(root))
          .exists(_.fieldNames.contains(name))
        if (have) TxTable.dropColumn(s, root, name): Unit
        else if (d.ifExists == null || !d.ifExists.booleanValue())
          sys.error(s"DROP COLUMN: no such column '$name' in " +
            s"${ident.name}")
      case u: TableChange.UpdateColumnType =>
        TxTable.promoteColumnType(s, root,
          top(u.fieldNames, "ALTER COLUMN TYPE"),
          u.newDataType.catalogString): Unit
      case a: TableChange.AddColumn =>
        require(a.isNullable,
          "txtable ADD COLUMN is nullable-only (existing rows " +
            "NULL-backfill it)")
        require(a.defaultValue == null,
          "txtable ADD COLUMN does not support DEFAULT values")
        TxTable.addColumn(root,
          top(a.fieldNames, "ADD COLUMN"), a.dataType): Unit
      case other => sys.error(
        s"txtable ALTER TABLE does not support ${other.getClass
          .getSimpleName} (supported: RENAME COLUMN, DROP COLUMN, " +
          "ALTER COLUMN TYPE widening, ADD COLUMN)")
    }
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean = {
    val root = rootOf(ident)
    if (!isTable(root)) false
    else { graft.Scratch.deleteRec(new java.io.File(root)); true }
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier)
      : Unit = {
    if (!isTable(rootOf(oldIdent))) noSuchTable(oldIdent)
    val dst = new java.io.File(rootOf(newIdent))
    dst.getParentFile.mkdirs(): Unit
    java.nio.file.Files.move(
      new java.io.File(rootOf(oldIdent)).toPath, dst.toPath): Unit
  }

  // --- namespaces: directories under the warehouse ------------------
  override def listNamespaces(): Array[Array[String]] =
    Option(new java.io.File(warehouse).listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && !isTable(f.getPath))
      .map(f => Array(f.getName)).toArray
  override def listNamespaces(namespace: Array[String])
      : Array[Array[String]] = Array.empty
  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.isEmpty || new java.io.File(
      (warehouse +: namespace.toSeq.map(checkSeg)).mkString("/"))
      .isDirectory
  override def loadNamespaceMetadata(namespace: Array[String])
      : JMap[String, String] = {
    if (!namespaceExists(namespace))
      throw new org.apache.spark.sql.catalyst.analysis
        .NoSuchNamespaceException(catalogName +: namespace.toSeq)
    java.util.Collections.emptyMap()
  }
  override def createNamespace(namespace: Array[String],
      metadata: JMap[String, String]): Unit = {
    new java.io.File(
      (warehouse +: namespace.toSeq.map(checkSeg)).mkString("/"))
      .mkdirs(): Unit
  }
  override def alterNamespace(namespace: Array[String],
      changes: org.apache.spark.sql.connector.catalog.NamespaceChange*)
      : Unit = sys.error("txtable namespaces carry no metadata")
  override def dropNamespace(namespace: Array[String], cascade: Boolean)
      : Boolean = {
    val dir = new java.io.File(
      (warehouse +: namespace.toSeq.map(checkSeg)).mkString("/"))
    if (!dir.isDirectory) false
    else {
      require(cascade || Option(dir.list()).forall(_.isEmpty),
        s"namespace ${namespace.mkString(".")} is not empty")
      graft.Scratch.deleteRec(dir); true
    }
  }
}
