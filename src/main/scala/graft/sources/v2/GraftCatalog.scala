package graft.sources.v2

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Dataset, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.{NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.Column
import org.apache.spark.sql.connector.catalog.{Identifier, ProcedureCatalog, StagedTable, StagingTableCatalog, SupportsDelete, SupportsRead, SupportsWrite, Table, TableCapability, TableCatalog, TableChange, TruncatableTable}
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, LocalScan, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsOverwrite, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable
import org.apache.spark.sql.sources.{Filter => SourceFilter, InsertableRelation}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.operators.{Catalog, Snapshots}

/** DataSource V2 `TableCatalog` over the named [[graft.operators.Catalog]]
  * — the SQL face of the snapshot layer. Registering it
  *
  * {{{
  * spark.conf.set("spark.sql.catalog.graft",
  *   "graft.sources.v2.GraftCatalog")
  * spark.conf.set("spark.sql.catalog.graft.root", "<catalogRoot>")
  * }}}
  *
  * makes every [[Catalog.register]]-ed table reachable by NAME from
  * plain SQL — `SELECT * FROM graft.t`, including time travel:
  * `VERSION AS OF <v>` resolves the snapshot exactly as
  * [[Snapshots.readAsOf]] and `TIMESTAMP AS OF <ts>` resolves through
  * [[Snapshots.versionAt]] over the table's LOGICAL commit timeline
  * (Spark hands the literal down in epoch MICROSECONDS — a table
  * stamped with event-time micros travels naturally; other logical
  * clocks address versions via `VERSION AS OF`).
  *
  * The scan PLANS FROM THE MANIFEST: `loadTable` resolves the
  * generation's file list (one single-generation manifest read) and
  * hands exactly those files to Spark's own parquet table, so filter
  * pushdown, column pruning and row-group skipping all apply — the
  * scan never lists the data directory and never sees files of other
  * versions. Partitioned generations whose files live under one
  * commit root read with their path-encoded partition column
  * reconstructed (`basePath`). A face the plain parquet scan cannot
  * represent (deletion vectors, a column mapping, tombstones, a
  * multi-root partitioned lineage) is read through the governed-read
  * rule ([[graft.plans.GraftGovernedReadRule]]), or refuses loudly at
  * scan build — never silently wrong rows.
  *
  * DDL surface: `DROP TABLE graft.t` unregisters the NAME (the
  * catalog adopts existing roots, it never owns data — matching
  * [[Catalog.dropTable]]); renames re-point the name. `CREATE TABLE`
  * refuses — tables are born from [[Snapshots.commit]] and adopted
  * via [[Catalog.register]].
  *
  * MAINTENANCE runs from SQL too (the Iceberg `CALL` shape, Spark 4's
  * native stored-procedure surface): `CALL graft.system.optimize('t')`
  * compacts layout-preservingly, `system.vacuum` expires versions,
  * `system.rollback` reverts a head, `system.remove_orphans` reclaims
  * crash debris, and `system.maintain()` executes the whole fleet
  * sweep — each returning its action report as rows.
  *
  * `CREATE TABLE ... AS SELECT` IS allowed (unlike bare CREATE — a
  * CTAS-born table has a first commit): the staged-table protocol
  * writes the query result as version 0 of a fresh root under the
  * catalog's own `storage/`, and the NAME registration is the publish
  * point — a failed CTAS aborts by deleting the staged root, and
  * readers can never see a half-created table (the WAP argument at
  * DDL scope). */
class GraftCatalog extends TableCatalog with ProcedureCatalog
    with StagingTableCatalog {

  private var catName: String = "graft"
  private var catalogRoot: String = _

  override def initialize(
      name: String,
      options: CaseInsensitiveStringMap): Unit = {
    catName = name
    catalogRoot = options.get("root")
    require(catalogRoot != null && catalogRoot.nonEmpty,
      s"catalog '$name' needs spark.sql.catalog.$name.root — the " +
        "graft catalog root directory")
  }

  override def name(): String = catName

  private def spark: SparkSession = SparkSession.active

  private def requireFlatNs(namespace: Array[String]): Unit =
    require(namespace.isEmpty,
      s"catalog '$catName' has a flat namespace — got " +
        s"${namespace.mkString(".")}")

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    requireFlatNs(namespace)
    Catalog.entries(spark, catalogRoot).keys.toArray.sorted
      .map(Identifier.of(Array.empty[String], _))
  }

  override def tableExists(ident: Identifier): Boolean =
    (ident.namespace.isEmpty &&
      Catalog.entries(spark, catalogRoot).contains(ident.name)) ||
      isBranchIdent(ident)

  override def loadTable(ident: Identifier): Table =
    if (isMetaIdent(ident)) metaTable(ident, None)
    else if (isBranchIdent(ident)) branchTable(ident)
    else snapshotTable(ident, None)

  /** `VERSION AS OF <v>` — an integer is the snapshot number, any
    * other string resolves as a TAG name ([[Snapshots.tagVersion]])
    * or, failing that, a BRANCH name (the branch's head face) — the
    * Iceberg ref-travel shape. */
  override def loadTable(ident: Identifier, version: String): Table = {
    def refuse(root: String): Nothing =
      throw new IllegalArgumentException(
        s"VERSION AS OF '$version' on $catName.${ident.name}: not a " +
          "snapshot number, tag, or branch (tags: " +
          Snapshots.tags(spark, root).map(_._1).mkString(", ") +
          "; branches: " +
          Snapshots.branches(spark, root).map(_._1).mkString(", ") + ")")
    def resolve(root: String): Long =
      version.toLongOption
        .orElse(Snapshots.tagVersion(spark, root, version))
        .getOrElse(refuse(root))
    if (isMetaIdent(ident))
      metaTable(ident, Some(resolve(rootOf(baseIdent(ident)))))
    else {
      val root = rootOf(ident)
      version.toLongOption
        .orElse(Snapshots.tagVersion(spark, root, version)) match {
        case Some(v) => snapshotTable(ident, Some(v))
        case None
          if Snapshots.branches(spark, root).exists(_._1 == version) =>
          val bRoot = Snapshots.branchPath(root, version)
          GraftSnapshotTable.resolve(spark,
            s"$catName.${ident.name}@$version", bRoot,
            Snapshots.latestVersion(spark, bRoot).getOrElse(refuse(root)))
        case None => refuse(root)
      }
    }
  }

  /** `TIMESTAMP AS OF <ts>` — micros, resolved over the table's
    * logical commit timeline by [[Snapshots.versionAt]]. */
  override def loadTable(ident: Identifier, timestamp: Long): Table =
    if (isMetaIdent(ident)) {
      val root = rootOf(baseIdent(ident))
      metaTable(ident, Some(Snapshots.versionAt(spark, root, timestamp)))
    } else {
      val root = rootOf(ident)
      snapshotTable(ident,
        Some(Snapshots.versionAt(spark, root, timestamp)))
    }

  /** `graft.<table>.history` / `graft.<table>.files` — the Iceberg
    * metadata-table shape: one extra identifier part under a
    * registered table name serves that table's commit timeline /
    * manifest file list from METADATA alone (no data file opened). */
  private def isMetaIdent(ident: Identifier): Boolean =
    ident.namespace.length == 1 &&
      MetaNames.contains(ident.name) &&
      Catalog.entries(spark, catalogRoot).contains(ident.namespace.head)

  private val MetaNames = Set("history", "files", "tags", "branches")

  /** `graft.<table>.branch_<name>` — the branch's WRITABLE SQL face
    * (the Iceberg branch-ident shape): SELECT serves the branch head,
    * and INSERT INTO / UPDATE / MERGE INTO / DELETE FROM commit to the
    * branch's own lineage — the whole write-audit-publish loop runs
    * from plain SQL, fast_forward included. */
  private def isBranchIdent(ident: Identifier): Boolean =
    ident.namespace.length == 1 &&
      ident.name.startsWith("branch_") &&
      Catalog.entries(spark, catalogRoot).contains(ident.namespace.head) &&
      Snapshots.branches(spark, rootOf(baseIdent(ident)))
        .exists(_._1 == ident.name.stripPrefix("branch_"))

  private def branchTable(ident: Identifier): Table = {
    val name = ident.name.stripPrefix("branch_")
    val bRoot = Snapshots.branchPath(rootOf(baseIdent(ident)), name)
    GraftSnapshotTable.resolve(spark,
      s"$catName.${ident.namespace.head}.${ident.name}", bRoot,
      Snapshots.latestVersion(spark, bRoot).getOrElse(
        throw new NoSuchTableException(ident)))
  }

  private def baseIdent(ident: Identifier): Identifier =
    Identifier.of(Array.empty[String], ident.namespace.head)

  private def metaTable(ident: Identifier, version: Option[Long]): Table = {
    val root = rootOf(baseIdent(ident))
    val s = spark
    val qualified = s"$catName.${ident.namespace.head}.${ident.name}"
    ident.name match {
      case "history" =>
        // the whole (version, commit_ts, n_files, n_rows) timeline —
        // time travel addresses DATA faces, not the timeline itself
        require(version.isEmpty,
          s"$qualified is the whole commit timeline — VERSION/TIMESTAMP " +
            "AS OF addresses the data table and the files face")
        val rows = Snapshots.historyRows(s, root).map {
          case (v, ts, nFiles, nRows) =>
            new GenericInternalRow(Array[Any](
              v, ts.map(Long.box).orNull, nFiles, nRows)): InternalRow
        }.toArray
        new GraftMetaTable(qualified, GraftMetaTables.HistorySchema, rows)
      case "files" =>
        val v = version.orElse(Snapshots.latestVersion(s, root))
          .getOrElse(throw new NoSuchTableException(ident))
        val rows = Snapshots.generationOf(s, root, v).files.map { d =>
          new GenericInternalRow(Array[Any](
            UTF8String.fromString(d.path),
            d.part.map(UTF8String.fromString).orNull,
            d.rows.map(Long.box).orNull)): InternalRow
        }.toArray
        new GraftMetaTable(qualified, GraftMetaTables.FilesSchema, rows)
      case "branches" =>
        require(version.isEmpty,
          s"$qualified is the live branch listing — branch names are " +
            "the travel addresses (VERSION AS OF '<branch>')")
        val rows = Snapshots.branches(s, root).map {
          case (n, fork, head) =>
            new GenericInternalRow(Array[Any](
              UTF8String.fromString(n), fork, head)): InternalRow
        }.toArray
        new GraftMetaTable(qualified, GraftMetaTables.BranchesSchema, rows)
      case "tags" =>
        require(version.isEmpty,
          s"$qualified is the live tag listing — tags themselves are " +
            "the travel addresses (VERSION AS OF '<tag>')")
        val rows = Snapshots.tags(s, root).map { case (n, v) =>
          new GenericInternalRow(Array[Any](
            UTF8String.fromString(n), v)): InternalRow
        }.toArray
        new GraftMetaTable(qualified, GraftMetaTables.TagsSchema, rows)
      case _ => throw new NoSuchTableException(ident)
    }
  }

  private def rootOf(ident: Identifier): String = {
    if (ident.namespace.nonEmpty) throw new NoSuchTableException(ident)
    Catalog.entries(spark, catalogRoot).get(ident.name) match {
      case Some(e) => e.root
      case None => throw new NoSuchTableException(ident)
    }
  }

  private def snapshotTable(
      ident: Identifier,
      version: Option[Long]): Table = {
    val root = rootOf(ident)
    val v = version.orElse(Snapshots.latestVersion(spark, root))
      .getOrElse(throw new NoSuchTableException(ident))
    GraftSnapshotTable.resolve(spark, s"$catName.${ident.name}", root, v)
  }

  override def createTable(
      ident: Identifier,
      schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]): Table =
    throw new UnsupportedOperationException(
      s"CREATE TABLE on catalog '$catName': a bare CREATE has no first " +
        "commit — graft tables are born from Snapshots.commit (or " +
        "CREATE TABLE ... AS SELECT) and adopted by name via " +
        "Catalog.register")

  /** Atomic CTAS: stage a fresh root under the catalog's `storage/`,
    * let the query result commit as version 0, and make the NAME
    * registration the publish point — abort deletes the staged root,
    * so readers never see a half-created table. */
  override def stageCreate(
      ident: Identifier,
      schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]): StagedTable = {
    requireFlatNs(ident.namespace)
    require(partitions.isEmpty,
      s"CTAS PARTITIONED BY on catalog '$catName': partitioned snapshot " +
        "tables are born from Snapshots.commitPartitioned and adopted " +
        "via Catalog.register")
    if (tableExists(ident)) throw new TableAlreadyExistsException(ident)
    val root = s"$catalogRoot/storage/${ident.name}"
    val p = new Path(root)
    val f = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(!f.exists(p),
      s"CTAS $catName.${ident.name}: placement $root already exists " +
        "(crashed-CTAS debris, or an unregistered table) — remove it, " +
        "or adopt it explicitly via Catalog.register")
    Snapshots.init(spark, root)
    new GraftStagedTable(s"$catName.${ident.name}", ident.name, root,
      catalogRoot, schema)
  }

  /** SQL DDL over the metadata-only schema verbs — each change mints
    * one snapshot generation (time travel below answers the old
    * schema): `ADD COLUMN` widens the stored schema (existing files
    * null-fill at scan, nullable by contract — NOT NULL refuses),
    * `RENAME COLUMN` / `DROP COLUMN` write the column mapping. Nested
    * fields, repositioning, retypes and property changes refuse
    * loudly toward the function verbs. */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val root = rootOf(ident)
    def topLevel(fieldNames: Array[String], what: String): String = {
      require(fieldNames.length == 1,
        s"ALTER TABLE $catName.${ident.name} $what: nested field " +
          s"'${fieldNames.mkString(".")}' — graft schema verbs are " +
          "top-level only")
      fieldNames.head
    }
    // pre-validate the WHOLE statement against the projected schema
    // before applying anything: each change below commits its own
    // snapshot generation, and a failure on a later change must not
    // leave an earlier one already published (half-applied DDL)
    Snapshots.latestVersion(spark, root)
      .flatMap(Snapshots.storedSchema(spark, root, _))
      .foreach { pre =>
        var projected: Seq[String] = pre.fieldNames.toSeq
        changes.foreach {
          case a: TableChange.AddColumn =>
            val c = topLevel(a.fieldNames, "ADD COLUMN")
            require(!projected.contains(c),
              s"ALTER TABLE $catName.${ident.name} ADD COLUMN $c: " +
                "already exists (statement refused whole — no change " +
                "applied)")
            projected :+= c
          case r: TableChange.RenameColumn =>
            val from = topLevel(r.fieldNames, "RENAME COLUMN")
            require(projected.contains(from),
              s"ALTER TABLE $catName.${ident.name} RENAME COLUMN " +
                s"$from: no such column (statement refused whole — no " +
                "change applied)")
            require(!projected.contains(r.newName),
              s"ALTER TABLE $catName.${ident.name} RENAME COLUMN " +
                s"$from TO ${r.newName}: target exists (statement " +
                "refused whole — no change applied)")
            projected = projected.map(c => if (c == from) r.newName else c)
          case d: TableChange.DeleteColumn =>
            val c = topLevel(d.fieldNames, "DROP COLUMN")
            require(projected.contains(c),
              s"ALTER TABLE $catName.${ident.name} DROP COLUMN $c: " +
                "no such column (statement refused whole — no change " +
                "applied)")
            require(projected.length > 1,
              s"ALTER TABLE $catName.${ident.name} DROP COLUMN $c: " +
                "cannot drop the last column")
            projected = projected.filterNot(_ == c)
          case other =>
            throw new UnsupportedOperationException(
              s"ALTER TABLE on catalog '$catName': $other — only ADD/" +
                "RENAME/DROP COLUMN are SQL verbs; constraints and " +
                "generated columns are Snapshots.addConstraint/" +
                "addGeneratedColumn")
        }
      }
    changes.foreach {
      case a: TableChange.AddColumn =>
        val col = topLevel(a.fieldNames, "ADD COLUMN")
        require(a.isNullable,
          s"ALTER TABLE $catName.${ident.name} ADD COLUMN $col NOT " +
            "NULL: existing rows null-fill the new column — a " +
            "retroactive NOT NULL would be a lie about history")
        require(a.position() == null,
          s"ALTER TABLE $catName.${ident.name} ADD COLUMN $col " +
            "FIRST/AFTER: added columns join at the end (the stored " +
            "schema is positional metadata, not data)")
        Snapshots.addColumn(spark, root, col, a.dataType())
      case r: TableChange.RenameColumn =>
        Snapshots.renameColumn(spark, root,
          topLevel(r.fieldNames, "RENAME COLUMN"), r.newName)
      case d: TableChange.DeleteColumn =>
        Snapshots.dropColumn(spark, root,
          topLevel(d.fieldNames, "DROP COLUMN"))
      case other =>
        throw new UnsupportedOperationException(
          s"ALTER TABLE on catalog '$catName': $other — only ADD/" +
            "RENAME/DROP COLUMN are SQL verbs; constraints and " +
            "generated columns are Snapshots.addConstraint/" +
            "addGeneratedColumn")
    }
    // the DDL result is name + schema only — resolving the full scan
    // face here would (rightly) refuse under the fresh column mapping
    // AFTER the commit already landed, failing a succeeded DDL
    val head = Snapshots.latestVersion(spark, root).get
    val post = Snapshots.storedSchema(spark, root, head)
      .getOrElse(StructType(Nil))
    new Table {
      override def name(): String = s"$catName.${ident.name}"
      override def schema(): StructType = post
      override def capabilities(): util.Set[TableCapability] =
        util.Collections.emptySet()
    }
  }

  /** Unregisters the NAME; the table's data and manifest are untouched
    * (adoption, not ownership — [[Catalog.dropTable]]'s contract). */
  override def dropTable(ident: Identifier): Boolean =
    ident.namespace.isEmpty && {
      val known = Catalog.entries(spark, catalogRoot).contains(ident.name)
      if (known) Catalog.dropTable(spark, catalogRoot, ident.name)
      known
    }

  override def renameTable(from: Identifier, to: Identifier): Unit = {
    requireFlatNs(to.namespace)
    val all = Catalog.entries(spark, catalogRoot)
    if (from.namespace.nonEmpty || !all.contains(from.name))
      throw new NoSuchTableException(from)
    if (all.contains(to.name)) throw new TableAlreadyExistsException(to)
    val e = all(from.name)
    Catalog.register(spark, catalogRoot, to.name, e.root, e.props)
    Catalog.dropTable(spark, catalogRoot, from.name)
  }

  // ------------------------------------------------- system procedures

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    if (namespace.sameElements(GraftProcedures.Ns))
      GraftProcedures.Names
        .map(Identifier.of(GraftProcedures.Ns, _)).toArray
    else Array.empty

  override def loadProcedure(ident: Identifier): UnboundProcedure = {
    require(ident.namespace.sameElements(GraftProcedures.Ns) &&
      GraftProcedures.Names.contains(ident.name),
      s"catalog '$catName' has no procedure " +
        s"${(ident.namespace :+ ident.name).mkString(".")} — known: " +
        GraftProcedures.Names.map(n => s"system.$n").mkString(", "))
    GraftProcedures.load(ident.name, catName, catalogRoot,
      n => rootOf(Identifier.of(Array.empty[String], n)))
  }
}

/** The `system.*` stored procedures (Spark 4's native `CALL` surface,
  * the Iceberg procedure shape): the snapshot layer's maintenance
  * verbs reachable from plain SQL, each returning its action report as
  * rows through the same metadata-scale in-memory scan the metadata
  * tables use. All procedures are non-deterministic by contract (they
  * commit). */
private[v2] object GraftProcedures {

  val Ns: Array[String] = Array("system")
  val Names: Seq[String] =
    Seq("optimize", "vacuum", "rollback", "remove_orphans", "maintain",
      "tag", "remove_tag", "expire_snapshots",
      "create_branch", "fast_forward", "drop_branch")

  private def spark: SparkSession = SparkSession.active

  private def str(v: String): Any = UTF8String.fromString(v)

  def load(
      name: String,
      catName: String,
      catalogRoot: String,
      rootOf: String => String): UnboundProcedure = name match {

    case "optimize" =>
      // layout-preserving compaction: partitioned heads stay one file
      // per partition, stats/Z-order/Hilbert heads re-cluster on their
      // sidecar's own keys, bloom heads rebuild their index
      new Proc("optimize",
        "Compact the table's head layout-preservingly " +
          "(Snapshots.optimizePreserving); returns the minted version",
        Array(
          ProcedureParameter.in("table", StringType).build(),
          ProcedureParameter.in("target_bytes", LongType)
            .defaultValue((128L << 20).toString).build()),
        StructType(Seq(
          StructField("table", StringType, nullable = false),
          StructField("version", LongType, nullable = false)))) {
        override def run(in: InternalRow): Array[InternalRow] = {
          val t = in.getUTF8String(0).toString
          val v = Snapshots.optimizePreserving(spark, rootOf(t),
            in.getLong(1))
          Array(new GenericInternalRow(Array[Any](str(t), v)))
        }
      }

    case "vacuum" =>
      new Proc("vacuum",
        "Expire versions below keep_from and delete exactly the files " +
          "no retained generation references; returns the delete count",
        Array(
          ProcedureParameter.in("table", StringType).build(),
          ProcedureParameter.in("keep_from", LongType).build()),
        StructType(Seq(
          StructField("table", StringType, nullable = false),
          StructField("deleted_files", LongType, nullable = false)))) {
        override def run(in: InternalRow): Array[InternalRow] = {
          val t = in.getUTF8String(0).toString
          val n = Snapshots.vacuum(spark, rootOf(t), in.getLong(1))
          Array(new GenericInternalRow(Array[Any](str(t), n)))
        }
      }

    case "rollback" =>
      new Proc("rollback",
        "Revert the table's head to a past version as a metadata-only " +
          "commit (the botch stays AS OF-readable); returns the new head",
        Array(
          ProcedureParameter.in("table", StringType).build(),
          ProcedureParameter.in("to_version", LongType).build()),
        StructType(Seq(
          StructField("table", StringType, nullable = false),
          StructField("version", LongType, nullable = false)))) {
        override def run(in: InternalRow): Array[InternalRow] = {
          val t = in.getUTF8String(0).toString
          val v = Snapshots.rollback(spark, rootOf(t), in.getLong(1))
          Array(new GenericInternalRow(Array[Any](str(t), v)))
        }
      }

    case "remove_orphans" =>
      new Proc("remove_orphans",
        "Delete data files referenced by NO manifest generation and " +
          "older than the safety window (crash debris); returns the count",
        Array(
          ProcedureParameter.in("table", StringType).build(),
          ProcedureParameter.in("older_than_ms", LongType).build()),
        StructType(Seq(
          StructField("table", StringType, nullable = false),
          StructField("deleted_files", LongType, nullable = false)))) {
        override def run(in: InternalRow): Array[InternalRow] = {
          val t = in.getUTF8String(0).toString
          val n = Snapshots.removeOrphans(spark, rootOf(t), in.getLong(1))
          Array(new GenericInternalRow(Array[Any](str(t), n)))
        }
      }

    case "tag" =>
      new Proc("tag",
        "Name a snapshot version (default -1 = the head) for " +
          "VERSION AS OF '<name>' travel; a tag also PINS its version " +
          "against vacuum/expire_snapshots",
        Array(
          ProcedureParameter.in("table", StringType).build(),
          ProcedureParameter.in("name", StringType).build(),
          ProcedureParameter.in("version", LongType)
            .defaultValue("-1").build()),
        StructType(Seq(
          StructField("table", StringType, nullable = false),
          StructField("tag", StringType, nullable = false),
          StructField("version", LongType, nullable = false)))) {
        override def run(in: InternalRow): Array[InternalRow] = {
          val t = in.getUTF8String(0).toString
          val n = in.getUTF8String(1).toString
          val root = rootOf(t)
          val v =
            if (in.getLong(2) >= 0) in.getLong(2)
            else Snapshots.latestVersion(spark, root).getOrElse(
              throw new IllegalArgumentException(
                s"tag: $t has no committed versions"))
          Snapshots.tag(spark, root, n, v)
          Array(new GenericInternalRow(Array[Any](str(t), str(n), v)))
        }
      }

    case "remove_tag" =>
      new Proc("remove_tag",
        "Drop a tag (the version stays readable by number; its " +
          "retention pin is gone); returns whether the tag existed",
        Array(
          ProcedureParameter.in("table", StringType).build(),
          ProcedureParameter.in("name", StringType).build()),
        StructType(Seq(
          StructField("table", StringType, nullable = false),
          StructField("existed", org.apache.spark.sql.types.BooleanType,
            nullable = false)))) {
        override def run(in: InternalRow): Array[InternalRow] = {
          val t = in.getUTF8String(0).toString
          val existed = Snapshots.removeTag(spark, rootOf(t),
            in.getUTF8String(1).toString)
          Array(new GenericInternalRow(Array[Any](str(t),
            Boolean.box(existed))))
        }
      }

    case "expire_snapshots" =>
      new Proc("expire_snapshots",
        "Keep exactly the last retain_last versions (tags refuse — a " +
          "tagged version never expires); returns keep_from and the " +
          "delete count",
        Array(
          ProcedureParameter.in("table", StringType).build(),
          ProcedureParameter.in("retain_last", LongType).build()),
        StructType(Seq(
          StructField("table", StringType, nullable = false),
          StructField("keep_from", LongType, nullable = false),
          StructField("deleted_files", LongType, nullable = false)))) {
        override def run(in: InternalRow): Array[InternalRow] = {
          val t = in.getUTF8String(0).toString
          val (keepFrom, n) = Snapshots.expireSnapshots(spark, rootOf(t),
            in.getLong(1).toInt)
          Array(new GenericInternalRow(Array[Any](str(t), keepFrom, n)))
        }
      }

    case "create_branch" =>
      new Proc("create_branch",
        "Fork an isolated writable lineage off the given version " +
          "(default -1 = the head); write to it via its own root, " +
          "audit via VERSION AS OF '<name>', publish via fast_forward",
        Array(
          ProcedureParameter.in("table", StringType).build(),
          ProcedureParameter.in("name", StringType).build(),
          ProcedureParameter.in("from_version", LongType)
            .defaultValue("-1").build()),
        StructType(Seq(
          StructField("table", StringType, nullable = false),
          StructField("branch", StringType, nullable = false),
          StructField("branch_root", StringType, nullable = false)))) {
        override def run(in: InternalRow): Array[InternalRow] = {
          val t = in.getUTF8String(0).toString
          val n = in.getUTF8String(1).toString
          val root = rootOf(t)
          val from =
            if (in.getLong(2) >= 0) Some(in.getLong(2)) else None
          Snapshots.createBranch(spark, root, n, from)
          Array(new GenericInternalRow(Array[Any](str(t), str(n),
            str(Snapshots.branchPath(root, n)))))
        }
      }

    case "fast_forward" =>
      new Proc("fast_forward",
        "Publish the branch's head onto main as one metadata-only " +
          "commit; refuses when main's head moved past the fork",
        Array(
          ProcedureParameter.in("table", StringType).build(),
          ProcedureParameter.in("name", StringType).build()),
        StructType(Seq(
          StructField("table", StringType, nullable = false),
          StructField("version", LongType, nullable = false)))) {
        override def run(in: InternalRow): Array[InternalRow] = {
          val t = in.getUTF8String(0).toString
          val v = Snapshots.fastForward(spark, rootOf(t),
            in.getUTF8String(1).toString)
          Array(new GenericInternalRow(Array[Any](str(t), v)))
        }
      }

    case "drop_branch" =>
      new Proc("drop_branch",
        "Drop a branch and its own data files; refuses while a " +
          "retained main generation references them",
        Array(
          ProcedureParameter.in("table", StringType).build(),
          ProcedureParameter.in("name", StringType).build()),
        StructType(Seq(
          StructField("table", StringType, nullable = false),
          StructField("existed", org.apache.spark.sql.types.BooleanType,
            nullable = false)))) {
        override def run(in: InternalRow): Array[InternalRow] = {
          val t = in.getUTF8String(0).toString
          val existed = Snapshots.dropBranch(spark, rootOf(t),
            in.getUTF8String(1).toString)
          Array(new GenericInternalRow(Array[Any](str(t),
            Boolean.box(existed))))
        }
      }

    case "maintain" =>
      new Proc("maintain",
        "Execute the catalog's whole maintenance sweep " +
          "(Catalog.maintain): compact pressured tables, vacuum past " +
          "retention; returns the per-table action report",
        Array(
          ProcedureParameter.in("target_bytes", LongType)
            .defaultValue((128L << 20).toString).build()),
        StructType(Seq(
          StructField("name", StringType, nullable = false),
          StructField("action", StringType, nullable = false),
          StructField("detail", StringType, nullable = false)))) {
        override def run(in: InternalRow): Array[InternalRow] =
          Catalog.maintain(spark, catalogRoot, in.getLong(0))
            .orderBy("name", "action").collect().map { r =>
              new GenericInternalRow(Array[Any](
                str(r.getString(0)), str(r.getString(1)),
                str(r.getString(2)))): InternalRow
            }
      }
  }

  /** One class per procedure is noise — the shared shape: unbound =
    * bound (the parameters are static), the result rides ONE
    * metadata-scale in-memory scan. */
  private abstract class Proc(
      procName: String,
      desc: String,
      params: Array[ProcedureParameter],
      out: StructType) extends UnboundProcedure with BoundProcedure {
    override def name(): String = procName
    override def description(): String = desc
    override def bind(inputType: StructType): BoundProcedure = this
    override def parameters(): Array[ProcedureParameter] = params
    override def isDeterministic: Boolean = false
    protected def run(input: InternalRow): Array[InternalRow]
    override def call(input: InternalRow): util.Iterator[Scan] =
      util.Collections.singletonList[Scan](
        new GraftMetaScan(out, run(input))).iterator()
  }
}

/** One resolved snapshot as a read-only V2 table: exactly the
  * generation's manifest files, planned through Spark's own parquet
  * table so pushdown/pruning/codegen are the stock ones. */
private[v2] object GraftSnapshotTable {

  /** V1 source filters → Column predicates for the snapshot delete —
    * None for shapes the translation doesn't cover (canDeleteWhere
    * reports them untranslatable, so Spark falls back to an error
    * instead of a silent partial delete). */
  private[v2] def filterToColumn(f: SourceFilter): Option[Column] = {
    import org.apache.spark.sql.functions.{col, lit, not}
    import org.apache.spark.sql.sources._
    f match {
      case EqualTo(a, v) => Some(col(a) === lit(v))
      case EqualNullSafe(a, v) => Some(col(a) <=> lit(v))
      case GreaterThan(a, v) => Some(col(a) > lit(v))
      case GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
      case LessThan(a, v) => Some(col(a) < lit(v))
      case LessThanOrEqual(a, v) => Some(col(a) <= lit(v))
      case In(a, vs) => Some(col(a).isin(vs.toIndexedSeq: _*))
      case IsNull(a) => Some(col(a).isNull)
      case IsNotNull(a) => Some(col(a).isNotNull)
      case StringStartsWith(a, v) => Some(col(a).startsWith(v))
      case StringEndsWith(a, v) => Some(col(a).endsWith(v))
      case StringContains(a, v) => Some(col(a).contains(v))
      case And(l, r) =>
        for (lc <- filterToColumn(l); rc <- filterToColumn(r))
          yield lc && rc
      case Or(l, r) =>
        for (lc <- filterToColumn(l); rc <- filterToColumn(r))
          yield lc || rc
      case Not(c) => filterToColumn(c).map(not)
      case AlwaysTrue() => Some(lit(true))
      case AlwaysFalse() => Some(lit(false))
      case _ => None
    }
  }

  /** Resolve a table load into ONE [[Snapshots.Face]] (one manifest
    * read, one sidecar pass) and derive the scan guard and the
    * runtime-filter keys from it. Loading never refuses — DDL and DML
    * legitimately load a face they never scan (ALTER TABLE DROP COLUMN
    * after a RENAME) — so the guard is ENFORCED at scan build. */
  def resolve(
      spark: SparkSession,
      tableName: String,
      root: String,
      version: Long): Table = {
    val face = Snapshots.resolveFace(spark, root, version,
      Snapshots.GovFamilies ++ Snapshots.IndexFamilies)
    val parted = face.files.filter(_.part.isDefined)
    // partition columns are path-encoded; Spark reconstructs them from
    // ONE basePath — the single commit root every file of a freshly
    // written or compacted partitioned generation shares. A MULTI-ROOT
    // lineage (a partitioned table after file-swapping DML) cannot.
    val partRoots =
      parted.map(d => new Path(d.path).getParent.getParent.toString).distinct
    val multiRoot = parted.nonEmpty &&
      (parted.length != face.files.length || partRoots.length != 1)
    val options: Map[String, String] =
      if (parted.isEmpty || multiRoot) Map.empty
      else Map("basePath" -> partRoots.head)
    val refusal =
      if (face.dvGoverned(spark)) Some(ScanRefusal.Dv)
      else if (face.mapsColumns(spark)) Some(ScanRefusal.ColMap)
      else if (face.gens.eq.governs(version)) Some(ScanRefusal.Eq)
      else if (multiRoot) Some(ScanRefusal.MultiRoot)
      else None
    // stats/bloom-governed plain faces declare their sidecar keys as
    // runtime-filterable: Spark's dynamic-pruning rule then routes a
    // selective dim join's key set into the scan, which re-plans its
    // file list through the sidecars (GraftRuntimePrunedScan) — the
    // SQL face of scanJoinPruned.
    new GraftSnapshotTable(tableName, face, refusal,
      ParquetTable(tableName, spark,
        new CaseInsensitiveStringMap(options.asJava),
        face.files.map(_.path).toIndexedSeq, face.stored,
        classOf[ParquetFileFormat]),
      if (refusal.isEmpty) face.runtimeKeys(spark) else Seq.empty)
  }
}

/** Why the plain file-list parquet scan cannot serve a face: its
  * `toBatch` refuses with `reason`. */
private[graft] sealed abstract class ScanRefusal(reason: String) {
  def message(tableName: String, version: Long): String =
    s"$tableName VERSION AS OF $version $reason"
}

private[graft] object ScanRefusal {
  case object Dv extends ScanRefusal("is governed by live deletion " +
    "vectors — the SQL scan cannot apply them; read through " +
    "Snapshots.readAsOf (or compact with CALL system.optimize)")
  case object ColMap extends ScanRefusal("is governed by a column " +
    "rename/drop mapping — the SQL scan cannot translate physical " +
    "names; read through Snapshots.readAsOf")
  case object Eq extends ScanRefusal("is governed by equality-delete " +
    "tombstones (merge-on-read) — the SQL scan would resurrect deleted " +
    "keys; read through Snapshots.readMorAsOf, or foldEqDeletes to " +
    "materialize")
  case object MultiRoot extends ScanRefusal("mixes partition roots or " +
    "layouts — the SQL scan cannot reconstruct its partition column " +
    "from one basePath; read through Snapshots.readAsOf (or compact " +
    "with optimizePartitioned / CALL system.optimize)")
}

/** The resolved snapshot as a V2 table. Reads plan file-exact through
  * Spark's own parquet table; WRITES route through the snapshot verbs
  * via the V1Write bridge — `INSERT INTO` is [[Snapshots.commit]] with
  * `append = true` (an O(delta) manifest append, reconciled against
  * racing committers, constraints/generated columns enforced inside
  * the write job) and `INSERT OVERWRITE` is the replace commit.
  * `DELETE FROM ... WHERE` is [[Snapshots.deleteWhere]] — a row-level
  * delete as a METADATA commit (deletion vectors, zero rows
  * rewritten). Either way the table's history stays time-travelable.
  * `face` is the load's one resolution; `refusal` names why the plain
  * scan cannot serve it, if it cannot. */
private[graft] class GraftSnapshotTable(
    tableName: String,
    private[graft] val face: Snapshots.Face,
    private[graft] val refusal: Option[ScanRefusal],
    delegate: ParquetTable,
    runtimeKeys: Seq[String]) extends Table with SupportsRead
    with SupportsWrite with SupportsDelete with TruncatableTable {
  private val root = face.tablePath

  /** `TRUNCATE TABLE` — one empty REPLACE generation derived from the
    * head: past versions stay time-travelable (their files die later
    * via vacuum), the schema survives, and a racing commit refuses
    * through the derived-commit contract. */
  override def truncateTable(): Boolean = {
    val s = SparkSession.active
    val head = Snapshots.latestVersion(s, root).getOrElse(
      throw new IllegalArgumentException(
        s"TRUNCATE TABLE $tableName: no committed versions"))
    val empty = Snapshots.readAsOf(s, root, head).limit(0)
    Snapshots.commit(s, empty, root, append = false,
      derivedFrom = Some(head), verb = "truncateTable")
    true
  }
  /** The snapshot root — the SQL DML rules ([[graft.plans.GraftDmlRule]])
    * route UPDATE/MERGE through the snapshot verbs against it. */
  private[graft] def snapshotRoot: String = root

  /** The table's columns. A refused face without partition columns
    * takes them from its stored schema, read as a file source reads it
    * (every field nullable) — the same columns the file table would
    * report, without building its file index (an `exists` and a
    * listing of every data file) for a scan that never runs; the
    * governed read lists the files itself. */
  private lazy val tableSchema: StructType = face.stored match {
    case Some(stored)
        if refusal.nonEmpty && face.files.forall(_.part.isEmpty) =>
      org.apache.spark.sql.GraftSqlShim.nullable(stored)
    case _ => delegate.schema
  }

  override def name(): String = tableName
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE,
      TableCapability.OVERWRITE_BY_FILTER)
  override def newScanBuilder(o: CaseInsensitiveStringMap): ScanBuilder =
    if (refusal.isEmpty) {
      val inner = delegate.newScanBuilder(o)
      inner match {
        // a sidecar-governed face exposes its keys for runtime file
        // pruning (SupportsRuntimeV2Filtering) — the SQL join's
        // dynamic filter then prunes the manifest-planned file list
        case f: org.apache.spark.sql.execution.datasources.v2.FileScanBuilder
          if runtimeKeys.nonEmpty =>
          val spark = SparkSession.active
          new org.apache.spark.sql.GraftRuntimePruneScanBuilder(
            f, spark, runtimeKeys, Snapshots.runtimeAdmittedFiles(
              spark, face, _, _, _))
        case other => other
      }
    }
    else new ScanBuilder {
      // DML/DDL planning (DELETE FROM's optimizer pass, ALTER TABLE's
      // loadTable) builds scans it never executes — so a refused face
      // refuses at EXECUTION (toBatch), not at plan construction or
      // table load; its schema is the table's, so planning it builds
      // no file index
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = tableSchema
        override def toBatch: Batch = throw new IllegalArgumentException(
          refusal.get.message(tableName, face.version))
      }
    }
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new GraftWriteBuilder(tableName, root, overwrite = false)

  override def canDeleteWhere(filters: Array[SourceFilter]): Boolean =
    filters.forall(f => GraftSnapshotTable.filterToColumn(f).isDefined)

  override def deleteWhere(filters: Array[SourceFilter]): Unit = {
    val preds = filters.map(f =>
      GraftSnapshotTable.filterToColumn(f).getOrElse(
        throw new UnsupportedOperationException(
          s"DELETE FROM $tableName: predicate $f is not translatable " +
            "to the snapshot delete — use Snapshots.deleteWhere")))
    val pred = preds.reduceOption(_ && _)
      .getOrElse(org.apache.spark.sql.functions.lit(true))
    Snapshots.deleteWhere(SparkSession.active, root, pred)
  }
}

/** `INSERT INTO` → append commit; `INSERT OVERWRITE` (Spark plans it
  * as truncate + insert on a table with no overwrite-by-filter) →
  * replace commit; `INSERT INTO … REPLACE WHERE <pred>` (the scoped
  * overwrite — Delta's replaceWhere spelling) →
  * [[Snapshots.commitReplaceWhere]], one file-exact derived commit.
  * The commit itself claims the version, reconciles
  * racers, and enforces the table's governing constraints/generated
  * columns ([[Snapshots.commit]]'s contract); SQL inserts carry no
  * logical commit stamp, so a table whose timeline is addressed by
  * TIMESTAMP AS OF should ingest through the stamped function verbs.
  * A hive-partitioned head refuses a plain INSERT INTO: a flat SQL
  * append would mix layouts under the single-basePath SQL read —
  * route to [[Snapshots.commitPartitioned]]. */
private[v2] class GraftWriteBuilder(
    tableName: String,
    root: String,
    overwrite: Boolean,
    replaceWhere: Option[org.apache.spark.sql.Column] = None)
  extends WriteBuilder with SupportsOverwrite {

  override def truncate(): WriteBuilder =
    new GraftWriteBuilder(tableName, root, overwrite = true)

  override def overwrite(filters: Array[SourceFilter]): WriteBuilder =
    if (filters.isEmpty ||
      filters.forall(_.isInstanceOf[org.apache.spark.sql.sources.AlwaysTrue]))
      truncate()
    else {
      val preds = filters.map(f =>
        GraftSnapshotTable.filterToColumn(f).getOrElse(
          throw new UnsupportedOperationException(
            s"INSERT … REPLACE WHERE on $tableName: predicate $f is " +
              "not translatable to the snapshot replace — use " +
              "Snapshots.commitReplaceWhere with an expression")))
      new GraftWriteBuilder(tableName, root, overwrite = false,
        Some(preds.reduce(_ && _)))
    }

  override def build(): Write = new V1Write {
    override def toInsertableRelation: InsertableRelation =
      new InsertableRelation {
        override def insert(data: Dataset[Row], ignored: Boolean): Unit = {
          val s = data.sparkSession
          replaceWhere match {
            case Some(pred) =>
              Snapshots.commitReplaceWhere(s, root, data.toDF(), pred)
            case None =>
              if (!overwrite)
                Snapshots.latestVersion(s, root).foreach { head =>
                  require(Snapshots.generationOf(s, root, head).files
                    .forall(_.part.isEmpty),
                    s"INSERT INTO $tableName: the head generation is " +
                      "hive-partitioned — a flat SQL append would mix " +
                      "layouts under the SQL scan's single basePath; " +
                      "ingest through Snapshots.commitPartitioned (or " +
                      "INSERT OVERWRITE to replace the layout)")
                }
              Snapshots.commit(s, data.toDF(), root, append = !overwrite)
          }
          ()
        }
      }
  }
}

/** The CTAS staging table: the query result commits as version 0 of
  * the staged root (full snapshot contract from birth); the name
  * registration in [[GraftStagedTable.commitStagedChanges]] is the
  * atomic publish point. */
private[v2] class GraftStagedTable(
    tableName: String,
    regName: String,
    root: String,
    catalogRoot: String,
    ctasSchema: StructType) extends StagedTable with SupportsWrite {

  private def spark: SparkSession = SparkSession.active

  override def name(): String = tableName
  override def schema(): StructType = ctasSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.V1_BATCH_WRITE)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write = new V1Write {
        override def toInsertableRelation: InsertableRelation =
          new InsertableRelation {
            override def insert(data: Dataset[Row], o: Boolean): Unit =
              Snapshots.commit(data.sparkSession, data.toDF(), root,
                append = false)
          }
      }
    }

  override def commitStagedChanges(): Unit =
    Catalog.register(spark, catalogRoot, regName, root)

  override def abortStagedChanges(): Unit = {
    val p = new Path(root)
    val f = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    f.delete(p, true)
  }
}

private[v2] object GraftMetaTables {
  val HistorySchema: StructType = StructType(Seq(
    StructField("version", LongType, nullable = false),
    StructField("commit_ts", LongType, nullable = true),
    StructField("n_files", LongType, nullable = false),
    StructField("n_rows", LongType, nullable = false)))
  val FilesSchema: StructType = StructType(Seq(
    StructField("file", StringType, nullable = false),
    StructField("partition", StringType, nullable = true),
    StructField("n_rows", LongType, nullable = true)))
  val TagsSchema: StructType = StructType(Seq(
    StructField("tag", StringType, nullable = false),
    StructField("version", LongType, nullable = false)))
  val BranchesSchema: StructType = StructType(Seq(
    StructField("branch", StringType, nullable = false),
    StructField("fork_version", LongType, nullable = false),
    StructField("head_version", LongType, nullable = false)))
}

/** A driver-materialized metadata relation (`history`/`files`): the
  * rows are metadata-scale by construction — O(generations) for the
  * timeline, O(files of v) for a generation's file list — so ONE
  * in-memory partition is the honest plan; no data file is ever
  * opened. */
private[v2] class GraftMetaTable(
    tableName: String,
    metaSchema: StructType,
    rows: Array[InternalRow]) extends Table with SupportsRead {
  override def name(): String = tableName
  override def schema(): StructType = metaSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(o: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new GraftMetaScan(metaSchema, rows)
    }
}

/** Both a `LocalScan` (what `CALL` procedure output requires — the
  * rows are already on the driver) and a `Batch` (what a table read
  * plans through); same rows either way. */
private[v2] class GraftMetaScan(
    metaSchema: StructType,
    metaRows: Array[InternalRow]) extends LocalScan with Batch {
  override def readSchema(): StructType = metaSchema
  override def rows(): Array[InternalRow] = metaRows
  override def toBatch: Batch = this
  override def planInputPartitions(): Array[InputPartition] =
    Array(GraftMetaPartition(metaRows))
  override def createReaderFactory(): PartitionReaderFactory =
    new GraftMetaReaderFactory
}

private[v2] case class GraftMetaPartition(rows: Array[InternalRow])
    extends InputPartition

private[v2] class GraftMetaReaderFactory extends PartitionReaderFactory {
  override def createReader(
      p: InputPartition): PartitionReader[InternalRow] =
    new PartitionReader[InternalRow] {
      private val it = p.asInstanceOf[GraftMetaPartition].rows.iterator
      private var cur: InternalRow = _
      override def next(): Boolean =
        if (it.hasNext) { cur = it.next(); true } else false
      override def get(): InternalRow = cur
      override def close(): Unit = ()
    }
}
