package graft.sql

import graft.lake.{LakehouseTable, TableMetadata}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.{Expressions, Transform}
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.sources.InsertableRelation
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import java.util
import scala.jdk.CollectionConverters._

/** SQL-catalog surface for lakehouse tables: registers the engine as a
  * Spark `TableCatalog` so the full SQL DDL/DML surface works against
  * graft tables —
  *
  * {{{
  * spark.sql.catalog.graft           = graft.sql.GraftCatalog
  * spark.sql.catalog.graft.warehouse = /path/to/warehouse
  * spark.sql.extensions              = graft.functions.GraftExtensions
  *
  * CREATE TABLE graft.gold.ticks (symbol STRING, ts TIMESTAMP_NTZ,
  *   px DOUBLE) PARTITIONED BY (symbol, days(ts));
  * INSERT INTO graft.gold.ticks SELECT ...;
  * SELECT ... FROM graft.gold.ticks WHERE ts >= ...;
  * SELECT ... FROM graft.gold.ticks VERSION AS OF 3;
  * }}}
  *
  * Architecture (Spark-first, no reader reimplementation): reads do NOT
  * go through a custom DSv2 `Batch` — [[GraftRelationExpansion]] (a
  * resolution rule injected by `graft.functions.GraftExtensions`)
  * replaces every graft relation with the exact logical plan
  * [[LakehouseTable.read]] builds, so SQL reads inherit the whole
  * native read path with full fidelity: manifest-pruned file listings,
  * per-spec partition-dir recovery, rename alias-coalescing,
  * sequence-gated merge-on-read delete masking, and time travel. The
  * expanded plan bottoms out in plain parquet relations, so Catalyst
  * pushdown/pruning and whole-stage codegen apply unchanged — a
  * `WHERE` lands in `PushedFilters` exactly as it does for the
  * DataFrame API. Writes use Spark's V1 write fallback
  * ([[InsertableRelation]]): `INSERT INTO` drives [[LakehouseTable
  * .append]], i.e. the same atomic CAS-committed snapshot protocol,
  * QC'd stats and partition fan-out as every other writer — not a
  * second write path to keep correct.
  *
  * The catalog resolves tables directly from the warehouse directory
  * layout (`warehouse/namespace/table/metadata/`) — the same truth the
  * Python-side reference keeps in its catalog db, without a second
  * registry that could drift from the directories.
  */
class GraftCatalog extends TableCatalog with SupportsNamespaces with ProcedureCatalog {

  private var catalogName: String = _
  private var warehouse: Path = _

  private def spark: SparkSession = SparkSession.active
  private def fs = warehouse.getFileSystem(spark.sessionState.newHadoopConf())

  // ---- procedures (CALL graft.system.<proc>) ----------------------------

  override def loadProcedure(ident: Identifier): procedures.UnboundProcedure = {
    require(ident.namespace.sameElements(Array("system")),
      s"graft procedures live in the 'system' namespace " +
        s"(CALL $catalogName.system.<name>), got " +
        s"'${(ident.namespace :+ ident.name).mkString(".")}'")
    GraftProcedures.byName.get(ident.name)
      .map(_(this))
      .getOrElse(throw new NoSuchElementException(
        s"no such procedure '$catalogName.system.${ident.name}' " +
          s"(available: ${GraftProcedures.all.map(_._1).mkString(", ")})"))
  }

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    if (namespace.isEmpty || namespace.sameElements(Array("system")))
      GraftProcedures.all.map { case (n, _) => Identifier.of(Array("system"), n) }.toArray
    else Array.empty

  /** Resolve 'namespace.table' (or a bare table name directly under the
    * warehouse) to its native handle — the procedures' entry point.
    */
  private[sql] def lakeTable(name: String): LakehouseTable = {
    val parts = name.split("\\.").map(_.trim).filter(_.nonEmpty)
    require(parts.length == 1 || parts.length == 2,
      s"expected 'namespace.table', got '$name'")
    val ident = Identifier.of(parts.dropRight(1), parts.last)
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    LakehouseTable.load(spark, tablePath(ident))
  }

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    val wh = options.get("warehouse")
    require(wh != null && wh.nonEmpty,
      s"spark.sql.catalog.$name.warehouse must point at the warehouse directory")
    warehouse = new Path(wh)
  }

  override def name(): String = catalogName

  private def nsPath(ns: Array[String]): Path =
    ns.foldLeft(warehouse)((p, seg) => new Path(p, seg))

  private def tablePath(ident: Identifier): Path =
    new Path(nsPath(ident.namespace), ident.name)

  private def isTableDir(p: Path): Boolean =
    fs.exists(new Path(p, "metadata"))

  // ---- namespaces -------------------------------------------------------

  override def listNamespaces(): Array[Array[String]] =
    if (!fs.exists(warehouse)) Array.empty
    else fs.listStatus(warehouse).filter(_.isDirectory)
      .map(s => Array(s.getPath.getName)).sortBy(_.head)

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] = {
    if (namespace.isEmpty) return listNamespaces()
    if (!namespaceExists(namespace))
      throw new NoSuchNamespaceException(namespace)
    Array.empty // single-level namespaces
  }

  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.nonEmpty && fs.exists(nsPath(namespace)) &&
      !isTableDir(nsPath(namespace))

  override def loadNamespaceMetadata(namespace: Array[String]): util.Map[String, String] = {
    if (!namespaceExists(namespace))
      throw new NoSuchNamespaceException(namespace)
    Map("location" -> nsPath(namespace).toString).asJava
  }

  override def createNamespace(
      namespace: Array[String], metadata: util.Map[String, String]): Unit = {
    require(namespace.length == 1,
      s"graft namespaces are single-level, got ${namespace.mkString(".")}")
    fs.mkdirs(nsPath(namespace))
  }

  override def alterNamespace(
      namespace: Array[String], changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException("ALTER NAMESPACE is not supported")

  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean = {
    if (!namespaceExists(namespace)) return false
    val p = nsPath(namespace)
    if (!cascade && fs.listStatus(p).nonEmpty)
      throw new IllegalStateException(
        s"namespace ${namespace.mkString(".")} is not empty (use CASCADE)")
    fs.delete(p, true)
  }

  // ---- tables -----------------------------------------------------------

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    if (!namespaceExists(namespace))
      throw new NoSuchNamespaceException(namespace)
    fs.listStatus(nsPath(namespace)).filter(s => s.isDirectory && isTableDir(s.getPath))
      .map(s => Identifier.of(namespace, s.getPath.getName)).sortBy(_.name)
  }

  override def tableExists(ident: Identifier): Boolean =
    isTableDir(tablePath(ident))

  override def loadTable(ident: Identifier): Table = {
    if (tableExists(ident))
      return GraftSqlTable(LakehouseTable.load(spark, tablePath(ident)), pinnedSnapshot = None)
    // Iceberg-style metadata tables: `cat.ns.table.snapshots` arrives as
    // Identifier(namespace = [ns, table], name = "snapshots")
    if (ident.namespace.length >= 2 && GraftCatalog.MetaTables(ident.name)) {
      val base = Identifier.of(ident.namespace.dropRight(1), ident.namespace.last)
      if (tableExists(base))
        return GraftMetadataTable(
          LakehouseTable.load(spark, tablePath(base)), ident.name)
    }
    throw new NoSuchTableException(ident)
  }

  /** `VERSION AS OF <snapshot-id | 'tag' | 'branch'>` time travel: a
    * string version resolves tags first (a tag and a branch can never
    * share a name — createBranch/tagSnapshot both enforce it), then
    * branch heads — so a write-audit-publish auditor reads the staged
    * lineage in pure SQL (`… VERSION AS OF 'audit'`, VERDICT r9 #6).
    */
  override def loadTable(ident: Identifier, version: String): Table = {
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    val lt = LakehouseTable.load(spark, tablePath(ident))
    val id = try version.toLong catch {
      case _: NumberFormatException =>
        lt.tags.getOrElse(version, // tags are named versions
          lt.branches.getOrElse(version, // a branch names its head
            throw new NoSuchElementException(
              s"'$version' is neither a snapshot id, a tag, nor a branch of ${ident.name}")))
    }
    GraftSqlTable(lt, pinnedSnapshot = Some(id))
  }

  /** `TIMESTAMP AS OF` time travel (Spark hands micros since epoch);
    * lineage semantics are [[LakehouseTable.snapshotIdAsOf]]'s, shared
    * with the DataFrame `asOf`.
    */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    val lt = LakehouseTable.load(spark, tablePath(ident))
    val tsMs = timestamp / 1000L
    val id = lt.snapshotIdAsOf(tsMs).getOrElse(
      throw new NoSuchElementException(
        s"no snapshot of ${ident.name} at or before timestamp $tsMs ms"))
    GraftSqlTable(lt, pinnedSnapshot = Some(id))
  }

  override def createTable(
      ident: Identifier,
      schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]): Table = {
    if (tableExists(ident))
      throw new TableAlreadyExistsException(ident)
    val spec = partitions.toSeq.map(GraftCatalog.toSpecField)
    val lt = LakehouseTable.createIfNotExists(spark, tablePath(ident), schema, spec)
    properties.asScala.filterNot { case (k, _) => GraftCatalog.ReservedProps(k) }
      .foreach { case (k, v) => lt.setProperty(k, v) }
    GraftSqlTable(lt, pinnedSnapshot = None)
  }

  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val lt = LakehouseTable.load(spark, tablePath(ident))
    def topLevel(fieldNames: Array[String], what: String): String = {
      require(fieldNames.length == 1,
        s"$what supports top-level columns only, got ${fieldNames.mkString(".")}")
      fieldNames.head
    }
    changes.foreach {
      case p: TableChange.SetProperty => lt.setProperty(p.property, p.value)
      case a: TableChange.AddColumn =>
        // existing files null-fill an added column, so a NOT NULL
        // constraint cannot be honored — reject rather than silently
        // creating a nullable column under a non-null declaration;
        // FIRST/AFTER positions and comments are likewise rejected,
        // not dropped (columns always append to the frozen schema)
        if (!a.isNullable) throw new UnsupportedOperationException(
          s"ADD COLUMN ${a.fieldNames.mkString(".")} NOT NULL is not supported: " +
            "existing data files null-fill added columns")
        if (a.position != null) throw new UnsupportedOperationException(
          s"ADD COLUMN ${a.fieldNames.mkString(".")} FIRST/AFTER is not supported: " +
            "added columns append to the schema")
        if (a.comment != null) throw new UnsupportedOperationException(
          s"ADD COLUMN ${a.fieldNames.mkString(".")} COMMENT is not supported")
        lt.addColumn(topLevel(a.fieldNames, "ADD COLUMN"), a.dataType)
      case r: TableChange.RenameColumn =>
        lt.renameColumn(topLevel(r.fieldNames, "RENAME COLUMN"), r.newName)
      case d: TableChange.DeleteColumn =>
        val name = topLevel(d.fieldNames, "DROP COLUMN")
        val exists = StructType.fromDDL(lt.metadata.schemaDdl).fieldNames.contains(name)
        if (exists) lt.dropColumn(name)
        else if (!d.ifExists) throw new IllegalArgumentException(
          s"DROP COLUMN: no such column '$name' (use IF EXISTS for a no-op)")
      case u: TableChange.UpdateColumnType =>
        // ALTER COLUMN x TYPE BIGINT/DOUBLE: metadata-only for the
        // lossless promotion set; widenColumn refuses everything else
        lt.widenColumn(topLevel(u.fieldNames, "ALTER COLUMN TYPE"), u.newDataType)
      case other => throw new UnsupportedOperationException(
        s"ALTER TABLE change $other is not supported through SQL — " +
          "other evolution runs through the LakehouseTable API")
    }
    GraftSqlTable(lt, pinnedSnapshot = None)
  }

  override def dropTable(ident: Identifier): Boolean = {
    val p = tablePath(ident)
    if (!isTableDir(p)) return false
    fs.delete(p, true)
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    if (!tableExists(oldIdent)) throw new NoSuchTableException(oldIdent)
    if (tableExists(newIdent)) throw new TableAlreadyExistsException(newIdent)
    // a table dir is self-contained (metadata paths are relative), so a
    // rename is one filesystem move — same-warehouse only
    if (!fs.rename(tablePath(oldIdent), tablePath(newIdent)))
      throw new IllegalStateException(
        s"rename ${oldIdent.name} -> ${newIdent.name} failed")
  }
}

object GraftCatalog {
  private val ReservedProps = Set("provider", "location", "owner", "comment")

  /** Refuse non-append SQL writes while a WAP branch conf is active:
    * branches stage APPEND-shaped commits only, so UPDATE / DELETE /
    * MERGE / TRUNCATE cannot be audited there — running them would
    * silently bypass the write-audit-publish gate by mutating main
    * while the user believes everything is staging (review r10).
    */
  private[sql] def refuseUnderWapBranch(
      session: SparkSession, what: String): Unit =
    session.conf.getOption("spark.graft.wap.branch").filter(_.nonEmpty)
      .foreach(b => throw new UnsupportedOperationException(
        s"$what cannot run while spark.graft.wap.branch ('$b') is set: " +
          "branches stage append-shaped commits only, so a row-level " +
          "write cannot stage there and would silently bypass the WAP " +
          "audit by mutating main — unset the conf to write to main " +
          "deliberately"))

  /** Metadata-table suffixes served as `cat.ns.table.<name>`
    * ([[LakehouseTable.metadataTable]]).
    */
  private[sql] val MetaTables =
    Set("snapshots", "files", "manifests", "deletes", "partitions", "refs",
      "storage", "sum_coverage", "sum_coverage_groups", "ndv_coverage",
      "ndv_coverage_groups")

  /** Spark partition `Transform` → the engine's (source, transform) spec
    * field encoding (`LakehouseTable.createIfNotExists`).
    */
  private[sql] def toSpecField(t: Transform): (String, String) = {
    def ref: String = {
      val refs = t.references()
      require(refs.length == 1 && refs.head.fieldNames.length == 1,
        s"partition transform $t must reference exactly one top-level column")
      refs.head.fieldNames.head
    }
    t.name() match {
      case "identity" => ref -> "identity"
      case "years" => ref -> "year"
      case "months" => ref -> "month"
      case "days" => ref -> "day"
      case "hours" => ref -> "hour"
      case "bucket" =>
        val n = t.arguments().collectFirst {
          case lit: org.apache.spark.sql.connector.expressions.Literal[_] =>
            lit.value().asInstanceOf[Number].intValue()
        }.getOrElse(throw new IllegalArgumentException(s"bucket transform $t has no width"))
        ref -> s"bucket[$n]"
      case other =>
        throw new UnsupportedOperationException(s"partition transform '$other' is not supported")
    }
  }

  /** The engine's spec field → Spark `Transform` (for `Table.partitioning`). */
  private[sql] def toTransform(source: String, transform: String): Transform =
    transform match {
      case "identity" => Expressions.identity(source)
      case "year" => Expressions.years(source)
      case "month" => Expressions.months(source)
      case "day" => Expressions.days(source)
      case "hour" => Expressions.hours(source)
      case b if b.startsWith("bucket[") =>
        Expressions.bucket(b.stripPrefix("bucket[").stripSuffix("]").toInt, source)
      case other =>
        throw new IllegalStateException(s"unknown stored transform '$other'")
    }
}

/** A catalog table whose SQL relation [[GraftRelationExpansion]] expands
  * into a native DataFrame plan. The `ScanBuilder` fires only for plans
  * the rule leaves bare (the unexpanded `spark.table(t)` root, or a
  * session without the extension rule at all) and serves them through
  * [[GraftScanBuilder]]: provable ungrouped aggregates answer from
  * manifest roll-ups as a [[org.apache.spark.sql.connector.read
  * .LocalScan]] (DSv2 `SupportsPushDownAggregates`), everything else
  * executes the native merge-on-read-aware [[readDF]] plan behind a V1
  * bridge — correct where the pre-r16 builder could only fail with
  * setup instructions.
  */
sealed trait GraftReadableTable extends Table with SupportsRead {
  /** The native read plan this table's SQL relation expands into. */
  def readDF(): DataFrame

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftScanBuilder(this)
}

/** Metadata inspection table (`cat.ns.table.snapshots` …): the table's
  * own bookkeeping as a read-only SQL relation
  * ([[LakehouseTable.metadataTable]]) — driver-metadata-sized by the
  * format's design, no data file opened.
  */
final case class GraftMetadataTable(
    lt: LakehouseTable, metaName: String) extends GraftReadableTable {
  override def readDF(): DataFrame = lt.metadataTable(metaName)
  override def name(): String = s"${lt.metadata.name}.$metaName"
  override lazy val schema: StructType = readDF().schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
}

final case class GraftSqlTable(
    lt: LakehouseTable,
    pinnedSnapshot: Option[Long])
  extends GraftReadableTable with SupportsWrite
  with org.apache.spark.sql.connector.catalog.TruncatableTable {
  // DELETE FROM is handled by GraftRelationExpansion → GraftDeleteCommand
  // (not SupportsDelete: Spark's row-level path still scans the target
  // relation, which would need a real DSv2 Batch — the command keeps the
  // whole write on the engine's own commit protocol instead)

  /** `TRUNCATE TABLE`: one empty-content commit; pre-image reachable by
    * time travel until expiry.
    */
  override def truncateTable(): Boolean = {
    require(pinnedSnapshot.isEmpty, "cannot truncate a time-travel relation")
    GraftCatalog.refuseUnderWapBranch(SparkSession.active, "TRUNCATE TABLE")
    lt.truncate()
    true
  }

  /** The table's metadata, read once per relation: the name, schema,
    * partitioning and properties Spark asks for, the expansion's
    * pruning and native read, the metadata-aggregate answers and the
    * fallback scan's statistics all plan against this one version, so
    * a query pays one version-file read and a commit landing mid-plan
    * cannot split it across two versions.
    */
  lazy val meta: TableMetadata = lt.metadata

  override def readDF(): DataFrame = GraftNativeRead.nativeDF(this, filter = None)

  override def name(): String =
    meta.name + pinnedSnapshot.map(v => s"@v$v").getOrElse("")

  /** HIDDEN PARTITIONING (Iceberg semantics): the SQL schema is the
    * frozen logical schema only — derived partition columns (`ts_day`,
    * bucket dims) are layout, not data, so `INSERT INTO` supplies data
    * columns and `SELECT *` returns them; the write path derives the
    * layout columns itself. (Identity-partition sources are ordinary
    * data columns and stay visible.)
    */
  override lazy val schema: StructType =
    StructType.fromDDL(meta.schemaDdl)

  override def partitioning(): Array[Transform] =
    meta.defaultSpec.fields
      .map(f => GraftCatalog.toTransform(f.source, f.transform)).toArray

  override def properties(): util.Map[String, String] = meta.props.asJava

  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.V1_BATCH_WRITE,
      TableCapability.TRUNCATE)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    require(pinnedSnapshot.isEmpty, "cannot write to a time-travel relation")
    new WriteBuilder with org.apache.spark.sql.connector.write.SupportsTruncate {
      private var replaceAll = false
      // INSERT OVERWRITE arrives as a truncate-marked write
      override def truncate(): WriteBuilder = { replaceAll = true; this }
      override def build(): Write = new V1Write {
        override def toInsertableRelation: InsertableRelation =
          (data: DataFrame, overwrite: Boolean) => {
            // write-audit-publish in pure SQL (Iceberg's `spark.wap.branch`
            // analog): while the session conf names a branch, INSERT INTO
            // stages there instead of publishing to main — the auditor
            // reads `VERSION AS OF '<branch>'` and publishes with
            // CALL <cat>.system.fast_forward
            val wapBranch = data.sparkSession.conf
              .getOption("spark.graft.wap.branch").filter(_.nonEmpty)
            (replaceAll || overwrite, wapBranch) match {
              case (true, Some(b)) => throw new UnsupportedOperationException(
                s"INSERT OVERWRITE cannot target WAP branch '$b' — " +
                  "overwrite rewrites main's content set; unset " +
                  "spark.graft.wap.branch or stage appends only")
              case (true, None) => lt.overwrite(data)
              case (false, Some(b)) => lt.appendToBranch(b, data)
              case (false, None) => lt.append(data)
            }
            ()
          }
      }
    }
  }
}
