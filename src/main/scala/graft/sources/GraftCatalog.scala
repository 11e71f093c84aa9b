package graft.sources

import java.nio.file.{Files, Paths}
import java.util.{Map => JMap}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog.{Identifier, ProcedureCatalog, StagedTable, StagingTableCatalog, Table, TableCatalog, TableChange, TableInfo}
import org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.{StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.operators.{Layout, VersionedTable}

/** The graft format as a SQL CATALOG — name-addressed tables with
  * VERSION-AS-OF time travel in plain SQL:
  *
  * {{{
  *   spark.sql.catalog.graft           = graft.sources.GraftCatalog
  *   spark.sql.catalog.graft.warehouse = /data/graft
  *
  *   CREATE TABLE graft.ns.t (k BIGINT, v BIGINT)
  *   INSERT INTO graft.ns.t VALUES ...
  *   SELECT * FROM graft.ns.t VERSION AS OF 3     -- time travel
  *   UPDATE / DELETE FROM / MERGE INTO graft.ns.t -- the DML surface
  * }}}
  *
  * Identity is the warehouse layout: `<warehouse>/<ns...>/<name>` IS
  * the table's commit-log base — the catalog is stateless metadata
  * resolution over the log the format already owns (the
  * path-as-catalog shape Delta/Iceberg HadoopCatalog use), so there
  * is no second source of truth to drift. `CREATE TABLE` publishes an
  * empty v1 carrying the declared schema header; `VERSION AS OF`
  * resolves through `loadTable(ident, version)` — Spark's own
  * time-travel analysis — onto the same [[GraftTable]] the
  * path-based reads use, so every read/write/DML capability is
  * identical between `format("graft").load(path)` and catalog names.
  */
class GraftCatalog extends TableCatalog with ProcedureCatalog
    with StagingTableCatalog
    with org.apache.spark.sql.connector.catalog.FunctionCatalog {

  private var catalogName: String = _
  private var warehouse: String = _

  override def initialize(name: String,
                          options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    warehouse = Option(options.get("warehouse")).getOrElse(
      throw new IllegalArgumentException(
        s"graft catalog '$name' needs spark.sql.catalog.$name.warehouse"))
  }

  override def name(): String = catalogName

  private def basePath(ident: Identifier): String =
    (warehouse +: (ident.namespace().toSeq :+ ident.name()))
      .mkString("/")

  private def load(ident: Identifier, version: Option[Long]): GraftTable = {
    val base = basePath(ident)
    val latest = VersionedTable.latestVersion(base).getOrElse(
      throw new NoSuchTableException(ident))
    val v = version.getOrElse(latest)
    val schema = VersionedTable.declaredSchema(base, v)
      .map(graft.operators.ColumnMapping.visible)
      .getOrElse(new StructType())
    new GraftTable(base, Some(v), schema)
  }

  override def loadTable(ident: Identifier): Table = load(ident, None)

  /** `VERSION AS OF <v>` — Spark's time-travel resolution calls this
    * overload with the literal version string.
    */
  /** `VERSION AS OF <v>` — a number pins that committed version; a
    * non-numeric literal resolves as a NAMED REF (`VERSION AS OF
    * 'rc1'`, the Iceberg tag-travel idiom) through
    * [[VersionedTable.resolveRef]], loudly when unknown.
    */
  override def loadTable(ident: Identifier, version: String): Table =
    load(ident, Some(
      if (version.nonEmpty && version.forall(_.isDigit)) version.toLong
      else VersionedTable.resolveRef(basePath(ident), version)))

  /** `TIMESTAMP AS OF <t>` — Spark hands the literal as epoch MICROS;
    * resolution is the latest version whose in-commit timestamp
    * ([[VersionedTable.commitTimestamp]] — strictly increasing by
    * construction) is ≤ t.
    */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val base = basePath(ident)
    if (VersionedTable.latestVersion(base).isEmpty)
      throw new NoSuchTableException(ident)
    val v = VersionedTable.versionAtTimestamp(base, timestamp / 1000L)
      .getOrElse(throw new IllegalArgumentException(
        s"table $ident did not exist yet at timestamp $timestamp µs " +
          "(its first commit is later)"))
    load(ident, Some(v))
  }

  override def tableExists(ident: Identifier): Boolean =
    VersionedTable.latestVersion(basePath(ident)).isDefined

  override def createTable(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: JMap[String, String]): Table = {
    if (tableExists(ident)) throw new TableAlreadyExistsException(ident)
    val base = basePath(ident)
    val s = SparkSession.active
    // the `PARTITIONED BY` transform ([[Layout.fromTransform]]) persists
    // as the table's DEFAULT layout, so the first data write — and any
    // write after a voided claim — shapes its delta per the declaration
    // (the Iceberg partition-spec semantic)
    Layout.fromTransform(partitions)
      .foreach(VersionedTable.declareLayout(base, _))
    // an empty v1 whose manifest carries the declared schema header —
    // the table reads as zero rows of that shape until the first write
    VersionedTable.commitAppend(s,
      base, s.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](), schema))
    load(ident, None)
  }

  /** `ALTER TABLE ... ADD COLUMNS (...)` — a METADATA-ONLY
    * `alter_schema` commit (zero files touched; old files null-fill at
    * read). Only top-level ADD COLUMN is supported: nested-field
    * surgery, renames, drops and type changes are refused loudly —
    * each either needs a rewrite this format deliberately never does
    * implicitly, or (rename/drop) would silently orphan zone-map and
    * bloom manifest tokens keyed by the old name.
    */
  override def alterTable(ident: Identifier,
                          changes: TableChange*): Table = {
    // CHECK constraints ride table properties, the Delta
    // `delta.constraints.<name>` idiom:
    //   ALTER TABLE t SET TBLPROPERTIES ('graft.constraint.pos' = 'v > 0')
    //   ALTER TABLE t UNSET TBLPROPERTIES ('graft.constraint.pos')
    // ADD validates existing rows first; writes enforce from then on.
    val ConstraintKey = "graft.constraint.(.+)".r
    val (constraintChanges, rest) = changes.partition {
      case p: TableChange.SetProperty =>
        ConstraintKey.pattern.matcher(p.property()).matches()
      case p: TableChange.RemoveProperty =>
        ConstraintKey.pattern.matcher(p.property()).matches()
      case _ => false
    }
    constraintChanges.foreach {
      case p: TableChange.SetProperty =>
        val ConstraintKey(nm) = p.property()
        VersionedTable.addConstraint(SparkSession.active, basePath(ident),
          nm, p.value())
      case p: TableChange.RemoveProperty =>
        val ConstraintKey(nm) = p.property()
        VersionedTable.dropConstraint(basePath(ident), nm)
      case _ => ()
    }
    if (rest.isEmpty) return loadTable(ident)
    // RENAME/DROP COLUMN: metadata-only commits via column mapping
    // (r12) — stable physical ids under logical names, see
    // VersionedTable.alterRenameColumn/alterDropColumn
    val (mapping, additions) = rest.partition {
      case _: TableChange.RenameColumn => true
      case _: TableChange.DeleteColumn => true
      case _ => false
    }
    mapping.foreach {
      case r: TableChange.RenameColumn =>
        require(r.fieldNames.length == 1,
          "graft RENAME COLUMN supports top-level columns only, got " +
            r.fieldNames.mkString("."))
        VersionedTable.alterRenameColumn(basePath(ident),
          r.fieldNames.head, r.newName())
      case d: TableChange.DeleteColumn =>
        require(d.fieldNames.length == 1,
          "graft DROP COLUMN supports top-level columns only, got " +
            d.fieldNames.mkString("."))
        VersionedTable.alterDropColumn(basePath(ident), d.fieldNames.head)
      case _ => ()
    }
    if (additions.isEmpty) return loadTable(ident)
    val adds = additions.map {
      case a: TableChange.AddColumn =>
        require(a.fieldNames.length == 1,
          "graft ALTER TABLE adds top-level columns only, got nested " +
            s"field ${a.fieldNames.mkString(".")}")
        require(a.position() == null,
          "graft ALTER TABLE appends columns at the end (no FIRST/AFTER " +
            "— column order is the declared schema's, not the files')")
        require(a.isNullable,
          s"graft ALTER TABLE: column '${a.fieldNames.head}' must be " +
            "nullable — existing rows have no value to satisfy NOT NULL")
        StructField(a.fieldNames.head, a.dataType(), nullable = true)
      case other => throw new UnsupportedOperationException(
        s"ALTER TABLE on graft supports ADD COLUMNS only, got $other — " +
          "schema otherwise evolves through writes (append/merge with " +
          "extra columns); renames/drops/retypes need an explicit rewrite")
    }
    VersionedTable.alterAddColumns(basePath(ident), adds)
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean = {
    val base = Paths.get(basePath(ident))
    if (!Files.isDirectory(base)) return false
    deleteRecursively(base)
    true
  }

  private def deleteRecursively(dir: java.nio.file.Path): Unit =
    VersionedTable.deleteTree(dir) // the one shared depth-first delete

  // -------------------------------------------------------------------
  // Atomic CTAS / RTAS ([[StagingTableCatalog]]): `CREATE TABLE ... AS
  // SELECT` writes into a HIDDEN sibling staging directory (a complete
  // graft table: empty v1 with the declared schema header, then the
  // query's rows as v2 through the ordinary commit protocol), and
  // `commitStagedChanges` publishes it with ONE same-filesystem
  // directory rename — a failed or killed CTAS leaves no half-written
  // table at the target name, and REPLACE TABLE AS SELECT never
  // exposes a window where the table is missing or half-new. The
  // non-staging fallback Spark uses for plain TableCatalogs (create,
  // write, drop-on-failure) is exactly the non-atomicity this removes.

  private def stage(ident: Identifier, schema: StructType,
                    partitions: Array[Transform], replace: Boolean,
                    orCreate: Boolean): StagedTable = {
    if (!replace && tableExists(ident))
      throw new TableAlreadyExistsException(ident)
    if (replace && !orCreate && !tableExists(ident))
      throw new NoSuchTableException(ident)
    val base = Paths.get(basePath(ident))
    Files.createDirectories(base.getParent)
    val stageDir = base.resolveSibling(
      s".${base.getFileName}.stage-${java.util.UUID.randomUUID().toString.take(8)}")
    val s = SparkSession.active
    // the declared layout rides the stage dir: the CTAS data commit
    // lands in it pre-publish, so the first write is already shaped
    Layout.fromTransform(partitions)
      .foreach(VersionedTable.declareLayout(stageDir.toString, _))
    VersionedTable.commitAppend(s, stageDir.toString, s.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](), schema))
    new GraftStagedTable(stageDir, base, schema, replace, ident,
      deleteRecursively)
  }

  override def stageCreate(ident: Identifier, info: TableInfo): StagedTable =
    stage(ident, info.schema(), info.partitions(), replace = false,
      orCreate = false)

  override def stageReplace(ident: Identifier, info: TableInfo): StagedTable =
    stage(ident, info.schema(), info.partitions(), replace = true,
      orCreate = false)

  override def stageCreateOrReplace(ident: Identifier,
                                    info: TableInfo): StagedTable =
    stage(ident, info.schema(), info.partitions(), replace = true,
      orCreate = true)

  override def renameTable(from: Identifier, to: Identifier): Unit = {
    if (!tableExists(from)) throw new NoSuchTableException(from)
    if (tableExists(to)) throw new TableAlreadyExistsException(to)
    val dst = Paths.get(basePath(to))
    Files.createDirectories(dst.getParent)
    Files.move(Paths.get(basePath(from)), dst)
    ()
  }

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val dir = Paths.get((warehouse +: namespace.toSeq).mkString("/"))
    if (!Files.isDirectory(dir)) return Array.empty
    val stream = Files.list(dir)
    try stream.iterator().asScala
      .filter(p => Files.isDirectory(p.resolve("_log")) &&
        !p.getFileName.toString.startsWith(".")) // staging/trash dirs
      .map(p => Identifier.of(namespace, p.getFileName.toString))
      .toArray
    finally stream.close()
  }

  // -------------------------------------------------------------------
  // V2 functions ([[FunctionCatalog]]): `bucket` — what lets Spark
  // resolve the KeyGroupedPartitioning a bucketed graft scan reports
  // and plan storage-partitioned joins (see [[GraftBucketFunction]]).
  // Resolution looks the function up in the READING relation's own
  // catalog with an empty namespace, which is why it lives here.

  override def listFunctions(
      namespace: Array[String]): Array[Identifier] =
    if (namespace.isEmpty)
      Array(Identifier.of(namespace, "bucket"),
        Identifier.of(namespace, "days"),
        Identifier.of(namespace, "hours"),
        Identifier.of(namespace, "months"),
        Identifier.of(namespace, "years"),
        Identifier.of(namespace, "truncate"))
    else Array.empty

  override def loadFunction(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.functions.UnboundFunction =
    if (ident.name() == "bucket") GraftBucketFunction
    else if (ident.name() == "days") GraftDaysFunction
    else if (ident.name() == "hours") new GraftTimeFunction("hours")
    else if (ident.name() == "months") new GraftTimeFunction("months")
    else if (ident.name() == "years") new GraftTimeFunction("years")
    else if (ident.name() == "truncate") GraftTruncateFunction
    else if (ident.name().startsWith("truncate_") &&
        ident.name().stripPrefix("truncate_").nonEmpty &&
        ident.name().stripPrefix("truncate_").length <= 9 &&
        ident.name().stripPrefix("truncate_").forall(_.isDigit))
      // the width-pinned family the scan reports for SPJ — resolved on
      // demand, one function per declared width (see
      // GraftTruncateWidthFunction's scaladoc for why the width rides
      // in the name)
      new GraftTruncateWidthFunction(
        ident.name().stripPrefix("truncate_").toInt)
    else throw new org.apache.spark.sql.catalyst.analysis
      .NoSuchFunctionException(ident)

  // -------------------------------------------------------------------
  // Maintenance procedures — `CALL graft.system.<proc>(...)` (see
  // [[GraftProcedures]]). The table argument resolves through the SAME
  // warehouse layout the name-based reads use, dots separating
  // namespace levels exactly as in `graft.ns.t`.

  private def tableBase(dotted: String): String =
    (warehouse +: dotted.split('.').toSeq.filter(_.nonEmpty)).mkString("/")

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    if (namespace.sameElements(Array("system"))) GraftProcedures.identifiers
    else Array.empty

  override def loadProcedure(ident: Identifier): UnboundProcedure = {
    val found =
      if (ident.namespace().sameElements(Array("system")))
        GraftProcedures.load(ident.name(), tableBase)
      else None
    found.getOrElse(throw new RuntimeException(
      s"no such graft procedure: ${ident.namespace().mkString(".")}." +
        s"${ident.name()} (have: system.{${GraftProcedures.names.mkString(",")}})"))
  }
}

/** A staged CTAS/RTAS target: a complete graft table at a hidden
  * sibling path, published (or discarded) with directory renames —
  * see the staging scaladoc in [[GraftCatalog]]. Reads and writes
  * during the staged query are the ordinary [[GraftTable]] surface
  * over the staging path.
  */
private[sources] class GraftStagedTable(
    stageDir: java.nio.file.Path, finalDir: java.nio.file.Path,
    schema0: StructType, replace: Boolean, ident: Identifier,
    rm: java.nio.file.Path => Unit)
    extends GraftTable(stageDir.toString, Some(1L), schema0)
    with StagedTable {

  import java.nio.file.StandardCopyOption.ATOMIC_MOVE

  override def commitStagedChanges(): Unit = {
    if (replace && Files.isDirectory(finalDir)) {
      // swap: old snapshot aside (readers holding the old path keep
      // their already-planned file lists), staged table in, old gone
      val trash = finalDir.resolveSibling(
        s".${finalDir.getFileName}.old-" +
          java.util.UUID.randomUUID().toString.take(8))
      Files.move(finalDir, trash, ATOMIC_MOVE)
      Files.move(stageDir, finalDir, ATOMIC_MOVE)
      rm(trash)
    } else {
      // create-exclusive: a concurrent CTAS of the same name loses
      // loudly, exactly like a lost commit race
      try Files.move(stageDir, finalDir, ATOMIC_MOVE)
      catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          rm(stageDir)
          throw new TableAlreadyExistsException(ident)
      }
    }
  }

  private val tag = s"graft-stage-${java.util.UUID.randomUUID()}"

  override protected def writeJobTag: Option[String] = Some(tag)

  /** Spark fails a job on its first failed task and kills the others
    * asynchronously; until they end they can still create attempt
    * files under the stage dir, and a delete racing them leaves debris.
    * So wait (at most 10 s) for the tasks of THIS table's write stages
    * to end — never for other jobs' — before deleting it.
    */
  override def abortStagedChanges(): Unit = {
    val tracker = SparkSession.active.sparkContext.statusTracker
    val stages = tracker.getJobIdsForTag(tag).toSeq
      .flatMap(tracker.getJobInfo(_)).flatMap(_.stageIds)
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    while (stages.exists(tracker.getStageInfo(_).exists(_.numActiveTasks > 0))
        && System.nanoTime() < deadline)
      Thread.sleep(10)
    rm(stageDir)
  }
}
