package graft.sources

import java.util.{Iterator => JIterator}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.Identifier
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.read.{LocalScan, Scan}
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

import graft.operators.{Layout, VersionedTable}

/** The table format's MAINTENANCE surface as SQL stored procedures —
  * the Iceberg `CALL catalog.system.<proc>(...)` idiom on Spark 4's
  * native `ProcedureCatalog` API, so the ops loop a 100 TB table
  * lives by (roll back a bad deploy, reclaim storage, compact small
  * files, recluster for skipping) is plain SQL a scheduler can run —
  * no JVM library call, no engine internals in the runbook:
  *
  * {{{
  *   CALL graft.system.restore('ns.t', 8)        -- undo to version 8
  *   CALL graft.system.vacuum('ns.t', 9)         -- erase pre-9 files
  *   CALL graft.system.compact('ns.t', 4, 'k')   -- 4 files, stats on k
  *   CALL graft.system.zorder('ns.t', 'a', 'b', 4)
  * }}}
  *
  * Each procedure resolves its table argument through the SAME
  * warehouse layout [[GraftCatalog]] resolves names with (the path IS
  * the identity — no second source of truth), delegates to the
  * [[VersionedTable]] maintenance op, and returns a one-row
  * `LocalScan` result (zero tasks — the ops themselves are
  * metadata-plane or internally distributed). Scale: `restore` is an
  * O(changed files) manifest commit; `vacuum` a driver-plane listing
  * diff; `compact`/`zorder` cluster-side rewrites bounded by the live
  * snapshot, committed through the same optimistic-retry protocol as
  * every data write.
  */
private[sources] object GraftProcedures {

  /** One self-binding procedure: the parameter list is declared, so
    * `bind` is the identity (Spark's `InvokeProcedures` has already
    * aligned positional/named CALL args to `parameters()` order).
    */
  private final class Proc(
      procName: String,
      doc: String,
      params: Seq[(String, DataType, String)],
      result: StructType,
      body: InternalRow => Seq[Any])
      extends UnboundProcedure with BoundProcedure {
    override def name(): String = procName
    override def description(): String = doc
    override def bind(inputType: StructType): BoundProcedure = this
    override def parameters(): Array[ProcedureParameter] =
      params.map { case (n, t, c) =>
        ProcedureParameter.in(n, t).comment(c).build()
      }.toArray
    // maintenance ops mutate the commit log — never cacheable
    override def isDeterministic: Boolean = false
    override def call(input: InternalRow): JIterator[Scan] = {
      val row: InternalRow = new GenericInternalRow(body(input).toArray)
      val scan: Scan = new LocalScan {
        override def rows(): Array[InternalRow] = Array(row)
        override def readSchema(): StructType = result
      }
      Seq(scan).iterator.asJava
    }
  }

  private def out(fields: (String, DataType)*): StructType =
    StructType(fields.map { case (n, t) => StructField(n, t, nullable = false) })

  private val tableParam =
    ("table", StringType: DataType,
      "table name inside this catalog, e.g. 'ns.t'")

  // the layout procedures' (kind, spec) pair, documented from the one
  // list of kinds
  private val kindParam =
    ("kind", StringType: DataType, Layout.Kinds.mkString("|"))
  private val specParam = ("spec", StringType: DataType, Layout.SpecHelp)

  /** Comma-separated column list → Seq (empty string = none). */
  private def cols(s: String): Seq[String] =
    s.split(',').map(_.trim).filter(_.nonEmpty).toSeq

  def names: Seq[String] =
    Seq("restore", "vacuum", "compact", "compact_small", "zorder",
      "zorder_by", "zorder_where", "analyze",
      "create_tag", "drop_tag", "clone", "rebucket", "enable_row_ids",
      "vacuum_dry_run", "set_layout", "rebucket_stale", "relayout_stale",
      "create_branch", "fast_forward", "drop_branch", "resort_stale")

  /** Procedures for one catalog instance; `tableBase` is the
    * catalog's name→commit-log-base resolution.
    */
  def load(name: String, tableBase: String => String): Option[UnboundProcedure] = {
    def base(in: InternalRow): String = {
      val b = tableBase(in.getUTF8String(0).toString)
      require(VersionedTable.latestVersion(b).isDefined,
        s"no graft table at $b (never committed)")
      b
    }
    name match {
      case "restore" => Some(new Proc("restore",
        "roll the table back to an earlier version as a new commit " +
          "(history preserved; O(changed files) metadata only)",
        Seq(tableParam,
          ("version", LongType, "committed version to restore to")),
        out("restored_to" -> LongType, "version" -> LongType),
        in => {
          val toV = in.getLong(1)
          Seq(toV, VersionedTable.restore(base(in), toV))
        }))
      case "vacuum_dry_run" => Some(new Proc("vacuum_dry_run",
        "PURE-READ audit of vacuum(retain_from): how many files and " +
          "log entries the sweep WOULD delete — nothing is written, " +
          "not even checkpoints (run before the irreversible sweep)",
        Seq(tableParam,
          ("retain_from", LongType, "oldest version the sweep would keep")),
        out("files_would_delete" -> LongType),
        in => Seq(VersionedTable.vacuum(base(in), in.getLong(1),
          dryRun = true).size.toLong)))
      case "vacuum" => Some(new Proc("vacuum",
        "physically delete files unreferenced by any version >= " +
          "retain_from (checkpoints the truncation point first)",
        Seq(tableParam,
          ("retain_from", LongType, "oldest version to keep readable")),
        out("files_deleted" -> LongType),
        in => Seq(
          VersionedTable.vacuum(base(in), in.getLong(1)).size.toLong)))
      case "compact" => Some(new Proc("compact",
        "rewrite the latest snapshot into num_files files as a new " +
          "commit (small-file maintenance; old version stays readable)",
        Seq(tableParam,
          ("num_files", IntegerType, "target file count"),
          ("stats_cols", StringType,
            "comma-separated zone-map columns ('' = none)")),
        out("version" -> LongType),
        in => Seq(VersionedTable.compact(SparkSession.active, base(in),
          in.getInt(1), cols(in.getUTF8String(2).toString)))))
      case "compact_small" => Some(new Proc("compact_small",
        "INCREMENTAL compaction: rewrite ONLY files under small_bytes " +
          "(plus deletion-vector'd files, folding their DVs away) into " +
          "~target_bytes files; right-sized files carry forward " +
          "untouched -- O(small-file debt), never O(table)",
        Seq(tableParam,
          ("small_bytes", LongType, "files under this size qualify"),
          ("target_bytes", LongType, "packed output file size")),
        out("version" -> LongType),
        in => Seq(VersionedTable.compactSmall(SparkSession.active,
          base(in), in.getLong(1), in.getLong(2)))))
      case "zorder_by" => Some(new Proc("zorder_by",
        "OPTIMIZE ZORDER BY (c1, c2, ...): the N-column form of " +
          "zorder -- comma-separated clustering keys",
        Seq(tableParam,
          ("columns", StringType, "comma-separated z-order columns (>=2)"),
          ("num_files", IntegerType, "target file count")),
        out("version" -> LongType),
        in => Seq(VersionedTable.optimizeN(SparkSession.active, base(in),
          cols(in.getUTF8String(1).toString), in.getInt(2)))))
      case "analyze" => Some(new Proc("analyze",
        "compute NDV sketches for the named columns over the existing " +
          "files (one full scan) and republish entries stats-only; " +
          "later commits re-collect automatically (sticky discipline)",
        Seq(tableParam,
          ("columns", StringType, "comma-separated columns to sketch")),
        out("version" -> LongType),
        in => Seq(VersionedTable.analyze(SparkSession.active, base(in),
          cols(in.getUTF8String(1).toString)))))
      case "zorder_where" => Some(new Proc("zorder_where",
        "SCOPED re-clustering: z-order ONLY the files whose zone maps " +
          "overlap [lo, hi] on scope_col (the recluster-recent-ingest " +
          "pattern -- O(touched files), everything else carries forward)",
        Seq(tableParam,
          ("scope_col", StringType, "zone-mapped column the scope keys on"),
          ("lo", LongType, "scope lower bound (inclusive)"),
          ("hi", LongType, "scope upper bound (inclusive)"),
          ("columns", StringType, "comma-separated z-order columns (>=2)"),
          ("num_files", IntegerType, "target file count for the scope")),
        out("version" -> LongType),
        in => Seq(VersionedTable.optimizeWhere(SparkSession.active,
          base(in),
          Seq(VersionedTable.LongRange(in.getUTF8String(1).toString,
            in.getLong(2), in.getLong(3))),
          cols(in.getUTF8String(4).toString), in.getInt(5)))))
      case "zorder" => Some(new Proc("zorder",
        "OPTIMIZE ZORDER BY (col_a, col_b): rewrite the latest " +
          "snapshot Morton-clustered so zone-map skipping bites on " +
          "multi-key predicates",
        Seq(tableParam,
          ("col_a", StringType, "first z-order column"),
          ("col_b", StringType, "second z-order column"),
          ("num_files", IntegerType, "target file count")),
        out("version" -> LongType),
        in => Seq(VersionedTable.optimize(SparkSession.active, base(in),
          (in.getUTF8String(1).toString, in.getUTF8String(2).toString),
          in.getInt(3)))))
      case "create_tag" => Some(new Proc("create_tag",
        "pin an IMMUTABLE named ref at a committed version; tagged " +
          "snapshots survive vacuum and read via option('ref', name)",
        Seq(tableParam,
          ("tag", StringType, "tag name (letters, digits, _ - .)"),
          ("version", LongType, "committed version to pin")),
        out("version" -> LongType),
        in => {
          val v = in.getLong(2)
          VersionedTable.createTag(base(in),
            in.getUTF8String(1).toString, v)
          Seq(v)
        }))
      case "drop_tag" => Some(new Proc("drop_tag",
        "drop a named ref; the snapshot it pinned becomes ordinary " +
          "history the next vacuum may reclaim",
        Seq(tableParam,
          ("tag", StringType, "tag name to drop")),
        out("dropped" -> LongType),
        in => {
          VersionedTable.dropTag(base(in), in.getUTF8String(1).toString)
          Seq(1L)
        }))
      case "clone" => Some(new Proc("clone",
        "SHALLOW CLONE: fork a zero-copy writable branch of source at " +
          "a version (default: latest) into target (a fresh table " +
          "name) -- one metadata commit referencing the source's " +
          "files; the cloned snapshot is auto-tagged on the source so " +
          "vacuum retains it",
        Seq(("source", StringType,
            "source table name inside this catalog, e.g. 'ns.t'"),
          ("target", StringType,
            "target table name (must not exist), e.g. 'ns.branch'"),
          ("version", LongType, "source version to fork (0 = latest)")),
        out("version" -> LongType),
        in => {
          val v = in.getLong(2)
          Seq(VersionedTable.shallowClone(SparkSession.active,
            base(in), tableBase(in.getUTF8String(1).toString),
            if (v <= 0L) None else Some(v)))
        }))
      case "enable_row_ids" => Some(new Proc("enable_row_ids",
        "enable ROW TRACKING: one metadata-only backfill commit " +
          "assigns every live file its implicit id span; rewrites " +
          "preserve surviving rows' ids from then on (read them via " +
          "graft_with_row_ids(t) or the library surface)",
        Seq(tableParam),
        out("version" -> LongType),
        in => Seq(VersionedTable.enableRowIds(base(in)))))
      case "set_layout" => Some(new Proc("set_layout",
        "LAYOUT EVOLUTION, step 1 (Iceberg partition-evolution model): " +
          "declare a NEW current layout generation -- every append/DML " +
          "delta from now on takes it, old files keep theirs, the " +
          "co-location claim stays voided (joins shuffle, correctly) " +
          "until rebucket_stale retires the stale generation",
        Seq(tableParam, kindParam, specParam),
        out("declared" -> LongType),
        in => {
          VersionedTable.declareLayout(base(in),
            in.getUTF8String(1).toString, in.getUTF8String(2).toString)
          Seq(1L)
        }))
      case "relayout_stale" => Some(new Proc("relayout_stale",
        "LAYOUT EVOLUTION across the whole family (r15): declare " +
          "(kind, spec) the current generation -- any layout kind " +
          s"(${Layout.Kinds.mkString("|")}) -- and rewrite ONLY the " +
          "files whose verified layout token disagrees; a " +
          "days->months archive transition costs the stale files, " +
          "never the table",
        Seq(tableParam, kindParam, specParam),
        out("version" -> LongType),
        in => Seq(VersionedTable.relayoutStale(SparkSession.active,
          base(in), in.getUTF8String(1).toString,
          in.getUTF8String(2).toString))))
      case "rebucket_stale" => Some(new Proc("rebucket_stale",
        "LAYOUT EVOLUTION, step 2: rewrite ONLY the files whose bucket " +
          "token differs from (column, num_buckets) -- O(stale files), " +
          "not O(table) -- declaring that layout current; once the last " +
          "stale file retires the zero-shuffle SPJ claim returns",
        Seq(tableParam,
          ("column", StringType, "int/long/string bucket key column(s)"),
          ("num_buckets", IntegerType, "bucket count (murmur3 mod n)")),
        out("version" -> LongType),
        in => Seq(VersionedTable.relayoutStale(SparkSession.active,
          base(in), Layout.Bucket(in.getInt(2),
            Layout.splitCols(in.getUTF8String(1).toString))))))
      case "create_branch" => Some(new Proc("create_branch",
        "WRITE-AUDIT-PUBLISH, step 1: fork a zero-copy WRITABLE BRANCH " +
          "at a committed version (0 = latest) -- stage commits on it " +
          "(it lives at <table>/_branches/<name>, a full graft table), " +
          "audit the branch head, then CALL fast_forward to publish",
        Seq(tableParam,
          ("branch", StringType, "branch name (letters, digits, _ - .)"),
          ("version", LongType, "fork version (0 = latest)")),
        out("fork_version" -> LongType),
        in => {
          val v = in.getLong(2)
          Seq(VersionedTable.createBranch(SparkSession.active, base(in),
            in.getUTF8String(1).toString,
            if (v <= 0L) None else Some(v)))
        }))
      case "fast_forward" => Some(new Proc("fast_forward",
        "WRITE-AUDIT-PUBLISH, step 3: atomically advance main to the " +
          "branch head as ONE commit (#op=fast_forward) and consume " +
          "the branch -- refuses loudly (main untouched, branch " +
          "intact) if a concurrent writer advanced main past the fork",
        Seq(tableParam,
          ("branch", StringType, "branch name to publish")),
        out("version" -> LongType),
        in => Seq(VersionedTable.fastForward(SparkSession.active,
          base(in), in.getUTF8String(1).toString))))
      case "drop_branch" => Some(new Proc("drop_branch",
        "discard a staged branch without publishing: delete its " +
          "directory and release the fork snapshot's retention pin",
        Seq(tableParam,
          ("branch", StringType, "branch name to drop")),
        out("dropped" -> LongType),
        in => {
          VersionedTable.dropBranch(base(in), in.getUTF8String(1).toString)
          Seq(1L)
        }))
      case "resort_stale" => Some(new Proc("resort_stale",
        "SORT-ORDER EVOLUTION: rewrite ONLY the files whose zone-map " +
          "span on the declared within-layout sort column exceeds " +
          "max_span (stale-generation locality) -- O(stale files); " +
          "files already tight carry forward untouched",
        Seq(tableParam,
          ("max_span", LongType,
            "largest acceptable per-file hi-lo span on the first " +
              "declared sort column")),
        out("version" -> LongType),
        in => Seq(VersionedTable.resortStale(SparkSession.active,
          base(in), in.getLong(1)))))
      case "rebucket" => Some(new Proc("rebucket",
        "OPTIMIZE REBUCKET: rewrite the latest snapshot hash-bucketed " +
          "num_buckets ways on column -- establishes (or changes) the " +
          "co-location layout storage-partitioned joins elide " +
          "shuffles on; the sticky discipline then keeps every " +
          "commit's delta in the layout",
        Seq(tableParam,
          ("column", StringType, "int/long/string bucket key column"),
          ("num_buckets", IntegerType, "bucket count (murmur3 mod n)")),
        out("version" -> LongType),
        in => Seq(VersionedTable.rebucket(SparkSession.active, base(in),
          in.getUTF8String(1).toString, in.getInt(2)))))
      case _ => None
    }
  }

  def identifiers: Array[Identifier] =
    names.map(n => Identifier.of(Array("system"), n)).toArray
}
