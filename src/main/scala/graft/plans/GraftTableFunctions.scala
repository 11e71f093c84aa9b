package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType}

import graft.operators.{Layout, VersionedTable}

/** SQL table-valued functions over the commit log — the audit surface
  * as plain FROM-clause citizens (the `table_changes` idiom):
  *
  * {{{
  *   SELECT * FROM graft_history('/data/t')          -- DESCRIBE HISTORY
  *   SELECT * FROM graft_changes('/data/t', 1, 3, 'k') -- batch CDC
  * }}}
  *
  * Arguments must be literals (the builder runs at analysis); the
  * first argument is a table PATH, or a `ns.table` name resolved
  * against the graft catalog's warehouse when it doesn't start with
  * `/`. `graft_history` materializes the (version, op, n_files) rows
  * driver-plane (metadata-sized); `graft_changes` splices
  * [[VersionedTable.changesPerCommit]]'s lazy plan into the query —
  * the O(changed files) log-derived feed, now joinable/aggregatable
  * in SQL.
  */
object GraftTableFunctions {

  type TvfBuilder = Seq[Expression] => LogicalPlan

  def functions
      : Seq[(FunctionIdentifier, ExpressionInfo, TvfBuilder)] = Seq(
    (FunctionIdentifier("graft_history"),
      new ExpressionInfo(getClass.getCanonicalName, "graft_history"),
      (args: Seq[Expression]) => {
        require(args.length == 1,
          "graft_history(table) takes the table path or ns.name")
        val s = SparkSession.active
        val base = resolveBase(s, strArg(args.head, "graft_history"))
        val rows = VersionedTable.history(base)
          .map { case (v, op, n) => org.apache.spark.sql.Row(v, op, n) }
        s.createDataFrame(rows.asJava,
          StructType(Seq(StructField("version", LongType),
            StructField("op", StringType),
            StructField("n_files", IntegerType))))
          .queryExecution.logical
      }),
    (FunctionIdentifier("graft_changes"),
      new ExpressionInfo(getClass.getCanonicalName, "graft_changes"),
      (args: Seq[Expression]) => {
        require(args.length == 4,
          "graft_changes(table, fromVersion, toVersion, keyCol)")
        val s = SparkSession.active
        val base = resolveBase(s, strArg(args.head, "graft_changes"))
        VersionedTable.changesPerCommit(s, base,
          longArg(args(1)), longArg(args(2)),
          strArg(args(3), "graft_changes key"))
          .queryExecution.logical
      }),
    (FunctionIdentifier("graft_refs"),
      new ExpressionInfo(getClass.getCanonicalName, "graft_refs"),
      (args: Seq[Expression]) => {
        // SHOW REFS: one (name, version) row per tag — the named-ref
        // discovery surface beside graft_history. Driver-plane: one
        // tiny file per tag.
        require(args.length == 1,
          "graft_refs(table) takes the table path or ns.name")
        val s = SparkSession.active
        val base = resolveBase(s, strArg(args.head, "graft_refs"))
        val rows = VersionedTable.tags(base).toSeq.sortBy(_._1)
          .map { case (n, v) => org.apache.spark.sql.Row(n, v) }
        s.createDataFrame(rows.asJava,
          StructType(Seq(StructField("name", StringType),
            StructField("version", LongType))))
          .queryExecution.logical
      }),
    (FunctionIdentifier("graft_changes_by_rowid"),
      new ExpressionInfo(getClass.getCanonicalName,
        "graft_changes_by_rowid"),
      (args: Seq[Expression]) => {
        // CDC BY IDENTITY in SQL: the change feed keyed by _row_id —
        // no key column argument, no uniqueness assumption (q195)
        require(args.length == 3,
          "graft_changes_by_rowid(table, fromVersion, toVersion)")
        val s = SparkSession.active
        val base = resolveBase(s,
          strArg(args.head, "graft_changes_by_rowid"))
        VersionedTable.changesByRowId(s, base,
          longArg(args(1)), longArg(args(2)))
          .queryExecution.logical
      }),
    (FunctionIdentifier("graft_files"),
      new ExpressionInfo(getClass.getCanonicalName, "graft_files"),
      (args: Seq[Expression]) => {
        // DESCRIBE FILES: one row per live data file of a snapshot —
        // rows/live-rows/bytes, DV positions, bucket id, row-id base
        // and the zone-mapped columns. The per-file half of
        // graft_detail: what an operator reads before deciding WHICH
        // maintenance to run (skew? small files? DV debt? layout?).
        // Driver-plane manifest arithmetic; one Files.size per entry.
        require(args.length == 1 || args.length == 2,
          "graft_files(table[, version])")
        val s = SparkSession.active
        val base = resolveBase(s, strArg(args.head, "graft_files"))
        val v = if (args.length == 2) longArg(args(1))
                else VersionedTable.latestVersion(base).getOrElse(
                  throw new IllegalArgumentException(
                    s"no graft table at $base (never committed)"))
        val rows = VersionedTable.entries(base, v).map { e =>
          val p = java.nio.file.Paths.get(base, e.path)
          val bytes = if (java.nio.file.Files.exists(p))
            java.nio.file.Files.size(p) else -1L
          val bucket = e.stats.collectFirst {
            case (k, VersionedTable.BucketStat(n, id))
              if k.endsWith("#bucket") =>
              s"${k.stripSuffix("#bucket")}:$n:$id"
          }.getOrElse("")
          val zoneCols = e.stats.keys.filterNot(_.contains("#"))
            .toSeq.sorted.mkString(",")
          org.apache.spark.sql.Row(e.path, e.rows, e.liveRows, bytes,
            e.dv.map(_.count).getOrElse(0L), bucket, e.rowBase, zoneCols)
        }
        s.createDataFrame(rows.asJava,
          StructType(Seq(
            StructField("path", StringType),
            StructField("rows", LongType),
            StructField("live_rows", LongType),
            StructField("size_bytes", LongType),
            StructField("dv_positions", LongType),
            StructField("bucket", StringType),
            StructField("row_base", LongType),
            StructField("stats_cols", StringType))))
          .queryExecution.logical
      }),
    (FunctionIdentifier("graft_with_row_ids"),
      new ExpressionInfo(getClass.getCanonicalName, "graft_with_row_ids"),
      (args: Seq[Expression]) => {
        // ROW TRACKING in SQL: the table with its stable `_row_id`
        // column appended — `SELECT * FROM graft_with_row_ids('t')`
        // (optionally at a pinned version) joins across versions by
        // identity, the incremental-consumer shape q194 pins.
        require(args.length == 1 || args.length == 2,
          "graft_with_row_ids(table[, version])")
        val s = SparkSession.active
        val base = resolveBase(s, strArg(args.head, "graft_with_row_ids"))
        val v = if (args.length == 2) longArg(args(1))
                else VersionedTable.latestVersion(base).getOrElse(
                  throw new IllegalArgumentException(
                    s"no graft table at $base (never committed)"))
        VersionedTable.readVersionWithRowIds(s, base, v)
          .queryExecution.logical
      }),
    (FunctionIdentifier("graft_detail"),
      new ExpressionInfo(getClass.getCanonicalName, "graft_detail"),
      (args: Seq[Expression]) => {
        // DESCRIBE DETAIL: the one-row operational snapshot a table
        // owner reads before maintenance — all driver-plane manifest
        // arithmetic (rows/files/bytes/dv counts from the commit log,
        // zone-map/bloom discipline, active constraints), zero file
        // opens.
        require(args.length == 1,
          "graft_detail(table) takes the table path or ns.name")
        val s = SparkSession.active
        val base = resolveBase(s, strArg(args.head, "graft_detail"))
        val v = VersionedTable.latestVersion(base).getOrElse(
          throw new IllegalArgumentException(
            s"no graft table at $base (never committed)"))
        val es = VersionedTable.entries(base, v)
        val bytes = es.map(e => java.nio.file.Files.size(
          java.nio.file.Paths.get(base, e.path))).sum
        val rows =
          if (es.exists(_.rows < 0L)) -1L else es.map(_.liveRows).sum
        val (zc, bc) = VersionedTable.statsDiscipline(base)
        val cons = VersionedTable.constraints(base).toSeq.sortBy(_._1)
          .map { case (n, e) => s"$n CHECK ($e)" }.mkString("; ")
        val ndv = VersionedTable.ndvEstimates(base, v).toSeq.sortBy(_._1)
          .map { case (c, n) => s"$c≈$n" }.mkString("; ")
        // the hash-bucket layout, when the snapshot provably has one
        // (q192's SPJ claim) — '' when any file is unbucketed
        val bkt = Layout.of(es).collect {
          case Layout.Bucket(n, cs) => s"${cs.mkString(",")}:$n"
        }.getOrElse("")
        // row tracking: the id high-water mark, -1 when not enabled
        val hwm = if (VersionedTable.featuresAsOf(base, v)
            .contains("rowid")) VersionedTable.rowHwmAsOf(base, v)
          else -1L
        val row = org.apache.spark.sql.Row(v, es.size, rows, bytes,
          es.count(_.dv.exists(_.count > 0L)),
          zc.sorted.mkString(","), bc.sorted.mkString(","), cons, ndv,
          bkt, hwm)
        s.createDataFrame(Seq(row).asJava,
          StructType(Seq(
            StructField("version", LongType),
            StructField("n_files", IntegerType),
            StructField("n_rows", LongType),
            StructField("size_bytes", LongType),
            StructField("n_dv_files", IntegerType),
            StructField("stats_cols", StringType),
            StructField("bloom_cols", StringType),
            StructField("constraints", StringType),
            StructField("ndv_estimates", StringType),
            StructField("bucket_spec", StringType),
            StructField("row_id_hwm", LongType))))
          .queryExecution.logical
      }))

  private implicit class SeqAsJava[A](s: Seq[A]) {
    def asJava: java.util.List[A] = {
      val l = new java.util.ArrayList[A](s.length)
      s.foreach(l.add)
      l
    }
  }

  /** A bare `ns.table` resolves under the graft catalog's warehouse;
    * anything path-like passes through.
    */
  private def resolveBase(s: SparkSession, arg: String): String =
    if (arg.startsWith("/") || arg.contains("/")) arg
    else {
      val wh = s.conf.getOption("spark.sql.catalog.graft.warehouse")
        .getOrElse(throw new IllegalArgumentException(
          s"'$arg' is not a path and no graft catalog warehouse is set"))
      s"$wh/${arg.split('.').mkString("/")}"
    }

  private def strArg(e: Expression, fn: String): String = e match {
    case Literal(v, StringType) if v != null => v.toString
    case other => throw new IllegalArgumentException(
      s"$fn needs a string literal argument, got $other")
  }

  private def longArg(e: Expression): Long = e match {
    case Literal(v: Number, _) => v.longValue()
    case other => throw new IllegalArgumentException(
      s"expected an integer literal version, got $other")
  }
}
