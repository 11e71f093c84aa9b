package graft.sources

import java.util.{Map => JMap, Set => JSet}
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsOverwrite, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.execution.datasources.{FileStatusCache, InMemoryFileIndex, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScanBuilder
import org.apache.spark.sql.sources.{AlwaysFalse, AlwaysTrue, And, EqualNullSafe, EqualTo, Filter, GreaterThan, GreaterThanOrEqual, In, IsNotNull, IsNull, LessThan, LessThanOrEqual, Not, Or, DataSourceRegister, StreamSourceProvider}
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.operators.{Layout, VersionedTable}
import graft.operators.VersionedTable.{LongRange, ManifestEntry, PruneRange, StrRange}

/** DataSource V2 surface of [[VersionedTable]] — the seam that turns
  * the table format from a library into INFRASTRUCTURE: any reader
  * writes `spark.read.format("graft").load(base)` (or SQL
  * `` SELECT ... FROM graft.`base` ``), pushes an ordinary `.filter`,
  * and the zone-map pruning happens inside Catalyst's pushdown phase —
  * no caller ever needs to know the manifest API exists. Time travel
  * is a read option (`versionAsOf`), the Delta idiom.
  *
  * Architecture: `newScanBuilder` returns Spark's own parquet DSv2
  * scan builder over a [[GraftFileIndex]] — so filter translation,
  * `PushedFilters` row-group pushdown, column pruning, vectorized
  * decoding and whole-stage codegen are all Spark's battle-tested
  * machinery. The ONE thing Spark cannot do — skip files from a
  * commit log it doesn't know exists — happens where a lakehouse
  * format does it (the Delta `TahoeFileIndex` pattern):
  * `FileIndex.listFiles(partitionFilters, dataFilters)` receives the
  * pushed data filters at plan time, translates the range-able
  * conjuncts to [[PruneRange]]s and lists ONLY the manifest entries
  * whose zone maps overlap. File-level skipping is a superset of the
  * matching rows by construction, and every filter remains in the
  * plan above the scan (the same contract parquet row-group stats
  * have) — pruning can never lose a row, only open fewer files.
  *
  * Scale: at 100 TB the manifest prune is a driver-plane pass over
  * commit-log metadata; the cluster never lists — let alone opens —
  * the skipped files. A selective predicate over a z-ordered layout
  * (q153/q157) reads a handful of files where a raw parquet reader
  * must list and footer-check everything.
  */
class GraftTableProvider extends TableProvider with DataSourceRegister
    with StreamSourceProvider
    with org.apache.spark.sql.sources.StreamSinkProvider {

  override def shortName(): String = "graft"

  // true: a catalog CREATE TABLE (cols) USING graft may declare the
  // schema, and loads of cataloged tables skip re-inference
  override def supportsExternalMetadata(): Boolean = true

  private def resolve(
      options: CaseInsensitiveStringMap): (String, Option[Long]) = {
    val raw = Option(options.get("path")).getOrElse(
      throw new IllegalArgumentException(
        "graft source needs a path: spark.read.format(\"graft\").load(base)"))
    // the session catalog normalizes table locations to file: URIs;
    // the commit-log layer speaks local paths (its sandbox I/O seam)
    val base =
      if (raw.startsWith("file:")) new java.net.URI(raw).getPath else raw
    val version = Option(options.get("versionAsOf")).map(_.toLong)
      .orElse(Option(options.get("timestampAsOf")).map { t =>
        VersionedTable.versionAtTimestamp(base, parseTsMillis(t))
          .getOrElse(throw new IllegalArgumentException(
            s"$base did not exist yet at timestampAsOf=$t"))
      })
      // time travel BY NAME: a tag created via VersionedTable.createTag
      .orElse(Option(options.get("ref"))
        .map(VersionedTable.resolveRef(base, _)))
      .orElse(VersionedTable.latestVersion(base))
    (base, version)
  }

  /** `timestampAsOf` accepts epoch millis or an ISO/SQL timestamp
    * (interpreted in UTC, the engine's session zone).
    */
  private def parseTsMillis(t: String): Long =
    if (t.nonEmpty && t.forall(_.isDigit)) t.toLong
    else try java.time.Instant.parse(t).toEpochMilli
    catch {
      case _: java.time.format.DateTimeParseException =>
        java.time.LocalDateTime.parse(t.replace(' ', 'T'))
          .toInstant(java.time.ZoneOffset.UTC).toEpochMilli
    }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val (base, versionOpt) = resolve(options)
    // a never-committed path is a fresh WRITE target: report an empty
    // schema (ACCEPT_ANY_SCHEMA lets the first append through; a READ
    // of it yields zero columns, which analysis rejects loudly)
    val version = versionOpt.getOrElse(return new StructType())
    VersionedTable.declaredSchema(base, version)
      .map(graft.operators.ColumnMapping.visible).getOrElse {
      // pre-schema-header manifests: infer from the snapshot's files
      val files = VersionedTable.entries(base, version)
        .map(e => s"$base/${e.path}")
      require(files.nonEmpty,
        s"version $version of $base is empty and has no schema header")
      SparkSession.active.read.parquet(files: _*).schema
    }
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: JMap[String, String]): Table = {
    val (base, version) = resolve(new CaseInsensitiveStringMap(properties))
    new GraftTable(base, version, schema)
  }

  // -------------------------------------------------------------------
  // Streaming read surface ([[GraftStreamSource]]). GraftTable does not
  // declare MICRO_BATCH_READ, so `readStream.format("graft")` falls back
  // to this V1 StreamSourceProvider — the same bridge Delta's source
  // rides. The batch and streaming paths resolve (base, version) and
  // schema identically.

  private def cdcKeyOf(opts: CaseInsensitiveStringMap): Option[String] =
    if (Option(opts.get("readChangeFeed")).exists(_.toBoolean))
      Some(Option(opts.get("cdcKey")).getOrElse(
        throw new IllegalArgumentException(
          "readChangeFeed=true needs cdcKey=<column> (the key " +
            "delete/merge commits diff on)")))
    else None

  override def sourceSchema(sqlContext: org.apache.spark.sql.SQLContext,
                            schema: Option[StructType], providerName: String,
                            parameters: Map[String, String])
      : (String, StructType) = {
    val opts = new CaseInsensitiveStringMap(parameters.asJava)
    val rowSchema = schema.getOrElse {
      require(resolve(opts)._2.nonEmpty,
        s"cannot stream a never-committed graft table without an " +
          s"explicit schema: ${opts.get("path")}")
      inferSchema(opts)
    }
    (shortName(), cdcKeyOf(opts)
      .map(k => GraftStreamSource.cdcSchemaOf(rowSchema, k))
      .getOrElse(rowSchema))
  }

  override def createSource(sqlContext: org.apache.spark.sql.SQLContext,
                            metadataPath: String, schema: Option[StructType],
                            providerName: String,
                            parameters: Map[String, String])
      : org.apache.spark.sql.execution.streaming.Source = {
    val opts = new CaseInsensitiveStringMap(parameters.asJava)
    val (base, _) = resolve(opts)
    val rowSchema = schema.getOrElse(inferSchema(opts))
    val cdcKey = cdcKeyOf(opts)
    val (snapshotStart, fromVersion) =
      Option(opts.get("startingVersion")) match {
        // Delta defaults: rows = snapshot-then-tail; the change feed
        // replays the whole history (every commit IS a change)
        case None => (cdcKey.isEmpty, 1L)
        case Some("latest") =>
          // "commits after STREAM start" — pinned into the source's
          // checkpoint metadata dir on first creation, so a restart
          // resumes from the original start instead of re-resolving
          // "latest" and silently skipping the commits in between
          // (the Kafka-source initial-offset discipline)
          (false, pinnedStartingVersion(metadataPath,
            VersionedTable.latestVersion(base).getOrElse(0L) + 1L))
        case Some(v) => (false, v.toLong)
      }
    val skip = Option(opts.get("skipChangeCommits")).exists(_.toBoolean)
    val maxCommits = Option(opts.get("maxCommitsPerTrigger")).map(_.toLong)
    val maxBytes = Option(opts.get("maxBytesPerTrigger")).map(_.toLong)
    val mp = if (metadataPath.startsWith("file:"))
      new java.net.URI(metadataPath).getPath else metadataPath
    new GraftStreamSource(sqlContext.sparkSession, base, rowSchema,
      snapshotStart, fromVersion, skip, cdcKey,
      spoolDir = Some(s"$mp/cdc-spool"),
      maxCommitsPerTrigger = maxCommits,
      maxBytesPerTrigger = maxBytes)
  }

  /** Streaming WRITE surface ([[GraftSink]]): `writeStream.format
    * ("graft")` — exactly-once via txn-stamped commits. The writer
    * identity defaults to the checkpoint location (same checkpoint ⟹
    * same stream across restarts); `txnAppId` overrides.
    */
  override def createSink(sqlContext: org.apache.spark.sql.SQLContext,
                          parameters: Map[String, String],
                          partitionColumns: Seq[String],
                          outputMode: org.apache.spark.sql.streaming
                            .OutputMode): org.apache.spark.sql.execution
                            .streaming.Sink = {
    import org.apache.spark.sql.streaming.OutputMode
    require(partitionColumns.isEmpty,
      "graft sink does not take partitionBy (cluster with statsCols " +
        "zone maps / OPTIMIZE ZORDER instead)")
    require(outputMode == OutputMode.Append() ||
      outputMode == OutputMode.Complete(),
      s"graft sink supports Append and Complete output modes, got " +
        s"$outputMode (keyed upserts are graft.streaming.UpsertPipeline)")
    val opts = new CaseInsensitiveStringMap(parameters.asJava)
    val (base, _) = resolve(opts)
    val appId = Option(opts.get("txnAppId"))
      .orElse(Option(opts.get("checkpointLocation")))
      .getOrElse(throw new IllegalArgumentException(
        "graft sink needs a checkpointLocation (or an explicit " +
          "txnAppId) — it is the exactly-once writer identity"))
    def colsOpt(name: String) = Option(opts.get(name))
      .map(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty))
      .getOrElse(Seq.empty)
    // autoCompactSmallBytes=<bytes>[,autoCompactTrigger=<n>]: fold the
    // small-file debt inline once <n> (default 8) sub-threshold files
    // accumulate
    val auto = Option(opts.get("autoCompactSmallBytes")).map(_.toLong)
      .map(b => (b,
        Option(opts.get("autoCompactTrigger")).map(_.toInt).getOrElse(8)))
    new GraftSink(sqlContext.sparkSession, base, appId, outputMode,
      colsOpt("statsCols"), colsOpt("bloomCols"), autoCompact = auto)
  }

  /** Read-or-publish the resolved `startingVersion=latest` under the
    * source's checkpoint metadata dir (atomic same-dir move, matching
    * the commit log's publish discipline).
    */
  private def pinnedStartingVersion(metadataPath: String,
                                    resolved: Long): Long = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val mp = if (metadataPath.startsWith("file:"))
      new java.net.URI(metadataPath).getPath else metadataPath
    val pin = Paths.get(mp, "graft-starting-version")
    if (Files.exists(pin))
      new String(Files.readAllBytes(pin), "UTF-8").trim.toLong
    else {
      Files.createDirectories(pin.getParent)
      val tmp = pin.getParent.resolve(
        s".sv-${java.util.UUID.randomUUID()}")
      Files.write(tmp, resolved.toString.getBytes("UTF-8"))
      Files.move(tmp, pin, StandardCopyOption.ATOMIC_MOVE,
        StandardCopyOption.REPLACE_EXISTING)
      resolved
    }
  }
}

/** One resolved (base, version) snapshot as a DSv2 table. `version` is
  * None for a created-but-never-committed table: it reads as zero rows
  * of the declared schema and accepts the first write.
  */
class GraftTable(val base: String, val snapshotVersion: Option[Long],
                 val tableSchema: StructType,
                 val acceptAnySchema: Boolean = true,
                 val dvCleanOnly: Boolean = false)
    extends Table with SupportsRead with SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsDelete {

  override def name(): String =
    s"graft.`$base` (versionAsOf=${snapshotVersion.getOrElse(0L)})"

  override def schema(): StructType = tableSchema

  /** This table minus ACCEPT_ANY_SCHEMA — the analyzer skips MERGE
    * reference resolution entirely for accept-any-schema tables
    * (`NamedRelation.skipSchemaResolution`), so the graft MERGE rule
    * re-targets the relation at a strict copy first.
    */
  def strict: GraftTable =
    new GraftTable(base, snapshotVersion, tableSchema, acceptAnySchema = false)

  /** The resolved snapshot's manifest entries (plan-time driver
    * metadata, like the pruning itself).
    */
  def snapshotEntries: Seq[ManifestEntry] =
    snapshotVersion.map(v => VersionedTable.entries(base, v)).getOrElse(Seq.empty)

  /** This table restricted to entries WITHOUT a deletion vector — the
    * clean leg of [[graft.plans.GraftDvReadRewrite]]'s union, which
    * keeps Spark's full parquet scan + pushdown machinery for the
    * files that need no position filtering.
    */
  def cleanOnly: GraftTable =
    new GraftTable(base, snapshotVersion, tableSchema, acceptAnySchema,
      dvCleanOnly = true)

  /** A Spark job tag the jobs of a write to this table carry, so a
    * subclass can find them again (see [[GraftStagedTable]]).
    */
  protected def writeJobTag: Option[String] = None

  private def scanEntries: Seq[ManifestEntry] =
    if (dvCleanOnly) snapshotEntries.filterNot(_.dv.exists(_.count > 0L))
    else snapshotEntries

  // BATCH_WRITE advertises writability to the planner; the V1Write the
  // builder produces still routes through the V1-fallback write exec.
  // ACCEPT_ANY_SCHEMA defers schema checking to the commit protocol
  // (mergeSchema rejects type changes loudly; extra columns EVOLVE) —
  // required for first-write-to-fresh-path, where there is no schema
  // to validate against yet.
  override def capabilities(): JSet[TableCapability] =
    (Set(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE,
      TableCapability.OVERWRITE_BY_FILTER) ++
      (if (acceptAnySchema) Set(TableCapability.ACCEPT_ANY_SCHEMA)
       else Set.empty[TableCapability])).asJava

  override def newScanBuilder(
      options: CaseInsensitiveStringMap): ScanBuilder = {
    val spark = SparkSession.active
    val es = scanEntries
    val delegate = ParquetScanBuilder(spark,
      new GraftFileIndex(spark, base, es, tableSchema),
      tableSchema, tableSchema, options)
    // the wrapper adds manifest-answered COUNT/MIN/MAX pushdown and
    // forwards filters/column pruning to the parquet builder verbatim
    new GraftScanBuilder(delegate, base, es, tableSchema)
  }

  /** SQL `DELETE FROM` — routed straight into the commit protocol's
    * file-scoped delete ([[VersionedTable.commitDelete]]): the pushed
    * predicate becomes both the row filter AND (via the same
    * [[GraftFilters.toRanges]] translation the read path prunes with)
    * the delete's zone-map footprint, so only files that can contain a
    * matching row are rewritten — `DELETE FROM t WHERE k BETWEEN a AND
    * b` on a 100 TB table is O(affected files), not O(table), from
    * plain SQL. `canDeleteWhere` admits exactly the predicates the
    * row-filter translation covers (Spark rejects the rest at analysis
    * — no silent partial deletes); the range translation is implied by
    * the row predicate per conjunct, the [[VersionedTable.commitDelete]]
    * contract. TRUNCATE TABLE rides the default bridge (an always-true
    * delete → empty manifest, still readable).
    */
  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    filters.forall(f => GraftFilters.toColumn(f).isDefined)

  override def deleteWhere(filters: Array[Filter]): Unit = {
    val s = SparkSession.active
    val rowPred = filters.flatMap(GraftFilters.toColumn)
      .reduceOption(_ && _)
      .getOrElse(org.apache.spark.sql.functions.lit(true))
    val translated = filters
      .flatMap(f => GraftFilters.toRanges(f, tableSchema))
    val ranges = translated.collect {
      case LongRange(c, lo, hi) => (c, lo, hi)
    }
    val probes = translated.collect {
      case p: VersionedTable.KeyProbe => p
    }
    // session conf routes between the two delete disciplines:
    // copy-on-write (default — rewrites implicated files whole) and
    // merge-on-read (`spark.graft.delete.mode=mor` — writes deletion
    // vectors; the point-delete shape, folded away by compaction)
    val mor = s.conf.getOption("spark.graft.delete.mode")
      .exists(_.equalsIgnoreCase("mor"))
    if (mor)
      VersionedTable.commitDeleteMoR(s, base, rowPred, ranges.toSeq,
        pruneProbes = probes.toSeq)
    else {
      // rewritten files keep the table's own stats discipline (the
      // union of zone-map/bloom columns any current file carries) —
      // otherwise a delete would silently strip them and later
      // deletes/reads lose their pruning
      val (statsCols, bloomCols) = VersionedTable.statsDiscipline(base)
      VersionedTable.commitDelete(s, base, rowPred, ranges.toSeq, statsCols,
        bloomCols = bloomCols, pruneProbes = probes.toSeq)
    }
    ()
  }

  /** The WRITE surface rides Spark's V1 insert bridge ([[V1Write]]):
    * the planner hands over the source DataFrame whole and the commit
    * protocol does what it already does — `mode("append")` is
    * [[VersionedTable.commitAppend]], `mode("overwrite")` (the
    * truncate form) is [[VersionedTable.commitReplace]] — so DSv2
    * writes get the same atomic publish, optimistic rebase-retry,
    * schema evolution and zone-map stats as library callers. Write
    * option `statsCols` (comma-separated) declares the zone-map
    * columns for the committed files.
    */
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with SupportsOverwrite {
      private var replace = false
      // REPLACE WHERE: a non-trivial overwrite predicate (SQL `INSERT
      // INTO t REPLACE WHERE pred SELECT ...`, DataFrameWriterV2
      // `.overwrite(cond)`) routes to the predicate-scoped atomic
      // overwrite ([[VersionedTable.commitReplaceWhere]]) — delete the
      // slice + insert its replacement in ONE commit, rewriting only
      // the files whose zone maps/blooms can hold matching rows
      private var replaceFilters: Array[Filter] = Array.empty
      override def truncate(): WriteBuilder = { replace = true; this }
      // admit exactly the predicates the row-filter translation covers
      // (Spark rejects the rest at analysis — no silent full rewrite)
      override def canOverwrite(filters: Array[Filter]): Boolean =
        filters.forall(f => GraftFilters.toColumn(f).isDefined)
      override def overwrite(filters: Array[Filter]): WriteBuilder = {
        if (filters.forall(_.isInstanceOf[AlwaysTrue])) replace = true
        else replaceFilters = filters
        this
      }
      override def build(): Write = new V1Write {
        override def toInsertableRelation
            : org.apache.spark.sql.sources.InsertableRelation =
          (data: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
           overwrite: Boolean) => {
            // _row_id is the engine's stable row identity (row
            // tracking): only the commit protocol's own rewrites may
            // write it — user-supplied values would mint duplicate or
            // colliding identities
            require(!data.columns.contains(VersionedTable.RowIdCol),
              s"column ${VersionedTable.RowIdCol} is reserved for row " +
                "tracking (engine-assigned); drop or rename it")
            // ACCEPT_ANY_SCHEMA means Spark hands the source frame over
            // unaligned: match it to the declared schema BY NAME when
            // every declared column is present (extra columns EVOLVE the
            // schema — the append-evolution contract), else BY POSITION
            // (the SQL `INSERT VALUES` shape, whose synthetic col1..colN
            // names carry no meaning), casting to declared types either
            // way.
            // schema ENFORCEMENT opt-in: mergeSchema=false refuses a
            // frame carrying columns beyond the declared schema
            // (default remains evolve-on-write — the engine's
            // documented contract; Delta defaults the other way)
            val evolve = Option(info.options.get("mergeSchema"))
              .forall(_.toBoolean)
            if (!evolve) {
              // the authoritative shape is the LOG's declared schema —
              // for path writes Spark hands getTable the source
              // frame's own schema, which can't detect evolution
              val declared = VersionedTable.latestVersion(base)
                .flatMap(v => VersionedTable.declaredSchema(base, v))
                .map(graft.operators.ColumnMapping.visible)
              declared.foreach { ds =>
                val extra = data.columns.filterNot(ds.fieldNames.contains)
                require(extra.isEmpty,
                  s"write carries columns not in the table schema: " +
                    s"${extra.mkString(", ")} (mergeSchema=false is " +
                    "strict; drop the option or pass true to evolve)")
              }
            }
            val aligned =
              if (tableSchema.fields.isEmpty) data
              else if (tableSchema.fieldNames.forall(data.columns.contains))
                data.select(data.columns.map { c =>
                  tableSchema.fields.find(_.name == c)
                    .map(f => data.col(c).cast(f.dataType).as(c))
                    .getOrElse(data.col(c))
                }.toSeq: _*)
              else {
                require(data.schema.length == tableSchema.length,
                  s"INSERT has ${data.schema.length} columns, table " +
                    s"declares ${tableSchema.length} (positional insert " +
                    "needs matching arity)")
                // backtick-quote the synthetic names: an unaliased
                // INSERT SELECT expression's auto-name can contain
                // dots (e.g. `ts + make_interval(...0.000000)`), which
                // bare col() would parse as struct-field access
                data.select(data.columns.zip(tableSchema.fields).map {
                  case (c, f) =>
                    data.col(s"`${c.replace("`", "``")}`")
                      .cast(f.dataType).as(f.name)
                }.toSeq: _*)
              }
            def colsOpt(name: String) = Option(info.options.get(name))
              .map(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty))
              .getOrElse(Seq.empty)
            val stats = colsOpt("statsCols")
            val blooms = colsOpt("bloomCols")
            val ndvs = colsOpt("ndvCols")
            // WRITE-TIME CLUSTERING: zone maps are only as tight as
            // the layout — `clusterBy` range-clusters + sorts on the
            // named columns (the time-partitioning replacement: one
            // shuffle at write buys file skipping on every read);
            // `zorderCols` Morton-clusters two keys (OPTIMIZE ZORDER
            // at ingest instead of after); `numFiles` sizes the
            // layout (the small-file knob).
            val zc = colsOpt("zorderCols")
            val cb = colsOpt("clusterBy")
            require(zc.isEmpty || zc.length >= 2,
              s"zorderCols takes two or more columns, got $zc")
            require(zc.isEmpty || cb.isEmpty,
              "zorderCols and clusterBy are mutually exclusive")
            val nf = Option(info.options.get("numFiles")).map { v =>
              Layout.positiveInt(v).getOrElse(
                throw new IllegalArgumentException(
                  s"numFiles takes a positive file count, got '$v'"))
            }
            // PARTITION LAYOUT ([[Layout.fromOptions]]): at most one of
            // `bucketBy=<n>:<col[,col2]>` (hash buckets — storage-
            // partitioned joins + bucket pruning), `daysBy`/`hoursBy`/
            // `monthsBy`/`yearsBy=<tsCol>` (the Iceberg time transforms)
            // and `truncateBy=<width>:<col>` (id/string prefixes); the
            // layout's split IS the write shuffle, so it excludes the
            // other layout knobs
            val layout = Layout.fromOptions(info.options)
            // WITHIN-LAYOUT SORT ORDER (r15 — Iceberg bucket + sort order,
            // the standard 100 TB fact layout: join key + time):
            // `sortWithinBuckets=<c1[,c2]>` declares secondary sort
            // columns each layout-pure write task orders its files by,
            // so a laid-out table carries tight zone maps on a SECOND
            // key. Sticky like the layout discipline (persisted to the
            // layout sidecar; every commit path re-applies it); composes
            // with any layout, excluded with the competing global sorts.
            val swb = colsOpt("sortWithinBuckets")
            require(swb.isEmpty || (zc.isEmpty && cb.isEmpty),
              "sortWithinBuckets composes with bucketBy/daysBy; it is " +
                "mutually exclusive with zorderCols/clusterBy (those " +
                "ARE the sort)")
            // hoursBy/monthsBy/yearsBy DECLARE the table's current layout
            // generation before the commit, which declaration-first
            // inheritance applies to it and every commit after; the other
            // layout options shape this commit explicitly and re-sync a
            // declared generation once it succeeds (below)
            val predeclared = layout.filter {
              case Layout.Time(g, _) => g != "days"
              case _ => false
            }
            val explicit = layout.filterNot(predeclared.contains)
            // sidecar declarations roll back if anything below fails —
            // INCLUDING the validations between here and the commit
            // (r15 review + r15 advice: a refused write must not flip
            // the table's layout generation as a side effect, so every
            // declare call sits inside the try that restores the
            // snapshot)
            val layoutPrior: Option[Seq[(String, String)]] =
              if (predeclared.nonEmpty || swb.nonEmpty)
                Some(VersionedTable.layoutSnapshot(base))
              else None
            import org.apache.spark.sql.functions.col
            val clustered =
              if (zc.length >= 2) {
                val w = aligned.withColumn("__graft_z",
                  VersionedTable.zValueN(zc.map(c => col(c).cast("long"))))
                nf.map(n => w.repartitionByRange(n, col("__graft_z")))
                  .getOrElse(w.repartitionByRange(col("__graft_z")))
                  .sortWithinPartitions(col("__graft_z"))
                  .drop("__graft_z")
              } else if (cb.nonEmpty) {
                val cols = cb.map(col)
                nf.map(n => aligned.repartitionByRange(n, cols: _*))
                  .getOrElse(aligned.repartitionByRange(cols: _*))
                  .sortWithinPartitions(cols: _*)
              } else nf.map(aligned.repartition).getOrElse(aligned)
            // an explicit alternative layout (clusterBy/zorderCols/
            // numFiles) overrides the sticky layout discipline — the
            // writer asked for THAT layout, and re-bucketing would
            // destroy it; the co-location claim then voids safely
            val inherit = zc.isEmpty && cb.isEmpty && nf.isEmpty
            val ctx = data.sparkSession.sparkContext
            writeJobTag.foreach(ctx.addJobTag)
            try {
            predeclared.foreach(VersionedTable.declareLayout(base, _))
            if (swb.nonEmpty) {
              require(layout.isDefined ||
                VersionedTable.declaredLayout(base).isDefined ||
                VersionedTable.latestVersion(base).isDefined,
                "sortWithinBuckets needs a bucket/days/truncate layout " +
                  "to sort within — pass bucketBy/daysBy/truncateBy, or " +
                  "declare the layout first")
              VersionedTable.declareSortWithin(base, swb)
            }
            if (replaceFilters.nonEmpty) {
              val rowPred = replaceFilters.flatMap(GraftFilters.toColumn)
                .reduceOption(_ && _).getOrElse(
                  throw new IllegalArgumentException(
                    s"untranslatable REPLACE WHERE predicate: " +
                      replaceFilters.mkString(", ")))
              val translated = replaceFilters
                .flatMap(f => GraftFilters.toRanges(f, tableSchema))
              val ranges = translated.collect {
                case LongRange(c, lo, hi) => (c, lo, hi)
              }
              val probes = translated.filterNot(_.isInstanceOf[LongRange])
              // rewritten files keep the table's own stats discipline
              // (the deleteWhere rule: pruning never silently degrades)
              val (sc, bc) = VersionedTable.statsDiscipline(base)
              VersionedTable.commitReplaceWhere(data.sparkSession, base,
                clustered, rowPred, ranges.toSeq,
                (stats ++ sc).distinct,
                bloomCols = (blooms ++ bc).distinct,
                pruneProbes = probes.toSeq,
                // r13 advice: an explicit layout/ndvCols alongside
                // overwrite(cond) was silently dropped — pass through
                // like the append/replace branches
                ndvCols = ndvs, layout = explicit, inheritBucket = inherit)
            } else if (replace || overwrite)
              VersionedTable.commitReplace(data.sparkSession, base, clustered,
                stats, bloomCols = blooms, ndvCols = ndvs,
                layout = explicit, inheritBucket = inherit)
            else
              VersionedTable.commitAppend(data.sparkSession, base, clustered,
                stats, bloomCols = blooms, ndvCols = ndvs,
                layout = explicit, inheritBucket = inherit)
            } catch {
              case t: Throwable =>
                layoutPrior.foreach(VersionedTable.restoreLayout(base, _))
                throw t
            } finally writeJobTag.foreach(ctx.removeJobTag)
            // an explicit layout on a DECLARED table re-syncs the
            // declaration AFTER the commit succeeds (r15 advice:
            // declaration-first inheritance would otherwise flip the
            // very next plain append back to the stale declared
            // generation, silently re-mixing the snapshot a user just
            // relaid out) — mirroring how rebucket syncs post-success
            if (VersionedTable.declaredLayout(base).isDefined)
              explicit.foreach(VersionedTable.declareLayout(base, _))
            ()
          }
      }
    }
}

/** The commit log as a Spark `FileIndex`: roots are the manifest's
  * files, and `listFiles` applies zone-map pruning to the data
  * filters Catalyst pushed down — the lakehouse-format seam
  * (`TahoeFileIndex` in Delta, `SparkScan`'s planning in Iceberg).
  */
class GraftFileIndex(spark: SparkSession, base: String,
                     manifest: Seq[ManifestEntry], schema: StructType)
    extends InMemoryFileIndex(spark,
      manifest.map(e => new HPath(s"$base/${e.path}")),
      Map.empty[String, String], Some(schema),
      FileStatusCache.getOrCreate(spark)) {

  /** A data file's manifest-relative name: `d{v}-{nonce}/part-*`. */
  private def relName(p: HPath): String = s"${p.getParent.getName}/${p.getName}"

  override def listFiles(
      partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val all = super.listFiles(partitionFilters, Nil)
    val ranges = dataFilters
      .flatMap(e => org.apache.spark.sql.GraftBridge.translateFilter(e))
      .flatMap(f => GraftFilters.toRanges(f, schema))
    // keyed by the SCAN-KEY suffix (VersionedTable.relKey): listed
    // file paths never carry a clone's `../` prefix, so raw-path
    // keying would silently drop every shared entry from the read
    val kept = VersionedTable.pruneTyped(manifest, ranges)
      .map(e => VersionedTable.relKey(e.path)).toSet
    val pruned = all.map(pd =>
      pd.copy(files = pd.files.filter(f => kept.contains(relName(f.getPath)))))
    GraftScanMetrics.record(base, kept.size, manifest.size)
    pruned
  }
}

/** Last-prune observability (driver-plane, like the prune itself): the
  * (files kept, files total) of the most recent planned scan per table
  * base — the audit surface q157 reports as data and specs assert on,
  * standing in for a metrics system's scan counters.
  */
object GraftScanMetrics {
  private val last =
    new java.util.concurrent.ConcurrentHashMap[String, (Int, Int)]()
  private val aggCount =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  private val lastRuntime =
    new java.util.concurrent.ConcurrentHashMap[String, (Int, Int)]()
  private[sources] def record(base: String, kept: Int, total: Int): Unit =
    last.put(base, (kept, total))
  private[sources] def recordAgg(base: String): Unit =
    aggCount.merge(base, 1L, (a, b) => a + b)
  private[sources] def recordRuntime(base: String, kept: Int,
                                     total: Int): Unit =
    lastRuntime.put(base, (kept, total))
  def lastPrune(base: String): Option[(Int, Int)] = Option(last.get(base))
  /** The (files kept, files total) of the most recent RUNTIME prune —
    * dynamic file pruning from join-key values ([[GraftRuntimeScan]]).
    */
  def lastRuntimePrune(base: String): Option[(Int, Int)] =
    Option(lastRuntime.get(base))
  /** How many scans of `base` were answered ENTIRELY from the
    * manifest (planned as LocalScan — zero files opened).
    */
  def aggPushdowns(base: String): Long =
    Option(aggCount.get(base)).map(_.longValue).getOrElse(0L)
}

/** Source-filter → zone-map-range translation. Conservative by
  * construction: anything not provably rangeable translates to no
  * conjunct (the file is read), so skipping can never lose a row.
  */
object GraftFilters {

  /** A filter value as the long a ColStats zone map stores, honoring
    * the date/timestamp flattenings collectStats applies.
    */
  private def asLong(v: Any): Option[Long] = v match {
    case n: java.lang.Number => Some(n.longValue())
    case d: java.sql.Date => Some(d.toLocalDate.toEpochDay)
    case d: java.time.LocalDate => Some(d.toEpochDay)
    case t: java.sql.Timestamp =>
      Some(java.time.Instant.ofEpochMilli(t.getTime).getEpochSecond *
        1000000L + t.getNanos / 1000L)
    case t: java.time.Instant =>
      Some(t.getEpochSecond * 1000000L + t.getNano / 1000L)
    // TIMESTAMP_NTZ filter values: wall-clock micros, the same long
    // the stats writer stores under the pinned-UTC session convention
    case t: java.time.LocalDateTime =>
      val i = t.toInstant(java.time.ZoneOffset.UTC)
      Some(i.getEpochSecond * 1000000L + i.getNano / 1000L)
    case _ => None
  }

  private def tighterLo(lo: Long): Long =
    if (lo == Long.MaxValue) lo else lo + 1L
  private def tighterHi(hi: Long): Long =
    if (hi == Long.MinValue) hi else hi - 1L

  /** Translate one source filter into prune ranges — ONLY when the
    * translation is a provable superset of the matching files.
    * Integral/date/timestamp bounds are exact (strict bounds
    * tightened by one); string one-sided bounds prune nothing
    * (zone-map string ranges are closed), string equality and `In`
    * spans do.
    */
  def toRanges(f: Filter, schema: StructType): Seq[PruneRange] = f match {
    case And(l, r) => toRanges(l, schema) ++ toRanges(r, schema)
    case EqualTo(c, v) =>
      eqRange(c, v) ++ keyProbe(c, Seq(v)) ++ bucketProbe(schema, c, Seq(v))
    case EqualNullSafe(c, v) if v != null =>
      eqRange(c, v) ++ keyProbe(c, Seq(v)) ++ bucketProbe(schema, c, Seq(v))
    case GreaterThanOrEqual(c, v) =>
      asLong(v).map(lo => LongRange(c, lo, Long.MaxValue)).toSeq
    case GreaterThan(c, v) =>
      asLong(v).map(lo => LongRange(c, tighterLo(lo), Long.MaxValue)).toSeq
    case LessThanOrEqual(c, v) =>
      asLong(v).map(hi => LongRange(c, Long.MinValue, hi)).toSeq
    case LessThan(c, v) =>
      asLong(v).map(hi => LongRange(c, Long.MinValue, tighterHi(hi))).toSeq
    case In(c, vs) if vs.nonEmpty && vs.forall(_ != null) =>
      // span relaxation: [min, max] is a superset of the value set;
      // the probe keeps a file iff ANY value may be present
      (if (fieldOf(schema, c).exists(_.dataType == StringType)) {
        val ss = vs.collect { case s: String => s }
        if (ss.length != vs.length) Seq.empty
        else Seq(StrRange(c, ss.min, ss.max))
      } else {
        val ls = vs.toSeq.flatMap(asLong)
        if (ls.length != vs.length) Seq.empty
        else Seq(LongRange(c, ls.min, ls.max))
      }) ++ keyProbe(c, vs.toSeq) ++ bucketProbe(schema, c, vs.toSeq)
    case _ => Seq.empty
  }

  /** Bloom probe for equality/IN — only for the key types the bloom
    * writer hashes (long/int/string); other types probe nothing.
    * Files without a bloom for the column always keep (pruneTyped's
    * contract), so emitting the probe unconditionally is sound.
    */
  private def keyProbe(c: String, vs: Seq[Any]): Seq[PruneRange] =
    if (vs.forall {
      case _: Long | _: Int | _: String => true
      case _: java.lang.Long | _: java.lang.Integer => true
      case _ => false
    }) Seq(VersionedTable.KeyProbe(c, vs))
    else Seq.empty

  /** Bucket probe for equality/IN on a hash-bucketed column
    * ([[VersionedTable.BucketStat]]): prunes to the 1/n of files whose
    * bucket id any value hashes into. Murmur3 of int/long/string are
    * DIFFERENT hashes, so the probe fires only when every value's
    * runtime class matches the column's declared type exactly —
    * a mistyped literal (Spark normally casts pushed-filter values to
    * the column type, but belt-and-braces) probes nothing rather than
    * pruning wrongly. Files without the token always keep.
    */
  private def bucketProbe(schema: StructType, c: String,
                          vs: Seq[Any]): Seq[PruneRange] =
    fieldOf(schema, c).map(_.dataType).toSeq.collect {
      case dt @ IntegerType if vs.forall(_.isInstanceOf[java.lang.Integer]) =>
        VersionedTable.BucketProbe(c, vs, dt)
      case dt @ LongType if vs.forall(_.isInstanceOf[java.lang.Long]) =>
        VersionedTable.BucketProbe(c, vs, dt)
      case dt @ StringType if vs.forall(_.isInstanceOf[String]) =>
        VersionedTable.BucketProbe(c, vs, dt)
    }

  private def eqRange(c: String, v: Any): Seq[PruneRange] = v match {
    case s: String => Seq(StrRange(c, s, s))
    case other => asLong(other).map(l => LongRange(c, l, l)).toSeq
  }

  /** Source-filter → row-predicate `Column` — the DELETE path's
    * translation ([[GraftTable.deleteWhere]]). Total over the
    * conjunct/disjunct/comparison shapes SQL `DELETE WHERE` produces;
    * `None` for anything else (string pattern matches, nested
    * predicates), which makes `canDeleteWhere` reject the statement
    * at analysis instead of deleting the wrong rows.
    */
  def toColumn(f: Filter): Option[org.apache.spark.sql.Column] = {
    import org.apache.spark.sql.functions.{col, lit}
    f match {
      case And(l, r) => for { a <- toColumn(l); b <- toColumn(r) }
        yield a && b
      case Or(l, r) => for { a <- toColumn(l); b <- toColumn(r) }
        yield a || b
      case Not(c) => toColumn(c).map(!_)
      case EqualTo(c, v) => Some(col(c) === lit(v))
      case EqualNullSafe(c, v) => Some(col(c) <=> lit(v))
      case GreaterThan(c, v) => Some(col(c) > lit(v))
      case GreaterThanOrEqual(c, v) => Some(col(c) >= lit(v))
      case LessThan(c, v) => Some(col(c) < lit(v))
      case LessThanOrEqual(c, v) => Some(col(c) <= lit(v))
      case In(c, vs) => Some(col(c).isin(vs.toIndexedSeq: _*))
      case IsNull(c) => Some(col(c).isNull)
      case IsNotNull(c) => Some(col(c).isNotNull)
      case _: AlwaysTrue => Some(lit(true))
      case _: AlwaysFalse => Some(lit(false))
      case _ => None
    }
  }

  private def fieldOf(schema: StructType, c: String): Option[StructField] =
    schema.fields.find(_.name == c)
}
