package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Q, Tables}
import graft.operators.VersionedTable

/** Sink surface registered as a driver-checkable query: q73 pushes an
  * aggregate THROUGH the K1 JDBC batch-insert path (Derby in-memory —
  * the sandbox stand-in for the reference's SQLite, `db.py:5-13`) and
  * returns what the database hands back, so the oracle checks
  * end-to-end sink fidelity (types, decimals-as-scaled-bigints, row
  * set), not just that a write happened. K2-K4 stay spec-tier
  * (SinksSpec) — file moves and schema merges have no query-shaped
  * output.
  */
object SinkQueries {

  // fresh in-memory db per invocation: writeJdbc is append-mode (the
  // reference's batch-insert semantics), so reusing one db across
  // registry re-runs would accumulate duplicates
  private val runId = new java.util.concurrent.atomic.AtomicLong

  /** The table fixtures' batch sink (the reference's one insert per
    * chunk, `db.py:5-13`): one `commitAppend` per distinct `bin` of
    * `binned`, each that bin's `cols` as one file. Bins commit in
    * ascending order of the bin column's own type (numeric for long
    * bins: 0..15, never "10" before "2"), so on an empty table the
    * i-th bin in that order (from 0) is version i + 1, and both
    * engines count one file per bin present (an empty bin writes no
    * file).
    */
  private[queries] def appendBins(s: SparkSession, base: String,
                                  binned: DataFrame, cols: Seq[String],
                                  statsCols: Seq[String],
                                  bloomCols: Seq[String] = Nil,
                                  ndvCols: Seq[String] = Nil): Unit =
    binned.select(col("bin")).distinct().collect().map(_.get(0))
      .sortWith(_.asInstanceOf[Comparable[Any]].compareTo(_) < 0)
      .foreach { v =>
        VersionedTable.commitAppend(s, base,
          binned.filter(col("bin") === lit(v)).select(cols.map(col): _*)
            .coalesce(1),
          statsCols = statsCols, bloomCols = bloomCols, ndvCols = ndvCols)
      }

  /** `t` with `bin` = `n` equal-width ranges of the long column `key`
    * (`(key - lo) * n div span`, all operands non-negative, so Spark
    * `div` ≡ DuckDB `//` in the oracle twins), plus the `lo` and `span`
    * of the one min/max job that bounds them.
    */
  private[queries] def rangeBins(t: DataFrame, key: String,
                                 n: Int): (DataFrame, Long, Long) = {
    val b = t.agg(min(col(key)), max(col(key))).head()
    val (lo, span) = (b.getLong(0), b.getLong(1) - b.getLong(0) + 1)
    (t.withColumn("bin", expr(s"($key - ${lo}L) * $n div ${span}L")),
      lo, span)
  }

  val all: Seq[Q] = Seq(
    Q("q73_jdbc_roundtrip",
      (s, d) => {
        import graft.functions.ColumnOps.e2
        val url = s"jdbc:derby:memory:graft_q73_${runId.incrementAndGet()};create=true"
        val agg = Tables.customer(s, d)
          .groupBy(col("c_mktsegment"))
          .agg(count(lit(1)).as("n_customers"),
            sum(e2(col("c_acctbal"))).as("acctbal_e2"))
        graft.sources.Sinks.writeJdbc(agg, url, "segment_stats")
        graft.sources.Sinks.readJdbc(s, url, "segment_stats")
          .orderBy(col("c_mktsegment"))
      },
      Some("""
        SELECT c_mktsegment, COUNT(*) AS n_customers,
               CAST(SUM(CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT))
                    AS BIGINT) AS acctbal_e2
        FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment
      """),
      // bench=false: measures Derby insert throughput, not the engine
      bench = false),

    // ---------------------------------------------------------------
    // q81: multi-format source/sink round-trip — the same projection
    // written to and re-read from ORC, CSV and JSON (the interchange
    // formats a lakehouse ingests beside parquet), then fingerprinted
    // per format. The oracle computes the identical fingerprint from
    // the original parquet, so a format that mangles anything (types,
    // quoting, row loss) diverges and fails the hash check — the check
    // is end-to-end through each format's writer AND reader, not "a
    // write happened". Text-hostile columns are shaped first: the
    // money double becomes a scaled bigint (CSV/JSON round-trip floats
    // by decimal rendering, which is where exactness dies), so every
    // written column is a long or a comma-free string. Re-reads use
    // the explicit schema — schema inference is a correctness hazard,
    // not a feature, in a pipeline.
    Q("q81_format_roundtrip",
      (s, d) => {
        import graft.functions.ColumnOps.e2
        val base = graft.TempDirs.scoped("graft_q81")
        val cust = Tables.customer(s, d).select(
          col("c_custkey"), col("c_name"), col("c_nationkey"),
          e2(col("c_acctbal")).as("acctbal_e2"), col("c_mktsegment"))
        val schema = cust.schema
        cust.write.mode("overwrite").orc(s"$base/orc")
        cust.write.mode("overwrite").option("header", "true").csv(s"$base/csv")
        cust.write.mode("overwrite").json(s"$base/json")
        val reread = Seq(
          "csv" -> s.read.schema(schema).option("header", "true").csv(s"$base/csv"),
          "json" -> s.read.schema(schema).json(s"$base/json"),
          "orc" -> s.read.schema(schema).orc(s"$base/orc"))
        reread.map { case (fmt, df) =>
          df.agg(
            count(lit(1)).as("n_rows"),
            sum(col("acctbal_e2")).cast("long").as("sum_acctbal_e2"),
            countDistinct(col("c_mktsegment")).as("n_segments"),
            min(col("c_custkey")).as("min_key"),
            max(col("c_custkey")).as("max_key"))
            .select(lit(fmt).as("fmt"), col("n_rows"), col("sum_acctbal_e2"),
              col("n_segments"), col("min_key"), col("max_key"))
        }.reduce(_.unionAll(_)).orderBy(col("fmt"))
      },
      Some("""
        WITH f AS (
          SELECT COUNT(*) AS n_rows,
                 CAST(SUM(CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT))
                      AS BIGINT) AS sum_acctbal_e2,
                 COUNT(DISTINCT c_mktsegment) AS n_segments,
                 MIN(c_custkey) AS min_key, MAX(c_custkey) AS max_key
          FROM customer
        )
        SELECT fmt, n_rows, sum_acctbal_e2, n_segments, min_key, max_key
        FROM (SELECT 'csv' AS fmt, * FROM f
              UNION ALL SELECT 'json', * FROM f
              UNION ALL SELECT 'orc', * FROM f)
        ORDER BY fmt
      """),
      // bench=false: measures tmpfs write throughput of three format
      // encoders, not query execution
      bench = false),

    // ---------------------------------------------------------------
    // q133: z-order layout audit — quantifies what rewriting lineitem
    // in Morton-curve order of (l_partkey, l_suppkey) would buy
    // data-skipping: rows are assigned to 16 equal-width buckets of
    // the interleaved-bit z-value (the files an OPTIMIZE ZORDER BY
    // would write) AND to 16 buckets of the natural l_orderkey insert
    // order, and the per-bucket (min,max) key spans — exactly the
    // zone-map stats a reader prunes on — are reported side by side:
    // z-buckets cut the wide key's span to 1/4-1/32 of its domain
    // (both keys' spans shrink in the lightly-filled buckets), while
    // insert-order buckets span the whole domain of both keys — zero
    // pruning power. The z-value is 32 codegen'd shift/mask terms (16 bits
    // per key — covers the key domains here; widen per key range), no
    // UDF; the audit is ONE cached scan feeding a bounds aggregate
    // and two 16-group span aggregates.
    Q("q133_zorder_layout",
      (s, d) => {
        val zvalue = VersionedTable.zValue _
        // persisted: t feeds the bounds aggregate AND the binned frame,
        // x feeds both span aggregates — without the persists the scan
        // and the 32-term z expression would re-run per consumer
        val t = Tables.lineitem(s, d)
          .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"))
          .withColumn("z", zvalue(col("l_partkey"), col("l_suppkey")))
          .persist()
        val bounds = t.agg(min(col("z")).as("zlo"), max(col("z")).as("zhi"),
          min(col("l_orderkey")).as("olo"), max(col("l_orderkey")).as("ohi"),
          max(col("l_partkey")).as("__phi"), max(col("l_suppkey")).as("__shi"))
        // the 16-bit interleave silently degrades once a key outgrows
        // 2^16 (l_partkey does from sf1 up) — enforce the documented
        // domain instead of relying on the comment: assert_true raises
        // at runtime on violation; when the domain holds it is NULL and
        // the filter keeps every row (isNull), surviving column pruning
        val x = t.crossJoin(broadcast(bounds))
          .filter(assert_true(col("__phi") < 65536 && col("__shi") < 65536,
            lit("q133 zvalue interleaves 16 bits/key; key domain >= 2^16 — widen the interleave")).isNull)
          .withColumn("zbin", expr("(z - zlo) * 16 DIV (zhi - zlo + 1)"))
          .withColumn("nbin",
            expr("(l_orderkey - olo) * 16 DIV (ohi - olo + 1)"))
          .persist()
        // cache-race guard (the DedupQueries prefixIndex pattern): the
        // two span aggregates are independent shuffle stages that would
        // otherwise both recompute the binned frame against a cold cache
        x.count()
        def spans(df: org.apache.spark.sql.DataFrame, bin: String,
                  suffix: String): org.apache.spark.sql.DataFrame =
          df.groupBy(col(bin).as("bin"))
            .agg(count(lit(1)).as(s"n_$suffix"),
              (max(col("l_partkey")) - min(col("l_partkey")))
                .as(s"part_span_$suffix"),
              (max(col("l_suppkey")) - min(col("l_suppkey")))
                .as(s"supp_span_$suffix"))
        // full outer: a bucket empty under ONE layout (sparse z space)
        // must still report the other layout's row — an inner join
        // would under-report exactly the skew the audit measures.
        // Counts zero-fill; spans stay null for the empty side.
        spans(x, "zbin", "z").join(spans(x, "nbin", "nat"),
            Seq("bin"), "full_outer")
          .na.fill(0L, Seq("n_z", "n_nat"))
          .orderBy(col("bin"))
      },
      Some {
        val zExpr = (0 until 16).map { i =>
          s"(((l_partkey >> $i) & 1) << ${2 * i}) + " +
            s"(((l_suppkey >> $i) & 1) << ${2 * i + 1})"
        }.mkString(" + ")
        s"""
        WITH t AS (
          SELECT l_orderkey, l_partkey, l_suppkey, $zExpr AS z FROM lineitem
        ), b AS (
          SELECT MIN(z) AS zlo, MAX(z) AS zhi,
                 MIN(l_orderkey) AS olo, MAX(l_orderkey) AS ohi
          FROM t
        ), x AS (
          SELECT t.*, (z - zlo) * 16 // (zhi - zlo + 1) AS zbin,
                 (l_orderkey - olo) * 16 // (ohi - olo + 1) AS nbin
          FROM t, b
        ), zs AS (
          SELECT zbin AS bin, CAST(COUNT(*) AS BIGINT) AS n_z,
                 CAST(MAX(l_partkey) - MIN(l_partkey) AS BIGINT) AS part_span_z,
                 CAST(MAX(l_suppkey) - MIN(l_suppkey) AS BIGINT) AS supp_span_z
          FROM x GROUP BY 1
        ), ns AS (
          SELECT nbin AS bin, CAST(COUNT(*) AS BIGINT) AS n_nat,
                 CAST(MAX(l_partkey) - MIN(l_partkey) AS BIGINT) AS part_span_nat,
                 CAST(MAX(l_suppkey) - MIN(l_suppkey) AS BIGINT) AS supp_span_nat
          FROM x GROUP BY 1
        )
        SELECT bin, CAST(COALESCE(n_z, 0) AS BIGINT) AS n_z,
               part_span_z, supp_span_z,
               CAST(COALESCE(n_nat, 0) AS BIGINT) AS n_nat,
               part_span_nat, supp_span_nat
        FROM zs FULL JOIN ns USING (bin) ORDER BY bin
      """
      }),

    // ---------------------------------------------------------------
    // q138: dataset versioning + time travel — the purchase stream's
    // per-user current-state table maintained as a VersionedTable
    // (operators/VersionedTable: commit-log manifests over immutable
    // parquet, the Delta/Iceberg commit-protocol idea): three arrival
    // batches (event_id mod 3 — deliberately NOT time-ordered, the
    // merge's argmax associativity makes arrival order irrelevant) are
    // MERGE-committed in sequence, then versions 1..3 are read back by
    // TIME TRAVEL and aggregated — the audit a training-data owner
    // runs to pin exactly which state snapshot a model consumed. The
    // oracle reconstructs each version from the change log (batch b
    // visible at version v iff b < v), so a commit that leaked rows
    // across versions or a reader that resolved the wrong manifest
    // hash-fails. Scale: each merge is one key-grouped reduce over
    // state ∪ delta (state is dimension-sized — one row per user);
    // time travel reads only the manifest's file list, no log replay.
    Q("q138_time_travel",
      (s, d) => {
        val base = graft.TempDirs.scoped("graft_q138")
        val p = Tables.events(s, d)
          .filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts"), col("event_id"),
            graft.functions.ColumnOps.e2(col("value")).as("value_e2"))
        (0 to 2).foreach { b =>
          VersionedTable.commitMerge(
            s, base, p.filter(pmod(col("event_id"), lit(3)) === b),
            keyCol = "user_id", ordCols = Seq("ts", "event_id"))
        }
        (1 to 3).map { v =>
          VersionedTable.readVersion(s, base, v)
            .agg(count(lit(1)).as("n_users"),
              sum(col("value_e2")).as("state_value_e2"),
              max(date_format(col("ts"), "yyyy-MM-dd HH:mm:ss")).as("max_ts"))
            .select(lit(v).as("version"), col("n_users"),
              col("state_value_e2"), col("max_ts"))
        }.reduce(_.unionAll(_)).orderBy(col("version"))
      },
      Some("""
        WITH p AS (
          SELECT user_id, ts, event_id,
                 CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS value_e2
          FROM events WHERE event_type = 'purchase'
        ), v(version) AS (VALUES (1), (2), (3)),
        r AS (
          SELECT v.version, p.user_id, p.ts, p.value_e2,
                 ROW_NUMBER() OVER (PARTITION BY v.version, p.user_id
                   ORDER BY p.ts DESC, p.event_id DESC) AS rn
          FROM v JOIN p ON p.event_id % 3 < v.version
        )
        SELECT version, COUNT(*) AS n_users,
               CAST(SUM(value_e2) AS BIGINT) AS state_value_e2,
               MAX(strftime(ts, '%Y-%m-%d %H:%M:%S')) AS max_ts
        FROM r WHERE rn = 1 GROUP BY version ORDER BY version
      """),
      // bench=false: dominated by writing the versioned fixture (three
      // parquet state rewrites), not by query execution
      bench = false),

    // ---------------------------------------------------------------
    // q140: version change feed — CDC BETWEEN committed versions (the
    // Delta "change data feed" read, reconstructed from snapshots):
    // the q138 versioned table is rebuilt (three merge commits of the
    // purchase stream, batched by event_id mod 3), then
    // VersionedTable.changesBetween(2, 3) emits one row per user whose
    // state changed in commit 3 — inserts (first appearance in batch
    // 2) and updates (a later latest-row), old and new values side by
    // side; unchanged keys emit nothing, deletes cannot occur under
    // merge-only commits. Scale: the diff is ONE key-keyed full-outer
    // join of two dimension-sized state snapshots — no log replay,
    // cost independent of stream history. The oracle reconstructs both
    // versions from the change log (q138's rule) and diffs them with
    // IS DISTINCT FROM, so a wrong-version read, a leaked row, or a
    // missed update hash-fails.
    Q("q140_version_changes",
      (s, d) => {
        val base = graft.TempDirs.scoped("graft_q140")
        val p = Tables.events(s, d)
          .filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts"), col("event_id"),
            graft.functions.ColumnOps.e2(col("value")).as("value_e2"))
        (0 to 2).foreach { b =>
          VersionedTable.commitMerge(
            s, base, p.filter(pmod(col("event_id"), lit(3)) === b),
            keyCol = "user_id", ordCols = Seq("ts", "event_id"))
        }
        VersionedTable.changesBetween(s, base, 2L, 3L, keyCol = "user_id")
          .select(col("user_id"), col("change_type"),
            date_format(col("ts_old"), "yyyy-MM-dd HH:mm:ss").as("ts_old"),
            col("value_e2_old"),
            date_format(col("ts_new"), "yyyy-MM-dd HH:mm:ss").as("ts_new"),
            col("value_e2_new"))
          .orderBy(col("user_id"))
      },
      Some("""
        WITH p AS (
          SELECT user_id, ts, event_id,
                 CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS value_e2
          FROM events WHERE event_type = 'purchase'
        ), v(version) AS (VALUES (2), (3)),
        r AS (
          SELECT v.version, p.user_id, p.ts, p.event_id, p.value_e2,
                 ROW_NUMBER() OVER (PARTITION BY v.version, p.user_id
                   ORDER BY p.ts DESC, p.event_id DESC) AS rn
          FROM v JOIN p ON p.event_id % 3 < v.version
        ), o AS (SELECT * FROM r WHERE rn = 1 AND version = 2),
        n AS (SELECT * FROM r WHERE rn = 1 AND version = 3)
        SELECT COALESCE(n.user_id, o.user_id) AS user_id,
               CASE WHEN o.user_id IS NULL THEN 'insert'
                    WHEN n.user_id IS NULL THEN 'delete'
                    WHEN (o.ts IS DISTINCT FROM n.ts)
                      OR (o.event_id IS DISTINCT FROM n.event_id)
                      OR (o.value_e2 IS DISTINCT FROM n.value_e2)
                    THEN 'update' END AS change_type,
               strftime(o.ts, '%Y-%m-%d %H:%M:%S') AS ts_old,
               o.value_e2 AS value_e2_old,
               strftime(n.ts, '%Y-%m-%d %H:%M:%S') AS ts_new,
               n.value_e2 AS value_e2_new
        FROM o FULL JOIN n ON o.user_id = n.user_id
        WHERE CASE WHEN o.user_id IS NULL THEN 'insert'
                   WHEN n.user_id IS NULL THEN 'delete'
                   WHEN (o.ts IS DISTINCT FROM n.ts)
                     OR (o.event_id IS DISTINCT FROM n.event_id)
                     OR (o.value_e2 IS DISTINCT FROM n.value_e2)
                   THEN 'update' END IS NOT NULL
        ORDER BY user_id
      """),
      // bench=false: fixture-write-dominated like q138
      bench = false),

    // ---------------------------------------------------------------
    // q142: incremental view maintenance — the reason a 100 TB
    // pipeline wants q140's change feed at all: a grouped aggregate
    // over the state table is advanced from version 2 to version 3
    // using ONLY the CDC deltas (new-minus-old contributions per
    // changed key), never rescanning version 3. Output carries the v2
    // base aggregate and the incrementally-maintained v3 aggregate
    // side by side; the oracle recomputes BOTH directly from the
    // change log, so an incremental result that diverges from a full
    // recompute — the IVM correctness property — hash-fails. Scale:
    // maintenance cost ∝ |changes| (one group-keyed agg over the
    // change feed + one broadcast-sized join of per-group aggregates),
    // while the recompute it replaces is ∝ |state|.
    Q("q142_incremental_view",
      (s, d) => {
        val base = graft.TempDirs.scoped("graft_q142")
        val p = Tables.events(s, d)
          .filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts"), col("event_id"),
            graft.functions.ColumnOps.e2(col("value")).as("value_e2"))
        (0 to 2).foreach { b =>
          VersionedTable.commitMerge(
            s, base, p.filter(pmod(col("event_id"), lit(3)) === b),
            keyCol = "user_id", ordCols = Seq("ts", "event_id"))
        }
        val grp = pmod(col("user_id"), lit(10)).as("grp")
        val v2agg = VersionedTable.readVersion(s, base, 2L)
          .groupBy(grp)
          .agg(count(lit(1)).as("n_v2"), sum(col("value_e2")).as("sum_v2"))
        val delta = VersionedTable
          .changesBetween(s, base, 2L, 3L, keyCol = "user_id")
          .groupBy(pmod(col("user_id"), lit(10)).as("grp"))
          .agg(
            sum(when(col("change_type") === "insert", 1L)
              .when(col("change_type") === "delete", -1L)
              .otherwise(0L)).as("dn"),
            sum(coalesce(col("value_e2_new"), lit(0L))
              - coalesce(col("value_e2_old"), lit(0L))).as("dsum"))
        // full outer: a group whose FIRST member arrives in commit 3
        // exists only in the delta; merge-only commits guarantee v3's
        // group set = v2's ∪ delta's, so this union is exactly v3
        v2agg.join(delta, Seq("grp"), "full_outer")
          .select(col("grp"),
            coalesce(col("n_v2"), lit(0L)).as("n_v2"),
            coalesce(col("sum_v2"), lit(0L)).as("sum_v2"),
            (coalesce(col("n_v2"), lit(0L))
              + coalesce(col("dn"), lit(0L))).as("n_v3"),
            (coalesce(col("sum_v2"), lit(0L))
              + coalesce(col("dsum"), lit(0L))).as("sum_v3"))
          .orderBy(col("grp"))
      },
      Some("""
        WITH p AS (
          SELECT user_id, ts, event_id,
                 CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS value_e2
          FROM events WHERE event_type = 'purchase'
        ), v(version) AS (VALUES (2), (3)),
        r AS (
          SELECT v.version, p.user_id, p.value_e2,
                 ROW_NUMBER() OVER (PARTITION BY v.version, p.user_id
                   ORDER BY p.ts DESC, p.event_id DESC) AS rn
          FROM v JOIN p ON p.event_id % 3 < v.version
        ), st AS (SELECT version, user_id, value_e2 FROM r WHERE rn = 1),
        a2 AS (
          SELECT user_id % 10 AS grp, COUNT(*) AS n_v2,
                 CAST(SUM(value_e2) AS BIGINT) AS sum_v2
          FROM st WHERE version = 2 GROUP BY 1
        ), a3 AS (
          SELECT user_id % 10 AS grp, COUNT(*) AS n_v3,
                 CAST(SUM(value_e2) AS BIGINT) AS sum_v3
          FROM st WHERE version = 3 GROUP BY 1
        )
        SELECT grp, COALESCE(n_v2, 0) AS n_v2,
               CAST(COALESCE(sum_v2, 0) AS BIGINT) AS sum_v2,
               n_v3, sum_v3
        FROM a3 LEFT JOIN a2 USING (grp)
        ORDER BY grp
      """),
      // bench=false: fixture-write-dominated like q138/q140
      bench = false),

    // ---------------------------------------------------------------
    // q153: manifest data skipping — q133's z-order AUDIT made
    // actionable (r10): the same lineitem slice is written through
    // VersionedTable twice, once clustered by the (l_partkey,
    // l_suppkey) Morton z-value and once in natural l_orderkey insert
    // order — 16 one-bin commits each, with per-file min/max zone maps
    // for both keys written into the manifests at commit
    // (VersionedTable statsCols). A selective l_partkey slice (1/32 of
    // the key domain) is then answered via readVersionPruned, which
    // consults ONLY the manifest stats to decide which files to open.
    // Output per layout: files_total, files_kept (the skipping power —
    // z-order keeps a fraction, insert order keeps ~everything because
    // every natural bucket spans the whole partkey domain), and the
    // n_rows/qty_e2 aggregate computed FROM THE PRUNED READ. The
    // oracle recomputes the aggregate from the FULL table and the kept
    // counts from per-bin min/max — so a pruned read that loses one
    // satisfying row, or a zone map that mis-states a bound,
    // hash-fails. Scale: this is the entire point of a manifest at
    // 100 TB — pruning is a driver-plane pass over file metadata, the
    // cluster never lists (let alone opens) the skipped files; the
    // fixture's driver-side bounds row and ≤16-element bin list are
    // metadata-plane by construction. The 16-bit interleave degrades
    // gracefully if a key outgrows 2^16 (identical z on both engines →
    // identical bins → still green, just weaker skipping; q133 pins
    // the domain with assert_true).
    Q("q153_manifest_skipping",
      (s, d) => {
        val zvalue = VersionedTable.zValue _
        val t = Tables.lineitem(s, d)
          .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
            graft.functions.ColumnOps.e2(col("l_quantity")).as("qty_e2"))
          .withColumn("z", zvalue(col("l_partkey"), col("l_suppkey")))
          .persist()
        // 1-row bounds lookup: the catalog read that parameterizes the
        // layout and the predicate (metadata-plane, like the manifest)
        val b = t.agg(min(col("z")), max(col("z")),
          min(col("l_orderkey")), max(col("l_orderkey")),
          min(col("l_partkey")), max(col("l_partkey"))).head()
        val (zlo, zhi) = (b.getLong(0), b.getLong(1))
        val (olo, ohi) = (b.getLong(2), b.getLong(3))
        val (plo, phi) = (b.getLong(4), b.getLong(5))
        // the selective slice: partkey ∈ [lo, hi], 1/32 of the domain
        // (all operands non-negative → Spark div ≡ DuckDB //)
        val lo = plo + ((phi - plo + 1) * 10) / 32
        val hi = plo + ((phi - plo + 1) * 11) / 32
        def build(binExpr: String,
                  tag: String): org.apache.spark.sql.DataFrame = {
          val base = graft.TempDirs.scoped(s"graft_q153_$tag")
          // ≤16 bins present in the data (both engines enumerate the
          // same set — empty bins write no file on either side)
          appendBins(s, base, t.withColumn("bin", expr(binExpr)),
            Seq("l_orderkey", "l_partkey", "l_suppkey", "qty_e2"),
            statsCols = Seq("l_partkey", "l_suppkey"))
          val v = VersionedTable.latestVersion(base).get
          val es = VersionedTable.entries(base, v)
          val kept = VersionedTable.prune(es, Seq(("l_partkey", lo, hi)))
          VersionedTable.readVersionPruned(s, base, v,
              Seq(("l_partkey", lo, hi)))
            .filter(col("l_partkey").between(lo, hi))
            .agg(count(lit(1)).as("n_rows"), sum(col("qty_e2")).as("qty_e2"))
            .select(lit(tag).as("layout"),
              lit(es.size.toLong).as("files_total"),
              lit(kept.size.toLong).as("files_kept"),
              col("n_rows"), col("qty_e2"))
        }
        val out = build(
            s"(z - ${zlo}L) * 16 div ${zhi - zlo + 1}L", "zorder")
          .unionAll(build(
            s"(l_orderkey - ${olo}L) * 16 div ${ohi - olo + 1}L", "insert"))
          .orderBy(col("layout"))
        t.unpersist()
        out
      },
      Some {
        val zExpr = (0 until 16).map { i =>
          s"(((l_partkey >> $i) & 1) << ${2 * i}) + " +
            s"(((l_suppkey >> $i) & 1) << ${2 * i + 1})"
        }.mkString(" + ")
        s"""
        WITH t AS (
          SELECT l_orderkey, l_partkey, l_suppkey,
                 CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT)
                   AS qty_e2,
                 $zExpr AS z
          FROM lineitem
        ), b AS (
          SELECT MIN(z) AS zlo, MAX(z) AS zhi,
                 MIN(l_orderkey) AS olo, MAX(l_orderkey) AS ohi,
                 MIN(l_partkey) AS plo, MAX(l_partkey) AS phi
          FROM t
        ), pr AS (
          SELECT plo + ((phi - plo + 1) * 10) // 32 AS lo,
                 plo + ((phi - plo + 1) * 11) // 32 AS hi
          FROM b
        ), x AS (
          SELECT t.*, (z - zlo) * 16 // (zhi - zlo + 1) AS zbin,
                 (l_orderkey - olo) * 16 // (ohi - olo + 1) AS obin
          FROM t, b
        ), sel AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
                 CAST(SUM(qty_e2) AS BIGINT) AS qty_e2
          FROM x, pr WHERE l_partkey BETWEEN lo AND hi
        ), zs AS (
          SELECT zbin, MIN(l_partkey) AS mn, MAX(l_partkey) AS mx
          FROM x GROUP BY 1
        ), os AS (
          SELECT obin, MIN(l_partkey) AS mn, MAX(l_partkey) AS mx
          FROM x GROUP BY 1
        ), zk AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS files_total,
                 CAST(COUNT(*) FILTER (WHERE mx >= lo AND mn <= hi)
                   AS BIGINT) AS files_kept
          FROM zs, pr
        ), ok AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS files_total,
                 CAST(COUNT(*) FILTER (WHERE mx >= lo AND mn <= hi)
                   AS BIGINT) AS files_kept
          FROM os, pr
        )
        SELECT 'insert' AS layout, ok.files_total, ok.files_kept,
               n_rows, qty_e2 FROM ok, sel
        UNION ALL
        SELECT 'zorder' AS layout, zk.files_total, zk.files_kept,
               n_rows, qty_e2 FROM zk, sel
        ORDER BY layout
      """
      },
      // bench=false: fixture-write-dominated (32 one-file commits)
      bench = false),

    // ---------------------------------------------------------------
    // q155: compaction lifecycle — the maintenance loop a 100 TB table
    // actually lives by: 16 one-file batch appends (the small-file
    // debt; q153's deterministic insert-order bins) → commitAppend
    // with zone maps → VersionedTable.compact(4) (bin-packing rewrite
    // as a new commit) → vacuum past the pre-compaction snapshot.
    // Output hash-checks the INVARIANTS of that loop: files_before
    // (bins present in the data), files_after (the declared packing),
    // files_vacuumed (exactly the stranded small files — one per
    // pre-compact commit), and n_rows/qty_e2 read from the COMPACTED
    // table — the oracle recomputes them from raw lineitem, so a
    // compaction that drops/duplicates one row, or a vacuum that eats
    // a live file, hash-fails. Scale: compaction is one snapshot
    // rewrite (bounded by table size, amortized across the appends it
    // repays); vacuum is driver-plane manifest arithmetic + deletes.
    Q("q155_compaction_lifecycle",
      (s, d) => {
        val base = graft.TempDirs.scoped("graft_q155")
        val t = Tables.lineitem(s, d)
          .select(col("l_orderkey"), col("l_partkey"),
            graft.functions.ColumnOps.e2(col("l_quantity")).as("qty_e2"))
          .persist()
        appendBins(s, base, rangeBins(t, "l_orderkey", 16)._1,
          Seq("l_orderkey", "l_partkey", "qty_e2"),
          statsCols = Seq("l_partkey"))
        val preV = VersionedTable.latestVersion(base).get
        val filesBefore = VersionedTable.entries(base, preV).size.toLong
        val postV = VersionedTable.compact(s, base, numFiles = 4,
          statsCols = Seq("l_partkey"))
        val filesAfter = VersionedTable.entries(base, postV).size.toLong
        val vacuumed = VersionedTable.vacuum(base, retainFrom = postV)
          .count(_.endsWith(".parquet")).toLong
        val out = VersionedTable.readLatest(s, base)
          .agg(count(lit(1)).as("n_rows"), sum(col("qty_e2")).as("qty_e2"))
          .select(lit(filesBefore).as("files_before"),
            lit(filesAfter).as("files_after"),
            lit(vacuumed).as("files_vacuumed"),
            col("n_rows"), col("qty_e2"))
        t.unpersist()
        out
      },
      Some("""
        WITH t AS (
          SELECT l_orderkey,
                 CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT)
                   AS qty_e2
          FROM lineitem
        ), b AS (
          SELECT MIN(l_orderkey) AS olo, MAX(l_orderkey) AS ohi FROM t
        ), bins AS (
          SELECT DISTINCT (l_orderkey - olo) * 16 // (ohi - olo + 1) AS bin
          FROM t, b
        )
        SELECT CAST((SELECT COUNT(*) FROM bins) AS BIGINT) AS files_before,
               CAST(4 AS BIGINT) AS files_after,
               CAST((SELECT COUNT(*) FROM bins) AS BIGINT) AS files_vacuumed,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(qty_e2) AS BIGINT) AS qty_e2
        FROM t
      """),
      // bench=false: fixture-write-dominated like q153
      bench = false),

    // ---------------------------------------------------------------
    // q157: q153's data skipping through the DATASOURCE V2 SURFACE —
    // the difference that matters: here NOTHING calls the pruning API.
    // The same two layouts (z-ordered vs insert-ordered, 16 one-bin
    // commits with zone maps) are read via
    // spark.read.format("graft").load(base) with an ORDINARY
    // .filter(l_partkey BETWEEN lo AND hi); Catalyst pushes the
    // conjuncts into the scan builder, GraftFileIndex.listFiles
    // translates them to prune ranges at PLAN time, and the parquet
    // scan only ever sees the kept files. files_kept/files_total are
    // read from GraftScanMetrics — the count of files the PLANNED scan
    // actually listed, not a side computation — and the n_rows/qty_e2
    // aggregate comes from the DSv2 read itself. The oracle recomputes
    // everything from raw lineitem + per-bin min/max arithmetic
    // (identical to q153's twin), so a pushdown that loses a row, or a
    // translation that keeps the wrong file set, hash-fails. Scale:
    // this is the seam that makes the format infrastructure — every
    // engine query gets manifest skipping for free; the prune stays
    // driver-plane (GraftDataSource.scala scaladoc).
    Q("q157_dsv2_skipping",
      (s, d) => {
        val zvalue = VersionedTable.zValue _
        val t = Tables.lineitem(s, d)
          .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
            graft.functions.ColumnOps.e2(col("l_quantity")).as("qty_e2"))
          .withColumn("z", zvalue(col("l_partkey"), col("l_suppkey")))
          .persist()
        val b = t.agg(min(col("z")), max(col("z")),
          min(col("l_orderkey")), max(col("l_orderkey")),
          min(col("l_partkey")), max(col("l_partkey"))).head()
        val (zlo, zhi) = (b.getLong(0), b.getLong(1))
        val (olo, ohi) = (b.getLong(2), b.getLong(3))
        val (plo, phi) = (b.getLong(4), b.getLong(5))
        val lo = plo + ((phi - plo + 1) * 10) / 32
        val hi = plo + ((phi - plo + 1) * 11) / 32
        def build(binExpr: String,
                  tag: String): org.apache.spark.sql.DataFrame = {
          val base = graft.TempDirs.scoped(s"graft_q157_$tag")
          appendBins(s, base, t.withColumn("bin", expr(binExpr)),
            Seq("l_orderkey", "l_partkey", "l_suppkey", "qty_e2"),
            statsCols = Seq("l_partkey", "l_suppkey"))
          // the engine-facing read: format + ordinary filter, no
          // pruning API in sight
          val agg = s.read.format("graft").load(base)
            .filter(col("l_partkey").between(lo, hi))
            .agg(count(lit(1)).as("n_rows"), sum(col("qty_e2")).as("qty_e2"))
            .head()
          val (kept, total) = graft.sources.GraftScanMetrics.lastPrune(base)
            .getOrElse(throw new IllegalStateException(
              s"no graft scan planned over $base"))
          import s.implicits._
          Seq((tag, total.toLong, kept.toLong, agg.getLong(0),
            agg.getLong(1)))
            .toDF("layout", "files_total", "files_kept", "n_rows", "qty_e2")
        }
        val out = build(
            s"(z - ${zlo}L) * 16 div ${zhi - zlo + 1}L", "zorder")
          .unionAll(build(
            s"(l_orderkey - ${olo}L) * 16 div ${ohi - olo + 1}L", "insert"))
          .orderBy(col("layout"))
        t.unpersist()
        out
      },
      Some {
        val zExpr = (0 until 16).map { i =>
          s"(((l_partkey >> $i) & 1) << ${2 * i}) + " +
            s"(((l_suppkey >> $i) & 1) << ${2 * i + 1})"
        }.mkString(" + ")
        s"""
        WITH t AS (
          SELECT l_orderkey, l_partkey, l_suppkey,
                 CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT)
                   AS qty_e2,
                 $zExpr AS z
          FROM lineitem
        ), b AS (
          SELECT MIN(z) AS zlo, MAX(z) AS zhi,
                 MIN(l_orderkey) AS olo, MAX(l_orderkey) AS ohi,
                 MIN(l_partkey) AS plo, MAX(l_partkey) AS phi
          FROM t
        ), pr AS (
          SELECT plo + ((phi - plo + 1) * 10) // 32 AS lo,
                 plo + ((phi - plo + 1) * 11) // 32 AS hi
          FROM b
        ), x AS (
          SELECT t.*, (z - zlo) * 16 // (zhi - zlo + 1) AS zbin,
                 (l_orderkey - olo) * 16 // (ohi - olo + 1) AS obin
          FROM t, b
        ), sel AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
                 CAST(SUM(qty_e2) AS BIGINT) AS qty_e2
          FROM x, pr WHERE l_partkey BETWEEN lo AND hi
        ), zs AS (
          SELECT zbin, MIN(l_partkey) AS mn, MAX(l_partkey) AS mx
          FROM x GROUP BY 1
        ), os AS (
          SELECT obin, MIN(l_partkey) AS mn, MAX(l_partkey) AS mx
          FROM x GROUP BY 1
        ), zk AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS files_total,
                 CAST(COUNT(*) FILTER (WHERE mx >= lo AND mn <= hi)
                   AS BIGINT) AS files_kept
          FROM zs, pr
        ), ok AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS files_total,
                 CAST(COUNT(*) FILTER (WHERE mx >= lo AND mn <= hi)
                   AS BIGINT) AS files_kept
          FROM os, pr
        )
        SELECT 'insert' AS layout, ok.files_total, ok.files_kept,
               n_rows, qty_e2 FROM ok, sel
        UNION ALL
        SELECT 'zorder' AS layout, zk.files_total, zk.files_kept,
               n_rows, qty_e2 FROM zk, sel
        ORDER BY layout
      """
      },
      // bench=false: fixture-write-dominated like q153
      bench = false),

    // ---------------------------------------------------------------
    // q158: LOG-DERIVED change feed — q140's CDC rebuilt from COMMIT
    // DELTAS instead of snapshot joins (VersionedTable.changesPerCommit
    // — the Delta-CDF read shape): the same three merge commits, but
    // the feed now spans the WHOLE history (versions 1..3), and each
    // commit's changes are reconstructed from exactly the files that
    // commit added/removed. Commit 1 (first merge on an empty table)
    // removes nothing, so its added files ARE the inserts — zero
    // joins; commits 2-3 diff removed-vs-added files (for copy-on-
    // write merges that equals the snapshot diff — the O(delta) win
    // shows on append/delete commits, spec-pinned in
    // VersionedTableSpec's touched-files test). The oracle
    // reconstructs every version's state from the raw change rule and
    // diffs CONSECUTIVE states — i.e. the snapshot-diff construction —
    // so the two CDC constructions cross-check: a feed row the
    // snapshot diff wouldn't emit (or vice versa) hash-fails. Scale:
    // per-commit granularity is the streaming-consumer contract, and
    // reading only touched files makes the feed ∝ changes on a 100 TB
    // append-mostly table.
    Q("q158_log_cdc",
      (s, d) => {
        val base = graft.TempDirs.scoped("graft_q158")
        val p = Tables.events(s, d)
          .filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts"), col("event_id"),
            graft.functions.ColumnOps.e2(col("value")).as("value_e2"))
        (0 to 2).foreach { b =>
          VersionedTable.commitMerge(
            s, base, p.filter(pmod(col("event_id"), lit(3)) === b),
            keyCol = "user_id", ordCols = Seq("ts", "event_id"))
        }
        VersionedTable.changesPerCommit(s, base, 0L, 3L, keyCol = "user_id")
          .select(col("version"), col("user_id"), col("change_type"),
            date_format(col("ts_old"), "yyyy-MM-dd HH:mm:ss").as("ts_old"),
            col("value_e2_old"),
            date_format(col("ts_new"), "yyyy-MM-dd HH:mm:ss").as("ts_new"),
            col("value_e2_new"))
          .orderBy(col("version"), col("user_id"))
      },
      Some("""
        WITH p AS (
          SELECT user_id, ts, event_id,
                 CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS value_e2
          FROM events WHERE event_type = 'purchase'
        ), vv(version) AS (VALUES (0), (1), (2), (3)),
        r AS (
          SELECT vv.version, p.user_id, p.ts, p.event_id, p.value_e2,
                 ROW_NUMBER() OVER (PARTITION BY vv.version, p.user_id
                   ORDER BY p.ts DESC, p.event_id DESC) AS rn
          FROM vv JOIN p ON p.event_id % 3 < vv.version
        ), st AS (
          SELECT version, user_id, ts, event_id, value_e2
          FROM r WHERE rn = 1
        ), o AS (
          SELECT version + 1 AS version, user_id, ts, event_id, value_e2
          FROM st WHERE version <= 2
        ), n AS (
          SELECT * FROM st WHERE version BETWEEN 1 AND 3
        )
        SELECT CAST(COALESCE(n.version, o.version) AS BIGINT) AS version,
               COALESCE(n.user_id, o.user_id) AS user_id,
               CASE WHEN o.user_id IS NULL THEN 'insert'
                    WHEN n.user_id IS NULL THEN 'delete'
                    WHEN (o.ts IS DISTINCT FROM n.ts)
                      OR (o.event_id IS DISTINCT FROM n.event_id)
                      OR (o.value_e2 IS DISTINCT FROM n.value_e2)
                    THEN 'update' END AS change_type,
               strftime(o.ts, '%Y-%m-%d %H:%M:%S') AS ts_old,
               o.value_e2 AS value_e2_old,
               strftime(n.ts, '%Y-%m-%d %H:%M:%S') AS ts_new,
               n.value_e2 AS value_e2_new
        FROM o FULL JOIN n
          ON o.version = n.version AND o.user_id = n.user_id
        WHERE CASE WHEN o.user_id IS NULL THEN 'insert'
                   WHEN n.user_id IS NULL THEN 'delete'
                   WHEN (o.ts IS DISTINCT FROM n.ts)
                     OR (o.event_id IS DISTINCT FROM n.event_id)
                     OR (o.value_e2 IS DISTINCT FROM n.value_e2)
                   THEN 'update' END IS NOT NULL
        ORDER BY version, user_id
      """),
      // bench=false: fixture-write-dominated like q140
      bench = false),

    // ---------------------------------------------------------------
    // q159: STRING and DATE zone maps under the oracle gate — the
    // pruning keys real time-partitioned 100 TB tables actually filter
    // on (r10's maps were integral-only). Two layouts of the orders
    // table, both read through the DSv2 surface with ordinary filters:
    //  - 'string_eq': one commit per o_orderpriority value (StrStats
    //    zone maps, hex-encoded, bytewise order); an equality filter
    //    on the middle priority must keep exactly ONE file;
    //  - 'date_range': commits binned into eighths of the
    //    CAST(o_orderdate AS DATE) span (ColStats as epoch days); a
    //    one-eighth BETWEEN slice keeps only the overlapping bins.
    // files_total/files_kept come from GraftScanMetrics (what the
    // planned scan LISTED), n_rows/price_e2 from the DSv2 read. The
    // oracle recomputes the kept counts from per-bin min/max (DuckDB's
    // binary string collation = the maps' bytewise order; date
    // arithmetic in days) and the aggregates from raw orders — a
    // mis-encoded string bound, a wrong epoch-day flattening, or a
    // filter translation that keeps the wrong file set hash-fails.
    Q("q159_string_date_skipping",
      (s, d) => {
        val t = Tables.orders(s, d)
          .select(col("o_orderkey"), col("o_orderpriority"),
            to_date(col("o_orderdate")).as("o_date"),
            graft.functions.ColumnOps.e2(col("o_totalprice")).as("price_e2"))
          .persist()
        // deterministic parameters read from the data (both engines
        // enumerate identically): middle priority, date-span eighth
        val prio = t.select(col("o_orderpriority")).distinct()
          .collect().map(_.getString(0)).sorted.apply(2)
        val db = t.agg(min(col("o_date")), max(col("o_date"))).head()
        val (dlo, dhi) = (db.getDate(0).toLocalDate.toEpochDay,
          db.getDate(1).toLocalDate.toEpochDay)
        val span = dhi - dlo + 1
        val (slo, shi) = (dlo + (span * 2) / 8, dlo + (span * 3) / 8 - 1)
        def dateOf(day: Long) =
          java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(day))
        def layout(binCol: org.apache.spark.sql.Column, statsCol: String,
                   pred: org.apache.spark.sql.DataFrame =>
                     org.apache.spark.sql.DataFrame,
                   tag: String): org.apache.spark.sql.DataFrame = {
          val base = graft.TempDirs.scoped(s"graft_q159_$tag")
          appendBins(s, base, t.withColumn("bin", binCol),
            Seq("o_orderkey", "o_orderpriority", "o_date", "price_e2"),
            statsCols = Seq(statsCol))
          val agg = pred(s.read.format("graft").load(base))
            .agg(count(lit(1)).as("n_rows"),
              sum(col("price_e2")).as("price_e2")).head()
          val (kept, total) = graft.sources.GraftScanMetrics.lastPrune(base)
            .getOrElse(throw new IllegalStateException(
              s"no graft scan planned over $base"))
          import s.implicits._
          Seq((tag, total.toLong, kept.toLong, agg.getLong(0),
            agg.getLong(1)))
            .toDF("pred", "files_total", "files_kept", "n_rows", "price_e2")
        }
        val out = layout(col("o_orderpriority"), "o_orderpriority",
            _.filter(col("o_orderpriority") === prio), "string_eq")
          .unionAll(layout(
            expr(s"(datediff(o_date, date'${java.time.LocalDate
              .ofEpochDay(dlo)}') * 8) div ${span}L"), "o_date",
            _.filter(col("o_date").between(dateOf(slo), dateOf(shi))),
            "date_range"))
          .orderBy(col("pred"))
        t.unpersist()
        out
      },
      Some("""
        WITH t AS (
          SELECT o_orderkey, o_orderpriority,
                 CAST(o_orderdate AS DATE) AS o_date,
                 CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
                   AS price_e2
          FROM orders
        ), b AS (
          SELECT MIN(o_date) AS dlo, MAX(o_date) AS dhi FROM t
        ), pv AS (
          SELECT o_orderpriority AS p FROM (
            SELECT DISTINCT o_orderpriority FROM t)
          ORDER BY 1 LIMIT 1 OFFSET 2
        ), ps AS (
          SELECT o_orderpriority AS bin,
                 MIN(o_orderpriority) AS mn, MAX(o_orderpriority) AS mx
          FROM t GROUP BY 1
        ), pk AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS files_total,
                 CAST(COUNT(*) FILTER (WHERE mx >= p AND mn <= p)
                   AS BIGINT) AS files_kept
          FROM ps, pv
        ), psel AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
                 CAST(SUM(price_e2) AS BIGINT) AS price_e2
          FROM t, pv WHERE o_orderpriority = p
        ), dr AS (
          SELECT dlo + CAST(((dhi - dlo + 1) * 2) // 8 AS INTEGER) AS lo,
                 dlo + CAST(((dhi - dlo + 1) * 3) // 8 - 1 AS INTEGER) AS hi
          FROM b
        ), x AS (
          SELECT t.*, (o_date - dlo) * 8 // (dhi - dlo + 1) AS dbin
          FROM t, b
        ), ds AS (
          SELECT dbin, MIN(o_date) AS mn, MAX(o_date) AS mx
          FROM x GROUP BY 1
        ), dk AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS files_total,
                 CAST(COUNT(*) FILTER (WHERE mx >= lo AND mn <= hi)
                   AS BIGINT) AS files_kept
          FROM ds, dr
        ), dsel AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
                 CAST(SUM(price_e2) AS BIGINT) AS price_e2
          FROM x, dr WHERE o_date BETWEEN lo AND hi
        )
        SELECT 'date_range' AS pred, dk.files_total, dk.files_kept,
               dsel.n_rows, dsel.price_e2 FROM dk, dsel
        UNION ALL
        SELECT 'string_eq' AS pred, pk.files_total, pk.files_kept,
               psel.n_rows, psel.price_e2 FROM pk, psel
        ORDER BY pred
      """),
      // bench=false: fixture-write-dominated like q153/q157
      bench = false),

    // ---------------------------------------------------------------
    // q163: the DSv2 WRITE path under the oracle gate (r11) — the
    // last seam that makes the format a full citizen of the public
    // API: df.write.format("graft").mode("append"/"overwrite") commits
    // through the same protocol as library callers (atomic publish,
    // rebase-retry, schema headers, writer-declared zone maps via the
    // statsCols option). Two appends (even/odd l_orderkey halves) then
    // an OVERWRITE with the even half only; output = (version, n_rows,
    // qty_e2) for the pre-overwrite snapshot (versionAsOf=2 — time
    // travel ACROSS a replace) and the overwritten latest. The oracle
    // recomputes both from raw lineitem, so an append that drops a
    // row, an overwrite that leaks the old snapshot into the new, or
    // broken time travel hash-fails.
    Q("q163_dsv2_write_roundtrip",
      (s, d) => {
        val base = graft.TempDirs.scoped("graft_q163")
        val t = Tables.lineitem(s, d)
          .select(col("l_orderkey"), col("l_partkey"),
            graft.functions.ColumnOps.e2(col("l_quantity")).as("qty_e2"))
        def half(r: Int) = t.filter(pmod(col("l_orderkey"), lit(2)) === r)
        half(0).write.format("graft").mode("append")
          .option("statsCols", "l_orderkey").save(base)
        half(1).write.format("graft").mode("append")
          .option("statsCols", "l_orderkey").save(base)
        half(0).write.format("graft").mode("overwrite")
          .option("statsCols", "l_orderkey").save(base)
        def snap(df: org.apache.spark.sql.DataFrame, v: Long) =
          df.agg(count(lit(1)).as("n_rows"), sum(col("qty_e2")).as("qty_e2"))
            .select(lit(v).as("version"), col("n_rows"), col("qty_e2"))
        snap(s.read.format("graft").option("versionAsOf", "2").load(base), 2L)
          .unionAll(snap(s.read.format("graft").load(base), 3L))
          .orderBy(col("version"))
      },
      Some("""
        WITH t AS (
          SELECT l_orderkey,
                 CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT)
                   AS qty_e2
          FROM lineitem
        )
        SELECT CAST(2 AS BIGINT) AS version,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(qty_e2) AS BIGINT) AS qty_e2
        FROM t
        UNION ALL
        SELECT CAST(3 AS BIGINT) AS version,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(qty_e2) AS BIGINT) AS qty_e2
        FROM t WHERE l_orderkey % 2 = 0
        ORDER BY version
      """),
      // bench=false: fixture-write-dominated like q153/q157
      bench = false),

    // ---------------------------------------------------------------
    // q164: the table format as a STREAMING SOURCE (r11) — the commit
    // log is the stream: readStream.format("graft") delivers the
    // current snapshot as its first batch and each later commit's
    // ADDED FILES as tail batches (GraftStreamSource — the Delta-
    // source shape; batch planning is pure commit-log metadata, cost
    // ∝ delta, never ∝ table). The entry drives the full lifecycle:
    // two commits land, an AvailableNow drain consumes the snapshot;
    // a THIRD commit lands after the stream's checkpoint exists, and
    // a resumed drain picks up exactly that commit's files. The
    // result aggregates the parquet sink per l_linenumber, so the
    // oracle (raw lineitem) hash-fails if the snapshot double-counts,
    // the tail re-reads consumed commits, or the resume drops the new
    // commit — exactly-once across restarts, checked by arithmetic.
    Q("q164_stream_format_tail",
      (s, d) => {
        import org.apache.spark.sql.streaming.Trigger
        val base = graft.TempDirs.scoped("graft_q164")
        val sink = graft.TempDirs.scoped("graft_q164_sink")
        val t = Tables.lineitem(s, d)
          .select(col("l_orderkey"),
            col("l_linenumber").cast("long").as("l_linenumber"),
            graft.functions.ColumnOps.e2(col("l_quantity")).as("qty_e2"))
        def slice(lo: Int, hi: Int) =
          t.filter(col("l_linenumber").between(lo, hi)).coalesce(4)
        VersionedTable.commitAppend(s, base, slice(1, 2),
          statsCols = Seq("l_linenumber"))
        VersionedTable.commitAppend(s, base, slice(3, 4),
          statsCols = Seq("l_linenumber"))
        def drain(): Unit = {
          val q = s.readStream.format("graft").load(base)
            .writeStream.trigger(Trigger.AvailableNow())
            .format("parquet")
            .option("path", s"$sink/out")
            .option("checkpointLocation", s"$sink/ckpt")
            .start()
          q.awaitTermination()
        }
        drain() // first batch = the v2 snapshot
        VersionedTable.commitAppend(s, base, slice(5, 7),
          statsCols = Seq("l_linenumber")) // lands AFTER the checkpoint
        drain() // resumed drain reads ONLY v3's added files
        s.read.schema(org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("l_orderkey",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("l_linenumber",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("qty_e2",
              org.apache.spark.sql.types.LongType))))
          .parquet(s"$sink/out")
          .groupBy(col("l_linenumber"))
          .agg(count(lit(1)).as("n_rows"), sum(col("qty_e2")).as("qty_e2"))
          .orderBy(col("l_linenumber"))
      },
      Some("""
        SELECT CAST(l_linenumber AS BIGINT) AS l_linenumber,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100
                 AS BIGINT)) AS BIGINT) AS qty_e2
        FROM lineitem GROUP BY 1 ORDER BY 1
      """),
      // bench=false: fixture-write-dominated like q153/q157
      bench = false),

    // ---------------------------------------------------------------
    // q165: SQL `DELETE FROM` through the DSv2 surface (r11) — the
    // GDPR path q155 exposed as a library call, now a plain SQL
    // statement: GraftTable implements SupportsDelete, the pushed
    // predicate becomes commitDelete's row filter AND its zone-map
    // footprint (the same GraftFilters translation the read path
    // prunes with), so the delete rewrites ONLY the files whose maps
    // can hold a matching key. Fixture: lineitem in 8 one-file
    // orderkey-bin commits; DELETE WHERE l_orderkey BETWEEN a two-
    // sixteenths span straddling bins 2-3. Output: pre/post row
    // counts + quantity sums (post read back through SQL, pre via
    // versionAsOf time travel ACROSS the delete) and the delete
    // commit's removed-file count. The oracle recomputes everything
    // from raw lineitem + per-bin min/max arithmetic — a delete that
    // leaks a matching row, over-rewrites untouched bins, or breaks
    // time travel hash-fails.
    Q("q165_sql_delete",
      (s, d) => {
        val base = graft.TempDirs.scoped("graft_q165")
        val t = Tables.lineitem(s, d)
          .select(col("l_orderkey"),
            graft.functions.ColumnOps.e2(col("l_quantity")).as("qty_e2"))
          .persist()
        val (binned, olo, span) = rangeBins(t, "l_orderkey", 8)
        val (dlo, dhi) = (olo + (span * 5) / 16, olo + (span * 7) / 16 - 1)
        appendBins(s, base, binned, Seq("l_orderkey", "qty_e2"),
          statsCols = Seq("l_orderkey"))
        s.sql("DROP TABLE IF EXISTS graft_q165_t")
        s.sql(s"CREATE TABLE graft_q165_t USING graft OPTIONS (path '$base')")
        try {
          s.sql(s"DELETE FROM graft_q165_t WHERE l_orderkey " +
            s"BETWEEN ${dlo}L AND ${dhi}L")
          val post = s.sql("SELECT count(*) AS n, sum(qty_e2) AS q " +
            "FROM graft_q165_t").head()
          val pre = s.read.format("graft").option("versionAsOf", "8")
            .load(base)
            .agg(count(lit(1)).as("n"), sum(col("qty_e2")).as("q")).head()
          val (_, _, removed) =
            VersionedTable.commitDelta(base,
              VersionedTable.latestVersion(base).get)
          import s.implicits._
          Seq((pre.getLong(0), pre.getLong(1), post.getLong(0),
            post.getLong(1), removed.size.toLong))
            .toDF("n_pre", "qty_pre", "n_post", "qty_post", "files_removed")
        } finally {
          s.sql("DROP TABLE IF EXISTS graft_q165_t")
          t.unpersist(); ()
        }
      },
      Some("""
        WITH t AS (
          SELECT l_orderkey,
                 CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT)
                   AS qty_e2
          FROM lineitem
        ), b AS (
          SELECT MIN(l_orderkey) AS olo, MAX(l_orderkey) AS ohi,
                 MAX(l_orderkey) - MIN(l_orderkey) + 1 AS span
          FROM t
        ), pr AS (
          SELECT olo + (span * 5) // 16 AS dlo,
                 olo + (span * 7) // 16 - 1 AS dhi
          FROM b
        ), x AS (
          SELECT t.*, (l_orderkey - olo) * 8 // span AS bin
          FROM t, b
        ), bins AS (
          SELECT bin, MIN(l_orderkey) AS mn, MAX(l_orderkey) AS mx
          FROM x GROUP BY 1
        )
        SELECT
          (SELECT CAST(COUNT(*) AS BIGINT) FROM t) AS n_pre,
          (SELECT CAST(SUM(qty_e2) AS BIGINT) FROM t) AS qty_pre,
          (SELECT CAST(COUNT(*) AS BIGINT) FROM t, pr
            WHERE l_orderkey NOT BETWEEN dlo AND dhi) AS n_post,
          (SELECT CAST(SUM(qty_e2) AS BIGINT) FROM t, pr
            WHERE l_orderkey NOT BETWEEN dlo AND dhi) AS qty_post,
          (SELECT CAST(COUNT(*) AS BIGINT) FROM bins, pr
            WHERE mx >= dlo AND mn <= dhi) AS files_removed
      """),
      // bench=false: fixture-write-dominated like q153/q157
      bench = false),

    // ---------------------------------------------------------------
    // q166: the change feed as a LIVE STREAM (r11) — q158's log-
    // derived CDC re-expressed as readChangeFeed=true on the streaming
    // source: the feed of (version, key, old/new, change_type) rows
    // becomes a Structured Streaming query with checkpointed resume.
    // Append commits stream straight off their added files (version
    // recovered from the d{v}- dir name — zero copies); the delete
    // commit spools its per-commit diff under the checkpoint (the
    // read-side _change_data materialization). Fixture: lineitem keyed
    // by rid = l_orderkey*10 + l_linenumber in two append halves, then
    // a zone-map-scoped DELETE of a two-sixteenths orderkey span; the
    // CDC stream drains BEFORE the delete, then RESUMES across it —
    // so the delete's rows flow through the spool leg of a tailing
    // batch. Output: per (version, change_type) row counts and
    // quantity sums from the sink; the oracle recomputes all three
    // commits' feeds from raw lineitem — a feed that double-counts on
    // resume, mis-attributes versions, or leaks surviving rows into
    // the delete diff hash-fails.
    Q("q166_stream_change_feed",
      (s, d) => {
        import org.apache.spark.sql.streaming.Trigger
        val base = graft.TempDirs.scoped("graft_q166")
        val sink = graft.TempDirs.scoped("graft_q166_sink")
        // CDC keys must be UNIQUE (the diff joins on them): the
        // synthetic lineitem repeats (orderkey, linenumber), so the
        // fixture dedupes to one row per rid (max quantity — a
        // deterministic argmax both engines compute identically)
        val t = Tables.lineitem(s, d)
          .select((col("l_orderkey") * 10 +
            col("l_linenumber").cast("long")).as("rid"),
            graft.functions.ColumnOps.e2(col("l_quantity")).as("qty_e2"))
          .groupBy(col("rid")).agg(max(col("qty_e2")).as("qty_e2"))
          .withColumn("l_orderkey", expr("rid div 10"))
          .persist()
        val b = t.agg(min(col("l_orderkey")), max(col("l_orderkey"))).head()
        val (olo, ohi) = (b.getLong(0), b.getLong(1))
        val span = ohi - olo + 1
        val (dlo, dhi) = (olo + (span * 5) / 16, olo + (span * 7) / 16 - 1)
        def half(r: Int) = t.filter(pmod(col("l_orderkey"), lit(2)) === r)
          .select(col("rid"), col("qty_e2")).coalesce(4)
        VersionedTable.commitAppend(s, base, half(0), Seq("rid"))
        VersionedTable.commitAppend(s, base, half(1), Seq("rid"))
        def drain(): Unit = {
          val q = s.readStream.format("graft")
            .option("readChangeFeed", "true").option("cdcKey", "rid")
            .load(base).writeStream
            .trigger(Trigger.AvailableNow())
            .format("parquet")
            .option("path", s"$sink/out")
            .option("checkpointLocation", s"$sink/ckpt")
            .start()
          q.awaitTermination()
        }
        drain() // v1-v2 inserts, off the data files
        VersionedTable.commitDelete(s, base,
          (col("rid") / 10).cast("long").between(dlo, dhi),
          Seq(("rid", dlo * 10, dhi * 10 + 9)), statsCols = Seq("rid"))
        drain() // resumed: exactly the delete commit's diff, spooled
        t.unpersist()
        s.read.schema(org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("version",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("rid",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("qty_e2_old",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("qty_e2_new",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("change_type",
              org.apache.spark.sql.types.StringType))))
          .parquet(s"$sink/out")
          .groupBy(col("version"), col("change_type"))
          .agg(count(lit(1)).as("n_rows"),
            sum(coalesce(col("qty_e2_new"), col("qty_e2_old"))).as("qty_e2"))
          .orderBy(col("version"), col("change_type"))
      },
      Some("""
        WITH t AS (
          SELECT l_orderkey * 10 + l_linenumber AS rid,
                 (l_orderkey * 10 + l_linenumber) // 10 AS l_orderkey,
                 MAX(CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100
                   AS BIGINT)) AS qty_e2
          FROM lineitem GROUP BY 1, 2
        ), b AS (
          SELECT MIN(l_orderkey) AS olo,
                 MAX(l_orderkey) - MIN(l_orderkey) + 1 AS span
          FROM t
        ), pr AS (
          SELECT olo + (span * 5) // 16 AS dlo,
                 olo + (span * 7) // 16 - 1 AS dhi
          FROM b
        )
        SELECT CAST(1 AS BIGINT) AS version, 'insert' AS change_type,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(qty_e2) AS BIGINT) AS qty_e2
        FROM t WHERE l_orderkey % 2 = 0
        UNION ALL
        SELECT CAST(2 AS BIGINT), 'insert',
               CAST(COUNT(*) AS BIGINT), CAST(SUM(qty_e2) AS BIGINT)
        FROM t WHERE l_orderkey % 2 = 1
        UNION ALL
        SELECT CAST(3 AS BIGINT), 'delete',
               CAST(COUNT(*) AS BIGINT), CAST(SUM(qty_e2) AS BIGINT)
        FROM t, pr WHERE l_orderkey BETWEEN dlo AND dhi
        ORDER BY version, change_type
      """),
      // bench=false: fixture-write-dominated like q153/q157
      bench = false),

    // ---------------------------------------------------------------
    // q167: MANIFEST-ANSWERED AGGREGATES (r11) — `SELECT count(*),
    // min(c), max(c)` on a graft table never opens a data file: the
    // commit log carries exact per-file row counts (#rows=, written by
    // the same O(delta) commit-time scan as the zone maps) and exact
    // per-file min/max, so the whole-table fold is driver-plane
    // manifest arithmetic and the scan plans as a LocalScan (zero
    // tasks). At 100 TB this turns the most common audit queries there
    // are into metadata lookups. Fixture: orders in 4 orderkey-quarter
    // commits with long + date + string zone maps; ONE SQL statement
    // aggregates all three; from_manifest reports whether the planner
    // actually took the LocalScan path (GraftScanMetrics) — the oracle
    // expects TRUE, so silently falling back to a real scan hash-fails
    // alongside any wrong value (a stale row count after DML, a
    // mis-decoded epoch-day, a collation-divergent string bound).
    Q("q167_manifest_aggregates",
      (s, d) => {
        val base = graft.TempDirs.scoped("graft_q167")
        val t = Tables.orders(s, d)
          .select(col("o_orderkey"),
            to_date(col("o_orderdate")).as("o_date"),
            col("o_orderpriority")).persist()
        val b = t.agg(min(col("o_orderkey")), max(col("o_orderkey"))).head()
        val (klo, khi) = (b.getLong(0), b.getLong(1))
        val span = khi - klo + 1
        (0L until 4L).foreach { q =>
          VersionedTable.commitAppend(s, base,
            t.filter(expr(s"(o_orderkey - ${klo}L) * 4 div ${span}L") === q)
              .coalesce(1),
            statsCols = Seq("o_orderkey", "o_date", "o_orderpriority"))
        }
        t.unpersist()
        s.sql("DROP TABLE IF EXISTS graft_q167_t")
        s.sql(s"CREATE TABLE graft_q167_t USING graft OPTIONS (path '$base')")
        try {
          val before = graft.sources.GraftScanMetrics.aggPushdowns(base)
          val r = s.sql(
            """SELECT count(*) AS n_rows,
                      min(o_orderkey) AS k_lo, max(o_orderkey) AS k_hi,
                      min(o_date) AS d_lo, max(o_date) AS d_hi,
                      min(o_orderpriority) AS p_lo,
                      max(o_orderpriority) AS p_hi
               FROM graft_q167_t""").head()
          val fromManifest =
            graft.sources.GraftScanMetrics.aggPushdowns(base) > before
          import s.implicits._
          Seq((r.getLong(0), r.getLong(1), r.getLong(2),
            r.getDate(3), r.getDate(4), r.getString(5), r.getString(6),
            fromManifest))
            .toDF("n_rows", "k_lo", "k_hi", "d_lo", "d_hi", "p_lo", "p_hi",
              "from_manifest")
        } finally { s.sql("DROP TABLE IF EXISTS graft_q167_t"); () }
      },
      Some("""
        SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
               MIN(o_orderkey) AS k_lo, MAX(o_orderkey) AS k_hi,
               MIN(CAST(o_orderdate AS DATE)) AS d_lo,
               MAX(CAST(o_orderdate AS DATE)) AS d_hi,
               MIN(o_orderpriority) AS p_lo, MAX(o_orderpriority) AS p_hi,
               TRUE AS from_manifest
        FROM orders
      """),
      // bench=false: fixture-write-dominated like q153/q157
      bench = false),

    // ---------------------------------------------------------------
    // q168: SQL `UPDATE` on the graft format (r11) — the DML triad
    // closed: an injected analyzer rule (GraftDmlRewrite) turns
    // UPDATE over a graft relation into the commit protocol's
    // copy-on-write rewrite, with the WHERE clause translated BOTH to
    // the row predicate and (via the read path's filter translation)
    // to the zone-map footprint, so only implicated files rewrite.
    // Fixture: lineitem in 8 one-file orderkey-bin commits; UPDATE
    // adds +7 to qty_e2 over a two-sixteenths span straddling bins
    // 2-3. Output: post count/sum, the pre-update sum via versionAsOf
    // time travel ACROSS the update, and the commit's rewritten-file
    // count — the oracle recomputes all of it from raw lineitem +
    // per-bin min/max arithmetic, so a row updated twice, a missed
    // row, an over-rewritten bin, or broken time travel hash-fails.
    Q("q168_sql_update",
      (s, d) => {
        val base = graft.TempDirs.scoped("graft_q168")
        val t = Tables.lineitem(s, d)
          .select(col("l_orderkey"),
            graft.functions.ColumnOps.e2(col("l_quantity")).as("qty_e2"))
          .persist()
        val (binned, olo, span) = rangeBins(t, "l_orderkey", 8)
        val (dlo, dhi) = (olo + (span * 5) / 16, olo + (span * 7) / 16 - 1)
        appendBins(s, base, binned, Seq("l_orderkey", "qty_e2"),
          statsCols = Seq("l_orderkey"))
        t.unpersist()
        s.sql("DROP TABLE IF EXISTS graft_q168_t")
        s.sql(s"CREATE TABLE graft_q168_t USING graft OPTIONS (path '$base')")
        try {
          s.sql(s"UPDATE graft_q168_t SET qty_e2 = qty_e2 + 7 " +
            s"WHERE l_orderkey BETWEEN ${dlo}L AND ${dhi}L")
          val post = s.sql("SELECT count(*) AS n, sum(qty_e2) AS q " +
            "FROM graft_q168_t").head()
          val pre = s.read.format("graft").option("versionAsOf", "8")
            .load(base)
            .agg(sum(col("qty_e2")).as("q")).head()
          val (_, _, removed) = VersionedTable.commitDelta(base,
            VersionedTable.latestVersion(base).get)
          import s.implicits._
          Seq((post.getLong(0), post.getLong(1), pre.getLong(0),
            removed.size.toLong))
            .toDF("n_post", "qty_post", "qty_pre", "files_rewritten")
        } finally { s.sql("DROP TABLE IF EXISTS graft_q168_t"); () }
      },
      Some("""
        WITH t AS (
          SELECT l_orderkey,
                 CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT)
                   AS qty_e2
          FROM lineitem
        ), b AS (
          SELECT MIN(l_orderkey) AS olo, MAX(l_orderkey) AS ohi,
                 MAX(l_orderkey) - MIN(l_orderkey) + 1 AS span
          FROM t
        ), pr AS (
          SELECT olo + (span * 5) // 16 AS dlo,
                 olo + (span * 7) // 16 - 1 AS dhi
          FROM b
        ), x AS (
          SELECT t.*, (l_orderkey - olo) * 8 // span AS bin
          FROM t, b
        ), bins AS (
          SELECT bin, MIN(l_orderkey) AS mn, MAX(l_orderkey) AS mx
          FROM x GROUP BY 1
        )
        SELECT
          (SELECT CAST(COUNT(*) AS BIGINT) FROM t) AS n_post,
          (SELECT CAST(SUM(qty_e2) AS BIGINT) +
                  7 * (SELECT COUNT(*) FROM t, pr
                        WHERE l_orderkey BETWEEN dlo AND dhi)
            FROM t) AS qty_post,
          (SELECT CAST(SUM(qty_e2) AS BIGINT) FROM t) AS qty_pre,
          (SELECT CAST(COUNT(*) AS BIGINT) FROM bins, pr
            WHERE mx >= dlo AND mn <= dhi) AS files_rewritten
      """),
      // bench=false: fixture-write-dominated like q153/q157
      bench = false),

    // ---------------------------------------------------------------
    // q169: SQL `MERGE INTO` on the graft format (r11) — the full
    // upsert statement, footprint-scoped: candidate files from the
    // source's key extrema, TOUCHED files from one semi-join (only
    // files that actually hold a matching key rewrite — Delta's
    // findTouchedFiles), first-applicable-clause cascade, loud
    // cardinality check. Fixture: rid-keyed lineitem (deduped, the
    // q166 convention) in 8 one-file orderkey bins; ONE statement
    // carries all three clause kinds — a 1/16 orderkey span updates
    // (qty += rid%1000+1), a disjoint 1/16 span deletes (nq<0 routes
    // to the DELETE clause), a third span's keys SHIFTED out of range
    // inserts. Output: post count/sum, pre-merge sum via time travel,
    // and the commit's rewritten-file count — the oracle recomputes
    // everything from raw lineitem (files_rewritten = distinct bins
    // holding a matched key, exactly the semi-join's answer), so a
    // mis-cascaded clause, a double-applied update, an insert that
    // matched, or an over-rewritten bin hash-fails.
    Q("q169_sql_merge",
      (s, d) => {
        val base = graft.TempDirs.scoped("graft_q169")
        val t = Tables.lineitem(s, d)
          .select((col("l_orderkey") * 10 +
            col("l_linenumber").cast("long")).as("rid"),
            graft.functions.ColumnOps.e2(col("l_quantity")).as("qty_e2"))
          .groupBy(col("rid")).agg(max(col("qty_e2")).as("qty_e2"))
          .withColumn("ok", expr("rid div 10"))
          .persist()
        val (binned, olo, span) = rangeBins(t, "ok", 8)
        def lo(n: Long) = olo + (span * n) / 16
        val (ulo, uhi) = (lo(2), lo(3) - 1)   // update span
        val (xlo, xhi) = (lo(9), lo(10) - 1)  // delete span
        val (ilo, ihi) = (lo(12), lo(13) - 1) // insert-source span
        val shift = (olo + span) * 10         // out of every bin's range
        appendBins(s, base, binned, Seq("rid", "qty_e2"),
          statsCols = Seq("rid"))
        t.filter(col("ok").between(ulo, uhi))
          .select(col("rid"), (pmod(col("rid"), lit(1000)) + 1).as("nq"))
          .unionAll(t.filter(col("ok").between(xlo, xhi))
            .select(col("rid"), lit(-1L).as("nq")))
          .unionAll(t.filter(col("ok").between(ilo, ihi))
            .select((col("rid") + shift).as("rid"),
              (pmod(col("rid"), lit(97)) + 1).as("nq")))
          .createOrReplaceTempView("graft_q169_src")
        t.unpersist()
        s.sql("DROP TABLE IF EXISTS graft_q169_t")
        s.sql(s"CREATE TABLE graft_q169_t USING graft OPTIONS (path '$base')")
        try {
          s.sql(
            """MERGE INTO graft_q169_t t USING graft_q169_src s
               ON t.rid = s.rid
               WHEN MATCHED AND s.nq < 0 THEN DELETE
               WHEN MATCHED THEN UPDATE SET qty_e2 = t.qty_e2 + s.nq
               WHEN NOT MATCHED THEN INSERT (rid, qty_e2)
                 VALUES (s.rid, s.nq)""")
          val post = s.sql("SELECT count(*) AS n, sum(qty_e2) AS q " +
            "FROM graft_q169_t").head()
          val pre = s.read.format("graft").option("versionAsOf", "8")
            .load(base).agg(sum(col("qty_e2"))).head()
          val (_, _, removed) = VersionedTable.commitDelta(base,
            VersionedTable.latestVersion(base).get)
          import s.implicits._
          Seq((post.getLong(0), post.getLong(1), pre.getLong(0),
            removed.size.toLong))
            .toDF("n_post", "qty_post", "qty_pre", "files_rewritten")
        } finally { s.sql("DROP TABLE IF EXISTS graft_q169_t"); () }
      },
      Some("""
        WITH t AS (
          SELECT l_orderkey * 10 + l_linenumber AS rid,
                 MAX(CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100
                   AS BIGINT)) AS qty_e2,
                 (l_orderkey * 10 + l_linenumber) // 10 AS ok
          FROM lineitem GROUP BY 1, 3
        ), b AS (
          SELECT MIN(ok) AS olo, MAX(ok) - MIN(ok) + 1 AS span FROM t
        ), pr AS (
          SELECT olo + (span * 2) // 16 AS ulo,
                 olo + (span * 3) // 16 - 1 AS uhi,
                 olo + (span * 9) // 16 AS xlo,
                 olo + (span * 10) // 16 - 1 AS xhi,
                 olo + (span * 12) // 16 AS ilo,
                 olo + (span * 13) // 16 - 1 AS ihi
          FROM b
        ), x AS (
          SELECT t.*, (ok - olo) * 8 // span AS bin FROM t, b
        )
        SELECT
          (SELECT CAST(COUNT(*) AS BIGINT) FROM t)
            - (SELECT COUNT(*) FROM t, pr WHERE ok BETWEEN xlo AND xhi)
            + (SELECT COUNT(*) FROM t, pr WHERE ok BETWEEN ilo AND ihi)
            AS n_post,
          (SELECT CAST(SUM(qty_e2) AS BIGINT) FROM t)
            + (SELECT CAST(COALESCE(SUM(rid % 1000 + 1), 0) AS BIGINT)
                 FROM t, pr WHERE ok BETWEEN ulo AND uhi)
            - (SELECT CAST(COALESCE(SUM(qty_e2), 0) AS BIGINT)
                 FROM t, pr WHERE ok BETWEEN xlo AND xhi)
            + (SELECT CAST(COALESCE(SUM(rid % 97 + 1), 0) AS BIGINT)
                 FROM t, pr WHERE ok BETWEEN ilo AND ihi)
            AS qty_post,
          (SELECT CAST(SUM(qty_e2) AS BIGINT) FROM t) AS qty_pre,
          (SELECT CAST(COUNT(DISTINCT bin) AS BIGINT) FROM x, pr
            WHERE ok BETWEEN ulo AND uhi OR ok BETWEEN xlo AND xhi)
            AS files_rewritten
      """),
      // bench=false: fixture-write-dominated like q153/q157
      bench = false),

    // ---------------------------------------------------------------
    // q170: INCREMENTAL VIEW MAINTENANCE off the LIVE change feed
    // (r11) — the CDC loop closed: a per-bucket (count, sum) view
    // maintained by folding q166's streaming change feed through the
    // classic delta rule (insert → +1/+new, delete → −1/−old, update
    // → new−old), never rescanning the base table after bootstrap.
    // The view state is itself a graft table (one commitReplace per
    // micro-batch, retry-guarded by a last_batch column riding the
    // committed state). Fixture: rid-keyed lineitem in two append
    // halves, drained; then a zone-map-scoped DELETE and a SQL-shaped
    // commitUpdate (+3 on a disjoint span), drained on RESUME — so
    // the maintained view crosses a checkpoint boundary and both
    // change-commit kinds. Output: the view's final rows; the oracle
    // recomputes the view from raw lineitem — a missed update delta,
    // a double-applied batch, or a delete that leaked into the wrong
    // bucket hash-fails.
    Q("q170_stream_ivm",
      (s, d) => {
        val base = graft.TempDirs.scoped("graft_q170")
        val view = graft.TempDirs.scoped("graft_q170_view")
        val t = Tables.lineitem(s, d)
          .select((col("l_orderkey") * 10 +
            col("l_linenumber").cast("long")).as("rid"),
            graft.functions.ColumnOps.e2(col("l_quantity")).as("qty_e2"))
          .groupBy(col("rid")).agg(max(col("qty_e2")).as("qty_e2"))
          .withColumn("ok", expr("rid div 10"))
          .persist()
        val b = t.agg(min(col("ok")), max(col("ok"))).head()
        val (olo, ohi) = (b.getLong(0), b.getLong(1))
        val span = ohi - olo + 1
        def lo(n: Long) = olo + (span * n) / 16
        val (dlo, dhi) = (lo(5), lo(6) - 1)   // delete span (ok units)
        val (ulo, uhi) = (lo(10), lo(11) - 1) // update span
        def half(r: Int) = t.filter(pmod(col("ok"), lit(2)) === r)
          .select(col("rid"), col("qty_e2")).coalesce(4)
        VersionedTable.commitAppend(s, base, half(0), Seq("rid"))
        VersionedTable.commitAppend(s, base, half(1), Seq("rid"))
        def maintain(): Unit = graft.streaming.ChangeFeedIvm
          .runAvailableNow(s, base, view, "rid",
            k => pmod(k, lit(7L)), "qty_e2")
        maintain() // bootstrap: the two insert commits
        VersionedTable.commitDelete(s, base,
          col("rid").between(dlo * 10, dhi * 10 + 9),
          Seq(("rid", dlo * 10, dhi * 10 + 9)), statsCols = Seq("rid"))
        VersionedTable.commitUpdate(s, base,
          col("rid").between(ulo * 10, uhi * 10 + 9),
          Seq(("qty_e2", col("qty_e2") + 3L)),
          Seq(("rid", ulo * 10, uhi * 10 + 9)), statsCols = Seq("rid"))
        maintain() // resumed: exactly the delete + update deltas
        t.unpersist()
        VersionedTable.readVersion(s, view,
            VersionedTable.latestVersion(view).get)
          .select(col("bucket"), col("n_rows"), col("value_sum"))
          .orderBy(col("bucket"))
      },
      Some("""
        WITH t AS (
          SELECT l_orderkey * 10 + l_linenumber AS rid,
                 MAX(CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100
                   AS BIGINT)) AS qty_e2,
                 (l_orderkey * 10 + l_linenumber) // 10 AS ok
          FROM lineitem GROUP BY 1, 3
        ), b AS (
          SELECT MIN(ok) AS olo, MAX(ok) - MIN(ok) + 1 AS span FROM t
        ), pr AS (
          SELECT olo + (span * 5) // 16 AS dlo,
                 olo + (span * 6) // 16 - 1 AS dhi,
                 olo + (span * 10) // 16 AS ulo,
                 olo + (span * 11) // 16 - 1 AS uhi
          FROM b
        )
        SELECT rid % 7 AS bucket,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(qty_e2 + CASE WHEN ok BETWEEN ulo AND uhi
                 THEN 3 ELSE 0 END) AS BIGINT) AS value_sum
        FROM t, pr
        WHERE ok NOT BETWEEN dlo AND dhi
        GROUP BY 1 ORDER BY 1
      """),
      // bench=false: fixture-write-dominated like q153/q157
      bench = false),

    // ---------------------------------------------------------------
    // q171: BLOOM-FILTER FILE SKIPPING (r11) — the point-lookup
    // complement to min/max zone maps: keys hash-scattered across
    // files make every file's [min,max] span the whole domain (range
    // pruning keeps all 8 — the oracle PROVES that from per-bin
    // min/max arithmetic), while the per-file bloom (bits =
    // xxhash64(lit(j), key) % m at commit time, probed driver-side
    // through Spark's own public XXH64 — no hash reimplementation to
    // drift) keeps exactly the one file holding the key. Fixture: a
    // 1000-rid mod-prime sample (corpus-size-independent, the q161
    // convention — per-file key counts stay bloom-sized at ANY SF)
    // committed in 8 rid%8 slices with bloomCols=rid; the probe key
    // is the sample's median rid, read through plain DSv2 equality.
    // bloom_kept=1 is a hash-checked column: a false positive, a
    // probe that stopped consulting the bloom, or a lost row fails.
    Q("q171_bloom_skipping",
      (s, d) => {
        val base = graft.TempDirs.scoped("graft_q171")
        val sample = Tables.lineitem(s, d)
          .select((col("l_orderkey") * 10 +
            col("l_linenumber").cast("long")).as("rid"),
            graft.functions.ColumnOps.e2(col("l_quantity")).as("qty_e2"))
          .groupBy(col("rid")).agg(max(col("qty_e2")).as("qty_e2"))
          .orderBy(pmod(col("rid") * 7919L, lit(1000003L)), col("rid"))
          .limit(1000)
          .persist()
        (0L until 8L).foreach { b =>
          VersionedTable.commitAppend(s, base,
            sample.filter(pmod(col("rid"), lit(8L)) === b).coalesce(1),
            statsCols = Seq("rid"), bloomCols = Seq("rid"))
        }
        val probe = sample.orderBy(col("rid"))
          .limit(501).orderBy(col("rid").desc).limit(1)
          .head().getLong(0)
        sample.unpersist()
        // the range-only counterfactual, from the SAME manifest the
        // bloom prunes (oracle recomputes it from per-bin arithmetic)
        val es = VersionedTable.entries(base,
          VersionedTable.latestVersion(base).get)
        val rangeKept = VersionedTable.prune(es,
          Seq(("rid", probe, probe))).size.toLong
        val r = s.read.format("graft").load(base)
          .filter(col("rid") === probe).head()
        val (bloomKept, total) =
          graft.sources.GraftScanMetrics.lastPrune(base).get
        import s.implicits._
        Seq((total.toLong, rangeKept, bloomKept.toLong, 1L,
          r.getLong(1)))
          .toDF("files_total", "range_kept", "bloom_kept", "n_rows",
            "qty_e2")
      },
      Some("""
        WITH t AS (
          SELECT l_orderkey * 10 + l_linenumber AS rid,
                 MAX(CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100
                   AS BIGINT)) AS qty_e2
          FROM lineitem GROUP BY 1
        ), smp AS (
          SELECT rid, qty_e2 FROM t
          ORDER BY (rid * 7919) % 1000003, rid LIMIT 1000
        ), p AS (
          SELECT rid AS probe FROM smp ORDER BY rid LIMIT 1 OFFSET 500
        ), bins AS (
          SELECT rid % 8 AS b, MIN(rid) AS mn, MAX(rid) AS mx
          FROM smp GROUP BY 1
        )
        SELECT
          (SELECT CAST(COUNT(*) AS BIGINT) FROM bins) AS files_total,
          (SELECT CAST(COUNT(*) AS BIGINT) FROM bins, p
            WHERE probe BETWEEN mn AND mx) AS range_kept,
          CAST(1 AS BIGINT) AS bloom_kept,
          CAST(1 AS BIGINT) AS n_rows,
          (SELECT qty_e2 FROM smp, p WHERE rid = probe) AS qty_e2
      """),
      // bench=false: fixture-write-dominated like q153/q157
      bench = false),

    // ---------------------------------------------------------------
    // q172: the graft CATALOG (r11) — name-addressed tables +
    // VERSION AS OF in plain SQL: `spark.sql.catalog.graft` maps
    // `graft.<ns>.<table>` onto the warehouse layout (the path IS the
    // identity — no second metadata store to drift), CREATE TABLE
    // publishes an empty v1 with the declared schema header, and time
    // travel resolves through Spark's own `loadTable(ident, version)`
    // analysis. Lifecycle under the oracle gate: CREATE (v1, empty) →
    // two INSERT INTO ... SELECT halves (v2, v3) → a DELETE span (v4);
    // the output reads the CREATED-empty version, the pre-delete
    // version, and the latest — every row by NAME through SQL, no
    // paths anywhere. The oracle recomputes all three states from raw
    // lineitem, so a time-travel read that resolves the wrong version
    // or a catalog that loses a commit hash-fails.
    Q("q172_sql_catalog",
      (s, d) => {
        val ns = s"q172_${java.util.UUID.randomUUID().toString.take(8)}"
        val t = s"graft.$ns.lineitem"
        val src = Tables.lineitem(s, d)
          .select((col("l_orderkey") * 10 +
            col("l_linenumber").cast("long")).as("rid"),
            graft.functions.ColumnOps.e2(col("l_quantity")).as("qty_e2"))
          .groupBy(col("rid")).agg(max(col("qty_e2")).as("qty_e2"))
          .withColumn("ok", expr("rid div 10"))
          .persist()
        try {
          val b = src.agg(min(col("ok")), max(col("ok"))).head()
          val (olo, ohi) = (b.getLong(0), b.getLong(1))
          val span = ohi - olo + 1
          val (dlo, dhi) = (olo + (span * 5) / 16, olo + (span * 7) / 16 - 1)
          src.createOrReplaceTempView("graft_q172_src")
          s.sql(s"CREATE TABLE $t (rid BIGINT, qty_e2 BIGINT)")
          s.sql(s"INSERT INTO $t SELECT rid, qty_e2 " +
            s"FROM graft_q172_src WHERE ok % 2 = 0")
          s.sql(s"INSERT INTO $t SELECT rid, qty_e2 " +
            s"FROM graft_q172_src WHERE ok % 2 = 1")
          s.sql(s"DELETE FROM $t WHERE rid BETWEEN ${dlo * 10} " +
            s"AND ${dhi * 10 + 9}")
          // materialized INSIDE the try: the finally drops the table,
          // and the driver writes the returned frame lazily after
          val r = s.sql(
            s"""SELECT
                  (SELECT count(*) FROM $t VERSION AS OF 1) AS n_created,
                  (SELECT count(*) FROM $t VERSION AS OF 3) AS n_pre,
                  (SELECT sum(qty_e2) FROM $t VERSION AS OF 3) AS qty_pre,
                  (SELECT count(*) FROM $t) AS n_post,
                  (SELECT sum(qty_e2) FROM $t) AS qty_post""").head()
          import s.implicits._
          Seq((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
            r.getLong(4)))
            .toDF("n_created", "n_pre", "qty_pre", "n_post", "qty_post")
        } finally {
          s.sql(s"DROP TABLE IF EXISTS $t")
          src.unpersist(); ()
        }
      },
      Some("""
        WITH t AS (
          SELECT l_orderkey * 10 + l_linenumber AS rid,
                 MAX(CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100
                   AS BIGINT)) AS qty_e2,
                 (l_orderkey * 10 + l_linenumber) // 10 AS ok
          FROM lineitem GROUP BY 1, 3
        ), b AS (
          SELECT MIN(ok) AS olo, MAX(ok) - MIN(ok) + 1 AS span FROM t
        ), pr AS (
          SELECT (olo + (span * 5) // 16) * 10 AS dlo,
                 (olo + (span * 7) // 16 - 1) * 10 + 9 AS dhi
          FROM b
        )
        SELECT CAST(0 AS BIGINT) AS n_created,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM t) AS n_pre,
               (SELECT CAST(SUM(qty_e2) AS BIGINT) FROM t) AS qty_pre,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM t, pr
                 WHERE rid NOT BETWEEN dlo AND dhi) AS n_post,
               (SELECT CAST(SUM(qty_e2) AS BIGINT) FROM t, pr
                 WHERE rid NOT BETWEEN dlo AND dhi) AS qty_post
      """),
      // bench=false: fixture-write-dominated like q153/q157
      bench = false),

    // ---------------------------------------------------------------
    // q173: the commit-log AUDIT surface as SQL table functions (r11)
    // — graft_history(t) (DESCRIBE HISTORY) and graft_changes(t, from,
    // to, key) (batch CDC, the table_changes idiom) joined in ONE
    // statement: per committed version, its op and its change-feed
    // row/quantity deltas. graft_changes splices changesPerCommit's
    // lazy O(changed files) plan into the query, so the feed is
    // joinable/aggregatable like any relation. Fixture: two append
    // halves + a zone-map-scoped DELETE; the oracle reconstructs all
    // three versions' deltas from raw lineitem (insert deltas = each
    // half's sum, the delete's delta = minus the span's), so a feed
    // that mis-attributes a version, drops a change, or signs a delta
    // wrong hash-fails.
    Q("q173_sql_tvfs",
      (s, d) => {
        val base = graft.TempDirs.scoped("graft_q173")
        val t = Tables.lineitem(s, d)
          .select((col("l_orderkey") * 10 +
            col("l_linenumber").cast("long")).as("rid"),
            graft.functions.ColumnOps.e2(col("l_quantity")).as("qty_e2"))
          .groupBy(col("rid")).agg(max(col("qty_e2")).as("qty_e2"))
          .withColumn("ok", expr("rid div 10"))
          .persist()
        val b = t.agg(min(col("ok")), max(col("ok"))).head()
        val (olo, ohi) = (b.getLong(0), b.getLong(1))
        val span = ohi - olo + 1
        val (dlo, dhi) = (olo + (span * 5) / 16, olo + (span * 7) / 16 - 1)
        def half(r: Int) = t.filter(pmod(col("ok"), lit(2)) === r)
          .select(col("rid"), col("qty_e2")).coalesce(4)
        VersionedTable.commitAppend(s, base, half(0), Seq("rid"))
        VersionedTable.commitAppend(s, base, half(1), Seq("rid"))
        VersionedTable.commitDelete(s, base,
          col("rid").between(dlo * 10, dhi * 10 + 9),
          Seq(("rid", dlo * 10, dhi * 10 + 9)), statsCols = Seq("rid"))
        t.unpersist()
        s.sql(
          s"""SELECT h.version, h.op,
                     coalesce(c.n_changes, CAST(0 AS BIGINT)) AS n_changes,
                     coalesce(c.qty_delta, CAST(0 AS BIGINT)) AS qty_delta
              FROM graft_history('$base') h
              LEFT JOIN (
                SELECT version, CAST(count(*) AS BIGINT) AS n_changes,
                       CAST(sum(coalesce(qty_e2_new, CAST(0 AS BIGINT)) -
                         coalesce(qty_e2_old, CAST(0 AS BIGINT)))
                         AS BIGINT) AS qty_delta
                FROM graft_changes('$base', 0, 3, 'rid')
                GROUP BY version) c
              USING (version)
              ORDER BY h.version""")
      },
      Some("""
        WITH t AS (
          SELECT l_orderkey * 10 + l_linenumber AS rid,
                 MAX(CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100
                   AS BIGINT)) AS qty_e2,
                 (l_orderkey * 10 + l_linenumber) // 10 AS ok
          FROM lineitem GROUP BY 1, 3
        ), b AS (
          SELECT MIN(ok) AS olo, MAX(ok) - MIN(ok) + 1 AS span FROM t
        ), pr AS (
          SELECT olo + (span * 5) // 16 AS dlo,
                 olo + (span * 7) // 16 - 1 AS dhi
          FROM b
        )
        SELECT CAST(1 AS BIGINT) AS version, 'append' AS op,
               CAST(COUNT(*) AS BIGINT) AS n_changes,
               CAST(SUM(qty_e2) AS BIGINT) AS qty_delta
        FROM t WHERE ok % 2 = 0
        UNION ALL
        SELECT CAST(2 AS BIGINT), 'append',
               CAST(COUNT(*) AS BIGINT), CAST(SUM(qty_e2) AS BIGINT)
        FROM t WHERE ok % 2 = 1
        UNION ALL
        SELECT CAST(3 AS BIGINT), 'delete',
               CAST(COUNT(*) AS BIGINT), CAST(-SUM(qty_e2) AS BIGINT)
        FROM t, pr WHERE ok BETWEEN dlo AND dhi
        ORDER BY version
      """),
      // bench=false: fixture-write-dominated like q153/q157
      bench = false),

    // ---------------------------------------------------------------
    // q174: RESTORE TO VERSION from SQL (r11) — the undo button as a
    // stored procedure (`CALL graft.system.restore`, the Iceberg
    // rollback_to_snapshot idiom on Spark 4's native ProcedureCatalog
    // API): a zone-map-scoped SQL DELETE (the bad deploy) is rolled
    // back by ONE O(changed files) metadata commit that re-adds the
    // deleted span's original files and drops the delete's rewrites —
    // nothing is recopied, and the mistake stays time-travelable.
    // Fixture: lineitem in 8 one-file orderkey-bin commits; DELETE a
    // two-sixteenths span (v9) through the catalog; CALL restore to
    // v8 (v10). Output: post-delete and post-restore counts/sums plus
    // the restore commit's re-added/dropped file counts and the new
    // version. The oracle recomputes everything from raw lineitem +
    // per-bin arithmetic — a restore that loses a row, forgets a
    // file, rewrites data it could carry as metadata, or publishes
    // the wrong version number hash-fails.
    Q("q174_sql_restore",
      (s, d) => {
        val ns = s"q174_${java.util.UUID.randomUUID().toString.take(8)}"
        val wh = s.conf.get("spark.sql.catalog.graft.warehouse")
        val base = s"$wh/$ns/t"
        val t = Tables.lineitem(s, d)
          .select(col("l_orderkey"),
            graft.functions.ColumnOps.e2(col("l_quantity")).as("qty_e2"))
          .persist()
        val (binned, olo, span) = rangeBins(t, "l_orderkey", 8)
        val (dlo, dhi) = (olo + (span * 5) / 16, olo + (span * 7) / 16 - 1)
        appendBins(s, base, binned, Seq("l_orderkey", "qty_e2"),
          statsCols = Seq("l_orderkey"))
        try {
          s.sql(s"DELETE FROM graft.$ns.t WHERE l_orderkey " +
            s"BETWEEN ${dlo}L AND ${dhi}L")
          val del = s.sql("SELECT count(*) AS n, sum(qty_e2) AS q " +
            s"FROM graft.$ns.t").head()
          val r = s.sql(s"CALL graft.system.restore('$ns.t', 8)").head()
          val post = s.sql("SELECT count(*) AS n, sum(qty_e2) AS q " +
            s"FROM graft.$ns.t").head()
          val (op, adds, removes) =
            VersionedTable.commitDelta(base, r.getLong(1))
          require(op == "restore", s"expected a restore commit, got $op")
          import s.implicits._
          Seq((del.getLong(0), del.getLong(1), post.getLong(0),
            post.getLong(1), adds.size.toLong, removes.size.toLong,
            r.getLong(1)))
            .toDF("n_del", "qty_del", "n_post", "qty_post",
              "files_readded", "files_dropped", "new_version")
        } finally {
          s.sql(s"DROP TABLE IF EXISTS graft.$ns.t")
          t.unpersist(); ()
        }
      },
      Some("""
        WITH t AS (
          SELECT l_orderkey,
                 CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT)
                   AS qty_e2
          FROM lineitem
        ), b AS (
          SELECT MIN(l_orderkey) AS olo, MAX(l_orderkey) AS ohi,
                 MAX(l_orderkey) - MIN(l_orderkey) + 1 AS span
          FROM t
        ), pr AS (
          SELECT olo + (span * 5) // 16 AS dlo,
                 olo + (span * 7) // 16 - 1 AS dhi
          FROM b
        ), x AS (
          SELECT t.*, (l_orderkey - olo) * 8 // span AS bin
          FROM t, b
        ), touched AS (
          SELECT bin,
                 COUNT(CASE WHEN l_orderkey NOT BETWEEN dlo AND dhi
                       THEN 1 END) AS survivors
          FROM x, pr
          GROUP BY bin, dlo, dhi
          HAVING MAX(l_orderkey) >= dlo AND MIN(l_orderkey) <= dhi
        )
        SELECT
          (SELECT CAST(COUNT(*) AS BIGINT) FROM t, pr
            WHERE l_orderkey NOT BETWEEN dlo AND dhi) AS n_del,
          (SELECT CAST(SUM(qty_e2) AS BIGINT) FROM t, pr
            WHERE l_orderkey NOT BETWEEN dlo AND dhi) AS qty_del,
          (SELECT CAST(COUNT(*) AS BIGINT) FROM t) AS n_post,
          (SELECT CAST(SUM(qty_e2) AS BIGINT) FROM t) AS qty_post,
          (SELECT CAST(COUNT(*) AS BIGINT) FROM touched) AS files_readded,
          (SELECT CAST(COUNT(*) AS BIGINT) FROM touched
            WHERE survivors > 0) AS files_dropped,
          CAST(10 AS BIGINT) AS new_version
      """),
      // bench=false: fixture-write-dominated like q153/q157
      bench = false),

    // ---------------------------------------------------------------
    // q175: DELETION-VECTOR lifecycle (r11) — merge-on-read DELETE
    // under the oracle gate. Fixture: lineitem in 16 one-file
    // orderkey-bin commits; two STACKED point deletes on scattered
    // keys (l_partkey % 19 = 0, then % 23 = 0) via commitDeleteMoR —
    // each writes position sidecars and swaps manifest tokens, ZERO
    // parquet rewritten; then compact(4) folds the vectors away.
    // Output hash-checks the invariants: files_total (unchanged by
    // both deletes — MoR never rewrites data), files_dvd1/dv1 (files
    // carrying a vector and total positions after delete 1),
    // files_dvd2/dv2 (after the stack: merged distinct positions —
    // rows matching BOTH predicates count once, because the second
    // delete reads DV-applied and dead rows can't re-match), live
    // n/sum read through the anti-join read path, and the
    // post-compaction state (4 clean files, zero vectors, same rows).
    // The oracle recomputes every number from raw lineitem + the bin
    // arithmetic, so a vector that drops a live row, resurrects a dead
    // one, double-counts a stacked position, or survives compaction
    // hash-fails. Scale: each delete costs one scan of the implicated
    // files + bytes ∝ deleted rows — the GDPR point-delete shape at
    // 100 TB, where copy-on-write pays full file rewrites.
    Q("q175_dv_lifecycle",
      (s, d) => {
        val base = graft.TempDirs.scoped("graft_q175")
        val t = Tables.lineitem(s, d)
          .select(col("l_orderkey"), col("l_partkey"),
            graft.functions.ColumnOps.e2(col("l_quantity")).as("qty_e2"))
          .persist()
        appendBins(s, base, rangeBins(t, "l_orderkey", 16)._1,
          Seq("l_orderkey", "l_partkey", "qty_e2"),
          statsCols = Seq("l_orderkey"))
        def dvState(v: Long): (Long, Long, Long) = {
          val es = VersionedTable.entries(base, v)
          (es.size.toLong,
            es.count(_.dv.exists(_.count > 0L)).toLong,
            es.flatMap(_.dv).map(_.count).sum)
        }
        val v1 = VersionedTable.commitDeleteMoR(s, base,
          col("l_partkey") % 19 === 0)
        val (ft1, fdvd1, dv1) = dvState(v1)
        val v2 = VersionedTable.commitDeleteMoR(s, base,
          col("l_partkey") % 23 === 0)
        val (ft2, fdvd2, dv2) = dvState(v2)
        require(ft1 == ft2, "MoR deletes must not change the file count")
        val live = VersionedTable.readLatest(s, base)
          .agg(count(lit(1)).as("n_live"), sum(col("qty_e2")).as("qty_live"))
          .head()
        val cv = VersionedTable.compact(s, base, numFiles = 4,
          statsCols = Seq("l_orderkey"))
        val (fc, fdvdC, dvC) = dvState(cv)
        require(fdvdC == 0L && dvC == 0L,
          "compaction must fold deletion vectors away")
        val out = VersionedTable.readLatest(s, base)
          .agg(count(lit(1)).as("n_final"), sum(col("qty_e2")).as("qty_final"))
          .select(lit(ft1).as("files_total"),
            lit(fdvd1).as("files_dvd1"), lit(dv1).as("dv1"),
            lit(fdvd2).as("files_dvd2"), lit(dv2).as("dv2"),
            lit(live.getLong(0)).as("n_live"),
            lit(live.getLong(1)).as("qty_live"),
            lit(fc).as("files_clean"),
            col("n_final"), col("qty_final"))
        t.unpersist()
        out
      },
      Some("""
        WITH t AS (
          SELECT l_orderkey, l_partkey,
                 CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT)
                   AS qty_e2
          FROM lineitem
        ), b AS (
          SELECT MIN(l_orderkey) AS olo, MAX(l_orderkey) AS ohi FROM t
        ), x AS (
          SELECT t.*, (l_orderkey - olo) * 16 // (ohi - olo + 1) AS bin
          FROM t, b
        )
        SELECT
          (SELECT CAST(COUNT(DISTINCT bin) AS BIGINT) FROM x)
            AS files_total,
          (SELECT CAST(COUNT(DISTINCT bin) AS BIGINT) FROM x
            WHERE l_partkey % 19 = 0) AS files_dvd1,
          (SELECT CAST(COUNT(*) AS BIGINT) FROM x
            WHERE l_partkey % 19 = 0) AS dv1,
          (SELECT CAST(COUNT(DISTINCT bin) AS BIGINT) FROM x
            WHERE l_partkey % 19 = 0 OR l_partkey % 23 = 0) AS files_dvd2,
          (SELECT CAST(COUNT(*) AS BIGINT) FROM x
            WHERE l_partkey % 19 = 0 OR l_partkey % 23 = 0) AS dv2,
          (SELECT CAST(COUNT(*) AS BIGINT) FROM x
            WHERE l_partkey % 19 <> 0 AND l_partkey % 23 <> 0) AS n_live,
          (SELECT CAST(SUM(qty_e2) AS BIGINT) FROM x
            WHERE l_partkey % 19 <> 0 AND l_partkey % 23 <> 0) AS qty_live,
          CAST(4 AS BIGINT) AS files_clean,
          (SELECT CAST(COUNT(*) AS BIGINT) FROM x
            WHERE l_partkey % 19 <> 0 AND l_partkey % 23 <> 0) AS n_final,
          (SELECT CAST(SUM(qty_e2) AS BIGINT) FROM x
            WHERE l_partkey % 19 <> 0 AND l_partkey % 23 <> 0) AS qty_final
      """),
      // bench=false: fixture-write-dominated like q153/q157
      bench = false),

    // ---------------------------------------------------------------
    // q176: the DV READ PATH through the DSv2/SQL surface (r11) —
    // proves an ordinary engine query over a vector-carrying snapshot
    // is exact WITHOUT any caller knowing vectors exist. Fixture: the
    // q175 table shape (8 orderkey-bin commits into the catalog
    // warehouse), one MoR point delete (l_partkey % 19 = 0). Then two
    // plain SQL reads: (1) `SELECT count(*)` — must STAY
    // manifest-answered (LocalTableScan, zero file opens; the rewrite
    // rule exempts bare global counts because the manifest's live
    // count is physical − vector, exact); (2) a grouped aggregate
    // over a pushed-down l_orderkey range — goes through
    // GraftDvReadRewrite's union(clean parquet scan, broadcast
    // anti-join dv leg), asserted structurally (plan contains Union).
    // The oracle recomputes both from raw lineitem minus the deleted
    // predicate: a dv leg that leaks a deleted row, drops a live one,
    // or a count exemption that forgets to subtract vectors
    // hash-fails. Scale: the clean leg keeps zone-map skipping +
    // parquet pushdown untouched; the dv leg costs ∝ the one dv'd
    // minority of files — re-absorbed at the next compaction.
    Q("q176_dsv2_dv_read",
      (s, d) => {
        val ns = s"q176_${java.util.UUID.randomUUID().toString.take(8)}"
        val wh = s.conf.get("spark.sql.catalog.graft.warehouse")
        val base = s"$wh/$ns/t"
        val t = Tables.lineitem(s, d)
          .select(col("l_orderkey"), col("l_partkey"),
            graft.functions.ColumnOps.e2(col("l_quantity")).as("qty_e2"))
          .persist()
        val (binned, olo, span) = rangeBins(t, "l_orderkey", 8)
        appendBins(s, base, binned, Seq("l_orderkey", "l_partkey", "qty_e2"),
          statsCols = Seq("l_orderkey"))
        try {
          VersionedTable.commitDeleteMoR(s, base,
            col("l_partkey") % 19 === 0)
          // (1) bare global count: manifest-answered, dv-subtracted
          val cnt = s.sql(s"SELECT count(*) AS n FROM graft.$ns.t")
          require(cnt.queryExecution.executedPlan.toString()
            .contains("LocalTableScan"),
            "count(*) over a dv'd snapshot must stay manifest-answered")
          val totalLive = cnt.head().getLong(0)
          // (2) pushed-down range + grouped agg: the union read path
          val (flo, fhi) = (olo + span / 8, olo + (span * 5) / 8 - 1)
          val grouped = s.sql(
            s"""SELECT l_orderkey % 4 AS g, count(*) AS n,
               |       sum(qty_e2) AS qty_e2
               |FROM graft.$ns.t
               |WHERE l_orderkey BETWEEN ${flo}L AND ${fhi}L
               |GROUP BY l_orderkey % 4 ORDER BY g""".stripMargin)
          require(grouped.queryExecution.optimizedPlan.toString()
            .contains("Union"),
            "a non-count read over a dv'd snapshot must take the " +
              "clean-scan ∪ dv-leg plan")
          // materialize BEFORE the finally drops the table — the
          // returned frame must not lazily re-read a dropped path
          import s.implicits._
          grouped.collect().toSeq
            .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), totalLive))
            .toDF("g", "n", "qty_e2", "total_live")
        } finally {
          s.sql(s"DROP TABLE IF EXISTS graft.$ns.t")
          t.unpersist(); ()
        }
      },
      Some("""
        WITH t AS (
          SELECT l_orderkey, l_partkey,
                 CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT)
                   AS qty_e2
          FROM lineitem
        ), b AS (
          SELECT MIN(l_orderkey) AS olo,
                 MAX(l_orderkey) - MIN(l_orderkey) + 1 AS span
          FROM t
        ), live AS (
          SELECT * FROM t WHERE l_partkey % 19 <> 0
        ), pr AS (
          SELECT olo + span // 8 AS flo,
                 olo + (span * 5) // 8 - 1 AS fhi
          FROM b
        )
        SELECT l_orderkey % 4 AS g, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(qty_e2) AS BIGINT) AS qty_e2,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM live) AS total_live
        FROM live, pr
        WHERE l_orderkey BETWEEN flo AND fhi
        GROUP BY l_orderkey % 4
        ORDER BY g
      """),
      // bench=false: fixture-write-dominated like q153/q157
      bench = false),

    // ---------------------------------------------------------------
    // q177: DYNAMIC FILE PRUNING (r11) — the runtime half of the
    // skipping story. q157 prunes on LITERAL predicates at plan time;
    // here the selective predicate lives on a DIMENSION attribute
    // (`okey_grp`, the date-dim shape: the fact is clustered by the
    // dim key and the dim carries an attribute correlated with it),
    // so the fact-side key values only exist once the join's build
    // side has run. GraftRuntimeScan declares the zone-mapped columns
    // as runtime-filterable; Spark's PartitionPruning rule plants a
    // DynamicPruningExpression on the graft scan (reusing the
    // broadcast exchange), and at execution the surviving o_orderkey
    // values prune the 16 fact files through the same span-relaxation
    // arithmetic the oracle recomputes exactly: files kept = bins
    // whose [min,max] overlaps [min,max] of the surviving keys. The
    // join aggregate rides the pruned read, so a runtime filter that
    // drops a live file hash-fails on n_rows/qty_e2, and one that
    // keeps the wrong set hash-fails on files_kept. Scale: this is
    // the Delta/Iceberg dynamic-file-pruning shape — `fact ⋈ dim
    // WHERE dim.selective` on a 100 TB clustered fact reads only the
    // overlapping files, decided driver-plane once per query.
    Q("q177_runtime_pruning",
      (s, d) => {
        val li = Tables.lineitem(s, d)
          .select(col("l_orderkey"),
            graft.functions.ColumnOps.e2(col("l_quantity")).as("qty_e2"))
          .persist()
        val base = graft.TempDirs.scoped("graft_q177_fact")
        appendBins(s, base, rangeBins(li, "l_orderkey", 16)._1,
          Seq("l_orderkey", "qty_e2"), statsCols = Seq("l_orderkey"))
        // the dimension: parquet-backed so its Filter survives the
        // optimizer (a filtered LocalRelation constant-folds away)
        val ord = Tables.orders(s, d)
        val ob = ord.agg(min(col("o_orderkey")), max(col("o_orderkey"))).head()
        val (olo, ohi) = (ob.getLong(0), ob.getLong(1))
        val dimP = graft.TempDirs.scoped("graft_q177_dim")
        ord.select(col("o_orderkey"),
            expr(s"(o_orderkey - ${olo}L) * 64 div ${ohi - olo + 1}L")
              .as("okey_grp"))
          .write.mode("overwrite").parquet(dimP)
        val dim = s.read.parquet(dimP).filter(col("okey_grp") === 20L)
        val fact = s.read.format("graft").load(base)
        val agg = fact.join(dim, fact("l_orderkey") === dim("o_orderkey"))
          .agg(count(lit(1)).as("n_rows"), sum(col("qty_e2")).as("qty_e2"))
          .head()
        val (kept, total) = graft.sources.GraftScanMetrics
          .lastRuntimePrune(base).getOrElse(throw new IllegalStateException(
            s"no runtime prune recorded over $base — dynamic file " +
              "pruning did not fire"))
        li.unpersist()
        import s.implicits._
        Seq((total.toLong, kept.toLong, agg.getLong(0), agg.getLong(1)))
          .toDF("files_total", "files_kept", "n_rows", "qty_e2")
      },
      Some("""
        WITH li AS (
          SELECT l_orderkey,
                 CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT)
                   AS qty_e2
          FROM lineitem
        ), kb AS (
          SELECT MIN(l_orderkey) AS klo, MAX(l_orderkey) AS khi FROM li
        ), bins AS (
          SELECT (l_orderkey - klo) * 16 // (khi - klo + 1) AS bin,
                 MIN(l_orderkey) AS mn, MAX(l_orderkey) AS mx
          FROM li, kb GROUP BY 1
        ), ob AS (
          SELECT MIN(o_orderkey) AS olo, MAX(o_orderkey) AS ohi FROM orders
        ), sel AS (
          SELECT o_orderkey FROM orders, ob
          WHERE (o_orderkey - olo) * 64 // (ohi - olo + 1) = 20
        ), sp AS (
          SELECT MIN(o_orderkey) AS smin, MAX(o_orderkey) AS smax FROM sel
        ), kept AS (
          SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM bins) AS files_total,
                 CAST(COUNT(*) AS BIGINT) AS files_kept
          FROM bins, sp WHERE mx >= smin AND mn <= smax
        ), j AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
                 CAST(SUM(qty_e2) AS BIGINT) AS qty_e2
          FROM li JOIN sel ON l_orderkey = o_orderkey
        )
        SELECT files_total, files_kept, n_rows, qty_e2 FROM kept, j
      """),
      // bench=false: fixture-write-dominated like q153/q157
      bench = false),

    // ---------------------------------------------------------------
    // q178: the format as a STREAMING SINK (r11) — q164's dual, and
    // together with it the full format-to-format streaming ETL loop:
    // readStream.format("graft") (commit-log tail, one micro-batch
    // per source commit via maxCommitsPerTrigger=1) ⇒ writeStream
    // .format("graft") (GraftSink — each micro-batch lands as ONE
    // txn-stamped commit). Exactly-once is checked as ARITHMETIC,
    // not argued: (a) the final sink contents must equal raw lineitem
    // exactly once — a replay that double-appends hash-fails the
    // per-linenumber rollup; (b) after the drains, batchId 0 is
    // re-delivered straight to a GraftSink with the SAME writer
    // identity (the simulated crash replay) and must be a no-op —
    // the rollup is computed AFTER the replay, so a dedup miss
    // hash-fails; (c) sink_commits counts the sink's history — one
    // commit per source commit (3), so coarser/finer batching also
    // fails. Scale: a year of micro-batches is a year of O(delta)
    // commits and one marker each; the txn stamp rides the marker
    // write, so exactly-once costs zero extra I/O.
    Q("q178_stream_sink",
      (s, d) => {
        import org.apache.spark.sql.streaming.{OutputMode, Trigger}
        val src = graft.TempDirs.scoped("graft_q178_src")
        val dst = graft.TempDirs.scoped("graft_q178_dst")
        val cp = graft.TempDirs.scoped("graft_q178_cp")
        val t = Tables.lineitem(s, d)
          .select(col("l_orderkey"),
            col("l_linenumber").cast("long").as("l_linenumber"),
            graft.functions.ColumnOps.e2(col("l_quantity")).as("qty_e2"))
        def slice(lo: Int, hi: Int) =
          t.filter(col("l_linenumber").between(lo, hi)).coalesce(4)
        VersionedTable.commitAppend(s, src, slice(1, 2),
          statsCols = Seq("l_linenumber"))
        VersionedTable.commitAppend(s, src, slice(3, 4),
          statsCols = Seq("l_linenumber"))
        def drain(): Unit = s.readStream.format("graft")
          .option("startingVersion", "1")
          .option("maxCommitsPerTrigger", "1")
          .load(src)
          .writeStream.format("graft")
          .option("path", dst)
          .option("checkpointLocation", cp)
          .option("statsCols", "l_linenumber")
          .outputMode(OutputMode.Append())
          .trigger(Trigger.AvailableNow())
          .start().awaitTermination()
        drain() // commits 1-2, one micro-batch each
        VersionedTable.commitAppend(s, src, slice(5, 7),
          statsCols = Seq("l_linenumber")) // lands AFTER the checkpoint
        drain() // resumed drain ships exactly commit 3
        // simulated crash replay: batch 0 re-delivered to the same
        // writer identity — must be a driver-plane no-op
        new graft.sources.GraftSink(s, dst, cp, OutputMode.Append(),
          Seq("l_linenumber"), Nil).addBatch(0L, slice(1, 2))
        val nCommits = VersionedTable.history(dst).size.toLong
        s.read.format("graft").load(dst)
          .groupBy(col("l_linenumber"))
          .agg(count(lit(1)).as("n_rows"), sum(col("qty_e2")).as("qty_e2"))
          .withColumn("sink_commits", lit(nCommits))
          .orderBy(col("l_linenumber"))
          .select(col("l_linenumber"), col("n_rows"), col("qty_e2"),
            col("sink_commits"))
      },
      Some("""
        SELECT CAST(l_linenumber AS BIGINT) AS l_linenumber,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100
                 AS BIGINT)) AS BIGINT) AS qty_e2,
               CAST(3 AS BIGINT) AS sink_commits
        FROM lineitem GROUP BY 1 ORDER BY 1
      """),
      // bench=false: fixture-write-dominated like q153/q157
      bench = false),

    // ---------------------------------------------------------------
    // q179: ATOMIC CTAS / RTAS through the catalog (r11) —
    // GraftCatalog as a StagingTableCatalog: `CREATE TABLE AS SELECT`
    // writes a COMPLETE graft table (schema commit + data commit)
    // into a hidden staging dir and publishes it with one directory
    // rename; `REPLACE TABLE AS SELECT` swaps the dir without a
    // missing-table window. The entry runs both statements and reads
    // each result back through plain catalog SQL; rtas_commits pins
    // the post-swap history to exactly the staged table's own two
    // commits (a non-atomic create-then-insert path would differ).
    // Divergence by design: REPLACE here physically supersedes the
    // old table's history (atomic-rename publish), unlike Delta's
    // log-threaded REPLACE — RESTORE/time travel serve the keep-
    // history case. The oracle recomputes both aggregates from raw
    // lineitem, so a staged write that loses or doubles rows, or a
    // swap that leaves the old contents, hash-fails.
    Q("q179_sql_ctas",
      (s, d) => {
        val ns = s"q179_${java.util.UUID.randomUUID().toString.take(8)}"
        val t = s"graft.$ns.agg"
        Tables.lineitem(s, d)
          .select(col("l_linenumber").cast("long").as("ln"),
            graft.functions.ColumnOps.e2(col("l_quantity")).as("qty_e2"))
          .createOrReplaceTempView("graft_q179_src")
        def snap(): (Long, Long, Long) = {
          val r = s.sql(s"SELECT count(*) AS g, sum(n) AS r, " +
            s"sum(q) AS q FROM $t").head()
          (r.getLong(0), r.getLong(1), r.getLong(2))
        }
        try {
          s.sql(s"""CREATE TABLE $t AS
                    SELECT ln, count(*) AS n, sum(qty_e2) AS q
                    FROM graft_q179_src GROUP BY ln""")
          val (g1, r1, q1) = snap()
          s.sql(s"""REPLACE TABLE $t AS
                    SELECT ln, count(*) AS n, sum(qty_e2) AS q
                    FROM graft_q179_src WHERE ln <= 3 GROUP BY ln""")
          val (g2, r2, q2) = snap()
          val commits = s.sql(s"SELECT count(*) AS c FROM " +
            s"graft_history('$ns.agg')").head().getLong(0)
          import s.implicits._
          Seq((g1, r1, q1, g2, r2, q2, commits))
            .toDF("grps_ctas", "rows_ctas", "qty_ctas",
              "grps_rtas", "rows_rtas", "qty_rtas", "rtas_commits")
        } finally { s.sql(s"DROP TABLE IF EXISTS $t"); () }
      },
      Some("""
        WITH t AS (
          SELECT CAST(l_linenumber AS BIGINT) AS ln,
                 CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT)
                   AS qty_e2
          FROM lineitem
        ), a AS (
          SELECT ln, COUNT(*) AS n, SUM(qty_e2) AS q FROM t GROUP BY ln
        ), b AS (
          SELECT ln, COUNT(*) AS n, SUM(qty_e2) AS q FROM t
          WHERE ln <= 3 GROUP BY ln
        )
        SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM a) AS grps_ctas,
               (SELECT CAST(SUM(n) AS BIGINT) FROM a) AS rows_ctas,
               (SELECT CAST(SUM(q) AS BIGINT) FROM a) AS qty_ctas,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM b) AS grps_rtas,
               (SELECT CAST(SUM(n) AS BIGINT) FROM b) AS rows_rtas,
               (SELECT CAST(SUM(q) AS BIGINT) FROM b) AS qty_rtas,
               CAST(2 AS BIGINT) AS rtas_commits
      """),
      // bench=false: fixture-write-dominated like q153/q157
      bench = false),

    // ---------------------------------------------------------------
    // q180: CHECK CONSTRAINTS (r11) — data-quality gates as table
    // metadata, the Delta `delta.constraints.*` idiom via ALTER TABLE
    // SET TBLPROPERTIES ('graft.constraint.<name>' = '<bool sql>').
    // Enforcement is commit-scoped and O(delta): commitAt re-reads
    // ONLY the freshly written files (never re-executes the writer's
    // plan) and refuses BEFORE publish, so a violating batch leaves
    // the table untouched. The entry commits lineitem in two inserts
    // under a quantity ceiling that the first insert satisfies and
    // the second violates; the violating insert must fail and commit
    // NOTHING — the oracle recomputes the surviving table (only the
    // passing slice) plus the would-be-violation count from raw
    // lineitem, so an enforcement hole (bad rows slipping through)
    // or over-enforcement (good rows blocked) both hash-fail.
    Q("q180_sql_constraints",
      (s, d) => {
        val ns = s"q180_${java.util.UUID.randomUUID().toString.take(8)}"
        val t = s"graft.$ns.t"
        Tables.lineitem(s, d)
          .select(col("l_orderkey"),
            col("l_linenumber").cast("long").as("ln"),
            graft.functions.ColumnOps.e2(col("l_quantity")).as("qty_e2"))
          .createOrReplaceTempView("graft_q180_src")
        try {
          s.sql(s"CREATE TABLE $t (l_orderkey BIGINT, ln BIGINT, " +
            "qty_e2 BIGINT)")
          s.sql(s"ALTER TABLE $t SET TBLPROPERTIES " +
            "('graft.constraint.small_lines' = 'ln <= 4')")
          s.sql(s"INSERT INTO $t SELECT * FROM graft_q180_src " +
            "WHERE ln <= 4")
          val refused =
            try { s.sql(s"INSERT INTO $t SELECT * FROM graft_q180_src " +
              "WHERE ln > 4"); 0L }
            catch { case _: Exception => 1L }
          val r = s.sql(s"SELECT count(*) AS n, sum(qty_e2) AS q FROM $t")
            .head()
          import s.implicits._
          Seq((r.getLong(0), r.getLong(1), refused))
            .toDF("n_rows", "qty_e2", "violations_refused")
        } finally { s.sql(s"DROP TABLE IF EXISTS $t"); () }
      },
      Some("""
        SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100
                 AS BIGINT)) AS BIGINT) AS qty_e2,
               CAST(1 AS BIGINT) AS violations_refused
        FROM lineitem WHERE l_linenumber <= 4
      """),
      // bench=false: fixture-write-dominated like q153/q157
      bench = false),

    // ---------------------------------------------------------------
    // q183: SCOPED OPTIMIZE under the oracle gate (r11) — incremental
    // maintenance as arithmetic: lineitem lands as 12 one-file
    // orderkey-bin commits (the per-batch append debt), then `CALL
    // graft.system.zorder_where` re-clusters ONLY the files whose
    // zone maps overlap the "recent" top-third key scope into 2
    // z-ordered files. files_touched is recomputed by the oracle from
    // per-bin min/max overlap (a footprint that over- or under-reaches
    // hash-fails), files_after pins the carried-forward survivors
    // (12 − touched + 2), and the full-table row count and quantity
    // sum prove the rewrite moved every row exactly once. Scale: the
    // daily-OPTIMIZE-over-yesterday pattern — O(recent files), never
    // O(table), from plain SQL.
    Q("q183_scoped_optimize",
      (s, d) => {
        val ns = s"q183_${java.util.UUID.randomUUID().toString.take(8)}"
        val wh = s.conf.get("spark.sql.catalog.graft.warehouse")
        val base = s"$wh/$ns/t"
        val t = Tables.lineitem(s, d)
          .select(col("l_orderkey"), col("l_suppkey"),
            graft.functions.ColumnOps.e2(col("l_quantity")).as("qty_e2"))
          .persist()
        val (binned, klo, span) = rangeBins(t, "l_orderkey", 12)
        appendBins(s, base, binned, Seq("l_orderkey", "l_suppkey", "qty_e2"),
          statsCols = Seq("l_orderkey"))
        val v0 = VersionedTable.latestVersion(base).get
        val before = VersionedTable.entries(base, v0)
        val scopeLo = klo + (span * 2) / 3
        try {
          s.sql(s"CALL graft.system.zorder_where('$ns.t', 'l_orderkey', " +
            s"${scopeLo}L, ${klo + span - 1}L, 'l_orderkey,l_suppkey', 2)")
          val v1 = VersionedTable.latestVersion(base).get
          val after = VersionedTable.entries(base, v1)
          val touched = before.size - after.map(_.path).toSet
            .intersect(before.map(_.path).toSet).size
          val agg = s.read.format("graft").load(base)
            .agg(count(lit(1)).as("n"), sum(col("qty_e2")).as("q")).head()
          import s.implicits._
          Seq((before.size.toLong, touched.toLong, after.size.toLong,
            agg.getLong(0), agg.getLong(1)))
            .toDF("files_before", "files_touched", "files_after",
              "n_rows", "qty_e2")
        } finally {
          s.sql(s"DROP TABLE IF EXISTS graft.$ns.t")
          t.unpersist(); ()
        }
      },
      Some("""
        WITH t AS (
          SELECT l_orderkey,
                 CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT)
                   AS qty_e2
          FROM lineitem
        ), kb AS (
          SELECT MIN(l_orderkey) AS klo, MAX(l_orderkey) AS khi,
                 MAX(l_orderkey) - MIN(l_orderkey) + 1 AS span
          FROM t
        ), bins AS (
          SELECT (l_orderkey - klo) * 12 // span AS bin,
                 MIN(l_orderkey) AS mn, MAX(l_orderkey) AS mx
          FROM t, kb GROUP BY 1
        ), sc AS (
          SELECT klo + (span * 2) // 3 AS slo, khi AS shi FROM kb
        ), tc AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS files_touched,
                 (SELECT CAST(COUNT(*) AS BIGINT) FROM bins)
                   AS files_before
          FROM bins, sc WHERE mx >= slo AND mn <= shi
        )
        SELECT files_before, files_touched,
               files_before - files_touched + 2 AS files_after,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM t) AS n_rows,
               (SELECT CAST(SUM(qty_e2) AS BIGINT) FROM t) AS qty_e2
        FROM tc
      """),
      // bench=false: fixture-write-dominated like q153/q157
      bench = false),

    // ---------------------------------------------------------------
    // q184: MANIFEST NDV SKETCHES (r11) — ANALYZE TABLE the table
    // never runs: `ndvCols` at commit stores a per-file KMV sketch
    // (≤128 smallest distinct 56-bit md5 hashes — q146's cross-engine
    // convention) in the manifest line; the table-level distinct
    // count folds driver-plane by union-keep-k-smallest (union of
    // per-file k-mins ⊇ the global k-mins, so the merge equals one
    // global sketch EXACTLY — the property the oracle exploits) and
    // feeds the optimizer's ColumnStatistics.distinctCount. The twin
    // recomputes the estimate from raw lineitem with one ranking
    // window over distinct hashes, so a wrong sketch, a broken
    // manifest round-trip, or a wrong merge hash-fails to the digit.
    // Scale: NDV for CBO costs O(k) per file at commit and a manifest
    // fold at plan time — never a table scan.
    Q("q184_manifest_ndv",
      (s, d) => {
        val base = graft.TempDirs.scoped("graft_q184")
        val t = Tables.lineitem(s, d)
          .select(col("l_orderkey"), col("l_suppkey"))
          .persist()
        appendBins(s, base, rangeBins(t, "l_orderkey", 8)._1,
          Seq("l_orderkey", "l_suppkey"), statsCols = Seq("l_orderkey"),
          ndvCols = Seq("l_orderkey", "l_suppkey"))
        val ndv = VersionedTable.ndvEstimates(base,
          VersionedTable.latestVersion(base).get)
        val ex = t.agg(
          countDistinct(col("l_orderkey")).as("eo"),
          countDistinct(col("l_suppkey")).as("es")).head()
        t.unpersist()
        import s.implicits._
        Seq(("l_orderkey", ex.getLong(0), ndv("l_orderkey")),
          ("l_suppkey", ex.getLong(1), ndv("l_suppkey")))
          .toDF("col", "exact_distinct", "est_distinct")
          .withColumn("err_e4",
            expr("abs(est_distinct - exact_distinct) * 10000 " +
              "div exact_distinct"))
          .orderBy(col("col"))
      },
      Some("""
        WITH src AS (
          SELECT 'l_orderkey' AS c, l_orderkey AS v FROM lineitem
          UNION ALL
          SELECT 'l_suppkey' AS c, l_suppkey AS v FROM lineitem
        ), h AS (
          SELECT DISTINCT c,
                 CAST('0x' || substring(md5('kmv:' || CAST(v AS VARCHAR)),
                   1, 14) AS BIGINT) AS h
          FROM src
        ), ranked AS (
          SELECT c, h,
                 ROW_NUMBER() OVER (PARTITION BY c ORDER BY h) AS rn,
                 COUNT(*) OVER (PARTITION BY c) AS nd
          FROM h
        ), sk AS (
          SELECT c, CAST(MAX(nd) AS BIGINT) AS exact_distinct,
                 MAX(CASE WHEN rn = 128 THEN h END) AS h128,
                 COUNT(*) AS n_in
          FROM ranked WHERE rn <= 128 GROUP BY c
        ), est AS (
          SELECT c AS col, exact_distinct,
                 CAST(CASE WHEN n_in < 128 THEN n_in
                      ELSE (127 * 72057594037927936) // h128 END AS BIGINT)
                   AS est_distinct
          FROM sk
        )
        SELECT col, exact_distinct, est_distinct,
               CAST(abs(est_distinct - exact_distinct) * 10000
                 // exact_distinct AS BIGINT) AS err_e4
        FROM est ORDER BY col
      """),
      // bench=false: fixture-write-dominated like q153/q157
      bench = false),

    // ---------------------------------------------------------------
    // q185: graft_detail (DESCRIBE DETAIL) under the oracle gate (r11)
    // — the audit row's metadata arithmetic hash-checked: lineitem in
    // 6 one-file bin commits with zone maps, blooms, NDV sketches and
    // a CHECK constraint, then a MoR DELETE of one bin's span. The
    // twin recomputes version (6 commits + 1 delete), file count,
    // LIVE rows (dv-subtracted), dv'd-file count (bins overlapping
    // the deleted span), the stats/bloom disciplines (declared
    // literals), the constraint text, and the NDV estimate via the
    // q184 ranking-window construction. size_bytes is the one
    // non-predictable column, so the query projects everything else.
    Q("q185_describe_detail",
      (s, d) => {
        val base = graft.TempDirs.scoped("graft_q185")
        val t = Tables.lineitem(s, d)
          .select(col("l_orderkey"), col("l_suppkey")).persist()
        val (binned, klo, span) = rangeBins(t, "l_orderkey", 6)
        appendBins(s, base, binned, Seq("l_orderkey", "l_suppkey"),
          statsCols = Seq("l_orderkey"), bloomCols = Seq("l_suppkey"),
          ndvCols = Seq("l_suppkey"))
        VersionedTable.addConstraint(s, base, "okey_pos", "l_orderkey >= 0")
        // MoR-delete HALF of bin 2's span — partial-file deletions, so
        // deletion vectors genuinely exist (a span covering a whole
        // file makes commitDeleteMoR drop the file instead, no DV)
        val (dlo, dhi) = (klo + span * 2 / 6, klo + span * 5 / 12 - 1)
        VersionedTable.commitDeleteMoR(s, base,
          col("l_orderkey").between(dlo, dhi), Seq(("l_orderkey", dlo, dhi)))
        t.unpersist()
        s.sql(s"""SELECT version, n_files, n_rows, n_dv_files,
                   stats_cols, bloom_cols, constraints, ndv_estimates
                   FROM graft_detail('$base')""")
      },
      Some("""
        WITH t AS (
          SELECT l_orderkey, l_suppkey FROM lineitem
        ), kb AS (
          SELECT MIN(l_orderkey) AS klo,
                 MAX(l_orderkey) - MIN(l_orderkey) + 1 AS span
          FROM t
        ), pr AS (
          SELECT klo + span * 2 // 6 AS dlo,
                 klo + span * 5 // 12 - 1 AS dhi
          FROM kb
        ), h AS (
          SELECT DISTINCT
                 CAST('0x' || substring(md5('kmv:' ||
                   CAST(l_suppkey AS VARCHAR)), 1, 14) AS BIGINT) AS h
          FROM t
        ), ranked AS (
          SELECT h, ROW_NUMBER() OVER (ORDER BY h) AS rn FROM h
        ), sk AS (
          SELECT MAX(CASE WHEN rn = 128 THEN h END) AS h128,
                 COUNT(*) AS n_in
          FROM ranked WHERE rn <= 128
        ), ndv AS (
          SELECT CAST(CASE WHEN n_in < 128 THEN n_in
                 ELSE (127 * 72057594037927936) // h128 END AS BIGINT) AS e
          FROM sk
        )
        SELECT CAST(7 AS BIGINT) AS version,
               6 AS n_files,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM t, pr
                 WHERE l_orderkey NOT BETWEEN dlo AND dhi) AS n_rows,
               (SELECT CAST(COUNT(DISTINCT (l_orderkey - klo) * 6 // span)
                   AS INTEGER)
                FROM t, kb, pr WHERE l_orderkey BETWEEN dlo AND dhi)
                 AS n_dv_files,
               'l_orderkey' AS stats_cols,
               'l_suppkey' AS bloom_cols,
               'okey_pos CHECK (l_orderkey >= 0)' AS constraints,
               'l_suppkey≈' || CAST((SELECT e FROM ndv) AS VARCHAR)
                 AS ndv_estimates
      """),
      // bench=false: fixture-write-dominated like q153/q157
      bench = false),

    // ---------------------------------------------------------------
    // q186: the CBO loop provably CLOSED under the oracle gate (r12) —
    // a join-strategy decision FLIPS on manifest statistics. The dim
    // (every 3rd orderkey + a ~1 KB pruned-away pad) is several MB on
    // disk but rows x 8 B through the join's read schema: with the
    // broadcast threshold pinned between the two, the manifest's exact
    // row count broadcasts the dim (asserted on the static plan), and
    // the negative control — the SAME table with its `#rows=` tokens
    // stripped, the pre-rowcount manifest generation — refuses the
    // claim, falls back to the file-size guess, and plans sort-merge
    // (also asserted). The oracle then hash-checks the broadcast
    // plan's answer against a plain DuckDB semi-join — a flip that
    // broke correctness would fail the hash, a flip that never
    // happened fails the engine-side require.
    Q("q186_cbo_broadcast_flip",
      (s, d) => {
        val base = graft.TempDirs.scoped("graft_q186")
        val t = Tables.lineitem(s, d)
          .select(col("l_orderkey"),
            graft.functions.ColumnOps.e2(col("l_quantity")).as("qty_e2"))
          .persist()
        val dim = t.select(col("l_orderkey")).distinct()
          .filter(col("l_orderkey") % 3L === 0L)
          .withColumn("pad", expr(
            "concat_ws('', transform(sequence(1, 32), " +
              "i -> md5(concat(cast(l_orderkey AS string), '-', " +
              "cast(i AS string)))))"))
        VersionedTable.commitAppend(s, base, dim.coalesce(2),
          statsCols = Seq("l_orderkey"))
        val live = VersionedTable.entries(base,
          VersionedTable.latestVersion(base).get)
        val statsSz = live.map(_.rows).sum * 8L // pruned width: one long
        val phys = live.map(e => java.nio.file.Files.size(
          java.nio.file.Paths.get(base, e.path))).sum
        val thr = statsSz * 4L
        require(thr < phys,
          s"fixture: stats size $statsSz x4 must undercut physical $phys")
        def joined = t.join(
          s.read.format("graft").load(base).select(col("l_orderkey")),
          "l_orderkey")
        val key = "spark.sql.autoBroadcastJoinThreshold"
        val prev = s.conf.get(key)
        s.conf.set(key, thr.toString)
        try {
          val plan = joined.queryExecution.sparkPlan.toString()
          require(plan.contains("BroadcastHashJoin"),
            s"manifest rows must broadcast the column-pruned dim:\n$plan")
          // run the flipped plan BEFORE the negative control mutates
          // the manifest
          val out = joined.agg(count(lit(1)).as("n"),
            sum(col("qty_e2")).as("q"),
            countDistinct(col("l_orderkey")).as("k")).head()
          val log = java.nio.file.Paths.get(base, "_log")
          val st = java.nio.file.Files.list(log)
          try {
            val it = st.iterator()
            while (it.hasNext) {
              val m = it.next()
              if (m.getFileName.toString.endsWith(".commit")) {
                val body = new String(
                  java.nio.file.Files.readAllBytes(m), "UTF-8")
                java.nio.file.Files.write(m,
                  body.replaceAll("\\t#rows=\\d+", "").getBytes("UTF-8"))
              }
            }
          } finally st.close()
          val p2 = joined.queryExecution.sparkPlan.toString()
          require(p2.contains("SortMergeJoin") &&
            !p2.contains("BroadcastHashJoin"),
            s"stats-refused twin must plan sort-merge:\n$p2")
          import s.implicits._
          Seq((out.getLong(0), out.getLong(1), out.getLong(2)))
            .toDF("n_rows", "qty_e2", "n_keys")
        } finally {
          s.conf.set(key, prev)
          t.unpersist(); ()
        }
      },
      Some("""
        SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100
                 AS BIGINT)) AS BIGINT) AS qty_e2,
               CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_keys
        FROM lineitem WHERE l_orderkey % 3 = 0
      """),
      // bench=false: fixture-write-dominated like q153/q157
      bench = false),

    // ---------------------------------------------------------------
    // q187: DISJOINT-DML RACE under the oracle gate (r12) — two
    // concurrent DELETEs on provably disjoint zone-map footprints.
    // Writer A (bins 2-3 span) loses the publish race to writer B
    // (bins 6-7 span, landed by A's pre-publish hook — the scripted
    // interleaving the commitMergeHooked spec discipline uses); the
    // commit protocol's LOGICAL CONFLICT CHECK diffs B's manifest
    // delta against A's read set + predicate footprint, finds them
    // disjoint, and REPUBLISHES A's already-written files at B's
    // successor — no re-execution (a lost race on a long DML costs one
    // manifest write when the winner touched other files). The
    // republish is gated engine-side BY PATH: A's committed adds must
    // still live under its PINNED attempt dir (d9-*) and no abandoned
    // re-execution dir may exist; the oracle then hash-checks that
    // BOTH deletes applied exactly (pre/post counts + quantity sums
    // via the q165 per-bin min-max overlap arithmetic) — a republish
    // that lost B's delete, leaked a matching row, or double-applied
    // a rewrite hash-fails.
    Q("q187_disjoint_dml_race",
      (s, d) => {
        val base = graft.TempDirs.scoped("graft_q187")
        val t = Tables.lineitem(s, d)
          .select(col("l_orderkey"),
            graft.functions.ColumnOps.e2(col("l_quantity")).as("qty_e2"))
          .persist()
        // the q165 8-bin one-file-per-commit fixture (zone maps on key)
        val (binned, olo, span) = rangeBins(t, "l_orderkey", 8)
        appendBins(s, base, binned, Seq("l_orderkey", "qty_e2"),
          statsCols = Seq("l_orderkey"))
        // A's span straddles bins 2-3; B's straddles bins 6-7 —
        // off-bin-edge by construction so both rewrites are non-empty
        val (alo, ahi) = (olo + (span * 5) / 16, olo + (span * 7) / 16 - 1)
        val (blo, bhi) = (olo + (span * 25) / 32, olo + (span * 29) / 32 - 1)
        var bV = -1L
        val aV = VersionedTable.commitDeleteHooked(s, base,
          col("l_orderkey").between(alo, ahi),
          pruneRanges = Seq(("l_orderkey", alo, ahi)),
          statsCols = Seq("l_orderkey")) { () =>
          if (bV < 0L)
            bV = VersionedTable.commitDelete(s, base,
              col("l_orderkey").between(blo, bhi),
              pruneRanges = Seq(("l_orderkey", blo, bhi)),
              statsCols = Seq("l_orderkey"))
        }
        // the republish gate, engine-side: B won the pinned v9, A
        // commuted to v10 with its adds still under the d9-* attempt
        // dir, and no abandoned re-execution dir exists on disk
        require(bV == 9L && aV == 10L,
          s"disjoint race did not commute: B=v$bV A=v$aV (expected 9/10)")
        val (_, aAdds, aRems) = VersionedTable.commitDelta(base, aV)
        require(aAdds.nonEmpty && aAdds.forall(_.path.startsWith("d9-")),
          s"loser re-executed: adds ${aAdds.map(_.path)} not under the " +
            "pinned d9-* attempt dir")
        val dirStream = java.nio.file.Files.list(
          java.nio.file.Paths.get(base))
        val nDirs =
          try {
            val it = dirStream.iterator()
            var n = 0
            while (it.hasNext) {
              val p = it.next()
              if (java.nio.file.Files.isDirectory(p) &&
                  p.getFileName.toString.startsWith("d")) n += 1
            }
            n
          } finally dirStream.close()
        require(nDirs == 10,
          s"expected 10 data dirs (8 bins + A + B), found $nDirs — a " +
            "re-execution strands an 11th")
        val (_, _, bRems) = VersionedTable.commitDelta(base, bV)
        val pre = VersionedTable.readVersion(s, base, 8L)
          .agg(count(lit(1)).as("n"), sum(col("qty_e2")).as("q")).head()
        val post = VersionedTable.readLatest(s, base)
          .agg(count(lit(1)).as("n"), sum(col("qty_e2")).as("q")).head()
        t.unpersist()
        import s.implicits._
        Seq((pre.getLong(0), pre.getLong(1), post.getLong(0),
          post.getLong(1), aRems.size.toLong, bRems.size.toLong))
          .toDF("n_pre", "qty_pre", "n_post", "qty_post",
            "files_removed_a", "files_removed_b")
      },
      Some("""
        WITH t AS (
          SELECT l_orderkey,
                 CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT)
                   AS qty_e2
          FROM lineitem
        ), b AS (
          SELECT MIN(l_orderkey) AS olo,
                 MAX(l_orderkey) - MIN(l_orderkey) + 1 AS span
          FROM t
        ), pr AS (
          SELECT olo + (span * 5) // 16 AS alo,
                 olo + (span * 7) // 16 - 1 AS ahi,
                 olo + (span * 25) // 32 AS blo,
                 olo + (span * 29) // 32 - 1 AS bhi
          FROM b
        ), x AS (
          SELECT t.*, (l_orderkey - olo) * 8 // span AS bin
          FROM t, b
        ), bins AS (
          SELECT bin, MIN(l_orderkey) AS mn, MAX(l_orderkey) AS mx
          FROM x GROUP BY 1
        )
        SELECT
          (SELECT CAST(COUNT(*) AS BIGINT) FROM t) AS n_pre,
          (SELECT CAST(SUM(qty_e2) AS BIGINT) FROM t) AS qty_pre,
          (SELECT CAST(COUNT(*) AS BIGINT) FROM t, pr
            WHERE l_orderkey NOT BETWEEN alo AND ahi
              AND l_orderkey NOT BETWEEN blo AND bhi) AS n_post,
          (SELECT CAST(SUM(qty_e2) AS BIGINT) FROM t, pr
            WHERE l_orderkey NOT BETWEEN alo AND ahi
              AND l_orderkey NOT BETWEEN blo AND bhi) AS qty_post,
          (SELECT CAST(COUNT(*) AS BIGINT) FROM bins, pr
            WHERE mx >= alo AND mn <= ahi) AS files_removed_a,
          (SELECT CAST(COUNT(*) AS BIGINT) FROM bins, pr
            WHERE mx >= blo AND mn <= bhi) AS files_removed_b
      """),
      // bench=false: fixture-write-dominated like q153/q157
      bench = false),

    // ---------------------------------------------------------------
    // q189: COLUMN MAPPING under the oracle gate (r12) — RENAME and
    // DROP COLUMN as metadata-only commits, read across both. The
    // q165 8-bin lineitem fixture (zone maps on l_orderkey) is
    // RENAMEd (l_orderkey→okey) and has a column DROPped (disc_e2),
    // both asserted metadata-only BY PATH (the snapshot references
    // exactly the pre-alter files); a post-rename append lands under
    // the frozen physical name; a zone-map-pruned slice on the NEW
    // name proves skipping survives the rename (file-count asserted
    // engine-side); time travel reads the dropped column at its old
    // version. The oracle recomputes every aggregate — totals across
    // the append, the pruned slice, the pre-drop discount sum — from
    // raw lineitem with the same sixteenth-span arithmetic.
    Q("q189_column_mapping",
      (s, d) => {
        val base = graft.TempDirs.scoped("graft_q189")
        val t = Tables.lineitem(s, d)
          .select(col("l_orderkey"),
            graft.functions.ColumnOps.e2(col("l_quantity")).as("qty_e2"),
            graft.functions.ColumnOps.e2(col("l_discount")).as("disc_e2"),
            col("l_linenumber"))
          .persist()
        val (binned, olo, span) = rangeBins(t, "l_orderkey", 8)
        appendBins(s, base, binned, Seq("l_orderkey", "qty_e2", "disc_e2"),
          statsCols = Seq("l_orderkey"))
        val filesBefore = VersionedTable.entries(base, 8L).map(_.path).toSet
        // pre-drop discount total, via time travel AFTER the alters
        VersionedTable.alterRenameColumn(base, "l_orderkey", "okey")
        VersionedTable.alterDropColumn(base, "disc_e2")
        require(VersionedTable.entries(base, 10L).map(_.path).toSet ==
          filesBefore, "RENAME/DROP must be metadata-only (by path)")
        // post-rename append under the NEW logical names (physical
        // stays the frozen l_orderkey)
        VersionedTable.commitAppend(s, base,
          t.filter(col("l_linenumber") === 1)
            .select(col("l_orderkey").as("okey"), col("qty_e2"))
            .coalesce(1),
          statsCols = Seq("okey"))
        val total = VersionedTable.readLatest(s, base)
          .agg(count(lit(1)).as("n"), sum(col("qty_e2")).as("q")).head()
        // zone-map-pruned slice on the RENAMED key: bins 2-3's span
        val (plo, phi) = (olo + (span * 5) / 16, olo + (span * 6) / 16 - 1)
        val pruned = VersionedTable.readVersionPrunedTyped(s, base, 11L,
          Seq(VersionedTable.LongRange("okey", plo, phi)))
          .filter(col("okey").between(plo, phi))
        require(pruned.inputFiles.length <
          VersionedTable.entries(base, 11L).size,
          "pruning must bite across the rename")
        val pr = pruned
          .agg(count(lit(1)).as("n"), sum(col("qty_e2")).as("q")).head()
        val discPre = VersionedTable.readVersion(s, base, 8L)
          .agg(sum(col("disc_e2"))).head().getLong(0)
        val colsFinal = VersionedTable.readLatest(s, base)
          .columns.mkString(",")
        t.unpersist()
        import s.implicits._
        Seq((total.getLong(0), total.getLong(1), pr.getLong(0),
          pr.getLong(1), discPre, colsFinal))
          .toDF("n_total", "qty_total", "n_pruned", "qty_pruned",
            "disc_pre", "cols_final")
      },
      Some("""
        WITH t AS (
          SELECT l_orderkey,
                 CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT)
                   AS qty_e2,
                 CAST(CAST(l_discount AS DECIMAL(18,2)) * 100 AS BIGINT)
                   AS disc_e2,
                 l_linenumber
          FROM lineitem
        ), b AS (
          SELECT MIN(l_orderkey) AS olo,
                 MAX(l_orderkey) - MIN(l_orderkey) + 1 AS span
          FROM t
        ), pr AS (
          SELECT olo + (span * 5) // 16 AS plo,
                 olo + (span * 6) // 16 - 1 AS phi
          FROM b
        ), u AS (
          SELECT l_orderkey AS okey, qty_e2 FROM t
          UNION ALL
          SELECT l_orderkey AS okey, qty_e2 FROM t WHERE l_linenumber = 1
        )
        SELECT
          (SELECT CAST(COUNT(*) AS BIGINT) FROM u) AS n_total,
          (SELECT CAST(SUM(qty_e2) AS BIGINT) FROM u) AS qty_total,
          (SELECT CAST(COUNT(*) AS BIGINT) FROM u, pr
            WHERE okey BETWEEN plo AND phi) AS n_pruned,
          (SELECT CAST(SUM(qty_e2) AS BIGINT) FROM u, pr
            WHERE okey BETWEEN plo AND phi) AS qty_pruned,
          (SELECT CAST(SUM(disc_e2) AS BIGINT) FROM t) AS disc_pre,
          'okey,qty_e2' AS cols_final
      """),
      // bench=false: fixture-write-dominated like q153/q157
      bench = false),

    // ---------------------------------------------------------------
    // q191: NAMED REFS + SHALLOW CLONE under the oracle gate (r13) —
    // the experiment workflow a shared 100 TB table runs: tag a
    // release mid-history ("rc" at v4), SHALLOW-CLONE the head into a
    // writable zero-copy branch (one metadata commit referencing the
    // source's files — clone-op asserted, zero local data dirs
    // asserted), DIVERGE both sides (branch deletes a span + appends;
    // source appends), then VACUUM THE SOURCE past everything — the
    // tag and the clone's auto-tag must keep both old snapshots fully
    // readable (every output row is computed AFTER the vacuum). The
    // oracle recomputes tag/branch/source states from raw lineitem
    // with the same eighth-bin/sixteenth-span arithmetic.
    Q("q191_refs_clone",
      (s, d) => {
        val root = graft.TempDirs.scoped("graft_q191")
        val src = s"$root/src"
        val tgt = s"$root/branch"
        val t = Tables.lineitem(s, d)
          .select(col("l_orderkey"),
            graft.functions.ColumnOps.e2(col("l_quantity")).as("qty_e2"),
            col("l_linenumber"))
          .persist()
        val (binned, olo, span) = rangeBins(t, "l_orderkey", 8)
        appendBins(s, src, binned, Seq("l_orderkey", "qty_e2"),
          statsCols = Seq("l_orderkey"))
        // release pin mid-history: bins 0-3
        VersionedTable.createTag(src, "rc", 4L)
        // zero-copy branch at the head
        VersionedTable.shallowClone(s, src, tgt)
        require(VersionedTable.commitDelta(tgt, 1L)._1 == "clone",
          "branch history must open with the clone op")
        require(VersionedTable.entries(tgt, 1L)
          .forall(_.path.startsWith("..")),
          "a shallow clone must reference the source's files")
        // diverge: branch deletes a sixteenth-span slice (CoW rewrites
        // land locally; the pruned footprint skips untouched bins),
        // then appends its own rows
        val (dlo, dhi) = (olo + (span * 12) / 16, olo + (span * 14) / 16 - 1)
        VersionedTable.commitDelete(s, tgt,
          col("l_orderkey").between(dlo, dhi),
          pruneRanges = Seq(("l_orderkey", dlo, dhi)),
          statsCols = Seq("l_orderkey"))
        VersionedTable.commitAppend(s, tgt,
          t.filter(col("l_linenumber") === 1)
            .select(col("l_orderkey"), col("qty_e2")).coalesce(1),
          statsCols = Seq("l_orderkey"))
        // source diverges independently
        VersionedTable.commitAppend(s, src,
          t.filter(col("l_linenumber") === 2)
            .select(col("l_orderkey"), col("qty_e2")).coalesce(1),
          statsCols = Seq("l_orderkey"))
        // the retention event: vacuum the source past everything —
        // refs must protect the tagged release AND the cloned snapshot
        VersionedTable.vacuum(src, retainFrom = 9L,
          attemptRetentionMs = 0L)
        require(VersionedTable.tags(src).size == 2,
          "expected the release tag + the clone's auto-tag")
        // every output reads POST-VACUUM
        val tagR = VersionedTable.readRef(s, src, "rc")
          .agg(count(lit(1)).as("n"), sum(col("qty_e2")).as("q")).head()
        val brR = VersionedTable.readLatest(s, tgt)
          .agg(count(lit(1)).as("n"), sum(col("qty_e2")).as("q")).head()
        val srcR = VersionedTable.readLatest(s, src)
          .agg(count(lit(1)).as("n"), sum(col("qty_e2")).as("q")).head()
        t.unpersist()
        import s.implicits._
        Seq((tagR.getLong(0), tagR.getLong(1), brR.getLong(0),
          brR.getLong(1), srcR.getLong(0), srcR.getLong(1),
          VersionedTable.tags(src).size.toLong))
          .toDF("n_tag", "qty_tag", "n_branch", "qty_branch",
            "n_src", "qty_src", "n_tags_src")
      },
      Some("""
        WITH t AS (
          SELECT l_orderkey,
                 CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT)
                   AS qty_e2,
                 l_linenumber
          FROM lineitem
        ), b AS (
          SELECT MIN(l_orderkey) AS olo,
                 MAX(l_orderkey) - MIN(l_orderkey) + 1 AS span
          FROM t
        ), pr AS (
          SELECT olo + (span * 12) // 16 AS dlo,
                 olo + (span * 14) // 16 - 1 AS dhi
          FROM b
        ), br AS (
          SELECT qty_e2 FROM t, pr
          WHERE l_orderkey NOT BETWEEN dlo AND dhi
          UNION ALL
          SELECT qty_e2 FROM t WHERE l_linenumber = 1
        ), srcnow AS (
          SELECT qty_e2 FROM t
          UNION ALL
          SELECT qty_e2 FROM t WHERE l_linenumber = 2
        )
        SELECT
          (SELECT CAST(COUNT(*) AS BIGINT) FROM t, b
            WHERE (l_orderkey - olo) * 8 // span <= 3) AS n_tag,
          (SELECT CAST(SUM(qty_e2) AS BIGINT) FROM t, b
            WHERE (l_orderkey - olo) * 8 // span <= 3) AS qty_tag,
          (SELECT CAST(COUNT(*) AS BIGINT) FROM br) AS n_branch,
          (SELECT CAST(SUM(qty_e2) AS BIGINT) FROM br) AS qty_branch,
          (SELECT CAST(COUNT(*) AS BIGINT) FROM srcnow) AS n_src,
          (SELECT CAST(SUM(qty_e2) AS BIGINT) FROM srcnow) AS qty_src,
          CAST(2 AS BIGINT) AS n_tags_src
      """),
      // bench=false: fixture-write-dominated like q153/q157
      bench = false),

    // q192: STORAGE-PARTITIONED JOIN under the oracle gate (r13) —
    // the zero-shuffle co-located join, the engine's answer to "a
    // 100 TB fact ⋈ fact join where the EXCHANGE is the bottleneck":
    // lineitem and orders written `bucketBy=16:<orderkey>` (one
    // shuffle at ingest; every file verifiably holds ONE murmur3
    // bucket), read back through the graft catalog whose scans report
    // KeyGroupedPartitioning(bucket(16, key)) and whose FunctionCatalog
    // resolves it — Spark's v2-bucketing planner then joins the two
    // tables with ZERO Exchange on either side. The no-shuffle claim
    // is emitted AS DATA (`exchanges`: occurrences of shuffle
    // exchanges in the join's executed plan — oracle pins 0), so a
    // silent fallback to shuffling fails the hash gate, not just a
    // spec. The join aggregate itself hash-checks against the raw
    // parquet twin. GraftSpjSpec adds the claim-voiding discipline
    // (an unbucketed append ⟹ the co-location claim disappears).
    Q("q192_bucketed_spj",
      (s, d) => {
        val ns = s"q192_${java.util.UUID.randomUUID().toString.take(8)}"
        val wh = s.conf.get("spark.sql.catalog.graft.warehouse")
        Tables.lineitem(s, d)
          .select(col("l_orderkey"),
            graft.functions.ColumnOps.e2(col("l_quantity")).as("qty_e2"))
          .write.format("graft").option("bucketBy", "16:l_orderkey")
          .mode("append").save(s"$wh/$ns/li")
        Tables.orders(s, d)
          .select(col("o_orderkey"), col("o_orderpriority"))
          .write.format("graft").option("bucketBy", "16:o_orderkey")
          .mode("append").save(s"$wh/$ns/ord")
        val prevBkt = s.conf.getOption("spark.sql.sources.v2.bucketing.enabled")
        val prevThr = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
        try {
          s.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
          // the small side would broadcast at sf0.01 — force the
          // shuffle-shaped plan the claim is ABOUT (at 100 TB neither
          // side broadcasts; that regime is what's being verified)
          s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
          val j = s.table(s"graft.$ns.li")
            .join(s.table(s"graft.$ns.ord"),
              col("l_orderkey") === col("o_orderkey"))
          val exchanges = "Exchange hashpartitioning".r
            .findAllIn(j.queryExecution.executedPlan.toString).size
          j.groupBy(col("o_orderpriority"))
            .agg(count(lit(1)).as("n_rows"),
              sum(col("qty_e2")).as("qty_e2"))
            .withColumn("exchanges", lit(exchanges.toLong))
            .orderBy(col("o_orderpriority"))
        } finally {
          prevBkt match {
            case Some(v) =>
              s.conf.set("spark.sql.sources.v2.bucketing.enabled", v)
            case None =>
              s.conf.unset("spark.sql.sources.v2.bucketing.enabled")
          }
          s.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThr)
        }
      },
      Some("""
        SELECT o_orderpriority,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100
                 AS BIGINT)) AS BIGINT) AS qty_e2,
               CAST(0 AS BIGINT) AS exchanges
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
      """),
      // bench=false: fixture-write-dominated (two bucketed table
      // builds per run); the no-shuffle property is plan-shaped, not
      // time-shaped
      bench = false),

    // q193: REPLACE WHERE under the oracle gate (r13) — the backfill
    // primitive: "recompute this slice" on a 100 TB table as ONE
    // atomic commit (delete the slice + insert its replacement; no
    // reader ever sees the gap), rewriting ONLY the files whose zone
    // maps overlap the slice. Fixture: lineitem committed per
    // eighth-bin (8 zone-mapped files); the exact key span of bins
    // 2-3 is replaced with a recomputed dataset (linenumber-1 rows at
    // 3x quantity). The O(affected-files) claim is emitted AS DATA:
    // files_preserved = |pre-entries ∩ post-entries| — the oracle pins
    // it to bins-2, so a silent full rewrite (or an over-wide
    // footprint) fails the hash gate. Final per-bin aggregates
    // hash-check against the raw-parquet UNION twin.
    Q("q193_replace_where",
      (s, d) => {
        val base = graft.TempDirs.scoped("graft_q193")
        val t = Tables.lineitem(s, d)
          .select(col("l_orderkey"),
            graft.functions.ColumnOps.e2(col("l_quantity")).as("qty_e2"),
            col("l_linenumber"))
          .persist()
        val (binned, olo, span) = rangeBins(t, "l_orderkey", 8)
        appendBins(s, base, binned, Seq("l_orderkey", "qty_e2"),
          statsCols = Seq("l_orderkey"))
        // the replaced slice: the EXACT key range of bins 2-3 (span
        // arithmetic rounds; the data's own bin extrema don't)
        val pr = binned.filter(col("bin").isin(2L, 3L))
          .agg(min(col("l_orderkey")), max(col("l_orderkey"))).head()
        val (dlo, dhi) = (pr.getLong(0), pr.getLong(1))
        val pre = VersionedTable.entries(base,
          VersionedTable.latestVersion(base).get).map(_.path).toSet
        val replacement = t
          .filter(col("l_orderkey").between(dlo, dhi) &&
            col("l_linenumber") === 1)
          .select(col("l_orderkey"), (col("qty_e2") * 3).as("qty_e2"))
        val v = VersionedTable.commitReplaceWhere(s, base, replacement,
          col("l_orderkey").between(dlo, dhi),
          pruneRanges = Seq(("l_orderkey", dlo, dhi)),
          statsCols = Seq("l_orderkey"), verifyFootprint = true)
        val post = VersionedTable.entries(base, v).map(_.path).toSet
        val preserved = (pre intersect post).size.toLong
        val out = VersionedTable.readLatest(s, base)
          .withColumn("bin",
            expr(s"(l_orderkey - ${olo}L) * 8 div ${span}L"))
          .groupBy(col("bin"))
          .agg(count(lit(1)).as("n_rows"), sum(col("qty_e2")).as("qty_e2"))
          .withColumn("files_preserved", lit(preserved))
          .orderBy(col("bin"))
        t.unpersist()
        out
      },
      Some("""
        WITH t AS (
          SELECT l_orderkey,
                 CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT)
                   AS qty_e2,
                 l_linenumber
          FROM lineitem
        ), b AS (
          SELECT MIN(l_orderkey) AS olo,
                 MAX(l_orderkey) - MIN(l_orderkey) + 1 AS span
          FROM t
        ), binned AS (
          SELECT l_orderkey, qty_e2, l_linenumber,
                 (l_orderkey - olo) * 8 // span AS bin
          FROM t, b
        ), pr AS (
          SELECT MIN(l_orderkey) AS dlo, MAX(l_orderkey) AS dhi
          FROM binned WHERE bin IN (2, 3)
        ), fin AS (
          SELECT l_orderkey, qty_e2 FROM binned, pr
          WHERE l_orderkey NOT BETWEEN dlo AND dhi
          UNION ALL
          SELECT l_orderkey, qty_e2 * 3 FROM binned, pr
          WHERE l_orderkey BETWEEN dlo AND dhi AND l_linenumber = 1
        )
        SELECT (f.l_orderkey - b.olo) * 8 // b.span AS bin,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(f.qty_e2) AS BIGINT) AS qty_e2,
               (SELECT CAST(COUNT(DISTINCT bin) - 2 AS BIGINT)
                  FROM binned) AS files_preserved
        FROM fin f, b
        GROUP BY 1
        ORDER BY 1
      """),
      // bench=false: fixture-write-dominated like q191
      bench = false),

    // q194: ROW TRACKING under the oracle gate (r13) — stable row
    // identity across rewrites, verified the only way that can't lie:
    // JOIN TWO VERSIONS ON _row_id. Fixture: lineitem per eighth-bin,
    // enableRowIds (metadata-only backfill), then a CoW delete (bin
    // 2), an UPDATE (bin 5, qty ×7) and a COMPACTION (full rewrite).
    // The final state joins back to the pre-maintenance snapshot on
    // _row_id: every surviving row must pair with ITSELF — the
    // `mismatches` column (old key ≠ new key under the same id) is
    // pinned 0 by the oracle, and the per-bin aggregates of the
    // JOINED frame hash-check against raw-lineitem arithmetic. If
    // compaction or the delete/update rewrites had re-identified rows
    // (the failure row tracking exists to prevent), the id join would
    // pair wrong rows and every downstream number would shift.
    Q("q194_row_tracking",
      (s, d) => {
        val base = graft.TempDirs.scoped("graft_q194")
        val t = Tables.lineitem(s, d)
          .select(col("l_orderkey"),
            graft.functions.ColumnOps.e2(col("l_quantity")).as("qty_e2"),
            col("l_linenumber"))
          .persist()
        val (binned, olo, span) = rangeBins(t, "l_orderkey", 8)
        appendBins(s, base, binned,
          Seq("l_orderkey", "qty_e2", "l_linenumber"),
          statsCols = Seq("l_orderkey"))
        VersionedTable.enableRowIds(base)
        val v0 = VersionedTable.latestVersion(base).get
        def ext(bn: Long): (Long, Long) = {
          val r = binned.filter(col("bin") === bn)
            .agg(min(col("l_orderkey")), max(col("l_orderkey"))).head()
          (r.getLong(0), r.getLong(1))
        }
        val (d2lo, d2hi) = ext(2L)
        val (d5lo, d5hi) = ext(5L)
        VersionedTable.commitDelete(s, base,
          col("l_orderkey").between(d2lo, d2hi),
          pruneRanges = Seq(("l_orderkey", d2lo, d2hi)),
          statsCols = Seq("l_orderkey"))
        VersionedTable.commitUpdate(s, base,
          col("l_orderkey").between(d5lo, d5hi),
          Seq("qty_e2" -> (col("qty_e2") * 7)),
          pruneRanges = Seq(("l_orderkey", d5lo, d5hi)),
          statsCols = Seq("l_orderkey"))
        VersionedTable.compact(s, base, numFiles = 4,
          statsCols = Seq("l_orderkey"))
        val old = VersionedTable.readVersionWithRowIds(s, base, v0)
          .select(col("l_orderkey").as("okey0"),
            col("l_linenumber").as("ln0"),
            col(VersionedTable.RowIdCol).as("rid0"))
        val neu = VersionedTable.readLatestWithRowIds(s, base)
        val out = neu.join(old,
            neu(VersionedTable.RowIdCol) === old("rid0"))
          .withColumn("bin",
            expr(s"(l_orderkey - ${olo}L) * 8 div ${span}L"))
          .groupBy(col("bin"))
          .agg(count(lit(1)).as("n_rows"),
            sum(col("qty_e2")).as("qty_e2"),
            sum(when(col("okey0") =!= col("l_orderkey") ||
              col("ln0") =!= col("l_linenumber"), 1L)
              .otherwise(0L)).as("mismatches"))
          .orderBy(col("bin"))
        val res = out.collect()
        t.unpersist()
        val sq = s
        import sq.implicits._
        res.map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3))).toSeq
          .toDF("bin", "n_rows", "qty_e2", "mismatches")
      },
      Some("""
        WITH t AS (
          SELECT l_orderkey,
                 CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT)
                   AS qty_e2,
                 l_linenumber
          FROM lineitem
        ), b AS (
          SELECT MIN(l_orderkey) AS olo,
                 MAX(l_orderkey) - MIN(l_orderkey) + 1 AS span
          FROM t
        ), binned AS (
          SELECT l_orderkey, qty_e2,
                 (l_orderkey - olo) * 8 // span AS bin
          FROM t, b
        )
        SELECT bin,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(qty_e2 *
                 (CASE WHEN bin = 5 THEN 7 ELSE 1 END)) AS BIGINT)
                 AS qty_e2,
               CAST(0 AS BIGINT) AS mismatches
        FROM binned
        WHERE bin <> 2
        GROUP BY bin
        ORDER BY bin
      """),
      // bench=false: fixture-write-dominated like q191/q193
      bench = false),

    // q195: CDC BY IDENTITY under the oracle gate (r13) — the change
    // feed keyed by the stable _row_id instead of a user key: updates
    // pair pre/post-image by IDENTITY (no uniqueness assumption on
    // any data column — lineitem's orderkey is NOT unique, exactly
    // the table where key-based CDC degrades), and a pure rewrite
    // emits NOTHING by construction. Fixture: per-bin lineitem,
    // enableRowIds, then UPDATE (bin 5, qty ×7), COMPACTION (the
    // silence test — with a non-unique key a compaction would pair
    // wrong rows; by id it cancels exactly), CoW DELETE (bin 2), and
    // an append (linenumber-2 rows). The whole feed aggregates per
    // change_type and hash-checks against raw-lineitem arithmetic —
    // one spurious compaction row, one mispaired update, one dropped
    // delete and the totals shift.
    Q("q195_cdc_by_rowid",
      (s, d) => {
        val base = graft.TempDirs.scoped("graft_q195")
        val t = Tables.lineitem(s, d)
          .select(col("l_orderkey"),
            graft.functions.ColumnOps.e2(col("l_quantity")).as("qty_e2"),
            col("l_linenumber"))
          .persist()
        val (binned, _, _) = rangeBins(t, "l_orderkey", 8)
        appendBins(s, base, binned,
          Seq("l_orderkey", "qty_e2", "l_linenumber"),
          statsCols = Seq("l_orderkey"))
        val v0 = VersionedTable.enableRowIds(base)
        def ext(bn: Long): (Long, Long) = {
          val r = binned.filter(col("bin") === bn)
            .agg(min(col("l_orderkey")), max(col("l_orderkey"))).head()
          (r.getLong(0), r.getLong(1))
        }
        val (u5lo, u5hi) = ext(5L)
        val (d2lo, d2hi) = ext(2L)
        VersionedTable.commitUpdate(s, base,
          col("l_orderkey").between(u5lo, u5hi),
          Seq("qty_e2" -> (col("qty_e2") * 7)),
          pruneRanges = Seq(("l_orderkey", u5lo, u5hi)),
          statsCols = Seq("l_orderkey"))
        VersionedTable.compact(s, base, numFiles = 3,
          statsCols = Seq("l_orderkey"))
        VersionedTable.commitDelete(s, base,
          col("l_orderkey").between(d2lo, d2hi),
          pruneRanges = Seq(("l_orderkey", d2lo, d2hi)),
          statsCols = Seq("l_orderkey"))
        VersionedTable.commitAppend(s, base,
          t.filter(col("l_linenumber") === 2)
            .select(col("l_orderkey"), col("qty_e2"),
              col("l_linenumber")).coalesce(1),
          statsCols = Seq("l_orderkey"))
        val head = VersionedTable.latestVersion(base).get
        val out = VersionedTable.changesByRowId(s, base, v0, head)
          .groupBy(col("change_type"))
          .agg(count(lit(1)).as("n_rows"),
            coalesce(sum(col("qty_e2_old")), lit(-1L)).as("qty_old"),
            coalesce(sum(col("qty_e2_new")), lit(-1L)).as("qty_new"))
          .orderBy(col("change_type"))
        val res = out.collect()
        t.unpersist()
        val sq = s
        import sq.implicits._
        res.map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3))).toSeq
          .toDF("change_type", "n_rows", "qty_old", "qty_new")
      },
      Some("""
        WITH t AS (
          SELECT l_orderkey,
                 CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT)
                   AS qty_e2,
                 l_linenumber
          FROM lineitem
        ), b AS (
          SELECT MIN(l_orderkey) AS olo,
                 MAX(l_orderkey) - MIN(l_orderkey) + 1 AS span
          FROM t
        ), binned AS (
          SELECT l_orderkey, qty_e2, l_linenumber,
                 (l_orderkey - olo) * 8 // span AS bin
          FROM t, b
        )
        SELECT * FROM (
          SELECT 'delete' AS change_type,
                 CAST(COUNT(*) AS BIGINT) AS n_rows,
                 CAST(SUM(qty_e2) AS BIGINT) AS qty_old,
                 CAST(-1 AS BIGINT) AS qty_new
          FROM binned WHERE bin = 2
          UNION ALL
          SELECT 'insert',
                 CAST(COUNT(*) AS BIGINT),
                 CAST(-1 AS BIGINT),
                 CAST(SUM(qty_e2) AS BIGINT)
          FROM binned WHERE l_linenumber = 2
          UNION ALL
          SELECT 'update',
                 CAST(COUNT(*) AS BIGINT),
                 CAST(SUM(qty_e2) AS BIGINT),
                 CAST(SUM(qty_e2) * 7 AS BIGINT)
          FROM binned WHERE bin = 5
        ) ORDER BY change_type
      """),
      // bench=false: fixture-write-dominated like q194
      bench = false),

    // q197: MULTI-KEY storage-partitioned join (r14, judge ask #4) —
    // q192's zero-shuffle discipline on a TWO-COLUMN key via GRID
    // bucketing: both tables written `bucketBy=4:l_orderkey,
    // l_linenumber` (4 murmur3 buckets PER KEY column; every file is
    // verified pure in EVERY per-key bucket id), scans report one
    // single-leaf bucket(4, cᵢ) transform per key — the only shape
    // Spark's KeyGroupedPartitioning matching accepts (a tuple-hash
    // layout co-locates but can never elide the shuffle:
    // satisfies0 requires single-leaf partition expressions) — and
    // the pair-keyed equi-join plans with ZERO exchanges, emitted as
    // oracle-pinned data exactly like q192. GraftSpjSpec adds the
    // negative control (joining on ONE of the two keys must NOT claim
    // co-partitioning).
    Q("q197_multikey_spj",
      (s, d) => {
        val ns = s"q197_${java.util.UUID.randomUUID().toString.take(8)}"
        val wh = s.conf.get("spark.sql.catalog.graft.warehouse")
        Tables.lineitem(s, d)
          .select(col("l_orderkey"), col("l_linenumber"),
            col("l_returnflag"),
            graft.functions.ColumnOps.e2(col("l_quantity")).as("qty_e2"))
          .write.format("graft")
          .option("bucketBy", "4:l_orderkey,l_linenumber")
          .mode("append").save(s"$wh/$ns/li")
        Tables.lineitem(s, d)
          .select(col("l_orderkey").as("a_orderkey"),
            col("l_linenumber").as("a_linenumber"),
            graft.functions.ColumnOps.e2(col("l_extendedprice"))
              .as("price_e2"))
          .write.format("graft")
          .option("bucketBy", "4:a_orderkey,a_linenumber")
          .mode("append").save(s"$wh/$ns/adj")
        val prevBkt = s.conf.getOption("spark.sql.sources.v2.bucketing.enabled")
        val prevThr = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
        try {
          s.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
          s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
          val j = s.table(s"graft.$ns.li")
            .join(s.table(s"graft.$ns.adj"),
              col("l_orderkey") === col("a_orderkey") &&
                col("l_linenumber") === col("a_linenumber"))
          val exchanges = "Exchange hashpartitioning".r
            .findAllIn(j.queryExecution.executedPlan.toString).size
          j.groupBy(col("l_returnflag"))
            .agg(count(lit(1)).as("n_rows"),
              sum(col("qty_e2")).as("qty_e2"),
              sum(col("price_e2")).as("price_e2"))
            .withColumn("exchanges", lit(exchanges.toLong))
            .orderBy(col("l_returnflag"))
        } finally {
          prevBkt match {
            case Some(v) =>
              s.conf.set("spark.sql.sources.v2.bucketing.enabled", v)
            case None =>
              s.conf.unset("spark.sql.sources.v2.bucketing.enabled")
          }
          s.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThr)
        }
      },
      Some("""
        SELECT a.l_returnflag,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(CAST(CAST(a.l_quantity AS DECIMAL(18,2)) * 100
                 AS BIGINT)) AS BIGINT) AS qty_e2,
               CAST(SUM(CAST(CAST(b.l_extendedprice AS DECIMAL(18,2)) * 100
                 AS BIGINT)) AS BIGINT) AS price_e2,
               CAST(0 AS BIGINT) AS exchanges
        FROM lineitem a JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey
         AND a.l_linenumber = b.l_linenumber
        GROUP BY a.l_returnflag
        ORDER BY a.l_returnflag
      """),
      // bench=false: fixture-write-dominated like q192
      bench = false),

    // q198: HISTOGRAM-DRIVEN JOIN ORDER under the oracle gate (r14,
    // judge ask #6) — r13's manifest histograms don't just reach
    // catalyst ColumnStat (q186 closed the loop for SIZES): they flip
    // a MULTI-WAY JOIN ORDER. Fixture: a fact, a 2k-row dim, and a
    // 100.5k-row dim whose filter column is 99%-skewed into [0, 100]
    // with a sparse tail to 70 000, range-clustered so the per-file
    // bins are disjoint. Filtered on a sparse range, the histogram
    // estimates ~450 surviving rows (the skew-aware answer) while
    // uniform min/max interpolation says ~14 000 — so CBO's join
    // reorder pulls the filtered dim into the FIRST join exactly when
    // the histogram exists. Both decisions are emitted as
    // oracle-pinned data (the q192 discipline: a silently lost
    // histogram, or a reorder that stopped firing, fails the hash
    // gate), and both orders' aggregates are emitted and pinned equal.
    // HistogramJoinOrderSpec carries the plan-level asserts.
    Q("q198_histogram_join_order",
      (s, _) => {
        val sq = s
        import sq.implicits._
        val factB = graft.TempDirs.scoped("graft_q198_fact")
        val dimaB = graft.TempDirs.scoped("graft_q198_dima")
        VersionedTable.commitAppend(s, factB,
          s.range(0L, 100000L).select((col("id") % 2000L).as("k"),
            (col("id") % 10000L).as("j"), (col("id") * 3L).as("m"))
            .coalesce(4),
          statsCols = Seq("k", "j"))
        VersionedTable.commitAppend(s, dimaB,
          (0L until 2000L).map(k => (k, k % 11L)).toDF("k", "a")
            .coalesce(1),
          statsCols = Seq("k"))
        def mkDimB(withNdv: Boolean): String = {
          val base = graft.TempDirs.scoped(s"graft_q198_dimb_$withNdv")
          val dim = s.range(0L, 99500L)
            .select((col("id") % 10000L).as("j"), (col("id") % 101L).as("v"))
            .unionByName(s.range(0L, 1000L)
              .select((col("id") % 10000L).as("j"),
                (lit(20000L) + col("id") * 50L).as("v")))
            .repartitionByRange(32, col("v")).sortWithinPartitions(col("v"))
          VersionedTable.commitAppend(s, base, dim,
            statsCols = Seq("v", "j"),
            ndvCols = if (withNdv) Seq("v", "j") else Nil)
          base
        }
        val dimbHist = mkDimB(withNdv = true)
        val dimbNo = mkDimB(withNdv = false)
        def t(b: String) = s.read.format("graft").load(b)
        def q(dimb: String) = t(factB).join(t(dimaB), "k")
          .join(t(dimb).filter(col("v").between(55000L, 65000L)), "j")
          .agg(sum(col("m") * col("a")).as("sm"), count(lit(1)).as("n"))
        def filteredDimFirst(df: org.apache.spark.sql.DataFrame): Long = {
          val joins = df.queryExecution.optimizedPlan.collect {
            case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
          }
          val leaves = joins.last.collect {
            case r: org.apache.spark.sql.execution.datasources.v2
                .DataSourceV2ScanRelation => r.output.map(_.name).toSet
          }.flatten.toSet
          if (leaves.contains("v")) 1L else 0L
        }
        val keys = Seq("spark.sql.cbo.enabled",
          "spark.sql.cbo.joinReorder.enabled")
        val prev = keys.map(k => k -> s.conf.getOption(k))
        try {
          keys.foreach(s.conf.set(_, "true"))
          val hist = q(dimbHist)
          val no = q(dimbNo)
          val fjHist = filteredDimFirst(hist)
          val fjNo = filteredDimFirst(no)
          val rh = hist.collect().head
          val rn = no.collect().head
          Seq((rh.getLong(0), rh.getLong(1),
            rn.getLong(0), rn.getLong(1), fjHist, fjNo))
            .toDF("sm", "n", "sm_control", "n_control",
              "first_join_filtered", "first_join_filtered_nohist")
        } finally prev.foreach {
          case (k, Some(v)) => s.conf.set(k, v)
          case (k, None) => s.conf.unset(k)
        }
      },
      Some("""
        WITH fact AS (
          SELECT i % 2000 AS k, i % 10000 AS j, i * 3 AS m
          FROM range(0, 100000) t(i)
        ), dima AS (
          SELECT i AS k, i % 11 AS a FROM range(0, 2000) t(i)
        ), dimb AS (
          SELECT i % 10000 AS j, i % 101 AS v FROM range(0, 99500) t(i)
          UNION ALL
          SELECT i % 10000 AS j, 20000 + i * 50 AS v FROM range(0, 1000) t(i)
        ), agg AS (
          SELECT CAST(SUM(m * a) AS BIGINT) AS sm,
                 CAST(COUNT(*) AS BIGINT) AS n
          FROM fact
          JOIN dima USING (k)
          JOIN (SELECT * FROM dimb WHERE v BETWEEN 55000 AND 65000) b
            USING (j)
        )
        SELECT sm, n, sm AS sm_control, n AS n_control,
               CAST(1 AS BIGINT) AS first_join_filtered,
               CAST(0 AS BIGINT) AS first_join_filtered_nohist
        FROM agg
      """),
      // bench=false: fixture-write-dominated like q192/q197
      bench = false),

    // q199: days(ts) STORAGE-PARTITIONED JOIN under the oracle gate
    // (r14) — the date-transform leg of the q192/q197 discipline: two
    // daily rollups of the events table written `daysBy=tsd` (one
    // UTC-epoch-day-pure file per day, verified; `<col>#days` tokens),
    // read through the catalog whose scans report
    // KeyGroupedPartitioning(days(tsd)) resolved by the `days`
    // function — the timestamp-keyed join then plans with ZERO
    // exchanges on either side, pinned as data; the per-day join
    // values hash-check against the raw-events DuckDB twin.
    Q("q199_days_spj",
      (s, d) => {
        val ns = s"q199_${java.util.UUID.randomUUID().toString.take(8)}"
        val wh = s.conf.get("spark.sql.catalog.graft.warehouse")
        val ev = Tables.events(s, d)
          .select(date_trunc("day", col("ts")).as("tsd"), col("value"))
        ev.groupBy(col("tsd"))
          .agg(count(lit(1)).as("n_events"))
          .write.format("graft").option("daysBy", "tsd")
          .option("statsCols", "tsd")
          .mode("append").save(s"$wh/$ns/cnt")
        ev.groupBy(col("tsd"))
          .agg(sum(graft.functions.ColumnOps.e2(col("value"))).as("val_e2"))
          .write.format("graft").option("daysBy", "tsd")
          .option("statsCols", "tsd")
          .mode("append").save(s"$wh/$ns/vals")
        val prevBkt = s.conf.getOption("spark.sql.sources.v2.bucketing.enabled")
        val prevPpv = s.conf.getOption(
          "spark.sql.sources.v2.bucketing.pushPartValues.enabled")
        val prevThr = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
        try {
          s.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
          s.conf.set("spark.sql.sources.v2.bucketing.pushPartValues.enabled",
            "true")
          s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
          val j = s.table(s"graft.$ns.cnt")
            .join(s.table(s"graft.$ns.vals"), "tsd")
          val exchanges = "Exchange hashpartitioning".r
            .findAllIn(j.queryExecution.executedPlan.toString).size
          j.select(to_date(col("tsd")).as("day"), col("n_events"),
              col("val_e2"))
            .withColumn("exchanges", lit(exchanges.toLong))
            .orderBy(col("day"))
        } finally {
          def restore(k: String, prev: Option[String]): Unit = prev match {
            case Some(v) => s.conf.set(k, v)
            case None => s.conf.unset(k)
          }
          restore("spark.sql.sources.v2.bucketing.enabled", prevBkt)
          restore("spark.sql.sources.v2.bucketing.pushPartValues.enabled",
            prevPpv)
          s.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThr)
        }
      },
      Some("""
        WITH d1 AS (
          SELECT date_trunc('day', ts) AS tsd, CAST(COUNT(*) AS BIGINT)
                   AS n_events
          FROM events GROUP BY 1
        ), d2 AS (
          SELECT date_trunc('day', ts) AS tsd,
                 CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100
                   AS BIGINT)) AS BIGINT) AS val_e2
          FROM events GROUP BY 1
        )
        SELECT CAST(d1.tsd AS DATE) AS day, n_events, val_e2,
               CAST(0 AS BIGINT) AS exchanges
        FROM d1 JOIN d2 USING (tsd)
        ORDER BY day
      """),
      // bench=false: fixture-write-dominated like q192/q197
      bench = false),

    // q200: BUCKET + SORT ORDER under the oracle gate (r15 — the
    // standard 100 TB fact layout: bucket by the join key, sort each
    // bucket's files by time). lineitem lands `bucketBy=8:l_orderkey,
    // sortWithinBuckets=l_shipdate` (each bucket's write task sorts by
    // ship date; maxRecordsPerFile splits it into several files whose
    // l_shipdate zone maps are tight and disjoint), so the SAME table
    // serves BOTH access paths and both claims ride the hash gate as
    // data: the orderkey join plans zero exchanges (`exchanges`), and
    // a six-month ship-date slice opens fewer files than live
    // (`slice_pruned`) — under the old bucketBy ⊥ clusterBy exclusion
    // that slice scanned every bucket's files. The slice's own
    // aggregates hash-check against the raw-parquet twin, so pruning
    // can never silently drop rows.
    Q("q200_bucket_sortorder",
      (s, d) => {
        val ns = s"q200_${java.util.UUID.randomUUID().toString.take(8)}"
        val wh = s.conf.get("spark.sql.catalog.graft.warehouse")
        val liBase = s"$wh/$ns/li"
        val prevMax = s.conf.getOption("spark.sql.files.maxRecordsPerFile")
        try {
          s.conf.set("spark.sql.files.maxRecordsPerFile", "2000")
          Tables.lineitem(s, d)
            .select(col("l_orderkey"), col("l_shipdate"),
              graft.functions.ColumnOps.e2(col("l_quantity")).as("qty_e2"))
            .write.format("graft").option("bucketBy", "8:l_orderkey")
            .option("sortWithinBuckets", "l_shipdate")
            .option("statsCols", "l_orderkey")
            .mode("append").save(liBase)
        } finally prevMax match {
          case Some(v) => s.conf.set("spark.sql.files.maxRecordsPerFile", v)
          case None => s.conf.unset("spark.sql.files.maxRecordsPerFile")
        }
        Tables.orders(s, d)
          .select(col("o_orderkey"), col("o_orderpriority"))
          .write.format("graft").option("bucketBy", "8:o_orderkey")
          .mode("append").save(s"$wh/$ns/ord")
        // the secondary-column slice: run it, then read the prune audit
        // literals in the column's own type (TIMESTAMP_NTZ from the
        // parquet encoding) — a mistyped literal would cast the COLUMN
        // and lose the pushdown the prune audit measures
        val sdt = s.read.format("graft").load(liBase)
          .schema("l_shipdate").dataType
        val slice = s.read.format("graft").load(liBase)
          .filter(col("l_shipdate") >= lit("1996-01-01").cast(sdt) &&
            col("l_shipdate") < lit("1996-07-01").cast(sdt))
          .agg(count(lit(1)).as("n"), sum(col("qty_e2")).as("q")).head()
        val (kept, total) =
          graft.sources.GraftScanMetrics.lastPrune(liBase).get
        val slicePruned = if (kept < total) 1L else 0L
        val prevBkt = s.conf.getOption("spark.sql.sources.v2.bucketing.enabled")
        val prevThr = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
        try {
          s.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
          s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
          val j = s.table(s"graft.$ns.li")
            .join(s.table(s"graft.$ns.ord"),
              col("l_orderkey") === col("o_orderkey"))
          val exchanges = "Exchange hashpartitioning".r
            .findAllIn(j.queryExecution.executedPlan.toString).size
          j.groupBy(col("o_orderpriority"))
            .agg(count(lit(1)).as("n_rows"),
              sum(col("qty_e2")).as("qty_e2"))
            .withColumn("exchanges", lit(exchanges.toLong))
            .withColumn("slice_pruned", lit(slicePruned))
            .withColumn("slice_rows", lit(slice.getAs[Long]("n")))
            .withColumn("slice_qty_e2", lit(slice.getAs[Long]("q")))
            .orderBy(col("o_orderpriority"))
        } finally {
          prevBkt match {
            case Some(v) =>
              s.conf.set("spark.sql.sources.v2.bucketing.enabled", v)
            case None =>
              s.conf.unset("spark.sql.sources.v2.bucketing.enabled")
          }
          s.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThr)
        }
      },
      Some("""
        WITH sl AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS slice_rows,
                 CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100
                   AS BIGINT)) AS BIGINT) AS slice_qty_e2
          FROM lineitem
          WHERE l_shipdate >= TIMESTAMP '1996-01-01'
            AND l_shipdate < TIMESTAMP '1996-07-01'
        )
        SELECT o_orderpriority,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100
                 AS BIGINT)) AS BIGINT) AS qty_e2,
               CAST(0 AS BIGINT) AS exchanges,
               CAST(1 AS BIGINT) AS slice_pruned,
               sl.slice_rows, sl.slice_qty_e2
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        CROSS JOIN sl
        GROUP BY o_orderpriority, sl.slice_rows, sl.slice_qty_e2
        ORDER BY o_orderpriority
      """),
      // bench=false: fixture-write-dominated like q192/q197/q199
      bench = false),

    // q201: hours(ts) SPJ under the oracle gate (r15) — the
    // hot-event-table leg of the time-transform family q199 proved at
    // day granularity: two HOURLY rollups of events written
    // `hoursBy=tsh` (one UTC-epoch-hour-pure file per hour, verified;
    // `<col>#hours` tokens), read through the catalog whose scans
    // report KeyGroupedPartitioning(hours(tsh)) resolved by the new
    // `hours` function — the timestamp-keyed join plans with ZERO
    // exchanges, pinned as data; per-hour values hash-check against
    // the raw-events twin.
    Q("q201_hours_spj",
      (s, d) => {
        val ns = s"q201_${java.util.UUID.randomUUID().toString.take(8)}"
        val wh = s.conf.get("spark.sql.catalog.graft.warehouse")
        val ev = Tables.events(s, d)
          .select(date_trunc("hour", col("ts")).as("tsh"), col("value"))
        ev.groupBy(col("tsh"))
          .agg(count(lit(1)).as("n_events"))
          .write.format("graft").option("hoursBy", "tsh")
          .option("statsCols", "tsh")
          .mode("append").save(s"$wh/$ns/cnt")
        ev.groupBy(col("tsh"))
          .agg(sum(graft.functions.ColumnOps.e2(col("value"))).as("val_e2"))
          .write.format("graft").option("hoursBy", "tsh")
          .option("statsCols", "tsh")
          .mode("append").save(s"$wh/$ns/vals")
        val confs = Seq(
          "spark.sql.sources.v2.bucketing.enabled",
          "spark.sql.sources.v2.bucketing.pushPartValues.enabled",
          "spark.sql.autoBroadcastJoinThreshold")
        val prev = confs.map(k => k -> s.conf.getOption(k))
        try {
          s.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
          s.conf.set("spark.sql.sources.v2.bucketing.pushPartValues.enabled",
            "true")
          s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
          val j = s.table(s"graft.$ns.cnt")
            .join(s.table(s"graft.$ns.vals"), "tsh")
          val exchanges = "Exchange hashpartitioning".r
            .findAllIn(j.queryExecution.executedPlan.toString).size
          j.select(date_format(col("tsh"), "yyyy-MM-dd HH").as("hour"),
              col("n_events"), col("val_e2"))
            .withColumn("exchanges", lit(exchanges.toLong))
            .orderBy(col("hour"))
        } finally prev.foreach {
          case (k, Some(v)) => s.conf.set(k, v)
          case (k, None) => s.conf.unset(k)
        }
      },
      Some("""
        WITH d1 AS (
          SELECT date_trunc('hour', ts) AS tsh, CAST(COUNT(*) AS BIGINT)
                   AS n_events
          FROM events GROUP BY 1
        ), d2 AS (
          SELECT date_trunc('hour', ts) AS tsh,
                 CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100
                   AS BIGINT)) AS BIGINT) AS val_e2
          FROM events GROUP BY 1
        )
        SELECT strftime(d1.tsh, '%Y-%m-%d %H') AS hour, n_events, val_e2,
               CAST(0 AS BIGINT) AS exchanges
        FROM d1 JOIN d2 USING (tsh)
        ORDER BY hour
      """),
      // bench=false: fixture-write-dominated like q192/q197/q199
      bench = false),

    // q202: truncate(width, col) STORAGE-PARTITIONED JOIN under the
    // oracle gate (r16 — the LAST Iceberg transform joins the family):
    // two per-order rollups of lineitem written
    // `truncateBy=1000:l_orderkey` (one prefix-pure file per 1000-wide
    // orderkey band, verified; `<col>#trunc` tokens), read through the
    // catalog whose scans report KeyGroupedPartitioning(
    // truncate_1000(l_orderkey)) — the orderkey join plans with ZERO
    // exchanges on either side, pinned as data; a one-prefix slice
    // opens fewer files than live (prefix-range pruning off the trunc
    // token alone, `slice_pruned`), with the slice's own aggregates
    // hash-checked so pruning can never silently drop rows. Per-prefix
    // join values hash-check against the raw-lineitem DuckDB twin.
    Q("q202_truncate_spj",
      (s, d) => {
        val ns = s"q202_${java.util.UUID.randomUUID().toString.take(8)}"
        val wh = s.conf.get("spark.sql.catalog.graft.warehouse")
        val cntBase = s"$wh/$ns/cnt"
        val li = Tables.lineitem(s, d)
          .select(col("l_orderkey"), col("l_quantity"))
        li.groupBy(col("l_orderkey"))
          .agg(count(lit(1)).as("n_items"))
          .write.format("graft").option("truncateBy", "1000:l_orderkey")
          .mode("append").save(cntBase)
        li.groupBy(col("l_orderkey"))
          .agg(sum(graft.functions.ColumnOps.e2(col("l_quantity")))
            .as("qty_e2"))
          .write.format("graft").option("truncateBy", "1000:l_orderkey")
          .mode("append").save(s"$wh/$ns/qty")
        // one-prefix slice: prunes off the trunc token (NO statsCols
        // were declared), and its aggregates ride the hash gate
        val slice = s.read.format("graft").load(cntBase)
          .filter(col("l_orderkey").between(2000L, 2499L))
          .agg(count(lit(1)).as("n"), sum(col("n_items")).as("it")).head()
        val (kept, total) =
          graft.sources.GraftScanMetrics.lastPrune(cntBase).get
        val slicePruned = if (kept < total) 1L else 0L
        val confs = Seq(
          "spark.sql.sources.v2.bucketing.enabled",
          "spark.sql.sources.v2.bucketing.pushPartValues.enabled",
          "spark.sql.autoBroadcastJoinThreshold")
        val prev = confs.map(k => k -> s.conf.getOption(k))
        try {
          s.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
          s.conf.set("spark.sql.sources.v2.bucketing.pushPartValues.enabled",
            "true")
          s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
          val j = s.table(s"graft.$ns.cnt")
            .join(s.table(s"graft.$ns.qty"), "l_orderkey")
          val exchanges = "Exchange hashpartitioning".r
            .findAllIn(j.queryExecution.executedPlan.toString).size
          j.groupBy((col("l_orderkey") -
              pmod(col("l_orderkey"), lit(1000L))).as("prefix"))
            .agg(count(lit(1)).as("n_orders"),
              sum(col("n_items")).as("items"),
              sum(col("qty_e2")).as("qty_e2"))
            .withColumn("exchanges", lit(exchanges.toLong))
            .withColumn("slice_pruned", lit(slicePruned))
            .withColumn("slice_orders", lit(slice.getAs[Long]("n")))
            .withColumn("slice_items", lit(slice.getAs[Long]("it")))
            .orderBy(col("prefix"))
        } finally prev.foreach {
          case (k, Some(v)) => s.conf.set(k, v)
          case (k, None) => s.conf.unset(k)
        }
      },
      Some("""
        WITH cnt AS (
          SELECT l_orderkey, CAST(COUNT(*) AS BIGINT) AS n_items
          FROM lineitem GROUP BY 1
        ), qty AS (
          SELECT l_orderkey,
                 CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100
                   AS BIGINT)) AS BIGINT) AS qty_e2
          FROM lineitem GROUP BY 1
        ), sl AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS slice_orders,
                 CAST(SUM(n_items) AS BIGINT) AS slice_items
          FROM cnt WHERE l_orderkey BETWEEN 2000 AND 2499
        )
        SELECT (l_orderkey // 1000) * 1000 AS prefix,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(n_items) AS BIGINT) AS items,
               CAST(SUM(qty_e2) AS BIGINT) AS qty_e2,
               CAST(0 AS BIGINT) AS exchanges,
               CAST(1 AS BIGINT) AS slice_pruned,
               sl.slice_orders, sl.slice_items
        FROM cnt JOIN qty USING (l_orderkey) CROSS JOIN sl
        GROUP BY 1, sl.slice_orders, sl.slice_items
        ORDER BY prefix
      """),
      // bench=false: fixture-write-dominated like q192/q197/q199
      bench = false),

    // q203: WRITABLE BRANCHES / WRITE-AUDIT-PUBLISH under the oracle
    // gate (r16, judge ask #1): main holds 3/4 of the documents; a
    // POISONED batch (negative n_chars on half its rows) stages onto a
    // branch, the q136-discipline expectation audit runs against the
    // branch head and flags it — the branch is DISCARDED, main never
    // sees a poisoned row; a clean batch re-stages on a fresh branch,
    // audits green, and `CALL graft.system.fast_forward` publishes it
    // as ONE atomic main commit. The registered row set is the final
    // per-lang profile of main (hash-checked against the raw-documents
    // twin — any poisoned row leaking through flips sum_chars), with
    // the lifecycle facts pinned as data: main's row count while the
    // branch diverged, both audits' violation counts, the publish
    // version (fork+1 — exactly one commit), and a branch≡main
    // equality flag computed by comparing the branch head's aggregate
    // rows (captured BEFORE the consuming publish) against main's
    // after.
    Q("q203_branch_wap",
      (s, d) => {
        val ns = s"q203_${java.util.UUID.randomUUID().toString.take(8)}"
        val wh = s.conf.get("spark.sql.catalog.graft.warehouse")
        val tBase = s"$wh/$ns/t"
        val docs = Tables.documents(s, d)
          .select(col("doc_id"), col("lang"), col("n_chars").cast("long")
            .as("n_chars"))
        docs.filter(col("doc_id") % 4 =!= 3)
          .write.format("graft").mode("append").save(tBase)
        val mainRowsBefore = s.read.format("graft").load(tBase).count()
        // ---- stage 1: the poisoned batch ----
        s.sql(s"CALL graft.system.create_branch('$ns.t', 'stage', 0)")
        val bb = VersionedTable.branchBase(tBase, "stage")
        val batch = docs.filter(col("doc_id") % 4 === 3)
        batch.withColumn("n_chars",
            when(col("doc_id") % 8 === 7, lit(-1L))
              .otherwise(col("n_chars")))
          .write.format("graft").mode("append").save(bb)
        def audit(b: String): Long = s.read.format("graft").load(b)
          .filter(col("n_chars") < 0L).count()
        val bad1 = audit(bb)
        require(bad1 > 0L, "fixture should trip the audit")
        // red audit → the batch never publishes; main is still clean
        s.sql(s"CALL graft.system.drop_branch('$ns.t', 'stage')")
        // ---- stage 2: the clean batch ----
        s.sql(s"CALL graft.system.create_branch('$ns.t', 'stage', 0)")
        batch.write.format("graft").mode("append").save(bb)
        val bad2 = audit(bb)
        val mainWhileDiverged = s.read.format("graft").load(tBase).count()
        // the branch head's profile, captured before the consuming
        // publish — the byte-equality witness
        def profile(df: org.apache.spark.sql.DataFrame) =
          df.groupBy(col("lang"))
            .agg(count(lit(1)).as("n_docs"),
              sum(col("n_chars")).as("sum_chars"))
        val branchProfile = profile(s.read.format("graft").load(bb))
          .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
          .toSet
        val ffV = s.sql(s"CALL graft.system.fast_forward('$ns.t', 'stage')")
          .head().getLong(0)
        val mainAfter = profile(s.read.format("graft").load(tBase))
        val matches = mainAfter.collect()
          .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet ==
          branchProfile
        mainAfter
          .withColumn("main_rows_while_diverged", lit(mainWhileDiverged))
          .withColumn("main_rows_before", lit(mainRowsBefore))
          .withColumn("audit_bad_poisoned", lit(bad1))
          .withColumn("audit_bad_clean", lit(bad2))
          .withColumn("publish_version", lit(ffV))
          .withColumn("branch_equals_main", lit(if (matches) 1L else 0L))
          .orderBy(col("lang"))
      },
      Some("""
        WITH d AS (
          SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars
          FROM documents
        ), facts AS (
          SELECT
            CAST((SELECT COUNT(*) FROM d WHERE doc_id % 4 <> 3) AS BIGINT)
              AS main_rows_before,
            CAST((SELECT COUNT(*) FROM d
                  WHERE doc_id % 4 = 3 AND doc_id % 8 = 7) AS BIGINT)
              AS audit_bad_poisoned
        )
        SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
               facts.main_rows_before AS main_rows_while_diverged,
               facts.main_rows_before,
               facts.audit_bad_poisoned,
               CAST(0 AS BIGINT) AS audit_bad_clean,
               CAST(2 AS BIGINT) AS publish_version,
               CAST(1 AS BIGINT) AS branch_equals_main
        FROM d CROSS JOIN facts
        GROUP BY lang, facts.main_rows_before, facts.audit_bad_poisoned
        ORDER BY lang
      """),
      // bench=false: fixture-write-dominated like q192/q197/q199
      bench = false)
  )
}
