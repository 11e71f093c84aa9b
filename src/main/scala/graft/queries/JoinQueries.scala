package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Q, Tables}

/** Join shapes Spark lacks as primitives, composed scale-safe from
  * built-ins (the SURVEY §2.5 "custom operators" preference order:
  * compose before dropping to custom plans).
  */
object JoinQueries {

  private def dec2(c: Column): Column = c.cast("decimal(18,2)")

  val all: Seq[Q] = Seq(

    // ---------------------------------------------------------------
    // q53: AS-OF join — each click matched to the same user's latest
    // purchase at or before it (attribution). Composed as the classic
    // scale-safe union + partitioned last-non-null window: ONE shuffle
    // keyed by user_id, per-key sorted scan, no range join explosion.
    // Ties (purchase at the click's exact timestamp) count as prior —
    // purchases sort before clicks at equal ts. DuckDB's native ASOF
    // LEFT JOIN is the oracle.
    Q("q53_asof_join",
      (s, d) => {
        val e = Tables.events(s, d)
        val purchases = e.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts"), lit(0).as("kind"),
            lit(null).cast("long").as("event_id"), col("ts").as("pts"))
        val clicks = e.filter(col("event_type") === "click")
          .select(col("user_id"), col("ts"), lit(1).as("kind"),
            col("event_id"), lit(null).cast("timestamp").as("pts"))
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("kind"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        purchases.unionByName(clicks)
          .withColumn("asof_pts", last(col("pts"), ignoreNulls = true).over(w))
          .filter(col("kind") === 1)
          .select(col("event_id"), col("user_id"),
            date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("click_ts"),
            date_format(col("asof_pts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("purchase_ts"))
          .orderBy(col("event_id"))
      },
      Some("""
        WITH clicks AS (
          SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
        ), purchases AS (
          SELECT user_id, ts FROM events WHERE event_type = 'purchase'
        )
        SELECT c.event_id, c.user_id,
               strftime(c.ts, '%Y-%m-%d %H:%M:%S.%f') AS click_ts,
               strftime(p.ts, '%Y-%m-%d %H:%M:%S.%f') AS purchase_ts
        FROM clicks c ASOF LEFT JOIN purchases p
          ON c.user_id = p.user_id AND c.ts >= p.ts
        ORDER BY c.event_id
      """)),

    // ---------------------------------------------------------------
    // q54: range (band) join — every lineitem priced into a tier table
    // by value interval. The tier side is tiny and broadcast, so the
    // non-equi join is a BroadcastNestedLoopJoin over 3 rows — the plan
    // you want; a shuffle range-join is only needed when BOTH sides are
    // large.
    Q("q54_range_join",
      (s, d) => {
        val spark = s
        import spark.implicits._
        val tiers = Seq(
          (0, 20000, "low"), (20000, 45000, "mid"),
          (45000, 1000000, "high")).toDF("lo", "hi", "tier")
        Tables.lineitem(s, d)
          .join(broadcast(tiers),
            col("l_extendedprice") >= col("lo") && col("l_extendedprice") < col("hi"))
          .groupBy(col("tier"))
          .agg(count(lit(1)).as("n"),
            sum(dec2(col("l_extendedprice"))).cast("decimal(18,2)").as("total"))
          .orderBy(col("tier"))
      },
      Some("""
        SELECT tier, COUNT(*) AS n,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS total
        FROM lineitem
        JOIN (VALUES (0, 20000, 'low'), (20000, 45000, 'mid'),
                     (45000, 1000000, 'high')) AS t(lo, hi, tier)
          ON l_extendedprice >= lo AND l_extendedprice < hi
        GROUP BY tier ORDER BY tier
      """)),

    // ---------------------------------------------------------------
    // q69: bucketed co-located join — both sides written bucketed on
    // the join key, then joined with a merge hint: the join plans with
    // ZERO shuffle exchanges (BucketedJoinSpec pins that plan, with a
    // positive control showing the unbucketed twin DOES shuffle). At
    // 100 TB the exchange, not the join, is the bottleneck; bucketing
    // pays it once at write time and amortizes it across every
    // downstream join on that key. The merge hint keeps the entry
    // honest at sf0.01, where the dim side is otherwise broadcast-sized
    // and the bucket layout would never be consulted.
    Q("q69_bucketed_join",
      (s, d) => {
        import graft.functions.ColumnOps.e2
        // bucketed tables are written ONCE per (session, sfDir) — the
        // production shape (bucketing amortizes across joins), and it
        // keeps repeated registry runs from stacking copies in /tmp.
        // Table names carry the sfDir hash so two datasets in one
        // session can't clobber each other's catalog entries.
        val tag = Integer.toHexString(d.hashCode)
        val (ot, ct) = (s"graft_q69_orders_$tag", s"graft_q69_customer_$tag")
        graft.Artifacts.once("bucketed-tables", s, d) {
          val tmp = graft.TempDirs.scoped("graft_q69")
          Tables.orders(s, d).write.mode("overwrite")
            .bucketBy(8, "o_custkey").sortBy("o_custkey")
            .option("path", s"$tmp/orders").saveAsTable(ot)
          Tables.customer(s, d).write.mode("overwrite")
            .bucketBy(8, "c_custkey").sortBy("c_custkey")
            .option("path", s"$tmp/customer").saveAsTable(ct)
          tmp
        }
        s.table(ot).hint("merge")
          .join(s.table(ct),
            col("o_custkey") === col("c_custkey"))
          .groupBy(col("c_mktsegment"))
          .agg(count(lit(1)).as("n_orders"),
            sum(e2(col("o_totalprice"))).as("total_e2"))
          .orderBy(col("c_mktsegment"))
      },
      Some("""
        SELECT c_mktsegment, COUNT(*) AS n_orders,
               CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS total_e2
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY c_mktsegment ORDER BY c_mktsegment
      """),
      // excluded from the headline timing set: the entry's cost is the
      // bucketed table WRITE (a one-off amortized cost in production),
      // which would drown the join being measured
      bench = false),

    // ---------------------------------------------------------------
    // q123: co-purchase item-item similarity — the classic
    // co-occurrence join (market-basket / item-based collaborative
    // filtering). Pair generation is the scale-critical step: the
    // self-join is keyed on l_orderkey, so fan-out per order is
    // basket_size² — bounded by the largest basket (≤ 7 lineitems in
    // this schema), NEVER corpus². The pair aggregate shuffles on
    // (item, item); item frequencies are a catalog-bounded side joined
    // after the co ≥ 2 support filter has already shrunk the pair
    // table. Similarity is exact integer cosine²: co²·10⁶ div (nᵢ·nⱼ)
    // — no floats, engine-independent (domain note: co²·10⁶ fits long
    // for co up to ~3·10⁶; at web-scale co-counts, divide before
    // scaling or go to DECIMAL). For unbounded baskets (a user-item
    // matrix, not orders) the sampling variant of this join is DIMSUM;
    // the bounded-basket exact form is the right tool here. The edge
    // table is session-memoized to a temp parquet (copurchaseEdges);
    // q125 reads the same artifact instead of re-running the join.
    Q("q123_copurchase_similarity",
      (s, d) => {
        // r18: the frequency table is the memo's second artifact — the
        // former inline oi.groupBy(pk) re-scanned lineitem and re-paid
        // the distinct exchange on every run
        val cnt = copurchaseArtifacts(s, d)._2
        copurchaseEdges(s, d)
          .join(cnt.withColumnRenamed("pk", "pi").withColumnRenamed("n", "ni"), "pi")
          .join(cnt.withColumnRenamed("pk", "pj").withColumnRenamed("n", "nj"), "pj")
          .select(col("pi"), col("pj"), col("co"),
            expr("co * co * 1000000 DIV (ni * nj)").as("cos2_e6"))
          .orderBy(col("cos2_e6").desc, col("pi"), col("pj"))
          .limit(100)
      },
      Some("""
        WITH oi AS (
          SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
        ), cnt AS (
          SELECT pk, COUNT(*) AS n FROM oi GROUP BY pk
        ), pairs AS (
          SELECT a.pk AS pi, b.pk AS pj, COUNT(*) AS co
          FROM oi a JOIN oi b ON a.ok = b.ok AND a.pk < b.pk
          GROUP BY 1, 2 HAVING COUNT(*) >= 2
        )
        SELECT pi, pj, CAST(co AS BIGINT) AS co,
               CAST(co * co * 1000000 // (ci.n * cj.n) AS BIGINT) AS cos2_e6
        FROM pairs
        JOIN cnt ci ON pi = ci.pk JOIN cnt cj ON pj = cj.pk
        ORDER BY cos2_e6 DESC, pi, pj LIMIT 100
      """)),

    // ---------------------------------------------------------------
    // q125: triangle count on the co-purchase graph — the standard
    // graph-cohesion metric, via `operators.Triangles`: edges are
    // oriented low-degree → high-degree (ties by id), so each triangle
    // is generated exactly once by the wedge equi-join + closure
    // equi-join AND per-vertex wedge work is bounded by arboricity
    // (Chiba–Nishizeki) — a degree-d hub contributes ZERO oriented
    // wedges instead of the ~(d/2)² an id-order can leave it
    // (TrianglesSpec pins the separation on a star+clique fixture).
    // Wedge fan-out runs on the SUPPORT-FILTERED edge set (co ≥ 2).
    // The clustering coefficient uses the UNORIENTED 2-path count
    // Σ_v C(deg(v), 2) as its denominator (the oriented wedge set sees
    // each triangle only once — it is a generation artifact, not the
    // metric's denominator), reusing the degree table the orientation
    // already built: clustering_e6 = 3·tri·10⁶ div Σ C(deg,2), exact
    // integers (deg·(deg−1) is always even). The oriented edge frame
    // is persisted — it feeds the wedge join, the closure join, and
    // the edge count.
    Q("q125_triangle_count",
      (s, d) => {
        val e = copurchaseEdges(s, d).select(col("pi"), col("pj"))
        val (o0, deg) = graft.operators.Triangles.orientByDegree(e)
        val o = o0.persist()
        val paths2 = deg
          .agg(sum(expr("deg * (deg - 1) DIV 2")).as("n_wedges"))
        o.agg(count(lit(1)).as("n_edges"))
          .crossJoin(broadcast(paths2))
          .crossJoin(broadcast(graft.operators.Triangles.countOriented(o)))
          .select(col("n_edges"), col("n_wedges"), col("n_triangles"),
            // nullif guard: on a degenerate edge set Spark DIV null-s
            // where DuckDB // raises — align both on NULL
            expr("n_triangles * 3 * 1000000 DIV nullif(n_wedges, 0)")
              .as("clustering_e6"))
      },
      Some("""
        WITH oi AS (
          SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
        ), e AS (
          SELECT a.pk AS pi, b.pk AS pj
          FROM oi a JOIN oi b ON a.ok = b.ok AND a.pk < b.pk
          GROUP BY 1, 2 HAVING COUNT(*) >= 2
        ), deg AS (
          SELECT v, COUNT(*) AS deg FROM (
            SELECT pi AS v FROM e UNION ALL SELECT pj FROM e)
          GROUP BY 1
        ), w2 AS (
          SELECT SUM(deg * (deg - 1) // 2) AS n_wedges FROM deg
        ), t AS (
          SELECT COUNT(*) AS n_triangles
          FROM (SELECT e1.pi AS a, e2.pj AS c
                FROM e e1 JOIN e e2 ON e1.pj = e2.pi) w
          JOIN e e3 ON w.a = e3.pi AND w.c = e3.pj
        )
        SELECT CAST((SELECT COUNT(*) FROM e) AS BIGINT) AS n_edges,
               CAST(n_wedges AS BIGINT) AS n_wedges,
               CAST(n_triangles AS BIGINT) AS n_triangles,
               CAST(n_triangles * 3 * 1000000 // nullif(n_wedges, 0) AS BIGINT)
                 AS clustering_e6
        FROM t, w2
      """)),

    // ---------------------------------------------------------------
    // q137: approximate string join (edit distance ≤ 1) — entity
    // resolution's fuzzy-match core, via DELETION-NEIGHBORHOOD
    // blocking (FastSS): each name emits its len+1 single-deletion
    // variants (itself included); two strings within one edit —
    // insertion, deletion, or substitution — provably share a variant,
    // so candidates come from an EQUI-join on the variant key and the
    // O(n²) all-pairs compare lives only in the DuckDB oracle. Exact
    // levenshtein runs on candidates alone (codegen'd built-in). At k
    // edits the neighborhood is C(len, k)-sized — this is the k=1
    // sweet spot; larger k wants q40's gram machinery instead. Scale:
    // variant fan-out is len+1 per row, the join is keyed on variant,
    // and candidate volume is governed by blocking selectivity, not
    // corpus².
    Q("q137_fuzzy_name_join",
      (s, d) => {
        val sup = Tables.supplier(s, d)
          .select(col("s_suppkey").as("k"), lower(col("s_name")).as("nm"))
        val vars = sup.select(col("k"), col("nm"),
          explode(expr(
            """array_union(array(nm),
                 transform(sequence(0, length(nm) - 1),
                   i -> concat(substring(nm, 1, i), substring(nm, i + 2))))"""
          )).as("v"))
        vars.as("a")
          .join(vars.as("b"), col("a.v") === col("b.v") && col("a.k") < col("b.k"))
          .select(col("a.k").as("ka"), col("b.k").as("kb"),
            col("a.nm").as("na"), col("b.nm").as("nb"))
          .distinct()
          .filter(levenshtein(col("na"), col("nb")) <= 1)
          .select(col("ka"), col("kb"),
            levenshtein(col("na"), col("nb")).cast("int").as("dist"))
          .orderBy(col("ka"), col("kb"))
      },
      Some("""
        WITH s AS (
          SELECT s_suppkey AS k, LOWER(s_name) AS nm FROM supplier
        )
        SELECT a.k AS ka, b.k AS kb,
               CAST(levenshtein(a.nm, b.nm) AS INT) AS dist
        FROM s a JOIN s b ON a.k < b.k
        WHERE levenshtein(a.nm, b.nm) <= 1
        ORDER BY ka, kb
      """)),

    // ---------------------------------------------------------------
    // q139: approximate string join at edit distance ≤ 2 — q137's
    // FastSS blocking generalized to k=2: the deletion neighborhood
    // grows from len+1 variants to 1 + len + C(len,2) (172 for the
    // 18-char names here; O(len²/2) generally — this is the practical
    // ceiling: k=3 cubes the fan-out and q40's gram machinery takes
    // over). Two strings within 2 edits provably share a ≤2-deletion
    // variant, so candidates still come from one EQUI-join on the
    // variant key; candidate volume is governed by blocking
    // selectivity — the variant join over-generates (sharing a variant
    // is necessary, not sufficient), the exact codegen'd levenshtein
    // prunes after a per-pair DISTINCT collapses multi-variant
    // collisions (an ed≤2 pair can share ~2·len variants — dedupe
    // BEFORE the O(len²) distance, not after). Two volume levers vs
    // the naive shape: variants travel as xxhash64 LONGS (a collision
    // only ADDS a candidate, which levenshtein then rejects — never
    // drops a true pair), and the candidate distinct carries only the
    // (ka, kb) key pair; names re-attach afterwards from the broadcast
    // dimension. All-pairs levenshtein lives only in the oracle.
    Q("q139_fuzzy_join_k2",
      (s, d) => {
        val sup = Tables.supplier(s, d)
          .select(col("s_suppkey").as("k"), lower(col("s_name")).as("nm"))
        val vars = sup.select(col("k"),
          explode(expr(
            """array_distinct(concat(
                 array(nm),
                 CASE WHEN length(nm) >= 1 THEN
                   transform(sequence(0, length(nm) - 1),
                     i -> concat(substring(nm, 1, i), substring(nm, i + 2)))
                 ELSE array() END,
                 CASE WHEN length(nm) >= 2 THEN
                   flatten(transform(sequence(0, length(nm) - 2), i ->
                     transform(sequence(i + 1, length(nm) - 1), j ->
                       concat(substring(nm, 1, i),
                              substring(nm, i + 2, j - i - 1),
                              substring(nm, j + 2)))))
                 ELSE array() END))"""
          )).as("v"))
          .select(col("k"), xxhash64(col("v")).as("vh"))
        val cand = vars.as("a")
          .join(vars.as("b"), col("a.vh") === col("b.vh") && col("a.k") < col("b.k"))
          .select(col("a.k").as("ka"), col("b.k").as("kb"))
          .distinct()
        cand
          .join(broadcast(sup.select(col("k").as("ka"), col("nm").as("na"))), "ka")
          .join(broadcast(sup.select(col("k").as("kb"), col("nm").as("nb"))), "kb")
          .filter(levenshtein(col("na"), col("nb")) <= 2)
          .select(col("ka"), col("kb"),
            levenshtein(col("na"), col("nb")).cast("int").as("dist"))
          .orderBy(col("ka"), col("kb"))
      },
      Some("""
        WITH s AS (
          SELECT s_suppkey AS k, LOWER(s_name) AS nm FROM supplier
        )
        SELECT a.k AS ka, b.k AS kb,
               CAST(levenshtein(a.nm, b.nm) AS INT) AS dist
        FROM s a JOIN s b ON a.k < b.k
        WHERE levenshtein(a.nm, b.nm) <= 2
        ORDER BY ka, kb
      """)),

    // ---------------------------------------------------------------
    // q144: end-to-end ENTITY RESOLUTION (r9) — the record-linkage
    // pipeline q137 is the matching core of, run to completion:
    // (1) candidate pairs via FastSS k=1 deletion-neighborhood
    // blocking + exact levenshtein verify (q137's shape verbatim);
    // (2) match pairs closed into entities via iterative min-label
    // propagation (the q57 transitive-closure discipline — A~B, B~C
    // ⟹ one entity even when A~C exceeds the edit threshold);
    // (3) one resolved row per record: entity id (= min key in the
    // entity), the canonical record's name, entity size, canonical
    // flag. Scale: blocking equi-join ∝ corpus·(len+1); the component
    // frame holds MATCHED records only (≪ corpus, the q57/q66
    // argument), so the resolve joins broadcast; singletons never
    // enter the iteration. Oracle: all-pairs edges + recursive-CTE
    // closure, then the same canonical/size joins.
    Q("q144_entity_resolution",
      (s, d) => {
        val sup = Tables.supplier(s, d)
          .select(col("s_suppkey").as("k"), lower(col("s_name")).as("nm"))
        val vars = sup.select(col("k"), col("nm"),
          explode(expr(
            """array_union(array(nm),
                 transform(sequence(0, length(nm) - 1),
                   i -> concat(substring(nm, 1, i), substring(nm, i + 2))))"""
          )).as("v"))
        val pairs = vars.as("a")
          .join(vars.as("b"), col("a.v") === col("b.v") && col("a.k") < col("b.k"))
          .select(col("a.k").as("ka"), col("b.k").as("kb"),
            col("a.nm").as("na"), col("b.nm").as("nb"))
          .distinct()
          .filter(levenshtein(col("na"), col("nb")) <= 1)
        val comp = graft.operators.ConnectedComponents.labelPropagation(
          pairs.select(col("ka").as("src"), col("kb").as("dst")))
        val resolved = sup
          .join(comp.select(col("id").as("k"), col("component")), Seq("k"), "left")
          .select(col("k"), coalesce(col("component"), col("k")).as("entity_id"),
            col("nm"))
        val canon = resolved.filter(col("k") === col("entity_id"))
          .select(col("entity_id"), col("nm").as("canonical_nm"))
        val sizes = resolved.groupBy(col("entity_id"))
          .agg(count(lit(1)).as("n_records"))
        resolved
          .join(broadcast(canon), "entity_id")
          .join(broadcast(sizes), "entity_id")
          .select(col("k"), col("entity_id"), col("canonical_nm"),
            col("n_records"),
            (col("k") === col("entity_id")).cast("int").as("is_canonical"))
          .orderBy(col("k"))
      },
      Some("""
        WITH RECURSIVE s AS (
          SELECT s_suppkey AS k, LOWER(s_name) AS nm FROM supplier
        ), pairs AS (
          SELECT a.k AS ka, b.k AS kb
          FROM s a JOIN s b ON a.k < b.k
          WHERE levenshtein(a.nm, b.nm) <= 1
        ), e AS (
          SELECT ka AS a, kb AS b FROM pairs
          UNION SELECT kb, ka FROM pairs
        ), reach(a, b) AS (
          SELECT a, b FROM e
          UNION
          SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a
        ), comp AS (
          SELECT a AS k, LEAST(a, MIN(b)) AS entity_id
          FROM reach GROUP BY a
        ), resolved AS (
          SELECT s.k, COALESCE(c.entity_id, s.k) AS entity_id, s.nm
          FROM s LEFT JOIN comp c ON s.k = c.k
        ), canon AS (
          SELECT entity_id, nm AS canonical_nm
          FROM resolved WHERE k = entity_id
        ), sz AS (
          SELECT entity_id, COUNT(*) AS n_records
          FROM resolved GROUP BY entity_id
        )
        SELECT r.k, r.entity_id, canon.canonical_nm,
               CAST(sz.n_records AS BIGINT) AS n_records,
               CAST(r.k = r.entity_id AS INT) AS is_canonical
        FROM resolved r
        JOIN canon ON r.entity_id = canon.entity_id
        JOIN sz ON r.entity_id = sz.entity_id
        ORDER BY r.k
      """)),

    // ---------------------------------------------------------------
    // q141: PageRank on the co-purchase graph (r9) — iterative link
    // analysis in EXACT integer arithmetic (operators/PageRank: ranks
    // in e6 units, r' = 150000 + 85·Σ(r div deg) div 100 — every
    // division an integer floor, every sum order-independent, so the
    // DuckDB twin is bit-identical; floating PageRank could never be
    // hash-compared across engines). Six sweeps; each is one
    // vertex-keyed equi-join + one integer-sum aggregate over the
    // persisted doubled edge list — shuffle ∝ |E| per sweep, state ∝
    // |V|, lineage truncated per round. The oracle unrolls the same
    // six sweeps as generated aggregate CTEs (SQL recursion cannot
    // aggregate in the recursive term). Top-20 via native ORDER
    // BY/LIMIT (TakeOrderedAndProject), tiebroken by vertex id.
    Q("q141_pagerank",
      (s, d) => {
        val ranks = graft.operators.PageRank.run(
          copurchaseEdges(s, d).select(col("pi"), col("pj")), iters = 6)
        ranks.select(col("v").as("part"), col("r").as("rank_e6"))
          .orderBy(col("rank_e6").desc, col("part"))
          .limit(20)
      },
      Some(s"""
        WITH oi AS (
          SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
        ), e AS (
          SELECT a.pk AS pi, b.pk AS pj
          FROM oi a JOIN oi b ON a.ok = b.ok AND a.pk < b.pk
          GROUP BY 1, 2 HAVING COUNT(*) >= 2
        ), d AS (
          SELECT pi AS src, pj AS dst FROM e
          UNION ALL SELECT pj, pi FROM e
        ), ${graft.operators.PageRank.oracleCtes(6)}
        SELECT v AS part, r AS rank_e6
        FROM r6 ORDER BY rank_e6 DESC, part LIMIT 20
      """)),

    // ---------------------------------------------------------------
    // q147: multi-source BFS hop distance (r9) — graph TRAVERSAL next
    // to the fixpoint tier (q57 label fixpoint, q141 value fixpoint):
    // distance in hops from a deterministic seed set (part % 25 = 0)
    // to every vertex of the co-purchase graph, 4 sweeps of min-plus
    // propagation (operators/Bfs — pure integer MIN aggregation, so
    // the generated-CTE twin is bit-identical), rolled up as a
    // reachability histogram (hop → vertex count + id checksum) — the
    // "how much of the catalog sits within k recommendation hops of
    // the flagged set" audit. r10: runs the FRONTIER-DELTA variant
    // (operators/Bfs.runFrontier — per-sweep edge fan-out ∝ frontier,
    // not reached; results spec-pinned identical to the full-frame
    // form, so the generated twin below, which mirrors the full-frame
    // recurrence, still hash-gates it), state ∝ reached vertices,
    // fixed sweep count.
    Q("q147_bfs_reach",
      (s, d) => {
        val edges = copurchaseEdges(s, d).select(col("pi"), col("pj"))
        val seeds = edges.select(col("pi").as("v"))
          .unionAll(edges.select(col("pj").as("v")))
          .distinct().filter(col("v") % 25 === 0)
        graft.operators.Bfs.runFrontier(edges, seeds, iters = 4)
          .groupBy(col("hop"))
          .agg(count(lit(1)).as("n_vertices"), sum(col("v")).as("sum_v"))
          .orderBy(col("hop"))
      },
      Some(s"""
        WITH oi AS MATERIALIZED (
          SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
        ), e AS MATERIALIZED (
          SELECT a.pk AS pi, b.pk AS pj
          FROM oi a JOIN oi b ON a.ok = b.ok AND a.pk < b.pk
          GROUP BY 1, 2 HAVING COUNT(*) >= 2
        ), d AS MATERIALIZED (
          SELECT pi AS src, pj AS dst FROM e
          UNION ALL SELECT pj, pi FROM e
        ), h0 AS (
          SELECT DISTINCT src AS v, CAST(0 AS BIGINT) AS hop FROM d
          WHERE src % 25 = 0
        ), ${graft.operators.Bfs.oracleCtes(4)}
        SELECT hop, COUNT(*) AS n_vertices, CAST(SUM(v) AS BIGINT) AS sum_v
        FROM h4 GROUP BY hop ORDER BY hop
      """)),

    // ---------------------------------------------------------------
    // q160: HIGH-DIAMETER connected components via alternating
    // large-star/small-star contraction (Kiveris et al.) — the r10
    // operator now under the oracle gate on the graph class it exists
    // for. Fixture: per-source document CHAINS (consecutive doc_ids
    // linked) — diameter = chain length (hundreds at sf0.01,
    // thousands at sf0.1), the regime where q57's HashMin closure
    // would need diameter rounds. alternatingStarWithRounds must
    // converge within maxIter=25 ≪ diameter, so the entry PROVES the
    // O(log n) path ran: swap HashMin in and the query throws before
    // producing rows. Labels coalesce to self for single-doc sources
    // (q66's discipline). The oracle is closed-form — a chain's
    // component is its source's min doc_id — so no recursive CTE, and
    // the gate checks the contraction's RESULT exactly. Scale: each
    // round is two grouped aggregates + two equi-joins on the current
    // edge set; O(log n) rounds total vs O(diameter) — the difference
    // between 15 and 3000 shuffles on a 3000-long chain.
    Q("q160_chain_components",
      (s, d) => {
        val docs = Tables.documents(s, d).select(col("doc_id"), col("source"))
        val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
        val edges = docs.withColumn("nxt", lead(col("doc_id"), 1).over(w))
          .filter(col("nxt").isNotNull)
          .select(col("doc_id").as("src"), col("nxt").as("dst"))
        val (labels, rounds) = graft.operators.ConnectedComponents
          .alternatingStarWithRounds(edges, maxIter = 25)
        // engine-side evidence beyond the maxIter gate: a chain of
        // length L must contract in O(log L) alternating rounds, with
        // a wide safety constant (HashMin would need L rounds)
        val longest = docs.groupBy(col("source")).count()
          .agg(max(col("count"))).head().getLong(0)
        require(rounds <= 2 * (64 - java.lang.Long
          .numberOfLeadingZeros(longest max 2L)) + 6,
          s"star contraction took $rounds rounds on a $longest-chain — " +
            "not the O(log n) path")
        docs
          .join(labels.withColumnRenamed("id", "doc_id"), Seq("doc_id"),
            "left")
          .select(col("doc_id"),
            coalesce(col("component"), col("doc_id")).as("component"))
          .orderBy(col("doc_id"))
      },
      Some("""
        SELECT doc_id,
               MIN(doc_id) OVER (PARTITION BY source) AS component
        FROM documents ORDER BY doc_id
      """))
  )

  /** The support-filtered (co ≥ 2) co-purchase edge table (pi < pj,
    * co) PLUS the per-item basket-frequency table (pk, n) — shared by
    * q123/q125/q141/q147 as one session artifact.
    *
    * r18 rewrite of the pair generation (guide §2.4 "remove shuffles
    * outright"): the former distinct(ok, pk) self-join on ok paid the
    * distinct exchange PLUS a join exchange before the (pi, pj)
    * aggregate. Baskets are schema-bounded (≤ 7 lineitems per order),
    * so ONE groupBy(ok) collects each basket as a sorted distinct
    * array and the pairs fan out map-side from two generators
    * (posexplode × slice — ascending array order gives pi < pj by
    * construction, each unordered pair exactly once): 3 exchanges +
    * a join stage → 2 exchanges, identical edge rows. The frequency
    * table rides the same basket pass (one extra explode over the
    * cached frame) instead of q123 re-scanning lineitem + re-paying
    * the distinct exchange per run.
    */
  private def copurchaseArtifacts(s: org.apache.spark.sql.SparkSession,
                                  d: String)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    val (edges, cnt) = graft.Artifacts.once("copurchase-edges", s, d) {
      val eOut = graft.TempDirs.scoped("graft-copurchase")
      val cOut = graft.TempDirs.scoped("graft-copurchase-cnt")
      val baskets = copurchaseBaskets(s, d).persist()
      baskets
        .select(col("items"), posexplode(col("items")).as(Seq("i", "pi")))
        // elements strictly after 0-based position i = 1-based start
        // i+2; overshooting length clamps (last element → empty)
        .select(col("pi"), explode(
          slice(col("items"), col("i") + lit(2), size(col("items")))).as("pj"))
        .groupBy(col("pi"), col("pj"))
        .agg(count(lit(1)).as("co"))
        .filter(col("co") >= 2)
        .write.mode("overwrite").parquet(eOut)
      // sequential second action over the now-cached baskets — no
      // race guard needed (the edge write materialized the cache)
      baskets.select(explode(col("items")).as("pk"))
        .groupBy(col("pk")).agg(count(lit(1)).as("n"))
        .write.mode("overwrite").parquet(cOut)
      baskets.unpersist()
      (eOut, cOut)
    }
    (s.read.parquet(edges), s.read.parquet(cnt))
  }

  /** The memo's one lineitem scan: each order's basket as a sorted
    * distinct item array (ok, items). Exposed so plan specs can pin
    * its column pruning, which the memoized artifacts hide.
    */
  private[graft] def copurchaseBaskets(s: org.apache.spark.sql.SparkSession,
                                       d: String): org.apache.spark.sql.DataFrame =
    Tables.lineitem(s, d)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .groupBy(col("ok"))
      // collect_set = the old DISTINCT (a part on two lineitems of
      // one order is one basket membership); sorted so the slice
      // generator emits each pair once, oriented pi < pj
      .agg(sort_array(collect_set(col("pk"))).as("items"))

  private def copurchaseEdges(s: org.apache.spark.sql.SparkSession,
                              d: String): org.apache.spark.sql.DataFrame =
    copurchaseArtifacts(s, d)._1
}
