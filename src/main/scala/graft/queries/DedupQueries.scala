package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.{Q, Tables}
import graft.text.{NearDup, TextAnalysis}
import graft.operators.{TopK, VectorLsh}

/** Deduplication surface over `documents` (exact, n-gram Jaccard,
  * MinHash-LSH, SimHash) and `embeddings` (cosine near-dup). Every
  * variant generates candidates through an equi-join on a derived key
  * (hash, rare-prefix shingle, band hash, sign bucket) — never an
  * all-pairs product — because at 100 TB the candidate join IS the
  * operator.
  */
object DedupQueries {

  /** doc_id + distinct word-3-gram shingles (empty-gram docs dropped:
    * they cannot form pairs and would zero-divide Jaccard).
    *
    * PERSISTED — this is load-bearing, not a cache nicety: the gram
    * frame feeds self-joins, and without a materialization barrier
    * Catalyst pushes the verify filter into the join condition and
    * inlines the whole tokenize→shingle pipeline there, recomputing
    * both documents' shingles PER CANDIDATE PAIR (observed: a
    * single-task join predicate burning 10+ min at sf0.1). Shingle
    * once, join cached arrays.
    */
  private def grams(s: SparkSession, d: String): DataFrame =
    Tables.spread(Tables.documents(s, d), col("doc_id"))
      .select(col("doc_id"),
        // shingles carried as xxhash64 longs: every downstream join,
        // explode and intersect works on 8-byte keys instead of ~20-char
        // strings. Set semantics survive hashing whp (a collision within
        // one pair's ~90 shingles: ~1e-12 across the corpus). SORTED so
        // the verify join's intersection is the native two-pointer merge
        // (see ColumnOps.setIntersectCountSorted) — sorted once here,
        // consumed per candidate pair there.
        array_sort(transform(array_distinct(TextAnalysis.wordNgrams(col("text"), 3)),
          g => xxhash64(g))).as("grams"))
      .filter(size(col("grams")) > 0)
      .persist(StorageLevel.MEMORY_AND_DISK)

  /** DuckDB twin of the gram pipeline. */
  private val DGrams =
    """
      SELECT doc_id, grams, len(grams) AS sz FROM (
        SELECT doc_id,
               list_distinct(list_transform(range(1, len(ts) - 1),
                 i -> ts[i] || ' ' || ts[i + 1] || ' ' || ts[i + 2])) AS grams
        FROM (SELECT doc_id,
                     list_filter(string_split_regex(lower(trim(text)), '\s+'),
                                 x -> x <> '') AS ts
              FROM documents)
      ) WHERE len(grams) > 0
    """

  /** Exact Jaccard of two sorted-distinct-gram arrays (identical value
    * to the oracle's inter / (|a| + |b| - inter), double). The
    * intersection SIZE comes from the codegen'd merge expression —
    * `size(array_intersect(...))` built a hash set and materialized the
    * intersection array per candidate pair, interpreted.
    */
  private def jaccard(a: Column, b: Column): Column = {
    val inter = graft.functions.ColumnOps.setIntersectCountSorted(a, b)
    inter.cast("double") / (size(a) + size(b) - inter)
  }

  private def verifyPairs(cand: DataFrame, g: DataFrame, t: Double): DataFrame =
    cand
      .join(g.select(col("doc_id").as("doc_a"), col("grams").as("ga")), "doc_a")
      .join(g.select(col("doc_id").as("doc_b"), col("grams").as("gb")), "doc_b")
      .withColumn("jac", jaccard(col("ga"), col("gb")))
      .filter(col("jac") >= t)
      .select(col("doc_a"), col("doc_b"), floor(col("jac") * 10000).as("jac_e4"))
      .orderBy(col("doc_a"), col("doc_b"))

  /** Every prefix-index consumer's threshold is ≥ this (0.8 is the
    * production threshold; 0.6 is q93's lowest calibration candidate).
    * The RANKED index is built once at this session-minimum and every
    * higher threshold filters it — see [[rankedPrefixIndex]].
    */
  private val MinPrefixT = 0.6

  /** The session's ONE ranked prefix index: per doc the
    * floor((1-[[MinPrefixT]])|g|)+1 globally-rarest shingles WITH
    * their rarity rank `rn` (1 = rarest) and the doc's gram count
    * `sz`. The (freq, gram)-ascending ranking is threshold-
    * independent, so the index at any t ≥ MinPrefixT is literally the
    * rn ≤ floor((1-t)|g|)+1 prefix of this table (r18 — q40's 0.8
    * index and q93's 0.6 one were two separate full explode+freq+rank
    * builds of the same ranking; now one build serves both).
    */
  private def rankedPrefixIndex(s: SparkSession, d: String): DataFrame =
    graft.Artifacts.parquet("graft-jacprefix", s, d, MinPrefixT) {
      // materialize the shared gram cache BEFORE the index build fans
      // out (r17): the frequency aggregate and the join-probe exchange
      // are independent AQE stages that otherwise launch concurrently
      // against the still-cold cache and EACH recompute the full
      // tokenize→shingle→hash→sort pipeline (measured: two parallel
      // 3.4 s jobs doing identical work). One count pays the pipeline
      // once; every downstream stage then reads cached blocks.
      val g = gramsEager(s, d)
      val exploded = g
        .select(col("doc_id"), size(col("grams")).as("sz"),
          explode(col("grams")).as("gram"))
      val freq = exploded.groupBy(col("gram")).agg(count(lit(1)).as("freq"))
      val wPrefix = Window.partitionBy(col("doc_id"))
        .orderBy(col("freq"), col("gram"))
      exploded.join(freq, "gram")
        .withColumn("rn", row_number().over(wPrefix))
        .filter(col("rn") <= floor((lit(1.0) - MinPrefixT) * col("sz")) + 1)
        .select(col("doc_id"), col("sz"), col("rn"), col("gram"))
    }

  /** Per-doc prefix-filter index at threshold `t`: the floor((1-t)|g|)+1
    * globally-rarest shingles of each doc (rarity = corpus gram
    * frequency). This IS the dedup index a production corpus persists:
    * a filter over the session-shared [[rankedPrefixIndex]] — on a
    * cluster the ranked index is written once to shared storage at the
    * lowest threshold any consumer calibrates at, and every dedup
    * batch reads its own prefix of it.
    */
  private def prefixIndex(s: SparkSession, d: String, t: Double): DataFrame = {
    require(t >= MinPrefixT,
      s"prefix index threshold $t below the ranked-index floor $MinPrefixT")
    rankedPrefixIndex(s, d)
      .filter(col("rn") <= floor((lit(1.0) - t) * col("sz")) + 1)
      .select(col("doc_id"), col("gram"))
  }

  /** The q40 set-similarity join, reusable (see q40's scaladoc for the
    * prefix-filter recall argument). A session artifact per threshold:
    * q40, q57 and q66 in one session each need the verified near-dup
    * pair table, the most expensive sub-pipeline in the repo (gram
    * explode + prefix self-join + per-pair verify), and it is tiny
    * (near-dup pairs only).
    */
  private def jaccardPairs(s: SparkSession, d: String, t: Double): DataFrame =
    graft.Artifacts.parquet("graft-jacpairs", s, d, t) {
      val prefix = prefixIndex(s, d, t)
      val cand = prefix.as("x")
        .join(prefix.as("y"),
          col("x.gram") === col("y.gram") && col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
        .dropDuplicates("doc_a", "doc_b")
      verifyPairs(cand, gramsEager(s, d), t)
    }

  /** (doc_id, component) for every near-dup group member at Jaccard
    * threshold `t` — q40's pairs closed under transitivity. Shared by
    * q57 (group listing) and q66 (apply/keeper join) as a session
    * artifact, so the pair join + label propagation runs once.
    */
  private def components(s: SparkSession, d: String, t: Double = 0.8): DataFrame =
    graft.Artifacts.parquet("graft-components", s, d, t) {
      val edges = jaccardPairs(s, d, t)
        .select(col("doc_a").as("src"), col("doc_b").as("dst"))
      graft.operators.ConnectedComponents.labelPropagation(edges)
        .select(col("id").as("doc_id"), col("component"))
    }

  /** Recursive-CTE twin of [[components]] (caller prepends
    * `WITH RECURSIVE` and selects from `comp(doc_id, component)`).
    */
  private def componentsOracleCtes(t: Double): String = s"""
    g AS ($DGrams),
    p AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             len(list_intersect(a.grams, b.grams)) AS inter,
             a.sz AS la, b.sz AS lb
      FROM g a JOIN g b ON a.doc_id < b.doc_id
    ),
    pairs AS (
      SELECT doc_a, doc_b FROM p
      WHERE CAST(inter AS DOUBLE) / (la + lb - inter) >= $t
    ),
    e AS (
      SELECT doc_a AS a, doc_b AS b FROM pairs
      UNION SELECT doc_b, doc_a FROM pairs
    ),
    reach(a, b) AS (
      SELECT a, b FROM e
      UNION
      SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a
    ),
    comp AS (
      SELECT a AS doc_id, LEAST(a, MIN(b)) AS component
      FROM reach GROUP BY a
    )
  """

  /** DuckDB twin of q42's 56-bit simhash, generated (56 vote columns):
    * same md5-derived token hash, same signed bit votes, same bit
    * combine — then ALL-PAIRS Hamming<=3, which the engine's pigeonhole
    * banding provably equals.
    */
  private def simhashOracle: String = {
    val votes = (0 until 56).map(j =>
      s"SUM(CASE WHEN (h >> $j) & 1 = 1 THEN 1 ELSE -1 END) AS b$j")
      .mkString(", ")
    val combine = (0 until 56).map(j =>
      s"CASE WHEN b$j > 0 THEN ${1L << j} ELSE 0 END").mkString(" + ")
    s"""
      WITH toks AS (
        SELECT doc_id,
               unnest(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                                  x -> x <> '')) AS tok
        FROM documents
      ), th AS (
        SELECT doc_id, CAST('0x' || substring(md5(tok), 1, 14) AS BIGINT) AS h
        FROM toks
      ), votes AS (
        SELECT doc_id, $votes FROM th GROUP BY doc_id
      ), sig AS (
        SELECT doc_id, $combine AS sh FROM votes
      )
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(bit_count(xor(a.sh, b.sh)) AS BIGINT) AS hamming
      FROM sig a JOIN sig b ON a.doc_id < b.doc_id
      WHERE bit_count(xor(a.sh, b.sh)) <= 3
      ORDER BY doc_a, doc_b
    """
  }

  private def allPairsOracle(t: Double): String = s"""
    WITH g AS ($DGrams),
    p AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             len(list_intersect(a.grams, b.grams)) AS inter,
             a.sz AS la, b.sz AS lb
      FROM g a JOIN g b ON a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b,
           CAST(floor(CAST(inter AS DOUBLE) / (la + lb - inter) * 10000) AS BIGINT) AS jac_e4
    FROM p WHERE CAST(inter AS DOUBLE) / (la + lb - inter) >= $t
    ORDER BY doc_a, doc_b
  """

  /** Fixed sampled-corpus size for q161/q162 — constant across SF so
    * the sampled oracle's cost never grows with the corpus. Declared
    * BEFORE `all` (the oracle strings interpolate it at object init).
    */
  private val SampleN = 1000

  val all: Seq[Q] = Seq(

    // ---------------------------------------------------------------
    // q39: exact dedup — hash-groupBy on the normalized text (the J2
    // content-addressing pattern on text). One shuffle keyed by digest.
    Q("q39_exact_dedup",
      (s, d) => {
        Tables.documents(s, d)
          .select(col("doc_id"), md5(lower(trim(col("text")))).as("h"))
          .groupBy(col("h"))
          .agg(count(lit(1)).as("n_copies"), min(col("doc_id")).as("keeper"))
          .orderBy(col("keeper"))
      },
      Some("""
        SELECT md5(lower(trim(text))) AS h,
               COUNT(*) AS n_copies, MIN(doc_id) AS keeper
        FROM documents GROUP BY h ORDER BY keeper
      """)),

    // ---------------------------------------------------------------
    // q40: n-gram Jaccard near-dup via prefix-filtered set-similarity
    // join (Bayardo AllPairs / PPJoin family): order each doc's
    // shingles by global frequency (rarest first), keep the
    // floor((1-t)|g|)+1 rarest as its prefix, and join PREFIX-TO-PREFIX.
    // Recall is provably perfect: Jaccard >= t implies overlap
    // alpha >= ceil(t*max(|a|,|b|)), and two sets with overlap alpha
    // under a global token order must share a token inside their
    // (|x|-alpha+1)-prefixes — our prefixes are at least that long.
    // The DuckDB oracle computes all-pairs ground truth and must agree
    // exactly.
    Q("q40_neardup_jaccard",
      // re-sort after the memo parquet round-trip: files come back in
      // file order, and the registered output's order is part of the
      // determinism contract
      (s, d) => jaccardPairs(s, d, 0.8).orderBy(col("doc_a"), col("doc_b")),
      Some(allPairsOracle(0.8))),

    // ---------------------------------------------------------------
    Q("q72_incremental_dedup",
      // Incremental dedup — the shape a production corpus actually
      // runs daily: the corpus side (even doc_ids stand in for the
      // already-ingested index) persists its prefix index ONCE; each
      // new batch (odd doc_ids) probes it with an asymmetric
      // prefix⋈prefix equi-join — never corpus⋈corpus, and the corpus
      // is never re-shuffled per batch. Recall is perfect by the same
      // prefix-filter theorem as q40 (both sides carry their full
      // (1-t)-prefix), so the all-cross-pairs oracle is exact.
      (s, d) => {
        val t = 0.8
        val prefix = prefixIndex(s, d, t)
        val corpus = prefix.filter(col("doc_id") % 2 === 0)
        val incr = prefix.filter(col("doc_id") % 2 === 1)
        val cand = corpus.as("x")
          .join(incr.as("y"), col("x.gram") === col("y.gram"))
          .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
          .dropDuplicates("doc_a", "doc_b")
        // eager: the verify join's doc_a/doc_b exchanges otherwise race
        // to compute the cold gram cache (prefixIndex is a parquet memo
        // on warm runs, so nothing upstream has materialized it)
        verifyPairs(cand, gramsEager(s, d), t)
      },
      Some(s"""
        WITH g AS ($DGrams),
        p AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                 len(list_intersect(a.grams, b.grams)) AS inter,
                 a.sz AS la, b.sz AS lb
          FROM g a JOIN g b ON a.doc_id % 2 = 0 AND b.doc_id % 2 = 1
        )
        SELECT doc_a, doc_b,
               CAST(floor(CAST(inter AS DOUBLE) / (la + lb - inter) * 10000)
                    AS BIGINT) AS jac_e4
        FROM p WHERE CAST(inter AS DOUBLE) / (la + lb - inter) >= 0.8
        ORDER BY doc_a, doc_b
      """)),

    // ---------------------------------------------------------------
    // q41: MinHash-LSH near-dup — 32-hash signatures, 8 bands × 4 rows,
    // candidates = docs sharing a band key, then exact-Jaccard verify at
    // t=0.7. At the corpus's similarity levels (pairs are ~0.99 or
    // <0.2) the banding miss probability is ~(1-0.99^4)^8 ≈ 4e-12, so
    // the all-pairs oracle is exact in practice.
    Q("q41_minhash_lsh",
      (s, d) => {
        val t = 0.7
        val g = grams(s, d)
        // signatures via ONE custom Catalyst aggregate over exploded
        // shingles (single primitive-array buffer; the 32-column MIN
        // form pays 32 expression evaluations per row and a recombine
        // projection, the array form 32 interpreted passes per doc)
        val banded = g
          .select(col("doc_id"), explode(col("grams")).as("gram"))
          .groupBy(col("doc_id"))
          .agg(NearDup.minhashAggNative(col("gram"), 32).as("sig"))
          .withColumn("b", explode(NearDup.minhashBands(col("sig"), 8, 4)))
          .select(col("doc_id"), col("b.band").as("band"), col("b.bval").as("bval"))
          .persist(StorageLevel.MEMORY_AND_DISK) // signatures once, not per join side
        val cand = banded.as("x")
          .join(banded.as("y"),
            col("x.band") === col("y.band") && col("x.bval") === col("y.bval")
              && col("x.doc_id") < col("y.doc_id"))
          .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
          .dropDuplicates("doc_a", "doc_b")
        verifyPairs(cand, g, t)
      },
      Some(allPairsOracle(0.7))),

    // ---------------------------------------------------------------
    // q42: SimHash near-dup — 56-bit simhash per doc (bit-votes over
    // the cross-engine md5 token hash); pigeonhole banding (4×14 bits:
    // Hamming<=3 pairs must agree on a full band) makes candidate
    // generation an equi-join; verify by bit_count(xor). Because every
    // primitive is cross-engine (md5 token hash, integer bit votes),
    // the DuckDB oracle recomputes the signatures and checks ALL-PAIRS
    // Hamming<=3 — which the banding provably equals (pigeonhole recall
    // is exact, not probabilistic). Precision/recall vs Jaccard ground
    // truth stays pinned by DedupQueriesSpec.
    Q("q42_simhash",
      (s, d) => {
        // simhash via ONE custom Catalyst bit-vote aggregate over
        // exploded token hashes (single 56-slot buffer, one fused loop
        // per row; the 56-SUM form pays 56 expression evaluations per
        // row, the column form 56 interpreted filters per doc).
        // Persisted: the Hamming filter otherwise gets pushed into
        // the self-join condition and recomputed per candidate pair.
        // plain explode: token-less docs drop out (they have no simhash
        // signal; explode_outer would inject a phantom null-hash token)
        val hashed = Tables.documents(s, d)
          .select(col("doc_id"),
            explode(TextAnalysis.tokens(col("text"))).as("tok"))
          .withColumn("h", TextAnalysis.tokenHash56(col("tok")))
          .groupBy(col("doc_id"))
          .agg(NearDup.simhashAggNative(col("h"), bits = 56).as("sh"))
        val banded = hashed
          .withColumn("b", explode(NearDup.simhashBands(col("sh"), 4, 14)))
          .select(col("doc_id"), col("sh"), col("b.band").as("band"),
            col("b.bval").as("bval"))
          .persist(StorageLevel.MEMORY_AND_DISK)
        banded.as("x")
          .join(banded.as("y"),
            col("x.band") === col("y.band") && col("x.bval") === col("y.bval")
              && col("x.doc_id") < col("y.doc_id"))
          .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
            bit_count(col("x.sh").bitwiseXOR(col("y.sh")))
              .cast("bigint").as("hamming"))
          // hamming is functionally determined by the pair, so filtering
          // BEFORE the pair-dedup is semantics-identical and shrinks the
          // dedup shuffle to actual near-dups instead of every
          // band-colliding candidate (the dominant volume).
          .filter(col("hamming") <= 3)
          .dropDuplicates("doc_a", "doc_b")
          .orderBy(col("doc_a"), col("doc_b"))
      },
      Some(simhashOracle)),

    // ---------------------------------------------------------------
    // q57: dedup groups — near-dup PAIRS (q40) closed into duplicate
    // GROUPS via iterative min-label propagation (transitive closure:
    // A~B, B~C ⟹ {A,B,C} keep one). The oracle computes the same
    // closure with a recursive CTE over the all-pairs ground truth.
    Q("q57_dedup_groups",
      (s, d) => components(s, d).orderBy(col("doc_id")),
      Some(s"""
        WITH RECURSIVE ${componentsOracleCtes(0.8)}
        SELECT doc_id, component FROM comp ORDER BY doc_id
      """)),

    // ---------------------------------------------------------------
    // q66: dedup APPLY — the step after q57's group discovery: choose
    // the canonical keeper per duplicate group (its min doc_id) and
    // flag every document keep/drop. Scale shape: the component table
    // only contains near-dup members — orders of magnitude smaller than
    // the corpus — so the apply normally plans as a broadcast left join
    // against the full corpus scan (map-side, no corpus shuffle). The
    // hint is deliberately OMITTED: stats/AQE pick the broadcast when
    // comp is small and degrade to a shuffle join in a pathological
    // all-duplicates corpus, instead of a forced-broadcast driver OOM.
    Q("q66_dedup_apply",
      (s, d) => {
        val comp = components(s, d)
        Tables.documents(s, d).select(col("doc_id"))
          .join(comp, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("component"), col("doc_id")).as("keeper"),
            (col("doc_id") === coalesce(col("component"), col("doc_id")))
              .cast("int").as("kept"))
          .orderBy(col("doc_id"))
      },
      Some(s"""
        WITH RECURSIVE ${componentsOracleCtes(0.8)}
        SELECT d.doc_id,
               COALESCE(c.component, d.doc_id) AS keeper,
               CAST(d.doc_id = COALESCE(c.component, d.doc_id) AS INT) AS kept
        FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
        ORDER BY d.doc_id
      """)),

    // ---------------------------------------------------------------
    // q43: embedding-cosine near-dup — all-vector LSH self-join (sign
    // buckets, 2 tables × 4 planes), exact cosine on candidates, global
    // top-20 most-similar pairs. The spec additionally checks candidate
    // pairs against brute force.
    //
    // Oracle (r9, GENERATED like q133's): the seeded hyperplanes are
    // embedded as double literals (Double.toString round-trips exactly)
    // and every float reduction is written as a LEFT-ASSOCIATIVE sum —
    // the same sequential IEEE accumulation order the native
    // expressions use (DotProduct/L2Norm loop left-to-right) — so sign
    // bits, cosines and floor(cos·100) are bit-identical across
    // engines. The engine's first-collision dedup admits a pair iff
    // ANY table's buckets match and scores it once; the oracle's pair
    // set is therefore the plain OR of per-table bucket equality.
    Q("q43_embedding_neardup",
      (s, d) => {
        val tables = VectorLsh.hyperplanes(numTables = 2, numPlanes = 4, dim = 64)
        val banded = Tables.embeddings(s, d)
          .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
          .withColumn("nrm", graft.functions.VectorFunctions.normNative(col("emb")))
          .withColumn("bks", VectorLsh.buckets(col("emb"), tables))
          .withColumn("tb", explode(col("bks")))
          .select(col("vec_id"), col("emb"), col("nrm"), col("bks"),
            col("tb.tbl").as("tbl"), col("tb.bucket").as("bucket"))
          .persist(StorageLevel.MEMORY_AND_DISK)
        val cand = banded.as("x")
          .join(banded.as("y"),
            col("x.tbl") === col("y.tbl") && col("x.bucket") === col("y.bucket")
              && col("x.vec_id") < col("y.vec_id"))
          // first-collision dedup: a pair colliding in several tables
          // is scored only in the LOWEST one — a per-row filter over
          // the two (tiny) bucket arrays, replacing a dropDuplicates
          // whose shuffle carried both 64-double embeddings per pair
          // (the dominant cost of this query at sf0.1)
          .filter(col("x.tbl") ===
            array_position(zip_with(col("x.bks"), col("y.bks"),
              (a, b) => a.getField("bucket") === b.getField("bucket")),
              true) - 1)
          .select(col("x.vec_id").as("vec_a"), col("y.vec_id").as("vec_b"),
            col("x.emb").as("ea"), col("x.nrm").as("na"),
            col("y.emb").as("eb"), col("y.nrm").as("nb"))
          .withColumn("cos",
            graft.functions.VectorFunctions.dotNative(col("ea"), col("eb"))
              / (col("na") * col("nb")))
        // global top-20: TopK.global, not perKey with a constant key —
        // Catalyst folds a literal partition key away and the rank
        // window would run partitionless over every candidate pair
        TopK.global(cand, Seq(col("cos").desc, col("vec_a"), col("vec_b")), 20)
          .select(col("vec_a"), col("vec_b"), floor(col("cos") * 100).as("score_e2"),
            col("rank"))
          .orderBy(col("rank"))
      },
      Some {
        val tables = VectorLsh.hyperplanes(numTables = 2, numPlanes = 4, dim = 64)
        val buckets = OracleSql.lshBucketSql(tables)
        val norm = (1 to 64).map(i => s"emb[$i]*emb[$i]").mkString(" + ")
        val dotXY = (1 to 64).map(i => s"x.emb[$i]*y.emb[$i]").mkString(" + ")
        s"""
        WITH e AS (
          SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
        ), s AS (
          SELECT vec_id, sqrt($norm) AS nrm, emb,
               $buckets
          FROM e
        ), c AS (
          SELECT x.vec_id AS vec_a, y.vec_id AS vec_b,
                 ($dotXY) / (x.nrm * y.nrm) AS cos
          FROM s x JOIN s y
            ON x.vec_id < y.vec_id AND (x.b0 = y.b0 OR x.b1 = y.b1)
        ), r AS (
          SELECT vec_a, vec_b, cos,
                 ROW_NUMBER() OVER (ORDER BY cos DESC, vec_a, vec_b) AS rn
          FROM c
        )
        SELECT vec_a, vec_b, CAST(floor(cos * 100) AS BIGINT) AS score_e2,
               CAST(rn AS INT) AS rank
        FROM r WHERE rn <= 20 ORDER BY rank
      """
      }),

    // ---------------------------------------------------------------
    // q78: containment search (asymmetric near-dup): find (a, b) with
    // |grams(a) ∩ grams(b)| / |grams(a)| >= 0.9 — "a is mostly an
    // excerpt of b". Jaccard misses these when |b| >> |a| (a quote
    // inside a long page has tiny Jaccard but containment ~1), so a
    // curation pipeline runs BOTH: q40 for mutual near-dups, this for
    // partial copies. Candidates: the prefix-filter theorem holds
    // one-sided — inter >= t|a| forces a's floor((1-t)|a|)+1 rarest
    // grams to intersect b's FULL set — so the join is a's prefix
    // against the full inverted index. The shared t=0.8 prefix index
    // (longer prefixes than containment-0.9 needs, recall preserved)
    // is reused from q40/q72's session memo; prefix grams are the
    // corpus-rarest, so the index is only ever probed at rare grams
    // and the fan-out stays bounded. The all-pairs oracle is exact.
    Q("q78_containment",
      (s, d) => {
        val t = 0.9
        // eager: the full-index exchange and the verify join's two gram
        // exchanges are independent stages that otherwise each recompute
        // the cold gram cache (measured: three parallel ~1.0 s jobs)
        val g = gramsEager(s, d)
        val fullIndex = g.select(col("doc_id").as("doc_b"),
          explode(col("grams")).as("bgram"))
        val cand = prefixIndex(s, d, 0.8).as("x")
          .join(fullIndex, col("x.gram") === col("bgram")
            && col("x.doc_id") =!= col("doc_b"))
          .select(col("x.doc_id").as("doc_a"), col("doc_b"))
          .dropDuplicates("doc_a", "doc_b")
        cand
          .join(g.select(col("doc_id").as("doc_a"), col("grams").as("ga")), "doc_a")
          .join(g.select(col("doc_id").as("doc_b"), col("grams").as("gb")), "doc_b")
          .withColumn("inter",
            graft.functions.ColumnOps.setIntersectCountSorted(col("ga"), col("gb")))
          .filter(col("inter").cast("double") >= lit(t) * size(col("ga")))
          .select(col("doc_a"), col("doc_b"),
            floor(col("inter") * 10000 / size(col("ga"))).as("cont_e4"))
          .orderBy(col("doc_a"), col("doc_b"))
      },
      Some(s"""
        WITH g AS ($DGrams)
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(floor(len(list_intersect(a.grams, b.grams)) * 10000 / a.sz)
                    AS BIGINT) AS cont_e4
        FROM g a JOIN g b ON a.doc_id <> b.doc_id
        WHERE CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
                >= 0.9 * a.sz
        ORDER BY doc_a, doc_b
      """)),

    // ---------------------------------------------------------------
    // q74: exact SUBSTRING dedup (Lee et al., "Deduplicating Training
    // Data Makes Language Models Better"): remove every 10-token span
    // that occurs more than once ANYWHERE in the corpus, keeping the
    // rest of each document — finer-grained than whole-doc dedup (q39)
    // or near-dup (q40): it scrubs boilerplate and partial copies that
    // whole-document keys never see. A token survives iff NO shared
    // span covers it.
    //
    // Scale shape: one span explode (corpus × avg_len rows of 8-byte
    // hashes), ONE aggregate shuffle keyed by span hash (freq >= 2),
    // a narrow join back to (doc, start) and a per-doc collect of the
    // (few) shared starts; the reassembly is a single equi-join of the
    // corpus with that small table — AQE broadcasts it when the
    // duplicated population is small, and the per-row rebuild is a
    // codegen'd HOF over token positions. Spans are carried as
    // xxhash64 longs (exact whp, the q40/q61 argument: the oracle
    // joins raw span strings, so a collision surfaces as a hash
    // mismatch rather than passing silently).
    Q("q74_substring_dedup",
      (s, d) => {
        val W = 10
        val toks = Tables.documents(s, d)
          .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("ts"))
          .persist(StorageLevel.MEMORY_AND_DISK)
        // cache-race guard (see prefixIndex): the span aggregate chain
        // and the reassembly join scan this frame as independent stages
        toks.count()
        val spans = toks
          .filter(size(col("ts")) >= W)
          .select(col("doc_id"), explode(
            transform(sequence(lit(1), size(col("ts")) - (W - 1)),
              i => struct(i.as("start"),
                xxhash64(concat_ws(" ", slice(col("ts"), i, lit(W)))).as("h"))))
            .as("sp"))
          .select(col("doc_id"), col("sp.start").as("start"), col("sp.h").as("h"))
        val shared = spans.groupBy(col("h"))
          .agg(count(lit(1)).as("n")).filter(col("n") >= 2)
          .select(col("h"))
        val sharedStarts = spans.join(shared, "h")
          .groupBy(col("doc_id"))
          .agg(sort_array(collect_list(col("start"))).as("ss"))
        toks.join(sharedStarts, Seq("doc_id"), "left")
          .withColumn("ss", coalesce(col("ss"), array().cast("array<int>")))
          .withColumn("kept",
            filter(sequence(lit(1), size(col("ts"))),
              j => !exists(col("ss"), st => st >= j - (W - 1) && st <= j)))
          .select(col("doc_id"),
            size(col("ts")).cast("long").as("n_tok"),
            (size(col("ts")) - size(col("kept"))).cast("long").as("n_removed"),
            concat_ws(" ",
              transform(col("kept"), j => element_at(col("ts"), j))).as("cleaned"))
          .orderBy(col("doc_id"))
      },
      Some("""
        WITH t AS (
          SELECT doc_id,
                 list_filter(string_split_regex(lower(trim(text)), '\s+'),
                             x -> x <> '') AS ts
          FROM documents
        ), sp AS (
          SELECT doc_id, u.s AS start, u.sp AS span FROM (
            SELECT doc_id,
                   unnest(list_transform(range(1, len(ts) - 8),
                     i -> {'s': i,
                           'sp': array_to_string(list_slice(ts, i, i + 9), ' ')}))
                     AS u
            FROM t WHERE len(ts) >= 10)
        ), shared AS (
          SELECT span FROM sp GROUP BY span HAVING COUNT(*) >= 2
        ), ss AS (
          SELECT doc_id, list_sort(list(start)) AS ss
          FROM sp WHERE span IN (SELECT span FROM shared)
          GROUP BY doc_id
        ), f AS (
          SELECT t.doc_id, t.ts, COALESCE(ss.ss, []) AS ss,
                 list_filter(range(1, len(t.ts) + 1),
                   j -> len(list_filter(COALESCE(ss.ss, []),
                              st -> st >= j - 9 AND st <= j)) = 0) AS kept
          FROM t LEFT JOIN ss ON t.doc_id = ss.doc_id
        )
        SELECT doc_id,
               CAST(len(ts) AS BIGINT) AS n_tok,
               CAST(len(ts) - len(kept) AS BIGINT) AS n_removed,
               COALESCE(array_to_string(list_transform(kept, j -> ts[j]), ' '),
                        '') AS cleaned
        FROM f ORDER BY doc_id
      """)),

    // ---------------------------------------------------------------
    // q85: leakage-safe train/val/test split — the assignment is keyed
    // by each document's NEAR-DUP GROUP keeper (q57's component, or the
    // doc itself when unduplicated), not by the document: a plain
    // per-doc hash split leaks near-duplicate content across the
    // boundary (train memorizes a doc whose near-copy sits in val, and
    // the eval is contaminated — the split-level cousin of q61's
    // benchmark screen). Buckets come from the q68-style 56-bit md5
    // integer, so assignment is bit-reproducible and the oracle
    // recomputes the whole thing — groups included — exactly.
    // Scale shape: the component table is near-dup members only
    // (corpus-tiny), so the group key is a BROADCAST left join onto the
    // corpus scan and the split itself is map-side arithmetic; one
    // shuffle total for the output ordering contract.
    Q("q85_leakage_safe_split",
      (s, d) => {
        val comp = components(s, d)
        val keeper = coalesce(col("component"), col("doc_id"))
        val h = conv(substring(md5(encode(
          concat(lit("split42:"), keeper.cast("string")), "utf-8")),
          1, 14), 16, 10).cast("bigint")
        Tables.documents(s, d).select(col("doc_id"))
          // unhinted like q66: broadcasts when comp is (normally) tiny,
          // survives the all-duplicates regime by degrading to a shuffle
          .join(comp, Seq("doc_id"), "left")
          .select(col("doc_id"), keeper.as("group_key"), pmod(h, lit(100L)).as("b"))
          .select(col("doc_id"), col("group_key"),
            when(col("b") < 90, "train").when(col("b") < 95, "val")
              .otherwise("test").as("split"))
          .orderBy(col("doc_id"))
      },
      Some(s"""
        WITH RECURSIVE ${componentsOracleCtes(0.8)},
        k AS (
          SELECT d.doc_id,
                 COALESCE(c.component, d.doc_id) AS group_key
          FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
        ),
        b AS (
          SELECT doc_id, group_key,
                 CAST('0x' || substring(md5('split42:' || CAST(group_key AS VARCHAR)), 1, 14)
                      AS BIGINT) % 100 AS b
          FROM k
        )
        SELECT doc_id, group_key,
               CASE WHEN b < 90 THEN 'train' WHEN b < 95 THEN 'val'
                    ELSE 'test' END AS split
        FROM b ORDER BY doc_id
      """)),

    // ---------------------------------------------------------------
    // q92: dedup impact — the report a pipeline owner reads before
    // committing a dedup pass: per method, how many documents and how
    // much text volume it would remove. Exact dedup keeps the min
    // doc_id per normalized-content digest (q39's convention);
    // near-dup keeps each Jaccard≥0.8 component's min-label keeper
    // (the q57/q66 closure, memo-shared — no new pair generation).
    // Scale: one digest-keyed aggregate plus a join of the corpus-tiny
    // component table; integer-division percentage stays exact
    // cross-engine.
    Q("q92_dedup_impact",
      (s, d) => {
        // persisted: the digest+length projection feeds the exact
        // aggregate AND the near-dup join — one text scan, one md5
        // pass, not three
        val docs = Tables.documents(s, d)
          .select(col("doc_id"), md5(lower(trim(col("text")))).as("digest"),
            length(col("text")).cast("long").as("n_chars"))
          .persist(StorageLevel.MEMORY_AND_DISK)
        val exact = docs.groupBy(col("digest"))
          .agg(count(lit(1)).as("cnt"), sum(col("n_chars")).as("sum_nc"),
            min_by(col("n_chars"), col("doc_id")).as("keeper_nc"))
          .agg(sum(col("cnt")).as("docs_total"),
            sum(col("cnt") - 1).as("docs_removed"),
            sum(col("sum_nc") - col("keeper_nc")).as("chars_removed"))
          .select(lit("exact").as("method"), col("docs_total"),
            col("docs_removed"), col("chars_removed"))
        // the corpus total is already in the exact branch's one row —
        // no third scan
        val totals = exact.select(col("docs_total"))
        val neardup = components(s, d)
          .filter(col("doc_id") =!= col("component"))
          .join(docs, "doc_id")
          .agg(count(lit(1)).as("docs_removed"),
            coalesce(sum(col("n_chars")), lit(0L)).as("chars_removed"))
          .crossJoin(broadcast(totals))
          .select(lit("neardup_jaccard").as("method"), col("docs_total"),
            col("docs_removed"), col("chars_removed"))
        exact.unionByName(neardup)
          .withColumn("pct_docs_e4",
            expr("(docs_removed * 10000) div docs_total"))
          .orderBy(col("method"))
      },
      Some(s"""
        WITH RECURSIVE ${componentsOracleCtes(0.8)},
        docs AS (
          SELECT doc_id, md5(lower(trim(text))) AS digest,
                 CAST(len(text) AS BIGINT) AS n_chars
          FROM documents
        ),
        ex AS (
          SELECT CAST('exact' AS VARCHAR) AS method,
                 CAST(SUM(cnt) AS BIGINT) AS docs_total,
                 CAST(SUM(cnt - 1) AS BIGINT) AS docs_removed,
                 CAST(SUM(sum_nc - keeper_nc) AS BIGINT) AS chars_removed
          FROM (SELECT digest, COUNT(*) AS cnt, SUM(n_chars) AS sum_nc,
                       arg_min(n_chars, doc_id) AS keeper_nc
                FROM docs GROUP BY digest)
        ),
        nd AS (
          SELECT CAST('neardup_jaccard' AS VARCHAR) AS method,
                 CAST((SELECT COUNT(*) FROM docs) AS BIGINT) AS docs_total,
                 CAST(COUNT(*) AS BIGINT) AS docs_removed,
                 CAST(COALESCE(SUM(d.n_chars), 0) AS BIGINT) AS chars_removed
          FROM comp c JOIN docs d USING (doc_id)
          WHERE c.doc_id <> c.component
        )
        SELECT method, docs_total, docs_removed, chars_removed,
               CAST((docs_removed * 10000) // docs_total AS BIGINT) AS pct_docs_e4
        FROM (SELECT * FROM ex UNION ALL SELECT * FROM nd)
        ORDER BY method
      """)),

    // ---------------------------------------------------------------
    // q93: threshold calibration sweep — the table a data engineer
    // reads BEFORE choosing a near-dup threshold: pairs and distinct
    // documents each candidate threshold would merge. ONE
    // prefix-filtered pair join at the lowest candidate (recall above
    // it is perfect by q40's prefix argument); every higher
    // threshold's row is a conditional count over the same verified
    // pair table — no per-threshold re-join. The 0.6 index is a
    // separate memo from the 0.8 production one: calibrating below
    // the committed threshold is exactly the case where the cheaper
    // index can't answer.
    Q("q93_threshold_sweep",
      (s, d) => {
        import s.implicits._
        val pairs = jaccardPairs(s, d, 0.6)
        val ths = Seq(6000L, 7000L, 8000L, 9000L).toDF("threshold_e4")
        val matched = pairs.join(broadcast(ths),
          col("jac_e4") >= col("threshold_e4"))
        val nPairs = matched.groupBy(col("threshold_e4"))
          .agg(count(lit(1)).as("n_pairs"))
        val nDocs = matched
          .select(col("threshold_e4"),
            explode(array(col("doc_a"), col("doc_b"))).as("doc"))
          .groupBy(col("threshold_e4"))
          .agg(countDistinct(col("doc")).as("n_docs"))
        nPairs.join(nDocs, "threshold_e4").orderBy(col("threshold_e4"))
      },
      Some(s"""
        WITH g AS ($DGrams),
        p AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                 len(list_intersect(a.grams, b.grams)) AS inter,
                 a.sz AS la, b.sz AS lb
          FROM g a JOIN g b ON a.doc_id < b.doc_id
        ),
        j AS (
          SELECT doc_a, doc_b,
                 CAST(floor(CAST(inter AS DOUBLE) / (la + lb - inter) * 10000)
                      AS BIGINT) AS jac_e4
          FROM p WHERE CAST(inter AS DOUBLE) / (la + lb - inter) >= 0.6
        ),
        t AS (SELECT unnest(CAST([6000, 7000, 8000, 9000] AS BIGINT[]))
                     AS threshold_e4),
        m AS (SELECT t.threshold_e4, j.doc_a, j.doc_b
              FROM t JOIN j ON j.jac_e4 >= t.threshold_e4),
        np AS (SELECT threshold_e4, COUNT(*) AS n_pairs
               FROM m GROUP BY threshold_e4),
        nd AS (SELECT threshold_e4, COUNT(DISTINCT doc) AS n_docs
               FROM (SELECT threshold_e4, unnest([doc_a, doc_b]) AS doc FROM m)
               GROUP BY threshold_e4)
        SELECT np.threshold_e4, np.n_pairs, nd.n_docs
        FROM np JOIN nd USING (threshold_e4)
        ORDER BY threshold_e4
      """)),

    // ---------------------------------------------------------------
    // q98: duplicate-cluster size histogram — the dedup diagnostic
    // read alongside q92's impact report: are near-dups isolated pairs
    // or giant templated families? (Web-scale corpora are dominated by
    // a few huge boilerplate clusters; a 5+-heavy histogram says "fix
    // the source", a 2-heavy one says "dedup and move on".)
    //
    // Scale: the component table holds only dup members (corpus-tiny
    // in the normal regime); the size aggregate is over #clusters, and
    // singleton counting is a doc_id-projection anti-join against that
    // table — left unhinted so stats/AQE broadcast it when small but
    // degrade to a shuffle in the dup-heavy regime this very histogram
    // exists to diagnose. No full-text scan anywhere: the one
    // expensive input (the pair join) is the session-shared memo
    // q40/q57/q92 already paid for.
    Q("q98_dup_cluster_sizes",
      (s, d) => {
        val comp = components(s, d)
        val sizes = comp.groupBy(col("component"))
          .agg(count(lit(1)).as("sz"))
        val clustered = sizes
          .groupBy(when(col("sz") >= 5, lit("5+"))
            .otherwise(col("sz").cast("string")).as("bucket"))
          .agg(count(lit(1)).as("n_clusters"), sum(col("sz")).as("n_docs"))
        val singles = Tables.documents(s, d).select(col("doc_id"))
          .join(comp.select(col("doc_id")), Seq("doc_id"), "left_anti")
          .agg(count(lit(1)).as("n_clusters"))
          .select(lit("1").as("bucket"), col("n_clusters"),
            col("n_clusters").as("n_docs"))
        clustered.unionByName(singles).orderBy(col("bucket"))
      },
      Some(s"""
        WITH RECURSIVE ${componentsOracleCtes(0.8)},
        sizes AS (SELECT component, COUNT(*) AS sz FROM comp GROUP BY component),
        clustered AS (
          SELECT CASE WHEN sz >= 5 THEN '5+' ELSE CAST(sz AS VARCHAR) END
                   AS bucket,
                 COUNT(*) AS n_clusters,
                 CAST(SUM(sz) AS BIGINT) AS n_docs
          FROM sizes GROUP BY 1
        ),
        singles AS (
          SELECT CAST('1' AS VARCHAR) AS bucket,
                 COUNT(*) AS n_clusters, COUNT(*) AS n_docs
          FROM documents dd
          WHERE NOT EXISTS (SELECT 1 FROM comp c WHERE c.doc_id = dd.doc_id)
        )
        SELECT bucket, n_clusters, n_docs FROM clustered
        UNION ALL SELECT bucket, n_clusters, n_docs FROM singles
        ORDER BY bucket
      """)),

    // ---------------------------------------------------------------
    // q99: per-source duplication rates — the mixture-planning input
    // q68 consumes upstream: for each source, how many docs an exact
    // pass and a near-dup pass would each remove ("removed" = not the
    // min-doc_id keeper of its digest group / component, the same
    // keeper rule as q39/q92). A source with a high dup rate gets its
    // mixture weight cut before sampling, not after.
    //
    // Scale: one digest-keyed aggregate over a (doc_id, source,
    // digest) projection; the near-dup side joins the corpus-tiny
    // component table; everything downstream is keyed by source
    // (bounded cardinality). Exact integer rates via div.
    Q("q99_source_dup_rates",
      (s, d) => {
        val docs = Tables.documents(s, d)
          .select(col("doc_id"), col("source"),
            md5(lower(trim(col("text")))).as("digest"))
          .persist(StorageLevel.MEMORY_AND_DISK)
        val keepers = docs.groupBy(col("digest"))
          .agg(min(col("doc_id")).as("keeper"))
        val exactRemoved = docs.join(keepers, "digest")
          .filter(col("doc_id") =!= col("keeper"))
          .groupBy(col("source")).agg(count(lit(1)).as("exact_removed"))
        val ndRemoved = components(s, d)
          .filter(col("doc_id") =!= col("component"))
          .join(docs.select(col("doc_id"), col("source")), "doc_id")
          .groupBy(col("source")).agg(count(lit(1)).as("neardup_removed"))
        docs.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
          .join(broadcast(exactRemoved), Seq("source"), "left")
          .join(broadcast(ndRemoved), Seq("source"), "left")
          .select(col("source"), col("n_docs"),
            coalesce(col("exact_removed"), lit(0L)).as("exact_removed"),
            coalesce(col("neardup_removed"), lit(0L)).as("neardup_removed"))
          .withColumn("exact_rate_e4",
            expr("(exact_removed * 10000) div n_docs"))
          .withColumn("neardup_rate_e4",
            expr("(neardup_removed * 10000) div n_docs"))
          .orderBy(col("source"))
      },
      Some(s"""
        WITH RECURSIVE ${componentsOracleCtes(0.8)},
        docs AS (
          SELECT doc_id, source, md5(lower(trim(text))) AS digest
          FROM documents
        ),
        k AS (SELECT digest, MIN(doc_id) AS keeper FROM docs GROUP BY digest),
        er AS (
          SELECT source, COUNT(*) AS exact_removed
          FROM docs JOIN k USING (digest)
          WHERE doc_id <> keeper GROUP BY source
        ),
        nr AS (
          SELECT d.source, COUNT(*) AS neardup_removed
          FROM comp c JOIN docs d USING (doc_id)
          WHERE c.doc_id <> c.component GROUP BY d.source
        ),
        t AS (SELECT source, COUNT(*) AS n_docs FROM docs GROUP BY source)
        SELECT t.source, t.n_docs,
               CAST(COALESCE(er.exact_removed, 0) AS BIGINT) AS exact_removed,
               CAST(COALESCE(nr.neardup_removed, 0) AS BIGINT) AS neardup_removed,
               CAST((COALESCE(er.exact_removed, 0) * 10000) // t.n_docs
                    AS BIGINT) AS exact_rate_e4,
               CAST((COALESCE(nr.neardup_removed, 0) * 10000) // t.n_docs
                    AS BIGINT) AS neardup_rate_e4
        FROM t LEFT JOIN er USING (source) LEFT JOIN nr USING (source)
        ORDER BY t.source
      """)),

    // ---------------------------------------------------------------
    // q122: near-dup graph degree histogram (t=0.8) — the node-level
    // companion to q98's cluster sizes: how many verified neighbors
    // each doc has (degree 0 = singleton, counted via anti-join). A
    // corpus whose mass sits at high degree is template-dominated;
    // q98 can't distinguish one dense clique from a long chain of the
    // same size — the degree distribution can. Input is the
    // session-shared verified-pair memo (paid once by q40), so this is
    // two tiny aggregations + one anti-join, no text rescan.
    Q("q122_dup_degree_hist",
      (s, d) => {
        val pairs = jaccardPairs(s, d, 0.8)
        val deg = pairs.select(col("doc_a").as("doc_id"))
          .unionAll(pairs.select(col("doc_b").as("doc_id")))
          .groupBy(col("doc_id")).agg(count(lit(1)).as("degree"))
        val hist = deg.groupBy(col("degree"))
          .agg(count(lit(1)).as("n_docs"))
        val zeros = Tables.documents(s, d).select(col("doc_id"))
          .join(deg.select(col("doc_id")), Seq("doc_id"), "left_anti")
          .agg(count(lit(1)).as("n_docs"))
          .select(lit(0L).as("degree"), col("n_docs"))
        hist.unionByName(zeros).orderBy(col("degree"))
      },
      Some(s"""
        WITH g AS ($DGrams),
        p AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                 len(list_intersect(a.grams, b.grams)) AS inter,
                 a.sz AS la, b.sz AS lb
          FROM g a JOIN g b ON a.doc_id < b.doc_id
        ),
        pairs AS (
          SELECT doc_a, doc_b FROM p
          WHERE CAST(inter AS DOUBLE) / (la + lb - inter) >= 0.8
        ),
        ends AS (
          SELECT doc_a AS doc_id FROM pairs
          UNION ALL SELECT doc_b FROM pairs
        ),
        deg AS (SELECT doc_id, COUNT(*) AS degree FROM ends GROUP BY doc_id),
        hist AS (SELECT degree, COUNT(*) AS n_docs FROM deg GROUP BY degree),
        z AS (
          SELECT CAST(0 AS BIGINT) AS degree, COUNT(*) AS n_docs
          FROM documents dd
          WHERE NOT EXISTS (SELECT 1 FROM deg WHERE deg.doc_id = dd.doc_id)
        )
        SELECT degree, n_docs FROM hist
        UNION ALL SELECT degree, n_docs FROM z
        ORDER BY degree
      """)),

    // ---------------------------------------------------------------
    // q161/q162: SAMPLED near-dup semantics — the entries that keep the
    // Jaccard pipeline inside the AMPLIFIED oracle gate (r10 judge #9):
    // q40/q57's full-corpus oracles are O(N²) all-pairs and drop out of
    // the ~sf1 sweep, so the IDENTICAL machinery (gram pipeline,
    // prefix-filter candidate join with provably-perfect recall, exact
    // verify; then transitive closure) runs here over a FIXED
    // 1000-document mod-prime sample — corpus-size-independent work, an
    // all-pairs oracle that stays tractable at any SF, and pairwise
    // Jaccard is corpus-independent so the sampled values equal the
    // full run's for those pairs. Rarity order inside the sample
    // differs from the global one, which is fine: the prefix-filter
    // recall proof holds under ANY fixed gram order.
    Q("q161_sampled_neardup",
      (s, d) => sampledJaccardPairs(s, d, 0.8, SampleN)
        .orderBy(col("doc_a"), col("doc_b")),
      Some(s"""
        WITH ${sampledIdsSql(SampleN)}, g0 AS ($DGrams),
        g AS (
          SELECT g0.doc_id, g0.grams, g0.sz FROM g0 JOIN ids USING (doc_id)
        ), p AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                 len(list_intersect(a.grams, b.grams)) AS inter,
                 a.sz AS la, b.sz AS lb
          FROM g a JOIN g b ON a.doc_id < b.doc_id
        )
        SELECT doc_a, doc_b,
               CAST(floor(CAST(inter AS DOUBLE) / (la + lb - inter) * 10000)
                 AS BIGINT) AS jac_e4
        FROM p WHERE CAST(inter AS DOUBLE) / (la + lb - inter) >= 0.8
        ORDER BY doc_a, doc_b
      """)),

    // ---------------------------------------------------------------
    // q162: the q57 closure over q161's sampled pairs — every sampled
    // doc labeled with its near-dup component (singletons label
    // themselves, the q66 coalesce discipline). The recursive-CTE twin
    // stays tractable at amplified scale because the edge set is the
    // sampled one.
    Q("q162_sampled_dedup_groups",
      (s, d) => {
        val pairs = sampledJaccardPairs(s, d, 0.8, SampleN)
        val comp = graft.operators.ConnectedComponents.labelPropagation(
          pairs.select(col("doc_a").as("src"), col("doc_b").as("dst")))
          .select(col("id").as("doc_id"), col("component"))
        sampleIds(s, d, SampleN)
          .join(comp, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("component"), col("doc_id")).as("component"))
          .orderBy(col("doc_id"))
      },
      Some(s"""
        WITH RECURSIVE ${sampledIdsSql(SampleN)}, g0 AS ($DGrams),
        g AS (
          SELECT g0.doc_id, g0.grams, g0.sz FROM g0 JOIN ids USING (doc_id)
        ), p AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                 len(list_intersect(a.grams, b.grams)) AS inter,
                 a.sz AS la, b.sz AS lb
          FROM g a JOIN g b ON a.doc_id < b.doc_id
        ), pairs AS (
          SELECT doc_a, doc_b FROM p
          WHERE CAST(inter AS DOUBLE) / (la + lb - inter) >= 0.8
        ), e AS (
          SELECT doc_a AS a, doc_b AS b FROM pairs
          UNION SELECT doc_b, doc_a FROM pairs
        ), reach(a, b) AS (
          SELECT a, b FROM e
          UNION
          SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a
        ), comp AS (
          SELECT a AS doc_id, LEAST(a, MIN(b)) AS component
          FROM reach GROUP BY a
        )
        SELECT ids.doc_id, COALESCE(comp.component, ids.doc_id) AS component
        FROM ids LEFT JOIN comp ON ids.doc_id = comp.doc_id
        ORDER BY ids.doc_id
      """)),

    // ---------------------------------------------------------------
    // q181: INCREMENTALLY-MAINTAINED LSH INDEX (r11) — the dedup tier
    // and the table-format tier composing into the standing shape of
    // a production dedup service: q41's band index becomes a
    // PERSISTENT graft table maintained from the corpus table's
    // change feed (LshIndexPipeline), so probing never re-signatures
    // the corpus. Lifecycle under the oracle gate: evens merge-commit
    // and drain (index bootstraps); odds merge in and a doc_id band
    // is DELETEd; the second drain must add exactly the odds'
    // postings and RETIRE the deleted docs' (file-scoped delete
    // pruned by the index's own doc_id zone maps + blooms; the
    // append leg txn-stamped for crash-replay dedup). The probe —
    // one band equi-join over the index, exact-Jaccard verify
    // against the live corpus — must equal the all-pairs ground
    // truth over live docs; idx_docs pins insertion AND retirement
    // completeness (a stale posting or a missed odd doc shifts it).
    // Scale: per batch, work ∝ change rows + overlapping index
    // files; the probe is the q41 shape against a table that already
    // exists — the 100 TB dedup loop without a corpus rescan.
    Q("q181_incremental_lsh_index",
      (s, d) => {
        import graft.operators.VersionedTable
        val docsBase = graft.TempDirs.scoped("graft_q181_docs")
        val idxBase = graft.TempDirs.scoped("graft_q181_idx")
        val cp = graft.TempDirs.scoped("graft_q181_cp")
        val t = 0.7
        val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
        val ext = docs.agg(min(col("doc_id")), max(col("doc_id"))).head()
        val (ilo, ihi) = (ext.getLong(0), ext.getLong(1))
        val span = ihi - ilo + 1
        val (dlo, dhi) = (ilo + span * 3 / 8, ilo + span * 4 / 8 - 1)
        VersionedTable.commitMerge(s, docsBase,
          docs.filter(col("doc_id") % 2 === 0), "doc_id", Seq("doc_id"),
          statsCols = Seq("doc_id"))
        graft.streaming.LshIndexPipeline.runAvailableNow(
          s, docsBase, idxBase, cp)
        VersionedTable.commitMerge(s, docsBase,
          docs.filter(col("doc_id") % 2 === 1), "doc_id", Seq("doc_id"),
          statsCols = Seq("doc_id"))
        VersionedTable.commitDelete(s, docsBase,
          col("doc_id").between(dlo, dhi), Seq(("doc_id", dlo, dhi)),
          statsCols = Seq("doc_id"))
        graft.streaming.LshIndexPipeline.runAvailableNow(
          s, docsBase, idxBase, cp)
        // probe: candidates from the INDEX, verified against the LIVE
        // corpus read back through the format
        val live = s.read.format("graft").load(docsBase)
          .select(col("doc_id"),
            array_sort(transform(
              array_distinct(TextAnalysis.wordNgrams(col("text"), 3)),
              g => xxhash64(g))).as("grams"))
          .filter(size(col("grams")) > 0)
          .persist(StorageLevel.MEMORY_AND_DISK)
        val idxDocs = s.read.format("graft").load(idxBase)
          .agg(countDistinct(col("doc_id"))).head().getLong(0)
        val cand = graft.streaming.LshIndexPipeline.candidates(s, idxBase)
        val out = verifyPairs(cand, live, t)
          .withColumn("idx_docs", lit(idxDocs))
        live.unpersist()
        out
      },
      Some(s"""
        WITH g0 AS ($DGrams),
        ids AS (SELECT MIN(doc_id) AS ilo, MAX(doc_id) AS ihi
                FROM documents),
        pr AS (SELECT ilo + (ihi - ilo + 1) * 3 // 8 AS dlo,
                      ilo + (ihi - ilo + 1) * 4 // 8 - 1 AS dhi
               FROM ids),
        g AS (SELECT g0.* FROM g0, pr
              WHERE doc_id NOT BETWEEN dlo AND dhi),
        p AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                 len(list_intersect(a.grams, b.grams)) AS inter,
                 a.sz AS la, b.sz AS lb
          FROM g a JOIN g b ON a.doc_id < b.doc_id
        )
        SELECT doc_a, doc_b,
               CAST(floor(CAST(inter AS DOUBLE) / (la + lb - inter)
                 * 10000) AS BIGINT) AS jac_e4,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM g) AS idx_docs
        FROM p WHERE CAST(inter AS DOUBLE) / (la + lb - inter) >= 0.7
        ORDER BY doc_a, doc_b
      """),
      // bench=false: fixture-write-dominated like q153/q157
      bench = false),

    // ---------------------------------------------------------------
    // q190: q181's standing-index lifecycle over the FIXED 1000-doc
    // mod-prime sample (r12, judge ask #6) — the q161 sampling
    // discipline applied to the incrementally-maintained LSH index, so
    // the all-pairs ground-truth oracle stays tractable at the
    // AMPLIFIED (~sf1) corpus where q181's full-corpus twin is the
    // documented O(N²) class. Identical machinery: evens bootstrap,
    // odds + a span DELETE maintain, the probe (band equi-join over
    // the index, exact-Jaccard verify against the live corpus) must
    // equal the sample's all-pairs truth over live docs, idx_docs pins
    // insertion AND retirement completeness. Sampled work is
    // corpus-size-independent; pairwise Jaccard is corpus-independent,
    // so the sampled values equal the full run's for those pairs.
    Q("q190_sampled_index_probe",
      (s, d) => {
        import graft.operators.VersionedTable
        val docsBase = graft.TempDirs.scoped("graft_q190_docs")
        val idxBase = graft.TempDirs.scoped("graft_q190_idx")
        val cp = graft.TempDirs.scoped("graft_q190_cp")
        val t = 0.7
        val docs = sampleIds(s, d, SampleN)
          .join(Tables.documents(s, d), "doc_id")
          .select(col("doc_id"), col("text"))
        val ext = docs.agg(min(col("doc_id")), max(col("doc_id"))).head()
        val (ilo, ihi) = (ext.getLong(0), ext.getLong(1))
        val span = ihi - ilo + 1
        val (dlo, dhi) = (ilo + span * 3 / 8, ilo + span * 4 / 8 - 1)
        VersionedTable.commitMerge(s, docsBase,
          docs.filter(col("doc_id") % 2 === 0), "doc_id", Seq("doc_id"),
          statsCols = Seq("doc_id"))
        graft.streaming.LshIndexPipeline.runAvailableNow(
          s, docsBase, idxBase, cp)
        VersionedTable.commitMerge(s, docsBase,
          docs.filter(col("doc_id") % 2 === 1), "doc_id", Seq("doc_id"),
          statsCols = Seq("doc_id"))
        VersionedTable.commitDelete(s, docsBase,
          col("doc_id").between(dlo, dhi), Seq(("doc_id", dlo, dhi)),
          statsCols = Seq("doc_id"))
        graft.streaming.LshIndexPipeline.runAvailableNow(
          s, docsBase, idxBase, cp)
        val live = s.read.format("graft").load(docsBase)
          .select(col("doc_id"),
            array_sort(transform(
              array_distinct(TextAnalysis.wordNgrams(col("text"), 3)),
              g => xxhash64(g))).as("grams"))
          .filter(size(col("grams")) > 0)
          .persist(StorageLevel.MEMORY_AND_DISK)
        val idxDocs = s.read.format("graft").load(idxBase)
          .agg(countDistinct(col("doc_id"))).head().getLong(0)
        val cand = graft.streaming.LshIndexPipeline.candidates(s, idxBase)
        // sentinel row: insertion/retirement completeness (idx_docs)
        // stays HASH-CHECKED even when the sampled pair density rounds
        // to zero (the amplified corpora — a fixed sample of a 10x
        // corpus holds quadratically fewer pairs)
        import s.implicits._
        val out = verifyPairs(cand, live, t)
          .withColumn("idx_docs", lit(idxDocs))
          .unionByName(Seq((-1L, -1L, -1L, idxDocs))
            .toDF("doc_a", "doc_b", "jac_e4", "idx_docs"))
          .orderBy(col("doc_a"), col("doc_b"))
        live.unpersist()
        out
      },
      Some(s"""
        WITH ${sampledIdsSql(SampleN)}, g0 AS ($DGrams),
        gs AS (SELECT g0.* FROM g0 JOIN ids USING (doc_id)),
        b AS (SELECT MIN(doc_id) AS ilo, MAX(doc_id) AS ihi FROM ids),
        pr AS (SELECT ilo + (ihi - ilo + 1) * 3 // 8 AS dlo,
                      ilo + (ihi - ilo + 1) * 4 // 8 - 1 AS dhi
               FROM b),
        g AS (SELECT gs.* FROM gs, pr
              WHERE doc_id NOT BETWEEN dlo AND dhi),
        p AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                 len(list_intersect(a.grams, b.grams)) AS inter,
                 a.sz AS la, b.sz AS lb
          FROM g a JOIN g b ON a.doc_id < b.doc_id
        )
        SELECT doc_a, doc_b,
               CAST(floor(CAST(inter AS DOUBLE) / (la + lb - inter)
                 * 10000) AS BIGINT) AS jac_e4,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM g) AS idx_docs
        FROM p WHERE CAST(inter AS DOUBLE) / (la + lb - inter) >= 0.7
        UNION ALL
        SELECT CAST(-1 AS BIGINT), CAST(-1 AS BIGINT),
               CAST(-1 AS BIGINT),
               (SELECT CAST(COUNT(*) AS BIGINT) FROM g)
        ORDER BY doc_a, doc_b
      """),
      // bench=false: fixture-write-dominated like q153/q157
      bench = false)
  )

  private def sampledIdsSql(n: Int): String =
    s"""ids AS (
       |          SELECT doc_id FROM documents
       |          ORDER BY ((doc_id % 1000003) * 2654435761) % 1000003, doc_id
       |          LIMIT $n
       |        )""".stripMargin

  /** The deterministic mod-prime doc sample (the q51/q126 pick). */
  private def sampleIds(s: SparkSession, d: String, n: Int): DataFrame =
    Tables.documents(s, d).select(col("doc_id"))
      .orderBy(expr("((doc_id % 1000003) * 2654435761) % 1000003"),
        col("doc_id"))
      .limit(n)

  /** q40's prefix-filter set-similarity join restricted to the fixed
    * [[SampleN]]-doc sample (gram frequency computed WITHIN the sample
    * — the recall proof is order-agnostic). Memoized like the full
    * pair table; shared by q161/q162.
    */
  private def sampledJaccardPairs(s: SparkSession, d: String, t: Double,
                                  n: Int): DataFrame =
    graft.Artifacts.parquet("graft-jacpairs-sampled", s, d, (t, n)) {
      val g = grams(s, d)
        .join(broadcast(sampleIds(s, d, n)), "doc_id")
        .persist(StorageLevel.MEMORY_AND_DISK)
      // cache-race guard (see prefixIndex): freq, the prefix join probe
      // and the verify joins all fan out from this frame
      g.count()
      val exploded = g.select(col("doc_id"), size(col("grams")).as("sz"),
        explode(col("grams")).as("gram"))
      val freq = exploded.groupBy(col("gram")).agg(count(lit(1)).as("freq"))
      val wPrefix = Window.partitionBy(col("doc_id"))
        .orderBy(col("freq"), col("gram"))
      val prefix = exploded.join(freq, "gram")
        .withColumn("rn", row_number().over(wPrefix))
        .filter(col("rn") <= floor((lit(1.0) - t) * col("sz")) + 1)
        .select(col("doc_id"), col("gram"))
      val cand = prefix.as("x")
        .join(prefix.as("y"),
          col("x.gram") === col("y.gram") && col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
        .dropDuplicates("doc_a", "doc_b")
      verifyPairs(cand, g, t)
    }

  /** Eagerly-materialized [[grams]] — the cache-race guard (see
    * [[prefixIndex]]): call where the gram frame feeds two or more
    * INDEPENDENT downstream stages (the verify join's doc_a and doc_b
    * exchanges, a frequency aggregate next to a join probe) so the
    * concurrent stages read cached blocks instead of each recomputing
    * the shingle pipeline against a cold cache.
    */
  private def gramsEager(s: SparkSession, d: String): DataFrame = {
    val g = grams(s, d)
    g.count()
    g
  }
}
