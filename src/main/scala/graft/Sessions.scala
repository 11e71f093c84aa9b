package graft

import org.apache.spark.sql.SparkSession

/** One place to build the engine's local sessions so scan-affecting
  * config is set at construction, not mutated mid-query (events.parquet
  * carries TIMESTAMP(NANOS), readable only with nanosAsLong).
  */
object Sessions {

  /** Sort-fallback threshold for ObjectHashAggregateExec (distinct keys
    * per partition before it abandons hashing and sorts the rest of the
    * partition). The engine's TypedImperativeAggregates (MinHashAgg /
    * SimHashAgg / MisraGriesAgg) group by doc_id, so distinct keys per
    * partition = docs/partitions — far past Spark's default of 128,
    * which made EVERY partition sort its whole exploded-gram stream and
    * spill under session memory pressure (the r6 bench blow-up: q41
    * 69.3 s in-session vs 10.0 s isolated).
    *
    * Sizing: the buffers are small primitives (MinHashAgg k=32 → 256 B,
    * SimHashAgg 56 bits → 224 B; ~400 B/key with map overhead), so
    * 2^21 keys bounds the per-task hash map at ~800 MB — safe under
    * this host's heap at full parallelism, and on a real cluster
    * shuffle partitioning is sized so groups/partition stays well under
    * this anyway (past it, Spark's sort-based fallback is the correct
    * behavior, not a bug).
    */
  val ObjectHashFallbackThreshold: Int = 1 << 21

  /** The engine invariants every profile sets at build, and
    * [[deployment]] re-sets at runtime: the UTC session zone,
    * `nanosAsLong` and [[ObjectHashFallbackThreshold]].
    */
  private val Invariants: Map[String, String] = Map(
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" ->
      ObjectHashFallbackThreshold.toString)

  private val SecretKey = "(?i)secret|password|token|key".r

  /** `k=v` as the extra-conf echo prints it: the value of a key that
    * looks like a credential is masked, so logs never carry it.
    */
  private[graft] def echo(k: String, v: String): String =
    if (SecretKey.findFirstIn(k).isDefined) s"$k=***" else s"$k=$v"

  /** [[local]]'s engine settings without the environment's overrides:
    * specs build their session from this, so a variable left in the
    * shell cannot change what they test.
    *
    * The `file:` scheme is bound to [[graft.io.NioLocalFileSystem]] and
    * [[graft.io.NioLocalFs]]. Without `libhadoop.so`, Hadoop's local
    * filesystem starts one process per `chmod` (each checkpoint temp
    * file, parquet part file and committer dir) and per `readlink`
    * (each checkpoint rename), about 170 for one `watch --once` drain
    * of 48 scans; these set modes and read links through `java.nio`.
    * They leave the rest as it was: checkpoint atomicity is Hadoop's
    * own rename logic, `.crc` sidecars are written, and a sticky mode or
    * a real symlink takes Hadoop's stock path. [[deployment]] keeps the
    * cluster's filesystems: its checkpoints are on replicated storage.
    *
    * Artifact isolation is off. Each streaming query runs on a clone of
    * the session, and with isolation on (Spark 4.1's default) every
    * clone is a new artifact session, whose jobs get a fresh executor
    * class loader. Spark's codegen cache keys on that loader, so a
    * streaming query run again in the same JVM would compile all of its
    * generated classes again, byte-identical to the last run's: a second
    * drain of the same 48 scans compiles 27. The gain is in a JVM that
    * runs one streaming query more than once, such as the test suites
    * or a harness that drains in a loop. A `graft watch --once`
    * process runs one drain, which compiles all of its classes either
    * way (31); a continuous `graft watch` is one query; and no query
    * that [[graft.Bench]] times starts a streaming query. None of these
    * gains. graft adds no session artifacts (no `addArtifact` or
    * `addJar`), so isolation would keep nothing apart here.
    * [[deployment]] keeps the cluster's setting: a cluster may serve
    * Spark Connect clients whose artifacts must stay apart.
    */
  private[graft] def localBuilder(cpus: String): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config(Invariants)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      // the graft table format as a named SQL catalog (graft.ns.tbl,
      // VERSION AS OF time travel) — warehouse layout IS the identity
      .config("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
      .config("spark.sql.catalog.graft.warehouse",
        s"${System.getProperty("java.io.tmpdir")}/graft_warehouse")
      .config("spark.sql.shuffle.partitions", cpus)
      // list paths on the driver, never through a listing job: a file
      // stream's micro-batch indexes its N new files as N root paths, and
      // past 32 of them Spark lists them with one task per file — which,
      // in one JVM, runs on the driver's own cores with task overhead on
      // top. [[deployment]] keeps the default: on a cluster the
      // executors do that listing.
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold",
        Int.MaxValue.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.hadoop.fs.file.impl", classOf[graft.io.NioLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl", classOf[graft.io.NioLocalFs].getName)
      .config("spark.sql.artifact.isolation.enabled", "false")

  def local(cpus: String): SparkSession = {
    val b = localBuilder(cpus)
    // Environment passthrough for engine tuning (the optimization-round
    // parameterization rule: scale-dependent settings ride conf/env, not
    // constants): SPARK_GRAFT_EXTRA_CONF="k=v;k=v" overrides/extends the
    // defaults above — used for deployment sizing and for A/B measuring
    // config candidates without a rebuild.
    // r18 (r17 advice): each applied override is echoed to stderr so
    // bench/verify logs always record the effective config — a stray
    // env var can no longer silently make the verified session differ
    // from the benched one; empty-key entries (e.g. a leading '=') are
    // skipped instead of passing an empty config key to Spark. Values of
    // credential-like keys are masked in the echo (see `echo`).
    sys.env.get("SPARK_GRAFT_EXTRA_CONF").toSeq
      .flatMap(_.split(";")).map(_.trim).filter(_.contains("="))
      .foreach { kv =>
        val Array(k, v) = kv.split("=", 2)
        if (k.trim.isEmpty)
          System.err.println(s"[sessions] SKIPPED extra conf with empty key: '$kv'")
        else {
          System.err.println(s"[sessions] extra conf: ${echo(k.trim, v.trim)}")
          b.config(k.trim, v.trim)
        }
      }
    b.getOrCreate()
  }

  /** Deployment profile: the engine config a MULTI-EXECUTOR cluster
    * needs, applied to a session whose master/resources come from the
    * environment (spark-submit). Differences from [[local]], each a
    * documented single-node-vs-cluster divergence:
    *  - `spark.graft.reliableCheckpoints=true` BY DEFAULT — the
    *    persisted-frame recompute hazard GlobalRank /
    *    ConnectedComponents / Salt document (executor loss drops
    *    MEMORY_AND_DISK blocks; a recompute re-runs
    *    monotonically_increasing_id and can silently shift ranks) is
    *    real on a cluster, so [[graft.operators.Reliable.barrier]]
    *    must write through reliable `checkpoint()` there, not opt into
    *    it. `checkpointDir` must point at REPLICATED storage
    *    (HDFS/object store) — required here, not silently degraded;
    *  - checkpoint GC on (`cleanCheckpoints=true`) so long sessions
    *    don't accumulate barrier files;
    *  - shuffle partitions are left to the deployment (cluster sizing,
    *    AQE coalescing), not pinned to a local CPU count;
    *  - path listing keeps Spark's parallel-listing threshold, so the
    *    executors list a micro-batch's many new files.
    * UTC, nanosAsLong, the ObjectHashAggregate threshold and the graft
    * extensions are the same engine invariants as [[local]].
    */
  def deployment(checkpointDir: String): SparkSession = {
    require(checkpointDir.nonEmpty,
      "deployment profile requires a replicated-storage checkpoint dir")
    val s = SparkSession.builder()
      .config(Invariants)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config(graft.operators.Reliable.Flag, "true")
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
      .getOrCreate()
    // runtime sets too: getOrCreate may have returned a pre-existing
    // session, whose builder configs are silently ignored — re-apply
    // every runtime-settable engine invariant, not just the flag
    // (a pre-existing non-UTC session would otherwise shift event
    // timestamps, and the default ObjectHashAggregate threshold would
    // re-open the r6 sort-fallback blow-up)
    s.conf.set(graft.operators.Reliable.Flag, "true")
    Invariants.foreach { case (k, v) => s.conf.set(k, v) }
    s.sparkContext.setCheckpointDir(checkpointDir)
    s
  }
}
