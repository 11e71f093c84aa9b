package graft.sources

import graft.SparkSuite
import graft.operators.{Layout, VersionedTable}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StringType}

/** STORAGE-PARTITIONED JOINS on graft-native bucketed tables: two
  * tables written `bucketBy=n:key` report
  * `KeyGroupedPartitioning(bucket(n, key))` through the DSv2 scan and
  * join with NO shuffle on either side — plus the bucket-prune and
  * claim-voiding disciplines around the layout.
  */
class GraftSpjSpec extends SparkSuite {

  private val ns = s"spj${System.nanoTime() % 1000000}"
  private def warehouse =
    s"${System.getProperty("java.io.tmpdir")}/graft_warehouse"

  private def mkTable(name: String, rows: Seq[(Long, Long)],
                      buckets: Int): String = {
    val s = spark
    import s.implicits._
    val base = s"$warehouse/$ns/$name"
    rows.toDF("k", "v").write.format("graft")
      .option("bucketBy", s"$buckets:k").mode("append").save(base)
    base
  }

  private def withSpj[A](body: => A): A = {
    val prev = Seq(
      "spark.sql.sources.v2.bucketing.enabled",
      "spark.sql.sources.v2.bucketing.pushPartValues.enabled",
      "spark.sql.autoBroadcastJoinThreshold")
      .map(k => k -> spark.conf.getOption(k))
    try {
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      spark.conf.set("spark.sql.sources.v2.bucketing.pushPartValues.enabled",
        "true")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      body
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("bucketed ⋈ bucketed joins with zero shuffle; rows exact") {
    val left = (1L to 400L).map(k => (k, k * 10L))
    val right = (200L to 600L).map(k => (k, k * 7L))
    mkTable("a", left, 8)
    mkTable("b", right, 8)
    withSpj {
      val j = spark.table(s"graft.$ns.a").as("a")
        .join(spark.table(s"graft.$ns.b").as("b"), col("a.k") === col("b.k"))
        .select(col("a.k"), col("a.v"), col("b.v").as("w"))
      val plan = j.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"storage-partitioned join must not shuffle:\n$plan")
      val got = j.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val want = (200L to 400L).map(k => (k, k * 10L, k * 7L)).toSet
      assert(got === want)
    }
    // negative control: same join with v2 bucketing explicitly OFF
    // exchanges — otherwise the no-shuffle assert above is vacuous
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "false")
      val j = spark.table(s"graft.$ns.a").as("a")
        .join(spark.table(s"graft.$ns.b").as("b"), col("a.k") === col("b.k"))
      assert(j.queryExecution.executedPlan.toString
        .contains("Exchange hashpartitioning"))
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.conf.unset("spark.sql.sources.v2.bucketing.enabled")
    }
  }

  test("equality on the bucket key prunes to that bucket's files") {
    val base = mkTable("p", (1L to 512L).map(k => (k, k)), 8)
    val es = VersionedTable.entries(base,
      VersionedTable.latestVersion(base).get)
    assert(es.size === 8, s"expected 8 one-bucket files, got ${es.size}")
    assert(Layout.of(es) === Some(Layout.Bucket(8, Seq("k"))))
    // DSv2 read with an equality literal: the planned scan keeps only
    // the one file whose bucket id matches — no zone maps, no blooms,
    // pure O(1)-per-file hash arithmetic
    val out = spark.read.format("graft").load(base)
      .filter(col("k") === 137L).collect()
    assert(out.map(_.getLong(0)).toSeq === Seq(137L))
    assert(GraftScanMetrics.lastPrune(base) === Some((1, 8)),
      s"bucket probe should keep 1/8 files, got " +
        s"${GraftScanMetrics.lastPrune(base)}")
    // library-side probe agrees
    val kept = VersionedTable.pruneTyped(es,
      Seq(VersionedTable.BucketProbe("k", Seq(137L), LongType)))
    assert(kept.size === 1)
    assert(kept.head.stats("k#bucket") ===
      VersionedTable.BucketStat(8, VersionedTable.bucketId(137L, LongType, 8)))
  }

  test("bucket discipline is sticky: appends and DML re-bucket; " +
      "explicit layouts void the claim; join stays correct") {
    val s = spark
    import s.implicits._
    val base = mkTable("void", (1L to 100L).map(k => (k, k)), 4)
    mkTable("void2", (1L to 100L).map(k => (k, k * 2L)), 4)
    def spec() = Layout.of(VersionedTable.entries(base,
      VersionedTable.latestVersion(base).get))
    // a PLAIN append inherits the table's bucket layout (the sticky
    // discipline — streaming ingest must not void SPJ), and its fresh
    // file carries a verified token
    Seq((1000L, 1L)).toDF("k", "v").write.format("graft")
      .mode("append").save(base)
    assert(spec() === Some(Layout.Bucket(4, Seq("k"))))
    // a DML rewrite re-buckets the files it rewrites — claim intact
    VersionedTable.commitDelete(spark, base, col("k") === 50L,
      pruneRanges = Seq(("k", 50L, 50L)))
    assert(spec() === Some(Layout.Bucket(4, Seq("k"))))
    withSpj {
      val j = spark.table(s"graft.$ns.void").as("a")
        .join(spark.table(s"graft.$ns.void2").as("b"),
          col("a.k") === col("b.k"))
      assert(!j.queryExecution.executedPlan.toString
        .contains("Exchange hashpartitioning"),
        "post-append+DML table should still join shuffle-free")
      assert(j.count() === 99L) // k=50 deleted
    }
    // an EXPLICIT layout request (numFiles) opts out: the new file
    // has no token, the claim voids, and the join falls back to
    // shuffling — correctness first, co-location only when proven
    Seq((2000L, 2L)).toDF("k", "v").write.format("graft")
      .option("numFiles", "1").mode("append").save(base)
    assert(spec() === None)
    withSpj {
      val j = spark.table(s"graft.$ns.void").as("a")
        .join(spark.table(s"graft.$ns.void2").as("b"),
          col("a.k") === col("b.k"))
      assert(j.queryExecution.executedPlan.toString
        .contains("Exchange hashpartitioning"))
      assert(j.count() === 99L)
    }
  }

  test("CALL graft.system.rebucket re-establishes a voided claim; " +
      "graft_detail reports the layout") {
    val s = spark
    import s.implicits._
    val base = mkTable("rb", (1L to 200L).map(k => (k, k)), 4)
    assert(spark.sql(s"SELECT bucket_spec FROM graft_detail('$base')")
      .head().getString(0) === "k:4")
    // void via an explicit layout (numFiles opt-out)
    Seq((999L, 9L)).toDF("k", "v").write.format("graft")
      .option("numFiles", "1").mode("append").save(base)
    assert(spark.sql(s"SELECT bucket_spec FROM graft_detail('$base')")
      .head().getString(0) === "")
    // maintenance re-establishes it — at a NEW bucket count
    val v = spark.sql(
      s"CALL graft.system.rebucket('$ns.rb', 'k', 8)").head().getLong(0)
    assert(v === VersionedTable.latestVersion(base).get)
    def spec() = Layout.of(VersionedTable.entries(base,
      VersionedTable.latestVersion(base).get))
    assert(spec() === Some(Layout.Bucket(8, Seq("k"))))
    assert(spark.sql(s"SELECT bucket_spec FROM graft_detail('$base')")
      .head().getString(0) === "k:8")
    // the sticky discipline then holds the NEW layout through appends
    Seq((1000L, 1L)).toDF("k", "v").write.format("graft")
      .mode("append").save(base)
    assert(spec() === Some(Layout.Bucket(8, Seq("k"))))
    assert(VersionedTable.readLatest(spark, base).count() === 202L)
  }

  test("maxRecordsPerFile splits buckets into several files — all " +
      "single-bucket, claim intact, join still shuffle-free") {
    val s = spark
    import s.implicits._
    val base = s"$warehouse/$ns/mrf"
    // the file-size knob a 100 TB ingest needs: one bucket = one write
    // task, so without a cap each bucket is ONE file — the session
    // conf splits task output and composes with bucketing (each split
    // is still single-bucket, commit-verified)
    spark.conf.set("spark.sql.files.maxRecordsPerFile", "40")
    try {
      (1L to 400L).map(k => (k, k)).toDF("k", "v").write.format("graft")
        .option("bucketBy", "4:k") // ~100 rows/bucket → 3 files each
        .mode("append").save(base)
    } finally spark.conf.unset("spark.sql.files.maxRecordsPerFile")
    mkTable("mrf2", (1L to 400L).map(k => (k, k * 2L)), 4)
    val es = VersionedTable.entries(base,
      VersionedTable.latestVersion(base).get)
    assert(es.size > 4, s"expected >4 files (split buckets), got ${es.size}")
    // every file single-bucket (commit-verified), spec still provable
    assert(Layout.of(es) === Some(Layout.Bucket(4, Seq("k"))))
    withSpj {
      val j = spark.table(s"graft.$ns.mrf").as("a")
        .join(spark.table(s"graft.$ns.mrf2").as("b"),
          col("a.k") === col("b.k"))
      assert(!j.queryExecution.executedPlan.toString
        .contains("Exchange hashpartitioning"))
      assert(j.count() === 400L)
    }
  }

  test("one-side-shuffle SPJ: the unbucketed side shuffles INTO the " +
      "bucket layout via the catalog's bucket function") {
    val s = spark
    import s.implicits._
    val base = mkTable("oss", (1L to 300L).map(k => (k, k * 3L)), 8)
    val plainBase = s"$warehouse/$ns/oss_plain"
    (100L to 400L).map(k => (k, k * 5L)).toDF("k", "v").write
      .format("graft").mode("append").save(plainBase)
    withSpj {
      val prev = spark.conf
        .getOption("spark.sql.sources.v2.bucketing.shuffle.enabled")
      try {
        spark.conf.set("spark.sql.sources.v2.bucketing.shuffle.enabled",
          "true")
        val j = spark.table(s"graft.$ns.oss").as("a")
          .join(spark.table(s"graft.$ns.oss_plain").as("b"),
            col("a.k") === col("b.k"))
          .select(col("a.k"), col("a.v"), col("b.v").as("w"))
        val plan = j.queryExecution.executedPlan.toString
        // exactly ONE exchange — the plain side repartitions to match
        // the bucketed layout by EVALUATING GraftBoundBucket
        // distributively; the bucketed side reads in place
        val exchanges = "Exchange ".r.findAllIn(plan).size
        assert(exchanges === 1, s"expected one exchange (plain side):\n$plan")
        val got = j.collect().map(r =>
          (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
        val want = (100L to 300L).map(k => (k, k * 3L, k * 5L)).toSet
        // a wrong produceResult would route rows to the wrong bucket
        // and silently DROP matches — equality here proves the
        // function mirrors the write layout exactly
        assert(got === want)
      } finally prev match {
        case Some(v) => spark.conf
          .set("spark.sql.sources.v2.bucketing.shuffle.enabled", v)
        case None => spark.conf
          .unset("spark.sql.sources.v2.bucketing.shuffle.enabled")
      }
    }
  }

  test("aggregation on the bucket key runs shuffle-free too " +
      "(KeyGroupedPartitioning satisfies the aggregate's distribution)") {
    val s = spark
    import s.implicits._
    mkTable("agg", (1L to 400L).map(k => (k % 50L, k)), 8)
    withSpj {
      val a = spark.table(s"graft.$ns.agg")
        .groupBy(col("k")).agg(sum(col("v")).as("sv"))
      val plan = a.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"groupBy on the bucket key must not shuffle:\n$plan")
      val got = a.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      val want = (1L to 400L).groupBy(_ % 50L).view.mapValues(_.sum).toMap
      assert(got === want)
    }
  }

  test("SPJ lifecycle under MoR deletes: correct fallback while DV'd, " +
      "compaction folds the DV away and restores the zero-shuffle join") {
    val s = spark
    import s.implicits._
    val base = mkTable("dvlc", (1L to 200L).map(k => (k, k)), 4)
    mkTable("dvlc2", (1L to 200L).map(k => (k, k * 2L)), 4)
    // MoR point delete: the DV'd file reroutes reads through the
    // union leg — the co-location claim must NOT produce a wrong plan
    VersionedTable.commitDeleteMoR(spark, base, col("k") === 42L,
      Seq(("k", 42L, 42L)))
    withSpj {
      val j = spark.table(s"graft.$ns.dvlc").as("a")
        .join(spark.table(s"graft.$ns.dvlc2").as("b"),
          col("a.k") === col("b.k"))
      // correctness first: the deleted row is gone, everything else is
      assert(j.count() === 199L)
    }
    // compaction folds the DV away AND re-buckets (sticky discipline):
    // the claim — and the zero-shuffle join — come back
    VersionedTable.compact(spark, base, numFiles = 4)
    val es = VersionedTable.entries(base,
      VersionedTable.latestVersion(base).get)
    assert(es.forall(_.dv.isEmpty))
    assert(Layout.of(es) === Some(Layout.Bucket(4, Seq("k"))))
    withSpj {
      val j = spark.table(s"graft.$ns.dvlc").as("a")
        .join(spark.table(s"graft.$ns.dvlc2").as("b"),
          col("a.k") === col("b.k"))
      assert(!j.queryExecution.executedPlan.toString
        .contains("Exchange hashpartitioning"),
        "post-compaction the SPJ claim must be restored")
      assert(j.count() === 199L)
    }
  }

  test("LIVE concurrent appends keep the bucket layout: racing " +
      "writers all inherit, the claim and the rows survive") {
    import java.util.concurrent.{Callable, Executors, TimeUnit}
    val s = spark
    import s.implicits._
    val base = mkTable("race", (1L to 40L).map(k => (k, k)), 4)
    val pool = Executors.newFixedThreadPool(4)
    try {
      (0 until 4).map { t =>
        pool.submit(new Callable[Unit] {
          override def call(): Unit =
            (1 to 2).foreach { i =>
              (0L until 10L).map(j => (1000L * t + 100L * i + j, j))
                .toDF("k", "v").write.format("graft")
                .mode("append").save(base)
            }
        })
      }.foreach(_.get(300, TimeUnit.SECONDS))
    } finally { pool.shutdownNow(); () }
    val es = VersionedTable.entries(base,
      VersionedTable.latestVersion(base).get)
    assert(Layout.of(es) === Some(Layout.Bucket(4, Seq("k"))),
      "every racing append must inherit the layout (sticky discipline)")
    assert(spark.read.format("graft").load(base).count() === 120L)
    withSpj {
      val j = spark.table(s"graft.$ns.race").as("a")
        .join(spark.table(s"graft.$ns.race").as("b"),
          col("a.k") === col("b.k"))
      assert(!j.queryExecution.executedPlan.toString
        .contains("Exchange hashpartitioning"))
      assert(j.count() === 120L) // keys unique → self-join 1:1
    }
  }

  test("driver bucketId mirrors Spark's repartition hash for int/long/string") {
    val s = spark
    import s.implicits._
    val n = 16
    val longs = (1L to 50L).toDF("x")
      .select(col("x"), pmod(hash(col("x")), lit(n)).as("b"))
      .collect().map(r => (r.getLong(0), r.getInt(1)))
    longs.foreach { case (v, b) =>
      assert(VersionedTable.bucketId(v, LongType, n) === b, s"long $v") }
    val ints = (1 to 50).toDF("x")
      .select(col("x"), pmod(hash(col("x")), lit(n)).as("b"))
      .collect().map(r => (r.getInt(0), r.getInt(1)))
    ints.foreach { case (v, b) =>
      assert(VersionedTable.bucketId(v, IntegerType, n) === b, s"int $v") }
    val strs = Seq("a", "bb", "ccc", "δδ", "", "part-00001").toDF("x")
      .select(col("x"), pmod(hash(col("x")), lit(n)).as("b"))
      .collect().map(r => (r.getString(0), r.getInt(1)))
    strs.foreach { case (v, b) =>
      assert(VersionedTable.bucketId(v, StringType, n) === b, s"str '$v'") }
  }

  test("MULTI-KEY bucket (r14): bucketBy=n:k1,k2 joins the pair with " +
      "zero shuffle; a one-key join does NOT claim co-partitioning") {
    val s = spark
    import s.implicits._
    def rows(vs: Range) =
      vs.map(i => (i.toLong % 20L, i.toLong / 20L, i.toLong)).toDF("k1", "k2", "v")
    val aBase = s"$warehouse/$ns/mk_a"
    val bBase = s"$warehouse/$ns/mk_b"
    rows(0 until 400).write.format("graft")
      .option("bucketBy", "8:k1,k2").mode("append").save(aBase)
    rows(100 until 500).write.format("graft")
      .option("bucketBy", "8:k1,k2").mode("append").save(bBase)
    // every file holds exactly one TUPLE bucket (the verifier's claim)
    val es = VersionedTable.entries(aBase,
      VersionedTable.latestVersion(aBase).get)
    assert(Layout.of(es) === Some(Layout.Bucket(8, Seq("k1", "k2"))))
    withSpj {
      val j = spark.table(s"graft.$ns.mk_a").as("a")
        .join(spark.table(s"graft.$ns.mk_b").as("b"),
          col("a.k1") === col("b.k1") && col("a.k2") === col("b.k2"))
        .select(col("a.k1"), col("a.k2"), col("a.v"), col("b.v").as("w"))
      val plan = j.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"two-key storage-partitioned join must not shuffle:\n$plan")
      val got = j.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      val want = (100 until 400).map(i =>
        (i.toLong % 20L, i.toLong / 20L, i.toLong, i.toLong)).toSet
      assert(got === want)
      // joining on ONE of the two keys covers only half the partition
      // transform's references — co-partitioning must NOT be claimed
      val j1 = spark.table(s"graft.$ns.mk_a").as("a")
        .join(spark.table(s"graft.$ns.mk_b").as("b"),
          col("a.k1") === col("b.k1"))
      assert(j1.queryExecution.executedPlan.toString
        .contains("Exchange hashpartitioning"),
        "a one-key join over a two-key layout must shuffle")
    }
  }

  test("SPJ with join keys SUBSET of partition keys (r15): under " +
      "allowJoinKeysSubsetOfPartitionKeys a one-key join over the " +
      "two-key grid plans zero exchanges; off, it shuffles; results " +
      "equal either way") {
    val s = spark
    import s.implicits._
    // distinct (k1, k2) pairs per side so the one-key join's result is
    // predictable: a.k1 == b.k1 matches each a-row to every b-row of
    // the same k1
    def rows(r: Range) =
      r.map(i => (i.toLong % 10L, i.toLong / 10L, i.toLong)).toDF("k1", "k2", "v")
    val aBase = s"$warehouse/$ns/sub_a"
    val bBase = s"$warehouse/$ns/sub_b"
    rows(0 until 200).write.format("graft")
      .option("bucketBy", "4:k1,k2").mode("append").save(aBase)
    rows(0 until 300).write.format("graft")
      .option("bucketBy", "4:k1,k2").mode("append").save(bBase)
    // BOTH sides keep their k2 in the projection: a partition
    // transform only resolves against the scan's OUTPUT (the
    // readSchema gate in GraftRuntimeScan.bucketLayout — and Spark's
    // own V2ScanPartitioningAndOrdering), so a plan that prunes a
    // partition key away forfeits the claim; same contract as Iceberg
    def joined = spark.table(s"graft.$ns.sub_a").as("a")
      .join(spark.table(s"graft.$ns.sub_b").as("b"),
        col("a.k1") === col("b.k1"))
      .select(col("a.k1"), col("a.k2"), col("b.k2"), col("a.v"),
        col("b.v").as("w"))
    val want = (0 until 200).flatMap { i =>
      (0 until 300).filter(j => j % 10 == i % 10)
        .map(j => (i.toLong % 10L, i.toLong / 10L, j.toLong / 10L,
          i.toLong, j.toLong))
    }.toSet
    withSpj {
      // negative control INSIDE the SPJ confs: without the subset
      // grant the one-key join must shuffle (the r14-pinned refusal)
      assert(joined.queryExecution.executedPlan.toString
        .contains("Exchange hashpartitioning"))
      val subsetConfs = Seq(
        "spark.sql.sources.v2.bucketing.allowJoinKeysSubsetOfPartitionKeys.enabled",
        // the co-partition check short-circuits to ALL-keys matching
        // by default (KeyGroupedPartitioning.satisfies0's
        // requireAllClusterKeys branch) — the subset grant only
        // engages with it relaxed, exactly as Spark's own
        // KeyGroupedPartitioningSuite runs these
        "spark.sql.requireAllClusterKeysForCoPartition")
      val prev = subsetConfs.map(k => k -> spark.conf.getOption(k))
      try {
        spark.conf.set(
          "spark.sql.sources.v2.bucketing.allowJoinKeysSubsetOfPartitionKeys.enabled",
          "true")
        spark.conf.set("spark.sql.requireAllClusterKeysForCoPartition",
          "false")
        val j = joined
        val plan = j.queryExecution.executedPlan.toString
        assert(!plan.contains("Exchange hashpartitioning"),
          s"subset-keys SPJ must group partitions by k1 and elide the " +
            s"shuffle:\n$plan")
        assert(j.collect().map(r =>
          (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
            r.getLong(4))).toSet === want)
      } finally prev.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
    // and the shuffled plan agrees on the rows (result-equality control)
    val prevThr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      assert(joined.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4))).toSet === want)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThr)
  }

  test("PARTIALLY-CLUSTERED SPJ (r14): a 90%-skewed bucket keeps the " +
      "zero-shuffle join, splits into several tasks, and the other " +
      "side's groups replicate; results equal the grouped plan") {
    val s = spark
    import s.implicits._
    // 90% of the fact side lands in ONE bucket (constant key), several
    // files of it (maxRecordsPerFile), so the skewed bucket arrives as
    // several HasPartitionKey input partitions
    val hot = (1 to 1800).map(i => (7L, i.toLong))
    val cold = (1 to 200).map(i => (i.toLong * 13 + 1, -i.toLong))
    val factBase = s"$warehouse/$ns/pc_fact"
    val dimBase = s"$warehouse/$ns/pc_dim"
    val prevMax = spark.conf.getOption("spark.sql.files.maxRecordsPerFile")
    try {
      spark.conf.set("spark.sql.files.maxRecordsPerFile", "150")
      (hot ++ cold).toDF("k", "v").write.format("graft")
        .option("bucketBy", "4:k").mode("append").save(factBase)
    } finally prevMax match {
      case Some(v) => spark.conf.set("spark.sql.files.maxRecordsPerFile", v)
      case None => spark.conf.unset("spark.sql.files.maxRecordsPerFile")
    }
    (Seq(7L) ++ (1 to 200).map(_.toLong * 13 + 1)).map(k => (k, k * 2))
      .toDF("k", "w").write.format("graft")
      .option("bucketBy", "4:k").mode("append").save(dimBase)
    def joined = spark.table(s"graft.$ns.pc_fact").as("a")
      .join(spark.table(s"graft.$ns.pc_dim").as("b"), col("a.k") === col("b.k"))
      .select(col("a.k"), col("a.v"), col("b.w"))
    // AQE wraps the plan: run it, then read the FINAL plan's scans
    def partitionsOf(df: org.apache.spark.sql.DataFrame): Int = {
      df.collect()
      val p = df.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan
        case other => other
      }
      // query stages are LEAF nodes — recurse through their plans
      def gather(n: org.apache.spark.sql.execution.SparkPlan): Seq[Int] =
        n match {
          case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
            gather(q.plan)
          case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
            Seq(b.inputRDD.getNumPartitions)
          case other => other.children.flatMap(gather)
        }
      val ns = gather(p)
      assert(ns.nonEmpty, s"no BatchScanExec under:\n${p.treeString}")
      ns.max
    }
    withSpj {
      // tiny split target so the hot bucket's files cannot pack into
      // one task — the regime partial clustering exists for
      val prevSplit = spark.conf.get("spark.sql.files.maxPartitionBytes")
      val prevOpen = spark.conf.get("spark.sql.files.openCostInBytes")
      try {
        spark.conf.set("spark.sql.files.maxPartitionBytes", "2048")
        spark.conf.set("spark.sql.files.openCostInBytes", "0")
        spark.conf.set(
          "spark.sql.sources.v2.bucketing.partiallyClusteredDistribution.enabled",
          "false")
        val grouped = joined
        val groupedPlan = grouped.queryExecution.executedPlan.toString
        assert(!groupedPlan.contains("Exchange hashpartitioning"))
        val groupedParts = partitionsOf(grouped)
        val want = grouped.collect().map(r =>
          (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
        spark.conf.set(
          "spark.sql.sources.v2.bucketing.partiallyClusteredDistribution.enabled",
          "true")
        val partial = joined
        val partialPlan = partial.queryExecution.executedPlan.toString
        assert(!partialPlan.contains("Exchange hashpartitioning"),
          s"partial clustering must keep SPJ:\n$partialPlan")
        val partialParts = partitionsOf(partial)
        assert(partialParts > groupedParts,
          s"partially-clustered plan should run MORE tasks than the " +
            s"grouped one (skewed bucket split): $partialParts vs " +
            s"$groupedParts")
        val got = partial.collect().map(r =>
          (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
        assert(got === want, "partial clustering must not change results")
        assert(want.count(_._1 == 7L) === 1800)
      } finally {
        spark.conf.set("spark.sql.files.maxPartitionBytes", prevSplit)
        spark.conf.set("spark.sql.files.openCostInBytes", prevOpen)
        spark.conf.unset(
          "spark.sql.sources.v2.bucketing.partiallyClusteredDistribution.enabled")
      }
    }
  }

  test("DDL layouts (r14): PARTITIONED BY (bucket/days) declares the " +
      "default; the first INSERT is shaped; identity is refused") {
    spark.sql(s"CREATE TABLE graft.$ns.ddl_a (k BIGINT, v BIGINT) " +
      "PARTITIONED BY (bucket(4, k))")
    spark.sql(s"INSERT INTO graft.$ns.ddl_a SELECT id, id * 2 FROM range(0, 400)")
    val aBase = s"$warehouse/$ns/ddl_a"
    assert(Layout.of(VersionedTable.entries(aBase,
      VersionedTable.latestVersion(aBase).get)) ===
      Some(Layout.Bucket(4, Seq("k"))))
    // two-key grid via DDL
    spark.sql(s"CREATE TABLE graft.$ns.ddl_g (k1 BIGINT, k2 BIGINT, v BIGINT) " +
      "PARTITIONED BY (bucket(4, k1, k2))")
    spark.sql(s"INSERT INTO graft.$ns.ddl_g " +
      "SELECT id % 20, id / 20, id FROM range(0, 400)")
    val gBase = s"$warehouse/$ns/ddl_g"
    assert(Layout.of(VersionedTable.entries(gBase,
      VersionedTable.latestVersion(gBase).get)) ===
      Some(Layout.Bucket(4, Seq("k1", "k2"))))
    // days via DDL
    spark.sql(s"CREATE TABLE graft.$ns.ddl_d (ts TIMESTAMP, v BIGINT) " +
      "PARTITIONED BY (days(ts))")
    spark.sql(s"INSERT INTO graft.$ns.ddl_d " +
      "SELECT timestamp_micros(CAST(id * 43200000000 AS BIGINT)), id " +
      "FROM range(0, 20)")
    val dBase = s"$warehouse/$ns/ddl_d"
    assert(Layout.of(VersionedTable.entries(dBase,
      VersionedTable.latestVersion(dBase).get)) ===
      Some(Layout.Time("days", "ts")))
    assert(spark.table(s"graft.$ns.ddl_d").count() === 20L)
    // identity partitioning names the cure
    val e = intercept[Exception] {
      spark.sql(s"CREATE TABLE graft.$ns.ddl_bad (k BIGINT, v BIGINT) " +
        "PARTITIONED BY (v)")
    }
    assert(e.getMessage.contains("bucket(n, col...)"), e.getMessage)
  }

  test("WITHIN-BUCKET SORT ORDER (r15): bucketBy + sortWithinBuckets " +
      "keeps the zero-shuffle join AND prunes a secondary-column " +
      "slice; files are sorted; sticky across appends and DML") {
    val s = spark
    import s.implicits._
    val factBase = s"$warehouse/$ns/so_fact"
    val dimBase = s"$warehouse/$ns/so_dim"
    // 4 buckets × ~1000 rows; maxRecordsPerFile splits each bucket's
    // sorted task output into several files → consecutive disjoint ts
    // ranges per bucket (the Iceberg bucket+sort-order file shape)
    val prevMax = spark.conf.getOption("spark.sql.files.maxRecordsPerFile")
    try {
      spark.conf.set("spark.sql.files.maxRecordsPerFile", "250")
      (0 until 4000).map(i => (i.toLong % 16L, i.toLong, i.toLong * 3L))
        .toDF("k", "ts", "v").write.format("graft")
        .option("bucketBy", "4:k").option("sortWithinBuckets", "ts")
        .option("statsCols", "k")
        .mode("append").save(factBase)
    } finally prevMax match {
      case Some(v) => spark.conf.set("spark.sql.files.maxRecordsPerFile", v)
      case None => spark.conf.unset("spark.sql.files.maxRecordsPerFile")
    }
    (0L until 16L).map(k => (k, k * 2L)).toDF("k", "w").write.format("graft")
      .option("bucketBy", "4:k").mode("append").save(dimBase)
    def entries() = VersionedTable.entries(factBase,
      VersionedTable.latestVersion(factBase).get)
    // claim 1: the bucket layout is intact (the sort must not break
    // single-bucket purity) — zero-exchange join on the key
    assert(Layout.of(entries()) === Some(Layout.Bucket(4, Seq("k"))))
    assert(entries().size > 4, "expected several files per bucket")
    withSpj {
      val j = spark.table(s"graft.$ns.so_fact").as("a")
        .join(spark.table(s"graft.$ns.so_dim").as("b"),
          col("a.k") === col("b.k"))
      assert(!j.queryExecution.executedPlan.toString
        .contains("Exchange hashpartitioning"),
        "bucket+sort table must still join shuffle-free")
      assert(j.count() === 4000L)
    }
    // claim 2: every file is internally sorted by ts and files carry
    // tight disjoint ts zone maps WITHIN each bucket
    entries().groupBy(_.stats("k#bucket")).foreach { case (_, fs) =>
      val ranges = fs.map { e =>
        e.stats("ts") match {
          case VersionedTable.ColStats(lo, hi) => (lo, hi)
          case other => fail(s"no ts zone map: $other")
        }
      }.sortBy(_._1)
      ranges.sliding(2).foreach {
        case Seq((_, h1), (l2, _)) =>
          assert(l2 > h1, s"bucket files' ts ranges overlap: $ranges")
        case _ =>
      }
    }
    entries().foreach { e =>
      val ts = spark.read.parquet(s"$factBase/${e.path}")
        .select(col("ts")).as[Long].collect().toSeq
      assert(ts === ts.sorted, s"file ${e.path} not ts-sorted")
    }
    // claim 3: a secondary-column slice prunes files (the locality the
    // sort exists for)
    val sliced = spark.read.format("graft").load(factBase)
      .filter(col("ts").between(100L, 200L))
    assert(sliced.count() === 101L)
    val (kept, total) = GraftScanMetrics.lastPrune(factBase).get
    assert(kept < total,
      s"ts slice should prune bucket files, kept $kept of $total")
    // sticky: a PLAIN append inherits bucket AND sort (sidecar)
    (4000 until 4400).map(i => (i.toLong % 16L, i.toLong, i.toLong * 3L))
      .toDF("k", "ts", "v").write.format("graft")
      .mode("append").save(factBase)
    assert(Layout.of(entries()) === Some(Layout.Bucket(4, Seq("k"))))
    val fresh = entries().filter(_.stats.get("ts").isEmpty)
    assert(fresh.isEmpty, "appended files must carry the ts zone map " +
      "(sticky sort discipline re-collects the sort column's stats)")
    // DML rewrite keeps both claims
    VersionedTable.commitDelete(spark, factBase, col("ts") === 123L,
      pruneRanges = Seq(("ts", 123L, 123L)))
    assert(Layout.of(entries()) === Some(Layout.Bucket(4, Seq("k"))))
    entries().foreach { e =>
      val ts = spark.read.parquet(s"$factBase/${e.path}")
        .select(col("ts")).as[Long].collect().toSeq
      assert(ts === ts.sorted, s"post-DML file ${e.path} not ts-sorted")
    }
    withSpj {
      val j = spark.table(s"graft.$ns.so_fact").as("a")
        .join(spark.table(s"graft.$ns.so_dim").as("b"),
          col("a.k") === col("b.k"))
      assert(!j.queryExecution.executedPlan.toString
        .contains("Exchange hashpartitioning"))
      assert(j.count() === 4399L)
    }
  }

  test("hours(ts) + months(ts) transforms (r15): the rest of the " +
      "Iceberg time family — period-pure files, zero-shuffle joins " +
      "through the catalog functions, sticky appends") {
    val s = spark
    import s.implicits._
    def rows(periods: Range, perPeriod: Int, periodMs: Long) =
      periods.flatMap { p =>
        (0 until perPeriod).map { i =>
          (new java.sql.Timestamp(p.toLong * periodMs +
            i * (periodMs / 60)), p.toLong * 100 + i)
        }
      }.toDF("ts", "v")
    // HOURS: two hot event rollups, hour-partitioned via write option
    val haBase = s"$warehouse/$ns/hr_a"
    val hbBase = s"$warehouse/$ns/hr_b"
    rows(0 until 6, 4, 3600000L).write.format("graft")
      .option("hoursBy", "ts").mode("append").save(haBase)
    rows(3 until 9, 4, 3600000L).write.format("graft")
      .option("hoursBy", "ts").mode("append").save(hbBase)
    def spec(base: String) = Layout.of(
      VersionedTable.entries(base, VersionedTable.latestVersion(base).get))
    assert(spec(haBase) === Some(Layout.Time("hours", "ts")))
    // every file carries ONE hour token; a plain append inherits
    rows(9 until 10, 2, 3600000L).write.format("graft")
      .mode("append").save(haBase)
    assert(spec(haBase) === Some(Layout.Time("hours", "ts")))
    withSpj {
      val j = spark.table(s"graft.$ns.hr_a").as("a")
        .join(spark.table(s"graft.$ns.hr_b").as("b"),
          col("a.ts") === col("b.ts"))
      assert(!j.queryExecution.executedPlan.toString
        .contains("Exchange hashpartitioning"),
        "hour-partitioned join on the timestamp must not shuffle")
      assert(j.count() === 3L * 4) // hours 3..5 overlap, ts-equal 1:1
    }
    // MONTHS: archive tables via DDL transform; calendar months are
    // irregular so the field-arithmetic period must agree end to end
    spark.sql(s"CREATE TABLE graft.$ns.mo_a (ts TIMESTAMP, v BIGINT) " +
      "PARTITIONED BY (months(ts))")
    spark.sql(s"INSERT INTO graft.$ns.mo_a SELECT " +
      "timestamp'2023-11-15 00:00:00' + make_interval(0, id, 0, CAST(id AS INT) % 3), " +
      "id FROM range(0, 8)")
    spark.sql(s"CREATE TABLE graft.$ns.mo_b (ts TIMESTAMP, w BIGINT) " +
      "PARTITIONED BY (months(ts))")
    spark.sql(s"INSERT INTO graft.$ns.mo_b SELECT " +
      "timestamp'2023-11-15 00:00:00' + make_interval(0, id, 0, CAST(id AS INT) % 3), " +
      "id * 2 FROM range(0, 8)")
    val moBase = s"$warehouse/$ns/mo_a"
    assert(spec(moBase) === Some(Layout.Time("months", "ts")))
    // the month index crosses a year boundary in this fixture — pin
    // the shared definition against the driver-side epochMonth
    val es = VersionedTable.entries(moBase,
      VersionedTable.latestVersion(moBase).get)
    val got = es.flatMap(_.stats.collect {
      case (k, VersionedTable.DaysStat(m)) if k.endsWith("#months") => m
    }).toSet
    assert(got === (0 until 8).map(i =>
      VersionedTable.epochMonth(
        java.sql.Timestamp.valueOf("2023-11-15 00:00:00").getTime * 1000L)
        + i).toSet)
    withSpj {
      val j = spark.table(s"graft.$ns.mo_a").as("a")
        .join(spark.table(s"graft.$ns.mo_b").as("b"),
          col("a.ts") === col("b.ts"))
      assert(!j.queryExecution.executedPlan.toString
        .contains("Exchange hashpartitioning"),
        "month-partitioned join on the timestamp must not shuffle")
      assert(j.count() === 8L)
    }
    // YEARS: the archive-of-archives granularity, same machinery
    val yaBase = s"$warehouse/$ns/yr_a"
    (0 until 6).map(y => (java.sql.Timestamp.valueOf(
        s"${2020 + y}-03-0${1 + y % 3} 12:00:00"), y.toLong))
      .toDF("ts", "v").write.format("graft")
      .option("yearsBy", "ts").mode("append").save(yaBase)
    assert(spec(yaBase) === Some(Layout.Time("years", "ts")))
    val yes = VersionedTable.entries(yaBase,
      VersionedTable.latestVersion(yaBase).get)
    assert(yes.flatMap(_.stats.collect {
      case (k, VersionedTable.DaysStat(y)) if k.endsWith("#years") => y
    }).toSet === (50 until 56).toSet) // 2020..2025 − 1970
    // null refusal is granularity-generic
    val e = intercept[Exception] {
      Seq((None: Option[java.sql.Timestamp], 1L)).toDF("ts", "v")
        .select(col("ts").cast("timestamp").as("ts"), col("v"))
        .write.format("graft").mode("append").save(haBase)
    }
    assert(e.getMessage.contains("NULL"), e.getMessage)
  }

  test("days(ts) transform (r14): daysBy tables join on the timestamp " +
      "with zero shuffle; files are one-day-pure and sticky") {
    val s = spark
    import s.implicits._
    def rows(days: Range, perDay: Int) = days.flatMap { d =>
      (0 until perDay).map { i =>
        (new java.sql.Timestamp(d.toLong * 86400000L + i * 3600000L),
          d.toLong * 100 + i)
      }
    }.toDF("ts", "v")
    val aBase = s"$warehouse/$ns/dy_a"
    val bBase = s"$warehouse/$ns/dy_b"
    rows(0 until 8, 6).write.format("graft")
      .option("daysBy", "ts").option("statsCols", "ts")
      .mode("append").save(aBase)
    rows(4 until 12, 6).write.format("graft")
      .option("daysBy", "ts").option("statsCols", "ts")
      .mode("append").save(bBase)
    // every file carries exactly one #days token; the layout is sticky
    // across a later plain append
    val es = VersionedTable.entries(aBase,
      VersionedTable.latestVersion(aBase).get)
    assert(Layout.of(es) === Some(Layout.Time("days", "ts")))
    rows(8 until 10, 3).write.format("graft")
      .mode("append").save(aBase)
    val es2 = VersionedTable.entries(aBase,
      VersionedTable.latestVersion(aBase).get)
    assert(Layout.of(es2) === Some(Layout.Time("days", "ts")),
      "a plain append on a day-partitioned table must inherit the layout")
    withSpj {
      val j = spark.table(s"graft.$ns.dy_a").as("a")
        .join(spark.table(s"graft.$ns.dy_b").as("b"),
          col("a.ts") === col("b.ts"))
        .select(col("a.ts"), col("a.v"), col("b.v").as("w"))
      val plan = j.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"day-partitioned join on the timestamp must not shuffle:\n$plan")
      val got = j.collect().map(r =>
        (r.getTimestamp(0).getTime, r.getLong(1), r.getLong(2))).toSet
      // days 4..7 fully overlap (6 rows/day); the appended days 8..9
      // carry only 3 rows each on the a side
      val want = ((4 until 8).flatMap(d => (0 until 6).map((d, _))) ++
        (8 until 10).flatMap(d => (0 until 3).map((d, _)))).map {
        case (d, i) =>
          (d.toLong * 86400000L + i * 3600000L,
            d.toLong * 100 + i, d.toLong * 100 + i)
      }.toSet
      assert(got === want)
    }
    // negative control: v2 bucketing off exchanges
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "false")
      val j = spark.table(s"graft.$ns.dy_a").as("a")
        .join(spark.table(s"graft.$ns.dy_b").as("b"),
          col("a.ts") === col("b.ts"))
      assert(j.queryExecution.executedPlan.toString
        .contains("Exchange hashpartitioning"))
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.conf.unset("spark.sql.sources.v2.bucketing.enabled")
    }
  }

  test("truncate(w, col) transform (r16): long-prefix tables join with " +
      "zero shuffle; prefix pruning; mixed generations void the claim " +
      "and relayout_stale retires them") {
    val s = spark
    import s.implicits._
    val aBase = s"$warehouse/$ns/tr_a"
    val bBase = s"$warehouse/$ns/tr_b"
    (1L to 400L).map(k => (k, k * 3L)).toDF("k", "v").write.format("graft")
      .option("truncateBy", "100:k").mode("append").save(aBase)
    (200L to 600L).map(k => (k, k * 7L)).toDF("k", "w").write.format("graft")
      .option("truncateBy", "100:k").mode("append").save(bBase)
    def specOf(b: String) = Layout.of(
      VersionedTable.entries(b, VersionedTable.latestVersion(b).get))
    assert(specOf(aBase) === Some(Layout.Truncate(100, "k")))
    assert(specOf(bBase) === Some(Layout.Truncate(100, "k")))
    // a PLAIN append inherits the truncate layout (sticky discipline)
    Seq((450L, 9L)).toDF("k", "v").write.format("graft")
      .mode("append").save(aBase)
    assert(specOf(aBase) === Some(Layout.Truncate(100, "k")),
      "a plain append on a truncate-partitioned table must inherit it")
    withSpj {
      val j = spark.table(s"graft.$ns.tr_a").as("a")
        .join(spark.table(s"graft.$ns.tr_b").as("b"),
          col("a.k") === col("b.k"))
        .select(col("a.k"), col("a.v"), col("b.w"))
      val plan = j.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"truncate-partitioned join must not shuffle:\n$plan")
      val got = j.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val want = (200L to 400L).map(k => (k, k * 3L, k * 7L)).toSet +
        ((450L, 9L, 450L * 7L))
      assert(got === want)
    }
    // PREFIX-RANGE pruning off the trunc token alone (no statsCols
    // were declared): a slice inside one 100-wide prefix opens only
    // that prefix's files
    val sliced = spark.read.format("graft").load(bBase)
      .filter(col("k").between(220L, 280L))
    assert(sliced.collect().map(_.getLong(0)).sorted === (220L to 280L))
    val (kept, total) = GraftScanMetrics.lastPrune(bBase).get
    assert(kept < total,
      s"prefix slice should prune trunc files, kept $kept of $total")
    // MIXED GENERATIONS (the negative control): declare a NEW width —
    // the next append lands width-50 files, Layout.of goes None, and
    // the join falls back to shuffling (correct, never a stale claim)
    VersionedTable.declareLayout(aBase, "truncate", "50:k")
    Seq((460L, 10L)).toDF("k", "v").write.format("graft")
      .mode("append").save(aBase)
    assert(specOf(aBase) === None,
      "a mixed-width snapshot must refuse the co-location claim")
    withSpj {
      val j = spark.table(s"graft.$ns.tr_a").as("a")
        .join(spark.table(s"graft.$ns.tr_b").as("b"),
          col("a.k") === col("b.k"))
      assert(j.queryExecution.executedPlan.toString
        .contains("Exchange hashpartitioning"),
        "mixed truncate generations must shuffle")
    }
    // relayout_stale retires the stale generation: O(stale files) —
    // every file then carries width 50 and the b side rebuilt to match
    // re-establishes SPJ
    VersionedTable.relayoutStale(spark, aBase, "truncate", "50:k")
    assert(specOf(aBase) === Some(Layout.Truncate(50, "k")))
    VersionedTable.relayoutStale(spark, bBase, "truncate", "50:k")
    assert(specOf(bBase) === Some(Layout.Truncate(50, "k")))
    withSpj {
      val j = spark.table(s"graft.$ns.tr_a").as("a")
        .join(spark.table(s"graft.$ns.tr_b").as("b"),
          col("a.k") === col("b.k"))
      val plan = j.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"post-relayout truncate join must not shuffle:\n$plan")
      assert(j.count() === 203L) // 200..400 ∪ {450, 460}
    }
    // malformed relayout spec fails with the friendly message
    val e = intercept[IllegalArgumentException] {
      VersionedTable.relayoutStale(spark, aBase, "truncate", "ab:k")
    }
    assert(e.getMessage.contains("truncate layout spec"))
  }

  test("truncate underflow parity (r16 advice): a key within one width " +
      "of Long.MinValue refuses with truncLong's message on the write " +
      "path — never the misleading NULL-keys error") {
    val s = spark
    import s.implicits._
    def chain(t: Throwable): String = {
      val sb = new StringBuilder(Option(t.getMessage).getOrElse(""))
      var c = t.getCause
      while (c != null) {
        sb.append(" | ").append(Option(c.getMessage).getOrElse(""))
        c = c.getCause
      }
      sb.toString
    }
    val base = s"$warehouse/$ns/tr_uf"
    val e = intercept[Exception] {
      Seq((Long.MinValue + 1L, 1L)).toDF("k", "v").write.format("graft")
        .option("truncateBy", "100:k").mode("append").save(base)
    }
    assert(chain(e).contains("floors below Long.MinValue"), chain(e))
    assert(!chain(e).contains("non-null partition column"), chain(e))
    // the SQL truncate function refuses identically (truncLong throws)
    val e2 = intercept[Exception] {
      spark.sql(s"SELECT graft.truncate(100, ${Long.MinValue + 1L}L)")
        .collect()
    }
    assert(chain(e2).contains("floors below Long.MinValue"), chain(e2))
  }

  test("truncate on STRING keys (r16): URL-prefix corpora join " +
      "shuffle-free and prune by prefix") {
    val s = spark
    import s.implicits._
    val hosts = Seq("alpha", "bravo", "china", "delta", "echos")
    def rows(n: Int) = (0 until n).map { i =>
      (s"${hosts(i % hosts.size)}/page$i", i.toLong)
    }
    val aBase = s"$warehouse/$ns/trs_a"
    val bBase = s"$warehouse/$ns/trs_b"
    rows(200).toDF("url", "v").write.format("graft")
      .option("truncateBy", "5:url").mode("append").save(aBase)
    rows(300).toDF("url", "w").write.format("graft")
      .option("truncateBy", "5:url").mode("append").save(bBase)
    val es = VersionedTable.entries(aBase,
      VersionedTable.latestVersion(aBase).get)
    assert(Layout.of(es) === Some(Layout.Truncate(5, "url")))
    // every file is prefix-pure per its verified token
    es.foreach { e =>
      e.stats.get("url#trunc") match {
        case Some(VersionedTable.TruncStrStat(5, p)) =>
          assert(hosts.contains(p), s"unexpected prefix $p")
        case other => fail(s"missing/typed-wrong trunc token: $other")
      }
    }
    withSpj {
      val j = spark.table(s"graft.$ns.trs_a").as("a")
        .join(spark.table(s"graft.$ns.trs_b").as("b"),
          col("a.url") === col("b.url"))
        .select(col("a.url"), col("a.v"), col("b.w"))
      val plan = j.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"string-truncate join must not shuffle:\n$plan")
      assert(j.count() === 200L)
    }
    // string prefix-range pruning: an equality inside one host's
    // prefix keeps only that prefix's files
    val one = spark.read.format("graft").load(bBase)
      .filter(col("url") === "bravo/page1")
    assert(one.collect().map(_.getLong(1)).toSeq === Seq(1L))
    val (kept, total) = GraftScanMetrics.lastPrune(bBase).get
    assert(kept < total,
      s"string prefix probe should prune, kept $kept of $total")
  }
}
