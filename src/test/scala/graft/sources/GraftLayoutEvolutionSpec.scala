package graft.sources

import graft.SparkSuite
import graft.operators.{Layout, VersionedTable}
import org.apache.spark.sql.functions._

/** LAYOUT EVOLUTION (r15 — Iceberg partition evolution as the model):
  * each file's verified `#bucket` token is its layout GENERATION, the
  * declared layout is the CURRENT one, and changing the declaration is
  * O(1) — new data takes the new spec, old files keep theirs, reads
  * stay correct (a mixed snapshot refuses the co-location claim, so
  * joins shuffle), and `rebucket_stale` retires exactly the stale
  * generation to bring the zero-shuffle claim back.
  */
class GraftLayoutEvolutionSpec extends SparkSuite {

  private val ns = s"lev${System.nanoTime() % 1000000}"
  private def warehouse =
    s"${System.getProperty("java.io.tmpdir")}/graft_warehouse"

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

  test("bucket(8)->bucket(16): appends take the new generation; " +
      "mid-transition joins shuffle and stay correct; rebucket_stale " +
      "touches ONLY the stale generation and restores zero-shuffle SPJ") {
    val s = spark
    import s.implicits._
    val aBase = s"$warehouse/$ns/fact"
    val bBase = s"$warehouse/$ns/dim"
    (1L to 400L).map(k => (k, k * 10L)).toDF("k", "v")
      .write.format("graft").option("bucketBy", "8:k")
      .mode("append").save(aBase)
    (1L to 500L).map(k => (k, k * 7L)).toDF("k", "w")
      .write.format("graft").option("bucketBy", "16:k")
      .mode("append").save(bBase)
    def entries() = VersionedTable.entries(aBase,
      VersionedTable.latestVersion(aBase).get)
    def spec() = Layout.of(entries())
    def genOf(e: VersionedTable.ManifestEntry): Option[Int] =
      e.stats.collectFirst {
        case (k, VersionedTable.BucketStat(n, _)) if k.endsWith("#bucket") => n
      }
    assert(spec() === Some(Layout.Bucket(8, Seq("k"))))
    val oldGen = entries().map(_.path).toSet
    // step 1: declare the new generation — O(1), no data movement
    spark.sql(s"CALL graft.system.set_layout('$ns.fact', 'bucket', '16:k')")
    // appends now take the NEW spec while old files keep theirs
    (401L to 440L).map(k => (k, k * 10L)).toDF("k", "v")
      .write.format("graft").mode("append").save(aBase)
    val mixed = entries()
    assert(mixed.filter(e => oldGen.contains(e.path))
      .forall(genOf(_) === Some(8)), "old files keep their generation")
    val newGen = mixed.filterNot(e => oldGen.contains(e.path))
    assert(newGen.nonEmpty && newGen.forall(genOf(_) === Some(16)),
      "appended files must take the declared generation")
    // mid-transition: the mixed snapshot refuses the claim — the join
    // SHUFFLES (correct, never a wrong zero-shuffle plan) and the rows
    // are exact
    assert(spec() === None)
    def joined = spark.table(s"graft.$ns.fact").as("a")
      .join(spark.table(s"graft.$ns.dim").as("b"), col("a.k") === col("b.k"))
      .select(col("a.k"), col("a.v"), col("b.w"))
    val want = (1L to 440L).map(k => (k, k * 10L, k * 7L)).toSet
    withSpj {
      val j = joined
      assert(j.queryExecution.executedPlan.toString
        .contains("Exchange hashpartitioning"),
        "a mixed-generation table must shuffle")
      assert(j.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2))).toSet === want)
    }
    // step 2: scoped rewrite — touched files = EXACTLY the stale
    // generation (new-generation files carry forward untouched)
    val preNew = newGen.map(_.path).toSet
    spark.sql(s"CALL graft.system.rebucket_stale('$ns.fact', 'k', 16)")
    val post = entries().map(_.path).toSet
    assert(preNew.subsetOf(post),
      "current-generation files must survive the scoped rewrite")
    assert((post -- preNew).intersect(oldGen).isEmpty,
      "every stale-generation file must be retired")
    assert(spec() === Some(Layout.Bucket(16, Seq("k"))))
    // the zero-exchange claim returns, rows unchanged
    withSpj {
      val j = joined
      assert(!j.queryExecution.executedPlan.toString
        .contains("Exchange hashpartitioning"),
        "post-evolution the SPJ claim must be restored")
      assert(j.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2))).toSet === want)
    }
    // the new generation is sticky for later appends
    (441L to 450L).map(k => (k, k * 10L)).toDF("k", "v")
      .write.format("graft").mode("append").save(aBase)
    assert(spec() === Some(Layout.Bucket(16, Seq("k"))))
    // nothing stale → a second call is a no-op commit-wise
    val v0 = VersionedTable.latestVersion(aBase)
    spark.sql(s"CALL graft.system.rebucket_stale('$ns.fact', 'k', 16)")
    assert(VersionedTable.latestVersion(aBase) === v0)
  }

  test("TIME-LAYOUT evolution (r15): days->months archive transition " +
      "via relayout_stale — appends take the new granularity, the " +
      "scoped rewrite retires only stale day files, SPJ restored") {
    val s = spark
    import s.implicits._
    val aBase = s"$warehouse/$ns/tfact"
    val bBase = s"$warehouse/$ns/tdim"
    def rows(days: Range) = days.map { d =>
      (new java.sql.Timestamp(d.toLong * 86400000L), d.toLong)
    }.toDF("ts", "v")
    // 60 days ≈ 2 months, day-partitioned via the r14 path
    rows(0 until 60).write.format("graft")
      .option("daysBy", "ts").mode("append").save(aBase)
    rows(0 until 90).write.format("graft")
      .option("monthsBy", "ts").mode("append").save(bBase)
    def spec() = Layout.of(VersionedTable.entries(aBase,
      VersionedTable.latestVersion(aBase).get))
    assert(spec() === Some(Layout.Time("days", "ts")))
    val oldGen = VersionedTable.entries(aBase,
      VersionedTable.latestVersion(aBase).get).map(_.path).toSet
    // declare months; the next append takes the NEW granularity
    spark.sql(s"CALL graft.system.set_layout('$ns.tfact', 'months', 'ts')")
    rows(60 until 75).write.format("graft")
      .mode("append").save(aBase)
    val mixed = VersionedTable.entries(aBase,
      VersionedTable.latestVersion(aBase).get)
    val newGen = mixed.filterNot(e => oldGen.contains(e.path))
    assert(newGen.nonEmpty && newGen.forall(_.stats.exists {
      case (k, VersionedTable.DaysStat(_)) => k.endsWith("#months")
      case _ => false
    }), "appends must take the declared months granularity")
    assert(spec() === None, "mixed granularities must refuse the claim")
    def joined = spark.table(s"graft.$ns.tfact").as("a")
      .join(spark.table(s"graft.$ns.tdim").as("b"), col("a.ts") === col("b.ts"))
    val prevThr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      assert(joined.count() === 75L) // days 0..74 overlap
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThr)
    // scoped rewrite: only the stale day files are touched
    val preNew = newGen.map(_.path).toSet
    spark.sql(s"CALL graft.system.relayout_stale('$ns.tfact', 'months', 'ts')")
    val post = VersionedTable.entries(aBase,
      VersionedTable.latestVersion(aBase).get).map(_.path).toSet
    assert(preNew.subsetOf(post),
      "current-generation month files must survive the scoped rewrite")
    assert((post -- preNew).intersect(oldGen).isEmpty,
      "every stale day file must be retired")
    assert(spec() === Some(Layout.Time("months", "ts")))
    withSpj {
      val j = joined
      assert(!j.queryExecution.executedPlan.toString
        .contains("Exchange hashpartitioning"),
        "month-partitioned join must plan zero exchanges post-evolution")
      assert(j.count() === 75L)
    }
    // a second call is a no-op
    val v0 = VersionedTable.latestVersion(aBase)
    spark.sql(s"CALL graft.system.relayout_stale('$ns.tfact', 'months', 'ts')")
    assert(VersionedTable.latestVersion(aBase) === v0)
  }

  test("declaration survives where live inheritance would revert: a " +
      "numFiles opt-out void heals on the next plain append") {
    val s = spark
    import s.implicits._
    val base = s"$warehouse/$ns/heal"
    (1L to 100L).map(k => (k, k)).toDF("k", "v")
      .write.format("graft").option("bucketBy", "4:k")
      .mode("append").save(base)
    spark.sql(s"CALL graft.system.set_layout('$ns.heal', 'bucket', '4:k')")
    def spec() = Layout.of(VersionedTable.entries(base,
      VersionedTable.latestVersion(base).get))
    // explicit alternative layout voids the claim for that file
    Seq((999L, 9L)).toDF("k", "v").write.format("graft")
      .option("numFiles", "1").mode("append").save(base)
    assert(spec() === None)
    // live inheritance alone has nothing to inherit now, but the
    // DECLARED generation still shapes the next plain append
    Seq((1000L, 1L)).toDF("k", "v").write.format("graft")
      .mode("append").save(base)
    val es = VersionedTable.entries(base,
      VersionedTable.latestVersion(base).get)
    val fresh = es.filter(_.path.startsWith(
      s"d${VersionedTable.latestVersion(base).get}-"))
    assert(fresh.nonEmpty && fresh.forall(_.stats.exists {
      case (k, VersionedTable.BucketStat(4, _)) => k.endsWith("#bucket")
      case _ => false
    }), "the declared layout must shape deltas even after a void")
    // one scoped rewrite heals the whole claim
    spark.sql(s"CALL graft.system.rebucket_stale('$ns.heal', 'k', 4)")
    assert(spec() === Some(Layout.Bucket(4, Seq("k"))))
  }
}
