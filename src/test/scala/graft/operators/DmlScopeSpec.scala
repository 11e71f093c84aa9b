package graft.operators

import java.nio.file.{Files, Paths}

import graft.{SparkSuite, TempDirs}
import graft.streaming.WatchPipelineSpec.JobDescriptions
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField}

/** The shared DML paths of [[VersionedTable]]: the predicate scope's
  * footprint audit on both deletes (also where the footprint excludes
  * every file), the key-set scope's
  * extrema-only and empty-key footprints, its key-type gate, and the
  * checkpoint cadence every commit kind publishes through. One case
  * per row; each runs on a fresh table.
  */
class DmlScopeSpec extends SparkSuite {

  private def kv(lo: Long, hi: Long, tag: String) = {
    val s = spark
    import s.implicits._
    (lo until hi).map(k => (k, s"$tag$k")).toDF("k", "v").coalesce(1)
  }

  /** `bins` one-file commits of ten keys each: file b holds [10b, 10b+9]. */
  private def binned(base: String, bins: Int): Unit =
    (0 until bins).foreach { b =>
      VersionedTable.commitAppend(spark, base, kv(b * 10L, b * 10L + 10L, "a"),
        statsCols = Seq("k"), bloomCols = Seq("k"))
    }

  private def paths(base: String): Set[String] =
    VersionedTable.entries(base, VersionedTable.latestVersion(base).get)
      .map(_.path).toSet

  private def values(base: String): Map[Long, String] = {
    val s = spark
    import s.implicits._
    VersionedTable.readLatest(spark, base).select("k", "v")
      .as[(Long, String)].collect().toMap
  }

  private def keyFrame(ks: Long*) = {
    val s = spark
    import s.implicits._
    ks.toDF("k")
  }

  /** Both predicate deletes, scoped to a `k` range no file overlaps. */
  private val outOfRangeDeletes: Seq[(String, (String, Column, Boolean) => Long)] = Seq(
    ("commitDelete", (base, pred, verify) => VersionedTable.commitDelete(spark, base,
      pred, pruneRanges = Seq(("k", 100L, 200L)), verifyFootprint = verify)),
    ("commitDeleteMoR", (base, pred, verify) => VersionedTable.commitDeleteMoR(spark, base,
      pred, pruneRanges = Seq(("k", 100L, 200L)), verifyFootprint = verify)))

  /** `body`'s result and the number of Spark jobs it ran. */
  private def jobsOf[T](body: => T): (T, Int) = {
    val jobs = new JobDescriptions
    spark.sparkContext.addSparkListener(jobs)
    try {
      val r = body
      jobs.fence(spark)
      (r, jobs.seen.size - 1) // less the fence's own marker job
    } finally spark.sparkContext.removeSparkListener(jobs)
  }

  private val dmlCases: Seq[(String, String => Unit)] = Seq(
    ("verifyFootprint audits a delete whose footprint excludes every file",
      base => {
        binned(base, 1)
        for ((op, delete) <- outOfRangeDeletes) {
          val e = intercept[IllegalArgumentException] {
            delete(base, col("k") === 3L, true)
          }
          assert(e.getMessage.contains(s"$op footprint violation"), e.getMessage)
          assert(VersionedTable.latestVersion(base) === Some(1L))
        }
        assert(values(base).keySet === (0L until 10L).toSet)
      }),
    ("a delete whose footprint excludes every file commits nothing; only the audit scans",
      base => {
        binned(base, 1)
        for ((op, delete) <- outOfRangeDeletes) {
          val (audited, auditJobs) = jobsOf(delete(base, col("k") === 500L, true))
          assert(audited === 1L && auditJobs > 0, op)
          val (unaudited, jobs) = jobsOf(delete(base, col("k") === 500L, false))
          assert(unaudited === 1L && jobs === 0, op)
        }
        assert(VersionedTable.latestVersion(base) === Some(1L))
        assert(values(base).keySet === (0L until 10L).toSet)
      }),
    ("commitDeleteMoR verifyFootprint refuses a too-narrow pruneRanges",
      base => {
        binned(base, 2)
        val e = intercept[IllegalArgumentException] {
          VersionedTable.commitDeleteMoR(spark, base, col("k") % 2L === 0L,
            pruneRanges = Seq(("k", 0L, 9L)), verifyFootprint = true)
        }
        assert(e.getMessage.contains("commitDeleteMoR footprint violation"))
        assert(VersionedTable.latestVersion(base) === Some(2L))
        val v = VersionedTable.commitDeleteMoR(spark, base,
          col("k").between(0L, 4L), pruneRanges = Seq(("k", 0L, 4L)),
          verifyFootprint = true)
        assert(v === 3L && values(base).keySet === (5L until 20L).toSet)
      }),
    ("commitReplaceKeys past probeLimit scopes by the key extrema only",
      base => {
        binned(base, 8)
        val before = paths(base)
        // under the bound the blooms pin the rewrite to the keys' 3 files
        VersionedTable.commitReplaceKeys(spark, base, "k",
          keyFrame(5L, 45L, 75L), kv(5L, 6L, "x"),
          statsCols = Seq("k"), bloomCols = Seq("k"))
        assert((paths(base) & before).size === 5)
        // past it, every file inside [5, 75] is rewritten — and the
        // replace is still exact
        val mid = paths(base)
        VersionedTable.commitReplaceKeys(spark, base, "k",
          keyFrame(5L, 45L, 75L), kv(45L, 46L, "y").union(kv(75L, 76L, "y")),
          statsCols = Seq("k"), bloomCols = Seq("k"), probeLimit = 2)
        assert((paths(base) & mid).isEmpty)
        val got = values(base)
        assert(got.size === 79)
        assert(!got.contains(5L) && got(45L) === "y45" && got(75L) === "y75")
        assert((got - 45L - 75L).forall { case (k, v) => v == s"a$k" })
      }),
    ("commitReplaceKeys with no keys appends the replacement, rewrites nothing",
      base => {
        binned(base, 2)
        val before = paths(base)
        val v = VersionedTable.commitReplaceKeys(spark, base, "k",
          keyFrame(), kv(100L, 102L, "r"), statsCols = Seq("k"))
        val (op, adds, removes) = VersionedTable.commitDelta(base, v)
        assert(op === "replace_keys" && removes.isEmpty && adds.size === 1)
        assert(before.subsetOf(paths(base)))
        assert(values(base).keySet === ((0L until 20L) ++ Seq(100L, 101L)).toSet)
      }),
    ("a DoubleType key is refused by both key-set commits", base => {
      binned(base, 1)
      val s = spark
      import s.implicits._
      val keys = Seq(1.0).toDF("k")
      val errs = Seq(
        intercept[IllegalArgumentException] {
          VersionedTable.commitDeleteKeys(spark, base, "k", keys)
        },
        intercept[IllegalArgumentException] {
          VersionedTable.commitReplaceKeys(spark, base, "k", keys, kv(1L, 2L, "r"))
        })
      errs.foreach(e => assert(e.getMessage.contains(
        "key 'k' must be string or integral, got DoubleType"), e.getMessage))
      assert(VersionedTable.latestVersion(base) === Some(1L))
    }))

  /** One commit per publish path — [[VersionedTable.commitAt]]'s
    * (append) and four that write their own manifest — each landing
    * version 10 on a nine-version table.
    */
  private val tenthCommits: Seq[(String, String => Long)] = Seq(
    ("append", b => VersionedTable.commitAppend(spark, b, kv(90L, 91L, "a"))),
    ("delete_mor", b =>
      VersionedTable.commitDeleteMoR(spark, b, col("k") === 3L)),
    ("alter_schema", b =>
      VersionedTable.alterAddColumns(b, Seq(StructField("w", StringType)))),
    ("restore", b => VersionedTable.restore(b, 5L)),
    ("analyze", b => VersionedTable.analyze(spark, b, Seq("k"))))

  dmlCases.foreach { case (name, body) =>
    test(name)(body(TempDirs.scoped("dml_scope")))
  }

  tenthCommits.foreach { case (op, tenth) =>
    test(s"a version-10 $op commit writes the checkpoint") {
      val base = TempDirs.scoped("dml_ckpt")
      binned(base, 9)
      assert(tenth(base) === 10L)
      assert(VersionedTable.commitDelta(base, 10L)._1 === op)
      val log = Paths.get(base, "_log")
      assert(!Files.exists(log.resolve(f"${9L}%020d.checkpoint")))
      assert(Files.exists(log.resolve(f"${10L}%020d.checkpoint")))
    }
  }
}
