package graft.sources

import graft.SparkSuite
import org.apache.spark.sql.functions._

/** Atomic CTAS/RTAS through [[GraftCatalog]]'s [[org.apache.spark.sql
  * .connector.catalog.StagingTableCatalog]] surface: CREATE TABLE AS
  * SELECT lands whole-or-not-at-all, REPLACE TABLE AS SELECT swaps
  * without a missing-table window, and a failed staged query leaves
  * no debris at the target name.
  */
class GraftCtasSpec extends SparkSuite {

  private def ns = s"ctas_${java.util.UUID.randomUUID().toString.take(8)}"

  test("CREATE TABLE AS SELECT: atomic create, contents + history") {
    val n = ns
    spark.sql(
      s"""CREATE TABLE graft.$n.t AS
         |SELECT id AS k, id * 3 AS v FROM range(10)""".stripMargin)
    try {
      val got = spark.sql(s"SELECT sum(k) AS sk, sum(v) AS sv, count(*) AS c " +
        s"FROM graft.$n.t").head()
      assert((got.getLong(0), got.getLong(1), got.getLong(2)) ===
        (45L, 135L, 10L))
      // the staged publish moved a COMPLETE table in: schema v1 + data v2
      val hist = spark.sql(s"SELECT * FROM graft_history('$n.t')")
      assert(hist.count() === 2L)
    } finally spark.sql(s"DROP TABLE IF EXISTS graft.$n.t")
  }

  test("CTAS of an existing name fails and leaves the table untouched") {
    val n = ns
    spark.sql(s"CREATE TABLE graft.$n.t AS SELECT id AS k FROM range(5)")
    try {
      intercept[Exception] {
        spark.sql(s"CREATE TABLE graft.$n.t AS SELECT id AS k FROM range(99)")
      }
      assert(spark.sql(s"SELECT count(*) AS c FROM graft.$n.t")
        .head().getLong(0) === 5L)
    } finally spark.sql(s"DROP TABLE IF EXISTS graft.$n.t")
  }

  test("REPLACE TABLE AS SELECT swaps contents atomically") {
    val n = ns
    spark.sql(s"CREATE TABLE graft.$n.t AS SELECT id AS k FROM range(5)")
    try {
      spark.sql(
        s"REPLACE TABLE graft.$n.t AS SELECT id * 10 AS k FROM range(3)")
      val got = spark.sql(s"SELECT k FROM graft.$n.t ORDER BY k")
        .collect().map(_.getLong(0)).toSeq
      assert(got === Seq(0L, 10L, 20L))
      // CREATE OR REPLACE also works when the table is missing
      spark.sql(s"CREATE OR REPLACE TABLE graft.$n.u AS " +
        "SELECT id AS k FROM range(2)")
      assert(spark.sql(s"SELECT count(*) AS c FROM graft.$n.u")
        .head().getLong(0) === 2L)
      // plain REPLACE of a missing table refuses
      intercept[Exception] {
        spark.sql(s"REPLACE TABLE graft.$n.missing AS SELECT 1 AS x")
      }
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS graft.$n.t")
      spark.sql(s"DROP TABLE IF EXISTS graft.$n.u")
    }
  }

  test("a failing CTAS query leaves NO table and NO staging debris") {
    val n = ns
    intercept[Exception] {
      spark.sql(s"CREATE TABLE graft.$n.t AS " +
        "SELECT assert_true(id < 5, 'boom') AS a, id AS k FROM range(10)")
    }
    assert(!spark.catalog.tableExists(s"graft.$n.t"))
    intercept[Exception] { spark.sql(s"SELECT * FROM graft.$n.t").collect() }
    // the staging dir was aborted away (nothing left under the ns dir
    // except possibly the empty namespace directory itself)
    val nsDir = java.nio.file.Paths.get(
      s"${System.getProperty("java.io.tmpdir")}/graft_warehouse/$n")
    if (java.nio.file.Files.isDirectory(nsDir)) {
      val stream = java.nio.file.Files.list(nsDir)
      val leftovers =
        try {
          import scala.jdk.CollectionConverters._
          stream.iterator().asScala.map(_.getFileName.toString).toSeq
        } finally stream.close()
      assert(leftovers.isEmpty, s"staging debris: $leftovers")
    }
  }

  test("aborting a failed CTAS waits for its own write only, leaving no " +
      "debris") {
    val n = ns
    val sc = spark.sparkContext
    val tracker = sc.statusTracker
    // an unrelated job holding one task busy until it is cancelled
    val other = s"unrelated-$n"
    val job = new Thread(() => {
      sc.addJobTag(other)
      try sc.parallelize(Seq(1), 1).foreach { _ =>
        val ctx = org.apache.spark.TaskContext.get()
        val end = System.nanoTime() + 120L * 1000 * 1000 * 1000
        while (!ctx.isInterrupted() && System.nanoTime() < end)
          Thread.sleep(20)
      } catch { case _: Exception => () }
      finally sc.removeJobTag(other)
    })
    job.start()
    def otherRunning: Boolean = tracker.getJobIdsForTag(other).toSeq
      .flatMap(tracker.getJobInfo(_)).flatMap(_.stageIds)
      .exists(tracker.getStageInfo(_).exists(_.numActiveTasks > 0))
    try {
      val wait = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!otherRunning && System.nanoTime() < wait) Thread.sleep(20)
      assert(otherRunning, "the unrelated job never started its task")
      val t0 = System.nanoTime()
      intercept[Exception] {
        spark.sql(s"CREATE TABLE graft.$n.t AS " +
          "SELECT assert_true(id < 5, 'boom') AS a, id AS k FROM range(10)")
      }
      val secs = (System.nanoTime() - t0) / 1e9
      assert(otherRunning, "the abort must not wait for the unrelated job")
      assert(secs < 10.0, s"the failed CTAS took $secs s")
      assert(!spark.catalog.tableExists(s"graft.$n.t"))
      val nsDir = java.nio.file.Paths.get(
        s"${System.getProperty("java.io.tmpdir")}/graft_warehouse/$n")
      if (java.nio.file.Files.isDirectory(nsDir)) {
        val stream = java.nio.file.Files.list(nsDir)
        val leftovers =
          try {
            import scala.jdk.CollectionConverters._
            stream.iterator().asScala.map(_.getFileName.toString).toSeq
          } finally stream.close()
        assert(leftovers.isEmpty, s"staging debris: $leftovers")
      }
    } finally {
      sc.cancelJobsWithTag(other)
      job.join(60000)
    }
  }
}
