package graft.sources

import graft.{SparkSuite, TempDirs}
import graft.operators.{Layout, VersionedTable}
import org.apache.spark.sql.functions._

/** REPLACE WHERE — predicate-scoped atomic overwrite: delete the slice
  * + insert its replacement in ONE commit, rewriting only implicated
  * files (the backfill primitive), through both the library call and
  * the SQL/DataFrameWriterV2 surface.
  */
class GraftReplaceWhereSpec extends SparkSuite {

  private def kv(rows: Seq[(Long, Long)]) = {
    val s = spark
    import s.implicits._
    rows.toDF("k", "v")
  }

  test("library: only implicated files rewrite; slice swaps atomically") {
    val base = TempDirs.scoped("vt_rw")
    // four files, ten keys each, zone-mapped on k
    (0L until 4L).foreach { b =>
      VersionedTable.commitAppend(spark, base,
        kv((b * 10 until b * 10 + 10).map(k => (k, k))).coalesce(1),
        statsCols = Seq("k"))
    }
    val pre = VersionedTable.entries(base, 4L).map(_.path).toSet
    assert(pre.size === 4)
    // replace the [10, 19] slice with 3 recomputed rows
    val v = VersionedTable.commitReplaceWhere(spark, base,
      kv(Seq((10L, -10L), (15L, -15L), (19L, -19L))),
      col("k").between(10L, 19L),
      pruneRanges = Seq(("k", 10L, 19L)),
      statsCols = Seq("k"), verifyFootprint = true)
    assert(v === 5L)
    val post = VersionedTable.entries(base, 5L).map(_.path).toSet
    // the three non-overlapping files carried forward untouched
    assert((pre intersect post).size === 3,
      s"expected 3 preserved files, got ${(pre intersect post).size}")
    val rows = VersionedTable.readLatest(spark, base)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = ((0L until 10L) ++ (20L until 40L)).map(k => (k, k)).toSet ++
      Set((10L, -10L), (15L, -15L), (19L, -19L))
    assert(rows === want)
    assert(VersionedTable.history(base)
      .exists { case (hv, op, _) => hv == 5L && op == "replace_where" })
    // refusal: incoming rows must all satisfy the predicate
    val e = intercept[IllegalArgumentException] {
      VersionedTable.commitReplaceWhere(spark, base,
        kv(Seq((10L, 1L), (99L, 1L))), col("k").between(10L, 19L),
        pruneRanges = Seq(("k", 10L, 19L)))
    }
    assert(e.getMessage.contains("violates its own predicate"))
    // footprint audit: a scope that excludes a matching file refuses
    val e2 = intercept[IllegalArgumentException] {
      VersionedTable.commitReplaceWhere(spark, base,
        kv(Seq((25L, 0L))), col("k") === 25L,
        pruneRanges = Seq(("k", 9999L, 9999L)), verifyFootprint = true)
    }
    assert(e2.getMessage.contains("footprint violation"))
  }

  test("SQL INSERT INTO ... REPLACE WHERE and writeTo.overwrite") {
    val s = spark
    import s.implicits._
    val ns = s"rw${System.nanoTime() % 1000000}"
    val t = s"graft.$ns.t"
    spark.sql(s"CREATE TABLE $t (k BIGINT, v BIGINT)")
    spark.sql(s"INSERT INTO $t VALUES (1, 10), (2, 20), (100, 0)")
    spark.sql(s"INSERT INTO $t REPLACE WHERE k >= 100 " +
      "VALUES (100, 1), (101, 2)")
    assert(spark.table(t).collect().map(r =>
      (r.getLong(0), r.getLong(1))).toSet ===
      Set((1L, 10L), (2L, 20L), (100L, 1L), (101L, 2L)))
    // DataFrameWriterV2 surface: .overwrite(condition)
    Seq((1L, 11L)).toDF("k", "v").writeTo(t).overwrite(col("k") === 1L)
    assert(spark.table(t).collect().map(r =>
      (r.getLong(0), r.getLong(1))).toSet ===
      Set((1L, 11L), (2L, 20L), (100L, 1L), (101L, 2L)))
    // a REPLACE WHERE whose data escapes the slice refuses loudly
    val e = intercept[Exception] {
      spark.sql(s"INSERT INTO $t REPLACE WHERE k = 2 VALUES (3, 30)")
    }
    assert(e.getMessage.contains("violates its own predicate"),
      e.getMessage)
  }

  test("explicit bucketBy rides REPLACE WHERE (r13 advice: it was " +
      "silently dropped) — library param and writeTo option") {
    val s = spark
    import s.implicits._
    // library surface: a full-slice replace with bucketBy lands a
    // bucketed snapshot the SPJ planner can claim
    val base = TempDirs.scoped("vt_rw_bucket")
    VersionedTable.commitAppend(spark, base,
      kv((0L until 20L).map(k => (k, k))).coalesce(1), statsCols = Seq("k"))
    VersionedTable.commitReplaceWhere(spark, base,
      kv((0L until 20L).map(k => (k, -k))), col("k") >= 0L,
      pruneRanges = Seq(("k", 0L, 19L)), statsCols = Seq("k"),
      layout = Some(Layout.Bucket(4, Seq("k"))))
    val es = VersionedTable.entries(base,
      VersionedTable.latestVersion(base).get)
    assert(Layout.of(es) === Some(Layout.Bucket(4, Seq("k"))),
      "replace-where must apply the explicit bucket layout")
    // DSv2 surface: .option("bucketBy").overwrite(cond) must not be
    // silently ignored
    val ns = s"rwb${System.nanoTime() % 1000000}"
    val t = s"graft.$ns.t"
    val tBase = s"${System.getProperty("java.io.tmpdir")}/graft_warehouse" +
      s"/$ns/t"
    spark.sql(s"CREATE TABLE $t (k BIGINT, v BIGINT)")
    spark.sql(s"INSERT INTO $t VALUES (1, 10), (2, 20)")
    (0L until 20L).map(k => (k, k)).toDF("k", "v")
      .writeTo(t).option("bucketBy", "4:k").overwrite(col("k") >= 0L)
    val es2 = VersionedTable.entries(tBase,
      VersionedTable.latestVersion(tBase).get)
    assert(Layout.of(es2) === Some(Layout.Bucket(4, Seq("k"))))
    assert(spark.table(t).count() === 20L)
  }
}
