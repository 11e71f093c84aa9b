package graft.operators

import graft.{SparkSuite, TempDirs}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow

/** r14-advice guards on the days(ts) layout: null timestamps must
  * refuse the commit (not mint a false verified day-0 claim SPJ would
  * group on), the shared epochDayCol must agree with floorDiv-exact
  * [[VersionedTable.epochDay]] across the timestamp range the old
  * double floor got wrong, and the catalog `days` function must
  * propagate null instead of reading an arbitrary slot.
  */
class DaysLayoutGuardSpec extends SparkSuite {

  import spark.implicits._

  test("daysBy commit with NULL timestamps is refused loudly") {
    val base = TempDirs.scoped("days_null")
    val df = Seq(
      (1L, Some(java.sql.Timestamp.valueOf("2024-01-01 10:00:00"))),
      (2L, None)
    ).toDF("k", "ts").select(col("k"), col("ts").cast("timestamp").as("ts"))
    val e = intercept[Exception] {
      VersionedTable.commitAppend(spark, base, df,
        layout = Some(Layout.Time("days", "ts")))
    }
    assert(e.getMessage.contains("NULL"), s"got: ${e.getMessage}")
    // nothing published
    assert(VersionedTable.latestVersion(base).isEmpty)
  }

  test("epochDayCol is floorDiv-exact where the double floor rounds") {
    // one micro before a far-future day boundary: the double quotient
    // rounds UP across the boundary (86400000000×10⁶ − 1 is not
    // representable at that magnitude), so the old floor(double) read
    // day 10⁶ where floorDiv says 999999 — plus negative mirrors and
    // the ordinary range
    val micros = Seq(
      86400000000L * 1000000L - 1L, 86400000000L * 1000000L,
      -86400000000L * 1000000L - 1L, -86400000000L * 1000000L,
      -1L, 0L, 1L, 86399999999L, 86400000000L,
      1700000000000000L // 2023, the ordinary range
    )
    val got = micros.toDF("m")
      .select(VersionedTable.epochDayCol(timestamp_micros(col("m"))))
      .as[Int].collect().toSeq
    assert(got === micros.map(VersionedTable.epochDay))
  }

  test("catalog days(null) yields null, not an arbitrary day") {
    val row = new GenericInternalRow(Array[Any](null))
    assert(graft.sources.GraftBoundDays.produceResult(row) === null)
    assert(graft.sources.GraftBoundDays.isResultNullable)
  }
}
