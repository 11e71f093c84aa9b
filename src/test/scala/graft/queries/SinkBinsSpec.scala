package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.{SparkSuite, TempDirs}
import graft.operators.VersionedTable
import graft.operators.VersionedTable.{BloomStats, KmvStats, Stat}

/** `SinkQueries.appendBins`, the per-bin batch sink behind the table
  * fixtures: on an empty table, version k holds exactly one file, the
  * k-th bin in the bin column's own order, and that file's manifest
  * entry records what a direct `commitAppend` of the same slice does.
  */
class SinkBinsSpec extends SparkSuite {

  private val cols = Seq("k", "g", "s")

  private def source = spark.range(0, 240).select(col("id").as("k"),
    (col("id") % 7).as("g"),
    concat(lit("c"), (col("id") % 13).cast("string")).as("s"))

  /** Array-backed stats compared by content, not reference. */
  private def norm(stats: Map[String, Stat]): Map[String, Any] =
    stats.map {
      case (c, BloomStats(k, bits)) => c -> (k, bits.toSeq)
      case (c, KmvStats(k, hashes)) => c -> (k, hashes.toSeq)
      case (c, st) => c -> st
    }

  // (case, bin column, statsCols, bloomCols, ndvCols, bins in commit order)
  private val cases: Seq[(String, Column, Seq[String], Seq[String],
      Seq[String], Seq[Any])] = Seq(
    ("long bins 0..11 commit numerically, stats only",
      expr("k * 12 div 240"), Seq("k"), Nil, Nil, (0L to 11L).toSeq),
    ("string bins commit in string order",
      col("s"), Seq("s"), Nil, Nil, (0 to 12).map(i => s"c$i").sorted),
    ("bloom and ndv columns",
      expr("k * 5 div 240"), Seq("k"), Seq("g"), Seq("g", "k"),
      (0L to 4L).toSeq),
    ("ndv columns only",
      expr("k * 3 div 240"), Nil, Nil, Seq("s"), (0L to 2L).toSeq))

  cases.foreach { case (name, binCol, statsCols, bloomCols, ndvCols, bins) =>
    test(s"appendBins: $name") {
      val binned = source.withColumn("bin", binCol)
      val base = TempDirs.scoped("graft_sinkbins")
      SinkQueries.appendBins(spark, base, binned, cols, statsCols,
        bloomCols, ndvCols)
      assert(VersionedTable.latestVersion(base).contains(bins.size.toLong))
      val direct = TempDirs.scoped("graft_sinkbins_direct")
      bins.zipWithIndex.foreach { case (bn, i) =>
        val v = i + 1L
        val slice = binned.filter(col("bin") === lit(bn))
          .select(cols.map(col): _*)
        val (op, adds, removes) = VersionedTable.commitDelta(base, v)
        assert(op == "append" && removes.isEmpty, s"version $v")
        assert(adds.size == 1, s"version $v holds ${adds.size} files")
        assert(spark.read.parquet(s"$base/${adds.head.path}").orderBy("k")
          .collect().toSeq == slice.orderBy("k").collect().toSeq,
          s"version $v holds bin $bn")
        val dv = VersionedTable.commitAppend(spark, direct, slice.coalesce(1),
          statsCols = statsCols, bloomCols = bloomCols, ndvCols = ndvCols)
        val want = VersionedTable.commitDelta(direct, dv)._2.head
        assert(adds.head.rows == want.rows)
        assert(norm(adds.head.stats) == norm(want.stats), s"version $v")
        assert((statsCols ++ bloomCols.map(_ + "#bloom") ++
          ndvCols.map(_ + "#kmv")).toSet.subsetOf(adds.head.stats.keySet))
      }
    }
  }
}
