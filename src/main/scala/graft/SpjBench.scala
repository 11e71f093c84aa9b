package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Storage-partitioned-join measurement (the q192 scale evidence):
  * the SAME two graft tables, the SAME join — once with v2 bucketing
  * off (both sides exchange) and once with SPJ on (zero exchange) —
  * so the delta is exactly the shuffle being elided. Corpus: lineitem
  * and orders replicated `SPARK_GRAFT_SPJ_R`× (default 20) with
  * disjoint key offsets (the Amplify discipline: balanced buckets,
  * scaled keyspace), bucketed 32 ways on the order key at write.
  *
  * Prints ONE JSON line (the ManifestBench discipline):
  * per-mode median-of-3 join times, the measured exchange counts
  * (asserted 2 vs 0 — a silent fallback fails the run, not just the
  * numbers), rows joined, and the one-time bucketed-ingest cost next
  * to the plain write it replaces (the shuffle SPJ amortizes).
  */
object SpjBench {

  /** The shuffle-vs-SPJ join measurement over `sfDir`'s lineitem and
    * orders replicated `r`×; returns the `spj_join` record.
    */
  def record(spark: SparkSession, sfDir: String, r: Int): String = {
    val buckets = 32
    val root = TempDirs.scoped("spj_bench")

    val li0 = Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"),
        graft.functions.ColumnOps.e2(col("l_quantity")).as("qty_e2"))
    val ord0 = Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_orderpriority"))
    val span = li0.agg(max(col("l_orderkey"))).head().getLong(0) + 1L
    def rep(df: org.apache.spark.sql.DataFrame, key: String) =
      (0 until r).map(i => df.withColumn(key,
        col(key) + lit(i.toLong * span))).reduce(_.unionAll(_))
    val li = rep(li0, "l_orderkey").persist()
    val ord = rep(ord0, "o_orderkey").persist()
    val (liRows, ordRows) = (li.count(), ord.count())

    // the tables live under the session's graft warehouse: SPJ needs
    // catalog-resolved reads (the FunctionCatalog is the catalog's),
    // and BOTH modes read the SAME tables through the SAME surface —
    // the only difference between the measured runs is the conf that
    // elides the exchange
    val wh = spark.conf.get("spark.sql.catalog.graft.warehouse")
    val ns = s"spjbench${System.nanoTime() % 1000000}"
    val (_, bucketedSec) = Harness.time {
      li.write.format("graft").option("bucketBy", s"$buckets:l_orderkey")
        .mode("append").save(s"$wh/$ns/li")
      ord.write.format("graft").option("bucketBy", s"$buckets:o_orderkey")
        .mode("append").save(s"$wh/$ns/ord")
    }
    val (_, plainSec) = Harness.time {
      li.write.format("graft").mode("append").save(s"$root/li_plain")
      ord.write.format("graft").mode("append").save(s"$root/ord_plain")
    }
    li.unpersist(); ord.unpersist()

    def joinedCat() = spark.table(s"graft.$ns.li")
      .join(spark.table(s"graft.$ns.ord"),
        col("l_orderkey") === col("o_orderkey"))

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    def run(spj: Boolean): (Long, Long, Int) = {
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled",
        spj.toString)
      val j = joinedCat()
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), sum(col("qty_e2")).as("q"))
      val exchanges = "Exchange hashpartitioning".r
        .findAllIn(j.queryExecution.executedPlan.toString).size -
        1 // the groupBy's own exchange is mode-independent; subtract it
      val (rows, sec) = Harness.time(j.collect().map(_.getLong(1)).sum)
      (Harness.millis(sec), rows, exchanges)
    }
    // interleave modes, median of 3 each (the BASELINE.md protocol)
    val runs = (1 to 3).map(_ => (run(spj = false), run(spj = true)))
    val shuffleMs = Harness.median(runs.map(_._1._1.toDouble)).toLong
    val spjMs = Harness.median(runs.map(_._2._1.toDouble)).toLong
    val exShuffle = runs.head._1._3
    val exSpj = runs.head._2._3
    val rowsJoined = runs.head._1._2
    require(runs.forall(t => t._1._2 == rowsJoined && t._2._2 == rowsJoined),
      "row-count mismatch between modes — SPJ dropped rows")
    require(exSpj == 0 && exShuffle >= 2,
      s"expected 0 SPJ / >=2 shuffle join exchanges, got $exSpj/$exShuffle")
    s"""{"metric":"spj_join","sf_dir":${Harness.str(sfDir)},"replicate":$r,""" +
      s""""buckets":$buckets,"li_rows":$liRows,"ord_rows":$ordRows,""" +
      s""""rows_joined":$rowsJoined,""" +
      s""""join_shuffle_ms":$shuffleMs,"join_spj_ms":$spjMs,""" +
      s""""exchanges_shuffle":$exShuffle,"exchanges_spj":$exSpj,""" +
      s""""ingest_bucketed_ms":${Harness.millis(bucketedSec)},""" +
      s""""ingest_plain_ms":${Harness.millis(plainSec)},""" +
      s""""runs_shuffle_ms":[${runs.map(_._1._1).mkString(",")}],""" +
      s""""runs_spj_ms":[${runs.map(_._2._1).mkString(",")}]}"""
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse(Harness.sfDir)
    val r = sys.env.get("SPARK_GRAFT_SPJ_R").map(_.toInt).getOrElse(20)
    println(Harness.suite(sfDir)(record(_, sfDir, r)))
  }
}
