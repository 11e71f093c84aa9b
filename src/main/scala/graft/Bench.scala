package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: times every registry query flagged `bench` on the
  * SPARK_GRAFT_SF_DIR tables and prints one JSON line. Each query is
  * fully evaluated through [[Harness.noop]] and followed by a
  * [[Harness.sweep]] outside its timed window, so the measured dt is
  * query work only.
  */
object Bench {

  /** Stdout tail window: the metric line is parsed out of the LAST
    * 2000 chars of stdout, so line + newline must fit.
    */
  val TailWindow = 1995

  /** [[Harness.median]], the per-query statistic of both lines. */
  def median(xs: Seq[Double]): Double = Harness.median(xs)

  /** The two driver-facing JSON lines, as pure formatting (unit-tested
    * by BenchLineSpec so registry growth can't re-break the metric
    * line parse): `_1` the full-precision full-name detail line
    * (BENCH_DETAIL.json — always the complete record), `_2` the stdout
    * metric line. The stdout map keys are the short `qNN` ids (the
    * name up to the first underscore — asserted unique) because at 80+
    * queries the full names alone overflow the tail window; past that
    * it degrades in stages: whole-second times (a slow round — every
    * query ≥10s — is exactly when the per-query map matters, so keep
    * it), then an EMPTY queries map with the headline total intact.
    */
  def lines(results: Seq[(String, Double, Boolean)],
            failed: Seq[String], sfName: String,
            extras: String = ""): (String, String) = {
    val shortKeys = results.map(_._1.takeWhile(_ != '_'))
    val stdoutKeys = // collision → full names (degradation still guards)
      if (shortKeys.distinct.length == shortKeys.length) shortKeys
      else results.map(_._1)
    def qsJson(keys: Seq[String], fmt: Double => String) =
      keys.zip(results).map { case (k, (_, v, _)) =>
        Harness.str(k) + ":" + fmt(v)
      }.mkString("{", ",", "}")
    // failed queries' time-to-failure is not work done — report it
    // separately, not inside the headline total
    val total = results.collect { case (_, v, true) => v }.sum
    val failedJson =
      if (failed.isEmpty) "" else ",\"failed\":" + Harness.strs(failed)
    def line(qs: String) =
      s"""{"metric":"total","value":${Harness.fmt2(total)},"queries":$qs$failedJson$extras,"sf":"$sfName"}"""
    val detail = line(qsJson(results.map(_._1), Harness.fmt2))
    val stdout = Seq(qsJson(stdoutKeys, Harness.fmt("%.1f", _)),
      qsJson(stdoutKeys, Harness.fmt("%.0f", _)), "{}")
      .map(line).find(_.length <= TailWindow)
      .getOrElse(line("{}")) // headline-only; > window only if q-count is absurd
    (detail, stdout)
  }

  /** The benched queries (those named in `only`, if given) on `sfDir`,
    * each run `runsN` times CONSECUTIVELY; returns the detail record
    * and the stdout metric line. Both carry per-query MEDIANS, the
    * regression-rule statistic; for memoized queries (q40's pair memo,
    * q123's edge table) runs 2..N are warm, so run 1 in the detail
    * file's per-run arrays keeps the cold number.
    */
  def record(spark: SparkSession, sfDir: String, only: Option[Set[String]],
             runsN: Int): (String, String) = {
    var failed = List.empty[String]
    val runResults: Seq[(String, Seq[Double], Boolean)] =
      SparkEntry.registry.filter(_.bench)
        .filter(q => only.forall(_.contains(q.name))).map { q =>
      var ok = true
      val times = (1 to runsN).map { _ =>
        val (_, dt) = Harness.time {
          try Harness.noop(q.run(spark, sfDir))
          catch { case e: Throwable =>
            System.err.println(s"[bench] ${q.name} FAILED: ${e.getMessage}")
            if (ok) failed ::= q.name
            ok = false
          }
        }
        Harness.sweep(spark)
        dt
      }
      if (ok) System.err.println(f"[bench] ${q.name}%-28s ${median(times)}%8.2f s" +
        (if (runsN > 1) times.map(Harness.fmt2).mkString("  [", " ", "]") else ""))
      (q.name, times, ok)
    }
    val results = runResults.map { case (n, ts, ok) => (n, median(ts), ok) }
    // both protocols ride in the line: cold_total = Σ run-1 (what one
    // cold run measures; with RUNS=1 it equals "value"), warm_total =
    // Σ median(runs 2..N) (steady state, memo builds amortized; equals
    // cold_total when only one run exists)
    val coldTotal = runResults.collect { case (_, ts, true) => ts.head }.sum
    val warmTotal =
      if (runsN <= 1) coldTotal
      else runResults.collect { case (_, ts, true) => median(ts.tail) }.sum
    val extras =
      s""","cold_total":${Harness.fmt2(coldTotal)},"warm_total":${Harness.fmt2(warmTotal)}"""
    // Per-query 100ms/10ms precision: far below the host's run-to-run
    // variance (±30%+); "unit" dropped and sf shortened to its basename
    // (seconds are the shape declared in BASELINE.md; the driver
    // records the full sf itself). See `lines` for the tail-window
    // degradation contract.
    val (detail0, out) = lines(results, failed.reverse,
      new java.io.File(sfDir).getName, extras)
    // per-run arrays ride only in the detail file (the stdout line's
    // tail-window budget is spent on the median map)
    val detail1 =
      if (runsN <= 1) detail0
      else {
        val runsJson = runResults.map { case (n, ts, _) =>
          Harness.str(n) + ":" + ts.map(Harness.fmt2).mkString("[", ",", "]")
        }.mkString("{", ",", "}")
        detail0.dropRight(1) + s""","runs_n":$runsN,"runs":$runsJson}"""
      }
    // artifact builds are attributed separately, so an artifact-build
    // regression and a query regression stay distinguishable
    val detail = Harness.memos.fold(detail1)(m => detail1.dropRight(1) + ",\"memos\":" + m + "}")
    (detail, out)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = Harness.sfDir
    // optional comma-separated name filter for isolating queries
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(",").toSet)
    val runsN = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "1").toInt.max(1)
    val (detail, out) = Harness.suite(sfDir)(record(_, sfDir, only, runsN))
    Harness.write("BENCH_DETAIL.json", detail)
    if (out.length > TailWindow)
      System.err.println(s"[bench] WARNING metric line ${out.length} chars may exceed harness tail window")
    // the metric line is the LAST stdout line (showSuccess off), so the
    // 2000-char tail contains it whole as long as line+newline <= 2000
    println(out)
  }
}
