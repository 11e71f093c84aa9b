package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.Locale

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one measurement harness behind the bench mains (`Bench`,
  * `ScaleBench`, `SpjBench`, `GraphIndexBench`, `JobProfile`,
  * `operators.ManifestBench`): session, declared warmup, inter-query
  * sweep, timer, statistics and the JSON record writer. Each main is a
  * named body that returns its record, run inside [[suite]].
  */
object Harness {

  /** `Sessions.local` on `SPARK_GRAFT_CPUS` cores (default
    * `cpusDefault`), logging at WARN.
    */
  def session(cpusDefault: String): SparkSession = {
    val spark = Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", cpusDefault))
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** The tables a suite measures: `SPARK_GRAFT_SF_DIR`, default sf0.1. */
  def sfDir: String = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

  /** Full evaluation without a driver collect: `.count()` would let
    * Catalyst prune unreferenced projections and time a near-empty plan.
    */
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** The one declared untimed warmup: the entry query, then a noop scan
    * of each core table of `sfDir`. The first timed query would
    * otherwise absorb one-off session costs (classloading, codegen
    * compiler init, parquet footers, column-decode codegen, page
    * cache). The scans are table-level, so no measured query gets an
    * untimed rehearsal of its own plan, and every timed run still
    * recomputes from parquet. NonFatal only: an OOM or LinkageError
    * must crash, and a broken entry query is reported, since a dead
    * warmup skews the first timed query.
    */
  def warmup(spark: SparkSession, sfDir: String): Unit =
    try {
      noop(SparkEntry.entry(spark))
      Seq[(SparkSession, String) => DataFrame](
        Tables.region, Tables.nation, Tables.customer, Tables.supplier,
        Tables.part, Tables.orders, Tables.lineitem, Tables.events,
        Tables.documents, Tables.embeddings)
        .foreach(t => noop(t(spark, sfDir)))
    } catch { case NonFatal(e) =>
      System.err.println(s"[harness] warmup FAILED: $e")
    }

  /** Inter-query hygiene, run outside the timed window. Three leak
    * classes accumulate across a long session and slow late queries:
    *  - cached frames (`clearCache`), the per-query persists;
    *  - `localCheckpoint` blocks, which bypass the catalog cache, so
    *    `clearCache` never frees them (swept via `getPersistentRDDs`);
    *  - broadcast variables and shuffle files, which the
    *    ContextCleaner releases only after their references are GC'd,
    *    hence the GC.
    */
  def sweep(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    System.gc()
  }

  /** `body`'s value and its wall seconds. */
  def time[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** Whole milliseconds in `sec` seconds, truncated. */
  def millis(sec: Double): Long = (sec * 1000).toLong

  /** Median of a non-empty sample (mean of the middle two for even n):
    * the per-query statistic the measurement protocol compares. The
    * bench host's run-to-run spread is ~2× (BASELINE.md), so single
    * runs cannot tell host noise from a regression; medians of N≥3 can.
    */
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** `v` in the format `prec`, always with a "." decimal point. */
  def fmt(prec: String, v: Double): String =
    String.format(Locale.ROOT, prec, Double.box(v))

  def fmt2(v: Double): String = fmt("%.2f", v)

  /** A JSON string literal. Escapes backslash, quote and ALL control
    * chars (<0x20): a tab or CR left raw would make a strict JSON
    * reader reject the whole record.
    */
  def str(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** A JSON array of string literals. */
  def strs(xs: Seq[String]): String = xs.map(str).mkString("[", ",", "]")

  /** Session-artifact build seconds ([[Artifacts.timings]]) as a JSON
    * object sorted by name; `None` when no artifact was built. The
    * build cost is also inside its first consumer's wall time: this
    * attributes it, it does not subtract it.
    */
  def memos: Option[String] =
    Some(Artifacts.timings).filter(_.nonEmpty).map(_.toSeq.sortBy(_._1)
      .map { case (n, v) => str(n) + ":" + fmt2(v) }.mkString("{", ",", "}"))

  /** Writes one JSON record line to `file`. A failed write is reported,
    * not fatal: every main also prints its record to stdout.
    */
  def write(file: String, record: String): Unit =
    try Files.write(Paths.get(file), (record + "\n").getBytes(StandardCharsets.UTF_8))
    catch { case NonFatal(e) =>
      System.err.println(s"[harness] $file write failed: $e")
    }

  /** A Spark suite's frame: a [[session]] (default 32 cores, the
    * target `local[32]`), the [[warmup]] on `sfDir`, then `body`; the
    * session stops after, even if `body` throws.
    */
  def suite[A](sfDir: String)(body: SparkSession => A): A = {
    val spark = session("32")
    try {
      warmup(spark, sfDir)
      body(spark)
    } finally spark.stop()
  }
}
