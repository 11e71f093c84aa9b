package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.Locale

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.storage.StorageLevel

import graft.operators.ManifestBench

/** Pins the measurement harness: the inter-query sweep really frees
  * what it claims, the record formatter ignores the default locale, the
  * median statistic, and that suite bodies built on the harness still
  * emit the committed records' field sequence.
  */
class HarnessSpec extends SparkSuite {

  private def keys(json: String): Seq[String] =
    new ObjectMapper().readTree(json).properties().asScala.map(_.getKey).toSeq

  private def committedKeys(file: String): Seq[String] =
    keys(new String(Files.readAllBytes(Paths.get(file)), StandardCharsets.UTF_8))

  test("sweep frees a persisted frame and a localCheckpoint RDD") {
    val df = spark.range(1000).toDF("id").persist()
    df.count()
    val rdd = spark.sparkContext.parallelize(1 to 1000, 4).localCheckpoint()
    rdd.count()
    assert(df.storageLevel !== StorageLevel.NONE)
    assert(spark.sparkContext.getPersistentRDDs.contains(rdd.id))
    Harness.sweep(spark)
    assert(df.storageLevel === StorageLevel.NONE)
    assert(!spark.sparkContext.getPersistentRDDs.contains(rdd.id))
  }

  test("fmt2 prints a decimal point under a comma-decimal default locale") {
    val prev = Locale.getDefault
    Locale.setDefault(Locale.GERMANY)
    try {
      assert(String.format("%.2f", Double.box(1.5)) === "1,50") // the locale took
      assert(Harness.fmt2(1.5) === "1.50")
    } finally Locale.setDefault(prev)
  }

  test("median: middle of odd samples, mean of the middle two for even") {
    assert(Harness.median(Seq(7.0)) === 7.0)
    assert(Harness.median(Seq(5.0, 1.0, 3.0)) === 3.0)
    assert(Harness.median(Seq(8.0, 2.0, 4.0, 6.0)) === 5.0)
    assert(Harness.median(Seq(1.0, 100.0)) === 50.5)
  }

  test("the ManifestBench body emits the committed record's key sequence") {
    assert(keys(ManifestBench.record(20, 10)) === committedKeys("BENCH_manifest.json"))
  }

  test("the SpjBench body emits the committed record's key sequence") {
    // its own session: the body sets join confs the suite session must not keep
    val record = SpjBench.record(spark.newSession(), "/root/testdata/sf0.001", 2)
    assert(keys(record) === committedKeys("BENCH_spj.json"))
  }
}
