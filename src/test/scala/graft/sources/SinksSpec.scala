package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.SparkSuite
import graft.receipts.{ReceiptPipeline, TextractJson}

class SinksSpec extends SparkSuite {

  private lazy val fixture = TextractJson.tempFile("receipt.json").toString
  private def derbyUrl(db: String) = s"jdbc:derby:memory:$db;create=true"

  test("K1: JDBC round-trip of pivoted summaries (Derby in-memory)") {
    val url = derbyUrl("k1db")
    val summaries = ReceiptPipeline.summarize(
      ReceiptPipeline.flattenSummary(
        ReceiptPipeline.readResponses(spark, fixture)))
    Sinks.writeJdbc(summaries, url, "receipt_summary")
    val back = Sinks.readJdbc(spark, url, "receipt_summary")
    assert(back.count() === summaries.count())
    val row = back.orderBy("img_id").head()
    val orig = summaries.orderBy("img_id").head()
    assert(row.getAs[String]("vendor_name") === orig.getAs[String]("vendor_name"))
    assert(row.getAs[java.math.BigDecimal]("total") ===
           orig.getAs[java.math.BigDecimal]("total"))
    // the map column landed as JSON text (the reference's JSON column)
    assert(row.getAs[String]("other_data").startsWith("{"))
  }

  test("K3: DDL bootstrap creates an empty, readable table") {
    val url = derbyUrl("k3db")
    val schema = ReceiptPipeline.summarize(
      ReceiptPipeline.flattenSummary(
        ReceiptPipeline.readResponses(spark, fixture))).schema
    Sinks.bootstrap(spark, url, "empty_summary",
      Sinks.jdbcReady(spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)).schema)
    val table = Sinks.readJdbc(spark, url, "empty_summary")
    assert(table.count() === 0)
    assert(table.columns.map(_.toLowerCase).toSet ===
      schema.fields.map(_.name.toLowerCase).toSet)
  }

  test("K2: moveFile relocates a processed scan via the FileSystem API") {
    val base = Files.createTempDirectory("graft_move")
    val src = base.resolve("raw/Scan_001.png")
    Files.createDirectories(src.getParent)
    Files.write(src, Array[Byte](1, 2, 3))
    val dst = base.resolve("done/Scan_001.png")
    assert(Sinks.moveFile(spark, src.toString, dst.toString))
    assert(!Files.exists(src) && Files.exists(dst))
  }

  test("K4: mergeSchema reads pre- and post-migration parquet as one table") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_evolve").toString
    // v1 schema: before the other_data migration
    Seq(("img_a", "VendorA")).toDF("img_id", "vendor_name")
      .write.parquet(s"$dir/p=1")
    // v2 schema: the added JSON column (e5c6e71f62a6 migration analog)
    Seq(("img_b", "VendorB", """{"k":"v"}"""))
      .toDF("img_id", "vendor_name", "other_data")
      .write.parquet(s"$dir/p=2")
    val merged = Sinks.readMerged(spark, dir)
    assert(merged.columns.toSet === Set("img_id", "vendor_name", "other_data", "p"))
    val byId = merged.collect().map(r => r.getAs[String]("img_id") ->
      Option(r.getAs[String]("other_data"))).toMap
    assert(byId("img_a").isEmpty)   // pre-migration rows null-filled
    assert(byId("img_b").contains("""{"k":"v"}"""))
  }

  test("K4 downgrade: new-schema parquet reads through the old declared schema, column never scanned") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_downgrade").toString + "/t"
    // post-migration data (carries other_data)
    Seq(("img_b", "VendorB", """{"k":"v"}"""), ("img_c", "VendorC", "{}"))
      .toDF("img_id", "vendor_name", "other_data")
      .write.parquet(dir)
    // roll back to the pre-migration declaration (drop_column analog)
    val v1 = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("img_id",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("vendor_name",
        org.apache.spark.sql.types.StringType)))
    val back = Sinks.readDeclared(spark, dir, v1)
    assert(back.columns.toSeq === Seq("img_id", "vendor_name"))
    assert(back.orderBy("img_id").collect().map(_.getString(1)).toSeq
      === Seq("VendorB", "VendorC"))
    // the drop is a plan-time decision: the physical scan's read schema
    // is the declared subset — the dropped column's pages are not read
    val scan = back.queryExecution.executedPlan.collectLeaves()
      .collectFirst {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }.getOrElse(fail("no FileSourceScanExec in plan"))
    assert(scan.requiredSchema.fieldNames.toSeq === Seq("img_id", "vendor_name"))
    assert(!scan.metadata("ReadSchema").contains("other_data"))
  }

  test("format breadth: the same frame round-trips parquet, orc, json, csv") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_formats").toString
    val df = Seq((1L, "a", 1.5), (2L, "b", -0.25)).toDF("id", "name", "v")
    for (fmt <- Seq("parquet", "orc", "json", "csv")) {
      df.write.format(fmt).option("header", "true").save(s"$base/$fmt")
      val back = spark.read.format(fmt)
        .option("header", "true").option("inferSchema", "true")
        .load(s"$base/$fmt")
      val rows = back.select(col("id").cast("long"), col("name"),
        col("v").cast("double")).orderBy("id")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
      assert(rows.toSeq === Seq((1L, "a", 1.5), (2L, "b", -0.25)), s"format $fmt")
    }
  }

  test("partitioned layout: a partition-key filter prunes the scan to one directory") {
    import spark.implicits._
    // the 100 TB table layout: data written partitionBy(key) so a
    // key-equality predicate never lists, opens, or reads the other
    // partitions' files — pruning happens at planning, not per row
    val base = Files.createTempDirectory("graft_partitions").toString
    (1 to 300).map(i => (i.toLong, s"d${i % 3}", i * 1.0)).toDF("id", "day", "v")
      .write.mode("overwrite").partitionBy("day").parquet(base)
    def scanOf(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.executedPlan.collectLeaves()
        .collectFirst {
          case f: org.apache.spark.sql.execution.FileSourceScanExec => f
        }.getOrElse(fail("no FileSourceScanExec in plan"))

    val full = scanOf(spark.read.parquet(base))
    assert(full.selectedPartitions.partitionCount === 3) // positive control

    val pruned = spark.read.parquet(base).filter(col("day") === "d1")
    val scan = scanOf(pruned)
    assert(scan.partitionFilters.nonEmpty,
      "partition-key predicate did not become a PartitionFilter")
    assert(scan.selectedPartitions.partitionCount === 1) // only the d1 directory
    assert(pruned.count() === 100)
  }
}
