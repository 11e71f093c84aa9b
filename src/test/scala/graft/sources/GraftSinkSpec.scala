package graft.sources

import graft.{SparkSuite, TempDirs}
import graft.operators.{Layout, VersionedTable}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}

/** `writeStream.format("graft")` ([[GraftSink]]): micro-batches become
  * txn-stamped commits; replayed batches dedup; restarts resume
  * exactly-once; Complete mode refreshes.
  */
class GraftSinkSpec extends SparkSuite {

  test("append stream lands as one commit per micro-batch, exactly-once") {
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    val base = TempDirs.scoped("graft_sink_append")
    val cp = TempDirs.scoped("graft_sink_append_cp")
    val in = MemoryStream[(Long, String)]
    val q = in.toDF().toDF("k", "v").writeStream
      .format("graft").option("path", base)
      .option("checkpointLocation", cp)
      .option("statsCols", "k")
      .outputMode(OutputMode.Append())
      .trigger(Trigger.AvailableNow())
    in.addData((1L, "a"), (2L, "b"))
    q.start().awaitTermination()
    in.addData((3L, "c"))
    q.start().awaitTermination()
    val got = spark.read.format("graft").load(base)
      .orderBy("k").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got === Seq((1L, "a"), (2L, "b"), (3L, "c")))
    // one commit per non-empty micro-batch, each txn-stamped with the
    // checkpoint-derived writer identity
    assert(VersionedTable.history(base).map(_._2) === Seq("append", "append"))
    // the sink resolved appId from the checkpointLocation option
    assert(VersionedTable.lastCommittedTxn(base, cp).nonEmpty)
    // streaming-written data prunes like batch-written data
    spark.read.format("graft").load(base)
      .filter(col("k") === 3L).collect()
    assert(GraftScanMetrics.lastPrune(base).exists(_._1 <= 1))
  }

  test("streaming ingest into a BUCKETED table keeps the SPJ claim " +
      "(sticky discipline through the sink's commits)") {
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    val base = TempDirs.scoped("graft_sink_bucketed")
    val cp = TempDirs.scoped("graft_sink_bucketed_cp")
    // seed the layout: one bucketed batch write
    (1L to 100L).map(k => (k, k)).toDF("k", "v").write.format("graft")
      .option("bucketBy", "4:k").mode("append").save(base)
    // then stream into it — each micro-batch commit must RE-BUCKET
    // its delta (a streaming consumer must not void the co-location
    // claim every trigger)
    val in = MemoryStream[(Long, Long)]
    val q = in.toDF().toDF("k", "v").writeStream
      .format("graft").option("path", base)
      .option("checkpointLocation", cp)
      .outputMode(OutputMode.Append())
      .trigger(Trigger.AvailableNow())
    in.addData((101L, 1L), (102L, 2L), (103L, 3L))
    q.start().awaitTermination()
    in.addData((104L, 4L))
    q.start().awaitTermination()
    val es = VersionedTable.entries(base,
      VersionedTable.latestVersion(base).get)
    assert(Layout.of(es) === Some(Layout.Bucket(4, Seq("k"))),
      s"streaming appends must inherit the bucket layout")
    assert(spark.read.format("graft").load(base).count() === 104L)
  }

  test("a replayed batchId is a no-op (crash-replay dedup)") {
    val s = spark
    import s.implicits._
    val base = TempDirs.scoped("graft_sink_replay")
    val sink = new GraftSink(spark, base, "writer-1", OutputMode.Append(),
      Seq("k"), Nil)
    sink.addBatch(0L, s.createDataFrame(
      s.sparkContext.parallelize(Seq(org.apache.spark.sql.Row(10L),
        org.apache.spark.sql.Row(20L))),
      new org.apache.spark.sql.types.StructType()
        .add("k", org.apache.spark.sql.types.LongType)))
    assert(spark.read.format("graft").load(base).count() === 2L)
    // the SAME batch replayed after a hypothetical crash: skipped
    sink.addBatch(0L, s.createDataFrame(
      s.sparkContext.parallelize(Seq(org.apache.spark.sql.Row(10L),
        org.apache.spark.sql.Row(20L))),
      new org.apache.spark.sql.types.StructType()
        .add("k", org.apache.spark.sql.types.LongType)))
    assert(spark.read.format("graft").load(base).count() === 2L)
    assert(VersionedTable.latestVersion(base) === Some(1L))
    assert(VersionedTable.lastCommittedTxn(base, "writer-1") === Some(0L))
    // a LATER batch commits normally
    sink.addBatch(1L, s.createDataFrame(
      s.sparkContext.parallelize(Seq(org.apache.spark.sql.Row(30L))),
      new org.apache.spark.sql.types.StructType()
        .add("k", org.apache.spark.sql.types.LongType)))
    assert(spark.read.format("graft").load(base).count() === 3L)
    assert(VersionedTable.lastCommittedTxn(base, "writer-1") === Some(1L))
  }

  test("Complete mode: each batch's aggregate REPLACES the table") {
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    val base = TempDirs.scoped("graft_sink_complete")
    val cp = TempDirs.scoped("graft_sink_complete_cp")
    val in = MemoryStream[(String, Long)]
    def run(): Unit = in.toDF().toDF("g", "v")
      .groupBy("g").agg(sum("v").as("sv"))
      .writeStream.format("graft").option("path", base)
      .option("checkpointLocation", cp)
      .outputMode(OutputMode.Complete())
      .trigger(Trigger.AvailableNow())
      .start().awaitTermination()
    in.addData(("a", 1L), ("a", 2L), ("b", 10L))
    run()
    in.addData(("b", 5L))
    run()
    val got = spark.read.format("graft").load(base)
      .orderBy("g").collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got === Seq(("a", 3L), ("b", 15L)))
    assert(VersionedTable.history(base).map(_._2) ===
      Seq("replace", "replace"))
  }

  test("update mode and partitionBy are rejected loudly") {
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    val in = MemoryStream[(String, Long)]
    val e = intercept[Exception] {
      in.toDF().toDF("g", "v").groupBy("g").agg(sum("v").as("sv"))
        .writeStream.format("graft")
        .option("path", TempDirs.scoped("graft_sink_upd"))
        .option("checkpointLocation", TempDirs.scoped("graft_sink_upd_cp"))
        .outputMode(OutputMode.Update())
        .trigger(Trigger.AvailableNow())
        .start().awaitTermination()
    }
    assert(e.getMessage.contains("Append and Complete") ||
      Option(e.getCause).exists(_.getMessage.contains("Append and Complete")))
  }
}
