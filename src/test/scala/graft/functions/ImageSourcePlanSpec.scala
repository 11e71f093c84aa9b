package graft.functions

import java.nio.file.Files

import org.apache.spark.sql.catalyst.expressions.ScalaUDF
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSuite
import graft.streaming.WatchPipeline

/** Each scan is decoded and hashed once: the hash UDF appears once in
  * the optimized plan of the batch and the streaming ingest (a pushed-
  * down `isNotNull` filter would otherwise evaluate it a second time),
  * and a counted run calls the kernel once per decodable file.
  */
class ImageSourcePlanSpec extends SparkSuite {

  private def udfCount(plan: LogicalPlan): Int =
    plan.flatMap(_.expressions.flatMap(_.collect { case u: ScalaUDF => u })).size

  /** The fixture dir (8 scans + 2 re-scans) plus one undecodable `.png`. */
  private def withScans[T](body: String => T): T = {
    val dir = Files.createTempDirectory("graft_plan_scans")
    try {
      val fixture = new java.io.File(SyntheticImages.fixtureDir())
      fixture.listFiles().filter(_.getName.endsWith(".png"))
        .foreach(f => Files.copy(f.toPath, dir.resolve(f.getName)))
      Files.write(dir.resolve("Scan_corrupt.png"), Array[Byte](9, 9, 9))
      body(dir.toString)
    } finally {
      dir.toFile.listFiles().foreach(_.delete())
      Files.deleteIfExists(dir)
    }
  }

  test("batch withHash plans one hash UDF") {
    withScans { dir =>
      val df = ImageSource.withHash(ImageSource.images(spark, dir))
      assert(udfCount(df.queryExecution.optimizedPlan) === 1,
        df.queryExecution.optimizedPlan.treeString)
    }
  }

  test("streaming contentAddressed plans one hash UDF per micro-batch") {
    withScans { dir =>
      val ckpt = Files.createTempDirectory("graft_plan_ckpt")
      // the last execution must be the data batch, not the watermark's
      // trailing no-data batch (whose input is an empty LocalRelation)
      val noData = "spark.sql.streaming.noDataMicroBatches.enabled"
      spark.conf.set(noData, "false")
      val q = try {
        WatchPipeline.contentAddressed(WatchPipeline.rawScans(spark, dir))
          .writeStream.format("noop").trigger(Trigger.AvailableNow())
          .option("checkpointLocation", ckpt.toString).start()
      } finally spark.conf.unset(noData)
      try q.awaitTermination() finally q.stop()
      val plan = q.asInstanceOf[StreamingQueryWrapper].streamingQuery
        .lastExecution.optimizedPlan
      assert(udfCount(plan) === 1, plan.treeString)
    }
  }

  test("a counted run hashes each decodable file once") {
    withScans { dir =>
      val calls = spark.sparkContext.longAccumulator("hash.calls")
      val (df, dropped) = ImageSource.withHashCounted(
        ImageSource.images(spark, dir),
        bytes => { calls.add(1L); ImageHash.averageHash(bytes) })
      // materialize img_id: a bare count() prunes the hash projection
      assert(df.select("img_id").collect().length === 10)
      // the counter wraps the kernel, so the undecodable file's one
      // (throwing) call is counted too
      assert(calls.value === 11)
      assert(dropped.value === 1)
    }
  }
}
