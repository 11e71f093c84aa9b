package graft.operators

import java.nio.file.Files

import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import graft.SparkSuite

class ReliableSpec extends SparkSuite {
  import spark.implicits._

  private def checkpointFiles(df: org.apache.spark.sql.DataFrame): Boolean =
    df.queryExecution.analyzed.collect {
      case lr: LogicalRDD => lr.rdd
    }.exists(_.getCheckpointFile.isDefined)

  private def withFlag[A](body: => A): A = {
    val dir = Files.createTempDirectory("graft-ckpt").toString
    spark.sparkContext.setCheckpointDir(dir)
    spark.conf.set(Reliable.Flag, "true")
    try body
    finally spark.conf.set(Reliable.Flag, "false")
  }

  test("flag off (default): barrier applies the local fallback") {
    assert(!Reliable.enabled(spark))
    val df = Reliable.barrier(spark.range(10).toDF())(_.localCheckpoint())
    assert(!checkpointFiles(df))
    assert(df.count() === 10)
    df.unpersist()
  }

  test("flag on: barrier writes a reliable checkpoint") {
    withFlag {
      assert(Reliable.enabled(spark))
      val df = Reliable.barrier(spark.range(10).toDF())(_.localCheckpoint())
      assert(checkpointFiles(df), "expected a reliable-checkpointed RDD")
      assert(df.count() === 10)
    }
  }

  test("deployment profile defaults reliable checkpoints ON") {
    val dir = Files.createTempDirectory("graft-deploy-ckpt").toString
    try {
      val s = graft.Sessions.deployment(dir)
      assert(Reliable.enabled(s),
        "deployment sessions must default the reliable-checkpoint barrier on")
      val df = Reliable.barrier(s.range(10).toDF())(_.localCheckpoint())
      assert(checkpointFiles(df), "expected a reliable-checkpointed RDD")
      intercept[IllegalArgumentException](graft.Sessions.deployment(""))
    } finally spark.conf.set(Reliable.Flag, "false") // shared-JVM session
  }

  test("deployment profile leaves the file: scheme's filesystem as the cluster has it") {
    // getOrCreate applies a builder's settings to the running session, so
    // a key deployment set would overwrite the marker; the zone is the
    // control that the marker sees what deployment does set
    val markers = Seq("spark.hadoop.fs.file.impl" -> "marker",
      "spark.hadoop.fs.AbstractFileSystem.file.impl" -> "marker",
      "spark.sql.session.timeZone" -> "America/Chicago")
    val prior = markers.map { case (k, _) => k -> spark.conf.get(k) }
    val dir = Files.createTempDirectory("graft-deploy-ckpt").toString
    try {
      markers.foreach { case (k, v) => spark.conf.set(k, v) }
      val s = graft.Sessions.deployment(dir)
      assert(markers.map { case (k, _) => s.conf.get(k) } === Seq("marker", "marker", "UTC"))
    } finally {
      prior.foreach { case (k, v) => spark.conf.set(k, v) }
      spark.conf.set(Reliable.Flag, "false")
    }
  }

  test("GlobalRank and ConnectedComponents stay correct under the flag") {
    withFlag {
      val ranked = GlobalRank.withGlobalRank(
        spark.range(0, 100).toDF("v"), Seq(col("v")), "rnk", 4)
      assert(ranked.filter(col("rnk") =!= col("v") + 1).count() === 0)
      val comps = ConnectedComponents
        .labelPropagation(Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("src", "dst"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(comps === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
    }
  }
}
