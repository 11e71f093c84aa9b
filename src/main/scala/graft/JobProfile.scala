package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Optimization-round scratch: runs one registry query cold and prints
  * every Spark job's wall time + callsite, so multi-job operators
  * (memo builds, iterative graph rounds, two-phase ranks) show where
  * their seconds go. Not part of the driver contract.
  *
  * Usage: PROFILE_QUERY=q97_ann_recall[,q160_...] sbt "runMain graft.JobProfile"
  * Each named query runs cold-then-warm (2 passes) with Bench's
  * inter-query hygiene, so memo builds are visible in pass 1 and the
  * steady-state job breakdown in pass 2.
  */
object JobProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val names = sys.env.getOrElse("PROFILE_QUERY", "q1_pricing_summary")
      .split(",").map(_.trim).filter(_.nonEmpty)
    val spark = Sessions.local(cpus)
    spark.sparkContext.setLogLevel("WARN")
    // warmup like Bench
    try SparkEntry.entry(spark).write.format("noop").mode("overwrite").save()
    catch { case scala.util.control.NonFatal(e) => System.err.println(s"warmup: $e") }
    val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val site = Option(js.properties)
          .flatMap(p => Option(p.getProperty("callSite.short"))).getOrElse("?")
        starts.put(js.jobId, (System.nanoTime(), site))
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        Option(starts.get(je.jobId)).foreach { case (t0, site) =>
          val dt = (System.nanoTime() - t0) / 1e9
          System.err.println(f"[job] ${je.jobId}%4d ${dt}%8.3f s  $site")
        }
      }
    })
    names.foreach { name =>
      (1 to 2).foreach { pass =>
        System.err.println(s"=== $name pass $pass ===")
        val t0 = System.nanoTime()
        SparkEntry.queries(name)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
        val dt = (System.nanoTime() - t0) / 1e9
        System.err.println(f"[total] $name pass $pass $dt%.2f s")
        spark.catalog.clearCache()
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
        System.gc()
      }
    }
    val memos = Artifacts.timings
    if (memos.nonEmpty)
      System.err.println("[memos] " + memos.toSeq.sortBy(-_._2)
        .map { case (n, v) => f"$n=$v%.2f" }.mkString(" "))
    Thread.sleep(500) // let listener events drain
    spark.stop()
  }
}
