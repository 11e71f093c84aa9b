package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Optimization-round scratch: runs one registry query cold and prints
  * every Spark job's wall time + callsite, so multi-job operators
  * (memo builds, iterative graph rounds, two-phase ranks) show where
  * their seconds go. Not part of the driver contract.
  *
  * Usage: PROFILE_QUERY=q97_ann_recall[,q160_...] sbt "runMain graft.JobProfile"
  * Each named query runs cold-then-warm (2 passes) with the harness's
  * inter-query sweep, so memo builds are visible in pass 1 and the
  * steady-state job breakdown in pass 2.
  */
object JobProfile {

  /** Both passes of each query in `names` on `sfDir`, job lines to stderr. */
  def profile(spark: SparkSession, sfDir: String, names: Seq[String]): Unit = {
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
        val (_, dt) = Harness.time(Harness.noop(SparkEntry.queries(name)(spark, sfDir)))
        System.err.println(s"[total] $name pass $pass ${Harness.fmt2(dt)} s")
        Harness.sweep(spark)
      }
    }
    Harness.memos.foreach(m => System.err.println(s"[memos] $m"))
    Thread.sleep(500) // let listener events drain
  }

  def main(args: Array[String]): Unit = {
    val sfDir = Harness.sfDir
    val names = sys.env.getOrElse("PROFILE_QUERY", "q1_pricing_summary")
      .split(",").map(_.trim).filter(_.nonEmpty).toSeq
    Harness.suite(sfDir)(profile(_, sfDir, names))
  }
}
