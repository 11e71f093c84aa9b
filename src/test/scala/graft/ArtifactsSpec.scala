package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

/** The session-artifact cache: one build per key even when first
  * callers race, nested builds, no memoized failures, per-key
  * separation, and build timings.
  */
class ArtifactsSpec extends SparkSuite {

  /** A name no other test (or suite in this JVM) uses. */
  private def fresh(tag: String): String =
    s"spec-$tag-${java.util.UUID.randomUUID()}"

  test("concurrent first callers of one key share a single build") {
    val name = fresh("race")
    val builds = new AtomicInteger()
    val building = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    def call(): String = Artifacts.once(name, spark, "sf") {
      val n = builds.incrementAndGet()
      building.countDown()
      // the first build stays open until the second caller is in
      release.await(30, TimeUnit.SECONDS)
      s"path-$n"
    }
    val results = new java.util.concurrent.ConcurrentHashMap[String, String]()
    val t1 = new Thread(() => { results.put("t1", call()); () })
    t1.start()
    assert(building.await(30, TimeUnit.SECONDS))
    val t2 = new Thread(() => { results.put("t2", call()); () })
    t2.start()
    // the second caller has entered once it either waits on the
    // in-flight build or has finished a build of its own
    val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(30)
    while (!Set(Thread.State.BLOCKED, Thread.State.WAITING,
        Thread.State.TERMINATED).contains(t2.getState) &&
        System.nanoTime() < deadline) Thread.sleep(5)
    release.countDown()
    t1.join(30000); t2.join(30000)
    assert(builds.get == 1)
    assert(results.get("t1") == "path-1" && results.get("t2") == "path-1",
      results.toString)
  }

  test("a build may call once for another artifact") {
    val (outer, inner) = (fresh("outer"), fresh("inner"))
    val v = Artifacts.once(outer, spark, "sf") {
      Artifacts.once(inner, spark, "sf")(20) + 1
    }
    assert(v == 21)
    assert(Artifacts.once(inner, spark, "sf")(0) == 20)
  }

  test("a build that throws is not kept; the next call rebuilds") {
    val name = fresh("boom")
    intercept[IllegalStateException] {
      Artifacts.once[String](name, spark, "sf") {
        throw new IllegalStateException("build failed")
      }
    }
    val builds = new AtomicInteger()
    assert(Artifacts.once(name, spark, "sf") { builds.incrementAndGet(); "ok" } == "ok")
    assert(Artifacts.once(name, spark, "sf") { builds.incrementAndGet(); "again" } == "ok")
    assert(builds.get == 1)
  }

  test("different sfDirs and keys build separately") {
    val name = fresh("keys")
    val builds = new AtomicInteger()
    def call(d: String, key: Any): Int =
      Artifacts.once(name, spark, d, key)(builds.incrementAndGet())
    val first = Seq(call("a", 0.8), call("b", 0.8), call("a", 0.6), call("a", ()))
    assert(first == Seq(1, 2, 3, 4))
    assert(Seq(call("a", 0.8), call("b", 0.8), call("a", 0.6), call("a", ())) == first)
    assert(builds.get == 4)
  }

  test("timings records each build under its name") {
    val name = fresh("timed")
    Artifacts.once(name, spark, "sf") { Thread.sleep(50); () }
    assert(Artifacts.timings(name) >= 0.05)
  }

  test("parquet writes the build once and reads it back") {
    import spark.implicits._
    val name = fresh("parquet")
    val builds = new AtomicInteger()
    def call() = Artifacts.parquet(name, spark, "sf", 0.8) {
      builds.incrementAndGet()
      Seq(1L, 2L, 3L).toDF("x")
    }
    assert(call().as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L))
    assert(call().count() == 3L)
    assert(builds.get == 1)
  }
}
