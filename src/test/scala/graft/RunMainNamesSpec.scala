package graft

import java.lang.reflect.Modifier

import org.scalatest.funsuite.AnyFunSuite

/** The entry points the README documents and the bench and
  * correctness runs invoke by name (`runMain <name>`): each must keep a
  * static `main(Array[String])`, so a refactor cannot rename one away.
  */
class RunMainNamesSpec extends AnyFunSuite {

  private val names = Seq(
    "graft.Bench", "graft.Verify", "graft.Smoke", "graft.ScaleBench",
    "graft.Amplify", "graft.SpjBench", "graft.GraphIndexBench",
    "graft.JobProfile", "graft.PlanDump", "graft.operators.ManifestBench")

  for (name <- names) test(s"$name has a static main(Array[String])") {
    val m = Class.forName(name).getMethod("main", classOf[Array[String]])
    assert(Modifier.isStatic(m.getModifiers))
    assert(m.getReturnType === Void.TYPE)
  }
}
