package graft.receipts

import org.scalatest.funsuite.AnyFunSuite

/** Default-fixture resolution (ADVICE r7: the CLI must not be bound to
  * this container's read-only reference checkout): env var → bundled
  * classpath resource → documented dev path.
  */
class FixtureAnalyzerSpec extends AnyFunSuite {

  test("resolve falls back to the dev-container reference path") {
    assume(!sys.env.contains("GRAFT_FIXTURE"))
    // no /fixtures/analyze_expense.json is bundled in this build, so
    // the documented fallback wins
    assert(FixtureAnalyzer.resolve() === "/root/reference/output1.json")
  }

  test("load reads a filesystem path") {
    assert(FixtureAnalyzer.load(TextractJson.tempFile("response.json").toString)
      .contains("ExpenseDocuments"))
  }

  test("load reads a classpath: resource") {
    assert(FixtureAnalyzer.load("classpath:/fixtures/test_capture.json")
      .trim === """{"ok":true}""")
  }

  test("load on a missing classpath resource names the resource") {
    val e = intercept[IllegalArgumentException](
      FixtureAnalyzer.load("classpath:/fixtures/nope.json"))
    assert(e.getMessage.contains("/fixtures/nope.json"))
  }
}
