package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench artifact's advisory regression gate: a corrupt baseline
  * file must not crash the run, and the paths it writes must not break
  * the JSON they are written into. */
class BenchSpec extends AnyFunSuite {

  test("a malformed baseline token is dropped, not fatal") {
    val got = Bench.parseBaseline(
      """{"q_ok": 1.5, "q_bad": 1.2.3, "q_exp": -2e3, "q_dots": ...}""")
    assert(got == Map("q_ok" -> 1.5, "q_exp" -> -2000.0))
  }

  test("the baseline and sf paths are escaped inside the JSON strings") {
    val path = """C:\bench "old"\base.json"""
    val field = "{\"task_baseline\":\"" + Bench.jsonEscape(path) + "\"}"
    assert(field == """{"task_baseline":"C:\\bench \"old\"\\base.json"}""")
    val sf = """/data/sf "0.1"\"""
    assert("{\"sf\":\"" + Bench.jsonEscape(sf) + "\"}" ==
      """{"sf":"/data/sf \"0.1\"\\"}""")
  }
}
