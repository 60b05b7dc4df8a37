package graft

import org.scalatest.funsuite.AnyFunSuite
import com.fasterxml.jackson.databind.ObjectMapper

/** BenchExtra's output line keeps each query's best time under
  * `queries` and records every failure under `errors`. */
class BenchExtraSpec extends AnyFunSuite {

  test("jsonLine: best times under queries, escaped failure messages under errors") {
    val msg = "run 2: java.lang.IllegalStateException: bad \"tile\"\n\tat seam"
    val line = BenchExtra.jsonLine("/data/sf0.01",
      Seq("q_ok" -> 1.25, "q_bad" -> -1.0),
      Seq("q_bad" -> Seq("warm: java.lang.RuntimeException: boom", msg)))
    val root = new ObjectMapper().readTree(line)
    assert(root.get("sf").asText() == "/data/sf0.01")
    assert(root.get("queries").get("q_ok").asDouble() == 1.25)
    assert(root.get("queries").get("q_bad").asDouble() == -1.0)
    val errs = root.get("errors")
    assert(errs.size() == 1 && errs.get("q_ok") == null)
    assert(errs.get("q_bad").get(0).asText() == "warm: java.lang.RuntimeException: boom")
    assert(errs.get("q_bad").get(1).asText() == msg)
  }
}
