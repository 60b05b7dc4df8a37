package graft

import org.scalatest.funsuite.AnyFunSuite
import com.fasterxml.jackson.databind.ObjectMapper

/** Bench's failure log: each failed phase of a query is kept, in order,
  * under the additive `error_detail` map; a clean run adds nothing. */
class BenchSpec extends AnyFunSuite {

  test("FailureLog: failures per phase under error_detail, escaped; none when clean") {
    val log = new Bench.FailureLog
    assert(log.json.isEmpty)
    assert(log.attempt("q_ok", "run")(1.5).contains(1.5))
    assert(log.attempt("q_bad", "warm")(throw new RuntimeException("boom")).isEmpty)
    assert(log.attempt[Double]("q_bad", "run 2")(
      throw new IllegalStateException("bad \"tile\"\n\tat seam")).isEmpty)
    val detail = new ObjectMapper().readTree("{\"x\":1" + log.json + "}")
      .get("error_detail")
    assert(detail.size() == 1 && detail.get("q_ok") == null)
    assert(detail.get("q_bad").get(0).asText() == "warm: java.lang.RuntimeException: boom")
    assert(detail.get("q_bad").get(1).asText() ==
      "run 2: java.lang.IllegalStateException: bad \"tile\"\n\tat seam")
  }
}
