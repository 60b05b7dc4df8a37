package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import com.fasterxml.jackson.databind.ObjectMapper

/** The mains' shared harness: the failure log behind Bench's additive
  * `error_detail` map and `Dev best`'s `errors` map, conf overrides that
  * always put back what was there before, and `Dev`'s up-front name
  * check. */
class HarnessSpec extends AnyFunSuite {
  implicit lazy val spark: SparkSession = SparkTestSession.spark

  test("FailureLog: failures per phase under error_detail, escaped; none when clean") {
    val log = new Harness.FailureLog
    assert(log.json("error_detail").isEmpty)
    assert(log.attempt("q_ok", "run")(1.5).contains(1.5))
    assert(log.attempt("q_bad", "warm")(throw new RuntimeException("boom")).isEmpty)
    assert(log.attempt[Double]("q_bad", "run 2")(
      throw new IllegalStateException("bad \"tile\"\n\tat seam")).isEmpty)
    val detail = new ObjectMapper().readTree("{\"x\":1" + log.json("error_detail") + "}")
      .get("error_detail")
    assert(detail.size() == 1 && detail.get("q_ok") == null)
    assert(detail.get("q_bad").get(0).asText() == "warm: java.lang.RuntimeException: boom")
    assert(detail.get("q_bad").get(1).asText() ==
      "run 2: java.lang.IllegalStateException: bad \"tile\"\n\tat seam")
  }

  test("Dev bestLine: best times under queries, escaped failure messages under errors") {
    val msg = "run 2: java.lang.IllegalStateException: bad \"tile\"\n\tat seam"
    val log = new Harness.FailureLog
    log.attempt("q_bad", "warm")(throw new RuntimeException("boom"))
    log.attempt("q_bad", "run 2")(throw new IllegalStateException("bad \"tile\"\n\tat seam"))
    val line = Dev.bestLine("/data/sf0.01", Seq("q_ok" -> 1.25, "q_bad" -> -1.0), log)
    val root = new ObjectMapper().readTree(line)
    assert(root.get("sf").asText() == "/data/sf0.01")
    assert(root.get("queries").get("q_ok").asDouble() == 1.25)
    assert(root.get("queries").get("q_bad").asDouble() == -1.0)
    val errs = root.get("errors")
    assert(errs.size() == 1 && errs.get("q_ok") == null)
    assert(errs.get("q_bad").get(0).asText() == "warm: java.lang.RuntimeException: boom")
    assert(errs.get("q_bad").get(1).asText() == msg)
  }

  test("Dev best: an unknown query name fails before any Spark work, naming it") {
    val e = intercept[IllegalArgumentException] {
      Dev.main(Array("best", "q_knn", "q_nope", "q_glcm"))
    }
    assert(e.getMessage.contains("q_nope"))
    assert(!e.getMessage.contains("q_knn") && !e.getMessage.contains("q_glcm"))
    assert(Dev.checkNames(Dev.BestDefault) == Dev.BestDefault)
  }

  private val shuffle = "spark.sql.shuffle.partitions"
  private val split = "spark.sql.files.maxPartitionBytes"
  private val unset = "spark.graft.test.neverSet"

  private def snapshot() = Seq(shuffle, split, unset).map(k => k -> spark.conf.getOption(k))

  test("withConfs: a throwing body leaves the session confs unchanged") {
    // a non-default previous split size: restoring must bring back 64m,
    // not Spark's 128 MB default
    Harness.withConfs(spark, split -> "64m") {
      val before = snapshot()
      assert(before.toMap.apply(unset).isEmpty)
      val e = intercept[IllegalStateException] {
        Harness.withConfs(spark, shuffle -> "3", split -> "8m", unset -> "x") {
          assert(spark.conf.get(shuffle) == "3")
          assert(spark.conf.get(split) == "8m")
          assert(spark.conf.get(unset) == "x")
          throw new IllegalStateException("leg failed")
        }
      }
      assert(e.getMessage == "leg failed")
      assert(snapshot() == before)
      assert(spark.conf.get(split) == "64m")
    }
  }

  test("withConfs: a returning body yields its value and restores the confs") {
    val before = snapshot()
    val got = Harness.withConfs(spark, shuffle -> "5")(spark.conf.get(shuffle).toInt * 2)
    assert(got == 10)
    assert(snapshot() == before)
    assert(Harness.withConfs(spark)(7) == 7) // no overrides: a plain call
  }
}
