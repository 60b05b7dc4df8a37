package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession

/** Bench legs override session confs through `Bench.withConfs`, which
  * must put back what was there before — on success and on failure. */
class BenchConfSpec extends AnyFunSuite {
  implicit lazy val spark: SparkSession = SparkTestSession.spark

  private val shuffle = "spark.sql.shuffle.partitions"
  private val split = "spark.sql.files.maxPartitionBytes"
  private val unset = "spark.graft.test.neverSet"

  private def snapshot() = Seq(shuffle, split, unset).map(k => k -> spark.conf.getOption(k))

  test("withConfs: a throwing body leaves the session confs unchanged") {
    // a non-default previous split size: restoring must bring back 64m,
    // not Spark's 128 MB default
    Bench.withConfs(spark, split -> "64m") {
      val before = snapshot()
      assert(before.toMap.apply(unset).isEmpty)
      val e = intercept[IllegalStateException] {
        Bench.withConfs(spark, shuffle -> "3", split -> "8m", unset -> "x") {
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
    val got = Bench.withConfs(spark, shuffle -> "5")(spark.conf.get(shuffle).toInt * 2)
    assert(got == 10)
    assert(snapshot() == before)
    assert(Bench.withConfs(spark)(7) == 7) // no overrides: a plain call
  }
}
