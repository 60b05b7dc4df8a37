package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.SparkException
import org.apache.spark.sql.SparkSession
import graft.SparkTestSession

/** `Edge.hysteresis8` buffers each partition's candidate pixels whole;
  * past its per-partition row bound it must fail with a message. */
class HysteresisBoundSpec extends AnyFunSuite {
  implicit lazy val spark: SparkSession = SparkTestSession.spark
  import spark.implicits._

  // one partition: a strong pixel with two weak 8-neighbours in a row,
  // and an isolated weak pixel that hysteresis drops
  private def cand = Seq(("a", 0, 0, true), ("a", 1, 0, false), ("a", 2, 1, false),
    ("a", 10, 10, false)).toDF("image_id", "x", "y", "strong").coalesce(1)

  private def kept(maxRows: Int): Set[(Int, Int)] =
    Edge.hysteresis8(cand, maxRows).select("x", "y").as[(Int, Int)].collect().toSet

  test("hysteresis8 runs at its per-partition row bound and fails past it") {
    assert(kept(4) == Set((0, 0), (1, 0), (2, 1)))
    val e = intercept[SparkException](kept(3))
    val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).map(_.getMessage)
    assert(msgs.exists(m => m != null && m.contains("more than 3 candidate pixels")),
      s"unexpected failure: ${e.getMessage}")
  }
}
