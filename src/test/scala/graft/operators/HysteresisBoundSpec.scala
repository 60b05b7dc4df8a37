package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.SparkException
import org.apache.spark.sql.SparkSession
import graft.SparkTestSession

/** `Edge.hysteresis8` buffers each partition's candidate pixels whole;
  * past its per-partition row bound it must fail with a message. Its
  * segment labels hold the partition id in 23 bits; past that the
  * label builder must fail too. */
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

  test("segmentLabel: every strong label sorts below every weak one; 2^23 partitions trip") {
    val pids = Seq(0L, 1L, 4096L, Edge.MaxLabelPartitions - 1)
    val roots = Seq(0, 1, 12345, Int.MaxValue)
    val labs = for (p <- pids; r <- roots; s <- Seq(true, false))
      yield (Edge.segmentLabel(p, r, s), p, r, s)
    val (strong, weak) = labs.partition(_._4)
    assert(strong.map(_._1).max < weak.map(_._1).min)
    // distinct (pid, root) pairs keep distinct labels within each class
    assert(strong.map(_._1).distinct.size == strong.size)
    assert(weak.map(_._1).distinct.size == weak.size)
    val e = intercept[IllegalArgumentException](
      Edge.segmentLabel(Edge.MaxLabelPartitions, 0, strong = false))
    assert(e.getMessage.contains("23-bit"), e.getMessage)
  }
}
