package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{Row, SparkSession}
import graft.SparkTestSession

/** `Edge.hysteresis8` over candidates spread across three partitions,
  * against a driver-side 8-connected BFS from the strong pixels over the
  * same candidate set: the per-partition segments and the cross-partition
  * stars must together keep exactly the flood fill. */
class HysteresisSpec extends AnyFunSuite {
  implicit lazy val spark: SparkSession = SparkTestSession.spark
  import spark.implicits._

  private type Px = (String, Int, Int, Boolean, String)

  /** Partition i of the candidate frame holds exactly `parts(i)`. */
  private def frame(parts: Seq[Seq[Px]]) =
    spark.sparkContext.parallelize(parts, parts.length).flatMap(identity)
      .toDF("image_id", "x", "y", "strong", "tag")

  /** Flood fill from every strong pixel through 8-adjacent candidates of
    * the same image. */
  private def bfs(px: Seq[Px]): Set[Px] = {
    val at = px.map(p => (p._1, p._2, p._3) -> p).toMap
    val seen = scala.collection.mutable.Set.empty[Px]
    val stack = scala.collection.mutable.Stack.empty[Px]
    px.filter(_._4).foreach { p => seen += p; stack.push(p) }
    while (stack.nonEmpty) {
      val (img, x, y, _, _) = stack.pop()
      for (dx <- -1 to 1; dy <- -1 to 1; n <- at.get((img, x + dx, y + dy)))
        if (!seen(n)) { seen += n; stack.push(n) }
    }
    seen.toSet
  }

  test("hysteresis8 across three partitions == driver-side 8-connected BFS") {
    // (1) weak segment in partitions 1 and 2 reached only through the
    //     strong pixel (0, 0) in partition 0
    val reached = Seq(Seq(("a", 0, 0, true, "r0")),
      Seq(("a", 1, 1, false, "r1"), ("a", 2, 1, false, "r2")),
      Seq(("a", 3, 2, false, "r3")))
    // (2) strong segment with no cross-partition neighbour
    val local = Seq(Seq.empty, Seq.empty,
      Seq(("a", 20, 20, true, "l0"), ("a", 21, 21, false, "l1")))
    // (3) weak chain through all three partitions, no strong pixel; the
    //     same coordinates in image "b" next to a strong pixel of "a"
    //     stay unreached too
    val chain = Seq(Seq(("a", 40, 0, false, "c0"), ("a", 43, 1, false, "c3")),
      Seq(("a", 41, 0, false, "c1"), ("b", 1, 0, false, "b0")),
      Seq(("a", 42, 1, false, "c2"), ("a", 44, 2, false, "c4")))
    val parts = (0 until 3).map(i => reached(i) ++ local(i) ++ chain(i))
    val got = Edge.hysteresis8(frame(parts)).collect()
    // (4) the extra `tag` column rides through unchanged, in input order
    assert(got.head.schema.fieldNames.toSeq == Seq("image_id", "x", "y", "strong", "tag"))
    val gotPx = got.map { case Row(img: String, x: Int, y: Int, s: Boolean, t: String) =>
      (img, x, y, s, t) }.toSet
    val want = bfs(parts.flatten)
    assert(want.map(_._5) == Set("r0", "r1", "r2", "r3", "l0", "l1"))
    assert(gotPx == want,
      s"missing ${(want -- gotPx).map(_._5)}, extra ${(gotPx -- want).map(_._5)}")
  }
}
