package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import graft.gen.GridImages
import graft.operators.ThreshSeg

class ThreshSegSpec extends AnyFunSuite {
  implicit lazy val spark: SparkSession = SparkTestSession.spark

  lazy val imgs = spark.createDataset(GridImages.threshImages(4).toSeq)(
    org.apache.spark.sql.Encoders.product[ImageRow])
  def polys(n: Int) = spark.createDataset((0 until n).flatMap { i =>
    Seq(GridImages.pixelRectPoly(i.toLong, 2L * i, GridImages.snakePolyA(i.toLong)),
      GridImages.pixelRectPoly(i.toLong, 2L * i + 1, GridImages.threshPolyD(i.toLong)))
  })(org.apache.spark.sql.Encoders.product[PolyRow])

  test("hole filled + specks removed: final segments are the full blob rects") {
    val rows = ThreshSeg.threshSeg(imgs, polys(4), minArea = 4.0)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getInt(3), r.getInt(4)))
    rows.foreach { case (_, _, thr, _, _) => assert(thr == 10.0) }
    for (i <- 0 until 4) {
      val id = f"g$i%03d"
      val b1 = GridImages.snakeB1(i.toLong)
      val b2 = GridImages.snakeB2(i.toLong)
      val got1 = rows.filter(r => r._1 == id && r._2 == 2L * i).map(r => (r._4, r._5)).toSet
      val want1 = (for (x <- b1._1 to b1._3; y <- b1._2 to b1._4) yield (x, y)).toSet
      assert(got1 == want1, s"image $i polyA")
      val got2 = rows.filter(r => r._1 == id && r._2 == 2L * i + 1).map(r => (r._4, r._5)).toSet
      val want2 = (for (x <- b2._1 to b2._3; y <- b2._2 to b2._4) yield (x, y)).toSet
      assert(got2 == want2, s"image $i polyD")
    }
  }

  test("an all-NaN window skips instead of crashing otsu") {
    // polygon window entirely over NaN pixels: every in-polygon value is
    // NaN (not 0f), so the old max==0 guard missed it and otsuLocal
    // faced an empty histogram
    val w = 16; val h = 12
    val band = Array.fill(w * h)(Float.NaN)
    val img = graft.operators.ImageOps.fromArray("n0", Array(band), w, h,
      0.0, h.toDouble, 1.0, graft.core.PixelCodec.FmtRawLe)
    val poly = spark.createDataset(Seq(graft.PolyRow(0L, 0,
      Array(Array(graft.Pt(2.25, 2.25), graft.Pt(9.75, 2.25),
        graft.Pt(9.75, 9.75), graft.Pt(2.25, 9.75))), 1, "nan window", 0.0)))(
      org.apache.spark.sql.Encoders.product[PolyRow])
    val rows = ThreshSeg.threshSeg(spark.createDataset(Seq(img))(
      org.apache.spark.sql.Encoders.product[ImageRow]), poly)
    assert(rows.count() == 0L)
  }

  test("minArea=1 keeps specks; holeArea=1 leaves the hole open") {
    val rows = ThreshSeg.threshSeg(imgs, polys(2), minArea = 1.0, holeArea = 1)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(3), r.getInt(4)))
    for (i <- 0 until 2) {
      val id = f"g$i%03d"
      val b1 = GridImages.snakeB1(i.toLong)
      val hole = GridImages.threshHole(i.toLong)
      val s1 = GridImages.threshSpeck1(i.toLong)
      val s2 = GridImages.threshSpeck2(i.toLong)
      val got = rows.filter(r => r._1 == id && r._2 == 2L * i).map(r => (r._3, r._4)).toSet
      val want = (for (x <- b1._1 to b1._3; y <- b1._2 to b1._4) yield (x, y)).toSet -
        hole + s1 + ((s2._1 + 1, s2._2)) + s2
      assert(got == want, s"image $i with defects kept")
    }
  }

  test("naive small-holes / small-objects agree with direct enumeration") {
    // 7x5 window: an L-shaped blob with a 1-px hole candidate and a
    // 2-px speck; checked against hand-computed results
    val w = 7; val h = 5
    val fg = Array(
      1, 1, 1, 0, 0, 1, 1,
      1, 0, 1, 0, 0, 0, 0,
      1, 1, 1, 0, 0, 0, 0,
      0, 0, 0, 0, 0, 0, 0,
      1, 0, 0, 0, 0, 0, 1).map(_ == 1)
    val a = fg.clone()
    ThreshSeg.fillSmallHoles(a, w, h, 4)
    // the single interior 0 at (1,1) fills; open background does not
    assert(a(1 * w + 1))
    assert(!a(0 * w + 3) && !a(3 * w + 0))
    val b = a.clone()
    ThreshSeg.removeSmallObjects(b, w, h, 4)
    // the 9-px ring survives; the 2-px speck and 1-px corners vanish
    assert(b(0) && b(2 * w + 2))
    assert(!b(0 * w + 5) && !b(0 * w + 6) && !b(4 * w + 0) && !b(4 * w + 6))
  }

  test("threshSeg overlap: both polygons emit; max(poly_id) composes deterministically") {
    val imgs = spark.createDataset(GridImages.threshImages(1).toSeq)(
      org.apache.spark.sql.Encoders.product[ImageRow])
    // two polys over the SAME blob1 (ids 5 and 9)
    val polys = spark.createDataset(Seq(
      GridImages.pixelRectPoly(0L, 5L, GridImages.snakePolyA(0L)),
      GridImages.pixelRectPoly(0L, 9L, GridImages.snakePolyA(0L))))(
      org.apache.spark.sql.Encoders.product[PolyRow])
    val rows = ThreshSeg.threshSeg(imgs, polys, minArea = 4.0).collect()
    val b1 = GridImages.snakeB1(0L)
    val area = (b1._3 - b1._1 + 1) * (b1._4 - b1._2 + 1)
    assert(rows.count(_.getLong(1) == 5L) == area)
    assert(rows.count(_.getLong(1) == 9L) == area)
    // documented overlap composition
    val composed = rows.groupBy(r => (r.getInt(3), r.getInt(4)))
      .view.mapValues(_.map(_.getLong(1)).max).toMap
    assert(composed.values.forall(_ == 9L))
  }
}
