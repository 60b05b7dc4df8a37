package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import graft.core.PixelCodec
import graft.gen.GridImages
import graft.operators.{ImageOps, ThreshSeg, ConvNet}

/** Edge cases of the round-4 operators: degenerate inputs must take the
  * documented path, not a silent wrong answer. */
class Round4EdgeSpec extends AnyFunSuite {
  implicit lazy val spark: SparkSession = SparkTestSession.spark

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

  test("fillNodata: a gap wider than maxSearchDist stays nodata") {
    val w = 20; val h = 9
    val nd = -1f
    val base = Array.fill(w * h)(5f)
    // a 9-wide, full-height nodata band: its center column is > 3 away
    // from any valid pixel in EVERY direction (incl. diagonals)
    for (y <- 0 until h; x <- 6 to 14) base(y * w + x) = nd
    val ds = spark.createDataset(Seq(
      ImageOps.fromArray("n0", Array(base), w, h, 0, 0, 1.0, PixelCodec.FmtRawLe)))(
      org.apache.spark.sql.Encoders.product[ImageRow])
    val got = ImageOps.fillNodata(ds, nd, maxSearchDist = 3).collect().head
    val pix = PixelCodec.decode(got.bytes, got.fmt, got.w, got.h).bands(0)
    // columns 9..11 of the interior rows are unreachable horizontally;
    // rows 4 (center) can't reach vertically either at x=10
    assert(pix(4 * w + 10) == nd, "unreachable pixel must stay nodata")
    // band borders DO fill (distance 1-3 from valid columns)
    assert(pix(4 * w + 6) != nd && pix(4 * w + 14) != nd)
  }

  test("collectChips fails fast on a seg/image shape mismatch") {
    val imgs = spark.createDataset(GridImages.images(1, 2).toSeq)(
      org.apache.spark.sql.Encoders.product[ImageRow])
    val badMask = spark.createDataset(Seq(
      ImageOps.fromArray("g000", Array(Array.fill(100)(1f)), 10, 10,
        0, 0, 1.0, PixelCodec.FmtRawLe)))(
      org.apache.spark.sql.Encoders.product[ImageRow])
    val ex = intercept[org.apache.spark.SparkException] {
      ConvNet.collectChips(imgs, badMask, chipSize = 16).collect()
    }
    assert(ex.getMessage.contains("mask") || ex.getCause != null)
  }
}
