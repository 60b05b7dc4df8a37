package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import graft.gen.GridImages
import graft.operators.{Hough, Ransac}

/** RANSAC strip lines: the engine vs (a) the closed-form burned set of
  * the planted-vertical fixture, (b) an independent naive exhaustive
  * implementation on pseudorandom masks, (c) determinism of the sampled
  * path. */
class RansacSpec extends AnyFunSuite {
  implicit lazy val spark: SparkSession = SparkTestSession.spark
  import spark.implicits._

  test("burned lines on the planted fixture equal column a at the edge rows") {
    val n = 4
    val ds = spark.createDataset(GridImages.ransacImages(n).toSeq)
    val got = Ransac.lines(ds, binwidth = 40, orient = "col", thresh = 50.0)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getInt(2), r.getInt(3))).toSet
    val expect = (for {
      i <- 0 until n
      s <- 0 to 1
    } yield {
      val a = GridImages.ransacA(i, s)
      val rows = (0 until 48).filter(y =>
        (0 until 80).exists(x => x / 40 == s && GridImages.ransacBright(i, x, y)))
      rows.map(y => (f"g$i%03d", s, a, y))
    }).flatten.toSet
    assert(got == expect)
  }

  test("exhaustive fit equals an independent naive argmax on pseudorandom masks") {
    val imgs = GridImages.images(3, bands = 1)
    val ds = spark.createDataset(imgs.toSeq)
    // pseudorandom mask; exhaustiveMax = MaxValue forces the all-pairs
    // path so parity with the naive argmax holds at any density
    val edgePx = Hough.edgePixels(ds, thresh = 90.0)
    val got = Ransac.fit(edgePx, binwidth = 40, orient = "col", residual = 1.0,
        exhaustiveMax = Int.MaxValue)
      .collect()
      .map(r => (r.getString(0), r.getInt(1)) ->
        (r.getInt(2), r.getInt(3), r.getInt(4), r.getInt(5), r.getLong(6))).toMap
    // naive: recompute from decoded pixels with fresh loops
    val naive = collection.mutable.Map.empty[(String, Int), (Int, Int, Int, Int, Long)]
    imgs.foreach { im =>
      val v = graft.core.PixelCodec.decode(im.bytes, im.fmt, im.w, im.h).bands(0)
      for (s <- 0 until (im.w + 39) / 40) {
        val pts = (for {
          y <- 0 until im.h; x <- 0 until im.w
          if x / 40 == s && v(y * im.w + x) > 90.0
        } yield (x, y)).sortBy(p => p._2 * im.w + p._1)
        var best: Option[(Long, Int, Int)] = None
        for (a <- pts.indices; b <- pts.indices if a < b
             if pts(a)._2 != pts(b)._2) {
          val (xa, ya) = pts(a); val (xb, yb) = pts(b)
          val cnt = pts.count { case (x, y) =>
            val cross = (xb - xa).toDouble * (y - ya) - (yb - ya).toDouble * (x - xa)
            cross * cross <= 1.0 * ((xb - xa).toDouble * (xb - xa) + (yb - ya).toDouble * (yb - ya))
          }.toLong
          if (best.forall(_._1 < cnt)) best = Some((cnt, a, b))
        }
        best.foreach { case (cnt, a, b) =>
          naive((im.image_id, s)) = (pts(a)._1, pts(a)._2, pts(b)._1, pts(b)._2, cnt)
        }
      }
    }
    assert(got == naive.toMap)
  }

  /** Independent naive replay of the whole iter_ransac loop — fresh
    * loops, no shared code with Ransac.iterFit. */
  private def naiveIter(pts0: Seq[(Int, Int)], noIter: Int,
                        r2: Double = 1.0, w: Int = Int.MaxValue,
                        h: Int = Int.MaxValue): Seq[(Int, Int, Int)] = {
    var pts = pts0.sortBy(p => (p._2, p._1))
    val out = collection.mutable.ArrayBuffer.empty[(Int, Int, Int)]
    var it = 0
    var go = true
    while (it < noIter && go && pts.length >= 2) {
      var best: Option[(Long, Int, Int)] = None
      for (a <- pts.indices; b <- pts.indices
           if a < b && pts(a)._2 != pts(b)._2) {
        val (xa, ya) = pts(a); val (xb, yb) = pts(b)
        val dx = (xb - xa).toDouble; val dy = (yb - ya).toDouble
        val cnt = pts.count { case (x, y) =>
          val cr = dx * (y - ya) - dy * (x - xa)
          cr * cr <= r2 * (dx * dx + dy * dy)
        }.toLong
        if (best.forall(_._1 < cnt)) best = Some((cnt, a, b))
      }
      best match {
        case None => go = false
        case Some((_, a, b)) =>
          val (xa, ya) = pts(a); val (xb, yb) = pts(b)
          val seen = collection.mutable.Set.empty[(Int, Int)]
          pts.foreach { case (_, y) =>
            // col mode: predict x from y, round half-up (ya < yb by ord)
            val pred = xa + Math.floorDiv(
              2L * (xb - xa) * (y - ya) + (yb - ya), 2L * (yb - ya)).toInt
            // same in-raster clamp as the engine (naive re-derivation)
            if (pred >= 0 && pred < w && y >= 0 && y < h &&
                seen.add((pred, y))) out += ((it, pred, y))
          }
          val dx = (xb - xa).toDouble; val dy = (yb - ya).toDouble
          val l2 = dx * dx + dy * dy
          pts = pts.filter { case (x, y) =>
            val cr = dx * (y - ya) - dy * (x - xa)
            cr * cr > r2 * l2
          }
      }
      it += 1
    }
    out.toSeq
  }

  test("iterFit on the two-line fixture: A then B, burns closed-form") {
    val n = 4
    val ds = spark.createDataset(GridImages.iterRanImages(n).toSeq)
    val got = Ransac.iterFit(Hough.edgePixels(ds, thresh = 50.0), noIter = 2)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getInt(2), r.getInt(3)))
      .groupBy(_._1)
    for (i <- 0 until n) {
      val pts = GridImages.iterRanPts(i.toLong)
      val a = GridImages.iterRanA(i.toLong); val b = GridImages.iterRanB(i.toLong)
      val rows1 = pts.map(_._2).distinct // all 18 points' rows
      val pts2 = pts.filterNot(_._1 == a) // A's inliers dropped
      val rows2 = pts2.map(_._2).distinct
      val want = (rows1.map(y => (f"g$i%03d", 0, a, y)) ++
        rows2.map(y => (f"g$i%03d", 1, b, y))).toSet
      assert(got(f"g$i%03d").toSet == want, s"image $i")
      // and the naive replay agrees move for move
      val naive = naiveIter(pts, noIter = 2)
        .map { case (it, x, y) => (f"g$i%03d", it, x, y) }.toSet
      assert(got(f"g$i%03d").toSet == naive, s"image $i naive")
    }
  }

  test("iterFit equals the naive replay on a pseudorandom cloud, 3 rounds") {
    val imgs = GridImages.images(2, bands = 1)
    val ds = spark.createDataset(imgs.toSeq)
    // sparse pseudorandom mask (~48 pts/image keeps the exhaustive path)
    val got = Ransac.iterFit(Hough.edgePixels(ds, thresh = 95.0), noIter = 3,
        exhaustiveMax = Int.MaxValue)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getInt(2), r.getInt(3)))
      .groupBy(_._1).map { case (k, v) => k -> v.map(t => (t._2, t._3, t._4)).toSet }
    imgs.foreach { im =>
      val v = graft.core.PixelCodec.decode(im.bytes, im.fmt, im.w, im.h).bands(0)
      val pts = for {
        y <- 0 until im.h; x <- 0 until im.w if v(y * im.w + x) > 95.0
      } yield (x, y)
      assert(got(im.image_id) ==
        naiveIter(pts, noIter = 3, w = im.w, h = im.h).toSet, im.image_id)
    }
  }

  test("iterLines (canny composition) runs the loop on real edges") {
    val ds = spark.createDataset(GridImages.edgeImages(2).toSeq)
    val rows = Ransac.iterLines(ds, noIter = 2, lowT = 20.0, highT = 40.0,
      sigma = 0.0, exhaustiveMax = 16, maxTrials = 400, seed = 7L)
    val c1 = rows.collect().map(r => (r.getString(0), r.getInt(1), r.getInt(2), r.getInt(3)))
    assert(c1.nonEmpty && c1.exists(_._2 == 1), "two rounds burned")
    val c2 = Ransac.iterLines(ds, noIter = 2, lowT = 20.0, highT = 40.0,
      sigma = 0.0, exhaustiveMax = 16, maxTrials = 400, seed = 7L)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getInt(2), r.getInt(3)))
    assert(c1.toSet == c2.toSet, "sampled path deterministic in the seed")
  }

  test("iterFit per-image point bound fails fast") {
    val ds = spark.createDataset(GridImages.iterRanImages(1).toSeq)
    val e = intercept[org.apache.spark.SparkException] {
      Ransac.iterFit(Hough.edgePixels(ds, thresh = 50.0), noIter = 1,
        maxPointsPerImage = 4).count()
    }
    def msg(x: Throwable): String =
      Option(x).map(t => t.getMessage + msg(t.getCause)).getOrElse("")
    assert(msg(e).contains("exceeds"))
  }

  test("out-of-raster burns are dropped (steep dominant line)") {
    // 3 points on a 20x20 raster; the row-major-first winning pair
    // (0,0)-(19,1) is steep in col mode: drive y=0 -> x=0, y=1 -> x=19
    // are in-raster, y=5 predicts x=95 — the reference's numpy burn
    // would IndexError there; the engine drops the pixel (spec-pinned
    // deliberate deviation)
    val px = Seq(("steep", 20, 20, 0, 0), ("steep", 20, 20, 19, 1),
        ("steep", 20, 20, 5, 5))
      .toDF("image_id", "w", "h", "x", "y")
    val got = Ransac.iterFit(px, noIter = 2)
      .collect().map(r => (r.getInt(1), r.getInt(2), r.getInt(3))).toSet
    assert(got == Set((0, 0, 0), (0, 19, 1)))

    // the strip-fit burn (`lines`) rides the same clamp, via a real image
    val bright = Set((0, 0), (19, 1), (5, 5))
    val band = Array.tabulate(20 * 20)(p =>
      if (bright((p % 20, p / 20))) 100f else 0f)
    val enc = graft.core.PixelCodec.encode(
      graft.core.PixelCodec.FmtRawLe, 20, 20, Array(band))
    val im = graft.ImageRow("steep", enc, 20, 20,
      graft.core.PixelCodec.FmtRawLe, "steep fixture", 0L, 0.0, 0.0, 1.0)
    val rows = Ransac.lines(spark.createDataset(Seq(im)), binwidth = 20,
        orient = "col", thresh = 50.0)
      .collect().map(r => (r.getInt(2), r.getInt(3))).toSet
    assert(rows == Set((0, 0), (19, 1)))
  }

  test("burn rounds half-up exactly beyond 2^53 (Long floor division)") {
    // col mode: d_drive = yb - ya = 1073741825, d_cross = xb - xa =
    // 97612893, drive offset y - ya = 268435459, so num = d_cross * 268435459
    // ~ 2.9 * 2^53 and (2*num + den) / (2*den) = 24403224 - 1/(2*den):
    // the exact half-up is 24403223; through a double it rounds to 24403224
    val px = Seq(("big", 1 << 26, 1 << 29, 0, 268435459)).toDF("image_id", "w", "h", "x", "y")
    val models = Seq(("big", 0, 0, 0, 97612893, 1073741825, 2L))
      .toDF("image_id", "strip", "xa", "ya", "xb", "yb", "inliers")
    val got = Ransac.burnPredictions(px, models, binwidth = 40, colMode = true)
      .collect().map(r => (r.getInt(2), r.getInt(3))).toSeq
    assert(got == Seq((24403223, 268435459)))
    // row mode with a negative drive direction: the line through (10, 5)
    // and (4, 8) at x = 13 is y = 3.5, half-up 4; at x = 7 it is 6.5 -> 7
    val rpx = Seq(("neg", 20, 20, 13, 5), ("neg", 20, 20, 7, 5))
      .toDF("image_id", "w", "h", "x", "y")
    val rmodels = Seq(("neg", 0, 10, 5, 4, 8, 2L))
      .toDF("image_id", "strip", "xa", "ya", "xb", "yb", "inliers")
    val rgot = Ransac.burnPredictions(rpx, rmodels, binwidth = 40, colMode = false)
      .collect().map(r => (r.getInt(2), r.getInt(3))).toSet
    assert(rgot == Set((13, 4), (7, 7)))
  }

  test("sampled path (n > exhaustiveMax) is deterministic in the seed") {
    val ds = spark.createDataset(GridImages.images(2, bands = 1).toSeq)
    val edgePx = Hough.edgePixels(ds, thresh = 40.0) // dense: > 64 pts/strip
    def run() = Ransac.fit(edgePx, binwidth = 40, exhaustiveMax = 16,
      maxTrials = 500, seed = 7L).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getInt(2), r.getInt(3),
        r.getInt(4), r.getInt(5), r.getLong(6))).toSet
    assert(run() == run())
  }
}
