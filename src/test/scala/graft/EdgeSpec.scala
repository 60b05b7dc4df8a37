package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import graft.core.PixelCodec
import graft.gen.GridImages
import graft.operators.Edge

/** Canny edge detection: the engine kernel vs (a) the closed-form edge
  * set of the step fixture (the q_canny oracle's derivation) and (b) an
  * independently-written naive implementation (dense loops, sweep-based
  * hysteresis instead of BFS) on pseudorandom content, with and without
  * Gaussian smoothing. */
class EdgeSpec extends AnyFunSuite {
  implicit lazy val spark: SparkSession = SparkTestSession.spark
  import spark.implicits._

  /** Independent reference: same documented semantics, different code
    * shape (no shared helpers; hysteresis by iterate-to-fixpoint sweeps). */
  private def naiveCanny(v: Array[Float], w: Int, h: Int, sigma: Double,
                         lo: Double, hi: Double): Array[Float] = {
    // blur: the DOCUMENTED semantics (separable, replicate padding,
    // horizontal then vertical, weights left-to-right) — the arithmetic
    // grouping must match the doc or ulp noise flips NMS plateau ties;
    // the logic under cross-check (NMS + hysteresis) stays independent
    val img = new Array[Double](w * h)
    if (sigma <= 0) {
      for (p <- v.indices) img(p) = v(p)
    } else {
      val r = math.max(1, math.ceil(4.0 * sigma).toInt)
      val k1 = (-r to r).map(d => math.exp(-d * d / (2 * sigma * sigma))).toArray
      val k1n = k1.map(_ / k1.sum)
      val tmp = new Array[Double](w * h)
      for (y <- 0 until h; x <- 0 until w)
        tmp(y * w + x) = (-r to r).foldLeft(0.0) { (acc, j) =>
          acc + k1n(j + r) * v(y * w + math.max(0, math.min(w - 1, x + j)))
        }
      for (y <- 0 until h; x <- 0 until w)
        img(y * w + x) = (-r to r).foldLeft(0.0) { (acc, j) =>
          acc + k1n(j + r) * tmp(math.max(0, math.min(h - 1, y + j)) * w + x)
        }
    }
    def at(x: Int, y: Int) =
      img(math.max(0, math.min(h - 1, y)) * w + math.max(0, math.min(w - 1, x)))
    val gx = Array.tabulate(w * h) { p =>
      val x = p % w; val y = p / w
      (at(x + 1, y - 1) + 2 * at(x + 1, y) + at(x + 1, y + 1)) -
        (at(x - 1, y - 1) + 2 * at(x - 1, y) + at(x - 1, y + 1))
    }
    val gy = Array.tabulate(w * h) { p =>
      val x = p % w; val y = p / w
      (at(x - 1, y + 1) + 2 * at(x, y + 1) + at(x + 1, y + 1)) -
        (at(x - 1, y - 1) + 2 * at(x, y - 1) + at(x + 1, y - 1))
    }
    val mag = Array.tabulate(w * h)(p => math.sqrt(gx(p) * gx(p) + gy(p) * gy(p)))
    def mg(x: Int, y: Int) =
      if (x < 0 || x >= w || y < 0 || y >= h) 0.0 else mag(y * w + x)
    val t = math.tan(math.Pi / 8)
    val cls = Array.tabulate(w * h) { p =>
      val x = p % w; val y = p / w
      if (mag(p) < lo) 0
      else {
        val ax = math.abs(gx(p)); val ay = math.abs(gy(p))
        val ok =
          if (ay <= ax * t) mag(p) >= mg(x - 1, y) && mag(p) >= mg(x + 1, y)
          else if (ax <= ay * t) mag(p) >= mg(x, y - 1) && mag(p) >= mg(x, y + 1)
          else if (gx(p) * gy(p) > 0)
            mag(p) >= mg(x - 1, y - 1) && mag(p) >= mg(x + 1, y + 1)
          else mag(p) >= mg(x + 1, y - 1) && mag(p) >= mg(x - 1, y + 1)
        if (!ok) 0 else if (mag(p) >= hi) 2 else 1
      }
    }
    val keep = cls.map(_ == 2)
    var changed = true
    while (changed) {
      changed = false
      for (y <- 0 until h; x <- 0 until w; if cls(y * w + x) == 1 && !keep(y * w + x)) {
        var any = false
        for (dy <- -1 to 1; dx <- -1 to 1
             if dx != 0 || dy != 0
             if x + dx >= 0 && x + dx < w && y + dy >= 0 && y + dy < h)
          any ||= keep((y + dy) * w + (x + dx))
        if (any) { keep(y * w + x) = true; changed = true }
      }
    }
    keep.map(b => if (b) 1f else 0f)
  }

  private def decode(im: ImageRow): Array[Float] =
    PixelCodec.decode(im.bytes, im.fmt, im.w, im.h).bands(0)

  test("canny on the step fixture equals the closed-form edge set") {
    val n = 6
    val ds = spark.createDataset(GridImages.edgeImages(n).toSeq)
    val out = Edge.canny(ds, lowT = 20, highT = 40, sigma = 0).collect()
      .map(im => im.image_id -> decode(im)).toMap
    for (i <- 0 until n) {
      val c1 = GridImages.edgeC1(i); val c3 = GridImages.edgeC3(i)
      val k = GridImages.edgeK(i)
      val expect = collection.mutable.Set[(Int, Int)]()
      for (y <- 0 until GridImages.H) {
        expect += ((c1 - 1, y)); expect += ((c1, y)); expect += ((c3, y))
        if (y != k - 1 && y != k) expect += ((c3 - 1, y))
      }
      for (x <- c3 + 1 until GridImages.W) { expect += ((x, k - 1)); expect += ((x, k)) }
      val got = out(f"g$i%03d").zipWithIndex.collect {
        case (v, p) if v > 0 => (p % GridImages.W, p / GridImages.W)
      }.toSet
      assert(got == expect.toSet, s"edge set mismatch for image $i")
    }
  }

  test("canny equals the naive implementation on pseudorandom content") {
    val imgs = GridImages.images(4, bands = 1)
    val ds = spark.createDataset(imgs.toSeq)
    for (sigma <- Seq(0.0, 1.5)) {
      val out = Edge.canny(ds, lowT = 30, highT = 80, sigma = sigma).collect()
        .map(im => im.image_id -> decode(im)).toMap
      imgs.foreach { src =>
        val exp = naiveCanny(decode(src), src.w, src.h, sigma, 30, 80)
        assert(out(src.image_id).sameElements(exp),
          s"canny mismatch for ${src.image_id} at sigma=$sigma")
      }
    }
  }

  test("gaussian blur: constant image is a fixpoint; kernel normalized") {
    val flat = Array.fill(40 * 20)(7f)
    val b = Edge.gaussianBlur(flat, 40, 20, sigma = 2.0)
    assert(b.forall(x => math.abs(x - 7.0) < 1e-9))
  }

  /** The distributed path must equal the whole-image kernel pixel-for-
    * pixel: finite support makes the tiled cls map exact, and CC-based
    * hysteresis is set-equal to the BFS flood fill. */
  private def tiledEqualsWhole(images: Seq[graft.ImageRow], tileSize: Int,
                               halo: Int, lowT: Double, highT: Double,
                               sigma: Double): Unit = {
    import graft.operators.Tiler
    val ds = spark.createDataset(images)(
      org.apache.spark.sql.Encoders.product[graft.ImageRow])
    val tiles = Tiler.multiTiles(ds, tileSize,
      Tiler.resForCellSize(64.0), halo = halo)
    val got = Edge.cannyTiles(tiles, tileSize, halo, lowT, highT, sigma)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getInt(2))).toSet
    val want = images.flatMap { im =>
      val pix = PixelCodec.decode(im.bytes, im.fmt, im.w, im.h).bands(0)
      val mask = Edge.cannyMask(pix, im.w, im.h, sigma, lowT, highT)
      mask.iterator.zipWithIndex.collect {
        case (v, p) if v > 0 => (im.image_id, p % im.w, p / im.w)
      }
    }.toSet
    assert(want.nonEmpty, "fixture produced no edges — vacuous parity")
    assert(got == want,
      s"tiled != whole: missing ${(want -- got).take(5)}, extra ${(got -- want).take(5)}")
  }

  test("cannyTiles == whole-image canny on the multi-tile step fixture (sigma=0)") {
    tiledEqualsWhole(GridImages.edgeImages(4), tileSize = 32, halo = 4,
      lowT = 20, highT = 40, sigma = 0.0)
  }

  test("cannyTiles == whole-image canny with a blurred kernel (sigma=1.4, halo=r+2)") {
    val imgs = (0 until 3).map { i =>
      val b0 = Array.tabulate(GridImages.W * GridImages.H) { p =>
        GridImages.value(i.toLong, 0, p % GridImages.W, p / GridImages.W)
      }
      graft.operators.ImageOps.fromArray(f"g$i%03d", Array(b0),
        GridImages.W, GridImages.H, 0, GridImages.H, 1.0, PixelCodec.FmtRawLe)
    }
    val halo = Edge.gaussianRadius(1.4) + 2
    tiledEqualsWhole(imgs, tileSize = 32, halo = halo,
      lowT = 15, highT = 35, sigma = 1.4)
  }

  test("cannyTiles on the multi-tile step fixture stays within its job count") {
    import graft.operators.Tiler
    val ds = spark.createDataset(GridImages.edgeImages(4))(
      org.apache.spark.sql.Encoders.product[graft.ImageRow])
    val tiles = Tiler.multiTiles(ds, 32, Tiler.resForCellSize(64.0), halo = 4)
    val (kept, jobs) = SparkJobs.during(spark)(
      Edge.cannyTiles(tiles, 32, halo = 4, lowT = 20, highT = 40).collect())
    assert(kept.nonEmpty)
    // 4 measured with the driver-side CC finish: this fixture's label
    // graph has no cross-partition edge, so the finish skips its collect
    assert(jobs <= 4, s"cannyTiles launched $jobs jobs")
  }

  test("cannyTiles fails fast on a halo smaller than the kernel support") {
    import graft.operators.Tiler
    val ds = spark.createDataset(GridImages.edgeImages(1))(
      org.apache.spark.sql.Encoders.product[graft.ImageRow])
    val tiles = Tiler.multiTiles(ds, 32, Tiler.resForCellSize(64.0), halo = 1)
    assertThrows[IllegalArgumentException] {
      Edge.cannyTiles(tiles, 32, halo = 1, lowT = 20, highT = 40)
    }
  }
}
