package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.{ImageRow, PolyRow}
import graft.core.PixelCodec

/**
 * Morphological active contours — the reference's `ms_snake`
 * (/root/reference/geospatial_learn/shape.py:2016-2244): per polygon,
 * clip the raster to the buffered bbox, rasterize the polygon as the
 * init level set (optionally grown/shrunk via an exact Euclidean
 * distance transform, `buf2`), evolve with morphological Chan-Vese
 * (ACWE, the reference default) or morphological geodesic active
 * contours (GAC), and emit the final segment pixels.
 *
 * The evolution rules are the public morphsnakes algorithm (Marquez-Neila
 * et al., PAMI 2014), iteration-exact:
 *  - ACWE: per iteration compute inside/outside means c1/c0, flip
 *    contour pixels (|np.gradient(u)| > 0 with central differences,
 *    one-sided at borders) by the sign of
 *    lambda1*(I-c1)^2 - lambda2*(I-c0)^2, then apply the curvature
 *    operator `smoothing` times
 *  - GAC: per iteration balloon dilation/erosion (full 3x3) gated on
 *    gimg > threshold/|balloon|, attachment flips by the sign of
 *    grad(u) . grad(gimg), then smoothing; gimg is the inverse Gaussian
 *    gradient 1/sqrt(1 + alpha*|grad(G_sigma * I)|)
 *  - curvature operator: alternating SI.IS / IS.SI passes built from
 *    erosions/dilations along the four 3-px line elements; the
 *    alternation counter starts at SI.IS per operator call
 * Morphology treats out-of-bounds as 0 (scipy border_value=0).
 *
 * Spark shape: polygons are a bounded broadcast layer
 * ([[PolyLayer.collect]]); images are the distributed axis — each image
 * decodes once in a flatMap and runs the bounded window kernel of every
 * polygon whose buffered bbox meets it ([[PolyLayer.perImage]])
 * locally. Nothing shuffles but the emitted segment
 * pixels (or their aggregates); at 10^12 images the job is a pure map
 * over the image table.
 */
object Snakes {

  // four 3-px line structuring elements (dx, dy): horizontal, vertical,
  // main diagonal, anti-diagonal
  private val Lines: Array[Array[(Int, Int)]] = Array(
    Array((-1, 0), (0, 0), (1, 0)),
    Array((0, -1), (0, 0), (0, 1)),
    Array((-1, -1), (0, 0), (1, 1)),
    Array((1, -1), (0, 0), (-1, 1)))

  // 3x3 box structuring element (dx, dy): the GAC balloon step
  private val Box: Array[(Int, Int)] =
    (for (dy <- -1 to 1; dx <- -1 to 1) yield (dx, dy)).toArray

  private def erodeLine(u: Array[Byte], w: Int, h: Int,
                        se: Array[(Int, Int)], out: Array[Byte]): Unit = {
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        var v: Byte = 1
        var k = 0
        while (k < se.length && v == 1) {
          val xx = x + se(k)._1; val yy = y + se(k)._2
          if (xx < 0 || xx >= w || yy < 0 || yy >= h || u(yy * w + xx) == 0) v = 0
          k += 1
        }
        out(y * w + x) = v
        x += 1
      }
      y += 1
    }
  }

  private def dilateLine(u: Array[Byte], w: Int, h: Int,
                         se: Array[(Int, Int)], out: Array[Byte]): Unit = {
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        var v: Byte = 0
        var k = 0
        while (k < se.length && v == 0) {
          val xx = x + se(k)._1; val yy = y + se(k)._2
          if (xx >= 0 && xx < w && yy >= 0 && yy < h && u(yy * w + xx) == 1) v = 1
          k += 1
        }
        out(y * w + x) = v
        x += 1
      }
      y += 1
    }
  }

  /** sup_inf: max over the four line erosions. */
  private[operators] def supInf(u: Array[Byte], w: Int, h: Int): Array[Byte] = {
    val acc = new Array[Byte](u.length)
    val tmp = new Array[Byte](u.length)
    var i = 0
    while (i < Lines.length) {
      erodeLine(u, w, h, Lines(i), tmp)
      var p = 0
      while (p < acc.length) { if (tmp(p) == 1) acc(p) = 1; p += 1 }
      i += 1
    }
    acc
  }

  /** inf_sup: min over the four line dilations. */
  private[operators] def infSup(u: Array[Byte], w: Int, h: Int): Array[Byte] = {
    val acc = Array.fill[Byte](u.length)(1)
    val tmp = new Array[Byte](u.length)
    var i = 0
    while (i < Lines.length) {
      dilateLine(u, w, h, Lines(i), tmp)
      var p = 0
      while (p < acc.length) { if (tmp(p) == 0) acc(p) = 0; p += 1 }
      i += 1
    }
    acc
  }

  /** One curvature pass: even calls SI.IS, odd calls IS.SI. */
  private def curvop(u: Array[Byte], w: Int, h: Int, call: Int): Array[Byte] =
    if (call % 2 == 0) supInf(infSup(u, w, h), w, h)
    else infSup(supInf(u, w, h), w, h)

  /** np.gradient central-difference (one-sided at borders) along x and
    * y for a byte grid; writes gx/gy in half-units (gradient*2 to stay
    * integral). */
  private def grad2(u: Array[Byte], w: Int, h: Int,
                    gx2: Array[Int], gy2: Array[Int]): Unit = {
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val p = y * w + x
        gx2(p) =
          if (w == 1) 0
          else if (x == 0) 2 * (u(p + 1) - u(p))
          else if (x == w - 1) 2 * (u(p) - u(p - 1))
          else u(p + 1) - u(p - 1)
        gy2(p) =
          if (h == 1) 0
          else if (y == 0) 2 * (u(p + w) - u(p))
          else if (y == h - 1) 2 * (u(p) - u(p - w))
          else u(p + w) - u(p - w)
        x += 1
      }
      y += 1
    }
  }

  /** Morphological Chan-Vese on one window. `init` is mutated-free:
    * returns the final level set. */
  def acwe(img: Array[Float], w: Int, h: Int, init: Array[Byte],
           iterations: Int, smoothing: Int = 1,
           lambda1: Double = 1.0, lambda2: Double = 1.0): Array[Byte] = {
    require(img.length == w * h && init.length == w * h)
    var u = init.clone()
    val gx2 = new Array[Int](u.length); val gy2 = new Array[Int](u.length)
    var call = 0
    var it = 0
    while (it < iterations) {
      // region means (morphsnakes adds 1e-8 to the denominators)
      var s1 = 0.0; var n1 = 0L; var s0 = 0.0; var n0 = 0L
      var p = 0
      while (p < u.length) {
        if (u(p) == 1) { s1 += img(p); n1 += 1 } else { s0 += img(p); n0 += 1 }
        p += 1
      }
      val c1 = s1 / (n1 + 1e-8); val c0 = s0 / (n0 + 1e-8)
      grad2(u, w, h, gx2, gy2)
      val next = u.clone()
      p = 0
      while (p < u.length) {
        if (gx2(p) != 0 || gy2(p) != 0) {
          val d1 = img(p) - c1; val d0 = img(p) - c0
          val aux = lambda1 * d1 * d1 - lambda2 * d0 * d0
          if (aux < 0) next(p) = 1 else if (aux > 0) next(p) = 0
        }
        p += 1
      }
      u = next
      var s = 0
      while (s < smoothing) { u = curvop(u, w, h, call); call += 1; s += 1 }
      it += 1
    }
    u
  }

  /** np.gradient of a float grid (actual values, not the mask). */
  private def gradF(g: Array[Float], w: Int, h: Int,
                    gx: Array[Double], gy: Array[Double]): Unit = {
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val p = y * w + x
        gx(p) =
          if (w == 1) 0.0
          else if (x == 0) g(p + 1) - g(p).toDouble
          else if (x == w - 1) g(p) - g(p - 1).toDouble
          else (g(p + 1) - g(p - 1).toDouble) / 2.0
        gy(p) =
          if (h == 1) 0.0
          else if (y == 0) g(p + w) - g(p).toDouble
          else if (y == h - 1) g(p) - g(p - w).toDouble
          else (g(p + w) - g(p - w).toDouble) / 2.0
        x += 1
      }
      y += 1
    }
  }

  /** Morphological GAC on one window over a precomputed speed image
    * `gimg`. `threshold` is absolute (the caller resolves 'auto'). */
  def gac(gimg: Array[Float], w: Int, h: Int, init: Array[Byte],
          iterations: Int, smoothing: Int = 1, threshold: Double = 0.0,
          balloon: Int = 0): Array[Byte] = {
    require(gimg.length == w * h && init.length == w * h)
    var u = init.clone()
    val dgx = new Array[Double](u.length); val dgy = new Array[Double](u.length)
    gradF(gimg, w, h, dgx, dgy)
    val gx2 = new Array[Int](u.length); val gy2 = new Array[Int](u.length)
    val balloonThresh = if (balloon != 0) threshold / math.abs(balloon) else 0.0
    val pushed = new Array[Byte](u.length) // u after one balloon step
    var call = 0
    var it = 0
    while (it < iterations) {
      if (balloon != 0) {
        if (balloon > 0) dilateLine(u, w, h, Box, pushed)
        else erodeLine(u, w, h, Box, pushed)
        var p = 0
        while (p < u.length) {
          if (gimg(p) > balloonThresh) u(p) = pushed(p)
          p += 1
        }
      }
      grad2(u, w, h, gx2, gy2)
      val next = u.clone()
      var p = 0
      while (p < u.length) {
        // du . dgimg, with du in half-units (factor 2 cancels for sign)
        val aux = dgx(p) * gx2(p) + dgy(p) * gy2(p)
        if (aux > 0) next(p) = 1 else if (aux < 0) next(p) = 0
        p += 1
      }
      u = next
      var s = 0
      while (s < smoothing) { u = curvop(u, w, h, call); call += 1; s += 1 }
      it += 1
    }
    u
  }

  /** scipy gaussian_filter1d kernel (order 0 or 1), truncate=4.0. */
  private[operators] def gaussKernel(sigma: Double, order: Int): Array[Double] = {
    val radius = (4.0 * sigma + 0.5).toInt
    val phi = Array.tabulate(2 * radius + 1) { i =>
      val x = (i - radius).toDouble
      math.exp(-0.5 / (sigma * sigma) * x * x)
    }
    val s = phi.sum
    var i = 0
    while (i < phi.length) { phi(i) /= s; i += 1 }
    if (order == 0) phi
    else Array.tabulate(phi.length) { i =>
      val x = (i - radius).toDouble
      phi(i) * (-x / (sigma * sigma))
    }
  }

  /** morphsnakes inverse_gaussian_gradient:
    * 1/sqrt(1 + alpha * gaussian_gradient_magnitude(I, sigma)),
    * nearest-edge padding, truncate 4.0. */
  def inverseGaussianGradient(img: Array[Float], w: Int, h: Int,
                              alpha: Double = 100.0,
                              sigma: Double = 5.0): Array[Float] = {
    val d = img.map(_.toDouble)
    val g0 = gaussKernel(sigma, 0); val g1 = gaussKernel(sigma, 1)
    // scipy correlates with the kernel as produced (no flip on the
    // symmetric order-0; the antisymmetric order-1 kernel is applied as
    // a correlation, matching gaussian_filter1d's convention)
    val dx = Edge.sepFilter(d, w, h, g1, g0)
    val dy = Edge.sepFilter(d, w, h, g0, g1)
    Array.tabulate(img.length) { p =>
      (1.0 / math.sqrt(1.0 + alpha * math.sqrt(dx(p) * dx(p) + dy(p) * dy(p)))).toFloat
    }
  }

  /** numpy-style linear-interpolation percentile (GAC threshold='auto'
    * is the 40th percentile of gimg). */
  def percentile(v: Array[Float], q: Double): Double = {
    val s = v.clone(); java.util.Arrays.sort(s)
    val pos = q / 100.0 * (s.length - 1)
    val lo = pos.toInt; val hi = math.min(s.length - 1, lo + 1)
    s(lo) + (pos - lo) * (s(hi).toDouble - s(lo))
  }

  /** Exact squared Euclidean distance transform (Felzenszwalb &
    * Huttenlocher 2004): for each pixel, squared distance to the
    * nearest ZERO pixel (scipy distance_transform_edt convention,
    * squared). All-nonzero input yields Long.MaxValue sentinels. */
  def edtSq(mask: Array[Byte], w: Int, h: Int): Array[Long] = {
    val INF = Long.MaxValue / 4
    val d = new Array[Long](w * h)
    // column pass: run length since the nearest zero in the same column
    var x = 0
    while (x < w) {
      var run = -1  // -1 = no zero seen yet
      var y = 0
      while (y < h) {   // top-down
        if (mask(y * w + x) == 0) run = 0 else if (run >= 0) run += 1
        d(y * w + x) = if (run < 0) INF else run.toLong * run
        y += 1
      }
      run = -1
      y = h - 1
      while (y >= 0) {  // bottom-up
        if (mask(y * w + x) == 0) run = 0 else if (run >= 0) run += 1
        if (run >= 0) {
          val dd = run.toLong * run
          if (dd < d(y * w + x)) d(y * w + x) = dd
        }
        y -= 1
      }
      x += 1
    }
    // row pass: lower envelope of parabolas d(q) + (x-q)^2
    val out = new Array[Long](w * h)
    val v = new Array[Int](w); val z = new Array[Double](w + 1)
    var y = 0
    while (y < h) {
      var k = 0
      v(0) = 0; z(0) = Double.NegativeInfinity; z(1) = Double.PositiveInfinity
      var q = 1
      while (q < w) {
        val fq = d(y * w + q).toDouble
        var s = 0.0
        var continue = true
        while (continue) {
          val p = v(k)
          val fp = d(y * w + p).toDouble
          s = (fq + q.toDouble * q - fp - p.toDouble * p) / (2.0 * (q - p))
          if (s <= z(k) && k > 0) k -= 1 else continue = false
        }
        k += 1
        v(k) = q; z(k) = s; z(k + 1) = Double.PositiveInfinity
        q += 1
      }
      k = 0
      q = 0
      while (q < w) {
        while (z(k + 1) < q) k += 1
        val p = v(k)
        val dq = (q - p).toLong
        out(y * w + q) = math.min(INF, d(y * w + p) + dq * dq)
        q += 1
      }
      y += 1
    }
    out
  }

  /** do_ac (utilities.py:296-395): threshold-initialised active contour
    * over whole images. The reference's gray path inits the level set
    * with `img < thresh` (utilities.py:371; the band argument stands in
    * for its rgb2gray — callers pick the intensity band), evolves with
    * morphological Chan-Vese, polygonizes the final mask with the mask
    * as its own mask (polygonize's mask=True default, raster.py:1526 —
    * zero regions never emit) and drops small polygons by AREA
    * (gdf.Area > area_thresh, utilities.py:390-392). `threshOnly`
    * skips the contour evolution, as in the reference.
    *
    * Scale shape: a per-image bounded kernel inside one flatMap — the
    * decode, evolution, labeling and boundary trace all stay local and
    * only polygon rows come out; zero shuffle at any image count. */
  def doAc(images: Dataset[ImageRow], thresh: Double, iterations: Int = 10,
           smoothing: Int = 1, lambda1: Double = 1.0, lambda2: Double = 1.0,
           areaThresh: Double = 4.0, band: Int = 0,
           threshOnly: Boolean = false)
          (implicit spark: SparkSession): Dataset[Polygonize.RegionRow] = {
    import spark.implicits._
    images.flatMap { im =>
      val pix = PixelCodec.decode(im.bytes, im.fmt, im.w, im.h).bands(band)
      val init = pix.map(v => (if (v < thresh) 1 else 0).toByte)
      val fin =
        if (threshOnly) init
        else acwe(pix, im.w, im.h, init, iterations, smoothing, lambda1, lambda2)
      val mask = new Array[Float](fin.length)
      var p = 0
      while (p < fin.length) { mask(p) = fin(p).toFloat; p += 1 }
      Polygonize.regions(im, band, mask).filter(r =>
        r.value == 1f && r.pixel_count * im.px * im.px > areaThresh)
    }
  }

  /** Segment pixels of ms_snake over an image table: one output row per
    * final-level-set pixel, (image_id, poly_id, x, y). `threshold` NaN
    * means GAC 'auto' (40th percentile of the window's gimg). Overlap
    * composition (the reference's label+1 overwrite) is relational:
    * groupBy(image_id, x, y).agg(max(poly_id)). */
  def msSnake(images: Dataset[ImageRow], polys: Dataset[PolyRow],
              band: Int = 0, algo: String = "ACWE",
              buf1: Double = 0.0, buf2: Double = 0.0,
              iterations: Int = 200, smoothing: Int = 1,
              lambda1: Double = 1.0, lambda2: Double = 1.0,
              threshold: Double = Double.NaN, balloon: Int = -1,
              alpha: Double = 100.0, sigma: Double = 5.0)
             (implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    require(algo == "ACWE" || algo == "GAC", s"algo: $algo")
    // window = buffered bbox in pixel indices, clamped (the reference
    // clamps negative offsets the same way)
    PolyLayer.perImage(images, polys, buf1, band) {
      case (im, pix, part, PolyLayer.ImageWindow(cx0, cy0, ww, wh)) =>
        val win = new Array[Float](ww * wh)
        val init = new Array[Byte](ww * wh)
        var r = 0
        while (r < wh) {
          var c = 0
          while (c < ww) {
            val gx = cx0 + c; val gy = cy0 + r
            win(r * ww + c) = pix(gy * im.w + gx)
            val wx = im.x_min + (gx + 0.5) * im.px
            val wy = im.y_max - (gy + 0.5) * im.px
            if (part.poly.contains(wx, wy)) init(r * ww + c) = 1
            c += 1
          }
          r += 1
        }
        if (buf2 != 0) {
          // reference: EDT in map units, then grow (buf2>0, distance
          // from the outside to the poly <= buf2) or shrink (buf2<0,
          // distance inside the poly >= |buf2|)
          val src =
            if (buf2 < 0) init
            else init.map(b => (1 - b).toByte)
          val dsq = edtSq(src, ww, wh)
          val lim = (buf2 / im.px) * (buf2 / im.px)
          var p = 0
          while (p < init.length) {
            init(p) =
              if (buf2 > 0) { if (dsq(p) <= lim) 1 else 0 }
              else { if (dsq(p) >= lim) 1 else 0 }
            p += 1
          }
        }
        val fin =
          if (algo == "ACWE")
            acwe(win, ww, wh, init, iterations, smoothing, lambda1, lambda2)
          else {
            val gimg = inverseGaussianGradient(win, ww, wh, alpha, sigma)
            val th =
              if (threshold.isNaN) percentile(gimg, 40.0) else threshold
            gac(gimg, ww, wh, init, iterations, smoothing, th, balloon)
          }
        val out = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Int, Int)]
        var p = 0
        while (p < fin.length) {
          if (fin(p) == 1)
            out += ((im.image_id, part.polyId, cx0 + p % ww, cy0 + p / ww))
          p += 1
        }
        out.iterator
    }.toDF("image_id", "poly_id", "x", "y")
  }
}
