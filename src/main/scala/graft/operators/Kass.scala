package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import graft.{ImageRow, PolyRow}

/**
 * Parametric (Kass) active contour — the reference's `snake`
 * (/root/reference/geospatial_learn/shape.py:1734-1990), which wraps
 * skimage `active_contour`. The update loop is skimage's, step-exact:
 * build the internal-energy matrix M = -alpha*A + beta*B (second/fourth
 * difference circulants), apply boundary-condition row edits
 * (periodic / fixed / free), precompute inv(M + gamma*I), then iterate
 *   xn = inv * (gamma*x + fx);  x += max_px_move * tanh(xn - x)
 * with fixed endpoints pinned and free endpoints' forces doubled.
 *
 * Deviations (documented):
 *  - image force: skimage samples a quadratic RectBivariateSpline of
 *    w_line*img + w_edge*sobel(img); this engine samples BILINEARLY
 *    interpolated central-difference gradients of the same energy
 *    image (FITPACK spline parity is out of scope). With
 *    w_line = w_edge = 0 the force is identically zero and the
 *    evolution is interpolation-independent — the q_kass oracle runs
 *    in that regime, replaying every iteration relationally (a 4-point
 *    periodic snake's circulant inverse has a closed 4-point-DFT form).
 *  - init: the reference feeds the FILLED rasterized polygon's pixels
 *    in scan order (its own comment calls the function "deeply
 *    flawed", shape.py:1954); this engine initializes from the polygon
 *    ring resampled to nPoints along its perimeter (nPoints = 0 keeps
 *    the vertices as-is).
 *
 * Spark shape: same as Snakes.msSnake — bounded broadcast polygons
 * ([[PolyLayer.collect]], windows from [[PolyLayer.perImage]]), images
 * the distributed axis, per-pair local iteration, no shuffle before the
 * output.
 */
object Kass {

  /** Dense inverse via Gauss-Jordan with partial pivoting. */
  private[graft] def invert(m: Array[Array[Double]]): Array[Array[Double]] = {
    val n = m.length
    val a = m.map(_.clone())
    val inv = Array.tabulate(n, n)((i, j) => if (i == j) 1.0 else 0.0)
    var col = 0
    while (col < n) {
      var piv = col
      var r = col + 1
      while (r < n) { if (math.abs(a(r)(col)) > math.abs(a(piv)(col))) piv = r; r += 1 }
      require(a(piv)(col) != 0.0, "singular snake matrix")
      if (piv != col) { val t = a(piv); a(piv) = a(col); a(col) = t
        val ti = inv(piv); inv(piv) = inv(col); inv(col) = ti }
      val d = a(col)(col)
      var j = 0
      while (j < n) { a(col)(j) /= d; inv(col)(j) /= d; j += 1 }
      r = 0
      while (r < n) {
        if (r != col && a(r)(col) != 0.0) {
          val f = a(r)(col)
          j = 0
          while (j < n) { a(r)(j) -= f * a(col)(j); inv(r)(j) -= f * inv(col)(j); j += 1 }
        }
        r += 1
      }
      col += 1
    }
    inv
  }

  /** skimage's A_matrix with boundary-condition row edits. */
  private[graft] def energyMatrix(n: Int, alpha: Double, beta: Double,
                                      bc: String): Array[Array[Double]] = {
    require(n >= 4, s"snake needs >= 4 points, got $n")
    val m = Array.ofDim[Double](n, n)
    def mod(i: Int) = ((i % n) + n) % n
    var i = 0
    while (i < n) {
      // -alpha * (second difference) + beta * (fourth difference)
      m(i)(mod(i - 1)) += -alpha * 1; m(i)(i) += -alpha * -2; m(i)(mod(i + 1)) += -alpha * 1
      m(i)(mod(i - 2)) += beta * 1; m(i)(mod(i - 1)) += beta * -4
      m(i)(i) += beta * 6
      m(i)(mod(i + 1)) += beta * -4; m(i)(mod(i + 2)) += beta * 1
      i += 1
    }
    if (bc.startsWith("fixed")) {
      java.util.Arrays.fill(m(0), 0.0); java.util.Arrays.fill(m(1), 0.0)
      m(1)(0) = 1; m(1)(1) = -2; m(1)(2) = 1
    }
    if (bc.endsWith("fixed")) {
      java.util.Arrays.fill(m(n - 1), 0.0); java.util.Arrays.fill(m(n - 2), 0.0)
      m(n - 2)(n - 3) = 1; m(n - 2)(n - 2) = -2; m(n - 2)(n - 1) = 1
    }
    if (bc.startsWith("free")) {
      java.util.Arrays.fill(m(0), 0.0)
      m(0)(0) = 1; m(0)(1) = -2; m(0)(2) = 1
      java.util.Arrays.fill(m(1), 0.0)
      m(1)(0) = -1; m(1)(1) = 3; m(1)(2) = -3; m(1)(3) = 1
    }
    if (bc.endsWith("free")) {
      java.util.Arrays.fill(m(n - 1), 0.0)
      m(n - 1)(n - 3) = 1; m(n - 1)(n - 2) = -2; m(n - 1)(n - 1) = 1
      java.util.Arrays.fill(m(n - 2), 0.0)
      m(n - 2)(n - 4) = -1; m(n - 2)(n - 3) = 3; m(n - 2)(n - 2) = -3; m(n - 2)(n - 1) = 1
    }
    m
  }

  /** Bilinear sample of a grid at a continuous (row, col); coordinates
    * are clamped to the grid (out-of-image snakes see edge values). */
  private def bilinear(g: Array[Double], w: Int, h: Int, r: Double, c: Double): Double = {
    val rr = math.min(math.max(r, 0.0), (h - 1).toDouble)
    val cc = math.min(math.max(c, 0.0), (w - 1).toDouble)
    val r0 = math.min(h - 2, math.max(0, rr.toInt)); val c0 = math.min(w - 2, math.max(0, cc.toInt))
    val fr = rr - r0; val fc = cc - c0
    if (w == 1 && h == 1) g(0)
    else if (w == 1) g(r0) * (1 - fr) + g(r0 + 1) * fr
    else if (h == 1) g(c0) * (1 - fc) + g(c0 + 1) * fc
    else
      g(r0 * w + c0) * (1 - fr) * (1 - fc) + g(r0 * w + c0 + 1) * (1 - fr) * fc +
        g((r0 + 1) * w + c0) * fr * (1 - fc) + g((r0 + 1) * w + c0 + 1) * fr * fc
  }

  /** One snake evolution on a window. Returns final (row, col) pairs. */
  def evolve(img: Array[Float], w: Int, h: Int,
             init: Array[(Double, Double)], alpha: Double = 0.01,
             beta: Double = 0.1, wLine: Double = 0.0, wEdge: Double = 1.0,
             gamma: Double = 0.01, maxPxMove: Double = 1.0,
             iterations: Int = 2500, convergence: Double = 0.1,
             bc: String = "periodic"): Array[(Double, Double)] = {
    val n = init.length
    require(n >= 4 && n <= 4096, s"snake size $n outside [4, 4096]")
    val inv = invert {
      val m = energyMatrix(n, alpha, beta, bc)
      var i = 0
      while (i < n) { m(i)(i) += gamma; i += 1 }
      m
    }
    // energy image + its np.gradient (zero when both weights vanish)
    val hasForce = wLine != 0.0 || wEdge != 0.0
    val (gr, gc) =
      if (!hasForce) (null, null)
      else {
        val e = new Array[Double](w * h)
        if (wEdge != 0.0) {
          // Sobel magnitude / 8 on the window (edge energy)
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              def v(xx: Int, yy: Int): Double =
                img(math.min(h - 1, math.max(0, yy)) * w +
                  math.min(w - 1, math.max(0, xx))).toDouble
              val sx = (v(x + 1, y - 1) + 2 * v(x + 1, y) + v(x + 1, y + 1)
                - v(x - 1, y - 1) - 2 * v(x - 1, y) - v(x - 1, y + 1)) / 8.0
              val sy = (v(x - 1, y + 1) + 2 * v(x, y + 1) + v(x + 1, y + 1)
                - v(x - 1, y - 1) - 2 * v(x, y - 1) - v(x + 1, y - 1)) / 8.0
              e(y * w + x) = wEdge * math.sqrt(sx * sx + sy * sy)
              x += 1
            }
            y += 1
          }
        }
        if (wLine != 0.0) {
          var p = 0
          while (p < e.length) { e(p) += wLine * img(p); p += 1 }
        }
        val grr = new Array[Double](w * h); val gcc = new Array[Double](w * h)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val p = y * w + x
            gcc(p) =
              if (w == 1) 0.0
              else if (x == 0) e(p + 1) - e(p)
              else if (x == w - 1) e(p) - e(p - 1)
              else (e(p + 1) - e(p - 1)) / 2.0
            grr(p) =
              if (h == 1) 0.0
              else if (y == 0) e(p + w) - e(p)
              else if (y == h - 1) e(p) - e(p - w)
              else (e(p + w) - e(p - w)) / 2.0
            x += 1
          }
          y += 1
        }
        (grr, gcc)
      }
    val sfixed = bc.startsWith("fixed"); val efixed = bc.endsWith("fixed")
    val sfree = bc.startsWith("free"); val efree = bc.endsWith("free")
    var r = init.map(_._1); var c = init.map(_._2)
    val convergenceOrder = 10
    val rsave = Array.ofDim[Double](convergenceOrder, n)
    val csave = Array.ofDim[Double](convergenceOrder, n)
    val fr = new Array[Double](n); val fc = new Array[Double](n)
    var it = 0
    var done = false
    while (it < iterations && !done) {
      if (hasForce) {
        var i = 0
        while (i < n) {
          fr(i) = bilinear(gr, w, h, r(i), c(i))
          fc(i) = bilinear(gc, w, h, r(i), c(i))
          i += 1
        }
        if (sfixed) { fr(0) = 0; fc(0) = 0 }
        if (efixed) { fr(n - 1) = 0; fc(n - 1) = 0 }
        if (sfree) { fr(0) *= 2; fc(0) *= 2 }
        if (efree) { fr(n - 1) *= 2; fc(n - 1) *= 2 }
      }
      val rn = new Array[Double](n); val cn = new Array[Double](n)
      var i = 0
      while (i < n) {
        var sr = 0.0; var sc = 0.0
        var j = 0
        while (j < n) {
          sr += inv(i)(j) * (gamma * r(j) + fr(j))
          sc += inv(i)(j) * (gamma * c(j) + fc(j))
          j += 1
        }
        rn(i) = sr; cn(i) = sc
        i += 1
      }
      i = 0
      while (i < n) {
        var dr = maxPxMove * math.tanh(rn(i) - r(i))
        var dc = maxPxMove * math.tanh(cn(i) - c(i))
        if ((sfixed && i == 0) || (efixed && i == n - 1)) { dr = 0; dc = 0 }
        r(i) += dr; c(i) += dc
        i += 1
      }
      // skimage convergence: L1 distance to any of the last 10 states
      val j = it % (convergenceOrder + 1)
      if (j < convergenceOrder) {
        System.arraycopy(r, 0, rsave(j), 0, n)
        System.arraycopy(c, 0, csave(j), 0, n)
      } else {
        var best = Double.MaxValue
        var k = 0
        while (k < convergenceOrder) {
          var worst = 0.0
          var p = 0
          while (p < n) {
            val d = math.abs(rsave(k)(p) - r(p)) + math.abs(csave(k)(p) - c(p))
            if (d > worst) worst = d
            p += 1
          }
          if (worst < best) best = worst
          k += 1
        }
        if (best < convergence) done = true
      }
      it += 1
    }
    r.zip(c)
  }

  /** Resample a ring's perimeter to nPoints equally spaced vertices
    * (nPoints = 0 keeps the ring vertices). Input/output in (row, col)
    * pixel coordinates. */
  private[operators] def resample(ring: Array[(Double, Double)],
                                  nPoints: Int): Array[(Double, Double)] = {
    if (nPoints <= 0 || nPoints == ring.length) ring
    else {
      val m = ring.length
      val segLen = Array.tabulate(m) { k =>
        val (r0, c0) = ring(k); val (r1, c1) = ring((k + 1) % m)
        math.hypot(r1 - r0, c1 - c0)
      }
      val total = segLen.sum
      Array.tabulate(nPoints) { p =>
        var target = total * p / nPoints
        var k = 0
        while (k < m - 1 && target > segLen(k)) { target -= segLen(k); k += 1 }
        val (r0, c0) = ring(k); val (r1, c1) = ring((k + 1) % m)
        val f = if (segLen(k) == 0) 0.0 else target / segLen(k)
        (r0 + f * (r1 - r0), c0 + f * (c1 - c0))
      }
    }
  }

  /** snake() over an image table: one output row per final snake vertex,
    * (image_id, poly_id, idx, row, col) in window-local pixel
    * coordinates offset back to the image grid. */
  def snake(images: Dataset[ImageRow], polys: Dataset[PolyRow],
            band: Int = 0, buf1: Double = 0.0, nPoints: Int = 0,
            alpha: Double = 0.01, beta: Double = 0.1, wLine: Double = 0.0,
            wEdge: Double = 1.0, gamma: Double = 0.01,
            maxPxMove: Double = 1.0, iterations: Int = 2500,
            convergence: Double = 0.1, bc: String = "periodic")
           (implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    PolyLayer.perImage(images, polys, buf1, band) {
      case (im, pix, part, PolyLayer.ImageWindow(cx0, cy0, ww, wh)) =>
        val win = new Array[Float](ww * wh)
        var rI = 0
        while (rI < wh) {
          var cI = 0
          while (cI < ww) {
            win(rI * ww + cI) = pix((cy0 + rI) * im.w + cx0 + cI)
            cI += 1
          }
          rI += 1
        }
        // ring vertices -> window-local continuous (row, col)
        val (xs, ys) = (part.poly.xss(0), part.poly.yss(0))
        val initRing = Array.tabulate(xs.length) { k =>
          ((im.y_max - ys(k)) / im.px - 0.5 - cy0, (xs(k) - im.x_min) / im.px - 0.5 - cx0)
        }
        val init = resample(initRing, nPoints)
        val fin = evolve(win, ww, wh, init, alpha, beta, wLine, wEdge,
          gamma, maxPxMove, iterations, convergence, bc)
        fin.iterator.zipWithIndex.map { case ((rr, cc), idx) =>
          (im.image_id, part.polyId, idx, rr + cy0, cc + cx0)
        }
    }.toDF("image_id", "poly_id", "idx", "row", "col")
  }
}
