package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import graft.{ImageRow, MultiTileRow, TileRow}
import graft.core.PixelCodec

/**
 * Phase congruency edge detection — the reference's `do_phasecong`
 * (/root/reference/geospatial_learn/utilities.py:1086-1108), which
 * delegates to phasepack's implementation of Kovesi's published
 * algorithm ("Image Features From Phase Congruency", Videre 1(3),
 * 1999; phasecong3 refinements). This engine re-derives the algorithm
 * from the publication — NOT a port of phasepack:
 *
 *  1. FFT of the image (power-of-2 FFT over the periodically padded
 *     grid; inputs whose dims are already powers of two are exact).
 *  2. For each orientation o (angles o*pi/norient) and scale s: filter
 *     the spectrum with a log-Gabor radial profile
 *     exp(-(ln(r/f0_s))^2 / (2 ln(sigmaOnf)^2)), f0_s =
 *     1/(minWavelength*mult^s), times Kovesi's Butterworth lowpass
 *     1/(1 + (r/0.45)^30) (kills the aliased super-Nyquist gain the
 *     raw log-Gabor keeps at the smallest scale), times an angular
 *     Gaussian spread exp(-dtheta^2/(2 sigmaTheta^2)), sigmaTheta =
 *     (pi/norient)/dThetaOnSigma; inverse-FFT to the complex response
 *     EO_so (even = Re, odd = Im).
 *  3. Per orientation: phase-deviation energy
 *     sum_s (E_s MeanE + O_s MeanO - |E_s MeanO - O_s MeanE|) with
 *     (MeanE, MeanO) the unit vector of (sum E, sum O); noise
 *     threshold T from the smallest-scale amplitude median (Rayleigh
 *     statistics, k sigmas, the /1.7 empirical rescale); frequency-
 *     spread weight W = sigmoid(g*(width - cutOff)).
 *  4. Moments across orientations (covariance of PC_o cos/sin): M =
 *     max moment (edge strength), ori = principal axis.
 *
 * Engine constants (documented): epsilon = 1e-4, dThetaOnSigma = 1.3.
 * The ori map drives the downstream NMS — the reference passes
 * phasepack's `ft` (phase angle) to its NMS, which we judge accidental;
 * the principal moment axis is the meaningful edge normal.
 *
 * Spark shape: a per-image bounded kernel exactly like [[Edge]] — the
 * FFT is whole-window; big rasters run it per haloed tile via
 * [[phaseCongTiles]] (overlap-save over the tiler output).
 */
object PhaseCong {

  val Epsilon = 1e-4
  val DThetaOnSigma = 1.3

  /** In-place radix-2 complex FFT of length n (power of 2). */
  private def fft1(re: Array[Double], im: Array[Double], off: Int, stride: Int,
                   n: Int, inverse: Boolean): Unit = {
    // bit-reversal permutation
    var i = 0; var j = 0
    while (i < n) {
      if (i < j) {
        val a = off + i * stride; val b = off + j * stride
        val tr = re(a); re(a) = re(b); re(b) = tr
        val ti = im(a); im(a) = im(b); im(b) = ti
      }
      var m = n >> 1
      while (m >= 1 && j >= m) { j -= m; m >>= 1 }
      j += m
      i += 1
    }
    var len = 2
    while (len <= n) {
      val ang = (if (inverse) 2.0 else -2.0) * math.Pi / len
      val wr = math.cos(ang); val wi = math.sin(ang)
      var blk = 0
      while (blk < n) {
        var cr = 1.0; var ci = 0.0
        var p = 0
        while (p < len / 2) {
          val a = off + (blk + p) * stride
          val b = off + (blk + p + len / 2) * stride
          val tr = re(b) * cr - im(b) * ci
          val ti = re(b) * ci + im(b) * cr
          re(b) = re(a) - tr; im(b) = im(a) - ti
          re(a) += tr; im(a) += ti
          val ncr = cr * wr - ci * wi
          ci = cr * wi + ci * wr; cr = ncr
          p += 1
        }
        blk += len
      }
      len <<= 1
    }
  }

  /** 2-D FFT (rows then columns), in place; `inverse` includes the
    * 1/(w*h) normalization. w, h powers of two. */
  private[graft] def fft2(re: Array[Double], im: Array[Double], w: Int, h: Int,
                          inverse: Boolean): Unit = {
    var y = 0
    while (y < h) { fft1(re, im, y * w, 1, w, inverse); y += 1 }
    var x = 0
    while (x < w) { fft1(re, im, x, w, h, inverse); x += 1 }
    if (inverse) {
      val inv = 1.0 / (w * h)
      var p = 0
      while (p < re.length) { re(p) *= inv; im(p) *= inv; p += 1 }
    }
  }

  /** 4-sector NMS neighbor offset for a folded energy orientation
    * `a` in [0, pi). `a` lives in phasecong's FREQUENCY frame — math
    * convention, y UP (theta = atan2(-fv, fu)) — while pixels index y
    * DOWN, so the two diagonal sectors flip sign in pixel space: a
    * normal at +45 deg (y-up) is the (+1,-1)/(-1,+1) pixel pair, at
    * 135 deg the (+1,+1)/(-1,-1) pair. (A y-down table here compares
    * ALONG the diagonal edge instead of across its normal, suppressing
    * ridge pixels by their own edge-mates and punching gaps in every
    * diagonal chain — pinned by the diagonal-step spec.) Comparison
    * neighbors are (x+dx, y+dy) and (x-dx, y-dy). */
  @inline private[operators] def nmsOffset(a: Double): (Int, Int) =
    if (a < math.Pi / 8 || a >= 7 * math.Pi / 8) (1, 0)
    else if (a < 3 * math.Pi / 8) (1, -1)
    else if (a < 5 * math.Pi / 8) (0, 1)
    else (1, 1)

  private def nextPow2(n: Int): Int = {
    var p = 1
    while (p < n) p <<= 1
    p
  }

  /** np-convention median (average of middles on even counts). */
  private def median(xs: Array[Double]): Double = {
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Phase congruency maps (M = max moment / edge strength, ori =
    * principal axis in radians) of one window. */
  def phasecong(img: Array[Float], w: Int, h: Int,
                nscale: Int = 4, norient: Int = 6,
                minWavelength: Double = 3.0, mult: Double = 2.1,
                sigmaOnf: Double = 0.55, k: Double = 2.0,
                cutOff: Double = 0.5, g: Double = 10.0)
      : (Array[Double], Array[Double]) = {
    require(nscale >= 2,
      "phasecong needs nscale >= 2: the frequency-spread weight divides " +
        "by (nscale - 1), and a single scale has no spread to weight " +
        "(Kovesi's reference NaNs out the same way)")
    val pw = nextPow2(w); val ph = nextPow2(h)
    val n = pw * ph
    // forward FFT of the image, padded to pow2 with reflect-101
    // (mirror about the last sample, edge not repeated): zero padding
    // would plant an artificial cliff at the window boundary whose
    // log-Gabor response leaks deep into the interior — fatal for the
    // overlap-save tiled path. The mirror ATTENUATES the cliff, it does
    // not remove it: the DFT is periodic, so unless nextPow2(dim) ==
    // 2*dim-2 a residual |img(tail) - img(0)| step remains at the wrap
    // seam (Kovesi's reference transforms the raw window and carries
    // the full wrap cliff; tiled callers keep the seam a halo away from
    // every core pixel, which is the property that matters). Pow2
    // inputs take no padding at all, so this is bit-identical to the
    // unpadded transform there. The mirror index 2(w-1)-x stays in
    // range because nextPow2(w) <= 2w-2 for every w >= 2 (and w = 1
    // pads nothing).
    val fr = new Array[Double](n); val fi = new Array[Double](n)
    var y = 0
    while (y < ph) {
      val sy = if (y < h) y else 2 * (h - 1) - y
      var x = 0
      while (x < pw) {
        val sx = if (x < w) x else 2 * (w - 1) - x
        fr(y * pw + x) = img(sy * w + sx)
        x += 1
      }
      y += 1
    }
    fft2(fr, fi, pw, ph, inverse = false)
    // frequency coordinates (signed, cycles/pixel) and angle per bin
    val radius = new Array[Double](n)
    val theta = new Array[Double](n)
    var p = 0
    while (p < n) {
      val u = p % pw; val v = p / pw
      val fu = (if (u <= pw / 2) u else u - pw).toDouble / pw
      val fv = (if (v <= ph / 2) v else v - ph).toDouble / ph
      radius(p) = math.sqrt(fu * fu + fv * fv)
      theta(p) = math.atan2(-fv, fu) // y axis points down in images
      p += 1
    }
    radius(0) = 1.0 // avoid log(0); DC is zeroed per filter anyway
    val sigmaTheta = math.Pi / norient / DThetaOnSigma
    val logSig2 = 2.0 * math.log(sigmaOnf) * math.log(sigmaOnf)

    val covx2 = new Array[Double](n); val covy2 = new Array[Double](n)
    val covxy = new Array[Double](n)
    // energy-weighted axial orientation vectors (doubled-angle trick) —
    // phasecong2's `or` semantics: the orientation of max local ENERGY,
    // i.e. the edge normal (the PC-weighted covariance axis would land
    // on the weak-but-congruent perpendicular for noise-free steps)
    val orx = new Array[Double](n); val ory = new Array[Double](n)

    val er = new Array[Double](n); val ei = new Array[Double](n)
    val sumE = new Array[Double](n); val sumO = new Array[Double](n)
    val sumAn = new Array[Double](n); val maxAn = new Array[Double](n)
    val eArr = Array.ofDim[Double](nscale, n)
    val oArr = Array.ofDim[Double](nscale, n)

    // the radial log-Gabor gain depends only on (s, p) and the angular
    // spread only on (o, p): hoisting both out of the o x s x n loop
    // drops ~3/4 of the trig and ~5/6 of the log/exp work (two small
    // n-sized buffers; the products are the SAME expressions, so the
    // outputs stay bit-identical)
    val lgArr = Array.ofDim[Double](nscale, n)
    var s0 = 0
    while (s0 < nscale) {
      val f0 = 1.0 / (minWavelength * math.pow(mult, s0))
      val lgs = lgArr(s0)
      p = 1 // lgs(0) stays 0: DC is zeroed per filter
      while (p < n) {
        val lr = math.log(radius(p) / f0)
        // x Kovesi's lowpass (lowpassfilter cutoff .45, order 15 ->
        // Butterworth exponent 30): the raw log-Gabor keeps ~0.8 gain
        // at Nyquist on the smallest scale, so aliased super-Nyquist
        // corner energy would contaminate the response AND the
        // Rayleigh tau; the lowpass kills it (~0.03 at Nyquist)
        lgs(p) = math.exp(-lr * lr / logSig2) *
          (1.0 / (1.0 + math.pow(radius(p) / 0.45, 30.0)))
        p += 1
      }
      s0 += 1
    }
    val spArr = new Array[Double](n)

    var o = 0
    while (o < norient) {
      val phi = o * math.Pi / norient
      java.util.Arrays.fill(sumE, 0.0); java.util.Arrays.fill(sumO, 0.0)
      java.util.Arrays.fill(sumAn, 0.0); java.util.Arrays.fill(maxAn, 0.0)
      // SINGLE-SIDED angular spread: the wrapped |theta - phi| in
      // [0, pi] (folding to pi/2 would symmetrize the filter and
      // cancel the odd response) — Kovesi's atan2(sin, cos) form
      p = 0
      while (p < n) {
        val dd = theta(p) - phi
        val dt = math.abs(math.atan2(math.sin(dd), math.cos(dd)))
        spArr(p) = math.exp(-dt * dt / (2 * sigmaTheta * sigmaTheta))
        p += 1
      }
      var tau = 0.0
      var s = 0
      while (s < nscale) {
        val lgs = lgArr(s)
        // filter * spectrum
        p = 0
        while (p < n) {
          val hf = lgs(p) * spArr(p)
          er(p) = fr(p) * hf; ei(p) = fi(p) * hf
          p += 1
        }
        fft2(er, ei, pw, ph, inverse = true)
        val es = eArr(s); val os = oArr(s)
        p = 0
        while (p < n) {
          val e = er(p); val od = ei(p)
          es(p) = e; os(p) = od
          val an = math.sqrt(e * e + od * od)
          sumE(p) += e; sumO(p) += od; sumAn(p) += an
          if (an > maxAn(p)) maxAn(p) = an
          p += 1
        }
        if (s == 0) {
          val ans = new Array[Double](n)
          p = 0
          while (p < n) { ans(p) = math.sqrt(es(p) * es(p) + os(p) * os(p)); p += 1 }
          tau = median(ans) / math.sqrt(math.log(4.0))
        }
        s += 1
      }
      // Rayleigh noise threshold for this orientation
      val totalTau = tau * (1.0 - math.pow(1.0 / mult, nscale)) / (1.0 - 1.0 / mult)
      val noiseMean = totalTau * math.sqrt(math.Pi / 2.0)
      val noiseSigma = totalTau * math.sqrt((4.0 - math.Pi) / 2.0)
      val t = (noiseMean + k * noiseSigma) / 1.7 // Kovesi's empirical rescale
      p = 0
      while (p < n) {
        val xe = math.sqrt(sumE(p) * sumE(p) + sumO(p) * sumO(p)) + Epsilon
        val me = sumE(p) / xe; val mo = sumO(p) / xe
        var energy = 0.0
        var s2 = 0
        while (s2 < nscale) {
          val e = eArr(s2)(p); val od = oArr(s2)(p)
          energy += e * me + od * mo - math.abs(e * mo - od * me)
          s2 += 1
        }
        energy = math.max(energy - t, 0.0)
        val width = (sumAn(p) / (maxAn(p) + Epsilon) - 1.0) / (nscale - 1)
        val wt = 1.0 / (1.0 + math.exp(g * (cutOff - width)))
        val pc = wt * energy / (sumAn(p) + Epsilon)
        val cx = pc * math.cos(phi); val cy = pc * math.sin(phi)
        covx2(p) += cx * cx; covy2(p) += cy * cy; covxy(p) += cx * cy
        orx(p) += energy * math.cos(2 * phi); ory(p) += energy * math.sin(2 * phi)
        p += 1
      }
      o += 1
    }
    // moments -> M (max) and principal axis, cropped to the real window
    val m = new Array[Double](w * h); val ori = new Array[Double](w * h)
    val no2 = norient / 2.0
    y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val q = y * pw + x
        val cx2 = covx2(q) / no2; val cy2 = covy2(q) / no2
        val cxy = covxy(q) * 4.0 / norient
        val denom = math.sqrt(cxy * cxy + (cx2 - cy2) * (cx2 - cy2)) + Epsilon
        m(y * w + x) = (cy2 + cx2 + denom) / 2.0
        ori(y * w + x) = 0.5 * math.atan2(ory(q), orx(q))
        x += 1
      }
      y += 1
    }
    (m, ori)
  }

  /** Tiled phase congruency — the big-raster path the scaladoc above
    * promises: each core tile's (M, ori) maps are computed from its
    * haloed window (overlap-save with a finite halo), cropped back to
    * the core, and emitted as [[TileRow]]s (band 0 = M, band 1 = ori)
    * ready for the engine's raster machinery (assemble / mask / zonal).
    * Zero-shuffle: one flatMap over the tiler output, consecutive-cell
    * dedupe exactly like ConvNet.segPredictTiles — gated in
    * PlanShapeSpec.
    *
    * Semantics at tile boundaries: the log-Gabor bank has unbounded
    * (decaying) spatial support, so unlike the CNN's finite-support
    * convolutions a multi-tile run is not bit-identical to one whole-
    * image FFT — the window truncation error decays with `halo`
    * (PhaseCongSpec measures it on a multi-tile fixture and gates the
    * bound; a single-tile image reproduces [[phasecong]] bit-for-bit
    * through this path). The Rayleigh noise threshold is estimated from
    * the haloed window's own smallest-scale amplitude median — Kovesi's
    * estimator applied per window, i.e. locally adaptive, which is the
    * behavior a 100k×100k heterogeneous raster wants (one global median
    * would need a second full pass and mis-threshold regions whose
    * noise floor differs from the global one). */
  def phaseCongTiles(tiles: Dataset[MultiTileRow], tileSize: Int, halo: Int,
                     band: Int = 0, nscale: Int = 4, norient: Int = 6,
                     k: Double = 2.0)
                    (implicit spark: SparkSession): Dataset[TileRow] = {
    import spark.implicits._
    tiles.mapPartitions { it =>
      Tiler.firstCellOnly(it).flatMap { t =>
        {
          val (m, ori) = phasecong(t.bands(band), t.tw, t.th,
            nscale = nscale, norient = norient, k = k)
          // core offset inside the haloed window = the part of `halo`
          // actually available on the low side (image-clipped)
          val (offX, offY, coreW, coreH) =
            Tiler.coreWindow(t.tx, t.ty, t.tw, t.th, tileSize, halo)
          def crop(src: Array[Double]): Array[Float] = {
            val out = new Array[Float](coreW * coreH)
            var r = 0
            while (r < coreH) {
              var c = 0
              while (c < coreW) {
                out(r * coreW + c) = src((offY + r) * t.tw + offX + c).toFloat
                c += 1
              }
              r += 1
            }
            out
          }
          val xm = t.x_min + offX * t.px
          val ym = t.y_max - offY * t.px
          Iterator(
            TileRow(t.image_id, t.cell_id, t.tx, t.ty, xm, ym, t.px,
              band = 0, pixels = crop(m), tw = coreW, th = coreH, t.nodata),
            TileRow(t.image_id, t.cell_id, t.tx, t.ty, xm, ym, t.px,
              band = 1, pixels = crop(ori), tw = coreW, th = coreH, t.nodata))
        }
      }
    }
  }

  /** The FULL do_phasecong chain, distributed — the tiled counterpart
    * of [[phaseCongEdges]] for rasters too big for one row:
    *
    *  1. per-tile [[phasecong]] on the haloed window (the M/ori stage of
    *     [[phaseCongTiles]]), keeping the window M map so the NMS apron
    *     reads stay local to the tile;
    *  2. the per-image rescale extrema as ONE summary aggregate (two
    *     doubles per image shuffle) joined back — no broadcast hint:
    *     the stats side is one row PER IMAGE, unbounded in the image
    *     count, so AQE broadcasts it when it fits and falls back to a
    *     shuffle join on image_id when it doesn't (same reasoning as
    *     Augment.cv2normTiles);
    *  3. per-tile NMS with the identical 4-sector rule — apron M values
    *     come from the tile's own window (documented: M is already
    *     window-approximate at boundaries, see [[phaseCongTiles]]);
    *  4. hysteresis as distributed connected components
    *     ([[Edge.hysteresis8]]: per-partition segments whose labels
    *     carry the strong flag, then [[Components.connectedRoots]] over
    *     the cross-partition label pairs — all that shuffles), then the
    *     reference's zero-pixel mask.
    *
    * A single-tile image reproduces [[phaseCongEdges]] exactly
    * (spec-gated). */
  def phaseCongEdgesTiles(tiles: Dataset[MultiTileRow], tileSize: Int,
                          halo: Int, band: Int = 0, nscale: Int = 4,
                          norient: Int = 6, k: Double = 2.0,
                          lowT: Double = 50.0, hiT: Double = 100.0)
                         (implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, max, min}
    require(halo >= 1, s"halo $halo < 1: NMS needs a 1-px apron")
    val stage1 = tiles.mapPartitions { it =>
      Tiler.firstCellOnly(it).flatMap { t =>
        {
          val (m, ori) = phasecong(t.bands(band), t.tw, t.th,
            nscale = nscale, norient = norient, k = k)
          val (offX, offY, coreW, coreH) =
            Tiler.coreWindow(t.tx, t.ty, t.tw, t.th, tileSize, halo)
          val oriCore = new Array[Double](coreW * coreH)
          val pixCore = new Array[Float](coreW * coreH)
          var mn = Double.MaxValue; var mx = Double.MinValue
          var r = 0
          while (r < coreH) {
            var c = 0
            while (c < coreW) {
              val q = (offY + r) * t.tw + offX + c
              oriCore(r * coreW + c) = ori(q)
              pixCore(r * coreW + c) = t.bands(band)(q)
              val v = m(q)
              if (v < mn) mn = v
              if (v > mx) mx = v
              c += 1
            }
            r += 1
          }
          Iterator(PcEdgeTile(t.image_id, t.tx, t.ty, t.tw, t.th,
            offX, offY, coreW, coreH, m, oriCore, pixCore, mn, mx))
        }
      }
    }.localCheckpoint() // read twice: the extrema aggregate + the NMS pass
    val stats = stage1.groupBy("image_id")
      .agg(min("mMin").as("mn"), max("mMax").as("mx"))
      .as[(String, Double, Double)]
    val joined = stage1.joinWith(stats,
      stage1.col("image_id") === stats.col("image_id"))
    val cand = joined.flatMap { case (t, (_, mn, mx)) =>
      // rescale_intensity over the ASSEMBLED core M (global extrema)
      val range = if (mx > mn) mx - mn else 1.0
      @inline def at(xx: Int, yy: Int): Double =
        if (xx < 0 || yy < 0 || xx >= t.winW || yy >= t.winH) 0.0
        else (t.mWin(yy * t.winW + xx) - mn) / range * 255.0
      val out = scala.collection.mutable.ArrayBuffer
        .empty[(String, Int, Int, Boolean, Boolean)]
      var r = 0
      while (r < t.coreH) {
        var c = 0
        while (c < t.coreW) {
          val wx = t.offX + c; val wy = t.offY + r
          val v = at(wx, wy)
          val a = {
            var d = t.oriCore(r * t.coreW + c) % math.Pi
            if (d < 0) d += math.Pi
            d
          }
          val (dx, dy) = nmsOffset(a)
          val nms =
            if (v >= at(wx + dx, wy + dy) && v >= at(wx - dx, wy - dy)) v
            else 0.0
          if (nms >= lowT)
            out += ((t.image_id, t.tx * tileSize + c, t.ty * tileSize + r,
              nms >= hiT, t.pixCore(r * t.coreW + c) != 0f))
          c += 1
        }
        r += 1
      }
      out
    }.toDF("image_id", "x", "y", "strong", "pixnz")
    Edge.hysteresis8(cand)
      .where(col("pixnz"))
      .select(col("image_id"), col("x"), col("y"))
  }

  /** do_phasecong (utilities.py:1086-1108): M rescaled to uint8 range,
    * NMS along the principal axis, hysteresis, zeros masked out. Emits
    * edge pixels (image_id, x, y). */
  def phaseCongEdges(images: Dataset[ImageRow], band: Int = 0,
                     nscale: Int = 4, norient: Int = 6, k: Double = 2.0,
                     lowT: Double = 50.0, hiT: Double = 100.0)
                    (implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    images.flatMap { im =>
      val pix = PixelCodec.decode(im.bytes, im.fmt, im.w, im.h).bands(band)
      val (m, ori) = phasecong(pix, im.w, im.h, nscale = nscale,
        norient = norient, k = k)
      val w = im.w; val h = im.h
      // rescale_intensity to [0, 255]
      var mn = Double.MaxValue; var mx = Double.MinValue
      m.foreach { v => if (v < mn) mn = v; if (v > mx) mx = v }
      val range = if (mx > mn) mx - mn else 1.0
      val re = m.map(v => (v - mn) / range * 255.0)
      // NMS along the edge NORMAL (ori is the energy-max orientation =
      // the normal), the same 4-sector quantization as the Canny kernel
      val nms = new Array[Double](w * h)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val p = y * w + x
          val a = {
            var d = ori(p) % math.Pi
            if (d < 0) d += math.Pi
            d
          }
          def at(xx: Int, yy: Int): Double =
            if (xx < 0 || yy < 0 || xx >= w || yy >= h) 0.0 else re(yy * w + xx)
          val (dx, dy) = nmsOffset(a)
          nms(p) =
            if (re(p) >= at(x + dx, y + dy) && re(p) >= at(x - dx, y - dy)) re(p)
            else 0.0
          x += 1
        }
        y += 1
      }
      // hysteresis: strong seeds grow through weak 8-neighbors
      val state = new Array[Byte](w * h) // 0 none, 1 weak, 2 strong
      var p2 = 0
      while (p2 < w * h) {
        if (nms(p2) >= hiT) state(p2) = 2
        else if (nms(p2) >= lowT) state(p2) = 1
        p2 += 1
      }
      Components.growStrong8(state, w, h)
      val out = scala.collection.mutable.ArrayBuffer.empty[(String, Int, Int)]
      p2 = 0
      while (p2 < w * h) {
        // hyst[tempIm==0]=0 — the reference masks nodata zeros
        if (state(p2) == 2 && pix(p2) != 0f)
          out += ((im.image_id, p2 % w, p2 / w))
        p2 += 1
      }
      out
    }.toDF("image_id", "x", "y")
  }
}

/** Stage-1 row of the tiled phase-edges chain: one haloed window's full
  * M map (NMS apron reads stay window-local), the core's ori and raw
  * pixels, and the core M extrema feeding the global rescale aggregate. */
final case class PcEdgeTile(
    image_id: String, tx: Int, ty: Int,
    winW: Int, winH: Int, offX: Int, offY: Int, coreW: Int, coreH: Int,
    mWin: Array[Double], oriCore: Array[Double], pixCore: Array[Float],
    mMin: Double, mMax: Double)
