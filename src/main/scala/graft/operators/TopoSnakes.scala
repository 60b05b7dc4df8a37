package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import graft.ImageRow
import graft.core.PixelCodec

/**
 * ms_toposnakes (/root/reference/geospatial_learn/utilities.py:397-525):
 * topology-preserving whole-image morphological snakes. Per iteration:
 * skeletonize the CURRENT background (the homotopic-skeleton
 * approximation of the paper the reference cites), evolve the level set
 * ONE morphsnakes step (ACWE or GAC — the same kernels as
 * [[Snakes]]; a 1-iteration call per loop matches the reference's
 * `mcv(iterations=1)`, including the smoothing-phase reset), then zero
 * the skeleton pixels so separate blobs can never merge (at the cost of
 * the reference's acknowledged 1-px gap). Finally 4-connected
 * components are labeled in row-major first-encounter order
 * (scipy.ndimage.label's cross structure + ordering).
 *
 * Skeletonization is Zhang-Suen thinning (the published two-subpass
 * algorithm skimage.morphology.skeletonize implements for 2-D input).
 *
 * Spark shape: per-image bounded kernel (seg ⋈ raster equi join on
 * image_id, then one typed map) — the evolution is a whole-raster
 * sequential recurrence (each iteration's skeleton depends on the
 * previous global state), so the parallel unit is the image, exactly
 * like the Edge/Snakes kernels.
 */
object TopoSnakes {

  /** Zhang-Suen thinning of a binary mask (true = foreground). */
  private[graft] def skeletonize(fg: Array[Boolean], w: Int, h: Int): Array[Boolean] = {
    val sk = fg.clone()
    def at(x: Int, y: Int): Int =
      if (x < 0 || y < 0 || x >= w || y >= h || !sk(y * w + x)) 0 else 1
    var changed = true
    val kill = new Array[Int](w * h)
    while (changed) {
      changed = false
      var pass = 0
      while (pass < 2) {
        var nKill = 0
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            if (sk(y * w + x)) {
              // neighbors p2..p9 clockwise from north (Zhang-Suen)
              val p2 = at(x, y - 1); val p3 = at(x + 1, y - 1)
              val p4 = at(x + 1, y); val p5 = at(x + 1, y + 1)
              val p6 = at(x, y + 1); val p7 = at(x - 1, y + 1)
              val p8 = at(x - 1, y); val p9 = at(x - 1, y - 1)
              val b = p2 + p3 + p4 + p5 + p6 + p7 + p8 + p9
              if (b >= 2 && b <= 6) {
                val seq = Array(p2, p3, p4, p5, p6, p7, p8, p9, p2)
                var a = 0
                var k = 0
                while (k < 8) { if (seq(k) == 0 && seq(k + 1) == 1) a += 1; k += 1 }
                if (a == 1) {
                  val ok =
                    if (pass == 0) p2 * p4 * p6 == 0 && p4 * p6 * p8 == 0
                    else p2 * p4 * p8 == 0 && p2 * p6 * p8 == 0
                  if (ok) { kill(nKill) = y * w + x; nKill += 1 }
                }
              }
            }
            x += 1
          }
          y += 1
        }
        var k = 0
        while (k < nKill) { sk(kill(k)) = false; k += 1 }
        if (nKill > 0) changed = true
        pass += 1
      }
    }
    sk
  }

  /** The shared per-image topo loop: skeleton barrier + one morphsnakes
    * step per iteration. */
  private def evolveLoop(fg0: Array[Byte], pix: Array[Float], w: Int, h: Int,
                         algo: String, iterations: Int, smoothing: Int,
                         lambda1: Double, lambda2: Double, sigma: Double,
                         alpha: Double, threshold: Double,
                         balloon: Int): Array[Byte] = {
    val gimg =
      if (algo == "GAC") Snakes.inverseGaussianGradient(pix, w, h, alpha, sigma)
      else null
    val gacT =
      if (algo == "GAC") {
        if (threshold.isNaN) Snakes.percentile(gimg, 40.0) else threshold
      } else 0.0
    var fg = fg0
    var it = 0
    while (it < iterations) {
      val sk = skeletonize(fg.map(_ == 0), w, h) // background skeleton
      val bw =
        if (algo == "ACWE")
          Snakes.acwe(pix, w, h, fg, 1, smoothing, lambda1, lambda2)
        else Snakes.gac(gimg, w, h, fg, 1, smoothing, gacT, balloon)
      var p = 0
      while (p < bw.length) { if (sk(p)) bw(p) = 0; p += 1 }
      fg = bw
      it += 1
    }
    fg
  }

  /** skimage peak_local_max(min_distance=dist) mask over positive
    * pixels: v > 0 (the reference NaN's out its zeros,
    * utilities.py:600-602) and v equals the (2*dist+1)-square window
    * max (plateau ties all included, matching indices=False). */
  private[graft] def localMaxMask(pix: Array[Float], w: Int, h: Int,
                                  dist: Int): Array[Boolean] = {
    val out = new Array[Boolean](w * h)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val v = pix(y * w + x)
        if (v > 0) {
          var mx = Float.NegativeInfinity
          var dy = math.max(0, y - dist)
          val y1 = math.min(h - 1, y + dist)
          val x1 = math.min(w - 1, x + dist)
          while (dy <= y1) {
            var dx = math.max(0, x - dist)
            while (dx <= x1) {
              val q = pix(dy * w + dx)
              if (q > mx) mx = q
              dx += 1
            }
            dy += 1
          }
          out(y * w + x) = v == mx
        }
        x += 1
      }
      y += 1
    }
    out
  }

  /** Per-pixel labeled output (image_id, comp, x, y): components of the
    * final level set, labeled 1..n in row-major first-encounter order.
    * `threshold` NaN = GAC 'auto' (40th percentile of gimg). */
  def topoSnakes(segs: Dataset[ImageRow], images: Dataset[ImageRow],
                 band: Int = 0, algo: String = "ACWE", iterations: Int = 10,
                 smoothing: Int = 1, lambda1: Double = 1.0,
                 lambda2: Double = 1.0, sigma: Double = 4.0,
                 alpha: Double = 100.0, threshold: Double = Double.NaN,
                 balloon: Int = -1)
                (implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    require(algo == "ACWE" || algo == "GAC", s"algo: $algo")
    segs.joinWith(images, segs("image_id") === images("image_id"))
      .flatMap { case (sg, im) =>
        require(sg.w == im.w && sg.h == im.h, s"seg/raster shape mismatch ${sg.image_id}")
        val w = im.w; val h = im.h
        val lab = PixelCodec.decode(sg.bytes, sg.fmt, sg.w, sg.h).bands(0)
        val pix = PixelCodec.decode(im.bytes, im.fmt, im.w, im.h).bands(band)
        val fg0: Array[Byte] = lab.map(v => if (v > 0) 1.toByte else 0.toByte)
        val fg = evolveLoop(fg0, pix, w, h, algo, iterations, smoothing,
          lambda1, lambda2, sigma, alpha, threshold, balloon)
        emitComponents(sg.image_id, fg, w, h)
      }.toDF("image_id", "comp", "x", "y")
  }

  /** ms_toposeg (utilities.py:527-795): SELF-SEEDING topology-preserving
    * segmentation — seeds are the local maxima of the positive pixels
    * (peak_local_max with min_distance = dist), dilated by a square(se)
    * element (se odd), then the same skeleton-barrier evolution. The
    * reference's optional canny-edge burn / usemin / merge switches are
    * compositions of operators the engine already exposes (Edge.canny,
    * Rag.ragMerge) and are out of this entry point's scope. */
  def topoSeg(images: Dataset[ImageRow], band: Int = 0,
              algo: String = "ACWE", iterations: Int = 10, dist: Int = 3,
              se: Int = 3, smoothing: Int = 1, lambda1: Double = 1.0,
              lambda2: Double = 1.0, sigma: Double = 4.0,
              alpha: Double = 100.0, threshold: Double = Double.NaN,
              balloon: Int = 1)
             (implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    require(algo == "ACWE" || algo == "GAC", s"algo: $algo")
    require(se % 2 == 1, s"square structuring element must be odd, got $se")
    images.flatMap { im =>
      val w = im.w; val h = im.h
      val pix = PixelCodec.decode(im.bytes, im.fmt, im.w, im.h).bands(band)
      val peakSrc =
        if (algo == "GAC") Snakes.inverseGaussianGradient(pix, w, h, alpha, sigma)
        else pix
      val peaks = localMaxMask(peakSrc, w, h, dist)
      // binary_dilation with square(se)
      val r = se / 2
      val fg0 = new Array[Byte](w * h)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          var hit = false
          var dy = math.max(0, y - r)
          val y1 = math.min(h - 1, y + r); val x1 = math.min(w - 1, x + r)
          while (dy <= y1 && !hit) {
            var dx = math.max(0, x - r)
            while (dx <= x1 && !hit) {
              if (peaks(dy * w + dx)) hit = true
              dx += 1
            }
            dy += 1
          }
          if (hit) fg0(y * w + x) = 1
          x += 1
        }
        y += 1
      }
      val fg = evolveLoop(fg0, pix, w, h, algo, iterations, smoothing,
        lambda1, lambda2, sigma, alpha, threshold, balloon)
      emitComponents(im.image_id, fg, w, h)
    }.toDF("image_id", "comp", "x", "y")
  }

  /** scipy.ndimage.label: 4-connected, labels 1.. in scan order. */
  private def emitComponents(id: String, fg: Array[Byte], w: Int, h: Int)
      : Seq[(String, Int, Int, Int)] = {
    val (comp, _) = Components.label4(fg.map(_ == 1), w, h)
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, Int, Int, Int)]
    var p = 0
    while (p < comp.length) {
      if (comp(p) >= 0)
        out += ((id, comp(p) + 1, p % w, p / w))
      p += 1
    }
    out.toSeq
  }
}
