package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.ImageRow
import graft.core.PixelCodec

/**
 * Hough line transform + rectangular segmentation — the reference's
 * `houghseg` chain (/root/reference/geospatial_learn/utilities.py:112-233:
 * edges -> hough_line -> hough_line_peaks -> draw lines -> invert ->
 * remove_small_objects -> polygonize), re-expressed relationally.
 *
 * Spark shape (the part a native engine does per-array, we do as a
 * QUERY):
 *  - the vote accumulator IS a `groupBy(image, theta, rho).count()` —
 *    partial aggregation folds votes map-side, so the shuffle carries
 *    accumulator cells (images x |thetas| x rho-bins at most), never
 *    edge pixels;
 *  - peak non-max suppression is an exploded-offset EQUI join on the
 *    accumulator (no range join, AQE-splittable), cells only;
 *  - only the final burn joins peaks back to image rows (peak rows are
 *    tiny; the join is keyed by image_id and carries each image once).
 * Nothing in the chain ever shuffles pixels, so the plan holds at
 * cluster scale: pixels stay inside per-image kernels, votes and peaks
 * are the only moving data.
 */
object Hough {

  /** Decoded bright pixels of a mask/edge image table:
    * (image_id, w, h, x, y). Pixels never leave the executor unfiltered —
    * the flatMap emits only mask hits. */
  def edgePixels(edges: Dataset[ImageRow], band: Int = 0, thresh: Double = 0.0)
                (implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    edges.flatMap { im =>
      val v = PixelCodec.decode(im.bytes, im.fmt, im.w, im.h).bands(band)
      val out = scala.collection.mutable.ArrayBuffer.empty[(String, Int, Int, Int, Int)]
      var p = 0
      while (p < v.length) {
        if (v(p) > thresh) out += ((im.image_id, im.w, im.h, p % im.w, p / im.w))
        p += 1
      }
      out
    }.toDF("image_id", "w", "h", "x", "y")
  }

  /** Vote accumulator over a tested-angle list (radians; the reference
    * probes a narrow angle window around the scene orientation,
    * utilities.py:63-66): rho = x cos(theta) + y sin(theta), binned at
    * `rhoBin` with round-half-up. Output:
    * (image_id, theta_idx, rho_idx, votes). */
  def accumulate(edgePx: DataFrame, thetas: Seq[Double], rhoBin: Double = 1.0): DataFrame = {
    val t = posexplode(lit(thetas.toArray)).as(Seq("theta_idx", "theta"))
    edgePx
      .select(col("image_id"), col("x"), col("y"), t)
      .withColumn("rho", col("x") * cos(col("theta")) + col("y") * sin(col("theta")))
      .withColumn("rho_idx", floor(col("rho") / rhoBin + 0.5).cast("int"))
      .groupBy("image_id", "theta_idx", "rho_idx")
      .agg(count(lit(1)).as("votes"))
  }

  /** hough_line_peaks: keep cells with votes >= minVotes that are >= every
    * neighbor within (theta +- nTheta, rho +- nRho). Plateaus (exact vote
    * ties) survive on BOTH sides — deterministic, spec-pinned. The
    * neighborhood test is an exploded-offset equi join: each cell claims
    * its neighbor coordinates, the claims aggregate to a per-cell max,
    * and one left join compares — no range join, no window over an
    * unbounded frame. */
  def peaks(acc: DataFrame, minVotes: Long, nTheta: Int = 1, nRho: Int = 1): DataFrame = {
    val offsets = for {
      dt <- -nTheta to nTheta
      dr <- -nRho to nRho
      if dt != 0 || dr != 0
    } yield (dt, dr)
    val claims = acc
      .select(col("image_id"), col("theta_idx"), col("rho_idx"), col("votes"),
        explode(lit(offsets.map(o => Array(o._1, o._2)).toArray)).as("off"))
      .select(col("image_id"),
        (col("theta_idx") + col("off").getItem(0)).as("theta_idx"),
        (col("rho_idx") + col("off").getItem(1)).as("rho_idx"),
        col("votes"))
      .groupBy("image_id", "theta_idx", "rho_idx")
      .agg(max(col("votes")).as("nbr_max"))
    acc.join(claims, Seq("image_id", "theta_idx", "rho_idx"), "left")
      .where(col("votes") >= minVotes &&
        col("votes") >= coalesce(col("nbr_max"), lit(0L)))
      .select("image_id", "theta_idx", "rho_idx", "votes")
  }

  // ---- pure kernels (spec-tested; used by the burn/segment tail) ----

  /** Bresenham segment, inclusive endpoints, into `mask`. */
  def drawLine(mask: Array[Boolean], w: Int, h: Int,
               x1: Int, y1: Int, x2: Int, y2: Int): Unit = {
    var x = x1; var y = y1
    val dx = math.abs(x2 - x1); val dy = -math.abs(y2 - y1)
    val sx = if (x1 < x2) 1 else -1
    val sy = if (y1 < y2) 1 else -1
    var err = dx + dy
    var go = true
    while (go) {
      if (x >= 0 && x < w && y >= 0 && y < h) mask(y * w + x) = true
      if (x == x2 && y == y2) go = false
      else {
        val e2 = 2 * err
        if (e2 >= dy) { err += dy; x += sx }
        if (e2 <= dx) { err += dx; y += sy }
      }
    }
  }

  /** Burn one (theta, rho) line into the mask — the reference's draw
    * loop (utilities.py:67-103): take the SEGMENT between x = 0 and
    * x = W (origin = (0, width)), intersect it with the image box
    * [0,W]x[0,H] (shapely `bbox.intersection(linestr)` — geometry
    * preserved, the slope is NOT distorted), round half-even
    * (np.around), nudge an exact ==W / ==H hit onto the last pixel,
    * Bresenham. Liang-Barsky replays the box clip exactly; a segment
    * that misses the box burns nothing (the reference would IndexError
    * on the empty intersection — graceful skip, documented deviation).
    * Near-vertical lines (|sin| ~ 0) burn the column
    * x = round(rho / cos). */
  def burnLine(mask: Array[Boolean], w: Int, h: Int, theta: Double, rho: Double): Unit = {
    val s = math.sin(theta); val c = math.cos(theta)
    if (math.abs(s) < 1e-9) {
      // np.around (half-even) like the general branch below — a
      // half-up here would shift the burned column by one pixel on a
      // .5 rho exactly when theta crosses the vertical cutoff
      val x = math.rint(rho / c).toInt
      if (x >= 0 && x < w) drawLine(mask, w, h, x, 0, x, h - 1)
    } else {
      val y0 = rho / s
      val y1 = (rho - w.toDouble * c) / s
      val dy = y1 - y0
      var t0 = 0.0; var t1 = 1.0
      if (math.abs(dy) < 1e-12) {
        if (y0 < 0 || y0 > h) return
      } else {
        val ta = (0.0 - y0) / dy; val tb = (h.toDouble - y0) / dy
        t0 = math.max(0.0, math.min(ta, tb))
        t1 = math.min(1.0, math.max(ta, tb))
        if (t0 > t1) return // segment misses the box entirely
      }
      def cl(v: Int, hi: Int) = if (v == hi) hi - 1 else v
      val ax = cl(math.rint(w.toDouble * t0).toInt, w)
      val ay = cl(math.rint(y0 + t0 * dy).toInt, h)
      val bx = cl(math.rint(w.toDouble * t1).toInt, w)
      val by = cl(math.rint(y0 + t1 * dy).toInt, h)
      drawLine(mask, w, h, ax, ay, bx, by)
    }
  }

  final case class Component(area: Long, x0: Int, y0: Int, x1: Int, y1: Int)

  /** 4-connected components of `fg` with at least `minArea` pixels
    * (remove_small_objects + the polygonize core's labeling): one
    * [[Components.label4]] pass, then area and bbox per label, in
    * row-major first-encounter order. */
  def components(fg: Array[Boolean], w: Int, h: Int, minArea: Long): Seq[Component] = {
    val (lab, areas) = Components.label4(fg, w, h)
    val n = areas.length
    val x0 = Array.fill(n)(w); val y0 = Array.fill(n)(h)
    val x1 = Array.fill(n)(-1); val y1 = Array.fill(n)(-1)
    var p = 0
    while (p < lab.length) {
      val l = lab(p)
      if (l >= 0) {
        val x = p % w; val y = p / w
        if (x < x0(l)) x0(l) = x
        if (y < y0(l)) y0(l) = y
        if (x > x1(l)) x1(l) = x
        if (y > y1(l)) y1(l) = y
      }
      p += 1
    }
    (0 until n).filter(l => areas(l) >= minArea)
      .map(l => Component(areas(l).toLong, x0(l), y0(l), x1(l), y1(l)))
  }

  /** The houghseg tail: peaks -> burn line mask -> INVERT (segments are
    * the regions BETWEEN detected lines) -> 4-connected components ->
    * drop areas < minArea. Output one row per segment:
    * (image_id, area, x0, y0, x1, y1).
    *
    * The join ships each peak row (a dozen bytes) to its image row; at
    * scale the peak side is proportional to detected lines, so this is
    * an ordinary co-partitioned equi join — pixels never shuffle. */
  def segments(images: Dataset[ImageRow], peaksDf: DataFrame,
               thetas: Seq[Double], rhoBin: Double, minArea: Long)
              (implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    val thetaArr = thetas.toArray
    val grouped = peaksDf
      .groupBy("image_id")
      .agg(collect_list(struct(col("theta_idx"), col("rho_idx"))).as("pk"))
      .as[(String, Seq[(Int, Int)])]
    // left outer: an image with NO detected peaks still segments — the
    // reference chain (burn nothing -> invert -> all-ones mask -> label)
    // yields ONE whole-image component of area w*h; an inner join would
    // silently drop the image from the segment table
    images.joinWith(grouped, images("image_id") === grouped("image_id"),
        "left_outer")
      .flatMap { case (im, g) =>
        val pk = if (g == null) Seq.empty[(Int, Int)] else g._2
        val mask = new Array[Boolean](im.w * im.h)
        pk.foreach { case (ti, ri) =>
          burnLine(mask, im.w, im.h, thetaArr(ti), ri * rhoBin)
        }
        val fg = Array.tabulate(mask.length)(p => !mask(p))
        components(fg, im.w, im.h, minArea).map(c =>
          (im.image_id, c.area, c.x0, c.y0, c.x1, c.y1))
      }
      .toDF("image_id", "area", "x0", "y0", "x1", "y1")
  }
}
