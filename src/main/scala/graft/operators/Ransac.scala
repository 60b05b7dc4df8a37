package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.ImageRow

/**
 * RANSAC dominant-line detection per raster strip — the reference's
 * `ransac_lines` / `_do_ransac`
 * (/root/reference/geospatial_learn/utilities.py:1504-1640): the image is
 * cut into `binwidth`-wide strips, each strip's edge pixels get a robust
 * 2-point line fit, and the fitted line is burned back at the edge
 * pixels' coordinates.
 *
 * Spark shape: strips are the parallel unit — edge pixels group-shuffle
 * by (image, strip) (sparse mask pixels only, never the raster) and the
 * fit runs as a bounded per-strip kernel (`groupByKey.mapGroups`), the
 * legitimate per-partition-imperative case: consensus scoring is a
 * data-dependent argmax no relational form expresses without an O(n^3)
 * join.
 *
 * Deterministic semantics (spec-pinned; the q_ransac oracle replays the
 * exhaustive path relationally in DuckDB):
 *  - candidate models are pixel pairs in row-major order; pairs that
 *    cannot predict (equal y in col mode / equal x in row mode) are
 *    skipped
 *  - inlier: perpendicular distance to the infinite line <= residual,
 *    tested as cross^2 <= residual^2 * len^2 (integer-exact)
 *  - best = max inlier count, ties broken by first enumeration order
 *  - n <= exhaustiveMax: ALL pairs are tried; larger strips fall back to
 *    `maxTrials` draws from a SplittableRandom seeded by
 *    (seed, image_id, strip) — still deterministic, not SQL-replayed
 *  - burn (the reference's `outArray[x, round(pred)] = 1` loop): for
 *    every edge pixel's driving coordinate, the predicted cross
 *    coordinate rounds half-up via exact integer floorDiv
 */
object Ransac {

  /** The shared consensus argmax over row-major-sorted points: pair
    * enumeration (exhaustive all-pairs at n <= exhaustiveMax, seeded
    * draws above), equal-drive pairs skipped, inlier = integer-exact
    * cross^2 <= r2 * len2, ties broken by first enumeration. Returns
    * (bestA, bestB, bestCnt) indices into xs/ys; bestA < 0 when no
    * valid pair exists. Both `fit` (per strip) and `iterFit` (per
    * image, per round) call this so the semantics cannot diverge. */
  private def bestPair(xs: Array[Int], ys: Array[Int], colMode: Boolean,
                       r2: Double, exhaustiveMax: Int, maxTrials: Int,
                       seedKey: Long): (Int, Int, Long) = {
    val n = xs.length
    var bestCnt = -1L; var bestA = -1; var bestB = -1
    def score(a: Int, b: Int): Unit = {
      val ok = if (colMode) ys(a) != ys(b) else xs(a) != xs(b)
      if (ok && (a != b)) {
        val dx = xs(b) - xs(a); val dy = ys(b) - ys(a)
        val len2 = dx.toDouble * dx + dy.toDouble * dy
        var cnt = 0L
        var i = 0
        while (i < n) {
          val cross = dx.toDouble * (ys(i) - ys(a)) - dy.toDouble * (xs(i) - xs(a))
          if (cross * cross <= r2 * len2) cnt += 1
          i += 1
        }
        if (cnt > bestCnt) { bestCnt = cnt; bestA = a; bestB = b }
      }
    }
    if (n >= 2) {
      if (n <= exhaustiveMax) {
        var a = 0
        while (a < n - 1) {
          var b = a + 1
          while (b < n) { score(a, b); b += 1 }
          a += 1
        }
      } else {
        val rnd = new java.util.SplittableRandom(seedKey)
        var t = 0
        while (t < maxTrials) {
          val a = rnd.nextInt(n); val b = rnd.nextInt(n)
          if (a < b) score(a, b) else if (b < a) score(b, a)
          t += 1
        }
      }
    }
    (bestA, bestB, bestCnt)
  }

  /** One fitted model per (image, strip):
    * (image_id, strip, xa, ya, xb, yb, inliers). */
  /** Hard per-(image, strip) edge-point cap for [[fit]] — ~16M points
    * is ~400 MB of buffered tuples on one task, far past any sane
    * consensus problem. */
  val MaxPointsPerStrip: Int = 1 << 24

  def fit(edgePx: DataFrame, binwidth: Int, orient: String = "col",
          residual: Double = 1.0, exhaustiveMax: Int = 64,
          maxTrials: Int = 2500, seed: Long = 42L)
         (implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    require(orient == "col" || orient == "row", s"orient: $orient")
    val colMode = orient == "col"
    val stripCol = if (colMode) col("x") else col("y")
    val r2 = residual * residual
    edgePx
      .withColumn("strip", floor(stripCol / binwidth).cast("int"))
      .select("image_id", "strip", "w", "x", "y")
      .as[(String, Int, Int, Int, Int)]
      .groupByKey(t => (t._1, t._2))
      .mapGroups { (key: (String, Int), it: Iterator[(String, Int, Int, Int, Int)]) =>
        val (id, strip) = key
        // fail-fast bound, not a generic OOM: a low thresh can make
        // nearly every pixel an edge pixel, and one strip of a huge
        // image buffers on a single task (the same contract as
        // iterFit's maxPointsPerImage and PolyLayer.collect)
        val buf = scala.collection.mutable.ArrayBuffer.empty[(String, Int, Int, Int, Int)]
        while (it.hasNext) {
          buf += it.next()
          require(buf.length <= MaxPointsPerStrip,
            s"RANSAC strip ($id, $strip) exceeds $MaxPointsPerStrip edge " +
              "points — raise thresh or shrink binwidth")
        }
        val pts = buf.toArray.sortBy(t => t._5.toLong * t._3 + t._4) // row-major ord
        val xs = pts.map(_._4); val ys = pts.map(_._5)
        val (bestA, bestB, bestCnt) = bestPair(xs, ys, colMode, r2,
          exhaustiveMax, maxTrials, seed ^ id.hashCode.toLong << 20 ^ strip)
        if (bestA < 0) (id, strip, -1, -1, -1, -1, 0L)
        else (id, strip, xs(bestA), ys(bestA), xs(bestB), ys(bestB), bestCnt)
      }
      .toDF("image_id", "strip", "xa", "ya", "xb", "yb", "inliers")
      .where(col("inliers") > 0)
  }

  /** iter_ransac (utilities.py:969-1044): repeated whole-image robust
    * line extraction over a binary mask's point set — fit the dominant
    * line, burn its prediction at EVERY current point's driving
    * coordinate, drop the model's inliers, refit on the residue,
    * `noIter` times (the reference's outliers-become-the-data loop).
    * Output: one row per burned pixel and round,
    * (image_id, iter, x, y); the reference's accumulated binary array
    * is `distinct(image_id, x, y)` over it.
    *
    * Spark shape: points group ONCE by image (sparse mask pixels only,
    * never the raster) and the whole loop runs as a bounded per-image
    * kernel (`groupByKey(image_id).flatMapGroups`) — rounds are
    * sequential WITHIN an image (each round's data is the previous
    * round's outliers) but independent ACROSS images, the same
    * one-task-per-image argument as Rag's hierarchical merge. Fail-fast
    * bounded by `maxPointsPerImage`.
    *
    * Deterministic semantics are `fit`'s, applied per round: row-major
    * pair enumeration with first-enumeration argmax below
    * `exhaustiveMax` points (seeded draws above, the seed mixing the
    * round index); inlier — for BOTH the consensus count and the
    * removal (reference: `inData = inData[outliers]`) — is the
    * integer-exact cross^2 <= residual^2 * len^2; burn rounds half-up
    * via exact floorDiv, as in `lines`, and keeps in-raster pixels
    * only (see the burn-site note). A round with < 2 points or no
    * valid pair ends the loop (skimage would raise there; stopping is
    * the bounded-kernel behavior). */
  def iterFit(edgePx: DataFrame, noIter: Int, orient: String = "col",
              residual: Double = 1.0, exhaustiveMax: Int = 64,
              maxTrials: Int = 2500, seed: Long = 42L,
              maxPointsPerImage: Int = 1 << 20)
             (implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    require(orient == "col" || orient == "row", s"orient: $orient")
    val colMode = orient == "col"
    val r2 = residual * residual
    edgePx.select("image_id", "w", "h", "x", "y")
      .as[(String, Int, Int, Int, Int)]
      .groupByKey(_._1)
      .flatMapGroups { (id: String, it: Iterator[(String, Int, Int, Int, Int)]) =>
        val buf = new scala.collection.mutable.ArrayBuffer[(Int, Int)]
        var imW = 0; var imH = 0
        while (it.hasNext) {
          val t = it.next(); imW = t._2; imH = t._3; buf += ((t._4, t._5))
          require(buf.length <= maxPointsPerImage,
            s"iter_ransac mask for image $id exceeds $maxPointsPerImage points")
        }
        var pts = buf.toArray.sortBy { case (x, y) => (y, x) } // row-major
        val out = scala.collection.mutable.ArrayBuffer.empty[(String, Int, Int, Int)]
        var iter = 0
        var go = true
        while (iter < noIter && go && pts.length >= 2) {
          val xs = pts.map(_._1); val ys = pts.map(_._2)
          val n = pts.length
          val (bestA, bestB, _) = bestPair(xs, ys, colMode, r2,
            exhaustiveMax, maxTrials, seed ^ id.hashCode.toLong << 20 ^ iter)
          if (bestA < 0) go = false
          else {
            val xa = xs(bestA); val ya = ys(bestA)
            val xb = xs(bestB); val yb = ys(bestB)
            // burn at every CURRENT point's drive coordinate (reference:
            // line_x = inData[:, 0], i.e. outliers' coordinates too)
            val dC = (if (colMode) xb - xa else yb - ya).toLong
            val dD = (if (colMode) yb - ya else xb - xa).toLong
            val sgn = if (dD > 0) 1L else -1L
            val den = math.abs(dD)
            val base = if (colMode) xa else ya
            val refD = if (colMode) ya else xa
            val seen = scala.collection.mutable.HashSet.empty[(Int, Int)]
            var i = 0
            while (i < n) {
              val drive = if (colMode) ys(i) else xs(i)
              val pred =
                (base + Math.floorDiv(2L * sgn * dC * (drive - refD) + den,
                  2L * den)).toInt
              val bx = if (colMode) pred else xs(i)
              val by = if (colMode) ys(i) else pred
              // burn only in-raster pixels. A steep (col mode) /
              // shallow (row mode) dominant line legally predicts
              // coordinates outside [0,w)x[0,h) for far drive rows;
              // the reference's `outData[line_x, ...] = 1`
              // (utilities.py:1017-1037) would wrap negative indices
              // to the opposite edge and IndexError on pred >= width —
              // neither is raster semantics, so those burns are
              // dropped (deliberate deviation, spec-pinned).
              if (bx >= 0 && bx < imW && by >= 0 && by < imH &&
                  seen.add((bx, by))) out += ((id, iter, bx, by))
              i += 1
            }
            // outliers only survive to the next round
            val dx = (xb - xa).toDouble; val dy = (yb - ya).toDouble
            val len2 = dx * dx + dy * dy
            pts = pts.filter { case (qx, qy) =>
              val cross = dx * (qy - ya) - dy * (qx - xa)
              cross * cross > r2 * len2
            }
          }
          iter += 1
        }
        out.iterator
      }.toDF("image_id", "iter", "x", "y")
  }

  /** The reference composition verbatim: canny(image, sigma) -> where
    * (bw > 0) -> the iterated fit/burn loop (utilities.py:977-985). */
  def iterLines(images: Dataset[ImageRow], noIter: Int, lowT: Double,
                highT: Double, sigma: Double = 3.0, orient: String = "col",
                residual: Double = 1.0, band: Int = 0,
                exhaustiveMax: Int = 64, maxTrials: Int = 2500,
                seed: Long = 42L)
               (implicit spark: SparkSession): DataFrame =
    iterFit(Hough.edgePixels(Edge.canny(images, lowT, highT, sigma, band)),
      noIter, orient, residual, exhaustiveMax, maxTrials, seed)

  /** Fit + burn: one output row per burned pixel (image_id, strip, x, y).
    * In col mode each edge pixel's ROW drives a predicted COLUMN
    * (duplicates collapse — raster burn has set semantics). */
  def lines(images: Dataset[ImageRow], binwidth: Int, orient: String = "col",
            residual: Double = 1.0, thresh: Double = 0.0, band: Int = 0,
            exhaustiveMax: Int = 64, maxTrials: Int = 2500, seed: Long = 42L)
           (implicit spark: SparkSession): DataFrame = {
    val colMode = orient == "col"
    val edgePx = Hough.edgePixels(images, band, thresh)
    val models = fit(edgePx, binwidth, orient, residual, exhaustiveMax, maxTrials, seed)
    burnPredictions(edgePx, models, binwidth, colMode)
  }

  /** The burn of [[lines]]: every edge pixel of a fitted strip burns the
    * model's predicted cross coordinate at its driving coordinate,
    * in-raster burns only. `edgePx` is (image_id, w, h, x, y), `models`
    * is [[fit]]'s output. */
  private[graft] def burnPredictions(edgePx: DataFrame, models: DataFrame,
                                     binwidth: Int, colMode: Boolean): DataFrame = {
    val stripCol = if (colMode) col("x") else col("y")
    val px = edgePx.withColumn("strip", floor(stripCol / binwidth).cast("int"))
    // round-half-up via exact integer arithmetic: pred = base +
    // floorDiv(2*d_cross*delta + d_drive, 2*d_drive), d_drive > 0 because
    // pairs are row-major ordered (col mode: yb > ya; row mode the model
    // may have xb < xa — normalize to positive denominator first)
    val joined = px.join(models, Seq("image_id", "strip"))
    val (dDrive, dCross, base, refA, drive) =
      if (colMode)
        (col("yb") - col("ya"), col("xb") - col("xa"), col("xa"), col("ya"), col("y"))
      else
        (col("xb") - col("xa"), col("yb") - col("ya"), col("ya"), col("xa"), col("x"))
    // LONG arithmetic end-to-end (the iterFit kernel uses 2L* for the
    // same reason): num*2 on int columns wraps silently under Spark's
    // non-ANSI multiply for coordinates near the raster-size limit —
    // "exact integer arithmetic" must mean exact at any raster size.
    // |num| < 2^62 for int coordinates, so num*2 + den fits a Long; the
    // floor division stays in Long too (a double holds only 53 bits):
    // floorDiv(a, b) = (a - pmod(a, b)) div b for b > 0, and the `div`
    // is exact because its dividend is a multiple of b.
    val den = abs(dDrive).cast("long")
    val num = when(dDrive > 0, dCross.cast("long") * (drive - refA))
      .otherwise(-dCross.cast("long") * (drive - refA))
    val (a, b) = (num * 2 + den, den * 2)
    val pred = base + call_function("div", a - pmod(a, b), b).cast("int")
    val burnX = if (colMode) pred else col("x")
    val burnY = if (colMode) col("y") else pred
    // in-raster burns only — same deliberate deviation from the numpy
    // wrap/IndexError burn as iterFit (see there); px carries w/h from
    // edgePixels so the bound is per image, zero extra shuffle
    joined.where(burnX >= 0 && burnX < col("w") &&
        burnY >= 0 && burnY < col("h"))
      .select(col("image_id"), col("strip"),
        burnX.as("x"), burnY.as("y"))
      .distinct()
  }
}
