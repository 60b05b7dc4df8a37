package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import graft.{ImageRow, PolyRow}

/**
 * thresh_seg (/root/reference/geospatial_learn/shape.py:2246-2410):
 * per polygon, clip the raster to the buffered feature bbox, mask to
 * the rasterized feature, Otsu-threshold the masked window, fill small
 * holes (area < holeArea), remove small objects (area < minArea/px^2),
 * and emit the surviving foreground pixels labeled by feature.
 *
 * Spark shape: identical to [[Snakes.msSnake]] — polygons ride a
 * bounded broadcast ([[PolyLayer.collect]]), each (image x hitting
 * polygon) window ([[PolyLayer.perImage]]) is a bounded per-row
 * kernel inside one flatMap, zero shuffle until the final
 * grouped composition. The per-window Otsu uses the engine's EXACT
 * distinct-value argmax (the documented deviation from skimage's
 * 256-bin histogram, same as RasterOps.otsuThreshold) — deterministic
 * and SQL-replayable. Reference overlap semantics are a sequential
 * WriteArray artifact (later features clobber earlier ones including
 * their zero pixels); the engine composes overlaps relationally with
 * max(poly_id) per pixel — deterministic, documented deviation.
 *
 * skimage parity notes: remove_small_holes / remove_small_objects use
 * 4-connected components with strict `< area` removal (skimage
 * connectivity=1 defaults); holes are filled BEFORE objects are
 * removed, exactly the reference call order (shape.py:2381-2388).
 */
object ThreshSeg {

  /** skimage remove_small_holes: fill background components < area. */
  private[graft] def fillSmallHoles(bw: Array[Boolean], w: Int, h: Int,
                                        area: Int): Unit = {
    val bg = bw.map(!_)
    val (lab, areas) = Components.label4(bg, w, h)
    var p = 0
    while (p < bw.length) {
      if (!bw(p) && areas(lab(p)) < area) bw(p) = true
      p += 1
    }
  }

  /** skimage remove_small_objects: drop foreground components < minSize. */
  private[graft] def removeSmallObjects(bw: Array[Boolean], w: Int, h: Int,
                                            minSize: Int): Unit = {
    val (lab, areas) = Components.label4(bw, w, h)
    var p = 0
    while (p < bw.length) {
      if (bw(p) && areas(lab(p)) < minSize) bw(p) = false
      p += 1
    }
  }

  /** Exact distinct-value Otsu over a bounded window (values array):
    * the same between-class-variance argmax as RasterOps.otsuThreshold,
    * executor-local because the window is bounded by construction. */
  private[operators] def otsuLocal(vals: Array[Float]): Double = {
    val hist = new java.util.TreeMap[Double, Long]()
    var i = 0
    while (i < vals.length) {
      val v = vals(i)
      if (!v.isNaN) {
        val d = if (v == 0f) 0.0 else v.toDouble
        hist.merge(d, 1L, (a, b) => a + b)
      }
      i += 1
    }
    import scala.jdk.CollectionConverters._
    // entrySet().asScala is a SET — mapping it would scramble the
    // TreeMap's ascending order; the iterator preserves it
    val h = hist.entrySet().iterator().asScala
      .map(e => (e.getKey, e.getValue.toDouble)).toArray
    RasterOps.otsuArgmax(h)
  }

  /** Segment pixels: (image_id, poly_id, thr, x, y) — one row per
    * surviving foreground pixel; overlaps compose by max(poly_id)
    * downstream (the caller groups). minArea is in map units (the
    * reference divides by px^2, shape.py:2384-2390). */
  def threshSeg(images: Dataset[ImageRow], polys: Dataset[PolyRow],
                band: Int = 0, buf: Double = 0.0, minArea: Double = 4.0,
                holeArea: Int = 4)
               (implicit spark: SparkSession): DataFrame =
    threshSeg(images, polys, band, buf, minArea, holeArea, PolyLayer.MaxBroadcastRingBytes)

  private[operators] def threshSeg(images: Dataset[ImageRow], polys: Dataset[PolyRow],
                                   band: Int, buf: Double, minArea: Double,
                                   holeArea: Int, maxRingBytes: Long)
                                  (implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    PolyLayer.perImage(images, polys, buf, band, maxRingBytes) {
      case (im, pix, part, PolyLayer.ImageWindow(cx0, cy0, ww, wh)) =>
        // src * rasterized-mask (reference shape.py:2360-2361)
        val win = new Array[Float](ww * wh)
        var r = 0
        while (r < wh) {
          var c = 0
          while (c < ww) {
            val gx = cx0 + c; val gy = cy0 + r
            val wx = im.x_min + (gx + 0.5) * im.px
            val wy = im.y_max - (gy + 0.5) * im.px
            win(r * ww + c) =
              if (part.poly.contains(wx, wy)) pix(gy * im.w + gx)
              else 0f
            c += 1
          }
          r += 1
        }
        // reference skips max==0; NaN-only windows (a polygon whose
        // window is all nodata) must skip too — otsuLocal drops NaNs
        // and would face an empty histogram
        if (win.forall(v => v == 0f || v.isNaN)) Iterator.empty
        else {
          val thr = otsuLocal(win)
          val bw = win.map(_ > thr)
          fillSmallHoles(bw, ww, wh, holeArea)
          // reference: round(min_area/px^2), fall back to 4 iff <= 0
          val minPx0 = math.round(minArea / (im.px * im.px)).toInt
          removeSmallObjects(bw, ww, wh, if (minPx0 <= 0) 4 else minPx0)
          val out = scala.collection.mutable.ArrayBuffer
            .empty[(String, Long, Double, Int, Int)]
          var p = 0
          while (p < bw.length) {
            if (bw(p))
              out += ((im.image_id, part.polyId, thr, cx0 + p % ww, cy0 + p / ww))
            p += 1
          }
          out.iterator
        }
    }.toDF("image_id", "poly_id", "thr", "x", "y")
  }
}
