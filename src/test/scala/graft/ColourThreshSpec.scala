package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.functions.PxFunctions
import graft.gen.GridImages
import graft.operators.{RasterOps, Tiler}

/** colour_thresh's HSV convert + inRange core (utilities.py:1642-1716).
  * The expression's conventions are pinned against hand-computed HSV
  * values on the cv2 primaries, the mask against a naive per-pixel
  * reimplementation over the grid fixture, and the operator end-to-end
  * (masked bands = bitwise_and analog, zero-shuffle plan). */
class ColourThreshSpec extends AnyFunSuite {
  implicit lazy val spark: SparkSession = SparkTestSession.spark
  import spark.implicits._

  /** Reference-convention HSV (doc'd in PxRuntime.hsvInRange). */
  private def hsv(r: Double, g: Double, b: Double): (Double, Double, Double) = {
    val v = math.max(r, math.max(g, b))
    val d = v - math.min(r, math.min(g, b))
    var h =
      if (d == 0) 0.0
      else if (v == r) 60.0 * (g - b) / d
      else if (v == g) 120.0 + 60.0 * (b - r) / d
      else 240.0 + 60.0 * (r - g) / d
    if (h < 0) h += 360.0
    (h / 2.0, if (v == 0) 0.0 else d * 255.0 / v, v)
  }

  private def maskOf(rows: Seq[(Array[Float], Array[Float], Array[Float])],
                     lo: (Double, Double, Double), hi: (Double, Double, Double)): Seq[Seq[Float]] =
    rows.toDF("r", "g", "b")
      .select(PxFunctions.hsvInRange(col("r"), col("g"), col("b"),
        lo._1, hi._1, lo._2, hi._2, lo._3, hi._3))
      .as[Seq[Float]].collect().toSeq

  test("cv2 primary/secondary hues land on the 8-bit OpenCV scale") {
    // (r,g,b) -> expected (h, s, v) on cv2's uint8 scale
    val cases = Seq(
      (255f, 0f, 0f)     -> (0.0, 255.0, 255.0),   // red
      (255f, 255f, 0f)   -> (30.0, 255.0, 255.0),  // yellow
      (0f, 255f, 0f)     -> (60.0, 255.0, 255.0),  // green
      (0f, 255f, 255f)   -> (90.0, 255.0, 255.0),  // cyan
      (0f, 0f, 255f)     -> (120.0, 255.0, 255.0), // blue
      (255f, 0f, 255f)   -> (150.0, 255.0, 255.0), // magenta (wraps: -60 -> 300)
      (128f, 128f, 128f) -> (0.0, 0.0, 128.0),     // grey: d == 0
      (0f, 0f, 0f)       -> (0.0, 0.0, 0.0))       // black: v == 0 guard
    cases.foreach { case ((r, g, b), (eh, es, ev)) =>
      val (h, s, v) = hsv(r, g, b)
      assert((h, s, v) == ((eh, es, ev)), s"rgb=($r,$g,$b)")
      // the expression agrees: a window containing exactly this point passes
      val m = maskOf(Seq((Array(r), Array(g), Array(b))),
        (eh, es, ev), (eh, es, ev))
      assert(m == Seq(Seq(1f)), s"closed-range containment at rgb=($r,$g,$b)")
    }
  }

  test("mask == naive per-pixel reimplementation over the grid fixture") {
    val imgs = GridImages.images(4, bands = 3)
    val rows = imgs.map { im =>
      val bs = graft.core.PixelCodec.decode(im.bytes, im.fmt, im.w, im.h).bands
      (bs(0), bs(1), bs(2))
    }
    val (lo, hi) = ((20.0, 60.0, 20.0), (160.0, 255.0, 255.0))
    val got = maskOf(rows, lo, hi)
    rows.zip(got).foreach { case ((r, g, b), m) =>
      val want = r.indices.map { i =>
        val (h, s, v) = hsv(r(i), g(i), b(i))
        if (h >= lo._1 && h <= hi._1 && s >= lo._2 && s <= hi._2 &&
          v >= lo._3 && v <= hi._3) 1f else 0f
      }
      assert(m == want)
    }
    // the window is non-trivial on this fixture: both classes present
    val flat = got.flatten
    assert(flat.contains(1f) && flat.contains(0f))
  }

  test("null band element propagates to a null mask element") {
    val df = Seq(1).toDF("i").select(
      array(lit(255f), lit(null).cast("float")).as("r"),
      array(lit(0f), lit(0f)).as("g"),
      array(lit(0f), lit(0f)).as("b"))
    val m = df.select(PxFunctions.hsvInRange(col("r"), col("g"),
      col("b"), 0, 180, 0, 255, 0, 255)).as[Seq[Option[Float]]].head()
    assert(m == Seq(Some(1f), None))
  }

  test("misaligned band arrays fail fast") {
    val df = Seq(1).toDF("i").select(
      array(lit(1f), lit(2f)).as("r"), array(lit(1f)).as("g"), array(lit(1f)).as("b"))
    val ex = intercept[Exception] {
      df.select(PxFunctions.hsvInRange(col("r"), col("g"),
        col("b"), 0, 180, 0, 255, 0, 255)).collect()
    }
    assert(ex.getMessage.contains("px_hsv_in_range") ||
      Option(ex.getCause).exists(_.getMessage.contains("px_hsv_in_range")))
  }

  test("colourThresh operator: masked bands are the bitwise_and analog; plan has no shuffle") {
    val cellRes = Tiler.resForCellSize(64.0)
    val tiles = Tiler.multiTiles(
      spark.createDataset(GridImages.images(4, bands = 3)), 64, cellRes)
    val out = RasterOps.colourThresh(tiles, 20, 160, 60, 255, 20, 255)
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"colourThresh must be shuffle-free:\n$plan")
    out.select("mask", "r", "g", "b").as[(Seq[Float], Seq[Float], Seq[Float], Seq[Float])]
      .collect().foreach { case (m, r, g, b) =>
        assert(m.forall(x => x == 0f || x == 1f))
        Seq(r, g, b).foreach { band =>
          band.indices.foreach { i =>
            if (m(i) == 0f) assert(band(i) == 0f)
          }
        }
      }
  }
}
