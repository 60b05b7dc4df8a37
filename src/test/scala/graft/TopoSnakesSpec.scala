package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import graft.core.PixelCodec
import graft.gen.GridImages
import graft.operators.{ImageOps, Snakes, TopoSnakes}

class TopoSnakesSpec extends AnyFunSuite {
  implicit lazy val spark: SparkSession = SparkTestSession.spark

  test("Zhang-Suen skeleton: thin, contained, nonempty on a bar") {
    val w = 20; val h = 12
    val fg = Array.tabulate(w * h) { p =>
      val x = p % w; val y = p / w
      x >= 2 && x <= 17 && y >= 4 && y <= 8 // 16x5 bar
    }
    val sk = TopoSnakes.skeletonize(fg, w, h)
    assert(sk.count(identity) > 0)
    for (p <- sk.indices if sk(p)) assert(fg(p), "skeleton inside the mask")
    // thin: no skeleton pixel has a full 3x3 skeleton neighborhood
    for (y <- 1 until h - 1; x <- 1 until w - 1 if sk(y * w + x)) {
      val full = (for (dy <- -1 to 1; dx <- -1 to 1)
        yield sk((y + dy) * w + x + dx)).forall(identity)
      assert(!full, s"thick skeleton at ($x,$y)")
    }
    // the bar's midline row survives end to end (minus endpoint erosion)
    assert((6 to 13).forall(x => sk(6 * w + x)))
  }

  test("skeleton barrier keeps growing seeds separate; without it they merge") {
    // bright 40x20 rect, two 6x6 seeds inside, 10-px bright corridor
    val w = 80; val h = 48
    val img = Array.tabulate(w * h) { p =>
      val x = p % w; val y = p / w
      if (x >= 10 && x <= 49 && y >= 10 && y <= 29) 90f else 10f
    }
    val seed = Array.tabulate(w * h) { p =>
      val x = p % w; val y = p / w
      val s1 = x >= 14 && x <= 19 && y >= 16 && y <= 21
      val s2 = x >= 40 && x <= 45 && y >= 16 && y <= 21
      if (s1 || s2) 1f else 0f
    }
    val imgs = spark.createDataset(Seq(
      ImageOps.fromArray("t0", Array(img), w, h, 0, 0, 1.0, PixelCodec.FmtRawLe)))(
      org.apache.spark.sql.Encoders.product[ImageRow])
    val segs = spark.createDataset(Seq(
      ImageOps.fromArray("t0", Array(seed), w, h, 0, 0, 1.0, PixelCodec.FmtRawLe)))(
      org.apache.spark.sql.Encoders.product[ImageRow])
    val comps = TopoSnakes.topoSnakes(segs, imgs, iterations = 30)
      .collect().map(_.getInt(1)).distinct.sorted
    assert(comps.sameElements(Array(1, 2)), s"topo-preserved: ${comps.mkString(",")}")

    // control: plain whole-image ACWE from the same init merges the seeds
    val fin = Snakes.acwe(img, w, h, seed.map(v => if (v > 0) 1.toByte else 0.toByte),
      iterations = 30)
    val (lab, areas) = graft.operators.Components.label4(fin.map(_ == 1), w, h)
    assert(areas.length == 1, s"control should merge, got ${areas.length} components")
  }

  test("localMaxMask: min-distance suppression and plateau ties") {
    val w = 30; val h = 10
    val pix = new Array[Float](w * h)
    pix(5 * w + 5) = 50f
    pix(5 * w + 8) = 40f  // within dist 4 of the 50 -> suppressed
    pix(5 * w + 20) = 30f // far away -> its own peak
    pix(2 * w + 20) = 30f // 3 away from the other 30: plateau-equal -> both peaks
    val m = TopoSnakes.localMaxMask(pix, w, h, 4)
    assert(m(5 * w + 5) && !m(5 * w + 8))
    assert(m(5 * w + 20) && m(2 * w + 20))
    assert(m.count(identity) == 3)
  }

  test("topoSeg self-seeds to the blob rectangles on the zero-background fixture") {
    val imgs = spark.createDataset(GridImages.snakeZeroImages(2).toSeq)(
      org.apache.spark.sql.Encoders.product[ImageRow])
    val got = graft.operators.TopoSnakes.topoSeg(imgs, dist = 3, se = 3,
      iterations = 4, smoothing = 0).collect()
      .groupBy(r => (r.getString(0), r.getInt(1)))
    for (i <- 0 until 2) {
      val id = f"g$i%03d"
      val b1 = GridImages.snakeB1(i.toLong); val b2 = GridImages.snakeB2(i.toLong)
      val g1 = got((id, 1)).map(r => (r.getInt(2), r.getInt(3))).toSet
      val g2 = got((id, 2)).map(r => (r.getInt(2), r.getInt(3))).toSet
      assert(g1 == (for (x <- b1._1 to b1._3; y <- b1._2 to b1._4) yield (x, y)).toSet)
      assert(g2 == (for (x <- b2._1 to b2._3; y <- b2._2 to b2._4) yield (x, y)).toSet)
    }
  }

  test("GAC path: balloon erosion shrinks one ring per iteration") {
    // exactly-flat image: gradient = 0 -> gimg = 1 everywhere -> with
    // threshold 0.5 and balloon -1 the evolution is pure erosion
    val w = 40; val h = 30
    val flat = Array.fill(w * h)(10f)
    val seg = Array.tabulate(w * h) { p =>
      val x = p % w; val y = p / w
      if (x >= 8 && x <= 29 && y >= 6 && y <= 23) 1f else 0f
    }
    val imgs = spark.createDataset(Seq(
      ImageOps.fromArray("f0", Array(flat), w, h, 0, 0, 1.0, PixelCodec.FmtRawLe)))(
      org.apache.spark.sql.Encoders.product[ImageRow])
    val segs = spark.createDataset(Seq(
      ImageOps.fromArray("f0", Array(seg), w, h, 0, 0, 1.0, PixelCodec.FmtRawLe)))(
      org.apache.spark.sql.Encoders.product[ImageRow])
    val got = graft.operators.TopoSnakes.topoSnakes(segs, imgs, algo = "GAC",
      iterations = 3, smoothing = 0, threshold = 0.5, balloon = -1)
      .collect().map(r => (r.getInt(2), r.getInt(3))).toSet
    val want = (for (x <- 11 to 26; y <- 9 to 20) yield (x, y)).toSet
    assert(got == want, s"3-ring erosion: got ${got.size}, want ${want.size}")
  }

  test("topoSeg GAC: flat image self-seeds everywhere, erodes from borders") {
    val w = 40; val h = 30
    val flat = Array.fill(w * h)(10f)
    val imgs = spark.createDataset(Seq(
      ImageOps.fromArray("f0", Array(flat), w, h, 0, 0, 1.0, PixelCodec.FmtRawLe)))(
      org.apache.spark.sql.Encoders.product[ImageRow])
    val got = graft.operators.TopoSnakes.topoSeg(imgs, algo = "GAC",
      iterations = 3, dist = 2, se = 3, smoothing = 0,
      threshold = 0.5, balloon = -1)
      .collect().map(r => (r.getInt(2), r.getInt(3))).toSet
    val want = (for (x <- 3 until w - 3; y <- 3 until h - 3) yield (x, y)).toSet
    assert(got == want, s"border erosion: got ${got.size}, want ${want.size}")
  }

  test("stationary blobs pass through unchanged (the q_toposnake contract)") {
    val segs = spark.createDataset(GridImages.snakeSegImages(3).toSeq)(
      org.apache.spark.sql.Encoders.product[ImageRow])
    val imgs = spark.createDataset(GridImages.snakeImages(3).toSeq)(
      org.apache.spark.sql.Encoders.product[ImageRow])
    val got = TopoSnakes.topoSnakes(segs, imgs, iterations = 5, smoothing = 0).collect()
      .groupBy(r => (r.getString(0), r.getInt(1)))
    for (i <- 0 until 3) {
      val id = f"g$i%03d"
      val b1 = GridImages.snakeB1(i.toLong); val b2 = GridImages.snakeB2(i.toLong)
      val g1 = got((id, 1)).map(r => (r.getInt(2), r.getInt(3))).toSet
      val g2 = got((id, 2)).map(r => (r.getInt(2), r.getInt(3))).toSet
      assert(g1 == (for (x <- b1._1 to b1._3; y <- b1._2 to b1._4) yield (x, y)).toSet)
      assert(g2 == (for (x <- b2._1 to b2._3; y <- b2._2 to b2._4) yield (x, y)).toSet)
    }
  }
}
