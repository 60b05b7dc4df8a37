package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import graft.core.PixelCodec
import graft.gen.GridImages
import graft.operators.{ImageOps, Rag}

class RagSpec extends AnyFunSuite {
  implicit lazy val spark: SparkSession = SparkTestSession.spark

  test("mergeHierarchical: count-weighted mean recomputation decides") {
    // A-B weak (w=1); A-C w=10 count 2; B-C w=40 count 6.
    // After A+B: (AB)-C = (10*2 + 40*6)/8 = 32.5
    val edges = Seq((1L, 2L, 2.0, 2L), (1L, 3L, 20.0, 2L), (2L, 3L, 240.0, 6L))
    // thresh 30: A+B merge (1 < 30); combined 32.5 >= 30 -> C survives
    val m1 = Rag.mergeHierarchical(edges, thresh = 30.0)
    assert(m1(1L) == 1L && m1(2L) == 1L && m1(3L) == 3L)
    // thresh 40: combined 32.5 < 40 -> all merge to 1
    val m2 = Rag.mergeHierarchical(edges, thresh = 40.0)
    assert(m2(1L) == 1L && m2(2L) == 1L && m2(3L) == 1L)
    // thresh 0.5: nothing merges
    val m3 = Rag.mergeHierarchical(edges, thresh = 0.5)
    assert(m3 == Map(1L -> 1L, 2L -> 2L, 3L -> 3L))
  }

  test("mergeHierarchical: chain merges cascade in min-weight order") {
    val edges = Seq((1L, 2L, 5.0, 1L), (2L, 3L, 8.0, 1L), (3L, 4L, 100.0, 1L))
    val m = Rag.mergeHierarchical(edges, thresh = 50.0)
    assert(m(1L) == 1L && m(2L) == 1L && m(3L) == 1L && m(4L) == 4L)
  }

  /** The round-4 full-scan merge (O(V·E) minBy rescans), kept here as
    * the bit-parity reference for the lazy-deletion PQ rewrite. */
  private def naiveMerge(edges: Seq[(Long, Long, Double, Long)],
                         thresh: Double): Map[Long, Long] = {
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    val adj = scala.collection.mutable.HashMap.empty[(Long, Long), (Double, Long)]
    edges.foreach { case (a, b, s, c) =>
      val k = (math.min(a, b), math.max(a, b))
      val (s0, c0) = adj.getOrElse(k, (0.0, 0L))
      adj(k) = (s0 + s, c0 + c)
    }
    var continue = true
    while (continue && adj.nonEmpty) {
      val ((la, lb), (s, c)) = adj.minBy { case ((a, b), (s2, c2)) => (s2 / c2, a, b) }
      if (s / c >= thresh) continue = false
      else {
        val keep = math.min(find(la), find(lb))
        val drop = math.max(find(la), find(lb))
        parent(drop) = keep
        val touched = adj.toSeq.filter { case ((a, b), _) =>
          a == la || b == la || a == lb || b == lb
        }
        touched.foreach { case (k, _) => adj.remove(k) }
        touched.foreach { case ((a, b), (es, ec)) =>
          val other = if (a == la || a == lb) b else a
          if (other != la && other != lb) {
            val k = (math.min(keep, find(other)), math.max(keep, find(other)))
            if (k._1 != k._2) {
              val (s0, c0) = adj.getOrElse(k, (0.0, 0L))
              adj(k) = (s0 + es, c0 + ec)
            }
          }
        }
      }
    }
    val labels = edges.flatMap(e => Seq(e._1, e._2)).distinct
    labels.map(l => l -> find(l)).toMap
  }

  test("mergeHierarchical PQ == full-scan reference on random graphs") {
    val rnd = new scala.util.Random(42)
    for (_ <- 0 until 50) {
      val n = 3 + rnd.nextInt(14)
      val edges = for {
        a <- 1 to n; b <- (a + 1) to n if rnd.nextDouble() < 0.45
      } yield (a.toLong, b.toLong,
        (1 + rnd.nextInt(200)).toDouble, (1L + rnd.nextInt(4)))
      if (edges.nonEmpty) {
        val thresh = 1 + rnd.nextInt(120)
        val fast = Rag.mergeHierarchical(edges, thresh)
        val slow = naiveMerge(edges, thresh)
        assert(fast == slow, s"divergence at thresh=$thresh edges=$edges")
      }
    }
  }

  test("mergeHierarchical survives a deep absorption lineage (iterative find)") {
    // path graph whose weights DECREASE along the chain: the kept root
    // of each merge is absorbed by the next one, building a k-deep
    // parent lineage — a recursive find would blow the stack here
    val k = 200000
    val edges = (1 until k).map(i => (i.toLong, i + 1L, (k - i).toDouble, 1L))
    val m = Rag.mergeHierarchical(edges, thresh = k.toDouble + 1)
    assert(m(k.toLong) == 1L && m(2L) == 1L && m.values.forall(_ == 1L))
  }

  test("ragMerge is fully lazy and merges executor-side (no driver collect)") {
    val segs = spark.createDataset(GridImages.ragSegImages(4).toSeq)(
      org.apache.spark.sql.Encoders.product[ImageRow])
    val imgs = spark.createDataset(GridImages.ragImages(4).toSeq)(
      org.apache.spark.sql.Encoders.product[ImageRow])
    val (p, jobs) = SparkJobs.during(spark)(
      Rag.ragMerge(segs, imgs, thresh = 100.0).queryExecution.executedPlan.toString)
    assert(jobs == 0,
      s"building the ragMerge plan launched $jobs job(s) — driver-side work crept back")
    assert(p.contains("MapGroups"),
      s"per-image merge must run executor-side via mapGroups:\n$p")
  }

  test("ragMerge: per-image maxEdges fail-fast fires per image, not globally") {
    val segs = spark.createDataset(GridImages.ragSegImages(4).toSeq)(
      org.apache.spark.sql.Encoders.product[ImageRow])
    val imgs = spark.createDataset(GridImages.ragImages(4).toSeq)(
      org.apache.spark.sql.Encoders.product[ImageRow])
    // each fixture image has 2-3 RAG edges: a per-image cap of 3 passes
    // even though 4 images x 2-3 edges > 3 in total (the round-4 GLOBAL
    // cap would have tripped here)
    val ok = Rag.ragMerge(segs, imgs, thresh = 100.0, maxEdgesPerImage = 3)
    assert(ok.count() == 4L * 80 * 48)
    // a cap of 1 must fail loudly (every image has >= 2 edges)
    val boom = intercept[org.apache.spark.SparkException] {
      Rag.ragMerge(segs, imgs, thresh = 100.0, maxEdgesPerImage = 1).count()
    }
    assert(boom.getMessage.contains("per-image merge contract")
      || Option(boom.getCause).exists(_.getMessage.contains("per-image merge contract")))
  }

  test("buildBoundary: straight-edge weights match the Sobel step closed form") {
    val segs = spark.createDataset(GridImages.ragSegImages(2).toSeq)(
      org.apache.spark.sql.Encoders.product[ImageRow])
    val imgs = spark.createDataset(GridImages.ragImages(2).toSeq)(
      org.apache.spark.sql.Encoders.product[ImageRow])
    val rag = Rag.buildBoundary(segs, imgs).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)) ->
        (r.getDouble(3) / r.getLong(4)))
      .toMap
    // image 0 (even): A|B step = 2 -> interior pair endpoints are 8;
    // junction rows add bounded cross terms. Weight must sit in (8, 100)
    val wAB = rag(("g000", 1L, 2L))
    assert(wAB > 7.9 && wAB < 40, s"wAB=$wAB")
    val wAC = rag(("g000", 1L, 3L))
    assert(wAC > 10 && wAC < 100, s"wAC=$wAC") // step 5 -> ~20
    // image 1 (odd): C=150 -> both C edges far above thresh
    assert(rag(("g001", 1L, 3L)) > 100 && rag(("g001", 2L, 3L)) > 100)
  }

  test("ragMerge end-to-end: even images fully merge, odd keep the bottom") {
    val segs = spark.createDataset(GridImages.ragSegImages(4).toSeq)(
      org.apache.spark.sql.Encoders.product[ImageRow])
    val imgs = spark.createDataset(GridImages.ragImages(4).toSeq)(
      org.apache.spark.sql.Encoders.product[ImageRow])
    val out = Rag.ragMerge(segs, imgs, thresh = 100.0).collect()
      .groupBy(r => (r.getString(0), r.getLong(3)))
      .view.mapValues(_.length).toMap
    for (i <- 0 until 4) {
      val id = f"g$i%03d"
      if (i % 2 == 0) assert(out((id, 1L)) == 80 * 48 && !out.contains((id, 3L)))
      else {
        val sy = GridImages.ragSplitY(i.toLong)
        assert(out((id, 1L)) == 80 * sy)
        assert(out((id, 3L)) == 80 * (48 - sy))
      }
    }
  }

  test("mergeHierarchical rejects self-loop edges loudly") {
    val ex = intercept[IllegalArgumentException] {
      Rag.mergeHierarchical(Seq((3L, 3L, 1.0, 1L)), thresh = 10.0)
    }
    assert(ex.getMessage.contains("self-loop"))
  }

  test("ragMerge fails loudly when a segmentation has no raster") {
    val segs = spark.createDataset(GridImages.ragSegImages(2).toSeq)(
      org.apache.spark.sql.Encoders.product[ImageRow])
    val imgs = spark.createDataset(GridImages.ragImages(1).toSeq)(
      org.apache.spark.sql.Encoders.product[ImageRow])
    // one seg's raster is missing -> its rows must not silently pass
    // through unmerged; the task fails with the contract message
    val ex = intercept[Exception] {
      Rag.ragMerge(segs, imgs, thresh = 100.0).count()
    }
    def causes(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ causes(t.getCause)
    assert(causes(ex).exists(_.contains("no matching raster")), causes(ex).mkString(" | "))
  }

  test("ragMerge on a single-region segmentation: labels pass through") {
    val w = 20; val h = 10
    val seg = Array.fill(w * h)(7f)
    val img = Array.tabulate(w * h)(p => (p % 13).toFloat)
    val segDs = spark.createDataset(Seq(
      ImageOps.fromArray("r0", Array(seg), w, h, 0, 0, 1.0, PixelCodec.FmtRawLe)))(
      org.apache.spark.sql.Encoders.product[ImageRow])
    val imgDs = spark.createDataset(Seq(
      ImageOps.fromArray("r0", Array(img), w, h, 0, 0, 1.0, PixelCodec.FmtRawLe)))(
      org.apache.spark.sql.Encoders.product[ImageRow])
    val out = Rag.ragMerge(segDs, imgDs, thresh = 10.0).collect()
    assert(out.length == w * h)
    assert(out.forall(_.getLong(3) == 7L), "single region keeps its label")
  }
}
