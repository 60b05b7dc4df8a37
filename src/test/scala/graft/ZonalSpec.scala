package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{Encoders, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{Geom, GridIndex, PixelCodec}
import graft.gen.Synth
import graft.operators.{Tiler, ZonalStats, SpatialJoin, Knn}

/** The session every spec shares, built by the mains' own builder. */
object SparkTestSession {
  lazy val spark: SparkSession = Harness.session(4, "graft-test",
    "spark.sql.shuffle.partitions" -> "8",
    // saveAsTable targets (bucketed-table specs) land in /tmp, never cwd
    "spark.sql.warehouse.dir" ->
      java.nio.file.Files.createTempDirectory("graft_wh_").toString)
}

/** Flagship acceptance gate (SURVEY §7 Stage 2): the distributed
  * tile->join->PIP->agg pipeline must equal a naive single-threaded
  * reference loop that mirrors the Python semantics
  * (shape.py:932-1078) exactly. */
class ZonalSpec extends AnyFunSuite {
  implicit lazy val spark: SparkSession = SparkTestSession.spark
  import spark.implicits._

  val nImages = 24
  val images = Synth.images(nImages, seed = 42L, bands = 2)
  val polys = Synth.polygons(nExtra = 6)
  val cellRes = Tiler.resForCellSize(64.0) // 64-unit cells; tiles 64 px @ px=1

  /** Naive oracle: per-feature, per-pixel loop — the reference's exact
    * execution shape (bbox window, nodata skip, PIP mask, stat). */
  def naiveHistogram(): Map[(Long, Int), Map[Float, Long]] = {
    val acc = scala.collection.mutable.HashMap
      .empty[(Long, Int), scala.collection.mutable.HashMap[Float, Long]]
    for (img <- images) {
      val dec = PixelCodec.decode(img.bytes, img.fmt, img.w, img.h)
      // group multipolygon parts by poly_id: pixel counts once per part hit
      for (p <- polys) {
        val rings: Geom.Rings = p.rings.map(_.map(q => (q.x, q.y)))
        val bb = Geom.bbox(rings)
        for (band <- dec.bands.indices) {
          val m = acc.getOrElseUpdate((p.poly_id, band),
            scala.collection.mutable.HashMap.empty[Float, Long])
          var row = 0
          while (row < img.h) {
            val cy = img.y_max - (row + 0.5) * img.px
            if (cy >= bb.y0 && cy <= bb.y1) {
              var colI = 0
              while (colI < img.w) {
                val cx = img.x_min + (colI + 0.5) * img.px
                if (cx >= bb.x0 && cx <= bb.x1 &&
                    Geom.pointInPolygon(cx, cy, rings)) {
                  val v = dec.bands(band)(row * img.w + colI)
                  if (!v.isNaN) m.update(v, m.getOrElse(v, 0L) + 1L)
                }
                colI += 1
              }
            }
            row += 1
          }
        }
      }
    }
    acc.map { case (k, v) => k -> v.toMap }.toMap
  }

  lazy val naive = naiveHistogram()

  lazy val engineHist: Map[(Long, Int), Map[Float, Long]] = {
    val imgDs = spark.createDataset(images.toSeq)
    val polyDs = spark.createDataset(polys.toSeq)
    val tiles = Tiler.tiles(imgDs, tileSize = 64, cellRes = cellRes)
    ZonalStats.histogram(tiles, polyDs, cellRes)
      .collect()
      .groupBy(r => (r.getLong(0), r.getInt(1)))
      .map { case (k, rows) =>
        k -> rows.map(r => r.getFloat(2) -> r.getLong(3)).toMap
      }
  }

  test("engine histogram == naive per-pixel reference loop (exact)") {
    val naiveNonEmpty = naive.filter(_._2.nonEmpty)
    assert(engineHist.keySet == naiveNonEmpty.keySet,
      s"poly/band key sets differ: engine-only=${engineHist.keySet -- naiveNonEmpty.keySet}, " +
        s"naive-only=${naiveNonEmpty.keySet -- engineHist.keySet}")
    for ((k, nv) <- naiveNonEmpty) {
      assert(engineHist(k) == nv, s"histogram mismatch for $k")
    }
    // sanity: the fixture polygons actually hit pixels
    assert(naiveNonEmpty.nonEmpty)
    assert(!naive.keySet.map(_._1).contains(-1L))
  }

  test("outside polygon gets no pixels; holed polygon excludes its hole") {
    // poly 5 is fully outside every image cluster
    assert(!engineHist.keySet.map(_._1).contains(5L))
  }

  test("zonal stats derived from histogram match direct computation") {
    val imgDs = spark.createDataset(images.toSeq)
    val polyDs = spark.createDataset(polys.toSeq)
    val tiles = Tiler.tiles(imgDs, tileSize = 64, cellRes = cellRes)
    val hist = ZonalStats.histogram(tiles, polyDs, cellRes)
    val stats = ZonalStats.stats(hist).collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r).toMap

    for ((k, hv) <- naive.filter(_._2.nonEmpty) if stats.contains(k)) {
      val values = hv.iterator.flatMap { case (v, c) => Iterator.fill(c.toInt)(v.toDouble) }.toArray.sorted
      val n = values.length
      val mean = values.sum / n
      val r = stats(k)
      assert(r.getAs[Long]("pix_count") == n, s"count $k")
      assert(math.abs(r.getAs[Double]("mean") - mean) < 1e-4, s"mean $k")
      assert(r.getAs[Double]("min") == values.head, s"min $k")
      assert(r.getAs[Double]("max") == values.last, s"max $k")
      val med = if (n % 2 == 1) values(n / 2) else (values(n / 2 - 1) + values(n / 2)) / 2.0
      assert(math.abs(r.getAs[Double]("median") - med) < 1e-4, s"median $k")
      val mode = hv.toSeq.map { case (v, c) => (v, c) }
        .sortBy { case (v, c) => (-c, v) }.head._1
      assert(r.getAs[Double]("mode") == mode.toDouble, s"mode $k")
      val variance = values.map(v => (v - mean) * (v - mean)).sum / n
      assert(math.abs(r.getAs[Double]("std") - math.sqrt(variance)) < 1e-3, s"std $k")
    }
  }

  test("ZonalStats.quantize bins continuous floats, passes nodata through") {
    val t = TileRow("q0", 0L, 0, 0, 0.0, 4.0, 1.0, 0,
      Array(0.1f, 0.9f, 1.6f, Float.NaN, -0.3f, 7f), 3, 2, 7f)
    val out = ZonalStats.quantize(
      spark.createDataset(Seq(t))(Encoders.product[TileRow]), width = 0.5)
      .collect().head.pixels
    // bin centers at width 0.5 anchored at 0: [0,0.5)->0.25 etc.
    assert(out(0) == 0.25f && out(1) == 0.75f && out(2) == 1.75f)
    assert(out(3).isNaN)          // NaN untouched
    assert(out(4) == -0.25f)      // negative values bin correctly
    assert(out(5) == 7f)          // nodata sentinel untouched
  }
}

class SpatialJoinSpec extends AnyFunSuite {
  implicit lazy val spark: SparkSession = SparkTestSession.spark
  import spark.implicits._

  val polys = Synth.polygons(nExtra = 10)
  val points = Synth.points(2000)

  test("pointsInPolygons == naive PIP loop") {
    val ptDf = spark.createDataset(points.toSeq).toDF()
    val polyDs = spark.createDataset(polys.toSeq)
    val got = SpatialJoin.pointsInPolygons(ptDf, polyDs, res = 13)
      .select("pt_id", "poly_id").as[(Long, Long)].collect().toSet

    val want = (for {
      p <- points
      poly <- polys
      rings: Geom.Rings = poly.rings.map(_.map(q => (q.x, q.y)))
      if Geom.pointInPolygon(p.x, p.y, rings)
    } yield (p.pt_id, poly.poly_id)).toSet

    assert(got == want,
      s"missing=${(want -- got).take(5)} extra=${(got -- want).take(5)}")
    assert(want.nonEmpty)
  }

  test("pointsInPolygonsGeo (S2 cover prefilter) == naive equirect PIP incl. high latitude") {
    // 4326-style features: boxes at equator / high north / polar band,
    // plus a concave chevron at 70N where planar grids degrade
    def box(id: Long, la0: Double, lo0: Double, la1: Double, lo1: Double) =
      PolyRow(id, 0, Array(Array(Pt(lo0, la0), Pt(lo1, la0), Pt(lo1, la1), Pt(lo0, la1))),
        cls = 1, name = s"g$id", measure = 0.0)
    val geoPolys = Seq(
      box(0L, -10.0, -20.0, 15.0, 30.0),
      box(1L, 55.0, 120.0, 80.0, 175.0),
      box(2L, -89.0, -60.0, -72.0, 60.0),
      PolyRow(3L, 0, Array(Array(Pt(-30.0, 65.0), Pt(10.0, 78.0), Pt(40.0, 65.0),
        Pt(40.0, 86.0), Pt(-30.0, 86.0))), cls = 1, name = "chevron", measure = 0.0))
    val geoPts = (0 until 3000).map { i =>
      (i.toLong, (i * 37 % 1780) / 10.0 - 89.0 + (i % 13) * 0.019,
        (i * 97 % 3580) / 10.0 - 179.0 + (i % 17) * 0.011)
    }
    val got = SpatialJoin.pointsInPolygonsGeo(
      geoPts.toDF("pt_id", "lat", "lng"),
      spark.createDataset(geoPolys), level = 7)
      .select("pt_id", "poly_id").as[(Long, Long)].collect().toSet
    val want = (for {
      (pid, lat, lng) <- geoPts
      poly <- geoPolys
      rings: Geom.Rings = poly.rings.map(_.map(q => (q.x, q.y)))
      if Geom.pointInPolygon(lng, lat, rings)
    } yield (pid, poly.poly_id)).toSet
    assert(got == want,
      s"missing=${(want -- got).take(5)} extra=${(got -- want).take(5)}")
    // every feature must actually match something, incl. the polar band
    assert(Seq(0L, 1L, 2L, 3L).forall(id => want.exists(_._2 == id)))
  }
}

class KnnSpec extends AnyFunSuite {
  implicit lazy val spark: SparkSession = SparkTestSession.spark
  import spark.implicits._

  test("knnJoin == naive exact kNN incl. sparse-query fallback and ties") {
    val pts = Synth.points(3000, seed = 11L)
    val queries = Synth.points(40, seed = 99L)
      .map(p => (p.pt_id, p.x, p.y))
    val ptDf = spark.createDataset(pts.toSeq).toDF()
    val qDf = queries.toDF("q_id", "x", "y")

    val k = 5
    val got = Knn.knnJoin(qDf, ptDf, k = k, res = 12, r1 = 2)
      .select("q_id", "pt_id", "rn").as[(Long, Long, Int)]
      .collect().groupBy(_._1)
      .map { case (q, rows) => q -> rows.sortBy(_._3).map(_._2).toSeq }

    val want = queries.map { case (qid, qx, qy) =>
      qid -> pts.map(p => (p.pt_id, (p.x - qx) * (p.x - qx) + (p.y - qy) * (p.y - qy)))
        .sortBy { case (id, d2) => (d2, id) }.take(k).map(_._1).toSeq
    }.toMap

    assert(got.keySet == want.keySet)
    for ((q, ids) <- want) assert(got(q) == ids, s"query $q")
  }

  test("knnJoinGreatCircle == naive haversine kNN (high latitude + antimeridian)") {
    // identical formula via the same JVM libm -> bit-identical doubles
    def hav(qlat: Double, qlng: Double, plat: Double, plng: Double): Double = {
      val dphi = math.toRadians(plat - qlat) / 2
      val dlmb = math.toRadians(plng - qlng) / 2
      val a = math.sin(dphi) * math.sin(dphi) +
        math.cos(math.toRadians(qlat)) * math.cos(math.toRadians(plat)) *
          math.sin(dlmb) * math.sin(dlmb)
      2 * 6371000.0 * math.asin(math.min(1.0, math.sqrt(a)))
    }
    val pts = (0 until 800).map { i =>
      (i.toLong, (i * 37 % 178) - 89 + (i % 7) * 0.071, (i * 97 % 358) - 179 + (i % 11) * 0.043)
    }
    val queries = (0 until 60).map { i =>
      (1000L + i, (i * 53 % 178) - 89 + 0.37, (i * 41 % 358) - 179 + 0.21)
    } ++ Seq((2000L, 89.5, 10.0), // polar: guard collapses -> brute path
      (2001L, -89.2, -170.0), (2002L, 0.0, 179.9)) // antimeridian wrap
    val ptDf = pts.toDF("pt_id", "lat", "lng")
    val qDf = queries.toDF("q_id", "lat", "lng")
    val got = Knn.knnJoinGreatCircle(qDf, ptDf, k = 5, cellDeg = 15.0, r1 = 2)
      .select("q_id", "pt_id", "rn").as[(Long, Long, Int)]
      .collect().groupBy(_._1)
      .map { case (q, rows) => q -> rows.sortBy(_._3).map(_._2).toSeq }
    val want = queries.map { case (qid, qlat, qlng) =>
      qid -> pts.map(p => (p._1, hav(qlat, qlng, p._2, p._3)))
        .sortBy { case (id, d) => (d, id) }.take(5).map(_._1).toSeq
    }.toMap
    assert(got.keySet == want.keySet)
    for ((q, ids) <- want) assert(got(q) == ids, s"query $q")
  }

  test("null-id queries are dropped, not merged into one brute window") {
    val pts = Synth.points(300, seed = 5L)
    val ptDf = spark.createDataset(pts.toSeq).toDF()
    val qDf = Seq((Some(1L), 50.0, 50.0), (None, 10.0, 10.0), (None, 90.0, 90.0))
      .toDF("q_id", "x", "y")
    val got = Knn.knnJoin(qDf, ptDf, k = 3, res = 12, r1 = 2)
      .select("q_id").as[Option[Long]].collect()
    assert(got.forall(_.contains(1L)), s"null-id rows leaked: ${got.toSeq}")
    assert(got.length == 3)
  }

  test("brute-force fallback path triggers for isolated queries") {
    // single far-away query with tiny r1: guarantee must fail -> fallback
    val pts = Synth.points(500, seed = 3L)
    val ptDf = spark.createDataset(pts.toSeq).toDF()
    val qDf = Seq((0L, 90000.0, 90000.0)).toDF("q_id", "x", "y")
    val got = Knn.knnJoin(qDf, ptDf, k = 3, res = 14, r1 = 1)
      .select("pt_id").as[Long].collect().toSet
    val want = pts.map(p => (p.pt_id,
      (p.x - 90000.0) * (p.x - 90000.0) + (p.y - 90000.0) * (p.y - 90000.0)))
      .sortBy { case (id, d2) => (d2, id) }.take(3).map(_._1).toSet
    assert(got == want)
  }
}
