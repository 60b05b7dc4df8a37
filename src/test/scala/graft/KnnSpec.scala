package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.gen.Synth
import graft.operators.Knn

/** Exact kNN: every entry point (square grid, hex lattice, great circle)
  * against a naive brute-force ranking by (distance, pt_id). The shared
  * cases run each entry point over the same planar fixture; the great
  * circle reads it as degrees. */
class KnnSpec extends AnyFunSuite {
  implicit lazy val spark: SparkSession = SparkTestSession.spark
  import spark.implicits._

  /** Haversine with the expression tree the great-circle entry point
    * builds, through the same JVM libm -> bit-identical doubles. */
  def hav(qlat: Double, qlng: Double, plat: Double, plng: Double): Double = {
    val dphi = math.toRadians(plat - qlat) / 2
    val dlmb = math.toRadians(plng - qlng) / 2
    val a = math.sin(dphi) * math.sin(dphi) +
      math.cos(math.toRadians(qlat)) * math.cos(math.toRadians(plat)) *
        math.sin(dlmb) * math.sin(dlmb)
    2 * 6371000.0 * math.asin(math.min(1.0, math.sqrt(a)))
  }

  /** The great circle reads a planar fixture as degrees: lat = y / Deg,
    * lng = x / Deg (Synth.points' far marker at 99999 lands below 80°). */
  val Deg = 1250.0
  def asDegrees(df: DataFrame, id: String): DataFrame =
    df.select(col(id), (col("y") / Deg).as("lat"), (col("x") / Deg).as("lng"))

  /** One entry point over planar (q_id, x, y) queries and (pt_id, x, y)
    * points, with the distance its ranking uses. */
  case class Entry(name: String, join: (DataFrame, DataFrame, Int) => DataFrame,
                   dist: (Double, Double, Double, Double) => Double)

  val planar2 = (qx: Double, qy: Double, px: Double, py: Double) =>
    (px - qx) * (px - qx) + (py - qy) * (py - qy)

  /** The three entry points at comparable ring radii: grid `res`, hex
    * `hexRes` and great-circle `cellDeg`, each with ring radius `r1`. */
  def entries(res: Int, hexRes: Int, cellDeg: Double, r1: Int): Seq[Entry] = Seq(
    Entry("knnJoin", (q, p, k) => Knn.knnJoin(q, p, k, res, r1), planar2),
    Entry("knnJoinHex", (q, p, k) => Knn.knnJoinHex(q, p, k, hexRes, r1), planar2),
    Entry("knnJoinGreatCircle", (q, p, k) => Knn.knnJoinGreatCircle(
      asDegrees(q, "q_id"), asDegrees(p, "pt_id"), k, cellDeg, r1),
      (qx, qy, px, py) => hav(qy / Deg, qx / Deg, py / Deg, px / Deg)))

  /** Result ids per query in rank order. */
  def ranked(df: DataFrame): Map[Long, Seq[Long]] =
    df.select("q_id", "pt_id", "rn").as[(Long, Long, Int)]
      .collect().groupBy(_._1)
      .map { case (q, rows) => q -> rows.sortBy(_._3).map(_._2).toSeq }

  def naive(queries: Seq[(Long, Double, Double)], pts: Seq[PointRow], k: Int,
            dist: (Double, Double, Double, Double) => Double): Map[Long, Seq[Long]] =
    queries.map { case (qid, qx, qy) =>
      qid -> pts.map(p => (p.pt_id, dist(qx, qy, p.x, p.y)))
        .sortBy { case (id, d) => (d, id) }.take(k).map(_._1)
    }.toMap

  test("knnJoin == naive exact kNN incl. sparse-query fallback and ties") {
    // the "dup" point ties base.head; the "far" query forces the brute pass
    val pts = Synth.points(3000, seed = 11L)
    val queries = Synth.points(40, seed = 99L).map(p => (p.pt_id, p.x, p.y))
    val ptDf = spark.createDataset(pts.toSeq).toDF()
    val qDf = queries.toDF("q_id", "x", "y")
    val k = 5
    for (e <- entries(res = 12, hexRes = 6, cellDeg = 0.5, r1 = 2)) {
      val got = ranked(e.join(qDf, ptDf, k))
      val want = naive(queries, pts, k, e.dist)
      assert(got.keySet == want.keySet, e.name)
      for ((q, ids) <- want) assert(got(q) == ids, s"${e.name} query $q")
    }
  }

  test("knnJoinGreatCircle == naive haversine kNN (high latitude + antimeridian)") {
    val pts = (0 until 800).map { i =>
      (i.toLong, (i * 37 % 178) - 89 + (i % 7) * 0.071, (i * 97 % 358) - 179 + (i % 11) * 0.043)
    }
    val queries = (0 until 60).map { i =>
      (1000L + i, (i * 53 % 178) - 89 + 0.37, (i * 41 % 358) - 179 + 0.21)
    } ++ Seq((2000L, 89.5, 10.0), // polar: guard collapses -> brute path
      (2001L, -89.2, -170.0), (2002L, 0.0, 179.9)) // antimeridian wrap
    val ptDf = pts.toDF("pt_id", "lat", "lng")
    val qDf = queries.toDF("q_id", "lat", "lng")
    val got = ranked(Knn.knnJoinGreatCircle(qDf, ptDf, k = 5, cellDeg = 15.0, r1 = 2))
    val want = queries.map { case (qid, qlat, qlng) =>
      qid -> pts.map(p => (p._1, hav(qlat, qlng, p._2, p._3)))
        .sortBy { case (id, d) => (d, id) }.take(5).map(_._1)
    }.toMap
    assert(got.keySet == want.keySet)
    for ((q, ids) <- want) assert(got(q) == ids, s"query $q")
  }

  test("null-id queries are dropped, not merged into one brute window") {
    val pts = Synth.points(300, seed = 5L)
    val ptDf = spark.createDataset(pts.toSeq).toDF()
    val qDf = Seq((Some(1L), 50.0, 50.0), (None, 10.0, 10.0), (None, 90.0, 90.0))
      .toDF("q_id", "x", "y")
    for (e <- entries(res = 12, hexRes = 6, cellDeg = 0.5, r1 = 2)) {
      val got = e.join(qDf, ptDf, 3).select("q_id").as[Option[Long]].collect()
      assert(got.forall(_.contains(1L)), s"${e.name}: null-id rows leaked: ${got.toSeq}")
      assert(got.length == 3, e.name)
    }
  }

  test("brute-force fallback path triggers for isolated queries") {
    // single far-away query with a tiny ring: the guarantee must fail
    val pts = Synth.points(500, seed = 3L)
    val ptDf = spark.createDataset(pts.toSeq).toDF()
    val query = (0L, 90000.0, 90000.0)
    val qDf = Seq(query).toDF("q_id", "x", "y")
    for (e <- entries(res = 14, hexRes = 8, cellDeg = 1.0, r1 = 1)) {
      val got = e.join(qDf, ptDf, 3).select("pt_id").as[Long].collect().toSet
      assert(got == naive(Seq(query), pts, 3, e.dist)(0L).toSet, e.name)
    }
  }

  test("hex-ring kNN == square-grid kNN (both exact by guard+fallback)") {
    import graft.queries.Queries
    val grid = Queries.qKnn(spark, "/root/testdata/sf0.001")
      .as[(Long, Long, Double, Int)].collect().toSet
    val hex = Queries.qKnnHex(spark, "/root/testdata/sf0.001")
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(hex == grid)
    assert(hex.nonEmpty)
  }
}
