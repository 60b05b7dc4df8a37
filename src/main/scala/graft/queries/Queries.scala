package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.{PolyRow, Pt}
import graft.operators.{SpatialJoin, Knn}
import graft.sources.ParquetTable
import graft.text.{TextOps, EmbedOps}

/**
 * The driver-checked operator surface: every entry has a Spark
 * implementation (through the engine's real operators) and, where
 * SQL-expressible, a DuckDB oracle over the same parquet tables
 * (SURVEY §5.2 item 2).
 *
 * Numeric determinism contract with the oracle: aggregate only values
 * that are exact in double (integral quantities, prices as cents),
 * compute derived doubles with the IDENTICAL expression tree on both
 * sides, and round floating outputs. Distances are squared (no libm).
 *
 * The geometry queries drive the exact same join/refine code paths as
 * the image pipeline: grid-cell prefilter join + ray-cast PIP + grouped
 * aggregation — pixels here are rows derived deterministically from
 * lineitem (the reference semantics don't care whether a "pixel" came
 * from a decoded tile or a table row).
 */
object Queries {

  // table readers: schema from the footer on the driver, no inference job
  private def table(spark: SparkSession, dir: String, name: String) =
    ParquetTable.read(spark, s"$dir/$name.parquet")
  private def li(spark: SparkSession, dir: String) = table(spark, dir, "lineitem")
  private def orders(spark: SparkSession, dir: String) = table(spark, dir, "orders")
  private def customer(spark: SparkSession, dir: String) = table(spark, dir, "customer")
  private def part(spark: SparkSession, dir: String) = table(spark, dir, "part")
  private def events(spark: SparkSession, dir: String) = table(spark, dir, "events")
  private def docs(spark: SparkSession, dir: String) = table(spark, dir, "documents")
  private def emb(spark: SparkSession, dir: String) = table(spark, dir, "embeddings")

  /** Deterministic point cloud derived from lineitem — the "pixel"
    * relation for the SQL-checkable spatial queries. Coordinates land on
    * half-integers so nothing ever sits on a polygon edge. */
  def pts(spark: SparkSession, dir: String): DataFrame =
    li(spark, dir).select(
      (col("l_orderkey") * 10 + col("l_linenumber")).as("pt_id"),
      (col("l_partkey") % 200 + lit(0.5)).as("x"),
      (col("l_suppkey") % 100 + lit(0.5)).as("y"),
      col("l_quantity").as("v"))

  val ptsSql: String =
    """SELECT l_orderkey * 10 + l_linenumber AS pt_id,
      | (l_partkey % 200) + CAST(0.5 AS DOUBLE) AS x,
      | (l_suppkey % 100) + CAST(0.5 AS DOUBLE) AS y,
      | l_quantity AS v FROM lineitem""".stripMargin

  /** The zonal "vector layer": 8 axis-aligned boxes (integer bounds, so
    * the open-interval SQL predicate equals PIP with any boundary rule). */
  val boxes: Seq[(Long, Double, Double, Double, Double)] = Seq(
    (0L, 0, 0, 50, 50), (1L, 40, 20, 120, 80), (2L, 100, 0, 200, 100),
    (3L, 10, 60, 60, 95), (4L, 150, 10, 190, 40), (5L, 0, 0, 200, 100),
    (6L, 70, 30, 90, 90), (7L, 130, 50, 170, 100))

  def boxPolys: Seq[PolyRow] = boxes.map { case (id, x0, y0, x1, y1) =>
    PolyRow(id, 0, Array(Array(Pt(x0, y0), Pt(x1, y0), Pt(x1, y1), Pt(x0, y1))),
      cls = 1, name = s"box$id", measure = 0.0)
  }

  val boxesSql: String = "(VALUES " + boxes.map { case (id, x0, y0, x1, y1) =>
    s"(CAST($id AS BIGINT), ${x0.toInt}, ${y0.toInt}, ${x1.toInt}, ${y1.toInt})"
  }.mkString(", ") + ") AS b(poly_id, x0, y0, x1, y1)"

  private def joinedPts(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    import spark.implicits._
    SpatialJoin.pointsInPolygons(pts(spark, dir),
      spark.createDataset(boxPolys), res = 15)
  }

  // ------------------------------------------------------------ queries

  def qZonalBoxStats(spark: SparkSession, dir: String): DataFrame = {
    val n = count(lit(1))
    joinedPts(spark, dir).groupBy("poly_id").agg(
      n.as("pix_count"),
      round(sum(col("v")), 4).as("sum_v"),
      round(avg(col("v")), 4).as("mean_v"),
      min(col("v")).as("min_v"),
      max(col("v")).as("max_v"),
      round(sqrt(sum(col("v") * col("v")) / n - (sum(col("v")) / n) * (sum(col("v")) / n)), 4)
        .as("std_v"))
  }

  val qZonalBoxStatsSql: String =
    s"""WITH pts AS ($ptsSql)
       |SELECT poly_id, count(*) AS pix_count, round(sum(v),4) AS sum_v,
       | round(avg(v),4) AS mean_v, min(v) AS min_v, max(v) AS max_v,
       | round(sqrt(sum(v*v)/count(*) - (sum(v)/count(*))*(sum(v)/count(*))),4) AS std_v
       |FROM pts JOIN $boxesSql
       | ON x > x0 AND x < x1 AND y > y0 AND y < y1
       |GROUP BY poly_id""".stripMargin

  def qZonalFrac(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("poly_id")
    joinedPts(spark, dir)
      .withColumn("bucket", floor(col("v") / 10).cast("int"))
      .groupBy("poly_id", "bucket").agg(count(lit(1)).as("cnt"))
      .withColumn("frac", round(col("cnt") * lit(1.0) / sum("cnt").over(w), 6))
  }

  val qZonalFracSql: String =
    s"""WITH pts AS ($ptsSql),
       |j AS (SELECT poly_id, cast(floor(v/10) AS int) AS bucket
       |      FROM pts JOIN $boxesSql
       |      ON x > x0 AND x < x1 AND y > y0 AND y < y1)
       |SELECT poly_id, bucket, count(*) AS cnt,
       | round(count(*) * 1.0 / sum(count(*)) OVER (PARTITION BY poly_id), 6) AS frac
       |FROM j GROUP BY poly_id, bucket""".stripMargin

  /** zonal_point: coord -> pixel-key gather (shape.py:2525-2613). */
  /** Deeper zonal stat parity: median (np convention), mode (smallest on
    * ties), skew/kurtosis from exact integer power sums — the rest of the
    * shape.py:1023-1068 dispatch, oracle-checked. */
  def qZonalMoreStats(spark: SparkSession, dir: String): DataFrame = {
    val j = joinedPts(spark, dir).select(col("poly_id"), col("v"))
    val med = j.groupBy("poly_id").agg(median(col("v")).as("median_v"))
    val h = j.groupBy("poly_id", "v").agg(count(lit(1)).as("c"))
    val w = Window.partitionBy("poly_id").orderBy(col("c").desc, col("v"))
    val mode = h.withColumn("rn", row_number().over(w)).where(col("rn") === 1)
      .select(col("poly_id"), col("v").as("mode_v"))
    val vv = col("v")
    val mom = j.groupBy("poly_id").agg(
      count(lit(1)).cast("double").as("n"), sum(vv).as("s1"),
      sum(vv * vv).as("s2"), sum(vv * vv * vv).as("s3"),
      sum(vv * vv * vv * vv).as("s4"))
    val mean = col("s1") / col("n")
    val m2 = col("s2") / col("n") - mean * mean
    val m3 = col("s3") / col("n") - lit(3.0) * mean * (col("s2") / col("n")) +
      lit(2.0) * mean * mean * mean
    val m4 = col("s4") / col("n") - lit(4.0) * mean * (col("s3") / col("n")) +
      lit(6.0) * mean * mean * (col("s2") / col("n")) -
      lit(3.0) * mean * mean * mean * mean
    val moments = mom.select(col("poly_id"),
      round(m3 / (m2 * sqrt(m2)), 4).as("skew_v"),
      round(m4 / (m2 * m2) - lit(3.0), 4).as("kurt_v"))
    med.join(mode, "poly_id").join(moments, "poly_id")
  }

  val qZonalMoreStatsSql: String =
    s"""WITH pts AS ($ptsSql),
       |j AS (SELECT poly_id, v FROM pts JOIN $boxesSql
       |      ON x > x0 AND x < x1 AND y > y0 AND y < y1),
       |med AS (SELECT poly_id, median(v) AS median_v FROM j GROUP BY 1),
       |h AS (SELECT poly_id, v, count(*) AS c FROM j GROUP BY 1, 2),
       |md AS (SELECT poly_id, v AS mode_v FROM (
       |  SELECT poly_id, v, row_number() OVER (PARTITION BY poly_id
       |    ORDER BY c DESC, v) AS rn FROM h) WHERE rn = 1),
       |mom AS (SELECT poly_id, CAST(count(*) AS DOUBLE) AS n, sum(v) AS s1,
       |        sum(v*v) AS s2, sum(v*v*v) AS s3, sum(v*v*v*v) AS s4
       |        FROM j GROUP BY 1),
       |mm AS (SELECT poly_id,
       |  round((s3/n - 3.0*(s1/n)*(s2/n) + 2.0*(s1/n)*(s1/n)*(s1/n)) /
       |        ((s2/n - (s1/n)*(s1/n)) * sqrt(s2/n - (s1/n)*(s1/n))), 4) AS skew_v,
       |  round((s4/n - 4.0*(s1/n)*(s3/n) + 6.0*(s1/n)*(s1/n)*(s2/n) -
       |         3.0*(s1/n)*(s1/n)*(s1/n)*(s1/n)) /
       |        ((s2/n - (s1/n)*(s1/n)) * (s2/n - (s1/n)*(s1/n))) - 3.0, 4) AS kurt_v
       |  FROM mom)
       |SELECT med.poly_id, median_v, mode_v, skew_v, kurt_v
       |FROM med JOIN md ON med.poly_id = md.poly_id
       |JOIN mm ON med.poly_id = mm.poly_id""".stripMargin

  def qZonalPoint(spark: SparkSession, dir: String): DataFrame = {
    val grid = part(spark, dir).select(
      (col("p_partkey") % 50).as("ix"),
      (floor(col("p_partkey") / lit(50.0)).cast("long") % 40).as("iy"),
      round(col("p_retailprice") * 100).cast("long").as("cents"))
      .groupBy("ix", "iy").agg(min("cents").as("val"))
    customer(spark, dir).select(col("c_custkey"),
      (col("c_custkey") % 50).as("ix"), (col("c_custkey") % 40).as("iy"))
      .join(grid, Seq("ix", "iy"))
      .select("c_custkey", "val")
  }

  val qZonalPointSql: String =
    """WITH grid AS (
      |  SELECT p_partkey % 50 AS ix,
      |         cast(floor(p_partkey / 50.0) AS bigint) % 40 AS iy,
      |         min(cast(round(p_retailprice * 100) AS bigint)) AS val
      |  FROM part GROUP BY 1, 2)
      |SELECT c_custkey, val
      |FROM (SELECT c_custkey, c_custkey % 50 AS ix, c_custkey % 40 AS iy
      |      FROM customer) c
      |JOIN grid USING (ix, iy)""".stripMargin

  def qKnn(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val queries = customer(spark, dir).where(col("c_custkey") < 20).select(
      col("c_custkey").as("q_id"),
      ((col("c_custkey") * 37) % 200 + lit(0.3)).as("x"),
      ((col("c_custkey") * 53) % 100 + lit(0.7)).as("y"))
    Knn.knnJoin(queries, pts(spark, dir), k = 5, res = 17, r1 = 1)
  }

  val qKnnSql: String =
    s"""WITH pts AS ($ptsSql),
       |q AS (SELECT c_custkey AS q_id, (c_custkey * 37) % 200 + CAST(0.3 AS DOUBLE) AS x,
       |             (c_custkey * 53) % 100 + CAST(0.7 AS DOUBLE) AS y
       |      FROM customer WHERE c_custkey < 20)
       |SELECT q_id, pt_id, dist2, CAST(rn AS INTEGER) AS rn FROM (
       |  SELECT q.q_id, p.pt_id,
       |    (q.x - p.x)*(q.x - p.x) + (q.y - p.y)*(q.y - p.y) AS dist2,
       |    row_number() OVER (PARTITION BY q.q_id
       |      ORDER BY (q.x - p.x)*(q.x - p.x) + (q.y - p.y)*(q.y - p.y), p.pt_id) AS rn
       |  FROM q, pts p) WHERE rn <= 5""".stripMargin

  /** kNN through the hex (H3-style) k-ring expansion path — exact by
    * guard+fallback, so the oracle is plain brute force. */
  def qKnnHex(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val queries = customer(spark, dir).where(col("c_custkey") < 20).select(
      col("c_custkey").as("q_id"),
      ((col("c_custkey") * 37) % 200 + lit(0.3)).as("x"),
      ((col("c_custkey") * 53) % 100 + lit(0.7)).as("y"))
    // res 10 (hex size ~3.9 units): candidate volume per query matches
    // the grid path's; sparse fixtures that miss the exactness guard
    // fall to the brute pass, so results stay exact at every SF
    Knn.knnJoinHex(queries, pts(spark, dir), k = 5, res = 10, r1 = 2)
  }

  val qKnnHexSql: String = qKnnSql

  /** Great-circle kNN (round 4 geodesic entry point): the pts cloud
    * lifted onto the globe (lat up to ±88.6°, lng to ±178.1°), queries
    * spread across latitude bands. Exact by guard+fallback, so the
    * oracle is brute-force haversine — the IDENTICAL expression tree
    * (radians/sin/cos/asin/least/sqrt) on both engines; distances round
    * to 4 decimals (libm ulp differences sit ~1e-9 m, far below). */
  def qKnnGeo(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val queries = customer(spark, dir).where(col("c_custkey") < 20).select(
      col("c_custkey").as("q_id"),
      ((col("c_custkey") * 53) % 160 - 80 + lit(0.37)).as("lat"),
      ((col("c_custkey") * 97) % 356 - 178 + lit(0.25)).as("lng"))
    val points = pts(spark, dir).select(col("pt_id"),
      (col("y") * lit(1.79) - lit(89.5)).as("lat"),
      (col("x") * lit(1.79) - lit(179.0)).as("lng"))
    Knn.knnJoinGreatCircle(queries, points, k = 5, cellDeg = 15.0, r1 = 2)
      .select(col("q_id"), col("pt_id"), round(col("dist"), 4).as("dist_m"), col("rn"))
  }

  val qKnnGeoSql: String = {
    val d = """2 * 6371000 * asin(least(CAST(1.0 AS DOUBLE), sqrt(
              |      sin(radians(p.plat - q.qlat) / 2) * sin(radians(p.plat - q.qlat) / 2)
              |      + cos(radians(q.qlat)) * cos(radians(p.plat))
              |        * sin(radians(p.plng - q.qlng) / 2) * sin(radians(p.plng - q.qlng) / 2))))"""
      .stripMargin
    s"""WITH pts AS ($ptsSql),
       |gp AS (SELECT pt_id,
       |         y * CAST(1.79 AS DOUBLE) - CAST(89.5 AS DOUBLE) AS plat,
       |         x * CAST(1.79 AS DOUBLE) - CAST(179.0 AS DOUBLE) AS plng FROM pts),
       |q AS (SELECT c_custkey AS q_id,
       |        (c_custkey * 53) % 160 - 80 + CAST(0.37 AS DOUBLE) AS qlat,
       |        (c_custkey * 97) % 356 - 178 + CAST(0.25 AS DOUBLE) AS qlng
       |      FROM customer WHERE c_custkey < 20)
       |SELECT q_id, pt_id, round(dist, 4) AS dist_m, CAST(rn AS INT) AS rn FROM (
       |  SELECT q.q_id, p.pt_id, $d AS dist,
       |    row_number() OVER (PARTITION BY q.q_id ORDER BY $d, p.pt_id) AS rn
       |  FROM q, gp p) WHERE rn <= 5""".stripMargin
  }

  /** S2-cover spatial join (round 4 geodesic entry point): the pts
    * cloud on the globe joined to 4326-style lat/lng boxes through
    * `SpatialJoin.pointsInPolygonsGeo` (S2 level-6 cover prefilter +
    * exact equirect-edge PIP refine). Boxes have fractional bounds off
    * the mapped point lattice, so the open-interval SQL equals PIP
    * regardless of boundary convention. */
  val geoBoxes: Seq[(Long, Double, Double, Double, Double)] = Seq(
    (0L, -10.13, -20.17, 15.11, 30.19), (1L, 55.13, 120.11, 80.17, 175.13),
    (2L, -88.77, -60.11, -72.13, 60.17), (3L, 62.13, -180.0, 88.77, -120.11),
    (4L, -5.13, 150.11, 45.17, 179.13))

  def qPipGeo(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val points = pts(spark, dir).select(col("pt_id"),
      (col("y") * lit(1.79) - lit(89.5)).as("lat"),
      (col("x") * lit(1.79) - lit(179.0)).as("lng"),
      col("v"))
    val polys = spark.createDataset(geoBoxes.map { case (id, la0, lo0, la1, lo1) =>
      PolyRow(id, 0, Array(Array(Pt(lo0, la0), Pt(lo1, la0), Pt(lo1, la1), Pt(lo0, la1))),
        cls = 1, name = s"geo$id", measure = 0.0)
    })(org.apache.spark.sql.Encoders.product[PolyRow])
    SpatialJoin.pointsInPolygonsGeo(points, polys, level = 6)
      .groupBy("poly_id")
      .agg(count(lit(1)).as("n"), round(sum("v"), 4).as("v_sum"))
  }

  val qPipGeoSql: String = {
    val bx = "(VALUES " + geoBoxes.map { case (id, la0, lo0, la1, lo1) =>
      s"(CAST($id AS BIGINT), CAST($la0 AS DOUBLE), CAST($lo0 AS DOUBLE), " +
        s"CAST($la1 AS DOUBLE), CAST($lo1 AS DOUBLE))"
    }.mkString(", ") + ") AS bx(poly_id, la0, lo0, la1, lo1)"
    s"""WITH pts AS ($ptsSql),
       |gp AS (SELECT pt_id,
       |         y * CAST(1.79 AS DOUBLE) - CAST(89.5 AS DOUBLE) AS plat,
       |         x * CAST(1.79 AS DOUBLE) - CAST(179.0 AS DOUBLE) AS plng,
       |         v FROM pts)
       |SELECT poly_id, count(*) AS n, round(sum(v), 4) AS v_sum
       |FROM gp JOIN $bx
       |  ON plat > la0 AND plat < la1 AND plng > lo0 AND plng < lo1
       |GROUP BY 1""".stripMargin
  }

  /** mask_raster_multi rules '<' / '>' with replacement (raster.py:1136-1265). */
  def qMaskRules(spark: SparkSession, dir: String): DataFrame = {
    val masked = when(col("l_quantity") < 10, lit(0.0))
      .when(col("l_quantity") > 45, lit(45.0))
      .otherwise(col("l_quantity"))
    li(spark, dir).groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"), round(sum(masked), 4).as("masked_sum"))
  }

  val qMaskRulesSql: String =
    """SELECT l_returnflag, count(*) AS n,
      | round(sum(CASE WHEN l_quantity < 10 THEN 0.0
      |                WHEN l_quantity > 45 THEN 45.0
      |                ELSE l_quantity END), 4) AS masked_sum
      |FROM lineitem GROUP BY l_returnflag""".stripMargin

  /** combine_scene per-pixel rule merge (raster.py:1466-1524). */
  def qCombineScene(spark: SparkSession, dir: String): DataFrame = {
    val c1 = col("l_partkey") % 5
    val c2 = col("l_suppkey") % 5
    val recode = when(c1 === c2, c1).when(c1 === 0, c2).otherwise(c1)
    li(spark, dir).select(recode.as("recode"))
      .groupBy("recode").agg(count(lit(1)).as("n"))
  }

  val qCombineSceneSql: String =
    """SELECT CASE WHEN l_partkey % 5 = l_suppkey % 5 THEN l_partkey % 5
      |            WHEN l_partkey % 5 = 0 THEN l_suppkey % 5
      |            ELSE l_partkey % 5 END AS recode, count(*) AS n
      |FROM lineitem GROUP BY 1""".stripMargin

  /** temporal_comp per-pixel time-series reduce (raster.py:2287-2407):
    * pixel key = user_id, time axis = events. Cents keep sums exact. */
  def qTemporalComp(spark: SparkSession, dir: String): DataFrame = {
    val cents = round(col("value") * 100).cast("long")
    events(spark, dir).select(col("user_id"), cents.as("cents"))
      .groupBy("user_id").agg(
        count(lit(1)).as("n"),
        round(sum(col("cents")) / 100.0, 4).as("total"),
        // floor of an exact product/quotient — round() on a decimal tie
        // (x.xxxx5) differs between engines, floor of the same double never
        floor(sum(col("cents")) * lit(10000.0) / count(lit(1))).cast("long").as("mean_c4"),
        min("cents").as("min_c"),
        max("cents").as("max_c"),
        round(median(col("cents")), 1).as("median_c"),
        // the time-axis percentile of statChoose (raster.py:2345-2356):
        // exact linear-interpolation percentile, mirrored by quantile_cont
        round(percentile(col("cents"), lit(0.25)), 1).as("p25_c"),
        // np.nanstd (population) — statChoose's "std" dispatch
        round(stddev_pop(col("cents")), 1).as("std_c"))
  }

  val qTemporalCompSql: String =
    """SELECT user_id, count(*) AS n,
      | round(sum(cents)/100.0, 4) AS total,
      | CAST(floor(sum(cents) * CAST(10000.0 AS DOUBLE) / count(*)) AS BIGINT) AS mean_c4,
      | min(cents) AS min_c, max(cents) AS max_c,
      | round(median(cents), 1) AS median_c,
      | round(quantile_cont(cents, CAST(0.25 AS DOUBLE)), 1) AS p25_c,
      | round(stddev_pop(cents), 1) AS std_c
      |FROM (SELECT user_id, cast(round(value*100) AS bigint) AS cents FROM events)
      |GROUP BY user_id""".stripMargin

  /** eCDF (raster.py:2129-2137): histogram + cumulative window. The
    * unpartitioned window (and the one in qHistMatch) runs over the
    * post-groupBy VALUE HISTOGRAM — at most |value domain| rows (<= 256
    * for uint8-regime rasters) regardless of input size, so the
    * single-partition WindowExec warning is size-bounded by
    * construction, not a scale hazard. */
  def qHistEcdf(spark: SparkSession, dir: String): DataFrame = {
    val cum = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val all = Window.partitionBy()
    li(spark, dir).select(col("l_quantity").cast("int").as("v"))
      .groupBy("v").agg(count(lit(1)).as("cnt"))
      .withColumn("ecdf", round(sum("cnt").over(cum) * lit(1.0) / sum("cnt").over(all), 6))
  }

  val qHistEcdfSql: String =
    """SELECT v, cnt, round(cum * 1.0 / total, 6) AS ecdf FROM (
      |  SELECT v, count(*) AS cnt,
      |    sum(count(*)) OVER (ORDER BY v) AS cum,
      |    sum(count(*)) OVER () AS total
      |  FROM (SELECT cast(l_quantity AS int) AS v FROM lineitem) GROUP BY v)""".stripMargin

  /** hist_match quantile mapping (raster.py:2139-2217): the reference
    * maps each distinct source value's CDF through
    * `np.interp(s_quantiles, t_quantiles, t_values)` — piecewise-LINEAR
    * interpolation between the bracketing template values, left-clamped
    * to the first template value (x <= xp[0] -> fp[0]; the right clamp
    * is unreachable because both CDFs end at exactly 1.0). Replayed
    * relationally: the template CDF becomes half-open intervals
    * (lag, cur] via a window lag, each source row joins the ONE interval
    * containing its quantile, and the linear blend runs inside the join
    * row. The template side is a value HISTOGRAM (bounded by the value
    * domain, like qHistEcdf's window input), so the unpartitioned lag
    * window and the broadcast interval join are size-bounded by
    * construction regardless of raster row count.
    *
    * Independence note: engine and oracle deliberately share this
    * interval+blend SHAPE (the np.interp contract), so this pair alone
    * could not catch a shared misreading — the independent third
    * implementation is RasterOpsSpec's LITERAL np.interp replay
    * (searchsorted + index arithmetic, no intervals), which pins the
    * semantics outside the oracle contract. */
  def qHistMatch(spark: SparkSession, dir: String): DataFrame = {
    def cdf(df: DataFrame, vcol: String): DataFrame = {
      val cum = Window.orderBy(vcol).rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val all = Window.partitionBy()
      df.groupBy(vcol).agg(count(lit(1)).as("c"))
        .withColumn("cdf", sum("c").over(cum) * lit(1.0) / sum("c").over(all))
        .drop("c")
    }
    val s = cdf(li(spark, dir).select(col("l_quantity").cast("int").as("v")), "v")
      .withColumnRenamed("cdf", "scdf")
    val byTb = Window.orderBy("tb")
    val t = cdf(orders(spark, dir).select(
      floor(col("o_totalprice") / 10000.0).cast("int").as("tb")), "tb")
      .withColumnRenamed("cdf", "tcdf")
      .withColumn("tbp", lag("tb", 1).over(byTb))
      .withColumn("tcp", lag("tcdf", 1).over(byTb))
    s.join(broadcast(t),
        (col("tcp").isNull && col("scdf") <= col("tcdf")) ||
          (col("scdf") > col("tcp") && col("scdf") <= col("tcdf")))
      .select(col("v"),
        round(when(col("tcp").isNull, col("tb").cast("double"))
          .otherwise(col("tbp") + (col("tb") - col("tbp")) *
            (col("scdf") - col("tcp")) / (col("tcdf") - col("tcp"))), 6)
          .as("matched"))
  }

  val qHistMatchSql: String =
    """WITH s AS (
      |  SELECT v, sum(c) OVER (ORDER BY v) * 1.0 / sum(c) OVER () AS scdf
      |  FROM (SELECT cast(l_quantity AS int) AS v, count(*) AS c
      |        FROM lineitem GROUP BY 1)),
      |t AS (
      |  SELECT tb, sum(c) OVER (ORDER BY tb) * 1.0 / sum(c) OVER () AS tcdf
      |  FROM (SELECT cast(floor(o_totalprice / 10000.0) AS int) AS tb, count(*) AS c
      |        FROM orders GROUP BY 1)),
      |t2 AS (SELECT tb, tcdf, lag(tb) OVER (ORDER BY tb) AS tbp,
      |              lag(tcdf) OVER (ORDER BY tb) AS tcp FROM t)
      |SELECT v, round(CASE WHEN tcp IS NULL THEN CAST(tb AS DOUBLE)
      |    ELSE tbp + (tb - tbp) * (scdf - tcp) / (tcdf - tcp) END, 6) AS matched
      |FROM s JOIN t2 ON (tcp IS NULL AND scdf <= tcdf)
      |               OR (scdf > tcp AND scdf <= tcdf)""".stripMargin

  /** RGB band-algebra indices (shape.py:1354-1502): ALL 11 reference
    * formulas via RasterOps.rgbIndices. Bands shift by +1 so every
    * denominator (g+r, g*r, (g²+b)*r, 2g) is strictly positive. */
  def qRgbIndices(spark: SparkSession, dir: String): DataFrame = {
    val r = col("l_quantity")
    val g = round(col("l_discount") * 100) + lit(1.0)
    val b = round(col("l_tax") * 100) + lit(1.0)
    val aggs = graft.operators.RasterOps.rgbIndices(r, g, b).map {
      case (name, expr) => round(avg(expr), 4).as(name)
    }
    li(spark, dir).groupBy("l_returnflag").agg(aggs.head, aggs.tail: _*)
  }

  /** The 11 reference RGB-index formulas as SQL over the given r/g/b
    * expressions — the SINGLE source both RGB oracles share (mirrors
    * RasterOps.rgbIndices term by term). */
  private def rgbIndexSql(r: String, g: String, b: String): Seq[(String, String)] = {
    val exg = s"($g * 2 - ($r - $b))"
    val exr = s"($r * CAST(1.4 AS DOUBLE) - $g)"
    Seq(
      "exg"   -> exg,
      "exr"   -> exr,
      "exgr"  -> s"($exg - $exr)",
      "cive"  -> s"($r * CAST(0.441 AS DOUBLE) - $g * CAST(0.811 AS DOUBLE) + $b * CAST(0.385 AS DOUBLE) + CAST(18.78745 AS DOUBLE))",
      "ndi"   -> s"(($g - $r) / ($g + $r))",
      "rgbvi" -> s"((($g * $g - $b) * $r) / (($g * $g + $b) * $r))",
      "vari"  -> s"(($g - $r) / ($g + $r) - $b)",
      "ari"   -> s"(CAST(1.0 AS DOUBLE) / ($g * $r))",
      "rgbi"  -> s"($r / $g)",
      "gli"   -> s"((($g - $r) + ($g - $b)) / ($g * 2) + $r + $b)",
      "tgl"   -> s"(($g - CAST(0.39 AS DOUBLE)) * ($r - CAST(0.61 AS DOUBLE)) * $b)")
  }

  val qRgbIndicesSql: String = {
    val idx = rgbIndexSql("l_quantity",
      "(round(l_discount*100) + CAST(1.0 AS DOUBLE))",
      "(round(l_tax*100) + CAST(1.0 AS DOUBLE))")
    "SELECT l_returnflag, " +
      idx.map { case (n, e) => s"round(avg($e), 4) AS $n" }.mkString(", ") +
      " FROM lineitem GROUP BY l_returnflag"
  }

  /** rmse_vector_lyr (learning.py:1828-1864). */
  def qRmse(spark: SparkSession, dir: String): DataFrame = {
    val d = col("l_extendedprice") - col("l_quantity") * 1000
    li(spark, dir).groupBy("l_returnflag")
      .agg(round(sqrt(avg(d * d)), 2).as("rmse"))
  }

  val qRmseSql: String =
    """SELECT l_returnflag,
      | round(sqrt(avg((l_extendedprice - l_quantity * 1000) *
      |              (l_extendedprice - l_quantity * 1000))), 2) AS rmse
      |FROM lineitem GROUP BY l_returnflag""".stripMargin

  /** confusion matrix (handyplots.py:24-79). */
  def qConfusion(spark: SparkSession, dir: String): DataFrame = {
    val pred = when(col("value") < 10, "low")
      .when(col("value") < 100, "mid").otherwise("high")
    events(spark, dir).select(col("event_type"), pred.as("pred"))
      .groupBy("event_type", "pred").agg(count(lit(1)).as("n"))
  }

  val qConfusionSql: String =
    """SELECT event_type,
      | CASE WHEN value < 10 THEN 'low' WHEN value < 100 THEN 'mid'
      |      ELSE 'high' END AS pred, count(*) AS n
      |FROM events GROUP BY 1, 2""".stripMargin

  /** histogram entropy (shape.py:1697-1699), natural log. */
  def qEntropy(spark: SparkSession, dir: String): DataFrame = {
    val h = li(spark, dir).select(col("l_returnflag"), col("l_quantity").cast("int").as("v"))
      .groupBy("l_returnflag", "v").agg(count(lit(1)).as("c"))
    val w = Window.partitionBy("l_returnflag")
    h.withColumn("n", sum("c").over(w))
      .groupBy("l_returnflag")
      .agg(round(-sum((col("c") * lit(1.0) / col("n")) * log(col("c") * lit(1.0) / col("n"))), 6)
        .as("entropy"))
  }

  val qEntropySql: String =
    """WITH h AS (SELECT l_returnflag, cast(l_quantity AS int) AS v, count(*) AS c
      |           FROM lineitem GROUP BY 1, 2),
      |t AS (SELECT l_returnflag, sum(c) AS n FROM h GROUP BY 1)
      |SELECT h.l_returnflag,
      | round(-sum((c * 1.0 / n) * ln(c * 1.0 / n)), 6) AS entropy
      |FROM h JOIN t USING (l_returnflag) GROUP BY h.l_returnflag""".stripMargin

  /** raster2points-shaped explode (raster.py:1607-1699): text -> token
    * rows with the empty-token "nodata" filter. */
  def qTokens(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir).select(explode(split(col("text"), " ")).as("token"))
      .where(col("token") =!= "")
      .groupBy("token").agg(count(lit(1)).as("n"))
      .where(col("n") >= 5)

  val qTokensSql: String =
    """SELECT token, count(*) AS n
      |FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
      |WHERE token <> '' GROUP BY token HAVING count(*) >= 5""".stripMargin

  def qDedupExact(spark: SparkSession, dir: String): DataFrame =
    TextOps.dedupExact(docs(spark, dir), "doc_id", "text")

  val qDedupExactSql: String =
    """SELECT min(doc_id) AS keep_id, count(*) AS n_dups
      |FROM documents GROUP BY lower(text)""".stripMargin

  def qJaccardPairs(spark: SparkSession, dir: String): DataFrame =
    TextOps.ngramJaccardPairs(docs(spark, dir).where(col("doc_id") < 120),
      "doc_id", "text", threshold = 0.6)
      .select(col("d1"), col("d2"), round(col("jaccard"), 4).as("jaccard"))

  val qJaccardPairsSql: String =
    """WITH tok AS (
      |  SELECT DISTINCT doc_id, token
      |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token
      |        FROM documents WHERE doc_id < 120)
      |  WHERE token <> ''),
      |sizes AS (SELECT doc_id, count(*) AS n FROM tok GROUP BY 1),
      |inter AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS i
      |          FROM tok a JOIN tok b ON a.token = b.token AND a.doc_id < b.doc_id
      |          GROUP BY 1, 2)
      |SELECT d1, d2, round(i * 1.0 / (s1.n + s2.n - i), 4) AS jaccard
      |FROM inter JOIN sizes s1 ON d1 = s1.doc_id JOIN sizes s2 ON d2 = s2.doc_id
      |WHERE i * 1.0 / (s1.n + s2.n - i) >= 0.6""".stripMargin

  /** text quality aggregates per language. */
  def qTextQuality(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir).groupBy("lang").agg(
      count(lit(1)).as("n_docs"),
      round(avg(size(split(col("text"), " "))), 4).as("avg_tokens"),
      round(avg(length(col("text"))), 4).as("avg_chars"))

  val qTextQualitySql: String =
    """SELECT lang, count(*) AS n_docs,
      | round(avg(len(string_split(text, ' '))), 4) AS avg_tokens,
      | round(avg(length(text)), 4) AS avg_chars
      |FROM documents GROUP BY lang""".stripMargin

  /** language-ID heuristic vs labeled lang (marker-word argmax). */
  def qLangPredict(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir).select(col("lang"), TextOps.langPredict(col("text")).as("pred"))
      .groupBy("lang", "pred").agg(count(lit(1)).as("n"))

  val qLangPredictSql: String = {
    val scores = TextOps.langMarkers.map { case (l, ms) =>
      val occ = ms.map(m =>
        s"((length(text) - length(replace(text, '$m', ''))) / ${m.length})")
        .mkString(" + ")
      l -> s"cast($occ AS int)"
    }
    val maxExpr = scores.map(_._2).reduce((a, b) => s"greatest($a, $b)")
    val caseExpr = scores.map { case (l, s) => s"WHEN $s = __m THEN '$l'" }
      .mkString(" ")
    // no ELSE: the WHENs are exhaustive for non-null text (the max always
    // equals one score), so the CASE's fall-through fires exactly for
    // NULL text — matching langPredict's NULL-in-NULL-out contract
    s"""SELECT lang, CASE $caseExpr END AS pred, count(*) AS n
       |FROM (SELECT lang, text, $maxExpr AS __m FROM documents)
       |GROUP BY 1, 2""".stripMargin
  }

  // ---------------------------------------------- engine-only (rows-only)

  /** Both sides filter to <= 120 tokens so the oracle's shingle-start
    * bound (generate_series to 127) is an explicit contract, not a
    * silent coupling to current fixture sizes (docs max ~100 tokens —
    * the filter is a no-op today and keeps the oracle valid forever). */
  def qMinhashPairs(spark: SparkSession, dir: String): DataFrame =
    TextOps.minHashLsh(
      docs(spark, dir).where(size(split(col("text"), " ")) <= 120),
      "doc_id", "text", shingleN = 3, numHashes = 64, bands = 16)
      .where(col("jaccard_est") >= 0.25)
      .select(col("d1"), col("d2"), round(col("jaccard_est"), 4).as("jaccard_est"))

  /** Full MinHash+LSH oracle CTE chain (shared by q_minhash_pairs and
    * q_dedup_clusters): shingles, HashFamily's composed 62-bit
    * fingerprints (base-131 hi half + base-137 lo half), the 64
    * permutation minima over both halves, band-bucket candidates and the
    * signature-agreement estimate are ALL recomputed relationally. */
  private val minhashCtes: String = {
    import graft.text.HashFamily.{P, B}
    val aK = s"((1103515245 * (2*k + 1) + 12345) % $P)"
    val bK = s"((1103515245 * k + 54321) % $P)"
    val cK = s"((48271 * (2*k + 1) + 11213) % $P)"
    s"""${graft.text.HashFamily.powCte(255)},
       |tk AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents
       |       WHERE len(string_split(text, ' ')) <= 120),
       |sh AS (SELECT DISTINCT doc_id,
       |         array_to_string(t[i+1 : i+3], ' ') AS s
       |       FROM tk, generate_series(0, 127) ti(i)
       |       WHERE i <= greatest(len(t) - 3, 0)),
       |shf AS (SELECT doc_id, s,
       |          coalesce(sum(CAST(ord(substr(s, j, 1)) AS BIGINT) * p), 0) % $P AS fhi,
       |          coalesce(sum(CAST(ord(substr(s, j, 1)) AS BIGINT) * p2), 0) % $P AS flo
       |        FROM sh LEFT JOIN pwv ON j <= least(length(s), 255)
       |        GROUP BY 1, 2),
       |mh AS (SELECT doc_id, k,
       |         min((($aK * flo) % $P + ($cK * fhi) % $P + $bK) % $P) AS h
       |       FROM shf, generate_series(0, 63) tkk(k) GROUP BY 1, 2),
       |sig AS (SELECT doc_id, list(h ORDER BY k) AS sg FROM mh GROUP BY 1),
       |banded AS (SELECT doc_id, sg, b,
       |    (((((sg[b*4+1] * $B + sg[b*4+2]) % $P) * $B + sg[b*4+3]) % $P)
       |      * $B + sg[b*4+4]) % $P AS bh
       |  FROM sig, generate_series(0, 15) tb(b)),
       |cand AS (SELECT DISTINCT a.doc_id AS d1, c.doc_id AS d2,
       |                a.sg AS s1, c.sg AS s2
       |         FROM banded a JOIN banded c ON a.b = c.b AND a.bh = c.bh
       |         WHERE a.doc_id < c.doc_id),
       |est AS (SELECT d1, d2,
       |          sum(CASE WHEN s1[k] = s2[k] THEN 1 ELSE 0 END) / 64.0 AS je
       |        FROM cand, generate_series(1, 64) tj(k) GROUP BY 1, 2)""".stripMargin
  }

  val qMinhashPairsSql: String =
    s"""WITH $minhashCtes
       |SELECT d1, d2, round(je, 4) AS jaccard_est FROM est WHERE je >= 0.25""".stripMargin

  /** Keep-one near-dup clustering: the minhash LSH pairs (same chain as
    * q_minhash_pairs) collapse into transitive connected components via
    * the alternating-star algorithm; every filtered document maps to its
    * component's min doc_id (docs in no pair map to themselves). */
  def qDedupClusters(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir).where(size(split(col("text"), " ")) <= 120)
    val pairs = TextOps.minHashLsh(d, "doc_id", "text",
        shingleN = 3, numHashes = 64, bands = 16)
      .where(col("jaccard_est") >= 0.25)
    TextOps.dedupClusters(d, "doc_id", pairs)
  }

  /** Oracle: recursive transitive closure over the SAME pair list the
    * minhash CTEs derive, min reachable id per document. */
  val qDedupClustersSql: String =
    s"""WITH RECURSIVE $minhashCtes,
       |pe AS (SELECT d1 AS pa, d2 AS pb FROM est WHERE je >= 0.25
       |       UNION ALL
       |       SELECT d2, d1 FROM est WHERE je >= 0.25),
       |reach(id, r) AS (
       |  SELECT doc_id, doc_id FROM tk
       |  UNION
       |  SELECT pe.pa, reach.r FROM pe JOIN reach ON reach.id = pe.pb)
       |SELECT id AS doc_id, min(r) AS rep_id FROM reach GROUP BY 1""".stripMargin

  def qSimhashPairs(spark: SparkSession, dir: String): DataFrame =
    TextOps.simHashPairs(docs(spark, dir), "doc_id", "text", maxHamming = 7)

  /** Shared oracle fragment: HashFamily simhash signature per document
    * (distinct tokens weighted by occurrence count — same sum as the
    * per-occurrence loop; composed 62-bit token fingerprints, both
    * halves permuted). */
  private def simhashSqlCte: String = {
    import graft.text.HashFamily.P
    val aK = s"((1103515245 * (2*k + 1) + 12345) % $P)"
    val bK = s"((1103515245 * k + 54321) % $P)"
    val cK = s"((48271 * (2*k + 1) + 11213) % $P)"
    s"""tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
       |tf AS (SELECT doc_id, t, count(*) AS cnt FROM tok WHERE t <> '' GROUP BY 1, 2),
       |tfp AS (SELECT doc_id, t, cnt,
       |          coalesce(sum(CAST(ord(substr(t, j, 1)) AS BIGINT) * p), 0) % $P AS fhi,
       |          coalesce(sum(CAST(ord(substr(t, j, 1)) AS BIGINT) * p2), 0) % $P AS flo
       |        FROM tf LEFT JOIN pwv ON j <= least(length(t), 255)
       |        GROUP BY 1, 2, 3),
       |bits AS (SELECT doc_id, k,
       |           sum(CASE WHEN ((($aK * flo) % $P + ($cK * fhi) % $P + $bK) % $P) & 1 = 1
       |               THEN cnt ELSE -cnt END) AS c
       |         FROM tfp, generate_series(0, 63) tkk(k) GROUP BY 1, 2),
       |sig AS (SELECT doc_id,
       |          CAST(sum(CASE WHEN c > 0 THEN
       |            CASE WHEN k = 63 THEN -9223372036854775808
       |                 ELSE (CAST(1 AS BIGINT) << CAST(k AS INT)) END
       |            ELSE 0 END) AS BIGINT) AS sg
       |        FROM bits GROUP BY 1)""".stripMargin
  }

  val qSimhashPairsSql: String =
    s"""WITH ${graft.text.HashFamily.powCte(255)},
       |$simhashSqlCte
       |SELECT a.doc_id AS d1, c.doc_id AS d2,
       |  CAST(bit_count(xor(a.sg, c.sg)) AS INT) AS hamming
       |FROM sig a JOIN sig c ON a.doc_id < c.doc_id
       |WHERE bit_count(xor(a.sg, c.sg)) <= 7""".stripMargin

  /** Both sides filter to <= 1000 chars: the oracle's window bound
    * (generate_series to 1024) becomes an explicit contract (fixture max
    * ~580 chars — no-op today, scale-proof forever). */
  def qFingerprint(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir).where(length(col("text")) <= 1000)
      .select(col("doc_id"),
        TextOps.fingerprint(col("text"), 16).as("fp"),
        TextOps.simHash(col("text")).as("simhash"),
        TextOps.bpeishTokenCount(col("text")).as("bpeish_tokens"))

  val qFingerprintSql: String = {
    import graft.text.HashFamily.P
    s"""WITH ${graft.text.HashFamily.powCte(255)},
       |$simhashSqlCte,
       |wins AS (SELECT doc_id, text, w
       |         FROM documents, generate_series(1, 1024) tw(w)
       |         WHERE length(text) <= 1000
       |           AND w <= greatest(length(text) - 15, 1)),
       |wfp AS (SELECT doc_id, w,
       |          (coalesce(sum(CAST(ord(substr(text, w + j - 1, 1)) AS BIGINT) * p), 0)
       |            % $P) * 2147483648
       |          + coalesce(sum(CAST(ord(substr(text, w + j - 1, 1)) AS BIGINT) * p2), 0)
       |            % $P AS h
       |        FROM wins LEFT JOIN pwv
       |          ON j <= least(16, length(text) - w + 1)
       |        GROUP BY 1, 2),
       |minfp AS (SELECT doc_id, CAST(min(h) AS BIGINT) AS fp FROM wfp GROUP BY 1)
       |SELECT m.doc_id, fp, sg AS simhash,
       |  CAST(len(regexp_extract_all(d.text,
       |    '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS INT) AS bpeish_tokens
       |FROM minfp m JOIN sig USING (doc_id) JOIN documents d USING (doc_id)""".stripMargin
  }

  def qAnnTopK(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir)
    EmbedOps.cosineTopK(
      e.where(col("vec_id") < 20).select(col("vec_id").as("q_id"), col("embedding")),
      e, k = 3)
      .select(col("q_id"), col("vec_id"), round(col("cos"), 4).as("cos"), col("rn"))
  }

  /** Brute-force cosine top-k oracle: the dot products and norms are
    * recomputed from the unnested embedding lists in double. */
  val qAnnTopKSql: String =
    """WITH q AS (SELECT vec_id AS q_id, embedding AS qe FROM embeddings
      |           WHERE vec_id < 20),
      |dots AS (SELECT q_id, e.vec_id,
      |    sum(CAST(qe[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)) AS dp,
      |    sum(CAST(qe[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE)) AS nq,
      |    sum(CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)) AS nc
      |  FROM q, embeddings e, generate_series(1, 64) t(i)
      |  WHERE e.vec_id <> q_id
      |  GROUP BY 1, 2),
      |r AS (SELECT q_id, vec_id, dp / (sqrt(nq) * sqrt(nc)) AS cos,
      |        row_number() OVER (PARTITION BY q_id
      |          ORDER BY dp / (sqrt(nq) * sqrt(nc)) DESC, vec_id) AS rn
      |      FROM dots)
      |SELECT q_id, vec_id, round(cos, 4) AS cos, CAST(rn AS INT) AS rn
      |FROM r WHERE rn <= 3""".stripMargin

  def qAnnLsh(spark: SparkSession, dir: String): DataFrame =
    EmbedOps.lshCosinePairs(emb(spark, dir), planes = 16, bandBits = 4, minCos = 0.3)
      .select(col("v1"), col("v2"), round(col("cos"), 4).as("cos"))

  /** LSH plane signs are the LCG bits of EmbedOps.lshSignature — the
    * oracle recomputes signatures, band buckets, candidate pairs and the
    * exact cosine verification relationally.
    *
    * Knife-edge caveat (applies to the whole embedding-oracle family):
    * sign/threshold/rank decisions sit on float dot-product sums whose
    * addition order the two engines don't guarantee to share, so a
    * projection or cosine within a few ulps of 0 / minCos / a rank
    * boundary could flip a row. Dot sums agree to ~1e-15 relative, so
    * the per-pair flip probability is ~1e-10; at the driver's SFs
    * (<=1e4 candidate pairs) the family's aggregate failure odds are
    * ~1e-6 — accepted, documented here rather than papered over with a
    * tolerance that would weaken the exact-membership check. */
  val qAnnLshSql: String =
    """WITH sp AS (SELECT vec_id, p,
      |    sum(CAST(embedding[i] AS DOUBLE) *
      |        (CAST((1103515245 * (p * 1048576 + i - 1) + 12345) >> 16 & 1 AS DOUBLE)
      |         * 2.0 - 1.0)) AS proj
      |  FROM embeddings, generate_series(0, 15) tp(p),
      |       generate_series(1, 64) ti(i)
      |  GROUP BY 1, 2),
      |sig AS (SELECT vec_id,
      |    CAST(sum(CASE WHEN proj > 0
      |      THEN (CAST(1 AS BIGINT) << CAST(p AS INT)) ELSE 0 END) AS BIGINT) AS sg
      |  FROM sp GROUP BY 1),
      |banded AS (SELECT vec_id, b, (sg >> CAST(b * 4 AS INT)) & 15 AS bh
      |           FROM sig, generate_series(0, 3) tb(b)),
      |cand AS (SELECT DISTINCT a.vec_id AS v1, c.vec_id AS v2
      |         FROM banded a JOIN banded c ON a.b = c.b AND a.bh = c.bh
      |         WHERE a.vec_id < c.vec_id),
      |cz AS (SELECT v1, v2,
      |    sum(CAST(e1.embedding[i] AS DOUBLE) * CAST(e2.embedding[i] AS DOUBLE))
      |      / (sqrt(sum(CAST(e1.embedding[i] AS DOUBLE) * CAST(e1.embedding[i] AS DOUBLE)))
      |         * sqrt(sum(CAST(e2.embedding[i] AS DOUBLE) * CAST(e2.embedding[i] AS DOUBLE))))
      |      AS cos
      |  FROM cand JOIN embeddings e1 ON e1.vec_id = v1
      |       JOIN embeddings e2 ON e2.vec_id = v2,
      |       generate_series(1, 64) t(i)
      |  GROUP BY 1, 2)
      |SELECT v1, v2, round(cos, 4) AS cos FROM cz WHERE cos >= 0.3""".stripMargin

  // --- image-pipeline operator surface over gen.GridImages: pixels are a
  //     closed-form integer function, so the DuckDB oracle REGENERATES the
  //     identical pixel relation with generate_series while Spark decodes
  //     real encoded bytes through the real tiler — end-to-end checkable.

  import graft.ImageRow
  import graft.operators._
  import graft.gen.GridImages
  import org.apache.spark.sql.Encoders

  private def gridImages(spark: SparkSession, n: Int, bands: Int = 2) =
    spark.createDataset(GridImages.images(n, bands).toSeq)(
      Encoders.product[ImageRow])

  /** gridImages with per-(image, band) value clipping. The raw grid
    * formula attains (0, 96) for EVERY image and band (the x/y residue
    * sets cover all of Z_97), so any min/max-scoped oracle (cv2norm's
    * joint-over-bands extrema, gif's per-band rescale, color_raster's
    * per-raster auto ramp) is vacuous on it — a wrong-scope or
    * wrong-image stats join would still pass. Clipping to distinct
    * per-(i, b) bounds makes the scoping falsifiable; the SQL side
    * replays the same least/greatest on the regenerated pixels. */
  private def clippedGridImages(spark: SparkSession, n: Int, bands: Int,
      lo: (Int, Int) => Float, hi: (Int, Int) => Float) =
    gridImages(spark, n, bands).map { im =>
      val i = im.image_id.stripPrefix("g").toInt
      val dec = graft.core.PixelCodec.decode(im.bytes, im.fmt, im.w, im.h)
      val nb = dec.bands.zipWithIndex.map { case (bnd, b) =>
        val l = lo(i, b); val h = hi(i, b)
        bnd.map(v => math.min(h, math.max(l, v)))
      }
      ImageOps.withPixels(im)(nb)
    }(Encoders.product[ImageRow])

  /** The flagship pipeline, oracle-checked end to end: encoded grid
    * images -> decode+tile -> broadcast cell-prefilter join -> PIP ->
    * full zonal stat set — the DuckDB side recomputes every statistic
    * from the regenerated pixel relation. (SparkEntry.entry still runs
    * the Synth flagship for the driver smoke check.) */
  val pipeBoxes: Seq[(Long, Int, Int, Int, Int)] = Seq(
    (0L, 10, -40, 70, -5), (1L, 0, -48, 2000, 0), (2L, 260, -30, 300, -10),
    (3L, 500, 210, 600, 250), (4L, 50, -40, 290, -10))

  private def pipePolys: Seq[PolyRow] = pipeBoxes.map { case (id, x0, y0, x1, y1) =>
    PolyRow(id, 0, Array(Array(Pt(x0, y0), Pt(x1, y0), Pt(x1, y1), Pt(x0, y1))),
      cls = 1, name = s"pb$id", measure = 0.0)
  }

  val pipeBoxesSql: String = "(VALUES " + pipeBoxes.map { case (id, x0, y0, x1, y1) =>
    s"(CAST($id AS BIGINT), $x0, $y0, $x1, $y1)"
  }.mkString(", ") + ") AS bx(poly_id, bx0, by0, bx1, by1)"

  /** IVF ANN with a REAL fitted index: 2 Lloyd iterations (float-cast
    * centroids keep both engines bit-identical), nProbe=2 probing, top-3
    * — the oracle replays the entire k-means loop, the list assignment,
    * the probes and the final ranking. */
  def qAnnIvf(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val e = emb(spark, dir)
    val cents = EmbedOps.fitKMeans(e, k = 8, iters = 2)
    EmbedOps.ivfTopK(
      e.where(col("vec_id") < 20).select(col("vec_id").as("q_id"), col("embedding")),
      e, cents, k = 3, nProbe = 2)
      .select(col("q_id"), col("vec_id"), round(col("cos"), 4).as("cos"), col("rn"))
  }

  val qAnnIvfSql: String = {
    // one Lloyd iteration: centroids `prev`(c_id, ce) -> `next`
    def iter(n: Int, prev: String, next: String): String =
      s"""dots$n AS (SELECT e.vec_id, c.c_id,
         |    sum(CAST(e.embedding[i] AS DOUBLE) * CAST(c.ce[i] AS DOUBLE)) AS dp,
         |    sum(CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)) AS nv,
         |    sum(CAST(c.ce[i] AS DOUBLE) * CAST(c.ce[i] AS DOUBLE)) AS nc
         |  FROM embeddings e, $prev c, generate_series(1, 64) t(i)
         |  GROUP BY 1, 2),
         |asg$n AS (SELECT vec_id, c_id FROM (
         |    SELECT vec_id, c_id, row_number() OVER (PARTITION BY vec_id
         |      ORDER BY dp / (sqrt(nv) * sqrt(nc)) DESC, c_id) AS rn
         |    FROM dots$n) WHERE rn = 1),
         |$next AS (
         |  SELECT c_id, list(CAST(m AS FLOAT) ORDER BY i) AS ce FROM (
         |    SELECT a.c_id, i,
         |      sum(CAST(e.embedding[i] AS DOUBLE)) / count(*) AS m
         |    FROM asg$n a JOIN embeddings e USING (vec_id),
         |         generate_series(1, 64) t(i)
         |    GROUP BY 1, 2) GROUP BY 1
         |  UNION ALL
         |  SELECT c_id, ce FROM $prev
         |  WHERE c_id NOT IN (SELECT c_id FROM asg$n))""".stripMargin
    s"""WITH c0 AS (SELECT vec_id AS c_id, embedding AS ce FROM embeddings
       |            ORDER BY vec_id LIMIT 8),
       |${iter(0, "c0", "c1")},
       |${iter(1, "c1", "c2")},
       |fa AS (SELECT vec_id, c_id AS list_id FROM (
       |    SELECT d.vec_id, d.c_id, row_number() OVER (PARTITION BY d.vec_id
       |      ORDER BY dp / (sqrt(nv) * sqrt(nc)) DESC, d.c_id) AS rn
       |    FROM (SELECT e.vec_id, c.c_id,
       |            sum(CAST(e.embedding[i] AS DOUBLE) * CAST(c.ce[i] AS DOUBLE)) AS dp,
       |            sum(CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)) AS nv,
       |            sum(CAST(c.ce[i] AS DOUBLE) * CAST(c.ce[i] AS DOUBLE)) AS nc
       |          FROM embeddings e, c2 c, generate_series(1, 64) t(i)
       |          GROUP BY 1, 2) d) WHERE rn = 1),
       |qp AS (SELECT q_id, c_id AS list_id FROM (
       |    SELECT d.q_id, d.c_id, row_number() OVER (PARTITION BY d.q_id
       |      ORDER BY dp / (sqrt(nv) * sqrt(nc)) DESC, d.c_id) AS rn
       |    FROM (SELECT e.vec_id AS q_id, c.c_id,
       |            sum(CAST(e.embedding[i] AS DOUBLE) * CAST(c.ce[i] AS DOUBLE)) AS dp,
       |            sum(CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)) AS nv,
       |            sum(CAST(c.ce[i] AS DOUBLE) * CAST(c.ce[i] AS DOUBLE)) AS nc
       |          FROM embeddings e, c2 c, generate_series(1, 64) t(i)
       |          WHERE e.vec_id < 20
       |          GROUP BY 1, 2) d) WHERE rn <= 2),
       |cand AS (SELECT qp.q_id, fa.vec_id,
       |    sum(CAST(q.embedding[i] AS DOUBLE) * CAST(v.embedding[i] AS DOUBLE)) AS dp,
       |    sum(CAST(q.embedding[i] AS DOUBLE) * CAST(q.embedding[i] AS DOUBLE)) AS nq,
       |    sum(CAST(v.embedding[i] AS DOUBLE) * CAST(v.embedding[i] AS DOUBLE)) AS nv
       |  FROM qp JOIN fa USING (list_id)
       |       JOIN embeddings q ON q.vec_id = qp.q_id
       |       JOIN embeddings v ON v.vec_id = fa.vec_id,
       |       generate_series(1, 64) t(i)
       |  WHERE fa.vec_id <> qp.q_id
       |  GROUP BY 1, 2)
       |SELECT q_id, vec_id, round(cos, 4) AS cos, CAST(rn AS INT) AS rn FROM (
       |  SELECT q_id, vec_id, dp / (sqrt(nq) * sqrt(nv)) AS cos,
       |    row_number() OVER (PARTITION BY q_id
       |      ORDER BY dp / (sqrt(nq) * sqrt(nv)) DESC, vec_id) AS rn
       |  FROM cand) WHERE rn <= 3""".stripMargin
  }

  def qPipelineZonal(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val cellRes = Tiler.resForCellSize(64.0)
    val tiles = Tiler.tiles(gridImages(spark, 16, 2), 64, cellRes)
    val polys = spark.createDataset(pipePolys)(Encoders.product[PolyRow])
    ZonalStats.stats(ZonalStats.histogram(tiles, polys, cellRes))
  }

  val qPipelineZonalSql: String =
    s"""WITH ${GridImages.pxSql(16, 2)},
       |j AS (SELECT poly_id, CAST(b AS INT) AS band, v
       |      FROM px JOIN $pipeBoxesSql
       |      ON wx > bx0 AND wx < bx1 AND wy > by0 AND wy < by1),
       |h AS (SELECT poly_id, band, v, count(*) AS c FROM j GROUP BY 1, 2, 3),
       |t AS (SELECT poly_id, band, sum(c) AS n, max(c) AS maxc FROM h GROUP BY 1, 2),
       |med AS (SELECT poly_id, band, round(median(v), 6) AS "median"
       |        FROM j GROUP BY 1, 2),
       |md AS (SELECT h.poly_id, h.band, min(v) AS "mode"
       |       FROM h JOIN t USING (poly_id, band) WHERE c = maxc GROUP BY 1, 2),
       |ent AS (SELECT h.poly_id, h.band,
       |          round(-sum((c / n) * ln(c / n)), 6) AS entropy
       |        FROM h JOIN t USING (poly_id, band) GROUP BY 1, 2),
       |mom AS (SELECT poly_id, band, count(*) AS pix_count,
       |          sum(v) AS s1, sum(v*v) AS s2, sum(v*v*v) AS s3,
       |          sum(v*v*v*v) AS s4, min(v) AS "min", max(v) AS "max"
       |        FROM j GROUP BY 1, 2),
       |st AS (SELECT poly_id, band, pix_count,
       |  round(s1, 6) AS "sum",
       |  round(s1 / pix_count, 6) AS mean, "min", "max",
       |  round(sqrt(s2 / pix_count - pow(s1 / pix_count, 2)), 6) AS std,
       |  round(CASE WHEN s2/pix_count - (s1/pix_count)*(s1/pix_count) <= 0 THEN 0.0
       |    ELSE (s3/pix_count - 3.0*(s1/pix_count)*(s2/pix_count)
       |          + 2.0*(s1/pix_count)*(s1/pix_count)*(s1/pix_count))
       |         / pow(s2/pix_count - (s1/pix_count)*(s1/pix_count), 1.5) END, 6) AS skew,
       |  round(CASE WHEN s2/pix_count - (s1/pix_count)*(s1/pix_count) <= 0 THEN 0.0
       |    ELSE (s4/pix_count - 4.0*(s1/pix_count)*(s3/pix_count)
       |          + 6.0*(s1/pix_count)*(s1/pix_count)*(s2/pix_count)
       |          - 3.0*(s1/pix_count)*(s1/pix_count)*(s1/pix_count)*(s1/pix_count))
       |         / ((s2/pix_count - (s1/pix_count)*(s1/pix_count))
       |            * (s2/pix_count - (s1/pix_count)*(s1/pix_count))) - 3.0 END, 6)
       |    AS kurtosis,
       |  round(s1 * 1.0, 6) AS vol
       |  FROM mom)
       |SELECT st.poly_id, st.band, pix_count, "sum", mean, "min", "max", std,
       |       "median", "mode", skew, kurtosis, entropy, vol
       |FROM st JOIN med USING (poly_id, band) JOIN md USING (poly_id, band)
       |JOIN ent USING (poly_id, band)""".stripMargin

  /** The STREAMING ingest path run for real: the same 16 grid images
    * land as 4 parquet file "arrivals", ImageStream.zonalStream replays
    * them as 4 micro-batches (maxFilesPerTrigger = 1, AvailableNow),
    * appending per-batch histogram DELTAS with exactly-once checkpoint
    * state, and ImageStream.stats folds the deltas into final zonal
    * stats. Histogram counts are exact longs, so the fold is batching-
    * invariant and the DuckDB oracle is the same closed-form zonal SQL
    * as q_pipeline_zonal — the delta-fold resume model is what this row
    * actually oracles. */
  private def rmrf(f: java.io.File): Unit = {
    val kids = f.listFiles(); if (kids != null) kids.foreach(rmrf)
    f.delete(); ()
  }

  /** lazy so the cleanup hook registers exactly once per JVM. */
  private lazy val qisScratchRoot: java.io.File = {
    val d = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft_qis_scratch_${ProcessHandle.current().pid()}")
    sys.addShutdownHook(rmrf(d))
    d
  }

  /** Per-call subdir counter: each invocation streams into a FRESH
    * subdir of the per-JVM root instead of wiping the root — wiping
    * would delete a previous call's output under its lazily-returned
    * reader's feet (the same hazard ensureVrtFixtures guards against).
    * Subdirs accumulate only within one JVM run (a handful for
    * Verify/Bench); the root's shutdown hook removes them all. */
  private val qisCallSeq = new java.util.concurrent.atomic.AtomicLong(0L)

  def qImageStream(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val cellRes = Tiler.resForCellSize(64.0)
    // per-JVM root is PID-suffixed so concurrent driver and bench
    // processes never touch each other's live streaming state; the
    // per-call subdir keeps a stale checkpoint from ever pairing with
    // fresh input without invalidating earlier calls' readers. The
    // just-minted subdir is still wiped: a kill -9'd process whose PID
    // the OS later reuses can leave a same-named dir (its shutdown hook
    // never ran), and appending onto its stale input/checkpoint would
    // silently double the streamed counts — no reader in THIS JVM can
    // hold a name minted this instant, so the wipe is hazard-free.
    val base = new java.io.File(qisScratchRoot, s"c${qisCallSeq.getAndIncrement()}")
    rmrf(base)
    val inDir = new java.io.File(base, "in").toString
    val outDir = new java.io.File(base, "hist").toString
    val ckpt = new java.io.File(base, "ckpt").toString
    GridImages.images(16, 2).grouped(4).foreach { g =>
      spark.createDataset(g.toSeq)(Encoders.product[ImageRow])
        .coalesce(1).write.mode("append").parquet(inDir)
    }
    graft.streaming.ImageStream.zonalStream(spark, inDir, pipePolys, cellRes,
      64, outDir, ckpt, maxFilesPerTrigger = Some(1)).awaitTermination()
    graft.streaming.ImageStream.stats(spark, outDir)
  }

  val qImageStreamSql: String = qPipelineZonalSql

  /** The real zonal_rgb_idx op (RasterOps.zonalRgbIndices) over 3-band
    * grid images: all 11 per-polygon index means, oracle-recomputed from
    * the pixel formula. Boxes stay under ~1000 pixels so double-summation
    * order error (~N^2*eps*x) sits orders of magnitude below the
    * 4-decimal rounding both engines emit. */
  val rgbBoxes: Seq[(Long, Int, Int, Int, Int)] = Seq(
    (0L, 10, -40, 40, -10), (1L, 260, -30, 290, -10),
    (2L, 520, 230, 560, 245), (3L, 50, -40, 120, -20))

  private def rgbPolys: Seq[PolyRow] = rgbBoxes.map { case (id, x0, y0, x1, y1) =>
    PolyRow(id, 0, Array(Array(Pt(x0, y0), Pt(x1, y0), Pt(x1, y1), Pt(x0, y1))),
      cls = 1, name = s"rgb$id", measure = 0.0)
  }

  val rgbBoxesSql: String = "(VALUES " + rgbBoxes.map { case (id, x0, y0, x1, y1) =>
    s"(CAST($id AS BIGINT), $x0, $y0, $x1, $y1)"
  }.mkString(", ") + ") AS bx(poly_id, bx0, by0, bx1, by1)"

  def qZonalRgb(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val cellRes = Tiler.resForCellSize(64.0)
    val tiles = Tiler.multiTiles(gridImages(spark, 16, 3), 64, cellRes)
    val polys = spark.createDataset(rgbPolys)(Encoders.product[PolyRow])
    RasterOps.zonalRgbIndices(tiles, polys, cellRes, shift = 1.0)
  }

  val qZonalRgbSql: String = {
    val idx = rgbIndexSql(
      "(CAST((x*7 + y*13 + i*17) % 97 AS DOUBLE) + 1.0)",
      "(CAST((x*7 + y*13 + 31 + i*17) % 97 AS DOUBLE) + 1.0)",
      "(CAST((x*7 + y*13 + 62 + i*17) % 97 AS DOUBLE) + 1.0)")
    s"""WITH fv AS (
       |  SELECT i, x, y,
       |    (i % 8) * 256 + x + CAST(0.5 AS DOUBLE) AS wx,
       |    (i // 8) * 256 - y - CAST(0.5 AS DOUBLE) AS wy
       |  FROM generate_series(0, 15) t(i), generate_series(0, 79) tx(x),
       |       generate_series(0, 47) ty(y))
       |SELECT poly_id, """.stripMargin +
      idx.map { case (n, e) => s"round(avg($e), 4) AS $n" }.mkString(", ") +
      s"""
         |FROM fv JOIN $rgbBoxesSql
         |  ON wx > bx0 AND wx < bx1 AND wy > by0 AND wy < by1
         |GROUP BY poly_id""".stripMargin
  }

  /** classify_object: per-POLYGON zonal mean features scored by the
    * fitted centroid model (Training.classifyObjects column-math argmin);
    * the oracle replays extraction -> fit -> per-poly means -> argmin. */
  def qClassifyObject(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val cellRes = Tiler.resForCellSize(64.0)
    val imgs = gridImages(spark, 12, 2)
    val mt = Tiler.multiTiles(imgs, 64, cellRes)
    val model = fittedModel(spark, mt, cellRes)
    val tiles = Tiler.tiles(imgs, 64, cellRes)
    val hist = ZonalStats.histogram(tiles,
      spark.createDataset(pipePolys)(Encoders.product[PolyRow]), cellRes)
    val v = col("value").cast("double")
    val feats = hist.groupBy("poly_id").agg(
      (sum(when(col("band") === 0, v * col("cnt"))) /
        sum(when(col("band") === 0, col("cnt")))).as("f0"),
      (sum(when(col("band") === 1, v * col("cnt"))) /
        sum(when(col("band") === 1, col("cnt")))).as("f1"))
    Training.classifyObjects(feats, model, Seq("f0", "f1"))
      .select(col("poly_id"), round(col("f0"), 4).as("f0"),
        round(col("f1"), 4).as("f1"), col("pred"))
  }

  // lazy: references classifyBoxes/pipeBoxesSql defined further down
  lazy val qClassifyObjectSql: String = {
    s"""WITH $classifyFvCentSql,
       |feats AS (SELECT poly_id, sum(v0) / count(*) AS f0,
       |            sum(v1) / count(*) AS f1
       |          FROM fv JOIN $pipeBoxesSql
       |          ON wx > bx0 AND wx < bx1 AND wy > by0 AND wy < by1
       |          GROUP BY 1),
       |d AS (SELECT poly_id, f0, f1,
       |        min(CASE WHEN cls = 1 THEN (f0-c0)*(f0-c0) + (f1-c1)*(f1-c1) END) AS d1,
       |        min(CASE WHEN cls = 2 THEN (f0-c0)*(f0-c0) + (f1-c1)*(f1-c1) END) AS d2,
       |        min(CASE WHEN cls = 3 THEN (f0-c0)*(f0-c0) + (f1-c1)*(f1-c1) END) AS d3
       |      FROM feats CROSS JOIN cent GROUP BY 1, 2, 3)
       |SELECT poly_id, round(f0, 4) AS f0, round(f1, 4) AS f1,
       |  CAST(CASE WHEN d1 <= d2 AND d1 <= d3 THEN 1
       |            WHEN d2 <= d3 THEN 2 ELSE 3 END AS INT) AS pred
       |FROM d""".stripMargin
  }

  /** array2raster round trip: tiles -> assemble (inverse tiler, geo from
    * tile rows) -> per-(image, band) pixel sums — the oracle is the raw
    * pixel formula, so any mis-placement or cell-duplication in the
    * reassembly breaks the hash. */
  def qAssemble(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    import spark.implicits._
    val cellRes = Tiler.resForCellSize(64.0)
    val tiles = Tiler.tiles(gridImages(spark, 8, 2), 64, cellRes)
    ImageOps.assemble(tiles, GridImages.W, GridImages.H, "raw-le").flatMap { im =>
      val dec = graft.core.PixelCodec.decode(im.bytes, im.fmt, im.w, im.h)
      dec.bands.zipWithIndex.map { case (b, i) =>
        (im.image_id, i, b.map(_.toDouble).sum)
      }
    }.toDF("image_id", "band", "total")
      .select(col("image_id"), col("band"), round(col("total"), 2).as("total"))
  }

  val qAssembleSql: String =
    s"""WITH ${GridImages.pxSql(8, 2)}
       |SELECT image_id, CAST(b AS INT) AS band, round(sum(v), 2) AS total
       |FROM px GROUP BY 1, 2""".stripMargin

  /** rasterize: burn the box layer into grid-image-aligned mask tiles;
    * per-image burned-pixel counts — the oracle counts centers strictly
    * inside any box. */
  def qRasterize(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val cellRes = Tiler.resForCellSize(64.0)
    val tiles = Tiler.tiles(gridImages(spark, 8, 1), 64, cellRes)
    val polys = spark.createDataset(pipePolys)(Encoders.product[PolyRow])
    RasterOps.rasterize(tiles, polys, cellRes).toDF()
      .select(col("image_id"),
        graft.functions.PxFunctions.pxSum(col("pixels")).as("burned"))
      .groupBy("image_id")
      .agg(sum("burned").cast("long").as("n_burned"))
  }

  val qRasterizeSql: String =
    s"""WITH fv AS (
       |  SELECT i, x, y,
       |    (i % 8) * 256 + x + CAST(0.5 AS DOUBLE) AS wx,
       |    (i // 8) * 256 - y - CAST(0.5 AS DOUBLE) AS wy
       |  FROM generate_series(0, 7) t(i), generate_series(0, 79) tx(x),
       |       generate_series(0, 47) ty(y)),
       |hits AS (SELECT DISTINCT i, x, y FROM fv JOIN $pipeBoxesSql
       |         ON wx > bx0 AND wx < bx1 AND wy > by0 AND wy < by1),
       |cnt AS (SELECT i, count(*) AS n FROM hits GROUP BY 1)
       |SELECT printf('g%03d', g.i) AS image_id,
       |  CAST(coalesce(n, 0) AS BIGINT) AS n_burned
       |FROM generate_series(0, 7) g(i) LEFT JOIN cnt ON cnt.i = g.i""".stripMargin

  /** combine_grid: per-pixel product of two aligned rasters (band 0 x
    * band 1 of the same grid images); per-image mass. */
  def qCombineGrid(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    import spark.implicits._
    val cellRes = Tiler.resForCellSize(64.0)
    val tiles = Tiler.tiles(gridImages(spark, 6, 2), 64, cellRes)
    val s1 = tiles.filter(_.band == 0)
    val s2 = tiles.filter(_.band == 1).map(t => t.copy(band = 0))
    RasterOps.combineGrid(s1, s2).toDF()
      .select(col("image_id"),
        graft.functions.PxFunctions.pxSum(col("pixels")).as("mass"))
      .groupBy("image_id").agg(round(sum("mass"), 2).as("mass"))
  }

  val qCombineGridSql: String =
    s"""SELECT printf('g%03d', i) AS image_id,
       |  round(sum(CAST((x*7 + y*13 + i*17) % 97 AS DOUBLE)
       |          * CAST((x*7 + y*13 + 31 + i*17) % 97 AS DOUBLE)), 2) AS mass
       |FROM generate_series(0, 5) t(i), generate_series(0, 79) tx(x),
       |     generate_series(0, 47) ty(y)
       |GROUP BY 1""".stripMargin

  /** Band algebra NDVI (normalizedDifference band0 vs band1); per-image
    * sums — the oracle mirrors Spark's float-operand double division. */
  def qNdvi(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val cellRes = Tiler.resForCellSize(64.0)
    val tiles = Tiler.tiles(gridImages(spark, 6, 2), 64, cellRes)
    RasterOps.normalizedDifference(tiles, 0, 1)
      .select(col("image_id"),
        graft.functions.PxFunctions.pxSum(col("pixels")).as("total"))
      .groupBy("image_id").agg(round(sum("total"), 4).as("total"))
  }

  val qNdviSql: String =
    s"""SELECT printf('g%03d', i) AS image_id,
       |  round(sum(CAST(CAST(
       |    CAST(CAST((x*7 + y*13 + i*17) % 97
       |         - ((x*7 + y*13 + 31 + i*17) % 97) AS FLOAT) AS DOUBLE)
       |    / CAST(CAST((x*7 + y*13 + i*17) % 97
       |         + ((x*7 + y*13 + 31 + i*17) % 97) AS FLOAT) AS DOUBLE)
       |    AS FLOAT) AS DOUBLE)), 4) AS total
       |FROM generate_series(0, 5) t(i), generate_series(0, 79) tx(x),
       |     generate_series(0, 47) ty(y)
       |GROUP BY 1""".stripMargin

  /** DEM derivatives (gdaldem capability): Horn slope + hillshade over
    * grid images, per-image sums; the oracle re-derives the clamped 3x3
    * finite differences and the exact trig chain per pixel. */
  def qDem(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    import spark.implicits._
    val imgs = gridImages(spark, 8, 1)
    def total(prop: String) =
      ImageOps.demProcess(imgs, prop).map { im =>
        val dec = graft.core.PixelCodec.decode(im.bytes, im.fmt, im.w, im.h)
        (im.image_id, prop, dec.bands(0).map(_.toDouble).sum)
      }.toDF("image_id", "prop", "total")
    total("slope").unionByName(total("hillshade"))
      .select(col("image_id"), col("prop"), round(col("total"), 2).as("total"))
  }

  val qDemSql: String = {
    // clamped neighbor value: v(i, clamp(y+dy), clamp(x+dx))
    def at(dy: Int, dx: Int): String = {
      val yy = s"greatest(0, least(47, y + $dy))"
      val xx = s"greatest(0, least(79, x + $dx))"
      s"CAST(($xx*7 + $yy*13 + i*17) % 97 AS DOUBLE)"
    }
    val dzdx = s"(((${at(-1, 1)} + 2*${at(0, 1)} + ${at(1, 1)}) - " +
      s"(${at(-1, -1)} + 2*${at(0, -1)} + ${at(1, -1)})) / 8)"
    val dzdy = s"(((${at(1, -1)} + 2*${at(1, 0)} + ${at(1, 1)}) - " +
      s"(${at(-1, -1)} + 2*${at(-1, 0)} + ${at(-1, 1)})) / 8)"
    s"""WITH g AS (
       |  SELECT i, x, y, $dzdx AS zx, $dzdy AS zy
       |  FROM generate_series(0, 7) t(i), generate_series(0, 79) tx(x),
       |       generate_series(0, 47) ty(y)),
       |d AS (SELECT i,
       |    CAST(degrees(atan(sqrt(zx*zx + zy*zy))) AS FLOAT) AS slope,
       |    CAST(floor(254.0 * greatest(0.0,
       |      cos(radians(45.0)) * cos(atan(sqrt(zx*zx + zy*zy)))
       |       + sin(radians(45.0)) * sin(atan(sqrt(zx*zx + zy*zy)))
       |         * cos(radians(315.0) - pi()/2 - atan2(zy, -zx))) + 0.5) + 1.0
       |      AS FLOAT) AS hs
       |  FROM g)
       |SELECT printf('g%03d', i) AS image_id, 'slope' AS prop,
       |  round(sum(CAST(slope AS DOUBLE)), 2) AS total FROM d GROUP BY 1
       |UNION ALL
       |SELECT printf('g%03d', i), 'hillshade',
       |  round(sum(CAST(hs AS DOUBLE)), 2) FROM d GROUP BY 1""".stripMargin
  }

  /** gdaldem TRI / TPI / Roughness over grid images (batch_gdaldem's
    * remaining window props): per-image totals; every intermediate is an
    * exact small integer in double (values 0..96), so the DuckDB replay
    * is bit-identical up to the shared FLOAT cast. */
  def qDemTri(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    import spark.implicits._
    val imgs = gridImages(spark, 8, 1)
    def total(prop: String) =
      ImageOps.demProcess(imgs, prop).map { im =>
        val dec = graft.core.PixelCodec.decode(im.bytes, im.fmt, im.w, im.h)
        (im.image_id, prop, dec.bands(0).map(_.toDouble).sum)
      }.toDF("image_id", "prop", "total")
    total("TRI").unionByName(total("TPI")).unionByName(total("Roughness"))
      .select(col("image_id"), col("prop"), round(col("total"), 2).as("total"))
  }

  val qDemTriSql: String = {
    def at(dy: Int, dx: Int): String = {
      val yy = s"greatest(0, least(47, y + $dy))"
      val xx = s"greatest(0, least(79, x + $dx))"
      s"CAST(($xx*7 + $yy*13 + i*17) % 97 AS DOUBLE)"
    }
    val nbrs = for { dy <- -1 to 1; dx <- -1 to 1 if dy != 0 || dx != 0 } yield at(dy, dx)
    val c = at(0, 0)
    val triSq = nbrs.map(n => s"($n - $c) * ($n - $c)").mkString(" + ")
    val nsum = nbrs.mkString(" + ")
    val all9 = nbrs :+ c
    s"""WITH d AS (
       |  SELECT i,
       |    CAST(sqrt($triSq) AS FLOAT) AS tri,
       |    CAST($c - ($nsum) / 8.0 AS FLOAT) AS tpi,
       |    CAST(greatest(${all9.mkString(", ")}) -
       |         least(${all9.mkString(", ")}) AS FLOAT) AS rgh
       |  FROM generate_series(0, 7) t(i), generate_series(0, 79) tx(x),
       |       generate_series(0, 47) ty(y))
       |SELECT printf('g%03d', i) AS image_id, 'TRI' AS prop,
       |  round(sum(CAST(tri AS DOUBLE)), 2) AS total FROM d GROUP BY 1
       |UNION ALL
       |SELECT printf('g%03d', i), 'TPI',
       |  round(sum(CAST(tpi AS DOUBLE)), 2) FROM d GROUP BY 1
       |UNION ALL
       |SELECT printf('g%03d', i), 'Roughness',
       |  round(sum(CAST(rgh AS DOUBLE)), 2) FROM d GROUP BY 1""".stripMargin
  }

  /** gdaldem color-relief over grid images: a 3-stop ramp whose channel
    * deltas are multiples of the 48-wide segments, so every interpolated
    * channel is an exact integer — per-image per-channel totals. */
  private val demRamp = Seq(
    (0.0, 0.0, 0.0, 240.0), (48.0, 48.0, 192.0, 96.0), (96.0, 240.0, 48.0, 0.0))

  def qDemColor(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    import spark.implicits._
    val imgs = gridImages(spark, 8, 1)
    ImageOps.colorRelief(imgs, demRamp).map { im =>
      val dec = graft.core.PixelCodec.decode(im.bytes, im.fmt, im.w, im.h)
      def tot(b: Int) = dec.bands(b).foldLeft(0L)((a, f) => a + f.toLong)
      (im.image_id, tot(0), tot(1), tot(2))
    }.toDF("image_id", "r_total", "g_total", "b_total")
  }

  val qDemColorSql: String =
    s"""WITH d AS (
       |  SELECT i, CAST((x*7 + y*13 + i*17) % 97 AS DOUBLE) AS v
       |  FROM generate_series(0, 7) t(i), generate_series(0, 79) tx(x),
       |       generate_series(0, 47) ty(y))
       |SELECT printf('g%03d', i) AS image_id,
       |  CAST(sum(CASE WHEN v <= 48 THEN v ELSE 48 + (v - 48) * 4 END) AS BIGINT)
       |    AS r_total,
       |  CAST(sum(CASE WHEN v <= 48 THEN v * 4 ELSE 192 - (v - 48) * 3 END) AS BIGINT)
       |    AS g_total,
       |  CAST(sum(CASE WHEN v <= 48 THEN 240 - v * 3 ELSE 96 - (v - 48) * 2 END) AS BIGINT)
       |    AS b_total
       |FROM d GROUP BY 1""".stripMargin

  /** color_raster (raster.py:2090-2127): per-raster AUTO color ramp —
    * min/max define six equal-interval trunc()'d stops colored
    * black/blue/yellow/orange/red/white (the reference's white stop
    * EQUALS its red stop; values at/above clamp white) — then the
    * color-relief interpolation. The oracle derives the same per-image
    * stops with SQL min/max + trunc and replays every segment's
    * interpolation with the identical expression tree (t computed
    * first, floor(x+0.5) rounding). */
  def qColorRaster(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    import spark.implicits._
    // clipped fixture: per-image (2i, 93-3i) extrema make the per-raster
    // AUTO ramp falsifiable (raw grid min/max are (0,96) for every
    // image, so a global-stats or wrong-image bug would pass), and the
    // non-divisible-by-6 ranges exercise trunc() on fractional stops
    ImageOps.colorRaster(clippedGridImages(spark, 8, 1,
      (i, _) => 2f * i, (i, _) => 93f - 3f * i)).map { im =>
      val dec = graft.core.PixelCodec.decode(im.bytes, im.fmt, im.w, im.h)
      def tot(b: Int) = dec.bands(b).foldLeft(0L)((a, f) => a + f.toLong)
      (im.image_id, tot(0), tot(1), tot(2))
    }.toDF("image_id", "r_total", "g_total", "b_total")
  }

  val qColorRasterSql: String =
    """WITH d AS (
      |  SELECT i, least(greatest(CAST((x*7 + y*13 + i*17) % 97 AS DOUBLE),
      |                           2*i), 93 - 3*i) AS v
      |  FROM generate_series(0, 7) t(i), generate_series(0, 79) tx(x),
      |       generate_series(0, 47) ty(y)),
      |mm AS (
      |  SELECT i,
      |    trunc(min(v) + 1*(max(v)-min(v))/6) AS e1,
      |    trunc(min(v) + 2*(max(v)-min(v))/6) AS e2,
      |    trunc(min(v) + 3*(max(v)-min(v))/6) AS e3,
      |    trunc(min(v) + 4*(max(v)-min(v))/6) AS e4,
      |    trunc(min(v) + 5*(max(v)-min(v))/6) AS e5,
      |    trunc(max(v) - (max(v)-min(v))/6) AS e6
      |  FROM d GROUP BY i),
      |ch AS (
      |  SELECT d.i,
      |    CASE WHEN v <= e1 THEN 0.0
      |         WHEN v >= e6 THEN 255.0
      |         WHEN v <= e2 THEN 0.0
      |         WHEN v <= e3 THEN floor(255.0*((v-e2)/(e3-e2)) + 0.5)
      |         ELSE 255.0 END AS r,
      |    CASE WHEN v <= e1 THEN 0.0
      |         WHEN v >= e6 THEN 255.0
      |         WHEN v <= e2 THEN 0.0
      |         WHEN v <= e3 THEN floor(255.0*((v-e2)/(e3-e2)) + 0.5)
      |         WHEN v <= e4 THEN floor(255.0 - 90.0*((v-e3)/(e4-e3)) + 0.5)
      |         ELSE floor(165.0 - 165.0*((v-e4)/(e5-e4)) + 0.5) END AS g,
      |    CASE WHEN v <= e1 THEN 0.0
      |         WHEN v >= e6 THEN 255.0
      |         WHEN v <= e2 THEN floor(255.0*((v-e1)/(e2-e1)) + 0.5)
      |         WHEN v <= e3 THEN floor(255.0 - 255.0*((v-e2)/(e3-e2)) + 0.5)
      |         ELSE 0.0 END AS b
      |  FROM d JOIN mm ON d.i = mm.i)
      |SELECT printf('g%03d', i) AS image_id,
      |  CAST(sum(r) AS BIGINT) AS r_total,
      |  CAST(sum(g) AS BIGINT) AS g_total,
      |  CAST(sum(b) AS BIGINT) AS b_total
      |FROM ch GROUP BY 1""".stripMargin

  /** lazy so the cleanup hook registers exactly once per JVM (same
    * pattern as [[qisScratchRoot]]); PID-suffixed so concurrent verify
    * and bench PROCESSES on one host never scan each other's fixtures. */
  private lazy val qVrtScratchRoot: java.io.File = {
    val d = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft_vrt_${ProcessHandle.current().pid()}")
    sys.addShutdownHook(rmrf(d))
    d
  }

  /** Writes the two deterministic fixture "rasters" exactly once per
    * JVM (guarded + synchronized): later calls — including from OTHER
    * SparkSessions in this JVM — reuse the files instead of
    * overwrite-deleting them under a lazily-returned reader's feet. */
  private def ensureVrtFixtures(spark: SparkSession): String =
    qVrtScratchRoot.synchronized {
      val base = qVrtScratchRoot.getAbsolutePath
      if (!new java.io.File(s"$base/b/_SUCCESS").exists()) {
        gridImages(spark, 4, 1).write.mode("overwrite").parquet(s"$base/a")
        gridImages(spark, 8, 1).write.mode("overwrite").parquet(s"$base/b")
      }
      base
    }

  /** write_vrt / virtual mosaic as an oracle row: two image sets land as
    * two separate parquet "rasters"; openMosaic reads both paths in ONE
    * union scan. Images g000..g003 exist in both files, g004..g007 only
    * in the second — the per-image source count proves the union really
    * scanned both paths, the pixel total proves payloads decode intact
    * through the multi-path read. */
  def qVrt(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    import spark.implicits._
    val base = ensureVrtFixtures(spark)
    ImageOps.openMosaic(spark, Seq(s"$base/a", s"$base/b"))
      .as[ImageRow](Encoders.product[ImageRow])
      .map { im =>
        val dec = graft.core.PixelCodec.decode(im.bytes, im.fmt, im.w, im.h)
        (im.image_id, dec.bands(0).map(_.toDouble).sum)
      }.toDF("image_id", "t")
      .groupBy("image_id")
      .agg(count(lit(1)).as("n_src"), round(sum("t"), 2).as("total"))
  }

  val qVrtSql: String =
    """WITH d AS (
      |  SELECT i, sum(CAST((x*7 + y*13 + i*17) % 97 AS DOUBLE)) AS t
      |  FROM generate_series(0, 7) t(i), generate_series(0, 79) tx(x),
      |       generate_series(0, 47) ty(y)
      |  GROUP BY 1)
      |SELECT printf('g%03d', i) AS image_id,
      |  CAST(CASE WHEN i < 4 THEN 2 ELSE 1 END AS BIGINT) AS n_src,
      |  round(t * CASE WHEN i < 4 THEN 2 ELSE 1 END, 2) AS total
      |FROM d""".stripMargin

  /** set_bandnames as an oracle row: 3-band grid images get
    * ("red","green","blue"); the check explodes to per-(image, band_name)
    * pixel totals, so a name attached to the WRONG band's data (not just
    * a schema rename) would hash-mismatch — band b's formula term is
    * b*31, distinct per band. */
  def qBandnames(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    import spark.implicits._
    ImageOps.setBandNames(gridImages(spark, 6, 3), Seq("red", "green", "blue"))
      .select("image_id", "bytes", "fmt", "w", "h", "band_names")
      .as[(String, Array[Byte], String, Int, Int, Array[String])]
      .flatMap { case (id, bytes, fmt, w, h, nms) =>
        val dec = graft.core.PixelCodec.decode(bytes, fmt, w, h)
        nms.zipWithIndex.map { case (nm, b) =>
          (id, nm, dec.bands(b).map(_.toDouble).sum) }
      }.toDF("image_id", "band_name", "total")
      .select(col("image_id"), col("band_name"), round(col("total"), 2).as("total"))
  }

  val qBandnamesSql: String =
    """WITH d AS (
      |  SELECT i, b, sum(CAST((x*7 + y*13 + b*31 + i*17) % 97 AS DOUBLE)) AS t
      |  FROM generate_series(0, 5) t(i), generate_series(0, 2) tb(b),
      |       generate_series(0, 79) tx(x), generate_series(0, 47) ty(y)
      |  GROUP BY 1, 2)
      |SELECT printf('g%03d', i) AS image_id,
      |  CASE b WHEN 0 THEN 'red' WHEN 1 THEN 'green' ELSE 'blue' END
      |    AS band_name,
      |  round(t, 2) AS total
      |FROM d""".stripMargin

  /** niblack / sauvola local-threshold masks over grid images: per-image
    * bright-pixel counts; the oracle recomputes the clamped-window local
    * mean/std from exact integer sums (the engine side uses integral
    * images — same rationals). */
  def qLocalThreshold(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    import spark.implicits._
    val imgs = gridImages(spark, 8, 1)
    def maskCount(algo: String) =
      ImageOps.localThreshold(imgs, algo, window = 7, k = 0.2).map { im =>
        val dec = graft.core.PixelCodec.decode(im.bytes, im.fmt, im.w, im.h)
        (im.image_id, algo, dec.bands(0).count(_ == 1f).toLong)
      }.toDF("image_id", "algo", "n_bright")
    maskCount("niblack").unionByName(maskCount("sauvola"))
  }

  val qLocalThresholdSql: String =
    s"""WITH gpx AS (
       |  SELECT i, x, y, CAST((x*7 + y*13 + i*17) % 97 AS DOUBLE) AS v
       |  FROM generate_series(0, 7) t(i), generate_series(0, 79) tx(x),
       |       generate_series(0, 47) ty(y)),
       |nb AS (SELECT p.i, p.x, p.y, any_value(p.v) AS v,
       |         sum(q.v) AS s1, sum(q.v * q.v) AS s2, count(*) AS n
       |       FROM gpx p JOIN gpx q ON p.i = q.i
       |         AND q.x BETWEEN p.x - 3 AND p.x + 3
       |         AND q.y BETWEEN p.y - 3 AND p.y + 3
       |       GROUP BY 1, 2, 3),
       |th AS (SELECT i, v, s1 / n AS m,
       |         sqrt(greatest(0.0, s2 / n - (s1 / n) * (s1 / n))) AS sd
       |       FROM nb)
       |SELECT printf('g%03d', i) AS image_id, 'niblack' AS algo,
       |  CAST(sum(CASE WHEN v > m - CAST(0.2 AS DOUBLE) * sd THEN 1 ELSE 0 END) AS BIGINT) AS n_bright
       |FROM th GROUP BY 1
       |UNION ALL
       |SELECT printf('g%03d', i), 'sauvola',
       |  CAST(sum(CASE WHEN v > m * (1.0 + CAST(0.2 AS DOUBLE) * (sd / 128.0 - 1.0))
       |      THEN 1 ELSE 0 END) AS BIGINT)
       |FROM th GROUP BY 1""".stripMargin

  /** 3x3 convolution (edge-replicated) with an integer sharpen kernel —
    * exact sums, oracle re-derives the clamped neighborhood. */
  def qConvolve(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    import spark.implicits._
    val kernel = Array(0f, -1f, 0f, -1f, 5f, -1f, 0f, -1f, 0f)
    ImageOps.convolve3x3(gridImages(spark, 8, 1), kernel).map { im =>
      val dec = graft.core.PixelCodec.decode(im.bytes, im.fmt, im.w, im.h)
      (im.image_id, dec.bands(0).map(_.toDouble).sum)
    }.toDF("image_id", "total")
      .select(col("image_id"), round(col("total"), 2).as("total"))
  }

  val qConvolveSql: String = {
    def at(dy: Int, dx: Int): String = {
      val yy = s"greatest(0, least(47, y + $dy))"
      val xx = s"greatest(0, least(79, x + $dx))"
      s"CAST(($xx*7 + $yy*13 + i*17) % 97 AS DOUBLE)"
    }
    val conv = s"(5*${at(0, 0)} - ${at(-1, 0)} - ${at(0, -1)} - ${at(0, 1)} - ${at(1, 0)})"
    s"""SELECT printf('g%03d', i) AS image_id, round(sum($conv), 2) AS total
       |FROM generate_series(0, 7) t(i), generate_series(0, 79) tx(x),
       |     generate_series(0, 47) ty(y)
       |GROUP BY 1""".stripMargin
  }

  /** Box-average downsample by 2 (the multimodal resize plumbing): the
    * oracle recomputes each 2x2 block mean (exact dyadic rationals). */
  def qResize(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    import spark.implicits._
    ImageOps.resize(gridImages(spark, 8, 1), factor = 2).map { im =>
      val dec = graft.core.PixelCodec.decode(im.bytes, im.fmt, im.w, im.h)
      (im.image_id, im.w, im.h, dec.bands(0).map(_.toDouble).sum)
    }.toDF("image_id", "w", "h", "total")
      .select(col("image_id"), col("w"), col("h"), round(col("total"), 2).as("total"))
  }

  val qResizeSql: String =
    s"""SELECT printf('g%03d', i) AS image_id, CAST(40 AS INT) AS w,
       |  CAST(24 AS INT) AS h,
       |  round(sum((CAST(((2*bx)*7 + (2*by)*13 + i*17) % 97 AS DOUBLE)
       |           + CAST(((2*bx+1)*7 + (2*by)*13 + i*17) % 97 AS DOUBLE)
       |           + CAST(((2*bx)*7 + (2*by+1)*13 + i*17) % 97 AS DOUBLE)
       |           + CAST(((2*bx+1)*7 + (2*by+1)*13 + i*17) % 97 AS DOUBLE)) / 4), 2)
       |    AS total
       |FROM generate_series(0, 7) t(i), generate_series(0, 39) tb(bx),
       |     generate_series(0, 23) tc(by)
       |GROUP BY 1""".stripMargin

  /** Quegan multi-temporal filter: out_b = m_b * mean_b(I_b/m_b) with
    * 7x7 clamped local means; the oracle recomputes the whole chain
    * (the 3-term band mean added in the engine's exact order). */
  def qQuegan(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    import spark.implicits._
    ImageOps.queganFilter(gridImages(spark, 6, 3), window = 7).flatMap { im =>
      val dec = graft.core.PixelCodec.decode(im.bytes, im.fmt, im.w, im.h)
      dec.bands.zipWithIndex.map { case (b, i) =>
        (im.image_id, i, b.map(_.toDouble).sum)
      }
    }.toDF("image_id", "band", "total")
      .select(col("image_id"), col("band"), round(col("total"), 2).as("total"))
  }

  val qQueganSql: String =
    s"""WITH gpx AS (
       |  SELECT i, b, x, y, CAST((x*7 + y*13 + b*31 + i*17) % 97 AS DOUBLE) AS v
       |  FROM generate_series(0, 5) t(i), generate_series(0, 2) tb(b),
       |       generate_series(0, 79) tx(x), generate_series(0, 47) ty(y)),
       |m AS (SELECT p.i, p.b, p.x, p.y, any_value(p.v) AS v,
       |        sum(q.v) / count(*) AS m
       |      FROM gpx p JOIN gpx q ON p.i = q.i AND p.b = q.b
       |        AND q.x BETWEEN p.x - 3 AND p.x + 3
       |        AND q.y BETWEEN p.y - 3 AND p.y + 3
       |      GROUP BY 1, 2, 3, 4),
       |ov AS (SELECT i, x, y,
       |    ((sum(CASE WHEN b = 0 THEN CASE WHEN m = 0 THEN 0.0 ELSE v / m END END)
       |      + sum(CASE WHEN b = 1 THEN CASE WHEN m = 0 THEN 0.0 ELSE v / m END END))
       |      + sum(CASE WHEN b = 2 THEN CASE WHEN m = 0 THEN 0.0 ELSE v / m END END))
       |      / 3 AS ov
       |  FROM m GROUP BY 1, 2, 3)
       |SELECT printf('g%03d', m.i) AS image_id, CAST(b AS INT) AS band,
       |  round(sum(CAST(CAST(m.m * ov.ov AS FLOAT) AS DOUBLE)), 2) AS total
       |FROM m JOIN ov ON m.i = ov.i AND m.x = ov.x AND m.y = ov.y
       |GROUP BY 1, 2""".stripMargin

  /** Morphology erode/dilate/close (3x3 clamped): per-image mass sums,
    * oracle recomputes windowed min/max (close = min over max). */
  def qMorphology(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    import spark.implicits._
    val imgs = gridImages(spark, 6, 1)
    def total(op: String) =
      ImageOps.morphology(imgs, op).map { im =>
        val dec = graft.core.PixelCodec.decode(im.bytes, im.fmt, im.w, im.h)
        (im.image_id, op, dec.bands(0).map(_.toDouble).sum)
      }.toDF("image_id", "op", "total")
    total("erode").unionByName(total("dilate")).unionByName(total("close"))
      .select(col("image_id"), col("op"), round(col("total"), 2).as("total"))
  }

  val qMorphologySql: String =
    s"""WITH gpx AS (
       |  SELECT i, x, y, CAST((x*7 + y*13 + i*17) % 97 AS DOUBLE) AS v
       |  FROM generate_series(0, 5) t(i), generate_series(0, 79) tx(x),
       |       generate_series(0, 47) ty(y)),
       |w3 AS (SELECT p.i, p.x, p.y, min(q.v) AS e, max(q.v) AS d
       |       FROM gpx p JOIN gpx q ON p.i = q.i
       |         AND q.x BETWEEN p.x - 1 AND p.x + 1
       |         AND q.y BETWEEN p.y - 1 AND p.y + 1
       |       GROUP BY 1, 2, 3),
       |cl AS (SELECT p.i, p.x, p.y, min(q.d) AS c
       |       FROM w3 p JOIN w3 q ON p.i = q.i
       |         AND q.x BETWEEN p.x - 1 AND p.x + 1
       |         AND q.y BETWEEN p.y - 1 AND p.y + 1
       |       GROUP BY 1, 2, 3)
       |SELECT printf('g%03d', i) AS image_id, 'erode' AS op,
       |  round(sum(e), 2) AS total FROM w3 GROUP BY 1
       |UNION ALL
       |SELECT printf('g%03d', i), 'dilate', round(sum(d), 2) FROM w3 GROUP BY 1
       |UNION ALL
       |SELECT printf('g%03d', i), 'close', round(sum(c), 2) FROM cl GROUP BY 1""".stripMargin

  def qRasterPoints(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val cellRes = Tiler.resForCellSize(64.0)
    val tiles = Tiler.tiles(gridImages(spark, 8), 64, cellRes)
    RasterOps.rasterToPoints(tiles.toDF())
      .groupBy("image_id", "band")
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_v"),
        round(sum(col("value") * col("x")), 2).as("sum_vx"),
        round(sum(col("value") * col("y")), 2).as("sum_vy"))
  }

  /** The x/y-weighted sums pin the pixel-center coordinate math
    * (x_min + (col+0.5)*px), not just the value stream. */
  val qRasterPointsSql: String =
    s"""WITH ${GridImages.pxSql(8, 2)}
       |SELECT image_id, CAST(b AS INT) AS band, count(*) AS n,
       |  round(sum(v), 2) AS sum_v,
       |  round(sum(v * wx), 2) AS sum_vx,
       |  round(sum(v * wy), 2) AS sum_vy
       |FROM px GROUP BY 1, 2""".stripMargin

  /** polygonize over stripe images: components = 6-row stripes, so the
    * oracle derives region counts / sizes / rectangular ring vertex
    * counts in closed form from the stripe formula. */
  def qPolygonize(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val imgs = spark.createDataset(GridImages.striped(8).toSeq)(
      Encoders.product[ImageRow])
    Polygonize.polygonize(imgs, band = 0, quant = 13f)
      .toDF().select(col("image_id"), col("value"),
        col("pixel_count"), size(col("ring")).as("ring_len"))
      .groupBy("image_id", "value")
      .agg(count(lit(1)).as("n_regions"), sum("pixel_count").as("pixels"),
        sum("ring_len").as("ring_pts"))
  }

  val qPolygonizeSql: String =
    s"""WITH st AS (
       |  SELECT printf('g%03d', i) AS image_id,
       |         CAST(((i*5 + s) % 7) * 13 AS FLOAT) AS value
       |  FROM generate_series(0, 7) t(i), generate_series(0, 7) ts(s))
       |SELECT image_id, value, count(*) AS n_regions,
       |  CAST(count(*) * ${GridImages.W} * 6 AS BIGINT) AS pixels,
       |  CAST(count(*) * 4 AS BIGINT) AS ring_pts
       |FROM st GROUP BY 1, 2""".stripMargin

  /** shape_props over the fixed fixture polygons (integer-ish coords):
    * the oracle recomputes shoelace area (holes subtracted), perimeter,
    * area-weighted centroid and bbox extent from a VALUES vertex table.
    * min-rect axes / solidity stay ScalaTest-gated (rotating calipers is
    * not SQL). */
  def qShapeProps(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val polys = spark.createDataset(graft.gen.Synth.polygons(nExtra = 0).toSeq)(
      Encoders.product[PolyRow])
    ShapeProps.props(polys).toDF()
      .select(col("poly_id"), col("part"), round(col("area"), 4).as("area"),
        round(col("perimeter"), 4).as("perimeter"),
        round(col("centroid_x"), 4).as("centroid_x"),
        round(col("centroid_y"), 4).as("centroid_y"),
        round(col("extent"), 4).as("extent"))
  }

  /** Vertex VALUES with the NEXT vertex precomputed (wraparound), so the
    * oracle's shoelace/perimeter are single-pass aggregates. */
  val qShapePropsSql: String = {
    val rows = graft.gen.Synth.polygons(nExtra = 0).flatMap { p =>
      p.rings.zipWithIndex.flatMap { case (ring, ri) =>
        ring.indices.map { vi =>
          val a = ring(vi); val b = ring((vi + 1) % ring.length)
          s"(CAST(${p.poly_id} AS BIGINT), ${p.part}, $ri, " +
            s"CAST(${a.x} AS DOUBLE), CAST(${a.y} AS DOUBLE), " +
            s"CAST(${b.x} AS DOUBLE), CAST(${b.y} AS DOUBLE))"
        }
      }
    }
    s"""WITH vx(poly_id, part, ring, x, y, nx, ny) AS (
       |  VALUES ${rows.mkString(", ")}),
       |rg AS (SELECT poly_id, part, ring,
       |         sum(x*ny - nx*y) / 2 AS sa,
       |         sum(sqrt((nx-x)*(nx-x) + (ny-y)*(ny-y))) AS per
       |       FROM vx GROUP BY 1, 2, 3),
       |ar AS (SELECT poly_id, part,
       |         sum(CASE WHEN ring = 0 THEN abs(sa) ELSE -abs(sa) END) AS area,
       |         sum(per) AS perimeter
       |       FROM rg GROUP BY 1, 2),
       |ct AS (SELECT v.poly_id, v.part,
       |         sum((x + nx) * (x*ny - nx*y)) / (6 * any_value(sa)) AS cx,
       |         sum((y + ny) * (x*ny - nx*y)) / (6 * any_value(sa)) AS cy
       |       FROM vx v JOIN rg USING (poly_id, part, ring)
       |       WHERE ring = 0 GROUP BY 1, 2),
       |bb AS (SELECT poly_id, part,
       |         (max(greatest(x, nx)) - min(least(x, nx)))
       |         * (max(greatest(y, ny)) - min(least(y, ny))) AS bba
       |       FROM vx GROUP BY 1, 2)
       |SELECT ar.poly_id, ar.part, round(area, 4) AS area,
       |  round(perimeter, 4) AS perimeter,
       |  round(cx, 4) AS centroid_x, round(cy, 4) AS centroid_y,
       |  round(CASE WHEN bba > 0 THEN area / bba ELSE 0.0 END, 4) AS extent
       |FROM ar JOIN ct USING (poly_id, part) JOIN bb USING (poly_id, part)""".stripMargin
  }

  /** GLCM texture over grid images with one all-covering polygon; the
    * oracle rebuilds the symmetric pair histogram (offset (1,0), 32
    * levels over maxVal 256 = exact v/8 quantization, FULL-window pairs
    * incl. the ones crossing the 64-px tile boundary — formed from the
    * tiler's halo pixels) and recomputes every greycoprops formula. */
  def qGlcm(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val cellRes = Tiler.resForCellSize(64.0)
    val tiles = Tiler.tiles(gridImages(spark, 12, 2), 64, cellRes, halo = 1)
    val all = PolyRow(0L, 0,
      Array(Array(Pt(-10, -60), Pt(2100, -60), Pt(2100, 300), Pt(-10, 300))),
      1, "all", 0.0)
    val polys = spark.createDataset(Seq(all))(Encoders.product[PolyRow])
    Glcm.textureStats(Glcm.pairHistogram(tiles, polys, cellRes,
      dx = 1, dy = 0, levels = 32, maxVal = 256f, halo = 1, tileSize = 64))
  }

  val qGlcmSql: String =
    s"""WITH ${GridImages.pxSql(12, 2)},
       |pr AS (SELECT p1.b, CAST(floor(p1.v / 8) AS INT) AS qa,
       |              CAST(floor(p2.v / 8) AS INT) AS qb
       |       FROM px p1 JOIN px p2
       |         ON p1.i = p2.i AND p1.b = p2.b AND p1.y = p2.y AND p2.x = p1.x + 1),
       |h AS (SELECT CAST(0 AS BIGINT) AS poly_id, CAST(b AS INT) AS band,
       |             q1, q2, count(*) AS cnt
       |      FROM (SELECT b, qa AS q1, qb AS q2 FROM pr
       |            UNION ALL SELECT b, qb, qa FROM pr)
       |      GROUP BY 1, 2, 3, 4),
       |t AS (SELECT poly_id, band, sum(cnt) AS n FROM h GROUP BY 1, 2),
       |m AS (SELECT h.poly_id, h.band,
       |        sum(q1 * (cnt / n)) AS mu
       |      FROM h JOIN t USING (poly_id, band) GROUP BY 1, 2)
       |SELECT h.poly_id, h.band,
       |  round(sum((q1 - q2) * (q1 - q2) * (cnt / n)), 6) AS contrast,
       |  round(sum(abs(q1 - q2) * (cnt / n)), 6) AS dissimilarity,
       |  round(sum((cnt / n) / (1.0 + (q1 - q2) * (q1 - q2))), 6) AS homogeneity,
       |  round(sum((cnt / n) * (cnt / n)), 6) AS asm,
       |  round(sqrt(sum((cnt / n) * (cnt / n))), 6) AS energy,
       |  round(CASE WHEN sum((q1 - mu) * (q1 - mu) * (cnt / n)) <= 0 THEN 1.0
       |    ELSE sum((q1 - mu) * (q2 - mu) * (cnt / n))
       |         / sum((q1 - mu) * (q1 - mu) * (cnt / n)) END, 6) AS correlation
       |FROM h JOIN t USING (poly_id, band) JOIN m USING (poly_id, band)
       |GROUP BY 1, 2""".stripMargin

  /** Full ML pipeline oracle: sample extraction (integer training boxes
    * -> open-interval PIP), centroid fit (per-class feature means), and
    * per-pixel nearest-centroid classification are ALL recomputed
    * relationally by DuckDB from the pixel formula. */
  val classifyBoxes: Seq[(Int, Int, Int, Int, Int)] = Seq(
    // (cls, x0, y0, x1, y1) — inside images 0, 1 and 10 respectively
    (1, 10, -40, 70, -10), (2, 270, -40, 330, -10), (3, 520, 210, 580, 250))

  /** ONE fitted model for qClassify / qClassifyObject / qProb — the
    * three queries share classifyFvCentSql-family oracles that assume
    * the SAME training boxes and fit, so the extraction + fit lives in
    * one place (a drift between copies would train them apart while
    * the oracles kept assuming one model). */
  private def fittedModel(spark: SparkSession,
                          tiles: org.apache.spark.sql.Dataset[graft.MultiTileRow],
                          cellRes: Int): Training.CentroidModel = {
    implicit val s: SparkSession = spark
    val trainPolys = classifyBoxes.zipWithIndex.map { case ((cls, x0, y0, x1, y1), k) =>
      PolyRow(k.toLong, 0,
        Array(Array(Pt(x0, y0), Pt(x1, y0), Pt(x1, y1), Pt(x0, y1))),
        cls, s"train$cls", 0.0)
    }
    Training.fitCentroids(Training.extractSamples(tiles,
      spark.createDataset(trainPolys)(Encoders.product[PolyRow]), cellRes))
  }

  def qClassify(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val cellRes = Tiler.resForCellSize(64.0)
    val tiles = Tiler.multiTiles(gridImages(spark, 12, 2), 64, cellRes)
    val model = fittedModel(spark, tiles, cellRes)
    Training.classify(tiles, model).toDF()
      .select(col("image_id"),
        graft.functions.PxFunctions.pxSum(col("pixels")).as("class_sum"))
      .groupBy("image_id").agg(round(sum("class_sum"), 2).as("class_mass"))
  }

  /** Shared oracle fragment for the classify queries: the 12-image
    * 2-band pixel/feature relation fv and the fitted class centroids
    * cent — SINGLE source for q_classify and q_classify_object. */
  private lazy val classifyFvCentSql: String = {
    val boxesVals = "(VALUES " + classifyBoxes.map { case (c, x0, y0, x1, y1) =>
      s"($c, $x0, $y0, $x1, $y1)"
    }.mkString(", ") + ") AS tb(cls, tx0, ty0, tx1, ty1)"
    s"""fv AS (
       |  SELECT i, printf('g%03d', i) AS image_id, x, y,
       |    CAST((x*7 + y*13 + i*17) % 97 AS DOUBLE) AS v0,
       |    CAST((x*7 + y*13 + 31 + i*17) % 97 AS DOUBLE) AS v1,
       |    (i % 8) * 256 + x + CAST(0.5 AS DOUBLE) AS wx,
       |    (i // 8) * 256 - y - CAST(0.5 AS DOUBLE) AS wy
       |  FROM generate_series(0, 11) t(i), generate_series(0, 79) tx(x),
       |       generate_series(0, 47) ty(y)),
       |cent AS (SELECT cls, sum(v0) / count(*) AS c0, sum(v1) / count(*) AS c1
       |         FROM fv JOIN $boxesVals
       |         ON wx > tx0 AND wx < tx1 AND wy > ty0 AND wy < ty1
       |         GROUP BY 1)""".stripMargin
  }

  lazy val qClassifySql: String = {
    s"""WITH $classifyFvCentSql,
       |d AS (SELECT image_id, x, y,
       |        min(CASE WHEN cls = 1 THEN (v0-c0)*(v0-c0) + (v1-c1)*(v1-c1) END) AS d1,
       |        min(CASE WHEN cls = 2 THEN (v0-c0)*(v0-c0) + (v1-c1)*(v1-c1) END) AS d2,
       |        min(CASE WHEN cls = 3 THEN (v0-c0)*(v0-c0) + (v1-c1)*(v1-c1) END) AS d3
       |      FROM fv CROSS JOIN cent GROUP BY 1, 2, 3)
       |SELECT image_id,
       |  round(sum(CASE WHEN d1 <= d2 AND d1 <= d3 THEN 1.0
       |                 WHEN d2 <= d3 THEN 2.0 ELSE 3.0 END), 2) AS class_mass
       |FROM d GROUP BY 1""".stripMargin
  }

  /** q_prob — prob_pixel_bloc (learning.py:1401-1539): per-pixel
    * per-class probability bands from the same fitted centroid model as
    * q_classify; per (image, class) probability mass pins every pixel's
    * inverse-squared-distance weights (exact centroid math + mirrored
    * FLOAT store make the replay bit-faithful before the round). */
  def qProb(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val cellRes = Tiler.resForCellSize(64.0)
    val tiles = Tiler.multiTiles(gridImages(spark, 12, 2), 64, cellRes)
    val model = fittedModel(spark, tiles, cellRes)
    Training.classifyProb(tiles, model).toDF()
      .select(col("image_id"), col("band").as("cls"),
        graft.functions.PxFunctions.pxSum(col("pixels")).as("pmass"))
      .groupBy("image_id", "cls")
      .agg(round(sum("pmass"), 2).as("prob_mass"))
  }

  lazy val qProbSql: String = {
    def inv(k: Int) = s"1.0 / ((v0-c0$k)*(v0-c0$k) + (v1-c1$k)*(v1-c1$k) + 1e-12)"
    s"""WITH $classifyFvCentSql,
       |cw AS (SELECT
       |    max(CASE WHEN cls = 1 THEN c0 END) AS c01,
       |    max(CASE WHEN cls = 1 THEN c1 END) AS c11,
       |    max(CASE WHEN cls = 2 THEN c0 END) AS c02,
       |    max(CASE WHEN cls = 2 THEN c1 END) AS c12,
       |    max(CASE WHEN cls = 3 THEN c0 END) AS c03,
       |    max(CASE WHEN cls = 3 THEN c1 END) AS c13
       |  FROM cent),
       |p AS (SELECT image_id, x, y,
       |        ${inv(1)} AS i1, ${inv(2)} AS i2, ${inv(3)} AS i3
       |      FROM fv CROSS JOIN cw)
       |SELECT image_id, cls,
       |  round(sum(CASE cls
       |    WHEN 1 THEN CAST(CAST(i1 / ((i1 + i2) + i3) AS FLOAT) AS DOUBLE)
       |    WHEN 2 THEN CAST(CAST(i2 / ((i1 + i2) + i3) AS FLOAT) AS DOUBLE)
       |    ELSE CAST(CAST(i3 / ((i1 + i2) + i3) AS FLOAT) AS DOUBLE)
       |    END), 2) AS prob_mass
       |FROM p CROSS JOIN (VALUES (1), (2), (3)) AS tc(cls)
       |GROUP BY 1, 2""".stripMargin
  }

  /** mosaic: 4 locations x 2 overlapping images, nodata = 0 — first
    * non-nodata in image_id order wins; the oracle recomputes the
    * composite rule from the pixel formulas of both layers. */
  def qMosaic(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val cellRes = Tiler.resForCellSize(64.0)
    val imgs = spark.createDataset(GridImages.overlapping(4, 1).toSeq)(
      Encoders.product[ImageRow])
    val tiles = Tiler.tiles(imgs, 64, cellRes, nodata = 0f)
    RasterOps.mosaic(tiles.toDF())
      .select(col("cell_id"), col("band"), col("tx"), col("ty"),
        graft.functions.PxFunctions.pxSum(col("pixels")).as("mass"))
      .groupBy("band").agg(count(lit(1)).as("n_tiles"), round(sum("mass"), 2).as("mass"))
  }

  val qMosaicSql: String =
    """WITH pxm AS (
      |  SELECT loc, x, y,
      |    CAST((x*7 + y*13 + loc*17) % 97 AS DOUBLE) AS v1,
      |    CAST((x*7 + y*13 + (loc+4)*17) % 97 AS DOUBLE) AS v2
      |  FROM generate_series(0, 3) t(loc), generate_series(0, 79) tx(x),
      |       generate_series(0, 47) ty(y))
      |-- n_tiles: 4 locations x 2 tiles (80 px at tileSize 64), 1 band
      |SELECT CAST(0 AS INT) AS band, CAST(8 AS BIGINT) AS n_tiles,
      |  round(sum(CASE WHEN v1 <> 0 THEN v1 ELSE v2 END), 2) AS mass
      |FROM pxm""".stripMargin

  def qImageFeatures(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    // caption rides through decode -> feature extraction untouched: the
    // north rule's per-row caption-equality invariant, driver-checked
    ImageOps.features(gridImages(spark, 24, 2))
      .select(col("image_id"), col("band"), col("phash"),
        round(col("mean"), 4).as("mean"), round(col("std"), 4).as("std"),
        col("caption"))
  }

  /** The oracle recomputes the 64-bit average-hash (8x8 block means vs
    * global mean, PixelCodec.phash64) relationally — bit 63 lands exactly
    * on the BIGINT sign bit, added as Long.MinValue. */
  val qImageFeaturesSql: String =
    s"""WITH ${GridImages.pxSql(24, 2)},
       |cells AS (SELECT i, image_id, y // 6 * 8 + x // 10 AS k,
       |            sum(v) / count(*) AS cm
       |          FROM px WHERE b = 0 GROUP BY 1, 2, 3),
       |gm AS (SELECT i, sum(v) / count(*) AS m FROM px WHERE b = 0 GROUP BY 1),
       |ph AS (SELECT image_id,
       |         CAST(sum(CASE WHEN cm > m THEN
       |           CASE WHEN k = 63 THEN -9223372036854775808
       |                ELSE (CAST(1 AS BIGINT) << CAST(k AS INT)) END
       |           ELSE 0 END) AS BIGINT) AS phash
       |       FROM cells JOIN gm USING (i) GROUP BY 1),
       |st AS (SELECT i, image_id, CAST(b AS INT) AS band,
       |         round(sum(v) / count(*), 4) AS mean,
       |         round(sqrt(greatest(0.0, sum(v*v) / count(*)
       |           - (sum(v)/count(*)) * (sum(v)/count(*)))), 4) AS std
       |       FROM px GROUP BY 1, 2, 3)
       |SELECT st.image_id, band, phash, mean, std,
       |  'grid image ' || st.i AS caption
       |FROM st JOIN ph USING (image_id)""".stripMargin

  def qTranscode(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    // lossless -> qnt8 transcode: the oracle pins the qnt8 frame size
    // (bands * (8-byte min/max header + w*h bytes)); pixel exactness
    // (PSNR >= 40) is spec-gated in ImageOpsSpec
    val src = gridImages(spark, 16, 2)
    ImageOps.transcode(src, graft.core.PixelCodec.FmtQnt8).toDF()
      .select(col("image_id"), col("fmt"), length(col("bytes")).as("nbytes"),
        col("w"), col("h"))
  }

  val qTranscodeSql: String =
    s"""SELECT printf('g%03d', i) AS image_id, 'qnt8' AS fmt,
       |  CAST(2 * (8 + ${GridImages.W} * ${GridImages.H}) AS INT) AS nbytes,
       |  CAST(${GridImages.W} AS INT) AS w, CAST(${GridImages.H} AS INT) AS h
       |FROM generate_series(0, 15) t(i)""".stripMargin

  /** General JTS polygon∩polygon clip (clipToPolygons) of the zonal box
    * layer against a quadrant grid; the oracle computes every clipped
    * part's rectangle-intersection area in closed form. */
  val clipRects: Seq[(Long, Int, Int, Int, Int)] = Seq(
    (0L, 0, 0, 100, 50), (1L, 100, 0, 200, 50),
    (2L, 0, 50, 100, 100), (3L, 100, 50, 200, 100))

  def qClipPoly(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    import spark.implicits._
    val clipLayer = clipRects.map { case (id, x0, y0, x1, y1) =>
      PolyRow(id, 0, Array(Array(Pt(x0, y0), Pt(x1, y0), Pt(x1, y1), Pt(x0, y1))),
        1, s"r$id", 0.0)
    }
    VectorOps.clipToPolygons(spark.createDataset(boxPolys), clipLayer)
      .map { p =>
        val rings: graft.core.Geom.Rings = p.rings.map(_.map(q => (q.x, q.y)))
        (p.poly_id, graft.core.Geom.area(rings))
      }
      .toDF("clip_id", "area")
      .select(col("clip_id"), round(col("area"), 4).as("area"))
  }

  val qClipPolySql: String = {
    val rectVals = "(VALUES " + clipRects.map { case (id, x0, y0, x1, y1) =>
      s"(CAST($id AS BIGINT), $x0, $y0, $x1, $y1)"
    }.mkString(", ") + ") AS r(rid, rx0, ry0, rx1, ry1)"
    s"""SELECT poly_id * 100000 + rid AS clip_id,
       |  round(CAST((least(x1, rx1) - greatest(x0, rx0))
       |        * (least(y1, ry1) - greatest(y0, ry0)) AS DOUBLE), 4) AS area
       |FROM $boxesSql JOIN $rectVals
       |  ON least(x1, rx1) > greatest(x0, rx0)
       | AND least(y1, ry1) > greatest(y0, ry0)""".stripMargin
  }

  /** GeoJSON writer over the fixed fixture layer; the oracle REBUILDS the
    * Feature strings from the vertex VALUES with string_agg (printf %.1f
    * matches Scala's Double.toString for the fixture's 1-decimal
    * coordinate/measure values). */
  def qGeoJson(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val polys = spark.createDataset(graft.gen.Synth.polygons(nExtra = 0).toSeq)(
      Encoders.product[PolyRow])
    VectorOps.toGeoJson(polys)
  }

  val qGeoJsonSql: String = {
    val rows = graft.gen.Synth.polygons(nExtra = 0).flatMap { p =>
      p.rings.zipWithIndex.flatMap { case (ring, ri) =>
        // closed ring: vertices 0..n-1 then vertex 0 again (ring :+ head)
        (ring.indices :+ 0).zipWithIndex.map { case (vi, seq) =>
          val a = ring(vi)
          s"(CAST(${p.poly_id} AS BIGINT), ${p.part}, $ri, $seq, " +
            s"CAST(${a.x} AS DOUBLE), CAST(${a.y} AS DOUBLE), " +
            s"${p.cls}, '${p.name}', CAST(${p.measure} AS DOUBLE))"
        }
      }
    }
    s"""WITH vx(poly_id, part, ring, seq, x, y, cls, name, measure) AS (
       |  VALUES ${rows.mkString(", ")}),
       |rg AS (SELECT poly_id, part, ring,
       |         '[' || string_agg('[' || printf('%.1f', x) || ',' ||
       |                           printf('%.1f', y) || ']', ',' ORDER BY seq)
       |             || ']' AS ringstr,
       |         any_value(cls) AS cls, any_value(name) AS name,
       |         any_value(measure) AS measure
       |       FROM vx GROUP BY 1, 2, 3)
       |SELECT poly_id,
       |  '{"type":"Feature","geometry":{"type":"Polygon","coordinates":['
       |  || string_agg(ringstr, ',' ORDER BY ring)
       |  || ']},"properties":{"poly_id":' || poly_id || ',"class":'
       |  || any_value(cls) || ',"name":"' || any_value(name)
       |  || '","measure":' || printf('%.1f', any_value(measure)) || '}}'
       |  AS geojson
       |FROM rg GROUP BY poly_id, part""".stripMargin
  }

  /** Image near-dup over the phash column: grid-image base + lossless
    * re-encodes (same pixels, different fmt/id) — the oracle recomputes
    * every phash from the pixel formula (average-hash relationally, as
    * in q_image_features) and self-joins on bit_count(xor) <= 2, so the
    * whole chain (hash + blocking + verify) is DuckDB-checked. */
  def qPhashPairs(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val base = GridImages.images(24, bands = 1)
    val dupes = base.map { img =>
      val dec = graft.core.PixelCodec.decode(img.bytes, img.fmt, img.w, img.h)
      val fmt2 = if (img.fmt == "rle") "raw-le" else "rle"
      ImageOps.withPixels(img)(dec.bands, fmt = fmt2).copy(image_id = img.image_id + "_dup")
    }
    val all = spark.createDataset((base ++ dupes).toSeq)(Encoders.product[ImageRow])
    ImageDedup.phashPairs(all, maxHamming = 2)
  }

  /** Shared oracle fragment: phash of grid image i (1-band) as the 8x8
    * block-mean average hash. */
  private def phashSqlCte(n: Int): String =
    s"""gpx AS (
       |  SELECT i, x, y, CAST((x*7 + y*13 + i*17) % 97 AS DOUBLE) AS v
       |  FROM generate_series(0, ${n - 1}) t(i),
       |       generate_series(0, ${GridImages.W - 1}) tx(x),
       |       generate_series(0, ${GridImages.H - 1}) ty(y)),
       |cells AS (SELECT i, y // 6 * 8 + x // 10 AS k, sum(v) / count(*) AS cm
       |          FROM gpx GROUP BY 1, 2),
       |gm AS (SELECT i, sum(v) / count(*) AS m FROM gpx GROUP BY 1),
       |ph AS (SELECT i,
       |         CAST(sum(CASE WHEN cm > m THEN
       |           CASE WHEN k = 63 THEN -9223372036854775808
       |                ELSE (CAST(1 AS BIGINT) << CAST(k AS INT)) END
       |           ELSE 0 END) AS BIGINT) AS phash
       |       FROM cells JOIN gm USING (i) GROUP BY 1)""".stripMargin

  val qPhashPairsSql: String =
    s"""WITH ${phashSqlCte(24)},
       |ids AS (SELECT printf('g%03d', i) AS image_id, phash FROM ph
       |        UNION ALL
       |        SELECT printf('g%03d', i) || '_dup', phash FROM ph)
       |SELECT a.image_id AS i1, b.image_id AS i2,
       |  CAST(bit_count(xor(a.phash, b.phash)) AS INT) AS hamming
       |FROM ids a JOIN ids b ON a.image_id < b.image_id
       |WHERE bit_count(xor(a.phash, b.phash)) <= 2""".stripMargin

  def qImageDedup(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val base = GridImages.images(24, bands = 1)
    val dupes = base.take(10).map { img =>
      val dec = graft.core.PixelCodec.decode(img.bytes, img.fmt, img.w, img.h)
      val fmt2 = if (img.fmt == "rle") "raw-le" else "rle"
      ImageOps.withPixels(img)(dec.bands, fmt = fmt2).copy(image_id = "z" + img.image_id)
    }
    val all = spark.createDataset((base ++ dupes).toSeq)(Encoders.product[ImageRow])
    ImageDedup.dedupExact(all)
  }

  /** Ground truth derived in SQL: the re-encoded copies (i < 10) decode
    * to identical pixels, every other image's pixels differ (the i*17
    * term is injective mod 97), so groups are exactly {g_i, z g_i}. */
  val qImageDedupSql: String =
    """SELECT printf('g%03d', i) AS keep_id,
      |  CAST(CASE WHEN i < 10 THEN 2 ELSE 1 END AS BIGINT) AS n_dups
      |FROM generate_series(0, 23) t(i)""".stripMargin

  /** The north-rule index surface over the lineitem-derived point cloud:
    * planar grid ids (pure bit math) and H3-style hex ids (axial cube
    * rounding) via the batched Catalyst expressions — BOTH recomputed by
    * the oracle, bit for bit, plus k-ring expansion sizes. S2 (Hilbert
    * lookup tables, not SQL-expressible) is q_s2_index, spec-gated.
    *
    * "Bit for bit" holds for the integer/bit pipeline downstream of the
    * trig; the hex rotation itself rides libm sin/cos/atan2, which JVM
    * Math and DuckDB only guarantee to ~1 ulp. A fractional axial coord
    * within ~1e-12 of a cube-rounding boundary could therefore round to
    * different cells — per-point odds ~1e-10, same accepted-and-
    * documented class as the embedding-oracle knife-edge note at
    * qAnnLshSql. */
  def qCellIndex(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.SpatialFunctions._
    implicit val s: SparkSession = spark
    pts(spark, dir)
      .withColumn("sx", col("x") * 41 - 3000)
      .withColumn("sy", col("y") * 87 - 2000)
      .withColumn("grid", gridCellId(col("sx"), col("sy"), 13))
      .withColumn("hex", hexCellId(col("sx"), col("sy"), 7))
      .withColumn("grid_ring", size(gridKRing(col("grid"), 2)))
      .withColumn("hex_ring", size(hexKRing(col("hex"), 2)))
      .select("pt_id", "grid", "hex", "grid_ring", "hex_ring")
  }

  /** Grid: [res:5|ix:20|iy:20] with ix = clamp(floor((x + 2^19)/2^(20-res))).
    * Hex: rotate by -res*atan2(sqrt(3),5), axial fractional coords, cube
    * rounding (floor(q+0.5) = Scala math.round), zigzag-packed — mirrors
    * core.Hex term by term. */
  val qCellIndexSql: String =
    s"""WITH p0 AS ($ptsSql),
       |p AS (SELECT pt_id, x * 41 - 3000 AS sx, y * 87 - 2000 AS sy FROM p0),
       |hexf AS (SELECT pt_id, sx, sy,
       |    ((sqrt(3)/3) * (sx * cos(-(7*atan2(sqrt(3),5))) - sy * sin(-(7*atan2(sqrt(3),5))))
       |      - (1.0/3.0) * (sx * sin(-(7*atan2(sqrt(3),5))) + sy * cos(-(7*atan2(sqrt(3),5)))))
       |      / (65536 / pow(sqrt(7), 7)) AS qf,
       |    ((2.0/3.0) * (sx * sin(-(7*atan2(sqrt(3),5))) + sy * cos(-(7*atan2(sqrt(3),5)))))
       |      / (65536 / pow(sqrt(7), 7)) AS rf
       |  FROM p),
       |hexr AS (SELECT pt_id, sx, sy, qf, rf,
       |    CAST(floor(qf + 0.5) AS BIGINT) AS q0,
       |    CAST(floor(rf + 0.5) AS BIGINT) AS r0,
       |    CAST(floor(-qf - rf + 0.5) AS BIGINT) AS s0
       |  FROM hexf),
       |hexq AS (SELECT pt_id, sx, sy,
       |    CASE WHEN abs(q0 - qf) > abs(r0 - rf) AND abs(q0 - qf) > abs(s0 - (-qf - rf))
       |         THEN -r0 - s0 ELSE q0 END AS q,
       |    CASE WHEN NOT (abs(q0 - qf) > abs(r0 - rf) AND abs(q0 - qf) > abs(s0 - (-qf - rf)))
       |          AND abs(r0 - rf) > abs(s0 - (-qf - rf))
       |         THEN -q0 - s0 ELSE r0 END AS r
       |  FROM hexr)
       |SELECT pt_id,
       |  CAST(13 AS BIGINT) * 1099511627776
       |    + greatest(CAST(0 AS BIGINT), least(CAST(8191 AS BIGINT),
       |        CAST(floor((sx + 524288) / 128) AS BIGINT))) * 1048576
       |    + greatest(CAST(0 AS BIGINT), least(CAST(8191 AS BIGINT),
       |        CAST(floor((sy + 524288) / 128) AS BIGINT))) AS grid,
       |  4611686018427387904 + CAST(7 AS BIGINT) * 288230376151711744
       |    + (CASE WHEN q >= 0 THEN 2*q ELSE -2*q - 1 END) * 536870912
       |    + (CASE WHEN r >= 0 THEN 2*r ELSE -2*r - 1 END) AS hex,
       |  CAST(25 AS INT) AS grid_ring, CAST(19 AS INT) AS hex_ring
       |FROM hexq""".stripMargin

  /** S2 quad-tree/Hilbert ids, oracle-checked bit for bit: the DuckDB
    * side mirrors the whole chain — lat/lng -> unit xyz -> cube face/uv
    * (quadratic st) -> 2^30 leaf ij -> the 8-step Hilbert fold as chained
    * joins against the 4096-entry lookup table — with the final
    * (n*2 + 1) leaf wraparound done in HUGEINT. */
  def qS2Index(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.SpatialFunctions._
    implicit val s: SparkSession = spark
    customer(spark, dir).select(
      col("c_custkey").as("pt_id"),
      ((col("c_custkey") % 177) * 0.37 - 30.0).as("lat"),
      ((col("c_custkey") % 359) * 0.73 - 130.0).as("lng"))
      .withColumn("s2", s2CellId(col("lat"), col("lng"), 12))
      .select("pt_id", "s2")
  }

  val qS2IndexSql: String = {
    val lut = graft.core.S2.lookupPosTable
    val lutVals = lut.indices.map(i => s"($i,${lut(i)})").mkString(",")
    // one Hilbert step: consume 4 bits of i and j at nibble k, carry the
    // 2 orientation bits, accumulate 8 Hilbert position bits into n
    def step(k: Int, prev: String): String =
      s"""h$k AS (SELECT pt_id, face, i, j,
         |    CAST(lut.v & 3 AS BIGINT) AS bits,
         |    n + (CAST(lut.v >> 2 AS BIGINT) << ${k * 8}) AS n
         |  FROM $prev JOIN lut
         |    ON lut.k = (((i >> ${k * 4}) & 15) << 6)
         |             + (((j >> ${k * 4}) & 15) << 2) + bits)""".stripMargin
    s"""WITH lut(k, v) AS (VALUES $lutVals),
       |pt AS (SELECT c_custkey AS pt_id,
       |         (c_custkey % 177) * CAST(0.37 AS DOUBLE) - 30.0 AS lat,
       |         (c_custkey % 359) * CAST(0.73 AS DOUBLE) - 130.0 AS lng
       |       FROM customer),
       |xyz AS (SELECT pt_id,
       |    cos(radians(lat)) * cos(radians(lng)) AS x,
       |    cos(radians(lat)) * sin(radians(lng)) AS y,
       |    sin(radians(lat)) AS z
       |  FROM pt),
       |fc AS (SELECT pt_id, x, y, z,
       |    CASE WHEN abs(z) >= abs(x) AND abs(z) >= abs(y)
       |         THEN CASE WHEN z < 0 THEN 5 ELSE 2 END
       |         WHEN abs(y) >= abs(x)
       |         THEN CASE WHEN y < 0 THEN 4 ELSE 1 END
       |         ELSE CASE WHEN x < 0 THEN 3 ELSE 0 END END AS face
       |  FROM xyz),
       |uv AS (SELECT pt_id, face,
       |    CASE face WHEN 0 THEN y/x WHEN 1 THEN -x/y WHEN 2 THEN -x/z
       |              WHEN 3 THEN z/x WHEN 4 THEN z/y ELSE -y/z END AS u,
       |    CASE face WHEN 0 THEN z/x WHEN 1 THEN z/y WHEN 2 THEN -y/z
       |              WHEN 3 THEN y/x WHEN 4 THEN -x/y ELSE -x/z END AS v
       |  FROM fc),
       |st AS (SELECT pt_id, face,
       |    CASE WHEN u >= 0 THEN 0.5 * sqrt(1 + 3*u)
       |         ELSE 1 - 0.5 * sqrt(1 - 3*u) END AS s,
       |    CASE WHEN v >= 0 THEN 0.5 * sqrt(1 + 3*v)
       |         ELSE 1 - 0.5 * sqrt(1 - 3*v) END AS t
       |  FROM uv),
       |ij AS (SELECT pt_id, face,
       |    greatest(0, least(1073741823, CAST(floor(s * 1073741824) AS BIGINT))) AS i,
       |    greatest(0, least(1073741823, CAST(floor(t * 1073741824) AS BIGINT))) AS j,
       |    CAST(face & 1 AS BIGINT) AS bits, CAST(0 AS BIGINT) AS n
       |  FROM st),
       |${step(7, "ij")},
       |${step(6, "h7")},
       |${step(5, "h6")},
       |${step(4, "h5")},
       |${step(3, "h4")},
       |${step(2, "h3")},
       |${step(1, "h2")},
       |${step(0, "h1")},
       |leaf AS (SELECT pt_id,
       |    (CAST(face AS HUGEINT) * 1152921504606846976 + n) * 2 + 1 AS lh
       |  FROM h0)
       |SELECT pt_id,
       |  (CAST(CASE WHEN lh >= 9223372036854775808 THEN lh - 18446744073709551616
       |        ELSE lh END AS BIGINT) & -68719476736) | 68719476736 AS s2
       |FROM leaf""".stripMargin
  }

  // ------------------------------------------- round-3 oracle rows for the
  //     previously spec-only operators (clip_raster, temp_match, stat_comp,
  //     mask_raster, otsu+LUT, buffer, zonal_point_stk, FID, concave clip,
  //     streaming batch replays)

  /** clip_raster cutline (raster.py:1932-2047): crop to the polygon's
    * cells + nodata-mask outside, then rasterToPoints drops the NaN
    * nodata — kept-pixel count and sum per (image, band); the oracle
    * counts centers strictly inside the rectangle. */
  def qClipRaster(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val cellRes = Tiler.resForCellSize(64.0)
    val tiles = Tiler.tiles(gridImages(spark, 8, 2), 64, cellRes)
    val cut = PolyRow(0L, 0, Array(Array(
      Pt(50, -40), Pt(290, -40), Pt(290, -10), Pt(50, -10))), 1, "cut", 0.0)
    RasterOps.rasterToPoints(RasterOps.clipRaster(tiles, cut, cellRes).toDF())
      .groupBy("image_id", "band")
      .agg(count(lit(1)).as("n_kept"), round(sum("value"), 2).as("sum_v"))
  }

  val qClipRasterSql: String =
    s"""WITH ${GridImages.pxSql(8, 2)}
       |SELECT image_id, CAST(b AS INT) AS band, count(*) AS n_kept,
       |  round(sum(v), 2) AS sum_v
       |FROM px
       |WHERE wx > 50 AND wx < 290 AND wy > -40 AND wy < -10
       |GROUP BY 1, 2""".stripMargin

  /** temp_match (utilities.py:1110-1239): fixed 4x4 template planted in
    * otherwise-flat images at a per-image closed-form location — flat
    * windows score 0 (zero variance), partial overlaps < 1, the planted
    * window scores exactly 1, so the NCC argmax is provable. */
  private val tmplVals: Array[Float] =
    Array.tabulate(16)(k => ((k * 29) % 83 + 20).toFloat)

  private def plantedImages(spark: SparkSession, n: Int) = {
    val imgs = (0 until n).map { i =>
      val r0 = (i * 5) % 40 + 2
      val c0 = (i * 11) % 70 + 3
      val b = Array.fill(GridImages.W * GridImages.H)(10f)
      var k = 0
      while (k < 16) {
        b((r0 + k / 4) * GridImages.W + (c0 + k % 4)) = tmplVals(k)
        k += 1
      }
      ImageOps.fromArray(f"p$i%03d", Array(b), GridImages.W, GridImages.H,
        0.0, 0.0, 1.0, graft.core.PixelCodec.FmtRawLe)
    }
    spark.createDataset(imgs)(Encoders.product[ImageRow])
  }

  def qTemplateMatch(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    ImageOps.templateMatch(plantedImages(spark, 16), tmplVals, 4, 4)
      .select(col("image_id"), col("row").as("m_row"), col("col").as("m_col"),
        round(col("score"), 4).as("score"))
  }

  val qTemplateMatchSql: String =
    """SELECT printf('p%03d', i) AS image_id,
      |  CAST((i*5) % 40 + 2 AS INT) AS m_row,
      |  CAST((i*11) % 70 + 3 AS INT) AS m_col,
      |  CAST(1.0 AS DOUBLE) AS score
      |FROM generate_series(0, 15) t(i)""".stripMargin

  /** stat_comp (raster.py:2410-2528): band-axis percentile composite
    * (statChoose np.nanpercentile, raster.py:2464-2473) — p25 across the
    * 3 bands; the oracle interpolates the sorted 3-value stack in closed
    * form (lo + (mid - lo) * 0.5). */
  def qStatComp(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val cellRes = Tiler.resForCellSize(64.0)
    val tiles = Tiler.tiles(gridImages(spark, 6, 3), 64, cellRes)
    RasterOps.bandComposite(tiles.toDF(), "percentile", q = 25.0)
      .select(col("image_id"),
        graft.functions.PxFunctions.pxSum(col("pixels")).as("total"))
      .groupBy("image_id").agg(round(sum("total"), 2).as("total"))
  }

  val qStatCompSql: String =
    """WITH g AS (
      |  SELECT i,
      |    CAST((x*7 + y*13 + i*17) % 97 AS DOUBLE) AS v0,
      |    CAST((x*7 + y*13 + 31 + i*17) % 97 AS DOUBLE) AS v1,
      |    CAST((x*7 + y*13 + 62 + i*17) % 97 AS DOUBLE) AS v2
      |  FROM generate_series(0, 5) t(i), generate_series(0, 79) tx(x),
      |       generate_series(0, 47) ty(y)),
      |p AS (SELECT i, CAST(least(v0, v1, v2)
      |        + ((v0 + v1 + v2 - least(v0, v1, v2) - greatest(v0, v1, v2))
      |           - least(v0, v1, v2)) * CAST(0.5 AS DOUBLE) AS FLOAT) AS pv
      |      FROM g)
      |SELECT printf('g%03d', i) AS image_id,
      |  round(sum(CAST(pv AS DOUBLE)), 2) AS total
      |FROM p GROUP BY 1""".stripMargin

  /** mask_raster (raster.py:1031-1134): keep pixels == 42, fill 0 — the
    * kept mass per (image, band) is 42 x the matching-pixel count. */
  def qMaskEquals(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val cellRes = Tiler.resForCellSize(64.0)
    val tiles = Tiler.tiles(gridImages(spark, 8, 2), 64, cellRes)
    RasterOps.maskEquals(tiles.toDF(), mval = 42f, fill = 0f)
      .select(col("image_id"), col("band"),
        graft.functions.PxFunctions.pxSum(col("pixels")).as("mass"))
      .groupBy("image_id", "band").agg(sum("mass").cast("long").as("mass"))
  }

  val qMaskEqualsSql: String =
    s"""WITH ${GridImages.pxSql(8, 2)}
       |SELECT image_id, CAST(b AS INT) AS band,
       |  CAST(sum(CASE WHEN v = 42 THEN 42 ELSE 0 END) AS BIGINT) AS mass
       |FROM px GROUP BY 1, 2""".stripMargin

  /** colour_thresh (utilities.py:1642-1716): the HSV convert + inRange +
    * bitwise_and core of the reference's interactive threshold tool, run
    * distributed over 3-band tiles (zero shuffle — the convert rides
    * multiTiles). Per image: pixels passing the HSV window plus the
    * masked per-band masses. The oracle rebuilds the EXACT double
    * arithmetic per pixel — same branch order (V==R, V==G, V==B), same
    * +360 wrap-then-halve, same S = d*255/V scaling — from the
    * regenerated pixel relation, so the mask matches bit-for-bit.
    * Planted grey/black/wrap/boundary pixels activate the otherwise-dead
    * branches and the binding sMax/vMax exercise the upper bounds. */
  def qColourThresh(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val cellRes = Tiler.resForCellSize(64.0)
    // the raw grid bands are pairwise distinct mod 97, so the d==0
    // (grey), v==0 (black) and negative-hue-wrap branches are dead on
    // the plain fixture — plant one pixel for each in row 0 of every
    // image so the oracle pair exercises them; (2,0) sits exactly on
    // the V==R/V==G sector boundary (h = 30 by continuity either way)
    val special = Map((0, 0) -> Array(50f, 50f, 50f),
      (1, 0) -> Array(0f, 0f, 0f), (2, 0) -> Array(80f, 80f, 10f),
      (3, 0) -> Array(90f, 10f, 50f))
    val imgs = gridImages(spark, 8, 3).map { im =>
      val dec = graft.core.PixelCodec.decode(im.bytes, im.fmt, im.w, im.h)
      special.foreach { case ((x, y), rgb) =>
        var b = 0
        while (b < 3) { dec.bands(b)(y * im.w + x) = rgb(b); b += 1 }
      }
      ImageOps.withPixels(im)(dec.bands)
    }(Encoders.product[ImageRow])
    val tiles = Tiler.multiTiles(imgs, 64, cellRes)
    // sMax = 220 / vMax = 90 are BINDING on this fixture (raw s reaches
    // 252, v reaches 96) so the upper-bound comparisons are exercised
    RasterOps.colourThresh(tiles, hMin = 20, hMax = 160, sMin = 60, sMax = 220,
        vMin = 20, vMax = 90)
      .select(col("image_id"),
        graft.functions.PxFunctions.pxSum(col("mask")).as("np"),
        graft.functions.PxFunctions.pxSum(col("r")).as("mr"),
        graft.functions.PxFunctions.pxSum(col("g")).as("mg"),
        graft.functions.PxFunctions.pxSum(col("b")).as("mb"))
      .groupBy("image_id").agg(
        sum("np").cast("long").as("n_pass"),
        sum("mr").cast("long").as("mass_r"),
        sum("mg").cast("long").as("mass_g"),
        sum("mb").cast("long").as("mass_b"))
  }

  val qColourThreshSql: String =
    s"""WITH ${GridImages.pxSql(8, 3)},
       |rgb0 AS (
       |  SELECT image_id, x, y,
       |    max(CASE WHEN b = 0 THEN v END) AS r,
       |    max(CASE WHEN b = 1 THEN v END) AS g,
       |    max(CASE WHEN b = 2 THEN v END) AS bl
       |  FROM px GROUP BY 1, 2, 3),
       |rgb AS (
       |  SELECT image_id, x, y,
       |    CASE WHEN y = 0 AND x = 0 THEN 50.0 WHEN y = 0 AND x = 1 THEN 0.0
       |         WHEN y = 0 AND x = 2 THEN 80.0 WHEN y = 0 AND x = 3 THEN 90.0
       |         ELSE r END AS r,
       |    CASE WHEN y = 0 AND x = 0 THEN 50.0 WHEN y = 0 AND x = 1 THEN 0.0
       |         WHEN y = 0 AND x = 2 THEN 80.0 WHEN y = 0 AND x = 3 THEN 10.0
       |         ELSE g END AS g,
       |    CASE WHEN y = 0 AND x = 0 THEN 50.0 WHEN y = 0 AND x = 1 THEN 0.0
       |         WHEN y = 0 AND x = 2 THEN 10.0 WHEN y = 0 AND x = 3 THEN 50.0
       |         ELSE bl END AS bl
       |  FROM rgb0),
       |hx AS (
       |  SELECT image_id, r, g, bl,
       |    greatest(r, g, bl) AS v,
       |    greatest(r, g, bl) - least(r, g, bl) AS d
       |  FROM rgb),
       |hs AS (
       |  SELECT image_id, r, g, bl, v,
       |    (CASE WHEN d = 0 THEN 0.0
       |          WHEN v = r AND 60.0*(g - bl)/d < 0 THEN (60.0*(g - bl)/d + 360.0)/2.0
       |          WHEN v = r THEN (60.0*(g - bl)/d)/2.0
       |          WHEN v = g THEN (120.0 + 60.0*(bl - r)/d)/2.0
       |          ELSE (240.0 + 60.0*(r - g)/d)/2.0 END) AS h,
       |    CASE WHEN v = 0 THEN 0.0 ELSE d*255.0/v END AS s
       |  FROM hx),
       |m AS (
       |  SELECT image_id, r, g, bl,
       |    CASE WHEN h >= 20 AND h <= 160 AND s >= 60 AND s <= 220
       |          AND v >= 20 AND v <= 90 THEN 1 ELSE 0 END AS pass
       |  FROM hs)
       |SELECT image_id,
       |  CAST(sum(pass) AS BIGINT) AS n_pass,
       |  CAST(sum(pass * r) AS BIGINT) AS mass_r,
       |  CAST(sum(pass * g) AS BIGINT) AS mass_g,
       |  CAST(sum(pass * bl) AS BIGINT) AS mass_b
       |FROM m GROUP BY 1""".stripMargin

  /** Otsu threshold + LUT application (shape.py:2367-2372 thresholds,
    * raster.py LUT remap): the exact-histogram Otsu scan (97 distinct
    * values) picks the between-class-variance argmax; a broadcast LUT
    * binarizes and the per-image above-threshold counts come out. The
    * oracle replays the WHOLE argmax scan relationally. */
  def qOtsu(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val cellRes = Tiler.resForCellSize(64.0)
    val tiles = Tiler.tiles(gridImages(spark, 8, 1), 64, cellRes)
    val thr = RasterOps.otsuThreshold(tiles.toDF(), levels = 256)
    val lut = (0 until 97).map(v => v.toFloat -> (if (v > thr) 1f else 0f)).toMap
    RasterOps.applyLut(tiles.toDF(), lut)
      .select(col("image_id"),
        graft.functions.PxFunctions.pxSum(col("pixels")).as("n_above"))
      .groupBy("image_id").agg(sum("n_above").cast("long").as("n_above"))
      .withColumn("threshold", lit(thr))
  }

  val qOtsuSql: String =
    """WITH gpx AS (
      |  SELECT i, CAST((x*7 + y*13 + i*17) % 97 AS DOUBLE) AS v
      |  FROM generate_series(0, 7) t(i), generate_series(0, 79) tx(x),
      |       generate_series(0, 47) ty(y)),
      |h AS (SELECT v, count(*) AS c FROM gpx GROUP BY 1),
      |t AS (SELECT sum(c) AS total, sum(v * c) AS sumall FROM h),
      |cum AS (SELECT v, sum(c) OVER (ORDER BY v) AS wb,
      |               sum(v * c) OVER (ORDER BY v) AS sumb FROM h),
      |bc AS (SELECT v,
      |        wb * (total - wb)
      |          * ((sumb / wb) - (sumall - sumb) / (total - wb))
      |          * ((sumb / wb) - (sumall - sumb) / (total - wb)) AS bcv
      |       FROM cum, t WHERE wb > 0 AND wb < total),
      |best AS (SELECT v AS thr FROM bc ORDER BY bcv DESC, v ASC LIMIT 1)
      |SELECT printf('g%03d', i) AS image_id,
      |  CAST(sum(CASE WHEN v > (SELECT thr FROM best) THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_above,
      |  (SELECT thr FROM best) AS threshold
      |FROM gpx GROUP BY 1""".stripMargin

  /** ST_Buffer (shape.py:2830-2867) erosion: negative buffer of an
    * axis-aligned rectangle is the exactly-shrunk rectangle (no arc
    * approximation on an inward convex offset), so areas are closed-form. */
  def qBuffer(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    import spark.implicits._
    VectorOps.buffer(spark.createDataset(boxPolys), -5.0)
      .map(p => (p.poly_id, graft.core.Geom.area(p.rings.map(_.map(q => (q.x, q.y))))))
      .toDF("poly_id", "area")
      .select(col("poly_id"), round(col("area"), 4).as("area"))
  }

  val qBufferSql: String =
    s"""SELECT poly_id,
       |  round(CAST((x1 - x0 - 10.0) * (y1 - y0 - 10.0) AS DOUBLE), 4) AS area
       |FROM $boxesSql""".stripMargin

  /** zonal_point_stk (shape.py:2615-2711): the REAL tile-join point
    * gather over encoded grid images, all bands per point — every
    * returned value is the closed-form pixel formula at the point's
    * (image, x, y). */
  def qZonalPointStack(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val cellRes = Tiler.resForCellSize(64.0)
    val tiles = Tiler.tiles(gridImages(spark, 8, 2), 64, cellRes)
    val pts = spark.range(200).select(
      col("id").as("pt_id"),
      ((col("id") % 8) * 256 + (col("id") * 7) % 80 + lit(0.5)).as("x"),
      (-((col("id") * 11) % 48) - lit(0.5)).as("y"))
    ZonalStats.zonalPoint(tiles, pts, cellRes)
      .select(col("pt_id"), col("image_id"), col("band"),
        col("value").cast("double").as("value"))
  }

  val qZonalPointStackSql: String =
    """SELECT k AS pt_id, printf('g%03d', k % 8) AS image_id,
      |  CAST(b AS INT) AS band,
      |  CAST(((k*7) % 80 * 7 + (k*11) % 48 * 13 + b*31 + (k % 8)*17) % 97
      |    AS DOUBLE) AS value
      |FROM generate_series(0, 199) t(k), generate_series(0, 1) tb(b)""".stripMargin

  /** write_id_field (shape.py:1536-1564): dense sequential FID in
    * doc_id order via the distributed sort + zipWithIndex path. */
  def qFid(spark: SparkSession, dir: String): DataFrame =
    VectorOps.writeIdField(docs(spark, dir).select("doc_id"), "doc_id")

  val qFidSql: String =
    """SELECT doc_id, row_number() OVER (ORDER BY doc_id) AS fid
      |FROM documents""".stripMargin

  /** sqlfilter (shape.py:621-654): OGR SQL over a layer — the user's
    * SQL string runs against the registered `layer` view and Catalyst
    * plans it like any native query (predicate pushdown, pruning). The
    * oracle is the SAME statement over the DuckDB view, so the check is
    * dialect-shared ANSI SQL end to end. */
  def qSqlFilter(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    VectorOps.sqlFilter(docs(spark, dir),
      "SELECT doc_id, source, n_chars FROM layer " +
        "WHERE n_chars > 400 AND lang = 'en'")
  }

  val qSqlFilterSql: String =
    """SELECT doc_id, source, n_chars FROM documents
      |WHERE n_chars > 400 AND lang = 'en'""".stripMargin

  /** filter_shp (shape.py:657-699): attribute predicate writes a label
    * onto matching rows; non-matching rows keep a NULL label (OGR
    * leaves their field unset). */
  def qFilterShp(spark: SparkSession, dir: String): DataFrame =
    VectorOps.filterLabel(docs(spark, dir),
        col("lang") === "en" && col("n_chars") >= 200, "filter_label", "keep")
      .select("doc_id", "filter_label")

  val qFilterShpSql: String =
    """SELECT doc_id,
      |  CASE WHEN lang = 'en' AND n_chars >= 200 THEN 'keep' END AS filter_label
      |FROM documents""".stripMargin

  /** General JTS clip with a CONCAVE, HOLED clip polygon (the geometry
    * class clipToRects cannot express): L-shape = A(0,0,120,40) ∪
    * B(0,0,60,100) minus hole H(10,10,30,30) — every clipped area is
    * closed-form by inclusion-exclusion over rectangle intersections. */
  private def lClip: PolyRow = PolyRow(9L, 0, Array(
    Array(Pt(0, 0), Pt(120, 0), Pt(120, 40), Pt(60, 40), Pt(60, 100), Pt(0, 100)),
    Array(Pt(10, 10), Pt(30, 10), Pt(30, 30), Pt(10, 30))), 1, "L", 0.0)

  def qClipConcave(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    import spark.implicits._
    VectorOps.clipToPolygons(spark.createDataset(boxPolys), Seq(lClip))
      .map(p => (p.poly_id, graft.core.Geom.area(p.rings.map(_.map(q => (q.x, q.y))))))
      .toDF("clip_id", "area")
      .groupBy("clip_id").agg(round(sum("area"), 4).as("area"))
  }

  val qClipConcaveSql: String = {
    def inter(rx0: Int, ry0: Int, rx1: Int, ry1: Int): String =
      s"greatest(0, least(x1, $rx1) - greatest(x0, $rx0)) * " +
        s"greatest(0, least(y1, $ry1) - greatest(y0, $ry0))"
    s"""SELECT poly_id * 100000 + 9 AS clip_id,
       |  round(CAST(${inter(0, 0, 120, 40)} + ${inter(0, 0, 60, 100)}
       |    - ${inter(0, 0, 60, 40)} - ${inter(10, 10, 30, 30)} AS DOUBLE), 4) AS area
       |FROM $boxesSql
       |WHERE ${inter(0, 0, 120, 40)} + ${inter(0, 0, 60, 100)}
       |    - ${inter(0, 0, 60, 40)} - ${inter(10, 10, 30, 30)} > 0""".stripMargin
  }

  /** Frame sampling (the multimodal "video" analog: keep every stride-th
    * band of the opaque payload): stride 2 over 3-band grid images keeps
    * original bands 0 and 2; per-(image, kept-band) pixel sums. */
  def qFrameSample(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    import spark.implicits._
    ImageOps.frameSample(gridImages(spark, 8, 3), stride = 2).flatMap { im =>
      val dec = graft.core.PixelCodec.decode(im.bytes, im.fmt, im.w, im.h)
      dec.bands.zipWithIndex.map { case (b, i) =>
        (im.image_id, i, b.map(_.toDouble).sum)
      }
    }.toDF("image_id", "band", "total")
      .select(col("image_id"), col("band"), round(col("total"), 2).as("total"))
  }

  val qFrameSampleSql: String =
    """SELECT printf('g%03d', i) AS image_id, CAST(j AS INT) AS band,
      |  round(sum(CAST((x*7 + y*13 + (j*2)*31 + i*17) % 97 AS DOUBLE)), 2) AS total
      |FROM generate_series(0, 7) t(i), generate_series(0, 1) tj(j),
      |     generate_series(0, 79) tx(x), generate_series(0, 47) ty(y)
      |GROUP BY 1, 2""".stripMargin

  /** Streaming windowed aggregation, batch-replayed for the oracle: the
    * SAME EventStream.windowedCounts code runs over the batch events
    * table (withWatermark is a no-op in batch). Values pre-quantized to
    * integer cents so both engines sum exact integers (summation order
    * can never flip a rounding boundary). */
  def qWindowed(spark: SparkSession, dir: String): DataFrame =
    graft.streaming.EventStream.windowedCounts(
      events(spark, dir).withColumn("value", round(col("value") * 100)))
      .select(unix_timestamp(col("w_start")).as("w_start_s"),
        col("event_type"), col("n"), col("total"))

  val qWindowedSql: String =
    """SELECT (epoch_ms(ts) // 1000) // 3600 * 3600 AS w_start_s,
      | event_type, count(*) AS n,
      | round(sum(round(value * 100)), 4) AS total
      |FROM events GROUP BY 1, 2""".stripMargin

  /** Event-time sessionization, batch-replayed (gaps-and-islands with
    * the streaming operator's exact gap rule; EventStreamSpec holds the
    * streaming flatMapGroupsWithState path equal to this). */
  def qSessions(spark: SparkSession, dir: String): DataFrame =
    graft.streaming.EventStream.sessionizeBatch(events(spark, dir))

  val qSessionsSql: String =
    """WITH e AS (SELECT user_id, epoch_us(ts) AS t FROM events),
      |o AS (SELECT user_id, t,
      |        CASE WHEN t - lag(t) OVER (PARTITION BY user_id ORDER BY t)
      |               > 3600000000 THEN 1 ELSE 0 END AS brk
      |      FROM e),
      |s AS (SELECT user_id, t,
      |        sum(brk) OVER (PARTITION BY user_id ORDER BY t
      |          ROWS UNBOUNDED PRECEDING) AS sid
      |      FROM o)
      |SELECT user_id, min(t) AS start_us, max(t) AS end_us,
      |  count(*) AS n_events
      |FROM s GROUP BY user_id, sid""".stripMargin

  /** Canny edge detection (houghseg/ransac_lines front-end,
    * utilities.py:177-205): the step fixture exercises every stage
    * non-trivially (strong edge, sub-lowT suppression, hysteresis-kept
    * weak tail, two NMS casualties, connectivity-kept weak line) and the
    * surviving edge set is closed-form — the oracle enumerates it
    * relationally and aggregates the same count/x-sum/y-sum
    * fingerprints. Derivation pinned pixel-exact in EdgeSpec. */
  def qCanny(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    import spark.implicits._
    val ds = spark.createDataset(GridImages.edgeImages(6).toSeq)(
      Encoders.product[ImageRow])
    Edge.canny(ds, lowT = 20, highT = 40, sigma = 0).map { im =>
      val m = graft.core.PixelCodec.decode(im.bytes, im.fmt, im.w, im.h).bands(0)
      var n = 0L; var xs = 0L; var ys = 0L; var ps = 0L
      var p = 0
      while (p < m.length) {
        if (m(p) > 0) {
          val cx = p % im.w; val cy = p / im.w
          n += 1; xs += cx; ys += cy
          // nonlinear position checksum: sum of squared codes pins the
          // exact edge SET — linear sums alone admit compensating
          // multi-pixel errors (the tile-seam hazard of the tiled path)
          ps += (1009L * cx + cy) * (1009L * cx + cy)
        }
        p += 1
      }
      (im.image_id, n, xs, ys, ps)
    }.toDF("image_id", "n_edge", "xsum", "ysum", "possq")
  }

  val qCannySql: String =
    s"""WITH ${GridImages.edgeSetSql(6)}
       |SELECT printf('g%03d', i) AS image_id, count(*) AS n_edge,
       |  CAST(sum(x) AS BIGINT) AS xsum, CAST(sum(y) AS BIGINT) AS ysum,
       |  CAST(sum((1009*CAST(x AS BIGINT) + y)*(1009*CAST(x AS BIGINT) + y))
       |    AS BIGINT) AS possq
       |FROM edges GROUP BY 1""".stripMargin

  /** q_canny_tiled — the distributed big-raster Canny
    * (Edge.cannyTiles): the SAME fixture and the SAME closed-form
    * oracle as q_canny, because the tiled path is bit-exact — per-tile
    * finite-support kernels on haloed windows plus hysteresis as
    * connected components (Edge.hysteresis8 over
    * Components.connectedRoots) reproduce the whole-image flood fill
    * pixel-for-pixel. 80x48 images at
    * tileSize=32 run a genuine 3x2 multi-tile layout. */
  def qCannyTiled(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val ds = spark.createDataset(GridImages.edgeImages(6).toSeq)(
      Encoders.product[ImageRow])
    val tiles = Tiler.multiTiles(ds, tileSize = 32,
      cellRes = Tiler.resForCellSize(64.0), halo = 4)
    val code = col("x").cast("long") * 1009L + col("y")
    Edge.cannyTiles(tiles, tileSize = 32, halo = 4, lowT = 20, highT = 40)
      .groupBy("image_id")
      .agg(count(lit(1)).as("n_edge"),
        sum("x").cast("long").as("xsum"), sum("y").cast("long").as("ysum"),
        // the nonlinear checksum is what actually pins the tile seams —
        // compensating duplicate/drop pairs with equal linear sums (the
        // characteristic stitching failure) cannot preserve it
        sum(code * code).as("possq"))
  }

  val qCannyTiledSql: String = qCannySql

  /** q_mb2array — the windowed multiband read (mb2array,
    * raster.py:290-342): `Tiler.tiles` with a halo IS the windowed
    * read — each row is a clipped (x0-halo, y0-halo, +tile+halo) pixel
    * window sliced per band out of the decoded image. The oracle
    * recomputes every window's dims and pixel sum from the closed-form
    * value formula over the same clipped ranges. */
  def qMb2Array(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    import spark.implicits._
    // x_min shifted +16 OFF the 64-unit cell grid so every tx=1 core
    // tile straddles two cells: the per-covering-cell row multiplicity
    // (the tiler emits one row per (tile, cell)) becomes an oracle-
    // checked n_cells count instead of being erased by distinct() —
    // a regression assigning windows to extra/missing cells would
    // silently double-count or drop pixels in grouped consumers
    val shifted = gridImages(spark, 4, 2)
      .map(im => im.copy(x_min = im.x_min + 16.0))(
        Encoders.product[graft.ImageRow])
    val tiles = Tiler.tiles(shifted, 32, Tiler.resForCellSize(64.0), halo = 8)
    tiles.map { t =>
      var sum = 0.0
      var i = 0
      while (i < t.pixels.length) { sum += t.pixels(i); i += 1 }
      (t.image_id, t.tx, t.ty, t.band, t.tw, t.th, sum)
    }.toDF("image_id", "tx", "ty", "band", "win_w", "win_h", "psum")
      // duplicate (tile x overlapped-cell) rows carry bit-identical
      // values — grouping on them is exact, not a float hazard
      .groupBy("image_id", "tx", "ty", "band", "win_w", "win_h", "psum")
      .agg(count(lit(1)).as("n_cells"))
      .withColumn("psum", round(col("psum"), 1))
  }

  val qMb2ArraySql: String =
    """WITH t AS (
      |  SELECT i, b, tx, ty
      |  FROM generate_series(0, 3) t(i), generate_series(0, 1) tb(b),
      |       generate_series(0, 2) a(tx), generate_series(0, 1) c(ty)),
      |w AS (
      |  SELECT i, b, tx, ty,
      |    greatest(0, tx*32 - 8) AS wx0, least(80, tx*32 + 40) AS wx1,
      |    greatest(0, ty*32 - 8) AS wy0, least(48, ty*32 + 40) AS wy1,
      |    -- covering-cell count of the CORE tile (ownership ignores the
      |    -- halo): 64-unit world cells, image origin 256*i + 16 in x
      |    -- (deliberately off-grid) and 0 in y (i < 8 -> y_max = 0)
      |    (floor((256*i + 16 + least(80, tx*32 + 32) - 1e-9) / 64)
      |      - floor((256*i + 16 + tx*32 + 1e-9) / 64) + 1)
      |    * (floor((-(ty*32) - 1e-9) / 64)
      |      - floor((-least(48, ty*32 + 32) + 1e-9) / 64) + 1) AS n_cells
      |  FROM t)
      |SELECT printf('g%03d', i) AS image_id, CAST(tx AS INT) AS tx,
      |  CAST(ty AS INT) AS ty, CAST(b AS INT) AS band,
      |  CAST(wx1 - wx0 AS INT) AS win_w, CAST(wy1 - wy0 AS INT) AS win_h,
      |  round(sum(CAST((x*7 + y*13 + b*31 + i*17) % 97 AS DOUBLE)), 1) AS psum,
      |  CAST(any_value(n_cells) AS BIGINT) AS n_cells
      |FROM w, generate_series(0, 79) gx(x), generate_series(0, 47) gy(y)
      |WHERE x >= wx0 AND x < wx1 AND y >= wy0 AND y < wy1
      |GROUP BY 1, 2, 3, 4, 5, 6""".stripMargin

  /** q_bbox2raster — array + bbox -> raster row (bbox2raster,
    * raster.py:209-282): fromArray builds the geotransform from the
    * bbox/pixel-size contract; the query round-trips the codec and
    * re-derives the world bbox, the oracle recomputes both from the
    * closed-form formula. Alternating raw-le/rle formats keep the
    * lossless-codec invariant under oracle check too. */
  def qBbox2Raster(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    import spark.implicits._
    val imgs = (0 until 6).map { i =>
      val fmt = if (i % 2 == 0) graft.core.PixelCodec.FmtRawLe
                else graft.core.PixelCodec.FmtRle
      val b = Array.tabulate(2)(bd => Array.tabulate(24 * 16)(p =>
        GridImages.value(i.toLong, bd, p % 24, p / 24)))
      ImageOps.fromArray(f"b$i%03d", b, 24, 16, i * 100.0, i * 50.0, 2.0, fmt)
    }
    spark.createDataset(imgs)(Encoders.product[ImageRow]).map { im =>
      val dec = graft.core.PixelCodec.decode(im.bytes, im.fmt, im.w, im.h)
      val s0 = dec.bands(0).foldLeft(0.0)(_ + _)
      val s1 = dec.bands(1).foldLeft(0.0)(_ + _)
      val x1 = im.x_min + im.w * im.px
      val y0 = im.y_max - im.h * im.px
      (im.image_id, im.x_min, y0, x1, im.y_max, im.px, s0, s1)
    }.toDF("image_id", "x_min", "y_min", "x_max", "y_max", "px",
      "b0_sum", "b1_sum")
      .withColumn("b0_sum", round(col("b0_sum"), 1))
      .withColumn("b1_sum", round(col("b1_sum"), 1))
  }

  val qBbox2RasterSql: String =
    """SELECT printf('b%03d', i) AS image_id,
      |  CAST(i*100 AS DOUBLE) AS x_min, CAST(i*50 - 32 AS DOUBLE) AS y_min,
      |  CAST(i*100 + 48 AS DOUBLE) AS x_max, CAST(i*50 AS DOUBLE) AS y_max,
      |  CAST(2.0 AS DOUBLE) AS px,
      |  round(sum(CAST((x*7 + y*13 + i*17) % 97 AS DOUBLE)), 1) AS b0_sum,
      |  round(sum(CAST((x*7 + y*13 + 31 + i*17) % 97 AS DOUBLE)), 1) AS b1_sum
      |FROM generate_series(0, 5) t(i), generate_series(0, 23) gx(x),
      |     generate_series(0, 15) gy(y)
      |GROUP BY 1, 2, 3, 4, 5, 6""".stripMargin

  /** Hough line peaks (houghseg core, utilities.py:58-108): canny edges
    * -> relational vote accumulator -> NMS peaks over axis-exact angles
    * {0, pi/2}. The peak set is closed-form on the step fixture (5 peaks
    * per image: the two strong columns, the hysteresis column, and the
    * two weak internal rows); HoughSpec pins the derivation, the oracle
    * enumerates the same (theta, rho, votes) rows. */
  def qHough(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val ds = spark.createDataset(GridImages.edgeImages(6).toSeq)(
      Encoders.product[ImageRow])
    val edges = Edge.canny(ds, lowT = 20, highT = 40, sigma = 0)
    val acc = Hough.accumulate(Hough.edgePixels(edges),
      thetas = Seq(0.0, math.Pi / 2), rhoBin = 1.0)
    Hough.peaks(acc, minVotes = 30, nTheta = 0, nRho = 1)
  }

  val qHoughSql: String =
    """WITH ep AS (
      |  SELECT i, 8 + (i % 3) AS c1, 40 + (i % 7) AS c3, 12 + (i % 9) AS k
      |  FROM generate_series(0, 5) t(i)),
      |pk AS (
      |  SELECT i, 0 AS theta_idx, c1 - 1 AS rho_idx, 48 AS votes FROM ep
      |  UNION ALL SELECT i, 0, c1, 48 FROM ep
      |  UNION ALL SELECT i, 0, c3, 48 FROM ep
      |  UNION ALL SELECT i, 1, k - 1, 82 - c3 FROM ep
      |  UNION ALL SELECT i, 1, k, 82 - c3 FROM ep)
      |SELECT printf('g%03d', i) AS image_id, CAST(theta_idx AS INT) AS theta_idx,
      |  CAST(rho_idx AS INT) AS rho_idx, CAST(votes AS BIGINT) AS votes
      |FROM pk""".stripMargin

  /** Full houghseg chain (utilities.py:112-233): threshold mask -> Hough
    * peaks -> burn lines -> invert -> remove_small_objects -> 4-connected
    * components. On the planted grid-line fixture the segments are
    * exactly the grid cells with closed-form bounding boxes; the oracle
    * cross-joins the x/y interval tables and filters by min area. */
  def qHoughSeg(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val ds = spark.createDataset(GridImages.lineImages(6).toSeq)(
      Encoders.product[ImageRow])
    val thetas = Seq(0.0, math.Pi / 2)
    val acc = Hough.accumulate(Hough.edgePixels(ds, thresh = 50.0), thetas, 1.0)
    val pk = Hough.peaks(acc, minVotes = 40, nTheta = 0, nRho = 1)
    Hough.segments(ds, pk, thetas, rhoBin = 1.0, minArea = 20)
  }

  val qHoughSegSql: String =
    """WITH lp AS (
      |  SELECT i, 3 + (i % 5) AS a, 2 + (i % 7) AS b
      |  FROM generate_series(0, 5) t(i)),
      |xs AS (SELECT i,
      |         CASE WHEN j = 0 THEN 0 ELSE a + 16 * (j - 1) + 1 END AS x0,
      |         CASE WHEN j = 5 THEN 79 ELSE a + 16 * j - 1 END AS x1
      |       FROM lp, generate_series(0, 5) tj(j)),
      |ys AS (SELECT i,
      |         CASE WHEN kk = 0 THEN 0 ELSE b + 12 * (kk - 1) + 1 END AS y0,
      |         CASE WHEN kk = 4 THEN 47 ELSE b + 12 * kk - 1 END AS y1
      |       FROM lp, generate_series(0, 4) tk(kk))
      |SELECT printf('g%03d', xs.i) AS image_id,
      |  CAST((x1 - x0 + 1) * (y1 - y0 + 1) AS BIGINT) AS area,
      |  CAST(x0 AS INT) AS x0, CAST(y0 AS INT) AS y0,
      |  CAST(x1 AS INT) AS x1, CAST(y1 AS INT) AS y1
      |FROM xs JOIN ys ON xs.i = ys.i
      |WHERE (x1 - x0 + 1) * (y1 - y0 + 1) >= 20""".stripMargin

  /** RANSAC strip lines (ransac_lines/_do_ransac,
    * utilities.py:1504-1640): threshold mask -> per-strip exhaustive
    * 2-point consensus argmax -> burn predicted pixels. The oracle is a
    * FULL relational replay of the exhaustive path in DuckDB: enumerate
    * row-major-ordered pixel pairs per (image, strip), count inliers
    * with the identical integer-exact cross^2 <= r^2*len^2 test, take
    * the first-enumeration argmax, and burn with the same
    * round-half-up floorDiv. The planted-vertical fixture keeps every
    * strip under exhaustiveMax so engine and oracle walk the same
    * search space. */
  def qRansac(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val ds = spark.createDataset(GridImages.ransacImages(8).toSeq)(
      Encoders.product[ImageRow])
    Ransac.lines(ds, binwidth = 40, orient = "col", thresh = 50.0)
  }

  val qRansacSql: String =
    s"""WITH ${GridImages.ransacPxSql(8)},
       |pts AS (
       |  SELECT i, s, x, y,
       |    row_number() OVER (PARTITION BY i, s ORDER BY y, x) AS ord
       |  FROM rpx),
       |scored AS (
       |  SELECT a.i, a.s, a.ord AS oa, b.ord AS ob,
       |    a.x AS xa, a.y AS ya, b.x AS xb, b.y AS yb,
       |    (SELECT count(*) FROM pts q
       |     WHERE q.i = a.i AND q.s = a.s
       |       AND ((b.x - a.x) * (q.y - a.y) - (b.y - a.y) * (q.x - a.x))
       |         * ((b.x - a.x) * (q.y - a.y) - (b.y - a.y) * (q.x - a.x))
       |         <= (b.x - a.x) * (b.x - a.x) + (b.y - a.y) * (b.y - a.y)
       |    ) AS cnt
       |  FROM pts a JOIN pts b
       |    ON a.i = b.i AND a.s = b.s AND a.ord < b.ord AND a.y <> b.y),
       |best AS (
       |  SELECT i, s, xa, ya, xb, yb,
       |    row_number() OVER (PARTITION BY i, s
       |      ORDER BY cnt DESC, oa, ob) AS rk
       |  FROM scored)
       |SELECT DISTINCT printf('g%03d', b.i) AS image_id,
       |  CAST(b.s AS INT) AS strip,
       |  CAST(b.xa + floor((2.0 * (b.xb - b.xa) * (q.y - b.ya)
       |      + (b.yb - b.ya)) / (2 * (b.yb - b.ya))) AS INT) AS x,
       |  CAST(q.y AS INT) AS y
       |FROM best b JOIN pts q ON b.i = q.i AND b.s = q.s
       |WHERE b.rk = 1""".stripMargin

  /** iter_ransac (utilities.py:969-1044): the iterated fit-burn-drop
    * loop over the planted two-line fixture — round 1's exhaustive
    * argmax is line A (10 inliers), its inliers drop, round 2's is line
    * B (5 > any noise line's <= 4). The oracle replays BOTH rounds'
    * full pair enumeration, inlier filtering and round-half-up burns
    * relationally. The reference's canny mask stage is oracle-green on
    * its own (q_canny); the `iterLines` composition (canny -> this
    * loop) is spec-checked in RansacSpec. */
  def qIterRansac(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val ds = spark.createDataset(GridImages.iterRanImages(6).toSeq)(
      Encoders.product[ImageRow])
    Ransac.iterFit(Hough.edgePixels(ds, band = 0, thresh = 50.0), noIter = 2)
  }

  val qIterRansacSql: String = {
    def cross(q: String, m: String) =
      s"(($m.xb-$m.xa)*($q.y-$m.ya) - ($m.yb-$m.ya)*($q.x-$m.xa))"
    def len2(m: String) =
      s"(($m.xb-$m.xa)*($m.xb-$m.xa) + ($m.yb-$m.ya)*($m.yb-$m.ya))"
    def round(src: String, prev: String): String =
      s"""s$src AS (
         |  SELECT a.i, a.ord AS oa, b.ord AS ob,
         |    a.x AS xa, a.y AS ya, b.x AS xb, b.y AS yb,
         |    (SELECT count(*) FROM $prev q WHERE q.i = a.i
         |     AND ((b.x-a.x)*(q.y-a.y) - (b.y-a.y)*(q.x-a.x))
         |       * ((b.x-a.x)*(q.y-a.y) - (b.y-a.y)*(q.x-a.x))
         |       <= (b.x-a.x)*(b.x-a.x) + (b.y-a.y)*(b.y-a.y)) AS cnt
         |  FROM $prev a JOIN $prev b
         |    ON a.i = b.i AND a.ord < b.ord AND a.y <> b.y),
         |m$src AS (
         |  SELECT i, xa, ya, xb, yb FROM (
         |    SELECT *, row_number() OVER (PARTITION BY i
         |      ORDER BY cnt DESC, oa, ob) AS rk FROM s$src) WHERE rk = 1)""".stripMargin
    def burn(it: Int, m: String, p: String) =
      s"""SELECT DISTINCT q.i, $it AS iter,
         |  CAST($m.xa + floor((2.0*($m.xb-$m.xa)*(q.y-$m.ya) + ($m.yb-$m.ya))
         |    / (2*($m.yb-$m.ya))) AS INT) AS x,
         |  CAST(q.y AS INT) AS y
         |FROM $m JOIN $p q ON $m.i = q.i""".stripMargin
    s"""WITH ${GridImages.iterRanPtsSql(6)},
       |p1 AS (SELECT i, x, y,
       |       row_number() OVER (PARTITION BY i ORDER BY y, x) AS ord FROM ipts),
       |${round("1", "p1")},
       |p2 AS (
       |  SELECT q.i, q.x, q.y,
       |    row_number() OVER (PARTITION BY q.i ORDER BY q.y, q.x) AS ord
       |  FROM p1 q JOIN m1 ON q.i = m1.i
       |  WHERE ${cross("q", "m1")} * ${cross("q", "m1")} > ${len2("m1")}),
       |${round("2", "p2")}
       |SELECT printf('g%03d', i) AS image_id, iter, x, y FROM (
       |  ${burn(0, "m1", "p1")}
       |  UNION ALL
       |  ${burn(1, "m2", "p2")})""".stripMargin
  }

  /** Morphological snakes, ACWE (ms_snake, shape.py:2016-2244): init
    * polygon A shrinks ring-by-ring onto the planted blob, init B grows
    * outward onto its blob — both fixpoints are exact pixel rectangles
    * (derivation pinned in SnakesSpec; kernel is iteration-exact
    * morphsnakes, spec-checked against an independent naive). */
  def qSnake(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val imgs = spark.createDataset(GridImages.snakeImages(6).toSeq)(
      Encoders.product[ImageRow])
    val polys = spark.createDataset(GridImages.snakePolys(6).toSeq)(
      Encoders.product[PolyRow])
      .filter(col("poly_id") % 3 < 2).as[PolyRow](Encoders.product[PolyRow])
    Snakes.msSnake(imgs, polys, algo = "ACWE", buf1 = 4.0,
      iterations = 12, smoothing = 0)
  }

  val qSnakeSql: String =
    s"""WITH ${GridImages.snakeRectSql(6)},
       |g AS (SELECT gx.x, gy.y
       |      FROM generate_series(0, 79) gx(x), generate_series(0, 47) gy(y)),
       |px AS (
       |  SELECT i, i * 3 AS poly_id, x, y FROM sr, g
       |  WHERE x BETWEEN s_x0 AND s_x1 AND y BETWEEN s_y0 AND s_y1
       |  UNION ALL
       |  SELECT i, i * 3 + 1, x, y FROM sr, g
       |  WHERE x BETWEEN t_x0 AND t_x1 AND y BETWEEN t_y0 AND t_y1)
       |SELECT printf('g%03d', i) AS image_id,
       |  CAST(poly_id AS BIGINT) AS poly_id,
       |  CAST(x AS INT) AS x, CAST(y AS INT) AS y
       |FROM px""".stripMargin

  /** Morphological snakes, GAC balloon path: over the flat zone the
    * inverse Gaussian gradient is exactly 1, the attachment term
    * vanishes, and balloon = -1 with a manual threshold erodes one ring
    * per iteration (full 3x3 structure) — three iterations shrink init
    * C by exactly three pixels per side. */
  def qSnakeGac(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val imgs = spark.createDataset(GridImages.snakeImages(6).toSeq)(
      Encoders.product[ImageRow])
    val polys = spark.createDataset(GridImages.snakePolys(6).toSeq)(
      Encoders.product[PolyRow])
      .filter(col("poly_id") % 3 === 2).as[PolyRow](Encoders.product[PolyRow])
    Snakes.msSnake(imgs, polys, algo = "GAC", buf1 = 2.0,
      iterations = 3, smoothing = 0, threshold = 0.5, balloon = -1)
  }

  val qSnakeGacSql: String =
    s"""WITH ${GridImages.snakeRectSql(6)},
       |g AS (SELECT gx.x, gy.y
       |      FROM generate_series(0, 79) gx(x), generate_series(0, 47) gy(y))
       |SELECT printf('g%03d', i) AS image_id,
       |  CAST(i * 3 + 2 AS BIGINT) AS poly_id,
       |  CAST(x AS INT) AS x, CAST(y AS INT) AS y
       |FROM sr, g
       |WHERE x BETWEEN c_x0 + 3 AND c_x1 - 3
       |  AND y BETWEEN c_y0 + 3 AND c_y1 - 3""".stripMargin

  /** ms_snake's buf2 init adjustment in isolation (iterations = 0):
    * buf2 > 0 grows the rasterized polygon to every pixel within
    * Euclidean distance buf2 (exact EDT — rounded corners: dx^2 + dy^2
    * <= buf2^2), buf2 < 0 keeps pixels at interior depth >= |buf2|. The
    * oracle replays both predicates relationally. */
  def qSnakeBuf(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val imgs = spark.createDataset(GridImages.snakeImages(6).toSeq)(
      Encoders.product[ImageRow])
    val all = spark.createDataset(GridImages.snakePolys(6).toSeq)(
      Encoders.product[PolyRow])
    val polysA = all.filter(col("poly_id") % 3 === 0).as[PolyRow](Encoders.product[PolyRow])
    val polysB = all.filter(col("poly_id") % 3 === 1).as[PolyRow](Encoders.product[PolyRow])
    Snakes.msSnake(imgs, polysA, buf1 = 4.0, buf2 = 2.5, iterations = 0)
      .union(Snakes.msSnake(imgs, polysB, buf1 = 4.0, buf2 = -1.5, iterations = 0))
  }

  val qSnakeBufSql: String =
    s"""WITH ${GridImages.snakeRectSql(6)},
       |g AS (SELECT gx.x, gy.y
       |      FROM generate_series(0, 79) gx(x), generate_series(0, 47) gy(y)),
       |px AS (
       |  SELECT i, i * 3 AS poly_id, x, y FROM sr, g
       |  WHERE power(greatest(a_x0 - x, x - a_x1, 0), 2)
       |      + power(greatest(a_y0 - y, y - a_y1, 0), 2) <= 6.25
       |  UNION ALL
       |  SELECT i, i * 3 + 1, x, y FROM sr, g
       |  WHERE x BETWEEN b_x0 + 1 AND b_x1 - 1
       |    AND y BETWEEN b_y0 + 1 AND b_y1 - 1)
       |SELECT printf('g%03d', i) AS image_id,
       |  CAST(poly_id AS BIGINT) AS poly_id,
       |  CAST(x AS INT) AS x, CAST(y AS INT) AS y
       |FROM px""".stripMargin

  /** do_ac (utilities.py:296-395): threshold-initialised active contour
    * end-to-end — init = img < 75 (over-selects blob1 by its 1-px
    * value-74 penumbra), 3 ACWE steps (the ring sheds in step 1, then
    * the contour is stationary — DoAcSpec pins the derivation),
    * polygonize with the mask masking itself, and the area filter > 4
    * drops the planted 1-px and 2-px specks. The oracle enumerates the
    * two surviving blob rectangles (pixel area + world-edge bbox). */
  def qDoAc(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val imgs = spark.createDataset(GridImages.doAcImages(6).toSeq)(
      Encoders.product[ImageRow])
    Snakes.doAc(imgs, thresh = 75.0, iterations = 3, smoothing = 0)
      .toDF()
      .select(col("image_id"), col("pixel_count").as("area_px"),
        expr("array_min(transform(ring, p -> p.x))").as("wx0"),
        expr("array_min(transform(ring, p -> p.y))").as("wy0"),
        expr("array_max(transform(ring, p -> p.x))").as("wx1"),
        expr("array_max(transform(ring, p -> p.y))").as("wy1"))
  }

  val qDoAcSql: String =
    s"""WITH ${GridImages.snakeRectSql(6)},
       |r AS (
       |  SELECT i, s_x0 AS x0, s_y0 AS y0, s_x1 AS x1, s_y1 AS y1 FROM sr
       |  UNION ALL
       |  SELECT i, t_x0, t_y0, t_x1, t_y1 FROM sr)
       |SELECT printf('g%03d', i) AS image_id,
       |  CAST((x1 - x0 + 1) * (y1 - y0 + 1) AS BIGINT) AS area_px,
       |  CAST((i % 8) * 256 + x0 AS DOUBLE) AS wx0,
       |  CAST((i // 8) * 256 - y1 - 1 AS DOUBLE) AS wy0,
       |  CAST((i % 8) * 256 + x1 + 1 AS DOUBLE) AS wx1,
       |  CAST((i // 8) * 256 - y0 AS DOUBLE) AS wy1
       |FROM r""".stripMargin

  /** imangle (utilities.py:1241-1281) over the mesh fixture (bright
    * rect on zero background, wide for even i / tall for odd): mask
    * moments ride per-tile partials, the bwperim strip count rides the
    * same 1-px-halo tiles. Rect masks make every output closed-form:
    * mu11 is EXACTLY 0 in double (all moment sums are integers < 2^53
    * and sx*sy is an exact multiple of n), so theta is exactly 0 (wide)
    * or pi/2 (tall) and the axes are pi/2 multiples; the interior count
    * is (w-2)*(h-2). */
  def qImAngle(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val imgs = spark.createDataset(GridImages.meshImages(8).toSeq)(
      Encoders.product[ImageRow])
    val cellRes = Tiler.resForCellSize(64.0)
    val tiles = Tiler.multiTiles(imgs, 64, cellRes, halo = 1)
    Mesh.imAngle(tiles, tileSize = 64, halo = 1)
      .select(col("image_id"),
        round(col("axis1"), 6).as("axis1"), round(col("axis2"), 6).as("axis2"),
        col("n").cast("long").as("n_bright"),
        col("n_int").cast("long").as("n_interior"))
  }

  val qImAngleSql: String =
    s"""WITH ${GridImages.meshRectSql(8)}
       |SELECT printf('g%03d', i) AS image_id,
       |  round(CASE WHEN i % 2 = 0 THEN pi() ELSE pi()/2 END, 6) AS axis1,
       |  round(CASE WHEN i % 2 = 0 THEN pi()/2 ELSE 0.0 END, 6) AS axis2,
       |  CAST((m_x1 - m_x0 + 1) * (m_y1 - m_y0 + 1) AS BIGINT) AS n_bright,
       |  CAST((m_x1 - m_x0 - 1) * (m_y1 - m_y0 - 1) AS BIGINT) AS n_interior
       |FROM mr""".stripMargin

  /** Kass parametric active contour (snake, shape.py:1734-1990): with
    * w_line = w_edge = 0 the image force vanishes and the whole
    * evolution is the implicit-spline recurrence
    * x += tanh(inv(M + gamma I) (gamma x) - x). For a 4-point periodic
    * snake the inverse is a circulant whose entries follow from the
    * 4-point DFT (eigenvalues gamma, 2a+4b+gamma, 4a+16b+gamma), so the
    * oracle replays ALL six iterations in SQL with tanh(). */
  def qKass(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val imgs = spark.createDataset(GridImages.snakeImages(6).toSeq)(
      Encoders.product[ImageRow])
    val polys = spark.createDataset(GridImages.snakePolys(6).toSeq)(
      Encoders.product[PolyRow])
      .filter(col("poly_id") % 3 === 0).as[PolyRow](Encoders.product[PolyRow])
    Kass.snake(imgs, polys, buf1 = 4.0, nPoints = 0, alpha = 2.0,
      beta = 0.5, wLine = 0.0, wEdge = 0.0, gamma = 1.0, maxPxMove = 1.0,
      iterations = 6, convergence = 0.1, bc = "periodic")
  }

  val qKassSql: String = {
    // circulant inverse entries for alpha=2, beta=0.5, gamma=1:
    // eigenvalues 1, 7, 17, 7 -> d0/d1/d2 literal fractions
    val d = "(CASE (a.p - b.p + 4) % 4" +
      " WHEN 0 THEN (1.0/1 + 2.0/7 + 1.0/17)/4" +
      " WHEN 2 THEN (1.0/1 - 2.0/7 + 1.0/17)/4" +
      " ELSE (1.0/1 - 1.0/17)/4 END)"
    // this DuckDB build has no tanh(); (exp(2x)-1)/(exp(2x)+1) is
    // within an ulp at these argument magnitudes (|x| << 350)
    def tanh(x: String) = s"((exp(2*($x)) - 1) / (exp(2*($x)) + 1))"
    val iters = (1 to 6).map { k =>
      s"""it$k AS (
         |  SELECT a.i, a.p,
         |    a.r + ${tanh(s"sum($d * b.r) - a.r")} AS r,
         |    a.c + ${tanh(s"sum($d * b.c) - a.c")} AS c
         |  FROM it${k - 1} a JOIN it${k - 1} b ON a.i = b.i
         |  GROUP BY a.i, a.p, a.r, a.c)""".stripMargin
    }.mkString(",\n")
    s"""WITH ${GridImages.snakeRectSql(6)},
       |it0 AS (
       |  SELECT i, p,
       |    CASE WHEN p < 2 THEN a_y1 + 0.25 ELSE a_y0 - 0.25 END AS r,
       |    CASE WHEN p = 0 OR p = 3 THEN a_x0 - 0.25
       |         ELSE a_x1 + 0.25 END AS c
       |  FROM sr, generate_series(0, 3) tp(p)),
       |$iters
       |SELECT printf('g%03d', i) AS image_id,
       |  CAST(i * 3 AS BIGINT) AS poly_id, CAST(p AS INT) AS idx,
       |  r AS row, c AS col
       |FROM it6""".stripMargin
  }

  // ---- CNN inference + chip pipeline (convnet.py / convutils.py) ----

  /** Weight/score CTEs shared by the CNN oracles: the fixture net's
    * weights are EXACT eighths and grid pixels are integers, so every
    * product/sum in the forward pass is exact in Float, Double and SQL
    * DOUBLE alike — the oracle equality is bit-for-bit, not approximate.
    * `clampX`/`clampY` parameterize the edge-replicate bounds (whole
    * image vs chip-local). */
  private def cnnWeightSql: String =
    s"""w1 AS (
       |  SELECT oc, ic, dy, dx,
       |    CAST((((((oc*2 + ic)*9 + (dy+1)*3 + dx+1) * 5) % 7) - 3) AS DOUBLE)/8 AS wt
       |  FROM generate_series(0, 2) a(oc), generate_series(0, 1) b(ic),
       |       generate_series(-1, 1) c(dy), generate_series(-1, 1) e(dx)),
       |w2 AS (
       |  SELECT oc2, ic,
       |    CAST(((((oc2*3 + ic)*3) % 5) - 2) AS DOUBLE)/8 AS wt
       |  FROM generate_series(0, 1) a(oc2), generate_series(0, 2) b(ic))""".stripMargin

  /** q_cnn_seg — the distributed semantic-segmentation inference path
    * (semseg_pred / pad_predict, convnet.py:431-485): HALOED multi-band
    * tiles -> broadcast-weights forward pass -> per-pixel convert_pred
    * labels -> reassembled class raster. Per-image per-class pixel
    * counts plus a position-weighted checksum pin every pixel's label;
    * the oracle replays both conv layers, the relu, and the
    * highest-channel-wins argmax relationally. */
  def qCnnSeg(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    import spark.implicits._
    val net = ConvNet.fixtureNet
    val tiles = Tiler.multiTiles(gridImages(spark, 6, 2), tileSize = 24,
      cellRes = 16, halo = net.halo)
    val pred = ConvNet.segPredictTiles(tiles, net, tileSize = 24)
    ImageOps.assemble(pred, GridImages.W, GridImages.H,
      graft.core.PixelCodec.FmtRawLe)
      .flatMap { im =>
        val dec = graft.core.PixelCodec.decode(im.bytes, im.fmt, im.w, im.h)
        dec.bands(0).iterator.zipWithIndex.map { case (v, idx) =>
          (im.image_id, v.toInt, (idx % im.w) * 31 + (idx / im.w) * 7)
        }
      }.toDF("image_id", "cls", "pw")
      .groupBy("image_id", "cls")
      .agg(count(lit(1)).as("n"), sum("pw").as("sx"))
  }

  /** Whole-image fixture-net forward + per-pixel convert_pred labels
    * over the `px` relation: CTEs h1 (relu layer, image-clamped taps),
    * s2 (1x1 head), cls (highest-channel-wins label) — shared by
    * q_cnn_seg and q_iou_seg. */
  private def cnnSegClsSql: String =
    s"""h1 AS (
       |  SELECT p.i, p.x, p.y, w.oc,
       |    greatest(0.0, sum(w.wt * q.v) + CAST(w.oc AS DOUBLE)/8) AS hv
       |  FROM (SELECT DISTINCT i, x, y FROM px) p, w1 w, px q
       |  WHERE q.i = p.i AND q.b = w.ic
       |    AND q.x = greatest(0, least(79, p.x + w.dx))
       |    AND q.y = greatest(0, least(47, p.y + w.dy))
       |  GROUP BY p.i, p.x, p.y, w.oc),
       |s2 AS (
       |  SELECT h.i, h.x, h.y, w.oc2,
       |    sum(w.wt * h.hv) + CAST(w.oc2 - 1 AS DOUBLE)/8 AS sv
       |  FROM h1 h JOIN w2 w ON w.ic = h.oc
       |  GROUP BY h.i, h.x, h.y, w.oc2),
       |cls AS (
       |  SELECT i, x, y,
       |    CASE WHEN max(CASE WHEN oc2 = 1 THEN sv END)
       |          >= max(CASE WHEN oc2 = 0 THEN sv END)
       |         THEN 2 ELSE 1 END AS cls
       |  FROM s2 GROUP BY i, x, y)""".stripMargin

  val qCnnSegSql: String =
    s"""WITH ${GridImages.pxSql(6, 2)},
       |$cnnWeightSql,
       |$cnnSegClsSql
       |SELECT printf('g%03d', i) AS image_id, CAST(cls AS INT) AS cls,
       |  count(*) AS n, CAST(sum(x*31 + y*7) AS BIGINT) AS sx
       |FROM cls GROUP BY 1, 2""".stripMargin

  /** q_cnn_chip — chip-level classification (chip_pad_predict,
    * convutils.py:647-731): 16x16 chips, forward pass with CHIP-LOCAL
    * edge replication, pooled-sum argmax label per chip. */
  def qCnnChip(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    import spark.implicits._
    val masks = spark.createDataset(GridImages.maskImages(6).toSeq)(
      Encoders.product[ImageRow])
    val chips = ConvNet.collectChipsLabeled(gridImages(spark, 6, 2), masks,
      chipSize = 16, includeZero = true)
    ConvNet.chipPredict(chips, ConvNet.fixtureNet)
      .toDF("image_id", "cx", "cy", "pred")
      .groupBy("image_id", "pred")
      .agg(count(lit(1)).as("n_chips"), sum(col("cx") * 3 + col("cy")).as("cpos"))
  }

  /** Chip grid + chip-locally-clamped layer-1 activations (shared by
    * q_cnn_chip and q_seg_fit): 16x16 chips over gridImages(6, 2). */
  private def cnnChipH1Sql: String =
    s"""chp AS (
       |  SELECT i, bx*16 AS cx, by*16 AS cy, lx, ly
       |  FROM generate_series(0, 5) t(i), generate_series(0, 4) a(bx),
       |       generate_series(0, 2) b(by), generate_series(0, 15) c(lx),
       |       generate_series(0, 15) e(ly)),
       |h1 AS (
       |  SELECT p.i, p.cx, p.cy, p.lx, p.ly, w.oc,
       |    greatest(0.0, sum(w.wt *
       |      CAST(((p.cx + greatest(0, least(15, p.lx + w.dx)))*7
       |          + (p.cy + greatest(0, least(15, p.ly + w.dy)))*13
       |          + w.ic*31 + p.i*17) % 97 AS DOUBLE))
       |      + CAST(w.oc AS DOUBLE)/8) AS hv
       |  FROM chp p, w1 w
       |  GROUP BY p.i, p.cx, p.cy, p.lx, p.ly, w.oc)""".stripMargin

  val qCnnChipSql: String =
    s"""WITH $cnnWeightSql,
       |$cnnChipH1Sql,
       |s2 AS (
       |  SELECT h.i, h.cx, h.cy, h.lx, h.ly, w.oc2,
       |    sum(w.wt * h.hv) + CAST(w.oc2 - 1 AS DOUBLE)/8 AS sv
       |  FROM h1 h JOIN w2 w ON w.ic = h.oc
       |  GROUP BY h.i, h.cx, h.cy, h.lx, h.ly, w.oc2),
       |pool AS (
       |  SELECT i, cx, cy, oc2, sum(sv) AS ps
       |  FROM s2 GROUP BY i, cx, cy, oc2),
       |pred AS (
       |  SELECT i, cx, cy,
       |    CASE WHEN max(CASE WHEN oc2 = 1 THEN ps END)
       |          >= max(CASE WHEN oc2 = 0 THEN ps END)
       |         THEN 2 ELSE 1 END AS pred
       |  FROM pool GROUP BY i, cx, cy)
       |SELECT printf('g%03d', i) AS image_id, CAST(pred AS INT) AS pred,
       |  count(*) AS n_chips, CAST(sum(cx*3 + cy) AS BIGINT) AS cpos
       |FROM pred GROUP BY 1, 2""".stripMargin

  /** q_chips — training-chip collection (collect_train /
    * collect_train_chip, convnet.py:549-762): 16x16 chips over the
    * (image, mask) join, all-zero-mask chips DROPPED, label =
    * max(mask); per image the kept-chip count, label sum and band-0
    * pixel mass pin the selection AND the cut windows. */
  def qChips(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    import spark.implicits._
    val masks = spark.createDataset(GridImages.maskImages(6).toSeq)(
      Encoders.product[ImageRow])
    ConvNet.collectChipsLabeled(gridImages(spark, 6, 2), masks,
      chipSize = 16, includeZero = false)
      .map(ch => (ch.image_id, ch.label.toLong,
        ch.bands(0).map(_.toDouble).sum))
      .toDF("image_id", "label", "pxs")
      .groupBy("image_id")
      .agg(count(lit(1)).as("n_chips"), sum("label").as("sum_label"),
        round(sum("pxs"), 2).as("px_sum"))
  }

  val qChipsSql: String =
    s"""WITH ${GridImages.pxSql(6, 2)}, ${GridImages.maskSql(6)},
       |chip AS (
       |  SELECT i, x // 16 AS bx, y // 16 AS by, max(mv) AS lab
       |  FROM mpx GROUP BY 1, 2, 3),
       |psum AS (
       |  SELECT i, x // 16 AS bx, y // 16 AS by, sum(v) AS ps
       |  FROM px WHERE b = 0 GROUP BY 1, 2, 3)
       |SELECT printf('g%03d', i) AS image_id, count(*) AS n_chips,
       |  CAST(sum(lab) AS BIGINT) AS sum_label,
       |  round(sum(ps), 2) AS px_sum
       |FROM chip JOIN psum USING (i, bx, by)
       |WHERE lab > 0 GROUP BY 1""".stripMargin

  /** q_seg_fit — the distributed half of head training: per-chip
    * Gram/moment partial sums for the ridge normal equations over
    * FROZEN layer-1 features (+bias) and one-hot mask classes. The
    * shuffle carries d^2 + d*C doubles per chip, never pixels; the
    * oracle recomputes every XtX / XtY entry from the replayed
    * activations (exact eighths, so sums are exact). The tiny d x d
    * SOLVE is driver-side by construction and spec-checked
    * (ConvNetSpec: residual ~ 0, composed net predicts). */
  def qSegFit(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val full = ConvNet.fixtureNet
    val backbone = SegNet(full.layers.take(1), Array(1, 2, 3))
    val masks = spark.createDataset(GridImages.maskImages(6).toSeq)(
      Encoders.product[ImageRow])
    val chips = ConvNet.collectChipsLabeled(gridImages(spark, 6, 2), masks,
      chipSize = 16, includeZero = true)
    ConvNet.gramForHead(chips, backbone, nClasses = 4)
      .select(col("kind"), col("ra"), col("rb"), round(col("v"), 2).as("v"))
  }

  val qSegFitSql: String =
    s"""WITH $cnnWeightSql,
       |$cnnChipH1Sql,
       |${GridImages.maskSql(6)},
       |feat AS (
       |  SELECT i, cx, cy, lx, ly, oc, hv FROM h1
       |  UNION ALL
       |  SELECT i, cx, cy, lx, ly, 3 AS oc, CAST(1 AS DOUBLE) AS hv FROM chp),
       |gm AS (
       |  SELECT 'g' AS kind, a.oc AS ra, b.oc AS rb,
       |    round(sum(a.hv * b.hv), 2) AS v
       |  FROM feat a JOIN feat b
       |    ON a.i = b.i AND a.cx = b.cx AND a.cy = b.cy
       |    AND a.lx = b.lx AND a.ly = b.ly
       |  GROUP BY 1, 2, 3),
       |ym AS (
       |  SELECT 'y' AS kind, f.oc AS ra, CAST(m.mv AS INT) AS rb,
       |    round(sum(f.hv), 2) AS v
       |  FROM feat f JOIN mpx m
       |    ON m.i = f.i AND m.x = f.cx + f.lx AND m.y = f.cy + f.ly
       |  GROUP BY 1, 2, 3)
       |SELECT kind, CAST(ra AS INT) AS ra, CAST(rb AS INT) AS rb, v
       |FROM (SELECT * FROM gm UNION ALL SELECT * FROM ym)""".stripMargin

  /** (kind, li, idx, v) weight/bias rows of a trained net — the ONE
    * authority for the oracle-side weight-index convention every
    * training query shares (its SQL twin lives in the per-query weight
    * CTEs; a missed re-index produces an idx mismatch, so the Spark
    * side is deliberately not repeated per query). */
  private def netRows(net: graft.operators.SegNet): Seq[(String, Int, Int, Double)] =
    net.layers.zipWithIndex.flatMap { case (l, li) =>
      l.weights.zipWithIndex.map { case (w, i) => ("w", li, i, w.toDouble) } ++
        l.bias.zipWithIndex.map { case (b, i) => ("b", li, i, b.toDouble) }
    }

  /** ("loss", epoch-or-batch, 0, v) rows of a training-loss ledger. */
  private def lossRowsOf(losses: Seq[Double]): Seq[(String, Int, Int, Double)] =
    losses.zipWithIndex.map { case (l, e) => ("loss", e, 0, l) }

  /** q_train_seg — train_semantic_seg (convnet.py:50-428) as distributed
    * full-batch SGD (ConvTrain.trainSeg): 2 epochs of quantized-gradient
    * descent on the 2-layer fixture net over one image's 15 chips. The
    * residual grid snap (grain 2^-8, floor) makes every gradient sum
    * exact in double regardless of summation order, so the oracle
    * replays BOTH epochs — forward, relu gate, backprop through the 1x1
    * head and the 3x3 layer with chip-local clamped taps, and both
    * floor-snapped weight updates — to the last bit. Output: per-epoch
    * losses + every trained weight and bias. */
  def qTrainSeg(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    import spark.implicits._
    val masks = spark.createDataset(GridImages.maskImages(1).toSeq)(
      Encoders.product[ImageRow])
    val chips = ConvNet.collectChipsLabeled(gridImages(spark, 1, 2), masks,
      chipSize = 16, includeZero = true)
    val (trained, losses) = ConvTrain.trainSeg(chips, ConvNet.fixtureNet,
      epochs = 2, lr = math.pow(2.0, -25), gradBits = 8)
    val lossRows = lossRowsOf(losses)
    val wRows = netRows(trained)
    (lossRows ++ wRows).toDF("kind", "li", "idx", "v")
  }

  /** Forward-only CTEs (h1_/s2_`$suf`): relu layer + logit layer from
    * weight CTEs suffixed `$wIn` over chip-pixel relation `$src`. */
  private def fwdCoreSql(suf: String, wIn: String, src: String): String =
    s"""h1_$suf AS MATERIALIZED (
       |  SELECT p.cx, p.cy, p.lx, p.ly, w.oc,
       |    CAST(greatest(0.0, sum(w.wt * q.v) + any_value(b.bt)) AS FLOAT) AS hv
       |  FROM (SELECT DISTINCT cx, cy, lx, ly FROM $src) p, w1_$wIn w, $src q,
       |       b1_$wIn b
       |  WHERE b.oc = w.oc AND q.cx = p.cx AND q.cy = p.cy AND q.ic = w.ic
       |    AND q.lx = greatest(0, least(15, p.lx + w.dx))
       |    AND q.ly = greatest(0, least(15, p.ly + w.dy))
       |  GROUP BY p.cx, p.cy, p.lx, p.ly, w.oc),
       |s2_$suf AS MATERIALIZED (
       |  SELECT h.cx, h.cy, h.lx, h.ly, w.oc2,
       |    CAST(sum(w.wt * h.hv) + any_value(b.bt) AS FLOAT) AS sv
       |  FROM h1_$suf h, w2_$wIn w, b2_$wIn b
       |  WHERE w.ic = h.oc AND b.oc2 = w.oc2
       |  GROUP BY h.cx, h.cy, h.lx, h.ly, w.oc2)""".stripMargin

  /** Forward + snapped squared-error residual CTEs of the SGD oracle:
    * h1_/s2_/r_/loss_`$suf` (grain 2^-8). */
  private def sgdFwdSql(suf: String, wIn: String, src: String): String =
    s"""${fwdCoreSql(suf, wIn, src)},
       |r_$suf AS MATERIALIZED (
       |  SELECT s.cx, s.cy, s.lx, s.ly, s.oc2,
       |    floor((CAST(s.sv AS DOUBLE) - t.t) * 256) / 256 AS rq
       |  FROM s2_$suf s JOIN tgt t ON t.cx = s.cx AND t.cy = s.cy
       |    AND t.lx = s.lx AND t.ly = s.ly AND t.oc2 = s.oc2),
       |loss_$suf AS MATERIALIZED (SELECT 0.5 * sum(rq * rq) AS l FROM r_$suf)""".stripMargin

  /** Backprop gradient CTEs from r_/h1_`$suf` over `$src` (no update). */
  private def sgdGradSql(suf: String, wIn: String, src: String): String =
    s"""gw2_$suf AS MATERIALIZED (
       |  SELECT r.oc2, h.oc AS ic, sum(r.rq * h.hv) AS g
       |  FROM r_$suf r JOIN h1_$suf h ON h.cx = r.cx AND h.cy = r.cy
       |    AND h.lx = r.lx AND h.ly = r.ly
       |  GROUP BY 1, 2),
       |gb2_$suf AS MATERIALIZED (SELECT oc2, sum(rq) AS g FROM r_$suf GROUP BY 1),
       |d1_$suf AS MATERIALIZED (
       |  SELECT r.cx, r.cy, r.lx, r.ly, w.ic AS oc, sum(r.rq * w.wt) AS dv
       |  FROM r_$suf r, w2_$wIn w
       |  WHERE w.oc2 = r.oc2
       |  GROUP BY 1, 2, 3, 4, 5),
       |d1g_$suf AS MATERIALIZED (
       |  SELECT d.cx, d.cy, d.lx, d.ly, d.oc,
       |    CASE WHEN h.hv > 0 THEN d.dv ELSE CAST(0 AS DOUBLE) END AS dv
       |  FROM d1_$suf d JOIN h1_$suf h ON h.cx = d.cx AND h.cy = d.cy
       |    AND h.lx = d.lx AND h.ly = d.ly AND h.oc = d.oc),
       |gw1_$suf AS MATERIALIZED (
       |  SELECT d.oc, w.ic, w.dy, w.dx, sum(d.dv * q.v) AS g
       |  FROM d1g_$suf d, (SELECT DISTINCT ic, dy, dx FROM w1_0) w, $src q
       |  WHERE q.cx = d.cx AND q.cy = d.cy AND q.ic = w.ic
       |    AND q.lx = greatest(0, least(15, d.lx + w.dx))
       |    AND q.ly = greatest(0, least(15, d.ly + w.dy))
       |  GROUP BY 1, 2, 3, 4),
       |gb1_$suf AS MATERIALIZED (SELECT oc, sum(dv) AS g FROM d1g_$suf GROUP BY 1)""".stripMargin

  /** Floor-snapped SGD step: weights w*_`$wIn` minus gradients/`$lrDenom`
    * into w*_`$wOut`. */
  private def sgdStepSql(suf: String, wIn: String, wOut: String,
                         lrDenom: String, snapS: String = "256"): String =
    s"""w1_$wOut AS MATERIALIZED (
       |  SELECT w.oc, w.ic, w.dy, w.dx,
       |    CAST(CAST(floor((w.wt - g.g/$lrDenom) * $snapS) / $snapS AS FLOAT)
       |         AS DOUBLE) AS wt
       |  FROM w1_$wIn w JOIN gw1_$suf g ON g.oc = w.oc AND g.ic = w.ic
       |    AND g.dy = w.dy AND g.dx = w.dx),
       |b1_$wOut AS MATERIALIZED (
       |  SELECT b.oc,
       |    CAST(CAST(floor((b.bt - g.g/$lrDenom) * $snapS) / $snapS AS FLOAT)
       |         AS DOUBLE) AS bt
       |  FROM b1_$wIn b JOIN gb1_$suf g ON g.oc = b.oc),
       |w2_$wOut AS MATERIALIZED (
       |  SELECT w.oc2, w.ic,
       |    CAST(CAST(floor((w.wt - g.g/$lrDenom) * $snapS) / $snapS AS FLOAT)
       |         AS DOUBLE) AS wt
       |  FROM w2_$wIn w JOIN gw2_$suf g ON g.oc2 = w.oc2 AND g.ic = w.ic),
       |b2_$wOut AS MATERIALIZED (
       |  SELECT b.oc2,
       |    CAST(CAST(floor((b.bt - g.g/$lrDenom) * $snapS) / $snapS AS FLOAT)
       |         AS DOUBLE) AS bt
       |  FROM b2_$wIn b JOIN gb2_$suf g ON g.oc2 = b.oc2)""".stripMargin

  /** Floor-snapped Adam step mirroring ConvTrain's exact arithmetic:
    * m/v updates written as the SAME double operations (0.9 literals,
    * beta^t by repeated multiplication — never pow()), step =
    * (lr * mHat) / (sqrt(vHat) + eps). `first` = t==1 (zero moments);
    * `p1`/`p2` are the beta^t product expressions. Each weight CTE
    * carries (value, m, v) forward for the next epoch. */
  private def adamStepSql(suf: String, wIn: String, wOut: String,
                          first: Boolean, p1: String, p2: String,
                          lr: String, snapS: String = "256"): String = {
    def grp(out: String, in: String, grad: String, keys: Seq[String],
            vc: String): String = {
      val keyList = keys.map(k => s"w.$k").mkString(", ")
      val joinCond = keys.map(k => s"g.$k = w.$k").mkString(" AND ")
      val mExpr = if (first) "(1 - 0.9) * g.g"
                  else "0.9 * w.m + (1 - 0.9) * g.g"
      val vExpr = if (first) "(1 - 0.999) * g.g * g.g"
                  else "0.999 * w.v + (1 - 0.999) * g.g * g.g"
      s"""$out AS MATERIALIZED (
         |  SELECT $keyList,
         |    CAST(CAST(floor((w.$vc - ($lr * (($mExpr) / (1 - $p1)))
         |      / (sqrt(($vExpr) / (1 - $p2)) + 1e-8)) * $snapS) / $snapS
         |      AS FLOAT) AS DOUBLE) AS $vc,
         |    $mExpr AS m, $vExpr AS v
         |  FROM $in w JOIN $grad g ON $joinCond)""".stripMargin
    }
    Seq(
      grp(s"w1_$wOut", s"w1_$wIn", s"gw1_$suf",
        Seq("oc", "ic", "dy", "dx"), "wt"),
      grp(s"b1_$wOut", s"b1_$wIn", s"gb1_$suf", Seq("oc"), "bt"),
      grp(s"w2_$wOut", s"w2_$wIn", s"gw2_$suf", Seq("oc2", "ic"), "wt"),
      grp(s"b2_$wOut", s"b2_$wIn", s"gb2_$suf", Seq("oc2"), "bt")
    ).mkString(",\n")
  }

  /** One SGD epoch: forward + backprop + update. */
  private def trainEpochSql(e: Int, lrDenom: String = "33554432",
                            src: String = "cpx", tag: String = ""): String = {
    val suf = s"$tag$e"
    val wIn = if (e == 0) "0" else s"$tag$e"
    val wOut = s"$tag${e + 1}"
    sgdFwdSql(suf, wIn, src) + ",\n" + sgdGradSql(suf, wIn, src) + ",\n" +
      sgdStepSql(suf, wIn, wOut, lrDenom)
  }

  /** Shared oracle preamble builder for BOTH training-fixture families:
    * the single-image chip-pixel relation, the target relation, the
    * initial fixture weights at 1/`divisor` scale, and (when
    * `paritySplit`) the even/odd chip-grid-parity subsets. divisor=8 is
    * the hard fixtureNet; divisor=64 the soft coupled-loss fixtures
    * (ConvNet.fixtureNetSoft / fixtureNetBinary — sigmoid/softmax
    * neither saturates nor pins). `binary` = single-logit head
    * (LossBinary / sigmoid Dice): oc2 range {0}, bias -1/divisor,
    * target = mask > 0 without the class-match term. One builder so a
    * future chip-pixel or mask-formula fix can't drift between the
    * 1/8- and 1/64-scale oracles. */
  private def chipPreambleSql(divisor: Int, binary: Boolean,
                              paritySplit: Boolean): String = {
    val parity = if (paritySplit)
      """,
        |cpxt AS MATERIALIZED (SELECT * FROM cpx WHERE (cx // 16 + cy // 16) % 2 = 0),
        |cpxh AS MATERIALIZED (SELECT * FROM cpx WHERE (cx // 16 + cy // 16) % 2 = 1)""".stripMargin
    else ""
    val oc2Max = if (binary) 0 else 1
    val tgt =
      if (binary)
        """tgt AS MATERIALIZED (
          |  SELECT bx*16 AS cx, by*16 AS cy, lx, ly, 0 AS oc2,
          |    CASE WHEN ((bx*16+lx) // 16 + (by*16+ly) // 12) % 4 = 0
          |         THEN CAST(1 AS DOUBLE) ELSE CAST(0 AS DOUBLE) END AS t
          |  FROM generate_series(0, 4) a(bx), generate_series(0, 2) b(by),
          |       generate_series(0, 15) c(lx), generate_series(0, 15) e(ly))""".stripMargin
      else
        """tgt AS MATERIALIZED (
          |  SELECT bx*16 AS cx, by*16 AS cy, lx, ly, oc2,
          |    CASE WHEN ((bx*16+lx) // 16 + (by*16+ly) // 12) % 4 = 0
          |          AND ((bx*16+lx) // 8 + (by*16+ly) // 6) % 3 + 1 = oc2 + 1
          |         THEN CAST(1 AS DOUBLE) ELSE CAST(0 AS DOUBLE) END AS t
          |  FROM generate_series(0, 4) a(bx), generate_series(0, 2) b(by),
          |       generate_series(0, 15) c(lx), generate_series(0, 15) e(ly),
          |       generate_series(0, 1) f(oc2))""".stripMargin
    s"""cpx AS MATERIALIZED (
       |  SELECT bx*16 AS cx, by*16 AS cy, lx, ly, ic,
       |    CAST(((bx*16+lx)*7 + (by*16+ly)*13 + ic*31) % 97 AS DOUBLE) AS v
       |  FROM generate_series(0, 4) a(bx), generate_series(0, 2) b(by),
       |       generate_series(0, 15) c(lx), generate_series(0, 15) e(ly),
       |       generate_series(0, 1) f(ic))$parity,
       |$tgt,
       |w1_0 AS MATERIALIZED (
       |  SELECT oc, ic, dy, dx,
       |    CAST((((((oc*2 + ic)*9 + (dy+1)*3 + dx+1) * 5) % 7) - 3) AS DOUBLE)/$divisor
       |      AS wt
       |  FROM generate_series(0, 2) a(oc), generate_series(0, 1) b(ic),
       |       generate_series(-1, 1) c(dy), generate_series(-1, 1) e(dx)),
       |b1_0 AS MATERIALIZED (SELECT oc, CAST(oc AS DOUBLE)/$divisor AS bt
       |         FROM generate_series(0, 2) t(oc)),
       |w2_0 AS MATERIALIZED (SELECT oc2, ic,
       |    CAST(((((oc2*3 + ic)*3) % 5) - 2) AS DOUBLE)/$divisor AS wt
       |  FROM generate_series(0, $oc2Max) a(oc2), generate_series(0, 2) b(ic)),
       |b2_0 AS MATERIALIZED (SELECT oc2, CAST(oc2 - 1 AS DOUBLE)/$divisor AS bt
       |         FROM generate_series(0, $oc2Max) t(oc2))""".stripMargin
  }

  /** Hard-fixture preamble (fixtureNet, weights at 1/8). */
  private def sgdPreambleSql(paritySplit: Boolean): String =
    chipPreambleSql(8, binary = false, paritySplit)

  val qTrainSegSql: String =
    s"""WITH ${sgdPreambleSql(paritySplit = false)},
       |${trainEpochSql(0)},
       |${trainEpochSql(1)}
       |SELECT kind, CAST(li AS INT) AS li, CAST(idx AS INT) AS idx, v FROM (
       |  SELECT 'loss' AS kind, 0 AS li, 0 AS idx, l AS v FROM loss_0
       |  UNION ALL SELECT 'loss', 1, 0, l FROM loss_1
       |  UNION ALL SELECT 'w', 0, ((oc*2 + ic)*3 + dy+1)*3 + dx+1, wt FROM w1_2
       |  UNION ALL SELECT 'b', 0, oc, bt FROM b1_2
       |  UNION ALL SELECT 'w', 1, oc2*3 + ic, wt FROM w2_2
       |  UNION ALL SELECT 'b', 1, oc2, bt FROM b2_2)""".stripMargin

  /** q_grid_search — GridSearchCV / create_model_optuna analog
    * (learning.py:671-676): two learning-rate candidates trained by
    * ConvTrain.gridSearch in ONE data pass per epoch (all candidates
    * ride one broadcast), selected on a deterministic holdout split
    * (even grid parity trains, odd validates). The oracle replays BOTH
    * candidates' full two-epoch SGD on the train subset, the holdout
    * forward pass, the argmin winner (ties to input order = name
    * order here), and the winner's final weights. */
  def qGridSearch(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    import spark.implicits._
    val masks = spark.createDataset(GridImages.maskImages(1).toSeq)(
      Encoders.product[ImageRow])
    val chips = ConvNet.collectChipsLabeled(gridImages(spark, 1, 2), masks,
      chipSize = 16, includeZero = true)
    val cands = Seq(ConvTrain.Candidate("a", math.pow(2.0, -25)),
      ConvTrain.Candidate("b", math.pow(2.0, -26)))
    val (winner, results) =
      ConvTrain.gridSearch(chips, ConvNet.fixtureNet, cands, epochs = 2)
    val lossRows = results.flatMap { r =>
      r.trainLosses.zipWithIndex.map { case (l, e) => (r.name, "train", 0, e, l) } :+
        ((r.name, "hold", 0, 0, r.holdoutLoss))
    }
    val winRows = Seq((winner.name, "winner", 0, 0, 1.0))
    val wRows = netRows(winner.net).map { case (k, li, i, v) =>
      (winner.name, k, li, i, v)
    }
    (lossRows ++ winRows ++ wRows).toDF("cand", "kind", "li", "idx", "v")
  }

  val qGridSearchSql: String = {
    def candSql(tag: String, lrDenom: String): String =
      s"""${trainEpochSql(0, lrDenom, "cpxt", tag)},
         |${trainEpochSql(1, lrDenom, "cpxt", tag)},
         |${sgdFwdSql(s"${tag}H", s"${tag}2", "cpxh")}""".stripMargin
    s"""WITH ${sgdPreambleSql(paritySplit = true)},
       |${candSql("a", "33554432")},
       |${candSql("b", "67108864")},
       |hl AS (SELECT 'a' AS cand, 0 AS ci, l FROM loss_aH
       |       UNION ALL SELECT 'b', 1, l FROM loss_bH),
       |win AS (SELECT cand FROM hl ORDER BY l, ci LIMIT 1),
       |wts AS (
       |  SELECT 'a' AS cand, 'w' AS kind, 0 AS li,
       |    ((oc*2 + ic)*3 + dy+1)*3 + dx+1 AS idx, wt AS v FROM w1_a2
       |  UNION ALL SELECT 'a', 'b', 0, oc, bt FROM b1_a2
       |  UNION ALL SELECT 'a', 'w', 1, oc2*3 + ic, wt FROM w2_a2
       |  UNION ALL SELECT 'a', 'b', 1, oc2, bt FROM b2_a2
       |  UNION ALL SELECT 'b', 'w', 0,
       |    ((oc*2 + ic)*3 + dy+1)*3 + dx+1, wt FROM w1_b2
       |  UNION ALL SELECT 'b', 'b', 0, oc, bt FROM b1_b2
       |  UNION ALL SELECT 'b', 'w', 1, oc2*3 + ic, wt FROM w2_b2
       |  UNION ALL SELECT 'b', 'b', 1, oc2, bt FROM b2_b2)
       |SELECT cand, kind, CAST(li AS INT) AS li, CAST(idx AS INT) AS idx, v
       |FROM (
       |  SELECT 'a' AS cand, 'train' AS kind, 0 AS li, 0 AS idx, l AS v
       |  FROM loss_a0
       |  UNION ALL SELECT 'a', 'train', 0, 1, l FROM loss_a1
       |  UNION ALL SELECT 'b', 'train', 0, 0, l FROM loss_b0
       |  UNION ALL SELECT 'b', 'train', 0, 1, l FROM loss_b1
       |  UNION ALL SELECT cand, 'hold', 0, 0, l FROM hl
       |  UNION ALL SELECT cand, 'winner', 0, 0, CAST(1 AS DOUBLE) FROM win
       |  UNION ALL SELECT w.cand, w.kind, w.li, w.idx, w.v
       |  FROM wts w JOIN win USING (cand))""".stripMargin
  }

  /** q_train_minibatch — the torch-DataLoader loop shape
    * (ConvTrain.trainSegBatched): ONE epoch of 2 deterministic
    * mini-batches (even chip-grid parity first, then odd), weights
    * stepped after each. The oracle replays both sequential batch
    * steps: forward+backprop+update on the even subset, then the same
    * on the odd subset FROM the stepped weights. */
  def qTrainMinibatch(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    import spark.implicits._
    val masks = spark.createDataset(GridImages.maskImages(1).toSeq)(
      Encoders.product[ImageRow])
    val chips = ConvNet.collectChipsLabeled(gridImages(spark, 1, 2), masks,
      chipSize = 16, includeZero = true)
    val (net, losses) = ConvTrain.trainSegBatched(chips, ConvNet.fixtureNet,
      epochs = 1, batches = 2, lr = math.pow(2.0, -25))
    val lossRows = lossRowsOf(losses)
    val wRows = netRows(net)
    (lossRows ++ wRows).toDF("kind", "li", "idx", "v")
  }

  val qTrainMinibatchSql: String =
    s"""WITH ${sgdPreambleSql(paritySplit = true)},
       |${trainEpochSql(0, "33554432", "cpxt", "m")},
       |${trainEpochSql(1, "33554432", "cpxh", "m")}
       |SELECT kind, CAST(li AS INT) AS li, CAST(idx AS INT) AS idx, v FROM (
       |  SELECT 'loss' AS kind, 0 AS li, 0 AS idx, l AS v FROM loss_m0
       |  UNION ALL SELECT 'loss', 1, 0, l FROM loss_m1
       |  UNION ALL SELECT 'w', 0, ((oc*2 + ic)*3 + dy+1)*3 + dx+1, wt FROM w1_m2
       |  UNION ALL SELECT 'b', 0, oc, bt FROM b1_m2
       |  UNION ALL SELECT 'w', 1, oc2*3 + ic, wt FROM w2_m2
       |  UNION ALL SELECT 'b', 1, oc2, bt FROM b2_m2)""".stripMargin

  /** q_train_adam — the reference's ACTUAL optimizer
    * (torch.optim.Adam, convnet.py:327) in the distributed loop:
    * 2 epochs of Adam (torch defaults) over the fixture chips. The
    * moment math is driver-side scalar ops on exact gradients with
    * beta^t tracked by repeated multiplication and IEEE-correctly-
    * rounded sqrt/divide, so the oracle replays both epochs' m/v
    * states, bias corrections, and snapped steps to the bit. */
  def qTrainAdam(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    import spark.implicits._
    val masks = spark.createDataset(GridImages.maskImages(1).toSeq)(
      Encoders.product[ImageRow])
    val chips = ConvNet.collectChipsLabeled(gridImages(spark, 1, 2), masks,
      chipSize = 16, includeZero = true)
    val (net, losses) = ConvTrain.trainSegOpt(chips, ConvNet.fixtureNet,
      epochs = 2, ConvTrain.Adam(lr = 0.015625))
    val lossRows = lossRowsOf(losses)
    val wRows = netRows(net)
    (lossRows ++ wRows).toDF("kind", "li", "idx", "v")
  }

  val qTrainAdamSql: String =
    s"""WITH ${sgdPreambleSql(paritySplit = false)},
       |${sgdFwdSql("d0", "0", "cpx")},
       |${sgdGradSql("d0", "0", "cpx")},
       |${adamStepSql("d0", "0", "d1", first = true,
                      p1 = "0.9", p2 = "0.999", lr = "0.015625")},
       |${sgdFwdSql("d1", "d1", "cpx")},
       |${sgdGradSql("d1", "d1", "cpx")},
       |${adamStepSql("d1", "d1", "d2", first = false,
                      p1 = "0.9*0.9", p2 = "0.999*0.999", lr = "0.015625")}
       |SELECT kind, CAST(li AS INT) AS li, CAST(idx AS INT) AS idx, v FROM (
       |  SELECT 'loss' AS kind, 0 AS li, 0 AS idx, l AS v FROM loss_d0
       |  UNION ALL SELECT 'loss', 1, 0, l FROM loss_d1
       |  UNION ALL SELECT 'w', 0, ((oc*2 + ic)*3 + dy+1)*3 + dx+1, wt FROM w1_d2
       |  UNION ALL SELECT 'b', 0, oc, bt FROM b1_d2
       |  UNION ALL SELECT 'w', 1, oc2*3 + ic, wt FROM w2_d2
       |  UNION ALL SELECT 'b', 1, oc2, bt FROM b2_d2)""".stripMargin

  /** Soft-fixture preamble (fixtureNetSoft / fixtureNetBinary, weights
    * at 1/64 — see [[chipPreambleSql]]). */
  private def softPreambleSql(binary: Boolean,
                              paritySplit: Boolean = false): String =
    chipPreambleSql(64, binary, paritySplit)

  /** Dice (smp f_score beta=1, eps=1 — the loss the reference actually
    * trains with, convnet.py:322) CTEs for epoch `$suf`: snapped
    * softmax2d probs (grain 2^-20), the batch-global nn = 2I+1 and
    * dd = P+T+1 scalars (exact order-invariant sums of dyadics), the
    * snapped coupled residuals (rq replays pixelResiduals' exact
    * double op sequence over the snapped probs — no transcendental
    * between the probs and the floor), and the epoch loss 1 - nn/dd. */
  private def softmaxSql(suf: String): String =
    s"""zx_$suf AS MATERIALIZED (
       |  SELECT cx, cy, lx, ly, max(CAST(sv AS DOUBLE)) AS mx
       |  FROM s2_$suf GROUP BY 1, 2, 3, 4),
       |zz_$suf AS MATERIALIZED (
       |  SELECT s.cx, s.cy, s.lx, s.ly, any_value(z.mx) AS mx,
       |    sum(exp(CAST(s.sv AS DOUBLE) - z.mx)) AS z
       |  FROM s2_$suf s JOIN zx_$suf z ON z.cx = s.cx AND z.cy = s.cy
       |    AND z.lx = s.lx AND z.ly = s.ly
       |  GROUP BY 1, 2, 3, 4),
       |pq_$suf AS MATERIALIZED (
       |  SELECT s.cx, s.cy, s.lx, s.ly, s.oc2,
       |    floor(exp(CAST(s.sv AS DOUBLE) - z.mx) / z.z * 1048576.0)
       |      / 1048576.0 AS pq
       |  FROM s2_$suf s JOIN zz_$suf z ON z.cx = s.cx AND z.cy = s.cy
       |    AND z.lx = s.lx AND z.ly = s.ly)""".stripMargin

  private def diceStatsSql(suf: String): String =
    s"""${softmaxSql(suf)},
       |st_$suf AS MATERIALIZED (
       |  SELECT 2.0 * sum(p.pq * t.t) + 1.0 AS nn,
       |    sum(p.pq) + sum(t.t) + 1.0 AS dd
       |  FROM pq_$suf p JOIN tgt t ON t.cx = p.cx AND t.cy = p.cy
       |    AND t.lx = p.lx AND t.ly = p.ly AND t.oc2 = p.oc2),
       |loss_$suf AS MATERIALIZED (SELECT 1.0 - nn / dd AS l FROM st_$suf)""".stripMargin

  private def diceSql(suf: String): String =
    s"""${diceStatsSql(suf)},
       |r_$suf AS MATERIALIZED (
       |  SELECT k.cx, k.cy, k.lx, k.ly, k.oc2,
       |    floor(sum(
       |      (-((2.0 * t.t * st.dd - st.nn) / (st.dd * st.dd)))
       |      * (c.pq * ((CASE WHEN c.oc2 = k.oc2 THEN 1.0 ELSE 0.0 END)
       |                 - k.pq))) * 1048576.0) / 1048576.0 AS rq
       |  FROM pq_$suf k
       |  JOIN pq_$suf c ON c.cx = k.cx AND c.cy = k.cy AND c.lx = k.lx
       |    AND c.ly = k.ly
       |  JOIN tgt t ON t.cx = c.cx AND t.cy = c.cy AND t.lx = c.lx
       |    AND t.ly = c.ly AND t.oc2 = c.oc2, st_$suf st
       |  GROUP BY k.cx, k.cy, k.lx, k.ly, k.oc2, k.pq)""".stripMargin

  /** LossBinary (loss.py:8-29, jaccard weight 0.5) CTEs for epoch
    * `$suf`: snapped sigmoid probs, the batch-global I+eps / U-I+eps /
    * n scalars, the snapped coupled residuals (same exact double op
    * sequence as pixelResiduals), the snapped per-pixel
    * BCEWithLogits sum, and the assembled epoch loss. */
  private def lossbSql(suf: String): String =
    s"""pq_$suf AS MATERIALIZED (
       |  SELECT cx, cy, lx, ly, oc2, CAST(sv AS DOUBLE) AS s,
       |    floor(1.0 / (1.0 + exp(-CAST(sv AS DOUBLE))) * 1048576.0)
       |      / 1048576.0 AS pq
       |  FROM s2_$suf),
       |st_$suf AS MATERIALIZED (
       |  SELECT sum(p.pq * t.t) + 1e-15 AS ie,
       |    sum(p.pq) + sum(t.t) - sum(p.pq * t.t) + 1e-15 AS ue,
       |    CAST(count(*) AS DOUBLE) AS nd
       |  FROM pq_$suf p JOIN tgt t ON t.cx = p.cx AND t.cy = p.cy
       |    AND t.lx = p.lx AND t.ly = p.ly AND t.oc2 = p.oc2),
       |r_$suf AS MATERIALIZED (
       |  SELECT p.cx, p.cy, p.lx, p.ly, p.oc2,
       |    floor(((1.0 - 0.5) * ((p.pq - t.t) / st.nd)
       |      - 0.5 * ((p.pq * (1.0 - p.pq))
       |        * (t.t / st.ie - (1.0 - t.t) / st.ue))) * 1048576.0)
       |      / 1048576.0 AS rq
       |  FROM pq_$suf p JOIN tgt t ON t.cx = p.cx AND t.cy = p.cy
       |    AND t.lx = p.lx AND t.ly = p.ly AND t.oc2 = p.oc2, st_$suf st),
       |bce_$suf AS MATERIALIZED (
       |  SELECT sum(floor((greatest(p.s, 0.0) - p.s * t.t
       |    + ln(1.0 + exp(-abs(p.s)))) * 1048576.0) / 1048576.0) AS ps
       |  FROM pq_$suf p JOIN tgt t ON t.cx = p.cx AND t.cy = p.cy
       |    AND t.lx = p.lx AND t.ly = p.ly AND t.oc2 = p.oc2),
       |loss_$suf AS MATERIALIZED (
       |  SELECT (1.0 - 0.5) * (b.ps / st.nd) - 0.5 * ln(st.ie / st.ue) AS l
       |  FROM bce_$suf b, st_$suf st)""".stripMargin

  /** q_train_dice — coupled-loss training with the loss the reference
    * ACTUALLY uses (smp DiceLoss + torch Adam, convnet.py:322,327):
    * 2 epochs on the 1/64-scale softmax fixture at grain 2^-20. Each
    * epoch is TWO distributed jobs — a forward-only stats pass whose
    * exchange carries O(partitions x classes) scalar rows, then the
    * gradient pass with the reduced nn/dd constants in the closure.
    * Probs are snapped to the dyadic grid BEFORE summation, so every
    * global stat is exact and order-invariant; ConvLossSpec proves by
    * measurement that no pre-snap transcendental sits within 1e-7
    * grid units of a floor() boundary, so the oracle's exp() replay
    * cannot diverge. Output: per-epoch dice losses + every trained
    * weight. */
  def qTrainDice(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    import spark.implicits._
    val masks = spark.createDataset(GridImages.maskImages(1).toSeq)(
      Encoders.product[ImageRow])
    val chips = ConvNet.collectChipsLabeled(gridImages(spark, 1, 2), masks,
      chipSize = 16, includeZero = true)
    val (net, losses) = ConvTrain.trainSegOpt(chips, ConvNet.fixtureNetSoft,
      epochs = 2, ConvTrain.Adam(lr = math.pow(2.0, -10)), gradBits = 20,
      lossFn = ConvTrain.Dice())
    val lossRows = lossRowsOf(losses)
    val wRows = netRows(net)
    (lossRows ++ wRows).toDF("kind", "li", "idx", "v")
  }

  val qTrainDiceSql: String =
    s"""WITH ${softPreambleSql(binary = false)},
       |${fwdCoreSql("dc0", "0", "cpx")},
       |${diceSql("dc0")},
       |${sgdGradSql("dc0", "0", "cpx")},
       |${adamStepSql("dc0", "0", "dc1", first = true,
                      p1 = "0.9", p2 = "0.999", lr = "0.0009765625",
                      snapS = "1048576")},
       |${fwdCoreSql("dc1", "dc1", "cpx")},
       |${diceSql("dc1")},
       |${sgdGradSql("dc1", "dc1", "cpx")},
       |${adamStepSql("dc1", "dc1", "dc2", first = false,
                      p1 = "0.9*0.9", p2 = "0.999*0.999", lr = "0.0009765625",
                      snapS = "1048576")}
       |SELECT kind, CAST(li AS INT) AS li, CAST(idx AS INT) AS idx, v FROM (
       |  SELECT 'loss' AS kind, 0 AS li, 0 AS idx, l AS v FROM loss_dc0
       |  UNION ALL SELECT 'loss', 1, 0, l FROM loss_dc1
       |  UNION ALL SELECT 'w', 0, ((oc*2 + ic)*3 + dy+1)*3 + dx+1, wt FROM w1_dc2
       |  UNION ALL SELECT 'b', 0, oc, bt FROM b1_dc2
       |  UNION ALL SELECT 'w', 1, oc2*3 + ic, wt FROM w2_dc2
       |  UNION ALL SELECT 'b', 1, oc2, bt FROM b2_dc2)""".stripMargin

  /** q_train_lossb — loss.py:8-29 LossBinary (BCEWithLogits minus the
    * weighted soft-jaccard log) on the single-logit 1/64 fixture:
    * 2 epochs of SGD at grain 2^-20, the same two-job coupled-epoch
    * shape as q_train_dice. The final loss value crosses one ln() so
    * it is rounded to 6 digits on both sides; weights are exact. */
  def qTrainLossb(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    import spark.implicits._
    val masks = spark.createDataset(GridImages.maskImages(1).toSeq)(
      Encoders.product[ImageRow])
    val chips = ConvNet.collectChipsLabeled(gridImages(spark, 1, 2), masks,
      chipSize = 16, includeZero = true)
    val (net, losses) = ConvTrain.trainSegOpt(chips, ConvNet.fixtureNetBinary,
      epochs = 2, ConvTrain.Sgd(math.pow(2.0, -10)), gradBits = 20,
      lossFn = ConvTrain.LossBinary(0.5))
    val lossRows = lossRowsOf(losses)
    val wRows = netRows(net)
    (lossRows ++ wRows).toDF("kind", "li", "idx", "v")
      .select(col("kind"), col("li"), col("idx"),
        when(col("kind") === "loss", round(col("v"), 6))
          .otherwise(col("v")).as("v"))
  }

  val qTrainLossbSql: String =
    s"""WITH ${softPreambleSql(binary = true)},
       |${fwdCoreSql("lb0", "0", "cpx")},
       |${lossbSql("lb0")},
       |${sgdGradSql("lb0", "0", "cpx")},
       |${sgdStepSql("lb0", "0", "lb1", lrDenom = "1024", snapS = "1048576")},
       |${fwdCoreSql("lb1", "lb1", "cpx")},
       |${lossbSql("lb1")},
       |${sgdGradSql("lb1", "lb1", "cpx")},
       |${sgdStepSql("lb1", "lb1", "lb2", lrDenom = "1024", snapS = "1048576")}
       |SELECT kind, CAST(li AS INT) AS li, CAST(idx AS INT) AS idx,
       |  CASE WHEN kind = 'loss' THEN round(v, 6) ELSE v END AS v FROM (
       |  SELECT 'loss' AS kind, 0 AS li, 0 AS idx, l AS v FROM loss_lb0
       |  UNION ALL SELECT 'loss', 1, 0, l FROM loss_lb1
       |  UNION ALL SELECT 'w', 0, ((oc*2 + ic)*3 + dy+1)*3 + dx+1, wt FROM w1_lb2
       |  UNION ALL SELECT 'b', 0, oc, bt FROM b1_lb2
       |  UNION ALL SELECT 'w', 1, oc2*3 + ic, wt FROM w2_lb2
       |  UNION ALL SELECT 'b', 1, oc2, bt FROM b2_lb2)""".stripMargin

  /** LossMulti (loss.py:32-55, jaccard weight 0.5, unweighted classes)
    * CTEs for epoch `$suf` over the 2-channel softmax fixture. The
    * residual accumulates SEQUENTIALLY in the engine (acc -= term_c,
    * ascending c), so the SQL pivots the two channels per pixel and
    * writes ((nll_part - term_0) - term_1) with the engine's exact
    * double association — bit-identical pre-floor because every input
    * is a snapped prob or an exact batch stat. Mask values outside
    * {1,2} are the NLL ignore analog: zero NLL term, excluded from the
    * weight mass, but their softmax probs still feed the jaccard sums
    * (exactly the reference's formula). */
  private def lossmSql(suf: String): String =
    s"""${softmaxSql(suf)},
       |stm_$suf AS MATERIALIZED (
       |  SELECT
       |    max(CASE WHEN oc2 = 0 THEN ie END) AS ie0,
       |    max(CASE WHEN oc2 = 0 THEN ue END) AS ue0,
       |    max(CASE WHEN oc2 = 1 THEN ie END) AS ie1,
       |    max(CASE WHEN oc2 = 1 THEN ue END) AS ue1,
       |    (SELECT sum(t) FROM tgt) AS wsum
       |  FROM (
       |    SELECT p.oc2, sum(p.pq * t.t) + 1e-15 AS ie,
       |      sum(p.pq) + sum(t.t) - sum(p.pq * t.t) + 1e-15 AS ue
       |    FROM pq_$suf p JOIN tgt t ON t.cx = p.cx AND t.cy = p.cy
       |      AND t.lx = p.lx AND t.ly = p.ly AND t.oc2 = p.oc2
       |    GROUP BY p.oc2)),
       |pvt_$suf AS MATERIALIZED (
       |  SELECT p0.cx, p0.cy, p0.lx, p0.ly,
       |    p0.pq AS pq0, p1.pq AS pq1, t0.t AS t0, t1.t AS t1
       |  FROM pq_$suf p0
       |  JOIN pq_$suf p1 ON p1.cx = p0.cx AND p1.cy = p0.cy
       |    AND p1.lx = p0.lx AND p1.ly = p0.ly AND p1.oc2 = 1
       |  JOIN tgt t0 ON t0.cx = p0.cx AND t0.cy = p0.cy AND t0.lx = p0.lx
       |    AND t0.ly = p0.ly AND t0.oc2 = 0
       |  JOIN tgt t1 ON t1.cx = p0.cx AND t1.cy = p0.cy AND t1.lx = p0.lx
       |    AND t1.ly = p0.ly AND t1.oc2 = 1
       |  WHERE p0.oc2 = 0),
       |r_$suf AS MATERIALIZED (
       |  SELECT cx, cy, lx, ly, oc2,
       |    floor(((CASE WHEN t0 + t1 > 0
       |        THEN (1.0 - 0.5) * ((1.0 / wsum) * (pqk - tk))
       |        ELSE 0.0 END
       |      - (0.5 * (pq0 * ((CASE WHEN oc2 = 0 THEN 1.0 ELSE 0.0 END)
       |                       - pqk)))
       |        * (t0 / ie0 - (1.0 - t0) / ue0))
       |      - (0.5 * (pq1 * ((CASE WHEN oc2 = 1 THEN 1.0 ELSE 0.0 END)
       |                       - pqk)))
       |        * (t1 / ie1 - (1.0 - t1) / ue1)) * 1048576.0)
       |      / 1048576.0 AS rq
       |  FROM (
       |    SELECT v.cx, v.cy, v.lx, v.ly, k.oc2, v.pq0, v.pq1, v.t0, v.t1,
       |      CASE WHEN k.oc2 = 0 THEN v.pq0 ELSE v.pq1 END AS pqk,
       |      CASE WHEN k.oc2 = 0 THEN v.t0 ELSE v.t1 END AS tk,
       |      st.ie0, st.ue0, st.ie1, st.ue1, st.wsum
       |    FROM pvt_$suf v, (VALUES (0), (1)) k(oc2), stm_$suf st)),
       |nll_$suf AS MATERIALIZED (
       |  SELECT sum(floor((-(CAST(s.sv AS DOUBLE) - z.mx - ln(z.z)))
       |    * 1048576.0) / 1048576.0) AS ps
       |  FROM s2_$suf s
       |  JOIN zz_$suf z ON z.cx = s.cx AND z.cy = s.cy AND z.lx = s.lx
       |    AND z.ly = s.ly
       |  JOIN tgt t ON t.cx = s.cx AND t.cy = s.cy AND t.lx = s.lx
       |    AND t.ly = s.ly AND t.oc2 = s.oc2
       |  WHERE t.t = 1.0),
       |loss_$suf AS MATERIALIZED (
       |  SELECT (1.0 - 0.5) * (n.ps / st.wsum)
       |    - 0.5 * (ln(st.ie0 / st.ue0) + ln(st.ie1 / st.ue1)) AS l
       |  FROM nll_$suf n, stm_$suf st)""".stripMargin

  /** q_train_lossm — loss.py:32-55 LossMulti (NLL minus the per-class
    * soft-jaccard logs, jaccard weight 0.5) on the 2-channel softmax
    * fixture: 2 epochs of SGD at grain 2^-20, the same two-job coupled
    * epoch as q_train_dice. With this the whole loss.py family plus
    * the reference's actual DiceLoss is oracle-checked. The loss
    * crosses ln() so both sides round to 6 digits; weights are exact. */
  def qTrainLossm(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    import spark.implicits._
    val masks = spark.createDataset(GridImages.maskImages(1).toSeq)(
      Encoders.product[ImageRow])
    val chips = ConvNet.collectChipsLabeled(gridImages(spark, 1, 2), masks,
      chipSize = 16, includeZero = true)
    val (net, losses) = ConvTrain.trainSegOpt(chips, ConvNet.fixtureNetSoft,
      epochs = 2, ConvTrain.Sgd(math.pow(2.0, -10)), gradBits = 20,
      lossFn = ConvTrain.LossMulti(0.5))
    val lossRows = lossRowsOf(losses)
    val wRows = netRows(net)
    (lossRows ++ wRows).toDF("kind", "li", "idx", "v")
      .select(col("kind"), col("li"), col("idx"),
        when(col("kind") === "loss", round(col("v"), 6))
          .otherwise(col("v")).as("v"))
  }

  val qTrainLossmSql: String =
    s"""WITH ${softPreambleSql(binary = false)},
       |${fwdCoreSql("lm0", "0", "cpx")},
       |${lossmSql("lm0")},
       |${sgdGradSql("lm0", "0", "cpx")},
       |${sgdStepSql("lm0", "0", "lm1", lrDenom = "1024", snapS = "1048576")},
       |${fwdCoreSql("lm1", "lm1", "cpx")},
       |${lossmSql("lm1")},
       |${sgdGradSql("lm1", "lm1", "cpx")},
       |${sgdStepSql("lm1", "lm1", "lm2", lrDenom = "1024", snapS = "1048576")}
       |SELECT kind, CAST(li AS INT) AS li, CAST(idx AS INT) AS idx,
       |  CASE WHEN kind = 'loss' THEN round(v, 6) ELSE v END AS v FROM (
       |  SELECT 'loss' AS kind, 0 AS li, 0 AS idx, l AS v FROM loss_lm0
       |  UNION ALL SELECT 'loss', 1, 0, l FROM loss_lm1
       |  UNION ALL SELECT 'w', 0, ((oc*2 + ic)*3 + dy+1)*3 + dx+1, wt FROM w1_lm2
       |  UNION ALL SELECT 'b', 0, oc, bt FROM b1_lm2
       |  UNION ALL SELECT 'w', 1, oc2*3 + ic, wt FROM w2_lm2
       |  UNION ALL SELECT 'b', 1, oc2, bt FROM b2_lm2)""".stripMargin

  /** q_grid_dice — hyper-parameter grid search trained and SELECTED
    * with the reference's actual loss (smp DiceLoss, the optuna
    * objective, convnet.py:322): 2 lr candidates, 2 coupled SGD epochs
    * each on the even-parity split, holdout = the assembled dice loss
    * over the odd split. All K candidates' stats and gradients come
    * from one read per epoch (ConvTrain's shared K-candidate stats
    * and gradient passes). The oracle replays both candidates' coupled
    * training, both holdout stats passes, the argmin winner, and the
    * winner's weights — everything exact (dice's loss is a ratio of
    * exact dyadic sums, no rounding anywhere). */
  def qGridDice(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    import spark.implicits._
    val masks = spark.createDataset(GridImages.maskImages(1).toSeq)(
      Encoders.product[ImageRow])
    val chips = ConvNet.collectChipsLabeled(gridImages(spark, 1, 2), masks,
      chipSize = 16, includeZero = true)
    val cands = Seq(
      ConvTrain.Candidate("a", math.pow(2.0, -10), gradBits = 20),
      ConvTrain.Candidate("b", math.pow(2.0, -12), gradBits = 20))
    val (winner, results) = ConvTrain.gridSearch(chips, ConvNet.fixtureNetSoft,
      cands, epochs = 2, lossFn = ConvTrain.Dice())
    val lossRows = results.flatMap { r =>
      r.trainLosses.zipWithIndex.map { case (l, e) =>
        (r.name, "train", 0, e, l) } :+
        ((r.name, "hold", 0, 0, r.holdoutLoss))
    }
    val winRows = Seq((winner.name, "winner", 0, 0, 1.0))
    val wRows = netRows(winner.net).map { case (k, li, i, v) =>
      (winner.name, k, li, i, v)
    }
    (lossRows ++ winRows ++ wRows).toDF("cand", "kind", "li", "idx", "v")
  }

  val qGridDiceSql: String = {
    def candSql(tag: String, lrDenom: String): String =
      s"""${fwdCoreSql(s"${tag}d0", "0", "cpxt")},
         |${diceSql(s"${tag}d0")},
         |${sgdGradSql(s"${tag}d0", "0", "cpxt")},
         |${sgdStepSql(s"${tag}d0", "0", s"${tag}d1", lrDenom, "1048576")},
         |${fwdCoreSql(s"${tag}d1", s"${tag}d1", "cpxt")},
         |${diceSql(s"${tag}d1")},
         |${sgdGradSql(s"${tag}d1", s"${tag}d1", "cpxt")},
         |${sgdStepSql(s"${tag}d1", s"${tag}d1", s"${tag}d2", lrDenom,
                       "1048576")},
         |${fwdCoreSql(s"${tag}dH", s"${tag}d2", "cpxh")},
         |${diceStatsSql(s"${tag}dH")}""".stripMargin
    s"""WITH ${softPreambleSql(binary = false, paritySplit = true)},
       |${candSql("a", "1024")},
       |${candSql("b", "4096")},
       |hl AS (SELECT 'a' AS cand, 0 AS ci, l FROM loss_adH
       |       UNION ALL SELECT 'b', 1, l FROM loss_bdH),
       |win AS (SELECT cand FROM hl ORDER BY l, ci LIMIT 1),
       |wts AS (
       |  SELECT 'a' AS cand, 'w' AS kind, 0 AS li,
       |    ((oc*2 + ic)*3 + dy+1)*3 + dx+1 AS idx, wt AS v FROM w1_ad2
       |  UNION ALL SELECT 'a', 'b', 0, oc, bt FROM b1_ad2
       |  UNION ALL SELECT 'a', 'w', 1, oc2*3 + ic, wt FROM w2_ad2
       |  UNION ALL SELECT 'a', 'b', 1, oc2, bt FROM b2_ad2
       |  UNION ALL SELECT 'b', 'w', 0,
       |    ((oc*2 + ic)*3 + dy+1)*3 + dx+1, wt FROM w1_bd2
       |  UNION ALL SELECT 'b', 'b', 0, oc, bt FROM b1_bd2
       |  UNION ALL SELECT 'b', 'w', 1, oc2*3 + ic, wt FROM w2_bd2
       |  UNION ALL SELECT 'b', 'b', 1, oc2, bt FROM b2_bd2)
       |SELECT cand, kind, CAST(li AS INT) AS li, CAST(idx AS INT) AS idx, v
       |FROM (
       |  SELECT 'a' AS cand, 'train' AS kind, 0 AS li, 0 AS idx, l AS v
       |  FROM loss_ad0
       |  UNION ALL SELECT 'a', 'train', 0, 1, l FROM loss_ad1
       |  UNION ALL SELECT 'b', 'train', 0, 0, l FROM loss_bd0
       |  UNION ALL SELECT 'b', 'train', 0, 1, l FROM loss_bd1
       |  UNION ALL SELECT cand, 'hold', 0, 0, l FROM hl
       |  UNION ALL SELECT cand, 'winner', 0, 0, CAST(1 AS DOUBLE) FROM win
       |  UNION ALL SELECT w.cand, w.kind, w.li, w.idx, w.v
       |  FROM wts w JOIN win USING (cand))""".stripMargin
  }

  /** q_train_checkpoint — the reference's FULL training loop
    * (convnet.py:327-374): 3 epochs of SGD on the even-parity train
    * split, validation IoU on the odd-parity holdout after every epoch,
    * best-IoU checkpointing (`if max_score < valid_logs['iou_score']:
    * torch.save`), and the hard-coded lr drop (epoch 2 here, mirroring
    * the reference's epoch-25 -> 1e-5). Output: the per-epoch ledger
    * (loss, val IoU, lr, checkpointed flag) plus every weight of the
    * returned BEST checkpoint. The oracle replays all three epochs'
    * forward/backprop/update on the train subset, all three validation
    * forwards + convert_pred argmax + macro IoU on the holdout, the
    * strictly-greater running-max flags, and the best-epoch weight
    * selection — to the bit. */
  def qTrainCheckpoint(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    import spark.implicits._
    val masks = spark.createDataset(GridImages.maskImages(1).toSeq)(
      Encoders.product[ImageRow])
    val chips = ConvNet.collectChipsLabeled(gridImages(spark, 1, 2), masks,
      chipSize = 16, includeZero = true)
    val (best, logs) = ConvTrain.trainSegCheckpoint(chips, ConvNet.fixtureNet,
      epochs = 3, ConvTrain.Sgd(math.pow(2.0, -25)), lrDropEpoch = 2,
      lrDropTo = math.pow(2.0, -26))
    val logRows = logs.flatMap { l =>
      Seq(("loss", l.epoch, 0, l.loss), ("iou", l.epoch, 0, l.valIou),
        ("lr", l.epoch, 0, l.lr),
        ("ckpt", l.epoch, 0, if (l.checkpointed) 1.0 else 0.0))
    }
    val wRows = netRows(best)
    (logRows ++ wRows).toDF("kind", "li", "idx", "v")
  }

  /** Validation IoU CTEs for epoch `e` of the checkpoint oracle: pv_v$e
    * pivots s2_v$e into the convert_pred label (channel 1 wins ties =
    * highest index, label = classes(best) in {1,2}); iou_v$e folds the
    * per-class (inter, n_pred, n_mask) counts over the holdout pixels
    * into the macro-averaged score. */
  private def ckptIouSql(e: Int): String =
    s"""pv_v$e AS MATERIALIZED (
       |  SELECT cx, cy, lx, ly,
       |    CASE WHEN max(CASE WHEN oc2 = 1 THEN sv END)
       |          >= max(CASE WHEN oc2 = 0 THEN sv END)
       |         THEN 2 ELSE 1 END AS pv
       |  FROM s2_v$e GROUP BY 1, 2, 3, 4),
       |iou_v$e AS MATERIALIZED (
       |  SELECT avg(CASE WHEN n_pred + n_mask - inter = 0 THEN 1.0
       |                  ELSE CAST(inter AS DOUBLE)/(n_pred + n_mask - inter)
       |             END) AS iou
       |  FROM (
       |    SELECT t.c,
       |      sum(CASE WHEN p.pv = t.c AND m.mv = t.c THEN 1 ELSE 0 END) AS inter,
       |      sum(CASE WHEN p.pv = t.c THEN 1 ELSE 0 END) AS n_pred,
       |      sum(CASE WHEN m.mv = t.c THEN 1 ELSE 0 END) AS n_mask
       |    FROM pv_v$e p JOIN mvh m ON m.cx = p.cx AND m.cy = p.cy
       |      AND m.lx = p.lx AND m.ly = p.ly,
       |      (VALUES (1), (2)) t(c)
       |    GROUP BY t.c))""".stripMargin

  val qTrainCheckpointSql: String = {
    def wts(be: Int): String =
      s"""SELECT $be AS be, 'w' AS kind, 0 AS li,
         |  ((oc*2 + ic)*3 + dy+1)*3 + dx+1 AS idx, wt AS v FROM w1_c$be
         |UNION ALL SELECT $be, 'b', 0, oc, bt FROM b1_c$be
         |UNION ALL SELECT $be, 'w', 1, oc2*3 + ic, wt FROM w2_c$be
         |UNION ALL SELECT $be, 'b', 1, oc2, bt FROM b2_c$be""".stripMargin
    s"""WITH ${sgdPreambleSql(paritySplit = true)},
       |mvh AS (
       |  SELECT DISTINCT cx, cy, lx, ly,
       |    CASE WHEN ((cx+lx) // 16 + (cy+ly) // 12) % 4 = 0
       |         THEN ((cx+lx) // 8 + (cy+ly) // 6) % 3 + 1 ELSE 0 END AS mv
       |  FROM cpxh),
       |${trainEpochSql(0, "33554432", "cpxt", "c")},
       |${trainEpochSql(1, "33554432", "cpxt", "c")},
       |${trainEpochSql(2, "67108864", "cpxt", "c")},
       |${sgdFwdSql("v0", "c1", "cpxh")},
       |${ckptIouSql(0)},
       |${sgdFwdSql("v1", "c2", "cpxh")},
       |${ckptIouSql(1)},
       |${sgdFwdSql("v2", "c3", "cpxh")},
       |${ckptIouSql(2)},
       |scores AS MATERIALIZED (
       |  SELECT 0 AS e, iou FROM iou_v0
       |  UNION ALL SELECT 1, iou FROM iou_v1
       |  UNION ALL SELECT 2, iou FROM iou_v2),
       |led AS MATERIALIZED (
       |  SELECT e, iou,
       |    CASE WHEN iou > coalesce(max(iou) OVER (ORDER BY e
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |         THEN 1.0 ELSE 0.0 END AS ck
       |  FROM scores),
       |bsel AS MATERIALIZED (
       |  SELECT coalesce(max(CASE WHEN ck = 1.0 THEN e END) + 1, 3) AS be
       |  FROM led),
       |wall AS (
       |${wts(1)}
       |UNION ALL ${wts(2)}
       |UNION ALL ${wts(3)})
       |SELECT kind, CAST(li AS INT) AS li, CAST(idx AS INT) AS idx, v FROM (
       |  SELECT 'loss' AS kind, 0 AS li, 0 AS idx, l AS v FROM loss_c0
       |  UNION ALL SELECT 'loss', 1, 0, l FROM loss_c1
       |  UNION ALL SELECT 'loss', 2, 0, l FROM loss_c2
       |  UNION ALL SELECT 'iou', e, 0, iou FROM led
       |  UNION ALL SELECT 'lr', e, 0,
       |    CASE WHEN e < 2 THEN 1.0/33554432 ELSE 1.0/67108864 END FROM led
       |  UNION ALL SELECT 'ckpt', e, 0, ck FROM led
       |  UNION ALL SELECT w.kind, w.li, w.idx, w.v
       |  FROM wall w JOIN bsel ON w.be = bsel.be)""".stripMargin
  }

  /** q_augment — get_training_augmentation (convnet.py:233-242):
    * HorizontalFlip(p=1) -> VerticalFlip(p=1) -> RandomRotate90 with the
    * deterministic lattice k -> PadIfNeeded(20, 20, reflect-101), over
    * the fixture chips, dumped per pixel (bands AND mask — they must
    * move together). The oracle replays the composed index permutation
    * (hflip then vflip is rot180, so the chain is rot90 by k+2) and the
    * reflect-101 border reads in closed form. */
  def qAugment(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    import spark.implicits._
    val masks = spark.createDataset(GridImages.maskImages(1).toSeq)(
      Encoders.product[ImageRow])
    val chips = ConvNet.collectChipsLabeled(gridImages(spark, 1, 2), masks,
      chipSize = 16, includeZero = true)
    Augment.trainingAugmentation(chips, minSize = 20).flatMap { ch =>
      val planes = ch.bands.zipWithIndex.map { case (b, i) => (s"b$i", b) } :+
        (("m", ch.mask))
      planes.iterator.flatMap { case (pl, arr) =>
        (0 until ch.w * ch.h).iterator.map { p =>
          (ch.cx, ch.cy, pl, p % ch.w, p / ch.w, arr(p).toDouble)
        }
      }
    }.toDF("cx", "cy", "plane", "x", "y", "v")
  }

  val qAugmentSql: String =
    s"""WITH cells AS (
       |  SELECT bx*16 AS cx, by*16 AS cy, (bx + by + 2) % 4 AS kk
       |  FROM generate_series(0, 4) a(bx), generate_series(0, 2) b(by)),
       |pos AS (
       |  SELECT cx, cy, kk, x, y,
       |    CASE WHEN x < 2 THEN 2 - x WHEN x >= 18 THEN 32 - x
       |         ELSE x - 2 END AS rx,
       |    CASE WHEN y < 2 THEN 2 - y WHEN y >= 18 THEN 32 - y
       |         ELSE y - 2 END AS ry
       |  FROM cells, generate_series(0, 19) gx(x), generate_series(0, 19) gy(y)),
       |src AS (
       |  SELECT cx, cy, x, y,
       |    cx + CASE kk WHEN 0 THEN rx WHEN 1 THEN 15 - ry
       |                 WHEN 2 THEN 15 - rx ELSE ry END AS gx,
       |    cy + CASE kk WHEN 0 THEN ry WHEN 1 THEN rx
       |                 WHEN 2 THEN 15 - ry ELSE 15 - rx END AS gy
       |  FROM pos)
       |SELECT CAST(cx AS INT) AS cx, CAST(cy AS INT) AS cy, plane,
       |  CAST(x AS INT) AS x, CAST(y AS INT) AS y, v FROM (
       |  SELECT s.cx, s.cy, 'b' || b AS plane, s.x, s.y,
       |    CAST((s.gx*7 + s.gy*13 + b*31) % 97 AS DOUBLE) AS v
       |  FROM src s, generate_series(0, 1) t(b)
       |  UNION ALL
       |  SELECT s.cx, s.cy, 'm', s.x, s.y,
       |    CASE WHEN (s.gx // 16 + s.gy // 12) % 4 = 0
       |         THEN CAST((s.gx // 8 + s.gy // 6) % 3 + 1 AS DOUBLE)
       |         ELSE CAST(0 AS DOUBLE) END
       |  FROM src s)""".stripMargin

  /** q_cv2norm — cv2norm (convnet.py:258-262): whole-image min-max
    * normalization to [0,1], ONE (mn, mx) over ALL bands jointly. The
    * divide runs in double and rounds once to float; the oracle replays
    * it with CAST(... AS FLOAT) — bit-exact on both engines. */
  def qCv2norm(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    import spark.implicits._
    Augment.cv2norm(clippedGridImages(spark, 3, 2,
      (i, b) => 3f * b + 2f * i, (i, b) => 90f - 7f * b - 5f * i)).flatMap { im =>
      val dec = graft.core.PixelCodec.decode(im.bytes, im.fmt, im.w, im.h)
      dec.bands.iterator.zipWithIndex.flatMap { case (b, bi) =>
        b.iterator.zipWithIndex.map { case (v, p) =>
          (im.image_id, bi, p % im.w, p / im.w, v.toDouble)
        }
      }
    }.toDF("image_id", "b", "x", "y", "v")
  }

  val qCv2normSql: String =
    s"""WITH ${GridImages.pxSql(3, 2)},
       |pc AS (SELECT i, image_id, b, x, y,
       |         least(greatest(v, 3*b + 2*i), 90 - 7*b - 5*i) AS v FROM px),
       |mm AS (SELECT i, min(v) AS mn, max(v) AS mx FROM pc GROUP BY i)
       |SELECT p.image_id, CAST(p.b AS INT) AS b,
       |  CAST(p.x AS INT) AS x, CAST(p.y AS INT) AS y,
       |  CAST(CAST(CASE WHEN m.mx = m.mn THEN 0
       |                 ELSE (p.v - m.mn) / (m.mx - m.mn) END AS FLOAT)
       |       AS DOUBLE) AS v
       |FROM pc p JOIN mm m ON m.i = p.i""".stripMargin

  /** q_cv2norm_tiles — the 100 TB shape of cv2norm: per-image (mn, mx)
    * from tile partials (the ONLY exchange — two doubles per image),
    * joined back onto the tiles (AQE broadcasts when the stats side
    * fits), rescaled in place. Tiles through
    * the REAL tiler; the oracle normalizes the regenerated pixels. */
  def qCv2normTiles(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    import spark.implicits._
    val tiles = Tiler.tiles(clippedGridImages(spark, 3, 1,
      (i, _) => 2f * i, (i, _) => 90f - 5f * i), 64,
      Tiler.resForCellSize(64.0))
    Augment.cv2normTiles(tiles).flatMap { t =>
      t.pixels.iterator.zipWithIndex.map { case (v, p) =>
        (t.image_id, t.tx * 64 + p % t.tw, t.ty * 64 + p / t.tw, v.toDouble)
      }
    }.toDF("image_id", "x", "y", "v")
  }

  val qCv2normTilesSql: String =
    s"""WITH ${GridImages.pxSql(3, 1)},
       |pc AS (SELECT i, image_id, x, y,
       |         least(greatest(v, 2*i), 90 - 5*i) AS v FROM px),
       |mm AS (SELECT i, min(v) AS mn, max(v) AS mx FROM pc GROUP BY i)
       |SELECT p.image_id, CAST(p.x AS INT) AS x, CAST(p.y AS INT) AS y,
       |  CAST(CAST(CASE WHEN m.mx = m.mn THEN 0
       |                 ELSE (p.v - m.mn) / (m.mx - m.mn) END AS FLOAT)
       |       AS DOUBLE) AS v
       |FROM pc p JOIN mm m ON m.i = p.i""".stripMargin

  /** q_gif — multiband2gif (raster.py:2665-2726): one animated-GIF frame
    * per band, each band rescaled to uint8 with skimage
    * rescale_intensity semantics. The query runs the REAL operator —
    * encode through the JDK GIF plugin — then DECODES the binary back
    * and emits every frame pixel, so a row only matches if the GIF is a
    * genuinely decodable, lossless container; the oracle replays the
    * rescale arithmetic on the regenerated pixel relation
    * (floor(((v - mn) / (mx - mn)) * 255), frame b = band b). */
  def qGif(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    import spark.implicits._
    Gif.multibandGif(clippedGridImages(spark, 3, 2,
      (i, b) => 3f * b + 2f * i, (i, b) => 90f - 7f * b - 5f * i))
      .as[(String, Array[Byte], Int, Int, Int)]
      .flatMap { case (id, gif, _, _, _) =>
        val (frames, w, _) = Gif.decodeFrames(gif)
        frames.iterator.zipWithIndex.flatMap { case (f, b) =>
          f.iterator.zipWithIndex.map { case (v, p) =>
            (id, b, p % w, p / w, v.toDouble)
          }
        }
      }.toDF("image_id", "b", "x", "y", "v")
  }

  val qGifSql: String =
    s"""WITH ${GridImages.pxSql(3, 2)},
       |pc AS (SELECT i, image_id, b, x, y,
       |         least(greatest(v, 3*b + 2*i), 90 - 7*b - 5*i) AS v FROM px),
       |mm AS (SELECT i, b, min(v) AS mn, max(v) AS mx FROM pc GROUP BY i, b)
       |SELECT p.image_id, CAST(p.b AS INT) AS b,
       |  CAST(p.x AS INT) AS x, CAST(p.y AS INT) AS y,
       |  CAST(CASE WHEN m.mx = m.mn
       |            THEN floor(least(greatest(p.v, 0), 255))
       |            ELSE floor(((p.v - m.mn) / (m.mx - m.mn)) * 255) END
       |       AS DOUBLE) AS v
       |FROM pc p JOIN mm m ON m.i = p.i AND m.b = p.b""".stripMargin

  /** q_iou_seg — the engine's per-(image, class) validation IoU for the
    * reference's iou_score loop (convnet.py:365-374): intersection,
    * predicted and mask counts, union and IoU of the fixture net's
    * whole-image ARGMAX predictions against the mask rasters. (The
    * reference's own metric is smp's micro thresholded IoU — the
    * faithful form is ConvTrain.iouChipsSmp; the per-class argmax form
    * here is the engine's documented checkpoint metric, see
    * ConvTrain.iouChips.) The oracle replays the full forward pass
    * (shared CTEs with q_cnn_seg) plus the count fold. */
  def qIouSeg(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val masks = spark.createDataset(GridImages.maskImages(2).toSeq)(
      Encoders.product[ImageRow])
    val pred = ConvNet.segPredict(gridImages(spark, 2, 2), ConvNet.fixtureNet)
    Augment.iouSeg(pred, masks, Array(1, 2))
  }

  val qIouSegSql: String =
    s"""WITH ${GridImages.pxSql(2, 2)},
       |$cnnWeightSql,
       |$cnnSegClsSql,
       |${GridImages.maskSql(2)},
       |cnt AS (
       |  SELECT p.i, t.c,
       |    sum(CASE WHEN p.cls = t.c AND m.mv = t.c THEN 1 ELSE 0 END) AS inter,
       |    sum(CASE WHEN p.cls = t.c THEN 1 ELSE 0 END) AS n_pred,
       |    sum(CASE WHEN m.mv = t.c THEN 1 ELSE 0 END) AS n_mask
       |  FROM cls p JOIN mpx m ON m.i = p.i AND m.x = p.x AND m.y = p.y,
       |       (VALUES (1), (2)) t(c)
       |  GROUP BY 1, 2)
       |SELECT printf('g%03d', i) AS image_id, CAST(c AS INT) AS cls,
       |  CAST(inter AS BIGINT) AS inter, CAST(n_pred AS BIGINT) AS n_pred,
       |  CAST(n_mask AS BIGINT) AS n_mask,
       |  CAST(n_pred + n_mask - inter AS BIGINT) AS uni,
       |  CASE WHEN n_pred + n_mask - inter = 0 THEN 1.0
       |       ELSE CAST(inter AS DOUBLE) / (n_pred + n_mask - inter)
       |  END AS iou
       |FROM cnt""".stripMargin

  /** q_maskblock — maskblock (convutils.py:731-799): every 16x16 block
    * with any nonzero mask pixel becomes all ones; per-image one-count
    * and hit-block count. */
  def qMaskBlock(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    import spark.implicits._
    val masks = spark.createDataset(GridImages.maskImages(8).toSeq)(
      Encoders.product[ImageRow])
    ConvNet.maskBlock(masks, blockSize = 16).map { im =>
      val dec = graft.core.PixelCodec.decode(im.bytes, im.fmt, im.w, im.h)
      (im.image_id, dec.bands(0).count(_ == 1f).toLong)
    }.toDF("image_id", "ones")
  }

  val qMaskBlockSql: String =
    s"""WITH ${GridImages.maskSql(8)},
       |blk AS (
       |  SELECT i, x // 16 AS bx, y // 16 AS by,
       |    max(mv) AS mx, count(*) AS npx
       |  FROM mpx GROUP BY 1, 2, 3)
       |SELECT printf('g%03d', i) AS image_id,
       |  CAST(coalesce(sum(CASE WHEN mx > 0 THEN npx END), 0) AS BIGINT) AS ones
       |FROM blk GROUP BY 1""".stripMargin

  /** q_thresh_seg — thresh_seg (shape.py:2246-2410): per-polygon Otsu
    * segmentation with hole filling and small-object removal. The
    * fixture plants a 1-px hole (filled: final segment = FULL blob
    * rect) and 1-px / 2-px specks (removed), all closed-form; Otsu over
    * each window's {10, 90} values is provably 10. */
  def qThreshSeg(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val imgs = spark.createDataset(GridImages.threshImages(6).toSeq)(
      Encoders.product[ImageRow])
    val polys = spark.createDataset((0 until 6).flatMap { i =>
      Seq(GridImages.pixelRectPoly(i.toLong, 2L * i, GridImages.snakePolyA(i.toLong)),
        GridImages.pixelRectPoly(i.toLong, 2L * i + 1, GridImages.threshPolyD(i.toLong)))
    })(Encoders.product[PolyRow])
    ThreshSeg.threshSeg(imgs, polys, minArea = 4.0)
      .groupBy("image_id", "poly_id")
      .agg(max("thr").as("thr"), count(lit(1)).as("n"),
        sum(col("x") * 31 + col("y") * 7).as("sx"))
  }

  val qThreshSegSql: String =
    s"""WITH ${GridImages.snakeRectSql(6)},
       |g AS (SELECT gx.x, gy.y
       |      FROM generate_series(0, 79) gx(x), generate_series(0, 47) gy(y)),
       |seg AS (
       |  SELECT i, 2*i AS poly_id, x, y FROM sr, g
       |  WHERE x BETWEEN s_x0 AND s_x1 AND y BETWEEN s_y0 AND s_y1
       |  UNION ALL
       |  SELECT i, 2*i + 1, x, y FROM sr, g
       |  WHERE x BETWEEN t_x0 AND t_x1 AND y BETWEEN t_y0 AND t_y1)
       |SELECT printf('g%03d', i) AS image_id, CAST(poly_id AS BIGINT) AS poly_id,
       |  CAST(10 AS DOUBLE) AS thr, count(*) AS n,
       |  CAST(sum(x*31 + y*7) AS BIGINT) AS sx
       |FROM seg GROUP BY 1, 2""".stripMargin

  // ---- mesh / extent / annotation-bbox family (shape.py) ----

  /** q_extent — extent2poly / rasterext2poly: per-raster world-extent
    * rectangle (pure column math; the oracle recomputes from the
    * placement formula). */
  def qExtent(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    Mesh.extentPoly(gridImages(spark, 10, 1))
  }

  val qExtentSql: String =
    """SELECT printf('g%03d', i) AS image_id,
      |  CAST((i % 8) * 256 AS DOUBLE) AS x0,
      |  CAST((i // 8) * 256 - 48 AS DOUBLE) AS y0,
      |  CAST((i % 8) * 256 + 80 AS DOUBLE) AS x1,
      |  CAST((i // 8) * 256 AS DOUBLE) AS y1
      |FROM generate_series(0, 9) t(i)""".stripMargin

  /** q_pixel_bbox — geom2pixelbbox: the object-detection annotation
    * table (per-feature pixel bboxes, truncated toward zero). Snake
    * polys over their own images: the 0.25-margin world rects truncate
    * back to the exact pixel rect corners. */
  def qPixelBbox(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val imgs = spark.createDataset(GridImages.snakeImages(6).toSeq)(
      Encoders.product[ImageRow])
    val polys = spark.createDataset(GridImages.snakePolys(6).toSeq)(
      Encoders.product[PolyRow])
    Mesh.geomToPixelBBox(polys, imgs, label = "Tree")
  }

  val qPixelBboxSql: String =
    s"""WITH ${GridImages.snakeRectSql(6)}
       |SELECT printf('g%03d', i) AS image_id, CAST(i * 3 + k AS BIGINT) AS poly_id,
       |  CAST(CASE k WHEN 0 THEN a_x0 WHEN 1 THEN b_x0 ELSE c_x0 END AS INT) AS xmin,
       |  CAST(CASE k WHEN 0 THEN a_y0 WHEN 1 THEN b_y0 ELSE c_y0 END AS INT) AS ymin,
       |  CAST(CASE k WHEN 0 THEN a_x1 WHEN 1 THEN b_x1 ELSE c_x1 END AS INT) AS xmax,
       |  CAST(CASE k WHEN 0 THEN a_y1 WHEN 1 THEN b_y1 ELSE c_y1 END AS INT) AS ymax,
       |  'Tree' AS label
       |FROM sr, generate_series(0, 2) tk(k)""".stripMargin

  /** q_mesh_px — mesh_from_raster: one world square per pixel, streamed
    * from tiles; per-image count + coordinate mass pin every cell. */
  def qMeshPx(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val cellRes = Tiler.resForCellSize(64.0)
    val tiles = Tiler.tiles(gridImages(spark, 4, 1), 64, cellRes)
    Mesh.meshFromRaster(tiles)
      .groupBy("image_id")
      .agg(count(lit(1)).as("n"),
        round(sum(col("wx0") + col("wy1")), 2).as("mass"))
  }

  val qMeshPxSql: String =
    s"""SELECT printf('g%03d', i) AS image_id, count(*) AS n,
       |  round(sum(((i % 8) * 256 + x) + ((i // 8) * 256 - y)), 2) AS mass
       |FROM generate_series(0, 3) t(i), generate_series(0, 79) tx(x),
       |     generate_series(0, 47) ty(y)
       |GROUP BY 1""".stripMargin

  /** q_meshgrid — meshgrid: moment-oriented fishnet with the
    * reference's quirks reproduced (square gridHeight-sided cells from
    * the swap bug; cells spun in place). Corner sums are invariant
    * under the spin (sum of 4 corners = 4x the cell center), so the
    * oracle needs NO trig: even i (orientation 0) grids the rect
    * itself, odd i (orientation pi/2) grids the bounds swapped about
    * the center. */
  def qMeshGrid(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val imgs = spark.createDataset(GridImages.meshImages(8).toSeq)(
      Encoders.product[ImageRow])
    Mesh.meshGridImages(imgs, gridHeight = 4.5, gridWidth = 99.0)
      .groupBy("image_id")
      .agg(count(lit(1)).as("n_cells"),
        round(sum(col("xa") + col("xb") + col("xc") + col("xd")), 4).as("sx"),
        round(sum(col("ya") + col("yb") + col("yc") + col("yd")), 4).as("sy"))
  }

  val qMeshGridSql: String =
    s"""WITH ${GridImages.meshRectSql(8)},
       |frame AS (
       |  -- world-coord grid frame: even i = the bright rect's pixel-edge
       |  -- bounds; odd i = those bounds swapped about the rect center
       |  SELECT i,
       |    (i % 8) * 256 + (m_x0 + m_x1 + 1) / 2.0 AS ccx,
       |    (i // 8) * 256 - (m_y0 + m_y1 + 1) / 2.0 AS ccy,
       |    CASE WHEN i % 2 = 0 THEN m_x1 - m_x0 + 1.0
       |         ELSE m_y1 - m_y0 + 1.0 END AS fw,
       |    CASE WHEN i % 2 = 0 THEN m_y1 - m_y0 + 1.0
       |         ELSE m_x1 - m_x0 + 1.0 END AS fh
       |  FROM mr),
       |grid AS (
       |  SELECT i, ccx, ccy, fw, fh,
       |    CAST(ceil(fw / 4.5) AS INT) AS cols,
       |    CAST(ceil(fh / 4.5) AS INT) AS rows
       |  FROM frame),
       |cells AS (
       |  SELECT g.i, ci, rj,
       |    (g.ccx - g.fw / 2) + ci * 4.5 + 2.25 AS mx,
       |    (g.ccy + g.fh / 2) - rj * 4.5 - 2.25 AS my
       |  FROM grid g, generate_series(0, 99) a(ci), generate_series(0, 99) b(rj)
       |  WHERE ci < g.cols AND rj < g.rows)
       |SELECT printf('g%03d', i) AS image_id, count(*) AS n_cells,
       |  round(sum(4 * mx), 4) AS sx, round(sum(4 * my), 4) AS sy
       |FROM cells GROUP BY 1""".stripMargin

  /** q_rag — ragmerge (utilities.py:842-887): distributed RAG build +
    * exact hierarchical merge. Even i: the recomputed (AB)-C
    * count-weighted mean stays below thresh, everything merges to label
    * 1; odd i: the bottom region survives as label 3. The oracle
    * enumerates the closed-form final partition. */
  def qRag(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val segs = spark.createDataset(GridImages.ragSegImages(6).toSeq)(
      Encoders.product[ImageRow])
    val imgs = spark.createDataset(GridImages.ragImages(6).toSeq)(
      Encoders.product[ImageRow])
    Rag.ragMerge(segs, imgs, band = 0, thresh = 100.0)
      .groupBy("image_id", "label")
      .agg(count(lit(1)).as("n"), sum(col("x") * 31 + col("y") * 7).as("sx"))
  }

  val qRagSql: String =
    s"""WITH px AS (
       |  SELECT i, x, y,
       |    CASE WHEN i % 2 = 0 OR y < 24 + 2 * (i % 3) THEN 1 ELSE 3 END AS label
       |  FROM generate_series(0, 5) t(i), generate_series(0, 79) tx(x),
       |       generate_series(0, 47) ty(y))
       |SELECT printf('g%03d', i) AS image_id, CAST(label AS BIGINT) AS label,
       |  count(*) AS n, CAST(sum(x*31 + y*7) AS BIGINT) AS sx
       |FROM px GROUP BY 1, 2""".stripMargin

  /** q_toposnake — ms_toposnakes (utilities.py:397-525): topology-
    * preserving whole-image ACWE. On the stationary blob fixture the
    * evolution is a fixed point and the background skeleton is disjoint
    * from the blobs, so the labeled components are exactly the two
    * rectangles (comp 1 = blob1, first in scan order). The merge-
    * prevention dynamics are spec-pinned (TopoSnakesSpec: growing seeds
    * stay separate with the skeleton barrier, merge without it). */
  def qTopoSnake(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val segs = spark.createDataset(GridImages.snakeSegImages(6).toSeq)(
      Encoders.product[ImageRow])
    val imgs = spark.createDataset(GridImages.snakeImages(6).toSeq)(
      Encoders.product[ImageRow])
    // smoothing = 0: the per-loop 1-iteration calls reset the curvop
    // phase (faithful to the reference's mcv(iterations=1) loop), and
    // repeated same-phase curvop erodes rect corners — with no curvop
    // the blob fixture is a strict ACWE fixed point, closed-form.
    TopoSnakes.topoSnakes(segs, imgs, iterations = 5, smoothing = 0)
      .groupBy("image_id", "comp")
      .agg(count(lit(1)).as("n"), sum(col("x") * 31 + col("y") * 7).as("sx"))
  }

  val qTopoSnakeSql: String =
    s"""WITH ${GridImages.snakeRectSql(6)},
       |g AS (SELECT gx.x, gy.y
       |      FROM generate_series(0, 79) gx(x), generate_series(0, 47) gy(y)),
       |cpx AS (
       |  SELECT i, 1 AS comp, x, y FROM sr, g
       |  WHERE x BETWEEN s_x0 AND s_x1 AND y BETWEEN s_y0 AND s_y1
       |  UNION ALL
       |  SELECT i, 2, x, y FROM sr, g
       |  WHERE x BETWEEN t_x0 AND t_x1 AND y BETWEEN t_y0 AND t_y1)
       |SELECT printf('g%03d', i) AS image_id, CAST(comp AS INT) AS comp,
       |  count(*) AS n, CAST(sum(x*31 + y*7) AS BIGINT) AS sx
       |FROM cpx GROUP BY 1, 2""".stripMargin

  /** q_toposeg — ms_toposeg (utilities.py:527-795): SELF-SEEDING
    * topology-preserving segmentation. On the zero-background blob
    * fixture: every blob pixel is a plateau peak, square(3) dilation
    * adds a ring of zeros, and the first ACWE step sheds exactly that
    * ring (c1 > 0, c0 = 0) — final components are the blob rectangles,
    * the same closed form as q_toposnake. */
  def qTopoSeg(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val imgs = spark.createDataset(GridImages.snakeZeroImages(6).toSeq)(
      Encoders.product[ImageRow])
    TopoSnakes.topoSeg(imgs, dist = 3, se = 3, iterations = 4, smoothing = 0)
      .groupBy("image_id", "comp")
      .agg(count(lit(1)).as("n"), sum(col("x") * 31 + col("y") * 7).as("sx"))
  }

  val qTopoSegSql: String = qTopoSnakeSql

  /** q_fill_nodata — fill_nodata (raster.py:2051-2088): 8-direction IDW
    * interpolation of nodata pixels. The hole lattice keeps every
    * 8-neighborhood valid, so each fill is exactly the neighbor mean —
    * closed-form. */
  def qFillNodata(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    import spark.implicits._
    val imgs = spark.createDataset(GridImages.holeImages(6).toSeq)(
      Encoders.product[ImageRow])
    ImageOps.fillNodata(imgs, GridImages.HoleNodata, maxSearchDist = 3)
      .map { im =>
        val dec = graft.core.PixelCodec.decode(im.bytes, im.fmt, im.w, im.h)
        (im.image_id, dec.bands(0).map(_.toDouble).sum)
      }.toDF("image_id", "total")
      .select(col("image_id"), round(col("total"), 2).as("total"))
  }

  val qFillNodataSql: String =
    s"""WITH gpx AS (
       |  SELECT i, x, y, CAST((x*7 + y*13 + i*17) % 97 AS DOUBLE) AS v,
       |    (x % 7 = 3 AND y % 5 = 2 AND y <= 42) AS hole
       |  FROM generate_series(0, 5) t(i), generate_series(0, 79) tx(x),
       |       generate_series(0, 47) ty(y)),
       |fills AS (
       |  SELECT h.i, h.x, h.y, sum(p.v) / count(*) AS fv
       |  FROM gpx h JOIN gpx p ON p.i = h.i
       |    AND p.x BETWEEN h.x - 1 AND h.x + 1
       |    AND p.y BETWEEN h.y - 1 AND h.y + 1
       |    AND NOT (p.x = h.x AND p.y = h.y)
       |  WHERE h.hole GROUP BY 1, 2, 3)
       |SELECT printf('g%03d', g.i) AS image_id,
       |  round(sum(CASE WHEN g.hole THEN 0 ELSE g.v END) + any_value(fs.s), 2)
       |    AS total
       |FROM gpx g JOIN (SELECT i, sum(fv) AS s FROM fills GROUP BY 1) fs
       |  ON fs.i = g.i
       |GROUP BY g.i""".stripMargin

  /** q_warp — the batchwarp/_gdalwarp resampling core: nearest at 2x
    * downsample (source pixel containing each target center) and
    * bilinear at 2x upsample (quarter/three-quarter weights — exact
    * binary fractions, replayed bit-exactly). */
  def qWarp(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    import spark.implicits._
    val imgs = gridImages(spark, 4, 1)
    def total(algo: String, px: Double) =
      ImageOps.warpResample(imgs, px, algo).map { im =>
        val dec = graft.core.PixelCodec.decode(im.bytes, im.fmt, im.w, im.h)
        (im.image_id, algo, im.w, im.h, dec.bands(0).map(_.toDouble).sum)
      }.toDF("image_id", "algo", "w", "h", "total")
    total("near", 2.0).unionByName(total("bilinear", 0.5))
      .select(col("image_id"), col("algo"), col("w"), col("h"),
        round(col("total"), 2).as("total"))
  }

  val qWarpSql: String = {
    def v(x: String, y: String) = s"CAST((($x)*7 + ($y)*13 + i*17) % 97 AS DOUBLE)"
    val bx0 = "greatest(0, c // 2 - 1 + (c % 2))"
    val bx1 = "least(79, c // 2 + (c % 2))"
    val by0 = "greatest(0, r // 2 - 1 + (r % 2))"
    val by1 = "least(47, r // 2 + (r % 2))"
    val fx = "(0.75 - (c % 2) * 0.5)"
    val fy = "(0.75 - (r % 2) * 0.5)"
    s"""SELECT printf('g%03d', i) AS image_id, 'near' AS algo,
       |  CAST(40 AS INT) AS w, CAST(24 AS INT) AS h,
       |  round(sum(${v("2*c + 1", "2*r + 1")}), 2) AS total
       |FROM generate_series(0, 3) t(i), generate_series(0, 39) a(c),
       |     generate_series(0, 23) b(r)
       |GROUP BY 1
       |UNION ALL
       |SELECT printf('g%03d', i), 'bilinear', 160, 96,
       |  round(sum(
       |    (1 - $fx) * (1 - $fy) * ${v(bx0, by0)}
       |    + $fx * (1 - $fy) * ${v(bx1, by0)}
       |    + (1 - $fx) * $fy * ${v(bx0, by1)}
       |    + $fx * $fy * ${v(bx1, by1)}), 2)
       |FROM generate_series(0, 3) t(i), generate_series(0, 159) a(c),
       |     generate_series(0, 95) b(r)
       |GROUP BY 1""".stripMargin
  }

  /** q_phasecong — the phase-congruency core (do_phasecong's
    * `phasecong` stage, utilities.py:1086-1108; Kovesi's published
    * algorithm): M-map mass + positional checksum per image at
    * nscale=2, norient=2 over 16x16 fixtures. The oracle replays the
    * ENTIRE chain relationally — DFT as explicit trig sums, log-Gabor x
    * angular-spread filters, inverse DFT, Rayleigh noise threshold from
    * the interpolated median, phase-deviation energy, sigmoid frequency
    * weight, and the moment maximum. Transcendental drift between JVM
    * and DuckDB libm is ~1e-12 against a 5e-4 rounding margin. */
  def qPhasecong(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    import spark.implicits._
    val imgs = spark.createDataset(GridImages.pcImages(4).toSeq)(
      Encoders.product[ImageRow])
    imgs.flatMap { im =>
      val pix = graft.core.PixelCodec.decode(im.bytes, im.fmt, im.w, im.h).bands(0)
      val (m, _) = PhaseCong.phasecong(pix, im.w, im.h, nscale = 2, norient = 2)
      m.iterator.zipWithIndex.map { case (v, p) =>
        (im.image_id, v, v * ((p % im.w) * 31 + (p / im.w) * 7))
      }
    }.toDF("image_id", "m", "mp")
      .groupBy("image_id")
      .agg(round(sum("m"), 3).as("m_mass"), round(sum("mp"), 3).as("m_pos"))
  }

  val qPhasecongSql: String = {
    val sigTh = "(pi()/2/1.3)"     // sigmaTheta for norient=2
    val logSig2 = "(2*ln(0.55)*ln(0.55))"
    def f0(sc: Int) = if (sc == 0) "(1.0/3.0)" else "(1.0/(3.0*2.1))"
    s"""WITH img AS (
       |  SELECT i, x, y, CAST((x*7 + y*13 + i*17) % 97 AS DOUBLE) AS f
       |  FROM generate_series(0, 3) t(i), generate_series(0, 15) a(x),
       |       generate_series(0, 15) b(y)),
       |fq AS (
       |  SELECT u, v,
       |    (CASE WHEN u <= 8 THEN u ELSE u - 16 END) / 16.0 AS fu,
       |    (CASE WHEN v <= 8 THEN v ELSE v - 16 END) / 16.0 AS fv
       |  FROM generate_series(0, 15) a(u), generate_series(0, 15) b(v)),
       |ft AS (
       |  SELECT i, u, v,
       |    sum(f * cos(-2*pi()*(u*x + v*y)/16.0)) AS fr,
       |    sum(f * sin(-2*pi()*(u*x + v*y)/16.0)) AS fi
       |  FROM img CROSS JOIN fq
       |  GROUP BY 1, 2, 3),
       |flt AS (
       |  SELECT q.u, q.v, s, o,
       |    CASE WHEN q.u = 0 AND q.v = 0 THEN 0.0 ELSE
       |      exp(-pow(ln(sqrt(fu*fu + fv*fv) /
       |            (CASE WHEN s = 0 THEN ${f0(0)} ELSE ${f0(1)} END)), 2)
       |          / $logSig2)
       |      * (1.0/(1.0 + pow(sqrt(fu*fu + fv*fv)/0.45, 30.0)))
       |      * exp(-pow(abs(atan2(sin(atan2(-fv, fu) - o*pi()/2),
       |                           cos(atan2(-fv, fu) - o*pi()/2))), 2)
       |            / (2*$sigTh*$sigTh)) END AS hf
       |  FROM fq q, generate_series(0, 1) ts(s), generate_series(0, 1) tb(o)),
       |eo AS (
       |  SELECT ft.i, flt.s, flt.o, px.x, px.y,
       |    sum((fr*hf) * cos(2*pi()*(ft.u*px.x + ft.v*px.y)/16.0)
       |      - (fi*hf) * sin(2*pi()*(ft.u*px.x + ft.v*px.y)/16.0)) / 256.0 AS e,
       |    sum((fr*hf) * sin(2*pi()*(ft.u*px.x + ft.v*px.y)/16.0)
       |      + (fi*hf) * cos(2*pi()*(ft.u*px.x + ft.v*px.y)/16.0)) / 256.0 AS od
       |  FROM ft JOIN flt ON ft.u = flt.u AND ft.v = flt.v
       |  CROSS JOIN (SELECT a.x, b.y FROM generate_series(0, 15) a(x),
       |              generate_series(0, 15) b(y)) px
       |  GROUP BY 1, 2, 3, 4, 5),
       |orient AS (
       |  SELECT i, o, x, y,
       |    sum(e) AS sume, sum(od) AS sumo,
       |    sum(sqrt(e*e + od*od)) AS suman,
       |    max(sqrt(e*e + od*od)) AS maxan,
       |    sum(CASE WHEN s = 0 THEN sqrt(e*e + od*od) END) AS an0
       |  FROM eo GROUP BY 1, 2, 3, 4),
       |tau AS (
       |  SELECT i, o, quantile_cont(an0, 0.5) / sqrt(ln(4)) AS tau
       |  FROM orient GROUP BY 1, 2),
       |nt AS (
       |  SELECT i, o,
       |    (tau * (1 - pow(1/2.1, 2)) / (1 - 1/2.1)) * (sqrt(pi()/2)
       |      + 2.0 * sqrt((4 - pi())/2)) / 1.7 AS t
       |  FROM tau),
       |mean AS (
       |  SELECT i, o, x, y, suman, maxan,
       |    sume / (sqrt(sume*sume + sumo*sumo) + 1e-4) AS me,
       |    sumo / (sqrt(sume*sume + sumo*sumo) + 1e-4) AS mo
       |  FROM orient),
       |dev AS (
       |  SELECT r.i, r.o, r.x, r.y, any_value(r.suman) AS suman,
       |    any_value(r.maxan) AS maxan,
       |    sum(eo.e * r.me + eo.od * r.mo
       |        - abs(eo.e * r.mo - eo.od * r.me)) AS energy
       |  FROM mean r JOIN eo ON eo.i = r.i AND eo.o = r.o
       |    AND eo.x = r.x AND eo.y = r.y
       |  GROUP BY 1, 2, 3, 4),
       |pc AS (
       |  SELECT d.i, d.o, d.x, d.y,
       |    (1.0 / (1 + exp(10 * (0.5 - (d.suman / (d.maxan + 1e-4) - 1)))))
       |    * greatest(d.energy - nt.t, 0) / (d.suman + 1e-4) AS pcv
       |  FROM dev d JOIN nt ON nt.i = d.i AND nt.o = d.o),
       |mm AS (
       |  SELECT i, x, y,
       |    max(CASE WHEN o = 0 THEN pcv*pcv END) AS cx2,
       |    max(CASE WHEN o = 1 THEN pcv*pcv END) AS cy2
       |  FROM pc GROUP BY 1, 2, 3),
       |mfin AS (
       |  SELECT i, x, y,
       |    (cy2 + cx2 + sqrt((cx2 - cy2)*(cx2 - cy2)) + 1e-4) / 2 AS m
       |  FROM mm)
       |SELECT printf('g%03d', i) AS image_id,
       |  round(sum(m), 3) AS m_mass,
       |  round(sum(m * (x*31 + y*7)), 3) AS m_pos
       |FROM mfin GROUP BY 1""".stripMargin
  }

  /** q_phasecong_tiled — the big-raster overlap-save path
    * (PhaseCong.phaseCongTiles): 16x16 fixtures tiled at tileSize=8
    * with halo=4, so every core tile's M map is computed from its own
    * 12x12 haloed window (padded to 16x16) with a per-window Rayleigh
    * noise threshold. The oracle replays the per-tile chain — four
    * windowed DFTs per image, each with its own tau — and quantizes M
    * to REAL exactly where the engine's TileRow payload does, so the
    * float roundings cancel instead of accumulating against the margin. */
  def qPhasecongTiled(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    import spark.implicits._
    val imgs = spark.createDataset(GridImages.pcImages(4).toSeq)(
      Encoders.product[ImageRow])
    val tiles = Tiler.multiTiles(imgs, tileSize = 8,
      cellRes = Tiler.resForCellSize(64.0), halo = 4)
    PhaseCong.phaseCongTiles(tiles, tileSize = 8, halo = 4,
        nscale = 2, norient = 2)
      .filter(col("band") === 0).as[graft.TileRow]
      .flatMap { t =>
        t.pixels.iterator.zipWithIndex.map { case (v, p) =>
          val gx = t.tx * 8 + p % t.tw
          val gy = t.ty * 8 + p / t.tw
          (t.image_id, v.toDouble, v.toDouble * (gx * 31 + gy * 7))
        }
      }.toDF("image_id", "m", "mp")
      .groupBy("image_id")
      .agg(round(sum("m"), 3).as("m_mass"), round(sum("mp"), 3).as("m_pos"))
  }

  val qPhasecongTiledSql: String = {
    val sigTh = "(pi()/2/1.3)"     // sigmaTheta for norient=2
    val logSig2 = "(2*ln(0.55)*ln(0.55))"
    s"""WITH win AS (
       |  SELECT i, tx, ty, greatest(0, tx*8 - 4) AS hx0,
       |    greatest(0, ty*8 - 4) AS hy0
       |  FROM generate_series(0, 3) t(i), generate_series(0, 1) a(tx),
       |       generate_series(0, 1) b(ty)),
       |img AS (
       |  -- 12x12 haloed window padded to 16x16 with reflect-101
       |  -- (mirror about sample 11, edge not repeated) — the engine's
       |  -- pow2 padding for non-pow2 windows
       |  SELECT i, tx, ty, lx, ly,
       |    CAST(((hx0 + CASE WHEN lx < 12 THEN lx ELSE 22 - lx END)*7
       |        + (hy0 + CASE WHEN ly < 12 THEN ly ELSE 22 - ly END)*13
       |        + i*17) % 97 AS DOUBLE) AS f
       |  FROM win, generate_series(0, 15) c(lx), generate_series(0, 15) d(ly)),
       |fq AS (
       |  SELECT u, v,
       |    (CASE WHEN u <= 8 THEN u ELSE u - 16 END) / 16.0 AS fu,
       |    (CASE WHEN v <= 8 THEN v ELSE v - 16 END) / 16.0 AS fv
       |  FROM generate_series(0, 15) a(u), generate_series(0, 15) b(v)),
       |ft AS (
       |  SELECT i, tx, ty, u, v,
       |    sum(f * cos(-2*pi()*(u*lx + v*ly)/16.0)) AS fr,
       |    sum(f * sin(-2*pi()*(u*lx + v*ly)/16.0)) AS fi
       |  FROM img CROSS JOIN fq
       |  GROUP BY 1, 2, 3, 4, 5),
       |flt AS (
       |  SELECT q.u, q.v, s, o,
       |    CASE WHEN q.u = 0 AND q.v = 0 THEN 0.0 ELSE
       |      exp(-pow(ln(sqrt(fu*fu + fv*fv) /
       |            (CASE WHEN s = 0 THEN (1.0/3.0) ELSE (1.0/(3.0*2.1)) END)), 2)
       |          / $logSig2)
       |      * (1.0/(1.0 + pow(sqrt(fu*fu + fv*fv)/0.45, 30.0)))
       |      * exp(-pow(abs(atan2(sin(atan2(-fv, fu) - o*pi()/2),
       |                           cos(atan2(-fv, fu) - o*pi()/2))), 2)
       |            / (2*$sigTh*$sigTh)) END AS hf
       |  FROM fq q, generate_series(0, 1) ts(s), generate_series(0, 1) tb(o)),
       |eo AS (
       |  SELECT ft.i, ft.tx, ft.ty, flt.s, flt.o, px.lx, px.ly,
       |    sum((fr*hf) * cos(2*pi()*(ft.u*px.lx + ft.v*px.ly)/16.0)
       |      - (fi*hf) * sin(2*pi()*(ft.u*px.lx + ft.v*px.ly)/16.0)) / 256.0 AS e,
       |    sum((fr*hf) * sin(2*pi()*(ft.u*px.lx + ft.v*px.ly)/16.0)
       |      + (fi*hf) * cos(2*pi()*(ft.u*px.lx + ft.v*px.ly)/16.0)) / 256.0 AS od
       |  FROM ft JOIN flt ON ft.u = flt.u AND ft.v = flt.v
       |  CROSS JOIN (SELECT a.lx, b.ly FROM generate_series(0, 15) a(lx),
       |              generate_series(0, 15) b(ly)) px
       |  GROUP BY 1, 2, 3, 4, 5, 6, 7),
       |orient AS (
       |  SELECT i, tx, ty, o, lx, ly,
       |    sum(e) AS sume, sum(od) AS sumo,
       |    sum(sqrt(e*e + od*od)) AS suman,
       |    max(sqrt(e*e + od*od)) AS maxan,
       |    sum(CASE WHEN s = 0 THEN sqrt(e*e + od*od) END) AS an0
       |  FROM eo GROUP BY 1, 2, 3, 4, 5, 6),
       |tau AS (
       |  SELECT i, tx, ty, o, quantile_cont(an0, 0.5) / sqrt(ln(4)) AS tau
       |  FROM orient GROUP BY 1, 2, 3, 4),
       |nt AS (
       |  SELECT i, tx, ty, o,
       |    (tau * (1 - pow(1/2.1, 2)) / (1 - 1/2.1)) * (sqrt(pi()/2)
       |      + 2.0 * sqrt((4 - pi())/2)) / 1.7 AS t
       |  FROM tau),
       |mean AS (
       |  SELECT i, tx, ty, o, lx, ly, suman, maxan,
       |    sume / (sqrt(sume*sume + sumo*sumo) + 1e-4) AS me,
       |    sumo / (sqrt(sume*sume + sumo*sumo) + 1e-4) AS mo
       |  FROM orient),
       |dev AS (
       |  SELECT r.i, r.tx, r.ty, r.o, r.lx, r.ly,
       |    any_value(r.suman) AS suman, any_value(r.maxan) AS maxan,
       |    sum(eo.e * r.me + eo.od * r.mo
       |        - abs(eo.e * r.mo - eo.od * r.me)) AS energy
       |  FROM mean r JOIN eo ON eo.i = r.i AND eo.tx = r.tx
       |    AND eo.ty = r.ty AND eo.o = r.o AND eo.lx = r.lx AND eo.ly = r.ly
       |  GROUP BY 1, 2, 3, 4, 5, 6),
       |pc AS (
       |  SELECT d.i, d.tx, d.ty, d.o, d.lx, d.ly,
       |    (1.0 / (1 + exp(10 * (0.5 - (d.suman / (d.maxan + 1e-4) - 1)))))
       |    * greatest(d.energy - nt.t, 0) / (d.suman + 1e-4) AS pcv
       |  FROM dev d JOIN nt ON nt.i = d.i AND nt.tx = d.tx
       |    AND nt.ty = d.ty AND nt.o = d.o),
       |mm AS (
       |  SELECT i, tx, ty, lx, ly,
       |    max(CASE WHEN o = 0 THEN pcv*pcv END) AS cx2,
       |    max(CASE WHEN o = 1 THEN pcv*pcv END) AS cy2
       |  FROM pc GROUP BY 1, 2, 3, 4, 5),
       |mfin AS (
       |  SELECT i, tx, ty, lx, ly,
       |    CAST((cy2 + cx2 + sqrt((cx2 - cy2)*(cx2 - cy2)) + 1e-4) / 2
       |         AS REAL) AS m
       |  FROM mm
       |  WHERE lx >= tx*4 AND lx < tx*4 + 8
       |    AND ly >= ty*4 AND ly < ty*4 + 8)
       |SELECT printf('g%03d', i) AS image_id,
       |  round(sum(CAST(m AS DOUBLE)), 3) AS m_mass,
       |  round(sum(CAST(m AS DOUBLE)
       |            * ((tx*4 + lx)*31 + (ty*4 + ly)*7)), 3) AS m_pos
       |FROM mfin GROUP BY 1""".stripMargin
  }

}
