package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.core.{GeoScale, Geom, GridIndex, S2, Hex}
import graft.functions.SpatialFunctions._
import graft.gen.Synth

/** Column/expression forms must agree bit-for-bit with the Scala core —
  * and run through the CODEGEN path (dataframe eval), not just eval(). */
class SpatialFunctionsSpec extends AnyFunSuite with SeededProps {
  implicit lazy val spark: SparkSession = SparkTestSession.spark
  import spark.implicits._

  lazy val pts: Seq[(Double, Double)] = {
    val rng = new Synth.Rng(31337L)
    (0 until 500).map(_ => (rng.nextDouble() * 8000 - 4000, rng.nextDouble() * 8000 - 4000))
  }

  test("gridCellId column math mirrors GridIndex.cellId bit-for-bit") {
    for (res <- Seq(5, 12, 17, 20)) {
      val got = pts.toDF("x", "y").select(gridCellId($"x", $"y", res)).as[Long].collect()
      val want = pts.map { case (x, y) => GridIndex.cellId(x, y, res) }
      assert(got.sameElements(want), s"res=$res")
    }
  }

  test("s2CellId / hexCellId expressions (codegen path) mirror core") {
    val df = pts.toDF("x", "y")
      .select($"x", $"y", s2CellId($"y" / 100.0, $"x" / 100.0, 14).as("s2"),
        hexCellId($"x", $"y", 9).as("hex"))
      .as[(Double, Double, Long, Long)].collect()
    df.foreach { case (x, y, s2, hex) =>
      assert(s2 == S2.cellId(y / 100.0, x / 100.0, 14))
      assert(hex == Hex.cellId(x, y, 9))
    }
  }

  test("gridKRing / hexKRing expressions mirror core") {
    val cells = pts.take(50).map { case (x, y) =>
      (GridIndex.cellId(x, y, 12), Hex.cellId(x, y, 8)) }
    val got = cells.toDF("g", "h")
      .select($"g", $"h", gridKRing($"g", 2).as("gr"), hexKRing($"h", 2).as("hr"))
      .as[(Long, Long, Array[Long], Array[Long])].collect()
    got.foreach { case (g, h, gr, hr) =>
      assert(gr.sameElements(GridIndex.kRing(g, 2)))
      assert(hr.sameElements(Hex.kRing(h, 2)))
    }
  }

  test("PointInPolygonExpr (codegen) == Geom.pointInPolygon incl. boundaries") {
    val polys = Synth.polygons(nExtra = 12)
    for (p <- polys.take(8)) {
      val rings: Geom.Rings = p.rings.map(_.map(q => (q.x, q.y)))
      val bb = Geom.bbox(rings)
      val rng = new Synth.Rng(p.poly_id)
      val probes = (0 until 200).map { _ =>
        (bb.x0 - 5 + rng.nextDouble() * (bb.x1 - bb.x0 + 10),
         bb.y0 - 5 + rng.nextDouble() * (bb.y1 - bb.y0 + 10))
      } ++ p.rings(0).map(q => (q.x, q.y)) // exact vertices (boundary=inside)
      val ringsLit = typedLit(p.rings.map(_.map(q => (q.x, q.y))))
      val got = probes.toDF("x", "y")
        .select($"x", $"y", pointInPolygon($"x", $"y", ringsLit).as("in"))
        .as[(Double, Double, Boolean)].collect()
      got.foreach { case (x, y, in) =>
        assert(in == Geom.pointInPolygon(x, y, rings), s"poly ${p.poly_id} at ($x,$y)")
      }
    }
  }

  test("PIP fallback through the expression path: same-winding hole + grazing scanline") {
    // GeomSpec's fallback case (collinear exterior vertex on y=50, hole
    // wound like the exterior) through st_point_in_polygon / PipRuntime
    val poly = PolyRow(1L, 0, Array(
      Array(Pt(0, 0), Pt(100, 0), Pt(100, 50), Pt(100, 100), Pt(0, 100)),
      Array(Pt(20, 20), Pt(80, 20), Pt(80, 80), Pt(20, 80))), 1, "h", 0.0)
    val pts = Seq((1L, 50.0, 50.0), (2L, 10.0, 50.0), (3L, 90.0, 50.0))
      .toDF("pt_id", "x", "y")
    val hit = graft.operators.SpatialJoin.pointsInPolygons(pts, Seq(poly).toDS, res = 12)
      .select("pt_id").as[Long].collect().toSet
    assert(hit == Set(2L, 3L), s"expression path: $hit")
  }

  test("geo cell Columns mirror the core math bit for bit") {
    import graft.functions.SpatialFunctions._
    val df = spark.range(300).select(
      ((col("id") % 140) - 70 + lit(0.25)).cast("double").as("lat"),
      (((col("id") * 7) % 360) - 180 + lit(0.5)).cast("double").as("lng"))
    val rows = df.select(col("lat"), col("lng"),
      gridCellIdGeo(col("lat"), col("lng"), 13).as("g"),
      hexCellIdGeo(col("lat"), col("lng"), 7).as("h")).collect()
    rows.foreach { r =>
      val (x, y) = GeoScale.toPlanar(r.getDouble(0), r.getDouble(1))
      assert(r.getLong(2) == GridIndex.cellId(x, y, 13))
      assert(r.getLong(3) == Hex.cellId(x, y, 7))
    }
  }
}

class GraftFunctionsSqlSpec extends AnyFunSuite {
  implicit lazy val spark: SparkSession = SparkTestSession.spark
  import spark.implicits._

  test("SQL-registered functions match the Column API") {
    graft.functions.GraftFunctions.register(spark)
    Seq((12.3, 45.6), (-800.0, 900.0)).toDF("x", "y").createOrReplaceTempView("p")
    val sqlRows = spark.sql(
      """SELECT grid_cell_id(x, y, 12) AS g, hex_cell_id(x, y, 9) AS h,
        | s2_cell_id(y / 100.0, x / 100.0, 14) AS s,
        | size(grid_k_ring(grid_cell_id(x, y, 12), 1)) AS gr,
        | simhash64('the quick brown fox') AS sh,
        | rolling_fingerprint('abcdefghij', 4) AS fp,
        | st_point_in_polygon(x, y,
        |   array(array(struct(-1000.0 AS x, -1000.0 AS y),
        |               struct(1000.0 AS x, -1000.0 AS y),
        |               struct(1000.0 AS x, 1000.0 AS y),
        |               struct(-1000.0 AS x, 1000.0 AS y)))) AS pip
        |FROM p""".stripMargin).collect()
    val r0 = sqlRows(0)
    assert(r0.getAs[Long]("g") == GridIndex.cellId(12.3, 45.6, 12))
    assert(r0.getAs[Long]("h") == Hex.cellId(12.3, 45.6, 9))
    assert(r0.getAs[Long]("s") == S2.cellId(45.6 / 100.0, 12.3 / 100.0, 14))
    assert(r0.getAs[Int]("gr") == 9)
    assert(r0.getAs[Boolean]("pip"))
    assert(sqlRows(1).getAs[Boolean]("pip")) // (-800, 900) inside the big box
    assert(r0.getAs[Long]("sh") != 0L && r0.getAs[Long]("fp") != 0L)
    // round-4 registrations
    val r4 = spark.sql(
      """SELECT poly_fingerprint('abc') AS pf,
        | text_stats('the cat sat.') AS ts,
        | size(shingle_fps('a b c d', 3)) AS nsh,
        | px_sum(array(CAST(1.5 AS FLOAT), CAST(2.5 AS FLOAT))) AS ps""".stripMargin)
      .collect()(0)
    assert(r4.getAs[Long]("pf") ==
      graft.text.HashFamily.fp62("abc", 0, 3))
    assert(r4.getAs[scala.collection.Seq[Int]]("ts").toSeq == Seq(12, 3, 1, 1))
    assert(r4.getAs[Int]("nsh") == 2)
    assert(r4.getAs[Double]("ps") == 4.0)
    // n parameterizes the expression: non-INT-literal n must fail with
    // the contract spelled out, not a ClassCastException
    val bad = intercept[Exception] {
      spark.sql("SELECT shingle_fps('a b c', CAST(3 AS BIGINT))").collect()
    }
    assert(bad.getMessage.contains("INT literal"), bad.getMessage)
  }

  test("grid_k_ring / hex_k_ring widen an INT cell to BIGINT") {
    graft.functions.GraftFunctions.register(spark)
    val got = spark.sql(
      """SELECT id, grid_k_ring(CAST(id AS INT), 1) AS g, hex_k_ring(CAST(id AS INT), 1) AS h
        |FROM range(3)""".stripMargin).as[(Long, Array[Long], Array[Long])].collect()
    assert(got.length == 3)
    got.foreach { case (id, g, h) =>
      assert(g.sameElements(GridIndex.kRing(id, 1)), s"grid $id")
      assert(h.sameElements(Hex.kRing(id, 1)), s"hex $id")
    }
  }

  test("every SQL-registered function compiles to its kernel's static call") {
    import org.apache.spark.sql.execution.debug.codegenStringSeq
    graft.functions.GraftFunctions.register(spark)
    spark.range(4).selectExpr("CAST(id AS DOUBLE) * 10.5 AS x", "CAST(id AS DOUBLE) * -3.25 AS y",
      "id AS cell", "concat('doc ', CAST(id AS STRING), ' a b c d') AS text",
      "array(CAST(id AS FLOAT), CAST(1.5 AS FLOAT)) AS px").createOrReplaceTempView("k")
    val rings = "array(array(struct(-10.0 AS x, -10.0 AS y), struct(50.0 AS x, -10.0 AS y), " +
      "struct(50.0 AS x, 10.0 AS y)))"
    val calls = Seq(
      s"st_point_in_polygon(x, y, $rings)" -> "PipRuntime.eval",
      "s2_cell_id(y / 100, x / 100, 14)" -> "S2.cellId",
      "hex_cell_id(x, y, 9)" -> "Hex.cellId",
      "grid_cell_id(x, y, 12)" -> "GridIndex.cellId",
      "grid_k_ring(cell, 1)" -> "GridIndex.kRing",
      "hex_k_ring(cell, 1)" -> "Hex.kRing",
      "simhash64(text)" -> "HashRuntime.simhash",
      "rolling_fingerprint(text, 4)" -> "HashRuntime.rollingFp",
      "poly_fingerprint(text)" -> "HashRuntime.polyFp",
      "text_stats(text)" -> "HashRuntime.textStats",
      "shingle_fps(text, 3)" -> "HashRuntime.shingleFps",
      "vec_dot(px, px)" -> "EmbedRuntime.dotOrNull",
      "lsh_signature(px, 8)" -> "EmbedRuntime.lshSig",
      "px_sum(px)" -> "PxRuntime.sumOrNull")
    assert(calls.map(_._1.takeWhile(_ != '(')).distinct.size == 14)
    for ((call, method) <- calls) {
      val df = spark.sql(s"SELECT $call AS v FROM k")
      assert(df.collect().length == 4, call)
      val code = codegenStringSeq(df.queryExecution.executedPlan).map(_._2).mkString("\n")
      assert(code.contains(method + "("), s"$call: no static call to $method")
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.linesIterator.exists(l => l.contains("Project") && l.contains("*(")),
        s"$call: Project outside WholeStageCodegen\n$plan")
    }
  }

  test("type contracts: mistyped inputs fail analysis by name; coordinates cast") {
    import org.apache.spark.sql.functions.{array, col, lit}
    graft.functions.GraftFunctions.register(spark)
    def messages(t: Throwable): String =
      if (t == null) "" else t.getMessage + "\n" + messages(t.getCause)
    val rejected: Seq[(String, () => Any)] = Seq(
      "px_sum" -> (() => spark.sql("SELECT px_sum(array(CAST(id AS DOUBLE))) FROM range(2)")),
      "simhash64" -> (() => spark.sql("SELECT simhash64(CAST(id AS INT)) FROM range(2)")),
      "vec_dot" -> (() => spark.sql(
        "SELECT vec_dot(array(CAST(id AS DOUBLE)), array(CAST(id AS DOUBLE))) FROM range(2)")),
      "px_mask_equals" -> (() => spark.range(2).select(
        graft.functions.PxFunctions.maskEquals(array(col("id").cast("double")), 1f, 0f))),
      "INT literal" -> (() => spark.sql("SELECT shingle_fps('a b c', CAST(3 AS BIGINT))")))
    for ((name, run) <- rejected) {
      val ex = intercept[Exception](run() match {
        case df: org.apache.spark.sql.DataFrame => df.collect()
        case _ =>
      })
      assert(messages(ex).contains(name), s"$name: ${messages(ex)}")
    }
    val ring = "array(array(struct(-10 AS x, -10 AS y), struct(10.5 AS x, -10 AS y), " +
      "struct(10.5 AS x, 10 AS y), struct(-10 AS x, 10 AS y)))"
    val accepted: Seq[(String, Any)] = Seq(
      "grid_cell_id(CAST(3 AS INT), 2.5, 12)" -> GridIndex.cellId(3.0, 2.5, 12),
      "hex_cell_id(2.5, CAST(3 AS INT), 9)" -> Hex.cellId(2.5, 3.0, 9),
      "s2_cell_id(CAST(45 AS INT), 12.25, 14)" -> S2.cellId(45.0, 12.25, 14),
      s"st_point_in_polygon(CAST(3 AS INT), 2.5, $ring)" -> true,
      s"st_point_in_polygon(11, 2.5, $ring)" -> false)
    for ((call, want) <- accepted)
      assert(spark.sql(s"SELECT $call FROM range(1)").head().get(0) == want, call)
  }
}
