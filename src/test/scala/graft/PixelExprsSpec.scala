package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions._

/** Native pixel expressions must match the HOF lambda forms they
  * replaced BIT FOR BIT — including Spark's float semantics on NaN
  * (NaN == NaN, NaN greatest) and -0.0 (< 0.0), which differ from the
  * JVM's primitive comparisons. */
class PixelExprsSpec extends AnyFunSuite {
  implicit lazy val spark: SparkSession = SparkTestSession.spark
  import spark.implicits._

  private val pa = Seq(
    Array(1f, 42f, Float.NaN, -0.0f, 0f, 97f, -42f, 41.9999f),
    Array(Float.NaN, Float.NaN, 5f, 42.0001f, -5f, 42f, 0f, 1e-30f))
  private val pb = pa.map(_.reverse)
  private def df: DataFrame = pa.zip(pb).toDF("pa", "pb")

  private def bits(a: Array[Float]): Seq[Int] =
    a.map(java.lang.Float.floatToIntBits).toSeq

  private def check(native: DataFrame, hof: DataFrame): Unit = {
    val n = native.as[Array[Float]].collect().map(bits)
    val h = hof.as[Array[Float]].collect().map(bits)
    assert(n.length == h.length && n.nonEmpty)
    n.zip(h).foreach { case (x, y) => assert(x == y, s"\n native $x\n hof    $y") }
  }

  test("MaskEqualsExpr == transform/when HOF (incl. NaN and -0.0 mvals)") {
    for (mval <- Seq(42f, Float.NaN, 0f, -0.0f)) {
      check(
        df.select(PxFunctions.maskEquals(col("pa"), mval, 7f)),
        df.select(transform(col("pa"), p => when(p === mval, p).otherwise(lit(7f)))))
    }
  }

  test("MaskRuleExpr ==/</> == HOF (incl. NaN thresholds)") {
    for {
      thr <- Seq(5f, Float.NaN, 0f, -0.0f)
      (rule, code) <- Seq("==" -> 0, "<" -> 1, ">" -> 2)
    } {
      def cond(p: org.apache.spark.sql.Column) = rule match {
        case "==" => p === thr
        case "<"  => p < thr
        case _    => p > thr
      }
      check(
        df.select(PxFunctions.maskRule(col("pa"), code, thr, -1f)),
        df.select(transform(col("pa"), p => when(cond(p), lit(-1f)).otherwise(p))),
      )
    }
  }

  test("ApplyLutExpr == element_at(map) HOF (NaN key and value)") {
    val lut = Map(42f -> 1f, 0f -> 2f, Float.NaN -> 3f, -5f -> 4f)
    val entries = lut.toSeq.sortWith((p, q) => PxRuntime.cmp(p._1, q._1) < 0)
    val m = map(entries.flatMap { case (k, v) => Seq(lit(k), lit(v)) }: _*)
    check(
      df.select(PxFunctions.applyLut(col("pa"),
        entries.map(_._1).toArray, entries.map(_._2).toArray)),
      df.select(transform(col("pa"), p => coalesce(element_at(m, p), p))))
  }

  test("SeriesCompositeExpr == the aggregate/zip_with/array_sort HOF forms") {
    import org.apache.spark.sql.Column
    // random series with NaNs sprinkled in (4 epochs x 16 px)
    val rng = new graft.gen.Synth.Rng(31L)
    val series = (0 until 24).map { _ =>
      (0 until 4).map { _ =>
        Array.tabulate(16)(_ =>
          if (rng.nextInt(5) == 0) Float.NaN else rng.nextInt(200) - 50f)
      }
    }
    val sdf = series.toDF("arrays")
    def reduceArrays(arrays: Column, f: (Column, Column) => Column): Column =
      aggregate(slice(arrays, lit(2), greatest(size(arrays) - 1, lit(0))),
        element_at(arrays, 1), (acc, cur) => zip_with(acc, cur, f))
    def countNonNaN(arrays: Column): Column =
      aggregate(arrays,
        transform(element_at(arrays, 1), x => when(x.isNaN, 0f).otherwise(0f)),
        (acc, cur) => zip_with(acc, cur, (a, x) =>
          a + when(x.isNaN, 0f).otherwise(1f)))
    val arrays = col("arrays")
    val summed = reduceArrays(arrays, (x, y) =>
      when(x.isNaN, y).otherwise(when(y.isNaN, x).otherwise(x + y)))
    val hofs: Seq[(Int, Double, Column)] = Seq(
      (0, 0.0, summed),
      (1, 0.0, zip_with(summed, countNonNaN(arrays), (s, c) =>
        when(c === 0f, lit(Float.NaN)).otherwise((s / c).cast("float")))),
      (2, 0.0, reduceArrays(arrays, (x, y) =>
        when(x.isNaN, y).otherwise(when(y.isNaN, x).otherwise(least(x, y))))),
      (3, 0.0, reduceArrays(arrays, (x, y) =>
        when(x.isNaN, y).otherwise(when(y.isNaN, x).otherwise(greatest(x, y)))))) ++
      Seq(25.0, 50.0, 90.0).map { qq =>
        val idxs = sequence(lit(0), size(element_at(arrays, 1)) - 1)
        (4, qq, transform(idxs, i => {
          val vals = array_sort(filter(
            transform(arrays, a => element_at(a, i + 1)), v => !v.isNaN))
          val m = size(vals)
          val pos = (m - 1).cast("double") * lit(qq / 100.0)
          val lo = floor(pos).cast("int")
          val frac = pos - floor(pos)
          when(m === 0, lit(Float.NaN)).otherwise(
            (element_at(vals, lo + 1) +
              (element_at(vals, least(lo + 2, m)) - element_at(vals, lo + 1)) * frac
            ).cast("float"))
        }))
      }
    hofs.foreach { case (op, qq, hof) =>
      check(
        sdf.select(PxFunctions.seriesComposite(arrays, op, qq)),
        sdf.select(hof))
    }
    // mosaic fold vs its HOF (uniform nodata = 0 across layers)
    val nod = lit(0f)
    val mosaicHof = aggregate(
      slice(arrays, lit(2), greatest(size(arrays) - 1, lit(0))),
      element_at(arrays, 1),
      (acc, cur) => zip_with(acc, cur, (a, x) => when(a === nod, x).otherwise(a)))
    check(
      sdf.select(PxFunctions.mosaic(arrays,
        array_repeat(nod.cast("float"), size(arrays)))),
      sdf.select(mosaicHof))
  }

  test("MosaicCompositeExpr honors per-layer nodata") {
    // layer 0 sentinel -1: pixel0 is a hole, pixel1 = 5 is real
    // layer 1 sentinel  5: pixel0 = 7 is real, pixel1 = 5 is a hole
    val df = Seq(1).toDF("i").select(
      array(array(lit(-1f), lit(5f)), array(lit(7f), lit(5f))).as("arrays"),
      array(lit(-1f), lit(5f)).as("nds"))
    val got = df.select(PxFunctions.mosaic(col("arrays"),
      col("nds")).as("px")).as[Seq[Float]].head()
    // pixel0: layer0 hole -> layer1's 7; pixel1: layer0's 5 wins (5 is
    // only a sentinel for layer 1, NOT layer 0)
    assert(got == Seq(7f, 5f))
    // all-holes pixel emits the FIRST layer's sentinel
    val df2 = Seq(1).toDF("i").select(
      array(array(lit(-1f)), array(lit(9f))).as("arrays"),
      array(lit(-1f), lit(9f)).as("nds"))
    val got2 = df2.select(PxFunctions.mosaic(col("arrays"),
      col("nds")).as("px")).as[Seq[Float]].head()
    assert(got2 == Seq(-1f))
  }

  test("ZipMulExpr / CombineSceneExpr / NdviExpr == zip_with HOFs") {
    check(
      df.select(PxFunctions.mul(col("pa"), col("pb"))),
      df.select(zip_with(col("pa"), col("pb"), (x, y) => x * y)))
    // the "missing" set is 0, NaN, and the row's declared sentinel
    // (Spark SQL treats NaN === NaN as TRUE, matching Float.compare)
    val snd = lit(-9999f)
    check(
      df.select(PxFunctions.combineScene(col("pa"), col("pb"), snd)),
      df.select(zip_with(col("pa"), col("pb"), (x, y) =>
        when(x === 0f || isnan(x) || x === snd, y).otherwise(x))))
    val sentinels = spark.createDataFrame(Seq(
      (Array(-9999f, 1f, Float.NaN, 2f), Array(7f, 8f, 9f, 10f))))
      .toDF("pa", "pb")
    assert(sentinels.select(PxFunctions.combineScene(col("pa"),
        col("pb"), snd)).as[Seq[Float]].head()
      == Seq(7f, 1f, 9f, 2f))
    val nodata = lit(Float.NaN)
    check(
      df.select(PxFunctions.ndvi(col("pa"), col("pb"), nodata.cast("float"))),
      df.select(zip_with(col("pa"), col("pb"), (x, y) =>
        when(x + y === 0f, nodata).otherwise(((x - y) / (x + y)).cast("float")))))
  }

  test("PxSumExpr == aggregate HOF fold (incl. NaN, -0.0, empty)") {
    def checkD(native: DataFrame, hof: DataFrame): Unit = {
      val n = native.as[Double].collect().map(java.lang.Double.doubleToRawLongBits)
      val h = hof.as[Double].collect().map(java.lang.Double.doubleToRawLongBits)
      assert(n.toSeq == h.toSeq, s"\n native ${n.toSeq}\n hof    ${h.toSeq}")
    }
    val edge = spark.createDataFrame(Seq(
      Tuple1(Array(Float.NaN, 1f)), Tuple1(Array(-0.0f, 0.0f)),
      Tuple1(Array.empty[Float]))).toDF("pa")
    for (d <- Seq(df, edge)) checkD(
      d.select(PxFunctions.pxSum(col("pa"))),
      d.select(aggregate(col("pa"), lit(0.0), (a, x) => a + x)))
  }

  test("binary px exprs FAIL FAST on length mismatch (equal-length contract)") {
    // zip_with would null-pad the shorter array and silently poison the
    // tail; misaligned tiles are an upstream bug and must surface
    val bad = spark.createDataFrame(Seq(
      (Array(1f, 2f, 3f), Array(1f, 2f)))).toDF("pa", "pb")
    for (e <- Seq(
        PxFunctions.mul(col("pa"), col("pb")),
        PxFunctions.combineScene(col("pa"), col("pb"), lit(0f)),
        PxFunctions.ndvi(col("pa"), col("pb"), lit(0f)))) {
      val ex = intercept[Exception](bad.select(e).collect())
      def msgs(t: Throwable): Seq[String] =
        if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
      assert(msgs(ex).exists(_.contains("differ in length")), s"$e: $ex")
    }
  }

  test("seriesComposite fail-fasts past 64k snapshots") {
    val df = Seq(1).toDF("i")
      .select(array_repeat(array(lit(1f)), 65537).as("arrays"))
    val e = intercept[Exception] {
      df.select(PxFunctions.seriesComposite(col("arrays"), 1, 50.0)).collect()
    }
    assert(Causes.messages(e).contains("pre-aggregate"))
  }
}
