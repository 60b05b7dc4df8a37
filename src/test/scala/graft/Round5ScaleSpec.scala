package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{Encoders, SparkSession}
import org.apache.spark.sql.functions._
import graft.gen.GridImages
import graft.operators._
import graft.core.{Geom, GridIndex}
import org.apache.spark.sql.GraftBridge.{expression => exprOf, column => colOf}

/** Scale-lens hardening from the round-5 close: fail-fast caps where a
  * per-group kernel was unbounded, determinism under ties, and the
  * shared dedupe tripwire on the CNN tile path. */
class Round5ScaleSpec extends AnyFunSuite {
  implicit lazy val spark: SparkSession = SparkTestSession.spark
  import spark.implicits._

  private def deepMsg(x: Throwable): String =
    Option(x).map(t => t.getMessage + deepMsg(t.getCause)).getOrElse("")

  test("dedupExact maxGroup fail-fast bounds the per-group kernel") {
    val base = GridImages.images(1, bands = 1).head
    val copies = (0 until 5).map(i => base.copy(image_id = s"c$i"))
    val ds = spark.createDataset(copies)(Encoders.product[ImageRow])
    // 5 identical images in one (w, h, phash) group; cap of 3 trips
    val e = intercept[Exception] {
      ImageDedup.dedupExact(ds, maxGroup = 3).collect()
    }
    assert(deepMsg(e).contains("exceeds 3 images"))
    // and above the cap the digest path still groups correctly
    val ok = ImageDedup.dedupExact(ds).as[(String, Long)].collect().toSet
    assert(ok == Set(("c0", 5L)))
  }

  test("coverBBox fail-fasts on a cell cover past the per-feature cap") {
    // whole-world bbox at the finest res: the Long product vastly
    // exceeds MaxCoverCells and must fail loudly, not allocate
    val huge = Geom.BBox(-260000, -260000, 260000, 260000)
    val e = intercept[IllegalArgumentException] {
      GridIndex.coverBBox(huge, GridIndex.MaxRes)
    }
    assert(e.getMessage.contains("coarsen the grid res"))
    // normal covers still work
    assert(GridIndex.coverBBox(Geom.BBox(0, 0, 100, 100), 14).nonEmpty)
  }

  test("seriesComposite fail-fasts past 64k snapshots") {
    val df = Seq(1).toDF("i")
      .select(array_repeat(array(lit(1f)), 65537).as("arrays"))
    val e = intercept[Exception] {
      df.select(colOf(graft.functions.SeriesCompositeExpr(
        exprOf(col("arrays")), 1, 50.0))).collect()
    }
    assert(deepMsg(e).contains("pre-aggregate"))
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

  test("writeIdField: tied orderCol values get deterministic fids") {
    val rows = Seq(("a", 1), ("a", 2), ("a", 3), ("b", 4), ("a", 5))
    def run(parts: Int): Map[Int, Long] =
      VectorOps.writeIdField(
          rows.toDF("k", "payload").repartition(parts), "k")
        .select("payload", "fid").as[(Int, Long)].collect()
        .map { case (p, f) => p -> f }.toMap
    val r1 = run(1); val r7 = run(7)
    assert(r1 == r7, s"tie order must not depend on partitioning: $r1 vs $r7")
    // 'b' sorts after every 'a'
    assert(r1(4) == 5L)
  }

  test("segPredictTiles trips on non-adjacent duplicate tiles") {
    val ds = spark.createDataset(GridImages.images(2).toSeq)(
      Encoders.product[ImageRow])
    val net = ConvNet.fixtureNet
    // tileSize 24 at cellRes 16 -> multi-cell tiles (duplicate rows);
    // repartitioning breaks tiler adjacency, the shared tripwire fires
    val tiles = Tiler.multiTiles(ds, tileSize = 24, cellRes = 16,
      halo = net.halo).repartition(5)
    val e = intercept[Exception] {
      ConvNet.segPredictTiles(tiles, net, tileSize = 24).collect()
    }
    assert(deepMsg(e).contains("non-adjacent duplicate"))
  }
}
