package graft.operators

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import graft.{PolyRow, Pt, SparkJobs, SparkTestSession}
import graft.gen.{GridImages, Synth}
import graft.sources.ImageTable

/** The polygon build side of the raster x polygon operators
  * ([[PolyLayer]]): the driver-built cell index has the same cover as the
  * public `polyCells`, rings are shared per polygon, the part, entry and
  * ring-byte bounds are loud (also on operators that had no bound), and
  * the flagship pass stays at the aggregate's two jobs. */
class ZonalIndexSpec extends AnyFunSuite {
  implicit lazy val spark: SparkSession = SparkTestSession.spark
  import spark.implicits._

  val cellRes: Int = Tiler.resForCellSize(64.0)
  val layer: Array[PolyRow] = Synth.polygons(nExtra = 64, seed = 3L).toArray
  lazy val layerDs = spark.createDataset(layer.toSeq)
  lazy val parts: Array[PolyLayer.Part] = PolyLayer.collect(layerDs)
  lazy val index = PolyLayer.byCell(parts, cellRes)
  /** 16 bytes per vertex of every part: the layer's ring bytes. */
  def ringBytes(ps: Seq[PolyRow]): Long = ps.map(p => 16L * p.rings.map(_.length).sum).sum

  private def entries(ix: java.util.HashMap[Long, Array[PolyLayer.Part]]) = {
    val out = Map.newBuilder[Long, Seq[Long]]
    ix.forEach((c, ps) => out += c -> ps.map(_.polyId).toSeq)
    out.result()
  }

  test("driver-built index == polyCells grouped by cell, in layer order") {
    val pc = ZonalStats.polyCells(spark.createDataset(layer.toSeq), cellRes).collect()
    val want = pc.groupBy(_.cell_id).map { case (c, es) => c -> es.map(_.poly_id).toSeq }
    assert(entries(index) == want)
    assert(pc.length > layer.length, "fixture polygons should span several cells")
  }

  test("rings are held once per polygon part, shared by all its cells") {
    // one packed polygon (rings + bbox) per part, the same instance in
    // every cell the part covers
    val distinct = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[graft.core.Geom.PackedPoly, java.lang.Boolean]())
    var total = 0
    index.forEach((_, ps) => { ps.foreach(p => distinct.add(p.poly)); total += ps.length })
    val covered = ZonalStats.polyCells(spark.createDataset(layer.toSeq), cellRes)
      .map(p => (p.poly_id, p.part)).distinct().count()
    assert(distinct.size == covered)
    assert(total > distinct.size)
  }

  test("entry cap and ring byte budget fail loudly, not past their limits") {
    val n = entries(index).values.map(_.size).sum
    val bytes = ringBytes(layer.toSeq)
    // exactly at all three limits
    PolyLayer.byCell(PolyLayer.collect(layerDs, layer.length, bytes), cellRes, n)
    val e1 = intercept[IllegalArgumentException](PolyLayer.byCell(parts, cellRes, n - 1))
    assert(e1.getMessage.contains(s"exceeds ${n - 1} (cell, polygon) entries"))
    val e2 = intercept[IllegalArgumentException](
      PolyLayer.collect(layerDs, maxRingBytes = bytes - 1))
    assert(e2.getMessage.contains(s"rings exceed ${bytes - 1} bytes of vertices"))
    val e0 = intercept[IllegalArgumentException](
      PolyLayer.collect(layerDs, maxParts = layer.length - 1))
    assert(e0.getMessage.contains(s"exceeds ${layer.length - 1} polygon parts"))
    // one finely traced polygon: few cells, many bytes — only the byte
    // budget sees it
    val k = 100000
    val circle = PolyRow(99L, 0, Array(Array.tabulate(k) { i =>
      val a = 2 * math.Pi * i / k
      Pt(10 * math.cos(a), 10 * math.sin(a))
    }), 1, "circle", 0.0)
    val circleDs = Seq(circle).toDS
    val small = PolyLayer.byCell(PolyLayer.collect(circleDs, maxRingBytes = Long.MaxValue),
      cellRes, 16)
    assert(small.size <= 4)
    val e3 = intercept[IllegalArgumentException](
      PolyLayer.collect(circleDs, maxRingBytes = 1L << 20))
    assert(e3.getMessage.contains("bytes of vertices"))
  }

  test("collect packs each part once, sorted by (poly_id, part), class on the part") {
    val shuffled = spark.createDataset(layer.reverse.toSeq)
    val got = PolyLayer.collect(shuffled)
    assert(got.map(p => (p.polyId, p.part)).toSeq == layer.map(p => (p.poly_id, p.part)).toSeq)
    assert(got.map(_.cls).toSeq == layer.map(_.cls).toSeq)
    assert(got.zip(layer).forall { case (p, r) =>
      p.poly.xss.map(_.toSeq).toSeq == r.rings.map(_.map(_.x).toSeq).toSeq })
  }

  /** Two small polygons over the first GridImages image. */
  val gridPolys: Seq[PolyRow] = Seq(
    PolyRow(1L, 0, Array(Array(Pt(4, -40), Pt(40, -40), Pt(40, -4), Pt(4, -4))), 1, "a", 0.0),
    PolyRow(2L, 0, Array(Array(Pt(44, -44), Pt(76, -44), Pt(60, -8))), 1, "b", 0.0))

  test("zonalRgbIndices (tile family): a layer past the ring-byte cap fails loudly") {
    val bytes = ringBytes(gridPolys)
    val tiles = Tiler.multiTiles(
      spark.createDataset(GridImages.images(2, bands = 3)), 64, cellRes)
    val ok = RasterOps.zonalRgbIndices(tiles, gridPolys.toDS, cellRes, 1.0, bytes).collect()
    assert(ok.length == 2)
    val e = intercept[IllegalArgumentException](
      RasterOps.zonalRgbIndices(tiles, gridPolys.toDS, cellRes, 1.0, bytes - 1))
    assert(e.getMessage.contains(s"rings exceed ${bytes - 1} bytes of vertices"))
  }

  test("threshSeg (image family): a layer past the ring-byte cap fails loudly") {
    val bytes = ringBytes(gridPolys)
    val imgs = spark.createDataset(GridImages.images(2, bands = 1))
    val ok = ThreshSeg.threshSeg(imgs, gridPolys.toDS, 0, 0.0, 4.0, 4, bytes).collect()
    assert(ok.nonEmpty)
    val e = intercept[IllegalArgumentException](
      ThreshSeg.threshSeg(imgs, gridPolys.toDS, 0, 0.0, 4.0, 4, bytes - 1))
    assert(e.getMessage.contains(s"rings exceed ${bytes - 1} bytes of vertices"))
  }

  test("histogram over a local polygon layer launches no Spark job") {
    val tiles = Tiler.tiles(spark.createDataset(Synth.images(4, seed = 5L, bands = 1).toSeq),
      64, cellRes)
    val (_, jobs) = SparkJobs.during(spark)(
      ZonalStats.histogram(tiles, spark.createDataset(layer.toSeq), cellRes))
    assert(jobs == 0, s"building the zonal histogram launched $jobs job(s)")
  }

  test("zonal pass read -> tiles -> histogram -> noop runs in at most two jobs") {
    val path = Files.createTempDirectory("graft_zonal_jobs_").toString + "/t"
    ImageTable.write(spark.createDataset(Synth.images(8, seed = 6L, bands = 2).toSeq), path)
    val (_, jobs) = SparkJobs.during(spark) {
      val tiles = Tiler.tiles(ImageTable.read(spark, path), 64, cellRes)
      ZonalStats.histogram(tiles, spark.createDataset(layer.toSeq), cellRes)
        .write.format("noop").mode("overwrite").save()
    }
    assert(jobs >= 1 && jobs <= 2, s"the zonal pass launched $jobs job(s), want at most 2")
  }
}
