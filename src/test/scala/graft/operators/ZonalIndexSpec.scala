package graft.operators

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import graft.{PolyRow, Pt, SparkJobs, SparkTestSession}
import graft.gen.Synth
import graft.sources.ImageTable

/** The zonal prefilter index built on the driver: same cover as the
  * public `polyCells`, rings shared per polygon, both bounds loud, and
  * the flagship pass back to the aggregate's two jobs. */
class ZonalIndexSpec extends AnyFunSuite {
  implicit lazy val spark: SparkSession = SparkTestSession.spark
  import spark.implicits._

  val cellRes: Int = Tiler.resForCellSize(64.0)
  val layer: Array[PolyRow] = Synth.polygons(nExtra = 64, seed = 3L).toArray
  val index = ZonalStats.buildIndex(layer, cellRes,
    ZonalStats.MaxBroadcastPolyCells, ZonalStats.MaxBroadcastRingBytes)

  private def entries(ix: java.util.HashMap[Long, Array[ZonalStats.PolyPre]]) = {
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
    val coveredIds = ZonalStats.polyCells(spark.createDataset(layer.toSeq), cellRes)
      .map(p => (p.poly_id, p.part)).distinct().collect().toSet
    val bytes = layer.filter(p => coveredIds((p.poly_id, p.part)))
      .map(p => 16L * p.rings.map(_.length).sum).sum
    ZonalStats.buildIndex(layer, cellRes, n, bytes) // exactly at both limits
    val e1 = intercept[IllegalArgumentException](
      ZonalStats.buildIndex(layer, cellRes, n - 1, Long.MaxValue))
    assert(e1.getMessage.contains(s"exceeds ${n - 1} (cell, polygon) entries"))
    val e2 = intercept[IllegalArgumentException](
      ZonalStats.buildIndex(layer, cellRes, Int.MaxValue, bytes - 1))
    assert(e2.getMessage.contains(s"rings exceed ${bytes - 1} bytes of vertices"))
    // one finely traced polygon: few cells, many bytes — only the byte
    // budget sees it
    val k = 100000
    val circle = PolyRow(99L, 0, Array(Array.tabulate(k) { i =>
      val a = 2 * math.Pi * i / k
      Pt(10 * math.cos(a), 10 * math.sin(a))
    }), 1, "circle", 0.0)
    val small = ZonalStats.buildIndex(Array(circle), cellRes, 16, Long.MaxValue)
    assert(small.size <= 4)
    val e3 = intercept[IllegalArgumentException](
      ZonalStats.buildIndex(Array(circle), cellRes, 16, 1L << 20))
    assert(e3.getMessage.contains("bytes of vertices"))
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
