package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import graft.gen.Synth
import graft.operators.{Knn, Tiler, ZonalStats, SpatialJoin}
import graft.queries.Queries
import graft.sources.ImageTable
import java.nio.file.Files

/**
 * Plan-shape regression gates: the perf-critical physical shapes from
 * README must SURVIVE refactors — a silent fallback to a shuffle join or
 * a lost pushdown is a 100x regression at the 100 TB design point even
 * though every correctness test still passes.
 */
class PlanShapeSpec extends AnyFunSuite {
  implicit lazy val spark: SparkSession = SparkTestSession.spark
  import spark.implicits._

  def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("zonal pipeline: map-side broadcast index, no join operator, ONE aggregate exchange") {
    val images = spark.createDataset(Synth.images(8, seed = 1L, bands = 1).toSeq)
    val polys = spark.createDataset(Synth.polygons(2).toSeq)
    val cellRes = Tiler.resForCellSize(64.0)
    val hist = ZonalStats.histogram(Tiler.tiles(images, 64, cellRes), polys, cellRes)
    val p = plan(hist)
    // round 6: the polygon prefilter is a sparkContext.broadcast INDEX
    // consumed inside the tile mapPartitions — no join operator at all,
    // and in particular never a sort-merge fallback shuffling pixels
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
      s"zonal prefilter regressed to a plan-level join:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 1,
      s"more than one shuffle in the zonal pipeline:\n$p")
    // pixels must flow object-to-object from the tiler into the kernel:
    // exactly ONE serialize boundary (the small histogram rows), i.e.
    // EliminateSerialization fused the tiler flatMap with the histogram
    // mapPartitions instead of round-tripping pixel arrays through
    // Tungsten rows
    assert("SerializeFromObject".r.findAllIn(p).size == 1 &&
      "DeserializeToObject".r.findAllIn(p).size == 1,
      s"tiler -> histogram pixel arrays round-trip through Tungsten:\n$p")
  }

  test("pointsInPolygons: broadcast prefilter + codegen'd refine") {
    val pts = Queries.pts(spark, "/root/testdata/sf0.001")
    val joined = SpatialJoin.pointsInPolygons(pts,
      spark.createDataset(Queries.boxPolys), res = 15)
    joined.collect() // collect() runs THIS QueryExecution -> final adaptive plan
    val p = plan(joined)
    assert(p.contains("BroadcastHashJoin"))
    // Catalyst pushed the PIP refine (st_point_in_polygon's static call)
    // INTO the broadcast join condition
    assert(p.contains("PipRuntime.eval"), p)
    // the final adaptive plan renders codegen stages as "*(n)" prefixes;
    // the join + PIP must carry one (i.e. run inside WholeStageCodegen)
    assert(p.contains("*(") && p.linesIterator.exists(l =>
      l.contains("BroadcastHashJoin") && l.contains("*(")),
      s"join not inside a codegen span:\n$p")
  }

  test("relational zonal: parquet scan is column-pruned and filter-pushed") {
    val q = Queries.qKnn(spark, "/root/testdata/sf0.001")
    val p = plan(q)
    assert(p.contains("PushedFilters: [IsNotNull(c_custkey), LessThan(c_custkey,20)]")
      || p.contains("LessThan(c_custkey,20)"), s"filter not pushed:\n${p.take(2000)}")
    // lineitem scan must not read l_quantity etc. for the kNN query
    assert(!p.contains("l_extendedprice"), "kNN scan reads unneeded columns")
  }

  /** The three kNN entry points' queries: grid, hex, great circle. */
  val knnQueries = Seq("q_knn" -> Queries.qKnn _, "q_knn_hex" -> Queries.qKnnHex _,
    "q_knn_geo" -> Queries.qKnnGeo _)

  test("kNN: top-k pruned below the exchange (WindowGroupLimit)") {
    for ((name, query) <- knnQueries)
      assert(plan(query(spark, "/root/testdata/sf0.001")).contains("WindowGroupLimit"), name)
  }

  test("kNN guarantee tail: ring join computed ONCE (ReusedExchange), single job") {
    // the good-rows path and the bad-query anti join both hang off the
    // same q_id shuffle; losing the reuse silently doubles the expensive
    // ring join (round 3's collect-based tail cost +111% on q_knn_hex).
    // q_knn_geo is not gated here: at sf0.001 its points lie in a polar
    // band, no query meets the guard, and AQE drops the anti join (with
    // the reused exchange under it) once the satisfied set comes back empty
    for ((name, query) <- knnQueries.filter(_._1 != "q_knn_geo")) {
      val q = query(spark, "/root/testdata/sf0.001")
      q.collect() // finalize the adaptive plan
      val p = plan(q)
      assert(p.contains("ReusedExchange"),
        s"$name: guarantee check recomputes the ring join instead of reusing its exchange:\n$p")
    }
  }

  test("great-circle kNN guarantee tail: ring join computed ONCE (ReusedExchange)") {
    // the gate q_knn_geo cannot carry at sf0.001: KnnSpec's shared planar
    // fixture read as degrees (lat = y / 1250, lng = x / 1250), so most
    // queries sit among the points and meet the guard, while the far
    // marker query (~80°N) can only be answered by the brute pass
    val deg = 1250.0
    def asDegrees(ps: Seq[PointRow], id: String) =
      ps.map(p => (p.pt_id, p.y / deg, p.x / deg)).toDF(id, "lat", "lng")
    val q = Knn.knnJoinGreatCircle(asDegrees(Synth.points(40, seed = 99L), "q_id"),
      asDegrees(Synth.points(3000, seed = 11L), "pt_id"), k = 5, cellDeg = 0.5, r1 = 2)
    q.collect() // finalize the adaptive plan
    val p = plan(q)
    assert(p.contains("ReusedExchange"),
      s"great-circle guarantee check recomputes the ring join instead of reusing its exchange:\n$p")
  }

  test("cosineTopK: corpus x queries rows pruned to top-k BELOW the exchange") {
    // the exactness baseline ranks every (query, corpus) pair; without a
    // partial WindowGroupLimit the q_id exchange would carry the full
    // corpus x queries product instead of k rows per query per partition
    val q = Queries.qAnnTopK(spark, "/root/testdata/sf0.001")
    val p = plan(q)
    assert(p.contains("WindowGroupLimit"),
      s"top-k not pruned below the exchange:\n$p")
    assert(p.matches("(?s).*WindowGroupLimit.*Partial.*"),
      s"no partial (pre-exchange) group limit:\n$p")
  }

  test("geo paths keep the planar shapes: S2 join broadcasts, geo kNN prunes top-k") {
    // S2-cover join: broadcast prefilter + codegen'd s2 cell id on the
    // big side — a silent sort-merge fallback is the 100x regression
    val pts = (0 until 50).map(i => (i.toLong, i * 3.1 - 70.0, i * 6.9 - 170.0))
      .toDF("pt_id", "lat", "lng")
    val polys = spark.createDataset(Seq(graft.PolyRow(0L, 0,
      Array(Array(graft.Pt(-20.0, -10.0), graft.Pt(30.0, -10.0),
        graft.Pt(30.0, 15.0), graft.Pt(-20.0, 15.0))),
      cls = 1, name = "g", measure = 0.0)))
    val joined = SpatialJoin.pointsInPolygonsGeo(pts, polys, level = 6)
    val pg = plan(joined)
    assert(pg.contains("BroadcastHashJoin"), s"S2 cover not broadcast:\n$pg")
    assert(!pg.contains("SortMergeJoin"), "geo join must never sort-merge")
    // the optimizer constant-folds local test data into the scan, so the
    // batched encoder is asserted on the ANALYZED plan (dedupExact pattern)
    assert(joined.queryExecution.analyzed.toString.contains("s2_cell_id"),
      "point side not using the batched s2 encoder")
    // great-circle kNN: top-k pruned below the q_id exchange, same as planar
    val q = Queries.qKnnGeo(spark, "/root/testdata/sf0.001")
    assert(plan(q).contains("WindowGroupLimit"), "geo kNN lost its group-limit pushdown")
  }

  test("classify: zero shuffle (no Exchange anywhere in the plan)") {
    import graft.operators.{Tiler, Training}
    val images = spark.createDataset(Synth.images(4, seed = 2L, bands = 2).toSeq)
    val cellRes = Tiler.resForCellSize(64.0)
    val tiles = Tiler.multiTiles(images, 64, cellRes)
    val model = Training.CentroidModel(Array(1, 2),
      Array(Array(10.0, 20.0), Array(200.0, 100.0)))
    val p = plan(Training.classify(tiles, model).toDF())
    assert(!p.contains("Exchange"), s"classify must not shuffle pixels:\n$p")
    // prob_pixel_bloc analog: same zero-shuffle contract
    val pp = plan(Training.classifyProb(tiles, model).toDF())
    assert(!pp.contains("Exchange"), s"classifyProb must not shuffle pixels:\n$pp")
    // CNN inference: broadcast weights over haloed tiles, no Exchange
    val net = graft.operators.ConvNet.fixtureNet
    val cn = plan(graft.operators.ConvNet.segPredictTiles(
      Tiler.multiTiles(images, 64, cellRes, halo = net.halo), net, 64).toDF())
    assert(!cn.contains("Exchange"), s"segPredictTiles must not shuffle pixels:\n$cn")
    // tiled phase congruency rides the same shape: decode -> haloed
    // tiles -> per-tile FFT kernel, one flatMap chain, zero shuffles
    val pc = plan(graft.operators.PhaseCong.phaseCongTiles(
      Tiler.multiTiles(images, 64, cellRes, halo = 16), tileSize = 64,
      halo = 16, nscale = 2, norient = 2).toDF())
    assert(!pc.contains("Exchange"), s"phaseCongTiles must not shuffle pixels:\n$pc")
    // distributed Canny: the dense tile payloads die inside the
    // candidate flatMap (checkpointed as sparse (image_id, x, y, strong,
    // lab) rows); this small label graph's root map comes back from the
    // CC driver finish as a local relation, so the kept-row plan
    // shuffles nothing (a broadcast of the root map at most)
    val ct = plan(graft.operators.Edge.cannyTiles(
      Tiler.multiTiles(images, 64, cellRes, halo = 4), tileSize = 64,
      halo = 4, lowT = 20, highT = 40))
    assert(ct.contains("lab"), s"cannyTiles plan lost its labeled candidates:\n$ct")
    assert(!ct.linesIterator.exists(l => l.contains("Exchange") && !l.contains("BroadcastExchange")),
      s"cannyTiles kept-row plan shuffles:\n$ct")
    assert(!ct.contains("bands") && !ct.contains("pixels") && !ct.contains("bytes"),
      s"pixel payloads crossed into the hysteresis graph:\n$ct")
    // full tiled phase-edge chain: the rescale extrema aggregate is the
    // only exchange over window payloads' lineage, and it partial-aggs
    // map-side so only (image_id, mn, mx) scalars shuffle
    val pe = plan(graft.operators.PhaseCong.phaseCongEdgesTiles(
      Tiler.multiTiles(images, 64, cellRes, halo = 16), tileSize = 64,
      halo = 16, nscale = 2, norient = 2))
    assert(!pe.contains("bands") && !pe.contains("bytes"),
      s"tile payloads crossed into the edge chain plan:\n$pe")
    assert(!pe.contains("mWin") || {
      val ex = pe.indexOf("Exchange hashpartitioning(image_id")
      ex < 0 || pe.indexOf("partial_min", ex) > ex
    }, s"window M payloads must not cross the extrema exchange:\n$pe")
  }

  test("round-4 distributed builds: shuffles carry summaries, never pixels") {
    import graft.operators.{ConvNet, Rag, Mesh, Tiler => T}
    import graft.gen.GridImages
    val imgs = spark.createDataset(GridImages.images(4, 2).toSeq)
    val masks = spark.createDataset(GridImages.maskImages(4).toSeq)
    // gramForHead: ONE aggregate exchange whose rows are (kind, ra, rb, v)
    // scalars — the pixel/band arrays must be projected away BELOW it
    val backbone = graft.operators.SegNet(
      ConvNet.fixtureNet.layers.take(1), Array(1, 2, 3))
    val chips = ConvNet.collectChipsLabeled(imgs, masks, 16, includeZero = true)
    // the summary-keyed exchange sits ABOVE a map-side partial_sum, so
    // only (kind, ra, rb, sum) scalars shuffle; the chips-building join
    // below legitimately carries image rows and is not the gram shuffle
    def gateSummaryShuffle(p: String, key: String, what: String): Unit = {
      val ex = p.indexOf(s"Exchange hashpartitioning($key")
      assert(ex >= 0, s"$what: summary exchange missing:\n$p")
      val partial = p.indexOf("partial_sum", ex)
      assert(partial > ex, s"$what: no map-side partial agg below the exchange:\n$p")
      // nothing payload-shaped between the exchange and its partial agg
      val window = p.substring(ex, partial)
      assert(!window.contains("bands") && !window.contains("pixels") &&
        !window.contains("bytes"), s"$what: payload crossed the summary exchange")
    }
    gateSummaryShuffle(plan(ConvNet.gramForHead(chips, backbone, nClasses = 4)),
      "kind", "gramForHead")
    // Rag boundary build: (image_id, lo, hi) aggregate exchange
    val segs = spark.createDataset(GridImages.ragSegImages(4).toSeq)
    val rimgs = spark.createDataset(GridImages.ragImages(4).toSeq)
    gateSummaryShuffle(plan(Rag.buildBoundary(segs, rimgs)),
      "image_id", "ragBoundary")
    // maskMoments: map-side partial sums; the ONLY exchange in the whole
    // plan is the 6-doubles-per-tile summary shuffle (the multi-cell
    // dedupe is per-partition consecutive, NOT a dropDuplicates that
    // would shuffle pixel payloads)
    val tiles = T.tiles(imgs, 64, T.resForCellSize(64.0))
    val mm = plan(Mesh.maskMoments(tiles))
    gateSummaryShuffle(mm, "image_id", "maskMoments")
    assert(mm.split("Exchange").length - 1 == 1,
      s"maskMoments must have exactly one exchange:\n$mm")
    val mf = plan(Mesh.meshFromRaster(tiles))
    assert(!mf.contains("Exchange"), s"meshFromRaster must not shuffle:\n$mf")
  }

  test("round-5 compositions: doAc zero-shuffle, imAngle summary-only, iterFit points-only") {
    import graft.gen.GridImages
    import graft.operators.{Snakes, Mesh, Ransac, Hough, Tiler => T2}
    // doAc is a pure per-image flatMap: decode -> ACWE -> polygonize ->
    // area filter, nothing shuffles
    val dimgs = spark.createDataset(GridImages.doAcImages(2).toSeq)
    val pd = plan(Snakes.doAc(dimgs, 75.0, iterations = 2, smoothing = 0).toDF())
    assert(!pd.contains("Exchange"), s"doAc must not shuffle:\n$pd")
    // imAngle: exactly ONE exchange — the 8-scalars-per-tile summary agg
    // with map-side partials; no band payload crosses it
    val mimgs = spark.createDataset(GridImages.meshImages(2).toSeq)
    val tiles = T2.multiTiles(mimgs, 64, T2.resForCellSize(64.0), halo = 1)
    val pa = plan(Mesh.imAngle(tiles, 64))
    assert(pa.split("Exchange").length - 1 == 1,
      s"imAngle must have exactly one exchange:\n$pa")
    val ex = pa.indexOf("Exchange hashpartitioning(image_id")
    val partial = pa.indexOf("partial_sum", math.max(ex, 0))
    assert(ex >= 0 && partial > ex, s"imAngle: no map-side partial agg:\n$pa")
    assert(!pa.substring(ex, partial).contains("bands"),
      s"imAngle: band payload crossed the summary exchange:\n$pa")
    // iterFit: the one exchange groups sparse (image_id, x, y) points —
    // nothing above it may reference the image payload
    val rimgs = spark.createDataset(GridImages.iterRanImages(2).toSeq)
    val pr = plan(Ransac.iterFit(Hough.edgePixels(rimgs, thresh = 50.0), noIter = 2))
    val exr = pr.indexOf("Exchange")
    assert(exr >= 0, s"iterFit: expected a point-group exchange:\n$pr")
    assert(!pr.substring(0, exr).contains("bytes"),
      s"iterFit must shuffle points, never image bytes:\n$pr")
  }

  test("sqlFilter: the user's OGR SQL rides Catalyst pushdown (pruned scan, pushed predicate)") {
    // the reference's sqlfilter materializes the whole layer and filters
    // feature-by-feature; here the SQL string plans like any native
    // query — the n_chars predicate reaches the parquet scan and the
    // untouched text column is never read
    val q = Queries.qSqlFilter(spark, "/root/testdata/sf0.001")
    val p = plan(q)
    assert(p.contains("PushedFilters") && p.contains("GreaterThan(n_chars,400)"),
      s"layer predicate not pushed to the scan:\n${p.take(2000)}")
    assert(!p.contains("text"), s"sqlFilter scan reads the unused text column:\n$p")
  }

  test("minhash LSH: no exchange carries a signature array on per-band rows, or strings at all") {
    // the scale contract of the band-join rewrite: band-bucket rows are
    // (band, bh, doc) IDs — the 64-element signature array crosses an
    // exchange only keyed by a doc id (once per doc, not once per band
    // per side), and raw text/shingles NEVER cross a shuffle (shingle
    // fingerprints hash in place in the scan stage)
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec, ShuffleExchangeExec}
    import org.apache.spark.sql.catalyst.expressions.Attribute
    import org.apache.spark.sql.types.{ArrayType, StringType}
    val q = Queries.qMinhashPairs(spark, "/root/testdata/sf0.001")
    q.collect() // finalize the adaptive plan
    def exchanges(p: SparkPlan): Seq[(String, Seq[Attribute])] = p match {
      case a: AdaptiveSparkPlanExec => exchanges(a.executedPlan)
      case s: QueryStageExec => exchanges(s.plan)
      case s: ShuffleExchangeExec =>
        (s"shuffle ${s.outputPartitioning}", s.output) +: s.children.flatMap(exchanges)
      case b: BroadcastExchangeExec =>
        ("broadcast", b.output) +: b.children.flatMap(exchanges)
      case r: ReusedExchangeExec => Seq(("reused", r.output))
      case o => o.children.flatMap(exchanges)
    }
    val ex = exchanges(q.queryExecution.executedPlan)
    assert(ex.nonEmpty, "expected exchanges in the minhash plan")
    ex.foreach { case (desc, out) =>
      val hasArray = out.exists(_.dataType.isInstanceOf[ArrayType])
      val perBand = out.exists(a => a.name == "band" || a.name == "bh")
      assert(!(hasArray && perBand),
        s"signature array rides per-band rows through [$desc]: ${out.mkString(", ")}")
      assert(!out.exists(_.dataType == StringType),
        s"string payload crossed an exchange [$desc]: ${out.mkString(", ")}")
    }
    // at least one exchange DOES carry the signature array (the per-doc
    // join back) — if none does, the gate is vacuously green because the
    // plan shape changed under us
    assert(ex.exists(_._2.exists(_.dataType.isInstanceOf[ArrayType])),
      "expected the doc-keyed signature join exchange")
  }

  test("rasterize: zero shuffle (broadcast cell->features map, typed map)") {
    import graft.operators.{Tiler, RasterOps}
    val images = spark.createDataset(Synth.images(4, seed = 3L, bands = 1).toSeq)
    val polys = spark.createDataset(Synth.polygons(2).toSeq)
    val cellRes = Tiler.resForCellSize(64.0)
    val tiles = Tiler.tiles(images, 64, cellRes)
    val p = plan(RasterOps.rasterize(tiles, polys, cellRes).toDF())
    assert(!p.contains("Exchange"), s"rasterize must not shuffle pixels:\n$p")
  }

  test("dedupExact: shuffle key is the md5 digest, never the document text") {
    val docs = spark.createDataset(Seq((1L, "some document text")))
      .toDF("doc_id", "text")
    // analyzed plan: the optimizer constant-folds local test data, which
    // would hide the grouping expression
    val p = graft.text.TextOps.dedupExact(docs, "doc_id", "text")
      .queryExecution.analyzed.toString
    assert(p.contains("md5"), s"expected md5 digest grouping key:\n$p")
    // the aggregate keys must not include the raw text column itself
    assert(!p.matches("(?s).*Aggregate \\[text[#,].*"),
      s"raw text must not be a grouping key:\n$p")
  }

  test("IVF corpus assignment: map-side argmax (partial_max_by), not a vec_id window") {
    import graft.text.EmbedOps
    val corpus = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val cents = corpus.orderBy("vec_id").limit(4)
      .select(org.apache.spark.sql.functions.col("vec_id").as("c_id"),
        org.apache.spark.sql.functions.col("embedding"))
    val queries = corpus.limit(2).select(
      org.apache.spark.sql.functions.col("vec_id").as("q_id"),
      org.apache.spark.sql.functions.col("embedding"))
    val p = plan(EmbedOps.ivfTopK(queries, corpus, cents, k = 2, nProbe = 2))
    // partial max_by must fold the corpus x k rows BEFORE any exchange
    assert(p.contains("partial_max_by"),
      s"corpus assignment lost its map-side argmax:\n${p.take(4000)}")
  }

  test("pipeline shard scan: partition-pruned (PartitionFilters), never a full rescan") {
    import graft.plans.Pipeline
    val images = Synth.images(8, seed = 5L, bands = 1)
    val path = Files.createTempDirectory("graft_shardscan_").toString + "/images"
    Pipeline.ingest(spark.createDataset(images.toSeq), path, 4)
    val p = plan(Pipeline.shardScan(path, "s1").toDF())
    assert(p.contains("PartitionFilters"), s"no partition filters:\n$p")
    assert(p.matches("(?s).*PartitionFilters: \\[[^\\]]*shard[^\\]]*s1[^\\]]*\\].*"),
      s"shard predicate not pushed to PartitionFilters (full rescan!):\n$p")
  }

  test("extractSamples: only exchange is the polygon-side broadcast") {
    import graft.operators.{Tiler, Training}
    val images = spark.createDataset(Synth.images(4, seed = 2L, bands = 2).toSeq)
    val polys = spark.createDataset(Synth.polygons(2).toSeq)
    val cellRes = Tiler.resForCellSize(64.0)
    val tiles = Tiler.multiTiles(images, 64, cellRes)
    val p = plan(Training.extractSamples(tiles, polys, cellRes).toDF())
    // the polygon side is a driver-built cell index probed inside the
    // tile flatMap: no exchange of any kind and no join operator
    assert(!p.contains("Exchange") && !p.contains("Join"),
      s"extractSamples must not join or shuffle:\n$p")
  }

  test("zonalRgbIndices, pairHistogram: no join; the only exchange is the final aggregate's") {
    import graft.operators.{Glcm, RasterOps, Tiler}
    val images = spark.createDataset(Synth.images(4, seed = 2L, bands = 3).toSeq)
    val polys = spark.createDataset(Synth.polygons(2).toSeq)
    val cellRes = Tiler.resForCellSize(64.0)
    val rgb = plan(RasterOps.zonalRgbIndices(Tiler.multiTiles(images, 64, cellRes),
      polys, cellRes, shift = 1.0))
    val glcm = plan(Glcm.pairHistogram(Tiler.tiles(images, 64, cellRes, halo = 1),
      polys, cellRes, halo = 1, tileSize = 64))
    for (p <- Seq(rgb, glcm)) {
      assert(!p.contains("Join"), s"plan-level polygon join:\n$p")
      assert("Exchange".r.findAllIn(p).size == 1 &&
        p.contains("Exchange hashpartitioning(poly_id"),
        s"expected exactly the final aggregate's exchange:\n$p")
    }
  }
}

class ImageTableSpec extends AnyFunSuite {
  implicit lazy val spark: SparkSession = SparkTestSession.spark
  import spark.implicits._

  test("write records observed row/byte metrics; read validates schema") {
    val images = Synth.images(6, seed = 4L, bands = 1)
    val path = Files.createTempDirectory("graft_imgtab_").toString + "/t"
    val (rows, bytes) = ImageTable.write(spark.createDataset(images.toSeq), path)
    assert(rows == 6)
    assert(bytes == images.map(_.bytes.length.toLong).sum)
    val back = ImageTable.read(spark, path).collect()
    assert(back.map(_.image_id).sorted.sameElements(images.map(_.image_id).sorted))
    // schema drift fails fast
    spark.range(3).toDF("image_id").write.mode("overwrite").parquet(path + "_bad")
    val err = intercept[IllegalArgumentException](ImageTable.read(spark, path + "_bad"))
    assert(err.getMessage.contains("missing columns"))
    // a wrong-typed column fails on the driver too, naming the column
    spark.read.parquet(path).withColumn("w", org.apache.spark.sql.functions.col("w").cast("long"))
      .write.mode("overwrite").parquet(path + "_wide")
    val wide = intercept[IllegalArgumentException](ImageTable.read(spark, path + "_wide"))
    assert(wide.getMessage.contains("w is BIGINT, expected INT"), wide.getMessage)
  }

  test("read launches no Spark job; its schema is the one Spark infers") {
    val path = Files.createTempDirectory("graft_imgtab_").toString + "/t"
    ImageTable.write(spark.createDataset(Synth.images(6, seed = 4L, bands = 1).toSeq), path)
    val (ds, jobs) = SparkJobs.during(spark)(ImageTable.read(spark, path))
    assert(jobs == 0, s"ImageTable.read launched $jobs job(s)")
    assert(ds.count() == 6)
    assert(graft.sources.ParquetTable.schema(spark, path) == spark.read.parquet(path).schema)
  }
}
