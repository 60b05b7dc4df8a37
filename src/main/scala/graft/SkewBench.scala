package graft

import org.apache.spark.sql.{Encoders, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Skew-machinery evidence bench (north rule: "skew from dense cells is
 * handled by salted repartitioning plus AQE skew-join splitting").
 * Not part of the driver BENCH flow — run manually:
 *
 *   sbt -batch "runMain graft.SkewBench"
 *
 * Fixture: a location-sorted image table (repartitionByRange on x_min —
 * the layout a spatially-clustered 100 TB table actually has) where
 * 7/8 of the images stack onto one hot zone, under a 512-vertex star
 * polygon whose zigzag boundary defeats the interior-tile shortcut —
 * so the per-pixel PIP refine (512 edge tests per center) dominates
 * decode, and ALL of it lands in the input partitions holding the hot
 * zone. The broadcast cell join gives AQE no shuffle to split: this is
 * exactly the case `Skew.saltedRepartition` exists for.
 *
 * A/B (same session, interleaved, best-of-3):
 *  - plain: histogram straight off the sorted input partitions
 *  - salted: tiles re-bucketed by (cell_id, salt) before the PIP kernel
 * plus the `Skew.hotKeys` probe output that justifies engaging it.
 */
object SkewBench {

  private def session(cpus: Int): SparkSession = {
    val s = operators.Skew.skewSession(SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-skew-bench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** 512-vertex star (alternating outer/inner radius) centred on the hot
    * zone: every covered tile is a BOUNDARY tile, so each pixel center
    * pays the full 512-edge containment scan. */
  private def starPoly(cx: Double, cy: Double, rOut: Double, rIn: Double,
                       vertices: Int): PolyRow = {
    val ring = Array.tabulate(vertices) { i =>
      val ang = 2.0 * math.Pi * i / vertices
      val r = if (i % 2 == 0) rOut else rIn
      Pt(cx + r * math.cos(ang), cy + r * math.sin(ang))
    }
    PolyRow(0L, 0, Array(ring), cls = 1, name = "star", measure = 0.0)
  }

  private def time[A](f: => A): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
  }

  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16").toInt
    val nImages = sys.env.getOrElse("SPARK_GRAFT_SKEW_IMAGES", "3072").toInt
    implicit val spark: SparkSession = session(cpus)
    import spark.implicits._

    // hot zone: 7/8 of images tile one 1024x1024 world square; the rest
    // spread over a 16x wider band. Deterministic placement from the id.
    val hotX = 100000.0; val hotY = 100000.0
    val images = spark.range(nImages).map { i =>
      val base = gen.Synth.imageAt(i, seed = 7L, bands = 1)
      if (i % 8 != 0) {
        val slot = i - i / 8 - 1 // dense index over the 7-of-8 hot images
        base.copy(x_min = hotX + (slot % 16) * 64.0,
                  y_max = hotY - (slot / 16 % 16) * 64.0)
      } else
        base.copy(x_min = hotX + 2048.0 + (i / 8) * 512.0, y_max = hotY)
    }(Encoders.product[ImageRow])
      // the realistic on-disk layout: spatially sorted -> the hot zone's
      // rows concentrate in very few input partitions
      .repartitionByRange(cpus, col("x_min"))

    val polys = spark.createDataset(Seq(
      starPoly(hotX + 512.0, hotY - 512.0, rOut = 900.0, rIn = 200.0,
        vertices = 512)))(Encoders.product[PolyRow])
    val cellRes = operators.Tiler.resForCellSize(64.0)
    val tiles = operators.Tiler.tiles(images, 64, cellRes)

    // the driver-side probe that justifies salting: one partial agg
    val hot = operators.Skew.hotKeys(tiles.toDF, "cell_id", topN = 3)
    val total = tiles.count()
    println(f"[skew] tiles=$total hotKeys=${hot.toSeq}")

    def plain(): Unit = {
      operators.ZonalStats.histogram(tiles, polys, cellRes).count(); ()
    }
    def salted(): Unit = {
      val s = operators.Skew.saltedRepartition(tiles.toDF, "cell_id",
        factor = cpus, uniqueCols = Seq("image_id", "tx", "ty", "band"))
        .as[TileRow](Encoders.product[TileRow])
      operators.ZonalStats.histogram(s, polys, cellRes).count(); ()
    }
    plain(); salted() // warm (JIT + codegen)
    val runs = (1 to 3).map(_ => (time(plain()), time(salted())))
    val tp = runs.map(_._1).min; val ts = runs.map(_._2).min
    println(f"[skew] plain_best=$tp%.2f s salted_best=$ts%.2f s " +
      f"speedup=${tp / ts}%.2fx (pairs: ${runs.map(p => f"${p._1}%.2f/${p._2}%.2f").mkString(", ")})")

    // ---- mechanism 2: AQE skew-join splitting on the kNN SHUFFLE join.
    // 92% of a 400k-point table lands in one grid cell, so the cell-keyed
    // join (broadcast disabled — at the design scale neither side fits a
    // broadcast) gets one oversized shuffle partition; AQE splits it at
    // runtime. Thresholds are tuned down to demo scale the same way a
    // cluster operator tunes them to partition volume (the hot partition
    // here is ~2 MB compressed; the 256 MB default targets real
    // executor-sized partitions).
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "512k")
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "256k")
    val nPts = 400000
    val skewPts = spark.range(nPts).map { i =>
      if (i % 12 != 0) // hot cell: all inside one 64x64 world square
        (i, hotX + (i % 64) + 0.25, hotY - (i / 64 % 64) - 0.25)
      else (i, (i % 2000) * 3.0 + 0.5, (i % 997) * 2.0 + 0.5)
    }.toDF("pt_id", "x", "y")
    val skewQs = spark.range(256).map(i =>
      (i, hotX + (i % 16) * 4 + 0.7, hotY - (i / 16 % 16) * 4 - 0.7))
      .toDF("q_id", "x", "y")
    def knnRun(): Unit = {
      operators.Knn.knnJoin(skewQs, skewPts, k = 5, res = cellRes, r1 = 1).count(); ()
    }
    def withSkewJoin(on: Boolean)(f: => Unit): Double =
      Bench.withConfs(spark, "spark.sql.adaptive.skewJoin.enabled" -> on.toString)(time(f))
    knnRun() // warm
    val aqeRuns = (1 to 3).map(_ => (withSkewJoin(false)(knnRun()), withSkewJoin(true)(knnRun())))
    val toff = aqeRuns.map(_._1).min; val ton = aqeRuns.map(_._2).min
    println(f"[skew] aqe_off_best=$toff%.2f s aqe_on_best=$ton%.2f s " +
      f"speedup=${toff / ton}%.2fx (pairs: ${aqeRuns.map(p => f"${p._1}%.2f/${p._2}%.2f").mkString(", ")})")

    // ---- mechanism 3: connected components on a HUB graph — the skew
    // shape near-dup clustering actually meets (one template document
    // matched by everything + long duplicate chains). The hub node's
    // neighborhood min partial-aggregates map-side, and the star joins
    // key on node ids under the same AQE skew configs; the 1000-link
    // chains prove log-round (not diameter-round) convergence at volume.
    val nHub = 600000
    val hubEdges = spark.range(nHub)
      .select(lit("hub").as("a"), concat(lit("n"), col("id")).as("b"))
    val chainEdges = spark.range(200L * 999).select(
      concat(lit("c"), (col("id") / 999).cast("long"), lit("_"),
        pmod(col("id"), lit(999))).as("a"),
      concat(lit("c"), (col("id") / 999).cast("long"), lit("_"),
        pmod(col("id"), lit(999)) + 1).as("b"))
    val edges = hubEdges.union(chainEdges)
    // every component has >= 2 nodes, so each one has a non-root row;
    // the hub's root ("hub" < "n...") carries none, hence the + 1
    def ccRun(): Long = operators.Components
      .connectedRoots(edges, "a", "b").select("component").distinct().count()
    val ccWarm = ccRun() // warm
    val tcc = (1 to 2).map(_ => time(ccRun())).min
    val hubSize = operators.Components.connectedRoots(edges, "a", "b")
      .where(col("component") === "hub").count() + 1
    println(f"[skew] cc_hub_best=$tcc%.2f s components=$ccWarm " +
      s"(expect 201) hub_component=$hubSize (expect ${nHub + 1}) " +
      s"edges=${nHub + 200 * 999}")
    spark.stop()
  }
}
