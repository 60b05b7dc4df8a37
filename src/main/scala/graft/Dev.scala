package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{Encoders, SparkSession}
import org.apache.spark.sql.functions._
import graft.Harness.time

/**
 * Dev runs that are not part of the graded `graft.Bench` line:
 *
 *   sbt "runMain graft.Dev best [q_name ...]"
 *   sbt "runMain graft.Dev plans [--out=<dir>] [--suffix=<s>] <name> ..."
 *   sbt "runMain graft.Dev scaling [cnn]"
 *   sbt "runMain graft.Dev skew"
 *
 * `best` warms each query once at sf0.001, then keeps the best of 3 noop
 * consumes at $SPARK_GRAFT_SF_DIR (default sf0.1). With no names it times
 * [[BestDefault]] — the kernels no headline query covers, so a regression
 * in them is visible — and also writes the line to BENCH_extra.json:
 * `queries` maps each name to its best time (-1 when every timed run
 * failed), and `errors` (absent when nothing failed) maps each name with
 * a failed warm-up or timed run to "<phase>: <exception class>:
 * <message>" per failure. Names are checked before any Spark work.
 *
 * `plans` writes `explain("formatted")` of each named SparkEntry query,
 * or of the Bench chains `pipeline` / `cnn` over Bench's 512-image
 * table, to <dir>/<name>_<suffix>.txt (suffix default "after"), or to
 * stdout without --out.
 *
 * `scaling` runs only Bench's flagship scaling block (`scaling cnn`: the
 * CNN block) and prints each pair and the median efficiency — for
 * A/B-ing a harness control on the same jar.
 *
 * `skew` is the skew-machinery evidence bench (north rule: "skew from
 * dense cells is handled by salted repartitioning plus AQE skew-join
 * splitting"); see `skew` below.
 *
 * Width: $SPARK_GRAFT_CPUS, default the host's core count.
 */
object Dev {

  /** `best`'s default list: the big-raster TILED kernel paths
    * (q_canny_tiled, q_phasecong_tiled, q_cv2norm_tiles) — the shapes a
    * 100 TB raster actually uses — the CNN tiled forward, GLCM and RAG,
    * then the whole-image kernels no other bench times. */
  val BestDefault = Seq("q_canny_tiled", "q_phasecong_tiled", "q_cv2norm_tiles",
    "q_cnn_seg", "q_glcm", "q_rag", "q_hough", "q_ransac", "q_snake",
    "q_snake_gac", "q_snake_buf", "q_morphology", "q_phasecong")

  /** `plans`' names beyond the SparkEntry queries: the Bench chains. */
  private val Chains = Set("pipeline", "cnn")

  /** Images in the table `plans pipeline|cnn` explains over — Bench's
    * smallest fixture; plan shape does not depend on the table size. */
  private val PlanImages = 512

  /** Images in the skew bench's hot-zone table. */
  private val SkewImages = 3072

  private val Usage = "usage: graft.Dev best [q_name ...] | " +
    "plans [--out=<dir>] [--suffix=<s>] <name> ... | scaling [cnn] | skew"

  /** `names`, each checked up front against SparkEntry.queries plus
    * `extra`: a typo'd name fails before any Spark work, naming the bad
    * entries, instead of after minutes of timing. */
  private[graft] def checkNames(names: Seq[String], extra: Set[String] = Set.empty): Seq[String] = {
    val unknown = names.filterNot(n => SparkEntry.queries.contains(n) || extra(n))
    require(unknown.isEmpty, s"names not in SparkEntry.queries: ${unknown.mkString(",")}")
    names
  }

  /** `best`'s line: {"sf", "queries": {name: best s}, "errors":
    * {name: [failure, ...]}}. */
  private[graft] def bestLine(sfDir: String, best: Seq[(String, Double)],
                              log: Harness.FailureLog): String =
    s"""{"sf":${Harness.jsonString(sfDir)},"queries":${Harness.timesJson(best)}${log.json("errors")}}"""

  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val sfDir = Harness.sfDir
    val cpus = Harness.cpus(Runtime.getRuntime.availableProcessors)
    args.toList match {
      case "best" :: names => best(sfDir, cpus, checkNames(names))
      case "plans" :: rest =>
        val (opts, names) = rest.partition(_.startsWith("--"))
        val kv = opts.map { o =>
          val (k, v) = o.span(_ != '=')
          require((k == "--out" || k == "--suffix") && v.length > 1, s"$o: $Usage")
          k -> v.drop(1)
        }.toMap
        require(names.nonEmpty, Usage)
        plans(sfDir, cpus, checkNames(names, Chains), kv.get("--out"),
          kv.getOrElse("--suffix", "after"))
      case List("scaling") => scaling(cpus, cnn = false)
      case List("scaling", "cnn") => scaling(cpus, cnn = true)
      case List("skew") => skew(cpus)
      case _ => throw new IllegalArgumentException(Usage)
    }
  }

  private def best(sfDir: String, cpus: Int, asked: Seq[String]): Unit = {
    val names = if (asked.isEmpty) BestDefault else asked
    val spark = Harness.session(cpus, s"graft-dev-$cpus")
    val log = new Harness.FailureLog
    val out = names.map(n => n -> Harness.warmAndTime(spark, log, n, sfDir, runs = 3))
    spark.stop()
    val line = bestLine(sfDir, out, log)
    println(line)
    if (asked.isEmpty) Files.writeString(Paths.get("BENCH_extra.json"), line)
  }

  private def plans(sfDir: String, cpus: Int, names: Seq[String],
                    outDir: Option[String], suffix: String): Unit = {
    implicit val spark: SparkSession = Harness.session(cpus, s"graft-dev-$cpus")
    lazy val images = Bench.readImages(spark, Bench.materializeImages(spark, PlanImages)._1)
    outDir.foreach(d => Files.createDirectories(Paths.get(d)))
    names.foreach { name =>
      val df = name match {
        case "pipeline" => Bench.flagship(images)
        case "cnn" => Bench.cnnSeg(images, operators.ConvNet.fixtureNet3)
        case q => SparkEntry.queries(q)(spark, sfDir)
      }
      val txt = df.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
      outDir match {
        case Some(d) =>
          val f = Paths.get(d, s"${name}_$suffix.txt")
          Files.writeString(f, txt)
          println(s"[plans] wrote $f (${txt.length} chars)")
        case None => println(s"[plans] $name\n$txt")
      }
    }
    spark.stop()
  }

  private def scaling(cpus: Int, cnn: Boolean): Unit = {
    val nImages = Harness.benchImages
    val spark = Bench.scalingSession(cpus)
    val (small, big) = Bench.scaleWidths(cpus)
    val pairs =
      if (cnn) {
        val (path, _) = Bench.materializeImages(spark, Bench.cnnTableImages(nImages))
        Bench.cnnPairs(spark, operators.ConvNet.fixtureNet3, path, small, big)
      } else {
        val (path, _) = Bench.materializeImages(spark, nImages)
        Bench.flagshipPairs(spark, path, nImages, small, big)
      }
    spark.stop()
    val tag = if (cnn) "[scaling cnn]" else "[scaling]"
    pairs.foreach { case (ts, tb) =>
      println(f"$tag pair ts=$ts%.2f tb=$tb%.2f ratio=${Bench.efficiency(Seq(ts -> tb), small, big)}%.3f")
    }
    println(f"$tag cores=$small%dv$big%d median_eff=${Bench.efficiency(pairs, small, big)}%.3f")
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

  /**
   * Three skew mechanisms, each A/B'd in one session (interleaved, best
   * of 3 unless noted):
   *
   * 1. Salting. Fixture: a location-sorted image table (repartitionByRange
   *    on x_min — the layout a spatially-clustered 100 TB table actually
   *    has) where 7/8 of the images stack onto one hot zone, under a
   *    512-vertex star polygon whose zigzag boundary defeats the
   *    interior-tile shortcut — so the per-pixel PIP refine (512 edge
   *    tests per center) dominates decode, and ALL of it lands in the
   *    input partitions holding the hot zone. The broadcast cell join
   *    gives AQE no shuffle to split: this is exactly the case
   *    `Skew.saltedRepartition` exists for. plain (histogram straight off
   *    the sorted input partitions) vs salted (tiles re-bucketed by
   *    (cell_id, salt) before the PIP kernel), plus the `Skew.hotKeys`
   *    probe output that justifies engaging it.
   * 2. AQE skew-join splitting on the kNN shuffle join, off vs on.
   * 3. Connected components on a hub graph (best of 2), with its
   *    component count and hub size.
   *
   * The session sets skewedPartitionFactor=3 (Spark's default is 5); the
   * other AQE flags it relies on are Spark's defaults.
   */
  private def skew(cpus: Int): Unit = {
    implicit val spark: SparkSession = Harness.session(cpus, "graft-dev-skew",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "3")
    import spark.implicits._

    // hot zone: 7/8 of images tile one 1024x1024 world square; the rest
    // spread over a 16x wider band. Deterministic placement from the id.
    val hotX = 100000.0; val hotY = 100000.0
    val images = spark.range(SkewImages).map { i =>
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
      Harness.withConfs(spark, "spark.sql.adaptive.skewJoin.enabled" -> on.toString)(time(f))
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
