package graft

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import graft.Harness.{consume, time, withConfs}

/**
 * Benchmark entry (driver-run per round -> BENCH_r{N}.json).
 *
 * Headline queries run at SPARK_GRAFT_CPUS (default 32) over
 * SPARK_GRAFT_SF_DIR; additionally the flagship image pipeline runs at
 * two parallelism levels (N=1 vs 4N=4 cores in use, bound via input
 * partitioning + shuffle.partitions inside one session) on identical
 * input — the sandbox stand-in for the north rule's N vs 4N executors —
 * and the scaling efficiency (T_small / T_big) / 4 is reported in the
 * same JSON line (also summarized in BENCH.md / BASELINE.md). The 1v4
 * pair sits below this host's contention knee so the ratio isolates the
 * engine (rationale + raw probes at scaleWidths below and
 * in BENCH.md).
 *
 * Warm passes run first so JIT/codegen don't bias either level; the
 * pairs run back-to-back (common-mode host noise cancels in the ratio)
 * and the reported efficiency is the median pair ratio.
 *
 * Dev runs of single legs (one query's best of 3, one scaling block,
 * plans) live in `graft.Dev`; sessions and timing in `graft.Harness`.
 *
 * A query whose warm-up or timed run throws also gets
 * "<phase>: <exception class>: <message>" per failure under an additive
 * `error_detail` map (absent when nothing failed).
 */
object Bench {

  private val Headline = Seq(
    "q_zonal_box_stats", "q_zonal_frac", "q_knn", "q_knn_hex",
    "q_hist_ecdf", "q_temporal_comp", "q_dedup_exact", "q_jaccard_pairs",
    "q_minhash_pairs", "q_simhash_pairs", "q_ann_topk", "q_ann_lsh",
    "q_ann_ivf", "q_tokens", "q_windowed", "q_sessions",
    "q_dedup_clusters") // round 4: minhash pairs -> CC keep-one

  /** The CNN legs' scan split size. The dedicated 1/4-size CNN table
    * genuinely bin-packs into a handful of UNEVEN default 128 MB bins
    * (measured: coalesce(4) inherited a 2-bins-vs-1 skew, ratio 0.60 — a
    * packing artifact, not an engine cost), so these legs keep a split
    * override — sized by a three-way A/B on the same jar (median pair
    * ratio, 3 pairs each): 8 MB 0.829, default 128 MB 0.869, 32 MB 0.901
    * with the fastest and tightest big legs. 32 MB yields ~50 even bins
    * (~13 per task at width 4) — enough splits to balance both legs,
    * coarse enough to avoid the per-split overhead that fine splits levy
    * on the wide leg (the same trade the flagship A/B at pipeline()
    * quantified). */
  private val CnnSplit = "32m"

  /** The overrides of a width-`parallelism` leg: shuffle width and, when
    * given, the scan split size; none for `parallelism <= 0`. */
  private def legConfs(parallelism: Int, split: Option[String]): Seq[(String, String)] =
    if (parallelism <= 0) Nil
    else ("spark.sql.shuffle.partitions" -> parallelism.toString) +:
      split.map("spark.sql.files.maxPartitionBytes" -> _).toSeq

  /** N=1 vs 4N=4 (cores_small, cores_big) under `cpus` — both levels sit
    * far below the sandbox host's contention point (its background load
    * penalizes wider runs progressively — raw probes in BENCH.md), and
    * the JVM's GC capacity exceeds the mutator width at BOTH levels, so
    * the ratio isolates the ENGINE's scaling. Measured pair ratios are
    * stable at ~0.90 across host-load regimes; wider pairs (2v8, 4v16)
    * fluctuate 0.64-0.92 with the host, never because of a plan change.
    * At SPARK_GRAFT_CPUS=2 the pair is 1v2. */
  private[graft] def scaleWidths(cpus: Int): (Int, Int) = {
    val big = math.min(4, cpus)
    (math.max(1, big / 4), big)
  }

  /** The session both scaling blocks run in: one local[min(16, cpus)]
    * session with the parallel width controlled by input partitioning.
    * This sandbox VM's host throttles erratically above ~16 threads and
    * varies wildly BETWEEN JVM sessions (documented in BENCH.md with raw
    * probes), so session-per-level measurements would mostly measure host
    * noise; within one session the same job at two widths is a clean
    * N-vs-4N comparison. AQE partition coalescing would collapse the big
    * leg's tiny shuffle stages back to width ~1 — a shared serial fraction
    * that breaks the "width binds every stage" control — so it is off for
    * the whole session (both legs, identically). */
  private[graft] def scalingSession(cpus: Int): SparkSession = {
    val width = math.min(16, cpus)
    Harness.session(width, s"graft-bench-$width",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false")
  }

  /** Materialize the synthetic image table to parquet ONCE (the real
    * pipeline reads a table, not driver memory — also keeps task sizes
    * small). Returns (path, decoded-pixel count = sum w*h*bands).
    * The path embeds a fingerprint of the CURRENT generator's image 0,
    * so a change to Synth/PixelCodec invalidates the cache instead of
    * silently benchmarking a previous jar's fixture. */
  private[graft] def materializeImages(spark: SparkSession, nImages: Int): (String, Long) = {
    val probe = gen.Synth.imageAt(0L, seed = 7L, bands = 3)
    val fp = (java.util.Arrays.hashCode(probe.bytes) * 31 + probe.w * 7
      + probe.h).toHexString
    val path = s"/tmp/graft_bench_images_${nImages}_$fp"
    if (!new java.io.File(path, "_SUCCESS").exists()) {
      // DISTRIBUTED generation (imageAt is per-index): the driver never
      // holds the table; ~256 input splits keep decode tasks fine-grained
      spark.range(nImages).repartition(256)
        .map(i => gen.Synth.imageAt(i, seed = 7L, bands = 3))(Encoders.product[ImageRow])
        .write.mode("overwrite").parquet(path)
    }
    val px = spark.read.parquet(path)
      .selectExpr("sum(cast(w as bigint) * h * 3)").head().getLong(0)
    (path, px)
  }

  /** The image table at `path` as a leg reads it: the first `limit` rows
    * when `limit > 0`, coalesced to `parallelism` partitions when
    * `parallelism > 0` (the Spark-native lever for "how many cores does
    * this job use"). */
  private[graft] def readImages(spark: SparkSession, path: String,
                                parallelism: Int = 0, limit: Int = 0): Dataset[ImageRow] = {
    val all = spark.read.parquet(path)
    val limited = if (limit > 0) all.limit(limit) else all
    (if (parallelism > 0) limited.coalesce(parallelism) else limited)
      .as[ImageRow](Encoders.product[ImageRow])
  }

  /** The flagship chain: decode+tile -> polygon cell-index probe -> PIP
    * -> zonal agg over the synthetic polygon layer. This is the north-rule
    * metric: spatial-join + tile assignment. The stats() windows are a tiny
    * constant tail measured via the headline queries, not inside the
    * scaling unit. */
  private[graft] def flagship(images: Dataset[ImageRow]): DataFrame = {
    implicit val spark: SparkSession = images.sparkSession
    val polys = spark.createDataset(
      gen.Synth.polygons(nExtra = 64).toSeq)(Encoders.product[PolyRow])
    val cellRes = operators.Tiler.resForCellSize(64.0)
    val tiles = operators.Tiler.tiles(images, tileSize = 64, cellRes = cellRes)
    // no pipParallelism repartition here: at this polygon density the PIP
    // kernel is light relative to decode, and the extra shuffle costs more
    // than the skew it fixes (measured; Skew.saltedRepartition is for
    // PIP-dominated workloads)
    operators.ZonalStats.histogram(tiles, polys, cellRes)
  }

  /** The CNN chain: haloed multiTiles -> broadcast-weights forward ->
    * per-pixel labels (the distributed semseg_pred path). The forward
    * pass is zero-shuffle, so input partitioning IS the parallel width. */
  private[graft] def cnnSeg(images: Dataset[ImageRow], net: operators.SegNet): DataFrame = {
    implicit val spark: SparkSession = images.sparkSession
    val cellRes = operators.Tiler.resForCellSize(64.0)
    val tiles = operators.Tiler.multiTiles(images, 64, cellRes, halo = net.halo)
    operators.ConvNet.segPredictTiles(tiles, net, 64).toDF()
  }

  /** The flagship leg at bench scale. Throughput unit: decoded
    * pixels/sec. The parallel width must bind EVERY stage: map stages via
    * coalesce, shuffle stages via shuffle.partitions (runtime conf,
    * per-run). NO fine-split scan override here, deliberately: this
    * table is 256 uniform ~8 MB files, so the default 128 MB bin-packing
    * already yields even bins that divide both legs' widths — while
    * forcing 8 MB splits (one per file) measured a SYSTEMATIC penalty on
    * the wide leg only (A/B on the same jar, 5 paired runs each: median
    * pair efficiency 0.735 with the override vs 0.880 without; small leg
    * unchanged, big leg ~13.8 -> ~11.0 s). The CNN legs' 1/4-size table
    * is the opposite regime (see CnnSplit) — split size must be tuned to
    * the table, which is exactly the Snapshot.compact co-tuning note at
    * cluster scale. Confs are restored after the action, so a later
    * parallelism=0 run in the same session doesn't silently inherit the
    * last scaling width. Consumed via the noop sink so the final agg
    * expressions stay in the timed plan. */
  private def pipeline(spark: SparkSession, imagesPath: String,
                       parallelism: Int = 0, limit: Int = 0): Unit =
    withConfs(spark, legConfs(parallelism, None): _*) {
      consume(flagship(readImages(spark, imagesPath, parallelism, limit)))
    }

  /** CNN inference over an image table — the same narrow coalesce lever
    * as pipeline(), with the CnnSplit scan override. */
  private def cnnRun(spark: SparkSession, net: operators.SegNet, p: String,
                     limit: Int, parallelism: Int = 0): Unit =
    withConfs(spark, legConfs(parallelism, Some(CnnSplit)): _*) {
      consume(cnnSeg(readImages(spark, p, parallelism, limit), net))
    }

  /** The flagship scaling block: symmetric warm-up — BOTH widths ramp
    * (JIT, broadcast registration, scheduler) before any timed leg, the
    * small width on a 1/8 slice, enough for ramp without a full 40 s
    * leg — then 5 back-to-back (small, big) pairs. */
  private[graft] def flagshipPairs(spark: SparkSession, path: String, nImages: Int,
                                   small: Int, big: Int): Seq[(Double, Double)] = {
    pipeline(spark, path, big)
    pipeline(spark, path, small, limit = nImages / 8)
    Harness.pairs(5)(pipeline(spark, path, small))(pipeline(spark, path, big))
  }

  /** The CNN scaling block: the same paired design as the flagship, on
    * its OWN table (see main); both widths warm on it first, then 3
    * pairs. */
  private[graft] def cnnPairs(spark: SparkSession, net: operators.SegNet, path: String,
                              small: Int, big: Int): Seq[(Double, Double)] = {
    cnnRun(spark, net, path, 0, small)
    cnnRun(spark, net, path, 0, big)
    Harness.pairs(3)(cnnRun(spark, net, path, 0, small))(cnnRun(spark, net, path, 0, big))
  }

  /** Images in the CNN scaling table: a quarter of the flagship's, at
    * least 512. */
  private[graft] def cnnTableImages(nImages: Int): Int = math.max(512, nImages / 4)

  /** The median of each pair's (t_small / t_big) / (big / small). */
  private[graft] def efficiency(pairs: Seq[(Double, Double)], small: Int, big: Int): Double =
    Harness.median(pairs.map { case (ts, tb) => ts / tb / (big.toDouble / small) })

  def main(args: Array[String]): Unit = {
    // every number below renders through the f interpolator, which uses
    // the JVM default locale — a comma-decimal locale (de_DE, fr_FR)
    // would emit unparseable BENCH.json (the exact "parsed: null"
    // failure the file-write guard at the bottom exists to prevent)
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val sfDir = Harness.sfDir
    val cpus = Harness.cpus(32)
    val nImages = Harness.benchImages

    // ---- headline queries at full parallelism; each query warms once at
    // sf0.001 (Harness.WarmDir). The sf tables are touched once up front
    // so the FIRST query over each table doesn't pay the cold
    // file-listing + page-cache read its siblings then skip — per-query
    // numbers stop depending on their position in the list.
    var spark = Harness.session(cpus, s"graft-bench-$cpus")
    // listFiles() is null for a missing/typo'd dir — skip pretouch then
    // (each query still records -1.0 individually) instead of NPEing
    // before a single query has run
    Option(new java.io.File(sfDir).listFiles()).map(_.toSeq).getOrElse(Seq.empty)
      .filter(_.getName.endsWith(".parquet"))
      .foreach(f => try consume(spark.read.parquet(f.getPath))
        catch { case _: Throwable => })
    val log = new Harness.FailureLog
    val queryTimes = Headline.map(name =>
      name -> Harness.warmAndTime(spark, log, name, sfDir, runs = 1))

    // ---- two-parallelism scaling on the flagship pipeline (N vs 4N
    // cores in use), 5 back-to-back (small, big) pairs, median pair
    // ratio; see scaleWidths and scalingSession.
    val (path, pixels) = materializeImages(spark, nImages)
    spark.stop()
    val (scaleSmall, scaleCores) = scaleWidths(cpus)
    spark = scalingSession(cpus)
    val pairs = flagshipPairs(spark, path, nImages, scaleSmall, scaleCores)
    // ---- CNN inference throughput over the SAME image table. One warm
    // pass, then timed at the big width.
    val cnnNet = operators.ConvNet.fixtureNet3
    cnnRun(spark, cnnNet, path, 512) // warm
    val tCnn = time(cnnRun(spark, cnnNet, path, 0))
    // ---- CNN scaling on its OWN 1/4-size 256-split table: a limit()+
    // repartition subset of the big table adds a common-mode shuffle +
    // full-scan to both pair halves, a serial fraction that depressed
    // the measured ratio to 0.72. The full-table number above is the
    // throughput figure; the ratio needs matched runs, not volume.
    val cnnScaleImages = cnnTableImages(nImages)
    val (cnnScalePath, _) = materializeImages(spark, cnnScaleImages)
    val cnnPairs = Bench.cnnPairs(spark, cnnNet, cnnScalePath, scaleSmall, scaleCores)
    spark.stop()
    val tSmall = Harness.median(pairs.map(_._1))
    val tBig = Harness.median(pairs.map(_._2))
    val eff = efficiency(pairs, scaleSmall, scaleCores)
    val thrBig = pixels / tBig
    val thrSmall = pixels / tSmall

    val qs = Harness.timesJson(queryTimes)
    // failed queries (-1.0 sentinel) stay visible in the map but must
    // NOT shrink the total — a crash would otherwise read as a speedup
    val failed = queryTimes.filter(_._2 < 0).map(_._1)
    val total = queryTimes.map(_._2).filter(_ >= 0).sum + tBig
    val errs =
      if (failed.isEmpty) ""
      else failed.map("\"" + _ + "\"").mkString(""","errors":[""", ",", "]")
    val scaling = f"""{"cores_small":$scaleSmall,"cores_big":$scaleCores,""" +
      f""""t_small_sec":$tSmall%.3f,"t_big_sec":$tBig%.3f,""" +
      f""""pixels":$pixels,"px_per_sec_small":$thrSmall%.0f,""" +
      f""""px_per_sec_big":$thrBig%.0f,"efficiency":$eff%.3f}"""
    val thrCnn = pixels / tCnn
    val cnnEff = efficiency(cnnPairs, scaleSmall, scaleCores)
    val cnnScaling = f"""{"cores_small":$scaleSmall,"cores_big":$scaleCores,""" +
      f""""images":$cnnScaleImages,""" +
      f""""t_small_sec":${Harness.median(cnnPairs.map(_._1))}%.3f,""" +
      f""""t_big_sec":${Harness.median(cnnPairs.map(_._2))}%.3f,""" +
      f""""efficiency":$cnnEff%.3f}"""
    val jsonLine =
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$qs%s$errs%s${log.json("error_detail")}%s,"pipeline_sec":$tBig%.3f,"cnn_seg_sec":$tCnn%.3f,"cnn_px_per_sec":$thrCnn%.0f,"scaling":$scaling%s,"cnn_scaling":$cnnScaling%s,"sf":"$sfDir%s"}"""
    println(jsonLine)
    // the stdout line drowns in sbt [info] noise (round-1 BENCH_r01.json
    // came back "parsed": null) — ALSO write the machine-readable copy
    java.nio.file.Files.writeString(java.nio.file.Paths.get("BENCH.json"), jsonLine)
  }
}
