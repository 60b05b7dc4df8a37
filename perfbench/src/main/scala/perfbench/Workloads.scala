package perfbench

import java.io.File
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, Row, SparkSession}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.functions._
import graft.{ImageRow, PolyRow, SparkEntry}
import graft.gen.Synth
import graft.operators.{ConvNet, Tiler, ZonalStats}
import graft.plans.{Pipeline, SnapshotTable}
import graft.sources.ImageTable
import graft.text.TextOps
import Common._

/** A benchmark workload. `setup` materialises the inputs (and expected
  * outputs) from the seed; `warmup` runs the code path once and records
  * reference outputs; `op` is one timed operation of the closed loop;
  * `check` re-verifies outputs after the loop (untimed); `endToEnd` turns
  * the loop's samples into the end-to-end metrics; `layers` derives the
  * per-layer metrics from traced samples plus untimed, traced probes. */
trait Workload {
  def name: String
  def setup(c: Ctx): Unit
  def warmup(c: Ctx): Unit
  def op(c: Ctx, i: Int): Sample
  def check(c: Ctx): Seq[String]
  def endToEnd(c: Ctx, s: Seq[Sample], measuredS: Double): Map[String, Double]
  def layers(c: Ctx, untraced: Seq[Sample]): Map[String, Double]
  /** Human-readable lines printed with the result. */
  def notes(s: Seq[Sample]): Seq[String] = Nil
}

object Workloads {
  val names: Seq[String] = Seq("zonal_scan", "zonal_resume", "cnn_segment", "query_mix")

  def apply(name: String): Workload = name match {
    case "zonal_scan" => new ZonalScan
    case "zonal_resume" => new ZonalResume
    case "cnn_segment" => new CnnSegment
    case "query_mix" => new QueryMix
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  val TileSize = 64
  val CellRes: Int = Tiler.resForCellSize(64.0)
  val Bands = 3

  /** Writes the seeded image table (distributed generation, `files` output
    * files) through the sources layer; returns (decoded pixels, payload
    * bytes). */
  def writeImages(spark: SparkSession, path: String, n: Int, seed: Long,
                  files: Int): (Long, Long) = {
    val ds = spark.range(n).repartition(files)
      .map(i => Synth.imageAt(i, seed, Bands))(Encoders.product[ImageRow])
    val (_, payload) = ImageTable.write(ds, path)
    val px = spark.read.parquet(path)
      .selectExpr(s"sum(cast(w as bigint) * h * $Bands)").head().getLong(0)
    (px, payload)
  }

  def polyDs(spark: SparkSession, polys: Seq[PolyRow]): Dataset[PolyRow] =
    spark.createDataset(polys)(Encoders.product[PolyRow])

  /** Median of a per-sample part over samples that have it. */
  def medPart(s: Seq[Sample], k: String): Double =
    Ledger.median(s.flatMap(_.parts.get(k)))
}

import Workloads._

/** Shared zonal pass and probes (scan prefix, tile prefix, index build). */
abstract class ZonalBase extends Workload {
  protected var imagesPath: String = _
  protected var pixels = 0L
  protected var payload = 0L
  protected var polys: Seq[PolyRow] = Nil

  protected def images(c: Ctx, width: Int): Dataset[ImageRow] =
    c.span("sources.ImageTable.read", "sources") {
      ImageTable.read(c.spark, imagesPath).coalesce(width)
    }

  /** Conf of a `width`-core leg: the width binds the shuffle stages too, so
    * AQE may not coalesce them back to fewer partitions. */
  protected def leg(width: Int) = Seq("spark.sql.shuffle.partitions" -> width.toString,
    "spark.sql.adaptive.coalescePartitions.enabled" -> "false")

  /** Decode -> tile -> broadcast cell index -> PIP -> partial agg -> one
    * Exchange -> final agg, consumed by the noop sink at `width` cores. */
  def pass(c: Ctx, width: Int): Unit = {
    implicit val s: SparkSession = c.spark
    withConf(c.spark, leg(width): _*) {
      val tiles = c.span("operators.Tiler.tiles", "operators") {
        Tiler.tiles(images(c, width), TileSize, CellRes)
      }
      val hist = c.span("operators.ZonalStats.histogram", "operators") {
        ZonalStats.histogram(tiles, polyDs(c.spark, polys), CellRes)
      }
      c.span("spark.noop_sink", "spark")(consume(hist))
    }
  }

  def histogramRows(c: Ctx, width: Int): Seq[String] = {
    implicit val s: SparkSession = c.spark
    withConf(c.spark, leg(width): _*) {
      rowsKey(ZonalStats.histogram(Tiler.tiles(images(c, width), TileSize, CellRes),
        polyDs(c.spark, polys), CellRes).collect())
    }
  }

  /** Wall time of the stages of every job submitted under a span. */
  protected def stageWall(c: Ctx, sp: Span): Double = c.rec.synchronized {
    val ids = c.tracer.subtree(sp.id).map(_.id).toSet
    val st = c.rec.jobs.values.filter(j => ids(j.span)).flatMap(_.stages).toSet
    c.rec.stages.values.filter(s => st(s.id)).map(s => (s.doneMs - s.submitMs) / 1e3).sum
  }

  /** Traced, untimed probes of the zonal layers at `width` cores: a
    * scan-only prefix, a scan -> tiles prefix (both timed by their stage
    * walls, so driver-side planning is left out), the tile-hit count and
    * the polygon cell index build (driver collect + broadcast). */
  def zonalProbes(c: Ctx, width: Int): (Map[String, Double], Double, Double) = {
    implicit val s: SparkSession = c.spark
    import s.implicits._
    val reps = 5
    val scanSpans = (1 to reps).map { _ =>
      c.span("probe.scan", "sources") {
        images(c, width).mapPartitions(it => Iterator(it.size.toLong)).collect().sum
      }
      c.tracer.spans.last
    }
    var emitted = 0L
    val tileSpans = (1 to reps).map { _ =>
      emitted = c.span("probe.tiles", "operators") {
        Tiler.tiles(images(c, width), TileSize, CellRes)
          .mapPartitions(it => Iterator(it.size.toLong)).collect().sum
      }
      c.tracer.spans.last
    }
    val builds = (1 to reps).map { _ =>
      time {
        c.span("probe.index_build", "operators") {
          val pc = ZonalStats.polyCells(polyDs(c.spark, polys), CellRes).collect()
          val bc = c.spark.sparkContext.broadcast(pc.groupBy(_.cell_id))
          bc.destroy()
          pc.length
        }
      }
    }
    val cells = ZonalStats.polyCells(polyDs(c.spark, polys), CellRes)
      .select("cell_id").distinct().as[Long].collect().toSet
    val cellsBc = c.spark.sparkContext.broadcast(cells)
    val hits = Tiler.tiles(images(c, width), TileSize, CellRes)
      .mapPartitions(it => Iterator(it.count(t => cellsBc.value.contains(t.cell_id)).toLong))
      .collect().sum
    cellsBc.destroy()
    c.rec.fence(c.spark.sparkContext)
    val scanS = Ledger.median(scanSpans.map(stageWall(c, _)))
    val tilesPrefix = Ledger.median(tileSpans.map(stageWall(c, _)))
    val scanBytes = du(new File(imagesPath))._1
    (Map(
      "sources.scan_s" -> scanS,
      "sources.scan_bytes" -> scanBytes.toDouble,
      "sources.scan_mb_per_s" -> scanBytes / 1e6 / scanS,
      "operators.Tiler.tiles_s" -> (tilesPrefix - scanS),
      "operators.Tiler.tiles_emitted" -> emitted.toDouble,
      "operators.ZonalStats.tile_hit_ratio" -> hits.toDouble / math.max(1L, emitted),
      "operators.ZonalStats.index_entries" -> builds.head._2.toDouble,
      "operators.ZonalStats.index_build_s" -> Ledger.median(builds.map(_._1))), scanS, tilesPrefix)
  }
}

/** North-rule read path: the k-core pass is the operation. Traced runs
  * also precede every other pass with a 1-core pass (a scaling pair); the
  * untraced runs leave the 4x-longer 1-core legs out, so their loop holds
  * k-core samples only. */
final class ZonalScan extends ZonalBase {
  val name = "zonal_scan"
  val NImages = 320
  private var reference: Seq[String] = Nil
  private val ledger = mutable.ArrayBuffer.empty[String]

  def setup(c: Ctx): Unit = {
    imagesPath = new File(c.work, "zonal_images").getPath
    val (px, pl) = writeImages(c.spark, imagesPath, NImages, c.seed, 4 * c.cores)
    pixels = px; payload = pl
    polys = Synth.polygons(nExtra = 64, seed = c.seed)
  }

  def warmup(c: Ctx): Unit =
    reference = histogramRows(c, c.cores) // also warms the n-core plan

  def op(c: Ctx, i: Int): Sample = {
    val t1 = if (c.pairs && i % 2 == 0) Some(time(c.span("zonal_scan.pass_1", "harness")(pass(c, 1)))._1) else None
    val (tn, _) = time(c.span(s"zonal_scan.pass_${c.cores}", "harness")(pass(c, c.cores)))
    Sample(tn, ok = true, None, Map("tn" -> tn) ++ t1.map("t1" -> _))
  }

  def check(c: Ctx): Seq[String] = {
    val one = histogramRows(c, 1)
    val many = histogramRows(c, c.cores)
    Seq(
      if (one != many) Some(s"zonal_scan: 1-core histogram (${one.size} rows) differs from ${c.cores}-core (${many.size} rows)") else None,
      if (many != reference) Some("zonal_scan: histogram changed between setup and end of run") else None,
      if (reference.isEmpty) Some("zonal_scan: empty histogram") else None).flatten
  }

  def endToEnd(c: Ctx, s: Seq[Sample], measuredS: Double): Map[String, Double] = {
    val good = s.filter(_.ok)
    val pairs = good.filter(_.parts.contains("t1"))
    Map("px_per_s" -> pixels / medPart(good, "tn")) ++
      (if (pairs.isEmpty) Map.empty
       else Map("scaling_eff" -> Ledger.median(pairs.map(x => x.parts("t1") / x.parts("tn") / c.cores))))
  }

  /** The k-core pass split into the five named stages, each measured: the
    * scan and decode + Tiler from the stage walls of the prefix probes, the
    * rest as medians over the traced passes' stages. The driver gap (pass
    * wall with no task running) and the index build probe are measured on
    * their own and shown next to the five, not folded into their sum. */
  def layers(c: Ctx, untraced: Seq[Sample]): Map[String, Double] = {
    val tr = c.tracer; val rec = c.rec
    rec.fence(c.spark.sparkContext)
    val passes = tr.spans.filter(_.name == s"zonal_scan.pass_${c.cores}").toSeq
    val ops = passes.map(p => Ledger.sparkOp(rec, tr, p, c.cores))
    val (probes, scanS, tilesPrefix) = zonalProbes(c, c.cores)
    rec.fence(c.spark.sparkContext)
    // per traced pass: map-stage wall net of shuffle write, shuffle write +
    // fetch wait per slot, and the shuffle-reading stages net of fetch wait
    val split = rec.synchronized {
      passes.map { p =>
        val ids = tr.subtree(p.id).map(_.id).toSet
        val stIds = rec.jobs.values.filter(j => ids(j.span)).flatMap(_.stages).toSet
        val st = rec.stages.values.filter(s => stIds(s.id)).toSeq
        val maps = st.filter(_.isShuffleMap)
        val results = st.filterNot(_.isShuffleMap)
          .filter(s => rec.tasks.exists(t => t.stage == s.id && t.shuffleReadBytes > 0))
        val mapIds = maps.map(_.id).toSet; val resIds = results.map(_.id).toSet
        def wall(ss: Seq[StageRec]) = ss.map(s => (s.doneMs - s.submitMs) / 1e3).sum
        val writeS = rec.tasks.filter(t => mapIds(t.stage)).map(_.shuffleWriteS).sum / c.cores
        val fetchS = rec.tasks.filter(t => resIds(t.stage)).map(_.fetchWaitS).sum / c.cores
        (wall(maps) - writeS, writeS + fetchS, wall(results) - fetchS)
      }
    }
    val untracedWall = medPart(untraced, "tn")
    val histogram = Ledger.median(split.map(_._1)) - tilesPrefix
    val exchange = Ledger.median(split.map(_._2))
    val finalAgg = Ledger.median(split.map(_._3))
    val gap = Ledger.median(ops.map(_.driverGap))
    val build = probes("operators.ZonalStats.index_build_s")
    val parts = Seq("sources scan" -> scanS, "decode + Tiler" -> (tilesPrefix - scanS),
      "ZonalStats histogram (PIP + partial agg)" -> histogram, "exchange" -> exchange,
      "final agg" -> finalAgg)
    val sum5 = parts.map(_._2).sum
    val scanShare = scanS / untracedWall
    def pct(v: Double) = v / untracedWall * 100
    ledger.clear()
    ledger += f"zonal_scan ledger (${c.cores}-core pass; median untraced pass wall $untracedWall%.4f s, median traced pass ${Ledger.median(passes.map(_.dur))}%.4f s over ${passes.size}):"
    parts.foreach { case (k, v) => ledger += f"  $k%-42s $v%9.4f s  ${pct(v)}%6.1f %%" }
    ledger += f"  ${"sum of the five stages"}%-42s $sum5%9.4f s  ${pct(sum5)}%6.1f %%: " +
      (if (math.abs(sum5 / untracedWall - 1) <= 0.10) "within 10 % of the untraced wall"
       else "NOT within 10 % of the untraced wall")
    ledger += "  outside the five, measured apart:"
    ledger += f"  ${"  driver gap (no task running)"}%-42s $gap%9.4f s  ${pct(gap)}%6.1f %%"
    ledger += f"  ${"  index build probe (collect + broadcast)"}%-42s $build%9.4f s  ${pct(build)}%6.1f %%"
    ledger += f"  five stages + driver gap ${sum5 + gap}%.4f s = ${pct(sum5 + gap)}%.1f %% of the untraced wall (the index build's own tasks are in neither; its driver side is in the gap)"
    ledger += f"  scan share ${scanShare * 100}%.1f %%: 'scan is about 60 %% of the flagship leg' is " +
      (if (scanShare >= 0.5 && scanShare <= 0.7) "CONFIRMED" else "REFUTED")
    probes ++ Map(
      "operators.ZonalStats.histogram_s" -> histogram,
      "operators.ZonalStats.partial_rows" -> Ledger.median(ops.map(_.shuffleRecords.toDouble)),
      "ledger.zonal.scan_share" -> scanShare,
      "ledger.zonal.exchange_s" -> exchange,
      "ledger.zonal.final_agg_s" -> finalAgg,
      "ledger.zonal.driver_gap_s" -> gap,
      "ledger.zonal.stages_over_wall" -> sum5 / untracedWall)
  }

  override def notes(s: Seq[Sample]): Seq[String] = ledger.toSeq
}

/** The write path: ingest, a run killed after a seeded shard, resume,
  * stats, compaction and snapshot expiry, in a fresh directory per pass. */
final class ZonalResume extends ZonalBase {
  val name = "zonal_resume"
  val NImages = 64
  val NShards = 4
  val BatchShards = 1
  private var reference: Seq[String] = Nil
  private var passNo = 0
  private val amp = mutable.ArrayBuffer.empty[Double]
  private val facts = mutable.ArrayBuffer.empty[Map[String, Double]]

  /** SnapshotTable that times each commit and pending lookup. */
  final class TimedTable(spark: SparkSession, root: String, c: Ctx,
                         val commits: mutable.ArrayBuffer[Double])
      extends SnapshotTable(spark, root, "shard") {
    override def commit(df: DataFrame, writer: String, declaredKeys: Set[String]): Set[String] = {
      val (t, r) = time(c.span("plans.Snapshot.commit", "plans")(super.commit(df, writer, declaredKeys)))
      commits += t
      r
    }
    override def pending(allKeys: Seq[String]): Seq[String] =
      c.span("plans.Snapshot.pending", "plans")(super.pending(allKeys))
  }

  def setup(c: Ctx): Unit = {
    imagesPath = new File(c.work, "resume_images").getPath
    val (px, pl) = writeImages(c.spark, imagesPath, NImages, c.seed, c.cores)
    pixels = px; payload = pl
    polys = Synth.polygons(nExtra = 1500, seed = c.seed)
    reference = Nil
    passNo = 0
  }

  /** The uninterrupted result every resumed pass must reproduce. */
  private def uninterrupted(c: Ctx): Seq[String] = {
    implicit val s: SparkSession = c.spark
    rowsKey(ZonalStats.stats(ZonalStats.histogram(
      Tiler.tiles(ImageTable.read(c.spark, imagesPath), TileSize, CellRes),
      polyDs(c.spark, polys), CellRes)).collect())
  }

  def warmup(c: Ctx): Unit = {
    reference = uninterrupted(c)
    op(c, -1)
    amp.clear(); facts.clear()
  }

  def op(c: Ctx, i: Int): Sample = {
    implicit val s: SparkSession = c.spark
    if (reference.isEmpty) reference = uninterrupted(c) // untimed: before t0
    passNo += 1
    val dir = new File(c.work, s"resume_pass_$passNo")
    val rng = new Synth.Rng(c.seed * 31 + passNo)
    val failAt = 1 + rng.nextInt(NShards - BatchShards) // the run dies before its last batch
    val commits = mutable.ArrayBuffer.empty[Double]
    // two files per shard partition, as two writers would leave them, so
    // compaction has small files to merge
    try withConf(c.spark, leg(2): _*) {
      val t0 = System.nanoTime()
      val shardPath = new File(dir, "images").getPath
      val (ingestS, _) = time(c.span("plans.Pipeline.ingest", "plans") {
        Pipeline.ingest(ImageTable.read(c.spark, imagesPath), shardPath, NShards)
      })
      val ingestBytes = du(new File(shardPath))._1
      val table = new TimedTable(c.spark, new File(dir, "table").getPath, c, commits)
      val pd = polyDs(c.spark, polys)
      val killed =
        try {
          c.span("plans.Pipeline.run", "plans") {
            Pipeline.run(shardPath, pd, table, NShards, TileSize, CellRes,
              failAfterShards = failAt, batchShards = BatchShards)
          }
          false
        } catch {
          case e: RuntimeException if Option(e.getMessage).exists(_.startsWith("injected failure")) => true
        }
      val redone = c.span("plans.Pipeline.run", "plans") {
        Pipeline.run(shardPath, pd, table, NShards, TileSize, CellRes, batchShards = BatchShards)
      }
      val (statsS, got) = time(c.span("plans.Pipeline.stats", "plans") {
        rowsKey(Pipeline.stats(table).collect())
      })
      val tableDir = new File(dir, "table")
      val (snapBytes, snapFiles) = du(tableDir)
      val manifestBytes = du(new File(tableDir, "manifests"))._1
      val (compactS, _) = time(c.span("plans.Snapshot.compact", "plans")(table.compact()))
      val (afterBytes, afterFiles) = du(tableDir)
      val (expireS, _) = time(c.span("plans.Snapshot.expireSnapshots", "plans")(table.expireSnapshots(1)))
      val wall = (System.nanoTime() - t0) / 1e9
      val rewritten = math.max(0L, afterBytes - snapBytes)
      val written = ingestBytes + snapBytes + rewritten
      if (i >= 0) {
        amp += written.toDouble / payload
        facts += Map(
          "plans.Pipeline.ingest_s" -> ingestS,
          "plans.Pipeline.ingest_bytes" -> ingestBytes.toDouble,
          "plans.Pipeline.shards_redone" -> redone.size.toDouble,
          "plans.Pipeline.stats_s" -> statsS,
          "plans.Snapshot.manifest_bytes" -> manifestBytes.toDouble,
          "plans.Snapshot.data_bytes" -> (snapBytes - manifestBytes).toDouble,
          "plans.Snapshot.files_written" -> (snapFiles + math.max(0, afterFiles - snapFiles)).toDouble,
          "plans.Snapshot.compact_s" -> compactS,
          "plans.Snapshot.bytes_rewritten" -> rewritten.toDouble,
          "plans.Snapshot.expire_s" -> expireS)
      }
      val err =
        if (!killed) Some(s"zonal_resume: run with failAfterShards=$failAt did not fail")
        else if (redone.isEmpty) Some("zonal_resume: resume processed no shards")
        else if (got != reference) Some(s"zonal_resume: resumed stats (${got.size} rows) differ from uninterrupted stats (${reference.size} rows)")
        else None
      Sample(wall, err.isEmpty, err, commits = commits.toSeq)
    } finally deleteTree(dir)
  }

  def check(c: Ctx): Seq[String] =
    if (reference.isEmpty) Seq("zonal_resume: empty reference stats") else Nil

  def endToEnd(c: Ctx, s: Seq[Sample], measuredS: Double): Map[String, Double] = {
    val good = s.filter(_.ok)
    val commits = good.flatMap(_.commits)
    Map(
      "px_per_s" -> pixels / Ledger.median(good.map(_.wall)),
      "commit_p50_s" -> Ledger.median(commits),
      "commit_tail_s" -> tail(commits).map(_._2).getOrElse(commits.max),
      "write_amp" -> Ledger.median(amp.toSeq))
  }

  override def notes(s: Seq[Sample]): Seq[String] = {
    val commits = s.filter(_.ok).flatMap(_.commits)
    tail(commits) match {
      case Some((p, v)) => Seq(f"zonal_resume.commit_tail_s is p$p of ${commits.size} commits ($v%.4f s)")
      case None => Seq(s"zonal_resume.commit_tail_s: only ${commits.size} commits, reported the maximum")
    }
  }

  def layers(c: Ctx, untraced: Seq[Sample]): Map[String, Double] = {
    c.rec.fence(c.spark.sparkContext)
    val tr = c.tracer
    val keys = facts.flatMap(_.keys).distinct
    val fromFacts = keys.map(k => k -> Ledger.median(facts.flatMap(_.get(k)).toSeq)).toMap
    val commitS = Ledger.median(tr.spans.filter(_.name == "plans.Snapshot.commit").map(_.dur).toSeq)
    val pendingS = Ledger.median(tr.spans.filter(_.name == "plans.Snapshot.pending").map(_.dur).toSeq)
    fromFacts ++ Map("plans.Snapshot.commit_s" -> commitS, "plans.Snapshot.pending_s" -> pendingS) ++
      zonalProbes(c, c.cores)._1
  }
}

/** CNN inference: haloed multi-band tiles -> conv forward -> labels. */
final class CnnSegment extends Workload {
  val name = "cnn_segment"
  val NImages = 320
  private var path: String = _
  private var pixels = 0L
  private var digest0: (Long, Long) = (0L, 0L)
  private val net = ConvNet.fixtureNet3

  private def labels(c: Ctx): Dataset[graft.TileRow] = {
    implicit val s: SparkSession = c.spark
    val im = c.span("sources.ImageTable.read", "sources")(ImageTable.read(c.spark, path).coalesce(c.cores))
    val tiles = c.span("operators.Tiler.multiTiles", "operators") {
      Tiler.multiTiles(im, TileSize, CellRes, halo = net.halo)
    }
    c.span("operators.ConvNet.segPredictTiles", "operators")(ConvNet.segPredictTiles(tiles, net, TileSize))
  }

  private def digest(c: Ctx): (Long, Long) = {
    val r = labels(c).toDF().agg(count(lit(1)),
      expr("bit_xor(xxhash64(image_id, cell_id, tx, ty, pixels))")).head()
    (r.getLong(0), r.getLong(1))
  }

  def setup(c: Ctx): Unit = {
    path = new File(c.work, "cnn_images").getPath
    pixels = writeImages(c.spark, path, NImages, c.seed ^ 0x636e6eL, 4 * c.cores)._1
  }

  def warmup(c: Ctx): Unit = {
    digest0 = digest(c) // also warms the plan
    consume(labels(c).toDF())
  }

  def op(c: Ctx, i: Int): Sample = {
    val (t, _) = time(c.span("cnn_segment.pass", "harness")(consume(labels(c).toDF())))
    Sample(t, ok = true, None)
  }

  def check(c: Ctx): Seq[String] = {
    val d = digest(c)
    Seq(
      if (d != digest0) Some(s"cnn_segment: label digest $d differs from the setup digest $digest0") else None,
      if (digest0._1 == 0L) Some("cnn_segment: no label tiles") else None).flatten
  }

  def endToEnd(c: Ctx, s: Seq[Sample], measuredS: Double): Map[String, Double] =
    Map("px_per_s" -> pixels / Ledger.median(s.filter(_.ok).map(_.wall)))

  def layers(c: Ctx, untraced: Seq[Sample]): Map[String, Double] = {
    implicit val s: SparkSession = c.spark
    import s.implicits._
    val t = (1 to 3).map { _ =>
      time {
        Tiler.multiTiles(ImageTable.read(c.spark, path).coalesce(c.cores), TileSize, CellRes,
          halo = net.halo).mapPartitions(it => Iterator(it.size.toLong)).collect().sum
      }._1
    }
    Map("operators.Tiler.multitiles_s" -> Ledger.median(t))
  }
}

/** One closed-loop client over the spatial and text queries on the sample
  * of the sf0.1 tables kept in the benchmark's data directory. An operation is one
  * round: the nine queries in a seeded order. The round, not a single
  * query, is the latency unit because the query times differ by class, so
  * a median over single queries jumps between the classes with the
  * round's mix. */
final class QueryMix extends Workload {
  val name = "query_mix"
  val Spatial = Seq("q_knn", "q_knn_hex", "q_zonal_box_stats", "q_pip_geo")
  val Text = Seq("q_minhash_pairs", "q_dedup_clusters", "q_simhash_pairs", "q_ann_lsh", "q_ann_ivf")
  val All: Seq[String] = Spatial ++ Text
  val Tables = Seq("lineitem", "customer", "documents", "embeddings")
  var dataDir: String = _
  private var tableRows: Seq[(String, Long)] = Nil
  private val first = mutable.LinkedHashMap.empty[String, Seq[String]]
  private val firstRows = mutable.LinkedHashMap.empty[String, (StructType, Array[Row])]
  private var rng: Synth.Rng = _

  /** One query as a client runs it: plan, execute, collect the rows. */
  private def run(c: Ctx, q: String): (StructType, Array[Row]) = {
    val layer = if (Spatial.contains(q)) "operators" else "text"
    c.span(q, layer) {
      val df = SparkEntry.queries(q)(c.spark, dataDir)
      (df.schema, df.collect())
    }
  }

  def setup(c: Ctx): Unit = {
    dataDir = c.data.getPath
    val missing = Tables.filterNot(t => new File(c.data, s"$t.parquet").exists())
    require(missing.isEmpty, s"query tables missing under $dataDir: ${missing.mkString(", ")}")
    tableRows = Tables.map(t => t -> c.spark.read.parquet(s"$dataDir/$t.parquet").count())
    first.clear(); firstRows.clear()
    rng = new Synth.Rng(c.seed ^ 0x6f72646572L)
  }

  /** The nine queries shuffled by the seeded generator. */
  private def nextOrder(): Seq[String] = {
    val a = All.toArray
    var k = a.length - 1
    while (k > 0) { val j = rng.nextInt(k + 1); val t = a(k); a(k) = a(j); a(j) = t; k -= 1 }
    a.toSeq
  }

  /** Two rounds. The first records each query's reference result, which
    * later runs of the query must equal; it also compiles most of the code
    * path, and the second round still runs about a third slower than later
    * ones. */
  def warmup(c: Ctx): Unit = {
    All.foreach { q =>
      firstRows(q) = run(c, q)
      first(q) = rowsKey(firstRows(q)._2)
    }
    All.foreach(run(c, _))
  }

  def op(c: Ctx, i: Int): Sample = {
    val times = nextOrder().map { q =>
      val (t, (_, result)) = time(run(c, q))
      val rows = rowsKey(result)
      first.getOrElseUpdate(q, rows)
      val err = if (rows != first(q)) Some(s"$q result (${rows.size} rows) differs from its first result (${first(q).size} rows)") else None
      (q, t, err)
    }
    val errs = times.flatMap(_._3)
    Sample(times.map(_._2).sum, errs.isEmpty,
      if (errs.isEmpty) None else Some(errs.mkString("query_mix: ", "; ", "")),
      parts = times.map { case (q, t, _) => q -> t }.toMap)
  }

  def check(c: Ctx): Seq[String] =
    first.collect { case (q, rows) if rows.isEmpty => s"query_mix: $q returned no rows" }.toSeq

  /** Writes each query's first result and its DuckDB oracle SQL for the
    * out-of-process oracle comparison. */
  def writeOracleInputs(c: Ctx, out: File): Unit = {
    out.mkdirs()
    firstRows.foreach { case (q, (schema, rows)) =>
      c.spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema).coalesce(1)
        .write.mode("overwrite").parquet(new File(out, q).getPath)
    }
    val sql = All.map(q => q -> SparkEntry.oracleSql(q))
    val json = sql.map { case (q, s) => "\"" + q + "\": " + Json.str(s) }.mkString("{", ",\n", "}")
    java.nio.file.Files.writeString(new File(out, "oracle_sql.json").toPath, json)
  }

  private def queryTimes(s: Seq[Sample], qs: Seq[String]): Seq[Double] =
    s.filter(_.ok).flatMap(x => qs.flatMap(x.parts.get))

  def endToEnd(c: Ctx, s: Seq[Sample], measuredS: Double): Map[String, Double] = {
    val all = queryTimes(s, All)
    Map(
      "spatial_p50_s" -> Ledger.median(queryTimes(s, Spatial)),
      "text_p50_s" -> Ledger.median(queryTimes(s, Text)),
      "tail_s" -> tail(all).map(_._2).getOrElse(all.max),
      "qps" -> all.size / measuredS)
  }

  override def notes(s: Seq[Sample]): Seq[String] = {
    val w = queryTimes(s, All)
    val perQuery = All.map(q => f"$q ${Ledger.median(queryTimes(s, Seq(q)))}%.4f").mkString(", ")
    val rows = first.map { case (q, r) => s"$q ${r.size}" }.mkString(", ")
    Seq(s"query_mix tables $dataDir, rows: ${tableRows.map { case (t, n) => s"$t $n" }.mkString(", ")}",
      s"query_mix median s per query: $perQuery", s"query_mix result rows: $rows") ++
      (tail(w) match {
        case Some((p, v)) => Seq(f"query_mix.tail_s is p$p of ${w.size} queries ($v%.4f s)")
        case None => Seq(s"query_mix.tail_s: only ${w.size} queries, reported the maximum")
      })
  }

  def layers(c: Ctx, untraced: Seq[Sample]): Map[String, Double] = {
    c.rec.fence(c.spark.sparkContext)
    val tr = c.tracer
    def spansOf(q: String) = tr.spans.filter(_.name == q).toSeq
    def med(q: String) = Ledger.median(spansOf(q).map(_.dur))
    def opMed(q: String)(f: SparkOp => Double) =
      Ledger.median(spansOf(q).map(sp => f(Ledger.sparkOp(c.rec, tr, sp, c.cores))))
    // candidate pairs: the same MinHash LSH banding without the estimate filter
    val docs = c.spark.read.parquet(s"$dataDir/documents.parquet")
      .where(size(split(col("text"), " ")) <= 120)
    val candidates = TextOps.minHashLsh(docs, "doc_id", "text", shingleN = 3,
      numHashes = 64, bands = 16).count()
    Map(
      "operators.Knn.knn_s" -> med("q_knn"),
      "operators.Knn.knn_hex_s" -> med("q_knn_hex"),
      "operators.Knn.shuffle_records" -> opMed("q_knn")(_.shuffleRecords.toDouble),
      "operators.SpatialJoin.pip_geo_s" -> med("q_pip_geo"),
      "operators.Components.cc_s" -> (med("q_dedup_clusters") - med("q_minhash_pairs")),
      "operators.Components.cc_jobs" -> (opMed("q_dedup_clusters")(_.jobs.toDouble) -
        opMed("q_minhash_pairs")(_.jobs.toDouble)),
      "text.TextOps.minhash_s" -> med("q_minhash_pairs"),
      "text.TextOps.lsh_verified_ratio" -> first("q_minhash_pairs").size.toDouble / math.max(1L, candidates),
      "text.TextOps.simhash_s" -> med("q_simhash_pairs"),
      "text.EmbedOps.lsh_s" -> med("q_ann_lsh"),
      "text.EmbedOps.ivf_s" -> med("q_ann_ivf"),
      "text.EmbedOps.ivf_scan_bytes" -> opMed("q_ann_ivf")(_.inputBytes.toDouble))
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\r' => "\\r"
    case '\t' => "\\t"; case ch if ch < ' ' => f"\\u${ch.toInt}%04x"; case ch => ch.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
}
