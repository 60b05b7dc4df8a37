package perfbench

import java.io.File
import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import graft.gen.Synth
import Common._

/** The benchmark driver process: one `local[k]` session, one workload per
  * invocation, a closed loop of timed operations for `--seconds`.
  *
  * Untraced (`--trace 0`): set-up (a fresh session and the inputs
  * materialised from the seed) is repeated `Setups` times and its median
  * reported; one warm-up follows; then the loop runs with no listener and
  * no spans, and the end-to-end metrics are computed. A traced run sets up
  * once, as it reports no `setup_s`.
  *
  * Traced (`--trace 1`): the loop runs in untraced, traced, traced,
  * untraced blocks (the untraced walls are the base of
  * `trace.overhead_frac`); traced blocks have a SparkListener and harness
  * spans. Traced probes of every layer follow. Layers the invoked workload does not call are measured by one
  * traced operation of the workload that does, so every per-layer metric
  * is a measurement. The Spark-free kernel microbench runs last.
  *
  * Results go to `--out` as JSON; the launcher prints them. */
object Main {

  val Setups = 3

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        work: File, data: File, out: File, cores: Int)

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", new File(need("work")), new File(need("data")), new File(need("out")),
      need("cores").toInt)
  }

  def session(cores: Int, work: File): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      // small status-store retention keeps the live heap flat over a run
      .config("spark.sql.ui.retainedExecutions", "10")
      .config("spark.ui.retainedJobs", "20")
      .config("spark.ui.retainedStages", "20")
      .config("spark.ui.retainedTasks", "1000")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Closed loop: the next operation starts when the previous one ends.
    * Runs until `seconds` of loop time have passed (at least `minOps`).
    * Returns the samples and the loop seconds. */
  def loop(wl: Workload, c: Ctx, seconds: Double, minOps: Int, from: Int)
      : (Seq[Sample], Double) = {
    val out = mutable.ArrayBuffer.empty[Sample]
    val t0 = System.nanoTime()
    def loopS = (System.nanoTime() - t0) / 1e9
    while (out.size < minOps || loopS < seconds) {
      val s =
        try {
          val r = c.span("op", "harness")(wl.op(c, from + out.size))
          if (c.tracer.enabled) r.copy(spanId = c.tracer.spans.last.id) else r
        } catch {
          case t: Throwable if scala.util.control.NonFatal(t) =>
            Sample(0.0, ok = false, Some(s"${wl.name} op ${from + out.size}: ${describe(t)}"))
        }
      out += s
    }
    (out.toSeq, loopS)
  }

  def main(argv: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val a = parse(argv)
    require(Workloads.names.contains(a.workload), s"unknown workload '${a.workload}'")
    a.work.mkdirs(); a.out.mkdirs()
    val wl = Workloads(a.workload)
    val rec = new SparkRecorder
    var spark: SparkSession = null
    val plain = new Tracer(false, spark.sparkContext)
    val errors = mutable.ArrayBuffer.empty[String]
    val notes = mutable.ArrayBuffer.empty[String]
    var attempted = 0
    var failed = 0

    // ---- set-up, repeated: a fresh session and the inputs from the seed
    val setupS = (1 to (if (a.trace) 1 else Setups)).map { _ =>
      if (spark != null) { spark.stop(); SparkSession.clearActiveSession(); SparkSession.clearDefaultSession() }
      time {
        spark = session(a.cores, a.work)
        wl.setup(new Ctx(spark, plain, rec, a.seed, a.work, a.data, a.cores, a.trace))
      }._1
    }
    val ctx = new Ctx(spark, plain, rec, a.seed, a.work, a.data, a.cores, a.trace)
    val warmS = time(wl.warmup(ctx))._1
    // the live heap after a full GC, sampled outside timing after warm-up
    // and after the loop (mid-loop samples would land on different
    // operations from run to run)
    val heapWarm = oldGenAfterGc()

    // ---- the closed loop. A traced run splits it into untraced, traced,
    // traced and untraced blocks of half the time each, so JIT warm-up and
    // host drift fall on both sides of trace.overhead_frac alike; the
    // listener is attached only during traced blocks.
    val tr = new Tracer(true, spark.sparkContext)
    val tctx = new Ctx(spark, tr, rec, a.seed, a.work, a.data, a.cores, a.trace)
    val untraced = mutable.ArrayBuffer.empty[Sample]
    val traced = mutable.ArrayBuffer.empty[Sample]
    var loopS = 0.0
    var tracedGc = 0.0
    (if (a.trace) Seq(false, true, true, false) else Seq(false)).foreach { on =>
      val secs = if (a.trace) a.seconds / 2 else a.seconds
      val from = untraced.size + traced.size
      if (on) {
        spark.sparkContext.addSparkListener(rec)
        val g0 = gcSeconds()
        traced ++= loop(wl, tctx, secs, minOps = 1, from)._1
        rec.fence(spark.sparkContext)
        spark.sparkContext.removeSparkListener(rec)
        tracedGc += gcSeconds() - g0
      } else {
        val (s, l) = loop(wl, ctx, secs, minOps = 1, from)
        untraced ++= s; loopS += l
      }
    }
    val samples = untraced.toSeq
    val heapPeak = math.max(heapWarm, oldGenAfterGc())
    attempted += samples.size
    samples.filterNot(_.ok).foreach { s => failed += 1; errors ++= s.error }
    val e2e = wl.endToEnd(ctx, samples.filter(_.ok), loopS)
    val good = samples.filter(_.ok)
    val walls = good.map(_.wall)
    val metrics = mutable.LinkedHashMap.empty[String, Double]
    metrics("setup_s") = Ledger.median(setupS)
    metrics("op_p50_s") = Ledger.median(walls)
    metrics("heap_peak_mb") = heapPeak / 1e6
    notes += f"set-up runs: ${setupS.map(t => f"$t%.3f").mkString(", ")} s; warm-up $warmS%.3f s"
    notes += (tail(walls) match {
      case Some((p, v)) => f"op_p50_s over ${walls.size} operations; tail p$p = $v%.4f s"
      case None => s"op_p50_s over ${walls.size} operations (too few for a tail with ten beyond it)"
    })
    notes += walls.map(w => f"$w%.3f").mkString("operation walls (s): ", ", ", "")
    notes ++= wl.notes(samples)
    e2e.foreach { case (k, v) => notes += f"${a.workload}.$k = $v%.6g" }

    val layers = mutable.LinkedHashMap.empty[String, Double]
    if (a.trace) {
      val ts = traced.toSeq
      attempted += ts.size
      ts.filterNot(_.ok).foreach { s => failed += 1; errors ++= s.error }
      // probes below are traced too
      spark.sparkContext.addSparkListener(rec)
      val gcProbes0 = gcSeconds()
      val tgood = ts.filter(_.ok)
      val opSpans = tgood.flatMap(s => tr.spans.find(_.id == s.spanId))
      val sops = opSpans.map(sp => Ledger.sparkOp(rec, tr, sp, a.cores))
      def med(f: SparkOp => Double) = Ledger.median(sops.map(f))
      val self = opSpans.map(sp => Ledger.selfTimes(rec, tr, sp))
      val selfLayers = self.flatMap(_.keys).distinct.sorted
      notes += s"self time per operation by layer (median of ${opSpans.size} traced operations):"
      selfLayers.foreach { l =>
        notes += f"  $l%-10s ${Ledger.median(self.map(_.getOrElse(l, 0.0)))}%.4f s"
      }
      layers ++= wl.layers(tctx, samples)
      notes += "traced operations:"
      notes ++= wl.notes(ts)
      e2e.foreach { case (k, v) => layers(s"workload.${a.workload}.$k") = v }
      // layers the invoked workload does not call: one traced operation of
      // each other workload, in the same session
      Workloads.names.filterNot(_ == a.workload).foreach { n =>
        val o = Workloads(n)
        try {
          o.setup(tctx)
          val os = Seq(tr.span("op", "harness")(o.op(tctx, 0)))
          o.layers(tctx, os).foreach { case (k, v) => if (!layers.contains(k)) layers(k) = v }
          o.endToEnd(tctx, os.filter(_.ok), os.map(_.wall).sum)
            .foreach { case (k, v) => layers(s"workload.$n.$k") = v }
          notes ++= o.notes(os)
          attempted += os.size
          os.filterNot(_.ok).foreach { s => failed += 1; errors ++= s.error }
        } catch {
          case t: Throwable if scala.util.control.NonFatal(t) =>
            attempted += 1; failed += 1; errors += s"probe $n: ${describe(t)}"
        }
      }
      rec.fence(spark.sparkContext)
      tracedGc += gcSeconds() - gcProbes0
      layers("spark.jobs") = med(_.jobs)
      layers("spark.stages") = med(_.stages)
      layers("spark.tasks") = med(_.tasks)
      layers("spark.task_s_p50") = med(_.taskP50)
      layers("spark.task_s_max") = med(_.taskMax)
      layers("spark.task_skew") = med(_.skew)
      layers("spark.slot_idle_frac") = med(_.slotIdle)
      layers("spark.driver_gap_s") = med(_.driverGap)
      layers("spark.input_bytes") = med(_.inputBytes.toDouble)
      layers("spark.shuffle_write_bytes") = med(_.shuffleWrite.toDouble)
      layers("spark.shuffle_read_bytes") = med(_.shuffleRead.toDouble)
      layers("spark.spill_bytes") = med(_.spill.toDouble)
      // GC pauses are rare per operation (a large young generation), so
      // both GC figures are totals over the traced blocks and the probes
      layers("spark.gc_s") = rec.synchronized(rec.tasks.map(_.gcS).sum)
      layers("spark.executor_cpu_s") = med(_.cpuS)
      layers("jvm.gc_pause_s") = tracedGc
      layers("trace.overhead_frac") = Ledger.median(tgood.map(_.wall)) / Ledger.median(walls) - 1
      notes += f"trace.overhead_frac = ${layers("trace.overhead_frac")}%.4f (median traced op ${Ledger.median(tgood.map(_.wall))}%.4f s vs untraced ${Ledger.median(walls)}%.4f s)"
      val kImages = (0 until 24).map(i => Synth.imageAt(i.toLong, a.seed, Workloads.Bands))
      layers ++= Kernels.run(a.seed, kImages, Synth.polygons(nExtra = 64, seed = a.seed))
      writeSpans(tr, rec, new File(a.out, "spans.json"))
    }

    // ---- output checks after the loop (untimed)
    attempted += 1
    val t0 = System.nanoTime()
    val checkErrs =
      try wl.check(ctx)
      catch { case t: Throwable if scala.util.control.NonFatal(t) => Seq(s"check: ${describe(t)}") }
    if (checkErrs.nonEmpty) { failed += 1; errors ++= checkErrs }
    wl match {
      case m: QueryMix => m.writeOracleInputs(ctx, new File(a.out, "mix_oracle"))
      case _ =>
    }
    notes += f"output checks ${(System.nanoTime() - t0) / 1e9}%.3f s"
    spark.stop()

    val json = new StringBuilder
    def obj(m: collection.Map[String, Double]) =
      m.map { case (k, v) => Json.str(k) + ": " + Json.num(v) }.mkString("{", ", ", "}")
    json ++= "{\"attempted\": " + attempted + ", \"failed\": " + failed
    json ++= ", \"metrics\": " + obj(metrics)
    json ++= ", \"layers\": " + obj(layers)
    json ++= ", \"errors\": " + errors.map(Json.str).mkString("[", ", ", "]")
    json ++= ", \"notes\": " + notes.map(Json.str).mkString("[", ", ", "]")
    json ++= "}"
    java.nio.file.Files.writeString(new File(a.out, "result.json").toPath, json.toString)
  }

  /** Spans and Spark jobs of the traced run, for offline inspection. */
  def writeSpans(tr: Tracer, rec: SparkRecorder, f: File): Unit = {
    val sb = new StringBuilder("{\"spans\": [")
    sb ++= tr.spans.map(s => s"""{"id": ${s.id}, "parent": ${s.parent}, "name": ${Json.str(s.name)}, "layer": ${Json.str(s.layer)}, "start_ms": ${s.startMs}, "end_ms": ${s.endMs}}""").mkString(",\n")
    sb ++= "], \"jobs\": ["
    rec.synchronized {
      sb ++= rec.jobs.values.map(j => s"""{"job": ${j.id}, "span": ${j.span}, "start_ms": ${j.startMs}, "end_ms": ${j.endMs}, "stages": [${j.stages.mkString(", ")}]}""").mkString(",\n")
    }
    sb ++= "]}"
    java.nio.file.Files.writeString(f.toPath, sb.toString)
  }
}
