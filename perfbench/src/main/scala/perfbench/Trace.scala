package perfbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One harness span: a call the harness makes into a layer. Times are
  * wall-clock milliseconds (with a nanoTime duration), the clock Spark
  * stamps its job, stage and task events with. */
final case class Span(id: Int, parent: Int, name: String, layer: String,
                      startMs: Double, endMs: Double) {
  def dur: Double = (endMs - startMs) / 1e3
}

/** Task-level facts kept from a SparkListenerTaskEnd. */
final case class TaskRec(stage: Int, startMs: Long, endMs: Long, cpuS: Double, gcS: Double, inputBytes: Long,
                         shuffleWriteBytes: Long, shuffleWriteRecords: Long,
                         shuffleWriteS: Double, shuffleReadBytes: Long,
                         fetchWaitS: Double, spillBytes: Long)

final case class StageRec(id: Int, submitMs: Long, doneMs: Long, isShuffleMap: Boolean)

final case class JobRec(id: Int, span: Int, startMs: Long, var endMs: Long,
                        stages: Seq[Int])

/** Records Spark job, stage and task events and tags each job with the
  * harness span that was innermost when the job was submitted (the span id
  * rides the job's local properties). Events arrive on the listener bus
  * thread; `fence` runs a marker job and waits for its end event, after
  * which every earlier event has been delivered (the bus is FIFO). */
final class SparkRecorder extends SparkListener {
  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  val stages = mutable.LinkedHashMap.empty[Int, StageRec]
  val tasks = mutable.ArrayBuffer.empty[TaskRec]
  private val shuffleMapStages = mutable.HashSet.empty[Int]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanKey)))
      .map(_.toInt).getOrElse(-1)
    jobs(e.jobId) = JobRec(e.jobId, span, e.time, -1L, e.stageIds)
    notifyAll()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
    notifyAll()
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val s = e.stageInfo
    stages(s.stageId) = StageRec(s.stageId, s.submissionTime.getOrElse(0L),
      s.completionTime.getOrElse(0L), shuffleMapStages(s.stageId))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      // a stage whose tasks write shuffle output is a shuffle-map stage
      if (m.shuffleWriteMetrics.bytesWritten > 0) shuffleMapStages += e.stageId
      tasks += TaskRec(e.stageId, e.taskInfo.launchTime, e.taskInfo.finishTime,
        m.executorCpuTime / 1e9, m.jvmGCTime / 1e3,
        m.inputMetrics.bytesRead, m.shuffleWriteMetrics.bytesWritten,
        m.shuffleWriteMetrics.recordsWritten, m.shuffleWriteMetrics.writeTime / 1e9,
        m.shuffleReadMetrics.totalBytesRead, m.shuffleReadMetrics.fetchWaitTime / 1e3,
        m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  /** Blocks until the marker job's end event has been delivered. */
  def fence(sc: SparkContext): Unit = {
    sc.setLocalProperty(Tracer.SpanKey, Tracer.FenceSpan.toString)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(Tracer.SpanKey, null)
    val deadline = System.nanoTime() + 30_000_000_000L
    synchronized {
      def done = jobs.values.exists(j => j.span == Tracer.FenceSpan && j.endMs >= 0)
      while (!done && System.nanoTime() < deadline) wait(100)
      require(done, "listener bus did not deliver the fence job within 30 s")
      // forget the marker so the next fence waits for its own job
      jobs.filterInPlace((_, j) => j.span != Tracer.FenceSpan)
    }
  }
}

/** Harness-side spans. With tracing off `span` is a plain call: no clock
  * reads, no local property, no listener. */
final class Tracer(val enabled: Boolean, sc: => SparkContext) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Int]
  private var nextId = 0

  def span[A](name: String, layer: String)(f: => A): A =
    if (!enabled) f
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      val wall = System.currentTimeMillis().toDouble
      val t0 = System.nanoTime()
      stack.push(id)
      sc.setLocalProperty(Tracer.SpanKey, id.toString)
      try f
      finally {
        stack.pop()
        val t1 = System.nanoTime()
        spans += Span(id, parent, name, layer, wall, wall + (t1 - t0) / 1e6)
        sc.setLocalProperty(Tracer.SpanKey, stack.headOption.map(_.toString).orNull)
      }
    }

  /** The span and all its descendants. */
  def subtree(root: Int): Seq[Span] = {
    val kids = spans.groupBy(_.parent)
    def go(id: Int): Seq[Span] =
      spans.filter(_.id == id).toSeq ++ kids.getOrElse(id, Nil).flatMap(s => go(s.id))
    go(root)
  }
}

object Tracer {
  val SpanKey = "perfbench.span"
  val FenceSpan: Int = -7
}

/** Spark-layer facts for one operation (a harness span and its subtree). */
final case class SparkOp(jobs: Int, stages: Int, tasks: Int, taskP50: Double,
                         taskMax: Double, skew: Double, slotIdle: Double,
                         driverGap: Double, inputBytes: Long, shuffleWrite: Long,
                         shuffleRead: Long, shuffleRecords: Long, spill: Long,
                         gcS: Double, cpuS: Double)

object Ledger {

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** Length of the union of closed intervals. */
  def unionLen(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0; var curS = Double.NaN; var curE = Double.NaN
    iv.filter(p => p._2 > p._1).sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (!curS.isNaN) total += curE - curS
    total
  }

  /** Spark facts of every job submitted under `span` or its descendants. */
  def sparkOp(rec: SparkRecorder, tr: Tracer, span: Span, width: Int): SparkOp =
    rec.synchronized {
      val ids = tr.subtree(span.id).map(_.id).toSet
      val js = rec.jobs.values.filter(j => ids(j.span)).toSeq
      val stageIds = js.flatMap(_.stages).toSet
      val st = rec.stages.values.filter(s => stageIds(s.id)).toSeq
      val ts = rec.tasks.filter(t => stageIds(t.stage)).toSeq
      val durs = ts.map(t => (t.endMs - t.startMs) / 1e3)
      val skew = st.flatMap { s =>
        val d = ts.filter(_.stage == s.id).map(t => (t.endMs - t.startMs) / 1e3)
        val p50 = median(d)
        if (d.size >= 2 && p50 > 0) Some(d.max / p50) else None
      }.foldLeft(1.0)(math.max)
      val wall = span.dur
      val busy = unionLen(ts.map(t => (t.startMs.toDouble, t.endMs.toDouble))) / 1e3
      SparkOp(js.size, st.size, ts.size, if (durs.isEmpty) 0.0 else median(durs),
        if (durs.isEmpty) 0.0 else durs.max, skew,
        math.max(0.0, 1.0 - durs.sum / (wall * width)),
        math.max(0.0, wall - busy), ts.map(_.inputBytes).sum,
        ts.map(_.shuffleWriteBytes).sum, ts.map(_.shuffleReadBytes).sum,
        ts.map(_.shuffleWriteRecords).sum, ts.map(_.spillBytes).sum,
        ts.map(_.gcS).sum, ts.map(_.cpuS).sum)
    }

  /** Self time per layer over a set of spans: a span's duration minus the
    * part of it its child spans and its own Spark jobs cover; Spark jobs
    * count as layer "spark". */
  def selfTimes(rec: SparkRecorder, tr: Tracer, root: Span): Map[String, Double] =
    rec.synchronized {
      val sub = tr.subtree(root.id)
      val kids = sub.groupBy(_.parent)
      val jobsBySpan = rec.jobs.values.filter(_.endMs >= 0).groupBy(_.span)
      val acc = mutable.HashMap.empty[String, Double].withDefaultValue(0.0)
      sub.foreach { s =>
        val childIv = kids.getOrElse(s.id, Nil).map(c => (c.startMs, c.endMs)) ++
          jobsBySpan.getOrElse(s.id, Nil).map(j => (j.startMs.toDouble, j.endMs.toDouble))
        val clipped = childIv.map { case (a, b) =>
          (math.max(a, s.startMs), math.min(b, s.endMs)) }
        acc(s.layer) += math.max(0.0, s.dur - unionLen(clipped) / 1e3)
        jobsBySpan.getOrElse(s.id, Nil).foreach { j =>
          acc("spark") += math.max(0.0, (j.endMs - j.startMs) / 1e3)
        }
      }
      acc.toMap
    }
}
