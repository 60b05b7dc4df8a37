package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Everything a workload needs during one invocation. `pairs` is set in
  * traced runs, which also time the 1-core legs of the scaling pairs. */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val rec: SparkRecorder,
                val seed: Long, val work: File, val data: File, val cores: Int,
                val pairs: Boolean) {
  def span[A](name: String, layer: String)(f: => A): A = tracer.span(name, layer)(f)
}

/** One timed operation's outcome. `wall` is what the end-to-end metrics are
  * built from; `parts` carries workload-specific timings (pair legs, query
  * latencies) and `commits` the snapshot commit latencies. */
final case class Sample(wall: Double, ok: Boolean, error: Option[String],
                        parts: Map[String, Double] = Map.empty,
                        commits: Seq[Double] = Nil, spanId: Int = -1)

object Common {

  /** Consume a DataFrame completely: the noop sink reads every column of
    * every row, so the optimizer cannot prune work out of the plan. */
  def consume(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def time[A](f: => A): (Double, A) = {
    val t0 = System.nanoTime()
    val r = f
    ((System.nanoTime() - t0) / 1e9, r)
  }

  /** Runs `f` with the given SQL conf overrides and restores the previous
    * values (or unsets keys that had none) even when `f` throws. */
  def withConf[A](spark: SparkSession, kv: (String, String)*)(f: => A): A = {
    val prev = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try f
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  def describe(t: Throwable): String =
    s"${t.getClass.getName}: ${Option(t.getMessage).getOrElse("").linesIterator.take(3).mkString(" | ")}"

  /** Bytes and file count under a directory (0 if it does not exist). */
  def du(f: File): (Long, Int) =
    if (!f.exists()) (0L, 0)
    else if (f.isFile) (f.length(), 1)
    else Option(f.listFiles()).map(_.toSeq).getOrElse(Nil).map(du)
      .foldLeft((0L, 0)) { case ((b, n), (b2, n2)) => (b + b2, n + n2) }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  /** The highest whole percentile that still has at least ten samples
    * above it, and the sample value there. None below 21 samples, where
    * that percentile would not reach the median. */
  def tail(xs: Seq[Double]): Option[(Int, Double)] = {
    val s = xs.sorted; val n = s.size
    if (n < 21) None
    else {
      val idx = n - 11 // exactly ten samples lie above s(idx)
      Some(((idx + 1) * 100 / n, s(idx)))
    }
  }

  private lazy val oldGen = ManagementFactory.getMemoryPoolMXBeans.asScala
    .find(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))

  /** Old-generation bytes in use right after a full collection. Collects
    * three times with pauses between: the first collections let Spark's
    * ContextCleaner release the broadcast and shuffle blocks of unreachable
    * jobs, the last frees them. */
  def oldGenAfterGc(): Double = {
    System.gc()
    Thread.sleep(300)
    System.gc()
    Thread.sleep(300)
    System.gc()
    oldGen.map(_.getUsage.getUsed.toDouble).getOrElse(
      (Runtime.getRuntime.totalMemory() - Runtime.getRuntime.freeMemory()).toDouble)
  }

  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum / 1e3

  /** Rows rendered and sorted: an order-free fingerprint of a result. */
  def rowsKey(rows: Array[org.apache.spark.sql.Row]): Seq[String] =
    rows.map(_.toString).toSeq.sorted
}
