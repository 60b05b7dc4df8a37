package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * What every graft main shares: the one session builder, the settings
 * read from the environment, and the consume / time / failure helpers
 * that `Bench`, `Verify` and `Dev` time and report with.
 */
object Harness {

  /** The sf0.001 tables every timed query warms on first, so its timed
    * number is steady-state throughput, not the one-off codegen of its
    * plan. */
  val WarmDir = "/root/testdata/sf0.001"

  /** Worker threads (`SPARK_GRAFT_CPUS`, else `default`). */
  def cpus(default: Int): Int = sys.env.get("SPARK_GRAFT_CPUS").fold(default)(_.toInt)

  /** The sf tables timed queries read (`SPARK_GRAFT_SF_DIR`, else sf0.1). */
  def sfDir: String = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

  /** Images in the flagship table (`SPARK_GRAFT_BENCH_IMAGES`, else
    * 16384): big enough that compute (decode + PIP), not job overhead,
    * bounds the wall time at 32 cores. */
  def benchImages: Int = sys.env.get("SPARK_GRAFT_BENCH_IMAGES").fold(16384)(_.toInt)

  /** A `local[cpus]` session with `cpus` shuffle partitions, AQE on, UTC
    * timestamps and no UI; `confs` are set after these and so override
    * them. Like any `getOrCreate`, it returns the running session if
    * there is one. */
  def session(cpus: Int, appName: String, confs: (String, String)*): SparkSession = {
    val base = Seq(
      "spark.sql.shuffle.partitions" -> cpus.toString,
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false")
    val s = (base ++ confs).foldLeft(
        SparkSession.builder().master(s"local[$cpus]").appName(appName)) {
        case (b, (k, v)) => b.config(k, v)
      }.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Consume a DataFrame COMPLETELY: the noop sink reads every column of
    * every row, so Catalyst cannot prune work out of the timed plan the
    * way `count()` can (count over an Aggregate lets ColumnPruning drop
    * the unreferenced aggregate expressions AND their input columns —
    * the timed number would describe a lighter query than the one
    * named). */
  def consume(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()
    // A/B'd against count(): median pair efficiency 0.880 (noop) vs
    // 0.884 (count) on the same jar — the consuming action is
    // measurement-neutral here; noop is kept as the stricter contract.

  /** Wall seconds of `f`. */
  def time(f: => Any): Double = {
    val t0 = System.nanoTime()
    f
    (System.nanoTime() - t0) / 1e9
  }

  /** Runs `body` with `confs` set on the session, then puts each key
    * back to its previous value (unset if it had none) — also when
    * `body` throws, so a failed leg never leaks its overrides into the
    * next one. Wrap the action too: confs are read at plan time. */
  def withConfs[A](spark: SparkSession, confs: (String, String)*)(body: => A): A = {
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** "<exception class>: <message>" — the reason every main prints for
    * a failure (`getMessage` alone is null for many exceptions). */
  def describe(e: Throwable): String = s"${e.getClass.getName}: ${e.getMessage}"

  /** JSON string literal: escapes backslash, quote, and ALL control
    * chars (< 0x20) — a tab or CR in an oracle SQL string or an
    * exception message would otherwise break the reader's json.load. */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Per query name, each failed warm-up or timed run as
    * "<phase>: <exception class>: <message>", in order. */
  final class FailureLog {
    private val byName =
      scala.collection.mutable.LinkedHashMap.empty[String, Vector[String]]

    /** Runs `f`; a throw is recorded and yields None. Catches every
      * Throwable, as the -1.0 sentinel always has. */
    def attempt[A](name: String, phase: String)(f: => A): Option[A] =
      try Some(f) catch { case e: Throwable =>
        byName(name) = byName.getOrElse(name, Vector.empty) :+ s"$phase: ${describe(e)}"
        None
      }

    /** `,"<key>":{name:[detail, ...]}`, or "" when nothing failed. */
    def json(key: String): String =
      if (byName.isEmpty) ""
      else byName.map { case (k, es) =>
        jsonString(k) + es.map(jsonString).mkString(":[", ",", "]")
      }.mkString(s""",${jsonString(key)}:{""", ",", "}")
  }

  /** Warms query `name` once at [[WarmDir]], then times `runs` noop
    * consumes of it at `sfDir`: the best time, or -1.0 when every timed
    * run failed (a throwing query must not discard the numbers already
    * timed). Failures land in `log` under "warm", and "run" or "run <i>". */
  def warmAndTime(spark: SparkSession, log: FailureLog, name: String,
                  sfDir: String, runs: Int): Double = {
    val fn = SparkEntry.queries(name)
    log.attempt(name, "warm")(consume(fn(spark, WarmDir)))
    val ts = (1 to runs).flatMap { i =>
      log.attempt(name, if (runs == 1) "run" else s"run $i")(time(consume(fn(spark, sfDir))))
    }
    if (ts.nonEmpty) ts.min else -1.0
  }

  /** `{"name":seconds, ...}` with three decimals. */
  def timesJson(times: Seq[(String, Double)]): String =
    times.map { case (k, v) => "\"" + k + f"\":$v%.3f" }.mkString("{", ",", "}")

  /** `n` back-to-back (small, big) pairs, each leg's wall seconds: host
    * noise is common-mode across adjacent runs, so it cancels in the
    * per-pair ratio. */
  def pairs(n: Int)(small: => Unit)(big: => Unit): Seq[(Double, Double)] =
    (1 to n).map(_ => (time(small), time(big)))

  def median(xs: Seq[Double]): Double = { val s = xs.sorted; s(s.size / 2) }
}
