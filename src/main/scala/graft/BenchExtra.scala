package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * Extra (non-graded) benchmarks — guide §1.4 noop-sink isolation for
 * paths the frozen headline harness does not time, so a regression in
 * them is visible round-over-round:
 *
 *  - the big-raster TILED kernel paths (q_canny_tiled,
 *    q_phasecong_tiled, q_cv2norm_tiles) — the shapes a 100 TB raster
 *    actually uses (round-5 verdict item 4);
 *  - the CNN tiled forward (q_cnn_seg) — the per-task kernel this
 *    round vectorized.
 *
 * Methodology mirrors Bench's SPARK_GRAFT_ONLY lever: warm once at
 * sf0.001, then best-of-3 timed noop consumes at $SPARK_GRAFT_SF_DIR.
 * Writes ONE JSON line to stdout and BENCH_extra.json: `queries` maps
 * each name to its best time (-1 when every timed run failed), and
 * `errors` maps each name with a failed warm-up or timed run to
 * "<phase>: <exception class>: <message>" per failure. `Bench.scala`
 * (the graded harness) is untouched.
 */
object BenchExtra {

  private def consume(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def time[A](f: => A): Double = {
    val t0 = System.nanoTime()
    f
    (System.nanoTime() - t0) / 1e9
  }

  /** The output line: {"sf", "queries": {name: best s}, "errors":
    * {name: [failure, ...]}}. */
  private[graft] def jsonLine(sfDir: String, best: Seq[(String, Double)],
                              errors: Seq[(String, Seq[String])]): String = {
    val errs = errors.map { case (k, es) =>
      Verify.jsonString(k) + es.map(Verify.jsonString).mkString(":[", ",", "]")
    }.mkString(""","errors":{""", ",", "}")
    best.map { case (k, v) => "\"" + k + f"\":$v%.3f" }
      .mkString(s"""{"sf":${Verify.jsonString(sfDir)},"queries":{""", ",", "}" + errs + "}")
  }

  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"graft-bench-extra-$cpus")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val warm = "/root/testdata/sf0.001"
    val names = Seq("q_canny_tiled", "q_phasecong_tiled", "q_cv2norm_tiles",
      "q_cnn_seg", "q_glcm", "q_rag")
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, Vector[String]]
    def attempt[A](n: String, phase: String)(f: => A): Option[A] =
      try Some(f) catch { case scala.util.control.NonFatal(e) =>
        errors(n) = errors.getOrElse(n, Vector.empty) :+
          s"$phase: ${e.getClass.getName}: ${e.getMessage}"
        None
      }
    val out = names.map { n =>
      val fn = SparkEntry.queries(n)
      spark.sparkContext.setJobDescription(s"bench-extra warm $n")
      attempt(n, "warm")(consume(fn(spark, warm)))
      spark.sparkContext.setJobDescription(s"bench-extra $n")
      val ts = (1 to 3).flatMap(i => attempt(n, s"run $i")(time(consume(fn(spark, sfDir)))))
      n -> (if (ts.nonEmpty) ts.min else -1.0)
    }
    spark.stop()
    val line = jsonLine(sfDir, out, errors.toSeq)
    println(line)
    java.nio.file.Files.writeString(java.nio.file.Paths.get("BENCH_extra.json"), line)
  }
}
