package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import graft.sources.ParquetTable

/** The job-free parquet reader the query tables go through: its footer
  * schema is the schema `spark.read.parquet` infers, and it reads the
  * same rows. */
class ParquetTableSpec extends AnyFunSuite {
  implicit lazy val spark: SparkSession = SparkTestSession.spark

  val dir = "/root/testdata/sf0.001"
  val tables = Seq("lineitem", "orders", "customer", "part", "events",
    "documents", "embeddings")

  test("footer schema == spark.read.parquet schema for every query table") {
    for (t <- tables) {
      val path = s"$dir/$t.parquet"
      assert(ParquetTable.schema(spark, path) == spark.read.parquet(path).schema, t)
    }
  }

  test("read launches no Spark job and returns the inferred read's rows") {
    for (t <- Seq("lineitem", "documents")) {
      val path = s"$dir/$t.parquet"
      val (df, jobs) = SparkJobs.during(spark)(ParquetTable.read(spark, path))
      assert(jobs == 0, s"$t: read launched $jobs job(s)")
      val ref = spark.read.parquet(path)
      assert(df.schema == ref.schema)
      assert(df.count() == ref.count() && df.exceptAll(ref).isEmpty, t)
    }
  }

  test("partitioned and empty locations fail on the driver with a reason") {
    val root = Files.createTempDirectory("graft_pq_").toString
    spark.range(4).selectExpr("id", "id % 2 as k").write.partitionBy("k").parquet(s"$root/p")
    val part = intercept[IllegalArgumentException](ParquetTable.read(spark, s"$root/p"))
    assert(part.getMessage.contains("partitioned by k"))
    Files.createDirectories(java.nio.file.Paths.get(s"$root/empty"))
    val empty = intercept[IllegalArgumentException](ParquetTable.read(spark, s"$root/empty"))
    assert(empty.getMessage.contains("no parquet files"))
  }
}
