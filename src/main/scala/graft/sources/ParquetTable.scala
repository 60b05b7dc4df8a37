package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.{Footer, ParquetFileWriter}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, InMemoryFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
  ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/**
 * Unpartitioned parquet table reader that launches no Spark job.
 *
 * `spark.read.parquet(path)` infers the schema with a one-task job that
 * opens a single footer: `_common_metadata`, else `_metadata`, else the
 * first data file by path (the non-merging default). Here the driver
 * opens that same footer itself, converts it with Spark's own converter
 * (or takes the Spark schema stored in its metadata), and builds the
 * relation over the file index it listed for the footer — the directory
 * is listed once, as `spark.read` lists it, and the scan reuses it.
 * `schema(spark, path)` equals `spark.read.parquet(path).schema`
 * (spec-checked on the image table and the sf tables).
 *
 * Partitioned layouts (`Pipeline.shardScan`, multi-path mosaics) stay on
 * `spark.read.parquet`, which also infers partition columns.
 */
object ParquetTable {

  /** The table at `path` with the schema its footer declares. */
  def read(spark: SparkSession, path: String): DataFrame = {
    val (index, found) = open(spark, path)
    relation(spark, index, found)
  }

  /** The table at `path` read with `expected`, after checking on the
    * driver that the footer has every column of `expected` with the same
    * type; the failure names the column. Extra columns are not read. */
  def read(spark: SparkSession, path: String, expected: StructType): DataFrame = {
    val (index, found) = open(spark, path)
    val types = found.fields.map(f => f.name -> f.dataType).toMap
    val missing = expected.fieldNames.filterNot(types.contains)
    require(missing.isEmpty,
      s"parquet table at $path missing columns: ${missing.mkString(", ")}")
    val wrong = expected.fields.filter(f => types(f.name) != f.dataType)
    require(wrong.isEmpty, s"parquet table at $path has wrong column types: " +
      wrong.map(f => s"${f.name} is ${types(f.name).sql}, expected ${f.dataType.sql}")
        .mkString(", "))
    relation(spark, index, expected)
  }

  /** The schema `spark.read.parquet(path)` would infer, read on the
    * driver. */
  def schema(spark: SparkSession, path: String): StructType = open(spark, path)._2

  private def open(spark: SparkSession, path: String): (InMemoryFileIndex, StructType) = {
    val index = new InMemoryFileIndex(spark, Seq(new Path(path)), Map.empty, None)
    require(index.partitionSchema.isEmpty,
      s"parquet table at $path is partitioned by " +
        s"${index.partitionSchema.fieldNames.mkString(", ")} — read it with spark.read.parquet")
    val file = footerFile(index.allFiles())
      .getOrElse(throw new IllegalArgumentException(s"no parquet files at $path"))
    val conf = GraftBridge.hadoopConf(spark)
    val meta = ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(file, conf),
      ParquetMetadataConverter.SKIP_ROW_GROUPS)
    val found = ParquetFileFormat.readSchemaFromFooter(new Footer(file.getPath, meta),
      new ParquetToSparkSchemaConverter(GraftBridge.sqlConf(spark)))
    (index, GraftBridge.asNullable(found))
  }

  /** The one file Spark's non-merging schema inference opens. */
  private def footerFile(files: Seq[FileStatus]): Option[FileStatus] = {
    val sorted = files.sortBy(_.getPath.toString)
    def named(n: String) = sorted.find(_.getPath.getName == n)
    val summaries = Set(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE,
      ParquetFileWriter.PARQUET_METADATA_FILE)
    named(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE)
      .orElse(named(ParquetFileWriter.PARQUET_METADATA_FILE))
      .orElse(sorted.find(f => !summaries(f.getPath.getName)))
  }

  private def relation(spark: SparkSession, index: InMemoryFileIndex,
                       dataSchema: StructType): DataFrame =
    spark.baseRelationToDataFrame(HadoopFsRelation(index, index.partitionSchema,
      GraftBridge.asNullable(dataSchema), None, new ParquetFileFormat, Map.empty)(spark))
}
