package graft.wod

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.sources.WodDataSource.{ErrorColumn, SourceFileColumn}

/** Distributed WOD ASCII ingest for conversion (SURVEY.md §2.1 S1-S3,
  * Spark-native): a view over the `wod` DataSource V2
  * ([[graft.sources.WodDataSource]]), which hands each (non-splittable)
  * gzipped member to one executor task that streams parse → transform
  * without ever materializing the file — the reference's driver-side
  * producer/consumer loop (`DatasetYearTrain.java:148-207`) becomes
  * executor parallelism, one task per file (the same parallelism unit
  * the reference gets from one HTCondor job per file).
  */
object WodSource {

  /** Infer the dataset code ("CTD", "XBT", ...) from a WOD file path
    * laid out `<...>/<DATASET>/<LEVEL>/<FILE>.gz`
    * (reference `DatasetTrain.java:64-71`).
    */
  def datasetOf(path: String): String = {
    val parts = path.split("/").filter(_.nonEmpty)
    if (parts.length >= 3) parts(parts.length - 3) else "UNKNOWN"
  }

  /** Read one or more `.gz` WOD ASCII files (comma-separated; globs and
    * directories resolve as in `spark.read.format("wod")`, through
    * Hadoop FileSystem, so local and `s3a://` URIs both work) into one
    * row per outcome: the cast columns, then `_source_file` (the
    * member's qualified path) and `_error` (set on error rows, whose
    * cast columns are null).
    */
  def read(spark: SparkSession, paths: String): DataFrame = {
    val df = spark.read.format("wod").load(paths.split(",").toIndexedSeq: _*)
    df.select(col("*"), df.metadataColumn(SourceFileColumn),
      df.metadataColumn(ErrorColumn))
  }
}
