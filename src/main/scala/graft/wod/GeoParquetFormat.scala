package graft.wod

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.mapreduce.Job
import org.apache.parquet.hadoop.ParquetOutputFormat
import org.apache.parquet.hadoop.api.WriteSupport.{FinalizedWriteContext, WriteContext}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.OutputWriterFactory
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetWriteSupport}
import org.apache.spark.sql.types.{DataType, DoubleType, StructType}

/** Parquet write-support that stamps the GeoParquet `geo` key-value
  * footer entry AT WRITE TIME, so the engine's core output path writes
  * each byte exactly once.
  *
  * Each part file accumulates the min/max of its own
  * `longitude`/`latitude` columns as rows stream through `write()` and
  * emits its TRUE per-file bbox from `finalizeWrite()` (parquet-mr
  * merges finalized metadata into the footer it writes on `close()`).
  * The GeoParquet spec's bbox is per-file, and no pre-write extent pass
  * is needed. A file without top-level double `longitude`/`latitude`
  * columns, or without a located row, gets no `geo` entry.
  *
  * Reference parity: the reference gets the same footer from Sedona's
  * `geoparquet` format (`DatasetYearTrain.java:41-42,131-137`); this is
  * the Sedona-free equivalent with identical footer content.
  */
class GeoParquetWriteSupport extends ParquetWriteSupport {

  private var hasLonLat = false
  private var lonOrdinal = -1
  private var latOrdinal = -1
  private var minLon = Double.PositiveInfinity
  private var minLat = Double.PositiveInfinity
  private var maxLon = Double.NegativeInfinity
  private var maxLat = Double.NegativeInfinity
  private var sawPoint = false

  override def init(configuration: Configuration): WriteContext = {
    val ctx = super.init(configuration)
    // Locate top-level double lon/lat columns in the file's data
    // schema (partition columns are already excluded by Spark).
    val schemaJson = configuration.get(ParquetWriteSupport.SPARK_ROW_SCHEMA)
    if (schemaJson != null) {
      DataType.fromJson(schemaJson) match {
        case st: StructType =>
          lonOrdinal = st.fieldNames.indexOf("longitude")
          latOrdinal = st.fieldNames.indexOf("latitude")
          hasLonLat = lonOrdinal >= 0 && latOrdinal >= 0 &&
            st(lonOrdinal).dataType == DoubleType &&
            st(latOrdinal).dataType == DoubleType
        case _ => ()
      }
    }
    ctx
  }

  override def write(row: InternalRow): Unit = {
    if (hasLonLat && !row.isNullAt(lonOrdinal) && !row.isNullAt(latOrdinal)) {
      val lon = row.getDouble(lonOrdinal)
      val lat = row.getDouble(latOrdinal)
      if (lon < minLon) minLon = lon
      if (lon > maxLon) maxLon = lon
      if (lat < minLat) minLat = lat
      if (lat > maxLat) maxLat = lat
      sawPoint = true
    }
    super.write(row)
  }

  override def finalizeWrite(): FinalizedWriteContext = {
    val md = new java.util.HashMap[String, String]()
    if (sawPoint)
      md.put("geo", GeoParquet.geoJson((minLon, minLat, maxLon, maxLat)))
    new FinalizedWriteContext(md)
  }
}

/** A thin `parquet` FileFormat variant whose only delta is swapping in
  * [[GeoParquetWriteSupport]]. Read path, compression, committers,
  * partitioning — all inherited untouched, so files it produces are
  * plain parquet readable by any engine.
  *
  * Use: `df.write.format(classOf[GeoParquetFileFormat].getName)
  * .save(path)`.
  */
class GeoParquetFileFormat extends ParquetFileFormat {

  override def shortName(): String = "geoparquet"

  override def toString: String = "GeoParquet"

  override def prepareWrite(sparkSession: SparkSession, job: Job,
      options: Map[String, String], dataSchema: StructType): OutputWriterFactory = {
    val factory = super.prepareWrite(sparkSession, job, options, dataSchema)
    // after super: overrides the write-support class super just set.
    // The job conf is serialized into the write description AFTER
    // prepareWrite returns, so task-side record writers see it.
    ParquetOutputFormat.setWriteSupportClass(job, classOf[GeoParquetWriteSupport])
    factory
  }
}
