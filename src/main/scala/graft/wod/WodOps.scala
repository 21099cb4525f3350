package graft.wod

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Analytics views over converted WOD data (SURVEY §7.4: keep the
  * row-per-cast nested model as the storage contract, and provide an
  * exploded measurement view for analytics).
  */
object WodOps {

  /** Measurement-level view: one row per (cast, depth, variable)
    * observation. Two generator expansions, no shuffle — downstream
    * aggregations decide their own keys.
    */
  def measurements(casts: DataFrame): DataFrame =
    casts.select(col("dataset"), col("castNumber"), col("year"),
      col("latitude"), col("longitude"), col("geohash3"),
      explode(col("depths")).as("d"))
      .select(col("dataset"), col("castNumber"), col("year"),
        col("latitude"), col("longitude"), col("geohash3"),
        col("d.depth").as("depth"),
        col("d.depthErrorFlag").as("depthErrorFlag"),
        explode(col("d.data")).as("m"))
      .select(col("dataset"), col("castNumber"), col("year"),
        col("latitude"), col("longitude"), col("geohash3"), col("depth"),
        col("depthErrorFlag"),
        col("m.variableCode").as("variableCode"),
        col("m.value").as("value"),
        col("m.qcFlag").as("qcFlag"),
        col("m.originatorsFlag").as("originatorsFlag"))

  /** Completeness differ (SURVEY §2.1 S14, the reference's
    * `OsPoolS3Lister` set difference re-expressed relationally):
    * expected (dataset, year) conversions minus those present in the
    * output — EXCEPT semantics via left-anti join (no driver-side
    * set materialization; both sides can be arbitrarily large).
    */
  def missingConversions(expected: DataFrame, produced: DataFrame): DataFrame =
    expected.join(produced,
      expected("dataset") === produced("dataset") &&
        expected("year") === produced("year"),
      "left_anti")

  /** Compact a geohash3-partitioned store into few large
    * range-partitioned files — the maintenance pass for the
    * small-file cost the hive layout implies (one tiny file per
    * populated geohash3 cell; a worldwide store at fixture scale is
    * hundreds of KB-sized files, and at corpus scale millions).
    *
    * The compacted layout drops the partition DIRECTORIES but keeps
    * the pruning: rows are range-partitioned and sorted on the full
    * geohash, so each output file covers a contiguous geohash range
    * and parquet's per-file/row-group min-max stats on `geohash` and
    * `geohash3` (now a data column) serve the same cell predicates
    * via pushed filters — directory pruning becomes stats pruning.
    * Query semantics are unchanged; `WodCompactionSpec` locks row
    * parity, in-file ordering, filter pushdown, and footer survival.
    *
    * Not resume-safe in-place by design: writes to a NEW location
    * (the caller swaps atomically per their store's semantics), with
    * the GeoParquet footer re-stamped at write time: each compacted
    * file stamps its own TRUE lon/lat extent, accumulated as rows
    * stream through the writer (the conversion path's mechanism, no
    * extra extent pass over the source store).
    */
  def compactStore(spark: org.apache.spark.sql.SparkSession, store: String,
      out: String, files: Int = 4): Long = {
    spark.read.parquet(store)
      .repartitionByRange(files, col("geohash"))
      .sortWithinPartitions(col("geohash"))
      .write.mode(org.apache.spark.sql.SaveMode.ErrorIfExists)
      .format(classOf[GeoParquetFileFormat].getName)
      .save(out)
    spark.read.parquet(out).count()
  }

  /** Depth-bucketed per-variable profile statistics (the classic
    * oceanographic rollup: mean measurement by depth layer).
    */
  def profileStats(casts: DataFrame, bucketMeters: Int = 100): DataFrame =
    measurements(casts)
      .filter(col("depth").isNotNull && col("qcFlag") === 0)
      .withColumn("depth_bucket",
        (floor(col("depth") / bucketMeters) * bucketMeters).cast("long"))
      .groupBy(col("dataset"), col("variableCode"), col("depth_bucket"))
      .agg(count(lit(1)).as("n_obs"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("sum_value"),
        min(col("value")).as("min_value"),
        max(col("value")).as("max_value"))
      .withColumn("mean_value", col("sum_value") / col("n_obs"))
      .orderBy(col("dataset"), col("variableCode"), col("depth_bucket"))
}
