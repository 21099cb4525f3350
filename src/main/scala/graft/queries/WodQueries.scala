package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Q._

/** Reference-parity queries over a generated WOD ASCII corpus
  * ([[graft.wod.WodCorpus]]: the six members in the shape of the
  * reference's own test inputs, FIXTURES.md §1), written once per JVM
  * beside the staging below.
  *
  * Oracle strategy: the WOD grammar itself is not expressible in SQL
  * (parse correctness is gated by CastParserSpec / RoundTripSpec
  * round-trip properties), but everything DOWNSTREAM of the parse is.
  * Each query first stages the parsed casts' analytic columns to a
  * deterministic parquet path, aggregates FROM that staging, and hands
  * DuckDB `read_parquet()` SQL over the same files — so the explode /
  * bucket / aggregate semantics get full rows+schema+hash checks.
  * wod1 is benched: it measures end-to-end parse+stage+aggregate
  * throughput of the `wod` DataSource each round.
  */
object WodQueries {

  /** `target/wod_stage` under the working directory, absolute: the
    * oracle reads the staging back after this JVM exits.
    */
  private val stageRoot = new java.io.File("target/wod_stage").getAbsolutePath

  /** This JVM's directory under [[stageRoot]]. Per-JVM unique
    * (concurrent Verify runs must not clobber each other's staging),
    * but CONSTANT within the JVM so the `fn` that writes it and the
    * oracle SQL dumped from the same process always agree — the oracle
    * runs after this JVM exits, against the files it left behind.
    */
  private val runDir =
    s"$stageRoot/${java.util.UUID.randomUUID.toString.take(8)}"

  /** The corpus, written on first use. */
  private lazy val fixtures =
    graft.wod.WodCorpus.write(java.nio.file.Paths.get(s"$runDir/wod")).toString

  /** Absolute staging path the oracle reads back. */
  val stagedDir = s"$runDir/casts"

  private val stagedGlob = s"$stagedDir/*.parquet"

  /** Drop sibling staging dirs older than a day so repeated runs don't
    * accumulate copies (each run's dir is ~MBs of parquet).
    */
  private def pruneStaleStages(): Unit = {
    val root = new java.io.File(stageRoot)
    val cutoff = System.currentTimeMillis() - 24L * 3600 * 1000
    Option(root.listFiles()).getOrElse(Array.empty)
      .filter(d => d.isDirectory && d.lastModified() < cutoff)
      .foreach { d =>
        def del(f: java.io.File): Unit = {
          Option(f.listFiles()).getOrElse(Array.empty).foreach(del)
          f.delete()
        }
        del(d)
      }
  }

  /** Parse the six fixtures through the DSv2 source and stage the
    * analytic column subset (idempotent overwrite). Aggregations below
    * read the staging back, so Spark and DuckDB consume byte-identical
    * rows.
    */
  @volatile private var stagedOnce = false

  /** `reuse = false` (wod1, the bench entry) parses + stages every
    * call — it MEASURES the source; `reuse = true` (wod2/wod3) skips
    * the re-parse when this JVM already staged (same content: the
    * write is a deterministic overwrite of the same fixtures).
    */
  private def stagedCasts(s: SparkSession,
      reuse: Boolean = false): DataFrame = {
    if (!(reuse && stagedOnce)) {
      pruneStaleStages()
      s.read.format("wod").load(fixtures)
        .select(col("dataset"), col("castNumber"), col("year"),
          col("latitude"), col("longitude"), col("geohash3"), col("depths"))
        .write.mode("overwrite").parquet(stagedDir)
      stagedOnce = true
    }
    s.read.parquet(stagedDir)
  }

  /** Per-dataset cast and measurement counts over the parsed fixtures
    * (sfDir is ignored — the WOD fixtures are the dataset).
    */
  val wod1Convert = Q(
    "wod1_parse_fixtures",
    (s, _) =>
      stagedCasts(s)
        .groupBy(col("dataset"))
        .agg(cnt.as("n_casts"),
          sum(size(col("depths"))).as("n_levels"),
          countDistinct(col("geohash3")).as("n_geohash3"),
          min(col("year")).as("min_year"),
          max(col("year")).as("max_year"))
        .orderBy(col("dataset")),
    sql = Some(s"""
      SELECT dataset, COUNT(*) AS n_casts,
             CAST(SUM(len(depths)) AS BIGINT) AS n_levels,
             COUNT(DISTINCT geohash3) AS n_geohash3,
             MIN(year) AS min_year, MAX(year) AS max_year
      FROM read_parquet('$stagedGlob')
      GROUP BY dataset
      ORDER BY dataset"""),
    bench = true)

  /** Measurement-level analytics on the nested model: explode depths →
    * per-variable depth-bucket profile statistics. DuckDB re-derives
    * the double unnest + decimal-routed mean from the staged casts.
    */
  val wod2Profiles = Q(
    "wod2_profile_stats",
    (s, _) => graft.wod.WodOps.profileStats(stagedCasts(s, reuse = true)),
    sql = Some(s"""
      WITH lvl AS (
        SELECT dataset, unnest(depths) AS d
        FROM read_parquet('$stagedGlob')),
      m AS (
        SELECT dataset, d.depth AS depth, unnest(d.data) AS md
        FROM lvl),
      obs AS (
        SELECT dataset, md.variableCode AS variableCode, md.value AS value,
               CAST(floor(depth / 100) * 100 AS BIGINT) AS depth_bucket
        FROM m
        WHERE depth IS NOT NULL AND md.qcFlag = 0)
      SELECT dataset, variableCode, depth_bucket, COUNT(*) AS n_obs,
             CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value,
             MIN(value) AS min_value, MAX(value) AS max_value,
             CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*)
               AS mean_value
      FROM obs
      GROUP BY dataset, variableCode, depth_bucket
      ORDER BY dataset, variableCode, depth_bucket"""))

  /** Spatial density over the engine's own partition key: per-geohash3
    * cell cast counts, dataset diversity, and exact extents — the
    * query shape the geohash3 layout exists to serve (a cell predicate
    * prunes to one partition directory). Mean latitude is
    * DECIMAL-routed so partition order can't show.
    */
  val wod3Density = Q(
    "wod3_geocell_density",
    (s, _) =>
      stagedCasts(s, reuse = true)
        .groupBy(col("geohash3"))
        .agg(cnt.as("n_casts"),
          countDistinct(col("dataset")).as("n_datasets"),
          min(col("latitude")).as("min_lat"),
          max(col("latitude")).as("max_lat"),
          min(col("longitude")).as("min_lon"),
          max(col("longitude")).as("max_lon"),
          davg(col("latitude")).as("mean_lat"))
        .orderBy(col("geohash3")),
    sql = Some(s"""
      SELECT geohash3, COUNT(*) AS n_casts,
             COUNT(DISTINCT dataset) AS n_datasets,
             MIN(latitude) AS min_lat, MAX(latitude) AS max_lat,
             MIN(longitude) AS min_lon, MAX(longitude) AS max_lon,
             ${sqlDavg("latitude")} AS mean_lat
      FROM read_parquet('$stagedGlob')
      GROUP BY geohash3
      ORDER BY geohash3"""))

  private val bulkOut = s"$runDir/bulkrun"

  @volatile private var bulkOnce = false

  /** Bulk-conversion parity: the ONE-job corpus conversion
    * ([[graft.wod.WodPipeline.convertBulk]] — the many-small-files
    * scale path) must reproduce wod1's per-dataset numbers exactly
    * from its (dataset, geohash3)-partitioned store: same casts, same
    * measurement totals, same cells, nothing lost or duplicated
    * through the shuffle + dynamic-partition write. The oracle is
    * wod1's own SQL over the independently staged parse.
    */
  /** Idempotently run the one-job corpus conversion this JVM (wod4 and
    * wod6 both read the resulting store).
    */
  private def ensureBulk(s: SparkSession): Unit =
    if (!bulkOnce) synchronized {
      if (!bulkOnce) {
        graft.wod.WodPipeline.convertBulk(s, graft.wod.WodPipeline.Config(
          input = fixtures, output = bulkOut,
          datasets = Seq("APB", "CTD", "DRB", "SUR", "XBT"),
          levels = Seq("OBS", "STD"), overwrite = true))
        bulkOnce = true
      }
    }

  val wod4Bulk = Q(
    "wod4_bulk_convert_parity",
    (s, _) => {
      stagedCasts(s, reuse = true) // the oracle reads this staging
      ensureBulk(s)
      s.read.parquet(s"$bulkOut/bulk/casts")
        .groupBy(col("dataset"))
        .agg(cnt.as("n_casts"),
          sum(size(col("depths"))).as("n_levels"),
          countDistinct(col("geohash3")).as("n_geohash3"),
          min(col("year")).as("min_year"),
          max(col("year")).as("max_year"))
        .orderBy(col("dataset"))
    },
    sql = wod1Convert.sql)

  /** Spatial containment join: casts against a (tiny, broadcast)
    * bbox dimension — the named-region rollup every geo store serves.
    * The quadrant boxes partition the globe exactly (lon/lat sign),
    * so every cast matches exactly one region. Plan shape at 100 TB:
    * the 4-row dimension broadcasts into a nested-loop join that is
    * O(casts·4) map-side work with NO shuffle of the cast table —
    * for large dimension tables the ev6 bucket-decomposition applies
    * instead; this query pins the broadcast shape.
    */
  val wod5BasinJoin = Q(
    "wod5_basin_join",
    (s, _) => {
      import s.implicits._
      val basins = Seq(
        ("ne", 0.0, 0.0, 180.0, 90.0),
        ("nw", -180.0, 0.0, 0.0, 90.0),
        ("se", 0.0, -90.0, 180.0, 0.0),
        ("sw", -180.0, -90.0, 0.0, 0.0))
        .toDF("region", "lon_min", "lat_min", "lon_max", "lat_max")
      stagedCasts(s, reuse = true)
        .join(broadcast(basins),
          col("longitude") >= col("lon_min") &&
            col("longitude") < col("lon_max") &&
            col("latitude") >= col("lat_min") &&
            col("latitude") < col("lat_max"))
        .groupBy(col("region"))
        .agg(cnt.as("n_casts"),
          countDistinct(col("geohash3")).as("n_cells"),
          countDistinct(col("dataset")).as("n_datasets"),
          davg(col("latitude")).as("mean_lat"))
        .orderBy(col("region"))
    },
    sql = Some(s"""
      WITH basins(region, lon_min, lat_min, lon_max, lat_max) AS (
        VALUES ('ne', 0.0, 0.0, 180.0, 90.0),
               ('nw', -180.0, 0.0, 0.0, 90.0),
               ('se', 0.0, -90.0, 180.0, 0.0),
               ('sw', -180.0, -90.0, 0.0, 0.0))
      SELECT region, COUNT(*) AS n_casts,
             COUNT(DISTINCT geohash3) AS n_cells,
             COUNT(DISTINCT dataset) AS n_datasets,
             ${sqlDavg("latitude")} AS mean_lat
      FROM read_parquet('$stagedGlob') c
      JOIN basins b
        ON c.longitude >= b.lon_min AND c.longitude < b.lon_max
       AND c.latitude >= b.lat_min AND c.latitude < b.lat_max
      GROUP BY region
      ORDER BY region"""))

  /** Geo point/prefix lookup — THE query the geohash3 layout exists
    * for: all casts in one geohash cell, summarized per dataset, found
    * by filtering the row-level 12-char `geohash` column alone. The
    * [[graft.plans.InferGeohashPartitionFilter]] optimizer rule derives
    * the implied `geohash3 = cell` partition predicate from the prefix
    * filter, so the scan touches only that cell's directories instead
    * of the whole store (`GeohashPruneRuleSpec` gates the pruning; at
    * 100 TB this is a point lookup vs a full-store scan). The probed
    * cell is the store's BUSIEST (max cast count, max cell name on
    * ties — integer-exact, so deterministic) — the hot-cell lookup is
    * the worst case the pruning has to win, and the oracle re-derives
    * the same cell.
    */
  val wod6GeoLookup = Q(
    "wod6_geo_cell_lookup",
    (s, _) => {
      ensureBulk(s)
      val store = s.read.parquet(s"$bulkOut/bulk/casts")
      val cell = store.groupBy(col("geohash3")).agg(cnt.as("n"))
        .agg(max(struct(col("n"), col("geohash3"))).as("top"))
        .select(col("top.geohash3")).head.getString(0)
      store.filter(col("geohash").startsWith(cell))
        .groupBy(col("dataset"))
        .agg(cnt.as("n_casts"),
          countDistinct(col("geohash")).as("n_locations"),
          sum(size(col("depths"))).as("n_levels"),
          davg(col("latitude")).as("mean_lat"))
        .orderBy(col("dataset"))
    },
    sql = Some(s"""
      WITH store AS (
        SELECT * FROM read_parquet('$bulkOut/bulk/casts/*/*/*/*.parquet',
                                   hive_partitioning=1)),
      cell AS (SELECT geohash3 AS c FROM store
               GROUP BY geohash3
               ORDER BY COUNT(*) DESC, geohash3 DESC LIMIT 1)
      SELECT dataset, COUNT(*) AS n_casts,
             COUNT(DISTINCT geohash) AS n_locations,
             CAST(SUM(len(depths)) AS BIGINT) AS n_levels,
             ${sqlDavg("latitude")} AS mean_lat
      FROM store, cell
      WHERE geohash LIKE c || '%'
      GROUP BY dataset
      ORDER BY dataset"""))

  /** Geo RANGE scan — the other query shape the geohash3 layout
    * serves: a bbox decomposition emits `geohash >= lo AND geohash <
    * hi` ranges, and [[graft.plans.InferGeohashPartitionFilter]]'s r8
    * range inference turns each into a `geohash3` partition range
    * (strict `<` on a 3-char bound prunes the boundary cell itself).
    * Bounds are derived from the store deterministically — lo = the
    * second-lowest cell, hi = the highest (so the scan provably
    * excludes both edge cells: the lowest by the range, the highest by
    * the strict bound) — and the oracle re-derives the same bounds.
    * `GeohashPruneRuleSpec` gates that this exact query shape gets
    * geohash3 partition filters on the real bulk store.
    */
  val wod7RangeScan = Q(
    "wod7_geo_range_scan",
    (s, _) => {
      ensureBulk(s)
      val store = s.read.parquet(s"$bulkOut/bulk/casts")
      // bounded driver collect: distinct cells ≤ 32^3 (the same census
      // bound as the bulk skew guard)
      // collect is capped at the layout bound + 1: the 32^3 cell
      // argument is only as good as the layout, so a drift to longer
      // prefixes fails loudly instead of pulling unbounded rows to the
      // driver (r8 ADVICE) — and the limit keeps even the failing run
      // bounded
      val cellBound = 32 * 32 * 32
      val cs = store.select(col("geohash3")).distinct()
        .orderBy(col("geohash3")).limit(cellBound + 1)
        .collect().map(_.getString(0))
      require(cs.length >= 3, s"need >= 3 cells for a range, got ${cs.length}")
      require(cs.length <= cellBound,
        s"geohash3 census exceeds the 32^3 cell bound — " +
          "store layout drifted from 3-char cells")
      val (lo, hi) = (cs(1), cs.last)
      store.filter(col("geohash") >= lo && col("geohash") < hi)
        .groupBy(col("geohash3"))
        .agg(cnt.as("n_casts"),
          countDistinct(col("geohash")).as("n_locations"),
          countDistinct(col("dataset")).as("n_datasets"),
          davg(col("latitude")).as("mean_lat"))
        .orderBy(col("geohash3"))
    },
    sql = Some(s"""
      WITH store AS (
        SELECT * FROM read_parquet('$bulkOut/bulk/casts/*/*/*/*.parquet',
                                   hive_partitioning=1)),
      cs AS (SELECT DISTINCT geohash3 FROM store),
      bounds AS (SELECT
          (SELECT geohash3 FROM cs ORDER BY geohash3 LIMIT 1 OFFSET 1) AS lo,
          (SELECT MAX(geohash3) FROM cs) AS hi)
      SELECT geohash3, COUNT(*) AS n_casts,
             COUNT(DISTINCT geohash) AS n_locations,
             COUNT(DISTINCT dataset) AS n_datasets,
             ${sqlDavg("latitude")} AS mean_lat
      FROM store, bounds
      WHERE geohash >= lo AND geohash < hi
      GROUP BY geohash3
      ORDER BY geohash3"""))

  /** Lat/lon BBOX retrieval — the user-facing face of the geohash
    * layout: the caller gives a geographic box, the engine decomposes
    * it into geohash prefix ranges
    * ([[graft.operators.GeoOps.bboxToGeohashRanges]], depth 2 — coarse
    * enough to stay a handful of ranges on a global store), ANDs the
    * exact lat/lon predicate for exact semantics, and the r8 range
    * rule prunes the store to the touched geohash3 directories. The
    * oracle is a PLAIN lat/lon-predicate query — no geohash logic at
    * all — so the hash match independently validates the cover
    * property on real data: if the decomposition missed a cell, rows
    * would vanish. The box is mean-centered (decimal-exact avg on both
    * engines, floored) and clamped to WGS-84; both engines derive it
    * from the data, one bounded 1-row collect on the Spark side.
    */
  val wod8BboxScan = Q(
    "wod8_geo_bbox_scan",
    (s, _) => {
      ensureBulk(s)
      val store = s.read.parquet(s"$bulkOut/bulk/casts")
      // bounded driver collect: ONE row — the box anchor
      val anchor = store
        .agg(floor(davg(col("latitude"))).cast("double").as("clat"),
          floor(davg(col("longitude"))).cast("double").as("clon")).head()
      val (clat, clon) = (anchor.getDouble(0), anchor.getDouble(1))
      val (latLo, latHi) = (math.max(clat - 7, -90.0), math.min(clat + 7, 90.0))
      val (lonLo, lonHi) =
        (math.max(clon - 14, -180.0), math.min(clon + 14, 180.0))
      graft.operators.GeoOps
        .queryBbox(store, latLo, latHi, lonLo, lonHi, depth = 2)
        .groupBy(col("geohash3"))
        .agg(cnt.as("n_casts"),
          countDistinct(col("geohash")).as("n_locations"),
          davg(col("latitude")).as("mean_lat"))
        .orderBy(col("geohash3"))
    },
    sql = Some(s"""
      WITH store AS (
        SELECT * FROM read_parquet('$bulkOut/bulk/casts/*/*/*/*.parquet',
                                   hive_partitioning=1)),
      box AS (SELECT
          GREATEST(FLOOR(${sqlDavg("latitude")}) - 7, -90) AS lat_lo,
          LEAST(FLOOR(${sqlDavg("latitude")}) + 7, 90) AS lat_hi,
          GREATEST(FLOOR(${sqlDavg("longitude")}) - 14, -180) AS lon_lo,
          LEAST(FLOOR(${sqlDavg("longitude")}) + 14, 180) AS lon_hi
        FROM store)
      SELECT geohash3, COUNT(*) AS n_casts,
             COUNT(DISTINCT geohash) AS n_locations,
             ${sqlDavg("latitude")} AS mean_lat
      FROM store, box
      WHERE latitude >= lat_lo AND latitude <= lat_hi
        AND longitude >= lon_lo AND longitude <= lon_hi
      GROUP BY geohash3
      ORDER BY geohash3"""))

  /** Convex-POLYGON retrieval — the general geo shape bbox can't
    * express (survey tracks, basins, coastal wedges): the polygon's
    * bbox drives the same geohash range pruning as wod8, and the exact
    * refine is [[graft.operators.GeoOps.convexPolygonContains]] —
    * integer-microdegree cross products, so both engines derive the
    * identical inside/outside boolean (no float cross-engine ulp risk
    * on the boundary). The polygon is the box's inscribed diamond
    * (midpoint vertices — µ°-exact on both sides by construction), so
    * the oracle re-derives it from the same box arithmetic and tests
    * the same four half-planes; rows near the corners are provably
    * outside, making the refine observable (diamond ⊂ box strictly).
    */
  val wod9PolygonScan = Q(
    "wod9_geo_polygon_scan",
    (s, _) => {
      ensureBulk(s)
      val store = s.read.parquet(s"$bulkOut/bulk/casts")
      val anchor = store
        .agg(floor(davg(col("latitude"))).cast("double").as("clat"),
          floor(davg(col("longitude"))).cast("double").as("clon")).head()
      val (clat, clon) = (anchor.getDouble(0), anchor.getDouble(1))
      val (latLo, latHi) = (math.max(clat - 7, -90.0), math.min(clat + 7, 90.0))
      val (lonLo, lonHi) =
        (math.max(clon - 14, -180.0), math.min(clon + 14, 180.0))
      val (cy, cx) = ((latLo + latHi) / 2, (lonLo + lonHi) / 2)
      def u(v: Double): Long = math.round(v * 1e6)
      // CCW in (x=lon, y=lat): E → N → W → S
      val diamond = Seq(
        (u(cy), u(lonHi)), (u(latHi), u(cx)),
        (u(cy), u(lonLo)), (u(latLo), u(cx)))
      graft.operators.GeoOps
        .queryPolygon(store, diamond, depth = 2)
        .groupBy(col("geohash3"))
        .agg(cnt.as("n_casts"),
          countDistinct(col("geohash")).as("n_locations"),
          davg(col("latitude")).as("mean_lat"))
        .orderBy(col("geohash3"))
    },
    sql = Some(s"""
      WITH store AS (
        SELECT * FROM read_parquet('$bulkOut/bulk/casts/*/*/*/*.parquet',
                                   hive_partitioning=1)),
      box AS (SELECT
          CAST(GREATEST(FLOOR(${sqlDavg("latitude")}) - 7, -90)
               * 1000000 AS BIGINT) AS y_lo,
          CAST(LEAST(FLOOR(${sqlDavg("latitude")}) + 7, 90)
               * 1000000 AS BIGINT) AS y_hi,
          CAST(GREATEST(FLOOR(${sqlDavg("longitude")}) - 14, -180)
               * 1000000 AS BIGINT) AS x_lo,
          CAST(LEAST(FLOOR(${sqlDavg("longitude")}) + 14, 180)
               * 1000000 AS BIGINT) AS x_hi
        FROM store),
      poly AS (SELECT y_lo, y_hi, x_lo, x_hi,
          (y_lo + y_hi) // 2 AS cy, (x_lo + x_hi) // 2 AS cx FROM box),
      pts AS (
        SELECT geohash3, geohash, latitude,
               CAST(ROUND(latitude * 1000000) AS BIGINT) AS py,
               CAST(ROUND(longitude * 1000000) AS BIGINT) AS px
        FROM store)
      SELECT geohash3, COUNT(*) AS n_casts,
             COUNT(DISTINCT geohash) AS n_locations,
             ${sqlDavg("latitude")} AS mean_lat
      FROM pts, poly
      WHERE (cx - x_hi) * (py - cy)  - (y_hi - cy) * (px - x_hi) >= 0
        AND (x_lo - cx) * (py - y_hi) - (cy - y_hi) * (px - cx)  >= 0
        AND (cx - x_lo) * (py - cy)  - (y_lo - cy) * (px - x_lo) >= 0
        AND (x_hi - cx) * (py - y_lo) - (cy - y_lo) * (px - cx)  >= 0
      GROUP BY geohash3
      ORDER BY geohash3"""))

  /** SPATIAL JOIN (wod10) — many polygons × many points as an
    * EQUI-join: one diamond per dataset (around its floored mean
    * position), each exploded to its depth-3 cell cover
    * ([[graft.operators.GeoOps.bboxToCells]]); points carry geohash3,
    * so candidates are CELL-COLLOCATED pairs (broadcast cell table,
    * map-side) instead of |points|×|polygons| — the classic scalable
    * point-in-polygon join (ev6's bucketed-range-join discipline in
    * 2-D). The exact refine dispatches per polygon through a chained
    * `when` of integer-µ° half-plane literals (wod9's arithmetic —
    * ≤ datasets branches, codegen-friendly, no vertex arrays in
    * rows). Oracle: plain CROSS JOIN with the same four half-planes
    * per polygon — no geohash logic, so the hash match validates the
    * cover (a missed cell would lose rows).
    */
  val wod10PolygonJoin = Q(
    "wod10_geo_polygon_join",
    (s, _) => {
      ensureBulk(s)
      val store = s.read.parquet(s"$bulkOut/bulk/casts")
      // bounded driver collect: one anchor row per dataset
      val anchors = store.groupBy(col("dataset"))
        .agg(floor(davg(col("latitude"))).cast("double").as("clat"),
          floor(davg(col("longitude"))).cast("double").as("clon"))
        .collect()
        .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
        .sortBy(_._1)
      def u(v: Double): Long = math.round(v * 1e6)
      val polys = anchors.map { case (ds, clat, clon) =>
        val (latLo, latHi) =
          (math.max(clat - 4, -90.0), math.min(clat + 4, 90.0))
        val (lonLo, lonHi) =
          (math.max(clon - 8, -180.0), math.min(clon + 8, 180.0))
        val (cy, cx) = ((latLo + latHi) / 2, (lonLo + lonHi) / 2)
        val diamond = Seq(
          (u(cy), u(lonHi)), (u(latHi), u(cx)),
          (u(cy), u(lonLo)), (u(latLo), u(cx)))
        (ds, latLo, latHi, lonLo, lonHi, diamond)
      }
      import s.implicits._
      val cells = polys.flatMap { case (ds, la, lb, lo, hi, _) =>
        graft.operators.GeoOps.bboxToCells(la, lb, lo, hi, depth = 3)
          .map(c => (ds, c))
      }.toSeq.toDF("polygon_id", "cell")
      val refine = polys.foldLeft(lit(false)) {
        case (acc, (ds, _, _, _, _, diamond)) =>
          when(col("polygon_id") === ds, graft.operators.GeoOps
            .convexPolygonContains(col("latitude"), col("longitude"),
              diamond)).otherwise(acc)
      }
      store.join(broadcast(cells), store("geohash3") === cells("cell"))
        .filter(refine)
        .groupBy(col("polygon_id"))
        .agg(cnt.as("n_casts"),
          countDistinct(col("dataset")).as("n_datasets"),
          davg(col("latitude")).as("mean_lat"))
        .orderBy(col("polygon_id"))
    },
    sql = Some(s"""
      WITH store AS (
        SELECT * FROM read_parquet('$bulkOut/bulk/casts/*/*/*/*.parquet',
                                   hive_partitioning=1)),
      poly AS (
        SELECT dataset AS polygon_id,
          CAST(GREATEST(FLOOR(${sqlDavg("latitude")}) - 4, -90)
               * 1000000 AS BIGINT) AS y_lo,
          CAST(LEAST(FLOOR(${sqlDavg("latitude")}) + 4, 90)
               * 1000000 AS BIGINT) AS y_hi,
          CAST(GREATEST(FLOOR(${sqlDavg("longitude")}) - 8, -180)
               * 1000000 AS BIGINT) AS x_lo,
          CAST(LEAST(FLOOR(${sqlDavg("longitude")}) + 8, 180)
               * 1000000 AS BIGINT) AS x_hi
        FROM store GROUP BY dataset),
      p2 AS (SELECT polygon_id, y_lo, y_hi, x_lo, x_hi,
          (y_lo + y_hi) // 2 AS cy, (x_lo + x_hi) // 2 AS cx FROM poly),
      pts AS (
        SELECT dataset, latitude,
               CAST(ROUND(latitude * 1000000) AS BIGINT) AS py,
               CAST(ROUND(longitude * 1000000) AS BIGINT) AS px
        FROM store)
      SELECT p.polygon_id, COUNT(*) AS n_casts,
             COUNT(DISTINCT s.dataset) AS n_datasets,
             ${sqlDavg("latitude")} AS mean_lat
      FROM pts s CROSS JOIN p2 p
      WHERE (p.cx - p.x_hi) * (s.py - p.cy)
              - (p.y_hi - p.cy) * (s.px - p.x_hi) >= 0
        AND (p.x_lo - p.cx) * (s.py - p.y_hi)
              - (p.cy - p.y_hi) * (s.px - p.cx)  >= 0
        AND (p.cx - p.x_lo) * (s.py - p.cy)
              - (p.y_lo - p.cy) * (s.px - p.x_lo) >= 0
        AND (p.x_hi - p.cx) * (s.py - p.y_lo)
              - (p.cy - p.y_lo) * (s.px - p.cx)  >= 0
      GROUP BY p.polygon_id
      ORDER BY p.polygon_id"""))

  /** DYNAMIC partition pruning over the bulk store: a basin dim (tiny,
    * selective filter) broadcast-joins the (dataset, level, geohash3)-
    * partitioned store on its leading partition column, and Catalyst
    * inserts a runtime `dynamicpruning` subquery on the scan — only
    * the datasets surviving the dim filter are ever LISTED, let alone
    * read. This is the partition-pruning shape static predicates can't
    * give (the qualifying datasets are known only after the dim
    * filter runs), and at a 100 TB store it is the difference between
    * scanning 2/5 of the data and all of it. PlanQualitySpec gates the
    * `dynamicpruningexpression` on the scan's partition filters.
    */
  val wod11DppScan = Q(
    "wod11_dpp_scan",
    (s, _) => {
      ensureBulk(s)
      import s.implicits._
      val store = s.read.parquet(s"$bulkOut/bulk/casts")
      // the dim must be a REAL relation: a literal Seq collapses to a
      // LocalRelation and its filter constant-folds away before the
      // PartitionPruning rule looks for a selective predicate — no
      // DPP. Staged once per run (5 rows).
      val dimPath = s"$bulkOut/basin_dim"
      Seq(("APB", "pacific"), ("CTD", "atlantic"),
        ("DRB", "arctic"), ("SUR", "atlantic"), ("XBT", "indian"))
        .toDF("dataset", "basin")
        .write.mode("overwrite").parquet(dimPath)
      val dim = s.read.parquet(dimPath)
        .filter(col("basin") === "atlantic")
      store.join(broadcast(dim), Seq("dataset"))
        .groupBy(col("dataset"), col("basin"))
        .agg(cnt.as("n_casts"),
          countDistinct(col("geohash3")).as("n_cells"))
        .orderBy(col("dataset"))
    },
    sql = Some(s"""
      WITH store AS (
        SELECT * FROM read_parquet('$bulkOut/bulk/casts/*/*/*/*.parquet',
                                   hive_partitioning=1)),
      dim AS (
        SELECT * FROM (VALUES ('APB', 'pacific'), ('CTD', 'atlantic'),
          ('DRB', 'arctic'), ('SUR', 'atlantic'), ('XBT', 'indian'))
          AS t(dataset, basin)
        WHERE basin = 'atlantic')
      SELECT s.dataset, d.basin, COUNT(*) AS n_casts,
             COUNT(DISTINCT s.geohash3) AS n_cells
      FROM store s JOIN dim d ON s.dataset = d.dataset
      GROUP BY 1, 2
      ORDER BY s.dataset"""))

  val all: Seq[Q] = Seq(wod1Convert, wod2Profiles, wod3Density, wod4Bulk,
    wod5BasinJoin, wod6GeoLookup, wod7RangeScan, wod8BboxScan,
    wod9PolygonScan, wod10PolygonJoin, wod11DppScan)
}
