package graft.wod

/** GeoParquet 1.0.0 footer metadata, Sedona-free (SURVEY.md §7.4).
  *
  * The reference writes GeoParquet via Sedona's `geoparquet` format with
  * version 1.0.0 + WGS-84 PROJJSON CRS (`DatasetYearTrain.java:41-42,
  * 131-137,216-221`). Our toolchain has no Sedona, so the engine writes
  * parquet with a WKB `geometry` column and [[GeoParquetWriteSupport]]
  * stamps the spec's `geo` key-value footer onto each part file as it
  * closes.
  */
object GeoParquet {

  /** WGS-84 PROJJSON (GeoParquet spec's default CRS, public OGC
    * definition — EPSG:4326).
    */
  val Wgs84Projjson: String =
    """{"type":"GeographicCRS","name":"WGS 84","datum_ensemble":{"name":"World Geodetic System 1984 ensemble","members":[{"name":"World Geodetic System 1984 (Transit)"},{"name":"World Geodetic System 1984 (G730)"},{"name":"World Geodetic System 1984 (G873)"},{"name":"World Geodetic System 1984 (G1150)"},{"name":"World Geodetic System 1984 (G1674)"},{"name":"World Geodetic System 1984 (G1762)"}],"ellipsoid":{"name":"WGS 84","semi_major_axis":6378137,"inverse_flattening":298.257223563},"accuracy":"2.0"},"coordinate_system":{"subtype":"ellipsoidal","axis":[{"name":"Geodetic latitude","abbreviation":"Lat","direction":"north","unit":"degree"},{"name":"Geodetic longitude","abbreviation":"Lon","direction":"east","unit":"degree"}]},"id":{"authority":"EPSG","code":4326}}"""

  /** The `geo` footer JSON for a WKB point column named `geometry`. */
  def geoJson(bbox: (Double, Double, Double, Double)): String = {
    val (minLon, minLat, maxLon, maxLat) = bbox
    s"""{"version":"1.0.0","primary_column":"geometry","columns":{"geometry":{"encoding":"WKB","geometry_types":["Point"],"crs":$Wgs84Projjson,"bbox":[$minLon,$minLat,$maxLon,$maxLat]}}}"""
  }
}
