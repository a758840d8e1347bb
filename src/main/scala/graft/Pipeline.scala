package graft

import graft.functions.{Native, OsGrid, Wkt}
import graft.sinks.Sinks
import graft.sources.GeoJson
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's full ETL, end to end, as one composable pipeline:
  *
  *   GeoJSON file → flat features → route length + lineage → EPSG:27700→4326
  *   reprojection of the route start point → OS grid reference → sinks.
  *
  * This is the "a user of the reference could switch" surface: the same
  * inputs/outputs as `process_cycle_networks.py` end to end, but every step is
  * a declarative Spark plan (one scan, zero driver-side loops). Reprojection
  * is the native `graft_osgb` expression, which runs the same double-op
  * sequence as the shared-SQL transform the oracle uses (functions/Osgb.scala).
  */
object Pipeline {

  /** Ingest + enrich. The result carries all source properties plus
    * route_length_m, source_file, start easting/northing, WGS84 lat/lon and
    * the precision-10 OS grid reference of the route start.
    */
  def processRoutes(spark: SparkSession, geojsonPath: String): DataFrame =
    withLatLonGridRef(GeoJson.ingest(spark, geojsonPath)
      .withColumn("easting", col("coordinates")(0)(0).cast("double"))
      .withColumn("northing", col("coordinates")(0)(1).cast("double")))

  /** Full run: process + write both file sinks, mirroring
    * process_cycle_networks.py's geojson/csv output switch (both here).
    * Returns (geojson path, csv path).
    */
  def run(spark: SparkSession, geojsonPath: String, outDir: String,
          timestamp: String): (String, String) = {
    val routes = processRoutes(spark, geojsonPath)
    val propCols = routes.columns.filterNot(Seq("geometry_type", "coordinates").contains).toSeq
    val gj = Sinks.writeGeoJson(routes, outDir, "routes", timestamp, propCols)
    val csv = Sinks.writeCsvWkt(
      routes, outDir, "routes", timestamp,
      Wkt.point(col("easting"), col("northing")))
    (gj, csv)
  }

  /** The same enrichment through the native surface: DSv2 connector read
    * (multi-part aware, pruned at the reader), nested-fold multi-part length,
    * then the same reprojection and grid reference as [[processRoutes]]
    * (PipelineSpec asserts the equivalence).
    */
  def processRoutesNative(spark: SparkSession, geojsonPath: String): DataFrame = {
    val feats = spark.read.format("geojson").load(geojsonPath)
    withLatLonGridRef(GeoJson.multiPartLength(feats)
      .withColumn("easting", element_at(element_at(element_at(col("parts"), 1), 1), 1).cast("double"))
      .withColumn("northing", element_at(element_at(element_at(col("parts"), 1), 1), 2).cast("double")))
  }

  /** Appends `lat`/`lon` (the `graft_osgb` reprojection of easting/northing,
    * rounded to 6 decimals, ~0.1 m) and the precision-10 `os_gridref`.
    */
  private def withLatLonGridRef(routes: DataFrame): DataFrame = {
    val ll = Native.osgb(col("easting"), col("northing"))
    routes
      .withColumn("lat", round(element_at(ll, 1), 6))
      .withColumn("lon", round(element_at(ll, 2), 6))
      .withColumn("os_gridref", OsGrid.gridRef(col("easting"), col("northing"), 10))
  }
}
