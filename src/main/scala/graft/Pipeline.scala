package graft

import graft.functions.{Native, Wkt}
import graft.sinks.Sinks
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's full ETL, end to end, as one composable pipeline:
  *
  *   GeoJSON documents → features (the DSv2 connector, `format("geojson")`)
  *   → route length + lineage → EPSG:27700→4326 reprojection of the route
  *   start point → OS grid reference → typed property columns → sinks.
  *
  * This is the "a user of the reference could switch" surface: the same
  * inputs/outputs as `process_cycle_networks.py` end to end, but every step is
  * a declarative Spark plan (one scan, zero driver-side loops). Every entry
  * point reads through the connector: [[processRoutesNative]] is the
  * enrichment, and [[processRoutes]] is it plus the typed property flatten
  * the file sinks write. Length, reprojection and grid reference are the
  * native `graft_parts_length`, `graft_osgb` and `graft_osgrid` expressions;
  * `graft_osgb` runs the same double-op sequence as the shared-SQL transform
  * the oracle uses (functions/Osgb.scala).
  */
object Pipeline {

  /** Ingest + enrich, as flat typed columns: the feature's properties (one
    * column each, typed by Spark's JSON inference over the non-null
    * `properties_json` values, so numbers, nested objects and explicit
    * nulls keep their types), `geometry_type`, `coordinates` (the first
    * part), then route_length_m, source_file, start easting/northing, WGS84
    * lat/lon and the precision-10 OS grid reference of the route start.
    */
  def processRoutes(spark: SparkSession, geojsonPath: String): DataFrame = {
    import spark.implicits._
    val routes = processRoutesNative(spark, geojsonPath)
    val json = col("properties_json")
    val props = spark.read.json(routes.select(json).where(json.isNotNull).as[String]).schema
    routes.withColumn("p", from_json(json, props)).select(
      props.fieldNames.map(n => col("p").getField(n).as(n)).toSeq ++ Seq(
        col("geometry_type"), element_at(col("parts"), 1).as("coordinates"),
        col("route_length_m"), col("source_file"), col("easting"), col("northing"),
        col("lat"), col("lon"), col("os_gridref")): _*)
  }

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

  /** The enrichment over the connector's own columns: DSv2 read (a file, a
    * directory of documents, multi-part aware, pruned at the reader), then
    * one projection that appends the `graft_parts_length` route length, the
    * start easting/northing, the `graft_osgb` lat/lon rounded to 6 decimals
    * (~0.1 m) and the `graft_osgrid` grid reference. The three nodes are
    * single static calls, so building the frame analyses a handful of
    * expressions rather than the composed trees they replaced.
    */
  def processRoutesNative(spark: SparkSession, geojsonPath: String): DataFrame = {
    val feats = spark.read.format("geojson").load(geojsonPath)
    val start = element_at(element_at(col("parts"), 1), 1)
    val (e, n) = (element_at(start, 1).cast("double"), element_at(start, 2).cast("double"))
    val ll = Native.osgb(e, n)
    feats.select(col("*"),
      Native.partsLength(col("parts")).as("route_length_m"),
      e.as("easting"), n.as("northing"),
      round(element_at(ll, 1), 6).as("lat"), round(element_at(ll, 2), 6).as("lon"),
      Native.osgrid(e, n, 10).as("os_gridref"))
  }
}
