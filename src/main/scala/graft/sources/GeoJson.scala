package graft.sources

import graft.functions.Native
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** Route length over the GeoJSON connector's features
  * (reference src/process_cycle_networks.py:85-99). Documents are read by
  * [[GeoJsonDataSource]] (`spark.read.format("geojson")`); the length is the
  * native `graft_parts_length` expression, so at 100 TB this is a parallel
  * scan + projection.
  */
object GeoJson {

  /** Planar length over the connector's normalized multi-part `parts` column
    * (array<array<array<double>>>): sum of per-part polyline lengths over
    * x and y, matching how the reference's `row.geometry.length` works on any
    * shapely geometry including MultiLineString
    * (process_cycle_networks.py:91, app/app.py:11). Null parts and parts
    * with fewer than 2 points add 0; a null point nulls the length.
    */
  def multiPartLength(df: DataFrame): DataFrame =
    df.withColumn("route_length_m", Native.partsLength(col("parts")))
}
