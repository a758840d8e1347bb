package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Route length over the GeoJSON connector's features
  * (reference src/process_cycle_networks.py:85-99). Documents are read by
  * [[GeoJsonDataSource]] (`spark.read.format("geojson")`); the length is a
  * plain Catalyst fold, so at 100 TB this is a parallel scan + projection.
  */
object GeoJson {

  /** Planar length over the connector's normalized multi-part `parts` column
    * (array<array<array<double>>>): sum of per-part polyline lengths over
    * x and y, matching how the reference's `row.geometry.length` works on any
    * shapely geometry including MultiLineString
    * (process_cycle_networks.py:91, app/app.py:11).
    */
  def multiPartLength(df: DataFrame): DataFrame =
    df.withColumn("route_length_m", expr(
      // single-point parts (Point geometries normalize to one) contribute 0;
      // without the guard sequence(0, -1) = [0, -1] and the out-of-range
      // lookups null the whole length
      """aggregate(
        |  parts,
        |  0D,
        |  (total, part) -> total + (CASE WHEN size(part) < 2 THEN 0D ELSE aggregate(
        |    sequence(0, size(part) - 2),
        |    0D,
        |    (acc, i) -> acc + sqrt(
        |      pow(part[i+1][0] - part[i][0], 2) +
        |      pow(part[i+1][1] - part[i][1], 2))) END))""".stripMargin))
}
