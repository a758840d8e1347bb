package graft.operators

import graft.{Q, Tables}
import graft.functions.{Geom, Native, Osgb, OsGrid, Wkt}
import org.apache.spark.sql.functions._

/** The reference's ETL transform surface: derived length, lineage, typed schema,
  * WKT round-trip, OS grid references (process_cycle_networks.py /
  * db_models.py / geotiles.py), re-expressed as declarative column plans.
  */
object Routes {

  /** Derived column: route length in projected meters —
    * process_cycle_networks.py:91 (`row.geometry.length`). Pure scalar math in
    * the scan stage; rounded on both sides for FP stability.
    */
  val derivedLen = Q(
    "q_derived_len",
    (s, d) =>
      Tables.lineitem(s, d).select(
        col("l_orderkey"),
        col("l_linenumber"),
        Geom.e1.as("e1"),
        Geom.n1.as("n1"),
        Geom.e2.as("e2"),
        Geom.n2.as("n2"),
        round(sqrt((Geom.dx * Geom.dx + Geom.dy * Geom.dy).cast("double")), 6).as("route_length_m")
      ).orderBy("l_orderkey", "l_linenumber"),
    s"""SELECT l_orderkey, l_linenumber, ${Geom.e1Sql} AS e1, ${Geom.n1Sql} AS n1,
       |${Geom.e2Sql} AS e2, ${Geom.n2Sql} AS n2,
       |round(sqrt(CAST(${Geom.dxSql}*${Geom.dxSql} + ${Geom.dySql}*${Geom.dySql} AS DOUBLE)), 6) AS route_length_m
       |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin
  )

  /** Property passthrough + `source_file` lineage —
    * process_cycle_networks.py:85-99. Lineage comes from the actual scan
    * (`input_file_name`), not a constant, so it survives multi-file reads.
    */
  val lineage = Q(
    "q_lineage",
    (s, d) =>
      Tables.part(s, d)
        .withColumn("source_file", regexp_extract(input_file_name(), "([^/]+)$", 1))
        .orderBy("p_partkey"),
    """SELECT p_partkey, p_name, p_brand, p_type, p_size, p_retailprice,
      |'part.parquet' AS source_file FROM part ORDER BY p_partkey""".stripMargin
  )

  /** Typed 18-column CyclingRoute schema incl. audit timestamp —
    * db_models.py:17-59 plus the rename/derive rules of db_helpers.py:160-190.
    * The result conforms to Dataset[CyclingRoute] (see CyclingRouteSpec).
    */
  val typedSchema = Q(
    "q_typed_schema",
    (s, d) => {
      val e = Geom.pointE("o_orderkey")
      val n = Geom.pointN("o_orderkey")
      Tables.orders(s, d).select(
        col("o_orderkey").as("id"),
        concat(lit("R-"), col("o_orderkey").cast("string")).as("route_id"),
        concat(lit("Street "), (col("o_custkey") % 100L).cast("string")).as("street"),
        col("o_orderpriority").as("locality"),
        when(col("o_orderstatus") === "O", "Cycle Lane")
          .when(col("o_orderstatus") === "F", "Cycle Path")
          .otherwise("Mixed Use Path").as("route_type"),
        lit(null).cast("string").as("notes"),
        when(col("o_orderkey") % 2L === 0L, "Asphalt").otherwise("Gravel").as("surface"),
        when(col("o_orderkey") % 10L === 0L,
          concat(lit("NCN-"), (col("o_orderkey") % 80L).cast("string"))).otherwise(lit(null).cast("string")).as("ncn_route"),
        when(col("o_totalprice") > 100000.0d, "High").otherwise("Low").as("traffic"),
        concat(lit("LA-"), lpad((col("o_custkey") % 32L).cast("string"), 2, "0")).as("local_authority"),
        concat(lit("S12"), lpad((col("o_custkey") % 100000L).cast("string"), 6, "0")).as("la_s_code"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("sh_date_uploaded"),
        lit("transit-scrape").as("sh_src"),
        col("o_custkey").cast("double").as("sh_src_id"),
        col("o_totalprice").as("route_length_m"),
        lit("orders.parquet").as("source_file"),
        to_timestamp(lit("2024-06-01 00:00:00")).as("created_at"),
        Wkt.point(e, n).as("geometry_wkt")
      ).orderBy("id")
    },
    s"""SELECT o_orderkey AS id, 'R-' || CAST(o_orderkey AS VARCHAR) AS route_id,
       |'Street ' || CAST(o_custkey % 100 AS VARCHAR) AS street,
       |o_orderpriority AS locality,
       |CASE o_orderstatus WHEN 'O' THEN 'Cycle Lane' WHEN 'F' THEN 'Cycle Path' ELSE 'Mixed Use Path' END AS route_type,
       |CAST(NULL AS VARCHAR) AS notes,
       |CASE WHEN o_orderkey % 2 = 0 THEN 'Asphalt' ELSE 'Gravel' END AS surface,
       |CASE WHEN o_orderkey % 10 = 0 THEN 'NCN-' || CAST(o_orderkey % 80 AS VARCHAR) ELSE NULL END AS ncn_route,
       |CASE WHEN o_totalprice > 100000.0 THEN 'High' ELSE 'Low' END AS traffic,
       |'LA-' || lpad(CAST(o_custkey % 32 AS VARCHAR), 2, '0') AS local_authority,
       |'S12' || lpad(CAST(o_custkey % 100000 AS VARCHAR), 6, '0') AS la_s_code,
       |strftime(o_orderdate, '%Y-%m-%d') AS sh_date_uploaded,
       |'transit-scrape' AS sh_src, CAST(o_custkey AS DOUBLE) AS sh_src_id,
       |o_totalprice AS route_length_m, 'orders.parquet' AS source_file,
       |TIMESTAMP '2024-06-01 00:00:00' AS created_at,
       |${Wkt.pointSql(Geom.pointESql("o_orderkey"), Geom.pointNSql("o_orderkey"))} AS geometry_wkt
       |FROM orders ORDER BY id""".stripMargin
  )

  /** WKT serialize → parse round-trip — app/app.py:69,86 + db_helpers.py:185-190. */
  val wktRoundtrip = Q(
    "q_wkt_roundtrip",
    (s, d) => {
      val wkt = Wkt.lineString(Geom.e1, Geom.n1, Geom.e2, Geom.n2)
      Tables.lineitem(s, d).select(
        col("l_orderkey"),
        col("l_linenumber"),
        wkt.as("geometry_wkt"),
        Wkt.parseFirstX(wkt).as("parsed_x1"),
        Wkt.parseLastY(wkt).as("parsed_y2")
      ).orderBy("l_orderkey", "l_linenumber")
    }, {
      val wktSql = Wkt.lineStringSql(Geom.e1Sql, Geom.n1Sql, Geom.e2Sql, Geom.n2Sql)
      s"""SELECT l_orderkey, l_linenumber, $wktSql AS geometry_wkt,
         |${Wkt.parseFirstXSql(wktSql)} AS parsed_x1,
         |${Wkt.parseLastYSql(wktSql)} AS parsed_y2
         |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin
    }
  )

  /** Multi-part geometry round-trip: MULTILINESTRING serialize → parse (part
    * count, first/last coordinates) plus total multi-part length through the
    * `graft_parts_length` node the GeoJSON connector's `parts` column uses
    * ([[graft.sources.GeoJson.multiPartLength]]). The reference handles
    * multi-part geometries through shapely (app/app.py:11,
    * process_cycle_networks.py:91 — `row.geometry.length` sums parts).
    */
  val wktMulti = Q(
    "q_wkt_multi",
    (s, d) => {
      // part 2 starts 1000 m offset from part 1's end, heading (2dy, dx)
      val (x3, y3) = (Geom.e2 + 1000L, Geom.n2 + 1000L)
      val (x4, y4) = (x3 + Geom.dy * 2L, y3 + Geom.dx)
      val wkt = Wkt.multiLineString2(Geom.e1, Geom.n1, Geom.e2, Geom.n2, x3, y3, x4, y4)
      val parts = array(
        array(array(Geom.e1.cast("double"), Geom.n1.cast("double")),
              array(Geom.e2.cast("double"), Geom.n2.cast("double"))),
        array(array(x3.cast("double"), y3.cast("double")),
              array(x4.cast("double"), y4.cast("double"))))
      Tables.lineitem(s, d).select(
        col("l_orderkey"), col("l_linenumber"), wkt.as("geometry_wkt"),
        Wkt.numParts(wkt).as("n_parts"),
        Wkt.parseMultiFirstX(wkt).as("parsed_x1"),
        Wkt.parseMultiLastY(wkt).as("parsed_y4"),
        round(Native.partsLength(parts), 6).as("route_length_m"))
        .orderBy("l_orderkey", "l_linenumber")
    }, {
      val (x3, y3) = (s"(${Geom.e2Sql} + 1000)", s"(${Geom.n2Sql} + 1000)")
      val (x4, y4) = (s"($x3 + ${Geom.dySql}*2)", s"($y3 + ${Geom.dxSql})")
      val wktSql = Wkt.multiLineString2Sql(
        Geom.e1Sql, Geom.n1Sql, Geom.e2Sql, Geom.n2Sql, x3, y3, x4, y4)
      s"""SELECT l_orderkey, l_linenumber, $wktSql AS geometry_wkt,
         |${Wkt.numPartsSql(wktSql)} AS n_parts,
         |${Wkt.parseMultiFirstXSql(wktSql)} AS parsed_x1,
         |${Wkt.parseMultiLastYSql(wktSql)} AS parsed_y4,
         |round(sqrt(power(${Geom.e2Sql} - ${Geom.e1Sql}, 2) + power(${Geom.n2Sql} - ${Geom.n1Sql}, 2))
         |    + sqrt(power($x4 - $x3, 2) + power($y4 - $y3, 2)), 6) AS route_length_m
         |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin
    }
  )

  /** OS grid reference at precision 6/8/10 — geotiles.py:12-59 — through the
    * native `graft_osgrid` node; the oracle runs [[OsGrid.gridRefSql]]. */
  val osGridRef = Q(
    "q_os_gridref",
    (s, d) => {
      val e = Geom.pointE("p_partkey")
      val n = Geom.pointN("p_partkey")
      Tables.part(s, d).select(
        col("p_partkey"),
        e.as("easting"),
        n.as("northing"),
        Native.osgrid(e, n, 6).as("gridref6"),
        Native.osgrid(e, n, 8).as("gridref8"),
        Native.osgrid(e, n, 10).as("gridref10")
      ).orderBy("p_partkey")
    }, {
      val e = Geom.pointESql("p_partkey")
      val n = Geom.pointNSql("p_partkey")
      s"""SELECT p_partkey, $e AS easting, $n AS northing,
         |${OsGrid.gridRefSql(e, n, 6)} AS gridref6,
         |${OsGrid.gridRefSql(e, n, 8)} AS gridref8,
         |${OsGrid.gridRefSql(e, n, 10)} AS gridref10
         |FROM part ORDER BY p_partkey""".stripMargin
    }
  )

  /** CRS reprojection EPSG:27700→4326 — process_cycle_networks.py:70-83.
    * The native fused expression (plans/OsgbToWgs84) runs the same double-op
    * sequence as the shared SQL chain the DuckDB oracle executes (see
    * functions/Osgb.scala), one codegen'd call per row; outputs rounded to 5
    * decimals (~1 m).
    */
  val reproject = Q(
    "q_reproject",
    (s, d) => {
      val ll = Native.osgb(col("easting"), col("northing"))
      Tables.part(s, d).select(
        col("p_partkey"),
        Geom.pointE("p_partkey").cast("double").as("easting"),
        Geom.pointN("p_partkey").cast("double").as("northing"))
        .select(
          col("p_partkey"), col("easting"), col("northing"),
          round(element_at(ll, 1), 5).as("lat"),
          round(element_at(ll, 2), 5).as("lon"))
        .orderBy("p_partkey")
    },
    Osgb.reprojectSql(
      s"(SELECT p_partkey, CAST(${Geom.pointESql("p_partkey")} AS DOUBLE) AS easting, " +
        s"CAST(${Geom.pointNSql("p_partkey")} AS DOUBLE) AS northing FROM part)",
      Seq("p_partkey"), 5)
  )

  /** Z-order spatial clustering: Morton-encode every route start point
    * (16-bit quantized easting/northing) and summarize occupancy + bounding
    * box per coarse Z cell. The code itself is the LAYOUT primitive — at
    * scale the table is range-partitioned/sorted by `z` so a bbox scan
    * prunes files by parquet min/max stats (ZOrderSpec measures the per-file
    * extent shrinkage); this query is the audit view of that clustering
    * (every cell's extent is bounded by the cell size — locality by
    * construction). Pure codegen'd bit math + one grouped aggregate.
    */
  val zorder = Q(
    "q_zorder",
    (s, d) => {
      import graft.functions.ZOrder
      val z = ZOrder.morton(expr("e div 16"), expr("n div 16"))
      Tables.lineitem(s, d)
        .select(Geom.e1.as("e"), Geom.n1.as("n"))
        .select(col("e"), col("n"), z.as("z"))
        .groupBy(expr("z div 65536").as("zcell"))
        .agg(count(lit(1)).as("n_routes"),
          min(col("e")).as("min_e"), max(col("e")).as("max_e"),
          min(col("n")).as("min_n"), max(col("n")).as("max_n"))
        .orderBy("zcell")
    },
    s"""WITH pts AS (SELECT ${Geom.e1Sql} AS e, ${Geom.n1Sql} AS n FROM lineitem),
       |zs AS (SELECT e, n,
       |  ${graft.functions.ZOrder.mortonSql("(e // 16)", "(n // 16)")} AS z FROM pts)
       |SELECT CAST(z // 65536 AS BIGINT) AS zcell, CAST(count(*) AS BIGINT) AS n_routes,
       |       CAST(min(e) AS BIGINT) AS min_e, CAST(max(e) AS BIGINT) AS max_e,
       |       CAST(min(n) AS BIGINT) AS min_n, CAST(max(n) AS BIGINT) AS max_n
       |FROM zs GROUP BY 1 ORDER BY 1""".stripMargin
  )

  val all: Seq[Q] = Seq(derivedLen, lineage, typedSchema, wktRoundtrip, wktMulti, osGridRef,
    reproject, zorder)
}
