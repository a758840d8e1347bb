package graft

import graft.sinks.Sinks
import org.apache.spark.sql.functions._
import java.nio.file.Files

class SinksSpec extends SparkSpec {

  private def routes = {
    import spark.implicits._
    Seq(
      ("R1", "Edinburgh", "LineString", Seq(Seq(325000.0, 673000.0), Seq(325300.0, 673400.0))),
      ("R2", "Glasgow", "LineString", Seq(Seq(258000.0, 665000.0), Seq(258600.0, 665800.0)))
    ).toDF("route_id", "local_authority", "geometry_type", "coordinates")
  }

  test("GeoJSON sink round-trips through the GeoJSON source") {
    val out = Files.createTempDirectory("gjsink").toString
    val path = Sinks.writeGeoJson(routes, out, "routes", "20240601_000000",
      propCols = Seq("route_id", "local_authority"))
    assert(path.endsWith("routes_20240601_000000.geojson"))
    val back = spark.read.format("geojson").load(new java.io.File(path).listFiles()
      .filter(_.getName.startsWith("part-")).map(_.getPath): _*)
    assert(back.count() == 2)
    val byId = back.select(col("properties")("route_id"), col("parts")).collect()
      .map(r => r.getString(0) -> r.getSeq[Seq[Seq[Double]]](1)).toMap
    assert(byId.keySet == Set("R1", "R2"))
    assert(byId("R1") == Seq(Seq(Seq(325000.0, 673000.0), Seq(325300.0, 673400.0))))
  }

  test("CSV sink writes WKT and re-reads with schema") {
    val out = Files.createTempDirectory("csvsink").toString
    val wkt = expr(
      "concat('LINESTRING(', coordinates[0][0], ' ', coordinates[0][1], ', ', coordinates[1][0], ' ', coordinates[1][1], ')')")
    val path = Sinks.writeCsvWkt(routes, out, "routes", "20240601_000000", wkt)
    val back = spark.read.option("header", "true").csv(path)
    assert(back.count() == 2)
    val w = back.filter(col("route_id") === "R1").select("geometry_wkt").head().getString(0)
    assert(w == "LINESTRING(325000.0 673000.0, 325300.0 673400.0)")
  }

  test("FeatureCollection sink emits one valid single-document collection") {
    val out = Files.createTempDirectory("fcsink").toString
    val part = Sinks.writeGeoJsonFeatureCollection(routes, out, "routes", "20240601_000000",
      propCols = Seq("route_id", "local_authority"))
    // the part file is ONE parseable FeatureCollection document
    val doc = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File(part))
    assert(doc.get("type").asText() == "FeatureCollection")
    assert(doc.get("features").size() == 2)
    assert(doc.get("features").get(0).get("geometry").get("type").asText() == "LineString")
    // and the GeoJSON source reads it back as a FeatureCollection
    assert(spark.read.format("geojson").load(part).count() == 2)
  }

  test("batched sink honors batch size and table modes") {
    val out = Files.createTempDirectory("batched").toString + "/t"
    val df = spark.range(1000).toDF("id")
    Sinks.writeBatched(df, out, "drop", batchSize = 100)
    val files = new java.io.File(out).listFiles().filter(_.getName.endsWith(".parquet"))
    assert(files.length >= 10, s"expected >=10 part files, got ${files.length}")
    assert(spark.read.parquet(out).count() == 1000)
    // create on existing path must fail (ErrorIfExists)
    intercept[Exception] { Sinks.writeBatched(df, out, "create") }
    // append doubles the rows
    Sinks.writeBatched(df, out, "append")
    assert(spark.read.parquet(out).count() == 2000)
  }

  test("JDBC sink writes real tables with batchsize and table modes (embedded Derby)") {
    System.setProperty("derby.stream.error.file", "/tmp/derby.log")
    val url = s"jdbc:derby:${Files.createTempDirectory("derby")}/db;create=true"
    val df = spark.range(500).toDF("id")

    Sinks.writeJdbc(df, url, "routes_out", "drop", batchSize = 64)
    def readBack() = spark.read.format("jdbc")
      .option("url", url).option("dbtable", "routes_out").load()
    assert(readBack().count() == 500)

    // append doubles the rows through the same batched path
    Sinks.writeJdbc(df, url, "routes_out", "append", batchSize = 64)
    assert(readBack().count() == 1000)

    // drop recreates from scratch
    Sinks.writeJdbc(df, url, "routes_out", "drop", batchSize = 64)
    assert(readBack().count() == 500)

    // create on an existing table must fail (ErrorIfExists)
    intercept[Exception] { Sinks.writeJdbc(df, url, "routes_out", "create") }

    // unknown mode is rejected before any connection is opened
    intercept[IllegalArgumentException] { Sinks.writeJdbc(df, url, "routes_out", "merge") }
  }
}
