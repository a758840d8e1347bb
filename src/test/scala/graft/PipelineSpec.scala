package graft

import com.fasterxml.jackson.databind.ObjectMapper
import graft.functions.{Native, Wkt}
import graft.sinks.Sinks
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

class PipelineSpec extends SparkSpec {

  private def parts(dir: String): Seq[java.io.File] =
    new java.io.File(dir).listFiles().filter(_.getName.startsWith("part-")).toSeq

  private def lines(dir: String): Seq[String] =
    parts(dir).flatMap(f => Files.readAllLines(f.toPath).asScala)

  private def multiset[A](xs: Seq[A]): Map[A, Int] = xs.groupBy(identity).view.mapValues(_.size).toMap

  test("full reference ETL: GeoJSON in, enriched GeoJSON + CSV out") {
    val dir = Files.createTempDirectory("pipeline").toString
    // Edinburgh-ish BNG coordinates
    val feature =
      """{"type": "Feature",
        | "properties": {"route_id": "R1", "local_authority": "Edinburgh", "route_type": "Cycle Lane"},
        | "geometry": {"type": "LineString", "coordinates": [[325940.0, 673060.0], [326240.0, 673460.0]]}}""".stripMargin
    val in = s"$dir/in.json"
    Files.writeString(Paths.get(in),
      s"""{"type": "FeatureCollection", "features": [$feature]}""")

    val routes = Pipeline.processRoutes(spark, in)
    val row = routes.collect().head
    assert(math.abs(row.getAs[Double]("route_length_m") - 500.0) < 1e-9)
    assert(row.getAs[String]("os_gridref") == "NT 25940 73060")
    // NT 25940 73060 is central Edinburgh — sanity-band the WGS84 output
    // (exactness is proven against the OS worked example in the oracle gate)
    assert(math.abs(row.getAs[Double]("lat") - 55.95) < 0.05, row.getAs[Double]("lat"))
    assert(math.abs(row.getAs[Double]("lon") - -3.19) < 0.05, row.getAs[Double]("lon"))

    val (gj, csv) = Pipeline.run(spark, in, dir, "20240601_000000")
    // the sink's newline-delimited Features re-read through the connector
    val back = spark.read.format("geojson").load(parts(gj).map(_.getPath): _*)
    assert(back.count() == 1)
    assert(back.select(col("properties")("os_gridref")).head().getString(0) == "NT 25940 73060")
    val csvBack = spark.read.option("header", "true").csv(csv)
    assert(csvBack.count() == 1)
    assert(csvBack.columns.contains("geometry_wkt"))

    // the connector-column enrichment is the same computation, unflattened
    val native = Pipeline.processRoutesNative(spark, in).collect().head
    assert(math.abs(native.getAs[Double]("route_length_m") - 500.0) < 1e-9)
    assert(native.getAs[String]("os_gridref") == row.getAs[String]("os_gridref"))
    assert(native.getAs[Double]("lat") == row.getAs[Double]("lat"))
    assert(native.getAs[Double]("lon") == row.getAs[Double]("lon"))
  }

  /** The `spark.read.json` ingest that `processRoutes` replaced: whole-document
    * inference, `features` exploded when any document has that field. Kept
    * here as the reference the connector path must reproduce. */
  private def jsonReference(path: String): DataFrame = {
    val raw = spark.read.option("multiLine", "true").json(path)
    val f = if (raw.columns.contains("features")) raw.select(explode(col("features")).as("f"))
            else raw.select(struct(raw.columns.map(col): _*).as("f"))
    val c = col("coordinates")
    val ll = Native.osgb(col("easting"), col("northing"))
    f.select(col("f.properties.*"), col("f.geometry.type").as("geometry_type"),
        col("f.geometry.coordinates").as("coordinates"))
      .withColumn("route_length_m", expr("""CASE WHEN size(coordinates) < 2 THEN 0D ELSE aggregate(
        |sequence(0, size(coordinates) - 2), 0D, (acc, i) -> acc + sqrt(pow(coordinates[i+1][0] -
        |coordinates[i][0], 2) + pow(coordinates[i+1][1] - coordinates[i][1], 2))) END""".stripMargin))
      .withColumn("source_file", regexp_extract(input_file_name(), "([^/]+)$", 1))
      .withColumn("easting", c(0)(0).cast("double")).withColumn("northing", c(0)(1).cast("double"))
      .withColumn("lat", round(element_at(ll, 1), 6)).withColumn("lon", round(element_at(ll, 2), 6))
      .withColumn("os_gridref", Native.osgrid(col("easting"), col("northing"), 10))
  }

  private def routeFeature(id: Int, props: String): String = {
    val (e, n) = (300000.5 + id * 1013.25, 670000.25 + id * 877.5)
    s"""{"type": "Feature", "properties": $props,
       | "geometry": {"type": "LineString",
       |  "coordinates": [[$e, $n], [${e + 300}, ${n + 400}], [${e + 350.5}, ${n + 380.25}]]}}""".stripMargin
  }

  /** int, double, string and null values, nested object and array values
    * unless `flat`; one feature with `"properties": null`, one missing the
    * `length_km` key. */
  private def props(id: Int, flat: Boolean): String = {
    val nested = if (flat) "" else id % 4 match {
      case 1 => """, "meta": {"lanes": 2, "surface": "asphalt"}, "tags": ["lit", "quiet"]"""
      case 2 => """, "meta": {"lanes": 1, "surface": null}, "tags": []"""
      case _ => """, "meta": null, "tags": ["steep"]"""
    }
    id % 4 match {
      case 0 => "null"
      case 1 => s"""{"id": $id, "route_id": "R$id", "length_km": ${id * 1.25}, "note": null$nested}"""
      case 2 => s"""{"id": $id, "route_id": "R$id", "note": "towpath"$nested}"""
      case _ => s"""{"id": $id, "route_id": "R$id", "length_km": ${id * 0.5}, "note": "shared"$nested}"""
    }
  }

  /** One directory per document shape, laid out as the benchmark's corpus. */
  private def shapeDirs(flat: Boolean): Map[String, String] = {
    val root = Files.createTempDirectory("pipeline-shapes")
    val ids = Iterator.from(1)
    def feats(n: Int) = (1 to n).map { _ => val id = ids.next(); routeFeature(id, props(id, flat)) }
    Seq("fc", "feature", "list").map { shape =>
      val d = Files.createDirectories(root.resolve(shape))
      (0 until 3).foreach { k =>
        val doc = shape match {
          case "fc" => s"""{"type": "FeatureCollection", "features": [${feats(4).mkString(",")}]}"""
          case "feature" => feats(1).head
          case _ => feats(3).mkString("[", ",", "]")
        }
        Files.writeString(d.resolve(f"${shape}_$k%03d.geojson"), doc)
      }
      shape -> d.toString
    }.toMap
  }

  private val json = new ObjectMapper()
  private def geojsonLines(dir: String) = multiset(lines(dir).map(json.readTree))

  test("processRoutes and the batched sink match the spark.read.json ingest on every shape") {
    val out = Files.createTempDirectory("pipeline-eq").toString
    shapeDirs(flat = false).foreach { case (shape, dir) =>
      val (got, want) = (Pipeline.processRoutes(spark, dir), jsonReference(dir))
      assert(got.schema.map(f => f.name -> f.dataType) == want.schema.map(f => f.name -> f.dataType),
        s"$shape schema:\n${got.schema.treeString}\nvs\n${want.schema.treeString}")
      assert(multiset(got.collect().toSeq.map(_.toString)) == multiset(want.collect().toSeq.map(_.toString)),
        s"$shape rows differ")
      // run's GeoJSON half; its CSV half is checked on these shapes below
      val propCols = want.columns.filterNot(Seq("geometry_type", "coordinates").contains).toSeq
      assert(geojsonLines(Sinks.writeGeoJson(got, s"$out/gj", "routes", shape, propCols)) ==
        geojsonLines(Sinks.writeGeoJson(want, s"$out/ref-gj", "routes", shape, propCols)),
        s"$shape GeoJSON sink differs")
      Sinks.writeBatched(got, s"$out/batched/$shape", "drop")
      Sinks.writeBatched(want, s"$out/ref-batched/$shape", "drop")
      assert(spark.read.parquet(s"$out/batched/$shape").schema ==
        spark.read.parquet(s"$out/ref-batched/$shape").schema, s"$shape batched sink schema differs")
    }
  }

  test("run writes the GeoJSON and CSV the spark.read.json ingest wrote, on every shape") {
    val out = Files.createTempDirectory("pipeline-run").toString
    shapeDirs(flat = true).foreach { case (shape, dir) =>
      val (gj, csv) = Pipeline.run(spark, dir, s"$out/run", shape)
      val want = jsonReference(dir)
      val propCols = want.columns.filterNot(Seq("geometry_type", "coordinates").contains).toSeq
      val refGj = Sinks.writeGeoJson(want, s"$out/ref", "routes", shape, propCols)
      val refCsv = Sinks.writeCsvWkt(want, s"$out/ref", "routes", shape,
        Wkt.point(col("easting"), col("northing")))
      assert(geojsonLines(gj) == geojsonLines(refGj), s"$shape GeoJSON sink differs")
      // property types and explicit nulls survive: "id" stays a number
      assert(lines(gj).exists(l => l.contains("\"note\":null") && l.matches(".*\"id\":[0-9]+[,}].*")))
      val header = lines(refCsv).head
      def csvRows(d: String) = multiset(lines(d).filterNot(_ == header))
      assert(lines(csv).head == header && csvRows(csv) == csvRows(refCsv), s"$shape CSV sink differs")
    }
  }

  test("run writes nested property values to the CSV as JSON text") {
    val out = Files.createTempDirectory("pipeline-nested").toString
    shapeDirs(flat = false).foreach { case (shape, dir) =>
      val (_, csv) = Pipeline.run(spark, dir, out, shape)
      val asText = Map("ignoreNullFields" -> "false")
      val want = Pipeline.processRoutes(spark, dir).select(col("route_id"),
        to_json(col("meta"), asText).as("meta"), to_json(col("tags"), asText).as("tags"))
      val got = spark.read.option("header", "true").csv(csv).select("route_id", "meta", "tags")
      assert(multiset(got.collect().toSeq.map(_.toString)) == multiset(want.collect().toSeq.map(_.toString)),
        s"$shape CSV nested columns differ")
      assert(lines(csv).exists(_.contains("""{\"lanes\":1,\"surface\":null}""")), s"$shape meta text")
    }
  }

  test("the GeoJSON sink's directory loads back every feature with processRoutes' values") {
    val out = Files.createTempDirectory("pipeline-load").toString
    shapeDirs(flat = true).foreach { case (shape, dir) =>
      val (gj, _) = Pipeline.run(spark, dir, out, shape)
      val want = Pipeline.processRoutes(spark, dir).drop("geometry_type", "coordinates")
      val got = spark.read.format("geojson").load(gj)
        .select(from_json(col("properties_json"), want.schema).as("p")).select("p.*")
      assert(multiset(got.collect().toSeq.map(_.toString)) == multiset(want.collect().toSeq.map(_.toString)),
        s"$shape sink properties differ")
    }
  }

  test("run writes a feature without geometry as a null geometry in both sinks") {
    val dir = Files.createTempDirectory("pipeline-nogeom")
    val bare = """{"type": "Feature", "properties": {"route_id": "R2"}, "geometry": null}"""
    Files.writeString(dir.resolve("a.geojson"),
      s"""{"type": "FeatureCollection", "features": [${routeFeature(1, """{"route_id": "R1"}""")}, $bare]}""")
    val out = Files.createTempDirectory("pipeline-nogeom-out").toString
    val (gj, csv) = Pipeline.run(spark, dir.toString, out, "nogeom")
    val back = spark.read.format("geojson").load(gj)
      .select(col("properties")("route_id"), col("geometry_type"), col("parts"))
      .collect().map(r => (r.getString(0), Option(r.getString(1)), r.isNullAt(2))).toSet
    assert(back == Set(("R1", Some("LineString"), false), ("R2", None, true)))
    assert(lines(gj).count(_.contains("\"geometry\":null")) == 1)
    assert(spark.read.option("header", "true").csv(csv).count() == 2)
  }

  test("the GeoJSON sink writes to a file: URI and to another filesystem's scheme") {
    val dir = Files.createTempDirectory("pipeline-uri").toString
    val in = s"$dir/in.geojson"
    Files.writeString(Paths.get(in), routeFeature(1, """{"route_id": "R1"}"""))
    val routes = Pipeline.processRoutes(spark, in)
    val gj = Sinks.writeGeoJson(routes, s"file://$dir/out", "routes", "uri", Seq("route_id"))
    assert(new java.io.File(s"$dir/out/routes_uri.geojson").isDirectory)
    assert(spark.read.format("geojson").load(gj).count() == 1)
    FlakyLocalFs.registered(spark) {
      val other = Sinks.writeGeoJson(routes, s"graftflaky:$dir/flaky", "routes", "uri", Seq("route_id"))
      assert(new java.io.File(s"$dir/flaky/routes_uri.geojson").isDirectory)
      val back = spark.read.format("geojson").load(other)
      assert(back.select(col("properties")("route_id")).collect().map(_.getString(0)).toSeq ==
        Seq("R1"))
    }
  }

  test("a directory mixing the three shapes returns every feature") {
    val dir = Files.createTempDirectory("pipeline-mixed")
    val f = (id: Int) => routeFeature(id, s"""{"route_id": "R$id"}""")
    Files.writeString(dir.resolve("a.geojson"),
      s"""{"type": "FeatureCollection", "features": [${f(1)}, ${f(2)}]}""")
    Files.writeString(dir.resolve("b.geojson"), f(3))
    Files.writeString(dir.resolve("c.geojson"), s"[${f(4)}, ${f(5)}]")
    val got = Pipeline.processRoutes(spark, dir.toString)
      .select("route_id", "source_file").orderBy("route_id").collect().toSeq
    assert(got == Seq(Row("R1", "a.geojson"), Row("R2", "a.geojson"), Row("R3", "b.geojson"),
      Row("R4", "c.geojson"), Row("R5", "c.geojson")))
  }
}
