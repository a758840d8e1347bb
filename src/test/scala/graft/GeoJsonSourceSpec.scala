package graft

import graft.sources.{GeoJson, GeoJsonInputPartition}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions.{array, broadcast, col, explode, lit, transform_values}
import java.nio.file.Files

class GeoJsonSourceSpec extends SparkSpec {
  private def hadoopConf = spark.sparkContext.hadoopConfiguration

  private def tmpFile(name: String, content: String): String = {
    val dir = Files.createTempDirectory("geojson").toFile
    val f = new java.io.File(dir, name)
    Files.writeString(f.toPath, content)
    f.getAbsolutePath
  }

  private val feature =
    """{"type": "Feature",
      | "properties": {"route_id": "R1", "local_authority": "Edinburgh", "route_type": "Cycle Lane"},
      | "geometry": {"type": "LineString", "coordinates": [[325000.0, 673000.0], [325300.0, 673400.0]]}}""".stripMargin

  test("geometry without a type field degrades to null instead of aborting the partition") {
    val broken =
      """{"type": "Feature", "properties": {"route_id": "RX"},
        | "geometry": {"coordinates": [[0.0, 0.0], [1.0, 1.0]]}}""".stripMargin
    val fc = tmpFile("fc-notype.json",
      s"""{"type": "FeatureCollection", "features": [$feature, $broken]}""")
    val df = spark.read.format("geojson").load(fc)
    // row path: null geometry_type, parts fall through to empty
    val types = df.select("geometry_type").collect().map(r => Option(r.getString(0))).toSet
    assert(types == Set(Some("LineString"), None))
    // the grouped count tallies the typeless feature under null
    val counts = df.groupBy("geometry_type").count().collect()
      .map(r => Option(r.getString(0)) -> r.getLong(1)).toMap
    assert(counts == Map(Option("LineString") -> 1L, Option.empty[String] -> 1L))
  }

  private val enriched = Seq("geometry_type", "coordinates", "route_length_m", "source_file",
    "easting", "northing", "lat", "lon", "os_gridref")

  test("reads a FeatureCollection") {
    val path = tmpFile("fc.json", s"""{"type": "FeatureCollection", "features": [$feature, $feature]}""")
    val df = Pipeline.processRoutes(spark, path)
    assert(df.count() == 2)
    assert(df.columns.toSeq == Seq("local_authority", "route_id", "route_type") ++ enriched)
    assert(df.select("geometry_type").distinct().collect().map(_.getString(0)).toSeq == Seq("LineString"))
  }

  test("reads a single Feature") {
    val path = tmpFile("single.json", feature)
    assert(Pipeline.processRoutes(spark, path).count() == 1)
  }

  test("reads a bare feature list") {
    val path = tmpFile("list.json", s"[$feature, $feature, $feature]")
    assert(Pipeline.processRoutes(spark, path).count() == 3)
  }

  test("ingest derives route length and lineage") {
    val path = tmpFile("fc2.json", s"""{"type": "FeatureCollection", "features": [$feature]}""")
    val row = Pipeline.processRoutes(spark, path).collect().head
    // segment (300, 400) → length 500 (3-4-5 triangle)
    assert(math.abs(row.getAs[Double]("route_length_m") - 500.0) < 1e-9)
    assert(row.getAs[String]("source_file") == "fc2.json")
  }

  private val multiFeature =
    """{"type": "Feature",
      | "properties": {"route_id": "R2", "local_authority": "Glasgow", "route_type": "Segregated"},
      | "geometry": {"type": "MultiLineString", "coordinates":
      |   [[[0.0, 0.0], [300.0, 400.0]], [[1000.0, 1000.0], [1000.0, 1600.0]]]}}""".stripMargin

  test("format(geojson) reads all three shapes via the DSv2 connector") {
    val fc = tmpFile("fc3.json", s"""{"type": "FeatureCollection", "features": [$feature, $multiFeature]}""")
    val single = tmpFile("single3.json", feature)
    val bare = tmpFile("bare3.json", s"[$feature, $feature, $feature]")
    assert(spark.read.format("geojson").load(fc).count() == 2)
    assert(spark.read.format("geojson").load(single).count() == 1)
    val df = spark.read.format("geojson").load(bare)
    assert(df.count() == 3)
    assert(df.schema.fieldNames.toSeq ==
      Seq("feature_idx", "geometry_type", "parts", "properties", "properties_json", "source_file",
        "bbox_minx", "bbox_miny", "bbox_maxx", "bbox_maxy"))
    val first = df.orderBy("feature_idx").collect().head
    assert(first.getAs[Map[String, String]]("properties")("local_authority") == "Edinburgh")
    assert(first.getAs[String]("source_file") == "bare3.json")
  }

  test("connector normalizes MultiLineString to parts; multiPartLength sums parts") {
    val fc = tmpFile("fc4.json", s"""{"type": "FeatureCollection", "features": [$feature, $multiFeature]}""")
    val df = GeoJson.multiPartLength(spark.read.format("geojson").load(fc))
    val byType = df.select("geometry_type", "route_length_m").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(math.abs(byType("LineString") - 500.0) < 1e-9)
    // parts: 3-4-5 triangle (500) + vertical segment (600)
    assert(math.abs(byType("MultiLineString") - 1100.0) < 1e-9)
  }

  test("connector write path round-trips through the connector read path") {
    val fc = tmpFile("fc6.json", s"""{"type": "FeatureCollection", "features": [$feature, $multiFeature]}""")
    val outDir = java.nio.file.Files.createTempDirectory("gjw").toString + "/out"
    val df = spark.read.format("geojson").load(fc)
    df.write.format("geojson").mode("overwrite").save(outDir)
    // newline-delimited Feature files, no temp dir left behind
    assert(!new java.io.File(outDir, "_tmp").exists())
    val back = spark.read.format("geojson")
      .load(new java.io.File(outDir).listFiles().filter(_.getName.startsWith("part-"))
        .map(_.getAbsolutePath): _*)
    assert(back.count() == 2)
    val byType = back.collect().map(r =>
      r.getAs[String]("geometry_type") -> r.getAs[Map[String, String]]("properties")("route_id")).toMap
    assert(byType == Map("LineString" -> "R1", "MultiLineString" -> "R2"))
    // geometry survives structurally: multi-part lengths unchanged
    val len = graft.sources.GeoJson.multiPartLength(back)
      .select("geometry_type", "route_length_m").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(math.abs(len("MultiLineString") - 1100.0) < 1e-9)
  }

  test("a write of only geometry_type, parts and properties_json re-reads") {
    val fc = tmpFile("fc9.json", s"""{"type": "FeatureCollection", "features": [$feature, $multiFeature]}""")
    val outDir = Files.createTempDirectory("gjw3").toString + "/out"
    val df = spark.read.format("geojson").load(fc)
    df.select("geometry_type", "parts", "properties_json")
      .write.format("geojson").mode("overwrite").save(outDir)
    val back = spark.read.format("geojson").load(outDir)
    def rows(d: DataFrame) =
      d.select("geometry_type", "parts", "properties_json").collect().map(_.toString).toSet
    assert(rows(back) == rows(df))
    // the properties map alone would write every value as a string
    val ex = intercept[IllegalArgumentException] {
      df.select("geometry_type", "parts", "properties")
        .write.format("geojson").mode("overwrite").save(outDir)
    }
    assert(ex.getMessage.contains("properties_json"), ex.getMessage)
  }

  test("property values keep their JSON types through a write") {
    val typed = feature.replace(
      """{"route_id": "R1", "local_authority": "Edinburgh", "route_type": "Cycle Lane"}""",
      """{"id": 12, "x": 1.5}""")
    val outDir = Files.createTempDirectory("gjw4").toString + "/out"
    spark.read.format("geojson").load(tmpFile("typed.json", typed))
      .write.format("geojson").mode("overwrite").save(outDir)
    val back = spark.read.format("geojson").load(outDir)
    assert(back.select("properties_json").head().getString(0) == """{"id":12,"x":1.5}""")
  }

  test("a feature without geometry writes a null geometry; null parts and points are skipped") {
    val bare = """{"type": "Feature", "properties": {"route_id": "R0"}, "geometry": null}"""
    val fc = tmpFile("nogeom.json", s"""{"type": "FeatureCollection", "features": [$feature, $bare]}""")
    val outDir = Files.createTempDirectory("gjw5").toString + "/out"
    val df = spark.read.format("geojson").load(fc)
    df.write.format("geojson").mode("overwrite").save(outDir)
    def rows(d: DataFrame) =
      d.select("geometry_type", "parts", "properties_json").collect().map(_.toString).toSet
    assert(rows(spark.read.format("geojson").load(outDir)) == rows(df))
    // a part or point that is null inside `parts` is left out, not dereferenced
    val holes = spark.range(1).select(
      explode(array(lit("Point"), lit("LineString"), lit("MultiLineString"))).as("geometry_type"),
      array(lit(null).cast("array<array<double>>"),
        array(lit(null).cast("array<double>"), array(lit(1.0), lit(2.0)))).as("parts"))
    holes.write.format("geojson").mode("overwrite").save(outDir)
    val back = spark.read.format("geojson").load(outDir).select("geometry_type", "parts").collect()
      .map(r => r.getString(0) -> r.getSeq[collection.Seq[collection.Seq[Double]]](1)).toMap
    val one = Seq(Seq(Seq(1.0, 2.0)))
    assert(back == Map("Point" -> one, "LineString" -> one, "MultiLineString" -> one), back)
  }

  test("a write that carries both properties forms writes properties_json, not the map") {
    val outDir = Files.createTempDirectory("gjw6").toString + "/out"
    spark.read.format("geojson").load(tmpFile("both.json", feature))
      .withColumn("properties", transform_values(col("properties"), (_, _) => lit("EDITED")))
      .write.format("geojson").mode("overwrite").save(outDir)
    val back = spark.read.format("geojson").load(outDir)
    assert(back.select(col("properties")("route_id")).head().getString(0) == "R1")
  }

  private val pointFeature =
    """{"type": "Feature", "properties": {"route_id": "P1"},
      | "geometry": {"type": "Point", "coordinates": [100.0, 200.0]}}""".stripMargin

  test("overwrite replaces previous part files instead of unioning them") {
    val fc = tmpFile("fc7.json", s"""{"type": "FeatureCollection", "features": [$feature, $multiFeature]}""")
    val outDir = java.nio.file.Files.createTempDirectory("gjw2").toString + "/out"
    val df = spark.read.format("geojson").load(fc)
    df.write.format("geojson").mode("overwrite").save(outDir)
    df.write.format("geojson").mode("overwrite").save(outDir) // task ids differ
    val parts = new java.io.File(outDir).listFiles().filter(_.getName.startsWith("part-"))
    val back = spark.read.format("geojson").load(parts.map(_.getAbsolutePath): _*)
    assert(back.count() == 2, s"expected 2 rows after double overwrite, files: ${parts.map(_.getName).toSeq}")
  }

  test("Point features get length 0, not null; MultiPolygon re-reads symmetrically") {
    val mp =
      """{"type": "Feature", "properties": {"route_id": "MP1"},
        | "geometry": {"type": "MultiPolygon", "coordinates":
        |   [[[[0.0,0.0],[3.0,0.0],[3.0,4.0],[0.0,0.0]]], [[[10.0,10.0],[11.0,10.0],[10.0,10.0]]]]}}""".stripMargin
    val fc = tmpFile("fc8.json", s"""{"type": "FeatureCollection", "features": [$pointFeature, $mp]}""")
    val df = GeoJson.multiPartLength(spark.read.format("geojson").load(fc))
    val byType = df.select("geometry_type", "route_length_m").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(byType("Point") == 0.0, "single-point part must contribute 0, not null")
    // ring 1: 3 + 4 + 5 = 12; ring 2: 1 + 1 = 2
    assert(math.abs(byType("MultiPolygon") - 14.0) < 1e-9)
    // write + re-read keeps the same rings and lengths (4-deep round trip)
    val outDir = java.nio.file.Files.createTempDirectory("gjmp").toString + "/out"
    df.drop("route_length_m").write.format("geojson").mode("overwrite").save(outDir)
    val back = GeoJson.multiPartLength(spark.read.format("geojson")
      .load(new java.io.File(outDir).listFiles().filter(_.getName.startsWith("part-"))
        .map(_.getAbsolutePath): _*))
    val backLen = back.filter(col("geometry_type") === "MultiPolygon")
      .select("route_length_m").head().getDouble(0)
    assert(math.abs(backLen - 14.0) < 1e-9)
  }

  test("source_file filter prunes whole documents from the scan") {
    val a = tmpFile("keep.json", s"""{"type": "FeatureCollection", "features": [$feature, $feature]}""")
    val b = tmpFile("drop.json", s"""{"type": "FeatureCollection", "features": [$feature]}""")
    val df = spark.read.format("geojson").load(a, b)
      .filter(col("source_file") === "keep.json")
    assert(df.count() == 2)
    assert(df.select("source_file").distinct().collect().map(_.getString(0)).toSeq ==
      Seq("keep.json"))
    // the non-matching DOCUMENT is pruned from planInputPartitions, not
    // parsed-then-filtered: the scan description reports 1 of 2 docs
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("docs=1/2"), s"expected document pruning in:\n$plan")
    // IN-list prunes the same way; unknown names prune to zero docs
    assert(spark.read.format("geojson").load(a, b)
      .filter(col("source_file").isin("keep.json", "nope.json")).count() == 2)
    assert(spark.read.format("geojson").load(a, b)
      .filter(col("source_file") === "nope.json").count() == 0)
  }

  test("geometry_type filter is enforced in the reader before rows are built") {
    val mixed = tmpFile("mixed.json",
      s"""{"type": "FeatureCollection", "features": [$feature, $pointFeature, $feature]}""")
    val df = spark.read.format("geojson").load(mixed)
      .filter(col("geometry_type") === "LineString")
    assert(df.count() == 2)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("geometry_type IN (LineString)"),
      s"expected pushed geometry filter in:\n$plan")
    // feature_idx keeps the ORIGINAL in-document positions (same rows a
    // post-scan filter would produce)
    assert(df.select("feature_idx").collect().map(_.getLong(0)).sorted.toSeq == Seq(0L, 2L))
  }

  test("LIMIT over the row scan returns N rows, with and without a pushed filter") {
    val doc = tmpFile("many.json",
      s"""{"type": "FeatureCollection", "features": [${Seq.fill(6)(feature).mkString(",")}]}""")
    val df = spark.read.format("geojson").load(doc).limit(2)
    assert(df.count() == 2)
    // limit composes with a pushed reader filter: it counts MATCHING features
    val mixed = tmpFile("mixed_lim.json",
      s"""{"type": "FeatureCollection", "features": [$pointFeature, $feature, $pointFeature, $feature, $feature]}""")
    val filtered = spark.read.format("geojson").load(mixed)
      .filter(col("geometry_type") === "LineString").limit(2)
    assert(filtered.count() == 2)
    assert(filtered.select("geometry_type").collect().forall(_.getString(0) == "LineString"))
  }

  test("GROUP BY geometry_type COUNT(*) over the row scan keeps the null group") {
    val a = tmpFile("g1.json",
      s"""{"type": "FeatureCollection", "features": [$feature, $pointFeature, $feature]}""")
    val b = tmpFile("g2.json",
      s"""{"type": "FeatureCollection", "features": [$pointFeature]}""")
    val df = spark.read.format("geojson").load(a, b)
      .groupBy("geometry_type").count()
    val got = df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("LineString" -> 2L, "Point" -> 2L), s"wrong tallies: $got")
    // composes with document pruning — only g1 parsed
    val pruned = spark.read.format("geojson").load(a, b)
      .filter(col("source_file") === "g1.json").groupBy("geometry_type").count()
    assert(pruned.collect().map(r => r.getString(0) -> r.getLong(1)).toMap ==
      Map("LineString" -> 2L, "Point" -> 1L))
    assert(pruned.queryExecution.executedPlan.toString.contains("docs=1/2"),
      "document pruning lost under a grouped count")
    // a feature with NO geometry groups under null, exactly like the row path
    val withNull = tmpFile("g3.json",
      s"""{"type": "FeatureCollection", "features": [$feature, {"type": "Feature", "geometry": null, "properties": {}}]}""")
    val nulled = spark.read.format("geojson").load(withNull)
      .groupBy("geometry_type").count()
    val gotNull = nulled.collect().map(r => Option(r.getString(0)) -> r.getLong(1)).toMap
    assert(gotNull == Map(Some("LineString") -> 1L, None -> 1L), s"null group wrong: $gotNull")
  }

  test("COUNT(*) over the row scan honours pushed geometry and document filters") {
    val a = tmpFile("c1.json", s"""{"type": "FeatureCollection", "features": [$feature, $feature]}""")
    val b = tmpFile("c2.json", s"""{"type": "FeatureCollection", "features": [$feature]}""")
    val df = spark.read.format("geojson").load(a, b).groupBy().count()
    assert(df.head().getLong(0) == 3L)
    // composes with the pushed geometry_type filter
    val mixed = tmpFile("c3.json",
      s"""{"type": "FeatureCollection", "features": [$feature, $pointFeature]}""")
    val filtered = spark.read.format("geojson").load(mixed)
      .filter(col("geometry_type") === "LineString").groupBy().count()
    assert(filtered.head().getLong(0) == 1L)
    // and with document pruning — non-matching docs aren't even parsed
    val pruned = spark.read.format("geojson").load(a, b)
      .filter(col("source_file") === "c1.json").groupBy().count()
    assert(pruned.head().getLong(0) == 2L)
    assert(pruned.queryExecution.executedPlan.toString.contains("docs=1/2"),
      s"document pruning lost under a count")
  }

  test("connector reports pruned-size statistics so small geojson sides can broadcast") {
    val a = tmpFile("s1.json", s"""{"type": "FeatureCollection", "features": [$feature, $feature]}""")
    val b = tmpFile("s2.json", s"""{"type": "FeatureCollection", "features": [$feature]}""")
    val df = spark.read.format("geojson").load(a, b)
    val scan = df.queryExecution.executedPlan.collectFirst {
      case s: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => s.scan
    }.get
    val want = new java.io.File(a).length() + new java.io.File(b).length()
    assert(scan.asInstanceOf[org.apache.spark.sql.connector.read.SupportsReportStatistics]
      .estimateStatistics().sizeInBytes().getAsLong == want)
    // the logical plan inherits the estimate (vs the "unknown = enormous"
    // DSv2 default that would bar a 2 KB dimension from broadcasting)...
    assert(df.queryExecution.optimizedPlan.stats.sizeInBytes < 100000,
      s"stats not propagated: ${df.queryExecution.optimizedPlan.stats.sizeInBytes}")
    // ...and document pruning shrinks it, like partition pruning would
    val pruned = spark.read.format("geojson").load(a, b)
      .filter(col("source_file") === "s2.json")
    val prunedScan = pruned.queryExecution.executedPlan.collectFirst {
      case s: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => s.scan
    }.get
    assert(prunedScan.asInstanceOf[org.apache.spark.sql.connector.read.SupportsReportStatistics]
      .estimateStatistics().sizeInBytes().getAsLong == new java.io.File(b).length())
  }

  test("count under a NON-pushable filter falls back to the row scan, correctly") {
    val mixed = tmpFile("np.json",
      s"""{"type": "FeatureCollection", "features": [$feature, $pointFeature, $feature]}""")
    // feature_idx is not a pushable column: Spark evaluates it above the
    // row scan that serves the count
    val df = spark.read.format("geojson").load(mixed)
      .filter(col("feature_idx") >= 1).groupBy().count()
    assert(df.head().getLong(0) == 2L)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("GeoJsonScan"), s"row scan missing:\n$plan")
  }

  test("runtime (join-driven) filtering prunes documents before they are fetched") {
    import spark.implicits._
    // documents must be big enough that the planner's pruning-benefit
    // heuristic fires (it correctly skips DPP on byte-sized tables — the
    // size it reasons with comes from the connector's own statistics)
    val fat = feature.replace(""""route_id": "R1"""",
      s""""route_id": "R1", "pad": "${"x" * 200000}"""")
    val a = tmpFile("r1.json", s"""{"type": "FeatureCollection", "features": [$fat, $fat]}""")
    val b = tmpFile("r2.json", s"""{"type": "FeatureCollection", "features": [$fat]}""")
    val geo = spark.read.format("geojson").load(a, b)
    // build side: a real source with a SELECTIVE filter — the planner only
    // injects runtime pruning when the other side filters meaningfully (a
    // LocalRelation constant-folds its filter away and never qualifies)
    val dimPath = Files.createTempDirectory("geojson-dim").resolve("dim.parquet").toString
    Seq(("r1.json", "keep"), ("r2.json", "drop")).toDF("file_name", "tag")
      .write.mode("overwrite").parquet(dimPath)
    val dim = spark.read.parquet(dimPath).filter(col("tag") === "keep")
    val joined = geo.join(broadcast(dim), geo("source_file") === dim("file_name"))
    val before = graft.sources.GeoJsonFetch.fetches.get()
    assert(joined.count() == 2)
    val fetched = graft.sources.GeoJsonFetch.fetches.get() - before
    // the r2.json document must never be FETCHED: the broadcast side's value
    // reaches GeoJsonScan.filter at runtime and drops its partition
    assert(fetched == 1L, s"runtime pruning failed: $fetched documents fetched")
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("RuntimeFilters") && !plan.contains("RuntimeFilters: []"),
      s"no runtime filter attached to the scan:\n$plan")
  }

  test("connector prunes columns and reads via a url option; http fails fast") {
    val fc = tmpFile("fc5.json", s"""{"type": "FeatureCollection", "features": [$feature]}""")
    val pruned = spark.read.format("geojson").load(fc).select("geometry_type")
    assert(pruned.collect().map(_.getString(0)).toSeq == Seq("LineString"))
    val viaUrl = spark.read.format("geojson").option("url", s"file://$fc").load()
    assert(viaUrl.count() == 1)
    val ex = intercept[Exception] {
      spark.read.format("geojson").option("url", "https://example.org/x.json").load().count()
    }
    assert(ex.getMessage.contains("no network egress") ||
      Option(ex.getCause).exists(_.getMessage.contains("no network egress")))
  }
  // ---- spatial bbox pushdown (GeoJsonBbox) ----

  private def envFilter(df: org.apache.spark.sql.DataFrame,
                        minx: Double, miny: Double, maxx: Double, maxy: Double) =
    df.filter(col("bbox_maxx") >= minx && col("bbox_minx") <= maxx &&
      col("bbox_maxy") >= miny && col("bbox_miny") <= maxy)

  test("bbox columns carry the per-feature envelope; range filters are fully pushed") {
    val far = feature.replace("[[325000.0, 673000.0], [325300.0, 673400.0]]",
      "[[5000.0, 8000.0], [5100.0, 8050.0]]")
    val fc = tmpFile("bb1.json",
      s"""{"type": "FeatureCollection", "features": [$feature, $far]}""")
    val df = spark.read.format("geojson").load(fc)
    val rows = df.select("feature_idx", "bbox_minx", "bbox_miny", "bbox_maxx", "bbox_maxy")
      .orderBy("feature_idx").collect()
    assert(rows(0).getDouble(1) == 325000.0 && rows(0).getDouble(4) == 673400.0)
    assert(rows(1).getDouble(1) == 5000.0 && rows(1).getDouble(3) == 5100.0)
    // ST_Intersects-style envelope filter → only the Edinburgh feature
    val q = envFilter(df, 320000, 670000, 330000, 680000)
    assert(q.count() == 1)
    // fully pushed: no residual Filter node above the scan
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("bbox=") , s"bbox preds missing from scan description:\n$plan")
    assert(!plan.contains("Filter ("), s"bbox range filter left a residual:\n$plan")
  }

  test("bbox filter semantics match post-scan evaluation exactly (incl. null envelopes)") {
    val noGeom = """{"type": "Feature", "properties": {"route_id": "RN"}, "geometry": null}"""
    val mid = feature.replace("[[325000.0, 673000.0], [325300.0, 673400.0]]",
      "[[329999.9, 673000.0], [330000.1, 673400.0]]") // straddles the query edge
    val fc = tmpFile("bb2.json",
      s"""{"type": "FeatureCollection", "features": [$feature, $mid, $noGeom]}""")
    def load() = spark.read.format("geojson").load(fc)
    val pushedRows = envFilter(load(), 320000, 670000, 330000, 680000)
      .select("feature_idx").collect().map(_.getLong(0)).toSet
    // reference: evaluate the same predicate ABOVE an unfiltered scan
    val all = load().select("feature_idx", "bbox_minx", "bbox_miny", "bbox_maxx", "bbox_maxy")
      .collect()
    val expect = all.filter(r => !r.isNullAt(1) &&
      r.getDouble(3) >= 320000 && r.getDouble(1) <= 330000 &&
      r.getDouble(4) >= 670000 && r.getDouble(2) <= 680000).map(_.getLong(0)).toSet
    assert(pushedRows == expect, s"pushed $pushedRows vs reference $expect")
    assert(pushedRows == Set(0L, 1L)) // straddling feature intersects; null env drops
  }

  test("a .bbox sidecar prunes non-matching documents before they are fetched") {
    val nearDoc = tmpFile("near.json",
      s"""{"type": "FeatureCollection", "features": [$feature]}""")
    val farDoc = tmpFile("far.json",
      s"""{"type": "FeatureCollection", "features": [${feature.replace(
        "[[325000.0, 673000.0], [325300.0, 673400.0]]",
        "[[5000.0, 8000.0], [5100.0, 8050.0]]")}]}""")
    // one-time spatial indexing writes the sidecars
    assert(graft.sources.GeoJsonBbox.index(nearDoc, hadoopConf).nonEmpty)
    assert(graft.sources.GeoJsonBbox.index(farDoc, hadoopConf).nonEmpty)
    val df = envFilter(spark.read.format("geojson").load(nearDoc, farDoc),
      320000, 670000, 330000, 680000)
    val before = graft.sources.GeoJsonFetch.fetches.get()
    assert(df.count() == 1)
    val fetched = graft.sources.GeoJsonFetch.fetches.get() - before
    assert(fetched == 1L,
      s"sidecar pruning failed: $fetched documents fetched (expected 1)")
    // without sidecars both documents are read and results are identical
    def sidecar(doc: String) = {
      val f = new java.io.File(doc)
      new java.io.File(f.getParentFile, "." + f.getName + ".bbox")
    }
    assert(sidecar(nearDoc).delete() && sidecar(farDoc).delete())
    val b2 = graft.sources.GeoJsonFetch.fetches.get()
    assert(envFilter(spark.read.format("geojson").load(nearDoc, farDoc),
      320000, 670000, 330000, 680000).count() == 1)
    assert(graft.sources.GeoJsonFetch.fetches.get() - b2 == 2L,
      "stats are advisory: sidecar-less documents must be read")
  }

  test("a sidecar older than its rewritten document is ignored, not trusted") {
    // index a FAR document, then rewrite it in place with NEAR features: the
    // stale envelope says "disjoint", but pruning on it would drop matching
    // rows. The reader must treat the outdated sidecar as absent.
    val doc = tmpFile("rewrite.json",
      s"""{"type": "FeatureCollection", "features": [${feature.replace(
        "[[325000.0, 673000.0], [325300.0, 673400.0]]",
        "[[5000.0, 8000.0], [5100.0, 8050.0]]")}]}""")
    assert(graft.sources.GeoJsonBbox.index(doc, hadoopConf).nonEmpty)
    val f = new java.io.File(doc)
    val sc = new java.io.File(f.getParentFile, "." + f.getName + ".bbox")
    Files.write(f.toPath,
      s"""{"type": "FeatureCollection", "features": [$feature]}"""
        .getBytes("UTF-8"))
    // force doc strictly newer than the sidecar (FS mtime granularity)
    assert(f.setLastModified(sc.lastModified + 2000))
    assert(graft.sources.GeoJsonBbox.sidecarOf(doc, hadoopConf).isEmpty,
      "an older-than-document sidecar must read as absent")
    assert(envFilter(spark.read.format("geojson").load(doc),
      320000, 670000, 330000, 680000).count() == 1,
      "stale sidecar pruned a document whose new features match")
    // re-indexing refreshes the envelope and pruning works again
    assert(graft.sources.GeoJsonBbox.index(doc, hadoopConf).nonEmpty)
    assert(graft.sources.GeoJsonBbox.sidecarOf(doc, hadoopConf).nonEmpty)
    val before = graft.sources.GeoJsonFetch.fetches.get()
    assert(envFilter(spark.read.format("geojson").load(doc),
      0, 0, 10, 10).count() == 0)
    assert(graft.sources.GeoJsonFetch.fetches.get() - before == 0L,
      "refreshed sidecar must prune the disjoint query again")
  }

  test("sidecar content stamp catches same-tick and backdated in-place rewrites") {
    // Two rewrites relative-mtime ordering reads as FRESH but the content
    // stamp must reject: (a) a rewrite whose mtime lands in the same
    // filesystem tick as the sidecar's record, (b) a BACKDATED rewrite of
    // the document (mtime moved earlier than the recorded one).
    val doc = tmpFile("stamp.json",
      s"""{"type": "FeatureCollection", "features": [$feature]}""")
    assert(graft.sources.GeoJsonBbox.index(doc, hadoopConf).nonEmpty)
    val f = new java.io.File(doc)
    val origMtime = f.lastModified
    // (a) rewrite with different content, pin mtime back to the recorded one
    Files.write(f.toPath,
      s"""{"type": "FeatureCollection", "features": [${feature.replace(
        "[[325000.0, 673000.0], [325300.0, 673400.0]]",
        "[[5000.0, 8000.0], [5100.0, 8050.0]]")}]}""".getBytes("UTF-8"))
    assert(f.setLastModified(origMtime))
    assert(graft.sources.GeoJsonBbox.sidecarOf(doc, hadoopConf).isEmpty,
      "a same-mtime rewrite with different length must read as stale")
    // re-index over the new content -> fresh again
    assert(graft.sources.GeoJsonBbox.index(doc, hadoopConf).nonEmpty)
    assert(graft.sources.GeoJsonBbox.sidecarOf(doc, hadoopConf).nonEmpty)
    // (b) backdate the document without changing length: mtime mismatch
    assert(f.setLastModified(f.lastModified - 5000))
    assert(graft.sources.GeoJsonBbox.sidecarOf(doc, hadoopConf).isEmpty,
      "a backdated rewrite must read as stale (recorded mtime differs)")
    // (c) the last edge: SAME-length rewrite pinned back to the recorded
    // mtime — length and mtime both match, only the head/tail CRC differs
    assert(graft.sources.GeoJsonBbox.index(doc, hadoopConf).nonEmpty)
    val mt = f.lastModified
    val bytes = Files.readAllBytes(f.toPath)
    // flip digits in place: '5' -> '9' keeps every coordinate the same width
    // (the content at this point is the case-(a) rewrite, whose coordinates
    // are 5xxx/8xxx)
    val rewritten = new String(bytes, "UTF-8").replace("5", "9")
    assert(rewritten != new String(bytes, "UTF-8"), "fixture must change content")
    assert(rewritten.length == bytes.length)
    Files.write(f.toPath, rewritten.getBytes("UTF-8"))
    assert(f.length == bytes.length, "fixture must preserve byte length")
    assert(f.setLastModified(mt))
    assert(graft.sources.GeoJsonBbox.sidecarOf(doc, hadoopConf).isEmpty,
      "a same-length same-mtime rewrite must read as stale (CRC differs)")
  }

  test("the geojson sink writes .bbox sidecars its own scan prunes on") {
    val fc = tmpFile("bbw.json",
      s"""{"type": "FeatureCollection", "features": [$feature]}""")
    val outDir = Files.createTempDirectory("geojson-bbox-out").toString
    spark.read.format("geojson").load(fc)
      .write.format("geojson").option("path", outDir).mode("append").save()
    val parts = Option(new java.io.File(outDir).listFiles()).getOrElse(Array.empty)
      .filter(_.getName.endsWith(".geojson"))
    assert(parts.nonEmpty)
    val sidecars = parts.filter(p =>
      new java.io.File(p.getParentFile, "." + p.getName + ".bbox").isFile)
    assert(sidecars.length == parts.length,
      s"missing sidecars: ${parts.length} parts, ${sidecars.length} sidecars")
    // a disjoint query over the written output never fetches the parts
    val before = graft.sources.GeoJsonFetch.fetches.get()
    val miss = envFilter(
      spark.read.format("geojson").load(parts.map(_.getPath): _*), 0, 0, 10, 10)
    assert(miss.count() == 0)
    assert(graft.sources.GeoJsonFetch.fetches.get() - before == 0L,
      "written sidecars must prune the disjoint query to zero fetches")
  }

  test("an aborted write deletes _tmp with whatever a killed attempt left in it") {
    val out = Files.createTempDirectory("geojson-abort").resolve("out")
    def killedAttempt(): Unit = {
      Files.createDirectories(out.resolve("_tmp"))
      Files.writeString(out.resolve("_tmp/part-0-7.geojson"), feature)
    }
    val write = new graft.sources.GeoJsonWrite(out.toString, graft.sources.GeoJsonDataSource.Schema,
      truncateFirst = false)
    // a writer that never committed leaves a null slot in the messages
    killedAttempt()
    write.abort(Array(null))
    assert(!Files.exists(out.resolve("_tmp")))
    killedAttempt()
    write.abort(0L, Array(null))
    assert(!Files.exists(out.resolve("_tmp")))
  }

  test("a local write leaves plain files that still read after an in-place edit") {
    val fc = tmpFile("plain.json", s"""{"type": "FeatureCollection", "features": [$feature]}""")
    val out = Files.createTempDirectory("geojson-plain").resolve("out")
    spark.read.format("geojson").load(fc)
      .write.format("geojson").mode("overwrite").save(out.toString)
    val names = out.toFile.list().toSeq
    assert(names.exists(_.endsWith(".geojson")) && !names.exists(_.endsWith(".crc")), names)
    // no checksum file contradicts an out-of-band edit of a part
    val part = out.toFile.listFiles().filter(_.getName.endsWith(".geojson")).head.toPath
    Files.writeString(part, Files.readString(part).replace("\"properties\"", "\"properties\" "))
    assert(spark.read.format("geojson").load(out.toString).count() == 1)
  }

  test("count(*) stays correct under a pushed bbox filter") {
    val far = feature.replace("[[325000.0, 673000.0], [325300.0, 673400.0]]",
      "[[5000.0, 8000.0], [5100.0, 8050.0]]")
    val fc = tmpFile("bbc.json",
      s"""{"type": "FeatureCollection", "features": [$feature, $far, $feature]}""")
    val q = envFilter(spark.read.format("geojson").load(fc),
      320000, 670000, 330000, 680000)
    assert(q.count() == 2)
    assert(q.groupBy().count().head().getLong(0) == 2L)
  }

  // ---- packing documents into scan partitions ----

  /** Runs `body` with the given session settings, then restores them. */
  private def withConf[T](kv: (String, String)*)(body: => T): T = {
    val prior = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prior.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  /** Pins the split rule's inputs: 1,000 bytes open cost, the given leaf
    * parallelism, the default 128 MB partition cap.
    */
  private def packed[T](parallelism: Int)(body: => T): T = withConf(
    "spark.sql.files.openCostInBytes" -> "1000",
    "spark.sql.files.minPartitionNum" -> parallelism.toString)(body)

  /** The same documents with a 1-byte partition cap: every document is its
    * own partition, the pre-packing layout.
    */
  private def oneDocEach[T](body: => T): T =
    packed(4)(withConf("spark.sql.files.maxPartitionBytes" -> "1")(body))

  /** Documents of each scan partition of a read, by file name. */
  private def layout(df: DataFrame): Seq[Seq[String]] =
    df.queryExecution.executedPlan.collectFirst { case s: BatchScanExec => s.scan }.get
      .toBatch.planInputPartitions().toSeq
      .map(_.asInstanceOf[GeoJsonInputPartition].docs.map(_.split('/').last))

  /** `n` documents of identical size in one directory, in name order. */
  private def sameSizeDocs(prefix: String, n: Int): Seq[String] = {
    val dir = Files.createTempDirectory("geojson-pack").toFile
    (1 to n).map { i =>
      val f = new java.io.File(dir, f"$prefix$i%02d.json")
      Files.writeString(f.toPath, s"""{"type": "FeatureCollection", "features": [$feature]}""")
      f.getAbsolutePath
    }
  }

  test("small documents pack into the partition count Spark's split rule predicts") {
    val docs = sameSizeDocs("p", 8)
    val size = new java.io.File(docs.head).length()
    packed(4) {
      // charge = bytes + openCost; maxSplit = max(openCost, n·charge / 4);
      // next-fit holds a document while the partition's charge plus its
      // bytes stays within maxSplit
      val charge = size + 1000
      val maxSplit = math.max(1000L, docs.size * charge / 4)
      val perPartition = ((maxSplit - size) / charge + 1).toInt
      val predicted = (docs.size + perPartition - 1) / perPartition
      val got = layout(spark.read.format("geojson").load(docs: _*))
      assert(got.size == predicted, s"layout $got, predicted $predicted partitions")
      assert(got.size == 4, s"8 equal documents on 4-way parallelism: $got")
      // input order is kept across and within partitions
      assert(got.flatten == docs.map(_.split('/').last))
    }
  }

  test("a document larger than the split size gets a partition of its own") {
    val small = sameSizeDocs("s", 4)
    val big = tmpFile("big.json",
      s"""{"type": "FeatureCollection", "features": [${Seq.fill(60)(feature).mkString(",")}]}""")
    packed(4) {
      val docs = small.take(2) ++ Seq(big) ++ small.drop(2)
      val total = docs.map(d => new java.io.File(d).length() + 1000).sum
      assert(new java.io.File(big).length() > total / 4, "fixture: big must exceed maxSplit")
      val got = layout(spark.read.format("geojson").load(docs: _*))
      assert(got == Seq(Seq("s01.json", "s02.json"), Seq("big.json"), Seq("s03.json", "s04.json")),
        s"layout $got")
    }
  }

  test("a single-document read is one partition") {
    val doc = tmpFile("one.json", s"""{"type": "FeatureCollection", "features": [$feature, $feature]}""")
    packed(4) {
      assert(layout(spark.read.format("geojson").load(doc)) == Seq(Seq("one.json")))
    }
  }

  test("a packed read returns what a one-document-per-partition read returns") {
    val noGeom = """{"type": "Feature", "properties": {"route_id": "RN"}, "geometry": null}"""
    val docs = Seq(
      tmpFile("m1.json", s"""{"type": "FeatureCollection", "features": [$feature, $pointFeature, $feature]}"""),
      tmpFile("m2.json", feature),
      tmpFile("m3.json", s"[$multiFeature, $noGeom, $feature]"),
      tmpFile("m4.json", s"""{"type": "FeatureCollection", "features": [$pointFeature]}"""),
      tmpFile("m5.json", s"""{"type": "FeatureCollection", "features": [$feature, $multiFeature, $pointFeature, $feature]}"""))
    def read() = spark.read.format("geojson").load(docs: _*)
    def results = {
      val rows = read().collect().toSeq
      val lineString = read().filter(col("geometry_type") === "LineString")
        .select("feature_idx", "source_file").collect().toSeq
      val count = read().groupBy().count().head().getLong(0)
      val byType = read().groupBy("geometry_type").count().collect().toSet
      val limited = read().filter(col("geometry_type") === "LineString").limit(3)
        .select("feature_idx", "source_file").collect().toSeq
      (rows, lineString, count, byType, limited)
    }
    val (unpackedLayout, unpacked) = oneDocEach((layout(read()), results))
    // two-way parallelism: the five documents pack into two or three tasks
    val (packedLayout, got) = packed(2)((layout(read()), results))
    assert(unpackedLayout.size == docs.size, s"reference layout $unpackedLayout")
    assert(packedLayout.size < docs.size, s"documents were not packed: $packedLayout")
    def multiset(rs: Seq[Row]) = rs.groupBy(_.toString).view.mapValues(_.size).toMap
    assert(multiset(got._1) == multiset(unpacked._1), "rows differ")
    assert(got._1.size == 12)
    assert(multiset(got._2) == multiset(unpacked._2), "filtered rows differ")
    assert(got._3 == unpacked._3 && got._3 == 12L, s"COUNT(*) ${got._3} vs ${unpacked._3}")
    assert(got._4 == unpacked._4, s"GROUP BY geometry_type ${got._4} vs ${unpacked._4}")
    assert(got._5 == unpacked._5, s"LIMIT ${got._5} vs ${unpacked._5}")
  }

  test("a join on another column of a scan whose source_file was pruned plans and runs") {
    import spark.implicits._
    // the join reaches the connector scan through route_id; runtime
    // filtering may be offered only on a column the pruned scan still has
    val fc = tmpFile("rj.json", s"""{"type": "FeatureCollection", "features": [$feature, $multiFeature]}""")
    val routes = Pipeline.processRoutesNative(spark, fc)
      .select(col("properties")("route_id").as("route_id"), col("lat"), col("lon"))
    val dimPath = Files.createTempDirectory("geojson-rj").resolve("dim.parquet").toString
    Seq(("R1", "keep"), ("R2", "drop")).toDF("route_id", "tag")
      .write.mode("overwrite").parquet(dimPath)
    val dim = spark.read.parquet(dimPath).filter(col("tag") === "keep")
    val joined = routes.join(dim, "route_id")
    assert(joined.select("route_id").collect().map(_.getString(0)).toSeq == Seq("R1"))
  }

  test("3-D positions keep every ordinate through read, write and processRoutes") {
    val path = tmpFile("z.json",
      """{"type": "Feature", "properties": {"route_id": "Z1"},
        | "geometry": {"type": "LineString",
        |  "coordinates": [[325000.0, 673000.0, 12.5], [325300.0, 673400.0, 40.0]]}}""".stripMargin)
    val line = Seq(Seq(325000.0, 673000.0, 12.5), Seq(325300.0, 673400.0, 40.0))
    def parts(df: DataFrame) = df.select("parts").head().getSeq[collection.Seq[collection.Seq[Double]]](0)
    val df = spark.read.format("geojson").load(path)
    assert(parts(df) == Seq(line))
    val outDir = Files.createTempDirectory("gjz").toString + "/out"
    df.write.format("geojson").mode("overwrite").save(outDir)
    val back = spark.read.format("geojson").load(new java.io.File(outDir).listFiles()
      .filter(_.getName.startsWith("part-")).map(_.getAbsolutePath): _*)
    assert(parts(back) == Seq(line))
    // the envelope and the length read x and y only
    val row = Pipeline.processRoutes(spark, path).select("coordinates", "route_length_m").head()
    assert(row.getSeq[collection.Seq[Double]](0) == line)
    assert(math.abs(row.getDouble(1) - 500.0) < 1e-9)
    assert(df.select("bbox_minx", "bbox_maxy").head() == Row(325000.0, 673400.0))
  }
}
