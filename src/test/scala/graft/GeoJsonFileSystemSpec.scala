package graft

import graft.sources.GeoJsonFetch
import org.apache.spark.sql.functions.col
import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** The connector on a filesystem other than `file:`: `graftflaky:` is the
  * local disk under a scheme of its own, so a document, a listing, a
  * `.bbox` sidecar or a commit is found only through Hadoop's FileSystem.
  */
class GeoJsonFileSystemSpec extends SparkSpec {

  private def feature(id: String, x: Double, y: Double) =
    s"""{"type": "Feature", "properties": {"route_id": "$id", "local_authority": "Edinburgh"},
       | "geometry": {"type": "LineString",
       |  "coordinates": [[$x, $y], [${x + 300}, ${y + 400}]]}}""".stripMargin

  private def fc(features: String*) =
    s"""{"type": "FeatureCollection", "features": [${features.mkString(", ")}]}"""

  /** A fresh local directory holding `docs` (name -> text). */
  private def tempDir(docs: (String, String)*): Path = {
    val dir = Files.createTempDirectory("gjfs")
    docs.foreach { case (name, text) => Files.writeString(dir.resolve(name), text) }
    dir
  }

  private def flaky(p: Path): String = s"graftflaky:$p"

  private def routeIds(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.select(col("properties")("route_id")).collect().map(_.getString(0)).sorted.toSeq

  test("processRoutes reads a directory of documents") {
    FlakyLocalFs.registered(spark) {
      val in = tempDir(
        "a.geojson" -> fc(feature("R1", 325000, 673000), feature("R2", 326000, 674000)),
        "b.geojson" -> feature("R3", 327000, 675000))
      val got = Pipeline.processRoutes(spark, flaky(in))
        .select("route_id", "source_file").orderBy("route_id").collect()
        .map(r => (r.getString(0), r.getString(1))).toSeq
      assert(got == Seq(("R1", "a.geojson"), ("R2", "a.geojson"), ("R3", "b.geojson")))
    }
  }

  test("Pipeline.run writes both file sinks on the scheme, and both read back") {
    FlakyLocalFs.registered(spark) {
      val in = tempDir("in.geojson" -> fc(feature("R1", 325940, 673060)))
      val (gj, csv) = Pipeline.run(spark, flaky(in), flaky(tempDir()), "20240601_000000")
      assert(gj.startsWith("graftflaky:") && csv.startsWith("graftflaky:"), (gj, csv))
      val back = spark.read.format("geojson").load(gj)
      assert(back.select(col("properties")("os_gridref")).collect().map(_.getString(0)).toSeq ==
        Seq("NT 25940 73060"))
      val csvBack = spark.read.option("header", "true").csv(csv)
      assert(csvBack.select("route_id").collect().map(_.getString(0)).toSeq == Seq("R1"))
      assert(csvBack.columns.contains("geometry_wkt"))
    }
  }

  test("the sink's .bbox sidecars prune parts before they are fetched") {
    FlakyLocalFs.registered(spark) {
      val in = tempDir("near.geojson" -> feature("N1", 325000, 673000),
        "far.geojson" -> feature("F1", 5000, 8000))
      val out = flaky(tempDir()) + "/out"
      // one append per document: one part file each, beside its own sidecar
      Seq("near", "far").foreach { d =>
        spark.read.format("geojson").load(s"${flaky(in)}/$d.geojson")
          .write.format("geojson").mode("append").save(out)
      }
      val q = spark.read.format("geojson").load(out)
        .filter(col("bbox_maxx") >= 320000 && col("bbox_minx") <= 330000 &&
          col("bbox_maxy") >= 670000 && col("bbox_miny") <= 680000)
      val before = GeoJsonFetch.fetches.get()
      assert(routeIds(q) == Seq("N1"))
      assert(GeoJsonFetch.fetches.get() - before == 1L)
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains("docs=1/2"), plan)
    }
  }

  test("a stream reads a queue directory and commits its epochs on the scheme") {
    FlakyLocalFs.registered(spark) {
      val src = tempDir("in_001.geojson" -> fc(feature("W1", 1, 1), feature("W2", 2, 2)))
      val out = tempDir()
      val q = spark.readStream.format("geojson").load(flaky(src))
        .writeStream.format("geojson")
        .option("path", flaky(out))
        .option("checkpointLocation", Files.createTempDirectory("gjfs-ckpt").toString)
        .start()
      try {
        q.processAllAvailable()
        Files.writeString(src.resolve("in_002.geojson"), feature("W3", 3, 3))
        q.processAllAvailable()
      } finally q.stop()
      val names = Files.list(out).iterator().asScala.map(_.getFileName.toString).toSeq
      assert(names.count(_.startsWith("part-e")) == 2 && !names.contains("_tmp"), names)
      assert(routeIds(spark.read.format("geojson").load(flaky(out))) == Seq("W1", "W2", "W3"))
    }
  }
}
