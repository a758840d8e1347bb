package graft.sinks

import org.apache.spark.sql.{Column, DataFrame, SaveMode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, MapType, StructType}

/** The reference's three sinks, as DataFrameWriter plans.
  *
  * All of them are distributed writes (per-partition part files); none of them
  * collect. Timestamped filenames mirror process_cycle_networks.py:139-153 but
  * the timestamp is an explicit argument — deterministic pipelines should not
  * read the clock inside the plan.
  */
object Sinks {

  /** GeoJSON sink with a timestamped directory name, mirroring
    * process_cycle_networks.py:139-144, written through the connector's own
    * writer (`format("geojson")`): newline-delimited Features in
    * `part-<partition>-<task>.geojson` files, each beside the hidden `.bbox`
    * sidecar its scan prunes on, so `load(<returned dir>)` reads them back.
    * Expects `geometry_type`, `coordinates` (one line) and the property
    * columns to keep; a row with null `coordinates` writes
    * `"geometry": null`. `outDir` may name any filesystem the session's
    * Hadoop conf resolves: the connector's writer commits through it.
    */
  def writeGeoJson(df: DataFrame, outDir: String, baseName: String, timestamp: String,
                   propCols: Seq[String]): String = {
    val path = s"$outDir/${baseName}_$timestamp.geojson"
    df.select(col("geometry_type"),
        when(col("coordinates").isNotNull, array(col("coordinates")))
          .cast("array<array<array<double>>>").as("parts"),
        propertiesJson(propCols).as("properties_json"))
      .write.format("geojson").mode(SaveMode.Overwrite).save(path)
    path
  }

  /** `to_json` options that keep null-valued fields as explicit JSON nulls —
    * the reference's GeoJSON writer preserves them (GeoPandas `to_file` keeps
    * every property key).
    */
  private val keepNulls = Map("ignoreNullFields" -> "false")

  /** The property columns as one JSON object. */
  private def propertiesJson(propCols: Seq[String]): Column =
    to_json(struct(propCols.map(col): _*), keepNulls)

  /** One serialized GeoJSON Feature per row. */
  private def featureJson(propCols: Seq[String]): Column =
    to_json(struct(
      lit("Feature").as("type"),
      struct(col("geometry_type").as("type"), col("coordinates")).as("geometry"),
      struct(propCols.map(col): _*).as("properties")),
      keepNulls)

  /** CSV sink with a WKT geometry column, mirroring
    * process_cycle_networks.py:146-153 (geometry dropped, `geometry_wkt`
    * kept). Caller provides the WKT column (see functions/Wkt.scala). A
    * nested (struct, array or map) column is written as its compact JSON
    * text, as GeoPandas `to_csv` writes such values as text; Spark's CSV
    * writer refuses nested types.
    */
  def writeCsvWkt(df: DataFrame, outDir: String, baseName: String, timestamp: String,
                  wkt: Column): String = {
    val path = s"$outDir/${baseName}_$timestamp.csv"
    val flat = df.withColumn("geometry_wkt", wkt).drop("coordinates", "geometry_type")
    flat.select(flat.schema.fields.toSeq.map { f =>
        f.dataType match {
          case _: StructType | _: ArrayType | _: MapType => to_json(col(f.name), keepNulls).as(f.name)
          case _ => col(f.name)
        }
      }: _*)
      .write.mode(SaveMode.Overwrite).option("header", "true").csv(path)
    path
  }

  /** Single-document FeatureCollection sink — byte-compatible with the
    * reference's output (process_cycle_networks.py:150-153 emits ONE
    * `{"type": "FeatureCollection", "features": [...]}` document), unlike
    * [[writeGeoJson]]'s distributed newline-delimited form. A single valid
    * JSON document is inherently a single-writer artifact, so the serialized
    * feature strings (not the source data) are coalesced to one task which
    * interleaves the commas and brackets streamingly — no collect, constant
    * memory. Returns the part-file path holding the complete document; the
    * part file is resolved through the Hadoop FileSystem API, so the sink
    * works against any configured filesystem, not just the local one.
    */
  def writeGeoJsonFeatureCollection(df: DataFrame, outDir: String, baseName: String,
                                    timestamp: String, propCols: Seq[String]): String = {
    val path = s"$outDir/${baseName}_$timestamp.geojson"
    val spark = df.sparkSession
    import spark.implicits._
    df.select(featureJson(propCols).as("value")).as[String].coalesce(1)
      .mapPartitions { it =>
        val body = new Iterator[String] {
          def hasNext: Boolean = it.hasNext
          def next(): String = { val f = it.next(); if (it.hasNext) f + "," else f }
        }
        Iterator("{\"type\": \"FeatureCollection\", \"features\": [") ++ body ++ Iterator("]}")
      }
      .write.mode(SaveMode.Overwrite).text(path)
    val dir = new org.apache.hadoop.fs.Path(path)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val part = fs.listStatus(dir).map(_.getPath).find(_.getName.startsWith("part-"))
      .getOrElse(throw new IllegalStateException(
        s"FeatureCollection write produced no part file under $path — " +
          "a zero-partition input writes nothing; write an empty collection explicitly if intended"))
    // local paths come back java.io.File-compatible; other schemes keep the URI
    if (Option(part.toUri.getScheme).forall(_ == "file")) part.toUri.getPath else part.toString
  }

  /** Batched relational-style sink — db_helpers.py:140-210's
    * batch_size=64000 + drop/create/append table modes, re-expressed as
    * writer options: `maxRecordsPerFile` is the batch, SaveMode is the table
    * mode. On a real warehouse target the same shape feeds a JDBC writer with
    * `batchsize`; parquet keeps the harness hermetic.
    */
  def writeBatched(df: DataFrame, path: String, mode: String,
                   batchSize: Int = 64000): Unit = {
    val saveMode = modeFor(mode)
    df.write.option("maxRecordsPerFile", batchSize.toLong).mode(saveMode).parquet(path)
  }

  /** db_helpers.py:125-210's table-mode contract shared by both relational
    * sinks: drop → overwrite, create → fail-if-exists, append → append.
    */
  def modeFor(mode: String): SaveMode = mode match {
    case "drop"   => SaveMode.Overwrite
    case "create" => SaveMode.ErrorIfExists
    case "append" => SaveMode.Append
    case m        => throw new IllegalArgumentException(s"unknown mode: $m")
  }

  /** The actual JDBC branch of the batched relational sink — the direct analog
    * of db_helpers.py:125-193 (schema/table management + executemany batches):
    * Spark's JDBC writer manages the table per SaveMode and `batchsize` maps
    * the 64000-row executemany contract. Each partition opens one connection
    * and writes its rows in `batchSize` batches — distributed, no collect.
    * Spec-tested end-to-end against embedded Derby (SinksSpec).
    */
  def writeJdbc(df: DataFrame, url: String, table: String, mode: String,
                batchSize: Int = 64000, driver: Option[String] = None): Unit = {
    val w = df.write.format("jdbc")
      .option("url", url)
      .option("dbtable", table)
      .option("batchsize", batchSize.toLong)
    driver.foreach(d => w.option("driver", d))
    w.mode(modeFor(mode)).save()
  }
}
