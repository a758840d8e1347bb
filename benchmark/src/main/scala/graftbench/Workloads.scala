package graftbench

import graft.{CorpusPipeline, Pipeline, SparkEntry}
import graft.sinks.Sinks
import graft.sources.GeoJsonFetch
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.io.File

/** One operation of a workload's pass. `build` is the construct layer (the
  * caller's builder call: table resolution, plan construction, any derived
  * table it needs) and returns the execution, which produces the full result.
  * `check` runs the same operation untimed and records what run.py verifies.
  */
final case class Op(name: String, module: String,
                    build: SparkSession => (() => Unit),
                    check: SparkSession => Unit)

/** Query workloads: each op is one registered query, executed to its full
  * result through the noop sink and checked through a parquet dump that
  * run.py compares against the query's DuckDB oracle.
  */
object Queries {
  /** Floor-dominated queries (0.1-0.7 s warm at sf0.01 on 4 cores): one per
    * operator module, plus the viewer's distinct and group-by shapes.
    */
  val interactive: Seq[String] = Seq(
    "q_filter_limit", "q_distinct_sorted", "q_groupby_category", "q_reproject",
    "q_percentiles", "q_window_topk", "q_moving_avg", "q_simhash", "q_degree_dist",
    "q_media_decode", "q_ann_pq", "q_weighted_sample", "q_embed_stats",
    "q_salted_join", "q_token_count", "q_tpch_q6")

  /** Execution-heavy queries (0.2-3 s warm at sf0.01), one per operator module
    * that has them; together they run every native plan node family the
    * registry leans on hardest (as-of merge, MinHash, IVF, bigram LM).
    */
  val analytic: Seq[String] = Seq(
    "q_triangles", "q_wkt_multi", "q_dedup_minhash", "q_ann_ivf", "q_lm_bigram",
    "q_asof_native", "q_tpch_q7")

  private val modules: Map[String, String] = Seq(
    "Relational" -> graft.operators.Relational.all, "Routes" -> graft.operators.Routes.all,
    "TextAnalysis" -> graft.operators.TextAnalysis.all, "Dedup" -> graft.operators.Dedup.all,
    "Similarity" -> graft.operators.Similarity.all, "Pq" -> graft.operators.Pq.all,
    "Multimodal" -> graft.operators.Multimodal.all, "Analytics" -> graft.operators.Analytics.all,
    "Tpch" -> graft.operators.Tpch.all, "Skew" -> graft.operators.Skew.all,
    "Aggregates" -> graft.operators.Aggregates.all, "Sampling" -> graft.operators.Sampling.all,
    "Behavior" -> graft.operators.Behavior.all, "Graph" -> graft.operators.Graph.all,
  ).flatMap { case (m, qs) => qs.map(_.name -> m) }.toMap

  val moduleNames: Seq[String] = modules.values.toSeq.distinct.sorted

  def moduleOf(query: String): Option[String] = modules.get(query)

  def ops(names: Seq[String], dataDir: String, outDir: String): Seq[Op] = names.map { n =>
    val fn = SparkEntry.queries(n)
    Op(n, modules(n),
      spark => { val df = fn(spark, dataDir); () => df.write.format("noop").mode("overwrite").save() },
      spark => fn(spark, dataDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/results/$n"))
  }

  def oracleJson(names: Seq[String]): String = {
    val sql = SparkEntry.oracleSql
    names.map(n => s"${Json.str(n)}: ${Json.str(sql(n))}").mkString("{", ",\n", "}")
  }
}

/** The write / connector / curation workload. Inputs (made by gen.py):
  * `geo/{fc,feature,list}` LineString documents in the three accepted
  * shapes, `geo/multi` FeatureCollections mixing MultiLineString with
  * LineString, and `documents.parquet`.
  */
final class Pipelines(dataDir: String, outDir: String, evalKey: Long,
                      viewerRounds: Int) {
  private val geo = s"$dataDir/geo"
  private def files(shape: String): Seq[String] =
    Option(new File(s"$geo/$shape").listFiles).toSeq.flatten
      .filter(_.getName.endsWith(".geojson")).map(_.getAbsolutePath).sorted
  val allDocs: Seq[String] = Seq("fc", "feature", "list", "multi").flatMap(files)
  /** Document the source_file viewer query selects. */
  val prunedTo: String = new File(files("multi").head).getName
  val batchSize = 64

  /** Check-pass observations, written as one JSON object for run.py. */
  val observed = scala.collection.mutable.LinkedHashMap.empty[String, String]
  var fetchedDocs = 0L
  var checkpointBytes = 0.0
  var viewerReads = 0L
  val reports = scala.collection.mutable.ArrayBuffer.empty[CorpusPipeline.Report]

  private def feats(spark: SparkSession): DataFrame =
    spark.read.format("geojson").load(allDocs: _*)

  /** app/app.py's viewer queries, through the DSv2 connector. */
  private val viewer: Seq[(String, SparkSession => DataFrame)] = Seq(
    "viewer.distinct_route_type" -> (s => feats(s)
      .select(col("properties")("route_type").as("route_type"))
      .where(col("route_type").isNotNull).distinct().orderBy("route_type")),
    "viewer.filter_order_limit" -> (s => feats(s)
      .where(col("properties")("local_authority") === "Edinburgh")
      .select(col("properties")("id").cast("long").as("id"),
        col("properties")("route_id").as("route_id"), col("geometry_type"))
      .orderBy("id").limit(1000)),
    "viewer.bounds" -> (s => feats(s).agg(min("bbox_minx").as("minx"),
      min("bbox_miny").as("miny"), max("bbox_maxx").as("maxx"), max("bbox_maxy").as("maxy"))),
    "viewer.count_by_geometry" -> (s => feats(s).groupBy("geometry_type").count()),
    "viewer.source_file" -> (s => feats(s).where(col("source_file") === prunedTo)
      .select(col("properties")("route_id").as("route_id"))))

  private def ts(tag: String) = s"20240601_$tag"

  private def curate(spark: SparkSession): (DataFrame, CorpusPipeline.Report) = {
    // a held-out set of two documents: a larger one shares five shingles
    // with nearly every document of the 31-word synthetic vocabulary
    val docs = spark.read.parquet(s"$dataDir/documents.parquet")
    val held = col("doc_id") % 1250 === evalKey
    val corpus = docs.filter(!held).select("doc_id", "text", "lang", "source")
    val eval = docs.filter(held).select("doc_id", "text")
    CorpusPipeline.curate(corpus, eval)
  }

  private def rows(df: DataFrame): String =
    df.toJSON.collect().mkString("[", ",", "]")

  def ops: Seq[Op] = {
    val etl = Seq("fc", "feature", "list").map { shape =>
      Op(s"etl.$shape", "Pipeline",
        spark => () => Pipeline.run(spark, s"$geo/$shape", s"$outDir/sinks", ts(shape)),
        spark => {
          // run.py re-reads both sinks; the native pipeline's lat/lon for the
          // FeatureCollection documents are recorded to compare with the CSV
          Pipeline.run(spark, s"$geo/$shape", s"$outDir/check-sinks", ts(shape))
          if (shape == "fc") observed("native.fc") = rows(files(shape)
            .map(Pipeline.processRoutesNative(spark, _)
              .select(col("properties")("route_id").as("route_id"), col("lat"), col("lon")))
            .reduce(_ union _))
        })
    }
    val batched = Op("sinks.batched", "Pipeline",
      spark => {
        val routes = Pipeline.processRoutes(spark, s"$geo/fc")
        () => Sinks.writeBatched(routes, s"$outDir/sinks/batched", "drop", batchSize)
      },
      spark => Sinks.writeBatched(Pipeline.processRoutes(spark, s"$geo/fc"),
        s"$outDir/check-sinks/batched", "drop", batchSize))
    val native = Op("etl.native", "Pipeline",
      spark => {
        val df = files("multi").map(Pipeline.processRoutesNative(spark, _)).reduce(_ union _)
        () => df.write.format("noop").mode("overwrite").save()
      },
      spark => {
        val df = files("multi").map(Pipeline.processRoutesNative(spark, _)).reduce(_ union _)
        observed("native.rows") = df.count().toString
        observed("native.null_latlon") = df.where(col("lat").isNull || col("lon").isNull)
          .count().toString
      })
    // the viewer queries repeat `viewerRounds` times a pass (the check pass
    // runs each once), so their latency percentiles rest on enough samples
    val views = viewer.map { case (name, q) =>
      Op(name, "sources",
        spark => { val df = q(spark); () => {
          val f0 = GeoJsonFetch.fetches.get()
          df.write.format("noop").mode("overwrite").save()
          fetchedDocs += GeoJsonFetch.fetches.get() - f0; viewerReads += allDocs.size
        } },
        spark => observed(name) = rows(q(spark)))
    }
    val cur = Op("curate", "CorpusPipeline",
      spark => () => {
        val (packed, report) = curate(spark)
        packed.write.format("noop").mode("overwrite").save()
        // the stage checkpoints curate holds while its result is alive
        checkpointBytes = checkpointBytes max spark.sparkContext.getRDDStorageInfo
          .map(i => i.memSize + i.diskSize).sum.toDouble
        reports += report
      },
      spark => {
        val (packed, report) = curate(spark)
        observed("curate.packed_rows") = packed.count().toString
        reports += report
      })
    etl ++ Seq(batched, native) ++ (0 until viewerRounds).flatMap(_ => views) ++ Seq(cur)
  }

  def observedJson: String = {
    val rs = reports.map { r =>
      s"[${r.input},${r.afterQuality},${r.afterExactDedup},${r.afterNearDedup}," +
        s"${r.afterDecontamination},${r.afterParagraphScrub},${r.bins},${r.packedTokens}]"
    }
    (observed.map { case (k, v) =>
      val raw = if (v.startsWith("[")) v else Json.str(v)
      s"${Json.str(k)}: $raw"
    } ++ Seq(s""""curate.reports": ${rs.mkString("[", ",", "]")}""",
      s""""pruned_to": ${Json.str(prunedTo)}""",
      s""""eval_key": $evalKey""")).mkString("{", ",\n", "}")
  }
}
