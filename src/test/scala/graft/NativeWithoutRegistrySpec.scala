package graft

import graft.plans.{BloomAgg, MightContain, MinhashSig, OsGridRef, OsgbToWgs84, PartsLength, ShingleHashes, SimhashSig, SimhashSig64, SortedIntersectCount, TopKAgg, VectorCosine}
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.SpanSugar._
import scala.jdk.CollectionConverters._

/** Operators build their native expressions directly (functions/Native), so
  * no query depends on the session's function registry. On a session whose
  * `graft_*` registrations are dropped, every query that uses a native
  * expression must return the rows it returns on the normal session, with
  * the native node in a plan it executed (construct-time checkpoints and
  * cached relations included). Inputs are parquet and GeoJSON files: over a
  * LocalRelation the optimizer would fold the node away.
  */
class NativeWithoutRegistrySpec extends SparkSpec with AdaptiveSparkPlanHelper {

  /** Each registered query that reaches a native expression, with the node
    * classes it must execute. */
  private val NativeQueries: Seq[(String, Seq[Class[_]])] = {
    val minhash = Seq(classOf[ShingleHashes], classOf[MinhashSig])
    Seq(
      "q_reproject" -> Seq(classOf[OsgbToWgs84]),
      "q_os_gridref" -> Seq(classOf[OsGridRef]),
      "q_wkt_multi" -> Seq(classOf[PartsLength]),
      "q_ann_cosine" -> Seq(classOf[VectorCosine]),
      "q_ann_lsh" -> Seq(classOf[VectorCosine]),
      "q_ann_recall" -> Seq(classOf[VectorCosine]),
      "q_dedup_embed" -> Seq(classOf[VectorCosine]),
      "q_ann_ivf" -> Seq(classOf[VectorCosine]),
      "q_semantic_dedup" -> Seq(classOf[VectorCosine]),
      "q_topk_agg" -> Seq(classOf[TopKAgg]),
      "q_ann_pq" -> Seq(classOf[TopKAgg]),
      "q_triangles" -> Seq(classOf[SortedIntersectCount]),
      "q_dedup_minhash" -> minhash,
      "q_dedup_clusters" -> minhash,
      "q_dedup_keep" -> minhash,
      "q_minhash_error" -> minhash,
      "q_phash_pairs" -> minhash,
      "q_simhash" -> Seq(classOf[SimhashSig]),
      "q_simhash_pairs" -> Seq(classOf[SimhashSig64]),
      "q_ngram_jaccard" -> Seq(classOf[TopKAgg]),
      "q_containment" -> Seq(classOf[ShingleHashes], classOf[TopKAgg]),
      "q_dup_coverage" -> Seq(classOf[ShingleHashes]),
      "q_ngram_novelty" -> Seq(classOf[ShingleHashes]),
      "q_decontaminate" -> Seq(classOf[ShingleHashes]),
      "q_decontaminate_bloom" -> Seq(classOf[ShingleHashes], classOf[BloomAgg], classOf[MightContain]))
  }

  private lazy val bare: SparkSession = {
    val s = SparkEntry.tune(spark.newSession())
    s.conf.set("spark.sql.codegen.fallback", "false")
    val registry = s.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
    registry.listFunction().filter(_.funcName.startsWith("graft_")).foreach(registry.dropFunction)
    s
  }

  private val executed = new ConcurrentLinkedQueue[SparkPlan]()

  override def beforeAll(): Unit = {
    super.beforeAll()
    bare.listenerManager.register(new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        executed.add(qe.executedPlan)
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    })
  }

  /** The rows `build` returns on `bare`, and every plan `bare` executed for
    * it. Listener events arrive asynchronously but in order, so the arrival
    * of a marker query run after `build` shows that all of its plans have.
    * A fresh warehouse directory makes `build` derive its Warehouse tables
    * itself instead of reading an earlier build's.
    */
  private def runBare(build: SparkSession => DataFrame): (Seq[String], Seq[SparkPlan]) = {
    bare.conf.set("spark.graft.warehouseDir", Files.createTempDirectory("graft-bare-warehouse").toString)
    executed.clear()
    val rows = build(bare).collect().map(_.toString).toSeq
    val marker = s"marker_${System.nanoTime}"
    bare.range(1).toDF(marker).collect()
    eventually(timeout(60.seconds), interval(50.millis)) {
      assert(executed.asScala.exists(_.output.exists(_.name == marker)))
    }
    (rows, executed.asScala.toSeq)
  }

  /** Every node of `plan`, through AQE stages, subqueries and cached relations. */
  private def nodes(plan: SparkPlan): Seq[SparkPlan] =
    collectWithSubqueries(plan) { case n => n }.flatMap {
      case c: InMemoryTableScanExec => c +: nodes(c.relation.cachedPlan)
      case n => Seq(n)
    }

  private def missing(plans: Seq[SparkPlan], classes: Seq[Class[_]]): Seq[String] = {
    val all = plans.flatMap(nodes)
    classes.filterNot(c => all.exists(_.expressions.exists(_.exists(c.isInstance))))
      .map(_.getSimpleName)
  }

  test("the registry holds no graft_* function on the bare session") {
    assert(!bare.catalog.functionExists("graft_cosine"))
    assert(spark.catalog.functionExists("graft_cosine"))
  }

  NativeQueries.foreach { case (name, classes) =>
    test(s"$name runs its native expression without the registry") {
      val fn = SparkEntry.queries(name)
      val want = fn(spark, sf()).collect().map(_.toString).toSeq
      val (got, plans) = runBare(fn(_, sf()))
      assert(want.nonEmpty, s"$name returned no rows")
      assert(got == want, s"$name differs on the session without graft_* functions")
      val absent = missing(plans, classes)
      assert(absent.isEmpty, s"$name executed no ${absent.mkString(", ")}")
    }
  }

  test("both route pipelines reproject through graft_osgb without the registry") {
    val dir = Files.createTempDirectory("native-routes")
    val in = dir.resolve("routes.json").toString
    val feature = (id: Int, e: Double, n: Double) =>
      s"""{"type": "Feature", "properties": {"route_id": "R$id"},
         | "geometry": {"type": "LineString",
         |  "coordinates": [[$e, $n], [${e + 300}, ${n + 400}]]}}""".stripMargin
    Files.writeString(Paths.get(in), s"""{"type": "FeatureCollection", "features": [
      |${feature(1, 325940.0, 673060.0)}, ${feature(2, 530000.0, 180000.0)}]}""".stripMargin)
    val cols = Seq("route_id", "route_length_m", "lat", "lon", "os_gridref")
    Seq[(String, (SparkSession, String) => DataFrame)](
      "processRoutes" -> ((s, p) => Pipeline.processRoutes(s, p).select(cols.head, cols.tail: _*)),
      "processRoutesNative" -> ((s, p) => Pipeline.processRoutesNative(s, p)
        .selectExpr("properties['route_id'] AS route_id", "route_length_m", "lat", "lon", "os_gridref"))
    ).foreach { case (name, build) =>
      val want = build(spark, in).orderBy("route_id").collect().map(_.toString).toSeq
      val (got, plans) = runBare(build(_, in).orderBy("route_id"))
      assert(want.size == 2, s"$name: $want")
      assert(got == want, s"$name differs on the session without graft_* functions")
      val absent = missing(plans, Seq(classOf[OsgbToWgs84], classOf[OsGridRef], classOf[PartsLength]))
      assert(absent.isEmpty, s"$name executed no ${absent.mkString(", ")}")
    }
  }
}
