package graftbench

import graft.SparkEntry
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.graftbench.Internals
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files
import scala.sys.process._

/** The benchmark times each query through `write.format("noop")`. That must
  * execute the whole result: for every registered query, the optimized plan
  * of the noop write keeps every Sort, Window, Join, Aggregate and Project
  * node of the plan `graft.Verify` writes to parquet (which the DuckDB oracle
  * checks). A `count()` fails this: Catalyst drops what a row count does not
  * need.
  */
class NoopPlanSpec extends AnyFunSuite {
  private lazy val spark = SparkEntry.tune(SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.extensions", "graft.GraftExtensions")
    .config("spark.ui.enabled", "false")
    .getOrCreate())

  private lazy val dataDir = {
    val d = Files.createTempDirectory("graftbench-plan").toString
    val rc = Seq("python3", "gen.py", "1", "0.001", d).!
    require(rc == 0, s"gen.py failed with $rc")
    d
  }

  private val kinds = Seq("Sort", "Window", "Join", "Aggregate", "Project")

  private def counts(plan: LogicalPlan): Map[String, Int] = {
    val names = plan.collectWithSubqueries { case n => n.nodeName }
    kinds.map(k => k -> names.count(_ == k)).toMap
  }

  /** Optimized plan of the last write command the action ran. */
  private def writePlan(action: => Unit): LogicalPlan = {
    @volatile var last: Option[LogicalPlan] = None
    val l = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (qe.commandExecuted != null) last = Some(qe.optimizedPlan)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try { action; Internals.drainListenerBus(spark.sparkContext) }
    finally spark.listenerManager.unregister(l)
    last.getOrElse(fail("no write command observed"))
  }

  test("the noop write keeps every Sort/Window/Join/Aggregate/Project the Verify write has") {
    val out = Files.createTempDirectory("graftbench-verify").toString
    val queries = SparkEntry.queries.toSeq.sortBy(_._1)
    assert(queries.size >= 180)
    val dropped = queries.flatMap { case (name, fn) =>
      val verify = counts(writePlan(fn(spark, dataDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$out/$name")))
      val noop = counts(writePlan(fn(spark, dataDir).write.format("noop").mode("overwrite").save()))
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      kinds.filter(k => noop(k) < verify(k)).map(k => s"$name: $k ${noop(k)} < ${verify(k)}")
    }
    assert(dropped.isEmpty, dropped.mkString("\n"))
  }
}
