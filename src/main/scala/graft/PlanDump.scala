package graft

import java.nio.file.{Files, Paths}

/** Dev tool: dump `explain("formatted")` for every registered query to a dir
  * (one file per query) for the plan audit in PLANS.md.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val out = if (args.nonEmpty) args(0) else "/tmp/plans"
    val spark = GraftSession.local()
    new java.io.File(out).mkdirs()
    val d = "/root/testdata/sf0.01"
    SparkEntry.queries.foreach { case (name, fn) =>
      val df = fn(spark, d)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      Files.writeString(Paths.get(s"$out/$name.txt"), plan)
    }
    println("PLANS_DUMPED")
    spark.stop()
  }
}
