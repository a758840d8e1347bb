package graft

import java.nio.file.{Files, Paths}

/** Dev tool: dump `explain("formatted")` for every registered query to a dir
  * (one file per query) for the plan audit in PLANS.md. Each dump is
  * [[normalize]]d, so two dumps of the same plans are byte-identical and a
  * `diff -r` of two dump dirs shows only plans that changed.
  */
object PlanDump {
  /** Replaces what changes from run to run without the plan changing:
    * expression ids (`#12`), `plan_id=N`, RDD ids (`MapPartitionsRDD[7]`),
    * `File.scala:line` call sites of checkpointed RDDs and the random
    * `graft-warehouse-<n>` directory.
    */
  def normalize(plan: String): String = Seq(
    "#\\d+" -> "#N",
    "plan_id=\\d+" -> "plan_id=N",
    "RDD\\[\\d+\\]" -> "RDD[N]",
    "(\\w+\\.scala):\\d+" -> "$1:L",
    "graft-warehouse-\\d+" -> "graft-warehouse-N"
  ).foldLeft(plan) { case (p, (re, to)) => p.replaceAll(re, to) }

  def main(args: Array[String]): Unit = {
    val out = if (args.nonEmpty) args(0) else "/tmp/plans"
    val spark = GraftSession.local()
    new java.io.File(out).mkdirs()
    val d = "/root/testdata/sf0.01"
    SparkEntry.queries.foreach { case (name, fn) =>
      val df = fn(spark, d)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      Files.writeString(Paths.get(s"$out/$name.txt"), normalize(plan))
    }
    println("PLANS_DUMPED")
    spark.stop()
  }
}
