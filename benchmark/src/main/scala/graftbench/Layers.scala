package graftbench

/** Per-layer metrics of a traced run, from the spans of its timed passes
  * (each a per-pass mean) and of its set-up repetitions.
  */
object Layers {
  def compute(t: Tracer, passes: Seq[Span], pipelines: Option[Pipelines],
              cpus: Int): Map[String, Double] = {
    val n = passes.size.max(1).toDouble
    val all = passes.flatMap(t.subtree)
    def sum(spans: Seq[Span], k: String): Double = spans.map(_.counts(k)).sum
    def perPass(v: Double): Double = v / n
    val ops = all.filter(_.kind == "op")
    val construct = all.filter(_.kind == "construct")
    val exec = all.filter(_.kind == "exec")
    val plan = all.filter(_.kind == "plan")
    val execWallMs = exec.map(_.ms).sum

    // jobs the cold construct ran (table resolution, Warehouse builds), per
    // set-up repetition; the median repetition is reported
    val setupJobMs = t.spans.filter(_.kind == "setup").map(s => sum(t.subtree(s), "job_ms")).sorted
    val medianSetupJobMs = if (setupJobMs.isEmpty) 0.0 else setupJobMs(setupJobMs.size / 2)

    val base = Map(
      "construct.ms" -> perPass(construct.map(_.ms).sum),
      "construct.jobs" -> perPass(construct.flatMap(t.subtree).map(_.counts("jobs")).sum),
      "Warehouse.build_ms" -> medianSetupJobMs,
      "plan.analysis_ms" -> perPass(plan.filter(_.name == "analysis").map(_.ms).sum),
      "plan.optimization_ms" -> perPass(plan.filter(_.name == "optimization").map(_.ms).sum),
      "plan.planning_ms" -> perPass(plan.filter(_.name == "planning").map(_.ms).sum),
      "sched.jobs" -> perPass(sum(all, "jobs")),
      "sched.stages" -> perPass(sum(all, "stages")),
      "sched.tasks" -> perPass(sum(all, "tasks")),
      "sched.delay_ms" -> perPass(sum(all, "sched_delay_ms")),
      "exec.ms" -> perPass(exec.map(t.selfMs).sum),
      "exec.task_cpu_ms" -> perPass(sum(all, "task_cpu_ms")),
      "exec.core_util" -> (if (execWallMs > 0) sum(all, "task_run_ms") / (execWallMs * cpus) else 0.0),
      "exec.shuffle_read_bytes" -> perPass(sum(all, "shuffle_read_bytes")),
      "exec.shuffle_write_bytes" -> perPass(sum(all, "shuffle_write_bytes")),
      "exec.spill_bytes" -> perPass(sum(all, "spill_bytes")),
      "jvm.gc_ms" -> perPass(sum(all, "gc_ms")),
      "trace.suite_s" -> passes.map(_.ms).sum / n / 1000.0)

    val modules = Queries.moduleNames.map { m =>
      s"operators.$m.ms" -> perPass(ops.filter(o => Queries.moduleOf(o.name).contains(m)).map(_.ms).sum)
    }

    val viewer = ops.filter(_.name.startsWith("viewer."))
    val viewerMs = viewer.map(_.ms).sum
    val viewerRecords = sum(viewer.flatMap(t.subtree), "records_read")
    val curate = ops.filter(_.name == "curate")
    val pipe = Map(
      "sources.read_ms" -> perPass(viewerMs),
      "sources.features_per_s" -> (if (viewerMs > 0) viewerRecords / viewerMs * 1000.0 else 0.0),
      "sinks.geojson.write_ms" -> perPass(sum(all, "sink.text.ms")),
      "sinks.csv.write_ms" -> perPass(sum(all, "sink.csv.ms")),
      "sinks.batched.write_ms" -> perPass(sum(all, "sink.parquet.ms")),
      "curate.jobs" -> (if (curate.isEmpty) 0.0 else sum(curate.flatMap(t.subtree), "jobs") / curate.size),
      "curate.checkpoint_bytes" -> pipelines.map(_.checkpointBytes).getOrElse(0.0))
    base ++ modules ++ pipe
  }
}
