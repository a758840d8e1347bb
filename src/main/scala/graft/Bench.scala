package graft

import scala.util.control.NonFatal

/** Benchmark main: runs every registered query on SPARK_GRAFT_SF_DIR and
  * prints ONE JSON line.
  *
  * Each query runs once cold, then THREE warm passes; the reported per-query
  * time is the min of the warm samples — steady-state throughput, which is
  * what survives at cluster scale where planning/codegen is amortized away,
  * with host-contention spikes in any one pass discarded by the min. The
  * cold pass total is also reported (`cold_total_sec`) so startup cost
  * stays visible.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local()

    // Every measurement starts from an empty cache: queries that persist() a
    // shared subplan internally keep their within-query reuse, but a later
    // run must not silently read blocks a previous run materialized (Spark's
    // CacheManager dedupes by logical plan across invocations).
    // localCheckpoint blocks are NOT in the cache manager, so drop every
    // persistent RDD too — otherwise 60+ queries × multiple passes accumulate
    // blocks until the heap thrashes and late queries pay GC, not compute.
    def time(fn: => Unit): Double = {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      val t0 = System.nanoTime()
      try fn catch { case NonFatal(_) => return -1.0 }
      (System.nanoTime() - t0) / 1e9
    }

    // dev aid: SPARK_GRAFT_ONLY=q_a,q_b restricts the run while tuning a
    // single query (the driver never sets it, so its runs stay complete)
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(',').toSet)
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
    val cold = names.map(n => n -> time(SparkEntry.queries(n)(spark, sfDir).count())).toMap
    // THREE warm passes, unconditionally, report the per-query MIN:
    // steady-state throughput, robust to transient host contention hitting
    // any one pass (observed: shared-host load windows inflating single
    // queries 10-20× with unchanged code). Earlier rounds took the third
    // pass only when pass totals disagreed >15% — but pass-2 contention is
    // demonstrably common on this host (round 10's warm passes sat 14%
    // apart, just under the trigger, leaving a caveat on the recorded
    // number), so the third sample is now always paid (~2 min) and every
    // recorded total is a genuine min-of-3.
    // SPARK_GRAFT_WARM_PASSES trims the warm-pass count for runs where wall
    // clock is the binding constraint (the sf1 pair — a full pass is ~10×
    // sf0.1). Fewer samples can only RAISE the reported min, so a trimmed
    // run is a conservative measurement, never a flattering one; the mode
    // string records the count so the artifact states its own protocol.
    // A trimmed run is still a NON-DEFAULT protocol, so like SPARK_GRAFT_ONLY
    // it diverts to the .dev.json path below rather than overwriting the
    // official record a total-only consumer might read without the mode.
    val nWarm = sys.env.get("SPARK_GRAFT_WARM_PASSES").map { v =>
      v.toIntOption.getOrElse(
        sys.error(s"SPARK_GRAFT_WARM_PASSES must be an integer, got '$v'"))
    }.getOrElse(3)
    val passes = (1 to math.max(1, nWarm)).map { _ =>
      names.map(n => n -> time(SparkEntry.queries(n)(spark, sfDir).count())).toMap
    }
    def passTotal(m: Map[String, Double]): Double = m.values.filter(_ >= 0).sum
    // min over the SUCCESSFUL samples: -1.0 marks a failed execution, and a
    // query that failed one pass but succeeded the other must report the
    // valid measurement, not the sentinel
    val warm = names.map { n =>
      val ok = passes.map(_(n)).filter(_ >= 0)
      n -> (if (ok.isEmpty) -1.0 else ok.min)
    }.toMap

    val qs = names.map(n => "\"" + n + "\":" + warm(n)).mkString("{", ",", "}")
    val total = warm.values.filter(_ >= 0).sum
    val coldTotal = cold.values.filter(_ >= 0).sum
    val passTotals = passes.map(passTotal).mkString("[", ",", "]")
    val mode = s"warm-min-of-${passes.length}"
    // Core-scaling observability (round-16 verdict item 2, additions-only):
    // the driver re-runs this bench at a lower $SPARK_GRAFT_CPUS to measure
    // scaling, but at small SFs the per-query scheduling floor plus
    // size-first AQE coalescing (task counts byte-driven, not core-driven)
    // make core count invisible in the timings alone. Emit the session's
    // actual parallelism, master string and the effective AQE advisory so
    // the scaling harness can verify the requested cores took effect.
    val scalingInfo = {
      val adv = try spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes")
      catch { case NonFatal(_) => "" }
      s""""master":"${spark.sparkContext.master}","default_parallelism":${spark.sparkContext.defaultParallelism},"advisory_partition_bytes":"$adv""""
    }
    val fullLine = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"cold_total_sec":$coldTotal,"warm_pass_totals_sec":$passTotals,"mode":"$mode",$scalingInfo,"sf":"$sfDir"}"""
    println(fullLine)
    // The harness that wraps this main keeps only a bounded tail of stdout;
    // at 100+ registered queries the full line outgrows it and the totals at
    // the line's head are lost. Persist the complete record to a file and
    // finish with a COMPACT line (totals + the slowest queries only) that
    // always fits whole inside a 2000-char tail.
    // Dev runs with SPARK_GRAFT_ONLY / SPARK_GRAFT_WARM_PASSES must not
    // clobber the official full-registry record the compact line points at —
    // divert them to a suffixed file.
    val defaultProtocol = only.isEmpty && nWarm == 3
    val fullPath = if (defaultProtocol) "BENCH_FULL.json" else "BENCH_FULL.dev.json"
    try java.nio.file.Files.write(java.nio.file.Paths.get(fullPath),
      (fullLine + "\n").getBytes("UTF-8"))
    catch { case NonFatal(_) => () }
    val failed = names.filter(n => warm(n) < 0)
    val slowest = names.filter(warm(_) >= 0).sortBy(-warm(_)).take(8)
      .map(n => "\"" + n + "\":" + warm(n)).mkString("{", ",", "}")
    val compactLine = s"""{"metric":"total","value":$total,"unit":"sec","n_queries":${names.length},"n_failed":${failed.length},"failed":${failed.map("\"" + _ + "\"").mkString("[", ",", "]")},"slowest":$slowest,"cold_total_sec":$coldTotal,"warm_pass_totals_sec":$passTotals,"mode":"$mode",$scalingInfo,"sf":"$sfDir","queries":"see BENCH_FULL.json"}"""
    println(compactLine)
    // This main runs FORKED under sbt: its stdout is re-logged with an
    // "[info] " prefix and sbt's own "[success] Total time …" footer prints
    // after it, so a harness that parses the FINAL stdout line never sees
    // valid JSON (BENCH_r11 recorded parsed=null for exactly this reason).
    // Persist the compact line to BENCH_SELF.json; a shutdown hook in the
    // SBT JVM (registered from build.sbt) re-prints it un-prefixed after the
    // footer, making it the genuine last line of the process's stdout.
    // Official full-registry runs only — dev subsets must not masquerade as
    // the round record.
    if (defaultProtocol)
      try java.nio.file.Files.write(java.nio.file.Paths.get("BENCH_SELF.json"),
        (compactLine + "\n").getBytes("UTF-8"))
      catch { case NonFatal(_) => () }
    spark.stop()
  }
}
