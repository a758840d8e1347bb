package graft

import org.apache.spark.sql.SparkSession

/** The one way to build a graft session: every main and the test suite get
  * theirs here, so their configs cannot drift apart.
  */
object GraftSession {

  /** A `local[cpus]` session with [[GraftExtensions]] installed, shuffle
    * partitions equal to `cpus`, the UI off, WARN logging and
    * [[SparkEntry.tune]]'s pinned semantics. Installing the extensions also
    * sizes Spark's generated-class cache to 1000 entries
    * ([[GraftExtensions.sizeCodegenCache]]), so a warm pass re-runs its
    * queries without recompiling them. `cpus` defaults to
    * `SPARK_GRAFT_CPUS`, else 4. Like `getOrCreate`, a second call in the
    * same JVM returns the active session (re-tuned), not a new context.
    */
  def local(cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(4)): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      // sf1 under a tight heap can stall the in-process heartbeat thread
      // behind full GCs; the default 10s interval × 60 misses then KILLS the
      // executor mid-pass (observed: round-14 sf1 run died at minute 74).
      // Local mode has no real liveness question — the "executor" is this
      // JVM — so trade detection latency for GC tolerance.
      .config("spark.executor.heartbeatInterval", "60s")
      .config("spark.network.timeout", "1200s")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    SparkEntry.tune(spark)
  }
}
