package graft
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import scala.util.control.NonFatal
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. Exits 1, naming
  * every query that failed, after dumping all the others. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated query names to dump (dev iteration);
    // the driver's 2-arg call dumps everything
    val (sfDir, outDir, only) = args match {
      case Array(s, o)    => (s, o, None)
      case Array(s, o, f) => (s, o, Some(f.split(",").toSet))
      case _ =>
        System.err.println("usage: graft.Verify <sfDir> <outDir> [q_a,q_b,...]")
        sys.exit(2)
    }
    val spark = GraftSession.local()
    val failed = run(spark, sfDir, outDir, only)
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[verify] ${failed.size} queries failed: ${failed.mkString(",")}")
      sys.exit(1)
    }
  }

  /** Dump every registered query (or those named in `only`) on `spark`
    * under `outDir`, write `oracle_sql.json`, and return the names of the
    * queries that failed. A failure is logged and the dump goes on; a fatal
    * JVM error (OOM, StackOverflow) aborts the run, like Bench.
    */
  def run(spark: SparkSession, sfDir: String, outDir: String,
          only: Option[Set[String]]): Seq[String] = {
    // a typo'd filter must fail loudly, not leave stale dumps looking green
    only.foreach { f =>
      val unknown = f -- SparkEntry.queries.keySet
      require(unknown.isEmpty, s"unknown query names: ${unknown.mkString(",")}")
    }
    new java.io.File(outDir).mkdirs()
    val failed = SparkEntry.queries.toSeq
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .flatMap { case (name, fn) =>
        val ok =
          try { fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name"); true }
          catch { case NonFatal(e) =>
            System.err.println(s"[verify] $name failed: ${e.getMessage}")
            false
          }
        // drop any blocks a query persist()ed so cached data never accumulates
        // across the 80+ queries in one session; localCheckpoint blocks are NOT
        // in the cache manager, so unpersist every persistent RDD too (same
        // guard as Bench.time — iterative queries otherwise pin blocks until
        // late queries pay GC instead of compute)
        spark.catalog.clearCache()
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
        if (ok) None else Some(name)
      }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    failed
  }
}
