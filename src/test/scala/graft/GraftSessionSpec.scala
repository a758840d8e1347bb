package graft

import org.apache.spark.SparkConf
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Add, BoundReference, Literal, UnsafeProjection}
import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.types.LongType

/** The factory's contract, asserted on the shared test session it built. */
class GraftSessionSpec extends SparkSpec {

  test("GraftExtensions is installed: graft_osgb resolves") {
    val row = spark.range(1)
      .select(expr("graft_osgb(CAST(530000 AS DOUBLE), CAST(180000 AS DOUBLE))").as("ll"))
      .head()
    assert(row.getSeq[Double](0).size == 2)
  }

  test("shuffle partitions equal the cpus passed, on a local[cpus] master") {
    assert(spark.conf.get("spark.sql.shuffle.partitions") == SparkSpec.cpus.toString)
    assert(spark.sparkContext.master == s"local[${SparkSpec.cpus}]")
  }

  test("heartbeat and network timeout are set for GC-tolerant local runs") {
    val conf = spark.sparkContext.getConf
    assert(conf.get("spark.executor.heartbeatInterval") == "60s")
    assert(conf.get("spark.network.timeout") == "1200s")
    assert(conf.get("spark.ui.enabled") == "false")
  }

  test("tune's pinned confs are present") {
    assert(spark.conf.get("spark.sql.ansi.enabled") == "false")
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.files.openCostInBytes").toLong == 131072L)
  }

  test("a second local call returns the active session, not a new context") {
    val again = GraftSession.local(SparkSpec.cpus)
    assert(again eq SparkSession.active)
    assert(again.sparkContext eq spark.sparkContext)
    assert(again.conf.get("spark.sql.shuffle.partitions") == SparkSpec.cpus.toString)
  }

  test("the codegen class cache holds a working set larger than Spark's default 100") {
    assert(spark.sparkContext.getConf.get("spark.sql.codegen.cache.maxEntries") == "1000")
    // 150 distinct sources: the literal is inlined into each generated class
    def compileRound(): Long = {
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      (0 until 150).foreach(i =>
        UnsafeProjection.create(Seq(Add(BoundReference(0, LongType, nullable = false), Literal(i.toLong)))))
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    }
    compileRound()
    // a 100-entry LRU cycling through 150 classes misses on every lookup
    assert(compileRound() == 0)
  }

  test("sizing the codegen cache leaves a value that is already set untouched") {
    val set = new SparkConf(false).set("spark.sql.codegen.cache.maxEntries", "64")
    GraftExtensions.sizeCodegenCache(set)
    assert(set.get("spark.sql.codegen.cache.maxEntries") == "64")
    val unset = new SparkConf(false)
    GraftExtensions.sizeCodegenCache(unset)
    assert(unset.get("spark.sql.codegen.cache.maxEntries") == "1000")
  }
}
