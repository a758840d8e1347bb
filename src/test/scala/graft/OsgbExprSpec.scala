package graft

import graft.functions.Osgb
import org.apache.spark.sql.functions._

/** The native graft_osgb expression must reproduce the shared-SQL
  * reprojection chain exactly — same doubles, not just same rounded output —
  * since both execute the identical java.lang.Math op sequence.
  */
class OsgbExprSpec extends SparkSpec {

  test("graft_osgb equals the layered shared-SQL chain bit-for-bit") {
    import spark.implicits._
    val base = Seq(
      (1L, 325000.0, 673000.0), (2L, 0.0, 0.0), (3L, 699999.0, 999999.0),
      (4L, 400000.0, 100000.0), (5L, 530000.0, 180000.0))
      .toDF("k", "easting", "northing")
    base.createOrReplaceTempView("osgb_spec_base")
    // the chain is ~50 nested projection layers (functions/Osgb.scala); the
    // default 100 analyzer iterations are too few to resolve it
    val iters = "spark.sql.analyzer.maxIterations"
    val prevIters = spark.conf.getOption(iters)
    spark.conf.set(iters, "1000")
    // 15 decimals ≈ full double precision for values of this magnitude
    val sqlChain =
      try spark.sql(Osgb.reprojectSql("osgb_spec_base", Seq("k"), 15))
        .select("k", "lat", "lon").collect()
        .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).toSeq
      finally prevIters.fold(spark.conf.unset(iters))(spark.conf.set(iters, _))
    val native = base.select(
      col("k"),
      round(element_at(expr("graft_osgb(easting, northing)"), 1), 15).as("lat"),
      round(element_at(expr("graft_osgb(easting, northing)"), 2), 15).as("lon"))
      .orderBy("k").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).toSeq
    assert(native == sqlChain)
    // sanity: central London easting/northing lands near 51.5N, -0.1E
    val (_, lat, lon) = native.find(_._1 == 5L).get
    assert(math.abs(lat - 51.5) < 0.2 && math.abs(lon + 0.1) < 0.3)
  }
}
