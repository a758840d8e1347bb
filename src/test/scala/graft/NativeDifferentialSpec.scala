package graft

import graft.functions.{Native, OsGrid}
import java.nio.file.Files
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

/** The native route expressions against independent references, in both
  * codegen modes: `CODEGEN_ONLY` runs the generated Java (`doGenCode`, inside
  * whole-stage codegen) and `NO_CODEGEN` the interpreted `eval`, with
  * whole-stage codegen off. Inputs go through parquet so the optimizer
  * cannot fold the expressions away.
  *
  * `graft_osgrid` is checked against [[OsGrid.gridRefScala]] and
  * `graft_parts_length` against a plain-Scala `StrictMath` fold. Doubles are
  * compared by their bits.
  */
class NativeDifferentialSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private val Modes = Seq("CODEGEN_ONLY" -> true, "NO_CODEGEN" -> false)

  /** `df` written to parquet and read back. */
  private def parquet(df: DataFrame): DataFrame = {
    val dir = Files.createTempDirectory("native-diff").resolve("t").toString
    df.write.parquet(dir)
    spark.read.parquet(dir)
  }

  /** The rows of `cols` over `in` under each codegen mode, after checking
    * that the mode took: generated code runs inside a whole-stage stage,
    * interpreted code runs outside one. */
  private def inBothModes(in: DataFrame, cols: Column*): Seq[(String, Array[Row])] =
    Modes.map { case (mode, wholeStage) =>
      val confs = Map("spark.sql.codegen.factoryMode" -> mode,
        "spark.sql.codegen.wholeStage" -> wholeStage.toString)
      val prev = confs.keys.map(k => k -> spark.conf.getOption(k)).toMap
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      try {
        val df = in.select(cols: _*)
        val rows = df.collect()
        val stages = collect(df.queryExecution.executedPlan) { case w: WholeStageCodegenExec => w }
        assert(stages.nonEmpty == wholeStage, s"$mode: whole-stage codegen stages $stages")
        mode -> rows
      } finally prev.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
    }

  private def bits(v: Any): Option[Long] =
    Option(v).map(d => java.lang.Double.doubleToRawLongBits(d.asInstanceOf[Double]))

  // ---- graft_osgrid ------------------------------------------------------

  private val Precisions = Seq(6, 8, 10)

  /** Edge values: NaN, ±Inf, ±0, negatives, the 700 km / 1,000 km / 1,300 km
    * edges, non-integer metres, known references; then a seeded sweep past
    * every edge in whole and quarter metres. */
  private val gridPoints: Seq[(Double, Double)] = {
    val edges = Seq(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity, -0.0, 0.0,
      -0.25, -1.0, -100000.5, 99999.75, 325940.5, 651409.25, 699999.75, 700000.0, 800000.0,
      999999.5, 1000000.0, 1050000.25, 1050050.75, 1299999.75, 1300000.0, 1e18, -1e18)
    val rnd = new scala.util.Random(7)
    val sweep = Seq.fill(400) {
      val q = if (rnd.nextBoolean()) 1.0 else 0.25
      (math.floor((rnd.nextDouble() * 900000 - 100000) / q) * q,
        math.floor((rnd.nextDouble() * 1500000 - 100000) / q) * q)
    }
    (for (e <- edges; n <- edges) yield (e, n)) ++ sweep
  }

  private def checkGrid(in: DataFrame, e: Column, n: Column, want: Row => Int => String): Unit = {
    val cols = col("id") +: Precisions.map(p => Native.osgrid(e, n, p).as(s"g$p"))
    inBothModes(in, cols: _*).foreach { case (mode, rows) =>
      assert(rows.length == in.count())
      rows.foreach { r =>
        Precisions.zipWithIndex.foreach { case (p, i) =>
          assert(r.getString(i + 1) == want(r)(p), s"$mode p$p at id ${r.getLong(0)}")
        }
      }
    }
  }

  test("graft_osgrid matches gridRefScala over double columns in both codegen modes") {
    val rows = gridPoints.zipWithIndex.map { case ((e, n), i) =>
      Row(i.toLong, Double.box(e), Double.box(n)) } ++
      Seq(Row(-1L, null, Double.box(673060.0)), Row(-2L, Double.box(325940.0), null), Row(-3L, null, null))
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("e", DoubleType), StructField("n", DoubleType)))
    val in = parquet(spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema))
    val byId = rows.map(r => r.getLong(0) -> r).toMap
    checkGrid(in, col("e"), col("n"), r => p => {
      val src = byId(r.getLong(0))
      if (src.isNullAt(1) || src.isNullAt(2)) null
      else OsGrid.gridRefScala(src.getDouble(1), src.getDouble(2), p)
    })
  }

  test("graft_osgrid matches gridRefScala over bigint columns in both codegen modes") {
    val longs = Seq(Long.MinValue, -1L, 0L, 99999L, 100000L, 325940L, 673060L, 699999L, 700000L,
      999999L, 1000000L, 1050050L, 1299999L, 1300000L, Long.MaxValue)
    val rows = (for (e <- longs; n <- longs) yield (e, n)).zipWithIndex.map { case ((e, n), i) =>
      Row(i.toLong, Long.box(e), Long.box(n)) } ++
      Seq(Row(-1L, null, Long.box(673060L)), Row(-2L, Long.box(325940L), null))
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("e", LongType), StructField("n", LongType)))
    val in = parquet(spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema))
    val byId = rows.map(r => r.getLong(0) -> r).toMap
    checkGrid(in, col("e"), col("n"), r => p => {
      val src = byId(r.getLong(0))
      if (src.isNullAt(1) || src.isNullAt(2)) null
      else OsGrid.gridRefScala(src.getLong(1).toDouble, src.getLong(2).toDouble, p)
    })
  }

  // ---- graft_parts_length ------------------------------------------------

  private type Parts = Seq[Seq[Seq[java.lang.Double]]]

  /** The fold in plain Scala: each part sums its segments into its own
    * accumulator, the parts are added in order; parts with fewer than 2
    * points add 0; a null part adds 0 (the fold's `size(null)` is -1 in a
    * non-ANSI session); a null point or a missing or null x/y nulls the
    * length. */
  private def foldLength(parts: Parts): Option[Double] =
    Option(parts).flatMap(_.foldLeft(Option(0.0d)) { (total, part) =>
      if (part == null || part.size < 2) total.map(_ + 0.0d)
      else {
        val xy = part.map(p => Option(p).filter(_.size >= 2).flatMap(q => for {
          x <- Option(q(0)); y <- Option(q(1)) } yield (x.doubleValue, y.doubleValue)))
        val len = xy.sliding(2).foldLeft(Option(0.0d)) { (acc, seg) =>
          for (s <- acc; (x0, y0) <- seg(0); (x1, y1) <- seg(1))
            yield s + java.lang.Math.sqrt(java.lang.StrictMath.pow(x1 - x0, 2.0d) +
              java.lang.StrictMath.pow(y1 - y0, 2.0d))
        }
        for (t <- total; l <- len) yield t + l
      }
    })

  private def pt(xs: java.lang.Double*): Seq[java.lang.Double] = xs

  private val partsCases: Seq[Parts] = {
    val rnd = new scala.util.Random(11)
    def coord = java.lang.Double.valueOf((rnd.nextDouble() - 0.25) * 1e6)
    val random = Seq.fill(60) {
      Seq.fill(1 + rnd.nextInt(4))(Seq.fill(rnd.nextInt(7))(
        if (rnd.nextInt(9) == 0) pt(coord, coord, coord) else pt(coord, coord)))
    }
    Seq[Parts](
      null, Seq(), Seq(Seq()), Seq(Seq(pt(1.0, 2.0))), Seq(null),
      Seq(Seq(pt(0.0, 0.0), pt(3.0, 4.0)), null, Seq(pt(0.0, 0.0), pt(6.0, 8.0))),
      Seq(Seq(pt(0.0, 0.0), null, pt(3.0, 4.0))), Seq(Seq(null)), Seq(Seq(null, null)),
      Seq(Seq(pt(0.0, 0.0, 5.0), pt(3.0, 4.0, 100.0))), Seq(Seq(pt(1.0), pt(2.0))),
      Seq(Seq(pt(null, 1.0), pt(2.0, 3.0))), Seq(Seq(pt(), pt())),
      Seq(Seq(pt(0.0, 0.0), pt(Double.NaN, 1.0)), Seq(pt(0.0, 0.0), pt(1.0, 1.0))),
      Seq(Seq(pt(0.0, 0.0), pt(Double.PositiveInfinity, 1.0))),
      Seq(Seq(pt(0.1, 0.2), pt(0.3, 0.7), pt(1e-300, 1e300)), Seq(), Seq(pt(5.5, 6.5)),
        Seq(pt(-0.0, -0.0), pt(0.0, 0.0)))) ++ random
  }

  test("graft_parts_length matches a plain-Scala StrictMath fold bit for bit in both codegen modes") {
    val rows = partsCases.zipWithIndex.map { case (p, i) => Row(i.toLong, p) }
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("parts", ArrayType(ArrayType(ArrayType(DoubleType))))))
    val in = parquet(spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema))
    inBothModes(in, col("id"), Native.partsLength(col("parts")).as("len")).foreach { case (mode, got) =>
      assert(got.length == partsCases.length)
      got.foreach { r =>
        val i = r.getLong(0).toInt
        assert(bits(r.get(1)) == foldLength(partsCases(i)).map(java.lang.Double.doubleToRawLongBits),
          s"$mode case $i ${partsCases(i)}: got ${r.get(1)}, fold ${foldLength(partsCases(i))}")
      }
    }
  }
}
