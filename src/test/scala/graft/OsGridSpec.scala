package graft

import graft.functions.{Native, OsGrid}
import org.apache.spark.sql.functions._

class OsGridSpec extends SparkSpec {

  // Known value: Edinburgh Castle-ish, e=325940 n=673060 → NT 25940 73060
  test("gridRefScala matches known references") {
    assert(OsGrid.gridRefScala(325940, 673060, 10) == "NT 25940 73060")
    assert(OsGrid.gridRefScala(325940, 673060, 8) == "NT 2594 7306")
    assert(OsGrid.gridRefScala(325940, 673060, 6) == "NT259730")
    // Ordnance Survey's own worked example (A Guide to Coordinate Systems in
    // Great Britain): E 651409 N 313177 → TG 51409 13177
    assert(OsGrid.gridRefScala(651409, 313177, 10) == "TG 51409 13177")
    // Ben Nevis summit, E 216600 N 771200 → NN1667 7120 area
    assert(OsGrid.gridRefScala(216600, 771200, 6) == "NN166712")
    // out-of-range → empty, as in the reference
    assert(OsGrid.gridRefScala(800000, 0, 10) == "")
    assert(OsGrid.gridRefScala(-1, 0, 10) == "")
  }

  test("gridRef column expression agrees with the Scala twin") {
    import spark.implicits._
    val pts = for { e <- 0 until 700000 by 97013; n <- 0 until 1300000 by 104729 } yield (e.toLong, n.toLong)
    val df = pts.toDF("e", "n")
    val got = df.select(
      col("e"), col("n"),
      Native.osgrid(col("e"), col("n"), 6).as("g6"),
      Native.osgrid(col("e"), col("n"), 8).as("g8"),
      Native.osgrid(col("e"), col("n"), 10).as("g10")
    ).collect()
    got.foreach { r =>
      val (e, n) = (r.getLong(0).toDouble, r.getLong(1).toDouble)
      assert(r.getString(2) == OsGrid.gridRefScala(e, n, 6), s"p6 at ($e,$n)")
      assert(r.getString(3) == OsGrid.gridRefScala(e, n, 8), s"p8 at ($e,$n)")
      assert(r.getString(4) == OsGrid.gridRefScala(e, n, 10), s"p10 at ($e,$n)")
    }
  }

  test("gridRefScala is total on the valid domain (seeded sweep)") {
    val rnd = new scala.util.Random(42)
    (1 to 2000).foreach { _ =>
      val e = rnd.nextInt(700000).toDouble
      val n = rnd.nextInt(1000000).toDouble
      val g = OsGrid.gridRefScala(e, n, 10)
      assert(g.length == 14 && g.take(2).forall(c => c.isLetter && c != 'I'), s"at ($e,$n): '$g'")
    }
  }
}
