package graft

import org.apache.spark.sql.functions._

/** graft_sorted_isect must equal size(array_intersect(...)) on its contract
  * input (sorted ascending, distinct elements) for ANY such pair — property
  * tested — run inside whole-stage codegen, and drive the triangle count to
  * the same answer as the array_intersect form.
  */
class SortedIntersectSpec extends SparkSpec {

  test("property: equals array_intersect size on sorted distinct arrays") {
    import org.scalacheck.{Prop, Test => SCTest}
    import spark.implicits._
    // batch the generated pairs into ONE DataFrame per sample for speed
    val prop = Prop.forAll { (pairs: List[(Set[Long], Set[Long])]) =>
      pairs.isEmpty || {
        val df = pairs.map { case (a0, b0) =>
          (a0.toSeq.sorted, b0.toSeq.sorted, a0.intersect(b0).size)
        }.toDF("nu", "nv", "expect")
          .select(expr("graft_sorted_isect(nu, nv)").as("got"),
            size(array_intersect(col("nu"), col("nv"))).as("want"), col("expect"))
        df.collect().forall(r => r.getInt(0) == r.getInt(1) && r.getInt(0) == r.getInt(2))
      }
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(30), prop)
    assert(res.passed, res.status.toString)
  }

  test("null inputs yield null, empty arrays yield 0") {
    import spark.implicits._
    val df = Seq((Some(Seq(1L, 2L)), None: Option[Seq[Long]]),
      (Some(Seq.empty[Long]), Some(Seq(1L, 2L))))
      .toDF("nu", "nv")
      .select(expr("graft_sorted_isect(nu, nv)").as("c"))
    val rows = df.collect()
    assert(rows(0).isNullAt(0))
    assert(rows(1).getInt(0) == 0)
  }

  test("runs inside whole-stage codegen in the triangle plan") {
    val df = SparkEntry.queries("q_triangles")(spark, sf("sf0.001"))
    // collect(), not head(): head()'s limit short-circuit leaves AQE stages
    // unfinalized and the plan string without codegen annotations
    val n = df.collect().head.getLong(0)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("graft_sorted_isect"), s"native intersect not in plan:\n$plan")
    // the projection evaluating it must carry a codegen stage marker (the
    // adaptive dump prints the pre-codegen copy too — any starred line counts)
    assert(plan.split("\n").exists(l => l.contains("graft_sorted_isect") &&
      """\*\(\d+\)""".r.findFirstIn(l).nonEmpty),
      s"sorted intersect fell out of whole-stage codegen:\n$plan")
    // and the count agrees with the array_intersect form on the same edges
    val spark2 = spark
    import spark2.implicits._
    val li = Tables.lineitem(spark, sf("sf0.001"))
    val e0 = li.groupBy(col("l_orderkey"))
      .agg(sort_array(collect_set(col("l_partkey"))).as("ps"))
      .select(explode(expr(
        "flatten(transform(ps, (x, i) -> transform(slice(ps, i + 2, size(ps)), y -> struct(x AS u, y AS v))))")).as("p"))
      .select(col("p.u"), col("p.v")).distinct()
    val adj = graft.operators.Graph.degreeOrientedEdges(e0)
      .groupBy(col("u")).agg(sort_array(collect_list(col("v"))).as("ns"))
    val builtin = adj.select(col("ns").as("nu"), explode(col("ns")).as("v"))
      .join(adj.select(col("u").as("a2"), col("ns").as("nv")), col("v") === col("a2"))
      .select(size(array_intersect(col("nu"), col("nv"))).as("t"))
      .agg(coalesce(sum(col("t")), lit(0L))).head().getLong(0)
    assert(n == builtin)
  }
}
