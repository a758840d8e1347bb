package graft

import org.apache.spark.sql.functions.expr

/** Every registered `graft_*` builder rejects a wrong argument count with a
  * message naming its signature, instead of indexing past its children. */
class GraftExtensionsSpec extends SparkSpec {

  private val arities = Map(
    "graft_cosine" -> 2, "graft_sorted_isect" -> 2, "graft_topk" -> 3,
    "graft_minhash" -> 2, "graft_bpe" -> 2, "graft_shingle_hashes" -> 2,
    "graft_simhash" -> 1, "graft_simhash64" -> 1, "graft_bloom" -> 3,
    "graft_might_contain" -> 2, "graft_morton" -> 2, "graft_osgb" -> 2,
    "graft_osgrid" -> 3, "graft_parts_length" -> 1)

  test("every graft_* function rejects a wrong arity, naming its signature") {
    val registered = spark.catalog.listFunctions().collect().map(_.name)
      .filter(_.startsWith("graft_")).toSet
    assert(registered == arities.keySet)
    for ((name, arity) <- arities; n <- Seq(arity - 1, arity + 1)) {
      val args = Seq.fill(n)("1").mkString(", ")
      val e = intercept[IllegalArgumentException] {
        spark.range(1).select(expr(s"$name($args)")).collect()
      }
      val params = ('a' until ('a' + arity).toChar).mkString(", ")
      assert(e.getMessage.startsWith(s"$name($params) takes $arity argument"), e.getMessage)
      assert(e.getMessage.endsWith(s"got $n"), e.getMessage)
    }
  }
}
