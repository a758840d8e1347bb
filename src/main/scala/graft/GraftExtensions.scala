package graft

import graft.plans.{AsOfJoin, BloomAgg, BpeEncode, MightContain, MinhashSig, OsGridRef, OsgbToWgs84, PartsLength, ShingleHashes, SimhashSig, SimhashSig64, SortedIntersectCount, TopKAgg, VectorCosine}
import org.apache.spark.{SparkConf, SparkEnv}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.SparkSessionExtensionsProvider
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

/** Session extensions: registers the engine's native expressions under their
  * `graft_*` names so SQL and `expr(...)` can reach them, and installs the
  * native as-of join's rules and strategy. Operators build the expressions
  * directly (functions/Native), so of the registered queries only
  * `q_asof_native` needs the extensions. `GraftSession.local` is the way to
  * get a session with them installed; any other session can add
  * `.config("spark.sql.extensions", "graft.GraftExtensions")` to its builder.
  *
  * It also sizes Spark's generated-class cache ([[GraftExtensions.sizeCodegenCache]]):
  * `apply` runs inside `SparkSession.Builder.getOrCreate` after the
  * SparkContext exists and before the session and its SQLConf are built, so
  * the value set on the context's conf reaches the first session.
  */
class GraftExtensions extends SparkSessionExtensionsProvider {
  override def apply(ext: SparkSessionExtensions): Unit = {
    Option(SparkEnv.get).foreach(env => GraftExtensions.sizeCodegenCache(env.conf))
    // registers `name` with a builder that rejects a wrong argument count by
    // naming the signature, before `build` indexes into the children
    def fn(name: String, className: String, arity: Int)(build: Seq[Expression] => Expression): Unit =
      ext.injectFunction((new FunctionIdentifier(name), new ExpressionInfo(className, name),
        (children: Seq[Expression]) => {
          if (children.size != arity) {
            val params = ('a' until ('a' + arity).toChar).mkString(", ")
            throw new IllegalArgumentException(
              s"$name($params) takes $arity argument${if (arity == 1) "" else "s"}, got ${children.size}")
          }
          build(children)
        }))
    def intLiteral(e: Expression, what: String): Int = e match {
      case Literal(v: Int, _) => v
      case other => throw new IllegalArgumentException(
        s"$what must be an integer literal, got $other")
    }

    fn("graft_cosine", classOf[VectorCosine].getName, 2)(c => VectorCosine(c(0), c(1)))
    fn("graft_sorted_isect", classOf[SortedIntersectCount].getName, 2)(c =>
      SortedIntersectCount(c(0), c(1)))
    fn("graft_topk", classOf[TopKAgg].getName, 3)(c =>
      TopKAgg(c(0), c(1), c(2)).toAggregateExpression())
    fn("graft_minhash", classOf[MinhashSig].getName, 2)(c =>
      MinhashSig(c(0), intLiteral(c(1), "graft_minhash(hs, numPerms): numPerms")))
    fn("graft_bpe", classOf[BpeEncode].getName, 2) { c =>
      val mergesExpr = c(1)
      require(mergesExpr.foldable,
        "graft_bpe(text, merges): merges must be a foldable array<string> literal")
      val merges = mergesExpr.eval() match {
        case a: org.apache.spark.sql.catalyst.util.ArrayData =>
          (0 until a.numElements()).map(i => a.getUTF8String(i).toString)
        case other => throw new IllegalArgumentException(
          s"graft_bpe: merges must evaluate to an array, got $other")
      }
      BpeEncode(c(0), merges)
    }
    fn("graft_shingle_hashes", classOf[ShingleHashes].getName, 2)(c =>
      ShingleHashes(c(0), intLiteral(c(1), "graft_shingle_hashes(tokens, n): n")))
    fn("graft_simhash", classOf[SimhashSig].getName, 1)(c => SimhashSig(c(0)))
    fn("graft_simhash64", classOf[SimhashSig64].getName, 1)(c => SimhashSig64(c(0)))
    fn("graft_bloom", classOf[BloomAgg].getName, 3)(c =>
      BloomAgg(c(0), c(1), c(2)).toAggregateExpression())
    fn("graft_might_contain", classOf[MightContain].getName, 2)(c => MightContain(c(0), c(1)))
    fn("graft_morton", "graft.functions.ZOrder", 2) { c =>
      // the ZOrder.spread/morton bit math as a raw catalyst tree (the
      // Column wrapper types are not analyzable from a function builder);
      // codegen's subexpression elimination collapses the duplicated
      // subtrees the magic-number construction repeats
      import org.apache.spark.sql.catalyst.expressions.{BitwiseAnd, BitwiseOr, ShiftLeft}
      def spread(v: Expression): Expression = {
        def step(a: Expression, s: Int, mask: Long): Expression =
          BitwiseAnd(BitwiseOr(a, ShiftLeft(a, Literal(s))), Literal(mask))
        step(step(step(step(v, 8, 16711935L), 4, 252645135L), 2, 858993459L), 1, 1431655765L)
      }
      BitwiseOr(spread(c(0)), ShiftLeft(spread(c(1)), Literal(1)))
    }
    fn("graft_osgb", classOf[OsgbToWgs84].getName, 2)(c => OsgbToWgs84(c(0), c(1)))
    fn("graft_osgrid", classOf[OsGridRef].getName, 3)(c =>
      OsGridRef(c(0), c(1), intLiteral(c(2), "graft_osgrid(e, n, precision): precision")))
    fn("graft_parts_length", classOf[PartsLength].getName, 1)(c => PartsLength(c(0)))
    // whole-operator tier: native as-of join (logical node + pushdown rule +
    // strategy + sort-merge physical operator)
    ext.injectPlannerStrategy(_ => AsOfJoin.AsOfJoinStrategy)
    ext.injectOptimizerRule(_ => AsOfJoin.PushFilterThroughAsOfJoin)
    ext.injectOptimizerRule(_ => AsOfJoin.PruneColumnsThroughAsOfJoin)
  }
}

object GraftExtensions {

  /** Raise Spark's codegen class cache from its default 100 entries to 1000
    * on `conf`, unless the conf already sets it (a user's value wins).
    *
    * Why: a warm pass of re-run queries cycles through more generated
    * classes (whole-stage code, projections, orderings) than 100, and an
    * LRU over a cyclic working set larger than itself misses on every
    * lookup, so each pass recompiled every class. Measured working sets:
    * 160 classes a pass of the benchmark's `interactive` workload, about
    * 155 a `pipelines` pass, 171–197 in a cold pass that also writes. 1000
    * leaves 5x headroom (250 entries in each of the cache's 4 segments).
    *
    * The setting is static: `CodeGenerator` reads it once, at the JVM's
    * first compile, from the SQLConf of the compiling thread's active
    * session. It therefore takes effect only when the first graft session
    * is built before the JVM's first codegen compile and that compile runs
    * on a thread whose active session is that session.
    */
  def sizeCodegenCache(conf: SparkConf): Unit =
    conf.setIfMissing("spark.sql.codegen.cache.maxEntries", "1000")
}
