package graft.plans

import graft.functions.TextFns
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Native MinHash signature over a doc's distinct shingle-hash array:
  * `graft_minhash(hs, numPerms)` = `[ min_h (a_j·h + b_j) mod P | j < numPerms ]`.
  *
  * The built-in formulation is numPerms separate `array_min(transform(...))`
  * subtrees — 32 interpreted lambda folds per row AND a 32-subtree expression
  * forest that the analyzer/optimizer re-walks on every query compile (the
  * dominant cost of the minhash bench line at small scale). This expression
  * is ONE node with full whole-stage codegen: a fused j×h loop over primitive
  * longs, coefficients precomputed once at plan time.
  *
  * The permutation coefficients are derived from md5 exactly as the column
  * form and the DuckDB oracle derive them (TextFns.hashN: aj odd 29-bit, bj
  * 28-bit), and the modulus P is the same prime > 2^32, so every value is
  * bit-identical to the HOF twin (MinhashSigSpec's reference) — swapping
  * implementations never changes a signature.
  */
case class MinhashSig(child: Expression, numPerms: Int) extends UnaryExpression {

  private val P = 4294967311L // prime > 2^32, shared with Dedup

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  // an empty hash set yields null even for a non-null input (array_min
  // semantics) — force a nullable slot so codegen emits a mutable isNull
  override def nullable: Boolean = true
  override def prettyName: String = "graft_minhash"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) if numPerms > 0 => TypeCheckResult.TypeCheckSuccess
    case ArrayType(LongType, _) =>
      TypeCheckResult.TypeCheckFailure(s"$prettyName: numPerms must be positive, got $numPerms")
    case other =>
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires array<bigint> shingle hashes, got ${other.simpleString}")
  }

  /** (a0, b0, a1, b1, ...) — same derivation as Dedup.permCoeffs / the oracle. */
  private lazy val coeffs: Array[Long] =
    (0 until numPerms).flatMap(j =>
      Seq(2L * TextFns.hashN(s"a$j", 7) + 1L, TextFns.hashN(s"b$j", 7))).toArray

  override def nullSafeEval(input: Any): Any = {
    val hs = input.asInstanceOf[ArrayData]
    val n = hs.numElements()
    if (n == 0) return null // empty set has no minimum (array_min semantics)
    val sig = new Array[Long](numPerms)
    var j = 0
    while (j < numPerms) {
      val a = coeffs(2 * j); val b = coeffs(2 * j + 1)
      var min = Long.MaxValue
      var i = 0
      while (i < n) {
        val v = (a * hs.getLong(i) + b) % P
        if (v < min) min = v
        i += 1
      }
      sig(j) = min
      j += 1
    }
    new GenericArrayData(sig)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, hs => {
      val cf = ctx.addReferenceObj("minhashCoeffs", coeffs, "long[]")
      val n = ctx.freshName("n")
      val sig = ctx.freshName("sig")
      val j = ctx.freshName("j")
      val i = ctx.freshName("i")
      val a = ctx.freshName("a")
      val b = ctx.freshName("b")
      val min = ctx.freshName("min")
      val v = ctx.freshName("v")
      s"""
         |int $n = $hs.numElements();
         |if ($n == 0) {
         |  ${ev.isNull} = true;
         |} else {
         |  long[] $sig = new long[$numPerms];
         |  for (int $j = 0; $j < $numPerms; $j++) {
         |    long $a = $cf[2 * $j]; long $b = $cf[2 * $j + 1];
         |    long $min = Long.MAX_VALUE;
         |    for (int $i = 0; $i < $n; $i++) {
         |      long $v = ($a * $hs.getLong($i) + $b) % ${P}L;
         |      if ($v < $min) $min = $v;
         |    }
         |    $sig[$j] = $min;
         |  }
         |  ${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray($sig);
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
