package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native 32-bit SimHash over a doc's token array: `graft_simhash(tokens)`.
  *
  * The aggregate formulation (Dedup.simhashAggDf, the spec's reference)
  * explodes every token, shuffles the (doc_id, token) pairs to count
  * frequencies, and shuffles again for the 32 per-bit sums — two wide
  * exchanges whose only purpose is per-DOC arithmetic. This expression computes the identical
  * value in one pass over the row's own token array: local frequency counts,
  * the same md5-hex-prefix 32-bit token hash as TextFns.hash32 / the DuckDB
  * oracle, exact integer bit sums, sign test per bit. Signature generation
  * becomes embarrassingly parallel map work — zero shuffles at any scale.
  *
  * Bit-for-bit equal to the aggregate form (SimhashSigSpec enforces it):
  * same tokens (caller passes `split(text, ' ')`), same per-token hash, and
  * the per-bit sums are exact integers, so association order can't matter.
  */
case class SimhashSig(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_simhash"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<string> tokens, got ${other.simpleString}")
  }

  override def nullSafeEval(input: Any): Any =
    SimhashFn.compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    // a single static call keeps the expression inside whole-stage codegen;
    // the token-map loop itself doesn't profit from inlining into Janino
    nullSafeCodeGen(ctx, ev, t =>
      s"${ev.value} = graft.plans.SimhashFn.compute($t);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Native 64-bit SimHash as TWO 32-bit halves: `graft_simhash64(tokens)` →
  * `array<long> [lo, hi]`.
  *
  * Why two halves instead of one 64-bit long: a set bit 63 flips the sign,
  * and every downstream consumer (band extraction by floor/pow division, the
  * DuckDB oracle's `power(2,j)` arithmetic) would need signed-overflow
  * special cases on both engines. Keeping each half in [0, 2^32) makes the
  * band math plain positive arithmetic, identical in Spark and DuckDB.
  *
  * The second hash family is FREE: `lo` bits come from md5 bytes 0–3 (the
  * exact TextFns.hash32 / graft_simhash hash), `hi` bits from bytes 4–7 of
  * the SAME digest (oracle twin: `('0x'||substr(md5(tok),9,8))::BIGINT`) —
  * md5 bytes are independent, so this is a second independent 32-bit
  * function at zero extra hashing cost. Lo therefore equals graft_simhash
  * bit-for-bit (SimhashSigSpec enforces it).
  */
case class SimhashSig64(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_simhash64"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<string> tokens, got ${other.simpleString}")
  }

  override def nullSafeEval(input: Any): Any =
    SimhashFn.compute64(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, t =>
      s"${ev.value} = graft.plans.SimhashFn.compute64($t);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object SimhashFn {
  private val md = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** First 8 md5 hex chars as a long — the JVM twin of TextFns.hash32. */
  private def hash32(t: UTF8String, digest: java.security.MessageDigest): Long = {
    digest.reset()
    val b = digest.digest(t.getBytes)
    ((b(0) & 0xffL) << 24) | ((b(1) & 0xffL) << 16) | ((b(2) & 0xffL) << 8) | (b(3) & 0xffL)
  }

  def compute(tokens: ArrayData): Long = {
    val n = tokens.numElements()
    val counts = new java.util.HashMap[UTF8String, Integer]()
    var i = 0
    while (i < n) {
      if (!tokens.isNullAt(i)) {
        val t = tokens.getUTF8String(i)
        val c = counts.get(t)
        counts.put(t, if (c == null) 1 else c + 1)
      }
      i += 1
    }
    val sums = new Array[Long](32)
    val digest = md.get()
    val it = counts.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val h = hash32(e.getKey, digest)
      val c = e.getValue.toLong
      var j = 0
      while (j < 32) {
        // bit*2-1 ∈ {-1, +1}: same weighting as the aggregate/oracle form
        sums(j) += c * (((h >> j) & 1L) * 2L - 1L)
        j += 1
      }
    }
    var sim = 0L
    var j = 0
    while (j < 32) {
      if (sums(j) > 0L) sim |= 1L << j
      j += 1
    }
    sim
  }

  /** 64-bit variant: [lo, hi], each a non-negative 32-bit value in a long.
    * lo bits weight by md5 bytes 0–3 (== [[compute]]), hi bits by bytes 4–7.
    */
  def compute64(tokens: ArrayData): ArrayData = {
    val n = tokens.numElements()
    val counts = new java.util.HashMap[UTF8String, Integer]()
    var i = 0
    while (i < n) {
      if (!tokens.isNullAt(i)) {
        val t = tokens.getUTF8String(i)
        val c = counts.get(t)
        counts.put(t, if (c == null) 1 else c + 1)
      }
      i += 1
    }
    val lo = new Array[Long](32)
    val hi = new Array[Long](32)
    val digest = md.get()
    val it = counts.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      digest.reset()
      val b = digest.digest(e.getKey.getBytes)
      val hlo = ((b(0) & 0xffL) << 24) | ((b(1) & 0xffL) << 16) |
        ((b(2) & 0xffL) << 8) | (b(3) & 0xffL)
      val hhi = ((b(4) & 0xffL) << 24) | ((b(5) & 0xffL) << 16) |
        ((b(6) & 0xffL) << 8) | (b(7) & 0xffL)
      val c = e.getValue.toLong
      var j = 0
      while (j < 32) {
        lo(j) += c * (((hlo >> j) & 1L) * 2L - 1L)
        hi(j) += c * (((hhi >> j) & 1L) * 2L - 1L)
        j += 1
      }
    }
    var simLo = 0L
    var simHi = 0L
    var j = 0
    while (j < 32) {
      if (lo(j) > 0L) simLo |= 1L << j
      if (hi(j) > 0L) simHi |= 1L << j
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(Array(simLo, simHi))
  }
}
