package graft.plans

import graft.functions.OsgbMath
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native EPSG:27700 → EPSG:4326 reprojection: `graft_osgb(easting,
  * northing)` → `array<double>(lat_deg, lon_deg)`.
  *
  * The shared-SQL chain (functions/Osgb.scala) stays as the oracle's text
  * and OsgbExprSpec's reference; this expression runs the same double-op
  * sequence as one fused JVM call inside whole-stage codegen — ~50
  * projection layers collapse into a single static invocation, the hot-path
  * form for reprojecting billions of coordinates.
  */
case class OsgbToWgs84(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "graft_osgb"

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType == DoubleType)
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two double arguments, got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }

  override def nullSafeEval(e: Any, n: Any): Any =
    OsgbMath.latlon(e.asInstanceOf[Double], n.asInstanceOf[Double])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (e, n) => s"graft.functions.OsgbMath.latlon($e, $n)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
