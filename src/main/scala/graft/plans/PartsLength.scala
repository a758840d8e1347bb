package graft.plans

import graft.functions.PartsMath
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native multi-part length: `graft_parts_length(parts)` → the planar length
  * of a geometry in the GeoJSON connector's `parts` form
  * (array<array<array<double>>>), summed part by part.
  *
  * One node with one static call into [[PartsMath.length]] per row, in place
  * of a nested-`aggregate` SQL string that was parsed and analysed on every
  * build. The kernel runs the fold's double ops in the fold's order, so the
  * lengths are bit-identical to it.
  */
case class PartsLength(child: Expression) extends UnaryExpression {

  override def dataType: DataType = DoubleType
  // a null point nulls the length of a non-null `parts`
  override def nullable: Boolean = true
  override def prettyName: String = "graft_parts_length"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(ArrayType(ArrayType(DoubleType, _), _), _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<array<array<double>>> parts, got ${other.simpleString}")
  }

  override def nullSafeEval(parts: Any): Any = PartsMath.length(parts.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, parts => {
      val len = ctx.freshName("len")
      s"""java.lang.Double $len = graft.functions.PartsMath.length($parts);
         |if ($len == null) { ${ev.isNull} = true; } else { ${ev.value} = $len; }""".stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
