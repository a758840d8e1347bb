package graft.plans

import graft.functions.OsGrid
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, DoubleType, StringType}

/** Native OS grid reference: `graft_osgrid(easting, northing, precision)` →
  * "NT 25940 73060" at precision 10 (8 → "NT 2594 7306", 6 → "NT259730"),
  * "" outside the grid, null for a null input.
  *
  * One node with one static call into [[OsGrid.gridRef]] per row. The
  * composed `when`/`concat`/`floor` tree it replaced repeated its 100 km
  * subtrees in every branch, and analysing it took most of the route
  * pipeline's set-up. Numeric inputs are cast to double, as the composed
  * tree's division cast them.
  */
case class OsGridRef(left: Expression, right: Expression, precision: Int)
    extends BinaryExpression with ImplicitCastInputTypes {
  require(Set(6, 8, 10)(precision), s"graft_osgrid: precision must be 6, 8 or 10, got $precision")

  override def inputTypes = Seq(DoubleType, DoubleType)
  override def dataType: DataType = StringType
  override def prettyName: String = "graft_osgrid"

  override def nullSafeEval(e: Any, n: Any): Any =
    OsGrid.gridRef(e.asInstanceOf[Double], n.asInstanceOf[Double], precision)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (e, n) => s"graft.functions.OsGrid.gridRef($e, $n, $precision)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
