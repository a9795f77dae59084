package graft.functions

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Native intersection COUNT over two SORTED element-distinct long
  * arrays — a single sorted-merge pass, zero allocation.
  *
  * Why: the composed spelling `size(array_intersect(a, b))` builds a
  * hash table over one side AND materializes the intersection array,
  * only for `size` to throw the elements away. For pre-sorted inputs
  * (g6's `sort_array(collect_list(...))` adjacency lists, the sorted
  * gram sets of the containment join) the count is a two-pointer
  * merge: no table, no output array, no steady-state allocation at
  * all. Measured on g6_triangles at sf0.1 (1.2M edge closures over
  * ~120-element neighborhoods) this is the difference between the
  * closure being allocation-bound and being a pure compare loop.
  *
  * Value parity with the composed form (what the DuckDB oracles
  * hash-compare): for element-distinct inputs the count is
  * identical, in any order — sortedness only UNLOCKS the merge; the
  * result is order-independent. CONTRACT: both inputs sorted
  * ascending and element-distinct; violations undercount silently,
  * so every call site builds via sort_array over distinct elements.
  *
  * Null if either side is null.
  */
case class IntersectCount(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType): Boolean = t match {
      case ArrayType(LongType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else
      TypeCheckResult.TypeCheckFailure(
        s"intersect_count expects (array<bigint>, array<bigint>), " +
          s"got (${left.dataType.simpleString}, " +
          s"${right.dataType.simpleString})")
  }

  override def dataType: DataType = LongType

  override def prettyName: String = "intersect_count"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    IntersectCount.count(a.asInstanceOf[ArrayData],
      b.asInstanceOf[ArrayData])

  // One static call from generated code: stays inside the
  // WholeStageCodegen span, no boxed lambdas.
  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.IntersectCount.count($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object IntersectCount {

  /** Called from generated code — a branch-light two-pointer merge. */
  def count(a: ArrayData, b: ArrayData): Long = {
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0
    var j = 0
    var c = 0L
    while (i < na && j < nb) {
      val x = a.getLong(i)
      val y = b.getLong(j)
      if (x < y) i += 1
      else if (x > y) j += 1
      else { c += 1; i += 1; j += 1 }
    }
    c
  }

  val ident: FunctionIdentifier = FunctionIdentifier("intersect_count")

  val info: ExpressionInfo = new ExpressionInfo(
    classOf[IntersectCount].getName, "intersect_count")

  val builder: Seq[Expression] => Expression = { exprs =>
    require(exprs.length == 2,
      s"intersect_count expects 2 arguments, got ${exprs.length}")
    IntersectCount(exprs.head, exprs(1))
  }
}
