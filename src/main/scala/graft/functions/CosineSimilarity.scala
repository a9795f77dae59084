package graft.functions

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native codegen'd cosine similarity over two double arrays.
  *
  * Why a custom Catalyst Expression (SURVEY §7.4's "first real
  * candidate for custom Catalyst work"): the composable alternative —
  * `aggregate(zip_with(a, b, (x,y) -> x*y), 0D, (acc,x) -> acc+x)` —
  * runs on Spark's INTERPRETED higher-order-function path: one
  * closure dispatch + boxed java.lang.Double per element, and it
  * breaks the surrounding WholeStageCodegen span. This expression
  * compiles to a tight primitive loop inside the generated code, so
  * a 64-dim cosine is ~64 fused multiply-adds instead of ~192 boxed
  * lambda calls.
  *
  * Semantics: null if either side is null (nullSafeEval contract) OR
  * if the lengths differ — a prefix-truncated cosine is a
  * plausible-looking wrong answer, and the function is registered
  * session-wide where any SQL caller can reach it, so the length
  * contract is enforced, not assumed. NaN when either vector has
  * zero norm (same as the composed expression).
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType): Boolean = t match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else
      TypeCheckResult.TypeCheckFailure(
        s"cosine_sim expects (array<double>, array<double>), got " +
          s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  override def dataType: DataType = DoubleType

  // nullable regardless of child nullability: mismatched lengths
  // yield null (the codegen writes ev.isNull, which must be a real
  // variable, not the constant `false` of a non-nullable expr).
  override def nullable: Boolean = true

  override def prettyName: String = "cosine_sim"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    if (x.numElements() != y.numElements()) return null
    val n = x.numElements()
    var dot = 0.0
    var nx = 0.0
    var ny = 0.0
    var i = 0
    while (i < n) {
      val xv = x.getDouble(i)
      val yv = y.getDouble(i)
      dot += xv * yv
      nx += xv * xv
      ny += yv * yv
      i += 1
    }
    dot / (math.sqrt(nx) * math.sqrt(ny))
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val nx = ctx.freshName("nx")
      val ny = ctx.freshName("ny")
      val xv = ctx.freshName("xv")
      val yv = ctx.freshName("yv")
      s"""
         |if ($a.numElements() != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  int $n = $a.numElements();
         |  double $dot = 0.0, $nx = 0.0, $ny = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    double $xv = $a.getDouble($i);
         |    double $yv = $b.getDouble($i);
         |    $dot += $xv * $yv;
         |    $nx += $xv * $xv;
         |    $ny += $yv * $yv;
         |  }
         |  ${ev.value} = $dot /
         |    (java.lang.Math.sqrt($nx) * java.lang.Math.sqrt($ny));
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** `cosine_sim`'s registration spec. [[GraftFunctions.install]]
  * registers it in each session that enters graft; nothing else
  * registers it. */
object CosineSimilarity {
  val ident: FunctionIdentifier = FunctionIdentifier("cosine_sim")

  val info: ExpressionInfo = new ExpressionInfo(
    classOf[CosineSimilarity].getName, "cosine_sim")

  val builder: Seq[Expression] => Expression = { exprs =>
    require(exprs.length == 2,
      s"cosine_sim expects 2 arguments, got ${exprs.length}")
    CosineSimilarity(exprs.head, exprs(1))
  }
}
