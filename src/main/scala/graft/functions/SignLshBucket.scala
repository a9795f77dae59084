package graft.functions

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType, LongType}

/** Native codegen'd sign-LSH bucket: `signlsh_bucket(e, planes)`
  * projects a double vector onto `planes` deterministic pseudo-random
  * hyperplanes (plane p, dim i → ±1 from `xxhash64(i, p)`'s low bit)
  * and packs the sign pattern into a long — the bucket key the ANN
  * and embedding near-dup queries join on.
  *
  * Why native (same rationale as [[CosineSimilarity]]): the composed
  * spelling is a nested `aggregate(zip_with(...))` over structs —
  * interpreted HOF dispatch with one boxed Double AND one boxed
  * struct per (element, plane) pair, ~dim×planes×3 allocations per
  * row, and it breaks the surrounding WholeStageCodegen span. This
  * compiles to a primitive double[planes] loop with the per-element
  * base hash hoisted (the composed form recomputes the full
  * two-int hash chain per (element, plane)).
  *
  * Bit-equality contract with the composed form (spec-asserted): the
  * accumulation order is element-outer / plane-inner with
  * `acc[p] += x * (±1.0)` — the exact FP op order of
  * `aggregate(zip_with(e,...), ..., (acc, s) -> zip_with(acc, ...))`
  * — and the hash chain is `hashInt(p, hashInt(i, 42))`, Spark's
  * multi-argument `xxhash64(i, p)` seed threading. Sign convention:
  * bit p is set iff the accumulated projection is > 0.
  *
  * Null elements (array slots, when the input type carries
  * containsNull=true): DEFINED as contributing 0.0 to every plane —
  * i.e. a null slot is skipped, identical to a 0.0 value (spec-
  * asserted). This intentionally differs from the composed HOF
  * spelling, whose `zip_with` null-propagates the whole accumulator
  * and lands every null-containing vector in bucket 0; bit-equality
  * with the composed form is therefore guaranteed only for null-free
  * vectors.
  */
case class SignLshBucket(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val vecOk = left.dataType match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (!vecOk)
      TypeCheckResult.TypeCheckFailure(
        s"signlsh_bucket expects (array<double>, int), got " +
          s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
    else if (right.dataType != IntegerType || !right.foldable)
      TypeCheckResult.TypeCheckFailure(
        "signlsh_bucket: planes must be an integer literal")
    else {
      val p = right.eval()
      if (p == null || p.asInstanceOf[Int] < 1 || p.asInstanceOf[Int] > 62)
        TypeCheckResult.TypeCheckFailure(
          s"signlsh_bucket: planes must be in [1, 62], got $p")
      else TypeCheckResult.TypeCheckSuccess
    }
  }

  override def dataType: DataType = LongType

  override def prettyName: String = "signlsh_bucket"

  override protected def nullSafeEval(v: Any, p: Any): Any = {
    val x = v.asInstanceOf[ArrayData]
    val planes = p.asInstanceOf[Int]
    val acc = new Array[Double](planes)
    val n = x.numElements()
    var i = 0
    while (i < n) {
      if (!x.isNullAt(i)) {
        val xv = x.getDouble(i)
        val h1 = XXH64.hashInt(i, 42L)
        var b = 0
        while (b < planes) {
          val sign = if ((XXH64.hashInt(b, h1) & 1L) == 1L) 1.0 else -1.0
          acc(b) += xv * sign
          b += 1
        }
      }
      i += 1
    }
    var bucket = 0L
    var b = 0
    while (b < planes) {
      if (acc(b) > 0.0) bucket |= (1L << b)
      b += 1
    }
    bucket
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, p) => {
      val xxh = classOf[XXH64].getName
      val acc = ctx.freshName("acc")
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val b = ctx.freshName("b")
      val xv = ctx.freshName("xv")
      val h1 = ctx.freshName("h1")
      val bucket = ctx.freshName("bucket")
      s"""
         |double[] $acc = new double[$p];
         |int $n = $a.numElements();
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($a.isNullAt($i)) continue;
         |  double $xv = $a.getDouble($i);
         |  long $h1 = $xxh.hashInt($i, 42L);
         |  for (int $b = 0; $b < $p; $b++) {
         |    $acc[$b] += $xv *
         |      ((($xxh.hashInt($b, $h1) & 1L) == 1L) ? 1.0 : -1.0);
         |  }
         |}
         |long $bucket = 0L;
         |for (int $b = 0; $b < $p; $b++) {
         |  if ($acc[$b] > 0.0) $bucket |= (1L << $b);
         |}
         |${ev.value} = $bucket;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object SignLshBucket {
  val ident: FunctionIdentifier = FunctionIdentifier("signlsh_bucket")

  val info: ExpressionInfo = new ExpressionInfo(
    classOf[SignLshBucket].getName, "signlsh_bucket")

  val builder: Seq[Expression] => Expression = { exprs =>
    require(exprs.length == 2,
      s"signlsh_bucket expects 2 arguments, got ${exprs.length}")
    SignLshBucket(exprs.head, exprs(1))
  }
}
