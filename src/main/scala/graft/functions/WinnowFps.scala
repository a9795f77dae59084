package graft.functions

import scala.collection.mutable

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native fused winnowing-fingerprint selection.
  *
  * `winnow_fps(words, w)` ≡ the let-bound HOF chain in
  * TextQueries.tWinnowFp — ordered word 3-grams, portable md5-60
  * gram hash ([[Md5Hash60.hash60]] — the SAME digest the composed
  * spelling and the DuckDB oracle compute), windowed minima of width
  * `w`, distinct kept set in first-appearance order — BIT-IDENTICAL
  * by construction and pinned corpus-wide by WinnowFpsSpec.
  *
  * Why: the HOF version is three nested interpreted lambda stages
  * (gram build, hash transform, window-min transform) with two
  * intermediate arrays materialized per row, and it breaks the
  * surrounding WholeStageCodegen span. This expression is ONE loop
  * per stage inside a single helper call: gram UTF8 join + digest,
  * O(g·w) window minima (w is 4 — a deque gains nothing at that
  * width), and a hash-set dedup that preserves array_distinct's
  * first-occurrence order. No boxed closures, no intermediate
  * Catalyst arrays.
  *
  * Edge parity with the HOF spelling (deliberate, spec-pinned): a
  * document with fewer than 3 words yields ONE gram of the available
  * words (slice clamps); fewer grams than `w` yields ONE window over
  * all of them; null in → null out.
  */
case class WinnowFps(child: Expression, window: Int)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(_: StringType, _) if window > 0 =>
      TypeCheckResult.TypeCheckSuccess
    case t =>
      TypeCheckResult.TypeCheckFailure(
        s"winnow_fps expects (array<string>, positive int literal), " +
          s"got ${t.simpleString} with w=$window")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullable: Boolean = true

  override def prettyName: String = "winnow_fps"

  override protected def nullSafeEval(input: Any): Any =
    WinnowFps.winnow(input.asInstanceOf[ArrayData], window)

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val helperCls = classOf[WinnowFpsHelper].getName
    val helper = ctx.addReferenceObj("winnowFpsHelper",
      WinnowFps.helper, helperCls)
    defineCodeGen(ctx, ev, c => s"$helper.winnow($c, $window)")
  }

  override protected def withNewChildInternal(
      newChild: Expression): Expression = copy(child = newChild)
}

/** Codegen-callable helper (plain class: a Scala object's `$` name
  * doesn't survive janino). */
class WinnowFpsHelper extends Serializable {
  def winnow(words: ArrayData, window: Int): ArrayData =
    WinnowFps.winnow(words, window)

  def gramHashes(words: ArrayData): ArrayData =
    UnsafeArrayData.fromPrimitiveArray(WinnowFps.gramHashArray(words))
}

/** Native positional gram-hash table: `gram_hashes(words)` ≡
  * `transform(sequence(1, greatest(size(ws) - 2, 1)),
  * i -> md5_hash60(concat_ws(' ', slice(ws, i, 3))))` — the ordered
  * 3-gram md5-60 array the dup-span search positionally explodes.
  * Same digest loop as [[WinnowFps]], minus the windowing; same
  * HOF-parity edges (short docs yield one clamped gram; null in →
  * null out). */
case class GramHashes(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(_: StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"gram_hashes expects array<string>, got ${t.simpleString}")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullable: Boolean = true

  override def prettyName: String = "gram_hashes"

  override protected def nullSafeEval(input: Any): Any =
    UnsafeArrayData.fromPrimitiveArray(
      WinnowFps.gramHashArray(input.asInstanceOf[ArrayData]))

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val helperCls = classOf[WinnowFpsHelper].getName
    val helper = ctx.addReferenceObj("winnowFpsHelper",
      WinnowFps.helper, helperCls)
    defineCodeGen(ctx, ev, c => s"$helper.gramHashes($c)")
  }

  override protected def withNewChildInternal(
      newChild: Expression): Expression = copy(child = newChild)
}

object GramHashes {
  val ident: FunctionIdentifier = FunctionIdentifier("gram_hashes")

  val info: ExpressionInfo = new ExpressionInfo(
    classOf[GramHashes].getName, "gram_hashes")

  val builder: Seq[Expression] => Expression = { exprs =>
    require(exprs.length == 1,
      s"gram_hashes expects 1 argument, got ${exprs.length}")
    GramHashes(exprs.head)
  }
}

object WinnowFps {
  private[functions] val helper = new WinnowFpsHelper

  private val emptyUtf8 = UTF8String.fromString("")

  /** Ordered 3-gram md5-60 hashes of a words array — HOF parity:
    * greatest(size - 2, 1) grams, slice clamps short docs. Shared by
    * [[WinnowFps]] (fp selection) and [[GramHashes]] (positional
    * gram table for the dup-span search). */
  private[functions] def gramHashArray(words: ArrayData): Array[Long] = {
    val m = words.numElements()
    val g = math.max(m - 2, 1)
    val hs = new Array[Long](g)
    var i = 0
    while (i < g) {
      val end = math.min(i + 3, m)
      val gram =
        if (end <= i) emptyUtf8
        else if (end - i == 3)
          UTF8String.concatWs(UTF8String.fromString(" "),
            words.getUTF8String(i), words.getUTF8String(i + 1),
            words.getUTF8String(i + 2))
        else if (end - i == 2)
          UTF8String.concatWs(UTF8String.fromString(" "),
            words.getUTF8String(i), words.getUTF8String(i + 1))
        else words.getUTF8String(i)
      hs(i) = Md5Hash60.hash60(if (gram == null) emptyUtf8 else gram)
      i += 1
    }
    hs
  }

  def winnow(words: ArrayData, window: Int): ArrayData = {
    val hs = gramHashArray(words)
    val g = hs.length
    val wCount = math.max(g - window + 1, 1)
    val seen = new mutable.HashSet[Long]
    val out = new mutable.ArrayBuilder.ofLong
    var i = 0
    while (i < wCount) {
      val end = math.min(i + window, g)
      var mn = Long.MaxValue
      var j = i
      while (j < end) {
        if (hs(j) < mn) mn = hs(j)
        j += 1
      }
      if (seen.add(mn)) out += mn
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out.result())
  }

  val ident: FunctionIdentifier = FunctionIdentifier("winnow_fps")

  val info: ExpressionInfo = new ExpressionInfo(
    classOf[WinnowFps].getName, "winnow_fps")

  val builder: Seq[Expression] => Expression = { exprs =>
    require(exprs.length == 2,
      s"winnow_fps expects 2 arguments, got ${exprs.length}")
    val w = exprs(1) match {
      case Literal(v: Int, IntegerType) => v
      case other => throw new IllegalArgumentException(
        s"winnow_fps: w must be an int literal, got $other")
    }
    WinnowFps(exprs.head, w)
  }
}
