package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native form of the engine-portable 60-bit hash
  * (graft.core.PortableHash): `md5_hash60(s)` ≡
  * `cast(conv(substring(md5(s), 1, 15), 16, 10) as bigint)`.
  *
  * The first 15 hex chars of an md5 are the digest's first 7.5
  * bytes, so the value is just (first 8 digest bytes, big-endian)
  * >>> 4 — this expression digests the UTF-8 bytes and reads the
  * long directly, skipping the composed version's hex-encode
  * (32-char string per row), substring, and base-16 string parse.
  * Equality with the composed form (and hence with the DuckDB
  * oracle spelling) is pinned by Md5Hash60Spec.
  *
  * The MessageDigest instance is thread-local: digests are stateful
  * and a generated-code references array can be shared across an
  * executor's task threads.
  */
case class Md5Hash60(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"md5_hash60 expects string, got ${t.simpleString}")
  }

  override def dataType: DataType = LongType

  override def prettyName: String = "md5_hash60"

  override protected def nullSafeEval(input: Any): Any =
    Md5Hash60.hash60(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val helperCls = classOf[Md5Hash60Helper].getName
    val helper = ctx.addReferenceObj("md5Hash60Helper",
      Md5Hash60.helper, helperCls)
    defineCodeGen(ctx, ev, c => s"$helper.hash60($c)")
  }

  override protected def withNewChildInternal(
      newChild: Expression): Expression = copy(child = newChild)
}

/** Codegen-callable helper (plain class: a Scala object's `$` name
  * doesn't survive janino). */
class Md5Hash60Helper extends Serializable {
  def hash60(s: UTF8String): Long = Md5Hash60.hash60(s)
}

object Md5Hash60 {
  private[functions] val helper = new Md5Hash60Helper

  private val digests: ThreadLocal[MessageDigest] =
    ThreadLocal.withInitial(() => MessageDigest.getInstance("MD5"))

  def hash60(s: UTF8String): Long = {
    val md = digests.get()
    md.reset()
    val d = md.digest(s.getBytes)
    var v = 0L
    var i = 0
    while (i < 8) {
      v = (v << 8) | (d(i) & 0xffL)
      i += 1
    }
    v >>> 4
  }

  val ident: FunctionIdentifier = FunctionIdentifier("md5_hash60")

  val info: ExpressionInfo = new ExpressionInfo(
    classOf[Md5Hash60].getName, "md5_hash60")

  val builder: Seq[Expression] => Expression = { exprs =>
    require(exprs.length == 1,
      s"md5_hash60 expects 1 argument, got ${exprs.length}")
    Md5Hash60(exprs.head)
  }
}
