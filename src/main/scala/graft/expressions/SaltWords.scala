package graft.expressions

import java.security.MessageDigest

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** The per-row kernel of [[SaltWords]]: one MD5 instance and one digest
  * buffer, reused for every word of every row the owning expression
  * instance sees (an expression instance lives in one task thread). */
final class WordSalter {
  private val md = MessageDigest.getInstance("MD5")
  private val digest = new Array[Byte](16)

  /** Every space-separated word of `text` with the first MD5 byte of
    * (word bytes ++ decimal digits of `k`) appended as two lowercase hex
    * characters. The space byte never occurs inside a multi-byte UTF-8
    * sequence, so splitting bytes splits characters; n spaces give
    * n + 1 words, empty ones included, as Spark's `split` keeps them. */
  def salt(text: UTF8String, k: Int): UTF8String = {
    val src = text.getBytes
    val n = src.length
    val digits = Integer.toString(k).getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    var words = 1
    var i = 0
    while (i < n) { if (src(i) == ' ') words += 1; i += 1 }
    val out = new Array[Byte](n + 2 * words)
    var start = 0
    var o = 0
    i = 0
    while (i <= n) {
      if (i == n || src(i) == ' ') {
        val len = i - start
        System.arraycopy(src, start, out, o, len)
        o += len
        md.update(src, start, len)
        md.update(digits)
        md.digest(digest, 0, 16)
        out(o) = WordSalter.Hex((digest(0) >> 4) & 0xf)
        out(o + 1) = WordSalter.Hex(digest(0) & 0xf)
        o += 2
        if (i < n) { out(o) = ' '; o += 1 }
        start = i + 1
      }
      i += 1
    }
    UTF8String.fromBytes(out)
  }
}

object WordSalter {
  private val Hex: Array[Byte] = "0123456789abcdef".getBytes(java.nio.charset.StandardCharsets.US_ASCII)
}

/** Native Catalyst expression that salts every word of a text with a
  * per-(word, copy) MD5 suffix — the ×N corpus derivation of
  * [[graft.ScaleRehearsal.stageScaled]]. Value-identical to
  * `array_join(transform(split(text, ' '), w -> concat(w,
  * substring(md5(concat(w, k)), 1, 2))), ' ')`, whose lambda is a
  * `CodegenFallback` that runs interpreted one word at a time; this one
  * is a byte loop inside whole-stage codegen that builds no `String`
  * and no hex string per word.
  *
  * Null text → null. Null `k` with non-null text → the empty string,
  * as in the relational form: every salted word is null there, and
  * `array_join` skips null elements.
  */
case class SaltWords(left: Expression, right: Expression) extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (StringType, IntegerType) => TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (string, int), got (${l.catalogString}, ${r.catalogString})")
  }

  override def dataType: DataType = StringType
  override def nullable: Boolean = left.nullable
  override def prettyName: String = "salt_words"

  @transient private lazy val salter = new WordSalter

  override def eval(input: InternalRow): Any = {
    val text = left.eval(input)
    if (text == null) null
    else {
      val k = right.eval(input)
      if (k == null) UTF8String.EMPTY_UTF8
      else salter.salt(text.asInstanceOf[UTF8String], k.asInstanceOf[Int])
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val salter = ctx.addMutableState(classOf[WordSalter].getName, "salter",
      v => s"$v = new ${classOf[WordSalter].getName}();")
    val t = left.genCode(ctx)
    val k = right.genCode(ctx)
    ev.copy(code = code"""
      ${t.code}
      boolean ${ev.isNull} = ${t.isNull};
      ${CodeGenerator.javaType(dataType)} ${ev.value} = null;
      if (!${ev.isNull}) {
        ${k.code}
        ${ev.value} = ${k.isNull} ? UTF8String.EMPTY_UTF8 : $salter.salt(${t.value}, ${k.value});
      }""")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
