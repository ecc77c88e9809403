package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, LongType}

/** Native Catalyst expression: float/double array → int64 array at
  * scale 1e6, value-identical to the higher-order form
  * `transform(v, x -> CAST(round(CAST(x AS DOUBLE) * 1000000, 0) AS BIGINT))`
  * (see [[graft.functions.VectorFunctions.quantizeHof]]) that every
  * vector query applies to every embedding it scans. The lambda form is
  * CodegenFallback and interprets three expressions per element; this
  * one runs a primitive loop inside whole-stage codegen and writes a
  * `long[]` straight into an UnsafeArrayData when no element is null.
  *
  * Exactness of [[QuantizeE6Kernel.q]]: `round(·, 0)` on a double is
  * HALF_UP on its decimal string (`BigDecimal.valueOf`). Below 2^52 the
  * floor/fraction test on |t| is the same decision: x.5 is itself a double, and
  * any decimal string that reads back as t lies on t's side of every
  * other double, so the string and t agree on which side of x.5 they
  * are. From 2^52 up a double has no fraction and the BigDecimal path
  * runs as in Spark. NaN, ±Inf and out-of-range values raise the ANSI
  * cast error (or saturate as the legacy cast does when ANSI is off).
  * Null array → null; null element → null element.
  */
case class QuantizeE6(child: Expression, failOnError: Boolean = SQLConf.get.ansiEnabled)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<float> or array<double>, got ${other.catalogString}")
  }

  private def isFloat = child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def dataType: DataType =
    ArrayType(LongType, child.dataType.asInstanceOf[ArrayType].containsNull)

  override def nullIntolerant: Boolean = true

  override def prettyName: String = "quantize_e6"

  override protected def nullSafeEval(a: Any): Any =
    QuantizeE6Kernel.quantize(a.asInstanceOf[ArrayData], isFloat, failOnError)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.expressions.QuantizeE6Kernel.quantize($a, $isFloat, $failOnError);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object QuantizeE6Kernel {
  private val TwoP52 = 4503599627370496.0

  /** One element: `CAST(round(x * 1e6, 0) AS BIGINT)` on a double. */
  def q(x: Double, failOnError: Boolean): Long = {
    val t = x * 1000000.0
    val r =
      if (Math.abs(t) < TwoP52) {
        // on |t| the fraction is exact (Sterbenz; for |t| < 1 it is |t|
        // itself), which t − floor(t) is not for small negative t
        val a = Math.abs(t)
        val f = Math.floor(a)
        val m = if (a - f >= 0.5) f + 1 else f
        if (t < 0) -m else m
      } else if (t.isNaN || t.isInfinite) t
      else java.math.BigDecimal.valueOf(t).setScale(0, java.math.RoundingMode.HALF_UP).doubleValue()
    if (!failOnError) r.toLong
    else if (Math.floor(r) <= Long.MaxValue.toDouble && Math.ceil(r) >= Long.MinValue.toDouble) r.toLong
    else throw org.apache.spark.sql.GraftBridge.castOverflow(r)
  }

  def quantize(a: ArrayData, isFloat: Boolean, failOnError: Boolean): ArrayData = {
    val n = a.numElements()
    val out = new Array[Long](n)
    var i = 0
    while (i < n) {
      if (a.isNullAt(i)) return quantizeWithNulls(a, isFloat, failOnError)
      out(i) = q(if (isFloat) a.getFloat(i).toDouble else a.getDouble(i), failOnError)
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  private def quantizeWithNulls(a: ArrayData, isFloat: Boolean, failOnError: Boolean): ArrayData = {
    val out = new Array[Any](a.numElements())
    var i = 0
    while (i < out.length) {
      if (!a.isNullAt(i))
        out(i) = q(if (isFloat) a.getFloat(i).toDouble else a.getDouble(i), failOnError)
      i += 1
    }
    new GenericArrayData(out)
  }
}
