package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Native Catalyst expression: element-wise int64 difference of two
  * `array<bigint>` columns — the residual kernel of the PQ/IVFADC
  * encode passes (one evaluation per vector per pass).
  *
  * Value-identical to `zip_with(a, b, (x, y) -> x - y)`: result length
  * is max(|a|, |b|); an element is null when either side's element is
  * null or past its end (zip_with's null padding). The higher-order
  * form is CodegenFallback and interprets the lambda per element with
  * boxed variable binding; this expression runs one tight loop inside
  * whole-stage codegen (the LongDotProduct pattern). When both sides
  * have the same length and no null element — every residual the
  * encode passes compute — the result is a primitive `long[]` wrapped
  * as UnsafeArrayData; otherwise it falls back to boxed elements with
  * zip_with's null padding.
  */
case class LongVecSub(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(dt: DataType) = dt match {
      case ArrayType(LongType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (array<bigint>, array<bigint>), got " +
        s"(${left.dataType.catalogString}, ${right.dataType.catalogString})")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = true)

  override def nullIntolerant: Boolean = true

  override def prettyName: String = "qsub_native"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    LongVecSubKernel.sub(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.expressions.LongVecSubKernel.sub($a, $b);")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object LongVecSubKernel {
  def sub(x: ArrayData, y: ArrayData): ArrayData = {
    val nx = x.numElements()
    val ny = y.numElements()
    if (nx == ny) {
      val out = new Array[Long](nx)
      var i = 0
      while (i < nx && !x.isNullAt(i) && !y.isNullAt(i)) {
        out(i) = x.getLong(i) - y.getLong(i)
        i += 1
      }
      if (i == nx) return UnsafeArrayData.fromPrimitiveArray(out)
    }
    val n = math.max(nx, ny)
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      if (i < nx && i < ny && !x.isNullAt(i) && !y.isNullAt(i)) {
        out(i) = x.getLong(i) - y.getLong(i)
      }
      i += 1
    }
    new GenericArrayData(out)
  }
}
