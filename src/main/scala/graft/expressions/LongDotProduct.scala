package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Native Catalyst expression: exact int64 dot product of two
  * `array<bigint>` columns.
  *
  * This is the hot kernel of the similarity queries (one evaluation per
  * candidate pair). The composable form —
  * `aggregate(zip_with(a, b, _*_), 0L, _+_)` — allocates an
  * intermediate array and interprets two lambdas per row; this
  * expression generates a tight primitive loop inside whole-stage
  * codegen instead (preference order (b) of the build brief: a custom
  * `Expression` with `doGenCode` beats lambda composition beats UDF).
  *
  * Null handling: null input → null output (standard BinaryExpression
  * semantics); null ELEMENTS are treated as 0 contribution.
  */
case class LongDotProduct(left: Expression, right: Expression)
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

  override def dataType: DataType = LongType

  override def nullIntolerant: Boolean = true

  override def prettyName: String = "qdot_native"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    LongDotKernel.dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |long $s = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$a.isNullAt($i) && !$b.isNullAt($i)) {
         |    $s += $a.getLong($i) * $b.getLong($i);
         |  }
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** The interpreted dot-product loop, shared with the nearest-centroid
  * kernel and the driver-side IVFADC serve so they sum as [[LongDotProduct]]
  * does: over the shorter side, null elements contributing 0. */
object LongDotKernel {
  def dot(x: ArrayData, y: ArrayData): Long = {
    val n = math.min(x.numElements(), y.numElements())
    var s = 0L
    var i = 0
    while (i < n) {
      if (!x.isNullAt(i) && !y.isNullAt(i)) s += x.getLong(i) * y.getLong(i)
      i += 1
    }
    s
  }
}
