package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, SQLOrderingUtil}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StructType}

/** Native Catalyst expression: the `c_id` of the codebook entry nearest
  * to a quantized vector — the assignment kernel of k-means, IVF and PQ.
  * `codebook` is `array<struct<c_id: bigint, vec: array<bigint>, n2: bigint>>`
  * (one row per codebook, broadcast into the corpus pass; `n2` = the
  * centroid's exact squared norm).
  *
  * Two metrics, both the exact picks of the relational twin (a
  * crossJoin against the codebook rows, then
  * `ArgMaxBy(c_id, score, -c_id)` per vector):
  *  - cosine (`l2 = false`): max `dot / (sqrt(n2) · sqrt(cn2))` in IEEE
  *    doubles, compared as Spark SQL compares doubles (NaN largest,
  *    −0.0 = 0.0), ties → lowest c_id;
  *  - squared L2 (`l2 = true`): min exact int64 `n2 + cn2 − 2·dot`,
  *    ties → lowest c_id.
  * Dot products are [[LongDotProduct]]'s (null elements contribute 0).
  * Entries with a null c_id, vector or norm never win. Null input or no
  * scoring entry (an empty codebook) → null. Under ANSI a zero norm
  * raises DIVIDE_BY_ZERO and int64 overflow raises, as the cosine
  * division and the d2 arithmetic of the relational form do; without
  * ANSI a zero-norm entry scores null and is skipped. A centroid whose
  * width differs from the vector's raises, where the twin's dot product
  * would silently stop at the shorter side.
  */
case class NearestCentroid(vec: Expression, n2: Expression, codebook: Expression,
    l2: Boolean, failOnError: Boolean = SQLConf.get.ansiEnabled)
    extends TernaryExpression {

  override def first: Expression = vec
  override def second: Expression = n2
  override def third: Expression = codebook

  override def checkInputDataTypes(): TypeCheckResult = {
    val vecOk = vec.dataType match {
      case ArrayType(LongType, _) => true
      case _ => false
    }
    val cbOk = codebook.dataType match {
      case ArrayType(StructType(fs), _) if fs.length == 3 =>
        fs(0).dataType == LongType && fs(1).dataType.isInstanceOf[ArrayType] &&
          fs(1).dataType.asInstanceOf[ArrayType].elementType == LongType &&
          fs(2).dataType == LongType
      case _ => false
    }
    if (vecOk && n2.dataType == LongType && cbOk) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (array<bigint>, bigint, " +
        "array<struct<c_id: bigint, vec: array<bigint>, n2: bigint>>), got " +
        s"(${vec.dataType.catalogString}, ${n2.dataType.catalogString}, " +
        s"${codebook.dataType.catalogString})")
  }

  override def dataType: DataType = LongType

  override def nullable: Boolean = true

  override def nullIntolerant: Boolean = true

  override def prettyName: String = if (l2) "nearest_centroid_l2" else "nearest_centroid_cosine"

  override protected def nullSafeEval(v: Any, n: Any, cb: Any): Any = {
    val c = cb.asInstanceOf[ArrayData]
    val i = NearestCentroidKernel.pick(v.asInstanceOf[ArrayData], n.asInstanceOf[Long], c,
      l2, failOnError)
    if (i < 0) null else c.getStruct(i, 3).getLong(0)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (v, n, cb) => {
      val i = ctx.freshName("i")
      s"""
         |int $i = graft.expressions.NearestCentroidKernel.pick($v, $n, $cb, $l2, $failOnError);
         |if ($i < 0) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = $cb.getStruct($i, 3).getLong(0);
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): Expression =
    copy(vec = newFirst, n2 = newSecond, codebook = newThird)
}

/** The one nearest-centroid loop, shared by [[NearestCentroid]] and the
  * Lloyd fold (`VectorQueries.lloydFold`), so assignment during
  * training and assignment at serve time cannot disagree. */
object NearestCentroidKernel {

  /** Index into `cb` of the nearest entry (see [[NearestCentroid]]), or
    * −1 when no entry scores. */
  def pick(v: ArrayData, n2: Long, cb: ArrayData, l2: Boolean, failOnError: Boolean): Int = {
    val n = v.numElements()
    var best = -1
    var bestId = 0L
    var bestCos = 0.0
    var bestD2 = 0L
    var j = 0
    while (j < cb.numElements()) {
      if (!cb.isNullAt(j)) {
        val c = cb.getStruct(j, 3)
        if (!c.isNullAt(0) && !c.isNullAt(1) && !c.isNullAt(2)) {
          val id = c.getLong(0)
          val cv = c.getArray(1)
          val cn2 = c.getLong(2)
          if (cv.numElements() != n) throw new IllegalArgumentException(
            s"nearest_centroid: vector width $n differs from centroid $id's width ${cv.numElements()}")
          var dot = 0L
          var i = 0
          while (i < n) {
            if (!v.isNullAt(i) && !cv.isNullAt(i)) dot += v.getLong(i) * cv.getLong(i)
            i += 1
          }
          if (l2) {
            val d2 =
              if (failOnError) Math.subtractExact(Math.addExact(n2, cn2), Math.multiplyExact(2L, dot))
              else n2 + cn2 - 2L * dot
            if (best < 0 || d2 < bestD2 || (d2 == bestD2 && id < bestId)) {
              best = j; bestId = id; bestD2 = d2
            }
          } else {
            val den = Math.sqrt(n2.toDouble) * Math.sqrt(cn2.toDouble)
            if (den == 0.0) {
              if (failOnError) throw org.apache.spark.sql.GraftBridge.divideByZero()
            } else {
              val cos = dot.toDouble / den
              val cmp = if (best < 0) 1 else SQLOrderingUtil.compareDoubles(cos, bestCos)
              if (cmp > 0 || (cmp == 0 && id < bestId)) {
                best = j; bestId = id; bestCos = cos
              }
            }
          }
        }
      }
      j += 1
    }
    best
  }
}
