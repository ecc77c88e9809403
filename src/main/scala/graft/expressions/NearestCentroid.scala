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

/** The one nearest-centroid loop, shared by [[NearestCentroid]], the
  * Lloyd fold (`VectorQueries.lloydFold`) and the driver-side IVFADC
  * probe pick (`VectorQueries2.ivfpqServe`), so assignment during
  * training, assignment at serve time and probing cannot disagree. */
object NearestCentroidKernel {

  /** Index into `cb` of the nearest entry (see [[NearestCentroid]]), or
    * −1 when no entry scores: [[topK]] with k = 1. */
  def pick(v: ArrayData, n2: Long, cb: ArrayData, l2: Boolean, failOnError: Boolean): Int = {
    val top = topK(v, n2, cb, l2, failOnError, 1)
    if (top.size == 0) -1 else top.slot(0)
  }

  /** The `k` nearest entries of `cb`, nearest first, each entry's slot
    * its index into `cb`. Scoring, null and ANSI rules are
    * [[NearestCentroid]]'s; fewer than k entries score → all of them. */
  def topK(v: ArrayData, n2: Long, cb: ArrayData, l2: Boolean, failOnError: Boolean,
      k: Int): TopK = {
    val top = new TopK(k, l2)
    val n = v.numElements()
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
          val dot = LongDotKernel.dot(v, cv)
          if (l2) top.offerD2(j, id, TopK.d2(n2, cn2, dot, failOnError))
          else top.offerCosine(j, id, dot, n2, cn2, failOnError)
        }
      }
      j += 1
    }
    top
  }
}

/** A bounded top-k: the `k` best candidates offered, best first, in
  * O(k) memory. Squared-L2 mode (`l2`) keeps the smallest int64 d2;
  * cosine mode keeps the largest cosine, compared as Spark SQL compares
  * doubles (NaN largest, −0.0 = 0.0). Ties go to the lowest id, so the
  * result does not depend on the order of the offers. A candidate's
  * `slot` is the caller's handle on it (an index into its codebook or
  * candidate rows). */
final class TopK(val k: Int, l2: Boolean) {
  require(k >= 0, s"top-k: negative k $k")
  private val slots = new Array[Int](k)
  private val ids = new Array[Long](k)
  private val d2s = if (l2) new Array[Long](k) else null
  private val coss = if (l2) null else new Array[Double](k)
  private var n = 0

  def size: Int = n
  def slot(i: Int): Int = slots(i)
  def id(i: Int): Long = ids(i)
  def d2(i: Int): Long = d2s(i)
  def cosine(i: Int): Double = coss(i)

  /** Offers a squared-L2 candidate. */
  def offerD2(slot: Int, id: Long, d2: Long): Unit = {
    var i = n
    while (i > 0 && (d2 < d2s(i - 1) || (d2 == d2s(i - 1) && id < ids(i - 1)))) i -= 1
    if (open(i, slot, id)) d2s(i) = d2
  }

  /** Offers a cosine candidate as `dot / (sqrt(n2a) · sqrt(n2b))` in IEEE
    * doubles. A zero denominator raises DIVIDE_BY_ZERO under
    * `failOnError` (ANSI), as the SQL division does; otherwise the
    * candidate has no score and is skipped. */
  def offerCosine(slot: Int, id: Long, dot: Long, n2a: Long, n2b: Long,
      failOnError: Boolean): Unit = {
    val den = Math.sqrt(n2a.toDouble) * Math.sqrt(n2b.toDouble)
    if (den == 0.0) {
      if (failOnError) throw org.apache.spark.sql.GraftBridge.divideByZero()
    } else offerCos(slot, id, dot.toDouble / den)
  }

  /** Offers a candidate scored by a cosine already computed. */
  def offerCos(slot: Int, id: Long, cos: Double): Unit = {
    var i = n
    while (i > 0 && {
      val cmp = SQLOrderingUtil.compareDoubles(cos, coss(i - 1))
      cmp > 0 || (cmp == 0 && id < ids(i - 1))
    }) i -= 1
    if (open(i, slot, id)) coss(i) = cos
  }

  /** Makes room at rank `i` (dropping the k-th entry when full) and
    * fills its slot and id; false when `i` is past the bound. */
  private def open(i: Int, slot: Int, id: Long): Boolean = {
    if (i >= k) return false
    val moved = math.min(n, k - 1) - i
    if (moved > 0) {
      System.arraycopy(slots, i, slots, i + 1, moved)
      System.arraycopy(ids, i, ids, i + 1, moved)
      if (l2) System.arraycopy(d2s, i, d2s, i + 1, moved)
      else System.arraycopy(coss, i, coss, i + 1, moved)
    }
    slots(i) = slot
    ids(i) = id
    if (n < k) n += 1
    true
  }
}

object TopK {
  /** Exact squared L2 `n2a + n2b − 2·dot` from the norms and the dot
    * product, with the `*Exact` arithmetic under `failOnError` (ANSI),
    * as Spark's `+`, `−` and `*` raise on int64 overflow there. */
  def d2(n2a: Long, n2b: Long, dot: Long, failOnError: Boolean): Long =
    if (failOnError) Math.subtractExact(Math.addExact(n2a, n2b), Math.multiplyExact(2L, dot))
    else n2a + n2b - 2L * dot
}
