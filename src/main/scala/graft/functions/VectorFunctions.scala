package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Embedding-similarity building blocks (ANN / near-dup by cosine).
  *
  * Parity design: float components are quantized to int64 at scale 1e6
  * (`quantize`), so dot products and norms are EXACT integer sums —
  * order-independent and bit-identical across engines (the DuckDB oracle
  * does the same quantization). The final cosine divides identical
  * integers in double precision → identical IEEE results. Max |x| ≈ 0.5
  * on unit-norm 64-dim vectors ⇒ each term ≤ 2.5e11, 64-term sums ≤
  * 1.6e13 — far inside int64 (and even double-exact < 2^53).
  */
object VectorFunctions {

  /** float array → int64 array at scale 1e6 (via double, exactly as the
    * oracle's CAST(embedding AS DOUBLE[]) → round → BIGINT) — the native
    * codegen'd expression (see [[graft.expressions.QuantizeE6]]). */
  def quantize(vec: Column): Column =
    org.apache.spark.sql.GraftBridge.column(graft.expressions.QuantizeE6(
      org.apache.spark.sql.GraftBridge.expression(vec)))

  /** The higher-order-function twin of [[quantize]] — differential-test
    * reference. */
  def quantizeHof(vec: Column): Column =
    transform(vec, x => round(x.cast("double") * 1000000, 0).cast("long"))

  /** Exact int64 dot product of two quantized vectors — the native
    * codegen'd expression (see [[graft.expressions.LongDotProduct]]). */
  def qdot(a: Column, b: Column): Column =
    org.apache.spark.sql.GraftBridge.column(graft.expressions.LongDotProduct(
      org.apache.spark.sql.GraftBridge.expression(a),
      org.apache.spark.sql.GraftBridge.expression(b)))

  /** Hash-aggregable two-level argmax with a primitive buffer (see
    * [[graft.expressions.ArgMaxBy]]). DESC/ASC encode by negation:
    * argmax(csim DESC, id ASC) = argMaxBy(v, csim, -id). Over a
    * crossJoin against the codebook rows it is the relational twin that
    * [[nearestCentroid]] is tested against. */
  def argMaxBy(value: Column, ord1: Column, ord2: Column): Column =
    org.apache.spark.sql.GraftBridge.column(graft.expressions.ArgMaxBy(
      org.apache.spark.sql.GraftBridge.expression(value),
      org.apache.spark.sql.GraftBridge.expression(ord1),
      org.apache.spark.sql.GraftBridge.expression(ord2)).toAggregateExpression())

  /** The same kernel composed from built-in higher-order functions —
    * kept as the portable fallback and the differential-test twin of
    * the native expression. */
  def qdotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0L), (acc, z) => acc + z)

  /** Element-wise int64 difference — the PQ/IVFADC residual kernel,
    * native and codegen'd (see [[graft.expressions.LongVecSub]];
    * round 19 session 4). Value-identical to
    * `zip_with(a, b, (x, y) -> x - y)` including null padding. */
  def qsub(a: Column, b: Column): Column =
    org.apache.spark.sql.GraftBridge.column(graft.expressions.LongVecSub(
      org.apache.spark.sql.GraftBridge.expression(a),
      org.apache.spark.sql.GraftBridge.expression(b)))

  /** The higher-order-function twin of [[qsub]] — differential-test
    * reference. */
  def qsubHof(a: Column, b: Column): Column =
    zip_with(a, b, (x, y) => x - y)

  /** `c_id` of the codebook entry nearest to the quantized vector `vec`
    * (exact squared norm `n2`): max cosine, or min exact squared L2 when
    * `l2`, ties → lowest c_id. `codebook` is
    * `array<struct<c_id, vec, n2>>`, one row per codebook broadcast into
    * the corpus pass (see [[graft.expressions.NearestCentroid]]). */
  def nearestCentroid(vec: Column, n2: Column, codebook: Column, l2: Boolean): Column =
    org.apache.spark.sql.GraftBridge.column(graft.expressions.NearestCentroid(
      org.apache.spark.sql.GraftBridge.expression(vec),
      org.apache.spark.sql.GraftBridge.expression(n2),
      org.apache.spark.sql.GraftBridge.expression(codebook), l2))

  /** Cosine similarity from quantized vectors (norms precomputed as
    * qdot(v,v) for reuse across pairs). */
  def cosineFromQ(dot: Column, n2a: Column, n2b: Column): Column =
    dot.cast("double") / (sqrt(n2a.cast("double")) * sqrt(n2b.cast("double")))

  /** Random-hyperplane LSH bucket: `planes` sign bits packed into a
    * long. Plane p's component for dimension i is ±1 derived from
    * xxhash64(p, i) — deterministic, no stored plane matrix, and the
    * whole thing stays in codegen. Bucket collisions preserve cosine
    * locality; at scale the bucket column becomes the shuffle key that
    * replaces the all-pairs cross join. */
  def lshBucket(qvec: Column, planes: Int, seed: Int = 0): Column = {
    val bits = (0 until planes).map { p =>
      // dot(v, plane_p) where plane_p[i] = ±1 from the hash parity
      val dot = aggregate(
        zip_with(qvec, sequence(lit(0), size(qvec) - 1),
          (x, i) => when(xxhash64(lit(seed * 1000 + p), i).bitwiseAND(1) === 1, x).otherwise(-x)),
        lit(0L), (acc, z) => acc + z)
      when(dot > 0, shiftleft(lit(1L), p)).otherwise(lit(0L))
    }
    bits.reduce((a, b) => a.bitwiseOR(b))
  }

  /** Multi-table LSH: `tables` independent bucket keys per vector
    * (exploded into (table, bucket) rows). More tables → higher recall;
    * candidates are deduped after the union of per-table matches. */
  def lshBuckets(qvec: Column, planes: Int, tables: Int): Column =
    array((0 until tables).map(t =>
      struct(lit(t).as("table"), lshBucket(qvec, planes, t).as("bucket"))): _*)

  /** Axis-sign LSH bucket: the sign pattern of the components at
    * `dims`, MSB-first (hyperplanes = coordinate axes). Unlike the
    * random-hyperplane form this is deterministic AND SQL-expressible
    * — the judged near-dup/ANN queries mirror it with CASE chains in
    * their DuckDB oracles, so keep bit order changes in lockstep. */
  def axisSignBucket(qvec: Column, dims: Range): Column =
    dims.zipWithIndex.map { case (i, j) =>
      when(qvec.getItem(i) >= 0, lit(1L << (dims.size - 1 - j))).otherwise(lit(0L))
    }.reduce(_ + _)
}
