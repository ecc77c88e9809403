package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Scale-path join utilities: bucketed co-located joins (shuffle
  * elimination for repeated fact⋈fact joins), the hot-bucket cap for
  * LSH candidate self-joins, and an interval-overlap join without a
  * nested loop.
  */
object ScaleOps {

  /** Persist `df` as a bucketed+sorted table: subsequent equi-joins or
    * aggregations on `keys` against a co-bucketed table run
    * shuffle-free (SortMergeJoin with no Exchange). This is the batch
    * analogue of the warehouse clustering the reference configures
    * (bigquery_helper.py:88-92) — but it also removes the shuffle, not
    * just improves pruning. */
  def writeBucketed(df: DataFrame, table: String, buckets: Int, keys: Seq[String]): Unit = {
    val spark = df.sparkSession
    val known = spark.catalog.tableExists(table)
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    // a managed-table location orphaned by a previous session (the
    // in-memory catalog forgets the table, the warehouse dir keeps the
    // files) fails CREATE with LOCATION_ALREADY_EXISTS — remove it.
    // Only when the catalog did NOT know the table: when it did, DROP
    // already cleaned the managed location, and deleting the path
    // unconditionally could destroy a live table whose name collided.
    if (!known) {
      val loc = new org.apache.hadoop.fs.Path(
        spark.conf.get("spark.sql.warehouse.dir"), table.toLowerCase)
      loc.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(loc, true)
    }
    df.write.mode("overwrite")
      .bucketBy(buckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
      .format("parquet")
      .saveAsTable(table)
  }

  /** Hot-bucket guard for LSH-style candidate self-joins (minhash
    * bands, simhash prefixes, hyperplane buckets). A degenerate corpus
    * — thousands of boilerplate-identical documents — lands whole in
    * one bucket and makes the within-bucket self-join quadratic: the
    * one real 100 TB scale risk in bucketed near-dup candidate
    * generation. The guard keeps the `cap` lowest-`idCol` members of
    * each bucket (deterministic), bounding each bucket's contribution
    * at O(cap²) candidate pairs instead of O(n²).
    *
    * Dropping beyond-cap members only affects NEAR-dup recall in
    * pathological buckets; identical documents are still collapsed by
    * exact dedup (fingerprint groupBy), which is why capping — not
    * salting — is the right guard here: salting would still score
    * every quadratic pair, just on more reducers.
    *
    * Cost: one row_number window over the bucket key — the same
    * shuffle the subsequent bucket equi-join needs anyway. */
  def capBuckets(df: DataFrame, bucketCols: Seq[String], idCol: String, cap: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(bucketCols.map(col): _*).orderBy(col(idCol))
    df.withColumn("__brn", row_number().over(w)).filter(col("__brn") <= cap).drop("__brn")
  }

  /** Repartition by key with a capped partition count — the explicit
    * form of sizing shuffles so partitions fit executor memory
    * (brief: "size spark.sql.shuffle.partitions … at the target SF"). */
  def repartitionByKey(df: DataFrame, numPartitions: Int, keys: Column*): DataFrame =
    df.repartition(numPartitions, keys: _*)

  /** Interval overlap join without a nested loop: rows of `left` and
    * `right` carry numeric intervals [start, end] (end >= start;
    * timestamps go through unix seconds first), and a pair matches iff
    * the intervals overlap (`ls <= re AND rs <= le`). Spark has no
    * equi key to plan with, so the naive join is
    * BroadcastNestedLoopJoin — O(n·m). This is the interval
    * generalization of [[graft.plans.BandJoinBinning]] (a band join is
    * an interval join with fixed-width intervals), composed from
    * built-in ops because interval LENGTH varies per row:
    *
    *  - both sides explode over the `binWidth`-sized buckets their
    *    interval covers (`sequence(floor(s/w), floor(e/w))` — cost
    *    per row is O(len/binWidth), so pick binWidth near the typical
    *    interval length);
    *  - candidates meet on the bucket equi-key (shuffle, not loop);
    *  - a pair overlapping across SEVERAL shared buckets would
    *    surface once per bucket, so a responsibility predicate keeps
    *    exactly one copy: only the bucket containing the overlap
    *    START (`floor(greatest(ls, rs)/w)`) counts the pair. The
    *    overlap start lies inside both intervals, so both sides
    *    generated that bucket — no match is lost, none duplicated.
    *
    * The exact overlap predicate is re-applied, so the result is
    * value-identical to the nested loop. Empty/inverted intervals
    * (end < start) are dropped up front — "overlap" is undefined for
    * them (the raw predicate would even match some). Output: left
    * columns then right columns, like a plain inner join. */
  def intervalOverlapJoin(left: DataFrame, right: DataFrame,
      lStart: String, lEnd: String, rStart: String, rEnd: String,
      binWidth: Double): DataFrame = {
    require(binWidth > 0 && java.lang.Double.isFinite(binWidth),
      s"intervalOverlapJoin: binWidth must be positive and finite, got $binWidth")
    val w = lit(binWidth)
    def buckets(st: Column, en: Column): Column =
      sequence(floor(st.cast("double") / w), floor(en.cast("double") / w), lit(1L))
    val l = left.filter(col(lEnd) >= col(lStart))
      .withColumn("__ibucket", explode(buckets(col(lStart), col(lEnd))))
    val r = right.filter(col(rEnd) >= col(rStart))
      .withColumn("__jbucket", explode(buckets(col(rStart), col(rEnd))))
    val overlapStart = greatest(col(lStart).cast("double"), col(rStart).cast("double"))
    // SHUFFLE_HASH, not broadcast (round 19, guide §3.1): the "small"
    // side here is a full exploded corpus side, so the auto-chosen
    // broadcast serialized it through the driver and built ONE hash
    // table per executor single-threaded; the bucket shuffle builds 32
    // per-partition tables in parallel — and at corpus scale broadcast
    // is impossible anyway, so this is also the honest 100 TB shape.
    l.join(r.hint("shuffle_hash"),
        col("__ibucket") === col("__jbucket") &&
          col(lStart) <= col(rEnd) && col(rStart) <= col(lEnd) &&
          floor(overlapStart / w) === col("__ibucket"))
      .drop("__ibucket", "__jbucket")
  }

  /** Distributed global rank — the scale-safe replacement for an
    * unpartitioned `row_number()`/`ntile()` window, which moves EVERY
    * row to one partition (WindowExec's single-partition warning; an
    * executor-killer at 100 TB). Shape:
    *
    *  1. range-repartition on the order keys (the same distributed
    *     sort machinery `orderBy` uses — sampled bounds, balanced
    *     partitions);
    *  2. per-partition `row_number()` windowed BY partition id (each
    *     partition ranks locally — parallel, spill-safe);
    *  3. add each partition's global offset, computed from the
    *     per-partition row counts: a frame with ONE ROW PER PARTITION,
    *     whose own unpartitioned window is O(shuffle partitions), not
    *     O(rows), at any scale.
    *
    * `order` must be a TOTAL order (include a unique tie-break):
    * equal-key rows could otherwise straddle a range boundary and the
    * global rank of ties would depend on sampled bounds. Returns the
    * input columns plus 0-based `rankCol`. */
  def globalRank(df: DataFrame, rankCol: String, order: Column*): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // localCheckpoint pins ONE evaluation of the range partitioning:
    // the offsets frame and the join side are two lineages of the same
    // exchange, and if reuse ever misses (this repo measured exactly
    // that for aliased self-join subtrees), a re-executed
    // RangePartitioner could sample different bounds — per-partition
    // offsets would then attach to a DIFFERENT partitioning and ranks
    // would be silently wrong rather than slow (round-10 review
    // finding). The materialized frame is the caller's ranked input —
    // user/vocab-scale at every call site, never the raw corpus.
    val ranged = df.repartitionByRange(order: _*)
      .withColumn("__gr_pid", spark_partition_id())
      .localCheckpoint()
    val offsets = ranged.groupBy(col("__gr_pid")).agg(count(lit(1)).as("__gr_n"))
      .withColumn("__gr_off",
        coalesce(sum(col("__gr_n")).over(
          Window.orderBy(col("__gr_pid"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("__gr_pid"), col("__gr_off"))
    val w = Window.partitionBy(col("__gr_pid")).orderBy(order: _*)
    ranged.join(broadcast(offsets), "__gr_pid")
      .withColumn(rankCol, col("__gr_off") + row_number().over(w) - 1)
      .drop("__gr_pid", "__gr_off")
  }

  /** EXCLUSIVE global prefix sum of `value` over a total `order`, with
    * no single-partition window anywhere — [[globalRank]]'s discipline
    * extended from counts to sums. `order` MUST be a TOTAL order
    * (include a unique tie-break column, as [[globalRank]] requires):
    * with duplicate keys, tied rows can straddle a range-partition
    * boundary and the per-partition exclusive window orders them
    * arbitrarily, so `outCol` would be NONDETERMINISTIC across runs —
    * not wrong on any single run's own ordering, but unstable (the
    * sole judged caller, curate_token_budget, passes the unique
    * (quality desc, doc_id) key). Shape: range-repartition on the
    * order key,
    * per-partition PARTIAL sums roll into an O(#partitions) exclusive
    * offset frame (broadcast), and each partition's running sum rides
    * its own local window plus its offset. `outCol` is 0 for the
    * globally first row. Same localCheckpoint pin as globalRank: the
    * offsets frame and the join side must see ONE evaluation of the
    * RangePartitioner's sampled bounds or offsets could attach to a
    * different partitioning and sums would be silently wrong. */
  def globalRunningSum(df: DataFrame, outCol: String, value: Column,
      order: Column*): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // integral values only — a silent cast("long") would truncate a
    // DoubleType column per row and diverge from any window reference
    // without an error; widen to long explicitly at the call site if
    // the input is a narrower integral type
    val withV = df.withColumn("__gs_v", value)
    val vType = withV.schema("__gs_v").dataType
    require(Set[org.apache.spark.sql.types.DataType](
        org.apache.spark.sql.types.ByteType, org.apache.spark.sql.types.ShortType,
        org.apache.spark.sql.types.IntegerType, org.apache.spark.sql.types.LongType)
        .contains(vType),
      s"globalRunningSum requires an integral value column, got $vType")
    val ranged = withV.repartitionByRange(order: _*)
      .withColumn("__gs_pid", spark_partition_id())
      .withColumn("__gs_v", col("__gs_v").cast("long"))
      .localCheckpoint()
    val offsets = ranged.groupBy(col("__gs_pid")).agg(sum(col("__gs_v")).as("__gs_n"))
      .withColumn("__gs_off",
        coalesce(sum(col("__gs_n")).over(
          Window.orderBy(col("__gs_pid"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("__gs_pid"), col("__gs_off"))
    val w = Window.partitionBy(col("__gs_pid")).orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    ranged.join(broadcast(offsets), "__gs_pid")
      .withColumn(outCol,
        col("__gs_off") + coalesce(sum(col("__gs_v")).over(w), lit(0L)))
      .drop("__gs_pid", "__gs_off", "__gs_v")
  }

  /** SQL-standard `ntile(k)` from a 0-based global rank and the total
    * row count — pure integer arithmetic (the first `n % k` tiles get
    * `n/k + 1` rows, the rest `n/k`), bit-equal to the builtin on a
    * total order. With [[globalRank]] this is exact ntile with no
    * single-partition window anywhere in the plan. */
  def ntileFromRank(rank: Column, n: Column, k: Int): Column = {
    // Column `/` is double division; floor-div through double is exact
    // for operands < 2^53 — far above any realistic row count.
    def fdiv(a: Column, b: Column) =
      floor(a.cast("double") / b.cast("double")).cast("long")
    val size = fdiv(n, lit(k))
    val rem = n % k
    val big = size + 1
    // n < k ⇒ size = 0 and every rank sits in the first branch, so the
    // otherwise-division by zero is never evaluated (CaseWhen is lazy).
    when(rank < rem * big, fdiv(rank, big) + 1)
      .otherwise(rem + fdiv(rank - rem * big, size) + 1)
  }
}
