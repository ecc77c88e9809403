package graft.queries

import graft.streaming.OnlineFold
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The persisted, bucket-capped LSH band index shared by the MinHash,
  * SimHash and pHash dedup families: rows `(id, …, bucket columns)`,
  * at most [[BandIndex.Cap]] per bucket. The family owns its signatures,
  * its band explode and its confirm rule; this owns the lifecycle around
  * them — cap, delete, nightly roll, stream roll and the roster serve.
  * Each built artifact is written with `Staging.persist` and read back
  * with `Staging.read`.
  *
  * The cap keeps the LOWEST `Cap` ids per bucket. That rule is
  * composition-independent: any member of lowest(A ∪ B) drawn from A is
  * also in lowest(A), so `capped(capped(A) ∪ B) == capped(A ∪ B)`.
  * Appends and recaps are therefore exact against a from-scratch
  * rebuild, and every lifecycle oracle can be written in rebuild form
  * (one QUALIFY over the slice). An LRU or insertion-order cap would
  * not have this property.
  *
  * The nightly roll is `capped((index ∖ T) ∪ arrivals)`: a broadcast
  * anti-join on the id (O(tombstones); the index side never shuffles on
  * the tombstone key), a union and one re-cap. Anti-join and union are
  * pure functions of the delta SETS, so a stream that logs the deltas
  * micro-batch by micro-batch and folds them once after the drain lands
  * on the same artifact as the batch roll over staged frames.
  *
  * A delete without a re-cap ([[delete]]) is DIRECTIONAL. Members the
  * cap evicted are physically gone from the artifact, so in an over-cap
  * bucket a rebuild over the survivors re-admits members the tombstone
  * path cannot: tombstone-serve hits ⊆ rebuild hits, equal exactly when
  * no touched bucket was capped. It under-reports, never invents a hit.
  * The tombstones are kept beside the artifact and folded in at the
  * next roll or recap, which restores equality with the rebuild. */
private[graft] final case class BandIndex(id: String, buckets: Seq[String]) {

  /** The lowest-`Cap`-ids-per-bucket cap over `df`. */
  def capped(df: DataFrame): DataFrame =
    graft.operators.ScaleOps.capBuckets(df, buckets, id, BandIndex.Cap)

  /** `index` without the tombstoned ids — no re-cap (see the class doc). */
  def delete(index: DataFrame, tomb: DataFrame): DataFrame =
    index.join(broadcast(tomb.select(col(id))), Seq(id), "left_anti")

  /** The roll fold `capped((index ∖ tomb) ∪ arrivals)`. */
  def roll(index: DataFrame, tomb: DataFrame, arrivals: DataFrame): DataFrame =
    capped(delete(index, tomb).unionByName(arrivals))

  /** A stream roll's per-trigger body: tombstone ids and the family's
    * `arrivals` rows (built from the batch's arrival records alone) go
    * to `log/t<batchId>` and `log/a<batchId>` under `root`, both in
    * OVERWRITE mode, so a replayed batch converges and never
    * duplicates. */
  def logBatch(root: String, b: DataFrame, batchId: Long)(
      arrivals: DataFrame => DataFrame): Unit = {
    b.filter(col("kind") === "tomb").select(col(id))
      .write.mode("overwrite").parquet(s"$root/log/t$batchId")
    arrivals(b.filter(col("kind") === "arrival"))
      .write.mode("overwrite").parquet(s"$root/log/a$batchId")
  }

  /** A stream roll's post-drain tail: read every logged delta, `fold`
    * them into the index, persist the result as `root/rolled` and
    * re-read it. The rolled dir is rewritten per call, so its schema is
    * not memoized. */
  def rollLogs(s: SparkSession, root: String, arrivalSchema: String)(
      fold: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    val tomb = OnlineFold.readLogs(s, s"$root/log/t*", s"$id LONG")
    val arrivals = OnlineFold.readLogs(s, s"$root/log/a*", arrivalSchema)
    fold(tomb, arrivals).write.mode("overwrite").parquet(s"$root/rolled")
    s.read.parquet(s"$root/rolled")
  }

  /** The roster serve: the per-probe rollup `(id, n_index_dups,
    * first_dup)` right-joined to the probe roster, so a probe with no
    * index hit still appears with `n_index_dups = 0, is_dup = false`. */
  def serve(scored: DataFrame, roster: DataFrame): DataFrame =
    scored.join(roster, Seq(id), "right")
      .select(col(id),
        coalesce(col("n_index_dups"), lit(0L)).as("n_index_dups"),
        col("first_dup"), col("n_index_dups").isNotNull.as("is_dup"))
      .orderBy(col(id))
}

private[graft] object BandIndex {
  /** Bucket cap; every oracle's `QUALIFY row_number() … <= 200` mirrors it. */
  val Cap = 200

  val MinHash = BandIndex("doc_id", Seq("band", "bk1", "bk2"))
  val SimHash = BandIndex("doc_id", Seq("band", "bkey"))
  val Phash = BandIndex("img_id", Seq("band"))
}
