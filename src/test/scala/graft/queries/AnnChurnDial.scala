package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions._

/** The ANN quality-after-maintenance dial behind QueriesSpec's
  * staleness-floor gate (findings: PLANS.md round 18, "ANN
  * quality-after-maintenance dial"). The IVFPQ append/delete rolls keep
  * their codebooks FROZEN; this measures what that staleness costs.
  *
  * For churn fraction c (appends c% + deletes c% of the corpus):
  *   base    B = vec_id%100 ∉ [50, 50+c)      (what the codebooks saw)
  *   deletes D = vec_id%100 ∈ [50−c, 50)      (departed training data)
  *   standing S = (B ∖ D) ∪ A = vec_id%100 ∉ [50−c, 50)
  *   STALE index: coarse+fine trained on B, ALL of S assigned+encoded
  *     off the frozen codebooks (exactly the maintained artifact the
  *     judged rolls produce);
  *   FRESH index: coarse+fine retrained on S (the scheduled rebuild).
  * Both serve the same 20 query vectors (vec_id < 20 ⊂ B ∖ D, so only
  * INDEX quality moves) at nprobe=2, ADC shortlist 50, exact re-rank
  * top-5; recall@5 against the brute-force exact top-5 over S.
  * Deterministic (Lloyd from fixed seeds, integer arithmetic).
  *
  * The serve ([[IvfpqTwin]]) and exact helpers take the query set as a
  * parameter: the engine's versions pin vec_id < 5, and 20 queries give
  * the dial 100 neighbor slots. */
object AnnChurnDial {

  private val NQueries = 20

  /** Brute-force exact top-5 over the standing corpus. */
  private def exact(vS: DataFrame, queries: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val qa = queries.select(col("vec_id").as("q_id"), col("q").as("qq"), col("n2").as("qn2"))
    val pairs = vS.join(broadcast(qa), col("vec_id") =!= col("q_id"))
      .withColumn("cosine", cosineFromQ(qdot(col("q"), col("qq")), col("n2"), col("qn2")))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cosine").desc, col("vec_id"))
    pairs.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= 5)
      .select(col("q_id"), col("vec_id"))
  }

  private def recallAt5(ann: DataFrame, ex: DataFrame): Double = {
    val hits = ex.join(ann, Seq("q_id", "vec_id"), "left_semi").count()
    hits.toDouble / ex.count()
  }

  /** One dial cell: (recall@5 of the STALE maintained index, recall@5
    * of the FRESH retrain, |S|) at churn percent `c` per side. */
  def recallPair(spark: SparkSession, sfDir: String,
      c: Int): (Double, Double, Long) = {
    require(c > 0 && c <= 25,
      "churn percent must be in (0, 25] so deletes/arrivals stay disjoint " +
        s"and the $NQueries query vectors stay standing")
    val v = VectorQueries.ivfCorpus(spark, sfDir).localCheckpoint()
    val res = pmod(col("vec_id"), lit(100L))
    val vB = v.filter(res < 50 || res >= 50 + c).localCheckpoint()
    val vS = v.filter(res < 50 - c || res >= 50).localCheckpoint()
    val queries = vS.filter(col("vec_id") < NQueries).localCheckpoint()
    val ex = exact(vS, queries).localCheckpoint()

    def buildAndServe(train: DataFrame): Double = {
      val coarse = VectorQueries.lloydCentroids(train, 8).localCheckpoint()
      val asgTrain = VectorQueries.ivfAssign(train, coarse)
      val fine = VectorQueries.lloydSubCentroids(
        VectorQueries2.ivfpqResiduals(train, coarse, asgTrain), 16).localCheckpoint()
      // the maintained artifact: the FULL standing corpus encoded off
      // these codebooks (per-vector pure — exactly what the judged
      // append/delete rolls leave on disk)
      val asgS = VectorQueries.ivfAssign(vS, coarse)
      val codes = VectorQueries.pqEncode(
          VectorQueries2.ivfpqResiduals(vS, coarse, asgS), fine)
        .join(asgS, Seq("vec_id")).localCheckpoint()
      recallAt5(IvfpqTwin.serve(vS, queries, coarse, fine, codes, nprobe = 2)
        .select(col("q_id"), col("vec_id")), ex)
    }

    (buildAndServe(vB), buildAndServe(vS), vS.count())
  }
}
