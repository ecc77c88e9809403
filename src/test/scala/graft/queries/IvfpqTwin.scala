package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions._

/** The relational IVFADC serve — joins, a grouped ADC sum and two
  * `row_number` windows — that `VectorQueries2.ivfpqServe` replaced with
  * three driver-coordinated jobs. It stays as that serve's differential
  * twin and as the serve of the ANN maintenance dial ([[AnnChurnDial]]).
  *
  * `queries(vec_id, q, n2)` each probe their `nprobe` nearest coarse
  * cells; per (query, probed cell) a residual LUT of exact int64 d2
  * values meets the cell's code rows, ADC sums rank a top-50
  * shortlist, and the exact cosine re-rank keeps the top 5. Output
  * `(q_id, vec_id, rnk, round(cosine, 6))` ordered by (q_id, rnk), as
  * the judged IVFADC queries emit it. */
object IvfpqTwin {

  def serve(v: DataFrame, queries: DataFrame, coarse: DataFrame, fine: DataFrame,
      codesC: DataFrame, nprobe: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wP = Window.partitionBy(col("vec_id")).orderBy(col("csim").desc, col("c_id"))
    val probes = queries.crossJoin(broadcast(coarse))
      .withColumn("csim", cosineFromQ(qdot(col("q"), col("cq")), col("n2"), col("cn2")))
      .withColumn("rn", row_number().over(wP)).filter(col("rn") <= nprobe)
      .select(col("vec_id").as("q_id"), col("c_id").as("cluster"))
    val qres = probes
      .join(queries.select(col("vec_id").as("q_id"), col("q")), Seq("q_id"))
      .join(broadcast(coarse.select(col("c_id").as("cluster"), col("cq"))), Seq("cluster"))
      .select(col("q_id"), col("cluster"), qsub(col("q"), col("cq")).as("r"))
    val qsubs = qres.select(col("q_id"), col("cluster"), posexplode(array(
        (0 until 8).map(t => slice(col("r"), t * 8 + 1, 8)): _*)).as(Seq("s", "sub")))
      .withColumn("sn2", qdot(col("sub"), col("sub")))
    val lut = qsubs.join(broadcast(fine), Seq("s"))
      .withColumn("d2", col("sn2") + col("cn2") - lit(2L) * qdot(col("sub"), col("csub")))
      .select(col("q_id"), col("cluster"), col("s"), col("c_id").as("code"), col("d2"))
    val cand = probes.join(codesC, Seq("cluster")).filter(col("vec_id") =!= col("q_id"))
    val adc = cand.join(broadcast(lut), Seq("q_id", "cluster", "s", "code"))
      .groupBy(col("q_id"), col("vec_id")).agg(sum(col("d2")).as("adc"))
    val wS = Window.partitionBy(col("q_id")).orderBy(col("adc"), col("vec_id"))
    val short = adc.withColumn("srn", row_number().over(wS)).filter(col("srn") <= 50)
      .select(col("q_id"), col("vec_id"))
    val qa = queries.select(col("vec_id").as("q_id"), col("q").as("qq"), col("n2").as("qn2"))
    val scored = short.join(broadcast(qa), Seq("q_id")).join(v, Seq("vec_id"))
      .withColumn("cosine", cosineFromQ(qdot(col("qq"), col("q")), col("qn2"), col("n2")))
    val wR = Window.partitionBy(col("q_id")).orderBy(col("cosine").desc, col("vec_id"))
    scored.withColumn("rnk", row_number().over(wR).cast("long"))
      .filter(col("rnk") <= 5)
      .select(col("q_id"), col("vec_id"), col("rnk"), round(col("cosine"), 6).as("cosine"))
      .orderBy(col("q_id"), col("rnk"))
  }
}
