package graft

import org.scalatest.funsuite.AnyFunSuite

/** Third implementation for the standalone k-means family (the
  * SpectralSpec discipline): a direct in-memory Scala replay of the
  * exact spherical-Lloyd fixed-point chain — seeds vec_id < k, max-
  * cosine assignment with lowest-c_id tiebreak, per-dimension integer
  * floor-mean update, 2 rounds — must match the engine bit-for-bit,
  * the DuckDB oracle being the second implementation. The dot products
  * are exact int64 and the cosine divides identical doubles, so the
  * three implementations have no legitimate reason to differ by even
  * one ULP. */
class KmeansSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val sf = TestSpark.sf0001

  private val K = 16
  private val Iters = 2 // VectorQueries.kmeansIters

  /** Quantized corpus collected through the higher-order-function form
    * of the quantization (`quantizeHof`'s lambda, not the engine's
    * native expression — their parity is ExpressionsSpec's; this spec
    * isolates the Lloyd loop). */
  private lazy val corpus: Array[(Long, Array[Long])] = {
    import org.apache.spark.sql.functions._
    spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"),
        expr("transform(embedding, x -> cast(round(cast(x as double) * 1000000, 0) as bigint))").as("q"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toArray)
      .sortBy(_._1)
  }

  private def dot(a: Array[Long], b: Array[Long]): Long =
    a.indices.map(i => a(i) * b(i)).sum

  private def assignDirect(cents: Seq[(Long, Array[Long])],
      over: Array[(Long, Array[Long])] = corpus): Map[Long, Long] = {
    val withN2 = cents.map { case (id, cq) => (id, cq, math.sqrt(dot(cq, cq).toDouble)) }
    over.map { case (vid, q) =>
      val qn = math.sqrt(dot(q, q).toDouble)
      // max cosine, ties -> lowest c_id: pick via strict > on the
      // double, scanning in ascending c_id order
      var bestId = -1L; var bestSim = Double.NegativeInfinity
      withN2.sortBy(_._1).foreach { case (cid, cq, cn) =>
        val sim = dot(q, cq).toDouble / (qn * cn)
        if (sim > bestSim) { bestSim = sim; bestId = cid }
      }
      vid -> bestId
    }.toMap
  }

  /** One Lloyd update round from `cents` over `over` — assignment +
    * per-dimension integer floor-mean (the engines' exact formula on
    * possibly-negative sums). */
  private def oneRound(cents: Seq[(Long, Array[Long])],
      over: Array[(Long, Array[Long])] = corpus): Seq[(Long, Array[Long])] = {
    val asg = assignDirect(cents, over)
    over.groupBy { case (vid, _) => asg(vid) }.toSeq.sortBy(_._1).map {
      case (cid, members) =>
        val d = members.head._2.length
        val cq = Array.tabulate(d) { i =>
          val sv = members.map(_._2(i)).sum
          val cnt = members.length.toLong
          (sv - ((sv % cnt + cnt) % cnt)) / cnt // floor div, both engines' formula
        }
        (cid, cq)
    }
  }

  /** Direct spherical Lloyd: returns (centroids sorted by c_id,
    * assignment vec_id -> c_id). */
  private def direct(): (Seq[(Long, Array[Long])], Map[Long, Long]) = {
    var cents: Seq[(Long, Array[Long])] =
      corpus.filter(_._1 < K).map { case (id, q) => (id, q) }
    for (_ <- 1 to Iters) cents = oneRound(cents)
    (cents.sortBy(_._1), assignDirect(cents))
  }

  test("vec_kmeans_train matches the direct spherical-Lloyd replay bit-for-bit") {
    val (cents, _) = direct()
    val want = cents.flatMap { case (cid, cq) =>
      cq.zipWithIndex.map { case (v, i) => (cid, i.toLong, v) }
    }
    val engine = SparkEntry.queries("vec_kmeans_train")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(engine === want)
  }

  test("vec_kmeans_assign matches the direct assignment bit-for-bit") {
    val (_, asg) = direct()
    val engine = SparkEntry.queries("vec_kmeans_assign")(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(engine === asg)
    val sizes = engine.groupBy(_._2).view.mapValues(_.size).toMap
    info(s"clusters: ${sizes.size} non-empty of $K, sizes ${sizes.toSeq.sortBy(_._1).map(_._2).mkString(",")}")
  }

  test("vec_kmeans_update: merged stats == full rebuild round, bit-for-bit; day-2 merge load-bearing") {
    import org.apache.spark.sql.functions.{col, sum => ssum}
    val (cents, _) = direct()
    // the rebuild form: one more direct Lloyd round over the FULL
    // corpus, then assignment — what the merged-statistics path must
    // reproduce exactly
    val cents3 = oneRound(cents).sortBy(_._1)
    val wantAsg = assignDirect(cents3)
    val engineAsg = SparkEntry.queries("vec_kmeans_update")(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(engineAsg === wantAsg)
    // the updated CODEBOOK itself (not just its assignments) equals
    // the rebuild round
    val upd = graft.queries.KmeansQueries.updatedKmeansArtifact(spark, sf)
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1).toArray)).sortBy(_._1)
    assert(upd.map(_._1).toSeq === cents3.map(_._1))
    upd.zip(cents3).foreach { case ((ei, ecq), (di, dcq)) =>
      assert(ei === di); assert(ecq.sameElements(dcq), s"centroid $ei diverges") }
    // the persisted artifact carries ONLY day-1 (even vec_id) members:
    // the day-2 fold is what completes the round, so the gate cannot
    // pass on a stale full-corpus artifact
    val statCnt = spark.read.parquet(
        graft.queries.KmeansQueries.kmeansStatsDir(spark, sf))
      .filter(col("pos") === 0).agg(ssum(col("cnt"))).head.getLong(0)
    val evens = corpus.count(_._1 % 2 == 0).toLong
    assert(statCnt === evens)
    assert(evens < corpus.length, "fixture has no odd vec_ids - merge vacuous")
  }

  test("stream_kmeans_update: stream-rolled codebook equals the batch update roll, bit-for-bit") {
    // round-18: stream == batch for the k-means roll — the per-batch
    // logged sufficient statistics sum (commutative group) to the
    // one-shot day-2 stats, so the folded codebook must equal
    // updatedKmeansArtifact's frame exactly; a dropped batch, a
    // double-logged trigger, or a stats-schema drift breaks it
    import org.apache.spark.sql.functions.col
    SparkEntry.queries("stream_kmeans_update")(spark, sf).collect()
    val cols = Seq("c_id", "cq", "cn2").map(col)
    val streamCb = spark.read.parquet(graft.Staging.dir("kmsupd", sf) + "/codebook")
      .select(cols: _*)
    val batchCb = graft.queries.KmeansQueries.updatedKmeansArtifact(spark, sf)
      .select(cols: _*)
    assert(batchCb.count() > 0, "batch update codebook is empty - vacuous gate")
    assert(streamCb.exceptAll(batchCb).count() == 0 &&
      batchCb.exceptAll(streamCb).count() == 0,
      "stream-rolled codebook diverged from the batch update roll")
  }

  test("vec_kmeans_delete: subtracted stats == survivor rebuild round, bit-for-bit; tombstones load-bearing") {
    import org.apache.spark.sql.functions.{col, sum => ssum}
    val (cents, _) = direct()
    val survivors = corpus.filter(_._1 % 10 != 7)
    assert(survivors.length < corpus.length, "fixture has no vec_id % 10 == 7 - delete vacuous")
    // the rebuild form: one more direct Lloyd round over SURVIVORS
    // only, then survivor assignment — what the subtraction path must
    // reproduce exactly (no directional carve-out: sufficient
    // statistics subtract exactly)
    val centsD = oneRound(cents, survivors).sortBy(_._1)
    val wantAsg = assignDirect(centsD, survivors)
    val engineAsg = SparkEntry.queries("vec_kmeans_delete")(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(engineAsg === wantAsg)
    assert(engineAsg.keySet.forall(_ % 10 != 7), "a tombstoned vector was served")
    // the deleted CODEBOOK itself equals the survivor rebuild round
    val del = graft.queries.KmeansQueries.deletedKmeansArtifact(spark, sf)
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1).toArray)).sortBy(_._1)
    assert(del.map(_._1).toSeq === centsD.map(_._1))
    del.zip(centsD).foreach { case ((ei, ecq), (di, dcq)) =>
      assert(ei === di); assert(ecq.sameElements(dcq), s"centroid $ei diverges") }
    // load-bearing: the subtraction moved at least one centroid
    // coordinate vs the no-delete round-3 codebook (a gate that would
    // also pass on the unsubtracted stats is vacuous)
    val cents3 = oneRound(cents).sortBy(_._1)
    assert(!del.zip(cents3).forall { case ((_, ecq), (_, fcq)) => ecq.sameElements(fcq) },
      "delete left every centroid unchanged - tombstones not load-bearing")
    // the persisted standing artifact is genuinely FULL-corpus (the
    // subtraction, not a pre-filtered build, is what does the work)
    val statCnt = spark.read.parquet(
        graft.queries.KmeansQueries.kmeansStatsFullDir(spark, sf))
      .filter(col("pos") === 0).agg(ssum(col("cnt"))).head.getLong(0)
    assert(statCnt === corpus.length.toLong)
  }
}
