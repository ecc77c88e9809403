package graft.queries

import graft.expressions.{NearestCentroidKernel, TopK}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData, SQLOrderingUtil}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The driver-coordinated IVFADC serve (`VectorQueries2.ivfpqServe`)
  * against its relational twin ([[IvfpqTwin]]) on the shapes that can
  * split them and at every recall-dial depth, the bounded top-k kernel
  * both the serve and the nearest-centroid expression run, and the
  * window rule (`VectorQueries.cosineTopK`) the relational top-k sites
  * rank by. */
class IvfpqServeSpec extends AnyFunSuite {
  lazy val spark = graft.TestSpark.spark
  private val sf = graft.TestSpark.sf0001

  /** The corpus vectors under `vec_id` residual-encoded off frozen
    * codebooks: the cluster-keyed code table `(vec_id, s, code, cluster)`. */
  private def encode(v: DataFrame, coarse: DataFrame, fine: DataFrame): DataFrame = {
    val asg = VectorQueries.ivfAssign(v, coarse)
    VectorQueries.pqEncode(VectorQueries2.ivfpqResiduals(v, coarse, asg), fine)
      .join(asg, Seq("vec_id")).localCheckpoint()
  }

  /** The fixture index, trained as the judged IVFADC queries train it. */
  private lazy val index = {
    val v = VectorQueries.ivfCorpus(spark, sf).localCheckpoint()
    val coarse = VectorQueries.lloydCentroids(v, 8)
    val fine = VectorQueries.lloydSubCentroids(
      VectorQueries2.ivfpqResiduals(v, coarse, VectorQueries.ivfAssign(v, coarse)), 16)
    (v, coarse, fine, encode(v, coarse, fine))
  }

  /** Serves `codes` both ways at `nprobe` and asserts equal rows in
    * equal order. */
  private def servedAlike(v: DataFrame, coarse: DataFrame, fine: DataFrame,
      codes: DataFrame, nprobe: Int = 2): Seq[Row] = {
    val got = VectorQueries2.ivfpqServe(v, coarse, fine, codes, nprobe).collect().toSeq
    val want = IvfpqTwin.serve(v, v.filter(col("vec_id") < 5), coarse, fine, codes, nprobe)
      .collect().toSeq
    assert(got.size === 25)
    assert(got === want)
    got
  }

  test("ivfpqServe == relational twin on the fixture, as sim_ann_ivfpq serves it") {
    val (v, coarse, fine, codes) = index
    val got = servedAlike(v, coarse, fine, codes)
    assert(graft.SparkEntry.queries("sim_ann_ivfpq")(spark, sf).collect().toSeq === got)
  }

  for (depth <- Seq(1, 4)) test(s"ivfpqServe == twin at nprobe $depth, the recall dial's depth") {
    val (v, coarse, fine, codes) = index
    val got = servedAlike(v, coarse, fine, codes, nprobe = depth)
    assert(got !== VectorQueries2.ivfpqServe(v, coarse, fine, codes, 2).collect().toSeq,
      s"nprobe $depth must serve other rows than nprobe 2 on the fixture")
  }

  test("ivfpqServe == twin when one vector's code rows span partitions") {
    val (v, coarse, fine, codes) = index
    val split = codes.repartition(4, col("s"))
    val spread = split.withColumn("part", spark_partition_id())
      .groupBy(col("vec_id")).agg(countDistinct(col("part")).as("parts"))
      .filter(col("parts") > 1).count()
    assert(spread > 0, "the repartitioned code table must split some vector's rows")
    servedAlike(v, coarse, fine, split)
  }

  test("ivfpqServe == twin when duplicated vectors tie on adc and cosine") {
    val (v, coarse, fine, _) = index
    // every vector twice, and 60 copies of query 0: more equal-ADC
    // candidates than the 50-long shortlist holds, so the shortlist cut
    // and the re-rank both fall inside a tie and the lowest ids must win
    val copies = v.filter(col("vec_id") === 0).crossJoin(spark.range(60).toDF("c"))
      .select((col("c") + 2000000L).as("vec_id"), col("q"), col("n2"))
    val dup = v.union(v.withColumn("vec_id", col("vec_id") + 1000000L)).union(copies)
      .localCheckpoint()
    val got = servedAlike(dup, coarse, fine, encode(dup, coarse, fine))
    assert(got.filter(_.getLong(0) == 0).map(_.getLong(1)) ===
      1000000L +: (2000000L until 2000004L), "query 0's top 5 must be its five lowest-id copies")
    assert(got.groupBy(r => (r.getLong(0), r.getDouble(3))).exists(_._2.size > 1),
      "the duplicated corpus must produce cosine ties in the served top 5")
  }

  test("ivfpqServe == twin when a probed cluster has no candidates") {
    val (v, coarse, fine, codes) = index
    val probed = VectorQueries.ivfProbes(v, coarse, 2).filter(col("q_id") === 0)
      .select(col("cluster")).head().getLong(0)
    val emptied = codes.filter(col("cluster") =!= probed)
    assert(emptied.count() < codes.count())
    servedAlike(v, coarse, fine, emptied)
  }

  test("cosineTopK: equal cosines keep the lower id, and the cut falls at k") {
    import spark.implicits._
    // group 0: NaN ranks largest, the 0.9 pair ties, and the cut at k = 4
    // falls inside the three-way 0.5 tie; group 1 has fewer than k rows.
    // RDD-backed, so no local-relation folding runs before the window.
    val scored = spark.sparkContext.parallelize(Seq((0L, 5L, 0.5), (0L, 8L, 0.9), (0L, 1L, 0.2),
      (0L, 4L, 0.5), (0L, 3L, 0.9), (0L, 6L, Double.NaN), (0L, 2L, 0.5),
      (1L, 11L, 0.1), (1L, 10L, 0.1)), 3).toDF("g", "id", "cosine")
    val top = VectorQueries.cosineTopK(scored, "g", "id", 4)
    assert(top.schema("rnk").dataType === org.apache.spark.sql.types.LongType)
    val got = top.orderBy(col("g"), col("rnk")).select(col("g"), col("id"), col("rnk"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got === Seq((0L, 6L, 1L), (0L, 3L, 2L), (0L, 8L, 3L), (0L, 2L, 4L),
      (1L, 10L, 1L), (1L, 11L, 2L)))
  }

  // ---- the bounded top-k kernel ----

  /** The single-winner loop the top-k kernel generalised, kept as the
    * k = 1 reference. */
  private def refPick(v: ArrayData, n2: Long, cb: ArrayData, l2: Boolean,
      failOnError: Boolean): Int = {
    var best = -1
    var bestId = 0L
    var bestCos = 0.0
    var bestD2 = 0L
    for (j <- 0 until cb.numElements() if !cb.isNullAt(j)) {
      val c = cb.getStruct(j, 3)
      if (!c.isNullAt(0) && !c.isNullAt(1) && !c.isNullAt(2)) {
        val id = c.getLong(0)
        val cv = c.getArray(1)
        val cn2 = c.getLong(2)
        var dot = 0L
        for (i <- 0 until v.numElements() if !v.isNullAt(i) && !cv.isNullAt(i))
          dot += v.getLong(i) * cv.getLong(i)
        if (l2) {
          val d2 =
            if (failOnError) Math.subtractExact(Math.addExact(n2, cn2), Math.multiplyExact(2L, dot))
            else n2 + cn2 - 2L * dot
          if (best < 0 || d2 < bestD2 || (d2 == bestD2 && id < bestId)) {
            best = j; bestId = id; bestD2 = d2
          }
        } else {
          val den = Math.sqrt(n2.toDouble) * Math.sqrt(cn2.toDouble)
          if (den != 0.0) {
            val cos = dot.toDouble / den
            val cmp = if (best < 0) 1 else SQLOrderingUtil.compareDoubles(cos, bestCos)
            if (cmp > 0 || (cmp == 0 && id < bestId)) {
              best = j; bestId = id; bestCos = cos
            }
          }
        }
      }
    }
    best
  }

  private def arr(xs: Seq[Any]): ArrayData =
    if (xs == null) null else new GenericArrayData(xs.toArray)

  private def book(entries: Seq[(Any, Seq[Any], Any)]): ArrayData =
    new GenericArrayData(entries.map { case (id, vec, n2) =>
      new GenericInternalRow(Array[Any](id, arr(vec), n2)): Any
    }.toArray)

  /** ExpressionsSpec's nearest_centroid tie codebook: cosine ties among
    * c_id 7, 5 and 3 (one direction), d2 ties between 9 and 4 from the
    * origin, and an entry with a null vector. */
  private val tieBook = book(Seq((7L, Seq(1L, 2L), 5L), (5L, Seq(2L, 4L), 20L),
    (3L, Seq(1L, 2L), 5L), (9L, Seq(1L, 0L), 1L), (4L, Seq(0L, 1L), 1L), (8L, null, 1L)))
  private val tieVecs = Seq((Seq(1L, 2L), 5L), (Seq(2L, 1L), 5L), (Seq(0L, 0L), 0L),
    (Seq(-3L, 0L), 9L))

  private def ids(t: TopK): Seq[Long] = (0 until t.size).map(t.id)

  test("top-k kernel: k = 1 is the old nearest-centroid pick on the ExpressionsSpec inputs") {
    val rows = VectorQueries.ivfCorpus(spark, sf).collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1), r.getLong(2)))
    val subs = rows.map { case (id, q, _) => (id, q.slice(8, 16), q.slice(8, 16).map(x => x * x).sum) }
    val cases = Seq(
      (rows.toSeq, book(rows.filter(_._1 < 8).toSeq)),
      (subs.toSeq, book(subs.filter(_._1 < 16).toSeq)),
      (tieVecs.zipWithIndex.map { case ((q, n2), i) => (i.toLong, q, n2) }, tieBook))
    for ((vecs, cb) <- cases; l2 <- Seq(false, true); ansi <- Seq(false, true);
         (_, q, n2) <- vecs if l2 || !ansi || n2 != 0L) {
      val want = refPick(arr(q), n2, cb, l2, ansi)
      assert(NearestCentroidKernel.pick(arr(q), n2, cb, l2, ansi) === want, s"l2=$l2 ansi=$ansi $q")
      val top = NearestCentroidKernel.topK(arr(q), n2, cb, l2, ansi, 1)
      assert((if (top.size == 0) -1 else top.slot(0)) === want)
    }
  }

  test("top-k kernel: ties go to the lowest id, and k past the codebook keeps every scoring entry") {
    val cos = NearestCentroidKernel.topK(arr(Seq(1L, 2L)), 5L, tieBook, l2 = false, true, 2)
    assert(ids(cos) === Seq(3L, 5L))
    val all = NearestCentroidKernel.topK(arr(Seq(1L, 2L)), 5L, tieBook, l2 = false, true, 10)
    assert(ids(all).take(3) === Seq(3L, 5L, 7L) && all.size === 5,
      "the null-vector entry never scores; the other five all come back")
    val d2 = NearestCentroidKernel.topK(arr(Seq(0L, 0L)), 0L, tieBook, l2 = true, true, 10)
    assert(ids(d2) === Seq(4L, 9L, 3L, 7L, 5L))
    assert((0 until d2.size).map(d2.d2) === Seq(1L, 1L, 5L, 5L, 20L))
    val none = NearestCentroidKernel.topK(arr(Seq(0L, 0L)), 0L, tieBook, l2 = true, true, 0)
    assert(none.size === 0)
  }

  test("top-k kernel: NaN ranks largest and -0.0 ties 0.0, whatever the offer order") {
    val offers = Seq((1L, 0.5), (2L, Double.NaN), (3L, 0.0), (4L, 1.0), (5L, -0.0), (6L, -1.0))
    for (order <- offers.permutations.take(120)) {
      val t = new TopK(5, l2 = false)
      order.foreach { case (id, c) => t.offerCos(id.toInt, id, c) }
      assert(ids(t) === Seq(2L, 4L, 1L, 3L, 5L), order)
      assert(t.cosine(0).isNaN)
    }
    // a negative norm gives a NaN cosine through the kernel's own division
    val t = new TopK(2, l2 = false)
    t.offerCosine(0, 9L, 3L, 4L, 4L, failOnError = true)
    t.offerCosine(1, 8L, 1L, -1L, 4L, failOnError = true)
    assert(ids(t) === Seq(8L, 9L))
  }
}
