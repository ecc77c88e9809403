package graft

import graft.operators.ScaleOps
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class ScaleOpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("bucketed co-located join runs without a shuffle on the join key") {
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      ScaleOps.writeBucketed(Tables.orders(spark, TestSpark.sf0001), "orders_b", 4, Seq("o_orderkey"))
      ScaleOps.writeBucketed(
        Tables.lineitem(spark, TestSpark.sf0001)
          .select(col("l_orderkey").as("o_orderkey"), col("l_quantity")),
        "lineitem_b", 4, Seq("o_orderkey"))
      val joined = spark.table("orders_b").join(spark.table("lineitem_b"), "o_orderkey")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"bucketed join still shuffles:\n$plan")
      assert(joined.count() === 6000L)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      spark.sql("DROP TABLE IF EXISTS orders_b")
      spark.sql("DROP TABLE IF EXISTS lineitem_b")
    }
  }

  test("capBuckets bounds a degenerate corpus's candidate pairs") {
    // 1000 identical docs → every row lands in the SAME bucket; an
    // uncapped self-join would score C(1000,2) = 499,500 pairs.
    val degenerate = (1L to 1000L).map(i => (i, "the same boilerplate text"))
      .toDF("doc_id", "text")
      .withColumn("bucket", md5(col("text")))
    val capped = ScaleOps.capBuckets(degenerate, Seq("bucket"), "doc_id", cap = 50)
    assert(capped.count() === 50)
    val pairs = capped.select(col("bucket"), col("doc_id").as("id_a"))
      .join(capped.select(col("bucket"), col("doc_id").as("id_b")), Seq("bucket"))
      .filter(col("id_a") < col("id_b"))
    assert(pairs.count() === 50L * 49L / 2L, "bucket contribution must be O(cap^2)")
    // deterministic selection: the cap keeps the LOWEST doc_ids
    assert(capped.agg(max("doc_id")).head().getLong(0) === 50L)
    // non-degenerate buckets pass through untouched
    val mixed = Seq((1L, "a"), (2L, "a"), (3L, "b")).toDF("doc_id", "bucket")
    assert(ScaleOps.capBuckets(mixed, Seq("bucket"), "doc_id", cap = 50).count() === 3)
  }

  test("judged minhash/simhash stay bounded on a degenerate corpus (end-to-end)") {
    // 300 identical docs through the REAL judged query paths: every
    // doc collides in every band/bucket, so without the capBuckets
    // guard the self-joins would score C(300,2) = 44,850 pairs (and
    // quadratically worse at corpus scale). With cap=200 the pair
    // count is bounded by C(200,2).
    val dir = java.nio.file.Files.createTempDirectory("graft_degen").toString
    // full fixture schema (incl. lang): the simhash path now tokenizes
    // through the shared SharedText artifact, which reads the standard
    // documents columns — a degenerate corpus is still a documents table
    (1L to 300L).map(i => (i, "identical boilerplate text repeated across the corpus " * 3, "en"))
      .toDF("doc_id", "text", "lang")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val bound = 200L * 199L / 2L
    val minhashPairs = SparkEntry.queries("dedup_minhash_lsh")(spark, dir).count()
    assert(minhashPairs > 0L && minhashPairs <= bound,
      s"minhash candidate pairs $minhashPairs outside (0, $bound]")
    val simhashPairs = SparkEntry.queries("dedup_simhash")(spark, dir).count()
    assert(simhashPairs > 0L && simhashPairs <= bound,
      s"simhash candidate pairs $simhashPairs outside (0, $bound]")
  }

  test("intervalOverlapJoin equals the naive overlap join, exactly once per pair") {
    // irregular lengths (some spanning several bins), duplicates of the
    // same interval, touching endpoints, and an inverted interval
    val iv = Seq(
      (1L, 0.00, 0.05), (2L, 0.04, 0.30), (3L, 0.30, 0.31), (4L, 0.50, 0.55),
      (5L, 0.00, 0.05), (6L, 0.29, 0.52), (7L, 0.90, 0.10) /* inverted */
    )
    val a = iv.toDF("a_id", "a_st", "a_en")
    val b = iv.map { case (i, s2, e) => (i, s2, e) }.toDF("b_id", "b_st", "b_en")
    val got = ScaleOps.intervalOverlapJoin(a, b, "a_st", "a_en", "b_st", "b_en", binWidth = 0.1)
      .select($"a_id", $"b_id").as[(Long, Long)].collect().sorted.toSeq
    val naive = a.filter($"a_en" >= $"a_st").join(b.filter($"b_en" >= $"b_st"),
        $"a_st" <= $"b_en" && $"b_st" <= $"a_en")
      .select($"a_id", $"b_id").as[(Long, Long)].collect().sorted.toSeq
    assert(got === naive, s"got=$got")
    // multi-bin pair (2,6) overlaps across bins but appears exactly once
    assert(got.count(_ == (2L, 6L)) === 1)
    // the inverted interval matched nothing, even though the raw
    // predicate would have accepted it against (4)
    assert(!got.exists(p => p._1 == 7L || p._2 == 7L))
    // and the plan is a hash/merge join on the bucket, not a loop
    val p = ScaleOps.intervalOverlapJoin(a, b, "a_st", "a_en", "b_st", "b_en", 0.1)
      .queryExecution.executedPlan.toString
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p.take(2000))
  }

  test("repartitionByKey produces the requested partitioning") {
    val df = ScaleOps.repartitionByKey(Tables.orders(spark, TestSpark.sf0001), 8, col("o_custkey"))
    assert(df.rdd.getNumPartitions === 8)
  }

  test("globalRank + ntileFromRank equal the builtin window forms, incl. uneven remainders") {
    import org.apache.spark.sql.expressions.Window
    // n = 13, k = 5 exercises the remainder path (3 tiles of 3, 2 of 2);
    // shuffled insert order and duplicate metric values exercise the
    // total-order tie-break across range-partition boundaries
    for (n <- Seq(13, 20, 4)) {
      val rows = scala.util.Random.shuffle((1 to n).toList)
        .map(i => (i.toLong, (i % 7).toLong)) // duplicate metrics
      val df = rows.toDF("id", "m")
      val ranked = ScaleOps.globalRank(df, "rk", $"m", $"id")
        .withColumn("tile", ScaleOps.ntileFromRank($"rk", lit(n.toLong), 5))
      val ref = df
        .withColumn("ref_rk", row_number().over(Window.orderBy($"m", $"id")) - 1)
        .withColumn("ref_tile", ntile(5).over(Window.orderBy($"m", $"id")).cast("long"))
      val bad = ranked.join(ref, "id")
        .filter($"rk" =!= $"ref_rk" || $"tile" =!= $"ref_tile").collect()
      assert(bad.isEmpty, s"n=$n divergent: ${bad.mkString(", ")}")
    }
    // and the scale property the helper exists for: no unpartitioned
    // row-level window — every WindowExec over the data rows is keyed
    // by the partition id; the only global window runs on the
    // one-row-per-partition offsets frame
    val big = (1 to 1000).map(i => (i.toLong, (i % 13).toLong)).toDF("id", "m")
    val plan = ScaleOps.globalRank(big, "rk", $"m", $"id")
      .queryExecution.optimizedPlan.toString
    assert(plan.contains("__gr_pid"), plan.take(1500))
  }

  test("globalRunningSum equals the single-partition exclusive window, incl. ties and zeros") {
    import org.apache.spark.sql.expressions.Window
    // seeded shuffle: the permutation determines the range-partition
    // boundaries under test — a failure must be reproducible
    val rng = new scala.util.Random(42)
    for (n <- Seq(13, 200, 4)) {
      // duplicate order keys + zero values exercise tie-breaks across
      // range-partition boundaries and the empty-prefix coalesce
      val rows = rng.shuffle((1 to n).toList)
        .map(i => (i.toLong, (i % 7).toLong, (i % 5).toLong))
      val df = rows.toDF("id", "m", "v")
      val got = ScaleOps.globalRunningSum(df, "run", $"v", $"m", $"id")
      val ref = df.withColumn("ref_run",
        coalesce(sum($"v").over(Window.orderBy($"m", $"id")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      val bad = got.join(ref.select($"id".as("rid"), $"ref_run"), $"id" === $"rid")
        .filter($"run" =!= $"ref_run").collect()
      assert(bad.isEmpty, s"n=$n divergent: ${bad.mkString(", ")}")
      // globally-first row gets 0; the full sum is never included
      val mx = got.agg(max($"run" + $"v"), min($"run")).head
      assert(mx.getLong(1) === 0L)
      assert(mx.getLong(0) === rows.map(_._3).sum)
    }
    // scale property: no unpartitioned row-level window on the data
    val big = (1 to 1000).map(i => (i.toLong, (i % 13).toLong, 1L)).toDF("id", "m", "v")
    val plan = ScaleOps.globalRunningSum(big, "run", $"v", $"m", $"id")
      .queryExecution.optimizedPlan.toString
    assert(plan.contains("__gs_pid"), plan.take(1500))
  }
}
