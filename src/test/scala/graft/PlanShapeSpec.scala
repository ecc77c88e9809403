package graft

import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape regression guards for the scale-critical properties the
  * judged queries rely on (PLANS.md documents the full plans; these
  * assertions keep them from silently regressing):
  *  - filters/columns reach the parquet scan (pushdown + pruning),
  *  - dimension joins broadcast (no fact-side shuffle),
  *  - top-k plans as TakeOrderedAndProject (no global sort),
  *  - aggregates are partial (map-side combine) around one Exchange,
  *  - the partitioned sink's read-back prunes dt= directories.
  */
class PlanShapeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val sf = TestSpark.sf0001

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  test("a10_filter: predicate reaches the parquet scan as PushedFilters") {
    val p = plan("a10_filter")
    assert(p.contains("PushedFilters") && p.contains("l_returnflag"), p.take(2000))
  }

  test("q03_top_orders: dimension join broadcasts and top-k is TakeOrderedAndProject") {
    val p = plan("q03_top_orders")
    assert(p.contains("BroadcastHashJoin"), "customer join must broadcast")
    assert(p.contains("TakeOrderedAndProject"), "LIMIT+ORDER BY must not global-sort")
  }

  test("q01_agg: partial aggregation (two HashAggregates around one Exchange)") {
    val p = plan("q01_agg")
    assert("HashAggregate".r.findAllIn(p).size >= 2, "map-side partial agg missing")
  }

  test("agg_rollup: lineitem pre-aggregates BELOW the orders join") {
    val p = plan("agg_rollup")
    // the pre-agg makes every join in the plan broadcastable: no
    // SortMergeJoin/ShuffledHashJoin should appear at fixture scale
    val aggIdx = p.indexOf("HashAggregate")
    val joinIdx = p.indexOf("BroadcastHashJoin")
    assert(aggIdx >= 0 && joinIdx >= 0, p.take(2000))
    assert(p.lastIndexOf("HashAggregate") > joinIdx,
      "a HashAggregate must sit below the join (lineitem partials)")
  }

  test("sim_lang_centroid: documents dimension enters via broadcast") {
    assert(plan("sim_lang_centroid").contains("BroadcastHashJoin"))
  }

  test("a17 read-back: dt partition filter prunes directories") {
    val p = plan("a17_clustered_sink")
    assert(p.contains("PartitionFilters") && p.contains("dt"), p.take(2000))
  }

  test("a01 landing scan: dt filter is pushed to the connector") {
    // the assertion sits near Spark's 100-char scan-description
    // truncation limit when tmpdir paths are long — widen it here
    spark.conf.set("spark.sql.maxMetadataStringLength", "1000")
    try {
      val p = plan("a01_landing_roundtrip")
      assert(p.contains("pushedDt=[EqualTo(dt,19970101)]"), p.take(2000))
    } finally spark.conf.unset("spark.sql.maxMetadataStringLength")
  }

  test("join_range: equi-key carries the join (SMJ/SHJ), range is a filter") {
    val p = plan("join_range")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), // AQE may broadcast at fixture scale
      "time-range self-join must join on the user_id equi key, not nested-loop: " + p.take(2000))
    assert(!p.contains("CartesianProduct"))
  }

  test("subquery_exists: EXISTS/NOT EXISTS decorrelate to semi/anti joins") {
    val p = plan("subquery_exists")
    assert(p.contains("LeftSemi"), "EXISTS must become a left-semi join")
    assert(p.contains("LeftAnti"), "NOT EXISTS must become a left-anti join")
  }

  test("agg_salted: both phases are hash aggregates with map-side partials") {
    val p = plan("agg_salted")
    assert("HashAggregate".r.findAllIn(p).size >= 4,
      "salted two-phase agg should plan 2x(partial+final) HashAggregates: " + p.take(2000))
  }

  test("events_top_paths: row_number pre-limit plans as WindowGroupLimit (O(5) agg state)") {
    val p = plan("events_top_paths")
    assert(p.contains("WindowGroupLimit"),
      "the rn<=5 pre-filter must push down as WindowGroupLimit so per-user " +
        "collect_list state stays O(5): " + p.take(2000))
  }

  test("agg_collect: rn<=16 pre-limit plans as WindowGroupLimit (O(16) agg state)") {
    val p = plan("agg_collect")
    assert(p.contains("WindowGroupLimit"),
      "the rn<=16 pre-filter must push down as WindowGroupLimit so per-customer " +
        "collect_list state stays O(16): " + p.take(2000))
  }

  test("curate_reservoir: stratified sample pre-limits as WindowGroupLimit (O(k) per stratum)") {
    val p = plan("curate_reservoir")
    assert(p.contains("WindowGroupLimit"),
      "the rk<=20 sample filter must push down as partial+final WindowGroupLimit " +
        "so map tasks keep at most k rows per language before the exchange: " + p.take(2000))
  }

  test("vec_kmeans_assign: codebook broadcasts; corpus never sort-merge-joins") {
    // the codebook must enter the serve pass as a broadcast
    // (BroadcastNestedLoopJoin under the crossJoin form) —
    // a SortMergeJoin would mean the CORPUS shuffled on a join key,
    // the one plan shape that breaks the family's 100 TB story. The
    // judged query serves from the checkpointed km16_asg artifact, so
    // inspect the actual assignment lineage (the train guard's move)
    val p = graft.queries.KmeansQueries.assignLineage(spark, sf)
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastNestedLoopJoin"),
      "centroids must broadcast into the assignment pass: " + p.take(2000))
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      "corpus must not shuffle-join or cartesian against the codebook: " + p.take(2000))
  }

  test("vec_kmeans_train: one job per Lloyd round, no training stage writes shuffle") {
    // training is a driver-held fold (the judged query serves the
    // memoized artifact), so its shape is measured, not read off a
    // plan: around one unmemoized training run, the seed pick is one
    // job and each Lloyd round exactly one more (beyond the jobs the
    // parquet read itself starts), and no stage shuffles
    import java.util.concurrent.atomic.AtomicLong
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
    val sc = spark.sparkContext
    val jobs = new AtomicLong
    val shuffleBytes = new AtomicLong
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        Option(e.stageInfo.taskMetrics).foreach(m =>
          shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten))
    }
    def measured[T](f: => T): (T, Long) = {
      org.apache.spark.graftbus.ListenerBusDrain.drain(sc)
      jobs.set(0)
      val out = f
      org.apache.spark.graftbus.ListenerBusDrain.drain(sc)
      (out, jobs.get)
    }
    // the fixture's schema is memoized per application: one unmeasured
    // read first, so the measured read starts the same jobs whatever
    // ran before this test
    Tables.embeddings(spark, sf)
    sc.addSparkListener(listener)
    val ((cents, trainJobs), readJobs) = try {
      val (_, r) = measured(Tables.embeddings(spark, sf))
      (measured(graft.queries.KmeansQueries.trainLineage(spark, sf)), r)
    } finally sc.removeSparkListener(listener)
    assert(trainJobs - readJobs === graft.queries.VectorQueries.kmeansIters + 1,
      s"training must be the seed pick plus one job per Lloyd round ($trainJobs jobs, $readJobs for the read)")
    assert(shuffleBytes.get === 0L, "a training stage wrote shuffle bytes")
    // the trained codebook is a driver-held local relation: serving it
    // starts no training job
    assert(cents.queryExecution.executedPlan.toString.contains("LocalTableScan"),
      cents.queryExecution.executedPlan.toString)
  }

  test("join_bucketed: co-located SMJ with no Exchange on the join key") {
    val p = plan("join_bucketed")
    assert(p.contains("SortMergeJoin"), "bucketed join must be a SortMergeJoin: " + p.take(2000))
    assert(!p.contains("Exchange hashpartitioning(o_orderkey"),
      "bucketed join must not shuffle on the join key: " + p.take(2000))
  }

  test("a18_schema_translate: translated schema drives scan projection") {
    val p = plan("a18_schema_translate")
    assert(p.contains("ReadSchema: struct<event_id:bigint,event_type:string,value:double,props:string>"),
      "scan must read exactly the four schema-file columns: " + p.take(2000))
  }

  // --- Judged-config guards (sf0.1, 32 shuffle partitions — the exact
  // configuration the driver benches; PLANS.md records these plans) ---

  private def judgedPlan(name: String): String = {
    spark.conf.set("spark.sql.shuffle.partitions", "32")
    try SparkEntry.queries(name)(spark, "/root/testdata/sf0.1")
      .queryExecution.executedPlan.toString
    finally spark.conf.set("spark.sql.shuffle.partitions", "4")
  }

  test("q05_region_revenue at judged config: all dims broadcast, one hash shuffle") {
    assume(new java.io.File("/root/testdata/sf0.1").isDirectory)
    val p = judgedPlan("q05_region_revenue")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 4, "dimension joins must broadcast: " + p.take(2000))
    assert(!p.contains("CartesianProduct"))
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 1,
      "only the aggregate may hash-shuffle: " + p.take(2000))
  }

  test("q03_top_orders at judged config: broadcast joins + TakeOrderedAndProject") {
    assume(new java.io.File("/root/testdata/sf0.1").isDirectory)
    val p = judgedPlan("q03_top_orders")
    assert(p.contains("BroadcastHashJoin") && p.contains("TakeOrderedAndProject"), p.take(2000))
  }

  test("join_bucketed at judged config: bucketed SMJ, no Exchange on the key") {
    assume(new java.io.File("/root/testdata/sf0.1").isDirectory)
    val p = judgedPlan("join_bucketed")
    assert(p.contains("SortMergeJoin"), p.take(2000))
    assert(!p.contains("Exchange hashpartitioning(o_orderkey"),
      "bucketed join must not shuffle on the join key: " + p.take(2000))
  }

  test("AQE skew-join split activates on a planted hot key (skew=true in executed plan)") {
    import org.apache.spark.sql.functions._
    // The built-in complement to the manual guards (agg_salted,
    // join_skew_salted): one key holds ~90% of the left side, the
    // thresholds are scaled down to fixture bytes, and after execution
    // AQE must have re-planned the sort-merge join with the hot
    // partition split (SortMergeJoin(skew=true)). At 100 TB the same
    // mechanism runs with the default thresholds.
    val confs = Map(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "65536",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16384",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")
    val prev = confs.keys.map(k => k -> spark.conf.getOption(k)).toMap
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val left = spark.range(0, 220000).select(
        when(col("id") < 200000, lit(0L)).otherwise(col("id") % 97).as("k"),
        concat(lit("x" * 64), col("id")).as("payload"))
      val right = spark.range(0, 97).select(col("id").as("k"), col("id").as("dim"))
      val joined = left.join(right, "k")
      // execute THIS dataframe's own adaptive plan (a write would spawn
      // a separate QueryExecution and leave this one un-finalized)
      val qe = joined.queryExecution
      qe.toRdd.count()
      val p = qe.executedPlan.toString
      assert(p.contains("skew=true"),
        "AQE must split the hot-key partition of the SMJ: " + p.take(3000))
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("fact-fact join under forced SMJ: one exchange per side on the key, aggregate reuses the join partitioning") {
    import graft.operators.ConfScope
    import org.apache.spark.sql.functions._
    // The q05/daily_revenue 100x scale claim (PLANS.md): once the
    // orders side outgrows every broadcast threshold, the plan's only
    // data shuffles are the two key exchanges feeding ONE shuffle join,
    // and an aggregate on the join key rides that partitioning with no
    // third exchange. At sf0.1 everything broadcasts, so the claim was
    // untested — here broadcast is disabled (static + AQE thresholds)
    // to force the at-scale path on the same fact-fact core.
    ConfScope.withConf(spark, Map(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")) {
      val li = Tables.lineitem(spark, sf)
        .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
      val ord = Tables.orders(spark, sf).select(col("o_orderkey"), col("o_orderdate"))
      val j = li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderkey"))
        .agg(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("rev"))
      val qe = j.queryExecution
      qe.toRdd.count()   // executed adaptive plan, not the static guess
      // AQE prints the tree twice (Final + Initial plan) — count only
      // the executed Final section
      val p = qe.executedPlan.toString.split("== Initial Plan ==")(0)
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
        "broadcast off must yield a shuffle join: " + p.take(2000))
      val keyExchanges =
        "Exchange hashpartitioning\\((?:l_orderkey|o_orderkey)".r.findAllIn(p).size
      assert(keyExchanges === 2,
        s"want exactly one key exchange per join side, got $keyExchanges: " + p.take(2000))
      val allExchanges = "Exchange hashpartitioning".r.findAllIn(p).size
      assert(allExchanges === 2,
        "the o_orderkey aggregate must reuse the join partitioning (no third exchange): " +
          p.take(2000))
    }
  }

  test("join_bloom_runtime: fact side is pre-filtered by might_contain before its shuffle") {
    import graft.operators.ConfScope
    import org.apache.spark.sql.functions._
    // same conf scope as the judged query; inspect the executed plan
    // of the raw join (runtime-filter injection happens at execution)
    ConfScope.withConf(spark, Map(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")) {
      val fact = Tables.lineitem(spark, sf).select(col("l_orderkey"))
      val dim = Tables.orders(spark, sf)
        .filter(col("o_orderstatus") === "F")
        .select(col("o_orderkey"), col("o_orderpriority"))
      val j = fact.join(dim, col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n"))
      val qe = j.queryExecution
      qe.toRdd.count()
      val p = qe.executedPlan.toString
      assert(p.contains("might_contain"),
        "runtime bloom filter must be injected on the fact side: " + p.take(3000))
    }
  }

  test("no judged plan contains a CartesianProduct") {
    // broadcast NL joins (IVF centroids, 1-row count) are fine; a
    // shuffled cartesian product is never the intended shape. The
    // merge-family queries are deliberately ABSENT here: their
    // returned DF is only the post-merge read-back (staging + merge
    // run eagerly inside the builder), so asserting on it would be
    // vacuous — the merge join's shape is covered by the
    // mergePartitioned tests in IncrementalPipelineSpec instead.
    for (name <- Seq("q05_region_revenue", "sim_ann_ivf", "doc_tfidf", "dedup_embedding_cosine",
        "sim_ann_recall", "doc_decontaminate", "doc_pack_sequences",
        "sim_ann_ivfpq_recall", "text_bpe_train", "doc_dsir_weights",
        "curate_quality_stump", "vec_quantize_int8",
        "dedup_containment_incremental", "text_unigram_tokenize",
        "text_wordpiece_train", "vec_pca_project", "curate_token_budget")) {
      assert(!plan(name).contains("CartesianProduct"), s"$name plans a cartesian product")
    }
  }

  test("retrieval_bm25_persisted: probe terms prune the postings scan") {
    // the inverted index's reason to exist: serve cost is O(matched
    // postings) because the In(term, …) predicate reaches the
    // term-sorted artifact scan, not a post-scan join filter
    val p = plan("retrieval_bm25_persisted")
    assert(p.contains("PushedFilters: [In(term"),
      "probe-term In() predicate not pushed to the postings scan: " + p.take(2000))
  }

  test("index delete rolls: tombstones anti-join by BROADCAST, never a shuffle") {
    // the delete rolls' scale claim (round 16): removing a GDPR-sized
    // tombstone set from a persisted index costs one broadcast
    // anti-join on the index scan — the index side must never
    // shuffle-exchange on the tombstone key
    // sim_ann_ivfpq_delete serves a driver-built local relation, so its
    // anti-join is read off the code-table scan its serve folds
    def ivfpqDeleteScan = graft.queries.VectorQueries2
      .ivfpqServeScans(spark, sf, "sim_ann_ivfpq_delete").last
      .queryExecution.executedPlan.toString
    for (name <- Seq("dedup_minhash_index_delete", "sim_ann_ivfpq_delete",
        "dedup_containment_index_delete", "retrieval_bm25_index_delete",
        "dedup_simhash_index_delete")) {
      val p = if (name == "sim_ann_ivfpq_delete") ivfpqDeleteScan else plan(name)
      assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
        s"$name: tombstone anti-join is not a broadcast hash join: " + p.take(2000))
      assert(!p.contains("SortMergeJoin LeftAnti"),
        s"$name: tombstone anti-join shuffled the index side")
      if (name == "sim_ann_ivfpq_delete")
        assert(!p.contains("SortMergeJoin"), s"$name: the code-table scan shuffle-joins: " + p.take(2000))
      assert(!p.contains("CartesianProduct"))
    }
  }

  test("multimodal_phash_incremental: banded probes BROADCAST into the index scan") {
    // the phash index's daily-probe scale claim (round 19): the day's
    // banded arrivals broadcast; the standing artifact never shuffles
    // on the band key for a probe
    val p = plan("multimodal_phash_incremental")
    assert(p.contains("BroadcastHashJoin"),
      "phash probe join is not broadcast: " + p.take(2000))
    assert(!p.contains("SortMergeJoin Inner") && !p.contains("CartesianProduct"),
      "phash probe shuffled the index side: " + p.take(2000))
  }

  test("phash roll fold: tombstones anti-join by BROADCAST, never a shuffle") {
    // same guard as the text/vector delete rolls, on the shared fold
    // frame both judged rolls (batch + stream) execute
    import org.apache.spark.sql.functions.{col, lit}
    val tomb = graft.Tables.documents(spark, sf)
      .filter(org.apache.spark.sql.functions.pmod(col("doc_id"), lit(40L)) === 10)
      .select(col("doc_id").cast("long").as("img_id"))
    val arrivals = spark.range(0).selectExpr("id AS img_id", "id AS lo", "id AS hi")
    val p = graft.queries.PhashQueries.phashRollFold(spark, sf, tomb, arrivals)
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      "phash tombstone anti-join is not a broadcast hash join: " + p.take(2000))
    assert(!p.contains("SortMergeJoin LeftAnti"),
      "phash tombstone anti-join shuffled the index side")
  }

  test("curate_token_budget: the global prefix sum is partition-keyed, not a single-partition window") {
    // the budget selection's scale claim: every row-level WindowExec is
    // keyed by the range-partition id (globalRunningSum); the only
    // global window runs on the one-row-per-partition offsets frame
    val p = plan("curate_token_budget")
    assert(p.contains("__gs_pid"),
      "token budget is not using the distributed prefix sum: " + p.take(2000))
    assert(!p.contains("CartesianProduct"))
  }

  test("text_unigram_tokenize: the corpus pays one BROADCAST join on the word") {
    // the deployment claim: tokenizing is a map-side pass because the
    // word->pieces map is Heaps-law small — the corpus-side join must
    // plan as a broadcast hash join, never a shuffle on the token
    // stream's word key
    val p = plan("text_unigram_tokenize")
    assert(p.contains("BroadcastHashJoin"),
      "unigram tokenize corpus join is not broadcast: " + p.take(2000))
    assert(!p.contains("SortMergeJoin"),
      "unigram tokenize shuffles the token stream on the word key")
  }

  test("join_null_aware_anti: both NOT IN legs plan as broadcast anti joins") {
    // the null-poisoned leg's SEMANTICS (0 rows under three-valued
    // logic) are value-checked by the oracle; here we pin that both
    // legs stay broadcast anti joins — the fact side never shuffles
    val p = plan("join_null_aware_anti")
    assert("BroadcastHashJoin LeftAnti".r.findAllIn(p).size >= 2 ||
      "LeftAnti".r.findAllIn(p).size >= 2, p.take(2000))
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
  }

  test("doc_decontaminate: eval probe set broadcasts (train side never shuffles on the shingle)") {
    val p = plan("doc_decontaminate")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("SortMergeJoin"), "shingle join must not shuffle the train side")
  }

  test("doc_pack_sequences: lang window exchange is reused by the pack aggregate") {
    // one Exchange feeds the per-lang window; the (lang, pack_id)
    // aggregate runs on the SAME partitioning (lang determines the
    // group's location), so the only other Exchange is the final
    // ORDER BY — 3+ exchanges means the reuse regressed
    val p = plan("doc_pack_sequences")
    assert(p.contains("Window"), p.take(2000))
    assert("Exchange".r.findAllIn(p).size <= 2,
      "pack aggregate re-shuffled instead of reusing the window partitioning")
  }

  test("dedup_minhash_incremental: the daily batch BROADCASTS into the index join") {
    // the 100 TB contract of incremental dedup: the standing index
    // streams off disk, the (small) increment is the broadcast side,
    // and its signature pipeline is ONE map-side-combined aggregate
    // carrying all 32 partial_min hash functions. A SortMergeJoin on
    // the band keys would mean the index side re-shuffles per day.
    val p = plan("dedup_minhash_incremental")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("CartesianProduct"))
    // the plan string truncates long expression lists, so assert
    // presence of the partial-min signature functions, not all 32
    assert(p.contains("partial_min"),
      "signature aggregate lost its map-side partials")
  }

  test("dedup_bloom_seen: the probe prefilter is the native graft_might_contain, never a UDF") {
    // round-17 task 6's plan-level closure: all three bloom serves
    // route through the ONE registered expression — a ScalaUDF
    // reappearing here means a call site drifted back to a closure
    val p = plan("dedup_bloom_seen")
    assert(p.contains("graft_might_contain"), p.take(2000))
    assert(!p.contains("ScalaUDF"), "bloom probe regressed to a Scala UDF")
    val pd = plan("dedup_bloom_seen_delete")
    assert(pd.contains("graft_might_contain") && !pd.contains("ScalaUDF"))
  }

  test("dedup_minhash_index_roll: probes broadcast into the rolled artifact, no cartesian") {
    // the combined nightly roll's SERVE contract matches the family:
    // rolled artifact streams off parquet, probe side broadcasts
    val p = plan("dedup_minhash_index_roll")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("CartesianProduct"))
  }

  test("stream_minhash_index_roll: serve broadcasts into the rolled artifact; fold anti-join broadcasts") {
    // the streaming twin's serve keeps the batch roll's contract
    // (probes broadcast into the rolled parquet scan) ...
    val p = plan("stream_minhash_index_roll")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("CartesianProduct"))
    // ... and the shared FOLD (minhashRollFold — the exact frame both
    // rolls persist) anti-joins tombstones by BROADCAST: the index
    // side must never shuffle-exchange on the tombstone key, the
    // delete-roll guard applied to the roll composition. Driven over
    // the stream run's own logged deltas.
    val root = graft.Staging.dir("mhsroll", sf)
    val tomb = spark.read.schema("doc_id LONG").parquet(s"$root/log/t*")
    val arrivals = spark.read
      .schema("doc_id LONG, sig ARRAY<LONG>, band INT, bk1 LONG, bk2 LONG")
      .parquet(s"$root/log/a*")
    val fp = graft.queries.TextQueries.minhashRollFold(spark, sf, tomb, arrivals)
      .queryExecution.executedPlan.toString
    assert(fp.contains("BroadcastHashJoin") && fp.contains("LeftAnti"),
      "roll fold's tombstone anti-join is not a broadcast hash join: " + fp.take(2000))
    assert(!fp.contains("SortMergeJoin LeftAnti"),
      "roll fold shuffled the index side on the tombstone key")
  }

  test("stream_simhash_index_roll: serve broadcasts into the rolled artifact; fold anti-join broadcasts") {
    // the bit-signature family's roll twins keep the minhash roll's
    // guarded shape (stream_minhash_index_roll's test, one family over)
    val p = plan("stream_simhash_index_roll")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("CartesianProduct"))
    val root = graft.Staging.dir("shsroll", sf)
    val tomb = spark.read.schema("doc_id LONG").parquet(s"$root/log/t*")
    val arrivals = spark.read
      .schema("doc_id LONG, sh64 LONG, band INT, bkey INT")
      .parquet(s"$root/log/a*")
    val fp = graft.queries.TextQueries.simhashRollFold(spark, sf, tomb, arrivals)
      .queryExecution.executedPlan.toString
    assert(fp.contains("BroadcastHashJoin") && fp.contains("LeftAnti"),
      "simhash roll fold's tombstone anti-join is not a broadcast hash join: " + fp.take(2000))
    assert(!fp.contains("SortMergeJoin LeftAnti"),
      "simhash roll fold shuffled the index side on the tombstone key")
  }

  test("persisted band-index reads infer no schema: a second read starts no Spark job") {
    // a lifecycle artifact never changes after its one build, so its
    // schema is memoized: re-reading it, or re-planning a serve over
    // it, must not run a schema-inference job per call
    import java.util.concurrent.atomic.AtomicLong
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val jobs = new AtomicLong
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    def measured(f: => Any): Long = {
      org.apache.spark.graftbus.ListenerBusDrain.drain(sc)
      jobs.set(0)
      f
      org.apache.spark.graftbus.ListenerBusDrain.drain(sc)
      jobs.get
    }
    // (query that builds the artifact, artifact path: staging key plus
    // sub-dir, consumer re-planned over it — the query itself unless
    // its call writes per call, as the IVFADC append does)
    def rerun(q: String): () => Any = () => SparkEntry.queries(q)(spark, sf)
    val built = Seq("dedup_minhash_index_recap" -> "mhidx_recap",
      "dedup_simhash_index_recap" -> "shidx_recap",
      "multimodal_phash_index" -> "phidx_shared",
      "dedup_containment_incremental" -> "ctidx_shared",
      "dedup_containment_index_recap" -> "ctidx_recap",
      "doc_lm_score_persisted" -> "lm_model",
      "doc_lm_compact" -> "lm_compact/model",
      "multimodal_image_meta" -> "png/img",
      "multimodal_audio_meta" -> "wav/wav",
      "retrieval_bm25_persisted" -> "bm25idx_full/tf",
      "retrieval_bm25_persisted" -> "bm25idx_full/stats",
      "vec_kmeans_update" -> "km16_stats").map { case (q, key) => (q, key, rerun(q)) } ++
      Seq("coarse", "fine").map(part => ("sim_ann_ivfpq_incremental", s"ivfpq_b_idx/$part",
        () => queries.VectorQueries2.frozenBaseCodebooks(spark, sf)))
    built.map(_._1).distinct.foreach(q => SparkEntry.queries(q)(spark, sf).collect())
    sc.addSparkListener(listener)
    try built.foreach { case (q, key, consumer) =>
      val (root, sub) = key.span(_ != '/')
      val path = Staging.dir(root, sf) + sub
      assert(measured(Staging.read(spark, path)) === 0L,
        s"re-reading $key ran a Spark job")
      assert(measured(consumer()) === 0L, s"re-planning the $q consumer of $key ran a Spark job")
    } finally sc.removeSparkListener(listener)
  }

  test("Staging.read refuses a path under no finished onceDir root") {
    // a per-call dir is rewritten by its query, so a memoized schema of
    // it could go stale: the read-only reader must refuse it loudly
    SparkEntry.queries("sim_ann_ivfpq_persisted")(spark, sf).collect()
    val perCall = s"${Staging.dir("ivfpqidx", sf)}/coarse"
    assert(new java.io.File(perCall).isDirectory)
    val e = intercept[IllegalArgumentException](Staging.read(spark, perCall))
    assert(e.getMessage.contains("no finished onceDir root"), e.getMessage)
    // a sibling whose name merely extends a finished root's is no child of it
    SparkEntry.queries("doc_lm_score_persisted")(spark, sf).collect()
    intercept[IllegalArgumentException](Staging.read(spark, Staging.dir("lm_model", sf) + "x"))
  }

  test("dedup_minhash_index_recap: probes broadcast into the recapped artifact scan") {
    // the post-compaction serve keeps the incremental contract: the
    // recapped index streams off its parquet, the batch side
    // broadcasts — a recap that silently re-derived the index in-plan
    // would lose the artifact scan and a SortMergeJoin would re-shuffle
    // the index per serve
    val p = plan("dedup_minhash_index_recap")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("CartesianProduct"))
  }

  test("doc_lm_compact: serve scans the compacted artifact and broadcasts the model") {
    // the compacted-model serve is the persisted-LM shape verbatim:
    // bigram explode + broadcast model join + one doc_id aggregate —
    // never a SortMergeJoin on w1/w2 at the fixture's bounded vocab,
    // and never a recompaction inside the serve plan (no union of the
    // base stats with the delta log may appear — the compaction
    // happened at BUILD time, the plan reads its output)
    val p = plan("doc_lm_compact")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("SortMergeJoin"), "model join must broadcast")
    assert(!p.contains("Union"), "serve plan re-compacts the delta log")
  }

  test("sim_ann_pq_persisted: serve path touches the code table, never re-encodes") {
    // the online plan must read the persisted code/codebook parquet
    // (two extra scans) and shortlist via WindowGroupLimit instead of
    // a global sort of ADC scores
    val p = plan("sim_ann_pq_persisted")
    assert(p.contains("WindowGroupLimit"), "ADC shortlist must plan as WindowGroupLimit")
    assert(p.contains("BroadcastHashJoin"), "LUT/codebook must broadcast")
    assert(!p.contains("CartesianProduct"))
  }

  test("sim_ann_ivf_persisted: serving lineage scans the persisted index, no training") {
    // the round-8 verdict's one design weakness was Lloyd training
    // inside sim_ann_ivf's serving query — the persisted variant must
    // show centroid/assignment FILE SCANS in the online plan and none
    // of the training machinery (Lloyd's centroid update is a
    // posexplode (Generate) + aggregate chain; serving has no Generate)
    val p = plan("sim_ann_ivf_persisted")
    assert(p.contains("centroids") && p.contains("assign"),
      "serve must read the persisted centroid + assignment artifacts: " + p.take(2000))
    assert(!p.contains("Generate"), "training leaked into the serving lineage")
    assert(!p.contains("CartesianProduct"))
    // the assignment table is partitioned BY cluster (the inverted-file
    // layout); the probe join must dynamic-partition-prune its scan so
    // serving reads only the probed clusters' directories
    assert(p.contains("dynamicpruning"),
      "probe join must DPP the cluster-partitioned assignment scan: " + p.take(3000))
  }

  test("sim_ann_ivfpq_persisted: serve reads the artifacts, DPP-prunes the code table") {
    // the composed IVFADC lifecycle: serving must scan the persisted
    // coarse codebook, fine (residual) codebook, and cluster-partitioned
    // code table — and must NOT re-run either trainer or the corpus
    // residual encode. The serve returns a driver-built local relation,
    // so the guard reads the frames it scans (coarse, fine, and the code
    // table cut to the probed clusters); any corpus-side training/encode
    // would add its own posexplode chains, caught by the Generate bound.
    SparkEntry.queries("sim_ann_ivfpq_persisted")(spark, sf)
    val p = graft.queries.VectorQueries2.ivfpqServeScans(spark, sf, "sim_ann_ivfpq_persisted")
      .map(_.queryExecution.executedPlan.toString).mkString("\n")
    assert(p.contains("ivfpqidx"),
      "serve must read the persisted ivfpq artifacts: " + p.take(2000))
    assert(p.contains("coarse") && p.contains("fine") && p.contains("codes"),
      "serve must scan the coarse/fine/codes artifacts: " + p.take(2000))
    // the probed cluster ids are known before the scan is planned, so
    // the partition pruning is static, not a runtime dynamicpruning
    // subquery: only the probed clusters' directories are listed and read
    assert("PartitionFilters: \\[[^\\]]*cluster[^\\]]* IN \\(".r.findFirstIn(p).nonEmpty,
      "the probed clusters must prune the cluster-partitioned code-table scan: " + p.take(3000))
    assert(!p.contains("CartesianProduct"))
    assert("Generate".r.findAllIn(p).size <= 1,
      "corpus training/encode leaked into the serving lineage")
  }

  test("text_bm25_topk: query terms broadcast, top-10 plans as WindowGroupLimit") {
    val p = plan("text_bm25_topk")
    assert(p.contains("BroadcastHashJoin"),
      "the probe-term list and df/stats sides must broadcast: " + p.take(2000))
    assert(p.contains("WindowGroupLimit"),
      "per-query top-10 must not global-sort: " + p.take(2000))
    assert(!p.contains("CartesianProduct"))
  }

  test("vec_quantize_int8: map-only re-encode — no hash shuffle anywhere") {
    val p = plan("vec_quantize_int8")
    assert(!p.contains("Exchange hashpartitioning"),
      "SQ8 is per-row arithmetic; only the output sort may exchange: " + p.take(2000))
    assert(!p.contains("CartesianProduct"))
  }

  test("doc_dsir_weights: vocab tables and totals broadcast — the token stream never shuffles on tok") {
    val p = plan("doc_dsir_weights")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      "cr/ct vocab joins must broadcast: " + p.take(2000))
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      "the exploded token stream must not shuffle on the token key: " + p.take(2000))
  }

  test("text_bpe_segment: round argmaxes join as 1-row broadcasts, no shuffled cartesian") {
    val p = plan("text_bpe_segment")
    assert(!p.contains("CartesianProduct"),
      "per-round selections must broadcast (BNLJ), never shuffle-cartesian: " + p.take(3000))
  }

  test("text_bpe_tokenize: vocabulary map broadcasts — the token stream never shuffles on the word") {
    val p = plan("text_bpe_tokenize")
    assert(p.contains("BroadcastHashJoin"),
      "the word→segmentation map must broadcast into the corpus join: " + p.take(3000))
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      "corpus tokenization must not shuffle on the word key: " + p.take(3000))
  }

  test("curate_quality_stump: threshold windows run over the aggregated value frame") {
    val p = plan("curate_quality_stump")
    assert(!p.contains("CartesianProduct"))
    // melt → partial+final hash agg BEFORE any window: the cumulative
    // windows must see (feature, value) cardinality, not corpus rows
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      "class counts must aggregate map-side before the cumsum windows: " + p.take(3000))
  }

  test("doc_pack_bestfit: slot table broadcasts; rank window partitioned, never global") {
    val p = plan("doc_pack_bestfit")
    // the histogram-FFD slot ranges join the ranked corpus as a
    // broadcast (corpus never shuffles on the slot side), and no
    // BNLJ/cartesian sneaks in via the rank range condition
    assert(p.contains("BroadcastHashJoin"), "slot join must broadcast: " + p.take(2000))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "rank-range condition must ride the (lang, n) equi-join: " + p.take(2000))
    // the rank window is partitioned by (lang, n) — a global
    // single-partition window would appear as 'Window ... ORDER BY'
    // with an Exchange SinglePartition below it
    assert(!p.contains("SinglePartition"), "no global window allowed: " + p.take(3000))
  }

  test("upperMoments: keyless UpperGram aggregate — no pre-aggregate explode") {
    // Round-19 optimization guard: the PCA second-moment pass must fold
    // each vector's d(d+1)/2 products into the native UpperGram buffer
    // (ObjectHashAggregate partial+final), with the ONLY Generate the
    // trivial 2,080-row expansion ABOVE the aggregate — a regression to
    // the explode-then-group shape would put a Generate below the
    // aggregate and n·2,080 rows back through the hash map.
    val q = queries.SpectralQueries.quantizedOf(Tables.embeddings(spark, sf))
    val p = queries.SpectralQueries.upperMoments(q)
      .queryExecution.executedPlan.toString
    assert(p.contains("graft_upper_gram"), "native UpperGram missing: " + p.take(2000))
    assert("ObjectHashAggregate".r.findAllIn(p).size == 2,
      "UpperGram must plan partial+final ObjectHashAggregate: " + p.take(3000))
    val gen = p.indexOf("Generate")
    val agg = p.indexOf("ObjectHashAggregate")
    assert(gen >= 0 && gen < agg && p.lastIndexOf("Generate") == gen,
      "exactly one Generate, above the aggregate (the post-agg cell " +
        "expansion), none below: " + p.take(3000))
  }
}
