package graft

import org.scalatest.funsuite.AnyFunSuite

/** Smoke + shape checks over the whole judged surface at sf0.001. The
  * value-level check is the DuckDB oracle (driver t2 / tools/compare.py);
  * here we pin row expectations that the oracle can't see (rows-only
  * queries) and that every query runs. */
class QueriesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val sf = TestSpark.sf0001

  // Queries whose correct result CAN be empty at this scale.
  // join_anti / setop_except / dedup_exact_classes left this set in
  // round 15: recut (status-subset predicates, planted exact dups) so
  // their oracle gates are discriminative — empty is now a FAILURE.
  private val mayBeEmpty = Set(
    "dedup_minhash_lsh", "dedup_simhash", "dedup_embedding_cosine")

  test("every declared query executes; non-empty unless provably empty") {
    SparkEntry.allDefs.foreach { q =>
      val df = q.fn(spark, sf)
      val n = df.count()
      withClue(s"${q.name}: ") {
        assert(n >= 0)
        if (!mayBeEmpty(q.name)) assert(n > 0, s"unexpectedly empty (${q.name})")
      }
    }
  }

  test("entry flagship returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("dedup_bloom_seen: prefilter prunes, never drops a true dup; both outcomes non-vacuous") {
    import org.apache.spark.sql.functions.{col, pmod, lit, max => smax}
    val rows = SparkEntry.queries("dedup_bloom_seen")(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    // ground truth from raw fingerprints
    val t = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), graft.functions.TextFunctions.fingerprint(col("text")).as("fp"))
    val standingFps = t.filter(pmod(col("doc_id"), lit(5L)) =!= 0)
      .select("fp").collect().map(_.getString(0)).toSet
    val batch = t.filter(pmod(col("doc_id"), lit(5L)) === 0)
      .collect().map(r => (r.getLong(0), r.getString(1))) ++
      t.filter(pmod(col("doc_id"), lit(5L)) =!= 0 && pmod(col("doc_id"), lit(25L)) === 1)
        .collect().map(r => (r.getLong(0) + 10000000000L, r.getString(1)))
    assert(rows.keySet === batch.map(_._1).toSet)
    batch.foreach { case (id, fp) =>
      assert(rows(id) === standingFps.contains(fp), s"doc $id wrong is_seen")
    }
    // planted re-crawls make true non-vacuous; unseen batch docs false
    assert(rows.values.exists(identity) && rows.values.exists(!_))
    // the prefilter genuinely prunes AND proposes a superset of truth:
    // probe the PERSISTED artifact the query itself serves from
    // (round 16 — the bloom now lives on disk, re-read + broadcast)
    val bloom = graft.queries.TextQueries5.readBloom(
      graft.queries.TextQueries5.sharedBloomIndex(spark, sf), "full.bloom")
    val nCand = batch.count { case (_, fp) => bloom.mightContainString(fp) }
    val nSeen = batch.count { case (_, fp) => standingFps.contains(fp) }
    assert(nCand < batch.length, s"bloom pruned nothing ($nCand of ${batch.length})")
    assert(nCand >= nSeen, "bloom dropped a true dup - impossible by construction")
  }

  test("recut gates are discriminative: anti/except/exact-classes provably non-empty") {
    // Round-15 recuts — a hash gate over the empty set proves only
    // that both engines return nothing; these three must stay
    // non-empty at every judged sf so the gate can catch a predicate
    // that wrongly drops rows.
    assert(SparkEntry.queries("join_anti")(spark, sf).count() > 0)
    assert(SparkEntry.queries("setop_except")(spark, sf).count() > 0)
    val classes = SparkEntry.queries("dedup_exact_classes")(spark, sf).collect()
    assert(classes.nonEmpty)
    // every planted class: canonical_id is the ORIGINAL doc (< 1000000),
    // and n_members >= 2 by the HAVING clause + planting construction
    classes.foreach { r =>
      assert(r.getLong(1) >= 2, s"class ${r.getString(0)} has ${r.getLong(1)} members")
      assert(r.getLong(2) < 1000000L,
        s"class ${r.getString(0)} canonical ${r.getLong(2)} is a planted copy, not the original")
    }
    // the planted construction guarantees one class per DISTINCT
    // planted fingerprint: every doc_id % 25 == 0 doc has a
    // byte-identical twin (identical planted sources would merge)
    val expected = spark.read.parquet(s"$sf/documents.parquet")
      .filter("doc_id % 25 = 0")
      .selectExpr("md5(lower(trim(text)))").distinct().count()
    assert(classes.length >= expected.toInt,
      s"${classes.length} classes < $expected distinct planted fingerprints")
  }

  test("oracle coverage: every oracleSql key is a declared query") {
    val qnames = SparkEntry.queries.keySet
    assert(SparkEntry.oracleSql.keySet.subsetOf(qnames))
    // every non-oracle query is intentionally approximate/engine-hashed
    val rowsOnly = qnames -- SparkEntry.oracleSql.keySet
    // (doc_compression_ratio left this set in round 11: its oracle now
    // joins the committed Python-zlib fixture, a full hash gate)
    assert(rowsOnly.subsetOf(Set("agg_approx_distinct", "agg_approx_quantiles",
      "dedup_minhash_lsh", "dedup_simhash")))
  }

  test("query names are unique") {
    val names = SparkEntry.allDefs.map(_.name)
    assert(names.distinct.length === names.length)
  }

  test("sim_ann_lsh returns valid ranked neighbors consistent with exact top-k") {
    import org.apache.spark.sql.Row
    val ann = SparkEntry.queries("sim_ann_lsh")(spark, sf).collect()
    assert(ann.nonEmpty)
    assert(ann.forall { case Row(_, _, rnk: Long, cos: Double) => rnk <= 5 && cos <= 1.000001 })
    // recall vs brute force: every ANN hit must be a real vector pair
    // with the same cosine as the exact query when both rank it top-5
    val exact = SparkEntry.queries("sim_cosine_topk")(spark, sf).collect()
      .map { case Row(q: Long, v: Long, _, c: Double) => (q, v) -> c }.toMap
    val agree = ann.collect { case Row(q: Long, v: Long, _, c: Double)
        if exact.contains((q, v)) => exact((q, v)) == c }
    assert(agree.nonEmpty && agree.forall(identity))
  }

  test("ANN recall@5: sim_ann_lsh and sim_ann_ivf vs exact sim_cosine_topk") {
    import org.apache.spark.sql.Row
    // quantified quality dial (round-5 verdict): agreement alone says
    // every ANN hit is real; recall@5 says how much of the TRUE top-5
    // the approximate index surfaces at the fixture's table/probe
    // settings — the number a user tunes tables/probes against.
    val exact = SparkEntry.queries("sim_cosine_topk")(spark, sf).collect()
      .map { case Row(q: Long, v: Long, _, _) => (q, v) }.toSet
    assert(exact.nonEmpty)
    for (name <- Seq("sim_ann_lsh", "sim_ann_ivf")) {
      val hits = SparkEntry.queries(name)(spark, sf).collect()
        .map { case Row(q: Long, v: Long, _, _) => (q, v) }.toSet
      val recall = (hits & exact).size.toDouble / exact.size
      info(f"$name recall@5 vs exact = $recall%.3f ((hits ∩ exact) ${(hits & exact).size} / ${exact.size})")
      assert(recall >= 0.8,
        f"$name recall@5 $recall%.3f below the 0.8 floor at the fixture table/probe settings")
    }
  }

  test("ANN maintenance staleness floor: frozen-codebook serve survives 25%+25% churn") {
    // The measured dial (AnnChurnDial, PLANS.md round 18, "ANN
    // quality-after-maintenance dial") shows codebook staleness through
    // 50% total churn moves recall@5 less than Lloyd seed-to-seed variance
    // (dividend −0.03…+0.07 across 2–50% churn at both sfs; sf0.001
    // @25%+25%: stale 0.680 vs fresh 0.750) — no retrain cliff exists
    // on this corpus, so the retrain cadence is artifact hygiene, not
    // recall. This spec pins the MECHANISM that result rests on: the
    // maintained artifact (full standing corpus encoded off codebooks
    // that trained before the churn — exactly what the judged
    // append/delete rolls leave on disk) must keep serving within a
    // staleness band of the fresh retrain. A broken frozen-encode path
    // (mismatched codebooks, stale assignment join) craters the stale
    // side and fails here long before any judged hash notices.
    val (stale, fresh, nS) = graft.queries.AnnChurnDial.recallPair(spark, sf, 25)
    info(f"churned corpus $nS rows: recall@5 stale $stale%.3f vs fresh $fresh%.3f")
    assert(fresh >= 0.5,
      f"fresh retrain recall $fresh%.3f below 0.5 - the dial's baseline broke")
    assert(stale >= fresh - 0.15,
      f"stale recall $stale%.3f fell >0.15 under fresh $fresh%.3f - " +
        "frozen-codebook maintenance serve regressed")
  }

  test("sim_ann_pq recall@5 vs exact sim_cosine_topk") {
    import org.apache.spark.sql.Row
    // PQ is the lossiest index family (8 nibble codes per 64-dim
    // vector), re-ranked exactly from an ADC shortlist of 50: measured
    // 0.8 at sf0.001 / 0.76 at sf0.01 on near-random fixtures (real
    // clustered corpora do far better). Floor 0.6 guards the shape —
    // a broken codebook or LUT join collapses recall to ~0.1.
    val exact = SparkEntry.queries("sim_cosine_topk")(spark, sf).collect()
      .map { case Row(q: Long, v: Long, _, _) => (q, v) }.toSet
    val hits = SparkEntry.queries("sim_ann_pq")(spark, sf).collect()
      .map { case Row(q: Long, v: Long, _, _) => (q, v) }.toSet
    val recall = (hits & exact).size.toDouble / exact.size
    info(f"sim_ann_pq recall@5 vs exact = $recall%.3f")
    assert(recall >= 0.6, f"sim_ann_pq recall@5 $recall%.3f below the 0.6 floor")
  }

  test("sim_ann_ivfpq recall@5 vs exact sim_cosine_topk") {
    import org.apache.spark.sql.Row
    // IVFADC composes both lossy stages (nprobe=2 coarse pruning +
    // residual-PQ ADC shortlist), but residual encoding concentrates
    // codebook resolution within cells, so it should hold near the
    // plain-IVF level; floor 0.6 guards the composed shape — a residual
    // computed against the wrong cell's centroid collapses recall.
    val exact = SparkEntry.queries("sim_cosine_topk")(spark, sf).collect()
      .map { case Row(q: Long, v: Long, _, _) => (q, v) }.toSet
    val hits = SparkEntry.queries("sim_ann_ivfpq")(spark, sf).collect()
      .map { case Row(q: Long, v: Long, _, _) => (q, v) }.toSet
    val recall = (hits & exact).size.toDouble / exact.size
    info(f"sim_ann_ivfpq recall@5 vs exact = $recall%.3f")
    assert(recall >= 0.6, f"sim_ann_ivfpq recall@5 $recall%.3f below the 0.6 floor")
  }

  test("dedup_containment_index_delete: monotone removal, load-bearing tombstones") {
    def rowsOf(name: String) = SparkEntry.queries(name)(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), if (r.isNullAt(2)) -1L else r.getLong(2)))
      .toMap
    val full = rowsOf("dedup_containment_incremental")
    val del = rowsOf("dedup_containment_index_delete")
    assert(full.keySet === del.keySet)
    del.foreach { case (id, (n, fc)) =>
      assert(n <= full(id)._1, s"probe $id GAINED containers after deletion")
      assert(fc == -1L || fc % 20 != 7, s"probe $id still contained by tombstoned doc $fc")
    }
    assert(del.exists { case (id, v) => v != full(id) },
      "tombstones changed nothing - the containment delete gate is vacuous at this sf")
    // the recap re-derives df over SURVIVORS: deleting postings only
    // lowers df, so the recapped posting set is a superset of the
    // delete-served one and recap hits dominate per probe — the recap
    // can only restore recall the tombstone path lost
    val recap = rowsOf("dedup_containment_index_recap")
    assert(recap.keySet === del.keySet)
    recap.foreach { case (id, (n, fc)) =>
      assert(n >= del(id)._1, s"probe $id LOST a container after the recap")
      assert(fc == -1L || fc % 20 != 7, s"probe $id contained by tombstoned doc $fc post-recap")
    }
  }

  test("simhash stream roll == batch roll: rolled artifacts frame-equal, roll load-bearing") {
    // Round-18: the simhash nightly roll's stream==batch gate (the
    // MinHashQualitySpec gate on the bit-signature family) plus the
    // composition's non-vacuity: no served first_dup may be a
    // tombstone (doc_id ≡ 6 mod 20), and at least one must be an
    // arrival (doc_id % 10 = 0 — only arrivals carry that residue, so
    // the union half of the fold provably changed an answer; measured
    // 7 arrival witnesses at sf0.001).
    import org.apache.spark.sql.functions.col
    SparkEntry.queries("dedup_simhash_index_roll")(spark, sf).collect()
    val served = SparkEntry.queries("stream_simhash_index_roll")(spark, sf).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(2)) -1L else r.getLong(2)))
    assert(served.forall { case (_, fd) => fd == -1L || fd % 20 != 6 },
      "a tombstoned index doc survived the roll as a first_dup")
    assert(served.exists { case (_, fd) => fd >= 0 && fd % 10 == 0 },
      "no arrival is any probe's first_dup - the union half is vacuous at this sf")
    val cols = Seq("doc_id", "sh64", "band", "bkey").map(col)
    val batchArt = spark.read.parquet(graft.Staging.dir("shidx_rolled", sf))
      .select(cols: _*)
    val streamArt = spark.read.parquet(graft.Staging.dir("shsroll", sf) + "/rolled")
      .select(cols: _*)
    assert(batchArt.count() > 0, "batch roll artifact is empty - vacuous gate")
    assert(streamArt.exceptAll(batchArt).count() == 0 &&
      batchArt.exceptAll(streamArt).count() == 0,
      "stream-rolled simhash artifact diverged from the batch-rolled artifact")
  }

  test("stream containment append: the folded posting set equals the from-scratch standing index") {
    // Round-18: the online append's artifact gate (the exact-append
    // argument made frame-level — stream_minhash_index_roll's
    // MinHashQualitySpec gate applied to the posting family): after
    // the stream drains, fold(day1 ∪ logged deltas) must equal the
    // from-scratch df-pruned index over the FULL standing corpus,
    // row for row. Multiset equality via exceptAll both ways.
    import org.apache.spark.sql.functions.col
    SparkEntry.queries("stream_containment_index_append")(spark, sf).collect()
    val root = graft.Staging.dir("ctsapp", sf)
    val folded = graft.queries.TextQueries5.containmentAppendFold(spark, sf,
        spark.read.schema("idx_id LONG, g STRING").parquet(s"$root/log/p*"),
        spark.read.schema("g STRING, df LONG").parquet(s"$root/log/df*"))
      .select(col("idx_id"), col("g"))
    SparkEntry.queries("dedup_containment_incremental")(spark, sf).collect()
    val rebuilt = spark.read.parquet(graft.Staging.dir("ctidx_shared", sf))
      .select(col("idx_id"), col("g"))
    assert(rebuilt.count() > 0, "standing index is empty - vacuous gate")
    assert(folded.exceptAll(rebuilt).count() == 0 &&
      rebuilt.exceptAll(folded).count() == 0,
      "stream-folded posting set diverged from the from-scratch standing index")
  }

  test("containment df-drift gap CAN bite: planted df-11 shingle crosses the prune only after a recap") {
    // Round-18: the non-vacuity proof behind the recap-cadence dial
    // (tools/recap_dial.py measured 0.00% loss on the real fixtures at
    // 2.5–25% tombstones — this plants the case where the gap exists).
    // Eleven standing docs share shingle g, so the build-time df=11
    // prunes its posting list; tombstoning one drops survivor df to
    // 10 = the threshold, and the recap re-admits the list while the
    // delete serve (anti-join on an artifact that never stored g)
    // physically cannot — the df-drift analogue of the MinHash planted
    // over-cap row.
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val idx0 = (1L to 11L).map(i => (i, "g")).toDF("idx_id", "g")
    val tomb = Seq(3L).toDF("idx_id")
    val bat = Seq((100L, "g")).toDF("doc_id", "g")
    def confirmed(idx: org.apache.spark.sql.DataFrame) = {
      val sz = bat.groupBy("doc_id").agg(count(lit(1)).as("n"))
      bat.join(idx, Seq("g"))
        .groupBy(col("doc_id"), col("idx_id")).agg(count(lit(1)).as("inter"))
        .join(sz, "doc_id").filter(col("inter") * 2 >= col("n"))
    }
    val keepFull = idx0.groupBy("g").agg(count(lit(1)).as("df"))
      .filter(col("df") <= 10).select("g")
    val serve = idx0.join(keepFull, Seq("g")).join(tomb, Seq("idx_id"), "left_anti")
    val surv = idx0.join(tomb, Seq("idx_id"), "left_anti")
    val keepSurv = surv.groupBy("g").agg(count(lit(1)).as("df"))
      .filter(col("df") <= 10).select("g")
    val recap = surv.join(keepSurv, Seq("g"))
    assert(confirmed(serve).count() == 0,
      "planted df-11 shingle leaked through the build-time prune")
    assert(confirmed(recap).count() == 10,
      "recap did not re-admit the df-drifted posting list")
  }

  test("bm25 index lifecycle: persisted == direct, append == rebuild, delete exact and load-bearing") {
    def rows(name: String) = SparkEntry.queries(name)(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    val direct = rows("text_bm25_topk")
    // serving from the re-read artifact, and from the day-1+day-2
    // merge, must both reproduce corpus-direct scoring to the integer
    assert(rows("retrieval_bm25_persisted") === direct)
    assert(rows("retrieval_bm25_index_append") === direct)
    val del = rows("retrieval_bm25_index_delete")
    assert(del.nonEmpty && del.forall { case (_, doc, _, _) => doc % 20 != 11 },
      "a tombstoned doc was served")
    // the statistics subtraction is load-bearing: idf/length-normalizer
    // re-derive from the decremented df/n_docs/total_len, so at least
    // one SURVIVING doc's score must move (not merely tombstoned rows
    // vanishing from the ranking)
    val directScore = direct.map { case (q, doc, sc, _) => (q, doc) -> sc }.toMap
    assert(del.exists { case (q, doc, sc, _) => directScore.get((q, doc)).exists(_ != sc) },
      "no surviving score moved - the stats subtraction is vacuous at this sf")
  }

  test("simhash index lifecycle: append == standing rebuild; delete load-bearing, no tombstoned container") {
    def rows(name: String) = SparkEntry.queries(name)(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2), r.getBoolean(3))).toSeq
    val inc = rows("dedup_simhash_incremental")
    // the appended index must serve identically to the full-standing
    // one (recap(cap(day1) ∪ day2) == cap(standing), the
    // composition-independent lowest-200 rule)
    assert(rows("dedup_simhash_index_append") === inc)
    assert(inc.exists(_._4), "no cross-split simhash dup - the probe gate is vacuous here")
    val del = rows("dedup_simhash_index_delete")
    val incMap = inc.map(r => r._1 -> r).toMap
    del.foreach { case (id, n, fd, _) =>
      assert(n <= incMap(id)._2, s"probe $id GAINED index dups after deletion")
      assert(fd == -1L || fd % 20 != 6, s"probe $id still matched tombstoned doc $fd")
    }
    assert(del !== inc, "tombstones changed nothing - the simhash delete gate is vacuous here")
    // recap dominance (the minhash recap argument on the same cap
    // rule: cap(A) \ T ⊆ cap(A \ T) per bucket) — the recapped serve
    // can only re-admit what the tombstone anti-join lost
    val delMap = del.map(r => r._1 -> r).toMap
    val recap = rows("dedup_simhash_index_recap")
    assert(recap.map(_._1) === del.map(_._1))
    recap.foreach { case (id, n, fd, _) =>
      assert(n >= delMap(id)._2, s"probe $id LOST an index dup after the recap")
      assert(fd == -1L || fd % 20 != 6, s"probe $id matched tombstoned doc $fd post-recap")
    }
  }

  test("stream_bm25_index_append: online roll reproduces the corpus-direct ranking row-for-row") {
    def rows(name: String) = SparkEntry.queries(name)(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    // the serve off day-1 ∪ batch-keyed posting dirs with the final
    // version's df/stats must equal corpus-direct scoring exactly
    assert(rows("stream_bm25_index_append") === rows("text_bm25_topk"))
    // both arrival micro-batches are non-empty, so the final version
    // genuinely composed two additions
    def half(res: Long): Long = spark.read.parquet(s"$sf/documents.parquet")
      .filter(s"doc_id % 4 = $res").count()
    assert(half(1) > 0 && half(3) > 0,
      "an arrival micro-batch is empty - the composition claim is vacuous")
  }

  test("dedup_containment_index_append: merge == full-standing rebuild; day-1 artifact genuinely partial") {
    def rows(name: String) = SparkEntry.queries(name)(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2), r.getBoolean(3))).toSeq
    // the append path must reproduce the full-standing incremental
    // serve row-for-row (df only grows under append, so re-applying
    // the prune over merged counts IS the rebuild — the exact gate)
    assert(rows("dedup_containment_index_append") === rows("dedup_containment_incremental"))
    // the persisted day-1 artifact covers only even standing docs: the
    // day-2 fold is load-bearing, the gate can't pass on a stale
    // full-standing index
    val root = graft.queries.TextQueries5.sharedContainmentDay1Index(spark, sf)
    val dfSum = spark.read.parquet(s"$root/df")
      .agg(org.apache.spark.sql.functions.sum("df")).head.getLong(0)
    def shingleRows(where: String): Long =
      graft.queries.SharedText.shingles3(spark, sf).filter(where).count()
    assert(dfSum === shingleRows("doc_id % 5 <> 0 AND doc_id % 2 = 0"))
    assert(dfSum < shingleRows("doc_id % 5 <> 0"), "no odd standing docs - merge vacuous")
  }

  test("sim_ann_ivfpq_delete: tombstones load-bearing, no deleted vector served") {
    import org.apache.spark.sql.Row
    val full = SparkEntry.queries("sim_ann_ivfpq")(spark, sf).collect()
      .map { case Row(q: Long, v: Long, r: Long, c: Double) => (q, v, r, c) }
    val del = SparkEntry.queries("sim_ann_ivfpq_delete")(spark, sf).collect()
      .map { case Row(q: Long, v: Long, r: Long, c: Double) => (q, v, r, c) }
    assert(del.nonEmpty && del.forall { case (_, v, _, _) => v % 10 != 7 },
      "a tombstoned vector was served")
    // load-bearing at this sf: the pre-delete answer must contain a
    // tombstone-slice vector, so deletion genuinely changes the top-5
    assert(full.exists { case (_, v, _, _) => v % 10 == 7 },
      "no tombstone-slice vector in the pre-delete top-5 - gate vacuous here")
    assert(del.toSet != full.toSet)
  }

  test("sim_ann_ivf_recall: nprobe dial is monotone and meets the nprobe=4 floor") {
    import org.apache.spark.sql.Row
    val rows = SparkEntry.queries("sim_ann_ivf_recall")(spark, sf).collect()
      .map { case Row(np: Long, q: Long, _, r: Double) => (np, q, r) }
    val byNp = rows.groupBy(_._1).view
      .mapValues(rs => rs.map(_._3).sum / rs.size).toMap
    assert(byNp.keySet == Set(1L, 2L, 4L))
    info(f"IVF mean recall@5: nprobe=1 ${byNp(1L)}%.3f, nprobe=2 ${byNp(2L)}%.3f, nprobe=4 ${byNp(4L)}%.3f")
    // per-query monotone in nprobe: a deeper probe's candidate set is a
    // superset, and any exact-top-5 member among candidates necessarily
    // survives the exact-cosine re-rank — so a non-monotone dial means
    // the probe_rank filter or the per-nprobe re-rank key is broken
    rows.groupBy(_._2).foreach { case (q, rs) =>
      val m = rs.sortBy(_._1).map(_._3).toSeq
      assert(m == m.sorted, s"q_id=$q recall not monotone in nprobe: $m")
    }
    // measured 0.96 at sf0.001 (near-random vectors, the hardest case)
    assert(byNp(4L) >= 0.9,
      f"nprobe=4 mean recall ${byNp(4L)}%.3f below the 0.9 floor")
  }

  test("sim_ann_ivfpq_recall: composed-index dial mean-monotone, nprobe=4 floor") {
    import org.apache.spark.sql.Row
    val rows = SparkEntry.queries("sim_ann_ivfpq_recall")(spark, sf).collect()
      .map { case Row(np: Long, q: Long, _, r: Double) => (np, q, r) }
    val byNp = rows.groupBy(_._1).view
      .mapValues(rs => rs.map(_._3).sum / rs.size).toMap
    assert(byNp.keySet == Set(1L, 2L, 4L))
    info(f"IVFPQ mean recall@5: nprobe=1 ${byNp(1L)}%.3f, nprobe=2 ${byNp(2L)}%.3f, nprobe=4 ${byNp(4L)}%.3f")
    // NOTE: unlike the pure-IVF dial, per-query monotonicity is not
    // structural here — the lossy ADC top-50 shortlist sits between
    // candidate generation and the exact re-rank, and a deeper probe
    // can displace a true neighbor from the shortlist. The MEAN curve
    // on the deterministic fixture is monotone (measured 0.76/0.84/0.88
    // at sf0.001, 0.88/0.92/0.96 at sf0.01); assert that empirical
    // curve + the family's standard 0.8 floor.
    assert(byNp(1L) <= byNp(2L) + 1e-9 && byNp(2L) <= byNp(4L) + 1e-9,
      s"mean recall curve not non-decreasing: $byNp")
    assert(byNp(4L) >= 0.8,
      f"nprobe=4 mean recall ${byNp(4L)}%.3f below the 0.8 floor")
  }

  test("sim_ann_ivf_persisted serves exactly the in-lineage sim_ann_ivf rows") {
    // persistence is lossless by construction — row-for-row equality is
    // the sharpest statement of that (both also share one DuckDB oracle)
    val live = SparkEntry.queries("sim_ann_ivf")(spark, sf).collect().toSeq
    val disk = SparkEntry.queries("sim_ann_ivf_persisted")(spark, sf).collect().toSeq
    assert(live.nonEmpty && live == disk)
  }

  test("MinHash planted-near-dup recall meets the floor (the dial that caught the biased family)") {
    // the judged dedup_minhash_recall plants a true-J≈0.6 near-dup per
    // 25th doc and asks the END-TO-END pipeline (band collision AND
    // est >= 0.5) to recover it. Under the original ha + k*hb family
    // this measured recall 0 (the k-hashes were not independent and
    // est collapsed to ~0.25); the (a_k*x + b_k) mod p family measures
    // 0.9 at sf0.01. Floor at 0.7: estimator noise at J just above
    // the threshold legitimately drops a pair or two.
    val rows = SparkEntry.queries("dedup_minhash_recall")(spark, sf).collect()
    assert(rows.length >= 10, "planted set unexpectedly small")
    val recall = rows.count(_.getBoolean(1)).toDouble / rows.length
    info(f"minhash planted recall = $recall%.3f (${rows.count(_.getBoolean(1))} / ${rows.length})")
    assert(recall >= 0.7, f"planted recall $recall%.3f below the 0.7 floor")
  }

  test("SimHash planted-near-dup recall meets the floor (the dial that forced banded blocking)") {
    // planted pairs sit at true Hamming 4-13 — ALL pass the ham<=16
    // confirmation, so recall is purely a blocking property: the old
    // single low-16-bit bucket measured 0.3 (pairs never met), the
    // 8x8-band blocking measures 1.0 (ham<=7 pigeonhole-guaranteed).
    val rows = SparkEntry.queries("dedup_simhash_recall")(spark, sf).collect()
    assert(rows.length >= 10)
    val recall = rows.count(_.getBoolean(1)).toDouble / rows.length
    info(f"simhash planted recall = $recall%.3f")
    assert(recall >= 0.9, f"simhash planted recall $recall%.3f below the 0.9 floor")
  }

  test("embedding-dedup planted recall meets the floor (third blocking dial)") {
    // planted pairs sit at cosine ~0.89 — all pass the 0.4 judged
    // threshold, so recall is again purely a blocking property: single
    // dims-0-3 axis-sign bucket measured 0.45, the 4-banded blocking
    // measures 0.9 (estimator-free: the miss mode is a near-zero
    // component flipping sign in every band).
    val rows = SparkEntry.queries("dedup_embedding_recall")(spark, sf).collect()
    assert(rows.length >= 10)
    val recall = rows.count(_.getBoolean(1)).toDouble / rows.length
    info(f"embedding planted recall = $recall%.3f")
    assert(recall >= 0.7, f"embedding planted recall $recall%.3f below the 0.7 floor")
  }

  test("dedup_components pointer-jumping converges to true union-find components") {
    import org.apache.spark.sql.Row
    // ground truth: local union-find over the SAME edge set, rebuilt
    // here from the fingerprint classes + consecutive jaccard pairs
    import graft.functions.TextFunctions.{fingerprint, shingles}
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, sf)
    val sh = docs.select(col("doc_id"), shingles(col("text"), 3).as("sh")).collect()
      .map { case Row(id: Long, a: scala.collection.Seq[_]) => id -> a.map(_.toString).toSet }.toMap
    val jEdges = sh.keys.toSeq.sorted.flatMap { id =>
      sh.get(id + 1).toSeq.flatMap { b =>
        val a = sh(id); val inter = (a & b).size
        if (inter.toDouble / (a.size + b.size - inter) >= 0.5) Seq((id, id + 1)) else Nil
      }
    }
    val fpClasses = docs.select(col("doc_id"), fingerprint(col("text")).as("fp")).collect()
      .map { case Row(id: Long, fp: String) => fp -> id }.groupBy(_._1).values
      .flatMap { g => val m = g.map(_._2).min; g.map(_._2).filter(_ != m).map(m -> _) }
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = { val p = parent.getOrElse(x, x); if (p == x) x else { val r = find(p); parent(x) = r; r } }
    def union(a: Long, b: Long): Unit = { val (ra, rb) = (find(a), find(b)); if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb) }
    (jEdges ++ fpClasses).foreach { case (a, b) => union(a, b) }
    val expected = sh.keys.map(id => id -> find(id)).toMap
    val got = SparkEntry.queries("dedup_components")(spark, sf).collect()
      .map { case Row(id: Long, comp: Long, _) => id -> comp }.toMap
    assert(got.size === expected.size)
    expected.foreach { case (id, c) => assert(got(id) === c, s"doc $id: got ${got(id)}, want $c") }
  }

  test("dedup_components converges on an adversarial id-ordered chain") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // The failure mode a fixed round count misses: the component min
    // (10) attaches at the FAR end (139) of an id-ascending chain
    // 100..139, so the min must propagate backward against the
    // direction plain pointer jumping accelerates.
    val base = "the quick brown fox jumps over the lazy dog again and again " * 3
    val chain = (100L to 139L).map(i => (i, base + s"tail$i"))
    val far = Seq((10L, base + "tail139"))            // exact dup of doc 139
    val isolated = Seq((7L, "completely unrelated short text zzz"))
    val dir = s"${sys.props("java.io.tmpdir")}/graft_test_ccchain"
    (chain ++ far ++ isolated).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("dedup_components")(spark, dir).collect()
      .map { case Row(id: Long, comp: Long, kept: Boolean) => id -> (comp, kept) }.toMap
    (100L to 139L).foreach { i => assert(got(i) === ((10L, false)), s"doc $i") }
    assert(got(10L) === ((10L, true)))
    assert(got(7L) === ((7L, true)))
  }

  test("agg_approx_quantiles is within 2% of the exact interpolated quantiles") {
    // The bound check is computed IN-PLAN now (self-certifying output —
    // the driver's oracle asserts within_2pct = TRUE); here we assert
    // the same boolean so a sketch regression fails fast in CI too.
    val rows = SparkEntry.queries("agg_approx_quantiles")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Boolean]("within_2pct"),
        s"status ${r.get(0)}: percentile_approx drifted past 2% of exact")
    }
  }

  test("agg_approx_distinct HLL is within 10% of exact") {
    // Same self-certifying shape as agg_approx_quantiles: the in-plan
    // within_10pct boolean compares the HLL estimate to countDistinct.
    val rows = SparkEntry.queries("agg_approx_distinct")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Boolean]("within_10pct"),
        s"flag ${r.get(0)}: HLL estimate drifted past 10% of exact")
    }
  }

  test("doc_pii_scrub removes every planted email/phone and counts them") {
    import org.apache.spark.sql.Row
    val rows = SparkEntry.queries("doc_pii_scrub")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { case Row(id: Long, ne: Long, np: Long, tail: String, residual: Boolean) =>
      assert(ne >= 1 && np >= 1, s"doc $id: planted PII not detected")
      assert(!residual, s"doc $id: PII survived the scrub")
      assert(tail.contains("[EMAIL]") || tail.contains("[PHONE]"), s"doc $id: $tail")
    }
  }

  test("scd2_history intervals chain per user: one current row, no overlap") {
    import org.apache.spark.sql.Row
    val rows = SparkEntry.queries("scd2_history")(spark, sf).collect()
      .map { case Row(u: Long, _, _, from: java.sql.Timestamp, to: java.sql.Timestamp, cur: Boolean) =>
        (u, from, Option(to), cur)
      case Row(u: Long, _, _, from: java.sql.Timestamp, null, cur: Boolean) =>
        (u, from, None: Option[java.sql.Timestamp], cur)
      }
    rows.groupBy(_._1).foreach { case (u, hist) =>
      assert(hist.count(_._4) === 1, s"user $u: expected exactly one current row")
      hist.foreach { case (_, from, to, cur) =>
        assert(cur === to.isEmpty, s"user $u: is_current must mean open-ended")
        to.foreach(t => assert(!t.before(from), s"user $u: valid_to < valid_from"))
      }
      // each interval's end is the next interval's start (dense chain)
      val sorted = hist.sortBy(_._2.getTime).toSeq
      sorted.sliding(2).foreach {
        case Seq((_, _, Some(to), _), (_, from2, _, _)) => assert(to === from2)
        case _ => ()
      }
    }
  }

  test("events_anomaly flags only |z| > 2 and a small fraction of events") {
    import org.apache.spark.sql.Row
    val rows = SparkEntry.queries("events_anomaly")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { case Row(_, _, _, z: Double) => assert(math.abs(z) > 2) }
    val total = Tables.events(spark, sf).count()
    assert(rows.length < total / 4, "anomaly rate implausibly high")
  }

  test("vec_quantize_int8: codes bounded, max-magnitude dim saturates, error within truncation bound") {
    val rows = SparkEntry.queries("vec_quantize_int8")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (maxabs, codes, l1Err) = (r.getLong(1), r.getString(2), r.getLong(3))
      val cs = codes.split(",").map(_.toLong)
      assert(cs.length === 64)
      assert(cs.forall(c => c >= -127 && c <= 127), s"code out of int8 range: $codes")
      // the max-|x| dimension must hit full scale exactly
      assert(cs.exists(c => math.abs(c) === 127L), s"no saturated code: $codes")
      // per-dim truncation error < maxabs/127 + 1 ⇒ exact L1 bound
      assert(l1Err <= 64L * (maxabs / 127L + 1L),
        s"reconstruction error $l1Err exceeds truncation bound for maxabs=$maxabs")
      assert(r.getDouble(4) >= 0.0 && r.getDouble(4) < 0.05,
        "SQ8 relative L1 error should be well under 5% on unit-scale vectors")
    }
  }

  test("sim_mmr_rerank: valid greedy selection, seeded by top-1, diversity non-vacuous") {
    val mmr = SparkEntry.queries("sim_mmr_rerank")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val exact = SparkEntry.queries("sim_cosine_topk")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(1))) // (q_id, rnk, vec_id)
    val byQ = mmr.groupBy(_._1)
    assert(byQ.keySet === exact.map(_._1).toSet)
    for ((q, rows) <- byQ) {
      val ordered = rows.sortBy(_._2).map(_._3).toSeq
      assert(ordered.length === 5 && ordered.distinct.length === 5, s"q=$q picks=$ordered")
      // the seed is the plain cosine top-1
      val top1 = exact.find(e => e._1 == q && e._2 == 1L).get._3
      assert(ordered.head === top1, s"q=$q seed ${ordered.head} != cosine top-1 $top1")
    }
    // diversification must actually change at least one query's set or
    // order vs the plain top-5 — otherwise the penalty term is vacuous
    val plain = exact.groupBy(_._1).map { case (q, es) =>
      q -> es.sortBy(_._2).map(_._3).toSeq }
    assert(byQ.exists { case (q, rows) =>
      rows.sortBy(_._2).map(_._3).toSeq != plain(q) },
      "MMR selections identical to cosine top-5 for every query")
  }

  test("dedup_containment: directed pairs meet the threshold; exact dups reach 1.0 both ways") {
    val rows = SparkEntry.queries("dedup_containment")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.nonEmpty)
    rows.foreach { case (src, dst, ppm) =>
      assert(src != dst, s"self-pair $src")
      assert(ppm >= 500000 && ppm <= 1000000, s"($src,$dst) ppm=$ppm outside [threshold, 1.0]")
    }
    // byte-identical docs have identical shingle sets → containment
    // exactly 1.0 in BOTH directions; derive dup pairs from the raw
    // corpus fingerprints directly (dedup_exact_classes now runs over
    // a PLANTED corpus, so its non-emptiness no longer says anything
    // about raw-corpus dups — dupPairs below handles the empty case)
    val emitted = rows.map(r => (r._1, r._2) -> r._3).toMap
    locally {
      // members of one class share text; fetch ids per fp via fingerprint query
      val fps = SparkEntry.queries("doc_fingerprint")(spark, sf).collect()
        .map(r => (r.getLong(0), r.getString(1)))
      // only classes the query's own contract guarantees it can see:
      // a class of 11+ byte-identical docs pushes every shared 3-gram
      // past the df<=10 prune (and docs under 3 tokens have no grams),
      // so such pairs legitimately emit nothing — check within-scope
      // classes only, instead of encoding fixture luck into the assert
      // token counts via the engine's own tokenizer — a selectExpr
      // regex string here previously double-escaped and undercounted
      import org.apache.spark.sql.functions.{col, size}
      val docTokens = spark.read.parquet(s"$sf/documents.parquet")
        .select(col("doc_id"),
          size(graft.functions.TextFunctions.tokens(col("text"))).as("n"))
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      val dupPairs = fps.groupBy(_._2).values
        .filter(g => g.length > 1 && g.length <= 10 &&
          g.forall(d => docTokens.getOrElse(d._1, 0) >= 3))
        .flatMap { g =>
          val ids = g.map(_._1).sorted.toSeq
          for (a <- ids; b <- ids if a != b) yield (a, b)
        }
      dupPairs.foreach { p =>
        assert(emitted.get(p).contains(1000000L),
          s"exact-dup pair $p missing or below 1.0: ${emitted.get(p)}")
      }
    }
  }

  test("dedup_containment_incremental: full batch roster; containers come from the index side") {
    val rows = SparkEntry.queries("dedup_containment_incremental")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)), r.getBoolean(3)))
    assert(rows.nonEmpty)
    // roster: exactly the batch docs (doc_id % 5 == 0) with >= 3 tokens,
    // one row each — the left-join keeps zero-hit docs in the output
    import org.apache.spark.sql.functions.{col, size}
    val expectedRoster = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"),
        size(graft.functions.TextFunctions.tokens(col("text"))).as("n"))
      .filter("doc_id % 5 = 0 AND n >= 3")
      .collect().map(_.getLong(0)).toSet
    assert(rows.map(_._1).toSet === expectedRoster)
    assert(rows.map(_._1).distinct.length === rows.length, "duplicate roster rows")
    rows.foreach { case (id, n, first, contained) =>
      assert(id % 5 == 0, s"doc $id is not a batch doc")
      assert(contained == (n > 0), s"doc $id flag inconsistent with n_containers=$n")
      assert(first.isDefined == (n > 0), s"doc $id first_container/count mismatch")
      first.foreach(f => assert(f % 5 != 0,
        s"doc $id names container $f which is not a standing-index doc"))
    }
    // exact-dup classes spanning the split are the planted containment
    // witnesses: a batch doc byte-identical to a standing doc has its
    // SURVIVING shingles all inside that doc's index postings, so it
    // must be flagged iff a majority of its shingles survive the
    // standing-corpus df<=10 cut. The survival condition is computed
    // from the corpus (not assumed from class size: a 2-member class
    // whose shingles are corpus-common phrases shared by >10 OTHER
    // standing docs legitimately scores below threshold).
    val shingles = graft.queries.SharedText.shingles3(spark, sf)
    val standingSh = shingles.filter("doc_id % 5 != 0")
    val keptG = standingSh.groupBy("g").count().filter("count <= 10")
      .select("g").withColumn("kept", org.apache.spark.sql.functions.lit(1))
    val survival = shingles.filter("doc_id % 5 = 0")
      .join(keptG, Seq("g"), "left")
      .groupBy("doc_id")
      .agg(org.apache.spark.sql.functions.expr("count(1)").as("total"),
        org.apache.spark.sql.functions.expr("count(kept)").as("kept"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val fps = SparkEntry.queries("doc_fingerprint")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val byDoc = rows.map(r => r._1 -> r._4).toMap
    fps.groupBy(_._2).values
      .filter(_.length > 1)
      .foreach { g =>
        val ids = g.map(_._1)
        val batchIds = ids.filter(i => expectedRoster.contains(i))
        val standing = ids.filter(_ % 5 != 0)
        if (standing.nonEmpty) batchIds.foreach { b =>
          val (total, kept) = survival(b)
          if (kept * 2 >= total)
            assert(byDoc(b), s"batch doc $b is byte-identical to standing ${standing.head} " +
              s"with $kept/$total shingles surviving the df cut, but not flagged contained")
        }
      }
  }

  test("doc_nb_classify: held-out split only, predictions within the trained label set") {
    val rows = SparkEntry.queries("doc_nb_classify")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3), r.getBoolean(4)))
    assert(rows.nonEmpty)
    val trainLangs = spark.read.parquet(s"$sf/documents.parquet")
      .filter("doc_id % 2 = 0").select("lang").distinct()
      .collect().map(_.getString(0)).toSet
    rows.foreach { case (id, lang, pred, score, correct) =>
      assert(id % 2 == 1, s"doc $id is a training doc leaking into the serve split")
      assert(trainLangs.contains(pred), s"doc $id predicted unseen class $pred")
      assert(score > 0, s"doc $id non-positive score $score")
      assert(correct == (lang == pred), s"doc $id correct flag inconsistent")
    }
    // argmax is unique per doc
    assert(rows.map(_._1).distinct.length === rows.length)
  }

  test("events_markov: rows are a proper stochastic matrix in ppm") {
    val rows = SparkEntry.queries("events_markov")(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    // per prev_type: p_ppm ≈ n/total in truncated ppm, summing to 1e6
    // minus at most (fanout-1) truncation ulps
    rows.groupBy(_._1).foreach { case (prev, rs) =>
      val tot = rs.map(_._3).sum
      rs.foreach { case (_, _, n, ppm) =>
        assert(ppm === n * 1000000L / tot, s"$prev: ppm mismatch")
      }
      val sum = rs.map(_._4).sum
      assert(sum <= 1000000L && sum > 1000000L - rs.length,
        s"$prev: ppm row sums to $sum")
    }
  }

  test("retrieval_hybrid_rrf: fused scores recompute from the emitted leg ranks; fusion non-vacuous") {
    val rows = SparkEntry.queries("retrieval_hybrid_rrf")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1),
        r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3)),
        if (r.isNullAt(4)) None else Some(r.getLong(4)),
        r.getLong(5)))
    assert(rows.nonEmpty)
    def term(rk: Option[Long]): Long = rk.map(k => 1000000L / (60L + k)).getOrElse(0L)
    rows.foreach { case (q, doc, rrf, sRnk, dRnk, _) =>
      assert(sRnk.isDefined || dRnk.isDefined, s"($q,$doc): fused with no leg rank")
      assert(rrf === term(sRnk) + term(dRnk),
        s"($q,$doc): rrf $rrf != recomputed ${term(sRnk) + term(dRnk)}")
    }
    // a doc surfaced by BOTH legs exists (otherwise the fusion is a
    // trivial concat and the gate proves nothing)
    assert(rows.exists { case (_, _, _, s, dn, _) => s.isDefined && dn.isDefined },
      "no doc appeared in both legs — fusion vacuous on this fixture")
    // per query: ranks contiguous from 1, fused order respects (rrf desc, doc_id)
    rows.groupBy(_._1).foreach { case (q, rs) =>
      val sorted = rs.sortBy(_._6)
      assert(sorted.map(_._6).toSeq === (1L to rs.length).toSeq, s"query $q: ranks not contiguous")
      sorted.sliding(2).foreach {
        case Array((_, d1, r1, _, _, _), (_, d2, r2, _, _, _)) =>
          assert(r1 > r2 || (r1 == r2 && d1 < d2), s"query $q: fused order violated")
        case _ =>
      }
    }
  }
}
