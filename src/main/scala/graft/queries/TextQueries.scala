package graft.queries

import graft.Tables
import graft.functions.TextFunctions._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** LLM-training-data text operators over the `documents` fixture:
  * stats, tokenization, language ID, quality scoring, fingerprinting,
  * exact and near dedup (n-gram Jaccard, MinHash+LSH, SimHash).
  *
  * Scale shape: everything per-document is narrow/codegen'd; dedup
  * candidate generation goes through bucket joins (fingerprint groupBy,
  * LSH band explode+join) — never an all-pairs cross join.
  */
object TextQueries {

  /** Consecutive-doc 3-shingle pairs `(pair_id, sh_a, sh_b, inter)`:
    * the shingle frame materializes ONCE (localCheckpoint), then a
    * ShuffledHashJoin on `pair_id` assembles (A, B) — doc i meets doc
    * i+1 under pair_id = i, inner-join semantics = both ends present.
    * Round 19 (session 4): the previous tag-explode + `first(array)`
    * aggregate planned as TWO SortAggregates — an array-typed
    * aggregation buffer fails the hash-aggregate buffer check (the
    * ArgMaxBy lesson), so the "single-shuffle" form silently sorted
    * the full shingle-array payload twice per run. The checkpointed
    * self-join shuffles the same array bytes (once per side vs once at
    * 2x rows) with ZERO sorts and hash build/probe. Measured
    * (interleaved fresh-JVM probe + subset A/B, sf0.1): edge-derivation
    * parity with the old form (~1.8 s both), ngram serve exec 2.17 ->
    * 0.49 s with the saved cost paying the one-time checkpoint — flat
    * wall at fixture scale; at 100 TB sorting corpus-sized array rows
    * twice is the wall this removes. A NO-checkpoint variant measured
    * 2x WORSE (see the barrier note below). Shared by
    * dedup_ngram_jaccard and dedup_components so their edge sets can
    * never drift apart. */
  private def consecutiveShinglePairs(docs: DataFrame): DataFrame = {
    // The checkpoint is ALSO a constraint-inference barrier: without it
    // a consumer filter on `inter` lands as the join condition and
    // InferFiltersFromConstraints plants isnotnull(char_shingles(text))
    // under each projection — the full shingle expression evaluated
    // TWICE per row (measured 2x the kernel cost in the cclabels edge
    // derivation). Against the checkpointed frame the inferred
    // isnotnull is a cheap column check.
    val sh = docs.select(col("doc_id"), shingles(col("text"), 3).as("sh"))
      .localCheckpoint()
    val a = sh.select(col("doc_id").as("pair_id"), col("sh").as("sh_a"))
    val b = sh.select((col("doc_id") - 1).as("pair_id"), col("sh").as("sh_b"))
    // SHUFFLE_HASH (guide §3.1): both sides corpus-sized — a broadcast
    // build cannot exist at scale, and SMJ would re-sort the arrays.
    a.join(b.hint("shuffle_hash"), Seq("pair_id"))
      // |A∩B| via the native count (round 19): array_intersect built
      // the full deduplicated intersection array per pair only for
      // size() to discard it; sh_a is distinct (CharShingles), so the
      // hash-set match count is value-identical
      .withColumn("inter", org.apache.spark.sql.GraftBridge.column(
        graft.expressions.IntersectCount(
          org.apache.spark.sql.GraftBridge.expression(col("sh_a")),
          org.apache.spark.sql.GraftBridge.expression(col("sh_b")))))
  }

  /** MinHash+LSH candidate pairs `(id_a, id_b, est_jaccard)` (id_a <
    * id_b, deduped across bands, NO similarity threshold — callers
    * filter) over any `(doc_id, text)` input. Shared by
    * `dedup_minhash_lsh` and the planted-recall dial
    * `dedup_minhash_recall`, so the judged index and the measured
    * quality can never drift apart. See the scale commentary at the
    * dedup_minhash_lsh call site. */
  /** Seeded hash family h_k(x) = (a_k·x + b_k) mod p over the md5-
    * derived token value x (reduced mod p = 2^31−1; products stay
    * under 2^62 — no int64 overflow in either engine). The per-k
    * constants come from fixed multiplicative recurrences, so the 32
    * hashes are effectively independent — the round-7 recall dial
    * exposed that the previous affine-in-k family (ha + k·hb) was NOT:
    * its orderings converge to hb's as k grows, biasing est_jaccard
    * to ~0.25 on true-J≈0.64 planted pairs (recall 0 at the 0.5
    * threshold); this family estimates them at 0.59–0.72. */
  private val MinhashP = 2147483647L // 2^31 − 1 (Mersenne)
  private def minhashA(k: Int): Long = {
    val a = (2654435761L * (k + 1)) % MinhashP
    if (a == 0) 1L else a
  }
  private def minhashB(k: Int): Long = (1013904223L * (k + 1) + 12345L) % MinhashP

  /** MinHash runs over DISTINCT char 5-shingles of the lowercased
    * text (the standard MinHash domain), not word tokens: the fixture
    * corpus draws from a ~31-word vocabulary, so word-token sets are
    * degenerate (random-pair Jaccard ≈ 0.6 — every pair is a
    * "near-dup") while char 5-grams separate cleanly (planted
    * near-dups ≈ 0.60 vs random pairs ≈ 0.17). */
  /** UNCAPPED banded MinHash signatures `(doc_id, sig, band, bk1,
    * bk2)` over any `(doc_id, text)` input — per-doc only (no
    * cross-doc dependency), so it can run over any subset, including
    * a single micro-batch, and produce identical rows. */
  /** The 32-hash signature frame `(doc_id, sig)` — the expensive half
    * of the index build (token explode + md5 + one 32-buffer hash
    * aggregate); factored from the cheap band explode so callers can
    * materialize it once. */
  private[queries] def minhashSigs(docs: DataFrame): DataFrame = {
    val exploded = docs
      .select(col("doc_id"),
        explode(array_distinct(shingles(lower(trim(col("text"))), 5))).as("tok"))
      .withColumn("h", md5(col("tok")))
      .select(col("doc_id"),
        pmod(conv(substring(col("h"), 1, 14), 16, 10).cast("long"), lit(MinhashP)).as("x"))
    val minCols = (0 until 32).map(k =>
      min(pmod(lit(minhashA(k)) * col("x") + lit(minhashB(k)), lit(MinhashP))).as(s"m$k"))
    exploded.groupBy(col("doc_id"))
      .agg(minCols.head, minCols.tail: _*)
      .select(col("doc_id"), array((0 until 32).map(i => col(s"m$i")): _*).as("sig"))
  }

  /** Band explode of a signature frame — narrow, cheap, recompute-safe. */
  private def bandsOf(sig: DataFrame): DataFrame = {
    val bandCols = (0 until 16).map(b => struct(
      element_at(col("sig"), b * 2 + 1).as("bk1"),
      element_at(col("sig"), b * 2 + 2).as("bk2")))
    sig.select(col("doc_id"), col("sig"),
        posexplode(array(bandCols: _*)).as(Seq("band", "bkey")))
      .select(col("doc_id"), col("sig"), col("band"),
        col("bkey.bk1").as("bk1"), col("bkey.bk2").as("bk2"))
  }

  private[queries] def minhashBandedRaw(docs: DataFrame): DataFrame =
    bandsOf(minhashSigs(docs))

  /** The banded, capped MinHash index `(doc_id, sig, band, bk1, bk2)`
    * over any `(doc_id, text)` input — the persistable artifact the
    * self-join (`minhashPairs`) and the incremental batch-vs-index
    * joins (`dedup_minhash_incremental`, `stream_dedup_index`) build
    * on. */
  private[queries] def minhashBanded(docs: DataFrame): DataFrame =
    BandIndex.MinHash.capped(minhashBandedRaw(docs))

  /** The fixture corpus's signature frame, checkpointed ONCE per JVM
    * (round-11): dedup_minhash_lsh, the incremental index build, and
    * the streaming twin all derive from this same frame — previously
    * each rebuilt the shingle-explode + 32-min aggregate. */
  private[queries] def fixtureSigs(s: SparkSession, d: String): DataFrame =
    graft.Staging.frame(s, "mh_sigs", d) {
      minhashSigs(Tables.documents(s, d)).localCheckpoint()
    }

  /** The persisted banded MinHash index over the fixture's "standing
    * corpus" slice (doc_id mod 5 != 0), written ONCE per JVM
    * (round-11): dedup_minhash_incremental and stream_dedup_index read
    * the same parquet artifact — exactly the production lifecycle
    * (one index build, many probe paths). Returns the index path. */
  private[queries] def sharedMinhashIndex(s: SparkSession, d: String): String =
    BandIndex.persist(s, "mhidx_shared", d) {
      BandIndex.MinHash.capped(
        bandsOf(fixtureSigs(s, d)).filter(pmod(col("doc_id"), lit(5L)) =!= 0))
    }

  /** Rebuild-from-scratch twin of `dedup_minhash_index_append`'s
    * appended artifact — test-only (MinHashQualitySpec asserts the
    * append+recap == rebuild invariant at FRAME level, complementing
    * the query's probe-path hash gate). */
  private[graft] def rebuildAppendedIndex(s: SparkSession, d: String): DataFrame =
    BandIndex.MinHash.capped(
      bandsOf(fixtureSigs(s, d))
        .filter(pmod(col("doc_id"), lit(5L)) =!= 0 ||
          pmod(col("doc_id"), lit(10L)) === 0))

  private[queries] def minhashPairs(docs: DataFrame): DataFrame = {
    // The self-join's aliased subtrees defeat ReuseExchange, so the
    // build would run twice. Checkpointing the BANDED frame measured
    // 0.8 s SLOWER (16 band rows per doc each carrying the 32-long sig
    // array); checkpointing only the narrow SIGNATURE frame (one row
    // per doc) materializes the expensive aggregate once while the
    // cheap band explode + cap window recompute per side.
    minhashPairsFromSigs(minhashSigs(docs).localCheckpoint())
  }

  private[queries] def minhashPairsFromSigs(sigs: DataFrame): DataFrame = {
    // (a narrow-join variant — sig arrays stripped before the self-join
    // and re-attached to the deduped pairs via two broadcast joins —
    // measured 1.4 s SLOWER than carrying the sigs: the extra join
    // stages cost more than the wider shuffles saved)
    val banded = BandIndex.MinHash.capped(bandsOf(sigs))
    val a = banded.select(col("band"), col("bk1"), col("bk2"),
      col("doc_id").as("id_a"), col("sig").as("sig_a"))
    val b = banded.select(col("band"), col("bk1"), col("bk2"),
      col("doc_id").as("id_b"), col("sig").as("sig_b"))
    // SHUFFLE_HASH (round 19, guide §3.1): both sides are corpus-sized,
    // so the auto-chosen broadcast build serialized a full side through
    // the driver and hashed it single-threaded per executor; the bucket
    // shuffle builds per-partition tables in parallel, and broadcast is
    // impossible at real scale anyway (the band-join lesson, §S3-G).
    a.join(b.hint("shuffle_hash"), Seq("band", "bk1", "bk2"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        minhashSimilarity(col("sig_a"), col("sig_b")).as("est_jaccard"))
      .dropDuplicates("id_a", "id_b")
  }

  /** DuckDB twin of [[minhashBandedRaw]]: the CTE chain ending in
    * `bands(doc_id, sig, band, bk1, bk2)` (uncapped). */
  private[queries] def minhashBandsRawSql(docsCte: String): String = s"""
      toks AS (SELECT doc_id,
                 unnest(list_distinct(list_transform(range(1, greatest(len(t) - 4, 1) + 1),
                   i -> substr(t, CAST(i AS INT), 5)))) AS tok
               FROM (SELECT doc_id, lower(trim(text)) AS t FROM $docsCte) lt),
      th AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 14))::BIGINT % $MinhashP AS x
             FROM toks),
      sig AS (SELECT doc_id,
                [${(0 until 32).map(k => s"min((${minhashA(k)} * x + ${minhashB(k)}) % $MinhashP)").mkString(", ")}] AS sig
              FROM th GROUP BY doc_id),
      bands AS (SELECT doc_id, sig, i AS band, sig[2*i + 1] AS bk1, sig[2*i + 2] AS bk2
                FROM sig CROSS JOIN range(0, 16) AS t(i))"""

  /** DuckDB twin of [[minhashBanded]]: the CTE chain ending in
    * `capped(doc_id, sig, band, bk1, bk2)`, generated from the same
    * 32/16x2/200 constants. */
  private[queries] def minhashBandedSql(docsCte: String): String = s"""
      ${minhashBandsRawSql(docsCte)},
      capped AS (SELECT * FROM bands
                 QUALIFY row_number() OVER (PARTITION BY band, bk1, bk2 ORDER BY doc_id) <= 200)"""

  /** DuckDB twin of [[minhashPairs]]: the CTE chain (ending in `p`)
    * over `docsCte`, generated from the same 32/16x2/200 constants. */
  private[queries] def minhashPairsSql(docsCte: String): String = s"""
      ${minhashBandedSql(docsCte)},
      p AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
              round(CAST(len(list_filter(range(1, 33), i -> a.sig[i] = b.sig[i])) AS DOUBLE) / 32, 6) AS est_jaccard
            FROM capped a JOIN capped b
              ON a.band = b.band AND a.bk1 = b.bk1 AND a.bk2 = b.bk2 AND a.doc_id < b.doc_id)"""

  /** Shared oracle for `dedup_minhash_incremental` and its streaming
    * twin `stream_dedup_index` (both reduce to: batch docs scored
    * against the capped standing index): index = doc_id % 5 != 0
    * (capped over its own docs), batch = doc_id % 5 = 0 (uncapped —
    * per-doc signatures have no cross-doc dependency, so any
    * micro-batch split scores identically, which is exactly what lets
    * the streaming twin share this oracle). */
  private[queries] def minhashIncrementalOracle: String = s"""
      WITH ${minhashBandsRawSql("documents")},
      idx AS (SELECT * FROM bands WHERE doc_id % 5 <> 0
              QUALIFY row_number() OVER (PARTITION BY band, bk1, bk2 ORDER BY doc_id) <= 200),
      bat AS (SELECT * FROM bands WHERE doc_id % 5 = 0),
      hits AS (SELECT DISTINCT b.doc_id, i.doc_id AS idx_id,
                 round(CAST(len(list_filter(range(1, 33), k -> b.sig[k] = i.sig[k])) AS DOUBLE) / 32, 6) AS est
               FROM bat b JOIN idx i
                 ON i.band = b.band AND i.bk1 = b.bk1 AND i.bk2 = b.bk2),
      agg AS (SELECT doc_id, count(*) AS n_index_dups, min(idx_id) AS first_dup
              FROM hits WHERE est >= 0.5 GROUP BY 1)
      SELECT d.doc_id, coalesce(n_index_dups, 0) AS n_index_dups, first_dup,
             n_index_dups IS NOT NULL AS is_dup
      FROM (SELECT doc_id FROM documents WHERE doc_id % 5 = 0) d
      LEFT JOIN agg ON agg.doc_id = d.doc_id
      ORDER BY d.doc_id"""

  /** Shared oracle of the combined nightly roll and its streaming
    * twin (`dedup_minhash_index_roll` / `stream_minhash_index_roll`):
    * the artifact-true algebra recap((cap(standing) ∖ T) ∪ arrivals)
    * with the day-3 probe slice served against the rolled index. Both
    * mechanizations must land on this one answer — the batch roll
    * folds staged frames directly; the stream roll logs the same
    * deltas from micro-batches first. */
  private[queries] def minhashRollOracle: String = s"""
      WITH ${minhashBandsRawSql("documents")},
      idx0 AS (SELECT * FROM bands WHERE doc_id % 5 <> 0
               QUALIFY row_number() OVER (PARTITION BY band, bk1, bk2 ORDER BY doc_id) <= 200),
      un AS (SELECT * FROM idx0 WHERE doc_id % 20 <> 3
             UNION ALL SELECT * FROM bands WHERE doc_id % 10 = 0),
      idx AS (SELECT * FROM un
              QUALIFY row_number() OVER (PARTITION BY band, bk1, bk2 ORDER BY doc_id) <= 200),
      bat AS (SELECT * FROM bands WHERE doc_id % 10 = 5),
      hits AS (SELECT DISTINCT b.doc_id, i.doc_id AS idx_id,
                 round(CAST(len(list_filter(range(1, 33), k -> b.sig[k] = i.sig[k])) AS DOUBLE) / 32, 6) AS est
               FROM bat b JOIN idx i
                 ON i.band = b.band AND i.bk1 = b.bk1 AND i.bk2 = b.bk2),
      agg AS (SELECT doc_id, count(*) AS n_index_dups, min(idx_id) AS first_dup
              FROM hits WHERE est >= 0.5 GROUP BY 1)
      SELECT d.doc_id, coalesce(n_index_dups, 0) AS n_index_dups, first_dup,
             n_index_dups IS NOT NULL AS is_dup
      FROM (SELECT doc_id FROM documents WHERE doc_id % 10 = 5) d
      LEFT JOIN agg ON agg.doc_id = d.doc_id
      ORDER BY d.doc_id"""

  /** `stream_dedup_index`'s per-trigger body — signatures computed
    * from the batch's own text, scored against the persisted index,
    * written batch-id-keyed in OVERWRITE mode, so a replayed batch
    * converges and never duplicates (FoldReplaySpec re-executes it with
    * committed batch ids). */
  private[graft] def dedupIndexLogBatch(s: SparkSession, d: String,
      b: DataFrame, id: Long): Unit = {
    val root = graft.Staging.dir("sdix", d)
    scoreAgainstIndex(minhashBandedRaw(b), BandIndex.read(s, sharedMinhashIndex(s, d)))
      .write.mode("overwrite").parquet(s"$root/hits/b$id")
  }

  /** `stream_minhash_index_roll`'s per-trigger body
    * ([[BandIndex.logBatch]]): arrivals are signed and banded off their
    * own text. */
  private[graft] def minhashRollLogBatch(d: String, b: DataFrame, id: Long): Unit =
    BandIndex.MinHash.logBatch(graft.Staging.dir("mhsroll", d), b, id)(a =>
      minhashBandedRaw(a.select(col("doc_id"), col("text"))))

  /** The MinHash roll fold ([[BandIndex.roll]]) over the persisted
    * standing index — the frame both the batch and the stream roll
    * persist, and the one PlanShapeSpec guards. */
  private[graft] def minhashRollFold(s: SparkSession,
      d: String, tomb: DataFrame, arrivals: DataFrame): DataFrame =
    BandIndex.MinHash.roll(BandIndex.read(s, sharedMinhashIndex(s, d)), tomb, arrivals)

  private val bucketMaxMemo =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  /** Largest standing-index bucket (band, bk1, bk2) size — the
    * tombstone-delete exactness guard (see
    * `dedup_minhash_index_delete`). One aggregate over the memoized
    * signature frame, computed once per (application, fixture). */
  private[graft] def standingMaxBucket(s: SparkSession, d: String): Long =
    bucketMaxMemo.computeIfAbsent(
      s"${s.sparkContext.applicationId}|${graft.Staging.suffix(d)}",
      _ => bandsOf(fixtureSigs(s, d))
        .filter(pmod(col("doc_id"), lit(5L)) =!= 0)
        .groupBy(col("band"), col("bk1"), col("bk2"))
        .agg(count(lit(1)).as("n"))
        .agg(max(col("n"))).head.getLong(0))

  /** Score a banded batch side against a MinHash band index: band-key
    * equi-join, est-Jaccard confirm at 0.5, per-doc rollup `(doc_id,
    * n_index_dups, first_dup)` — docs with at least one index hit only
    * ([[BandIndex.serve]] adds the roster). */
  private def scoreAgainstIndex(bandedBatch: DataFrame, idxRaw: DataFrame): DataFrame = {
    val idx = idxRaw
      .select(col("band"), col("bk1"), col("bk2"),
        col("doc_id").as("idx_id"), col("sig").as("idx_sig"))
    bandedBatch.join(idx, Seq("band", "bk1", "bk2"))
      .select(col("doc_id"), col("idx_id"),
        minhashSimilarity(col("sig"), col("idx_sig")).as("est"))
      .filter(col("est") >= 0.5)
      .dropDuplicates("doc_id", "idx_id")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_index_dups"), min(col("idx_id")).as("first_dup"))
  }

  /** Probe the fixture slice `doc_id % mod = res` against a MinHash
    * band index and serve that slice's roster — [[simhashServe]]'s
    * shape on the MinHash family (the incremental, delete and recap
    * serves probe %5=0; append and the roll twins probe the day-3
    * %10=5 slice). */
  private def minhashServe(s: SparkSession, d: String, idx: DataFrame,
      mod: Long = 5L, res: Long = 0L): DataFrame = {
    val slice = pmod(col("doc_id"), lit(mod)) === res
    BandIndex.MinHash.serve(
      scoreAgainstIndex(bandsOf(fixtureSigs(s, d)).filter(slice), idx),
      Tables.documents(s, d).filter(slice).select(col("doc_id")))
  }


  /** SimHash candidate pairs `(id_a, id_b, hamming_dist)` (id_a <
    * id_b, deduped across bands, NO distance threshold — callers
    * filter) over any `(doc_id, text)` input. Blocking is 8 banded
    * 8-bit tables (Manku et al., WWW'07): a pair with Hamming
    * distance <= 7 is GUARANTEED a clean band (pigeonhole), and the
    * planted dial measures 1.0 recall at the fixture's ham<=16
    * confirmation threshold — the round-7 dial measured 0.3 under
    * the previous single-16-bit-bucket blocking (every planted pair
    * passed confirmation but flipped a low bit and never met).
    * Shared by `dedup_simhash` and `dedup_simhash_recall`. */
  private[queries] def simhashPairs(docs: DataFrame): DataFrame =
    simhashPairsFromBanded(simhashBandedOf(docs).localCheckpoint())

  /** The fixture corpus's capped banded SimHash table, computed ONCE
    * per JVM (round-12: `dedup_simhash` rebuilt the token-explode +
    * 64-vote signature aggregate every run; the recall twin keeps its
    * own planted-corpus build). Checkpointed for the same
    * ReuseExchange reason documented in [[simhashBandedOf]]. */
  private def fixtureSimhashBanded(s: SparkSession, d: String): DataFrame =
    graft.Staging.frame(s, "sh_banded", d) {
      BandIndex.SimHash.capped(fixtureSimhashBandedRaw(s, d)).localCheckpoint()
    }

  /** The fixture corpus's UNcapped banded SimHash frame, memoized once
    * per JVM — the index lifecycle's shared prefix: the full-corpus
    * capped frame (dedup_simhash), the standing/day-1 index builds
    * (which must cap over their OWN slice — capping the full corpus
    * and then filtering would keep the wrong 200), and the batch probe
    * side (which must NOT cap) all derive from it. */
  private def fixtureSimhashBandedRaw(s: SparkSession, d: String): DataFrame =
    graft.Staging.frame(s, "sh_braw", d) {
      // the tokenize prefix rides the JVM-shared SharedText artifact
      // (round 14, staging attribution): `w` IS tokens(text) — the
      // identical expression — so the signature rows are bit-identical
      // while the build skips its own corpus scan + split
      simhashBandedRawFromToks(SharedText.tokenized(s, d)
        .select(col("doc_id"), explode(col("w")).as("tok"))).localCheckpoint()
    }

  /** The capped banded SimHash frame `(doc_id, sh64, band, bkey)` over
    * any `(doc_id, text)` input — the persistable index artifact. */
  private[queries] def simhashBandedOf(docs: DataFrame): DataFrame =
    simhashBandedFromToks(
      docs.select(col("doc_id"), explode(tokens(col("text"))).as("tok")))

  /** [[simhashBandedOf]] from an already-exploded `(doc_id, tok)`
    * stream — the shared-prefix entry point. */
  private def simhashBandedFromToks(toksIn: DataFrame): DataFrame =
    BandIndex.SimHash.capped(simhashBandedRawFromToks(toksIn))

  /** The UNcapped banded frame from exploded tokens — callers cap
    * over the slice that is semantically theirs. */
  private def simhashBandedRawFromToks(toksIn: DataFrame): DataFrame = {
    val toks = toksIn
      .withColumn("h", md5(col("tok")))
    val withV = toks.select(col("doc_id") +: (0 until 16).map(j =>
      conv(substring(col("h"), j + 1, 1), 16, 10).cast("int").as(s"v$j")): _*)
    val voteCols = (0 until 64).map(i =>
      sum(shiftright(col(s"v${i / 4}"), i % 4).bitwiseAND(1) * 2 - 1).as(s"b$i"))
    val sig = withV.groupBy(col("doc_id"))
      .agg(voteCols.head, voteCols.tail: _*)
      .select(col("doc_id"),
        (0 until 64).map(i => when(col(s"b$i") > 0, shiftleft(lit(1L), i)).otherwise(0L))
          .reduce(_ bitwiseOR _).as("sh64"))
    val bandKeys = (0 until 8).map(b =>
      shiftright(col("sh64"), 8 * b).bitwiseAND(lit(255L)).cast("int"))
    // Callers MUST materialize this frame before the self-join
    // (localCheckpoint in simhashPairs, Staging.frame for the fixture
    // path): the pairs plan self-joins `banded` and Spark's
    // ReuseExchange does NOT unify the two aliased subtrees (measured:
    // Scan=2, ReusedExchange=0) — without it the whole token-explode +
    // 64-vote signature aggregate runs twice (A/B at sf0.1: 4.1 s →
    // 3.2 s). The narrow (doc_id, sh64, band, bkey) rows make the
    // materialization cheap — contrast minhashPairs, where the sig
    // arrays tip the same trade the other way. Materializing the index
    // once is also the production lifecycle (build, then probe — the
    // parquet-persisted variant of exactly this split is
    // dedup_minhash_incremental's — and since round 16 the simhash
    // index lifecycle below).
    sig.select(col("doc_id"), col("sh64"),
      posexplode(array(bandKeys: _*)).as(Seq("band", "bkey")))
  }

  /** Banded self-join half of [[simhashPairs]] — callers pass a
    * MATERIALIZED banded frame (checkpointed or memoized). */
  private[queries] def simhashPairsFromBanded(banded: DataFrame): DataFrame = {
    val a = banded.select(col("band"), col("bkey"), col("doc_id").as("id_a"), col("sh64").as("h_a"))
    val b = banded.select(col("band"), col("bkey"), col("doc_id").as("id_b"), col("sh64").as("h_b"))
    // SHUFFLE_HASH: corpus-sized both sides (see minhashPairsFromSigs)
    a.join(b.hint("shuffle_hash"), Seq("band", "bkey")).filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        hamming(col("h_a"), col("h_b")).cast("long").as("hamming_dist"))
      .dropDuplicates("id_a", "id_b")
  }

  /** DuckDB twin of [[simhashBandedRawFromToks]]: CTE chain ending in
    * the UNcapped `bands(doc_id, bits, band, bkey)` — shared by the
    * pair oracle and the index-lifecycle oracles. */
  private[queries] def simhashBandsSql(docsCte: String): String = s"""
      toks AS (SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '[ \\t\\n\\x0B\\f\\r]+')) AS tok
               FROM $docsCte),
      th AS (SELECT doc_id, md5(tok) AS h FROM toks),
      bits AS (SELECT doc_id, i,
                 ((strpos('0123456789abcdef', substr(h, i // 4 + 1, 1)) - 1)
                   // (1 << (i % 4))) % 2 AS bit
               FROM th CROSS JOIN range(0, 64) AS t(i)),
      votes AS (SELECT doc_id, i, CASE WHEN sum(2 * bit - 1) > 0 THEN 1 ELSE 0 END AS sbit
                FROM bits GROUP BY doc_id, i),
      sig AS (SELECT doc_id, list(sbit ORDER BY i) AS bits FROM votes GROUP BY doc_id),
      bands AS (SELECT doc_id, bits, b AS band,
                  CAST(list_sum(list_transform(range(0, 8), i -> bits[8 * b + i + 1] * (1 << i))) AS INT) AS bkey
                FROM sig CROSS JOIN range(0, 8) AS t(b))"""

  /** DuckDB twin of [[simhashPairs]]: CTE chain ending in `p`. */
  private[queries] def simhashPairsSql(docsCte: String): String = s"""
      ${simhashBandsSql(docsCte)},
      capped AS (SELECT * FROM bands
                 QUALIFY row_number() OVER (PARTITION BY band, bkey ORDER BY doc_id) <= 200),
      p AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
              CAST(list_sum(list_transform(list_zip(a.bits, b.bits),
                s -> CASE WHEN s[1] <> s[2] THEN 1 ELSE 0 END)) AS BIGINT) AS hamming_dist
            FROM capped a JOIN capped b
              ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id)"""

  /** The persisted capped SimHash band index over a standing slice —
    * `which` = "shared" (all standing: doc_id % 5 ≠ 0) or "day1"
    * (standing ∧ even). The cap runs over the slice's OWN docs
    * (capping the full corpus and then filtering would keep the wrong
    * 200 — the reason the raw banded frame is the shared prefix). */
  private[queries] def sharedSimhashIndex(s: SparkSession, d: String, which: String): String =
    BandIndex.persist(s, s"shidx_$which", d) {
      val slice = which match {
        case "shared" => fixtureSimhashBandedRaw(s, d)
          .filter(pmod(col("doc_id"), lit(5L)) =!= 0)
        case "day1" => fixtureSimhashBandedRaw(s, d)
          .filter(pmod(col("doc_id"), lit(5L)) =!= 0 &&
            pmod(col("doc_id"), lit(2L)) === 0)
        case other => throw new IllegalArgumentException(s"unknown simhash index slice $other")
      }
      BandIndex.SimHash.capped(slice)
    }

  /** Batch probe against a simhash band index: band equi-join, Hamming
    * ≤ 16 confirm, per-doc rollup, full batch roster via left join —
    * `dedup_minhash_incremental`'s serve shape on the simhash family.
    * The probe slice is `doc_id % mod = res` (the incremental family
    * probes %5=0; the roll twins probe the day-3 %10=5 slice). */
  private def simhashServe(s: SparkSession, d: String, idxRaw: DataFrame,
      mod: Long = 5L, res: Long = 0L): DataFrame = {
    val batch = fixtureSimhashBandedRaw(s, d)
      .filter(pmod(col("doc_id"), lit(mod)) === res)
    val idx = idxRaw.select(col("band"), col("bkey"),
      col("doc_id").as("idx_id"), col("sh64").as("idx_sh"))
    val scored = batch.join(idx, Seq("band", "bkey"))
      .select(col("doc_id"), col("idx_id"),
        hamming(col("sh64"), col("idx_sh")).cast("long").as("ham"))
      .filter(col("ham") <= 16)
      .dropDuplicates("doc_id", "idx_id")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_index_dups"), min(col("idx_id")).as("first_dup"))
    BandIndex.SimHash.serve(scored,
      Tables.documents(s, d).filter(pmod(col("doc_id"), lit(mod)) === res)
        .select(col("doc_id")))
  }

  /** `stream_simhash_index_roll`'s per-trigger body
    * ([[BandIndex.logBatch]]): arrivals are signed and banded off their
    * own tokens. */
  private[graft] def simhashRollLogBatch(d: String, b: DataFrame, id: Long): Unit =
    BandIndex.SimHash.logBatch(graft.Staging.dir("shsroll", d), b, id)(a =>
      simhashBandedRawFromToks(
        a.select(col("doc_id"), explode(tokens(col("text"))).as("tok"))))

  /** The SimHash roll fold ([[BandIndex.roll]]) over the persisted
    * standing index, shared by the batch and stream rolls and
    * PlanShapeSpec's guard. */
  private[graft] def simhashRollFold(s: SparkSession,
      d: String, tomb: DataFrame, arrivals: DataFrame): DataFrame =
    BandIndex.SimHash.roll(
      BandIndex.read(s, sharedSimhashIndex(s, d, "shared")), tomb, arrivals)

  /** Shared oracle of the simhash combined roll and its streaming twin
    * — [[minhashRollOracle]]'s algebra on the bit-signature family:
    * recap((cap(standing) ∖ T) ∪ arrivals) with tombstones doc_id ≡ 6
    * (mod 20) (the simhash delete's load-bearing residue), arrivals
    * doc_id % 10 = 0, and the day-3 probe slice doc_id % 10 = 5. */
  private[queries] def simhashRollOracle: String = s"""
      WITH ${simhashBandsSql("documents")},
      idx0 AS (SELECT * FROM bands WHERE doc_id % 5 <> 0
               QUALIFY row_number() OVER (PARTITION BY band, bkey ORDER BY doc_id) <= 200),
      un AS (SELECT * FROM idx0 WHERE doc_id % 20 <> 6
             UNION ALL SELECT * FROM bands WHERE doc_id % 10 = 0),
      idx AS (SELECT * FROM un
              QUALIFY row_number() OVER (PARTITION BY band, bkey ORDER BY doc_id) <= 200),
      bat AS (SELECT * FROM bands WHERE doc_id % 10 = 5),
      hits AS (SELECT DISTINCT b.doc_id, i.doc_id AS idx_id,
                 CAST(list_sum(list_transform(list_zip(b.bits, i.bits),
                   s -> CASE WHEN s[1] <> s[2] THEN 1 ELSE 0 END)) AS BIGINT) AS ham
               FROM bat b JOIN idx i ON i.band = b.band AND i.bkey = b.bkey),
      agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_index_dups, min(idx_id) AS first_dup
              FROM hits WHERE ham <= 16 GROUP BY 1)
      SELECT d.doc_id, CAST(coalesce(n_index_dups, 0) AS BIGINT) AS n_index_dups, first_dup,
             n_index_dups IS NOT NULL AS is_dup
      FROM (SELECT doc_id FROM documents WHERE doc_id % 10 = 5) d
      LEFT JOIN agg ON agg.doc_id = d.doc_id
      ORDER BY d.doc_id"""

  /** Shared oracle of the simhash probe serves, with parameterized
    * index filters on BOTH sides of the cap (post-cap `TRUE` for the
    * incremental/append gates; the delete gate filters tombstones
    * AFTER the cap — the artifact-true semantics; the recap gate
    * filters BEFORE the cap — the rebuild-over-survivors semantics). */
  private[queries] def simhashIncrementalOracle(idxWhere: String,
      preCapWhere: String = "TRUE"): String = s"""
      WITH ${simhashBandsSql("documents")},
      idx0 AS (SELECT * FROM bands WHERE doc_id % 5 <> 0 AND $preCapWhere
               QUALIFY row_number() OVER (PARTITION BY band, bkey ORDER BY doc_id) <= 200),
      idx AS (SELECT * FROM idx0 WHERE $idxWhere),
      bat AS (SELECT * FROM bands WHERE doc_id % 5 = 0),
      hits AS (SELECT DISTINCT b.doc_id, i.doc_id AS idx_id,
                 CAST(list_sum(list_transform(list_zip(b.bits, i.bits),
                   s -> CASE WHEN s[1] <> s[2] THEN 1 ELSE 0 END)) AS BIGINT) AS ham
               FROM bat b JOIN idx i ON i.band = b.band AND i.bkey = b.bkey),
      agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_index_dups, min(idx_id) AS first_dup
              FROM hits WHERE ham <= 16 GROUP BY 1)
      SELECT d.doc_id, CAST(coalesce(n_index_dups, 0) AS BIGINT) AS n_index_dups, first_dup,
             n_index_dups IS NOT NULL AS is_dup
      FROM (SELECT doc_id FROM documents WHERE doc_id % 5 = 0) d
      LEFT JOIN agg ON agg.doc_id = d.doc_id
      ORDER BY d.doc_id"""


  /** The READ-ONLY staged solid-color PNG per document under
    * `<root>/img` — dims and color pure functions of doc_id, encoded
    * once per JVM and shared by `multimodal_image_meta` and
    * `multimodal_image_resize`. Returns the root. */
  private def stagedPngs(s: SparkSession, d: String): String =
    graft.Staging.onceDir(s, "png", d) { pp =>
      import s.implicits._
      Tables.documents(s, d).select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          val w = 1 + (id % 16).toInt
          val h = 1 + ((id / 16) % 16).toInt
          val rgb = ((id * 2654435761L) % 16777216L).toInt
          (id, graft.operators.Multimodal.ImageCodec.encodePng(w, h, rgb))
        }).toDF("doc_id", "payload")
        .write.mode("overwrite").parquet(s"$pp/img")
    }

  /** The READ-ONLY staged WAV per document under `<root>/wav`, encoded
    * once per JVM and shared by `multimodal_audio_meta` and
    * `multimodal_audio_resample`. Returns the root. */
  private def stagedWavs(s: SparkSession, d: String): String =
    graft.Staging.onceDir(s, "wav", d) { pp =>
      import s.implicits._
      Tables.documents(s, d).select(col("doc_id")).as[Long]
        .mapPartitions(_.map(id => (id, graft.operators.Multimodal.AudioCodec.encodeWav(id))))
        .toDF("doc_id", "payload")
        .write.mode("overwrite").parquet(s"$pp/wav")
    }

  /** Near-dup graph recursive-reachability CTE prefix, shared verbatim
    * by the `dedup_components` and `dedup_survivorship` oracles so the
    * two queries judge the SAME cluster structure. */
  private val ComponentsSql: String = """
      WITH RECURSIVE
      sh AS (SELECT doc_id, list_distinct(list_transform(range(1, greatest(len(text) - 2, 1) + 1),
               i -> substr(text, CAST(i AS INT), 3))) AS sh FROM documents),
      jp AS (SELECT a.doc_id AS a, b.doc_id AS b,
                    CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                      / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) AS jac
             FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1),
      je AS (SELECT a, b FROM jp WHERE jac >= 0.5),
      fp AS (SELECT doc_id, md5(lower(trim(text))) AS fp FROM documents),
      fpe AS (SELECT m.mdoc AS a, f.doc_id AS b
              FROM fp f JOIN (SELECT fp, min(doc_id) AS mdoc FROM fp GROUP BY 1) m USING (fp)
              WHERE f.doc_id <> m.mdoc),
      edges AS (SELECT a, b FROM je UNION SELECT a, b FROM fpe),
      sym AS (SELECT a, b FROM edges UNION SELECT b AS a, a AS b FROM edges),
      reach(id, r) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT reach.id, sym.b FROM reach JOIN sym ON sym.a = reach.r)"""

  /** Connected-component labels `(doc_id, component)` over the near-dup
    * graph (fingerprint-class star edges ∪ consecutive-pair Jaccard ≥
    * 0.5 edges) — min-label propagation run to a CHECKED fixpoint, the
    * pointer-jumping kernel shared by `dedup_components` (keep-min-id)
    * and `dedup_survivorship` (keep-best-quality). See the
    * dedup_components docstring for the per-round mechanics. */
  private def componentLabels(s: SparkSession, d: String): DataFrame =
    // JVM-wide shared (round-11): dedup_components and
    // dedup_survivorship consume the identical label frame — the
    // pointer-jumping iteration ends in a localCheckpoint, so the
    // cached value is materialized, and labels are a pure function of
    // the fixture.
    graft.Staging.frame(s, "cclabels", d) { componentLabelsBuild(s, d) }

  private def componentLabelsBuild(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    // Jaccard edges from the shared tag-explode pair kernel, filtered
    // at the 0.5 threshold (identical integer inputs → identical
    // IEEE division in both engines).
    val jedges = consecutiveShinglePairs(docs)
      .filter(col("inter").cast("double")
        / (size(col("sh_a")) + size(col("sh_b")) - col("inter")) >= 0.5)
      .select(col("pair_id").as("a"), (col("pair_id") + 1).as("b"))
    // Exact-dup star edges: every class member points at the class min.
    val fp = docs.select(col("doc_id"), fingerprint(col("text")).as("fp"))
    val fmin = fp.groupBy(col("fp")).agg(min(col("doc_id")).as("a"))
    val fedges = fp.join(fmin, "fp").filter(col("doc_id") =!= col("a"))
      .select(col("a"), col("doc_id").as("b"))
    // materialize the directed edge set BEFORE symmetrizing (round 19,
    // session 4): `sym` references `edges` twice, so the whole
    // shingle-pair + fingerprint derivation evaluated twice inside the
    // sym build (Spark does not unify the aliased subtrees). The frame
    // is O(edges) narrow (a, b) longs — cheap at any scale.
    val edges = jedges.union(fedges).localCheckpoint()
    // ... and materialize the symmetrized set too — without this every
    // round's join would re-run the edge derivation (measured ~3x the
    // query cost at sf0.1)
    val sym = edges.union(edges.select(col("b").as("a"), col("a").as("b")))
      .distinct().localCheckpoint()
    import org.apache.spark.sql.expressions.Window
    var lbl = docs.select(col("doc_id").as("id"), col("doc_id").as("lbl"))
    var changed = 1L
    var rounds = 0
    while (changed > 0 && rounds < 64) {
      rounds += 1
      // One union+aggregate computes min(prev, neighbor labels) per id —
      // the self row (prev, prev) stands in for the old left-join-back,
      // so the neighbor-min join + re-join pair collapses to one shuffle.
      // max(prev) is exact: ids are unique in lbl, so each group holds
      // exactly one non-null prev.
      val selfR = lbl.select(col("id"), col("lbl").as("prev"), col("lbl").as("c"))
      val nbrR = sym
        .join(lbl.select(col("id").as("nid"), col("lbl").as("nlbl")), col("b") === col("nid"))
        .select(col("a").as("id"), lit(null).cast("long").as("prev"), col("nlbl").as("c"))
      val stepped = selfR.union(nbrR)
        .groupBy(col("id")).agg(max(col("prev")).as("prev"), min(col("c")).as("cand"))
      // union-by-label: any member's newly found min relabels the whole
      // previous label group in this same round — a window min over the
      // prev partition (one exchange) instead of the old groupBy+join
      // (the group min is <= every member's cand, so it IS the old
      // least(cand, gmin)).
      val grouped = stepped.select(col("id"), col("prev"),
        min(col("cand")).over(Window.partitionBy(col("prev"))).as("cur"))
      // pointer jump: adopt the current label of the label node
      val ptr = grouped.select(col("id").as("jid"), col("cur").as("jlbl"))
      val next = grouped.join(ptr, grouped("cur") === ptr("jid"))
        .select(grouped("id").as("id"), col("prev"), col("jlbl").as("lbl"))
        .localCheckpoint()
      changed = next.filter(col("lbl") =!= col("prev")).count()
      lbl = next.select(col("id"), col("lbl"))
    }
    if (changed > 0)
      throw new IllegalStateException(
        s"componentLabels: labels not converged after $rounds rounds")
    lbl.select(col("id").as("doc_id"), col("lbl").as("component"))
  }

  val defs: Seq[QueryDef] = Seq(

    QueryDef("doc_stats", Some("""
      SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars_calc,
             CAST(len(string_split_regex(trim(text), '[ \t\n\x0B\f\r]+')) AS BIGINT) AS n_words,
             round(CAST(length(regexp_replace(text, '[A-Za-z0-9 \t\n\x0B\f\r]', '', 'g')) AS DOUBLE) / length(text), 6) AS punct_ratio,
             round(CAST(length(regexp_replace(text, '[^A-Z]', '', 'g')) AS DOUBLE) / length(text), 6) AS upper_ratio,
             CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS BIGINT) AS n_digits
      FROM documents ORDER BY doc_id""")) { (s, d) =>
      Tables.documents(s, d).select(col("doc_id"),
        length(col("text")).cast("long").as("n_chars_calc"),
        size(split(trim(col("text")), s"[${graft.functions.TextFunctions.wsClass}]+")).cast("long").as("n_words"),
        punctRatio(col("text")).as("punct_ratio"),
        upperRatio(col("text")).as("upper_ratio"),
        length(regexp_replace(col("text"), "[^0-9]", "")).cast("long").as("n_digits"))
        .orderBy(col("doc_id"))
    },

    QueryDef("doc_tokens", Some("""
      SELECT doc_id,
             CAST(len(string_split_regex(lower(trim(text)), '[ \t\n\x0B\f\r]+')) AS BIGINT) AS n_ws_tokens,
             CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \t\n\x0B\f\r]')) AS BIGINT) AS n_bpeish_tokens
      FROM documents ORDER BY doc_id""")) { (s, d) =>
      Tables.documents(s, d).select(col("doc_id"),
        tokenCount(col("text")).as("n_ws_tokens"),
        bpeishCount(col("text")).as("n_bpeish_tokens"))
        .orderBy(col("doc_id"))
    },

    QueryDef("doc_lang_id", Some("""
      SELECT doc_id, lang,
             CAST(len(regexp_extract_all(lower(text), '\b(the|and|of|to|in|is|for|with|on|at)\b')) AS BIGINT) AS stop_hits,
             CASE WHEN round(CAST(len(regexp_extract_all(lower(text), '\b(the|and|of|to|in|is|for|with|on|at)\b')) AS DOUBLE)
                        / len(string_split_regex(lower(trim(text)), '[ \t\n\x0B\f\r]+')), 6) > 0.08 THEN 'en'
                  WHEN round(CAST(len(regexp_extract_all(lower(text), '\b(the|and|of|to|in|is|for|with|on|at)\b')) AS DOUBLE)
                        / len(string_split_regex(lower(trim(text)), '[ \t\n\x0B\f\r]+')), 6) > 0.03 THEN 'en_like'
                  ELSE 'other' END AS lang_pred
      FROM documents ORDER BY doc_id""")) { (s, d) =>
      Tables.documents(s, d).select(col("doc_id"), col("lang"),
        stopwordHits(col("text")).as("stop_hits"),
        langId(col("text")).as("lang_pred"))
        .orderBy(col("doc_id"))
    },

    QueryDef("doc_quality", Some(raw"""
      SELECT doc_id, $qualityScoreSql AS quality
      FROM documents ORDER BY doc_id""")) { (s, d) =>
      Tables.documents(s, d).select(col("doc_id"),
        qualityScore(col("text")).as("quality"))
        .orderBy(col("doc_id"))
    },

    /** Language-ID EVALUATION — the confusion matrix of the heuristic
      * classifier against the labeled fixture lang, with per-cell
      * counts and the cell's share of its true-label row in exact ppm.
      * The model-eval readout that belongs beside every judged
      * classifier (doc_lang_id emits predictions; this judges their
      * quality): one map-side-combined (label, prediction) aggregate +
      * a label-partitioned share window on the tiny matrix frame —
      * corpus cost is the single scan. */
    QueryDef("doc_lang_confusion", Some("""
      WITH p AS (SELECT lang,
             CASE WHEN round(CAST(len(regexp_extract_all(lower(text), '\b(the|and|of|to|in|is|for|with|on|at)\b')) AS DOUBLE)
                        / len(string_split_regex(lower(trim(text)), '[ \t\n\x0B\f\r]+')), 6) > 0.08 THEN 'en'
                  WHEN round(CAST(len(regexp_extract_all(lower(text), '\b(the|and|of|to|in|is|for|with|on|at)\b')) AS DOUBLE)
                        / len(string_split_regex(lower(trim(text)), '[ \t\n\x0B\f\r]+')), 6) > 0.03 THEN 'en_like'
                  ELSE 'other' END AS lang_pred
             FROM documents),
      m AS (SELECT lang, lang_pred, count(*) AS n FROM p GROUP BY 1, 2),
      t AS (SELECT *, sum(n) OVER (PARTITION BY lang) AS row_total FROM m)
      SELECT lang, lang_pred, CAST(n AS BIGINT) AS n,
             CAST((n * 1000000) // row_total AS BIGINT) AS share_ppm
      FROM t ORDER BY lang, lang_pred""")) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val m = Tables.documents(s, d)
        .select(col("lang"), langId(col("text")).as("lang_pred"))
        .groupBy(col("lang"), col("lang_pred")).agg(count(lit(1)).as("n"))
      m.withColumn("row_total",
          sum(col("n")).over(Window.partitionBy(col("lang"))))
        .select(col("lang"), col("lang_pred"), col("n"),
          expr("(n * 1000000) div row_total").as("share_ppm"))
        .orderBy(col("lang"), col("lang_pred"))
    },

    QueryDef("doc_fingerprint", Some("""
      SELECT doc_id, md5(lower(trim(text))) AS fp, md5(substr(text, 1, 64)) AS fp_prefix
      FROM documents ORDER BY doc_id""")) { (s, d) =>
      Tables.documents(s, d).select(col("doc_id"),
        fingerprint(col("text")).as("fp"),
        md5(substring(col("text"), 1, 64)).as("fp_prefix"))
        .orderBy(col("doc_id"))
    },

    QueryDef("dedup_exact", Some("""
      SELECT count(*) AS n_rows, count(DISTINCT md5(lower(trim(text)))) AS n_distinct,
             count(*) - count(DISTINCT md5(lower(trim(text)))) AS n_dups
      FROM documents""")) { (s, d) =>
      Tables.documents(s, d)
        .agg(count(lit(1)).as("n_rows"),
          countDistinct(fingerprint(col("text"))).as("n_distinct"),
          (count(lit(1)) - countDistinct(fingerprint(col("text")))).as("n_dups"))
    },

    /** Exact-dup equivalence classes, recut (round 15) over a
      * planted corpus: the raw sf0.01 documents table has zero exact
      * duplicates, so the original HAVING count(*) > 1 returned 0
      * rows and its hash gate was vacuous. Following the recall
      * dials' planted-fixture discipline (dedup_minhash_recall),
      * every 25th doc gets a byte-identical copy at doc_id+1000000 —
      * each forms a provably non-empty class whose canonical_id is
      * the original (smaller) id. QueriesSpec floor-asserts
      * non-emptiness and canonical-id correctness. */
    QueryDef("dedup_exact_classes", Some("""
      WITH planted AS (SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 25 = 0),
      corpus AS (SELECT doc_id, text FROM documents UNION ALL SELECT doc_id, text FROM planted)
      SELECT fp, count(*) AS n_members, min(doc_id) AS canonical_id FROM
        (SELECT doc_id, md5(lower(trim(text))) AS fp FROM corpus)
      GROUP BY fp HAVING count(*) > 1 ORDER BY fp""")) { (s, d) =>
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      // the +1e6 planted-id offset must not collide with real ids —
      // a collision would corrupt class membership IDENTICALLY in
      // both engines, so the hash gate could not catch it (round-15
      // review; current fixtures max out at doc_id 4999). Memoized per
      // JVM per fixture so the guard costs one aggregate, not one per
      // bench rep (round-15 ADVICE).
      require(SharedText.maxDocId(s, d) < 1000000L,
        "documents doc_id >= 1e6 collides with the planted-duplicate offset")
      val planted = docs.filter(pmod(col("doc_id"), lit(25L)) === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
      docs.unionByName(planted)
        .select(col("doc_id"), fingerprint(col("text")).as("fp"))
        .groupBy(col("fp"))
        .agg(count(lit(1)).as("n_members"), min(col("doc_id")).as("canonical_id"))
        .filter(col("n_members") > 1)
        .orderBy(col("fp"))
    },

    // n-gram Jaccard between consecutive doc ids — exercises the shingle
    // + set-intersection kernel with a deterministic, linear pair set.
    QueryDef("dedup_ngram_jaccard", Some("""
      WITH sh AS (SELECT doc_id,
                    list_distinct(list_transform(range(1, greatest(len(text) - 2, 1) + 1),
                      i -> substr(text, CAST(i AS INT), 3))) AS sh
                  FROM documents),
      j AS (SELECT a.doc_id AS doc_id, len(list_intersect(a.sh, b.sh)) AS inter,
                   len(a.sh) AS la, len(b.sh) AS lb
            FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1)
      SELECT doc_id, round(CAST(inter AS DOUBLE) / (la + lb - inter), 6) AS jaccard_next
      FROM j ORDER BY doc_id""")) { (s, d) =>
      // |A∪B| = |A|+|B|-|A∩B| since shingle arrays are distinct sets.
      consecutiveShinglePairs(Tables.documents(s, d))
        .select(col("pair_id").as("doc_id"),
          round(col("inter").cast("double")
            / (size(col("sh_a")) + size(col("sh_b")) - col("inter")), 6).as("jaccard_next"))
        .orderBy(col("doc_id"))
    },

    /** Near-dup CLUSTERING: connected components over the dup-pair
      * graph (fingerprint-class star edges ∪ consecutive-pair Jaccard
      * ≥ 0.5 edges), then keep-one-per-cluster — the step that turns
      * pairwise dup candidates into an actual deduped corpus.
      *
      * Spark side: min-label propagation run to a CHECKED fixpoint.
      * Each round (a) takes the min label over the closed
      * neighborhood, (b) relabels every previous label group to its
      * group min — union-by-label, without which a min that attaches
      * at the far end of an id-ascending path crawls back one hop per
      * round (a fixed round count silently mislabeled 8 docs at
      * sf0.1) — and (c) pointer-jumps `lbl := lbl(lbl)`. Labels only
      * decrease and stay within the component, so the changed==0 exit
      * is exact: at a fixpoint neighbor-min forces equal labels across
      * every edge. A hard cap throws rather than emit unconverged
      * labels. Per round: four equi-joins + two hash aggregates over
      * the (id, lbl) frame — the MapReduce connected-components shape
      * that scales to 100 TB — with `localCheckpoint` truncating
      * lineage and the per-round count riding the materialized frame.
      * The oracle walks the same graph with a recursive CTE and takes
      * min reachable id. */
    QueryDef("dedup_components", Some(ComponentsSql + """
      SELECT id AS doc_id, min(r) AS component, id = min(r) AS is_kept
      FROM reach GROUP BY id ORDER BY doc_id""")) { (s, d) =>
      componentLabels(s, d)
        .withColumn("is_kept", col("doc_id") === col("component"))
        .orderBy(col("doc_id"))
    },

    /** Near-dup SURVIVORSHIP — the selection rule production dedup
      * actually applies: within each near-dup cluster keep the
      * HIGHEST-QUALITY member (doc_quality's exact score, ties to the
      * lowest id), not the lowest id. Reuses [[componentLabels]]'s
      * pointer-jumping kernel verbatim (the cluster structure and the
      * survivor rule are judged TOGETHER under one hash), joins the
      * scan-speed quality score, and ranks per component with one
      * window. At 100 TB this adds one broadcast-sized ranking pass on
      * top of the components computation — the survivor choice itself
      * never reshuffles the corpus. */
    QueryDef("dedup_survivorship", Some(ComponentsSql + raw""",
      q AS (SELECT doc_id, $qualityScoreSql AS quality
            FROM documents),
      comp AS (SELECT id AS doc_id, min(r) AS component FROM reach GROUP BY id),
      rk AS (SELECT c.doc_id, c.component, q.quality,
               row_number() OVER (PARTITION BY c.component ORDER BY q.quality DESC, c.doc_id) AS rk
             FROM comp c JOIN q ON q.doc_id = c.doc_id)
      SELECT doc_id, component, quality, rk = 1 AS is_survivor
      FROM rk ORDER BY doc_id""")) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val q = Tables.documents(s, d)
        .select(col("doc_id"), qualityScore(col("text")).as("quality"))
      val w = Window.partitionBy(col("component"))
        .orderBy(col("quality").desc, col("doc_id"))
      componentLabels(s, d).join(q, "doc_id")
        .withColumn("rk", row_number().over(w))
        .select(col("doc_id"), col("component"), col("quality"),
          (col("rk") === 1).as("is_survivor"))
        .orderBy(col("doc_id"))
    },

    // MinHash + LSH banding: candidate pairs via band-bucket self-join
    // (the 100 TB-safe shape: shuffle on band key, no cross join).
    // FULLY oracle-checked: the hash family is md5 over seeded word
    // tokens — identical in Spark and DuckDB, and fixed-width lowercase
    // hex compares lexicographically == numerically, so min() picks the
    // same signature element in both engines. The oracle replicates the
    // ENTIRE pipeline (signatures, 16×2 banding, the hot-bucket cap via
    // QUALIFY, pair scoring) — no probabilistic recall argument needed.
    // MinHashQualitySpec still covers the xxhash64 fast-path family in
    // TextFunctions.minhashSignature (recall/estimate accuracy).
    QueryDef("dedup_minhash_lsh", Some(s"""
      WITH ${minhashPairsSql("documents")}
      SELECT id_a, id_b, est_jaccard FROM p
      WHERE est_jaccard >= 0.5 ORDER BY id_a, id_b""")) { (s, d) =>
      // Codegen-friendly shape (see minhashPairs): ONE md5 per distinct
      // word token reduced mod 2^31-1, the 32 seeded hashes derived
      // arithmetically ((a_k*x + b_k) mod p — products < 2^62, no
      // overflow; family independence proven by the recall dial) in
      // one hash-aggregate with 32 min() columns (map-side partial
      // agg). Numeric signatures are 256 B —
      // 4x lighter through the candidate shuffle than md5-string
      // signatures (measured 31 s -> see PLANS.md). Band keys are the
      // two raw minima (equi-join on two longs, engine-portable);
      // capBuckets bounds degenerate buckets at O(cap^2) with a
      // deterministic lowest-ids rule the oracle mirrors via QUALIFY;
      // signatures ride THROUGH the banding so scored pairs need no
      // re-join, and the pair-dedup aggregates three scalars instead
      // of two 256 B arrays.
      minhashPairsFromSigs(fixtureSigs(s, d))
        .filter(col("est_jaccard") >= 0.5)
        .orderBy(col("id_a"), col("id_b"))
    },

    /** Incremental dedup against a PERSISTED index — the shape that
      * actually runs at 100 TB: you never re-dedup the corpus, you
      * dedup the daily increment against the standing MinHash index.
      * The fixture splits by doc_id mod 5 (80% "index", 20% "batch");
      * the index side's banded table is WRITTEN TO PARQUET and read
      * back (the persisted artifact, not a lineage replay), the batch
      * side computes signatures for its own docs only, and the two
      * meet in a band-key equi-join — per day the cost is
      * O(batch + matched buckets), never O(corpus). Judged output:
      * every batch doc with its index-duplicate count and first
      * index match. Same generator constants as `dedup_minhash_lsh`
      * ([[minhashBanded]]/[[minhashBandedSql]]), so index and
      * incremental path cannot drift. */
    QueryDef("dedup_minhash_incremental", Some(minhashIncrementalOracle)) { (s, d) =>
      // the persisted index is built ONCE per JVM and shared with the
      // streaming twin (round-11, Staging.onceDir): both derive from
      // the shared checkpointed signature frame, and the index side's
      // hot-bucket cap applies over the index's OWN docs — the batch
      // side is uncapped, so any subset of the batch, down to a single
      // micro-batch, scores identically. Band-key layout on disk — at
      // scale this is bucketed by (band, bk1, bk2) so the daily join
      // co-locates.
      minhashServe(s, d, BandIndex.read(s, sharedMinhashIndex(s, d)))
    },

    /** STREAMING twin of `dedup_minhash_incremental` — index-aware
      * streaming ingest, the online form of the daily batch: new
      * documents arrive as a real file-source stream (two staged
      * micro-batches), each micro-batch computes its OWN MinHash
      * signatures inside foreachBatch and scores them against the
      * persisted index, appending idempotent per-batch results
      * (batch_id-keyed overwrite — a replayed batch converges, never
      * duplicates). Because signatures are per-doc, micro-batch
      * boundaries cannot change any score, so the drained union must
      * equal the batch incremental result EXACTLY — the two queries
      * share one oracle, and a divergence in either direction
      * (dropped batch, double-applied batch, batch-local capping
      * sneaking in) breaks rows or hash. */
    QueryDef("stream_dedup_index", Some(minhashIncrementalOracle)) { (s, d) =>
      import graft.streaming.OnlineFold
      // private root for the mutable parts (checkpoint/sink — wiped
      // per run); the READ-ONLY persisted index is the shared
      // once-per-JVM artifact, same bytes the batch incremental reads
      val root = OnlineFold.freshRoot(s, "sdix", d)
      val docs = Tables.documents(s, d)
      // the persisted index is built before the stream runs (the log
      // body re-resolves it per trigger — an onceDir memo, free)
      sharedMinhashIndex(s, d)
      // the new docs as TWO files → two micro-batches
      val inTmpl = OnlineFold.stage(s, "sdix_in", d) {
        val nd = docs.filter(pmod(col("doc_id"), lit(5L)) === 0)
        Seq(nd.filter(pmod(col("doc_id"), lit(10L)) === 0),
            nd.filter(pmod(col("doc_id"), lit(10L)) === 5))
      }
      val newDocs = docs.filter(pmod(col("doc_id"), lit(5L)) === 0)
      // the stream is named after its root, so StreamingSpec can
      // assert the fold family's residency story: stateless by
      // construction
      OnlineFold.drain(s, root, inTmpl)(dedupIndexLogBatch(s, d, _, _))
      // per-doc rollups from different micro-batches are disjoint by
      // doc_id (each doc arrives exactly once), so the union IS the
      // full aggregate. A batch with zero index hits writes no part
      // files, and the correct answer is then all-is_dup=false
      BandIndex.MinHash.serve(
        OnlineFold.readLogs(s, s"$root/hits/b*", "doc_id LONG, n_index_dups LONG, first_dup LONG"),
        newDocs.select(col("doc_id")))
    },

    /** Index MAINTENANCE (round 15) — the MinHash index's missing
      * lifecycle half, the text twin of sim_ann_ivfpq_incremental's
      * append-equals-rebuild gate: day-2 arrivals (doc_id % 10 = 0)
      * are banded in one O(batch) pass and APPENDED into the standing
      * persisted index, the bucket cap re-applied over the union, the
      * appended artifact written and RE-READ, and day-3 probes
      * (doc_id % 10 = 5) served from it. The oracle is the
      * REBUILD-from-scratch form (one QUALIFY cap over
      * standing ∪ arrivals), so the hash gates the maintenance
      * invariant itself: recap(cap(A) ∪ B) = cap(A ∪ B), exact by the
      * cap rule's composition independence ([[BandIndex]]). At 100 TB
      * the nightly index roll is O(day's docs + touched buckets), never
      * O(corpus) — and the append path is bounded by the same cap that
      * bounds the probe fan-out. */
    QueryDef("dedup_minhash_index_append", Some(s"""
      WITH ${minhashBandsRawSql("documents")},
      idx AS (SELECT * FROM bands WHERE doc_id % 5 <> 0 OR doc_id % 10 = 0
              QUALIFY row_number() OVER (PARTITION BY band, bk1, bk2 ORDER BY doc_id) <= 200),
      bat AS (SELECT * FROM bands WHERE doc_id % 10 = 5),
      hits AS (SELECT DISTINCT b.doc_id, i.doc_id AS idx_id,
                 round(CAST(len(list_filter(range(1, 33), k -> b.sig[k] = i.sig[k])) AS DOUBLE) / 32, 6) AS est
               FROM bat b JOIN idx i
                 ON i.band = b.band AND i.bk1 = b.bk1 AND i.bk2 = b.bk2),
      agg AS (SELECT doc_id, count(*) AS n_index_dups, min(idx_id) AS first_dup
              FROM hits WHERE est >= 0.5 GROUP BY 1)
      SELECT d.doc_id, coalesce(n_index_dups, 0) AS n_index_dups, first_dup,
             n_index_dups IS NOT NULL AS is_dup
      FROM (SELECT doc_id FROM documents WHERE doc_id % 10 = 5) d
      LEFT JOIN agg ON agg.doc_id = d.doc_id
      ORDER BY d.doc_id""")) { (s, d) =>
      val appended = BandIndex.persist(s, "mhidx_appended", d) {
        val arrivals = bandsOf(fixtureSigs(s, d))
          .filter(pmod(col("doc_id"), lit(10L)) === 0)
        BandIndex.MinHash.capped(
          BandIndex.read(s, sharedMinhashIndex(s, d)).unionByName(arrivals))
      }
      minhashServe(s, d, BandIndex.read(s, appended), mod = 10L, res = 5L)
    },

    /** Index DELETION (round 16) — the right-to-be-forgotten half of
      * index maintenance, closing the lifecycle triangle (build /
      * append / DELETE): tombstoned documents (doc_id % 20 = 3, a
      * slice of the standing corpus) are removed from the PERSISTED
      * capped index by one broadcast anti-join at serve time —
      * O(index ∩ tombstones), never a rebuild, the artifact is not
      * rewritten — and the batch probes score against the filtered
      * index. The oracle models EXACTLY those semantics: cap FIRST
      * (the artifact's QUALIFY, over the full standing set), THEN the
      * tombstone filter — so the hash gates the tombstone mechanism
      * itself (a recap sneaking in, a missed or over-matched
      * tombstone, a stale artifact all break it) at any fixture.
      * Deliberately NOT gated: tombstone-serve == full-REBUILD
      * equivalence — the delete is DIRECTIONAL ([[BandIndex]]), and
      * both judged fixtures exercise the over-cap regime that makes it
      * so (largest standing bucket: 236 at sf0.001, 218 at sf0.01);
      * MinHashQualitySpec shows the gap on a synthetic over-cap
      * bucket. Tombstones broadcast: GDPR delete sets are tiny
      * relative to the corpus at any scale. */
    QueryDef("dedup_minhash_index_delete", Some(s"""
      WITH ${minhashBandsRawSql("documents")},
      idx0 AS (SELECT * FROM bands WHERE doc_id % 5 <> 0
               QUALIFY row_number() OVER (PARTITION BY band, bk1, bk2 ORDER BY doc_id) <= 200),
      idx AS (SELECT * FROM idx0 WHERE doc_id % 20 <> 3),
      bat AS (SELECT * FROM bands WHERE doc_id % 5 = 0),
      hits AS (SELECT DISTINCT b.doc_id, i.doc_id AS idx_id,
                 round(CAST(len(list_filter(range(1, 33), k -> b.sig[k] = i.sig[k])) AS DOUBLE) / 32, 6) AS est
               FROM bat b JOIN idx i
                 ON i.band = b.band AND i.bk1 = b.bk1 AND i.bk2 = b.bk2),
      agg AS (SELECT doc_id, count(*) AS n_index_dups, min(idx_id) AS first_dup
              FROM hits WHERE est >= 0.5 GROUP BY 1)
      SELECT d.doc_id, coalesce(n_index_dups, 0) AS n_index_dups, first_dup,
             n_index_dups IS NOT NULL AS is_dup
      FROM (SELECT doc_id FROM documents WHERE doc_id % 5 = 0) d
      LEFT JOIN agg ON agg.doc_id = d.doc_id
      ORDER BY d.doc_id""")) { (s, d) =>
      val tomb = Tables.documents(s, d)
        .filter(pmod(col("doc_id"), lit(20L)) === 3)
      minhashServe(s, d,
        BandIndex.MinHash.delete(BandIndex.read(s, sharedMinhashIndex(s, d)), tomb))
    },

    /** Combined nightly ROLL (round 17) — the production operation the
      * delete contract states verbatim ("keep the tombstone table
      * beside the artifact and fold it in at the next rebuild/append
      * roll"), judged as ONE composition: the persisted capped index
      * drops its tombstones (broadcast anti-join), day-2 arrivals
      * union in, the cap re-applies over the union, the rolled
      * artifact persists and day-3 probes serve from the RE-READ
      * parquet. Cost is O(index + tombstones + arrivals) — never the
      * corpus, the cheap nightly form (the full-recap exactness
      * restoration is `dedup_minhash_index_recap`'s separate,
      * costlier window). The oracle models the artifact-true algebra
      * exactly — recap((cap(standing) \ T) ∪ arrivals), tombstone
      * filter on the CAPPED set — so the hash gates the composition
      * itself; equivalence to a from-scratch survivor rebuild is
      * deliberately not claimed (the delete half's directional gap
      * persists until a recap window; unlike the plain delete,
      * though, the re-cap lets arrivals FILL seats tombstones
      * vacated in full buckets — the composition is more than the
      * sum of its judged parts, which QueriesSpec pins). */
    QueryDef("dedup_minhash_index_roll", Some(minhashRollOracle)) { (s, d) =>
      val rolled = BandIndex.persist(s, "mhidx_rolled", d) {
        val tomb = Tables.documents(s, d)
          .filter(pmod(col("doc_id"), lit(20L)) === 3)
        val arrivals = bandsOf(fixtureSigs(s, d))
          .filter(pmod(col("doc_id"), lit(10L)) === 0)
        minhashRollFold(s, d, tomb, arrivals)
      }
      minhashServe(s, d, BandIndex.read(s, rolled), mod = 10L, res = 5L)
    },

    /** ONLINE nightly roll (round-18 verdict task 1) —
      * `dedup_minhash_index_roll`'s streaming twin, closing the
      * streaming-maintenance matrix for the north-star dedup artifact
      * (BM25 and LM already had judged online appends/compactions;
      * the MinHash index rolled only in batch): the night's
      * maintenance traffic arrives as FOUR real micro-batches (two
      * tombstone deltas, two arrival deltas, one staged file each
      * under maxFilesPerTrigger=1), and each foreachBatch trigger does
      * O(batch) work only — tombstone ids log as-is; arrival docs are
      * signed + banded off their own text (minhash signatures are
      * per-doc pure, so a micro-batch computes rows identical to a
      * corpus-wide pass) — into batch-id-keyed log dirs (overwrite =
      * idempotent under replay). The standing artifact is NEVER read
      * inside the stream. ONE roll after the drain folds the logs
      * exactly like the batch twin: persisted index ∖ logged
      * tombstones (broadcast anti-join) ∪ logged arrival bands,
      * re-capped, persisted, and day-3 probes serve from the RE-READ
      * rolled parquet. Because the roll algebra is a pure function of
      * the delta SETS (anti-join and union don't care how deltas were
      * micro-batched), stream == batch is exact: the oracle is the
      * batch roll's VERBATIM, and MinHashQualitySpec additionally
      * gates the two rolled ARTIFACTS frame-equal. Cost: O(batch) per
      * trigger + the batch roll's O(index + tombstones + arrivals)
      * fold — the ×100 row expects the batch roll's 0.66 class plus
      * the arrival signature pass. */
    QueryDef("stream_minhash_index_roll", Some(minhashRollOracle)) { (s, d) =>
      import graft.streaming.OnlineFold
      // build the standing artifact BEFORE the stream runs — the roll
      // reads it only in the post-drain fold, but a production night
      // starts from a standing index, not a lazy build
      sharedMinhashIndex(s, d)
      val root = OnlineFold.freshRoot(s, "mhsroll", d)
      // the night's traffic: tombstones carry ids only, arrivals carry
      // their text (the ingest reality — a deletion request has no
      // payload; a new doc must be signed from its content)
      val inTmpl = OnlineFold.stage(s, "mhsroll_in", d) {
        val docs = Tables.documents(s, d)
        val tombIn = docs
          .filter(pmod(col("doc_id"), lit(20L)) === 3)
          .select(lit("tomb").as("kind"), col("doc_id"),
            lit(null).cast("string").as("text"))
        val arrIn = docs.filter(pmod(col("doc_id"), lit(10L)) === 0)
          .select(lit("arrival").as("kind"), col("doc_id"), col("text"))
        Seq(tombIn.filter(pmod(col("doc_id"), lit(40L)) === 3),
            tombIn.filter(pmod(col("doc_id"), lit(40L)) === 23),
            arrIn.filter(pmod(col("doc_id"), lit(20L)) === 0),
            arrIn.filter(pmod(col("doc_id"), lit(20L)) === 10))
      }
      OnlineFold.drain(s, root, inTmpl)(minhashRollLogBatch(d, _, _))
      // the one roll: fold every logged delta into the persisted index
      val rolled = BandIndex.MinHash.rollLogs(s, root,
        "doc_id LONG, sig ARRAY<LONG>, band INT, bk1 LONG, bk2 LONG")(minhashRollFold(s, d, _, _))
      minhashServe(s, d, rolled, mod = 10L, res = 5L)
    },

    /** Index RECAP (round 17) — the compaction that closes the
      * directional-delete story: `dedup_minhash_index_delete`'s
      * tombstone anti-join is honest-but-DIRECTIONAL under the bucket
      * cap (evicted members are physically gone from the artifact, so
      * the filtered serve under-reports in over-cap buckets — both
      * judged fixtures exercise that regime), and its contract says
      * "fold the tombstones in at the next scheduled rebuild". This
      * query IS that scheduled roll, judged: re-band the SURVIVORS
      * (standing ∧ doc_id % 20 ≠ 3, one pass over the memoized
      * signature frame), re-apply the cap over them, persist the
      * recapped artifact, RE-READ it, and serve the batch probes from
      * it. The oracle is the from-scratch rebuild form — tombstone
      * filter FIRST, then QUALIFY — so the hash gates exactness
      * restoration itself: recap(survivors) == rebuild(survivors),
      * an EQUALITY gate with no directional carve-out (the cap's
      * lowest-200 rule is composition-independent, the append gate's
      * argument in reverse). MinHashQualitySpec proves the recap is
      * load-bearing: in an over-cap bucket the pre-recap tombstone
      * serve and the post-recap serve differ on a planted row (the
      * recap re-admits a cap-evicted member). Cost is O(survivor
      * bands) — the scheduled-compaction price, paid per recap WINDOW
      * rather than per delete; between recaps the O(tombstones)
      * anti-join serves. */
    QueryDef("dedup_minhash_index_recap", Some(s"""
      WITH ${minhashBandsRawSql("documents")},
      idx AS (SELECT * FROM bands WHERE doc_id % 5 <> 0 AND doc_id % 20 <> 3
              QUALIFY row_number() OVER (PARTITION BY band, bk1, bk2 ORDER BY doc_id) <= 200),
      bat AS (SELECT * FROM bands WHERE doc_id % 5 = 0),
      hits AS (SELECT DISTINCT b.doc_id, i.doc_id AS idx_id,
                 round(CAST(len(list_filter(range(1, 33), k -> b.sig[k] = i.sig[k])) AS DOUBLE) / 32, 6) AS est
               FROM bat b JOIN idx i
                 ON i.band = b.band AND i.bk1 = b.bk1 AND i.bk2 = b.bk2),
      agg AS (SELECT doc_id, count(*) AS n_index_dups, min(idx_id) AS first_dup
              FROM hits WHERE est >= 0.5 GROUP BY 1)
      SELECT d.doc_id, coalesce(n_index_dups, 0) AS n_index_dups, first_dup,
             n_index_dups IS NOT NULL AS is_dup
      FROM (SELECT doc_id FROM documents WHERE doc_id % 5 = 0) d
      LEFT JOIN agg ON agg.doc_id = d.doc_id
      ORDER BY d.doc_id""")) { (s, d) =>
      val recapped = BandIndex.persist(s, "mhidx_recap", d) {
        BandIndex.MinHash.capped(bandsOf(fixtureSigs(s, d))
          .filter(pmod(col("doc_id"), lit(5L)) =!= 0 &&
            pmod(col("doc_id"), lit(20L)) =!= 3))
      }
      minhashServe(s, d, BandIndex.read(s, recapped))
    },

    // Edit-distance near-dup — the character-level fuzzy family
    // (complements token Jaccard / MinHash / SimHash / embedding
    // cosine): levenshtein over a normalized 80-char prefix of each
    // consecutive doc pair. The prefix cap bounds the O(len²) DP per
    // pair, and pairing is the same equi-join shape as
    // sim_dot_consecutive — one shuffle, no window over a global sort.
    // Parity guard: DuckDB's levenshtein counts BYTES while Spark's
    // counts codepoints ('héllo'→'hello' is 2 vs 1), so the compared
    // prefix is stripped to printable ASCII ([ -~]) on BOTH sides
    // first — same divergence class as Java-vs-RE2 \s, same cure.
    QueryDef("dedup_edit_distance", Some("""
      WITH d AS (SELECT doc_id,
                   substr(regexp_replace(lower(trim(text)), '[^ -~]', '', 'g'), 1, 80) AS t
                 FROM documents),
      p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, levenshtein(a.t, b.t) AS dist
            FROM d a JOIN d b ON b.doc_id = a.doc_id + 1)
      SELECT id_a, id_b, CAST(dist AS BIGINT) AS dist, dist <= 20 AS is_near_dup
      FROM p ORDER BY id_a""")) { (s, d) =>
      val norm = Tables.documents(s, d)
        .select(col("doc_id"),
          substring(regexp_replace(lower(trim(col("text"))), "[^ -~]", ""), 1, 80).as("t"))
      val a = norm.select(col("doc_id").as("id_a"), col("t").as("t_a"))
      val b = norm.select((col("doc_id") - 1).as("id_a"), col("doc_id").as("id_b"), col("t").as("t_b"))
      // SHUFFLE_HASH: both sides are the corpus (the auto-broadcast
      // built a full side through the driver - the S3-G lesson)
      a.join(b.hint("shuffle_hash"), "id_a")
        .select(col("id_a"), col("id_b"),
          levenshtein(col("t_a"), col("t_b")).cast("long").as("dist"))
        .withColumn("is_near_dup", col("dist") <= 20)
        .orderBy(col("id_a"))
    },

    // SimHash near-dup: 64-bit per-bit-vote signature; candidates via
    // 8 banded 8-bit blocks, confirmed by Hamming distance. FULLY
    // oracle-checked: the per-token hash is md5, whose first 16 hex
    // digits give 64 bits both engines derive identically, so the
    // DuckDB oracle recomputes the whole pipeline — votes, packing,
    // banded blocking, cap, Hamming.
    QueryDef("dedup_simhash", Some(s"""
      WITH ${simhashPairsSql("documents")}
      SELECT id_a, id_b, hamming_dist FROM p
      WHERE hamming_dist <= 16 ORDER BY id_a, id_b""")) { (s, d) =>
      // Codegen-friendly shape (see simhashPairs): explode tokens -> 16
      // hex-digit values in a narrow projection -> 64 per-bit vote sums
      // in ONE hash aggregate (map-side partial) -> packed long ->
      // bit_count Hamming. Blocking is 8 banded 8-bit tables (the
      // round-7 recall dial measured 0.3 under the old single
      // low-16-bit bucket — ham<=7 pairs are now pigeonhole-guaranteed
      // to meet, and the dial measures 1.0 on planted near-dups);
      // capBuckets bounds degenerate bands, mirrored by QUALIFY.
      simhashPairsFromBanded(fixtureSimhashBanded(s, d))
        .filter(col("hamming_dist") <= 16)
        .orderBy(col("id_a"), col("id_b"))
    },

    /** INCREMENTAL simhash — the last candidate-generation family
      * without a persisted-index lifecycle gets one (round 16): the
      * standing corpus's capped band table persists ONCE as parquet,
      * each batch doc computes its own signature and probes with one
      * band equi-join + Hamming ≤ 16 confirm — the dedup-at-ingest
      * question on the bit-signature family (MinHash asks it with
      * Jaccard estimates; SimHash's 64-bit signatures make the
      * confirm a single XOR+popcount, the cheapest of the family).
      * The cap is per-(band, bkey) over the STANDING slice (capping
      * the full corpus then filtering would keep the wrong 200). */
    QueryDef("dedup_simhash_incremental", Some(simhashIncrementalOracle("TRUE"))) { (s, d) =>
      simhashServe(s, d, BandIndex.read(s, sharedSimhashIndex(s, d, "shared")))
    },

    /** Simhash index APPEND — exact by the cap rule's composition
      * independence ([[BandIndex]]): recap(cap(day1) ∪ day2) ==
      * cap(day1 ∪ day2). Day-2 (odd standing) bands are one O(batch)
      * pass; the roll touches the day's docs + matched buckets, never
      * the standing corpus. Gate: the probe serve shares the
      * incremental oracle VERBATIM — append(index(day1), day2) ==
      * index(standing) end-to-end. */
    QueryDef("dedup_simhash_index_append", Some(simhashIncrementalOracle("TRUE"))) { (s, d) =>
      val appended = BandIndex.persist(s, "shidx_appended", d) {
        val day2 = fixtureSimhashBandedRaw(s, d)
          .filter(pmod(col("doc_id"), lit(5L)) =!= 0 &&
            pmod(col("doc_id"), lit(2L)) === 1)
        BandIndex.SimHash.capped(
          BandIndex.read(s, sharedSimhashIndex(s, d, "day1")).unionByName(day2))
      }
      simhashServe(s, d, BandIndex.read(s, appended))
    },

    /** Simhash index DELETE — the family's forget roll, with the
      * DIRECTIONAL delete contract of [[BandIndex]]: one broadcast anti-join on the persisted index at serve time,
      * O(tombstones), the artifact never rewritten. The oracle models
      * the artifact-true semantics (cap FIRST over the full standing
      * set, THEN the tombstone filter), so the hash gates the
      * mechanism at any fixture. Tombstones doc_id ≡ 6 (mod 20) — an
      * EVEN standing residue chosen because the fixture's planted
      * near-dup sources are even-id (QueriesSpec proves the slice
      * load-bearing: answers change, and no served first_dup is
      * tombstoned). */
    QueryDef("dedup_simhash_index_delete", Some(
      simhashIncrementalOracle("doc_id % 20 <> 6"))) { (s, d) =>
      val tomb = Tables.documents(s, d)
        .filter(pmod(col("doc_id"), lit(20L)) === 6)
      simhashServe(s, d,
        BandIndex.SimHash.delete(BandIndex.read(s, sharedSimhashIndex(s, d, "shared")), tomb))
    },

    /** Simhash index RECAP — `dedup_minhash_index_recap`'s scheduled
      * compaction on the bit-signature family (the same cap rule, so
      * the same exactness-restoration argument): survivors (standing ∧
      * doc_id % 20 ≠ 6) re-capped over their OWN slice from the shared
      * uncapped band frame, persisted, RE-READ, probes served from the
      * recapped artifact. Oracle filters BEFORE the cap — the rebuild-
      * over-survivors form, an equality gate; in over-cap buckets it
      * re-admits members the tombstone anti-join physically cannot
      * (QueriesSpec proves recap hits dominate the delete serve's per
      * probe). O(survivor bands) per recap window. */
    QueryDef("dedup_simhash_index_recap", Some(
      simhashIncrementalOracle("TRUE", preCapWhere = "doc_id % 20 <> 6"))) { (s, d) =>
      val recapped = BandIndex.persist(s, "shidx_recap", d) {
        BandIndex.SimHash.capped(fixtureSimhashBandedRaw(s, d)
          .filter(pmod(col("doc_id"), lit(5L)) =!= 0 &&
            pmod(col("doc_id"), lit(20L)) =!= 6))
      }
      simhashServe(s, d, BandIndex.read(s, recapped))
    },

    /** Simhash combined NIGHTLY roll (round 18) —
      * `dedup_minhash_index_roll`'s composition on the bit-signature
      * family, completing the second capped family's roll story
      * (append, delete, recap existed; the one-pass nightly
      * tombstones+arrivals fold did not): the persisted standing band
      * index drops tombstones (broadcast anti-join), day-2 arrivals
      * union in, the cap re-applies over the union, the rolled
      * artifact persists, and day-3 probes serve from the RE-READ
      * parquet. O(index + tombstones + arrivals), never the corpus.
      * The oracle is the artifact-true composition
      * recap((cap(standing) ∖ T) ∪ B) — same honest directional
      * stance as the MinHash roll (the delete half's gap persists
      * until a recap window; the re-cap lets arrivals fill vacated
      * seats). */
    QueryDef("dedup_simhash_index_roll", Some(simhashRollOracle)) { (s, d) =>
      val rolled = BandIndex.persist(s, "shidx_rolled", d) {
        val tomb = Tables.documents(s, d)
          .filter(pmod(col("doc_id"), lit(20L)) === 6)
        val arrivals = fixtureSimhashBandedRaw(s, d)
          .filter(pmod(col("doc_id"), lit(10L)) === 0)
        simhashRollFold(s, d, tomb, arrivals)
      }
      simhashServe(s, d, BandIndex.read(s, rolled), mod = 10L, res = 5L)
    },

    /** ONLINE simhash nightly roll (round 18) —
      * `stream_minhash_index_roll`'s pattern on the bit-signature
      * family: the night's tombstone and arrival deltas arrive as
      * four real micro-batches, each trigger logs O(batch) rows only
      * (tombstone ids as-is; arrivals signed + banded off their own
      * text — per-doc-pure, so a micro-batch computes rows identical
      * to the corpus pass), the standing artifact is never read
      * in-stream, and ONE post-drain fold (the shared
      * [[simhashRollFold]]) persists the rolled artifact for the
      * day-3 serve. The oracle is the batch roll's VERBATIM, and
      * MinHashQualitySpec gates the two rolled artifacts frame-equal
      * — stream == batch exactly, the roll algebra being a pure
      * function of the delta sets. */
    QueryDef("stream_simhash_index_roll", Some(simhashRollOracle)) { (s, d) =>
      import graft.streaming.OnlineFold
      sharedSimhashIndex(s, d, "shared")
      val root = OnlineFold.freshRoot(s, "shsroll", d)
      val inTmpl = OnlineFold.stage(s, "shsroll_in", d) {
        val docs = Tables.documents(s, d)
        val tombIn = docs
          .filter(pmod(col("doc_id"), lit(20L)) === 6)
          .select(lit("tomb").as("kind"), col("doc_id"),
            lit(null).cast("string").as("text"))
        val arrIn = docs.filter(pmod(col("doc_id"), lit(10L)) === 0)
          .select(lit("arrival").as("kind"), col("doc_id"), col("text"))
        Seq(tombIn.filter(pmod(col("doc_id"), lit(40L)) === 6),
            tombIn.filter(pmod(col("doc_id"), lit(40L)) === 26),
            arrIn.filter(pmod(col("doc_id"), lit(20L)) === 0),
            arrIn.filter(pmod(col("doc_id"), lit(20L)) === 10))
      }
      OnlineFold.drain(s, root, inTmpl)(simhashRollLogBatch(d, _, _))
      val rolled = BandIndex.SimHash.rollLogs(s, root,
        "doc_id LONG, sh64 LONG, band INT, bkey INT")(simhashRollFold(s, d, _, _))
      simhashServe(s, d, rolled, mod = 10L, res = 5L)
    },

    QueryDef("multimodal_decode", Some("""
      SELECT doc_id, octet_length(CAST(text AS BLOB)) AS n_bytes
      FROM documents ORDER BY doc_id""")) { (s, d) =>
      graft.operators.Multimodal.decodeMeta(graft.operators.Multimodal.payloads(s, d))
        .toDF().select(col("doc_id"), col("n_bytes"))
        .orderBy(col("doc_id"))
    },

    // Frame-sampling stub (UDTF-style flatMap) under the gate: every
    // stride-th chunk, even indices kept; chunk lengths are pure byte
    // arithmetic so the oracle reproduces them exactly.
    QueryDef("multimodal_frames", Some("""
      WITH c AS (SELECT doc_id, octet_length(CAST(text AS BLOB)) AS n,
                        (greatest(octet_length(CAST(text AS BLOB)), 1) - 1) // 64 AS max_i
                 FROM documents),
      e AS (SELECT doc_id, unnest(range(0, max_i + 1)) AS i, n FROM c)
      SELECT doc_id, CAST(i AS BIGINT) AS frame_idx,
             CAST(least(64, n - i * 64) AS BIGINT) AS frame_bytes
      FROM e WHERE i % 2 = 0 ORDER BY doc_id, frame_idx""")) { (s, d) =>
      graft.operators.Multimodal.sampleFrames(graft.operators.Multimodal.payloads(s, d), 64)
        .select(col("doc_id"), col("frame_idx").cast("long").as("frame_idx"),
          col("frame_bytes").cast("long").as("frame_bytes"))
        .orderBy(col("doc_id"), col("frame_idx"))
    },

    // Multimodal metadata plumbing: opaque payload bytes + typed
    // metadata columns (byte length, content hashes, bucket key).
    QueryDef("multimodal_meta", Some("""
      SELECT doc_id, octet_length(CAST(text AS BLOB)) AS n_bytes,
             sha256(text) AS sha256_hex, md5(text) AS md5_hex,
             substr(sha256(text), 1, 8) AS content_bucket
      FROM documents ORDER BY doc_id""")) { (s, d) =>
      Tables.documents(s, d).select(col("doc_id"),
        octet_length(col("text")).cast("long").as("n_bytes"),
        sha2(col("text").cast("binary"), 256).as("sha256_hex"),
        md5(col("text").cast("binary")).as("md5_hex"),
        substring(sha2(col("text").cast("binary"), 256), 1, 8).as("content_bucket"))
        .orderBy(col("doc_id"))
    },

    /** REAL image decode under the oracle gate (round-8 verdict item 5):
      * stage one deterministic solid-color PNG per document — encoded
      * executor-side by the JDK's own `javax.imageio` PNG writer, with
      * width/height/color pure functions of doc_id — write the payloads
      * to a parquet binary column, then DECODE THE BYTES BACK with
      * [[graft.operators.Multimodal.ImageCodec]] (format sniffed from
      * magic bytes, dims and the (0,0) pixel read from the decoded
      * frame). PNG is lossless, so the oracle derives every judged
      * value from the generator parameters alone: a broken encoder,
      * a parquet binary round-trip bug, or a codec that misreads
      * dims/pixels each breaks the hash. Payloads the JDK cannot decode
      * get an honest `unknown` record (multimodal_decode). Scale
      * shape: encode and decode are both iterator-to-iterator
      * mapPartitions over the scan — parallelism follows the files,
      * nothing collects. */
    QueryDef("multimodal_image_meta", Some("""
      SELECT doc_id, 'png' AS format,
             CAST(1 + doc_id % 16 AS BIGINT) AS width,
             CAST(1 + (doc_id // 16) % 16 AS BIGINT) AS height,
             CAST((doc_id * 2654435761) % 16777216 AS BIGINT) AS pixel00
      FROM documents ORDER BY doc_id""")) { (s, d) =>
      // the judged operator is the DECODE read
      graft.operators.Multimodal.decodeMeta(s.read.parquet(s"${stagedPngs(s, d)}/img")).toDF()
        .select(col("doc_id"), col("format"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          col("checksum").as("pixel00"))
        .orderBy(col("doc_id"))
    },

    /** Raw-bytes ingestion through Spark's `binaryFile` source — the
      * missing first hop of the multimodal story: media lands as LOOSE
      * FILES (one blob per asset), not as parquet columns, and the
      * engine must lift files into a binary column before any decode
      * runs. Staging writes one `<doc_id>.bin` per document
      * EXECUTOR-SIDE (foreachPartition — the driver never touches the
      * bytes); the judged query is the `binaryFile` read itself:
      * pathGlobFilter prunes at listing time, the filename key is
      * recovered with one regexp, and (size, md5) of the content
      * column are hash-gated against the oracle recomputing both from
      * the source table — any byte lost or reordered in the
      * file-staging round-trip breaks the hash. At 100 TB this is the
      * asset-manifest build: listing parallelizes over executors and
      * each task reads only its files. */
    QueryDef("multimodal_binary_ingest", Some("""
      SELECT doc_id, CAST(strlen(text) AS BIGINT) AS n_bytes, md5(text) AS content_md5
      FROM documents ORDER BY doc_id""")) { (s, d) =>
      import s.implicits._
      // READ-ONLY staged loose files, a pure function of the fixture —
      // written once per JVM (round-19: ~one file per document was
      // re-written executor-side on every bench sample); the judged
      // operator is the binaryFile READ below
      val root = graft.Staging.onceDir(s, "binfiles", d) { pp =>
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(pp, "files"))
        Tables.documents(s, d).select(col("doc_id"), col("text"))
          .as[(Long, String)]
          .foreachPartition { it: Iterator[(Long, String)] =>
            it.foreach { case (id, text) =>
              java.nio.file.Files.write(
                java.nio.file.Paths.get(pp, "files", s"$id.bin"),
                text.getBytes("UTF-8"))
            }
          }
      }
      s.read.format("binaryFile").option("pathGlobFilter", "*.bin")
        .load(s"$root/files")
        .select(
          regexp_extract(col("path"), "([0-9]+)\\.bin$", 1).cast("long").as("doc_id"),
          col("length").as("n_bytes"),
          md5(col("content")).as("content_md5"))
        .orderBy(col("doc_id"))
    },

    /** REAL audio decode through the JDK's `javax.sound.sampled` WAV
      * path — the audio leg of the multimodal family (images decode
      * via javax.imageio in `multimodal_image_meta`; audio was the
      * remaining FakeCodec-only modality). Staging synthesizes one
      * deterministic 16-bit mono PCM WAV per document EXECUTOR-SIDE
      * (every sample an arithmetic function of (doc_id, i)), round-
      * trips the bytes through a parquet binary column, and the judged
      * decode parses the genuine WAV header + PCM frames back:
      * sample-rate/channels/bits/frame-count from `AudioSystem`, plus
      * the exact signed-sample sum as a content fingerprint. The
      * oracle recomputes frame count AND sample sum analytically from
      * the generator arithmetic — a header mis-parse, endianness flip,
      * or truncated frame breaks the hash. */
    QueryDef("multimodal_audio_meta", Some("""
      WITH n AS (SELECT doc_id, 100 + doc_id % 100 AS nf FROM documents),
      s AS (SELECT n.doc_id, n.nf,
              CAST(sum(((n.doc_id * 31 + t.i * 7919) % 65536) - 32768) AS BIGINT) AS sample_sum
            FROM n CROSS JOIN range(0, 199) AS t(i)
            WHERE t.i < n.nf GROUP BY 1, 2)
      SELECT doc_id, CAST(8000 AS BIGINT) AS sample_rate, CAST(1 AS BIGINT) AS channels,
             CAST(16 AS BIGINT) AS bits, CAST(nf AS BIGINT) AS n_frames, sample_sum
      FROM s ORDER BY doc_id""")) { (s, d) =>
      graft.operators.Multimodal.decodeAudio(s.read.parquet(s"${stagedWavs(s, d)}/wav")).toDF()
        .orderBy(col("doc_id"))
    },

    /** Image TRANSFORM judged end-to-end: the staged solid-color PNGs
      * run a genuine decode → Graphics2D scale to 8x8 → PNG re-encode →
      * SECOND decode, and the judged values come from that final
      * decode. A solid source resizes to the same solid color at any
      * size (interpolation weights sum to 1 over equal pixels), so the
      * oracle stays analytic: target dims + the generator's color.
      * A wrong raster type (alpha bleed), off-by-one sampling at the
      * edge, or a corrupted re-encode all change pixel00 or the
      * re-decoded dims and break the hash. This is the thumbnail/
      * normalization pass of a vision pipeline — map-only, parallelism
      * follows the scan. */
    QueryDef("multimodal_image_resize", Some("""
      SELECT doc_id, 'png' AS format, CAST(8 AS BIGINT) AS width, CAST(8 AS BIGINT) AS height,
             CAST((doc_id * 2654435761) % 16777216 AS BIGINT) AS pixel00
      FROM documents ORDER BY doc_id""")) { (s, d) =>
      // decode ONCE into a localCheckpoint (the decoded metadata frame
      // is tiny — no payloads), then sort the checkpointed frame: the
      // output order is now guaranteed by an actual Sort in the plan
      // instead of physical order preservation through mapPartitions
      // (round-10 advice: that invariant was real but unasserted and
      // fragile to planner/AQE changes), and the range partitioner's
      // sampling pass runs over checkpointed rows, not a second
      // decode — the one-pass win stands.
      val resized = graft.operators.Multimodal.resizeImages(
        s.read.parquet(s"${stagedPngs(s, d)}/img"), 8, 8)
      graft.operators.Multimodal.decodeMeta(resized).toDF()
        .select(col("doc_id"), col("format"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          col("checksum").as("pixel00"))
        .localCheckpoint()
        .orderBy(col("doc_id"))
    },

    /** Audio TRANSFORM judged end-to-end: the staged deterministic WAVs
      * run decode → 2:1 decimation (keep even-index frames) → genuine
      * WAV re-encode at half the rate → second decode. Every output
      * sample is an input sample verbatim, so the oracle recomputes
      * the decimated frame count AND the exact signed-sample sum over
      * the even indices from the generator arithmetic — an off-by-one
      * in the frame stride, a byte-alignment slip, or a header
      * mis-write at the new rate all break the hash. */
    QueryDef("multimodal_audio_resample", Some("""
      WITH n AS (SELECT doc_id, 100 + doc_id % 100 AS nf FROM documents),
      s AS (SELECT n.doc_id, (n.nf + 1) // 2 AS nf_out,
              CAST(sum(((n.doc_id * 31 + t.i * 7919) % 65536) - 32768) AS BIGINT) AS sample_sum
            FROM n CROSS JOIN range(0, 199) AS t(i)
            WHERE t.i < n.nf AND t.i % 2 = 0 GROUP BY 1, 2)
      SELECT doc_id, CAST(4000 AS BIGINT) AS sample_rate, CAST(1 AS BIGINT) AS channels,
             CAST(16 AS BIGINT) AS bits, CAST(nf_out AS BIGINT) AS n_frames, sample_sum
      FROM s ORDER BY doc_id""")) { (s, d) =>
      // decode once into a localCheckpoint, then sort the tiny decoded
      // frame (see multimodal_image_resize): ordering is a real Sort
      // in the plan, decode still runs exactly one pass.
      val decimated = graft.operators.Multimodal.decimateAudio(
        s.read.parquet(s"${stagedWavs(s, d)}/wav"))
      graft.operators.Multimodal.decodeAudio(decimated).toDF()
        .localCheckpoint()
        .orderBy(col("doc_id"))
    },

    /** REAL multi-frame VIDEO decode through the JDK's animated-GIF
      * path (round-12: the last FakeCodec modality closed with a
      * genuine codec). Staging writes one animated GIF per document
      * EXECUTOR-SIDE — frame count (2 + doc_id%4), dims, and each
      * frame's solid color pure functions of doc_id — round-trips the
      * bytes through a parquet binary column, and the judged decode
      * walks a genuine ImageReader sequence: `getNumImages(true)` for
      * the frame count, `read(f)` per stored frame for dims + the
      * (0,0) pixel. GIF palettes are lossless for solid frames, so the
      * oracle derives every row analytically — a miscounted sequence,
      * palette corruption, or compositing mix-up breaks the hash
      * (MultimodalSpec additionally proves a NON-solid frame decodes
      * per-pixel). Scale shape: encode and decode are iterator
      * flatMaps over the scan — one payload in, N frame rows out,
      * parallelism follows the files. */
    QueryDef("multimodal_video_frames", Some("""
      WITH n AS (SELECT doc_id, 2 + doc_id % 4 AS nf,
                        1 + doc_id % 8 AS w, 1 + (doc_id // 8) % 8 AS h
                 FROM documents),
      e AS (SELECT doc_id, w, h, unnest(range(0, nf)) AS f FROM n)
      SELECT doc_id, CAST(f AS BIGINT) AS frame_idx,
             CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
             CAST((doc_id * 2654435761 + f * 7919) % 16777216 AS BIGINT) AS pixel
      FROM e ORDER BY doc_id, frame_idx""")) { (s, d) =>
      import s.implicits._
      // READ-ONLY staged payloads, encoded once per JVM (round-19)
      val root = graft.Staging.onceDir(s, "gif", d) { pp =>
        Tables.documents(s, d).select(col("doc_id")).as[Long]
          .mapPartitions(_.map { id =>
            (id, graft.operators.Multimodal.VideoCodec.encodeGif(id))
          }).toDF("doc_id", "payload")
          .write.mode("overwrite").parquet(s"$pp/gif")
      }
      // decode once into a localCheckpoint, then sort the tiny frame
      // table (see multimodal_image_resize): ordering is a real Sort
      // in the plan, the decode runs exactly one pass
      graft.operators.Multimodal.decodeVideoFrames(s.read.parquet(s"$root/gif"))
        .toDF()
        .localCheckpoint()
        .orderBy(col("doc_id"), col("frame_idx"))
    },
  )
}
