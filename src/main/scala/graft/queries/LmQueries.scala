package graft.queries

import graft.Tables
import graft.functions.TextFunctions._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The corpus-LM's train/serve lifecycle (round-15 verdict task 5):
  * `doc_lm_score` proves the CCNet-style bigram fluency gate in one
  * lineage; these queries complete it the way every other trained
  * artifact in the repo works (tokenizer triad, k-means, PCA,
  * containment/MinHash indexes) — the model persists to parquet ONCE
  * and a held-out batch is served from the RE-READ artifact, so
  * artifact serialization itself sits inside the hash gate.
  *
  * Splits follow the incremental-index convention
  * (dedup_containment_incremental): the standing corpus
  * (doc_id % 5 ≠ 0) trains the bigram table, the batch slice
  * (doc_id % 5 = 0) is scored against it. Serving a batch the model
  * has NOT seen forces the out-of-vocabulary contract the in-corpus
  * query never exercises: unseen bigrams score as misses (LEFT join,
  * counted in n_oov via n_bigrams − n_scored), the judged mean runs
  * over scored instances only, and an all-OOV doc reports the -1
  * sentinel rather than a NULL (exact-integer parity — no smoothing,
  * which would be a float).
  *
  * Scale shape: training is two corpus aggregates (c1, c2) and one
  * integer division — map-side-combined, written once; serving is ONE
  * bigram explode over the batch + a model join (broadcast at the
  * fixture's bounded vocab; web-scale vocab shuffle-joins on w1, the
  * doc_lm_score scaladoc's standing note) + one doc_id aggregate —
  * O(batch) per serve, the model never rebuilds. */
object LmQueries {

  /** The persisted bigram LM `(w1, w2, p_ppm)` trained on the standing
    * split, written ONCE per (JVM, dir) — p(w2|w1) as exact ppm under
    * truncating division, doc_lm_score's arithmetic verbatim. Returns
    * the artifact path. */
  private[graft] def sharedLmModel(s: SparkSession, d: String): String =
    graft.Staging.persist(s, "lm_model", d) {
      // ONE arithmetic path with the maintenance rolls (lmCounts →
      // modelFromCounts): LmSpec gates updatedLmModel == this model
      // bit-for-bit, so the trained form must be literally the same
      // code (round-16 review; the merge re-aggregation and zero
      // filters are no-ops on fresh counts)
      val (uni, bi) = lmCounts(standing(s, d))
      modelFromCounts(uni, bi)
    }

  /** Mergeable LM sufficient statistics of one corpus slice — unigram
    * counts `uni(w1, c1)` and bigram counts `bi(w1, w2, c2)`, the
    * GROUP-under-addition form the ratio model cannot be maintained
    * in (p_ppm values don't add; the counts they divide do). */
  /** `stream_lm_forget`'s per-trigger body — named so FoldReplaySpec
    * can re-execute it with a committed batch id and assert the
    * versions unchanged (the foreachBatch replay contract): the
    * batch's negated counts subtract from version id into version
    * id+1 — a replay re-reads the committed v_id and overwrites
    * v_{id+1} with identical content. */
  private[graft] def lmForgetRollBatch(d: String, b: DataFrame, id: Long): Unit = {
    val root = graft.Staging.dir("lmforget", d)
    val ss = b.sparkSession
    val (uniT, biT) = negated(lmCounts(b.select(col("doc_id"), tokens(col("text")).as("w"))))
    ss.read.parquet(s"$root/v$id/uni").unionByName(uniT)
      .groupBy("w1").agg(sum("c1").as("c1")).filter(col("c1") > 0)
      .write.mode("overwrite").parquet(s"$root/v${id + 1}/uni")
    ss.read.parquet(s"$root/v$id/bi").unionByName(biT)
      .groupBy("w1", "w2").agg(sum("c2").as("c2")).filter(col("c2") > 0)
      .write.mode("overwrite").parquet(s"$root/v${id + 1}/bi")
    ()
  }

  /** `stream_lm_compact`'s per-trigger logging body — the batch's
    * negated counts write to batch-id-keyed log dirs in OVERWRITE
    * mode (pure log-and-compact; replay idempotent). */
  private[graft] def lmCompactLogBatch(d: String, b: DataFrame, id: Long): Unit = {
    val root = graft.Staging.dir("lmslog", d)
    val (uniT, biT) = negated(lmCounts(b.select(col("doc_id"), tokens(col("text")).as("w"))))
    uniT.write.mode("overwrite").parquet(s"$root/log/b$id/uni")
    biT.write.mode("overwrite").parquet(s"$root/log/b$id/bi")
    ()
  }

  /** `stream_lm_score`'s per-trigger serve body: the batch's docs
    * scored against the frozen persisted model, written to a
    * batch-id-keyed sink (overwrite = replay idempotent). */
  private[graft] def lmScoreServeBatch(d: String, b: DataFrame, id: Long): Unit = {
    val model = graft.Staging.read(b.sparkSession, sharedLmModel(b.sparkSession, d))
    val tok = b.select(col("doc_id"), tokens(col("text")).as("w"))
    score(tok, model)
      .write.mode("overwrite").parquet(s"${graft.Staging.dir("lmserve", d)}/out/b$id")
  }

  private def lmCounts(t: DataFrame): (DataFrame, DataFrame) = (
    t.select(explode(col("w")).as("w1")).groupBy("w1").agg(count(lit(1)).as("c1")),
    bigrams(t).groupBy("w1", "w2").agg(count(lit(1)).as("c2")))

  /** Count statistics `(uni, bi)` negated, so a merge subtracts them. */
  private def negated(c: (DataFrame, DataFrame)): (DataFrame, DataFrame) =
    (c._1.select(col("w1"), negate(col("c1")).as("c1")),
      c._2.select(col("w1"), col("w2"), negate(col("c2")).as("c2")))

  /** The standing split's tokenized docs, optionally sub-sliced. */
  private def standing(s: SparkSession, d: String): DataFrame =
    SharedText.tokenized(s, d)
      .filter(pmod(col("doc_id"), lit(5L)) =!= 0)
      .select(col("doc_id"), col("w"))

  /** COUNT-form LM statistics persisted once per (JVM, dir): `which`
    * selects the slice — day-1 (standing ∧ even doc_id, the update
    * roll's base) or the full standing corpus (the forget roll's
    * base). Two parquets under one root (uni/, bi/). */
  private[graft] def sharedLmStats(s: SparkSession, d: String, day1Only: Boolean): String =
    graft.Staging.onceDir(s, if (day1Only) "lm_stats1" else "lm_statsf", d) { p =>
      val slice = if (day1Only) standing(s, d).filter(pmod(col("doc_id"), lit(2L)) === 0)
                  else standing(s, d)
      val (uni, bi) = lmCounts(slice)
      uni.write.mode("overwrite").parquet(s"$p/uni")
      bi.write.mode("overwrite").parquet(s"$p/bi")
    }

  /** Finish a model from (merged) count statistics: re-aggregate each
    * grain, drop zeroed entries (a bigram or unigram whose last
    * occurrence was SUBTRACTED out must vanish exactly as a retrain's
    * GROUP BY never sees it), then the exact ppm division. */
  private def modelFromCounts(uni: DataFrame, bi: DataFrame): DataFrame =
    bi.groupBy("w1", "w2").agg(sum(col("c2")).as("c2")).filter(col("c2") > 0)
      .join(uni.groupBy("w1").agg(sum(col("c1")).as("c1")).filter(col("c1") > 0), Seq("w1"))
      .withColumn("p_ppm", expr("(c2 * 1000000) div c1"))
      .select(col("w1"), col("w2"), col("p_ppm"))

  /** The model of the persisted count statistics ([[sharedLmStats]])
    * plus the count deltas `uni`/`bi` (negated deltas subtract). */
  private def modelPlus(s: SparkSession, d: String, day1Only: Boolean,
      uni: DataFrame, bi: DataFrame): DataFrame = {
    val root = sharedLmStats(s, d, day1Only)
    modelFromCounts(graft.Staging.read(s, s"$root/uni").unionByName(uni),
      graft.Staging.read(s, s"$root/bi").unionByName(bi))
  }

  /** The UPDATED model: day-2 (odd-doc_id standing) counts folded into
    * the re-read day-1 artifact by plain addition — memoized so bench
    * reps serve, not re-merge. */
  private[graft] def updatedLmModel(s: SparkSession, d: String): DataFrame =
    graft.Staging.frame(s, "lm_upd", d) {
      val (uni2, bi2) = lmCounts(standing(s, d).filter(pmod(col("doc_id"), lit(2L)) === 1))
      modelPlus(s, d, day1Only = true, uni2, bi2).localCheckpoint()
    }

  /** Tombstone residue of the forget roll: standing docs with
    * doc_id ≡ 1 (mod 10) — a 10% slice of the training corpus whose
    * counts are SUBTRACTED out. */
  private[graft] val ForgetMod = 10L
  private[graft] val ForgetRes = 1L

  /** The FORGOTTEN model: tombstoned docs' counts (one O(tombstones)
    * pass) subtracted from the re-read full standing artifact by
    * negation into the same additive merge — the k-means delete
    * algebra applied to the LM (counts form a group; the ratio form
    * doesn't). */
  private[graft] def forgottenLmModel(s: SparkSession, d: String): DataFrame =
    graft.Staging.frame(s, "lm_fgt", d) {
      val (uniT, biT) = negated(lmCounts(
        standing(s, d).filter(pmod(col("doc_id"), lit(ForgetMod)) === ForgetRes)))
      modelPlus(s, d, day1Only = false, uniT, biT).localCheckpoint()
    }

  /** The compacted-model artifact of the log-and-compact roll: four
    * tombstone delta batches APPEND negated counts to `log/` (pure
    * appends — neither the standing artifact nor the log is read),
    * then one compaction folds base ∪ log through [[modelFromCounts]]
    * and persists the served model. Built once per (JVM, dir); the
    * serve re-reads the compacted parquet, so artifact serialization
    * sits inside the hash gate (the family discipline). */
  private[graft] def compactedLmModelPath(s: SparkSession, d: String): String =
    graft.Staging.onceDir(s, "lm_compact", d) { p =>
      // the log is APPEND-mode by design — wipe any prior JVM's dir
      // first, or a re-run would double every delta
      val fs = new org.apache.hadoop.fs.Path(p)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(p), true)
      // four delta batches: doc_id % 10 = 1 partitioned by % 40
      Seq(1L, 11L, 21L, 31L).foreach { res =>
        val (uniT, biT) = negated(lmCounts(
          standing(s, d).filter(pmod(col("doc_id"), lit(4L * ForgetMod)) === res)))
        uniT.write.mode("append").parquet(s"$p/log/uni")
        biT.write.mode("append").parquet(s"$p/log/bi")
      }
      modelPlus(s, d, day1Only = false,
        s.read.parquet(s"$p/log/uni"), s.read.parquet(s"$p/log/bi"))
        .write.mode("overwrite").parquet(s"$p/model")
      ()
    } + "/model"

  /** Per-doc bigram instances of one batch frame `(doc_id, w1, w2)`. */
  private def bigrams(batch: DataFrame): DataFrame =
    batch.filter(size(col("w")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(w) - 2), i -> struct(w[i] AS w1, w[i + 1] AS w2))")).as("p"))
      .select(col("doc_id"), col("p.w1").as("w1"), col("p.w2").as("w2"))

  /** Score one batch frame against the frozen model — LEFT join keeps
    * OOV bigram instances in n_bigrams; the mean runs over scored
    * instances only; all-OOV docs report the -1 sentinel. */
  private[graft] def score(batch: DataFrame, model: DataFrame): DataFrame =
    bigrams(batch)
      .join(broadcast(model), Seq("w1", "w2"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        count(col("p_ppm")).as("n_scored"),
        sum(col("p_ppm")).as("sum_ppm"))
      .select(col("doc_id"), col("n_bigrams"), col("n_scored"),
        expr("CASE WHEN n_scored > 0 THEN sum_ppm div n_scored ELSE -1 END").as("lm_ppm"))

  /** Shared oracle: train on the standing split, serve the batch —
    * replayed end-to-end in SQL, so both the batch query (persisted
    * parquet round-trip) and the streaming twin (micro-batched serve)
    * must reproduce it bit-for-bit. */
  private val serveOracle = serveOracleTrainedOn("doc_id % 5 <> 0")

  /** The serve oracle with a parameterized TRAINING slice — the forget
    * roll retrains on standing-minus-tombstones; everything downstream
    * of `tr` is shared verbatim so the two oracles cannot drift. */
  private def serveOracleTrainedOn(trWhere: String): String = s"""
      WITH t AS (SELECT doc_id, string_split_regex(lower(trim(text)), '[ \\t\\n\\x0B\\f\\r]+') AS w FROM documents),
      tr AS (SELECT * FROM t WHERE $trWhere),
      c1 AS (SELECT w1, count(*) AS c1 FROM (SELECT unnest(w) AS w1 FROM tr) GROUP BY 1),
      c2 AS (SELECT w1, w2, count(*) AS c2 FROM
               (SELECT p.w1 AS w1, p.w2 AS w2
                FROM (SELECT unnest([{'w1': w[i], 'w2': w[i+1]} for i in range(1, len(w))]) AS p
                      FROM tr WHERE len(w) >= 2))
             GROUP BY 1, 2),
      model AS (SELECT c2.w1, c2.w2, (c2.c2 * 1000000) // c1.c1 AS p_ppm
                FROM c2 JOIN c1 ON c1.w1 = c2.w1),
      bq AS (SELECT doc_id, p.w1 AS w1, p.w2 AS w2
             FROM (SELECT doc_id, unnest([{'w1': w[i], 'w2': w[i+1]} for i in range(1, len(w))]) AS p
                   FROM t WHERE doc_id % 5 = 0 AND len(w) >= 2)),
      sc AS (SELECT b.doc_id, m.p_ppm
             FROM bq b LEFT JOIN model m ON m.w1 = b.w1 AND m.w2 = b.w2)
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
             CAST(count(p_ppm) AS BIGINT) AS n_scored,
             CAST(CASE WHEN count(p_ppm) > 0 THEN sum(p_ppm) // count(p_ppm) ELSE -1 END AS BIGINT) AS lm_ppm
      FROM sc GROUP BY doc_id ORDER BY doc_id"""

  val defs: Seq[QueryDef] = Seq(

    QueryDef("doc_lm_score_persisted", Some(serveOracle)) { (s, d) =>
      val model = graft.Staging.read(s, sharedLmModel(s, d))
      val batch = SharedText.tokenized(s, d)
        .filter(pmod(col("doc_id"), lit(5L)) === 0)
        .select(col("doc_id"), col("w"))
      score(batch, model).orderBy(col("doc_id"))
    },

    /** Model MAINTENANCE — the LM joins the maintained-artifact roster
      * (MinHash append, k-means update): day-1 (even-doc_id standing)
      * counts persist ONCE as the group-form artifact, day-2 (odd)
      * counts fold in by plain integer addition against the RE-READ
      * parquet — one O(batch) pass, the standing corpus never re-read —
      * and the exact ppm division over merged counts is BIT-identical
      * to retraining on the whole standing split, because counts are
      * mergeable sufficient statistics and the division has no order
      * freedom. The gate is doc_lm_score_persisted's oracle VERBATIM:
      * update(counts(day1), day2) == train(standing), end-to-end
      * through the serve. At 100 TB the nightly LM roll costs the
      * day's bigrams plus a vocab-sized parquet read. */
    QueryDef("doc_lm_update", Some(serveOracle)) { (s, d) =>
      val batch = SharedText.tokenized(s, d)
        .filter(pmod(col("doc_id"), lit(5L)) === 0)
        .select(col("doc_id"), col("w"))
      score(batch, updatedLmModel(s, d)).orderBy(col("doc_id"))
    },

    /** Model FORGETTING — the LM's right-to-be-forgotten roll, exact
      * by the same group algebra as vec_kmeans_delete: tombstoned docs
      * (standing ∧ doc_id ≡ 1 mod 10) have their counts SUBTRACTED
      * from the re-read full-standing artifact; a bigram whose last
      * occurrence leaves drops to c2 = 0 and vanishes exactly as a
      * retrain never sees it (its batch instances flip to OOV — the
      * machine-unlearning contract: the model provably retains NOTHING
      * of the forgotten docs, since subtract == retrain bit-for-bit).
      * The oracle retrains on standing-minus-tombstones — an EQUALITY
      * gate, no directional carve-out. O(tombstones) + a vocab-sized
      * read; never the standing corpus. */
    QueryDef("doc_lm_forget", Some(serveOracleTrainedOn(
      s"doc_id % 5 <> 0 AND doc_id % $ForgetMod <> $ForgetRes"))) { (s, d) =>
      val batch = SharedText.tokenized(s, d)
        .filter(pmod(col("doc_id"), lit(5L)) === 0)
        .select(col("doc_id"), col("w"))
      score(batch, forgottenLmModel(s, d)).orderBy(col("doc_id"))
    },

    /** LOG-AND-COMPACT — the high-cadence deletion path the eager
      * rolls' cost model argues for (PLANS.md round 16, "the third
      * streaming curve": each eager roll pays an O(batch) tombstone
      * pass PLUS a vocab-sized artifact
      * read-modify-write, and at high cadence the vocab floor
      * dominates), now JUDGED rather than argued: the four tombstone
      * delta batches (doc_id % 10 = 1 split by % 40 into 1/11/21/31)
      * append their NEGATED counts to a delta log — each append is
      * O(batch) only, the standing artifact and the log are never
      * read — and ONE compaction folds base ∪ log through the same
      * re-aggregate + drop-zeroed + divide chain every roll uses
      * (`modelFromCounts`). Because count addition is associative,
      * commutative, and total, log-then-compact provably equals the
      * N eager read-modify-write rolls equals one retrain on the
      * survivors — the gate is `doc_lm_forget`'s retrain oracle
      * VERBATIM (an exact hash, no directional carve-out), and LmSpec
      * closes the artifact loop: compact(base ∪ log) == the eager
      * roll's model, row for row. At 100 TB this is the deletion
      * cadence dial: eager = one vocab rewrite per batch, log = one
      * vocab rewrite per COMPACTION WINDOW, same algebra, same
      * answer. */
    QueryDef("doc_lm_compact", Some(serveOracleTrainedOn(
      s"doc_id % 5 <> 0 AND doc_id % $ForgetMod <> $ForgetRes"))) { (s, d) =>
      val batch = SharedText.tokenized(s, d)
        .filter(pmod(col("doc_id"), lit(5L)) === 0)
        .select(col("doc_id"), col("w"))
      score(batch, graft.Staging.read(s, compactedLmModelPath(s, d))).orderBy(col("doc_id"))
    },

    /** STREAMING maintenance — the repo's first ONLINE artifact-
      * mutation shape (the stream twins so far all SERVE a frozen
      * artifact; this one maintains it): deletion requests arrive as a
      * real file-source stream of tombstone documents in two
      * micro-batches, and each foreachBatch SUBTRACTS its batch's
      * counts from the current artifact version, writing the next
      * (v0 = the standing count artifact; v_{id+1} = v_id − counts
      * (batch id) — batch-id-keyed versions, so replays are
      * idempotent). Because count subtraction is associative,
      * commutative, and total (the group algebra), the final version
      * provably cannot depend on how the tombstones were micro-
      * batched — and the gate proves exactly that: the held-out batch
      * served from the FINAL version shares `doc_lm_forget`'s
      * retrain-on-survivors oracle VERBATIM (the two staged batches
      * partition the tombstone slice: doc_id%10=1 splits by %20 into
      * 1 and 11). Each roll costs O(tombstone batch) + one vocab-sized
      * artifact rewrite — the read-modify-write trade a daily
      * deletion-request cadence pays; at higher cadence the deltas
      * append to a log and compact at serve, same algebra. */
    QueryDef("stream_lm_forget", Some(serveOracleTrainedOn(
      s"doc_id % 5 <> 0 AND doc_id % $ForgetMod <> $ForgetRes"))) { (s, d) =>
      import graft.streaming.OnlineFold
      val statsRoot = sharedLmStats(s, d, day1Only = false)
      val root = OnlineFold.freshRoot(s, "lmforget", d)
      // v0: the standing count artifact is this roll's base version —
      // a straight FILE copy of the day-1 parquet (identical bytes, no
      // Spark job)
      graft.Staging.copyTree(s, s"$statsRoot/uni", s"$root/v0/uni")
      graft.Staging.copyTree(s, s"$statsRoot/bi", s"$root/v0/bi")
      // the deletion-request stream: the tombstone docs, two files →
      // two micro-batches
      val inTmpl = OnlineFold.stage(s, "lmforget_in", d) {
        val tomb = Tables.documents(s, d).select(col("doc_id"), col("text"))
          .filter(pmod(col("doc_id"), lit(5L)) =!= 0 &&
            pmod(col("doc_id"), lit(ForgetMod)) === ForgetRes)
        Seq(tomb.filter(pmod(col("doc_id"), lit(2L * ForgetMod)) === ForgetRes),
            tomb.filter(pmod(col("doc_id"), lit(2L * ForgetMod)) === (ForgetMod + ForgetRes)))
      }
      OnlineFold.drain(s, root, inTmpl)(lmForgetRollBatch(d, _, _))
      val model = modelFromCounts(
        s.read.parquet(s"$root/v2/uni"), s.read.parquet(s"$root/v2/bi"))
      val batch = SharedText.tokenized(s, d)
        .filter(pmod(col("doc_id"), lit(5L)) === 0)
        .select(col("doc_id"), col("w"))
      score(batch, model).orderBy(col("doc_id"))
    },

    /** ONLINE log-and-compact — `doc_lm_compact`'s streaming twin and
      * `stream_lm_forget`'s high-cadence alternative: the SAME four
      * tombstone delta batches arrive as a real file-source stream
      * (four staged files under maxFilesPerTrigger=1 = four
      * micro-batches), and each foreachBatch APPENDS its batch's
      * negated counts to a batch-id-keyed log dir (`log/b$id`,
      * overwrite — replays are idempotent) — O(batch) per trigger,
      * the standing artifact is NEVER read inside the stream (the
      * eager twin pays a vocab-floor read-modify-write per trigger;
      * measured 0.74× at N=4, → ~1/N, PLANS.md Round 17). ONE
      * compaction after the drain folds base ∪ log through the shared
      * modelFromCounts chain, and the held-out batch serves from the
      * compacted model. Because count addition is a total commutative
      * group, neither the micro-batching of the deltas nor
      * append-vs-eager order can change the final counts — the gate
      * is the retrain-on-survivors oracle VERBATIM (shared with
      * doc_lm_forget / stream_lm_forget / doc_lm_compact: four
      * mechanically different rolls, one exact answer). */
    QueryDef("stream_lm_compact", Some(serveOracleTrainedOn(
      s"doc_id % 5 <> 0 AND doc_id % $ForgetMod <> $ForgetRes"))) { (s, d) =>
      import graft.streaming.OnlineFold
      val root = OnlineFold.freshRoot(s, "lmslog", d)
      // the four tombstone delta files
      val inTmpl = OnlineFold.stage(s, "lmslog_in", d) {
        val tomb = Tables.documents(s, d).select(col("doc_id"), col("text"))
          .filter(pmod(col("doc_id"), lit(5L)) =!= 0 &&
            pmod(col("doc_id"), lit(ForgetMod)) === ForgetRes)
        Seq(1L, 11L, 21L, 31L).map(res =>
          tomb.filter(pmod(col("doc_id"), lit(4L * ForgetMod)) === res))
      }
      OnlineFold.drain(s, root, inTmpl)(lmCompactLogBatch(d, _, _))
      // the one compaction: base ∪ every logged delta, re-aggregated
      modelPlus(s, d, day1Only = false,
        OnlineFold.readLogs(s, s"$root/log/b*/uni", "w1 STRING, c1 LONG"),
        OnlineFold.readLogs(s, s"$root/log/b*/bi", "w1 STRING, w2 STRING, c2 LONG"))
        .write.mode("overwrite").parquet(s"$root/model")
      val batch = SharedText.tokenized(s, d)
        .filter(pmod(col("doc_id"), lit(5L)) === 0)
        .select(col("doc_id"), col("w"))
      score(batch, s.read.parquet(s"$root/model")).orderBy(col("doc_id"))
    },

    /** Streaming twin (stream_kmeans_assign's pattern): batch docs
      * arrive as a real file-source stream in two micro-batches, each
      * scored inside foreachBatch against the SAME frozen parquet
      * model with batch_id-keyed idempotent sinks. Scoring is a pure
      * per-doc function of the frozen model, so micro-batch boundaries
      * provably cannot change any score — the shared oracle's hash
      * gates exactly that (a batch scored against a retrained model,
      * a dropped batch, or cross-batch interference all break it).
      * At 100 TB: perplexity-filtering at ingest, O(batch) per
      * trigger, model cost zero after the one-time train. */
    QueryDef("stream_lm_score", Some(serveOracle)) { (s, d) =>
      import graft.streaming.OnlineFold
      // the frozen model exists before the stream runs
      sharedLmModel(s, d)
      val root = OnlineFold.freshRoot(s, "lmserve", d)
      val inTmpl = OnlineFold.stage(s, "lmserve_in", d) {
        val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
        Seq(docs.filter(pmod(col("doc_id"), lit(10L)) === 0),
            docs.filter(pmod(col("doc_id"), lit(10L)) === 5))
      }
      OnlineFold.drain(s, root, inTmpl)(lmScoreServeBatch(d, _, _))
      OnlineFold.readLogs(s, s"$root/out/b*",
          "doc_id LONG, n_bigrams LONG, n_scored LONG, lm_ppm LONG")
        .orderBy(col("doc_id"))
    }
  )
}
