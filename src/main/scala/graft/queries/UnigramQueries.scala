package graft.queries

import graft.Staging
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Unigram-LM tokenizer training (Kudo, "Subword Regularization", ACL
  * 2018 — the SentencePiece unigram model), the OTHER production
  * tokenizer family beside BPE (round-13 verdict item 7): seed a
  * substring vocabulary, iteratively (E) re-segment the corpus by the
  * best piece decomposition under the current piece scores and (M)
  * re-estimate scores from segmentation usage, pruning the vocabulary
  * each round — train and tokenize both judged against a DuckDB oracle
  * that replays the identical algorithm.
  *
  * Exact-arithmetic deviation (documented, the repo's standing
  * discipline — doc_lm_score, doc_nb_classify): Kudo's soft EM
  * marginalizes real-valued likelihoods over all segmentations, which
  * is IEEE-order-dependent and cannot hash-gate across engines. This
  * is the HARD-EM (Viterbi) variant with an exact-integer objective:
  * the best segmentation minimizes piece count, then maximizes the
  * summed (frequency-weighted, integer) piece score, then breaks
  * remaining ties on the lexicographically least cut sequence — a
  * total order, so the chosen segmentation (not just its score) is
  * bit-deterministic on both engines. Viterbi inference is exactly
  * what SentencePiece itself ships for deployment; the
  * compression-first objective (fewest pieces) is the standard
  * tokenizer goal the likelihood term approximates.
  *
  * Scale story (same as BPE's, TokenizerQueries.scala): everything
  * after the one corpus-sized word count runs on DISTINCT words
  * (Heaps-law small). The engine's segmentation is min-plus PATH
  * SQUARING over each word's piece DAG — O(L² · log L) rows per
  * distinct word (L = word length, pieces ≤ 4 chars) with ceil(log₂ L)
  * self-join rounds, each a word-keyed equi-join — no per-position
  * driver loop, no exponential enumeration. The DuckDB oracle instead
  * enumerates ALL segmentations with a recursive CTE and ranks them —
  * a deliberately different (exhaustive) algorithm, so the hash gate
  * certifies the squaring against an independent implementation, and
  * UnigramSpec adds a third (plain-Scala) one.
  *
  * The squaring's tie-break is translation-invariant by construction:
  * cut positions are FIXED-WIDTH (2-digit) encoded, and the cut-string
  * comparison only ever applies between paths of equal piece count —
  * equal count ⇒ equal encoded length ⇒ lexicographic order composes
  * under concatenation (a variable-width encoding would not: "a" <
  * "ab" but "ac" > "abc").
  *
  * Reference tie-in: the reference has no tokenizer surface (it
  * delegates analysis to BigQuery, README.md:3); this family belongs
  * to the LLM-pipeline extension mandated by the build brief.
  */
object UnigramQueries {

  private val MaxPiece = 4     // max piece length (chars)
  private val SeedMulti = 40   // multi-char pieces seeded
  private val Caps = Seq(24, 16)   // per-EM-round multi-char piece caps

  /** Distinct-word frequency table `(word, wc)` — shares the tokenize
    * prefix with the n-gram family via SharedText. */
  private def sharedWfreq(s: SparkSession, d: String): DataFrame =
    Staging.frame(s, "ug_wfreq", d) {
      SharedText.tokenized(s, d)
        .select(explode(col("w")).as("word"))
        .filter(col("word") =!= "")
        .groupBy(col("word")).agg(count(lit(1)).as("wc"))
        .localCheckpoint()
    }

  /** Every substring occurrence `(word, wc, f, t, piece)` of length ≤
    * MaxPiece, with [f, t) the 0-based char span — the word's
    * segmentation DAG edges before vocabulary restriction. */
  private def occOf(wf: DataFrame): DataFrame =
    wf.withColumn("i", explode(sequence(lit(1), length(col("word")))))
      .withColumn("l", explode(sequence(lit(1),
        least(lit(MaxPiece), length(col("word")) - col("i") + 1))))
      .withColumn("piece", expr("substr(word, i, l)"))
      .select(col("word"), col("wc"),
        (col("i") - 1).as("f"), (col("i") - 1 + col("l")).as("t"), col("piece"))

  private def sharedOcc(s: SparkSession, d: String): DataFrame =
    Staging.frame(s, "ug_occ", d) {
      occOf(sharedWfreq(s, d)).localCheckpoint()
    }

  /** Viterbi-best segmentation of every distinct word under `vocab`
    * `(piece, cnt)` scores: min-plus path squaring over the piece DAG,
    * then the winning path's pieces reconstructed from its cut string.
    * Returns `(word, wc, pos, piece)`, pos 1-based within the word. */
  private def segment(wf: DataFrame, occ: DataFrame, vocab: DataFrame): DataFrame = {
    val edges = occ.join(broadcast(vocab), Seq("piece"))
      .select(col("word"), col("f"), col("t"),
        lit(1).as("np"), (-col("cnt")).as("negsc"), lit("").as("cuts"))
    // squaring rounds: after r rounds the table holds the best path of
    // ≤ 2^r hops per (word, f, t); max hops = word length (all single
    // chars), so ceil(log2 maxLen) rounds suffice. maxLen is a 1-value
    // plan-time driver read (the stageDayFiles/scd2 precedent).
    // max over ZERO rows is null — an empty/degenerate corpus would
    // otherwise surface as an opaque NPE from inside a Staging build
    // (round-13 ADVICE); fail with a diagnostic instead
    val maxLenRow = occ.agg(max(col("t"))).head
    require(!maxLenRow.isNullAt(0),
      "unigram segment: corpus has no words (empty piece-occurrence frame) " +
        "- nothing to train on")
    val maxLen = maxLenRow.getInt(0)
    require(maxLen <= 99,
      s"fixed-width cut encoding supports words up to 99 chars, got $maxLen")
    val rounds = math.max(1, 32 - Integer.numberOfLeadingZeros(maxLen - 1))
    var paths = edges.localCheckpoint(true)
    (1 to rounds).foreach { _ =>
      val a = paths.select(col("word"), col("f"), col("t").as("m"),
        col("np").as("np_a"), col("negsc").as("negsc_a"), col("cuts").as("cuts_a"))
      val b = paths.select(col("word"), col("f").as("m"), col("t"),
        col("np").as("np_b"), col("negsc").as("negsc_b"), col("cuts").as("cuts_b"))
      val joined = a.join(b, Seq("word", "m"))
        .select(col("word"), col("f"), col("t"),
          (col("np_a") + col("np_b")).as("np"),
          (col("negsc_a") + col("negsc_b")).as("negsc"),
          concat(col("cuts_a"), lpad(col("m").cast("string"), 2, "0"),
            col("cuts_b")).as("cuts"))
      // lexicographic min over (np, negsc, cuts) — struct ordering is
      // field-by-field, exactly the oracle's ORDER BY np, sc DESC, cuts
      paths = paths.union(joined)
        .groupBy(col("word"), col("f"), col("t"))
        .agg(min(struct(col("np"), col("negsc"), col("cuts"))).as("s"))
        .select(col("word"), col("f"), col("t"),
          col("s.np").as("np"), col("s.negsc").as("negsc"), col("s.cuts").as("cuts"))
        .localCheckpoint(true)
    }
    paths.filter(col("f") === 0)
      .join(wf, Seq("word"))
      .filter(col("t") === length(col("word")))
      // interior cut string -> boundary array -> pieces. The empty-cuts
      // (single-piece) row needs the if(): sequence(1, 0) in Spark is
      // DESCENDING [1, 0], not empty — the garbage branch is computed
      // but discarded, and substr/cast never throw on it.
      .withColumn("bounds", expr(
        "concat(array(0), " +
          "if(length(cuts) = 0, cast(array() as array<int>), " +
          "transform(sequence(1, length(cuts) div 2), k -> cast(substr(cuts, 2*k - 1, 2) as int))), " +
          "array(length(word)))"))
      .withColumn("pos", explode(expr("sequence(1, size(bounds) - 1)")))
      .withColumn("piece",
        expr("substr(word, bounds[pos - 1] + 1, bounds[pos] - bounds[pos - 1])"))
      .select(col("word"), col("wc"), col("pos"), col("piece"))
  }

  /** The trained final vocabulary `(piece, cnt)` — seed, then one
    * (segment → recount → prune) round per Caps entry; single chars
    * are never pruned (coverage guarantee), multi-char pieces keep the
    * top `cap` by usage. Memoized per (JVM, input dir). */
  private def sharedVocab(s: SparkSession, d: String): DataFrame =
    Staging.frame(s, "ug_vocab", d) {
      trainVocab(sharedWfreq(s, d), sharedOcc(s, d))
    }

  /** The trainer proper — a pure function of the distinct-word count
    * table (occ is itself derived from it): seed, then one
    * (segment → recount → prune) round per Caps entry. Parameterized
    * (round 19) so `unigram_counts_roll` can retrain from MERGED
    * counts and land on the judged rebuild oracle. */
  private def trainVocab(wf: DataFrame, occ: DataFrame): DataFrame = {
      val counts = occ.groupBy(col("piece")).agg(sum(col("wc")).as("cnt"))
      val chars = counts.filter(length(col("piece")) === 1)
      val seed = chars.union(
        counts.filter(length(col("piece")) >= 2)
          .orderBy(col("cnt").desc, col("piece")).limit(SeedMulti))
      Caps.foldLeft(seed.localCheckpoint(true)) { (vocab, cap) =>
        val usage = segment(wf, occ, vocab)
          .groupBy(col("piece")).agg(sum(col("wc")).as("usage"))
        val charsNext = chars.select(col("piece"))
          .join(usage, Seq("piece"), "left")
          .select(col("piece"), coalesce(col("usage"), lit(0L)).as("cnt"))
        val multiNext = usage.filter(length(col("piece")) >= 2)
          .orderBy(col("usage").desc, col("piece")).limit(cap)
          .select(col("piece"), col("usage").as("cnt"))
        charsNext.union(multiNext).localCheckpoint(true)
      }
  }

  /** Final-vocabulary segmentation of every distinct word — the
    * deployment artifact `text_unigram_tokenize` serves from (the
    * text_bpe_tokenize discipline: the corpus pays ONE broadcast join
    * on the word; the token stream never re-runs Viterbi). */
  private def sharedFinalSeg(s: SparkSession, d: String): DataFrame =
    Staging.frame(s, "ug_seg", d) {
      segment(sharedWfreq(s, d), sharedOcc(s, d), sharedVocab(s, d))
        .localCheckpoint()
    }

  // ---- oracle (generated from the same constants — cannot drift).
  // The oracle deliberately uses a DIFFERENT algorithm: exhaustive
  // recursive-CTE enumeration of every segmentation, ranked by the
  // same total order. Its cut strings append the (constant-per-word)
  // final boundary that the engine's interior-only encoding omits —
  // equal piece counts give equal-length strings with identical last
  // segment, so the two tie-breaks decide identically.

  private def wfreqSql: String = raw"""
wfreq AS (
  SELECT word, CAST(count(*) AS BIGINT) AS wc FROM (
    SELECT unnest(string_split_regex(lower(trim(text)), '[ \t\n\x0B\f\r]+')) AS word FROM documents) t
  WHERE word <> '' GROUP BY word),
s1 AS (SELECT word, wc, CAST(unnest(range(1, length(word) + 1)) AS INT) AS i FROM wfreq),
s2 AS (SELECT word, wc, i, CAST(unnest(range(1, $MaxPiece + 1)) AS INT) AS l FROM s1),
occ AS (SELECT word, wc, i - 1 AS f, i - 1 + l AS t, substr(word, i, l) AS piece
        FROM s2 WHERE i + l - 1 <= length(word)),
subc AS (SELECT piece, CAST(sum(wc) AS BIGINT) AS cnt FROM occ GROUP BY 1),
chars0 AS (SELECT piece FROM subc WHERE length(piece) = 1),
vm0 AS (SELECT piece, cnt FROM subc WHERE length(piece) >= 2 ORDER BY cnt DESC, piece LIMIT $SeedMulti),
v0 AS (SELECT piece, cnt FROM subc WHERE length(piece) = 1 UNION ALL SELECT piece, cnt FROM vm0)"""

  /** One segmentation pass (edges under v{r-1}, exhaustive path
    * enumeration, rank-1 pick, piece explode) as CTEs e/p/best/bseq/
    * pieces suffixed `r`. */
  private def segSql(r: Int): String = raw"""
e$r AS (SELECT o.word, o.wc, o.f, o.t, v.cnt FROM occ o JOIN v${r - 1} v USING (piece)),
p$r AS (
  SELECT word, wc, t AS pos, 1 AS np, cnt AS sc, lpad(CAST(t AS VARCHAR), 2, '0') AS cuts
  FROM e$r WHERE f = 0
  UNION ALL
  SELECT p.word, p.wc, e.t, p.np + 1, p.sc + e.cnt, p.cuts || lpad(CAST(e.t AS VARCHAR), 2, '0')
  FROM p$r p JOIN e$r e ON e.word = p.word AND e.f = p.pos),
best$r AS (SELECT word, wc, cuts FROM p$r WHERE pos = length(word)
           QUALIFY row_number() OVER (PARTITION BY word ORDER BY np, sc DESC, cuts) = 1),
bseq$r AS (SELECT word, wc,
             [0] || [CAST(substr(cuts, 2 * k + 1, 2) AS INT) for k in range(0, length(cuts) // 2)] AS b
           FROM best$r),
pieces$r AS (SELECT word, wc, substr(word, b[k] + 1, b[k + 1] - b[k]) AS piece
             FROM (SELECT word, wc, b, CAST(unnest(range(1, len(b))) AS INT) AS k FROM bseq$r) t)"""

  private def vocabSql(r: Int, cap: Int): String = raw"""
usage$r AS (SELECT piece, CAST(sum(wc) AS BIGINT) AS usage FROM pieces$r GROUP BY 1),
vm$r AS (SELECT piece, usage AS cnt FROM usage$r WHERE length(piece) >= 2 ORDER BY usage DESC, piece LIMIT $cap),
v$r AS (SELECT c.piece, CAST(COALESCE(u.usage, 0) AS BIGINT) AS cnt
        FROM chars0 c LEFT JOIN usage$r u ON u.piece = c.piece
        UNION ALL SELECT piece, cnt FROM vm$r)"""

  private val R = Caps.length

  /** Shared chain: seed + R (segment, recount, prune) rounds. */
  private def chainSql: String =
    "WITH RECURSIVE " + wfreqSql + "," +
      Caps.zipWithIndex.map { case (cap, i) =>
        segSql(i + 1) + "," + vocabSql(i + 1, cap)
      }.mkString(",")

  /** The trained-piece-table oracle, shared VERBATIM by
    * `text_unigram_train` and `unigram_counts_roll` — the roll's
    * exactness claim IS that retraining from merged counts lands on
    * the from-scratch-trained vocabulary. */
  private def trainOracle: String = chainSql + raw"""
      SELECT piece, CAST(length(piece) AS BIGINT) AS n_chars, cnt AS usage,
             CAST(row_number() OVER (ORDER BY cnt DESC, piece) AS BIGINT) AS rank
      FROM v$R ORDER BY rank"""

  private def rankedVocab(vocab: DataFrame): DataFrame =
    vocab
      .select(col("piece"), length(col("piece")).cast("long").as("n_chars"),
        col("cnt").as("usage"))
      .withColumn("rank", row_number().over(
        Window.orderBy(col("usage").desc, col("piece"))).cast("long"))
      .orderBy(col("rank"))

  /** The PERSISTED day-1 word-count artifact (standing corpus slice,
    * doc_id % 10 ≠ 0) — the sufficient statistic the counts roll
    * folds into. Returns the path. */
  private[graft] def day1Counts(s: SparkSession, d: String): String =
    Staging.persist(s, "ugcnt_day1", d) {
      SharedText.tokenized(s, d)
        .filter(pmod(col("doc_id"), lit(10L)) =!= 0)
        .select(explode(col("w")).as("word"))
        .filter(col("word") =!= "")
        .groupBy(col("word")).agg(count(lit(1)).as("wc"))
    }

  /** The rolled-and-retrained vocabulary: day-2 counts folded into the
    * persisted day-1 artifact (one vocab-sized sum — counts are a
    * commutative monoid, so merged == from-scratch EXACTLY), the
    * merged table persisted and RE-READ, the trainer re-run over it.
    * Memoized per JVM (a nightly roll is one op; serve-many). */
  private def rolledVocab(s: SparkSession, d: String): DataFrame =
    Staging.frame(s, "ug_vocab_rolled", d) {
      val day2 = SharedText.tokenized(s, d)
        .filter(pmod(col("doc_id"), lit(10L)) === 0)
        .select(explode(col("w")).as("word"))
        .filter(col("word") =!= "")
        .groupBy(col("word")).agg(count(lit(1)).as("wc"))
      val mergedPath = Staging.persist(s, "ugcnt_merged", d) {
        Staging.read(s, day1Counts(s, d))
          .unionByName(day2)
          .groupBy(col("word")).agg(sum(col("wc")).as("wc"))
      }
      val wf = Staging.read(s, mergedPath).localCheckpoint()
      trainVocab(wf, occOf(wf).localCheckpoint())
    }

  val defs: Seq[QueryDef] = Seq(

    // The trained piece table — the artifact a production tokenizer
    // build persists (piece, length, final usage, rank). The rank
    // window is global but the frame is the bounded vocabulary
    // (≤ chars + 16 rows) — broadcast-small at any corpus size.
    QueryDef("text_unigram_train", Some(trainOracle)) { (s, d) =>
      rankedVocab(sharedVocab(s, d))
    },

    /** Tokenizer-family MAINTENANCE (round-18 verdict task 6) — the
      * one tokenizer trainer with mergeable sufficient statistics,
      * given its online roll: the trainer is a pure function of the
      * distinct-word count table, and counts form a commutative
      * monoid, so the nightly roll folds the day's word counts
      * (O(batch) — ONE aggregate over arrivals, one vocab-sized merge
      * with the persisted day-1 artifact; the standing corpus is
      * never re-scanned) and retrains over the merged Heaps-law-small
      * table. The oracle is `text_unigram_train`'s VERBATIM
      * from-scratch form, so the hash gates merge exactness through
      * the ENTIRE trainer (seed, both EM rounds, pruning, ranking) —
      * a dropped day-2 word, a double-fold, or an append-mode log all
      * shift some count and break the trained artifact. BPE and
      * WordPiece deliberately get NO such roll: BPE merges are
      * order-dependent in trained state (not mergeable), so their
      * honest policy is retrain-on-cadence + serve frozen — cheap
      * because trainer cost rides distinct words (Heaps-law ×100
      * exponents 0.05–0.10, PLANS.md), stated in SURVEY §8. */
    QueryDef("unigram_counts_roll", Some(trainOracle)) { (s, d) =>
      rankedVocab(rolledVocab(s, d))
    },

    // Corpus tokenization with the trained unigram vocabulary — the
    // deployment half: per-distinct-word piece counts from the final
    // Viterbi segmentation, then ONE broadcast equi-join on the word
    // (the text_bpe_tokenize shape — tokenizing 100 TB is a map-side
    // pass because the word→pieces map is Heaps-law small). Training,
    // segmentation, AND the deployment join all sit inside this
    // query's hash gate.
    QueryDef("text_unigram_tokenize", Some(chainSql + "," + segSql(R + 1) + raw""",
      wseg AS (SELECT word, CAST(count(*) AS BIGINT) AS n_sub FROM pieces${R + 1} GROUP BY 1),
      toks AS (SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '[ \t\n\x0B\f\r]+')) AS word FROM documents),
      j AS (SELECT t.doc_id, w.n_sub FROM toks t JOIN wseg w ON w.word = t.word WHERE t.word <> '')
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words, CAST(sum(n_sub) AS BIGINT) AS n_pieces
      FROM j GROUP BY doc_id ORDER BY doc_id""")) { (s, d) =>
      val wseg = sharedFinalSeg(s, d)
        .groupBy(col("word")).agg(count(lit(1)).as("n_sub"))
      SharedText.tokenized(s, d)
        .select(col("doc_id"), explode(col("w")).as("word"))
        .filter(col("word") =!= "")
        .join(broadcast(wseg), Seq("word"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_words"), sum(col("n_sub")).as("n_pieces"))
        .orderBy(col("doc_id"))
    },
  )
}
