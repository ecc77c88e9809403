package graft.queries

import graft.Tables
import graft.functions.TextFunctions._
import graft.functions.VectorFunctions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sparse retrieval over the documents corpus — the lexical-search
  * complement of the dense (`sim_*`) family: a training-data pipeline
  * ranks documents against probe queries for targeted curation,
  * retrieval-based dedup audits, and eval-set mining.
  *
  * BM25 (Robertson et al., TREC-3 Okapi) is scored in EXACT fixed-point
  * integer arithmetic so the ranking is bit-deterministic and fully
  * oracle-checkable (the repo's ppm discipline, same as
  * `graph_pagerank`): the idf log is replaced by its Robertson-
  * Sparck-Jones rational core w = (N − df + ½)/(df + ½) scaled to ppm
  * with truncating division — order-equivalent to the log form for
  * ranking within a term (monotone), and every division point is
  * mirrored operation-for-operation in the DuckDB oracle, so scores
  * match to the last integer. k1 = 1.2 and b = 0.75 enter as integer
  * centi-constants (120, 75); no floats anywhere.
  *
  * Scale shape: the query term list is tiny and broadcasts; tf/df/dl
  * are one map-side-combined aggregate pass each over the exploded
  * token stream; the per-(query, doc) score aggregates only MATCHED
  * postings (the semi-join against the broadcast term list prunes the
  * stream before any shuffle); top-10 per query is a row_number
  * window that plans as WindowGroupLimit — per-query state is O(10).
  * Int64 headroom: idf_ppm ≤ 1e6·(2N+1) and the term numerator
  * multiplies by tf·22000 — exact to N ≈ 4e5 corpora at fixture tf;
  * production at larger N drops the ppm scale a decade per 10× N
  * (the ranking only needs the RATIO precision, not the magnitude).
  *
  * `retrieval_hybrid_rrf` adds the fusion every production
  * retrieval stack runs on top: reciprocal-rank fusion (Cormack et al.,
  * SIGIR'09) of the sparse BM25 ranking with a dense exact-cosine
  * ranking for the same probe ids.
  */
object RetrievalQueries {

  /** Probe queries over the fixture vocabulary: (query_id, term). */
  private val bmQueries: Seq[(Long, String)] = Seq(
    0L -> "hash", 0L -> "join", 0L -> "table",
    1L -> "scan", 1L -> "filter", 1L -> "batch",
    2L -> "sort", 2L -> "merge", 2L -> "spark")

  private def bmQueriesSql: String =
    bmQueries.map { case (q, t) => s"($q, '$t')" }.mkString(", ")

  /** The shared BM25 CTE chain, ending in `r(query_id, doc_id,
    * score_ppm, rnk)` — consumed verbatim by `text_bm25_topk` and the
    * hybrid fusion's sparse leg (one copy, cannot drift). */
  private def bm25ChainSql: String = bm25ChainSqlWhere("TRUE")

  /** The chain with a parameterized corpus slice — the index delete
    * roll's rebuild oracle scores over survivors only; everything
    * downstream of `tok` is shared verbatim. */
  private def bm25ChainSqlWhere(where: String): String = s"""
      WITH tok AS (SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '[ \\t\\n\\x0B\\f\\r]+')) AS term
                   FROM documents WHERE $where),
      dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY 1),
      stats AS (SELECT count(*) AS n_docs, sum(dl) AS total_len FROM dl),
      tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
      q(query_id, term) AS (VALUES $bmQueriesSql),
      dfq AS (SELECT t.term, count(*) AS df
              FROM tf t JOIN (SELECT DISTINCT term FROM q) s ON s.term = t.term
              GROUP BY 1),
      posting AS (SELECT q.query_id, t.doc_id, t.tf, d.df, l.dl, st.n_docs, st.total_len
                  FROM q JOIN tf t ON t.term = q.term
                  JOIN dfq d ON d.term = q.term
                  JOIN dl l ON l.doc_id = t.doc_id, stats st),
      term_scores AS (SELECT query_id, doc_id, tf,
                        (1000000 * (2 * (n_docs - df) + 1)) // (2 * df + 1) AS idf_ppm,
                        25 + (75 * dl * n_docs) // total_len AS bracket_c
                      FROM posting),
      sc AS (SELECT query_id, doc_id,
               sum((idf_ppm * tf * 22000) // (10000 * tf + 120 * bracket_c)) AS score_ppm
             FROM term_scores GROUP BY 1, 2),
      r AS (SELECT query_id, doc_id, score_ppm,
              row_number() OVER (PARTITION BY query_id ORDER BY score_ppm DESC, doc_id) AS rnk
            FROM sc)"""

  /** The shared Spark-side BM25 ranking `(query_id, doc_id, score_ppm,
    * rnk)`, top-10 per query — `text_bm25_topk`'s body, also the
    * hybrid's sparse leg. */
  private def bm25TopK(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // ONE derivation path with the index lifecycle (indexComponents):
    // the persisted/append/delete gates are bit-exact equalities
    // against this corpus-direct plan, so the statistics must come
    // from literally the same code. The full-vocab df is unused
    // lineage here (never evaluated); the direct path restricts df to
    // query terms BEFORE the aggregate instead.
    // tf checkpoints because FOUR consumers (dfq, posting, dl, stats)
    // would otherwise each re-run the tokenize+count subtree — the
    // plan would carry 4 identical (doc_id, term) exchanges; at any
    // corpus size that is 4 corpus passes where 1 suffices.
    val (tf, dl, _, stats) = indexComponents(
      Tables.documents(s, d), checkpoint = true)
    val q = bmQueries.toDF("query_id", "term")
    val dfq = tf.join(broadcast(q.select("term").distinct()), Seq("term"))
      .groupBy("term").agg(count(lit(1)).as("df"))
    scorePostings(q, tf, dfq, dl, stats)
  }

  /** The shared scoring tail over assembled index components — the
    * exact fixed-point kernel, one copy for the corpus-direct path and
    * every index-lifecycle serve. `dfq` must already be restricted (or
    * restrictable by the join) to query terms; `tf`/`dl` cover the
    * standing docs; `stats` is one (n_docs, total_len) row. */
  private def scorePostings(q: DataFrame, tf: DataFrame, dfq: DataFrame,
      dl: DataFrame, stats: DataFrame): DataFrame = {
    val posting = broadcast(q).join(tf, Seq("term"))
      .join(broadcast(dfq), Seq("term"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(stats))
    val scored = posting
      .withColumn("idf_ppm",
        expr("(1000000 * (2 * (n_docs - df) + 1)) div (2 * df + 1)"))
      .withColumn("bracket_c", expr("25 + (75 * dl * n_docs) div total_len"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(expr("(idf_ppm * tf * 22000) div (10000 * tf + 120 * bracket_c)"))
        .as("score_ppm"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score_ppm").desc, col("doc_id"))
    scored.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 10)
      .select(col("query_id"), col("doc_id"), col("score_ppm"), col("rnk"))
  }

  /** The PERSISTED inverted-index components of one corpus slice —
    * postings `tf(doc_id, term, tf)`, doc lengths `dl(doc_id, dl)`,
    * FULL-vocabulary document frequencies `df(term, df)`, and the one-
    * row corpus stats — every one an exact COUNT, so the index is a
    * group under addition: slices merge by union-and-sum and tombstones
    * subtract, both bit-exactly (no caps, no prunes — unlike the
    * MinHash/containment indexes, this family's whole lifecycle gates
    * as equalities). */
  private def indexComponents(docs: DataFrame, checkpoint: Boolean = false)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val tf0 = tfOf(docs)
    // optionally materialize the postings once so the three derived
    // components re-read them instead of re-tokenizing the corpus
    // (values unchanged — every component is an exact count off tf)
    val tf = if (checkpoint) tf0.localCheckpoint() else tf0
    val (dl, df, stats) = componentsFromTf(tf)
    (tf, dl, df, stats)
  }

  /** The one tokenize-and-count derivation of a postings frame —
    * shared by the corpus-direct path, the persisted builds, and the
    * roll slices (the gates are bit-exact equalities across them, so
    * there must be exactly one copy of this expression). */
  /** `stream_bm25_index_append`'s per-trigger body — named so
    * FoldReplaySpec can re-execute it with a committed batch id and
    * assert the index unchanged (the foreachBatch replay contract):
    * postings/doc-lengths write to batch-id-keyed dirs, and the
    * vocab-sized df + one-row stats roll forward as VERSIONS
    * (v_{id+1} = v_id + counts(batch)) — a replay re-reads the
    * committed v_id and overwrites v_{id+1} with identical content,
    * so even the read-modify-write half converges. */
  private[graft] def bm25AppendLogBatch(d: String, b: DataFrame, id: Long): Unit = {
    val root = graft.Staging.dir("bm25app", d)
    val ss = b.sparkSession
    val tfB = tfOf(b)
    tfB.write.mode("overwrite").parquet(s"$root/tf_b$id")
    // derive from the batch postings JUST WRITTEN (identical exact
    // counts): one tokenize pass per trigger instead of four
    val (dlB, dfB, statsB) = componentsFromTf(ss.read.parquet(s"$root/tf_b$id"))
    dlB.write.mode("overwrite").parquet(s"$root/dl_b$id")
    ss.read.parquet(s"$root/v$id/df").unionByName(dfB)
      .groupBy("term").agg(sum("df").as("df"))
      .write.mode("overwrite").parquet(s"$root/v${id + 1}/df")
    ss.read.parquet(s"$root/v$id/stats").unionByName(statsB)
      .agg(sum("n_docs").as("n_docs"), sum("total_len").as("total_len"))
      .write.mode("overwrite").parquet(s"$root/v${id + 1}/stats")
    ()
  }

  private def tfOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))

  /** The derived components off a postings frame — dl is the per-doc
    * tf sum (= token count), df the per-term posting count, stats the
    * one-row corpus totals. Derivations are exact counts, so deriving
    * from a checkpointed tf equals deriving from the docs. */
  private def componentsFromTf(tf: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    val dl = tf.groupBy("doc_id").agg(sum("tf").as("dl"))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val stats = dl.agg(count(lit(1)).as("n_docs"), sum("dl").as("total_len"))
    (dl, df, stats)
  }

  /** One slice's postings as a JVM-memoized checkpoint — the O(batch)
    * pass the append/delete rolls pay once (day-2 arrivals, tombstone
    * docs); dl/df/stats derive from it without re-reading the docs. */
  private def slicedTf(s: SparkSession, d: String, key: String, where: Column): DataFrame =
    graft.Staging.frame(s, key, d) {
      tfOf(Tables.documents(s, d).filter(where)).localCheckpoint()
    }

  /** Index artifact root for a slice, built and PERSISTED once per
    * (JVM, dir): `full` (the standing corpus — base of the delete
    * roll) or `day1` (even doc_id — base of the append roll). Four
    * parquets under one root. */
  private[graft] def sharedBm25Index(s: SparkSession, d: String, slice: String): String =
    graft.Staging.onceDir(s, s"bm25idx_$slice", d) { p =>
      val base = Tables.documents(s, d)
      val docs = slice match {
        case "full" => base
        case "day1" => base.filter(pmod(col("doc_id"), lit(2L)) === 0)
        case other  => throw new IllegalArgumentException(s"unknown index slice $other")
      }
      val tf = tfOf(docs)
      // postings land clustered + sorted by term so a probe's
      // In(term, …) predicate prunes row groups off min/max stats —
      // the layout that makes serve cost O(matched postings), not
      // O(index), at any corpus size (the production posting-list
      // locality an inverted index exists for)
      tf.repartition(8, col("term")).sortWithinPartitions("term")
        .write.mode("overwrite").parquet(s"$p/tf")
      // dl/df/stats derive from the postings JUST WRITTEN (exact
      // counts off tf — identical values): one tokenize pass per
      // build instead of four (one explode+count subtree per derived
      // component)
      val (dl, df, stats) = componentsFromTf(docs.sparkSession.read.parquet(s"$p/tf"))
      dl.write.mode("overwrite").parquet(s"$p/dl")
      df.write.mode("overwrite").parquet(s"$p/df")
      stats.write.mode("overwrite").parquet(s"$p/stats")
    }

  /** Read back one artifact root's four components. */
  private def readIndex(s: SparkSession, root: String): (DataFrame, DataFrame, DataFrame, DataFrame) = (
    graft.Staging.read(s, s"$root/tf"), graft.Staging.read(s, s"$root/dl"),
    graft.Staging.read(s, s"$root/df"), graft.Staging.read(s, s"$root/stats"))

  /** Serve the probe queries from index components. The probe terms
    * are pushed as an explicit In() predicate on the postings (and the
    * vocab-sized df) so the scan itself prunes — with the artifact's
    * term-sorted layout, row groups without a probe term never read;
    * the filter is semantics-preserving (scorePostings' inner join
    * with `q` keeps exactly these terms anyway) and Catalyst pushes it
    * through the append roll's union to both sides. */
  private def serveFromComponents(s: SparkSession,
      tf: DataFrame, dl: DataFrame, df: DataFrame, stats: DataFrame): DataFrame = {
    import s.implicits._
    val q = bmQueries.toDF("query_id", "term")
    val terms = bmQueries.map(_._2).distinct
    val dfq = df.filter(col("term").isin(terms: _*))
    scorePostings(q, tf.filter(col("term").isin(terms: _*)), dfq, dl, stats)
  }

  /** Tombstone residue of the index delete roll: doc_id ≡ 11 (mod 20),
    * a 5% slice of the standing corpus. */
  private[graft] val Bm25TombMod = 20L
  private[graft] val Bm25TombRes = 11L

  val defs: Seq[QueryDef] = Seq(

    QueryDef("text_bm25_topk", Some(bm25ChainSql + """
      SELECT CAST(query_id AS BIGINT) AS query_id, doc_id,
             CAST(score_ppm AS BIGINT) AS score_ppm, CAST(rnk AS BIGINT) AS rnk
      FROM r WHERE rnk <= 10 ORDER BY query_id, rnk""")) { (s, d) =>
      bm25TopK(s, d).orderBy(col("query_id"), col("rnk"))
    },

    /** The PERSISTED inverted index — BM25 joins the maintained-
      * artifact roster as the fifth index family (MinHash, containment,
      * IVFPQ, bloom, and now the sparse-retrieval index): postings,
      * doc lengths, full-vocabulary df, and corpus stats persist ONCE
      * to parquet, and the probe queries serve from the RE-READ
      * components — artifact serialization inside the hash gate, which
      * is `text_bm25_topk`'s oracle VERBATIM (serving from the index
      * must reproduce scoring from the corpus to the last integer).
      * At 100 TB the query path never touches the corpus: broadcast
      * terms semi-join the postings, df/stats are vocab-sized reads. */
    QueryDef("retrieval_bm25_persisted", Some(bm25ChainSql + """
      SELECT CAST(query_id AS BIGINT) AS query_id, doc_id,
             CAST(score_ppm AS BIGINT) AS score_ppm, CAST(rnk AS BIGINT) AS rnk
      FROM r WHERE rnk <= 10 ORDER BY query_id, rnk""")) { (s, d) =>
      val (tf, dl, df, stats) = readIndex(s, sharedBm25Index(s, d, "full"))
      serveFromComponents(s, tf, dl, df, stats).orderBy(col("query_id"), col("rnk"))
    },

    /** Index APPEND — the nightly roll: day-2 (odd doc_id) postings
      * are one O(batch) pass; they fold into the RE-READ day-1
      * artifact by plain union (postings and lengths are doc-disjoint
      * rows — at 100 TB the roll APPENDS new posting files under tf/
      * and rewrites only the vocab-sized df and the one-row stats) and
      * plain integer addition (df, stats — exact counts, the group
      * algebra). Because every component is a count, merge == rebuild
      * with NO carve-outs — unlike the MinHash roll (bucket cap) and
      * the containment roll (df prune), this gate is `text_bm25_topk`'s
      * full-corpus oracle VERBATIM: append(index(day1), day2) ==
      * index(day1 ∪ day2), end-to-end through the serve. */
    QueryDef("retrieval_bm25_index_append", Some(bm25ChainSql + """
      SELECT CAST(query_id AS BIGINT) AS query_id, doc_id,
             CAST(score_ppm AS BIGINT) AS score_ppm, CAST(rnk AS BIGINT) AS rnk
      FROM r WHERE rnk <= 10 ORDER BY query_id, rnk""")) { (s, d) =>
      val (tf1, dl1, df1, stats1) = readIndex(s, sharedBm25Index(s, d, "day1"))
      val tf2 = slicedTf(s, d, "bm25_tf2", pmod(col("doc_id"), lit(2L)) === 1)
      val (dl2, df2, stats2) = componentsFromTf(tf2)
      val dfM = df1.unionByName(df2)
        .groupBy("term").agg(sum("df").as("df"))
      val statsM = stats1.unionByName(stats2)
        .agg(sum("n_docs").as("n_docs"), sum("total_len").as("total_len"))
      serveFromComponents(s, tf1.unionByName(tf2), dl1.unionByName(dl2), dfM, statsM)
        .orderBy(col("query_id"), col("rnk"))
    },

    /** STREAMING index append — the ONLINE half of the append roll
      * (stream_lm_forget's artifact-mutation shape, with addition in
      * place of subtraction, and the posting-file layout a real
      * inverted index rolls with): day-2 documents arrive as a real
      * file-source stream in two micro-batches; each foreachBatch
      * writes its batch's postings to a BATCH-KEYED dir (tf_b<id> —
      * overwrite-mode, so replays are idempotent and the standing
      * postings are never rewritten, the "append posting FILES" story
      * made literal) and rolls the vocab-sized df + one-row stats
      * forward as versions (v_{id+1} = v_id + counts(batch)). Count
      * addition is associative and commutative, so the final index
      * provably cannot depend on the micro-batching — and the gate
      * proves it: the serve off day-1 ∪ all batch dirs with the final
      * version's df/stats shares `text_bm25_topk`'s full-corpus
      * oracle VERBATIM. */
    QueryDef("stream_bm25_index_append", Some(bm25ChainSql + """
      SELECT CAST(query_id AS BIGINT) AS query_id, doc_id,
             CAST(score_ppm AS BIGINT) AS score_ppm, CAST(rnk AS BIGINT) AS rnk
      FROM r WHERE rnk <= 10 ORDER BY query_id, rnk""")) { (s, d) =>
      import graft.streaming.OnlineFold
      val day1 = sharedBm25Index(s, d, "day1")
      val root = OnlineFold.freshRoot(s, "bm25app", d)
      // v0: the day-1 statistics are this roll's base version — a
      // straight FILE copy of the day-1 parquet (identical bytes,
      // no Spark job)
      graft.Staging.copyTree(s, s"$day1/df", s"$root/v0/df")
      graft.Staging.copyTree(s, s"$day1/stats", s"$root/v0/stats")
      // the arrival stream: day-2 (odd doc_id) docs, two micro-batches
      val inTmpl = OnlineFold.stage(s, "bm25app_in", d) {
        val arrivals = Tables.documents(s, d)
          .filter(pmod(col("doc_id"), lit(2L)) === 1)
          .select(col("doc_id"), col("text"))
        Seq(arrivals.filter(pmod(col("doc_id"), lit(4L)) === 1),
            arrivals.filter(pmod(col("doc_id"), lit(4L)) === 3))
      }
      OnlineFold.drain(s, root, inTmpl)(bm25AppendLogBatch(d, _, _))
      val tfAll = graft.Staging.read(s, s"$day1/tf").unionByName(
        OnlineFold.readLogs(s, s"$root/tf_b*", "doc_id LONG, term STRING, tf LONG"))
      val dlAll = graft.Staging.read(s, s"$day1/dl").unionByName(
        OnlineFold.readLogs(s, s"$root/dl_b*", "doc_id LONG, dl LONG"))
      serveFromComponents(s, tfAll, dlAll,
        s.read.parquet(s"$root/v2/df"), s.read.parquet(s"$root/v2/stats"))
        .orderBy(col("query_id"), col("rnk"))
    },

    /** Index DELETE — the sparse index's right-to-be-forgotten roll,
      * EXACT like the IVFADC and LM rolls (and unlike the capped
      * MinHash / df-pruned containment rolls): tombstoned docs
      * (doc_id ≡ 11 mod 20) leave by one broadcast anti-join on the
      * re-read postings and lengths — O(tombstones) to compute the
      * deltas, the artifact never rewritten — while df and stats
      * SUBTRACT the tombstone docs' own counts (one O(tombstones)
      * pass; a term whose last posting leaves drops to df = 0 and
      * vanishes exactly as a rebuild never sees it). idf and the
      * length normalizer re-derive from the subtracted statistics, so
      * every surviving score shifts exactly as a full rebuild over
      * survivors shifts it — the oracle retrains on the survivor
      * slice and the gate is an EQUALITY, no directional carve-out. */
    QueryDef("retrieval_bm25_index_delete", Some(
      bm25ChainSqlWhere(s"doc_id % $Bm25TombMod <> $Bm25TombRes") + """
      SELECT CAST(query_id AS BIGINT) AS query_id, doc_id,
             CAST(score_ppm AS BIGINT) AS score_ppm, CAST(rnk AS BIGINT) AS rnk
      FROM r WHERE rnk <= 10 ORDER BY query_id, rnk""")) { (s, d) =>
      val (tfF, dlF, dfF, statsF) = readIndex(s, sharedBm25Index(s, d, "full"))
      val tombTf = slicedTf(s, d, "bm25_tft",
        pmod(col("doc_id"), lit(Bm25TombMod)) === Bm25TombRes)
      val tombIds = tombTf.select("doc_id").distinct()
      val (_, dfT, statsT) = componentsFromTf(tombTf)
      val tfS = tfF.join(broadcast(tombIds), Seq("doc_id"), "left_anti")
      val dlS = dlF.join(broadcast(tombIds), Seq("doc_id"), "left_anti")
      val dfS = dfF.unionByName(dfT.select(col("term"), negate(col("df")).as("df")))
        .groupBy("term").agg(sum("df").as("df")).filter(col("df") > 0)
      val statsS = statsF.unionByName(statsT.select(
          negate(col("n_docs")).as("n_docs"), negate(col("total_len")).as("total_len")))
        .agg(sum("n_docs").as("n_docs"), sum("total_len").as("total_len"))
      serveFromComponents(s, tfS, dlS, dfS, statsS)
        .orderBy(col("query_id"), col("rnk"))
    },

    /** HYBRID sparse+dense retrieval via reciprocal-rank fusion
      * (Cormack, Clarke & Büttcher, SIGIR'09 — the fusion running in
      * essentially every production "hybrid search" stack, and in a
      * training-data pipeline the recipe for targeted curation probes
      * that must catch BOTH lexical matches BM25 sees and paraphrases
      * only the embedding space sees). Each probe id q ∈ {0,1,2}
      * carries a term list (the BM25 queries) AND a probe embedding
      * (vec_id = q — the fixture keys embeddings and documents by the
      * same corpus id); leg 1 is the shared BM25 top-10, leg 2 the
      * exact-cosine top-10 of the probe vector over the whole corpus
      * (self included — a probe document legitimately retrieves
      * itself). RRF score = Σ_legs 1e6 div (60 + rank), the paper's
      * k = 60, in EXACT integers (ranks are bit-deterministic in both
      * engines, so the fused ranking is too — no IEEE anywhere past
      * the cosine window's tie-broken row_number). Docs surfaced by
      * one leg only score that leg's term (standard top-k RRF); the
      * judged output keeps both per-leg ranks (nullable) so the
      * lineage shows WHY each doc surfaced.
      *
      * Scale shape: both legs are already judged broadcast shapes
      * (terms broadcast + matched-postings aggregate; probe vectors
      * broadcast + one corpus pass with a WindowGroupLimit top-k);
      * fusion itself touches two ≤ k·|queries|-row frames — a
      * broadcast-trivial full outer join however large the corpus. */
    QueryDef("retrieval_hybrid_rrf", Some(bm25ChainSql + """,
      sr AS (SELECT query_id, doc_id, rnk FROM r WHERE rnk <= 10),
      ev AS (SELECT vec_id,
               list_transform(CAST(embedding AS DOUBLE[]), x -> CAST(round(x * 1000000) AS BIGINT)) AS q
             FROM embeddings),
      en AS (SELECT vec_id, q, list_sum(list_transform(list_zip(q, q), s -> s[1] * s[2])) AS n2 FROM ev),
      dqv AS (SELECT vec_id AS query_id, q AS qq, n2 AS qn2 FROM en WHERE vec_id < 3),
      dp AS (SELECT dqv.query_id, en.vec_id AS doc_id,
               CAST(list_sum(list_transform(list_zip(dqv.qq, en.q), s -> s[1] * s[2])) AS DOUBLE)
                 / (sqrt(CAST(dqv.qn2 AS DOUBLE)) * sqrt(CAST(en.n2 AS DOUBLE))) AS cosine
             FROM dqv, en),
      dr AS (SELECT query_id, doc_id, rnk FROM
               (SELECT query_id, doc_id,
                  row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, doc_id) AS rnk
                FROM dp)
             WHERE rnk <= 10),
      fused AS (SELECT query_id, doc_id,
                  COALESCE(1000000 // (60 + sr.rnk), 0) + COALESCE(1000000 // (60 + dr.rnk), 0) AS rrf_ppm,
                  sr.rnk AS sparse_rnk, dr.rnk AS dense_rnk
                FROM sr FULL JOIN dr USING (query_id, doc_id)),
      fr AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY rrf_ppm DESC, doc_id) AS rnk
             FROM fused)
      SELECT CAST(query_id AS BIGINT) AS query_id, doc_id,
             CAST(rrf_ppm AS BIGINT) AS rrf_ppm,
             CAST(sparse_rnk AS BIGINT) AS sparse_rnk,
             CAST(dense_rnk AS BIGINT) AS dense_rnk,
             CAST(rnk AS BIGINT) AS rnk
      FROM fr WHERE rnk <= 10 ORDER BY query_id, rnk""")) { (s, d) =>
      val sr = bm25TopK(s, d).select(col("query_id"), col("doc_id"),
        col("rnk").as("sparse_rnk"))
      val v = VectorQueries.ivfCorpus(s, d)
      val dqv = v.filter(col("vec_id") < 3)
        .select(col("vec_id").as("query_id"), col("q").as("qq"), col("n2").as("qn2"))
      val dr = VectorQueries.cosineTopK(v.crossJoin(broadcast(dqv))
          .select(col("query_id"), col("vec_id").as("doc_id"),
            cosineFromQ(qdot(col("q"), col("qq")), col("n2"), col("qn2")).as("cosine")),
          "query_id", "doc_id", 10)
        .select(col("query_id"), col("doc_id"), col("rnk").as("dense_rnk"))
      val wF = Window.partitionBy(col("query_id"))
        .orderBy(col("rrf_ppm").desc, col("doc_id"))
      sr.join(dr, Seq("query_id", "doc_id"), "full")
        .withColumn("rrf_ppm", expr(
          "coalesce(1000000 div (60 + sparse_rnk), 0) + coalesce(1000000 div (60 + dense_rnk), 0)"))
        .withColumn("rnk", row_number().over(wF).cast("long"))
        .filter(col("rnk") <= 10)
        .select(col("query_id"), col("doc_id"), col("rrf_ppm"),
          col("sparse_rnk"), col("dense_rnk"), col("rnk"))
        .orderBy(col("query_id"), col("rnk"))
    },
  )
}
