package graft.queries

import graft.Tables
import graft.functions.TextFunctions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Fifth text-pipeline batch: asymmetric containment dedup (the
  * sub-document duplication Jaccard resemblance misses) and a trained
  * bag-of-words classifier — the train→serve statistical-model shape
  * (fastText-style quality/language filters) every production curation
  * stack runs, expressed as pure relational algebra.
  */
object TextQueries5 {

  /** The persisted df-pruned containment posting index `(g, idx_id)`
    * over the standing-corpus slice (doc_id % 5 ≠ 0), written ONCE per
    * JVM — the build-once/serve-many lifecycle artifact
    * `dedup_containment_incremental` probes (the sharedMinhashIndex
    * discipline). Returns the index path. */
  private def sharedContainmentIndex(
      s: org.apache.spark.sql.SparkSession, d: String): String =
    graft.Staging.persist(s, "ctidx_shared", d) {
      val standing = SharedText.shingles3(s, d)
        .filter(pmod(col("doc_id"), lit(5L)) =!= 0)
        .withColumnRenamed("doc_id", "idx_id")
      val kept = standing.groupBy(col("g")).agg(count(lit(1)).as("df"))
        .filter(col("df") <= 10).select(col("g"))
      standing.join(kept, Seq("g"))
    }

  /** The DAY-1 index of the append roll: pruned postings PLUS the
    * full per-shingle df table — the statistic that makes the append
    * EXACT (the delete roll has no subtractable analog because the
    * artifact-true contract there is prune-at-build; here df is
    * stored precisely so the prune can be re-derived over the
    * merged counts). Day-1 = standing ∧ even doc_id. */
  private[graft] def sharedContainmentDay1Index(
      s: org.apache.spark.sql.SparkSession, d: String): String =
    graft.Staging.onceDir(s, "ctidx_day1", d) { p =>
      val day1 = SharedText.shingles3(s, d)
        .filter(pmod(col("doc_id"), lit(5L)) =!= 0 &&
          pmod(col("doc_id"), lit(2L)) === 0)
        .withColumnRenamed("doc_id", "idx_id")
      val df1 = day1.groupBy(col("g")).agg(count(lit(1)).as("df"))
        .localCheckpoint()
      day1.join(df1.filter(col("df") <= 10).select(col("g")), Seq("g"))
        .write.mode("overwrite").parquet(s"$p/postings")
      df1.write.mode("overwrite").parquet(s"$p/df")
    }

  /** The online append's FOLD, shared by the judged query and
    * QueriesSpec's artifact gate: df(day1) ∪ logged per-batch dfs
    * merged (one vocab-sized sum — counts are a commutative monoid,
    * so the micro-batch split provably cannot change the merged
    * table), and the ≤10 prune re-applied over day-1 postings ∪
    * logged postings. Because df only GROWS under append, the result
    * equals the from-scratch standing rebuild row-for-row (the batch
    * append's exactness argument verbatim). */
  private[graft] def containmentAppendFold(
      s: org.apache.spark.sql.SparkSession, d: String,
      postingsLog: org.apache.spark.sql.DataFrame,
      dfLog: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val day1Root = sharedContainmentDay1Index(s, d)
    val dfM = graft.Staging.read(s, s"$day1Root/df").unionByName(dfLog)
      .groupBy("g").agg(sum("df").as("df"))
    graft.Staging.read(s, s"$day1Root/postings").unionByName(postingsLog)
      .join(dfM.filter(col("df") <= 10).select(col("g")), Seq("g"))
  }

  /** The shared batch-probe tail over a containment posting index —
    * one copy for the incremental serve, the delete roll, and the
    * append roll (`dedup_containment_incremental`'s judged block). */
  private def probeContainment(
      s: org.apache.spark.sql.SparkSession, d: String,
      idx: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val batch = SharedText.shingles3(s, d)
      .filter(pmod(col("doc_id"), lit(5L)) === 0)
    val sz = batch.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    val hits = batch.join(idx, Seq("g"))
      .groupBy(col("doc_id"), col("idx_id")).agg(count(lit(1)).as("inter"))
    val scored = hits.join(sz, Seq("doc_id"))
      .filter(col("inter") * 2 >= col("n_sh"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_containers"), min(col("idx_id")).as("first_container"))
    batch.select(col("doc_id")).distinct()
      .join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_containers"), lit(0L)).as("n_containers"),
        col("first_container"),
        col("n_containers").isNotNull.as("is_contained"))
      .orderBy(col("doc_id"))
  }

  /** `dedup_containment_incremental`'s oracle — hoisted so the append
    * roll (whose gate is exactly this rebuild form) shares it
    * verbatim and the two copies cannot drift. */
  private val containmentIncrementalOracle: String = raw"""
      WITH t AS (SELECT doc_id, string_split_regex(lower(trim(text)), '[ \t\n\x0B\f\r]+') AS w FROM documents),
      sh AS (SELECT doc_id, unnest(list_distinct([array_to_string(w[i:i+2], ' ') for i in range(1, len(w) - 1)])) AS g
             FROM t WHERE len(w) >= 3),
      idx0 AS (SELECT doc_id AS idx_id, g FROM sh WHERE doc_id % 5 <> 0),
      keep AS (SELECT g FROM idx0 GROUP BY g HAVING count(*) <= 10),
      idx AS (SELECT idx0.idx_id, idx0.g FROM idx0 JOIN keep USING (g)),
      bat AS (SELECT doc_id, g FROM sh WHERE doc_id % 5 = 0),
      sz AS (SELECT doc_id, count(*) AS n FROM bat GROUP BY 1),
      hits AS (SELECT bat.doc_id, idx.idx_id, count(*) AS inter FROM bat JOIN idx USING (g) GROUP BY 1, 2),
      sc AS (SELECT h.doc_id, CAST(count(*) AS BIGINT) AS n_containers, min(h.idx_id) AS first_container
             FROM hits h JOIN sz ON sz.doc_id = h.doc_id
             WHERE h.inter * 2 >= sz.n GROUP BY 1)
      SELECT b.doc_id, CAST(COALESCE(sc.n_containers, 0) AS BIGINT) AS n_containers,
             sc.first_container, sc.n_containers IS NOT NULL AS is_contained
      FROM (SELECT DISTINCT doc_id FROM bat) b
      LEFT JOIN sc ON sc.doc_id = b.doc_id
      ORDER BY b.doc_id"""

  /** `stream_containment_index_append`'s per-trigger logging body —
    * named so FoldReplaySpec can re-execute it with a committed batch
    * id and assert the logs unchanged (the foreachBatch replay
    * contract): the batch's shingles and its df contribution write to
    * batch-id-keyed dirs in OVERWRITE mode. */
  private[graft] def containmentAppendLogBatch(d: String,
      b: org.apache.spark.sql.DataFrame, id: Long): Unit = {
    val root = graft.Staging.dir("ctsapp", d)
    val sh = SharedText.shinglesOf(b)
      .withColumnRenamed("doc_id", "idx_id")
      .localCheckpoint()   // one shingle pass feeds both logs
    sh.write.mode("overwrite").parquet(s"$root/log/p$id")
    sh.groupBy(col("g")).agg(count(lit(1)).as("df"))
      .write.mode("overwrite").parquet(s"$root/log/df$id")
    ()
  }

  /** `stream_bloom_forget`'s per-trigger logging body — the batch's
    * tombstone fingerprints reduce to ONE counting-bloom sketch
    * written to a batch-id-keyed .bin (full-file overwrite = replay
    * idempotent). */
  private[graft] def bloomForgetLogBatch(s: org.apache.spark.sql.SparkSession,
      d: String, b: org.apache.spark.sql.DataFrame, id: Long): Unit = {
    import graft.operators.CountingBloom
    val root = graft.Staging.dir("cbsforget", d)
    new java.io.File(s"$root/log").mkdirs()
    val tb = CountingBloom.build(
      b.select(col("fp")).as(org.apache.spark.sql.Encoders.STRING),
      bloomExpectedItems(s, d), BloomFpp)
    val out = new java.io.FileOutputStream(
      new java.io.File(s"$root/log", s"b$id.bin"))
    try tb.writeTo(out) finally out.close()
    ()
  }

  /** `stream_bloom_seen`'s per-trigger serve body: bloom-probe the
    * batch against the frozen merged bloom artifact, confirm the
    * bloom-positive rows by an exact fingerprint join against the
    * standing docs, and write every batch doc's is_seen to a
    * batch-id-keyed sink (overwrite = replay idempotent). */
  private[graft] def bloomSeenServeBatch(s: org.apache.spark.sql.SparkSession,
      d: String, b: org.apache.spark.sql.DataFrame, id: Long): Unit = {
    val root = graft.Staging.dir("blserve", d)
    val bc = s.sparkContext.broadcast[graft.operators.BloomProbe](
      new graft.operators.SparkBloomProbe(
        readBloom(sharedBloomIndex(s, d), "current.bloom")))
    val standingFps = Tables.documents(s, d)
      .filter(pmod(col("doc_id"), lit(5L)) =!= 0)
      .select(fingerprint(col("text")).as("fp")).distinct()
    val confirmed = b.filter(graftMightContain(bc, col("fp")))
      .join(standingFps, Seq("fp"), "left_semi")
      .select(col("doc_id")).withColumn("hit", lit(true))
    b.join(confirmed, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("hit"), lit(false)).as("is_seen"))
      .write.mode("overwrite").parquet(s"$root/out/b$id")
  }

  val defs: Seq[QueryDef] = Seq(

    /** CONTAINMENT near-dup detection (Broder's containment coefficient
      * C(A→B) = |S(A)∩S(B)| / |S(A)|): find documents whose shingle set
      * is mostly INSIDE another document's — the quote-heavy page, the
      * article embedded in a boilerplate wrapper, the chunk re-crawled
      * inside an aggregator. Jaccard resemblance (dedup_ngram_jaccard,
      * dedup_minhash_lsh) is symmetric and misses exactly this case: a
      * 100-token doc fully contained in a 10k-token doc has Jaccard
      * ≈ 0.01 but containment 1.0.
      *
      * Both engines compute over the df≤10-PRUNED token-3-gram sets
      * (numerator and denominator alike): corpus-common "stop shingles"
      * carry no dup evidence and their posting lists are the quadratic
      * hazard, so production containment (and winnowing's dedup join,
      * same discipline) cuts them before pairing. The cut caps the
      * per-shingle pair fan-out at df·(df−1) ≤ 90 directed pairs, which
      * is what makes the self-join linear in corpus size rather than
      * quadratic — the same absolute-df stop-gram rule measured at ×10
      * scale on dedup_winnowing (PLANS.md: pairs GREW only 2× for 10×
      * docs because an absolute threshold prunes proportionally more of
      * a bigger corpus). Shape at 100 TB: one shingle explode + one
      * equi-join on the pruned shingle (shuffle by g), one pair
      * aggregate (shuffle by src,dst), set sizes re-join by src —
      * no cartesian anywhere, no driver state. Emitted pairs are
      * DIRECTED (src mostly-inside dst at ≥ 50%, exact integer
      * cross-multiplication — no float threshold). */
    QueryDef("dedup_containment", Some(raw"""
      WITH t AS (SELECT doc_id, string_split_regex(lower(trim(text)), '[ \t\n\x0B\f\r]+') AS w FROM documents),
      sh AS (SELECT doc_id, unnest(list_distinct([array_to_string(w[i:i+2], ' ') for i in range(1, len(w) - 1)])) AS g
             FROM t WHERE len(w) >= 3),
      df AS (SELECT g FROM sh GROUP BY g HAVING count(*) <= 10),
      ps AS (SELECT sh.doc_id, sh.g FROM sh JOIN df USING (g)),
      sz AS (SELECT doc_id, count(*) AS n FROM ps GROUP BY 1),
      pairs AS (SELECT a.doc_id AS src, b.doc_id AS dst, count(*) AS inter
                FROM ps a JOIN ps b ON b.g = a.g AND b.doc_id <> a.doc_id GROUP BY 1, 2)
      SELECT src, dst, CAST((inter * 1000000) // sz.n AS BIGINT) AS containment_ppm
      FROM pairs JOIN sz ON sz.doc_id = pairs.src
      WHERE inter * 2 >= sz.n
      ORDER BY src, dst""")) { (s, d) =>
      // the exploded posting list is the JVM-shared shingles3 artifact
      // (round 13 — it feeds the df pass, the pruned list, BOTH sides
      // of the pair join here, AND doc_decontaminate's probe; left as
      // lineage the tokenize+explode re-evaluated 4x per query — the
      // doc_winnowing lesson). The df prune stays a groupBy (map-side
      // combine absorbs hot stop shingles; a window over g would sort
      // the skewed partitions we are about to throw away). Storage
      // bound: the shared frame is O(corpus tokens) of executor
      // storage — see SharedText's scaladoc; the persisted-artifact
      // production shape is dedup_containment_incremental.
      val sh = SharedText.shingles3(s, d)
      val kept = sh.groupBy(col("g")).agg(count(lit(1)).as("df"))
        .filter(col("df") <= 10).select(col("g"))
      val ps = sh.join(kept, Seq("g")).localCheckpoint()
      val sz = ps.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
      // SHUFFLE_HASH: both sides are the checkpointed corpus posting
      // list (S3-G lesson - the auto-broadcast built one through the
      // driver; broadcast impossible at scale)
      val pairs = ps.as("a").join(ps.as("b").hint("shuffle_hash"),
          col("a.g") === col("b.g") && col("a.doc_id") =!= col("b.doc_id"))
        .groupBy(col("a.doc_id").as("src"), col("b.doc_id").as("dst"))
        .agg(count(lit(1)).as("inter"))
      pairs.join(sz.withColumnRenamed("doc_id", "src"), Seq("src"))
        .filter(col("inter") * 2 >= col("n_sh"))
        .select(col("src"), col("dst"),
          expr("(inter * 1000000) div n_sh").as("containment_ppm"))
        .orderBy(col("src"), col("dst"))
    },

    /** INCREMENTAL containment — the persisted-index production shape
      * of `dedup_containment` (round-13 verdict item 5): the standing
      * corpus (doc_id % 5 ≠ 0) is df-pruned ONCE and persisted as a
      * parquet posting index `(g, idx_id)`; each incoming batch
      * (doc_id % 5 = 0) shingles itself and probes the index with one
      * equi-join on the shingle — "is this new document already mostly
      * inside the corpus?", the dedup-at-ingest question an append-only
      * training-data pipeline actually asks. This is what replaces the
      * full-corpus posting-list materialization at true scale: the
      * O(corpus tokens) artifact lives as a columnar store with a
      * build-once lifecycle (the `dedup_minhash_incremental` /
      * `sim_ann_ivfpq_persisted` discipline), and each batch's work is
      * O(batch postings × bounded fan-out) — the index's df ≤ 10 cut
      * bounds every posting list, so a batch shingle matches at most
      * 10 standing docs and the probe is linear in the batch.
      *
      * Semantics: df is computed over the STANDING corpus only (an
      * incremental pipeline cannot see future batches); the
      * denominator is the batch doc's own distinct-3-gram count, so
      * containment C(batch→idx) = |matched ∩| / |S(batch)| is exact
      * and a batch doc whose shingles are all corpus-common stop
      * shingles scores low — the conservative direction. Exact
      * integer cross-multiplication at the 50% threshold; the roster
      * left-join keeps every batch doc in the output. */
    QueryDef("dedup_containment_incremental", Some(containmentIncrementalOracle)) { (s, d) =>
      probeContainment(s, d, graft.Staging.read(s, sharedContainmentIndex(s, d)))
    },

    /** Containment-index APPEND (round 16) — the posting index's
      * nightly roll, and a contract CONTRAST with this family's delete:
      * the delete roll is directional (removals can drop a shingle's
      * df back under the prune, re-admitting lists only a rebuild
      * sees), but the append is EXACT, because df only GROWS under
      * append — the day-1 prune set is a SUBSET of the merged prune
      * set, so day-1's kept postings are a superset of what the merged
      * prune keeps of them, and re-applying the ≤10 prune over the
      * MERGED df to (day-1 kept ∪ day-2 unpruned) yields the rebuild
      * index identically. The day-1 artifact therefore stores the df
      * TABLE alongside the pruned postings (the vocab-sized statistic
      * that makes maintenance exact — the BM25 df move); the roll
      * costs one O(day-2) shingle pass + a vocab-sized count merge,
      * never the standing corpus. Gate: the probe serve shares
      * `dedup_containment_incremental`'s full-standing-rebuild oracle
      * VERBATIM — append(index(day1), day2) == index(day1 ∪ day2),
      * end-to-end through the batch probe. */
    QueryDef("dedup_containment_index_append", Some(containmentIncrementalOracle)) { (s, d) =>
      val root = sharedContainmentDay1Index(s, d)
      val day2 = SharedText.shingles3(s, d)
        .filter(pmod(col("doc_id"), lit(5L)) =!= 0 &&
          pmod(col("doc_id"), lit(2L)) === 1)
        .withColumnRenamed("doc_id", "idx_id")
      val dfM = graft.Staging.read(s, s"$root/df")
        .unionByName(day2.groupBy(col("g")).agg(count(lit(1)).as("df")))
        .groupBy("g").agg(sum("df").as("df"))
      val idx = graft.Staging.read(s, s"$root/postings").unionByName(day2)
        .join(dfM.filter(col("df") <= 10).select(col("g")), Seq("g"))
      probeContainment(s, d, idx)
    },

    /** ONLINE containment-index append (round 18) —
      * `dedup_containment_index_append`'s streaming twin on the
      * `stream_minhash_index_roll` staging (the exact-append family's
      * online form; BM25 and LM had theirs, the posting index did
      * not): day-2 arrivals land as TWO real micro-batches
      * (maxFilesPerTrigger=1), each foreachBatch trigger does O(batch)
      * work only — the batch's shingles and its per-shingle df
      * contribution write to batch-id-keyed log dirs (overwrite =
      * idempotent under replay); the day-1 artifact is NEVER read
      * in-stream. ONE post-drain fold merges df(day1) ∪ logged dfs
      * (counts are a commutative monoid, so micro-batch boundaries
      * provably cannot change the merged table), re-applies the ≤10
      * prune over (day-1 postings ∪ logged postings), and serves the
      * batch probes. The append contract is EXACT (df only grows —
      * the batch twin's argument verbatim), so the gate is the
      * full-standing-rebuild oracle shared with
      * `dedup_containment_incremental`/`_index_append`, and
      * QueriesSpec additionally gates the folded posting set
      * frame-equal to the from-scratch standing index artifact. */
    QueryDef("stream_containment_index_append", Some(containmentIncrementalOracle)) { (s, d) =>
      import graft.streaming.OnlineFold
      // build the day-1 artifact BEFORE the stream runs (read only in
      // the post-drain fold, but the production night starts from it)
      sharedContainmentDay1Index(s, d)
      val root = OnlineFold.freshRoot(s, "ctsapp", d)
      val inTmpl = OnlineFold.stage(s, "ctsapp_in", d) {
        val day2 = Tables.documents(s, d)
          .filter(pmod(col("doc_id"), lit(5L)) =!= 0 &&
            pmod(col("doc_id"), lit(2L)) === 1)
          .select(col("doc_id"), col("text"))
        Seq(day2.filter(pmod(col("doc_id"), lit(4L)) === 1),
            day2.filter(pmod(col("doc_id"), lit(4L)) === 3))
      }
      OnlineFold.drain(s, root, inTmpl)(containmentAppendLogBatch(d, _, _))
      // the one fold: vocab-sized df merge + re-pruned posting union
      probeContainment(s, d, containmentAppendFold(s, d,
        OnlineFold.readLogs(s, s"$root/log/p*", "idx_id LONG, g STRING"),
        OnlineFold.readLogs(s, s"$root/log/df*", "g STRING, df LONG")))
    },

    /** Containment-index DELETION (round 16) — the posting index's
      * right-to-be-forgotten roll, completing the delete story across
      * all four index families (MinHash anti-join, IVFADC list
      * filter, counting-bloom decrement, and here the posting-list
      * anti-join): tombstoned standing docs (doc_id % 20 = 7 — a
      * residue with confirmed containment hits at both judged scales,
      * so deletion is load-bearing) are removed from the PERSISTED
      * df-pruned posting index by one broadcast anti-join at serve
      * time, O(index ∩ tombstones), the artifact never rewritten. The
      * oracle models the artifact-true semantics — the df ≤ 10 prune
      * computed over the FULL standing set (the artifact's build-time
      * statistics), THEN the tombstone filter — so the hash gates the
      * tombstone mechanism exactly. Deliberately NOT gated:
      * delete == full-rebuild, which cannot hold in general here
      * either, for the df-statistics reason rather than a cap —
      * removing docs can drop a shingle's df from 11 to ≤ 10, so a
      * rebuild RE-ADMITS posting lists the build-time prune cut;
      * tombstone-serve hits ⊆ rebuild hits (the same under-report
      * direction as the capped MinHash roll), and the scheduled
      * rebuild re-absorbs both the deletions and the df drift. */
    QueryDef("dedup_containment_index_delete", Some(raw"""
      WITH t AS (SELECT doc_id, string_split_regex(lower(trim(text)), '[ \t\n\x0B\f\r]+') AS w FROM documents),
      sh AS (SELECT doc_id, unnest(list_distinct([array_to_string(w[i:i+2], ' ') for i in range(1, len(w) - 1)])) AS g
             FROM t WHERE len(w) >= 3),
      idx0 AS (SELECT doc_id AS idx_id, g FROM sh WHERE doc_id % 5 <> 0),
      keep AS (SELECT g FROM idx0 GROUP BY g HAVING count(*) <= 10),
      idx AS (SELECT idx0.idx_id, idx0.g FROM idx0 JOIN keep USING (g)
              WHERE idx0.idx_id % 20 <> 7),
      bat AS (SELECT doc_id, g FROM sh WHERE doc_id % 5 = 0),
      sz AS (SELECT doc_id, count(*) AS n FROM bat GROUP BY 1),
      hits AS (SELECT bat.doc_id, idx.idx_id, count(*) AS inter FROM bat JOIN idx USING (g) GROUP BY 1, 2),
      sc AS (SELECT h.doc_id, CAST(count(*) AS BIGINT) AS n_containers, min(h.idx_id) AS first_container
             FROM hits h JOIN sz ON sz.doc_id = h.doc_id
             WHERE h.inter * 2 >= sz.n GROUP BY 1)
      SELECT b.doc_id, CAST(COALESCE(sc.n_containers, 0) AS BIGINT) AS n_containers,
             sc.first_container, sc.n_containers IS NOT NULL AS is_contained
      FROM (SELECT DISTINCT doc_id FROM bat) b
      LEFT JOIN sc ON sc.doc_id = b.doc_id
      ORDER BY b.doc_id""")) { (s, d) =>
      val tomb = Tables.documents(s, d)
        .filter(pmod(col("doc_id"), lit(20L)) === 7)
        .select(col("doc_id").as("idx_id"))
      val idx = graft.Staging.read(s, sharedContainmentIndex(s, d))
        .join(broadcast(tomb), Seq("idx_id"), "left_anti")
      probeContainment(s, d, idx)
    },

    /** Containment index RECAP — the df-drift compaction the delete
      * roll's directional contract defers to (the third recap beside
      * MinHash and SimHash, closing ALL directional-delete contracts):
      * the delete serve prunes by the FULL standing df (artifact-true
      * — postings with df > 10 were never written), so a shingle whose
      * survivor-df drops to ≤ 10 after deletions stays invisible until
      * a recap. This roll recomputes the df table OVER SURVIVORS
      * (standing ∧ doc_id % 20 ≠ 7), re-applies the prune, persists,
      * and serves the batch probes from the RE-READ artifact; the
      * oracle recomputes the same survivor-df prune — an equality
      * gate. Because deleting postings only lowers df, the recapped
      * posting set is a SUPERSET of the delete-served one, so recap
      * hits dominate per probe (QueriesSpec asserts it) — the recap
      * can only restore recall the tombstone path lost. O(survivor
      * shingles) per recap window. */
    QueryDef("dedup_containment_index_recap", Some(raw"""
      WITH t AS (SELECT doc_id, string_split_regex(lower(trim(text)), '[ \t\n\x0B\f\r]+') AS w FROM documents),
      sh AS (SELECT doc_id, unnest(list_distinct([array_to_string(w[i:i+2], ' ') for i in range(1, len(w) - 1)])) AS g
             FROM t WHERE len(w) >= 3),
      idx0 AS (SELECT doc_id AS idx_id, g FROM sh WHERE doc_id % 5 <> 0 AND doc_id % 20 <> 7),
      keep AS (SELECT g FROM idx0 GROUP BY g HAVING count(*) <= 10),
      idx AS (SELECT idx0.idx_id, idx0.g FROM idx0 JOIN keep USING (g)),
      bat AS (SELECT doc_id, g FROM sh WHERE doc_id % 5 = 0),
      sz AS (SELECT doc_id, count(*) AS n FROM bat GROUP BY 1),
      hits AS (SELECT bat.doc_id, idx.idx_id, count(*) AS inter FROM bat JOIN idx USING (g) GROUP BY 1, 2),
      sc AS (SELECT h.doc_id, CAST(count(*) AS BIGINT) AS n_containers, min(h.idx_id) AS first_container
             FROM hits h JOIN sz ON sz.doc_id = h.doc_id
             WHERE h.inter * 2 >= sz.n GROUP BY 1)
      SELECT b.doc_id, CAST(COALESCE(sc.n_containers, 0) AS BIGINT) AS n_containers,
             sc.first_container, sc.n_containers IS NOT NULL AS is_contained
      FROM (SELECT DISTINCT doc_id FROM bat) b
      LEFT JOIN sc ON sc.doc_id = b.doc_id
      ORDER BY b.doc_id""")) { (s, d) =>
      val recapped = graft.Staging.persist(s, "ctidx_recap", d) {
        val surv = SharedText.shingles3(s, d)
          .filter(pmod(col("doc_id"), lit(5L)) =!= 0 &&
            pmod(col("doc_id"), lit(20L)) =!= 7)
          .withColumnRenamed("doc_id", "idx_id")
        val kept = surv.groupBy(col("g")).agg(count(lit(1)).as("df"))
          .filter(col("df") <= 10).select(col("g"))
        surv.join(kept, Seq("g"))
      }
      probeContainment(s, d, graft.Staging.read(s, recapped))
    },

    /** BUDGET-CONSTRAINED curation — "keep the highest-quality
      * documents until a token budget is hit" (here 60% of corpus
      * tokens), the selection rule a compute-bounded training run
      * actually applies on top of its quality scores: ranking every
      * document by doc_quality's exact score and admitting greedily
      * until the cumulative token count reaches the budget. A document
      * is admitted iff its EXCLUSIVE running-token prefix is still
      * under budget (it "starts inside" the budget — the
      * concatenate-and-chop stance doc_pack_sequences already judges),
      * so the selection is a pure function of the total order
      * (quality desc, doc_id) with no fractional-document ambiguity.
      *
      * Shape at 100 TB: the global prefix sum is
      * [[graft.operators.ScaleOps.globalRunningSum]] — range
      * repartition on the quality key, per-partition partial sums, an
      * O(#partitions) broadcast offset frame — the events_rfm
      * globalRank discipline extended to sums, with NO
      * single-partition window anywhere; the token budget itself is a
      * 1-row broadcast. Quality doubles are bit-identical on both
      * engines (doc_quality's judged parity), and the budget cut is
      * exact integer arithmetic. */
    QueryDef("curate_token_budget", Some(raw"""
      WITH t AS (SELECT doc_id, $qualityScoreSql AS quality,
                   CAST(len(list_filter(string_split_regex(lower(trim(text)), '[ \t\n\x0B\f\r]+'), x -> x <> '')) AS BIGINT) AS n
                 FROM documents),
      tot AS (SELECT CAST(sum(n) AS BIGINT) AS tt FROM t),
      r AS (SELECT doc_id, quality, n,
              CAST(COALESCE(sum(n) OVER (ORDER BY quality DESC, doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
            FROM t)
      SELECT doc_id, quality, n AS n_tokens, cum_before
      FROM r, tot WHERE cum_before < (tt * 60) // 100
      ORDER BY cum_before, doc_id""")) { (s, d) =>
      import graft.operators.ScaleOps
      // pinned once: the scored frame feeds the budget total, the
      // RangePartitioner's SAMPLING pass, and the actual shuffle — left
      // as lineage the scan+quality+tokenize ran 3× per query (the ×100
      // rehearsal measured it); the materialized frame is 3 narrow
      // columns per doc
      val t = Tables.documents(s, d).select(col("doc_id"),
        qualityScore(col("text")).as("quality"),
        size(filter(tokens(col("text")), x => x =!= "")).cast("long").as("n"))
        .localCheckpoint()
      val tot = t.agg(sum(col("n")).as("tt"))
      ScaleOps.globalRunningSum(t, "cum_before", col("n"),
          col("quality").desc, col("doc_id"))
        .crossJoin(broadcast(tot))
        .filter(col("cum_before") < expr("(tt * 60) div 100"))
        .select(col("doc_id"), col("quality"), col("n").as("n_tokens"),
          col("cum_before"))
        .orderBy(col("cum_before"), col("doc_id"))
    },

    /** TRAINED corpus classifier — multinomial Naive-Bayes-family
      * train/serve as one judged lineage: fit per-class token counts on
      * the even-doc_id half (the labeled training split), then classify
      * every held-out odd-doc_id document by argmax of its add-one-
      * smoothed per-token class likelihoods. This is the mechanism
      * under every fastText-style quality/language/domain filter in a
      * training-data pipeline; the judged artifact is the exact
      * train→smooth→score→argmax chain, not the accuracy (the synthetic
      * fixture's `lang` label is deliberately uncorrelated with its
      * token stream — all five labels draw the same 31-token vocabulary
      * — so predictions sit at chance here BY CONSTRUCTION of the
      * fixture; same stance as doc_lang_confusion, where the hash gates
      * the mechanism and the readout reports whatever quality falls
      * out).
      *
      * Determinism: scores are the exact-integer LINEAR form of NB —
      * per-token smoothed likelihood in truncated ppm, summed per
      * (doc, class) — because log-likelihood sums are IEEE-order-
      * dependent and would hash-mismatch the oracle (same fixed-point
      * discipline as doc_lm_score / text_bm25_topk); ranking ties break
      * on class name, making the argmax total. Shape at 100 TB: the
      * model IS the (class, token) count table — a bounded-vocab
      * aggregate that broadcasts (web-scale vocab: it shuffle-joins on
      * token instead, still one corpus pass); scoring fans each token
      * instance out by |classes| (languages are dozens, a bounded
      * constant), then one doc_id shuffle aggregates scores and one
      * broadcast-small window picks the argmax. Train tables build
      * map-side-combined; the corpus is scanned once per split. */
    QueryDef("doc_nb_classify", Some(raw"""
      WITH t AS (SELECT doc_id, lang, string_split_regex(lower(trim(text)), '[ \t\n\x0B\f\r]+') AS w FROM documents),
      tr AS (SELECT lang, unnest(w) AS token FROM t WHERE doc_id % 2 = 0),
      cwl AS (SELECT lang, token, count(*) AS c FROM tr GROUP BY 1, 2),
      cl AS (SELECT lang, count(*) AS n FROM tr GROUP BY 1),
      v AS (SELECT count(DISTINCT token) AS v FROM tr),
      te AS (SELECT doc_id, lang AS lang_true, unnest(w) AS token FROM t WHERE doc_id % 2 = 1),
      sc AS (SELECT te.doc_id, te.lang_true, cl.lang,
               ((COALESCE(cwl.c, 0) + 1) * 1000000) // (cl.n + v.v) AS p_ppm
             FROM te CROSS JOIN cl CROSS JOIN v
             LEFT JOIN cwl ON cwl.lang = cl.lang AND cwl.token = te.token),
      agg AS (SELECT doc_id, lang_true, lang, CAST(sum(p_ppm) AS BIGINT) AS score_ppm
              FROM sc GROUP BY 1, 2, 3),
      rk AS (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score_ppm DESC, lang) AS rk FROM agg)
      SELECT doc_id, lang_true AS lang, lang AS lang_pred, score_ppm, lang = lang_true AS correct
      FROM rk WHERE rk = 1 ORDER BY doc_id""")) { (s, d) =>
      // the tokenize prefix is the JVM-shared `tokens` artifact
      // (round 13): identical expression, so train/score see the same
      // token stream as before, minus the per-query corpus re-scan
      val t = SharedText.tokenized(s, d)
      val tr = t.filter(pmod(col("doc_id"), lit(2L)) === 0)
        .select(col("lang"), explode(col("w")).as("token"))
      val cwl = tr.groupBy(col("lang"), col("token")).agg(count(lit(1)).as("c"))
      // cl and v are exact algebraic reductions of the (lang, token, c)
      // model table — deriving them from cwl keeps the train split
      // genuinely scanned ONCE (three aggregates straight off `tr`
      // would each re-run the scan+tokenize+explode: different grouping
      // keys, so no exchange reuse)
      val cl = cwl.groupBy(col("lang")).agg(sum(col("c")).as("n"))
      val v = cwl.select(col("token")).distinct().agg(count(lit(1)).as("v"))
      val te = t.filter(pmod(col("doc_id"), lit(2L)) === 1)
        .select(col("doc_id"), col("lang").as("lang_true"), explode(col("w")).as("token"))
      val sc = te.crossJoin(broadcast(cl)).crossJoin(broadcast(v))
        .join(broadcast(cwl), Seq("lang", "token"), "left")
        .withColumn("p_ppm", expr("((coalesce(c, 0) + 1) * 1000000) div (n + v)"))
      val agg = sc.groupBy(col("doc_id"), col("lang_true"), col("lang"))
        .agg(sum(col("p_ppm")).as("score_ppm"))
      val w = Window.partitionBy(col("doc_id"))
        .orderBy(col("score_ppm").desc, col("lang"))
      agg.withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
        .select(col("doc_id"), col("lang_true").as("lang"),
          col("lang").as("lang_pred"), col("score_ppm"),
          (col("lang") === col("lang_true")).as("correct"))
        .orderBy(col("doc_id"))
    },

    /** Perceptual-hash image dedup — the MEDIA near-dup pass every
      * multimodal training pipeline runs (re-encoded, lightly cropped,
      * or re-compressed copies of the same picture never hash equal
      * byte-wise, but their dHash lands within a few bits): 64-bit
      * difference hash over each REAL decoded raster (the JDK PNG
      * codec — the payload is genuine image bytes, and the judged hash
      * comes from the decoded pixels, not from metadata), then an
      * EXACT Hamming-distance-≤3 pair join via pigeonhole banding:
      * with the hash split into 4×16-bit bands, any pair within
      * distance 3 MUST agree on at least one whole band, so the
      * band-bucket equi-join has GUARANTEED recall (unlike minhash/
      * simhash banding, which is probabilistic) and the exact distance
      * recheck makes precision 1.0.
      *
      * Shape at 100 TB: decode + hash is one mapPartitions pass
      * (parallelism follows the scan, per-task memory = one payload);
      * the pair join explodes 4 rows per image and shuffles on an
      * 18-bit band key — O(n) end-to-end, no n² scan anywhere. A
      * production corpus additionally needs the stop-bucket cut
      * (dedup_containment's df discipline) for pathological buckets —
      * millions of identical black frames — before the self-join;
      * the fixture's md5-uniform hashes keep buckets ~1 deep.
      *
      * The fixture inverts the hash (Multimodal.PHash): 64 md5-derived
      * bits per image are REALIZED as a 9×8 brightness walk, so the
      * oracle regenerates every hash from md5 arithmetic while the
      * Spark side must round-trip real PNG bytes — any codec lossiness
      * or bit-order slip breaks the hash gate. Every id%10==0 image
      * gets a twin with exactly two flipped bits (6·id+11 is odd, so
      * the flip positions never coincide); unrelated md5 hashes sit at
      * expected distance 32 (P[d≤3] ≈ 7e-15), so the judged pair set
      * is exactly the planted twins, found by construction rather than
      * by luck. */
    QueryDef("multimodal_phash_dedup", Some(raw"""
      WITH ids AS (SELECT doc_id AS id FROM documents),
      base AS (SELECT id,
        CAST(list_sum([CASE WHEN substr(md5(CAST(id AS VARCHAR) || 'a'), k+1, 1) IN ('1','3','5','7','9','b','d','f') THEN (1::BIGINT << k) ELSE 0 END for k in range(0,32)]) AS BIGINT) AS lo,
        CAST(list_sum([CASE WHEN substr(md5(CAST(id AS VARCHAR) || 'b'), k+1, 1) IN ('1','3','5','7','9','b','d','f') THEN (1::BIGINT << k) ELSE 0 END for k in range(0,32)]) AS BIGINT) AS hi
       FROM ids),
      twin AS (SELECT id + 1000000000 AS id,
        xor(xor(lo, CASE WHEN id % 64 < 32 THEN (1::BIGINT << CAST(id % 64 AS INT)) ELSE 0 END),
            CASE WHEN (7 * id + 11) % 64 < 32 THEN (1::BIGINT << CAST((7 * id + 11) % 64 AS INT)) ELSE 0 END) AS lo,
        xor(xor(hi, CASE WHEN id % 64 >= 32 THEN (1::BIGINT << CAST(id % 64 - 32 AS INT)) ELSE 0 END),
            CASE WHEN (7 * id + 11) % 64 >= 32 THEN (1::BIGINT << CAST((7 * id + 11) % 64 - 32 AS INT)) ELSE 0 END) AS hi
        FROM base WHERE id % 10 = 0),
      allh AS (SELECT * FROM base UNION ALL SELECT * FROM twin),
      bands AS (SELECT id, lo, hi, unnest([
        0 * 65536 + (lo & 65535), 1 * 65536 + ((lo >> 16) & 65535),
        2 * 65536 + (hi & 65535), 3 * 65536 + ((hi >> 16) & 65535)]) AS band FROM allh),
      cand AS (SELECT DISTINCT a.id AS src, b.id AS dst,
                      a.lo AS lo_a, a.hi AS hi_a, b.lo AS lo_b, b.hi AS hi_b
               FROM bands a JOIN bands b ON b.band = a.band AND a.id < b.id)
      SELECT src, dst,
        CAST(bit_count(xor(lo_a, lo_b)) + bit_count(xor(hi_a, hi_b)) AS BIGINT) AS hamming
      FROM cand
      WHERE bit_count(xor(lo_a, lo_b)) + bit_count(xor(hi_a, hi_b)) <= 3
      ORDER BY src, dst""")) { (s, d) =>
      import graft.operators.Multimodal
      val ids = Tables.documents(s, d).select(col("doc_id").cast("long"))
        .as(org.apache.spark.sql.Encoders.LONG)
      val hashes = Multimodal.phashCorpus(ids)
      val bands = hashes.select(col("img_id"), col("lo"), col("hi"),
        explode(array(
          expr("0 * 65536 + (lo & 65535)"),
          expr("1 * 65536 + ((lo >> 16) & 65535)"),
          expr("2 * 65536 + (hi & 65535)"),
          expr("3 * 65536 + ((hi >> 16) & 65535)"))).as("band"))
      // the banded hash frame is narrow and consumed by BOTH join
      // sides - checkpoint so the PNG decode pass runs once, not per
      // aliased subtree; SHUFFLE_HASH per the S3-G lesson (both sides
      // are the full image corpus)
      val bandsM = bands.localCheckpoint()
      val cand = bandsM.as("a").join(bandsM.as("b").hint("shuffle_hash"),
          col("a.band") === col("b.band") && col("a.img_id") < col("b.img_id"))
        .select(col("a.img_id").as("src"), col("b.img_id").as("dst"),
          col("a.lo").as("lo_a"), col("a.hi").as("hi_a"),
          col("b.lo").as("lo_b"), col("b.hi").as("hi_b"))
        .distinct()
      cand
        .withColumn("hamming",
          expr("bit_count(lo_a ^ lo_b) + bit_count(hi_a ^ hi_b)").cast("long"))
        .filter(col("hamming") <= 3)
        .select(col("src"), col("dst"), col("hamming"))
        .orderBy(col("src"), col("dst"))
    },

    /** The MULTIMODAL CAPSTONE — curate_full_pipeline's media twin:
      * binary ingest → REAL decode gate → perceptual-hash near-dup
      * survivorship as ONE judged lineage, so any stage-ordering or
      * column-contract drift breaks the hash. Every id%13==7 payload
      * is planted JUNK (md5 bytes, no PNG signature): the gate is a
      * genuine `ImageIO.read` attempt, and a junk payload surviving
      * it — or a valid raster rejected by it — changes the row set.
      * Dedup survivorship is keep-lowest-id over the exact Hamming-≤3
      * pair set (the pigeonhole banding of multimodal_phash_dedup), so
      * every planted twin drops and every base survives. Shape at
      * 100 TB: the decode gate is one mapPartitions pass at scan
      * parallelism; the pair join shuffles 4 band rows per surviving
      * image; survivorship is one anti-join on img_id — no stage
      * rescans the payload bytes after the gate. */
    QueryDef("multimodal_full_pipeline", Some(raw"""
      WITH ids AS (SELECT doc_id AS id FROM documents),
      valid AS (SELECT id FROM ids WHERE id % 13 <> 7),
      base AS (SELECT id,
        CAST(list_sum([CASE WHEN substr(md5(CAST(id AS VARCHAR) || 'a'), k+1, 1) IN ('1','3','5','7','9','b','d','f') THEN (1::BIGINT << k) ELSE 0 END for k in range(0,32)]) AS BIGINT) AS lo,
        CAST(list_sum([CASE WHEN substr(md5(CAST(id AS VARCHAR) || 'b'), k+1, 1) IN ('1','3','5','7','9','b','d','f') THEN (1::BIGINT << k) ELSE 0 END for k in range(0,32)]) AS BIGINT) AS hi
       FROM valid),
      twin AS (SELECT id + 1000000000 AS id,
        xor(xor(lo, CASE WHEN id % 64 < 32 THEN (1::BIGINT << CAST(id % 64 AS INT)) ELSE 0 END),
            CASE WHEN (7 * id + 11) % 64 < 32 THEN (1::BIGINT << CAST((7 * id + 11) % 64 AS INT)) ELSE 0 END) AS lo,
        xor(xor(hi, CASE WHEN id % 64 >= 32 THEN (1::BIGINT << CAST(id % 64 - 32 AS INT)) ELSE 0 END),
            CASE WHEN (7 * id + 11) % 64 >= 32 THEN (1::BIGINT << CAST((7 * id + 11) % 64 - 32 AS INT)) ELSE 0 END) AS hi
        FROM base WHERE id % 10 = 0),
      allh AS (SELECT * FROM base UNION ALL SELECT * FROM twin),
      bands AS (SELECT id, lo, hi, unnest([
        0 * 65536 + (lo & 65535), 1 * 65536 + ((lo >> 16) & 65535),
        2 * 65536 + (hi & 65535), 3 * 65536 + ((hi >> 16) & 65535)]) AS band FROM allh),
      dropped AS (SELECT DISTINCT b.id
                  FROM bands a JOIN bands b ON b.band = a.band AND a.id < b.id
                  WHERE bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi)) <= 3)
      SELECT id AS img_id, CAST(9 AS BIGINT) AS w, CAST(8 AS BIGINT) AS h, lo, hi
      FROM allh WHERE id NOT IN (SELECT id FROM dropped)
      ORDER BY img_id""")) { (s, d) =>
      import graft.operators.Multimodal
      val ids = Tables.documents(s, d).select(col("doc_id").cast("long"))
        .as(org.apache.spark.sql.Encoders.LONG)
      // gate output feeds both band sides and the final anti-join —
      // materialize the decode pass once (the containment discipline)
      val corpus = Multimodal.phashGatedCorpus(ids).localCheckpoint()
      val bands = corpus.select(col("img_id"), col("lo"), col("hi"),
        explode(array(
          expr("0 * 65536 + (lo & 65535)"),
          expr("1 * 65536 + ((lo >> 16) & 65535)"),
          expr("2 * 65536 + (hi & 65535)"),
          expr("3 * 65536 + ((hi >> 16) & 65535)"))).as("band"))
      val dropped = bands.as("a").join(bands.as("b"),
          col("a.band") === col("b.band") && col("a.img_id") < col("b.img_id"))
        .filter(expr("bit_count(a.lo ^ b.lo) + bit_count(a.hi ^ b.hi)") <= 3)
        .select(col("b.img_id").as("img_id")).distinct()
      corpus.join(dropped, Seq("img_id"), "left_anti")
        .select(col("img_id"), col("w"), col("h"), col("lo"), col("hi"))
        .orderBy(col("img_id"))
    },

    /** Bloom-prefiltered seen-fingerprint test (round 15; persisted
      * lifecycle round 16) — the "have we crawled this exact document
      * before?" gate every ingest pipeline runs before anything else,
      * in its production shape: a Bloom filter over the standing
      * corpus's fingerprints broadcasts to the batch scan (bits, not
      * strings — at 100 TB the standing set is billions of
      * fingerprints, ~1.2 GB of bloom at 1% fpp vs hundreds of GB of
      * raw keys or a full shuffle join), prunes the
      * overwhelmingly-unseen majority at scan speed, and only the
      * bloom-POSITIVE survivors pay the exact fingerprint join that
      * confirms or refutes them. The judged output is EXACT (the
      * sketch only proposes; the join decides) — the
      * doc_heavy_hitters discipline, so the oracle is a plain
      * semi-join and the bloom's false-positive rate can never leak
      * into a judged value. A Bloom probe has no built-in Column
      * function (Spark itself injects runtime bloom joins through an
      * internal expression only), so the probe is the ONE registered
      * native expression `graft_might_contain`
      * ([[graft.expressions.BloomMightContain]], round-17 — replacing
      * the per-QueryDef closure UDFs): codegen'd, broadcast-handle-
      * carrying, shared by all three serve paths so they cannot
      * drift. No false NEGATIVE is possible by construction, and the
      * spec asserts the prefilter genuinely prunes while recomputing
      * the exact answer from scratch.
      * Non-vacuity: the fixture corpus has zero cross-split exact
      * dups, so every 25th standing doc (doc_id % 25 == 1, never in
      * the batch split) re-arrives as a re-crawl at doc_id + 1e10
      * (clear of real ids even on the ×100 rehearsal corpus, whose
      * copies sit 1e7 apart) —
      * the planted-fixture discipline, with the offset collision
      * require of dedup_exact_classes (memoized per fixture).
      *
      * Round-16 lifecycle (verdict task 2 + blemish 3): the bloom is
      * no longer rebuilt in-JVM and closure-captured per run — it is
      * PERSISTED once to the staging dir ([[sharedBloomIndex]]),
      * RE-READ from its bytes, and shipped by an explicit
      * `sparkContext.broadcast` (one copy per executor, guaranteed,
      * and unpersistable — at artifact size closure capture would
      * ride every task binary). Sizing is stats-derived
      * (maxDocId + 1 ≥ distinct fingerprints) instead of paying an
      * extra count() job per invocation, and the probe expression is
      * null-safe: a null text's null fingerprint is a definable
      * answer (unseen), not a task-level NPE (round-15 ADVICE). */
    QueryDef("dedup_bloom_seen", Some(BloomSeenSql)) { (s, d) =>
      bloomServeSeen(s, d, "full.bloom")
    },

    /** Bloom-artifact MAINTENANCE (round 16) — the lifecycle half the
      * rest of the index families already have: the standing set's
      * day-1 half is built and persisted, day-2 fingerprints arrive
      * as their own bloom, and the maintenance roll MERGES day-2 into
      * the RE-READ day-1 artifact via `mergeInPlace` — a pure bit-OR,
      * so it is order-independent and idempotent exactly like the
      * MinHash append's recap argument — then re-persists
      * `current.bloom`. This query serves the batch probe from the
      * re-read MERGED artifact and shares `dedup_bloom_seen`'s oracle
      * verbatim: the exact join still decides, so the hash gates the
      * claim that the maintained artifact covers the full standing
      * set with zero false negatives. BloomSpec closes the loop
      * bit-exactly: bytes(merge(day1, day2)) == bytes(one-shot full
      * rebuild), because equal (expectedItems, fpp) sizing fixes the
      * bit array and hash count, and insertion only ORs bits. At
      * 100 TB the nightly roll is O(day-2 fingerprints) + a fixed-size
      * bit-OR — never a rebuild over the corpus. */
    QueryDef("dedup_bloom_seen_persisted", Some(BloomSeenSql)) { (s, d) =>
      bloomServeSeen(s, d, "current.bloom")
    },

    /** STREAMING seen-fingerprint gate (round 16) — the bloom family's
      * online shape, completing its lifecycle trio (build+persist /
      * merge-maintain / stream-serve — the stream_dedup_index /
      * stream_lm_score pattern): the crawl batch arrives as a real
      * file-source stream (two staged micro-batches under
      * maxFilesPerTrigger=1), and each micro-batch probes the FROZEN
      * re-read merged bloom artifact — one executor-shared broadcast
      * for the whole run — with bloom-positive survivors paying the
      * exact fingerprint join inside foreachBatch, batch_id-keyed
      * idempotent sinks. The answer for each doc is a pure function of
      * (its fingerprint, the frozen standing set), so micro-batch
      * boundaries provably cannot change any is_seen — the query
      * shares the one-shot oracle VERBATIM and the hash gates exactly
      * that invariance. At 100 TB this is the ingest-time gate as it
      * actually deploys: O(batch) bloom probes per trigger, the exact
      * join only on the tiny bloom-positive remainder. */
    QueryDef("stream_bloom_seen", Some(BloomSeenSql)) { (s, d) =>
      import graft.streaming.OnlineFold
      require(SharedText.maxDocId(s, d) < 10000000000L,
        "documents doc_id >= 1e10 collides with the re-crawl id offset")
      // the frozen bloom artifact exists before the stream runs
      sharedBloomIndex(s, d)
      val root = OnlineFold.freshRoot(s, "blserve", d)
      // the crawl stream: even then odd doc_ids → two micro-batches
      // (the planted re-crawls are all odd, so batch 2 carries hits
      // batch 1 cannot — boundaries are load-bearing)
      val inTmpl = OnlineFold.stage(s, "blserve_in", d) {
        val t = Tables.documents(s, d)
          .select(col("doc_id"), fingerprint(col("text")).as("fp"))
        val standing = t.filter(pmod(col("doc_id"), lit(5L)) =!= 0)
        val batch = t.filter(pmod(col("doc_id"), lit(5L)) === 0)
          .unionByName(standing.filter(pmod(col("doc_id"), lit(25L)) === 1)
            .select((col("doc_id") + 10000000000L).as("doc_id"), col("fp")))
        Seq(batch.filter(pmod(col("doc_id"), lit(2L)) === 0),
            batch.filter(pmod(col("doc_id"), lit(2L)) === 1))
      }
      OnlineFold.drain(s, root, inTmpl)(bloomSeenServeBatch(s, d, _, _))
      OnlineFold.readLogs(s, s"$root/out/b*", "doc_id LONG, is_seen BOOLEAN")
        .orderBy(col("doc_id"))
    },

    /** Seen-fingerprint DELETION (round 16) — the bloom family's
      * right-to-be-forgotten roll, closing the asymmetry
      * [[sharedBloomIndex]] documents: a plain bloom's bit-OR is
      * irreversible, so this query serves from a COUNTING bloom
      * ([[graft.operators.CountingBloom]], Fan et al. ToN 2000 —
      * cells are counters, ~8× the bits, `remove` decrements), built
      * distributed (one treeAggregate), persisted, and MAINTAINED by
      * decrementing the forgotten documents' fingerprints out of the
      * re-read artifact — O(deletes), never a rebuild, the third
      * delete mechanism beside the MinHash anti-join (directional
      * under the cap) and the IVFADC list filter (exact, uncapped).
      * Tombstones are the doc_id % 50 = 1 standing docs — all of them
      * planted re-crawl SOURCES (x ≡ 1 mod 50 ⇒ x ≡ 1 mod 25), so
      * their re-crawls must flip to is_seen = false while the
      * x ≡ 26 mod 50 sources' re-crawls stay true: deletion is
      * load-bearing in both directions. The judged answer stays EXACT
      * at any fpp — the counting sketch only proposes, the exact join
      * against the LIVE standing set decides (the family's standing
      * discipline) — and because corpus fingerprints are unique and
      * removals are of once-added items only, the decrement can never
      * produce a false negative (CountingBloomSpec proves add/remove
      * cell-exact inversion and the post-delete no-false-negative
      * floor). The roll is fully distributed (round-17): tombstone fps
      * treeAggregate into their OWN counting bloom — same (n, fpp)
      * sizing, so cells align — and subtract cell-wise from the
      * re-read standing artifact, bit-identical to a survivor rebuild
      * (CountingBloomSpec's bytes gate) with O(1) driver memory at
      * any tombstone-batch size. */
    QueryDef("dedup_bloom_seen_delete", Some(BloomSeenDeleteSql)) { (s, d) =>
      import graft.operators.CountingBloom
      require(SharedText.maxDocId(s, d) < 10000000000L,
        "documents doc_id >= 1e10 collides with the re-crawl id offset")
      val t = Tables.documents(s, d)
        .select(col("doc_id"), fingerprint(col("text")).as("fp"))
      val standing = t.filter(pmod(col("doc_id"), lit(5L)) =!= 0)
      val live = standing.filter(pmod(col("doc_id"), lit(50L)) =!= 1)
      val batch = t.filter(pmod(col("doc_id"), lit(5L)) === 0)
        .unionByName(standing.filter(pmod(col("doc_id"), lit(25L)) === 1)
          .select((col("doc_id") + 10000000000L).as("doc_id"), col("fp")))
      val bc = s.sparkContext.broadcast[graft.operators.BloomProbe](
        CountingBloom.readFrom(new java.io.FileInputStream(
          new java.io.File(sharedCountingBloomIndex(s, d), "cb_live.bin"))))
      def mightContain(c: org.apache.spark.sql.Column) = graftMightContain(bc, c)
      val confirmed = batch.filter(mightContain(col("fp")))
        .join(live.select(col("fp")).distinct(), Seq("fp"), "left_semi")
        .select(col("doc_id")).withColumn("hit", lit(true))
      batch.join(confirmed, Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("hit"), lit(false)).as("is_seen"))
        .orderBy(col("doc_id"))
    },

    /** ONLINE counting-bloom forget roll (round 18) — the bloom
      * family's streaming-maintenance cell, closing the matrix across
      * every index family: deletion requests arrive as TWO real
      * micro-batches (maxFilesPerTrigger=1), and each foreachBatch
      * trigger treeAggregates its batch's fingerprints into its OWN
      * counting bloom — O(batch), distributed, same (n, fpp) sizing
      * so cells align — serialized to a batch-id-keyed log file
      * (overwrite = idempotent under replay); the standing artifact
      * is NEVER read in-stream. ONE post-drain roll merges the logged
      * tombstone blooms (cell-wise group addition — micro-batch
      * boundaries provably cannot change the sum) and subtracts the
      * merged bloom from the RE-READ cb_full artifact with the
      * pre-mutation non-negativity validation; the serve probes the
      * re-read stream-rolled bloom through the native
      * `graft_might_contain` + exact semi-join confirm. The oracle is
      * `dedup_bloom_seen_delete`'s VERBATIM (the exact semi-join over
      * survivors), and CountingBloomSpec gates the stream-rolled
      * bloom BYTE-equal to the one-shot cb_live.bin — stream == batch
      * at the artifact level, by the multiset group identity. */
    QueryDef("stream_bloom_forget", Some(BloomSeenDeleteSql)) { (s, d) =>
      import graft.streaming.OnlineFold
      import graft.operators.CountingBloom
      require(SharedText.maxDocId(s, d) < 10000000000L,
        "documents doc_id >= 1e10 collides with the re-crawl id offset")
      val idxDir = sharedCountingBloomIndex(s, d)
      val root = OnlineFold.freshRoot(s, "cbsforget", d)
      val t = Tables.documents(s, d)
        .select(col("doc_id"), fingerprint(col("text")).as("fp"))
      val standing = t.filter(pmod(col("doc_id"), lit(5L)) =!= 0)
      // the deletion-request stream: the %50==1 tombstones split into
      // two micro-batches (both halves non-empty at every fixture —
      // the roll must genuinely cross a batch boundary)
      val inTmpl = OnlineFold.stage(s, "cbsforget_in", d) {
        val tombIn = standing.filter(pmod(col("doc_id"), lit(50L)) === 1)
          .select(col("doc_id"), col("fp"))
        Seq(tombIn.filter(pmod(col("doc_id"), lit(100L)) === 1),
            tombIn.filter(pmod(col("doc_id"), lit(100L)) === 51))
      }
      new java.io.File(s"$root/log").mkdirs()
      OnlineFold.drain(s, root, inTmpl)(bloomForgetLogBatch(s, d, _, _))
      // the one roll: merge the logged tombstone blooms, subtract from
      // the re-read full artifact, persist the stream-rolled live bloom
      val logs = new java.io.File(s"$root/log").listFiles()
        .filter(_.getName.endsWith(".bin")).sortBy(_.getName)
      require(logs.length >= 2,
        s"stream_bloom_forget: expected >= 2 logged tombstone blooms, got ${logs.length}")
      val tombAll = CountingBloom.readFrom(new java.io.FileInputStream(logs.head))
      logs.tail.foreach(f =>
        tombAll.mergeInPlace(CountingBloom.readFrom(new java.io.FileInputStream(f))))
      val live = CountingBloom.readFrom(new java.io.FileInputStream(
        new java.io.File(idxDir, "cb_full.bin")))
      live.subtractInPlace(tombAll)
      val out = new java.io.FileOutputStream(new java.io.File(root, "cb_live_stream.bin"))
      try live.writeTo(out) finally out.close()
      // serve from the RE-READ stream-rolled artifact — the
      // dedup_bloom_seen_delete probe path verbatim
      val batch = t.filter(pmod(col("doc_id"), lit(5L)) === 0)
        .unionByName(standing.filter(pmod(col("doc_id"), lit(25L)) === 1)
          .select((col("doc_id") + 10000000000L).as("doc_id"), col("fp")))
      val liveFps = standing.filter(pmod(col("doc_id"), lit(50L)) =!= 1)
      val bc = s.sparkContext.broadcast[graft.operators.BloomProbe](
        CountingBloom.readFrom(new java.io.FileInputStream(
          new java.io.File(root, "cb_live_stream.bin"))))
      val confirmed = batch.filter(graftMightContain(bc, col("fp")))
        .join(liveFps.select(col("fp")).distinct(), Seq("fp"), "left_semi")
        .select(col("doc_id")).withColumn("hit", lit(true))
      batch.join(confirmed, Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("hit"), lit(false)).as("is_seen"))
        .orderBy(col("doc_id"))
    },
  )

  /** Persisted counting-bloom lifecycle dir: `cb_full.bin` (the
    * distributed treeAggregate build over every standing fingerprint
    * OCCURRENCE — deliberately NOT distinct, see below), and
    * `cb_live.bin` — cb_full RE-READ from disk with the tombstoned
    * (doc_id % 50 = 1) docs' fingerprints decremented out.
    * Built once per JVM per fixture under Staging's accounting.
    *
    * Multiset builds make the forget roll fixture-independent
    * (round-17 ADVICE): with per-slice DISTINCT builds, a fingerprint
    * shared between a tombstoned doc and a surviving doc would be
    * counted once in each bloom and subtract to zero — a false
    * negative for a fp a survivor still holds. Counting every
    * occurrence makes build(standing) − build(tombstoned docs) ==
    * build(surviving docs) a multiset GROUP identity for ANY corpus,
    * duplicates included; probe behavior is unchanged because
    * duplicate fps hash to the same cells (the nonzero-cell pattern —
    * all mightContain ever tests — is identical to the distinct
    * build's). Dropping the two distinct shuffles is free. */
  private[graft] def sharedCountingBloomIndex(
      s: org.apache.spark.sql.SparkSession, d: String): String =
    graft.Staging.onceDir(s, "cbloomidx", d) { p =>
      import graft.operators.CountingBloom
      val standing = bloomStanding(s, d).filter(col("fp").isNotNull)
      val n = bloomExpectedItems(s, d)
      new java.io.File(p).mkdirs()
      val full = CountingBloom.build(
        standing.select(col("fp"))
          .as(org.apache.spark.sql.Encoders.STRING), n, BloomFpp)
      val out = new java.io.FileOutputStream(new java.io.File(p, "cb_full.bin"))
      try full.writeTo(out) finally out.close()
      val live = CountingBloom.readFrom(
        new java.io.FileInputStream(new java.io.File(p, "cb_full.bin")))
      // the forget roll, distributed (round-17 verdict task 1): the
      // tombstoned docs' fps build their OWN counting bloom by the
      // same treeAggregate as the standing build — SAME (n, fpp)
      // sizing, so cells align by construction — and come off
      // cell-wise. Exact for ANY fixture because both builds count
      // fp OCCURRENCES (multisets): build(standing) − build(tombs) ==
      // build(survivors) bit-for-bit (cells are plain sums of
      // per-item increments and the tombstoned docs are a sub-multiset
      // of standing), which CountingBloomSpec gates on serialized
      // bytes. O(1) driver memory at any tombstone-batch size — a
      // 100 TB right-to-be-forgotten batch never rides the driver.
      val tomb = CountingBloom.build(
        standing.filter(pmod(col("doc_id"), lit(50L)) === 1)
          .select(col("fp"))
          .as(org.apache.spark.sql.Encoders.STRING), n, BloomFpp)
      live.subtractInPlace(tomb)
      val out2 = new java.io.FileOutputStream(new java.io.File(p, "cb_live.bin"))
      try live.writeTo(out2) finally out2.close()
    }

  /** Shared oracle of the two seen-fingerprint queries: the answer is
    * defined by the exact semi-join alone (the bloom variants differ
    * only in which persisted artifact proposes candidates). A def,
    * not a val: it is referenced from `defs` above, which initializes
    * first — a val here would still be null at that point. */
  /** Shared oracle of the two forget-roll serves
    * (`dedup_bloom_seen_delete` and its streaming twin
    * `stream_bloom_forget`): the exact semi-join over SURVIVOR
    * fingerprints (tombstones doc_id % 50 = 1 removed) defines the
    * answer; the bloom variants differ only in HOW the live counting
    * bloom was rolled (one-shot subtract vs merged per-batch logs —
    * the same cell sums either way). A def for the same init-order
    * reason as [[BloomSeenSql]]. */
  private def BloomSeenDeleteSql = """
      WITH t AS (SELECT doc_id, md5(lower(trim(text))) AS fp FROM documents),
      batch AS (SELECT doc_id, fp FROM t WHERE doc_id % 5 = 0
                UNION ALL
                SELECT doc_id + 10000000000, fp FROM t WHERE doc_id % 5 <> 0 AND doc_id % 25 = 1),
      s AS (SELECT DISTINCT fp FROM t WHERE doc_id % 5 <> 0 AND doc_id % 50 <> 1)
      SELECT b.doc_id, s.fp IS NOT NULL AS is_seen
      FROM batch b LEFT JOIN s ON s.fp = b.fp
      ORDER BY b.doc_id"""

  private def BloomSeenSql = """
      WITH t AS (SELECT doc_id, md5(lower(trim(text))) AS fp FROM documents),
      batch AS (SELECT doc_id, fp FROM t WHERE doc_id % 5 = 0
                UNION ALL
                SELECT doc_id + 10000000000, fp FROM t WHERE doc_id % 5 <> 0 AND doc_id % 25 = 1),
      s AS (SELECT DISTINCT fp FROM t WHERE doc_id % 5 <> 0)
      SELECT b.doc_id, s.fp IS NOT NULL AS is_seen
      FROM batch b LEFT JOIN s ON s.fp = b.fp
      ORDER BY b.doc_id"""

  /** Fixed fpp of the seen-fingerprint bloom family. Every persisted
    * bloom is sized with the SAME (expectedItems, fpp) pair so their
    * bit arrays and hash counts are merge-compatible and the
    * merge-equals-rebuild gate can compare serialized bytes exactly. */
  private[graft] val BloomFpp = 0.01

  /** Stats-derived expected-items for the bloom: the memoized
    * documents row count (a metadata-only parquet job) upper-bounds
    * the standing set's distinct-fingerprint count, and over-sizing a
    * bloom only LOWERS its fpp — never a correctness risk. Replaces
    * the per-invocation count() action; preferred over maxDocId,
    * which over-sizes ~200x on the sparse-id x100 rehearsal corpus
    * (see SharedText.docCount). */
  private[graft] def bloomExpectedItems(
      s: org.apache.spark.sql.SparkSession, d: String): Long =
    SharedText.docCount(s, d)

  /** Persisted bloom-artifact lifecycle dir (round-16 verdict task 2).
    * Contents, all sized with ([[bloomExpectedItems]], [[BloomFpp]]):
    *   - `full.bloom`    — one-shot build over the whole standing set
    *   - `day1.bloom`    — build over the even-doc_id standing half
    *   - `day2.bloom`    — build over the odd-doc_id standing half
    *     (the planted % 25 == 1 re-crawl sources are odd, so day 2 is
    *     load-bearing: a probe served from day1 alone would silently
    *     drop true dups — BloomSpec proves the merge is what saves it)
    *   - `current.bloom` — day1 RE-READ from disk, day2 merged in via
    *     `mergeInPlace` (bit-OR), re-persisted: the maintained serve
    *     artifact.
    * Honest lifecycle asymmetry: a plain bloom supports APPEND-only
    * maintenance — bit-OR is irreversible, so fingerprint DELETION
    * (the dedup_minhash_index_delete story) requires either a
    * counting bloom (~8× the bits) or a rebuild over the surviving
    * set; since false positives here only cost an exact-join probe
    * (never a wrong answer), the production form tolerates stale
    * positives until the next scheduled rebuild.
    * Built once per JVM per fixture under Staging's shared-build
    * accounting; serialization via the sketch's own
    * writeTo/readFrom. */
  private[graft] def sharedBloomIndex(
      s: org.apache.spark.sql.SparkSession, d: String): String =
    graft.Staging.onceDir(s, "bloomidx", d) { p =>
      val n = bloomExpectedItems(s, d)
      val standing = bloomStanding(s, d).filter(col("fp").isNotNull)
        .localCheckpoint()
      new java.io.File(p).mkdirs()
      persistBloom(p, "full.bloom",
        standing.stat.bloomFilter("fp", n, BloomFpp))
      persistBloom(p, "day1.bloom",
        standing.filter(pmod(col("doc_id"), lit(2L)) === 0)
          .stat.bloomFilter("fp", n, BloomFpp))
      persistBloom(p, "day2.bloom",
        standing.filter(pmod(col("doc_id"), lit(2L)) === 1)
          .stat.bloomFilter("fp", n, BloomFpp))
      val merged = readBloom(p, "day1.bloom")
      merged.mergeInPlace(readBloom(p, "day2.bloom"))
      persistBloom(p, "current.bloom", merged)
    }

  private def persistBloom(dir: String, name: String,
      b: org.apache.spark.util.sketch.BloomFilter): Unit = {
    val out = new java.io.FileOutputStream(new java.io.File(dir, name))
    try b.writeTo(out) finally out.close()
  }

  private[graft] def readBloom(dir: String,
      name: String): org.apache.spark.util.sketch.BloomFilter = {
    val in = new java.io.FileInputStream(new java.io.File(dir, name))
    try org.apache.spark.util.sketch.BloomFilter.readFrom(in)
    finally in.close()
  }

  /** Standing-set fingerprints `(doc_id, fp)` — the bloom family's
    * build side (doc_id % 5 ≠ 0, the same split every incremental
    * index uses). */
  private[graft] def bloomStanding(
      s: org.apache.spark.sql.SparkSession, d: String) =
    Tables.documents(s, d)
      .select(col("doc_id"), fingerprint(col("text")).as("fp"))
      .filter(pmod(col("doc_id"), lit(5L)) =!= 0)

  /** The serve pass shared by both seen-fingerprint queries: re-read
    * the named persisted bloom, broadcast it explicitly, null-safe
    * native-expression prefilter (`graft_might_contain`), exact
    * semi-join confirmation, left-join stamp. */
  private def bloomServeSeen(s: org.apache.spark.sql.SparkSession,
      d: String, bloomFile: String): org.apache.spark.sql.DataFrame = {
    // planted re-crawl ids must not collide with real ids (memoized —
    // one aggregate per JVM per fixture, round-15 ADVICE)
    require(SharedText.maxDocId(s, d) < 10000000000L,
      "documents doc_id >= 1e10 collides with the re-crawl id offset")
    val t = Tables.documents(s, d)
      .select(col("doc_id"), fingerprint(col("text")).as("fp"))
    val standing = t.filter(pmod(col("doc_id"), lit(5L)) =!= 0)
    val batch = t.filter(pmod(col("doc_id"), lit(5L)) === 0)
      .unionByName(standing.filter(pmod(col("doc_id"), lit(25L)) === 1)
        .select((col("doc_id") + 10000000000L).as("doc_id"), col("fp")))
    val bc = s.sparkContext.broadcast[graft.operators.BloomProbe](
      new graft.operators.SparkBloomProbe(readBloom(sharedBloomIndex(s, d), bloomFile)))
    val candidates = batch.filter(graftMightContain(bc, col("fp")))
    val confirmed = candidates
      .join(standing.select(col("fp")).distinct(), Seq("fp"), "left_semi")
      .select(col("doc_id")).withColumn("hit", lit(true))
    batch.join(confirmed, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("hit"), lit(false)).as("is_seen"))
      .orderBy(col("doc_id"))
  }
}
