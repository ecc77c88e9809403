package graft.queries

import graft.Tables
import graft.operators.Multimodal
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Perceptual-hash index lifecycle (round 19) — the persisted-artifact
  * half the multimodal dedup family was missing. Every text/vector
  * dedup family has build → incremental probe → append/delete roll →
  * streaming maintenance; `multimodal_phash_dedup` was a one-shot
  * banded batch. This file gives the IMAGE near-dup artifact the same
  * lifecycle, on the same fixture physics (real PNG payloads, real
  * codec round-trips, md5-derived dHash bits the DuckDB oracle can
  * regenerate arithmetically — reference behavior: the pipeline's
  * dedup-before-load contract, vmhub client re-crawl semantics,
  * main.py:96-118, generalized to media payloads).
  *
  * Fixture geometry (see [[Multimodal.PHash]]): every doc_id is a base
  * image; id % 10 == 0 additionally has a TWIN at id + 10^9 (Hamming 2
  * from its base — inside the ≤3 dedup radius); id % 20 == 0
  * additionally has a RETWIN at id + 2·10^9 (Hamming 2 from the twin,
  * exactly 4 from the base — inside the twin's radius, OUTSIDE the
  * base's). The retwin is what makes index MAINTENANCE non-vacuous: a
  * retwin probe can only hit once its twin has been appended, and a
  * twin probe loses its only hit once its base is tombstoned.
  *
  * Scale shape (the 100 TB contract): the standing index is built once
  * — one decode pass at scan parallelism, 4 pigeonhole band rows per
  * image (any pair within Hamming 3 of a 64-bit hash split into 4
  * bands MUST share a whole band — guaranteed recall, and the exact
  * distance recheck makes precision 1.0), bucket-capped — and probes
  * are O(batch + matched buckets), never O(corpus): the day's banded
  * arrivals BROADCAST into the index scan. */
object PhashQueries {

  // ---- DuckDB oracle fragments ------------------------------------------
  // Same md5-bit arithmetic as multimodal_phash_dedup's oracle (the
  // fixture's ONE source of truth on the SQL side), extended with the
  // retwin generation.

  private def loBits: String =
    raw"""CAST(list_sum([CASE WHEN substr(md5(CAST(id AS VARCHAR) || 'a'), k+1, 1) IN ('1','3','5','7','9','b','d','f') THEN (1::BIGINT << k) ELSE 0 END for k in range(0,32)]) AS BIGINT)"""
  private def hiBits: String =
    raw"""CAST(list_sum([CASE WHEN substr(md5(CAST(id AS VARCHAR) || 'b'), k+1, 1) IN ('1','3','5','7','9','b','d','f') THEN (1::BIGINT << k) ELSE 0 END for k in range(0,32)]) AS BIGINT)"""

  /** XOR `v` with bit positions `pa` and `pb` restricted to one 32-bit
    * half (lo: p < 32 at bit p; hi: p >= 32 at bit p-32). */
  private def flip2(v: String, pa: String, pb: String, hiHalf: Boolean): String =
    if (!hiHalf)
      s"xor(xor($v, CASE WHEN $pa < 32 THEN (1::BIGINT << CAST($pa AS INT)) ELSE 0 END), " +
        s"CASE WHEN $pb < 32 THEN (1::BIGINT << CAST($pb AS INT)) ELSE 0 END)"
    else
      s"xor(xor($v, CASE WHEN $pa >= 32 THEN (1::BIGINT << CAST($pa - 32 AS INT)) ELSE 0 END), " +
        s"CASE WHEN $pb >= 32 THEN (1::BIGINT << CAST($pb - 32 AS INT)) ELSE 0 END)"

  /** CTE chain `ids → pbase → twinb (carries bid) → retwin`: every
    * fixture image's (id, lo, hi) regenerated from md5 arithmetic. */
  private def phashCtes: String = {
    val p1 = "(id % 64)"; val p2 = "((7 * id + 11) % 64)"
    val p3 = "((11 * bid + 5) % 64)"; val p4 = "((13 * bid + 30) % 64)"
    raw"""ids AS (SELECT doc_id AS id FROM documents),
      pbase AS (SELECT id, $loBits AS lo, $hiBits AS hi FROM ids),
      twinb AS (SELECT id AS bid, id + 1000000000 AS id,
                  ${flip2("lo", p1, p2, hiHalf = false)} AS lo,
                  ${flip2("hi", p1, p2, hiHalf = true)} AS hi
                FROM pbase WHERE id % 10 = 0),
      retwin AS (SELECT bid + 2000000000 AS id,
                  ${flip2("lo", p3, p4, hiHalf = false)} AS lo,
                  ${flip2("hi", p3, p4, hiHalf = true)} AS hi
                 FROM twinb WHERE bid % 20 = 0)"""
  }

  /** 4×16-bit pigeonhole band explode (SQL side). */
  private val bandUnnestSql: String =
    "unnest([0 * 65536 + (lo & 65535), 1 * 65536 + ((lo >> 16) & 65535), " +
      "2 * 65536 + (hi & 65535), 3 * 65536 + ((hi >> 16) & 65535)]) AS band"

  /** `ibands → pidx`: the standing index's banded, capped rows — the
    * rebuild form every lifecycle oracle scores against. */
  private def indexCtes: String = raw"""
      ibands AS (SELECT id, lo, hi, $bandUnnestSql FROM pbase),
      pidx AS (SELECT * FROM ibands
               QUALIFY row_number() OVER (PARTITION BY band ORDER BY id) <= 200)"""

  /** Probe CTEs over a day-2/day-3 hash set named `probes(id, lo, hi)`
    * scored against an index CTE named `$idx(id, lo, hi, band)`:
    * band equi-join, exact Hamming ≤ 3 recheck, per-image rollup,
    * roster-preserving left join. */
  private def probeTail(idx: String): String = raw"""
      bbands AS (SELECT id, lo, hi, $bandUnnestSql FROM probes),
      hits AS (SELECT DISTINCT b.id, i.id AS idx_id
               FROM bbands b JOIN $idx i ON i.band = b.band
               WHERE bit_count(xor(b.lo, i.lo)) + bit_count(xor(b.hi, i.hi)) <= 3),
      agg AS (SELECT id, count(*) AS n_index_dups, min(idx_id) AS first_dup
              FROM hits GROUP BY 1)
      SELECT p.id AS img_id, coalesce(n_index_dups, 0) AS n_index_dups, first_dup,
             n_index_dups IS NOT NULL AS is_dup
      FROM probes p LEFT JOIN agg ON agg.id = p.id
      ORDER BY img_id"""

  // ---- Spark-side shared helpers ----------------------------------------

  private def baseIds(s: SparkSession, d: String) =
    Tables.documents(s, d).select(col("doc_id").cast("long"))
      .as(org.apache.spark.sql.Encoders.LONG)

  /** 4×16-bit pigeonhole band explode over a hash frame
    * `(img_id, lo, hi)` — 4 narrow rows per image, band key = 2-bit
    * band index ∘ 16-bit chunk (an 18-bit shuffle key). */
  private[queries] def bandsOfHash(df: DataFrame): DataFrame =
    df.select(col("img_id"), col("lo"), col("hi"),
      explode(array(
        expr("0 * 65536 + (lo & 65535)"),
        expr("1 * 65536 + ((lo >> 16) & 65535)"),
        expr("2 * 65536 + (hi & 65535)"),
        expr("3 * 65536 + ((hi >> 16) & 65535)"))).as("band"))

  /** The PERSISTED standing phash index — all base images decoded,
    * hashed, banded and bucket-capped (a production corpus's degenerate
    * buckets — millions of identical black frames — stay bounded at
    * the cap), written ONCE per JVM and re-read by every lifecycle
    * query (build once, serve many). Returns the artifact path. */
  private[queries] def sharedPhashIndex(s: SparkSession, d: String): String =
    graft.Staging.persist(s, "phidx_shared", d) {
      BandIndex.Phash.capped(bandsOfHash(Multimodal.phashBases(baseIds(s, d))))
    }

  /** Score a banded probe frame against an index frame: the banded
    * probes BROADCAST into the index scan (a daily increment is tiny
    * relative to the standing corpus at any scale — this is the shape
    * that never shuffles the index), band equi-join proposes, the
    * exact Hamming ≤ 3 recheck decides, and multi-band collisions
    * collapse via DISTINCT before the per-image rollup. */
  private[queries] def scoreAgainstPhashIndex(banded: DataFrame, idx: DataFrame): DataFrame = {
    val i = idx.select(col("band"), col("img_id").as("idx_id"),
      col("lo").as("idx_lo"), col("hi").as("idx_hi"))
    broadcast(banded).join(i, Seq("band"))
      .filter(expr("bit_count(lo ^ idx_lo) + bit_count(hi ^ idx_hi)") <= 3)
      .select(col("img_id"), col("idx_id")).distinct()
      .groupBy(col("img_id"))
      .agg(count(lit(1)).as("n_index_dups"), min(col("idx_id")).as("first_dup"))
  }

  /** The pHash roll fold ([[BandIndex.roll]]) over the persisted
    * standing index: arrivals come as hashes `(img_id, lo, hi)` and
    * join as their band rows. Shared by the batch and stream rolls and
    * PlanShapeSpec's guard. */
  private[graft] def phashRollFold(s: SparkSession, d: String,
      tombIds: DataFrame, arrivalHashes: DataFrame): DataFrame =
    BandIndex.Phash.roll(graft.Staging.read(s, sharedPhashIndex(s, d)),
      tombIds, bandsOfHash(arrivalHashes))

  /** `stream_phash_index_roll`'s per-trigger body
    * ([[BandIndex.logBatch]]): arrival payloads decode through the real
    * codec (per-image pure) and log as hashes. */
  private[graft] def phashRollLogBatch(d: String, b: DataFrame, id: Long): Unit =
    BandIndex.Phash.logBatch(graft.Staging.dir("phsroll", d), b, id)(a =>
      Multimodal.dHashFrame(a.select(col("img_id"), col("payload"))))

  /** Roll fixture slices: tombstones = base ids % 40 == 10 (half the
    * day-3 probe twins' bases — the delete must be VISIBLE in the
    * judged serve); arrivals = twins of id % 20 == 0 (the retwin
    * probes' only possible matches — the append must be visible too);
    * day-3 probes = twins of id % 20 == 10 ∪ all retwins, served here
    * against the rolled index `idx`. */
  private def rollServe(s: SparkSession, d: String, idx: DataFrame): DataFrame = {
    val ids = baseIds(s, d)
    val probes = Multimodal.phashTwins(ids.filter((l: java.lang.Long) => l % 20 == 10))
      .unionByName(Multimodal.phashRetwins(ids))
    val docs = Tables.documents(s, d).select(col("doc_id").cast("long").as("id"))
    val roster = docs.filter(pmod(col("id"), lit(20L)) === 10)
      .select((col("id") + 1000000000L).as("img_id"))
      .unionByName(docs.filter(pmod(col("id"), lit(20L)) === 0)
        .select((col("id") + 2000000000L).as("img_id")))
    BandIndex.Phash.serve(scoreAgainstPhashIndex(bandsOfHash(probes), idx), roster)
  }

  /** The rolled artifact's path (batch twin) — built once per JVM;
    * PhashSpec reads it for the stream==batch frame gate. */
  private[graft] def rolledPhashIndex(s: SparkSession, d: String): String =
    graft.Staging.persist(s, "phidx_rolled", d) {
      val ids = baseIds(s, d)
      val tomb = Tables.documents(s, d)
        .filter(pmod(col("doc_id"), lit(40L)) === 10)
        .select(col("doc_id").cast("long").as("img_id"))
      val arrivals = Multimodal.phashTwins(ids.filter((l: java.lang.Long) => l % 20 == 0))
      phashRollFold(s, d, tomb, arrivals)
    }

  /** Shared oracle of the batch roll and its streaming twin: the
    * artifact-true algebra recap((cap(standing) ∖ T) ∪ arrivals) with
    * the day-3 probes served against the rolled index. */
  private def phashRollOracle: String = raw"""
      WITH $phashCtes,
      $indexCtes,
      abands AS (SELECT id, lo, hi, $bandUnnestSql
                 FROM (SELECT id, lo, hi FROM twinb WHERE bid % 20 = 0) arr),
      un AS (SELECT * FROM pidx WHERE id % 40 <> 10
             UNION ALL SELECT * FROM abands),
      ridx AS (SELECT * FROM un
               QUALIFY row_number() OVER (PARTITION BY band ORDER BY id) <= 200),
      probes AS (SELECT id, lo, hi FROM twinb WHERE bid % 20 = 10
                 UNION ALL SELECT id, lo, hi FROM retwin),
      ${probeTail("ridx")}"""

  val defs: Seq[QueryDef] = Seq(

    /** The persisted phash index BUILD, judged as the artifact itself:
      * one real-codec decode pass over the standing image corpus at
      * scan parallelism, 4 pigeonhole band rows per image, bucket cap
      * re-applied (QUALIFY's lowest-200 rule — composition-independent,
      * which is what lets every later append/roll share rebuild-form
      * oracles), written to parquet and RE-READ for the judged output —
      * so the gate covers the artifact's on-disk content, not a lineage
      * replay. At 100 TB the artifact is ~4 narrow rows per image,
      * bucketed by band on disk so probe joins co-locate. */
    QueryDef("multimodal_phash_index", Some(raw"""
      WITH $phashCtes,
      $indexCtes
      SELECT id AS img_id, lo, hi, band FROM pidx ORDER BY img_id, band""")) { (s, d) =>
      graft.Staging.read(s, sharedPhashIndex(s, d))
        .select(col("img_id"), col("lo"), col("hi"), col("band"))
        .orderBy(col("img_id"), col("band"))
    },

    /** Incremental dedup of a day-2 IMAGE batch against the persisted
      * index — the multimodal twin of `dedup_minhash_incremental`: the
      * day's arrivals (every twin — re-crawled near-dups — plus every
      * retwin — re-encodes of not-yet-indexed variants) are decoded and
      * hashed in one O(batch) pass, banded, and BROADCAST into the
      * re-read artifact's scan; the exact Hamming recheck decides.
      * Non-vacuous both ways by construction: every twin hits its base
      * (distance 2), every retwin misses everything (distance 4 from
      * its base — the recheck must REJECT the band collisions the
      * pigeonhole join proposes, so the gate covers the precision path,
      * not just recall). Cost per day: O(batch + matched buckets),
      * never O(corpus). */
    QueryDef("multimodal_phash_incremental", Some(raw"""
      WITH $phashCtes,
      $indexCtes,
      probes AS (SELECT id, lo, hi FROM twinb UNION ALL SELECT id, lo, hi FROM retwin),
      ${probeTail("pidx")}""")) { (s, d) =>
      val ids = baseIds(s, d)
      val day2 = Multimodal.phashTwins(ids)
        .unionByName(Multimodal.phashRetwins(ids))
      val idx = graft.Staging.read(s, sharedPhashIndex(s, d))
      val docs = Tables.documents(s, d).select(col("doc_id").cast("long").as("id"))
      val roster = docs.filter(pmod(col("id"), lit(10L)) === 0)
          .select((col("id") + 1000000000L).as("img_id"))
        .unionByName(docs.filter(pmod(col("id"), lit(20L)) === 0)
          .select((col("id") + 2000000000L).as("img_id")))
      BandIndex.Phash.serve(scoreAgainstPhashIndex(bandsOfHash(day2), idx), roster)
    },

    /** Combined nightly ROLL of the phash index — the maintenance
      * operation every other dedup family already carries, now for the
      * image artifact: the persisted capped index drops its tombstoned
      * images (right-to-be-forgotten base ids, broadcast anti-join —
      * the artifact is never rebuilt from payloads), the night's
      * arrival images (decoded + hashed in one O(batch) pass) union
      * in as band rows, the cap re-applies over the union, the rolled
      * artifact persists, and day-3 probes serve from the RE-READ
      * parquet. Non-vacuous in all three directions by the fixture's
      * Hamming geometry: half the probe twins lose their only match
      * (tombstoned base → is_dup flips false), every retwin GAINS one
      * (its twin is an arrival — distance 2 — while its base, alive,
      * sits at distance 4), and the untouched half keeps its base
      * match. Cost: O(index + tombstones + arrivals) — never the
      * payload corpus; no decode of standing images ever re-runs. */
    QueryDef("multimodal_phash_index_roll", Some(phashRollOracle)) { (s, d) =>
      rollServe(s, d, graft.Staging.read(s, rolledPhashIndex(s, d)))
    },

    /** ONLINE nightly roll — `multimodal_phash_index_roll`'s streaming
      * twin, closing the streaming-maintenance matrix for the LAST
      * artifact family without a cell: the night's traffic arrives as
      * FOUR real micro-batches (two tombstone deltas — ids only, a
      * deletion request has no payload — and two arrival deltas
      * carrying their BINARY image payloads, one staged file each
      * under maxFilesPerTrigger=1). Each trigger does O(batch) work:
      * tombstone ids log as-is; arrival payloads decode through the
      * real codec IN-STREAM (`Multimodal.dHashFrame` — dHash is
      * per-image pure, so a micro-batch computes rows identical to a
      * corpus-wide pass) into batch-id-keyed log dirs (overwrite =
      * idempotent under replay). The standing artifact is NEVER read
      * inside the stream. ONE post-drain fold applies the batch
      * twin's exact algebra — anti-join, union, recap — persists the
      * rolled artifact, and day-3 probes serve from the RE-READ
      * parquet. Stream == batch is exact (the fold is a pure function
      * of the delta sets): the oracle is the batch roll's VERBATIM,
      * and PhashSpec additionally gates the two rolled ARTIFACTS
      * frame-equal. */
    QueryDef("stream_phash_index_roll", Some(phashRollOracle)) { (s, d) =>
      import graft.streaming.OnlineFold
      val spark = s
      import spark.implicits._
      // standing artifact exists BEFORE the stream runs (a production
      // night starts from a standing index, not a lazy build)
      sharedPhashIndex(s, d)
      val root = OnlineFold.freshRoot(s, "phsroll", d)
      // the in-stream PNG decodes still run per sample, per trigger
      val inTmpl = OnlineFold.stage(s, "phsroll_in", d) {
        val docs = Tables.documents(s, d).select(col("doc_id").cast("long").as("id"))
        val tombIn = docs.filter(pmod(col("id"), lit(40L)) === 10)
          .select(lit("tomb").as("kind"), col("id").as("img_id"),
            lit(null).cast("binary").as("payload"))
        val arrIn = baseIds(s, d).flatMap { boxed =>
          val id = boxed.longValue()
          if (id % 20 != 0) None
          else Some(("arrival", id + 1000000000L, Multimodal.twinPng(id)))
        }.toDF("kind", "img_id", "payload")
        Seq(tombIn.filter(pmod(col("img_id"), lit(80L)) === 10),
            tombIn.filter(pmod(col("img_id"), lit(80L)) === 50),
            arrIn.filter(pmod(col("img_id") - 1000000000L, lit(40L)) === 0),
            arrIn.filter(pmod(col("img_id") - 1000000000L, lit(40L)) === 20))
      }
      OnlineFold.drain(s, root, inTmpl)(phashRollLogBatch(d, _, _))
      // the one roll: fold every logged delta into the persisted index
      rollServe(s, d, BandIndex.Phash.rollLogs(s, root,
        "img_id LONG, lo LONG, hi LONG")(phashRollFold(s, d, _, _)))
    }
  )
}
