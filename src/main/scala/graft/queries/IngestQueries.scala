package graft.queries

import graft.Tables
import graft.operators.IngestOps
import org.apache.spark.sql.functions._

/** Part-A ingestion operators exposed as judged queries over the driver
  * fixtures (SURVEY.md §2 Part A). Each query exercises the
  * corresponding [[graft.operators.IngestOps]] function so the oracle
  * check covers the operator itself, not a reimplementation.
  */
object IngestQueries {

  val defs: Seq[QueryDef] = Seq(

    // A6 — daily range enumeration via sequence+explode.
    QueryDef("a06_daily_ranges", Some("""
      WITH b AS (SELECT CAST(min(o_orderdate) AS DATE) AS lo, CAST(max(o_orderdate) AS DATE) AS hi FROM orders),
           d AS (SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE) AS day FROM b)
      SELECT day, CAST(day AS TIMESTAMP) AS day_start, CAST(day + 1 AS TIMESTAMP) AS day_end
      FROM d ORDER BY day""")) { (s, d) =>
      IngestOps.dailyRanges(Tables.orders(s, d), "o_orderdate").orderBy(col("day"))
    },

    // A7/A8 — watermark recovery: max landed partition date.
    QueryDef("a07_watermark", Some("""
      SELECT max(strftime(o_orderdate, '%Y%m%d')) AS watermark FROM orders""")) { (s, d) =>
      IngestOps.watermark(Tables.orders(s, d), "o_orderdate")
    },

    // A7+A15 — incremental batch recompute: the batch twin of
    // a01_landing_stream (reference main.py:195-209 — recover the
    // watermark from the sink, load ONLY newer days, append). June+July
    // 1998 orders are staged as a dt-partitioned source; the sink holds
    // an initial load of dt < 19980701; the increment recovers the
    // watermark FROM THE SINK (a driver scalar — partition metadata,
    // exactly the reference's max-landed-date lookup, never row data),
    // reads only dt > watermark source partitions (PartitionFilters
    // prunes the June directories — plan-guarded in
    // IncrementalPipelineSpec), and lands them via dynamic partition
    // overwrite, so re-running the same increment converges. The
    // oracle is the full June+July slice: any loss (bad pruning), dupe
    // (append instead of overwrite), or watermark drift fails
    // rows+hash.
    QueryDef("a07_incremental_batch", Some("""
      SELECT o_orderkey, o_custkey, o_totalprice, strftime(o_orderdate, '%Y%m%d') AS dt
      FROM orders WHERE o_orderdate >= TIMESTAMP '1998-06-01'
                    AND o_orderdate < TIMESTAMP '1998-08-01'
      ORDER BY o_orderkey""")) { (s, d) =>
      val root = graft.Staging.dir("a07i", d)
      val src = s"$root/source"; val sink = s"$root/sink"
      // two calendar months of dt partitions (June = initial load,
      // July = the increment); the fixture's o_orderdate spans
      // 1995-2001, so the window is bounded on both ends. Round-19:
      // both staged layouts are pure functions of the fixture — built
      // once per JVM and FILE-copied into this query's mutable root
      // (the incremental overwrite below mutates only the copy), where
      // they used to be re-written by two partitioned Spark jobs per
      // bench sample.
      val srcTmpl = graft.Staging.onceDir(s, "a07i_src", d) { p =>
        Tables.orders(s, d)
          .filter(col("o_orderdate") >= to_timestamp(lit("1998-06-01"))
            && col("o_orderdate") < to_timestamp(lit("1998-08-01")))
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
            date_format(col("o_orderdate"), "yyyyMMdd").as("dt"))
          .write.mode("overwrite").partitionBy("dt").parquet(p)
      }
      val juneTmpl = graft.Staging.onceDir(s, "a07i_june", d) { p =>
        IngestOps.readPartitioned(s, srcTmpl).filter(col("dt") < "19980701")
          .write.mode("overwrite").partitionBy("dt").parquet(p)
      }
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(root), true)
      graft.Staging.copyTree(s, srcTmpl, src)
      // initial load: the June days landed by a previous "run" (fresh
      // copy per rep keeps the query idempotent)
      graft.Staging.copyTree(s, juneTmpl, sink)
      val wm = IngestOps.readPartitioned(s, sink)
        .agg(max(col("dt")).as("watermark")).head().getString(0)
      IngestOps.readPartitioned(s, src).filter(col("dt") > wm)
        .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
        .partitionBy("dt").parquet(sink)
      IngestOps.readPartitioned(s, sink)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"), col("dt"))
        .orderBy(col("o_orderkey"))
    },

    // A9+A11+A22 — enrichment projection over the deterministic
    // partitioned path layout (ingestion_timestamp omitted here: it is
    // batch-time-dependent by design, so not oracle-comparable).
    QueryDef("a09_enrich", Some("""
      SELECT o_orderkey,
             'gs://vmhub-data/CNPJ_12345678000190/vendas/' || strftime(o_orderdate, '%Y%m%d')
               || '/response_pg' || CAST(o_orderkey % 100 AS VARCHAR) || '.json' AS gcs_uri,
             'VMHUB' AS source_system
      FROM orders ORDER BY o_orderkey""")) { (s, d) =>
      val path = IngestOps.storagePath(lit("12.345.678/0001-90"), "vendas",
        col("o_orderkey") % 100, col("o_orderdate"))
      IngestOps.enrich(Tables.orders(s, d), concat(lit("gs://vmhub-data/"), path))
        .select(col("o_orderkey"), col("gcs_uri"), col("source_system"))
        .orderBy(col("o_orderkey"))
    },

    // A10 — pushed-down row predicate (the somenteSucesso filter).
    QueryDef("a10_filter", Some("""
      SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
      FROM lineitem
      WHERE l_returnflag = 'R' AND l_shipdate >= TIMESTAMP '1997-01-01'
      ORDER BY l_orderkey, l_linenumber""")) { (s, d) =>
      IngestOps.successOnly(Tables.lineitem(s, d), "l_returnflag", "R")
        .filter(col("l_shipdate") >= to_timestamp(lit("1997-01-01")))
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"), col("l_extendedprice"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    },

    // A16 — key-based latest-wins dedup with deterministic tiebreak.
    QueryDef("a16_dedup", Some("""
      SELECT o_custkey, o_orderkey, o_orderdate FROM (
        SELECT o_custkey, o_orderkey, o_orderdate,
               row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
        FROM orders) WHERE rn = 1 ORDER BY o_custkey""")) { (s, d) =>
      IngestOps.dedupLatest(Tables.orders(s, d), Seq("o_custkey"), "o_orderdate", Seq("o_orderkey"))
        .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"))
        .orderBy(col("o_custkey"))
    },

    // A22 — string normalization (CNPJ-style punctuation strip).
    QueryDef("a22_normalize", Some("""
      SELECT c_custkey, regexp_replace(c_name, '[./-]', '', 'g') AS name_norm,
             '12345678000190' AS cnpj_norm,
             replace('12.345.678/0001-90', '/', '%2F') AS cnpj_url
      FROM customer ORDER BY c_custkey""")) { (s, d) =>
      Tables.customer(s, d).select(col("c_custkey"),
        IngestOps.normalizeCnpj(col("c_name")).as("name_norm"),
        IngestOps.normalizeCnpj(lit("12.345.678/0001-90")).as("cnpj_norm"),
        // A23 — URL-encode (vmhub_client.py:120); '.' and '-' are
        // unreserved so only '/' escapes for the CNPJ domain, which the
        // oracle mirrors with replace()
        url_encode(lit("12.345.678/0001-90")).as("cnpj_url"))
        .orderBy(col("c_custkey"))
    },

    // A24 — date scalar family (format / parse / trunc / arithmetic).
    QueryDef("a24_date_scalars", Some("""
      SELECT o_orderkey,
             strftime(o_orderdate, '%Y%m%d') AS dt_compact,
             strftime(o_orderdate, '%Y-%m-%dT%H:%M:%SZ') AS dt_iso,
             CAST(year(o_orderdate) AS BIGINT) AS y,
             CAST(month(o_orderdate) AS BIGINT) AS m,
             CAST(day(o_orderdate) AS BIGINT) AS dom,
             CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month_start,
             CAST(o_orderdate - INTERVAL 24 MONTH AS DATE) AS two_years_back,
             CAST(date_diff('day', DATE '1995-01-01', o_orderdate) AS BIGINT) AS days_since_epoch_start,
             CAST(strptime(strftime(o_orderdate, '%Y%m%d'), '%Y%m%d') AS DATE) AS roundtrip
      FROM orders ORDER BY o_orderkey""")) { (s, d) =>
      Tables.orders(s, d).select(col("o_orderkey"),
        IngestOps.dtCompact(col("o_orderdate")).as("dt_compact"),
        IngestOps.dtIso(col("o_orderdate")).as("dt_iso"),
        year(col("o_orderdate")).cast("long").as("y"),
        month(col("o_orderdate")).cast("long").as("m"),
        dayofmonth(col("o_orderdate")).cast("long").as("dom"),
        date_trunc("month", col("o_orderdate")).as("month_start"),
        add_months(col("o_orderdate"), -24).as("two_years_back"),
        datediff(col("o_orderdate"), lit("1995-01-01")).cast("long").as("days_since_epoch_start"),
        IngestOps.parseCompact(IngestOps.dtCompact(col("o_orderdate"))).as("roundtrip"))
        .orderBy(col("o_orderkey"))
    },

    // A1+A11-A15 — the DSv2 landing connector under the oracle gate:
    // fixture rows go OUT through the page-file sink (two dt batches)
    // and come BACK through the paginated scan with a dt equality
    // filter, which prunes the other batch's page files by path
    // segment before any read (pushedDt in the scan description —
    // a perf property; row correctness holds either way since dt is
    // also emitted per row and residual-filtered). The oracle is plain
    // SQL over the same fixture rows.
    QueryDef("a01_landing_roundtrip", Some("""
      SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderdate, '19970101' AS dt
      FROM orders WHERE o_orderdate >= TIMESTAMP '1997-01-01'
      ORDER BY o_orderkey""")) { (s, d) =>
      import org.apache.spark.sql.types._
      val root = graft.Staging.dir("a01", d)
      val base = Tables.orders(s, d).select(col("o_orderkey"), col("o_orderstatus"),
        col("o_totalprice"), col("o_orderdate"))
      val cut = to_timestamp(lit("1997-01-01"))
      def dump(dt: String, df: org.apache.spark.sql.DataFrame): Unit =
        df.write.format("graft-landing").mode("overwrite")
          .option("path", root).option("endpoint", "vendas")
          .option("cnpj", "12.345.678/0001-90").option("dt", dt).save()
      dump("19960101", base.filter(col("o_orderdate") < cut))
      dump("19970101", base.filter(col("o_orderdate") >= cut))
      val schema = StructType(Seq(
        StructField("o_orderkey", LongType), StructField("o_orderstatus", StringType),
        StructField("o_totalprice", DoubleType), StructField("o_orderdate", TimestampNTZType)))
      s.read.format("graft-landing").schema(schema)
        .option("path", root).option("endpoint", "vendas").load()
        .filter(col("dt") === "19970101")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
          col("o_orderdate"), col("dt"))
        .orderBy(col("o_orderkey"))
    },

    // A1 streaming read — the connector's MicroBatchStream under the
    // oracle gate: fixture rows already landed as page files (own
    // staging, same layout as a01) are consumed through a REAL
    // readStream over graft-landing (watermark-keyed incremental
    // offsets), drained to a memory sink, and oracle-checked against
    // the source rows.
    QueryDef("a01_landing_stream", Some("""
      SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderdate
      FROM orders ORDER BY o_orderkey""")) { (s, d) =>
      import org.apache.spark.sql.types._
      // READ-ONLY landed layout, dumped once per JVM (round-19, guide
      // §1.2): the judged surface here is the connector's
      // MicroBatchStream READ — the write path has its own judged query
      // (a01_landing_roundtrip, which keeps writing per sample) — and
      // the stream never mutates the page files, so every sample can
      // drain the same deterministic layout with a fresh memory sink
      val root = graft.Staging.onceDir(s, "a01s_in", d) { p =>
        val base = Tables.orders(s, d).select(col("o_orderkey"), col("o_orderstatus"),
          col("o_totalprice"), col("o_orderdate"))
        val cut = to_timestamp(lit("1997-01-01"))
        def dump(dt: String, df: org.apache.spark.sql.DataFrame): Unit =
          df.write.format("graft-landing").mode("overwrite")
            .option("path", p).option("endpoint", "vendas")
            .option("cnpj", "12.345.678/0001-90").option("dt", dt).save()
        dump("19960101", base.filter(col("o_orderdate") < cut))
        dump("19970101", base.filter(col("o_orderdate") >= cut))
      }
      val schema = StructType(Seq(
        StructField("o_orderkey", LongType), StructField("o_orderstatus", StringType),
        StructField("o_totalprice", DoubleType), StructField("o_orderdate", TimestampNTZType)))
      val streamed = s.readStream.format("graft-landing").schema(schema)
        .option("path", root).option("endpoint", "vendas").load()
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"))
      graft.streaming.EventStreams.withStreamConf(s) {
        graft.streaming.EventStreams.runToBatch(s, streamed,
          s"graft_q_a01_stream_${graft.Staging.suffix(d)}")
      }.orderBy(col("o_orderkey"))
    },

    // A1-A5 LIVE-PROTOCOL twin (round-10 verdict item 6): the landing
    // connector proves the file layout; this proves the PAGINATED
    // FETCH itself against the in-process deterministic API
    // (sources/MockApiSource.scala — vmhub_client.py:44-140's
    // semantics without network). One InputPartition per page; pages
    // ≡1 (mod 3) rate-limit their first attempt and pages ≡3 (mod 7)
    // throw a transient 5xx, so every read exercises the
    // retry/backoff path; one page past the end is always planned and
    // must come back empty (the empty-page end-of-data protocol). The
    // oracle regenerates all 1234 records from range() arithmetic —
    // a dropped page, a double-fetched page, or an off-by-one in the
    // pagination window each change the row set and break the hash.
    QueryDef("a01_api_paginated", Some("""
      SELECT CAST(r // 100 AS BIGINT) AS page, CAST(r % 100 AS BIGINT) AS rec_idx,
             CAST(r AS BIGINT) AS id,
             'SKU-' || CAST((r * 2654435761) % 997 AS VARCHAR) AS sku,
             CAST(1 + r % 7 AS BIGINT) AS qty,
             CAST((r * 7919) % 100000 AS BIGINT) AS cents,
             DATE '1997-01-01' + CAST(r % 30 AS INT) AS day,
             (r % 10 <> 7) AS ok
      FROM range(0, 1234) t(r) ORDER BY id""")) { (s, _) =>
      // fresh failure-bookkeeping epoch so EVERY execution (not just
      // the first in a shared JVM) walks the retry path
      graft.sources.MockApiServer.reset()
      s.read.format("graft-mock-api")
        .option("endpoint", "vendas").option("apiKey", "test-key")
        .option("pageSize", "100").option("backoffMs", "1").load()
        .orderBy(col("id"))
    },

    // A1+A10 on the LIVE-protocol path (round-11 verdict missing #1):
    // the reference pushes dataInicio/dataTermino/somenteSucesso into
    // each request (vmhub_client.py:126-131, driven by the daily
    // windows of main.py:215-224) — here the day-range predicate
    // reaches the source through Catalyst's SupportsPushDownFilters
    // and the success filter through the reference's own option
    // surface, and the SERVER repaginates the filtered stream: the
    // scan PLANS only the filtered pages (5 partitions vs 14 — spec-
    // asserted, with the request meter showing fewer fetches). The
    // oracle recomputes the filtered, repaginated stream from range()
    // arithmetic — an engine-side-only filter would break page/rec_idx
    // (they'd index the unfiltered stream), so the hash gates that the
    // filter genuinely executed server-side.
    QueryDef("a01_api_pushdown", Some("""
      WITH f AS (SELECT r, row_number() OVER (ORDER BY r) - 1 AS rn
                 FROM range(0, 1234) t(r)
                 WHERE (r % 30) BETWEEN 9 AND 18 AND (r % 10) <> 7)
      SELECT CAST(rn // 100 AS BIGINT) AS page, CAST(rn % 100 AS BIGINT) AS rec_idx,
             CAST(r AS BIGINT) AS id,
             'SKU-' || CAST((r * 2654435761) % 997 AS VARCHAR) AS sku,
             CAST(1 + r % 7 AS BIGINT) AS qty,
             CAST((r * 7919) % 100000 AS BIGINT) AS cents,
             DATE '1997-01-01' + CAST(r % 30 AS INT) AS day,
             (r % 10 <> 7) AS ok
      FROM f ORDER BY id""")) { (s, _) =>
      graft.sources.MockApiServer.reset()
      s.read.format("graft-mock-api")
        .option("endpoint", "vendas").option("apiKey", "test-key")
        .option("pageSize", "100").option("backoffMs", "1")
        .option("somenteSucesso", "true")
        .load()
        .filter(col("day") >= lit(java.sql.Date.valueOf("1997-01-10")) &&
          col("day") <= lit(java.sql.Date.valueOf("1997-01-19")))
        .orderBy(col("id"))
    },

    // A1+A6 — the reference's BACKFILL SHAPE end-to-end: main.py:
    // 215-224 enumerates daily windows and issues one date-scoped API
    // request per day (dataInicio = dataTermino = the day). Here three
    // consecutive days each become their own server-filtered scan —
    // pagination restarts per window, exactly as each HTTP request
    // does — and the union is the landed backfill. The oracle
    // repaginates per day (row_number PARTITION BY day), so a scan
    // that leaked records across windows, double-fetched a day, or
    // filtered engine-side (breaking per-day page/rec_idx) fails the
    // hash. At scale each day-window is an independent set of page
    // partitions — Spark schedules all days' pages concurrently, the
    // parallelism jump over the reference's sequential day loop (A19).
    QueryDef("a01_api_daily_backfill", Some("""
      WITH f AS (SELECT r, (r % 30) AS dd,
                        row_number() OVER (PARTITION BY (r % 30) ORDER BY r) - 1 AS rn
                 FROM range(0, 1234) t(r)
                 WHERE (r % 30) BETWEEN 4 AND 6)
      SELECT CAST(rn // 100 AS BIGINT) AS page, CAST(rn % 100 AS BIGINT) AS rec_idx,
             CAST(r AS BIGINT) AS id,
             'SKU-' || CAST((r * 2654435761) % 997 AS VARCHAR) AS sku,
             CAST(1 + r % 7 AS BIGINT) AS qty,
             CAST((r * 7919) % 100000 AS BIGINT) AS cents,
             DATE '1997-01-01' + CAST(dd AS INT) AS day,
             (r % 10 <> 7) AS ok
      FROM f ORDER BY day, id""")) { (s, _) =>
      graft.sources.MockApiServer.reset()
      val days = Seq("1997-01-05", "1997-01-06", "1997-01-07")
      days.map { day =>
        s.read.format("graft-mock-api")
          .option("endpoint", "vendas").option("apiKey", "test-key")
          .option("pageSize", "100").option("backoffMs", "1")
          .option("dataInicio", day).option("dataTermino", day)
          .load()
      }.reduce(_ unionByName _)
        .orderBy(col("day"), col("id"))
    },

    // A1 end-of-data variant: the reference treats a persistent 5xx on
    // page > 0 as "no more data" (vmhub_client.py:127-130) — the
    // `truncado` endpoint advertises 500 records but serves only pages
    // 0-1 before a permanent 503, so exactly 200 rows must arrive and
    // the scan must SUCCEED. The oracle is the truncation arithmetic.
    QueryDef("a01_api_truncated", Some("""
      SELECT CAST(r // 100 AS BIGINT) AS page, CAST(r % 100 AS BIGINT) AS rec_idx,
             CAST(r AS BIGINT) AS id,
             'SKU-' || CAST((r * 2654435761) % 997 AS VARCHAR) AS sku,
             CAST(1 + r % 7 AS BIGINT) AS qty,
             CAST((r * 7919) % 100000 AS BIGINT) AS cents,
             DATE '1997-01-01' + CAST(r % 30 AS INT) AS day,
             (r % 10 <> 7) AS ok
      FROM range(0, 200) t(r) ORDER BY id""")) { (s, _) =>
      graft.sources.MockApiServer.reset()
      s.read.format("graft-mock-api")
        .option("endpoint", "truncado").option("apiKey", "test-key")
        .option("pageSize", "100").option("backoffMs", "1").load()
        .orderBy(col("id"))
    },

    // A17 — partitioned+clustered sink under the oracle gate: write a
    // fixture slice through writePartitioned (Hive-style dt= dirs +
    // sortWithinPartitions clustering), read back with a dt range
    // filter (partition-pruned scan: only matching dt= dirs are read),
    // oracle-checked against the same fixture rows. dt is read back as
    // the inferred partition-column int, cast to string for the judged
    // output.
    QueryDef("a17_clustered_sink", Some("""
      SELECT o_orderkey, o_custkey, o_totalprice, strftime(o_orderdate, '%Y%m%d') AS dt
      FROM orders WHERE o_orderdate >= TIMESTAMP '1998-07-15'
                    AND o_orderdate < TIMESTAMP '1998-08-01'
      ORDER BY o_orderkey""")) { (s, d) =>
      val out = graft.Staging.dir("a17", d)
      // one month of days (both ends bounded — the fixture's
      // o_orderdate runs to 2001, so an open tail would stage 1100+
      // dt= dirs and the per-dir commit cost would swamp the query:
      // measured 6.05 s -> ~1 s at sf0.1); 31 dirs still prove the
      // dynamic-overwrite layout and the dt-range pruning on read-back
      val recent = Tables.orders(s, d)
        .filter(col("o_orderdate") >= to_timestamp(lit("1998-07-01"))
          && col("o_orderdate") < to_timestamp(lit("1998-08-01")))
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"), col("o_orderdate"))
      IngestOps.writePartitioned(recent, out, "o_orderdate", Seq("o_custkey"))
      // read-back window bounded on BOTH ends, mirroring the oracle:
      // the sink uses dynamic partition overwrite (the A17 per-day
      // reload semantic), so partitions outside the re-staged window
      // may persist from earlier runs — the dt range prunes them out
      s.read.parquet(out)
        .filter(col("dt") >= 19980715 && col("dt") < 19980801)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          col("dt").cast("string").as("dt"))
        .orderBy(col("o_orderkey"))
    },

    // A19 — inter-table parallel orchestration under the oracle gate:
    // three independent count jobs run through ParallelOps.runIsolated
    // (bounded pool, bounded wait). Any job failure rightly fails THIS
    // query via .get — the isolation property itself (one failure
    // leaves the other outcomes intact) is proven in SourcesSpec.
    QueryDef("a19_parallel_counts", Some("""
      SELECT t, n FROM (
        SELECT 'customer' AS t, count(*) AS n FROM customer
        UNION ALL SELECT 'lineitem', count(*) FROM lineitem
        UNION ALL SELECT 'orders', count(*) FROM orders)
      ORDER BY t""")) { (s, d) =>
      import s.implicits._
      import scala.concurrent.duration._
      val tables = Seq("customer", "lineitem", "orders")
      val outcomes = graft.operators.ParallelOps.runIsolated(
        tables.map(n => () => n -> Tables.table(s, d, n).count()),
        timeout = 300.seconds, spark = Some(s))
      outcomes.map(_.get).toDF("t", "n").orderBy(col("t"))
    },

    // A14 — prefix/glob listing under the oracle gate: the events
    // fixture is staged under TWO sibling directories and read back
    // through one wildcard path (`in/d*/[file]`) — the read must
    // expand the glob across directories, so every event appears
    // exactly twice; the oracle is the same union in SQL. (The
    // reference lists page files by prefix the same way,
    // gcs_helper.py.)
    QueryDef("a14_glob_listing", Some("""
      WITH u AS (SELECT * FROM events UNION ALL SELECT * FROM events)
      SELECT event_id, count(*) AS n_copies FROM u GROUP BY 1 ORDER BY 1""")) { (s, d) =>
      import org.apache.hadoop.fs.{FileUtil, Path}
      // READ-ONLY sibling-dir layout, staged once per JVM (round-19;
      // nothing writes under it — the judged operator is the glob READ)
      val base = graft.Staging.onceDir(s, "a14in", d) { p =>
        val hconf = s.sparkContext.hadoopConfiguration
        val fs = new Path(p).getFileSystem(hconf)
        fs.delete(new Path(p), true)
        for (dir <- Seq("d1", "d2")) {
          fs.mkdirs(new Path(s"$p/in/$dir"))
          FileUtil.copy(fs, new Path(s"$d/events.parquet"),
            fs, new Path(s"$p/in/$dir/part.parquet"), false, hconf)
        }
      }
      Tables.readRawEvents(s, s"$base/in/d*/part.parquet")
        .groupBy(col("event_id")).agg(count(lit(1)).as("n_copies"))
        .orderBy(col("event_id"))
    },

    // A20 — pacing/backpressure under the oracle gate: three staged
    // copies with maxFilesPerTrigger=1 MUST arrive as exactly three
    // micro-batches (the reference's rate ceiling, §2 A20); foreachBatch
    // records (batch_id, n) per batch, so a pacing regression that
    // coalesces files into one batch produces one fat row and fails
    // rows+hash. Copies are identical, so per-batch counts are
    // deterministic regardless of file list order. Each batch lands in
    // its own batch_id-keyed subdirectory with OVERWRITE — foreachBatch
    // is at-least-once, so a replayed batch must converge to the same
    // files, not append a duplicate (batch_id, n) row.
    QueryDef("a20_pacing", Some("""
      SELECT CAST(b AS BIGINT) AS batch_id,
             (SELECT count(*) FROM events) AS n
      FROM (SELECT unnest([0, 1, 2]) AS b) ORDER BY batch_id""")) { (s, d) =>
      import graft.streaming.{EventStreams, OnlineFold}
      val base = EventStreams.stageEventsInput(s, d, "pc", copies = 3)
      // mutable per-sample root (sink + checkpoint) beside the shared
      // read-only staged copies
      val root = OnlineFold.freshRoot(s, "pc", d)
      OnlineFold.drain(s, root, s"$base/in") { (b, id) =>
        b.groupBy().agg(count(lit(1)).as("n"))
          .select(lit(id).as("batch_id"), col("n"))
          .write.mode("overwrite").parquet(s"$root/batches/b$id")
      }
      OnlineFold.readLogs(s, s"$root/batches/b*", "batch_id LONG, n LONG")
        .orderBy(col("batch_id"))
    },

    // A18 — recursive {name,type,mode,fields} schema translation under
    // the oracle gate (reference: bigquery_helper.py:98-107 +
    // settings.py:47-52 file-driven schemas). The JSON schema doc is
    // translated by SchemaTranslator.fromJsonString (REQUIRED /
    // NULLABLE modes, RECORD recursion); the flat fields drive a
    // schema-PROJECTED parquet read (ReadSchema carries only the
    // declared columns — at 100 TB the scan never touches the rest),
    // and the nested RECORD type drives from_json over the embedded
    // JSON column. The oracle does the same projection + extraction in
    // SQL.
    QueryDef("a18_schema_translate", Some("""
      SELECT event_id, event_type, value,
             CAST(json_extract_string(props, '$.k') AS BIGINT) AS prop_k
      FROM events ORDER BY event_id""")) { (s, d) =>
      import graft.operators.SchemaTranslator
      import org.apache.spark.sql.types.{StringType, StructType}
      val st = SchemaTranslator.fromJsonString("""{"schema": [
        {"name": "event_id", "type": "INTEGER", "mode": "REQUIRED"},
        {"name": "event_type", "type": "STRING"},
        {"name": "value", "type": "FLOAT"},
        {"name": "props", "type": "RECORD",
         "fields": [{"name": "k", "type": "INTEGER"}]}]}""")
      // physical read schema: props is a JSON string on disk — swap the
      // translated RECORD for StringType at the scan, then apply the
      // RECORD type via from_json (the reference stores JSON columns as
      // strings the same way; SURVEY.md §1.3)
      val physical = StructType(st.map(f =>
        if (f.name == "props") f.copy(dataType = StringType) else f))
      s.read.schema(physical).parquet(s"$d/events.parquet")
        .select(col("event_id"), col("event_type"), col("value"),
          from_json(col("props"), st("props").dataType.asInstanceOf[StructType])
            .getField("k").as("prop_k"))
        .orderBy(col("event_id"))
    },

    // A5 — poison-record fallback under the oracle gate (reference's
    // 60-line degraded scan, main.py:111-171): NDJSON with planted
    // malformed lines (every c_custkey % 10 == 0 becomes an
    // unterminated JSON string) is read back PERMISSIVE with
    // _corrupt_record; good rows parse, poison rows isolate with their
    // raw text preserved verbatim. Judged output: good/corrupt counts,
    // exact-decimal sum over the good rows only, and the max custkey
    // recovered FROM the corrupt text — provable because the poison
    // lines are derived deterministically from the fixture, so the
    // oracle recomputes all four from the parquet table.
    QueryDef("a05_poison_records", Some("""
      SELECT count(*) FILTER (WHERE c_custkey % 10 <> 0) AS n_good,
             count(*) FILTER (WHERE c_custkey % 10 = 0) AS n_corrupt,
             CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) FILTER (WHERE c_custkey % 10 <> 0) AS DOUBLE) AS good_acctbal,
             max(c_custkey) FILTER (WHERE c_custkey % 10 = 0) AS max_corrupt_key
      FROM customer""")) { (s, d) =>
      import org.apache.spark.sql.types._
      val root = graft.Staging.dir("a05", d)
      Tables.customer(s, d).select(
        when(pmod(col("c_custkey"), lit(10)) === 0,
          concat(lit("{\"c_custkey\": "), col("c_custkey"),
            lit(", \"c_name\": \"unterminated")))
          .otherwise(to_json(struct(col("c_custkey"), col("c_name"), col("c_acctbal"))))
          .as("value"))
        .write.mode("overwrite").text(root)
      val schema = StructType(Seq(
        StructField("c_custkey", LongType), StructField("c_name", StringType),
        StructField("c_acctbal", DoubleType), StructField("_corrupt_record", StringType)))
      s.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(root)
        .agg(
          count(when(col("_corrupt_record").isNull, 1)).as("n_good"),
          count(col("_corrupt_record")).as("n_corrupt"),
          sum(money(col("c_acctbal"))).cast("double").as("good_acctbal"),
          max(regexp_extract(col("_corrupt_record"), "\\d+", 0).cast("long")).as("max_corrupt_key"))
    },

    // CSV source/sink round-trip under the oracle gate (completes the
    // judged format surface next to parquet/NDJSON): fixture rows out
    // through the CSV sink, back through a schema-typed CSV scan. As
    // with NDJSON, the TEXT is engine-specific but the oracle never
    // sees it — shortest-repr doubles parse back bit-identical, so the
    // PARSED values are checked against the source rows.
    QueryDef("csv_roundtrip", Some("""
      SELECT o_orderkey, o_orderstatus, o_totalprice
      FROM orders ORDER BY o_orderkey""")) { (s, d) =>
      val root = graft.Staging.dir("csv", d)
      Tables.orders(s, d).select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        .write.mode("overwrite").option("header", "true").csv(root)
      s.read.schema("o_orderkey LONG, o_orderstatus STRING, o_totalprice DOUBLE")
        .option("header", "true").csv(root)
        .orderBy(col("o_orderkey"))
    },

    // ORC source/sink round-trip — the second columnar format Spark
    // ships natively; proves the engine's format surface is not
    // parquet-specific (same pushdown/pruning machinery via the ORC
    // DSv2 source). Values identical by construction: columnar binary
    // round-trip, no text re-parse involved.
    QueryDef("orc_roundtrip", Some("""
      SELECT o_orderkey, o_orderstatus, o_totalprice
      FROM orders WHERE o_totalprice > 100000 ORDER BY o_orderkey""")) { (s, d) =>
      val root = graft.Staging.dir("orc", d)
      Tables.orders(s, d).select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        .write.mode("overwrite").orc(root)
      // filter AFTER the round-trip: the predicate pushes into the ORC
      // scan (PushedFilters), same as the parquet path
      s.read.orc(root)
        .filter(col("o_totalprice") > 100000)
        .orderBy(col("o_orderkey"))
    },

    // A12/A13 — NDJSON serialize/deserialize roundtrip. The JSON TEXT
    // is engine-specific (key order, float formatting), but the oracle
    // never sees it: to_json→from_json is value-exact (shortest-repr
    // doubles parse back bit-identical), so the PARSED output is
    // checked directly against the source rows.
    QueryDef("a12_ndjson_roundtrip", Some("""
      SELECT o_orderkey, o_orderstatus, o_totalprice
      FROM orders ORDER BY o_orderkey""")) { (s, d) =>
      import org.apache.spark.sql.types._
      val o = Tables.orders(s, d).select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      val schema = StructType(Seq(StructField("o_orderkey", LongType),
        StructField("o_orderstatus", StringType), StructField("o_totalprice", DoubleType)))
      IngestOps.toNdjson(o)
        .select(from_json(col("json"), schema).as("r"))
        .select(col("r.o_orderkey").as("o_orderkey"), col("r.o_orderstatus").as("o_orderstatus"),
          col("r.o_totalprice").as("o_totalprice"))
        .orderBy(col("o_orderkey"))
    },

    // A21 — per-tenant KV config lookup (firestore_helper.py:8-28),
    // the last SURVEY §2 row, now a judged dataflow op. The settings
    // store (operators/ConfigStore.scala) is staged as a real parquet
    // document table and read BACK here — the lookup is a BROADCAST
    // hash join (the store is O(tenants): KBs–MBs at any corpus scale,
    // so a billion-row worklist resolves with zero shuffle; the final
    // global sort is the only exchange). The reference's two ValueError
    // modes (missing document firestore_helper.py:18; missing/EMPTY
    // vmhubToken or cnpj :24 — `if not tok or not cnpj` treats '' like
    // absent) surface as a per-row `error` column with the reference's
    // message shape — the PERMISSIVE translation of fail-fast, same
    // stance as A5's _corrupt_record; the strict scalar API itself
    // (throws, returns the pair) is ConfigStore.getCustomerData,
    // spec-gated in ConfigStoreSpec. The oracle regenerates the staged
    // store from the same customer-key arithmetic, so a row lost or
    // mangled in the parquet round-trip breaks the hash.
    QueryDef("a21_config_lookup", Some("""
      WITH store AS (
        SELECT 'u' || CAST(c_custkey AS VARCHAR) AS user_id,
               CASE WHEN c_custkey % 7 = 2 THEN ''
                    ELSE 'tok-' || CAST((c_custkey * 2654435761) % 1000000007 AS VARCHAR) END AS tok,
               CASE WHEN c_custkey % 11 = 5 THEN NULL
                    ELSE lpad(CAST((c_custkey * 7919) % 100000000000000 AS VARCHAR), 14, '0') END AS cnpj
        FROM customer WHERE c_custkey % 5 <> 3),
      looked AS (
        SELECT 'u' || CAST(c.c_custkey AS VARCHAR) AS user_id, s.user_id AS hit, s.tok, s.cnpj
        FROM customer c LEFT JOIN store s ON s.user_id = 'u' || CAST(c.c_custkey AS VARCHAR))
      SELECT user_id,
        CASE WHEN hit IS NOT NULL AND tok IS NOT NULL AND tok <> '' AND cnpj IS NOT NULL AND cnpj <> '' THEN tok END AS vmhub_token,
        CASE WHEN hit IS NOT NULL AND tok IS NOT NULL AND tok <> '' AND cnpj IS NOT NULL AND cnpj <> '' THEN cnpj END AS cnpj,
        CASE WHEN hit IS NULL THEN 'no config document found at /users/' || user_id || '/config/settings'
             WHEN tok IS NULL OR tok = '' OR cnpj IS NULL OR cnpj = ''
               THEN 'config document at /config/settings is missing ''vmhubToken'' or ''cnpj'''
             END AS error
      FROM looked ORDER BY user_id""")) { (s, d) =>
      val store = graft.operators.ConfigStore.store(s, d)
        .select(col("user_id").as("hit"),
          element_at(col("settings"), "vmhubToken").as("tok"),
          element_at(col("settings"), "cnpj").as("cnpj_v"))
      val worklist = Tables.customer(s, d)
        .select(concat(lit("u"), col("c_custkey").cast("string")).as("user_id"))
      val ok = col("hit").isNotNull && col("tok").isNotNull && col("tok") =!= "" &&
        col("cnpj_v").isNotNull && col("cnpj_v") =!= ""
      worklist.join(broadcast(store), col("user_id") === col("hit"), "left")
        .select(col("user_id"),
          when(ok, col("tok")).as("vmhub_token"),
          when(ok, col("cnpj_v")).as("cnpj"),
          when(col("hit").isNull,
            concat(lit("no config document found at /users/"), col("user_id"),
              lit("/config/settings")))
            .when(col("tok").isNull || col("tok") === "" ||
                col("cnpj_v").isNull || col("cnpj_v") === "",
              lit(graft.operators.ConfigStore.MissingField))
            .as("error"))
        .orderBy(col("user_id"))
    },
  )
}
