package graft.queries

import graft.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Second event-analytics batch: sequence/path mining, statistical
  * anomaly detection over exact integer sums, and SCD2 history
  * construction — the change-tracking complement to `merge_upsert`.
  */
object EventQueries2 {

  /** Finalized-session oracle shared VERBATIM by `stream_session_window`
    * (built-in session_window) and `stream_tws_session_timers` (the
    * same semantics hand-built on state-v2 event-time timers): the
    * batch 30-min-gap sessionization RESTRICTED to sessions the final
    * watermark (max ts − 1h) has closed. Sharing the oracle makes the
    * two implementations provably emission-equivalent. The watermark
    * CTE floors max(ts) to MILLISECONDS first (epoch_ms →
    * make_timestamp) because Spark truncates event times to ms before
    * deriving the watermark — a session ending inside the sub-ms
    * truncation window would otherwise be finalized by the oracle but
    * still held in state by Spark (round-9 ADVICE; data-dependent,
    * bit-aligns the two engines for any fixture precision). */
  private[queries] val FinalizedSessionsOracle: String = """
      WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events),
      f AS (SELECT *, lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us FROM e),
      g AS (SELECT *, CASE WHEN prev_us IS NULL OR epoch_us(ts) - prev_us > 1800000000 THEN 1 ELSE 0 END AS new_s FROM f),
      h AS (SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS sid FROM g),
      sess AS (SELECT user_id, min(ts) AS session_start, max(ts) + INTERVAL 30 MINUTE AS session_end,
                      count(*) AS n_events,
                      CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
               FROM h GROUP BY user_id, sid),
      wm AS (SELECT make_timestamp(epoch_ms(max(CAST(ts AS TIMESTAMP))) * 1000) - INTERVAL 1 HOUR AS w FROM events)
      SELECT user_id, session_start, session_end, n_events, total_value
      FROM sess, wm WHERE session_end <= w
      ORDER BY user_id, session_start"""

  val defs: Seq[QueryDef] = Seq(

    /** Clickstream path mining: each user's first five events (in time
      * order) become a path string, then paths are ranked by frequency.
      * A `row_number() <= 5` pre-limit runs BEFORE the groupBy, so
      * per-user aggregation state is O(5), never O(events-per-user) —
      * without it, one power-law hot user's collect_list OOMs an
      * executor at 100 TB even though only 5 elements survive the
      * slice. The window and the groupBy share the same user_id
      * shuffle, and Spark plans the rn<=5 filter as a partial+final
      * WindowGroupLimit (top-5-per-key pushdown — plan-guarded in
      * PlanShapeSpec), so the bound is nearly free. The window order
      * is (ts, event_id, event_type) — event_type as the final
      * tiebreak makes the order total BY CONSTRUCTION even if a
      * fixture ever carried duplicate (ts, event_id) pairs, so Spark's
      * row_number pick and the oracle's list slice can never tie-break
      * differently; the surviving 5 rows — and the path built from
      * their struct sort — are deterministic under parallel
      * collection. */
    QueryDef("events_top_paths", Some("""
      WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, event_type FROM events),
      p AS (SELECT user_id,
              array_to_string(list(event_type ORDER BY ts, event_id, event_type)[1:5], '>') AS path
            FROM e GROUP BY 1)
      SELECT path, count(*) AS n_users FROM p GROUP BY 1
      ORDER BY n_users DESC, path""")) { (s, d) =>
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"), col("event_type"))
      val first5 = Tables.events(s, d)
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .withColumn("__rn", row_number().over(w)).filter(col("__rn") <= 5).drop("__rn")
      val perUser = first5
        .groupBy(col("user_id"))
        .agg(array_join(
          transform(
            array_sort(collect_list(struct(col("ts"), col("event_id"), col("event_type")))),
            x => x.getField("event_type")),
          ">").as("path"))
      perUser.groupBy(col("path")).agg(count(lit(1)).as("n_users"))
        .orderBy(col("n_users").desc, col("path"))
    },

    /** Z-score anomaly detection per event type. Parity strategy: the
      * 2dp `value` quantizes losslessly to integer cents, so sum and
      * sum-of-squares are EXACT integers (order-independent — a double
      * sum would hash-mismatch); mean/variance/z then run one identical
      * double chain on both engines. The stats frame is 5 rows →
      * broadcast back onto the fact scan: one aggregate + one broadcast
      * join, no second fact shuffle at any scale. */
    QueryDef("events_anomaly", Some("""
      WITH c AS (SELECT event_id, event_type, value,
                   CAST(round(value * 100) AS BIGINT) AS cents FROM events),
      st AS (SELECT event_type, CAST(sum(cents) AS BIGINT) AS sc,
                    CAST(sum(cents * cents) AS BIGINT) AS sq, count(*) AS n
             FROM c GROUP BY 1),
      z AS (SELECT c.event_id, c.event_type, c.value,
              (CAST(c.cents AS DOUBLE) - CAST(st.sc AS DOUBLE) / st.n)
                / sqrt(CAST(st.sq AS DOUBLE) / st.n
                       - (CAST(st.sc AS DOUBLE) / st.n) * (CAST(st.sc AS DOUBLE) / st.n)) AS zs
            FROM c JOIN st USING (event_type))
      SELECT event_id, event_type, value, zs AS z
      FROM z WHERE abs(zs) > 2 ORDER BY event_id""")) { (s, d) =>
      val c = Tables.events(s, d).select(col("event_id"), col("event_type"), col("value"),
        round(col("value") * 100).cast("long").as("cents"))
      val st = c.groupBy(col("event_type"))
        .agg(sum(col("cents")).as("sc"), sum(col("cents") * col("cents")).as("sq"),
          count(lit(1)).as("n"))
      val mean = col("sc").cast("double") / col("n")
      val z = (col("cents").cast("double") - mean) /
        sqrt(col("sq").cast("double") / col("n") - mean * mean)
      c.join(broadcast(st), "event_type")
        .withColumn("z", z)
        .filter(abs(col("z")) > 2)
        .select(col("event_id"), col("event_type"), col("value"), col("z"))
        .orderBy(col("event_id"))
    },

    /** Checkpoint crash-resume under the oracle gate — the reference's
      * core operational semantic (resume from watermark after a stopped
      * run; /root/reference/src/main.py:195-209, gcs_helper.py:203-241).
      * Deterministic two-run protocol, no sleeps or stop races:
      * run 1 sees ONLY half A of the events fixture and drains it to a
      * parquet file sink (Trigger.AvailableNow, exactly-once via the
      * sink's _spark_metadata commit log); half B is then staged and
      * run 2 starts from the SAME checkpoint and drains. If resume is
      * broken — the restarted query reprocessing half A — the append
      * sink holds those rows twice and the row count + hash fail. The
      * oracle is a plain SELECT of the full fixture. */
    QueryDef("stream_restart_resume", Some("""
      SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value
      FROM events ORDER BY event_id""")) { (s, d) =>
      import graft.streaming.EventStreams
      import org.apache.spark.sql.streaming.Trigger
      val base = EventStreams.prepareRestartBase(s, d, "rr")
      val out = s"$base/out"
      def drain(label: String): Unit = EventStreams.withStreamConf(s) {
        EventStreams.awaitOrKill(
          EventStreams.readEvents(s, s"$base/in")
            .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", s"$base/ckpt")
            .trigger(Trigger.AvailableNow())
            .start(),
          s"stream_restart_resume($label)")
      }
      EventStreams.stageParityHalf(s, d, base, "a", parity = 0)
      drain("initial")   // commits half A, terminates (simulated crash point)
      EventStreams.stageParityHalf(s, d, base, "b", parity = 1)
      drain("resumed")   // SAME checkpoint: must process ONLY half B
      s.read.parquet(out)
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
        .orderBy(col("event_id"))
    },

    /** Stateful checkpoint-resume: stream_restart_resume proves source
      * OFFSETS survive a restart; this proves AGGREGATION STATE does.
      * The events fixture is split by event_id PARITY, so every hourly
      * window has rows in both halves: run 1 aggregates half A and
      * stops; run 2 restarts from the same checkpoint — on the RocksDB
      * state store — and folds half B into the RESTORED window state.
      * Update-mode rows land in the latest-wins idempotent sink keyed
      * by (window_start, event_type) with the monotone count as the
      * winner; if state were lost on restart, every window would hold
      * a half-A-only or half-B-only count and the oracle (the plain
      * batch aggregate over the full fixture) would hash-mismatch.
      * Counts and EXACT decimal sums only, so emission order cannot
      * perturb values. No watermark by design: both runs cover the
      * same event-time range, so eviction would drop half B as late —
      * production pairs this with a watermark sized to the replay
      * horizon (state here is O(windows × types), not O(rows)). */
    QueryDef("stream_restart_stateful", Some("""
      SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS window_start, event_type,
             count(*) AS n,
             CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      FROM events GROUP BY 1, 2 ORDER BY 1, 2""")) { (s, d) =>
      import graft.streaming.{EventStreams, StatefulOps}
      import org.apache.spark.sql.streaming.Trigger
      val base = EventStreams.prepareRestartBase(s, d, "rs")
      val sink = s"$base/merged"
      def drain(label: String): Unit = EventStreams.withStreamConf(s, extra = EventStreams.RocksDbState) {
        val agg = EventStreams.readEvents(s, s"$base/in")
          .groupBy(window(col("ts"), "1 hour"), col("event_type"))
          .agg(count(lit(1)).as("n"), sum(money(col("value"))).as("tv"))
          .select(col("window.start").as("window_start"), col("event_type"),
            col("n"), col("tv").cast("double").as("total_value"))
        EventStreams.awaitOrKill(
          StatefulOps.idempotentSink(agg, sink,
            keys = Seq("window_start", "event_type"), orderCol = "n", tiebreaks = Nil)
            .outputMode("update")
            .option("checkpointLocation", s"$base/ckpt")
            .trigger(Trigger.AvailableNow())
            .start(),
          s"stream_restart_stateful($label)")
      }
      EventStreams.stageParityHalf(s, d, base, "a", parity = 0)
      drain("initial")
      EventStreams.stageParityHalf(s, d, base, "b", parity = 1)
      drain("resumed")
      s.read.parquet(sink)
        .select(col("window_start"), col("event_type"), col("n"), col("total_value"))
        .orderBy(col("window_start"), col("event_type"))
    },

    /** SCD2 (slowly-changing-dimension type 2) history: each event is a
      * state observation; valid_from/valid_to intervals come from one
      * lead() window per user, with the open-ended row flagged current.
      * One shuffle+sort on user_id builds the entire history — the
      * standard way to materialize CDC streams into queryable
      * point-in-time tables. */
    QueryDef("scd2_history", Some("""
      WITH e AS (SELECT user_id, event_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM events)
      SELECT user_id, event_id, event_type AS state, ts AS valid_from,
             lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to,
             lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL AS is_current
      FROM e ORDER BY user_id, valid_from, event_id""")) { (s, d) =>
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      Tables.events(s, d)
        .select(col("user_id"), col("event_id"), col("event_type").as("state"),
          col("ts").as("valid_from"),
          lead(col("ts"), 1).over(w).as("valid_to"))
        .withColumn("is_current", col("valid_to").isNull)
        .orderBy(col("user_id"), col("valid_from"), col("event_id"))
    },

    /** Streaming observability under the oracle gate (A25's streaming
      * half made judgeable): three identical copies of the events
      * fixture are staged, and with `maxFilesPerTrigger=1` each
      * arrives as its own micro-batch — so the [[StreamMetrics]]
      * listener must report EXACTLY batches 0, 1, 2, each with exactly
      * the fixture's row count. The judged output IS the listener's
      * per-batch record; the oracle reconstructs it from the batch
      * table (3 × count(*)). Listener delivery is async on the driver
      * bus, so the builder polls bounded for the three batch records;
      * bench reps re-run the same query in one JVM, so the record is
      * deduped by value (identical across reps by construction —
      * fresh temp checkpoint ⇒ batch ids restart at 0). */
    QueryDef("stream_observe_metrics", Some("""
      SELECT t.b AS batch_id, (SELECT count(*) FROM events) AS input_rows
      FROM (SELECT unnest(generate_series(0, 2)) AS b) t ORDER BY batch_id""")) { (s, d) =>
      import graft.streaming.{EventStreams, StreamMetrics}
      val base = EventStreams.stageEventsInput(s, d, "obsm", copies = 3)
      val name = s"graft_q_obsm_${graft.Staging.suffix(d)}"
      EventStreams.withStreamConf(s) {
        EventStreams.runToBatch(s, EventStreams.readEvents(s, s"$base/in")
          .select(col("event_id")), name)
      }
      val deadline = System.currentTimeMillis() + 30000
      def got() = StreamMetrics.forQuery(name).map(m => (m.batchId, m.inputRows)).distinct
      while (got().size < 3 && System.currentTimeMillis() < deadline) Thread.sleep(100)
      import s.implicits._
      got().toDF("batch_id", "input_rows").orderBy(col("batch_id"))
    },

    /** Stream-static join — the dimension-enrichment pattern every
      * production stream runs: a REAL event stream joins the static
      * customer table per micro-batch, no state store involved (the
      * static side is re-resolvable each batch, so unlike a
      * stream-stream join there is nothing to expire). The dimension
      * is broadcast — the stream side never shuffles in the join; per-
      * batch enriched rows drain to the sink and the final per-segment
      * rollup is batch work over the drained output. At 100 TB the
      * pattern is identical: dims broadcast, and a too-big dim becomes
      * the stream-stream or foreachBatch-merge shape instead. Money
      * stays exact-decimal until one final double cast (oracle
      * parity). */
    QueryDef("stream_static_join", Some("""
      SELECT c.c_mktsegment, count(*) AS n_events,
             CAST(sum(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      FROM events e JOIN customer c ON c.c_custkey = e.user_id
      GROUP BY 1 ORDER BY 1""")) { (s, d) =>
      import graft.streaming.EventStreams
      val base = EventStreams.stageEventsInput(s, d, "ssjoin")
      val dim = Tables.customer(s, d).select(col("c_custkey"), col("c_mktsegment"))
      val enriched = EventStreams.readEvents(s, s"$base/in")
        .join(broadcast(dim), col("user_id") === col("c_custkey"))
        .select(col("c_mktsegment"), money(col("value")).as("v"))
      EventStreams.withStreamConf(s) {
        // Staging.suffix: injective per input dir (hashCode is not —
        // collisions would alias distinct data dirs' memory sinks)
        EventStreams.runToBatch(s, enriched, s"graft_q_ssjoin_${graft.Staging.suffix(d)}")
      }.groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_events"), sum(col("v")).cast("double").as("total_value"))
        .orderBy(col("c_mktsegment"))
    },

    /** Watermark LATE-DATA DROP — the one streaming semantic the other
      * stream queries never isolate: an out-of-order batch arriving
      * entirely below the watermark must contribute NOTHING. Four
      * single-file micro-batches (mtime-ordered, maxFilesPerTrigger=1):
      * Jan-1, Jan-19, Jan-20 events in order, then Jan-10 — ten days
      * out of order, every row below the watermark, silently dropped
      * per the contract. The Jan-19 spacer batch matters: Spark keeps
      * TWO watermarks per batch (SPARK-24634) — late-event filtering
      * uses the PREVIOUS batch's watermark (one batch of lenience),
      * eviction the current one — so the late file must arrive two
      * batches after the watermark passed it, or it would be admitted
      * and instantly evicted-emitted. Append mode emits a 1h window
      * only once the watermark passes its end, so the judged sink
      * holds: all Jan-1/Jan-19 windows, Jan-20 windows except the
      * watermark-held tail, and NO Jan-10 window at all — the oracle
      * reconstructs exactly that set from the fixture (max over the
      * on-time days − 1h as the final watermark). At 100 TB this is
      * the semantic that bounds state: without the drop, state grows
      * with the full out-of-orderness of the input. */
    QueryDef("stream_watermark_late_drop", Some("""
      WITH e AS (SELECT CAST(ts AS TIMESTAMP) AS ts, event_type FROM events
                 WHERE CAST(CAST(ts AS TIMESTAMP) AS DATE) = DATE '2024-01-01'
                    OR CAST(CAST(ts AS TIMESTAMP) AS DATE) = DATE '2024-01-19'
                    OR CAST(CAST(ts AS TIMESTAMP) AS DATE) = DATE '2024-01-20'),
      wm AS (SELECT max(ts) - INTERVAL 1 HOUR AS w FROM e)
      SELECT date_trunc('hour', ts) AS window_start, event_type, count(*) AS n
      FROM e, wm
      WHERE date_trunc('hour', ts) + INTERVAL 1 HOUR <= w
      GROUP BY 1, 2 ORDER BY 1, 2""")) { (s, d) =>
      import graft.streaming.EventStreams
      import org.apache.hadoop.fs.{FileUtil, Path}
      // READ-ONLY staged input, a pure function of (fixture, day
      // grouping) — built once per JVM (round-19: the four per-day
      // filter+write Spark jobs used to run per bench sample; the
      // stream never writes under this dir, so it shares safely —
      // the stageDayFiles precedent). Memory sink ⇒ no standing
      // checkpoint; every sample still replays all four micro-batches.
      val base = graft.Staging.onceDir(s, "wmdropin", d) { p =>
        val conf = s.sparkContext.hadoopConfiguration
        val fs = new Path(p).getFileSystem(conf)
        fs.delete(new Path(p), true)
        fs.mkdirs(new Path(p, "in"))
        val ev = Tables.events(s, d).select(col("ts"), col("event_type"))
        val t0 = System.currentTimeMillis()
        Seq("2024-01-01", "2024-01-19", "2024-01-20", "2024-01-10").zipWithIndex.foreach { case (day, i) =>
          val tmp = s"$p/stage$i"
          ev.filter(to_date(col("ts")) === day).coalesce(1)
            .write.mode("overwrite").parquet(tmp)
          val part = fs.globStatus(new Path(s"$tmp/part-*.parquet")).head.getPath
          val dst = new Path(s"$p/in/f$i.parquet")
          FileUtil.copy(fs, part, fs, dst, false, conf)
          // the file source replays oldest-mtime first: pin the order
          fs.setTimes(dst, t0 + i * 60000L, -1)
        }
      }
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("ts",
          org.apache.spark.sql.types.TimestampType),
        org.apache.spark.sql.types.StructField("event_type",
          org.apache.spark.sql.types.StringType)))
      val agg = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$base/in")
        .withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(col("window.start").as("window_start"), col("event_type"), col("n"))
      EventStreams.withStreamConf(s) {
        EventStreams.runToBatch(s, agg,
          s"graft_q_wmdrop_${graft.Staging.suffix(d)}", outputMode = "append")
      }.orderBy(col("window_start"), col("event_type"))
    },

    /** Stream-stream LEFT OUTER join — the state-expiry semantic the
      * inner `stream_stream_join` can't show: a purchase with no click
      * in its preceding hour is emitted WITH NULLS only once the
      * watermark proves no matching click can still arrive (click
      * watermark past the purchase's ts); matched pairs emit
      * immediately. Purchases younger than the final watermark and
      * unmatched are still held in state when the stream drains — they
      * are NOT in the output, and the oracle reproduces exactly that:
      * n_clicks > 0 (matched) OR p_ts < min(max_purchase_ts,
      * max_click_ts) − 2h (expired unmatched). At 100 TB the expiry IS
      * the operator: without it, outer-join state grows with the whole
      * unmatched history. The null-emission happens in the no-data
      * micro-batch Spark triggers after the watermark advances
      * (processAllAvailable drains it). */
    QueryDef("stream_stream_left_join", Some("""
      WITH e AS (SELECT event_id, user_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM events),
      p AS (SELECT * FROM e WHERE event_type = 'purchase'),
      c AS (SELECT * FROM e WHERE event_type = 'click'),
      wm AS (SELECT least((SELECT max(ts) FROM p), (SELECT max(ts) FROM c))
                    - INTERVAL 2 HOUR AS w),
      j AS (SELECT p.event_id, p.ts AS p_ts, c.user_id AS matched
            FROM p LEFT JOIN c ON c.user_id = p.user_id
              AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts < p.ts),
      g AS (SELECT event_id, max(p_ts) AS p_ts, count(matched) AS n_clicks
            FROM j GROUP BY 1)
      SELECT event_id, CAST(n_clicks AS BIGINT) AS n_clicks
      FROM g, wm WHERE n_clicks > 0 OR p_ts < w
      ORDER BY event_id""")) { (s, d) =>
      import graft.streaming.EventStreams
      val base = EventStreams.stageEventsInput(s, d, "sslj")
      val ev = EventStreams.readEvents(s, s"$base/in")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("p_id"), col("user_id").as("p_user"), col("ts").as("p_ts"))
        .withWatermark("p_ts", "2 hours")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id").as("c_user"), col("ts").as("c_ts"))
        .withWatermark("c_ts", "2 hours")
      val joined = purchases.join(clicks,
        col("c_user") === col("p_user") &&
          col("c_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
          col("c_ts") < col("p_ts"),
        "left_outer")
      EventStreams.withStreamConf(s) {
        EventStreams.runToBatch(s, joined, s"graft_q_sslj_${graft.Staging.suffix(d)}")
      }.groupBy(col("p_id")).agg(count(col("c_user")).as("n_clicks"))
        .select(col("p_id").as("event_id"), col("n_clicks"))
        .orderBy(col("event_id"))
    },

    /** Stream-stream FULL OUTER interval join — completes the
      * stream-join family (inner: stream_stream_join, left:
      * stream_stream_left_join). Null rows surface from BOTH sides'
      * evicted state: an unmatched purchase emits once the global
      * watermark `w = least(max p_ts, max c_ts) − 2h` passes its
      * p_ts (same eviction rule the left oracle proved), and an
      * unmatched click emits once `w` passes `c_ts + 1h` — the point
      * where no future purchase can satisfy `p_ts ∈ (c_ts, c_ts+1h]`,
      * i.e. the interval bound itself sets the click-side state
      * lifetime. The drained rows reduce to three audited classes
      * (matched pairs / purchase-only / click-only) with id checksums,
      * so the oracle hash pins both the match set AND each side's
      * eviction boundary. At 100 TB both sides shuffle once on
      * user_id; state is bounded by watermark + interval exactly as
      * the inner variant. */
    QueryDef("stream_stream_full_join", Some("""
      WITH e AS (SELECT event_id, user_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM events),
      p AS (SELECT * FROM e WHERE event_type = 'purchase'),
      c AS (SELECT * FROM e WHERE event_type = 'click'),
      wm AS (SELECT least((SELECT max(ts) FROM p), (SELECT max(ts) FROM c))
                    - INTERVAL 2 HOUR AS w),
      m AS (SELECT p.event_id AS p_id, c.user_id AS c_user
            FROM p JOIN c ON c.user_id = p.user_id
              AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts < p.ts),
      pu AS (SELECT p.event_id AS p_id FROM p, wm
             WHERE p.ts < w AND NOT EXISTS (
               SELECT 1 FROM c WHERE c.user_id = p.user_id
                 AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts < p.ts)),
      cu AS (SELECT c.user_id AS c_user FROM c, wm
             WHERE c.ts + INTERVAL 1 HOUR < w AND NOT EXISTS (
               SELECT 1 FROM p WHERE p.user_id = c.user_id
                 AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts < p.ts)),
      u AS (SELECT 'matched' AS kind, p_id AS id FROM m
            UNION ALL SELECT 'purchase_unmatched', p_id FROM pu
            UNION ALL SELECT 'click_unmatched', c_user FROM cu)
      SELECT kind, count(*) AS n_rows, CAST(sum(id) AS BIGINT) AS id_sum
      FROM u GROUP BY 1 ORDER BY 1""")) { (s, d) =>
      import graft.streaming.EventStreams
      val base = EventStreams.stageEventsInput(s, d, "ssfj")
      val ev = EventStreams.readEvents(s, s"$base/in")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("p_id"), col("user_id").as("p_user"), col("ts").as("p_ts"))
        .withWatermark("p_ts", "2 hours")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id").as("c_user"), col("ts").as("c_ts"))
        .withWatermark("c_ts", "2 hours")
      val joined = purchases.join(clicks,
        col("c_user") === col("p_user") &&
          col("c_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
          col("c_ts") < col("p_ts"),
        "full_outer")
      EventStreams.withStreamConf(s) {
        EventStreams.runToBatch(s, joined, s"graft_q_ssfj_${graft.Staging.suffix(d)}")
      }.select(
          // classify on the join-side key that is STRUCTURALLY null for
          // the row: an unmatched click surfaces with p_id null (p_id is
          // a non-null event_id on every purchase row), so testing p_id
          // first keeps a click whose user_id is itself NULL — which can
          // never equi-join and drains as a click-side row with BOTH
          // columns null — in the click_unmatched class, matching the
          // oracle's cu branch (the previous c_user-first test mislabeled
          // that row purchase_unmatched; round-8 ADVICE)
          when(col("p_id").isNull, lit("click_unmatched"))
            .when(col("c_user").isNull, lit("purchase_unmatched"))
            .otherwise(lit("matched")).as("kind"),
          coalesce(col("p_id"), col("c_user")).as("id"))
        .groupBy(col("kind"))
        .agg(count(lit(1)).as("n_rows"), sum(col("id")).as("id_sum"))
        .orderBy(col("kind"))
    },

    // Spark 4 arbitrary-state v2: the SAME running-per-user-totals
    // state machine as stream_stateful_counts, rebuilt on
    // transformWithState (typed ValueState behind a
    // StatefulProcessorHandle, RocksDB-mandatory). The input arrives as
    // two event_id-parity halves — maxFilesPerTrigger=1 makes each a
    // micro-batch, so most users emit TWO cumulative rows and the state
    // genuinely carries across batch boundaries; the judged final row
    // per user (max_by on the monotone n_events) must equal the plain
    // batch aggregate. Cents are exact integers end to end — see
    // TransformStateOps.
    QueryDef("stream_transform_state", Some("""
      SELECT user_id, count(*) AS n_events,
             CAST(sum(CAST(value AS DECIMAL(18,2)) * 100) AS BIGINT) AS total_cents
      FROM events GROUP BY user_id ORDER BY user_id""")) { (s, d) =>
      import graft.streaming.{EventStreams, TransformStateOps}
      val base = EventStreams.prepareRestartBase(s, d, "tws")
      EventStreams.stageParityHalf(s, d, base, "half0", 0)
      EventStreams.stageParityHalf(s, d, base, "half1", 1)
      val in = EventStreams.readEvents(s, s"$base/in")
        .select(col("user_id"), col("event_id"), col("value"))
        .as[TransformStateOps.EvIn](
          org.apache.spark.sql.Encoders.product[TransformStateOps.EvIn])
      val updates = EventStreams.withStreamConf(s, extra = EventStreams.RocksDbState) {
        EventStreams.runToBatch(s,
          TransformStateOps.runningTotals(in).toDF(),
          s"graft_q_tws_${graft.Staging.suffix(d)}")
      }
      updates.groupBy(col("user_id"))
        .agg(max(col("n_events")).as("n_events"),
          max_by(col("total_cents"), col("n_events")).as("total_cents"))
        .orderBy(col("user_id"))
    },

    // State-v2 MapState: per-user distinct event-type tracking — the
    // keyed-collection state type (point-writes for new members only,
    // O(delta) per update where a ValueState[Set] rewrites the whole
    // set). Same two-parity-batch protocol; the cumulative distinct
    // count is monotone, so the judged max per user must equal the
    // batch COUNT(DISTINCT).
    QueryDef("stream_tws_distinct", Some("""
      SELECT user_id, count(DISTINCT event_type) AS n_types
      FROM events GROUP BY user_id ORDER BY user_id""")) { (s, d) =>
      import graft.streaming.{EventStreams, TransformStateOps}
      val base = EventStreams.prepareRestartBase(s, d, "twm")
      EventStreams.stageParityHalf(s, d, base, "half0", 0)
      EventStreams.stageParityHalf(s, d, base, "half1", 1)
      val in = EventStreams.readEvents(s, s"$base/in")
        .select(col("user_id"), col("event_type"))
        .as[TransformStateOps.EvTyped](
          org.apache.spark.sql.Encoders.product[TransformStateOps.EvTyped])
      val updates = EventStreams.withStreamConf(s, extra = EventStreams.RocksDbState) {
        EventStreams.runToBatch(s,
          TransformStateOps.distinctTypes(in).toDF(),
          s"graft_q_twm_${graft.Staging.suffix(d)}")
      }
      updates.groupBy(col("user_id"))
        .agg(max(col("n_types")).as("n_types"))
        .orderBy(col("user_id"))
    },

    /** STREAMING SCD2 maintenance — `scd2_history` kept current from a
      * change stream (the shape a warehouse dimension actually lives
      * in: CDC arrives continuously, the valid_from/valid_to chain must
      * stay closed under appends). Events split at the global midpoint
      * timestamp into two mtime-ordered micro-batches; per batch,
      * foreachBatch rebuilds ONLY the touched users' chains (their
      * standing history + the batch, deduped by event_id so checkpoint
      * replay of a committed batch is a no-op) and dynamic-partition-
      * overwrites ONLY the touched user-buckets of the standing table —
      * untouched buckets are never rewritten, so per-batch write cost
      * is O(touched entities' history), not O(dimension). A strict-
      * inequality time split means no (ts, event_id) ordering tie can
      * straddle the batch boundary, so the final table must equal the
      * all-at-once batch chain — the query shares `scd2_history`'s
      * oracle verbatim and the hash gates exactly that equality (a
      * re-opened closed row, a missed closure, or a replayed batch all
      * break it). */
    QueryDef("stream_scd2_apply", Some("""
      WITH e AS (SELECT user_id, event_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM events)
      SELECT user_id, event_id, event_type AS state, ts AS valid_from,
             lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to,
             lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL AS is_current
      FROM e ORDER BY user_id, valid_from, event_id""")) { (s, d) =>
      import graft.streaming.OnlineFold
      val root = OnlineFold.freshRoot(s, "scd2s", d)
      val ev = Tables.events(s, d)
        .select(col("user_id"), col("event_id"),
          col("event_type").as("state"), col("ts").as("valid_from"))
      // strict time split: no per-user (ts, event_id) tie can straddle
      // the boundary, so batch order fully determines the chain
      val inTmpl = OnlineFold.stage(s, "scd2s_in", d) {
        val mm = ev.agg(min(col("valid_from")), max(col("valid_from"))).head
        val mid = new java.sql.Timestamp(
          (mm.getTimestamp(0).getTime + mm.getTimestamp(1).getTime) / 2)
        Seq(ev.filter(col("valid_from") < lit(mid)), ev.filter(col("valid_from") >= lit(mid)))
      }
      val dim = s"$root/dim"
      val dimSchema = "bkt LONG, user_id LONG, event_id LONG, " +
        "state STRING, valid_from TIMESTAMP, valid_to TIMESTAMP"
      // seed an empty standing table so batch 0 reads a valid dir
      ev.limit(0).withColumn("bkt", pmod(col("user_id"), lit(8L)))
        .withColumn("valid_to", lit(null).cast("timestamp"))
        .write.partitionBy("bkt").parquet(dim)
      OnlineFold.drain(s, root, inTmpl) { (b, _) =>
        val batch = b.localCheckpoint(true)
        val standing = s.read.schema(dimSchema).parquet(dim)
        val touched = batch.select(col("user_id")).distinct()
        val inTouchedBkt = standing
          .join(broadcast(touched.select(pmod(col("user_id"), lit(8L)).as("bkt")).distinct()), Seq("bkt"))
        // full chain rebuild for touched users only: standing
        // history + batch, deduped by event_id (replay-safe)
        val hist = inTouchedBkt.join(broadcast(touched), Seq("user_id"), "left_semi")
          .select(col("user_id"), col("event_id"), col("state"), col("valid_from"))
        val all = hist.union(
            batch.select(col("user_id"), col("event_id"), col("state"), col("valid_from")))
          .dropDuplicates("user_id", "event_id")
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("valid_from"), col("event_id"))
        val chain = all.withColumn("valid_to", lead(col("valid_from"), 1).over(w))
          .withColumn("bkt", pmod(col("user_id"), lit(8L)))
        // untouched users sharing a touched bucket must ride along
        val keep = inTouchedBkt.join(broadcast(touched), Seq("user_id"), "left_anti")
        val out = keep.select(chain.columns.map(col): _*)
          .union(chain.select(chain.columns.map(col): _*))
          .localCheckpoint(true)
        out.write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("bkt").parquet(dim)
      }
      s.read.schema(dimSchema).parquet(dim)
        .select(col("user_id"), col("event_id"), col("state"), col("valid_from"),
          col("valid_to"), col("valid_to").isNull.as("is_current"))
        .orderBy(col("user_id"), col("valid_from"), col("event_id"))
    },

    /** session_window UNDER STREAMING EXECUTION — the stateful
      * session-merge semantic the batch `events_session_window` twin
      * cannot show: sessions accumulate in the state store across
      * micro-batches (a session spanning a batch boundary MERGES with
      * its in-state predecessor), and append mode emits a session only
      * once the watermark proves no event can extend it. The fixture
      * arrives as six 5-day files (mtime-ordered, maxFilesPerTrigger=1
      * → six micro-batches, the reference's daily-arrival pattern);
      * ascending day order keeps every event above the watermark, so
      * nothing is late-dropped and the oracle is the batch
      * sessionization RESTRICTED to finalized sessions: session_end ≤
      * final watermark (max ts − 1h). Sessions still open when the
      * stream drains are held in state and correctly absent. At 100 TB
      * this operator is why sessionization streams at all: state holds
      * only open sessions inside the watermark horizon (the measured
      * state-drop guarantee of StreamingSpec), never the history. */
    QueryDef("stream_session_window", Some(FinalizedSessionsOracle)) { (s, d) =>
      import graft.streaming.EventStreams
      val base = EventStreams.stageDayFiles(s, d, "ssw")
      val sess = EventStreams.readEvents(s, s"$base/in")
        .withWatermark("ts", "1 hour")
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("total_value"))
        .select(col("user_id"), col("session_window.start").as("session_start"),
          col("session_window.end").as("session_end"), col("n_events"), col("total_value"))
      EventStreams.withStreamConf(s) {
        EventStreams.runToBatch(s, sess,
          s"graft_q_ssw_${graft.Staging.suffix(d)}", outputMode = "append")
      }.orderBy(col("user_id"), col("session_start"))
    },

    /** Sessionization REBUILT on state-v2 EVENT-TIME TIMERS — the last
      * state-v2 facility the tws family hadn't exercised (ValueState:
      * stream_transform_state; MapState: stream_tws_distinct /
      * stream_heavy_hitters; timers: here). Each open session registers
      * a timer at its close time; in-gap arrivals delete-extend-
      * re-register; ONLY `handleExpiredTimer` emits, so a session
      * surfaces exactly when the watermark proves it closed — the same
      * contract append-mode session_window implements natively, which
      * is why this query shares `stream_session_window`'s oracle
      * VERBATIM: the hash gates that the hand-built timer machine and
      * the built-in operator finalize the identical session set with
      * identical aggregates. See TransformStateOps.SessionTimers for
      * the ms-timer/µs-session precision alignment. */
    QueryDef("stream_tws_session_timers", Some(FinalizedSessionsOracle)) { (s, d) =>
      import graft.streaming.{EventStreams, TransformStateOps}
      val base = EventStreams.stageDayFiles(s, d, "twstimer")
      val in = EventStreams.readEvents(s, s"$base/in")
        .select(col("user_id"), col("ts"), col("value"))
        .withWatermark("ts", "1 hour")
        .as[TransformStateOps.SessEv](
          org.apache.spark.sql.Encoders.product[TransformStateOps.SessEv])
      EventStreams.withStreamConf(s, extra = EventStreams.RocksDbState) {
        EventStreams.runToBatch(s,
          TransformStateOps.sessionsByTimers(in).toDF(),
          s"graft_q_twstimer_${graft.Staging.suffix(d)}", outputMode = "append")
      }.orderBy(col("user_id"), col("session_start"))
    },

    /** First-order Markov transition model over each user's event
      * sequence — the behavioral-model fit (next-event prediction,
      * anomalous-transition scoring) that sits beside path mining:
      * events_top_paths ranks whole prefixes, this estimates the
      * transition MATRIX p(next | prev) with exact ppm probabilities
      * (truncating fixed-point — the doc_lm_score discipline — so the
      * estimated model is bit-deterministic on both engines). The lag
      * window shares the (ts, event_id, event_type) total order every
      * sequence query here uses, so adjacency can never tie-break
      * differently from the oracle. Shape at scale: one user_id
      * shuffle for the lag, then the transition frame is
      * |event_types|² rows — broadcast-small at ANY corpus size — so
      * the row-total join is a broadcast and the corpus is scanned
      * exactly once. */
    QueryDef("events_markov", Some("""
      WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, event_type FROM events),
      f AS (SELECT event_type AS next_type,
              lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id, event_type) AS prev_type
            FROM e),
      tr AS (SELECT prev_type, next_type, count(*) AS n FROM f WHERE prev_type IS NOT NULL GROUP BY 1, 2),
      tot AS (SELECT prev_type, CAST(sum(n) AS BIGINT) AS t FROM tr GROUP BY 1)
      SELECT tr.prev_type, tr.next_type, CAST(tr.n AS BIGINT) AS n,
             CAST((tr.n * 1000000) // tot.t AS BIGINT) AS p_ppm
      FROM tr JOIN tot USING (prev_type) ORDER BY prev_type, next_type""")) { (s, d) =>
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"), col("event_type"))
      val f = Tables.events(s, d)
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      val tr = f.filter(col("prev_type").isNotNull)
        .groupBy(col("prev_type"), col("event_type").as("next_type"))
        .agg(count(lit(1)).as("n"))
      val tot = tr.groupBy(col("prev_type")).agg(sum(col("n")).as("t"))
      tr.join(broadcast(tot), Seq("prev_type"))
        .select(col("prev_type"), col("next_type"), col("n"),
          expr("(n * 1000000) div t").as("p_ppm"))
        .orderBy(col("prev_type"), col("next_type"))
    },
  )
}
