package graft.queries

import graft.Tables
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-stream analytics in batch form: tumbling windows, JSON access,
  * sessionization. These are the batch equivalents of the Structured
  * Streaming slice in [[graft.streaming.EventStreams]] — same
  * transformations, so the streaming path is oracle-checked through its
  * batch twin (SURVEY.md §5 strategy 4).
  *
  * Timestamp parity: events.ts is parquet TIMESTAMP(NANOS); both engines
  * truncate to microseconds (Tables.events / CAST(ts AS TIMESTAMP)), and
  * all duration math is integer microseconds (`unix_micros` ↔
  * `epoch_us`) — never seconds, which would truncate differently.
  */
object EventQueries {

  val defs: Seq[QueryDef] = Seq(

    // JSON scalar access on the props column (A13's embedded-JSON side).
    QueryDef("scalar_json", Some("""
      SELECT event_id, json_extract_string(props, '$.k') AS k_str,
             CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_num
      FROM events ORDER BY event_id""")) { (s, d) =>
      Tables.events(s, d).select(col("event_id"),
        get_json_object(col("props"), "$.k").as("k_str"),
        get_json_object(col("props"), "$.k").cast("long").as("k_num"))
        .orderBy(col("event_id"))
    },

    // Tumbling 1h windows — batch twin of EventStreams.tumblingCounts.
    QueryDef("stream_tumbling", Some("""
      SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS window_start, event_type,
             count(*) AS n,
             CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      FROM events GROUP BY 1, 2 ORDER BY 1, 2""")) { (s, d) =>
      Tables.events(s, d)
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("total_value"))
        .select(col("window.start").as("window_start"), col("event_type"), col("n"), col("total_value"))
        .orderBy(col("window_start"), col("event_type"))
    },

    // Sliding windows (1h window every 30min) — each event lands in 2.
    QueryDef("stream_sliding", Some("""
      WITH x AS (
        SELECT value,
               unnest([time_bucket(INTERVAL 30 MINUTE, CAST(ts AS TIMESTAMP)),
                       time_bucket(INTERVAL 30 MINUTE, CAST(ts AS TIMESTAMP)) - INTERVAL 30 MINUTE]) AS ws
        FROM events)
      SELECT ws AS window_start, count(*) AS n,
             CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      FROM x GROUP BY ws ORDER BY ws""")) { (s, d) =>
      Tables.events(s, d)
        .groupBy(window(col("ts"), "1 hour", "30 minutes"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("total_value"))
        .select(col("window.start").as("window_start"), col("n"), col("total_value"))
        .orderBy(col("window_start"))
    },

    // Sessionization: 30-min inactivity gap, exact µs arithmetic.
    QueryDef("events_sessionize", Some("""
      WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events),
      f AS (SELECT *, lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us FROM e),
      g AS (SELECT *, CASE WHEN prev_us IS NULL OR epoch_us(ts) - prev_us > 1800000000 THEN 1 ELSE 0 END AS new_s FROM f),
      h AS (SELECT *, CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id FROM g)
      SELECT user_id, session_id, count(*) AS n_events,
             max(epoch_us(ts)) - min(epoch_us(ts)) AS duration_us,
             CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      FROM h GROUP BY user_id, session_id ORDER BY user_id, session_id""")) { (s, d) =>
      val wOrd = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val wRun = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.events(s, d)
        .select(col("user_id"), col("event_id"), col("ts"), col("value"))
        .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(wOrd))
        .withColumn("new_s",
          when(col("prev_us").isNull ||
            (unix_micros(col("ts")) - col("prev_us")) > 1800L * 1000000L, 1).otherwise(0))
        .withColumn("session_id", sum(col("new_s")).over(wRun).cast("long"))
        .groupBy(col("user_id"), col("session_id"))
        .agg(count(lit(1)).as("n_events"),
          (max(unix_micros(col("ts"))) - min(unix_micros(col("ts")))).as("duration_us"),
          dsum(col("value")).as("total_value"))
        .orderBy(col("user_id"), col("session_id"))
    },

    // Spark 4 VARIANT for semi-structured access — the engine-native
    // form of the reference's JSON columns (§1.3: template_variables);
    // oracle-equivalent to string json extraction.
    QueryDef("scalar_variant", Some("""
      SELECT event_id, json_extract_string(props, '$.k') AS k_str
      FROM events ORDER BY event_id""")) { (s, d) =>
      Tables.events(s, d).select(col("event_id"),
        expr("variant_get(parse_json(props), '$.k', 'string')").as("k_str"))
        .orderBy(col("event_id"))
    },

    // Built-in session_window (the streaming primitive) proven in batch
    // against the manual lag/cumsum sessionization oracle: same gap
    // definition ⇒ same sessions, end = last event + gap.
    QueryDef("events_session_window", Some("""
      WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events),
      f AS (SELECT *, lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us FROM e),
      g AS (SELECT *, CASE WHEN prev_us IS NULL OR epoch_us(ts) - prev_us > 1800000000 THEN 1 ELSE 0 END AS new_s FROM f),
      h AS (SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS sid FROM g)
      SELECT user_id, min(ts) AS session_start, max(ts) + INTERVAL 30 MINUTE AS session_end,
             count(*) AS n_events,
             CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      FROM h GROUP BY user_id, sid ORDER BY user_id, session_start""")) { (s, d) =>
      Tables.events(s, d)
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("total_value"))
        .select(col("user_id"), col("session_window.start").as("session_start"),
          col("session_window.end").as("session_end"), col("n_events"), col("total_value"))
        .orderBy(col("user_id"), col("session_start"))
    },

    // End-to-end STREAMING execution under the oracle gate (not a
    // batch twin): the events fixture flows through a real readStream
    // (file source, maxFilesPerTrigger backpressure) into the
    // foreachBatch idempotent sink (stage-and-swap latest-wins merge),
    // Trigger.AvailableNow bounds the run, and the sink's parquet is
    // read back. event_ids are unique so the latest-wins merge is a
    // deterministic passthrough — the oracle is plain SQL over the
    // same fixture. StatefulOpsSpec separately proves replay
    // idempotence of the same sink.
    QueryDef("stream_foreachbatch_sink", Some("""
      SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value
      FROM events ORDER BY event_id""")) { (s, d) =>
      import graft.streaming.{EventStreams, StatefulOps}
      val base = EventStreams.stageEventsInput(s, d, "fb")
      // mutable per-sample root (sink + checkpoint) — the staged input
      // is a shared read-only template since round 19, so the wipe
      // that used to ride stageEventsInput happens here
      val root = graft.Staging.dir("fb", d)
      val fsRoot = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fsRoot.delete(new org.apache.hadoop.fs.Path(root), true)
      val sink = s"$root/merged"
      EventStreams.withStreamConf(s) {
        EventStreams.awaitOrKill(
          StatefulOps.idempotentSink(
            EventStreams.readEvents(s, s"$base/in"), sink,
            keys = Seq("event_id"), orderCol = "ts", tiebreaks = Seq("user_id"))
            .option("checkpointLocation", s"$root/ckpt")
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start(),
          "stream_foreachbatch_sink")
      }
      s.read.parquet(sink)   // readEvents already normalized ts (Tables.normalizeEventTs)
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
        .orderBy(col("event_id"))
    },

    // flatMapGroupsWithState under the oracle gate: the per-user state
    // machine (StatefulOps.runningUserStats) runs as a REAL stream to
    // completion, its per-event updates reduce to the final per-user
    // state, and that state — including the state machine's OWN
    // threshold flag, taken from the last update via max_by — is
    // oracle-checked against a plain batch aggregate. Integer/flag
    // outputs only: the state's double accumulator is order-dependent
    // IEEE.
    QueryDef("stream_stateful_counts", Some("""
      SELECT user_id, count(*) AS n_events,
             CAST(count(*) >= 5 AS VARCHAR) AS high_activity
      FROM events GROUP BY user_id ORDER BY user_id""")) { (s, d) =>
      import graft.streaming.{EventStreams, StatefulOps}
      val base = EventStreams.stageEventsInput(s, d, "st")
      val in = EventStreams.readEvents(s, s"$base/in")
        .select(col("user_id"), col("event_id"), col("value"))
        .as[StatefulOps.EventIn](org.apache.spark.sql.Encoders.product[StatefulOps.EventIn])
      // Default (HDFS-backed) state store. On RocksDB most of a warm
      // call (4 cores) went to opening one native instance per state
      // partition, 2.3–2.9 s of load latency summed over the 8 per
      // trigger; the default store halved the call (1.3 → 0.6 s) with
      // identical rows. This drain is one batch with no timeout or
      // watermark, so it never reloads its committed version: retain 0
      // drops each call's state maps at commit instead of holding them
      // on the heap until the 60 s maintenance pass unloads them. The
      // provider is per-query config captured at checkpoint creation.
      val updates = EventStreams.withStreamConf(s, extra = Map(
        "spark.sql.streaming.maxBatchesToRetainInMemory" -> "0")) {
        EventStreams.runToBatch(s,
          StatefulOps.runningUserStats(in, threshold = 5).toDF(),
          s"graft_q_stateful_${graft.Staging.suffix(d)}")
      }
      updates.groupBy(col("user_id"))
        .agg(max(col("n_events")).as("n_events"),
          max_by(col("high_activity"), col("n_events")).as("final_flag"))
        .select(col("user_id"), col("n_events"),
          col("final_flag").cast("string").as("high_activity"))
        .orderBy(col("user_id"))
    },

    // Streaming dedup-within-watermark under the oracle gate, with a
    // REAL replay: the events file is staged twice, maxFilesPerTrigger
    // delivers each copy as its own micro-batch, and
    // dropDuplicatesWithinWatermark must collapse the replayed batch —
    // the per-user counts then equal the plain single-copy batch
    // aggregate.
    QueryDef("stream_dedup_replay", Some("""
      SELECT user_id, count(*) AS n_events
      FROM events GROUP BY user_id ORDER BY user_id""")) { (s, d) =>
      import graft.streaming.EventStreams
      val base = EventStreams.stageEventsInput(s, d, "dd", copies = 2)
      val deduped = EventStreams.withStreamConf(s) {
        EventStreams.runToBatch(s,
          EventStreams.dedupStream(EventStreams.readEvents(s, s"$base/in")),
          s"graft_q_dedup_${graft.Staging.suffix(d)}")
      }
      deduped.groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"))
        .orderBy(col("user_id"))
    },

    /** Stream-stream interval join under the oracle gate: purchases and
      * clicks are two REAL watermarked streams (branches of one file
      * source), inner-joined on user_id with an event-time interval
      * bound (click in the hour before the purchase) — the canonical
      * Structured Streaming stream-stream join, state expired by the
      * watermark + time bound. The drained pairs reduce to per-purchase
      * prior-click counts; the oracle is the same interval join in
      * batch SQL. At 100 TB both sides shuffle once on user_id and
      * join state stays bounded by the 1-hour interval. */
    QueryDef("stream_stream_join", Some("""
      WITH e AS (SELECT event_id, user_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM events),
      p AS (SELECT * FROM e WHERE event_type = 'purchase'),
      c AS (SELECT * FROM e WHERE event_type = 'click')
      SELECT p.event_id, count(*) AS n_prior_clicks
      FROM p JOIN c ON c.user_id = p.user_id
        AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts < p.ts
      GROUP BY 1 ORDER BY 1""")) { (s, d) =>
      import graft.streaming.EventStreams
      val base = EventStreams.stageEventsInput(s, d, "ssj")
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
          col("c_ts") < col("p_ts"))
      EventStreams.withStreamConf(s) {
        EventStreams.runToBatch(s, joined, s"graft_q_ssj_${graft.Staging.suffix(d)}")
      }.groupBy(col("p_id")).agg(count(lit(1)).as("n_prior_clicks"))
        .select(col("p_id").as("event_id"), col("n_prior_clicks"))
        .orderBy(col("event_id"))
    },

    // Daily activity rollup joined to the customer dimension.
    QueryDef("events_daily_users", Some("""
      SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day,
             count(DISTINCT user_id) AS n_users, count(*) AS n_events
      FROM events GROUP BY 1 ORDER BY day""")) { (s, d) =>
      Tables.events(s, d)
        .groupBy(to_date(date_trunc("day", col("ts"))).as("day"))
        .agg(countDistinct(col("user_id")).as("n_users"), count(lit(1)).as("n_events"))
        .orderBy(col("day"))
    },
  )
}
