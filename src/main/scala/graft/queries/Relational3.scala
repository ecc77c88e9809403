package graft.queries

import graft.Tables
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Third relational/analytics coverage batch: correlated EXISTS
  * subqueries, higher-order lambda functions, time-range joins, cohort
  * retention, calendar gap-fill, and explicit salted (skew-safe)
  * two-phase aggregation.
  *
  * Scale notes are per-query; the common theme is that every shape here
  * stays a hash/sort-merge plan with bounded per-key work — no
  * cross-join, no collect, no driver-side loop.
  */
object Relational3 {

  private def t(s: SparkSession, d: String, n: String) = Tables.table(s, d, n)

  /** Shared staging for the partition-scoped merge family
    * (merge_upsert_partitioned / merge_cdc_partitioned /
    * stream_cdc_apply): one calendar month of orders written to `sink`
    * as a dt-partitioned layout with STATIC overwrite — both window
    * ends bounded (the fixture's o_orderdate spans 1995-2001, so an
    * open tail would stage a thousand dirs) and any previous run's
    * merged partitions wiped, keeping the queries idempotent under
    * bench reps. */
  /** The dt-partitioned July-orders layout, built ONCE per JVM; each
    * consumer (the merge queries MUTATE their staged table) gets a
    * straight file-tree copy into its own sink — identical bytes,
    * without re-running the partitioned write job per bench sample
    * (round-19; guide §1.2: don't recompute what you throw away). */
  private def julyOrdersTemplate(s: SparkSession, d: String): String =
    graft.Staging.onceDir(s, "julyorders", d) { p =>
      t(s, d, "orders")
        .filter(col("o_orderdate") >= to_timestamp(lit("1998-07-01"))
          && col("o_orderdate") < to_timestamp(lit("1998-08-01")))
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          date_format(col("o_orderdate"), "yyyyMMdd").as("dt"))
        .write.mode("overwrite").partitionBy("dt").parquet(p)
    }

  private def stageJulyOrders(s: SparkSession, d: String, sink: String): Unit = {
    val fs = new org.apache.hadoop.fs.Path(sink)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(sink), true)
    graft.Staging.copyTree(s, julyOrdersTemplate(s, d), sink)
  }

  val defs: Seq[QueryDef] = Seq(

    /** Correlated EXISTS / NOT EXISTS — the remaining subquery
      * decorrelation path (subquery_in covers IN/NOT IN, subquery_scalar
      * the scalar case). Catalyst rewrites these to left-semi and
      * left-anti hash joins on o_custkey: two shuffles over orders, no
      * per-row re-execution. */
    QueryDef("subquery_exists", Some("""
      SELECT c_custkey, c_name FROM customer c
      WHERE EXISTS (SELECT 1 FROM orders o
                    WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'O')
        AND NOT EXISTS (SELECT 1 FROM orders o
                        WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
      ORDER BY c_custkey""")) { (s, d) =>
      t(s, d, "customer").createOrReplaceTempView("graft_q_ex_customer")
      t(s, d, "orders").createOrReplaceTempView("graft_q_ex_orders")
      s.sql("""
        SELECT c_custkey, c_name FROM graft_q_ex_customer c
        WHERE EXISTS (SELECT 1 FROM graft_q_ex_orders o
                      WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'O')
          AND NOT EXISTS (SELECT 1 FROM graft_q_ex_orders o
                          WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
        ORDER BY c_custkey""")
    },

    /** Higher-order lambda functions (transform / filter / aggregate /
      * exists) over per-row word arrays. All four stay inside
      * whole-stage codegen — per-row array work, no explode, no
      * shuffle until the final ORDER BY. */
    QueryDef("scalar_lambda", Some("""
      SELECT doc_id,
             array_to_string(list_transform(string_split(text, ' ')[1:5],
                                            w -> CAST(length(w) AS VARCHAR)), ',') AS head_lens,
             CAST(len(list_filter(string_split(text, ' '), w -> length(w) > 4)) AS BIGINT) AS n_long,
             CAST(list_sum(list_transform(string_split(text, ' '), w -> length(w))) AS BIGINT) AS total_len,
             len(list_filter(string_split(lower(text), ' '), w -> w = 'the')) > 0 AS has_the
      FROM documents ORDER BY doc_id""")) { (s, d) =>
      val words = split(col("text"), " ")
      Tables.documents(s, d).select(col("doc_id"),
        array_join(transform(slice(words, 1, 5), w => length(w).cast("string")), ",").as("head_lens"),
        size(filter(words, w => length(w) > 4)).cast("long").as("n_long"),
        aggregate(transform(words, w => length(w).cast("long")), lit(0L), (acc, x) => acc + x).as("total_len"),
        exists(split(lower(col("text")), " "), w => w === lit("the")).as("has_the"))
        .orderBy(col("doc_id"))
    },

    /** Time-range self-join: for every event, how many events the same
      * user produced in the following hour. Equi-key (user_id) plus a
      * bounded time-range predicate — Spark plans a SortMergeJoin on the
      * equi key with the range as a join filter, so per-key work is the
      * sorted run between the bounds, never the key's full history. At
      * 100 TB the equi key carries the shuffle; the 1-hour bound keeps
      * the per-row scan O(events-in-window). */
    QueryDef("join_range", Some("""
      WITH e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts FROM events)
      SELECT a.event_id, count(b.event_id) AS n_next_hour
      FROM e a LEFT JOIN e b
        ON b.user_id = a.user_id AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL 1 HOUR
      GROUP BY a.event_id ORDER BY a.event_id""")) { (s, d) =>
      val e = Tables.events(s, d).select(col("event_id"), col("user_id"), col("ts"))
      val a = e.select(col("event_id"), col("user_id").as("a_user"), col("ts").as("a_ts"))
      val b = e.select(col("event_id").as("b_id"), col("user_id").as("b_user"), col("ts").as("b_ts"))
      a.join(b,
          col("b_user") === col("a_user") &&
            col("b_ts") > col("a_ts") &&
            col("b_ts") <= col("a_ts") + expr("INTERVAL 1 HOUR"),
          "left")
        .groupBy(col("event_id")).agg(count(col("b_id")).as("n_next_hour"))
        .orderBy(col("event_id"))
    },

    /** Cohort retention: users grouped by first-seen day, distinct
      * activity counted per day-offset. Two hash aggregates plus one
      * shuffle join on user_id; the distinct() collapses per-(user, day)
      * activity map-side before the join. */
    QueryDef("events_retention", Some("""
      WITH f AS (SELECT user_id, min(CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS cohort
                 FROM events GROUP BY 1),
      a AS (SELECT DISTINCT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day FROM events)
      SELECT cohort, CAST(date_diff('day', cohort, day) AS BIGINT) AS day_offset,
             count(*) AS n_users
      FROM f JOIN a USING (user_id)
      WHERE date_diff('day', cohort, day) <= 7
      GROUP BY 1, 2 ORDER BY 1, 2""")) { (s, d) =>
      val ev = Tables.events(s, d).select(col("user_id"), to_date(col("ts")).as("day"))
      val cohorts = ev.groupBy(col("user_id")).agg(min(col("day")).as("cohort"))
      val active = ev.distinct()
      cohorts.join(active, "user_id")
        .withColumn("day_offset", datediff(col("day"), col("cohort")).cast("long"))
        .filter(col("day_offset") <= 7)
        .groupBy(col("cohort"), col("day_offset")).agg(count(lit(1)).as("n_users"))
        .orderBy(col("cohort"), col("day_offset"))
    },

    /** Calendar gap-fill: a generated day spine × the event-type
      * dimension, left-joined to sparse (high-value) daily counts with
      * zero fill — the resample/gap-fill op every time-series pipeline
      * needs. The spine derives from a 1-row bounds aggregate via
      * sequence+explode (no driver round-trip); spine and dimension are
      * tiny and broadcast, the counts aggregate map-side. */
    QueryDef("events_gapfill", Some("""
      WITH b AS (SELECT min(CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS d0,
                        max(CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS d1 FROM events),
      cal AS (SELECT CAST(unnest(generate_series(CAST(d0 AS TIMESTAMP), CAST(d1 AS TIMESTAMP),
                                                 INTERVAL 1 DAY)) AS DATE) AS day FROM b),
      ty AS (SELECT DISTINCT event_type FROM events),
      cnt AS (SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day, count(*) AS n
              FROM events WHERE value >= 140 GROUP BY 1, 2)
      SELECT ty.event_type, cal.day, coalesce(cnt.n, 0) AS n
      FROM cal CROSS JOIN ty
      LEFT JOIN cnt ON cnt.event_type = ty.event_type AND cnt.day = cal.day
      ORDER BY 1, 2""")) { (s, d) =>
      val ev = Tables.events(s, d)
      val cal = ev.agg(min(to_date(col("ts"))).as("d0"), max(to_date(col("ts"))).as("d1"))
        .select(explode(sequence(col("d0"), col("d1"), expr("INTERVAL 1 DAY"))).as("day"))
      val ty = ev.select(col("event_type")).distinct()
      val cnt = ev.filter(col("value") >= 140)
        .groupBy(col("event_type").as("c_type"), to_date(col("ts")).as("c_day"))
        .agg(count(lit(1)).as("n"))
      cal.crossJoin(broadcast(ty))
        .join(cnt, col("c_type") === col("event_type") && col("c_day") === col("day"), "left")
        .select(col("event_type"), col("day"), coalesce(col("n"), lit(0L)).as("n"))
        .orderBy(col("event_type"), col("day"))
    },

    /** CDC-style MERGE/upsert: apply a deterministic change batch
      * (updates for matched keys, inserts for new keys) to the base
      * table via ONE full-outer join + coalesce — the relational form
      * of MERGE INTO over immutable storage (plain parquet has no
      * row-level API; at 100 TB this is the standard partition-rewrite
      * merge, with the updates side broadcast when small). The action
      * column tags keep/update/insert for downstream audit. */
    QueryDef("merge_upsert", Some("""
      WITH upd AS (
        SELECT c_custkey, c_name, 'REVISED' AS c_mktsegment, c_acctbal + 100 AS c_acctbal
        FROM customer WHERE c_custkey % 9 = 0
        UNION ALL
        SELECT c_custkey + 1000000, 'NEW-' || CAST(c_custkey AS VARCHAR), 'NEWSEG', 0.0
        FROM customer WHERE c_custkey % 13 = 0)
      SELECT coalesce(u.c_custkey, b.c_custkey) AS c_custkey,
             coalesce(u.c_name, b.c_name) AS c_name,
             coalesce(u.c_mktsegment, b.c_mktsegment) AS c_mktsegment,
             coalesce(u.c_acctbal, b.c_acctbal) AS c_acctbal,
             CASE WHEN b.c_custkey IS NULL THEN 'insert'
                  WHEN u.c_custkey IS NULL THEN 'keep' ELSE 'update' END AS action
      FROM customer b FULL JOIN upd u ON u.c_custkey = b.c_custkey
      ORDER BY c_custkey""")) { (s, d) =>
      val base = t(s, d, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_mktsegment"), col("c_acctbal"))
      val updates = base.filter(col("c_custkey") % 9 === 0)
        .select(col("c_custkey").as("u_key"), col("c_name").as("u_name"),
          lit("REVISED").as("u_seg"), (col("c_acctbal") + 100).as("u_bal"))
        .union(base.filter(col("c_custkey") % 13 === 0)
          .select((col("c_custkey") + 1000000).as("u_key"),
            concat(lit("NEW-"), col("c_custkey").cast("string")).as("u_name"),
            lit("NEWSEG").as("u_seg"), lit(0.0).as("u_bal")))
      base.join(updates, col("u_key") === col("c_custkey"), "full")
        .select(coalesce(col("u_key"), col("c_custkey")).as("c_custkey"),
          coalesce(col("u_name"), col("c_name")).as("c_name"),
          coalesce(col("u_seg"), col("c_mktsegment")).as("c_mktsegment"),
          coalesce(col("u_bal"), col("c_acctbal")).as("c_acctbal"),
          when(col("c_custkey").isNull, "insert")
            .when(col("u_key").isNull, "keep").otherwise("update").as("action"))
        .orderBy(col("c_custkey"))
    },

    /** Partition-scoped CDC MERGE — `merge_upsert` at 100 TB. Same
      * full-outer-join merge semantics, but the rewrite is scoped to
      * the dt partitions the change batch touches
      * (IngestOps.mergePartitioned: partition-pruned base read +
      * dynamic partition overwrite): untouched partitions' files are
      * never read or rewritten — the reference's per-day idempotent
      * reload (/root/reference/src/main.py:253-267). File-level proof
      * lives in IncrementalPipelineSpec; the oracle here checks the
      * merged END STATE of the whole layout: orders from July 1998
      * staged by dt, then a deterministic change batch (updates +100
      * for every third key, inserted +10M keys for every fifth) over
      * the dt >= 19980715 partitions only. */
    QueryDef("merge_upsert_partitioned", Some("""
      WITH base AS (SELECT o_orderkey, o_custkey, o_totalprice,
                           strftime(o_orderdate, '%Y%m%d') AS dt
                    FROM orders WHERE o_orderdate >= TIMESTAMP '1998-07-01'
                                  AND o_orderdate < TIMESTAMP '1998-08-01')
      SELECT o_orderkey, o_custkey,
             CASE WHEN dt >= '19980715' AND o_orderkey % 3 = 0
                  THEN o_totalprice + 100 ELSE o_totalprice END AS o_totalprice,
             dt
      FROM base
      UNION ALL
      SELECT o_orderkey + 10000000, o_custkey, 1.0, dt
      FROM base WHERE dt >= '19980715' AND o_orderkey % 5 = 0
      ORDER BY o_orderkey""")) { (s, d) =>
      import graft.operators.IngestOps
      val sink = graft.Staging.dir("mrg", d)
      stageJulyOrders(s, d, sink)
      // deterministic CDC batch over the tail partitions only; read
      // from the staged layout itself (pruned to dt >= 19980715)
      val slice = IngestOps.readPartitioned(s, sink).filter(col("dt") >= "19980715")
      val changes = slice.filter(col("o_orderkey") % 3 === 0)
        .select(col("o_orderkey"), col("o_custkey"),
          (col("o_totalprice") + 100).as("o_totalprice"), col("dt"))
        .union(slice.filter(col("o_orderkey") % 5 === 0)
          .select((col("o_orderkey") + 10000000).as("o_orderkey"), col("o_custkey"),
            lit(1.0).as("o_totalprice"), col("dt")))
      IngestOps.mergePartitioned(s, sink, changes, Seq("o_orderkey"))
      IngestOps.readPartitioned(s, sink)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"), col("dt"))
        .orderBy(col("o_orderkey"))
    },

    /** Full CDC (update + insert + DELETE) through the same
      * partition-scoped merge: change rows carry an `op` column, and
      * `op = 'delete'` removes the key from its partition — the MERGE
      * ... WHEN MATCHED THEN DELETE leg that a real CDC feed needs and
      * `merge_upsert_partitioned` omits. Deterministic batch over the
      * dt >= 19980715 tail of a one-month staged layout: every third
      * key updates (+100), every seventh non-updating key deletes,
      * every fifth key inserts a +20M twin. Disjoint-rule precedence
      * (update beats delete on %21 keys) keeps both engines exact. */
    QueryDef("merge_cdc_partitioned", Some("""
      WITH base AS (SELECT o_orderkey, o_custkey, o_totalprice,
                           strftime(o_orderdate, '%Y%m%d') AS dt
                    FROM orders WHERE o_orderdate >= TIMESTAMP '1998-07-01'
                                  AND o_orderdate < TIMESTAMP '1998-08-01')
      SELECT o_orderkey, o_custkey,
             CASE WHEN dt >= '19980715' AND o_orderkey % 3 = 0
                  THEN o_totalprice + 100 ELSE o_totalprice END AS o_totalprice,
             dt
      FROM base
      WHERE NOT (dt >= '19980715' AND o_orderkey % 7 = 0 AND o_orderkey % 3 <> 0)
      UNION ALL
      SELECT o_orderkey + 20000000, o_custkey, 1.0, dt
      FROM base WHERE dt >= '19980715' AND o_orderkey % 5 = 0
      ORDER BY o_orderkey""")) { (s, d) =>
      import graft.operators.IngestOps
      val sink = graft.Staging.dir("cdc", d)
      stageJulyOrders(s, d, sink)
      val slice = IngestOps.readPartitioned(s, sink).filter(col("dt") >= "19980715")
      val changes = slice.filter(col("o_orderkey") % 3 === 0)
        .select(col("o_orderkey"), col("o_custkey"),
          (col("o_totalprice") + 100).as("o_totalprice"), col("dt"), lit("upsert").as("op"))
        .union(slice.filter(col("o_orderkey") % 7 === 0 && col("o_orderkey") % 3 =!= 0)
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"), col("dt"),
            lit("delete").as("op")))
        .union(slice.filter(col("o_orderkey") % 5 === 0)
          .select((col("o_orderkey") + 20000000).as("o_orderkey"), col("o_custkey"),
            lit(1.0).as("o_totalprice"), col("dt"), lit("upsert").as("op")))
      IngestOps.mergePartitioned(s, sink, changes, Seq("o_orderkey"), opCol = Some("op"))
      IngestOps.readPartitioned(s, sink)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"), col("dt"))
        .orderBy(col("o_orderkey"))
    },

    /** Streaming CDC apply — the operational end of the merge family:
      * change batches arrive as REAL micro-batches (file source,
      * maxFilesPerTrigger=1, Trigger.AvailableNow) and each is applied
      * to the dt-partitioned sink by `mergePartitioned` inside
      * foreachBatch. The two staged batches touch DISJOINT key sets
      * (updates %3; deletes %7-not-%3 + inserts %5 as +30M twins), so
      * the end state is order-independent; and because the merge is a
      * keyed overwrite, a replayed batch (foreachBatch is
      * at-least-once) converges to the same state — the idempotence a
      * CDC sink needs. Oracle = the same merged end state as the batch
      * twin, proving stream == batch. */
    QueryDef("stream_cdc_apply", Some("""
      WITH base AS (SELECT o_orderkey, o_custkey, o_totalprice,
                           strftime(o_orderdate, '%Y%m%d') AS dt
                    FROM orders WHERE o_orderdate >= TIMESTAMP '1998-07-01'
                                  AND o_orderdate < TIMESTAMP '1998-08-01')
      SELECT o_orderkey, o_custkey,
             CASE WHEN dt >= '19980715' AND o_orderkey % 3 = 0
                  THEN o_totalprice + 100 ELSE o_totalprice END AS o_totalprice,
             dt
      FROM base
      WHERE NOT (dt >= '19980715' AND o_orderkey % 7 = 0 AND o_orderkey % 3 <> 0)
      UNION ALL
      SELECT o_orderkey + 30000000, o_custkey, 1.0, dt
      FROM base WHERE dt >= '19980715' AND o_orderkey % 5 = 0
      ORDER BY o_orderkey""")) { (s, d) =>
      import graft.operators.IngestOps
      import graft.streaming.OnlineFold
      import org.apache.hadoop.fs.Path
      val root = OnlineFold.freshRoot(s, "scdc", d)   // fresh checkpoint + sink per run
      val sink = s"$root/table"
      stageJulyOrders(s, d, sink)
      // READ-ONLY change batches, a pure function of the July layout —
      // staged once per JVM from the shared template as named files
      val inTmpl = graft.Staging.onceDir(s, "scdc_in", d) { p =>
        val fs = new Path(p).getFileSystem(s.sparkContext.hadoopConfiguration)
        // wipe stale content from a previous JVM first — the rename
        // below fails onto an existing destination
        fs.delete(new Path(p), true)
        fs.mkdirs(new Path(p, "in"))
        val tail = IngestOps.readPartitioned(s, julyOrdersTemplate(s, d))
          .filter(col("dt") >= "19980715")
        def stageBatch(name: String, df: org.apache.spark.sql.DataFrame): Unit = {
          val tmp = s"$p/stage_$name"
          df.coalesce(1).write.mode("overwrite").parquet(tmp)
          val parts = fs.globStatus(new Path(tmp, "part-*.parquet"))
          require(parts.length == 1, s"stageBatch($name): ${parts.length} part files")
          require(fs.rename(parts(0).getPath, new Path(s"$p/in/$name.parquet")),
            s"stageBatch($name): rename failed")
        }
        stageBatch("b1", tail.filter(col("o_orderkey") % 3 === 0)
          .select(col("o_orderkey"), col("o_custkey"),
            (col("o_totalprice") + 100).as("o_totalprice"), col("dt"), lit("upsert").as("op")))
        stageBatch("b2", tail.filter(col("o_orderkey") % 7 === 0 && col("o_orderkey") % 3 =!= 0)
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"), col("dt"),
            lit("delete").as("op"))
          .union(tail.filter(col("o_orderkey") % 5 === 0)
            .select((col("o_orderkey") + 30000000).as("o_orderkey"), col("o_custkey"),
              lit(1.0).as("o_totalprice"), col("dt"), lit("upsert").as("op"))))
      }
      OnlineFold.drain(s, root, s"$inTmpl/in") { (b, _) =>
        // a replayed/empty micro-batch must not trip the
        // empty-batch contract guard — skip it, the sink state
        // already reflects the batch
        if (!b.isEmpty)
          IngestOps.mergePartitioned(s, sink, b, Seq("o_orderkey"), opCol = Some("op"))
      }
      IngestOps.readPartitioned(s, sink)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"), col("dt"))
        .orderBy(col("o_orderkey"))
    },

    /** IGNORE NULLS window navigation: last-observation-carried-forward
      * (the classic sensor/price forward-fill), previous non-null via
      * lag, and first non-null per partition — over a deterministically
      * nulled measure. One shuffle+sort on the partition key serves all
      * three frames. */
    QueryDef("win_ignore_nulls", Some("""
      WITH o AS (SELECT o_orderkey, o_custkey,
                   CASE WHEN o_orderstatus = 'O' THEN NULL ELSE o_totalprice END AS v
                 FROM orders)
      SELECT o_orderkey, o_custkey, v,
             last_value(v IGNORE NULLS) OVER (PARTITION BY o_custkey ORDER BY o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS locf,
             lag(v IGNORE NULLS) OVER (PARTITION BY o_custkey ORDER BY o_orderkey) AS prev_nn,
             first_value(v IGNORE NULLS) OVER (PARTITION BY o_custkey ORDER BY o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS first_nn
      FROM o ORDER BY o_custkey, o_orderkey""")) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderkey"))
      t(s, d, "orders")
        .withColumn("v", when(col("o_orderstatus") === "O", lit(null)).otherwise(col("o_totalprice")))
        .select(col("o_orderkey"), col("o_custkey"), col("v"),
          last(col("v"), ignoreNulls = true)
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)).as("locf"),
          lag(col("v"), 1, null, ignoreNulls = true).over(w).as("prev_nn"),
          first(col("v"), ignoreNulls = true)
            .over(w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)).as("first_nn"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    },

    /** grouping() indicator columns over GROUPING SETS — the
      * disambiguator between "NULL because subtotal" and "NULL in the
      * data" that every rollup consumer needs. Same Expand+partial-agg
      * plan as agg_grouping_sets. */
    QueryDef("agg_grouping_id", Some("""
      SELECT o_orderstatus, o_orderpriority,
             CAST(grouping(o_orderstatus) AS BIGINT) AS g_s,
             CAST(grouping(o_orderpriority) AS BIGINT) AS g_p,
             count(*) AS n
      FROM orders
      GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
      ORDER BY g_s, g_p, o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""")) { (s, d) =>
      t(s, d, "orders").createOrReplaceTempView("graft_q_gid_orders")
      s.sql("""
        SELECT o_orderstatus, o_orderpriority,
               CAST(grouping(o_orderstatus) AS BIGINT) AS g_s,
               CAST(grouping(o_orderpriority) AS BIGINT) AS g_p,
               count(*) AS n
        FROM graft_q_gid_orders
        GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
        ORDER BY g_s, g_p, o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""")
    },

    /** Bucketed co-located join under the oracle gate: both sides are
      * written as bucketed+sorted tables on the join key
      * (ScaleOps.writeBucketed — the one-time table prep that
      * repeated fact⋈fact joins amortize), then joined shuffle-free:
      * the SortMergeJoin reads pre-bucketed files with NO Exchange on
      * the join key (plan-guarded in PlanShapeSpec; the merge hint
      * keeps AQE from broadcasting the small fixture side so the
      * judged plan IS the 100 TB plan shape). The oracle is the same
      * filter+join+agg over the plain parquet fixtures. */
    QueryDef("join_bucketed", Some("""
      SELECT o_orderpriority, count(*) AS n_items,
             CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
      FROM orders JOIN lineitem ON l_orderkey = o_orderkey
      WHERE o_orderdate >= TIMESTAMP '1995-03-01' AND o_orderdate < TIMESTAMP '1995-06-01'
      GROUP BY 1 ORDER BY 1""")) { (s, d) =>
      import graft.operators.ScaleOps
      // collision-resistant name (Staging.suffix): sanitized path
      // (readable) + a short md5 of the RAW path, so distinct dirs get
      // distinct table names and writeBucketed's cleanup stays scoped
      val sfx = graft.Staging.suffix(d)
      val oT = s"graft_bk_orders_$sfx"
      val lT = s"graft_bk_lineitem_$sfx"
      // Round-19 (guide §1.2): the bucketed tables are immutable pure
      // functions of the fixture — the docstring's "one-time table prep
      // that repeated fact⋈fact joins amortize" is now genuinely
      // one-time per (JVM, sfDir) instead of re-written every bench
      // sample; the build lands in the shared-staging column and the
      // judged shuffle-free join (still plan-guarded) runs per sample.
      graft.Staging.onceDir(s, "bktables", d) { _ =>
        ScaleOps.writeBucketed(
          t(s, d, "orders")
            .filter(col("o_orderdate") >= to_timestamp(lit("1995-03-01"))
              && col("o_orderdate") < to_timestamp(lit("1995-06-01")))
            .select(col("o_orderkey"), col("o_orderpriority")),
          oT, 8, Seq("o_orderkey"))
        ScaleOps.writeBucketed(
          t(s, d, "lineitem").select(col("l_orderkey").as("o_orderkey"), col("l_quantity")),
          lT, 8, Seq("o_orderkey"))
      }
      s.table(oT).hint("merge").join(s.table(lT).hint("merge"), "o_orderkey")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_items"), dsum(col("l_quantity")).as("total_qty"))
        .orderBy(col("o_orderpriority"))
    },

    /** Map-typed scalar family: JSON → map (from_json), constructed
      * maps (map_from_arrays), map_keys / map_values / element_at /
      * size / map_concat. Map columns are not driver-hashable, so every
      * output reduces to STRING/BIGINT (sorted-joined keys/values) —
      * the oracle produces the same values from the JSON text directly.
      * All per-row, codegen'd, no shuffle before the ORDER BY. */
    QueryDef("scalar_map", Some("""
      SELECT event_id,
             array_to_string(list_sort(json_keys(props)), ',') AS key_list,
             json_extract_string(props, '$.k') AS k_val,
             CAST(len(json_keys(props)) AS BIGINT) AS n_keys,
             event_type AS type_val,
             array_to_string(list_sort([event_type, CAST(user_id AS VARCHAR)]), ',') AS vals2
      FROM events ORDER BY event_id""")) { (s, d) =>
      import org.apache.spark.sql.types.{MapType, StringType}
      val m = from_json(col("props"), MapType(StringType, StringType))
      val m2 = map_from_arrays(
        array(lit("type"), lit("uid")),
        array(col("event_type"), col("user_id").cast("string")))
      // sort the narrow raw columns FIRST, parse/project AFTER: with
      // the projection below .orderBy, the range partitioner's sampling
      // pass parses every props JSON a second time and the shuffle
      // carries the exploded strings; post-sort projection parses once
      // on ordered rows (event_id is unique — total order preserved).
      Tables.events(s, d)
        .select(col("event_id"), col("props"), col("event_type"), col("user_id"))
        .orderBy(col("event_id"))
        .select(col("event_id"),
        array_join(array_sort(map_keys(m)), ",").as("key_list"),
        // try_element_at: ANSI mode throws on a missing map key while
        // the oracle's json_extract_string returns NULL
        try_element_at(m, lit("k")).as("k_val"),
        size(m).cast("long").as("n_keys"),
        // concat with a constant disjoint-key map: concatenating m (the
        // parsed JSON) would throw under the default EXCEPTION dedup
        // policy if props ever carried a "type"/"uid" key
        element_at(map_concat(m2, map(lit("src"), lit("events"))), "type").as("type_val"),
        array_join(array_sort(map_values(m2)), ",").as("vals2"))
    },

    /** Explicit two-phase salted aggregation — the skew guard for a
      * hot-key groupBy that AQE can't split (aggregation skew, not join
      * skew). Phase 1 groups on (key, salt) so a hot key spreads over 16
      * reducers; phase 2 merges the 16 partials. Exact-decimal partial
      * sums are associative, so the rewrite is value-exact; the oracle
      * is the plain single-phase GROUP BY. */
    QueryDef("agg_salted", Some("""
      SELECT event_type, count(*) AS n,
             CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      FROM events GROUP BY 1 ORDER BY 1""")) { (s, d) =>
      val partial = Tables.events(s, d)
        .withColumn("__salt", pmod(hash(col("event_id")), lit(16)))
        .groupBy(col("event_type"), col("__salt"))
        .agg(count(lit(1)).as("pn"), sum(money(col("value"))).as("pv"))
      partial.groupBy(col("event_type"))
        .agg(sum(col("pn")).as("n"), sum(col("pv")).cast("double").as("total_value"))
        .orderBy(col("event_type"))
    },
  )
}
