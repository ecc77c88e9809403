package graft.queries

import graft.Tables
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Fourth relational batch: fixed-width histogram aggregation and the
  * salted-join skew guard under the oracle gate.
  */
object Relational4 {

  private def t(s: SparkSession, d: String, n: String) = Tables.table(s, d, n)

  val defs: Seq[QueryDef] = Seq(

    /** Fixed-width histogram over order totals: 20 buckets of 25k with
      * an overflow clamp. The bucket id is pure per-row arithmetic
      * (floor of a double division — identical in both engines), so the
      * whole query is one map-side-combined hash aggregate; min/max per
      * bucket are exact (no arithmetic on the double). */
    QueryDef("agg_histogram", Some("""
      WITH b AS (SELECT CAST(least(floor(o_totalprice / 25000.0), 19) AS BIGINT) AS bucket,
                        o_totalprice
                 FROM orders)
      SELECT bucket,
             CAST(bucket AS DOUBLE) * 25000.0 AS lo,
             count(*) AS n,
             min(o_totalprice) AS min_price,
             max(o_totalprice) AS max_price
      FROM b GROUP BY bucket ORDER BY bucket""")) { (s, d) =>
      t(s, d, "orders")
        .select(least(floor(col("o_totalprice") / 25000.0), lit(19L)).cast("long").as("bucket"),
          col("o_totalprice"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n"),
          min(col("o_totalprice")).as("min_price"),
          max(col("o_totalprice")).as("max_price"))
        .select(col("bucket"), (col("bucket").cast("double") * 25000.0).as("lo"),
          col("n"), col("min_price"), col("max_price"))
        .orderBy(col("bucket"))
    },

    /** Runtime bloom-filter join — the third scale-join technique
      * under the oracle gate (next to bucketing and salting): with a
      * selective filter on the dimension side, Spark's
      * InjectRuntimeFilter builds a bloom filter over the dim join
      * keys and applies `might_contain` to the FACT side BEFORE its
      * shuffle, so non-matching fact rows never travel — at 100 TB
      * this is the difference between shuffling the whole fact table
      * and shuffling the ~matching slice. Thresholds are scaled to
      * fixture bytes (the mechanism is identical at the defaults);
      * broadcast is disabled so the join actually shuffles and the
      * filter has something to save. Bloom filters admit false
      * positives but never false negatives, and the exact join still
      * runs behind the filter — so the result is EXACTLY the plain
      * join's, which is what the oracle checks. The judged result is
      * materialized inside the conf scope (localCheckpoint) because
      * runtime-filter injection happens at execution time; the
      * might_contain plan evidence is guarded in PlanShapeSpec. */
    QueryDef("join_bloom_runtime", Some("""
      SELECT o_orderpriority, count(*) AS n
      FROM lineitem JOIN orders ON o_orderkey = l_orderkey
      WHERE o_orderstatus = 'F'
      GROUP BY 1 ORDER BY 1""")) { (s, d) =>
      import graft.operators.ConfScope
      ConfScope.withConf(s, Map(
        "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1")) {
        t(s, d, "lineitem").select(col("l_orderkey"))
          .join(t(s, d, "orders")
              .filter(col("o_orderstatus") === "F")
              .select(col("o_orderkey"), col("o_orderpriority")),
            col("o_orderkey") === col("l_orderkey"))
          .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n"))
          .orderBy(col("o_orderpriority"))
          .localCheckpoint(true)
      }
    },

    /** The JOIN skew-guard DECISION query — complement of `agg_salted`
      * (aggregation skew, where manual salting remains the right
      * tool). A manual salt (fact side salted 8 ways, dimension
      * exploded 8×) was measured against stock AQE on the identical
      * ×100 workload (PLANS.md, "Task 4: join_skew_salted vs stock AQE
      * at ×100"): AQE's plain equi-join ran **5× FASTER** (medians
      * 2.0 s vs 10.3 s; even with broadcast disabled the plain
      * SortMergeJoin won at 2.3 s, with ZERO AQE skew-splits firing —
      * the fixture's realistic key distribution never stalls a
      * reducer, while the salt's 8× dimension replication and wider
      * (key, salt) shuffle are a tax paid unconditionally). The judged
      * plan is therefore the PLAIN equi-join under AQE — the rows a
      * salt would produce by construction (salting only reroutes),
      * same oracle. The guidance this query records: reach for AQE
      * first; salt joins only on measured evidence, because the remedy
      * has a standing cost the disease may never incur. */
    QueryDef("join_skew_salted", Some("""
      SELECT c_mktsegment, count(*) AS n_orders,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY 1 ORDER BY 1""")) { (s, d) =>
      val orders = t(s, d, "orders").select(col("o_custkey"), col("o_totalprice"))
      val cust = t(s, d, "customer")
        .select(col("c_custkey").as("o_custkey"), col("c_mktsegment"))
      orders.join(cust, Seq("o_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("total"))
        .orderBy(col("c_mktsegment"))
    },

    /** NOT IN with three-valued logic — the classic SQL trap, and a
      * dedicated physical strategy: one NULL in the subquery makes
      * every NOT IN predicate UNKNOWN, so the null-poisoned leg must
      * return count 0 while the clean leg anti-joins normally. Spark
      * plans the poisoned leg as a null-aware anti join
      * (BroadcastHashJoin LeftAnti with isNullAwareAntiJoin=true,
      * plan-guarded in PlanShapeSpec) — a rewrite to a plain anti join
      * would wrongly return rows. Both subqueries are dimension-sized
      * → broadcast; the fact side never shuffles. */
    QueryDef("join_null_aware_anti", Some("""
      WITH dirty AS (SELECT CASE WHEN c_custkey % 100 = 0 THEN NULL ELSE c_custkey END AS k
                     FROM customer WHERE c_mktsegment = 'BUILDING'),
      clean AS (SELECT c_custkey AS k FROM customer WHERE c_mktsegment = 'BUILDING'),
      a AS (SELECT count(*) AS n FROM orders WHERE o_custkey NOT IN (SELECT k FROM dirty)),
      b AS (SELECT count(*) AS n FROM orders WHERE o_custkey NOT IN (SELECT k FROM clean))
      SELECT 'null_poisoned' AS variant, n FROM a
      UNION ALL SELECT 'clean' AS variant, n FROM b
      ORDER BY variant""")) { (s, d) =>
      t(s, d, "customer").createOrReplaceTempView("graft_q_naaj_customer")
      t(s, d, "orders").createOrReplaceTempView("graft_q_naaj_orders")
      s.sql("""
        WITH dirty AS (SELECT CASE WHEN c_custkey % 100 = 0 THEN NULL ELSE c_custkey END AS k
                       FROM graft_q_naaj_customer WHERE c_mktsegment = 'BUILDING'),
        clean AS (SELECT c_custkey AS k FROM graft_q_naaj_customer WHERE c_mktsegment = 'BUILDING'),
        a AS (SELECT count(*) AS n FROM graft_q_naaj_orders
              WHERE o_custkey NOT IN (SELECT k FROM dirty)),
        b AS (SELECT count(*) AS n FROM graft_q_naaj_orders
              WHERE o_custkey NOT IN (SELECT k FROM clean))
        SELECT 'null_poisoned' AS variant, n FROM a
        UNION ALL SELECT 'clean' AS variant, n FROM b
        ORDER BY variant""")
    },

    /** PURE band join — no equi key at all: every event paired with
      * every other event whose value lies within ±0.05 (distinct pairs
      * via id ordering). Complement of `join_range` (which rides a
      * user_id equi key): here Spark's only native plan is a nested
      * loop — 10^10 comparisons at sf0.1, the canonical range-join
      * scale-killer. The [[graft.plans.BandJoinBinning]] optimizer rule
      * (this repo's first custom Catalyst Rule, injected via
      * GraftExtensions / install()) rewrites it to a binned equi-join:
      * build side bucketed by floor(value/width), probe side exploded
      * to its 2-3 reachable buckets, original predicate re-applied —
      * value-identical output (which is exactly what the oracle
      * asserts), O(n+m) shuffle instead of O(n·m) compares. Plan
      * guards in BandJoinSpec/PlanShapeSpec assert no
      * BNLJ/CartesianProduct survives. The double arithmetic
      * (abs/subtract/compare) is bit-identical in DuckDB, so the pair
      * set matches exactly. */
    QueryDef("join_range_band", Some("""
      SELECT a.event_type AS type_a, b.event_type AS type_b, count(*) AS n_pairs
      FROM events a JOIN events b
        ON abs(a.value - b.value) <= 0.05 AND a.event_id < b.event_id
      GROUP BY 1, 2 ORDER BY 1, 2""")) { (s, d) =>
      graft.plans.BandJoinBinning.install(s)
      val e = Tables.events(s, d).select(col("event_id"), col("event_type"), col("value"))
      val a = e.select(col("event_id").as("a_id"), col("event_type").as("type_a"),
        col("value").as("a_val"))
      val b = e.select(col("event_id").as("b_id"), col("event_type").as("type_b"),
        col("value").as("b_val"))
      a.join(b, abs(col("a_val") - col("b_val")) <= 0.05 && col("a_id") < col("b_id"))
        .groupBy(col("type_a"), col("type_b")).agg(count(lit(1)).as("n_pairs"))
        .orderBy(col("type_a"), col("type_b"))
    },

    /** Interval OVERLAP join — the variable-length generalization of
      * join_range_band (band = fixed-width intervals): every event
      * carries an interval [value, value + (id%7+1)*0.02] and pairs
      * whose intervals overlap are counted per type pair. Spark's only
      * native plan is again the nested loop;
      * [[graft.operators.ScaleOps.intervalOverlapJoin]] turns it into
      * a bucket equi-join (both sides explode over covered
      * binWidth buckets, the bucket holding the overlap start is the
      * one responsible for the pair — exactly-once by construction,
      * exact predicate re-applied). Interval endpoints are identical
      * double arithmetic in both engines, so the pair set is exact.
      * binWidth 0.1 ≈ the typical interval length: ~2 buckets per
      * row, O(n+m) shuffle instead of 10^10 compares at sf0.1. */
    QueryDef("join_interval_overlap", Some("""
      WITH iv AS (SELECT event_id, event_type, value AS st,
                         value + (event_id % 7 + 1) * 0.02 AS en
                  FROM events)
      SELECT a.event_type AS type_a, b.event_type AS type_b, count(*) AS n_pairs
      FROM iv a JOIN iv b
        ON a.st <= b.en AND b.st <= a.en AND a.event_id < b.event_id
      GROUP BY 1, 2 ORDER BY 1, 2""")) { (s, d) =>
      import graft.operators.ScaleOps
      val iv = Tables.events(s, d).select(col("event_id"), col("event_type"),
        col("value").as("st"),
        (col("value") + (pmod(col("event_id"), lit(7)) + 1) * 0.02).as("en"))
      val a = iv.select(col("event_id").as("a_id"), col("event_type").as("type_a"),
        col("st").as("a_st"), col("en").as("a_en"))
      val b = iv.select(col("event_id").as("b_id"), col("event_type").as("type_b"),
        col("st").as("b_st"), col("en").as("b_en"))
      // binWidth 0.04 (round-19, measured): half the typical interval
      // length — fewer false candidates per bucket than the old 0.1 at
      // the cost of ~2 more exploded bucket rows per side; the exact
      // overlap predicate re-applies either way, so the pair set (and
      // the oracle) is unchanged
      ScaleOps.intervalOverlapJoin(a, b, "a_st", "a_en", "b_st", "b_en", binWidth = 0.04)
        .filter(col("a_id") < col("b_id"))
        .groupBy(col("type_a"), col("type_b")).agg(count(lit(1)).as("n_pairs"))
        .orderBy(col("type_a"), col("type_b"))
    },

    /** TIME-band join with no equi key: cross-type event pairs within
      * ±2 seconds of each other, corpus-wide (no user_id key to ride —
      * that variant is `join_range`). BandJoinBinning recognizes the
      * `ts BETWEEN ts ± INTERVAL` shape (TimestampAddInterval with
      * DayTimeInterval literals), bins both sides in epoch micros via
      * UnixMicros (ANSI bans the direct timestamp→numeric cast), and
      * the nested loop becomes a bucket hash join — the temporal twin
      * of join_range_band. Timestamp comparisons and the micro-epoch
      * arithmetic are exact integers in both engines. */
    QueryDef("join_range_band_time", Some("""
      WITH e AS (SELECT event_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM events)
      SELECT a.event_type AS type_a, b.event_type AS type_b, count(*) AS n_pairs
      FROM e a JOIN e b
        ON b.ts >= a.ts - INTERVAL 2 SECOND AND b.ts <= a.ts + INTERVAL 2 SECOND
        AND a.event_id < b.event_id
      GROUP BY 1, 2 ORDER BY 1, 2""")) { (s, d) =>
      graft.plans.BandJoinBinning.install(s)
      val e = Tables.events(s, d).select(col("event_id"), col("event_type"), col("ts"))
      val a = e.select(col("event_id").as("a_id"), col("event_type").as("type_a"),
        col("ts").as("a_ts"))
      val b = e.select(col("event_id").as("b_id"), col("event_type").as("type_b"),
        col("ts").as("b_ts"))
      a.join(b,
          col("b_ts") >= col("a_ts") - expr("INTERVAL 2 SECONDS") &&
            col("b_ts") <= col("a_ts") + expr("INTERVAL 2 SECONDS") &&
            col("a_id") < col("b_id"))
        .groupBy(col("type_a"), col("type_b")).agg(count(lit(1)).as("n_pairs"))
        .orderBy(col("type_a"), col("type_b"))
    },

    /** Linear regression / correlation by SUFFICIENT STATISTICS — the
      * distributed-ML primitive: one map-side-combined pass collects
      * the six exact sums (n, Σx, Σy, Σx², Σy², Σxy) per group, and
      * corr / covar_pop / slope / intercept all derive from them in a
      * short closed form. At 100 TB this is THE shape for fitting
      * per-segment trend lines: no second pass, no centering pass, the
      * partial sums merge associatively across any partitioning.
      *
      * Parity: x = whole-unit quantities, y = integer cents, so every
      * sum is exact (decimal(38,0) on the Spark side, HUGEINT in
      * DuckDB); the closed form converts each exact difference to
      * DOUBLE once and then applies an IDENTICAL IEEE expression tree
      * in both engines (sqrt(dx)·sqrt(dy), not sqrt(dx·dy) — the
      * product would overflow 38 digits). Built-in corr()/covar_pop()
      * are deliberately NOT used: their streaming update order is
      * engine-specific, which is exactly the nondeterminism the
      * sufficient-statistics form removes. */
    QueryDef("agg_regression_stats", Some("""
      WITH b AS (SELECT l_returnflag AS flag,
                        CAST(l_quantity AS BIGINT) AS x,
                        CAST(round(l_extendedprice * 100) AS BIGINT) AS y
                 FROM lineitem),
      s AS (SELECT flag, count(*) AS n, sum(x) AS sx, sum(y) AS sy,
                   sum(x*x) AS sxx, sum(y*y) AS syy, sum(x*y) AS sxy
            FROM b GROUP BY 1),
      c AS (SELECT flag, n,
              CAST(n*sxy - sx*sy AS DOUBLE) AS num,
              CAST(n*sxx - sx*sx AS DOUBLE) AS dx,
              CAST(n*syy - sy*sy AS DOUBLE) AS dy,
              CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd,
              CAST(n AS DOUBLE) AS nd
            FROM s)
      SELECT flag, CAST(n AS BIGINT) AS n,
             round(num / (sqrt(dx) * sqrt(dy)), 6) AS corr,
             round(num / (nd * nd), 6) AS covar_pop,
             round(num / dx, 6) AS slope,
             round((syd - (num / dx) * sxd) / nd, 6) AS intercept
      FROM c ORDER BY flag""")) { (s, d) =>
      val dec = "decimal(38,0)"
      val base = t(s, d, "lineitem").select(col("l_returnflag").as("flag"),
        col("l_quantity").cast("long").as("x"),
        round(col("l_extendedprice") * 100).cast("long").as("y"))
      // x <= 50, y <= ~1.1e7 cents: x*x, y*y (~1.2e14), x*y all fit
      // long exactly; the SUMS get decimal(38,0) so no scale overflows
      val sums = base.groupBy(col("flag")).agg(
        count(lit(1)).cast(dec).as("n"),
        sum(col("x").cast(dec)).as("sx"),
        sum(col("y").cast(dec)).as("sy"),
        sum((col("x") * col("x")).cast(dec)).as("sxx"),
        sum((col("y") * col("y")).cast(dec)).as("syy"),
        sum((col("x") * col("y")).cast(dec)).as("sxy"))
      val c = sums.select(col("flag"), col("n"),
        (col("n") * col("sxy") - col("sx") * col("sy")).cast("double").as("num"),
        (col("n") * col("sxx") - col("sx") * col("sx")).cast("double").as("dx"),
        (col("n") * col("syy") - col("sy") * col("sy")).cast("double").as("dy"),
        col("sx").cast("double").as("sxd"), col("sy").cast("double").as("syd"),
        col("n").cast("double").as("nd"))
      c.select(col("flag"), col("n").cast("long").as("n"),
          round(col("num") / (sqrt(col("dx")) * sqrt(col("dy"))), 6).as("corr"),
          round(col("num") / (col("nd") * col("nd")), 6).as("covar_pop"),
          round(col("num") / col("dx"), 6).as("slope"),
          round((col("syd") - (col("num") / col("dx")) * col("sxd")) / col("nd"), 6).as("intercept"))
        .orderBy(col("flag"))
    },

    /** FORWARD as-of join with tolerance — the direction/tolerance
      * variant the backward `join_asof` doesn't cover (pandas
      * merge_asof(direction='forward', tolerance=...); kdb aj's dual):
      * for every click, the NEXT purchase by the same user within one
      * hour — the conversion-attribution kernel of event analytics.
      * Same single-sort-merge shape as join_asof, time-reversed: union
      * both row kinds, ONE window per user ordered (ts DESC, purchases
      * before clicks at equal ts, larger purchase ids first so the
      * running `last` resolves equal-ts ties to the SMALLEST id), and
      * `last(ignoreNulls)` over the running frame yields the nearest
      * purchase at-or-after each click. The 1-hour tolerance is an
      * exact-µs post-filter. One shuffle on user_id, zero joins — the
      * naive form is a per-click correlated range probe (the oracle's
      * formulation), quadratic in events-per-user. */
    QueryDef("join_asof_forward", Some("""
      SELECT c.event_id, c.user_id,
        (SELECT p.event_id FROM events p
          WHERE p.user_id = c.user_id AND p.event_type = 'purchase'
            AND CAST(p.ts AS TIMESTAMP) >= CAST(c.ts AS TIMESTAMP)
            AND epoch_us(CAST(p.ts AS TIMESTAMP)) - epoch_us(CAST(c.ts AS TIMESTAMP)) <= 3600000000
          ORDER BY p.ts, p.event_id LIMIT 1) AS next_purchase_id,
        (SELECT epoch_us(CAST(p.ts AS TIMESTAMP)) - epoch_us(CAST(c.ts AS TIMESTAMP)) FROM events p
          WHERE p.user_id = c.user_id AND p.event_type = 'purchase'
            AND CAST(p.ts AS TIMESTAMP) >= CAST(c.ts AS TIMESTAMP)
            AND epoch_us(CAST(p.ts AS TIMESTAMP)) - epoch_us(CAST(c.ts AS TIMESTAMP)) <= 3600000000
          ORDER BY p.ts, p.event_id LIMIT 1) AS gap_us
      FROM events c WHERE c.event_type = 'click' ORDER BY c.event_id""")) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val ev = Tables.events(s, d)
      val p = ev.filter(col("event_type") === "purchase").select(
        col("user_id"), col("ts").as("t"), lit(0).as("kind"),
        col("event_id").as("pe"), unix_micros(col("ts")).as("pus"),
        lit(null).cast("long").as("event_id"))
      val c = ev.filter(col("event_type") === "click").select(
        col("user_id"), col("ts").as("t"), lit(1).as("kind"),
        lit(null).cast("long").as("pe"), lit(null).cast("long").as("pus"),
        col("event_id"))
      // ts DESC scan: at equal ts purchases (kind 0) come first so the
      // click sees them; among equal-ts purchases larger ids come first
      // so the running last() retains the smallest
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("t").desc, col("kind"), col("pe").desc_nulls_last)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      p.unionByName(c)
        .withColumn("np", last(col("pe"), ignoreNulls = true).over(w))
        .withColumn("nus", last(col("pus"), ignoreNulls = true).over(w))
        .filter(col("kind") === 1)
        .withColumn("gap", col("nus") - unix_micros(col("t")))
        .select(col("event_id"), col("user_id"),
          when(col("gap") <= 3600000000L, col("np")).as("next_purchase_id"),
          when(col("gap") <= 3600000000L, col("gap")).as("gap_us"))
        .orderBy(col("event_id"))
    },
  )
}
