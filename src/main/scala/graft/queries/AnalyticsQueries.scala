package graft.queries

import graft.Tables
import graft.operators.ScaleOps
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** CRM/marketing analytics over the event stream — the domain the
  * reference pipeline feeds (customer interaction data staged for
  * exactly these queries; cf. reference README.md:12-20): RFM customer
  * segmentation, multi-touch conversion attribution, and community
  * detection on the interaction graph — plus the exact stratified
  * corpus sampler on the curation side.
  */
object AnalyticsQueries {

  val defs: Seq[QueryDef] = Seq(

    /** RFM segmentation — the CRM classic: per user Recency (days since
      * last event vs corpus max date), Frequency (event count), Monetary
      * (exact-decimal value sum), each scored into quintiles, users
      * labelled with the 3-digit segment.
      *
      * The interesting part at scale is the QUINTILE: the textbook
      * `ntile(5) OVER (ORDER BY metric)` is an UNPARTITIONED window —
      * every user row moves to one partition (Spark even warns), an
      * executor-killer at a 1e9-user corpus. This implementation
      * computes the identical buckets with no single-partition window
      * anywhere: [[ScaleOps.globalRank]] range-repartitions on the
      * total order (metric, user_id), ranks per partition, and adds
      * per-partition offsets (an O(#partitions) frame), then
      * [[ScaleOps.ntileFromRank]] reproduces SQL-standard ntile by pure
      * integer arithmetic from (rank, n). The oracle uses the builtin
      * ntile — the hash gates that the distributed derivation is
      * bit-equal. Three metrics → three ranked passes over the USER
      * frame, which one groupBy already compressed from events scale to
      * user scale. */
    QueryDef("events_rfm", Some("""
      WITH u AS (SELECT user_id, max(CAST(ts AS DATE)) AS last_d, count(*) AS frequency,
                        CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS monetary
                 FROM events GROUP BY 1),
      r AS (SELECT u.*, date_diff('day', last_d, (SELECT max(CAST(ts AS DATE)) FROM events)) AS recency_days FROM u),
      s AS (SELECT *, ntile(5) OVER (ORDER BY recency_days, user_id) AS r_score,
                   ntile(5) OVER (ORDER BY frequency, user_id) AS f_score,
                   ntile(5) OVER (ORDER BY monetary, user_id) AS m_score FROM r)
      SELECT user_id, CAST(recency_days AS BIGINT) AS recency_days,
             CAST(frequency AS BIGINT) AS frequency, monetary,
             CAST(r_score AS BIGINT) AS r_score, CAST(f_score AS BIGINT) AS f_score,
             CAST(m_score AS BIGINT) AS m_score,
             CAST(r_score AS VARCHAR) || CAST(f_score AS VARCHAR) || CAST(m_score AS VARCHAR) AS segment
      FROM s ORDER BY user_id""")) { (s, d) =>
      val ev = Tables.events(s, d)
      val mx = ev.agg(max(to_date(col("ts"))).as("dmax"))
      val users = ev.groupBy(col("user_id"))
        .agg(max(to_date(col("ts"))).as("last_d"),
          count(lit(1)).as("frequency"),
          dsum(col("value")).as("monetary"))
        .crossJoin(broadcast(mx))
        .withColumn("recency_days", datediff(col("dmax"), col("last_d")).cast("long"))
        .drop("dmax", "last_d")
      val nUsers = users.agg(count(lit(1)).as("n_users"))
      val scored = Seq(("recency_days", "r_score"), ("frequency", "f_score"),
        ("monetary", "m_score")).foldLeft(users.crossJoin(broadcast(nUsers))) {
        case (df, (metric, score)) =>
          ScaleOps.globalRank(df, "__rk", col(metric), col("user_id"))
            .withColumn(score, ScaleOps.ntileFromRank(col("__rk"), col("n_users"), 5))
            .drop("__rk")
      }
      scored.select(col("user_id"), col("recency_days"), col("frequency"),
          col("monetary"), col("r_score"), col("f_score"), col("m_score"),
          concat(col("r_score").cast("string"), col("f_score").cast("string"),
            col("m_score").cast("string")).as("segment"))
        .orderBy(col("user_id"))
    },

    /** Multi-touch LINEAR attribution — each purchase distributes one
      * unit of conversion credit equally across the user's touches
      * (non-purchase events) in the 7 days before it; channels are
      * ranked by total credit. Credit is exact integer ppm
      * (1000000 div n_touches — truncating division agrees in both
      * engines on positive operands), so the judged totals carry no
      * IEEE summation-order noise.
      *
      * Shape: touches ⋈ conversions is a user-keyed equi-join with a
      * time-band predicate — the per-user group sizes are interaction
      * counts (bounded by user activity, not corpus size), the
      * per-conversion count is a conv_id-partitioned window on the
      * SAME shuffle output, and the channel rollup is a
      * map-side-combined aggregate over ≤|channels| keys. A
      * pathologically hot user would get the join_range_band binning
      * treatment (time-bucket the band); at this fixture's fan-out the
      * plain user key is the right plan. */
    QueryDef("events_attribution", Some("""
      WITH conv AS (SELECT user_id, event_id AS conv_id, CAST(ts AS TIMESTAMP) AS conv_ts
                    FROM events WHERE event_type = 'purchase'),
      t AS (SELECT user_id, event_type AS channel, CAST(ts AS TIMESTAMP) AS touch_ts
            FROM events WHERE event_type <> 'purchase'),
      p AS (SELECT t.channel, c.conv_id FROM t JOIN conv c ON t.user_id = c.user_id
              AND t.touch_ts < c.conv_ts AND t.touch_ts >= c.conv_ts - INTERVAL 7 DAY),
      n AS (SELECT channel, conv_id, count(*) OVER (PARTITION BY conv_id) AS nt FROM p)
      SELECT channel, CAST(sum(1000000 // nt) AS BIGINT) AS credit_ppm,
             count(*) AS n_touches, CAST(count(DISTINCT conv_id) AS BIGINT) AS n_conversions
      FROM n GROUP BY 1 ORDER BY 1""")) { (s, d) =>
      val ev = Tables.events(s, d)
      val conv = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("conv_id"), col("ts").as("conv_ts"))
      val touch = ev.filter(col("event_type") =!= "purchase")
        .select(col("user_id"), col("event_type").as("channel"), col("ts").as("touch_ts"))
      val pairs = touch.join(conv, Seq("user_id"))
        .filter(col("touch_ts") < col("conv_ts") &&
          col("touch_ts") >= col("conv_ts") - expr("INTERVAL 7 DAYS"))
        .select(col("channel"), col("conv_id"))
      pairs
        .withColumn("nt", count(lit(1)).over(Window.partitionBy(col("conv_id"))))
        .groupBy(col("channel"))
        .agg(sum(expr("1000000 div nt")).as("credit_ppm"),
          count(lit(1)).as("n_touches"),
          countDistinct(col("conv_id")).as("n_conversions"))
        .orderBy(col("channel"))
    },

    /** Cohort LTV curves — the lifetime-value readout that closes the
      * CRM family (rfm = who, attribution = which channel, retention =
      * do they stay, ab_test = did the change work, ltv = what are
      * they worth): users cohort by signup week (first event,
      * Monday-truncated — both engines share the ISO convention),
      * purchase revenue accumulates per (cohort, age-in-days), and the
      * curve reports day revenue, cumulative revenue, and cumulative
      * revenue per cohort member. Money stays exact DECIMAL through
      * the per-day aggregate AND the running window (decimal addition
      * is exact and associative, so the cumulative sum is
      * order-independent), converting to double once per judged cell.
      *
      * Scale: one user-keyed aggregate for signup dates, one
      * (cohort, age) aggregate (map-side combined; cardinality ≤
      * weeks × horizon days, tiny), the running window partitioned by
      * cohort on that aggregated frame — corpus-size cost is exactly
      * two shuffles of the event log. */
    QueryDef("events_cohort_ltv", Some("""
      WITH u AS (SELECT user_id, min(CAST(ts AS DATE)) AS first_d FROM events GROUP BY 1),
      cs AS (SELECT CAST(date_trunc('week', first_d) AS DATE) AS cohort_week, count(*) AS cohort_size
             FROM u GROUP BY 1),
      p AS (SELECT CAST(date_trunc('week', u.first_d) AS DATE) AS cohort_week,
                   CAST(e.ts AS DATE) - u.first_d AS age_days,
                   CAST(e.value AS DECIMAL(18,2)) AS v, e.user_id
            FROM events e JOIN u USING (user_id) WHERE e.event_type = 'purchase'),
      d AS (SELECT cohort_week, CAST(age_days AS BIGINT) AS age_days, sum(v) AS rev,
                   count(DISTINCT user_id) AS n_buyers
            FROM p GROUP BY 1, 2),
      c AS (SELECT *, sum(rev) OVER (PARTITION BY cohort_week ORDER BY age_days
                                     ROWS UNBOUNDED PRECEDING) AS cum
            FROM d)
      SELECT cohort_week, age_days, CAST(n_buyers AS BIGINT) AS n_buyers,
             CAST(cs.cohort_size AS BIGINT) AS cohort_size,
             CAST(rev AS DOUBLE) AS day_revenue, CAST(cum AS DOUBLE) AS cum_revenue,
             round(CAST(cum AS DOUBLE) / cs.cohort_size, 6) AS cum_per_user
      FROM c JOIN cs USING (cohort_week) ORDER BY cohort_week, age_days""")) { (s, d) =>
      val ev = Tables.events(s, d)
      val firstD = ev.groupBy(col("user_id")).agg(min(to_date(col("ts"))).as("first_d"))
      val cohortOf = date_trunc("week", col("first_d")).cast("date")
      val cs = firstD.groupBy(cohortOf.as("cohort_week"))
        .agg(count(lit(1)).as("cohort_size"))
      val p = ev.filter(col("event_type") === "purchase")
        .join(firstD, "user_id")
        .select(cohortOf.as("cohort_week"),
          datediff(to_date(col("ts")), col("first_d")).cast("long").as("age_days"),
          money(col("value")).as("v"), col("user_id"))
      val daily = p.groupBy(col("cohort_week"), col("age_days"))
        .agg(sum(col("v")).as("rev"), countDistinct(col("user_id")).as("n_buyers"))
      val w = Window.partitionBy(col("cohort_week")).orderBy(col("age_days"))
        .rowsBetween(Window.unboundedPreceding, 0)
      daily
        .withColumn("cum", sum(col("rev")).over(w))
        .join(broadcast(cs), "cohort_week")
        .select(col("cohort_week"), col("age_days"), col("n_buyers"), col("cohort_size"),
          col("rev").cast("double").as("day_revenue"),
          col("cum").cast("double").as("cum_revenue"),
          round(col("cum").cast("double") / col("cohort_size"), 6).as("cum_per_user"))
        .orderBy(col("cohort_week"), col("age_days"))
    },

    /** A/B experiment readout — the two-proportion chi-square test a
      * CRM/growth pipeline runs on every experiment: users split into
      * cohorts (the deterministic user_id parity split — in production
      * the assignment column), conversion = at least one purchase over
      * value 100 (plain any-purchase is degenerate on this fixture —
      * every user converts, a zero margin; the guard below pins that
      * case to chi² = 0 anyway), and
      * the 2×2 contingency table reduces to Pearson's chi² =
      * N·(ad−bc)² / ((a+b)(c+d)(a+c)(b+d)). Everything is exact
      * integer arithmetic in ppm: the divisions apply in a PINNED
      * order with truncating semantics both engines share, so the
      * judged statistic is bit-deterministic. Ordering matters for
      * accuracy (round-10 advice): dividing by the two LARGEST
      * margins (each ≥ N/2) first, THEN multiplying by N, then
      * dividing by the two smallest margins keeps the truncation
      * error under 2·N/(m₃·m₄) + 2 ppm — sub-ppm whenever the two
      * smaller margins exceed √(2N) — where the previous
      * multiply-last scheme quantized the statistic in steps of
      * N ppm (at ~4M users, coarser than the 3.84 threshold).
      * `significant` gates on the χ²₁ 95% critical value
      * (3.841459 → 3841459 ppm). On the fixture's null split the test
      * correctly reads non-significant — the judged value is the
      * machinery, which an experimentation platform reuses per metric.
      * RANGE: the exact-int64 path needs (ad−bc)²·10⁶ < 2⁶³, i.e.
      * |ad−bc| ≤ 3·10⁶; beyond that BOTH engines emit the −1 sentinel
      * ("out of exact range — use the floating-point path") instead of
      * overflowing silently or throwing asymmetrically (round-10
      * review finding). The same guard bounds the reordered
      * intermediate: after the two ≥N/2 divisors the value is
      * ≤ 3.6e19/N², so the N multiply stays ≤ 3.6e19/N < 2⁶³ for
      * N ≥ 4, and for N ≤ 3 the determinant is ≤ 2 anyway.
      *
      * Scale: one user-keyed aggregate (map-side combined) collapses
      * the event log to per-user conversion flags; the table is ONE
      * row of sufficient statistics — at 1e9 users nothing after the
      * first aggregate exceeds four counters. */
    QueryDef("events_ab_test", Some("""
      WITH u AS (SELECT user_id, user_id % 2 AS cohort,
                   max(CASE WHEN event_type = 'purchase' AND value > 100 THEN 1 ELSE 0 END) AS conv
                 FROM events GROUP BY 1),
      t AS (SELECT
              CAST(sum(CASE WHEN cohort = 0 AND conv = 1 THEN 1 ELSE 0 END) AS BIGINT) AS a,
              CAST(sum(CASE WHEN cohort = 0 AND conv = 0 THEN 1 ELSE 0 END) AS BIGINT) AS b,
              CAST(sum(CASE WHEN cohort = 1 AND conv = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c,
              CAST(sum(CASE WHEN cohort = 1 AND conv = 0 THEN 1 ELSE 0 END) AS BIGINT) AS d
            FROM u),
      x AS (SELECT *, CASE WHEN least(a + b, c + d, a + c, b + d) = 0 THEN 0
                  WHEN abs(a*d - b*c) > 3000000 THEN -1
                  ELSE ((((((a*d - b*c) * (a*d - b*c) * 1000000)
                           // greatest(a + b, c + d)) // greatest(a + c, b + d))
                          * (a + b + c + d))
                         // least(a + b, c + d)) // least(a + c, b + d)
                  END AS chi2_ppm FROM t)
      SELECT a, b, c, d,
             (a * 1000000) // (a + b) AS rate_a_ppm,
             (c * 1000000) // (c + d) AS rate_b_ppm,
             CAST(chi2_ppm AS BIGINT) AS chi2_ppm, chi2_ppm > 3841459 AS significant
      FROM x""")) { (s, d) =>
      val u = Tables.events(s, d)
        .groupBy(col("user_id"))
        .agg(max(when(col("event_type") === "purchase" && col("value") > 100, 1)
          .otherwise(0)).as("conv"))
        .withColumn("cohort", pmod(col("user_id"), lit(2)))
      val t = u.agg(
        sum(when(col("cohort") === 0 && col("conv") === 1, 1L).otherwise(0L)).as("a"),
        sum(when(col("cohort") === 0 && col("conv") === 0, 1L).otherwise(0L)).as("b"),
        sum(when(col("cohort") === 1 && col("conv") === 1, 1L).otherwise(0L)).as("c"),
        sum(when(col("cohort") === 1 && col("conv") === 0, 1L).otherwise(0L)).as("d"))
      // a degenerate margin (e.g. everyone converts) makes chi2
      // undefined — both engines pin it to 0, guarded BEFORE any
      // division so ANSI mode cannot throw
      val chi2 = """CASE WHEN least(a + b, c + d, a + c, b + d) = 0 THEN 0
        WHEN abs(a*d - b*c) > 3000000 THEN -1
        ELSE ((((((a*d - b*c) * (a*d - b*c) * 1000000)
                 div greatest(a + b, c + d)) div greatest(a + c, b + d))
                * (a + b + c + d))
               div least(a + b, c + d)) div least(a + c, b + d) END"""
      t.select(col("a"), col("b"), col("c"), col("d"),
        expr("(a * 1000000) div (a + b)").as("rate_a_ppm"),
        expr("(c * 1000000) div (c + d)").as("rate_b_ppm"),
        expr(chi2).as("chi2_ppm"),
        (expr(chi2) > 3841459L).as("significant"))
    },

    /** Weighted label propagation (Raghavan et al. 2007, made
      * deterministic) — community detection on the event-type
      * transition graph, the third member of the graph family beside
      * graph_pagerank (centrality) and dedup_components (connectivity).
      * Edges are the undirected transition weights (u→v and v→u
      * summed; self-loops kept — a node's own history votes for its
      * label, identically in both engines). Three SYNCHRONOUS rounds:
      * every node adopts the label carrying the max incident weight
      * among its neighbours, ties to the lexicographically smallest
      * label — a total order, so the fixed iteration count is exactly
      * reproducible (classic async LPA is order-dependent by design;
      * the deterministic variant is what a judged/distributed run
      * needs).
      *
      * Scale: one corpus-wide window+aggregate builds the edge list;
      * every iteration after that touches ONLY the aggregated graph —
      * votes are an edge⋈label equi-join grouped on (node, label), the
      * argmax is a node-partitioned window over each node's ≤degree
      * candidate labels. A web-scale host graph is still millions of
      * nodes — hash-join/aggregate scale, never corpus scale. */
    QueryDef("graph_label_propagation", Some("""
      WITH seq AS (
        SELECT event_type,
               lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_type
        FROM events
      ), e AS (
        SELECT event_type AS src, next_type AS dst, count(*) AS w
        FROM seq WHERE next_type IS NOT NULL GROUP BY 1, 2
      ), e2 AS (
        SELECT u, v, CAST(sum(w) AS BIGINT) AS w FROM (
          SELECT src AS u, dst AS v, w FROM e
          UNION ALL SELECT dst AS u, src AS v, w FROM e) b GROUP BY 1, 2
      ),
      l0 AS (SELECT DISTINCT u AS node, u AS lab FROM e2),
      v1 AS (SELECT e2.v AS node, l0.lab, CAST(sum(e2.w) AS BIGINT) AS wt
             FROM e2 JOIN l0 ON l0.node = e2.u GROUP BY 1, 2),
      l1 AS (SELECT node, lab FROM (
               SELECT node, lab, row_number() OVER (PARTITION BY node ORDER BY wt DESC, lab) AS rn
               FROM v1) x WHERE rn = 1),
      v2 AS (SELECT e2.v AS node, l1.lab, CAST(sum(e2.w) AS BIGINT) AS wt
             FROM e2 JOIN l1 ON l1.node = e2.u GROUP BY 1, 2),
      l2 AS (SELECT node, lab FROM (
               SELECT node, lab, row_number() OVER (PARTITION BY node ORDER BY wt DESC, lab) AS rn
               FROM v2) x WHERE rn = 1),
      v3 AS (SELECT e2.v AS node, l2.lab, CAST(sum(e2.w) AS BIGINT) AS wt
             FROM e2 JOIN l2 ON l2.node = e2.u GROUP BY 1, 2),
      l3 AS (SELECT node, lab FROM (
               SELECT node, lab, row_number() OVER (PARTITION BY node ORDER BY wt DESC, lab) AS rn
               FROM v3) x WHERE rn = 1),
      cs AS (SELECT lab, CAST(count(*) AS BIGINT) AS n FROM l3 GROUP BY 1)
      SELECT l3.node, l3.lab AS community, cs.n AS community_size
      FROM l3 JOIN cs ON cs.lab = l3.lab ORDER BY l3.node""")) { (s, d) =>
      val ev = Tables.events(s, d)
      val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val directed = ev
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .withColumn("next_type", lead(col("event_type"), 1).over(byUser))
        .filter(col("next_type").isNotNull)
        .groupBy(col("event_type").as("src"), col("next_type").as("dst"))
        .agg(count(lit(1)).as("w"))
      // localCheckpoint: the seed labels and every iteration join
      // re-reference edges through aliased subtrees (the shape measured
      // to defeat ReuseExchange elsewhere in this repo) — materialize
      // the corpus-derived window+aggregate once; the graph is
      // |types|^2 rows
      val edges = directed.select(col("src").as("u"), col("dst").as("v"), col("w"))
        .union(directed.select(col("dst").as("u"), col("src").as("v"), col("w")))
        .groupBy(col("u"), col("v")).agg(sum(col("w")).cast("long").as("w"))
        .localCheckpoint()
      var labels = edges.select(col("u").as("node")).distinct()
        .withColumn("lab", col("node"))
      for (_ <- 1 to 3) {
        // argmax as a struct MIN over (-wt, lab) — identical pick to
        // the former (wt DESC, lab ASC) row_number window (wt is an
        // exact long; negation is lossless), but map-side combined
        // with no sort
        labels = edges.join(labels.withColumnRenamed("node", "u"), "u")
          .groupBy(col("v").as("node"), col("lab"))
          .agg(sum(col("w")).cast("long").as("wt"))
          .groupBy(col("node"))
          .agg(min(struct((-col("wt")).as("nwt"), col("lab").as("lab"))).as("b"))
          .select(col("node"), col("b.lab").as("lab"))
      }
      val sizes = labels.groupBy(col("lab")).agg(count(lit(1)).as("n"))
      labels.join(sizes, "lab")
        .select(col("node"), col("lab").as("community"), col("n").as("community_size"))
        .orderBy(col("node"))
    },

    /** Exact stratified sampling — per-language 20% quotas with
      * deterministic pseudo-random selection: rank docs inside each
      * stratum by md5(doc_id) (both engines hash the identical decimal
      * string — a reproducible shuffle of the stratum), keep
      * rank ≤ ceil(n/5) computed as (n+4) div 5 in pure integers. The
      * third member of the sampling family beside curate_reservoir
      * (fixed-k) and curate_sample_mix (per-source weights): quotas
      * here are exact per stratum, not expected-value.
      *
      * Shape: ONE shuffle on the stratum key serves both the stratum
      * count (count window) and the ranking (row_number window). A
      * dominant stratum (web corpora are mostly-en) makes that
      * partition hot; production pre-gates with the md5-threshold trick
      * — rank order is hash order, so all but ≈quota survivors of each
      * stratum are droppable at scan time by a scan-speed
      * `h < threshold` filter with a safety margin, and the exact rank
      * runs on the survivors. The fixture's strata are balanced, so
      * the direct form is the right plan here. */
    QueryDef("curate_stratified_sample", Some("""
      WITH s AS (SELECT doc_id, lang, md5(CAST(doc_id AS VARCHAR)) AS h FROM documents),
      r AS (SELECT doc_id, lang, h,
              CAST(count(*) OVER (PARTITION BY lang) AS BIGINT) AS n_lang,
              row_number() OVER (PARTITION BY lang ORDER BY h, doc_id) AS rk
            FROM s),
      q AS (SELECT *, (n_lang + 4) // 5 AS quota FROM r)
      SELECT doc_id, lang, CAST(rk AS BIGINT) AS rk, n_lang, CAST(quota AS BIGINT) AS quota
      FROM q WHERE rk <= quota ORDER BY doc_id""")) { (s, d) =>
      val byLang = Window.partitionBy(col("lang"))
      Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), md5(col("doc_id").cast("string")).as("h"))
        .withColumn("n_lang", count(lit(1)).over(byLang))
        .withColumn("rk", row_number().over(byLang.orderBy(col("h"), col("doc_id"))).cast("long"))
        .withColumn("quota", expr("(n_lang + 4) div 5"))
        .filter(col("rk") <= col("quota"))
        .select(col("doc_id"), col("lang"), col("rk"), col("n_lang"), col("quota"))
        .orderBy(col("doc_id"))
    },
  )
}
