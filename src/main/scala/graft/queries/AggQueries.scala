package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.HashFunctions

/** Aggregations — SURVEY.md §2.5 (A1-A8): the Elasticsearch query surface
  * (terms / date_histogram / cardinality / top_hits) re-expressed as Spark
  * hash aggregates, plus the north-star OLAP set (rollup/cube/distinct).
  *
  * All double sums go through exact integer cents so the DuckDB hash compare
  * is independent of FP summation order; stddev is computed from exact
  * integer sums with a fixed IEEE op sequence for the same reason.
  */
object AggQueries extends QueryGroup {

  private def cents(c: Column): Column = round(c * 100).cast("long")

  /** Shared Lloyd core of the a41 variable-width-histogram pair: two
    * unrolled assign→recenter iterations from `init` (a 1-row frame with
    * columns c0..c4) over `ev` (event_id, v: long cents), then the bucket
    * report. Each assignment is MAP-SIDE (1-row centroid pivot broadcast
    * into the scan); each recenter one hash agg; zero FP anywhere. The
    * exact query seeds `init` from global ranks (oracle determinism), the
    * `_approx` twin from approx_percentile — identical machinery after the
    * seed, so the two bodies must not drift (r20 verdict #1).
    */
  private def vwHistogramLloyd(ev: org.apache.spark.sql.DataFrame,
      init: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    def assign(cents: org.apache.spark.sql.DataFrame) = ev
      .crossJoin(broadcast(cents))
      .withColumn("cid", expr(
        """CASE
          |  WHEN abs(v-c0) <= abs(v-c1) AND abs(v-c0) <= abs(v-c2)
          |   AND abs(v-c0) <= abs(v-c3) AND abs(v-c0) <= abs(v-c4) THEN 0
          |  WHEN abs(v-c1) <= abs(v-c2) AND abs(v-c1) <= abs(v-c3)
          |   AND abs(v-c1) <= abs(v-c4) THEN 1
          |  WHEN abs(v-c2) <= abs(v-c3) AND abs(v-c2) <= abs(v-c4) THEN 2
          |  WHEN abs(v-c3) <= abs(v-c4) THEN 3
          |  ELSE 4 END""".stripMargin))
    def recenter(assigned: org.apache.spark.sql.DataFrame,
                 prev: org.apache.spark.sql.DataFrame) = {
      // integer floor-division recenter (sums are nonnegative): `div`
      // here ≙ `//` in the oracle — NOT a double divide + cast, whose
      // truncate-vs-round conventions differ across engines (a23 class)
      val sums = assigned.groupBy(col("cid"))
        .agg(expr("sum(v) div count(1)").as("c"))
      val piv = sums.groupBy(lit(1).as("g"))
        .agg(min(when(col("cid") === 0, col("c"))).as("n0"),
          min(when(col("cid") === 1, col("c"))).as("n1"),
          min(when(col("cid") === 2, col("c"))).as("n2"),
          min(when(col("cid") === 3, col("c"))).as("n3"),
          min(when(col("cid") === 4, col("c"))).as("n4"))
        .drop("g")
      prev.crossJoin(piv).select(
        coalesce(col("n0"), col("c0")).as("c0"),
        coalesce(col("n1"), col("c1")).as("c1"),
        coalesce(col("n2"), col("c2")).as("c2"),
        coalesce(col("n3"), col("c3")).as("c3"),
        coalesce(col("n4"), col("c4")).as("c4"))
    }
    val c1 = recenter(assign(init), init)
    val c2 = recenter(assign(c1), c1)
    assign(c2).groupBy(col("cid"))
      .agg(count(lit(1)).as("n"),
        min(col("v")).as("min_cents"), max(col("v")).as("max_cents"))
      .join(broadcast(c2.select(
        expr("stack(5, 0, c0, 1, c1, 2, c2, 3, c3, 4, c4) AS (cid, centroid)"))),
        "cid")
      .select(col("cid"), col("n"), col("min_cents"), col("max_cents"),
        col("centroid"))
      .orderBy(col("cid"))
  }

  def all: Seq[Q] = Seq(

    // A1 — ES `terms` agg analog: counts per key.
    Q("a1_count_per_key",
      (s, d) => Tables(s, d, "events")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("event_type")),
      Some("""SELECT event_type, count(*) AS n
             |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // A2 — ES `date_histogram`: tumbling 1h windows via date_trunc.
    Q("a2_date_histogram",
      (s, d) => Tables(s, d, "events")
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hour"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("event_type"), col("hour")),
      Some("""SELECT event_type, date_trunc('hour', ts) AS hour, count(*) AS n
             |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // A3 — ES `cardinality`: exact variant is oracle-pinned; the approximate
    // HLL++ path (approx_count_distinct) is covered in scalatest.
    Q("a3_cardinality",
      (s, d) => Tables(s, d, "events")
        .groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("n_users"))
        .orderBy(col("event_type")),
      Some("""SELECT event_type, count(DISTINCT user_id) AS n_users
             |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // A4 — top-k terms: TakeOrderedAndProject, tie-broken on the key.
    Q("a4_topk_keys",
      (s, d) => Tables(s, d, "events")
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("user_id"))
        .limit(10),
      Some("""SELECT user_id, count(*) AS n
             |FROM events GROUP BY user_id
             |ORDER BY n DESC, user_id LIMIT 10""".stripMargin)),

    // A5 — ES `top_hits`: latest event per key via ranking window.
    Q("a5_latest_per_key",
      (s, d) => {
        val w = Window.partitionBy(col("event_type"))
          .orderBy(col("ts").desc, col("event_id").desc)
        Tables(s, d, "events")
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select(
            col("event_type"), col("event_id"), col("user_id"),
            date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("posted"))
          .orderBy(col("event_type"))
      },
      Some("""WITH r AS (
             |  SELECT event_type, event_id, user_id,
             |         strftime(ts, '%Y-%m-%d %H:%M:%S') AS posted,
             |         row_number() OVER (PARTITION BY event_type
             |                            ORDER BY ts DESC, event_id DESC) AS rn
             |  FROM events)
             |SELECT event_type, event_id, user_id, posted
             |FROM r WHERE rn = 1 ORDER BY event_type""".stripMargin)),

    // A6 — numeric stats; stddev from exact integer cents with a fixed op
    // sequence: sqrt((n*sumsq - sum^2) / (n*(n-1))) / 100.
    Q("a6_stats",
      (s, d) => {
        val qc = cents(col("l_quantity"))
        Tables(s, d, "lineitem")
          .select(col("l_returnflag"), col("l_linestatus"), qc.as("qc"),
            cents(col("l_extendedprice")).as("pc"))
          .groupBy(col("l_returnflag"), col("l_linestatus"))
          .agg(
            count(lit(1)).as("n"),
            sum(col("qc")).as("sum_qty_cents"),
            sum(col("pc")).as("sum_price_cents"),
            min(col("qc")).as("min_qty_cents"),
            max(col("qc")).as("max_qty_cents"),
            sum(col("qc") * col("qc")).as("sumsq"))
          .select(
            col("l_returnflag"), col("l_linestatus"), col("n"),
            col("sum_qty_cents"), col("sum_price_cents"),
            col("min_qty_cents"), col("max_qty_cents"),
            round(col("sum_qty_cents").cast("double") / col("n") / 100.0, 6).as("avg_qty"),
            round(
              sqrt((col("n") * col("sumsq") - col("sum_qty_cents") * col("sum_qty_cents"))
                .cast("double") / (col("n") * (col("n") - 1)).cast("double")) / 100.0,
              6).as("stddev_qty"))
          .orderBy(col("l_returnflag"), col("l_linestatus"))
      },
      Some("""WITH c AS (
             |  SELECT l_returnflag, l_linestatus,
             |         CAST(round(l_quantity * 100) AS BIGINT) AS qc,
             |         CAST(round(l_extendedprice * 100) AS BIGINT) AS pc
             |  FROM lineitem)
             |SELECT l_returnflag, l_linestatus, count(*) AS n,
             |       CAST(sum(qc) AS BIGINT) AS sum_qty_cents,
             |       CAST(sum(pc) AS BIGINT) AS sum_price_cents,
             |       min(qc) AS min_qty_cents, max(qc) AS max_qty_cents,
             |       round(CAST(sum(qc) AS DOUBLE) / count(*) / 100.0, 6) AS avg_qty,
             |       round(sqrt(CAST(count(*) * sum(qc * qc) - sum(qc) * sum(qc) AS DOUBLE)
             |                  / CAST(count(*) * (count(*) - 1) AS DOUBLE)) / 100.0, 6) AS stddev_qty
             |FROM c GROUP BY l_returnflag, l_linestatus
             |ORDER BY l_returnflag, l_linestatus""".stripMargin)),

    // A7 — rollup; NULL subtotal rows sort-pinned NULLS FIRST on both engines.
    Q("a7_rollup",
      (s, d) => Tables(s, d, "lineitem")
        .select(col("l_returnflag"), col("l_linestatus"),
          cents(col("l_quantity")).as("qc"))
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), sum(col("qc")).as("sum_qty_cents"))
        .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus")),
      Some("""SELECT l_returnflag, l_linestatus, count(*) AS n,
             |       CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) AS sum_qty_cents
             |FROM lineitem
             |GROUP BY ROLLUP (l_returnflag, l_linestatus)
             |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin)),

    Q("a7_cube",
      (s, d) => Tables(s, d, "orders")
        .select(col("o_orderstatus"), col("o_orderpriority"),
          cents(col("o_totalprice")).as("tc"))
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), sum(col("tc")).as("sum_price_cents"))
        .orderBy(asc_nulls_first("o_orderstatus"), asc_nulls_first("o_orderpriority")),
      Some("""SELECT o_orderstatus, o_orderpriority, count(*) AS n,
             |       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_price_cents
             |FROM orders
             |GROUP BY CUBE (o_orderstatus, o_orderpriority)
             |ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin)),

    // A8 — distinct aggregates (Catalyst Expand rewrite).
    Q("a8_distinct_agg",
      (s, d) => Tables(s, d, "lineitem")
        .select(col("l_returnflag"), col("l_suppkey"),
          cents(col("l_quantity")).as("qc"))
        .groupBy(col("l_returnflag"))
        .agg(
          countDistinct(col("l_suppkey")).as("n_supp"),
          sum_distinct(col("qc")).as("sum_distinct_qty_cents"))
        .orderBy(col("l_returnflag")),
      Some("""SELECT l_returnflag,
             |       count(DISTINCT l_suppkey) AS n_supp,
             |       CAST(sum(DISTINCT CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) AS sum_distinct_qty_cents
             |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // A1 — the same count, via two-phase salted aggregation (skew path):
    // identical results, skew-proof shuffle shape — pinned by sharing the
    // plain oracle.
    Q("a1_count_salted",
      (s, d) => graft.operators.Salt.saltedCountSum(
        Tables(s, d, "events"), col("event_type"), buckets = 8)
        .select(col("key").as("event_type"), col("n"))
        .orderBy(col("event_type")),
      Some("""SELECT event_type, count(*) AS n
             |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // A3 — the approximate cardinality path (HLL++, the true ES-cardinality
    // analog). Rows-only: rsd-bounded, not exact-matchable; the error bound
    // vs exact countDistinct is asserted in AggSpec.
    Q("a3_approx_cardinality",
      (s, d) => Tables(s, d, "events")
        .groupBy(col("event_type"))
        .agg(approx_count_distinct(col("user_id"), 0.02).as("approx_users"))
        .orderBy(col("event_type")),
      None),

    // A9 — retention cohorts: users bucketed by first-seen week, distinct
    // actives per week offset. Both engines Monday-truncate weeks, and the
    // offsets are exact multiples of 7 days, so days/7 is exact.
    Q("a9_retention_cohorts",
      (s, d) => {
        val e = Tables(s, d, "events")
          .select(col("user_id"), date_trunc("week", col("ts")).cast("date").as("wk"))
        val cohorts = e.groupBy(col("user_id")).agg(min(col("wk")).as("cohort"))
        e.distinct()
          .join(cohorts, "user_id")
          .select(col("cohort"),
            (datediff(col("wk"), col("cohort")) / 7).cast("long").as("week_offset"),
            col("user_id"))
          .groupBy(col("cohort"), col("week_offset"))
          .agg(countDistinct(col("user_id")).as("n_users"))
          .orderBy(col("cohort"), col("week_offset"))
      },
      Some("""WITH a AS (
             |  SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS wk
             |  FROM events),
             |c AS (SELECT user_id, min(wk) AS cohort FROM a GROUP BY 1)
             |SELECT cohort,
             |       CAST(date_diff('day', cohort, wk) / 7 AS BIGINT) AS week_offset,
             |       count(DISTINCT a.user_id) AS n_users
             |FROM a JOIN c USING (user_id)
             |GROUP BY 1, 2
             |ORDER BY cohort, week_offset""".stripMargin)),

    // A10 — ordered funnel: users reaching view → click-after-view →
    // purchase-after-click, counted per stage. min-timestamps are exact µs,
    // so the strict-after comparisons are engine-independent.
    Q("a10_funnel",
      (s, d) => {
        val e = Tables(s, d, "events")
          .select(col("user_id"), col("event_type"), col("ts"))
        val v = e.filter(col("event_type") === "view")
          .groupBy(col("user_id")).agg(min(col("ts")).as("tv"))
        val c = e.filter(col("event_type") === "click")
          .join(v, "user_id").filter(col("ts") > col("tv"))
          .groupBy(col("user_id")).agg(min(col("ts")).as("tc"))
        val p = e.filter(col("event_type") === "purchase")
          .join(c, "user_id").filter(col("ts") > col("tc"))
          .groupBy(col("user_id")).agg(min(col("ts")).as("tp"))
        def stage(df: org.apache.spark.sql.DataFrame, name: String) =
          df.agg(count(lit(1)).as("n_users"))
            .select(lit(name).as("stage"), col("n_users"))
        stage(v, "1_view").union(stage(c, "2_click")).union(stage(p, "3_purchase"))
          .orderBy(col("stage"))
      },
      Some(s"""WITH $funnelSql
             |SELECT '1_view' AS stage, count(*) AS n_users FROM v
             |UNION ALL SELECT '2_click', count(*) FROM c
             |UNION ALL SELECT '3_purchase', count(*) FROM p
             |ORDER BY stage""".stripMargin)),

    // A11 — funnel conversion RATE: distinct users per stage plus the
    // step-over-step rate with GUARDED division (prev stage 0 or absent →
    // NULL, never a divide error / Inf). Counts are exact longs; the rate is
    // one double divide + round(6) on both engines, so it hashes exactly.
    Q("a11_funnel_rate",
      (s, d) => {
        val e = Tables(s, d, "events")
          .select(col("user_id"), col("event_type"), col("ts"))
        val v = e.filter(col("event_type") === "view")
          .groupBy(col("user_id")).agg(min(col("ts")).as("tv"))
        val c = e.filter(col("event_type") === "click")
          .join(v, "user_id").filter(col("ts") > col("tv"))
          .groupBy(col("user_id")).agg(min(col("ts")).as("tc"))
        val p = e.filter(col("event_type") === "purchase")
          .join(c, "user_id").filter(col("ts") > col("tc"))
          .groupBy(col("user_id")).agg(min(col("ts")).as("tp"))
        def stage(df: org.apache.spark.sql.DataFrame, name: String) =
          df.agg(count(lit(1)).as("n_users"))
            .select(lit(name).as("stage"), col("n_users"))
        val stages =
          stage(v, "1_view").union(stage(c, "2_click")).union(stage(p, "3_purchase"))
        // 3-row frame: the unpartitioned lag window is deliberate, not a
        // scale hazard — the funnel is already fully aggregated.
        val w = Window.orderBy(col("stage"))
        stages
          .withColumn("prev", lag(col("n_users"), 1).over(w))
          .select(col("stage"), col("n_users"),
            when(coalesce(col("prev"), lit(0L)) === 0L, lit(null).cast("double"))
              .otherwise(round(
                col("n_users").cast("double") / col("prev").cast("double"), 6))
              .as("conv_rate"))
          .orderBy(col("stage"))
      },
      Some(s"""WITH $funnelSql,
             |s AS (
             |  SELECT '1_view' AS stage, count(*) AS n_users FROM v
             |  UNION ALL SELECT '2_click', count(*) FROM c
             |  UNION ALL SELECT '3_purchase', count(*) FROM p),
             |r AS (SELECT stage, n_users,
             |             lag(n_users) OVER (ORDER BY stage) AS prev
             |      FROM s)
             |SELECT stage, n_users,
             |       CASE WHEN coalesce(prev, 0) = 0 THEN NULL
             |            ELSE round(CAST(n_users AS DOUBLE) / CAST(prev AS DOUBLE), 6)
             |       END AS conv_rate
             |FROM r ORDER BY stage""".stripMargin)),

    // A12 — exact heavy hitters: terms covering > 1/200 of the token
    // stream. The full-shuffle formulation — every distinct term is a
    // grouping key. Integer cross-multiply (cnt × 200 > N) instead of a
    // division keeps the threshold exact on both engines.
    Q("a12_heavy_hitters",
      (s, d) => {
        val terms = Tables(s, d, "documents")
          .select(explode(graft.functions.TextFunctions.tokens(col("text"))).as("term"))
        val n = terms.agg(count(lit(1)).as("n"))
        terms.groupBy(col("term")).agg(count(lit(1)).as("cnt"))
          .crossJoin(broadcast(n))
          .filter(col("cnt") * 200 > col("n"))
          .select(col("term"), col("cnt"))
          .orderBy(col("cnt").desc, col("term"))
      },
      Some(hhOracle)),

    // A12 — the SCALE path for the same question: Misra-Gries sketch-prune
    // (k=256 counters, treeAggregate — the shuffle never carries the
    // vocabulary) + exact recount of the ≤ 256 candidates. k ≥ φ=200 makes
    // the candidate set provably complete, so the output is bit-identical
    // to the exact query — same oracle, full hash gate.
    Q("a12_heavy_hitters_mg",
      (s, d) => graft.operators.HeavyHitters.exactViaSketch(
        Tables(s, d, "documents")
          .select(explode(graft.functions.TextFunctions.tokens(col("text"))).as("term")),
        col("term"), phi = 200, k = 256),
      Some(hhOracle)),

    // A15 — percentile_ranks (the ES inverse-percentile agg): per
    // event_type, the percentage of values at or below each fixed
    // threshold. Exact integer cents + conditional counts, one mirrored
    // divide per rank — the dual of h6_percentiles, same one-pass hash-agg
    // shape (conditional sums, no sort, no per-group value materialization
    // — this form is 100 TB-safe where a rank-window dual would not be).
    Q("a15_percentile_ranks",
      (s, d) => Tables(s, d, "events")
        .select(col("event_type"), cents(col("value")).as("vc"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("vc") <= 10000, 1).otherwise(0)).cast("long").as("le_100"),
          sum(when(col("vc") <= 25000, 1).otherwise(0)).cast("long").as("le_250"))
        .select(col("event_type"), col("n"),
          round(col("le_100") * lit(100.0) / col("n"), 6).as("pr_100"),
          round(col("le_250") * lit(100.0) / col("n"), 6).as("pr_250"))
        .orderBy(col("event_type")),
      Some("""WITH v AS (SELECT event_type,
             |                  CAST(round(value * 100) AS BIGINT) AS vc
             |           FROM events),
             |a AS (SELECT event_type, count(*) AS n,
             |             CAST(sum(CASE WHEN vc <= 10000 THEN 1 ELSE 0 END) AS BIGINT) AS le_100,
             |             CAST(sum(CASE WHEN vc <= 25000 THEN 1 ELSE 0 END) AS BIGINT) AS le_250
             |      FROM v GROUP BY 1)
             |SELECT event_type, n,
             |       round(le_100 * 100.0 / n, 6) AS pr_100,
             |       round(le_250 * 100.0 / n, 6) AS pr_250
             |FROM a ORDER BY event_type""".stripMargin)),

    // A16 — composite aggregation with after-key pagination (the ES
    // composite agg, the ONLY way to page through an unbounded bucket
    // space): buckets over (event_type, user_id), resume after the cursor
    // ('error', 25), page size 50. The cursor predicate is on the GROUP
    // KEYS, so Catalyst pushes it below the aggregate — each page
    // aggregates only the key range it returns, and the page itself is a
    // TakeOrdered, never a global sort. That push-then-page plan is what
    // makes bucket pagination viable over a 100 TB fact table.
    Q("a16_composite_paging",
      (s, d) => Tables(s, d, "events")
        .filter(col("event_type") > "error" ||
          (col("event_type") === "error" && col("user_id") > 25))
        .groupBy(col("event_type"), col("user_id"))
        .agg(count(lit(1)).as("n"), sum(cents(col("value"))).as("sum_cents"))
        .orderBy(col("event_type"), col("user_id"))
        .limit(50),
      Some("""SELECT event_type, user_id, count(*) AS n,
             |       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
             |FROM events
             |WHERE event_type > 'error'
             |   OR (event_type = 'error' AND user_id > 25)
             |GROUP BY 1, 2
             |ORDER BY event_type, user_id
             |LIMIT 50""".stripMargin)),

    // A17 — date-histogram pipeline aggregations (ES derivative +
    // cumulative_sum): daily counts per event_type, then bucket-to-bucket
    // delta and running total. The window runs over AGGREGATED buckets
    // (days × types), not raw rows — after the first groupBy the frame is
    // calendar-bounded, so the per-type window is a few thousand rows no
    // matter how many raw events fed it. All integer arithmetic.
    Q("a17_derivative",
      (s, d) => {
        val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
        Tables(s, d, "events")
          .groupBy(col("event_type"), to_date(col("ts")).as("day"))
          .agg(count(lit(1)).as("n"))
          .withColumn("deriv", col("n") - lag(col("n"), 1).over(w))
          .withColumn("cum_n", sum(col("n")).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .orderBy(col("event_type"), col("day"))
      },
      Some("""WITH b AS (SELECT event_type, CAST(ts AS DATE) AS day,
             |                  count(*) AS n
             |           FROM events GROUP BY 1, 2)
             |SELECT event_type, day, n,
             |       n - lag(n) OVER w AS deriv,
             |       CAST(sum(n) OVER (PARTITION BY event_type ORDER BY day
             |                         ROWS BETWEEN UNBOUNDED PRECEDING
             |                         AND CURRENT ROW) AS BIGINT) AS cum_n
             |FROM b
             |WINDOW w AS (PARTITION BY event_type ORDER BY day)
             |ORDER BY event_type, day""".stripMargin)),

    // A18 — rate aggregation (the ES rate pipeline agg): per event_type ×
    // calendar month, the per-DAY event count and value rate — bucket sums
    // normalized by the month's true day count so February and July
    // compare. One hash aggregate over (type, month) then a constant-time
    // per-bucket divide; the normalizer (dayofmonth ∘ last_day) is computed
    // on the BUCKET key, never per raw row. Bucket space = types × months,
    // so the post-agg frame stays tiny at any corpus scale. All exact
    // integer cents until the final mirrored rounded divide.
    Q("a18_rate",
      (s, d) => Tables(s, d, "events")
        .groupBy(col("event_type"),
          trunc(to_date(col("ts")), "month").as("month"))
        .agg(count(lit(1)).as("n"),
          sum(cents(col("value"))).as("sum_cents"))
        .withColumn("days", dayofmonth(last_day(col("month"))))
        .select(col("event_type"), col("month"), col("n"), col("sum_cents"),
          round(col("n") / col("days").cast("double"), 6).as("events_per_day"),
          round(col("sum_cents") / col("days").cast("double"), 6)
            .as("cents_per_day"))
        .orderBy(col("event_type"), col("month")),
      Some("""WITH b AS (SELECT event_type,
             |                  CAST(date_trunc('month', CAST(ts AS DATE)) AS DATE) AS month,
             |                  count(*) AS n,
             |                  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
             |           FROM events GROUP BY 1, 2)
             |SELECT event_type, month, n, sum_cents,
             |       round(n / CAST(date_part('day', last_day(month)) AS DOUBLE), 6) AS events_per_day,
             |       round(sum_cents / CAST(date_part('day', last_day(month)) AS DOUBLE), 6) AS cents_per_day
             |FROM b ORDER BY event_type, month""".stripMargin)),

    // A19 — diversified sampler (the ES diversified_sampler agg): the
    // global top-50 events by value, with AT MOST 3 per user_id so one hot
    // user cannot fill the page. The diversity quota is a per-key
    // row_number (shuffle on user_id — the same per-group-top-k shape the
    // o4 native operator map-side-heaps at scale), and the page itself is
    // a TakeOrdered over the survivors, never a global sort. Deterministic:
    // value ties break on event_id at both levels.
    Q("a19_diversified_sample",
      (s, d) => {
        val wu = Window.partitionBy(col("user_id"))
          .orderBy(col("vc").desc, col("event_id"))
        Tables(s, d, "events")
          .select(col("event_id"), col("user_id"), col("event_type"),
            cents(col("value")).as("vc"))
          .withColumn("rn", row_number().over(wu))
          .filter(col("rn") <= 3)
          .orderBy(col("vc").desc, col("event_id"))
          .limit(50)
          .select(col("event_id"), col("user_id"), col("event_type"),
            col("vc"))
      },
      Some("""WITH v AS (SELECT event_id, user_id, event_type,
             |                  CAST(round(value * 100) AS BIGINT) AS vc
             |           FROM events),
             |r AS (SELECT *, row_number() OVER (PARTITION BY user_id
             |                ORDER BY vc DESC, event_id) AS rn
             |      FROM v)
             |SELECT event_id, user_id, event_type, vc
             |FROM r WHERE rn <= 3
             |ORDER BY vc DESC, event_id LIMIT 50""".stripMargin)),

    // A20 — auto_date_histogram (ES): pick the smallest calendar interval
    // from the hour→day→week→month ladder whose estimated bucket count
    // stays ≤ 20, then histogram at that interval. Interval choice is
    // span-arithmetic on a ONE-ROW bounds aggregate (map-side-combined
    // min/max reduce — two longs off a full scan) broadcast back over the
    // fact table; the second pass groups into ≤ target buckets by
    // construction. Both engines floor the epoch seconds before the span
    // subtract and both truncate weeks to Monday, so the interval decision
    // and the bucket keys are bit-mirrored.
    Q("a20_auto_date_histogram",
      (s, d) => {
        val ev = Tables(s, d, "events")
        val bounds = ev.agg((unix_timestamp(max(col("ts"))) -
          unix_timestamp(min(col("ts")))).as("span_s"))
        val unit = when(ceil(col("span_s") / 3600.0) <= 20, "hour")
          .when(ceil(col("span_s") / 86400.0) <= 20, "day")
          .when(ceil(col("span_s") / 604800.0) <= 20, "week")
          .otherwise("month")
        val bucket = when(col("unit") === "hour", date_trunc("hour", col("ts")))
          .when(col("unit") === "day", date_trunc("day", col("ts")))
          .when(col("unit") === "week", date_trunc("week", col("ts")))
          .otherwise(date_trunc("month", col("ts")))
        ev.crossJoin(broadcast(bounds.select(unit.as("unit"))))
          .groupBy(col("unit"), bucket.as("bucket_start"))
          .agg(count(lit(1)).as("n"), sum(cents(col("value"))).as("sum_cents"))
          .orderBy(col("bucket_start"))
      },
      Some("""WITH b AS (SELECT CAST(floor(epoch(max(ts))) AS BIGINT)
             |                  - CAST(floor(epoch(min(ts))) AS BIGINT) AS span_s
             |           FROM events),
             |u AS (SELECT CASE WHEN ceil(span_s / 3600.0) <= 20 THEN 'hour'
             |                  WHEN ceil(span_s / 86400.0) <= 20 THEN 'day'
             |                  WHEN ceil(span_s / 604800.0) <= 20 THEN 'week'
             |                  ELSE 'month' END AS unit
             |      FROM b)
             |SELECT unit,
             |       CASE WHEN unit = 'hour' THEN date_trunc('hour', ts)
             |            WHEN unit = 'day' THEN date_trunc('day', ts)
             |            WHEN unit = 'week' THEN date_trunc('week', ts)
             |            ELSE date_trunc('month', ts) END AS bucket_start,
             |       count(*) AS n,
             |       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
             |FROM events CROSS JOIN u
             |GROUP BY 1, 2
             |ORDER BY bucket_start""".stripMargin)),

    // A21 — Welch t-test between every pair of event_type value
    // distributions (the ES t_test agg, unpaired/heteroscedastic form). One
    // hash aggregate collects EXACT integer-cent partials (n, Σv, Σv²) per
    // type — map-side-combinable longs, the only corpus-scale pass; the
    // pair frame is |types|² rows of driver-free crossJoin on the tiny agg.
    // The t statistic is derived from those exact integers through ONE
    // mirrored IEEE sequence (mean → variance → standard error → t), so
    // the rounded values hash-match DuckDB bit-for-bit. Σv² of int cents
    // stays far under Long range (~1e17 at petabyte row counts vs 9.2e18).
    Q("a21_welch_ttest",
      (s, d) => {
        val stats = Tables(s, d, "events")
          .select(col("event_type"), cents(col("value")).as("vc"))
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"), sum(col("vc")).as("s"),
            sum(col("vc") * col("vc")).as("q"))
        val a = stats.select(col("event_type").as("ta"), col("n").as("na"),
          col("s").as("sa"), col("q").as("qa"))
        val b = stats.select(col("event_type").as("tb"), col("n").as("nb"),
          col("s").as("sb"), col("q").as("qb"))
        val ma = col("sa").cast("double") / col("na")
        val mb = col("sb").cast("double") / col("nb")
        val va = (col("qa").cast("double") - col("sa").cast("double") * ma) /
          (col("na") - 1)
        val vb = (col("qb").cast("double") - col("sb").cast("double") * mb) /
          (col("nb") - 1)
        a.crossJoin(b).filter(col("ta") < col("tb"))
          .select(col("ta"), col("tb"), col("na"), col("nb"),
            round(ma, 6).as("mean_a"), round(mb, 6).as("mean_b"),
            round((ma - mb) / sqrt(va / col("na") + vb / col("nb")), 6)
              .as("t_stat"))
          .orderBy(col("ta"), col("tb"))
      },
      Some("""WITH st AS (
             |  SELECT event_type, count(*) AS n,
             |         CAST(sum(vc) AS BIGINT) AS s,
             |         CAST(sum(vc * vc) AS BIGINT) AS q
             |  FROM (SELECT event_type,
             |               CAST(round(value * 100) AS BIGINT) AS vc
             |        FROM events)
             |  GROUP BY 1)
             |SELECT a.event_type AS ta, b.event_type AS tb,
             |       a.n AS na, b.n AS nb,
             |       round(CAST(a.s AS DOUBLE) / a.n, 6) AS mean_a,
             |       round(CAST(b.s AS DOUBLE) / b.n, 6) AS mean_b,
             |       round((CAST(a.s AS DOUBLE) / a.n - CAST(b.s AS DOUBLE) / b.n)
             |             / sqrt(((CAST(a.q AS DOUBLE) - CAST(a.s AS DOUBLE) * (CAST(a.s AS DOUBLE) / a.n)) / (a.n - 1)) / a.n
             |                  + ((CAST(b.q AS DOUBLE) - CAST(b.s AS DOUBLE) * (CAST(b.s AS DOUBLE) / b.n)) / (b.n - 1)) / b.n),
             |             6) AS t_stat
             |FROM st a CROSS JOIN st b
             |WHERE a.event_type < b.event_type
             |ORDER BY ta, tb""".stripMargin)),

    // A22 — adjacency_matrix (ES): doc counts for each named filter and
    // each pairwise intersection. NOT 2^k filter-combination scans — the
    // flags are computed once per row map-side and every matrix cell is a
    // conditional sum in ONE hash aggregate over the single corpus pass;
    // the bucket rows are a constant-size stack() unpivot of that one-row
    // aggregate. Weekend is defined Sat/Sun via weekday()/isodow so both
    // engines agree on week-start conventions.
    Q("a22_adjacency_matrix",
      (s, d) => {
        val f = Tables(s, d, "events").select(
          (col("event_type") === "error").cast("long").as("fa"),
          (cents(col("value")) >= 25000).cast("long").as("fb"),
          weekday(col("ts")).isin(5, 6).cast("long").as("fc"))
        f.agg(
            sum(col("fa")).as("n_a"), sum(col("fb")).as("n_b"),
            sum(col("fc")).as("n_c"),
            sum(col("fa") * col("fb")).as("n_ab"),
            sum(col("fa") * col("fc")).as("n_ac"),
            sum(col("fb") * col("fc")).as("n_bc"))
          .select(expr(
            "stack(6, 'error', n_a, 'high_value', n_b, 'weekend', n_c, " +
              "'error&high_value', n_ab, 'error&weekend', n_ac, " +
              "'high_value&weekend', n_bc) AS (bucket, n)"))
          .orderBy(col("bucket"))
      },
      Some("""WITH f AS (
             |  SELECT CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS fa,
             |         CASE WHEN CAST(round(value * 100) AS BIGINT) >= 25000
             |              THEN 1 ELSE 0 END AS fb,
             |         CASE WHEN date_part('isodow', ts) IN (6, 7)
             |              THEN 1 ELSE 0 END AS fc
             |  FROM events),
             |a AS (SELECT CAST(sum(fa) AS BIGINT) AS n_a,
             |             CAST(sum(fb) AS BIGINT) AS n_b,
             |             CAST(sum(fc) AS BIGINT) AS n_c,
             |             CAST(sum(fa * fb) AS BIGINT) AS n_ab,
             |             CAST(sum(fa * fc) AS BIGINT) AS n_ac,
             |             CAST(sum(fb * fc) AS BIGINT) AS n_bc
             |      FROM f)
             |SELECT bucket, n FROM (
             |  SELECT 'error' AS bucket, n_a AS n FROM a
             |  UNION ALL SELECT 'high_value', n_b FROM a
             |  UNION ALL SELECT 'weekend', n_c FROM a
             |  UNION ALL SELECT 'error&high_value', n_ab FROM a
             |  UNION ALL SELECT 'error&weekend', n_ac FROM a
             |  UNION ALL SELECT 'high_value&weekend', n_bc FROM a)
             |ORDER BY bucket""".stripMargin)),

    // A23 — moving percentile (ES moving_percentiles pipeline agg): the
    // 7-day moving MEDIAN of daily event counts per type. The window runs
    // over AGGREGATED buckets (a17's posture — days × types, thousands of
    // rows at any corpus size) with a ≤7-element sorted frame per row, so
    // the exact median is a bounded sort, never a corpus percentile. The
    // even/odd median arithmetic is written out explicitly on BOTH engines
    // (sorted frame list + element picks + one /2.0) instead of trusting
    // either engine's median() interpolation convention; every index lands
    // on an exact integer-valued double, so rounding-vs-truncation of the
    // casts cannot diverge.
    Q("a23_moving_median",
      (s, d) => {
        val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
          .rowsBetween(-6, 0)
        Tables(s, d, "events")
          .groupBy(col("event_type"), to_date(col("ts")).as("day"))
          .agg(count(lit(1)).as("n"))
          .withColumn("win", sort_array(collect_list(col("n")).over(w)))
          .withColumn("k", size(col("win")))
          .withColumn("mov_median", expr(
            """CASE WHEN k % 2 = 1
              |     THEN CAST(element_at(win, CAST((k + 1) / 2 AS INT)) AS DOUBLE)
              |     ELSE (element_at(win, CAST(k / 2 AS INT))
              |           + element_at(win, CAST(k / 2 + 1 AS INT))) / 2.0
              |END""".stripMargin))
          .select(col("event_type"), col("day"), col("n"), col("k"),
            col("mov_median"))
          .orderBy(col("event_type"), col("day"))
      },
      Some("""WITH b AS (SELECT event_type, CAST(ts AS DATE) AS day,
             |                  count(*) AS n
             |           FROM events GROUP BY 1, 2),
             |w AS (SELECT event_type, day, n,
             |             list_sort(list(n) OVER (
             |               PARTITION BY event_type ORDER BY day
             |               ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)) AS win
             |      FROM b)
             |SELECT event_type, day, n, len(win) AS k,
             |       CASE WHEN len(win) % 2 = 1
             |            THEN CAST(win[CAST((len(win) + 1) / 2 AS INT)] AS DOUBLE)
             |            ELSE (win[CAST(len(win) / 2 AS INT)]
             |                  + win[CAST(len(win) / 2 + 1 AS INT)]) / 2.0
             |       END AS mov_median
             |FROM w ORDER BY event_type, day""".stripMargin)),

    // A24 — EWMA over the date histogram (the ES moving_fn ewma pipeline
    // agg, α=0.3, 7-day frame, seeded by the frame's first value). The
    // fold is order-SENSITIVE, and neither engine contractually orders a
    // window-collected list, so each frame element is encoded as
    // day_index·10¹² + count, the encoded list is SORTED (total order —
    // the day prefix dominates), and both engines run the identical
    // decode → left-fold `0.3·x + 0.7·acc` IEEE sequence over it. Counts
    // are asserted < 10¹² by the encoding; window state is a17's
    // calendar-bounded bucket frame, never corpus rows. Literals are
    // pinned DOUBLE on both sides (Spark would parse bare 0.3 as DECIMAL,
    // and so would DuckDB — a silent precision fork the D-suffix/CAST
    // avoids).
    Q("a24_moving_ewma",
      (s, d) => {
        val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
          .rowsBetween(-6, 0)
        Tables(s, d, "events")
          .groupBy(col("event_type"), to_date(col("ts")).as("day"))
          .agg(count(lit(1)).as("n"))
          .withColumn("enc", datediff(col("day"), to_date(lit("1970-01-01")))
            .cast("long") * lit(1000000000000L) + col("n"))
          .withColumn("win", sort_array(collect_list(col("enc")).over(w)))
          .withColumn("ewma", expr(
            """round(aggregate(
              |  slice(transform(win, v -> CAST(v % 1000000000000 AS DOUBLE)),
              |        2, size(win) - 1),
              |  CAST(element_at(win, 1) % 1000000000000 AS DOUBLE),
              |  (acc, v) -> 0.3D * v + 0.7D * acc), 6)""".stripMargin))
          .select(col("event_type"), col("day"), col("n"), col("ewma"))
          .orderBy(col("event_type"), col("day"))
      },
      Some("""WITH b AS (SELECT event_type, CAST(ts AS DATE) AS day,
             |                  count(*) AS n
             |           FROM events GROUP BY 1, 2),
             |e AS (SELECT event_type, day, n,
             |             CAST(datediff('day', DATE '1970-01-01', day) AS BIGINT)
             |               * 1000000000000 + n AS enc
             |      FROM b),
             |w AS (SELECT event_type, day, n,
             |             list_sort(list(enc) OVER (
             |               PARTITION BY event_type ORDER BY day
             |               ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)) AS win
             |      FROM e)
             |SELECT event_type, day, n,
             |       round(list_reduce(
             |         list_transform(win, v -> CAST(v % 1000000000000 AS DOUBLE)),
             |         (acc, v) -> CAST(0.3 AS DOUBLE) * v
             |                     + CAST(0.7 AS DOUBLE) * acc), 6) AS ewma
             |FROM w ORDER BY event_type, day""".stripMargin)),

    // A25 — bucket_script + bucket_selector (ES pipeline aggs): per-user
    // buckets carry two sub-aggregate counts (errors, total), the script
    // derives their ratio, and the selector keeps buckets above the
    // threshold. Relationally this is conditional sums in ONE hash
    // aggregate + a HAVING on the derived column — the ratio is computed
    // on BUCKET rows (|users|, not corpus rows), the selector prunes
    // before the sort, and the only corpus-scale work is the single
    // grouped pass. Exact integer counts; one mirrored rounded divide.
    Q("a25_bucket_script",
      (s, d) => Tables(s, d, "events")
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("total"),
          sum(when(col("event_type") === "error", 1L).otherwise(0L))
            .as("errors"))
        .withColumn("error_rate",
          round(col("errors") * lit(1.0) / col("total"), 6))
        .filter(col("errors") * lit(1.0) / col("total") > 0.25)
        .orderBy(col("user_id")),
      Some("""SELECT user_id, count(*) AS total,
             |       CAST(sum(CASE WHEN event_type = 'error'
             |                     THEN 1 ELSE 0 END) AS BIGINT) AS errors,
             |       round(sum(CASE WHEN event_type = 'error'
             |                      THEN 1 ELSE 0 END) * 1.0 / count(*), 6)
             |         AS error_rate
             |FROM events
             |GROUP BY user_id
             |HAVING sum(CASE WHEN event_type = 'error'
             |               THEN 1 ELSE 0 END) * 1.0 / count(*) > 0.25
             |ORDER BY user_id""".stripMargin)),

    // A26 — extended_stats + higher moments (the ES extended_stats agg —
    // count/min/max/sum/avg/variance/std/±2σ bounds — plus the 3rd/4th
    // standardized moments): ONE corpus pass accumulates exact BIGINT
    // power sums Σv..Σv⁴ over the whole-unit quantized value (v ≤ 561 on
    // the fixture ⇒ v⁴ ≤ 9.9e10, so even 10⁷-row groups stay far inside
    // BIGINT; the cents-precision variant at 100 TB swaps the partials to
    // DECIMAL(38,0) — same plan shape). Every double stat derives from
    // those exact integers through one mirrored IEEE sequence, so the
    // hash compare is independent of per-partition summation order. The
    // std³/std⁴ normalizers are guarded (a constant group would divide by
    // zero: Spark NaN vs DuckDB NULL — the x20 fork class).
    Q("a26_extended_stats",
      (s, d) => Tables(s, d, "events")
        .select(col("event_type"), round(col("value")).cast("long").as("v"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), min(col("v")).as("min_v"),
          max(col("v")).as("max_v"), sum(col("v")).as("s1"),
          sum(col("v") * col("v")).as("s2"),
          sum(col("v") * col("v") * col("v")).as("s3"),
          sum(col("v") * col("v") * col("v") * col("v")).as("s4"))
        .withColumn("avg_v", col("s1").cast("double") / col("n"))
        .withColumn("var_pop",
          col("s2").cast("double") / col("n") - col("avg_v") * col("avg_v"))
        .withColumn("std_v", sqrt(col("var_pop")))
        .withColumn("skewness", when(col("std_v") > lit(0.0D),
          (col("s3").cast("double") / col("n")
            - lit(3.0D) * col("avg_v") * (col("s2").cast("double") / col("n"))
            + lit(2.0D) * col("avg_v") * col("avg_v") * col("avg_v"))
            / (col("std_v") * col("std_v") * col("std_v"))))
        .withColumn("kurtosis", when(col("std_v") > lit(0.0D),
          (col("s4").cast("double") / col("n")
            - lit(4.0D) * col("avg_v") * (col("s3").cast("double") / col("n"))
            + lit(6.0D) * col("avg_v") * col("avg_v")
              * (col("s2").cast("double") / col("n"))
            - lit(3.0D) * col("avg_v") * col("avg_v") * col("avg_v")
              * col("avg_v"))
            / (col("var_pop") * col("var_pop"))))
        .select(col("event_type"), col("n"), col("min_v"), col("max_v"),
          col("s1").as("sum_v"),
          round(col("avg_v"), 6).as("avg_v"),
          round(col("var_pop"), 6).as("var_pop"),
          round(col("std_v"), 6).as("std_v"),
          round(col("avg_v") + lit(2.0D) * col("std_v"), 6).as("std_upper"),
          round(col("avg_v") - lit(2.0D) * col("std_v"), 6).as("std_lower"),
          round(col("skewness"), 6).as("skewness"),
          round(col("kurtosis"), 6).as("kurtosis"))
        .orderBy(col("event_type")),
      Some("""WITH v AS (SELECT event_type,
             |                  CAST(round(value) AS BIGINT) AS v
             |           FROM events),
             |p AS (SELECT event_type, count(*) AS n,
             |             min(v) AS min_v, max(v) AS max_v,
             |             CAST(sum(v) AS BIGINT) AS s1,
             |             CAST(sum(v * v) AS BIGINT) AS s2,
             |             CAST(sum(v * v * v) AS BIGINT) AS s3,
             |             CAST(sum(v * v * v * v) AS BIGINT) AS s4
             |      FROM v GROUP BY 1),
             |m AS (SELECT *,
             |             CAST(s1 AS DOUBLE) / n AS avg_v,
             |             CAST(s2 AS DOUBLE) / n
             |               - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)
             |               AS var_pop
             |      FROM p),
             |q AS (SELECT *, sqrt(var_pop) AS std_v FROM m)
             |SELECT event_type, n, min_v, max_v, s1 AS sum_v,
             |       round(avg_v, 6) AS avg_v,
             |       round(var_pop, 6) AS var_pop,
             |       round(std_v, 6) AS std_v,
             |       round(avg_v + CAST(2.0 AS DOUBLE) * std_v, 6) AS std_upper,
             |       round(avg_v - CAST(2.0 AS DOUBLE) * std_v, 6) AS std_lower,
             |       round(CASE WHEN std_v > CAST(0.0 AS DOUBLE) THEN
             |         (CAST(s3 AS DOUBLE) / n
             |          - CAST(3.0 AS DOUBLE) * avg_v * (CAST(s2 AS DOUBLE) / n)
             |          + CAST(2.0 AS DOUBLE) * avg_v * avg_v * avg_v)
             |         / (std_v * std_v * std_v) END, 6) AS skewness,
             |       round(CASE WHEN std_v > CAST(0.0 AS DOUBLE) THEN
             |         (CAST(s4 AS DOUBLE) / n
             |          - CAST(4.0 AS DOUBLE) * avg_v * (CAST(s3 AS DOUBLE) / n)
             |          + CAST(6.0 AS DOUBLE) * avg_v * avg_v
             |            * (CAST(s2 AS DOUBLE) / n)
             |          - CAST(3.0 AS DOUBLE) * avg_v * avg_v * avg_v * avg_v)
             |         / (var_pop * var_pop) END, 6) AS kurtosis
             |FROM q ORDER BY event_type""".stripMargin)),

    // A27 — matrix_stats (the ES matrix_stats agg): pairwise covariance +
    // Pearson correlation between three lineitem measures, per return
    // flag. ONE hash aggregate carries all nine exact BIGINT partials
    // (Σx, Σx², Σxy for the quantized fields q=units, p=whole currency,
    // d=per-mille discount; Σp² ≤ 6.6e15 at sf0.1, ∝n so DECIMAL(38,0)
    // is the stated 10⁹-row swap) — never a per-pair pass, never engine
    // covar_pop/corr (whose internal FP order is unspecified). Every
    // cov/corr derives from the integer partials through one mirrored
    // IEEE sequence; corr normalizers guarded against constant fields.
    Q("a27_matrix_stats",
      (s, d) => {
        def covD(sxy: Column, sx: Column, sy: Column, n: Column): Column =
          (sxy.cast("double") / n
            - (sx.cast("double") / n) * (sy.cast("double") / n))
        def varD(sxx: Column, sx: Column, n: Column): Column =
          covD(sxx, sx, sx, n)
        val n = col("n")
        Tables(s, d, "lineitem")
          .select(col("l_returnflag"),
            round(col("l_quantity")).cast("long").as("q"),
            round(col("l_extendedprice")).cast("long").as("p"),
            round(col("l_discount") * 1000).cast("long").as("dm"))
          .groupBy(col("l_returnflag"))
          .agg(count(lit(1)).as("n"),
            sum(col("q")).as("sq"), sum(col("p")).as("sp"),
            sum(col("dm")).as("sd"),
            sum(col("q") * col("q")).as("sqq"),
            sum(col("p") * col("p")).as("spp"),
            sum(col("dm") * col("dm")).as("sdd"),
            sum(col("q") * col("p")).as("sqp"),
            sum(col("q") * col("dm")).as("sqd"),
            sum(col("p") * col("dm")).as("spd"))
          .select(col("l_returnflag"), n,
            round(col("sq").cast("double") / n, 6).as("mean_q"),
            round(col("sp").cast("double") / n, 6).as("mean_p"),
            round(col("sd").cast("double") / n, 6).as("mean_d"),
            round(covD(col("sqp"), col("sq"), col("sp"), n), 6).as("cov_qp"),
            round(covD(col("sqd"), col("sq"), col("sd"), n), 6).as("cov_qd"),
            round(covD(col("spd"), col("sp"), col("sd"), n), 6).as("cov_pd"),
            round(covD(col("sqp"), col("sq"), col("sp"), n)
              / (sqrt(varD(col("sqq"), col("sq"), n))
                * sqrt(varD(col("spp"), col("sp"), n))), 6).as("corr_qp"),
            round(covD(col("sqd"), col("sq"), col("sd"), n)
              / (sqrt(varD(col("sqq"), col("sq"), n))
                * sqrt(varD(col("sdd"), col("sd"), n))), 6).as("corr_qd"),
            round(covD(col("spd"), col("sp"), col("sd"), n)
              / (sqrt(varD(col("spp"), col("sp"), n))
                * sqrt(varD(col("sdd"), col("sd"), n))), 6).as("corr_pd"))
          .orderBy(col("l_returnflag"))
      },
      Some("""WITH v AS (SELECT l_returnflag,
             |                  CAST(round(l_quantity) AS BIGINT) AS q,
             |                  CAST(round(l_extendedprice) AS BIGINT) AS p,
             |                  CAST(round(l_discount * 1000) AS BIGINT) AS dm
             |           FROM lineitem),
             |a AS (SELECT l_returnflag, count(*) AS n,
             |             CAST(sum(q) AS BIGINT) AS sq,
             |             CAST(sum(p) AS BIGINT) AS sp,
             |             CAST(sum(dm) AS BIGINT) AS sd,
             |             CAST(sum(q * q) AS BIGINT) AS sqq,
             |             CAST(sum(p * p) AS BIGINT) AS spp,
             |             CAST(sum(dm * dm) AS BIGINT) AS sdd,
             |             CAST(sum(q * p) AS BIGINT) AS sqp,
             |             CAST(sum(q * dm) AS BIGINT) AS sqd,
             |             CAST(sum(p * dm) AS BIGINT) AS spd
             |      FROM v GROUP BY 1),
             |c AS (SELECT *,
             |        CAST(sqp AS DOUBLE) / n
             |          - (CAST(sq AS DOUBLE) / n) * (CAST(sp AS DOUBLE) / n) AS cqp,
             |        CAST(sqd AS DOUBLE) / n
             |          - (CAST(sq AS DOUBLE) / n) * (CAST(sd AS DOUBLE) / n) AS cqd,
             |        CAST(spd AS DOUBLE) / n
             |          - (CAST(sp AS DOUBLE) / n) * (CAST(sd AS DOUBLE) / n) AS cpd,
             |        CAST(sqq AS DOUBLE) / n
             |          - (CAST(sq AS DOUBLE) / n) * (CAST(sq AS DOUBLE) / n) AS vq,
             |        CAST(spp AS DOUBLE) / n
             |          - (CAST(sp AS DOUBLE) / n) * (CAST(sp AS DOUBLE) / n) AS vp,
             |        CAST(sdd AS DOUBLE) / n
             |          - (CAST(sd AS DOUBLE) / n) * (CAST(sd AS DOUBLE) / n) AS vd
             |      FROM a)
             |SELECT l_returnflag, n,
             |       round(CAST(sq AS DOUBLE) / n, 6) AS mean_q,
             |       round(CAST(sp AS DOUBLE) / n, 6) AS mean_p,
             |       round(CAST(sd AS DOUBLE) / n, 6) AS mean_d,
             |       round(cqp, 6) AS cov_qp,
             |       round(cqd, 6) AS cov_qd,
             |       round(cpd, 6) AS cov_pd,
             |       round(cqp / (sqrt(vq) * sqrt(vp)), 6) AS corr_qp,
             |       round(cqd / (sqrt(vq) * sqrt(vd)), 6) AS corr_qd,
             |       round(cpd / (sqrt(vp) * sqrt(vd)), 6) AS corr_pd
             |FROM c ORDER BY l_returnflag""".stripMargin)),

    // A28 — string_stats (the ES string_stats agg, per language): doc
    // count, min/max/avg length, and the Shannon entropy (bits) of the
    // corpus character distribution. Two small aggregates join on lang:
    // the length arm is one grouped pass over (lang, length(text)); the
    // entropy arm explodes characters but the map-side partial aggregate
    // collapses to |langs|×|alphabet| keys (25 chars on the fixture)
    // before the exchange, so the shuffle never carries corpus-scale
    // rows. Entropy uses the x16 technique — each cnt·ln(cnt/total) term
    // quantized to integer micros with tie-free floor(x·1e6+0.5), summed
    // EXACTLY, one mirrored divide (incl. the ln(2) base change) at the
    // end. Spark's split(text,'') keeps a trailing empty string (Java
    // limit=-1 semantics) where DuckDB's does not — both sides filter
    // empties so the distributions agree.
    Q("a28_string_stats",
      (s, d) => {
        val docs = Tables(s, d, "documents")
        val lens = docs
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"),
            min(length(col("text"))).as("min_len"),
            max(length(col("text"))).as("max_len"),
            sum(length(col("text")).cast("long")).as("sum_len"))
        // Per-lang totals via a window over the ALREADY-AGGREGATED
        // (lang, ch) frame (≈ |langs|×|alphabet| rows) — one aggregation
        // pipeline, documents scanned once per arm, never three times.
        val ent = docs
          .select(col("lang"), explode(split(col("text"), "")).as("ch"))
          .filter(col("ch") =!= "")
          .groupBy(col("lang"), col("ch"))
          .agg(count(lit(1)).as("cnt"))
          .withColumn("total",
            sum(col("cnt")).over(Window.partitionBy(col("lang"))))
          .withColumn("term_micro",
            floor(col("cnt") * log(col("cnt") * lit(1.0D) / col("total"))
              * lit(1000000.0D) + lit(0.5D)).cast("long"))
          .groupBy(col("lang"), col("total"))
          .agg(sum(col("term_micro")).as("s_micro"))
          .select(col("lang"), col("total").as("n_chars"),
            round((-col("s_micro")) * lit(1.0D)
              / (lit(1000000.0D) * col("total") * log(lit(2.0D))), 6)
              .as("entropy_bits"))
        lens.join(ent, "lang")
          .select(col("lang"), col("n_docs"), col("min_len"), col("max_len"),
            round(col("sum_len").cast("double") / col("n_docs"), 6)
              .as("avg_len"),
            col("n_chars"), col("entropy_bits"))
          .orderBy(col("lang"))
      },
      Some("""WITH l AS (SELECT lang, count(*) AS n_docs,
             |                  min(len(text)) AS min_len,
             |                  max(len(text)) AS max_len,
             |                  CAST(sum(len(text)) AS BIGINT) AS sum_len
             |           FROM documents GROUP BY 1),
             |ch AS (SELECT lang, unnest(list_filter(string_split(text, ''),
             |                                       c -> c <> '')) AS ch
             |       FROM documents),
             |c AS (SELECT lang, ch, count(*) AS cnt FROM ch GROUP BY 1, 2),
             |t AS (SELECT lang, CAST(sum(cnt) AS BIGINT) AS total
             |      FROM c GROUP BY 1),
             |e AS (SELECT c.lang, total,
             |             CAST(floor(cnt * ln(cnt * 1.0 / total)
             |                  * 1000000.0 + 0.5) AS BIGINT) AS term_micro
             |      FROM c JOIN t USING (lang)),
             |a AS (SELECT lang, total AS n_chars,
             |             round((-CAST(sum(term_micro) AS BIGINT)) * 1.0
             |               / (1000000.0 * total
             |                  * ln(CAST(2.0 AS DOUBLE))), 6) AS entropy_bits
             |      FROM e GROUP BY lang, total)
             |SELECT lang, n_docs, min_len, max_len,
             |       round(sum_len * 1.0 / n_docs, 6) AS avg_len,
             |       n_chars, entropy_bits
             |FROM l JOIN a USING (lang)
             |ORDER BY lang""".stripMargin)),

    // A29 — stats_bucket / max_bucket / min_bucket (the ES sibling
    // pipeline aggs): daily count buckets per event_type, then ONE row
    // per type summarizing its bucket distribution, including the KEY
    // (day) of the maximal bucket. Everything after the first groupBy
    // runs on the bucket frame (types × days — calendar-bounded, never
    // corpus rows); the argmax day is recovered via a max-over-type
    // window + equality filter with a min(day) tie-break (ES returns a
    // keys LIST on ties; the earliest key is the deterministic scalar
    // projection of that contract). Integer counts; one rounded divide.
    Q("a29_stats_bucket",
      (s, d) => {
        val w = Window.partitionBy(col("event_type"))
        Tables(s, d, "events")
          .groupBy(col("event_type"), to_date(col("ts")).as("day"))
          .agg(count(lit(1)).as("n"))
          .withColumn("mx", max(col("n")).over(w))
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_buckets"),
            min(col("n")).as("min_bucket"),
            max(col("n")).as("max_bucket"),
            sum(col("n")).as("sum_buckets"),
            min(when(col("n") === col("mx"), col("day"))).as("max_bucket_day"))
          .withColumn("avg_bucket",
            round(col("sum_buckets").cast("double") / col("n_buckets"), 6))
          .select(col("event_type"), col("n_buckets"), col("min_bucket"),
            col("max_bucket"), col("avg_bucket"), col("sum_buckets"),
            col("max_bucket_day"))
          .orderBy(col("event_type"))
      },
      Some("""WITH b AS (SELECT event_type, CAST(ts AS DATE) AS day,
             |                  count(*) AS n
             |           FROM events GROUP BY 1, 2),
             |w AS (SELECT *, max(n) OVER (PARTITION BY event_type) AS mx
             |      FROM b)
             |SELECT event_type, count(*) AS n_buckets,
             |       min(n) AS min_bucket, max(n) AS max_bucket,
             |       round(CAST(sum(n) AS DOUBLE) / count(*), 6) AS avg_bucket,
             |       CAST(sum(n) AS BIGINT) AS sum_buckets,
             |       min(CASE WHEN n = mx THEN day END) AS max_bucket_day
             |FROM w GROUP BY event_type
             |ORDER BY event_type""".stripMargin)),

    // A30 — cumulative_cardinality (the ES pipeline agg: running count of
    // DISTINCT users ever seen, per day). Naive distinct-per-growing-
    // prefix is quadratic; the equivalent one-pass form is first-seen
    // attribution: min(day) per user (one user-keyed agg), new-user
    // counts per first-seen day (tiny), cumulative sum over the calendar
    // spine — days with activity but no NEW users still emit a bucket
    // (coalesce 0), matching the date_histogram parent. All integers.
    Q("a30_cumulative_cardinality",
      (s, d) => {
        val ev = Tables(s, d, "events").select(to_date(col("ts")).as("day"),
          col("user_id"))
        val firstSeen = ev.groupBy(col("user_id"))
          .agg(min(col("day")).as("day"))
          .groupBy(col("day")).agg(count(lit(1)).as("new_users"))
        val spine = ev.select(col("day")).distinct()
        spine.join(firstSeen, Seq("day"), "left")
          .select(col("day"),
            coalesce(col("new_users"), lit(0L)).as("new_users"))
          .withColumn("cum_users", sum(col("new_users"))
            .over(Window.orderBy(col("day"))
              .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .orderBy(col("day"))
      },
      Some("""WITH f AS (SELECT user_id, min(CAST(ts AS DATE)) AS day
             |           FROM events GROUP BY 1),
             |n AS (SELECT day, count(*) AS new_users FROM f GROUP BY 1),
             |s AS (SELECT DISTINCT CAST(ts AS DATE) AS day FROM events)
             |SELECT s.day,
             |       COALESCE(new_users, 0) AS new_users,
             |       CAST(sum(COALESCE(new_users, 0)) OVER (
             |         ORDER BY s.day
             |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |         AS BIGINT) AS cum_users
             |FROM s LEFT JOIN n USING (day)
             |ORDER BY s.day""".stripMargin)),

    // A31 — serial_diff at lag 7 (the ES serial_diff pipeline agg:
    // week-over-week deseasonalized delta, where a17's derivative is the
    // lag-1 special case). Window over AGGREGATED daily buckets; the
    // percent change guards lag=0 (fixture never hits it, but a quiet
    // week at scale would — NaN/NULL fork class). First 7 days are NULL
    // by the ES contract (no bucket emitted → here: null columns).
    Q("a31_serial_diff",
      (s, d) => {
        val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
        Tables(s, d, "events")
          .groupBy(col("event_type"), to_date(col("ts")).as("day"))
          .agg(count(lit(1)).as("n"))
          .withColumn("lag7", lag(col("n"), 7).over(w))
          .select(col("event_type"), col("day"), col("n"),
            (col("n") - col("lag7")).as("wow_diff"),
            round(when(col("lag7") > 0,
              (col("n") - col("lag7")).cast("double") * lit(100.0D)
                / col("lag7")), 6).as("wow_pct"))
          .orderBy(col("event_type"), col("day"))
      },
      Some("""WITH b AS (SELECT event_type, CAST(ts AS DATE) AS day,
             |                  count(*) AS n
             |           FROM events GROUP BY 1, 2),
             |l AS (SELECT *, lag(n, 7) OVER (
             |        PARTITION BY event_type ORDER BY day) AS lag7
             |      FROM b)
             |SELECT event_type, day, n,
             |       n - lag7 AS wow_diff,
             |       round(CASE WHEN lag7 > 0 THEN
             |         CAST(n - lag7 AS DOUBLE) * CAST(100.0 AS DOUBLE) / lag7
             |       END, 6) AS wow_pct
             |FROM l ORDER BY event_type, day""".stripMargin)),

    // A32 — normalize pipeline agg (ES `normalize`, percent_of_sum
    // method): each daily bucket's share of its type's total AND of the
    // day's grand total. Two windows over the SAME aggregated bucket
    // frame (types × days) — zero additional corpus passes; the grand
    // total window repartitions only bucket rows. Shares derive from
    // exact integer counts through one rounded divide each.
    Q("a32_percent_of_total",
      (s, d) => Tables(s, d, "events")
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n"))
        .withColumn("type_total",
          sum(col("n")).over(Window.partitionBy(col("event_type"))))
        .withColumn("day_total",
          sum(col("n")).over(Window.partitionBy(col("day"))))
        .select(col("event_type"), col("day"), col("n"),
          round(col("n").cast("double") * lit(100.0D)
            / col("type_total"), 6).as("pct_of_type"),
          round(col("n").cast("double") * lit(100.0D)
            / col("day_total"), 6).as("pct_of_day"))
        .orderBy(col("event_type"), col("day")),
      Some("""WITH b AS (SELECT event_type, CAST(ts AS DATE) AS day,
             |                  count(*) AS n
             |           FROM events GROUP BY 1, 2)
             |SELECT event_type, day, n,
             |       round(CAST(n AS DOUBLE) * CAST(100.0 AS DOUBLE)
             |         / sum(n) OVER (PARTITION BY event_type), 6)
             |         AS pct_of_type,
             |       round(CAST(n AS DOUBLE) * CAST(100.0 AS DOUBLE)
             |         / sum(n) OVER (PARTITION BY day), 6) AS pct_of_day
             |FROM b ORDER BY event_type, day""".stripMargin)),

    // A33 — weighted_avg (the ES agg of the same name): mean of `value`
    // weighted by a deterministic per-user weight tier (1 + user_id % 5 —
    // the dataset carries no native weight column, so the tier stands in
    // for ES's weight field; documented, not hidden). Both numerator and
    // denominator accumulate as EXACT integers (cents × weight), so the
    // shuffle-order independence of the hash compare is free; one rounded
    // divide at the end.
    Q("a33_weighted_avg",
      (s, d) => Tables(s, d, "events")
        .select(col("event_type"), cents(col("value")).as("vc"),
          (lit(1L) + col("user_id") % 5).as("w"))
        .groupBy(col("event_type"))
        .agg(sum(col("w")).as("sum_w"),
          sum(col("vc") * col("w")).as("sum_wv"))
        .select(col("event_type"), col("sum_w"),
          round(col("sum_wv").cast("double")
            / col("sum_w") / lit(100.0D), 6).as("weighted_avg"))
        .orderBy(col("event_type")),
      Some("""SELECT event_type,
             |       CAST(sum(1 + user_id % 5) AS BIGINT) AS sum_w,
             |       round(CAST(sum(CAST(round(value * 100) AS BIGINT)
             |                       * (1 + user_id % 5)) AS DOUBLE)
             |         / CAST(sum(1 + user_id % 5) AS BIGINT)
             |         / CAST(100.0 AS DOUBLE), 6) AS weighted_avg
             |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // A34 — median_absolute_deviation (ES computes it on a TDigest; this
    // is the exact analog, and the SCALE path is rank-based, not
    // collect-based): median via row_number + the (n+1)/2,(n+2)/2 rank
    // picks — a distributed sort, never a per-group array — then the same
    // two-rank trick again over integer deviations. Everything stays in
    // integers (med2 = 2·median of cents, dev2 = |2·vc − med2|, mad4 =
    // 2·median of dev2) until the final display divides, so the even/odd
    // interpolation convention can't fork (a23's fork class). The 5-row
    // median frame broadcasts back into the deviation pass.
    Q("a34_median_abs_deviation",
      (s, d) => {
        def medianByRank(df: org.apache.spark.sql.DataFrame, vcol: String,
                         out: String) = {
          val w = Window.partitionBy(col("event_type"))
            .orderBy(col(vcol), col("event_id"))
          df.withColumn("rn", row_number().over(w))
            .withColumn("n", count(lit(1))
              .over(Window.partitionBy(col("event_type"))))
            .withColumn("lo", floor((col("n") + 1) / lit(2.0D)).cast("long"))
            .withColumn("hi", floor((col("n") + 2) / lit(2.0D)).cast("long"))
            .groupBy(col("event_type"))
            .agg((sum(when(col("rn") === col("lo"), col(vcol)).otherwise(0L))
              + sum(when(col("rn") === col("hi"), col(vcol)).otherwise(0L)))
              .as(out), max(col("n")).as("n"))
        }
        val ev = Tables(s, d, "events")
          .select(col("event_type"), col("event_id"), cents(col("value")).as("vc"))
        val med = medianByRank(ev, "vc", "med2").select(col("event_type"),
          col("med2"), col("n"))
        val dev = ev.join(broadcast(med), "event_type")
          .select(col("event_type"), col("event_id"),
            abs(col("vc") * 2 - col("med2")).as("dev2"))
        medianByRank(dev, "dev2", "mad4").drop("n")
          .join(broadcast(med), "event_type")
          .select(col("event_type"), col("n"),
            round(col("med2").cast("double") / lit(200.0D), 6).as("median_value"),
            round(col("mad4").cast("double") / lit(400.0D), 6).as("mad_value"))
          .orderBy(col("event_type"))
      },
      Some("""WITH e AS (SELECT event_type, event_id,
             |                  CAST(round(value * 100) AS BIGINT) AS vc
             |           FROM events),
             |r1 AS (SELECT event_type, vc,
             |              row_number() OVER (PARTITION BY event_type
             |                ORDER BY vc, event_id) AS rn,
             |              count(*) OVER (PARTITION BY event_type) AS n
             |       FROM e),
             |m AS (SELECT event_type, max(n) AS n,
             |             CAST(sum(CASE WHEN rn = CAST(floor((n + 1) / 2.0) AS BIGINT)
             |                           THEN vc ELSE 0 END)
             |                + sum(CASE WHEN rn = CAST(floor((n + 2) / 2.0) AS BIGINT)
             |                           THEN vc ELSE 0 END) AS BIGINT) AS med2
             |      FROM r1 GROUP BY event_type),
             |dv AS (SELECT e.event_type, e.event_id,
             |              abs(e.vc * 2 - m.med2) AS dev2
             |       FROM e JOIN m USING (event_type)),
             |r2 AS (SELECT event_type, dev2,
             |              row_number() OVER (PARTITION BY event_type
             |                ORDER BY dev2, event_id) AS rn,
             |              count(*) OVER (PARTITION BY event_type) AS n
             |       FROM dv),
             |md AS (SELECT event_type,
             |              CAST(sum(CASE WHEN rn = CAST(floor((n + 1) / 2.0) AS BIGINT)
             |                            THEN dev2 ELSE 0 END)
             |                 + sum(CASE WHEN rn = CAST(floor((n + 2) / 2.0) AS BIGINT)
             |                            THEN dev2 ELSE 0 END) AS BIGINT) AS mad4
             |       FROM r2 GROUP BY event_type)
             |SELECT m.event_type, m.n,
             |       round(CAST(med2 AS DOUBLE) / CAST(200.0 AS DOUBLE), 6)
             |         AS median_value,
             |       round(CAST(mad4 AS DOUBLE) / CAST(400.0 AS DOUBLE), 6)
             |         AS mad_value
             |FROM m JOIN md USING (event_type)
             |ORDER BY event_type""".stripMargin)),

    // A35 — boxplot agg (ES `boxplot`: min/q1/q2/q3/max + IQR fences +
    // outlier count). NOTE on the rank windows here and in a34: a
    // per-group row_number caps parallelism at the group count (5 types →
    // 5 sort tasks), which is exactly right for the oracle but the wrong
    // shape for few-groups × 100 TB — production quantiles at that scale
    // go through approx_percentile (the h6_percentiles_approx path, GK
    // sketch, map-side mergeable) with THIS exact form as its error
    // oracle. Quartile interpolation is written out EXPLICITLY on
    // both engines (pos = (n−1)·p/4, v_lo + frac·(v_hi − v_lo)) instead of
    // trusting percentile()/quantile_cont() conventions; every frac is an
    // exact binary fraction (k/4) and every v an integer cent, so the
    // interpolated doubles are exactly representable — no FP fork surface
    // at all. Scale shape: one rank window (distributed sort), a 25-row
    // quantile spec broadcast into the ranked stream twice (lo/hi picks),
    // and one fence-filtered recount; no per-group arrays, no collect.
    Q("a35_boxplot",
      (s, d) => {
        val ev = Tables(s, d, "events")
          .select(col("event_type"), col("event_id"), cents(col("value")).as("vc"))
        val ranked = graft.Caches.track(ev
          .withColumn("rn", row_number().over(Window
            .partitionBy(col("event_type"))
            .orderBy(col("vc"), col("event_id"))))
          .withColumn("n", count(lit(1))
            .over(Window.partitionBy(col("event_type")))))
        val spec = ranked.groupBy(col("event_type")).agg(max(col("n")).as("sn"))
          .select(col("event_type").as("s_et"), col("sn"),
            explode(expr("array(0,1,2,3,4)")).as("p"))
          .withColumn("pos", (col("sn") - 1).cast("double") * col("p") / lit(4.0D))
          .withColumn("lo", (floor(col("pos")) + 1).cast("long"))
          .withColumn("frac", col("pos") - floor(col("pos")))
        val qv = ranked.select(col("event_type"), col("rn"), col("vc"))
          .join(broadcast(spec), col("rn") === col("lo") and
            col("event_type") === col("s_et"))
          .select(col("s_et").as("event_type"), col("p"), col("frac"), col("lo"),
            col("vc").as("v_lo"))
        val ranked2 = ranked.select(col("event_type").as("et2"),
          col("rn").as("rn2"), col("vc").as("v_hi"))
        val quart = qv.join(ranked2, col("rn2") === col("lo") + 1 and
            col("et2") === qv("event_type"), "left")
          .select(qv("event_type"), col("p"),
            (col("v_lo") + col("frac")
              * (coalesce(col("v_hi"), col("v_lo")) - col("v_lo"))).as("q"))
          .groupBy(col("event_type"))
          .agg(min(when(col("p") === 0, col("q"))).as("q0"),
            min(when(col("p") === 1, col("q"))).as("q1"),
            min(when(col("p") === 2, col("q"))).as("q2"),
            min(when(col("p") === 3, col("q"))).as("q3"),
            min(when(col("p") === 4, col("q"))).as("q4"))
          .withColumn("fence_lo", col("q1") - lit(1.5D) * (col("q3") - col("q1")))
          .withColumn("fence_hi", col("q3") + lit(1.5D) * (col("q3") - col("q1")))
        val out = ev.join(broadcast(quart), "event_type")
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"),
            sum((col("vc") < col("fence_lo") or
              col("vc") > col("fence_hi")).cast("long")).as("n_outliers"),
            min(col("q0")).as("q0c"), min(col("q1")).as("q1c"),
            min(col("q2")).as("q2c"), min(col("q3")).as("q3c"),
            min(col("q4")).as("q4c"))
        out.select(col("event_type"), col("n"),
            round(col("q0c") / lit(100.0D), 6).as("q_min"),
            round(col("q1c") / lit(100.0D), 6).as("q1"),
            round(col("q2c") / lit(100.0D), 6).as("q2"),
            round(col("q3c") / lit(100.0D), 6).as("q3"),
            round(col("q4c") / lit(100.0D), 6).as("q_max"),
            round((col("q3c") - col("q1c")) / lit(100.0D), 6).as("iqr"),
            col("n_outliers"))
          .orderBy(col("event_type"))
      },
      Some("""WITH e AS (SELECT event_type, event_id,
             |                  CAST(round(value * 100) AS BIGINT) AS vc
             |           FROM events),
             |r AS (SELECT event_type, vc,
             |             row_number() OVER (PARTITION BY event_type
             |               ORDER BY vc, event_id) AS rn,
             |             count(*) OVER (PARTITION BY event_type) AS n
             |      FROM e),
             |spec AS (SELECT event_type, n, p,
             |                CAST(n - 1 AS DOUBLE) * p / CAST(4.0 AS DOUBLE)
             |                  AS pos
             |         FROM (SELECT event_type, max(n) AS n FROM r GROUP BY 1),
             |              (SELECT unnest([0,1,2,3,4]) AS p)),
             |sp2 AS (SELECT event_type, n, p,
             |               CAST(floor(pos) + 1 AS BIGINT) AS lo,
             |               pos - floor(pos) AS frac
             |        FROM spec),
             |qv AS (SELECT s.event_type, s.p, s.frac, s.lo, r.vc AS v_lo
             |       FROM sp2 s JOIN r ON r.event_type = s.event_type
             |                        AND r.rn = s.lo),
             |qq AS (SELECT q.event_type, q.p,
             |              q.v_lo + q.frac
             |                * (COALESCE(r2.vc, q.v_lo) - q.v_lo) AS q
             |       FROM qv q LEFT JOIN r r2
             |         ON r2.event_type = q.event_type AND r2.rn = q.lo + 1),
             |quart AS (SELECT event_type,
             |                 min(CASE WHEN p = 0 THEN q END) AS q0,
             |                 min(CASE WHEN p = 1 THEN q END) AS q1,
             |                 min(CASE WHEN p = 2 THEN q END) AS q2,
             |                 min(CASE WHEN p = 3 THEN q END) AS q3,
             |                 min(CASE WHEN p = 4 THEN q END) AS q4
             |          FROM qq GROUP BY event_type),
             |f AS (SELECT *,
             |             q1 - CAST(1.5 AS DOUBLE) * (q3 - q1) AS fence_lo,
             |             q3 + CAST(1.5 AS DOUBLE) * (q3 - q1) AS fence_hi
             |      FROM quart)
             |SELECT e.event_type, count(*) AS n,
             |       round(min(q0) / CAST(100.0 AS DOUBLE), 6) AS q_min,
             |       round(min(q1) / CAST(100.0 AS DOUBLE), 6) AS q1,
             |       round(min(q2) / CAST(100.0 AS DOUBLE), 6) AS q2,
             |       round(min(q3) / CAST(100.0 AS DOUBLE), 6) AS q3,
             |       round(min(q4) / CAST(100.0 AS DOUBLE), 6) AS q_max,
             |       round((min(q3) - min(q1)) / CAST(100.0 AS DOUBLE), 6)
             |         AS iqr,
             |       CAST(sum(CASE WHEN vc < fence_lo OR vc > fence_hi
             |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
             |FROM e JOIN f USING (event_type)
             |GROUP BY e.event_type ORDER BY e.event_type""".stripMargin)),

    // A36 — multi_terms agg (ES `multi_terms`: top-N COMPOUND keys by doc
    // count). Key = (event_type, weekday); one hash aggregate, TakeOrdered
    // cut with the full compound key as tie-break — never a global sort.
    // Spark weekday() is 0=Mon..6=Sun; DuckDB mirrors via isodow − 1.
    Q("a36_multi_terms",
      (s, d) => Tables(s, d, "events")
        .groupBy(col("event_type"), weekday(col("ts")).as("wd"))
        .agg(count(lit(1)).as("n"), sum(cents(col("value"))).as("sum_cents"))
        .orderBy(col("n").desc, col("event_type"), col("wd"))
        .limit(20),
      Some("""SELECT event_type,
             |       CAST(date_part('isodow', ts) - 1 AS BIGINT) AS wd,
             |       count(*) AS n,
             |       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
             |         AS sum_cents
             |FROM events GROUP BY 1, 2
             |ORDER BY n DESC, event_type, wd LIMIT 20""".stripMargin)),

    // A37 — change_point detection (ES `change_point`: step-change over a
    // metric series). Candidate split k maximizes |mean_after − mean_before|
    // over the daily-count series; both means derive from EXACT integer
    // prefix sums through one mirrored IEEE divide each, so the argmax
    // equality filter (a29's technique, min-day tie-break) cannot fork.
    // The series is the calendar-bounded bucket frame — the windows run
    // over ~days rows, never corpus rows.
    Q("a37_change_point",
      (s, d) => {
        val daily = Tables(s, d, "events")
          .groupBy(to_date(col("ts")).as("day"))
          .agg(count(lit(1)).as("n"))
        val w = Window.orderBy(col("day"))
        val scored = daily
          .withColumn("k", row_number().over(w))
          .withColumn("cum", sum(col("n"))
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .withColumn("total", sum(col("n")).over(
            Window.partitionBy(lit(1))))
          .withColumn("nd", count(lit(1)).over(Window.partitionBy(lit(1))))
          .filter(col("k") < col("nd"))
          .withColumn("mean_before", col("cum").cast("double") / col("k"))
          .withColumn("mean_after", (col("total") - col("cum")).cast("double")
            / (col("nd") - col("k")))
          .withColumn("score", abs(col("mean_after") - col("mean_before")))
        scored.withColumn("mx", max(col("score")).over(Window.partitionBy(lit(1))))
          .filter(col("score") === col("mx"))
          .groupBy(lit(1).as("g"))
          .agg(min(col("day")).as("split_day"))
          .join(scored.withColumnRenamed("day", "split_day"), Seq("split_day"))
          .select(col("split_day"), col("k").as("n_days_before"),
            round(col("mean_before"), 6).as("mean_before"),
            round(col("mean_after"), 6).as("mean_after"),
            round(col("mean_after") - col("mean_before"), 6).as("delta"))
      },
      Some("""WITH b AS (SELECT CAST(ts AS DATE) AS day, count(*) AS n
             |           FROM events GROUP BY 1),
             |c AS (SELECT day, n,
             |             row_number() OVER (ORDER BY day) AS k,
             |             sum(n) OVER (ORDER BY day
             |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |               AS cum,
             |             sum(n) OVER () AS total,
             |             count(*) OVER () AS nd
             |      FROM b),
             |s AS (SELECT day, k,
             |             CAST(cum AS DOUBLE) / k AS mean_before,
             |             CAST(total - cum AS DOUBLE) / (nd - k) AS mean_after
             |      FROM c WHERE k < nd),
             |sc AS (SELECT *, abs(mean_after - mean_before) AS score FROM s),
             |best AS (SELECT min(day) AS split_day FROM sc
             |         WHERE score = (SELECT max(score) FROM sc))
             |SELECT split_day, k AS n_days_before,
             |       round(mean_before, 6) AS mean_before,
             |       round(mean_after, 6) AS mean_after,
             |       round(mean_after - mean_before, 6) AS delta
             |FROM best JOIN sc ON sc.day = best.split_day""".stripMargin)),

    // A38 — frequent_item_sets (ES 8.x market-basket agg), pair depth:
    // baskets = users, items = the DISTINCT event types a user performed.
    // Support/confidence/lift from exact integer counts. Scale shape: the
    // distinct (user, type) stream self-joins ON USER (co-partitioned
    // shuffle join, per-user item sets are bounded by the type vocabulary),
    // per-type counts and the basket total broadcast into the 10-row pair
    // frame; every divide is one mirrored double sequence.
    Q("a38_frequent_pairs",
      (s, d) => {
        val items = graft.Caches.track(Tables(s, d, "events")
          .select(col("user_id"), col("event_type")).distinct())
        val nUsers = items.select(col("user_id")).distinct()
          .agg(count(lit(1)).as("n_users"))
        val perType = items.groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_t"))
        val pairs = items.as("a")
          .join(items.as("b"), col("a.user_id") === col("b.user_id") and
            col("a.event_type") < col("b.event_type"))
          .groupBy(col("a.event_type").as("item_a"),
            col("b.event_type").as("item_b"))
          .agg(count(lit(1)).as("n_ab"))
        pairs
          .join(broadcast(perType.withColumnRenamed("event_type", "item_a")
            .withColumnRenamed("n_t", "n_a")), "item_a")
          .join(broadcast(perType.withColumnRenamed("event_type", "item_b")
            .withColumnRenamed("n_t", "n_b")), "item_b")
          .crossJoin(broadcast(nUsers))
          .select(col("item_a"), col("item_b"), col("n_ab"),
            round(col("n_ab").cast("double") / col("n_users"), 6).as("support"),
            round(col("n_ab").cast("double") / col("n_a"), 6).as("confidence"),
            round(col("n_ab").cast("double") * col("n_users")
              / (col("n_a").cast("double") * col("n_b")), 6).as("lift"))
          .orderBy(col("support").desc, col("item_a"), col("item_b"))
      },
      Some("""WITH items AS (SELECT DISTINCT user_id, event_type FROM events),
             |u AS (SELECT count(DISTINCT user_id) AS n_users FROM items),
             |t AS (SELECT event_type, count(*) AS n_t FROM items GROUP BY 1),
             |p AS (SELECT a.event_type AS item_a, b.event_type AS item_b,
             |             count(*) AS n_ab
             |      FROM items a JOIN items b
             |        ON a.user_id = b.user_id
             |       AND a.event_type < b.event_type
             |      GROUP BY 1, 2)
             |SELECT item_a, item_b, n_ab,
             |       round(CAST(n_ab AS DOUBLE) / n_users, 6) AS support,
             |       round(CAST(n_ab AS DOUBLE) / ta.n_t, 6) AS confidence,
             |       round(CAST(n_ab AS DOUBLE) * n_users
             |         / (CAST(ta.n_t AS DOUBLE) * CAST(tb.n_t AS DOUBLE)), 6)
             |         AS lift
             |FROM p
             |JOIN t ta ON ta.event_type = item_a
             |JOIN t tb ON tb.event_type = item_b
             |CROSS JOIN u
             |ORDER BY support DESC, item_a, item_b""".stripMargin)),

    // A39 — scripted_metric (the ES escape-hatch agg: arbitrary
    // map/combine/reduce). The canonical use case — a custom sequential
    // metric no builtin computes — here: MAX DRAWDOWN of the daily value
    // series per type. The fold is order-sensitive, so it uses a24's
    // determinism recipe: day-encode (epochday·10⁹ + cents, cents < 10⁹
    // asserted by the encoding; daily sums at any tested SF are ~10⁷),
    // SORT the encoded list (total order — the day prefix dominates), then
    // run the identical integer fold on both engines with the state packed
    // into ONE BIGINT (peak·10⁹ + maxdd — both < 10⁹, so the pack can't
    // overflow; DuckDB list_reduce seeds via list_prepend exactly like the
    // duckDot mirror). Zero FP until the display divides. The fold runs
    // over the AGGREGATED bucket frame (types × days), never corpus rows.
    // The radix precondition (0 ≤ daily cents sum < 10⁹; ~10⁷ at tested
    // SFs) is ENFORCED, not assumed (r14 advice #4): a violating bucket
    // raises on both engines instead of silently corrupting the packing.
    Q("a39_scripted_metric",
      (s, d) => {
        val enc = Tables(s, d, "events")
          .groupBy(col("event_type"), to_date(col("ts")).as("day"))
          .agg(sum(cents(col("value"))).as("vc0"))
          .withColumn("vc",
            when(col("vc0").between(0L, 999999999L), col("vc0"))
              .otherwise(raise_error(concat(
                lit("a39_scripted_metric: daily cents sum outside [0, 1e9): "),
                col("vc0"))).cast("long")))
          .select(col("event_type"),
            (datediff(col("day"), lit("1970-01-01")).cast("long")
              * lit(1000000000L) + col("vc")).as("e"))
        enc.groupBy(col("event_type"))
          .agg(sort_array(collect_list(col("e"))).as("arr"))
          .select(col("event_type"), size(col("arr")).as("n_days"),
            expr("""aggregate(arr, CAST(0 AS BIGINT), (acc, x) ->
                   |  greatest(acc div 1000000000, x % 1000000000)
                   |    * CAST(1000000000 AS BIGINT)
                   |  + greatest(acc % 1000000000,
                   |      greatest(acc div 1000000000, x % 1000000000)
                   |        - x % 1000000000))""".stripMargin).as("st"))
          .select(col("event_type"), col("n_days"),
            round((col("st") / lit(1000000000L)).cast("long")
              .cast("double") / lit(100.0D), 6).as("peak_value"),
            round((col("st") % lit(1000000000L))
              .cast("double") / lit(100.0D), 6).as("max_drawdown"))
          .orderBy(col("event_type"))
      },
      Some("""WITH b0 AS (SELECT event_type, CAST(ts AS DATE) AS day,
             |                   CAST(sum(CAST(round(value * 100) AS BIGINT))
             |                        AS BIGINT) AS vc0
             |            FROM events GROUP BY 1, 2),
             |b AS (SELECT event_type, day,
             |             CASE WHEN vc0 BETWEEN 0 AND 999999999 THEN vc0
             |                  ELSE CAST(error('a39: vc overflow') AS BIGINT)
             |             END AS vc
             |      FROM b0),
             |e AS (SELECT event_type,
             |             CAST(datediff('day', DATE '1970-01-01', day)
             |                  AS BIGINT) * 1000000000 + vc AS e
             |      FROM b),
             |g AS (SELECT event_type, list_sort(list(e)) AS arr
             |      FROM e GROUP BY 1),
             |f AS (SELECT event_type, len(arr) AS n_days,
             |             list_reduce(
             |               list_prepend(CAST(0 AS BIGINT), arr),
             |               (acc, x) ->
             |                 greatest(acc // 1000000000, x % 1000000000)
             |                   * CAST(1000000000 AS BIGINT)
             |                 + greatest(acc % 1000000000,
             |                     greatest(acc // 1000000000, x % 1000000000)
             |                       - x % 1000000000)) AS st
             |      FROM g)
             |SELECT event_type, CAST(n_days AS INT) AS n_days,
             |       round(CAST(st // 1000000000 AS DOUBLE)
             |         / CAST(100.0 AS DOUBLE), 6) AS peak_value,
             |       round(CAST(st % 1000000000 AS DOUBLE)
             |         / CAST(100.0 AS DOUBLE), 6) AS max_drawdown
             |FROM f ORDER BY event_type""".stripMargin)),

    // A40 — bucket_sort pipeline agg (ES: sort + truncate the PARENT's
    // buckets by a metric): top-5 busiest days per type from the
    // date_histogram, ranked. Per-group top-k over the bucket frame —
    // the o3/a19 WindowGroupLimit shape, but on types × days rows, so
    // the window input is calendar-bounded at any corpus size.
    Q("a40_bucket_sort",
      (s, d) => {
        val w = Window.partitionBy(col("event_type"))
          .orderBy(col("n").desc, col("day"))
        Tables(s, d, "events")
          .groupBy(col("event_type"), to_date(col("ts")).as("day"))
          .agg(count(lit(1)).as("n"))
          .withColumn("rnk", row_number().over(w))
          .filter(col("rnk") <= 5)
          .select(col("event_type"), col("rnk"), col("day"), col("n"))
          .orderBy(col("event_type"), col("rnk"))
      },
      Some("""WITH b AS (SELECT event_type, CAST(ts AS DATE) AS day,
             |                  count(*) AS n
             |           FROM events GROUP BY 1, 2),
             |r AS (SELECT *, row_number() OVER (PARTITION BY event_type
             |               ORDER BY n DESC, day) AS rnk
             |      FROM b)
             |SELECT event_type, CAST(rnk AS BIGINT) AS rnk, day, n
             |FROM r WHERE rnk <= 5
             |ORDER BY event_type, rnk""".stripMargin)),

    // A41 — variable_width_histogram (ES's approximate-clustering
    // histogram), as a DETERMINISTIC 1-D k-means over integer cents —
    // the v8 recipe in one dimension: init = the five a35-style rank
    // quantiles (exact ranks, no interpolation needed — just the value AT
    // the rank), two unrolled Lloyd iterations with the argmin written as
    // a 5-way ≤-CASE (ties to the LOWER centroid id — pinned), recenter =
    // integer floor-division sum/count (empty clusters keep their old
    // centroid via coalesce). Zero FP anywhere. Scale shape: each
    // assignment pass is MAP-SIDE (1-row centroid pivot broadcast into
    // the scan — never a ×k row blowup or a per-value window); each
    // recenter is one hash agg. The INIT's exact global rank is the
    // oracle-determinism choice — at 100 TB seed from approx_percentile
    // instead (init quality doesn't need exactness; the iterations do the
    // work). Buckets report min/max/count/centroid.
    Q("a41_variable_width_histogram",
      (s, d) => {
        val ev = graft.Caches.track(Tables(s, d, "events")
          .select(col("event_id"), cents(col("value")).as("v")))
        // init: values at ranks 1, ⌊(n-1)/4⌋+1, ⌊2(n-1)/4⌋+1, ⌊3(n-1)/4⌋+1, n
        val ranked = ev
          .withColumn("rn", row_number().over(
            Window.orderBy(col("v"), col("event_id"))))
          .withColumn("n", count(lit(1)).over(Window.partitionBy(lit(1))))
        val init = ranked
          .filter(col("rn") === 1 or
            col("rn") === floor((col("n") - 1) / lit(4.0D)) + 1 or
            col("rn") === floor((col("n") - 1) * 2 / lit(4.0D)) + 1 or
            col("rn") === floor((col("n") - 1) * 3 / lit(4.0D)) + 1 or
            col("rn") === col("n"))
          .groupBy(lit(1).as("g"))
          .agg(min(when(col("rn") === 1, col("v"))).as("c0"),
            min(when(col("rn") === floor((col("n") - 1) / lit(4.0D)) + 1,
              col("v"))).as("c1"),
            min(when(col("rn") === floor((col("n") - 1) * 2 / lit(4.0D)) + 1,
              col("v"))).as("c2"),
            min(when(col("rn") === floor((col("n") - 1) * 3 / lit(4.0D)) + 1,
              col("v"))).as("c3"),
            min(when(col("rn") === col("n"), col("v"))).as("c4"))
          .drop("g")
        vwHistogramLloyd(ev, init)
      },
      Some {
        // Lloyd round r over the previous centroids `prev` (c0..c4):
        // nearest-centroid assignment `a<r>` (ties to the lower cid), then
        // integer-mean recentering to `k<r>` (an empty cluster keeps its
        // centroid). The last pass assigns only.
        def assign(r: Int, prev: String): String =
          s"""a$r AS (SELECT v, CASE
             |         WHEN abs(v-c0) <= abs(v-c1) AND abs(v-c0) <= abs(v-c2)
             |          AND abs(v-c0) <= abs(v-c3) AND abs(v-c0) <= abs(v-c4) THEN 0
             |         WHEN abs(v-c1) <= abs(v-c2) AND abs(v-c1) <= abs(v-c3)
             |          AND abs(v-c1) <= abs(v-c4) THEN 1
             |         WHEN abs(v-c2) <= abs(v-c3) AND abs(v-c2) <= abs(v-c4) THEN 2
             |         WHEN abs(v-c3) <= abs(v-c4) THEN 3
             |         ELSE 4 END AS cid
             |       FROM e CROSS JOIN $prev)""".stripMargin
        def round(r: Int, prev: String): String =
          s"""${assign(r, prev)},
             |s$r AS (SELECT cid, CAST(sum(v) // count(*) AS BIGINT) AS c
             |       FROM a$r GROUP BY 1),
             |p$r AS (SELECT
             |         min(CASE WHEN cid = 0 THEN c END) AS n0,
             |         min(CASE WHEN cid = 1 THEN c END) AS n1,
             |         min(CASE WHEN cid = 2 THEN c END) AS n2,
             |         min(CASE WHEN cid = 3 THEN c END) AS n3,
             |         min(CASE WHEN cid = 4 THEN c END) AS n4
             |       FROM s$r),
             |k$r AS (SELECT COALESCE(n0, c0) AS c0, COALESCE(n1, c1) AS c1,
             |              COALESCE(n2, c2) AS c2, COALESCE(n3, c3) AS c3,
             |              COALESCE(n4, c4) AS c4
             |       FROM $prev CROSS JOIN p$r)""".stripMargin
        s"""WITH e AS (SELECT event_id,
             |                  CAST(round(value * 100) AS BIGINT) AS v
             |           FROM events),
             |r AS (SELECT v, row_number() OVER (ORDER BY v, event_id) AS rn,
             |             count(*) OVER () AS n
             |      FROM e),
             |init AS (SELECT
             |  min(CASE WHEN rn = 1 THEN v END) AS c0,
             |  min(CASE WHEN rn = CAST(floor((n-1) / 4.0) AS BIGINT) + 1
             |           THEN v END) AS c1,
             |  min(CASE WHEN rn = CAST(floor((n-1) * 2 / 4.0) AS BIGINT) + 1
             |           THEN v END) AS c2,
             |  min(CASE WHEN rn = CAST(floor((n-1) * 3 / 4.0) AS BIGINT) + 1
             |           THEN v END) AS c3,
             |  min(CASE WHEN rn = n THEN v END) AS c4
             |  FROM r
             |  WHERE rn = 1 OR rn = CAST(floor((n-1) / 4.0) AS BIGINT) + 1
             |     OR rn = CAST(floor((n-1) * 2 / 4.0) AS BIGINT) + 1
             |     OR rn = CAST(floor((n-1) * 3 / 4.0) AS BIGINT) + 1
             |     OR rn = n),
             |${round(1, "init")},
             |${round(2, "k1")},
             |${assign(3, "k2")},
             |cents AS (SELECT 0 AS cid, c0 AS centroid FROM k2
             |          UNION ALL SELECT 1, c1 FROM k2
             |          UNION ALL SELECT 2, c2 FROM k2
             |          UNION ALL SELECT 3, c3 FROM k2
             |          UNION ALL SELECT 4, c4 FROM k2)
             |SELECT a.cid, count(*) AS n, min(v) AS min_cents,
             |       max(v) AS max_cents, min(centroid) AS centroid
             |FROM a3 a JOIN cents USING (cid)
             |GROUP BY a.cid ORDER BY a.cid""".stripMargin
      }),

    // A41 scale twin (r20 verdict #1): the SAME two-iteration Lloyd
    // machinery, seeded from approx_percentile instead of the exact global
    // rank. The exact form's init is the ONE corpus-sized single-partition
    // window left in the registry (row_number over Window.orderBy(v) ⇒
    // Exchange SinglePartition + a full sort on one task — a driver-adjacent
    // corpus sort at 100×); this twin's init is a partial/final hash
    // aggregate (GK sketch), so NO single-partition exchange anywhere in the
    // plan (plans/a41_vw_histogram_approx.txt). Init quality doesn't need
    // exactness — the Lloyd iterations do the work (the a3/h6/x17
    // exact↔approx precedent: the exact form stays oracle-gated, this twin
    // is benched; AggSpec pins fixture bucket agreement between the two).
    Q("a41_vw_histogram_approx",
      (s, d) => {
        val ev = graft.Caches.track(Tables(s, d, "events")
          .select(col("event_id"), cents(col("value")).as("v")))
        // init: approx 0/25/50/75/100-percentiles (observed values, like the
        // exact ranks; 0.0/1.0 are exact min/max by the sketch contract)
        val init = ev.agg(percentile_approx(col("v"),
            array(lit(0.0D), lit(0.25D), lit(0.5D), lit(0.75D), lit(1.0D)),
            lit(10000)).as("q"))
          .select(element_at(col("q"), 1).as("c0"),
            element_at(col("q"), 2).as("c1"),
            element_at(col("q"), 3).as("c2"),
            element_at(col("q"), 4).as("c3"),
            element_at(col("q"), 5).as("c4"))
        vwHistogramLloyd(ev, init)
      },
      None),

    // A43 — date_range agg (ES `date_range`: NAMED irregular calendar
    // buckets with half-open [from, to) bounds and open ends — the
    // calendar sibling h13's uniform histogram can't express). Bucket
    // edges are derived from the data's min day (one-row broadcast bounds
    // reduce, a20's technique) so the query is fixture-independent; the
    // bucket CASE is map-side integer day arithmetic, then one hash agg
    // over ≤3 buckets.
    Q("a43_date_range",
      (s, d) => {
        val ev = Tables(s, d, "events")
          .select(to_date(col("ts")).as("day"), cents(col("value")).as("vc"))
        val bounds = ev.agg(min(col("day")).as("d0"))
        ev.crossJoin(broadcast(bounds))
          .withColumn("off", datediff(col("day"), col("d0")))
          .withColumn("bucket",
            when(col("off") < 7, "b0_first_week")
              .when(col("off") < 21, "b1_weeks_2_3")
              .otherwise("b2_rest"))
          .withColumn("from_day",
            when(col("off") < 7, col("d0"))
              .when(col("off") < 21, date_add(col("d0"), 7))
              .otherwise(date_add(col("d0"), 21)))
          .groupBy(col("bucket"), col("from_day"))
          .agg(count(lit(1)).as("n"), sum(col("vc")).as("sum_cents"))
          .orderBy(col("bucket"))
      },
      Some("""WITH e AS (SELECT CAST(ts AS DATE) AS day,
             |                  CAST(round(value * 100) AS BIGINT) AS vc
             |           FROM events),
             |b AS (SELECT min(day) AS d0 FROM e),
             |m AS (SELECT day, vc,
             |             datediff('day', d0, day) AS off, d0
             |      FROM e CROSS JOIN b),
             |t AS (SELECT CASE WHEN off < 7 THEN 'b0_first_week'
             |                  WHEN off < 21 THEN 'b1_weeks_2_3'
             |                  ELSE 'b2_rest' END AS bucket,
             |             CASE WHEN off < 7 THEN d0
             |                  WHEN off < 21 THEN d0 + 7
             |                  ELSE d0 + 21 END AS from_day,
             |             vc
             |      FROM m)
             |SELECT bucket, from_day, count(*) AS n,
             |       CAST(sum(vc) AS BIGINT) AS sum_cents
             |FROM t GROUP BY 1, 2 ORDER BY bucket""".stripMargin)),

    // A44 — filters agg with other_bucket (ES `filters`: NAMED arbitrary
    // predicates as buckets, plus the catch-all). Buckets may OVERLAP
    // (a doc can match several — unlike a terms agg's partition), so each
    // is a conditional sum in ONE corpus pass (the a22 posture — never
    // k scans); the other bucket counts rows matching NO filter.
    Q("a44_filters_agg",
      (s, d) => {
        val f = Tables(s, d, "events").select(
          (col("event_type") === "error").cast("long").as("f_err"),
          (cents(col("value")) >= 20000).cast("long").as("f_big"),
          weekday(col("ts")).isin(5, 6).cast("long").as("f_wkend"))
        f.agg(
            sum(col("f_err")).as("n_errors"),
            sum(col("f_big")).as("n_big_value"),
            sum(col("f_wkend")).as("n_weekend"),
            sum(when(col("f_err") + col("f_big") + col("f_wkend") === 0, 1L)
              .otherwise(0L)).as("n_other"),
            count(lit(1)).as("n_total"))
          .select(expr(
            "stack(4, 'errors', n_errors, 'big_value', n_big_value, " +
              "'weekend', n_weekend, 'other', n_other) AS (bucket, n)"),
            col("n_total"))
          .orderBy(col("bucket"))
      },
      Some("""WITH f AS (
             |  SELECT CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS fe,
             |         CASE WHEN CAST(round(value * 100) AS BIGINT) >= 20000
             |              THEN 1 ELSE 0 END AS fb,
             |         CASE WHEN date_part('isodow', ts) IN (6, 7)
             |              THEN 1 ELSE 0 END AS fw
             |  FROM events),
             |a AS (SELECT CAST(sum(fe) AS BIGINT) AS n_errors,
             |             CAST(sum(fb) AS BIGINT) AS n_big_value,
             |             CAST(sum(fw) AS BIGINT) AS n_weekend,
             |             CAST(sum(CASE WHEN fe + fb + fw = 0 THEN 1 ELSE 0 END)
             |                  AS BIGINT) AS n_other,
             |             count(*) AS n_total
             |      FROM f)
             |SELECT bucket, n, n_total FROM (
             |  SELECT 'errors' AS bucket, n_errors AS n, n_total FROM a
             |  UNION ALL SELECT 'big_value', n_big_value, n_total FROM a
             |  UNION ALL SELECT 'weekend', n_weekend, n_total FROM a
             |  UNION ALL SELECT 'other', n_other, n_total FROM a)
             |ORDER BY bucket""".stripMargin)),

    // A45 — percentiles_bucket pipeline agg (ES: percentiles OVER a sibling
    // agg's bucket values, completing the *_bucket family next to a29
    // stats_bucket): q1/median/q3 of the per-day event counts, per type.
    // The percentile input is the AGGREGATED types × days frame (calendar-
    // bounded at any corpus size — a39's posture), so one bounded
    // collect_list per type is the honest plan; interpolation positions are
    // (nb−1)·k/4 — quarter fractions, exactly representable, so the linear
    // interpolation over integer counts is bit-identical on both engines
    // (the a35 recipe without its corpus-rank machinery).
    Q("a45_percentiles_bucket",
      (s, d) => {
        def qk(k: Int): Column = {
          val pos = (col("nb") - 1).cast("double") * lit(k) / lit(4.0D)
          val lo = (floor(pos) + 1).cast("int")
          val loV = element_at(col("arr"), lo).cast("double")
          val frac = pos - floor(pos)
          // frac > 0 ⇒ pos < nb−1 ⇒ lo+1 ≤ nb: the guard keeps element_at
          // in bounds under ANSI without a try_ variant
          val hiV = when(frac > lit(0.0D), element_at(col("arr"), lo + 1))
            .otherwise(element_at(col("arr"), lo)).cast("double")
          round(loV + frac * (hiV - loV), 6)
        }
        Tables(s, d, "events")
          .groupBy(col("event_type"), to_date(col("ts")).as("day"))
          .agg(count(lit(1)).as("n"))
          .groupBy(col("event_type"))
          .agg(sort_array(collect_list(col("n"))).as("arr"),
            count(lit(1)).as("nb"))
          .select(col("event_type"), col("nb").as("n_buckets"),
            qk(1).as("p25"), qk(2).as("p50"), qk(3).as("p75"))
          .orderBy(col("event_type"))
      },
      Some("""WITH b AS (SELECT event_type, CAST(ts AS DATE) AS day,
             |                  count(*) AS n
             |           FROM events GROUP BY 1, 2),
             |g AS (SELECT event_type, list_sort(list(n)) AS arr,
             |             count(*) AS nb
             |      FROM b GROUP BY 1),
             |q AS (SELECT event_type, nb, arr, k,
             |             CAST(nb - 1 AS DOUBLE) * k / 4 AS pos
             |      FROM g, unnest([1, 2, 3]) AS t(k)),
             |i AS (SELECT event_type, nb, k,
             |             round(CAST(arr[CAST(floor(pos) AS INT) + 1] AS DOUBLE)
             |               + (pos - floor(pos))
             |                 * (CAST(CASE WHEN pos > floor(pos)
             |                         THEN arr[CAST(floor(pos) AS INT) + 2]
             |                         ELSE arr[CAST(floor(pos) AS INT) + 1]
             |                    END AS DOUBLE)
             |                    - CAST(arr[CAST(floor(pos) AS INT) + 1]
             |                           AS DOUBLE)), 6) AS qv
             |      FROM q)
             |SELECT event_type, nb AS n_buckets,
             |       min(CASE WHEN k = 1 THEN qv END) AS p25,
             |       min(CASE WHEN k = 2 THEN qv END) AS p50,
             |       min(CASE WHEN k = 3 THEN qv END) AS p75
             |FROM i GROUP BY event_type, nb ORDER BY event_type""".stripMargin)),

    // A46 — ES `top_metrics`: per bucket, the metric values of the row
    // that sorts first/last — a SINGLE hash aggregate (max_by/min_by with
    // map-side partials), deliberately a different physical shape from
    // a5_latest_per_key's row_number window (which shuffles whole rows and
    // sorts each partition). This is exactly how ES computes it shard-side:
    // each shard keeps one candidate per bucket, the coordinator merges.
    // At 100 TB the win is material: the agg shuffles one candidate row
    // per (bucket × partition), never the full table. Sort key is the
    // exact BIGINT (epoch_seconds · 10⁷ + event_id) — a total order
    // (event_id < 10⁷ holds through sf100), identical on both engines.
    Q("a46_top_metrics",
      (s, d) => {
        val sortk = unix_timestamp(col("ts")) * lit(10000000L) + col("event_id")
        Tables(s, d, "events")
          .select(col("event_type"), col("user_id"),
            cents(col("value")).as("vc"), sortk.as("k"))
          .groupBy(col("event_type"))
          .agg(
            max_by(col("vc"), col("k")).as("last_cents"),
            max_by(col("user_id"), col("k")).as("last_user"),
            min_by(col("vc"), col("k")).as("first_cents"),
            min_by(col("user_id"), col("k")).as("first_user"),
            count(lit(1)).as("n"))
          .orderBy(col("event_type"))
      },
      Some("""WITH e AS (SELECT event_type, user_id,
             |                  CAST(round(value * 100) AS BIGINT) AS vc,
             |                  CAST(floor(epoch(ts)) AS BIGINT) * 10000000
             |                    + event_id AS k
             |           FROM events)
             |SELECT event_type,
             |       arg_max(vc, k) AS last_cents,
             |       arg_max(user_id, k) AS last_user,
             |       arg_min(vc, k) AS first_cents,
             |       arg_min(user_id, k) AS first_user,
             |       count(*) AS n
             |FROM e GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // A47 — ES `categorize_text` analog: cluster documents by token-pattern
    // skeleton. ES's version drift-categorizes log messages by masking
    // variable tokens; the deterministic analog masks the closed-class
    // tokens ('a'/'the' → '_') and keys on the first-3-token skeleton.
    // One map-side projection (no shuffle until the skeleton hash agg) —
    // the 100 TB shape is a straight scan → hash agg over a bounded
    // category space. Top-20 categories by size, doc-count + example.
    Q("a47_categorize_text",
      (s, d) => {
        val toks = graft.functions.TextFunctions.tokens(col("text"))
        val masked = transform(slice(toks, 1, 3),
          t => when(t === "a" || t === "the", "_").otherwise(t))
        Tables(s, d, "documents")
          .select(col("doc_id"), array_join(masked, " ").as("category"))
          .groupBy(col("category"))
          .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("example_doc"))
          .orderBy(col("n_docs").desc, col("category"))
          .limit(20)
      },
      Some("""WITH t AS (SELECT doc_id,
             |                  array_to_string(
             |                    [CASE WHEN x IN ('a','the') THEN '_' ELSE x END
             |                     for x in list_filter(string_split(text, ' '),
             |                                          t -> t <> '')[1:3]],
             |                    ' ') AS category
             |           FROM documents)
             |SELECT category, count(*) AS n_docs,
             |       min(doc_id) AS example_doc
             |FROM t GROUP BY category
             |ORDER BY n_docs DESC, category LIMIT 20""".stripMargin)),

    // A48 — ES `moving_percentiles` pipeline agg: the trailing-7-bucket
    // exact median of the daily count series, per key. Same interpolation
    // contract as a45 (linear, the ES/NIST R-7 definition), computed from
    // an explicitly sorted bounded frame on BOTH engines so the hash
    // compare has a single FP path. The frame is ≤7 values — collect per
    // row is O(7), and the window shuffles only (key, day, n) triples.
    Q("a48_moving_percentiles",
      (s, d) => {
        val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
          .rowsBetween(-6, 0)
        val arr = sort_array(collect_list(col("n")).over(w))
        val nb = size(arr)
        val pos = (nb - 1).cast("double") / lit(2.0D)
        val lo = (floor(pos) + 1).cast("int")
        val loV = element_at(arr, lo).cast("double")
        val frac = pos - floor(pos)
        val hiV = when(frac > lit(0.0D), element_at(arr, lo + 1))
          .otherwise(element_at(arr, lo)).cast("double")
        Tables(s, d, "events")
          .groupBy(col("event_type"), to_date(col("ts")).as("day"))
          .agg(count(lit(1)).as("n"))
          .select(col("event_type"), col("day"), col("n"),
            round(loV + frac * (hiV - loV), 6).as("p50_7d"))
          .orderBy(col("event_type"), col("day"))
      },
      Some("""WITH b AS (SELECT event_type, CAST(ts AS DATE) AS day,
             |                  count(*) AS n
             |           FROM events GROUP BY 1, 2),
             |w AS (SELECT event_type, day, n,
             |             list_sort(list(n) OVER (PARTITION BY event_type
             |               ORDER BY day
             |               ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)) AS arr
             |      FROM b),
             |q AS (SELECT event_type, day, n, arr,
             |             CAST(len(arr) - 1 AS DOUBLE) / 2 AS pos
             |      FROM w)
             |SELECT event_type, day, n,
             |       round(CAST(arr[CAST(floor(pos) AS INT) + 1] AS DOUBLE)
             |         + (pos - floor(pos))
             |           * (CAST(CASE WHEN pos > floor(pos)
             |                   THEN arr[CAST(floor(pos) AS INT) + 2]
             |                   ELSE arr[CAST(floor(pos) AS INT) + 1]
             |              END AS DOUBLE)
             |              - CAST(arr[CAST(floor(pos) AS INT) + 1]
             |                     AS DOUBLE)), 6) AS p50_7d
             |FROM q ORDER BY event_type, day""".stripMargin)),

    // A49 — ES `bucket_correlation` pipeline agg: Pearson correlation of
    // the per-bucket doc counts against an indicator vector (here the
    // weekend flag of the bucket's day — ES's typical "count vs term
    // indicator" use). Both engines compute the SAME closed form from
    // exact BIGINT sums (x ∈ {0,1} so Sxx = Sx): one fixed IEEE op
    // sequence, no accumulation-order surface. Two narrow hash aggs; the
    // indicator join is a map-side expression, never a shuffle.
    Q("a49_bucket_correlation",
      (s, d) => {
        val wknd = when(dayofweek(col("day")).isin(1, 7), 1L).otherwise(0L)
        Tables(s, d, "events")
          .groupBy(col("event_type"), to_date(col("ts")).as("day"))
          .agg(count(lit(1)).as("n"))
          .select(col("event_type"), col("n"), wknd.as("x"))
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("nb"), sum(col("x")).as("sx"),
            sum(col("n")).as("sy"), sum(col("x") * col("n")).as("sxy"),
            sum(col("n") * col("n")).as("syy"))
          .select(col("event_type"), col("nb"),
            // zero-variance guard: Spark yields NaN/Inf on double /0 while
            // DuckDB yields NULL — pin NULL on both engines explicitly
            when(
              col("nb") * col("sx") - col("sx") * col("sx") > 0 &&
                col("nb") * col("syy") - col("sy") * col("sy") > 0,
              round(
                (col("nb") * col("sxy") - col("sx") * col("sy")).cast("double")
                  / (sqrt((col("nb") * col("sx") - col("sx") * col("sx"))
                       .cast("double"))
                     * sqrt((col("nb") * col("syy") - col("sy") * col("sy"))
                         .cast("double"))), 6)).as("corr_weekend"))
          .orderBy(col("event_type"))
      },
      Some("""WITH b AS (SELECT event_type, CAST(ts AS DATE) AS day,
             |                  count(*) AS n
             |           FROM events GROUP BY 1, 2),
             |i AS (SELECT event_type, n,
             |             CASE WHEN dayofweek(day) IN (0, 6)
             |                  THEN 1 ELSE 0 END AS x
             |      FROM b),
             |g AS (SELECT event_type,
             |             CAST(count(*) AS BIGINT) AS nb,
             |             CAST(sum(x) AS BIGINT) AS sx,
             |             CAST(sum(n) AS BIGINT) AS sy,
             |             CAST(sum(x * n) AS BIGINT) AS sxy,
             |             CAST(sum(n * n) AS BIGINT) AS syy
             |      FROM i GROUP BY 1)
             |SELECT event_type, nb,
             |       CASE WHEN nb * sx - sx * sx > 0
             |             AND nb * syy - sy * sy > 0
             |       THEN round(CAST(nb * sxy - sx * sy AS DOUBLE)
             |              / (sqrt(CAST(nb * sx - sx * sx AS DOUBLE))
             |                 * sqrt(CAST(nb * syy - sy * sy AS DOUBLE))),
             |              6)
             |       END AS corr_weekend
             |FROM g ORDER BY event_type""".stripMargin)),

    // A50 — ES `random_sampler` agg: sub-aggregates computed on a
    // probability sample, scaled back by 1/p. ES uses a per-doc random
    // draw; the deterministic analog draws by content hash (the x5
    // DataSplit family's md5 fold, mod 8 → p = 1/8 exactly), so the
    // "sample" is reproducible and the oracle can mirror it. The whole
    // sample decision is map-side on the scan — at 100 TB the scan cost
    // is the floor, but every downstream byte (shuffle, agg state) drops
    // by 8×, which is the point of the ES agg. Estimates are integer
    // sums × 8; EngineSpec bounds them against the exact twin.
    Q("a50_random_sampler",
      (s, d) => {
        val bucket = pmod(HashFunctions.md5Hash60(
          concat(lit("rs:"), col("event_id").cast("string"))), lit(8L))
        Tables(s, d, "events")
          .filter(bucket === 0L)
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_sampled"),
            sum(cents(col("value"))).as("sum_sampled"))
          .select(col("event_type"), col("n_sampled"),
            (col("n_sampled") * 8L).as("est_n"),
            (col("sum_sampled") * 8L).as("est_sum_cents"))
          .orderBy(col("event_type"))
      },
      Some("""WITH s AS (
             |  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS vc
             |  FROM events
             |  WHERE CAST(('0x' || substr(md5('rs:' || CAST(event_id AS VARCHAR)),
             |                             1, 15)) AS BIGINT) % 8 = 0)
             |SELECT event_type,
             |       count(*) AS n_sampled,
             |       count(*) * 8 AS est_n,
             |       CAST(sum(vc) * 8 AS BIGINT) AS est_sum_cents
             |FROM s GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // A51 — ES `bucket_count_ks_test`: two-sample Kolmogorov-Smirnov
    // between two value distributions (here each event_type's cents
    // distribution vs the 'view' baseline type). The D statistic is
    // computed EXACTLY: at every observed point, |ecdf₁ − ecdf₂| =
    // |c₁·N₂ − c₂·N₁| / (N₁·N₂) — the numerator stays BIGINT, one max,
    // one rounded divide at the end. The plan is one union scan → one
    // cumulative window per type-pair over the global value order → max
    // agg; at 100 TB the window partitions by pair and the sort is the
    // only heavy op (the same cost ES pays to build the ecdf).
    Q("a51_ks_test",
      (s, d) => {
        val ev = Tables(s, d, "events")
          .select(col("event_type"), cents(col("value")).as("vc"))
        val base = ev.filter(col("event_type") === "view")
          .select(col("vc")).withColumn("tag", lit(1L))
        val pairs = ev.filter(col("event_type") =!= "view")
          .select(col("event_type"), col("vc"), lit(0L).as("tag"))
        // replicate the baseline under every compared type: the baseline
        // frame is one column of longs — the replication is a broadcast
        // of a bounded dims list, not a corpus re-scan
        val types = pairs.select(col("event_type")).distinct()
        val tagged = pairs.unionByName(
          types.crossJoin(base).select(col("event_type"), col("vc"), col("tag")))
        // aggregate per DISTINCT value before the window: the ecdf is
        // evaluated at complete value groups (tie-safe — mid-tie rows
        // would inflate D and make the max order-dependent), and the
        // window then runs over the distinct-value stream, not raw rows
        val perV = tagged.groupBy(col("event_type"), col("vc"))
          .agg(sum(when(col("tag") === 0L, 1L).otherwise(0L)).as("d1"),
            sum(when(col("tag") === 1L, 1L).otherwise(0L)).as("d2"))
        val w = Window.partitionBy(col("event_type"))
          .orderBy(col("vc")).rowsBetween(Window.unboundedPreceding, 0)
        val cum = perV
          .withColumn("c1", sum(col("d1")).over(w))
          .withColumn("c2", sum(col("d2")).over(w))
        val nn = perV.groupBy(col("event_type"))
          .agg(sum(col("d1")).as("n1"), sum(col("d2")).as("n2"))
        cum.join(broadcast(nn), "event_type")
          .groupBy(col("event_type"))
          .agg(min(col("n1")).as("n1"), min(col("n2")).as("n2"),
            max(abs(col("c1") * col("n2") - col("c2") * col("n1")))
              .as("dnum"))
          .select(col("event_type"), col("n1"), col("n2"),
            round(col("dnum").cast("double")
              / (col("n1") * col("n2")).cast("double"), 6).as("ks_d"))
          .orderBy(col("event_type"))
      },
      Some("""WITH ev AS (SELECT event_type,
             |                   CAST(round(value * 100) AS BIGINT) AS vc
             |            FROM events),
             |base AS (SELECT vc FROM ev WHERE event_type = 'view'),
             |types AS (SELECT DISTINCT event_type FROM ev
             |          WHERE event_type <> 'view'),
             |tagged AS (
             |  SELECT event_type, vc, 0 AS tag FROM ev
             |  WHERE event_type <> 'view'
             |  UNION ALL
             |  SELECT t.event_type, b.vc, 1 AS tag
             |  FROM types t CROSS JOIN base b),
             |perv AS (SELECT event_type, vc,
             |                sum(CASE WHEN tag = 0 THEN 1 ELSE 0 END) AS d1,
             |                sum(CASE WHEN tag = 1 THEN 1 ELSE 0 END) AS d2
             |         FROM tagged GROUP BY 1, 2),
             |cum AS (SELECT event_type,
             |               sum(d1) OVER (PARTITION BY event_type ORDER BY vc
             |                       ROWS UNBOUNDED PRECEDING) AS c1,
             |               sum(d2) OVER (PARTITION BY event_type ORDER BY vc
             |                       ROWS UNBOUNDED PRECEDING) AS c2
             |        FROM perv),
             |nn AS (SELECT event_type,
             |              CAST(sum(d1) AS BIGINT) AS n1,
             |              CAST(sum(d2) AS BIGINT) AS n2
             |       FROM perv GROUP BY 1),
             |dn AS (SELECT cum.event_type,
             |              CAST(max(abs(cum.c1 * nn.n2 - cum.c2 * nn.n1))
             |                   AS BIGINT) AS dnum
             |       FROM cum JOIN nn ON cum.event_type = nn.event_type
             |       GROUP BY 1)
             |SELECT nn.event_type, nn.n1, nn.n2,
             |       round(CAST(dn.dnum AS DOUBLE)
             |         / CAST(nn.n1 * nn.n2 AS DOUBLE), 6) AS ks_d
             |FROM nn JOIN dn ON nn.event_type = dn.event_type
             |ORDER BY nn.event_type""".stripMargin)),

    // A52 — date_histogram with min_doc_count=0 + extended_bounds (ES
    // emits EMPTY buckets — the one histogram behavior a plain groupBy
    // can't produce). The dense day spine is generated from a 1-row
    // global bounds reduce (sequence + explode — no table scan), cross
    // joined with the bounded type dictionary, then the sparse counts
    // left-join in and coalesce to 0. At 100 TB: bounds reduce is a
    // 1-row broadcast, the spine is days × types (thousands of rows,
    // generated, never scanned), and the only corpus shuffle is the
    // same sparse groupBy a2 already pays.
    Q("a52_dense_histogram",
      (s, d) => {
        val ev = Tables(s, d, "events")
        val sparse = ev
          .groupBy(col("event_type"), to_date(col("ts")).as("day"))
          .agg(count(lit(1)).as("cnt"))
        val bounds = ev.agg(min(to_date(col("ts"))).as("lo"),
          max(to_date(col("ts"))).as("hi"))
        val spine = bounds
          .select(explode(expr("sequence(lo, hi, interval 1 day)")).as("day"))
        val types = ev.select(col("event_type")).distinct()
        types.crossJoin(spine)
          .join(sparse, Seq("event_type", "day"), "left")
          .select(col("event_type"), col("day"),
            coalesce(col("cnt"), lit(0L)).as("n"))
          .orderBy(col("event_type"), col("day"))
      },
      Some("""WITH b AS (SELECT min(CAST(ts AS DATE)) AS lo,
             |                  max(CAST(ts AS DATE)) AS hi
             |           FROM events),
             |spine AS (SELECT CAST(unnest(generate_series(lo, hi,
             |                   INTERVAL 1 DAY)) AS DATE) AS day
             |          FROM b),
             |types AS (SELECT DISTINCT event_type FROM events),
             |sparse AS (SELECT event_type, CAST(ts AS DATE) AS day,
             |                  count(*) AS cnt
             |           FROM events GROUP BY 1, 2)
             |SELECT t.event_type, s.day,
             |       COALESCE(sp.cnt, 0) AS n
             |FROM types t CROSS JOIN spine s
             |LEFT JOIN sparse sp ON sp.event_type = t.event_type
             |                   AND sp.day = s.day
             |ORDER BY t.event_type, s.day""".stripMargin)),

    // A53 — nested + reverse_nested aggs (the ES parent/child-document
    // pair). The corpus is first materialized in the NESTED shape — one
    // parent row per user carrying an array<struct> of its events (how
    // an ES index with a `nested` mapping physically stores it) — then
    // the nested agg explodes the array, filters nested docs (vc > 5000),
    // buckets by a nested field, and reverse_nested climbs back to count
    // PARENT documents per bucket. collect_list order is nondeterministic
    // but every downstream agg is order-insensitive, so the result is
    // exact. At 100 TB the one groupBy building the nested column is the
    // shape the data would already be stored in (doc-oriented parquet);
    // everything after is a map-side explode + one partial-agg shuffle,
    // and the distinct-parent count shuffles (bucket, user) pairs only.
    Q("a53_nested_reverse",
      (s, d) => {
        val nested = Tables(s, d, "events")
          .select(col("user_id"),
            struct(col("event_type"), cents(col("value")).as("vc")).as("e"))
          .groupBy(col("user_id"))
          .agg(collect_list(col("e")).as("events"))
        nested
          .select(col("user_id"), explode(col("events")).as("e"))
          .filter(col("e.vc") > 5000L)
          .groupBy(col("e.event_type").as("event_type"))
          .agg(count(lit(1)).as("nested_count"),
            countDistinct(col("user_id")).as("parent_count"),
            sum(col("e.vc")).as("sum_cents"))
          .orderBy(col("event_type"))
      },
      Some("""WITH v AS (SELECT user_id, event_type,
             |                  CAST(round(value * 100) AS BIGINT) AS vc
             |           FROM events)
             |SELECT event_type, count(*) AS nested_count,
             |       count(DISTINCT user_id) AS parent_count,
             |       CAST(sum(vc) AS BIGINT) AS sum_cents
             |FROM v WHERE vc > 5000
             |GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // A54 — moving_fn holt() (ES's double-exponential-smoothing model —
    // the last named moving_fn model after a24's ewma and a23/a48's
    // median/percentiles): per event_type, Holt's linear method over the
    // daily count series with α = β = 0.5, reporting the final (level,
    // trend) state and the 3-step forecast l + 3b. The fold is sequential
    // by definition, so the series is collected PER BUCKET (bounded by
    // the calendar — ~365 doubles/year per type — never by corpus rows;
    // the corpus-scale work is the same daily hash agg a2 pays) and
    // folded with an array<double> (level, trend) accumulator. α = 0.5
    // makes every multiply exact in binary FP; additions round
    // identically in both engines because the expression order is
    // identical — the DuckDB mirror runs the same recurrence as a
    // recursive CTE over the day index (list_reduce can't carry a
    // two-state accumulator), with l_t recomputed textually inside b_t
    // exactly as the Spark lambda does. Init: l₂ = y₂, b₂ = y₂ − y₁
    // (the standard two-point start); types with <2 days drop on both
    // sides.
    Q("a54_holt",
      (s, d) => Tables(s, d, "events")
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n"))
        .withColumn("enc", datediff(col("day"), to_date(lit("1970-01-01")))
          .cast("long") * lit(1000000000000L) + col("n"))
        .groupBy(col("event_type"))
        .agg(sort_array(collect_list(col("enc"))).as("win"),
          count(lit(1)).as("n_days"))
        .filter(size(col("win")) >= 2)
        .withColumn("st", expr(
          """aggregate(
            |  slice(transform(win, v -> CAST(v % 1000000000000 AS DOUBLE)),
            |        3, size(win) - 2),
            |  array(CAST(element_at(win, 2) % 1000000000000 AS DOUBLE),
            |        CAST(element_at(win, 2) % 1000000000000 AS DOUBLE)
            |          - CAST(element_at(win, 1) % 1000000000000 AS DOUBLE)),
            |  (acc, v) -> array(
            |    0.5D * v + 0.5D * (acc[0] + acc[1]),
            |    0.5D * ((0.5D * v + 0.5D * (acc[0] + acc[1])) - acc[0])
            |      + 0.5D * acc[1]))""".stripMargin))
        .select(col("event_type"), col("n_days"),
          round(col("st")(0), 6).as("level"),
          round(col("st")(1), 6).as("trend"),
          round(col("st")(0) + lit(3.0D) * col("st")(1), 6).as("forecast_3"))
        .orderBy(col("event_type")),
      Some("""WITH RECURSIVE
             |b AS (SELECT event_type, CAST(ts AS DATE) AS day,
             |             CAST(count(*) AS DOUBLE) AS y
             |      FROM events GROUP BY 1, 2),
             |i AS (SELECT event_type, y,
             |             row_number() OVER (PARTITION BY event_type
             |                                ORDER BY day) AS idx
             |      FROM b),
             |nd AS (SELECT event_type, count(*) AS n_days FROM i GROUP BY 1),
             |st(event_type, idx, l, t) AS (
             |  SELECT i2.event_type, CAST(2 AS BIGINT), i2.y, i2.y - i1.y
             |  FROM i i1 JOIN i i2 ON i1.event_type = i2.event_type
             |   AND i1.idx = 1 AND i2.idx = 2
             |  UNION ALL
             |  SELECT st.event_type, st.idx + 1,
             |         0.5 * i.y + 0.5 * (st.l + st.t),
             |         0.5 * ((0.5 * i.y + 0.5 * (st.l + st.t)) - st.l)
             |           + 0.5 * st.t
             |  FROM st JOIN i ON i.event_type = st.event_type
             |                AND i.idx = st.idx + 1)
             |SELECT st.event_type, nd.n_days,
             |       round(st.l, 6) AS level,
             |       round(st.t, 6) AS trend,
             |       round(st.l + 3.0 * st.t, 6) AS forecast_3
             |FROM st JOIN nd USING (event_type)
             |WHERE st.idx = nd.n_days
             |ORDER BY event_type""".stripMargin))
  )

  /** DuckDB mirror of the ordered view → click → purchase funnel shared by
    * a10_funnel and a11_funnel_rate: each stage's users with their first
    * qualifying timestamp strictly after the previous stage's (`v`, `c`,
    * `p`). */
  private val funnelSql: String =
    """v AS (
      |  SELECT user_id, min(ts) AS tv FROM events
      |  WHERE event_type = 'view' GROUP BY 1),
      |c AS (
      |  SELECT e.user_id, min(ts) AS tc FROM events e JOIN v USING (user_id)
      |  WHERE event_type = 'click' AND ts > tv GROUP BY 1),
      |p AS (
      |  SELECT e.user_id, min(ts) AS tp FROM events e JOIN c USING (user_id)
      |  WHERE event_type = 'purchase' AND ts > tc GROUP BY 1)""".stripMargin

  /** Shared oracle for both heavy-hitter formulations (they are required to
    * agree bit-for-bit — that is the MG containment guarantee under test).
    */
  private val hhOracle: String =
    """WITH u AS (SELECT unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS term
      |           FROM documents),
      |     n AS (SELECT count(*) AS n FROM u)
      |SELECT term, count(*) AS cnt
      |FROM u CROSS JOIN n
      |GROUP BY term, n.n
      |HAVING count(*) * 200 > n.n
      |ORDER BY cnt DESC, term""".stripMargin
}
