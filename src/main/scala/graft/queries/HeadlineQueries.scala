package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.Tables

/** Headline relational queries: TPC-H-shaped multi-operator plans over the
  * star schema (the "whole engine in one plan" tier), plus pivot, grouping
  * sets and percentiles. These are the queries whose shape must survive a
  * 100× scale-up: partial aggregation before shuffle, broadcast dims,
  * AQE-planned fact joins.
  */
object HeadlineQueries extends QueryGroup {

  private def cents(c: Column): Column = round(c * 100).cast("long")

  def all: Seq[Q] = Seq(

    // TPC-H Q1 shape: scan-heavy pricing summary — partial aggregates do
    // almost all the work map-side; the shuffle carries 4 groups.
    Q("h1_pricing_summary",
      (s, d) => Tables(s, d, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .select(col("l_returnflag"), col("l_linestatus"),
          cents(col("l_quantity")).as("qc"),
          cents(col("l_extendedprice")).as("pc"),
          cents(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("dpc"),
          cents(col("l_extendedprice") * (lit(1.0) - col("l_discount"))
            * (lit(1.0) + col("l_tax"))).as("cc"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("qc")).as("sum_qty_cents"),
          sum(col("pc")).as("sum_base_price_cents"),
          sum(col("dpc")).as("sum_disc_price_cents"),
          sum(col("cc")).as("sum_charge_cents"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus")),
      Some("""SELECT l_returnflag, l_linestatus,
             |       CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) AS sum_qty_cents,
             |       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_base_price_cents,
             |       CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS sum_disc_price_cents,
             |       CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax) * 100) AS BIGINT)) AS BIGINT) AS sum_charge_cents,
             |       count(*) AS count_order
             |FROM lineitem
             |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
             |GROUP BY l_returnflag, l_linestatus
             |ORDER BY l_returnflag, l_linestatus""".stripMargin)),

    // TPC-H Q3 shape: 3-way join (broadcast dim + fact-fact) → agg → top-k.
    Q("h3_shipping_priority",
      (s, d) => Tables(s, d, "customer")
        .filter(col("c_mktsegment") === "BUILDING")
        .join(Tables(s, d, "orders"), col("c_custkey") === col("o_custkey"))
        .join(Tables(s, d, "lineitem"), col("o_orderkey") === col("l_orderkey"))
        .filter(col("l_shipdate") > col("o_orderdate"))
        .groupBy(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
        .agg(sum(cents(col("l_extendedprice") * (lit(1.0) - col("l_discount"))))
          .as("revenue_cents"))
        .orderBy(col("revenue_cents").desc, col("o_orderkey"))
        .limit(20),
      Some("""SELECT o_orderkey, o_orderdate, o_orderpriority,
             |       CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
             |FROM customer
             |JOIN orders ON c_custkey = o_custkey
             |JOIN lineitem ON o_orderkey = l_orderkey
             |WHERE c_mktsegment = 'BUILDING' AND l_shipdate > o_orderdate
             |GROUP BY o_orderkey, o_orderdate, o_orderpriority
             |ORDER BY revenue_cents DESC, o_orderkey LIMIT 20""".stripMargin)),

    // Pivot: event counts per user pivoted to one column per event type.
    // Spark PivotExec vs. oracle conditional aggregation — same semantics.
    Q("h4_pivot",
      (s, d) => Tables(s, d, "events")
        .groupBy(col("user_id"))
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .orderBy(col("user_id")),
      Some("""SELECT user_id,
             |       count(*) FILTER (WHERE event_type = 'click') AS click,
             |       count(*) FILTER (WHERE event_type = 'error') AS error,
             |       count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
             |       count(*) FILTER (WHERE event_type = 'signup') AS signup,
             |       count(*) FILTER (WHERE event_type = 'view') AS view
             |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin)),

    // H14 — UNPIVOT (melt): the inverse of h4's pivot, via the native
    // Dataset.unpivot operator (Spark's UNPIVOT SQL surface). The round
    // trip pivot → unpivot → drop-zeros must land exactly back on the
    // long-form groupBy — that identity IS the oracle (DuckDB computes
    // the long form directly). Unpivot is a zero-shuffle rewrite (each
    // wide row explodes map-side into ≤5 long rows), so the only
    // exchanges are h4's own pivot agg.
    Q("h14_unpivot",
      (s, d) => {
        val types = Seq("click", "error", "purchase", "signup", "view")
        val wide = Tables(s, d, "events")
          .groupBy(col("user_id"))
          .pivot("event_type", types)
          .agg(count(lit(1)))
          .na.fill(0L)
        wide.unpivot(
            Array(col("user_id")),
            types.map(col).toArray,
            "event_type", "n")
          .filter(col("n") > 0L)
          .orderBy(col("user_id"), col("event_type"))
      },
      Some("""SELECT user_id, event_type, count(*) AS n
             |FROM events GROUP BY 1, 2
             |ORDER BY user_id, event_type""".stripMargin)),

    // Explicit GROUPING SETS (beyond rollup/cube) via the SQL surface.
    Q("h5_grouping_sets",
      (s, d) => {
        Tables(s, d, "orders").createOrReplaceTempView("orders_gs")
        s.sql("""SELECT o_orderstatus, o_orderpriority, count(*) AS n
                |FROM orders_gs
                |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
                |ORDER BY o_orderstatus ASC NULLS FIRST,
                |         o_orderpriority ASC NULLS FIRST""".stripMargin)
      },
      Some("""SELECT o_orderstatus, o_orderpriority, count(*) AS n
             |FROM orders
             |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
             |ORDER BY o_orderstatus ASC NULLS FIRST,
             |         o_orderpriority ASC NULLS FIRST""".stripMargin)),

    // Exact percentiles (interpolated) from integer cents — both engines
    // sort exactly and interpolate the same rationals.
    Q("h6_percentiles",
      (s, d) => Tables(s, d, "orders")
        .select(col("o_orderpriority"), cents(col("o_totalprice")).as("tc"))
        .groupBy(col("o_orderpriority"))
        .agg(
          round(expr("percentile(tc, 0.5)") / 100.0, 6).as("median"),
          round(expr("percentile(tc, 0.9)") / 100.0, 6).as("p90"))
        .orderBy(col("o_orderpriority")),
      Some("""WITH c AS (SELECT o_orderpriority,
             |                  CAST(round(o_totalprice * 100) AS BIGINT) AS tc
             |           FROM orders)
             |SELECT o_orderpriority,
             |       round(quantile_cont(tc, 0.5) / 100.0, 6) AS median,
             |       round(quantile_cont(tc, 0.9) / 100.0, 6) AS p90
             |FROM c GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),

    // The ENGINE percentile path: approx_percentile (Greenwald-Khanna
    // QuantileSummaries sketch). Unlike exact `percentile` — which buffers
    // every value of a group on one executor and OOMs on a hot group at
    // 100 TB — the GK summary keeps bounded per-group state (O(1/accuracy))
    // and merges map-side partials, so no group can exhaust an executor.
    // Rows-only by design (sketch results aren't DuckDB-mirrorable); the
    // error bound vs the exact h6 oracle row is asserted in EngineSpec
    // ("approx_percentile within rank tolerance of exact"), mirroring the
    // a3_cardinality / a3_approx_cardinality exact-for-oracle /
    // approximate-for-scale pattern.
    Q("h6_percentiles_approx",
      (s, d) => Tables(s, d, "orders")
        .select(col("o_orderpriority"), cents(col("o_totalprice")).as("tc"))
        .groupBy(col("o_orderpriority"))
        .agg(expr("approx_percentile(tc, array(0.5, 0.9), 10000)").as("pcts"))
        .select(col("o_orderpriority"),
          round(element_at(col("pcts"), 1) / 100.0, 6).as("median"),
          round(element_at(col("pcts"), 2) / 100.0, 6).as("p90"))
        .orderBy(col("o_orderpriority")),
      None),

    // Sorted-array aggregation (deterministic collect): distinct sources per
    // lang as an ordered list, serialized to a CSV string so the driver's
    // pandas compare can hash the row (ndarray cells are unhashable).
    Q("h7_collect_sorted",
      (s, d) => Tables(s, d, "documents")
        .groupBy(col("lang"))
        .agg(array_join(sort_array(collect_set(col("source"))), ",").as("sources"))
        .orderBy(col("lang")),
      Some("""SELECT lang,
             |       list_aggr(list_sort(list(DISTINCT source)), 'string_agg', ',') AS sources
             |FROM documents GROUP BY lang ORDER BY lang""".stripMargin)),

    // BM25 ranking (k1=1.2, b=0.75) — the ES relevance model the TF-IDF
    // query approximates; all inputs exact integers, one shared double
    // formula.
    Q("h8_bm25",
      (s, d) => {
        val toks = graft.functions.TextFunctions.postings(
          Tables(s, d, "documents"), col("doc_id"), col("text"))
        val tf = toks.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
        val dl = toks.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
        val df = toks.groupBy(col("term")).agg(countDistinct(col("doc_id")).as("df"))
        val stats = Tables(s, d, "documents")
          .agg(count(lit(1)).as("n"))
          .crossJoin(dl.agg(sum(col("dl")).as("total_dl")))
        val idf = df.crossJoin(broadcast(stats))
          .select(col("term"), col("n"), col("total_dl"), col("df"),
            graft.functions.TextFunctions.bm25Idf(col("n"), col("df")).as("idf"))
        tf.join(dl, "doc_id").join(idf, "term")
          .select(col("doc_id"), col("term"),
            round(graft.functions.TextFunctions.bm25TermScore(
              col("idf"), col("tf"), col("dl"), col("n"), col("total_dl")), 6).as("bm25"))
          .filter(col("term") === "merge")
          .orderBy(col("bm25").desc, col("doc_id"))
          .limit(20)
      },
      Some("""WITH tok AS (SELECT doc_id, unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS term
             |            FROM documents),
             |     tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
             |     dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY 1),
             |     df AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok GROUP BY 1),
             |     st AS (SELECT (SELECT count(*) FROM documents) AS n,
             |                   (SELECT sum(dl) FROM dl) AS total_dl),
             |     idf AS (SELECT term, n, total_dl, df,
             |                    ln((n - df + 0.5) / (df + 0.5) + 1.0) AS idf
             |             FROM df CROSS JOIN st)
             |SELECT tf.doc_id, tf.term,
             |       round(idf * (tf * 2.2) /
             |             (tf + 1.2 * (0.25 + 0.75 *
             |              (dl * CAST(n AS DOUBLE) / total_dl))), 6) AS bm25
             |FROM tf JOIN dl USING (doc_id) JOIN idf USING (term)
             |WHERE term = 'merge'
             |ORDER BY bm25 DESC, doc_id LIMIT 20""".stripMargin)),

    // Correlated SCALAR subquery through the SQL surface: items priced at
    // their order's minimum. Catalyst decorrelates the per-row subquery
    // into an aggregate + join — the rewrite that keeps this shape viable
    // at 100 TB (a naive per-row execution would be O(n) scans).
    Q("h9_correlated_min",
      (s, d) => {
        Tables(s, d, "lineitem").createOrReplaceTempView("lineitem_h9")
        s.sql("""SELECT l_orderkey, l_linenumber,
                |       CAST(round(l_extendedprice * 100) AS BIGINT) AS price_cents
                |FROM lineitem_h9 l1
                |WHERE l_extendedprice = (SELECT min(l_extendedprice)
                |                         FROM lineitem_h9 l2
                |                         WHERE l2.l_orderkey = l1.l_orderkey)
                |ORDER BY l_orderkey, l_linenumber""".stripMargin)
      },
      Some("""SELECT l_orderkey, l_linenumber,
             |       CAST(round(l_extendedprice * 100) AS BIGINT) AS price_cents
             |FROM lineitem l1
             |WHERE l_extendedprice = (SELECT min(l_extendedprice)
             |                         FROM lineitem l2
             |                         WHERE l2.l_orderkey = l1.l_orderkey)
             |ORDER BY l_orderkey, l_linenumber""".stripMargin)),

    // Correlated EXISTS (the TPC-H Q4 shape on this schema): orders with at
    // least one item shipped >60 days after the order date. Decorrelates to
    // a left-semi join — EXISTS never multiplies rows, so the count is per
    // order regardless of how many items qualify.
    Q("h10_exists_late",
      (s, d) => {
        Tables(s, d, "orders").createOrReplaceTempView("orders_h10")
        Tables(s, d, "lineitem").createOrReplaceTempView("lineitem_h10")
        s.sql("""SELECT o_orderpriority, count(*) AS n_late_orders
                |FROM orders_h10
                |WHERE EXISTS (SELECT 1 FROM lineitem_h10
                |              WHERE l_orderkey = o_orderkey
                |                AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
                |GROUP BY o_orderpriority
                |ORDER BY o_orderpriority""".stripMargin)
      },
      Some("""SELECT o_orderpriority, count(*) AS n_late_orders
             |FROM orders
             |WHERE EXISTS (SELECT 1 FROM lineitem
             |              WHERE l_orderkey = o_orderkey
             |                AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
             |GROUP BY o_orderpriority
             |ORDER BY o_orderpriority""".stripMargin)),

    // TPC-H Q8 shape: market share — fact⋈fact⋈broadcast-dim, aggregate,
    // then a share-of-total window over the aggregate (25 nations × years,
    // so the window runs on a tiny frame; all the volume died in the
    // partial agg). Revenue in exact cents; one double divide, round 6.
    Q("h11_market_share",
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window.partitionBy(col("yr"))
        Tables(s, d, "orders")
          .join(Tables(s, d, "customer")
            .select(col("c_custkey"), col("c_nationkey")),
            col("o_custkey") === col("c_custkey"))
          .join(broadcast(Tables(s, d, "nation")
            .select(col("n_nationkey"), col("n_name"))),
            col("c_nationkey") === col("n_nationkey"))
          .groupBy(year(col("o_orderdate")).as("yr"), col("n_name"))
          .agg(sum(cents(col("o_totalprice"))).as("rev_cents"))
          .withColumn("share",
            round(col("rev_cents").cast("double")
              / sum(col("rev_cents")).over(w), 6))
          .orderBy(col("yr"), col("n_name"))
      },
      Some("""WITH r AS (
             |  SELECT year(o_orderdate) AS yr, n_name,
             |         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rev_cents
             |  FROM orders
             |  JOIN customer ON o_custkey = c_custkey
             |  JOIN nation ON c_nationkey = n_nationkey
             |  GROUP BY 1, 2)
             |SELECT yr, n_name, rev_cents,
             |       round(CAST(rev_cents AS DOUBLE)
             |             / sum(rev_cents) OVER (PARTITION BY yr), 6) AS share
             |FROM r ORDER BY yr, n_name""".stripMargin)),

    // TPC-H Q18 shape (large-volume customers): aggregate the big fact,
    // HAVING-filter to a small key set, then join BACK through orders to
    // customer. The agg-then-semi-join-back pattern is the scale shape —
    // the big-order key set is what flows into the joins, never raw
    // lineitem; AQE turns both remaining joins into broadcasts.
    Q("h12_big_spenders",
      (s, d) => {
        val big = Tables(s, d, "lineitem")
          .groupBy(col("l_orderkey"))
          .agg(sum(cents(col("l_quantity"))).as("sum_qty_cents"))
          .filter(col("sum_qty_cents") > 250 * 100)
        Tables(s, d, "orders")
          .join(big, col("o_orderkey") === col("l_orderkey"))
          .join(Tables(s, d, "customer"), col("o_custkey") === col("c_custkey"))
          .select(col("c_name"), col("o_orderkey"), col("o_orderdate"),
            cents(col("o_totalprice")).as("total_cents"), col("sum_qty_cents"))
          .orderBy(col("sum_qty_cents").desc, col("o_orderkey"))
          .limit(100)
      },
      Some("""WITH big AS (
             |  SELECT l_orderkey,
             |         CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT)
             |           AS sum_qty_cents
             |  FROM lineitem GROUP BY 1
             |  HAVING sum_qty_cents > 25000)
             |SELECT c_name, o_orderkey, o_orderdate,
             |       CAST(round(o_totalprice * 100) AS BIGINT) AS total_cents,
             |       sum_qty_cents
             |FROM orders
             |JOIN big ON o_orderkey = l_orderkey
             |JOIN customer ON o_custkey = c_custkey
             |ORDER BY sum_qty_cents DESC, o_orderkey LIMIT 100""".stripMargin)),

    // Equi-width numeric histogram: integer bin = floor(price / 5000),
    // count + exact-cents mass per bin — the profiling scan every column
    // gets before a pipeline decision. One map-side projection + one tiny
    // agg; empty bins are absent by construction on both engines.
    Q("h13_histogram",
      (s, d) => Tables(s, d, "lineitem")
        .select(floor(col("l_extendedprice") / 5000).cast("long").as("bin"),
          cents(col("l_extendedprice")).as("pc"))
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n"), sum(col("pc")).as("sum_cents"))
        .orderBy(col("bin")),
      Some("""SELECT CAST(floor(l_extendedprice / 5000) AS BIGINT) AS bin,
             |       count(*) AS n,
             |       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
             |         AS sum_cents
             |FROM lineitem GROUP BY 1 ORDER BY bin""".stripMargin))
  )
}
