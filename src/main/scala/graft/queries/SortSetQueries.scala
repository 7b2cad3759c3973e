package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Sorts, limits, per-group top-k, set operations — SURVEY.md §2.7
  * (O1-O3, U1-U2). Global sort = range-partitioned SortExec; top-k =
  * TakeOrderedAndProject (no full sort materialized); per-group top-k =
  * ranking window, which at scale partitions by group instead of sorting
  * globally.
  */
object SortSetQueries extends QueryGroup {

  private def cents(c: Column): Column = round(c * 100).cast("long")

  /** The per-priority ranking window `r` shared by the o3 (window) and o4
    * (native top-k) oracles. */
  private val rankedOrdersSql: String =
    """r AS (
      |  SELECT o_orderpriority, o_orderkey,
      |         CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents,
      |         row_number() OVER (PARTITION BY o_orderpriority
      |                            ORDER BY CAST(round(o_totalprice * 100) AS BIGINT) DESC,
      |                                     o_orderkey) AS rn
      |  FROM orders)""".stripMargin

  def all: Seq[Q] = Seq(

    Q("o1_global_sort",
      (s, d) => Tables(s, d, "orders")
        .select(col("o_orderkey"), cents(col("o_totalprice")).as("price_cents"))
        .orderBy(col("price_cents").desc, col("o_orderkey")),
      Some("""SELECT o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
             |FROM orders ORDER BY price_cents DESC, o_orderkey""".stripMargin)),

    Q("o2_topk",
      (s, d) => Tables(s, d, "orders")
        .select(col("o_orderkey"), cents(col("o_totalprice")).as("price_cents"))
        .orderBy(col("price_cents").desc, col("o_orderkey"))
        .limit(10),
      Some("""SELECT o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
             |FROM orders ORDER BY price_cents DESC, o_orderkey LIMIT 10""".stripMargin)),

    Q("o3_topk_per_group",
      (s, d) => {
        val w = Window.partitionBy(col("o_orderpriority"))
          .orderBy(col("price_cents").desc, col("o_orderkey"))
        Tables(s, d, "orders")
          .select(col("o_orderpriority"), col("o_orderkey"),
            cents(col("o_totalprice")).as("price_cents"))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 3)
          .orderBy(col("o_orderpriority"), col("rn"))
      },
      Some(s"""WITH $rankedOrdersSql
             |SELECT o_orderpriority, o_orderkey, price_cents, rn
             |FROM r WHERE rn <= 3 ORDER BY o_orderpriority, rn""".stripMargin)),

    // O3 native variant — the custom TopKPerGroup physical operator
    // (graft/plans/TopKPerGroup.scala): map-side k-bounded heaps prune each
    // input partition to ≤k rows per group BEFORE the shuffle, vs the window
    // form above which shuffles and fully sorts every group. Same rows as
    // o3 minus the rank column; ordering made total by the o_orderkey
    // tiebreaker. Oracle = the identical ranking-window SQL.
    Q("o4_topk_native",
      (s, d) => {
        val base = Tables(s, d, "orders")
          .select(col("o_orderpriority"), col("o_orderkey"),
            cents(col("o_totalprice")).as("price_cents"))
        graft.operators.TopK.perGroup(base, 3,
            group = Seq(col("o_orderpriority")),
            order = Seq(col("price_cents").desc, col("o_orderkey")))
          .orderBy(col("o_orderpriority"), col("price_cents").desc,
            col("o_orderkey"))
      },
      Some(s"""WITH $rankedOrdersSql
             |SELECT o_orderpriority, o_orderkey, price_cents
             |FROM r WHERE rn <= 3
             |ORDER BY o_orderpriority, price_cents DESC, o_orderkey""".stripMargin)),

    Q("u1_union_all",
      (s, d) => Tables(s, d, "customer")
        .select(lit("cust").as("src"), col("c_custkey").as("key"))
        .unionByName(
          Tables(s, d, "supplier").select(lit("supp").as("src"), col("s_suppkey").as("key")))
        .orderBy(col("src"), col("key")),
      Some("""SELECT 'cust' AS src, c_custkey AS key FROM customer
             |UNION ALL
             |SELECT 'supp' AS src, s_suppkey AS key FROM supplier
             |ORDER BY src, key""".stripMargin)),

    Q("u1_union_distinct",
      (s, d) => Tables(s, d, "orders").select(col("o_custkey").as("key"))
        .union(Tables(s, d, "customer").select(col("c_custkey")))
        .distinct()
        .orderBy(col("key")),
      Some("""SELECT o_custkey AS key FROM orders
             |UNION
             |SELECT c_custkey FROM customer
             |ORDER BY key""".stripMargin)),

    Q("u2_intersect",
      (s, d) => Tables(s, d, "customer").select(col("c_custkey").as("key"))
        .intersect(Tables(s, d, "orders").select(col("o_custkey")))
        .orderBy(col("key")),
      Some("""SELECT c_custkey AS key FROM customer
             |INTERSECT
             |SELECT o_custkey FROM orders
             |ORDER BY key""".stripMargin)),

    // Subtract only the RECENT orders' customer keys: against all orders the
    // result is empty (every fixture customer has some order), which made
    // this oracle evidence-free — an always-empty EXCEPT would hash-match
    // (r17 verdict #1). The cutoff leaves 27/255 surviving keys at
    // sf0.001/sf0.01, so both the keep and the subtract paths are exercised.
    Q("u2_except",
      (s, d) => Tables(s, d, "customer").select(col("c_custkey").as("key"))
        .except(Tables(s, d, "orders")
          .filter(col("o_orderdate") >= lit("2000-06-01").cast("timestamp"))
          .select(col("o_custkey")))
        .orderBy(col("key")),
      Some("""SELECT c_custkey AS key FROM customer
             |EXCEPT
             |SELECT o_custkey FROM orders
             |WHERE o_orderdate >= TIMESTAMP '2000-06-01 00:00:00'
             |ORDER BY key""".stripMargin)),

    // Multiset semantics: lineitem has ~4 rows per orderkey, orders 1 — the
    // leftover multiset is deterministic once sorted.
    Q("u2_except_all",
      (s, d) => Tables(s, d, "lineitem").select(col("l_orderkey").as("key"))
        .exceptAll(Tables(s, d, "orders").select(col("o_orderkey")))
        .orderBy(col("key")),
      Some("""SELECT l_orderkey AS key FROM lineitem
             |EXCEPT ALL
             |SELECT o_orderkey FROM orders
             |ORDER BY key""".stripMargin)),

    Q("u2_intersect_all",
      (s, d) => Tables(s, d, "lineitem").select(col("l_orderkey").as("key"))
        .intersectAll(Tables(s, d, "orders").select(col("o_orderkey")))
        .orderBy(col("key")),
      Some("""SELECT l_orderkey AS key FROM lineitem
             |INTERSECT ALL
             |SELECT o_orderkey FROM orders
             |ORDER BY key""".stripMargin))
  )
}
