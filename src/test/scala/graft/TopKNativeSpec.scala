package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.GraftShim

import graft.operators.TopK
import graft.plans.{GraftExtensions, TopKPerGroupExec, TopKStrategy}

/** Native per-group top-k (graft/plans/TopKPerGroup.scala) — the tier-(c)
  * custom operator: logical node + strategy + partial/final physical exec.
  * Correctness is pinned to the ranking-window composition (the same
  * reference the o3/o4 oracle uses); plan shape asserts the scale claim —
  * map-side prune before the exchange, no window, no full group sort.
  */
class TopKNativeSpec extends SparkSuite {

  private def orders = Tables(spark, sf, "orders")
    .select(col("o_orderpriority"), col("o_orderkey"),
      round(col("o_totalprice") * 100).cast("long").as("price_cents"))

  private def windowTopK(k: Int) = {
    val w = Window.partitionBy(col("o_orderpriority"))
      .orderBy(col("price_cents").desc, col("o_orderkey"))
    orders.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k).drop("rn")
  }

  private def nativeTopK(k: Int) = TopK.perGroup(orders, k,
    group = Seq(col("o_orderpriority")),
    order = Seq(col("price_cents").desc, col("o_orderkey")))

  test("native top-k matches the ranking-window composition row-for-row") {
    for (k <- Seq(1, 3, 10)) {
      val exp = windowTopK(k).collect().map(_.toSeq).toSet
      val got = nativeTopK(k).collect().map(_.toSeq).toSet
      assert(got === exp, s"k=$k")
    }
  }

  test("k larger than every group returns all rows") {
    val total = orders.count()
    assert(nativeTopK(1000000).count() === total)
  }

  test("rows within each group are emitted in sort order") {
    val rows = nativeTopK(3)
      .select(col("o_orderpriority"), col("price_cents"), col("o_orderkey"))
      .collect()
    rows.groupBy(_.getString(0)).foreach { case (_, grp) =>
      val asSeen = grp.map(r => (r.getLong(1), r.getLong(2))).toSeq
      val sorted = asSeen.sortBy { case (p, key) => (-p, key) }
      assert(asSeen === sorted)
    }
  }

  test("null order values follow SortOrder null placement (desc => nulls last)") {
    import spark.implicits._
    val df = Seq(("a", Some(5L), 1L), ("a", None, 2L), ("a", Some(9L), 3L),
      ("b", None, 4L), ("b", None, 5L)).toDF("g", "v", "id")
    val got = TopK.perGroup(df, 2, Seq(col("g")), Seq(col("v").desc, col("id")))
      .collect().map(r => (r.getString(0), Option(r.get(1)), r.getLong(2))).toSet
    // a: 9, 5 (null evicted last); b: only nulls left, keep both by id order
    assert(got === Set(("a", Some(9L), 3L), ("a", Some(5L), 1L),
      ("b", None, 4L), ("b", None, 5L)))
  }

  test("plan: partial and final phases with one exchange between, no window/sort") {
    val df = nativeTopK(3)
    df.collect()
    val plan = finalPlan(df).toString
    assert(plan.contains("TopKPerGroup(partial)"), plan)
    assert(plan.contains("TopKPerGroup(final)"), plan)
    assert(!plan.contains("Window"), "native path must not fall back to a window")
    assert(!plan.contains("Sort"), "native path must not sort group contents")
    // the final phase's ClusteredDistribution forced exactly one exchange
    assert("Exchange hashpartitioning".r.findAllIn(plan).size === 1, plan)
    // column pruning still reaches the scan through the custom node
    assert(plan.contains("ReadSchema: struct<o_orderkey:bigint,o_totalprice:double,o_orderpriority:string>"), plan)
  }

  test("map-side prune: exactly one partial and one final instance planned") {
    // 4 input partitions, 5 groups, k=3 → the exchange moves ≤ 4*5*3 = 60
    // candidate rows however large the input is.
    val execs = collectExecs(nativeTopK(3))
    assert(execs.count(_.partial) === 1)
    assert(execs.count(!_.partial) === 1)
  }

  /** Runtime plan with the AQE wrapper unwrapped (its children are hidden
    * from `collect`/`toString` behind `executedPlan`).
    */
  private def finalPlan(df: org.apache.spark.sql.DataFrame) =
    df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }

  private def collectExecs(df: org.apache.spark.sql.DataFrame): Seq[TopKPerGroupExec] = {
    df.collect()
    def walk(p: org.apache.spark.sql.execution.SparkPlan): Seq[TopKPerGroupExec] =
      p.collect {
        case e: TopKPerGroupExec => Seq(e)
        // materialized stages are leaves hiding their subplan
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => walk(q.plan)
      }.flatten
    walk(finalPlan(df))
  }

  test("SparkSessionExtensions route injects the same strategy") {
    val ext = new SparkSessionExtensions
    new GraftExtensions().apply(ext)
    val strategies = GraftShim.plannerStrategies(ext, spark)
    assert(strategies.contains(TopKStrategy))
  }

  test("invalid arguments are rejected at construction") {
    intercept[IllegalArgumentException] {
      TopK.perGroup(orders, 0, Seq(col("o_orderpriority")), Seq(col("o_orderkey")))
    }
    intercept[IllegalArgumentException] {
      TopK.perGroup(orders, 3, Seq.empty, Seq(col("o_orderkey")))
    }
  }
}
