package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Ascending, SortOrder}
import org.apache.spark.sql.graftshim.GraftShim

import graft.plans.{TopKPerGroup, TopKStrategy}

/** DataFrame-level entry to the native per-group top-k operator
  * ([[graft.plans.TopKPerGroup]]). See the logical node's Scaladoc for the
  * scale rationale vs the ranking-window composition.
  *
  * Ordering must be made total by the caller (append a unique key column),
  * exactly like every oracle-paired query — with ties left unbroken the
  * retained k is arbitrary-but-valid, which is fine for sampling but not
  * for a differential gate.
  */
object TopK {

  /** Idempotently register the planner strategy on a session we did not
    * build (the driver's, the tests'). Cluster deployments instead set
    * `spark.sql.extensions=graft.plans.GraftExtensions` at session build.
    */
  def ensureRegistered(spark: SparkSession): Unit = {
    val exp = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].experimental
    exp.synchronized {
      if (!exp.extraStrategies.contains(TopKStrategy)) {
        exp.extraStrategies = TopKStrategy +: exp.extraStrategies
      }
    }
  }

  /** First `k` rows per `group` under `order`. Plain (non-SortOrder)
    * order columns default to ascending, mirroring `orderBy`.
    */
  def perGroup(df: DataFrame, k: Int, group: Seq[Column], order: Seq[Column]): DataFrame = {
    val spark = df.sparkSession
    ensureRegistered(spark)
    val sortOrders = order.map(GraftShim.expression).map {
      case so: SortOrder => so
      case e => SortOrder(e, Ascending)
    }
    GraftShim.ofRows(spark,
      TopKPerGroup(group.map(GraftShim.expression), sortOrders, k,
        df.queryExecution.logical))
  }
}
