package graft

import org.apache.spark.sql.SparkSession

/** SQL facade: register every fixture table as a temp view and every graft
  * kernel under its SQL name ([[graft.functions.NativeFunctions.sql]]), so
  * end users can drive the whole engine through `spark.sql(...)` — the same
  * surface the oracle queries document. This is the only place the kernels
  * enter a function registry; the DataFrame API builds them as typed
  * Columns and works on any session without it.
  */
object GraftCatalog {
  def registerAll(spark: SparkSession, dir: String): Unit = {
    val registry = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
    graft.functions.NativeFunctions.sql.foreach { case (name, builder) =>
      registry.createOrReplaceTempFunction(name, builder, "built-in")
    }
    Tables.names.foreach { n =>
      Tables(spark, dir, n).createOrReplaceTempView(n)
    }
  }
}
