package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.types.{LongType, TimestampNTZType}

/** Fixture-table loader (see TESTDATA.md). One parquet file per table under
  * `$dir/`. All query entry points take `(spark, dir)` so the driver can point
  * them at any scale factor.
  *
  * `events.ts` has shipped in two physical forms across driver fixture
  * generations: nanosecond parquet (TIMESTAMP(NANOS)), which Spark 4
  * rejects outright by default — read as raw nanos
  * (`legacy.parquet.nanosAsLong`) and truncated to a microsecond timestamp,
  * exactly what DuckDB does on read (SURVEY §7.4(3)) — and plain
  * microsecond TIMESTAMP_NTZ, which Spark's NTZ inference surfaces as a
  * type the time functions (`unix_micros` etc.) reject. Both are
  * normalized here to a session-zone TIMESTAMP; every entry point runs
  * with session tz UTC, so the NTZ wall-clock maps to the identical
  * instant DuckDB's naive TIMESTAMP sees.
  *
  * SESSION-WIDE CONF PINS (ADVICE r12): every `Tables()` call sets
  * `legacy.parquet.nanosAsLong=true` and
  * `parquet.inferTimestampNTZ.enabled=false` for the WHOLE session —
  * neither is available as a per-read DataFrameReader option in Spark
  * 4.1.2 (ParquetOptions only scopes datetimeRebase modes), so any other
  * reader sharing the session inherits them, exactly like the UTC
  * session-tz requirement above. A co-hosted reader that needs NTZ
  * inference or rejects nano parquet must use its own SparkSession.
  *
  * Those two pins are the only session state a read touches: the native
  * kernels are typed Columns that need no function registry, and their SQL
  * names are registered by [[GraftCatalog.registerAll]], not here.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // Read naive (isAdjustedToUTC=false) µs timestamps directly as
    // session-zone TIMESTAMP instead of TIMESTAMP_NTZ: with UTC pinned the
    // micros are identical, and it avoids a per-row NTZ→LTZ cast projection
    // on every events read (measured ~2× on the events query family when
    // the r12 fixtures switched from nanos to naive-µs encoding).
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    val df = spark.read.parquet(s"$dir/$name.parquet")
    if (df.schema.fields.exists(f => f.name == "ts" && f.dataType == LongType))
      df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
    else if (df.schema.fields.exists(f =>
        f.name == "ts" && f.dataType == TimestampNTZType))
      df.withColumn("ts", expr("cast(ts as timestamp)"))
    else df
  }
}
