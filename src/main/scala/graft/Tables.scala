package graft

import java.io.FileNotFoundException
import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType}

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
  * SESSION-WIDE CONF PINS (ADVICE r12): every read needs
  * `legacy.parquet.nanosAsLong=true` and
  * `parquet.inferTimestampNTZ.enabled=false` on the WHOLE session —
  * neither is available as a per-read DataFrameReader option in Spark
  * 4.1.2 (ParquetOptions only scopes datetimeRebase modes), so any other
  * reader sharing the session inherits them, exactly like the UTC
  * session-tz requirement above. A co-hosted reader that needs NTZ
  * inference or rejects nano parquet must use its own SparkSession. The
  * first `Tables()` call on a session installs the pins; every later call
  * reads both back and sets only one that something else has flipped.
  *
  * ONE SCHEMA PER FILE PER SESSION: the first read of a file infers its
  * schema with Spark's own `spark.read.parquet`, which starts a Spark job
  * to read the footers. The raw schema (before the `ts` normalization) is
  * kept per session, keyed by the file's qualified path, length and
  * modification time; a later read checks that key with one driver-side
  * `getFileStatus` and hands the schema to `spark.read.schema`, so it
  * starts no job. A file rewritten in place gets a new key and is inferred
  * again. The cache holds `StructType`s only, never data, and its sessions
  * are weak keys: a session with other parquet-conversion confs never sees
  * a schema inferred under different settings, and an unreachable
  * session's entries go with it.
  *
  * Those pins and schemas are the only session state a read touches: the
  * native kernels are typed Columns that need no function registry, and
  * their SQL names are registered by [[GraftCatalog.registerAll]], not here.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  private val Pins = Seq(
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    // Read naive (isAdjustedToUTC=false) µs timestamps directly as
    // session-zone TIMESTAMP instead of TIMESTAMP_NTZ: with UTC pinned the
    // micros are identical, and it avoids a per-row NTZ→LTZ cast projection
    // on every events read (measured ~2× on the events query family when
    // the r12 fixtures switched from nanos to naive-µs encoding).
    "spark.sql.parquet.inferTimestampNTZ.enabled" -> "false")

  /** A file's inferred schema with the length and mtime it was read at. */
  private final case class Known(length: Long, mtime: Long, schema: StructType)

  /** Per session: qualified file path -> the schema of its last version read. */
  private val schemas = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, ConcurrentHashMap[String, Known]]())

  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    pin(spark)
    val df = read(spark, s"$dir/$name.parquet")
    if (df.schema.fields.exists(f => f.name == "ts" && f.dataType == LongType))
      df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
    else if (df.schema.fields.exists(f =>
        f.name == "ts" && f.dataType == TimestampNTZType))
      df.withColumn("ts", expr("cast(ts as timestamp)"))
    else df
  }

  private def pin(spark: SparkSession): Unit = Pins.foreach { case (k, v) =>
    if (!spark.conf.getOption(k).contains(v)) spark.conf.set(k, v)
  }

  /** `spark.read.parquet(path)`, with the schema inferred once per file
    * version per session. A missing path takes the plain read, so Spark
    * raises its own error.
    */
  private def read(spark: SparkSession, path: String): DataFrame = {
    val p = new Path(path)
    val status: Option[FileStatus] =
      try Some(p.getFileSystem(spark.sparkContext.hadoopConfiguration).getFileStatus(p))
      catch { case _: FileNotFoundException => None }
    status match {
      case None => spark.read.parquet(path)
      case Some(st) =>
        val known = schemas.computeIfAbsent(spark, _ => new ConcurrentHashMap[String, Known]())
        val key = st.getPath.toString
        Option(known.get(key)) match {
          case Some(k) if k.length == st.getLen && k.mtime == st.getModificationTime =>
            spark.read.schema(k.schema).parquet(path)
          case _ =>
            val df = spark.read.parquet(path)
            known.put(key, Known(st.getLen, st.getModificationTime, df.schema))
            df
        }
    }
  }
}
