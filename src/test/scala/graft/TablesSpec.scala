package graft

import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.types.TimestampType

/** `Tables.apply`: one schema inference per file per session, the parquet
  * conf pins, and the `ts` normalization — on parquet files written here.
  * The raw files come from parquet-mr's example writer, so they carry no
  * Spark schema in their footer, like the pyarrow-written fixtures.
  */
class TablesSpec extends SparkSuite {
  import spark.implicits._

  private val NtzConf = "spark.sql.parquet.inferTimestampNTZ.enabled"

  /** One parquet file `$dir/$name.parquet` of int64 columns `id` and `col`,
    * `col` carrying the logical type `annotation`.
    */
  private def writeRaw(dir: String, name: String, col: String, annotation: String,
      rows: Seq[(Long, Long)]): Unit = {
    val schema = MessageTypeParser.parseMessageType(
      s"message t { required int64 id; optional int64 $col $annotation; }")
    val path = new Path(s"$dir/$name.parquet")
    path.getFileSystem(new Configuration()).delete(path, false)
    val w = ExampleParquetWriter.builder(path).withType(schema).build()
    val groups = new SimpleGroupFactory(schema)
    try rows.foreach { case (id, v) => w.write(groups.newGroup().append("id", id).append(col, v)) }
    finally w.close()
  }

  private def tmp(): String = Files.createTempDirectory("graft_tables").toString

  private def maskedPlan(df: DataFrame): String =
    df.queryExecution.optimizedPlan.treeString.replaceAll("#\\d+L?", "#N")

  test("a second Tables.apply of the same file starts no Spark job") {
    val dir = tmp()
    writeRaw(dir, "t", "v", "", Seq(1L -> 10L, 2L -> 20L))
    val (_, cold) = jobsDuring(Tables(spark, dir, "t"))
    val (warm, jobs) = jobsDuring(Tables(spark, dir, "t"))
    assert(cold == 1, "the first read infers the schema with one job")
    assert(jobs == 0)
    assert(warm.as[(Long, Long)].collect().sorted.toSeq == Seq(1L -> 10L, 2L -> 20L))
  }

  test("the warm read has the cold read's schema and optimized plan") {
    val dir = tmp()
    writeRaw(dir, "events", "ts", "(TIMESTAMP(NANOS,false))", Seq(1L -> 5000L))
    val cold = Tables(spark, dir, "events")
    val warm = Tables(spark, dir, "events")
    assert(warm.schema == cold.schema)
    assert(maskedPlan(warm) == maskedPlan(cold))
    assert(warm.queryExecution.optimizedPlan.sameResult(cold.queryExecution.optimizedPlan))
  }

  test("a file rewritten at the same path is read with its new schema") {
    val dir = tmp()
    writeRaw(dir, "t", "a", "", Seq(1L -> 1L))
    assert(Tables(spark, dir, "t").columns.toSeq == Seq("id", "a"))
    writeRaw(dir, "t", "b", "", Seq(1L -> 1L, 2L -> 2L))
    val df = Tables(spark, dir, "t")
    assert(df.columns.toSeq == Seq("id", "b"))
    assert(df.count() == 2)
  }

  test("each session infers its own schema") {
    val dir = tmp()
    writeRaw(dir, "t", "v", "", Seq(1L -> 1L))
    Tables(spark, dir, "t")
    val other = spark.newSession()
    assert(jobsDuring(Tables(other, dir, "t"))._2 == 1)
    assert(jobsDuring(Tables(other, dir, "t"))._2 == 0)
  }

  test("concurrent callers all read the file's schema") {
    val dir = tmp()
    writeRaw(dir, "t", "v", "", Seq(1L -> 1L))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val calls = (1 to 8).map(_ => pool.submit(() => Tables(spark, dir, "t").schema))
      assert(calls.map(_.get).distinct.size == 1)
    } finally pool.shutdown()
  }

  test("a long ts becomes a TIMESTAMP through timestamp_micros(ts div 1000)") {
    val dir = tmp()
    val nanos = 1700000000123456789L
    writeRaw(dir, "events", "ts", "(TIMESTAMP(NANOS,false))", Seq(1L -> nanos))
    for (_ <- 1 to 2) { // cold, then warm
      val df = Tables(spark, dir, "events")
      assert(df.schema("ts").dataType == TimestampType)
      assert(df.selectExpr("unix_micros(ts)").as[Long].head() == nanos / 1000)
    }
  }

  test("a TIMESTAMP_NTZ ts becomes a session-zone TIMESTAMP") {
    val dir = tmp()
    spark.sql("SELECT 1L AS id, TIMESTAMP_NTZ'2024-01-02 03:04:05.123456' AS ts")
      .coalesce(1).write.parquet(s"$dir/events.parquet")
    for (_ <- 1 to 2) { // cold, then warm
      val df = Tables(spark, dir, "events")
      assert(df.schema("ts").dataType == TimestampType)
      // session tz is UTC: the wall clock is the instant
      assert(df.selectExpr("unix_micros(ts)").as[Long].head() == 1704164645123456L)
    }
  }

  test("a flipped inferTimestampNTZ conf is pinned back on the next call") {
    val dir = tmp()
    val micros = 1704164645123456L
    writeRaw(dir, "a", "ts", "(TIMESTAMP(MICROS,false))", Seq(1L -> micros))
    writeRaw(dir, "b", "ts", "(TIMESTAMP(MICROS,false))", Seq(1L -> micros))
    val before = spark.conf.get(NtzConf)
    try {
      assert(Tables(spark, dir, "a").schema("ts").dataType == TimestampType)
      for (t <- Seq("a", "b")) { // warm, then cold
        spark.conf.set(NtzConf, "true")
        val df = Tables(spark, dir, t)
        assert(spark.conf.get(NtzConf) == "false")
        assert(df.schema("ts").dataType == TimestampType)
        // read naive µs as TIMESTAMP directly: no NTZ cast projection
        assert(df.queryExecution.optimizedPlan.collect { case p: Project => p }.isEmpty)
        assert(df.selectExpr("unix_micros(ts)").as[Long].head() == micros)
      }
    } finally spark.conf.set(NtzConf, before)
  }
}
