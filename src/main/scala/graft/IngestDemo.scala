package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Runnable end-to-end demo of the ingest surface (the reference's whole
  * job, §3.1): raw IRC wire chunks → streaming parse/normalize/key →
  * watermarked dedup → idempotent parquet upsert — then the batch query
  * surface over the sink. Run: `sbt "runMain graft.IngestDemo"`.
  */
object IngestDemo {
  def main(args: Array[String]): Unit = {
    val spark = Harness.session(4)
    import spark.implicits._
    implicit val ctx = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sqlContext

    val base = Files.createTempDirectory("graft_demo").toString
    streaming.IrcStream.attachHeartbeat(spark)
    val ms = MemoryStream[String]
    ms.addData(
      ":alice!~auser@host.example PRIVMSG #openstack-dev :hello world\r\n" +
        ":bob!buser@10.0.0.1 PRIVMSG #heat :ok",
      "PING :hitchcock.freenode.net",
      ":carol!~c@h PRIVMSG #heat :ACTION waves",
      ":alice!~auser@host.example PRIVMSG #openstack-dev :hello world", // cross-bot dup
      ":abcdefghijklmnopq!~u@h PRIVMSG #x :too-long nick dropped")
    val q = streaming.IrcStream.start(ms.toDF(), s"$base/sink", s"$base/ckpt")
    q.processAllAvailable()
    q.stop()

    val sink = spark.read.parquet(s"$base/sink")
    println(s"DEMO_SINK_ROWS=${sink.count()}")
    sink.orderBy("channel", "nick")
      .select("channel", "nick", "remark", "id").show(10, false)

    println("DEMO_COMPAT_KEY=" + sink
      .filter(col("nick") === "carol")
      .select(functions.Blake2b.compatKey(col("channel"), col("nick"), col("remark")))
      .collect().head.getString(0))

    // K1 — the partitioned ES-index analog: append (twice, overlapping ids)
    // then compact to exactly-one-per-id.
    sinks.IrcSink.append(sink, s"$base/table")
    sinks.IrcSink.append(sink, s"$base/table") // replayed append
    sinks.IrcSink.compact(spark, s"$base/table", s"$base/table_compacted")
    val table = sinks.IrcSink.read(spark, s"$base/table_compacted")
    println(s"DEMO_COMPACTED_ROWS=${table.count()} (from ${spark.read.parquet(s"$base/table").count()} appended)")

    // The ES query-surface analog over the sink: filter + full-text search.
    println("DEMO_FILTER_HEAT=" + search.IrcSearch
      .filterLog(table, channel = Some("#heat")).count())
    println("DEMO_SEARCH=" + search.IrcSearch
      .searchText(table, "id", "remark", "hello waves", 3)
      .collect().map(r => s"${r.getString(0).take(6)}:${"%.3f".format(r.getDouble(1))}")
      .mkString(","))
    println("DEMO_PARTITIONS=" + new java.io.File(s"$base/table").listFiles()
      .map(_.getName).filter(_.startsWith("channel=")).sorted.mkString(","))
    spark.stop()
  }
}
