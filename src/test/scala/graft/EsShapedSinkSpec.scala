package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.sinks.{EsShapedSink, IrcSink}
import graft.sinks.EsShapedSink.{BulkTransport, IndexSpec, SpoolTransport}

/** A bulk transport that records each request's lines, in send order, in a
  * JVM-static queue: Spark ships a fresh copy of the transport into every
  * task, and local-mode tasks share this JVM.
  */
class RecordingTransport extends BulkTransport {
  def send(ndjsonLines: Seq[String]): Unit = { RecordingTransport.sent.add(ndjsonLines); () }
}

object RecordingTransport {
  val sent = new java.util.concurrent.ConcurrentLinkedQueue[Seq[String]]()
}

/** The ES-DSL adapter contract (irclogbot.py:50-51): index/doc_type/id
  * mapping, `_bulk` NDJSON wire shape, and the retry/drop write loop —
  * exercised end-to-end through a local spool transport (zero egress).
  */
class EsShapedSinkSpec extends SparkSuite {
  import spark.implicits._

  private def mkRecords(rows: (String, String, String, String, String)*) =
    rows.toSeq.toDF("id", "channel", "nick", "remark", "p")
      .withColumn("posted", to_timestamp(col("p"))).drop("p")

  private def spoolLines(dir: String): Seq[String] = {
    val d = new java.io.File(dir)
    val files = Option(d.listFiles()).getOrElse(Array.empty)
    files.toSeq.flatMap { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try src.getLines().toList finally src.close()
    }
  }

  test("renderAction emits the exact ES 6.x bulk action + source lines") {
    val row = mkRecords(("b6ed42d761b759e6", "#heat", "bob", "/me waves",
      "2018-07-09 17:15:32")).collect().head
    val lines = EsShapedSink.renderAction(row)
    assert(lines == Seq(
      """{"index":{"_index":"irclog","_type":"irc","_id":"b6ed42d761b759e6"}}""",
      """{"channel":"#heat","nick":"bob","posted":"2018-07-09T17:15:32","remark":"/me waves","id":"b6ed42d761b759e6"}"""))
  }

  test("document JSON escapes quotes, backslashes, control chars; UTF-8 passes through") {
    assert(EsShapedSink.jsonEscape("""say "hi" \ done""") ==
      """say \"hi\" \\ done""")
    assert(EsShapedSink.jsonEscape("a\nb\tc\u0001d") == "a\\nb\\tc\\u0001d")
    assert(EsShapedSink.jsonEscape("emoji 🎉 and 中文") == "emoji 🎉 and 中文")
    // and the full line stays machine-parseable: Spark's own JSON reader
    // round-trips the rendered source line
    val row = mkRecords(("id1", "#x", "al\"ice", "line1\nline2 \\ 🎉",
      "2024-01-01 10:00:00")).collect().head
    val src = EsShapedSink.renderAction(row).last
    val parsed = spark.read.json(Seq(src).toDS())
    assert(parsed.select("nick").as[String].head() == "al\"ice")
    assert(parsed.select("remark").as[String].head() == "line1\nline2 \\ 🎉")
  }

  test("unpaired surrogates are \\uXXXX-escaped; valid pairs pass through") {
    // A valid pair (U+1F389) is left as-is — it encodes to real UTF-8.
    assert(EsShapedSink.jsonEscape("\ud83c\udf89") == "\ud83c\udf89")
    // Lone high, lone low, and a high followed by a non-low are all escaped,
    // since they cannot be encoded to UTF-8 on the wire.
    assert(EsShapedSink.jsonEscape("x\ud800y") == "x\\ud800y")
    assert(EsShapedSink.jsonEscape("x\udfffy") == "x\\udfffy")
    assert(EsShapedSink.jsonEscape("\ud800\ud83c\udf89") == "\\ud800\ud83c\udf89")
    // Round-trip: Jackson decodes the escapes back to the original chars.
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val s = "a\ud800b\ud83c\udf89c\udc00"
    assert(mapper.readValue("\"" + EsShapedSink.jsonEscape(s) + "\"", classOf[String]) == s)
  }

  test("renderAction fails loudly (named precondition) on null posted or id") {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("channel", StringType),
      StructField("nick", StringType), StructField("remark", StringType),
      StructField("posted", TimestampType), StructField("id", StringType)))
    val nullPosted = new org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema(
      Array[Any]("#c", "n", "r", null, "id1"), schema)
    val e1 = intercept[IllegalArgumentException](EsShapedSink.renderAction(nullPosted))
    assert(e1.getMessage.contains("stamping bug"))
    val nullId = new org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema(
      Array[Any]("#c", "n", "r", java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), null), schema)
    val e2 = intercept[IllegalArgumentException](EsShapedSink.renderAction(nullId))
    assert(e2.getMessage.contains("content-key bug"))
  }

  test("SpoolTransport.send throws on an unwritable spool directory") {
    // PrintWriter would swallow this; the retry/dead-letter contract
    // requires send() to throw so the caller can count the failure.
    val t = new SpoolTransport("/proc/nonexistent/spool")
    intercept[java.io.IOException](t.send(Seq("{}")))
  }

  test("writeBulk spools partition-grouped bulk requests with every action present") {
    val recs = mkRecords(
      ("i1", "#x", "a", "m1", "2024-01-01 10:00:00"),
      ("i2", "#x", "b", "m2", "2024-01-01 10:00:01"),
      ("i3", "#y", "c", "m3", "2024-01-01 10:00:02"),
      ("i4", "#y", "d", "m4", "2024-01-01 10:00:03"),
      ("i5", "#z", "e", "m5", "2024-01-01 10:00:04")).repartition(1)
    RecordingTransport.sent.clear()
    EsShapedSink.writeBulk(recs, new RecordingTransport,
      IndexSpec("irclog", "irc"), bulkSize = 2)
    // one partition, 5 actions, bulkSize 2 -> requests of 2, 2 and 1 actions
    val sends = RecordingTransport.sent.asScala.toSeq
    assert(sends.map(_.size / 2) == Seq(2, 2, 1)) // action + source per record
    val ids = sends.flatten.filter(_.contains("\"_index\""))
      .map(l => "\"_id\":\"(\\w+)\"".r.findFirstMatchIn(l).get.group(1))
    assert(ids.sorted == Seq("i1", "i2", "i3", "i4", "i5"))
  }

  test("writeBulk: one spool file per task, content identical") {
    val dir = Files.createTempDirectory("graft_es_bulk_task").toString
    val recs = mkRecords(
      ("i1", "#x", "a", "m1", "2024-01-01 10:00:00"),
      ("i2", "#x", "b", "m2", "2024-01-01 10:00:01"),
      ("i3", "#y", "c", "m3", "2024-01-01 10:00:02"),
      ("i4", "#y", "d", "m4", "2024-01-01 10:00:03"),
      ("i5", "#z", "e", "m5", "2024-01-01 10:00:04")).repartition(1)
    EsShapedSink.writeBulk(recs, new SpoolTransport(dir),
      IndexSpec("irclog", "irc"), bulkSize = 2)
    // one partition, 3 bulk requests -> ONE file (§6: files ∝ tasks)
    assert(Option(new java.io.File(dir).listFiles()).get.length == 1)
    val lines = spoolLines(dir)
    assert(lines.size == 10)
    val ids = lines.filter(_.contains("\"_index\""))
      .map(l => "\"_id\":\"(\\w+)\"".r.findFirstMatchIn(l).get.group(1))
    assert(ids.sorted == Seq("i1", "i2", "i3", "i4", "i5"))
  }

  test("SpoolTransport: concurrent sends to one instance keep every line intact") {
    val dir = Files.createTempDirectory("graft_es_bulk_threads").toString
    val t = new SpoolTransport(dir)
    val threads = 8
    val sends = 50
    // a request above Files.write's 8 KiB chunk, so unsynchronized appends
    // could interleave mid-request
    def line(th: Int, k: Int, j: Int) = s"""{"t":$th,"k":$k,"j":$j,"pad":"${"x" * 5000}"}"""
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try {
      val done = (0 until threads).map { th =>
        pool.submit(new Runnable {
          def run(): Unit =
            (0 until sends).foreach(k => t.send(Seq(line(th, k, 0), line(th, k, 1))))
        })
      }
      done.foreach(_.get())
    } finally pool.shutdown()
    // one file (the lazy create ran once), and exactly the lines sent
    assert(Option(new java.io.File(dir).listFiles()).get.length == 1)
    val lines = spoolLines(dir)
    val expected = for (th <- 0 until threads; k <- 0 until sends; j <- 0 to 1)
      yield line(th, k, j)
    assert(lines.sorted == expected.sorted)
    // a request's two lines stay adjacent
    lines.grouped(2).foreach { case Seq(a, b) =>
      assert(a.replace("\"j\":0", "\"j\":1") == b)
    }
  }

  test("recordWriter + writeEachWithRetry: poisoned record dead-letters, rest index (K2)") {
    val dir = Files.createTempDirectory("graft_es_retry").toString
    val quarantine = Files.createTempDirectory("graft_es_dlq").toString
    val recs = mkRecords(
      ("good1", "#x", "a", "m1", "2024-01-01 10:00:00"),
      ("poison", "#x", "b", "m2", "2024-01-01 10:00:01"),
      ("good2", "#y", "c", "m3", "2024-01-01 10:00:02"))
    // transport that always rejects the poisoned id — MAX_RETRIES then drop
    val spool = new SpoolTransport(dir)
    val writer = EsShapedSink.recordWriter(new EsShapedSink.BulkTransport {
      def send(lines: Seq[String]): Unit = {
        if (lines.exists(_.contains("\"_id\":\"poison\"")))
          throw new RuntimeException("simulated 4xx")
        spool.send(lines)
      }
    })
    val dlq = new SpoolTransport(quarantine)
    val (ok, dropped) = IrcSink.writeEachWithRetry(
      recs, writer,
      onDrop = r => dlq.send(EsShapedSink.renderAction(r)))
    assert(ok == 2 && dropped == 1)
    val sent = spoolLines(dir)
    assert(sent.count(_.contains("\"_index\"")) == 2)
    assert(!sent.exists(_.contains("poison")))
    assert(spoolLines(quarantine).exists(_.contains("\"_id\":\"poison\"")))
  }

  test("startWithRecordSink + ES adapter: stream lands as bulk actions end-to-end") {
    implicit val ctx = classic.sqlContext
    val ms = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[String]
    ms.addData(
      ":alice!~a@h PRIVMSG #x :hello wire",
      ":alice!~a@h PRIVMSG #x :hello wire", // cross-bot duplicate
      ":bob!~b@h PRIVMSG #y :other")
    val dir = Files.createTempDirectory("graft_es_e2e").toString
    val ckpt = Files.createTempDirectory("graft_es_ckpt").toString
    val q = graft.streaming.IrcStream.startWithRecordSink(
      ms.toDF(), ckpt, EsShapedSink.recordWriter(new SpoolTransport(dir)))
    q.processAllAvailable()
    q.stop()
    val lines = spoolLines(dir)
    val actions = lines.filter(_.contains("\"_index\":\"irclog\""))
    assert(actions.size == 2, s"expected 2 deduped actions, got:\n${lines.mkString("\n")}")
    assert(lines.exists(l => l.contains("\"nick\":\"alice\"") &&
      l.contains("\"remark\":\"hello wire\"")))
    assert(lines.exists(l => l.contains("\"nick\":\"bob\"")))
    // every action carries the doc_type and a 32-hex md5 content id
    assert(actions.forall(_.contains("\"_type\":\"irc\"")))
    assert(actions.forall(l =>
      "\"_id\":\"([0-9a-f]{32})\"".r.findFirstIn(l).isDefined))
  }
}
