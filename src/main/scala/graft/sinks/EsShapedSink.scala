package graft.sinks

import org.apache.spark.sql.{DataFrame, Row}

/** The reference's ACTUAL sink contract, as a pluggable adapter: every record
  * becomes an Elasticsearch index action
  * `es_client.index(index="irclog", doc_type="irc", id=<blake2b>, body=<doc>)`
  * (/root/reference/irclogbot.py:50-51; ES 6.3.1 per requirements.txt:9).
  *
  * Zero-egress design: the DSL layer (action metadata + document source,
  * exactly the `_bulk` NDJSON wire shape) is pure and golden-testable; the
  * transport is a tiny serializable trait a production deployment implements
  * with an HTTP client and tests implement with a local spool directory.
  * Retry/drop semantics reuse [[IrcSink.writeEachWithRetry]]
  * ([[IrcSink.MaxRetries]] attempts, then dead-letter — irclogbot.py:46-59),
  * so a poisoned record costs only itself.
  *
  * Scale contract: documents are rendered and sent per-partition (executor-
  * side, no driver round-trip); a bulk request's size is bounded by
  * `bulkSize`, the standard ES ingestion knob. Nothing here shuffles.
  */
object EsShapedSink {

  /** Where records land: the reference pins index=irclog, doc_type=irc. */
  final case class IndexSpec(index: String = "irclog", docType: String = "irc")

  /** Transport seam: production = HTTP POST to `/_bulk`; egress-free use =
    * [[SpoolTransport]].
    * Must be serializable (instances ship to executors) and idempotent under
    * replay — the id is the content key, so re-sending an action is the
    * upsert the reference already relies on.
    */
  trait BulkTransport extends Serializable {
    def send(ndjsonLines: Seq[String]): Unit
  }

  /** Spool transport for egress-free use: all sends from one instance
    * append to ONE spool file under `dir`, created on the first send (r22,
    * guide §6 — fewer, larger files). Spark deserializes a fresh instance
    * into every task closure, so the file is normally task-local and the
    * spool's file count is ∝ tasks, not ∝ corpus/bulkSize (at 100 TB the
    * difference between thousands of files and billions). The
    * create-then-append is synchronized on the instance, so threads that
    * share one instance (any caller outside a Spark task) get one file and
    * whole, unmixed requests in send order. Doubles as a dead-letter
    * quarantine.
    */
  final class SpoolTransport(dir: String) extends BulkTransport {
    @transient private var taskFile: java.nio.file.Path = null
    def send(ndjsonLines: Seq[String]): Unit = {
      val d = java.nio.file.Paths.get(dir)
      java.nio.file.Files.createDirectories(d)
      // Files.write throws IOException on a failed write (disk full,
      // permission) — writeEachWithRetry's retry/dead-letter contract
      // depends on send() throwing, which PrintWriter would swallow.
      val bytes = ndjsonLines.mkString("", "\n", "\n").getBytes(
        java.nio.charset.StandardCharsets.UTF_8)
      synchronized {
        if (taskFile == null)
          taskFile = java.nio.file.Files.createTempFile(d, "bulk_", ".ndjson")
        java.nio.file.Files.write(taskFile, bytes,
          java.nio.file.StandardOpenOption.APPEND)
      }
      ()
    }
  }

  /** Minimal RFC 8259 string escaping — enough for the five document fields;
    * non-ASCII passes through (the wire is UTF-8, like the reference's
    * `txt.encode("utf-8")`).
    */
  private[graft] def jsonEscape(s: String): String = {
    val sb = new StringBuilder(s.length + 8)
    var i = 0
    while (i < s.length) {
      s.charAt(i) match {
        case '"' => sb.append("\\\"")
        case '\\' => sb.append("\\\\")
        case '\b' => sb.append("\\b")
        case '\f' => sb.append("\\f")
        case '\n' => sb.append("\\n")
        case '\r' => sb.append("\\r")
        case '\t' => sb.append("\\t")
        case c if c < 0x20 => sb.append(f"\\u${c.toInt}%04x")
        case c if Character.isHighSurrogate(c)
            && i + 1 < s.length && Character.isLowSurrogate(s.charAt(i + 1)) =>
          // Valid pair: both chars pass through; they encode to valid UTF-8.
          sb.append(c).append(s.charAt(i + 1))
          i += 1
        case c if Character.isSurrogate(c) =>
          // Unpaired surrogate cannot be encoded as UTF-8 on the wire;
          // \uXXXX-escape it so the literal stays lexically valid JSON.
          sb.append(f"\\u${c.toInt}%04x")
        case c => sb.append(c)
      }
      i += 1
    }
    sb.toString
  }

  /** The `_bulk` action-metadata line for one record id. */
  def actionLine(spec: IndexSpec, id: String): String =
    s"""{"index":{"_index":"${jsonEscape(spec.index)}","_type":"${jsonEscape(spec.docType)}","_id":"${jsonEscape(id)}"}}"""

  /** The document-source line: the reference's body dict
    * (irclogbot.py:41-45) — channel, nick, posted (ISO seconds), remark,
    * plus the id echoed into the body exactly like `body["id"] = hashval`.
    * Field order fixed for golden-testability.
    */
  def sourceLine(channel: String, nick: String, posted: String,
      remark: String, id: String): String =
    s"""{"channel":"${jsonEscape(channel)}","nick":"${jsonEscape(nick)}","posted":"${jsonEscape(posted)}","remark":"${jsonEscape(remark)}","id":"${jsonEscape(id)}"}"""

  private val IsoSeconds = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd'T'HH:mm:ss").withZone(java.time.ZoneOffset.UTC)

  /** Render one record row (schema: channel, nick, remark, posted, id — the
    * [[graft.ingest.IrcParser.record]] shape) as its two bulk NDJSON lines.
    */
  def renderAction(row: Row, spec: IndexSpec = IndexSpec()): Seq[String] = {
    val posted = row.getAs[java.sql.Timestamp]("posted")
    val id = row.getAs[String]("id")
    // Fail loudly on a stamping-bug precondition (matching upsertBatch's
    // posture) instead of NPE-ing executor-side, where writeEachWithRetry
    // would burn 5 retries and dead-letter the record as transport-poisoned.
    require(posted != null,
      "renderAction: null posted timestamp — upstream stamping bug, not a transport failure")
    require(id != null,
      "renderAction: null id — upstream content-key bug, not a transport failure")
    val postedStr = IsoSeconds.format(posted.toInstant)
    Seq(
      actionLine(spec, id),
      sourceLine(row.getAs[String]("channel"), row.getAs[String]("nick"),
        postedStr, row.getAs[String]("remark"), id))
  }

  /** Per-record writer suitable for [[IrcSink.writeEachWithRetry]] /
    * [[graft.streaming.IrcStream.startWithRecordSink]] — the literal
    * `es_client.index(...)` call shape (one action per request), with the
    * reference's retry/drop semantics supplied by the caller.
    */
  def recordWriter(transport: BulkTransport,
      spec: IndexSpec = IndexSpec()): Row => Unit =
    row => transport.send(renderAction(row, spec))

  /** Batch/bulk form: group each partition's records into `_bulk` requests of
    * at most `bulkSize` actions. Executor-side only; retries happen at the
    * bulk-request granularity here (a failed request throws and the Spark
    * task retry replays the partition — safe because ids upsert).
    */
  def writeBulk(records: DataFrame, transport: BulkTransport,
      spec: IndexSpec = IndexSpec(), bulkSize: Int = 500): Unit =
    records.foreachPartition { (rows: Iterator[Row]) =>
      rows.grouped(bulkSize).foreach { chunk =>
        transport.send(chunk.flatMap(renderAction(_, spec)).toSeq)
      }
    }
}
