package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.countDistinct
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, Trigger}

import graft.ingest.IrcParser
import graft.streaming.IrcStream

/** `ingest`: generated IRC wire chunks → `IrcStream.start` (parse →
  * watermark dedup → `upsertBatch` into a channel×day parquet sink with a
  * checkpoint). Phase a offers chunks on a fixed schedule from one
  * generator thread (open loop); phase b drains a fixed backlog, split into
  * [[Drains]] parts that each arrive at once.
  */
object Ingest {
  import PerfBench._

  /** IrcStream.start's own trigger interval. */
  val TriggerMs = 5000L
  /** Phase-b backlog parts; the drain rate is their median. */
  val Drains = 2
  val DrainTimeoutS = 60

  /** One wire chunk: phase (w = warm-up, a, b), due offset in ms from the
    * phase start (phase a only), line count, raw text.
    */
  final case class Chunk(phase: String, dueMs: Double, lines: Int, text: String)

  def readChunks(path: String): Seq[Chunk] = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    try src.getLines().map { l =>
      val Array(p, due, n, body) = l.split("\t", 4)
      Chunk(p, due.toDouble, n.toInt, body.replace("\\n", "\n").replace("\\r", "\r"))
    }.toVector
    finally src.close()
  }

  /** Progress events of every query, stamped when the listener saw them. */
  final class Progress extends StreamingQueryListener {
    import StreamingQueryListener._
    val events = new java.util.concurrent.ConcurrentLinkedQueue[(Long, org.apache.spark.sql.streaming.StreamingQueryProgress)]
    @volatile var committed: Map[java.util.UUID, Long] = Map.empty
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      val now = System.nanoTime()
      events.add((now, e.progress))
      val end = e.progress.sources.headOption.flatMap(s => Option(s.endOffset))
      end.foreach(o => synchronized {
        committed = committed.updated(e.progress.id, o.trim.toLong)
      })
    }
    def committedOffset(q: StreamingQuery): Long = committed.getOrElse(q.id, -1L)
  }

  def run(r: Run): SparkSession = {
    val chunks = mutable.ArrayBuffer.empty[Chunk]
    val (spark, rounds) = setUp(r) { _ =>
      chunks.clear()
      chunks ++= readChunks(r.str("chunks_file"))
    }
    val cl = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    import cl.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = cl.sqlContext
    val progress = new Progress
    spark.streams.addListener(progress)
    val tracer = new Tracer(spark, r.trace)
    // Processing-time triggers fire on multiples of the interval since the
    // epoch; phase a starts just after one and each backlog part arrives
    // just before one, so none waits a run-dependent part of an interval.
    def sleepUntilTrigger(offsetMs: Long): Unit = {
      val now = System.currentTimeMillis()
      var next = (now / TriggerMs + 1) * TriggerMs + offsetMs
      if (next - now < 20) next += TriggerMs
      Thread.sleep(next - now)
    }
    val timeoutNs = DrainTimeoutS * 1000000000L

    def start(stream: MemoryStream[String], name: String, trigger: Trigger): StreamingQuery = {
      val lines = stream.toDF()
      val sink = s"${r.work}/$name/sink"
      val ckpt = s"${r.work}/$name/checkpoint"
      if (!tracer.enabled) IrcStream.start(lines, sink, ckpt, trigger = trigger)
      else // the same composition as IrcStream.start, with a span per batch
        IrcStream.deduped(IrcStream.records(lines))
          .writeStream.outputMode("update")
          .option("checkpointLocation", ckpt).trigger(trigger)
          .foreachBatch((b: DataFrame, id: Long) =>
            tracer.span("sinks.upsert", s"batch:$id")(IrcStream.upsertBatch(b, id, sink)))
          .start()
    }

    def awaitOffset(q: StreamingQuery, offset: Long): Unit = {
      val t0 = System.nanoTime()
      while (progress.committedOffset(q) < offset) {
        q.exception.foreach(e => throw e)
        if (System.nanoTime() - t0 > timeoutNs)
          throw new java.util.concurrent.TimeoutException(
            s"offset $offset not committed within $DrainTimeoutS s")
        Thread.sleep(2)
      }
    }

    /** Wait until the stream is idle: a no-data batch that the last data
      * batch's watermark advance triggers must not overlap phase b. An idle
      * stream is active only for its brief offset polls, so idle means
      * active in under half the samples of a 300 ms window.
      */
    def awaitQuiet(q: StreamingQuery): Unit = {
      val window = mutable.Queue.empty[Boolean]
      while (window.size < 60 || window.count(identity) * 2 >= window.size) {
        window.enqueue(q.status.isTriggerActive)
        if (window.size > 60) window.dequeue()
        Thread.sleep(5)
      }
    }

    // Warm-up, billed to set-up: two batches through a stream of its own
    // (the first writes the sink, the second probes it), then the batch
    // parser on the same lines. The warm-up stream triggers as soon as data
    // arrives, so set-up time does not depend on where in a trigger
    // interval it began.
    val w0 = System.nanoTime()
    val warm = chunks.filter(_.phase == "w").toSeq
    try {
      val ws = MemoryStream[String]
      val wq = start(ws, "warmup", Trigger.ProcessingTime(0L))
      try warm.grouped((warm.size + 1) / 2).foreach { g =>
        awaitOffset(wq, offsetOf(ws.addData(g.map(_.text))))
      } finally wq.stop()
      IrcParser.pipeline(warm.map(_.text).toDF("value"))
        .write.mode("overwrite").format("noop").save()
    } catch { case e: Throwable => r.fail("warmup", e) }
    val warmS = (System.nanoTime() - w0) / 1e9

    val phaseA = chunks.filter(_.phase == "a").toSeq
    val phaseB = chunks.filter(_.phase == "b").toSeq
    val ms = MemoryStream[String]
    val q = start(ms, "main", Trigger.ProcessingTime(TriggerMs))
    sleepUntilTrigger(10)
    val m0 = System.nanoTime()
    val rel = (t: Long) => (t - m0) / 1e6
    val added = mutable.ArrayBuffer.empty[Map[String, Any]]

    // One generator thread; each chunk is one addData (one source offset).
    // Returns the thread's failure, if any, once it has finished.
    def generate(cs: Seq[Chunk], base: Long): Option[Throwable] = {
      var failed: Option[Throwable] = None
      val t = new Thread(() => try cs.foreach { c =>
        val due = base + (c.dueMs * 1e6).toLong
        var now = System.nanoTime()
        while (now < due) {
          val waitNs = due - now
          if (waitNs > 2000000L) Thread.sleep(waitNs / 1000000L - 1)
          else Thread.onSpinWait()
          now = System.nanoTime()
        }
        val off = offsetOf(ms.addData(Seq(c.text)))
        added.synchronized(added += Map("phase" -> c.phase, "due_ms" -> rel(due),
          "added_ms" -> rel(System.nanoTime()), "offset" -> off, "lines" -> c.lines))
      } catch { case e: Throwable => failed = Some(e) }, "perfbench-generator")
      t.start()
      t.join()
      failed
    }

    // phase b's parts, of about equal line counts, in generator order
    val perDrain = math.ceil(phaseB.map(_.lines).sum.toDouble / Drains)
    val backlogs = phaseB.zip(phaseB.scanLeft(0)(_ + _.lines))
      .groupBy { case (_, before) => (before / perDrain).toInt }
      .toSeq.sortBy(_._1).map(_._2.map(_._1))
    val drains = mutable.ArrayBuffer.empty[Map[String, Any]]
    try {
      generate(phaseA, m0).foreach(e => throw e)
      awaitOffset(q, added.last("offset").asInstanceOf[Long])
      backlogs.foreach { part =>
        awaitQuiet(q)
        // a part arrives as one source offset, so it drains as one batch
        sleepUntilTrigger(-50)
        val b0 = System.nanoTime()
        val off = offsetOf(ms.addData(part.map(_.text)))
        val lines = part.map(_.lines).sum
        added += Map("phase" -> "b", "due_ms" -> rel(b0), "added_ms" -> rel(System.nanoTime()),
          "offset" -> off, "lines" -> lines)
        awaitOffset(q, off)
        drains += Map("lines" -> lines, "s" -> (commitNs(progress, q, off) - b0) / 1e9)
      }
    } catch { case e: Throwable => r.fail("stream", e) }
    finally q.stop()

    val sinkDir = s"${r.work}/main/sink"
    try {
      val sink = spark.read.parquet(sinkDir)
      val row = sink.agg(org.apache.spark.sql.functions.count("*"), countDistinct("id")).head()
      r.out("sink") = Map("rows" -> row.getLong(0), "distinct_ids" -> row.getLong(1))
    } catch { case e: Throwable => r.fail("sink-check", e) }

    if (tracer.enabled) {
      val text = (phaseA ++ phaseB).map(_.text).toDF("value")
      tracer.span("ingest.parse", "parse") {
        IrcParser.pipeline(text).write.mode("overwrite").format("noop").save()
      }
      r.out("parse_kept_rows") = IrcParser.pipeline(text).count()
      val files = listFiles(new java.io.File(sinkDir)).filter(_.getName.endsWith(".parquet"))
      r.out("sink_files") = files.size
      r.out("sink_bytes") = files.map(_.length).sum
    }
    tracer.close()
    spark.streams.removeListener(progress)

    r.out("setup_rounds_s") = rounds
    r.out("warmup_s") = warmS
    r.out("chunks") = added.toSeq
    r.out("drains") = drains.toSeq
    r.out("query_id") = q.id.toString
    r.out("progress") = progress.events.toArray.toSeq.collect {
      case (t: Long, p: org.apache.spark.sql.streaming.StreamingQueryProgress)
          if p.id == q.id => progressJson(rel(t), p)
    }
    if (tracer.enabled) r.out("spans") = tracer.spans.map(Trace.toJson)
    spark
  }

  private def offsetOf(o: org.apache.spark.sql.execution.streaming.Offset): Long =
    o.json().trim.toLong

  /** When the listener saw the batch that committed `offset`. */
  private def commitNs(p: Progress, q: StreamingQuery, offset: Long): Long =
    p.events.toArray.toSeq.collect {
      case (t: Long, e: org.apache.spark.sql.streaming.StreamingQueryProgress)
          if e.id == q.id && e.sources.exists(s =>
            s.endOffset != null && s.endOffset.trim.toLong >= offset) => t
    }.min

  private def listFiles(f: java.io.File): Seq[java.io.File] =
    Option(f.listFiles()).map(_.toSeq).getOrElse(Nil).flatMap(c =>
      if (c.isDirectory) listFiles(c) else Seq(c))

  private def progressJson(recvMs: Double,
      p: org.apache.spark.sql.streaming.StreamingQueryProgress): Map[String, Any] = {
    import scala.jdk.CollectionConverters._
    val src = p.sources.headOption
    Map(
      "recv_ms" -> recvMs,
      "batch" -> p.batchId,
      "input_rows" -> p.numInputRows,
      "start_offset" -> src.flatMap(s => Option(s.startOffset)).map(_.trim.toLong).getOrElse(-1L),
      "end_offset" -> src.flatMap(s => Option(s.endOffset)).map(_.trim.toLong).getOrElse(-1L),
      "duration_ms" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
      "state" -> p.stateOperators.toSeq.map(s => Map(
        "rows_total" -> s.numRowsTotal,
        "rows_updated" -> s.numRowsUpdated,
        "mem_bytes" -> s.memoryUsedBytes,
        "dropped_by_watermark" -> s.numRowsDroppedByWatermark,
        "custom" -> s.customMetrics.asScala.map { case (k, v) => k -> v.longValue }.toMap)))
  }
}
