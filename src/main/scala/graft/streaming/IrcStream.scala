package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.ingest.IrcParser

/** Structured-Streaming form of the reference's unbounded ingest loop —
  * SURVEY.md §2.11 (ST1-ST7).
  *
  * Reference semantics mapped:
  *  - recv loop (irclogbot.py:111-119)            → readStream micro-batches
  *  - processing-time stamp truncated to seconds  → `date_trunc("second", ...)`
  *  - cross-bot duplicate tolerance (v2 key,
  *    logbot_roundrobin.py:50-54)                 → watermark + dropDuplicatesWithinWatermark("id")
  *  - ES upsert by id, at-least-once → effectively-once
  *    (irclogbot.py:46-59)                        → idempotent foreachBatch upsert keyed on id
  *  - heartbeat + supervisor restart (runbots.py) → checkpointLocation + query restart
  *
  * State-bound note (SURVEY §7.4(4)): the reference's ES upsert dedups over
  * unbounded time; a stream can only dedup within the watermark. The gap is
  * closed by the sink-side anti-join in [[upsertBatch]] — exact over ALL
  * time, and partition-PRUNED: ids embed the channel, so the probe reads
  * only the id column of the sink CHANNEL partitions the batch touches
  * (never other channels' data, never non-id columns). The probe still
  * reads every file of each touched channel, and each batch adds one file
  * per touched (channel, day), so a batch's cost grows with the history of
  * the channels it touches; [[graft.sinks.IrcSink.compact]] is a
  * storage-side sweep, not a correctness dependency.
  */
object IrcStream {

  /** Parse + normalize + stamp + key a stream of raw lines (column `value`,
    * e.g. from the socket or file source). `eventTime` defaults to
    * processing time like the reference (irclogbot.py:41); sources that
    * carry wire time can pass their own column.
    *
    * The lines are coalesced to one partition per core first: a
    * `MemoryStream` makes one partition per `addData` and the file source
    * one per file, so a batch of 100 small chunks would otherwise run 100
    * map tasks before [[deduped]]'s state exchange. That exchange's
    * partition count comes from the checkpoint and does not change.
    */
  def records(lines: DataFrame): DataFrame =
    IrcParser.record(IrcParser.parse(IrcParser.splitLines(
      lines.coalesce(lines.sparkSession.sparkContext.defaultParallelism), "value")))

  /** File-drop source (S1 stand-in for the TCP socket in a zero-egress
    * environment): each file dropped into `dir` is one recv chunk.
    * `maxFilesPerTrigger` is the backpressure knob (ST8's
    * PAUSE_BETWEEN_JOINS analog).
    */
  def fromTextDir(spark: SparkSession, dir: String,
      maxFilesPerTrigger: Int = 100): DataFrame =
    spark.readStream
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .text(dir)

  /** Live TCP source — the literal reference transport (irclogbot.py:83-85).
    * Untestable without egress; the pipeline downstream is identical to
    * [[fromTextDir]].
    */
  def fromSocket(spark: SparkSession, host: String, port: Int): DataFrame =
    spark.readStream
      .format("socket")
      .option("host", host)
      .option("port", port)
      .load()

  /** How long the stream's dedup state holds an id. A duplicate that
    * arrives later than this after the original reaches the sink, where
    * [[upsertBatch]]'s anti-join (or, for [[startWithRecordSink]], the ES
    * upsert by id) drops it, so this sizes the state; it does not decide
    * correctness.
    */
  private val DedupWatermark = "10 minutes"

  /** Watermarked exact dedup by content id (ST3): state is bounded by
    * [[DedupWatermark]]; a duplicate arriving later than that after the
    * original can reach the sink, where [[upsertBatch]] still drops it —
    * regardless of which DAY the late copy's processing-time stamp lands on
    * (the v2 id excludes time, so the sink probe prunes on channel only).
    */
  def deduped(parsed: DataFrame): DataFrame =
    parsed
      .withWatermark("posted", DedupWatermark)
      .dropDuplicatesWithinWatermark("id")

  /** Stream-stream inner join with watermarked time-range correlation: pair
    * each left event with right events for the same key within `maxGapSec`
    * BEFORE it (the streaming form of the as-of/correlation analysis).
    * Both sides' state is bounded by their watermarks + the range condition.
    * Inputs need columns (key, ts, ...); output prefixes l_/r_.
    */
  def correlate(left: DataFrame, right: DataFrame, key: String,
      tsCol: String, maxGapSec: Long, watermark: String = "1 minute",
      joinType: String = "inner"): DataFrame = {
    val l = left.withWatermark(tsCol, watermark)
      .select(left.columns.map(c => col(c).as(s"l_$c")): _*)
    val r = right.withWatermark(tsCol, watermark)
      .select(right.columns.map(c => col(c).as(s"r_$c")): _*)
    // leftOuter/fullOuter: unmatched rows are emitted null-padded once the
    // watermark passes their join window — late-arrival tolerance without
    // unbounded state, the streaming form of J3.
    l.join(r,
      col(s"l_$key") === col(s"r_$key") &&
        col(s"r_$tsCol") <= col(s"l_$tsCol") &&
        col(s"r_$tsCol") >= col(s"l_$tsCol") - expr(s"INTERVAL $maxGapSec SECONDS"),
      joinType)
  }

  /** Stream-static dimension enrichment: join the live record stream with a
    * broadcast static dim (e.g. channel metadata loaded from the channel
    * list file, S3 analog of channels.txt) — no streaming state involved.
    */
  def enrich(recs: DataFrame, dim: DataFrame, key: String): DataFrame =
    recs.join(broadcast(dim), Seq(key), "left_outer")

  /** Session windows per nick (ST5): messages separated by less than `gap`
    * fold into one session — the sessionization the lag/lead gap analysis
    * (W2) approximates in batch.
    */
  def sessionCounts(recs: DataFrame, gap: String = "5 minutes",
      watermark: String = "10 minutes"): DataFrame =
    recs
      .withWatermark("posted", watermark)
      .groupBy(session_window(col("posted"), gap), col("nick"))
      .agg(count(lit(1)).as("n"))

  /** Windowed message counts per channel: windows of `size` advancing
    * every `slide`, so each record counts in size/slide windows (the ES
    * `date_histogram` with overlapping buckets / moving-average surface,
    * ST5's second half). `slide == size` is the tumbling form (ST4, the
    * streaming date_histogram): `window(c, d)` is `window(c, d, d)`.
    * Batch mirror: `w5_sliding_window` in WindowQueries, oracle-paired
    * against a DuckDB window-start series.
    */
  def slidingCounts(recs: DataFrame, size: String = "10 minutes",
      slide: String = "1 minute", watermark: String = "10 minutes"): DataFrame =
    recs
      .withWatermark("posted", watermark)
      .groupBy(window(col("posted"), size, slide), col("channel"))
      .agg(count(lit(1)).as("n"))

  /** Arbitrary keyed state (ST6): running per-nick message counts via
    * flatMapGroupsWithState — state lives per key across micro-batches,
    * emitting an updated total on every batch a nick appears in.
    */
  def runningNickCounts(recs: DataFrame): DataFrame = {
    val spark = recs.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    recs.select(col("nick")).as[String]
      .groupByKey(identity)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(
        (nick: String, rows: Iterator[String], state: GroupState[Long]) => {
          val n = state.getOption.getOrElse(0L) + rows.size
          state.update(n)
          Iterator((nick, n))
        })
      .toDF("nick", "n")
  }

  /** Streaming heavy hitters (ST6 × A12): per-channel trending terms via a
    * Misra-Gries sketch held in keyed state — the streaming form of
    * [[graft.operators.HeavyHitters]]. Each micro-batch folds its tokens
    * into the channel's k-counter sketch and emits the surviving
    * (term, lower-bound) entries; state is ≤ k counters per channel FOREVER,
    * regardless of stream length or vocabulary — the property that makes
    * this viable where a streaming `groupBy(term)` would accrete unbounded
    * per-term state. MG guarantees carry over: every term with true count
    * > N/k per channel is present, and each bound is ≤ the true count
    * (asserted against exact batch counts in StreamingSpec).
    */
  def trendingTerms(recs: DataFrame, k: Int = 8): DataFrame = {
    val spark = recs.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    recs
      .select(col("channel"),
        explode(graft.functions.TextFunctions.tokens(col("remark"))).as("term"))
      .as[(String, String)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(
        (channel: String, rows: Iterator[(String, String)],
            state: GroupState[Map[String, Long]]) => {
          val sketch = scala.collection.mutable.HashMap[String, Long](
            state.getOption.getOrElse(Map.empty).toSeq: _*)
          rows.foreach(r => graft.operators.HeavyHitters.insert(sketch, r._2, k))
          state.update(sketch.toMap)
          sketch.toSeq.sortBy { case (t, c) => (-c, t) }.iterator
            .map { case (t, c) => (channel, t, c) }
        })
      .toDF("channel", "term", "count_lb")
  }

  /** Idempotent per-batch upsert into a (channel × day)-partitioned parquet
    * directory keyed on `id`: within-batch dedup, then anti-join against ids
    * already in the sink — but ONLY the sink CHANNEL partitions this batch
    * touches. Replays of the same batch after a crash insert nothing new —
    * at-least-once delivery + idempotent write = effectively-once (K1/ST7).
    *
    * Why channel, not (channel, day): the v2 id deliberately excludes time
    * (logbot_roundrobin.py:50-54), so a cross-bot duplicate arriving past
    * the watermark can carry a processing-time stamp on a DIFFERENT day than
    * the original. Probing only the batch's own days would miss the original
    * and re-insert (the round-6 bug). Ids embed the channel
    * (IrcParser.record: keyV2(channel, nick, remark)), so channel-pruning is
    * EXACT — a duplicate can only ever live in its own channel's partitions —
    * and the probe never scans other channels' data.
    *
    * Cost per batch: one job collects the batch's channels and fills the
    * persisted batch that the anti-join and the write reuse; its map side
    * runs one task per core ([[records]] coalesces the source). A batch
    * with no record stops there. [[existingIds]] starts no listing job
    * while every touched channel holds at most
    * `spark.sql.sources.parallelPartitionDiscovery.threshold` days (one
    * per batch past that), and the write
    * ([[graft.sinks.IrcSink.append]]) adds one file per touched
    * (channel, day) and starts no process on a local sink. The streaming
    * checkpoint's own files (offset and commit logs, state-store deltas)
    * still go through the session's filesystem, which forks per file
    * without libhadoop. What still grows: the probe reads every file
    * of each touched channel, all days, so its cost grows with the number
    * of batches that wrote to the channel. [[graft.sinks.IrcSink.compact]]
    * is the storage-side sweep; the correctness of THIS path does not
    * depend on it.
    * Batch schema must carry a non-empty `channel` and a NON-NULL `posted`
    * (the partition keys' sources; the write fails the batch otherwise,
    * since every source stamps `posted` from current_timestamp or wire
    * time).
    */
  def upsertBatch(batch: DataFrame, batchId: Long, targetDir: String): Unit = {
    val spark = batch.sparkSession
    val fresh = batch.dropDuplicates("id")
    // persisted: the channel collect below materializes the micro-batch
    // once; the anti-join and the write read it back
    fresh.persist()
    try {
      // The batch's channel footprint, collected to the driver: bounded by
      // (channels in batch × partitions), i.e. tiny — this is partition
      // METADATA, not data. Distinct per partition, then on the driver: no
      // shuffle, so one job.
      val str = org.apache.spark.sql.Encoders.STRING
      val channels = fresh.select(col("channel")).as(str)
        .mapPartitions(_.toSet.iterator)(str)
        .collect().distinct.toSeq
      if (channels.nonEmpty)
        graft.sinks.IrcSink.append(
          fresh.join(existingIds(spark, targetDir, channels), Seq("id"), "left_anti"),
          targetDir)
    } finally fresh.unpersist()
  }

  /** Ids already present in the sink, restricted to the given channels —
    * ALL days of those channels, because the v2 id excludes time and a late
    * duplicate may stamp a different day (see [[upsertBatch]]).
    *
    * Listing: Spark lists a directory with more children than
    * `spark.sql.sources.parallelPartitionDiscovery.threshold` with a
    * distributed job, one task per child, so `spark.read.parquet(targetDir)`
    * starts one on every batch once the sink holds more channels than that.
    * Instead the driver lists the sink root and each touched channel's
    * directory. While every touched channel holds at most `threshold` day
    * directories, Spark reads the touched channel directories, with
    * `basePath` = the sink root, in unioned groups of at most `threshold`:
    * each group is listed on the driver and no listing job starts. Once a
    * touched channel holds more days, listing it would start a job of its
    * own, one per such channel, so the probe reads the whole sink instead,
    * as one relation, which Spark lists with one job once the sink holds
    * more than `threshold` channels. (Reading such a channel's day
    * directories in groups would avoid the job, but plans a relation per
    * `threshold` days and measured slower than the whole-sink read.)
    * `channel` stays a partition column, so the `isin` filter is a
    * PartitionFilter over the listed directories (asserted in StreamingSpec)
    * and the single-column select prunes the scan to the `id` column. When
    * no directory matches (or the sink does not exist yet) the probe is an
    * empty local relation: nothing is read, and the optimizer drops an
    * anti-join against it.
    *
    * Explicit existence check, NOT a broad catch: a transient FS error while
    * listing or reading the sink must fail the batch (so it's retried)
    * rather than silently skip the anti-join and write duplicate ids.
    *
    * The read takes the sink's known schema instead of inferring it: a
    * sink directory that holds only `_SUCCESS` makes inference fail
    * (UNABLE_TO_INFER_SCHEMA); with the schema given it reads as empty.
    */
  private[graft] def existingIds(spark: SparkSession, targetDir: String,
      channels: Seq[String]): DataFrame = {
    val root = new org.apache.hadoop.fs.Path(targetDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val wanted = channels.toSet
    val dirs =
      if (!fs.exists(root)) Seq.empty
      else fs.listStatus(root).toSeq.filter(_.isDirectory).map(_.getPath)
        .filter { p =>
          val n = p.getName
          n.startsWith("channel=") && wanted(
            org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
              .unescapePathName(n.stripPrefix("channel=")))
        }
    val threshold = spark.conf.get("spark.sql.sources.parallelPartitionDiscovery.threshold").toInt
    val reader = spark.read.schema("id STRING, channel STRING").option("basePath", targetDir)
    val reads =
      if (dirs.exists(d => fs.listStatus(d).count(_.isDirectory) > threshold))
        Seq(reader.parquet(targetDir))
      else dirs.grouped(math.max(1, threshold))
        .map(g => reader.parquet(g.map(_.toString): _*)).toSeq
    reads.reduceOption(_ union _)
      .fold(spark.createDataFrame(java.util.List.of[org.apache.spark.sql.Row](),
        new org.apache.spark.sql.types.StructType().add("id", "string")))(
        _.filter(col("channel").isin(channels: _*)).select(col("id")))
  }

  /** Run the full pipeline: raw lines → records → dedup → upsert sink.
    * Restart with the same checkpointLocation resumes exactly where the
    * previous incarnation stopped (the supervisor loop of runbots.py:75-84
    * collapses into this contract).
    */
  def start(
      lines: DataFrame, targetDir: String, checkpointDir: String,
      trigger: Trigger = Trigger.ProcessingTime("5 seconds")): StreamingQuery =
    startDeduped(lines, checkpointDir, trigger)(
      (b, id) => upsertBatch(b, id, targetDir))

  /** The chain every `start*` shares: raw lines → records → watermarked
    * dedup → `batch` on each micro-batch (update mode, checkpointed).
    */
  private def startDeduped(lines: DataFrame, checkpointDir: String,
      trigger: Trigger)(batch: (DataFrame, Long) => Unit): StreamingQuery =
    deduped(records(lines))
      .writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch(batch)
      .start()

  /** Streaming rollup maintenance — [[graft.operators.IncrementalAgg]]'s
    * batch invariant applied as a foreachBatch sink: each micro-batch's
    * partial state (per channel×hour: n, sum/min/max of remark bytes)
    * merges with the stored rollup, so maintaining the materialized view
    * costs O(batch + rollup keys) per trigger, never O(history).
    *
    * The view is a [[graft.sinks.ManifestCommit]] table: batch `batchId`
    * publishes snapshot `batchId`, merged from the newest published
    * snapshot STRICTLY BELOW it. A replayed batch (restart after a crash)
    * therefore re-merges from the same base and replaces its own snapshot
    * instead of double-counting, and a crash before the publish leaves
    * only an unpublished staging dir that is never read or merged from.
    * After the publish the two newest snapshots are kept and crash
    * leftovers older than `vacuum`'s in-flight guard are reclaimed. Read
    * the view with `ManifestCommit.read`. A batch that has nothing to
    * merge from and no record publishes nothing (`ManifestCommit` rejects
    * a snapshot that staged no data file), so every published snapshot
    * holds rows. Feed it the DEDUPED stream: in-batch duplicate
    * ids are dropped here, cross-batch exact dedup is the record sink's job
    * (this view trades that for never re-reading history).
    */
  def rollupBatch(batch: DataFrame, batchId: Long, rollupDir: String): Unit = {
    import graft.operators.IncrementalAgg
    import graft.sinks.ManifestCommit
    val spark = batch.sparkSession
    val delta = IncrementalAgg.state(
      batch.dropDuplicates("id")
        .select(col("channel"),
          date_format(col("posted"), "yyyy-MM-dd HH:00:00").as("hour"),
          length(col("remark")).cast("long").as("bytes")),
      Seq(col("channel"), col("hour")), col("bytes"))
    val base = ManifestCommit.snapshots(spark, rollupDir).filter(_ < batchId).lastOption
      .map(ManifestCommit.readAt(spark, rollupDir, _))
    if (base.nonEmpty || !delta.isEmpty) {
      ManifestCommit.commit(
        base.fold(delta)(IncrementalAgg.merge(_, delta, Seq("channel", "hour"))),
        rollupDir, batchId)
      ManifestCommit.expire(spark, rollupDir, keep = 2)
      ManifestCommit.vacuum(spark, rollupDir)
    }
  }

  /** The reference's ACTUAL write loop, end-to-end (irclogbot.py:46-59):
    * stream → parse → dedup → per-RECORD sink write with bounded retry
    * ([[graft.sinks.IrcSink.MaxRetries]]) → drop (dead-letter). Use when
    * the sink is a record-level client (the ES analog) rather than a bulk
    * file store; [[start]] is the bulk-parquet form. A poisoned record
    * costs only itself, never the batch.
    */
  def startWithRecordSink(
      lines: DataFrame, checkpointDir: String,
      write: org.apache.spark.sql.Row => Unit,
      onDrop: org.apache.spark.sql.Row => Unit = _ => (),
      trigger: Trigger = Trigger.ProcessingTime("5 seconds")): StreamingQuery =
    startDeduped(lines, checkpointDir, trigger)((b, _) =>
      graft.sinks.IrcSink.writeEachWithRetry(b, write, onDrop): Unit)

  /** Liveness signal (the heartbeat-file analog, keep_alive.py:19-32): logs
    * batch progress; a supervisor watches for silence instead of mtime.
    */
  def attachHeartbeat(spark: SparkSession): Unit =
    spark.streams.addListener(new org.apache.spark.sql.streaming.StreamingQueryListener {
      import org.apache.spark.sql.streaming.StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit =
        println(s"[graft-stream] started ${e.id}")
      override def onQueryProgress(e: QueryProgressEvent): Unit =
        println(aliveLine(e.progress))
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
        println(s"[graft-stream] terminated ${e.id} err=${e.exception.getOrElse("none")}")
    })

  /** The phases of `durationMs` the heartbeat reports, in print order. */
  private val HeartbeatPhases =
    Seq("addBatch", "queryPlanning", "walCommit", "commitOffsets", "triggerExecution")

  /** The heartbeat's `alive` line: where the batch's time went (the
    * `durationMs` phases it ran) and how big each state operator is.
    */
  private[graft] def aliveLine(p: org.apache.spark.sql.streaming.StreamingQueryProgress): String = {
    val phases = HeartbeatPhases.flatMap(k =>
      Option(p.durationMs.get(k)).map(ms => s" $k=${ms}ms"))
    val state = p.stateOperators.map(o =>
      s" state[${o.operatorName}]=${o.numRowsTotal}rows/${o.memoryUsedBytes}B")
    s"[graft-stream] alive ${p.id} batch=${p.batchId} rows=${p.numInputRows}" +
      phases.mkString + state.mkString
  }
}
