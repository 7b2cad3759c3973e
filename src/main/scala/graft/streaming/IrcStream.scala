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
  * (never other channels, never non-id columns). Cost tracks the batch's
  * channel footprint, not sink size; [[graft.sinks.IrcSink.compact]] is a
  * storage-side sweep, not a correctness dependency.
  */
object IrcStream {

  /** Parse + normalize + stamp + key a stream of raw lines (column `value`,
    * e.g. from the socket or file source). `eventTime` defaults to
    * processing time like the reference (irclogbot.py:41); sources that
    * carry wire time can pass their own column.
    */
  def records(lines: DataFrame): DataFrame =
    IrcParser.record(IrcParser.parse(IrcParser.splitLines(lines, "value")))

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

  /** Watermarked exact dedup by content id (ST3): state is bounded by the
    * watermark; a duplicate arriving later than `watermark` after the
    * original can reach the sink, where [[upsertBatch]] still drops it —
    * regardless of which DAY the late copy's processing-time stamp lands on
    * (the v2 id excludes time, so the sink probe prunes on channel only).
    */
  def deduped(parsed: DataFrame, watermark: String = "10 minutes"): DataFrame =
    parsed
      .withWatermark("posted", watermark)
      .dropDuplicatesWithinWatermark("id")

  /** Tumbling-window message counts (ST4, the streaming date_histogram). */
  def hourlyCounts(recs: DataFrame, watermark: String = "10 minutes"): DataFrame =
    recs
      .withWatermark("posted", watermark)
      .groupBy(window(col("posted"), "1 hour"), col("channel"))
      .agg(count(lit(1)).as("n"))

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

  /** Sliding-window message counts (ST5, second half): overlapping windows
    * of `size` advancing every `slide` — each record contributes to
    * size/slide windows (the ES `date_histogram` with overlapping buckets /
    * moving-average surface). Batch mirror: `w5_sliding_window` in
    * WindowQueries, oracle-paired against a DuckDB window-start series.
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

  /** ST6 on the Spark 4-native state API: the same running per-nick counts
    * via `transformWithState` — typed per-key `ValueState` managed by the
    * state-store provider (the forward path; flatMapGroupsWithState above is
    * the stable classic form). Requires a column-family-capable store:
    * `spark.sql.streaming.stateStore.providerClass = ...RocksDBStateStoreProvider`.
    */
  def runningNickCountsTws(recs: DataFrame): DataFrame = {
    val spark = recs.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TimeMode, ValueState}
    class CountProcessor extends StatefulProcessor[String, String, (String, Long)] {
      @transient private var state: ValueState[Long] = _
      override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
        state = getHandle.getValueState[Long]("n",
          org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.streaming.TTLConfig.NONE)
      override def handleInputRows(key: String, rows: Iterator[String],
          timers: org.apache.spark.sql.streaming.TimerValues): Iterator[(String, Long)] = {
        val n = (if (state.exists()) state.get() else 0L) + rows.size
        state.update(n)
        Iterator((key, n))
      }
    }
    recs.select(col("nick")).as[String]
      .groupByKey(identity)
      .transformWithState(new CountProcessor, TimeMode.None(), OutputMode.Update())
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
    * and the probe still never scans other channels' data.
    *
    * Scale contract: a micro-batch covers a handful of channels, so the
    * anti-join's read side is those channels' directories, never the whole
    * table. A channel's full history is wider than one day's, but the probe
    * reads ONLY the `id` column (column-pruned parquet scan), so its cost is
    * the channel's id footprint, not its data. If even that grows hot,
    * [[graft.sinks.IrcSink.compact]] remains the storage-side sweep; the
    * correctness of THIS path no longer depends on it.
    * The layout matches [[graft.sinks.IrcSink.append]]; batch schema must
    * carry `channel` and a NON-NULL `posted` (the partition keys' sources —
    * a null `posted` would land in the Hive default partition and be
    * enforced fatal below, since every source stamps `posted` from
    * current_timestamp or wire time).
    */
  def upsertBatch(batch: DataFrame, batchId: Long, targetDir: String): Unit = {
    val spark = batch.sparkSession
    val fresh = batch.dropDuplicates("id")
      // Non-null `posted` AND non-empty `channel` are hard preconditions:
      // either one null/empty would write under __HIVE_DEFAULT_PARTITION__,
      // which no channel probe ever re-reads (isin never matches null),
      // making the row permanently un-dedupable. Fail the batch loudly
      // (it indicates an upstream stamping bug) rather than corrupt the sink.
      .withColumn("day",
        when(col("posted").isNotNull && col("channel").isNotNull && col("channel") =!= "",
          date_format(col("posted"), "yyyy-MM-dd"))
          .otherwise(raise_error(lit(
            "upsertBatch: null `posted` or null/empty `channel` — every record " +
              "must carry a non-null timestamp and a non-empty channel"))))
    // Explicit existence probe, NOT a broad catch: a transient FS error while
    // reading the sink must fail the batch (so it's retried) rather than
    // silently skip the anti-join and write duplicate ids.
    val target = new org.apache.hadoop.fs.Path(targetDir)
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(target)) {
      // persisted: the frame feeds the partition probe, the anti-join and
      // the write — one parse instead of three
      fresh.persist()
      try {
        // The batch's channel footprint, collected to the driver: bounded by
        // (channels in batch), i.e. tiny — this is partition METADATA, not
        // data.
        val channels = fresh.select(col("channel")).distinct()
          .collect().map(_.getString(0)).toSeq
        fresh.join(existingIds(spark, targetDir, channels), Seq("id"), "left_anti")
          .write.partitionBy("channel", "day").mode("append").parquet(targetDir)
      } finally fresh.unpersist()
    } else // first batch: sink dir absent
      fresh.write.partitionBy("channel", "day").mode("append").parquet(targetDir)
  }

  /** Ids already present in the sink, restricted to the given channels —
    * ALL days of those channels, because the v2 id excludes time and a late
    * duplicate may stamp a different day (see [[upsertBatch]]). `channel` is
    * a partition column of the sink layout, so the `isin` filter is a
    * PartitionFilter — Spark lists and reads only the matching channel
    * directories (asserted in StreamingSpec) — and the single-column select
    * prunes the scan to the `id` column.
    *
    * The read takes the sink's known schema instead of inferring it: a
    * first batch with no valid record leaves a sink directory holding only
    * `_SUCCESS`, where inference fails (UNABLE_TO_INFER_SCHEMA) and would
    * fail every later batch; with the schema given it reads as empty.
    */
  private[graft] def existingIds(spark: SparkSession, targetDir: String,
      channels: Seq[String]): DataFrame =
    spark.read.schema("id STRING, channel STRING").parquet(targetDir)
      .filter(col("channel").isin(channels: _*))
      .select(col("id"))

  /** Run the full pipeline: raw lines → records → dedup → upsert sink.
    * Restart with the same checkpointLocation resumes exactly where the
    * previous incarnation stopped (the supervisor loop of runbots.py:75-84
    * collapses into this contract).
    */
  def start(
      lines: DataFrame, targetDir: String, checkpointDir: String,
      watermark: String = "10 minutes",
      trigger: Trigger = Trigger.ProcessingTime("5 seconds")): StreamingQuery =
    startDeduped(lines, checkpointDir, watermark, trigger)(
      (b, id) => upsertBatch(b, id, targetDir))

  /** The chain every `start*` shares: raw lines → records → watermarked
    * dedup → `batch` on each micro-batch (update mode, checkpointed).
    */
  private def startDeduped(lines: DataFrame, checkpointDir: String,
      watermark: String, trigger: Trigger)(
      batch: (DataFrame, Long) => Unit): StreamingQuery =
    deduped(records(lines), watermark)
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
    * Durability/idempotence: the merged rollup lands as a VERSIONED
    * snapshot dir `v=<batchId>`, and the merge base is the max version
    * STRICTLY BELOW the current batchId — so a replayed batch (restart
    * after crash) overwrites its own partial/complete snapshot from the
    * same base instead of double-counting, and a crash mid-write leaves the
    * previous version intact. Versions older than the two most recent are
    * pruned after a successful write. Feed it the DEDUPED stream: in-batch
    * duplicate ids are dropped here, cross-batch exact dedup is the record
    * sink's job (this view trades that for never re-reading history).
    */
  def rollupBatch(batch: DataFrame, batchId: Long, rollupDir: String): Unit = {
    val spark = batch.sparkSession
    val fs = new org.apache.hadoop.fs.Path(rollupDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val delta = graft.operators.IncrementalAgg.state(
      batch.dropDuplicates("id")
        .select(col("channel"),
          date_format(col("posted"), "yyyy-MM-dd HH:00:00").as("hour"),
          length(col("remark")).cast("long").as("bytes")),
      Seq(col("channel"), col("hour")), col("bytes"))
    // Merge base = newest COMMITTED version strictly below this batch: a
    // torn snapshot (crash mid-write — v= dir present, no _SUCCESS marker)
    // must never be merged from, or the corruption would propagate into
    // every later version. The strictly-below rule makes replay idempotent:
    // a restarted batch re-merges from the same base and overwrites its own
    // partial/complete dir.
    val base = committedVersions(fs, rollupDir).filter(_ < batchId).sorted.lastOption
    val merged = base match {
      case Some(v) => graft.operators.IncrementalAgg.merge(
        spark.read.parquet(s"$rollupDir/v=$v"), delta, Seq("channel", "hour"))
      case None => delta
    }
    merged.write.mode("overwrite").parquet(s"$rollupDir/v=$batchId")
    // The retention below and readRollup both key off the _SUCCESS marker.
    // A deployment that disables markers
    // (mapreduce.fileoutputcommitter.marksuccessfuljobs=false, typical with
    // cloud committers) would make the just-written dir look torn — the
    // prune would delete EVERY version including this one and readRollup
    // would never serve again. The write above returned without throwing,
    // which is exactly the commit condition the marker encodes, so create
    // it ourselves when the committer didn't.
    val marker = new org.apache.hadoop.fs.Path(s"$rollupDir/v=$batchId/_SUCCESS")
    if (!fs.exists(marker)) fs.create(marker, true).close()
    // Retention: after the successful write (which re-listing now sees),
    // keep exactly the two most recent committed snapshots; everything else
    // — older committed versions AND any torn dirs left by crashes — is
    // dead weight and is pruned. The just-written version is committed by
    // construction (marker guaranteed above), so steady state is exactly
    // 2 dirs.
    val keep = committedVersions(fs, rollupDir).sorted.takeRight(2).toSet
    allVersions(fs, rollupDir).filterNot(keep).foreach(v =>
      fs.delete(new org.apache.hadoop.fs.Path(s"$rollupDir/v=$v"), true))
  }

  private def allVersions(fs: org.apache.hadoop.fs.FileSystem,
      rollupDir: String): Seq[Long] = {
    val dir = new org.apache.hadoop.fs.Path(rollupDir)
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq
      .map(_.getPath.getName)
      .collect { case n if n.startsWith("v=") => n.drop(2).toLong }
  }

  /** Versions whose write COMMITTED (the parquet job's _SUCCESS marker —
    * written last, so its presence means the snapshot is complete).
    */
  private def committedVersions(fs: org.apache.hadoop.fs.FileSystem,
      rollupDir: String): Seq[Long] =
    allVersions(fs, rollupDir).filter(v =>
      fs.exists(new org.apache.hadoop.fs.Path(s"$rollupDir/v=$v/_SUCCESS")))

  /** Current rollup state: the highest COMMITTED version — a torn snapshot
    * dir (no _SUCCESS) is never served.
    */
  def readRollup(spark: SparkSession, rollupDir: String): DataFrame = {
    val fs = new org.apache.hadoop.fs.Path(rollupDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val vs = committedVersions(fs, rollupDir)
    require(vs.nonEmpty, s"readRollup: no committed versions under $rollupDir")
    spark.read.parquet(s"$rollupDir/v=${vs.max}")
  }

  /** Stream → parse → dedup → incremental rollup view (ST + IncrementalAgg
    * composition). The record sink keeps full fidelity elsewhere; this
    * maintains the always-fresh aggregate a dashboard/alert reads.
    */
  def startRollup(
      lines: DataFrame, rollupDir: String, checkpointDir: String,
      watermark: String = "10 minutes",
      trigger: Trigger = Trigger.ProcessingTime("5 seconds")): StreamingQuery =
    startDeduped(lines, checkpointDir, watermark, trigger)(
      (b, id) => rollupBatch(b, id, rollupDir))

  /** The reference's ACTUAL write loop, end-to-end (irclogbot.py:46-59):
    * stream → parse → dedup → per-RECORD sink write with bounded retry →
    * drop (dead-letter). Use when the sink is a record-level client (the ES
    * analog) rather than a bulk file store; [[start]] is the bulk-parquet
    * form. A poisoned record costs only itself, never the batch.
    */
  def startWithRecordSink(
      lines: DataFrame, checkpointDir: String,
      write: org.apache.spark.sql.Row => Unit,
      maxAttempts: Int = 5,
      onDrop: org.apache.spark.sql.Row => Unit = _ => (),
      watermark: String = "10 minutes",
      trigger: Trigger = Trigger.ProcessingTime("5 seconds")): StreamingQuery =
    startDeduped(lines, checkpointDir, watermark, trigger)((b, _) =>
      graft.sinks.IrcSink.writeEachWithRetry(b, write, maxAttempts, onDrop): Unit)

  /** Liveness signal (the heartbeat-file analog, keep_alive.py:19-32): logs
    * batch progress; a supervisor watches for silence instead of mtime.
    */
  def attachHeartbeat(spark: SparkSession): Unit =
    spark.streams.addListener(new org.apache.spark.sql.streaming.StreamingQueryListener {
      import org.apache.spark.sql.streaming.StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit =
        println(s"[graft-stream] started ${e.id}")
      override def onQueryProgress(e: QueryProgressEvent): Unit =
        println(s"[graft-stream] alive ${e.progress.id} batch=${e.progress.batchId} " +
          s"rows=${e.progress.numInputRows}")
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
        println(s"[graft-stream] terminated ${e.id} err=${e.exception.getOrElse("none")}")
    })
}
