package graft.sinks

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The engine's ES-index analog (SURVEY.md K1): a parquet table partitioned
  * by `channel` and `day`, written append-only with upsert-by-id semantics.
  *
  * Layout rationale for 100 TB: the reference's `irclog` index is queried by
  * channel, time range and full-text (SURVEY §0); partitioning on
  * (channel × day) makes both leading predicates partition-pruned — a
  * channel-day slice of even a 100 TB corpus is a handful of files. 155
  * channels × 365 days/yr stays far under per-directory limits.
  */
object IrcSink {

  /** Append records (schema: channel, nick, remark, posted, id) with
    * day-partition column derived from `posted`: one parquet file per
    * (channel, day) per call. The one writer of the (channel × day) layout,
    * shared with [[graft.streaming.IrcStream.upsertBatch]].
    *
    * A non-null `posted` and a non-empty `channel` are hard preconditions:
    * either one null or empty would write under __HIVE_DEFAULT_PARTITION__,
    * which no channel probe ever re-reads (isin never matches null), making
    * the row permanently un-dedupable. The call fails (it indicates an
    * upstream stamping bug) before any file is written, rather than
    * corrupt the table.
    *
    * The records are hash-repartitioned on the partition columns so each
    * (channel, day) lands in exactly one write task, hence one file.
    * Without it every write task emits a file for each (channel, day) it
    * holds. The count is explicit (`spark.sql.shuffle.partitions`): AQE
    * would coalesce a column-only repartition of a small batch into one
    * task that writes every file serially.
    *
    * Cost per call: one file per (channel, day), each with its `.crc`, and
    * a `channel=` and `day=` directory where they are new. The write goes
    * through [[NioLocalFileSystem]], so on a `file:` path none of those
    * creates starts a `chmod` process; with the stock local filesystem
    * each one does, about 5 ms apiece, most of a small batch's write.
    */
  def append(records: DataFrame, path: String): Unit = {
    val tasks = records.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    records
      .withColumn("day",
        when(col("posted").isNotNull && col("channel").isNotNull && col("channel") =!= "",
          date_format(col("posted"), "yyyy-MM-dd"))
          .otherwise(raise_error(lit(
            "IrcSink.append: null `posted` or null/empty `channel` — every record " +
              "must carry a non-null timestamp and a non-empty channel"))))
      .repartition(tasks, col("channel"), col("day"))
      .write
      .options(NioLocalFileSystem.WriteOptions)
      .partitionBy("channel", "day")
      .mode(SaveMode.Append)
      .parquet(path)
  }

  /** The reference's MAX_RETRIES (irclogbot.py:46-59): write attempts per
    * record before it is dead-lettered.
    */
  val MaxRetries = 5

  /** K2 — per-RECORD bounded retry → drop (dead-letter), the reference's ES
    * write loop semantics (irclogbot.py:46-59: ≤ [[MaxRetries]] attempts
    * per record, then the record is discarded and the bot moves on).
    * Spark's task-level retry would instead fail the WHOLE batch on a
    * poisoned record; this runs the per-record side-effecting `write` (the
    * ES-client analog) inside foreachPartition so one bad record costs only
    * itself.
    *
    * Distributed contract: `write` must be serializable and idempotent-safe
    * under replay (the surrounding sink is upsert-by-id). Counts come back
    * via accumulators; dropped records go to `onDrop` (dead-letter hook —
    * e.g. append to a quarantine dir) before being skipped.
    *
    * @return (written, dropped) counts for the batch
    */
  def writeEachWithRetry(
      records: DataFrame,
      write: org.apache.spark.sql.Row => Unit,
      onDrop: org.apache.spark.sql.Row => Unit = _ => ()): (Long, Long) = {
    val sc = records.sparkSession.sparkContext
    val ok = sc.longAccumulator("sink_written")
    val dropped = sc.longAccumulator("sink_dropped")
    records.foreachPartition { (rows: Iterator[org.apache.spark.sql.Row]) =>
      rows.foreach { r =>
        var attempts = 0
        var done = false
        while (!done && attempts < MaxRetries) {
          try { write(r); done = true }
          catch { case scala.util.control.NonFatal(_) => attempts += 1 }
        }
        if (done) ok.add(1)
        else { onDrop(r); dropped.add(1) }
      }
    }
    (ok.value, dropped.value)
  }

  /** Periodic compaction: rewrite the table keeping exactly one row per id —
    * the earliest-posted copy, ties broken deterministically. This is the
    * batch half of the reference's "ES overwrites whenever" unbounded dedup
    * (SURVEY §7.4(4)): the stream dedups within its watermark, compaction
    * sweeps anything that slipped past it. Work is per-(channel,day)
    * partition; ids never collide across channels (channel is hashed into
    * the id), so compaction parallelizes per partition with no global
    * shuffle barrier. It keeps its own write rather than
    * [[append]]'s: its input is the whole table, and one task per
    * (channel, day) would serialize the largest partition. It shares
    * [[append]]'s filesystem options.
    */
  def compact(spark: SparkSession, path: String, outPath: String): Unit = {
    val w = Window.partitionBy(col("id"))
      .orderBy(col("posted"), col("nick"), col("remark"))
    spark.read.parquet(path)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .drop("rn")
      .write
      .options(NioLocalFileSystem.WriteOptions)
      .partitionBy("channel", "day")
      .mode(SaveMode.Overwrite)
      .parquet(outPath)
  }
}
