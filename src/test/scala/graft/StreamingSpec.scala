package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryException, Trigger}

import graft.streaming.IrcStream

/** ST1-ST7: MemoryStream-driven pipeline tests (SURVEY.md §5.2(4)). */
class StreamingSpec extends SparkSuite {
  import spark.implicits._

  private def sqlCtx = classic.sqlContext

  /** `store` plus 1000 queries whose only term occurs in no document: past
    * the percolator's 1000-query row-form limit, with the same hits.
    */
  private def fleet(store: org.apache.spark.sql.DataFrame) =
    store.unionByName((1000L until 2000L)
      .map(i => (i, Seq(s"zzzunseen$i"), 1)).toDF("query_id", "q_terms", "n_terms"))

  test("streaming parse + watermarked dedup drops the cross-bot duplicate (ST3)") {
    implicit val ctx = sqlCtx
    val ms = MemoryStream[String]
    ms.addData(
      ":alice!~a@h PRIVMSG #x :hello",
      ":alice!~a@h PRIVMSG #x :hello", // same v2 key, "other bot"
      ":bob!~b@h PRIVMSG #x :different")
    val q = IrcStream.deduped(IrcStream.records(ms.toDF()))
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    val out = spark.table("dedup_out")
    assert(out.count() == 2)
    assert(out.select("nick").as[String].collect().sorted.toSeq == Seq("alice", "bob"))
  }

  test("socket source end-to-end over a loopback ServerSocket (S1 live transport)") {
    // The literal reference transport (irclogbot.py:83-119): Spark's socket
    // source connects as a client, exactly like the bot's irc.connect(). A
    // local ServerSocket plays the IRC server — no egress needed. The feed
    // includes a PING (must be routed out of the record path, P4) and a
    // multi-line chunk written in one send() (one recv buffer, several lines).
    val server = new java.net.ServerSocket(0, 1,
      java.net.InetAddress.getLoopbackAddress)
    val feeder = new Thread(() => {
      val sock = server.accept()
      val w = new java.io.PrintWriter(
        new java.io.OutputStreamWriter(sock.getOutputStream, "UTF-8"))
      w.print(":alice!~a@h PRIVMSG #x :hello from the wire\r\n")
      w.flush()
      // one chunk, three lines — the bot's recv loop splits on \r\n
      w.print("PING :server1\r\n:bob!~b@h PRIVMSG #y :second line\r\n" +
        ":carol!~c@h PRIVMSG #x :third line\r\n")
      w.flush()
      // keep the connection open until the query is done reading; closing
      // early can fail the source mid-batch
      var open = true
      while (open && !sock.isClosed)
        try Thread.sleep(50) catch { case _: InterruptedException => open = false }
    })
    feeder.setDaemon(true)
    feeder.start()
    val q = IrcStream.records(
        IrcStream.fromSocket(spark, "localhost", server.getLocalPort))
      .writeStream.format("memory").queryName("socket_out")
      .outputMode("append").start()
    try {
      // the socket source is push-based: poll until the 3 PRIVMSGs land
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (spark.table("socket_out").count() < 3 && System.nanoTime() < deadline) {
        q.processAllAvailable()
        Thread.sleep(100)
      }
    } finally {
      q.stop()
      feeder.interrupt()
      server.close()
    }
    val out = spark.table("socket_out")
    assert(out.count() == 3, s"expected 3 records, got ${out.count()}")
    assert(out.select("nick").as[String].collect().sorted.toSeq ==
      Seq("alice", "bob", "carol"))
    assert(out.select("channel").as[String].collect().sorted.toSeq ==
      Seq("#x", "#x", "#y"))
    // the PING never became a record (P4 routing), and ids were stamped
    assert(out.filter(col("remark").contains("PING")).count() == 0)
    assert(out.select("id").distinct().count() == 3)
  }

  test("tumbling-window counts with watermark (ST4)") {
    implicit val ctx = sqlCtx
    val ms = MemoryStream[String]
    ms.addData(
      ":a!~a@h PRIVMSG #x :m1",
      ":b!~b@h PRIVMSG #x :m2",
      ":c!~c@h PRIVMSG #y :m3")
    val q = IrcStream.slidingCounts(IrcStream.records(ms.toDF()), "1 hour", "1 hour")
      .writeStream.format("memory").queryName("window_out")
      .outputMode("complete").start()
    q.processAllAvailable()
    q.stop()
    val out = spark.table("window_out").select(col("channel"), col("n"))
      .as[(String, Long)].collect().toMap
    assert(out == Map("#x" -> 2L, "#y" -> 1L))
  }

  test("foreachBatch upsert is idempotent across replays (K1/ST7)") {
    val dir = Files.createTempDirectory("graft_upsert").toString + "/sink"
    def mk(rows: (String, String, String, String, String)*) =
      rows.toSeq.toDF("id", "channel", "nick", "remark", "p")
        .withColumn("posted", to_timestamp(col("p"))).drop("p")
    val batch = mk(
      ("id1", "#x", "alice", "m1", "2024-01-01 10:00:00"),
      ("id1", "#x", "alice", "m1", "2024-01-01 10:00:00"), // in-batch dup
      ("id2", "#x", "bob", "m2", "2024-01-01 10:00:01"))
    IrcStream.upsertBatch(batch, 0L, dir)
    // crash-replay of the same batch + one new record
    val replay = batch.union(mk(("id3", "#y", "carol", "m3", "2024-01-02 09:00:00")))
    IrcStream.upsertBatch(replay, 0L, dir)
    val sink = spark.read.parquet(dir)
    assert(sink.count() == 3)
    assert(sink.select("id").distinct().count() == 3)
  }

  /** Rollup-test rows: (id, channel, nick, remark, posted). */
  private def rollupRows(rows: (String, String, String, String, String)*) =
    rows.toSeq.toDF("id", "channel", "nick", "remark", "p")
      .withColumn("posted", to_timestamp(col("p"))).drop("p")

  /** The rollup view's current (channel, hour, n, sum_cents) rows. */
  private def rollupView(dir: String) =
    graft.sinks.ManifestCommit.read(spark, dir)
      .select("channel", "hour", "n", "sum_cents")
      .as[(String, String, Long, Long)].collect().toSet

  test("streaming rollup: batches merge to the full recompute; replay can't double-count") {
    val dir = Files.createTempDirectory("graft_rollup").toString + "/view"
    val b0 = rollupRows(
      ("id1", "#x", "alice", "hello", "2024-01-01 10:05:00"),
      ("id2", "#x", "bob", "worlds", "2024-01-01 10:40:00"),
      ("id3", "#y", "carol", "hey", "2024-01-01 10:10:00"))
    val b1 = rollupRows(
      ("id4", "#x", "alice", "again", "2024-01-01 10:50:00"),
      ("id5", "#x", "dave", "more text", "2024-01-01 11:02:00"))
    IrcStream.rollupBatch(b0, 0L, dir)
    IrcStream.rollupBatch(b1, 1L, dir)
    // crash-replay of batch 1: same batchId must NOT double-count
    IrcStream.rollupBatch(b1, 1L, dir)
    // full recompute over all records: #x 10h = hello(5)+worlds(6)+again(5),
    // #x 11h = more text(9), #y 10h = hey(3)
    assert(rollupView(dir) == Set(
      ("#x", "2024-01-01 10:00:00", 3L, 16L),
      ("#x", "2024-01-01 11:00:00", 1L, 9L),
      ("#y", "2024-01-01 10:00:00", 1L, 3L)))
    // only the two most recent snapshots are retained
    assert(graft.sinks.ManifestCommit.snapshots(spark, dir) == Seq(0L, 1L))
  }

  test("streaming rollup: kill-mid-batch leaves a torn snapshot that is never " +
      "served or merged; replay recovers and retention stays exactly 2") {
    import graft.sinks.ManifestCommit
    val dir = Files.createTempDirectory("graft_rollup_chaos").toString + "/view"
    IrcStream.rollupBatch(
      rollupRows(("id1", "#x", "alice", "hello", "2024-01-01 10:05:00")), 0L, dir)
    IrcStream.rollupBatch(
      rollupRows(("id2", "#x", "bob", "worlds", "2024-01-01 10:40:00")), 1L, dir)
    // crash mid-commit of batch 2: its attempt staged data and wrote the tmp
    // manifest, but never renamed it into place. The staged part claims a
    // huge count, so merging from it or serving it would show.
    val torn = s"$dir/snap_2_deadbeef"
    Seq(("#x", "2024-01-01 10:00:00", 1000L, 1000L, 1L, 1L))
      .toDF("channel", "hour", "n", "sum_cents", "min_cents", "max_cents")
      .write.parquet(torn)
    val tornPart = new java.io.File(torn).list().filter(_.startsWith("part-")).head
    val tmp = new java.io.File(dir, "_manifest_2.deadbeef.tmp")
    Files.write(tmp.toPath,
      s"snapshot\tsnap_2_deadbeef\n$tornPart\t0".getBytes("UTF-8"))
    // old enough for vacuum's in-flight guard to treat them as crash leftovers
    val old = System.currentTimeMillis() - 48L * 3600 * 1000
    assert(new java.io.File(torn).setLastModified(old) && tmp.setLastModified(old))
    // the torn attempt is not served: reads come from published snapshot 1
    assert(ManifestCommit.snapshots(spark, dir) == Seq(0L, 1L))
    assert(rollupView(dir) == Set(("#x", "2024-01-01 10:00:00", 2L, 11L)))
    // the restarted stream replays batch 2: the merge base must be the
    // published snapshot 1 (never the torn attempt), and the replay's own
    // publish heals snapshot 2 and reclaims the torn leftovers
    IrcStream.rollupBatch(
      rollupRows(("id3", "#y", "carol", "hey", "2024-01-01 10:10:00")), 2L, dir)
    assert(rollupView(dir) == Set(
      ("#x", "2024-01-01 10:00:00", 2L, 11L),
      ("#y", "2024-01-01 10:00:00", 1L, 3L)))
    assert(!new java.io.File(torn).exists() && !tmp.exists(),
      "torn attempt not reclaimed")
    // retention after the healing write: exactly the two newest snapshots
    assert(ManifestCommit.snapshots(spark, dir) == Seq(1L, 2L))
    // steady state stays exactly 2 snapshots as more batches land
    IrcStream.rollupBatch(
      rollupRows(("id4", "#x", "dave", "more", "2024-01-01 11:02:00")), 3L, dir)
    assert(ManifestCommit.snapshots(spark, dir) == Seq(2L, 3L))
  }

  test("streaming rollup: survives committers that skip _SUCCESS markers " +
      "(retention must not prune the just-written version)") {
    // mapreduce.fileoutputcommitter.marksuccessfuljobs=false is typical
    // with S3/cloud committers. The view's commit audits the staged part
    // files and publishes a manifest, so it must serve and retain the same
    // two snapshots without the marker.
    val dir = Files.createTempDirectory("graft_rollup_nomark").toString + "/view"
    val conf = spark.sparkContext.hadoopConfiguration
    val prev = conf.get("mapreduce.fileoutputcommitter.marksuccessfuljobs")
    conf.set("mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
    try {
      IrcStream.rollupBatch(
        rollupRows(("id1", "#x", "alice", "hello", "2024-01-01 10:05:00")), 0L, dir)
      IrcStream.rollupBatch(
        rollupRows(("id2", "#x", "bob", "worlds", "2024-01-01 10:40:00")), 1L, dir)
      IrcStream.rollupBatch(
        rollupRows(("id3", "#x", "carol", "hey", "2024-01-01 10:10:00")), 2L, dir)
      assert(rollupView(dir) == Set(("#x", "2024-01-01 10:00:00", 3L, 14L)))
      assert(graft.sinks.ManifestCommit.snapshots(spark, dir) == Seq(1L, 2L))
      assert(!new java.io.File(dir).list().exists(_.startsWith("snap_0_")),
        "expired snapshot's staged data survived")
    } finally {
      if (prev == null) conf.unset("mapreduce.fileoutputcommitter.marksuccessfuljobs")
      else conf.set("mapreduce.fileoutputcommitter.marksuccessfuljobs", prev)
    }
  }

  test("streaming rollup: an empty first batch publishes nothing and the " +
      "next batch reads back the recompute") {
    val dir = Files.createTempDirectory("graft_rollup_empty").toString + "/view"
    val b1 = rollupRows(
      ("id1", "#x", "alice", "hello", "2024-01-01 10:05:00"),
      ("id2", "#y", "bob", "worlds", "2024-01-01 10:40:00"))
    // a no-data micro-batch first: nothing to merge from, nothing to publish
    IrcStream.rollupBatch(b1.limit(0), 0L, dir)
    assert(graft.sinks.ManifestCommit.snapshots(spark, dir).isEmpty)
    IrcStream.rollupBatch(b1, 1L, dir)
    assert(rollupView(dir) == Set(
      ("#x", "2024-01-01 10:00:00", 1L, 5L),
      ("#y", "2024-01-01 10:00:00", 1L, 6L)))
    assert(graft.sinks.ManifestCommit.snapshots(spark, dir) == Seq(1L))
  }

  test("upsert anti-join reads only the batch's channel partitions (K1 at scale)") {
    val dir = Files.createTempDirectory("graft_upsert_prune").toString + "/sink"
    def mk(rows: (String, String, String, String, String)*) =
      rows.toSeq.toDF("id", "channel", "nick", "remark", "p")
        .withColumn("posted", to_timestamp(col("p"))).drop("p")
    // seed FOUR sink partitions: 2 channels × 2 days
    IrcStream.upsertBatch(mk(
      ("a1", "#x", "alice", "m1", "2024-01-01 10:00:00"),
      ("a2", "#x", "alice", "m2", "2024-01-02 10:00:00"),
      ("b1", "#y", "bob", "m3", "2024-01-01 10:00:00"),
      ("b2", "#y", "bob", "m4", "2024-01-02 10:00:00")), 0L, dir)
    // a single-channel probe must list that channel's TWO day directories
    // (every day — the v2 id excludes time) and neither of #y's
    val probe = IrcStream.existingIds(spark, dir, Seq("#x"))
    val scans = probe.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.nonEmpty, "expected a FileSourceScanExec in the probe plan")
    assert(scans.map(_.selectedPartitions.partitionCount).sum == 2,
      s"probe read ${scans.map(_.selectedPartitions.partitionCount).sum} partitions, wanted #x's 2 of 4")
    // column pruning: the probe reads only the id column off disk
    assert(scans.forall(_.requiredSchema.fieldNames.toSeq == Seq("id")),
      s"probe read columns ${scans.map(_.requiredSchema.fieldNames.mkString(",")).mkString(";")}, wanted id only")
    assert(probe.collect().map(_.getString(0)).sorted.toSeq == Seq("a1", "a2"))
    // and the pruned upsert still dedups: replaying a1 into its partition
    // inserts nothing
    IrcStream.upsertBatch(mk(("a1", "#x", "alice", "m1", "2024-01-01 10:00:00")), 1L, dir)
    assert(spark.read.parquet(dir).count() == 4)
  }

  /** Every file under `dir` (relative paths), sorted. */
  private def filesUnder(dir: String): Seq[String] = {
    val root = java.nio.file.Paths.get(dir)
    val s = Files.walk(root)
    try s.filter(Files.isRegularFile(_)).map(p => root.relativize(p).toString)
      .toArray.map(_.toString).sorted.toSeq
    finally s.close()
  }

  private def mkRecords(rows: Seq[(String, String, String, String, String)]) =
    rows.toDF("id", "channel", "nick", "remark", "p")
      .withColumn("posted", to_timestamp(col("p"))).drop("p")

  test("one upsert adds exactly one parquet file per (channel, day) it touches") {
    val dir = Files.createTempDirectory("graft_upsert_files").toString + "/sink"
    val pairs = Seq(("#x", "2024-01-01"), ("#x", "2024-01-02"), ("#y", "2024-01-01"))
    // A micro-batch arrives hash-partitioned on id by the stream's dedup
    // state; eight ids per (channel, day) put every pair's rows in at least
    // two of four such partitions.
    def batch(tag: String) = mkRecords(for {
      (ch, day) <- pairs; i <- 0 until 8
    } yield (s"$tag$ch$day-$i", ch, "n", s"$tag m$i", s"$day 10:00:0$i"))
      .repartition(4, col("id"))
    def parquetFiles = filesUnder(dir).filter(_.endsWith(".parquet"))
    for ((tag, id) <- Seq("a" -> 0L, "b" -> 1L)) { // absent sink, then a probed one
      val b = batch(tag)
      val spread = b.withColumn("part", spark_partition_id())
        .groupBy(col("channel"), date_format(col("posted"), "yyyy-MM-dd"))
        .agg(countDistinct("part").as("parts"))
        .select("parts").as[Long].collect()
      assert(spread.length == pairs.size && spread.forall(_ >= 2),
        s"each pair must span >= 2 input partitions: $spread")
      val before = if (id == 0L) Seq.empty else parquetFiles
      IrcStream.upsertBatch(b, id, dir)
      assert(parquetFiles.size - before.size == pairs.size,
        s"batch $tag added ${parquetFiles.diff(before).mkString(", ")}")
    }
    assert(spark.read.parquet(dir).count() == 2 * 8 * pairs.size)
  }

  test("the existing-id probe over 35 of 40 channels starts no Spark job") {
    val dir = Files.createTempDirectory("graft_probe_jobs").toString + "/sink"
    val channels = (0 until 40).map(i => s"#c$i")
    val wanted = channels.take(35)
    val days = (0 until 40).map(d => java.time.LocalDate.of(2024, 1, 1).plusDays(d).toString)
    def write(chDays: Seq[(String, String)], id: Long) = IrcStream.upsertBatch(
      mkRecords(chDays.map { case (ch, d) => (s"$ch-$d", ch, "n", s"m $d", s"$d 10:00:00") }),
      id, dir)
    def probeIds() = {
      val (probe, jobs) = jobsDuring(IrcStream.existingIds(spark, dir, wanted))
      (probe.as[String].collect().sorted.toSeq, jobs)
    }
    write(for (ch <- channels; d <- days.take(2)) yield (ch, d), 0L)
    // 40 channel directories exceed Spark's parallel-discovery threshold
    // (32): a whole-sink read would list them with a distributed job
    val (young, youngJobs) = probeIds()
    assert(youngJobs == 0, s"building the probe ran $youngJobs Spark job(s)")
    assert(young == (for (ch <- wanted; d <- days.take(2)) yield s"$ch-$d").sorted)
    // three channels reach 40 day directories: listing each of them would
    // start a job, so the probe lists the whole sink with one
    write(for (ch <- channels.take(3); d <- days.drop(2)) yield (ch, d), 1L)
    val aged = (young ++ (for (ch <- channels.take(3); d <- days.drop(2)) yield s"$ch-$d")).sorted
    val (agedIds, agedJobs) = probeIds()
    assert(agedJobs <= 1, s"building the probe ran $agedJobs Spark job(s)")
    assert(agedIds == aged)
    // a threshold of 0 (list every directory with a job) is a valid setting
    val threshold = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    spark.conf.set(threshold, "0")
    try assert(probeIds()._1 == aged) finally spark.conf.unset(threshold)
  }

  test("a no-data micro-batch into an existing sink writes nothing and runs at most one job") {
    implicit val ctx = sqlCtx
    val base = Files.createTempDirectory("graft_upsert_empty").toString
    val sink = s"$base/sink"
    // per batch: jobs the upsert ran, and whether it left the sink's files as they were
    val perBatch = scala.collection.concurrent.TrieMap.empty[Long, (Int, Boolean)]
    val ms = MemoryStream[String]
    val q = IrcStream.deduped(IrcStream.records(ms.toDF()))
      .writeStream.outputMode("update")
      .option("checkpointLocation", s"$base/ckpt")
      .trigger(Trigger.ProcessingTime(0))
      .foreachBatch { (b: DataFrame, id: Long) =>
        val before = if (Files.exists(java.nio.file.Paths.get(sink))) filesUnder(sink) else Nil
        val (_, jobs) = jobsDuring(IrcStream.upsertBatch(b, id, sink))
        perBatch(id) = (jobs, filesUnder(sink) == before)
      }
      .start()
    // the data batch advances the watermark, and the stream follows it with
    // a no-data batch that evicts dedup state (an idle trigger also reports
    // a progress, with the id of the batch it did not run, so sum per id)
    def noData = q.recentProgress.groupBy(_.batchId).collect {
      case (id, ps) if ps.map(_.numInputRows).sum == 0 && perBatch.contains(id) => id
    }
    try {
      ms.addData(":alice!~a@h PRIVMSG #x :m1", ":bob!~b@h PRIVMSG #y :m2")
      q.processAllAvailable()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (noData.isEmpty && System.nanoTime() < deadline) Thread.sleep(50)
    } finally q.stop()
    assert(noData.nonEmpty, "the stream ran no no-data batch")
    for (id <- noData) {
      val (jobs, unchanged) = perBatch(id)
      assert(jobs <= 1, s"no-data batch $id ran $jobs Spark jobs")
      assert(unchanged, s"no-data batch $id changed the sink's files")
    }
  }

  test("upsert drops a same-id duplicate arriving on a DIFFERENT day (K1/ST7 cross-day)") {
    // the exact case the v2 time-less id creates: original at 23:55, the
    // cross-bot duplicate stamped past midnight — day-pruned probing missed
    // it (round-6 bug); channel-pruned probing must not
    val dir = Files.createTempDirectory("graft_upsert_xday").toString + "/sink"
    def mk(p: String) =
      Seq(("id1", "#x", "alice", "m1", p)).toDF("id", "channel", "nick", "remark", "p")
        .withColumn("posted", to_timestamp(col("p"))).drop("p")
    IrcStream.upsertBatch(mk("2024-01-01 23:55:00"), 0L, dir)
    IrcStream.upsertBatch(mk("2024-01-02 00:05:00"), 1L, dir)
    val sink = spark.read.parquet(dir)
    assert(sink.filter(col("id") === "id1").count() == 1,
      "cross-day duplicate was re-inserted")
    assert(sink.count() == 1)
  }

  test("upsert fails loudly on a null posted instead of corrupting the sink") {
    val dir = Files.createTempDirectory("graft_upsert_null").toString + "/sink"
    val bad = Seq(("id1", "#x", "alice", "m1"))
      .toDF("id", "channel", "nick", "remark")
      .withColumn("posted", lit(null).cast("timestamp"))
    val e = intercept[Exception] { IrcStream.upsertBatch(bad, 0L, dir) }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("null `posted`")),
      s"expected the null-posted precondition error, got: $e")
  }

  test("upsert fails loudly on a null or empty channel instead of corrupting the sink") {
    // channel is the other partition key: a null/empty channel would land in
    // __HIVE_DEFAULT_PARTITION__ and isin(null) never matches, so the row
    // would be permanently un-dedupable — same corruption class as posted.
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    for (badChannel <- Seq(null: String, "")) {
      val dir = Files.createTempDirectory("graft_upsert_nullch").toString + "/sink"
      val bad = Seq(("id1", badChannel, "alice", "m1", "2024-01-01 10:00:00"))
        .toDF("id", "channel", "nick", "remark", "p")
        .withColumn("posted", to_timestamp(col("p"))).drop("p")
      val e = intercept[Exception] { IrcStream.upsertBatch(bad, 0L, dir) }
      assert(messages(e).exists(_.contains("channel")),
        s"expected the channel precondition error for ${Option(badChannel)}, got: $e")
    }
  }

  test("sliding windows: each record lands in size/slide overlapping windows (ST5)") {
    implicit val ctx = sqlCtx
    val ms = MemoryStream[String]
    ms.addData(
      ":alice!~a@h PRIVMSG #x :m1",
      ":bob!~b@h PRIVMSG #x :m2", // same processing second ⇒ same windows
      ":carol!~c@h PRIVMSG #y :m3")
    val q = IrcStream.slidingCounts(IrcStream.records(ms.toDF()),
        size = "10 minutes", slide = "1 minute")
      .writeStream.format("memory").queryName("sliding_out")
      .outputMode("complete").start()
    q.processAllAvailable()
    q.stop()
    val out = spark.table("sliding_out")
      .select(col("channel"), col("window.start").as("ws"), col("n"))
    // 10-minute window sliding by 1 minute ⇒ every record appears in exactly
    // 10 windows; both #x records share a second, so all 10 have n=2
    val x = out.filter(col("channel") === "#x").select("n").as[Long].collect()
    assert(x.length == 10, s"expected 10 overlapping windows, got ${x.length}")
    assert(x.forall(_ == 2L))
    assert(out.filter(col("channel") === "#y").count() == 10)
    // window starts are distinct and 1 minute apart
    val starts = out.filter(col("channel") === "#x")
      .select(col("ws").cast("long")).as[Long].collect().sorted
    assert(starts.distinct.length == 10)
    assert(starts.sliding(2).forall(p => p(1) - p(0) == 60L))
  }

  test("session windows fold gap-close messages per nick (ST5)") {
    implicit val ctx = sqlCtx
    val ms = MemoryStream[String]
    ms.addData(
      ":alice!~a@h PRIVMSG #x :m1",
      ":alice!~a@h PRIVMSG #x :m2", // same processing second ⇒ same session
      ":bob!~b@h PRIVMSG #x :m3")
    val q = IrcStream.sessionCounts(IrcStream.records(ms.toDF()), gap = "5 minutes")
      .writeStream.format("memory").queryName("session_out")
      .outputMode("complete").start()
    q.processAllAvailable()
    q.stop()
    val out = spark.table("session_out").select(col("nick"), col("n"))
      .as[(String, Long)].collect().toMap
    assert(out == Map("alice" -> 2L, "bob" -> 1L))
  }

  test("flatMapGroupsWithState keeps per-nick running counts across batches (ST6)") {
    implicit val ctx = sqlCtx
    val ms = MemoryStream[String]
    val q = IrcStream.runningNickCounts(IrcStream.records(ms.toDF()))
      .writeStream.format("memory").queryName("state_out")
      .outputMode("update").start()
    ms.addData(":alice!~a@h PRIVMSG #x :m1", ":bob!~b@h PRIVMSG #x :m2")
    q.processAllAvailable()
    ms.addData(":alice!~a@h PRIVMSG #x :m3")
    q.processAllAvailable()
    q.stop()
    // last update for alice must be 2 (state carried across micro-batches)
    val rows = spark.table("state_out").select(col("nick"), col("n"))
      .as[(String, Long)].collect()
    assert(rows.filter(_._1 == "alice").map(_._2).max == 2L)
    assert(rows.filter(_._1 == "bob").map(_._2).max == 1L)
  }

  test("checkpoint restart resumes without reprocessing (ST7 supervision contract)") {
    val base = Files.createTempDirectory("graft_ckpt").toString
    val inDir = s"$base/in"; Files.createDirectories(java.nio.file.Paths.get(inDir))
    def drop(name: String, lines: String*): Unit =
      Files.write(java.nio.file.Paths.get(s"$inDir/$name"),
        lines.mkString("\n").getBytes("UTF-8"))

    drop("f1.txt", ":alice!~a@h PRIVMSG #x :m1", ":bob!~b@h PRIVMSG #x :m2")
    val q1 = IrcStream.start(IrcStream.fromTextDir(spark, inDir),
      s"$base/sink", s"$base/ckpt")
    q1.processAllAvailable(); q1.stop() // "crash"

    // duplicate of m1 (other bot) + one genuinely new message arrive while down
    drop("f2.txt", ":alice!~a@h PRIVMSG #x :m1", ":carol!~c@h PRIVMSG #x :m3")
    val q2 = IrcStream.start(IrcStream.fromTextDir(spark, inDir),
      s"$base/sink", s"$base/ckpt") // same checkpoint = supervisor restart
    q2.processAllAvailable(); q2.stop()

    val sink = spark.read.parquet(s"$base/sink")
    assert(sink.count() == 3) // m1 m2 m3 exactly once; f1 not reprocessed
    assert(sink.select("id").distinct().count() == 3)
    assert(sink.select("nick").as[String].collect().sorted.toSeq ==
      Seq("alice", "bob", "carol"))
  }

  test("a crash after the sink write but before the offset commit replays " +
      "into the sink exactly once (K1/ST7 crash-replay)") {
    implicit val ctx = sqlCtx
    val base = Files.createTempDirectory("graft_crash_replay").toString
    val (sink, ckpt) = (s"$base/sink", s"$base/ckpt")
    val ms = MemoryStream[String]
    var crashed = false
    // the batch carrying the second chunk commits its sink files, then dies
    // before the stream commits its offsets: the restart must replay it.
    // (Batch ids alone do not find it: a watermark advance adds no-data
    // batches in between.)
    val q1 = IrcStream.deduped(IrcStream.records(ms.toDF()))
      .writeStream.outputMode("update")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.ProcessingTime(0))
      .foreachBatch { (b: DataFrame, id: Long) =>
        IrcStream.upsertBatch(b, id, sink)
        if (!crashed && spark.read.parquet(sink).filter(col("remark") === "m3").count() > 0) {
          crashed = true
          throw new IllegalStateException("crash between sink write and offset commit")
        }
      }
      .start()
    try {
      ms.addData(":alice!~a@h PRIVMSG #x :m1", ":bob!~b@h PRIVMSG #y :m2")
      q1.processAllAvailable()
      ms.addData(":alice!~a@h PRIVMSG #x :m1", ":carol!~c@h PRIVMSG #x :m3",
        ":dave!~d@h PRIVMSG #z :m4")
      intercept[StreamingQueryException](q1.processAllAvailable())
    } finally q1.stop()
    assert(crashed, "the second chunk's batch never ran")

    val q2 = IrcStream.start(ms.toDF(), sink, ckpt, trigger = Trigger.ProcessingTime(0))
    try {
      ms.addData(":erin!~e@h PRIVMSG #y :m5", "PING :server")
      q2.processAllAvailable()
    } finally q2.stop()
    assert(q2.exception.isEmpty, q2.exception.map(_.getMessage).getOrElse(""))
    val row = spark.read.parquet(sink).agg(count(lit(1)), countDistinct("id")).head()
    // m1..m5: five distinct valid keys, each exactly once
    assert((row.getLong(0), row.getLong(1)) == (5L, 5L))
  }

  test("heartbeat alive line reports the batch's phase durations and state size") {
    implicit val ctx = sqlCtx
    val ms = MemoryStream[String]
    ms.addData(":alice!~a@h PRIVMSG #x :m1", ":bob!~b@h PRIVMSG #y :m2",
      ":alice!~a@h PRIVMSG #x :m1")
    val q = IrcStream.deduped(IrcStream.records(ms.toDF()))
      .writeStream.format("memory").queryName("heartbeat_out")
      .outputMode("append").start()
    // a watermark advance may add a no-data batch after the data batch
    val p = try { q.processAllAvailable(); q.recentProgress.find(_.numInputRows > 0).get }
      finally q.stop()
    val line = IrcStream.aliveLine(p)
    assert(line.startsWith(s"[graft-stream] alive ${p.id} batch=${p.batchId} rows=3 "), line)
    for (k <- Seq("addBatch", "queryPlanning", "walCommit", "commitOffsets", "triggerExecution")) {
      assert(p.durationMs.containsKey(k), s"progress lacks $k")
      assert(line.contains(s" $k=${p.durationMs.get(k)}ms"), line)
    }
    val op = p.stateOperators.head
    assert(op.numRowsTotal == 2L && op.memoryUsedBytes > 0L)
    assert(line.endsWith(s" state[${op.operatorName}]=2rows/${op.memoryUsedBytes}B"), line)
  }

  test("stream-stream correlate joins events within the time window only") {
    implicit val ctx = sqlCtx
    val clicks = MemoryStream[(Long, String)]
    val buys = MemoryStream[(Long, String)]
    def toDf(ms: MemoryStream[(Long, String)]) = ms.toDF()
      .selectExpr("_2 AS user", "timestamp_seconds(_1) AS ts")
    clicks.addData((100L, "alice"), (500L, "alice"), (100L, "bob"))
    buys.addData((130L, "alice"), (700L, "bob"))
    val q = graft.streaming.IrcStream.correlate(
        toDf(buys), toDf(clicks), key = "user", tsCol = "ts", maxGapSec = 60)
      .writeStream.format("memory").queryName("corr_out")
      .outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("corr_out")
      .selectExpr("l_user", "unix_seconds(l_ts)", "unix_seconds(r_ts)")
      .as[(String, Long, Long)].collect().toSet
    // alice@130 pairs with click@100 (within 60s); not with click@500
    // (after); bob@700 has no click within [640, 700]
    assert(got == Set(("alice", 130L, 100L)))
  }

  test("backpressure: maxFilesPerTrigger bounds per-micro-batch input (ST8)") {
    val base = Files.createTempDirectory("graft_bp").toString
    val inDir = s"$base/in"; Files.createDirectories(java.nio.file.Paths.get(inDir))
    // 3 files × 2 lines, but each trigger may admit at most ONE file
    (1 to 3).foreach { i =>
      Files.write(java.nio.file.Paths.get(s"$inDir/f$i.txt"),
        (s":u${i}a!~u@h PRIVMSG #x :m${i}a\n:u${i}b!~u@h PRIVMSG #x :m${i}b")
          .getBytes("UTF-8"))
    }
    val q = IrcStream.start(
      IrcStream.fromTextDir(spark, inDir, maxFilesPerTrigger = 1),
      s"$base/sink", s"$base/ckpt")
    q.processAllAvailable(); q.stop()
    // all 6 records landed…
    assert(spark.read.parquet(s"$base/sink").count() == 6)
    // …across ≥ 3 data batches, none exceeding one file's 2 rows
    val dataBatches = q.recentProgress.filter(_.numInputRows > 0)
    assert(dataBatches.length >= 3,
      s"expected >=3 bounded batches, got ${dataBatches.length}")
    assert(dataBatches.forall(_.numInputRows <= 2),
      s"a batch exceeded the 1-file bound: ${dataBatches.map(_.numInputRows).mkString(",")}")
  }

  test("left-outer correlate emits unmatched buys null-padded after the watermark") {
    implicit val ctx = sqlCtx
    val clicks = MemoryStream[(Long, String)]
    val buys = MemoryStream[(Long, String)]
    def toDf(ms: MemoryStream[(Long, String)]) = ms.toDF()
      .selectExpr("_2 AS user", "timestamp_seconds(_1) AS ts")
    clicks.addData((100L, "alice"))
    buys.addData((130L, "alice"), (700L, "bob")) // bob has no click in window
    val q = IrcStream.correlate(
        toDf(buys), toDf(clicks), key = "user", tsCol = "ts", maxGapSec = 60,
        watermark = "10 seconds", joinType = "leftOuter")
      .writeStream.format("memory").queryName("corr_outer")
      .outputMode("append").start()
    q.processAllAvailable()
    // advance both watermarks far past bob@700's window so the unmatched
    // row is finalized and emitted null-padded
    clicks.addData((5000L, "zz")); buys.addData((5000L, "zz"))
    q.processAllAvailable(); q.stop()
    val got = spark.table("corr_outer")
      .selectExpr("l_user", "r_user").collect()
      .map(r => (r.getString(0), Option(r.getString(1)))).toSet
    assert(got.contains(("alice", Some("alice")))) // matched pair
    assert(got.contains(("bob", None)), s"unmatched buy not emitted: $got")
  }

  test("record sink stream drops a poisoned record after bounded retries " +
    "without failing the batch (K2 e2e)") {
    implicit val ctx = sqlCtx
    K2Probe.reset()
    val base = Files.createTempDirectory("graft_k2").toString
    val ms = MemoryStream[String]
    ms.addData(
      ":alice!~a@h PRIVMSG #x :fine message",
      ":POISON!~p@h PRIVMSG #x :always rejected",
      ":bob!~b@h PRIVMSG #x :also fine")
    val q = IrcStream.startWithRecordSink(ms.toDF(), s"$base/ckpt",
      r => K2Probe.write(r.getAs[String]("nick"), r.getAs[String]("id")),
      onDrop = r => K2Probe.deadLetter(r.getAs[String]("id")))
    q.processAllAvailable(); q.stop()
    assert(K2Probe.written.size == 2) // alice + bob landed
    assert(K2Probe.dead.size == 1)    // the poisoned record dead-lettered
    assert(K2Probe.attempts.values.toArray.map(_.asInstanceOf[Integer].intValue).max == 5)
  }

  test("a first batch with no valid PRIVMSG does not poison the sink") {
    implicit val ctx = sqlCtx
    val base = Files.createTempDirectory("graft_empty_first").toString
    val ms = MemoryStream[String]
    val q = IrcStream.start(ms.toDF(), s"$base/sink", s"$base/ckpt",
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    try {
      // batch 0: only PING/JOIN traffic — the sink dir gets just _SUCCESS
      ms.addData("PING :irc.example.net", ":bob!~b@h JOIN #x")
      q.processAllAvailable()
      // batch 1: real messages must land (the probe read used to fail
      // schema inference on the data-less sink dir)
      ms.addData(":alice!~a@h PRIVMSG #x :m1", ":bob!~b@h PRIVMSG #y :m2")
      q.processAllAvailable()
    } finally q.stop()
    assert(q.exception.isEmpty, q.exception.map(_.getMessage).getOrElse(""))
    val sink = spark.read.parquet(s"$base/sink")
    assert(sink.select("nick", "remark").as[(String, String)].collect().sorted.toSeq ==
      Seq(("alice", "m1"), ("bob", "m2")))
  }

  test("SQL facade: users can run SQL over registered views") {
    // a fresh session: kernel names exist only where registerAll put them,
    // so the shared test session keeps proving the typed-Column path
    val sqlSession = spark.newSession()
    GraftCatalog.registerAll(sqlSession, sf)
    assert(!spark.catalog.functionExists("float_vec_dot"))
    val n = sqlSession.sql(
      "SELECT count(DISTINCT event_type) FROM events").collect().head.getLong(0)
    assert(n == 5)
    val knn = sqlSession.sql(
      """SELECT vec_id, float_vec_dot(embedding, embedding) AS sq
        |FROM embeddings ORDER BY sq DESC, vec_id LIMIT 3""".stripMargin)
    assert(knn.count() == 3) // native function callable straight from SQL
  }

  test("streaming MG heavy hitters: bounded state, containment + lower bounds (ST6×A12)") {
    implicit val ctx = sqlCtx
    val ms = MemoryStream[String]
    def line(ch: String, words: String) = s":bot!~b@h PRIVMSG $ch :$words"
    // per-batch capture: the memory sink can't attribute rows to batches,
    // and only the LAST batch's emission is the final sketch state
    val batches = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Seq[(String, String, Long)])]
    val q = IrcStream.trendingTerms(IrcStream.records(ms.toDF()), k = 4)
      .writeStream.outputMode("update")
      .foreachBatch { (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
          id: Long) =>
        val rows = df.collect()
          .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
        batches.synchronized { batches += ((id, rows)) }
        ()
      }
      .start()
    // batch 1 — channel #x: "alpha" dominates; #y gets its own stream
    ms.addData(
      line("#x", "alpha alpha alpha beta gamma alpha alpha delta"),
      line("#y", "zeta zeta eta"))
    q.processAllAvailable()
    // batch 2 AFTER the first drain: the sketch must be RESTORED from
    // keyed state, not rebuilt — alpha's final bound proves it (a
    // fresh-state batch 2 could credit alpha at most 8)
    ms.addData(
      line("#x", "alpha alpha alpha epsilon alpha alpha kappa alpha alpha iota"),
      line("#y", "zeta theta"))
    q.processAllAvailable()
    q.stop()
    val nonEmpty = batches.toSeq.filter(_._2.nonEmpty).sortBy(_._1)
    assert(nonEmpty.size == 2, s"expected 2 data batches, saw $batches")
    val finalState = nonEmpty.last._2
      .map { case (ch, t, lb) => (ch, t) -> lb }.toMap
    val exact = Map(
      ("#x", "alpha") -> 12L, ("#x", "beta") -> 1L, ("#x", "gamma") -> 1L,
      ("#x", "delta") -> 1L, ("#x", "epsilon") -> 1L, ("#x", "kappa") -> 1L,
      ("#x", "iota") -> 1L, ("#y", "zeta") -> 3L, ("#y", "eta") -> 1L,
      ("#y", "theta") -> 1L)
    // state bound: ≤ k live counters per channel in the FINAL sketch
    finalState.keys.groupBy(_._1).foreach { case (ch, ks) =>
      assert(ks.size <= 4, s"$ch sketch exceeded k: $ks")
    }
    // containment: any term with count > N/k must be present
    //   #x: N=18, k=4 → threshold 4.5 → alpha (12) must survive
    //   #y: N=5  → threshold 1.25 → zeta (3) must survive
    assert(finalState.contains(("#x", "alpha")) && finalState.contains(("#y", "zeta")))
    // cross-batch proof: alpha's bound must exceed anything batch 2 alone
    // (8 occurrences) could produce from empty state
    assert(finalState(("#x", "alpha")) > 8L)
    // every sketch bound is a true LOWER bound within the MG undercount N/k
    finalState.foreach { case (key @ (ch, _), lb) =>
      val n = if (ch == "#x") 18L else 5L
      assert(lb <= exact(key) && lb >= exact(key) - n / 4,
        s"$key lb=$lb exact=${exact(key)}")
    }
  }

  test("end-to-end start(): lines → deduped records land in the sink (ST1/ST7)") {
    implicit val ctx = sqlCtx
    val base = Files.createTempDirectory("graft_e2e").toString
    val ms = MemoryStream[String]
    ms.addData(
      ":alice!~a@h PRIVMSG #x :hello\r\n:bob!~b@h PRIVMSG #y :hi",
      "PING :server",
      ":alice!~a@h PRIVMSG #x :hello")
    val q = IrcStream.start(ms.toDF(), s"$base/sink", s"$base/ckpt")
    q.processAllAvailable()
    q.stop()
    val sink = spark.read.parquet(s"$base/sink")
    assert(sink.count() == 2)
    // channel + day come back as partition columns of the pruned-upsert layout
    assert(sink.columns.toSet ==
      Set("nick", "channel", "remark", "posted", "id", "day"))
  }

  test("streaming SCD2 closed intervals equal the batch i5 dimension across batches") {
    implicit val ctx = sqlCtx
    // fixture events in three time-ordered chunks — state transitions that
    // straddle chunk boundaries must still close exactly one interval
    val ev = Tables(spark, sf, "events")
      .select(col("user_id").cast("long").as("user_id"),
        expr("unix_micros(ts)").as("us"),
        col("event_id").cast("long").as("event_id"), col("event_type"))
      .orderBy(col("us"), col("event_id"))
      .as[(Long, Long, Long, String)].collect()
    val chunks = ev.grouped(math.max(1, ev.length / 3 + 1)).toSeq
    val ms = MemoryStream[(Long, Long, Long, String)]
    val q = graft.streaming.Scd2Stream.closedIntervals(
        ms.toDF().toDF("user_id", "us", "event_id", "event_type"))
      .writeStream.format("memory").queryName("scd2_out")
      .outputMode("append").start()
    chunks.foreach { c => ms.addData(c.toIndexedSeq); q.processAllAvailable() }
    q.stop()
    val streamed = spark.table("scd2_out")
      .select("user_id", "version", "state", "valid_from_us", "valid_to_us")
      .as[(Long, Long, String, Long, Long)].collect().toSet
    val batch = queries.Registry.byName("i5_scd2_dim").run(spark, sf)
      .filter(col("valid_to_us").isNotNull)
      .as[(Long, Long, String, Long, Long)].collect().toSet
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("streaming ingest-dedup loop: chunked pairs + index appends equal the " +
    "one-shot full recompute, and a replayed batch changes nothing") {
    implicit val ctx = sqlCtx
    val base = Files.createTempDirectory("graft_dedupstream").toString
    val docs = Tables(spark, sf, "documents")
      .select(col("doc_id"), col("text")).as[(Long, String)].collect()
    val chunks = docs.grouped(math.max(1, docs.length / 3 + 1)).toSeq
    val ms = MemoryStream[(Long, String)]
    val q = graft.streaming.DedupStream.start(
        ms.toDF().toDF("doc_id", "text"),
        "doc_id", "text", s"$base/index", s"$base/pairs", s"$base/ckpt")
      .start()
    chunks.foreach { c => ms.addData(c.toIndexedSeq); q.processAllAvailable() }
    q.stop()
    def pairSet() = spark.read.option("recursiveFileLookup", "true")
      .parquet(s"$base/pairs")
      .select("da", "db").as[(Long, Long)].collect().toSet
    val streamed = pairSet()
    val oneShot = graft.dedup.MinHashDedup.candidatePairs(
        Tables(spark, sf, "documents"), col("doc_id"), col("text"))
      .select("da", "db").as[(Long, Long)].collect().toSet
    assert(streamed == oneShot, s"streamed=${streamed.size} oneShot=${oneShot.size}")
    assert(streamed.nonEmpty)
    graft.Caches.unpersistAll()
    // replay idempotence: re-running the FIRST batch (its sigs already in
    // the index) rewrites its own keyed outputs and changes no results.
    // ROW-level, not just set-level (ADVICE r18): the strict-predecessor
    // index read means the replay recomputes b0's ORIGINAL rows — without
    // it, b0 would additionally emit b0-vs-b1/b2 pairs that already live
    // in the later partitions and double-count for row-level readers.
    def b0Rows() = spark.read.parquet(s"$base/pairs/b0")
      .select("da", "db", "est_jaccard")
      .as[(Long, Long, Double)].collect().sorted.toSeq
    val b0Before = b0Rows()
    val first = spark.createDataset(chunks.head.toIndexedSeq)
      .toDF("doc_id", "text")
    graft.streaming.DedupStream.step(first, col("doc_id"), col("text"),
      s"$base/index", s"$base/pairs", batchId = 0L)
    assert(b0Rows() == b0Before, "replayed batch 0 rewrote different rows")
    assert(pairSet() == oneShot, "replayed batch changed the pair set")
    // index holds exactly one signature row per doc (no duplication)
    val idx = spark.read.option("recursiveFileLookup", "true")
      .parquet(s"$base/index/sigs")
    assert(idx.count() == docs.length)
    assert(idx.select("doc_id").distinct().count() == docs.length)
  }

  test("streaming CDC merged state equals the batch i7 MERGE across batches") {
    implicit val ctx = sqlCtx
    val cut = 1705363200000000L // i7's cut, 2024-01-16T00:00:00Z in micros
    // the whole event history in us-order, split into three chunks so both
    // the target-build phase and the change phase straddle batch boundaries
    val ev = Tables(spark, sf, "events")
      .select(col("user_id").cast("long").as("user_id"),
        expr("unix_micros(ts)").as("us"),
        col("event_id").cast("long").as("event_id"), col("event_type"))
      .orderBy(col("us"), col("event_id"))
      .as[(Long, Long, Long, String)].collect()
    val chunks = ev.grouped(math.max(1, ev.length / 3 + 1)).toSeq
    val ms = MemoryStream[(Long, Long, Long, String)]
    val q = graft.streaming.CdcStream.mergedState(
        ms.toDF().toDF("user_id", "us", "event_id", "event_type"), cut)
      .writeStream.format("memory").queryName("cdc_out")
      .outputMode("update").start()
    chunks.foreach { c => ms.addData(c.toIndexedSeq); q.processAllAvailable() }
    q.stop()
    // snapshot = latest emission per key (Update mode emits one row per
    // key per touching batch); live rows only
    val rows = spark.table("cdc_out")
      .as[(Long, String, Long, String, Boolean, Long, Long)].collect()
    val streamed = rows.groupBy(_._1).values
      .map(_.maxBy(r => (r._6, r._7)))
      .filter(!_._5)
      .map(r => (r._1, r._2, r._3, r._4)).toSet
    val batch = queries.Registry.byName("i7_cdc_merge").run(spark, sf)
      .as[(Long, String, Long, String)].collect().toSet
    assert(streamed == batch)
    assert(streamed.nonEmpty)
    // all three merge actions are actually exercised by the fixture
    assert(streamed.map(_._4).toSeq.distinct.toSet
      .subsetOf(Set("unchanged", "inserted", "updated")))
    assert(batch.map(_._4).contains("updated"))
  }

  test("streaming percolate hits equal both batch forms (row-form and postings join)") {
    implicit val ctx = sqlCtx
    // store: the same deterministic top-df pair store t23/t31 build
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("freq").desc, col("term"))
    val store = graft.streaming.Percolator.compileStore(
      Tables(spark, sf, "documents")
        .select(explode(graft.functions.TextFunctions.tokens(col("text"))).as("term"))
        .groupBy(col("term")).agg(count(lit(1)).as("freq"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 20)
        .withColumn("query_id", floor((col("rn") + 1) / lit(2.0D)).cast("long"))
        .select(col("query_id"), col("term")))
    // stream the corpus through in three chunks; the matcher is stateless,
    // so hits must be exactly the batch row-form's, independent of chunking
    val docs = Tables(spark, sf, "documents")
      .select(col("doc_id"), col("text")).as[(Long, String)].collect()
    val chunks = docs.grouped(math.max(1, docs.length / 3 + 1)).toSeq
    val ms = MemoryStream[(Long, String)]
    val q = graft.streaming.Percolator.matchDocs(
        ms.toDF().toDF("doc_id", "text"), store)
      .writeStream.format("memory").queryName("perc_out")
      .outputMode("append").start()
    chunks.foreach { c => ms.addData(c.toIndexedSeq); q.processAllAvailable() }
    q.stop()
    val streamed = spark.table("perc_out")
      .as[(Long, Long)].collect().toSet
    val batchRow = queries.Registry.byName("t31_percolate_row").run(spark, sf)
      .as[(Long, Long)].collect().toSet
    assert(streamed == batchRow)
    assert(streamed.nonEmpty)
    // cross-form agreement: the postings-join t23 aggregates the same pairs
    val t23 = queries.Registry.byName("t23_percolate").run(spark, sf)
      .select(col("query_id"), col("n_docs")).as[(Long, Long)].collect().toMap
    val byQuery = streamed.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    t23.foreach { case (qid, n) => assert(byQuery.getOrElse(qid, 0L) == n) }
  }

  test("percolator auto-dispatch: selective form ≡ row form on the same " +
      "store, and the dial routes each side of the crossover") {
    implicit val ctx = sqlCtx
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("freq").desc, col("term"))
    val store = graft.streaming.Percolator.compileStore(
      Tables(spark, sf, "documents")
        .select(explode(graft.functions.TextFunctions.tokens(col("text"))).as("term"))
        .groupBy(col("term")).agg(count(lit(1)).as("freq"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 20)
        .withColumn("query_id", floor((col("rn") + 1) / lit(2.0D)).cast("long"))
        .select(col("query_id"), col("term"))).cache()
    val docs = Tables(spark, sf, "documents")
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long)].collect().toSet
    val row = pairs(graft.streaming.Percolator.matchDocs(docs, store))
    val sel = pairs(graft.streaming.Percolator.matchDocsSelective(docs, store))
    assert(row == sel && row.nonEmpty)
    // a query whose anchor term appears in NO document can never match —
    // the selective form must generate zero candidates for it, not fail
    val withDead = store.unionByName(
      Seq((99L, Seq("zzzunseen", "the"), 2)).toDF("query_id", "q_terms", "n_terms"))
    assert(pairs(graft.streaming.Percolator.matchDocsSelective(docs, withDead))
      == row)
    // a fleet past the 1000-query row-form limit → selective (rarest-term)
    // form; the 10-query store → row form. Both must return the same rows,
    // so dispatch is pinned as pure cost choice.
    try {
      assert(pairs(graft.streaming.Percolator.percolate(docs, fleet(store))) == row)
      assert(pairs(graft.streaming.Percolator.percolate(docs, store)) == row)
    } finally store.unpersist()
  }

  test("streaming percolation at fleet scale: selective (rarest-term-anchored) " +
      "dispatch inside foreachBatch, no state store, chunked hits equal the batch run") {
    implicit val ctx = sqlCtx
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("freq").desc, col("term"))
    val store = graft.streaming.Percolator.compileStore(
      Tables(spark, sf, "documents")
        .select(explode(graft.functions.TextFunctions.tokens(col("text"))).as("term"))
        .groupBy(col("term")).agg(count(lit(1)).as("freq"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 20)
        .withColumn("query_id", floor((col("rn") + 1) / lit(2.0D)).cast("long"))
        .select(col("query_id"), col("term"))).cache()
    val docs = Tables(spark, sf, "documents")
      .select(col("doc_id"), col("text")).as[(Long, String)].collect()
    val chunks = docs.grouped(math.max(1, docs.length / 3 + 1)).toSeq
    val base = java.nio.file.Files.createTempDirectory("graft_perc").toString
    try {
      // a fleet past the row-form limit → the selective form runs per batch
      val ms = MemoryStream[(Long, String)]
      val q = graft.streaming.Percolator.startPercolate(
          ms.toDF().toDF("doc_id", "text"), fleet(store),
          s"$base/hits", s"$base/ckpt").start()
      chunks.foreach { c => ms.addData(c.toIndexedSeq); q.processAllAvailable() }
      // state-free by construction: foreachBatch runs batch plans only
      assert(q.lastProgress == null ||
        q.lastProgress.stateOperators.isEmpty)
      q.stop()
      val streamed = spark.read.parquet(s"$base/hits/b0", s"$base/hits/b1",
          s"$base/hits/b2")
        .as[(Long, Long)].collect().toSet
      val batch = graft.streaming.Percolator.matchDocs(
          Tables(spark, sf, "documents"), store)
        .as[(Long, Long)].collect().toSet
      assert(streamed == batch && streamed.nonEmpty)
    } finally store.unpersist()
  }

  test("stream-static enrichment: broadcast dim join inside the micro-batch " +
      "equals the batch join (left rows without a dim row pass through null)") {
    implicit val ctx = sqlCtx
    val ms = MemoryStream[String]
    ms.addData(
      ":alice!~a@h PRIVMSG #dev :compile it",
      ":bob!~b@h PRIVMSG #ops :deploy it",
      ":carol!~c@h PRIVMSG #random :lunch?")
    // the static dim: tiny, broadcastable — the 100 TB shape is the stream
    // shuffling NOTHING for the join (no state store either: stream-static
    // joins are stateless by construction, every micro-batch re-probes the
    // broadcast table)
    val dim = Seq(("#dev", "engineering"), ("#ops", "infra"))
      .toDF("channel", "team")
    val q = IrcStream.records(ms.toDF())
      .join(org.apache.spark.sql.functions.broadcast(dim), Seq("channel"), "left")
      .select(col("channel"), col("nick"), col("team"))
      .writeStream.format("memory").queryName("enrich_out")
      .outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("enrich_out")
      .as[(String, String, Option[String])].collect().toSet
    assert(got == Set(
      ("#dev", "alice", Some("engineering")),
      ("#ops", "bob", Some("infra")),
      ("#random", "carol", None)))
  }
}
