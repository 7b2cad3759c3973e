package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.sinks.{IrcSink, NioLocalFileSystem}

/** JVM-static ES-client stand-in for the K2 retry tests: records every write
  * attempt per id; "POISON" always throws, "FLAKY<n>" throws on the first n
  * attempts. local-mode tasks share the JVM, so the maps see all partitions.
  */
object K2Probe {
  val attempts = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
  val written = new java.util.concurrent.ConcurrentHashMap[String, Boolean]()
  val dead = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  def reset(): Unit = { attempts.clear(); written.clear(); dead.clear() }
  def deadLetter(id: String): Unit = dead.add(id)
  def write(nick: String, id: String): Unit = {
    val n = attempts.merge(id, 1, (a, b) => a + b)
    if (nick == "POISON") throw new RuntimeException(s"mapping rejected $id")
    nick match {
      case s if s.startsWith("FLAKY") && n <= s.drop(5).toInt =>
        throw new RuntimeException(s"transient $id attempt $n")
      case _ => written.put(id, true)
    }
  }
}

class SinkSpec extends SparkSuite {
  import spark.implicits._

  private def records(rows: (String, String, String, String, String)*) =
    rows.toDF("channel", "nick", "remark", "posted_s", "id")
      .select(col("channel"), col("nick"), col("remark"),
        col("posted_s").cast("timestamp").as("posted"), col("id"))

  test("append writes channel/day partitions; read round-trips") {
    val path = Files.createTempDirectory("graft_sink").toString + "/t"
    IrcSink.append(records(
      ("#x", "alice", "m1", "2024-01-01 10:00:00", "id1"),
      ("#y", "bob", "m2", "2024-01-02 11:00:00", "id2")), path)
    val dirs = new java.io.File(path).listFiles().map(_.getName).filter(_.startsWith("channel="))
    assert(dirs.toSet == Set("channel=%23x", "channel=%23y") || dirs.toSet == Set("channel=#x", "channel=#y"))
    val back = spark.read.parquet(path)
    assert(back.count() == 2)
    assert(back.columns.toSet == Set("channel", "nick", "remark", "posted", "id", "day"))
  }

  test("append rejects a null posted or an empty channel and commits no parquet file") {
    // either key would otherwise land in __HIVE_DEFAULT_PARTITION__, which
    // no channel probe re-reads
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    def parquetFiles(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(parquetFiles)
      else Seq(f).filter(_.getName.endsWith(".parquet"))
    val bad = Seq(
      "null posted" -> records(("#x", "alice", "m1", null, "id1")),
      "empty channel" -> records(("", "alice", "m1", "2024-01-01 10:00:00", "id1")))
    for ((what, recs) <- bad) {
      val path = Files.createTempDirectory("graft_sink_bad").toString + "/t"
      val e = intercept[Exception](IrcSink.append(recs, path))
      assert(messages(e).exists(_.contains("null `posted` or null/empty `channel`")),
        s"$what: expected the partition-key precondition error, got: $e")
      assert(parquetFiles(new java.io.File(path)).isEmpty, s"$what: a parquet file was committed")
    }
  }

  /** The command line of every OS process the JVM started while `f` ran
    * that names a path under `under` (a JFR recording, so processes started
    * by other threads of this JVM for other paths do not count).
    */
  private def processStarts(under: String)(f: => Unit): Seq[String] = {
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try f finally rec.stop()
    val out = Files.createTempFile("graft_proc", ".jfr")
    try {
      rec.dump(out)
      jdk.jfr.consumer.RecordingFile.readAllEvents(out).asScala.toSeq
        .map(_.getString("command")).filter(_.contains(under))
    } finally { rec.close(); Files.delete(out) }
  }

  /** `p`'s POSIX mode in octal, sticky and setuid bits included. */
  private def modeOf(p: java.nio.file.Path): String =
    Integer.toOctalString(Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff)

  /** Every path under `root` (its part-file names masked, so two writes of
    * the same rows compare) with its [[modeOf]].
    */
  private def modes(root: java.nio.file.Path): Set[(String, String)] = {
    val walk = Files.walk(root)
    try walk.iterator.asScala.filter(_ != root).map { p =>
      (root.relativize(p).toString.replaceAll("part-[^.]+", "part-*"), modeOf(p))
    }.toSet
    finally walk.close()
  }

  test("append starts no OS process and writes the stock local filesystem's " +
    "modes and checksums") {
    val base = Files.createTempDirectory("graft_sink_nofork").toRealPath()
    val rows = for (c <- Seq("#a", "#b", "#c", "#d"); d <- Seq("01", "02"))
      yield (c, "alice", s"m$c$d", s"2024-01-$d 10:00:00", s"id$c$d")
    val recs = records(rows: _*)
    val groups = rows.size
    val forks = processStarts(base.toString)(IrcSink.append(recs, s"$base/sink"))
    assert(forks.size == 0, s"append of $groups (channel, day) groups started " +
      s"${forks.size} processes, e.g. ${forks.take(3).mkString("; ")}")
    // the same rows, partitioned the same way, through the stock filesystem
    val stockForks = processStarts(base.toString) {
      recs.withColumn("day", date_format(col("posted"), "yyyy-MM-dd"))
        .repartition(4, col("channel"), col("day"))
        .write.partitionBy("channel", "day").parquet(s"$base/stock")
    }
    // without libhadoop the stock write forks per file and dir, so the
    // recording above did see this write's processes
    if (!org.apache.hadoop.io.nativeio.NativeIO.isAvailable)
      assert(stockForks.size >= groups, s"stock write: ${stockForks.size} processes")
    val sink = modes(base.resolve("sink"))
    assert(sink === modes(base.resolve("stock")))
    val parquet = sink.map(_._1).filter(_.endsWith(".parquet"))
    assert(parquet.size == groups)
    parquet.foreach { f =>
      val (dir, name) = f.splitAt(f.lastIndexOf('/') + 1)
      assert(sink.exists(_._1 == s"$dir.$name.crc"), s"$f has no .crc")
    }
    assert(spark.read.parquet(s"$base/sink").count() == groups)
  }

  test("NioLocalFileSystem sets plain rwx modes in-process and hands a " +
    "sticky mode to Hadoop's own chmod") {
    val dir = Files.createTempDirectory("graft_perm").toRealPath()
    val fs = new NioLocalFileSystem
    fs.initialize(java.net.URI.create("file:///"), new org.apache.hadoop.conf.Configuration())
    def chmod(p: java.nio.file.Path, octal: String) = processStarts(dir.toString) {
      fs.setPermission(new org.apache.hadoop.fs.Path(p.toUri),
        new org.apache.hadoop.fs.permission.FsPermission(Integer.parseInt(octal, 8).toShort))
    }
    for (octal <- Seq("600", "640", "644", "700", "750", "755", "777")) {
      val f = Files.createFile(dir.resolve(s"f$octal"))
      val forks = chmod(f, octal)
      assert(modeOf(f) == octal)
      assert(forks.size == 0, s"$octal: ${forks.mkString("; ")}")
    }
    val sticky = Files.createDirectory(dir.resolve("sticky"))
    val forks = chmod(sticky, "1755")
    assert(modeOf(sticky) == "1755")
    if (!org.apache.hadoop.io.nativeio.NativeIO.isAvailable)
      assert(forks.exists(_.contains("chmod")), s"sticky mode: ${forks.mkString("; ")}")
  }

  test("K2: poisoned record drops after bounded retries without failing the batch " +
    "(irclogbot.py:46-59)") {
    K2Probe.reset()
    val recs = records(
      ("#x", "alice", "m1", "2024-01-01 10:00:00", "id1"),
      ("#x", "POISON", "m2", "2024-01-01 10:00:01", "id2"),
      ("#x", "bob", "m3", "2024-01-01 10:00:02", "id3"))
    val (ok, dropped) = IrcSink.writeEachWithRetry(
      recs,
      r => K2Probe.write(r.getAs[String]("nick"), r.getAs[String]("id")),
      onDrop = r => K2Probe.deadLetter(r.getAs[String]("id")))
    assert(ok == 2 && dropped == 1)
    assert(K2Probe.written.keySet.toArray.toSet == Set[Any]("id1", "id3"))
    assert(K2Probe.attempts.get("id2") == IrcSink.MaxRetries) // exactly MAX_RETRIES, then gave up
    assert(K2Probe.dead.contains("id2")) // dead-letter hook saw the record
  }

  test("K2: transiently-failing record is retried to success") {
    K2Probe.reset()
    val recs = records(("#x", "FLAKY2", "m", "2024-01-01 10:00:00", "idF"))
    val (ok, dropped) = IrcSink.writeEachWithRetry(
      recs, r => K2Probe.write(r.getAs[String]("nick"), r.getAs[String]("id")))
    assert(ok == 1 && dropped == 0)
    assert(K2Probe.attempts.get("idF") == 3) // failed twice, third attempt landed
    assert(K2Probe.written.containsKey("idF"))
  }

  test("compaction keeps exactly one earliest row per id (unbounded dedup)") {
    val base = Files.createTempDirectory("graft_compact").toString
    val path = s"$base/t"
    IrcSink.append(records(
      ("#x", "alice", "m1", "2024-01-01 10:00:00", "id1"),
      ("#x", "alice", "m1", "2024-01-01 10:00:05", "id1"), // late duplicate, other day batch
      ("#x", "bob", "m2", "2024-01-01 10:01:00", "id2")), path)
    IrcSink.append(records(
      ("#x", "alice", "m1", "2024-01-03 09:00:00", "id1")), path) // way-late dup
    IrcSink.compact(spark, path, s"$base/compacted")
    val out = spark.read.parquet(s"$base/compacted")
    assert(out.count() == 2)
    val kept = out.filter(col("id") === "id1")
      .select(date_format(col("posted"), "yyyy-MM-dd HH:mm:ss")).as[String].collect()
    assert(kept.toSeq == Seq("2024-01-01 10:00:00")) // earliest survives
  }

  test("ManifestCommit: a writer killed at every pre-publish point leaves " +
    "the old snapshot fully readable; publish flips atomically") {
    import graft.sinks.ManifestCommit
    val table = Files.createTempDirectory("graft_man").toString + "/t"
    val s1 = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")
    ManifestCommit.commit(s1, table, 1L)
    assert(ManifestCommit.read(spark, table).as[(Long, String)].collect()
      .toSet == Set((1L, "a"), (2L, "b"), (3L, "c")))
    assert(ManifestCommit.snapshots(spark, table) == Seq(1L))

    // crash point A: snapshot 2 data fully staged, publish never ran
    val s2 = Seq((1L, "a2"), (4L, "d")).toDF("id", "v")
    s2.write.mode("overwrite").parquet(s"$table/snap_2")
    assert(ManifestCommit.read(spark, table).as[(Long, String)].collect()
      .toSet == Set((1L, "a"), (2L, "b"), (3L, "c")), "staged files leaked")

    // crash point B: manifest tmp written, rename never ran
    Files.write(java.nio.file.Paths.get(s"$table/_manifest_2.tmp"),
      "snapshot\tsnap_2\npart-garbage\t0".getBytes("UTF-8"))
    assert(ManifestCommit.snapshots(spark, table) == Seq(1L),
      "tmp manifest resolved as published")
    assert(ManifestCommit.read(spark, table).as[(Long, String)].collect()
      .toSet == Set((1L, "a"), (2L, "b"), (3L, "c")))

    // recovery: the retried committer republishes snapshot 2 end-to-end
    ManifestCommit.commit(s2, table, 2L)
    assert(ManifestCommit.snapshots(spark, table) == Seq(1L, 2L))
    assert(ManifestCommit.read(spark, table).as[(Long, String)].collect()
      .toSet == Set((1L, "a2"), (4L, "d")))
    // time travel: the superseded snapshot stays readable as-of its id
    assert(ManifestCommit.readAt(spark, table, 1L).as[(Long, String)]
      .collect().toSet == Set((1L, "a"), (2L, "b"), (3L, "c")))
    // replay of snapshot 2 (foreachBatch retry) converges, no duplication
    ManifestCommit.commit(s2, table, 2L)
    assert(ManifestCommit.snapshots(spark, table) == Seq(1L, 2L))
    assert(ManifestCommit.read(spark, table).count() == 2)

    // retention: expiry removes old manifests AND their staged data, the
    // live snapshot is untouched, expired time travel fails loudly
    assert(ManifestCommit.expire(spark, table, keep = 1) == Seq(1L))
    assert(ManifestCommit.snapshots(spark, table) == Seq(2L))
    assert(ManifestCommit.read(spark, table).as[(Long, String)].collect()
      .toSet == Set((1L, "a2"), (4L, "d")))
    def stagingDirs(prefix: String) = new java.io.File(table).listFiles()
      .map(_.getName).filter(_.startsWith(prefix)).toSeq
    assert(stagingDirs("snap_1_").isEmpty, "expired staging data survived")
    intercept[Exception] { ManifestCommit.readAt(spark, table, 1L).collect() }
    // idempotent: nothing left to expire
    assert(ManifestCommit.expire(spark, table, keep = 1).isEmpty)
  }

  test("ManifestCommit: commitIfAbsent is an atomic compare-and-set — the " +
    "racing loser conflicts without disturbing the winner; vacuum reclaims " +
    "only unreferenced garbage") {
    import graft.sinks.ManifestCommit
    val table = Files.createTempDirectory("graft_man2").toString + "/t"
    val winner = Seq((1L, "w")).toDF("id", "v")
    val loser = Seq((1L, "l")).toDF("id", "v")
    ManifestCommit.commitIfAbsent(winner, table, 1L)
    // second committer on the same id: conflict, winner's state untouched
    intercept[ManifestCommit.CommitConflictException] {
      ManifestCommit.commitIfAbsent(loser, table, 1L)
    }
    assert(ManifestCommit.read(spark, table).as[(Long, String)].collect()
      .toSet == Set((1L, "w")))
    // a replayed commit() on the same id still converges (replace mode),
    // orphaning its superseded staging dir
    ManifestCommit.commit(winner, table, 1L)
    assert(ManifestCommit.read(spark, table).as[(Long, String)].collect()
      .toSet == Set((1L, "w")))
    def entries() = new java.io.File(table).listFiles().map(_.getName).toSet
    assert(entries().count(_.startsWith("snap_1_")) == 2,
      "replay should have staged a fresh attempt dir")
    // vacuum: removes the orphaned attempt + any tmp manifests, never the
    // referenced dir — reads are identical after
    Files.write(java.nio.file.Paths.get(s"$table/_manifest_9.x.tmp"),
      "junk".getBytes("UTF-8"))
    // the in-flight-writer guard: at the default 24 h age threshold these
    // seconds-old orphans are NOT eligible (a staged-but-unpublished commit
    // must never lose its data to a concurrent vacuum)
    assert(ManifestCommit.vacuum(spark, table).isEmpty,
      "default vacuum deleted fresh entries — in-flight commits unsafe")
    val removed = ManifestCommit.vacuum(spark, table, olderThanMs = 0L)
    assert(removed.exists(_.startsWith("snap_1_")) &&
      removed.contains("_manifest_9.x.tmp"))
    assert(entries().count(_.startsWith("snap_1_")) == 1)
    assert(ManifestCommit.read(spark, table).as[(Long, String)].collect()
      .toSet == Set((1L, "w")))
    assert(ManifestCommit.vacuum(spark, table, olderThanMs = 0L).isEmpty,
      "vacuum not idempotent")
  }
}
