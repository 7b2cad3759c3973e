package graft.sinks

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Atomic multi-file lake commit — write-audit-publish with a manifest log
  * (r19 verdict "what's missing" #1). The reference's ES sink is atomic per
  * DOCUMENT (`_id` upsert, irclogbot.py:50-51) and needs no commit
  * protocol; a Parquet lake writing a multi-partition batch does: a writer
  * that dies mid-batch otherwise leaves a directory where some files are
  * new and some old, and every reader sees the torn state. This is the one
  * durability semantic the plain-directory stand-ins (k1 upsert, s15
  * dynamic overwrite — each idempotent per partition, none atomic across
  * partitions) did not replicate. Users: `s17_manifest_commit` and the
  * streaming rollup view ([[graft.streaming.IrcStream.rollupBatch]]).
  *
  * Protocol (the Iceberg/Delta-log idea reduced to its kernel, zero deps):
  *
  *   1. WRITE   — the batch lands under a fresh `snap_<id>_<nonce>/`
  *                prefix, unique PER ATTEMPT, so concurrent or replayed
  *                attempts never clobber each other's data files and the
  *                live table is untouched no matter how many tasks fail.
  *   2. AUDIT   — the committer lists the finished staging dir and records
  *                the exact data files (name + length) in a manifest;
  *                stray files from dead executors are never referenced.
  *   3. PUBLISH — the manifest is written to a tmp name and renamed to
  *                `_manifest_<id>`, the single atomic operation; a crash
  *                at ANY earlier point leaves only unreferenced garbage
  *                and the previous manifest fully readable.
  *
  * Two publish modes: [[commit]] REPLACES an existing manifest of the same
  * id (foreachBatch replay contract — a retried batch converges to one
  * published state, the superseded attempt's staging dir becomes orphan
  * garbage), while [[commitIfAbsent]] uses rename-without-delete as an
  * atomic compare-and-set — of two RACING committers on the same id
  * exactly one publishes and the loser gets [[CommitConflictException]]
  * (optimistic concurrency, Iceberg's commit semantics; the loser's
  * staging dir is best-effort removed and otherwise vacuumable).
  *
  * Readers resolve the highest published `_manifest_<id>` and scan exactly
  * its file list — un-published staging dirs, half-written files, and
  * leftover `.tmp` manifests are invisible by construction. Orphans from
  * crashed/raced/replayed attempts are reclaimed by [[vacuum]] (the
  * remove-orphan-files maintenance op); published history is trimmed by
  * [[expire]].
  *
  * Scale: the manifest carries file names, not data — thousands of files
  * per snapshot is a few KB of metadata, and `read` hands Spark an explicit
  * file list so planning skips directory listing entirely (on object
  * stores, the listing is the slow part). Old snapshots stay readable
  * ([[readAt]] — time travel for free) until [[expire]] removes them.
  */
object ManifestCommit {

  /** Optimistic-concurrency loss: another committer published this id. */
  final class CommitConflictException(msg: String)
    extends RuntimeException(msg)

  private val ManifestRe = "_manifest_(\\d+)".r

  private def fs(spark: SparkSession, table: String): FileSystem =
    new Path(table).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Stage + audit: write `df` under a fresh per-attempt prefix and return
    * (stagingDirName, manifestBody).
    *
    * EMPTY SNAPSHOTS ARE REJECTED by design (ADVICE r20 #3): Spark can
    * legitimately write zero part- files for an empty DataFrame (e.g. an
    * AQE-coalesced empty filter result), and the `require` below turns that
    * into a loud failure rather than publishing a snapshot readers would
    * silently see as "the table is now empty" — in this lake an empty
    * curated batch is far more likely an upstream bug than a real state.
    * Callers that truly mean "publish empty" should commit a sentinel row
    * or relax this guard deliberately.
    */
  private def stage(df: DataFrame, table: String,
      snapshotId: Long): (String, String) = {
    val spark = df.sparkSession
    val f = fs(spark, table)
    val nonce = java.util.UUID.randomUUID().toString.take(8)
    val dirName = s"snap_${snapshotId}_$nonce"
    val snapDir = new Path(table, dirName)
    df.write.mode(SaveMode.Overwrite).parquet(snapDir.toString)
    val files = f.listStatus(snapDir)
      .filter(st => st.isFile && st.getPath.getName.startsWith("part-"))
      .map(st => s"${st.getPath.getName}\t${st.getLen}")
      .sorted
    require(files.nonEmpty, s"snapshot $snapshotId staged no data files")
    (dirName, (s"snapshot\t$dirName" +: files.toSeq).mkString("\n"))
  }

  /** Write the manifest body to a per-attempt tmp file, fsynced. */
  private def writeTmp(f: FileSystem, table: String, snapshotId: Long,
      nonceTag: String, body: String): Path = {
    val tmp = new Path(table, s"_manifest_$snapshotId.$nonceTag.tmp")
    val out = f.create(tmp, true)
    try {
      out.write(body.getBytes(StandardCharsets.UTF_8))
      out.hflush(); out.hsync()
    } finally out.close()
    tmp
  }

  /** Commit `df` as snapshot `snapshotId`: stage, audit, publish. Atomic —
    * readers see the whole snapshot or none of it. REPLAY semantics: an
    * existing manifest of the same id is replaced (the foreachBatch retry
    * contract); the superseded attempt's staging dir becomes orphan
    * garbage for [[vacuum]].
    *
    * Replace-mode publish is TWO steps (delete, then rename — ADVICE r20
    * #2): a crash or concurrent read inside that window observes snapshot
    * `snapshotId` unpublished — [[read]] transiently resolves the prior
    * snapshot and [[readAt]] of this id fails until the rename lands. Each
    * STEP is atomic (whole snapshot or none — no torn manifest is ever
    * visible); the pair is not. Replays are idempotent re-publishes of
    * identical content, so the window is benign for the foreachBatch
    * contract; use [[commitIfAbsent]] when the id must never disappear.
    */
  def commit(df: DataFrame, table: String, snapshotId: Long): Unit = {
    val f = fs(df.sparkSession, table)
    val (dirName, body) = stage(df, table, snapshotId)
    val tmp = writeTmp(f, table, snapshotId, dirName.split('_').last, body)
    val target = new Path(table, s"_manifest_$snapshotId")
    if (f.exists(target)) f.delete(target, false) // replay of the same id
    if (!f.rename(tmp, target))
      throw new java.io.IOException(s"manifest publish failed: $target")
  }

  /** [[commit]] with OPTIMISTIC CONCURRENCY: if `snapshotId` is already
    * published, throw [[CommitConflictException]] instead of replacing it.
    * The publish rename runs WITHOUT a prior delete, so the filesystem
    * rename is the compare-and-set: two racing committers stage under
    * different nonce dirs, both attempt the rename, exactly one target
    * appears and the other rename returns false. The loser's staged data
    * is best-effort removed here and is otherwise invisible (never
    * referenced) until [[vacuum]] reclaims it.
    *
    * FILESYSTEM CONTRACT (ADVICE r20 #1): the rename-as-CAS guarantee
    * requires rename to FAIL when the destination exists — HDFS semantics.
    * On `RawLocalFileSystem` (what the tests run on) and object-store
    * connectors whose rename atomically REPLACES the destination, two
    * committers racing inside the `exists()`→`rename` window can both
    * return success, the later one silently replacing the winner — the
    * exactly-one-publishes guarantee is HDFS-only. Sequential replays and
    * the already-published fast path behave identically everywhere. On a
    * replace-semantics store, front this with an external mutex or publish
    * through a `create(target, overwrite=false)` door.
    */
  def commitIfAbsent(df: DataFrame, table: String, snapshotId: Long): Unit = {
    val f = fs(df.sparkSession, table)
    val target = new Path(table, s"_manifest_$snapshotId")
    def lose(dirName: String, tmp: Option[Path]): Nothing = {
      tmp.foreach(t => f.delete(t, false))
      f.delete(new Path(table, dirName), true)
      throw new CommitConflictException(
        s"snapshot $snapshotId already published at $table")
    }
    if (f.exists(target)) lose("snap_none_never", None) // cheap early exit
    val (dirName, body) = stage(df, table, snapshotId)
    val tmp = writeTmp(f, table, snapshotId, dirName.split('_').last, body)
    if (f.exists(target) || !f.rename(tmp, target))
      lose(dirName, Some(tmp))
  }

  /** Published snapshot ids, ascending (ignores staging dirs, `.tmp`
    * manifests, and anything unpublished — the invisible-garbage contract).
    */
  def snapshots(spark: SparkSession, table: String): Seq[Long] = {
    val p = new Path(table)
    val f = fs(spark, table)
    if (!f.exists(p)) Seq.empty
    else f.listStatus(p).toSeq.flatMap(st => st.getPath.getName match {
      case ManifestRe(id) => Some(id.toLong)
      case _ => None
    }).sorted
  }

  /** Parse a published manifest → (stagingDirName, dataFileNames). */
  private def manifest(f: FileSystem, table: String,
      snapshotId: Long): (String, Seq[String]) = {
    val in = f.open(new Path(table, s"_manifest_$snapshotId"))
    val body = try {
      val buf = new java.io.ByteArrayOutputStream()
      val chunk = new Array[Byte](8192)
      var n = in.read(chunk)
      while (n > 0) { buf.write(chunk, 0, n); n = in.read(chunk) }
      new String(buf.toByteArray, StandardCharsets.UTF_8)
    } finally in.close()
    val lines = body.split("\n").toSeq
    (lines.head.split("\t")(1), lines.tail.map(_.split("\t")(0)))
  }

  /** Read snapshot `snapshotId` — exactly the files its manifest names. */
  def readAt(spark: SparkSession, table: String, snapshotId: Long): DataFrame = {
    val (snapDir, names) = manifest(fs(spark, table), table, snapshotId)
    spark.read.parquet(names.map(n => s"$table/$snapDir/$n"): _*)
  }

  /** Read the CURRENT snapshot (highest published manifest). */
  def read(spark: SparkSession, table: String): DataFrame = {
    val ids = snapshots(spark, table)
    require(ids.nonEmpty, s"no published snapshot at $table")
    readAt(spark, table, ids.last)
  }

  /** Retention: delete every published snapshot except the newest `keep`
    * (Iceberg's expire_snapshots contract, reduced the same way as
    * [[commit]]). Per snapshot the MANIFEST is deleted first, the staged
    * data second — a crash between the two leaves unreferenced data
    * garbage (reclaimable by [[vacuum]]) but never a manifest pointing at
    * deleted files. The newest manifest is never touched, so a reader
    * concurrent with expiry either resolves the still-live snapshot or
    * fails loudly on an already-expired id — it can never see a torn
    * state. Returns the expired ids.
    */
  def expire(spark: SparkSession, table: String, keep: Int = 1): Seq[Long] = {
    require(keep >= 1, s"keep must be >= 1, got $keep")
    val f = fs(spark, table)
    val dead = snapshots(spark, table).dropRight(keep)
    dead.foreach { id =>
      val (snapDir, _) = manifest(f, table, id)
      f.delete(new Path(table, s"_manifest_$id"), false)
      f.delete(new Path(table, snapDir), true)
      ()
    }
    dead
  }

  /** Reclaim orphans: delete every `snap_*` staging dir NOT referenced by
    * any published manifest, plus leftover `.tmp` manifests — the garbage
    * that crashed writers, raced [[commitIfAbsent]] losers, and replaced
    * [[commit]] replays leave behind (Iceberg's remove_orphan_files).
    * Referenced dirs are never touched, so vacuum is safe concurrent with
    * readers of any PUBLISHED snapshot.
    *
    * `olderThanMs` (default 24 h) is the in-flight-writer guard, straight
    * from Iceberg's remove_orphan_files contract: a committer that has
    * staged its data but not yet published its manifest is indistinguishable
    * from an orphan, so only entries whose modification time is older than
    * the threshold are eligible — an active commit (seconds–minutes old)
    * can never lose its staging dir to a concurrent vacuum. Pass 0 only
    * when no writer can be live (tests, decommission). Returns the deleted
    * names.
    */
  def vacuum(spark: SparkSession, table: String,
      olderThanMs: Long = 24L * 3600 * 1000): Seq[String] = {
    val f = fs(spark, table)
    val p = new Path(table)
    if (!f.exists(p)) return Seq.empty
    val referenced = snapshots(spark, table)
      .map(id => manifest(f, table, id)._1).toSet
    val cutoff = System.currentTimeMillis() - olderThanMs
    val victims = f.listStatus(p).toSeq.filter { st =>
      val n = st.getPath.getName
      val orphan = (n.startsWith("snap_") && !referenced.contains(n)) ||
        (n.startsWith("_manifest_") && n.endsWith(".tmp"))
      orphan && st.getModificationTime <= cutoff
    }.map(_.getPath.getName)
    victims.foreach(n => f.delete(new Path(table, n), true))
    victims.sorted
  }
}
