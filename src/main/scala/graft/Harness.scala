package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, explode, lit, sequence}

/** The one run path of the command-line mains (Bench, ScaleProbe, Verify,
  * Explain, EntrySmoke, IngestDemo, PipelineDemo): the local session they
  * build, the comma-separated name filter, the timed noop write with its
  * failure record, the scratch-dir helper, and the key-offset replication
  * the scale probe derives larger tables with.
  */
object Harness {

  /** `SPARK_GRAFT_CPUS`, or `default` when unset. */
  def cpus(default: Int): Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt).getOrElse(default)

  /** `local[cpus]`, shuffle partitions = cpus, session zone UTC, no UI,
    * WARN logging, plus the caller's `confs` (e.g. Bench's heap-canary
    * `spark.memory.fraction`).
    *
    * ContextCleaner only reclaims finished broadcasts/shuffles when a GC
    * actually runs; its default periodic-GC interval (30 min) never fires
    * inside a few-minute run, so ~300 broadcast exchanges pile up in an
    * 8 GB heap and the resulting full-GC pause lands on whichever query is
    * running when the heap fills — deterministically the same victims when
    * the query order is fixed. Every 30 s spreads that cleanup instead.
    */
  def session(cpus: Int, confs: (String, String)*): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.cleaner.periodicGC.interval", "30s")
    confs.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Comma-separated name filter read from `envVar`; None when unset. */
  def only(envVar: String): Option[Set[String]] =
    sys.env.get(envVar).map(_.split(",").map(_.trim).toSet)

  /** A failed run: exception class and the first line of its message. */
  final case class Failure(cls: String, message: String) {
    def json: String = s"""{"class":${quote(cls)},"message":${quote(message)}}"""
    override def toString: String = s"$cls: $message"
  }
  object Failure {
    def apply(t: Throwable): Failure = Failure(t.getClass.getName,
      Option(t.getMessage).flatMap(_.linesIterator.nextOption()).getOrElse(""))
  }

  /** Time one full materialization of `df` through the noop sink: unlike
    * `count()`, which lets Catalyst prune projections, the noop write
    * evaluates every output column. The clock covers building the frame
    * too. Returns the wall seconds (ms precision) or the failure.
    *
    * Operator-internal caches are released after EVERY run, after the clock
    * stops: left pinned, one query's postings/signature caches compete with
    * the next query's execution memory.
    */
  def timed(df: => DataFrame): Either[Failure, Double] = {
    val t0 = System.nanoTime()
    try {
      df.write.mode("overwrite").format("noop").save()
      Right(math.rint((System.nanoTime() - t0) / 1e6) / 1e3)
    } catch { case t: Throwable => Left(Failure(t)) }
    finally Caches.unpersistAll()
  }

  /** JSON string literal: escapes backslash, quote and ALL control chars
    * (< 0x20) — a tab or CR left raw makes a reader's `json.load` fail.
    */
  def quote(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Temp namespace per (data dir, JVM): the dir hash keeps sf0.001 tests /
    * sf0.01 verify / sf0.1 bench apart within a session; the pid keeps
    * CONCURRENT mains (Verify ‖ Bench) from racing on one scratch
    * directory or table name. Reruns within one JVM reuse the path
    * (overwrite mode measures steady state).
    */
  private[graft] def tag(d: String): String =
    s"${d.hashCode & 0x7fffffff}_p${ProcessHandle.current().pid()}"

  private val cleanupRegistered =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Scratch dir `<java.io.tmpdir>/<prefix>_<tag(d)>`, deleted on JVM exit
    * (also on a killed or failed run) so per-run table copies never
    * accumulate.
    */
  def scratch(prefix: String, d: String): String = {
    val p = s"${System.getProperty("java.io.tmpdir")}/${prefix}_${tag(d)}"
    if (cleanupRegistered.add(p))
      Runtime.getRuntime.addShutdownHook(
        new Thread(() => deleteRec(new java.io.File(p))))
    p
  }

  def deleteRec(f: java.io.File): Unit = {
    val kids = f.listFiles()
    if (kids != null) kids.foreach(deleteRec)
    f.delete(); ()
  }

  /** `xf` copies of `df` with each long key in `keyCols` remapped
    * `k -> k*xf + rep`, so join fan-outs are preserved, never multiplied.
    * The copy index stays in column `rep` for callers that perturb copies.
    */
  def expand(df: DataFrame, xf: Int, keyCols: Seq[String]): DataFrame = {
    val withRep = df.withColumn("rep", explode(sequence(lit(0L), lit(xf - 1L))))
    keyCols.foldLeft(withRep)((d, k) => d.withColumn(k, col(k) * xf + col("rep")))
  }
}
