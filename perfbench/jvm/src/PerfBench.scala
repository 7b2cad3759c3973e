package perfbench

import scala.collection.mutable
import scala.util.Random

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{Caches, SparkEntry, Tables}

/** JVM side of the benchmark: runs one workload in one session and writes
  * its raw samples (request times, set-up rounds, ingest lags, failures,
  * spans) to a JSON file. `perfbench/run.py` prepares the inputs, checks
  * outputs and turns the samples into metrics.
  *
  * Usage: PerfBench <config.json> <result.json>
  */
object PerfBench {
  val json: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  final case class Failure(workload: String, request: String, cls: String, message: String) {
    def toJson: Map[String, Any] = Map("workload" -> workload, "request" -> request,
      "exception" -> cls, "message" -> message)
  }
  object Failure {
    def apply(workload: String, request: String, e: Throwable): Failure = {
      val root = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq.last
      val msg = Option(e.getMessage).getOrElse("").linesIterator.nextOption().getOrElse("")
      Failure(workload, request, e.getClass.getName +
        (if (root ne e) s" (cause ${root.getClass.getName})" else ""), msg)
    }
  }

  final class Run(val conf: Map[String, Any]) {
    def str(k: String): String = conf(k).toString
    def num(k: String): Double = conf(k).toString.toDouble
    val workload: String = str("workload")
    val seed: Long = num("seed").toLong
    val seconds: Double = num("seconds")
    val trace: Boolean = num("trace") != 0
    val cores: Int = num("cores").toInt
    val work: String = str("work_dir")
    val failures = mutable.ArrayBuffer.empty[Failure]
    val out = mutable.LinkedHashMap.empty[String, Any]
    def fail(request: String, e: Throwable): Unit = failures += Failure(workload, request, e)
  }

  def session(r: Run): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[${r.cores}]")
      .appName(s"perfbench-${r.workload}")
      .config("spark.sql.shuffle.partitions", r.cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"${r.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${r.work}/warehouse")
      .config("spark.cleaner.periodicGC.interval", "30s")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Set-up rounds per run; `setup_s` takes their median. */
  val SetupRounds = 3

  /** [[SetupRounds]] set-up rounds, each a fresh session plus `stage`; the
    * last round's session is kept for the run.
    */
  def setUp(r: Run)(stage: SparkSession => Unit): (SparkSession, Seq[Double]) = {
    val times = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    for (_ <- 1 to SetupRounds) {
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = session(r)
      stage(spark)
      times += (System.nanoTime() - t0) / 1e9
    }
    (spark, times.toSeq)
  }

  def main(args: Array[String]): Unit = {
    val conf = json.readValue(new java.io.File(args(0)), classOf[Map[String, Any]])
    val r = new Run(conf)
    val t0 = System.nanoTime()
    val spark = r.workload match {
      case "search" | "curate" => Queries.run(r)
      case "ingest" => Ingest.run(r)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    r.out("meta") = Map(
      "spark" -> spark.version,
      "scala" -> scala.util.Properties.versionNumberString,
      "jdk" -> System.getProperty("java.version"),
      "master" -> spark.sparkContext.master,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "jvm_s" -> (System.nanoTime() - t0) / 1e9)
    spark.stop()
    r.out("failures") = r.failures.map(_.toJson).toSeq
    r.out("peak_rss_mb") = peakRssMb()
    json.writeValue(new java.io.File(args(1)), r.out)
  }

  /** VmHWM of this JVM, MiB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024
    }.getOrElse(0.0)
    finally src.close()
  }
}

/** `search` and `curate`: a closed loop of registry queries, one client. */
object Queries {
  import PerfBench._

  def run(r: Run): SparkSession = {
    val dir = r.str("data_dir")
    val names = r.conf("requests").asInstanceOf[Seq[Any]].map(_.toString)
    val registry = SparkEntry.queries
    val (spark, rounds) = setUp(r) { s =>
      // table staging: every fixture table loaded once
      Tables.names.foreach(t => Tables(s, dir, t))
    }
    val tracer = new Tracer(spark, r.trace)

    // Warm-up passes, billed to set-up. The first runs each request once and
    // writes its result as parquet for the output check; the others run the
    // timed path, so the JIT has compiled the planner's hot code before the
    // clock starts.
    val w0 = System.nanoTime()
    val checked = mutable.ArrayBuffer.empty[String]
    names.foreach { n =>
      try {
        registry(n)(spark, dir).coalesce(1).write.mode("overwrite")
          .parquet(s"${r.work}/out/$n")
        checked += n
      } catch { case e: Throwable => r.fail(n, e) }
      finally Caches.unpersistAll()
    }
    for (_ <- 2 to r.num("warmup_passes").toInt; n <- checked) {
      try registry(n)(spark, dir).write.mode("overwrite").format("noop").save()
      catch { case e: Throwable => r.fail(n, e) }
      finally Caches.unpersistAll()
    }
    val warmS = (System.nanoTime() - w0) / 1e9
    val oracle = SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) }
    json.writeValue(new java.io.File(s"${r.work}/out/oracle_sql.json"), oracle)

    // Timed region: the whole number of passes, each in a seeded order, that
    // comes nearest to `seconds`.
    val rnd = new Random(r.seed)
    val samples = mutable.ArrayBuffer.empty[Map[String, Any]]
    val passes = mutable.ArrayBuffer.empty[Double]
    val m0 = System.nanoTime()
    var pass = 0
    while (pass == 0 || (System.nanoTime() - m0) / 1e9 + passes.last / 2 < r.seconds) {
      val p0 = System.nanoTime()
      rnd.shuffle(names).foreach { n =>
        val id = s"$pass:$n"
        val q0 = System.nanoTime()
        var read: Seq[String] = Nil
        val ok = try {
          tracer.span("request", id) {
            val df = tracer.span("queries.build", id)(registry(n)(spark, dir))
            if (tracer.enabled) tracer.span("plan", id) {
              df.queryExecution.executedPlan
              read = tablesRead(df)
              planPhases(df, tracer.innermost.get)
            }
            tracer.span("exec", id)(df.write.mode("overwrite").format("noop").save())
          }
          true
        } catch { case e: Throwable => r.fail(n, e); false }
        val ms = (System.nanoTime() - q0) / 1e6
        // outside the request's time, as a client releases operator caches
        // once it has read a result
        if (tracer.enabled) layerProbe(spark, tracer, dir, id, read)
        else Caches.unpersistAll()
        if (ok) samples += Map("name" -> n, "pass" -> pass, "ms" -> ms)
      }
      passes += (System.nanoTime() - p0) / 1e9
      pass += 1
    }
    tracer.close()
    r.out("setup_rounds_s") = rounds
    r.out("warmup_s") = warmS
    r.out("requests") = samples.toSeq
    r.out("passes_s") = passes.toSeq
    r.out("checked") = checked.toSeq
    if (tracer.enabled) r.out("spans") = tracer.spans.map(Trace.toJson)
    spark
  }

  /** Traced run only, after each request: the request's task-idle time and
    * cached bytes, the unpersist, then one `Tables.apply` per table the
    * request's plan read.
    */
  private def layerProbe(spark: SparkSession, tracer: Tracer, dir: String,
      id: String, read: Seq[String]): Unit = {
    tracer.settle()
    val mine = tracer.spans.filter(_.request == id)
    mine.find(_.name == "request").foreach { req =>
      val busy = Trace.covered(mine.flatMap(s => s.synchronized(s.tasks.toList)))
      req.add("idle_ms", math.max(0.0, req.durMs - busy))
      val cached = spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
      req.add("cached_bytes", cached.toDouble)
    }
    tracer.span("caches.unpersist", id)(Caches.unpersistAll())
    read.foreach(t => tracer.span("tables", id)(Tables(spark, dir, t)))
  }

  /** Catalyst phase times of the request's own plan. */
  private def planPhases(df: DataFrame, s: Span): Unit =
    df.queryExecution.tracker.phases.foreach { case (phase, p) =>
      s.add(s"${phase}_ms", p.durationMs.toDouble)
    }

  /** Fixture tables a request reads, from the file relations of its plan. */
  private def tablesRead(df: DataFrame): Seq[String] = {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val files = df.queryExecution.optimizedPlan.collectWithSubqueries {
      case l: LogicalRelation => l.relation match {
        case h: HadoopFsRelation => h.location.rootPaths.map(_.getName)
        case _ => Nil
      }
    }.flatten.toSet
    Tables.names.filter(t => files.contains(s"$t.parquet"))
  }
}
