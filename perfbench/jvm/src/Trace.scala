package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer. Spans of one request share `request`;
  * `parent` is the enclosing span's id (-1 for a root). Counters are filled
  * by the listeners below for work submitted while the span was innermost.
  */
final class Span(val id: Int, val name: String, val parent: Int,
    val request: String, val startNs: Long) {
  val startMs: Long = System.currentTimeMillis()
  val thread: String = Thread.currentThread().getName
  @volatile var endNs: Long = 0L
  @volatile var endMs: Long = 0L
  val counters: mutable.Map[String, Double] = mutable.Map.empty
  /** (launch, finish) wall-clock ms of every task attributed to the span. */
  val tasks: mutable.ArrayBuffer[(Long, Long)] = mutable.ArrayBuffer.empty
  def durMs: Double = (endNs - startNs) / 1e6
  def add(k: String, v: Double): Unit = synchronized {
    counters(k) = counters.getOrElse(k, 0.0) + v
  }
  def max(k: String, v: Double): Unit = synchronized {
    counters(k) = math.max(counters.getOrElse(k, 0.0), v)
  }
}

/** In-memory span recorder. When disabled, [[span]] only runs its body and
  * no listener is registered, so the untraced run measures the program
  * alone.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val sc: SparkContext = spark.sparkContext
  private val all = mutable.ArrayBuffer.empty[Span]
  private val current = new ThreadLocal[Span]
  private val stageSpan = new java.util.concurrent.ConcurrentHashMap[Int, Span]
  private val stageTaskMs =
    new java.util.concurrent.ConcurrentHashMap[Int, mutable.ArrayBuffer[Long]]
  val Prop = "perfbench.span"

  def spans: Seq[Span] = synchronized(all.toList)

  def span[T](name: String, request: String)(body: => T): T =
    if (!enabled) body
    else {
      val parent = current.get
      val s = synchronized {
        val s = new Span(all.size, name, if (parent == null) -1 else parent.id,
          request, System.nanoTime())
        all += s
        s
      }
      current.set(s)
      sc.setLocalProperty(Prop, s.id.toString)
      try body
      finally {
        s.endNs = System.nanoTime()
        s.endMs = System.currentTimeMillis()
        current.set(parent)
        sc.setLocalProperty(Prop, if (parent == null) null else parent.id.toString)
      }
    }

  /** The innermost open span on this thread, if tracing. */
  def innermost: Option[Span] = Option(current.get)

  private def spanOf(props: java.util.Properties): Option[Span] =
    Option(props).flatMap(p => Option(p.getProperty(Prop)))
      .map(id => synchronized(all(id.toInt)))

  private val jobs = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      spanOf(e.properties).foreach { s =>
        e.stageInfos.foreach(si => stageSpan.put(si.stageId, s))
        s.add("jobs", 1)
      }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageSpan.get(e.stageInfo.stageId)).foreach { s =>
        s.add("stages", 1)
        val ms = Option(stageTaskMs.remove(e.stageInfo.stageId))
          .map(_.sorted).getOrElse(mutable.ArrayBuffer.empty[Long])
        if (ms.size >= 2) {
          val median = ms(ms.size / 2).toDouble
          if (median > 0) s.max("task_skew", ms.last / median)
        }
      }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageSpan.get(e.stageId)).foreach { s =>
        val info = e.taskInfo
        s.add("tasks", 1)
        if (!info.successful) s.add("failed_tasks", 1)
        s.synchronized(s.tasks += ((info.launchTime, info.finishTime)))
        val ms = stageTaskMs.computeIfAbsent(e.stageId, _ => mutable.ArrayBuffer.empty[Long])
        ms.synchronized(ms += info.duration)
        val m = e.taskMetrics
        if (m != null) {
          s.add("task_cpu_ms", m.executorCpuTime / 1e6)
          s.add("task_run_ms", m.executorRunTime.toDouble)
          s.add("gc_ms", m.jvmGCTime.toDouble)
          s.add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
          s.add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
          s.add("spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
          s.add("records_read", m.inputMetrics.recordsRead.toDouble)
          s.max("peak_exec_mem_bytes", m.peakExecutionMemory.toDouble)
        }
      }
  }

  /** Query executions (eager count/collect probes, writes): the listener
    * bus delivers them on its own thread, so each is stamped with the wall
    * time its planning ended and attributed in [[settle]] to the innermost
    * span open at that instant.
    */
  private val actions = mutable.ArrayBuffer.empty[(Long, String)]
  private val queries = new QueryExecutionListener {
    private def stamp(qe: QueryExecution, key: String): Unit = {
      val t = qe.tracker.phases.values.map(_.endTimeMs).foldLeft(0L)(math.max)
      actions.synchronized(actions += ((t, key)))
    }
    override def onSuccess(funcName: String, qe: QueryExecution, ns: Long): Unit =
      stamp(qe, "actions")
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      stamp(qe, "actions")
  }

  if (enabled) {
    sc.addSparkListener(jobs)
    spark.listenerManager.register(queries)
  }

  /** Deliver every queued listener event before counters are read. */
  def settle(): Unit = if (enabled) {
    org.apache.spark.PerfbenchBus.drain(sc)
    val done = actions.synchronized { val a = actions.toList; actions.clear(); a }
    val ss = spans
    done.foreach { case (t, key) =>
      val open = ss.filter(s => s.startMs <= t && (s.endMs == 0L || t <= s.endMs))
      if (open.nonEmpty) open.maxBy(_.startNs).add(key, 1)
    }
  }

  def close(): Unit = if (enabled) {
    settle()
    sc.removeSparkListener(jobs)
    spark.listenerManager.unregister(queries)
  }
}

object Trace {
  /** Total length of the union of [start, end) intervals. */
  def covered(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var end = Long.MinValue
    intervals.sortBy(_._1).foreach { case (a, b) =>
      if (a >= end) { total += b - a; end = b }
      else if (b > end) { total += b - end; end = b }
    }
    total
  }

  def toJson(s: Span): Map[String, Any] = Map(
    "id" -> s.id, "name" -> s.name, "parent" -> s.parent,
    "request" -> s.request, "start_ns" -> s.startNs, "end_ns" -> s.endNs,
    "thread" -> s.thread,
    "counters" -> s.synchronized(s.counters.toMap))
}
