package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one per JVM, SURVEY §5.2). */
object TestSession {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_wh").toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

abstract class SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = TestSession.spark
  lazy val classic: org.apache.spark.sql.classic.SparkSession =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
  val sf: String = "/root/testdata/sf0.001"

  /** Spark jobs started while `f` runs, with its result. */
  def jobsDuring[T](f: => T): (T, Int) = {
    val sc = spark.sparkContext
    org.apache.spark.ListenerBusDrain(sc)
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    sc.addSparkListener(l)
    try {
      val r = f
      org.apache.spark.ListenerBusDrain(sc)
      (r, jobs.get)
    } finally sc.removeSparkListener(l)
  }
}
