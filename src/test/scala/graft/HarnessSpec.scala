package graft

import org.apache.spark.sql.functions._

/** The shared run path of the command-line mains. */
class HarnessSpec extends SparkSuite {

  test("every registry query the scale probe lists resolves in SparkEntry.queries") {
    val missing = ScaleProbe.Queries.filterNot(SparkEntry.queries.contains)
    assert(missing.isEmpty, s"unregistered: $missing")
    assert(ScaleProbe.Queries.distinct.size == ScaleProbe.Queries.size)
  }

  test("timed: a failing run returns its exception class and releases caches") {
    val r = Harness.timed {
      Caches.track(spark.range(10).toDF("x"))
      spark.range(10).select(
        raise_error(lit("boom\nsecond line")).as("x"))
    }
    val f = r.left.getOrElse(fail(s"expected a failure, got $r"))
    assert(f.cls.nonEmpty && f.cls.contains("."), f.toString)
    assert(f.message.contains("boom") && !f.message.contains("second line"), f.toString)
    assert(Caches.snapshot.isEmpty)
    assert(f.json.startsWith("{\"class\":"))
  }

  test("timed: a successful run returns the wall seconds") {
    val r = Harness.timed(spark.range(100).toDF("x"))
    assert(r.exists(_ >= 0.0), r.toString)
  }
}
