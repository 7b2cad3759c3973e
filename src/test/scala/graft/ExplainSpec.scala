package graft

import org.scalatest.funsuite.AnyFunSuite

/** Explain.normalizeIds: every session counter in a plan dump is renumbered
  * per plan, so a regenerated plan file differs only where the plan does.
  * Starts no Spark session.
  */
class ExplainSpec extends AnyFunSuite {

  /** A checkpointed scan read twice (v7, x13) and a pivot's backquoted
    * alias (h4, h14), with the session-wide counters as parameters. */
  private def dump(rdd1: Int, rdd2: Int, alias: Int): String =
    s"""(3) Scan ExistingRDD
       |Arguments: [label#3, cvec#4], MapPartitionsRDD[$rdd1] at localCheckpoint, ExistingRDD
       |(5) Scan ExistingRDD
       |Arguments: [label#5, cvec#6], MapPartitionsRDD[$rdd2] at localCheckpoint, ExistingRDD
       |(7) HashAggregate
       |Results [2]: [user_id#1L, pivotfirst(count(1)#6L) AS `count(1)`#$alias]
       |Output [1]: [coalesce(`count(1)`#$alias[0], 0) AS click#19L]
       |""".stripMargin

  test("normalizeIds: RDD ids and backquoted-alias ids are renumbered per plan") {
    val want =
      """(3) Scan ExistingRDD
        |Arguments: [label#1, cvec#2], MapPartitionsRDD[1] at localCheckpoint, ExistingRDD
        |(5) Scan ExistingRDD
        |Arguments: [label#3, cvec#4], MapPartitionsRDD[1] at localCheckpoint, ExistingRDD
        |(7) HashAggregate
        |Results [2]: [user_id#5L, pivotfirst(count(1)#4L) AS `count(1)`#6]
        |Output [1]: [coalesce(`count(1)`#6[0], 0) AS click#7L]
        |""".stripMargin
    // the same plan dumped at two points of a session's counters
    assert(Explain.normalizeIds(dump(6362, 6362, 34063)) === want)
    assert(Explain.normalizeIds(dump(5851, 5851, 34295)) === want)
  }

  test("normalizeIds: one RDD named twice still differs from two RDDs") {
    val two = Explain.normalizeIds(dump(5851, 5852, 34295))
    assert(two.contains("MapPartitionsRDD[2]"))
    assert(two !== Explain.normalizeIds(dump(5851, 5851, 34295)))
  }

  test("normalizeIds: a call site keeps its file and loses its line number") {
    def scan(file: String, line: Int) =
      s"Arguments: [a#1, b#2], MapPartitionsRDD[7] at localCheckpoint at $file.scala:$line, ExistingRDD\n"
    val want = "Arguments: [a#1, b#2], MapPartitionsRDD[1] at localCheckpoint at VectorQueries.scala:N, ExistingRDD\n"
    assert(Explain.normalizeIds(scan("VectorQueries", 369)) === want)
    assert(Explain.normalizeIds(scan("VectorQueries", 359)) === want)
    assert(Explain.normalizeIds(scan("Bpe", 112)) !== want)
  }
}
