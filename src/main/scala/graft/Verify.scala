package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Harness.session(Harness.cpus(4))
    new java.io.File(outDir).mkdirs()
    // Optional comma-separated name filter for local iteration (mirrors
    // Bench's SPARK_GRAFT_BENCH_ONLY); filters the oracle dump too, so
    // check_oracle.py doesn't report the undumped queries as unreadable.
    val only = Harness.only("SPARK_GRAFT_VERIFY_ONLY")
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${Harness.Failure(e)}")
      }
      // release operator-internal caches once the result is on disk, so the
      // dump's memory footprint is one query, not the cumulative session
      finally Caches.unpersistAll()
    }
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) => s"${Harness.quote(k)}: ${Harness.quote(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
