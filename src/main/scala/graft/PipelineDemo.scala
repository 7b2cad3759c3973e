package graft

import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.functions.TextFunctions
import graft.pipeline.DataSplit

/** End-to-end training-data pipeline demo: the LLM-prep flow every corpus
  * run needs, chained from the library's operators —
  *
  *   read → quality filter → redact → exact dedup → near-dup clustering →
  *   keep representatives → stable split → token-budget packing → write
  *
  * Run: `sbt "runMain graft.PipelineDemo"` (env SPARK_GRAFT_SF_DIR).
  * Prints one `DEMO_PIPELINE` line per stage with surviving row counts.
  */
object PipelineDemo {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val spark = Harness.session(4)
    def stage(name: String, n: Long): Unit = println(s"DEMO_PIPELINE $name=$n")

    val docs = Tables(spark, sfDir, "documents")
    stage("read", docs.count())

    // 1. quality: drop the most repetitive 20% within each language
    val quality = {
      val toks = TextFunctions.tokens(col("text"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("lang")).orderBy(col("rep_ratio"), col("doc_id"))
      docs.withColumn("rep_ratio",
          size(array_distinct(toks)).cast("double") / size(toks))
        .withColumn("pr", percent_rank().over(w))
        .filter(col("pr") >= 0.2)
        .drop("rep_ratio", "pr")
    }
    stage("quality_filtered", quality.count())

    // 1b. exact duplicate-span gate: drop docs with >50% of token positions
    // covered by 8-token spans that occur verbatim in another doc — the
    // boilerplate/mirror signal whole-doc near-dup signatures miss
    val spanOk = quality.join(
      Dedup.dupSpanCoverage(quality, col("doc_id"), col("text"), k = 8)
        .filter(col("dup_ratio") <= 0.5).select(col("doc_id")),
      "doc_id")
    stage("span_gate", spanOk.count())

    // 1c. corpus-LM fluency cut: drop the lowest-scoring 10% by bigram
    // conditional log-prob (rare-token soup and scrambled word order).
    // Docs too short to carry a bigram have no score — they are KEPT (an
    // anti-join against the dropped set), not silently discarded: absence
    // of evidence is not low quality.
    val lmOk = {
      val scored = graft.pipeline.LmScore.bigramAvgLogProb(
        spanOk, col("doc_id"), col("text"))
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("avg_lp"), col("doc_id"))
      val dropped = scored.withColumn("pr", percent_rank().over(w))
        .filter(col("pr") < 0.1).select(col("doc_id"))
      spanOk.join(dropped, Seq("doc_id"), "left_anti")
    }
    stage("lm_filtered", lmOk.count())

    // 2. redaction: PII-style masking before anything is persisted
    val redacted = lmOk.withColumn("text",
      regexp_replace(
        regexp_replace(col("text"), "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+", "<EMAIL>"),
        "\\d{6,}", "<NUM>"))
    stage("redacted", redacted.count())

    // 3. exact dedup by normalized-text fingerprint (min doc_id survives)
    val exact = Dedup.exact(redacted, col("doc_id"),
      TextFunctions.fingerprint(col("text")))
    stage("exact_deduped", exact.count())

    // 4. near-dup clustering: Jaccard pairs → connected components → keep
    //    the min-id representative per cluster
    val pairs = Dedup.jaccardPairs(exact, col("doc_id"), col("text"), 0.5,
      Seq(col("lang"), col("source")))
    val groups = Dedup.dedupGroups(exact, col("doc_id"), pairs)
    val reps = exact.join(
      groups.filter(col("is_rep")).select(col("doc_id")), "doc_id")
    stage("neardup_representatives", reps.count())

    // 5. stable train/valid/test split (hash of id — re-runs reproduce it)
    val split = reps.withColumn("split", DataSplit.split(col("doc_id")))
    split.groupBy("split").count().orderBy("split").collect()
      .foreach(r => stage(s"split_${r.getString(0)}", r.getLong(1)))

    // 6. token-budget packing per (lang) for sequence concatenation
    val packed = DataSplit.packChunks(split.filter(col("split") === "train"),
      col("lang"), col("doc_id"), col("text"), budget = 512)
    stage("train_chunks", packed.select("grp", "chunk").distinct().count())

    // 7. tokenizer: learn the first BPE merge rules from the train split
    val vocab = split.filter(col("split") === "train")
      .select(explode(TextFunctions.tokens(col("text"))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("c"))
    graft.pipeline.Bpe.merges(vocab, rounds = 5).collect()
      .foreach(r => stage(s"bpe_merge_${r.getLong(0)}_${r.getString(3)}", r.getLong(4)))

    val out = java.nio.file.Files.createTempDirectory("graft_pipeline").toString
    packed.write.mode("overwrite").partitionBy("grp").parquet(s"$out/packed")
    stage("written_files",
      spark.read.parquet(s"$out/packed").count())
    spark.stop()
  }
}
