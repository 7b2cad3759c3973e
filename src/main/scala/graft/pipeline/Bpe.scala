package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Byte-pair-encoding tokenizer TRAINING as a relational pipeline: the
  * iterative merge-rule learner every LLM preprocessing stack runs before
  * it can tokenize anything (Sennrich et al. 2016).
  *
  * Round r: count adjacent symbol pairs over the (distinct-word, count)
  * vocabulary, pick the most frequent pair (count desc, pair asc — fully
  * deterministic), rewrite every word's symbol sequence with that pair
  * merged, repeat. All corpus-scale work is groupBy aggregation; the merge
  * winner is a 1-row broadcast, never a driver collect.
  *
  * The symbol sequence is encoded as a DOUBLE-space-joined string
  * ("  h  e  y  ") so that applying a merge is one literal `replace`:
  * pattern ` a  b ` → ` ab ` consumes one of the two separator spaces on
  * each side, which makes consecutive non-overlapping occurrences
  * (`a b a b`) all merge while overlapping ones (`a a a` under pair (a,a))
  * merge left-to-right greedily — exactly BPE's semantics, and identical
  * in any engine whose `replace` scans left-to-right without rescanning
  * replacements (Spark and DuckDB both do), so the whole trainer sits
  * under the differential oracle.
  *
  * Each round's 1-row winner is eagerly materialized (localCheckpoint)
  * before it is used twice (as the emitted rule and inside the merge
  * rewrite) — without that, round r's plan would embed round r−1's seq
  * subtree twice and the unrolled plan would double per round. With it,
  * lineage grows by one merge per round (linear); for rounds ≫ 10 at
  * scale, additionally checkpoint the seq frame itself.
  */
object Bpe {

  /** (word, c) vocabulary → initial per-character symbol sequence. */
  private def charSeqs(vocab: DataFrame): DataFrame =
    vocab.select(col("word"), col("c"),
      concat(lit("  "), array_join(split(col("word"), ""), "  "), lit("  ")).as("seq"))

  /** Adjacent-pair counts weighted by word frequency. */
  private def pairCounts(seqs: DataFrame): DataFrame =
    seqs
      .select(col("c"), expr("filter(split(seq, ' '), x -> x != '')").as("sy"))
      // single-symbol words carry no pairs; also guards Spark's
      // sequence(1, 0), which counts DOWN rather than yielding empty
      .filter(size(col("sy")) >= 2)
      .select(col("c"), explode(expr(
        "transform(sequence(1, size(sy) - 1), " +
          "i -> struct(element_at(sy, i) AS a, element_at(sy, i + 1) AS b))")).as("p"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(sum(col("c")).cast("long").as("cnt"))

  /** The winning pair this round: count desc, then (a, b) asc. */
  private def best(pc: DataFrame): DataFrame =
    pc.orderBy(col("cnt").desc, col("a"), col("b")).limit(1)

  /** Rewrite every sequence with the (1-row, broadcast) winner merged. */
  private def applyMerge(seqs: DataFrame, winner: DataFrame): DataFrame =
    seqs
      .crossJoin(broadcast(winner.select(col("a").as("ba"), col("b").as("bb"))))
      .select(col("word"), col("c"),
        expr("replace(seq, ' ' || ba || '  ' || bb || ' ', ' ' || ba || bb || ' ')")
          .as("seq"))

  /** Learn `rounds` merge rules from a (word, c) vocabulary frame.
    * Output: (round, sym_a, sym_b, merged, cnt) ordered by round.
    *
    * `checkpointEvery`: real tokenizers run thousands of rounds, and even
    * with the 1-row winner materialized the seq frame's lineage grows by one
    * replace+crossJoin per round — at depth that means a plan tree (and
    * analysis time) linear in rounds on EVERY round, i.e. quadratic total.
    * Truncating the seq lineage with an eager localCheckpoint every N rounds
    * caps plan depth at N merges; result-identical (checkpointing changes
    * execution, never values), probed at rounds=20 by the scale probe's
    * former x13_bpe_shape (BENCH_sf1_spot.json).
    */
  def merges(vocab: DataFrame, rounds: Int, checkpointEvery: Int = 10): DataFrame =
    trainFold(vocab, rounds, checkpointEvery)._2
      .reduce(_.unionByName(_)).orderBy(col("round"))

  /** Train `rounds` merges and APPLY them: the tokenization half of the
    * trainer — each vocabulary word segmented into its post-merge subword
    * sequence. Output: (word, c, subwords array<string>). Joining a token
    * stream against this frame tokenizes a corpus with the learned vocab
    * (the production split: train once, segment everywhere — the word →
    * subwords frame IS the tokenizer artifact).
    */
  def segment(vocab: DataFrame, rounds: Int, checkpointEvery: Int = 10): DataFrame =
    trainFold(vocab, rounds, checkpointEvery)._1
      .select(col("word"), col("c"),
        filter(split(col("seq"), " "), x => x =!= "").as("subwords"))

  private def trainFold(vocab: DataFrame, rounds: Int,
      checkpointEvery: Int): (DataFrame, Seq[DataFrame]) = {
    require(rounds >= 1, "rounds must be >= 1")
    require(checkpointEvery >= 1, "checkpointEvery must be >= 1")
    // Cache the initial symbol-sequence frame (r22): every round's
    // pairCounts — and the final segment/apply consumer — re-derives its
    // seqs from s0, so without a cache the corpus-scale vocabulary
    // aggregation that produced `vocab` re-executes once per round (the
    // r21-measured plans showed rounds+1 full corpus passes for a
    // 3-round trainer). The cached frame is vocabulary-sized (distinct
    // words + counts + per-char seq string), orders of magnitude under
    // corpus scale; serialized like the dedup postings caches so it cannot
    // thrash the unified region, released by Caches.unpersistAll().
    val s0 = graft.Caches.track(charSeqs(vocab),
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    (1 to rounds).foldLeft((s0, Seq.empty[DataFrame])) {
      case ((seqs, acc), r) =>
        // materialize the ≤1-row winner so the two uses below don't each
        // re-embed (and re-execute) the whole pair-count subtree
        val winner = best(pairCounts(seqs)).localCheckpoint()
        val rule = winner.select(
          lit(r.toLong).as("round"),
          col("a").as("sym_a"), col("b").as("sym_b"),
          concat(col("a"), col("b")).as("merged"), col("cnt"))
        val nextSeqs = applyMerge(seqs, winner)
        val bounded =
          if (r % checkpointEvery == 0 && r < rounds) nextSeqs.localCheckpoint()
          else nextSeqs
        (bounded, acc :+ rule)
    }
  }
}
