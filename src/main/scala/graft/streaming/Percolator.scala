package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** Streaming percolation — the ES percolator's alerting use case: match each
  * INCOMING document against a store of registered queries and emit
  * (query_id, doc_id) hits as the stream flows.
  *
  * The matcher is deliberately the PER-ROW form: a document matches a
  * conjunctive query iff every query term appears in its token set, tested
  * with `array_intersect` against a broadcast (query_id, terms) store. That
  * makes the operator STATELESS — no keyed state, no watermark, Append-mode
  * safe on any micro-batch boundary — and each doc's cost is bounded by the
  * store size, which is the percolator contract (stores are small; corpora
  * are not). The batch dual `t23_percolate` keeps the postings-join form
  * (cost scales with matching pairs, not docs × queries) — the right shape
  * when the corpus is at rest; both forms' agreement is pinned in
  * StreamingSpec.
  *
  * Scale: the store groups to one array row per query and broadcasts; the
  * doc stream never shuffles — tokenize, nested-loop against ≤ store-size
  * rows, filter. At 100 TB of stream the plan is embarrassingly map-side.
  */
object Percolator {

  /** Collapse a (query_id, term) store to one row per query with a sorted
    * term array (sorting only for deterministic display — matching is
    * set-based).
    */
  def compileStore(queries: DataFrame): DataFrame =
    queries.groupBy(col("query_id"))
      .agg(sort_array(collect_set(col("term"))).as("q_terms"))
      .withColumn("n_terms", size(col("q_terms")))

  /** (query_id, doc_id) hits for every document in `docs` (a static OR
    * streaming frame with doc_id + text) against a compiled store. The
    * conjunctive test is `|q_terms ∩ tokens| = |q_terms|`.
    */
  def matchDocs(docs: DataFrame, store: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), TextFunctions.tokens(col("text")).as("toks"))
      .crossJoin(broadcast(store))
      .filter(size(array_intersect(col("q_terms"), col("toks")))
        === col("n_terms"))
      .select(col("query_id"), col("doc_id"))

  /** The LARGE-FLEET scale path: rarest-term anchoring (what ES's
    * percolator actually does with its `query_terms` extraction — each
    * registered query is only tested against documents containing its most
    * selective term). A plain postings join on every query term would
    * materialize a candidate row for EVERY (query, doc) pair sharing ANY
    * term, ~docs × queries / |vocab| on a hot-vocabulary corpus — measured
    * catastrophically super-linear (206 s at a 10k fleet, task failure at
    * 100k on the 10× corpus; BENCH_percolate_spot.json r20) BECAUSE the
    * fixture's ~30-term vocabulary makes every real term hot; it lost to
    * both the row form and this one at every fleet size measured. Here:
    *
    *   1. corpus df per term (one postings aggregate — t3's shape);
    *   2. each query anchors on its LOWEST-df term (df 0 — a term no
    *      document contains — means the query cannot match and generates
    *      zero candidates, the alert fleet's steady state);
    *   3. candidates = postings ⋈ anchors: volume is Σ_q df(anchor_q),
    *      the ES-documented bound — selectivity-driven, not store-driven;
    *   4. exact conjunctive verify per candidate via two keyed joins
    *      (doc token array + query term array) — candidate-bounded.
    *
    * Same rows as [[matchDocs]] by construction (StreamingSpec +
    * `t31_percolate_selective` under the same DuckDB oracle).
    */
  def matchDocsSelective(docs: DataFrame, store: DataFrame): DataFrame = {
    val toks = docs.select(col("doc_id"),
      TextFunctions.tokens(col("text")).as("toks"))
    val postings = toks
      .select(col("doc_id"), explode(col("toks")).as("term")).distinct()
    val dfreq = postings.groupBy(col("term")).agg(count(lit(1)).as("__df"))
    val qt = store
      .select(col("query_id"), explode(col("q_terms")).as("term"))
      .join(dfreq, Seq("term"), "left_outer")
      .withColumn("__df", coalesce(col("__df"), lit(0L)))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("__df"), col("term"))
    val anchors = qt.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1 && col("__df") > 0)
      .select(col("query_id"), col("term"))
    postings.join(anchors, "term")
      .select(col("query_id"), col("doc_id"))
      .join(toks, "doc_id")
      .join(store.select(col("query_id"), col("q_terms"), col("n_terms")),
        "query_id")
      .filter(size(array_intersect(col("q_terms"), col("toks")))
        === col("n_terms"))
      .select(col("query_id"), col("doc_id"))
  }

  /** Largest query store [[percolate]] / [[startPercolate]] match with the
    * row form: its wall is store-linear (10.5 s @ 1k → 84.9 s @ 10k
    * registered queries on the 10× corpus — BENCH_percolate_spot.json),
    * while the selective form pays a ~fixed corpus-df aggregate plus
    * candidate volume Σ_q df(anchor_q), so its wall is ~flat in fleet size;
    * the measured crossover sits low in the 1k–10k decade (BASELINE.md
    * r20).
    */
  private val RowFormMaxQueries = 1000L

  /** Store-size AUTO-DISPATCH (r19 verdict #6): the row form up to
    * [[RowFormMaxQueries]] queries, the rarest-term-anchored
    * [[matchDocsSelective]] above. The store is small relative to the
    * corpus by contract, so the one dispatch `count()` is cheap; all forms
    * emit identical rows, so the choice is pure cost.
    */
  private def matcher(store: DataFrame): DataFrame => DataFrame =
    if (store.count() <= RowFormMaxQueries) matchDocs(_, store)
    else matchDocsSelective(_, store)

  /** [[matchDocs]] or [[matchDocsSelective]] by the store's size. */
  def percolate(docs: DataFrame, store: DataFrame): DataFrame =
    matcher(store)(docs)

  /** Streaming percolation at FLEET scale (r19 verdict stretch #9): the
    * [[percolate]] dispatch applied per micro-batch. The row form streams
    * directly (stateless map-side plan), but the selective
    * (rarest-term-anchored) form — what [[percolate]] dispatches past
    * [[RowFormMaxQueries]] — needs a per-batch aggregation: inside foreachBatch
    * each micro-batch is a plain batch plan, so BOTH forms stay state-store-free by construction
    * (no watermark, no keyed state; StreamingSpec asserts
    * `stateOperators` is empty). Hits land under `hitsDir/b<batchId>`
    * with overwrite — the DedupStream replay-idempotence posture: a
    * replayed micro-batch rewrites its own partition, never duplicates it.
    * The store is counted once here, not per batch — the fleet size is a
    * registration-time property, so the dispatch is pinned for the run.
    */
  def startPercolate(docs: DataFrame, store: DataFrame,
      hitsDir: String, checkpoint: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    val matchBatch = matcher(store)
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (b: DataFrame, batchId: Long) =>
        matchBatch(b).write.mode(org.apache.spark.sql.SaveMode.Overwrite)
          .parquet(s"$hitsDir/b$batchId")
      }
  }

  /** Percolate FULL `query_string` queries (ES percolator stores real query
    * DSL, not just term sets — and `query_string` is the form the
    * reference's users type). Each registered (query_id, queryString) is
    * parsed and lowered ONCE driver-side ([[graft.search.QueryString]] —
    * boolean grammar, phrases, fields, wildcards, must/must_not), then all
    * predicates are evaluated per incoming row inside one map-side
    * projection: an array of `when(predᵢ, idᵢ)` slots, nulls compacted,
    * hits exploded. Stateless like [[matchDocs]] — no keyed state, no
    * watermark, Append-safe on a stream; per-doc cost is bounded by the
    * store size (the percolator contract). A malformed registered query
    * fails at REGISTRATION (parse time, driver-side), never per-row.
    *
    * @param queries (query_id, query_string) pairs, driver-side — the
    *                registered-alert store (small by contract)
    */
  def matchQueryStrings(docs: DataFrame, queries: Seq[(String, String)],
      defaultField: String,
      fieldType: String => graft.search.QueryString.FieldType): DataFrame = {
    require(queries.nonEmpty, "empty percolation store")
    val slots = queries.map { case (qid, qs) =>
      when(graft.search.QueryString.predicate(qs, defaultField, fieldType),
        lit(qid))
    }
    docs
      .select(col("doc_id"), explode(array_compact(array(slots: _*)))
        .as("query_id"))
      .select(col("query_id"), col("doc_id"))
  }
}
