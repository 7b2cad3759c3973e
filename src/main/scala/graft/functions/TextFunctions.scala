package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.GraftShim

/** Text-analysis primitives (SURVEY.md §2.9 + the LLM-pipeline extensions).
  *
  * Everything is composed from codegen'd builtins (`split`, higher-order
  * array functions, `md5`) — no UDFs — so the ops scale: tokenization happens
  * inside whole-stage codegen, term explosion shuffles only (term, doc_id)
  * pairs, and fingerprints are computed map-side.
  */
object TextFunctions {

  /** Whitespace tokens, empties dropped (split("a  b") parity with DuckDB). */
  def tokens(text: Column): Column =
    filter(split(text, " "), t => t =!= "")

  /** BPE-ish tokenization: split on runs of non-alphanumerics. */
  def tokensRegex(text: Column): Column =
    filter(split(text, "[^a-zA-Z0-9]+"), t => t =!= "")

  def tokenCount(text: Column): Column = size(tokens(text))

  /** Adjacent-pair shingles ("w1 w2") — basis for n-gram Jaccard / MinHash. */
  def bigrams(text: Column): Column = shingles(text, 2)

  /** Word n-gram shingles of width n (n >= 1): the native [[WordNGrams]]
    * kernel; [[shinglesRef]] is the equivalent declarative composition kept
    * as the executable spec (equality asserted in TextFunctionsSpec).
    */
  def shingles(text: Column, n: Int): Column =
    GraftShim.column(WordNGrams(GraftShim.expression(tokens(text)), n))

  /** Reference higher-order-function composition of [[shingles]]. */
  def shinglesRef(text: Column, n: Int): Column = {
    val t = tokens(text)
    when(size(t) >= n,
      transform(sequence(lit(1), size(t) - n + 1),
        i => concat_ws(" ", (0 until n).map(k => element_at(t, i + k)): _*)))
      .otherwise(array().cast("array<string>"))
  }

  /** |A∩B| of two SORTED, duplicate-free array<string> columns — the
    * allocation-free merge kernel [[SortedStringIntersectCount]]; equals
    * `size(array_intersect(a, b))` on such inputs (callers own the
    * `sort_array(array_distinct(...))`).
    */
  def sortedIntersectCount(a: Column, b: Column): Column =
    GraftShim.column(SortedStringIntersectCount(
      GraftShim.expression(a), GraftShim.expression(b)))

  /** Per-row `struct<n_chars, s_micro>` character-entropy terms — the
    * [[CharEntropySum]] kernel behind x16 (null text → null struct).
    */
  def charEntropySum(text: Column): Column =
    GraftShim.column(CharEntropySum(GraftShim.expression(text)))

  /** Cached (doc_id, term) postings frame: tokenize + explode the corpus
    * ONCE and reuse it across tf/dl/df aggregations. Callers previously
    * re-derived the exploded frame per aggregate, scanning + exploding the
    * corpus 2-3× per query (h8_bm25 / t4_tfidf / searchText). Spark's cache
    * manager dedups by plan equality, so repeated calls over the same input
    * share one InMemoryRelation. At 100 TB this frame is the materialized
    * postings table maintained by compaction; the query side is unchanged.
    *
    * Cache lifecycle: tracked in [[graft.Caches]] — pinned until the caller
    * invokes `graft.Caches.unpersistAll()` (or `.unpersist()` on the
    * returned frame directly, or the session ends — fine for one-shot
    * drivers like Verify/Bench, a leak in a long-lived session).
    * Note searchText's `lower(text)` postings are a DIFFERENT plan from
    * h8_bm25/t4_tfidf's raw-text postings, so a session using both holds
    * two cached copies.
    */
  def postings(docs: DataFrame, id: Column, text: Column): DataFrame =
    graft.Caches.track(
      docs.select(id.as("doc_id"), explode(tokens(text)).as("term")))

  /** BM25 inverse document frequency of a term in `df` of `n` documents,
    * in the form that never goes negative: ln((n − df + 0.5)/(df + 0.5) + 1).
    */
  def bm25Idf(n: Column, df: Column): Column =
    log((n - df + lit(0.5)) / (df + lit(0.5)) + lit(1.0))

  /** BM25 score of a term with frequency `tf` in a document of `dl` terms
    * (k1 = 1.2, b = 0.75; the average length is `totalDl` / `n`). The op
    * order is fixed: the oracle SQL of the registry queries that call it
    * (h8_bm25, v14_hybrid_rrf, t7_text_search) spells out the same sequence.
    */
  def bm25TermScore(idf: Column, tf: Column, dl: Column, n: Column, totalDl: Column): Column =
    idf * (tf * lit(2.2)) /
      (tf + lit(1.2) * (lit(0.25) + lit(0.75) * (dl * n.cast("double") / totalDl)))

  val stopwords: Seq[String] =
    Seq("the", "a", "of", "and", "to", "in", "is", "for", "on", "with")

  def stopwordCount(toks: Column): Column =
    size(filter(toks, t => t.isin(stopwords: _*)))

  /** Document fingerprint: md5 over the whitespace-normalized lowercase text.
    * Exact-dup detection key (reference analog: blake2b content id,
    * /root/reference/utils.py:125-136).
    */
  def fingerprint(text: Column): Column =
    md5(lower(regexp_replace(trim(text), "\\s+", " ")))

  /** Heuristic language ID over latin-script stopword votes + CJK detection.
    * Approximate by design (n-gram profile heuristic, SURVEY north-star);
    * verified in scalatest against the fixture's `lang` column distribution,
    * not the DuckDB oracle.
    */
  def langId(text: Column): Column = {
    val profiles: Seq[(String, Seq[String])] = Seq(
      "en" -> Seq("the", "and", "of", "to", "is", "with"),
      "de" -> Seq("der", "die", "das", "und", "ist", "mit"),
      "es" -> Seq("el", "la", "los", "que", "es", "con"),
      "fr" -> Seq("le", "la", "les", "est", "avec", "dans"))
    val toks = tokens(lower(text))
    val votes = profiles.map { case (lang, words) =>
      struct(size(filter(toks, t => t.isin(words: _*))).as("score"), lit(lang).as("lang"))
    }
    when(text.rlike("[\\u4e00-\\u9fff]"), lit("zh"))
      .otherwise(greatest(votes: _*).getField("lang"))
  }
}
