package graft.search

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** The Elasticsearch `irclog` query surface as a library API (SURVEY.md §0
  * capability 2): term filters on channel/nick/id, time-range filters on
  * posted, and full-text relevance search over remark — the operations a
  * reference user runs against the ES index, expressed as Spark plans over
  * the [[graft.sinks.IrcSink]] table.
  *
  * Scale: term/time filters partition-prune on the sink's (channel, day)
  * layout; full-text search builds (doc, term) postings once per corpus —
  * on a real deployment the postings/stats frames would be materialized
  * tables maintained by compaction, the query side is unchanged.
  */
object IrcSearch {

  /** ES bool-filter analog. All filters optional and ANDed. */
  def filterLog(
      logs: DataFrame,
      channel: Option[String] = None,
      nick: Option[String] = None,
      id: Option[String] = None,
      fromPosted: Option[String] = None,
      untilPosted: Option[String] = None): DataFrame = {
    val conds: Seq[Column] =
      channel.map(col("channel") === _).toSeq ++
        nick.map(col("nick") === _).toSeq ++
        id.map(col("id") === _).toSeq ++
        fromPosted.map(t => col("posted") >= lit(t).cast("timestamp")).toSeq ++
        untilPosted.map(t => col("posted") < lit(t).cast("timestamp")).toSeq
    conds.foldLeft(logs)((df, c) => df.filter(c))
  }

  /** ES `match` analog: OR-of-terms BM25 ranking (k1=1.2, b=0.75). Returns
    * the top-k (id-col, score, n_terms_hit) rows, ties broken on the id.
    *
    * Plan shape: postings are filtered to the query terms BEFORE any
    * aggregation, so tf/df shuffle ~|postings(query terms)|, not |corpus|;
    * only the document-length stats (dl, total_dl, n) scan the full corpus —
    * on a real deployment those are materialized tables maintained by
    * compaction and this query never rescans the corpus.
    *
    * Determinism: each term's score is pivoted to its own column and the
    * OR-sum is folded in sorted term order (one fixed IEEE op sequence),
    * rounded once at the end — DuckDB-mirrorable, unlike a `sum()` whose
    * partial-aggregation order is unpinned.
    */
  def searchText(
      docs: DataFrame, idCol: String, textCol: String,
      query: String, k: Int = 10): DataFrame = {
    val terms = query.toLowerCase.split("\\s+").filter(_.nonEmpty).distinct.sorted.toSeq
    val toks = TextFunctions.postings(docs, col(idCol), lower(col(textCol)))
      .withColumnRenamed("doc_id", "__id")
    val qtoks = toks.filter(col("term").isin(terms: _*))
    val tf = qtoks.groupBy(col("__id"), col("term")).agg(count(lit(1)).as("tf"))
    val dl = toks.groupBy(col("__id")).agg(count(lit(1)).as("dl"))
    val df = qtoks.groupBy(col("term")).agg(countDistinct(col("__id")).as("df"))
    val stats = docs.agg(count(lit(1)).as("n"))
      .crossJoin(dl.agg(sum(col("dl")).as("total_dl")))
    val idf = df.crossJoin(broadcast(stats))
      .withColumn("idf", TextFunctions.bm25Idf(col("n"), col("df")))
    val scored = tf.join(dl, "__id")
      .join(broadcast(idf), "term")
      .withColumn("term_score", TextFunctions.bm25TermScore(
        col("idf"), col("tf"), col("dl"), col("n"), col("total_dl")))
    // Pivot columns are named positionally (s_0, s_1, … in sorted-term
    // order), never from the term text: a query term containing '.' or '`'
    // would otherwise make col("s_$t") parse as a nested-field reference.
    val perTerm = terms.zipWithIndex.map { case (t, i) =>
      max(when(col("term") === t, col("term_score"))).as(s"s_$i") }
    val piv = scored.groupBy(col("__id")).agg(perTerm.head, perTerm.tail: _*)
    val score = terms.indices.map(i => coalesce(col(s"s_$i"), lit(0.0))).reduce(_ + _)
    val nHit = terms.indices.map(i => when(col(s"s_$i").isNotNull, 1).otherwise(0)).reduce(_ + _)
    piv.select(col("__id").as(idCol),
        round(score, 6).as("score"), nHit.as("n_terms_hit"))
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
  }

  /** ES `search_after` as a caller-supplied-cursor API (r14 verdict #7 —
    * t27 recomputes its cursor in-query to stay oracle-self-contained;
    * this is the serving call shape, where the cursor arrives WITH the
    * request as the last row of the previous page).
    *
    * Page order is (`sortCol` DESC, `idCol` ASC) — the library's unique-
    * tie-break determinism rule, so pages are stable and gap/overlap-free.
    * `cursor = None` fetches page 1; `Some((s, id))` fetches the rows
    * strictly after that key. The predicate is a pushable range filter +
    * TakeOrdered(size): O(page) work per page at any corpus size — the
    * reason ES caps `from` pagination at 10k but search_after is unbounded.
    */
  def searchAfter(docs: DataFrame, sortCol: String, idCol: String,
      cursor: Option[(Long, Long)], size: Int): DataFrame = {
    val paged = cursor match {
      case None => docs
      case Some((s, id)) =>
        docs.filter(col(sortCol) < s ||
          (col(sortCol) === s && col(idCol) > id))
    }
    paged.orderBy(col(sortCol).desc, col(idCol)).limit(size)
  }

  /** ES `query_string` over the irclog schema: `remark` is the analyzed
    * default field; `channel`/`nick`/`id` are keyword fields. The reference
    * bot only INDEXES into ES (irclogbot.py:50-51); this is the default
    * search surface (`_search?q=`) a consumer of that index queries with.
    * Grammar and semantics in [[QueryString]].
    *
    * e.g. `queryString(logs, """nick:foo AND "exact phrase" -spam""")`.
    */
  def queryString(logs: DataFrame, q: String): DataFrame = {
    val types: String => QueryString.FieldType = {
      case "remark" => QueryString.TextField
      case "channel" | "nick" | "id" => QueryString.KeywordField
      case f => throw QueryString.ParseException(s"unknown field '$f'")
    }
    logs.filter(QueryString.predicate(q, "remark", types))
  }

  /** Aggregation facets over a filtered log slice — the ES aggs panel
    * (terms / date_histogram / cardinality) in one pass.
    */
  def facets(logs: DataFrame): DataFrame =
    logs.groupBy(col("channel"))
      .agg(
        count(lit(1)).as("n_msgs"),
        countDistinct(col("nick")).as("n_nicks"),
        min(col("posted")).as("first_posted"),
        max(col("posted")).as("last_posted"))
}
