package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.{HashFunctions, TextFunctions}
import graft.pipeline.DataSplit

/** Dataset-preparation operators (the training-pipeline north star):
  * deterministic content-hash sampling, stable train/valid/test splits,
  * token-budget chunk packing. All pure functions of the data (md5 of the
  * id, never rand()), so every op carries an exact DuckDB mirror — and
  * re-runs reproduce the same assignment bit-for-bit at any scale.
  */
object PipelineQueries extends QueryGroup {

  /** DuckDB mirror of [[DataSplit.hashBucket]]. */
  private def duckBucket(salt: String): String =
    s"CAST(('0x' || substr(md5('$salt:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100"

  /** x29/x30's α = 1/2 language mixture: `l` (lang, n_docs, integer sqrt
    * weight w) and its totals `t` (n_tot, w_tot). */
  private val langMixtureSql: String =
    """WITH l AS (SELECT lang, count(*) AS n_docs,
      |                  CAST(floor(sqrt(CAST(count(*) AS DOUBLE))
      |                             * 1000000.0) AS BIGINT) AS w
      |           FROM documents GROUP BY lang),
      |t AS (SELECT CAST(sum(n_docs) AS BIGINT) AS n_tot,
      |             CAST(sum(w) AS BIGINT) AS w_tot FROM l)""".stripMargin

  /** DuckDB mirror of [[graft.pipeline.Bpe]]'s 3-round trainer over the
    * corpus word vocabulary: `w` (word, c) and its spaced symbol sequences
    * `s0`, then one CTE block per round r — pair counts over round r-1
    * sequences (`pc<r>`), the 1-row winner (`b<r>`), merged sequences
    * (`s<r>`). s3 holds every word's post-merge sequence, which is exactly
    * its segmentation. Shared by x13_bpe_merges and x13_bpe_apply.
    */
  private val bpeTrainSql: String = {
    def round(r: Int): String = {
      val prev = s"s${r - 1}"
      s"""pc$r AS (SELECT p[1] AS a, p[2] AS b, CAST(sum(c) AS BIGINT) AS cnt FROM (
         |    SELECT c, unnest(list_transform(generate_series(1, len(sy) - 1),
         |                                    i -> [sy[i], sy[i + 1]])) AS p
         |    FROM (SELECT c, list_filter(string_split(seq, ' '), x -> x <> '') AS sy
         |          FROM $prev))
         |  GROUP BY 1, 2),
         |b$r AS (SELECT a, b, cnt FROM pc$r ORDER BY cnt DESC, a, b LIMIT 1),
         |s$r AS (SELECT word, c,
         |               replace(seq, ' ' || b$r.a || '  ' || b$r.b || ' ',
         |                            ' ' || b$r.a || b$r.b || ' ') AS seq
         |        FROM $prev CROSS JOIN b$r)""".stripMargin
    }
    s"""WITH w AS (SELECT term AS word, count(*) AS c
       |           FROM (SELECT unnest(list_filter(string_split(text, ' '),
       |                                           x -> x <> '')) AS term
       |                 FROM documents)
       |           GROUP BY 1),
       |s0 AS (SELECT word, c,
       |              '  ' || array_to_string(string_split(word, ''), '  ') || '  ' AS seq
       |       FROM w),
       |${round(1)},
       |${round(2)},
       |${round(3)}""".stripMargin
  }

  /** DuckDB mirror of [[graft.pipeline.HtmlExtract]]'s fixture page and
    * block segmentation, every CTE keyed by `keys`: tokens (`tk`), the
    * synthesized page (`h`: nav, the text in two paragraphs, variant
    * '<p>ok</p>', ad block, footer) and its non-empty block-level segments
    * (`seg`: txt, nl = anchor-text tokens). Shared by x34/x35 (keyed by
    * doc_id) and x36 (doc_id, source).
    */
  private def htmlSegSql(keys: String): String =
    s"""WITH tk AS (SELECT $keys,
       |                   list_filter(string_split(text, ' '), t -> t <> '') AS toks
       |            FROM documents),
       |h AS (SELECT $keys,
       |  '<html><body><nav><a href="/">home</a> <a href="/about">about</a> <a href="/login">login</a></nav><p>' ||
       |  coalesce(array_to_string(toks[1 : (len(toks) + 1) // 2], ' '), '') || '</p>' ||
       |  CASE WHEN doc_id % 3 = 2 THEN '<p>ok</p>' ELSE '' END ||
       |  '<p>' || coalesce(array_to_string(toks[(len(toks) + 1) // 2 + 1 : len(toks)], ' '), '') || '</p>' ||
       |  CASE WHEN doc_id % 3 >= 1 THEN '<div><a href="/buy">buy now</a> <a href="/sub">subscribe today</a> limited offer click here</div>' ELSE '' END ||
       |  '<footer>copyright 2026 <a href="/terms">terms</a> <a href="/privacy">privacy</a> all rights reserved</footer></body></html>' AS html
       |  FROM tk),
       |seg AS (SELECT $keys,
       |  list_filter(
       |    list_transform(
       |      string_split_regex(html,
       |        '(?i)</?(?:p|div|nav|footer|header|section|article|aside|ul|ol|li|h[1-6]|table|tr|td|br|title|head|body|html)[^>]*>'),
       |      s -> struct_pack(
       |        txt := trim(regexp_replace(regexp_replace(s, '<[^>]*>', ' ', 'g'), ' +', ' ', 'g')),
       |        nl := len(list_filter(string_split(coalesce(array_to_string(
       |                regexp_extract_all(s, '(?i)<a[^>]*>([^<]*)</a>', 1), ' '), ''), ' '),
       |              t -> t <> '')))),
       |    f -> f.txt <> '') AS segs
       |  FROM h)""".stripMargin

  /** [[htmlSegSql]] by doc_id plus each block's integer features (`feat`:
    * txt, nt tokens, nl anchor tokens, ns stopword tokens): the input of
    * x34's classifier and x35's smoothing pass. */
  private val htmlFeaturesSql: String =
    s"""${htmlSegSql("doc_id")},
       |feat AS (SELECT doc_id,
       |  list_transform(segs, f -> struct_pack(
       |    txt := f.txt,
       |    nt := len(list_filter(string_split(f.txt, ' '), t -> t <> '')),
       |    nl := f.nl,
       |    ns := len(list_filter(string_split(f.txt, ' '),
       |           t -> t IN ('the','a','of','and','to','in','is','for','on','with'))))) AS fs
       |  FROM seg)""".stripMargin

  def all: Seq[Q] = Seq(

    // x5 — deterministic ~10% sample by id hash (map-side, no shuffle; the
    // sampling every corpus-scale experiment needs to be repeatable).
    Q("x5_hash_sample",
      (s, d) => DataSplit.sample(Tables(s, d, "documents"), col("doc_id"), 10)
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id")),
      Some(s"""SELECT doc_id, lang
              |FROM documents
              |WHERE ${duckBucket("sample")} < 10
              |ORDER BY doc_id""".stripMargin)),

    // x5 — stable train/valid/test assignment: adding documents never
    // reshuffles existing rows (hash of id, not position).
    Q("x5_hash_split",
      (s, d) => Tables(s, d, "documents")
        .select(col("lang"), DataSplit.split(col("doc_id")).as("split"))
        .groupBy(col("lang"), col("split"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("lang"), col("split")),
      Some(s"""WITH b AS (
              |  SELECT lang, ${duckBucket("split")} AS bkt FROM documents)
              |SELECT lang,
              |       CASE WHEN bkt < 80 THEN 'train'
              |            WHEN bkt < 90 THEN 'valid'
              |            ELSE 'test' END AS split,
              |       count(*) AS n
              |FROM b GROUP BY 1, 2 ORDER BY lang, split""".stripMargin)),

    // x7 — repetition scoring + within-language quantile filter: distinct-
    // token ratio ranks each doc against its language peers; keep the top
    // 80% (drop the most repetitive tail). percent_rank is deterministic
    // because the ordering key (ratio, doc_id) is unique.
    Q("x7_repetition_filter",
      (s, d) => {
        val toks = TextFunctions.tokens(col("text"))
        val ratio = round(
          size(array_distinct(toks)).cast("double") / size(toks), 6)
        val w = Window.partitionBy(col("lang"))
          .orderBy(col("rep_ratio"), col("doc_id"))
        Tables(s, d, "documents")
          .select(col("doc_id"), col("lang"), ratio.as("rep_ratio"))
          .withColumn("pr", percent_rank().over(w))
          .filter(col("pr") >= 0.2)
          .select(col("doc_id"), col("lang"), col("rep_ratio"),
            round(col("pr"), 6).as("pr"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH r AS (
             |  SELECT doc_id, lang,
             |         round(CAST(len(list_distinct(
             |                 list_filter(string_split(text, ' '), t -> t <> '')))
             |               AS DOUBLE)
             |               / len(list_filter(string_split(text, ' '), t -> t <> '')),
             |               6) AS rep_ratio
             |  FROM documents),
             |p AS (
             |  SELECT doc_id, lang, rep_ratio,
             |         percent_rank() OVER (PARTITION BY lang
             |                              ORDER BY rep_ratio, doc_id) AS pr
             |  FROM r)
             |SELECT doc_id, lang, rep_ratio, round(pr, 6) AS pr
             |FROM p WHERE pr >= 0.2
             |ORDER BY doc_id""".stripMargin)),

    // x8 — PII-style redaction: mask email-shaped tokens, long digit runs,
    // and a dictionary entity ("customer" stands in for a name list) before
    // training. Pure regexp_replace (DuckDB needs the 'g' flag to match
    // Spark's replace-all; the word-only fixture exercises the dictionary
    // stage, the regex stages guard real corpora).
    Q("x8_redact",
      (s, d) => Tables(s, d, "documents")
        .select(col("doc_id"),
          regexp_replace(
            regexp_replace(
              regexp_replace(col("text"),
                "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+", "<EMAIL>"),
              "\\d{6,}", "<NUM>"),
            "\\bcustomer\\b", "<ENTITY>").as("redacted"))
        .filter(col("redacted") =!= col("text"))
        .orderBy(col("doc_id")),
      Some("""WITH r AS (
             |  SELECT doc_id, text,
             |         regexp_replace(
             |           regexp_replace(
             |             regexp_replace(text,
             |               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+', '<EMAIL>', 'g'),
             |             '\d{6,}', '<NUM>', 'g'),
             |           '\b(customer)\b', '<ENTITY>', 'g') AS redacted
             |  FROM documents)
             |SELECT doc_id, redacted FROM r
             |WHERE redacted <> text
             |ORDER BY doc_id""".stripMargin)),

    // x22 — Gopher document-quality rule gate (Rae et al. 2021, Appendix A
    // "quality filtering"): the published heuristic thresholds every
    // large-scale text pipeline applies before training — word count in
    // [50, 100k], mean word length in [3, 10], symbol-to-word ratio ('#' or
    // '...') <= 0.1, >= 80% of words containing an alphabetic char, and
    // >= 2 of Gopher's stop words. Emits every signal plus the combined
    // keep flag, so downstream can audit WHICH rule dropped a doc. Entirely
    // map-side (no shuffle but the output sort); every signal is integer
    // arithmetic or a single same-operand IEEE divide, mirrored exactly.
    Q("x22_gopher_rules",
      (s, d) => {
        val nw = size(col("toks"))
        val mwl = expr(
          "aggregate(transform(toks, x -> length(x)), 0L, (a, x) -> a + x)")
          .cast("double") / nw
        val nSym =
          (length(col("text")) - length(translate(col("text"), "#", ""))) +
            (length(col("text")) -
              length(expr("replace(text, '...', '')"))) / lit(3)
        val nAlpha = expr("size(filter(toks, x -> x rlike '[A-Za-z]'))")
        val nStop = expr("size(filter(toks, x -> x IN " +
          "('the','be','to','of','and','that','have','with')))")
        Tables(s, d, "documents")
          .select(col("doc_id"), col("text"),
            expr("filter(split(text, ' '), x -> x != '')").as("toks"))
          .select(col("doc_id"),
            nw.as("n_words"),
            when(nw > 0, round(mwl, 6)).as("mean_word_len"),
            when(nw > 0, round(nSym.cast("double") / nw, 6)).as("symbol_ratio"),
            when(nw > 0, round(nAlpha.cast("double") / nw, 6)).as("alpha_ratio"),
            nStop.as("n_stop"),
            (nw.between(50, 100000) &&
              mwl.between(3.0, 10.0) &&
              (nSym.cast("double") / nw) <= 0.1 &&
              (nAlpha.cast("double") / nw) >= 0.8 &&
              nStop >= 2).as("keep"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH t AS (
             |  SELECT doc_id, text,
             |         list_filter(string_split(text, ' '), x -> x <> '') AS toks
             |  FROM documents),
             |g AS (
             |  SELECT doc_id,
             |         len(toks) AS n_words,
             |         CAST(list_sum(list_transform(toks, x -> strlen(x)))
             |              AS DOUBLE) AS sum_len,
             |         (strlen(text) - strlen(replace(text, '#', '')))
             |           + (strlen(text) - strlen(replace(text, '...', ''))) // 3
             |           AS n_sym,
             |         len(list_filter(toks,
             |               x -> regexp_matches(x, '[A-Za-z]'))) AS n_alpha,
             |         len(list_filter(toks, x -> x IN
             |               ('the','be','to','of','and','that','have','with')))
             |           AS n_stop
             |  FROM t)
             |SELECT doc_id, n_words,
             |       CASE WHEN n_words > 0
             |            THEN round(sum_len / n_words, 6) END AS mean_word_len,
             |       CASE WHEN n_words > 0
             |            THEN round(CAST(n_sym AS DOUBLE) / n_words, 6)
             |            END AS symbol_ratio,
             |       CASE WHEN n_words > 0
             |            THEN round(CAST(n_alpha AS DOUBLE) / n_words, 6)
             |            END AS alpha_ratio,
             |       n_stop,
             |       (n_words BETWEEN 50 AND 100000
             |        AND sum_len / n_words BETWEEN 3.0 AND 10.0
             |        AND CAST(n_sym AS DOUBLE) / n_words <= 0.1
             |        AND CAST(n_alpha AS DOUBLE) / n_words >= 0.8
             |        AND n_stop >= 2) AS keep
             |FROM g ORDER BY doc_id""".stripMargin)),

    // x6 — token-budget chunk packing: cumsum window per lang, chunk id =
    // tokens-before / budget. One shuffle on the group key.
    Q("x6_token_packing",
      (s, d) => DataSplit.packChunks(Tables(s, d, "documents"),
        col("lang"), col("doc_id"), col("text"), budget = 512)
        .select(col("grp"), col("doc_id"), col("n_tok").cast("long").as("n_tok"),
          col("chunk"))
        .orderBy(col("grp"), col("doc_id")),
      Some("""WITH t AS (
             |  SELECT lang AS grp, doc_id,
             |         len(list_filter(string_split(text, ' '), x -> x <> '')) AS n_tok
             |  FROM documents)
             |SELECT grp, doc_id, n_tok,
             |       CAST(floor((sum(n_tok) OVER (PARTITION BY grp ORDER BY doc_id)
             |                   - n_tok) / 512) AS BIGINT) AS chunk
             |FROM t ORDER BY grp, doc_id""".stripMargin)),

    // x9 — mixture sampling: per-source keep rates (the data-mixing step
    // that blends corpora at target weights). Hash-decided per row, so the
    // blend is reproducible and stable under corpus growth; sources outside
    // the mixture drop out. Map-side only.
    Q("x9_mixture_sample",
      (s, d) => DataSplit.mixtureSample(Tables(s, d, "documents"),
        col("doc_id"), col("source"),
        Map("src0" -> 1.0, "src1" -> 0.5, "src2" -> 0.25, "src3" -> 0.1))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_kept"))
        .orderBy(col("source")),
      Some("""WITH m AS (
             |  SELECT source,
             |         CAST(('0x' || substr(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 10000 AS bkt,
             |         CASE source WHEN 'src0' THEN 10000 WHEN 'src1' THEN 5000
             |              WHEN 'src2' THEN 2500 WHEN 'src3' THEN 1000
             |              ELSE 0 END AS thr
             |  FROM documents)
             |SELECT source, count(*) AS n_kept
             |FROM m WHERE bkt < thr
             |GROUP BY source ORDER BY source""".stripMargin)),

    // x10 — overlapping context-window chunking: 64-token windows advancing
    // by 48 (16-token overlap), the standard long-document → training-sample
    // slicer. Map-side only (tokenize → sequence of starts → posexplode →
    // slice); chunk boundaries are pure integer arithmetic so the DuckDB
    // mirror is exact. The final short chunk is kept (a tail must not be
    // silently dropped from a training corpus); empty docs chunk to nothing.
    Q("x10_chunk_overlap",
      (s, d) => Tables(s, d, "documents")
        .select(col("doc_id"), TextFunctions.tokens(col("text")).as("toks"))
        .withColumn("n", size(col("toks")))
        .filter(col("n") > 0)
        .select(col("doc_id"), col("toks"),
          explode(expr(
            "sequence(0, CASE WHEN n <= 64 THEN 0 ELSE ((n - 64 + 47) div 48) * 48 END, 48)"))
            .as("tok_start"))
        .select(col("doc_id"),
          expr("tok_start div 48").cast("long").as("chunk_id"),
          col("tok_start").cast("long").as("tok_start"),
          expr("size(slice(toks, tok_start + 1, 64))").cast("long").as("n_toks"),
          expr("array_join(slice(toks, tok_start + 1, 64), ' ')").as("chunk_text"))
        .orderBy(col("doc_id"), col("chunk_id")),
      Some("""WITH t AS (SELECT doc_id,
             |                  list_filter(string_split(text, ' '), x -> x <> '') AS toks
             |           FROM documents),
             |     z AS (SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) > 0),
             |     c AS (SELECT doc_id, toks,
             |                  unnest(range(0, CASE WHEN n <= 64 THEN 1
             |                                       ELSE ((n - 64 + 47) // 48) * 48 + 1 END,
             |                               48)) AS tok_start
             |           FROM z)
             |SELECT doc_id,
             |       CAST(tok_start // 48 AS BIGINT) AS chunk_id,
             |       CAST(tok_start AS BIGINT) AS tok_start,
             |       CAST(len(toks[tok_start + 1 : tok_start + 64]) AS BIGINT) AS n_toks,
             |       array_to_string(toks[tok_start + 1 : tok_start + 64], ' ') AS chunk_text
             |FROM c ORDER BY doc_id, chunk_id""".stripMargin)),

    // x11 — exact-quota stratified sample: exactly 25 docs per source,
    // membership decided by the salted-md5 rank (deterministic, mirrored
    // verbatim — DuckDB md5 = Spark md5, both lowercase hex, id tiebreak).
    Q("x11_stratified_exact",
      (s, d) => DataSplit.stratifiedExact(
        Tables(s, d, "documents"), col("source"), col("doc_id"), n = 25)
        .select(col("source"), col("doc_id"), col("lang"))
        .orderBy(col("source"), col("doc_id")),
      Some("""WITH r AS (
             |  SELECT source, doc_id, lang,
             |         row_number() OVER (
             |           PARTITION BY source
             |           ORDER BY md5('strat:' || CAST(doc_id AS VARCHAR)), doc_id) AS rn
             |  FROM documents)
             |SELECT source, doc_id, lang FROM r WHERE rn <= 25
             |ORDER BY source, doc_id""".stripMargin)),

    // x13 — BPE tokenizer training, 3 merge rounds: count adjacent symbol
    // pairs over the word vocabulary, take the (cnt desc, pair asc) winner,
    // apply it via the double-space `replace` encoding (see pipeline.Bpe),
    // repeat. The ENTIRE trainer — pair stats, winner selection, greedy
    // merge application — is mirrored in DuckDB, so learned rules are under
    // the hash gate, not just asserted plausible.
    Q("x13_bpe_merges",
      (s, d) => {
        val vocab = Tables(s, d, "documents")
          .select(explode(TextFunctions.tokens(col("text"))).as("word"))
          .groupBy(col("word")).agg(count(lit(1)).as("c"))
        graft.pipeline.Bpe.merges(vocab, rounds = 3)
      },
      Some(s"""$bpeTrainSql
             |SELECT * FROM (
             |  SELECT CAST(1 AS BIGINT) AS round, a AS sym_a, b AS sym_b,
             |         a || b AS merged, cnt FROM b1
             |  UNION ALL SELECT 2, a, b, a || b, cnt FROM b2
             |  UNION ALL SELECT 3, a, b, a || b, cnt FROM b3)
             |ORDER BY round""".stripMargin)),

    // x13 apply — the tokenization half of the BPE trainer: segment every
    // vocabulary word with the 3 learned merges, then tokenize the corpus
    // by joining its token stream against the (word → subwords) frame.
    // That frame IS the tokenizer artifact — train once, segment
    // everywhere; at 100 TB the per-word segmentation is vocab-scale work
    // and the corpus pass is one join (AQE broadcasts the vocab side when
    // it fits, which a real tokenizer's bounded vocab always does).
    // Output: per-doc word count and post-BPE subword count.
    Q("x13_bpe_apply",
      (s, d) => {
        val docs = Tables(s, d, "documents")
        val vocab = docs
          .select(explode(TextFunctions.tokens(col("text"))).as("word"))
          .groupBy(col("word")).agg(count(lit(1)).as("c"))
        val seg = graft.pipeline.Bpe.segment(vocab, rounds = 3)
          .select(col("word"), size(col("subwords")).as("n_sub"))
        docs
          .select(col("doc_id"),
            explode(TextFunctions.tokens(col("text"))).as("word"))
          .join(seg, "word")
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_words"),
            sum(col("n_sub")).cast("long").as("n_bpe"))
          .orderBy(col("doc_id"))
      },
      Some(s"""$bpeTrainSql,
             |seg AS (SELECT word,
             |               len(list_filter(string_split(seq, ' '), x -> x <> '')) AS n_sub
             |        FROM s3),
             |t AS (SELECT doc_id, unnest(list_filter(string_split(text, ' '),
             |                                        x -> x <> '')) AS word
             |      FROM documents)
             |SELECT doc_id, count(*) AS n_words, CAST(sum(n_sub) AS BIGINT) AS n_bpe
             |FROM t JOIN seg USING (word)
             |GROUP BY 1 ORDER BY doc_id""".stripMargin)),

    // x15 — DSIR importance weight (Xie et al. 2023): per-doc
    // log(p_target/p_raw) under two Laplace-smoothed unigram models,
    // target = the English subset. The resampling knob of a 100 TB mixture
    // pipeline: weights are computed map-side against two broadcast count
    // models; nothing corpus-scale shuffles except the per-doc sum.
    Q("x15_dsir_weight",
      (s, d) => graft.pipeline.LmScore.dsirWeight(
        Tables(s, d, "documents"), col("doc_id"), col("text"),
        col("lang") === "en")
        .orderBy(col("doc_id")),
      Some("""WITH t AS (SELECT doc_id, lang = 'en' AS tgt,
             |                 unnest(list_filter(string_split(text, ' '),
             |                                    x -> x <> '')) AS term
             |          FROM documents),
             |raw AS (SELECT term, count(*) AS rc FROM t GROUP BY 1),
             |tgt AS (SELECT term, count(*) AS tc FROM t WHERE tgt GROUP BY 1),
             |k AS (SELECT CAST(sum(rc) AS BIGINT) AS n_raw,
             |             CAST(count(*) AS BIGINT) AS v FROM raw),
             |kt AS (SELECT CAST(count(*) AS BIGINT) AS n_tgt FROM t WHERE tgt),
             |lp AS (SELECT doc_id,
             |         CAST(floor(ln((coalesce(tc, 0) + 1) * 1.0 / (n_tgt + v))
             |              * 1000000.0 + 0.5) AS BIGINT)
             |       - CAST(floor(ln((rc + 1) * 1.0 / (n_raw + v))
             |              * 1000000.0 + 0.5) AS BIGINT) AS w
             |       FROM t JOIN raw USING (term) LEFT JOIN tgt USING (term)
             |       CROSS JOIN k CROSS JOIN kt),
             |agg AS (SELECT doc_id, count(*) AS n_toks,
             |               CAST(sum(w) AS BIGINT) AS w_micro
             |        FROM lp GROUP BY 1)
             |SELECT doc_id, n_toks, w_micro,
             |       round((w_micro * 1.0 / 1000000.0) / n_toks, 6) AS avg_w
             |FROM agg ORDER BY doc_id""".stripMargin)),

    // x17 — CCNet head/middle/tail bucketing: per-language perplexity
    // terciles under the corpus unigram LM (x12's gated scorer) — head =
    // most-fluent third, the cut CCNet keeps; tail = the third that gets
    // dropped or down-weighted. ntile(3) over (avg_lp desc, doc_id) is the
    // exact, oracle-able form; language partitions parallelize, and the
    // window rows carry only (doc_id, score). At 100 TB the same cut comes
    // from sampled per-lang tercile thresholds (approx_percentile) applied
    // map-side — threshold semantics, same buckets up to boundary ties.
    Q("x17_ccnet_buckets",
      (s, d) => {
        val docs = Tables(s, d, "documents")
        val lm = graft.pipeline.LmScore.unigramAvgLogProb(
          docs, col("doc_id"), col("text"))
        lm.join(docs.select(col("doc_id"), col("lang")), "doc_id")
          .withColumn("bid", ntile(3).over(
            Window.partitionBy(col("lang"))
              .orderBy(col("avg_lp").desc, col("doc_id"))))
          .select(col("doc_id"), col("lang"), col("avg_lp"),
            element_at(
              array(lit("head"), lit("middle"), lit("tail")), col("bid"))
              .as("bucket"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH t AS (SELECT doc_id,
              |                 unnest(list_filter(string_split(text, ' '),
              |                                    x -> x <> '')) AS term
              |          FROM documents),
              |uni AS (SELECT term, count(*) AS cnt FROM t GROUP BY 1),
              |n AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM uni),
              |lp AS (SELECT doc_id,
              |              CAST(floor(ln(cnt * 1.0 / n) * 1000000.0 + 0.5) AS BIGINT)
              |                AS lp_micro
              |       FROM t JOIN uni USING (term) CROSS JOIN n),
              |agg AS (SELECT doc_id, count(*) AS n_toks,
              |               CAST(sum(lp_micro) AS BIGINT) AS sum_lp_micro
              |        FROM lp GROUP BY 1),
              |sc AS (SELECT d.doc_id, d.lang,
              |              round((sum_lp_micro * 1.0 / 1000000.0) / n_toks, 6)
              |                AS avg_lp
              |       FROM agg JOIN documents d USING (doc_id)),
              |b AS (SELECT doc_id, lang, avg_lp,
              |             ntile(3) OVER (PARTITION BY lang
              |                            ORDER BY avg_lp DESC, doc_id) AS bid
              |      FROM sc)
              |SELECT doc_id, lang, avg_lp,
              |       CASE bid WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
              |                ELSE 'tail' END AS bucket
              |FROM b ORDER BY doc_id""".stripMargin)),

    // x21 — OOV rate against the corpus top-1000 vocabulary: the
    // vocab-pruning QC every tokenizer-training pipeline runs (a doc whose
    // tokens mostly fall outside the head vocab is boilerplate, another
    // language, or noise). Vocab = one agg + top-k (TakeOrdered, no global
    // sort; cnt-desc/term-asc tie-break pinned on both engines), then a
    // BROADCAST membership join — per-token work is map-side, and the only
    // corpus-scale shuffle is the per-doc sum on doc_id, x12's shape.
    Q("x21_oov_rate",
      (s, d) => {
        val toks = Tables(s, d, "documents")
          .select(col("doc_id"), explode(TextFunctions.tokens(col("text"))).as("term"))
        val vocab = toks.groupBy(col("term")).agg(count(lit(1)).as("cnt"))
          .orderBy(col("cnt").desc, col("term")).limit(1000)
          .select(col("term"), lit(1).as("in_v"))
        toks.join(broadcast(vocab), Seq("term"), "left")
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_toks"),
            sum(when(col("in_v").isNull, 1).otherwise(0)).cast("long").as("n_oov"))
          .select(col("doc_id"), col("n_toks"), col("n_oov"),
            round(col("n_oov") * lit(1.0) / col("n_toks"), 6).as("oov_rate"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH t AS (SELECT doc_id,
             |                 unnest(list_filter(string_split(text, ' '),
             |                                    x -> x <> '')) AS term
             |          FROM documents),
             |v AS (SELECT term FROM (SELECT term, count(*) AS c FROM t GROUP BY 1)
             |      ORDER BY c DESC, term LIMIT 1000),
             |a AS (SELECT doc_id, count(*) AS n_toks,
             |             CAST(sum(CASE WHEN term IN (SELECT term FROM v)
             |                           THEN 0 ELSE 1 END) AS BIGINT) AS n_oov
             |      FROM t GROUP BY 1)
             |SELECT doc_id, n_toks, n_oov,
             |       round(n_oov * 1.0 / n_toks, 6) AS oov_rate
             |FROM a ORDER BY doc_id""".stripMargin)),

    // x17 at 100 TB — the sampled-threshold scale variant the exact twin's
    // scaladoc promises (rows-only; a3/h6 twin pattern): per-lang tercile
    // CUT VALUES from approx_percentile, applied map-side. The per-lang
    // window over every doc disappears; what shuffles is one sketch row
    // per language, and bucketing becomes two broadcast-joined
    // comparisons. Bucket agreement with the exact ntile form up to
    // boundary ties is asserted in QualitySignalsSpec.
    Q("x17_ccnet_buckets_approx",
      (s, d) => {
        val docs = Tables(s, d, "documents")
        val lm = graft.pipeline.LmScore.unigramAvgLogProb(
          docs, col("doc_id"), col("text"))
        val scored = lm.join(docs.select(col("doc_id"), col("lang")), "doc_id")
        val cuts = scored.groupBy(col("lang"))
          .agg(percentile_approx(col("avg_lp"),
            array(lit(1.0 / 3), lit(2.0 / 3)), lit(10000)).as("q"))
          .select(col("lang"),
            col("q").getItem(0).as("q33"), col("q").getItem(1).as("q67"))
        // DESC terciles: head = most-fluent third (avg_lp above the 2/3
        // ascending cut), tail = below the 1/3 cut
        scored.join(broadcast(cuts), "lang")
          .select(col("doc_id"), col("lang"), col("avg_lp"),
            when(col("avg_lp") >= col("q67"), "head")
              .when(col("avg_lp") < col("q33"), "tail")
              .otherwise("middle").as("bucket"))
          .orderBy(col("doc_id"))
      },
      None),

    // x18 — reproducible global shuffle + shard manifest: hash-assign every
    // doc to one of 8 training shards (map-side — no global sort anywhere),
    // order each shard by an independent salted hash, and emit the per-
    // shard manifest digest over the ordered doc_id sequence — the
    // PERMUTATION itself is under the oracle hash, not just the counts.
    // The digest is the Merkle-style prefix hierarchy of
    // [[DataSplit.shardManifest]]: every aggregation buffer is one leaf
    // bucket or a 256-wide roll-up, never a whole shard, so the manifest
    // is bounded-memory at any corpus size. Replaying the job on any
    // cluster/partitioning reproduces the exact same shards in the exact
    // same order; the DuckDB oracle mirrors the hierarchy level by level.
    Q("x18_shuffle_shard",
      (s, d) => DataSplit.shardManifest(
        Tables(s, d, "documents")
          .select(col("doc_id"), TextFunctions.tokenCount(col("text")).as("n_tok")),
        col("doc_id"), nShards = 8,
        sums = Seq("n_tokens" -> col("n_tok")))
        .orderBy(col("shard")),
      Some("""WITH r AS (
             |  SELECT CAST(doc_id AS VARCHAR) AS id,
             |         len(list_filter(string_split(text, ' '), x -> x <> '')) AS n_tok,
             |         CAST(('0x' || substr(md5('shard:' || CAST(doc_id AS VARCHAR)), 1, 15))
             |              AS BIGINT) % 8 AS shard,
             |         md5('shard-ord:' || CAST(doc_id AS VARCHAR)) AS ord
             |  FROM documents),
             |l1 AS (SELECT shard, substr(ord, 1, 6) AS k1,
             |              md5(string_agg(id, ',' ORDER BY ord, id)) AS h,
             |              count(*) AS n_docs,
             |              CAST(sum(n_tok) AS BIGINT) AS n_tokens
             |       FROM r GROUP BY 1, 2),
             |l2 AS (SELECT shard, substr(k1, 1, 4) AS k2,
             |              md5(string_agg(h, ',' ORDER BY k1)) AS h,
             |              CAST(sum(n_docs) AS BIGINT) AS n_docs,
             |              CAST(sum(n_tokens) AS BIGINT) AS n_tokens
             |       FROM l1 GROUP BY 1, 2),
             |l3 AS (SELECT shard, substr(k2, 1, 2) AS k3,
             |              md5(string_agg(h, ',' ORDER BY k2)) AS h,
             |              CAST(sum(n_docs) AS BIGINT) AS n_docs,
             |              CAST(sum(n_tokens) AS BIGINT) AS n_tokens
             |       FROM l2 GROUP BY 1, 2)
             |SELECT shard, CAST(sum(n_docs) AS BIGINT) AS n_docs,
             |       CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
             |       md5(string_agg(h, ',' ORDER BY k3)) AS order_md5
             |FROM l3 GROUP BY shard ORDER BY shard""".stripMargin)),

    // x23 — top-n-gram repetition share (Gopher, Rae et al. 2021 Table A1
    // "repetition removal"): for n ∈ {2,3,4}, the share of a doc's n-gram
    // occurrences claimed by its single most frequent n-gram — high shares
    // flag boilerplate/looping text the word-level distinct ratio (x7)
    // misses. This is the occurrence-share variant (bounded [0,1], no
    // overlap double-count); the position-union char-coverage variant is
    // d6_dup_span's technique. Only the count of the modal gram survives
    // the per-doc max, so the signal is fully deterministic without a gram
    // tie-break. ONE corpus scan for all three widths (width-tagged double
    // explode of the native WordNGrams kernel), and no token-count join at
    // all: the per-width occurrence TOTAL is n_toks − w + 1 by identity, so
    // share = modal/total and n_toks = total(2) + 1 fall out of the same
    // aggregate. One gram-stream shuffle keyed (doc, w, gram); the two
    // follow-up aggs carry three rows per doc.
    Q("x23_top_ngram_share",
      (s, d) => {
        val widths = Seq(2, 3, 4).map(n =>
          struct(lit(n).as("w"),
            TextFunctions.shingles(col("text"), n).as("gs")))
        val perW = Tables(s, d, "documents")
          .select(col("doc_id"), explode(array(widths: _*)).as("x"))
          .select(col("doc_id"), col("x.w").as("w"), explode(col("x.gs")).as("g"))
          .groupBy(col("doc_id"), col("w"), col("g"))
          .agg(count(lit(1)).as("c"))
          .groupBy(col("doc_id"), col("w"))
          .agg(max(col("c")).as("m"), sum(col("c")).as("t"))
        perW.groupBy(col("doc_id"))
          .agg(
            max(when(col("w") === 2, col("t"))).as("t2"),
            max(when(col("w") === 2, col("m"))).as("m2"),
            max(when(col("w") === 3, col("t"))).as("t3"),
            max(when(col("w") === 3, col("m"))).as("m3"),
            max(when(col("w") === 4, col("t"))).as("t4"),
            max(when(col("w") === 4, col("m"))).as("m4"))
          .filter(col("t4").isNotNull) // t4 ≥ 1 ⇔ n_toks ≥ 4
          .select(col("doc_id"), (col("t2") + 1).cast("long").as("n_toks"),
            round(col("m2") * lit(1.0) / col("t2"), 6).as("top2_share"),
            round(col("m3") * lit(1.0) / col("t3"), 6).as("top3_share"),
            round(col("m4") * lit(1.0) / col("t4"), 6).as("top4_share"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH t AS (SELECT doc_id,
             |                  list_filter(string_split(text, ' '), x -> x <> '') AS toks
             |           FROM documents),
             |z AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n_toks
             |      FROM t WHERE len(toks) >= 4),
             |g2 AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(toks) - 1),
             |                 i -> toks[i] || ' ' || toks[i + 1])) AS g FROM z),
             |m2 AS (SELECT doc_id, max(c) AS top2 FROM
             |         (SELECT doc_id, g, count(*) AS c FROM g2 GROUP BY 1, 2)
             |       GROUP BY 1),
             |g3 AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(toks) - 2),
             |                 i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2])) AS g
             |       FROM z),
             |m3 AS (SELECT doc_id, max(c) AS top3 FROM
             |         (SELECT doc_id, g, count(*) AS c FROM g3 GROUP BY 1, 2)
             |       GROUP BY 1),
             |g4 AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(toks) - 3),
             |                 i -> toks[i] || ' ' || toks[i + 1] || ' ' ||
             |                      toks[i + 2] || ' ' || toks[i + 3])) AS g FROM z),
             |m4 AS (SELECT doc_id, max(c) AS top4 FROM
             |         (SELECT doc_id, g, count(*) AS c FROM g4 GROUP BY 1, 2)
             |       GROUP BY 1)
             |SELECT doc_id, n_toks,
             |       round(top2 * 1.0 / (n_toks - 1), 6) AS top2_share,
             |       round(top3 * 1.0 / (n_toks - 2), 6) AS top3_share,
             |       round(top4 * 1.0 / (n_toks - 3), 6) AS top4_share
             |FROM z JOIN m2 USING (doc_id) JOIN m3 USING (doc_id)
             |       JOIN m4 USING (doc_id)
             |ORDER BY doc_id""".stripMargin)),

    // x24 — END-TO-END curation pipeline with per-stage drop attribution:
    // the sequential filter chain a real corpus build runs (FineWeb /
    // RefinedWeb shape), each doc attributed to the FIRST stage that drops
    // it so yield loss is auditable per source. Stages: (1) Gopher integer
    // rules (word count, mean word length via cross-multiply — no FP —
    // and stop words; x22 is the full gate), (2) repetition
    // (distinct-token ratio ≥ 0.3, integer cross-multiply), (3) language
    // agreement (x4's n-gram vote langId vs the labeled lang), (4) exact
    // dedup among survivors (min-doc_id representative per md5(text)
    // group). Everything before the dedup window is map-side; the dedup
    // shuffles on the content hash and the report on (source, stage) —
    // both bounded keys. The whole chain, including the vote-argmax and
    // the survivor-only dedup window, is mirrored in DuckDB.
    Q("x24_curation_pipeline",
      (s, d) => {
        val toks = TextFunctions.tokens(col("text"))
        val sumLen = expr(
          "aggregate(transform(toks, x -> length(x)), 0L, (a, x) -> a + x)")
        val nStop = expr("size(filter(toks, x -> x IN " +
          "('the','be','to','of','and','that','have','with')))")
        val f = Tables(s, d, "documents")
          .select(col("doc_id"), col("source"), col("lang"), col("text"),
            toks.as("toks"))
          .withColumn("n", size(col("toks")))
          .withColumn("r1",
            col("n").between(50, 100000) &&
              sumLen >= col("n") * 3 && sumLen <= col("n") * 10 &&
              nStop >= 2)
          .withColumn("r2",
            size(array_distinct(col("toks"))) * 10 >= col("n") * 3)
          .withColumn("r3", TextFunctions.langId(col("text")) === col("lang"))
        val pass = col("r1") && col("r2") && col("r3")
        f.withColumn("rep_id",
            min(when(pass, col("doc_id")))
              .over(Window.partitionBy(md5(col("text")))))
          .withColumn("stage",
            when(!col("r1"), "1_rules")
              .when(!col("r2"), "2_repetition")
              .when(!col("r3"), "3_lang_mismatch")
              .when(col("doc_id") =!= col("rep_id"), "4_duplicate")
              .otherwise("5_kept"))
          .groupBy(col("source"), col("stage"))
          .agg(count(lit(1)).as("n_docs"))
          .orderBy(col("source"), col("stage"))
      },
      Some {
        def votes(words: Seq[String], lang: String): String = {
          val lst = words.map(w => s"'$w'").mkString(",")
          s"lpad(CAST(len(list_filter(ltoks, x -> x IN ($lst))) AS VARCHAR), 6, '0') || '$lang'"
        }
        s"""WITH t AS (
           |  SELECT doc_id, source, lang, text,
           |         list_filter(string_split(text, ' '), x -> x <> '') AS toks,
           |         list_filter(string_split(lower(text), ' '), x -> x <> '') AS ltoks
           |  FROM documents),
           |f AS (
           |  SELECT doc_id, source, text,
           |         (len(toks) BETWEEN 50 AND 100000
           |          AND list_sum(list_transform(toks, x -> strlen(x))) >= len(toks) * 3
           |          AND list_sum(list_transform(toks, x -> strlen(x))) <= len(toks) * 10
           |          AND len(list_filter(toks, x -> x IN
           |                ('the','be','to','of','and','that','have','with'))) >= 2) AS r1,
           |         (len(list_distinct(toks)) * 10 >= len(toks) * 3) AS r2,
           |         (lang = CASE WHEN regexp_matches(text, '[\\x{4e00}-\\x{9fff}]') THEN 'zh'
           |                 ELSE substr(greatest(
           |                   ${votes(Seq("the", "and", "of", "to", "is", "with"), "en")},
           |                   ${votes(Seq("der", "die", "das", "und", "ist", "mit"), "de")},
           |                   ${votes(Seq("el", "la", "los", "que", "es", "con"), "es")},
           |                   ${votes(Seq("le", "la", "les", "est", "avec", "dans"), "fr")}), 7)
           |                 END) AS r3
           |  FROM t),
           |g AS (
           |  SELECT *, min(CASE WHEN r1 AND r2 AND r3 THEN doc_id END)
           |              OVER (PARTITION BY md5(text)) AS rep_id
           |  FROM f),
           |st AS (
           |  SELECT source,
           |         CASE WHEN NOT r1 THEN '1_rules'
           |              WHEN NOT r2 THEN '2_repetition'
           |              WHEN NOT r3 THEN '3_lang_mismatch'
           |              WHEN doc_id <> rep_id THEN '4_duplicate'
           |              ELSE '5_kept' END AS stage
           |  FROM g)
           |SELECT source, stage, count(*) AS n_docs
           |FROM st GROUP BY 1, 2 ORDER BY source, stage""".stripMargin
      }),

    // X25 — context-window truncation accounting: what a max_len=64 token
    // budget costs per language — docs over budget, tokens lost to
    // truncation, loss share. The training-data planning query behind
    // "which languages need longer context or chunking". Pure integer
    // aggregates off one map-side token count; a single rounded divide.
    Q("x25_truncation_loss",
      (s, d) => Tables(s, d, "documents")
        .select(col("lang"),
          graft.functions.TextFunctions.tokenCount(col("text")).as("n_tok"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum((col("n_tok") > 64).cast("long")).as("docs_over"),
          sum(col("n_tok")).as("sum_tok"),
          sum(greatest(lit(0L), col("n_tok") - 64)).as("lost_tok"))
        .select(col("lang"), col("n_docs"), col("docs_over"),
          col("sum_tok"), col("lost_tok"),
          round(col("lost_tok").cast("double") * 100
            / col("sum_tok"), 6).as("pct_lost"))
        .orderBy(col("lang")),
      Some("""WITH t AS (SELECT lang,
             |                  len(list_filter(string_split(text, ' '),
             |                      x -> x <> '')) AS n_tok
             |           FROM documents)
             |SELECT lang, count(*) AS n_docs,
             |       CAST(sum(CASE WHEN n_tok > 64 THEN 1 ELSE 0 END)
             |            AS BIGINT) AS docs_over,
             |       CAST(sum(n_tok) AS BIGINT) AS sum_tok,
             |       CAST(sum(greatest(0, n_tok - 64)) AS BIGINT) AS lost_tok,
             |       round(CAST(sum(greatest(0, n_tok - 64)) AS DOUBLE) * 100
             |         / sum(n_tok), 6) AS pct_lost
             |FROM t GROUP BY lang ORDER BY lang""".stripMargin)),

    // X26 — packing-efficiency report over x6's greedy chunk assignment:
    // per (grp, chunk) docs, token mass, and fill ratio vs the 512 budget.
    // A doc straddling the boundary counts in the chunk where it STARTS
    // (x6's running-sum rule), so fill can exceed 100% — that overshoot
    // IS the metric: it quantifies what the greedy packer costs vs ideal
    // splitting, per group. Derived entirely from the aggregated chunk
    // frame; integer sums, one divide.
    Q("x26_pack_efficiency",
      (s, d) => DataSplit.packChunks(Tables(s, d, "documents"),
          col("lang"), col("doc_id"), col("text"), budget = 512)
        .groupBy(col("grp"), col("chunk"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tok").cast("long")).as("sum_tok"))
        .select(col("grp"), col("chunk"), col("n_docs"), col("sum_tok"),
          round(col("sum_tok").cast("double") * 100 / lit(512.0D), 6)
            .as("fill_pct"))
        .orderBy(col("grp"), col("chunk")),
      Some("""WITH t AS (
             |  SELECT lang AS grp, doc_id,
             |         len(list_filter(string_split(text, ' '), x -> x <> '')) AS n_tok
             |  FROM documents),
             |c AS (SELECT grp, doc_id, n_tok,
             |             CAST(floor((sum(n_tok) OVER (PARTITION BY grp ORDER BY doc_id)
             |                         - n_tok) / 512) AS BIGINT) AS chunk
             |      FROM t)
             |SELECT grp, chunk, count(*) AS n_docs,
             |       CAST(sum(n_tok) AS BIGINT) AS sum_tok,
             |       round(CAST(sum(n_tok) AS DOUBLE) * 100
             |         / CAST(512.0 AS DOUBLE), 6) AS fill_pct
             |FROM c GROUP BY 1, 2 ORDER BY grp, chunk""".stripMargin)),

    // x27 — tokenizer fertility per language: tokens-per-word and
    // chars-per-token, the standard multilingual tokenizer-efficiency
    // report (high fertility = the tokenizer fragments that language →
    // budget inflation). Words = whitespace tokens, tokens = the BPE-ish
    // regex segmentation (x2's), chars = n_chars. All three are exact
    // integer sums off ONE map-side projection; two rounded divides at
    // the end. At 100 TB: scan-bound, one tiny per-lang hash agg.
    Q("x27_tokenizer_fertility",
      (s, d) => Tables(s, d, "documents")
        .select(col("lang"),
          size(graft.functions.TextFunctions.tokens(col("text")))
            .cast("long").as("words"),
          size(graft.functions.TextFunctions.tokensRegex(col("text")))
            .cast("long").as("toks"),
          col("n_chars").cast("long").as("chars"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("words")).as("sum_words"),
          sum(col("toks")).as("sum_tokens"), sum(col("chars")).as("sum_chars"))
        .select(col("lang"), col("n_docs"), col("sum_words"),
          col("sum_tokens"),
          round(col("sum_tokens").cast("double")
            / col("sum_words").cast("double"), 6).as("fertility"),
          round(col("sum_chars").cast("double")
            / col("sum_tokens").cast("double"), 6).as("chars_per_token"))
        .orderBy(col("lang")),
      Some("""WITH t AS (
             |  SELECT lang,
             |         CAST(len(list_filter(string_split(text, ' '),
             |                              x -> x <> '')) AS BIGINT) AS words,
             |         CAST(len(list_filter(string_split_regex(text, '[^a-zA-Z0-9]+'),
             |                              x -> x <> '')) AS BIGINT) AS toks,
             |         CAST(n_chars AS BIGINT) AS chars
             |  FROM documents)
             |SELECT lang, count(*) AS n_docs,
             |       CAST(sum(words) AS BIGINT) AS sum_words,
             |       CAST(sum(toks) AS BIGINT) AS sum_tokens,
             |       round(CAST(sum(toks) AS DOUBLE)
             |         / CAST(sum(words) AS DOUBLE), 6) AS fertility,
             |       round(CAST(sum(chars) AS DOUBLE)
             |         / CAST(sum(toks) AS DOUBLE), 6) AS chars_per_token
             |FROM t GROUP BY lang ORDER BY lang""".stripMargin)),

    // x28 — graph-centrality quality prior: weighted PageRank over the
    // behavioral graph (edge u→v when v's event directly follows u's in
    // the same event_type timeline, weighted by transition count) — the
    // CommonCrawl-style "centrality as a quality prior" signal, where a
    // document inherits weight from how often the graph walks into it.
    // THREE unrolled power iterations in EXACT integer arithmetic: ranks
    // scaled to 10¹⁵ units, per-edge contribution = (r_u · w_uv) div
    // out_u, damped = base + (85 · Σ) div 100 — every op BIGINT integer
    // division, so the oracle's recursive form matches bit-for-bit (no
    // FP convergence surface). Each iteration is one shuffle-on-u join +
    // one v-keyed agg — the Pregel superstep shape; at 100 TB the edge
    // table partitions by source and the rank vector broadcasts or
    // co-partitions, iterations stay O(edges).
    Q("x28_pagerank_prior",
      (s, d) => {
        val w = Window.partitionBy(col("event_type"))
          .orderBy(col("ts"), col("event_id"))
        val edges = Tables(s, d, "events")
          .select(col("event_type"), col("ts"), col("event_id"),
            col("user_id").as("u"))
          .withColumn("v", lead(col("u"), 1).over(w))
          .filter(col("v").isNotNull && col("v") =!= col("u"))
          .groupBy(col("u"), col("v")).agg(count(lit(1)).as("cnt"))
        val out = edges.groupBy(col("u")).agg(sum(col("cnt")).as("outc"))
        val nodes = Tables(s, d, "events")
          .select(col("user_id").as("node")).distinct()
        val nN = nodes.count()  // bounded: the node-id dictionary
        val r0 = lit(1000000000000000L / nN)
        val base = lit(150000000000000L / nN)
        def step(r: DataFrame): DataFrame = {
          // `div`, not `/`: Column./ on longs is a DOUBLE divide, and
          // rank·cnt ≈ 2·10¹⁷ exceeds double's exact-integer range
          val contrib = edges
            .join(out, "u")
            .join(r.withColumnRenamed("node", "u"), "u")
            .select(col("v"),
              expr("(rank * cnt) div outc").as("c"))
            .groupBy(col("v")).agg(sum(col("c")).as("sc"))
          nodes.join(contrib.withColumnRenamed("v", "node"), Seq("node"), "left")
            .withColumn("sc0", coalesce(col("sc"), lit(0L)))
            .select(col("node"),
              (base + expr("(85 * sc0) div 100")).as("rank"))
        }
        val r3 = step(step(step(nodes.select(col("node"), r0.as("rank")))))
        r3.orderBy(col("rank").desc, col("node")).limit(20)
          .select(col("node").as("user_id"), col("rank"))
      },
      Some("""WITH o AS (SELECT event_type, user_id AS u,
             |                  lead(user_id) OVER (PARTITION BY event_type
             |                    ORDER BY ts, event_id) AS v
             |           FROM events),
             |e AS (SELECT u, v, count(*) AS cnt FROM o
             |      WHERE v IS NOT NULL AND v <> u GROUP BY 1, 2),
             |outc AS (SELECT u, CAST(sum(cnt) AS BIGINT) AS outc
             |         FROM e GROUP BY 1),
             |n AS (SELECT DISTINCT user_id AS node FROM events),
             |nn AS (SELECT count(*) AS nn FROM n),
             |r0 AS (SELECT node, 1000000000000000 // nn AS rank
             |       FROM n, nn),
             |c1 AS (SELECT e.v AS node,
             |              CAST(sum((r0.rank * e.cnt) // outc.outc) AS BIGINT)
             |                AS sc
             |       FROM e JOIN outc ON e.u = outc.u
             |              JOIN r0 ON r0.node = e.u
             |       GROUP BY 1),
             |r1 AS (SELECT n.node,
             |              150000000000000 // nn
             |                + (85 * COALESCE(c1.sc, 0)) // 100 AS rank
             |       FROM n CROSS JOIN nn LEFT JOIN c1 ON c1.node = n.node),
             |c2 AS (SELECT e.v AS node,
             |              CAST(sum((r1.rank * e.cnt) // outc.outc) AS BIGINT)
             |                AS sc
             |       FROM e JOIN outc ON e.u = outc.u
             |              JOIN r1 ON r1.node = e.u
             |       GROUP BY 1),
             |r2 AS (SELECT n.node,
             |              150000000000000 // nn
             |                + (85 * COALESCE(c2.sc, 0)) // 100 AS rank
             |       FROM n CROSS JOIN nn LEFT JOIN c2 ON c2.node = n.node),
             |c3 AS (SELECT e.v AS node,
             |              CAST(sum((r2.rank * e.cnt) // outc.outc) AS BIGINT)
             |                AS sc
             |       FROM e JOIN outc ON e.u = outc.u
             |              JOIN r2 ON r2.node = e.u
             |       GROUP BY 1),
             |r3 AS (SELECT n.node,
             |              150000000000000 // nn
             |                + (85 * COALESCE(c3.sc, 0)) // 100 AS rank
             |       FROM n CROSS JOIN nn LEFT JOIN c3 ON c3.node = n.node)
             |SELECT node AS user_id, CAST(rank AS BIGINT) AS rank
             |FROM r3 ORDER BY rank DESC, node LIMIT 20""".stripMargin)),

    // x29 — temperature-scaled language sampling (the multilingual-LM
    // rebalancing rule, α = 0.5): sampling weight w_l ∝ n_l^α, so
    // low-resource languages are upsampled relative to their raw share.
    // α = 1/2 makes the power an IEEE sqrt — correctly rounded in BOTH
    // engines — and the weight is immediately quantized to an integer
    // (floor(sqrt·10⁶)), so every downstream op (Σw, ppm shares, the
    // 10 000-doc budget allocation) is exact BIGINT div arithmetic with
    // zero FP accumulation surface. Plan: one per-lang count (tiny hash
    // agg), a 1-row broadcast total, map-side divides — scan-bound at
    // any scale. n_l must stay < 2^53/10¹² ≈ 9·10³ × 10⁶ for the double
    // product to stay exact; floor(sqrt(n)·10⁶) with n < 10¹⁶ is safe
    // because sqrt(n) < 10⁸ and the product < 10¹⁴ < 2^53.
    Q("x29_temperature_sample",
      (s, d) => {
        val perLang = Tables(s, d, "documents")
          .groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
          .withColumn("w",
            floor(sqrt(col("n_docs").cast("double")) * lit(1000000.0D))
              .cast("long"))
        val tot = perLang.agg(sum(col("n_docs")).as("n_tot"),
          sum(col("w")).as("w_tot"))
        perLang.crossJoin(broadcast(tot))
          .select(col("lang"), col("n_docs"),
            expr("(n_docs * 1000000) div n_tot").as("raw_ppm"),
            expr("(w * 1000000) div w_tot").as("temp_ppm"),
            expr("(w * 10000) div w_tot").as("alloc_10k"))
          .orderBy(col("lang"))
      },
      Some(s"""$langMixtureSql
             |SELECT lang, n_docs,
             |       (n_docs * 1000000) // n_tot AS raw_ppm,
             |       (w * 1000000) // w_tot AS temp_ppm,
             |       (w * 10000) // w_tot AS alloc_10k
             |FROM l CROSS JOIN t ORDER BY lang""".stripMargin)),

    // x30 — mixture-drift report: per-language KL divergence TERM of the
    // observed corpus mix p against x29's temperature target q — the
    // pipeline-health metric that says which languages drifted from the
    // sampling plan and by how much (sign of ln(p/q) says over/under-
    // represented). Deliberately emitted PER LANGUAGE with no cross-lang
    // sum: every row's p, q come from exact integer counts via one
    // division each, so there is no FP accumulation order to disagree on
    // — the one ln per row is the x12 precedent (both engines' libm agree
    // at round-6 on this domain). Plan: the same tiny per-lang count agg
    // as x29 + a 1-row broadcast total; scan-bound at any scale.
    Q("x30_mixture_kl",
      (s, d) => {
        val perLang = Tables(s, d, "documents")
          .groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
          .withColumn("w",
            floor(sqrt(col("n_docs").cast("double")) * lit(1000000.0D))
              .cast("long"))
        val tot = perLang.agg(sum(col("n_docs")).as("n_tot"),
          sum(col("w")).as("w_tot"))
        perLang.crossJoin(broadcast(tot))
          .withColumn("p", col("n_docs").cast("double")
            / col("n_tot").cast("double"))
          .withColumn("q", col("w").cast("double")
            / col("w_tot").cast("double"))
          .select(col("lang"), col("n_docs"),
            round(col("p"), 6).as("p_obs"),
            round(col("q"), 6).as("q_target"),
            round(col("p") * log(col("p") / col("q")), 6).as("kl_term"),
            (col("p") > col("q")).as("overrepresented"))
          .orderBy(col("lang"))
      },
      Some(s"""$langMixtureSql,
             |r AS (SELECT lang, n_docs,
             |             CAST(n_docs AS DOUBLE) / CAST(n_tot AS DOUBLE) AS p,
             |             CAST(w AS DOUBLE) / CAST(w_tot AS DOUBLE) AS q
             |      FROM l CROSS JOIN t)
             |SELECT lang, n_docs,
             |       round(p, 6) AS p_obs,
             |       round(q, 6) AS q_target,
             |       round(p * ln(p / q), 6) AS kl_term,
             |       p > q AS overrepresented
             |FROM r ORDER BY lang""".stripMargin)),

    // x31 — classifier-based quality filtering (the DCLM / FineWeb-Edu
    // shape): train a tiny logistic-regression probe IN-ENGINE on
    // rule-derived labels, then score every doc. Full-batch GD with the
    // gradient sum quantized to integer micros map-side (the x12/x16
    // technique) so the update is addition-order-free; 3 fixed rounds,
    // η = 4 (exact power-of-two scaling), weights in integer micros; the
    // oracle unrolls the identical three rounds as CTEs. Each GD round is
    // one partial-aggregable 5-column aggregate — no shuffle of doc rows,
    // no window; scoring is map-side with broadcast-literal weights. See
    // [[graft.pipeline.QualityClassifier]] for the determinism protocol.
    Q("x31_quality_classifier",
      (s, d) => graft.pipeline.QualityClassifier.trainAndScore(
          Tables(s, d, "documents"), col("doc_id"), col("text"))
        .orderBy(col("doc_id")),
      Some {
        // σ(w·x) with the pinned parenthesization, w in micros from CTE `w`
        def sig(w: String) =
          s"1.0 / (1.0 + exp(-((CAST($w.w0 AS DOUBLE) + " +
            s"CAST($w.w1 AS DOUBLE) * x1 + CAST($w.w2 AS DOUBLE) * x2 + " +
            s"CAST($w.w3 AS DOUBLE) * x3) / 1000000.0)))"
        def grad(x: String) =
          s"CAST(sum(CAST(floor(((y - p) * $x) * 1000000.0 + 0.5) " +
            "AS BIGINT)) AS BIGINT)"
        def round(k: Int): String =
          s"""g$k AS (
             |  SELECT count(*) AS n,
             |         ${grad("1.0")} AS g0, ${grad("x1")} AS g1,
             |         ${grad("x2")} AS g2, ${grad("x3")} AS g3
             |  FROM (SELECT f.*, ${sig(s"w${k - 1}")} AS p
             |        FROM f CROSS JOIN w${k - 1})),
             |w$k AS (
             |  SELECT
             |    w0 + CAST(floor(4.0 * (CAST(g0 AS DOUBLE) / n) + 0.5) AS BIGINT) AS w0,
             |    w1 + CAST(floor(4.0 * (CAST(g1 AS DOUBLE) / n) + 0.5) AS BIGINT) AS w1,
             |    w2 + CAST(floor(4.0 * (CAST(g2 AS DOUBLE) / n) + 0.5) AS BIGINT) AS w2,
             |    w3 + CAST(floor(4.0 * (CAST(g3 AS DOUBLE) / n) + 0.5) AS BIGINT) AS w3
             |  FROM g$k CROSS JOIN w${k - 1})""".stripMargin
        s"""WITH t AS (
           |  SELECT doc_id, text,
           |         list_filter(string_split(text, ' '), x -> x <> '') AS toks
           |  FROM documents),
           |c AS (
           |  SELECT doc_id, len(toks) AS nw, length(text) AS nc,
           |         len(list_filter(toks, x -> x IN
           |           ('the','be','to','of','and','that','have','with'))) AS ns
           |  FROM t),
           |f AS (
           |  SELECT doc_id,
           |         round(CAST(ns AS DOUBLE) / nw, 6) AS x1,
           |         round(CAST(nc AS DOUBLE) / nw, 6) AS x2,
           |         round(CAST(nw AS DOUBLE) / 100.0, 6) AS x3,
           |         CASE WHEN nw >= 40 AND CAST(ns AS DOUBLE) / nw >= 0.02
           |              THEN 1.0 ELSE 0.0 END AS y
           |  FROM c WHERE nw > 0),
           |w0 AS (SELECT CAST(0 AS BIGINT) AS w0, CAST(0 AS BIGINT) AS w1,
           |              CAST(0 AS BIGINT) AS w2, CAST(0 AS BIGINT) AS w3),
           |${round(1)},
           |${round(2)},
           |${round(3)}
           |SELECT doc_id, label, score, score >= 0.5 AS keep
           |FROM (SELECT doc_id, CAST(y AS INT) AS label,
           |             round(${sig("w3")}, 6) AS score
           |      FROM f CROSS JOIN w3)
           |ORDER BY doc_id""".stripMargin
      }),

    // x32 — weighted sampling WITHOUT replacement (Efraimidis & Spirakis
    // 2006, "Weighted random sampling with a reservoir"): draw k docs with
    // inclusion probability proportional to weight (here n_chars — the
    // byte-budget-proportional draw data-mixing recipes use), exactly and
    // deterministically. Each row gets the E-S key ln(u)/w with u ∈ (0, 1]
    // derived from md5(doc_id) (never rand() — reruns and engines agree);
    // the k LARGEST keys are the sample (ln is monotone, so ordering by
    // ln(u)/w equals the paper's u^(1/w)). Scale shape: the key is
    // map-side, the only cut is TakeOrdered(k) — one k-row reduction,
    // no shuffle of the corpus at any size; the distributed reservoir
    // equivalent at 100 TB is per-partition top-k merged on the driver,
    // which is exactly what TakeOrdered compiles to. u's 60-bit hash is
    // +1'd in INTEGER space before the double divide (u = 0 would send
    // ln to -inf; 2^60 is an exact power-of-two divide), and ordering
    // tests the RAW key — round(…, 9) is display only.
    Q("x32_weighted_sample",
      (s, d) => {
        val h = HashFunctions.md5Hash60(col("doc_id").cast("string"))
        val u = (h + lit(1L)).cast("double") / lit(1.152921504606846976e18)
        Tables(s, d, "documents")
          .select(col("doc_id"), col("n_chars"),
            (log(u) / col("n_chars")).as("k"))
          .orderBy(col("k").desc, col("doc_id"))
          .limit(50)
          .select(col("doc_id"), col("n_chars"),
            round(col("k") * lit(1000000.0), 3).as("es_key_e6"))
      },
      Some("""WITH k AS (
             |  SELECT doc_id, n_chars,
             |         ln(CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
             |                      AS BIGINT) + 1 AS DOUBLE)
             |            / 1152921504606846976.0) / n_chars AS k
             |  FROM documents)
             |SELECT doc_id, n_chars, round(k * 1000000.0, 3) AS es_key_e6
             |FROM k
             |ORDER BY k DESC, doc_id LIMIT 50""".stripMargin)),

    // x33 — DoReMi-style domain-mixture reweighting (Xie et al. 2023,
    // "DoReMi: Optimizing Data Mixtures Speeds Up Language Model
    // Pretraining"): exponentiated-gradient updates on per-domain excess
    // loss — domains whose minibatch loss exceeds their reference gain
    // mixture weight multiplicatively. Stood in for the proxy-model loss
    // (no model in-engine) is a deterministic per-doc difficulty proxy
    // (mean token length); "minibatches" are 3 md5-hash shards, so the
    // rounds see different data and the weights move. Determinism is the
    // x31 protocol: per-doc values quantized to integer micros map-side
    // (the shard/ref means become exact-integer sums — addition-order-
    // free), weights held as integer micros through every exp() round,
    // normalization a single rounded divide at the end. Scale shape: ONE
    // corpus pass builds the (domain × shard) micro-sum summary (partial-
    // aggregable, k×3 rows); the EG recurrence then runs entirely on that
    // tiny table — at 100 TB the corpus is touched once, the dynamics
    // cost nothing. An absent (domain, shard) cell contributes its
    // domain's reference loss (excess 0 — no update), so small corpora
    // can't null-poison the chain.
    Q("x33_domain_reweight",
      (s, d) => {
        val docs = Tables(s, d, "documents")
          .select(col("doc_id"), col("source"), col("n_chars"),
            size(filter(split(col("text"), " "), t => t =!= lit("")))
              .as("nw"))
          .filter(col("nw") > 0)
        val b = docs.select(col("source").as("domain"),
          (HashFunctions.md5Hash60(concat(lit("shard:"),
            col("doc_id").cast("string"))) % 3).as("sh"),
          floor(col("n_chars").cast("double") / col("nw") * lit(1000000.0)
            + lit(0.5)).cast("long").as("xm"))
        // one corpus aggregate; the per-shard means AND the domain
        // reference mean both derive from the same exact integer sums
        // (associative), so the second corpus scan a separate ref
        // aggregate would cost is free
        val cells = b.groupBy(col("domain"), col("sh"))
          .agg(sum(col("xm")).as("sm"), count(lit(1)).as("n"))
          .withColumn("m",
            round(col("sm").cast("double") / lit(1000000.0) / col("n"), 6))
        val piv = cells.groupBy(col("domain")).agg(
          max(when(col("sh") === 0, col("m"))).as("m1"),
          max(when(col("sh") === 1, col("m"))).as("m2"),
          max(when(col("sh") === 2, col("m"))).as("m3"),
          round(sum(col("sm")).cast("double") / lit(1000000.0)
            / sum(col("n")), 6).as("ref_loss"))
        def a(prev: org.apache.spark.sql.Column, m: String) =
          floor(prev.cast("double") *
            exp(greatest(col(m) - col("ref_loss"), lit(0.0))) + lit(0.5))
            .cast("long")
        val chain = piv
          .withColumn("m1", coalesce(col("m1"), col("ref_loss")))
          .withColumn("m2", coalesce(col("m2"), col("ref_loss")))
          .withColumn("m3", coalesce(col("m3"), col("ref_loss")))
          .withColumn("a1", a(lit(1000000L), "m1"))
          .withColumn("a2", a(col("a1"), "m2"))
          .withColumn("a3", a(col("a2"), "m3"))
        val tot = chain.agg(sum(col("a3")).as("tot"))
        chain.crossJoin(broadcast(tot))
          .select(col("domain"), col("ref_loss"),
            col("m1"), col("m2"), col("m3"), col("a3").as("wt_raw"),
            round(col("a3").cast("double") / col("tot").cast("double"), 6)
              .as("weight"))
          .orderBy(col("domain"))
      },
      Some("""WITH dws AS (
             |  SELECT doc_id, source AS domain, n_chars,
             |         len(list_filter(string_split(text, ' '), t -> t <> '')) AS nw
             |  FROM documents),
             |b AS (
             |  SELECT domain,
             |         CAST(('0x' || substr(md5('shard:' || CAST(doc_id AS VARCHAR)), 1, 15))
             |              AS BIGINT) % 3 AS sh,
             |         CAST(floor(CAST(n_chars AS DOUBLE) / nw * 1000000.0 + 0.5)
             |              AS BIGINT) AS xm
             |  FROM dws WHERE nw > 0),
             |c0 AS (SELECT domain, sh, CAST(sum(xm) AS BIGINT) AS sm,
             |              count(*) AS n
             |       FROM b GROUP BY domain, sh),
             |c AS (SELECT domain, sh,
             |             round(CAST(sm AS DOUBLE) / 1000000.0 / n, 6) AS m,
             |             sm, n
             |      FROM c0),
             |p AS (SELECT domain,
             |             max(CASE WHEN sh = 0 THEN m END) AS m1,
             |             max(CASE WHEN sh = 1 THEN m END) AS m2,
             |             max(CASE WHEN sh = 2 THEN m END) AS m3,
             |             round(CAST(sum(sm) AS DOUBLE) / 1000000.0 / sum(n), 6)
             |               AS ref_loss
             |      FROM c GROUP BY domain),
             |j AS (SELECT domain, ref_loss,
             |             coalesce(m1, ref_loss) AS m1,
             |             coalesce(m2, ref_loss) AS m2,
             |             coalesce(m3, ref_loss) AS m3
             |      FROM p),
             |e1 AS (SELECT *, CAST(floor(CAST(1000000 AS DOUBLE) *
             |                exp(greatest(m1 - ref_loss, 0.0)) + 0.5) AS BIGINT) AS a1
             |       FROM j),
             |e2 AS (SELECT *, CAST(floor(CAST(a1 AS DOUBLE) *
             |                exp(greatest(m2 - ref_loss, 0.0)) + 0.5) AS BIGINT) AS a2
             |       FROM e1),
             |e3 AS (SELECT *, CAST(floor(CAST(a2 AS DOUBLE) *
             |                exp(greatest(m3 - ref_loss, 0.0)) + 0.5) AS BIGINT) AS a3
             |       FROM e2),
             |t AS (SELECT CAST(sum(a3) AS BIGINT) AS tot FROM e3)
             |SELECT domain, ref_loss, m1, m2, m3, a3 AS wt_raw,
             |       round(CAST(a3 AS DOUBLE) / CAST(tot AS DOUBLE), 6) AS weight
             |FROM e3 CROSS JOIN t ORDER BY domain""".stripMargin)),

    // x34 — HTML/boilerplate main-content extraction (r18 verdict #4):
    // deterministic jusText-shape block classification — segment on
    // block-level tags, feature each block (token count, anchor-text
    // tokens, stopword tokens; integer-only), drop chrome, reassemble.
    // Fixture HTML is synthesized executor-side around documents.text (the
    // m1 derive-deterministically precedent), with three boilerplate kinds
    // that each die by a DIFFERENT rule (nav→length, ads→link density,
    // footer→stopword density). Entirely per-row array expressions — the
    // plan is one map-side scan, no explode, no shuffle but the output
    // sort; main_md5 puts segmentation, feature arithmetic, classification
    // AND reassembly order under the hash gate.
    Q("x34_html_extract",
      (s, d) => {
        import graft.pipeline.HtmlExtract
        // materialize the feature array ONCE per row (x35 precedent): the
        // regex-heavy segmentation runs in its own projection, and the four
        // output columns derive from the cheap materialized array — a
        // projection that inlined blockFeatures(html) four times measured
        // 2× slower (r19 bench)
        val good = filter(col("fs"), f => HtmlExtract.isGood(f))
        Tables(s, d, "documents")
          .select(col("doc_id"),
            HtmlExtract.htmlize(col("doc_id"), col("text")).as("html"))
          .select(col("doc_id"), HtmlExtract.blockFeatures(col("html")).as("fs"))
          .select(col("doc_id"),
            size(col("fs")).cast("long").as("n_blocks"),
            size(good).cast("long").as("n_good"),
            aggregate(good, lit(0L),
              (acc, f) => acc + f.getField("nt")).as("n_tok_kept"),
            md5(array_join(transform(good, _.getField("txt")), " "))
              .as("main_md5"))
          .orderBy(col("doc_id"))
      },
      Some(s"""$htmlFeaturesSql,
             |cls AS (SELECT doc_id, fs,
             |  list_filter(fs, f -> f.nt >= 5 AND f.nl * 3 <= f.nt AND f.ns * 40 >= f.nt) AS good
             |  FROM feat)
             |SELECT doc_id,
             |  CAST(len(fs) AS BIGINT) AS n_blocks,
             |  CAST(len(good) AS BIGINT) AS n_good,
             |  CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
             |         list_transform(good, f -> CAST(f.nt AS BIGINT))),
             |       (a, b) -> a + b) AS BIGINT) AS n_tok_kept,
             |  md5(coalesce(array_to_string(list_transform(good, f -> f.txt), ' '), ''))
             |    AS main_md5
             |FROM cls ORDER BY doc_id""".stripMargin)),

    // x35 — x34 plus jusText's CONTEXT-PROPAGATION pass (the smoothing step
    // the base classifier skips): near-good blocks (1 ≤ nt < 5, zero anchor
    // tokens) are promoted when both immediate neighbors are base-good —
    // headers and one-line connectors between real paragraphs survive,
    // short chrome wedged against boilerplate stays dropped. The fixture's
    // variant-2 '<p>ok</p>' sits between the two real paragraphs, so it is
    // PROMOTED here and dropped by x34 — the differential the two queries
    // pin. Neighbor lookups are array indexing inside one transform: still
    // zero-shuffle, one map-side scan.
    Q("x35_html_extract_smoothed",
      (s, d) => {
        import graft.pipeline.HtmlExtract
        val html = HtmlExtract.htmlize(col("doc_id"), col("text"))
        Tables(s, d, "documents")
          .select(col("doc_id"), html.as("html"))
          .select(col("doc_id"), HtmlExtract.blockFeatures(col("html")).as("fs"))
          .select(col("doc_id"),
            size(filter(col("fs"), f => HtmlExtract.isGood(f)))
              .cast("long").as("n_good_base"),
            size(filter(HtmlExtract.smoothedBlocks(col("fs")),
              b => b.getField("keep") && !b.getField("base")))
              .cast("long").as("n_promoted"),
            md5(HtmlExtract.mainContentSmoothed(col("fs"))).as("main_md5"))
          .orderBy(col("doc_id"))
      },
      Some(s"""$htmlFeaturesSql,
             |gd AS (SELECT doc_id, fs,
             |  list_transform(fs, f -> f.nt >= 5 AND f.nl * 3 <= f.nt AND f.ns * 40 >= f.nt) AS g
             |  FROM feat),
             |sm AS (SELECT doc_id,
             |  list_transform(fs, (f, i) -> struct_pack(
             |    txt := f.txt,
             |    base := g[i],
             |    keep := g[i] OR (f.nt >= 1 AND f.nt < 5 AND f.nl = 0
             |                     AND i > 1 AND i < len(fs)
             |                     AND g[i - 1] AND g[i + 1]))) AS sb
             |  FROM gd)
             |SELECT doc_id,
             |  CAST(len(list_filter(sb, b -> b.base)) AS BIGINT) AS n_good_base,
             |  CAST(len(list_filter(sb, b -> b.keep AND NOT b.base)) AS BIGINT) AS n_promoted,
             |  md5(coalesce(array_to_string(
             |    list_transform(list_filter(sb, b -> b.keep), b -> b.txt), ' '), ''))
             |    AS main_md5
             |FROM sm ORDER BY doc_id""".stripMargin)),

    // x36 — the web-corpus curation chain END-TO-END with per-stage
    // attribution (the x24 report over the r19 operators): HTML extraction
    // (x34) → duplicate-span removal (d14, over the EXTRACTED corpus) →
    // quality rules on the CLEANED text → exact dedup on the cleaned key →
    // kept. Each doc is attributed to the FIRST stage that drops it, so the
    // report says exactly where a source's mass dies — the yield audit a
    // pipeline owner reads before a training run. Scale shape: extraction
    // is map-side, span removal is d14's keyed shuffles, rules map-side,
    // dedup one window over the cleaned-text key — nothing pairwise.
    Q("x36_curation_from_html",
      (s, d) => {
        import graft.pipeline.HtmlExtract
        // The extracted frame feeds THREE consumers (dupSpanRemoval's span
        // branch, its token join-back, and the attribution join below), and
        // without a cache each re-evaluates the whole htmlize→mainContent
        // regex chain — the r21 plan showed 9 parquet scans each re-running
        // the extraction (the optimizer cannot share subtrees across join
        // branches). One serialized cache makes extraction a single pass;
        // Bench/Verify release it via Caches.unpersistAll() after the run.
        val ext = graft.Caches.track(
          Tables(s, d, "documents")
            .select(col("doc_id"), col("source"),
              HtmlExtract.htmlize(col("doc_id"), col("text")).as("html"))
            .select(col("doc_id"), col("source"),
              HtmlExtract.mainContent(col("html")).as("etext"))
            .withColumn("en", size(TextFunctions.tokens(col("etext")))),
          org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
        val cleanedCols = graft.dedup.Dedup.dupSpanRemoval(
          ext.filter(col("en") > 0), col("doc_id"), col("etext"), k = 8,
          // opt in (r22): etext's lineage is the whole extraction chain —
          // worth one token-array cache; the bare-scan registry d14 opts out
          cacheTokens = true)
        val f = ext.join(
            cleanedCols.select(col("doc_id"), col("n_removed"), col("cleaned")),
            Seq("doc_id"), "left_outer")
          .withColumn("c", coalesce(col("cleaned"), lit("")))
          .withColumn("ctoks", TextFunctions.tokens(col("c")))
          .withColumn("r1", col("en") >= 10)
          .withColumn("r2", !(coalesce(col("n_removed"), lit(0L)) * 2 > col("en")))
          .withColumn("r3",
            size(col("ctoks")) >= 10 &&
              size(array_distinct(col("ctoks"))) * 10 >= size(col("ctoks")) * 3)
        val pass = col("r1") && col("r2") && col("r3")
        f.withColumn("rep_id",
            min(when(pass, col("doc_id")))
              .over(Window.partitionBy(md5(col("c")))))
          .withColumn("stage",
            when(!col("r1"), "1_extraction")
              .when(!col("r2"), "2_dup_spans")
              .when(!col("r3"), "3_rules")
              .when(col("doc_id") =!= col("rep_id"), "4_duplicate")
              .otherwise("5_kept"))
          .groupBy(col("source"), col("stage"))
          .agg(count(lit(1)).as("n_docs"))
          .orderBy(col("source"), col("stage"))
      },
      Some(s"""${htmlSegSql("doc_id, source")},
             |ex AS (SELECT doc_id, source,
             |  coalesce(array_to_string(list_transform(list_filter(
             |    list_transform(segs, f -> struct_pack(
             |      txt := f.txt,
             |      nt := len(list_filter(string_split(f.txt, ' '), t -> t <> '')),
             |      nl := f.nl,
             |      ns := len(list_filter(string_split(f.txt, ' '),
             |             t -> t IN ('the','a','of','and','to','in','is','for','on','with'))))),
             |    f -> f.nt >= 5 AND f.nl * 3 <= f.nt AND f.ns * 40 >= f.nt),
             |    f -> f.txt), ' '), '') AS etext
             |  FROM seg),
             |e2 AS (SELECT doc_id, source,
             |              list_filter(string_split(etext, ' '), t -> t <> '') AS etoks
             |       FROM ex),
             |z AS (SELECT doc_id, etoks AS toks, len(etoks) AS n FROM e2 WHERE len(etoks) > 0),
             |sspan AS (SELECT doc_id, n, unnest(range(0, n - 8 + 1)) AS pos, toks
             |          FROM z WHERE n >= 8),
             |sp AS (SELECT doc_id, pos,
             |              array_to_string(toks[pos + 1 : pos + 8], ' ') AS span
             |       FROM sspan),
             |dup AS (SELECT span FROM sp GROUP BY span HAVING min(doc_id) <> max(doc_id)),
             |rem AS (SELECT DISTINCT doc_id, p FROM
             |        (SELECT sp.doc_id, unnest(range(pos, pos + 8)) AS p
             |         FROM sp JOIN dup USING (span))),
             |remc AS (SELECT doc_id, count(*) AS nrem FROM rem GROUP BY doc_id),
             |posn AS (SELECT doc_id, unnest(range(0, n)) AS p, toks FROM z),
             |kept AS (SELECT doc_id, p, toks[p + 1] AS tok FROM posn
             |         WHERE NOT EXISTS (SELECT 1 FROM rem
             |                           WHERE rem.doc_id = posn.doc_id
             |                             AND rem.p = posn.p)),
             |ka AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY p) AS cleaned
             |       FROM kept GROUP BY doc_id),
             |f AS (SELECT e2.doc_id, e2.source,
             |             len(e2.etoks) >= 10 AS r1,
             |             NOT (coalesce(remc.nrem, 0) * 2 > len(e2.etoks)) AS r2,
             |             coalesce(ka.cleaned, '') AS c
             |      FROM e2
             |      LEFT JOIN remc ON e2.doc_id = remc.doc_id
             |      LEFT JOIN ka ON e2.doc_id = ka.doc_id),
             |f2 AS (SELECT *,
             |              list_filter(string_split(c, ' '), t -> t <> '') AS ctoks
             |       FROM f),
             |f3 AS (SELECT doc_id, source, r1, r2, c,
             |              (len(ctoks) >= 10 AND
             |               len(list_distinct(ctoks)) * 10 >= len(ctoks) * 3) AS r3
             |       FROM f2),
             |g AS (SELECT *, min(CASE WHEN r1 AND r2 AND r3 THEN doc_id END)
             |               OVER (PARTITION BY md5(c)) AS rep_id
             |      FROM f3)
             |SELECT source,
             |       CASE WHEN NOT r1 THEN '1_extraction'
             |            WHEN NOT r2 THEN '2_dup_spans'
             |            WHEN NOT r3 THEN '3_rules'
             |            WHEN doc_id <> rep_id THEN '4_duplicate'
             |            ELSE '5_kept' END AS stage,
             |       count(*) AS n_docs
             |FROM g GROUP BY 1, 2 ORDER BY source, stage""".stripMargin))
  )
}
