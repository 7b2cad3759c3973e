package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables
import graft.dedup.{Dedup, MinHashDedup, SimHashDedup}
import graft.functions.HashFunctions

/** Deduplication — SURVEY.md §2.6 (D1, D2) + the LLM-pipeline dedup family:
  * exact content-key dedup (the reference's defining op), n-gram Jaccard
  * near-dup, MinHash-LSH and SimHash candidates.
  *
  * Oracle pairing: exact dedup and Jaccard are bit-deterministic and DuckDB-
  * mirrored. MinHash/SimHash depend on xxhash64 (no DuckDB equivalent) so
  * they get the rows-only check here + exact-recall assertions in scalatest.
  *
  * Scale posture: Jaccard/MinHash candidate generation is *blocked* (here by
  * (lang, source); generally by LSH band buckets) so the pair space is
  * quadratic only within a block, never globally — the difference between
  * O(n²) and feasible at 100 TB.
  */
object DedupQueries extends QueryGroup {

  /** Dense near-dup fixture (r15 verdict #3: the containment/prefix oracles
    * verified on 1 pair at sf0.01 — a 1-row hash match can't catch tie-break
    * or boundary regressions): `documents` UNION'd with deterministic
    * 90%-token-prefix copies of every 31st doc (copy id = doc_id + max(doc_id)
    * + 1 — derived from the corpus, r16 ADVICE: a fixed 1e6 offset would
    * collide with real doc_ids at SFs where doc_id ≥ 1e6, and both engines
    * would compute the collision identically, so the oracle gate would stay
    * green while the pair semantics silently broke; same lang/source so the
    * copy pairs with its original inside the blocking). Truncation at a
    * token boundary makes the copy's bigram set
    * an exact SUBSET of the original's, so each copy contributes a pair with
    * containment 1.0 and Jaccard ≈ 0.9 — ~17 crafted pairs at 500 docs on
    * top of whatever natural pairs exist, at every SF. Both engines derive
    * the copies from the same parquet rows with the same integer arithmetic
    * (keep n − ⌊n/10⌋ tokens), so the augmented input is oracle-safe.
    */
  private[graft] def denseDocs(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    val docs = Tables(s, d, "documents")
      .select(col("doc_id"), col("lang"), col("source"), col("text"))
    // exact integer arithmetic in both engines; the DuckDB mirror uses the
    // equivalent scalar subquery (max over one pruned parquet column —
    // footer-stat cheap next to any pair join downstream)
    val offset = docs.agg(max(col("doc_id"))).head().getLong(0) + 1L
    val copies = docs.filter(col("doc_id") % 31 === 1)
      .withColumn("__toks", expr("filter(split(text, ' '), t -> t != '')"))
      .select((col("doc_id") + offset).as("doc_id"), col("lang"),
        col("source"),
        array_join(expr("slice(__toks, 1, size(__toks) - " +
          "cast(floor(size(__toks) / 10.0) as int))"), " ").as("text"))
    docs.unionByName(copies)
  }

  /** DuckDB mirror of [[denseDocs]] as a CTE body (binds `dense`). */
  private val denseSql: String =
    """dense AS (
      |  SELECT doc_id, lang, source, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + (SELECT max(doc_id) + 1 FROM documents) AS doc_id,
      |         lang, source,
      |         array_to_string(
      |           toks[1 : len(toks) - CAST(floor(len(toks) / 10.0) AS INT)],
      |           ' ') AS text
      |  FROM (SELECT doc_id, lang, source,
      |               list_filter(string_split(text, ' '), t -> t <> '') AS toks
      |        FROM documents WHERE doc_id % 31 = 1))""".stripMargin

  /** Shared DuckDB mirror of the md5-family minhash-LSH pipeline over
    * `documents`: shingle -> md5-fold -> 64-hash signature -> 8-band string
    * keys -> candidate pairs -> estimated Jaccard. CTE chain binding `est`
    * (da, db, est_jaccard; da < db; threshold NOT yet applied). Used by
    * d2_minhash_md5 / i3_incremental_minhash / d13_incremental_minhash —
    * the three queries differ only in their final SELECT.
    */
  private val md5LshEstSql: String =
    """tk AS (
             |  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS toks
             |  FROM documents),
             |sh AS (
             |  SELECT DISTINCT doc_id, term FROM (
             |    SELECT doc_id,
             |           unnest(CASE WHEN len(toks) >= 3
             |             THEN list_transform(generate_series(1, len(toks) - 2),
             |                  i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
             |             ELSE [] END) AS term
             |    FROM tk)),
             |hv AS (
             |  SELECT doc_id, list(CAST(('0x' || substr(md5(term), 1, 15)) AS BIGINT) % 2147483647) AS hs
             |  FROM sh GROUP BY 1),
             |sigs AS (
             |  SELECT t.doc_id,
             |         list_transform(generate_series(0, 63), i -> coalesce(
             |           list_min(list_transform(h.hs,
             |             v -> (v * ((i * 2654435761) % 1048573 + 1) + i * 40503) % 2147483647)),
             |           2147483647)) AS sig
             |  FROM tk t LEFT JOIN hv h USING (doc_id)),
             |banded AS (
             |  SELECT doc_id, b AS band,
             |         list_aggregate(list_transform(sig[b*8+1 : b*8+8],
             |           v -> CAST(v AS VARCHAR)), 'string_agg', ',') AS band_hash
             |  FROM sigs, (SELECT unnest(generate_series(0, 7)) AS b)),
             |cand AS (
             |  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
             |  FROM banded a JOIN banded b
             |    ON a.band = b.band AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id),
             |est AS (
             |  SELECT da, db,
             |         round(CAST(len(list_filter(generate_series(1, 64),
             |           k -> sa.sig[k] = sb.sig[k])) AS DOUBLE) / 64, 6) AS est_jaccard
             |  FROM cand
             |  JOIN sigs sa ON sa.doc_id = cand.da
             |  JOIN sigs sb ON sb.doc_id = cand.db)""".stripMargin

  def all: Seq[Q] = Seq(

    // D1 — exact dedup by content key: one surviving representative (min
    // event_id) per id, duplicate count preserved. Mirrors ES upsert-by-id.
    Q("d1_exact_dedup",
      (s, d) => Tables(s, d, "events")
        .withColumn("id",
          HashFunctions.contentKey(col("user_id"), col("event_type"), col("props")))
        .groupBy(col("id"))
        .agg(min(col("event_id")).as("keep_event_id"), count(lit(1)).as("n_dups"))
        .orderBy(col("id")),
      Some("""SELECT md5(concat_ws('|', CAST(user_id AS VARCHAR), event_type, props)) AS id,
             |       min(event_id) AS keep_event_id, count(*) AS n_dups
             |FROM events
             |GROUP BY 1 ORDER BY id""".stripMargin)),

    // D2 — n-gram (bigram-shingle) Jaccard near-dup pairs, blocked by
    // (lang, source). jaccard = |A∩B| / (|A|+|B|-|A∩B|) on distinct shingle
    // sets — a ratio of exact integers, so the threshold is
    // engine-independent. Shingles (vs unigrams) both sharpen the dup signal
    // and keep posting lists sparse, bounding the candidate join.
    // This is the TRUTH DEFINITION of the pair family (full Σ df² postings
    // pair stream — benchExcluded; d2_jaccard_prefix is the benched scale
    // twin). Since r17 it runs on the SAME dense fixture at the SAME t=0.8
    // under the SAME oracle text as the prefix twin (r16 verdict #6: it was
    // the last thin oracle, 1 verified pair at sf0.01) — so baseline-vs-
    // prefix family equality is gated on 18 pairs END TO END by DuckDB, not
    // just by DedupFacadeSpec's in-engine set equality (which still pins
    // t=0.5, the weaker pruning point, on the natural corpus).
    Q("d2_jaccard_neardup",
      (s, d) => graft.dedup.Dedup.jaccardPairs(
          denseDocs(s, d), col("doc_id"), col("text"), 0.8,
          Seq(col("lang"), col("source")))
        .select(col("da"), col("db"), round(col("jaccard"), 6).as("jaccard"))
        .orderBy(col("da"), col("db")),
      Some(s"""WITH $denseSql,
             |tk AS (
             |  SELECT doc_id, lang, source,
             |         list_filter(string_split(text, ' '), t -> t <> '') AS toks
             |  FROM dense),
             |tokd AS (
             |  SELECT DISTINCT doc_id, lang, source, term
             |  FROM (SELECT doc_id, lang, source,
             |               unnest(CASE WHEN len(toks) >= 2
             |                 THEN list_transform(generate_series(1, len(toks) - 1),
             |                                     i -> toks[i] || ' ' || toks[i + 1])
             |                 ELSE [] END) AS term
             |        FROM tk)),
             |sizes AS (SELECT doc_id, count(*) AS sz FROM tokd GROUP BY 1),
             |inter AS (
             |  SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS i
             |  FROM tokd a JOIN tokd b
             |    ON a.term = b.term AND a.lang = b.lang AND a.source = b.source
             |   AND a.doc_id < b.doc_id
             |  GROUP BY 1, 2)
             |SELECT da, db,
             |       round(CAST(i AS DOUBLE) / (sa.sz + sb.sz - i), 6) AS jaccard
             |FROM inter
             |JOIN sizes sa ON sa.doc_id = da
             |JOIN sizes sb ON sb.doc_id = db
             |WHERE CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) >= 0.8
             |ORDER BY da, db""".stripMargin)),

    // D2 prefix-filtered twin — same oracle SHAPE as d2_jaccard_neardup at
    // the technique's DESIGN POINT t=0.8: exact AllPairs prefix filtering
    // (Bayardo et al. 2007) indexes only each doc's (sz − ⌈t·sz⌉ + 1)
    // rarest n-grams — ~sz/5 at t=0.8, where the pruning actually bites;
    // at t=0.5 the prefix is sz/2+1 and the candidate join degenerates
    // toward the full postings pair space on this low-entropy fixture
    // (BASELINE.md r13 boundary note; bench medians 4-12 s vs ~2 s here).
    // Candidates are verified with an exact array intersect, so the result
    // is the exact J≥0.8 pair set — no recall loss. Equality with the
    // postings baseline is ALSO pinned in DedupFacadeSpec (at t=0.5, the
    // weaker point); here the hash gate pins t=0.8 against DuckDB directly.
    // Input is [[denseDocs]] (r15 verdict #3): the natural corpus has ONE
    // J≥0.8 pair at sf0.01, too thin a gate for tie-break/boundary
    // regressions; the crafted 90%-prefix copies raise it to ~18 pairs
    // while keeping t=0.8 — the design point where prefix pruning bites.
    Q("d2_jaccard_prefix",
      (s, d) => graft.dedup.Dedup.jaccardPairsPrefix(
          denseDocs(s, d), col("doc_id"), col("text"), 0.8,
          Seq(col("lang"), col("source")))
        .select(col("da"), col("db"), round(col("jaccard"), 6).as("jaccard"))
        .orderBy(col("da"), col("db")),
      Some(s"""WITH $denseSql,
             |tk AS (
             |  SELECT doc_id, lang, source,
             |         list_filter(string_split(text, ' '), t -> t <> '') AS toks
             |  FROM dense),
             |tokd AS (
             |  SELECT DISTINCT doc_id, lang, source, term
             |  FROM (SELECT doc_id, lang, source,
             |               unnest(CASE WHEN len(toks) >= 2
             |                 THEN list_transform(generate_series(1, len(toks) - 1),
             |                                     i -> toks[i] || ' ' || toks[i + 1])
             |                 ELSE [] END) AS term
             |        FROM tk)),
             |sizes AS (SELECT doc_id, count(*) AS sz FROM tokd GROUP BY 1),
             |inter AS (
             |  SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS i
             |  FROM tokd a JOIN tokd b
             |    ON a.term = b.term AND a.lang = b.lang AND a.source = b.source
             |   AND a.doc_id < b.doc_id
             |  GROUP BY 1, 2)
             |SELECT da, db,
             |       round(CAST(i AS DOUBLE) / (sa.sz + sb.sz - i), 6) AS jaccard
             |FROM inter
             |JOIN sizes sa ON sa.doc_id = da
             |JOIN sizes sb ON sb.doc_id = db
             |WHERE CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) >= 0.8
             |ORDER BY da, db""".stripMargin)),

    // D2 — MinHash+LSH candidate pairs, engine default (xxhash64 shingle
    // fold; rows-only since DuckDB has no xxhash64 — recall vs exact Jaccard
    // asserted in MinHashDedupSpec).
    Q("d2_minhash_lsh",
      (s, d) => MinHashDedup.candidatePairs(
        Tables(s, d, "documents"), col("doc_id"), col("text"))
        .orderBy(col("da"), col("db")),
      None),

    // D2 — the SAME shingle → minhash → band → bucket-join → estimate
    // pipeline with the md5 hash family and string band keys, fully
    // mirrored in DuckDB: the flagship LLM-dedup op under the hash gate.
    Q("d2_minhash_md5",
      (s, d) => MinHashDedup.candidatePairsMd5(
        Tables(s, d, "documents"), col("doc_id"), col("text"))
        .orderBy(col("da"), col("db")),
      Some(s"""WITH $md5LshEstSql
             |SELECT da, db, est_jaccard FROM est
             |WHERE est_jaccard >= 0.5
             |ORDER BY da, db""".stripMargin)),

    // D2/I — INCREMENTAL near-dup, the append-only production shape: a new
    // batch's signatures banded against an existing signature STORE plus
    // themselves — the corpus is never re-paired against itself. Parity
    // split: even doc_ids are the store (pre-computed md5 signatures), odd
    // doc_ids are the arriving batch. Because newBands ⊆ allBands under the
    // same band key, the result is EXACTLY the full corpus's md5-LSH pairs
    // restricted to pairs involving ≥1 new doc — which is what the oracle
    // computes (the d2_minhash_md5 pipeline + that restriction).
    Q("i3_incremental_minhash",
      (s, d) => {
        val docs = Tables(s, d, "documents")
        val store = graft.Caches.track(
          docs.filter(pmod(col("doc_id"), lit(2)) === 0)
            .select(col("doc_id"), MinHashDedup.signatureMd5(col("text")).as("sig")))
        Dedup.incrementalMinhashPairsMd5(
          docs.filter(pmod(col("doc_id"), lit(2)) === 1),
          col("doc_id"), col("text"), store)
          .orderBy(col("da"), col("db"))
      },
      Some(s"""WITH $md5LshEstSql
             |SELECT da, db, est_jaccard FROM est
             |WHERE est_jaccard >= 0.5 AND (da % 2 = 1 OR db % 2 = 1)
             |ORDER BY da, db""".stripMargin)),

    // D13 — incremental near-dup against a PERSISTED signature index (r17
    // verdict #4, the reference's own semantics: logbot_roundrobin.py:50-54
    // dedups new messages against everything ES already holds). The store
    // (even doc_ids) is written to parquet in BOTH forms — (doc_id, sig)
    // and the banded (doc_id, band, band_hash) — and the arriving batch
    // (odd doc_ids) is deduped against the DISK copy via
    // Dedup.incrementalMinhashPairsBandedMd5: the existing corpus is never
    // re-shingled, re-hashed, or re-banded (cost ∝ batch, measured by
    // ScaleProbe's d13_incremental_shape), and the output is the
    // per-new-doc duplicate report (new_id, dup_of = min partner,
    // n_partners, best_est) — the decision row a curation pipeline acts on.
    // The oracle recomputes the FULL corpus md5-LSH pairs and restricts to
    // pairs involving a new doc: equality holds because newBands ⊆ allBands
    // under the same band key (the i3 argument), and here the index
    // additionally round-trips through parquet under the same hash.
    Q("d13_incremental_minhash",
      (s, d) => {
        val docs = Tables(s, d, "documents")
        // memory-backed when available (k1 precedent, r22): the gate checks
        // the index's parquet round-trip CONTENT, not tmpdir disk latency —
        // a disk-backed store measured a 21.8 s first rep on a loaded
        // window against a 4.6 s quiet median
        val idx = graft.Harness.scratch("graft_mhidx", d,
          graft.sinks.EsShapedSink.scratchRoot)
        docs.filter(pmod(col("doc_id"), lit(2)) === 0)
          .select(col("doc_id"), MinHashDedup.signatureMd5(col("text")).as("sig"))
          .write.mode("overwrite").parquet(s"$idx/sigs")
        MinHashDedup.banded(s.read.parquet(s"$idx/sigs"), 64, 8,
            MinHashDedup.stringBandKey)
          .write.mode("overwrite").parquet(s"$idx/bands")
        val pairs = Dedup.incrementalMinhashPairsBandedMd5(
          docs.filter(pmod(col("doc_id"), lit(2)) === 1),
          col("doc_id"), col("text"),
          s.read.parquet(s"$idx/sigs"), s.read.parquet(s"$idx/bands"))
        val oriented = pairs.filter(pmod(col("da"), lit(2)) === 1)
            .select(col("da").as("new_id"), col("db").as("partner"),
              col("est_jaccard"))
          .unionByName(pairs.filter(pmod(col("db"), lit(2)) === 1)
            .select(col("db").as("new_id"), col("da").as("partner"),
              col("est_jaccard")))
        oriented.groupBy(col("new_id"))
          .agg(min(col("partner")).as("dup_of"),
            count(lit(1)).as("n_partners"),
            max(col("est_jaccard")).as("best_est"))
          .orderBy(col("new_id"))
      },
      Some(s"""WITH $md5LshEstSql,
             |np AS (
             |  SELECT da AS new_id, db AS partner, est_jaccard
             |  FROM est WHERE est_jaccard >= 0.5 AND da % 2 = 1
             |  UNION ALL
             |  SELECT db AS new_id, da AS partner, est_jaccard
             |  FROM est WHERE est_jaccard >= 0.5 AND db % 2 = 1)
             |SELECT new_id, min(partner) AS dup_of, count(*) AS n_partners,
             |       max(est_jaccard) AS best_est
             |FROM np GROUP BY new_id ORDER BY new_id""".stripMargin)),

    // D3 — cluster formation: connected components over the Jaccard
    // candidate-pair graph, min-id representative per cluster — the step
    // every near-dup pipeline runs after pair generation. Spark side is
    // iterative min-label propagation (Dedup.components); the oracle closes
    // the same graph with a recursive CTE. Deterministic because the
    // converged label is the component's min doc id.
    Q("d3_dedup_groups",
      (s, d) => {
        val docs = Tables(s, d, "documents")
        val pairs = graft.dedup.Dedup.jaccardPairs(
          docs, col("doc_id"), col("text"), 0.5,
          Seq(col("lang"), col("source")))
        graft.dedup.Dedup.dedupGroups(docs, col("doc_id"), pairs)
          .orderBy(col("doc_id"))
      },
      Some("""WITH RECURSIVE
             |tk AS (
             |  SELECT doc_id, lang, source,
             |         list_filter(string_split(text, ' '), t -> t <> '') AS toks
             |  FROM documents),
             |tokd AS (
             |  SELECT DISTINCT doc_id, lang, source, term
             |  FROM (SELECT doc_id, lang, source,
             |               unnest(CASE WHEN len(toks) >= 2
             |                 THEN list_transform(generate_series(1, len(toks) - 1),
             |                                     i -> toks[i] || ' ' || toks[i + 1])
             |                 ELSE [] END) AS term
             |        FROM tk)),
             |sizes AS (SELECT doc_id, count(*) AS sz FROM tokd GROUP BY 1),
             |inter AS (
             |  SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS i
             |  FROM tokd a JOIN tokd b
             |    ON a.term = b.term AND a.lang = b.lang AND a.source = b.source
             |   AND a.doc_id < b.doc_id
             |  GROUP BY 1, 2),
             |pairs AS (
             |  SELECT da, db
             |  FROM inter
             |  JOIN sizes sa ON sa.doc_id = da
             |  JOIN sizes sb ON sb.doc_id = db
             |  WHERE CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) >= 0.5),
             |edges AS (SELECT da AS a, db AS b FROM pairs
             |          UNION ALL SELECT db, da FROM pairs),
             |reach(node, r) AS (
             |  SELECT doc_id, doc_id FROM documents
             |  UNION
             |  SELECT reach.node, edges.b FROM reach JOIN edges ON reach.r = edges.a)
             |SELECT node AS doc_id, min(r) AS comp, (min(r) = node) AS is_rep
             |FROM reach GROUP BY node ORDER BY doc_id""".stripMargin)),

    // D3 — the SCALE-SAFE end-to-end pipeline: connected components over the
    // MinHash-LSH candidate pairs (md5 family, oracle-mirrored) instead of
    // the quadratic-within-block Jaccard pairs. This is the exact composition
    // that runs at 100 TB — banded LSH confines the pair join to buckets, so
    // pair work stays linear in corpus size — now under the same
    // recursive-CTE oracle as d3_dedup_groups.
    Q("d3_dedup_groups_lsh",
      (s, d) => {
        val docs = Tables(s, d, "documents")
        val pairs = graft.dedup.Dedup.minhashPairsMd5(
          docs, col("doc_id"), col("text"))
        graft.dedup.Dedup.dedupGroups(docs, col("doc_id"), pairs)
          .orderBy(col("doc_id"))
      },
      Some("""WITH RECURSIVE
             |tk AS (
             |  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS toks
             |  FROM documents),
             |sh AS (
             |  SELECT DISTINCT doc_id, term FROM (
             |    SELECT doc_id,
             |           unnest(CASE WHEN len(toks) >= 3
             |             THEN list_transform(generate_series(1, len(toks) - 2),
             |                  i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
             |             ELSE [] END) AS term
             |    FROM tk)),
             |hv AS (
             |  SELECT doc_id, list(CAST(('0x' || substr(md5(term), 1, 15)) AS BIGINT) % 2147483647) AS hs
             |  FROM sh GROUP BY 1),
             |sigs AS (
             |  SELECT t.doc_id,
             |         list_transform(generate_series(0, 63), i -> coalesce(
             |           list_min(list_transform(h.hs,
             |             v -> (v * ((i * 2654435761) % 1048573 + 1) + i * 40503) % 2147483647)),
             |           2147483647)) AS sig
             |  FROM tk t LEFT JOIN hv h USING (doc_id)),
             |banded AS (
             |  SELECT doc_id, b AS band,
             |         list_aggregate(list_transform(sig[b*8+1 : b*8+8],
             |           v -> CAST(v AS VARCHAR)), 'string_agg', ',') AS band_hash
             |  FROM sigs, (SELECT unnest(generate_series(0, 7)) AS b)),
             |cand AS (
             |  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
             |  FROM banded a JOIN banded b
             |    ON a.band = b.band AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id),
             |pairs AS (
             |  SELECT da, db
             |  FROM cand
             |  JOIN sigs sa ON sa.doc_id = cand.da
             |  JOIN sigs sb ON sb.doc_id = cand.db
             |  WHERE CAST(len(list_filter(generate_series(1, 64),
             |          k -> sa.sig[k] = sb.sig[k])) AS DOUBLE) / 64 >= 0.5),
             |edges AS (SELECT da AS a, db AS b FROM pairs
             |          UNION ALL SELECT db, da FROM pairs),
             |reach(node, r) AS (
             |  SELECT doc_id, doc_id FROM documents
             |  UNION
             |  SELECT reach.node, edges.b FROM reach JOIN edges ON reach.r = edges.a)
             |SELECT node AS doc_id, min(r) AS comp, (min(r) = node) AS is_rep
             |FROM reach GROUP BY node ORDER BY doc_id""".stripMargin)),

    // D5 — the dedup APPLIED: the surviving corpus after LSH near-dup
    // clustering (keep each cluster's min-id representative, full rows).
    // This is the frame a training run reads — the end product of the
    // pair→cluster→filter pipeline, under the same recursive-CTE oracle.
    Q("d5_dedup_apply",
      (s, d) => {
        val docs = Tables(s, d, "documents")
        val pairs = graft.dedup.Dedup.minhashPairsMd5(
          docs, col("doc_id"), col("text"))
        graft.dedup.Dedup.keepRepresentatives(docs, col("doc_id"), pairs)
          .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH RECURSIVE
             |tk AS (
             |  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS toks
             |  FROM documents),
             |sh AS (
             |  SELECT DISTINCT doc_id, term FROM (
             |    SELECT doc_id,
             |           unnest(CASE WHEN len(toks) >= 3
             |             THEN list_transform(generate_series(1, len(toks) - 2),
             |                  i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
             |             ELSE [] END) AS term
             |    FROM tk)),
             |hv AS (
             |  SELECT doc_id, list(CAST(('0x' || substr(md5(term), 1, 15)) AS BIGINT) % 2147483647) AS hs
             |  FROM sh GROUP BY 1),
             |sigs AS (
             |  SELECT t.doc_id,
             |         list_transform(generate_series(0, 63), i -> coalesce(
             |           list_min(list_transform(h.hs,
             |             v -> (v * ((i * 2654435761) % 1048573 + 1) + i * 40503) % 2147483647)),
             |           2147483647)) AS sig
             |  FROM tk t LEFT JOIN hv h USING (doc_id)),
             |banded AS (
             |  SELECT doc_id, b AS band,
             |         list_aggregate(list_transform(sig[b*8+1 : b*8+8],
             |           v -> CAST(v AS VARCHAR)), 'string_agg', ',') AS band_hash
             |  FROM sigs, (SELECT unnest(generate_series(0, 7)) AS b)),
             |cand AS (
             |  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
             |  FROM banded a JOIN banded b
             |    ON a.band = b.band AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id),
             |pairs AS (
             |  SELECT da, db
             |  FROM cand
             |  JOIN sigs sa ON sa.doc_id = cand.da
             |  JOIN sigs sb ON sb.doc_id = cand.db
             |  WHERE CAST(len(list_filter(generate_series(1, 64),
             |          k -> sa.sig[k] = sb.sig[k])) AS DOUBLE) / 64 >= 0.5),
             |edges AS (SELECT da AS a, db AS b FROM pairs
             |          UNION ALL SELECT db, da FROM pairs),
             |reach(node, r) AS (
             |  SELECT doc_id, doc_id FROM documents
             |  UNION
             |  SELECT reach.node, edges.b FROM reach JOIN edges ON reach.r = edges.a)
             |SELECT d.doc_id, d.lang, d.source, d.n_chars
             |FROM documents d
             |JOIN (SELECT node FROM reach GROUP BY node HAVING min(r) = node) k
             |  ON k.node = d.doc_id
             |ORDER BY d.doc_id""".stripMargin)),

    // D10 — dedup YIELD report: the cluster-size histogram + removal count
    // every dedup run reports before anyone commits to dropping data (how
    // much of the corpus is duplicated, and in how large families). Rides
    // d3's components; the aggregation on top is two tiny keyed groupBys
    // over one row per cluster — free at any scale next to the pair stage.
    Q("d10_dedup_yield",
      (s, d) => {
        val docs = Tables(s, d, "documents")
        val pairs = graft.dedup.Dedup.jaccardPairs(
          docs, col("doc_id"), col("text"), 0.5,
          Seq(col("lang"), col("source")))
        graft.dedup.Dedup.dedupGroups(docs, col("doc_id"), pairs)
          .groupBy(col("comp")).agg(count(lit(1)).as("sz"))
          .groupBy(col("sz")).agg(count(lit(1)).as("n_clusters"))
          .select(col("sz").as("cluster_size"), col("n_clusters"),
            (col("sz") * col("n_clusters")).as("n_docs"),
            ((col("sz") - 1) * col("n_clusters")).as("n_removed"))
          .orderBy(col("sz"))
      },
      Some("""WITH RECURSIVE
             |tk AS (
             |  SELECT doc_id, lang, source,
             |         list_filter(string_split(text, ' '), t -> t <> '') AS toks
             |  FROM documents),
             |tokd AS (
             |  SELECT DISTINCT doc_id, lang, source, term
             |  FROM (SELECT doc_id, lang, source,
             |               unnest(CASE WHEN len(toks) >= 2
             |                 THEN list_transform(generate_series(1, len(toks) - 1),
             |                                     i -> toks[i] || ' ' || toks[i + 1])
             |                 ELSE [] END) AS term
             |        FROM tk)),
             |sizes AS (SELECT doc_id, count(*) AS sz FROM tokd GROUP BY 1),
             |inter AS (
             |  SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS i
             |  FROM tokd a JOIN tokd b
             |    ON a.term = b.term AND a.lang = b.lang AND a.source = b.source
             |   AND a.doc_id < b.doc_id
             |  GROUP BY 1, 2),
             |pairs AS (
             |  SELECT da, db
             |  FROM inter
             |  JOIN sizes sa ON sa.doc_id = da
             |  JOIN sizes sb ON sb.doc_id = db
             |  WHERE CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) >= 0.5),
             |edges AS (SELECT da AS a, db AS b FROM pairs
             |          UNION ALL SELECT db, da FROM pairs),
             |reach(node, r) AS (
             |  SELECT doc_id, doc_id FROM documents
             |  UNION
             |  SELECT reach.node, edges.b FROM reach JOIN edges ON reach.r = edges.a),
             |comp AS (SELECT node, min(r) AS comp FROM reach GROUP BY node),
             |cs AS (SELECT comp, count(*) AS sz FROM comp GROUP BY 1),
             |h AS (SELECT sz, count(*) AS n_clusters FROM cs GROUP BY 1)
             |SELECT sz AS cluster_size, n_clusters,
             |       sz * n_clusters AS n_docs,
             |       (sz - 1) * n_clusters AS n_removed
             |FROM h ORDER BY sz""".stripMargin)),

    // D10-LSH — the same yield report over the BANDED MinHash pair set:
    // the benched scale path (r14 verdict #2 — the quadratic-postings d10
    // above stays the oracle truth definition but leaves the benched set;
    // this twin is what you'd run at 100×, where candidate pairs come from
    // 8×8 band buckets instead of the full Σ df² postings pair space).
    Q("d10_dedup_yield_lsh",
      (s, d) => {
        val docs = Tables(s, d, "documents")
        val pairs = graft.dedup.Dedup.minhashPairsMd5(
          docs, col("doc_id"), col("text"))
        graft.dedup.Dedup.dedupGroups(docs, col("doc_id"), pairs)
          .groupBy(col("comp")).agg(count(lit(1)).as("sz"))
          .groupBy(col("sz")).agg(count(lit(1)).as("n_clusters"))
          .select(col("sz").as("cluster_size"), col("n_clusters"),
            (col("sz") * col("n_clusters")).as("n_docs"),
            ((col("sz") - 1) * col("n_clusters")).as("n_removed"))
          .orderBy(col("sz"))
      },
      Some("""WITH RECURSIVE
             |tk AS (
             |  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS toks
             |  FROM documents),
             |sh AS (
             |  SELECT DISTINCT doc_id, term FROM (
             |    SELECT doc_id,
             |           unnest(CASE WHEN len(toks) >= 3
             |             THEN list_transform(generate_series(1, len(toks) - 2),
             |                  i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
             |             ELSE [] END) AS term
             |    FROM tk)),
             |hv AS (
             |  SELECT doc_id, list(CAST(('0x' || substr(md5(term), 1, 15)) AS BIGINT) % 2147483647) AS hs
             |  FROM sh GROUP BY 1),
             |sigs AS (
             |  SELECT t.doc_id,
             |         list_transform(generate_series(0, 63), i -> coalesce(
             |           list_min(list_transform(h.hs,
             |             v -> (v * ((i * 2654435761) % 1048573 + 1) + i * 40503) % 2147483647)),
             |           2147483647)) AS sig
             |  FROM tk t LEFT JOIN hv h USING (doc_id)),
             |banded AS (
             |  SELECT doc_id, b AS band,
             |         list_aggregate(list_transform(sig[b*8+1 : b*8+8],
             |           v -> CAST(v AS VARCHAR)), 'string_agg', ',') AS band_hash
             |  FROM sigs, (SELECT unnest(generate_series(0, 7)) AS b)),
             |cand AS (
             |  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
             |  FROM banded a JOIN banded b
             |    ON a.band = b.band AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id),
             |pairs AS (
             |  SELECT da, db
             |  FROM cand
             |  JOIN sigs sa ON sa.doc_id = cand.da
             |  JOIN sigs sb ON sb.doc_id = cand.db
             |  WHERE CAST(len(list_filter(generate_series(1, 64),
             |          k -> sa.sig[k] = sb.sig[k])) AS DOUBLE) / 64 >= 0.5),
             |edges AS (SELECT da AS a, db AS b FROM pairs
             |          UNION ALL SELECT db, da FROM pairs),
             |reach(node, r) AS (
             |  SELECT doc_id, doc_id FROM documents
             |  UNION
             |  SELECT reach.node, edges.b FROM reach JOIN edges ON reach.r = edges.a),
             |comp AS (SELECT node, min(r) AS comp FROM reach GROUP BY node),
             |cs AS (SELECT comp, count(*) AS sz FROM comp GROUP BY 1),
             |h AS (SELECT sz, count(*) AS n_clusters FROM cs GROUP BY 1)
             |SELECT sz AS cluster_size, n_clusters,
             |       sz * n_clusters AS n_docs,
             |       (sz - 1) * n_clusters AS n_removed
             |FROM h ORDER BY sz""".stripMargin)),

    // D4 — decontamination: corpus docs sharing ≥5 distinct trigram shingles
    // with the eval/benchmark slice (source src0 stands in for the benchmark
    // set). Exact integer counts — fully oracle-mirrored.
    Q("d4_decontaminate",
      (s, d) => {
        val docs = Tables(s, d, "documents")
        graft.dedup.Dedup.decontaminate(
          docs.filter(col("source") =!= "src0"),
          docs.filter(col("source") === "src0"),
          col("doc_id"), col("text"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH tk AS (
             |  SELECT doc_id, source,
             |         list_filter(string_split(text, ' '), t -> t <> '') AS toks
             |  FROM documents),
             |sh AS (
             |  SELECT DISTINCT doc_id, source, term FROM (
             |    SELECT doc_id, source,
             |           unnest(CASE WHEN len(toks) >= 3
             |             THEN list_transform(generate_series(1, len(toks) - 2),
             |                  i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
             |             ELSE [] END) AS term
             |    FROM tk)),
             |ev AS (SELECT DISTINCT term FROM sh WHERE source = 'src0'),
             |shared AS (
             |  SELECT s.doc_id, count(*) AS n_shared
             |  FROM sh s JOIN ev USING (term)
             |  WHERE s.source <> 'src0'
             |  GROUP BY 1)
             |SELECT d.doc_id,
             |       coalesce(shared.n_shared, 0) AS n_shared,
             |       coalesce(shared.n_shared, 0) >= 5 AS contaminated
             |FROM (SELECT doc_id FROM documents WHERE source <> 'src0') d
             |LEFT JOIN shared USING (doc_id)
             |ORDER BY doc_id""".stripMargin)),

    // D2 — SimHash near-dup candidates (rows-only; hamming properties in
    // SimHashDedupSpec).
    Q("d2_simhash",
      (s, d) => SimHashDedup.signatures(
        Tables(s, d, "documents"), col("doc_id"), col("text"))
        .orderBy(col("doc_id")),
      None),

    // D2 — SimHash signatures with the md5 hash family (60 useful bits),
    // fully DuckDB-mirrored: per-bit majority vote over per-token hashes.
    Q("d2_simhash_md5",
      (s, d) => Tables(s, d, "documents")
        .select(col("doc_id"), SimHashDedup.simhashMd5(col("text")).as("simhash"))
        .orderBy(col("doc_id")),
      Some("""WITH tk AS (
             |  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS toks
             |  FROM documents),
             |hs AS (
             |  SELECT doc_id,
             |         list_transform(toks,
             |           t -> CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT)) AS hs
             |  FROM tk)
             |SELECT doc_id,
             |       list_reduce(list_prepend(CAST(0 AS BIGINT),
             |         list_transform(generate_series(0, 59), j ->
             |           CASE WHEN 2 * list_sum(list_transform(hs, h -> (h >> j) & 1)) > len(hs)
             |                THEN CAST(1 AS BIGINT) << j ELSE CAST(0 AS BIGINT) END)),
             |         (acc, v) -> acc + v) AS simhash
             |FROM hs ORDER BY doc_id""".stripMargin)),

    // D6 — exact duplicate-span coverage (Lee et al. 2021 exact-substring
    // dedup signal at 8-token granularity): per doc, the count and fraction
    // of token positions covered by an 8-token span that occurs verbatim in
    // ANOTHER doc. Everything is integer counts until the single mirrored
    // ratio divide; the span key stays raw text so the whole explode →
    // groupBy → join-back → coverage pipeline is under the hash gate (the
    // engine swap at scale is xxhash64(span) for the key — same plan).
    Q("d6_dup_span",
      (s, d) => Dedup.dupSpanCoverage(
        Tables(s, d, "documents"), col("doc_id"), col("text"), k = 8)
        .orderBy(col("doc_id")),
      Some("""WITH t AS (SELECT doc_id,
             |                  list_filter(string_split(text, ' '), x -> x <> '') AS toks
             |           FROM documents),
             |     z AS (SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) > 0),
             |     s AS (SELECT doc_id, n, unnest(range(0, n - 8 + 1)) AS pos, toks
             |           FROM z WHERE n >= 8),
             |     sp AS (SELECT doc_id, pos,
             |                   array_to_string(toks[pos + 1 : pos + 8], ' ') AS span
             |            FROM s),
             |     dup AS (SELECT span FROM sp GROUP BY span
             |             HAVING min(doc_id) <> max(doc_id)),
             |     cov AS (SELECT doc_id, count(DISTINCT p) AS ndp
             |             FROM (SELECT sp.doc_id, unnest(range(pos, pos + 8)) AS p
             |                   FROM sp JOIN dup USING (span))
             |             GROUP BY doc_id)
             |SELECT z.doc_id, CAST(z.n AS BIGINT) AS n_toks,
             |       CAST(coalesce(cov.ndp, 0) AS BIGINT) AS n_dup_pos,
             |       round(coalesce(cov.ndp, 0) * 1.0 / z.n, 6) AS dup_ratio
             |FROM z LEFT JOIN cov ON z.doc_id = cov.doc_id
             |ORDER BY z.doc_id""".stripMargin)),

    // D14 — duplicate-span REMOVAL (Lee et al. 2021's actual intervention;
    // r18 verdict #3): the actionable twin of d6 — excise every token
    // position covered by an 8-token span that occurs verbatim in another
    // doc, stitch the rest, and emit the cleaned corpus. The cleaned text
    // itself is in the output (x8-redact precedent), so span detection,
    // union-of-positions arithmetic, excision AND stitching order all sit
    // under the hash gate. Same single span-key window shuffle as d6 plus
    // one doc_id-keyed join-back; nothing pairwise.
    Q("d14_dup_span_removal",
      (s, d) => Dedup.dupSpanRemoval(
        Tables(s, d, "documents"), col("doc_id"), col("text"), k = 8)
        .orderBy(col("doc_id")),
      Some("""WITH t AS (SELECT doc_id,
             |                  list_filter(string_split(text, ' '), x -> x <> '') AS toks
             |           FROM documents),
             |     z AS (SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) > 0),
             |     s AS (SELECT doc_id, n, unnest(range(0, n - 8 + 1)) AS pos, toks
             |           FROM z WHERE n >= 8),
             |     sp AS (SELECT doc_id, pos,
             |                   array_to_string(toks[pos + 1 : pos + 8], ' ') AS span
             |            FROM s),
             |     dup AS (SELECT span FROM sp GROUP BY span
             |             HAVING min(doc_id) <> max(doc_id)),
             |     rem AS (SELECT DISTINCT doc_id, p FROM
             |             (SELECT sp.doc_id, unnest(range(pos, pos + 8)) AS p
             |              FROM sp JOIN dup USING (span))),
             |     remc AS (SELECT doc_id, count(*) AS nrem FROM rem GROUP BY doc_id),
             |     posn AS (SELECT doc_id, unnest(range(0, n)) AS p, toks FROM z),
             |     kept AS (SELECT doc_id, p, toks[p + 1] AS tok FROM posn
             |              WHERE NOT EXISTS (SELECT 1 FROM rem
             |                                WHERE rem.doc_id = posn.doc_id
             |                                  AND rem.p = posn.p)),
             |     ka AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY p) AS cleaned
             |            FROM kept GROUP BY doc_id)
             |SELECT z.doc_id, CAST(z.n AS BIGINT) AS n_toks,
             |       CAST(coalesce(remc.nrem, 0) AS BIGINT) AS n_removed,
             |       coalesce(ka.cleaned, '') AS cleaned
             |FROM z LEFT JOIN remc USING (doc_id)
             |LEFT JOIN ka ON z.doc_id = ka.doc_id
             |ORDER BY z.doc_id""".stripMargin)),

    // D15 — MAXIMAL duplicated spans (r19 verdict #7): Lee et al. 2021's
    // actual intervention unit — adjacent/overlapping duplicated k-shingles
    // merged into maximal (doc, span_start, span_len) runs, the span table
    // a 100 TB curation job persists and excises. Same one-window-shuffle
    // plan as d14 up to the per-doc removed set; the island merge is a
    // per-row array expression (zero extra shuffle). The oracle computes
    // the islands independently via gaps-and-islands SQL (p − row_number
    // grouping) — a genuinely different formulation of "maximal run", so
    // agreement gates the merge logic itself. Excision equivalence with
    // d14 (flattened islands ≡ the removed set, byte-identical cleaned
    // text) is pinned in QualitySignalsSpec.
    Q("d15_dup_maximal_spans",
      (s, d) => Dedup.dupMaximalSpans(
        Tables(s, d, "documents"), col("doc_id"), col("text"), k = 8)
        .orderBy(col("doc_id"), col("span_start")),
      Some("""WITH t AS (SELECT doc_id,
             |                  list_filter(string_split(text, ' '), x -> x <> '') AS toks
             |           FROM documents),
             |     z AS (SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) > 0),
             |     s AS (SELECT doc_id, n, unnest(range(0, n - 8 + 1)) AS pos, toks
             |           FROM z WHERE n >= 8),
             |     sp AS (SELECT doc_id, pos,
             |                   array_to_string(toks[pos + 1 : pos + 8], ' ') AS span
             |            FROM s),
             |     dup AS (SELECT span FROM sp GROUP BY span
             |             HAVING min(doc_id) <> max(doc_id)),
             |     rem AS (SELECT DISTINCT doc_id, p FROM
             |             (SELECT sp.doc_id, unnest(range(pos, pos + 8)) AS p
             |              FROM sp JOIN dup USING (span))),
             |     isl AS (SELECT doc_id, p,
             |                    p - row_number() OVER (PARTITION BY doc_id
             |                                           ORDER BY p) AS grp
             |             FROM rem)
             |SELECT doc_id, CAST(min(p) AS BIGINT) AS span_start,
             |       CAST(count(*) AS BIGINT) AS span_len
             |FROM isl GROUP BY doc_id, grp
             |ORDER BY doc_id, span_start""".stripMargin)),

    // D7 — semantic dedup (SemDeDup shape): cluster-assign embeddings to a
    // broadcast seed-centroid set (deterministic L2-then-cid tie-break),
    // then EXACT cosine pairs only within a cluster — the cluster id is the
    // blocking key, so the pair space is cluster-quadratic, never corpus-
    // quadratic (15.5k within-cluster pairs vs 125k all-pairs at sf0.01).
    // The oracle mirrors the full pipeline: assignment ranking, per-side
    // norms, and the fixed float-multiply → double-fold dot.
    Q("d7_semantic_dedup",
      (s, d) => {
        val emb = Tables(s, d, "embeddings")
        val cents = emb.filter(col("vec_id") < 8)
          .select(col("vec_id").as("cid"),
            transform(col("embedding"), _.cast("double")).as("cvec"))
        // Auto-selected posture (r20 verdict #6): exact assignment at this
        // fixture's 8 centroids (below the ivfFromCentroids dial, so the
        // plan — and the oracle hash — is byte-identical to the exact form);
        // IVF-assisted assignment once the codebook crosses the dial.
        graft.similarity.Ann.semanticDedupPairsAuto(
          emb, col("vec_id"), col("embedding"), cents, threshold = 0.4)
          .select(col("cid"), col("va"), col("vb"), round(col("cos"), 6).as("cos"))
          .orderBy(col("cid"), col("va"), col("vb"))
      },
      Some {
        def dot(a: String, b: String): String =
          s"""list_reduce(list_prepend(CAST(0 AS DOUBLE),
             |  list_transform(generate_series(1, len($a)),
             |                 i -> CAST($a[i] * $b[i] AS DOUBLE))),
             |  (acc, v) -> acc + v)""".stripMargin
        s"""WITH c AS (SELECT vec_id AS cid,
           |                  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cvec
           |           FROM embeddings WHERE vec_id < 8),
           |a AS (SELECT cid, vec_id, embedding FROM (
           |  SELECT e.vec_id, c.cid, e.embedding,
           |         row_number() OVER (PARTITION BY e.vec_id ORDER BY
           |           list_reduce(list_prepend(CAST(0 AS DOUBLE),
           |             list_transform(generate_series(1, len(e.embedding)),
           |               i -> (CAST(e.embedding[i] AS DOUBLE) - cvec[i]) *
           |                    (CAST(e.embedding[i] AS DOUBLE) - cvec[i]))),
           |             (x, y) -> x + y) ASC, c.cid) AS rk
           |  FROM embeddings e CROSS JOIN c) WHERE rk = 1),
           |n AS (SELECT cid, vec_id, embedding,
           |             sqrt(${dot("embedding", "embedding")}) AS nrm
           |      FROM a),
           |p AS (SELECT x.cid, x.vec_id AS va, y.vec_id AS vb,
           |             (${dot("x.embedding", "y.embedding")}) / (x.nrm * y.nrm) AS cos_raw
           |      FROM n x JOIN n y ON x.cid = y.cid AND x.vec_id < y.vec_id)
           |SELECT cid, va, vb, round(cos_raw, 6) AS cos
           |FROM p WHERE cos_raw >= 0.4
           |ORDER BY cid, va, vb""".stripMargin
      }),

    // D8 — normalization-keyed exact dedup (the C4/CCNet "fuzzy-exact"
    // stage): lowercase → strip non-alphanumerics → collapse whitespace,
    // then group on the normalized key. Catches the re-hosted/reformatted
    // copies byte-exact d1 misses without paying near-dup LSH for them.
    // Map-side key + ONE groupBy shuffle — d1's scale shape exactly; the
    // key stays text here so the oracle gates the normalization itself
    // (at 100 TB the key would hash to fixed width first, as d1 does).
    Q("d8_normalized_dedup",
      (s, d) => {
        val norm = trim(regexp_replace(
          regexp_replace(lower(col("text")), "[^a-z0-9 ]", " "), " +", " "))
        Tables(s, d, "documents")
          .select(col("doc_id"), norm.as("k"))
          .groupBy(col("k"))
          .agg(min(col("doc_id")).as("keep_doc_id"), count(lit(1)).as("n_dups"))
          .select(col("keep_doc_id"), col("n_dups"), md5(col("k")).as("key_md5"))
          .orderBy(col("keep_doc_id"))
      },
      Some("""WITH n AS (
             |  SELECT doc_id,
             |         trim(regexp_replace(regexp_replace(lower(text),
             |              '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS k
             |  FROM documents)
             |SELECT min(doc_id) AS keep_doc_id, count(*) AS n_dups,
             |       md5(k) AS key_md5
             |FROM n GROUP BY k ORDER BY keep_doc_id""".stripMargin)),

    // D9 — passage-level dedup with reassembly (CCNet's paragraph-hash
    // stage at 32-token granularity): only the globally first occurrence of
    // each passage survives; each doc is reassembled from its surviving
    // passages in original order. The sub-document complement of d1/d2 —
    // kept_md5 gates the reassembled text, so passage slicing, the global
    // first-occurrence choice, AND reassembly order all sit under the hash.
    Q("d9_passage_dedup",
      (s, d) => Dedup.passageDedup(
        Tables(s, d, "documents"), col("doc_id"), col("text"), k = 32)
        .orderBy(col("doc_id")),
      Some("""WITH t AS (SELECT doc_id,
             |                 list_filter(string_split(text, ' '), x -> x <> '') AS toks
             |          FROM documents),
             |z AS (SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) > 0),
             |p AS (SELECT doc_id, unnest(range(0, (n + 31) // 32)) AS pid, toks
             |      FROM z),
             |px AS (SELECT doc_id, pid,
             |              array_to_string(toks[pid * 32 + 1 : pid * 32 + 32], ' ') AS ptext
             |       FROM p),
             |r AS (SELECT doc_id, pid, ptext,
             |             row_number() OVER (PARTITION BY ptext
             |                                ORDER BY doc_id, pid) AS rk
             |      FROM px)
             |SELECT doc_id, count(*) AS n_pass,
             |       count(*) FILTER (WHERE rk = 1) AS n_kept,
             |       md5(coalesce(string_agg(ptext, ' ' ORDER BY pid)
             |                      FILTER (WHERE rk = 1), '')) AS kept_md5
             |FROM r GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // D11 — per-EVAL-doc overlap report, the dual of d4: d4 flags TRAIN
    // docs that leak eval shingles; this audits each EVAL doc ("which
    // benchmarks are burned") — the overlap analysis LLM papers publish
    // next to their decontamination step. Scale shape is the one that
    // matters: the eval shingle set is SMALL by definition, so it
    // broadcasts into a map-side semi against the train shingle stream —
    // the train corpus is scanned once and NEVER shuffled; the only
    // exchange carries matched terms, bounded by the eval vocabulary. The
    // per-doc fraction then rides a broadcast join back over the eval set.
    Q("d11_eval_overlap",
      (s, d) => {
        val docs = Tables(s, d, "documents")
        graft.dedup.Dedup.evalOverlap(
          docs.filter(col("source") =!= "src0"),
          docs.filter(col("source") === "src0"),
          col("doc_id"), col("text"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH tk AS (
             |  SELECT doc_id, source,
             |         list_filter(string_split(text, ' '), t -> t <> '') AS toks
             |  FROM documents),
             |sh AS (
             |  SELECT DISTINCT doc_id, source, term FROM (
             |    SELECT doc_id, source,
             |           unnest(CASE WHEN len(toks) >= 3
             |             THEN list_transform(generate_series(1, len(toks) - 2),
             |                  i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
             |             ELSE [] END) AS term
             |    FROM tk)),
             |tr AS (SELECT DISTINCT term FROM sh WHERE source <> 'src0'),
             |ev AS (SELECT doc_id, term FROM sh WHERE source = 'src0'),
             |agg AS (
             |  SELECT ev.doc_id, count(*) AS n_shingles,
             |         CAST(count(tr.term) AS BIGINT) AS n_matched
             |  FROM ev LEFT JOIN tr USING (term)
             |  GROUP BY 1)
             |SELECT d.doc_id,
             |       CAST(coalesce(agg.n_shingles, 0) AS BIGINT) AS n_shingles,
             |       coalesce(agg.n_matched, 0) AS n_matched,
             |       round(agg.n_matched * 1.0 / nullif(agg.n_shingles, 0), 6) AS overlap_frac,
             |       coalesce(agg.n_matched * 1.0 / nullif(agg.n_shingles, 0) >= 0.1,
             |                FALSE) AS burned
             |FROM (SELECT doc_id FROM documents WHERE source = 'src0') d
             |LEFT JOIN agg USING (doc_id)
             |ORDER BY doc_id""".stripMargin)),

    // D12 — containment near-dup (Broder 1997's asymmetric resemblance,
    // |A∩B|/min(|A|,|B|)): the SUB-DOCUMENT duplication metric — a short
    // doc fully embedded in a long one scores ~1 here while its symmetric
    // Jaccard stays low (union dominated by the long doc). Same exact
    // bigram-postings machinery, blocking, and scale notes as d2; the
    // threshold tests the raw double (one mirrored divide over exact
    // integer counts) and the Jaccard rides along for contrast.
    //
    // This unpruned postings form is the TRUTH DEFINITION: it runs the full
    // Σ df² pair stream and is benchExcluded with its d2/d3/d10 siblings
    // (r15 verdict #1 — it hard-flagged four consecutive driver windows
    // under host contention). The benched scale path is
    // d12_containment_prefix below, same oracle. Input is [[denseDocs]]
    // (verdict #3): each 90%-prefix copy's bigrams are a subset of its
    // original's → containment 1.0, so the gate verifies ~18 pairs instead
    // of 1.
    Q("d12_containment",
      (s, d) => graft.dedup.Dedup.containmentPairs(
          denseDocs(s, d), col("doc_id"), col("text"), 0.6,
          Seq(col("lang"), col("source")))
        .select(col("da"), col("db"), col("i"), col("sa"), col("sb"),
          round(col("containment"), 6).as("containment"),
          round(col("jaccard"), 6).as("jaccard"))
        .orderBy(col("da"), col("db")),
      Some(s"""WITH $denseSql,
             |tk AS (
             |  SELECT doc_id, lang, source,
             |         list_filter(string_split(text, ' '), t -> t <> '') AS toks
             |  FROM dense),
             |tokd AS (
             |  SELECT DISTINCT doc_id, lang, source, term
             |  FROM (SELECT doc_id, lang, source,
             |               unnest(CASE WHEN len(toks) >= 2
             |                 THEN list_transform(generate_series(1, len(toks) - 1),
             |                                     i -> toks[i] || ' ' || toks[i + 1])
             |                 ELSE [] END) AS term
             |        FROM tk)),
             |sizes AS (SELECT doc_id, count(*) AS sz FROM tokd GROUP BY 1),
             |inter AS (
             |  SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS i
             |  FROM tokd a JOIN tokd b
             |    ON a.term = b.term AND a.lang = b.lang AND a.source = b.source
             |   AND a.doc_id < b.doc_id
             |  GROUP BY 1, 2)
             |SELECT da, db, i, sa.sz AS sa, sb.sz AS sb,
             |       round(CAST(i AS DOUBLE) / least(sa.sz, sb.sz), 6)
             |         AS containment,
             |       round(CAST(i AS DOUBLE) / (sa.sz + sb.sz - i), 6) AS jaccard
             |FROM inter
             |JOIN sizes sa ON sa.doc_id = da
             |JOIN sizes sb ON sb.doc_id = db
             |WHERE CAST(i AS DOUBLE) / least(sa.sz, sb.sz)
             |        >= CAST(0.6 AS DOUBLE)
             |ORDER BY da, db""".stripMargin)),

    // D12 prefix-filtered twin — the BENCHED scale path for containment
    // (r15 verdict #1): Dedup.containmentPairsPrefix indexes only each
    // doc's (sz − ⌈t·sz⌉ + 1) RAREST bigrams as the would-be contained
    // side and joins them against the full postings of larger-or-equal
    // docs (the overlap-join prefix lemma — see the operator scaladoc for
    // why the container side cannot carry a prefix), then verifies
    // candidates with the exact map-side array intersect. Result is
    // row-identical to d12_containment: SAME DuckDB oracle text, so the
    // gate proves equivalence, and DedupFacadeSpec pins it engine-side.
    Q("d12_containment_prefix",
      (s, d) => graft.dedup.Dedup.containmentPairsPrefix(
          denseDocs(s, d), col("doc_id"), col("text"), 0.6,
          Seq(col("lang"), col("source")))
        .select(col("da"), col("db"), col("i"), col("sa"), col("sb"),
          round(col("containment"), 6).as("containment"),
          round(col("jaccard"), 6).as("jaccard"))
        .orderBy(col("da"), col("db")),
      Some(s"""WITH $denseSql,
             |tk AS (
             |  SELECT doc_id, lang, source,
             |         list_filter(string_split(text, ' '), t -> t <> '') AS toks
             |  FROM dense),
             |tokd AS (
             |  SELECT DISTINCT doc_id, lang, source, term
             |  FROM (SELECT doc_id, lang, source,
             |               unnest(CASE WHEN len(toks) >= 2
             |                 THEN list_transform(generate_series(1, len(toks) - 1),
             |                                     i -> toks[i] || ' ' || toks[i + 1])
             |                 ELSE [] END) AS term
             |        FROM tk)),
             |sizes AS (SELECT doc_id, count(*) AS sz FROM tokd GROUP BY 1),
             |inter AS (
             |  SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS i
             |  FROM tokd a JOIN tokd b
             |    ON a.term = b.term AND a.lang = b.lang AND a.source = b.source
             |   AND a.doc_id < b.doc_id
             |  GROUP BY 1, 2)
             |SELECT da, db, i, sa.sz AS sa, sb.sz AS sb,
             |       round(CAST(i AS DOUBLE) / least(sa.sz, sb.sz), 6)
             |         AS containment,
             |       round(CAST(i AS DOUBLE) / (sa.sz + sb.sz - i), 6) AS jaccard
             |FROM inter
             |JOIN sizes sa ON sa.doc_id = da
             |JOIN sizes sb ON sb.doc_id = db
             |WHERE CAST(i AS DOUBLE) / least(sa.sz, sb.sz)
             |        >= CAST(0.6 AS DOUBLE)
             |ORDER BY da, db""".stripMargin))
  )
}
