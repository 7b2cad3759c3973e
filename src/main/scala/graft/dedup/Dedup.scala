package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{HashFunctions, TextFunctions}

/** One front door for the dedup family (the LLM-pipeline operator set):
  * exact / MinHash-LSH / SimHash / n-gram Jaccard / embedding-cosine —
  * pick by cost/quality; all return either a deduped frame or candidate
  * pairs with a score, on the same column conventions.
  */
object Dedup {

  /** Exact dedup by content key over `cols`: keeps one deterministic
    * representative per key (min of `orderCol`). The reference's
    * upsert-by-id semantics as a batch op.
    */
  def exact(df: DataFrame, orderCol: Column, cols: Column*): DataFrame = {
    val w = Window.partitionBy(HashFunctions.contentKey(cols: _*)).orderBy(orderCol)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Exact-duplicate groups by normalized-text fingerprint. */
  def exactTextGroups(df: DataFrame, id: Column, text: Column): DataFrame =
    df.groupBy(TextFunctions.fingerprint(text).as("fp"))
      .agg(sort_array(collect_list(id)).as("doc_ids"), count(lit(1)).as("n"))
      .filter(col("n") > 1)

  /** MinHash-LSH near-dup candidate pairs (estimated Jaccard). */
  def minhashPairs(df: DataFrame, id: Column, text: Column,
      minEstJaccard: Double = 0.5): DataFrame =
    MinHashDedup.candidatePairs(df, id, text, minEstJaccard = minEstJaccard)

  /** [[minhashPairs]] with the md5 hash family — cross-engine reproducible
    * (the variant the differential oracle checks); xxhash64 default is
    * cheaper per shingle.
    */
  def minhashPairsMd5(df: DataFrame, id: Column, text: Column,
      minEstJaccard: Double = 0.5): DataFrame =
    MinHashDedup.candidatePairsMd5(df, id, text, minEstJaccard = minEstJaccard)

  /** SimHash near-dup candidate pairs (Hamming distance). */
  def simhashPairs(df: DataFrame, id: Column, text: Column,
      maxHamming: Int = 3): DataFrame =
    SimHashDedup.candidatePairs(df, id, text, maxHamming)

  /** Exact n-gram Jaccard pairs within (blockCols) blocks.
    *
    * Pair generation is the classic postings self-join (`a JOIN b ON a.term
    * = b.term AND a.doc < b.doc` — the oracle mirrors it literally). A
    * posting-list-expansion form (groupBy term → sorted doc array → explode
    * C(|L|,2) pairs map-side) was measured in round 9 and LOST on this
    * fixture: same-session medians 4.2 s vs 3.7 s (d2) and 5.0 s vs 1.3 s
    * (d3) at sf0.1 — the join's pair stream pipelines straight into the
    * partial aggregate inside one codegen stage, while the expansion pays
    * collect_list materialization plus two Generate nodes. Revisit only
    * with evidence on a Zipf-hot natural corpus, where per-term skew would
    * favor expansion.
    *
    * Singleton prune: above [[AutoPruneDocs]] documents (a cheap
    * `df.count()` probe — metadata-only on a parquet source) the postings
    * are prefiltered to terms with df ≥ 2 before the quadratic self-join —
    * result-preserving (a df=1 term can't form a pair; set sizes still
    * count every shingle). On a Zipf-distributed REAL corpus hapax terms
    * are ~half the postings, and at that size an unpruned self-join is the
    * spill hazard the r12 bench run measured; below it the prune measured
    * 1.5× SLOWER on the synthetic fixture (the extra aggregate+join shuffle
    * outweighs the few rows saved), so small inputs stay unpruned.
    *
    * Memory-pressure hardening (r12 verdict #1): the postings are
    * explicitly repartitioned on the join keys into
    * `max(spark.sql.shuffle.partitions, 64)` partitions BEFORE the
    * self-join (same shuffle count as the ENSURE_REQUIREMENTS plan it
    * replaces, finer granularity). The join — and the pair-stream partial
    * aggregate that pipelines off it — then runs at that width, so each
    * task's aggregate hash map is bounded at ~1/64th of the pair space
    * instead of 1/numShufflePartitions (= 1/4 under the driver's bench
    * config): the difference between a bounded flush and the superlinear
    * spill cascade the driver measured at 11× under host memory
    * contention. Verified under `SPARK_GRAFT_BENCH_HEAP` canary runs
    * (BASELINE.md r13).
    */
  def jaccardPairs(df: DataFrame, id: Column, text: Column,
      minJaccard: Double, blockCols: Seq[Column] = Seq.empty,
      sortAgg: Boolean = true): DataFrame =
    pairIntersections(df, id, text, blockCols, sortAgg)
      .withColumn("jaccard", col("i").cast("double") / (col("sa") + col("sb") - col("i")))
      .filter(col("jaccard") >= minJaccard)
      .select(col("da"), col("db"), col("jaccard"))

  /** Containment (Broder 1997's asymmetric resemblance): |A∩B| / min(|A|,
    * |B|) — the sub-document duplication metric. A short doc fully embedded
    * in a long one scores ~1.0 here while its symmetric Jaccard stays low
    * (the union is dominated by the long doc), which is exactly the case
    * training-data dedup misses when it thresholds on Jaccard alone. Same
    * postings/blocking machinery and scale shape as [[jaccardPairs]].
    */
  def containmentPairs(df: DataFrame, id: Column, text: Column,
      minContainment: Double, blockCols: Seq[Column] = Seq.empty,
      sortAgg: Boolean = true): DataFrame =
    pairIntersections(df, id, text, blockCols, sortAgg)
      .withColumn("containment",
        col("i").cast("double") / least(col("sa"), col("sb")))
      .withColumn("jaccard", col("i").cast("double") / (col("sa") + col("sb") - col("i")))
      .filter(col("containment") >= minContainment)
      .select(col("da"), col("db"), col("i"), col("sa"), col("sb"),
        col("containment"), col("jaccard"))

  /** Corpus size above which [[pairIntersections]] prunes singleton terms
    * (see [[jaccardPairs]]).
    */
  private val AutoPruneDocs = 20000L

  /** Shared exact shingle-intersection core of [[jaccardPairs]] /
    * [[containmentPairs]]: distinct bigram postings (blocked, singleton-
    * pruned above [[AutoPruneDocs]], term-repartitioned — see the r12/r13
    * pressure notes) self-joined to (da, db, i, sa, sb) pair rows.
    *
    * `sortAgg` (default ON — r14 verdict #1, the third consecutive driver
    * window to flag this family under host contention): counts the pair
    * stream with an Exchange(da, db) + external Sort + Window pass instead
    * of a partial/final HashAggregate. The hash form's per-task map over
    * the (da, db) key space is what cliffs under memory pressure — each
    * map fill triggers a spill-and-restart cascade whose cost grows
    * superlinearly as free execution memory shrinks. The sort form's only
    * memory consumer is UnsafeExternalSorter, which degrades LINEARLY
    * (more, smaller spilled runs + one merge pass), and the WindowExec on
    * top buffers one (da, db) group at a time — bounded by a single
    * pair's intersection size. Cost of the trade: the full unaggregated
    * pair stream crosses the Exchange (map-side combine is lost), but the
    * rows are two longs wide and the combine never bought much here —
    * a pair collapses map-side only when its shared terms land in the
    * same term-partition. Measured sf0.1 (cpus=4, reps=3): clean-window
    * parity (d2 1.6 s both forms); 1g-heap canary — where the hash form's
    * first rep pays 2.7 s — the sort form holds steady. The hash form
    * stays available (`sortAgg = false`) for the equality spec.
    */
  private def pairIntersections(df: DataFrame, id: Column, text: Column,
      blockCols: Seq[Column], sortAgg: Boolean): DataFrame = {
    val block = if (blockCols.isEmpty) Seq(lit(1).as("__b")) else
      blockCols.zipWithIndex.map { case (c, i) => c.as(s"__b$i") }
    // cached via the session-visible registry: reused by the self-join's two
    // sides AND the size aggregate; callers release with Caches.unpersistAll()
    val toks = graft.Caches.track(
      df.select((id.as("doc_id") +: block) :+
        explode(TextFunctions.bigrams(text)).as("term"): _*)
      .distinct(),
      // serialized: the postings cache must not thrash the unified region
      // under memory pressure (Caches.track scaladoc; r15 verdict #1c)
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    val bnames = toks.columns.filter(_.startsWith("__b"))
    val sizes = toks.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val toksShared = if (df.count() <= AutoPruneDocs) toks else {
      val shared = toks.groupBy(col("term") +: bnames.map(col): _*)
        .agg(count(lit(1)).as("__df"))
        .filter(col("__df") >= 2)
        .drop("__df")
      toks.join(shared, "term" +: bnames.toSeq)
    }
    val parts = math.max(
      df.sparkSession.sessionState.conf.numShufflePartitions, 64)
    val keyed = toksShared.repartition(parts,
      col("term") +: bnames.map(col): _*)
    val right = keyed.select(col("doc_id").as("db") +:
      col("term").as("tb") +: bnames.map(b => col(b).as(s"${b}_r")): _*)
    val joinCond = bnames.map(b => col(b) === col(s"${b}_r"))
      .foldLeft(col("term") === col("tb") && col("doc_id") < col("db"))(_ && _)
    val pairRows = keyed.join(right, joinCond)
      .select(col("doc_id").as("da"), col("db"))
    val pairCounts =
      if (!sortAgg)
        pairRows.groupBy(col("da"), col("db")).agg(count(lit(1)).as("i"))
      else {
        // Sort-based count (scaladoc above): one Exchange on the pair key,
        // one spillable external sort, one WindowExec evaluating both the
        // full-frame count and row_number in a single pass. All rows of a
        // partition are identical (da, db) after the projection, so the
        // orderBy — required syntactically by row_number — is a constant
        // within each partition and the rn=1 survivor is content-identical
        // to any other row: output is deterministic.
        val ws = Window.partitionBy(col("da"), col("db")).orderBy(col("da"))
        pairRows
          .withColumn("i", count(lit(1)).over(
            ws.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
          .withColumn("__rn", row_number().over(ws))
          .filter(col("__rn") === 1)
          .select(col("da"), col("db"), col("i"))
      }
    pairCounts
      .join(sizes.select(col("doc_id").as("da"), col("sz").as("sa")), "da")
      .join(sizes.select(col("doc_id").as("db"), col("sz").as("sb")), "db")
  }

  /** Exact n-gram Jaccard pairs by PREFIX FILTERING (Bayardo et al. 2007
    * "Scaling Up All Pairs Similarity Search"; the AllPairs/PPJoin family) —
    * same result set as [[jaccardPairs]], structurally smaller pair stream.
    *
    * Why: [[jaccardPairs]] feeds the self-join's FULL postings pair stream
    * (Σ_term df²) into a (da, db) hash aggregate — the r12-flagged spill
    * hazard. Prefix filtering is the published exact fix: J(a,b) ≥ t
    * requires |a∩b| ≥ ⌈t·max(|a|,|b|)⌉, so under ANY consistent total token
    * order two qualifying docs must collide within their first
    * |d| − ⌈t·|d|⌉ + 1 tokens. Indexing only that prefix (rare-first order,
    * so prefixes hold the LOWEST-df tokens) shrinks the candidate join
    * quadratically in the hot terms; an exact array-intersect verify over
    * the candidate pairs restores the precise Jaccard. No recall loss —
    * candidates ⊇ true pairs by the prefix lemma (DedupFacadeSpec asserts
    * set equality with [[jaccardPairs]], and `d2_jaccard_prefix` runs under
    * the SAME DuckDB oracle as `d2_jaccard_neardup`).
    *
    * Scale shape: df-rank join and prefix window are doc/term-keyed; the
    * candidate `.distinct()` shuffles only candidate PAIRS (post-pruning);
    * verification joins the candidates to a MAP-SIDE-derived token-array
    * projection (re-tokenized from the source — no corpus shuffle), so the
    * heavy exact aggregate of the baseline disappears entirely. The ε-guards
    * on ⌈t·sz⌉ and the length filter only ever RELAX the pruning (soundness
    * over tightness); the final `jaccard >= t` filter is the same mirrored
    * comparison as the baseline's.
    *
    * Fixture measurement (r13, sf0.1, same session, reps=3): ~1.5× SLOWER
    * than [[jaccardPairs]] on the synthetic near-uniform token distribution
    * — at t=0.5 the prefix is still sz/2+1 tokens and rare-first pruning has
    * nothing to bite on, so the df-join + per-doc window overhead dominates
    * (exactly the singleton-prune finding above). The crossover is a Zipf
    * corpus and/or a higher threshold, where the baseline's Σ df² pair
    * stream explodes and the prefix index shrinks (t=0.8 indexes ~sz/5 —
    * asserted structurally in DedupFacadeSpec). Keep [[jaccardPairs]] as the
    * fixture-bench default; THIS is the production path for real corpora.
    *
    * Boundary (ScaleProbe 10×, BASELINE.md r13): prefix filtering rests on
    * a Zipf rare tail. On a LOW-ENTROPY corpus (tiny vocabulary, templated
    * text) every prefix token still carries large df and candidates stay
    * df²-driven — measured 417.8 s unblocked vs 59.4 s under lang×source
    * blocking at 10× on the ~900-bigram synthetic fixture. For such corpora
    * use blocking (`blockCols`) or the MinHash-LSH family, which bounds
    * candidates by bucket construction instead of token rarity.
    */
  def jaccardPairsPrefix(df: DataFrame, id: Column, text: Column,
      minJaccard: Double, blockCols: Seq[Column] = Seq.empty): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val block = if (blockCols.isEmpty) Seq(lit(1).as("__b")) else
      blockCols.zipWithIndex.map { case (c, i) => c.as(s"__b$i") }
    val toks = graft.Caches.track(
      df.select((id.as("doc_id") +: block) :+
        explode(TextFunctions.bigrams(text)).as("term"): _*)
      .distinct(),
      // serialized: the postings cache must not thrash the unified region
      // under memory pressure (Caches.track scaladoc; r15 verdict #1c)
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    val bnames = toks.columns.filter(_.startsWith("__b")).toSeq
    val sizes = toks.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val dfreq = toks.groupBy(col("term") +: bnames.map(col): _*)
      .agg(count(lit(1)).as("__tdf"))
    // rare-first prefix: keep each doc's (sz − ⌈t·sz⌉ + 1) lowest-df tokens
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("__tdf"), col("term"))
    val alpha = ceil(col("sz") * lit(minJaccard) - lit(1e-9))
    val pre = toks
      .join(dfreq, "term" +: bnames)
      .join(sizes, "doc_id")
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= col("sz") - alpha + 1)
      // Candidate-join key is xxhash64(term), not the bigram string: the
      // shuffled prefix row shrinks to (doc_id, 8-byte key, sz, rank) and
      // the exchange hashes/compares longs instead of strings. Row-identical
      // by construction — equal terms always hash equal (no candidate is
      // ever LOST), and a cross-term collision only adds a candidate the
      // exact array-intersect verify below kills. Prefix SELECTION (df
      // order, sz) stays on the true strings above, so collision odds
      // never touch which tokens form a prefix. __rn (the token's rank in
      // the shared global (df, term) order) rides along for the positional
      // filter below.
      .select(col("doc_id") +: xxhash64(col("term")).as("__th") +:
        col("sz") +: col("__rn") +: bnames.map(col): _*)
    // Both sides of the candidate self-join ARE this frame; without a cache
    // the whole postings→dfreq→sizes→prefix-window subtree runs TWICE (the
    // r21 plan showed two Window nodes over duplicated join trees — the
    // same gap containmentPairsPrefix's `ranked` cache closed in r16).
    // Serialized, same rationale as the toks cache.
    val preC = graft.Caches.track(
      pre, org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    val right = preC.select(col("doc_id").as("db") +: col("__th").as("__thb") +:
      col("sz").as("szb") +: col("__rn").as("__rnb") +:
      bnames.map(b => col(b).as(s"${b}_r")): _*)
    val lengthOk = // J ≥ t ⟹ t·max ≤ min (ε only relaxes)
      col("szb") >= col("sz") * lit(minJaccard) - lit(1e-9) &&
        col("sz") >= col("szb") * lit(minJaccard) - lit(1e-9)
    // PPJoin positional filter (Xiao, Wang, Lin, Yu 2008 "Efficient
    // Similarity Joins for Near Duplicate Detection", §3.1): a match at
    // ranks (rn, rnb) caps the pair's possible overlap at
    // 1 + min(sz − rn, szb − rnb) — only tokens AFTER the matched one (in
    // the global order both docs rank by) can still intersect. Requiring
    // that cap ≥ ⌈t·max(sz, szb)⌉ (the Jaccard overlap lower bound; ε only
    // relaxes) kills candidate ROWS, and a pair dies only when every one
    // of its rows dies. Sound because a QUALIFYING pair always survives
    // via its FIRST common token τ0: τ0 precedes (in global order) any
    // common token, prefixes are downward-closed in that order and each
    // side's prefix holds some common token by the prefix lemma — so τ0
    // sits in BOTH prefixes and its row's cap (no common token precedes
    // τ0) is ≥ the true overlap ≥ the bound. Evaluated inline in the join,
    // so pruned rows never reach the candidate-distinct exchange.
    val posOk = lit(1) + least(col("sz") - col("__rn"),
        col("szb") - col("__rnb")) >=
      ceil(greatest(col("sz"), col("szb")) * lit(minJaccard) - lit(1e-9))
    val joinCond = bnames.map(b => col(b) === col(s"${b}_r"))
      .foldLeft(col("__th") === col("__thb") && col("doc_id") < col("db") &&
        lengthOk && posOk)(_ && _)
    val cands = preC.join(right, joinCond)
      .select(col("doc_id").as("da"), col("db")).distinct()
    // exact verify: token arrays derived map-side from the source rows —
    // deliberately NOT cached (r21): the da/db joins each re-tokenize one
    // map-side pass, but caching this frame materializes the full bigram
    // arrays (text-width × corpus) next to the toks and prefix caches, and
    // the 30× probe measured the added storage pressure costing more than
    // the saved pass (d2 54.7 → 69.2 s at xf=30 with the cache; reverted).
    // r22 NOTE: a candidate-id semi-join prune of this frame (tokenize only
    // candidate docs) was measured and REVERTED — it requires caching
    // `cands` (millions of rows on a dense corpus, so the cache is not
    // cheap), and that cache cost d2 5.2 → 8.7 s / d12 6.5 → 13.8 s
    // same-session.
    // r22: arrays are SORTED once per doc (inside the broadcast-side
    // projection) so the per-pair exact intersect is the allocation-free
    // sorted_isect_count merge kernel instead of array_intersect's
    // per-pair hash-set build — |A∩B| is identical by construction
    // (sorted + duplicate-free inputs), and the pair stream is where the
    // row count lives (7.5M candidate evaluations on the d12 fixture).
    val arrays = df.select(id.as("doc_id"),
      sort_array(array_distinct(TextFunctions.bigrams(text))).as("__ta"))
    cands
      .join(arrays.select(col("doc_id").as("da"), col("__ta").as("ta")), "da")
      .join(arrays.select(col("doc_id").as("db"), col("__ta").as("tb")), "db")
      .select(col("da"), col("db"),
        TextFunctions.sortedIntersectCount(col("ta"), col("tb")).as("i"),
        size(col("ta")).as("sa"), size(col("tb")).as("sb"))
      .withColumn("jaccard",
        col("i").cast("double") / (col("sa") + col("sb") - col("i")))
      .filter(col("jaccard") >= minJaccard)
      .select(col("da"), col("db"), col("jaccard"))
  }

  /** Exact containment pairs by PREFIX FILTERING — the scale twin of
    * [[containmentPairs]] (r15 verdict #1: containment was the ONE benched
    * pair-family entry still running the full unpruned Σ df² postings pair
    * stream; jaccard had prefix/LSH twins, containment had none).
    *
    * The bound, from the overlap-join form of Bayardo et al. 2007 (the
    * AllPairs family; also Chaudhuri et al. 2006's SSJoin prefix lemma):
    * C(A,B) = |A∩B| / min(|A|,|B|) ≥ t requires |A∩B| ≥ ⌈t·|S|⌉ where S is
    * the SMALLER of the two sets. Under any consistent total token order,
    * if the intersection avoided all of S's first |S| − ⌈t·|S|⌉ + 1 tokens,
    * at most ⌈t·|S|⌉ − 1 tokens of S remain — too few. So S must collide
    * with the OTHER side inside S's rare-first prefix. Unlike the Jaccard
    * case there is NO usable prefix on the larger side (the required
    * overlap ⌈t·|S|⌉ depends on the pair's smaller size, unknown at index
    * time) and no length filter (a 10-token doc can be fully contained in
    * a 10k-token one): the candidate join is prefix(S) ⋈ FULL postings,
    * constrained to szPrefixSide ≤ szFullSide so the prefix side is always
    * the smaller set. Candidates are then verified with the exact
    * map-side array intersect (same re-tokenized projection as
    * [[jaccardPairsPrefix]] — no corpus shuffle in verify) and the precise
    * containment recomputed, so the result EQUALS [[containmentPairs]]
    * row-for-row (asserted in DedupFacadeSpec; `d12_containment_prefix`
    * runs under the SAME DuckDB oracle as `d12_containment`).
    *
    * Scale shape vs the baseline: the baseline's pair stream is Σ_term df²
    * over ALL postings; here one join side shrinks to each doc's
    * (1 − t)·|d| + 1 RAREST tokens (df-ascending order), so hot terms are
    * pruned from the prefix side quadratically-in-df — on a Zipf corpus the
    * candidate stream collapses toward the rare-term collisions that can
    * actually certify containment. Equal-size pairs generate their
    * candidate from both sides; the `.distinct()` on (da, db) collapses
    * them before the verify join.
    */
  def containmentPairsPrefix(df: DataFrame, id: Column, text: Column,
      minContainment: Double, blockCols: Seq[Column] = Seq.empty): DataFrame = {
    val block = if (blockCols.isEmpty) Seq(lit(1).as("__b")) else
      blockCols.zipWithIndex.map { case (c, i) => c.as(s"__b$i") }
    val toks = graft.Caches.track(
      df.select((id.as("doc_id") +: block) :+
        explode(TextFunctions.bigrams(text)).as("term"): _*)
      .distinct(),
      // serialized: the postings cache must not thrash the unified region
      // under memory pressure (Caches.track scaladoc; r15 verdict #1c)
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    val bnames = toks.columns.filter(_.startsWith("__b")).toSeq
    val sizes = toks.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val dfreq = toks.groupBy(col("term") +: bnames.map(col): _*)
      .agg(count(lit(1)).as("__tdf"))
    // rare-first prefix of the would-be SMALLER side: the first
    // sz − ⌈t·sz⌉ + 1 tokens in (df asc, term) order (ε only relaxes)
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("__tdf"), col("term"))
    val alpha = ceil(col("sz") * lit(minContainment) - lit(1e-9))
    // Rank ALL postings once in the shared global (df asc, term) order and
    // cache the compact projection: the prefix side is a filter over it and
    // the full-postings container side reuses it verbatim — the container
    // side needs the SAME ranks anyway for the positional filter below, so
    // the window that jaccardPairsPrefix pays only on its prefix side is
    // here paid once and read twice (serialized cache, same rationale as
    // the toks cache).
    val ranked = graft.Caches.track(
      toks
        .join(dfreq, "term" +: bnames)
        .join(sizes, "doc_id")
        .withColumn("__rn", row_number().over(w))
        // Candidate-join key is xxhash64(term) — see [[jaccardPairsPrefix]]:
        // equal terms always hash equal so no candidate is lost, a
        // cross-term collision only adds one the exact verify kills, and
        // the shuffled row shrinks to (doc_id, 8-byte key, sz, rank).
        // Prefix selection stays on the true strings above.
        .select(col("doc_id") +: xxhash64(col("term")).as("__th") +:
          col("sz") +: col("__rn") +: bnames.map(col): _*),
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    val pre = ranked.filter(col("__rn") <= col("sz") - alpha + 1)
    // full postings on the container side (with sizes, for the sz guard),
    // semi-joined on the distinct term-key set of ALL prefixes first (r16
    // verdict #3): a full-postings row whose term appears in no prefix can
    // never meet the candidate join's key-equality, so pruning it up front
    // shrinks the big join's probe side — on a Zipf corpus the hot terms
    // that dominate postings are exactly the ones rare-first prefixes
    // exclude. The distinct prefix-key set is vocabulary-bounded (and far
    // smaller than postings), so AQE turns the semi-join into a broadcast
    // map-side filter at runtime. Row-identical by construction — the same
    // DuckDB oracle and the 18-pair dense fixture gate it.
    val preTerms = pre.select(col("__th") +: bnames.map(col): _*).distinct()
    val full = ranked
      .join(preTerms, "__th" +: bnames, "left_semi")
      .select(col("doc_id").as("db") +: col("__th").as("__thb") +:
        col("sz").as("szb") +: col("__rn").as("__rnb") +:
        bnames.map(b => col(b).as(s"${b}_r")): _*)
    // PPJoin positional filter, containment form (see [[jaccardPairsPrefix]]
    // for the first-common-token soundness argument — here the container
    // side is FULL postings, so the first common token's row exists a
    // fortiori): a match at ranks (rn, rnb) caps overlap at
    // 1 + min(sz − rn, szb − rnb), and C ≥ t needs overlap ≥ ⌈t·sz⌉ of the
    // smaller (prefix-side) doc. ε only relaxes.
    val posOk = lit(1) + least(col("sz") - col("__rn"),
        col("szb") - col("__rnb")) >=
      ceil(col("sz") * lit(minContainment) - lit(1e-9))
    val joinCond = bnames.map(b => col(b) === col(s"${b}_r"))
      .foldLeft(col("__th") === col("__thb") && col("doc_id") =!= col("db") &&
        col("sz") <= col("szb") && posOk)(_ && _)
    val cands = pre.join(full, joinCond)
      .select(least(col("doc_id"), col("db")).as("da"),
        greatest(col("doc_id"), col("db")).as("db"))
      .distinct()
    // exact verify: token arrays derived map-side from the source rows —
    // NOT cached, same 30×-measured reasoning as jaccardPairsPrefix's
    // verify stage (the wide bigram-array cache costs more in storage
    // pressure than the one saved tokenization pass). The candidate-id
    // semi-join prune was likewise measured and reverted (see there).
    // Sorted arrays + the sorted_isect_count merge kernel, same r22
    // rationale as jaccardPairsPrefix's verify (|A∩B| identical).
    val arrays = df.select(id.as("doc_id"),
      sort_array(array_distinct(TextFunctions.bigrams(text))).as("__ta"))
    cands
      .join(arrays.select(col("doc_id").as("da"), col("__ta").as("ta")), "da")
      .join(arrays.select(col("doc_id").as("db"), col("__ta").as("tb")), "db")
      .select(col("da"), col("db"),
        TextFunctions.sortedIntersectCount(col("ta"), col("tb"))
          .cast("long").as("i"),
        size(col("ta")).cast("long").as("sa"),
        size(col("tb")).cast("long").as("sb"))
      .withColumn("containment",
        col("i").cast("double") / least(col("sa"), col("sb")))
      .withColumn("jaccard",
        col("i").cast("double") / (col("sa") + col("sb") - col("i")))
      .filter(col("containment") >= minContainment)
      .select(col("da"), col("db"), col("i"), col("sa"), col("sb"),
        col("containment"), col("jaccard"))
  }

  /** Embedding-cosine near-dup pairs (exact baseline; LSH/IVF pruned
    * variants live in graft.similarity.Ann).
    */
  def embeddingPairs(df: DataFrame, id: Column, vec: Column,
      minCosine: Double): DataFrame =
    graft.similarity.Ann.pairsExact(df, id, vec, minCosine)

  /** Connected components over the undirected candidate-pair graph — the
    * CLUSTER-FORMATION step every near-dup pipeline needs after pair
    * generation (keep one representative per duplicate cluster, drop the
    * rest). Iterative min-label propagation: each round every node takes the
    * min of its own and its neighbors' labels; at convergence a node's label
    * IS the min doc id of its component — deterministic, so the result can
    * carry a differential oracle (recursive-CTE closure in DuckDB).
    *
    * Distribution: the driver holds only the loop and a per-round change
    * count (same posture as Ann.kmeansCentroids); each round is one
    * edges⋈labels shuffle + a min-aggregate. Rounds needed = graph diameter
    * (near-dup clusters are shallow). At 100 TB swap in the
    * large-star/small-star alternation (O(log n) rounds, same contract).
    *
    * @param pairs candidate pairs with columns (da, db)
    * @param nodes one row per node, single column `node` (includes
    *              singletons, which keep their own id as component)
    * @return (node, comp) — comp = min node id of the component
    */
  def components(pairs: DataFrame, nodes: DataFrame, maxIters: Int = 30): DataFrame =
    componentsWithRounds(pairs, nodes, maxIters)._1

  /** [[components]] plus the number of label-propagation rounds it took —
    * the scale-posture observable (rounds = graph diameter): a probe that
    * logs it can show the iterative-join path converges in a handful of
    * rounds even at 10× density.
    */
  def componentsWithRounds(pairs: DataFrame, nodes: DataFrame,
      maxIters: Int = 30): (DataFrame, Int) = {
    // cache the (possibly expensive) pair query BEFORE mirroring it, so the
    // union's two branches don't each recompute it
    val p = pairs.select(col("da"), col("db")).cache()
    val edges = p.select(col("da").as("a"), col("db").as("b"))
      .union(p.select(col("db").as("a"), col("da").as("b")))
      .cache()
    var labels = nodes.select(col("node"), col("node").as("comp"))
    var iter = 0
    var changed = 1L
    while (changed > 0 && iter < maxIters) {
      val nmin = edges.join(labels, col("b") === col("node"))
        .groupBy(col("a")).agg(min(col("comp")).as("ncomp"))
      // carry the previous label through the update so convergence is a
      // plain filter on the materialized frame — no extra join per round
      val next = labels.join(nmin, col("node") === col("a"), "left_outer")
        .select(col("node"), col("comp").as("prev"),
          least(col("comp"), coalesce(col("ncomp"), col("comp"))).as("comp"))
        .cache()
      changed = next.filter(col("comp") =!= col("prev")).count()
      labels.unpersist()
      labels = next.select(col("node"), col("comp"))
      iter += 1
    }
    edges.unpersist()
    p.unpersist()
    require(changed == 0, s"components did not converge in $maxIters rounds")
    (labels, iter)
  }

  /** Incremental near-dup for append-only ingest: candidate pairs of a NEW
    * batch against an EXISTING signature store plus within the batch itself,
    * without re-pairing the existing corpus against itself. `existingSigs`
    * is the persisted (doc_id, sig) frame (maintained by compaction at
    * scale); new signatures are banded and joined against the existing
    * bands + themselves. Returns the same (da, db, est_jaccard) schema as
    * [[minhashPairs]], with `da` < `db`.
    */
  def incrementalMinhashPairs(
      newDocs: DataFrame, id: Column, text: Column,
      existingSigs: DataFrame,
      numHashes: Int = 64, bands: Int = 8,
      minEstJaccard: Double = 0.5): DataFrame =
    incrementalPairsFrom(
      graft.Caches.track(MinHashDedup.signatures(newDocs, id, text, numHashes)),
      existingSigs, numHashes, bands, minEstJaccard)

  /** [[incrementalMinhashPairs]] with the md5 hash family and string band
    * keys — cross-engine reproducible, so the append-only production shape
    * sits under the differential oracle (i3_incremental_minhash): the result
    * equals the FULL corpus's md5-LSH pairs restricted to pairs involving at
    * least one new doc, because newBands ⊆ allBands makes the band-collision
    * criterion identical on that slice. `existingSigs` must carry md5-family
    * signatures (MinHashDedup.signatureMd5).
    */
  def incrementalMinhashPairsMd5(
      newDocs: DataFrame, id: Column, text: Column,
      existingSigs: DataFrame,
      numHashes: Int = 64, bands: Int = 8,
      minEstJaccard: Double = 0.5): DataFrame =
    incrementalPairsFrom(
      graft.Caches.track(newDocs.select(id.as("doc_id"),
        MinHashDedup.signatureMd5(text, numHashes).as("sig"))),
      existingSigs, numHashes, bands, minEstJaccard, MinHashDedup.stringBandKey)

  /** [[incrementalMinhashPairsMd5]] against PRE-BANDED persisted stores —
    * the index-MAINTENANCE shape (r17 verdict #4): `storeSigs` = (doc_id,
    * sig) and `storeBands` = (doc_id, band, band_hash) are persisted tables
    * (parquet here; bucketed by band_hash at scale so the probe join is
    * co-partitioned). The new batch's signatures are computed ONCE (cost ∝
    * batch), banded, and probed against the stored bands — the existing
    * corpus is never re-shingled, re-hashed, re-banded, or paired against
    * itself; its signatures are touched only by the candidate-bounded
    * estimate join. After emitting pairs the caller appends (newSigs,
    * newBands) to the stores — the maintenance step DedupFacadeSpec pins
    * (batch-by-batch chaining from an empty store ≡ one-shot recompute).
    */
  /** Engine-default (xxhash64) flavor of
    * [[incrementalMinhashPairsBandedMd5]]: same persisted-store contract
    * with the fast hash family and 8-byte xxhash64 band keys — the
    * production path (the md5 flavor exists to sit under the DuckDB
    * oracle). `storeBands` must carry xxhash64 band keys
    * (MinHashDedup.banded with the default bandKey).
    */
  def incrementalMinhashPairsBanded(
      newDocs: DataFrame, id: Column, text: Column,
      storeSigs: DataFrame, storeBands: DataFrame,
      numHashes: Int = 64, bands: Int = 8,
      minEstJaccard: Double = 0.5,
      broadcastBatch: Option[Boolean] = None): DataFrame = {
    val newSigs = graft.Caches.track(
      MinHashDedup.signatures(newDocs, id, text, numHashes))
    val newBands = MinHashDedup.banded(newSigs, numHashes, bands)
    incrementalPairsCore(newBands,
      storeBands.select(col("doc_id"), col("band"), col("band_hash"))
        .union(newBands),
      storeSigs.select(col("doc_id"), col("sig")).union(newSigs),
      numHashes, minEstJaccard, broadcastBatch)
  }

  def incrementalMinhashPairsBandedMd5(
      newDocs: DataFrame, id: Column, text: Column,
      storeSigs: DataFrame, storeBands: DataFrame,
      numHashes: Int = 64, bands: Int = 8,
      minEstJaccard: Double = 0.5,
      broadcastBatch: Option[Boolean] = None): DataFrame = {
    val newSigs = graft.Caches.track(newDocs.select(id.as("doc_id"),
      MinHashDedup.signatureMd5(text, numHashes).as("sig")))
    val newBands =
      MinHashDedup.banded(newSigs, numHashes, bands, MinHashDedup.stringBandKey)
    incrementalPairsCore(newBands,
      storeBands.select(col("doc_id"), col("band"), col("band_hash"))
        .union(newBands),
      storeSigs.select(col("doc_id"), col("sig")).union(newSigs),
      numHashes, minEstJaccard, broadcastBatch)
  }

  private def incrementalPairsFrom(
      newSigs: DataFrame, existingSigs: DataFrame,
      numHashes: Int, bands: Int, minEstJaccard: Double,
      bandKey: (Column, Column) => Column =
        (j, sl) => org.apache.spark.sql.functions.xxhash64(j, sl)): DataFrame = {
    val allSigs = existingSigs.select(col("doc_id"), col("sig")).union(newSigs)
    val newBands = MinHashDedup.banded(newSigs, numHashes, bands, bandKey)
    val allBands = MinHashDedup.banded(allSigs, numHashes, bands, bandKey)
    incrementalPairsCore(newBands, allBands, allSigs, numHashes, minEstJaccard)
  }

  /** Shared tail of the incremental flavors. Scale shape (the reason this
    * is NOT the plain pairs join): the BATCH band side is broadcast, so the
    * store's band index is probed MAP-SIDE — the store is scanned, never
    * shuffled (at rest the store would be bucketed by band_hash and the
    * probe is bucket-local either way); and the signature lookups are
    * pruned to candidate ids by broadcast semi-joins before any join, so
    * the store's signature table is also scanned with a map-side filter,
    * never exchanged. Candidate volume is batch-proportional by LSH
    * construction, which is what makes both broadcasts legal. Net: the only
    * corpus-proportional work is two columnar index scans — everything
    * shuffled is ∝ batch (measured: ScaleProbe d13_incremental_shape).
    *
    * Contract notes (ADVICE r18/r19): (a) `broadcastBatch = None` (the
    * default) AUTO-SELECTS the batch posture from the batch's own size —
    * one batch-proportional `count()` of the band table (the signatures it
    * forces are cached and reused by the main plan), compared at a
    * conservative ~64 B/row against `graft.dedup.broadcastBatchMaxBytes`
    * (default 256 MB, far under the 8 GB broadcast hard cap and default
    * driver memory). Small batches (daily/hourly ingest slices) broadcast
    * and probe the store MAP-SIDE; large ones (backfills, whole-day
    * replays) fall back to a plain shuffled hash join on (band, band_hash)
    * instead of dying at the broadcast ceiling — same rows either way
    * (DedupSpec pins Some(true) ≡ Some(false); the id-prune semi-joins
    * follow the same selection, with AQE free to re-promote). Explicit
    * Some(…) skips the count — the fully-lazy path. (b) The candidate
    * frame is a TRACKED cache consumed by three dependent subplans (two
    * broadcast id-prunes + the join spine) that execute concurrently; the
    * former eager `count()` that pre-materialized it is gone (r19 advice
    * residue) — BlockManager's per-block getOrElseUpdate locking already
    * guarantees each cached partition is computed once, with concurrent
    * readers blocking on the lock instead of recomputing.
    */
  private def incrementalPairsCore(
      newBands: DataFrame, allBands: DataFrame, allSigs: DataFrame,
      numHashes: Int, minEstJaccard: Double,
      broadcastBatch: Option[Boolean] = None): DataFrame = {
    val bcast = broadcastBatch.getOrElse {
      val maxBytes = newBands.sparkSession.conf
        .get("graft.dedup.broadcastBatchMaxBytes", (256L << 20).toString).toLong
      newBands.count() * 64L <= maxBytes
    }
    // oriented (new_id, other) candidates; tracked (persisted) — reused
    // three times below (ADVICE r18: track() already persists; the former
    // inner .cache() double-persisted and warned)
    val probe = if (bcast) broadcast(newBands) else newBands
    val cand = graft.Caches.track(probe
      .join(allBands.select(col("band").as("band_b"),
          col("band_hash").as("band_hash_b"), col("doc_id").as("other")),
        col("band") === col("band_b") && col("band_hash") === col("band_hash_b") &&
          col("doc_id") =!= col("other"))
      .select(col("doc_id").as("new_id"), col("other"))
      .distinct())
    def sigsFor(idCol: String) = {
      val ids = cand.select(col(idCol).as("doc_id")).distinct()
      allSigs.join(
        if (bcast) broadcast(ids) else ids,
        Seq("doc_id"), "left_semi")
    }
    // a new-new pair arrives in both orientations with the same rounded
    // estimate; least/greatest + distinct collapse it to one row
    cand
      .join(sigsFor("new_id")
        .select(col("doc_id").as("new_id"), col("sig").as("sa")), "new_id")
      .join(sigsFor("other")
        .select(col("doc_id").as("other"), col("sig").as("sb")), "other")
      .select(least(col("new_id"), col("other")).as("da"),
        greatest(col("new_id"), col("other")).as("db"),
        round(MinHashDedup.estimateJaccard(col("sa"), col("sb"), numHashes), 6)
          .as("est_jaccard"))
      .filter(col("est_jaccard") >= minEstJaccard)
      .distinct()
  }

  /** [[components]] with pointer jumping (path shortcutting): each round
    * does the neighbor-min step AND then re-points every label at its
    * label's label — O(log diameter) rounds instead of O(diameter), at the
    * price of one extra labels⋈labels shuffle per round. Same output
    * contract; equality with [[components]] asserted in DedupFacadeSpec.
    * Prefer this at scale when clusters can be long chains (e.g. temporal
    * near-dup drift); prefer [[components]] when clusters are shallow
    * (typical LSH candidate graphs) and rounds are already ≤ 3.
    */
  def componentsFast(pairs: DataFrame, nodes: DataFrame, maxIters: Int = 20): DataFrame = {
    val p = pairs.select(col("da"), col("db")).cache()
    val edges = p.select(col("da").as("a"), col("db").as("b"))
      .union(p.select(col("db").as("a"), col("da").as("b")))
      .cache()
    var labels = nodes.select(col("node"), col("node").as("comp"))
    var iter = 0
    var changed = 1L
    while (changed > 0 && iter < maxIters) {
      val nmin = edges.join(labels, col("b") === col("node"))
        .groupBy(col("a")).agg(min(col("comp")).as("ncomp"))
      val l1 = labels.join(nmin, col("node") === col("a"), "left_outer")
        .select(col("node"), col("comp").as("prev"),
          least(col("comp"), coalesce(col("ncomp"), col("comp"))).as("comp"))
      // pointer jump: comp(v) ← comp(comp(v)); labels only ever move down
      // within the component, so the shortcut is safe and halves chains
      val next = l1.as("x")
        .join(l1.select(col("node").as("n2"), col("comp").as("c2")),
          col("x.comp") === col("n2"), "left_outer")
        .select(col("x.node").as("node"), col("x.prev").as("prev"),
          coalesce(col("c2"), col("x.comp")).as("comp"))
        .cache()
      changed = next.filter(col("comp") =!= col("prev")).count()
      labels.unpersist()
      labels = next.select(col("node"), col("comp"))
      iter += 1
    }
    edges.unpersist()
    p.unpersist()
    require(changed == 0, s"componentsFast did not converge in $maxIters rounds")
    labels
  }

  /** One-call near-dup dedup: cluster the candidate pairs, keep the min-id
    * representative per cluster. Returns (doc_id, comp, is_rep).
    */
  def dedupGroups(docs: DataFrame, id: Column, pairs: DataFrame): DataFrame =
    components(pairs, docs.select(id.as("node")))
      .select(col("node").as("doc_id"), col("comp"),
        (col("comp") === col("node")).as("is_rep"))

  /** Apply the dedup: keep only each cluster's min-id representative —
    * the corpus a training run actually reads. Composition of
    * [[dedupGroups]] + a semi-join back to the full rows (so surviving
    * docs keep ALL their columns, not just the id).
    */
  def keepRepresentatives(docs: DataFrame, id: Column, pairs: DataFrame): DataFrame = {
    val reps = dedupGroups(docs, id, pairs)
      .filter(col("is_rep"))
      .select(col("doc_id").as("__rep_id"))
    docs.join(reps, id === col("__rep_id"), "left_semi")
  }

  /** Decontamination — the train/eval hygiene step every pre-training
    * pipeline runs: flag corpus docs sharing at least `minShared` DISTINCT
    * word n-gram shingles with the benchmark/eval set. (The n-gram-overlap
    * method of GPT-3 appendix C / Dolma; exact, not probabilistic.)
    *
    * Scale posture: one distinct-shingle explode per side, then a semi-join
    * keyed on the shingle — the eval side of a real pipeline is tiny
    * (benchmarks), so Catalyst broadcasts it and the corpus is never
    * shuffled; with a large eval set it degrades to one hash join on the
    * shingle key, still linear. Never doc×doc quadratic.
    *
    * @return one row per corpus doc: (doc_id, n_shared, contaminated)
    */
  def decontaminate(corpus: DataFrame, evalSet: DataFrame,
      id: Column, text: Column, n: Int = 3, minShared: Int = 5): DataFrame = {
    val corpusSh = corpus
      .select(id.as("doc_id"), explode(TextFunctions.shingles(text, n)).as("term"))
      .distinct()
    val evalSh = evalSet
      .select(explode(TextFunctions.shingles(text, n)).as("term"))
      .distinct()
    val shared = corpusSh
      .join(evalSh, Seq("term"), "left_semi")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shared"))
    corpus.select(id.as("doc_id"))
      .join(shared, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"))
      .withColumn("contaminated", col("n_shared") >= minShared)
  }

  /** Per-EVAL-doc overlap report — the dual of [[decontaminate]]: for each
    * eval document, the fraction of its distinct n-gram shingles that occur
    * anywhere in the training corpus (the "benchmark burn" analysis LLM
    * papers publish next to their decontamination step).
    *
    * Scale shape: the EVAL shingle vocabulary is small by definition, so it
    * broadcasts into a map-side LEFT SEMI against the train shingle stream —
    * the train corpus is scanned once and never shuffled; the only exchange
    * carries the matched-term set (bounded by the eval vocabulary), which
    * then broadcasts back over the per-doc eval shingles for the counts.
    *
    * Null contract (mirrored in the d11 oracle): an eval doc with fewer
    * than n tokens has 0 shingles → overlap_frac NULL (never NaN — the
    * divide is guarded, because Spark orders NaN ABOVE all doubles and an
    * unguarded 0/0 would flip `burned` to true) and burned FALSE.
    */
  def evalOverlap(corpus: DataFrame, evalSet: DataFrame, id: Column,
      text: Column, n: Int = 3, minFrac: Double = 0.1): DataFrame = {
    val evalSh = evalSet
      .select(id.as("doc_id"), explode(TextFunctions.shingles(text, n)).as("term"))
      .distinct()
    val evalTerms = evalSh.select(col("term")).distinct()
    val matched = corpus
      .select(explode(TextFunctions.shingles(text, n)).as("term"))
      .join(broadcast(evalTerms), Seq("term"), "left_semi")
      .distinct()
      .withColumn("__hit", lit(1L))
    val agg = evalSh
      .join(broadcast(matched), Seq("term"), "left_outer")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(coalesce(col("__hit"), lit(0L))).as("n_matched"))
    evalSet.select(id.as("doc_id"))
      .join(agg, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("n_shingles"), lit(0L)).as("n_shingles"),
        coalesce(col("n_matched"), lit(0L)).as("n_matched"))
      .withColumn("overlap_frac",
        when(col("n_shingles") > 0,
          round(col("n_matched") * lit(1.0) / col("n_shingles"), 6)))
      .withColumn("burned", coalesce(
        when(col("n_shingles") > 0,
          col("n_matched") * lit(1.0) / col("n_shingles") >= minFrac),
        lit(false)))
  }

  /** Exact duplicate-span coverage at k-token granularity (the signal behind
    * exact-substring training-data dedup, Lee et al. 2021): per document,
    * how many token positions sit inside some k-token span that also occurs
    * VERBATIM in another document, and the covered fraction. Docs above a
    * coverage threshold are boilerplate/mirror suspects that near-dup
    * signatures (whole-doc MinHash/SimHash) systematically miss.
    *
    * Shape: explode k-shingles with positions (rows = corpus token count),
    * one groupBy over the span key to find cross-doc spans, join back, and
    * count distinct covered positions per doc — shuffles are all keyed, the
    * pair space is never materialized. At 100 TB the span key should be
    * `xxhash64(span)` instead of raw text to cut shuffle width (same plan
    * shape); raw text is kept here so the whole pipeline sits under the
    * DuckDB differential gate.
    *
    * Output: (doc_id, n_toks, n_dup_pos, dup_ratio) for every doc with ≥1
    * token; docs shorter than k have zero coverage by definition.
    */
  def dupSpanCoverage(df: DataFrame, id: Column, text: Column, k: Int = 8): DataFrame = {
    val t = df.select(id.as("doc_id"), TextFunctions.tokens(text).as("toks"))
      .withColumn("n", size(col("toks")))
      .filter(col("n") > 0)
    val spans = t.filter(col("n") >= k)
      .select(col("doc_id"), explode(expr(s"sequence(0, n - $k)")).as("pos"), col("toks"))
      .select(col("doc_id"), col("pos"),
        expr(s"array_join(slice(toks, pos + 1, $k), ' ')").as("span"))
    // "occurs in ≥2 distinct docs" as min≠max over a span-partitioned
    // window: ONE shuffle of the span stream (the agg + join-back
    // formulation shuffles it twice and recomputes the shingle explode).
    val w = Window.partitionBy(col("span"))
    val cov = spans
      .withColumn("mn", min(col("doc_id")).over(w))
      .withColumn("mx", max(col("doc_id")).over(w))
      .filter(col("mn") =!= col("mx"))
      .select(col("doc_id"), explode(expr(s"sequence(pos, pos + ${k - 1})")).as("p"))
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("p")).as("ndp"))
    t.select(col("doc_id"), col("n"))
      .join(cov, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("n").cast("long").as("n_toks"),
        coalesce(col("ndp"), lit(0L)).cast("long").as("n_dup_pos"),
        round(coalesce(col("ndp"), lit(0L)) * lit(1.0) / col("n"), 6).as("dup_ratio"))
  }

  /** Duplicate-span REMOVAL — the actionable twin of [[dupSpanCoverage]]
    * (r18 verdict #3): Lee et al. 2021 ("Deduplicating Training Data Makes
    * Language Models Better") doesn't just MEASURE cross-document duplicate
    * substrings, it deletes them. For every k-token span that occurs
    * verbatim in ≥2 distinct documents, excise all token positions covered
    * by any such span (the union of overlapping dup spans, matching d6's
    * coverage definition exactly) and stitch each document's surviving
    * tokens back together in original order.
    *
    * Scale shape — identical to [[dupSpanCoverage]] plus one keyed
    * join-back: explode k-shingles with positions, ONE window shuffle over
    * the span key (min≠max doc detects cross-doc spans), collect each doc's
    * removed-position set (bounded by the doc's own length — never a pair
    * space), then a doc_id-keyed join back to the token arrays where the
    * excision is a map-side positional filter (hash-based array_except —
    * linear in doc length, not per-token membership scans). All shuffles
    * are keyed; at
    * 100 TB the span key becomes xxhash64(span) (same plan, narrower
    * exchange) — raw text is kept here so the whole pipeline sits under the
    * DuckDB differential gate, the same tradeoff d6 documents.
    *
    * Caveat (also Lee et al. §4): stitching can create NEW k-spans across
    * an excision boundary that happen to duplicate; one pass removes all
    * spans duplicated in the INPUT corpus, not a fixpoint. Re-running on
    * the output converges; QualitySignalsSpec pins the residual on the
    * fixture.
    *
    * Output: (doc_id, n_toks, n_removed, cleaned) for every doc with ≥1
    * token; `cleaned` is the excised-and-stitched text ('' when everything
    * was duplicated). Docs shorter than k are returned unchanged.
    */
  def dupSpanRemoval(df: DataFrame, id: Column, text: Column, k: Int = 8,
      cacheTokens: Boolean = false): DataFrame = {
    // cacheTokens (caller opt-in, r21 verdict "what's wrong" #1): the
    // tokenized corpus feeds BOTH the span branch and the excision
    // join-back below, so a caller whose `text` carries expensive lineage
    // (x36 feeds the HTML-extraction output here) should pass true — one
    // tokenization pass instead of two re-runs of the whole upstream chain.
    // Default FALSE: when the input is a bare scan, re-tokenizing one
    // map-side pass is cheaper than materializing text-sized token arrays
    // (r21 driver: the unconditional cache cost standalone d14 +25%, first
    // rep paying the build). dupMaximalSpans discards `t` and never caches.
    val (t, rem) = tokensAndRemoved(df, id, text, k, cacheTokens = cacheTokens)
    // Excision is genuinely linear per doc (r19 advice #1): kept positions
    // come from one hash-based array_except(sequence(0, n-1), rem) — NOT a
    // per-token array_contains scan over the removed set, which was
    // O(n_toks × n_removed) for long, heavily duplicated docs. array_except
    // preserves the left array's (ascending) order, so element_at stitching
    // keeps original token order; sequence has no duplicates, so its dedup
    // semantics are a no-op here.
    val remOrEmpty = coalesce(col("rem"), array().cast("array<int>"))
    val keptPos = array_except(sequence(lit(0), col("n") - 1), remOrEmpty)
    t.join(rem, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("n").cast("long").as("n_toks"),
        coalesce(size(col("rem")), lit(0)).cast("long").as("n_removed"),
        array_join(
          transform(keptPos, p => element_at(col("toks"), p + 1)),
          " ").as("cleaned"))
  }

  /** Shared front of [[dupSpanRemoval]] / [[dupMaximalSpans]]: the tokenized
    * corpus `t` = (doc_id, toks, n) for docs with ≥1 token, and `rem` =
    * (doc_id, rem: sorted array<int>) — the union of all token positions
    * covered by any k-shingle that occurs verbatim in ≥2 distinct documents
    * (d6's coverage definition). One window shuffle over the span key, one
    * doc-keyed agg; the per-doc set is bounded by the doc's own length.
    */
  private def tokensAndRemoved(df: DataFrame, id: Column, text: Column,
      k: Int, cacheTokens: Boolean = false): (DataFrame, DataFrame) = {
    val t0 = df.select(id.as("doc_id"), TextFunctions.tokens(text).as("toks"))
      .withColumn("n", size(col("toks")))
      .filter(col("n") > 0)
    // serialized, like the postings caches: token arrays are text-sized and
    // must not thrash the unified region under memory pressure
    val t = if (!cacheTokens) t0 else graft.Caches.track(
      t0, org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    val spans = t.filter(col("n") >= k)
      .select(col("doc_id"), explode(expr(s"sequence(0, n - $k)")).as("pos"), col("toks"))
      .select(col("doc_id"), col("pos"),
        expr(s"array_join(slice(toks, pos + 1, $k), ' ')").as("span"))
    val w = Window.partitionBy(col("span"))
    val rem = spans
      .withColumn("mn", min(col("doc_id")).over(w))
      .withColumn("mx", max(col("doc_id")).over(w))
      .filter(col("mn") =!= col("mx"))
      .select(col("doc_id"), explode(expr(s"sequence(pos, pos + ${k - 1})")).as("p"))
      .groupBy(col("doc_id"))
      .agg(array_sort(collect_set(col("p"))).as("rem"))
    (t, rem)
  }

  /** MAXIMAL duplicated spans — Lee et al. 2021's actual unit (r19 verdict
    * #7: §4 of the paper emits maximal duplicated substrings ≥ 50 tokens
    * from the suffix array; d6/d14 operate on fixed k-token shingles).
    * Adjacent/overlapping duplicated shingles are merged into maximal runs:
    * for each document, the sorted removed-position set (same definition as
    * [[dupSpanRemoval]]) is split into islands of consecutive positions,
    * and each island becomes one (doc_id, span_start, span_len) row. Every
    * span is ≥ k tokens by construction (a union of k-length intervals);
    * `minSpanLen` raises the floor to the paper's threshold (they use 50).
    *
    * Scale shape: identical to [[dupSpanRemoval]] minus the join-back — the
    * island split is a per-row array expression over the per-doc set (start
    * positions are the elements whose predecessor is absent, end positions
    * those whose successor is absent; the two filtered arrays align 1:1 in
    * order), so merging adds ZERO shuffle. The span table shrinks from
    * one row per covered shingle position to one per maximal run — the
    * paper-matching excision unit AND a smaller artifact to persist.
    *
    * Excising these spans is EXACTLY [[dupSpanRemoval]]'s excision (at
    * minSpanLen = k): islands partition the removed set, so flattening them
    * back to positions reproduces it bit-for-bit — pinned in
    * QualitySignalsSpec (byte-identical cleaned corpus).
    */
  def dupMaximalSpans(df: DataFrame, id: Column, text: Column, k: Int = 8,
      minSpanLen: Int = 8): DataFrame = {
    val (_, rem) = tokensAndRemoved(df, id, text, k)
    // get() is 0-based and null-on-out-of-bounds; the boundary disjunct
    // short-circuits first, so the neighbor probe never reads past the ends
    val r = col("rem")
    val starts = filter(r, (p, i) =>
      i === 0 || get(r, i - 1) =!= p - 1)
    val ends = filter(r, (p, i) =>
      i === size(r) - 1 || get(r, i + 1) =!= p + 1)
    rem
      .select(col("doc_id"),
        explode(zip_with(starts, ends, (s, e) =>
          struct(s.as("span_start"), (e - s + lit(1)).as("span_len"))))
          .as("sp"))
      .select(col("doc_id"),
        col("sp.span_start").cast("long").as("span_start"),
        col("sp.span_len").cast("long").as("span_len"))
      .filter(col("span_len") >= minSpanLen)
  }

  /** Passage-level dedup with document reassembly (the CCNet paragraph-hash
    * stage, at fixed k-token passage granularity since the synthetic corpus
    * has no newlines): slice each document into non-overlapping k-token
    * passages, keep only the globally FIRST occurrence of each passage text
    * (ordered by doc_id, then position), and reassemble what survives of
    * every document in original order. Sub-document dedup — the boilerplate
    * repeated across thousands of pages disappears while the unique prose
    * around it survives, which whole-document dedup (d1/d2) cannot do.
    *
    * Scale shape: ONE shuffle of the passage stream keyed by passage text
    * (at 100 TB the key would be a fixed-width hash of the passage — same
    * plan, narrower rows); first-occurrence is a row_number over that key,
    * reassembly is a doc_id-keyed agg over kept passages. Nothing quadratic,
    * no driver state. Documents with zero tokens are excluded (no passages).
    *
    * Output: (doc_id, n_pass, n_kept, kept_md5) — kept_md5 hashes the
    * reassembled surviving text so the oracle gates reassembly order too.
    */
  def passageDedup(df: DataFrame, id: Column, text: Column, k: Int = 32): DataFrame = {
    val t = df.select(id.as("doc_id"), TextFunctions.tokens(text).as("toks"))
      .withColumn("n", size(col("toks")))
      .filter(col("n") > 0)
    val pass = t
      .select(col("doc_id"), col("toks"),
        explode(expr(s"sequence(0, ((n + ${k - 1}) div $k) - 1)")).as("pid"))
      .select(col("doc_id"), col("pid"),
        expr(s"array_join(slice(toks, pid * $k + 1, $k), ' ')").as("ptext"))
    val firstOcc = Window.partitionBy(col("ptext")).orderBy(col("doc_id"), col("pid"))
    pass
      .withColumn("rk", row_number().over(firstOcc))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_pass"),
        count(when(col("rk") === 1, lit(1))).as("n_kept"),
        md5(array_join(
          transform(
            array_sort(collect_list(when(col("rk") === 1,
              struct(col("pid"), col("ptext"))))),
            x => x.getField("ptext")),
          " ")).as("kept_md5"))
      .select(col("doc_id"), col("n_pass"), col("n_kept"), col("kept_md5"))
  }
}
