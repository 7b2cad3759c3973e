package graft

/** Plan auditor: EXECUTES each query (so AQE finalizes its runtime
  * re-planning) and dumps the FINAL formatted physical plan, so scan pruning
  * (`ReadSchema`/`PushedFilters`), the join strategy AQE actually picked,
  * and whole-stage-codegen coverage can be audited at bench scale — not the
  * tentative `isFinalPlan=false` plan Catalyst guesses before runtime stats.
  *
  * Run: `sbt "runMain graft.Explain [query ...]"` — no args = ALL queries,
  * written to PLANS.md (env `SPARK_GRAFT_PLANS_OUT` overrides the path;
  * `SPARK_GRAFT_SF_DIR` the data, default sf0.1 = bench scale;
  * `SPARK_GRAFT_CPUS` the parallelism, default 32 = bench config).
  */
object Explain {

  /** Cost/contract notes rendered above the matching dump — the places a
    * plan reader needs context the plan text can't carry.
    */
  private val notes: Map[String, String] = Map(
    "d2_minhash_md5" ->
      ("""Cost note: this is the ORACLE-GATED flagship variant — band keys are
        |strings (`band:h1:h2:...`) and the hash family is md5, so the whole
        |minhash→band→bucket-join pipeline is DuckDB-mirrorable and sits under
        |the differential hash gate. That choice costs ~4× vs the engine
        |default `d2_minhash_lsh` (xxhash64 family, long band keys), which is
        |the PRODUCTION path at scale: same banding math, same recall bound
        |(asserted in EngineSpec), a fraction of the shuffle bytes. The
        |shuffle here still carries only (band, band_hash, doc_id) — never
        |shingle sets — so even the oracle variant is bucketed, not
        |all-pairs.""".stripMargin),
    "h6_percentiles" ->
      ("""Contract note: exact `percentile` buffers every group value on one
        |executor by design — it is the ORACLE BASELINE (DuckDB
        |`quantile_cont` mirror), not the scale path. The production path is
        |`h6_percentiles_approx` (Greenwald-Khanna `approx_percentile`,
        |bounded per-group state, map-side merge; error bound vs this exact
        |oracle asserted in EngineSpec) — the same exact-for-oracle /
        |approximate-for-scale pattern as a3_cardinality /
        |a3_approx_cardinality. Do not "optimize" the exact variant: its
        |single-node sort IS the semantics being mirrored.""".stripMargin),
    "d2_jaccard_neardup" ->
      ("""Contract note: exact n-gram Jaccard over all same-size-block pairs —
        |block-quadratic by design, the labeled BASELINE for the LSH recall
        |specs. The scale path is d2_minhash_lsh / d2_simhash; this one exists
        |to define "truth" at oracle scale. Since r15 the pair count is the
        |SORT-BASED form: Exchange(da,db) → external Sort → one Window pass
        |(count + row_number) instead of a pair-keyed HashAggregate — the
        |window below is that aggregate, not an analytic feature; its memory
        |degrades linearly under pressure where the hash map cliffed (three
        |contended driver windows). Late-r15: excluded from the BENCHED set
        |(SparkEntry.benchExcluded — BASELINE.md round 15 continued); the
        |correctness gate still runs it. Since r17 it runs on the DENSE
        |fixture at t=0.8 under the SAME oracle text as d2_jaccard_prefix
        |(r16 verdict #6: last thin oracle) — truth-vs-prefix equality is
        |now DuckDB-gated on 18 pairs end to end.""".stripMargin),
    "d3_dedup_groups" ->
      ("""Contract note: connected components over the exact-Jaccard pair set
        |— inherits d2_jaccard_neardup's block-quadratic truth-definition
        |plan. The scale path is d3_dedup_groups_lsh (banded pairs → same
        |pointer-jumping components). Excluded from the benched set since
        |late r15 (SparkEntry.benchExcluded).""".stripMargin),
    "d10_dedup_yield" ->
      ("""Contract note: yield report over the exact-Jaccard cluster set —
        |truth definition; the benched scale twin is d10_dedup_yield_lsh
        |(banded pairs, own recursive oracle). Excluded from the benched set
        |since late r15 (SparkEntry.benchExcluded).""".stripMargin),
    "d12_containment" ->
      ("""Contract note: unpruned containment truth definition — runs the full
        |Σ df² postings pair stream (sort-based count since r15). Excluded
        |from the benched set since r16 (SparkEntry.benchExcluded; it was the
        |last benched member of the family and hard-flagged four consecutive
        |driver windows). The benched scale twin is d12_containment_prefix —
        |same DuckDB oracle, row-identical output. Input is the DENSE derived
        |fixture (FIXTURES.md) so the gate verifies 18 pairs, not 1.""".stripMargin),
    "d12_containment_prefix" ->
      ("""Shape note: the containment scale path (r15 verdict #1) — rare-first
        |prefix of the would-be smaller side (lowest-df bigrams, window below)
        |joined against FULL postings of larger-or-equal docs, then an exact
        |map-side array-intersect verify over candidate pairs only. No
        |container-side prefix or length filter exists for containment (the
        |required overlap depends on the pair's smaller size), so the full
        |postings on ONE side is the published optimum; the candidate stream
        |is ~4× smaller than the unpruned pair stream even on this
        |low-entropy fixture and prunes quadratically-in-df on Zipf corpora.
        |Since r17 the full-postings probe side is additionally semi-joined
        |on the distinct term set of ALL prefixes before the candidate join
        |(r16 verdict #3): a postings row whose term appears in no prefix
        |can never certify a pair, and on Zipf corpora those are exactly
        |the hot-term rows that dominate postings. Row-identical (same
        |oracle, 18 dense-fixture pairs).""".stripMargin),
    "d2_jaccard_prefix" ->
      ("""Fixture note: runs on the DENSE derived input since r16 (documents +
        |90%-prefix copies of every 31st doc, FIXTURES.md) so the oracle
        |verifies 18 pairs instead of 1; pre-r16 bench history measures a
        |different query. Plan shape unchanged: rare-first df-rank prefix
        |index, candidate distinct, map-side re-tokenized verify — no corpus
        |shuffle in verify. Postings caches are MEMORY_AND_DISK_SER since r16
        |(Caches.track scaladoc).""".stripMargin),
    "m4_resize" ->
      ("""Cost note: one real imageio decode + one real PNG re-encode per row
        |(plus the fixture's own encode) — the r15 #7 fusion computes features
        |straight off the resampled raster, dropping the provably-lossless
        |second decode (Multimodal.resizeFeatures). Map-side only, no
        |shuffle; this IS production resize cost plus the fixture encode.""".stripMargin),
    "a45_percentiles_bucket" ->
      ("""Shape note: the collect_list buffers the types × days BUCKET frame
        |(calendar-bounded at any corpus size — a39's posture), never corpus
        |rows; the corpus-scale work is the partial-before-Exchange count
        |aggregate underneath.""".stripMargin),
    "j8_bloom_semi" ->
      ("""Literal note: the broadcast bloom filter prints as a ~125 KB hex
        |literal in plan text; lines below are truncated at 400 chars. The
        |shape that matters: Scan(lineitem) → Filter[might_contain(bloom,
        |xxhash64(key))] BEFORE the exchange — the bloom shrinks the shuffle,
        |the exact semi-join after it removes the bounded false positives.""".stripMargin),
    "a12_heavy_hitters_mg" ->
      ("""Shape note: the plan below is only PASS 2 (candidate recount) — the
        |Misra-Gries sketch pass ran at construction time as an RDD
        |treeAggregate (no SQL plan), delivering ≤ k=256 candidate terms to
        |the driver. What to read here: the `term IN (...)` candidate filter
        |sits ON THE SCAN side, so the groupBy's exchange carries at most 256
        |distinct keys — compare a12_heavy_hitters, whose exchange carries
        |the full vocabulary. That delta is the whole point at 100 TB.""".stripMargin),
    "v11_pq_adc" ->
      ("""Shape note: codebook training (per-subspace kmeans, driver-collected
        |k×m×16 doubles) ran at construction time — the plan below is the
        |SEARCH: an ADC scan whose per-row cost is 4 array-literal lookups
        |(no float math, no join — the distance tables are baked into the
        |projection), TakeOrdered to a 100-row shortlist, then one
        |broadcast-semi-join re-rank against raw vectors. The only full-table
        |scan touches the 4-int code column.""".stripMargin),
    "v13_mmr_diversify" ->
      ("""Shape note: the plan below is the k-row RESULT frame — the
        |distributed work (relevance scan + TakeOrdered shortlist over the
        |corpus) ran at construction time, and the greedy MMR selection is
        |driver-side over the ≤100-row shortlist by design (sequential in
        |k; same posture as a12_heavy_hitters_mg's sketch pass). What to
        |audit is the shortlist stage: one corpus scan, no global sort,
        |broadcast query row.""".stripMargin),
    "x17_ccnet_buckets" ->
      ("""Contract note: the per-lang ntile window over every scored doc is
        |the ORACLE BASELINE (exact terciles, DuckDB-mirrorable). The scale
        |path is x17_ccnet_buckets_approx: per-lang cut values from
        |approx_percentile applied as broadcast-joined comparisons — no
        |corpus-wide window; bucket agreement up to boundary ties asserted
        |in QualitySignalsSpec. Same exact-for-oracle / approx-for-scale
        |pattern as a3 / h6.""".stripMargin),
    "x18_shuffle_shard" ->
      ("""Shape note: the four stacked HashAggregates are the LEVELS of the
        |Merkle prefix digest (6-hex leaves, then 4-hex / 2-hex / root
        |roll-ups with 256 fan-in): every collect_list buffer is one leaf
        |bucket or one 256-wide roll-up — bounded at ANY corpus size. The
        |r11 form was a single per-shard collect_list whose buffer grew
        |with shard size (OOM by construction at 100 TB); the hierarchy
        |pins the identical permutation because the order hash is the
        |leading sort key, so prefix groups are contiguous runs of the
        |global order.""".stripMargin),
    "k1_es_upsert_roundtrip" ->
      ("""Cost note: deliberately an I/O round-trip — render events as ES
        |`_bulk` NDJSON actions, spool them (the zero-egress HTTP stand-in),
        |read the spool BACK as JSON and dedup by content id. The ~5-6 s
        |bench cost is the spool write + schema'd JSON re-parse, not a plan
        |defect; the render+send half is pure foreachPartition (no shuffle),
        |and only the read-back dedup pays one keyed exchange (the d1
        |shape). Production would stop at the transport (no read-back).""".stripMargin),
    "m1_media_features_real" ->
      ("""Cost note: the real-codec twin of m1_media_features — each row pays
        |a PNG encode + javax.imageio decode so the oracle gates the REAL
        |decode path (PNG round-trips r=g=b losslessly). ~6× the stub twin's
        |cost by codec arithmetic, map-side only, no shuffle: the honest
        |per-row price of real image decode, not a plan regression.""".stripMargin),
    "s12_zorder_cluster" ->
      ("""Shape note: the single range exchange IS the operator — z-values
        |are a map-side projection (statically unrolled 32-term interleave),
        |repartitionByRange samples them, and the write inherits the
        |clustering. The read-back + recomputed zval under the identity
        |oracle adds the scan; production pays only the write half, once,
        |to make BOTH user-sliced and time-sliced scans prune files.""".stripMargin))

  /** Stabilize plan text for round-over-round diffing (r15 verdict #9:
    * 40.9 k regenerated lines per round dominated the diff). Expression
    * ids (`name#123`, `[id=#45]`) are allocated from a SESSION-global
    * counter, so inserting one new query used to shift every id in every
    * plan dumped after it — pure churn. Renumbering ids per plan in order
    * of first appearance makes each dump a function of the plan alone:
    * regeneration now touches only queries whose plan actually changed.
    * JVM object addresses (`@1a2b3c4d`) get the same treatment.
    */
  private[graft] def normalizeIds(txt: String): String = {
    val ids = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    // Anchored to the expression-id shape (r16 ADVICE #3): `name#123` /
    // `name#123L` (after a word char, closing paren or bracket) and
    // `[id=#45]` (after `=`). A bare `#\d+` would also renumber digits
    // inside literal VALUES in plan text — e.g. a pushed-filter string
    // literal containing '#5' — silently altering audited predicates.
    val idRe = "(?<=[\\w=)\\]])#(\\d+)".r
    val t1 = idRe.replaceAllIn(txt, m =>
      "#" + ids.getOrElseUpdate(m.group(1), ids.size + 1))
    val addrRe = "@[0-9a-fA-F]{6,}".r
    val t2 = addrRe.replaceAllIn(t1, "@ADDR")
    // `[plan_id=NNN]` is allocated from the same session-global counter
    // disease as expression ids, and `codegen id : N` is assigned in AQE
    // stage-completion order — nondeterministic run to run even for an
    // identical plan. Renumber both per plan in order of first appearance
    // (same original id → same new id, so codegen-span grouping is
    // preserved); without this a regeneration touched all 264 files on
    // pure counter drift (r17).
    val planIds = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    val planRe = "\\[plan_id=(\\d+)\\]".r
    val t3 = planRe.replaceAllIn(t2, m =>
      "[plan_id=" + planIds.getOrElseUpdate(m.group(1), planIds.size + 1) + "]")
    val cgIds = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    val cgRe = "codegen id : (\\d+)".r
    val t4 = cgRe.replaceAllIn(t3, m =>
      "codegen id : " + cgIds.getOrElseUpdate(m.group(1), cgIds.size + 1))
    // AQE stage ids print as a bare-integer `Arguments: N` detail line on
    // *QueryStage nodes only (verified across all dumps) and are assigned
    // in stage MATERIALIZATION order — racy under parallel stage execution,
    // so two runs of an identical plan differ. Same per-plan renumbering.
    val stIds = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    val stRe = "(?m)^Arguments: (\\d+)$".r
    val t5 = stRe.replaceAllIn(t4, m =>
      "Arguments: " + stIds.getOrElseUpdate(m.group(1), stIds.size + 1))
    // Lambda variables (`lambda x_573#…`) draw their suffix from yet
    // another session-global counter (Catalyst's UnresolvedNamedLambda
    // freshener), so any query planned EARLIER in the dump session shifts
    // every later plan's lambda names — the last remaining cross-plan
    // churn source (r17). Same per-plan renumbering; the `#id` part is
    // already handled by idRe above.
    val lamIds = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    val lamRe = "\\b([A-Za-z]\\w*?)_(\\d+)#".r
    val t6 = lamRe.replaceAllIn(t5, m =>
      m.group(1) + "_" +
        lamIds.getOrElseUpdate(m.group(2), lamIds.size + 1) + "#")
    // Scratch paths and bucket-table names carry a per-process pid
    // component (Harness.scratch/tag, ADVICE r17's concurrent-run
    // fix) — mask it so a regeneration from a fresh JVM doesn't churn every
    // storage-query dump.
    val pidRe = "((?:graft|bkt)_[a-z0-9_]*?_\\d+)_p\\d+".r
    val t7 = pidRe.replaceAllIn(t6, m => m.group(1) + "_pPID")
    // Object-plan lambdas print their JVM-assigned hidden-class name
    // (`$$Lambda$8342/0x7f..`); both numbers are per-JVM allocation order —
    // mask like @ADDR (the m1/m4 MapPartitions dumps churned on this).
    val lamClsRe = "\\$\\$Lambda\\$\\d+/0x[0-9a-fA-F]+".r
    lamClsRe.replaceAllIn(t7, _ => java.util.regex.Matcher
      .quoteReplacement("$$Lambda$N/0xADDR"))
  }

  def main(args: Array[String]): Unit = {
    val cpus = Harness.cpus(32)
    val spark = Harness.session(cpus)
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val all = args.isEmpty
    val names = if (all) SparkEntry.queries.keys.toSeq.sorted else args.toSeq

    val sections = names.map { n =>
      val section = new StringBuilder
      notes.get(n).foreach(t => section.append("\n").append(t).append("\n"))
      try {
        val df = SparkEntry.queries(n)(spark, dir)
        // Materialize through the query's OWN QueryExecution so the
        // AdaptiveSparkPlanExec inside it finalizes (a noop .write would
        // execute a sibling plan and leave this one tentative).
        df.queryExecution.toRdd.foreachPartition(_ => ())
        val txt = normalizeIds(df.queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
        // md5 hyperplane arrays / bloom literals print as multi-KB lines;
        // truncate so the dump stays readable.
        txt.linesIterator.foreach { l =>
          section.append(if (l.length > 400) l.take(400) + " …[truncated]" else l)
          section.append('\n')
        }
      } catch {
        case e: Throwable =>
          section.append(s"EXPLAIN FAILED: ${e.getClass.getSimpleName}: ${e.getMessage}\n")
      } finally Caches.unpersistAll()
      print(s"\n========== $n ==========\n" + section)
      n -> section.toString
    }

    {
      val out = sys.env.getOrElse("SPARK_GRAFT_PLANS_OUT", "PLANS.md")
      val planDir = sys.env.getOrElse("SPARK_GRAFT_PLANS_DIR", "plans")
      // one file per query (r15 verdict #9): a round's plan diff touches
      // only the queries whose normalized plan text changed. A TARGETED run
      // (names as args) rewrites just those queries' files and rebuilds the
      // index from the on-disk dumps, so iterating on one operator doesn't
      // force a 267-query full regen to keep PLANS.md consistent; only the
      // full run prunes stale files.
      val pd = new java.io.File(planDir)
      pd.mkdirs()
      if (all) {
        val keep = names.map(n => s"$n.txt").toSet
        Option(pd.listFiles()).getOrElse(Array.empty)
          .filter(f => f.getName.endsWith(".txt") && !keep(f.getName))
          .foreach { f => f.delete(); () }
      }
      sections.foreach { case (n, txt) =>
        val w = new java.io.PrintWriter(s"$planDir/$n.txt", "UTF-8")
        try w.print(txt) finally w.close()
      }
      val digest = java.security.MessageDigest.getInstance("SHA-256")
      val index = SparkEntry.queries.keys.toSeq.sorted.flatMap { n =>
        val f = new java.io.File(s"$planDir/$n.txt")
        if (!f.isFile) None
        else {
          val txt = new String(
            java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
          val h = digest.digest(txt.getBytes("UTF-8"))
            .map("%02x".format(_)).mkString.take(16)
          Some(f"- `$n%-32s` $h  [$planDir/$n.txt]")
        }
      }
      val header =
        s"""# PLANS — physical-plan audit (generated by `sbt "runMain graft.Explain"`)
          |
          |Every query below was EXECUTED at `$dir` on local[$cpus] before its
          |plan was dumped, so `AdaptiveSparkPlan` sections show
          |`isFinalPlan=true` — the strategy AQE actually ran at bench scale,
          |not the pre-runtime guess.
          |
          |Plan bodies live in ONE FILE PER QUERY under `$planDir/` with
          |expression ids renumbered per plan (session-global ids churned
          |every dump below an insertion — r15 verdict #9); this file is the
          |index: name, sha256-16 of the normalized plan text, path. A
          |round's plan diff therefore touches exactly the queries whose
          |plan changed.
          |
          |What to look for (the 100 TB checklist from the build notes):
          |
          |- **Scans**: `PushedFilters` carries the query predicates into the
          |  parquet reader (row-group skipping); `ReadSchema` lists only the
          |  projected columns (column pruning). See s6: an 11-column table
          |  read as 4 columns with the shipdate range pushed.
          |- **Joins**: dimension tables appear under `BroadcastExchange` +
          |  `BroadcastHashJoin` (no fact shuffle for dims, j1/h3); fact-fact
          |  joins run under `AdaptiveSparkPlan` so AQE picks/rewrites the
          |  strategy at runtime — the final dumps show what it picked.
          |- **Codegen**: operator trees sit inside `WholeStageCodegen` spans;
          |  the native expressions (float_vec_dot, minhash_sig, word_ngrams)
          |  evaluate inside those spans rather than falling back to
          |  interpreted rows.
          |- **Aggregation**: every groupBy shows a partial `HashAggregate`
          |  before the `Exchange` and a final one after — map-side combine by
          |  construction.
          |
          |Long literal lines (md5 hyperplane arrays, bloom filters) are
          |truncated at 400 chars. Inline "Cost note"/"Contract note" blocks
          |flag the queries whose plan is deliberately NOT the scale path
          |(oracle baselines with a documented production twin).
          |""".stripMargin
      val w = new java.io.PrintWriter(out, "UTF-8")
      try { w.println(header); w.println(index.mkString("\n")) } finally w.close()
      println(s"\n[explain] wrote ${names.size} plans to $planDir/ + index $out")
    }
    spark.stop()
  }
}
