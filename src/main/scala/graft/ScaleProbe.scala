package graft

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.streaming.Percolator.{matchDocs, matchDocsSelective}

/** Scale probe: runs registered queries — the actual `SparkEntry.queries`
  * code — at the base scale factor and at `xf`× it, plus the few shapes
  * that sweep a dial or need a fixture the registry lacks, each with its
  * wall time and SHUFFLE BYTES, so scaling claims carry measured exponents
  * and a cliff the base-scale bench can't see (a join strategy flip into a
  * straggler, LSH bucket blow-up, agg spill) shows up here first.
  *
  * No larger fixture exists, so the `xf`× tables are derived from the base
  * ones by key-offset replication ([[Harness.expand]]: facts ×xf with join
  * keys remapped `k -> k*xf + rep`, so fan-outs are preserved, never
  * multiplied; dims stay dims) and STAGED to parquet once, untimed. Every
  * replicated table is written as one file per core: the many-split layout
  * a real corpus always has (a single-split input would leave every
  * map-side operator on one core), and once materialized it adds no
  * exchange to any plan. Registry queries then run end-to-end from disk
  * through their own `(spark, dir)` entry point, exactly as at base scale.
  *
  * Deliberate density choices:
  *  - documents: each copy appends a distinct token, making every original
  *    doc an xf-member NEAR-dup family — the dense-bucket worst case for
  *    the pair family.
  *  - embeddings: each copy perturbs one rep-indexed dimension, so copies
  *    are near-identical in angle (dense ANN buckets) without being exact
  *    duplicates.
  *  - events: BOTH keys remapped — xf× users at the original per-user
  *    timeline density, not xf× events per user.
  *  - customer is NOT replicated: each customer sees xf× the orders,
  *    stressing the build side of h3's broadcast choice.
  *
  * Env: `SPARK_GRAFT_SF_DIR` (base, default sf0.1), `SPARK_GRAFT_SCALE_X`
  * (default 10), `SPARK_GRAFT_CPUS` (default 32), `SPARK_GRAFT_BENCH_REPS`
  * (registry reps per scale, default 2; the min-wall rep is reported with
  * its bytes), `SPARK_GRAFT_SCALE_ONLY` (comma-separated entry filter) and
  * `SPARK_GRAFT_SCALE_OUT` (artifact path, default `BENCH_scale_x<xf>.json`;
  * a filtered run writes only when it is set).
  *
  * Output: one JSON line — `queries` (per registry query: base and xf
  * seconds and shuffle bytes, sec ratio), `shapes`, `recall`, `rows_out`,
  * and `failures` (exception class + first message line per failed entry).
  * This is a PERFORMANCE artifact only — correctness stays with Verify.
  */
object ScaleProbe {

  /** Registry queries run at both scales: the costliest benched queries,
    * then the headline join, aggregate, window, dedup, vector and pipeline
    * families.
    */
  val Queries: Seq[String] = Seq(
    "d12_containment_prefix", "d2_jaccard_prefix", "j13_interval_overlap",
    "v11_pq_adc", "a41_variable_width_histogram", "a41_vw_histogram_approx",
    "x13_bpe_apply", "j11_fuzzy_join", "j9_bucketed_join",
    "k1_es_upsert_roundtrip",
    // m3's doc-level pair enumeration vs its distinct-hash scale twin
    "m3_phash_pairs", "m3_phash_pairs_distinct",
    // x34's map-side design must read ZERO shuffle bytes at both scales;
    // d14's span shuffle + keyed join-back must step linearly
    "x34_html_extract", "d14_dup_span_removal",
    "a38_frequent_pairs", "a51_ks_test", "t31_percolate_selective",
    "x36_curation_from_html",
    "h1_pricing_summary", "j2_shuffle_join", "h3_shipping_priority",
    "d2_minhash_lsh", "v9_knn_join_md5", "a12_heavy_hitters_mg",
    "d6_dup_span", "x13_bpe_merges", "x18_shuffle_shard", "v19_maxsim",
    "o3_topk_per_group", "o4_topk_native", "x28_pagerank_prior",
    "w12_attribution", "t40_significant_text", "v20_random_projection",
    "x33_domain_reweight")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val xf = sys.env.getOrElse("SPARK_GRAFT_SCALE_X", "10").toInt
    val cpus = Harness.cpus(32)
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "2").toInt
    val spark = Harness.session(cpus)
    val only = Harness.only("SPARK_GRAFT_SCALE_ONLY")
    def wanted(name: String) = only.forall(_.contains(name))
    val failures = mutable.LinkedHashMap.empty[String, Harness.Failure]

    // ---- shuffle-byte listener: read = local + remote fetched bytes ----
    val readB = new AtomicLong(0L)
    val writeB = new AtomicLong(0L)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val m = e.stageInfo.taskMetrics
        if (m != null) {
          readB.addAndGet(
            m.shuffleReadMetrics.localBytesRead + m.shuffleReadMetrics.remoteBytesRead)
          writeB.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          ()
        }
      }
    })
    // Drain the async listener bus by POLLING the counters until they stop
    // moving (a fixed sleep let late stage-completed events land after the
    // reset and be credited to the NEXT run on a loaded machine): 400 ms of
    // quiet with a 5 s cap — stage events arrive in bursts ms apart, and
    // the cap bounds a pathological firehose without hanging the probe.
    def settle(): Unit = {
      var prev = (readB.get(), writeB.get())
      var quietMs = 0
      var waitedMs = 0
      while (quietMs < 400 && waitedMs < 5000) {
        Thread.sleep(100); waitedMs += 100
        val cur = (readB.get(), writeB.get())
        if (cur == prev) quietMs += 100 else { quietMs = 0; prev = cur }
      }
    }
    /** One measured run: (wall seconds, shuffle read B, shuffle write B). */
    def run(df: => DataFrame): Either[Harness.Failure, (Double, Long, Long)] = {
      System.gc()
      settle() // flush straggler events onto the PREVIOUS reading
      readB.set(0L); writeB.set(0L)
      Harness.timed(df).map { sec => settle(); (sec, readB.get(), writeB.get()) }
    }
    /** An untimed side measurement; a failure is recorded under `name`. */
    def attempt[T](name: String)(body: => T): Option[T] =
      try Some(body)
      catch { case t: Throwable => failures(name) = Harness.Failure(t); None }
      finally Caches.unpersistAll()

    // ---- stage the xf× tables (untimed) ----
    val xfDir = Harness.scratch(s"graft_scale_x$xf", sfDir)
    def stage(name: String, df: DataFrame): Unit =
      df.write.mode("overwrite").parquet(s"$xfDir/$name.parquet")
    def stageReplicated(name: String, df: DataFrame): Unit =
      stage(name, df.drop("rep").repartition(cpus))
    def replicated(name: String, keys: String*) =
      Harness.expand(Tables(spark, sfDir, name), xf, keys)
    Seq("region", "nation", "customer", "supplier", "part")
      .foreach(t => stage(t, Tables(spark, sfDir, t)))
    stageReplicated("lineitem", replicated("lineitem", "l_orderkey"))
    stageReplicated("orders", replicated("orders", "o_orderkey"))
    stageReplicated("events", replicated("events", "event_id", "user_id"))
    stageReplicated("documents", replicated("documents", "doc_id")
      .withColumn("text", concat(col("text"), lit(" variant"), col("rep"))))
    stageReplicated("embeddings", replicated("embeddings", "vec_id")
      .withColumn("embedding", transform(col("embedding"), (x, i) =>
        when(i === col("rep").cast("int"), x + lit(0.01f)).otherwise(x))))
    // The LINEAR-growth fixture of the prefix family: the documents fixture
    // above grows TRUE pairs ∝ xf² (every doc becomes an xf-member family),
    // so its wall step conflates plan cost with output volume. Here each
    // rep's tokens are salted with a family id (rep div 2): reps (0,1),
    // (2,3), … form disjoint 2-member near-dup families with DISJOINT
    // vocabularies — pairs and candidates grow ∝ xf, vocabulary grows with
    // the corpus, per-term df stays flat (a web corpus growing by crawl).
    // A wall step ≳ xf here is PLAN cost, not output volume.
    stageReplicated("documents_linear", replicated("documents", "doc_id")
      .withColumn("text", concat(
        array_join(transform(graft.functions.TextFunctions.tokens(col("text")),
          t => concat(t, lit("g"), (col("rep") / 2).cast("long"))), " "),
        lit(" variant"), col("rep"))))
    // j11 at xf× vocabulary: distinct customer names, each copy carrying its
    // rep digits TRIPLED (" r777"), so any two distinct suffixes differ by
    // ≥ 2 edits — cross-copy names never form distance-1 pairs, and the true
    // pair set is exactly x copies of the originals.
    def names(x: Int): DataFrame =
      Tables(spark, sfDir, "customer").select(col("c_name")).distinct()
        .withColumn("rep", explode(sequence(lit(0L), lit(x - 1L))))
        .select(concat(col("c_name"), lit(" r"),
          repeat(col("rep").cast("string"), 3)).as("c_name"))
    stage("customer_names", names(xf).repartition(cpus))
    println(s"[scaleprobe] staged xf=$xf tables at $xfDir")

    val docs = Tables(spark, xfDir, "documents")
    val emb = Tables(spark, xfDir, "embeddings")

    // d13 staging: 95% of the corpus's minhash signatures + xxhash64-key
    // bands persisted once — the maintained index a production dedup owns;
    // d13_incremental_shape times ONLY what an arriving 5% batch costs
    // against it. The twin pair probes the SAME batch against a 1× and an
    // xf× store whose TRUE-match yield is held constant, so the wall delta
    // isolates pure store cost: families split on original doc (doc_id div
    // xf), the batch is the rep-0 member of every 20th family, both stores
    // exclude those families (candidates ≈ band noise), the 1× store holds
    // only rep-0 members of the others, the xf× store ALL their reps. Claim
    // under test: wall ~flat while the store grows xf× — the store adds a
    // band-index scan + candidate-bounded signature lookups, never a shuffle.
    val idx = s"$xfDir/mhidx"
    def stageIndex(name: String, corpus: DataFrame): Unit = {
      graft.dedup.MinHashDedup.signatures(corpus, col("doc_id"), col("text"))
        .write.mode("overwrite").parquet(s"$idx/sigs$name")
      graft.dedup.MinHashDedup.banded(spark.read.parquet(s"$idx/sigs$name"), 64, 8)
        .write.mode("overwrite").parquet(s"$idx/bands$name")
    }
    val family = expr(s"doc_id div $xf")
    val otherFams = docs.filter(pmod(family, lit(20L)) =!= 0)
    stageIndex("", docs.filter(pmod(col("doc_id"), lit(20L)) =!= 0))
    stageIndex("1x", otherFams.filter(pmod(col("doc_id"), lit(xf.toLong)) === 0))
    stageIndex("Nx", otherFams)
    def d13Probe(batch: DataFrame, store: String): DataFrame =
      graft.dedup.Dedup.incrementalMinhashPairsBanded(batch,
        col("doc_id"), col("text"),
        spark.read.parquet(s"$idx/sigs$store"),
        spark.read.parquet(s"$idx/bands$store"))
    val familyBatch = docs.filter(pmod(col("doc_id"), lit(xf.toLong)) === 0 &&
      pmod(family, lit(20L)) === 0)

    // j9 bucket dial: write both fact sides bucketed on the join key at the
    // given count, join shuffle-free, aggregate.
    def nextPow2(n: Int): Int = Integer.highestOneBit(math.max(1, n - 1)) * 2
    val dialBuckets = nextPow2(math.max(8, 8 * xf / 10))
    val pid = ProcessHandle.current().pid()
    def j9Probe(nBuckets: Int): DataFrame = {
      graft.operators.Bucketing.writeBucketed(
        Tables(spark, xfDir, "orders")
          .select(col("o_orderkey"), col("o_orderpriority")),
        s"probe_bkt_orders_${nBuckets}_p$pid", nBuckets, "o_orderkey",
        path = Some(s"$xfDir/bkt/orders_$nBuckets"))
      graft.operators.Bucketing.writeBucketed(
        Tables(spark, xfDir, "lineitem").select(col("l_orderkey").as("o_orderkey"),
          col("l_extendedprice"), col("l_discount")),
        s"probe_bkt_lineitem_${nBuckets}_p$pid", nBuckets, "o_orderkey",
        path = Some(s"$xfDir/bkt/lineitem_$nBuckets"))
      // The derived orders side COMPRESSES under the 10 MB broadcast bar, so
      // Spark would quietly flip to a broadcast join and the probe would
      // measure nothing about bucket co-location; at 100 TB no fact side
      // broadcasts. Pin the at-scale strategy for the probe (restored after
      // — registry queries are untouched).
      val confs = Seq("spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.autoBroadcastJoinThreshold")
      val prev = confs.map(k => k -> spark.conf.getOption(k))
      confs.foreach(spark.conf.set(_, "-1"))
      try {
        val joined = graft.operators.Bucketing.bucketJoin(spark,
            s"probe_bkt_orders_${nBuckets}_p$pid",
            s"probe_bkt_lineitem_${nBuckets}_p$pid", "o_orderkey")
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n_items"),
            sum(round(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 100)
              .cast("long")).as("revenue_cents"))
        // read-side evidence: the bucketed scans feed the SortMergeJoin
        // pre-partitioned, so the ONLY shuffle Exchange in the plan belongs
        // to the 5-row groupBy (no broadcast anywhere)
        val plan = joined.queryExecution.executedPlan.toString
        println(s"[scaleprobe] j9 buckets=$nBuckets join-plan exchanges=" +
          s"${"Exchange".r.findAllIn(plan).size} broadcasts=" +
          s"${"BroadcastExchange".r.findAllIn(plan).size} (expect 1/0: the " +
          "groupBy; the join is bucket-co-located)")
        // run the expensive work INSIDE the conf pins and hand the harness a
        // 5-row LOCAL frame — its noop save must not re-execute the join
        // with the restored (broadcast-happy) session confs
        val out = joined.collect()
        spark.createDataFrame(
          spark.sparkContext.parallelize(out.toIndexedSeq), joined.schema)
      } finally prev.foreach { case (k, v) =>
        v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
      }
    }

    // Percolator fleet: an n-query store — every query is 2-term
    // conjunctive; 1 in 200 pairs two real corpus tokens (matchable), the
    // rest pair a real token with a synthetic "alert<i>" term no document
    // contains (the alerting fleet's steady state; the scan cost is the
    // same). Two matcher forms: the ROW form (broadcast store, stateless
    // scan — store-linear per doc by construction, so the 1k/10k pair
    // measures the slope); the SELECTIVE form, which anchors each query on
    // its lowest-df term, so the df-0 "alert" fleets generate ZERO
    // candidates and its wall should stay ~flat from 1k to 100k.
    def percolateStore(nQueries: Int): DataFrame = {
      val vocab = Tables(spark, sfDir, "documents")
        .select(explode(graft.functions.TextFunctions.tokens(col("text")))
          .as("term"))
        .distinct().orderBy(col("term"))
        .collect().map(_.getString(0)).toSeq
      val v = typedLit(vocab)
      val t1 = element_at(v, (col("id") % vocab.size).cast("int") + 1)
      val t2 = when(col("id") % 200 === 0,
          element_at(v, ((col("id") * 7 + 3) % vocab.size).cast("int") + 1))
        .otherwise(concat(lit("alert"), col("id")))
      graft.streaming.Percolator.compileStore(
        spark.range(nQueries).select(col("id").as("query_id"),
            explode(array(t1, t2)).as("term")))
    }
    def percolate(matcher: (DataFrame, DataFrame) => DataFrame,
        nQueries: Int): DataFrame =
      matcher(docs.select(col("doc_id"), col("text")), percolateStore(nQueries))

    // d7 codebook: every 250th vector — past semanticDedupPairs' 64-centroid
    // switch at probe density, so the registered entry must track the IVF
    // shape, not the exact one. The IVF branch's coarse level (every 8th
    // centroid in cid order) is then every 2000th vector.
    def codebook(): DataFrame =
      emb.filter(pmod(col("vec_id"), lit(250L)) === 0)
        .select(col("vec_id").as("cid"),
          transform(col("embedding"), _.cast("double")).as("cvec"))
    val docsLinear = Tables(spark, xfDir, "documents_linear")
    val blocks = Seq(col("lang"), col("source"))

    // Thunks, not frames: some shapes run actions during construction, so
    // the clock must wrap the call itself.
    val shapes: Seq[(String, () => DataFrame)] = Seq[(String, () => DataFrame)](
      "d13_incremental_shape" -> (() => d13Probe(
        docs.filter(pmod(col("doc_id"), lit(20L)) === 0), "")),
      "d13_stream_store1x_shape" -> (() => d13Probe(familyBatch, "1x")),
      "d13_stream_storeNx_shape" -> (() => d13Probe(familyBatch, "Nx")),
      "d2_prefix_linear_shape" -> (() => graft.dedup.Dedup.jaccardPairsPrefix(
        docsLinear, col("doc_id"), col("text"), 0.8)),
      "d12_prefix_linear_shape" -> (() =>
        graft.dedup.Dedup.containmentPairsPrefix(
          docsLinear, col("doc_id"), col("text"), 0.8)),
      // the prefix family under the production blocking (lang × source) on
      // the dense replicated corpus: per-block df collapses ~20×, so the
      // pair measures how much the technique depends on token-universe size
      "d2_prefix_blocked_shape" -> (() => graft.dedup.Dedup.jaccardPairsPrefix(
        docs, col("doc_id"), col("text"), 0.8, blocks)),
      "d12_containment_prefix_blocked_shape" -> (() =>
        graft.dedup.Dedup.containmentPairsPrefix(
          docs, col("doc_id"), col("text"), 0.8, blocks)),
      // exact blocked Jaccard under BOTH pair-count strategies: the sort
      // form's extra pair-stream exchange must stay ~linear at xf× density
      "d2_jaccard_sortagg_shape" -> (() => graft.dedup.Dedup.jaccardPairs(
        docs, col("doc_id"), col("text"), 0.5, blocks)),
      "d2_jaccard_hashagg_shape" -> (() => graft.dedup.Dedup.jaccardOf(
        graft.dedup.Dedup.pairIntersections(
          docs, col("doc_id"), col("text"), blocks, sortAgg = false), 0.5)),
      // fuzzy self-join at xf× vocabulary: the candidate stream (names ×
      // length deletion keys, never the pair space) is the cost, so wall
      // should track the xf× key volume (rows_out pins output grew xf×)
      "j11_fuzzy_shape" -> (() => graft.operators.FuzzyJoin.editDistance1Pairs(
        Tables(spark, xfDir, "customer_names"))),
      // pairs → connected components at xf× density: the label-propagation
      // rounds (logged) must stay ~graph-diameter flat, not grow with xf
      "d3_components_shape" -> (() => {
        val pairs = graft.dedup.MinHashDedup.candidatePairs(
          docs, col("doc_id"), col("text"))
        val (labels, rounds) = graft.dedup.Dedup.componentsWithRounds(
          pairs, docs.select(col("doc_id").as("node")))
        println(s"[scaleprobe] d3_components_shape rounds=$rounds")
        labels
      }),
      // fixed 8 buckets vs next-pow2(8·xf/10): the dialed write's
      // per-bucket sort must fit memory again, and the read-side join is
      // Exchange-free at EITHER count
      "j9_bucket_fixed8_shape" -> (() => j9Probe(8)),
      "j9_bucket_dial_shape" -> (() => j9Probe(dialBuckets)),
      "t31_percolate_1k_shape" -> (() => percolate(matchDocs, 1000)),
      "t31_percolate_10k_shape" -> (() => percolate(matchDocs, 10000)),
      "t31_selective_1k_shape" -> (() => percolate(matchDocsSelective, 1000)),
      "t31_selective_10k_shape" -> (() => percolate(matchDocsSelective, 10000)),
      "t31_selective_100k_shape" -> (() => percolate(matchDocsSelective, 100000)),
      // d7 exact vs registered (size-selected) vs IVF-assisted assignment
      // (2 probes: per-vector work drops from k to c + 2·k/c candidates)
      "d7_semantic_shape" -> (() => graft.similarity.Ann.semanticDedupPairsCore(
        emb, col("vec_id"), col("embedding"), codebook(), threshold = 0.4,
        ivf = false)),
      "d7_semantic_auto_shape" -> (() => graft.similarity.Ann.semanticDedupPairs(
        emb, col("vec_id"), col("embedding"), codebook(), threshold = 0.4)),
      "d7_semantic_ivf_shape" -> (() => graft.similarity.Ann.semanticDedupPairsCore(
        emb, col("vec_id"), col("embedding"), codebook(), threshold = 0.4,
        ivf = true)))

    // warm the file-listing/codegen paths once per dir
    Tables.names.foreach { t =>
      try { Tables(spark, sfDir, t).count(); Tables(spark, xfDir, t).count(); () }
      catch { case _: Throwable => () }
    }

    def mb(r: Either[Harness.Failure, (Double, Long, Long)]) =
      r.fold(_ => "-", v => s"${v._2 / 1048576}MB")
    val queries = Queries.filter(wanted).map { name =>
      val fn = SparkEntry.queries(name)
      // min wall over the reps, with that run's bytes (bytes are
      // plan-determined; the min wall is the least-contended reading); any
      // failed rep fails the entry
      def best(tag: String, dir: String) = {
        val rs = (1 to reps).map(_ => run(fn(spark, dir)))
        val r = rs.collectFirst { case Left(f) => Left(f) }
          .getOrElse(Right(rs.collect { case Right(v) => v }.minBy(_._1)))
        r.left.foreach(f => failures(s"$name@$tag") = f)
        r
      }
      val base = best("base", sfDir)
      val scaled = best("xf", xfDir)
      println(s"[scaleprobe] $name base=${base.fold(_ => -1.0, _._1)}s " +
        s"xf=${scaled.fold(_ => -1.0, _._1)}s shuffleR ${mb(base)} -> ${mb(scaled)}")
      (name, base, scaled)
    }
    val shapeRuns = shapes.filter { case (n, _) => wanted(n) }.map { case (name, mk) =>
      val r = run(mk())
      r.left.foreach(f => failures(name) = f)
      println(s"[scaleprobe] $name: ${r.fold(f => s"FAILED $f", v => s"${v._1}s")}")
      (name, r)
    }

    // LSH candidate RECALL at scale: the replicated corpus's dense buckets
    // are exactly where recall quietly degrades. Ground truth is anchored,
    // not all-pairs (that is the quadratic blow-up LSH exists to avoid):
    // ~1% of docs are anchors, their exact shingle-Jaccard >= 0.8 partners
    // over the whole corpus are the true pairs, and recall is the fraction
    // the banded candidate stream (minEstJaccard=0) surfaces.
    val recallJson = (if (!wanted("d2_minhash_recall")) None
      else attempt("d2_minhash_recall") {
        val toks = graft.Caches.track(docs.select(col("doc_id"),
            explode(graft.functions.TextFunctions.shingles(col("text"), 3)).as("t"))
          .distinct())
        val anchor = pmod(col("doc_id"), lit(97L)) === 0
        val sizes = toks.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
        val exact = toks.filter(anchor).select(col("doc_id").as("da"), col("t"))
          .join(toks.select(col("doc_id").as("db"), col("t")), Seq("t"))
          .filter(col("da") =!= col("db"))
          // normalize orientation; an anchor-anchor pair arrives once per
          // side, so the intersection count must be over DISTINCT shingles
          .select(least(col("da"), col("db")).as("da"),
            greatest(col("da"), col("db")).as("db"), col("t"))
          .groupBy(col("da"), col("db")).agg(countDistinct(col("t")).as("i"))
          .join(sizes.select(col("doc_id").as("da"), col("sz").as("sa")), "da")
          .join(sizes.select(col("doc_id").as("db"), col("sz").as("sb")), "db")
          .filter(col("i").cast("double")
            / (col("sa") + col("sb") - col("i")) >= 0.8)
          .select(col("da"), col("db"))
        val cand = graft.dedup.MinHashDedup.candidatePairs(
            docs, col("doc_id"), col("text"), minEstJaccard = 0.0)
          .select(col("da"), col("db"))
        val total = exact.count()
        val hit = exact.join(cand, Seq("da", "db"), "semi").count()
        val recall = if (total == 0) -1.0 else hit.toDouble / total
        println(s"[scaleprobe] d2_minhash_lsh_recall=$recall ($hit/$total anchored true pairs)")
        s""","recall":{"d2_minhash_lsh":$recall,"true_pairs":$total,"recalled":$hit}"""
      }).getOrElse("")

    // rows-out for the two "the candidate/output stream IS the cost" claims:
    // j11 output must grow ~xf× (the suffix construction makes cross-copy
    // pairs impossible), j13 ~xf² (per-(part, bin) density grows xf×).
    val rowsJson = (if (!wanted("rows_out")) None
      else attempt("rows_out") {
        val j11Base = graft.operators.FuzzyJoin.editDistance1Pairs(names(1)).count()
        val j11X = graft.operators.FuzzyJoin.editDistance1Pairs(
          Tables(spark, xfDir, "customer_names")).count()
        val j13X = SparkEntry.queries("j13_interval_overlap")(spark, xfDir).count()
        println(s"[scaleprobe] rows_out: j11 base=$j11Base xf=$j11X, j13 xf=$j13X")
        s""","rows_out":{"j11_base":$j11Base,"j11_xf":$j11X,"j13_xf":$j13X}"""
      }).getOrElse("")

    def part(prefix: String, r: Either[Harness.Failure, (Double, Long, Long)]) =
      r match {
        case Right((sec, rb, wb)) =>
          s""""${prefix}sec":$sec,"${prefix}shuffle_read_b":$rb,"${prefix}shuffle_write_b":$wb"""
        case Left(_) => s""""${prefix}sec":-1"""
      }
    val qJson = queries.map { case (name, base, scaled) =>
      val ratio = (for { a <- base; b <- scaled }
        yield math.rint(b._1 / a._1 * 100) / 100).getOrElse(-1.0)
      s""""$name":{${part("base_", base)},${part("xf_", scaled)},"sec_ratio":$ratio}"""
    }.mkString("{", ",", "}")
    val sJson = shapeRuns.map { case (name, r) => s""""$name":{${part("", r)}}""" }
      .mkString("{", ",", "}")
    val fJson = failures.map { case (k, f) => Harness.quote(k) + ":" + f.json }
      .mkString("{", ",", "}")
    val json = s"""{"metric":"scale","unit":"sec","xf":$xf,"base_sf":"$sfDir",""" +
      s""""cpus":$cpus,"reps":$reps,"queries":$qJson,"shapes":$sJson""" +
      s"""$recallJson$rowsJson,"failures":$fJson}"""
    println(json)
    // A filtered run never overwrites the full artifact — partial entry
    // sets must not masquerade as a full probe — unless SCALE_OUT asks for
    // the partial artifact somewhere on purpose (Bench's BENCH_OUT contract).
    if (only.isEmpty || sys.env.contains("SPARK_GRAFT_SCALE_OUT")) {
      val w = new java.io.PrintWriter(
        sys.env.getOrElse("SPARK_GRAFT_SCALE_OUT", s"BENCH_scale_x$xf.json"), "UTF-8")
      try w.println(json) finally w.close()
    }
    Seq(8, dialBuckets).distinct.foreach { nb =>
      spark.sql(s"DROP TABLE IF EXISTS probe_bkt_orders_${nb}_p$pid")
      spark.sql(s"DROP TABLE IF EXISTS probe_bkt_lineitem_${nb}_p$pid")
    }
    // the staged tables are multi-GB scratch; a killed run is covered by the
    // shutdown hook Harness.scratch registered
    Harness.deleteRec(new java.io.File(xfDir))
    spark.stop()
  }
}
