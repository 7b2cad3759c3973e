package graft

import org.apache.spark.sql.functions._

import graft.dedup.Dedup

/** Round-9 quality-signal operators: exact duplicate-span coverage (d6),
  * corpus-LM log-prob scoring (x12), per-doc keyphrase extraction (t9).
  * The differential oracle pins the full pipelines; these specs pin the
  * semantics the oracle can't name — cross-doc-only counting, overlap
  * union, and the integer-quantized score algebra.
  */
class QualitySignalsSpec extends SparkSuite {
  import spark.implicits._

  private def cov(docs: Seq[(Long, String)]): Map[Long, (Long, Long)] =
    Dedup.dupSpanCoverage(docs.toDF("doc_id", "text"), col("doc_id"), col("text"), k = 4)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap

  test("dup-span coverage counts only CROSS-doc spans; short docs get zero") {
    val shared = "alpha beta gamma delta" // one 4-token span
    val m = cov(Seq(
      1L -> s"$shared xx yy zz",
      2L -> s"aa bb $shared",
      3L -> "unique words here nothing repeats at all",
      4L -> "too short", // < k tokens → zero coverage by definition
      // within-doc repetition only — must NOT count (distinct-doc rule)
      5L -> "rep one two three rep one two three"))
    assert(m(1L) == ((7L, 4L)) && m(2L) == ((6L, 4L)))
    assert(m(3L)._2 == 0L && m(4L) == ((2L, 0L)) && m(5L)._2 == 0L)
  }

  test("overlapping duplicated spans union their positions, not sum them") {
    // 5 shared tokens = two overlapping 4-spans; coverage must be 5, not 8
    val m = cov(Seq(
      1L -> "alpha beta gamma delta epsilon tail1 tail2",
      2L -> "head1 alpha beta gamma delta epsilon"))
    assert(m(1L)._2 == 5L && m(2L)._2 == 5L)
  }

  private def removal(docs: Seq[(Long, String)], k: Int = 4): Map[Long, (Long, Long, String)] =
    Dedup.dupSpanRemoval(docs.toDF("doc_id", "text"), col("doc_id"), col("text"), k = k)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3))))
      .toMap

  test("d14 removal excises exactly the duplicated span union and stitches the rest") {
    val m = removal(Seq(
      1L -> "alpha beta gamma delta epsilon tail1 tail2", // 5-pos dup prefix
      2L -> "head1 alpha beta gamma delta epsilon",       // 5-pos dup suffix
      3L -> "unique words here nothing repeats at all",   // untouched
      4L -> "too short"))                                 // < k → untouched
    assert(m(1L) == ((7L, 5L, "tail1 tail2")))
    assert(m(2L) == ((6L, 5L, "head1")))
    assert(m(3L) == ((7L, 0L, "unique words here nothing repeats at all")))
    assert(m(4L) == ((2L, 0L, "too short")))
  }

  test("d14 fully-duplicated docs clean to the empty string") {
    val m = removal(Seq(
      1L -> "alpha beta gamma delta",
      2L -> "alpha beta gamma delta"))
    assert(m(1L) == ((4L, 4L, "")) && m(2L) == ((4L, 4L, "")))
  }

  test("d14 on the fixture: n_removed ≡ d6 coverage, clean docs byte-identical, " +
    "and removal slashes residual coverage") {
    val docs = Tables(spark, sf, "documents")
    val d6 = Dedup.dupSpanCoverage(docs, col("doc_id"), col("text"), k = 8)
      .select(col("doc_id"), col("n_dup_pos")).as[(Long, Long)].collect().toMap
    val d14 = Dedup.dupSpanRemoval(docs, col("doc_id"), col("text"), k = 8)
      .select(col("doc_id"), col("n_removed"), col("cleaned"))
      .as[(Long, Long, String)].collect()
    // the removed-position union IS d6's covered-position union, per doc
    assert(d14.forall { case (id, nrem, _) => nrem == d6(id) })
    // docs d6 calls clean come back byte-identical (modulo the tokenizer's
    // whitespace normalization, which array_join reapplies)
    val norm = docs.select(col("doc_id"),
        array_join(graft.functions.TextFunctions.tokens(col("text")), " ").as("t"))
      .as[(Long, String)].collect().toMap
    assert(d14.forall { case (id, nrem, cleaned) =>
      nrem > 0 || cleaned == norm(id) })
    assert(d14.exists(_._2 > 0) && d14.exists(_._2 == 0))
    // one removal pass ~eliminates duplicate-span coverage; stitching can
    // mint new cross-boundary spans (Lee et al. §4 — documented caveat), so
    // pin a strong reduction, not zero
    val before = d6.values.sum.toDouble
    val after = Dedup.dupSpanCoverage(
        d14.toSeq.toDF("doc_id", "n_removed", "text")
          .filter(col("text") =!= ""),
        col("doc_id"), col("text"), k = 8)
      .agg(sum(col("n_dup_pos"))).as[Long].head().toDouble
    assert(after < 0.15 * before,
      s"residual coverage $after vs pre-removal $before")
  }

  test("d15 maximal spans: overlapping shingles merge into one island") {
    // 5 shared positions = two overlapping 4-shingles → ONE maximal span of
    // 5 tokens (prefix of doc 1, suffix of doc 2); the clean doc emits none
    val docs = Seq(
      1L -> "alpha beta gamma delta epsilon tail1 tail2",
      2L -> "head1 alpha beta gamma delta epsilon",
      3L -> "unique words here nothing repeats at all").toDF("doc_id", "text")
    val spans = Dedup.dupMaximalSpans(docs, col("doc_id"), col("text"),
        k = 4, minSpanLen = 4)
      .as[(Long, Long, Long)].collect().toSet
    assert(spans == Set((1L, 0L, 5L), (2L, 1L, 5L)))
    // a doc with TWO disjoint duplicated regions emits two islands
    val two = Seq(
      10L -> "alpha beta gamma delta zzz yyy omega psi chi phi",
      11L -> "alpha beta gamma delta other1 other2 other3 other4",
      12L -> "pre1 pre2 omega psi chi phi").toDF("doc_id", "text")
    val m = Dedup.dupMaximalSpans(two, col("doc_id"), col("text"),
        k = 4, minSpanLen = 4)
      .filter(col("doc_id") === 10L)
      .as[(Long, Long, Long)].collect().toSet
    assert(m == Set((10L, 0L, 4L), (10L, 6L, 4L)))
  }

  test("d15 excising maximal spans ≡ d14's shingle-union excision " +
    "(byte-identical cleaned corpus; span lengths sum to n_removed)") {
    val docs = Tables(spark, sf, "documents")
    val spans = Dedup.dupMaximalSpans(docs, col("doc_id"), col("text"), k = 8)
    // islands partition the removed set: flatten them back to positions and
    // rerun the same excision — the cleaned text must match bit-for-bit
    val remFromSpans = spans
      .select(col("doc_id"), explode(sequence(col("span_start"),
        col("span_start") + col("span_len") - 1)).as("p"))
      .groupBy(col("doc_id"))
      .agg(array_sort(collect_set(col("p").cast("int"))).as("rem2"))
    val toks = docs.select(col("doc_id"),
        graft.functions.TextFunctions.tokens(col("text")).as("toks"))
      .withColumn("n", size(col("toks"))).filter(col("n") > 0)
    val cleaned2 = toks.join(remFromSpans, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), array_join(transform(
        array_except(sequence(lit(0), col("n") - 1),
          coalesce(col("rem2"), array().cast("array<int>"))),
        p => element_at(col("toks"), p + 1)), " ").as("cleaned2"))
    val d14 = Dedup.dupSpanRemoval(docs, col("doc_id"), col("text"), k = 8)
    assert(d14.join(cleaned2, "doc_id")
      .filter(col("cleaned") =!= col("cleaned2")).count() == 0)
    val sums = spans.groupBy(col("doc_id")).agg(sum(col("span_len")).as("s"))
      .as[(Long, Long)].collect().toMap
    val nrem = d14.select(col("doc_id"), col("n_removed"))
      .as[(Long, Long)].collect().toMap
    assert(nrem.filter(_._2 > 0).forall { case (id, nr) => sums(id) == nr })
    assert(nrem.values.exists(_ > 0), "fixture has no duplicated spans — vacuous")
    // every maximal span is ≥ k by construction (union of k-intervals)
    assert(spans.agg(min(col("span_len"))).as[Long].head() >= 8)
  }

  test("x34 block classification: each boilerplate kind dies by its own rule") {
    import graft.pipeline.HtmlExtract
    val html =
      """<html><body><nav><a href="/">home</a> <a href="/x">about</a> <a href="/y">login</a></nav>""" +
        "<p>the quick brown fox jumps over the lazy dog again and again</p>" +
        """<div><a href="/buy">buy now</a> <a href="/sub">subscribe today</a> limited offer click here</div>""" +
        "<p>a second honest paragraph with the usual run of words in it</p>" +
        """<footer>copyright 2026 <a href="/t">terms</a> <a href="/p">privacy</a> all rights reserved</footer></body></html>"""
    val row = Seq(html).toDF("html")
      .select(
        HtmlExtract.blockFeatures(col("html")).as("fs"),
        HtmlExtract.mainContent(col("html")).as("main"))
      .head()
    val fs = row.getSeq[org.apache.spark.sql.Row](0)
      .map(r => (r.getString(0), r.getInt(1), r.getInt(2), r.getInt(3)))
    assert(fs.size == 5)
    // nav: 3 tokens -> fails length (and everything else)
    assert(fs(0)._2 == 3 && !(fs(0)._2 >= 5))
    // ads: 8 tokens, 4 anchor tokens -> fails the ≤1/3 link-density rule alone
    assert(fs(2)._2 == 8 && fs(2)._3 == 4 && fs(2)._3 * 3 > fs(2)._2)
    // footer: 7 tokens, 2 anchor tokens (passes link), 0 stopwords -> stop rule
    assert(fs(4)._2 == 7 && fs(4)._3 * 3 <= fs(4)._2 && fs(4)._4 == 0)
    // both honest paragraphs survive, in order, anchor text retained nowhere
    assert(row.getString(1) ==
      "the quick brown fox jumps over the lazy dog again and again " +
        "a second honest paragraph with the usual run of words in it")
  }

  test("x34 htmlize variants produce 4/5/6 blocks and survive extraction") {
    import graft.pipeline.HtmlExtract
    val out = Seq((0L, "the alpha beta gamma delta a epsilon zeta eta theta"),
        (1L, "the alpha beta gamma delta a epsilon zeta eta theta"),
        (2L, "the alpha beta gamma delta a epsilon zeta eta theta"))
      .toDF("doc_id", "text")
      .select(col("doc_id"),
        HtmlExtract.htmlize(col("doc_id"), col("text")).as("html"))
      .select(col("doc_id"),
        size(HtmlExtract.blockFeatures(col("html"))).as("nb"),
        size(HtmlExtract.goodBlocks(col("html"))).as("ng"),
        HtmlExtract.mainContent(col("html")).as("main"))
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getString(3))))
      .toMap
    // variant 0: nav, p1, p2, footer; +ads for v1; +ads+tiny for v2
    assert(out(0L)._1 == 4 && out(1L)._1 == 5 && out(2L)._1 == 6)
    // both text halves survive in every variant; chrome never does
    out.values.foreach { case (_, ng, main) =>
      assert(ng == 2)
      assert(main == "the alpha beta gamma delta a epsilon zeta eta theta")
      assert(!main.contains("subscribe") && !main.contains("copyright") &&
        !main.contains("home"))
    }
  }

  test("x35 context propagation: near-good promoted only between good neighbors") {
    import graft.pipeline.HtmlExtract
    def smooth(html: String): (Long, Long, String) = {
      val r = Seq(html).toDF("html")
        .select(HtmlExtract.blockFeatures(col("html")).as("fs"))
        .select(
          size(filter(col("fs"), f => HtmlExtract.isGood(f))).cast("long"),
          size(filter(HtmlExtract.smoothedBlocks(col("fs")),
            b => b.getField("keep") && !b.getField("base"))).cast("long"),
          HtmlExtract.mainContentSmoothed(col("fs")))
        .head()
      (r.getLong(0), r.getLong(1), r.getString(2))
    }
    val p1 = "<p>the quick brown fox jumps over the lazy dog again</p>"
    val p2 = "<p>a second honest paragraph with the usual run of words</p>"
    val ads = """<div><a href="/buy">buy now</a> <a href="/sub">subscribe today</a> limited offer click here</div>"""
    // header wedged between two good paragraphs -> promoted
    assert(smooth(s"$p1<h2>results overview</h2>$p2") ==
      ((2L, 1L,
        "the quick brown fox jumps over the lazy dog again results overview " +
          "a second honest paragraph with the usual run of words")))
    // same short block next to boilerplate -> stays dropped
    assert(smooth(s"$p1<h2>results overview</h2>$ads$p2")._2 == 0L)
    // edge block (no left neighbor) never promoted
    assert(smooth(s"<h2>results overview</h2>$p1$p2")._2 == 0L)
    // short LINK block between good paragraphs stays dropped (nl > 0)
    assert(smooth(s"""$p1<p><a href="/x">next page</a></p>$p2""")._2 == 0L)
    // x35 on the htmlize fixture: variant 2's tiny paragraph is promoted
    val v2 = Seq((2L, "the alpha beta gamma delta a epsilon zeta eta theta"))
      .toDF("doc_id", "text")
      .select(HtmlExtract.htmlize(col("doc_id"), col("text")).as("html"))
      .select(HtmlExtract.blockFeatures(col("html")).as("fs"))
      .select(HtmlExtract.mainContentSmoothed(col("fs"))).head().getString(0)
    assert(v2 == "the alpha beta gamma delta ok a epsilon zeta eta theta")
  }

  test("x12 on the fixture: avg_lp ≤ 0, integer sum consistent, n_toks exact") {
    val out = queries.Registry.byName("x12_unigram_logprob").run(spark, sf)
    val rows = out.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, sum, avg) = (r.getLong(1), r.getLong(2), r.getDouble(3))
      assert(sum <= 0L && avg <= 0.0)
      assert(math.abs(avg - (sum * 1.0 / 1000000.0) / n) < 1e-6)
    }
    val nToks = Tables(spark, sf, "documents")
      .select(col("doc_id"), graft.functions.TextFunctions.tokenCount(col("text")).as("m"))
      .collect().map(r => r.getLong(0) -> r.getInt(1).toLong).toMap
    rows.foreach(r => assert(r.getLong(1) == nToks(r.getLong(0))))
  }

  test("BPE: learns the frequency-ranked merge, then the merged-pair merge") {
    // "abab"×3: round 1 merges (a,b) cnt 6 (two occurrences per word — the
    // double-space encoding must catch CONSECUTIVE non-overlapping pairs);
    // round 2 merges (ab,ab) cnt 3.
    val vocab = Seq(("abab", 3L)).toDF("word", "c")
    val rules = graft.pipeline.Bpe.merges(vocab, rounds = 2)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(4)))
    assert(rules.toSeq == Seq((1L, "a", "b", 6L), (2L, "ab", "ab", 3L)))
  }

  test("BPE: overlapping pair merges left-to-right greedily") {
    // "aaa": (a,a) appears twice overlapping; greedy L2R merges once →
    // round 2 sees (aa, a), not (a, aa).
    val vocab = Seq(("aaa", 1L)).toDF("word", "c")
    val rules = graft.pipeline.Bpe.merges(vocab, rounds = 2)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(4)))
    assert(rules.toSeq == Seq((1L, "a", "a", 2L), (2L, "aa", "a", 1L)))
  }

  test("BPE matches a naive reference trainer on 12 random vocabularies") {
    // Reference: plain-Scala greedy BPE (pair counts → (cnt desc, pair asc)
    // winner → left-to-right merge). Random small vocabs over {a,b} probe
    // the double-space replace encoding's edge cases (consecutive merges,
    // overlaps, merged-symbol pairs) far past the hand-written examples.
    def refMerges(vocab: Seq[(String, Long)], rounds: Int): Seq[(Long, String, String, Long)] = {
      var seqs = vocab.map { case (w, c) => (w.map(_.toString).toVector, c) }
      (1 to rounds).flatMap { r =>
        val counts = scala.collection.mutable.Map[(String, String), Long]()
        for ((sy, c) <- seqs; i <- 0 until sy.length - 1)
          counts((sy(i), sy(i + 1))) = counts.getOrElse((sy(i), sy(i + 1)), 0L) + c
        if (counts.isEmpty) None
        else {
          val ((a, b), cnt) = counts.toSeq.sortBy { case ((x, y), c) => (-c, x, y) }.head
          seqs = seqs.map { case (sy, c) =>
            val out = Vector.newBuilder[String]
            var i = 0
            while (i < sy.length) {
              if (i + 1 < sy.length && sy(i) == a && sy(i + 1) == b) { out += (a + b); i += 2 }
              else { out += sy(i); i += 1 }
            }
            (out.result(), c)
          }
          Some((r.toLong, a, b, cnt))
        }
      }
    }
    val rnd = new scala.util.Random(42)
    for (_ <- 1 to 12) {
      val vocab = (1 to (1 + rnd.nextInt(5))).map { _ =>
        val w = (1 to (1 + rnd.nextInt(5))).map(_ => ('a' + rnd.nextInt(2)).toChar).mkString
        (w, (1 + rnd.nextInt(4)).toLong)
      }.distinct.groupBy(_._1).map { case (w, g) => (w, g.map(_._2).sum) }.toSeq
      val got = graft.pipeline.Bpe.merges(vocab.toDF("word", "c"), rounds = 3)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(4))).toSeq
      val want = refMerges(vocab, rounds = 3)
      assert(got == want, s"vocab=$vocab got=$got want=$want")
    }
  }

  test("BPE at rounds=20 stays plannable (checkpoint-bounded lineage) and " +
      "matches checkpointEvery=1 exactly") {
    // r14 verdict #8: without lineage truncation the seq plan embeds one
    // crossJoin+replace per round and per-round analysis cost grows with
    // depth (quadratic total). checkpointEvery (default 10) caps plan
    // depth; this pins (a) a wall-clock bound at rounds=20 on a real vocab
    // slice and (b) value-identity across checkpoint cadences.
    val vocab = Tables(spark, sf, "documents")
      .select(explode(graft.functions.TextFunctions.tokens(col("text"))).as("word"))
      .groupBy("word").agg(count(lit(1)).cast("long").as("c"))
      .limit(200).localCheckpoint()
    val t0 = System.nanoTime()
    val r20 = graft.pipeline.Bpe.merges(vocab, rounds = 20)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(4)))
    val secs = (System.nanoTime() - t0) / 1e9
    assert(r20.length == 20)
    // generous bound: the quadratic-depth failure mode is minutes, not 90 s
    assert(secs < 90.0, s"rounds=20 took $secs s — lineage growth regressed?")
    val rEvery1 = graft.pipeline.Bpe.merges(vocab, rounds = 20, checkpointEvery = 1)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(4)))
    assert(rEvery1.toSeq == r20.toSeq,
      "checkpoint cadence must never change trained rules")
  }

  test("BPE: equal-count winners break ties by (a, b) ascending") {
    val vocab = Seq(("cd", 1L), ("ba", 1L)).toDF("word", "c")
    val r1 = graft.pipeline.Bpe.merges(vocab, rounds = 1).collect().head
    assert((r1.getString(1), r1.getString(2)) == (("b", "a")))
  }

  test("CSV round-trip survives embedded newlines and quotes (the s10 options)") {
    val docs = Seq(
      (1L, "line one\nline two", "en"),
      (2L, "says \"hi\" and, commas", "de"),
      (3L, "plain", "es")).toDF("doc_id", "text", "lang")
    val out = java.nio.file.Files.createTempDirectory("graft_csv_spec").toString
    docs.write.mode("overwrite").option("header", "true").csv(out)
    val back = spark.read.schema(docs.schema)
      .option("header", "true").option("multiLine", "true").csv(out)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    val orig = docs.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(back == orig)
  }

  test("LM scoring: word-order scrambling preserves unigram score, shifts bigram score") {
    // The design claim behind shipping BOTH scorers: x12 is a bag-of-words
    // statistic (permutation-invariant by construction), x14 reads order.
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "dog lazy the over jumps fox brown quick the"), // 1 scrambled
      (3L, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    val uni = graft.pipeline.LmScore.unigramAvgLogProb(docs, col("doc_id"), col("text"))
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(uni(1L) == uni(2L) && uni(1L) == uni(3L))
    val bi = graft.pipeline.LmScore.bigramAvgLogProb(docs, col("doc_id"), col("text"))
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(bi(1L) == bi(3L)) // identical docs score identically
    assert(bi(2L) < bi(1L), // scrambled word order craters the fluency score
      s"scrambled=${bi(2L)} original=${bi(1L)}")
  }

  test("semantic dedup with one centroid degrades to exact all-pairs cosine") {
    val emb = Tables(spark, sf, "embeddings")
    val one = emb.filter(col("vec_id") === 0)
      .select(lit(0L).as("cid"),
        transform(col("embedding"), _.cast("double")).as("cvec"))
    val sem = graft.similarity.Ann.semanticDedupPairs(
        emb, col("vec_id"), col("embedding"), one, threshold = 0.3)
      .select(col("va"), col("vb"), round(col("cos"), 6).as("cos"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val exact = graft.similarity.Ann.pairsExact(
        emb, col("vec_id"), col("embedding"), 0.3)
      .select(col("va"), col("vb"), round(col("cos"), 6).as("cos"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(sem == exact && sem.nonEmpty)
  }

  test("semantic dedup blocking: every within-cluster pair is a true-cosine pair") {
    // multi-centroid pairs must be a SUBSET of the exact pair set at the
    // same threshold (blocking can only drop cross-cluster pairs, never
    // invent or rescore one)
    val emb = Tables(spark, sf, "embeddings")
    val cents = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cid"),
        transform(col("embedding"), _.cast("double")).as("cvec"))
    val sem = graft.similarity.Ann.semanticDedupPairs(
        emb, col("vec_id"), col("embedding"), cents, threshold = 0.3)
      .select(col("va"), col("vb"), round(col("cos"), 6).as("cos"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val exact = graft.similarity.Ann.pairsExact(
        emb, col("vec_id"), col("embedding"), 0.3)
      .select(col("va"), col("vb"), round(col("cos"), 6).as("cos"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(sem.nonEmpty && sem.subsetOf(exact))
  }

  test("IVF-assisted assignment: exhaustive probe equals exact assignment") {
    // with nProbe = |coarse| every cell is probed, so the candidate set is
    // the full fine codebook and the argmin (same tie-break) must match the
    // n×k exact path bit-for-bit
    val emb = Tables(spark, sf, "embeddings")
    val cents = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cid"),
        transform(col("embedding"), _.cast("double")).as("cvec"))
    val coarse = emb.filter(col("vec_id") === 0 || col("vec_id") === 4)
      .select(col("vec_id").as("ccid"),
        transform(col("embedding"), _.cast("double")).as("ccvec"))
    val exact = graft.similarity.Ann.assignCentroids(
        emb, col("vec_id"), col("embedding"), cents)
      .select(col("vec_id"), col("cid"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ivf = graft.similarity.Ann.assignCentroidsIvf(
        emb, col("vec_id"), col("embedding"), cents, coarse, nProbe = 2)
      .select(col("vec_id"), col("cid"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ivf == exact && ivf.nonEmpty)
  }

  test("semanticDedupPairs: exact branch below the dial, IVF branch above") {
    // At most 64 centroids the entry must return the exact branch's rows
    // bit-for-bit (this is what keeps d7's oracle hash pinned); past 64 it
    // must return exactly the IVF branch's rows, and the IVF branch must
    // cluster by the derived coarse codebook — every 8th centroid in cid
    // order, 2 probes.
    import graft.similarity.Ann
    val emb = Tables(spark, sf, "embeddings")
    def codebook(n: Int) = emb.filter(col("vec_id") < n)
      .select(col("vec_id").as("cid"),
        transform(col("embedding"), _.cast("double")).as("cvec"))
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select(col("cid"), col("va"), col("vb"), round(col("cos"), 6).as("c"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSet
    def core(cents: org.apache.spark.sql.DataFrame, ivf: Boolean) =
      rows(Ann.semanticDedupPairsCore(emb, col("vec_id"), col("embedding"),
        cents, threshold = 0.4, ivf = ivf))
    def auto(cents: org.apache.spark.sql.DataFrame) =
      rows(Ann.semanticDedupPairs(emb, col("vec_id"), col("embedding"),
        cents, threshold = 0.4))
    val small = codebook(8)
    val exact = core(small, ivf = false)
    assert(auto(small) == exact && exact.nonEmpty)
    val big = codebook(72)
    val ivf = core(big, ivf = true)
    assert(auto(big) == ivf && ivf.nonEmpty)
    // the fixture separates the branches, so the equality above says which
    // one ran
    assert(ivf != core(big, ivf = false))
    // cids 0..71 are contiguous, so every 8th in cid order is cid % 8 == 0
    val coarse = big.filter(pmod(col("cid"), lit(8L)) === 0)
      .select(col("cid").as("ccid"), col("cvec").as("ccvec"))
    val assigned = Ann.assignCentroidsIvf(emb, col("vec_id"),
        col("embedding"), big, coarse, nProbe = 2)
      .select(col("vec_id"), col("cid"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ivf.forall { case (c, va, vb, _) =>
      assigned(va) == c && assigned(vb) == c })
  }

  test("IVF-assisted assignment: single probe assigns every vector, high agreement") {
    // nProbe=1 is the cheapest setting — recall < 1 by construction (a
    // vector whose true cell isn't its nearest coarse cell gets its best
    // probed cell). Contract: still exactly one assignment per vector, and
    // fixture agreement with exact assignment stays high.
    val emb = Tables(spark, sf, "embeddings")
    val cents = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cid"),
        transform(col("embedding"), _.cast("double")).as("cvec"))
    val coarse = emb.filter(col("vec_id") === 0 || col("vec_id") === 4)
      .select(col("vec_id").as("ccid"),
        transform(col("embedding"), _.cast("double")).as("ccvec"))
    val n = emb.count()
    val exact = graft.similarity.Ann.assignCentroids(
        emb, col("vec_id"), col("embedding"), cents)
      .select(col("vec_id"), col("cid"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ivf = graft.similarity.Ann.assignCentroidsIvf(
        emb, col("vec_id"), col("embedding"), cents, coarse, nProbe = 1)
      .select(col("vec_id"), col("cid"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ivf.size.toLong == n, s"expected one assignment per vector: ${ivf.size} vs $n")
    // 0.6 floor: measured 0.678 on this fixture (2 coarse cells over 8 fine
    // centroids drawn from raw data vectors — a deliberately hard quantizer);
    // the point is ≫ the 1/8 random-assignment baseline, not near-exactness,
    // which the exhaustive-probe test above already pins
    val agree = ivf.count { case (v, c) => exact(v) == c }
    assert(agree.toDouble / n >= 0.6,
      s"nProbe=1 agreement ${agree.toDouble / n} below 0.6 ($agree/$n)")
  }

  test("IVF-assisted assignment: a coarse cell owning zero fine centroids " +
      "never swallows vectors (ADVICE r10)") {
    // One fine centroid (= vector 0) and two coarse cells (vectors 0 and 4):
    // the fine centroid maps to coarse cell 0 at distance zero, leaving
    // cell 4 DEAD — it owns no fine centroid. Vectors whose nearest coarse
    // cell is the dead one would, without the live-cell restriction, probe
    // only empty cells at nProbe=1 and vanish from the output. Contract:
    // every vector still gets exactly one assignment, necessarily to the
    // single fine centroid.
    val emb = Tables(spark, sf, "embeddings")
    val cents = emb.filter(col("vec_id") === 0)
      .select(col("vec_id").as("cid"),
        transform(col("embedding"), _.cast("double")).as("cvec"))
    val coarse = emb.filter(col("vec_id") === 0 || col("vec_id") === 4)
      .select(col("vec_id").as("ccid"),
        transform(col("embedding"), _.cast("double")).as("ccvec"))
    val n = emb.count()
    val ivf = graft.similarity.Ann.assignCentroidsIvf(
        emb, col("vec_id"), col("embedding"), cents, coarse, nProbe = 1)
      .select(col("vec_id"), col("cid"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ivf.size.toLong == n,
      s"expected one assignment per vector: ${ivf.size} vs $n")
    assert(ivf.values.forall(_ == 0L))
  }

  test("t9 keyphrases: ≤3 per doc, ranks consecutive, scores match tf×idf_micro") {
    val out = queries.Registry.byName("t9_keyphrase").run(spark, sf).collect()
    val docs = Tables(spark, sf, "documents")
    val n = docs.count()
    val df = docs.select(col("doc_id"),
        explode(graft.functions.TextFunctions.tokens(col("text"))).as("term"))
      .groupBy("term").agg(countDistinct("doc_id").as("df"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    out.groupBy(_.getLong(0)).foreach { case (_, rs) =>
      val ranks = rs.map(_.getLong(1)).sorted
      assert(ranks.length <= 3 && ranks.sameElements(1L to ranks.length))
    }
    out.foreach { r =>
      val (term, tf, score) = (r.getString(2), r.getLong(3), r.getDouble(4))
      val idfMicro = math.floor(math.log(n * 1.0 / df(term)) * 1000000.0 + 0.5).toLong
      assert(math.abs(score - (tf * idfMicro) * 1.0 / 1000000.0) < 1e-6)
    }
  }

  test("char_entropy_sum kernel equals the declarative explode/groupBy form") {
    // the shuffled form the native kernel replaced, kept here as the
    // executable spec (same pattern as SimHashDedup.simhashRef)
    val docs = Tables(spark, sf, "documents")
      .select(col("doc_id"), col("text"))
      .unionByName(Seq(
        (-1L, "aaaaaaaa"),          // single-char flood: entropy 0
        (-2L, "ab"),                // two classes: ln 2
        (-3L, "naïve — café ☕"))   // non-ASCII code points
        .toDF("doc_id", "text"))
    val ref = {
      val counts = docs
        .select(col("doc_id"), explode(split(col("text"), "")).as("ch"))
        .groupBy(col("doc_id"), col("ch")).agg(count(lit(1)).as("cnt"))
      val lens = counts.groupBy(col("doc_id"))
        .agg(sum(col("cnt")).cast("long").as("len"))
      counts.join(lens, "doc_id")
        .select(col("doc_id"), col("len"),
          floor((col("cnt") * log(col("cnt") * lit(1.0) / col("len")))
            * lit(1000000.0) + lit(0.5)).cast("long").as("term_micro"))
        .groupBy(col("doc_id"), col("len"))
        .agg(sum(col("term_micro")).as("s"))
        .select(col("doc_id"), col("len"), col("s"))
        .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    }
    val e = graft.functions.TextFunctions.charEntropySum(col("text"))
    val got = docs
      .select(col("doc_id"), e.getField("n_chars"), e.getField("s_micro"))
      .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(got == ref && got.nonEmpty)
    assert(got(-1L)._2 == 0L)
    // Null contract divergence, pinned explicitly (ADVICE r12): the kernel
    // null-propagates (row survives, struct null) while the declarative
    // form drops the doc — x16's fixture has no null text, so only this
    // assertion exercises the difference.
    val nullDoc = Seq((-4L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val kernelRows = nullDoc
      .select(col("doc_id"), graft.functions.TextFunctions.charEntropySum(col("text")).as("e"))
      .collect()
    assert(kernelRows.length == 1 && kernelRows.head.isNullAt(1),
      "kernel must null-propagate on null text (row survives, struct null)")
    val declarativeRows = nullDoc
      .select(col("doc_id"), explode(split(col("text"), "")).as("ch"))
      .collect()
    assert(declarativeRows.isEmpty,
      "declarative explode form must drop a null-text doc")
  }

  test("x17 approx buckets agree with exact ntile terciles up to boundary ties") {
    def buckets(name: String): Map[Long, String] =
      queries.Registry.byName(name).run(spark, sf)
        .select(col("doc_id"), col("bucket"))
        .as[(Long, String)].collect().toMap
    val exact = buckets("x17_ccnet_buckets")
    val approx = buckets("x17_ccnet_buckets_approx")
    assert(approx.keySet == exact.keySet && exact.nonEmpty)
    val ord = Map("head" -> 0, "middle" -> 1, "tail" -> 2)
    val diff = exact.keys.filter(k => exact(k) != approx(k)).toSeq
    // threshold semantics can only move a doc across ONE adjacent cut —
    // head↔tail flips would mean the cuts themselves are wrong
    assert(diff.forall(k => math.abs(ord(exact(k)) - ord(approx(k))) == 1),
      s"non-adjacent bucket flips: ${diff.take(5).map(k => (k, exact(k), approx(k)))}")
    val agree = (exact.size - diff.size).toDouble / exact.size
    assert(agree >= 0.9, s"bucket agreement $agree below 0.9 (${diff.size} diffs)")
  }

  test("x27: fertility report partitions the corpus; ratios are sane") {
    val rows = graft.queries.Registry.byName("x27_tokenizer_fertility")
      .run(spark, sf).collect()
    assert(rows.nonEmpty)
    val total = Tables(spark, sf, "documents").count()
    assert(rows.map(_.getAs[Long]("n_docs")).sum == total)
    rows.foreach { r =>
      assert(r.getAs[Double]("fertility") > 0.0)
      assert(r.getAs[Double]("chars_per_token") > 0.0)
      assert(r.getAs[Long]("sum_tokens") > 0L &&
        r.getAs[Long]("sum_words") > 0L)
    }
  }

  test("x28: integer PageRank conserves bounded mass and respects the base") {
    val rows = graft.queries.Registry.byName("x28_pagerank_prior")
      .run(spark, sf).collect()
    assert(rows.nonEmpty && rows.length <= 20)
    val nodes = Tables(spark, sf, "events")
      .select(col("user_id")).distinct().count()
    val base = 150000000000000L / nodes
    val ranks = rows.map(_.getAs[Long]("rank"))
    // sorted desc with the registered tie-break
    assert(ranks.zip(ranks.tail).forall { case (a, b) => a >= b })
    // every node receives at least the teleport base; integer floors only
    // ever LOSE mass, so no rank exceeds the whole graph's initial mass
    assert(ranks.forall(r => r >= base && r <= 1000000000000000L))
    // the top node must strictly beat the teleport floor (it has in-edges)
    assert(ranks.head > base)
  }

  test("x29: temperature sampling flattens the distribution, never inverts it") {
    val rows = graft.queries.Registry.byName("x29_temperature_sample")
      .run(spark, sf).collect()
      .map(r => (r.getAs[String]("lang"), r.getAs[Long]("n_docs"),
        r.getAs[Long]("raw_ppm"), r.getAs[Long]("temp_ppm"),
        r.getAs[Long]("alloc_10k")))
    assert(rows.nonEmpty)
    // integer floors only lose mass: shares stay within one ulp of 1
    assert(rows.map(_._4).sum <= 1000000L &&
      rows.map(_._4).sum > 1000000L - rows.length)
    assert(rows.map(_._5).sum <= 10000L)
    // α=0.5 compresses: the largest language's share shrinks, the
    // smallest grows, and the weight order still follows the size order
    val bySize = rows.sortBy(_._2)
    assert(bySize.last._4 <= bySize.last._3, "head language not downsampled")
    assert(bySize.head._4 >= bySize.head._3, "tail language not upsampled")
    assert(bySize.map(_._4).zip(bySize.tail.map(_._4))
      .forall { case (a, b) => a <= b }, "temperature inverted the order")
  }

  test("x30: drift signs are consistent and the head/tail drift directions hold") {
    val rows = graft.queries.Registry.byName("x30_mixture_kl")
      .run(spark, sf).collect()
      .map(r => (r.getAs[String]("lang"), r.getAs[Long]("n_docs"),
        r.getAs[Double]("kl_term"), r.getAs[Boolean]("overrepresented")))
    assert(rows.nonEmpty)
    rows.foreach { case (l, _, kl, over) =>
      // p·ln(p/q) shares p>q's sign (p > 0 always here)
      assert(if (over) kl >= 0.0 else kl <= 0.0, s"$l: kl $kl vs over=$over")
    }
    // α=0.5 flattening guarantees the largest language is over its target
    // and the smallest is under it (strict on non-degenerate fixtures)
    val bySize = rows.sortBy(_._2)
    assert(bySize.last._4, "largest language not overrepresented vs target")
    assert(!bySize.head._4, "smallest language not underrepresented vs target")
  }

  test("x31 LR probe: gradient is addition-order-free, weights move, " +
    "classes separate") {
    import graft.pipeline.QualityClassifier
    // clear two-class fixture: even ids are long + stopword-rich (label 1),
    // odd ids short (label 0)
    val docs = (1L to 120L).map { i =>
      if (i % 2 == 0)
        i -> ("the be to of and that have with " +
          Seq.fill(40)("w").mkString(" "))
      else i -> "just a few odd tokens here"
    }.toDF("doc_id", "text")
    val f = QualityClassifier.features(docs, col("doc_id"), col("text"))
    val w1 = QualityClassifier.train(f)
    // the integer-micros gradient sum must not depend on row order or
    // partitioning — retrain on a reshuffled frame and compare exactly
    val w2 = QualityClassifier.train(f.repartition(7, col("doc_id")))
    assert(w1.toSeq == w2.toSeq, s"order-dependent weights: $w1 vs $w2")
    assert(w1.exists(_ != 0L), "3 GD rounds left every weight at zero")
    val m = QualityClassifier
      .trainAndScore(docs, col("doc_id"), col("text"))
      .groupBy("label").agg(avg("score").as("s")).collect()
      .map(r => r.getInt(0) -> r.getDouble(1)).toMap
    assert(m(1) > m(0),
      s"probe failed to separate its own teacher labels: $m")
    Caches.unpersistAll()
  }

  test("x33 EG reweighting: weights normalize, stay positive, and rank by " +
    "total excess loss") {
    val rows = graft.queries.Registry.byName("x33_domain_reweight")
      .run(spark, sf).collect()
    val nDomains = Tables(spark, sf, "documents")
      .select("source").distinct().count()
    assert(rows.length == nDomains)
    val weights = rows.map(_.getDouble(6))
    assert(weights.forall(_ > 0.0))
    // each weight is round(·, 6), so the sum is within k half-ulps of 1
    assert(math.abs(weights.sum - 1.0) <= rows.length * 5e-7,
      s"weights sum to ${weights.sum}")
    // a3 = 1e6·exp(e1)·exp(e2)·exp(e3) up to per-round rounding, so the
    // raw-weight order must agree with the total-excess order: the domain
    // whose shards ran hottest vs its reference gains the most mass (the
    // DoReMi direction). Each EG round floors at integer micros, so
    // cumulative rounding (~±1.5 counts over 3 rounds) can outweigh a
    // sub-micro excess gap — only check gaps the integer-micro chain can
    // reliably resolve (> 5 micros; ADVICE r17).
    val scored = rows.map { r =>
      val ref = r.getDouble(1)
      val excess = Seq(2, 3, 4).map(i => math.max(r.getDouble(i) - ref, 0.0)).sum
      (excess, r.getLong(5))
    }
    for (Seq((ea, aa), (eb, ab)) <- scored.toSeq.sortBy(_._1).sliding(2)
         if eb - ea > 5e-6) {
      assert(aa <= ab, s"excess $ea -> raw $aa but larger excess $eb -> $ab")
    }
  }
}
