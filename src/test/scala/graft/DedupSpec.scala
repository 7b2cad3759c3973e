package graft

import org.apache.spark.sql.functions._

import graft.dedup.{Dedup, MinHashDedup, SimHashDedup}

class MinHashDedupSpec extends SparkSuite {
  import spark.implicits._

  private def exactJaccardPairs(minJ: Double) = {
    val toks = Tables(spark, sf, "documents")
      .select(col("doc_id"), explode(graft.functions.TextFunctions.shingles(col("text"), 3)).as("t"))
      .distinct()
    val sizes = toks.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    toks.select(col("doc_id").as("da"), col("t"))
      .join(toks.select(col("doc_id").as("db"), col("t")), Seq("t"))
      .filter(col("da") < col("db"))
      .groupBy("da", "db").agg(count(lit(1)).as("i"))
      .join(sizes.select(col("doc_id").as("da"), col("sz").as("sa")), "da")
      .join(sizes.select(col("doc_id").as("db"), col("sz").as("sb")), "db")
      .withColumn("j", col("i").cast("double") / (col("sa") + col("sb") - col("i")))
      .filter(col("j") >= minJ)
      .select("da", "db", "j")
  }

  test("native minhash kernel is bit-identical to the HOF reference composition") {
    val docs = Tables(spark, sf, "documents")
    val both = docs.select(
      MinHashDedup.signature(col("text")).as("native"),
      MinHashDedup.signatureRef(col("text")).as("ref"))
    assert(both.filter(not(col("native") === col("ref"))).count() == 0)
  }

  test("identical texts collide in every band (est_jaccard = 1)") {
    val docs = Seq((1L, "the quick brown fox jumps over the lazy dog again"),
      (2L, "the quick brown fox jumps over the lazy dog again"),
      (3L, "completely different words about spark query engines here"))
      .toDF("doc_id", "text")
    val pairs = MinHashDedup.candidatePairs(docs, col("doc_id"), col("text"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.toSeq == Seq((1L, 2L, 1.0)))
  }

  test("high-Jaccard fixture pairs are recalled by LSH candidates") {
    val docs = Tables(spark, sf, "documents")
    val exact = exactJaccardPairs(0.8).select("da", "db").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val cand = MinHashDedup.candidatePairs(docs, col("doc_id"), col("text"),
        minEstJaccard = 0.0)
      .select("da", "db").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val missed = exact -- cand
    // 8 bands × 8 rows: P(collide | j=0.8) = 1-(1-0.8^8)^8 ≈ 0.78 per pair;
    // require ≥ 60% recall on the fixture's genuinely-high pairs.
    assert(exact.isEmpty || missed.size.toDouble / exact.size < 0.4,
      s"missed ${missed.size} of ${exact.size} high-jaccard pairs")
  }

  test("estimate tracks exact jaccard within 0.25 on strong pairs") {
    val docs = Tables(spark, sf, "documents")
    val exact = exactJaccardPairs(0.7)
    val est = MinHashDedup.candidatePairs(docs, col("doc_id"), col("text"),
      minEstJaccard = 0.0)
    val joined = exact.join(est, Seq("da", "db"))
      .select(abs(col("j") - col("est_jaccard")).as("err"))
    val bad = joined.filter(col("err") > 0.25).count()
    val total = joined.count()
    assert(total == 0 || bad.toDouble / total < 0.1,
      s"$bad of $total estimates off by > 0.25")
  }
}

class DedupFacadeSpec extends SparkSuite {
  import spark.implicits._

  test("Dedup.exact keeps the min-order representative per content key") {
    val df = Seq((3L, "a", "x"), (1L, "a", "x"), (2L, "b", "x"))
      .toDF("seq", "k1", "k2")
    val got = Dedup.exact(df, col("seq"), col("k1"), col("k2"))
      .select("seq").as[Long].collect().sorted.toSeq
    assert(got == Seq(1L, 2L))
  }

  test("Dedup.exactTextGroups finds normalized-text duplicate groups") {
    val df = Seq((1L, "Hello  World"), (2L, "hello world"), (3L, "other"))
      .toDF("doc_id", "text")
    val g = Dedup.exactTextGroups(df, col("doc_id"), col("text")).collect()
    assert(g.length == 1 &&
      g.head.getAs[scala.collection.Seq[Long]]("doc_ids").toSeq == Seq(1L, 2L))
  }

  test("operator-internal caches are registered and released by Caches.unpersistAll") {
    import org.apache.spark.storage.StorageLevel
    graft.Caches.unpersistAll() // isolate from caches of earlier tests
    val docs = Tables(spark, sf, "documents").limit(50)
    Dedup.jaccardPairs(docs, col("doc_id"), col("text"), 0.5).count()
    MinHashDedup.candidatePairs(docs, col("doc_id"), col("text")).count()
    val tracked = graft.Caches.snapshot
    assert(tracked.size == 2, s"expected 2 tracked caches, got ${tracked.size}")
    assert(tracked.forall(_.storageLevel != StorageLevel.NONE), "caches not pinned")
    graft.Caches.unpersistAll()
    assert(tracked.forall(_.storageLevel == StorageLevel.NONE), "caches survived release")
    assert(graft.Caches.snapshot.isEmpty)
    // operators stay correct after release (re-cache on next use)
    assert(MinHashDedup.candidatePairs(docs, col("doc_id"), col("text")).count() >= 0)
    graft.Caches.unpersistAll()
  }

  test("Dedup.incrementalMinhashPairsBanded finds new-vs-existing and new-vs-new " +
    "dups, never existing-vs-existing") {
    val existing = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again"),
      (2L, "the quick brown fox jumps over the lazy dog again"), // dup of 1 (NOT re-paired)
      (3L, "completely different words about spark query engines here"))
      .toDF("doc_id", "text")
    val existingSigs = MinHashDedup.signatures(existing, col("doc_id"), col("text"))
    val fresh = Seq(
      (10L, "the quick brown fox jumps over the lazy dog again"), // dup of 1 & 2
      (11L, "brand new content with no duplicate anywhere at all"),
      (12L, "brand new content with no duplicate anywhere at all")) // dup of 11
      .toDF("doc_id", "text")
    val got = Dedup.incrementalMinhashPairsBanded(fresh, col("doc_id"), col("text"),
        existingSigs, MinHashDedup.banded(existingSigs, 64, 8))
      .select("da", "db").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1L, 10L), (2L, 10L), (11L, 12L))) // no (1,2): not re-paired
  }

  test("Dedup.incrementalMinhashPairsBandedMd5: batch-by-batch chaining over " +
    "a maintained store equals the one-shot full recompute") {
    // The d13 index-maintenance contract: starting from an EMPTY store and
    // feeding the corpus in three batches (append sigs+bands after each),
    // the union of per-batch pair sets must equal the full-corpus pairs —
    // every pair is caught exactly when its LATER member arrives, and
    // nothing already indexed is ever re-paired against itself.
    val docs = Tables(spark, sf, "documents")
    var storeSigs = Seq.empty[(Long, Seq[Long])].toDF("doc_id", "sig")
    var storeBands = Seq.empty[(Long, Int, String)].toDF("doc_id", "band", "band_hash")
    var got = Set.empty[(Long, Long)]
    for (b <- 0 until 3) {
      val batch = docs.filter(pmod(col("doc_id"), lit(3)) === b)
      got ++= Dedup.incrementalMinhashPairsBandedMd5(
          batch, col("doc_id"), col("text"), storeSigs, storeBands)
        .select("da", "db").collect().map(r => (r.getLong(0), r.getLong(1)))
      val sigs = batch.select(col("doc_id"),
        MinHashDedup.signatureMd5(col("text")).as("sig"))
      storeSigs = storeSigs.unionByName(sigs)
      storeBands = storeBands.unionByName(
        MinHashDedup.banded(sigs, 64, 8, MinHashDedup.stringBandKey))
    }
    val full = MinHashDedup.candidatePairsMd5(docs, col("doc_id"), col("text"))
      .select("da", "db").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == full, s"chained=${got.size} full=${full.size}")
    assert(full.nonEmpty, "fixture has no near-dup pairs — test is vacuous")
    graft.Caches.unpersistAll()
  }

  test("Dedup.incrementalMinhashPairsBanded: broadcastBatch=false (the " +
    "large-batch shuffle fallback) returns identical rows") {
    // ADVICE r18: a batch too big to broadcast must degrade to a shuffled
    // band join, not fail at the 8 GB ceiling — same pairs either way.
    val docs = Tables(spark, sf, "documents")
    val store = docs.filter(pmod(col("doc_id"), lit(2)) === 0)
    val storeSigs = MinHashDedup.signatures(store, col("doc_id"), col("text"))
    val storeBands = MinHashDedup.banded(storeSigs, 64, 8)
    val batch = docs.filter(pmod(col("doc_id"), lit(2)) === 1)
    val newSigs = MinHashDedup.signatures(batch, col("doc_id"), col("text"))
    val newBands = MinHashDedup.banded(newSigs, 64, 8)
    def rows(pairs: org.apache.spark.sql.DataFrame) = {
      val r = pairs.select("da", "db", "est_jaccard")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      graft.Caches.unpersistAll()
      r
    }
    def core(bcast: Boolean) = rows(Dedup.incrementalPairsCore(newBands,
      storeBands.union(newBands), storeSigs.union(newSigs), 64, 0.5, bcast))
    val a = core(bcast = true)
    val b = core(bcast = false)
    // r19 advice residue: the public entry selects from the batch's size
    // (this small batch lands on the broadcast side) — same rows either way.
    val c = rows(Dedup.incrementalMinhashPairsBanded(
      batch, col("doc_id"), col("text"), storeSigs, storeBands))
    assert(a == b && a == c && a.nonEmpty)
  }

  test("Dedup.components: chain collapses to min id, singleton keeps its own") {
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("da", "db")
    val nodes = Seq(1L, 2L, 3L, 4L, 5L, 6L).toDF("node")
    val got = Dedup.components(pairs, nodes)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 5L, 6L -> 5L))
  }

  test("Dedup.components: chains, cliques and fixture pairs match a driver-side " +
    "union-find") {
    // min-id component of every node by union-find over collected pairs
    def reference(pairs: Seq[(Long, Long)], nodes: Seq[Long]): Map[Long, Long] = {
      val parent = scala.collection.mutable.Map(nodes.map(n => n -> n): _*)
      def find(n: Long): Long = if (parent(n) == n) n else find(parent(n))
      pairs.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      nodes.map(n => n -> find(n)).toMap
    }
    def toMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // 8-node chain (worst case for plain propagation) + 3-clique + singleton
    val chain = (1L to 7L).map(i => (i, i + 1)) ++
      Seq((20L, 21L), (21L, 22L), (20L, 22L))
    val chainNodes = (1L to 8L) ++ Seq(20L, 21L, 22L) :+ 99L
    val got = toMap(Dedup.components(chain.toDF("da", "db"), chainNodes.toDF("node")))
    assert(got == reference(chain, chainNodes))
    assert(got(8L) == 1L && got(22L) == 20L && got(99L) == 99L)
    // fixture candidate graph
    val docs = Tables(spark, sf, "documents")
    val jp = Dedup.jaccardPairs(docs, col("doc_id"), col("text"), 0.5,
      Seq(col("lang"), col("source")))
    val jpRows = jp.select("da", "db").as[(Long, Long)].collect().toSeq
    val ids = docs.select("doc_id").as[Long].collect().toSeq
    assert(jpRows.nonEmpty, "fixture has no Jaccard pairs — test is vacuous")
    assert(toMap(Dedup.components(jp, docs.select(col("doc_id").as("node")))) ==
      reference(jpRows, ids))
    graft.Caches.unpersistAll()
  }

  test("Dedup.components: empty pair set leaves every node its own component") {
    val pairs = Seq.empty[(Long, Long)].toDF("da", "db")
    val nodes = Seq(1L, 2L, 3L).toDF("node")
    val got = Dedup.components(pairs, nodes)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 2L, 3L -> 3L))
  }

  test("Dedup.components: no cached plan of the call outlives " +
    "Caches.unpersistAll") {
    // every label-propagation round caches its frame; superseded rounds are
    // released inside, the last one by the caller's unpersistAll
    graft.Caches.unpersistAll()
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val pairs = (1L to 7L).map(i => (i, i + 1)).toDF("da", "db")
    val got = Dedup.components(pairs, (1L to 8L).toDF("node"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == (1L to 8L).map(_ -> 1L).toMap)
    graft.Caches.unpersistAll()
    val left = sc.getPersistentRDDs.keySet -- before
    assert(left.isEmpty, s"${left.size} cached RDDs outlived the call")
  }

  test("Dedup.dedupGroups marks exactly one representative per cluster") {
    val docs = Seq((10L, "x"), (11L, "x"), (12L, "y")).toDF("doc_id", "text")
    val pairs = Seq((10L, 11L)).toDF("da", "db")
    val g = Dedup.dedupGroups(docs, col("doc_id"), pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    assert(g == Set((10L, 10L, true), (11L, 10L, false), (12L, 12L, true)))
  }

  test("Dedup.jaccardPairs with blocking matches the unblocked result on one block") {
    val docs = Tables(spark, sf, "documents").limit(100)
    val un = Dedup.jaccardPairs(docs, col("doc_id"), col("text"), 0.5)
      .select("da", "db").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val blocked = Dedup.jaccardPairs(docs, col("doc_id"), col("text"), 0.5,
        Seq(lit("all")))
      .select("da", "db").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(un == blocked)
  }

  test("Dedup.jaccardPairs: sort-based pair aggregate (default) equals the " +
      "hash-aggregate form, values included — blocked and unblocked") {
    val docs = Tables(spark, sf, "documents")
    // jaccardPairs and containmentPairs both score the rows of this core:
    // every (da, db, i, sa, sb) pair row, with no threshold, is identical
    // under both pair-count strategies
    def core(blocks: Seq[org.apache.spark.sql.Column], sortAgg: Boolean) =
      Dedup.pairIntersections(docs, col("doc_id"), col("text"), blocks, sortAgg)
        .select("da", "db", "i", "sa", "sb").collect().map(_.toSeq).toSet
    for (blocks <- Seq(Seq.empty, Seq(col("lang"), col("source")))) {
      val sorted = core(blocks, sortAgg = true)
      assert(sorted.nonEmpty && sorted == core(blocks, sortAgg = false))
    }
    // and the public entry is the sort form, scored
    def toSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1),
        math.round(r.getDouble(2) * 1e9))).toSet
    val hashed = toSet(Dedup.jaccardOf(Dedup.pairIntersections(
      docs, col("doc_id"), col("text"), Seq.empty, sortAgg = false), 0.5))
    assert(toSet(Dedup.jaccardPairs(docs, col("doc_id"), col("text"), 0.5)) == hashed &&
      hashed.nonEmpty)
  }

  test("Dedup.jaccardPairsPrefix equals jaccardPairs: pairs AND jaccard values, " +
      "blocked and unblocked, at several thresholds") {
    val docs = Tables(spark, sf, "documents")
    for (t <- Seq(0.3, 0.5, 0.8)) {
      val base = Dedup.jaccardPairs(docs, col("doc_id"), col("text"), t)
        .collect().map(r => (r.getLong(0), r.getLong(1),
          math.round(r.getDouble(2) * 1e9))).toSet
      val pref = Dedup.jaccardPairsPrefix(docs, col("doc_id"), col("text"), t)
        .collect().map(r => (r.getLong(0), r.getLong(1),
          math.round(r.getDouble(2) * 1e9))).toSet
      assert(pref == base, s"threshold $t")
    }
    // blocked at t=0.5 AND at t=0.8 — the d2_jaccard_prefix registry query
    // runs the 0.8 blocked point (the technique's design point)
    for (t <- Seq(0.5, 0.8)) {
      val baseB = Dedup.jaccardPairs(docs, col("doc_id"), col("text"), t,
          Seq(col("lang"), col("source")))
        .select("da", "db").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val prefB = Dedup.jaccardPairsPrefix(docs, col("doc_id"), col("text"), t,
          Seq(col("lang"), col("source")))
        .select("da", "db").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(prefB == baseB, s"blocked threshold $t")
    }
  }

  test("Dedup.containmentPairsPrefix equals containmentPairs: pairs AND all " +
      "columns, blocked and unblocked, at several thresholds — incl. the " +
      "d12 registry point (t=0.6, dense fixture)") {
    def key(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4),
        math.round(r.getAs[Double]("containment") * 1e9),
        math.round(r.getAs[Double]("jaccard") * 1e9))).toSet
    val docs = Tables(spark, sf, "documents")
    for (t <- Seq(0.3, 0.6, 0.9)) {
      val base = key(Dedup.containmentPairs(docs, col("doc_id"), col("text"), t))
      val pref = key(Dedup.containmentPairsPrefix(docs, col("doc_id"), col("text"), t))
      assert(pref == base, s"threshold $t")
    }
    // the registry point: dense fixture (subset copies → containment 1.0),
    // blocked — must be non-trivially populated, not a 1-pair gate
    val dense = graft.queries.DedupQueries.denseDocs(spark, sf)
    val baseB = key(Dedup.containmentPairs(dense, col("doc_id"), col("text"), 0.6,
      Seq(col("lang"), col("source"))))
    val prefB = key(Dedup.containmentPairsPrefix(dense, col("doc_id"), col("text"), 0.6,
      Seq(col("lang"), col("source"))))
    assert(prefB == baseB)
    assert(baseB.size >= 10, s"dense fixture too thin: ${baseB.size} pairs")
    // the crafted copies really are exact-subset pairs: containment == 1.0
    assert(baseB.count(_._6 == 1000000000L) >= 10)
  }

  test("Dedup.evalOverlap: fraction bounds, and the <n-token null contract") {
    val train = Seq(
      (1L, "a b c d e"),          // shares shingle "a b c" with eval 10
      (2L, "x y z w v")).toDF("doc_id", "text")
    val eval_ = Seq(
      (10L, "a b c q r"),         // 3 of 3... shingles: "a b c","b c q","c q r" -> 1 matched
      (11L, "p q"),               // < 3 tokens: 0 shingles -> NULL frac, burned=false
      (12L, "x y z w v")).toDF("doc_id", "text")  // fully contained
    val out = Dedup.evalOverlap(train, eval_, col("doc_id"), col("text"))
      .orderBy("doc_id").collect()
    assert(out.length == 3)
    val r10 = out(0)
    assert(r10.getAs[Long]("n_shingles") == 3 && r10.getAs[Long]("n_matched") == 1)
    assert(math.abs(r10.getAs[Double]("overlap_frac") - 0.333333) < 1e-6)
    assert(r10.getAs[Boolean]("burned"))
    val r11 = out(1)
    assert(r11.getAs[Long]("n_shingles") == 0 && r11.getAs[Long]("n_matched") == 0)
    assert(r11.isNullAt(r11.fieldIndex("overlap_frac")))
    assert(!r11.getAs[Boolean]("burned"))   // NULL-guarded, never NaN>=t
    val r12 = out(2)
    assert(r12.getAs[Double]("overlap_frac") == 1.0 && r12.getAs[Boolean]("burned"))
  }

  test("prefix filtering indexes strictly fewer postings than the full self-join") {
    // the structural claim: the candidate index carries only each doc's
    // (sz - ceil(t*sz) + 1) rarest tokens — at t=0.8 that's ~a fifth of the
    // postings, and the win grows with the threshold
    val docs = Tables(spark, sf, "documents")
    val full = Dedup.jaccardPairs(docs, col("doc_id"), col("text"), 0.8)
    full.count() // materialize so the shared toks cache exists either way
    val toks = docs.select(col("doc_id"),
        explode(graft.functions.TextFunctions.bigrams(col("text"))).as("term"))
      .distinct()
    val nPost = toks.count()
    val sizes = toks.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val nPrefix = sizes.select(
      sum(col("sz") - ceil(col("sz") * 0.8 - 1e-9) + 1)).collect()(0).getLong(0)
    assert(nPrefix * 3 < nPost,
      s"prefix index $nPrefix vs postings $nPost — pruning structurally absent")
  }
}

class SimHashDedupSpec extends SparkSuite {
  import spark.implicits._

  test("native simhash64 kernel is bit-identical to the HOF reference composition") {
    val docs = Tables(spark, sf, "documents")
    val both = docs.select(
      SimHashDedup.simhash(col("text")).as("native"),
      SimHashDedup.simhashRef(col("text")).as("ref"))
    assert(both.filter(not(col("native") === col("ref"))).count() == 0)
  }

  test("identical text → identical simhash; hamming 0") {
    val docs = Seq((1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text")
    val pairs = SimHashDedup.candidatePairs(docs, col("doc_id"), col("text"))
      .collect()
    assert(pairs.length == 1 && pairs.head.getAs[Number]("hamming").longValue == 0L)
  }

  test("one changed token → small hamming distance") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota lambda"))
      .toDF("doc_id", "text")
    val sigs = SimHashDedup.signatures(docs, col("doc_id"), col("text"))
      .select("simhash").collect().map(_.getLong(0))
    val ham = java.lang.Long.bitCount(sigs(0) ^ sigs(1))
    assert(ham <= 16, s"hamming was $ham")
  }

  test("unrelated texts land far apart") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "one two three four five six seven eight nine ten"))
      .toDF("doc_id", "text")
    val sigs = SimHashDedup.signatures(docs, col("doc_id"), col("text"))
      .select("simhash").collect().map(_.getLong(0))
    assert(java.lang.Long.bitCount(sigs(0) ^ sigs(1)) > 10)
  }

  test("pigeonhole blocking is complete for hamming ≤ 3") {
    // flip 3 bits spread across blocks of a base signature's text → the
    // pair must still be produced by the block join. Use signatures directly:
    val docs = Tables(spark, sf, "documents").limit(50)
    val sigs = SimHashDedup.signatures(docs, col("doc_id"), col("text"))
    val exact = sigs.as("a").join(sigs.as("b"),
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"),
        SimHashDedup.hamming(col("a.simhash"), col("b.simhash")).as("h"))
      .filter(col("h") <= 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val cand = SimHashDedup.candidatePairs(docs, col("doc_id"), col("text"), 3)
      .select("da", "db").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.subsetOf(cand))
  }

  test("containment catches a fully-embedded sub-document that Jaccard misses") {
    import spark.implicits._
    // doc 2 is doc 1's first sentence verbatim inside a much longer doc:
    // every bigram of 2 appears in 1 → containment 1.0, but the union is
    // dominated by 1's extra text so Jaccard stays low
    val short = "alpha beta gamma delta epsilon"
    val long = short + " " + (1 to 40).map(i => s"w$i").mkString(" ")
    val docs = Seq((1L, long), (2L, short)).toDF("doc_id", "text")
    val cont = Dedup.containmentPairs(docs, col("doc_id"), col("text"), 0.9)
      .collect()
    assert(cont.length == 1)
    val r = cont.head
    assert(r.getAs[Double]("containment") == 1.0)
    assert(r.getAs[Double]("jaccard") < 0.5)
    // the symmetric metric at the same bar finds nothing — the gap d12 closes
    assert(Dedup.jaccardPairs(docs, col("doc_id"), col("text"), 0.5).count() == 0)
  }
}
