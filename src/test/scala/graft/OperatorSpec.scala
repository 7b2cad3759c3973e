package graft

import org.apache.spark.sql.functions._

import graft.operators.{AsOfJoin, BloomPrune, Bucketing, HeavyHitters, Salt}

class OperatorSpec extends SparkSuite {
  import spark.implicits._

  test("as-of join picks the latest right row at or before each left time") {
    val trades = Seq((1L, "A", 100L), (2L, "A", 205L), (3L, "B", 150L))
      .toDF("trade_id", "sym", "t")
    val quotes = Seq(("A", 90L, 10.0), ("A", 100L, 11.0), ("A", 200L, 12.0),
      ("B", 100L, 20.0), ("B", 160L, 21.0))
      .toDF("sym", "t", "px")
    val got = AsOfJoin.latestAtOrBefore(trades, quotes,
        leftId = "trade_id", key = "sym", leftTime = "t", rightTime = "t")
      .select(col("left.trade_id"), col("right.px"))
      .as[(Long, Double)].collect().toMap
    // trade1@100 → quote@100 (11.0); trade2@205 → quote@200 (12.0);
    // trade3@150 → quote@100 (20.0, not the later 160)
    assert(got == Map(1L -> 11.0, 2L -> 12.0, 3L -> 20.0))
  }

  test("as-of join with tolerance nulls out too-old right rows") {
    val l = Seq((1L, "A", 100L)).toDF("id", "k", "t")
    val r = Seq(("A", 10L, 1.0)).toDF("k", "t", "v")
    val within = AsOfJoin.latestAtOrBefore(l, r, "id", "k", "t", "t", Some(lit(200L)))
    assert(within.count() == 1 && within.filter(col("right").isNotNull).count() == 1)
    // left_outer as-of: the left row survives, but the out-of-tolerance
    // right candidate is not matched → null right struct
    val tooOld = AsOfJoin.latestAtOrBefore(l, r, "id", "k", "t", "t", Some(lit(50L)))
    assert(tooOld.count() == 1 && tooOld.filter(col("right").isNull).count() == 1)
  }

  test("salted aggregation equals direct aggregation") {
    val e = Tables(spark, sf, "events")
    val direct = e.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("user_id")).as("us"))
      .select(col("event_type").as("key"), col("n"), col("us"))
    val salted = Salt.saltedCountSum(e, col("event_type"), 8,
      Map("us" -> col("user_id")))
    assert(direct.exceptAll(salted).count() == 0)
    assert(salted.exceptAll(direct).count() == 0)
  }

  test("salted join equals the plain join row-for-row") {
    val li = Tables(spark, sf, "lineitem")
      .select(col("l_orderkey").as("o_orderkey"), col("l_quantity"))
    val ord = Tables(spark, sf, "orders").select(col("o_orderkey"), col("o_totalprice"))
    val plain = li.join(ord, Seq("o_orderkey"))
    val salted = Salt.saltedJoin(li, ord, "o_orderkey", buckets = 8)
      .select(plain.columns.map(col): _*)
    assert(plain.exceptAll(salted).count() == 0)
    assert(salted.exceptAll(plain).count() == 0)
  }

  test("bloom prune: no false negatives, real pruning, deterministic") {
    val li = Tables(spark, sf, "lineitem").select(col("l_orderkey"))
    val keys = Tables(spark, sf, "orders")
      .filter(col("o_orderkey") % 10 === 0).select(col("o_orderkey"))
    val pruned = BloomPrune.pruned(li, col("l_orderkey"), keys, col("o_orderkey"),
      expectedItems = 10000L, numBits = 100000L)
    val exact = li.join(keys, col("l_orderkey") === col("o_orderkey"), "left_semi")
    // every true match survives the bloom (no false negatives)
    assert(exact.exceptAll(pruned).count() == 0)
    // the filter actually prunes (false-positive rate is bounded, not 1)
    val (full, kept) = (li.count(), pruned.count())
    assert(kept < full, s"bloom kept everything ($kept of $full)")
    // deterministic across evaluations (bit-OR is commutative)
    assert(kept == BloomPrune.pruned(li, col("l_orderkey"), keys,
      col("o_orderkey"), 10000L, 100000L).count())
  }

  test("uuid() generates unique well-formed ids (F4 — nondeterministic, no oracle)") {
    val ids = Tables(spark, sf, "events").limit(100)
      .select(expr("uuid()").as("u")).as[String].collect()
    assert(ids.distinct.length == 100)
    val Rfc4122 = "[0-9a-f]{8}-[0-9a-f]{4}-4[0-9a-f]{3}-[89ab][0-9a-f]{3}-[0-9a-f]{12}"
    assert(ids.forall(_.matches(Rfc4122)))
  }

  test("bucketed join plans without a shuffle exchange") {
    spark.sql("DROP TABLE IF EXISTS bkt_orders")
    spark.sql("DROP TABLE IF EXISTS bkt_lineitem")
    Bucketing.writeBucketed(
      Tables(spark, sf, "orders").select("o_orderkey", "o_totalprice"),
      "bkt_orders", 4, "o_orderkey")
    Bucketing.writeBucketed(
      Tables(spark, sf, "lineitem").select("l_orderkey", "l_quantity")
        .withColumnRenamed("l_orderkey", "o_orderkey"),
      "bkt_lineitem", 4, "o_orderkey")
    val joined = Bucketing.bucketJoin(spark, "bkt_orders", "bkt_lineitem", "o_orderkey")
    assert(joined.count() > 0)
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"bucketed join still shuffles:\n$plan")
  }

  test("j9_bucketed_join registry query: the join itself plans shuffle-free") {
    // Run the registry query's write phase, then re-derive the bare join
    // (pre-aggregation) and assert no Exchange feeds the SortMergeJoin:
    // the only hashpartitioning Exchange allowed is the post-join groupBy's.
    val q = graft.queries.Registry.byName("j9_bucketed_join")
    assert(q.run(spark, sf).count() == 5)
    val t = graft.Harness.tag(sf)
    withSQLConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val joined = Bucketing.bucketJoin(spark, s"bkt_orders_$t", s"bkt_lineitem_$t", "o_orderkey")
      joined.count()
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"j9's bucketed join still shuffles:\n$plan")
    }
  }

  test("s7_partitioned_prune reads only the 7 filtered day partitions of 30") {
    val q = graft.queries.Registry.byName("s7_partitioned_prune")
    assert(q.run(spark, sf).count() > 0)
    val out = graft.Harness.scratch("graft_part", sf)
    // filter-only probe (no shuffle → no AQE wrapper hiding the scan node)
    val pruned = spark.read.parquet(out)
      .filter(col("event_date").between(lit("2024-01-10"), lit("2024-01-16")))
      .select(col("event_type"))
    pruned.count()
    val scans = pruned.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.nonEmpty)
    assert(scans.map(_.selectedPartitions.partitionCount).sum == 7,
      s"pruned scan read ${scans.map(_.selectedPartitions.partitionCount).sum} partitions, wanted 7 of 30")
  }

  test("misra-gries sketch keeps every term above N/k under any partitioning") {
    import spark.implicits._
    // 20 + 12 hot occurrences in a 132-token stream, k=8 → threshold
    // N/k = 16.5: hot1 MUST survive; hot2 (12 < 16.5) may or may not.
    val tokens =
      Seq.fill(20)("hot1") ++ Seq.fill(12)("hot2") ++ (1 to 100).map(i => s"u$i")
    for (parts <- Seq(1, 3, 7)) {
      val ds = spark.createDataset(tokens).repartition(parts)
      val sketch = HeavyHitters.misraGries(ds, k = 8)
      assert(sketch.size <= 8, s"sketch overflowed k: ${sketch.size}")
      assert(sketch.contains("hot1"),
        s"MG guarantee broken at $parts partitions: $sketch")
      // lower-bound property: sketch count never exceeds the true count
      assert(sketch("hot1") <= 20)
    }
  }

  test("heavy hitters on an empty stream return an empty result, not an error") {
    import spark.implicits._
    val empty = spark.createDataset(Seq.empty[String]).toDF("term")
    assert(HeavyHitters.exactViaSketch(empty, col("term"), phi = 200, k = 256)
      .count() == 0)
  }

  test("heavy hitters via MG sketch-prune equal the exact full group-by") {
    val terms = Tables(spark, sf, "documents")
      .select(explode(graft.functions.TextFunctions.tokens(col("text"))).as("term"))
    val n = terms.count()
    val exact = terms.groupBy(col("term")).agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") * 200 > n)
    val viaSketch = HeavyHitters.exactViaSketch(terms, col("term"), phi = 200, k = 256)
    assert(exact.count() > 0, "fixture has no heavy hitters — test is vacuous")
    assert(exact.exceptAll(viaSketch).count() == 0)
    assert(viaSketch.exceptAll(exact).count() == 0)
  }

  test("s8_compaction layout: per-file key intervals are pairwise disjoint") {
    val q = graft.queries.Registry.byName("s8_compaction")
    val rows = q.run(spark, sf).count()
    assert(rows > 0)
    val out = graft.Harness.scratch("graft_compact", sf)
    val spans = spark.read.parquet(out)
      .groupBy(col("_metadata.file_path").as("f"))
      .agg(min(col("event_id")).as("lo"), max(col("event_id")).as("hi"))
      .orderBy(col("lo"))
      .select(col("lo"), col("hi"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(spans.length >= 2, "compaction produced a single file — assert is vacuous")
    spans.sliding(2).foreach { case Array((_, hi1), (lo2, _)) =>
      assert(hi1 < lo2, s"file intervals overlap: hi=$hi1 vs next lo=$lo2 in ${spans.toSeq}")
    }
  }

  test("AQE splits a skewed join partition at runtime (the no-code-change skew path)") {
    import spark.implicits._
    // one hot key carrying ~97% of the fact side — the shape that strands
    // a single reducer for the whole stage without intervention. Salt
    // (OperatorSpec above) is the MANUAL fix; this pins the AQE fix: with
    // skew-join enabled and thresholds scaled to fixture size, the runtime
    // re-plan splits the hot partition across tasks (skew=true in the SMJ).
    val fact = ((1 to 30000).map(_ => 1L) ++ (1 to 1000).map(i => (i % 50) + 2L))
      .toDF("k").withColumn("payload", concat(lit("x"), monotonically_increasing_id()))
    val dim = (1L to 60L).toDF("k").withColumn("attr", col("k") * 10)
    withSQLConf(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2.0",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "65536",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "65536",
      "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "16384") {
      val joined = fact.join(dim, "k")
      // materialize THIS plan (count() would build a different query whose
      // AQE run leaves `joined`'s own plan un-finalized)
      assert(joined.collect().length == 31000)
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"AQE did not mark the skewed join (no skew=true):\n$plan")
    }
  }

  test("a12_mg plan: the candidate filter sits below the aggregation exchange") {
    // the scale contract of sketch-prune: the groupBy's shuffle carries only
    // the ≤ k candidate terms, i.e. the IN-set filter is on the scan side of
    // the first Exchange, not after it
    val df = graft.queries.Registry.byName("a12_heavy_hitters_mg").run(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    val filterAt = plan.indexOf("INSET")
    val exchangeAt = plan.indexOf("Exchange hashpartitioning")
    assert(filterAt >= 0, s"no INSET candidate filter in plan:\n$plan")
    assert(exchangeAt >= 0 && filterAt > exchangeAt,
      "candidate INSET filter is not below the aggregation exchange " +
        s"(filter@$filterAt exchange@$exchangeAt)\n$plan")
  }

  test("d13 plan: the persisted index is only broadcast-joined, never shuffled") {
    // the batch-proportional contract of the incremental dedup core: the
    // store's band index is probed with the BATCH side broadcast, and the
    // signature lookups are broadcast-semi-pruned to candidate ids — so no
    // join in the plan may be a SortMergeJoin/ShuffledHashJoin (either
    // would exchange the corpus-sized store). Hints make this shape
    // input-size-independent; this pin catches a silent hint regression.
    val idx = graft.Harness.scratch("graft_plan_mhidx", sf)
    val docs = Tables(spark, sf, "documents")
    graft.dedup.MinHashDedup.signatures(
        docs.filter(pmod(col("doc_id"), lit(2)) === 0), col("doc_id"), col("text"))
      .write.mode("overwrite").parquet(s"$idx/sigs")
    graft.dedup.MinHashDedup.banded(spark.read.parquet(s"$idx/sigs"), 64, 8)
      .write.mode("overwrite").parquet(s"$idx/bands")
    val pairs = graft.dedup.Dedup.incrementalMinhashPairsBanded(
      docs.filter(pmod(col("doc_id"), lit(2)) === 1), col("doc_id"), col("text"),
      spark.read.parquet(s"$idx/sigs"), spark.read.parquet(s"$idx/bands"))
    pairs.collect()
    val plan = pairs.queryExecution.executedPlan.toString
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      s"incremental core shuffle-joined the store:\n$plan")
    assert(plan.contains("BroadcastHashJoin"), s"no broadcast probe in plan:\n$plan")
    assert(plan.contains("LeftSemi"), s"candidate-id semi prune missing:\n$plan")
    graft.Caches.unpersistAll()
  }

  test("fuzzy join finds exactly the distance-1 pairs: subst, ins/del, no false hits") {
    import spark.implicits._
    val terms = Seq("cat", "cut", "cart", "at", "dog", "dig", "cats", "act")
      .toDF("term")
    val got = graft.operators.FuzzyJoin.editDistance1Pairs(terms)
      .as[(String, String)].collect().toSet
    // cat~cut (subst), cat~cart (insert), cat~at (delete), cat~cats (insert),
    // dog~dig (subst), at~act (insert); NOT act~cat (transposition = dist 2),
    // NOT cart~cats (dist 2)
    assert(got == Set(
      ("cart", "cat"), ("at", "cat"), ("cat", "cats"),
      ("cat", "cut"), ("dig", "dog"), ("act", "at")),
      s"got $got")
  }

  test("fuzzy join: empty term pairs with single chars, fabricates nothing") {
    import spark.implicits._
    // Spark evaluates sequence(0, -1) DESCENDING to [0, -1] rather than
    // empty, so an unguarded variant build on "" fabricates bogus deletion
    // variants. The guard gives "" no variants; its true distance-1
    // partners (single chars) still arrive via the longer side's deletion
    // variant matching the whole term "".
    val terms = Seq("", "a", "b", "ab", "xy").toDF("term")
    val got = graft.operators.FuzzyJoin.editDistance1Pairs(terms)
      .as[(String, String)].collect().toSet
    assert(got == Set(
      ("", "a"), ("", "b"),           // ins/del with the empty term
      ("a", "ab"), ("ab", "b"),       // ins/del ("ab" < "b" lexicographically)
      ("a", "b")),                    // substitution at position 0
      s"got $got")
  }

  test("incremental agg states merge to the full recompute in any order") {
    import graft.operators.IncrementalAgg
    val e = Tables(spark, sf, "events").select(
      col("event_id"), col("event_type"),
      round(col("value") * 100).cast("long").as("vc"))
    val keys = Seq(col("event_type"))
    val full = IncrementalAgg.state(e, keys, col("vc"))
    // three arbitrary slices covering the stream
    val s0 = IncrementalAgg.state(e.filter(col("event_id") % 3 === 0), keys, col("vc"))
    val s1 = IncrementalAgg.state(e.filter(col("event_id") % 3 === 1), keys, col("vc"))
    val s2 = IncrementalAgg.state(e.filter(col("event_id") % 3 === 2), keys, col("vc"))
    def m(a: org.apache.spark.sql.DataFrame, b: org.apache.spark.sql.DataFrame) =
      IncrementalAgg.merge(a, b, Seq("event_type"))
    for (merged <- Seq(m(m(s0, s1), s2), m(s0, m(s1, s2)), m(m(s2, s0), s1))) {
      assert(full.exceptAll(merged).count() == 0 && merged.exceptAll(full).count() == 0,
        "merge is not associative/commutative against the full recompute")
    }
  }

  test("t23 percolate plan: the query store joins by broadcast, never sort-merge") {
    val df = graft.queries.Registry.byName("t23_percolate").run(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      s"percolate's tiny query store should broadcast:\n$plan")
  }

  test("v18 filtered-knn plan: broadcast query vector + TakeOrdered cut") {
    val df = graft.queries.Registry.byName("v18_filtered_knn").run(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastExchange"),
      s"the 1-row query vector should broadcast:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"the k-cut should be TakeOrdered, not a global sort:\n$plan")
  }

  test("g1 geotile plan: cell ids computed map-side, unused columns pruned at the scan") {
    val df = graft.queries.Registry.byName("g1_geotile_grid").run(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // the grid agg needs only (event_id, user_id, value): ts/props/event_type
    // must not survive into ReadSchema
    val read = plan.linesIterator.filter(_.contains("ReadSchema")).mkString
    assert(read.nonEmpty, s"no ReadSchema in plan:\n$plan")
    assert(!read.contains("props") && !read.contains("event_type"),
      s"geotile scan reads columns the grid doesn't need:\n$read")
  }

  test("a34 MAD plan: rank-based — no per-group array collection anywhere") {
    val df = graft.queries.Registry.byName("a34_median_abs_deviation").run(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("collect_list") && !plan.contains("collect_set"),
      s"MAD must stay rank-based, not array-based:\n$plan")
    assert(plan.contains("Window"), s"expected rank windows in plan:\n$plan")
  }

  test("t27 search_after plan: both the cursor prefix and the page are TakeOrdered") {
    val df = graft.queries.Registry.byName("t27_search_after").run(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"keyset page should be TakeOrdered, not Sort+Limit over a global sort:\n$plan")
    assert(!plan.contains("Exchange rangepartitioning"),
      s"no global range sort should appear:\n$plan")
  }

  private def withSQLConf[A](pairs: (String, String)*)(body: => A): A = {
    val old = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
