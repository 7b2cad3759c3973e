package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.queries.Registry

/** Contract-level checks: registry consistency, entry smoke, approximate
  * ops' error bounds, multimodal plumbing, language-ID accuracy.
  */
class EngineSpec extends SparkSuite {

  test("entry() returns rows (driver smoke contract)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("registry names are unique and every oracle key has a query") {
    val names = Registry.all.map(_.name)
    assert(names.distinct.size == names.size)
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }

  test("every query runs at sf0.001 and is deterministic across runs") {
    // two runs of the same plan must produce identical collected output —
    // catches accidental nondeterminism (unordered limits, RNG, time).
    val flaky = Registry.all.filter { q =>
      val a = q.run(spark, sf).collect()
      val b = q.run(spark, sf).collect()
      !java.util.Arrays.deepEquals(
        a.map(_.toSeq.toArray[Any]).toArray[Any],
        b.map(_.toSeq.toArray[Any]).toArray[Any])
    }
    assert(flaky.isEmpty, s"nondeterministic: ${flaky.map(_.name).mkString(",")}")
  }

  test("approx_count_distinct within 10% of exact (A3 HLL bound)") {
    val e = Tables(spark, sf, "events")
    val exact = e.groupBy("event_type").agg(countDistinct(col("user_id")).as("x"))
    val approx = e.groupBy("event_type")
      .agg(approx_count_distinct(col("user_id"), 0.02).as("a"))
    val bad = exact.join(approx, "event_type")
      .filter(abs(col("x") - col("a")) > col("x") * 0.1)
    assert(bad.count() == 0)
  }

  test("approx_percentile within rank tolerance of exact (h6 GK bound)") {
    // GK guarantees rank error ≤ accuracy⁻¹·n, not value error, so the bound
    // is checked in VALUE space: at sf0.001 each priority group holds ~300
    // orders, where one rank step (exact interpolates between neighbors, the
    // sketch returns an actual data point) moves the value ~1%, so 3%
    // relative is the tight-but-stable bound — a broken sketch path is off
    // by far more.
    val exact = Registry.byName("h6_percentiles").run(spark, sf)
    val approx = Registry.byName("h6_percentiles_approx").run(spark, sf)
    val bad = exact
      .select(col("o_orderpriority"), col("median").as("m_x"), col("p90").as("p_x"))
      .join(approx.select(col("o_orderpriority"), col("median").as("m_a"), col("p90").as("p_a")),
        "o_orderpriority")
      .filter(abs(col("m_x") - col("m_a")) > col("m_x") * 0.03 ||
        abs(col("p_x") - col("p_a")) > col("p_x") * 0.03)
    assert(bad.count() == 0, bad.collect().mkString(","))
  }

  test("language-ID heuristic identifies crafted texts per language") {
    // NB the documents fixture cannot exercise this: its lang labels are
    // synthetic over one shared English vocabulary (verified by inspection),
    // so real sentences are used instead.
    import spark.implicits._
    val samples = Seq(
      ("en", "the cat and the dog walked to the park and it is sunny with friends"),
      ("de", "der hund und die katze sind mit dem kind und das haus ist gross"),
      ("es", "el perro y la casa que es grande con los amigos es bonita"),
      ("fr", "le chien est dans la maison avec les amis et la mer est belle"),
      ("zh", "这是一个中文句子 spark 引擎")).toDF("lang", "text")
    val wrong = samples
      .withColumn("pred", graft.functions.TextFunctions.langId(col("text")))
      .filter(col("lang") =!= col("pred"))
      .collect()
    assert(wrong.isEmpty, wrong.mkString(","))
  }

  test("multimodal feature extraction is exact on a known payload") {
    import spark.implicits._
    implicit val s = spark
    // "abc" bytes = 97 98 99 → width 3, height 1, mean 98, hist bucket 3
    val df = Seq((0L, "abc")).toDF("doc_id", "text")
    val f = graft.multimodal.Multimodal.extractFeatures(
      graft.multimodal.Multimodal.toMedia(df, "doc_id", "text")).collect().head
    assert(f.n_bytes == 3 && f.width == 3 && f.height == 1)
    assert(f.mean_intensity == 98.0)
    assert(f.histogram.toSeq == Seq(0L, 0L, 0L, 3L, 0L, 0L, 0L, 0L))
    assert(f.kind == "image") // doc_id 0 % 3
  }

  test("Aggregator centroid matches the posexplode composition within 1e-9") {
    import org.apache.spark.sql.Row
    val viaUdaf = Tables(spark, sf, "embeddings")
      .groupBy(col("label"))
      .agg(graft.functions.CentroidAgg.centroid(col("embedding")).as("c"))
      .select(col("label"), posexplode(col("c")))
      .select(col("label"), (col("pos") + 1).as("dim"), col("col").as("v"))
    val viaExplode = Tables(spark, sf, "embeddings")
      .select(col("label"), posexplode(col("embedding")))
      .select(col("label"), (col("pos") + 1).as("dim"), col("col").cast("double").as("v"))
      .groupBy(col("label"), col("dim")).agg(avg(col("v")).as("v2"))
    val bad = viaUdaf.join(viaExplode, Seq("label", "dim"))
      .filter(abs(col("v") - col("v2")) > 1e-9)
    assert(bad.count() == 0)
  }

  test("centroid: ragged vectors in one group fail with the equal-length contract") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("g", IntegerType),
      StructField("v", ArrayType(FloatType, containsNull = false))))
    val rows = Seq(Row(1, Seq(1f, 2f)), Row(1, Seq(1f, 2f, 3f)))
    // one row per partition: the lengths meet in merge; one partition: in reduce
    Seq(2, 1).foreach { slices =>
      val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, slices), schema)
      val e = intercept[Exception] {
        df.groupBy(col("g"))
          .agg(graft.functions.CentroidAgg.centroid(col("v")).as("c")).collect()
      }
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(t => String.valueOf(t.getMessage).contains("must have the same length")),
        s"slices=$slices: $e")
    }
  }

  test("centroid: a null vector element fails instead of reading as 0.0") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("g", IntegerType),
      StructField("v", ArrayType(FloatType, containsNull = true))))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(
      Seq(Row(1, Seq(1f, 2f)), Row(1, Seq(3f, null))), 2), schema)
    val e = intercept[Exception] {
      df.groupBy(col("g"))
        .agg(graft.functions.CentroidAgg.centroid(col("v")).as("c")).collect()
    }
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("must have no null elements")),
      e.toString)
    // the interpreted path (the query above runs the generated code)
    val v = org.apache.spark.sql.catalyst.expressions.Literal.create(
      Seq(3f, null), ArrayType(FloatType, containsNull = true))
    intercept[IllegalArgumentException](graft.functions.NonNullElements(v).eval())
  }

  test("IVF knn degrades to exact search at nProbe=ncentroids; partial probe is consistent") {
    // NB the fixture embeddings are near-noise from any single query's view
    // (top-10 cosines ≈ 0.3 spread over ~7 labels — verified by inspection),
    // so a recall floor at small nProbe is not assertable here; the
    // assertable invariants are the exact-degradation guarantee and probe
    // subset consistency.
    val emb = Tables(spark, sf, "embeddings")
    val q = emb.filter(col("vec_id") === 0).select(col("embedding"))
    val rest = emb.filter(col("vec_id") =!= 0)
    val cents = graft.similarity.Ann.centroidsFrom(emb, col("label"), col("embedding"))
    val index = graft.similarity.Ann.ivfIndex(rest, col("vec_id"), col("embedding"), cents)
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("vec_id").collect().map(_.getLong(0)).toSet
    val exact = ids(graft.similarity.Ann.knnExact(
      rest, col("vec_id"), col("embedding"), q, col("embedding"), 10))
    val full = ids(graft.similarity.Ann.knnIvf(index, cents, q, col("embedding"), 10, 10))
    assert(full == exact, "nProbe=ncentroids must equal exact top-k")
    val partial = graft.similarity.Ann.knnIvf(index, cents, q, col("embedding"), 10, 3)
    assert(partial.count() == 10) // still fills k from the probed lists
  }

  test("maxsimTopK: exact path matches the v19 fixed-order definition; " +
      "shortlist path is recall-bounded vs exact") {
    val e = Tables(spark, sf, "embeddings")
      .select(expr("vec_id div 4").as("doc_mv"),
        pmod(col("vec_id"), lit(4)).as("tok"), col("embedding"))
    val docs = e.filter(col("doc_mv") > 0)
    val q = e.filter(col("doc_mv") === 0)
      .select(col("tok").as("qt"), col("embedding").as("qv"))
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id").collect().map(_.getLong(0)).toSeq
    val exact = graft.similarity.Ann.maxsimTopK(
      docs, col("doc_mv"), col("embedding"), q, col("qt"), col("qv"), 10)
    // same ranking as the oracle-gated v19 registry query (which computes
    // the sum in fixed order — only the addition order differs)
    val v19 = graft.queries.VectorQueries.all.find(_.name == "v19_maxsim").get
      .run(spark, sf).select(col("doc_mv").as("doc_id"))
    assert(ids(exact) == v19.collect().map(_.getLong(0)).toSeq)
    // scores are the maxsim sum (sanity: within fp noise of recompute)
    val top = exact.collect().head
    assert(top.getDouble(1) > 0.0 && top.getDouble(1) <= 4.0 + 1e-9)
    // shortlist path: with the full corpus as shortlist it IS exact; with a
    // 32-doc shortlist the mean-pool approximation must keep most of the
    // true top-10 (recall floor calibrated on the fixture)
    val allDocs = docs.select(col("doc_mv")).distinct().count().toInt
    val slFull = graft.similarity.Ann.maxsimTopK(
      docs, col("doc_mv"), col("embedding"), q, col("qt"), col("qv"), 10,
      shortlist = allDocs)
    assert(ids(slFull) == ids(exact))
    val sl32 = graft.similarity.Ann.maxsimTopK(
      docs, col("doc_mv"), col("embedding"), q, col("qt"), col("qv"), 10,
      shortlist = 32)
    val recall = ids(sl32).toSet.intersect(ids(exact).toSet).size
    assert(recall >= 5,
      s"mean-pool shortlist recall $recall/10 below the fixture floor")
  }

  test("multimodal resize + frame sampling produce bounded fixed-shape outputs") {
    import spark.implicits._
    implicit val s = spark
    val mediaDs = graft.multimodal.Multimodal.toMedia(
      Seq((0L, "x" * 100), (1L, "short")).toDF("doc_id", "text"), "doc_id", "text")
    val media = mediaDs.toDF()
    // real resize: every output payload decodes to exactly the target dims
    val resized = graft.multimodal.Multimodal.resizeImage(mediaDs, 6, 5)
      .collect().map(r => graft.multimodal.MediaCodec.decode(r.payload))
    assert(resized.length == 2 &&
      resized.forall { case (w, h, px) => w == 6 && h == 5 && px.length == 30 })
    val frames = graft.multimodal.Multimodal.sampleFrames(media, frameBytes = 16, stride = 32)
    val lens = frames.filter(col("doc_id") === 0)
      .select(octet_length(col("frame"))).as[Int].collect()
    assert(lens.length == 3 && lens.forall(_ <= 16)) // strided fixed-size windows
  }

  test("k-means codebook improves inertia over its init and is deterministic") {
    import graft.similarity.Ann
    val emb = Tables(spark, sf, "embeddings")
    val e = emb.select(col("vec_id"), col("embedding").as("v"))
    val init = e.orderBy(col("vec_id")).limit(8)
      .select(col("vec_id").as("cid"), col("v").as("cvec"))
    val trained = Ann.kmeansCentroids(emb, col("vec_id"), col("embedding"), 8, 4)
    val i0 = Ann.inertia(Ann.ivfIndex(e, col("vec_id"), col("v"), init), init)
    val i1 = Ann.inertia(Ann.ivfIndex(e, col("vec_id"), col("v"), trained), trained)
    assert(i1 < i0, s"inertia did not improve: $i0 -> $i1")
    val trained2 = Ann.kmeansCentroids(emb, col("vec_id"), col("embedding"), 8, 4)
    assert(trained.collect().map(_.toString).sorted.toSeq ==
      trained2.collect().map(_.toString).sorted.toSeq)
  }

  test("int8 quantization reconstructs every element within scale/2 (v10 bound)") {
    // dequantize x̂ = mn + q*scale and check max |x̂ - x| ≤ scale/2 (+ε for
    // the double ops); constant vectors (mx == mn) must reconstruct exactly.
    val emb = Tables(spark, sf, "embeddings")
    val xd = transform(col("embedding"), _.cast("double"))
    val mn = array_min(xd); val mx = array_max(xd)
    val scale = (mx - mn) / lit(255.0)
    val q = when(mx > mn,
      transform(xd, e => least(lit(255.0), floor((e - mn) / scale + lit(0.5)))))
      .otherwise(transform(xd, _ => lit(0.0)))
    val err = zip_with(xd, q, (x, qi) =>
      abs(when(mx > mn, mn + qi * scale).otherwise(mn) - x))
    val worst = emb.select(array_max(err).as("e"), scale.as("s"))
      .agg(max(col("e") - col("s") / 2).as("slack")).head().getDouble(0)
    assert(worst <= 1e-12, s"quantization error exceeded scale/2 by $worst")
    // degenerate: an actually-constant vector round-trips exactly
    import spark.implicits._
    val const = Seq((1L, Array.fill(8)(0.25f))).toDF("vec_id", "embedding")
    val got = const.select(
      when(array_min(transform(col("embedding"), _.cast("double"))) ===
           array_max(transform(col("embedding"), _.cast("double"))), true)
        .otherwise(false)).head().getBoolean(0)
    assert(got)
  }

  test("k-means codebook plan depth is constant across iteration counts") {
    import graft.similarity.Ann
    val emb = Tables(spark, sf, "embeddings")
    // Each Lloyd round materializes the (tiny) codebook on the driver, so
    // the returned plan must not grow with iters — the lineage-growth
    // regression would make depth(iters=6) >> depth(iters=2).
    def depth(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.optimizedPlan.collect { case p => p }.size
    val d2 = depth(Ann.kmeansCentroids(emb, col("vec_id"), col("embedding"), 8, 2))
    val d6 = depth(Ann.kmeansCentroids(emb, col("vec_id"), col("embedding"), 8, 6))
    assert(d2 == d6, s"plan depth grew with iterations: $d2 -> $d6")
  }

  test("ANN LSH pairs are a subset of exact pairs and recall high-cos pairs") {
    val emb = Tables(spark, sf, "embeddings")
    val exact = graft.similarity.Ann.pairsExact(emb, col("vec_id"), col("embedding"), 0.8)
      .select("va", "vb").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = graft.similarity.Ann.pairsLsh(emb, col("vec_id"), col("embedding"), 0.8, 8)
      .select("va", "vb").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(exact)) // same threshold, pruned candidates only
  }

  test("MMR diversify: λ=1 degenerates to top-k, first pick is the relevance " +
    "argmax, and the selected set is more diverse than plain top-k") {
    import graft.similarity.Ann
    val emb = Tables(spark, sf, "embeddings")
    val q = emb.filter(col("vec_id") === 0).select(col("embedding"))
    val rest = emb.filter(col("vec_id") =!= 0)
    val k = 10
    def vecs(ids: Set[Long]): Map[Long, Array[Float]] = emb
      .filter(col("vec_id").isin(ids.toSeq: _*))
      .select(col("vec_id"), col("embedding"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      val d = a.zip(b).map { case (x, y) => x.toDouble * y }.sum
      d / math.sqrt(a.map(x => x.toDouble * x).sum) /
        math.sqrt(b.map(x => x.toDouble * x).sum)
    }
    def meanPairwise(ids: Seq[Long]): Double = {
      val v = vecs(ids.toSet)
      val ps = for (i <- ids.indices; j <- i + 1 until ids.size)
        yield cos(v(ids(i)), v(ids(j)))
      ps.sum / ps.size
    }
    val topk = Ann.knnExact(rest, col("vec_id"), col("embedding"),
        q, col("embedding"), k)
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    // λ=1: diversity term vanishes — selection IS top-k, in rank order
    val degenerate = Ann.mmrDiversify(rest, col("vec_id"), col("embedding"),
        q, col("embedding"), k, shortlist = 100, lambda = 1.0)
      .orderBy("rank").select("vec_id").collect().map(_.getLong(0)).toSeq
    assert(degenerate == topk)
    // λ=0.5 on a corpus with duplicated near-identical vectors (append
    // jittered copies of the top hit): plain top-k drowns in the copies,
    // MMR must (a) still open with the relevance argmax, (b) select a set
    // with strictly lower mean pairwise cosine than plain top-k
    import spark.implicits._
    val top1 = vecs(Set(topk.head))(topk.head)
    val copies = (1 to 8).map { i =>
      (10000L + i, top1.zipWithIndex.map { case (x, j) =>
        if (j == i) x + 0.01f else x })
    }.toDF("vec_id", "embedding")
    val crowded = rest.select(col("vec_id"), col("embedding")).unionByName(copies)
    val crowdedTopk = Ann.knnExact(crowded, col("vec_id"), col("embedding"),
        q, col("embedding"), k)
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    val mmr = Ann.mmrDiversify(crowded, col("vec_id"), col("embedding"),
        q, col("embedding"), k, shortlist = 100, lambda = 0.5)
      .orderBy("rank").collect().map(r => (r.getLong(1), r.getDouble(2)))
    def vecsOf(ids: Seq[Long]): Map[Long, Array[Float]] = {
      val extra = copies.as[(Long, Array[Float])].collect().toMap
      ids.map(i => i -> (if (i > 10000L) extra(i) else vecs(Set(i))(i))).toMap
    }
    def meanPairwiseIn(ids: Seq[Long]): Double = {
      val v = vecsOf(ids)
      val ps = for (i <- ids.indices; j <- i + 1 until ids.size)
        yield cos(v(ids(i)), v(ids(j)))
      ps.sum / ps.size
    }
    val bestRel = mmr.map(_._2).max
    assert(mmr.head._2 == bestRel, "first MMR pick must be the relevance argmax")
    val divTopk = meanPairwiseIn(crowdedTopk)
    val divMmr = meanPairwiseIn(mmr.map(_._1).toSeq)
    assert(divMmr < divTopk,
      s"MMR set not more diverse: mean pairwise cos $divMmr vs top-k $divTopk")
  }

  test("MMR diversify enforces the driver-collect shortlist bound") {
    // r12 verdict #6: the greedy stage collects the shortlist on the
    // driver; the codebook-scale contract must be a hard require, not a
    // comment — oversized shortlists and degenerate k must throw before
    // any job runs.
    import graft.similarity.Ann
    val emb = Tables(spark, sf, "embeddings")
    val q = emb.filter(col("vec_id") === 0).select(col("embedding"))
    val rest = emb.filter(col("vec_id") =!= 0)
    intercept[IllegalArgumentException] {
      Ann.mmrDiversify(rest, col("vec_id"), col("embedding"),
        q, col("embedding"), k = 10, shortlist = 5000, lambda = 0.5)
    }
    intercept[IllegalArgumentException] {
      Ann.mmrDiversify(rest, col("vec_id"), col("embedding"),
        q, col("embedding"), k = 10, shortlist = 5, lambda = 0.5)
    }
    intercept[IllegalArgumentException] {
      Ann.mmrDiversify(rest, col("vec_id"), col("embedding"),
        q, col("embedding"), k = 0, shortlist = 100, lambda = 0.5)
    }
  }

  test("centroid assignment on an empty codebook is an empty result, not null-cid rows") {
    // ADVICE r12: the one-row collect_list codebook broadcast turns an
    // empty centroids frame into an empty array whose array_min is null —
    // the assignment paths must filter those out, restoring the
    // empty-result semantics of the window form they replaced.
    import graft.similarity.Ann
    val emb = Tables(spark, sf, "embeddings")
    val emptyF = emb.filter(lit(false))
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    val emptyD = emb.filter(lit(false))
      .select(col("vec_id").as("cid"),
        transform(col("embedding"), _.cast("double")).as("cvec"))
    assert(Ann.ivfIndex(emb, col("vec_id"), col("embedding"), emptyF).isEmpty)
    assert(Ann.assignCentroids(emb, col("vec_id"), col("embedding"), emptyD).isEmpty)
  }

  test("LSH multi-probe recovers recall a single probe loses (Hamming-1 buckets)") {
    import graft.similarity.Ann
    val emb = Tables(spark, sf, "embeddings")
    val nBits = 4; val k = 10
    // recall vs exact top-k, summed over several query vectors (the fixture
    // is near-noise per-query, so one query's recall is too coarse)
    def recall(hamming: Int): Int = (0L until 5L).map { qid =>
      val q = emb.filter(col("vec_id") === qid).select(col("embedding"))
      val rest = emb.filter(col("vec_id") =!= qid)
      def ids(df: org.apache.spark.sql.DataFrame) =
        df.select("vec_id").collect().map(_.getLong(0)).toSet
      val exact = ids(Ann.knnExact(rest, col("vec_id"), col("embedding"),
        q, col("embedding"), k))
      val lsh = ids(Ann.knnLsh(rest, col("vec_id"), col("embedding"),
        q, col("embedding"), k, nBits, hamming))
      (exact & lsh).size
    }.sum
    val single = recall(0); val multi = recall(1)
    assert(multi > single,
      s"multi-probe recall ($multi) must beat single-probe ($single) on the fixture")
  }

  test("derived knn-join fan-out bounds bucket population (no fixed 16-bucket default)") {
    import graft.similarity.Ann
    // sizing rule sanity: buckets grow with n, work per bucket stays ~target²
    assert(Ann.derivedNBits(100) == 1)
    assert(Ann.derivedNBits(2048, 256) == 3)
    assert(Ann.derivedNBits(2_000_000) == 13)
    assert(Ann.derivedNBits(Long.MaxValue) == 24) // clamp
    // fixture: with the derived fan-out, no bucket exceeds 4× the target
    val emb = Tables(spark, sf, "embeddings")
    val target = 256L
    val bits = Ann.derivedNBits(emb.count(), target)
    val maxPop = emb.select(graft.functions.VectorFunctions
        .signLshBucketMd5(col("embedding"), bits).as("bucket"))
      .groupBy("bucket").count()
      .agg(max("count")).collect().head.getLong(0)
    assert(maxPop <= 4 * target,
      s"derived nBits=$bits left a bucket of $maxPop (> ${4 * target})")
  }

  test("knn-join default nBits: the derived-fan-out path scans its input once " +
    "(materialized projection, no second file scan)") {
    // nBits<=0 derives the bucket count from a count() — before r11 that
    // count was an eager job whose lineage was then recomputed from scratch
    // by the bucketing pass (two full input scans). The fix materializes
    // the projected (id, vec) frame once; the result plan must therefore
    // contain NO file-source scan of the input — everything downstream
    // reads the materialized blocks.
    val dir = Files.createTempDirectory("graft_knn_onescan").toString + "/emb"
    Tables(spark, sf, "embeddings").select("vec_id", "embedding")
      .write.parquet(dir)
    val emb = spark.read.parquet(dir)
    val out = graft.similarity.Ann.knnJoinLshMd5(
      emb, col("vec_id"), col("embedding"), k = 3)
    // Count actual file-source leaves instead of substring-matching the
    // plan text (ADVICE r11: an incidental 'parquet' token in options or a
    // relation name failed the old assert spuriously, and a non-parquet
    // re-scan passed it).
    // Match BOTH source APIs: DSv1 (LogicalRelation over HadoopFsRelation)
    // and DSv2 (DataSourceV2[Scan]Relation) — if the parquet source ever
    // migrates to V2 (useV1SourceList change), a genuine file re-scan must
    // still fail this assert (ADVICE r12).
    val scans = out.queryExecution.optimizedPlan.collect {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation
          if l.relation
            .isInstanceOf[org.apache.spark.sql.execution.datasources.HadoopFsRelation] => l
      case v2: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation => v2
      case v2s: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation => v2s
    }
    assert(scans.isEmpty,
      s"default-nBits knn-join still re-scans the file input (${scans.size} " +
        s"file-source leaves):\n${out.queryExecution.optimizedPlan}")
    assert(out.limit(1).count() == 1)
  }

  test("knn-join: per-vector neighbor lists are bounded by k with contiguous ranks " +
    "and symmetric same-bucket membership") {
    val emb = Tables(spark, sf, "embeddings")
    val k = 3
    val rows = graft.similarity.Ann.knnJoinLshMd5(emb, col("vec_id"), col("embedding"), k)
      .select("va", "vb", "rk").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val byVa = rows.groupBy(_._1)
    assert(byVa.values.forall(_.length <= k))
    // ranks are 1..n with no gaps per va
    assert(byVa.values.forall(g => g.map(_._3).sorted.toSeq == (1 to g.length).toSeq))
    // membership is same-bucket symmetric: if (a,b) appears, b's bucket
    // contains a, so (b,a) appears too (possibly at a different rank)
    val pairs = rows.map(r => (r._1, r._2)).toSet
    assert(pairs.forall { case (a, b) => pairs.contains((b, a)) || byVa(b).length == k })
  }

  test("v20: driver-derived JL sign matrix equals the engine's own md5 derivation") {
    // the registry query embeds the matrix as a plan literal derived via
    // java MessageDigest; the oracle re-derives it from md5() in SQL. Pin
    // the third corner: Spark's OWN md5 expression produces the same
    // matrix, so all three derivations (JVM digest, Spark SQL, DuckDB SQL
    // via the oracle gate) agree.
    val engine = spark.sql(
      "SELECT transform(sequence(0, 31), j -> transform(sequence(0, 63), " +
        "i -> CASE WHEN cast(conv(substring(md5(concat(cast(j AS string), " +
        "'_', cast(i AS string))), 1, 1), 16, 10) AS int) < 8 " +
        "THEN cast(1.0 AS double) ELSE cast(-1.0 AS double) END))")
      .head().getSeq[scala.collection.Seq[Double]](0).map(_.toSeq)
    val driver = (0 until 32).map { j =>
      (0 until 64).map { i =>
        val dig = java.security.MessageDigest.getInstance("MD5")
          .digest(s"${j}_${i}".getBytes("UTF-8"))
        if (((dig(0) >> 4) & 0xf) < 8) 1.0 else -1.0
      }.toSeq
    }
    assert(engine == driver)
    // Achlioptas ±1 needs a balanced matrix; md5's first hex digit is
    // uniform, so the sign sum over 2048 entries stays well inside ±3σ
    // (σ = √2048 ≈ 45) — a skewed derivation (wrong digit, wrong base)
    // lands far outside.
    val bal = driver.flatten.sum
    assert(math.abs(bal) <= 136, s"sign matrix skewed: sum=$bal")
  }

  test("v20: native FloatVecProject is bit-identical to the interpreted HOF fold") {
    val signs: Seq[Seq[Double]] = (0 until 32).map { j =>
      (0 until 64).map { i =>
        val dig = java.security.MessageDigest.getInstance("MD5")
          .digest(s"${j}_${i}".getBytes("UTF-8"))
        if (((dig(0) >> 4) & 0xf) < 8) 1.0 else -1.0
      }
    }
    val sm = typedLit(signs)
    val hof = transform(sequence(lit(0), lit(31)), j =>
      aggregate(sequence(lit(1), lit(64)), lit(0.0), (acc, i) =>
        acc + element_at(col("embedding"), i).cast("double") *
          element_at(element_at(sm, j + lit(1)), i)))
    val bad = Tables(spark, sf, "embeddings")
      .select(
        graft.functions.VectorFunctions
          .projectNative(col("embedding"), signs).as("nat"),
        hof.as("ref"))
      .filter(col("nat") =!= col("ref")) // array equality = elementwise bits
      .count()
    assert(bad == 0, s"$bad vectors diverge between native and HOF projection")
  }

  test("v20: projected shortlist recalls >= 7/10 of the exact full-dim top-10") {
    val got = Registry.byName("v20_random_projection").run(spark, sf)
      .collect().map(_.getLong(0)).toSet
    val e = Tables(spark, sf, "embeddings")
    val q = e.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
    val exact = e.filter(col("vec_id") =!= 0).crossJoin(broadcast(q))
      .select(col("vec_id"),
        graft.functions.VectorFunctions.cosine(col("embedding"), col("qv")).as("c"))
      .orderBy(col("c").desc, col("vec_id")).limit(10)
      .collect().map(_.getLong(0)).toSet
    val recall = (got & exact).size
    assert(recall >= 7, s"JL top-10 recall $recall/10 (shortlist=100, dout=32)")
  }

  test("s15: dynamic overwrite leaves non-target partition files untouched") {
    val out = Files.createTempDirectory("graft_dyn_spec").toString
    val docs = Tables(spark, sf, "documents")
    docs.write.mode("overwrite").partitionBy("lang").parquet(out)
    def snapshot(): Map[String, Long] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(out))
        .filter(f => f.getName.endsWith(".parquet") &&
          !f.getPath.contains("lang=en"))
        .map(f => f.getPath -> f.lastModified()).toMap
    }
    val before = snapshot()
    assert(before.nonEmpty)
    docs.filter(col("lang") === "en")
      .withColumn("n_chars", col("n_chars") + 1000L)
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("lang").parquet(out)
    assert(snapshot() == before,
      "dynamic overwrite rewrote or dropped non-target partition files")
    // and the target partition did change
    val en = spark.read.parquet(out).filter(col("lang") === "en")
      .agg(min(col("n_chars"))).head().getLong(0)
    val enOrig = docs.filter(col("lang") === "en")
      .agg(min(col("n_chars"))).head().getLong(0)
    assert(en == enOrig + 1000L)
  }

  test("v21: per-dim calibrated SQ8 reconstructs calibration rows within scale/2") {
    // rebuild the calibration literals exactly as the registry query does
    val e = Tables(spark, sf, "embeddings")
    val cal = e.filter(col("vec_id") % 10 === 0)
      .select(posexplode(col("embedding")).as(Seq("pos", "x")))
      .groupBy(col("pos"))
      .agg(min(col("x").cast("double")).as("mn"),
        max(col("x").cast("double")).as("mx"))
      .orderBy(col("pos")).collect()
    val mn = cal.map(_.getDouble(1))
    val sc = cal.map(r => if (r.getDouble(2) > r.getDouble(1))
      (r.getDouble(2) - r.getDouble(1)) / 255.0 else 1.0)
    // every calibration-sample vector is in-range by construction, so
    // dequantize(quantize(x)) must sit within half a step of x per dim —
    // the SQ8 contract; and codes must be cross-vector comparable (same
    // per-dim grid), which the shared mn/sc literals make true trivially
    val rows = e.filter(col("vec_id") % 10 === 0)
      .select(col("embedding")).collect()
    for (r <- rows; (x, j) <- r.getSeq[Float](0).zipWithIndex) {
      val q = math.max(0.0, math.min(255.0,
        math.floor((x.toDouble - mn(j)) / sc(j) + 0.5)))
      val deq = mn(j) + q * sc(j)
      assert(math.abs(deq - x.toDouble) <= sc(j) / 2 + 1e-12,
        s"dim $j: x=$x deq=$deq scale=${sc(j)}")
    }
  }

  test("x32: E-S key matches a local recompute and long docs are overrepresented") {
    val out = Registry.byName("x32_weighted_sample").run(spark, sf).collect()
    assert(out.length == 50)
    // key formula: ln((h+1)/2^60)/w with h = first 15 md5 hex digits of the
    // id — recompute one row end to end on the driver
    val r0 = out.head
    val (id, w, keyE6) = (r0.getLong(0), r0.getLong(1), r0.getDouble(2))
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(id.toString.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.substring(0, 15)
    val u = (java.lang.Long.parseLong(hex, 16) + 1L).toDouble / math.pow(2, 60)
    val expect = BigDecimal(math.log(u) / w * 1e6)
      .setScale(3, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(math.abs(keyE6 - expect) < 1e-9, s"key $keyE6 vs recompute $expect")
    // weight ∝ n_chars must pull the sample's mean length above the
    // corpus mean (the whole point of the weighted draw); deterministic
    // on the fixture (measured 338.5 vs 306.3 at sf0.001)
    val selMean = out.map(_.getLong(1)).sum.toDouble / out.length
    val corpusMean = Tables(spark, sf, "documents")
      .agg(avg(col("n_chars"))).head().getDouble(0)
    assert(selMean > corpusMean,
      s"weighted sample mean $selMean <= corpus mean $corpusMean")
  }
}
