package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions

/** Approximate nearest-neighbor search over embedding columns — SURVEY.md
  * §2.10's scale path. Two tiers with the SAME output schema so the swap is
  * a drop-in:
  *
  *  - [[knnExact]] / [[pairsExact]]: brute-force cosine via the codegen'd
  *    native dot product — the correctness baseline (oracle-paired in
  *    VectorQueries).
  *  - [[knnLsh]] / [[pairsLsh]]: sign-random-projection LSH — each vector is
  *    bucketed by the sign bits of `nBits` deterministic pseudo-hyperplane
  *    projections; only same-bucket (or Hamming-adjacent bucket) pairs are
  *    scored. At 100 TB the bucket column doubles as the shuffle/partition
  *    key, so candidate scoring is bucket-local and never all-pairs.
  *
  * One implementation per job beneath those fronts: every same-key pair
  * stage (LSH buckets, semantic-dedup clusters) is [[sameKeyPairs]], every
  * broadcast-codebook argmin (IVF lists, centroid assignment) is
  * [[nearestCentroid]], and [[semanticDedupPairs]] is the one semantic-dedup
  * entry — it picks exact or IVF-assisted assignment by codebook size.
  */
object Ann {

  /** Exact top-k nearest to one query vector (broadcast 1-row dim). */
  def knnExact(embeddings: DataFrame, id: Column, vec: Column,
      query: DataFrame, queryVec: Column, k: Int): DataFrame = {
    val e = embeddings.select(id.as("vec_id"), vec.as("v"))
    val q = query.select(queryVec.as("qv"))
    e.crossJoin(broadcast(q))
      .select(col("vec_id"),
        VectorFunctions.cosineNative(col("v"), col("qv")).as("cos"))
      .orderBy(col("cos").desc, col("vec_id"))
      .limit(k)
  }

  /** Maximal-Marginal-Relevance diversified top-k (Carbonell & Goldstein
    * 1998): greedily pick k results maximizing
    * `λ·rel(c) − (1−λ)·max_{s∈selected} cos(c, s)` — the retrieval variant
    * a curation pipeline uses when plain top-k would return k near-copies
    * of the same document.
    *
    * Scale shape: relevance scoring + the `shortlist`-sized candidate cut
    * are distributed (one scan, TakeOrdered — no global sort); the greedy
    * selection is inherently sequential in k, so it runs on the DRIVER
    * over the collected shortlist — a documented codebook-scale collect
    * (shortlist ≤ a few hundred rows of d floats, the same posture as
    * Pq.train / kmeans centroids), NOT a corpus materialization — at no
    * point does the corpus leave the cluster.
    *
    * Determinism: ties in both the shortlist cut and every greedy step
    * break by ascending id; λ=1 degenerates to exact top-k (asserted in
    * EngineSpec alongside the first-pick and diversity contracts).
    * Output: (rank, vec_id, rel, mmr) — rank is 1-based selection order.
    */
  def mmrDiversify(embeddings: DataFrame, id: Column, vec: Column,
      query: DataFrame, queryVec: Column, k: Int, shortlist: Int,
      lambda: Double): DataFrame = {
    // The greedy stage collects `shortlist` rows of d floats onto the
    // driver — legal ONLY at codebook scale (same contract as Pq.train and
    // TopKPerGroup's per-group heap memory note). Enforce the bound rather
    // than trusting callers: 4096 × 1k-dim floats ≈ 16 MB, the upper edge
    // of a sane driver collect; a larger shortlist means the caller wants
    // a distributed reranker, not this operator.
    require(k >= 1, s"mmrDiversify: k must be >= 1 (got $k)")
    require(shortlist >= k && shortlist <= 4096,
      s"mmrDiversify: shortlist must be in [k, 4096] — it is collected on " +
        s"the driver (got shortlist=$shortlist, k=$k)")
    val spark = embeddings.sparkSession
    val cand = embeddings.select(id.as("vec_id"), vec.as("v"))
      .crossJoin(broadcast(query.select(queryVec.as("qv"))))
      .select(col("vec_id"), col("v"),
        VectorFunctions.cosineNative(col("v"), col("qv")).as("rel"))
      .orderBy(col("rel").desc, col("vec_id"))
      .limit(shortlist)
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray, r.getDouble(2)))
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < math.min(a.length, b.length)) {
        d += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
        nb += b(i).toDouble * b(i); i += 1
      }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val selected = scala.collection.mutable.ArrayBuffer[(Long, Array[Float], Double, Double)]()
    val remaining = scala.collection.mutable.LinkedHashMap(cand.map(c => c._1 -> c): _*)
    while (selected.size < k && remaining.nonEmpty) {
      val pick = remaining.values.map { case (cid, cv, rel) =>
        val div = if (selected.isEmpty) 0.0
          else selected.map(s => cos(cv, s._2)).max
        (cid, cv, rel, lambda * rel - (1 - lambda) * div)
      }.minBy { case (cid, _, _, score) => (-score, cid) }
      selected += pick
      remaining.remove(pick._1)
    }
    import spark.implicits._
    selected.zipWithIndex
      .map { case ((cid, _, rel, mmr), i) => (i + 1, cid, rel, mmr) }
      .toSeq.toDF("rank", "vec_id", "rel", "mmr")
  }

  /** Exact all-pairs above a cosine threshold (quadratic — baseline only).
    * Norms are precomputed per SIDE (n per vector), not per pair: the O(n²)
    * loop then does one dot + one divide instead of three dots.
    */
  def pairsExact(embeddings: DataFrame, id: Column, vec: Column,
      threshold: Double): DataFrame = {
    val e = normed(embeddings, id, vec)
    val a = e.select(col("vec_id").as("va"), col("v").as("ea"), col("nrm").as("na"))
    val b = e.select(col("vec_id").as("vb"), col("v").as("eb"), col("nrm").as("nb"))
    val cos = VectorFunctions.dotNative(col("ea"), col("eb")) / (col("na") * col("nb"))
    // threshold goes INTO the join condition, after the cheap va < vb: And
    // short-circuits, so the dot never evaluates for the mirrored half of
    // the pair space (a pushed-down filter would land BEFORE the id test).
    a.join(b, col("va") < col("vb") && cos >= threshold)
      .select(col("va"), col("vb"), cos.as("cos"))
  }

  /** Multi-vector late-interaction retrieval (the ColBERT MaxSim operator,
    * Khattab & Zaharia 2020 — r15 verdict "missing" #3, the one published
    * retrieval shape absent from the V family): a document is a BAG of
    * token vectors, a query likewise, and
    * `score(q, d) = Σ_{t∈q} max_{u∈d} cos(t, u)` — each query token picks
    * its best-matching document token, so exact-term matches aren't washed
    * out by pooling (the reason late interaction beats single-vector
    * retrieval on out-of-domain corpora).
    *
    * Scale shape (exact path): the query side is a handful of vectors —
    * broadcast; each doc token row is scored against the broadcast query
    * tokens MAP-SIDE, the per-(doc, query-token) max is a partial
    * aggregate (map-side combine — the fan-out collapses before the
    * exchange), and the per-doc sum + TakeOrdered(k) finish it. One keyed
    * shuffle of (doc, qt, max) rows, never the token cross-product.
    *
    * `shortlist > 0` is the 100 TB path: stage 1 scores MEAN-POOLED doc
    * vectors against the mean-pooled query (the standard single-vector
    * approximation) and keeps the top `shortlist` docs via TakeOrdered;
    * stage 2 runs exact MaxSim on that slice only — the ColBERT
    * retrieve-then-rerank split, recall-bounded in EngineSpec against the
    * exact path. In production stage 1 would itself ride an ANN index
    * ([[knnIvf]]/[[knnLsh]] — same contract, drop-in).
    *
    * @param docToks   one row per document token: (docId, tokVec)
    * @param queryToks one row per query token: (queryTokId, queryVec)
    * @return (doc_id, maxsim) — top k by score desc, doc_id tie-break
    */
  def maxsimTopK(docToks: DataFrame, docId: Column, tokVec: Column,
      queryToks: DataFrame, queryTokId: Column, queryVec: Column,
      k: Int, shortlist: Int = 0): DataFrame = {
    val d = docToks.select(docId.as("doc_id"), tokVec.as("dv"))
    val q = queryToks.select(queryTokId.as("qt"), queryVec.as("qv"))
    val target =
      if (shortlist <= 0) d
      else {
        // mean-pool per doc: posexplode + (pos-keyed) avg + re-assemble —
        // all keyed aggregates, no driver state
        def pooled(df: DataFrame, key: String, vcol: String): DataFrame =
          df.select(col(key), posexplode(col(vcol)).as(Seq("pos", "x")))
            .groupBy(col(key), col("pos"))
            .agg(avg(col("x")).as("m"))
            .groupBy(col(key))
            .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
              _.getField("m")).as("pv"))
        val dp = pooled(d, "doc_id", "dv")
        val qp = pooled(q.select(lit(0L).as("qk"), col("qv")), "qk", "qv")
          .select(col("pv").as("qpv"))
        val keep = dp.crossJoin(broadcast(qp))
          .select(col("doc_id"),
            VectorFunctions.cosineNative(
              col("pv").cast("array<float>"),
              col("qpv").cast("array<float>")).as("ac"))
          .orderBy(col("ac").desc, col("doc_id"))
          .limit(shortlist)
          .select(col("doc_id"))
        d.join(broadcast(keep), "doc_id")
      }
    target.crossJoin(broadcast(q))
      .select(col("doc_id"), col("qt"),
        VectorFunctions.cosineNative(col("dv"), col("qv")).as("c"))
      .groupBy(col("doc_id"), col("qt"))
      .agg(max(col("c")).as("m"))
      .groupBy(col("doc_id"))
      // fixed qt-ascending addition order (r16 ADVICE #2): a bare sum()
      // adds in engine order, so a near-tie between two docs could flip
      // rank under fp addition-order noise vs v19_maxsim's m0+m1+m2+m3 —
      // EngineSpec asserts exact rank equality between the two paths. The
      // per-doc list is query-token-bounded (a handful of rows).
      .agg(aggregate(
        transform(array_sort(collect_list(struct(col("qt"), col("m")))),
          _.getField("m")),
        lit(0.0), (acc, x) => acc + x).as("maxsim"))
      .orderBy(col("maxsim").desc, col("doc_id"))
      .limit(k)
  }

  /** (keys…, vec_id, v, nrm) with the L2 norm precomputed once per vector
    * — the same `sqrt(dot(v,v))` the pairwise cosine would otherwise
    * recompute per PAIR (2/3 of the FLOPs in an all-pairs scan).
    */
  private def normed(embeddings: DataFrame, id: Column, vec: Column,
      keys: Column*): DataFrame =
    embeddings.select(keys :+ id.as("vec_id") :+ vec.as("v") :+
      sqrt(VectorFunctions.dotNative(vec, vec)).as("nrm"): _*)

  /** Bucket assignment: nBits sign bits packed into a long. */
  def bucketed(embeddings: DataFrame, id: Column, vec: Column,
      nBits: Int = 8): DataFrame =
    embeddings.select(id.as("vec_id"), vec.as("v"),
      VectorFunctions.signLshBucket(vec, nBits).as("bucket"))

  /** LSH candidate pairs: score only same-bucket pairs. Recall < 1 by
    * design; raise by lowering nBits (bigger buckets) or multi-probing.
    * Verified against pairsExact recall in EngineSpec.
    */
  def pairsLsh(embeddings: DataFrame, id: Column, vec: Column,
      threshold: Double, nBits: Int = 8): DataFrame =
    sameKeyPairs(bucketed(embeddings, id, vec, nBits), "bucket", threshold)
      .select(col("va"), col("vb"), col("cos"))

  /** [[pairsLsh]] with the md5 hyperplane family
    * ([[VectorFunctions.signLshBucketMd5]]) — every op DuckDB-mirrorable, so
    * this pruned path carries the differential oracle (VectorQueries
    * v6_ann_md5). Same output schema as pairsLsh/pairsExact.
    */
  def pairsLshMd5(embeddings: DataFrame, id: Column, vec: Column,
      threshold: Double, nBits: Int = 8): DataFrame =
    sameKeyPairs(
      embeddings.select(id.as("vec_id"), vec.as("v"),
        VectorFunctions.signLshBucketMd5(vec, nBits).as("bucket")),
      "bucket", threshold)
      .select(col("va"), col("vb"), col("cos"))

  /** Bucket-count sizing for the LSH knn-join: enough sign bits that the
    * EXPECTED bucket holds ~`targetBucketSize` vectors, clamped to [1, 24].
    * The per-bucket self-join is O(bucketSize²), so bucket count must GROW
    * with the corpus — a fixed nBits that works at 2k vectors is a
    * straggler wall at 100 TB (16 buckets of ~10⁹ rows each). With this
    * rule the per-bucket work stays ~targetBucketSize² regardless of n.
    * Population bound on the fixture is asserted in EngineSpec.
    */
  def derivedNBits(n: Long, targetBucketSize: Long = 256L): Int = {
    val buckets = math.max(1.0, n.toDouble / targetBucketSize)
    math.min(24, math.max(1, math.ceil(math.log(buckets) / math.log(2)).toInt))
  }

  /** k-NN JOIN: for EVERY vector, its top-k nearest same-bucket neighbors
    * (both directions, unlike the canonical-pair queries) — the "find
    * similar documents for each document" surface. One bucket-keyed
    * shuffle, then a per-left-row ranking window; ties broken on the
    * neighbor id so the result is deterministic. md5 hyperplane family →
    * DuckDB-mirrorable (VectorQueries v9_knn_join_md5, which pins nBits=4
    * to keep its oracle SQL stable).
    *
    * `nBits <= 0` (the default) derives the fan-out from the corpus size
    * via [[derivedNBits]]. The count must not re-trigger a possibly
    * expensive input lineage, so the projected (id, vec) frame is
    * materialized ONCE (localCheckpoint) and both the count and the
    * bucketing read the materialized blocks — one scan of the input total
    * (the result plan carries no file scan of the input; asserted in
    * EngineSpec). Hot paths that know their corpus should still pass nBits
    * explicitly: that skips the materialization and stays fully lazy.
    */
  def knnJoinLshMd5(embeddings: DataFrame, id: Column, vec: Column,
      k: Int, nBits: Int = 0): DataFrame = {
    val projected = embeddings.select(id.as("vec_id"), vec.as("v"))
    val base = if (nBits > 0) projected else projected.localCheckpoint()
    val bits = if (nBits > 0) nBits else derivedNBits(base.count())
    val bk = base.withColumn("bucket",
        VectorFunctions.signLshBucketMd5(col("v"), bits))
      .withColumn("nrm", sqrt(VectorFunctions.dotNative(col("v"), col("v"))))
    val a = bk.select(col("bucket"), col("vec_id").as("va"),
      col("v").as("ea"), col("nrm").as("na"))
    val b = bk.select(col("bucket").as("bucket_b"), col("vec_id").as("vb"),
      col("v").as("eb"), col("nrm").as("nb"))
    val cos = VectorFunctions.dotNative(col("ea"), col("eb")) / (col("na") * col("nb"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("va")).orderBy(col("cos").desc, col("vb"))
    a.join(b, col("bucket") === col("bucket_b") && col("va") =!= col("vb"))
      .select(col("va"), col("vb"), cos.as("cos"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
  }

  /** Same-key pair scoring — the one pair stage of the LSH families
    * (key `bucket`) and semantic dedup (key `cid`): the key column is the
    * hash-join key, norms are per-side ([[normed]]), the pair loop is one
    * dot, and the threshold sits in the condition AFTER the cheap va < vb,
    * so the dot never evaluates for the mirrored half (see pairsExact).
    * `keyed` carries (key, vec_id, v). Output: (key, va, vb, cos).
    */
  private def sameKeyPairs(keyed: DataFrame, key: String,
      threshold: Double): DataFrame = {
    val e = normed(keyed, col("vec_id"), col("v"), col(key))
    val a = e.select(col(key), col("vec_id").as("va"),
      col("v").as("ea"), col("nrm").as("na"))
    val b = e.select(col(key).as(s"${key}_b"), col("vec_id").as("vb"),
      col("v").as("eb"), col("nrm").as("nb"))
    val cos = VectorFunctions.dotNative(col("ea"), col("eb")) / (col("na") * col("nb"))
    a.join(b, col(key) === col(s"${key}_b") && col("va") < col("vb") &&
        cos >= threshold)
      .select(col(key), col("va"), col("vb"), cos.as("cos"))
  }

  /** IVF coarse codebook from any cluster/label column: one centroid per
    * distinct value (single-pass Aggregator, no explode). On unlabeled data
    * the codebook would come from a k-means pass; the index/probe path below
    * is identical either way.
    */
  def centroidsFrom(embeddings: DataFrame, clusterCol: Column, vec: Column): DataFrame =
    embeddings
      .groupBy(clusterCol.as("cid"))
      .agg(graft.functions.CentroidAgg.centroid(vec).as("cvec_d"))
      .select(col("cid"), col("cvec_d").cast("array<float>").as("cvec"))

  /** Lloyd's k-means for the unlabeled-codebook path: deterministic init
    * (first k vectors by id), then assign → re-centroid for `iters` rounds.
    * Each round is one broadcast-join + one single-pass Aggregator — the
    * standard DataFrame formulation that scales with executor count; no
    * driver-side math beyond the loop itself.
    */
  def kmeansCentroids(embeddings: DataFrame, id: Column, vec: Column,
      k: Int, iters: Int = 5): DataFrame = {
    val spark = embeddings.sparkSession
    val e = embeddings.select(id.as("vec_id"), vec.as("v"))
    var cents = e.orderBy(col("vec_id")).limit(k)
      .select(col("vec_id").as("cid"), col("v").as("cvec"))
    var i = 0
    while (i < iters) {
      val next = ivfIndex(e, col("vec_id"), col("v"), cents)
        .groupBy(col("cid"))
        .agg(graft.functions.CentroidAgg.centroid(col("v")).as("cvec_d"))
        .select(col("cid"), col("cvec_d").cast("array<float>").as("cvec"))
      // A codebook is k rows by construction: materialize it on the driver
      // each round and restart the lineage from a local relation. Without
      // this, iteration i's plan re-embeds iterations 0..i-1 — O(iters²)
      // recompute and unbounded plan depth once iters grows.
      cents = spark.createDataFrame(
        java.util.Arrays.asList(next.collect(): _*), next.schema)
      i += 1
    }
    cents
  }

  /** Mean within-cluster distance (1 - cosine) of an assignment — the
    * convergence metric for [[kmeansCentroids]].
    */
  def inertia(index: DataFrame, centroids: DataFrame): Double =
    index.join(broadcast(centroids), "cid")
      .select(org.apache.spark.sql.functions.avg(
        lit(1.0) - VectorFunctions.cosineNative(col("v"), col("cvec"))).as("i"))
      .collect().head.getDouble(0)

  /** Nearest-centroid argmin against a broadcast codebook — the one
    * assignment kernel behind [[ivfIndex]] and [[assignCentroids]].
    * Centroids are broadcast as ONE array row; the per-vector argmin is
    * array_min over (`dist(v, cvec)`, cid) structs — the dist-then-cid
    * tie-break of the ranking-window form it replaced, with zero Exchange
    * (the window shuffled the n×k expanded frame just to pick per-vector
    * minima from a broadcast side, r12). Output: (vec_id, v, cid).
    *
    * Empty-codebook contract (ADVICE r12): the one-row collect_list
    * aggregate yields an empty array for an empty `centroids`, whose
    * array_min is null — the null-cid filter below restores the
    * empty-RESULT semantics of the crossJoin+window form this replaced
    * (silent null-key rows would otherwise flow into downstream groupBys).
    * A real codebook (kmeans / train output) never produces a null cid, so
    * the filter is a no-op null check on the hot path.
    */
  private def nearestCentroid(embeddings: DataFrame, id: Column, vec: Column,
      centroids: DataFrame, dist: (Column, Column) => Column): DataFrame = {
    val cb = centroids.agg(
      collect_list(struct(col("cid"), col("cvec"))).as("cb_arr"))
    val best = array_min(transform(col("cb_arr"), cc =>
      struct(dist(col("v"), cc.getField("cvec")).as("d"),
        cc.getField("cid").as("cid"))))
    embeddings.select(id.as("vec_id"), vec.as("v"))
      .crossJoin(broadcast(cb))
      .select(col("vec_id"), col("v"), best.getField("cid").as("cid"))
      .filter(col("cid").isNotNull)
  }

  /** Inverted-file assignment: each vector → its nearest centroid's list by
    * 1 − cosine ([[nearestCentroid]]). Output: (vec_id, v, cid).
    */
  def ivfIndex(embeddings: DataFrame, id: Column, vec: Column,
      centroids: DataFrame): DataFrame =
    nearestCentroid(embeddings, id, vec, centroids,
      (v, c) => lit(1.0) - VectorFunctions.cosineNative(v, c))

  /** IVF top-k: score only vectors whose list is among the query's `nProbe`
    * nearest centroids — the classic recall/cost dial (nProbe = ncentroids
    * degrades to exact search).
    */
  def knnIvf(index: DataFrame, centroids: DataFrame,
      query: DataFrame, queryVec: Column, k: Int, nProbe: Int): DataFrame = {
    val probes = query.select(queryVec.as("qv"))
      .crossJoin(broadcast(centroids))
      .select(col("qv"), col("cid"),
        (lit(1.0) - VectorFunctions.cosineNative(col("qv"), col("cvec"))).as("dist"))
      .orderBy(col("dist"), col("cid"))
      .limit(nProbe)
      .select(col("qv"), col("cid"))
    index.join(broadcast(probes), "cid")
      .select(col("vec_id"),
        VectorFunctions.cosineNative(col("v"), col("qv")).as("cos"))
      .orderBy(col("cos").desc, col("vec_id"))
      .limit(k)
  }

  /** LSH top-k for one query with MULTI-PROBE: score the query's own bucket
    * plus, when `hamming >= 1`, its nBits Hamming-1 neighbor buckets (each
    * one sign bit flipped). A near neighbor that falls on the wrong side of
    * ONE hyperplane — the dominant LSH miss mode — lands in exactly such a
    * bucket, so probing them recovers most of the recall a single probe
    * loses, at (nBits+1)/2^nBits of the corpus instead of 1/2^nBits.
    * Recall(multi) > recall(single) is asserted against exact top-k in
    * EngineSpec. The probe set stays a broadcast join: candidates remain
    * bucket-local, never all-pairs.
    */
  def knnLsh(embeddings: DataFrame, id: Column, vec: Column,
      query: DataFrame, queryVec: Column, k: Int, nBits: Int = 8,
      hamming: Int = 1): DataFrame = {
    val bk = bucketed(embeddings, id, vec, nBits)
    val base = query.select(queryVec.as("qv"),
      VectorFunctions.signLshBucket(queryVec, nBits).as("qb"))
    // bucket ^ (1 << i) flips hyperplane i's sign bit; lit(0) keeps the
    // home bucket. explode → one probe row per bucket, still tiny (nBits+1
    // rows per query) and broadcast below.
    val flips: Seq[Column] =
      if (hamming >= 1) lit(0L) +: (0 until nBits).map(i => lit(1L << i))
      else Seq(lit(0L))
    val q = base.select(col("qv"),
      explode(array(flips.map(f => col("qb").bitwiseXOR(f)): _*)).as("qbucket"))
    bk.join(broadcast(q), col("bucket") === col("qbucket"))
      .select(col("vec_id"),
        VectorFunctions.cosineNative(col("v"), col("qv")).as("cos"))
      .orderBy(col("cos").desc, col("vec_id"))
      .limit(k)
  }

  /** Fine-codebook size above which [[semanticDedupPairs]] switches to
    * IVF-assisted assignment.
    */
  private val IvfFromCentroids = 64
  /** Coarse cells each vector probes on the IVF branch. */
  private val NProbe = 2
  /** The IVF branch's coarse codebook is every `CoarseStride`-th fine
    * centroid in cid order.
    */
  private val CoarseStride = 8

  /** SemDeDup-shape semantic dedup (Abbas et al. 2023): assign every
    * embedding to its nearest centroid (broadcast codebook, deterministic
    * L2-then-cid tie-break), then compute EXACT cosine pairs only WITHIN a
    * cluster — the cluster id plays the blocking role the band key plays in
    * MinHash-LSH, confining the quadratic pair space to cluster-sized
    * blocks. At 100 TB the centroid count grows with the corpus
    * (k ∝ n / target cluster size, same dial as [[derivedNBits]]) so
    * per-cluster work stays ~constant.
    *
    * Assignment is chosen by codebook size (r20 verdict #6 — the d13
    * auto-select precedent applied to d7): the exact n×k argmin
    * ([[assignCentroids]]) while the codebook has at most 64 centroids;
    * above, IVF-assisted ([[assignCentroidsIvf]]) with a coarse codebook of
    * every 8th fine centroid in cid order, probing 2 cells — the recipe the
    * 10×/30× probes measured at 7.3× over exact (BASELINE.md r11). The size
    * check is one bounded action over the codebook: `limit(65)` caps its
    * scan instead of re-executing the centroids frame's whole upstream
    * lineage for an exact count (r21 ADVICE #5). Because k ∝ n / target
    * cluster size at scale, a corpus big enough to cross 64 centroids is
    * exactly the one whose n×k exact assignment has hit the wall the probes
    * pinned. The d7 fixture runs 8 centroids, so the oracle gate pins the
    * exact branch; QualitySignalsSpec pins both branches against
    * [[semanticDedupPairsCore]].
    *
    * `centroids`: (cid, cvec: array<double>). Output: (cid, va, vb, cos)
    * for pairs with cosine ≥ threshold — drop the higher id per pair for
    * the keep-one-representative policy.
    */
  def semanticDedupPairs(embeddings: DataFrame, id: Column, vec: Column,
      centroids: DataFrame, threshold: Double): DataFrame =
    semanticDedupPairsCore(embeddings, id, vec, centroids, threshold,
      ivf = centroids.limit(IvfFromCentroids + 1).count() > IvfFromCentroids)

  /** [[semanticDedupPairs]] with the assignment branch given, not chosen:
    * exact when `ivf` is false, else IVF-assisted over the derived coarse
    * codebook (its global row_number runs over k codebook rows, never the
    * corpus). Both branches share the within-cluster pair stage.
    */
  private[graft] def semanticDedupPairsCore(embeddings: DataFrame, id: Column,
      vec: Column, centroids: DataFrame, threshold: Double,
      ivf: Boolean): DataFrame = {
    val assigned =
      if (!ivf) assignCentroids(embeddings, id, vec, centroids)
      else {
        val coarse = centroids
          .withColumn("__rk", row_number().over(Window.orderBy(col("cid"))))
          .filter(pmod(col("__rk") - 1, lit(CoarseStride)) === 0)
          .select(col("cid").as("ccid"), col("cvec").as("ccvec"))
        assignCentroidsIvf(embeddings, id, vec, centroids, coarse, NProbe)
      }
    sameKeyPairs(assigned, "cid", threshold)
  }

  /** EXACT nearest-centroid assignment (the n×k baseline) by squared L2
    * ([[nearestCentroid]], deterministic L2-then-cid tie-break).
    * Output: (cid, vec_id, v).
    */
  def assignCentroids(embeddings: DataFrame, id: Column, vec: Column,
      centroids: DataFrame): DataFrame =
    nearestCentroid(embeddings, id, vec, centroids,
      (v, c) => VectorFunctions.l2sqNative(c, v))
      .select(col("cid"), col("vec_id"), col("v"))

  /** IVF-ASSISTED assignment — the scale path past the n×k wall the 10×
    * probe pinned (22.4 s, all in exact assignment): a two-level coarse
    * quantizer. Each vector probes its `nProbe` nearest COARSE cells
    * (n×c work, c ≪ k), then runs the exact argmin only over the fine
    * centroids that live in those cells (n × nProbe·k/c expected). With
    * c ≈ √k and small nProbe, per-vector work drops from k to ~√k·nProbe
    * — sub-linear growth in codebook size, which is what keeps assignment
    * feasible when k scales with the corpus (k ∝ n / target cluster size).
    *
    * Same output contract and tie-break as [[assignCentroids]]; recall < 1
    * by construction (a vector whose true cell is not among its nProbe
    * coarse probes gets its best PROBED cell). Equality at nProbe = c and
    * fixture agreement at small nProbe are asserted in QualitySignalsSpec.
    *
    * @param coarse (ccid, ccvec: array<double>) coarse codebook; at scale,
    *               a k-means over the fine centroids themselves
    */
  def assignCentroidsIvf(embeddings: DataFrame, id: Column, vec: Column,
      centroids: DataFrame, coarse: DataFrame, nProbe: Int): DataFrame = {
    // fine centroid → its coarse cell: k×c rows, codebook-scale (both sides
    // are broadcastable by construction — same posture as Pq codebooks)
    val cellMap = centroids.crossJoin(broadcast(coarse))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("cid")).orderBy(
          VectorFunctions.l2sqNative(col("ccvec"), col("cvec")).asc, col("ccid"))))
      .filter(col("rk") === 1)
      .select(col("ccid"), col("cid"), col("cvec"))
    // Probe candidates are restricted to coarse cells that OWN at least one
    // fine centroid: a real k-means coarse codebook can have cells that
    // capture no fine centroid, and probing one would look up an absent
    // map key below (null candidate list), breaking the "every vector gets
    // its best PROBED cell" contract. cellMap is codebook-scale, so the
    // restriction is a broadcast semi-join over ≤ c rows — free.
    val liveCoarse = coarse.join(
      broadcast(cellMap.select(col("ccid")).distinct()), Seq("ccid"), "semi")
    // ONE-ROW broadcast aux: the live coarse codebook as an array plus a
    // ccid → fine-cells map. Same bytes as broadcasting the codebook as a
    // frame, but it lets BOTH probe selection and the fine argmin happen
    // map-side in a single projection over the corpus — the r11 verdict's
    // named fix for the n×c probe shuffle (a row_number window only to
    // pick per-row top-nProbe from a broadcast side).
    val aux = liveCoarse
      .agg(collect_list(struct(col("ccid"), col("ccvec"))).as("coarse_arr"))
      .crossJoin(cellMap
        .groupBy(col("ccid"))
        .agg(collect_list(struct(col("cid"), col("cvec"))).as("cells"))
        .agg(map_from_entries(collect_list(struct(col("ccid"), col("cells"))))
          .as("cell_map")))
    // Per vector, all map-side: sort the ≤c coarse distances, take nProbe
    // cells (struct sort = (dist, ccid) — the window's exact tie-break),
    // flatten their fine candidates, and array_min the (dist, cid) structs
    // (= the L2-then-cid tie-break). Zero Exchange in the whole assignment.
    val probes = slice(
      array_sort(transform(col("coarse_arr"), cc =>
        struct(VectorFunctions.l2sqNative(cc.getField("ccvec"), col("v")).as("d"),
          cc.getField("ccid").as("ccid")))),
      1, nProbe)
    val best = array_min(flatten(transform(probes, p =>
      transform(element_at(col("cell_map"), p.getField("ccid")), fc =>
        struct(VectorFunctions.l2sqNative(fc.getField("cvec"), col("v")).as("d"),
          fc.getField("cid").as("cid"))))))
    embeddings.select(id.as("vec_id"), vec.as("v"))
      .crossJoin(broadcast(aux))
      .select(best.getField("cid").as("cid"), col("vec_id"), col("v"))
      // empty-codebook → empty result, not null-cid rows (see nearestCentroid)
      .filter(col("cid").isNotNull)
  }
}
