package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions

/** Product quantization (SURVEY §2.10 extension — the embedding-compression
  * tier between int8 scalar quantization (`v10`) and raw float storage).
  *
  * The 100 TB shape: a 64-dim float32 corpus is 256 B/vector; PQ with m=4
  * subspaces × k=16 centroids stores 4 nibble codes (2 B effective, 4 B as
  * int codes here) — a 64-128× working-set reduction, which is what lets an
  * ANN index hold the FULL corpus in executor memory instead of spilling.
  * Search uses asymmetric distance computation (ADC, Jégou et al., TPAMI'11):
  * the query stays un-quantized, one k×m distance table is computed
  * driver-side per query (k·m = 64 doubles — trivially broadcast as a
  * literal), and each row's approximate distance is m TABLE LOOKUPS — no
  * per-row float math at all, fully codegen'd, no shuffle, topped by
  * `TakeOrderedAndProject`.
  *
  * Training reuses [[Ann.kmeansCentroids]] per subspace (deterministic init,
  * driver-materialized codebook each round); codebooks collect to the driver
  * because they are k×m×(d/m) doubles by construction.
  */
object Pq {

  /** Per-subspace codebooks: codebooks(sub)(code)(dim), code order pinned by
    * ranking centroid ids (ids are the init vectors' ids — deterministic).
    *
    * All m subspaces train JOINTLY in one plan per Lloyd round: vectors
    * explode to (sid, sub, svec) rows once, assignment is MAP-SIDE (the
    * driver-materialized codebook rides into codegen as array literals and
    * each row takes the first-minimum cid, exactly the [[encode]] shape —
    * no broadcast join, no per-(sid, sub) argmin window), recentering one
    * aggregation keyed (sub, cid) — so each Lloyd round is ONE job, not
    * per-subspace jobs and not an n·k-row sort. Assignment distance is L2²
    * with the same float→double element casts the old join form used, so
    * winners are bit-identical. The m×k codebook is driver-materialized
    * each round (same lineage-reset rationale as [[Ann.kmeansCentroids]]).
    */
  def train(embeddings: DataFrame, id: Column, vec: Column,
      m: Int, k: Int, iters: Int = 2): Array[Array[Array[Double]]] = {
    // ONE init job (TakeOrdered of k full vectors) supplies the dimension
    // AND the k init centroids — the old dim-head / initIds-collect /
    // init-cents-collect trio was three driver round-trips for data this
    // call materializes anyway.
    val initRows = embeddings
      .select(id.cast("long").as("sid"), vec.cast("array<float>").as("v"))
      .orderBy(col("sid")).limit(k).collect()
    require(initRows.nonEmpty, "PQ: empty codebook — empty training corpus?")
    val d = initRows.head.getSeq[Float](1).length
    require(d % m == 0, s"PQ: dim $d not divisible by m=$m")
    val dsub = d / m
    val subs = embeddings.select(id.cast("long").as("sid"),
      posexplode(array((0 until m).map(s =>
        slice(vec, s * dsub + 1, dsub)): _*)).as(Seq("sub", "svec")))
    // Driver-side codebook state: per sub, (cid, float centroid) sorted by
    // cid ascending. The codebook is collected to the driver every round
    // ANYWAY (k×m×dsub doubles, bounded by construction) — so assignment
    // needs no broadcast join and no per-(sid, sub) argmin WINDOW at all:
    // the centroids ride into codegen as array literals (the same shape
    // [[encode]] uses) and each row picks its nearest cid map-side. The
    // first minimum of the cid-ascending literal array is exactly the old
    // window's (dist ASC, cid ASC) winner, and the distance math is the
    // same float→double element casts, so winners are bit-identical; each
    // Lloyd round is now ONE aggregation job (recentering) instead of a
    // broadcast join + n·k-row sort-window + aggregation.
    def collectCents(rows: Array[org.apache.spark.sql.Row])
        : Array[Array[(Long, Array[Float])]] = {
      require(rows.nonEmpty, "PQ: empty codebook — empty training corpus?")
      val g = rows.map(r => (r.getInt(0), r.getLong(1),
        r.getSeq[Float](2).toArray)).groupBy(_._1)
      Array.tabulate(m)(s =>
        g.getOrElse(s, Array.empty).sortBy(_._2).map(t => (t._2, t._3)))
    }
    var cents: Array[Array[(Long, Array[Float])]] = Array.tabulate(m) { s =>
      initRows.map { r =>
        (r.getLong(0), r.getSeq[Float](1).slice(s * dsub, (s + 1) * dsub).toArray)
      }.sortBy(_._1)
    }
    var i = 0
    while (i < iters) {
      val svecD = transform(col("svec"), _.cast("double"))
      // lazily-evaluated CaseWhen: only the matching sub's k distances are
      // computed per row
      val cidCol = (0 until m).foldLeft(lit(-1L)) { (acc, s) =>
        if (cents(s).isEmpty) acc
        else {
          val dists = array(cents(s).map(c =>
            l2sqLit(svecD, c._2.map(_.toDouble))): _*)
          val cids = array(cents(s).map(c => lit(c._1)): _*)
          when(col("sub") === s, element_at(cids,
            array_position(dists, array_min(dists)).cast("int")))
            .otherwise(acc)
        }
      }
      cents = collectCents(subs.withColumn("cid", cidCol)
        .groupBy(col("sub"), col("cid"))
        .agg(graft.functions.CentroidAgg.centroid(col("svec")).as("cvec_d"))
        .select(col("sub"), col("cid"),
          col("cvec_d").cast("array<float>").as("cvec")).collect())
      i += 1
    }
    Array.tabulate(m)(s => cents(s).map(_._2.map(_.toDouble)))
  }

  /** Encode each vector as m argmin codes (0-based, first-minimum tie rule).
    * Output: (id, codes array<int>). Map-side only — the codebook rides into
    * codegen as array literals; nothing shuffles.
    */
  def encode(embeddings: DataFrame, id: Column, vec: Column,
      codebooks: Array[Array[Array[Double]]]): DataFrame = {
    val m = codebooks.length
    val dsub = codebooks.head.head.length
    val codeCols = (0 until m).map { s =>
      val sv = transform(slice(vec, s * dsub + 1, dsub), _.cast("double"))
      val dists = array(codebooks(s).map(c => l2sqLit(sv, c)): _*)
      // array_position = FIRST index of the minimum (1-based) → 0-based code
      (array_position(dists, array_min(dists)) - 1).cast("int")
    }
    embeddings.select(id.as("vec_id"), array(codeCols: _*).as("codes"))
  }

  /** ADC top-k: per-subspace query→centroid distance tables (computed here,
    * driver-side), then each row scores as m `element_at` lookups summed.
    */
  def knnAdc(encoded: DataFrame, id: Column, codes: Column,
      query: Array[Float], codebooks: Array[Array[Array[Double]]],
      topK: Int): DataFrame = {
    val m = codebooks.length
    val dsub = codebooks.head.head.length
    require(query.length == m * dsub,
      s"PQ: query dim ${query.length} != ${m * dsub}")
    val tables: Array[Array[Double]] = Array.tabulate(m) { s =>
      codebooks(s).map { c =>
        var acc = 0.0
        var i = 0
        while (i < dsub) {
          val dd = query(s * dsub + i).toDouble - c(i); acc += dd * dd; i += 1
        }
        acc
      }
    }
    val score = (0 until m).map { s =>
      element_at(typedLit(tables(s).toSeq), codes.getItem(s) + 1)
    }.reduce(_ + _)
    encoded.select(id.as("vec_id"), score.as("adc_dist"))
      .orderBy(col("adc_dist").asc, col("vec_id"))
      .limit(topK)
  }

  /** ADC shortlist → exact re-rank: the standard two-stage PQ search. The
    * ADC pass scans CODES ONLY (the compressed corpus — the only full-scan
    * cost) to cut the corpus to a `shortlist`; the exact pass re-scores just
    * those rows against the raw vectors (a broadcast-semi-join-sized read)
    * and returns the true-distance top-k. Recall is governed by
    * shortlist/topK, not by quantization coarseness — the knob a 100 TB
    * deployment actually turns.
    */
  def knnAdcRerank(encoded: DataFrame, embeddings: DataFrame,
      id: Column, vec: Column, codes: Column,
      query: Array[Float], codebooks: Array[Array[Array[Double]]],
      topK: Int, shortlist: Int): DataFrame = {
    require(shortlist >= topK, s"PQ: shortlist $shortlist < topK $topK")
    val cand = knnAdc(encoded, id, codes, query, codebooks, shortlist)
      .select(col("vec_id"))
    val qLit = typedLit(query.map(_.toDouble).toSeq)
    embeddings.select(id.as("vec_id"), vec.as("v"))
      .join(broadcast(cand), "vec_id")
      .select(col("vec_id"),
        // native vec_l2sq — bit-identical to the interpreted
        // (x.cast("double") − q)² fold (d² = (−d)²)
        VectorFunctions.l2sqNative(qLit, col("v")).as("d2"))
      .orderBy(col("d2").asc, col("vec_id"))
      .limit(topK)
  }

  /** Decode codes back to the reconstructed (centroid-concatenation) vector
    * — the reconstruction-error measurement path.
    */
  def decode(encoded: DataFrame, id: Column, codes: Column,
      codebooks: Array[Array[Array[Double]]]): DataFrame = {
    val m = codebooks.length
    val parts = (0 until m).map { s =>
      element_at(typedLit(codebooks(s).map(_.toSeq).toSeq), codes.getItem(s) + 1)
    }
    encoded.select(id.as("vec_id"), concat(parts: _*).as("rvec"))
  }

  // Native kernels (graft.functions.DoubleVecL2Sq, r21) — bit-identical to
  // the interpreted aggregate(zip_with) folds they replace (i-ascending
  // subtract-square-accumulate in double; d² = (−d)² so operand order is
  // bit-free), but one loop per row instead of one Catalyst lambda per
  // element. Train/encode evaluate k of these folds per row — the
  // interpreted form dominated v11_pq_adc's wall time.
  private def l2sqLit(sv: Column, centroid: Array[Double]): Column =
    VectorFunctions.l2sqNative(typedLit(centroid.toSeq), sv)
}
