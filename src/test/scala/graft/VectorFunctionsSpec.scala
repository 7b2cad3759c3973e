package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.GraftShim

import graft.functions.LongVecAgree
import graft.functions.VectorFunctions._

class VectorFunctionsSpec extends SparkSuite {

  private lazy val emb = Tables(spark, sf, "embeddings")

  private def agree(a: Column, b: Column): Column =
    GraftShim.column(LongVecAgree(GraftShim.expression(a), GraftShim.expression(b)))

  private def agreeFold(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => when(x === y, 1).otherwise(0)),
      lit(0), (acc, v) => acc + v)

  test("native dot is BIT-identical to the HOF fold (same IEEE sequence)") {
    val q = emb.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
    val both = emb.crossJoin(broadcast(q)).select(
      dot(col("embedding"), col("qv")).as("fold"),
      dotNative(col("embedding"), col("qv")).as("native"))
    assert(both.filter(col("fold") =!= col("native")).count() == 0)
  }

  test("cosine of a vector with itself is 1") {
    val selfCos = emb.select(round(cosineNative(col("embedding"), col("embedding")), 9).as("c"))
    assert(selfCos.filter(col("c") =!= 1.0).count() == 0)
  }

  test("sign-LSH bucket is deterministic and within range") {
    val b1 = emb.select(signLshBucket(col("embedding"), 8).as("b")).collect().map(_.getLong(0))
    val b2 = emb.select(signLshBucket(col("embedding"), 8).as("b")).collect().map(_.getLong(0))
    assert(b1.toSeq == b2.toSeq)
    assert(b1.forall(b => b >= 0 && b < 256))
    // buckets must actually split the space, not collapse to one value
    assert(b1.distinct.length > 4)
  }

  test("vec_agree kernel equals the interpreted zip_with match-count fold") {
    // real minhash signatures (array<long>) from the documents fixture,
    // all-pairs within a small slice — covers agree counts 0..64
    val docs = Tables(spark, sf, "documents").limit(40)
    val sigs = graft.dedup.MinHashDedup.signatures(
      docs, col("doc_id"), col("text"))
    val pairs = sigs.select(col("doc_id").as("da"), col("sig").as("sa"))
      .crossJoin(sigs.select(col("doc_id").as("db"), col("sig").as("sb")))
      .filter(col("da") < col("db"))
    val diff = pairs.select(
      agree(col("sa"), col("sb")).as("k"),
      agreeFold(col("sa"), col("sb")).as("f")).filter(col("k") =!= col("f"))
    assert(diff.count() == 0)
    // null propagation like the fold
    val n = sigs.select(agree(lit(null).cast("array<bigint>"), col("sig")).as("k"))
      .filter(col("k").isNotNull)
    assert(n.count() == 0)
  }

  test("vec_agree: a null element never agrees, matching the fold") {
    import spark.implicits._
    val N = Option.empty[Long]
    // null vs value, null vs null, null vs 0 (an unguarded getLong reads 0
    // from a null slot), a length mismatch, and an empty side
    val rows = Seq(
      (0, Seq(Some(1L), N, Some(3L)), Seq(Some(1L), Some(2L), Some(3L))),
      (1, Seq(N, N), Seq(N, N)),
      (2, Seq(N, Some(0L), Some(5L)), Seq(Some(0L), N, Some(5L))),
      (3, Seq(Some(7L), Some(8L), Some(9L)), Seq(Some(7L), Some(8L))),
      (4, Seq.empty[Option[Long]], Seq(N))).toDF("i", "a", "b")
    val want = Seq(2, 0, 1, 2, 0)
    def counts(df: org.apache.spark.sql.DataFrame) =
      df.select(col("i"), agree(col("a"), col("b")).as("k"),
          agreeFold(col("a"), col("b")).as("f"))
        .orderBy("i").collect().map(r => (r.getInt(1), r.getInt(2))).toSeq
    // through a shuffle the projection runs whole-stage-codegen'd (the
    // generated loop with its isNullAt guard) ...
    assert(counts(rows.repartition(1)) == want.map(k => (k, k)))
    // ... straight over the local relation the optimizer evaluates it
    // interpreted (nullSafeEval)
    assert(counts(rows) == want.map(k => (k, k)))
  }

  // Seeded generated vectors for the FloatVecDot / DoubleVecDot /
  // DoubleVecL2Sq contracts: null arrays, empty and ragged arrays, and NaN /
  // ±0.0 / ±Inf among ordinary values. fa/fb/da/db are typed with non-null
  // elements (the guard-free loop); fn/dn also hold null elements, so their
  // type has containsNull and the kernel checks each position.
  private lazy val kernelRows = {
    import spark.implicits._
    val rng = new scala.util.Random(11)
    val special = Seq(Float.NaN, 0.0f, -0.0f, Float.PositiveInfinity,
      Float.NegativeInfinity)
    def elem(): Float =
      if (rng.nextInt(4) == 0) special(rng.nextInt(special.size))
      else (rng.nextGaussian() * 3).toFloat
    def vec(len: Int): Option[Seq[Float]] =
      if (rng.nextInt(10) == 0) None else Some(Seq.fill(len)(elem()))
    def withNulls(v: Option[Seq[Float]]): Option[Seq[Option[Float]]] =
      v.map(_.map(x => if (rng.nextInt(8) == 0) None else Some(x)))
    Seq.tabulate(400) { i =>
      val len = rng.nextInt(6)
      def other() = if (rng.nextBoolean()) len else rng.nextInt(6)
      (i, vec(len), vec(other()), vec(other()).map(_.map(_.toDouble)),
        vec(other()).map(_.map(_.toDouble)), withNulls(vec(other())),
        withNulls(vec(other())).map(_.map(_.map(_.toDouble))))
    }.toDF("i", "fa", "fb", "da", "db", "fn", "dn")
  }

  /** Kernel vs its interpreted fold over the first min(len) elements (the
    * kernels' documented truncation); null when either array is null or
    * holds a null element there.
    */
  private def kernelVsFold(kernel: (Column, Column) => Column,
      fold: (Column, Column) => Column, a: String, b: String) = {
    val n = least(size(col(a)), size(col(b)))
    def agree(df: org.apache.spark.sql.DataFrame) = df
      .select(col("i"), kernel(col(a), col(b)).as("k"),
        when(col(a).isNotNull && col(b).isNotNull,
          fold(slice(col(a), lit(1), n), slice(col(b), lit(1), n))).as("f"))
      .orderBy("i").collect()
      .map { r =>
        def bits(j: Int): Option[Long] =
          if (r.isNullAt(j)) None
          else Some(java.lang.Double.doubleToLongBits(r.getDouble(j)))
        (bits(1), bits(2))
      }
    // codegen'd through a shuffle, interpreted over the local relation
    for (rows <- Seq(agree(kernelRows.repartition(2)), agree(kernelRows))) {
      val bad = rows.zipWithIndex.filter { case ((k, f), _) => k != f }
      assert(bad.isEmpty, s"kernel ≠ fold at rows ${bad.take(5).toSeq}")
      val vals = rows.flatMap(_._1).map(java.lang.Double.longBitsToDouble)
      // the generator reaches every case it is meant to
      assert(rows.exists(_._1.isEmpty) && vals.exists(_.isNaN) &&
        vals.exists(_.isInfinite) && vals.contains(0.0))
    }
  }

  test("float_vec_dot kernel contract on generated vectors: bit-equal to " +
      "the fold, ragged truncates, null array → null") {
    kernelVsFold(dotNative, dot, "fa", "fb")
    // a null element within min(len) gives null like the fold, either side
    kernelVsFold(dotNative, dot, "fa", "fn")
    kernelVsFold(dotNative, dot, "fn", "fn")
    assert(kernelRows.filter(col("fa").isNotNull && col("fn").isNotNull &&
      dotNative(col("fa"), col("fn")).isNull).count() > 0,
      "the generator never put a null element inside min(len)")
  }

  test("vec_l2sq kernel contract on generated vectors: bit-equal to the " +
      "fold for float×double and double×double, ragged truncates, null → null") {
    val fold = (c: Column, x: Column) => aggregate(
      zip_with(c, x, (c, x) => {
        val d = x.cast("double") - c.cast("double"); d * d
      }),
      lit(0.0), (acc, v) => acc + v)
    // centroid assignment's orientation: double codebook left, float vector right
    kernelVsFold(l2sqNative, fold, "da", "fa")
    kernelVsFold(l2sqNative, fold, "da", "db")
    kernelVsFold(l2sqNative, fold, "da", "fn")
    kernelVsFold(l2sqNative, fold, "dn", "fa")
    kernelVsFold(l2sqNative, fold, "dn", "fn")
  }

  test("double_vec_dot kernel contract on generated vectors: bit-equal to " +
      "the fold, ragged truncates, null array or element → null") {
    val fold = (a: Column, b: Column) =>
      aggregate(zip_with(a, b, _ * _), lit(0.0), (acc, v) => acc + v)
    kernelVsFold(dotNativeD, fold, "da", "db")
    kernelVsFold(dotNativeD, fold, "dn", "db")
    kernelVsFold(dotNativeD, fold, "dn", "dn")
  }

  test("sorted_isect_count on sorted distinct arrays equals array_intersect") {
    import graft.functions.TextFunctions
    val docs = Tables(spark, sf, "documents").limit(60)
    val arr = docs.select(col("doc_id"),
      sort_array(array_distinct(TextFunctions.bigrams(col("text")))).as("ta"))
    val pairs = arr.select(col("doc_id").as("da"), col("ta"))
      .crossJoin(arr.select(col("doc_id").as("db"), col("ta").as("tb")))
      .filter(col("da") < col("db"))
    val diff = pairs.select(
      TextFunctions.sortedIntersectCount(col("ta"), col("tb")).as("k"),
      size(array_intersect(col("ta"), col("tb"))).as("s"))
      .filter(col("k") =!= col("s"))
    assert(diff.count() == 0)
    // empty-array and self-intersection edges, through the SQL facade on a
    // fresh session (the shared one never registers kernel names)
    val sqlSession = spark.newSession()
    GraftCatalog.registerAll(sqlSession, sf)
    val edge = sqlSession.sql(
      """SELECT sorted_isect_count(cast(array() AS array<string>), array('a')) AS e1,
        |       sorted_isect_count(array('a','b'), array('a','b')) AS e2,
        |       sorted_isect_count(array('a'), array('b')) AS e3""".stripMargin)
      .collect().head
    assert(edge.getInt(0) == 0 && edge.getInt(1) == 2 && edge.getInt(2) == 0)
  }

  test("binary array kernels reject wrong-typed operands at analysis") {
    val sqlSession = spark.newSession()
    GraftCatalog.registerAll(sqlSession, sf)
    val f = "array(cast(1 AS float), cast(2 AS float))"
    val d = "array(1.0D, 2.0D)"
    val l = "array(1L, 2L)"
    val str = "array('a', 'b')"
    // each kernel, a wrong element type on the right, on the left, and on
    // both; a column operand analyzes the same way as a literal one
    val wrong = Seq(
      s"float_vec_dot($f, $d)", s"float_vec_dot($d, $f)", s"float_vec_dot($d, $d)",
      "float_vec_dot(a, b) FROM VALUES (array(1.0D), array(2.0D)) AS t(a, b)",
      s"double_vec_dot($d, $l)", s"double_vec_dot($l, $d)", s"double_vec_dot($l, $l)",
      "double_vec_dot(a, b) FROM VALUES (array(1L), array(2L)) AS t(a, b)",
      s"vec_l2sq($d, $l)", s"vec_l2sq($l, $f)", s"vec_l2sq($l, $l)",
      s"vec_agree($l, $d)", s"vec_agree($d, $l)", s"vec_agree($str, $str)",
      s"sorted_isect_count($str, $l)", s"sorted_isect_count($l, $str)",
      "sorted_isect_count(1, 2)")
    wrong.foreach { q =>
      val e = intercept[org.apache.spark.sql.AnalysisException](sqlSession.sql(s"SELECT $q"))
      assert(e.getMessage.contains("requires array<"), s"$q: ${e.getMessage}")
    }
    // the accepted element types still analyze and run
    val ok = sqlSession.sql(
      s"""SELECT float_vec_dot($f, $f), double_vec_dot($d, $d), vec_l2sq($f, $d),
         |       vec_agree($l, $l), sorted_isect_count($str, $str)""".stripMargin)
      .collect().head
    assert(ok.getDouble(0) == 5.0 && ok.getDouble(1) == 5.0 && ok.getDouble(2) == 0.0 &&
      ok.getInt(3) == 2 && ok.getInt(4) == 2)
  }

  test("unary kernels reject wrong-typed operands at analysis") {
    val sqlSession = spark.newSession()
    GraftCatalog.registerAll(sqlSession, sf)
    val m = "array(array(1.0D, 2.0D))"
    // one wrong-typed operand per kernel: unchecked, each of these analyzed
    // and then either returned numbers read from the wrong bytes or failed
    // only at run time
    val wrong = Seq(
      "minhash_sig(array(1, 2), 4)", "minhash_sig_h(array('a', 'b'), 4)",
      "simhash64(array(1L, 2L))", "simhash_h(array('a', 'b'))",
      "word_ngrams(array(1, 2), 2)", "char_entropy_sum(1)",
      s"float_vec_project(array(1.0D, 2.0D), $m)")
    wrong.foreach { q =>
      val e = intercept[org.apache.spark.sql.AnalysisException](sqlSession.sql(s"SELECT $q"))
      assert(e.getMessage.contains(" requires "), s"$q: ${e.getMessage}")
    }
    // every accepted operand type still analyzes and runs; SQL's xxhash64
    // is the string kernels' per-element hash (seed 42)
    val ok = sqlSession.sql(
      s"""SELECT minhash_sig(array('a', NULL, 'b'), 4)
         |         = minhash_sig_h(array(pmod(xxhash64('a'), 2147483647L), NULL,
         |                               pmod(xxhash64('b'), 2147483647L)), 4),
         |       simhash64(array('a', NULL, 'b'))
         |         = simhash_h(array(xxhash64('a'), NULL, xxhash64('b'))),
         |       word_ngrams(array('a', 'b', 'c'), 2),
         |       char_entropy_sum('aab').n_chars,
         |       float_vec_project(array(cast(1 AS float), cast(2 AS float)), $m)[0],
         |       regexp_groups('ab', '(a)(b)')""".stripMargin)
      .collect().head
    assert(ok.getBoolean(0) && ok.getBoolean(1))
    assert(ok.getSeq[String](2) == Seq("a b", "b c"))
    assert(ok.getLong(3) == 3L && ok.getDouble(4) == 5.0)
    assert(ok.getSeq[String](5) == Seq("a", "b"))
  }
}
