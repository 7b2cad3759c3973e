package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.GraftShim

/** Vector similarity over `array<float>` embedding columns (SURVEY.md §2.10).
  *
  * All ops are built from Spark's higher-order array functions (`zip_with`,
  * `aggregate`) so they stay inside Catalyst/codegen — no UDFs, no
  * serialization. Numeric contract (this makes the DuckDB oracle *bit*-exact,
  * not just close): multiply elementwise in FLOAT (matching the storage
  * type), cast each product to DOUBLE, then left-fold-accumulate in DOUBLE.
  * The oracle mirrors the same IEEE op sequence with
  * `list_transform(generate_series)` + `list_reduce`, so both engines produce
  * identical bits and `round(_, 6)` never straddles a boundary differently.
  */
object VectorFunctions {

  /** Dot product: float multiplies, double left-fold sum. */
  def dot(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => (x * y).cast("double")),
      lit(0.0),
      (acc, v) => acc + v)

  def normSq(a: Column): Column = dot(a, a)

  def norm(a: Column): Column = sqrt(normSq(a))

  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (norm(a) * norm(b))

  /** Codegen'd native dot product — bit-identical to [[dot]] (same IEEE op
    * sequence, see [[FloatVecDot]]) but runs inside whole-stage codegen
    * instead of the interpreted higher-order-function path. Use on hot
    * pairwise loops; `dot` remains the reference composition.
    */
  def dotNative(a: Column, b: Column): Column =
    GraftShim.column(FloatVecDot(GraftShim.expression(a), GraftShim.expression(b)))

  def cosineNative(a: Column, b: Column): Column =
    dotNative(a, b) / (sqrt(dotNative(a, a)) * sqrt(dotNative(b, b)))

  /** Squared L2 between two array<double|float> columns — the native
    * [[graft.functions.DoubleVecL2Sq]] kernel behind centroid assignment
    * (Ann, Pq, the v8/v11 oracle queries). Bit-identical to the interpreted
    * `aggregate(zip_with(c, x, (c, x) => (x.cast("double") - c)²))` fold
    * (i-ascending widen-then-double-subtract; d² = (−d)², so operand order
    * is bit-free), but one loop per row instead of one Catalyst lambda per
    * element — assignment evaluates k of these per row.
    */
  def l2sqNative(a: Column, b: Column): Column =
    GraftShim.column(DoubleVecL2Sq(GraftShim.expression(a), GraftShim.expression(b)))

  /** Codegen'd literal-matrix projection ([[graft.functions.FloatVecProject]]):
    * array<float> → array<double> of length matrix.length, bit-identical to
    * the interpreted `transform`+`aggregate` fold (i-ascending
    * (double)x(i) · m(j)(i) accumulation).
    */
  def projectNative(v: Column, matrix: Seq[Seq[Double]]): Column =
    GraftShim.column(FloatVecProject(GraftShim.expression(v), matrix))

  /** Codegen'd double-array dot ([[graft.functions.DoubleVecDot]]) —
    * bit-identical to `aggregate(zip_with(a, b, _*_), 0.0, _+_)` for
    * equal-length inputs; on mismatch it truncates to min length (see the
    * Expression scaladoc) where the HOF fold would yield NULL.
    */
  def dotNativeD(a: Column, b: Column): Column =
    GraftShim.column(DoubleVecDot(GraftShim.expression(a), GraftShim.expression(b)))

  /** Sign-bit LSH bucket for approximate NN: hash each dimension's
    * contribution with a seeded deterministic pseudo-hyperplane (no RNG —
    * Date/Math.random would break plan determinism). `nBits` sign bits packed
    * into a long. Vectors in the same bucket are candidate neighbors; the
    * scale path probes only matching buckets instead of all pairs.
    *
    * The pseudo-hyperplane for (bit i, dim j) is derived from xxhash64(i, j)
    * mapped to [-1, 1] — fully deterministic and computable inside codegen.
    */
  def signLshBucket(v: Column, nBits: Int): Column = {
    val bits = (0 until nBits).map { i =>
      // projection_i = sum_j v[j] * h(i, j), h in [-1, 1]
      val proj = aggregate(
        zip_with(v, sequence(lit(0), size(v) - 1), (x, j) => {
          val h = pmod(xxhash64(lit(i.toLong), j.cast("long")), lit(2000001L))
          x.cast("double") * ((h.cast("double") / lit(1000000.0)) - lit(1.0))
        }),
        lit(0.0),
        (acc, x) => acc + x)
      when(proj >= 0, lit(1L) * lit(1L << i)).otherwise(lit(0L))
    }
    bits.reduce(_ + _)
  }

  /** [[signLshBucket]] with an md5-derived hyperplane family instead of
    * xxhash64: h(i, j) = md5("i,j") top-60-bits mod 2000001, scaled to
    * [-1, 1]. Identical structure, but every op is exactly reproducible in
    * DuckDB (which computes the md5 inline in SQL), so the LSH-bucketed
    * pairwise path can carry the differential oracle.
    *
    * The hyperplane is data-INDEPENDENT, so the md5/hex-parse/mod/scale
    * chain runs ONCE on the driver (java MessageDigest MD5 = the same md5)
    * and ships as a literal array — the per-row work is just the float×
    * double fold, not 256 string hashes. Supports dims ≤ 1024 (the literal
    * row length; `slice` trims it to the vector's size). Engine default
    * stays [[signLshBucket]].
    */
  def signLshBucketMd5(v: Column, nBits: Int): Column = {
    val bits = (0 until nBits).map { i =>
      val plane = typedLit(md5Plane(i))
      val proj = aggregate(
        zip_with(v, slice(plane, lit(1), size(v)), (x, h) => x.cast("double") * h),
        lit(0.0),
        (acc, x) => acc + x)
      when(proj >= 0, lit(1L << i)).otherwise(lit(0L))
    }
    bits.reduce(_ + _)
  }

  private val MaxLshDim = 1024

  /** Row i of the md5 hyperplane: ((md5("i,j")[0,15) as hex % 2000001) /
    * 1e6) - 1 for j < [[MaxLshDim]] — bit-identical to the inline SQL form
    * on both engines (verified by the v6_ann_md5 differential oracle).
    */
  private def md5Plane(i: Int): Seq[Double] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Seq.tabulate(MaxLshDim) { j =>
      val hex = md.digest(s"$i,$j".getBytes("UTF-8"))
        .map(b => f"${b & 0xff}%02x").mkString.substring(0, 15)
      (java.lang.Long.parseLong(hex, 16) % 2000001L).toDouble / 1000000.0 - 1.0
    }
  }
}
