package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.GraftShim

import graft.functions.{HashFunctions, LongVecAgree, MinHashFromHashes, MinHashSignature,
  TextFunctions}

/** MinHash + LSH near-duplicate detection (SURVEY.md D2): the standard
  * shingle → minhash → band → bucket-join pipeline (Broder resemblance),
  * composed from Spark higher-order functions — no UDFs.
  *
  * Hashing scheme: each distinct shingle is hashed ONCE with xxhash64, folded
  * into [0, 2^31-1), then the k-hash family is Carter-Wegman affine
  * `(a_i * h + b_i) mod (2^31 - 1)` with coefficients from a fixed seed.
  * This keeps per-shingle work at one string hash + k long multiplies, and —
  * because operands stay under 2^62 — never overflows, which matters since
  * Spark 4 runs ANSI mode (long overflow would throw, not wrap).
  *
  * Scale posture (100 TB): signatures are fixed-width (`numHashes` ints) per
  * document; the bucket self-join shuffles only (band, bandHash, doc_id)
  * triples — signatures are re-joined per *candidate pair*, never carried
  * through the bucket join; quadratic blowup is confined to band buckets.
  * Band count trades recall for candidate volume: 8 bands × 8 rows targets
  * the ~0.7+ Jaccard regime (collision prob 1-(1-j^8)^8).
  */
object MinHashDedup {

  private val Prime = 2147483647L // 2^31 - 1 (Mersenne)

  /** k-minhash signature: array<long> of length numHashes. Hot path is the
    * native [[graft.functions.MinHashSignature]] kernel; [[signatureRef]] is
    * the equivalent declarative composition kept as the executable spec
    * (bit-equality asserted in MinHashDedupSpec). Each shingle is
    * string-hashed once (xxhash64 → [0, P)), expanded to k affine variants
    * `(a_i*h + b_i) mod P` (a_i ≤ 2^20 so h*a_i < 2^51 — no ANSI overflow),
    * then elementwise-min folded. Docs with no shingles get P sentinels.
    */
  def signature(text: Column, numHashes: Int = 64, shingleWidth: Int = 3): Column =
    GraftShim.column(MinHashSignature(GraftShim.expression(
      array_distinct(TextFunctions.shingles(text, shingleWidth))), numHashes))

  /** Reference composition of [[signature]] in pure higher-order functions. */
  def signatureRef(text: Column, numHashes: Int = 64, shingleWidth: Int = 3): Column = {
    val perShingle = transform(
      array_distinct(TextFunctions.shingles(text, shingleWidth)),
      t => {
        val h = pmod(xxhash64(t), lit(Prime))
        transform(sequence(lit(0), lit(numHashes - 1)), i => {
          val a = pmod(i.cast("long") * 2654435761L, lit(1048573L)) + 1L
          val b = i.cast("long") * 40503L
          pmod(h * a + b, lit(Prime))
        })
      })
    aggregate(
      perShingle,
      transform(sequence(lit(0), lit(numHashes - 1)), _ => lit(Prime)),
      (acc, row) => zip_with(acc, row, (m, v) => least(m, v)))
  }

  /** Shingle → [0, P) fold based on md5 instead of xxhash64: top 60 bits of
    * the md5 hex parsed as a long, mod P. Slower than xxhash64 (still fully
    * codegen'd builtins) but EXACTLY mirrorable in DuckDB
    * (`CAST('0x' || substr(md5(t),1,15) AS BIGINT) % P`), which puts the
    * whole MinHash-LSH pipeline under the differential oracle gate. Engine
    * default stays xxhash64; this family backs the oracle-paired query.
    */
  def md5Fold(t: Column): Column =
    pmod(HashFunctions.md5Hash60(t), lit(Prime))

  /** k-minhash signature with the md5 hash family (oracle-mirrorable). The
    * affine expansion + min fold runs in the native
    * [[graft.functions.MinHashFromHashes]] kernel over pre-folded hashes.
    */
  def signatureMd5(text: Column, numHashes: Int = 64, shingleWidth: Int = 3): Column =
    GraftShim.column(MinHashFromHashes(GraftShim.expression(
      transform(array_distinct(TextFunctions.shingles(text, shingleWidth)), md5Fold(_))),
      numHashes))

  /** Estimated Jaccard from two signatures = fraction of agreeing positions.
    * Hot path is the native [[graft.functions.LongVecAgree]] kernel (r22):
    * bit-identical to the interpreted
    * `aggregate(zip_with(sa, sb, when(x===y,1).otherwise(0)), 0, _+_)` fold
    * it replaces (integer match count over min-length, null array → null),
    * but one codegen'd loop per candidate pair instead of one Catalyst
    * lambda per element — this estimate sits on every candidate pair of the
    * whole minhash family (d2_minhash_*, d3/d10 LSH, i3/d13 incremental).
    */
  def estimateJaccard(sa: Column, sb: Column, numHashes: Int = 64): Column =
    GraftShim.column(LongVecAgree(GraftShim.expression(sa), GraftShim.expression(sb)))
      .cast("double") / numHashes

  /** (doc_id, sig) signatures, cached — computed once, reused by both the
    * band bucketing and the per-pair estimate join.
    */
  def signatures(
      df: DataFrame, id: Column, text: Column,
      numHashes: Int = 64, shingleWidth: Int = 3): DataFrame = {
    df.select(id.as("doc_id"), signature(text, numHashes, shingleWidth).as("sig"))
  }

  /** (doc_id, band, band_hash) — one row per band per document. `bandKey`
    * maps the band's sub-signature to the bucket key: [[longBandKey]]
    * (engine default) or [[stringBandKey]] (oracle-mirrorable).
    */
  def banded(sigs: DataFrame, numHashes: Int, bands: Int,
      bandKey: (Column, Column) => Column = longBandKey): DataFrame = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    val rows = numHashes / bands
    sigs.select(col("doc_id"),
        posexplode(transform(sequence(lit(0), lit(bands - 1)),
          j => bandKey(j, slice(col("sig"), j * lit(rows) + 1, lit(rows))))))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "band_hash")
  }

  /** Band bucket key as xxhash64 of (band index, sub-signature): 8 bytes. */
  val longBandKey: (Column, Column) => Column = (j, sl) => xxhash64(j, sl)

  /** Band bucket key as the sub-signature itself, comma-joined — larger than
    * the xxhash64 key but exactly reproducible in the DuckDB oracle.
    */
  val stringBandKey: (Column, Column) => Column =
    (_, sl) => concat_ws(",", transform(sl, _.cast("string")))

  /** Candidate near-dup pairs (da < db) colliding in ≥ 1 band, with the
    * signature-estimated Jaccard, filtered to `minEstJaccard`.
    */
  def candidatePairs(
      df: DataFrame, id: Column, text: Column,
      numHashes: Int = 64, bands: Int = 8, shingleWidth: Int = 3,
      minEstJaccard: Double = 0.5): DataFrame =
    candidatePairsFrom(
      graft.Caches.track(signatures(df, id, text, numHashes, shingleWidth)),
      numHashes, bands, minEstJaccard)

  /** [[candidatePairs]] with the md5 hash family and string band keys — the
    * oracle-mirrorable variant (engine default stays xxhash64).
    */
  def candidatePairsMd5(
      df: DataFrame, id: Column, text: Column,
      numHashes: Int = 64, bands: Int = 8, shingleWidth: Int = 3,
      minEstJaccard: Double = 0.5): DataFrame =
    candidatePairsFrom(
      graft.Caches.track(df.select(id.as("doc_id"),
        signatureMd5(text, numHashes, shingleWidth).as("sig"))),
      numHashes, bands, minEstJaccard, stringBandKey)

  private def candidatePairsFrom(
      sigs: DataFrame, numHashes: Int, bands: Int, minEstJaccard: Double,
      bandKey: (Column, Column) => Column = longBandKey): DataFrame = {
    val bd = banded(sigs, numHashes, bands, bandKey)
    val pairs = bd
      .join(bd.select(col("band").as("band_b"), col("band_hash").as("band_hash_b"),
        col("doc_id").as("db")),
        col("band") === col("band_b") && col("band_hash") === col("band_hash_b") &&
          col("doc_id") < col("db"))
      .select(col("doc_id").as("da"), col("db"))
      .distinct()
    pairs
      .join(sigs.select(col("doc_id").as("da"), col("sig").as("sa")), "da")
      .join(sigs.select(col("doc_id").as("db"), col("sig").as("sb")), "db")
      .select(col("da"), col("db"),
        round(estimateJaccard(col("sa"), col("sb"), numHashes), 6).as("est_jaccard"))
      .filter(col("est_jaccard") >= minEstJaccard)
  }
}
