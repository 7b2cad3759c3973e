package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.GraftShim

import graft.functions.{HashFunctions, SimHash64, SimHashFromHashes, TextFunctions}

/** SimHash near-duplicate fingerprinting (Charikar's rounding scheme as used
  * for web-scale dedup): 64-bit signature where bit j is the sign of the sum
  * over tokens of ±1 according to bit j of the token's hash. Near-dups have
  * small Hamming distance between signatures.
  *
  * Composition: token hashes computed once (`transform` + xxhash64), then the
  * 64 bit-sums fold over that array — all codegen'd, no shuffle until the
  * candidate join. Candidate blocking uses the pigeonhole split of the 64-bit
  * signature into 4 16-bit blocks: any pair at Hamming distance ≤ 3 must
  * agree on at least one block, so the join touches only block-equal pairs.
  */
object SimHashDedup {

  /** 64-bit simhash of the whitespace tokens of `text`: for each bit
    * position j, count tokens whose hash has bit j set; signature bit j is 1
    * iff that majority vote passes. Computed by the native
    * [[graft.functions.SimHash64]] kernel (one pass, 64 counters);
    * [[simhashRef]] is the equivalent declarative composition kept as the
    * executable spec (bit-equality asserted in DedupSpec).
    */
  def simhash(text: Column): Column =
    GraftShim.column(SimHash64(GraftShim.expression(TextFunctions.tokens(text))))

  /** Reference higher-order-function composition of [[simhash]] — 64 nested
    * interpreted folds; correct but ~17× slower, kept only as the spec.
    */
  def simhashRef(text: Column): Column = {
    val hs = transform(TextFunctions.tokens(text), t => xxhash64(t))
    val n = size(hs)
    aggregate(
      transform(sequence(lit(0), lit(63)), j => {
        // shiftleft/shiftrightunsigned take a literal Int in the Scala API;
        // with a per-element shift amount, call the SQL function directly.
        val ones = aggregate(hs, lit(0L),
          (acc, h) => acc + call_function("shiftrightunsigned", h, j).bitwiseAND(1L))
        when(ones * 2 > n.cast("long"), call_function("shiftleft", lit(1L), j))
          .otherwise(lit(0L))
      }),
      lit(0L),
      (acc, b) => acc + b)
  }

  /** [[simhash]] with the md5 hash family: per-token hash = top 60 bits of
    * the md5 hex (bits 60-63 of the signature are structurally 0). Exactly
    * mirrorable in DuckDB (`CAST('0x'||substr(md5(t),1,15) AS BIGINT)` +
    * per-bit majority via list ops), putting the SimHash signature under the
    * differential oracle. Engine default stays xxhash64 (full 64 bits,
    * cheaper); both share the [[graft.functions.SimHashFromHashes]] /
    * [[graft.functions.SimHash64]] counting kernel.
    */
  def simhashMd5(text: Column): Column =
    GraftShim.column(SimHashFromHashes(GraftShim.expression(
      transform(TextFunctions.tokens(text),
        HashFunctions.md5Hash60(_)))))

  /** Hamming distance between two 64-bit signatures. */
  def hamming(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b))

  /** (doc_id, simhash, block0..block3) signatures with pigeonhole blocks. */
  def signatures(df: DataFrame, id: Column, text: Column): DataFrame = {
    val sig = simhash(text)
    val blocks = (0 until 4).map(k =>
      shiftrightunsigned(col("simhash"), k * 16).bitwiseAND(0xFFFFL).as(s"block$k"))
    df.select(id.as("doc_id"), sig.as("simhash"))
      .select(col("doc_id") +: col("simhash") +: blocks: _*)
  }

  /** Candidate pairs with Hamming distance ≤ maxHamming (≤ 3 guaranteed
    * complete by the 4-block pigeonhole; higher thresholds lose recall).
    */
  def candidatePairs(df: DataFrame, id: Column, text: Column, maxHamming: Int = 3): DataFrame = {
    val sigs = signatures(df, id, text)
    val blocked = sigs.select(col("doc_id"), col("simhash"),
      posexplode(array((0 until 4).map(k => col(s"block$k")): _*)))
      .withColumnRenamed("pos", "block_idx")
      .withColumnRenamed("col", "block_val")
    val a = blocked.select(col("block_idx"), col("block_val"),
      col("doc_id").as("da"), col("simhash").as("ha"))
    val b = blocked.select(col("block_idx").as("bi"), col("block_val").as("bv"),
      col("doc_id").as("db"), col("simhash").as("hb"))
    a.join(b, col("block_idx") === col("bi") && col("block_val") === col("bv") &&
        col("da") < col("db"))
      .select(col("da"), col("db"), hamming(col("ha"), col("hb")).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }
}
