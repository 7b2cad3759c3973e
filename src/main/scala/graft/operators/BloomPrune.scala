package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.GraftShim

/** Semi-join pruning via a broadcast Bloom filter — the standard 100 TB
  * technique for shrinking a fact scan BEFORE the shuffle when the filter
  * side is too large to broadcast as a hash table but its key set fits a
  * few MB of bloom bits. Built on Spark's own `bloom_filter_agg` /
  * `might_contain` (the machinery behind runtime row-level filtering).
  *
  * The filter is one-sided: might_contain has NO false negatives (every
  * matching row survives — asserted in OperatorSpec) and a bounded
  * false-positive rate, so callers that need exact semantics re-verify with
  * the real join afterwards — the bloom then only reduces the rows entering
  * the shuffle, never the result. Deterministic: the bit array is an OR of
  * xxhash64 positions (commutative, partitioning-independent).
  */
object BloomPrune {

  /** Prune `fact` to rows whose `factKey` might be in `keys`'s `keyCol`.
    *
    * The aggregated bloom is a SCALAR (one binary value, numBits/8 bytes) —
    * `might_contain` requires a constant, so the value is materialized on
    * the driver and inlined as a literal, the same shape Spark's own
    * runtime row-level filtering injects. That one-row collect is the
    * broadcast; it is NOT a driver-side loop over data.
    */
  def pruned(fact: DataFrame, factKey: Column, keys: DataFrame, keyCol: Column,
      expectedItems: Long = 1000000L, numBits: Long = 8000000L): DataFrame = {
    val bf: Array[Byte] = keys
      .agg(GraftShim.column(new BloomFilterAggregate(
        GraftShim.expression(xxhash64(keyCol)), Literal(expectedItems), Literal(numBits))
        .toAggregateExpression()).as("__bf"))
      .collect()(0).getAs[Array[Byte]](0)
    fact.filter(GraftShim.column(BloomFilterMightContain(
      Literal(bf), GraftShim.expression(xxhash64(factKey)))))
  }
}
