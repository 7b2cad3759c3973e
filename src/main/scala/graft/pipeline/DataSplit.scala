package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.HashFunctions.md5Hash60
import graft.functions.TextFunctions

/** Deterministic dataset-preparation operators for training pipelines:
  * content-hash sampling, train/valid/test splitting, and token-budget
  * chunk packing.
  *
  * All decisions are pure functions of the data (md5 of the id — NO rand()),
  * so: (a) re-running the pipeline on the same corpus reproduces the same
  * split bit-for-bit, (b) adding documents never reshuffles existing
  * assignments (the property that keeps eval sets stable across corpus
  * versions), and (c) every op is exactly mirrorable in the DuckDB oracle.
  * Everything is map-side except packing's per-partition window — no
  * shuffle for sample/split at any scale.
  */
object DataSplit {

  /** Uniform [0, 100) bucket from the md5 of (salt, id) — the same 60-bit
    * hash the md5 dedup family uses ([[graft.dedup.MinHashDedup.md5Fold]]
    * reduces it mod P; here mod 100 for percentages).
    */
  def hashBucket(id: Column, salt: String): Column =
    pmod(md5Hash60(concat(lit(s"$salt:"), id.cast("string"))), lit(100L))

  /** Keep ~pct% of rows, deterministically, by id hash. */
  def sample(df: DataFrame, id: Column, pct: Int, salt: String = "sample"): DataFrame =
    df.filter(hashBucket(id, salt) < pct)

  /** Stable train/valid/test assignment: `train` below trainPct,
    * `valid` in the next validPct, `test` above.
    */
  def split(id: Column, trainPct: Int = 80, validPct: Int = 10,
      salt: String = "split"): Column = {
    val b = hashBucket(id, salt)
    when(b < trainPct, "train")
      .when(b < trainPct + validPct, "valid")
      .otherwise("test")
  }

  /** k-fold cross-validation assignment: fold i = hash bucket mod k — the
    * same stability contract as [[split]] (documents keep their fold as the
    * corpus grows).
    */
  def fold(id: Column, k: Int, salt: String = "fold"): Column =
    pmod(hashBucket(id, salt), lit(k.toLong))

  /** Finer-grained [0, 10000) bucket for per-mille-level mixture rates. */
  def hashBucket10k(id: Column, salt: String): Column =
    pmod(md5Hash60(concat(lit(s"$salt:"), id.cast("string"))), lit(10000L))

  /** Mixture sampling — the data-mixing step that weights sources into a
    * target training blend (e.g. wiki ×1.0, CC ×0.1): keep each row with its
    * stratum's rate, decided by id hash so the blend is reproducible and
    * grows stably with the corpus. Strata missing from `rates` are dropped
    * (an explicit mixture is a whitelist). Map-side only — no shuffle, no
    * per-stratum scan: one pass, one comparison per row at any scale.
    */
  def mixtureSample(df: DataFrame, id: Column, stratum: Column,
      rates: Map[String, Double], salt: String = "mix"): DataFrame = {
    // Integer thresholds (round(rate*10000), resolved once on the driver) —
    // the bucket compare is Long < Long, so an engine mirroring this in
    // exact DECIMAL arithmetic (the DuckDB oracle) can never land one
    // bucket apart from IEEE-double rounding of rate*10000 per row.
    val thr = rates.foldLeft(lit(0L)) { case (acc, (k, v)) =>
      when(stratum === k, lit(math.round(v * 10000.0))).otherwise(acc)
    }
    df.filter(hashBucket10k(id, salt) < thr)
  }

  /** Exact-quota stratified sample: exactly `min(n, |stratum|)` rows per
    * stratum, chosen by ranking each stratum on the salted id hash (a
    * deterministic shuffle order) with the id as tiebreak. Complements
    * [[mixtureSample]]: rates give growth-stable membership but approximate
    * counts; quotas give exact counts but membership that can churn as the
    * corpus grows (a new low-hash row displaces the rank-n one) — which is
    * why both exist. One shuffle on the stratum key; the per-stratum state
    * is a rank counter, not the stratum contents.
    */
  def stratifiedExact(df: DataFrame, stratum: Column, id: Column,
      n: Int, salt: String = "strat"): DataFrame = {
    require(n >= 1, s"stratifiedExact: n must be >= 1, got $n")
    val h = md5(concat(lit(s"$salt:"), id.cast("string")))
    val w = Window.partitionBy(stratum).orderBy(h, id)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= n)
      .drop("__rn")
  }

  /** Reproducible global shuffle + shard assignment — the "shuffle the
    * corpus, write N training shards" step every data loader needs to be
    * able to replay byte-identically. Shard membership is a map-side id
    * hash (no global sort — the 100 TB-safe move; a row_number over ONE
    * global ordering would funnel the corpus through a single task), and
    * the within-shard read order is a per-shard row_number over a second,
    * independent salted hash, so shards parallelize and the permutation is
    * a pure function of ids: stable across reruns, cluster sizes, and input
    * partitioning. Adds (shard, pos) to the input frame.
    *
    * NOTE: materializing `pos` costs a window whose parallelism is nShards
    * — use it only when an explicit integer position is genuinely needed
    * (e.g. row-addressed shard files). The manifest/digest path
    * ([[shardManifest]]) does NOT need pos: it orders by the salted hash
    * directly and stays fully parallel.
    */
  def shuffleShard(df: DataFrame, id: Column, nShards: Int,
      salt: String = "shard"): DataFrame = {
    require(nShards >= 1, s"shuffleShard: nShards must be >= 1, got $nShards")
    val ord = md5(concat(lit(s"$salt-ord:"), id.cast("string")))
    df.withColumn("shard",
        pmod(md5Hash60(concat(lit(s"$salt:"), id.cast("string"))), lit(nShards.toLong)))
      .withColumn("pos",
        row_number().over(Window.partitionBy(col("shard")).orderBy(ord, id)))
  }

  /** Per-shard order manifest with a BOUNDED-memory digest: a Merkle-style
    * hierarchy over prefixes of the salted order hash, instead of one
    * `collect_list` of the whole shard (which is an unbounded single-buffer
    * aggregation — OOM by construction at corpus scale).
    *
    * Because the order hash is the LEADING sort key, grouping by its hex
    * prefix partitions the shard's global (ord, id) order into contiguous
    * runs: digesting each run, then chaining run digests in prefix order,
    * pins the exact same permutation as one flat digest would. Levels:
    * 6-hex leaf buckets (~16.7M per shard — a uniform md5 keeps each leaf
    * at n/16.7M rows), then 4-hex and 2-hex roll-ups with a hard 256
    * fan-in, then the per-shard root. Every aggregation buffer is O(leaf)
    * or O(256); nothing is proportional to shard size, no global window,
    * and the whole thing is one corpus scan (counts/sums ride the same
    * hierarchy). Reruns on any cluster or input partitioning reproduce the
    * digest bit-for-bit — it is a pure function of the id set.
    *
    * `sums`: (outputName, column) pairs summed per shard alongside the
    * digest (e.g. token counts) so callers don't need a second scan.
    */
  def shardManifest(df: DataFrame, id: Column, nShards: Int,
      salt: String = "shard", sums: Seq[(String, Column)] = Nil): DataFrame = {
    require(nShards >= 1, s"shardManifest: nShards must be >= 1, got $nShards")
    val idS = id.cast("string")
    val base = df.select(
      Seq(
        pmod(md5Hash60(concat(lit(s"$salt:"), idS)), lit(nShards.toLong)).as("shard"),
        md5(concat(lit(s"$salt-ord:"), idS)).as("__ord"),
        idS.as("__id")) ++ sums.map { case (n, c) => c.as(n) }: _*)
    // md5 over the values of (sortKey, value) pairs in sortKey order. The
    // buffer is one leaf bucket or one 256-wide roll-up — never a shard.
    def digest(pairs: Column): Column =
      md5(array_join(transform(array_sort(pairs), _.getField("v")), ","))
    val leaf = base
      .groupBy(col("shard"), substring(col("__ord"), 1, 6).as("__k"))
      .agg(
        digest(collect_list(struct(col("__ord").as("s"), col("__id").as("v"))))
          .as("__h"),
        (count(lit(1)).as("n_docs") +:
          sums.map { case (n, _) => sum(col(n)).cast("long").as(n) }): _*)
    val rolled = Seq(4, 2, 0).foldLeft(leaf) { (prev, plen) =>
      val sumCols = sum(col("n_docs")).as("n_docs") +:
        sums.map { case (n, _) => sum(col(n)).cast("long").as(n) }
      val h = digest(collect_list(struct(col("__k").as("s"), col("__h").as("v"))))
        .as("__h")
      if (plen == 0) prev.groupBy(col("shard")).agg(h, sumCols: _*)
      else prev
        .groupBy(col("shard"), substring(col("__k"), 1, plen).as("__kp"))
        .agg(h, sumCols: _*)
        .withColumnRenamed("__kp", "__k")
    }
    rolled.select(
      Seq(col("shard"), col("n_docs")) ++ sums.map { case (n, _) => col(n) } :+
        col("__h").as("order_md5"): _*)
  }

  /** Pack documents into ~`budget`-token chunks in id order per group: the
    * window cumsum form (chunk = floor of the tokens BEFORE this doc /
    * budget) — deterministic, one shuffle on the group key, and the chunk id
    * every sequence-packing job needs before concatenation. A doc larger
    * than `budget` owns its chunks alone (the cumsum advances past them).
    */
  def packChunks(df: DataFrame, group: Column, id: Column, text: Column,
      budget: Int): DataFrame = {
    val tok = TextFunctions.tokenCount(text)
    df.select(group.as("grp"), id.as("doc_id"), tok.as("n_tok"))
      .withColumn("chunk",
        floor((sum(col("n_tok")).over(
          Window.partitionBy(col("grp")).orderBy(col("doc_id"))) - col("n_tok"))
          / budget))
  }
}
