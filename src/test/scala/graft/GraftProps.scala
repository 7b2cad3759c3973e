package graft

import org.scalacheck.{Gen, Properties}
import org.scalacheck.Prop.forAll

import graft.functions.Blake2b

/** Property-based checks (SURVEY.md §5.2(3)) over the pure kernel functions
  * — no Spark jobs per case, so thousands of cases stay cheap.
  */
object GraftProps extends Properties("graft") {

  private val asciiStr = Gen.listOf(Gen.asciiPrintableChar).map(_.mkString)
  private val vals = Gen.listOfN(4, asciiStr)

  property("genKey is deterministic") = forAll(vals) { vs =>
    Blake2b.genKey(vs) == Blake2b.genKey(vs)
  }

  property("genKey is field-order insensitive (utils.py:132-134 sort)") =
    forAll(vals) { vs =>
      Blake2b.genKey(vs) == Blake2b.genKey(scala.util.Random.shuffle(vs))
    }

  property("genKey is 16 lowercase hex chars (digest_size=8)") =
    forAll(vals) { vs =>
      val k = Blake2b.genKey(vs)
      k.length == 16 && k.forall(c => "0123456789abcdef".contains(c))
    }

  property("digest matches at block boundaries (127/128/129 bytes)") = {
    // regression guard for the single-vs-multi-block split logic
    val sizes = Seq(0, 1, 127, 128, 129, 255, 256, 257, 1000)
    sizes.forall { n =>
      val d = Blake2b.hex(Blake2b.digest(Array.fill(n)('a'.toByte)))
      d.length == 16 && d == Blake2b.hex(Blake2b.digest(Array.fill(n)('a'.toByte)))
    }
  }

  property("different digest sizes give different-width prefixed output") =
    forAll(asciiStr) { s =>
      val bytes = s.getBytes("UTF-8")
      Blake2b.digest(bytes, 8).length == 8 && Blake2b.digest(bytes, 32).length == 32
    }

  // ---- native dedup kernels (evaluated directly, no Spark session) ----

  import org.apache.spark.sql.catalyst.util.GenericArrayData
  import org.apache.spark.unsafe.types.UTF8String

  private def utf8Arr(ts: Seq[String]) =
    new GenericArrayData(ts.map(t => UTF8String.fromString(t)).toArray[Any])
  private def simhash(ts: Seq[String]): Long =
    graft.functions.SimHash64(null).nullSafeEval(utf8Arr(ts)).asInstanceOf[Long]
  private def minhash(hs: Seq[Long], k: Int = 16): Seq[Long] =
    graft.functions.MinHashFromHashes(null, k)
      .nullSafeEval(new GenericArrayData(hs.toArray[Any]))
      .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      .toLongArray().toSeq

  private val tokenLists = Gen.listOf(Gen.nonEmptyListOf(Gen.alphaNumChar).map(_.mkString))

  property("simhash is token-order independent (bit counts commute)") =
    forAll(tokenLists) { ts =>
      simhash(ts) == simhash(scala.util.Random.shuffle(ts))
    }

  property("simhash is invariant under uniform duplication (majority vote scales)") =
    forAll(tokenLists) { ts =>
      simhash(ts) == simhash(ts ++ ts)
    }

  private val hashLists = Gen.listOf(Gen.chooseNum(0L, 2147483646L))

  property("minhash signature is order independent and dedup invariant (min laws)") =
    forAll(hashLists) { hs =>
      val base = minhash(hs)
      base == minhash(scala.util.Random.shuffle(hs)) && base == minhash(hs ++ hs)
    }

  property("minhash values stay in [0, P]; empty input gives the P sentinel") =
    forAll(hashLists) { hs =>
      minhash(hs).forall(v => v >= 0L && v <= 2147483647L) &&
        minhash(Nil).forall(_ == 2147483647L)
    }

  // Each hash-kernel family shares one fold: a string kernel equals its
  // pre-hashed twin over the strings' xxhash64(seed 42), folded into [0, P)
  // for minhash (nulls skipped) and kept as is for simhash (a null stays a
  // null, so it still counts in the majority denominator). The arrays
  // include empty ones, null elements and non-BMP code points.
  private val kernelStr: Gen[String] = Gen.listOf(Gen.oneOf(
      Gen.alphaNumChar.map(_.toString), Gen.oneOf("é", "中", " "),
      Gen.choose(0x10000, 0x10FFFF).map(cp => new String(Character.toChars(cp)))))
    .map(_.mkString)
  private val strArrays: Gen[List[String]] =
    Gen.listOf(Gen.frequency(1 -> Gen.const(null: String), 6 -> kernelStr))
  private def xxhash(s: String): Long =
    org.apache.spark.sql.catalyst.expressions.XxHash64Function.hash(
      UTF8String.fromString(s), org.apache.spark.sql.types.StringType, 42L)

  property("minhash_sig equals minhash_sig_h over xxhash64 folded into [0, P)") =
    forAll(strArrays) { xs =>
      val direct = graft.functions.MinHashSignature(null, 16).nullSafeEval(utf8Arr(xs))
        .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toLongArray().toSeq
      direct == minhash(xs.filter(_ != null).map(s => Math.floorMod(xxhash(s), 2147483647L)))
    }

  property("simhash64 equals simhash_h over xxhash64, nulls kept") =
    forAll(strArrays) { xs =>
      val hashed = new GenericArrayData(
        xs.map(s => if (s == null) null else xxhash(s)).toArray[Any])
      simhash(xs) ==
        graft.functions.SimHashFromHashes(null).nullSafeEval(hashed).asInstanceOf[Long]
    }

  // ---- ES sink JSON escaping (pure string kernel) ----

  private val jackson = new com.fasterxml.jackson.databind.ObjectMapper()

  /** Arbitrary unicode strings (incl. control chars, quotes, emoji ranges);
    * a rendered JSON string literal must parse back to the original via a
    * real JSON parser (Jackson, already on Spark's classpath).
    */
  property("EsShapedSink.jsonEscape round-trips through a JSON parser") =
    forAll(Gen.listOf(Gen.oneOf(
      Gen.asciiChar, Gen.alphaNumChar,
      Gen.oneOf('"', '\\', '\n', '\t', '\u0001', '✓', '中'),
      // Surrogate halves drawn independently: random interleaving produces
      // lone highs, lone lows, and accidental valid pairs -- all must survive
      // the round-trip (lone surrogates are \uXXXX-escaped by jsonEscape).
      Gen.oneOf('\ud800', '\udbff', '\udc00', '\udfff'))
    ).map(_.mkString)) { s =>
      val literal = "\"" + graft.sinks.EsShapedSink.jsonEscape(s) + "\""
      jackson.readValue(literal, classOf[String]) == s
    }

  private val hhK = 5
  /** Zipf-ish streams: a couple of hot tokens over a long-tail alphabet. */
  private val hhStream: Gen[List[String]] = Gen.listOf(Gen.frequency(
    6 -> Gen.const("hot"), 3 -> Gen.const("warm"),
    4 -> Gen.choose(0, 50).map(i => s"t$i")))

  /** The Misra-Gries core invariants, over arbitrary streams AND arbitrary
    * split points (the kernel the distributed treeAggregate composes —
    * pure, so thousands of cases cost nothing):
    *  - containment: every term with true count > N/k survives the merge
    *  - lower bound: no sketch count exceeds the true count
    *  - size: the merged sketch never exceeds k entries
    */
  property("MG sketch: containment + lower-bound + size under any split") =
    forAll(hhStream, Gen.choose(0, 1000)) { (stream, cut) =>
      import scala.collection.mutable
      import graft.operators.HeavyHitters
      val (l, r) = stream.splitAt(cut % (stream.length + 1))
      def sk(xs: List[String]) =
        xs.foldLeft(mutable.HashMap.empty[String, Long])(
          (m, t) => HeavyHitters.insert(m, t, hhK))
      val merged = HeavyHitters.merge(sk(l), sk(r), hhK)
      val truth = stream.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val n = stream.length.toLong
      val containment = truth.forall { case (t, c) =>
        c * hhK <= n || merged.contains(t)
      }
      val lowerBound = merged.forall { case (t, c) => c <= truth.getOrElse(t, 0L) }
      containment && lowerBound && merged.size <= hhK
    }

  /** The RangeJoin.intervalOverlap exactly-once lemma, as pure arithmetic:
    * for ANY two overlapping intervals and ANY bin width, the bin of the
    * overlap's start (floorDiv of max(alo, blo)) lies inside BOTH sides'
    * exploded bin ranges — so keeping candidates only in that bin loses no
    * pair (coverage) and emits each pair exactly once (the responsible bin
    * is a single value). Negative coordinates included: the Column-side
    * floorDiv uses pmod, i.e. floor semantics, mirrored here by
    * Math.floorDiv. The Spark-level equivalence to the brute theta join is
    * RangeJoinSpec's job; this pins the math it rests on.
    */
  private val genIv = for {
    lo <- Gen.choose(-2000L, 2000L)
    len <- Gen.choose(0L, 700L)
  } yield (lo, lo + len)

  property("interval-overlap responsible bin is covered by both sides") =
    forAll(genIv, genIv, Gen.choose(1L, 97L)) { case ((alo, ahi), (blo, bhi), w) =>
      !(alo <= bhi && blo <= ahi) || {
        val s = Math.floorDiv(Math.max(alo, blo), w)
        Math.floorDiv(alo, w) <= s && s <= Math.floorDiv(ahi, w) &&
          Math.floorDiv(blo, w) <= s && s <= Math.floorDiv(bhi, w)
      }
    }

  // a39's scripted-metric trick: the (peak, maxdd) state machine packed
  // into ONE BIGINT (peak·10⁹ + maxdd) so DuckDB's list_reduce can mirror
  // Spark's aggregate(). The fold must equal the plain two-variable spec
  // for any value sequence under the documented 10⁹ bound.
  private val drawVals = Gen.listOf(Gen.choose(0L, 999999999L))

  property("a39 packed drawdown fold equals the two-variable reference") =
    forAll(drawVals) { vs =>
      val B = 1000000000L
      val packed = vs.foldLeft(0L) { (acc, v) =>
        val p = math.max(acc / B, v)
        p * B + math.max(acc % B, p - v)
      }
      var peak = 0L; var mdd = 0L
      vs.foreach { v => peak = math.max(peak, v); mdd = math.max(mdd, peak - v) }
      packed / B == peak && packed % B == mdd
    }

  // w10's gaps-and-islands identity: value − rank is constant exactly on
  // maximal consecutive runs, so grouping by it recovers run lengths.
  private val daySets = Gen.listOf(Gen.choose(0, 400)).map(_.distinct.sorted)

  property("w10 value-minus-rank grouping recovers maximal consecutive runs") =
    forAll(daySets) { days =>
      val byTrick = days.zipWithIndex
        .groupBy { case (d, i) => d - i }.values
        .map(g => (g.map(_._1).min, g.size)).toSet
      // reference: fold into explicit runs
      val runs = days.foldLeft(List.empty[(Int, Int)]) {
        case ((start, len) :: rest, d) if d == start + len => (start, len + 1) :: rest
        case (acc, d) => (d, 1) :: acc
      }.toSet
      byTrick == runs
    }

  // d12's metric relationship: containment ≥ jaccard always, strictly so
  // whenever the sets differ and intersect — the gap is exactly what the
  // sub-document dedup case exploits (proper subset: containment 1, jaccard
  // min/max < 1). Equality only in the degenerate cases (disjoint or
  // identical).
  private val tokSets = Gen.listOf(Gen.choose(0, 30)).map(_.toSet)

  property("containment dominates jaccard; strict unless disjoint/identical") =
    forAll(tokSets, tokSets) { (a, b) =>
      (a.isEmpty || b.isEmpty) || {
        val i = (a & b).size.toDouble
        val cont = i / math.min(a.size, b.size)
        val jac = i / (a.size + b.size - i)
        cont >= jac &&
          ((cont == jac) == (i == 0 || a == b)) &&
          (!(a.subsetOf(b) && a != b) || cont == 1.0)
      }
    }
}
