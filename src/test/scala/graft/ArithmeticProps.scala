package graft

import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.forAll
import graft.datastream.WindowedStream
import graft.operators.{AggregateFunction, TopKAggregator}

/** ScalaCheck property suite (SURVEY §5 test plan): window-assignment
  * arithmetic and aggregate merge laws, checked over randomized inputs.
  * Pure-function layer — the Spark-side equivalences are covered by the
  * seeded DataFrame tests in WindowingSpec/LlmSpec.
  */
object ArithmeticProps extends Properties("graft.arithmetic") {

  private val tsGen = Gen.choose(0L, 4102444800000L)
  private val sizeGen = Gen.oneOf(1000L, 60000L, 900000L, 3600000L, 86400000L)

  property("window start covers ts and aligns to offset") = forAll(
    tsGen, sizeGen, Gen.choose(0L, 899999L)) { (ts, size, off0) =>
    val off = off0 % size
    val ws = WindowedStream.startFor(ts, size, off)
    ws <= ts && ts < ws + size && math.floorMod(ws - off, size) == 0
  }

  property("window assignment is idempotent per window") = forAll(tsGen, sizeGen) {
    (ts, size) =>
      val ws = WindowedStream.startFor(ts, size, 0L)
      WindowedStream.startFor(ws, size, 0L) == ws &&
        WindowedStream.startFor(ws + size - 1, size, 0L) == ws
  }

  property("sliding assignment = exactly the aligned windows containing ts") = forAll(
    tsGen, Gen.choose(1L, 20L), Gen.choose(1L, 20L)) { (ts, a, b) =>
    // arbitrary size/slide ratios, including non-divisible and slide > size
    // (the latter leaves gap timestamps in NO window, like Flink)
    val slide = a * 60000L
    val size = b * 60000L
    val got = graft.windowing.SlidingEventTimeWindows(
      graft.windowing.Time.milliseconds(size),
      graft.windowing.Time.milliseconds(slide)).assignWindows(ts)
    val contain = got.forall(w => w.start <= ts && ts < w.end)
    // count of slide-aligned starts s in (ts-size, ts]:
    // floor(ts/slide) - floor((ts-size)/slide)
    val expected = math.floorDiv(ts, slide) - math.floorDiv(ts - size, slide)
    contain && got.size == expected && got.map(_.start).distinct.size == got.size
  }

  private val wavg = new AggregateFunction[(Double, Double), (Double, Double), Double] {
    def createAccumulator() = (0.0, 0.0)
    def add(a: (Double, Double), v: (Double, Double)) = (a._1 + v._1 * v._2, a._2 + v._2)
    def getResult(a: (Double, Double)) = if (a._2 == 0.0) 0.0 else a._1 / a._2
    def merge(a: (Double, Double), b: (Double, Double)) = (a._1 + b._1, a._2 + b._2)
  }

  private val valGen = Gen.listOf(Gen.zip(
    Gen.choose(-1000.0, 1000.0), Gen.choose(0.1, 10.0)))

  property("aggregate merge == sequential add at any split point") = forAll(
    valGen, Gen.choose(0, 100)) { (vals, cut0) =>
    val cut = if (vals.isEmpty) 0 else cut0 % (vals.size + 1)
    val (l, r) = vals.splitAt(cut)
    val whole = vals.foldLeft(wavg.createAccumulator())(wavg.add)
    val merged = wavg.merge(
      l.foldLeft(wavg.createAccumulator())(wavg.add),
      r.foldLeft(wavg.createAccumulator())(wavg.add))
    math.abs(wavg.getResult(whole) - wavg.getResult(merged)) < 1e-9
  }

  property("merge is commutative") = forAll(valGen, valGen) { (xs, ys) =>
    val ax = xs.foldLeft(wavg.createAccumulator())(wavg.add)
    val ay = ys.foldLeft(wavg.createAccumulator())(wavg.add)
    wavg.merge(ax, ay) == wavg.merge(ay, ax)
  }

  private def jaccard(a: Set[String], b: Set[String]): Double = {
    val inter = (a intersect b).size
    val uni = a.size + b.size - inter
    if (uni == 0) 0.0 else inter.toDouble / uni
  }

  private val setGen = Gen.listOf(Gen.oneOf("a", "b", "c", "d", "e", "f")).map(_.toSet)

  property("jaccard formula is bounded, symmetric, reflexive") = forAll(setGen, setGen) {
    (a, b) =>
      val j = jaccard(a, b)
      j >= 0.0 && j <= 1.0 &&
        jaccard(a, b) == jaccard(b, a) &&
        (a.isEmpty || jaccard(a, a) == 1.0)
  }

  // TopKAggregator: distributed partial top-k must equal the global top-k
  // regardless of how rows split across partitions (the property that
  // makes bounding the ANN ranking shuffle at k rows SAFE)
  private implicit val topkEnc: org.apache.spark.sql.Encoder[Seq[(Long, Double)]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
  private implicit val bottomkEnc: org.apache.spark.sql.Encoder[Seq[(Long, Long, Double)]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
  private val pairsGen =
    Gen.listOf(Gen.zip(Gen.choose(0L, 50L), Gen.choose(0.0, 1.0).map(d => math.rint(d * 100) / 100)))

  property("topk partial merge equals global topk for any partition split") =
    forAll(pairsGen, pairsGen, Gen.choose(1, 8)) { (xs, ys, k) =>
      val agg = new TopKAggregator(k, TopKAggregator.ScoreDesc)
      def fold(s: List[(Long, Double)]) = s.foldLeft(agg.zero)(agg.reduce)
      val merged = agg.finish(agg.merge(fold(xs), fold(ys)))
      val whole = agg.finish(fold(xs ++ ys))
      merged == whole && merged.size <= k &&
        agg.merge(fold(xs), fold(ys)) == agg.merge(fold(ys), fold(xs))
    }

  // the O(log c) indexed summary must be bit-identical to the minBy-scan
  // form on any stream (same algorithm, same (count, item) tie-breaks)
  property("indexed space-saving summary equals the scan form on any stream") =
    forAll(Gen.listOf(Gen.choose(0, 25).map(i => s"t$i")), Gen.choose(1, 8)) {
      (items, capacity) =>
        val scan = scala.collection.mutable.HashMap.empty[String, Long]
        items.foreach(graft.operators.SpaceSaving.offer(scan, _, capacity))
        val indexed = new graft.operators.SpaceSavingSummary(capacity)
        items.foreach(indexed.offer)
        indexed.entries.toMap == scan.toMap &&
          indexed.topK(capacity) == graft.operators.SpaceSaving.topK(scan, capacity)
    }

  // The KMeans/PSI oracles compute round-half-up(s/n) as
  // CAST(floor((2s+n)/(2.0n)) AS BIGINT); the Spark side uses integer
  // Math.floorDiv. The claim that double division never crosses an
  // integer boundary holds while |2s+n| < 2^53 — the whole fixture/scale
  // regime (sums of 2^15-quantized coords over ≤2^26 rows).
  property("oracle double-floor division equals integer floorDiv") = forAll(
    Gen.choose(-(1L << 40), 1L << 40), Gen.choose(1L, 1L << 20)) { (s, n) =>
    val viaDouble = math.floor((2.0 * s + n) / (2.0 * n)).toLong
    viaDouble == Math.floorDiv(2 * s + n, 2 * n)
  }

  // Prefix-filter theorem (AllPairs/PPJoin), the q140 correctness claim:
  // under ANY total token order, if |A∩B|/|A∪B| ≥ t then the prefixes of
  // length |x| − ⌈t·|x|⌉ + 1 share at least one token. Checked against
  // randomized sets and thresholds — fixture-independent.
  private val tokenSetGen =
    Gen.nonEmptyListOf(Gen.choose(0, 40)).map(_.toSet)
  property("prefix filter never loses a qualifying pair") = forAll(
    tokenSetGen, tokenSetGen, Gen.choose(0.05, 0.95)) { (a, b, t) =>
    val inter = (a & b).size.toDouble
    val jac = inter / (a | b).size
    val order = (a | b).toSeq.sorted // any consistent total order
    def prefix(x: Set[Int]): Set[Int] = {
      val p = x.size - math.ceil(t * x.size).toInt + 1
      order.filter(x).take(p).toSet
    }
    jac < t || (prefix(a) & prefix(b)).nonEmpty
  }

  // q178's Gini: the rank form (2·Σi·x₍ᵢ₎ − (n+1)·Σx)/(n·Σx) over the
  // ascending-sorted sizes equals the textbook mean-absolute-difference
  // definition Σᵢⱼ|xᵢ−xⱼ|/(2n²·mean) — exactly, when both fold the same
  // integers (the distributed rank assignment only has to reproduce the
  // sort order; the arithmetic is settled here).
  property("Gini rank form equals the mean-absolute-difference form") = forAll(
    Gen.nonEmptyListOf(Gen.choose(1L, 10000L))) { xs =>
    val n = xs.length.toLong
    val s = xs.sum
    val sorted = xs.sorted
    val trs = sorted.zipWithIndex.map { case (x, i) => (i + 1) * x }.sum
    val rankForm = (2.0 * trs - (n + 1).toDouble * s.toDouble) /
      (n.toDouble * s.toDouble)
    val mad = (for (a <- xs; b <- xs) yield math.abs(a - b)).sum
    val madForm = mad.toDouble / (2.0 * n * n * (s.toDouble / n))
    math.abs(rankForm - madForm) < 1e-9
  }

  // q177's pick: the first row (in (value, tiebreak) order) whose doubled
  // cumulative weight reaches the total IS the minimizer of the weighted
  // absolute deviation Σwᵢ|xᵢ−m| — the defining property of a weighted
  // median, checked against brute force over the observed values.
  property("2·cumw ≥ totw pick minimizes weighted absolute deviation") = forAll(
    Gen.nonEmptyListOf(Gen.zip(Gen.choose(0L, 50L), Gen.choose(1L, 9L)))) { xs =>
    val sorted = xs.sortBy(_._1)
    val totw = sorted.map(_._2).sum
    var cum = 0L
    val pick = sorted.find { case (_, w) => cum += w; cum * 2 >= totw }.get._1
    def cost(m: Long): Long = xs.map { case (x, w) => w * math.abs(x - m) }.sum
    val best = xs.map(_._1).distinct.map(cost).min
    cost(pick) == best
  }

  // q182's WAPE/bias exactness claim: ratios of exact integer sums are
  // invariant under any partitioning of the rows (the float division
  // happens once, on identical operands).
  property("WAPE of integer series is partition-invariant") = forAll(
    Gen.nonEmptyListOf(Gen.zip(Gen.choose(0L, 100000L), Gen.choose(0L, 100000L))),
    Gen.choose(1, 7)) { (rows, parts) =>
    def wape(groups: Seq[Seq[(Long, Long)]]): Double = {
      val sae = groups.map(_.map { case (a, f) => math.abs(a - f) }.sum).sum
      val sa = groups.map(_.map(_._1).sum).sum
      if (sa == 0) -1.0 else sae.toDouble / sa.toDouble
    }
    val shuffled = rows.zipWithIndex.groupBy(_._2 % parts).values
      .map(_.map(_._1)).toSeq
    wape(Seq(rows)) == wape(shuffled)
  }

  // q166's prefilter: each edit moves the full-alphabet character bag by
  // at most 2 in L1, and projecting the bag onto any sub-alphabet only
  // shrinks the distance — so lev(a,b) ≤ k implies digit-bag L1 ≤ 2k.
  // Checked over random digit-heavy strings against a reference DP.
  property("digit-bag L1 never exceeds twice the edit distance") = forAll(
    Gen.listOfN(12, Gen.oneOf(('0' to '9') ++ Seq('a', 'b'))).map(_.mkString),
    Gen.listOfN(12, Gen.oneOf(('0' to '9') ++ Seq('a', 'b'))).map(_.mkString)) {
    (a, b) =>
      def lev(x: String, y: String): Int = {
        val d = Array.tabulate(x.length + 1, y.length + 1)((i, j) =>
          if (i == 0) j else if (j == 0) i else 0)
        for (i <- 1 to x.length; j <- 1 to y.length)
          d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
            d(i - 1)(j - 1) + (if (x(i - 1) == y(j - 1)) 0 else 1))
        d(x.length)(y.length)
      }
      val bag = ('0' to '9').map(c =>
        math.abs(a.count(_ == c) - b.count(_ == c))).sum
      bag <= 2 * lev(a, b)
  }

  // pHashNearDupPairs' recall argument: flipping ≤ k of 64 bits cannot
  // touch all k+1 disjoint bands, so two hashes within hamming budget k
  // always share at least one whole band — the candidate join misses
  // nothing the exact hamming filter would keep.
  property("hamming ≤ k implies a shared band among k+1 bands") = forAll(
    Gen.choose(Long.MinValue, Long.MaxValue), Gen.choose(0, 3),
    Gen.listOf(Gen.choose(0, 63))) { (h, k, flips) =>
    val bands = k + 1
    val width = 64 / bands
    val h2 = flips.take(k).foldLeft(h)((acc, b) => acc ^ (1L << b))
    val shares = (0 until bands).exists { b =>
      ((h >>> (b * width)) & ((1L << width) - 1)) ==
        ((h2 >>> (b * width)) & ((1L << width) - 1))
    }
    java.lang.Long.bitCount(h ^ h2) > k || shares
  }

  // Bottom-k partial-aggregation soundness: the bottom-k of a union is
  // recoverable from per-part bottom-k's alone — k rows of state per
  // partial is enough at any partitioning. Checked on the aggregator
  // itself (PriorityAsc) against a plain sort of the whole input.
  property("bottom-k of union equals bottom-k of merged bottom-k's") = forAll(
    Gen.listOf(Gen.zip(Gen.choose(0L, 1000L), Gen.choose(0L, 100000L))),
    Gen.listOf(Gen.zip(Gen.choose(0L, 1000L), Gen.choose(0L, 100000L))),
    Gen.choose(1, 16)) { (a0, b0, k) =>
    val agg = new TopKAggregator(k, TopKAggregator.PriorityAsc)
    def rows(s: List[(Long, Long)]) = s.map { case (p, id) => (p, id, id * 0.5) }
    def fold(s: List[(Long, Long, Double)]) = s.foldLeft(agg.zero)(agg.reduce)
    val (a, b) = (rows(a0), rows(b0))
    val merged = agg.finish(agg.merge(fold(a), fold(b)))
    merged == (a ++ b).sortBy(r => (r._1, r._2)).take(k) &&
      merged == agg.finish(fold(a ++ b))
  }

  // k = 0 would keep nothing and silently empty every group: both
  // orderings refuse it at construction
  property("bounded top-k rejects k = 0 under both orderings") =
    Prop.throws(classOf[IllegalArgumentException])(
      new TopKAggregator(0, TopKAggregator.ScoreDesc)) &&
    Prop.throws(classOf[IllegalArgumentException])(
      new TopKAggregator(0, TopKAggregator.PriorityAsc))

  // DeletionBandExpr's scratch-buffer arraycopy dance (ASCII path) and
  // code-point path both equal the obviously-correct reference
  // enumeration of every ≤2-deletion variant of the banded slice,
  // hashed with Spark's own xxhash64 (seed 42) — including multibyte
  // AND astral (supplementary-plane) strings, repeated characters, and
  // every (prefix, fromEnd) slicing combination. Deletions and the
  // slice are both by CODE POINT (Spark substr/levenshtein semantics),
  // so the reference enumerates over codePoints(), never UTF-16 units.
  private val bandCharGen: Gen[String] =
    Gen.oneOf(Gen.alphaNumChar.map(_.toString),
      Gen.oneOf("é", "б", "語", " ", "#", "0", "😀", "𐀀"))
  property("DeletionBandExpr equals the reference variant enumeration") =
    forAll(
      Gen.choose(0, 14).flatMap(n => Gen.listOfN(n, bandCharGen).map(_.mkString)),
      Gen.oneOf(3, 5, 9, 20),
      Gen.oneOf(false, true)) { (s, prefix, fromEnd) =>
      import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64Function}
      import org.apache.spark.sql.types.StringType
      import org.apache.spark.unsafe.types.UTF8String
      def h(v: String): Long =
        XxHash64Function.hash(UTF8String.fromString(v), StringType, 42L)
      val cpsAll = s.codePoints().toArray
      val n = math.min(cpsAll.length, prefix)
      val off = if (fromEnd) cpsAll.length - n else 0
      val cps = cpsAll.slice(off, off + n)
      def drop(skip: Set[Int]): String =
        cps.zipWithIndex.collect { case (cp, i) if !skip(i) =>
          new String(Character.toChars(cp)) }.mkString
      val d1 = cps.indices.map(i => drop(Set(i)))
      val d2 = for { i <- cps.indices; j <- cps.indices if j > i }
        yield drop(Set(i, j))
      val ref = (Seq(drop(Set.empty)) ++ d1 ++ d2).map(h).toSet
      val got = graft.operators.DeletionBandExpr(
          Literal(UTF8String.fromString(s), StringType), prefix, fromEnd)
        .eval(null)
        .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
        .toLongArray().toSet
      got == ref
    }

  // JaccardExpr (single hash-set pass) equals exact set jaccard — incl.
  // duplicate elements (set semantics) and the empty/empty → 0.0 edge.
  property("JaccardExpr equals exact set jaccard") = forAll(
    Gen.listOf(Gen.choose(0, 20).map(i => s"t$i")),
    Gen.listOf(Gen.choose(0, 20).map(i => s"t$i"))) { (a, b) =>
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{ArrayType, StringType}
    val expr = graft.llm.JaccardExpr(
      Literal.create(a, ArrayType(StringType)),
      Literal.create(b, ArrayType(StringType)))
    val got = expr.eval(null).asInstanceOf[Double]
    val (sa, sb) = (a.toSet, b.toSet)
    val union = (sa ++ sb).size
    val ref = if (union == 0) 0.0 else (sa & sb).size.toDouble / union
    got == ref
  }

  // CharNgramStatsExpr's BMP long-pack fast path and string fallback
  // both equal the reference code-point window census — including
  // repeated substrings (the distinct count under test) and multibyte.
  property("CharNgramStatsExpr equals the reference window census") =
    forAll(Gen.choose(0, 30).flatMap(n =>
      Gen.listOfN(n, bandCharGen).map(_.mkString)), Gen.choose(1, 4)) { (s, n) =>
      import org.apache.spark.sql.catalyst.expressions.Literal
      import org.apache.spark.sql.types.StringType
      import org.apache.spark.unsafe.types.UTF8String
      // parity with Spark's lower(): UTF8String.toLowerCase
      val low = UTF8String.fromString(s).toLowerCase.toString
      val cps = low.codePoints().toArray
      val total = math.max(0, cps.length - n + 1)
      val windows = (0 until total).map(i => new String(cps, i, n))
      val row = graft.llm.CharNgramStatsExpr(
          Literal(UTF8String.fromString(s), StringType), n)
        .eval(null).asInstanceOf[org.apache.spark.sql.catalyst.InternalRow]
      row.getLong(0) == total.toLong &&
        row.getLong(1) == windows.toSet.size.toLong
    }
}
