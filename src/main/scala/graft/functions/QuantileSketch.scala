package graft.functions

import org.apache.spark.sql.Encoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions

/** KLL-style mergeable quantile sketch as a typed `Aggregator` — the
  * bounded-memory replacement for the exact `percentile` aggregate
  * (whose state is O(distinct values per group); see Analytics scaladoc
  * on its memory contract). This buffer is O(k · log(n/k)) doubles no
  * matter how many rows flow through — the 100 TB rendering of a
  * quantile query.
  *
  * Structure (Karnin-Lang-Liberty shape, deterministic variant): a stack
  * of level buffers, level `l` holding items that each represent `2^l`
  * input rows. A full level sorts and keeps every other element (the
  * kept offset alternates via a per-level compaction counter, so
  * successive compactions cancel rank bias rather than compounding it),
  * promoting the survivors to the next level. Merge concatenates
  * level-wise and re-compacts — associative state, so map-side partial
  * aggregation works like any built-in aggregate.
  *
  * Like every mergeable sketch, the RESULT depends on merge order, so
  * queries never hash-compare estimates against an oracle; they ship
  * exact companions plus in-query rank-error booleans (the `q_sketches`
  * policy). The deterministic compaction keeps the rank error well
  * inside ±5% of n in practice (spec-measured); the classic randomized
  * KLL bound is eps ~ 1.7/k per compaction level.
  */
/** levels(l) holds values of weight 2^l; parity(l) counts compactions
  * of level l (its low bit picks the kept offset next time). Top-level
  * (not nested in the Aggregator object) so the buffer encoder doesn't
  * create a cyclic reference. */
case class KllBuf(levels: Seq[Seq[Double]], parity: Seq[Int])

object QuantileSketch
    extends Aggregator[java.lang.Double, KllBuf, Seq[Double]] {

  /** Alias kept for call sites/specs. */
  type Buf = KllBuf

  /** Per-level buffer capacity (k). */
  val capacity = 128

  /** Quantiles reported by `finish`, in order. */
  val quantiles: Seq[Double] = Seq(0.25, 0.5, 0.75)

  override def zero: KllBuf = KllBuf(Seq(Vector.empty), Seq(0))

  /** Sort a full level, keep alternate elements, promote to level+1;
    * cascade while any level overflows. */
  private def compact(b: KllBuf): KllBuf = {
    var levels = b.levels.map(_.toVector).toVector
    var parity = b.parity.toVector
    var l = 0
    while (l < levels.length) {
      if (levels(l).length >= capacity) {
        val sorted = levels(l).sorted
        val offset = parity(l) & 1
        val kept = Vector.tabulate((sorted.length - offset + 1) / 2)(i =>
          sorted(offset + 2 * i))
        parity = parity.updated(l, parity(l) + 1)
        levels = levels.updated(l, Vector.empty)
        if (l + 1 >= levels.length) {
          levels = levels :+ kept
          parity = parity :+ 0
        } else {
          levels = levels.updated(l + 1, levels(l + 1) ++ kept)
        }
      }
      l += 1
    }
    KllBuf(levels, parity)
  }

  override def reduce(b: KllBuf, x: java.lang.Double): KllBuf = {
    if (x == null) return b
    val l0 = b.levels.head :+ x.doubleValue()
    val grown = KllBuf(l0 +: b.levels.tail, b.parity)
    if (l0.length >= capacity) compact(grown) else grown
  }

  override def merge(a: KllBuf, b: KllBuf): KllBuf = {
    val n = math.max(a.levels.length, b.levels.length)
    def lev(x: KllBuf, i: Int): Seq[Double] =
      if (i < x.levels.length) x.levels(i) else Vector.empty
    def par(x: KllBuf, i: Int): Int =
      if (i < x.parity.length) x.parity(i) else 0
    compact(KllBuf(
      Vector.tabulate(n)(i => (lev(a, i) ++ lev(b, i)).toVector),
      Vector.tabulate(n)(i => par(a, i) + par(b, i))))
  }

  override def finish(b: KllBuf): Seq[Double] = {
    val weighted = b.levels.zipWithIndex.flatMap { case (vs, l) =>
      val w = 1L << l; vs.map(v => (v, w))
    }.sortBy(_._1)
    if (weighted.isEmpty) return quantiles.map(_ => Double.NaN)
    val total = weighted.iterator.map(_._2).sum
    quantiles.map { q =>
      val target = math.max(1L, math.ceil(q * total).toLong)
      var cum = 0L
      var ans = weighted.last._1
      val it = weighted.iterator
      var found = false
      while (it.hasNext && !found) {
        val (v, w) = it.next(); cum += w
        if (cum >= target) { ans = v; found = true }
      }
      ans
    }
  }

  override def bufferEncoder: Encoder[KllBuf] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[KllBuf]()
  override def outputEncoder: Encoder[Seq[Double]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Double]]()

  /** The registrable/applicable UDAF column function. */
  lazy val udaf: org.apache.spark.sql.expressions.UserDefinedFunction =
    functions.udaf(QuantileSketch)
}
