package graft.functions

import graft.GraftTestBase

/** Pure-JVM sketch behavior (no Spark needed for the algorithm itself),
  * plus one distributed run against exact quantiles. */
class QuantileSketchSpec extends GraftTestBase {

  private def sketchOf(xs: Seq[Double]): QuantileSketch.Buf =
    xs.foldLeft(QuantileSketch.zero)((b, x) =>
      QuantileSketch.reduce(b, x))

  private def rankError(xs: Seq[Double], est: Seq[Double]): Seq[Double] = {
    val sorted = xs.sorted
    QuantileSketch.quantiles.zip(est).map { case (q, e) =>
      val rank = sorted.count(_ <= e).toDouble / sorted.length
      math.abs(rank - q)
    }
  }

  behavior of "QuantileSketch"

  it should "be exact below one level of compaction" in {
    val xs = (1 to 100).map(_.toDouble)
    val est = QuantileSketch.finish(sketchOf(xs))
    est shouldBe Seq(25.0, 50.0, 75.0)
  }

  it should "stay within the rank bound on a large skewed stream" in {
    // deterministic skewed data: squares mod a prime, heavy ties
    val xs = (1 to 50000).map(i => ((i.toLong * i) % 9973).toDouble)
    val errs = rankError(xs, QuantileSketch.finish(sketchOf(xs)))
    errs.foreach(_ should be <= 0.02)
  }

  it should "merge associatively within the rank bound" in {
    val xs = (1 to 30000).map(i => ((i.toLong * 2654435761L) % 100003).toDouble)
    val parts = xs.grouped(7000).map(sketchOf).toSeq
    // left-fold merge and a skewed tree merge must both stay in bound
    val leftFold = parts.reduceLeft(QuantileSketch.merge)
    val treeWise = parts.grouped(2).map(g =>
      if (g.length == 2) QuantileSketch.merge(g(0), g(1)) else g.head)
      .reduce(QuantileSketch.merge)
    rankError(xs, QuantileSketch.finish(leftFold)).foreach(_ should be <= 0.02)
    rankError(xs, QuantileSketch.finish(treeWise)).foreach(_ should be <= 0.02)
  }

  it should "bound its buffer size logarithmically" in {
    val xs = (1 to 100000).map(i => (i * 37 % 99991).toDouble)
    val buf = sketchOf(xs)
    val held = buf.levels.map(_.length).sum
    // O(k log(n/k)): 128 * log2(100000/128) ~ 1230; exact percentile
    // state would be ~99991 distinct values
    held should be <= (QuantileSketch.capacity *
      (1 + (math.log(xs.length.toDouble / QuantileSketch.capacity) /
        math.log(2)).ceil.toInt))
    buf.levels.foreach(_.length should be < QuantileSketch.capacity)
  }

  it should "ignore nulls and report NaN on empty input" in {
    val b = QuantileSketch.reduce(QuantileSketch.zero, null)
    QuantileSketch.finish(b).foreach(_.isNaN shouldBe true)
  }

  it should "pass its in-query rank contract end-to-end" in {
    val rows = graft.ops.Sketches.quantileSketchCheck(spark, sf).collect()
    rows.length should be >= 2
    rows.foreach { r =>
      r.getAs[Boolean]("sk25_ok") shouldBe true
      r.getAs[Boolean]("sk50_ok") shouldBe true
      r.getAs[Boolean]("sk75_ok") shouldBe true
    }
  }
}
