package graft.ops

import graft.GraftTestBase
import graft.Tables
import graft.Scratch.rd

/** THIRD-IMPLEMENTATION battery, batch 19: the audio face and the
  * iterative fitters.
  *
  * - q_audio_census: the Spark side decodes REAL PCM bytes, but the
  *   oracle mirrors the generation contract in closed form — the shared
  *   contract constants (sample count law, seed law, sawtooth step) are
  *   a mirrored-bug surface exactly like the image family's (batch 16).
  *   The scratch side recomputes every sample from the contract with a
  *   plain loop over the raw document rows, never building or parsing
  *   a byte.
  * - q_dtw: both engines run the SAME banded DP recurrence as a fold —
  *   scratch recomputes it as a classic two-dimensional table.
  * - q_isotonic: both engines use the minimax characterization
  *   (max_j min_k avg(j..k)); scratch runs POOL-ADJACENT-VIOLATORS, a
  *   structurally different algorithm whose fixpoint must agree.
  * - q_bradley_terry: both engines fold the same MM fixed-point;
  *   scratch replays it from a from-scratch win matrix built row by
  *   row off the raw orders/customer parquet.
  */
class ThirdImplSpec19 extends GraftTestBase {

  // ------------------------------------------------------ audio census

  behavior of "Multimodal.audioCensus (q_audio_census) vs the raw contract"

  it should "match samples, frames, energy and zero crossings per doc" in {
    val docs = Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val frame = graft.multimodal.Multimodal.audioFrame
    val census = docs.map { case (id, text) =>
      val len = text.getBytes("UTF-8").length
      val n = (len % 1024) + 512
      val sd = ((id * 131) % 65536L).toInt
      val nf = n / frame
      var energy = 0L
      var zc = 0L
      var prev = 0
      var i = 0
      while (i < n) {
        val v = (((sd + 7L * i) % 65536L) - 32768L).toInt
        if (i < nf * frame) energy += v.toLong * v
        if (i > 0 && ((v >= 0) != (prev >= 0))) zc += 1
        prev = v
        i += 1
      }
      (id, n.toLong, nf.toLong, energy, zc)
    }
    val expected = census
      .sortBy { case (id, _, _, e, _) => (-e, id) }.take(20).toSeq
    val got = graft.multimodal.Multimodal.audioCensus(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    got shouldBe expected
  }

  // -------------------------------------------------------------- dtw

  behavior of "TimeSeries.dtwDistance (q_dtw) vs a scratch DP table"

  it should "match lockstep L1 and the banded DTW cost" in {
    val days = Tables.events(spark, sf)
      .select("ts", "event_type").collect()
      .map { r =>
        val day = r.getTimestamp(0).toInstant
          .atZone(java.time.ZoneOffset.UTC).toLocalDate
        (day, r.getString(1))
      }
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (_, rs) =>
        (rs.count(_._2 == "click").toLong, rs.count(_._2 == "view").toLong)
      }
    val a = days.map(_._1).toArray
    val b = days.map(_._2).toArray
    val n = a.length
    val inf = 500000000000000L
    val band = TimeSeries.dtwBand
    val dp = Array.fill(n + 1, n + 1)(inf)
    dp(0)(0) = 0L
    for (i <- 1 to n; j <- 1 to n)
      dp(i)(j) =
        if (math.abs(i - j) > band) inf
        else math.abs(a(i - 1) - b(j - 1)) +
          math.min(dp(i - 1)(j - 1), math.min(dp(i - 1)(j), dp(i)(j - 1)))
    val lockstep = a.zip(b).map { case (x, y) => math.abs(x - y) }.sum
    val row = TimeSeries.dtwDistance(spark, sf).collect().head
    row.getAs[Int]("n_days") shouldBe n
    row.getAs[Long]("lockstep_l1") shouldBe lockstep
    row.getAs[Long]("dtw") shouldBe dp(n)(n)
    row.getAs[Double]("warp_gain") shouldBe
      rd(dp(n)(n).toDouble / math.max(lockstep, 1L), 6)
    row.getAs[Boolean]("contained") shouldBe (dp(n)(n) <= lockstep)
  }

  // --------------------------------------------------------- isotonic

  behavior of "Analytics.isotonicQtyByDiscount (q_isotonic) vs scratch PAVA"

  it should "match the minimax fit with a pool-adjacent-violators run" in {
    val lvl = Tables.lineitem(spark, sf)
      .select("l_discount", "l_quantity").collect()
      .map { r =>
        val pct = BigDecimal.valueOf(r.getDouble(0) * 100)
          .setScale(0, BigDecimal.RoundingMode.HALF_UP).toInt
        val qc = (BigDecimal.valueOf(r.getDouble(1))
          .setScale(2, BigDecimal.RoundingMode.HALF_UP) * 100).toLong
        (pct, qc)
      }
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (pct, rs) => (pct, rs.length.toLong, rs.map(_._2).sum) }
    // PAVA over (n, sy) blocks; violations compared as exact fractions
    // (cross-multiplied longs), pooled means divided once at the end —
    // the same two longs the minimax fold divides, so doubles agree.
    val blocks = scala.collection.mutable.ArrayBuffer
      .empty[(Int, Long, Long)] // (levels pooled, n, sy)
    for ((_, nl, syl) <- lvl) {
      blocks += ((1, nl, syl))
      while (blocks.length > 1 && {
        val (_, n2, s2) = blocks(blocks.length - 1)
        val (_, n1, s1) = blocks(blocks.length - 2)
        s1 * n2 > s2 * n1 // prev mean > cur mean: violation
      }) {
        val (c2, n2, s2) = blocks.remove(blocks.length - 1)
        val (c1, n1, s1) = blocks.remove(blocks.length - 1)
        blocks += ((c1 + c2, n1 + n2, s1 + s2))
      }
    }
    val isoMeans = blocks.flatMap { case (c, nb, sb) =>
      Seq.fill(c)(sb.toDouble / nb.toDouble)
    }
    val rows = Analytics.isotonicQtyByDiscount(spark, sf).collect()
    rows should have length lvl.length.toLong
    for (((pct, nl, syl), i) <- lvl.zipWithIndex) {
      val r = rows(i)
      r.getAs[Int]("discount_pct") shouldBe pct
      r.getAs[Long]("n_rows") shouldBe nl
      r.getAs[Double]("raw_mean_qty") shouldBe
        rd(syl.toDouble / nl.toDouble / 100.0, 6)
      r.getAs[Double]("iso_mean_qty") shouldBe rd(isoMeans(i) / 100.0, 6)
    }
    // the fit must actually be monotone — the property PAVA guarantees
    isoMeans.toSeq.sliding(2).foreach {
      case Seq(x, y) => assert(x <= y)
      case _         =>
    }
  }

  // ----------------------------------------------------- bradley-terry

  behavior of "Analytics.bradleyTerry (q_bradley_terry) vs a scratch MM fit"

  it should "match total wins and every strength after 20 iterations" in {
    val nN = 25
    val custNation = Tables.customer(spark, sf)
      .select("c_custkey", "c_nationkey").collect()
      .map(r => r.getAs[Number](0).longValue ->
        r.getAs[Number](1).intValue).toMap
    val monthly = Tables.orders(spark, sf)
      .select("o_custkey", "o_orderdate", "o_totalprice").collect()
      .map { r =>
        val mon = r.getTimestamp(1).toInstant
          .atZone(java.time.ZoneOffset.UTC).toLocalDate.withDayOfMonth(1)
        val cents = (BigDecimal.valueOf(r.getDouble(2))
          .setScale(2, BigDecimal.RoundingMode.HALF_UP) * 100).toLong
        ((custNation(r.getAs[Number](0).longValue), mon), cents)
      }
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    val w = Array.ofDim[Long](nN, nN)
    for (((ni, mon), ri) <- monthly; ((nj, mon2), rj) <- monthly
         if mon == mon2 && ni != nj && ri > rj)
      w(ni)(nj) += 1
    val nij = Array.tabulate(nN, nN)((i, j) => w(i)(j) + w(j)(i))
    val wtot = Array.tabulate(nN)(i => w(i).sum)
    var pi = Array.fill(nN)(1.0)
    for (_ <- 1 to Analytics.btIters) {
      val next = Array.tabulate(nN) { i =>
        var den = 0.0
        var j = 0
        while (j < nN) {
          if (j != i) den += nij(i)(j).toDouble / (pi(i) + pi(j))
          j += 1
        }
        if (den == 0.0) 0.0 else wtot(i).toDouble / den
      }
      pi = next
    }
    val piSum = pi.sum
    val names = Tables.nation(spark, sf)
      .select("n_nationkey", "n_name").collect()
      .map(r => r.getAs[Number](0).intValue -> r.getString(1)).toMap
    val expected = (0 until nN)
      .map(i => (names(i), wtot(i), rd(pi(i) / piSum, 6))).toSet
    val got = Analytics.bradleyTerry(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    got shouldBe expected
  }
}
