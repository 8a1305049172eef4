package graft.ops

import graft.GraftTestBase
import graft.Scratch.{cents, utcDate}

/** THIRD-IMPLEMENTATION battery, batch 6 — the autocorrelation chain
  * and the remaining forecast/complexity recursions (rationale in
  * [[ThirdImplSpec]]).
  *
  * Members: ACF (per-lag-mean Pearson over calendar pairs), Ljung–Box
  * off a scratch ACF, PACF via the textbook Durbin–Levinson RATIO form
  * (the engines carry the e-recursion), the Lo–MacKinlay variance
  * ratio, Hurst R/S with plain double block statistics (the engines
  * keep integer-scaled cumulative deviations), sample entropy with
  * direct double tolerance comparison (the engines use the exact
  * 25·Δ²·n² ≤ SS integer predicate), Theil's U1/U2, and the
  * Croston/SBA intermittent-demand recursion.
  */
class ThirdImplSpec4 extends GraftTestBase {

  /** day -> revenue cents over all orders. */
  private lazy val dayMap: Map[java.time.LocalDate, Long] = {
    val rows = graft.Tables.orders(spark, sf)
      .select("o_orderdate", "o_totalprice").collect()
    rows.groupBy(r => utcDate(r.getTimestamp(0)))
      .map { case (d, rs) => (d, rs.map(r => cents(r.getDouble(1))).sum) }
  }

  /** Per-lag Pearson r over calendar-shift pairs, each lag using its
    * OWN pair means (the overlapping-pairs ACF variant). */
  private def acfScratch(k: Int): (Long, Double) = {
    val pairs = dayMap.toVector.flatMap { case (d, x) =>
      dayMap.get(d.plusDays(k.toLong)).map(y => (x.toDouble, y.toDouble)) }
    val n = pairs.length.toDouble
    val mx = pairs.map(_._1).sum / n; val my = pairs.map(_._2).sum / n
    var sxx = 0.0; var syy = 0.0; var sxy = 0.0
    pairs.foreach { case (x, y) =>
      sxx += (x - mx) * (x - mx); syy += (y - my) * (y - my)
      sxy += (x - mx) * (y - my)
    }
    (pairs.length.toLong, sxy / math.sqrt(sxx * syy))
  }

  behavior of "acfDailyRevenue (q_acf) vs per-pair centered Pearson"

  it should "match every lag's correlation" in {
    val res = TimeSeries.acfDailyRevenue(spark, sf).collect()
      .map(r => r.getAs[Int]("lag") -> r).toMap
    (1 to 7).foreach { k =>
      val (np, r) = acfScratch(k)
      res(k).getAs[Long]("n_pairs") shouldBe np
      res(k).getAs[Double]("acf") shouldBe (r +- 1e-9)
    }
  }

  behavior of "ljungBox (q_ljung_box) vs a scratch portmanteau"

  it should "match Q over the 7 scratch ACF terms" in {
    val n = dayMap.size.toDouble
    val q = n * (n + 2.0) * (1 to 7).map { k =>
      val r = acfScratch(k)._2; r * r / (n - k) }.sum
    val row = TimeSeries.ljungBox(spark, sf).head()
    row.getAs[Long]("n_days") shouldBe dayMap.size.toLong
    row.getAs[Long]("h") shouldBe 7L
    row.getAs[Double]("q_stat") shouldBe (q +- 1e-3)
  }

  behavior of "pacfDailyRevenue (q_pacf) vs textbook Durbin-Levinson"

  it should "match all 7 partial autocorrelations" in {
    // fixed-GLOBAL-mean autocovariances over calendar pairs
    val n = dayMap.size.toDouble
    val mean = dayMap.values.sum / n
    val denom = dayMap.values.map(y => (y - mean) * (y - mean)).sum
    val rho = (1 to 7).map { k =>
      dayMap.toVector.flatMap { case (d, x) =>
        dayMap.get(d.plusDays(k.toLong))
          .map(y => (x - mean) * (y - mean)) }.sum / denom
    }.toVector
    // ratio-form recursion: phi_kk = (rho_k - sum phi_{k-1,j} rho_{k-j})
    //                               / (1 - sum phi_{k-1,j} rho_j)
    var phi = Vector(rho(0))
    val pacf = scala.collection.mutable.ArrayBuffer(rho(0))
    (2 to 7).foreach { k =>
      val num = rho(k - 1) -
        (1 until k).map(j => phi(j - 1) * rho(k - j - 1)).sum
      val den = 1.0 - (1 until k).map(j => phi(j - 1) * rho(j - 1)).sum
      val pkk = num / den
      phi = (1 until k).map(j => phi(j - 1) - pkk * phi(k - j - 1))
        .toVector :+ pkk
      pacf += pkk
    }
    val res = TimeSeries.pacfDailyRevenue(spark, sf).collect()
      .map(r => r.getAs[Int]("lag") -> r).toMap
    val band = 1.959963984540054 / math.sqrt(n)
    (1 to 7).foreach { k =>
      res(k).getAs[Double]("pacf") shouldBe (pacf(k - 1) +- 1e-5)
      res(k).getAs[Boolean]("significant_95") shouldBe
        (math.abs(pacf(k - 1)) > band)
    }
  }

  /** 1998 daily revenue, day-sorted values (the intermittent-series
    * subjects of sampen / theil_u). */
  private lazy val daily98: Vector[Long] = {
    val rows = graft.Tables.orders(spark, sf)
      .select("o_orderdate", "o_totalprice").collect()
      .map(r => (utcDate(r.getTimestamp(0)), cents(r.getDouble(1))))
      .filter(_._1.getYear == 1998)
    rows.groupBy(_._1).toVector.sortBy(_._1.toEpochDay)
      .map(_._2.map(_._2).sum)
  }

  /** Whole-history day-sorted values (var-ratio / hurst operate on the
    * positional series). */
  private lazy val dailyAll: Vector[Long] =
    dayMap.toVector.sortBy(_._1.toEpochDay).map(_._2)

  behavior of "varianceRatio (q_var_ratio) vs scratch overlapping diffs"

  it should "match VR at q = 2, 4, 8" in {
    def popVarDiffs(q: Int): (Long, Double) = {
      val diffs = (q until dailyAll.length)
        .map(i => (dailyAll(i) - dailyAll(i - q)).toDouble)
      val m = diffs.sum / diffs.length
      (diffs.length.toLong,
        diffs.map(x => (x - m) * (x - m)).sum / diffs.length)
    }
    val base = popVarDiffs(1)._2
    val res = TimeSeries.varianceRatio(spark, sf).collect()
      .map(r => r.getAs[Long]("q") -> r).toMap
    Seq(2, 4, 8).foreach { q =>
      val (nq, v) = popVarDiffs(q)
      res(q.toLong).getAs[Long]("n_obs") shouldBe nq
      res(q.toLong).getAs[Double]("vr") shouldBe (v / (q * base) +- 1e-5)
    }
  }

  behavior of "hurstExponent (q_hurst) vs plain double R/S blocks"

  it should "match per-window R/S means and the log-log slope" in {
    val rsMeans = Seq(7, 14, 28).map { w =>
      val nBlocks = dailyAll.length / w
      val rs = (0 until nBlocks).flatMap { b =>
        val block = dailyAll.slice(b * w, b * w + w).map(_.toDouble)
        val m = block.sum / w
        val dev = block.map(_ - m)
        val cum = dev.scanLeft(0.0)(_ + _).drop(1)
        val r = cum.max - cum.min
        val sigma = math.sqrt(dev.map(x => x * x).sum / w)
        if (sigma > 0) Some(r / sigma) else None
      }
      (w, rs.length.toLong, rs.sum / rs.length)
    }
    // log-log OLS slope over the 3 (w, avg R/S) points
    val pts = rsMeans.map { case (w, _, a) => (math.log(w.toDouble), math.log(a)) }
    val m = pts.length.toDouble
    val sx = pts.map(_._1).sum; val sy = pts.map(_._2).sum
    val sxy = pts.map(p => p._1 * p._2).sum
    val sxx = pts.map(p => p._1 * p._1).sum
    val hurst = (m * sxy - sx * sy) / (m * sxx - sx * sx)
    val res = TimeSeries.hurstExponent(spark, sf).collect()
      .map(r => r.getAs[Long]("w") -> r).toMap
    rsMeans.foreach { case (w, nb, avg) =>
      res(w.toLong).getAs[Long]("n_blocks") shouldBe nb
      res(w.toLong).getAs[Double]("avg_rs") shouldBe (avg +- 1e-5)
      res(w.toLong).getAs[Double]("hurst") shouldBe (hurst +- 1e-5)
    }
  }

  behavior of "sampleEntropy (q_sampen) vs direct tolerance matching"

  it should "match B, A and -ln(A/B)" in {
    val v = daily98.map(_.toDouble)
    val n = v.length.toDouble
    val mean = v.sum / n
    val sigma = math.sqrt(v.map(x => (x - mean) * (x - mean)).sum / n)
    val r = 0.2 * sigma
    val nt = v.length - 2
    var bPairs = 0L; var aPairs = 0L
    (0 until nt).foreach { i =>
      (i + 1 until nt).foreach { j =>
        if (math.abs(v(i) - v(j)) <= r && math.abs(v(i + 1) - v(j + 1)) <= r) {
          bPairs += 1
          if (math.abs(v(i + 2) - v(j + 2)) <= r) aPairs += 1
        }
      }
    }
    val row = TimeSeries.sampleEntropy(spark, sf).head()
    row.getAs[Long]("n_days") shouldBe daily98.length.toLong
    row.getAs[Long]("b_pairs") shouldBe bPairs
    row.getAs[Long]("a_pairs") shouldBe aPairs
    if (aPairs == 0L || bPairs == 0L)
      row.isNullAt(row.fieldIndex("sampen")) shouldBe true
    else row.getAs[Double]("sampen") shouldBe
      (-math.log(aPairs.toDouble / bPairs) +- 1e-6)
  }

  behavior of "theilU (q_theil_u) vs scratch naive/seasonal-naive errors"

  it should "match U2 and U1" in {
    val v = daily98.map(_.toDouble)
    val se1 = (1 until v.length).map(i => math.pow(v(i) - v(i - 1), 2)).sum
    val se7 = (7 until v.length).map(i => math.pow(v(i) - v(i - 7), 2)).sum
    val sy2 = (7 until v.length).map(i => v(i) * v(i)).sum
    val sf2 = (7 until v.length).map(i => v(i - 7) * v(i - 7)).sum
    val n1 = (v.length - 1).toDouble; val n7 = (v.length - 7).toDouble
    val u2 = math.sqrt(se7 * n1 / (se1 * n7))
    val u1 = math.sqrt(se7 / n7) /
      (math.sqrt(sy2 / n7) + math.sqrt(sf2 / n7))
    val row = TimeSeries.theilU(spark, sf).head()
    row.getAs[Long]("n_days") shouldBe daily98.length.toLong
    row.getAs[Long]("n7") shouldBe (daily98.length - 7).toLong
    row.getAs[Long]("n1") shouldBe (daily98.length - 1).toLong
    row.getAs[Double]("theil_u2") shouldBe (u2 +- 1e-5)
    row.getAs[Double]("theil_u1") shouldBe (u1 +- 1e-5)
    row.getAs[Boolean]("snaive_beats_naive") shouldBe (u2 < 1.0)
  }

  behavior of "crostonForecast (q_croston) vs a plain-Scala recursion"

  it should "match z, p and the SBA forecast for each part" in {
    val rows = graft.Tables.lineitem(spark, sf)
      .select("l_partkey", "l_shipdate", "l_quantity").collect()
      .map(r => (r.getLong(0),
        utcDate(r.getTimestamp(1)).withDayOfMonth(1),
        r.getDouble(2).toLong))
    val pm = rows.groupBy(r => (r._1, r._2)).view
      .mapValues(_.map(_._3).sum).toMap
    val months = pm.keySet.map(_._2).toVector.sortBy(_.toEpochDay)
    val parts = pm.keySet.groupBy(_._1).view.mapValues(_.size).toVector
      .filter { case (_, na) =>
        na >= TimeSeries.crostonMinActive && na <= TimeSeries.crostonMaxActive }
      .sortBy(_._1).take(TimeSeries.crostonParts)
    parts should not be empty
    val res = TimeSeries.crostonForecast(spark, sf).collect()
      .map(r => r.getAs[Long]("part") -> r).toMap
    res.keySet shouldBe parts.map(_._1).toSet
    val a = TimeSeries.crostonAlpha
    parts.foreach { case (pk, nActive) =>
      var z = 0.0; var p = 0.0; var gap = 0.0; var started = false
      months.foreach { m =>
        val dem = pm.getOrElse((pk, m), 0L).toDouble
        if (dem > 0.0) {
          if (!started) { z = dem; p = gap + 1.0; started = true }
          else { z = a * dem + (1 - a) * z; p = a * (gap + 1.0) + (1 - a) * p }
          gap = 0.0
        } else gap += 1.0
      }
      val r = res(pk)
      r.getAs[Long]("n_months") shouldBe months.length.toLong
      r.getAs[Long]("n_demand_months") shouldBe nActive.toLong
      r.getAs[Double]("z_size") shouldBe (z +- 1e-5)
      r.getAs[Double]("p_interval") shouldBe (p +- 1e-5)
      r.getAs[Double]("sba_forecast") shouldBe ((1 - a / 2) * z / p +- 1e-5)
    }
  }
}
