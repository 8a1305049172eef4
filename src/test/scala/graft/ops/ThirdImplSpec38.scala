package graft.ops

import graft.GraftTestBase
import graft.Scratch.{cents, orderRows, r6, utcDate}

/** THIRD-IMPLEMENTATION battery, batch 38: the daily-census
  * time-series family — moments, OLS trend, Theil–Sen, Durbin–Watson,
  * the click→purchase CCF, day-of-week seasonal indices and the
  * naive/seasonal-naive backtest. These are the remaining members
  * whose oracle SQL hand-unrolls the engines' shared power-sum /
  * prefix-scan renderings (the mirror-prone shape), but which earlier
  * batches skipped because their unit specs dated from rounds 4–8.
  *
  * Doctrine unchanged: plain-Scala per-observation recomputation from
  * raw parquet rows — sort-based medians where the engines run
  * census+prefix selections, observation loops where they fold packed
  * arrays — and pin the engine rows to it.
  */
class ThirdImplSpec38 extends GraftTestBase {

  private def r8(x: Double): Double =
    BigDecimal(x).setScale(8, BigDecimal.RoundingMode.HALF_UP).toDouble

  private lazy val eventRows
      : Array[(java.time.LocalDate, String, Double)] =
    graft.Tables.events(spark, sf)
      .select("ts", "event_type", "value").collect()
      .map(r => (utcDate(r.getTimestamp(0)), r.getString(1),
        r.getDouble(2)))

  behavior of "momentsByReturnFlag (q_moments) vs observation loops"

  it should "match variance, stddev and correlation per flag" in {
    val rows = graft.Tables.lineitem(spark, sf)
      .select("l_returnflag", "l_quantity", "l_extendedprice").collect()
      .map(r => (r.getString(0), cents(r.getDouble(1)),
        cents(r.getDouble(2))))
    val expect = rows.groupBy(_._1).map { case (fl, rs) =>
      val n = rs.length.toLong
      var sq = BigInt(0); var sqq = BigInt(0); var sp = BigInt(0)
      var spp = BigInt(0); var sqp = BigInt(0)
      rs.foreach { case (_, q, p) =>
        sq += q; sqq += BigInt(q) * q; sp += p
        spp += BigInt(p) * p; sqp += BigInt(q) * p
      }
      // exact decimal sums -> correctly-rounded doubles, the engines'
      // shared conversion point (scales: Σx 2, Σx² and Σxy 4)
      def d2(b: BigInt) = BigDecimal(b, 2).toDouble
      def d4(b: BigInt) = BigDecimal(b, 4).toDouble
      val varQ = (d4(sqq) - d2(sq) * d2(sq) / n) / (n - 1)
      val stdP = math.sqrt((d4(spp) - d2(sp) * d2(sp) / n) / (n - 1))
      val corr = (d4(sqp) - d2(sq) * d2(sp) / n) /
        math.sqrt((d4(sqq) - d2(sq) * d2(sq) / n) *
          (d4(spp) - d2(sp) * d2(sp) / n))
      fl -> (n, varQ, stdP, corr)
    }
    val out = Analytics.momentsByReturnFlag(spark, sf).collect()
    out.length shouldBe expect.size
    out.foreach { r =>
      val (n, varQ, stdP, corr) = expect(r.getAs[String]("l_returnflag"))
      r.getAs[Long]("n") shouldBe n
      r.getAs[Double]("var_qty") shouldBe (r8(varQ) +- 1e-8)
      r.getAs[Double]("std_price") shouldBe (r8(stdP) +- 1e-8)
      r.getAs[Double]("corr_qty_price") shouldBe (corr +- 1e-12)
    }
  }

  /** Per-(priority, day) revenue-cents census — q_trend and
    * q_theilsen's shared base frame, rebuilt from raw order rows. */
  private lazy val dailyByPriority
      : Map[String, Vector[(java.time.LocalDate, Long)]] =
    orderRows.groupBy(_._1).map { case (p, rs) =>
      p -> rs.groupBy(_._2).map { case (d, es) => (d, es.map(_._3).sum) }
        .toVector.sortBy(_._1.toEpochDay)
    }

  behavior of "revenueTrend (q_trend) vs a scratch OLS over days"

  it should "match slope and intercept per priority" in {
    val epoch0 = java.time.LocalDate.of(1995, 1, 1).toEpochDay
    val out = Analytics.revenueTrend(spark, sf).collect()
    out.length shouldBe dailyByPriority.size
    out.foreach { r =>
      val days = dailyByPriority(r.getAs[String]("o_orderpriority"))
      val n = days.length.toLong
      var sx = BigInt(0); var sy = BigInt(0); var sxy = BigInt(0)
      var sxx = BigInt(0)
      days.foreach { case (d, y) =>
        val x = BigInt(d.toEpochDay - epoch0)
        sx += x; sy += y; sxy += x * y; sxx += x * x
      }
      val slope = (BigInt(n) * sxy - sx * sy).toDouble /
        (BigInt(n) * sxx - sx * sx).toDouble
      val intercept =
        (sy.toDouble / n - slope * (sx.toDouble / n)) / 100.0
      r.getAs[Long]("n") shouldBe n
      r.getAs[Double]("slope_per_day") shouldBe (slope / 100.0 +- 1e-12)
      r.getAs[Double]("intercept") shouldBe (intercept +- 1e-6)
    }
  }

  behavior of "theilSenTrend (q_theilsen) vs a sorted pair median"

  it should "match the pairwise-slope median per priority" in {
    val out = Analytics.theilSenTrend(spark, sf).collect()
    out.length shouldBe dailyByPriority.size
    out.foreach { r =>
      val days = dailyByPriority(r.getAs[String]("o_orderpriority"))
      val slopes = (for {
        i <- days.indices; j <- (i + 1) until days.length
      } yield (days(j)._2 - days(i)._2).toDouble /
        (days(j)._1.toEpochDay - days(i)._1.toEpochDay)).sorted
      val n = slopes.length
      val med = (slopes((n - 1) / 2) + slopes(n / 2)) / 2
      r.getAs[Long]("n_pairs") shouldBe n.toLong
      r.getAs[Double]("slope_per_day") shouldBe (med / 100.0 +- 1e-12)
    }
  }

  behavior of "durbinWatson (q_durbin_watson) vs a scratch DW walk"

  it should "match DW, rho-hat and both verdicts on 1998 revenue" in {
    val daily = orderRows.filter(_._2.getYear == 1998)
      .groupBy(_._2).map { case (d, rs) => (d, rs.map(_._3).sum / 100) }
      .toVector.sortBy(_._1.toEpochDay).map(_._2)
    val n = daily.length.toDouble
    var sy = 0L; var syy = BigInt(0); var styRaw = BigInt(0)
    var sd1 = 0L; var sd2 = BigInt(0)
    daily.zipWithIndex.foreach { case (y, i) =>
      sy += y; syy += BigInt(y) * y; styRaw += BigInt(i + 1) * y
      if (i > 0) {
        val dy = y - daily(i - 1)
        sd1 += dy; sd2 += BigInt(dy) * dy
      }
    }
    val stt = n * (n * n - 1.0) / 3.0
    val sty = styRaw.toDouble * 2.0 - (n + 1.0) * sy
    val b = sty / math.max(stt, 1.0)
    val se2 = syy.toDouble - sy.toDouble * sy / n -
      sty * sty / math.max(stt, 1.0)
    val sde2 = sd2.toDouble - b * 4.0 * sd1 + b * 4.0 * b * (n - 1.0)
    val dw = sde2 / math.max(se2, 1e-12)
    val rho = 1.0 - dw / 2.0
    val zc = 1.959963984540054 / math.sqrt(n)
    val r = TimeSeries.durbinWatson(spark, sf).head()
    r.getAs[Long]("n_days") shouldBe daily.length.toLong
    r.getAs[Double]("dw") shouldBe (r6(dw) +- 1e-6)
    r.getAs[Double]("rho_hat") shouldBe (r6(rho) +- 1e-6)
    r.getAs[Boolean]("positive_autocorr_95") shouldBe (rho > zc)
    r.getAs[Boolean]("negative_autocorr_95") shouldBe (rho < -zc)
  }

  behavior of "ccfClicksPurchases (q_ccf) vs scratch lag products"

  it should "match every lag's n and correlation" in {
    val byDay = eventRows.groupBy(_._1).map { case (d, es) =>
      d -> (es.count(_._2 == "click").toLong,
        es.filter(_._2 == "purchase").map(e => cents(e._3)).sum)
    }
    val expect = (-7 to 7).map { lag =>
      val pairs = byDay.toSeq.flatMap { case (d, (x, _)) =>
        byDay.get(d.plusDays(lag)).map { case (_, y) => (x, y) }
      }
      val n = pairs.length.toLong
      var sx = BigInt(0); var sy = BigInt(0); var sxy = BigInt(0)
      var sxx = BigInt(0); var syy = BigInt(0)
      pairs.foreach { case (x, y) =>
        sx += x; sy += y; sxy += BigInt(x) * y
        sxx += BigInt(x) * x; syy += BigInt(y) * y
      }
      val ccf = (BigInt(n) * sxy - sx * sy).toDouble /
        math.sqrt((BigInt(n) * sxx - sx * sx).toDouble *
          (BigInt(n) * syy - sy * sy).toDouble)
      (lag, n, ccf)
    }
    val out = TimeSeries.ccfClicksPurchases(spark, sf).collect()
    out.length shouldBe 15
    out.zip(expect).foreach { case (r, (lag, n, ccf)) =>
      r.getAs[Int]("lag") shouldBe lag
      r.getAs[Long]("n_pairs") shouldBe n
      r.getAs[Double]("ccf") shouldBe (r6(ccf) +- 1e-6)
    }
  }

  behavior of "seasonalDow (q_seasonal) vs scratch day-of-week shares"

  it should "match every (type, dow) seasonal index" in {
    val daily = eventRows.groupBy(e => (e._2, e._1)).map { case ((t, d), es) =>
      (t, d, es.map(e => cents(e._3)).sum)
    }.toVector
    val expect = daily.groupBy(_._1).flatMap { case (t, ds) =>
      val byDow = ds.groupBy(_._2.getDayOfWeek.getValue - 1)
      val nTot = ds.length.toLong
      val sTot = ds.map(r => BigInt(r._3)).sum
      byDow.map { case (dow, rows) =>
        val sDow = rows.map(r => BigInt(r._3)).sum
        val idx = BigDecimal(sDow * nTot, 2).toDouble /
          BigDecimal(sTot * rows.length, 2).toDouble
        (t, dow) -> (rows.length.toLong, idx)
      }
    }
    val out = TimeSeries.seasonalDow(spark, sf).collect()
    out.length shouldBe expect.size
    out.foreach { r =>
      val (n, idx) =
        expect((r.getAs[String]("event_type"), r.getAs[Int]("dow")))
      r.getAs[Long]("n_dow") shouldBe n
      r.getAs[Double]("seasonal_index") shouldBe (idx +- 1e-12)
    }
  }

  behavior of "forecastBacktest (q_forecast_bt) vs scratch lag walks"

  it should "match MAE and MAPE for both naive baselines" in {
    val daily = eventRows.groupBy(e => (e._2, e._1)).map { case ((t, d), es) =>
      (t, d, es.map(e => cents(e._3)).sum)
    }.toVector
    val maxDay = daily.map(_._2.toEpochDay).max
    val expect = daily.groupBy(_._1).flatMap { case (t, ds) =>
      val seq = ds.sortBy(_._2.toEpochDay)
      val kept = seq.indices.flatMap { i =>
        if (i < 7) None
        else {
          val (_, d, c) = seq(i)
          val f1 = seq(i - 1)._3; val f7 = seq(i - 7)._3
          if (maxDay - d.toEpochDay < 14 && c > 0) Some((c, f1, f7))
          else None
        }
      }
      if (kept.isEmpty) None
      else {
        val n = kept.length.toLong
        val ae1 = kept.map(k => math.abs(k._1 - k._2)).sum
        val ae7 = kept.map(k => math.abs(k._1 - k._3)).sum
        val pe1 = kept.map(k => math.abs(k._1 - k._2).toDouble / k._1).sum
        val pe7 = kept.map(k => math.abs(k._1 - k._3).toDouble / k._1).sum
        Some(t -> (n, ae1.toDouble / n / 100.0, ae7.toDouble / n / 100.0,
          pe1 / n, pe7 / n))
      }
    }
    val out = TimeSeries.forecastBacktest(spark, sf).collect()
    out.length shouldBe expect.size
    out.foreach { r =>
      val (n, mae1, mae7, mape1, mape7) =
        expect(r.getAs[String]("event_type"))
      r.getAs[Long]("n_days") shouldBe n
      r.getAs[Double]("mae_naive") shouldBe (r6(mae1) +- 1e-6)
      r.getAs[Double]("mae_snaive") shouldBe (r6(mae7) +- 1e-6)
      r.getAs[Double]("mape_naive") shouldBe (r6(mape1) +- 1e-6)
      r.getAs[Double]("mape_snaive") shouldBe (r6(mape7) +- 1e-6)
    }
  }
}
