package graft.ops

import graft.GraftTestBase
import graft.Tables
import graft.Scratch.{rd, utcDate}

/** THIRD-IMPLEMENTATION battery, batch 24: time-series indicators.
  *
  * EWMA, CUSUM, the single-changepoint R² scan, MASE, Bollinger
  * breakouts, RSI, peak detection and max drawdown all run windowed
  * prefix algebra that both engines transcribe identically. The
  * scratch loops below rebuild every daily census from raw rows and
  * replay each indicator as a plain sequential scan — running sums as
  * mutable accumulators instead of window frames, neighborhoods as
  * array slices instead of lag/lead — so a transcription bug in the
  * shared window algebra cannot hide.
  */
class ThirdImplSpec24 extends GraftTestBase {

  /** (event_type, day, revenue-decimal) daily census off raw events. */
  private lazy val dailyRev: Seq[(String, java.time.LocalDate, BigDecimal)] =
    Tables.events(spark, sf)
      .select("event_type", "ts", "value").collect()
      .map(r => ((r.getString(0), utcDate(r.getTimestamp(1))),
        BigDecimal.valueOf(r.getDouble(2))
          .setScale(2, BigDecimal.RoundingMode.HALF_UP)))
      .groupBy(_._1).toSeq
      .map { case ((t, day), rs) => (t, day, rs.map(_._2).sum) }
      .sortBy(r => (r._1, r._2.toEpochDay))

  private lazy val dailyCents: Seq[(String, java.time.LocalDate, Long)] =
    dailyRev.map { case (t, day, rev) => (t, day, (rev * 100).toLong) }

  /** Daily order-revenue cents (whole-table, engine's q_changepoint /
    * q_peaks / q_mase base: per-ORDER cents summed per day). */
  private lazy val orderDaily: Seq[(java.time.LocalDate, Long)] =
    Tables.orders(spark, sf)
      .select("o_orderdate", "o_totalprice").collect()
      .map(r => (utcDate(r.getTimestamp(0)),
        (BigDecimal.valueOf(r.getDouble(1))
          .setScale(2, BigDecimal.RoundingMode.HALF_UP) * 100).toLong))
      .groupBy(_._1).toSeq.map { case (d, rs) => (d, rs.map(_._2).sum) }
      .sortBy(_._1.toEpochDay)

  // -------------------------------------------------------------- ewma

  behavior of "TimeSeries.ewmaDaily (q_ewma) vs a scratch weighted lag sum"

  it should "match the dyadic-weight EWMA curve" in {
    val expected = dailyRev.groupBy(_._1).toSeq.flatMap { case (t, rows) =>
      val sorted = rows.sortBy(_._2.toEpochDay)
      sorted.indices.map { i =>
        var num = BigDecimal(0); var den = 0L
        for (j <- 0 to 7 if i - j >= 0) {
          val wt = 1L << (7 - j)
          num += sorted(i - j)._3 * wt
          den += wt
        }
        (t, sorted(i)._2, sorted(i)._3.toDouble, num.toDouble / den)
      }
    }.sortBy(r => (r._1, r._2.toEpochDay))
    val got = TimeSeries.ewmaDaily(spark, sf).collect()
      .map(r => (r.getString(0), utcDate(r.getTimestamp(1)),
        r.getDouble(2), r.getDouble(3))).toSeq
    got shouldBe expected
  }

  // ------------------------------------------------------------- cusum

  behavior of "TimeSeries.cusumChangepoint (q_cusum) vs a scratch scan"

  it should "match the argmax |CUSUM| day per event type" in {
    val counts = Tables.events(spark, sf)
      .select("event_type", "ts").collect()
      .map(r => (r.getString(0), utcDate(r.getTimestamp(1))))
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    val expected = counts.keys.map(_._1).toSeq.distinct.sorted.map { t =>
      val days = counts.collect { case ((`t`, d), c) => (d, c) }
        .toSeq.sortBy(_._1.toEpochDay)
      val n = days.length.toLong
      val tot = days.map(_._2).sum
      var cum = 0L
      val scored = days.zipWithIndex.map { case ((d, c), i) =>
        cum += c
        (d, cum * n - tot * (i + 1))
      }
      val best = scored.minBy { case (d, sc) =>
        (-math.abs(sc), d.toEpochDay)
      }
      (t, best._1, math.abs(best._2), n)
    }.toSet
    val got = TimeSeries.cusumChangepoint(spark, sf).collect()
      .map(r => (r.getString(0), utcDate(r.getTimestamp(1)), r.getLong(2),
        r.getLong(3))).toSet
    got shouldBe expected
  }

  // ------------------------------------------------------- changepoint

  behavior of "TimeSeries.changepoint (q_changepoint) vs scratch segment fits"

  it should "match every split's R2 gain and the best-split flag" in {
    val days = orderDaily
    val nt = days.length.toLong
    val st = days.map(c => BigInt(c._2)).sum
    val syy = days.map(c => BigInt(c._2) * BigInt(c._2)).sum
    val tssN = (syy * nt - st * st).toDouble
    var s1 = BigInt(0)
    val rowsExp = days.dropRight(1).zipWithIndex.map { case ((d, c), i) =>
      s1 += BigInt(c)
      val n1 = (i + 1).toLong
      val n2 = nt - n1
      val s2 = st - s1
      val num = (s1 * n2 - s2 * n1).toDouble
      val gain = num * num / (BigInt(nt) * BigInt(n1) * BigInt(n2)).toDouble
      (d, n1, n2, gain)
    }
    val gMax = rowsExp.map(_._4).max
    val expected = rowsExp.map { case (d, n1, n2, gain) =>
      (d, n1, n2, rd(gain * nt / tssN, 6), gain == gMax)
    }.toSet
    val got = TimeSeries.changepoint(spark, sf).collect()
      .map(r => (r.getDate(0).toLocalDate, r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getBoolean(4))).toSet
    got shouldBe expected
  }

  // -------------------------------------------------------------- mase

  behavior of "TimeSeries.maseForecast (q_mase) vs scratch naive errors"

  it should "match both error sums and the seasonality verdict" in {
    val days = orderDaily.filter(_._1.getYear == 1998)
    val cs = days.map(_._2)
    val n = cs.length
    val e1 = (1 until n).map(i => math.abs(cs(i) - cs(i - 1)))
    val e7 = (7 until n).map(i => math.abs(cs(i) - cs(i - 7)))
    val (sae1, sae7) = (e1.sum, e7.sum)
    val (n1, n7) = (e1.length.toLong, e7.length.toLong)
    val row = TimeSeries.maseForecast(spark, sf).collect().head
    row.getAs[Long]("n_days") shouldBe n.toLong
    row.getAs[Long]("n7") shouldBe n7
    row.getAs[Long]("sae7") shouldBe sae7
    row.getAs[Long]("sae1") shouldBe sae1
    if (n7 == 0 || sae1 == 0) {
      assert(row.isNullAt(row.fieldIndex("mase")))
      row.getAs[Boolean]("weekly_seasonality") shouldBe false
    } else {
      val mase = (sae7 * n1).toDouble / math.max(sae1 * n7, 1L)
      row.getAs[Double]("mase") shouldBe rd(mase, 6)
      row.getAs[Boolean]("weekly_seasonality") shouldBe (mase < 1.0)
    }
  }

  // ---------------------------------------------------------- bollinger

  behavior of "TimeSeries.bollingerBreakouts (q_bollinger) vs scratch bands"

  it should "match every 2-sigma breakout day" in {
    val expected = dailyCents.groupBy(_._1).toSeq.flatMap { case (t, rows) =>
      val s = rows.sortBy(_._2.toEpochDay)
      (6 until s.length).flatMap { i =>
        val win = (i - 6 to i).map(j => BigInt(s(j)._3))
        val sum = win.sum
        val q = win.map(x => x * x).sum
        val dev = BigInt(7) * BigInt(s(i)._3) - sum
        if (dev * dev > BigInt(4) * (BigInt(7) * q - sum * sum))
          Some((t, s(i)._2, s(i)._3, sum.toLong,
            if (BigInt(7) * BigInt(s(i)._3) > sum) "above" else "below"))
        else None
      }
    }.toSet
    val got = TimeSeries.bollingerBreakouts(spark, sf).collect()
      .map(r => (r.getString(0), r.getDate(1).toLocalDate, r.getLong(2),
        r.getLong(3), r.getString(4))).toSet
    got shouldBe expected
  }

  // --------------------------------------------------------------- rsi

  behavior of "TimeSeries.rsiDaily (q_rsi) vs scratch gain/loss sums"

  it should "match the RSI-14 curve" in {
    val expected = dailyCents.groupBy(_._1).toSeq.flatMap { case (t, rows) =>
      val s = rows.sortBy(_._2.toEpochDay)
      val deltas = (1 until s.length).map(i => (s(i)._2, s(i)._3 - s(i - 1)._3))
      (13 until deltas.length).map { i =>
        val win = (i - 13 to i).map(deltas(_)._2)
        val g = win.map(x => math.max(x, 0L)).sum
        val l = win.map(x => math.max(-x, 0L)).sum
        val rsi = if (g + l == 0) None
          else Some(rd(100.0 * g / (g + l), 6))
        (t, deltas(i)._1, g, l, rsi)
      }
    }.sortBy(r => (r._1, r._2.toEpochDay))
    val got = TimeSeries.rsiDaily(spark, sf).collect()
      .map(r => (r.getString(0), r.getDate(1).toLocalDate, r.getLong(2),
        r.getLong(3),
        if (r.isNullAt(4)) None else Some(r.getDouble(4)))).toSeq
    got shouldBe expected
  }

  // -------------------------------------------------------------- peaks

  behavior of "TimeSeries.peakDetection (q_peaks) vs a scratch neighborhood scan"

  it should "match the top-20 3-neighborhood peaks" in {
    val s = orderDaily
    val expected = (3 until s.length - 3).flatMap { i =>
      val nbrs = ((-3 to -1) ++ (1 to 3)).map(k => s(i + k)._2)
      if (nbrs.forall(s(i)._2 > _))
        Some((s(i)._1, s(i)._2, nbrs.max, s(i)._2 - nbrs.max))
      else None
    }.sortBy { case (d, c, _, _) => (-c, d.toEpochDay) }.take(20)
    val got = TimeSeries.peakDetection(spark, sf).collect()
      .map(r => (r.getDate(0).toLocalDate, r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq
    got shouldBe expected
  }

  // ----------------------------------------------------------- drawdown

  behavior of "TimeSeries.maxDrawdown (q_drawdown) vs a scratch equity scan"

  it should "match the deepest trough per event type" in {
    val expected = dailyCents.groupBy(_._1).toSeq.map { case (t, rows) =>
      val s = rows.sortBy(_._2.toEpochDay)
      var equity = 0L; var peak = Long.MinValue
      val scans = s.map { case (_, day, c) =>
        equity += c
        peak = math.max(peak, equity)
        (day, peak, equity, peak - equity)
      }
      val best = scans.minBy { case (d, _, _, dd) => (-dd, d.toEpochDay) }
      (t, best._1, best._2, best._3, best._4)
    }.toSet
    val got = TimeSeries.maxDrawdown(spark, sf).collect()
      .map(r => (r.getString(0), r.getDate(1).toLocalDate, r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    got shouldBe expected
  }
}
