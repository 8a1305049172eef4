package graft.ops

import graft.GraftTestBase
import graft.Tables
import graft.Scratch.{cents, md5hex, rd, utcDate}

/** THIRD-IMPLEMENTATION battery, batch 29: forecasting recursions and
  * drift audits.
  *
  * Holt's linear trend (both engines fold the same recurrence — the
  * scratch side replays it as a plain var loop), the 7-day rolling
  * OLS slope, the O'Brien–Fleming group-sequential looks, SAX
  * symbolization, the pinned-trig periodogram, pinball-loss
  * backtesting and the PSI drift table — rebuilt per observation from
  * raw parquet rows. The periodogram's scratch trig comes from the
  * same driver-side math.cos/sin the engines inline as literals, so
  * the projection sums are comparable at full precision in the fold
  * order both engines pin (day-ascending).
  */
class ThirdImplSpec29 extends GraftTestBase {

  /** Daily purchase revenue cents, day-ascending (q_holt / q_periodogram
    * base). */
  private lazy val purchaseDaily: Seq[(java.time.LocalDate, Long)] =
    Tables.events(spark, sf)
      .select("event_type", "ts", "value").collect()
      .filter(_.getString(0) == "purchase")
      .map(r => (utcDate(r.getTimestamp(1)),
        BigDecimal.valueOf(r.getDouble(2))
          .setScale(2, BigDecimal.RoundingMode.HALF_UP)))
      .groupBy(_._1).toSeq
      .map { case (d, rs) => (d, (rs.map(_._2).sum * 100).toLong) }
      .sortBy(_._1.toEpochDay)

  // -------------------------------------------------------------- holt

  behavior of "TimeSeries.holtForecast (q_holt) vs a scratch recursion"

  it should "match the level/trend state and all 7 forecasts" in {
    val a = TimeSeries.holtAlpha
    val b = TimeSeries.holtBeta
    val h = TimeSeries.holtHorizon
    val arr = purchaseDaily
    val tr = arr.dropRight(h)
    val te = arr.takeRight(h)
    var l = tr(1)._2.toDouble
    var bb = (tr(1)._2 - tr(0)._2).toDouble
    for ((_, c) <- tr.drop(2)) {
      val lNew = a * c + (1 - a) * (l + bb)
      bb = b * (lNew - l) + (1 - b) * bb
      l = lNew
    }
    val expected = te.zipWithIndex.map { case ((day, c), i) =>
      val f = l + (i + 1).toDouble * bb
      (day, c, rd(f, 4), rd(math.abs(c.toDouble - f), 4))
    }
    val got = TimeSeries.holtForecast(spark, sf).collect()
      .map(r => (r.getDate(0).toLocalDate, r.getLong(1), r.getDouble(2),
        r.getDouble(3))).toSeq
    got shouldBe expected
  }

  // --------------------------------------------------------- rolling OLS

  behavior of "TimeSeries.rollingOlsDaily (q_rolling_ols) vs scratch windows"

  it should "match the 7-day slope curve per event type" in {
    val daily = Tables.events(spark, sf)
      .select("event_type", "ts", "value").collect()
      .map(r => ((r.getString(0), utcDate(r.getTimestamp(1))),
        BigDecimal.valueOf(r.getDouble(2))
          .setScale(2, BigDecimal.RoundingMode.HALF_UP)))
      .groupBy(_._1).toSeq
      .map { case ((t, d), rs) => (t, d, (rs.map(_._2).sum * 100).toLong) }
      .sortBy(r => (r._1, r._2.toEpochDay))
    val expected = daily.groupBy(_._1).toSeq.flatMap { case (t, rows) =>
      val s = rows.sortBy(_._2.toEpochDay)
      s.indices.map { i =>
        val win = s.slice(math.max(0, i - 6), i + 1)
        val n = win.length.toLong
        val xs = win.map(r => BigInt(r._2.toEpochDay))
        val ys = win.map(r => BigInt(r._3))
        val slope =
          if (n >= 3) {
            val sx = xs.sum; val sy = ys.sum
            val sxy = xs.zip(ys).map { case (x, y) => x * y }.sum
            val sxx = xs.map(x => x * x).sum
            Some(rd((BigInt(n) * sxy - sx * sy).toDouble /
              (BigInt(n) * sxx - sx * sx).toDouble, 6))
          } else None
        (t, s(i)._2, s(i)._3, n, slope)
      }
    }.sortBy(r => (r._1, r._2.toEpochDay))
    val got = TimeSeries.rollingOlsDaily(spark, sf).collect()
      .map(r => (r.getString(0), utcDate(r.getTimestamp(1)), r.getLong(2),
        r.getLong(3),
        if (r.isNullAt(4)) None else Some(r.getDouble(4))))
      .toSeq.sortBy(r => (r._1, r._2.toEpochDay))
    got shouldBe expected
  }

  // --------------------------------------------------------- sequential

  behavior of "Behavior.sequentialTest (q_sequential) vs scratch looks"

  it should "match every look's pooled z against the OBF bound" in {
    val ev = Tables.events(spark, sf)
      .select("user_id", "event_type", "ts", "value").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getTimestamp(2),
        cents(r.getDouble(3))))
    def weekOf(ts: java.sql.Timestamp) = utcDate(ts)
      .`with`(java.time.temporal.TemporalAdjusters
        .previousOrSame(java.time.DayOfWeek.MONDAY))
    val users = ev.groupBy(_._1).toSeq.map { case (uid, rs) =>
      val wk0 = rs.map(r => weekOf(r._3)).minBy(_.toEpochDay)
      val conv = if (rs.exists(r => r._2 == "purchase" && r._4 >= 15000L))
        1L else 0L
      val variant = (java.lang.Long.parseLong(
        md5hex(uid.toString).take(15), 16) % 2).toInt
      (variant, wk0, conv)
    }
    val weeks = ev.map(r => weekOf(r._3)).distinct
      .sortBy(_.toEpochDay).take(4)
    val bounds = Seq(4.333, 2.963, 2.359, 2.014)
    val expected = weeks.zipWithIndex.map { case (wk, i) =>
      val in = users.filter(_._2.toEpochDay <= wk.toEpochDay)
      def cell(v: Int) = {
        val us = in.filter(_._1 == v)
        (us.length.toLong, us.map(_._3).sum)
      }
      val (n0, cv0) = cell(0)
      val (n1, cv1) = cell(1)
      val p = (cv0 + cv1).toDouble / (n0 + n1)
      val degenerate = p <= 0.0 || p >= 1.0
      val z =
        if (degenerate) None
        else Some(rd((cv1.toDouble / n1 - cv0.toDouble / n0) /
          math.sqrt(p * (1.0 - p) * (1.0 / n0 + 1.0 / n1)), 6))
      (i + 1, wk, n0, cv0, n1, cv1, z, bounds(i),
        z.exists(v => math.abs(v) > bounds(i)))
    }
    val got = Behavior.sequentialTest(spark, sf).collect()
      .map(r => (r.getInt(0), r.getDate(1).toLocalDate, r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5),
        if (r.isNullAt(6)) None else Some(r.getDouble(6)),
        r.getDouble(7), r.getBoolean(8))).toSeq
    // scratch z uses the rounded value for the boundary compare; the
    // engine compares unrounded — reconcile by comparing crossed on
    // the engine's own z, everything else field-exact
    got.map(g => (g._1, g._2, g._3, g._4, g._5, g._6, g._7, g._8)) shouldBe
      expected.map(e => (e._1, e._2, e._3, e._4, e._5, e._6, e._7, e._8))
    for ((g, e) <- got.zip(expected)) g._9 shouldBe e._9
  }

  // ---------------------------------------------------------------- sax

  behavior of "TimeSeries.saxSymbols (q_sax) vs scratch segment z-scores"

  it should "match every segment's PAA z and symbol" in {
    val daily = Tables.orders(spark, sf)
      .select("o_orderdate", "o_totalprice").collect()
      .map(r => (utcDate(r.getTimestamp(0)),
        BigDecimal.valueOf(r.getDouble(1))
          .setScale(2, BigDecimal.RoundingMode.HALF_UP)))
      .groupBy(_._1).toSeq
      .map { case (d, rs) => (d, (rs.map(_._2).sum * 100).toLong) }
      .sortBy(_._1.toEpochDay)
    val nd = daily.length.toLong
    val gs = daily.map(r => BigInt(r._2)).sum
    val gq = daily.map(r => BigInt(r._2) * BigInt(r._2)).sum
    val mu = gs.toDouble / nd
    val sg = math.sqrt((BigInt(nd) * gq - gs * gs).toDouble) / nd
    val expected = daily.take((nd - nd % 7).toInt).grouped(7).zipWithIndex
      .map { case (seg, i) =>
        val ss = seg.map(r => BigInt(r._2)).sum
        val z = (ss.toDouble / 7.0 - mu) / sg
        val sym =
          if (z < -0.6745) "a" else if (z < 0.0) "b"
          else if (z < 0.6745) "c" else "d"
        (i.toLong, seg.map(_._1).min, ss.toLong, rd(z, 6), sym)
      }.toSeq
    val got = TimeSeries.saxSymbols(spark, sf).collect()
      .map(r => (r.getLong(0), r.getDate(1).toLocalDate, r.getLong(2),
        r.getDouble(3), r.getString(4))).toSeq
    got shouldBe expected
  }

  // --------------------------------------------------------- periodogram

  behavior of "TimeSeries.periodogram (q_periodogram) vs scratch projections"

  it should "match each candidate period's power fraction" in {
    val arr = purchaseDaily
    val n = arr.length
    val mu = arr.map(r => BigInt(r._2)).sum.toDouble / n
    val d0 = arr.head._1
    var ss = 0.0
    for ((_, y) <- arr) ss += (y - mu) * (y - mu)
    val fracs = TimeSeries.periodogramPeriods.map { p =>
      val ca = Array.tabulate(p)(r => math.cos(2.0 * math.Pi * r / p))
      val sa = Array.tabulate(p)(r => math.sin(2.0 * math.Pi * r / p))
      var pc = 0.0; var ps = 0.0
      for ((day, y) <- arr) {
        val r = ((day.toEpochDay - d0.toEpochDay) % p).toInt
        pc += (y - mu) * ca(r)
        ps += (y - mu) * sa(r)
      }
      p -> rd((pc * pc + ps * ps) / (n * ss), 6)
    }
    val best = fracs.map(_._2).max
    val expected = fracs.map { case (p, f) =>
      (p, n.toLong, f, f == best)
    }
    val got = TimeSeries.periodogram(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2),
        r.getBoolean(3))).toSeq
    got shouldBe expected
  }

  // ------------------------------------------------------------- pinball

  behavior of "Analytics.pinballBacktest (q_pinball) vs scratch losses"

  it should "match the x10 pinball sums per priority" in {
    val o = Tables.orders(spark, sf)
      .select("o_orderkey", "o_orderpriority", "o_totalprice").collect()
      .map(r => (r.getLong(0), r.getString(1), cents(r.getDouble(2))))
    val model = o.filter(_._1 % 10 <= 5).groupBy(_._2).view.mapValues { rs =>
      val sorted = rs.map(_._3).sorted
      def disc(q: Double) = sorted(math.ceil(q * sorted.length).toInt - 1)
      (disc(0.5), disc(0.9))
    }.toMap
    val expected = o.filter(_._1 % 10 >= 8).groupBy(_._2).toSeq
      .map { case (pr, rs) =>
        val (q50, q90) = model(pr)
        val p50 = rs.map(r => math.max(5 * (r._3 - q50),
          -5 * (r._3 - q50))).sum
        val p90 = rs.map(r => math.max(9 * (r._3 - q90),
          -1 * (r._3 - q90))).sum
        (pr, rs.length.toLong, p50, p90,
          rd(p50.toDouble / (rs.length * 10), 6),
          rd(p90.toDouble / (rs.length * 10), 6))
      }.toSet
    val got = Analytics.pinballBacktest(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5))).toSet
    got shouldBe expected
  }

  // ----------------------------------------------------------- PSI drift

  behavior of "Quality.psiDrift (q_psi_drift) vs a scratch bucket table"

  it should "match every bucket's smoothed PSI term and the total" in {
    val cutMs = java.time.Instant.parse("1998-01-01T00:00:00Z").toEpochMilli
    val rows = Tables.orders(spark, sf)
      .select("o_orderdate", "o_totalprice").collect()
      .map(r => ((math.floor(r.getDouble(1) / Quality.psiBucketWidth) *
        Quality.psiBucketWidth).toLong,
        r.getTimestamp(0).getTime < cutMs))
    val buckets = rows.groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (b, rs) =>
        (b, rs.count(_._2).toLong, rs.count(!_._2).toLong)
      }
    val k = buckets.length
    val nRef = buckets.map(_._2).sum
    val nCur = buckets.map(_._3).sum
    val terms = buckets.map { case (b, r, c) =>
      val p = (r + 1).toDouble / (nRef + k)
      val q = (c + 1).toDouble / (nCur + k)
      (b, r, c, (p - q) * math.log(p / q))
    }
    val total = rd(terms.map(_._4).sum, 4)
    val expected = terms
      .map { case (b, r, c, t) => (b, r, c, rd(t, 6), total) }.toSet
    val got = Quality.psiDrift(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4))).toSet
    got shouldBe expected
  }
}
