package graft.ops

import graft.GraftTestBase
import graft.Tables
import graft.Scratch.{cents, evValues, rd, utcDate}

/** THIRD-IMPLEMENTATION battery, batch 33: engagement rollups.
  *
  * Cohort retention, cohort LTV curves, weekly growth accounting, the
  * new-vs-repeat revenue split, rolling DAU/WAU, half-life-decayed
  * revenue, time-to-convert percentiles, first/last-touch attribution
  * and the 63-day activity bitmap — rebuilt from raw rows with scratch
  * calendars (own week/month truncation, own day grids, own bit
  * packing) so the engines' shared date/window algebra is pinned by
  * plain set arithmetic.
  */
class ThirdImplSpec33 extends GraftTestBase {

  private def weekStart(d: java.time.LocalDate): java.time.LocalDate =
    d.`with`(java.time.temporal.TemporalAdjusters
      .previousOrSame(java.time.DayOfWeek.MONDAY))

  // ------------------------------------------------------------- cohort

  behavior of "Behavior.cohortRetention (q_cohort) vs a scratch grid"

  it should "match every (cohort day, offset) cell" in {
    val firstSeen = evValues.groupBy(_._1).view
      .mapValues(rs => utcDate(rs.map(_._3).min)).toMap
    val activity = evValues.map(r => (r._1, utcDate(r._3))).distinct
    val expected = activity.groupBy { case (uid, day) =>
      (firstSeen(uid), day.toEpochDay - firstSeen(uid).toEpochDay)
    }.map { case ((cd, off), rs) =>
      (cd, off.toInt, rs.map(_._1).distinct.length.toLong)
    }.toSet
    val got = Behavior.cohortRetention(spark, sf).collect()
      .map(r => (r.getDate(0).toLocalDate, r.getInt(1), r.getLong(2))).toSet
    got shouldBe expected
  }

  // --------------------------------------------------------- cohort LTV

  behavior of "Behavior.cohortLtv (q_cohort_ltv) vs scratch curves"

  it should "match every cohort-week age's cumulative LTV" in {
    val cohort = evValues.groupBy(_._1).view
      .mapValues(rs => weekStart(utcDate(rs.map(_._3).min))).toMap
    val sizes = cohort.values.groupBy(identity).view
      .mapValues(_.size.toLong).toMap
    val rev = evValues.filter(_._2 == "purchase")
      .map { r =>
        val cw = cohort(r._1)
        val age = ((weekStart(utcDate(r._3)).toEpochDay - cw.toEpochDay)
          / 7).toInt
        ((cw, age), cents(r._4))
      }
      .groupBy(_._1).toSeq
      .map { case ((cw, age), rs) => (cw, age, rs.map(_._2).sum) }
    val expected = rev.groupBy(_._1).toSeq.flatMap { case (cw, rs) =>
      val s = rs.sortBy(_._2)
      var cum = 0L
      s.map { case (_, age, wk) =>
        cum += wk
        (cw, age, sizes(cw), wk, cum, rd(cum.toDouble / sizes(cw), 6))
      }
    }.toSet
    val got = Behavior.cohortLtv(spark, sf).collect()
      .map(r => (r.getDate(0).toLocalDate, r.getInt(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getDouble(5))).toSet
    got shouldBe expected
  }

  // -------------------------------------------------- growth accounting

  behavior of "Behavior.growthAccounting (q_growth_acct) vs scratch weeks"

  it should "match the weekly new/retained/resurrected/churned split" in {
    val um = evValues.map(r => (r._1, weekStart(utcDate(r._3)))).distinct
    val act = um.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val firstWk = um.groupBy(_._1).view.mapValues(_.map(_._2)
      .minBy(_.toEpochDay)).toMap
    val nw = firstWk.values.groupBy(identity).view
      .mapValues(_.size.toLong).toMap
    val umSet = um.toSet
    val ret = um.groupBy(_._2).view.mapValues(_.count { case (uid, wk) =>
      umSet.contains((uid, wk.minusDays(7)))
    }.toLong).toMap
    val expected = act.keys.toSeq.sortBy(_.toEpochDay).map { wk =>
      val a = act(wk)
      val n = nw.getOrElse(wk, 0L)
      val r = ret.getOrElse(wk, 0L)
      val prev = act.getOrElse(wk.minusDays(7), 0L)
      (wk, a, n, r, a - n - r, prev - r)
    }
    val got = Behavior.growthAccounting(spark, sf).collect()
      .map(r => (r.getDate(0).toLocalDate, r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSeq
    got shouldBe expected
  }

  // ------------------------------------------------------ new vs repeat

  behavior of "Analytics.newVsRepeat (q_new_vs_repeat) vs scratch first days"

  it should "match monthly new/repeat counts and revenue shares" in {
    val orders = Tables.orders(spark, sf)
      .select("o_custkey", "o_orderdate", "o_totalprice").collect()
      .map(r => (r.getAs[Number](0).longValue,
        utcDate(r.getTimestamp(1).getTime), cents(r.getDouble(2))))
    val firstDay = orders.groupBy(_._1).view
      .mapValues(_.map(_._2).minBy(_.toEpochDay)).toMap
    val expected = orders.groupBy(o => o._2.withDayOfMonth(1)).toSeq
      .map { case (m, os) =>
        val isNew = os.map(o => (o._2 == firstDay(o._1), o._3))
        val rn = isNew.filter(_._1).map(_._2).sum
        val rr = isNew.filterNot(_._1).map(_._2).sum
        (m, isNew.count(_._1).toLong, isNew.count(!_._1).toLong, rn, rr,
          rd(rr.toDouble / math.max(rn + rr, 1L), 6))
      }.sortBy(_._1.toEpochDay)
    val got = Analytics.newVsRepeat(spark, sf).collect()
      .map(r => (r.getDate(0).toLocalDate, r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getDouble(5))).toSeq
    got shouldBe expected
  }

  // ------------------------------------------------------------ dau/wau

  behavior of "Behavior.rollingActiveUsers (q_wau) vs a scratch day grid"

  it should "match DAU and trailing-7 WAU on the observed-day spine" in {
    val grid = evValues.map(r => (r._1, utcDate(r._3))).distinct
    val dau = grid.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val expected = dau.keys.toSeq.map { day =>
      val wau = grid.filter { case (_, d) =>
        val off = day.toEpochDay - d.toEpochDay
        off >= 0 && off <= 6
      }.map(_._1).distinct.length.toLong
      (day, dau(day), wau)
    }.toSet
    val got = Behavior.rollingActiveUsers(spark, sf).collect()
      .map(r => (r.getDate(0).toLocalDate, r.getLong(1), r.getLong(2)))
      .toSet
    got shouldBe expected
  }

  // -------------------------------------------------------------- decay

  behavior of "TimeSeries.decayedPopularity (q_decayed) vs a scratch fold"

  it should "match the half-life-weighted revenue per type" in {
    val daily = evValues
      .map(r => ((r._2, utcDate(r._3)), BigDecimal.valueOf(r._4)
        .setScale(2, BigDecimal.RoundingMode.HALF_UP)))
      .groupBy(_._1).toSeq
      .map { case ((t, d), rs) => (t, d, (rs.map(_._2).sum * 100).toLong) }
    val maxDay = daily.map(_._2).maxBy(_.toEpochDay)
    val expected = daily.groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (t, rows) =>
        val v = rows.sortBy(_._2.toEpochDay).map { case (_, d, c) =>
          c.toDouble / 100.0 * math.pow(0.5,
            (maxDay.toEpochDay - d.toEpochDay).toDouble /
              TimeSeries.decayHalfLifeDays)
        }.foldLeft(0.0)(_ + _)
        (t, rd(v, 6))
      }
    val got = TimeSeries.decayedPopularity(spark, sf).collect()
      .map(r => (r.getString(0), r.getDouble(1))).toSeq
    got shouldBe expected
  }

  // ----------------------------------------------------- time to convert

  behavior of "Behavior.timeToConvert (q_time_to_convert) vs scratch gaps"

  it should "match the converter latency percentiles" in {
    val gaps = evValues.groupBy(_._1).values.toSeq.flatMap { rs =>
      val v = rs.filter(_._2 == "view").map(_._3).sorted.headOption
      val p = rs.filter(_._2 == "purchase").map(_._3).sorted.headOption
      for (vv <- v; pp <- p if vv < pp) yield pp / 1000 - vv / 1000
    }.sorted
    def disc(q: Double): Long = gaps(math.ceil(q * gaps.length).toInt - 1)
    val row = Behavior.timeToConvert(spark, sf).collect().head
    row.getAs[Long]("n_converters") shouldBe gaps.length.toLong
    row.getAs[Long]("p25_sec") shouldBe disc(0.25)
    row.getAs[Long]("p50_sec") shouldBe disc(0.5)
    row.getAs[Long]("p75_sec") shouldBe disc(0.75)
    row.getAs[Long]("min_sec") shouldBe gaps.min
    row.getAs[Long]("max_sec") shouldBe gaps.max
  }

  // ---------------------------------------------------------- attribution

  behavior of "Behavior.clickAttribution (q_attribution) vs scratch touches"

  it should "match first/last click touches for every purchase" in {
    val evIds = Tables.events(spark, sf)
      .select("user_id", "event_type", "ts", "event_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getTimestamp(2).getTime,
        r.getLong(3)))
    val expected = evIds.groupBy(_._1).values.toSeq.flatMap { rs =>
      val s = rs.sortBy(r => (r._3, r._4))
      s.indices.flatMap { i =>
        if (s(i)._2 == "purchase") {
          val clicks = s.take(i + 1).filter(_._2 == "click")
          if (clicks.nonEmpty) {
            // max/min over struct(ts, event_id): lexicographic
            val lt = clicks.maxBy(c => (c._3, c._4))
            val ft = clicks.minBy(c => (c._3, c._4))
            Some((s(i)._4, s(i)._1, s(i)._3, lt._4, ft._4,
              s(i)._3 / 1000 - lt._3 / 1000))
          } else Some((s(i)._4, s(i)._1, s(i)._3, -1L, -1L, Long.MinValue))
        } else None
      }
    }.toSet
    val got = Behavior.clickAttribution(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getTimestamp(2).getTime,
        if (r.isNullAt(4)) -1L else r.getLong(4),
        if (r.isNullAt(5)) -1L else r.getLong(5),
        if (r.isNullAt(6)) Long.MinValue else r.getLong(6))).toSet
    got shouldBe expected
  }

  // ------------------------------------------------------ activity bitmap

  behavior of "Behavior.activityBitmap (q_bitmap_activity) vs scratch masks"

  it should "match every user's packed mask and popcounts" in {
    val days = evValues.map(r => (r._1, utcDate(r._3)))
    val d0 = days.map(_._2).minBy(_.toEpochDay)
    val expected = days.groupBy(_._1).toSeq.map { case (uid, rs) =>
      var mask = 0L
      for ((_, d) <- rs) {
        val off = d.toEpochDay - d0.toEpochDay
        if (off >= 0 && off <= 62) mask |= 1L << off
      }
      (uid, mask, java.lang.Long.bitCount(mask).toLong,
        java.lang.Long.bitCount(mask & (mask >>> 1)).toLong)
    }.filter(_._2 != 0L).toSet
    val got = Behavior.activityBitmap(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    got shouldBe expected
  }
}
