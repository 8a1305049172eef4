package graft.ops

import graft.GraftTestBase
import graft.Tables
import graft.Scratch.{d2, md5hex, rd, utcDate}

/** THIRD-IMPLEMENTATION battery, batch 36: ranking and share rollups.
  *
  * ABC classification over the prefix-sum rank frame, NTILE deciles
  * and the three-way RFM grid (scratch NTILE with the first-r-tiles-
  * get-one-extra contract), month-over-month growth, share-of-total,
  * the deterministic stratified sample, top-k per group, the clamped
  * running balance, the boundary-sweep concurrency census, and the
  * hourly event rollup — recomputed from raw rows with explicit sorts
  * and prefix scans.
  */
class ThirdImplSpec36 extends GraftTestBase {

  /** NTILE(k) over n rows: the first n mod k tiles get one extra row. */
  private def ntile(rank1: Int, n: Int, k: Int): Int = {
    val q = n / k; val r = n % k
    val cut = r * (q + 1)
    if (rank1 <= cut) (rank1 - 1) / (q + 1) + 1
    else r + (rank1 - 1 - cut) / q + 1
  }

  // ----------------------------------------------------------------- abc

  behavior of "Analytics.abcAnalysis (q_abc) vs a scratch Pareto walk"

  it should "match the A/B/C censuses from a sorted prefix scan" in {
    val partRev = Tables.lineitem(spark, sf)
      .select("l_partkey", "l_extendedprice", "l_discount").collect()
      .map(r => (r.getLong(0),
        d2(r.getDouble(1)) * (BigDecimal(1) - d2(r.getDouble(2)))))
      .groupBy(_._1).toSeq
      .map { case (pk, rs) => (pk, (rs.map(_._2).sum * 10000).toLong) }
      .sortBy { case (pk, c) => (-c, pk) }
    val tot = partRev.map(_._2).sum
    var cum = 0L
    val classed = partRev.map { case (_, c) =>
      val prev = cum
      cum += c
      val cls =
        if (prev * 5 < tot * 4) "A"
        else if (prev * 20 < tot * 19) "B"
        else "C"
      (cls, c)
    }
    val expected = classed.groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (cls, rs) =>
        (cls, rs.length.toLong, rs.map(_._2).sum,
          rd(rs.map(_._2).sum.toDouble / tot, 6))
      }
    val got = Analytics.abcAnalysis(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSeq
    got shouldBe expected
  }

  // -------------------------------------------------------------- deciles

  behavior of "Analytics.decileStats (q_deciles) vs a scratch NTILE"

  it should "match every decile's stats" in {
    val orders = Tables.orders(spark, sf)
      .select("o_orderkey", "o_totalprice").collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
      .sortBy(o => (o._2, o._1))
    val n = orders.length
    val expected = orders.zipWithIndex
      .groupBy { case (_, i) => ntile(i + 1, n, 10) }.toSeq.sortBy(_._1)
      .map { case (dec, rs) =>
        val prices = rs.map(_._1._2)
        (dec, rs.length.toLong, prices.min, prices.max,
          rs.map(r => d2(r._1._2)).sum.toDouble)
      }
    val got = Analytics.decileStats(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4))).toSeq.sortBy(_._1)
    got shouldBe expected
  }

  // ------------------------------------------------------------------ rfm

  behavior of "Analytics.rfmSegments (q_rfm) vs three scratch NTILEs"

  it should "match the 3-way segment grid" in {
    val perCust = Tables.orders(spark, sf)
      .select("o_custkey", "o_orderdate", "o_totalprice").collect()
      .map(r => (r.getAs[Number](0).longValue, r.getTimestamp(1).getTime,
        d2(r.getDouble(2))))
      .groupBy(_._1).toSeq
      .map { case (ck, rs) =>
        (ck, rs.map(_._2).max, rs.length.toLong, rs.map(_._3).sum)
      }
    val n = perCust.length
    def scores(sorted: Seq[Long]): Map[Long, Int] =
      sorted.zipWithIndex.map { case (ck, i) => ck -> ntile(i + 1, n, 5) }
        .toMap
    val r5 = scores(perCust.sortBy(c => (-c._2, c._1)).map(_._1))
    val f5 = scores(perCust.sortBy(c => (-c._3, c._1)).map(_._1))
    val m5 = scores(perCust.sortBy(c => (-c._4, c._1)).map(_._1))
    val expected = perCust
      .groupBy(c => (r5(c._1), f5(c._1), m5(c._1))).toSeq
      .map { case ((r, f, m), cs) =>
        (r, f, m, cs.length.toLong, cs.map(_._4).sum.toDouble)
      }.toSet
    val got = Analytics.rfmSegments(spark, sf).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getLong(3),
        r.getDouble(4))).toSet
    got shouldBe expected
  }

  // ------------------------------------------------------------ mom growth

  behavior of "Analytics.monthlyGrowth (q_mom_growth) vs scratch lags"

  it should "match the growth curve" in {
    val monthly = Tables.orders(spark, sf)
      .select("o_orderdate", "o_totalprice").collect()
      .map(r => (utcDate(r.getTimestamp(0)).withDayOfMonth(1),
        d2(r.getDouble(1))))
      .groupBy(_._1).toSeq
      .map { case (m, rs) => (m, (rs.map(_._2).sum * 100).toLong) }
      .sortBy(_._1.toEpochDay)
    val expected = monthly.zipWithIndex.map { case ((m, c), i) =>
      val prev = if (i == 0) None else Some(monthly(i - 1)._2)
      (m, c.toDouble / 100.0, prev.map(_.toDouble / 100.0),
        prev.map(p => c.toDouble / p - 1.0))
    }.toSet
    val got = Analytics.monthlyGrowth(spark, sf).collect()
      .map(r => (r.getDate(0).toLocalDate, r.getDouble(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toSet
    got shouldBe expected
  }

  // -------------------------------------------------------- share of total

  behavior of "Analytics.revenueShareByNation (q_share_of_total)"

  it should "match every nation's share" in {
    val custNation = Tables.customer(spark, sf)
      .select("c_custkey", "c_nationkey").collect()
      .map(r => r.getAs[Number](0).longValue -> r.getAs[Number](1).intValue)
      .toMap
    val names = Tables.nation(spark, sf)
      .select("n_nationkey", "n_name").collect()
      .map(r => r.getAs[Number](0).intValue -> r.getString(1)).toMap
    val rev = Tables.orders(spark, sf)
      .select("o_custkey", "o_totalprice").collect()
      .map(r => (names(custNation(r.getAs[Number](0).longValue)),
        d2(r.getDouble(1))))
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    val tot = rev.values.sum.toDouble
    val expected = rev.map { case (nm, rv) =>
      (nm, rv.toDouble, rd(rv.toDouble / tot, 4))
    }.toSet
    val got = Analytics.revenueShareByNation(spark, sf).collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2))).toSet
    got shouldBe expected
  }

  // ------------------------------------------------------ stratified sample

  behavior of "Relational.stratifiedSample (q_sample_strat) vs scratch hashes"

  it should "match per-stratum sampled counts" in {
    val cust = Tables.customer(spark, sf)
      .select("c_custkey", "c_mktsegment").collect()
      .map(r => (r.getAs[Number](0).longValue, r.getString(1)))
    val expected = cust.groupBy(_._2).map { case (seg, cs) =>
      val sampled = cs.count { c =>
        java.lang.Long.parseLong(md5hex(s"smp|${c._1}").take(8), 16) % 5 == 0
      }.toLong
      (seg, cs.length.toLong, sampled)
    }.toSet
    val got = Relational.stratifiedSample(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    got shouldBe expected
  }

  // ------------------------------------------------------ top-k per group

  behavior of "Relational.windowTopKPerGroup (q_topk_per_group)"

  it should "match the per-status top-3" in {
    val orders = Tables.orders(spark, sf)
      .select("o_orderstatus", "o_orderkey", "o_totalprice").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    val expected = orders.groupBy(_._1).toSeq.flatMap { case (st, os) =>
      os.sortBy(o => (-o._3, o._2)).take(3).zipWithIndex
        .map { case ((_, ok, p), i) => (st, i + 1, ok, p) }
    }.toSet
    val got = Relational.windowTopKPerGroup(spark, sf).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .toSet
    got shouldBe expected
  }

  // ------------------------------------------------------- clamped balance

  behavior of "TimeSeries.clampedBalance (q_clamped_balance) vs scratch scans"

  it should "match the floored running balance per supplier" in {
    val flows = Tables.lineitem(spark, sf)
      .select("l_suppkey", "l_shipdate", "l_quantity", "l_returnflag")
      .collect()
      .map { r =>
        val c = (d2(r.getDouble(2)) * 100).toLong
        ((r.getLong(0), utcDate(r.getTimestamp(1))),
          if (r.getString(3) == "R") c else -c)
      }
      .groupBy(_._1).toSeq
      .map { case ((sk, day), rs) => (sk, day, rs.map(_._2).sum) }
    val expected = flows.groupBy(_._1).toSeq.map { case (sk, rows) =>
      val s = rows.sortBy(_._2.toEpochDay)
      var run = 0L; var minRun = 0L
      var peak = Long.MinValue; var floorDays = 0L; var last = 0L
      for ((_, _, net) <- s) {
        run += net
        minRun = math.min(minRun, run)
        val bal = run - math.min(0L, minRun)
        if (bal == 0) floorDays += 1
        peak = math.max(peak, bal)
        last = bal
      }
      (sk, last, peak, floorDays, s.length.toLong)
    }.toSet
    val got = TimeSeries.clampedBalance(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSet
    got shouldBe expected
  }

  // ---------------------------------------------------------- concurrency

  behavior of "TimeSeries.intervalConcurrency (q_concurrency) vs a sweep"

  it should "match the max concurrent spans per day" in {
    val iv = Tables.events(spark, sf)
      .select("user_id", "ts").collect()
      .map(r => ((r.getLong(0), utcDate(r.getTimestamp(1))),
        r.getTimestamp(1).getTime))
      .groupBy(_._1).toSeq
      .map { case ((_, day), rs) =>
        (day, rs.map(_._2).min, rs.map(_._2).max)
      }
      .filter(r => r._2 < r._3)
    val expected = iv.groupBy(_._1).toSeq.map { case (day, spans) =>
      val bounds = spans.flatMap(s => Seq((s._2, 1), (s._3, -1)))
        .sortBy(b => (b._1, b._2))
      var run = 0; var mx = 0
      for ((_, dl) <- bounds) { run += dl; mx = math.max(mx, run) }
      (day, mx.toLong, spans.length.toLong)
    }.toSet
    val got = TimeSeries.intervalConcurrency(spark, sf).collect()
      .map(r => (utcDate(r.getTimestamp(0)), r.getLong(1), r.getLong(2)))
      .toSet
    got shouldBe expected
  }

  // --------------------------------------------------------- events hourly

  behavior of "Relational.eventsHourly (q_events_hourly) vs scratch buckets"

  it should "match every hour bucket's count and value sum" in {
    val ev = Tables.events(spark, sf)
      .select("ts", "event_type", "value").collect()
      .map { r =>
        val i = r.getTimestamp(0).toInstant.atZone(java.time.ZoneOffset.UTC)
        ((i.toLocalDate, i.getHour, r.getString(1)), d2(r.getDouble(2)))
      }
    val expected = ev.groupBy(_._1).map { case ((d, h, t), rs) =>
      (d, h, t, rs.length.toLong, rs.map(_._2).sum.toDouble)
    }.toSet
    val got = Relational.eventsHourly(spark, sf).collect()
      .map { r =>
        val i = r.getTimestamp(0).toInstant.atZone(java.time.ZoneOffset.UTC)
        (i.toLocalDate, i.getHour, r.getString(1), r.getLong(2),
          r.getDouble(3))
      }.toSet
    got shouldBe expected
  }
}
