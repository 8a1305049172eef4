package graft.ops

import graft.GraftTestBase
import graft.Tables
import graft.Scratch.{d2, md5hex, rd, utcDate}

/** THIRD-IMPLEMENTATION battery, batch 35: profiling and quality audits.
  *
  * Z-scores against group moments, the Freedman–Diaconis histogram
  * (integer cube-root correction included), the 7-check data-quality
  * audit, OHLC bars with tie-broken open/close, the 2-D revenue
  * histogram, the per-source dataset card, xor checksums from scratch
  * md5, and the trailing-window revenue anomaly screen — each
  * recomputed from raw rows with scratch group-bys, sorted scans and
  * BigDecimal power sums.
  */
class ThirdImplSpec35 extends GraftTestBase {

  // -------------------------------------------------------------- zscore

  behavior of "Analytics.zscorePrices (q_zscore) vs scratch group moments"

  it should "match every row's z against scratch mean/std" in {
    val li = Tables.lineitem(spark, sf)
      .select("l_orderkey", "l_linenumber", "l_returnflag",
        "l_extendedprice").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getDouble(3)))
    val stats = li.groupBy(_._3).view.mapValues { rs =>
      val n = rs.length
      val sp = rs.map(r => d2(r._4)).sum
      val spp = rs.map(r => d2(r._4) * d2(r._4)).sum
      val mean = sp.toDouble / n
      val std = math.sqrt(
        (spp.toDouble - sp.toDouble * sp.toDouble / n) / (n - 1))
      (mean, std)
    }.toMap
    val expected = li.filter(_._1 <= 500).map { case (ok, ln, f, p) =>
      val (m, s) = stats(f)
      (ok, ln, f, p, rd((p - m) / s, 4))
    }.toSet
    val got = Analytics.zscorePrices(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getDouble(3),
        r.getDouble(4))).toSet
    got shouldBe expected
  }

  // -------------------------------------------------------- FD histogram

  behavior of "Analytics.fdHistogram (q_fd_histogram) vs scratch binning"

  it should "match the Freedman-Diaconis width and every bin" in {
    val cents = Tables.orders(spark, sf)
      .select("o_totalprice").collect()
      .map(r => (d2(r.getDouble(0)) * 100).toLong).sorted
    val n = cents.length.toLong
    def disc(q: Double): Long = cents(math.ceil(q * cents.length).toInt - 1)
    val (q1, q3) = (disc(0.25), disc(0.75))
    val r0 = math.floor(math.pow(n.toDouble, 1.0 / 3.0)).toLong
    val r =
      if ((r0 + 1) * (r0 + 1) * (r0 + 1) <= n) r0 + 1
      else if (r0 * r0 * r0 > n) r0 - 1
      else r0
    val w = math.max(1L, 2 * (q3 - q1) / r)
    val expected = cents.groupBy(_ / w).toSeq.sortBy(_._1)
      .map { case (bin, xs) =>
        (bin, xs.length.toLong, rd(bin * w / 100.0, 2),
          rd((bin + 1) * w / 100.0, 2))
      }
    val got = Analytics.fdHistogram(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
      .toSeq
    got shouldBe expected
  }

  // ------------------------------------------------------------- dq audit

  behavior of "Quality.dqAudit (q_dq_audit) vs scratch constraint checks"

  it should "match all seven violation counts" in {
    val orders = Tables.orders(spark, sf)
      .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate")
      .collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getLong(1)),
        r.getDouble(2), r.getTimestamp(3).getTime))
    val custKeys = Tables.customer(spark, sf)
      .select("c_custkey").collect().map(_.getAs[Number](0).longValue).toSet
    val li = Tables.lineitem(spark, sf)
      .select("l_orderkey", "l_discount", "l_shipdate").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getTimestamp(2).getTime))
    val orderDate = orders.map(o => o._1 -> o._4).toMap
    val orderKeys = orders.map(_._1).toSet
    val expected = Map(
      "orders_null_custkey" -> orders.count(_._2.isEmpty).toLong,
      "orders_nonpositive_price" -> orders.count(_._3 <= 0).toLong,
      "orders_dup_pk" -> (orders.length - orderKeys.size).toLong,
      "orders_orphan_custkey" ->
        orders.count(o => !o._2.exists(custKeys)).toLong,
      "lineitem_orphan_orderkey" ->
        li.count(l => !orderKeys.contains(l._1)).toLong,
      "lineitem_discount_range" ->
        li.count(l => l._2 < 0 || l._2 > 1).toLong,
      "lineitem_ship_before_order" ->
        li.count(l => orderKeys.contains(l._1) && l._3 < orderDate(l._1))
          .toLong)
    val got = Quality.dqAudit(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    got shouldBe expected
  }

  // ------------------------------------------------------------------ ohlc

  behavior of "TimeSeries.ohlcDaily (q_ohlc) vs scratch tie-broken bars"

  it should "match open/high/low/close/volume/turnover per day" in {
    val ev = Tables.events(spark, sf)
      .select("ts", "event_id", "value").collect()
      .map(r => (r.getTimestamp(0), r.getLong(1),
        (d2(r.getDouble(2)) * 100).toLong))
    val expected = ev.groupBy(e => utcDate(e._1)).toSeq.sortBy(_._1.toEpochDay)
      .map { case (day, rs) =>
        val s = rs.sortBy(r => (r._1.getTime, r._2))
        (day, s.head._3, s.map(_._3).max, s.map(_._3).min, s.last._3,
          s.length.toLong, s.map(_._3).sum)
      }
    val got = TimeSeries.ohlcDaily(spark, sf).collect()
      .map(r => (r.getDate(0).toLocalDate, r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))).toSeq
    got shouldBe expected
  }

  // ---------------------------------------------------------------- hist2d

  behavior of "Analytics.hist2dPriceQty (q_hist2d) vs a scratch band grid"

  it should "match every band's count and revenue" in {
    val li = Tables.lineitem(spark, sf)
      .select("l_extendedprice", "l_quantity").collect()
      .map(r => (r.getDouble(0), r.getDouble(1)))
    val expected = li.groupBy { case (p, q) =>
      (math.floor(p / 10000) * 10000, math.floor(q / 10) * 10)
    }.map { case ((pb, qb), rs) =>
      (pb, qb, rs.length.toLong, rs.map(r => d2(r._1)).sum.toDouble)
    }.toSet
    val got = Analytics.hist2dPriceQty(spark, sf).collect()
      .map(r => (r.getDouble(0), r.getDouble(1), r.getLong(2),
        r.getDouble(3))).toSet
    got shouldBe expected
  }

  // ------------------------------------------------------------ dataset card

  behavior of "Curation.datasetCard (q_dataset_card) vs scratch rollups"

  it should "match every source's card row" in {
    val stop = graft.text.TextAnalysis.stopwords.toSet
    val docs = Tables.documents(spark, sf)
      .select("source", "text", "lang", "n_chars").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getAs[Number](3).longValue))
    val expected = docs.groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (src, ds) =>
        val tokens = ds.map(d => d._2.split(" ", -1).length.toLong).sum
        val chars = ds.map(_._4).sum
        val stopw = ds.map(d => d._2.split(" ", -1).count(stop).toLong).sum
        val distinctTexts = ds.map(d => md5hex(d._2)).distinct.length.toLong
        val vocab = ds.flatMap(d => d._2.split(" ", -1).distinct)
          .distinct.length.toLong
        val langC = ds.groupBy(_._3).view.mapValues(_.length.toLong).toSeq
        val (topLang, topN) = langC.minBy { case (l, c) => (-c, l) }
        (src, ds.length.toLong, tokens, chars, vocab,
          rd(tokens.toDouble / ds.length, 6),
          rd(1.0 - distinctTexts.toDouble / ds.length, 6),
          topLang, rd(topN.toDouble / ds.length, 6),
          if (tokens == 0) 0.0 else rd(stopw.toDouble / tokens, 6))
      }
    val got = graft.text.Curation.datasetCard(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5), r.getDouble(6), r.getString(7),
        r.getDouble(8), r.getDouble(9))).toSeq
    got shouldBe expected
  }

  // ------------------------------------------------------------- checksum

  behavior of "Analytics.checksumAudit (q_checksum) vs scratch xor folds"

  it should "match key and price checksums per status" in {
    val orders = Tables.orders(spark, sf)
      .select("o_orderstatus", "o_orderkey", "o_totalprice").collect()
      .map(r => (r.getString(0),
        java.lang.Long.parseLong(md5hex(r.getLong(1).toString).take(15), 16),
        (d2(r.getDouble(2)) * 100).toLong))
    val expected = orders.groupBy(_._1).map { case (st, rs) =>
      (st, rs.map(_._2).foldLeft(0L)(_ ^ _),
        rs.map(_._3).foldLeft(0L)(_ ^ _), rs.length.toLong)
    }.toSet
    val got = Analytics.checksumAudit(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    got shouldBe expected
  }

  // -------------------------------------------------------------- anomaly

  behavior of "Quality.revenueAnomalies (q_anomaly) vs scratch baselines"

  it should "match every flagged day's trailing-window z" in {
    val daily = Tables.orders(spark, sf)
      .select("o_orderdate", "o_totalprice").collect()
      .map(r => (utcDate(r.getTimestamp(0)), d2(r.getDouble(1))))
      .groupBy(_._1).toSeq
      .map { case (d, rs) => (d, rs.map(_._2).sum) }
      .sortBy(_._1.toEpochDay)
    val expected = daily.indices.flatMap { i =>
      val win = daily.slice(math.max(0, i - 28), i).map(_._2)
      if (win.length >= 14) {
        val n = win.length
        val s1 = win.sum
        val s2 = win.map(x => x * x).sum
        val rev = daily(i)._2.toDouble
        val z = rd((rev - s1.toDouble / n) /
          math.sqrt((s2.toDouble - s1.toDouble * s1.toDouble / n) / (n - 1)),
          4)
        if (math.abs(z) > 2) Some((daily(i)._1, rev, z)) else None
      } else None
    }.toSet
    val got = Quality.revenueAnomalies(spark, sf).collect()
      .map(r => (r.getDate(0).toLocalDate, r.getDouble(1), r.getDouble(2)))
      .toSet
    got shouldBe expected
  }
}
