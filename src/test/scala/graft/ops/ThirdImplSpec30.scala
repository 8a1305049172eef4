package graft.ops

import graft.GraftTestBase
import graft.Tables
import graft.Scratch.{cents, md5hex, rd, utcDate}

/** THIRD-IMPLEMENTATION battery, batch 30: attribution games, trend
  * tests, index numbers, and the deterministic-noise/sampling family.
  *
  * Shapley channel attribution (the 16-coalition lattice replayed as
  * plain bit arithmetic), Cochran–Armitage and Page trend tests,
  * log-log discount elasticity, Laspeyres/Paasche/Fisher price
  * indices, the Laplace-noise DP histogram (noise re-derived from its
  * md5 seed), the t-closeness EMD audit, the md5-thresholded PPS
  * sample and the rolling-origin CV folds — every one rebuilt from
  * raw parquet rows with scratch hashing and explicit loops.
  */
class ThirdImplSpec30 extends GraftTestBase {

  // ------------------------------------------------------------ shapley

  behavior of "Behavior.shapleyAttribution (q_shapley) vs scratch coalitions"

  it should "match every channel's Shapley value over the 16-set lattice" in {
    val ev = Tables.events(spark, sf)
      .select("user_id", "event_type", "ts").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getTimestamp(2).getTime))
    val bit = Map("click" -> 1, "view" -> 2, "signup" -> 4, "error" -> 8)
    val users = ev.groupBy(_._1).toSeq.map { case (_, rs) =>
      val convTs = rs.filter(_._2 == "purchase").map(_._3).sorted.headOption
      val mask = rs.filter(r => r._2 != "purchase" &&
        convTs.forall(r._3 < _))
        .map(r => bit.getOrElse(r._2, 0)).foldLeft(0)(_ | _)
      (mask, if (convTs.isDefined) 1L else 0L)
    }
    val cells = users.groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    def v(co: Int): Long =
      cells.collect { case (m, c) if (m & co) == m => c }.sum
    val weight = Array(6L, 2L, 2L, 6L)
    val expected = bit.toSeq.map { case (ch, b) =>
      val x24 = (0 until 16).filter(co => (co & b) == 0).map { co =>
        weight(Integer.bitCount(co)) * (v(co | b) - v(co))
      }.sum
      (ch, x24, x24.toDouble / 24.0, v(15) - v(0))
    }.toSet
    val got = Behavior.shapleyAttribution(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getLong(3))).toSet
    got shouldBe expected
  }

  // ----------------------------------------------------- cochran-armitage

  behavior of "Analytics.cochranArmitageTrend (q_ca_trend) vs scratch doses"

  it should "match the dose-weighted trend z" in {
    val census = Tables.lineitem(spark, sf)
      .select("l_discount", "l_returnflag").collect()
      .map(r => (BigDecimal.valueOf(r.getDouble(0) * 100)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong,
        r.getString(1) == "R"))
      .groupBy(_._1).toSeq
      .map { case (w, rs) => (w, rs.length.toLong, rs.count(_._2).toLong) }
    val n = census.map(c => BigInt(c._2)).sum
    val r = census.map(c => BigInt(c._3)).sum
    val swn = census.map(c => BigInt(c._1) * c._2).sum
    val swr = census.map(c => BigInt(c._1) * c._3).sum
    val sw2n = census.map(c => BigInt(c._1) * BigInt(c._1) * c._2).sum
    val p = r.toDouble / n.toDouble
    val z = (n * swr - r * swn).toDouble /
      (n.toDouble * math.sqrt(p * (1.0 - p) * (n * sw2n - swn * swn).toDouble))
    val row = Analytics.cochranArmitageTrend(spark, sf).collect().head
    row.getAs[Long]("k") shouldBe census.length.toLong
    row.getAs[Long]("n_total") shouldBe n.toLong
    row.getAs[Long]("n_returned") shouldBe r.toLong
    row.getAs[Double]("z_trend") shouldBe rd(z, 6)
  }

  // ------------------------------------------------------------ page's L

  behavior of "Analytics.pageTrend (q_page_trend) vs scratch midranks"

  it should "match Page's L and its normal approximation" in {
    val daily = Tables.events(spark, sf)
      .select("event_type", "ts", "value").collect()
      .map(r => ((r.getString(0), utcDate(r.getTimestamp(1))),
        BigDecimal.valueOf(r.getDouble(2))
          .setScale(2, BigDecimal.RoundingMode.HALF_UP)))
      .groupBy(_._1).toSeq
      .map { case ((t, day), rs) => (t, day, (rs.map(_._2).sum * 100).toLong) }
    val types = daily.map(_._1).distinct.sorted
    val k = types.length
    val completeDays = daily.groupBy(_._2).filter(_._2.length == k)
    // doubled midranks per day
    val rs2 = scala.collection.mutable.Map.empty[String, Long]
    for ((_, rows) <- completeDays) {
      val sorted = rows.sortBy(_._3)
      var i = 0
      while (i < sorted.length) {
        var j = i
        while (j < sorted.length && sorted(j)._3 == sorted(i)._3) j += 1
        val mid2 = (i + 1).toLong + j.toLong // 2·midrank of the tie block
        for (x <- i until j)
          rs2.update(sorted(x)._1, rs2.getOrElse(sorted(x)._1, 0L) + mid2)
        i = j
      }
    }
    val nDays = completeDays.size.toLong
    val l2 = types.zipWithIndex
      .map { case (t, i) => (i + 1).toLong * rs2(t) }.sum
    val e2 = nDays.toDouble * k * (k + 1) * (k + 1) / 2.0
    val v2 = nDays.toDouble * k * k * (k + 1) * (k.toLong * k - 1) / 36.0
    val z = (l2.toDouble - e2) / math.sqrt(v2)
    val row = Analytics.pageTrend(spark, sf).collect().head
    row.getAs[Long]("k") shouldBe k.toLong
    row.getAs[Long]("n") shouldBe nDays
    row.getAs[Double]("l") shouldBe l2.toDouble / 2.0
    row.getAs[Double]("page_z") shouldBe rd(z, 6)
    row.getAs[Boolean]("increasing_95") shouldBe (z > 1.644853626951472)
  }

  // ---------------------------------------------------------- elasticity

  behavior of "Analytics.discountElasticity (q_elasticity) vs scratch folds"

  it should "match the log-log slope and R2 per return flag" in {
    val cells = Tables.lineitem(spark, sf)
      .select("l_returnflag", "l_quantity", "l_discount").collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
      .groupBy(identity).view.mapValues(_.length.toDouble).toSeq
      .map { case ((f, q, dd), m) => (f, q, dd, m) }
    val expected = cells.groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (flag, cs) =>
        val sorted = cs.sortBy(c => (c._2, c._3))
        var (n, sx, sy, sxy, sxx, syy) = (0.0, 0.0, 0.0, 0.0, 0.0, 0.0)
        for ((_, q, dd, m) <- sorted) {
          val lx = math.log(1.0 - dd)
          val ly = math.log(q)
          n += m; sx += m * lx; sy += m * ly
          sxy += m * lx * ly; sxx += m * lx * lx; syy += m * ly * ly
        }
        val num = n * sxy - sx * sy
        (flag, n.toLong, rd(num / (n * sxx - sx * sx), 6),
          rd(num * num / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6))
      }
    val got = Analytics.discountElasticity(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3))).toSeq.sortBy(_._1)
    got shouldBe expected
  }

  // --------------------------------------------------------- price index

  behavior of "Analytics.priceIndices (q_price_index) vs scratch baskets"

  it should "match Laspeyres, Paasche and Fisher per month" in {
    val pm = Tables.lineitem(spark, sf)
      .select("l_partkey", "l_shipdate", "l_extendedprice", "l_quantity")
      .collect()
      .map(r => ((r.getLong(0), utcDate(r.getTimestamp(1)).withDayOfMonth(1)),
        (cents(r.getDouble(2)), r.getDouble(3).toLong)))
      .groupBy(_._1).toSeq
      .map { case ((pk, m), rs) =>
        (pk, m, rs.map(_._2._1).min, rs.map(_._2._2).sum)
      }
    val m0 = pm.map(_._2).minBy(_.toEpochDay)
    val base = pm.filter(_._2 == m0).map(r => r._1 -> (r._3, r._4)).toMap
    val expected = pm.filter(r => base.contains(r._1)).groupBy(_._2).toSeq
      .map { case (m, rs) =>
        val lNum = rs.map(r => BigInt(r._3) * base(r._1)._2).sum
        val lDen = rs.map(r => BigInt(base(r._1)._1) * base(r._1)._2).sum
        val pNum = rs.map(r => BigInt(r._3) * r._4).sum
        val pDen = rs.map(r => BigInt(base(r._1)._1) * r._4).sum
        val l = lNum.toDouble / lDen.toDouble
        val p = pNum.toDouble / pDen.toDouble
        (m, rs.length.toLong, rd(l, 6), rd(p, 6), rd(math.sqrt(l * p), 6))
      }.toSet
    val got = Analytics.priceIndices(spark, sf).collect()
      .map(r => (r.getDate(0).toLocalDate, r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4))).toSet
    got shouldBe expected
  }

  // -------------------------------------------------------- dp histogram

  behavior of "Privacy.dpNoisyHistogram (q_dp_histogram) vs scratch noise"

  it should "match every cell's seeded Laplace draw" in {
    val cellsRaw = Tables.orders(spark, sf)
      .select("o_orderpriority", "o_orderstatus").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val expected = cellsRaw.groupBy(identity).toSeq
      .map { case ((pr, st), rs) =>
        val h = java.lang.Long.parseLong(md5hex(s"$pr|$st").take(8), 16)
        val u = (h.toDouble + 0.5) / 4294967296.0 - 0.5
        val noise = -1.0 * math.signum(u) * math.log(1.0 - 2.0 * math.abs(u))
        (pr, st, rs.length.toLong, rd(rs.length + noise, 4), 1.0)
      }.toSet
    val got = Privacy.dpNoisyHistogram(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4))).toSet
    got shouldBe expected
  }

  // --------------------------------------------------------- t-closeness

  behavior of "Privacy.tClosenessAudit (q_tcloseness) vs scratch EMD"

  it should "match every nation's bucket EMD" in {
    val rows = Tables.customer(spark, sf)
      .select("c_nationkey", "c_acctbal").collect()
      .map { r =>
        val c = cents(r.getDouble(1))
        val b = math.min(9L,
          math.max(0L, math.floor((c + 100000L).toDouble / 110000L).toLong))
          .toInt
        (r.getAs[Number](0).intValue, b)
      }
    val nations = rows.map(_._1).distinct
    val dense = (for (nk <- nations; b <- 0 until 10) yield
      ((nk, b), rows.count(r => r == ((nk, b))).toLong)).toMap
    val glob = (0 until 10)
      .map(b => b -> nations.map(nk => dense((nk, b))).sum).toMap
    val nTotal = glob.values.sum
    val expected = nations.map { nk =>
      val nClass = (0 until 10).map(b => dense((nk, b))).sum
      var cum = 0L; var absSum = 0L
      for (b <- 0 until 10) {
        cum += dense((nk, b)) * nTotal - glob(b) * nClass
        absSum += math.abs(cum)
      }
      val emd = absSum.toDouble / (nClass * nTotal * 9L).toDouble
      (nk, nClass, emd, emd <= 0.2)
    }.toSet
    val got = Privacy.tClosenessAudit(spark, sf).collect()
      .map(r => (r.getAs[Number](0).intValue, r.getLong(1), r.getDouble(2),
        r.getBoolean(3))).toSet
    got shouldBe expected
  }

  // ------------------------------------------------------------- sampling

  behavior of "Relational.weightedSample (q_sample_weighted) vs scratch PPS"

  it should "match the md5-thresholded sample exactly" in {
    val orders = Tables.orders(spark, sf)
      .select("o_orderkey", "o_custkey", "o_totalprice").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val maxP = orders.map(_._3).max
    val expected = orders.filter { case (k, _, p) =>
      val u = java.lang.Long.parseLong(md5hex(k.toString).take(6), 16)
        .toDouble / 16777216.0
      u < p / maxP * 0.3
    }.map { case (k, ck, p) => (k, ck, p, rd(p / maxP, 4)) }.toSet
    val got = Relational.weightedSample(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3))).toSet
    got shouldBe expected
  }

  // -------------------------------------------------------------- cv folds

  behavior of "TimeSeries.cvFolds (q_cv_folds) vs scratch rolling origins"

  it should "match every fold's train/valid membership sums" in {
    val daily = Tables.orders(spark, sf)
      .select("o_orderdate", "o_totalprice").collect()
      .map(r => (utcDate(r.getTimestamp(0)),
        BigDecimal.valueOf(r.getDouble(1))
          .setScale(2, BigDecimal.RoundingMode.HALF_UP)))
      .groupBy(_._1).toSeq
      .map { case (d, rs) =>
        (d, rs.length.toLong, (rs.map(_._2).sum * 100).toLong)
      }
    val d0 = daily.map(_._1).minBy(_.toEpochDay)
    val span = daily.map(_._1).maxBy(_.toEpochDay).toEpochDay - d0.toEpochDay
    val expected = (for {
      fold <- 1 to 5
      (day, n, c) <- daily
      off = day.toEpochDay - d0.toEpochDay
      if off <= span * (fold + 1) / 6
    } yield {
      val role = if (off <= span * fold / 6) "train" else "valid"
      ((fold, role), (n, c))
    }).groupBy(_._1).toSeq
      .map { case ((fold, role), rs) =>
        (fold, role, rs.map(_._2._1).sum, rs.map(_._2._2).sum)
      }.toSet
    val got = TimeSeries.cvFolds(spark, sf).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toSet
    got shouldBe expected
  }
}
