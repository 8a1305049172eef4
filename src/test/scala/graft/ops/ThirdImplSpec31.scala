package graft.ops

import graft.GraftTestBase
import graft.Tables
import graft.Scratch.{cents, rd, utcDate}

/** THIRD-IMPLEMENTATION battery, batch 31: market-basket rules, Zipf,
  * robust statistics and greedy set cover.
  *
  * Association-rule confidence/lift in integer basis points, the
  * Wilson lower bound, the log-log Zipf fit, the winsorized/trimmed
  * mean (the engines share one census-prefix-sum weighting identity —
  * the scratch side uses the plain sorted slice), MAD, Tukey fences,
  * XYZ coefficient-of-variation classing, and the 4-round greedy
  * coverage maximization replayed as literal set algebra.
  */
class ThirdImplSpec31 extends GraftTestBase {

  // -------------------------------------------------------- assoc rules

  behavior of "Behavior.associationRules (q_assoc_rules) vs scratch baskets"

  it should "match the top-20 rules' confidence and lift" in {
    val baskets = Tables.lineitem(spark, sf)
      .select("l_orderkey", "l_partkey").collect()
      .map(r => (r.getLong(0), r.getLong(1))).distinct
    val nBaskets = baskets.map(_._1).distinct.length.toLong
    val itemC = baskets.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val pairC = baskets.groupBy(_._1).values.toSeq.flatMap { rs =>
      val ps = rs.map(_._2).distinct.sorted
      for (i <- ps.indices; j <- i + 1 until ps.length)
        yield (ps(i), ps(j))
    }.groupBy(identity).view.mapValues(_.length.toLong)
      .filter(_._2 >= 2) // coPurchasePairs keeps pairs with >= 2 orders
      .filter(_._2 >= Behavior.arMinPairOrders).toMap
    val expected = pairC.toSeq.flatMap { case ((a, b), cab) =>
      Seq((a, b, cab), (b, a, cab))
    }.map { case (ante, cons, cab) =>
      (ante, cons, cab, itemC(ante), itemC(cons),
        cab * 10000 / itemC(ante),
        cab * 10000 * nBaskets / (itemC(ante) * itemC(cons)))
    }.sortBy { case (a, c, _, _, _, _, lift) => (-lift, a, c) }
      .take(Behavior.arTopRules)
    val got = Behavior.associationRules(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))).toSeq
    got shouldBe expected
  }

  // ------------------------------------------------------------- wilson

  behavior of "Behavior.wilsonDailyCtr (q_wilson) vs the scratch bound"

  it should "match every day's click share and Wilson lower bound" in {
    val z = 1.959963984540054
    val z2 = z * z
    val daily = Tables.events(spark, sf)
      .select("event_type", "ts").collect()
      .map(r => (utcDate(r.getTimestamp(1)), r.getString(0)))
      .groupBy(_._1).toSeq
      .map { case (d, rs) =>
        (d, rs.count(_._2 == "view").toLong, rs.count(_._2 == "click").toLong)
      }
      .filter(r => r._2 + r._3 > 0)
    val expected = daily.map { case (d, v, c) =>
      val n = (v + c).toDouble
      val p = c / n
      val lb = (p + z2 / (n * 2) -
        z * math.sqrt(p * (1.0 - p) / n + z2 / (n * n * 4))) / (1.0 + z2 / n)
      (d, v, c, p, lb)
    }.toSet
    val got = Behavior.wilsonDailyCtr(spark, sf).collect()
      .map(r => (utcDate(r.getTimestamp(0)), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4))).toSet
    got shouldBe expected
  }

  // --------------------------------------------------------------- zipf

  behavior of "TextAnalysis.zipfFit (q_zipf) vs a scratch rank regression"

  it should "match the slope and R2 per language" in {
    val census = Tables.documents(spark, sf)
      .select("lang", "text").collect()
      .flatMap(r => r.getString(1).split(" ", -1).map((r.getString(0), _)))
      .groupBy(identity).view.mapValues(_.length.toLong).toSeq
      .map { case ((lang, tok), c) => (lang, tok, c) }
    val expected = census.groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (lang, toks) =>
        val ranked = toks.sortBy(t => (-t._3, t._2))
          .take(graft.text.TextAnalysis.zipfTopK)
        val n = ranked.length.toDouble
        var (sx, sy, sxy, sxx, syy) = (0.0, 0.0, 0.0, 0.0, 0.0)
        for (((_, _, c), i) <- ranked.zipWithIndex) {
          val x = math.log((i + 1).toDouble)
          val y = math.log(c.toDouble)
          sx += x; sy += y; sxy += x * y; sxx += x * x; syy += y * y
        }
        val cov = n * sxy - sx * sy
        val vx = n * sxx - sx * sx
        val vy = n * syy - sy * sy
        (lang, ranked.length.toLong, ranked.map(_._3).sum,
          rd(cov / vx, 6), rd(cov * cov / (vx * vy), 6))
      }
    val got = graft.text.TextAnalysis.zipfFit(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4))).toSeq
    got shouldBe expected
  }

  // ------------------------------------------------------- trimmed mean

  behavior of "Analytics.winsorizedStats (q_trimmed_mean) vs a sorted slice"

  it should "match the census-weighted identity with the plain slice" in {
    val sorted = Tables.orders(spark, sf)
      .select("o_totalprice").collect()
      .map(r => cents(r.getDouble(0))).sorted
    val n = sorted.length.toLong
    val k = (n / 20).toInt
    val vLo = sorted(k) // (k+1)-th smallest
    val vHi = sorted(sorted.length - k - 1) // (n-k)-th smallest
    val mid = sorted.slice(k, sorted.length - k).map(BigInt(_)).sum
    val row = Analytics.winsorizedStats(spark, sf).collect().head
    row.getAs[Long]("n") shouldBe n
    row.getAs[Long]("k") shouldBe k.toLong
    row.getAs[Long]("p05_cents") shouldBe vLo
    row.getAs[Long]("p95_cents") shouldBe vHi
    row.getAs[Double]("winsor_mean_cents") shouldBe
      rd((mid + BigInt(k) * vLo + BigInt(k) * vHi).toDouble / n, 4)
    row.getAs[Double]("trimmed_mean_cents") shouldBe
      rd(mid.toDouble / (n - 2L * k), 4)
  }

  // ----------------------------------------------------------------- mad

  behavior of "Analytics.madByStatus (q_mad) vs scratch medians"

  it should "match the median and MAD per status" in {
    val byStatus = Tables.orders(spark, sf)
      .select("o_orderstatus", "o_totalprice").collect()
      .map(r => (r.getString(0), r.getDouble(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    def pct50(xs: Seq[Double]): Double = {
      val pos = 0.5 * (xs.length - 1)
      val lo = pos.toInt
      if (lo + 1 < xs.length) xs(lo) + (pos - lo) * (xs(lo + 1) - xs(lo))
      else xs(lo)
    }
    val got = Analytics.madByStatus(spark, sf).collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2),
        r.getLong(3))).toSeq
    got.length shouldBe byStatus.size
    for ((st, med, mad, nOrd) <- got) {
      val xs = byStatus(st)
      nOrd shouldBe xs.length.toLong
      med shouldBe rd(pct50(xs), 4) +- 1e-4
      mad shouldBe rd(pct50(xs.map(x => math.abs(x - pct50(xs))).sorted),
        4) +- 1e-4
    }
  }

  // --------------------------------------------------------- IQR fences

  behavior of "Analytics.iqrOutliers (q_iqr_outliers) vs scratch fences"

  it should "match quartiles and both outlier counts per priority" in {
    val byPr = Tables.orders(spark, sf)
      .select("o_orderpriority", "o_totalprice").collect()
      .map(r => (r.getString(0), cents(r.getDouble(1))))
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    def disc(xs: Seq[Long], q: Double): Long =
      xs(math.ceil(q * xs.length).toInt - 1)
    val expected = byPr.map { case (pr, xs) =>
      val q1 = disc(xs, 0.25); val q3 = disc(xs, 0.75)
      val lo2 = q1 * 2 - (q3 - q1) * 3
      val hi2 = q3 * 2 + (q3 - q1) * 3
      (pr, q1, q3, xs.length.toLong,
        xs.count(_ * 2 < lo2).toLong, xs.count(_ * 2 > hi2).toLong)
    }.toSet
    val got = Analytics.iqrOutliers(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSet
    got shouldBe expected
  }

  // ------------------------------------------------------------ XYZ class

  behavior of "Analytics.xyzAnalysis (q_xyz) vs scratch demand CVs"

  it should "match every class's census from scratch coefficients" in {
    val monthly = Tables.lineitem(spark, sf)
      .select("l_partkey", "l_shipdate", "l_quantity").collect()
      .map { r =>
        val d = utcDate(r.getTimestamp(1))
        ((r.getLong(0), d.getYear * 12 + d.getMonthValue),
          (BigDecimal.valueOf(r.getDouble(2))
            .setScale(2, BigDecimal.RoundingMode.HALF_UP) * 100).toLong)
      }
      .groupBy(_._1).toSeq
      .map { case ((pk, mk), rs) => (pk, mk, rs.map(_._2).sum) }
    val mks = monthly.map(_._2)
    val m = (mks.max - mks.min + 1).toLong
    val parts = monthly.groupBy(_._1).toSeq.map { case (pk, rs) =>
      val s1 = rs.map(r => BigInt(r._3)).sum
      val s2 = rs.map(r => BigInt(r._3) * BigInt(r._3)).sum
      val cv = math.sqrt((BigInt(m) * s2 - s1 * s1).toDouble) / s1.toDouble
      val cls = if (cv < 1.8) "X" else if (cv < 2.0) "Y" else "Z"
      (pk, s1, rs.length.toLong, cv, cls)
    }
    val expected = parts.groupBy(_._5).toSeq.sortBy(_._1)
      .map { case (cls, ps) =>
        (cls, ps.length.toLong, ps.map(_._2).sum.toDouble,
          rd(ps.map(_._4).min, 6), rd(ps.map(_._4).max, 6),
          rd(ps.map(_._3.toDouble).sum / ps.length, 6))
      }
    val got = Analytics.xyzAnalysis(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5))).toSeq
    got shouldBe expected
  }

  // ------------------------------------------------------- greedy cover

  behavior of "Curation.greedyCoverage (q_greedy_cover) vs scratch set algebra"

  it should "replay the 4-round coverage maximization exactly" in {
    val gramSets = Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .flatMap { r =>
        val w = r.getString(1).split(" ", -1)
        if (w.length >= 3)
          Some(r.getLong(0) ->
            (0 to w.length - 3)
              .map(i => s"${w(i)} ${w(i + 1)} ${w(i + 2)}").toSet)
        else None
      }.toMap
    var covered = Set.empty[String]
    var cum = 0L
    val expected = (1 to graft.text.Curation.coverageRounds).map { r =>
      val (wid, gain) = gramSets.toSeq
        .map { case (id, gs) => (id, (gs -- covered).size.toLong) }
        .minBy { case (id, g) => (-g, id) }
      covered ++= gramSets(wid)
      cum += gain
      (r, wid, gain, cum)
    }
    val got = graft.text.Curation.greedyCoverage(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq
    got shouldBe expected
  }
}
