package graft.ops

import graft.GraftTestBase
import graft.Tables
import graft.Scratch.{cents, rd, toks}

/** THIRD-IMPLEMENTATION battery, batch 23: vocabulary-richness
  * estimators, concentration indices and burstiness.
  *
  * Chao1/Good–Turing/Simpson, the Good–Turing discount table, the
  * Heaps-law fold, Gini (both the ranked-window and the
  * census-prefix-sum renderings), the Lorenz deciles, HHI, the Fano
  * factor and the (σ−μ)/(σ+μ) burstiness score are all
  * one-formula-two-transcriptions queries. Scratch loops below rebuild
  * each census from raw rows; where the engine uses a tie-aware
  * rank-sum identity (q_gini's t·(cumt−t)+t(t+1)/2), the scratch side
  * uses the plain Σ i·vᵢ over the fully sorted list — a structurally
  * different route to the same integer.
  */
class ThirdImplSpec23 extends GraftTestBase {

  // ------------------------------------------------- vocab richness

  behavior of "TextAnalysis.vocabRichness (q_chao1) vs a scratch census"

  it should "match Chao1, GT coverage and Simpson concentration" in {
    val counts = Tables.documents(spark, sf)
      .select("text").collect().flatMap(r => toks(r.getString(0)))
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    val v = counts.size.toLong
    val n = counts.values.sum
    val f1 = counts.values.count(_ == 1L).toLong
    val f2 = counts.values.count(_ == 2L).toLong
    val rep2 = counts.values.map(c => c * (c - 1)).sum
    val row = graft.text.TextAnalysis.vocabRichness(spark, sf).collect().head
    row.getAs[Long]("v_types") shouldBe v
    row.getAs[Long]("n_tokens") shouldBe n
    row.getAs[Long]("f1") shouldBe f1
    row.getAs[Long]("f2") shouldBe f2
    row.getAs[Double]("chao1") shouldBe
      rd(v.toDouble + (f1 * (f1 - 1)).toDouble / ((f2 + 1) * 2), 4)
    row.getAs[Double]("gt_coverage") shouldBe rd(1.0 - f1.toDouble / n, 6)
    row.getAs[Double]("simpson") shouldBe
      rd(rep2.toDouble / (n.toDouble * (n - 1).toDouble), 8)
  }

  // ------------------------------------------------------ good-turing

  behavior of "TextAnalysis.goodTuring (q_good_turing) vs scratch trigrams"

  it should "match the discount table from a scratch trigram census" in {
    val counts = Tables.documents(spark, sf)
      .select("text").collect()
      .flatMap { r =>
        val t = toks(r.getString(0))
        if (t.length >= 3)
          (0 to t.length - 3).map(i => s"${t(i)} ${t(i + 1)} ${t(i + 2)}")
        else Seq.empty
      }
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    val fof = counts.values.groupBy(identity).view
      .mapValues(_.size.toLong).toMap
    val n = counts.values.sum
    val n1 = fof.getOrElse(1L, 0L)
    val expected = fof.keys.filter(_ <= 10).toSeq.sorted.map { r =>
      val nr = fof(r)
      val nr1 = fof.getOrElse(r + 1, 0L)
      (r.toInt, nr, nr1, rd((r + 1).toDouble * nr1 / nr, 6),
        rd((r + 1).toDouble * nr1 / nr / n, 10),
        rd(n1.toDouble / n, 8))
    }
    val got = graft.text.TextAnalysis.goodTuring(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5))).toSeq
    got shouldBe expected
  }

  // ------------------------------------------------------------ heaps

  behavior of "TextAnalysis.heapsLaw (q_heaps) vs a scratch growth curve"

  it should "match the per-decile vocabulary curve and beta" in {
    val docs = Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val nd = docs.length.toLong
    val perDoc = docs.map { case (id, t) =>
      (id * 10 / nd, toks(t).length.toLong)
    }
    val firstDoc = docs.flatMap { case (id, t) =>
      toks(t).distinct.map(_ -> id)
    }.groupBy(_._1).view.mapValues(_.map(_._2).min).toMap
    val vocabNew = firstDoc.values
      .groupBy(fd => fd * 10 / nd).view.mapValues(_.size.toLong).toMap
    val deciles = (0L to 9L).filter(d => perDoc.exists(_._1 == d))
    var (cd, ct, cv) = (0L, 0L, 0L)
    val curve = deciles.map { d =>
      val nDocs = perDoc.count(_._1 == d).toLong
      cd += nDocs
      ct += perDoc.filter(_._1 == d).map(_._2).sum
      cv += vocabNew.getOrElse(d, 0L)
      (d.toInt, nDocs, cd, ct, cv)
    }
    val n0 = curve.head._4.toDouble; val v0 = curve.head._5.toDouble
    val n9 = curve.last._4.toDouble; val v9 = curve.last._5.toDouble
    val beta = rd(math.log(v9 / v0) / math.log(n9 / n0), 6)
    val got = graft.text.TextAnalysis.heapsLaw(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5))).toSeq
    got shouldBe curve.map(c => (c._1, c._2, c._3, c._4, c._5, beta))
  }

  // ------------------------------------------------------- burstiness

  behavior of "Behavior.burstinessPerUser (q_burstiness) vs scratch gaps"

  it should "match mean gap and the (sigma-mu)/(sigma+mu) score" in {
    val ev = Tables.events(spark, sf)
      .select("user_id", "ts", "event_id").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2)))
    val expected = ev.groupBy(_._1).toSeq.map { case (uid, rs) =>
      val secs = rs.sortBy(r => (r._2.getTime, r._3))
        .map(r => r._2.getTime / 1000)
      val gaps = secs.sliding(2).map(p => p(1) - p(0)).toSeq
      val ng = gaps.length.toLong
      val sg = gaps.map(BigInt(_)).sum
      val qg = gaps.map(g => BigInt(g) * BigInt(g)).sum
      val sig = math.sqrt((BigInt(ng) * qg - sg * sg).toDouble)
      val b =
        if (sig + sg.toDouble == 0.0) None
        else Some(rd((sig - sg.toDouble) / (sig + sg.toDouble), 6))
      (uid, ng, rd(sg.toDouble / ng, 6), b)
    }.sortBy { case (uid, ng, _, _) => (-ng, uid) }.take(20)
    val got = Behavior.burstinessPerUser(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toSeq
    got shouldBe expected
  }

  // ---------------------------------------------------- gini (ranked)

  behavior of "Analytics.giniBySegment (q_gini) vs scratch rank sums"

  it should "match every segment's Gini from a sorted scan" in {
    val custSeg = Tables.customer(spark, sf)
      .select("c_custkey", "c_mktsegment").collect()
      .map(r => r.getAs[Number](0).longValue -> r.getString(1)).toMap
    val perCust = Tables.orders(spark, sf)
      .select("o_custkey", "o_totalprice").collect()
      .map(r => (r.getAs[Number](0).longValue, r.getDouble(1)))
      .groupBy(_._1).toSeq
      .map { case (ck, rs) =>
        // engine sums DECIMAL(18,2) first, then scales: exact either way
        val c = (rs.map(r => BigDecimal.valueOf(r._2)
          .setScale(2, BigDecimal.RoundingMode.HALF_UP)).sum * 100).toLong
        (custSeg(ck), ck, c)
      }
    val expected = perCust.groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (seg, rs) =>
        val sorted = rs.sortBy(r => (r._3, r._2))
        val n = sorted.length.toLong
        val tot = sorted.map(_._3).sum
        val ix = sorted.zipWithIndex
          .map { case ((_, _, c), i) => BigInt(i + 1) * BigInt(c) }.sum
        val gini = (BigInt(2) * ix - BigInt(n + 1) * BigInt(tot)).toDouble /
          (n.toDouble * tot.toDouble)
        (seg, n, tot, rd(gini, 6))
      }
    val got = Analytics.giniBySegment(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSeq
    got shouldBe expected
  }

  // ----------------------------------------------- gini (census form)

  behavior of "Analytics.giniRevenue (q_gini_dist) vs a plain sorted sum"

  it should "match the census-prefix Gini with the direct rank formula" in {
    val perCust = Tables.orders(spark, sf)
      .select("o_custkey", "o_totalprice").collect()
      .map(r => (r.getAs[Number](0).longValue, cents(r.getDouble(1))))
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    val sorted = perCust.values.toSeq.sorted
    val n = sorted.length.toLong
    val sx = sorted.map(BigInt(_)).sum
    val s1 = sorted.zipWithIndex
      .map { case (v, i) => BigInt(i + 1) * BigInt(v) }.sum
    val gini = (BigInt(2) * s1 - BigInt(n + 1) * sx).toDouble /
      (BigInt(n) * sx).toDouble
    val row = Analytics.giniRevenue(spark, sf).collect().head
    row.getAs[Long]("n_customers") shouldBe n
    row.getAs[Long]("total_cents") shouldBe sx.toLong
    row.getAs[Double]("gini") shouldBe rd(gini, 6)
  }

  // ------------------------------------------------------------ lorenz

  behavior of "Analytics.lorenzCustomerRevenue (q_lorenz) vs scratch deciles"

  it should "match the cumulative revenue share ladder" in {
    val perCust = Tables.orders(spark, sf)
      .select("o_custkey", "o_totalprice").collect()
      .map(r => (r.getAs[Number](0).longValue, r.getDouble(1)))
      .groupBy(_._1).toSeq
      .map { case (ck, rs) =>
        ((rs.map(r => BigDecimal.valueOf(r._2)
          .setScale(2, BigDecimal.RoundingMode.HALF_UP)).sum * 100).toLong,
          ck)
      }
      .sortBy { case (c, ck) => (-c, ck) }
    val n = perCust.length
    val base = n / 10; val extra = n % 10
    val sizes = (0 until 10).map(i => base + (if (i < extra) 1 else 0))
    val starts = sizes.scanLeft(0)(_ + _)
    val total = perCust.map(r => BigInt(r._1)).sum
    var cum = BigInt(0)
    val expected = (0 until 10).map { i =>
      val dec = perCust.slice(starts(i), starts(i + 1))
      val decCents = dec.map(r => BigInt(r._1)).sum
      cum += decCents
      (i + 1, sizes(i).toLong, decCents.toDouble / 100,
        (cum * 10000 / total).toLong)
    }.toSet
    val got = Analytics.lorenzCustomerRevenue(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      .toSet
    got shouldBe expected
  }

  // --------------------------------------------------------------- hhi

  behavior of "Analytics.hhiByNation (q_hhi) vs scratch squared shares"

  it should "match every nation's HHI points" in {
    val custNation = Tables.customer(spark, sf)
      .select("c_custkey", "c_nationkey").collect()
      .map(r => r.getAs[Number](0).longValue -> r.getAs[Number](1).intValue)
      .toMap
    val names = Tables.nation(spark, sf)
      .select("n_nationkey", "n_name").collect()
      .map(r => r.getAs[Number](0).intValue -> r.getString(1)).toMap
    val perCust = Tables.orders(spark, sf)
      .select("o_custkey", "o_totalprice").collect()
      .map(r => (r.getAs[Number](0).longValue, r.getDouble(1)))
      .groupBy(_._1).toSeq
      .map { case (ck, rs) =>
        (custNation(ck),
          (rs.map(r => BigDecimal.valueOf(r._2)
            .setScale(2, BigDecimal.RoundingMode.HALF_UP)).sum * 100).toLong)
      }
    val expected = perCust.groupBy(_._1).toSeq
      .map { case (nk, rs) =>
        val sq = rs.map(r => BigInt(r._2) * BigInt(r._2)).sum
        val tot = rs.map(r => BigInt(r._2)).sum
        (names(nk), rs.length.toLong,
          rd(10000.0 * sq.toDouble / (tot.toDouble * tot.toDouble), 6))
      }.sortBy(_._1)
    val got = Analytics.hhiByNation(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    got shouldBe expected
  }

  // -------------------------------------------------------- dispersion

  behavior of "TimeSeries.dispersionDaily (q_dispersion) vs scratch Fano"

  it should "match the daily mean and Fano factor per event type" in {
    val daily = Tables.events(spark, sf)
      .select("event_type", "ts").collect()
      .map(r => (r.getString(0),
        r.getTimestamp(1).toInstant.atZone(java.time.ZoneOffset.UTC)
          .toLocalDate))
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    val expected = daily.toSeq.groupBy(_._1._1).toSeq
      .map { case (t, cells) =>
        val cs = cells.map(_._2)
        val n = cs.length.toLong
        val s1 = cs.map(BigInt(_)).sum
        val s2 = cs.map(c => BigInt(c) * BigInt(c)).sum
        val mean = s1.toDouble / n
        val fano = (BigInt(n) * s2 - s1 * s1).toDouble /
          (n * (n - 1)).toDouble / mean
        (t, n, rd(mean, 6), rd(fano, 6))
      }.toSet
    val got = TimeSeries.dispersionDaily(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3))).toSet
    got shouldBe expected
  }
}
