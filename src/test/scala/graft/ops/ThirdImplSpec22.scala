package graft.ops

import graft.GraftTestBase
import graft.Tables
import graft.Scratch.{cents, md5hex, rd}

/** THIRD-IMPLEMENTATION battery, batch 22: distribution distances and
  * contingency statistics.
  *
  * The two-sample distance family (Wasserstein-1, Cramér/energy,
  * Jensen–Shannon) and the contingency family (chi-square/Cramér's V,
  * G-test, mutual information, Benford) all render one shared formula
  * into both engines — CDF-gap prefix algebra, expected-count
  * quadratics, p·ln(p/q) folds. Scratch recomputations below rebuild
  * each from raw rows: cumulative distributions via sorted scans
  * instead of the engines' windowed prefix machinery, exact-integer
  * gap terms as plain Longs/BigInts, and every fold replayed in the
  * same element order so doubles match bit-for-bit where the engines
  * promise it.
  */
class ThirdImplSpec22 extends GraftTestBase {

  /** Sorted (value-cents, countA, countB) census of the purchase A/B
    * experiment — shared by the Wasserstein and Cramér tests. */
  private lazy val variantCensus: (Seq[(Long, Long, Long)], Long, Long) = {
    val obs = Tables.events(spark, sf)
      .select("user_id", "event_type", "value").collect()
      .filter(_.getString(1) == "purchase")
      .map { r =>
        val variant = (java.lang.Long.parseLong(
          md5hex(r.getLong(0).toString).take(15), 16) % 2).toInt
        (variant, cents(r.getDouble(2)))
      }
    val byValue = obs.groupBy(_._2).toSeq.sortBy(_._1)
      .map { case (v, rs) =>
        (v, rs.count(_._1 == 0).toLong, rs.count(_._1 == 1).toLong)
      }
    (byValue, obs.count(_._1 == 0).toLong, obs.count(_._1 == 1).toLong)
  }

  // ------------------------------------------------------- wasserstein

  behavior of "Behavior.wassersteinDistance (q_wasserstein) vs scratch CDFs"

  it should "match the scaled W1 from a sorted cumulative scan" in {
    val (byValue, na, nb) = variantCensus
    var cuma = 0L; var cumb = 0L; var w1 = 0L
    for (i <- byValue.indices.dropRight(1)) {
      cuma += byValue(i)._2; cumb += byValue(i)._3
      w1 += math.abs(cuma * nb - cumb * na) *
        (byValue(i + 1)._1 - byValue(i)._1)
    }
    val row = Behavior.wassersteinDistance(spark, sf).collect().head
    row.getAs[Long]("n_a") shouldBe na
    row.getAs[Long]("n_b") shouldBe nb
    row.getAs[Long]("w1_scaled") shouldBe w1
    row.getAs[Double]("w1_cents") shouldBe rd(w1.toDouble / (na * nb), 6)
  }

  // ----------------------------------------------------------- cramer

  behavior of "Behavior.cramerDistance (q_cramer) vs scratch BigInt terms"

  it should "match the squared-gap integral and the energy distance" in {
    val (byValue, na, nb) = variantCensus
    var cuma = 0L; var cumb = 0L
    var cScaled = BigInt(0)
    for (i <- byValue.indices.dropRight(1)) {
      cuma += byValue(i)._2; cumb += byValue(i)._3
      val dnum = BigInt(cuma * nb - cumb * na)
      cScaled += dnum * dnum * BigInt(byValue(i + 1)._1 - byValue(i)._1)
    }
    val denom = (na * nb).toDouble * (na * nb).toDouble
    val row = Behavior.cramerDistance(spark, sf).collect().head
    row.getAs[Long]("n_a") shouldBe na
    row.getAs[Long]("n_b") shouldBe nb
    row.getAs[Double]("cramer_cents") shouldBe rd(cScaled.toDouble / denom, 6)
    row.getAs[Double]("energy_cents") shouldBe
      rd(2.0 * cScaled.toDouble / denom, 6)
  }

  // -------------------------------------------------- Jensen-Shannon

  behavior of "Behavior.jsDivergence (q_js_div) vs a scratch bucket fold"

  it should "match both KL halves and the JS divergence" in {
    val obs = Tables.events(spark, sf)
      .select("user_id", "event_type", "value").collect()
      .filter(_.getString(1) == "purchase")
      .map { r =>
        val variant = (java.lang.Long.parseLong(
          md5hex(r.getLong(0).toString).take(15), 16) % 2).toInt
        (variant, cents(r.getDouble(2)) / 2000) // nonneg: div == floor
      }
    val buckets = obs.groupBy(_._2).toSeq.sortBy(_._1)
      .map { case (b, rs) =>
        (b, rs.count(_._1 == 0).toLong, rs.count(_._1 == 1).toLong)
      }
    val na = obs.count(_._1 == 0).toDouble
    val nb = obs.count(_._1 == 1).toDouble
    def mix(ca: Long, cb: Long) = (ca / na + cb / nb) / 2.0
    val klA = buckets.map { case (_, ca, cb) =>
      if (ca > 0) (ca / na) * math.log((ca / na) / mix(ca, cb)) else 0.0
    }.foldLeft(0.0)(_ + _)
    val klB = buckets.map { case (_, ca, cb) =>
      if (cb > 0) (cb / nb) * math.log((cb / nb) / mix(ca, cb)) else 0.0
    }.foldLeft(0.0)(_ + _)
    val row = Behavior.jsDivergence(spark, sf).collect().head
    row.getAs[Long]("n_a") shouldBe na.toLong
    row.getAs[Long]("n_b") shouldBe nb.toLong
    row.getAs[Long]("n_buckets") shouldBe buckets.length.toLong
    row.getAs[Double]("kl_a_to_mix") shouldBe rd(klA, 6)
    row.getAs[Double]("kl_b_to_mix") shouldBe rd(klB, 6)
    row.getAs[Double]("js_nats") shouldBe rd((klA + klB) / 2.0, 6)
  }

  // --------------------------------------------------- mutual info

  behavior of "Analytics.mutualInfoTypeHour (q_mutual_info) vs scratch cells"

  it should "match the plug-in MI from a scratch contingency table" in {
    val ev = Tables.events(spark, sf)
      .select("event_type", "ts").collect()
      .map(r => (r.getString(0),
        r.getTimestamp(1).toInstant.atZone(java.time.ZoneOffset.UTC)
          .getHour))
    val cells = ev.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val rowM = ev.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    val colM = ev.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val n = ev.length.toDouble
    val mi = cells.toSeq.sortBy(_._1).map { case ((t, h), c) =>
      (c / n) * math.log(c * n / (rowM(t).toDouble * colM(h)))
    }.foldLeft(0.0)(_ + _)
    val row = Analytics.mutualInfoTypeHour(spark, sf).collect().head
    row.getAs[Long]("n") shouldBe ev.length.toLong
    row.getAs[Long]("n_cells") shouldBe cells.size.toLong
    row.getAs[Double]("mi_nats") shouldBe rd(mi, 6)
  }

  // ----------------------------------------------------- chi-square

  behavior of "Analytics.chiSquareStatusPriority (q_chi2) vs BigInt terms"

  it should "match chi2, dof and Cramer's V from scratch expecteds" in {
    val cells = Tables.orders(spark, sf)
      .select("o_orderstatus", "o_orderpriority").collect()
      .map(r => (r.getString(0), r.getString(1)))
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    val rowT = cells.groupBy(_._1._1).view
      .mapValues(_.values.sum).toMap
    val colT = cells.groupBy(_._1._2).view
      .mapValues(_.values.sum).toMap
    val nn = cells.values.sum
    val chi2 = cells.toSeq.sortBy(_._1).map { case ((st, pr), c) =>
      val diff = BigInt(c) * BigInt(nn) - BigInt(rowT(st)) * BigInt(colT(pr))
      (diff * diff).toDouble /
        (BigInt(nn) * BigInt(rowT(st)) * BigInt(colT(pr))).toDouble
    }.foldLeft(0.0)(_ + _)
    val dof = (rowT.size - 1) * (colT.size - 1)
    val minDim = math.min(rowT.size - 1, colT.size - 1)
    val row = Analytics.chiSquareStatusPriority(spark, sf).collect().head
    row.getAs[Long]("n_rows") shouldBe nn
    row.getAs[Int]("dof") shouldBe dof
    row.getAs[Double]("chi2") shouldBe rd(chi2, 6)
    row.getAs[Double]("cramers_v") shouldBe
      rd(math.sqrt(rd(chi2, 6) / (nn.toDouble * minDim)), 6)
  }

  // ---------------------------------------------------------- G-test

  behavior of "TextAnalysis.gTestLangSource (q_g_test) vs a scratch fold"

  it should "match the G statistic and its MI link" in {
    val docs = Tables.documents(spark, sf)
      .select("lang", "source").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val cells = docs.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val rowT = docs.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    val colT = docs.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val nn = docs.length.toLong
    val g = cells.toSeq.sortBy(_._1).map { case ((l, src), o) =>
      (2 * o).toDouble *
        rd(math.log(o.toDouble * nn / (rowT(l).toDouble * colT(src))), 12)
    }.foldLeft(0.0)(_ + _)
    val row = graft.text.TextAnalysis.gTestLangSource(spark, sf)
      .collect().head
    row.getAs[Long]("n_docs") shouldBe nn
    row.getAs[Long]("dof") shouldBe ((rowT.size - 1) * (colT.size - 1)).toLong
    row.getAs[Double]("g_stat") shouldBe rd(g, 4)
    row.getAs[Double]("mi_nats") shouldBe rd(g / (2.0 * nn), 6)
  }

  // ---------------------------------------------------------- benford

  behavior of "Quality.benfordAudit (q_benford) vs a scratch digit census"

  it should "match observed and theoretical leading-digit frequencies" in {
    val digits = Tables.orders(spark, sf)
      .select("o_totalprice").collect()
      .map(_.getDouble(0)).filter(_ > 0)
      .map(p => BigDecimal.valueOf(p * 100)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
        .toString.substring(0, 1))
    val counts = digits.groupBy(identity).view.mapValues(_.length.toLong)
    val total = digits.length.toDouble
    val expected = counts.map { case (dg, n) =>
      (dg, n, n / total, rd(math.log10(1.0 + 1.0 / dg.toInt), 6))
    }.toSet
    val got = Quality.benfordAudit(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3))).toSet
    got shouldBe expected
  }
}
