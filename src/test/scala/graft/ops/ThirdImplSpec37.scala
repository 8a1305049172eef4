package graft.ops

import graft.GraftTestBase
import graft.Scratch.{cents, eventValues, r4, r6, variantOf}

import java.time.ZoneOffset

/** THIRD-IMPLEMENTATION battery, batch 37: the classic homogeneity
  * tests and the 2×2 contingency set — the remaining formula-dense
  * members of the experimentation/ANOVA family that rounds 11–12
  * pinned everywhere EXCEPT these (Welch ANOVA and Games–Howell got
  * scratch recomputations in the base batch; the classic pooled
  * one-way F, Brown–Forsythe Levene, Bartlett, McNemar, the
  * Haldane-corrected odds ratio and the SRM gate did not).
  *
  * Doctrine unchanged: recompute each statistic from the RAW parquet
  * rows with per-observation plain-Scala loops (mutable accumulators,
  * BigInt where the engines keep exact integer power sums, doubles
  * folded in the engines' pinned group order only at the very end),
  * sharing NO code with graft.ops, then pin the engine row to it.
  */
class ThirdImplSpec37 extends GraftTestBase {

  private lazy val lineitemQty: Array[(String, Long)] =
    graft.Tables.lineitem(spark, sf)
      .select("l_returnflag", "l_quantity").collect()
      .map(r => (r.getString(0), r.getDouble(1).toLong))

  /** Pooled one-way ANOVA terms from per-group exact power sums, the
    * engines' shared closed form — but accumulated per OBSERVATION
    * here, never via a groupBy census. Returns (k, n, ssb, ssw, f,
    * eta2) with the float fold in sorted-group order like both
    * engines. */
  private def anovaTerms(
      obs: Seq[(String, Long)]): (Long, Long, Double, Double, Double,
      Double) = {
    val acc = scala.collection.mutable.Map
      .empty[String, (Long, BigInt, BigInt)]
    obs.foreach { case (g, x) =>
      val (n, sx, sq) = acc.getOrElse(g, (0L, BigInt(0), BigInt(0)))
      acc(g) = (n + 1, sx + x, sq + BigInt(x) * x)
    }
    val groups = acc.toVector.sortBy(_._1)
    val k = groups.length.toLong
    val nT = groups.map(_._2._1).sum
    var sg = 0.0
    groups.foreach { case (_, (n, sx, _)) =>
      sg += (sx * sx).toDouble / n
    }
    val gs = groups.map(_._2._2).sum
    val gq = groups.map(_._2._3).sum
    val ssb = sg - (gs * gs).toDouble / nT
    val ssw = gq.toDouble - sg
    val f = (ssb / (k - 1)) / (ssw / (nT - k))
    val eta = ssb / (gq.toDouble - (gs * gs).toDouble / nT)
    (k, nT, ssb, ssw, f, eta)
  }

  behavior of "anovaValueByType (q_anova) vs a per-observation F"

  it should "match k, SSB, SSW, F and eta-squared" in {
    val obs = eventValues.toSeq.map(e => (e._3, cents(e._4)))
    val (k, nT, ssb, ssw, f, eta) = anovaTerms(obs)
    val r = Analytics.anovaValueByType(spark, sf).head()
    r.getAs[Long]("k") shouldBe k
    r.getAs[Long]("n_total") shouldBe nT
    r.getAs[Double]("ssb") shouldBe (r6(ssb) +- 1e-6)
    r.getAs[Double]("ssw") shouldBe (r6(ssw) +- 1e-6)
    r.getAs[Double]("f_stat") shouldBe (f +- 1e-6)
    r.getAs[Double]("eta_sq") shouldBe (r6(eta) +- 1e-6)
  }

  behavior of "leveneQtyByFlag (q_levene) vs scratch medians + F"

  it should "match the Brown-Forsythe F on |x - median| deviations" in {
    // lower median at rank ceil(n/2) per flag, from a full sort of the
    // raw observations (the engines use a domain-census prefix scan)
    val byFlag = lineitemQty.groupBy(_._1)
    val med = byFlag.map { case (fl, rows) =>
      val v = rows.map(_._2).sorted
      (fl, v((v.length + 1) / 2 - 1))
    }
    val obs = lineitemQty.toSeq.map { case (fl, x) =>
      (fl, math.abs(x - med(fl)))
    }
    val (k, nT, _, _, f, _) = anovaTerms(obs)
    val r = Analytics.leveneQtyByFlag(spark, sf).head()
    r.getAs[Long]("k") shouldBe k
    r.getAs[Long]("n_total") shouldBe nT
    r.getAs[Double]("f_stat") shouldBe (f +- 1e-6)
  }

  behavior of "bartlettQtyByFlag (q_bartlett) vs scratch variances"

  it should "match chi2, the correction factor and the verdict" in {
    val acc = scala.collection.mutable.Map
      .empty[String, (Long, BigInt, BigInt)]
    lineitemQty.foreach { case (g, x) =>
      val (n, sx, sq) = acc.getOrElse(g, (0L, BigInt(0), BigInt(0)))
      acc(g) = (n + 1, sx + x, sq + BigInt(x) * x)
    }
    val groups = acc.toVector.sortBy(_._1)
    val k = groups.length.toDouble
    val nT = groups.map(_._2._1).sum
    val nmk = nT - k
    def s2(n: Long, sx: BigInt, sq: BigInt): Double =
      (BigInt(n) * sq - sx * sx).toDouble / (n.toDouble * (n - 1.0))
    def rln12(x: Double): Double =
      BigDecimal(math.log(x))
        .setScale(12, BigDecimal.RoundingMode.HALF_UP).toDouble
    var poolNum = 0.0; var sumLn = 0.0; var sumInv = 0.0
    groups.foreach { case (_, (n, sx, sq)) =>
      poolNum += (n - 1.0) * s2(n, sx, sq)
      sumLn += (n - 1.0) * rln12(s2(n, sx, sq))
      sumInv += 1.0 / (n - 1.0)
    }
    val cfac = 1.0 + (sumInv - 1.0 / nmk) / (3.0 * (k - 1.0))
    val chi2 = (nmk * rln12(poolNum / nmk) - sumLn) / cfac
    val r = Analytics.bartlettQtyByFlag(spark, sf).head()
    r.getAs[Long]("k") shouldBe groups.length.toLong
    r.getAs[Long]("n_total") shouldBe nT
    r.getAs[Double]("chi2") shouldBe (r4(chi2) +- 1e-4)
    r.getAs[Double]("c_factor") shouldBe (cfac +- 1e-6)
    r.getAs[Boolean]("reject_95") shouldBe (chi2 > 5.991464547107979)
  }

  behavior of "mcnemarTest (q_mcnemar) vs scratch paired flags"

  it should "match the discordant cells and both chi2 forms" in {
    val splitMs = java.time.LocalDate.of(2024, 1, 16)
      .atStartOfDay(ZoneOffset.UTC).toInstant.toEpochMilli
    val byUser = eventValues.groupBy(_._2)
    var bCount = 0L; var cCount = 0L
    byUser.values.foreach { es =>
      val hv = es.filter(e => e._3 == "purchase" && cents(e._4) >= 20000L)
      val a = hv.exists(_._1.getTime < splitMs)
      val b = hv.exists(_._1.getTime >= splitMs)
      if (a && !b) bCount += 1
      if (!a && b) cCount += 1
    }
    val bc = bCount + cCount
    val d = bCount - cCount
    val chi2 = (d * d).toDouble / math.max(bc, 1L)
    val cc = math.abs(d) - 1L
    val chi2cc = (cc * cc).toDouble / math.max(bc, 1L)
    val r = Behavior.mcnemarTest(spark, sf).head()
    r.getAs[Long]("n_pairs") shouldBe byUser.size.toLong
    r.getAs[Long]("b_count") shouldBe bCount
    r.getAs[Long]("c_count") shouldBe cCount
    bc should be > 0L // corpus sanity: the test is non-degenerate here
    r.getAs[Double]("chi2") shouldBe (r6(chi2) +- 1e-9)
    r.getAs[Double]("chi2_cc") shouldBe (r6(chi2cc) +- 1e-9)
    r.getAs[Boolean]("significant_95") shouldBe (chi2cc > 3.841458820694124)
  }

  behavior of "oddsRatioConversion (q_odds_ratio) vs scratch cells"

  it should "match the Haldane-corrected OR and its Wald CI" in {
    val byUser = eventValues.groupBy(_._2)
    var a = 0L; var b = 0L; var c = 0L; var d = 0L
    byUser.foreach { case (uid, es) =>
      val conv = es.exists(_._3 == "purchase")
      (variantOf(uid), conv) match {
        case (1, true)  => a += 1
        case (1, false) => b += 1
        case (0, true)  => c += 1
        case _          => d += 1
      }
    }
    val (ah, bh, ch, dh) = (a + 0.5, b + 0.5, c + 0.5, d + 0.5)
    val or = (ah * dh) / (bh * ch)
    val se = math.sqrt(1 / ah + 1 / bh + 1 / ch + 1 / dh)
    val z = 1.959963984540054
    val r = Behavior.oddsRatioConversion(spark, sf).head()
    r.getAs[Long]("a") shouldBe a
    r.getAs[Long]("b") shouldBe b
    r.getAs[Long]("c") shouldBe c
    r.getAs[Long]("d") shouldBe d
    r.getAs[Double]("odds_ratio") shouldBe (or +- 1e-6)
    r.getAs[Double]("ci_low") shouldBe (math.exp(math.log(or) - z * se) +- 1e-6)
    r.getAs[Double]("ci_high") shouldBe (math.exp(math.log(or) + z * se) +- 1e-6)
  }

  behavior of "sampleRatioCheck (q_srm) vs a scratch parity census"

  it should "match the split counts, chi2 and the scaled-integer gate" in {
    val users = eventValues.map(_._2).distinct
    val nA = users.count(variantOf(_) == 0).toLong
    val nB = users.length - nA
    val diff = nA - nB
    val chi2 = (diff * diff).toDouble / (nA + nB)
    val r = Behavior.sampleRatioCheck(spark, sf).head()
    r.getAs[Long]("n_a") shouldBe nA
    r.getAs[Long]("n_b") shouldBe nB
    r.getAs[Double]("chi2") shouldBe (r6(chi2) +- 1e-9)
    r.getAs[Boolean]("srm_detected") shouldBe
      (diff * diff * 1000 > (nA + nB) * 3841)
  }
}
