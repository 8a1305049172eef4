package graft.ops

import graft.GraftTestBase
import graft.Tables
import graft.Scratch.{cents, events, md5hex, rd}

/** THIRD-IMPLEMENTATION battery, batch 28: A/B machinery and the
  * doubly-robust fit.
  *
  * The Welch z, the md5-reseeded permutation test, the 8-way A/A
  * calibration grid, Tukey's HSD and the AIPW doubly-robust ATE (two
  * nested Fisher-scoring logit fits) are the most transcription-heavy
  * members of the experimentation family. Scratch replays below
  * rebuild each from raw rows with its own md5 and explicit loops —
  * the DR fit's two Newton iterations replayed moment-by-moment in the
  * engines' documented fold order so the 8-iteration double
  * trajectory matches bit-for-bit before the final 6-dp rounds.
  */
class ThirdImplSpec28 extends GraftTestBase {

  private def h15(s: String): Long =
    java.lang.Long.parseLong(md5hex(s).take(15), 16)

  // ------------------------------------------------------------ ab test

  behavior of "Behavior.abTestRevenue (q_ab_test) vs scratch Welch z"

  it should "match means and the z statistic" in {
    val perUser = events.groupBy(_._1).toSeq.map { case (uid, rs) =>
      val rev = rs.filter(_._2 == "purchase")
        .map(r => BigDecimal.valueOf(r._3)
          .setScale(2, BigDecimal.RoundingMode.HALF_UP))
        .foldLeft(BigDecimal(0))(_ + _)
      ((h15(uid.toString) % 2).toInt, rev)
    }
    def stats(v: Int) = {
      val xs = perUser.filter(_._1 == v).map(_._2)
      (xs.length.toLong, xs.sum, xs.map(x => x * x).sum)
    }
    val (na, sxa, sxxa) = stats(0)
    val (nb, sxb, sxxb) = stats(1)
    def varS(sxx: BigDecimal, sx: BigDecimal, n: Long) =
      (sxx.toDouble - sx.toDouble * sx.toDouble / n) / (n - 1.0)
    val z = (sxb.toDouble / nb - sxa.toDouble / na) /
      math.sqrt(varS(sxxa, sxa, na) / na + varS(sxxb, sxb, nb) / nb)
    val row = Behavior.abTestRevenue(spark, sf).collect().head
    row.getAs[Long]("n_a") shouldBe na
    row.getAs[Long]("n_b") shouldBe nb
    row.getAs[Double]("mean_a") shouldBe (sxa.toDouble / na) +- 1e-9
    row.getAs[Double]("mean_b") shouldBe (sxb.toDouble / nb) +- 1e-9
    row.getAs[Double]("z_stat") shouldBe z +- 1e-9
    row.getAs[Boolean]("significant_95") shouldBe
      (math.abs(z) > 1.959963984540054)
  }

  // ----------------------------------------------------- permutation

  behavior of "Behavior.permutationTest (q_perm_test) vs scratch reseeds"

  it should "match the permutation p-value over 200 md5 reseeds" in {
    val perUser = events.filter(_._2 == "purchase").groupBy(_._1).toSeq
      .map { case (uid, rs) => (uid.toString, rs.map(r => cents(r._3)).sum) }
    def absDiff(assign: String => Long): Double = {
      val g1 = perUser.filter(u => assign(u._1) == 1L)
      val g0 = perUser.filter(u => assign(u._1) == 0L)
      math.abs(g1.map(_._2).sum.toDouble / g1.length -
        g0.map(_._2).sum.toDouble / g0.length)
    }
    val obs = absDiff(u => h15(u) % 2)
    val k = 200
    val nGe = (1 to k).count { kk =>
      absDiff(u => h15(s"$u|$kk") % 2) >= obs
    }.toLong
    val row = Behavior.permutationTest(spark, sf).collect().head
    row.getAs[Long]("k_perms") shouldBe k.toLong
    row.getAs[Double]("obs_abs_diff") shouldBe rd(obs, 6)
    row.getAs[Long]("n_ge") shouldBe nGe
    row.getAs[Double]("p_value") shouldBe rd((1.0 + nGe) / (k + 1.0), 6)
    row.getAs[Boolean]("significant_95") shouldBe ((1 + nGe) * 20 <= k + 1)
  }

  // -------------------------------------------------------------- a/a

  behavior of "Behavior.aaCalibration (q_aa_calib) vs scratch pseudo-tests"

  it should "match every pseudo-experiment's Welch z" in {
    val perUser = events.filter(_._2 == "purchase").groupBy(_._1).toSeq
      .map { case (uid, rs) =>
        (h15(uid.toString) % 16, rs.map(r => cents(r._3)).sum)
      }
    val expected = perUser.groupBy(_._1 % 8).toSeq.sortBy(_._1)
      .map { case (expId, us) =>
        def stats(v: Long): Option[(Long, Long, Long)] = {
          val xs = us.filter(_._1 / 8 == v).map(_._2)
          // an absent arm is NULL through the engine's max(when(...))
          if (xs.isEmpty) None
          else Some((xs.length.toLong, xs.sum, xs.map(x => x * x).sum))
        }
        val a0 = stats(0)
        val a1 = stats(1)
        def varm(sq: Long, sx: Long, n: Long) =
          (sq.toDouble - sx.toDouble * sx.toDouble / n) /
            math.max(n - 1.0, 1.0) / n
        val z = for {
          (n0, sx0, sq0) <- a0
          (n1, sx1, sq1) <- a1
          if n0 >= 2 && n1 >= 2
        } yield (sx1.toDouble / n1 - sx0.toDouble / n0) /
          math.sqrt(varm(sq1, sx1, n1) + varm(sq0, sx0, n0))
        (expId, a0.map(_._1), a1.map(_._1),
          a0.map(c => rd(c._2.toDouble / c._1, 6)),
          a1.map(c => rd(c._2.toDouble / c._1, 6)),
          z.map(rd(_, 6)), z.exists(v => math.abs(v) > 1.959963984540054))
      }
    def optL(r: org.apache.spark.sql.Row, i: Int): Option[Long] =
      if (r.isNullAt(i)) None else Some(r.getLong(i))
    def optD(r: org.apache.spark.sql.Row, i: Int): Option[Double] =
      if (r.isNullAt(i)) None else Some(r.getDouble(i))
    val got = Behavior.aaCalibration(spark, sf).collect()
      .map(r => (r.getLong(0), optL(r, 1), optL(r, 2), optD(r, 3),
        optD(r, 4), optD(r, 5), r.getBoolean(6))).toSeq.sortBy(_._1)
    got shouldBe expected
  }

  // -------------------------------------------------------------- tukey

  behavior of "Analytics.tukeyHsdPairs (q_tukey_hsd) vs scratch MSW"

  it should "match every pair's mean difference and q statistic" in {
    val groups = events
      .map(r => (r._2, cents(r._3)))
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (t, rs) =>
        (t, rs.length.toLong, rs.map(r => BigInt(r._2)).sum,
          rs.map(r => BigInt(r._2) * BigInt(r._2)).sum)
      }
    val nTot = groups.map(_._2).sum
    val gq = groups.map(_._4).sum
    val within = groups
      .map { case (_, n, sx, _) => (sx * sx).toDouble / n }
      .foldLeft(0.0)(_ + _)
    val msw = (gq.toDouble - within) / (nTot - groups.length)
    val expected = (for {
      i <- groups.indices; j <- i + 1 until groups.length
    } yield {
      val (ta, na, sxa, _) = groups(i)
      val (tb, nb, sxb, _) = groups(j)
      val md = sxa.toDouble / na - sxb.toDouble / nb
      (ta, tb, rd(md, 6),
        rd(math.abs(md) / math.sqrt(msw / 2.0 * (1.0 / na + 1.0 / nb)), 6))
    }).sortBy(r => (r._1, r._2))
    val got = Analytics.tukeyHsdPairs(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2),
        r.getDouble(3))).toSeq
    got shouldBe expected
  }

  // ------------------------------------------------------------- dr ate

  behavior of "Analytics.drAte (q_dr_ate) vs a scratch AIPW replay"

  it should "match both logit fits and the doubly-robust estimate" in {
    val rows = Tables.lineitem(spark, sf)
      .select("l_quantity", "l_discount", "l_returnflag").collect()
      .map { r =>
        val x = r.getDouble(0).toLong
        val t = if ((BigDecimal.valueOf(r.getDouble(1))
          .setScale(2, BigDecimal.RoundingMode.HALF_UP) * 100) >= 5) 1L
        else 0L
        val y = if (r.getString(2) == "R") 1L else 0L
        (x, t, y)
      }
    // census cells sorted ascending by x — the engines' fold order
    val cells = rows.groupBy(_._1).toSeq.sortBy(_._1).map { case (x, rs) =>
      (x.toDouble, rs.length.toDouble, rs.count(_._2 == 1L).toDouble,
        rs.filter(_._2 == 1L).count(_._3 == 1L).toDouble,
        rs.filter(_._2 == 0L).count(_._3 == 1L).toDouble)
    }
    val n = rows.length.toDouble
    val ntr = rows.count(_._2 == 1L).toLong
    def sig(v: Double) = 1.0 / (1.0 + math.exp(-v))
    // propensity: 2-param Fisher scoring, 8 iterations
    var be = Array(0.0, 0.0)
    for (_ <- 1 to Analytics.drIters) {
      val s = new Array[Double](5)
      for ((x, cnt, nt, _, _) <- cells) {
        val p = sig(be(0) + be(1) * x)
        s(0) += nt - cnt * p
        s(1) += (nt - cnt * p) * x
        s(2) += cnt * p * (1.0 - p)
        s(3) += cnt * p * (1.0 - p) * x
        s(4) += cnt * p * (1.0 - p) * x * x
      }
      val det = s(2) * s(4) - s(3) * s(3)
      be = Array(be(0) + (s(4) * s(0) - s(3) * s(1)) / det,
        be(1) + (s(2) * s(1) - s(3) * s(0)) / det)
    }
    // outcome: 3-param fit; per cell the t=0 arm then the t=1 arm
    var bo = Array(0.0, 0.0, 0.0)
    for (_ <- 1 to Analytics.drIters) {
      val s = new Array[Double](9)
      for ((x, cnt, nt, s1, s0) <- cells) {
        for ((cn, pos, tv) <- Seq((cnt - nt, s0, 0.0), (nt, s1, 1.0))) {
          val p = sig(bo(0) + bo(1) * tv + bo(2) * x)
          s(0) += pos - cn * p
          s(1) += (pos - cn * p) * tv
          s(2) += (pos - cn * p) * x
          s(3) += cn * p * (1.0 - p)
          s(4) += cn * p * (1.0 - p) * tv
          s(5) += cn * p * (1.0 - p) * x
          s(6) += cn * p * (1.0 - p) * tv * tv
          s(7) += cn * p * (1.0 - p) * tv * x
          s(8) += cn * p * (1.0 - p) * x * x
        }
      }
      val det = s(3) * (s(6) * s(8) - s(7) * s(7)) -
        s(4) * (s(4) * s(8) - s(7) * s(5)) +
        s(5) * (s(4) * s(7) - s(6) * s(5))
      bo = Array(
        bo(0) + ((s(6) * s(8) - s(7) * s(7)) * s(0) +
          (s(5) * s(7) - s(4) * s(8)) * s(1) +
          (s(4) * s(7) - s(5) * s(6)) * s(2)) / det,
        bo(1) + ((s(5) * s(7) - s(4) * s(8)) * s(0) +
          (s(3) * s(8) - s(5) * s(5)) * s(1) +
          (s(4) * s(5) - s(3) * s(7)) * s(2)) / det,
        bo(2) + ((s(4) * s(7) - s(5) * s(6)) * s(0) +
          (s(4) * s(5) - s(3) * s(7)) * s(1) +
          (s(3) * s(6) - s(4) * s(4)) * s(2)) / det)
    }
    var aipw = 0.0
    for ((x, cnt, nt, s1, s0) <- cells) {
      val mu1 = sig(bo(0) + bo(1) * 1.0 + bo(2) * x)
      val mu0 = sig(bo(0) + bo(1) * 0.0 + bo(2) * x)
      val e = sig(be(0) + be(1) * x)
      aipw += cnt * (mu1 - mu0) + (s1 - nt * mu1) / e -
        (s0 - (cnt - nt) * mu0) / (1.0 - e)
    }
    val row = Analytics.drAte(spark, sf).collect().head
    row.getAs[Long]("n") shouldBe rows.length.toLong
    row.getAs[Long]("n_treated") shouldBe ntr
    row.getAs[Double]("prop_beta_qty") shouldBe rd(be(1), 6)
    row.getAs[Double]("outcome_beta_t") shouldBe rd(bo(1), 6)
    row.getAs[Double]("outcome_beta_qty") shouldBe rd(bo(2), 6)
    row.getAs[Double]("ate_aipw") shouldBe rd(aipw / n, 6)
  }
}
