package graft.ops

import graft.GraftTestBase
import graft.Tables
import graft.Scratch.{cents, rd, variantOf}

/** THIRD-IMPLEMENTATION battery, batch 26: the experimentation family.
  *
  * CUPED, the power planner, difference-in-differences, stratified ATE,
  * TOST equivalence, Wald's SPRT walk, quantile treatment effects and
  * the Poisson rate test all hang off the same md5-parity experiment
  * scaffold and pinned-formula chains in both engines. The scratch side
  * rebuilds the whole scaffold itself (own md5, own per-user
  * aggregates) and replays each statistic with plain loops — the SPRT
  * as an explicit user-ordered walk, percentile_disc as a sorted-index
  * lookup, the variance machinery from BigInt power sums.
  */
class ThirdImplSpec26 extends GraftTestBase {

  private lazy val rawEvents: Array[(Long, String, java.sql.Timestamp, Long)] =
    Tables.events(spark, sf)
      .select("user_id", "event_type", "ts", "value").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getTimestamp(2),
        cents(r.getDouble(3))))

  private val splitMs =
    java.time.Instant.parse("2024-01-16T00:00:00Z").toEpochMilli

  /** (variant, x=pre-split purchase cents, y=post-split) per user. */
  private lazy val cupedUsers: Seq[(Int, Long, Long)] =
    rawEvents.groupBy(_._1).toSeq.map { case (uid, rs) =>
      val x = rs.filter(r => r._2 == "purchase" && r._3.getTime < splitMs)
        .map(_._4).sum
      val y = rs.filter(r => r._2 == "purchase" && r._3.getTime >= splitMs)
        .map(_._4).sum
      (variantOf(uid), x, y)
    }

  // -------------------------------------------------------------- cuped

  behavior of "Behavior.cupedReadout (q_cuped) vs scratch covariance"

  it should "match theta, the adjusted means and variance reduction" in {
    val n = cupedUsers.length.toDouble
    val gsx = cupedUsers.map(u => BigInt(u._2)).sum
    val gsy = cupedUsers.map(u => BigInt(u._3)).sum
    val gsxy = cupedUsers.map(u => BigInt(u._2) * BigInt(u._3)).sum
    val gsxx = cupedUsers.map(u => BigInt(u._2) * BigInt(u._2)).sum
    val gsyy = cupedUsers.map(u => BigInt(u._3) * BigInt(u._3)).sum
    val covXY = (gsxy.toDouble - gsx.toDouble * gsy.toDouble / n) / n
    val varX = (gsxx.toDouble - gsx.toDouble * gsx.toDouble / n) / n
    val varY = (gsyy.toDouble - gsy.toDouble * gsy.toDouble / n) / n
    val theta = covXY / varX
    val xbar = gsx.toDouble / n
    val expected = cupedUsers.groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (v, us) =>
        val nv = us.length.toDouble
        val sy = us.map(u => BigInt(u._3)).sum.toDouble
        val sx = us.map(u => BigInt(u._2)).sum.toDouble
        (v, us.length.toLong, rd(sy / nv / 100.0, 6),
          rd((sy / nv - theta * (sx / nv - xbar)) / 100.0, 6),
          rd(theta, 6), rd(covXY * covXY / (varX * varY), 6))
      }
    val got = Behavior.cupedReadout(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5))).toSeq
    got shouldBe expected
  }

  // -------------------------------------------------------------- power

  behavior of "Behavior.powerAnalysis (q_power) vs scratch sample sizing"

  it should "match the per-arm n with and without CUPED" in {
    val n = cupedUsers.length.toDouble
    val a = cupedUsers.filter(_._1 == 0)
    val b = cupedUsers.filter(_._1 == 1)
    val gsx = cupedUsers.map(u => BigInt(u._2)).sum
    val gsy = cupedUsers.map(u => BigInt(u._3)).sum
    val gsxy = cupedUsers.map(u => BigInt(u._2) * BigInt(u._3)).sum
    val gsxx = cupedUsers.map(u => BigInt(u._2) * BigInt(u._2)).sum
    val gsyy = cupedUsers.map(u => BigInt(u._3) * BigInt(u._3)).sum
    val varY = (gsyy.toDouble - gsy.toDouble * gsy.toDouble / n) / n
    val covXY = (gsxy.toDouble - gsx.toDouble * gsy.toDouble / n) / n
    val varX = (gsxx.toDouble - gsx.toDouble * gsx.toDouble / n) / n
    val rho2 = covXY * covXY / (varX * varY)
    val delta = math.abs(
      b.map(u => BigInt(u._3)).sum.toDouble / b.length -
        a.map(u => BigInt(u._3)).sum.toDouble / a.length)
    val zsum2 = (Behavior.zAlpha2 + Behavior.zBeta) *
      (Behavior.zAlpha2 + Behavior.zBeta)
    val row = Behavior.powerAnalysis(spark, sf).collect().head
    row.getAs[Double]("observed_delta") shouldBe rd(delta / 100.0, 6)
    row.getAs[Double]("sd_y") shouldBe rd(math.sqrt(varY) / 100.0, 6)
    row.getAs[Long]("n_per_arm") shouldBe
      math.ceil(2.0 * zsum2 * varY / (delta * delta)).toLong
    row.getAs[Long]("n_per_arm_cuped") shouldBe
      math.ceil(2.0 * zsum2 * varY * (1.0 - rho2) / (delta * delta)).toLong
  }

  // ---------------------------------------------------------------- did

  behavior of "Behavior.diffInDiff (q_did) vs scratch cell means"

  it should "match the four cell means, DiD and its t" in {
    val cells = rawEvents
      .map(r => ((variantOf(r._1), r._3.getTime >= splitMs), r._4))
      .groupBy(_._1).view.mapValues { rs =>
        val n = rs.length.toLong
        val sx = rs.map(r => BigInt(r._2)).sum
        val sq = rs.map(r => BigInt(r._2) * BigInt(r._2)).sum
        (n, sx, sq)
      }.toMap
    def mean(v: Int, p: Boolean) = {
      val (n, sx, _) = cells((v, p)); sx.toDouble / n
    }
    val (t1, t2) = (mean(1, false), mean(1, true))
    val (c1, c2) = (mean(0, false), mean(0, true))
    val did = (t2 - t1) - (c2 - c1)
    // fold in the engines' (variant, p2)-sorted order
    val se = math.sqrt(cells.toSeq.sortBy(_._1).map { case (_, (n, sx, sq)) =>
      (sq.toDouble / n - (sx.toDouble / n) * (sx.toDouble / n)) / n
    }.foldLeft(0.0)(_ + _))
    val row = Behavior.diffInDiff(spark, sf).collect().head
    row.getAs[Double]("treat_pre") shouldBe rd(t1, 6)
    row.getAs[Double]("treat_post") shouldBe rd(t2, 6)
    row.getAs[Double]("ctrl_pre") shouldBe rd(c1, 6)
    row.getAs[Double]("ctrl_post") shouldBe rd(c2, 6)
    row.getAs[Double]("did_cents") shouldBe rd(did, 6)
    row.getAs[Double]("t_stat") shouldBe rd(did / se, 6)
  }

  // ------------------------------------------------------ stratified ATE

  behavior of "Behavior.stratifiedAte (q_strat_ate) vs scratch strata"

  it should "match the stratum-weighted and naive effects" in {
    val users = rawEvents.groupBy(_._1).toSeq.map { case (uid, rs) =>
      val y = rs.filter(_._2 == "purchase").map(_._4).sum
      val acts = rs.count(_._2 != "purchase").toLong
      (variantOf(uid), y, math.min(4L, acts / 5))
    }
    val cells = users.groupBy(_._3).toSeq.sortBy(_._1).map { case (st, us) =>
      (st, us.count(_._1 == 1).toLong, us.count(_._1 == 0).toLong,
        us.filter(_._1 == 1).map(_._2).sum, us.filter(_._1 == 0).map(_._2).sum)
    }
    val used = cells.filter(c => c._2 > 0 && c._3 > 0)
    val nUsed = used.map(c => c._2 + c._3).sum
    val ate = used.map { case (_, n1, n0, y1, y0) =>
      ((n1 + n0).toDouble / nUsed) * (y1.toDouble / n1 - y0.toDouble / n0)
    }.foldLeft(0.0)(_ + _)
    val n1t = cells.map(_._2).sum; val n0t = cells.map(_._3).sum
    val y1t = cells.map(_._4).sum; val y0t = cells.map(_._5).sum
    val row = Behavior.stratifiedAte(spark, sf).collect().head
    row.getAs[Long]("n_users") shouldBe (n1t + n0t)
    row.getAs[Long]("n_used") shouldBe nUsed
    row.getAs[Long]("n_strata") shouldBe used.length.toLong
    row.getAs[Double]("ate_cents") shouldBe rd(ate, 4)
    row.getAs[Double]("naive_cents") shouldBe
      rd(y1t.toDouble / n1t - y0t.toDouble / n0t, 4)
  }

  /** Per-user total purchase cents with variant (purchase-only users). */
  private lazy val purchaseUsers: Seq[(Int, Long)] =
    rawEvents.filter(_._2 == "purchase").groupBy(_._1).toSeq
      .map { case (uid, rs) => (variantOf(uid), rs.map(_._4).sum) }

  // --------------------------------------------------------------- tost

  behavior of "Behavior.tostEquivalence (q_tost) vs scratch z bounds"

  it should "match both one-sided z statistics and the verdict" in {
    def stats(v: Int) = {
      val xs = purchaseUsers.filter(_._1 == v).map(_._2)
      (xs.length.toLong, xs.map(BigInt(_)).sum,
        xs.map(x => BigInt(x) * BigInt(x)).sum)
    }
    val (n0, sx0, sq0) = stats(0)
    val (n1, sx1, sq1) = stats(1)
    def varm(sq: BigInt, sx: BigInt, n: Long) =
      (sq.toDouble - sx.toDouble * sx.toDouble / n) /
        math.max(n - 1.0, 1.0) / n
    val diff = sx1.toDouble / n1 - sx0.toDouble / n0
    val se = math.sqrt(varm(sq1, sx1, n1) + varm(sq0, sx0, n0))
    val z1 = (diff + Behavior.tostMarginCents) / se
    val z2 = (Behavior.tostMarginCents - diff) / se
    val crit = 1.6448536269514722
    val row = Behavior.tostEquivalence(spark, sf).collect().head
    row.getAs[Long]("n0") shouldBe n0
    row.getAs[Long]("n1") shouldBe n1
    row.getAs[Double]("diff_cents") shouldBe rd(diff, 6)
    row.getAs[Double]("se_cents") shouldBe rd(se, 6)
    row.getAs[Double]("z_lower") shouldBe rd(z1, 6)
    row.getAs[Double]("z_upper") shouldBe rd(z2, 6)
    row.getAs[Boolean]("equivalent_95") shouldBe
      (n0 >= 2 && n1 >= 2 && z1 > crit && z2 > crit)
  }

  // --------------------------------------------------------------- sprt

  behavior of "Behavior.sprtMonitor (q_sprt) vs an explicit Wald walk"

  it should "match the decision and the crossing point" in {
    val c1 = 0.22314355131420976
    val c0 = -0.1823215567939546
    val up = 2.9444389791664403
    val walk = rawEvents.groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (_, rs) =>
        if (rs.exists(r => r._2 == "purchase" && r._4 >= 15000L)) 1L else 0L
      }
    var k = 0L
    var hit1: Option[(Long, Long)] = None
    var hit0: Option[(Long, Long)] = None
    for ((x, i) <- walk.zipWithIndex) {
      k += x
      val n = i + 1L
      val llr = k.toDouble * c1 + (n - k).toDouble * c0
      if (llr >= up && hit1.isEmpty) hit1 = Some((n, k))
      if (llr <= -up && hit0.isEmpty) hit0 = Some((n, k))
    }
    val decision =
      if (hit1.isDefined && (hit0.isEmpty || hit1.get._1 < hit0.get._1))
        "accept_h1"
      else if (hit0.isDefined) "accept_h0"
      else "continue"
    val at = (hit1, hit0) match {
      case (Some(a), Some(b)) => Some(if (a._1 < b._1) a else b)
      case (Some(a), None)    => Some(a)
      case (None, Some(b))    => Some(b)
      case _                  => None
    }
    val row = Behavior.sprtMonitor(spark, sf).collect().head
    row.getAs[Long]("n_users") shouldBe walk.length.toLong
    row.getAs[Long]("k_total") shouldBe walk.sum
    row.getAs[String]("decision") shouldBe decision
    at match {
      case Some((n, kk)) =>
        row.getAs[Long]("n_at_decision") shouldBe n
        row.getAs[Long]("k_at_decision") shouldBe kk
      case None =>
        assert(row.isNullAt(row.fieldIndex("n_at_decision")))
    }
  }

  // ----------------------------------------------------------------- qte

  behavior of "Behavior.quantileTreatmentEffects (q_qte) vs sorted lookups"

  it should "match every decile's discrete quantiles and effects" in {
    val a = purchaseUsers.filter(_._1 == 0).map(_._2).sorted
    val b = purchaseUsers.filter(_._1 == 1).map(_._2).sorted
    def disc(xs: Seq[Long], q: Double): Long =
      xs(math.ceil(q * xs.length).toInt - 1)
    val expected = (1 to 9).map { i =>
      val (qa, qb) = (disc(a, i / 10.0), disc(b, i / 10.0))
      (a.length.toLong, b.length.toLong, i, qa, qb, qb - qa,
        rd((qb - qa).toDouble / math.max(qa, 1L), 6))
    }
    val got = Behavior.quantileTreatmentEffects(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getDouble(6))).toSeq
    got shouldBe expected
  }

  // ----------------------------------------------------------- rate test

  behavior of "Behavior.poissonRateTest (q_rate_test) vs scratch counts"

  it should "match the conditional z and the rate-ratio CI" in {
    val k1 = rawEvents.count(_._2 == "click").toLong
    val k2 = rawEvents.count(_._2 == "view").toLong
    val z = (k1 - k2).toDouble / math.sqrt((k1 + k2).toDouble)
    val ratio = k1.toDouble / k2
    val se = math.sqrt(1.0 / k1 + 1.0 / k2)
    val zc = 1.959963984540054
    val row = Behavior.poissonRateTest(spark, sf).collect().head
    row.getAs[Long]("k1") shouldBe k1
    row.getAs[Long]("k2") shouldBe k2
    row.getAs[Double]("rate_ratio") shouldBe rd(ratio, 6)
    row.getAs[Double]("ci_lo") shouldBe rd(ratio * math.exp(-se * zc), 6)
    row.getAs[Double]("ci_hi") shouldBe rd(ratio * math.exp(se * zc), 6)
    row.getAs[Double]("z_stat") shouldBe rd(z, 6)
    row.getAs[Boolean]("significant_95") shouldBe (math.abs(z) > zc)
  }
}
