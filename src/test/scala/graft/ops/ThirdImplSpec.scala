package graft.ops

import graft.GraftTestBase
import graft.Scratch.{cents, eventRows, utcDate, variantOf}

import java.time.DayOfWeek
import java.time.temporal.TemporalAdjusters

/** THIRD-IMPLEMENTATION battery for the formula-dense statistics.
  *
  * The driver's oracle gate proves Spark and DuckDB AGREE — it is
  * structurally blind to a formula error MIRRORED into both engines,
  * which is exactly how the q_hubness extra-÷n shipped green for two
  * rounds (ADVICE r10, fixed r11). Each test here recomputes a
  * statistic from the RAW parquet rows with plain Scala collections —
  * no Spark expressions, no SQL, per-OBSERVATION loops instead of the
  * engines' cell-census folds wherever the classic textbook form
  * differs structurally — and pins the engine output to it.
  *
  * Chosen members: the two formulas MODIFIED this round (hoeffding D's
  * overflow re-plumbing, chow's degenerate guard) plus the deepest
  * formula chains in the battery (Cox Newton + Schoenfeld residual
  * rank-correlation, Mantel–Haenszel pooled OR + CMH, Kuiper's V,
  * Breusch–Pagan and Jarque–Bera off the shared OLS frame, and the
  * Holt–Winters recursion). sf0.001 keeps every collect() at
  * spec-scale (≤ 6k rows).
  */
class ThirdImplSpec extends GraftTestBase {

  private def epochSec(t: java.sql.Timestamp): Long =
    Math.floorDiv(t.getTime, 1000L)

  /** Daily order-revenue census in cents keyed by day index t (days
    * since the first order day), the base frame of chow/BP/JB. */
  private lazy val dailyRevenue: Vector[(Long, Long)] = {
    val rows = graft.Tables.orders(spark, sf)
      .select("o_orderdate", "o_totalprice").collect()
    val byDay = rows.groupBy(r => utcDate(r.getTimestamp(0)))
      .map { case (d, rs) => (d, rs.map(r => cents(r.getDouble(1))).sum) }
    val d0 = byDay.keys.min
    byDay.toVector
      .map { case (d, c) => (d.toEpochDay - d0.toEpochDay, c) }
      .sortBy(_._1)
  }

  behavior of "hoeffdingD (q_hoeffding_d) vs per-observation loops"

  it should "match the classic Hollander-Wolfe per-observation form" in {
    // the engine folds a 550-cell census with doubled/quadrupled
    // integer ranks; this is the textbook per-observation O(n^2) form
    // with half-credit midranks — structurally different code
    val rows = graft.Tables.lineitem(spark, sf)
      .select("l_discount", "l_quantity").collect()
    val xs = rows.map(r => cents(r.getDouble(0)))
    val ys = rows.map(r => r.getDouble(1).toLong)
    val n = xs.length
    var d1 = 0.0; var d2 = 0.0; var d3 = 0.0
    var i = 0
    while (i < n) {
      var xlt = 0L; var xeq = 0L; var ylt = 0L; var yeq = 0L
      var ll = 0L; var el = 0L; var le = 0L; var ee = 0L
      var j = 0
      while (j < n) {
        val cx = java.lang.Long.compare(xs(j), xs(i))
        val cy = java.lang.Long.compare(ys(j), ys(i))
        if (cx < 0) xlt += 1 else if (cx == 0) xeq += 1
        if (cy < 0) ylt += 1 else if (cy == 0) yeq += 1
        if (cx < 0 && cy < 0) ll += 1
        else if (cx == 0 && cy < 0) el += 1
        else if (cx < 0 && cy == 0) le += 1
        else if (cx == 0 && cy == 0) ee += 1
        j += 1
      }
      val r = xlt + (xeq + 1) * 0.5 // midrank incl self
      val s = ylt + (yeq + 1) * 0.5
      val q = 1.0 + ll + 0.5 * (el + le) + 0.25 * (ee - 1)
      d1 += (q - 1.0) * (q - 2.0)
      d2 += (r - 1.0) * (r - 2.0) * (s - 1.0) * (s - 2.0)
      d3 += (r - 2.0) * (s - 2.0) * (q - 1.0)
      i += 1
    }
    val nd = n.toDouble
    val dStat = 30.0 * ((nd - 2) * (nd - 3) * d1 + d2 - 2 * (nd - 2) * d3) /
      (nd * (nd - 1) * (nd - 2) * (nd - 3) * (nd - 4))
    val r = Analytics.hoeffdingD(spark, sf).head()
    r.getAs[Long]("n_rows") shouldBe n.toLong
    r.getAs[Double]("hoeffding_d") shouldBe (dStat +- 1e-6)
  }

  behavior of "chowTest (q_chow) vs scratch segment OLS"

  it should "match pooled/pre/post SSRs recomputed from raw orders" in {
    val np = dailyRevenue.length
    val span = dailyRevenue.map(_._1).max // dmin-based index, dmax = span
    def ssr(seg: Vector[(Long, Long)]): Double = {
      val n = BigInt(seg.length)
      val st = seg.map(e => BigInt(e._1)).sum
      val sy = seg.map(e => BigInt(e._2)).sum
      val sty = seg.map(e => BigInt(e._1) * BigInt(e._2)).sum
      val stt = seg.map(e => BigInt(e._1) * BigInt(e._1)).sum
      val syy = seg.map(e => BigInt(e._2) * BigInt(e._2)).sum
      ((n * syy - sy * sy).toDouble -
        (n * sty - st * sy).toDouble * (n * sty - st * sy).toDouble /
          (n * stt - st * st).toDouble) / n.toDouble
    }
    val pre = dailyRevenue.filter(_._1 < span / 2)
    val post = dailyRevenue.filter(_._1 >= span / 2)
    val f = (ssr(dailyRevenue) - ssr(pre) - ssr(post)) / 2.0 /
      ((ssr(pre) + ssr(post)) / (np.toDouble - 4.0))
    val r = TimeSeries.chowTest(spark, sf).head()
    r.getAs[Long]("n_days") shouldBe np.toLong
    r.getAs[Long]("n_pre") shouldBe pre.length.toLong
    r.getAs[Long]("n_post") shouldBe post.length.toLong
    r.getAs[Double]("chow_f") shouldBe (f +- 1e-3)
    r.getAs[Boolean]("break_95") shouldBe (f > 2.995732273553991)
  }

  behavior of "breuschPagan / jarqueBera (q_breusch_pagan, q_jarque_bera)"

  it should "match the aux regression and moment stats from scratch" in {
    val n = dailyRevenue.length
    val nb = BigInt(n)
    val st = dailyRevenue.map(e => BigInt(e._1)).sum
    val sy = dailyRevenue.map(e => BigInt(e._2)).sum
    val sty = dailyRevenue.map(e => BigInt(e._1) * BigInt(e._2)).sum
    val stt = dailyRevenue.map(e => BigInt(e._1) * BigInt(e._1)).sum
    val slope = (nb * sty - st * sy).toDouble / (nb * stt - st * st).toDouble
    val icept = sy.toDouble / n - slope * (st.toDouble / n)
    val resid = dailyRevenue.map { case (t, y) =>
      (t.toDouble, y.toDouble - (icept + slope * t.toDouble)) }
    val m = n.toDouble
    // Breusch-Pagan: e^2 on t
    val su = resid.map { case (_, e) => e * e }.sum
    val sut = resid.map { case (t, e) => e * e * t }.sum
    val suu = resid.map { case (_, e) => e * e * e * e }.sum
    val st1 = resid.map(_._1).sum
    val st2 = resid.map { case (t, _) => t * t }.sum
    val r2 = (m * sut - st1 * su) * (m * sut - st1 * su) /
      ((m * st2 - st1 * st1) * (m * suu - su * su))
    val bp = TimeSeries.breuschPagan(spark, sf).head()
    bp.getAs[Long]("n_days") shouldBe n.toLong
    bp.getAs[Double]("r2_aux") shouldBe (r2 +- 1e-5)
    bp.getAs[Double]("lm_stat") shouldBe (m * r2 +- 1e-3)
    bp.getAs[Boolean]("hetero_95") shouldBe (m * r2 > 3.841458820694124)
    // Jarque-Bera: skew/kurtosis of the same residuals
    val ebar = resid.map(_._2).sum / m
    val m2 = resid.map { case (_, e) => (e - ebar) * (e - ebar) }.sum / m
    val m3 = resid.map { case (_, e) =>
      (e - ebar) * (e - ebar) * (e - ebar) }.sum / m
    val m4 = resid.map { case (_, e) =>
      (e - ebar) * (e - ebar) * (e - ebar) * (e - ebar) }.sum / m
    val skew = m3 / math.sqrt(m2 * m2 * m2)
    val kurt = m4 / (m2 * m2)
    val jb = m * (skew * skew / 6.0 + (kurt - 3.0) * (kurt - 3.0) / 24.0)
    val jbr = TimeSeries.jarqueBera(spark, sf).head()
    jbr.getAs[Double]("resid_skew") shouldBe (skew +- 1e-5)
    jbr.getAs[Double]("resid_kurtosis") shouldBe (kurt +- 1e-5)
    jbr.getAs[Double]("jb_stat") shouldBe (jb +- 1e-3)
    jbr.getAs[Boolean]("nonnormal_95") shouldBe (jb > 5.991464547107979)
  }

  behavior of "mantelHaenszel (q_mantel_haenszel) vs scratch strata"

  it should "match pooled OR and continuity-corrected CMH chi2" in {
    val perUserWeek = eventRows
      .groupBy { case (ts, uid, _, _) =>
        (utcDate(ts).`with`(
          TemporalAdjusters.previousOrSame(DayOfWeek.MONDAY)), uid) }
      .map { case ((_, uid), es) =>
        val nEvents = es.length.toLong
        val conv = if (es.exists(_._3 == "purchase")) 1 else 0
        (variantOf(uid), math.min(nEvents / 5, 4L), conv) }
    val strata = perUserWeek.groupBy(_._2).map { case (stm, units) =>
      val a = units.count(u => u._1 == 1 && u._3 == 1).toLong
      val b = units.count(u => u._1 == 1 && u._3 == 0).toLong
      val c = units.count(u => u._1 == 0 && u._3 == 1).toLong
      val dd = units.count(u => u._1 == 0 && u._3 == 0).toLong
      (stm, a, b, c, dd, a + b + c + dd)
    }.toVector.sortBy(_._1)
    val kept = strata.filter(_._6 >= 2)
    val orNum = kept.map { case (_, a, _, _, dd, n) =>
      (BigInt(a) * dd).toDouble / n.toDouble }.sum
    val orDen = kept.map { case (_, _, b, c, _, n) =>
      (BigInt(b) * c).toDouble / n.toDouble }.sum
    val sa = kept.map(_._2.toDouble).sum
    val se = kept.map { case (_, a, b, c, _, n) =>
      (BigInt(a + b) * (a + c)).toDouble / n.toDouble }.sum
    val sv = kept.map { case (_, a, b, c, dd, n) =>
      (BigInt(a + b) * (c + dd) * (a + c) * (b + dd)).toDouble /
        (n.toDouble * n * (n.toDouble - 1.0)) }.sum
    val chi = math.pow(math.max(math.abs(sa - se) - 0.5, 0.0), 2) / sv
    val r = Behavior.mantelHaenszel(spark, sf).head()
    r.getAs[Long]("n_strata") shouldBe strata.length.toLong
    r.getAs[Double]("or_mh") shouldBe (orNum / orDen +- 1e-4)
    r.getAs[Double]("log_or_mh") shouldBe (math.log(orNum / orDen) +- 1e-4)
    r.getAs[Double]("cmh_chi2") shouldBe (chi +- 1e-3)
    r.getAs[Boolean]("reject_95") shouldBe (chi > 3.841458820694124)
  }

  behavior of "kuiperTest (q_kuiper) vs scratch CDF extremes"

  it should "match D+, D-, V and the Stephens flag" in {
    val obs = eventRows.filter(_._3 == "purchase")
      .map { case (_, uid, _, v) => (variantOf(uid), cents(v)) }
    val na = obs.count(_._1 == 0).toLong
    val nbb = obs.count(_._1 == 1).toLong
    val byV = obs.groupBy(_._2).toVector.sortBy(_._1)
    var cumA = 0L; var cumB = 0L
    var dplus = 0L; var dminus = 0L
    // the gap frame pairs each value with its successor, so the last
    // value (gap 0 by construction) never contributes
    byV.dropRight(1).foreach { case (_, group) =>
      cumA += group.count(_._1 == 0)
      cumB += group.count(_._1 == 1)
      val gap = cumA * nbb - cumB * na
      if (gap > dplus) dplus = gap
      if (-gap > dminus) dminus = -gap
    }
    val scale = (na * nbb).toDouble
    val v = (dplus + dminus).toDouble / scale
    val r = Behavior.kuiperTest(spark, sf).head()
    r.getAs[Long]("n_a") shouldBe na
    r.getAs[Long]("n_b") shouldBe nbb
    r.getAs[Double]("d_plus") shouldBe (dplus.toDouble / scale +- 1e-5)
    r.getAs[Double]("d_minus") shouldBe (dminus.toDouble / scale +- 1e-5)
    r.getAs[Double]("v_stat") shouldBe (v +- 1e-5)
    r.getAs[Boolean]("differs_95") shouldBe
      (v * math.sqrt(scale / (na + nbb).toDouble) > 1.747)
  }

  behavior of "coxPh + schoenfeldPh vs a scratch Breslow fit"

  /** The survival cohort from raw rows: (arm, duration hours,
    * converted), censoring at study end. */
  private lazy val survCohort: Vector[(Int, Long, Boolean)] = {
    val tEnd = eventRows.map(e => epochSec(e._1)).max
    eventRows.groupBy(_._2).flatMap { case (uid, es) =>
      val t0 = es.filter(_._3 == "signup").map(e => epochSec(e._1))
        .minOption
      val tp = es.filter(_._3 == "purchase").map(e => epochSec(e._1))
        .minOption
      t0.map { s0 =>
        val converted = tp.exists(_ >= s0)
        val dur = if (converted) (tp.get - s0) / 3600L
                  else (tEnd - s0) / 3600L
        (variantOf(uid), dur, converted)
      }
    }.toVector
  }

  /** (d1, dt, n1, n0) per event time, duplicated logic built from the
    * raw rows. */
  private lazy val coxFrame: (Vector[(Long, Long, Long, Long)], Long, Long) = {
    val perUser = survCohort
    val eventTimes = perUser.filter(_._3).map(_._2).distinct.sorted
    val frame = eventTimes.map { t =>
      val d1 = perUser.count(u => u._3 && u._2 == t && u._1 == 1).toLong
      val dt = perUser.count(u => u._3 && u._2 == t).toLong
      val n1 = perUser.count(u => u._1 == 1 && u._2 >= t).toLong
      val n0 = perUser.count(u => u._1 == 0 && u._2 >= t).toLong
      (d1, dt, n1, n0)
    }
    (frame, perUser.count(u => u._3 && u._1 == 1).toLong,
      perUser.count(_._3).toLong)
  }

  private def coxU(frame: Vector[(Long, Long, Long, Long)], b: Double) =
    frame.foldLeft(0.0) { case (acc, (d1, dt, n1, n0)) =>
      acc + d1.toDouble -
        dt.toDouble * (n1.toDouble * math.exp(b)) /
          (n1.toDouble * math.exp(b) + n0.toDouble) }
  private def coxI(frame: Vector[(Long, Long, Long, Long)], b: Double) =
    frame.foldLeft(0.0) { case (acc, (_, dt, n1, n0)) =>
      acc + dt.toDouble * (n1.toDouble * math.exp(b)) * n0.toDouble /
        math.pow(n1.toDouble * math.exp(b) + n0.toDouble, 2) }

  it should "match beta, SE, Wald z and score z" in {
    val (frame, events1, events) = coxFrame
    var b = 0.0
    (1 to Behavior.coxIters).foreach(_ => b += coxU(frame, b) / coxI(frame, b))
    val r = Behavior.coxPh(spark, sf).head()
    r.getAs[Long]("events1") shouldBe events1
    r.getAs[Long]("events") shouldBe events
    r.getAs[Double]("beta_hat") shouldBe (b +- 1e-5)
    r.getAs[Double]("hazard_ratio") shouldBe (math.exp(b) +- 1e-5)
    r.getAs[Double]("se_beta") shouldBe
      (1.0 / math.sqrt(coxI(frame, b)) +- 1e-5)
    r.getAs[Double]("wald_z") shouldBe (b * math.sqrt(coxI(frame, b)) +- 1e-3)
    r.getAs[Double]("score_z") shouldBe
      (coxU(frame, 0.0) / math.sqrt(coxI(frame, 0.0)) +- 1e-3)
  }

  it should "match the Schoenfeld rank correlation and z" in {
    val (frame, _, _) = coxFrame
    var b = 0.0
    (1 to Behavior.coxIters).foreach(_ => b += coxU(frame, b) / coxI(frame, b))
    val resid = frame.map { case (d1, dt, n1, n0) =>
      d1.toDouble - dt.toDouble * (n1.toDouble * math.exp(b)) /
        (n1.toDouble * math.exp(b) + n0.toDouble) }
    val m = resid.length.toDouble
    val sr = resid.sum
    val srr = resid.map(x => x * x).sum
    val sir = resid.zipWithIndex.map { case (x, i) => (i + 1) * x }.sum
    val si = m * (m + 1) / 2
    val sii = m * (m + 1) * (2 * m + 1) / 6
    val corr = (m * sir - si * sr) /
      math.sqrt((m * sii - si * si) * (m * srr - sr * sr))
    val z = corr * math.sqrt(m - 2) / math.sqrt(1 - corr * corr)
    val r = Behavior.schoenfeldPh(spark, sf).head()
    r.getAs[Long]("n_event_times") shouldBe resid.length.toLong
    r.getAs[Double]("beta_hat") shouldBe (b +- 1e-5)
    r.getAs[Double]("rank_corr") shouldBe (corr +- 1e-4)
    r.getAs[Double]("z_stat") shouldBe (z +- 1e-3)
    r.getAs[Boolean]("ph_holds_95") shouldBe (math.abs(z) < 1.959963984540054)
  }

  behavior of "logRank / rmst vs scratch survival recomputations"

  it should "match O-E, the hypergeometric variance and z" in {
    val (frame, events1, events) = coxFrame
    val e1 = frame.map { case (_, dt, n1, n0) =>
      dt.toDouble * n1 / (n1 + n0) }.sum
    val v = frame.map { case (_, dt, n1, n0) =>
      val nt = n1 + n0
      if (nt > 1)
        dt.toDouble * (n1.toDouble / nt) * (n0.toDouble / nt) *
          ((nt - dt).toDouble / (nt - 1))
      else 0.0 }.sum
    val z = (events1 - e1) / math.sqrt(v)
    val r = Behavior.logRank(spark, sf).head()
    r.getAs[Long]("size1") shouldBe survCohort.count(_._1 == 1).toLong
    r.getAs[Long]("size0") shouldBe survCohort.count(_._1 == 0).toLong
    r.getAs[Long]("events1") shouldBe events1
    r.getAs[Long]("events0") shouldBe (events - events1)
    r.getAs[Double]("o_minus_e") shouldBe (events1 - e1 +- 1e-4)
    r.getAs[Double]("z_stat") shouldBe (z +- 1e-4)
    r.getAs[Boolean]("significant_95") shouldBe
      (math.abs(z) > 1.959963984540054)
  }

  it should "match the restricted-mean survival integral at tau" in {
    val tau = Behavior.rmstTauH
    // POOLED census over every distinct duration (censor-only hours
    // keep d = 0 but still close intervals)
    val times = survCohort.map(_._2).distinct.sorted
    var sKm = 1.0; var tPrev = 0L; var area = 0.0
    times.foreach { t =>
      val tc = math.min(t, tau)
      if (tc > tPrev) { area += sKm * (tc - tPrev); tPrev = tc }
      if (t <= tau) {
        val d = survCohort.count(u => u._3 && u._2 == t)
        val nRisk = survCohort.count(_._2 >= t)
        sKm *= 1.0 - d.toDouble / nRisk
      }
    }
    val rmstH = area + sKm * (tau - tPrev)
    val r = Behavior.rmst(spark, sf).head()
    r.getAs[Long]("n_times") shouldBe times.length.toLong
    r.getAs[Long]("tau_h") shouldBe tau
    r.getAs[Double]("rmst_h") shouldBe (rmstH +- 1e-3)
    r.getAs[Double]("s_at_tau") shouldBe (sKm +- 1e-5)
  }

  behavior of "brunnerMunzel (q_brunner_munzel) vs per-observation midranks"

  it should "match p-hat, W and the Welch-like df" in {
    val obs = eventRows.filter(_._3 == "purchase")
      .map { case (_, uid, _, v) => (variantOf(uid), cents(v)) }
    val a = obs.filter(_._1 == 0).map(_._2)
    val b = obs.filter(_._1 == 1).map(_._2)
    val m = a.length.toDouble; val n = b.length.toDouble
    val pooled = a ++ b
    def midrank(x: Long, in: Array[Long]): Double =
      in.count(_ < x) + (in.count(_ == x) + 1) * 0.5
    val rA = a.map(x => midrank(x, pooled))      // pooled midranks, arm A
    val rB = b.map(x => midrank(x, pooled))
    val rAa = a.map(x => midrank(x, a))          // within-arm midranks
    val rBb = b.map(x => midrank(x, b))
    val rbar1 = rA.sum / m; val rbar2 = rB.sum / n
    val s1 = rA.zip(rAa).map { case (r, ra) =>
      val t = r - ra - rbar1 + (m + 1) / 2; t * t }.sum / (m - 1)
    val s2 = rB.zip(rBb).map { case (r, rb) =>
      val t = r - rb - rbar2 + (n + 1) / 2; t * t }.sum / (n - 1)
    val core = m * s1 + n * s2
    val w = m * n * (rbar2 - rbar1) / ((m + n) * math.sqrt(core))
    val df = core * core /
      ((m * s1) * (m * s1) / (m - 1) + (n * s2) * (n * s2) / (n - 1))
    val r = Behavior.brunnerMunzel(spark, sf).head()
    r.getAs[Long]("n_a") shouldBe a.length.toLong
    r.getAs[Long]("n_b") shouldBe b.length.toLong
    r.getAs[Double]("p_hat") shouldBe ((rbar2 - (n + 1) / 2) / m +- 1e-5)
    r.getAs[Double]("bm_w") shouldBe (w +- 1e-4)
    r.getAs[Double]("df") shouldBe (df +- 0.05)
    r.getAs[Boolean]("differs_95") shouldBe
      (math.abs(w) > 1.959963984540054)
  }

  behavior of "andersonDarling (q_anderson_darling) vs Scholz-Stephens eq. 3"

  it should "match the tie-adjusted two-sample A2" in {
    val obs = eventRows.filter(_._3 == "purchase")
      .map { case (_, uid, _, v) => (variantOf(uid), cents(v)) }
    val na = obs.count(_._1 == 0).toDouble
    val nbb = obs.count(_._1 == 1).toDouble
    val nTot = na + nbb
    val blocks = obs.groupBy(_._2).toVector.sortBy(_._1)
    // eq. 3 with k = 2, both sample terms summed explicitly
    var cum0 = 0.0; var cum1 = 0.0; var cumT = 0.0; var a2 = 0.0
    blocks.foreach { case (_, group) =>
      val l = group.length.toDouble
      cum0 += group.count(_._1 == 0); cum1 += group.count(_._1 == 1)
      cumT += l
      if (cumT < nTot) {
        val t0 = nTot * cum0 - na * cumT
        val t1 = nTot * cum1 - nbb * cumT
        a2 += (1.0 / na) * (l / nTot) * t0 * t0 / (cumT * (nTot - cumT)) +
          (1.0 / nbb) * (l / nTot) * t1 * t1 / (cumT * (nTot - cumT))
      }
    }
    val r = Behavior.andersonDarling(spark, sf).head()
    r.getAs[Long]("n_a") shouldBe na.toLong
    r.getAs[Long]("n_b") shouldBe nbb.toLong
    r.getAs[Double]("ad_a2") shouldBe (a2 +- 1e-4)
    r.getAs[Boolean]("significant_95") shouldBe (a2 > 2.492)
  }

  behavior of "ipwAte (q_ipw_ate) vs a row-level logit fit + weighting"

  it should "match the propensity betas and all three estimates" in {
    val rows = graft.Tables.lineitem(spark, sf)
      .select("l_quantity", "l_discount", "l_returnflag").collect()
      .map { r =>
        (r.getDouble(0).toLong,
          if (cents(r.getDouble(1)) >= 5) 1L else 0L,
          if (r.getString(2) == "R") 1L else 0L) }
    val n = rows.length
    var b0 = 0.0; var b1 = 0.0
    (1 to Analytics.ipwIters).foreach { _ =>
      var u0 = 0.0; var u1 = 0.0; var i00 = 0.0; var i01 = 0.0; var i11 = 0.0
      rows.foreach { case (x, t, _) =>
        val p = 1.0 / (1.0 + math.exp(-(b0 + b1 * x)))
        u0 += t - p; u1 += (t - p) * x
        i00 += p * (1 - p); i01 += p * (1 - p) * x
        i11 += p * (1 - p) * x * x
      }
      val det = i00 * i11 - i01 * i01
      val nb0 = b0 + (i11 * u0 - i01 * u1) / det
      val nb1 = b1 + (i00 * u1 - i01 * u0) / det
      b0 = nb0; b1 = nb1
    }
    var ht1 = 0.0; var ht0 = 0.0; var w1 = 0.0; var w0 = 0.0
    rows.foreach { case (x, t, y) =>
      val p = 1.0 / (1.0 + math.exp(-(b0 + b1 * x)))
      if (t == 1) { ht1 += y / p; w1 += 1.0 / p }
      else { ht0 += y / (1 - p); w0 += 1.0 / (1 - p) }
    }
    val ntr = rows.count(_._2 == 1)
    val naive = rows.filter(_._2 == 1).map(_._3).sum.toDouble / ntr -
      rows.filter(_._2 == 0).map(_._3).sum.toDouble / (n - ntr)
    val r = Analytics.ipwAte(spark, sf).head()
    r.getAs[Long]("n") shouldBe n.toLong
    r.getAs[Long]("n_treated") shouldBe ntr.toLong
    r.getAs[Double]("beta0") shouldBe (b0 +- 1e-4)
    r.getAs[Double]("beta_quantity") shouldBe (b1 +- 1e-5)
    r.getAs[Double]("naive_diff") shouldBe (naive +- 1e-5)
    r.getAs[Double]("ate_ht") shouldBe ((ht1 - ht0) / n +- 1e-4)
    r.getAs[Double]("ate_hajek") shouldBe (ht1 / w1 - ht0 / w0 +- 1e-4)
  }

  behavior of "welchAnova / gamesHowellPairs (q_welch_anova, q_games_howell)"

  /** Per-event-type exact cents census (n, Σx, Σx²) shared by both. */
  private lazy val typeCensus: Vector[(String, Long, BigInt, BigInt)] =
    eventRows.groupBy(_._3).map { case (t, es) =>
      val cs = es.map(e => cents(e._4))
      (t, cs.length.toLong, cs.map(BigInt(_)).sum,
        cs.map(c => BigInt(c) * c).sum)
    }.toVector.sortBy(_._1)

  it should "match Welch's F and its Satterthwaite df" in {
    val k = typeCensus.length.toDouble
    def s2(n: Long, sx: BigInt, sq: BigInt) =
      (BigInt(n) * sq - sx * sx).toDouble / (n.toDouble * (n.toDouble - 1))
    val w = typeCensus.map { case (_, n, sx, sq) => n.toDouble / s2(n, sx, sq) }
    val mns = typeCensus.map { case (_, n, sx, _) => sx.toDouble / n }
    val sw = w.sum
    val swm = w.zip(mns).map { case (wi, mi) => wi * mi }.sum
    val anum = w.zip(mns).map { case (wi, mi) =>
      wi * (mi - swm / sw) * (mi - swm / sw) }.sum
    val cterm = w.zip(typeCensus).map { case (wi, (_, n, _, _)) =>
      (1.0 - wi / sw) * (1.0 - wi / sw) / (n.toDouble - 1) }.sum
    val f = (anum / (k - 1)) / (1.0 + 2.0 * (k - 2) / (k * k - 1) * cterm)
    val r = Analytics.welchAnova(spark, sf).head()
    r.getAs[Long]("k") shouldBe typeCensus.length.toLong
    r.getAs[Long]("n_total") shouldBe typeCensus.map(_._2).sum
    r.getAs[Double]("f_welch") shouldBe (f +- 1e-4)
    r.getAs[Double]("df2") shouldBe ((k * k - 1) / (3 * cterm) +- 0.02)
  }

  it should "match every Games-Howell pair's q and df" in {
    def von(n: Long, sx: BigInt, sq: BigInt) =
      (BigInt(n) * sq - sx * sx).toDouble /
        (n.toDouble * (n.toDouble - 1) * n.toDouble)
    val expect = (for {
      i <- typeCensus.indices; j <- (i + 1) until typeCensus.length
    } yield {
      val (ta, na, sxa, sqa) = typeCensus(i)
      val (tb, nb, sxb, sqb) = typeCensus(j)
      val va = von(na, sxa, sqa); val vb = von(nb, sxb, sqb)
      val md = sxa.toDouble / na - sxb.toDouble / nb
      (ta, tb, md, math.abs(md) / math.sqrt((va + vb) / 2),
        (va + vb) * (va + vb) /
          (va * va / (na - 1.0) + vb * vb / (nb - 1.0)))
    }).sortBy(p => (p._1, p._2))
    val rows = Analytics.gamesHowellPairs(spark, sf).collect()
    rows.length shouldBe expect.length
    rows.zip(expect).foreach { case (r, (ta, tb, md, q, df)) =>
      r.getAs[String]("ta") shouldBe ta
      r.getAs[String]("tb") shouldBe tb
      r.getAs[Double]("mean_diff") shouldBe (md +- 1e-4)
      r.getAs[Double]("q_gh") shouldBe (q +- 1e-4)
      r.getAs[Double]("df_welch") shouldBe (df +- 0.02)
    }
  }

  behavior of "archTest (q_arch) vs a scratch consecutive-pair regression"

  it should "match the e2-on-lagged-e2 LM statistic" in {
    val daily = eventRows.filter(_._3 == "purchase")
      .groupBy(e => utcDate(e._1))
      .map { case (d, es) => (d, es.map(e => cents(e._4)).sum) }
      .toVector.sortBy(_._1.toEpochDay)
    val n = daily.length
    val mu = daily.map(e => BigInt(e._2)).sum.toDouble / n
    var m = 0L; var su = 0.0; var sv = 0.0
    var suv = 0.0; var suu = 0.0; var svv = 0.0
    daily.sliding(2).foreach {
      case Vector((d0, y0), (d1, y1)) =>
        if (d1.toEpochDay - d0.toEpochDay == 1) {
          val u = (y0 - mu) * (y0 - mu); val v = (y1 - mu) * (y1 - mu)
          m += 1; su += u; sv += v; suv += u * v; suu += u * u; svv += v * v
        }
      case _ => ()
    }
    val md = m.toDouble
    val r2 = (md * suv - su * sv) * (md * suv - su * sv) /
      ((md * suu - su * su) * (md * svv - sv * sv))
    val r = TimeSeries.archTest(spark, sf).head()
    r.getAs[Long]("n_days") shouldBe n.toLong
    r.getAs[Long]("n_pairs") shouldBe m
    r.getAs[Double]("r2") shouldBe (r2 +- 1e-5)
    r.getAs[Double]("lm_stat") shouldBe (md * r2 +- 1e-3)
    r.getAs[Boolean]("arch_95") shouldBe (md * r2 > 3.841458820694124)
  }

  behavior of "poissonGlm (q_poisson_glm) vs a scratch Fisher-scoring fit"

  it should "match beta, deviance and Pearson dispersion" in {
    val rows = graft.Tables.orders(spark, sf)
      .select("o_orderdate").collect()
    val byDay = rows.groupBy(r => utcDate(r.getTimestamp(0)))
      .map { case (d, rs) => (d, rs.length.toLong) }
    val d0 = byDay.keys.min
    val cs = byDay.toVector
      .map { case (d, y) => (d.toEpochDay - d0.toEpochDay, y) }
      .sortBy(_._1)
    val n = cs.length; val sy = cs.map(_._2).sum
    var b0 = BigDecimal(math.log(sy.toDouble / n))
      .setScale(12, BigDecimal.RoundingMode.HALF_UP).toDouble
    var b1 = 0.0
    (1 to Analytics.poissonIters).foreach { _ =>
      var s0 = 0.0; var s1 = 0.0; var s2 = 0.0; var s3 = 0.0; var s4 = 0.0
      cs.foreach { case (t, y) =>
        val muT = math.exp(b0 + b1 * t)
        s0 += y - muT; s1 += (y - muT) * t
        s2 += muT; s3 += muT * t; s4 += muT * t * t
      }
      val det = s2 * s4 - s3 * s3
      val nb0 = b0 + (s4 * s0 - s3 * s1) / det
      val nb1 = b1 + (s2 * s1 - s3 * s0) / det
      b0 = nb0; b1 = nb1
    }
    var x2 = 0.0; var dev = 0.0
    cs.foreach { case (t, y) =>
      val muT = math.exp(b0 + b1 * t)
      x2 += (y - muT) * (y - muT) / muT
      dev += 2.0 * ((if (y > 0) y * math.log(y.toDouble / muT) else 0.0) -
        (y - muT))
    }
    val r = Analytics.poissonGlm(spark, sf).head()
    r.getAs[Long]("n_days") shouldBe n.toLong
    r.getAs[Long]("n_orders") shouldBe sy
    r.getAs[Double]("beta0") shouldBe (b0 +- 1e-5)
    r.getAs[Double]("beta_t") shouldBe (b1 +- 1e-6)
    r.getAs[Double]("deviance") shouldBe (dev +- 1e-2)
    r.getAs[Double]("dispersion") shouldBe (x2 / (n - 2.0) +- 1e-3)
  }

  behavior of "holtWinters (q_holt_winters) vs a scratch recursion"

  it should "match all seven holdout forecasts" in {
    val daily = eventRows.filter(_._3 == "purchase")
      .groupBy(e => utcDate(e._1))
      .map { case (d, es) =>
        (d, es.map(e => cents(e._4)).sum) }
      .toVector.sortBy(_._1.toEpochDay)
    val h = TimeSeries.hwHorizon; val m = TimeSeries.hwPeriod
    val al = TimeSeries.hwAlpha; val be = TimeSeries.hwBeta
    val ga = TimeSeries.hwGamma
    val (tr, te) = daily.splitAt(daily.length - h)
    val l0 = tr.take(m).map(_._2).sum.toDouble / m
    val b0 = (tr.slice(m, 2 * m).map(_._2).sum -
      tr.take(m).map(_._2).sum).toDouble / (m * m)
    var l = l0; var b = b0
    val sArr = tr.take(m).map(_._2.toDouble - l0).toArray
    var i = m
    tr.drop(m).foreach { case (_, c) =>
      val lnew = al * (c.toDouble - sArr(i % m)) + (1 - al) * (l + b)
      b = be * (lnew - l) + (1 - be) * b
      sArr(i % m) = ga * (c.toDouble - lnew) + (1 - ga) * sArr(i % m)
      l = lnew
      i += 1
    }
    val ntr = tr.length
    val fc = te.zipWithIndex.map { case ((day, actual), pos) =>
      (day, actual, l + (pos + 1) * b + sArr((ntr + pos) % m)) }
    val rows = TimeSeries.holtWinters(spark, sf).collect()
    rows.length shouldBe h
    rows.zip(fc).foreach { case (r, (day, actual, f)) =>
      r.getAs[java.sql.Date]("day").toLocalDate shouldBe day
      r.getAs[Long]("actual_cents") shouldBe actual
      r.getAs[Double]("forecast_cents") shouldBe (f +- 0.05)
      r.getAs[Double]("abs_err") shouldBe
        (math.abs(actual.toDouble - f) +- 0.05)
    }
  }
}
