package graft.ops

import graft.GraftTestBase
import graft.Scratch.{cents, utcDate}

/** THIRD-IMPLEMENTATION battery, batch 4 — econometrics and rank
  * statistics (see [[ThirdImplSpec]] for the rationale: the DuckDB
  * oracle proves the two engines AGREE, not that the shared formula is
  * RIGHT; these recompute each statistic from raw parquet rows with
  * per-observation plain-Scala loops, structurally unlike the engines'
  * exact-power-sum / census folds).
  *
  * Members: the unit-root chain (Dickey–Fuller, Lo–MacKinlay-free, and
  * Engle–Granger cointegration whose residual step composes the OLS and
  * DF machinery — exactly the depth where a mirrored slip would hide),
  * Granger's two-regressor F, the tie-corrected rank trio
  * (Mann–Kendall, Kendall tau-b via textbook pair loops instead of the
  * engines' contingency census, Jonckheere–Terpstra), the Kalman level
  * recursion, and the logit Newton fit re-solved per-ROW with Gaussian
  * elimination instead of the engines' cell-census adjugate.
  */
class ThirdImplSpec2 extends GraftTestBase {

  /** Daily order revenue in cents, day-sorted (values only — ADF and
    * friends lag over ORDER position, not calendar gaps). */
  private lazy val dailyCents: Vector[Long] = {
    val rows = graft.Tables.orders(spark, sf)
      .select("o_orderdate", "o_totalprice").collect()
    rows.groupBy(r => utcDate(r.getTimestamp(0)))
      .map { case (d, rs) => (d, rs.map(r => cents(r.getDouble(1))).sum) }
      .toVector.sortBy(_._1.toEpochDay).map(_._2)
  }

  /** Simple-OLS slope and t from per-observation centered deviations —
    * means first, then deviation products (the engines fold raw
    * decimal power sums; same math, different code path). */
  private def olsSlopeT(xs: Vector[Double], ys: Vector[Double])
      : (Double, Double) = {
    val n = xs.length.toDouble
    val xbar = xs.sum / n; val ybar = ys.sum / n
    var sxx = 0.0; var syy = 0.0; var sxy = 0.0
    xs.indices.foreach { i =>
      val dx = xs(i) - xbar; val dy = ys(i) - ybar
      sxx += dx * dx; syy += dy * dy; sxy += dx * dy
    }
    val beta = sxy / sxx
    val t = beta / math.sqrt(((syy - beta * sxy) / (n - 2.0)) / sxx)
    (beta, t)
  }

  behavior of "dickeyFuller (q_adf) vs scratch centered OLS"

  it should "match beta and the DF t-statistic" in {
    val xs = dailyCents.dropRight(1).map(_.toDouble)
    val ys = dailyCents.indices.drop(1)
      .map(i => (dailyCents(i) - dailyCents(i - 1)).toDouble).toVector
    val (beta, t) = olsSlopeT(xs, ys)
    val r = TimeSeries.dickeyFuller(spark, sf).head()
    r.getAs[Long]("n") shouldBe xs.length.toLong
    r.getAs[Double]("beta") shouldBe (beta +- 1e-5)
    r.getAs[Double]("t_stat") shouldBe (t +- 1e-4)
  }

  // ---- daily click/view counts off the raw events rows ----

  private lazy val dailyClickView: Vector[(Long, Long)] = {
    val rows = graft.Tables.events(spark, sf)
      .select("ts", "event_type").collect()
      .map(r => (utcDate(r.getTimestamp(0)), r.getString(1)))
    rows.groupBy(_._1).toVector.sortBy(_._1.toEpochDay).map { case (_, es) =>
      (es.count(_._2 == "click").toLong, es.count(_._2 == "view").toLong)
    }
  }

  behavior of "grangerCausality (q_granger) vs scratch 2-var OLS"

  it should "match both betas and the restriction F" in {
    val y = dailyClickView.indices.drop(1)
      .map(i => dailyClickView(i)._1.toDouble).toVector
    val x1 = dailyClickView.dropRight(1).map(_._1.toDouble)
    val x2 = dailyClickView.dropRight(1).map(_._2.toDouble)
    val n = y.length.toDouble
    val my = y.sum / n; val m1 = x1.sum / n; val m2 = x2.sum / n
    var cyy = 0.0; var c1y = 0.0; var c2y = 0.0
    var c11 = 0.0; var c22 = 0.0; var c12 = 0.0
    y.indices.foreach { i =>
      val dy = y(i) - my; val d1 = x1(i) - m1; val d2 = x2(i) - m2
      cyy += dy * dy; c1y += d1 * dy; c2y += d2 * dy
      c11 += d1 * d1; c22 += d2 * d2; c12 += d1 * d2
    }
    val det = c11 * c22 - c12 * c12
    val b1 = (c22 * c1y - c12 * c2y) / det
    val b2 = (c11 * c2y - c12 * c1y) / det
    val ssrU = cyy - b1 * c1y - b2 * c2y
    val ssrR = cyy - c1y * c1y / c11
    val f = (ssrR - ssrU) * (n - 3.0) / ssrU
    val r = TimeSeries.grangerCausality(spark, sf).head()
    r.getAs[Long]("n_obs") shouldBe y.length.toLong
    r.getAs[Double]("beta_clicks_lag") shouldBe (b1 +- 1e-5)
    r.getAs[Double]("beta_views_lag") shouldBe (b2 +- 1e-5)
    r.getAs[Double]("f_stat") shouldBe (f +- 1e-3)
    r.getAs[Boolean]("views_granger_cause_clicks_95") shouldBe
      (f > 4.225201273127478)
  }

  behavior of "cointegration (q_cointegration) vs scratch Engle-Granger"

  it should "match alpha, beta, gamma and the EG t-statistic" in {
    val a = dailyClickView.map(_._1.toDouble)
    val b = dailyClickView.map(_._2.toDouble)
    val n = a.length.toDouble
    val ma = a.sum / n; val mb = b.sum / n
    var sbb = 0.0; var sab = 0.0
    a.indices.foreach { i =>
      sbb += (b(i) - mb) * (b(i) - mb); sab += (b(i) - mb) * (a(i) - ma)
    }
    val beta = sab / sbb
    val alpha = ma - beta * mb
    val e = a.indices.map(i => a(i) - alpha - beta * b(i)).toVector
    val (gamma, t) = olsSlopeT(
      e.dropRight(1),
      e.indices.drop(1).map(i => e(i) - e(i - 1)).toVector)
    val r = TimeSeries.cointegration(spark, sf).head()
    r.getAs[Long]("n_days") shouldBe a.length.toLong
    r.getAs[Double]("beta") shouldBe (beta +- 1e-5)
    r.getAs[Double]("alpha") shouldBe (alpha +- 1e-4)
    r.getAs[Double]("gamma") shouldBe (gamma +- 1e-5)
    r.getAs[Double]("t_stat") shouldBe (t +- 1e-4)
    r.getAs[Boolean]("cointegrated_95") shouldBe (t < -3.37)
  }

  behavior of "mannKendall (q_mann_kendall) vs scratch pair loops"

  it should "match S, the tie-corrected variance and z per type" in {
    val rows = graft.Tables.events(spark, sf)
      .select("ts", "event_type", "value").collect()
      .map(r => (utcDate(r.getTimestamp(0)), r.getString(1),
        if (r.isNullAt(2)) None else Some(cents(r.getDouble(2)))))
    val byType = rows.groupBy(_._2)
    val res = TimeSeries.mannKendall(spark, sf).collect()
      .map(r => r.getAs[String]("event_type") -> r).toMap
    res.keySet shouldBe byType.keySet
    byType.foreach { case (et, es) =>
      // SQL-sum semantics: nulls skipped, all-null day -> NULL cents
      val daily: Vector[(java.time.LocalDate, Option[Long])] =
        es.groupBy(_._1).toVector.sortBy(_._1.toEpochDay)
          .map { case (d, g) =>
            val vs = g.flatMap(_._3)
            (d, if (vs.isEmpty) None else Some(vs.sum))
          }
      var sStat = 0L
      daily.indices.foreach { i =>
        (i + 1 until daily.length).foreach { j =>
          (daily(i)._2, daily(j)._2) match {
            case (Some(ci), Some(cj)) =>
              if (cj > ci) sStat += 1 else if (cj < ci) sStat -= 1
            case _ => // NULL compares contribute 0, as in both engines
          }
        }
      }
      val nD = daily.length.toLong
      // tie census groups NULL cents together (SQL GROUP BY semantics)
      val tt = daily.groupBy(_._2).values
        .map(g => { val t = g.length.toLong; t * (t - 1) * (2 * t + 5) })
        .sum
      val var18 = nD * (nD - 1) * (2 * nD + 5) - tt
      val r = res(et)
      r.getAs[Long]("n_days") shouldBe nD
      r.getAs[Long]("s_stat") shouldBe sStat
      r.getAs[Long]("var18") shouldBe var18
      if (var18 == 0L) r.isNullAt(r.fieldIndex("z")) shouldBe true
      else {
        val cc = if (sStat > 0) 1L else if (sStat < 0) -1L else 0L
        r.getAs[Double]("z") shouldBe
          ((sStat - cc).toDouble / math.sqrt(var18.toDouble / 18.0) +- 1e-5)
      }
    }
  }

  behavior of "kendallTauQtyDiscount (q_kendall) vs textbook pair loops"

  it should "match C, D and tau-b per return flag" in {
    val rows = graft.Tables.lineitem(spark, sf)
      .select("l_returnflag", "l_quantity", "l_discount").collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
    val res = Analytics.kendallTauQtyDiscount(spark, sf).collect()
      .map(r => r.getAs[String]("l_returnflag") -> r).toMap
    rows.groupBy(_._1).foreach { case (flag, g) =>
      val q = g.map(_._2); val dd = g.map(_._3)
      val n = g.length
      var conc = 0L; var disc = 0L; var tq = 0L; var td = 0L
      var i = 0
      while (i < n) {
        var j = i + 1
        while (j < n) {
          val cq = java.lang.Double.compare(q(i), q(j))
          val cd = java.lang.Double.compare(dd(i), dd(j))
          if (cq == 0) tq += 1
          if (cd == 0) td += 1
          if (cq != 0 && cd != 0) {
            if (cq * cd > 0) conc += 1 else disc += 1
          }
          j += 1
        }
        i += 1
      }
      val n0 = n.toLong * (n - 1) / 2
      val tau = (conc - disc).toDouble /
        (math.sqrt((n0 - tq).toDouble) * math.sqrt((n0 - td).toDouble))
      val r = res(flag)
      r.getAs[Long]("n") shouldBe n.toLong
      r.getAs[Double]("concordant") shouldBe conc.toDouble
      r.getAs[Double]("discordant") shouldBe disc.toDouble
      r.getAs[Double]("tau_b") shouldBe (tau +- 1e-6)
    }
  }

  behavior of "jonckheereTerpstra (q_jonckheere) vs per-pair wins"

  it should "match 2JT, its null mean and z" in {
    val gs = Vector("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
      "5-LOW")
    val rows = graft.Tables.orders(spark, sf)
      .select("o_orderpriority", "o_totalprice").collect()
      .map(r => (gs.indexOf(r.getString(0)), cents(r.getDouble(1))))
    val groups = (0 until 5).map(g => rows.filter(_._1 == g).map(_._2))
    var jt2 = 0L
    (0 until 5).foreach { gi =>
      (gi + 1 until 5).foreach { gj =>
        groups(gi).foreach { x =>
          groups(gj).foreach { yv =>
            if (yv > x) jt2 += 2 else if (yv == x) jt2 += 1
          }
        }
      }
    }
    val ni = groups.map(_.length.toLong)
    val n = ni.sum
    val e2 = (n * n - ni.map(m => m * m).sum) / 2
    val var4num = n * n * (2 * n + 3) -
      ni.map(m => m * m * (2 * m + 3)).sum
    val z = (jt2 - e2).toDouble / math.sqrt(var4num.toDouble / 18.0)
    val r = Analytics.jonckheereTerpstra(spark, sf).head()
    r.getAs[Long]("n") shouldBe n
    r.getAs[Long]("jt2") shouldBe jt2
    r.getAs[Long]("e2") shouldBe e2
    r.getAs[Double]("z_stat") shouldBe (z +- 1e-5)
    r.getAs[Boolean]("significant_95") shouldBe
      (math.abs(z) > 1.959963984540054)
    r.getAs[String]("direction") shouldBe
      (if (z > 0) "increasing" else "decreasing")
  }

  behavior of "kalmanLevel (q_kalman) vs a plain-Scala recursion"

  it should "match level, covariance, gain and last innovation" in {
    val rows = graft.Tables.events(spark, sf)
      .select("ts", "event_type", "value").collect()
      .filter(r => r.getString(1) == "purchase" && !r.isNullAt(2))
      .map(r => (utcDate(r.getTimestamp(0)), cents(r.getDouble(2))))
    val daily = rows.groupBy(_._1).toVector.sortBy(_._1.toEpochDay)
      .map { case (_, g) => g.map(_._2).sum / 100 } // BIGINT div
    val q = TimeSeries.kalmanQ; val rr = TimeSeries.kalmanR
    var l = daily.head.toDouble; var p = TimeSeries.kalmanP0
    var kg = 0.0; var innov = 0.0
    daily.tail.foreach { yv =>
      val pp = p + q
      kg = pp / (pp + rr)
      innov = yv.toDouble - l
      l = l + kg * innov
      p = (1.0 - kg) * pp
    }
    val r = TimeSeries.kalmanLevel(spark, sf).head()
    r.getAs[Long]("n_days") shouldBe daily.length.toLong
    r.getAs[Double]("level_dollars") shouldBe (l +- 1e-3)
    r.getAs[Double]("p_var") shouldBe (p +- 1e-4)
    r.getAs[Double]("gain") shouldBe (kg +- 1e-5)
    r.getAs[Double]("last_innovation") shouldBe (innov +- 1e-3)
  }

  behavior of "logisticRegression (q_logit) vs per-row Newton + Gauss"

  it should "match betas, deviances and McFadden R2" in {
    val rows = graft.Tables.lineitem(spark, sf)
      .select("l_discount", "l_quantity", "l_returnflag").collect()
      .map(r => (cents(r.getDouble(0)).toDouble, r.getDouble(1),
        if (r.getString(2) == "R") 1.0 else 0.0))
    val b = Array(0.0, 0.0, 0.0)
    (1 to Analytics.logitIters).foreach { _ =>
      val g = Array(0.0, 0.0, 0.0)
      val h = Array.ofDim[Double](3, 3)
      rows.foreach { case (x1, x2, y) =>
        val eta = b(0) + b(1) * x1 + b(2) * x2
        val p = 1.0 / (1.0 + math.exp(-eta))
        val w = p * (1.0 - p)
        val x = Array(1.0, x1, x2)
        var i = 0
        while (i < 3) {
          g(i) += (y - p) * x(i)
          var j = 0
          while (j < 3) { h(i)(j) += w * x(i) * x(j); j += 1 }
          i += 1
        }
      }
      // Gaussian elimination with partial pivoting (the engines use a
      // closed-form adjugate — deliberately different linear algebra)
      val m = Array.tabulate(3, 4)((i, j) => if (j < 3) h(i)(j) else g(i))
      (0 until 3).foreach { c =>
        val piv = (c until 3).maxBy(r0 => math.abs(m(r0)(c)))
        val tmp = m(c); m(c) = m(piv); m(piv) = tmp
        (c + 1 until 3).foreach { r0 =>
          val f = m(r0)(c) / m(c)(c)
          (c until 4).foreach(j => m(r0)(j) -= f * m(c)(j))
        }
      }
      val delta = new Array[Double](3)
      (2 to 0 by -1).foreach { i =>
        var acc = m(i)(3)
        (i + 1 until 3).foreach(j => acc -= m(i)(j) * delta(j))
        delta(i) = acc / m(i)(i)
      }
      (0 until 3).foreach(i => b(i) += delta(i))
    }
    var dev = 0.0
    rows.foreach { case (x1, x2, y) =>
      val p = 1.0 / (1.0 + math.exp(-(b(0) + b(1) * x1 + b(2) * x2)))
      dev += -2.0 * (y * math.log(p) + (1.0 - y) * math.log(1.0 - p))
    }
    val n = rows.length.toDouble
    val npos = rows.count(_._3 == 1.0).toDouble
    val dev0 = -2.0 * (npos * math.log(npos / n) +
      (n - npos) * math.log((n - npos) / n))
    val nCells = rows.map(r0 => (r0._1, r0._2)).distinct.length.toLong
    val r = Analytics.logisticRegression(spark, sf).head()
    r.getAs[Long]("n_rows") shouldBe rows.length.toLong
    r.getAs[Long]("n_pos") shouldBe npos.toLong
    r.getAs[Long]("n_cells") shouldBe nCells
    r.getAs[Double]("beta_intercept") shouldBe (b(0) +- 1e-4)
    r.getAs[Double]("beta_discount_pct") shouldBe (b(1) +- 1e-4)
    r.getAs[Double]("beta_quantity") shouldBe (b(2) +- 1e-4)
    r.getAs[Double]("deviance") shouldBe (dev +- 1e-2)
    r.getAs[Double]("null_deviance") shouldBe (dev0 +- 1e-2)
    r.getAs[Double]("mcfadden_r2") shouldBe (1.0 - dev / dev0 +- 1e-5)
  }
}
