package graft.ops

import graft.GraftTestBase
import graft.Tables
import graft.Scratch.{cents, md5hex, rd, utcDate}

/** THIRD-IMPLEMENTATION battery, batch 20: survival curves, the Markov
  * chain, meta-analysis, capture–recapture and the Gumbel fit.
  *
  * All five ship formula chains the two engines render from ONE shared
  * transcription (risk-set windows, power-iteration folds, Haldane
  * log-odds, Lincoln–Petersen, method-of-moments EVT) — the
  * mirrored-bug class. Scratch recomputations below rebuild each from
  * the raw parquet rows with per-observation loops and, where the
  * engines share a numeric RENDERING trick (Kaplan–Meier's
  * exp-sum-log), deliberately use the textbook form instead (the
  * running product) so the formula is pinned by a structurally
  * different computation.
  */
class ThirdImplSpec20 extends GraftTestBase {

  private def weekStart(ts: java.sql.Timestamp): java.time.LocalDate =
    utcDate(ts).`with`(java.time.temporal.TemporalAdjusters
      .previousOrSame(java.time.DayOfWeek.MONDAY))

  /** (dur_h, d, c) rows of the conversion survival experiment, sorted —
    * shared by the KM and Nelson–Aalen tests. */
  private lazy val survivalCensus: Seq[(Long, Long, Long)] = {
    val ev = Tables.events(spark, sf)
      .select("user_id", "event_type", "ts").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getTimestamp(2)))
    val tEnd = ev.map(_._3.getTime).max
    ev.groupBy(_._1).values.toSeq
      .flatMap { rs =>
        val t0 = rs.collect { case (_, "signup", t) => t.getTime }
          .sorted.headOption
        val tp = rs.collect { case (_, "purchase", t) => t.getTime }
          .sorted.headOption
        t0.map { s0 =>
          val conv = tp.exists(_ >= s0)
          val end = if (conv) tp.get else tEnd
          ((end / 1000 - s0 / 1000) / 3600, conv)
        }
      }
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (h, rs) =>
        (h, rs.count(_._2).toLong, rs.count(!_._2).toLong)
      }
  }

  // ------------------------------------------------------ Kaplan-Meier

  behavior of "Behavior.kaplanMeier (q_kaplan_meier) vs a scratch product"

  it should "match risk sets and the survival curve per event time" in {
    val total = survivalCensus.map { case (_, d, c) => d + c }.sum
    var atRisk = total
    var surv = 1.0
    val expected = survivalCensus.flatMap { case (h, d, c) =>
      val n = atRisk
      surv *= 1.0 - d.toDouble / n // textbook running product, NOT exp-sum-log
      atRisk -= d + c
      if (d > 0) Some((h, n, d, c, surv)) else None
    }
    val got = Behavior.kaplanMeier(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))
    got.length shouldBe expected.length
    for ((g, e) <- got.zip(expected)) {
      (g._1, g._2, g._3, g._4) shouldBe ((e._1, e._2, e._3, e._4))
      g._5 shouldBe rd(e._5, 6) +- 2e-6 // product vs exp-sum-log rendering
    }
  }

  // ------------------------------------------------------ Nelson-Aalen

  behavior of "Behavior.nelsonAalen (q_nelson_aalen) vs scratch hazard sums"

  it should "match the cumulative hazard and its variance" in {
    val total = survivalCensus.map { case (_, d, c) => d + c }.sum
    var atRisk = total
    var haz = 0.0
    var varHaz = 0.0
    val expected = survivalCensus.flatMap { case (h, d, c) =>
      val n = atRisk
      haz += d.toDouble / n
      varHaz += d.toDouble / (n.toDouble * n.toDouble)
      atRisk -= d + c
      if (d > 0) Some((h, n, d, rd(haz, 6), rd(varHaz, 6))) else None
    }
    val got = Behavior.nelsonAalen(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4))).toSeq
    got shouldBe expected
  }

  // ----------------------------------------------------------- markov

  behavior of "Behavior.markovStationary (q_markov) vs a scratch chain"

  it should "match the stationary vector after 8 power iterations" in {
    val types = Behavior.eventTypes
    val idx = types.zipWithIndex.toMap
    val ev = Tables.events(spark, sf)
      .select("user_id", "event_type", "ts", "event_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getTimestamp(2),
        r.getLong(3)))
    val n = Array.ofDim[Long](types.size, types.size)
    for ((_, rs) <- ev.groupBy(_._1)) {
      val path = rs.sortBy(r => (r._3.getTime, r._4)).map(_._2).toIndexedSeq
      for (i <- 1 until path.length)
        n(idx(path(i - 1)))(idx(path(i))) += 1
    }
    val p = Array.tabulate(types.size, types.size) { (i, j) =>
      // row sum folded left-to-right in the engines' type order
      val rs = types.indices.map(k => n(i)(k).toDouble).reduceLeft(_ + _)
      if (rs == 0.0) 0.2 else n(i)(j).toDouble / rs
    }
    var pi = Array.fill(types.size)(0.2)
    for (_ <- 1 to Behavior.markovIters)
      pi = Array.tabulate(types.size)(j =>
        types.indices.map(i => pi(i) * p(i)(j)).reduceLeft(_ + _))
    val expected = types.zipWithIndex
      .map { case (t, i) => (t, rd(pi(i), 6)) }.sortBy(_._1)
    val got = Behavior.markovStationary(spark, sf).collect()
      .map(r => (r.getString(0), r.getDouble(1))).toSeq
    got shouldBe expected
  }

  // ------------------------------------------------- meta fixed effect

  behavior of "Behavior.metaFixedEffect (q_meta_fixed) vs scratch pooling"

  it should "match the pooled OR, CI, Cochran Q and I-squared" in {
    val ev = Tables.events(spark, sf)
      .select("user_id", "event_type", "ts").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getTimestamp(2)))
    val cellRows = ev.groupBy(r => (weekStart(r._3), r._1)).toSeq
      .map { case ((wk, uid), rs) =>
        val conv = rs.exists(_._2 == "purchase")
        val variant =
          (java.lang.Long.parseLong(md5hex(uid.toString).take(15), 16)
            % 2).toInt
        (wk, variant, conv)
      }
    val weeks = cellRows.groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (_, rs) =>
        val a = rs.count(r => r._2 == 1 && r._3).toLong
        val b = rs.count(r => r._2 == 1 && !r._3).toLong
        val c = rs.count(r => r._2 == 0 && r._3).toLong
        val dd = rs.count(r => r._2 == 0 && !r._3).toLong
        (a, b, c, dd)
      }
    def y(w: (Long, Long, Long, Long)): Double = rd(math.log(
      ((2 * w._1 + 1) * (2 * w._4 + 1)).toDouble /
        ((2 * w._2 + 1) * (2 * w._3 + 1)).toDouble), 12)
    def wgt(w: (Long, Long, Long, Long)): Double =
      1.0 / (2.0 / (2 * w._1 + 1) + 2.0 / (2 * w._2 + 1) +
        2.0 / (2 * w._3 + 1) + 2.0 / (2 * w._4 + 1))
    val sw = weeks.map(wgt).foldLeft(0.0)(_ + _)
    val swy = weeks.map(w => wgt(w) * y(w)).foldLeft(0.0)(_ + _)
    val theta = swy / sw
    val q = weeks.map(w => wgt(w) * (y(w) - swy / sw) * (y(w) - swy / sw))
      .foldLeft(0.0)(_ + _)
    val z = 1.959963984540054
    val row = Behavior.metaFixedEffect(spark, sf).collect().head
    row.getAs[Long]("n_weeks") shouldBe weeks.length.toLong
    row.getAs[Double]("pooled_log_or") shouldBe rd(theta, 6)
    row.getAs[Double]("pooled_or") shouldBe rd(math.exp(theta), 6)
    row.getAs[Double]("ci_low") shouldBe
      rd(math.exp(theta - z / math.sqrt(sw)), 6)
    row.getAs[Double]("ci_high") shouldBe
      rd(math.exp(theta + z / math.sqrt(sw)), 6)
    row.getAs[Double]("cochran_q") shouldBe rd(q, 6)
    row.getAs[Double]("i_squared") shouldBe
      rd(math.max((q - (weeks.length - 1)) / q, 0.0), 6)
  }

  // ---------------------------------------------- capture-recapture

  behavior of "Behavior.captureRecapture (q_capture_recapture) vs scratch sets"

  it should "match the Chapman estimate from scratch week flags" in {
    val ev = Tables.events(spark, sf)
      .select("user_id", "ts").collect()
      .map(r => (r.getLong(0), weekStart(r.getTimestamp(1))))
    val w1 = java.time.LocalDate.parse("2024-01-01")
    val w2 = java.time.LocalDate.parse("2024-01-08")
    val users = ev.groupBy(_._1).view
      .mapValues(rs => (rs.exists(_._2 == w1), rs.exists(_._2 == w2)))
      .toMap
    val n1 = users.values.count(_._1).toLong
    val n2 = users.values.count(_._2).toLong
    val m = users.values.count(v => v._1 && v._2).toLong
    val nTrue = users.size.toLong
    val est = ((n1 + 1) * (n2 + 1)).toDouble / (m + 1) - 1.0
    val row = Behavior.captureRecapture(spark, sf).collect().head
    row.getAs[Long]("n1") shouldBe n1
    row.getAs[Long]("n2") shouldBe n2
    row.getAs[Long]("m_both") shouldBe m
    row.getAs[Long]("n_true") shouldBe nTrue
    row.getAs[Double]("n_hat") shouldBe rd(est, 4)
    row.getAs[Double]("rel_err") shouldBe
      rd(math.abs(est - nTrue) / nTrue, 4)
  }

  // ------------------------------------------------------------ gumbel

  behavior of "Analytics.gumbelMonthlyMax (q_gumbel) vs scratch moments"

  it should "match beta, mu and the 99th return level" in {
    val maxima = Tables.orders(spark, sf)
      .select("o_orderdate", "o_totalprice").collect()
      .map(r => (utcDate(r.getTimestamp(0)).withDayOfMonth(1),
        cents(r.getDouble(1))))
      .groupBy(_._1).values.map(_.map(_._2).max).toSeq
    val n = maxima.length
    val s1 = maxima.map(BigInt(_)).sum
    val s2 = maxima.map(m => BigInt(m) * BigInt(m)).sum
    val mean = s1.toDouble / n / 100.0
    val sd = math.sqrt((BigInt(n) * s2 - s1 * s1).toDouble /
      (n.toLong * (n - 1)).toDouble) / 100.0
    val gamma = 0.5772156649015329
    val s6p = 0.7796968012336793
    val beta = sd * s6p
    val row = Analytics.gumbelMonthlyMax(spark, sf).collect().head
    row.getAs[Long]("n_months") shouldBe n.toLong
    row.getAs[Double]("beta") shouldBe rd(beta, 6)
    row.getAs[Double]("mu") shouldBe rd(mean - gamma * beta, 6)
    row.getAs[Double]("return_level_p99") shouldBe
      rd(mean - gamma * beta - beta * math.log(-math.log(0.99)), 6)
  }
}
