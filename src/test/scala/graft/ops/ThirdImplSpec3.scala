package graft.ops

import graft.GraftTestBase
import graft.text.TextAnalysis
import graft.Scratch.{cents, dailyByType, utcDate}

/** THIRD-IMPLEMENTATION battery, batch 5 — the rater-agreement family
  * and the seasonality/complexity readouts (rationale in
  * [[ThirdImplSpec]]: the oracle gate proves engine agreement, not
  * formula truth; these recompute each statistic with per-observation
  * plain-Scala loops).
  *
  * Members: Fleiss' kappa and Cronbach's alpha (KR-20) over the three
  * quality screens — the screens' own outputs are taken as given (each
  * is independently oracle-graded) and the AGREEMENT algebra is redone
  * from per-doc votes; Kendall's W with textbook midranks instead of
  * the doubled-rank integer census; Cochran's Q; ICC(1) + design
  * effect; permutation entropy; and STL seasonal/trend strength.
  */
class ThirdImplSpec3 extends GraftTestBase {

  // ---- the three binary quality screens, as (doc_id -> 0/1) maps ----

  private lazy val screenVotes: Vector[(Long, Long, Long)] = {
    val r1 = TextAnalysis.qualityFilter(spark, sf)
      .select("doc_id", "keep").collect()
      .map(r => r.getLong(0) -> (if (r.getBoolean(1)) 1L else 0L)).toMap
    val r2 = TextAnalysis.lmScore(spark, sf)
      .select("doc_id", "cross_entropy").collect()
      .map(r => r.getLong(0) ->
        (if (r.getDouble(1) <= TextAnalysis.agreementCeMax) 1L else 0L))
      .toMap
    val r3 = graft.Tables.documents(spark, sf)
      .select("doc_id", "n_chars").collect()
      .map(r => r.getLong(0) ->
        (if (r.getLong(1) >= TextAnalysis.fleissLenMin) 1L else 0L)).toMap
    r1.keySet.intersect(r2.keySet).intersect(r3.keySet).toVector.sorted
      .map(id => (r1(id), r2(id), r3(id)))
  }

  behavior of "fleissKappa (q_fleiss) vs a per-doc vote recount"

  it should "match P-bar, P-e and kappa" in {
    val votes = screenVotes.map { case (a, b, c) => a + b + c }
    val n = votes.length.toDouble
    // per-item observed agreement among m=3 raters, textbook form:
    // P_i = [v(v-1) + (3-v)(3-v-1)] / (3*2)
    val pbar = votes.map { v =>
      (v * (v - 1) + (3 - v) * (2 - v)).toDouble / 6.0 }.sum / n
    val pk = votes.sum.toDouble / (3.0 * n)
    val pe = pk * pk + (1.0 - pk) * (1.0 - pk)
    val kappa = (pbar - pe) / (1.0 - pe)
    val r = TextAnalysis.fleissKappa(spark, sf).head()
    r.getAs[Long]("n_docs") shouldBe votes.length.toLong
    (0 to 3).foreach { v =>
      r.getAs[Long](s"v$v") shouldBe votes.count(_ == v).toLong }
    r.getAs[Double]("p_bar") shouldBe (pbar +- 1e-5)
    r.getAs[Double]("p_e") shouldBe (pe +- 1e-5)
    r.getAs[Double]("fleiss_kappa") shouldBe (kappa +- 1e-5)
  }

  behavior of "cronbachAlpha (q_cronbach) vs mean-deviation variances"

  it should "match alpha and all three drop-1 alphas" in {
    // population variances from explicit deviation loops (the engines
    // use the n-scaled integer identity n*s - s^2)
    def popVar(xs: Vector[Double]): Double = {
      val m = xs.sum / xs.length
      xs.map(x => (x - m) * (x - m)).sum / xs.length
    }
    def alpha(items: Vector[Vector[Double]]): Double = {
      val k = items.length.toDouble
      val tot = items.transpose.map(_.sum)
      (k / (k - 1.0)) * (1.0 - items.map(popVar).sum / popVar(tot))
    }
    val i1 = screenVotes.map(_._1.toDouble)
    val i2 = screenVotes.map(_._2.toDouble)
    val i3 = screenVotes.map(_._3.toDouble)
    val r = TextAnalysis.cronbachAlpha(spark, sf).head()
    r.getAs[Long]("n_docs") shouldBe screenVotes.length.toLong
    r.getAs[Long]("keep_cascade") shouldBe screenVotes.map(_._1).sum
    r.getAs[Long]("keep_lm") shouldBe screenVotes.map(_._2).sum
    r.getAs[Long]("keep_len") shouldBe screenVotes.map(_._3).sum
    r.getAs[Double]("alpha") shouldBe (alpha(Vector(i1, i2, i3)) +- 1e-5)
    r.getAs[Double]("alpha_drop_cascade") shouldBe
      (alpha(Vector(i2, i3)) +- 1e-5)
    r.getAs[Double]("alpha_drop_lm") shouldBe (alpha(Vector(i1, i3)) +- 1e-5)
    r.getAs[Double]("alpha_drop_len") shouldBe (alpha(Vector(i1, i2)) +- 1e-5)
  }

  behavior of "kendallW (q_kendall_w) vs textbook midranks"

  it should "match W and its chi-square link" in {
    val k = dailyByType.size
    val byDay = dailyByType.toVector
      .flatMap { case (et, ds) => ds.map { case (d, c) => (d, et, c) } }
      .groupBy(_._1).filter(_._2.length == k)
    val n = byDay.size
    // midranks within each complete day; R_j accumulates per type
    val rj = scala.collection.mutable.Map.empty[String, Double]
      .withDefaultValue(0.0)
    var st = 0L
    byDay.values.foreach { day =>
      val sorted = day.sortBy(_._3)
      day.foreach { case (_, et, c) =>
        val below = sorted.count(_._3 < c)
        val tied = sorted.count(_._3 == c)
        rj(et) += below + (tied + 1) * 0.5
      }
      day.groupBy(_._3).values.foreach { g =>
        val t = g.length.toLong; st += t * t * t - t
      }
    }
    val ssq = rj.values.map(x => x * x).sum
    val kd = k.toDouble; val nd = n.toDouble
    val w = (12.0 * ssq - 3.0 * nd * nd * kd * (kd + 1) * (kd + 1)) /
      (nd * nd * kd * (kd * kd - 1) - nd * st.toDouble)
    val r = Analytics.kendallW(spark, sf).head()
    r.getAs[Long]("k") shouldBe k.toLong
    r.getAs[Long]("n") shouldBe n.toLong
    r.getAs[Long]("tie_t") shouldBe st
    r.getAs[Double]("kendall_w") shouldBe (w +- 1e-5)
    r.getAs[Double]("chi2_w") shouldBe (nd * (kd - 1) * w +- 1e-3)
  }

  behavior of "cochranQ (q_cochran_q) vs per-user row/column totals"

  it should "match Q over the three related binary treatments" in {
    val types = Set("click", "view", "purchase")
    val rows = graft.Tables.events(spark, sf)
      .select("user_id", "event_type", "value").collect()
      .filter(r => types(r.getString(1)))
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) 0L else cents(r.getDouble(2))))
    // x per (user, type) pair PRESENT in events — absent pairs absent
    val flags = rows.groupBy(r => (r._1, r._2))
      .map { case ((u, t), g) => (u, t, if (g.exists(_._3 >= 20000L)) 1L else 0L) }
      .toVector
    val rTot = flags.groupBy(_._1).values.map(_.map(_._3).sum).toVector
    val cTot = flags.groupBy(_._2).values.map(_.map(_._3).sum).toVector
    val k = cTot.length.toLong
    val t = flags.map(_._3).sum
    val num = (k - 1) * (k * cTot.map(c => c * c).sum - t * t)
    val den = k * t - rTot.map(x => x * x).sum
    val r = Behavior.cochranQ(spark, sf).head()
    r.getAs[Int]("k") shouldBe k.toInt
    r.getAs[Long]("n_users") shouldBe rTot.length.toLong
    r.getAs[Long]("t_total") shouldBe t
    if (den == 0L) r.isNullAt(r.fieldIndex("q_stat")) shouldBe true
    else {
      val q = num.toDouble / den
      r.getAs[Double]("q_stat") shouldBe (q +- 1e-4)
      r.getAs[Boolean]("significant_95") shouldBe (q > 5.991464547107979)
    }
  }

  behavior of "iccDesignEffect (q_icc) vs the one-way ANOVA decomposition"

  it should "match MSB, MSW, ICC and DEFF" in {
    val obs = graft.Tables.events(spark, sf)
      .select("user_id", "event_type", "value").collect()
      .filter(_.getString(1) == "purchase")
      .map(r => (r.getLong(0) % 97, cents(r.getDouble(2)).toDouble))
    val sites = obs.groupBy(_._1).values.map(_.map(_._2).toVector).toVector
    val k = sites.length.toDouble
    val n = obs.length.toDouble
    val grand = obs.map(_._2).sum / n
    // textbook sums of squares from deviations, not the T^2/n identity
    val ssb = sites.map { g =>
      val m = g.sum / g.length; g.length * (m - grand) * (m - grand) }.sum
    val ssw = sites.map { g =>
      val m = g.sum / g.length; g.map(x => (x - m) * (x - m)).sum }.sum
    val msb = ssb / (k - 1)
    val msw = ssw / (n - k)
    val n0 = (n - sites.map(g => g.length.toDouble * g.length).sum / n) /
      (k - 1)
    val icc = (msb - msw) / (msb + (n0 - 1) * msw)
    val deff = 1.0 + (n / k - 1.0) * icc
    val r = Behavior.iccDesignEffect(spark, sf).head()
    r.getAs[Long]("k_sites") shouldBe sites.length.toLong
    r.getAs[Long]("n_obs") shouldBe obs.length.toLong
    (r.getAs[Double]("msb") / msb) shouldBe (1.0 +- 1e-9)
    (r.getAs[Double]("msw") / msw) shouldBe (1.0 +- 1e-9)
    r.getAs[Double]("icc") shouldBe (icc +- 1e-5)
    r.getAs[Double]("design_effect") shouldBe (deff +- 1e-3)
  }

  behavior of "permutationEntropy (q_perm_entropy) vs ordinal triples"

  it should "match the pattern census entropy per type" in {
    val res = TimeSeries.permutationEntropy(spark, sf).collect()
      .map(r => r.getAs[String]("event_type") -> r).toMap
    res.keySet shouldBe dailyByType.keySet
    dailyByType.foreach { case (et, ds) =>
      val v = ds.map(_._2)
      val pids = (0 until v.length - 2).map { i =>
        (if (v(i + 1) > v(i)) 4 else 0) +
          (if (v(i + 2) > v(i)) 2 else 0) +
          (if (v(i + 2) > v(i + 1)) 1 else 0)
      }
      val census = pids.groupBy(identity).view.mapValues(_.size).toMap
      val nw = pids.length.toDouble
      val ent = census.values.map { c =>
        -(c / nw) * math.log(c / nw) }.sum
      val r = res(et)
      r.getAs[Long]("n_windows") shouldBe pids.length.toLong
      r.getAs[Long]("n_patterns") shouldBe census.size.toLong
      r.getAs[Double]("entropy") shouldBe (ent +- 1e-5)
      r.getAs[Double]("norm_entropy") shouldBe (ent / math.log(6.0) +- 1e-5)
    }
  }

  behavior of "seasonalStrength (q_stl_strength) vs a scratch decomposition"

  it should "match Hyndman's F_s and F_t" in {
    val rows = graft.Tables.orders(spark, sf)
      .select("o_orderdate", "o_totalprice").collect()
    val daily = rows.groupBy(r => utcDate(r.getTimestamp(0)))
      .map { case (d, rs) => (d, rs.map(r => cents(r.getDouble(1))).sum) }
      .toVector.sortBy(_._1.toEpochDay)
    val centered = (3 until daily.length - 3).map { i =>
      val s7 = (i - 3 to i + 3).map(j => daily(j)._2).sum
      val (d, c) = daily(i)
      val dow = d.getDayOfWeek.getValue % 7 + 1 // Spark: 1=Sun..7=Sat
      (dow, c, 7 * c - s7)
    }
    val dowMean = centered.groupBy(_._1).view.mapValues { g =>
      g.map(_._3).sum.toDouble / (7.0 * g.length) }.toMap
    val dtr = centered.map(_._3.toDouble / 7.0)
    val rem = centered.map(e => e._3.toDouble / 7.0 - dowMean(e._1))
    val des = centered.map(e => e._2.toDouble - dowMean(e._1))
    def popVar(xs: Seq[Double]): Double = {
      val m = xs.sum / xs.length
      xs.map(x => (x - m) * (x - m)).sum / xs.length
    }
    val fs = math.max(0.0, 1.0 - popVar(rem) / popVar(dtr))
    val ft = math.max(0.0, 1.0 - popVar(rem) / popVar(des))
    val r = TimeSeries.seasonalStrength(spark, sf).head()
    r.getAs[Long]("n_days") shouldBe centered.length.toLong
    r.getAs[Double]("seasonal_strength") shouldBe (fs +- 1e-3)
    r.getAs[Double]("trend_strength") shouldBe (ft +- 1e-3)
  }
}
