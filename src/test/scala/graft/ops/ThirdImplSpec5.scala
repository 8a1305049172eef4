package graft.ops

import graft.GraftTestBase
import graft.Scratch.{cents, eventCents, utcDate, variantOf}

import java.time.ZoneOffset

/** THIRD-IMPLEMENTATION battery, batch 7 — the nonparametric rank
  * family end to end (rationale in [[ThirdImplSpec]]). The engines
  * compute every statistic here from value CENSUSES with doubled
  * midranks and range-partitioned prefix sums; these recompute each
  * from raw rows with textbook per-observation/per-pair loops, which
  * is exactly the structural diversity that catches a mirrored slip
  * in the census algebra.
  *
  * Members: Kolmogorov–Smirnov, Mann–Whitney U (direct pair wins),
  * Cliff's delta, Wilcoxon signed-rank, Cramér–von Mises, Ansari–
  * Bradley dispersion scores, Kruskal–Wallis + Dunn's post-hoc,
  * Spearman (min-rank convention), Hodges–Lehmann pseudo-median via
  * expanded Walsh sums, Friedman, the Wald–Wolfowitz runs test, and
  * Mood's median test.
  */
class ThirdImplSpec5 extends GraftTestBase {

  /** Purchase cents split by hash variant: (variant-0 sorted,
    * variant-1 sorted). */
  private lazy val (arm0, arm1): (Vector[Long], Vector[Long]) = {
    val p = eventCents.filter(_._3 == "purchase")
      .map(e => (variantOf(e._2), e._4))
    (p.filter(_._1 == 0).map(_._2).sorted.toVector,
      p.filter(_._1 == 1).map(_._2).sorted.toVector)
  }

  behavior of "ksTest (q_ks_test) vs a scratch ECDF scan"

  it should "match the D location, scaled D and the KS statistic" in {
    val n0 = arm0.length.toLong; val n1 = arm1.length.toLong
    val values = (arm0 ++ arm1).distinct.sorted
    var best = -1L; var bestV = 0L
    values.foreach { v =>
      val c0 = arm0.count(_ <= v).toLong
      val c1 = arm1.count(_ <= v).toLong
      val d = math.abs(c1 * n0 - c0 * n1)
      if (d > best) { best = d; bestV = v } // first max wins = min v
    }
    val ks = best.toDouble / (n0 * n1) *
      math.sqrt(n0.toDouble * n1 / (n0 + n1))
    val r = Behavior.ksTest(spark, sf).head()
    r.getAs[Long]("n0") shouldBe n0
    r.getAs[Long]("n1") shouldBe n1
    r.getAs[Long]("d_scaled") shouldBe best
    r.getAs[Double]("d_at_value") shouldBe (bestV / 100.0 +- 1e-9)
    r.getAs[Double]("ks_stat") shouldBe (ks +- 1e-9)
    r.getAs[Boolean]("significant_95") shouldBe (ks > Behavior.ksCrit95)
  }

  behavior of "mannWhitney (q_mannwhitney) vs direct pair wins"

  it should "match 2U1, the tie term and z" in {
    var u1x2 = 0L
    arm1.foreach { a => arm0.foreach { b =>
      if (a > b) u1x2 += 2 else if (a == b) u1x2 += 1 } }
    val tieSum = (arm0 ++ arm1).groupBy(identity).values
      .map { g => val t = g.size.toLong; t * t * t - t }.sum
    val n0 = arm0.length.toLong; val n1 = arm1.length.toLong
    val n = (n0 + n1).toDouble
    val z = (u1x2 / 2.0 - n0.toDouble * n1 / 2.0) /
      math.sqrt(n0.toDouble * n1 / 12.0 *
        ((n + 1.0) - tieSum / (n * (n - 1.0))))
    val r = Behavior.mannWhitney(spark, sf).head()
    r.getAs[Long]("n0") shouldBe n0
    r.getAs[Long]("n1") shouldBe n1
    r.getAs[Long]("u1_x2") shouldBe u1x2
    r.getAs[Long]("tie_sum") shouldBe tieSum
    r.getAs[Double]("z_stat") shouldBe (z +- 1e-6)
  }

  behavior of "cliffDelta (q_cliff_delta) vs direct win/loss counts"

  it should "match delta and its magnitude label" in {
    var wins = 0L; var losses = 0L
    arm1.foreach { a => arm0.foreach { b =>
      if (a > b) wins += 1 else if (a < b) losses += 1 } }
    val den = arm0.length.toLong * arm1.length
    val delta = (wins - losses).toDouble / den
    val r = Behavior.cliffDelta(spark, sf).head()
    r.getAs[Long]("delta_num") shouldBe (wins - losses)
    r.getAs[Double]("cliff_delta") shouldBe (delta +- 1e-9)
    val mag = if (math.abs(delta) < 0.147) "negligible"
      else if (math.abs(delta) < 0.330) "small"
      else if (math.abs(delta) < 0.474) "medium" else "large"
    r.getAs[String]("magnitude") shouldBe mag
  }

  behavior of "wilcoxonSignedRank (q_wilcoxon) vs textbook signed midranks"

  it should "match 2W+, the tie term and z" in {
    val split = java.time.LocalDateTime.parse("2024-01-16T00:00:00")
      .toInstant(ZoneOffset.UTC).getEpochSecond
    val diffs = eventCents.filter(_._3 == "purchase").groupBy(_._2).values
      .flatMap { es =>
        val (h1s, h2s) = es.partition(e =>
          Math.floorDiv(e._1.getTime, 1000L) < split)
        if (h1s.isEmpty || h2s.isEmpty) None
        else {
          val d = h2s.map(_._4).sum - h1s.map(_._4).sum
          if (d == 0L) None else Some(d)
        }
      }.toVector
    val byAbs = diffs.map(math.abs).sorted
    def midrankX2(ad: Long): Long = {
      val below = byAbs.count(_ < ad).toLong
      val tied = byAbs.count(_ == ad).toLong
      2 * below + tied + 1
    }
    val wpX2 = diffs.filter(_ > 0).map(d => midrankX2(math.abs(d))).sum
    val tieSum = byAbs.groupBy(identity).values
      .map { g => val t = g.size.toLong; t * t * t - t }.sum
    val n = diffs.length.toLong
    val muX2 = n * (n + 1) / 2
    val sig = math.sqrt(n.toDouble * (n + 1) * (2 * n + 1) / 24.0 -
      tieSum / 48.0)
    val z = (wpX2 - muX2).toDouble / 2.0 / sig
    val r = Behavior.wilcoxonSignedRank(spark, sf).head()
    r.getAs[Long]("n") shouldBe n
    r.getAs[Long]("wp_x2") shouldBe wpX2
    r.getAs[Long]("tie_sum") shouldBe tieSum
    r.getAs[Double]("z_stat") shouldBe (z +- 1e-6)
  }

  behavior of "cvmTest (q_cvm) vs a scratch ECDF-gap sum"

  it should "match T, E0[T] and the CvM z" in {
    val na = arm0.length.toLong; val nb = arm1.length.toLong
    val nn = (na + nb).toDouble
    var tScaled = BigInt(0)
    (arm0 ++ arm1).distinct.sorted.foreach { v =>
      val ca = arm0.count(_ <= v).toLong; val cb = arm1.count(_ <= v).toLong
      val cnt = arm0.count(_ == v).toLong + arm1.count(_ == v).toLong
      val dnum = BigInt(ca) * nb - BigInt(cb) * na
      tScaled += dnum * dnum * cnt
    }
    val t = tScaled.toDouble / (na.toDouble * nb * nn * nn)
    val et = 1.0 / 6.0 + 1.0 / (6.0 * nn)
    val vart = ((nn + 1.0) / (45.0 * nn * nn)) *
      ((4.0 * na * nb * nn - 3.0 * (na.toDouble * na + nb.toDouble * nb) -
        2.0 * na.toDouble * nb) / (4.0 * na.toDouble * nb))
    val z = (t - et) / math.sqrt(vart)
    val r = Behavior.cvmTest(spark, sf).head()
    r.getAs[Long]("n_a") shouldBe na
    r.getAs[Long]("n_b") shouldBe nb
    r.getAs[Double]("cvm_t") shouldBe (t +- 1e-7)
    r.getAs[Double]("cvm_e0") shouldBe (et +- 1e-7)
    r.getAs[Double]("cvm_z") shouldBe (z +- 1e-5)
    r.getAs[Boolean]("significant_95") shouldBe (z > 1.644853626951472)
  }

  behavior of "ansariBradley (q_ansari) vs per-position AB scores"

  it should "match W, its null mean and z" in {
    val all = (arm0.map((_, 0)) ++ arm1.map((_, 1))).sortBy(_._1)
    val n = all.length.toLong
    val h = (n + 1) / 2
    def score(r: Long): Long = if (r <= h) r else n + 1 - r
    // average AB score per tied block; W sums variant-0 observations
    val byValue = all.zipWithIndex.groupBy(_._1._1)
    var w = 0.0; var stot = 0L; var sa2 = 0.0
    byValue.foreach { case (_, g) =>
      val lo = g.map(_._2).min.toLong // 0-based start position
      val t = g.length.toLong
      val sumScores = (lo + 1 to lo + t).map(score).sum
      stot += sumScores
      val avg = sumScores.toDouble / t
      sa2 += t * avg * avg
      w += g.count(_._1._2 == 0) * avg
    }
    val n1 = arm0.length.toLong // the engine's t1 counts variant 0
    val n0b = n - n1
    val eW = n1.toDouble * stot / n
    val varW = (n1.toDouble * n0b) * (n * sa2 - stot.toDouble * stot) /
      (n.toDouble * n * (n - 1.0))
    val z = (w - eW) / math.sqrt(varW)
    val r = Behavior.ansariBradley(spark, sf).head()
    r.getAs[Long]("n_a") shouldBe n1
    r.getAs[Long]("n_b") shouldBe n0b
    (r.getAs[Double]("w_stat") / w) shouldBe (1.0 +- 1e-7)
    (r.getAs[Double]("e_w") / eW) shouldBe (1.0 +- 1e-7)
    r.getAs[Double]("ab_z") shouldBe (z +- 1e-5)
  }

  // ---- k-sample family over ALL event types ----

  private lazy val allByType: Map[String, Vector[Long]] =
    eventCents.groupBy(_._3).view.mapValues(_.map(_._4).toVector).toMap

  behavior of "kruskalWallis (q_kruskal) vs global textbook midranks"

  it should "match the tie-corrected H" in {
    val all = allByType.values.flatten.toVector.sorted
    val n = all.length.toDouble
    def midrank(v: Long): Double = {
      val below = lowerBound(all, v)
      val tied = upperBound(all, v) - below
      below + (tied + 1) * 0.5
    }
    val rg = allByType.view.mapValues(_.map(midrank).sum).toMap
    val tieSum = all.groupBy(identity).values
      .map { g => val t = g.size.toLong; t * t * t - t }.sum
    val h0 = 12.0 / (n * (n + 1)) * allByType.map { case (et, g) =>
      val r = rg(et); r * r / g.length }.sum - 3.0 * (n + 1)
    val h = h0 / (1.0 - tieSum / (n * n * n - n))
    val r = Behavior.kruskalWallis(spark, sf).head()
    r.getAs[Long]("k") shouldBe allByType.size.toLong
    r.getAs[Long]("n") shouldBe all.length.toLong
    r.getAs[Long]("tie_sum") shouldBe tieSum
    r.getAs[Double]("h_stat") shouldBe (h +- 1e-4)
  }

  behavior of "dunnPosthoc (q_dunn) vs pairwise mean-rank z's"

  it should "match every pair's mean-rank difference and z" in {
    val all = allByType.values.flatten.toVector.sorted
    val n = all.length.toDouble
    def midrank(v: Long): Double = {
      val below = lowerBound(all, v)
      val tied = upperBound(all, v) - below
      below + (tied + 1) * 0.5
    }
    val tieSum = all.groupBy(identity).values
      .map { g => val t = g.size.toLong; t * t * t - t }.sum
    val sig2 = n * (n + 1.0) / 12.0 - tieSum / (12.0 * (n - 1.0))
    val rbar = allByType.view
      .mapValues(g => g.map(midrank).sum / g.length).toMap
    val res = Behavior.dunnPosthoc(spark, sf).collect()
      .map(r => (r.getAs[String]("group_a"), r.getAs[String]("group_b")) -> r)
      .toMap
    val types = allByType.keys.toVector.sorted
    res.keySet shouldBe (for {
      i <- types.indices; j <- i + 1 until types.length
    } yield (types(i), types(j))).toSet
    res.foreach { case ((ga, gb), r) =>
      val diff = rbar(ga) - rbar(gb)
      val z = diff / math.sqrt(sig2 *
        (1.0 / allByType(ga).length + 1.0 / allByType(gb).length))
      r.getAs[Long]("n_a") shouldBe allByType(ga).length.toLong
      r.getAs[Long]("n_b") shouldBe allByType(gb).length.toLong
      r.getAs[Double]("mean_rank_diff") shouldBe (diff +- 1e-4)
      r.getAs[Double]("z_stat") shouldBe (z +- 1e-5)
      r.getAs[Boolean]("significant_bonf_95") shouldBe
        (math.abs(z) > 2.8070337683438007)
    }
  }

  private def lowerBound(sorted: Vector[Long], v: Long): Int = {
    var lo = 0; var hi = sorted.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (sorted(mid) < v) lo = mid + 1 else hi = mid
    }
    lo
  }
  private def upperBound(sorted: Vector[Long], v: Long): Int = {
    var lo = 0; var hi = sorted.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (sorted(mid) <= v) lo = mid + 1 else hi = mid
    }
    lo
  }

  // ---- lineitem rank family ----

  behavior of "spearmanPriceQty (q_spearman) vs per-observation min-ranks"

  it should "match rho per return flag" in {
    val rows = graft.Tables.lineitem(spark, sf)
      .select("l_returnflag", "l_extendedprice", "l_quantity").collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
    val res = Analytics.spearmanPriceQty(spark, sf).collect()
      .map(r => r.getAs[String]("l_returnflag") -> r).toMap
    rows.groupBy(_._1).foreach { case (flag, g) =>
      val ps = g.map(_._2).sorted; val qs = g.map(_._3).sorted
      def minRank(sorted: Array[Double], v: Double): Double = {
        var lo = 0; var hi = sorted.length
        while (lo < hi) {
          val mid = (lo + hi) >>> 1
          if (sorted(mid) < v) lo = mid + 1 else hi = mid
        }
        lo + 1.0
      }
      val rp = g.map(e => minRank(ps, e._2))
      val rq = g.map(e => minRank(qs, e._3))
      val n = g.length.toDouble
      val mp = rp.sum / n; val mq = rq.sum / n
      var sxx = 0.0; var syy = 0.0; var sxy = 0.0
      rp.indices.foreach { i =>
        sxx += (rp(i) - mp) * (rp(i) - mp)
        syy += (rq(i) - mq) * (rq(i) - mq)
        sxy += (rp(i) - mp) * (rq(i) - mq)
      }
      val rho = sxy / math.sqrt(sxx * syy)
      res(flag).getAs[Long]("n") shouldBe g.length.toLong
      res(flag).getAs[Double]("spearman_rho") shouldBe (rho +- 1e-9)
    }
  }

  behavior of "hodgesLehmannQty (q_hodges_lehmann) vs expanded Walsh sums"

  it should "match the pseudo-median per flag" in {
    val rows = graft.Tables.lineitem(spark, sf)
      .select("l_returnflag", "l_quantity").collect()
      .map(r => (r.getString(0), r.getDouble(1).toLong))
    val res = Analytics.hodgesLehmannQty(spark, sf).collect()
      .map(r => r.getAs[String]("l_returnflag") -> r).toMap
    rows.groupBy(_._1).foreach { case (flag, g) =>
      val v = g.map(_._2)
      val sums = scala.collection.mutable.ArrayBuffer.empty[Long]
      var i = 0
      while (i < v.length) {
        var j = i
        while (j < v.length) { sums += v(i) + v(j); j += 1 }
        i += 1
      }
      val sorted = sums.sorted
      val idx = (sorted.length + 1) / 2 - 1 // lower median, 0-based
      val hl = sorted(idx).toDouble / 2.0
      res(flag).getAs[Double]("hl_estimate") shouldBe (hl +- 1e-9)
    }
  }

  behavior of "friedmanTest (q_friedman) vs per-day midranks"

  it should "match the chi-square" in {
    val daily = eventCents.groupBy(e => (e._3, utcDate(e._1))).view
      .mapValues(_.map(_._4).sum).toMap
    val k = daily.keySet.map(_._1).size
    val byDay = daily.groupBy(_._1._2)
      .filter(_._2.size == k)
    val n = byDay.size.toDouble
    val rj = scala.collection.mutable.Map.empty[String, Double]
      .withDefaultValue(0.0)
    byDay.values.foreach { day =>
      val cs = day.values.toVector.sorted
      day.foreach { case ((et, _), c) =>
        val below = cs.count(_ < c); val tied = cs.count(_ == c)
        rj(et) += below + (tied + 1) * 0.5
      }
    }
    val chi2 = 12.0 * rj.values.map(x => x * x).sum /
      (n * k * (k + 1)) - 3.0 * n * (k + 1)
    val r = Analytics.friedmanTest(spark, sf).head()
    r.getAs[Long]("k") shouldBe k.toLong
    r.getAs[Long]("n") shouldBe byDay.size.toLong
    r.getAs[Double]("chi2_f") shouldBe (chi2 +- 1e-4)
  }

  behavior of "runsTestDaily (q_runs_test) vs a direct run count"

  it should "match runs, the split counts and z" in {
    val rows = graft.Tables.orders(spark, sf)
      .select("o_orderdate", "o_totalprice").collect()
      .map(r => (utcDate(r.getTimestamp(0)), cents(r.getDouble(1))))
    val daily = rows.groupBy(_._1).toVector.sortBy(_._1.toEpochDay)
      .map { case (d, g) => (d, g.map(_._2).sum) }
    val sorted = daily.map(_._2).sorted
    val med = sorted((sorted.length + 1) / 2 - 1) // percentile_disc(0.5)
    val signs = daily.filter(_._2 != med).map(_._2 > med)
    val nAbove = signs.count(identity).toLong
    val nBelow = signs.count(!_).toLong
    val runs = 1L + signs.indices.drop(1)
      .count(i => signs(i) != signs(i - 1))
    val nd = (nAbove + nBelow).toDouble
    val mu = 2.0 * nAbove * nBelow / nd + 1.0
    val z = (runs - mu) /
      math.sqrt((mu - 1.0) * (mu - 2.0) / (nd - 1.0))
    val r = TimeSeries.runsTestDaily(spark, sf).head()
    r.getAs[Long]("n_above") shouldBe nAbove
    r.getAs[Long]("n_below") shouldBe nBelow
    r.getAs[Long]("runs") shouldBe runs
    r.getAs[Double]("z") shouldBe (z +- 1e-5)
  }

  behavior of "moodMedianTest (q_mood_median) vs a scratch 2xk table"

  it should "match the global median and chi2" in {
    val all = eventCents.map(_._4).sorted
    val med = all((all.length + 1) / 2 - 1)
    val n = all.length.toDouble
    val groups = allByType
    val aTotal = groups.values.map(_.count(_ > med).toLong).sum
    val chi2 = groups.values.map { g =>
      val ng = g.length.toDouble
      val above = g.count(_ > med).toDouble
      val ea = ng * aTotal / n; val eb = ng * (n - aTotal) / n
      (above - ea) * (above - ea) / ea +
        ((ng - above) - eb) * ((ng - above) - eb) / eb
    }.sum
    val r = Behavior.moodMedianTest(spark, sf).head()
    r.getAs[Int]("k_groups") shouldBe groups.size
    r.getAs[Long]("n") shouldBe all.length.toLong
    r.getAs[Double]("median_value") shouldBe (med / 100.0 +- 1e-9)
    r.getAs[Long]("a_total") shouldBe aTotal
    r.getAs[Double]("chi2") shouldBe (chi2 +- 1e-4)
    r.getAs[Boolean]("significant_95") shouldBe (chi2 > 9.487729036781154)
  }
}
