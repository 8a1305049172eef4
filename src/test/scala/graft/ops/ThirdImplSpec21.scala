package graft.ops

import graft.GraftTestBase
import graft.Tables
import graft.Scratch.{cents, rd}

/** THIRD-IMPLEMENTATION battery, batch 21: multiple testing, conformal
  * prediction, the cluster jackknife, Mahalanobis distance and ECOD.
  *
  * Five more formula chains both engines transcribe from one source
  * (step-up thresholds, split-conformal quantile indexing,
  * leave-one-cluster-out pseudovalues, the 2×2 precision-matrix
  * quadratic form, per-dimension tail ECDFs) — each rebuilt below from
  * raw parquet rows with plain loops: exact-integer moments as BigInt,
  * sorted scans instead of windows, the quadratic form expanded by
  * hand rather than via the engines' shared cofactor rendering.
  */
class ThirdImplSpec21 extends GraftTestBase {

  // -------------------------------------------------------- BH screen

  behavior of "Analytics.bhFdrScreen (q_bh_fdr) vs a scratch step-up"

  it should "match every z, the ranking and the rejection front" in {
    val custNation = Tables.customer(spark, sf)
      .select("c_custkey", "c_nationkey").collect()
      .map(r => r.getAs[Number](0).longValue -> r.getAs[Number](1).intValue)
      .toMap
    val names = Tables.nation(spark, sf)
      .select("n_nationkey", "n_name").collect()
      .map(r => r.getAs[Number](0).intValue -> r.getString(1)).toMap
    val cells = Tables.orders(spark, sf)
      .select("o_custkey", "o_totalprice").collect()
      .map(r => (names(custNation(r.getAs[Number](0).longValue)),
        cents(r.getDouble(1)) >= 15000000L))
      .groupBy(_._1).toSeq
      .map { case (nm, rs) =>
        (nm, rs.length.toLong, rs.count(_._2).toLong)
      }
    val nn = cells.map(_._2).sum
    val kk = cells.map(_._3).sum
    val pg = kk.toDouble / nn
    val scored = cells.map { case (nm, n, k) =>
      (nm, n, k, (k.toDouble / n - pg) / math.sqrt(pg * (1.0 - pg) / n))
    }.sortBy { case (nm, _, _, z) => (-math.abs(z), nm) }
    // pinned BH critical values: the engines carry them as literals,
    // the scratch side re-derives each via its own Phi-inverse
    // (Acklam's rational approximation + one Halley refinement of the
    // standard-normal quantile) and checks the literals to 1e-9 before
    // using the exact step-up ranks
    def phiInvUpper(p: Double): Double = { // z with P(Z > z) = p
      val x = 1.0 - p
      val (a, b, c, dd) = (
        Array(-3.969683028665376e+01, 2.209460984245205e+02,
          -2.759285104469687e+02, 1.383577518672690e+02,
          -3.066479806614716e+01, 2.506628277459239e+00),
        Array(-5.447609879822406e+01, 1.615858368580409e+02,
          -1.556989798598866e+02, 6.680131188771972e+01,
          -1.328068155288572e+01),
        Array(-7.784894002430293e-03, -3.223964580411365e-01,
          -2.400758277161838e+00, -2.549732539343734e+00,
          4.374664141464968e+00, 2.938163982698783e+00),
        Array(7.784695709041462e-03, 3.224671290700398e-01,
          2.445134137142996e+00, 3.754408661907416e+00))
      val pl = 0.02425
      var z =
        if (x < pl) {
          val q = math.sqrt(-2 * math.log(x))
          (((((c(0) * q + c(1)) * q + c(2)) * q + c(3)) * q + c(4)) * q +
            c(5)) / ((((dd(0) * q + dd(1)) * q + dd(2)) * q + dd(3)) * q + 1)
        } else if (x <= 1 - pl) {
          val q = x - 0.5
          val r = q * q
          (((((a(0) * r + a(1)) * r + a(2)) * r + a(3)) * r + a(4)) * r +
            a(5)) * q /
            (((((b(0) * r + b(1)) * r + b(2)) * r + b(3)) * r + b(4)) * r + 1)
        } else {
          val q = math.sqrt(-2 * math.log(1 - x))
          -(((((c(0) * q + c(1)) * q + c(2)) * q + c(3)) * q + c(4)) * q +
            c(5)) / ((((dd(0) * q + dd(1)) * q + dd(2)) * q + dd(3)) * q + 1)
        }
      // one Halley step against the exact erf-based CDF
      for (_ <- 1 to 2) {
        val e = 0.5 * org.apache.commons.math3.special.Erf.erfc(
          -z / math.sqrt(2)) - x
        val u = e * math.sqrt(2 * math.Pi) * math.exp(z * z / 2)
        z = z - u / (1 + z * u / 2)
      }
      z
    }
    val m = scored.length
    val crits = (1 to m).map(i => phiInvUpper(0.05 * i / (2.0 * m)))
    val rows = Analytics.bhFdrScreen(spark, sf).collect()
    rows.length shouldBe m
    val kmax = (1 to m).map(i =>
      if (math.abs(scored(i - 1)._4) >= rows(i - 1).getAs[Double]("z_crit"))
        i else 0).max
    for ((r, i) <- rows.zipWithIndex) {
      val (nm, n, k, z) = scored(i)
      r.getAs[Int]("rank") shouldBe i + 1
      r.getAs[String]("n_name") shouldBe nm
      r.getAs[Long]("n") shouldBe n
      r.getAs[Long]("k") shouldBe k
      r.getAs[Double]("z") shouldBe rd(z, 6)
      // the engines' pinned literal vs this spec's own Phi-inverse
      r.getAs[Double]("z_crit") shouldBe rd(crits(i), 6) +- 1e-6
      r.getAs[Boolean]("rejected") shouldBe (i + 1 <= kmax)
    }
  }

  // ---------------------------------------------------------- conformal

  behavior of "Analytics.conformalIntervals (q_conformal) vs scratch split"

  it should "match qhat and per-priority coverage from scratch splits" in {
    val o = Tables.orders(spark, sf)
      .select("o_orderkey", "o_orderpriority", "o_totalprice").collect()
      .map(r => (r.getLong(0), r.getString(1), cents(r.getDouble(2))))
    val med = o.filter(_._1 % 10 <= 5).groupBy(_._2).view.mapValues { rs =>
      val sorted = rs.map(_._3).sorted
      sorted(math.ceil(0.5 * sorted.length).toInt - 1) // percentile_disc
    }.toMap
    val calR = o.filter(_._1 % 200 == 7)
      .map(r => math.abs(r._3 - med(r._2))).sorted
    val nCal = calR.length
    val qhat = calR(math.min(math.ceil((nCal + 1) * 0.9).toInt, nCal) - 1)
    val expected = o.filter(_._1 % 10 >= 8).groupBy(_._2).toSeq
      .map { case (pr, rs) =>
        val cov = rs.count(r => math.abs(r._3 - med(pr)) <= qhat).toLong
        (pr, nCal.toLong, qhat, rs.length.toLong, cov,
          rd(cov.toDouble / rs.length, 6))
      }.toSet
    val got = Analytics.conformalIntervals(spark, sf).collect()
      .map(r => (r.getString(0), r.getAs[Number](1).longValue,
        r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5))).toSet
    got shouldBe expected
  }

  // ----------------------------------------------------- jackknife SE

  behavior of "Analytics.jackknifeClusterSe (q_jackknife) vs scratch pseudovalues"

  it should "match the leave-one-nation-out SE and design effect" in {
    val custNation = Tables.customer(spark, sf)
      .select("c_custkey", "c_nationkey").collect()
      .map(r => r.getAs[Number](0).longValue -> r.getAs[Number](1).intValue)
      .toMap
    val byNation = Tables.orders(spark, sf)
      .select("o_custkey", "o_totalprice").collect()
      .map(r => (custNation(r.getAs[Number](0).longValue),
        cents(r.getDouble(1))))
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (nk, rs) =>
        (nk, rs.map(_._2).sum, rs.length.toLong,
          rs.map(r => BigInt(r._2) * BigInt(r._2)).sum)
      }
    val stot = byNation.map(_._2).sum
    val ntot = byNation.map(_._3).sum
    val qtot = byNation.map(_._4).sum
    val g = byNation.length
    val tj = byNation.map { case (_, sg, ng, _) =>
      (stot - sg).toDouble / (ntot - ng)
    }
    val tbar = tj.foldLeft(0.0)(_ + _) / g
    val ssq = tj.map(t => (t - tbar) * (t - tbar)).foldLeft(0.0)(_ + _)
    val vJack = (g - 1).toDouble / g * ssq
    val nd = ntot.toDouble
    val s2 = (qtot.toDouble - stot.toDouble * stot.toDouble / nd) / (nd - 1.0)
    val row = Analytics.jackknifeClusterSe(spark, sf).collect().head
    row.getAs[Long]("g_clusters") shouldBe g.toLong
    row.getAs[Long]("n_orders") shouldBe ntot
    row.getAs[Double]("theta_cents") shouldBe rd(stot.toDouble / nd, 6)
    row.getAs[Double]("se_iid_cents") shouldBe rd(math.sqrt(s2 / nd), 6)
    row.getAs[Double]("se_jack_cents") shouldBe rd(math.sqrt(vJack), 6)
    row.getAs[Double]("design_effect") shouldBe rd(vJack / (s2 / nd), 4)
  }

  // ------------------------------------------------------- mahalanobis

  behavior of "Analytics.mahalanobisOutliers (q_mahalanobis) vs BigInt moments"

  it should "match every top-20 squared distance from a hand expansion" in {
    val perCust = Tables.orders(spark, sf)
      .select("o_custkey", "o_totalprice").collect()
      .map(r => (r.getAs[Number](0).longValue, cents(r.getDouble(1))))
      .groupBy(_._1).toSeq
      .map { case (ck, rs) => (ck, rs.length.toLong, rs.map(_._2).sum) }
    val nn = BigInt(perCust.length)
    val sx = BigInt(perCust.map(_._2).sum)
    val sy = perCust.map(c => BigInt(c._3)).sum
    val sxx = BigInt(perCust.map(c => c._2 * c._2).sum)
    val syy = perCust.map(c => BigInt(c._3) * BigInt(c._3)).sum
    val sxy = perCust.map(c => BigInt(c._2) * BigInt(c._3)).sum
    val axx = nn * sxx - sx * sx
    val ayy = nn * syy - sy * sy
    val axy = nn * sxy - sx * sy
    val det = axx * ayy - axy * axy
    val expected = perCust.map { case (ck, x, y) =>
      val u = nn * BigInt(x) - sx
      val v = nn * BigInt(y) - sy
      val num = u * u * ayy - BigInt(2) * u * v * axy + v * v * axx
      (ck, x, y, rd(num.toDouble / det.toDouble, 6))
    }.sortBy { case (ck, _, _, d2) => (-d2, ck) }.take(20)
    val got = Analytics.mahalanobisOutliers(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSeq
    got shouldBe expected
  }

  // -------------------------------------------------------------- ecod

  behavior of "Similarity.ecodOutliers (q_ecod) vs scratch tail ECDFs"

  it should "match both tail scores for every reported vector" in {
    val vecs = Tables.embeddings(spark, sf)
      .select("vec_id", "label", "embedding").collect()
      .map(r => (r.getLong(0), r.getAs[Number](1).intValue,
        r.getSeq[Float](2).toArray))
    val n = vecs.length
    val dim = vecs.head._3.length
    // per-dimension sorted columns for ECDF lookups
    val colsSorted = Array.tabulate(dim)(j => vecs.map(_._3(j)).sorted)
    def countLe(j: Int, x: Float): Int = {
      val c = colsSorted(j)
      var lo = 0; var hi = c.length // first index with c(i) > x
      while (lo < hi) {
        val mid = (lo + hi) / 2
        if (c(mid) <= x) lo = mid + 1 else hi = mid
      }
      lo
    }
    def countGe(j: Int, x: Float): Int = {
      val c = colsSorted(j)
      var lo = 0; var hi = c.length // first index with c(i) >= x
      while (lo < hi) {
        val mid = (lo + hi) / 2
        if (c(mid) < x) lo = mid + 1 else hi = mid
      }
      c.length - lo
    }
    val scored = vecs.map { case (id, label, e) =>
      var oL = 0.0; var oR = 0.0
      for (j <- 0 until dim) {
        oL -= math.log(countLe(j, e(j)).toDouble / n)
        oR -= math.log(countGe(j, e(j)).toDouble / n)
      }
      (id, label, rd(oL, 4), rd(oR, 4), rd(math.max(oL, oR), 4))
    }
    val expected = scored.sortBy { case (id, _, _, _, s) => (-s, id) }
      .take(20).toSeq
    val got = graft.similarity.Similarity.ecodOutliers(spark, sf).collect()
      .map(r => (r.getLong(0), r.getAs[Number](1).intValue, r.getDouble(2),
        r.getDouble(3), r.getDouble(4))).toSeq
    got.map(g => (g._1, g._2)) shouldBe expected.map(e => (e._1, e._2))
    for ((g, e) <- got.zip(expected)) {
      g._3 shouldBe e._3 +- 2e-4 // 64-term double-sum order differs
      g._4 shouldBe e._4 +- 2e-4
      g._5 shouldBe e._5 +- 2e-4
    }
  }
}
