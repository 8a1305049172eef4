package graft.ops

import graft.GraftTestBase
import graft.Scratch.{cents, pcont, pdisc, r4}

/** THIRD-IMPLEMENTATION battery, batch 41: the order-statistic and
  * resampling family — interpolated and discrete percentiles,
  * winsorization, the weighted median, the correlation matrix, the
  * md5-seeded Poisson bootstrap, and the Pareto skyline. The engines
  * share census/prefix/window renderings for all of these; the scratch
  * forms below are full sorts, quadratic domination scans and direct
  * per-row md5 walks — maximum structural diversity.
  */
class ThirdImplSpec41 extends GraftTestBase {

  private lazy val ordersByStatus: Map[String, Vector[Double]] =
    graft.Tables.orders(spark, sf)
      .select("o_orderstatus", "o_totalprice").collect()
      .map(r => (r.getString(0), r.getDouble(1)))
      .groupBy(_._1).map { case (st, rs) =>
        st -> rs.map(_._2).toVector.sorted
      }

  behavior of "percentilesByStatus (q_percentiles) vs scratch sorts"

  it should "match interpolated p50/p90 and the extremes" in {
    val out = Analytics.percentilesByStatus(spark, sf).collect()
    out.length shouldBe ordersByStatus.size
    out.foreach { r =>
      val v = ordersByStatus(r.getAs[String]("o_orderstatus"))
      r.getAs[Long]("n_orders") shouldBe v.length.toLong
      r.getAs[Double]("price_p50") shouldBe (r4(pcont(v, 0.5)) +- 1e-9)
      r.getAs[Double]("price_p90") shouldBe (r4(pcont(v, 0.9)) +- 1e-9)
      r.getAs[Double]("price_min") shouldBe v.head
      r.getAs[Double]("price_max") shouldBe v.last
    }
  }

  behavior of "percentileDiscByStatus (q_percentile_disc) vs scratch"

  it should "match the three discrete quartiles" in {
    val out = Analytics.percentileDiscByStatus(spark, sf).collect()
    out.length shouldBe ordersByStatus.size
    out.foreach { r =>
      val v = ordersByStatus(r.getAs[String]("o_orderstatus"))
      r.getAs[Long]("n_orders") shouldBe v.length.toLong
      r.getAs[Double]("p25_disc") shouldBe pdisc(v, 0.25)
      r.getAs[Double]("p50_disc") shouldBe pdisc(v, 0.5)
      r.getAs[Double]("p75_disc") shouldBe pdisc(v, 0.75)
    }
  }

  behavior of "winsorizedPrices (q_winsorize) vs scratch caps"

  it should "clip every audited row to the scratch [p05, p95]" in {
    val caps = ordersByStatus.map { case (st, v) =>
      st -> (r4(pcont(v, 0.05)), r4(pcont(v, 0.95)))
    }
    val raw = graft.Tables.orders(spark, sf)
      .select("o_orderkey", "o_orderstatus", "o_totalprice").collect()
      .filter(_.getLong(0) <= 2000L)
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toVector
    val out = Analytics.winsorizedPrices(spark, sf).collect()
    out.length shouldBe raw.length
    val byKey = raw.map(t => t._1 -> t).toMap
    out.foreach { r =>
      val (_, st, price) = byKey(r.getAs[Long]("o_orderkey"))
      val (lo, hi) = caps(st)
      r.getAs[Double]("price_winsorized") shouldBe
        math.min(math.max(price, lo), hi)
      r.getAs[Boolean]("was_clipped") shouldBe (price < lo || price > hi)
    }
  }

  behavior of "weightedMedianPrice (q_weighted_median) vs scratch walk"

  it should "match the crossing price and total weight per flag" in {
    val rows = graft.Tables.lineitem(spark, sf)
      .select("l_returnflag", "l_extendedprice", "l_quantity").collect()
      .map(r => (r.getString(0), r.getDouble(1), cents(r.getDouble(2))))
    val expect = rows.groupBy(_._1).map { case (fl, rs) =>
      val byPrice = rs.groupBy(_._2).map { case (p, xs) =>
        (p, xs.map(x => BigInt(x._3)).sum)
      }.toVector.sortBy(_._1)
      val tot = byPrice.map(_._2).sum
      var cum = BigInt(0)
      val med = byPrice.find { case (_, w) =>
        cum += w; cum * 2 >= tot
      }.get._1
      fl -> (med, BigDecimal(tot, 2).toDouble)
    }
    val out = Analytics.weightedMedianPrice(spark, sf).collect()
    out.length shouldBe expect.size
    out.foreach { r =>
      val (med, tot) = expect(r.getAs[String]("l_returnflag"))
      r.getAs[Double]("weighted_median_price") shouldBe med
      r.getAs[Double]("total_weight") shouldBe (tot +- 1e-9)
    }
  }

  behavior of "corrMatrixLineitem (q_corr_matrix) vs scratch sums"

  it should "match all six pairwise correlations" in {
    val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    val rows = graft.Tables.lineitem(spark, sf)
      .select(cols.head, cols.tail: _*).collect()
      .map(r => Array.tabulate(4)(i => cents(r.getDouble(i))))
    val n = rows.length
    val s1 = Array.fill(4)(BigInt(0))
    val ss = Array.fill(4)(BigInt(0))
    val sp = Array.fill(4, 4)(BigInt(0))
    rows.foreach { x =>
      for (i <- 0 until 4) {
        s1(i) += x(i); ss(i) += BigInt(x(i)) * x(i)
        for (j <- (i + 1) until 4) sp(i)(j) += BigInt(x(i)) * x(j)
      }
    }
    def d2(b: BigInt) = BigDecimal(b, 2).toDouble
    def d4(b: BigInt) = BigDecimal(b, 4).toDouble
    val expect = (for (i <- 0 until 4; j <- (i + 1) until 4) yield {
      val num = d4(sp(i)(j)) * n - d2(s1(i)) * d2(s1(j))
      val den = math.sqrt(d4(ss(i)) * n - d2(s1(i)) * d2(s1(i))) *
        math.sqrt(d4(ss(j)) * n - d2(s1(j)) * d2(s1(j)))
      (cols(i), cols(j)) -> num / den
    }).toMap
    val out = Analytics.corrMatrixLineitem(spark, sf).collect()
    out.length shouldBe expect.size
    out.foreach { r =>
      expect((r.getAs[String]("var_a"), r.getAs[String]("var_b"))) shouldBe
        (r.getAs[Double]("corr") +- 1e-12)
    }
  }

  behavior of "bootstrapOrderPrice (q_bootstrap) vs a scratch md5 walk"

  it should "match every replicate's weight sum and totals" in {
    val cdf = Resample.poissonCdf
    val orders = graft.Tables.orders(spark, sf)
      .select("o_orderkey", "o_totalprice").collect()
      .map(r => (r.getLong(0), cents(r.getDouble(1))))
    val md = java.security.MessageDigest.getInstance("MD5")
    def weight(key: Long, rep: Int): Int = {
      val hex = md.digest(s"$key|$rep".getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString
      val u = (java.lang.Long.parseLong(hex.take(15), 16) %
        1073741824L).toDouble / 1073741824.0
      cdf.indexWhere(u < _) match { case -1 => 6; case k => k }
    }
    val expect = (0 until Resample.numReplicates).map { rep =>
      var nEff = 0L; var tot = BigInt(0)
      orders.foreach { case (k, c) =>
        val w = weight(k, rep); nEff += w; tot += BigInt(w) * c
      }
      rep -> (nEff, BigDecimal(tot, 2).toDouble)
    }.toMap
    val out = Resample.bootstrapOrderPrice(spark, sf).collect()
    out.length shouldBe Resample.numReplicates
    out.foreach { r =>
      val (nEff, tot) = expect(r.getAs[Int]("replicate"))
      r.getAs[Long]("n_eff") shouldBe nEff
      r.getAs[Double]("total_price") shouldBe (tot +- 1e-9)
      r.getAs[Double]("mean_price") shouldBe (tot / nEff +- 1e-9)
    }
  }

  behavior of "skylineParts (q_skyline) vs a quadratic domination scan"

  it should "match the frontier row set exactly" in {
    val parts = graft.Tables.part(spark, sf)
      .select("p_partkey", "p_retailprice", "p_size").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getInt(2)))
    val kept = parts.filter { p =>
      !parts.exists(q => q._2 <= p._2 && q._3 >= p._3 &&
        (q._2 < p._2 || q._3 > p._3))
    }.map(_._1).toSet
    val out = Pareto.skylineParts(spark, sf).collect()
      .map(_.getAs[Long]("p_partkey")).toSet
    out shouldBe kept
  }
}
