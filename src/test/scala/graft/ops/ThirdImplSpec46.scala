package graft.ops

import graft.GraftTestBase
import graft.Scratch.{pcont, r4}

/** THIRD-IMPLEMENTATION battery, batch 46: the sketch-contract rows —
  * the exact halves of q_sketches / q_quantile_sketch /
  * q_heavy_hitters recomputed from raw rows, plus independent
  * assertions that every contract boolean really holds (the oracle
  * stores them as TRUE constants, so a scratch recomputation of the
  * exact side is the only non-mirrored evidence the gate gets that the
  * sketches are audited against the right ground truth).
  */
class ThirdImplSpec46 extends GraftTestBase {

  behavior of "orderSketches (q_sketches) vs scratch exact columns"

  it should "match the exact side and hold every estimator bound" in {
    val rows = graft.Tables.orders(spark, sf)
      .select("o_orderstatus", "o_custkey", "o_totalprice").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    val expect = rows.groupBy(_._1).map { case (st, rs) =>
      st -> (rs.length.toLong, rs.map(_._2).distinct.length.toLong,
        rs.map(_._3).min, rs.map(_._3).max)
    }
    val out = Sketches.orderSketches(spark, sf).collect()
    out.length shouldBe expect.size
    out.foreach { r =>
      val (n, ck, mn, mx) = expect(r.getAs[String]("o_orderstatus"))
      r.getAs[Long]("n_rows") shouldBe n
      r.getAs[Long]("custkeys_exact") shouldBe ck
      r.getAs[Double]("price_min") shouldBe mn
      r.getAs[Double]("price_max") shouldBe mx
      r.getAs[Boolean]("hll_ok") shouldBe true
      r.getAs[Boolean]("p50_ok") shouldBe true
      r.getAs[Boolean]("p95_ok") shouldBe true
    }
  }

  behavior of "quantileSketchCheck (q_quantile_sketch) vs scratch ranks"

  it should "match exact quartiles and hold the KLL rank contract" in {
    val rows = graft.Tables.lineitem(spark, sf)
      .select("l_returnflag", "l_extendedprice").collect()
      .map(r => (r.getString(0), r.getDouble(1)))
    val expect = rows.groupBy(_._1).map { case (fl, rs) =>
      val v = rs.map(_._2).toVector.sorted
      fl -> (v.length.toLong, r4(pcont(v, 0.25)), r4(pcont(v, 0.5)),
        r4(pcont(v, 0.75)))
    }
    val out = Sketches.quantileSketchCheck(spark, sf).collect()
    out.length shouldBe expect.size
    out.foreach { r =>
      val (n, p25, p50, p75) = expect(r.getAs[String]("l_returnflag"))
      r.getAs[Long]("n_rows") shouldBe n
      r.getAs[Double]("p25_exact") shouldBe (p25 +- 1e-9)
      r.getAs[Double]("p50_exact") shouldBe (p50 +- 1e-9)
      r.getAs[Double]("p75_exact") shouldBe (p75 +- 1e-9)
      r.getAs[Boolean]("sk25_ok") shouldBe true
      r.getAs[Boolean]("sk50_ok") shouldBe true
      r.getAs[Boolean]("sk75_ok") shouldBe true
    }
  }

  behavior of "heavyHitterParts (q_heavy_hitters) vs scratch frequencies"

  it should "match the guaranteed-hitter census per flag" in {
    val k = graft.functions.SpaceSaving.capacity
    val keyed = graft.Tables.lineitem(spark, sf)
      .select("l_returnflag", "l_partkey").collect()
      .map { r =>
        val pk = r.getLong(1)
        (r.getString(0),
          if (pk % 10 < 7) s"hot_${pk % 3}" else s"cold_$pk")
      }
    val expect = keyed.groupBy(_._1).map { case (fl, rs) =>
      val counts = rs.groupBy(_._2).map(_._2.length.toLong)
      val n = rs.length.toLong
      fl -> counts.count(c => c * k > n).toLong
    }
    val out = Analytics.heavyHitterParts(spark, sf).collect()
    out.length shouldBe expect.size
    out.foreach { r =>
      r.getAs[Long]("n_guaranteed") shouldBe
        expect(r.getAs[String]("l_returnflag"))
      r.getAs[Boolean]("all_guaranteed_present") shouldBe true
      r.getAs[Boolean]("bounds_valid") shouldBe true
    }
  }
}
