package graft.ops

import graft.GraftTestBase
import graft.Scratch.md5hex

class ResampleSpec extends GraftTestBase {

  /** The deterministic Poisson(1) weight the engine must assign. */
  private def weight(orderKey: Long, r: Int): Int = {
    val fp = java.lang.Long.parseLong(md5hex(s"$orderKey|$r").take(15), 16)
    val u = (fp % 1073741824L).toDouble / 1073741824.0
    val k = Resample.poissonCdf.indexWhere(u < _)
    if (k < 0) 6 else k
  }

  behavior of "bootstrapOrderPrice"

  it should "reproduce every replicate exactly from the hash-derived weights" in {
    val orders = graft.Tables.orders(spark, sf)
      .select("o_orderkey", "o_totalprice").collect()
      .map(r => (r.getLong(0), BigDecimal(r.getDouble(1))
        .setScale(2, BigDecimal.RoundingMode.HALF_UP)))
    val rows = Resample.bootstrapOrderPrice(spark, sf).collect()
    rows.length shouldBe Resample.numReplicates
    rows.foreach { row =>
      val r = row.getAs[Int]("replicate")
      val ws = orders.map { case (k, p) => (weight(k, r), p) }
      val nEff = ws.map(_._1.toLong).sum
      val total = ws.map { case (w, p) => p * w }.sum
      row.getAs[Long]("n_eff") shouldBe nEff
      row.getAs[Double]("total_price") shouldBe total.toDouble
      row.getAs[Double]("mean_price") shouldBe total.toDouble / nEff
    }
    // sanity of the sampling distribution itself: mean effective sample
    // size across replicates must sit near n (Poisson(1) has mean 1)
    val n = orders.length.toDouble
    val meanEff = rows.map(_.getAs[Long]("n_eff")).sum.toDouble / rows.length
    meanEff should be > n * 0.9
    meanEff should be < n * 1.1
  }
}
