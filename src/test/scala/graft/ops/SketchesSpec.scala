package graft.ops

import graft.GraftTestBase

class SketchesSpec extends GraftTestBase {

  behavior of "orderSketches"

  it should "satisfy every in-query estimator error bound" in {
    val rows = Sketches.orderSketches(spark, sf).collect()
    rows should not be empty
    rows.foreach { r =>
      withClue(s"status ${r.getAs[String]("o_orderstatus")}: ") {
        r.getAs[Boolean]("hll_ok") shouldBe true
        r.getAs[Boolean]("p50_ok") shouldBe true
        r.getAs[Boolean]("p95_ok") shouldBe true
      }
    }
  }

  it should "carry exact companions consistent with the raw table" in {
    val rows = Sketches.orderSketches(spark, sf).collect()
    val nTotal = graft.Tables.orders(spark, sf).count()
    rows.map(_.getAs[Long]("n_rows")).sum shouldBe nTotal
    rows.foreach { r =>
      r.getAs[Long]("custkeys_exact") should be <= r.getAs[Long]("n_rows")
      r.getAs[Double]("price_min") should be <= r.getAs[Double]("price_max")
    }
  }

  it should "aggregate partially (no plain sort-based fallback in the plan)" in {
    val plan = Sketches.orderSketches(spark, sf)
      .queryExecution.executedPlan.toString
    // HLL++ and quantile summaries must partial-aggregate map-side:
    // two HashAggregate/ObjectHashAggregate levels around one exchange
    plan should include("Exchange")
    "(?i)objecthashaggregate|hashaggregate".r
      .findAllIn(plan).size should be >= 2
  }

  behavior of "audienceOverlap"

  it should "match a driver-side exact user-day set intersection" in {
    val ev = graft.Tables.events(spark, sf)
      .select("user_id", "event_type", "ts").collect()
      .map(r => (r.getLong(0), r.getString(1),
        r.getAs[java.sql.Timestamp](2).toLocalDateTime.toLocalDate.toEpochDay))
    def seg(t: String): Set[(Long, Long)] =
      ev.filter(_._2 == t).map(e => (e._1, e._3)).toSet
    val v = seg("view"); val b = seg("purchase")
    val r = Sketches.audienceOverlap(spark, sf).head()
    r.getAs[Long]("viewers") shouldBe v.size.toLong
    r.getAs[Long]("buyers") shouldBe b.size.toLong
    r.getAs[Long]("either") shouldBe v.union(b).size.toLong
    r.getAs[Long]("overlap_exact") shouldBe v.intersect(b).size.toLong
    r.getAs[Boolean]("overlap_est_ok") shouldBe true
  }

  behavior of "cmsFrequencies"

  it should "be overestimate-only with hot keys estimated tightly" in {
    val rows = Sketches.cmsFrequencies(spark, sf).collect()
    rows.length should be >= 3
    rows.foreach { r =>
      r.getAs[Long]("flag_min_slack") should be >= 0L
      r.getAs[Long]("cms_estimate") should be >= r.getAs[Long]("exact_count")
      // a hot key is ~23% of its flag's rows; CMS additive error is
      // bounded by the flag's total over the 256-cell width, so the
      // relative error on hot keys must stay small
      val c = r.getAs[Long]("exact_count").toDouble
      (r.getAs[Long]("cms_estimate") - c) / c should be <= 0.2
    }
  }

  it should "produce split-invariant sketches (merge-order independence)" in {
    import graft.functions.CountMin
    val keys = (1 to 500).map(i => java.lang.Long.valueOf((i * 7919L) % 97))
    def sketchOf(chunks: Seq[Seq[java.lang.Long]]): Seq[Long] = {
      val parts = chunks.map(_.foldLeft(CountMin.zero)(CountMin.reduce))
      CountMin.finish(parts.reduce(CountMin.merge))
    }
    val a = sketchOf(Seq(keys))
    val b = sketchOf(keys.grouped(33).toSeq)
    val c = sketchOf(keys.reverse.grouped(100).toSeq.reverse)
    a shouldBe b
    a shouldBe c
    // point estimates dominate true counts on every key
    val exact = keys.groupBy(identity).view.mapValues(_.size.toLong)
    exact.foreach { case (k, n) =>
      (0 until CountMin.depth).map(j =>
        a(j * CountMin.width + CountMin.cell(j, k))).min should be >= n
    }
  }
}
