package graft.plans

import org.apache.spark.sql.functions._

import graft.{GraftTestBase, Tables}

class PlanLintSpec extends GraftTestBase {

  behavior of "PlanLint"

  it should "flag the global-window funnel and pass its distributed rendering" in {
    val funnel = graft.ops.Analytics.decileStats(spark, sf)
    PlanLint.lint(funnel).map(_.rule) should contain("single-partition-exchange")
    // the scale rendering of the same semantics is clean
    val dist = graft.ops.Analytics.decileStatsDistributed(spark, sf)
    PlanLint.lint(dist).map(_.rule) should not contain "single-partition-exchange"
  }

  it should "not flag single-row aggregates or broadcast-able tiny sides" in {
    // global scalar aggregate: the SinglePartition exchange moves 32
    // partial-state rows, not data
    PlanLint.lint(Relational6(spark)) shouldBe empty
    // 1-row max-price cross join (weightedSample shape): small side known
    val ws = graft.ops.Relational.weightedSample(spark, sf)
    PlanLint.lint(ws).map(_.rule) should not contain "nested-loop-join"
    PlanLint.lint(ws).map(_.rule) should not contain "cartesian-product"
  }

  it should "prove literal-bounded frames small but not data-dependent ones" in {
    val facts = Tables.lineitem(spark, sf).select("l_orderkey", "l_quantity")
    // a 7-row Range crossed into facts: bounded by construction → clean
    val lags = spark.range(1, 8).select(col("id").as("lag"))
    PlanLint.lint(facts.crossJoin(broadcast(lags)))
      .map(_.rule) should not contain "nested-loop-join"
    // the proof must NOT survive an explode: a Generate over the Range
    // makes its output data-dependent in size → still flagged
    val blown = spark.range(1, 8)
      .select(explode(array_repeat(col("id"), 1000)).as("k"))
    PlanLint.lint(facts.crossJoin(broadcast(blown)))
      .map(_.rule) should contain("nested-loop-join")
    // the new-query shapes that motivated the proof stay clean
    PlanLint.lint(graft.ops.TimeSeries.acfDailyRevenue(spark, sf)) shouldBe empty
    PlanLint.lint(graft.ops.Privacy.tClosenessAudit(spark, sf)) shouldBe empty
  }

  it should "flag the intentional all-pairs verifier and scala UDFs" in {
    PlanLint.lint(graft.dedup.Dedup.embeddingNearDup(spark, sf))
      .map(_.rule) should contain("nested-loop-join")
    val udf = org.apache.spark.sql.functions.udf((s: String) => s.length)
    val withUdf = Tables.documents(spark, sf).select(udf(col("text")).as("n"))
    PlanLint.lint(withUdf).map(_.rule) should contain("scala-udf")
  }

  it should "flag low-cardinality windows unless the input is provably collapsed" in {
    // the windowed reference forms partition raw lineitem by a 3-value
    // flag — exactly the shape that hid from the single-partition rule
    PlanLint.lint(graft.ops.Analytics.weightedMedianPriceWindowed(spark, sf))
      .map(_.rule) should contain("low-cardinality-window")
    PlanLint.lint(graft.ops.Analytics.spearmanPriceQtyWindowed(spark, sf))
      .map(_.rule) should contain("low-cardinality-window")
    // an aggregate below the window does NOT exempt it when the
    // aggregate's own keys include a near-unique value column — its
    // output is fact-sized, so the window still funnels per flag
    // (the q_theilsen r5 regression: groupBy(priority, slope) → 14M
    // rows through 5 sort tasks)
    PlanLint.lint(graft.ops.Analytics.theilSenTrendWindowed(spark, sf))
      .map(_.rule) should contain("low-cardinality-window")
    PlanLint.lint(graft.ops.Analytics.weightedMedianPrice(spark, sf))
      .map(_.rule) should contain("low-cardinality-window")
    PlanLint.lint(graft.ops.Analytics.spearmanPriceQty(spark, sf))
      .map(_.rule) should contain("low-cardinality-window")
    // the withRunningTotal renderings have no window at all — clean
    PlanLint.lint(graft.ops.Analytics.theilSenTrend(spark, sf))
      .map(_.rule) should not contain "low-cardinality-window"
    PlanLint.lint(graft.ops.Analytics.weightedMedianPriceDist(spark, sf))
      .map(_.rule) should not contain "low-cardinality-window"
    PlanLint.lint(graft.ops.Analytics.spearmanPriceQtyDist(spark, sf))
      .map(_.rule) should not contain "low-cardinality-window"
    // a tiny-keyed aggregate below the window IS a valid exemption:
    // groupBy(flag, status) emits O(domain²) rows, window safely tiny
    val tinyAgg = Tables.lineitem(spark, sf)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(sum("l_quantity").as("q"))
      .withColumn("cum", sum("q").over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("l_returnflag").orderBy("l_linestatus")))
    PlanLint.lint(tinyAgg).map(_.rule) should not contain "low-cardinality-window"
    // ...but ONLY when that aggregate dominates the window's row-bearing
    // input: a one-row broadcast stats frame on the far side of a cross
    // join proves nothing about the streamed raw-facts side (the
    // crossJoin(broadcast(agg)) pattern must not launder the exemption)
    val stats = Tables.lineitem(spark, sf).agg(avg("l_quantity").as("m"))
    val laundered = Tables.lineitem(spark, sf)
      .crossJoin(broadcast(stats))
      .withColumn("cum", sum("l_quantity").over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("l_returnflag").orderBy("l_orderkey")))
    PlanLint.lint(laundered).map(_.rule) should contain("low-cardinality-window")
    // a window keyed by a high-cardinality column is not this smell
    PlanLint.lint(graft.ops.Relational.windowLatestOrder(spark, sf))
      .map(_.rule) should not contain "low-cardinality-window"
  }

  it should "catch a UDF hiding in a join condition, not just projections" in {
    val sameLen = org.apache.spark.sql.functions.udf((a: String, b: String) => a.length == b.length)
    val t = graft.Tables.nation(spark, sf)
    val joined = t.as("a").join(t.as("b"), sameLen(col("a.n_name"), col("b.n_name")))
    PlanLint.lint(joined).map(_.rule) should contain("scala-udf")
  }

  it should "pass the headline relational queries clean" in {
    Seq(
      graft.ops.Relational.q3ShippingPriority(spark, sf),
      graft.ops.Relational.q7NationVolume(spark, sf),
      graft.ops.Relational.q19Disjunctive(spark, sf),
      graft.ops.Behavior.rollingActiveUsers(spark, sf))
      .foreach { q => PlanLint.lint(q) shouldBe empty }
  }

  private def Relational6(s: org.apache.spark.sql.SparkSession) =
    graft.ops.Relational.q6Forecast(s, sf)
}
