package graft.ops

import org.apache.spark.sql.DataFrame

import graft.GraftTestBase
import graft.Scratch.variantOf

/** DEGENERATE-PATH guard tests: the NULL/absent/zero guards inside the
  * statistics (McNemar with no discordant pairs, Durbin–Watson under
  * the n < 3 floor, CEM with every stratum unmatched, Theil–Sen with no
  * day pairs, the weighted median of a single row, the backtest with no
  * evaluable window) are mirror-prone code the oracle gate NEVER
  * exercises — the synthetic corpus is rich enough that every guard
  * stays cold at all three SFs. Each test stages a tiny adversarial
  * table and pins the guarded output shape.
  */
class DegenerateGuardSpec extends GraftTestBase {

  private def stage(name: String, df: DataFrame): String = {
    val dir = tempDir("graft-guard")
    df.write.mode("overwrite").parquet(s"$dir/$name.parquet")
    dir
  }

  private def ts(s: String): java.sql.Timestamp =
    java.sql.Timestamp.valueOf(s)

  behavior of "mcnemarTest with zero discordant pairs"

  it should "emit NULL chi2 and a false verdict, not a division" in {
    import spark.implicits._
    // every user has high-value purchases in BOTH halves -> b = c = 0
    val rows = Seq(
      (1L, ts("2024-01-10 00:00:00"), 7L, "purchase", 500.0, "{}"),
      (2L, ts("2024-01-20 00:00:00"), 7L, "purchase", 500.0, "{}"),
      (3L, ts("2024-01-10 00:00:00"), 8L, "purchase", 500.0, "{}"),
      (4L, ts("2024-01-20 00:00:00"), 8L, "purchase", 500.0, "{}"))
    val dir = stage("events",
      rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
    val r = Behavior.mcnemarTest(spark, dir).head()
    r.getAs[Long]("n_pairs") shouldBe 2L
    r.getAs[Long]("b_count") shouldBe 0L
    r.getAs[Long]("c_count") shouldBe 0L
    assert(r.isNullAt(r.fieldIndex("chi2")))
    assert(r.isNullAt(r.fieldIndex("chi2_cc")))
    r.getAs[Boolean]("significant_95") shouldBe false
  }

  behavior of "durbinWatson under the n < 3 floor"

  it should "emit NULL statistics and false flags" in {
    import spark.implicits._
    val rows = Seq(
      (1L, 1L, "O", 100.0, ts("1998-03-01 00:00:00"), "1-URGENT"),
      (2L, 2L, "O", 200.0, ts("1998-03-02 00:00:00"), "1-URGENT"))
    val dir = stage("orders", rows.toDF("o_orderkey", "o_custkey",
      "o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority"))
    val r = TimeSeries.durbinWatson(spark, dir).head()
    r.getAs[Long]("n_days") shouldBe 2L
    assert(r.isNullAt(r.fieldIndex("dw")))
    assert(r.isNullAt(r.fieldIndex("rho_hat")))
    r.getAs[Boolean]("positive_autocorr_95") shouldBe false
    r.getAs[Boolean]("negative_autocorr_95") shouldBe false
  }

  behavior of "cemAtt with every stratum unmatched"

  it should "emit NULL ATT and keep the naive contrast" in {
    import spark.implicits._
    // treated and control customers live in DISJOINT nations, so no
    // stratum has common support
    val cust = Seq(
      (1L, "c1", 1, 100.0, "BUILDING"),
      (2L, "c2", 1, 150.0, "BUILDING"),
      (3L, "c3", 2, 100.0, "MACHINERY"),
      (4L, "c4", 2, 150.0, "MACHINERY"))
    val orders = Seq(
      (10L, 1L, "O", 1000.0, ts("1995-01-01 00:00:00"), "1-URGENT"),
      (11L, 3L, "O", 500.0, ts("1995-01-01 00:00:00"), "1-URGENT"))
    val dir = tempDir("graft-guard")
    cust.toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal",
      "c_mktsegment").write.parquet(s"$dir/customer.parquet")
    orders.toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
      "o_orderdate", "o_orderpriority").write.parquet(s"$dir/orders.parquet")
    val r = Behavior.cemAtt(spark, dir).head()
    r.getAs[Long]("strata_matched") shouldBe 0L
    // sum-over-empty is NULL in BOTH engines, so the matched counts and
    // everything derived from them go NULL rather than 0 — the mirrored
    // convention this spec pins (the gate never reaches it: the corpus
    // always has common support somewhere)
    assert(r.isNullAt(r.fieldIndex("treated_matched")))
    assert(r.isNullAt(r.fieldIndex("treated_pruned")))
    assert(r.isNullAt(r.fieldIndex("att_cents")))
    // naive ATT still reads: (100000 + 0)/2 - (50000 + 0)/2 = 25000
    r.getAs[Double]("naive_diff_cents") shouldBe (25000.0 +- 1e-9)
  }

  behavior of "theilSenTrend with a single day per priority"

  it should "emit no row for a priority with zero slope pairs" in {
    import spark.implicits._
    // priority A has two days (one pair); priority B has one day (none)
    val rows = Seq(
      (1L, 1L, "O", 100.0, ts("1995-01-01 00:00:00"), "A"),
      (2L, 2L, "O", 300.0, ts("1995-01-03 00:00:00"), "A"),
      (3L, 3L, "O", 100.0, ts("1995-01-01 00:00:00"), "B"))
    val dir = stage("orders", rows.toDF("o_orderkey", "o_custkey",
      "o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority"))
    val out = Analytics.theilSenTrend(spark, dir).collect()
    out.map(_.getAs[String]("o_orderpriority")).toSeq shouldBe Seq("A")
    val a = out.head
    a.getAs[Long]("n_pairs") shouldBe 1L
    // one pair: (30000 - 10000) cents / 2 days / 100 = 100.0 per day
    a.getAs[Double]("slope_per_day") shouldBe (100.0 +- 1e-9)
  }

  behavior of "weightedMedianPrice on a single-row flag"

  it should "return that row's price with its full weight" in {
    import spark.implicits._
    val rows = Seq(("Z", 42.5, 7.0))
    val dir = stage("lineitem",
      rows.toDF("l_returnflag", "l_extendedprice", "l_quantity"))
    val r = Analytics.weightedMedianPrice(spark, dir).head()
    r.getAs[String]("l_returnflag") shouldBe "Z"
    r.getAs[Double]("weighted_median_price") shouldBe 42.5
    r.getAs[Double]("total_weight") shouldBe (7.0 +- 1e-9)
  }

  behavior of "forecastBacktest with fewer than 8 observations per type"

  it should "emit no row when no day has both forecasts" in {
    import spark.implicits._
    // 5 days of one type: lag-7 never materializes -> empty result
    val rows = (1 to 5).map(i =>
      (i.toLong, ts(f"2024-01-0$i%d 00:00:00"), 1L, "click", 10.0, "{}"))
    val dir = stage("events",
      rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
    TimeSeries.forecastBacktest(spark, dir).collect() shouldBe empty
  }

  behavior of "minhashLsh with featureless (sub-3-word) documents"

  it should "never pair docs whose shingle set is empty" in {
    import spark.implicits._
    // four short docs (no shingles) that would all have collided on the
    // degenerate "" band key before the featureless-doc filter, plus
    // one genuine near-dup pair to prove the normal path still fires
    val docs = Seq(
      (1L, "one two"), (2L, "three"), (3L, "four five"), (4L, ""),
      (10L, "alpha beta gamma delta epsilon zeta"),
      (11L, "alpha beta gamma delta epsilon eta"))
    val dir = stage("documents", docs.toDF("doc_id", "text"))
    val pairs = graft.dedup.Dedup.minhashLsh(spark, dir).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")))
    pairs.foreach { case (a, b) =>
      a should be >= 10L
      b should be >= 10L
    }
    pairs should contain((10L, 11L))
  }

  behavior of "dedupEval on a corpus with zero candidate pairs"

  it should "report exact zero counts, not empty-sum NULLs" in {
    import spark.implicits._
    // disjoint vocabularies: no shared shingles, no band collisions
    val docs = Seq(
      (1L, "aa bb cc dd ee ff"),
      (2L, "gg hh ii jj kk ll"),
      (3L, "mm nn oo pp qq rr"))
    val dir = stage("documents", docs.toDF("doc_id", "text"))
    val r = graft.dedup.Dedup.dedupEval(spark, dir).head()
    r.getAs[Long]("n_candidates") shouldBe 0L
    r.getAs[Long]("n_true") shouldBe 0L
    r.getAs[Long]("n_hit") shouldBe 0L
    r.getAs[Double]("precision") shouldBe 0.0
    r.getAs[Double]("recall") shouldBe 0.0
    r.getAs[Double]("f1") shouldBe 0.0
  }

  behavior of "the click-dependent statistics on a clickless corpus"

  it should "emit NULL statistics instead of ANSI division errors" in {
    import spark.implicits._
    // views only: the click arm is ABSENT, so every click-variance and
    // 1/k1 denominator is exactly zero — previously an ANSI
    // divide-by-zero crash on the Spark side while DuckDB's float
    // division yields NULL (found by the clickless edge-corpus
    // differential sweep, fixed with mirrored NULL guards)
    val rows = (1 to 40).map { i =>
      (i.toLong, ts(f"2024-01-${i % 20 + 1}%02d 0${i % 9}:00:00"),
        (i % 7).toLong, "view", 10.0 + i, "{}")
    }
    val dir = stage("events",
      rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
    val rt = Behavior.poissonRateTest(spark, dir).head()
    rt.getAs[Long]("k1") shouldBe 0L
    assert(rt.isNullAt(rt.fieldIndex("ci_lo")))
    rt.getAs[Double]("rate_ratio") shouldBe 0.0 // k2 > 0: ratio survives
    val ccf = TimeSeries.ccfClicksPurchases(spark, dir).collect()
    ccf.foreach(r => assert(r.isNullAt(r.fieldIndex("ccf"))))
    val gr = TimeSeries.grangerCausality(spark, dir).head()
    assert(gr.isNullAt(gr.fieldIndex("beta_clicks_lag")))
    assert(gr.isNullAt(gr.fieldIndex("f_stat")))
    val co = TimeSeries.cointegration(spark, dir).head()
    assert(co.isNullAt(co.fieldIndex("gamma")))
    assert(co.isNullAt(co.fieldIndex("t_stat")))
  }

  behavior of "the purchase-dependent statistics on a purchaseless corpus"

  it should "emit NULL rows or zero rows, never ANSI errors" in {
    import spark.implicits._
    // views and signups only: the purchase arm is ABSENT, zeroing the
    // revenue variances, conversion cells, survival events and the
    // daily purchase series — the edge-corpus sweep that found 13
    // defects (11 ANSI crashes + 2 NULL-vs-0 divergences), all fixed
    // with mirrored NULL guards / zero-row filters
    val rows = (1 to 60).map { i =>
      (i.toLong, ts(f"2024-01-${i % 25 + 1}%02d 0${i % 9}:00:00"),
        (i % 9).toLong, if (i % 2 == 0) "view" else "signup",
        10.0 + i % 13, "{}")
    }
    val dir = stage("events",
      rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
    val ab = Behavior.abTestRevenue(spark, dir).head()
    assert(ab.isNullAt(ab.fieldIndex("z_stat")))
    val cu = Behavior.cupedReadout(spark, dir).collect()
    cu.foreach(r => assert(r.isNullAt(r.fieldIndex("theta"))))
    val pw = Behavior.powerAnalysis(spark, dir).head()
    assert(pw.isNullAt(pw.fieldIndex("n_per_arm")))
    val mh = Behavior.mantelHaenszel(spark, dir).head()
    assert(mh.isNullAt(mh.fieldIndex("or_mh")))
    assert(mh.isNullAt(mh.fieldIndex("cmh_chi2")))
    val cox = Behavior.coxPh(spark, dir).head()
    assert(cox.isNullAt(cox.fieldIndex("beta_hat")))
    assert(cox.isNullAt(cox.fieldIndex("se_beta")))
    val sch = Behavior.schoenfeldPh(spark, dir).head()
    assert(sch.isNullAt(sch.fieldIndex("z_stat")))
    val js = Behavior.jsDivergence(spark, dir).head()
    assert(js.isNullAt(js.fieldIndex("js_nats")))
    Behavior.ansariBradley(spark, dir).collect() shouldBe empty
    TimeSeries.holtForecast(spark, dir).collect() shouldBe empty
    TimeSeries.holtWinters(spark, dir).collect() shouldBe empty
    TimeSeries.archTest(spark, dir).collect() shouldBe empty
    TimeSeries.kalmanLevel(spark, dir).collect() shouldBe empty
    TimeSeries.periodogram(spark, dir).collect()
      .foreach(r => assert(r.isNullAt(r.fieldIndex("power_frac"))))
  }

  behavior of "sampleRatioCheck at the exact scaled-integer boundary"

  it should "not flag when (na-nb)^2*1000 equals the critical product" in {
    import spark.implicits._
    // engineer na, nb with (na-nb)^2 * 1000 <= (na+nb) * 3841 at the
    // closest achievable margin: na=30, nb=10 -> 400000 vs 153640 FLAGS;
    // na=12, nb=8 -> 16000 vs 76820 does not. Both directions pinned.
    def dirFor(na: Int, nb: Int): String = {
      // md5 parity of small uids: pick uids by their actual parity
      val uids = Iterator.from(1).map(_.toLong).filter(u => true).take(2000).toVector
      def par(u: Long): Int = {
        val hex = java.security.MessageDigest.getInstance("MD5")
          .digest(u.toString.getBytes("UTF-8")).map(b => f"$b%02x").mkString
        (java.lang.Long.parseLong(hex.take(15), 16) % 2).toInt
      }
      val zeros = uids.filter(par(_) == 0).take(na)
      val ones = uids.filter(par(_) == 1).take(nb)
      val rows = (zeros ++ ones).zipWithIndex.map { case (u, i) =>
        (i.toLong, ts("2024-01-01 00:00:00"), u, "view", 1.0, "{}")
      }
      stage("events",
        rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
    }
    val flagged = Behavior.sampleRatioCheck(spark, dirFor(30, 10)).head()
    flagged.getAs[Long]("n_a") shouldBe 30L
    flagged.getAs[Long]("n_b") shouldBe 10L
    flagged.getAs[Boolean]("srm_detected") shouldBe true
    val ok = Behavior.sampleRatioCheck(spark, dirFor(12, 8)).head()
    ok.getAs[Boolean]("srm_detected") shouldBe false
  }

  private def uidsOfVariant(v: Int, n: Int): Vector[Long] =
    Iterator.from(1).map(_.toLong).filter(variantOf(_) == v).take(n).toVector

  behavior of "mantelHaenszel with conversions in one arm only"

  it should "render a zero pooled OR with a NULL log, not ln(0)" in {
    import spark.implicits._
    // variant-1 users never convert (a = 0 in every stratum) while
    // variant-0 users do (c > 0), so or_num = 0 with or_den > 0 —
    // ln(0) is an error in BOTH engines without the guard (ADVICE r12)
    val v0 = uidsOfVariant(0, 3)
    val v1 = uidsOfVariant(1, 2)
    val rows =
      v0.take(2).zipWithIndex.map { case (u, i) =>
        (i.toLong, ts("2024-01-10 00:00:00"), u, "purchase", 100.0, "{}")
      } ++ Seq((10L, ts("2024-01-10 00:00:00"), v0(2), "view", 1.0, "{}")) ++
      v1.zipWithIndex.map { case (u, i) =>
        (20L + i, ts("2024-01-10 00:00:00"), u, "view", 1.0, "{}")
      }
    val dir = stage("events",
      rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
    val r = Behavior.mantelHaenszel(spark, dir).head()
    // one stratum (every user has 1 event): a=0 b=2 c=2 d=1, n=5
    r.getAs[Long]("n_strata") shouldBe 1L
    r.getAs[Double]("or_mh") shouldBe 0.0
    assert(r.isNullAt(r.fieldIndex("log_or_mh")))
    // the CMH chi2 is still defined: (|0-0.8|-0.5)^2 / 0.36 = 0.25
    r.getAs[Double]("cmh_chi2") shouldBe (0.25 +- 1e-9)
    r.getAs[Boolean]("reject_95") shouldBe false
  }

  behavior of "jsDivergence with all purchase mass in one variant"

  it should "NULL the starved side's KL inside the fold, not divide 0/0" in {
    import spark.implicits._
    // every purchase belongs to variant-0 users -> n_b = 0 while buckets
    // carry ca > 0 mass: the a-side mixture term divides by n_b INSIDE
    // the fold lambda, which must short-circuit to NULL there (a guard
    // in the projection above cannot stop that division — ADVICE r12)
    val v0 = uidsOfVariant(0, 3)
    val v1 = uidsOfVariant(1, 2)
    val rows =
      v0.zipWithIndex.map { case (u, i) =>
        (i.toLong, ts("2024-01-10 00:00:00"), u, "purchase",
          20.0 * (i + 1), "{}")
      } ++ v1.zipWithIndex.map { case (u, i) =>
        (30L + i, ts("2024-01-10 00:00:00"), u, "view", 1.0, "{}")
      }
    val dir = stage("events",
      rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
    val r = Behavior.jsDivergence(spark, dir).head()
    r.getAs[Long]("n_a") shouldBe 3L
    r.getAs[Long]("n_b") shouldBe 0L
    assert(r.isNullAt(r.fieldIndex("kl_a_to_mix")))
    // the surviving side's KL is a genuine 0.0 (every cb = 0 term)
    r.getAs[Double]("kl_b_to_mix") shouldBe 0.0
    assert(r.isNullAt(r.fieldIndex("js_nats")))
  }

  behavior of "ipwAte over an empty fact table"

  it should "render NULL betas through the fold-extraction path" in {
    import spark.implicits._
    // pins the round-13 finding: over an AQE-emptied scan, a
    // downstream round(b[0]) extraction of the naked Newton fold read
    // the fold's INIT elements (0.0) instead of the det-guard NULLs;
    // the Column-level empty-census wrapper is the shape that
    // evaluates correctly
    val empty = Seq.empty[(Long, Long, Long, Int, Double, Double, Double,
      Double, String, String, java.sql.Timestamp)]
      .toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
        "l_returnflag", "l_linestatus", "l_shipdate")
    val dir = stage("lineitem", empty)
    val r = Analytics.ipwAte(spark, dir).head()
    assert(r.isNullAt(r.fieldIndex("beta0")))
    assert(r.isNullAt(r.fieldIndex("beta_quantity")))
    assert(r.isNullAt(r.fieldIndex("ate_hajek")))
    val r2 = Analytics.drAte(spark, dir).head()
    assert(r2.isNullAt(r2.fieldIndex("prop_beta_qty")))
    assert(r2.isNullAt(r2.fieldIndex("outcome_beta_t")))
  }

  behavior of "rmst on a corpus with no signups"

  it should "emit zero rows, matching the oracle's unreachable seed" in {
    import spark.implicits._
    val rows = Seq(
      (1L, ts("2024-01-10 00:00:00"), 7L, "view", 1.0, "{}"),
      (2L, ts("2024-01-11 00:00:00"), 8L, "purchase", 50.0, "{}"))
    val dir = stage("events",
      rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
    Behavior.rmst(spark, dir).count() shouldBe 0L
  }

  behavior of "pacf on a series with no lag pairs"

  it should "emit one NULL row per lag instead of indexing out of bounds" in {
    import spark.implicits._
    // three orders far apart: every lag 1..K has zero day pairs, so the
    // rho list is EMPTY and every access must read NULL (get()), not
    // raise the ANSI array-index error
    val rows = Seq(
      (1L, 1L, "O", 100.0, ts("1995-01-01 00:00:00"), "1-URGENT"),
      (2L, 2L, "O", 200.0, ts("1996-06-15 00:00:00"), "1-URGENT"),
      (3L, 3L, "O", 300.0, ts("1997-12-31 00:00:00"), "1-URGENT"))
    val dir = stage("orders", rows.toDF("o_orderkey", "o_custkey",
      "o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority"))
    val out = TimeSeries.pacfDailyRevenue(spark, dir).collect()
    out.length shouldBe TimeSeries.pacfMaxLag
    out.foreach(r => assert(r.isNullAt(r.fieldIndex("pacf"))))
  }

  behavior of "cochranArmitageTrend over an empty fact table"

  it should "emit the NULL-degenerate row without evaluating r/n" in {
    import spark.implicits._
    val empty = Seq.empty[(Long, Long, Long, Int, Double, Double, Double,
      Double, String, String, java.sql.Timestamp)]
      .toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
        "l_returnflag", "l_linestatus", "l_shipdate")
    val dir = stage("lineitem", empty)
    val r = Analytics.cochranArmitageTrend(spark, dir).head()
    r.getAs[Long]("k") shouldBe 0L
    assert(r.isNullAt(r.fieldIndex("n_total")))
    assert(r.isNullAt(r.fieldIndex("n_returned")))
    assert(r.isNullAt(r.fieldIndex("z_trend")))
  }
}
