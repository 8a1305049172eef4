package graft.ops

import org.apache.spark.sql.functions._

import graft.GraftTestBase

class BehaviorSpec extends GraftTestBase {

  behavior of "funnelCounts"

  it should "produce a monotonically shrinking funnel bounded by the user count" in {
    val r = Behavior.funnelCounts(spark, sf).head()
    val (v, vc, vcp) = (r.getAs[Long]("n_view"), r.getAs[Long]("n_view_click"),
      r.getAs[Long]("n_full_funnel"))
    val users = graft.Tables.events(spark, sf).select("user_id").distinct().count()
    v should be <= users
    vc should be <= v
    vcp should be <= vc
    v should be > 0L
  }

  behavior of "cohortRetention"

  it should "cover every user at offset 0 and never emit negative offsets" in {
    val rows = Behavior.cohortRetention(spark, sf).collect()
    rows.map(_.getAs[Int]("day_offset")).min shouldBe 0
    // offset 0 contains each user's first-seen day, so summing over
    // cohorts at offset 0 counts every user exactly once
    rows.filter(_.getAs[Int]("day_offset") == 0)
      .map(_.getAs[Long]("n_users")).sum shouldBe
      graft.Tables.events(spark, sf).select("user_id").distinct().count()
  }

  it should "never retain more users at an offset than the cohort holds at day 0" in {
    val rows = Behavior.cohortRetention(spark, sf).collect()
    val day0 = rows.filter(_.getAs[Int]("day_offset") == 0)
      .map(r => r.getAs[java.sql.Date]("cohort_day") -> r.getAs[Long]("n_users")).toMap
    rows.foreach { r =>
      r.getAs[Long]("n_users") should be <= day0(r.getAs[java.sql.Date]("cohort_day"))
    }
  }

  behavior of "cdcMerge"

  it should "classify every key and preserve base keys exactly once" in {
    val out = Merge.cdcMerge(spark, sf).cache()
    try {
      val orders = graft.Tables.orders(spark, sf)
      // output keys are unique (merge is keyed)
      out.count() shouldBe out.select("o_orderkey").distinct().count()
      val byAction = out.groupBy("action").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      byAction.keySet shouldBe Set("insert", "update", "keep")
      // every delta key (o_orderkey % 5 == 0) surfaces as insert or update
      byAction("insert") + byAction("update") shouldBe
        orders.filter(col("o_orderkey") % 5 === 0).count()
      // updated rows carry the restated status
      out.filter(col("action") === "update" || col("action") === "insert")
        .filter(col("o_orderstatus") =!= "U").count() shouldBe 0
      // kept rows are bit-identical to their base column values
      val basePrices = orders
        .filter(col("o_orderdate") < to_timestamp(lit("1997-01-01 00:00:00")) &&
          col("o_orderkey") % 5 =!= 0)
        .select(col("o_orderkey"), col("o_totalprice"))
      out.filter(col("action") === "keep")
        .select(col("o_orderkey"), col("o_totalprice"))
        .exceptAll(basePrices).count() shouldBe 0
    } finally out.unpersist()
  }

  behavior of "abTestRevenue"

  it should "reproduce the Welch z from a driver-side replica of the hash split" in {
    import java.security.MessageDigest
    def variant(uid: Long): Int = {
      val hex = MessageDigest.getInstance("MD5")
        .digest(uid.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(15)
      (java.lang.Long.parseLong(hex, 16) % 2).toInt
    }
    val perUser = graft.Tables.events(spark, sf)
      .select("user_id", "event_type", "value").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
      .groupBy(_._1).toSeq.map { case (uid, es) =>
        variant(uid) -> es.filter(_._2 == "purchase")
          .map(e => BigDecimal(e._3).setScale(2, BigDecimal.RoundingMode.HALF_UP))
          .sum
      }
    val byV = perUser.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    def stats(xs: Seq[BigDecimal]): (Long, Double, Double) = {
      val n = xs.length
      val sx = xs.sum.toDouble
      val sxx = xs.map(x => (x * x).setScale(6)).sum.toDouble
      val mean = sx / n
      val v = (sxx - sx * sx / n) / (n - 1.0)
      (n.toLong, mean, v)
    }
    val (na, ma, va) = stats(byV(0)); val (nb, mb, vb) = stats(byV(1))
    val z = (mb - ma) / math.sqrt(va / na + vb / nb)
    val r = graft.ops.Behavior.abTestRevenue(spark, sf).head()
    r.getAs[Long]("n_a") shouldBe na
    r.getAs[Long]("n_b") shouldBe nb
    r.getAs[Double]("mean_a") shouldBe ma +- 1e-9
    r.getAs[Double]("mean_b") shouldBe mb +- 1e-9
    r.getAs[Double]("z_stat") shouldBe z +- 1e-9
    r.getAs[Boolean]("significant_95") shouldBe (math.abs(z) > 1.959963984540054)
    // the assignment is genuinely split (neither arm empty; sf0.001 has
    // only 15 users, so arms are single digits)
    na should be > 2L
    nb should be > 2L
  }

  behavior of "associationRules"

  it should "derive confidence and lift consistent with raw basket counts" in {
    val baskets = graft.Tables.lineitem(spark, sf)
      .select("l_orderkey", "l_partkey").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val nBaskets = baskets.map(_._1).distinct.length.toLong
    val itemCount = baskets.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val byOrder = baskets.groupBy(_._1).view
      .mapValues(_.map(_._2).toSet).values.toSeq
    val rows = graft.ops.Behavior.associationRules(spark, sf).collect()
    rows.length should be <= graft.ops.Behavior.arTopRules
    rows.length should be >= 1
    rows.foreach { r =>
      val (a, b) = (r.getAs[Long]("ante"), r.getAs[Long]("cons"))
      val cab = byOrder.count(s => s(a) && s(b)).toLong
      r.getAs[Long]("c_ab") shouldBe cab
      cab should be >= graft.ops.Behavior.arMinPairOrders
      r.getAs[Long]("c_a") shouldBe itemCount(a)
      r.getAs[Long]("c_b") shouldBe itemCount(b)
      r.getAs[Long]("confidence_bp") shouldBe cab * 10000 / itemCount(a)
      r.getAs[Long]("lift_bp") shouldBe
        cab * 10000 * nBaskets / (itemCount(a) * itemCount(b))
    }
    // lift-descending order with deterministic tie-break
    val key = rows.map(r => (-r.getAs[Long]("lift_bp"),
      r.getAs[Long]("ante"), r.getAs[Long]("cons"))).toSeq
    key shouldBe key.sorted
  }

  behavior of "ksTest"

  it should "find the exact sup-distance step from a brute-force ECDF scan" in {
    import java.security.MessageDigest
    def variant(uid: Long): Int = {
      val hex = MessageDigest.getInstance("MD5")
        .digest(uid.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(15)
      (java.lang.Long.parseLong(hex, 16) % 2).toInt
    }
    val obs = graft.Tables.events(spark, sf)
      .select("user_id", "event_type", "value").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
      .filter(_._2 == "purchase")
      .map(e => (variant(e._1),
        BigDecimal(e._3).setScale(2, BigDecimal.RoundingMode.HALF_UP)))
    val n1 = obs.count(_._1 == 1).toLong
    val n0 = obs.length - n1
    val values = obs.map(_._2).distinct.sorted
    val terms = values.map { v =>
      val c1 = obs.count(e => e._1 == 1 && e._2 <= v).toLong
      val c0 = obs.count(e => e._1 == 0 && e._2 <= v).toLong
      (v, math.abs(c1 * n0 - c0 * n1))
    }
    val (bestV, bestD) = terms.maxBy { case (v, t) => (t, -v) }
    val r = graft.ops.Behavior.ksTest(spark, sf).head()
    r.getAs[Long]("n0") shouldBe n0
    r.getAs[Long]("n1") shouldBe n1
    r.getAs[Long]("d_scaled") shouldBe bestD
    // d_at_value now ships as DOUBLE (2-dp decimals are double-exact)
    r.getAs[Double]("d_at_value") shouldBe bestV.toDouble
    val c = bestD.toDouble / (n0 * n1).toDouble *
      math.sqrt(n0.toDouble * n1 / (n0 + n1).toDouble)
    r.getAs[Double]("ks_stat") shouldBe c +- 1e-12
  }

  behavior of "sequencePattern"

  it should "count contiguous and gapped funnel patterns like a driver replica" in {
    val ev = graft.Tables.events(spark, sf)
      .select("user_id", "ts", "event_id", "event_type").collect()
      .map(r => (r.getLong(0), r.getAs[java.sql.Timestamp](1),
        r.getLong(2), r.getString(3)))
    val byUserDay = ev.groupBy(e =>
      (e._1, e._2.toLocalDateTime.toLocalDate))
    val seqs = byUserDay.view.mapValues { es =>
      es.sortBy(e => (e._2.getTime, e._3)).map(_._4.head).mkString
    }.toMap
    val want = seqs.groupBy(_._1._2).map { case (day, m) =>
      val ss = m.values.toSeq
      (day.toString,
        ss.length.toLong,
        ss.count("vcp".r.findAllMatchIn(_).nonEmpty).toLong,
        ss.map("vcp".r.findAllMatchIn(_).length.toLong).sum,
        ss.count(_.matches(".*v.*c.*p.*")).toLong)
    }.toSet
    val got = graft.ops.Behavior.sequencePattern(spark, sf).collect()
      .map(r => (r.getAs[java.sql.Timestamp]("day").toLocalDateTime
          .toLocalDate.toString,
        r.getAs[Long]("n_user_days"), r.getAs[Long]("n_contig"),
        r.getAs[Long]("total_contig"), r.getAs[Long]("n_subseq"))).toSet
    got shouldBe want
    // the pattern must genuinely occur somewhere
    want.map(_._4).sum should be >= 1L
  }

  behavior of "mannWhitney"

  it should "reproduce the midrank U statistic from a brute-force ranking" in {
    import java.security.MessageDigest
    def variant(uid: Long): Int = {
      val hex = MessageDigest.getInstance("MD5")
        .digest(uid.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(15)
      (java.lang.Long.parseLong(hex, 16) % 2).toInt
    }
    val obs = graft.Tables.events(spark, sf)
      .select("user_id", "event_type", "value").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
      .filter(_._2 == "purchase")
      .map(e => (variant(e._1),
        BigDecimal(e._3).setScale(2, BigDecimal.RoundingMode.HALF_UP)))
    val sorted = obs.sortBy(_._2)
    // brute midranks: average 1-based rank within each tied run, doubled
    val withRank2 = sorted.zipWithIndex.groupBy(_._1._2).toSeq.flatMap {
      case (_, grp) =>
        val r2 = grp.map(_._2 + 1L).sum * 2 / grp.length // 2*midrank
        grp.toSeq.map { case ((v, _), _) => (v, r2) }
    }
    val n1 = obs.count(_._1 == 1).toLong
    val n0 = obs.length - n1
    val r1x2 = withRank2.collect { case (1, r2) => r2 }.sum
    val u1x2 = r1x2 - n1 * (n1 + 1)
    val tieSum = obs.groupBy(_._2).values
      .map(g => g.length.toLong).map(t => t * t * t - t).sum
    val r = graft.ops.Behavior.mannWhitney(spark, sf).head()
    r.getAs[Long]("n0") shouldBe n0
    r.getAs[Long]("n1") shouldBe n1
    r.getAs[Long]("u1_x2") shouldBe u1x2
    r.getAs[Long]("tie_sum") shouldBe tieSum
    // U0 + U1 = n0*n1 (the complement identity) must hold exactly
    u1x2 should be <= 2 * n0 * n1
    u1x2 should be >= 0L
  }

  behavior of "clickAttribution"

  it should "match a brute-force per-user touch scan" in {
    val ev = graft.Tables.events(spark, sf)
      .select("event_id", "user_id", "ts", "event_type").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getAs[java.sql.Timestamp](2),
        r.getString(3)))
    // full-precision event-time ordering (ms-truncated getTime would
    // mis-break same-millisecond ties the engine orders by µs)
    def micros(t: java.sql.Timestamp): Long =
      (t.getTime / 1000L) * 1000000L + t.getNanos / 1000L
    val clicksByUser = ev.filter(_._4 == "click").groupBy(_._2)
    val purchases = ev.filter(_._4 == "purchase")
    val got = graft.ops.Behavior.clickAttribution(spark, sf).collect()
      .map(r => r.getAs[Long]("event_id") ->
        ((Option(r.getAs[java.lang.Long]("last_touch_id")).map(_.longValue),
          Option(r.getAs[java.lang.Long]("first_touch_id")).map(_.longValue))))
      .toMap
    got.keySet shouldBe purchases.map(_._1).toSet
    purchases.foreach { case (pid, uid, pts, _) =>
      val prior = clicksByUser.getOrElse(uid, Array.empty)
        .filter(c => micros(c._3) < micros(pts) ||
          (micros(c._3) == micros(pts) && c._1 <= pid))
      val expect =
        if (prior.isEmpty) (None, None)
        else (Some(prior.maxBy(c => (micros(c._3), c._1))._1),
          Some(prior.minBy(c => (micros(c._3), c._1))._1))
      got(pid) shouldBe expect
    }
  }

  behavior of "timeToConvert"

  it should "summarize exactly the converters' first-view-to-first-purchase gaps" in {
    val ev = graft.Tables.events(spark, sf)
      .select("user_id", "ts", "event_type").collect()
      .map(r => (r.getLong(0), r.getAs[java.sql.Timestamp](1), r.getString(2)))
    def micros(t: java.sql.Timestamp): Long =
      (t.getTime / 1000L) * 1000000L + t.getNanos / 1000L
    val gaps = ev.groupBy(_._1).values.flatMap { es =>
      val fv = es.filter(_._3 == "view").map(e => micros(e._2)).minOption
      val fp = es.filter(_._3 == "purchase").map(e => micros(e._2)).minOption
      (fv, fp) match {
        case (Some(v), Some(p)) if v < p => Some(p / 1000000 - v / 1000000)
        case _ => None
      }
    }.toSeq.sorted
    val r = graft.ops.Behavior.timeToConvert(spark, sf).head()
    r.getAs[Long]("n_converters") shouldBe gaps.length.toLong
    r.getAs[Long]("min_sec") shouldBe gaps.head
    r.getAs[Long]("max_sec") shouldBe gaps.last
    Seq(0.25 -> "p25_sec", 0.5 -> "p50_sec", 0.75 -> "p75_sec").foreach {
      case (q, c) =>
        r.getAs[Long](c) shouldBe
          gaps(math.max(0, math.ceil(q * gaps.length).toInt - 1))
    }
  }

  behavior of "incrementalAgg"

  it should "equal the full recompute, including the split-month merge" in {
    import org.apache.spark.sql.functions.{date_trunc, lit, sum, count}
    val out = Merge.incrementalAgg(spark, sf).cache()
    try {
      val full = graft.Tables.orders(spark, sf)
        .groupBy(date_trunc("month", col("o_orderdate")).as("month"),
          col("o_orderstatus"))
        .agg(sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
          .as("revenue"), count(lit(1)).as("n_orders"))
      out.exceptAll(full).count() shouldBe 0
      full.exceptAll(out).count() shouldBe 0
      // the split month itself must be present — it is the group whose
      // value only comes out right if base and delta partials truly merge
      out.filter(col("month") === to_timestamp(lit("1996-07-01 00:00:00")))
        .count() should be > 0L
      // and both sides of the split are non-trivial
      val cut = to_timestamp(lit(Merge.incrCutoff))
      val orders = graft.Tables.orders(spark, sf)
      orders.filter(col("o_orderdate") < cut).count() should be > 0L
      orders.filter(col("o_orderdate") >= cut).count() should be > 0L
    } finally out.unpersist()
  }

  behavior of "snapshotDiff"

  it should "classify exactly the planted removals and restatements" in {
    val out = Merge.snapshotDiff(spark, sf).collect()
    val byType = out.groupBy(_.getAs[String]("change_type"))
      .map { case (k, v) => k -> v.map(_.getAs[Long]("o_orderkey")).toSet }
    val keys = graft.Tables.orders(spark, sf)
      .select("o_orderkey").collect().map(_.getLong(0)).toSet
    // v2 never adds keys; every 11th is removed; every 7th surviving key
    // is price-restated
    byType.getOrElse("added", Set.empty) shouldBe empty
    byType.getOrElse("removed", Set.empty) shouldBe keys.filter(_ % 11 == 0)
    byType.getOrElse("changed", Set.empty) shouldBe
      keys.filter(k => k % 7 == 0 && k % 11 != 0)
    // changed rows carry an exact +10.00 restatement
    out.filter(_.getAs[String]("change_type") == "changed").foreach { r =>
      r.getAs[Double]("price_after") shouldBe
        (r.getAs[Double]("price_before") + 10.0) +- 1e-9
    }
  }

  behavior of "topEventPaths"

  it should "emit at most 20 descending-count paths of at most 5 steps" in {
    val rows = Behavior.topEventPaths(spark, sf).collect()
    rows.length should be <= 20
    rows.length should be > 0
    rows.foreach(r => r.getAs[String]("path").split(">").length should be <= 5)
    val users = graft.Tables.events(spark, sf).select("user_id").distinct().count()
    rows.map(_.getAs[Long]("n_users")).sum should be <= users
    val ns = rows.map(_.getAs[Long]("n_users")).toSeq
    ns.zip(ns.tail).foreach { case (a, b) => a should be >= b }
  }

  behavior of "transitionMatrix"

  it should "emit per-prev probability rows summing to 1 and conserve pair counts" in {
    val rows = Behavior.transitionMatrix(spark, sf).collect()
    rows.groupBy(_.getAs[String]("prev_type")).values.foreach { g =>
      g.map(_.getAs[Double]("p")).sum shouldBe 1.0 +- 1e-9
    }
    // every non-first event contributes exactly one transition
    val e = graft.Tables.events(spark, sf)
    rows.map(_.getAs[Long]("n")).sum shouldBe
      e.count() - e.select("user_id").distinct().count()
  }

  behavior of "rollingActiveUsers"

  it should "bound WAU between DAU and the trailing-7-day DAU sum" in {
    val rows = Behavior.rollingActiveUsers(spark, sf).collect()
      .map(r => (r.getAs[java.sql.Date]("day").toLocalDate.toEpochDay,
        r.getAs[Long]("dau"), r.getAs[Long]("wau")))
      .sortBy(_._1)
    rows.length should be > 0
    val dauByDay = rows.map(t => t._1 -> t._2).toMap
    val totalUsers = graft.Tables.events(spark, sf)
      .select("user_id").distinct().count()
    rows.foreach { case (day, dau, wau) =>
      wau should be >= dau
      wau should be <= (0 to 6).map(k => dauByDay.getOrElse(day - k, 0L)).sum
      wau should be <= totalUsers
    }
  }

  it should "estimate WAU within HLL error of the exact support-explosion form" in {
    val exact = Behavior.rollingActiveUsers(spark, sf).collect()
      .map(r => r.getAs[java.sql.Date]("day") -> r.getAs[Long]("wau")).toMap
    val est = Behavior.rollingActiveUsersSketch(spark, sf).collect()
      .map(r => r.getAs[java.sql.Date]("day") ->
        ((r.getAs[Long]("wau_exact"), r.getAs[Boolean]("wau_hll_ok")))).toMap
    est.keySet shouldBe exact.keySet
    est.foreach { case (day, (wauExact, ok)) =>
      // the error-vs-exact bound is computed IN the query (that's what
      // makes it driver-gradeable); the spec asserts it fired true and
      // that the exact companion matches the exact form
      wauExact shouldBe exact(day)
      withClue(s"day $day: ") { ok shouldBe true }
    }
  }

  behavior of "activityStreaks"

  it should "match a driver-side consecutive-day streak scan" in {
    val byUser = graft.Tables.events(spark, sf)
      .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
      .collect()
      .map(r => (r.getLong(0), r.getAs[java.sql.Date](1).toLocalDate.toEpochDay))
      .groupBy(_._1).map { case (u, rows) => u -> rows.map(_._2).sorted }
    val want = byUser.map { case (u, days) =>
      // split the sorted day list at any gap > 1
      val streaks = scala.collection.mutable.ArrayBuffer(1L)
      days.sliding(2).foreach {
        case Array(a, b) => if (b - a == 1) streaks(streaks.length - 1) += 1
                            else streaks += 1L
        case _ =>
      }
      (u, days.length.toLong, streaks.length.toLong, streaks.max)
    }.toSet
    val got = Behavior.activityStreaks(spark, sf).collect()
      .map(r => (r.getLong(0), r.getAs[Long]("n_active_days"),
        r.getAs[Long]("n_streaks"), r.getAs[Long]("longest_streak"))).toSet
    got shouldBe want
    // the data must actually contain a multi-day streak or the island
    // arithmetic is untested
    want.map(_._4).max should be >= 2L
  }

  behavior of "activityBitmap"

  it should "agree with the islands rendering on day counts and adjacency" in {
    val st = Behavior.activityStreaks(spark, sf).collect()
      .map(r => r.getLong(0) ->
        ((r.getAs[Long]("n_active_days"), r.getAs[Long]("n_streaks")))).toMap
    val bm = Behavior.activityBitmap(spark, sf).collect()
    bm.length shouldBe st.size
    bm.foreach { r =>
      val (nd, ns) = st(r.getLong(0))
      r.getAs[Long]("n_active_days") shouldBe nd
      // each streak of length L contributes L-1 adjacent-day pairs
      r.getAs[Long]("n_adjacent_days") shouldBe nd - ns
      java.lang.Long.bitCount(r.getAs[Long]("activity_mask")).toLong shouldBe nd
    }
  }

  behavior of "wilsonDailyCtr"

  it should "bound the click share from below with the exact Wilson formula" in {
    val z = 1.959963984540054
    val z2 = z * z
    val out = Behavior.wilsonDailyCtr(spark, sf).collect()
    out should not be empty
    out.foreach { r =>
      val v = r.getAs[Long]("n_views")
      val k = r.getAs[Long]("n_clicks")
      val n = (v + k).toDouble
      val phat = k.toDouble / n
      val want = (phat + z2 / (n * 2) -
        z * math.sqrt(phat * (1.0 - phat) / n + z2 / (n * n * 4))) /
        (1.0 + z2 / n)
      r.getAs[Double]("click_share") shouldBe phat
      r.getAs[Double]("wilson_lb") shouldBe want
      // the bound is conservative: strictly below the point estimate
      // whenever the day saw any traffic mix at all
      r.getAs[Double]("wilson_lb") should be < phat
      r.getAs[Double]("wilson_lb") should be >= 0.0
    }
  }

  behavior of "coPurchasePairs"

  it should "match the brute-force distinct self-join rendering exactly" in {
    val out = Behavior.coPurchasePairs(spark, sf)
    val l = graft.Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_partkey")).distinct()
    val brute = l.toDF("ok", "pa").join(l.toDF("ok", "pb"), "ok")
      .filter(col("pa") < col("pb"))
      .groupBy("pa", "pb").count().filter(col("count") >= 2)
      .select(col("pa").as("part_a"), col("pb").as("part_b"),
        col("count").as("n_orders"))
    out.exceptAll(brute).count() shouldBe 0
    brute.exceptAll(out).count() shouldBe 0
  }

  behavior of "kaplanMeier"

  it should "match a driver-side product-limit computation" in {
    val ev = graft.Tables.events(spark, sf)
      .select(col("user_id"), col("event_type"), unix_timestamp(col("ts")).as("sec"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val tEnd = ev.map(_._3).max
    val durs = ev.groupBy(_._1).values.flatMap { rows =>
      val t0 = rows.filter(_._2 == "signup").map(_._3).minOption
      val tp = rows.filter(_._2 == "purchase").map(_._3).minOption
      t0.map { s0 =>
        tp.filter(_ >= s0) match {
          case Some(p) => ((p - s0) / 3600L, true)
          case None    => ((tEnd - s0) / 3600L, false)
        }
      }
    }.toSeq
    val byHour = durs.groupBy(_._1).map { case (h, xs) =>
      (h, xs.count(_._2).toLong, xs.count(!_._2).toLong)
    }.toSeq.sortBy(_._1)
    var atRisk = durs.size.toLong
    var logS = 0.0
    val want = byHour.flatMap { case (h, d, c) =>
      logS += math.log(1.0 - d.toDouble / atRisk)
      val row = if (d > 0) Some((h, atRisk, d, c,
        BigDecimal(math.exp(logS)).setScale(6, BigDecimal.RoundingMode.HALF_UP)
          .toDouble)) else None
      atRisk -= d + c
      row
    }
    val out = Behavior.kaplanMeier(spark, sf).orderBy("dur_h").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))
    out.length shouldBe want.length
    out.zip(want).foreach { case (got, exp) =>
      got._1 shouldBe exp._1
      got._2 shouldBe exp._2
      got._3 shouldBe exp._3
      got._4 shouldBe exp._4
      got._5 shouldBe exp._5 +- 2e-6
    }
    // the curve is a survival function: nonincreasing from ≤ 1
    out.map(_._5).sliding(2).foreach {
      case Array(a, b) => b should be <= a + 1e-12
      case _ =>
    }
  }

  behavior of "the experiment arm rule"

  it should "match the plain-Scala md5 hashes for user_id 0 to 999" in {
    val rows = spark.range(0, 1000).select(col("id").as("user_id"))
      .select(col("user_id"), Behavior.arm.as("arm"),
        Behavior.userBucket(16).as("h"))
      .collect()
    rows should have length 1000
    rows.foreach { r =>
      val u = r.getLong(0)
      r.getInt(1) shouldBe graft.Scratch.variantOf(u)
      r.getInt(1).toLong shouldBe graft.streaming.EventStreams.variantHash(u)
      r.getLong(2) shouldBe
        java.lang.Long.parseLong(graft.Scratch.md5hex(u.toString).take(15), 16) % 16
    }
  }
}
