package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.GraftTestBase
import graft.Scratch.{pcont, pdisc, r4, r6, variantOf}

/** Property tests pinning the third-implementation battery's SCRATCH
  * forms against the engine expressions on GENERATED inputs — the
  * batteries (ThirdImplSpec 1–46) recompute each statistic over the
  * fixed corpus, which can't reach every edge (empty strings, equal
  * strings, singleton groups, tie runs at selection boundaries,
  * boundary coordinates). Raw ScalaCheck with a fixed seed ladder,
  * the EquivalencePropSpec pattern.
  */
class ScratchPropSpec extends GraftTestBase {

  private def samples[A](g: Gen[A], n: Int, seed: Long): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(seed + i)))

  private def stage(name: String, df: DataFrame): String = {
    val dir = tempDir("graft-sprop")
    df.write.mode("overwrite").parquet(s"$dir/$name.parquet")
    dir
  }

  // ---- the scratch forms under test (copied from the batteries on
  // purpose: the property pins THIS rendering, not a shared helper) ----

  private def scratchJw(a: String, b: String): Double = {
    if (a.isEmpty || b.isEmpty) return 0.0
    if (a == b) return 1.0
    val win = math.max(math.max(a.length, b.length) / 2 - 1, 0)
    val bTaken = new Array[Boolean](b.length)
    val aIdx = scala.collection.mutable.ArrayBuffer.empty[Int]
    val bIdx = scala.collection.mutable.ArrayBuffer.empty[Int]
    for (i <- a.indices) {
      var j = math.max(0, i - win)
      val hi = math.min(b.length - 1, i + win)
      var found = false
      while (j <= hi && !found) {
        if (!bTaken(j) && a(i) == b(j)) {
          bTaken(j) = true; aIdx += i; bIdx += j; found = true
        }
        j += 1
      }
    }
    val m = aIdx.length
    if (m == 0) return 0.0
    val bOrdered = bIdx.sorted
    val t = aIdx.indices.count(k => a(aIdx(k)) != b(bOrdered(k)))
    val jaro = (m.toDouble / a.length + m.toDouble / b.length +
      (m.toDouble - t / 2) / m) / 3.0
    if (jaro <= 0.7) return jaro
    val l = a.zip(b).take(4).takeWhile { case (x, y) => x == y }.length
    jaro + l * 0.1 * (1.0 - jaro)
  }

  private def scratchLev(a: String, b: String): Int = {
    var prev = Array.tabulate(b.length + 1)(identity)
    var cur = new Array[Int](b.length + 1)
    for (i <- 1 to a.length) {
      cur(0) = i
      for (j <- 1 to b.length) {
        val sub = prev(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1)
        cur(j) = math.min(math.min(prev(j) + 1, cur(j - 1) + 1), sub)
      }
      val t = prev; prev = cur; cur = t
    }
    prev(b.length)
  }

  // ---- generators ----

  /** ASCII word pairs biased toward the JW edge cases: empties, exact
    * equals, shared prefixes, transposed middles. */
  private val wordPair: Gen[(String, String)] = for {
    base <- Gen.listOfN(8, Gen.alphaLowerChar).map(_.mkString)
    mode <- Gen.choose(0, 5)
    a = base
    b <- mode match {
      case 0 => Gen.const("")
      case 1 => Gen.const(base)
      case 2 => Gen.listOfN(8, Gen.alphaLowerChar).map(_.mkString)
      case 3 => Gen.const(base.take(4) + base.drop(4).reverse)  // transposed tail
      case 4 => Gen.alphaLowerChar.map(c => base.updated(5, c)) // one substitution
      case _ => Gen.choose(1, 7).map(k => base.take(k))         // prefix truncation
    }
  } yield (a, b)

  behavior of "scratch Jaro-Winkler vs the native expression"

  it should "agree on generated edge-case pairs" in {
    import spark.implicits._
    val pairs = samples(wordPair, 300, seed = 101L).distinct
    val got = pairs.toDF("a", "b")
      .select(graft.functions.GraftFunctions.jaroWinkler(col("a"), col("b")))
      .collect().map(_.getDouble(0))
    pairs.zip(got).foreach { case ((a, b), g) =>
      g shouldBe (scratchJw(a, b) +- 1e-12)
    }
  }

  behavior of "scratch Levenshtein DP vs the Spark builtin"

  it should "agree on generated edge-case pairs" in {
    import spark.implicits._
    val pairs = samples(wordPair, 300, seed = 202L).distinct
    val got = pairs.toDF("a", "b")
      .select(levenshtein(col("a"), col("b"))).collect().map(_.getInt(0))
    pairs.zip(got).foreach { case ((a, b), g) =>
      g shouldBe scratchLev(a, b)
    }
  }

  behavior of "scratch percentile forms vs the engine aggregates"

  it should "agree under tie runs and singleton groups" in {
    import spark.implicits._
    // status S has ONE row; others draw from 5 values so every quartile
    // boundary cuts a tie run
    val order: Gen[(String, Double)] = for {
      st <- Gen.oneOf("A", "A", "B", "B", "S")
      price <- Gen.oneOf(10.25, 10.25, 20.5, 30.75, 40.0)
    } yield (st, price)
    val rows = samples(order, 400, seed = 303L).zipWithIndex
      .map { case ((st, p), i) => (st, p, i.toLong) }
      .filter { case (st, _, i) => st != "S" || i == 0 } // singleton S
      .map { case (st, p, i) =>
        (i, i % 7, st, p, new java.sql.Timestamp(0L), "1-URGENT")
      }
    val dir = stage("orders", rows.toDF("o_orderkey", "o_custkey",
      "o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority"))
    val byStatus = rows.groupBy(_._3)
      .map { case (st, rs) => st -> rs.map(_._4).toVector.sorted }
    Analytics.percentilesByStatus(spark, dir).collect().foreach { r =>
      val v = byStatus(r.getAs[String]("o_orderstatus"))
      r.getAs[Double]("price_p50") shouldBe (r4(pcont(v, 0.5)) +- 1e-9)
      r.getAs[Double]("price_p90") shouldBe (r4(pcont(v, 0.9)) +- 1e-9)
    }
    Analytics.percentileDiscByStatus(spark, dir).collect().foreach { r =>
      val v = byStatus(r.getAs[String]("o_orderstatus"))
      r.getAs[Double]("p25_disc") shouldBe pdisc(v, 0.25)
      r.getAs[Double]("p50_disc") shouldBe pdisc(v, 0.5)
      r.getAs[Double]("p75_disc") shouldBe pdisc(v, 0.75)
    }
  }

  behavior of "scratch weighted-median walk vs the window form"

  it should "agree when the crossing lands inside a tie run" in {
    import spark.implicits._
    // 4 distinct prices, huge tied weights -> the 2*cum >= tot crossing
    // always lands inside a run of equal prices
    val li: Gen[(String, Double, Double)] = for {
      fl <- Gen.oneOf("A", "N", "R")
      price <- Gen.oneOf(11.11, 22.22, 33.33, 44.44)
      qty <- Gen.choose(1, 50).map(_.toDouble)
    } yield (fl, price, qty)
    val rows = samples(li, 500, seed = 404L)
    val dir = stage("lineitem",
      rows.toDF("l_returnflag", "l_extendedprice", "l_quantity"))
    val expect = rows.groupBy(_._1).map { case (fl, rs) =>
      val byPrice = rs.groupBy(_._2).map { case (p, xs) =>
        (p, xs.map(x => BigInt((x._3 * 100).round)).sum)
      }.toVector.sortBy(_._1)
      val tot = byPrice.map(_._2).sum
      var cum = BigInt(0)
      fl -> byPrice.find { case (_, w) => cum += w; cum * 2 >= tot }.get._1
    }
    Analytics.weightedMedianPrice(spark, dir).collect().foreach { r =>
      r.getAs[Double]("weighted_median_price") shouldBe
        expect(r.getAs[String]("l_returnflag"))
    }
  }

  behavior of "scratch Z-order interleave vs the key expression"

  it should "agree across the coordinate grid including boundaries" in {
    import spark.implicits._
    val coord: Gen[(Long, Long)] = for {
      x <- Gen.frequency((3, Gen.choose(0L, 255L)), (1, Gen.oneOf(0L, 1L, 254L, 255L)))
      y <- Gen.frequency((3, Gen.choose(0L, 255L)), (1, Gen.oneOf(0L, 1L, 254L, 255L)))
    } yield (x, y)
    val pts = samples(coord, 300, seed = 505L).distinct
    val got = pts.toDF("x", "y")
      .select(graft.ops.Layout.zorderKey(col("x"), col("y")))
      .collect().map(_.getLong(0))
    pts.zip(got).foreach { case ((x, y), g) =>
      var z = 0L
      for (i <- 0 until 8)
        z += ((x >> i) & 1L) << (2 * i) | ((y >> i) & 1L) << (2 * i + 1)
      g shouldBe z
    }
  }

  behavior of "scratch Poisson-bootstrap weights vs the engine walk"

  it should "agree on generated order keys including huge ids" in {
    import spark.implicits._
    val key: Gen[Long] = Gen.frequency(
      (3, Gen.choose(1L, 100000L)),
      (1, Gen.choose(2000000000L, Long.MaxValue / 2)))
    val keys = samples(key, 60, seed = 606L).distinct
    val rows = keys.map(k => (k, 100.0 + (k % 900)))
    val dir = stage("orders", rows.toDF("o_orderkey", "o_totalprice"))
    val md = java.security.MessageDigest.getInstance("MD5")
    def weight(k: Long, rep: Int): Int = {
      val hex = md.digest(s"$k|$rep".getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString
      val u = (java.lang.Long.parseLong(hex.take(15), 16) %
        1073741824L).toDouble / 1073741824.0
      Resample.poissonCdf.indexWhere(u < _) match {
        case -1 => 6; case kk => kk
      }
    }
    val expect = (0 until Resample.numReplicates).map { rep =>
      rep -> rows.map { case (k, _) => weight(k, rep).toLong }.sum
    }.toMap
    Resample.bootstrapOrderPrice(spark, dir).collect().foreach { r =>
      r.getAs[Long]("n_eff") shouldBe expect(r.getAs[Int]("replicate"))
    }
  }

  // ================================================================
  // Round-13 guard properties (VERDICT r12 #6): the 19 round-12 edge
  // fixes are pinned against GENERATED degenerate corpora, not just
  // the three hand corpora — zero-variance arms, one-sided purchase
  // mass, empty folds, single-user arms, and the series-length floors.
  // ================================================================

  private def uidsOf(v: Int, n: Int, from: Int = 1): Vector[Long] =
    Iterator.from(from).map(_.toLong).filter(variantOf(_) == v)
      .take(n).toVector

  /** Generated degenerate EVENT corpora: every scenario is a class one
    * of the round-12 sweeps fixed a defect in. Rows follow the events
    * schema (event_id, ts, user_id, event_type, value, props). */
  private def eventCorpora(seed: Long)
      : Seq[(String, Seq[(Long, java.sql.Timestamp, Long, String, Double, String)])] = {
    val rng = new scala.util.Random(seed)
    val day = java.sql.Timestamp.valueOf("2024-01-08 00:00:00")
    def purch(id: Long, u: Long, v: Double) = (id, day, u, "purchase", v, "{}")
    def view(id: Long, u: Long) = (id, day, u, "view", 1.0, "{}")
    val a = uidsOf(0, 4); val b = uidsOf(1, 4)
    Seq(
      // all purchase mass in arm A (the jsDivergence 0/0 class)
      "one_sided_a" -> (
        a.zipWithIndex.map { case (u, i) =>
          purch(i, u, 20.0 + rng.nextInt(60)) } ++
        b.zipWithIndex.map { case (u, i) => view(100 + i, u) }),
      // mirror: all mass in arm B
      "one_sided_b" -> (
        b.zipWithIndex.map { case (u, i) =>
          purch(i, u, 20.0 + rng.nextInt(60)) } ++
        a.zipWithIndex.map { case (u, i) => view(100 + i, u) }),
      // no purchases anywhere (the purchaseless sweep's class)
      "no_purchases" -> (a ++ b).zipWithIndex.map { case (u, i) =>
        view(i, u) },
      // identical revenue everywhere -> zero variance in BOTH arms
      "constant_values" -> (a ++ b).zipWithIndex.map { case (u, i) =>
        purch(i, u, 50.0) },
      // a single-user arm (n - 1 = 0 in the sample variance)
      "single_user_arm" -> (
        Seq(purch(0, a.head, 75.0)) ++
        b.zipWithIndex.map { case (u, i) =>
          purch(10 + i, u, 20.0 + rng.nextInt(60)) }),
      // a healthy corpus as the non-degenerate control
      "mixed" -> (a ++ b).zipWithIndex.flatMap { case (u, i) =>
        Seq(purch(i * 2, u, 10.0 + rng.nextInt(90)), view(i * 2 + 1, u)) })
  }

  private def stageEvents(
      rows: Seq[(Long, java.sql.Timestamp, Long, String, Double, String)]): String = {
    import spark.implicits._
    stage("events",
      rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
  }

  behavior of "guarded statistics on generated degenerate corpora"

  it should "never emit NaN or Infinity — degenerate paths are NULL" in {
    val fns: Seq[(String, (org.apache.spark.sql.SparkSession, String) => DataFrame)] = Seq(
      "ab_test" -> (Behavior.abTestRevenue _),
      "cuped" -> (Behavior.cupedReadout _),
      "power" -> (Behavior.powerAnalysis _),
      "mantel_haenszel" -> (Behavior.mantelHaenszel _),
      "js_div" -> (Behavior.jsDivergence _),
      "holt" -> (TimeSeries.holtForecast _),
      "holt_winters" -> (TimeSeries.holtWinters _),
      "arch" -> (TimeSeries.archTest _),
      "kalman" -> (TimeSeries.kalmanLevel _))
    for ((cname, rows) <- eventCorpora(seed = 1301L)) {
      val dir = stageEvents(rows)
      for ((fname, fn) <- fns) withClue(s"$fname on $cname: ") {
        // must not raise (the ANSI divide-by-zero class), and every
        // double that survives the guards is finite — the engine's
        // discipline is NULL, never NaN/Inf poisoning
        val out = fn(spark, dir).collect()
        for (r <- out; i <- 0 until r.length if !r.isNullAt(i)) {
          r.get(i) match {
            case d: Double =>
              assert(!d.isNaN && !d.isInfinite,
                s"$fname($cname) col $i = $d")
            case _ =>
          }
        }
      }
    }
  }

  behavior of "scratch A/B z-statistic vs abTestRevenue on degenerate arms"

  it should "agree on the z value and on WHERE the guards render NULL" in {
    for ((cname, rows) <- eventCorpora(seed = 1302L)) withClue(s"$cname: ") {
      val dir = stageEvents(rows)
      // scratch: per-user revenue over ALL users (0 without purchases)
      val byUser = rows.groupBy(_._3).map { case (u, es) =>
        u -> es.filter(_._4 == "purchase")
          .map(e => BigDecimal(e._5).setScale(2)).sum
      }
      val arms = byUser.groupBy { case (u, _) => variantOf(u) }
      def stats(v: Int): Option[(Long, BigDecimal, BigDecimal)] =
        arms.get(v).map { m =>
          val xs = m.values.toSeq
          (xs.size.toLong, xs.sum, xs.map(x => x * x).sum)
        }
      def varS(s: Option[(Long, BigDecimal, BigDecimal)]): Option[Double] =
        s.flatMap { case (n, sx, sxx) =>
          if (n == 1L) None
          else Some((sxx.toDouble - sx.toDouble * sx.toDouble / n) / (n - 1.0))
        }
      val se2 = for {
        va <- varS(stats(0)); vb <- varS(stats(1))
        (na, _, _) <- stats(0); (nb, _, _) <- stats(1)
      } yield va / na + vb / nb
      val zExp = se2 match {
        case Some(s) if s != 0.0 =>
          (for { (na, sxa, _) <- stats(0); (nb, sxb, _) <- stats(1) }
            yield (sxb.toDouble / nb - sxa.toDouble / na) / math.sqrt(s))
        case _ => None
      }
      val r = Behavior.abTestRevenue(spark, dir).head()
      zExp match {
        case Some(z) => r.getAs[Double]("z_stat") shouldBe (z +- 1e-9)
        case None => assert(r.isNullAt(r.fieldIndex("z_stat")))
      }
    }
  }

  behavior of "scratch JS divergence vs jsDivergence on generated corpora"

  it should "agree on the KL folds and the one-sided/empty NULL rules" in {
    for ((cname, rows) <- eventCorpora(seed = 1303L)) withClue(s"$cname: ") {
      val dir = stageEvents(rows)
      val cells = rows.filter(_._4 == "purchase")
        .groupBy { e =>
          (BigDecimal(e._5).setScale(2) * 100).toLongExact / 2000L
        }
        .map { case (bkt, es) =>
          val ca = es.count(e => variantOf(e._3) == 0).toLong
          val cb = es.count(e => variantOf(e._3) == 1).toLong
          (bkt, ca, cb)
        }.toVector.sortBy(_._1)
      val nA = cells.map(_._2).sum
      val nB = cells.map(_._3).sum
      def kl(own: ((Long, Long, Long)) => Long,
             other: ((Long, Long, Long)) => Long,
             nOwn: Long, nOther: Long): Option[Double] =
        if (cells.isEmpty || (nOther == 0L && nOwn > 0L)) None
        else Some(cells.foldLeft(0.0) { (acc, e) =>
          if (own(e) == 0L) acc
          else {
            val p = own(e).toDouble / nOwn
            val m = (p + other(e).toDouble / nOther) / 2.0
            acc + p * math.log(p / m)
          }
        })
      val r = Behavior.jsDivergence(spark, dir).head()
      def check(colName: String, v: Option[Double]): Unit = v match {
        case Some(x) =>
          r.getAs[Double](colName) shouldBe (r6(x) +- 1e-12)
        case None => assert(r.isNullAt(r.fieldIndex(colName)))
      }
      check("kl_a_to_mix", kl(_._2, _._3, nA, nB))
      check("kl_b_to_mix", kl(_._3, _._2, nB, nA))
      val js = for {
        a <- kl(_._2, _._3, nA, nB); b <- kl(_._3, _._2, nB, nA)
        if nA > 0 && nB > 0 && cells.nonEmpty
      } yield (a + b) / 2.0
      check("js_nats", js)
    }
  }

  behavior of "scratch Mantel-Haenszel vs the engine on sparse conversions"

  it should "agree on the pooled OR, its log, and the CMH guards" in {
    for ((cname, rows) <- eventCorpora(seed = 1304L)) withClue(s"$cname: ") {
      val dir = stageEvents(rows)
      // scratch: one week in every corpus -> stratum by event count
      val perUser = rows.groupBy(_._3).map { case (u, es) =>
        (variantOf(u), math.min(es.size / 5, 4),
          if (es.exists(_._4 == "purchase")) 1 else 0)
      }.toSeq
      val strata = perUser.groupBy(_._2).map { case (st, us) =>
        val a = us.count(x => x._1 == 1 && x._3 == 1).toLong
        val b = us.count(x => x._1 == 1 && x._3 == 0).toLong
        val c = us.count(x => x._1 == 0 && x._3 == 1).toLong
        val dd = us.count(x => x._1 == 0 && x._3 == 0).toLong
        (st, a, b, c, dd, a + b + c + dd)
      }.toVector.sortBy(_._1).filter(_._6 >= 2)
      def fold(t: (Long, Long, Long, Long, Long) => Double): Double =
        strata.foldLeft(0.0) { case (acc, (_, a, b, c, dd, n)) =>
          acc + t(a, b, c, dd, n) }
      val orNum = fold((a, _, _, dd, n) => a.toDouble * dd / n)
      val orDen = fold((_, b, c, _, n) => b.toDouble * c / n)
      val sa = fold((a, _, _, _, _) => a.toDouble)
      val se = fold((a, b, c, _, n) => (a + b).toDouble * (a + c) / n)
      val sv = fold((a, b, c, dd, n) =>
        (a + b).toDouble * (c + dd) * (a + c) * (b + dd) /
          (n.toDouble * n * (n - 1.0)))
      val orMh = if (orDen == 0.0) None else Some(orNum / orDen)
      val logOr = orMh.filter(_ != 0.0).map(math.log)
      val chi = if (sv == 0.0) None
        else Some(math.pow(math.max(math.abs(sa - se) - 0.5, 0.0), 2) / sv)
      val r = Behavior.mantelHaenszel(spark, dir).head()
      def check(colName: String, v: Option[Double], dp: Int): Unit = v match {
        case Some(x) => r.getAs[Double](colName) shouldBe
          (BigDecimal(x).setScale(dp, BigDecimal.RoundingMode.HALF_UP)
            .toDouble +- 1e-12)
        case None => assert(r.isNullAt(r.fieldIndex(colName)))
      }
      check("or_mh", orMh, 6)
      check("log_or_mh", logOr, 6)
      check("cmh_chi2", chi, 4)
    }
  }

  behavior of "scratch Cochran-Armitage vs the engine on collapsed doses"

  it should "agree on z and NULL exactly when the variance core dies" in {
    import spark.implicits._
    val ts0 = new java.sql.Timestamp(0L)
    val scenarios = Seq(
      // one dose level -> varCore = 0
      "one_level" -> Seq((0.05, "R"), (0.05, "N"), (0.05, "R")),
      // every row returned -> p(1-p) = 0
      "all_returned" -> Seq((0.00, "R"), (0.05, "R"), (0.10, "R")),
      // nothing returned -> p(1-p) = 0
      "none_returned" -> Seq((0.00, "N"), (0.05, "N"), (0.10, "N")),
      // healthy trend as the control
      "mixed" -> Seq((0.00, "N"), (0.00, "N"), (0.05, "R"), (0.05, "N"),
        (0.10, "R"), (0.10, "R")))
    for ((cname, items) <- scenarios) withClue(s"$cname: ") {
      val rows = items.zipWithIndex.map { case ((disc, fl), i) =>
        (i.toLong, i.toLong % 3, 1L, 1, 1.0, 100.0, disc, 0.0, fl, "O", ts0)
      }
      val dir = stage("lineitem", rows.toDF("l_orderkey", "l_partkey",
        "l_suppkey", "l_linenumber", "l_quantity", "l_extendedprice",
        "l_discount", "l_tax", "l_returnflag", "l_linestatus", "l_shipdate"))
      val census = items.groupBy(x => math.round(x._1 * 100)).map {
        case (w, xs) => (BigInt(w), BigInt(xs.size),
          BigInt(xs.count(_._2 == "R")))
      }.toVector
      val n = census.map(_._2).sum; val rr = census.map(_._3).sum
      val swn = census.map(x => x._1 * x._2).sum
      val swr = census.map(x => x._1 * x._3).sum
      val sw2n = census.map(x => x._1 * x._1 * x._2).sum
      val p = rr.toDouble / n.toDouble
      val varCore = (n * sw2n - swn * swn).toDouble
      val zExp =
        if (p * (1 - p) * varCore == 0.0) None
        else Some(r6((n * swr - rr * swn).toDouble /
          (n.toDouble * math.sqrt(p * (1 - p) * varCore))))
      val r = Analytics.cochranArmitageTrend(spark, dir).head()
      zExp match {
        case Some(z) => r.getAs[Double]("z_trend") shouldBe (z +- 1e-12)
        case None => assert(r.isNullAt(r.fieldIndex("z_trend")))
      }
    }
  }

  behavior of "series folds across generated series-length floors"

  it should "emit rows per the documented floors and never throw" in {
    // daily purchase series of length L for L around every floor: the
    // round-12 purchaseless sweep fixed negative slice lengths in all
    // four folds — this walks the whole boundary ladder
    for (len <- Seq(0, 1, 2, 3, 7, 8, 9, 14)) withClue(s"len=$len: ") {
      val rows = (0 until len).map { i =>
        (i.toLong,
          java.sql.Timestamp.valueOf(f"2024-01-${i + 1}%02d 12:00:00"),
          (i % 5).toLong, "purchase", 25.0 + 7 * i, "{}")
      }
      val dir = stageEvents(rows)
      val holt = TimeSeries.holtForecast(spark, dir).collect()
      holt.length shouldBe
        (if (len >= TimeSeries.holtHorizon + 2) TimeSeries.holtHorizon else 0)
      // the other three folds: emission counts are their own contracts,
      // pinned elsewhere — here they must simply never raise on any
      // length, and whatever survives is NaN/Inf-free
      for (fn <- Seq(TimeSeries.holtWinters _, TimeSeries.archTest _,
          TimeSeries.kalmanLevel _)) {
        for (r <- fn(spark, dir).collect();
             i <- 0 until r.length if !r.isNullAt(i)) {
          r.get(i) match {
            case d: Double => assert(!d.isNaN && !d.isInfinite)
            case _ =>
          }
        }
      }
    }
  }

  // ================================================================
  // Round-14 guard properties (VERDICT r13 #4): the ninth edge
  // corpus's 11 fixes (Welch df2, pooled-OR CIs, KMV 0/0,
  // cointegration moments, DTW empty arrays, the NULL-vs-0 k-counts,
  // stratified ATE's kept output row) were pinned only by the fixed
  // empty-events corpus — here the same guard class is walked on
  // RANDOMLY degenerate event tables: empty, single-event,
  // single-type, single-user, single-day, one-variant-arm-only, and
  // sparse-random shapes.
  // ================================================================

  private val eventTypes = Seq("view", "click", "purchase", "signup", "error")

  /** Randomly-degenerate event tables around the empty-events guard
    * class. Deterministic per seed (the fixed-seed-ladder pattern). */
  private def degenerateEventTables(seed: Long)
      : Seq[(String, Seq[(Long, java.sql.Timestamp, Long, String, Double, String)])] = {
    val rng = new scala.util.Random(seed)
    def dayTs(d: Int, h: Int) =
      java.sql.Timestamp.valueOf(f"2024-01-${d + 1}%02d $h%02d:00:00")
    def row(id: Long, d: Int, u: Long, t: String, v: Double) =
      (id, dayTs(d, 1 + rng.nextInt(20)), u, t, v, "{}")
    def rt() = eventTypes(rng.nextInt(eventTypes.size))
    def rv() = math.round((5.0 + rng.nextDouble() * 90.0) * 100) / 100.0
    val armA = uidsOf(0, 3); val armB = uidsOf(1, 3)
    Seq(
      "empty" -> Seq.empty,
      "single_event" -> Seq(row(1, 0, armA.head, rt(), rv())),
      // every event one random type (4 of the 5 absent at once)
      "one_type" -> {
        val t = rt()
        (0 until 1 + rng.nextInt(5)).map(i =>
          row(i, rng.nextInt(3), (armA ++ armB)(rng.nextInt(6)), t, rv()))
      },
      // a single user owns the whole corpus (one arm empty)
      "one_user" -> (0 until 3 + rng.nextInt(5)).map(i =>
        row(i, rng.nextInt(4), armA.head, rt(), rv())),
      // every user hashes into the SAME variant arm
      "one_arm_only" -> armB.zipWithIndex.flatMap { case (u, i) =>
        Seq(row(i * 2, 0, u, "purchase", rv()), row(i * 2 + 1, 1, u, rt(), rv()))
      },
      // one day: every daily series has length 1
      "one_day" -> (armA ++ armB).zipWithIndex.map { case (u, i) =>
        row(i, 0, u, rt(), rv())
      },
      // sparse random rows (2-4), any shape the dice land on
      "sparse" -> (0 until 2 + rng.nextInt(3)).map(i =>
        row(i, rng.nextInt(5), 1L + rng.nextInt(8), rt(), rv())))
  }

  /** Assert every non-null double in the frame is finite. */
  private def assertFinite(rows: Array[org.apache.spark.sql.Row]): Unit =
    for (r <- rows; i <- 0 until r.length if !r.isNullAt(i)) r.get(i) match {
      case d: Double => assert(!d.isNaN && !d.isInfinite, s"col $i = $d")
      case _ =>
    }

  behavior of "the empty-events guard class on randomly-degenerate corpora"

  it should "keep stratifiedAte at exactly one row with non-NULL counts" in {
    for (s <- 0 until 3; (cname, rows) <- degenerateEventTables(1401L + s)) {
      val dir = stageEvents(rows)
      withClue(s"stratifiedAte on $cname (seed ${1401 + s}): ") {
        val out = Behavior.stratifiedAte(spark, dir).collect()
        out should have length 1 // the global-agg ⋈ tot shape never drops it
        val r = out.head
        // n_strata is a count (never NULL); n_used is a SUM, which the
        // oracle renders NULL over zero common-support strata — NULL
        // exactly when n_strata = 0, like ate_cents
        r.isNullAt(r.fieldIndex("n_strata")) shouldBe false
        val zeroStrata = r.getAs[Long]("n_strata") == 0L
        zeroStrata shouldBe r.isNullAt(r.fieldIndex("n_used"))
        zeroStrata shouldBe r.isNullAt(r.fieldIndex("ate_cents"))
        assertFinite(out)
      }
    }
  }

  it should "null the meta-analysis estimate family exactly at k = 0" in {
    for (s <- 0 until 3; (cname, rows) <- degenerateEventTables(1411L + s)) {
      val dir = stageEvents(rows)
      withClue(s"metaFixedEffect on $cname: ") {
        val out = Behavior.metaFixedEffect(spark, dir).collect()
        out should have length 1
        val r = out.head
        r.isNullAt(r.fieldIndex("n_weeks")) shouldBe false
        val k0 = r.getAs[Long]("n_weeks") == 0L
        for (c <- Seq("pooled_log_or", "pooled_or", "ci_low", "ci_high",
            "cochran_q")) {
          withClue(s"$c at k=${r.getAs[Long]("n_weeks")}: ") {
            if (k0) r.isNullAt(r.fieldIndex(c)) shouldBe true
            else r.isNullAt(r.fieldIndex(c)) shouldBe false
          }
        }
        // greatest(NULL, 0.0) renders 0.0 — the documented oracle shape
        if (k0) r.getAs[Double]("i_squared") shouldBe 0.0
        assertFinite(out)
      }
    }
  }

  it should "null the Mood-median chi2 family exactly at k_groups = 0" in {
    for (s <- 0 until 3; (cname, rows) <- degenerateEventTables(1421L + s)) {
      val dir = stageEvents(rows)
      withClue(s"moodMedianTest on $cname: ") {
        val out = Behavior.moodMedianTest(spark, dir).collect()
        out should have length 1
        val r = out.head
        // k_groups is a count (never NULL); n rides a first() over the
        // grouped frame, so the oracle's shape renders it NULL exactly
        // on the zero-group corpus
        r.isNullAt(r.fieldIndex("k_groups")) shouldBe false
        val k0 = r.getAs[Int]("k_groups") == 0
        k0 shouldBe r.isNullAt(r.fieldIndex("n"))
        // chi2 is dead when there are no groups OR every expected
        // count is zero (all values tied at the median: a_total = 0;
        // or none at-or-below it: a_total = n)
        val dead = k0 || r.getAs[Long]("a_total") == 0L ||
          r.getAs[Long]("a_total") == r.getAs[Long]("n")
        dead shouldBe r.isNullAt(r.fieldIndex("chi2"))
        dead shouldBe r.isNullAt(r.fieldIndex("significant_95"))
        assertFinite(out)
      }
    }
  }

  it should "never raise or leak NaN/Inf from Welch ANOVA" in {
    for (s <- 0 until 3; (cname, rows) <- degenerateEventTables(1431L + s)) {
      val dir = stageEvents(rows)
      withClue(s"welchAnova on $cname: ") {
        assertFinite(Analytics.welchAnova(spark, dir).collect())
      }
    }
  }

  it should "keep the KMV sketch finite with non-NULL k_seen and n_exact" in {
    for (s <- 0 until 3; (cname, rows) <- degenerateEventTables(1441L + s)) {
      val dir = stageEvents(rows)
      withClue(s"kmvDistinct on $cname: ") {
        val out = Sketches.kmvDistinct(spark, dir).collect()
        out should have length 1
        val r = out.head
        r.isNullAt(r.fieldIndex("k_seen")) shouldBe false
        r.isNullAt(r.fieldIndex("n_exact")) shouldBe false
        // the 0/0 guard: rel_err is NULL exactly on the empty universe
        (r.getAs[Long]("n_exact") == 0L) shouldBe
          r.isNullAt(r.fieldIndex("rel_err"))
        // below the sketch size the estimate is exact by construction
        if (r.getAs[Long]("n_exact") > 0 &&
            r.getAs[Long]("k_seen") < Sketches.kmvK)
          r.getAs[Double]("kmv_est") shouldBe r.getAs[Long]("n_exact").toDouble
        assertFinite(out)
      }
    }
  }

  it should "never raise from cointegration on degenerate daily series" in {
    for (s <- 0 until 3; (cname, rows) <- degenerateEventTables(1451L + s)) {
      val dir = stageEvents(rows)
      withClue(s"cointegration on $cname: ") {
        assertFinite(TimeSeries.cointegration(spark, dir).collect())
      }
    }
  }

  it should "never raise from DTW on empty or length-1 series" in {
    for (s <- 0 until 3; (cname, rows) <- degenerateEventTables(1461L + s)) {
      val dir = stageEvents(rows)
      withClue(s"dtwDistance on $cname: ") {
        assertFinite(TimeSeries.dtwDistance(spark, dir).collect())
      }
    }
  }

  it should "agree with a scratch stratified-ATE recomputation on every corpus" in {
    for (s <- 0 until 2; (cname, rows) <- degenerateEventTables(1471L + s)) {
      val dir = stageEvents(rows)
      withClue(s"scratch ATE on $cname: ") {
        // scratch form: per-user purchase cents (HALF_UP) + non-purchase
        // activity count, md5 variant arm, stratum min(4, acts div 5),
        // common-support strata only — the engine's documented algebra
        val perUser = rows.groupBy(_._3).map { case (u, es) =>
          val y = es.filter(_._4 == "purchase").map(e =>
            BigDecimal(e._5).setScale(2, BigDecimal.RoundingMode.HALF_UP)
              .*(100).toLong).sum
          val acts = es.count(_._4 != "purchase").toLong
          (variantOf(u), y, math.min(4L, acts / 5L))
        }.toSeq
        val cells = perUser.groupBy(_._3).map { case (st, us) =>
          val n1 = us.count(_._1 == 1).toLong
          val n0 = us.count(_._1 == 0).toLong
          val y1 = us.filter(_._1 == 1).map(_._2).sum
          val y0 = us.filter(_._1 == 0).map(_._2).sum
          (st, n1, n0, y1, y0)
        }.toSeq.filter(c => c._2 > 0 && c._3 > 0).sortBy(_._1)
        val nUsed = cells.map(c => c._2 + c._3).sum
        val expAte =
          if (cells.isEmpty) None
          else Some(r6(cells.map(c =>
            (c._2 + c._3).toDouble / nUsed *
              (c._4.toDouble / c._2 - c._5.toDouble / c._3)).sum))
        val r = Behavior.stratifiedAte(spark, dir).head()
        r.getAs[Long]("n_strata") shouldBe cells.length.toLong
        expAte match {
          case None => assert(r.isNullAt(r.fieldIndex("ate_cents")))
          case Some(a) =>
            val got = r.getAs[Double]("ate_cents")
            got shouldBe (BigDecimal(a).setScale(4,
              BigDecimal.RoundingMode.HALF_UP).toDouble +- 1e-9)
        }
      }
    }
  }
}
