package graft.ops

import org.apache.spark.sql.functions._

import graft.GraftTestBase
import graft.Tables
import graft.Scratch.{md5hex, rd}

/** THIRD-IMPLEMENTATION battery, batch 18: the sketch family.
  *
  * The deterministic sketches (detHll, kmvDistinct, amsF2,
  * cmsFrequencies) are the most mirror-prone queries in the catalog:
  * BOTH engines rebuild the identical md5-derived arithmetic from a
  * shared written contract (register index bits, hash-space constants,
  * row hash parameters), so a contract bug — a wrong shift, an
  * off-by-one in the leading-zero rank, a mis-sized hash space —
  * would hash-match green forever (the q_hubness lesson). Each test
  * below rebuilds the ENTIRE sketch state from the raw parquet rows
  * with per-observation plain-Scala loops and its own MessageDigest
  * md5, never touching the engine's column expressions, the UDAF
  * merge machinery, or the oracle's SQL rendering. The merge-order-
  * dependent sketches (QuantileSketch/KLL, SpaceSaving) are pinned
  * through their guarantees instead — but against SCRATCH exact
  * ranks/counts, not the in-query verifier columns.
  *
  * detHll/kmv/ams run at sf0.001 AND sf0.01 so both estimator branches
  * (linear-counting vs raw HLL; exact-KMV vs order-statistic) are
  * exercised by a third source.
  */
class ThirdImplSpec18 extends GraftTestBase {

  private val sfs = Seq(sf, "/root/testdata/sf0.01")

  // ------------------------------------------------------------- detHll

  behavior of "Sketches.detHll (q_hll_det) vs scratch registers"

  it should "match registers, both estimator branches and the bound" in {
    for (d <- sfs) {
      val keys = Tables.orders(spark, d)
        .select("o_custkey").collect().map(_.getLong(0))
      val m = Sketches.hllDetM
      val regs = new Array[Int](m)
      for (k <- keys) {
        val h = java.lang.Long.parseLong(md5hex(k.toString).take(8), 16)
        val reg = (h / 67108864L).toInt
        val w = h % 67108864L
        val rank =
          if (w == 0L) 27
          else 27 - java.lang.Long.toBinaryString(w).length
        if (rank > regs(reg)) regs(reg) = rank
      }
      val present = regs.count(_ > 0)
      val vEmpty = m - present
      val sumInv = regs.filter(_ > 0).map(r => math.pow(2.0, -r)).sum +
        vEmpty.toDouble
      val rawE = Sketches.hllDetAlpha * m * m / sumInv
      val est =
        if (rawE <= 2.5 * m && vEmpty > 0)
          m.toDouble * math.log(m.toDouble / vEmpty)
        else rawE
      val nExact = keys.distinct.length.toLong
      val relErr = math.abs(est - nExact) / nExact

      val row = Sketches.detHll(spark, d).collect().head
      row.getAs[Long]("v_empty") shouldBe vEmpty.toLong
      row.getAs[Double]("sum_inv") shouldBe rd(sumInv, 6)
      row.getAs[Double]("hll_est") shouldBe rd(est, 4)
      row.getAs[Long]("n_exact") shouldBe nExact
      row.getAs[Double]("rel_err") shouldBe rd(relErr, 4)
      row.getAs[Boolean]("hll_ok") shouldBe (relErr <= Sketches.hllDetBound)
      // branch coverage proof: sf0.001 must take linear counting,
      // sf0.01 the raw-HLL branch
      if (d == sf) assert(vEmpty > 0 && rawE <= 2.5 * m)
      else assert(rawE > 2.5 * m || vEmpty == 0)
    }
  }

  // -------------------------------------------------------------- kmv

  behavior of "Sketches.kmvDistinct (q_kmv) vs scratch order statistics"

  it should "match h_(k), both branches and the estimate" in {
    for (d <- sfs) {
      val users = Tables.events(spark, d)
        .select("user_id").collect().map(_.getLong(0))
      val hs = users.distinct
        .map(u => java.lang.Long.parseLong(md5hex(u.toString).take(15), 16))
        .distinct.sorted
      val kSeen = math.min(Sketches.kmvK, hs.length)
      val hk = hs(kSeen - 1)
      val est =
        if (kSeen < Sketches.kmvK) kSeen.toDouble
        else (Sketches.kmvK - 1) * Sketches.kmvSpace / hk
      val nExact = users.distinct.length.toLong
      val relErr = math.abs(est - nExact) / nExact

      val row = Sketches.kmvDistinct(spark, d).collect().head
      row.getAs[Long]("k_seen") shouldBe kSeen.toLong
      row.getAs[Long]("hk") shouldBe hk
      row.getAs[Double]("kmv_est") shouldBe rd(est, 4)
      row.getAs[Long]("n_exact") shouldBe nExact
      row.getAs[Double]("rel_err") shouldBe rd(relErr, 4)
      row.getAs[Boolean]("kmv_ok") shouldBe (relErr <= Sketches.kmvBound)
      if (d == sf) assert(kSeen < Sketches.kmvK) // exact branch live
      else assert(kSeen == Sketches.kmvK)        // estimator branch live
    }
  }

  // -------------------------------------------------------------- ams

  behavior of "Sketches.amsF2 (q_ams_f2) vs scratch sign sums"

  it should "match the 25 sign sums, group means and the median" in {
    for (d <- sfs) {
      val users = Tables.events(spark, d)
        .select("user_id").collect().map(_.getLong(0))
      val nBits = Sketches.amsGroups * Sketches.amsPerGroup
      val x = new Array[Long](nBits)
      for (u <- users) {
        val h = java.lang.Long.parseLong(md5hex(u.toString).take(15), 16)
        var e = 0
        while (e < nBits) {
          x(e) += ((h >> e) & 1L) * 2 - 1
          e += 1
        }
      }
      val means = (0 until Sketches.amsGroups).map { g =>
        (0 until Sketches.amsPerGroup)
          .map(i => x(g * Sketches.amsPerGroup + i))
          .map(v => v * v).sum.toDouble / Sketches.amsPerGroup
      }
      val med = means.sorted.apply(Sketches.amsGroups / 2)
      val f2Exact = users.groupBy(identity).values
        .map(g => g.length.toLong * g.length).sum
      val relErr = math.abs(med - f2Exact) / f2Exact

      val row = Sketches.amsF2(spark, d).collect().head
      row.getAs[Double]("f2_ams") shouldBe rd(med, 4)
      row.getAs[Long]("f2_exact") shouldBe f2Exact
      row.getAs[Double]("rel_err") shouldBe rd(relErr, 4)
      row.getAs[Boolean]("ams_ok") shouldBe (relErr <= Sketches.amsBound)
    }
  }

  // -------------------------------------------------------------- cms

  behavior of "Sketches.cmsFrequencies (q_cms) vs scratch cell counters"

  it should "match every hot key's estimate and the per-flag slack" in {
    import graft.functions.CountMin
    val rows = Tables.lineitem(spark, sf)
      .select("l_returnflag", "l_partkey").collect()
      .map(r => (r.getString(0), r.getLong(1)))
    def pkOf(partkey: Long): String =
      if (partkey % 10 < 7) "hot_" + (partkey % 3) else "cold_" + partkey
    val byFlag = rows.groupBy(_._1)
    val expected = byFlag.flatMap { case (flag, rs) =>
      val cells = new Array[Long](CountMin.depth * CountMin.width)
      val exact = scala.collection.mutable.Map.empty[String, Long]
      for ((_, partkey) <- rs) {
        val pk = pkOf(partkey)
        exact.update(pk, exact.getOrElse(pk, 0L) + 1)
        val hx = java.lang.Long.parseLong(md5hex(pk).take(15), 16) %
          CountMin.prime
        var j = 0
        while (j < CountMin.depth) {
          val cell = (((CountMin.rowA(j) * hx + CountMin.rowB(j)) %
            CountMin.prime) % CountMin.width).toInt
          cells(j * CountMin.width + cell) += 1
          j += 1
        }
      }
      val ests = exact.map { case (pk, c) =>
        val hx = java.lang.Long.parseLong(md5hex(pk).take(15), 16) %
          CountMin.prime
        val est = (0 until CountMin.depth).map { j =>
          val cell = (((CountMin.rowA(j) * hx + CountMin.rowB(j)) %
            CountMin.prime) % CountMin.width).toInt
          cells(j * CountMin.width + cell)
        }.min
        (pk, c, est)
      }
      val slacks = ests.map { case (_, c, est) => est - c }
      ests.collect { case (pk, c, est) if pk.startsWith("hot_") =>
        (flag, pk, c, est, slacks.min, slacks.max)
      }
    }.toSet
    val got = Sketches.cmsFrequencies(spark, sf).collect().map(r =>
      (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSet
    got shouldBe expected
  }

  // ---------------------------------------------- KLL quantile sketch

  behavior of "QuantileSketch (q_quantile_sketch) vs scratch exact ranks"

  it should "keep each UDAF estimate inside the rank bound from raw rows" in {
    import graft.functions.QuantileSketch
    val byFlag = Tables.lineitem(spark, sf)
      .select("l_returnflag", "l_extendedprice").collect()
      .map(r => (r.getString(0), r.getDouble(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    // the UDAF's actual estimates, fetched directly (the graded query
    // only ships the booleans — the third impl pins the estimates
    // themselves against scratch ranks)
    val ests = Tables.lineitem(spark, sf)
      .groupBy("l_returnflag")
      .agg(QuantileSketch.udaf(col("l_extendedprice")).as("est"))
      .collect()
      .map(r => r.getString(0) -> r.getSeq[Double](1)).toMap
    ests.keySet shouldBe byFlag.keySet
    for ((flag, sorted) <- byFlag) {
      val n = sorted.length
      val e = ests(flag)
      e should have size QuantileSketch.quantiles.size.toLong
      for ((q, i) <- QuantileSketch.quantiles.zipWithIndex) {
        val rank = sorted.count(_ <= e(i)).toDouble / n
        assert(math.abs(rank - q) <= Sketches.kllRankErrBound,
          s"flag=$flag q=$q est=${e(i)} rank=$rank")
      }
      // and the exact percentiles the graded query ships, recomputed
      // with scratch interpolation on the sorted raw values
      def pct(q: Double): Double = {
        val pos = q * (n - 1)
        val lo = pos.toInt
        val frac = pos - lo
        if (lo + 1 < n) sorted(lo) + frac * (sorted(lo + 1) - sorted(lo))
        else sorted(lo)
      }
      val row = Sketches.quantileSketchCheck(spark, sf)
        .filter(col("l_returnflag") === flag).collect().head
      row.getAs[Long]("n_rows") shouldBe n.toLong
      row.getAs[Double]("p25_exact") shouldBe rd(pct(0.25), 4) +- 1e-4
      row.getAs[Double]("p50_exact") shouldBe rd(pct(0.5), 4) +- 1e-4
      row.getAs[Double]("p75_exact") shouldBe rd(pct(0.75), 4) +- 1e-4
      Seq("sk25_ok", "sk50_ok", "sk75_ok")
        .foreach(c => row.getAs[Boolean](c) shouldBe true)
    }
  }

  // ------------------------------------------------------ SpaceSaving

  behavior of "SpaceSaving (q_heavy_hitters) vs scratch exact counts"

  it should "keep every guarantee against a scratch census" in {
    import graft.functions.SpaceSaving
    val k = SpaceSaving.capacity
    val rows = Tables.lineitem(spark, sf)
      .select("l_returnflag", "l_partkey").collect()
      .map(r => (r.getString(0),
        if (r.getLong(1) % 10 < 7) "hot_" + (r.getLong(1) % 3)
        else "cold_" + r.getLong(1)))
    val byFlag = rows.groupBy(_._1).view
      .mapValues(_.groupBy(_._2).view.mapValues(_.length.toLong).toMap)
      .toMap
    // the UDAF's actual surviving counters, fetched directly
    val sk = Tables.lineitem(spark, sf)
      .select(col("l_returnflag"),
        when(col("l_partkey") % 10 < 7,
          concat(lit("hot_"), (col("l_partkey") % 3).cast("string")))
          .otherwise(concat(lit("cold_"), col("l_partkey").cast("string")))
          .as("pk"))
      .groupBy("l_returnflag")
      .agg(SpaceSaving.udaf(col("pk")).as("hh"))
      .collect()
      .map(r => r.getString(0) -> r.getMap[String, Long](1)).toMap
    val engine = Analytics.heavyHitterParts(spark, sf).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getBoolean(2), r.getBoolean(3))).toMap
    engine.keySet shouldBe byFlag.keySet
    for ((flag, exact) <- byFlag) {
      val n = exact.values.sum
      val guaranteed = exact.collect {
        case (pk, c) if c * k > n => pk
      }.toSet
      val counters = sk(flag)
      // guarantee 1: every item above N/k survives eviction
      guaranteed.subsetOf(counters.keySet.toSet) shouldBe true
      // guarantee 2: the exposed lower bound never overcounts
      for ((item, lo) <- counters)
        assert(lo <= exact.getOrElse(item, 0L),
          s"flag=$flag item=$item lo=$lo exact=${exact.getOrElse(item, 0L)}")
      // and the graded query's census matches the scratch one
      engine(flag) shouldBe ((guaranteed.size.toLong, true, true))
    }
  }

  // -------------------------------------------------- audience overlap

  behavior of "Sketches.audienceOverlap (q_overlap_sketch) vs scratch sets"

  it should "match the exact user-day overlap quad" in {
    val ev = Tables.events(spark, sf)
      .select("event_type", "user_id", "ts").collect()
      .map { r =>
        val day = r.getTimestamp(2).toInstant
          .atZone(java.time.ZoneOffset.UTC).toLocalDate.toEpochDay
        (r.getString(0), r.getLong(1) * 1048576L + day)
      }
    val viewers = ev.collect { case ("view", ud) => ud }.toSet
    val buyers = ev.collect { case ("purchase", ud) => ud }.toSet
    val either = viewers ++ buyers
    val row = Sketches.audienceOverlap(spark, sf).collect().head
    row.getAs[Long]("viewers") shouldBe viewers.size.toLong
    row.getAs[Long]("buyers") shouldBe buyers.size.toLong
    row.getAs[Long]("either") shouldBe either.size.toLong
    row.getAs[Long]("overlap_exact") shouldBe
      (viewers.size + buyers.size - either.size).toLong
    row.getAs[Boolean]("overlap_est_ok") shouldBe true
  }
}
