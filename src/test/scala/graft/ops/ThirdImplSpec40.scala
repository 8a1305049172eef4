package graft.ops

import graft.GraftTestBase
import graft.similarity.Similarity
import graft.Scratch.{r4, r6}

/** THIRD-IMPLEMENTATION battery, batch 40: the vector/clustering/
  * sketch contract family — per-vector norms, the scale-diagnostics
  * trio (partial r / Cronbach α / ICC), octile shape statistics, and
  * the four contract-graded loops (k-means, PQ, the HLL WAU bound,
  * top-k merge) whose oracle entries are constants by necessity: for
  * those, an independent full recomputation of the underlying loop is
  * the ONLY cross-check the gate ever gets, which makes them the
  * highest-value members left in the battery.
  *
  * Doctrine unchanged: plain-Scala loops over the raw parquet rows,
  * no graft.ops/graft.similarity code shared, engines' pinned fold
  * orders honored only where a float accumulation is part of the
  * contract (the per-vector array folds).
  */
class ThirdImplSpec40 extends GraftTestBase {

  private lazy val vecs: Array[(Long, Int, Array[Float])] =
    graft.Tables.embeddings(spark, sf)
      .select("vec_id", "label", "embedding").collect()
      .map(r => (r.getLong(0), r.getInt(1),
        r.getSeq[Float](2).toArray))
      .sortBy(_._1)

  behavior of "vectorNorms (q_vector_norms) vs scratch array folds"

  it should "match l2, max-abs and the signed-zero-pinned mean" in {
    val out = Similarity.vectorNorms(spark, sf).collect()
    out.length shouldBe vecs.length
    val byId = vecs.map(v => v._1 -> v).toMap
    out.foreach { r =>
      val (_, label, e) = byId(r.getAs[Long]("vec_id"))
      var ss = 0.0; var sv = 0.0; var ma = 0.0
      e.foreach { x =>
        ss += x.toDouble * x.toDouble; sv += x.toDouble
        ma = math.max(ma, math.abs(x.toDouble))
      }
      val mean = { val m = r4(sv / e.length); if (m == 0d) 0d else m }
      r.getAs[Int]("label") shouldBe label
      r.getAs[Int]("n_dims") shouldBe e.length
      r.getAs[Double]("l2_norm") shouldBe (r4(math.sqrt(ss)) +- 1e-9)
      r.getAs[Double]("max_abs") shouldBe (r4(ma) +- 1e-9)
      r.getAs[Double]("mean_v") shouldBe (mean +- 1e-9)
    }
  }

  behavior of "scaleDiagnostics (q_scale_diag) vs scratch power sums"

  it should "match partial r, Cronbach alpha and ICC(1)" in {
    val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    val rows = graft.Tables.lineitem(spark, sf)
      .select(cols.head, cols.tail: _*).collect()
      .map(r => Array.tabulate(4)(i =>
        (BigDecimal(r.getDouble(i))
          .setScale(2, BigDecimal.RoundingMode.HALF_UP) * 100).toLongExact))
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
    def cov(i: Int, j: Int) =
      d4(sp(math.min(i, j))(math.max(i, j))) * n - d2(s1(i)) * d2(s1(j))
    def vr(i: Int) = d4(ss(i)) * n - d2(s1(i)) * d2(s1(i))
    def corr(i: Int, j: Int) = cov(i, j) / math.sqrt(vr(i) * vr(j))
    val rqp = corr(0, 1); val rqd = corr(0, 2); val rpd = corr(1, 2)
    val partial = (rqp - rqd * rpd) /
      math.sqrt((1.0 - rqd * rqd) * (1.0 - rpd * rpd))
    val sumVar = (0 until 4).map(vr).sum
    val sumCov =
      (for (i <- 0 until 4; j <- (i + 1) until 4) yield cov(i, j)).sum
    val alpha = 4.0 / 3.0 * (1.0 - sumVar / (sumVar + 2.0 * sumCov))
    // ICC(1) via the pairwise-product estimator's exact integer terms
    val orders = graft.Tables.orders(spark, sf)
      .select("o_custkey", "o_totalprice").collect()
      .map(r => (r.getLong(0),
        (BigDecimal(r.getDouble(1))
          .setScale(2, BigDecimal.RoundingMode.HALF_UP) * 100).toLongExact))
    val per = orders.groupBy(_._1).values.map { g =>
      val vsum = g.map(x => BigInt(x._2)).sum
      val qsum = g.map(x => BigInt(x._2) * x._2).sum
      (BigInt(g.length), vsum, qsum)
    }.toVector
    val g = per.length.toLong
    val nn = per.map(_._1).sum
    val st = per.map(_._2).sum
    val qt = per.map(_._3).sum
    val aa = per.map(p => p._2 * p._2).sum
    val bb = per.map(p => p._1 * p._2).sum
    val cc = per.map(p => p._1 * p._1).sum
    val num = nn * nn * aa - 2 * nn * st * bb + st * st * cc -
      nn * nn * qt + nn * st * st
    val den = (cc - nn) * (nn * qt - st * st)
    val icc = num.toDouble / den.toDouble
    val r = Analytics.scaleDiagnostics(spark, sf).head()
    r.getAs[Long]("n_rows") shouldBe n.toLong
    r.getAs[Double]("r_qty_price") shouldBe (r6(rqp) +- 1e-6)
    r.getAs[Double]("r_qty_price_given_discount") shouldBe
      (r6(partial) +- 1e-6)
    r.getAs[Double]("cronbach_alpha") shouldBe (r6(alpha) +- 1e-6)
    r.getAs[Long]("g_customers") shouldBe g
    r.getAs[Double]("icc1") shouldBe (r6(icc) +- 1e-6)
  }

  behavior of "octileShapeByFlag (q_octile_shape) vs scratch octiles"

  it should "match Bowley skew and Moors kurtosis per flag" in {
    val rows = graft.Tables.lineitem(spark, sf)
      .select("l_returnflag", "l_extendedprice").collect()
      .map(r => (r.getString(0), r.getDouble(1)))
    val expect = rows.groupBy(_._1).map { case (fl, rs) =>
      val v = rs.map(_._2).sorted
      def e(i: Int) = v(math.ceil(i / 8.0 * v.length).toInt - 1)
      fl -> (e(2), e(4), e(6),
        (e(6) + e(2) - 2.0 * e(4)) / (e(6) - e(2)),
        ((e(7) - e(5)) + (e(3) - e(1))) / (e(6) - e(2)))
    }
    val out = Analytics.octileShapeByFlag(spark, sf).collect()
    out.length shouldBe expect.size
    out.foreach { r =>
      val (q1, med, q3, bowley, moors) =
        expect(r.getAs[String]("l_returnflag"))
      r.getAs[Double]("q1") shouldBe q1
      r.getAs[Double]("median") shouldBe med
      r.getAs[Double]("q3") shouldBe q3
      r.getAs[Double]("bowley_skew") shouldBe (r6(bowley) +- 1e-9)
      r.getAs[Double]("moors_kurtosis") shouldBe (r6(moors) +- 1e-9)
    }
  }

  /** Shared scratch Lloyd assignment: squared L2 in array order,
    * lowest-index tie-break — the engines' pinned conventions. */
  private def nearest(x: Array[Float], cents: Array[Array[Float]])
      : (Int, Double) = {
    var bj = 0; var bd = Double.MaxValue
    for (j <- cents.indices) {
      var d = 0.0
      for (k <- x.indices) {
        val t = x(k).toDouble - cents(j)(k).toDouble; d += t * t
      }
      if (d < bd) { bd = d; bj = j }
    }
    (bj, bd)
  }

  behavior of "kmeansCheck (q_kmeans) vs a scratch Lloyd loop"

  it should "reproduce the inertia contract independently" in {
    var cents = vecs.take(8).map(_._3)
    val inertias = scala.collection.mutable.ArrayBuffer.empty[Double]
    for (it <- 1 to 3) {
      val asg = vecs.map(v => (nearest(v._3, cents), v._3))
      inertias += asg.map(_._1._2).sum
      if (it < 3) {
        val byCl = asg.groupBy(_._1._1)
        cents = cents.indices.map { j =>
          byCl.get(j) match {
            case Some(members) =>
              Array.tabulate(cents(j).length) { k =>
                (members.map(_._2(k).toDouble).sum / members.length).toFloat
              }
            case None => cents(j)
          }
        }.toArray
      }
    }
    val monotone = inertias.sliding(2).forall(p => p(1) <= p(0) * (1 + 1e-12))
    val improved = inertias.last < inertias.head
    val r = Similarity.kmeansCheck(spark, sf).head()
    r.getAs[Long]("n_points") shouldBe vecs.length.toLong
    r.getAs[Int]("k") shouldBe 8
    r.getAs[Int]("n_iterations") shouldBe 3
    r.getAs[Boolean]("inertia_monotone") shouldBe monotone
    r.getAs[Boolean]("inertia_improved") shouldBe improved
    // the scratch loop must itself witness a working Lloyd descent
    monotone shouldBe true
    improved shouldBe true
  }

  behavior of "pqAudit (q_pq) vs a scratch product-quantizer"

  it should "reproduce the PQ training contract independently" in {
    val subDim = 8; val m = 8; val kw = 16
    val subs = Array.tabulate(m)(mi =>
      vecs.map(v => v._3.slice(mi * subDim, (mi + 1) * subDim)))
    var books = Array.tabulate(m)(mi =>
      vecs.take(kw).map(v => v._3.slice(mi * subDim, (mi + 1) * subDim)))
    val inertias = scala.collection.mutable.ArrayBuffer.empty[Double]
    for (it <- 1 to 2) {
      val asg = Array.tabulate(m)(mi => subs(mi).map(nearest(_, books(mi))))
      inertias += asg.map(_.map(_._2).sum).sum
      if (it < 2) {
        books = Array.tabulate(m) { mi =>
          val byCode = subs(mi).zip(asg(mi)).groupBy(_._2._1)
          books(mi).indices.map { c =>
            byCode.get(c) match {
              case Some(members) => Array.tabulate(subDim)(k =>
                (members.map(_._1(k).toDouble).sum / members.length).toFloat)
              case None => books(mi)(c)
            }
          }.toArray
        }
      }
    }
    val meanMse = (for (mi <- 0 until m; k <- 0 until subDim) yield {
      val xs = subs(mi).map(_(k).toDouble)
      val mu = xs.sum / xs.length
      xs.map(x => (x - mu) * (x - mu)).sum / xs.length
    }).sum
    val pqMse = inertias.last / vecs.length
    val monotone = inertias.sliding(2).forall(p => p(1) <= p(0) * (1 + 1e-12))
    val r = Similarity.pqAudit(spark, sf).head()
    r.getAs[Long]("n_points") shouldBe vecs.length.toLong
    r.getAs[Int]("bytes_raw") shouldBe 256
    r.getAs[Int]("bytes_coded") shouldBe 4
    r.getAs[Boolean]("inertia_monotone") shouldBe monotone
    r.getAs[Boolean]("inertia_improved") shouldBe
      (inertias.last < inertias.head)
    r.getAs[Boolean]("beats_mean_baseline") shouldBe (pqMse < meanMse)
    monotone shouldBe true
    (pqMse < meanMse) shouldBe true
  }

  behavior of "rollingActiveUsersSketch (q_wau_sketch) vs scratch WAU"

  it should "match the exact WAU and hold the HLL error bound" in {
    val ud = graft.Tables.events(spark, sf)
      .select("user_id", "ts").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).toInstant
        .atZone(java.time.ZoneOffset.UTC).toLocalDate))
      .map { case (u, d) => (u, d.toEpochDay) }.distinct
    val eventDays = ud.map(_._2).distinct
    val expect = eventDays.map { d =>
      d -> ud.filter(p => p._2 >= d - 6 && p._2 <= d).map(_._1)
        .distinct.length.toLong
    }.toMap
    val out = Behavior.rollingActiveUsersSketch(spark, sf).collect()
    out.length shouldBe expect.size
    out.foreach { r =>
      val day = r.getAs[java.sql.Date]("day").toLocalDate.toEpochDay
      r.getAs[Long]("wau_exact") shouldBe expect(day)
      r.getAs[Boolean]("wau_hll_ok") shouldBe true
    }
  }

  behavior of "topkMergeCheck (q_topk_merge) vs scratch sorts"

  it should "match both keysums and prove the merge lemma" in {
    val orders = graft.Tables.orders(spark, sf)
      .select("o_orderkey", "o_orderpriority", "o_totalprice").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    def top10(xs: Seq[(Long, String, Double)]) =
      xs.sortBy(x => (-x._3, x._1)).take(10)
    val globalSum = top10(orders.toSeq).map(_._1).sum
    val merged = top10(orders.groupBy(_._2).values
      .flatMap(g => top10(g.toSeq)).toSeq).map(_._1).sum
    val r = Analytics.topkMergeCheck(spark, sf).head()
    r.getAs[Long]("global_keysum") shouldBe globalSum
    r.getAs[Long]("merged_keysum") shouldBe merged
    r.getAs[Boolean]("merge_exact") shouldBe (globalSum == merged)
    (globalSum == merged) shouldBe true
  }
}
