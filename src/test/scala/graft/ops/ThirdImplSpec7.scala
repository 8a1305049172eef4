package graft.ops

import graft.GraftTestBase
import graft.Scratch.{adj, md5hex, r6, seedSet, vertices}

import java.time.ZoneOffset

/** THIRD-IMPLEMENTATION battery, batch 7: the rest of the graph family
  * (VERDICT r11 task 6, completing the ThirdImplSpec6 sweep — with
  * these five, every graph-family census is pinned by a plain-Scala
  * per-edge/per-vertex recomputation: 6 in GraphSpec, 9 in batch 6,
  * 5 here).
  *
  * Same doctrine as batch 6: rebuild the co-purchase graph from raw
  * lineitem rows, recompute each statistic with mutable maps and
  * loops (BigInt/Double folds in the engines' pinned order where
  * floats are involved), share NO code with graft.ops. These five are
  * the ones whose oracle SQL is the most literally hand-unrolled from
  * the Scala plan (hash-ranked sampling, the RA/ego 1/deg folds, the
  * recommender profile pipeline), i.e. the highest mirrored-bug
  * exposure in the family.
  */
class ThirdImplSpec7 extends GraftTestBase {

  private def deg(x: Long): Long = adj(x).size.toLong

  behavior of "degreeDistribution (q_degree_dist) vs scratch histogram + Hill"

  it should "match the log2 buckets and the rank-ordered Hill fold" in {
    val degs = vertices.map(x => (x, deg(x)))
    val hist = degs.groupBy { case (_, dg) =>
      math.floor(math.log(dg.toDouble) / math.log(2.0)).toLong
    }.map { case (b, vs) =>
      (b, vs.size.toLong, vs.map(_._2).min, vs.map(_._2).max)
    }.toVector.sortBy(_._1)
    // top-k degrees by (dg DESC, x ASC), then the ln-ratio fold in
    // DESCENDING degree order — the engines' pinned accumulation order
    val ds = degs.sortBy { case (x, dg) => (-dg, x) }
      .take(Graph.hillK).map(_._2).sortBy(-_)
    val alpha: Option[Double] =
      if (ds.size < Graph.hillK) None
      else {
        val dk = ds(Graph.hillK - 1)
        var den = 0.0
        ds.take(Graph.hillK - 1).foreach { v =>
          den += math.log(v.toDouble / dk.toDouble)
        }
        if (den == 0.0) None else Some(r6(Graph.hillK.toDouble / den))
      }
    val got = Graph.degreeDistribution(spark, sf).collect()
      .map(r => (r.getAs[Long]("log2_bucket"), r.getAs[Long]("n_vertices"),
        r.getAs[Long]("min_degree"), r.getAs[Long]("max_degree"),
        Option(r.getAs[java.lang.Double]("hill_alpha")).map(_.toDouble)))
      .toVector.sortBy(_._1)
    got.map(t => (t._1, t._2, t._3, t._4)) shouldBe hist
    all(got.map(_._5)) shouldBe alpha
  }

  behavior of "neighborSample (q_gnn_sample) vs scratch hash-ranked fanout"

  it should "match deterministic 1-hop/2-hop samples per seed" in {
    val expected = seedSet.map { seed =>
      val h1 = adj(seed).toVector
        .map(v => (md5hex(s"$seed:$v"), v))
        .sortBy(identity).take(Graph.fanout1).map(_._2)
      val h2 = h1.flatMap { n1 =>
        adj(n1).toVector
          .map(v => (md5hex(s"$seed:$n1:$v"), v))
          .sortBy(identity).take(Graph.fanout2).map(_._2)
      }
      (seed, h1.size.toLong, h2.size.toLong, h2.sum)
    }
    val got = Graph.neighborSample(spark, sf).collect()
      .map(r => (r.getAs[Long]("seed"), r.getAs[Long]("n_hop1"),
        r.getAs[Long]("n_hop2"), r.getAs[Long]("sum_hop2"))).toVector
    got shouldBe expected
  }

  behavior of "linkPrediction (q_link_pred) vs scratch CN/Jaccard/RA"

  it should "match the top-20 distance-2 scores with the sorted RA fold" in {
    case class Scored(seed: Long, v: Long, cn: Long, ds: Long, dv: Long,
      jaccard: Double, ra: Double)
    val rowsAll = seedSet.flatMap { seed =>
      val witnesses = scala.collection.mutable.Map.empty[Long, Vector[Long]]
        .withDefaultValue(Vector.empty)
      for (w <- adj(seed); v <- adj(w)
           if v != seed && !adj(seed).contains(v))
        witnesses(v) = witnesses(v) :+ w
      witnesses.toVector.map { case (v, ws) =>
        val cn = ws.size.toLong
        // RA folds 1/deg over the (deg, witness)-ASC-sorted list — the
        // engines' pinned float accumulation order
        var ra = 0.0
        ws.map(w => (deg(w), w)).sorted.foreach { case (dw, _) =>
          ra += 1.0 / dw
        }
        Scored(seed, v, cn, deg(seed), deg(v),
          r6(cn.toDouble / (deg(seed) + deg(v) - cn).toDouble), r6(ra))
      }
    }
    val expected = rowsAll
      .sortBy(s => (-s.cn, s.seed, s.v)).take(20)
      .map(s => (s.seed, s.v, s.cn, s.ds, s.dv, s.jaccard, s.ra))
    val got = Graph.linkPrediction(spark, sf).collect()
      .map(r => (r.getAs[Long]("seed"), r.getAs[Long]("v"),
        r.getAs[Long]("cn"), r.getAs[Long]("ds"), r.getAs[Long]("dv"),
        r.getAs[Double]("jaccard"), r.getAs[Double]("ra"))).toVector
    got shouldBe expected
  }

  behavior of "egoBetweenness (q_ego_betweenness) vs scratch ego pairs"

  it should "match non-adjacent pair counts and the 1/k fold per seed" in {
    val expected = seedSet.flatMap { seed =>
      val nb = adj(seed).toVector.sorted
      val pairs = for {
        i <- nb.indices
        j <- i + 1 until nb.size
        u = nb(i); w = nb(j)
        if !adj(u).contains(w)
      } yield {
        val k = (adj(u) & adj(w) & nb.toSet).size + 1L
        (u, w, k)
      }
      if (pairs.isEmpty) None
      else {
        var s = 0.0
        pairs.sortBy(identity).foreach { case (_, _, k) => s += 1.0 / k }
        Some((seed, pairs.size.toLong, r6(s)))
      }
    }
    val got = Graph.egoBetweenness(spark, sf).collect()
      .map(r => (r.getAs[Long]("seed"), r.getAs[Long]("n_pairs"),
        r.getAs[Double]("ego_betweenness"))).toVector
    got.sortBy(_._1) shouldBe expected.sortBy(_._1)
    // and the engine's own ordering contract
    got.sortBy(t => (-t._3, t._1)) shouldBe got
  }

  behavior of "recommenderEval (q_reco_eval) vs a scratch recommender loop"

  it should "match hit-rate@5 recomputed customer by customer" in {
    val split = java.time.LocalDate.parse(Graph.recoSplitDate)
    val ords = graft.Tables.orders(spark, sf)
      .select("o_orderkey", "o_custkey", "o_orderdate").collect()
      .map(r => r.getLong(0) -> (r.getLong(1),
        r.getTimestamp(2).toInstant.atZone(ZoneOffset.UTC).toLocalDate))
      .toMap
    val li = graft.Tables.lineitem(spark, sf)
      .select("l_orderkey", "l_partkey").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    // (cust, part) -> (last train date, in test)
    val cp = scala.collection.mutable.Map
      .empty[(Long, Long), (Option[java.time.LocalDate], Boolean)]
    li.foreach { case (ok, p) =>
      ords.get(ok).foreach { case (c, od) =>
        val isTrain = od.isBefore(split)
        val (lastOd, inTest) = cp.getOrElse((c, p), (None, false))
        cp((c, p)) = (
          if (isTrain && lastOd.forall(_.isBefore(od))) Some(od) else lastOd,
          inTest || !isTrain)
      }
    }
    var nCustomers = 0L; var nRec = 0L; var nHits = 0L; var nCustHit = 0L
    cp.keys.map(_._1).toVector.distinct.sorted.foreach { c =>
      val mine = cp.collect { case ((`c`, p), v) => p -> v }.toVector
      val owned = mine.collect { case (p, (Some(_), _)) => p }.toSet
      val test = mine.collect { case (p, (_, true)) => p }.toSet
      if (owned.nonEmpty && test.nonEmpty) {
        val basket = mine
          .collect { case (p, (Some(od), _)) => (od, p) }
          .sortBy { case (od, p) => (-od.toEpochDay, p) }
          .take(5).map(_._2)
        val cn = scala.collection.mutable.Map.empty[Long, Long]
          .withDefaultValue(0L)
        for (bp <- basket; cand <- adj(bp)) cn(cand) = cn(cand) + 1
        val topk = cn.toVector
          .filterNot { case (cand, _) => owned.contains(cand) }
          .sortBy { case (cand, n) => (-n, cand) }
          .take(Graph.recoK)
        nCustomers += 1
        nRec += topk.size
        val hit = topk.count { case (cand, _) => test.contains(cand) }
        nHits += hit
        if (hit > 0) nCustHit += 1
      }
    }
    val r = Graph.recommenderEval(spark, sf).head()
    r.getAs[Long]("n_customers") shouldBe nCustomers
    r.getAs[Long]("n_recommended") shouldBe nRec
    r.getAs[Long]("n_hits") shouldBe nHits
    r.getAs[Double]("precision_at_k") shouldBe
      r6(nHits.toDouble / math.max(nRec, 1L).toDouble)
    r.getAs[Double]("hit_rate") shouldBe
      r6(nCustHit.toDouble / math.max(nCustomers, 1L).toDouble)
  }
}
