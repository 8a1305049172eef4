package graft.ops

import graft.GraftTestBase
import graft.Scratch.{adj, canonEdges, r6, seedSet, vertices}

/** THIRD-IMPLEMENTATION battery, batch 6: the GRAPH census family
  * (VERDICT r11 task 6).
  *
  * The DuckDB oracle CTEs for the graph queries are hand-unrolled
  * mirrors of the Scala plans (same recurrence, same tie rule, same
  * integer scale), which leaves them exposed to the mirrored-formula
  * failure mode q_hubness demonstrated (ADVICE r10): a wrong formula
  * copied faithfully into both engines grades green. GraphSpec already
  * pins pageRank / bfs / sssp / kcore / label-prop to driver-side
  * replicas; this batch systematizes the REST of the graph family —
  * every census below is recomputed from the raw lineitem/orders
  * parquet with plain Scala collections (mutable maps, while loops,
  * BigInt where the engines use decimal(38,0)) and the engine output
  * is pinned to it.
  *
  * Graph construction is re-derived from scratch per the reference
  * semantics (co-purchase: distinct (order, part), all within-order
  * part pairs, global distinct) rather than calling any graft.ops
  * helper — the point is an implementation that shares NO code with
  * the system under test. sf0.001 keeps every structure at spec scale
  * (~2.3k vertices, ~40k edges).
  */
class ThirdImplSpec6 extends GraftTestBase {

  private def deg(x: Long): Long = adj(x).size.toLong

  /** Per-edge triangle support sup(u,v) = |N(u) ∩ N(v)| over an
    * arbitrary canonical edge set. */
  private def supportOf(es: Set[(Long, Long)]): Map[(Long, Long), Int] = {
    val a = scala.collection.mutable.Map.empty[Long, Set[Long]]
      .withDefaultValue(Set.empty)
    es.foreach { case (u, v) => a(u) = a(u) + v; a(v) = a(v) + u }
    es.iterator.map { e => e -> (a(e._1) & a(e._2)).size }.toMap
  }

  behavior of "coPurchaseTriangles (q_triangles) vs a scratch census"

  it should "match vertex/edge/wedge/triangle counts recomputed per-edge" in {
    val sup = supportOf(canonEdges)
    val nTri = sup.valuesIterator.map(_.toLong).sum / 3
    val nWedges = vertices.map(x => deg(x) * (deg(x) - 1) / 2).sum
    val r = Graph.coPurchaseTriangles(spark, sf).head()
    r.getAs[Long]("n_vertices") shouldBe vertices.size.toLong
    r.getAs[Long]("n_edges") shouldBe canonEdges.size.toLong
    r.getAs[Long]("n_wedges") shouldBe nWedges
    r.getAs[Long]("n_triangles") shouldBe nTri
  }

  behavior of "kTruss (q_ktruss) vs scratch per-round peeling"

  it should "match every round's edge census and triangle count" in {
    // full recompute each round — no decremental maintenance, the
    // structurally-different path the engine's rounds 2+ optimize
    val k = 4
    var cur = canonEdges
    val expected = (1 to Graph.ktrussRounds).map { round =>
      val sup = supportOf(cur)
      val nTriBefore = sup.valuesIterator.map(_.toLong).sum / 3
      val next = cur.filter(e => sup(e) >= k - 2)
      val row = (round, next.size.toLong, nTriBefore)
      cur = next
      row
    }
    val got = Graph.kTruss(spark, sf).collect()
      .map(r => (r.getAs[Int]("round"), r.getAs[Long]("n_edges"),
        r.getAs[Long]("n_triangles_before"))).toSeq.sortBy(_._1)
    got shouldBe expected
  }

  behavior of "eigenCentrality (q_eigencentrality) vs scratch walk counts"

  it should "match 4-round integer walk counts normalized once" in {
    // w¹ = deg (walks of length 1 ending at x), then 3 more rounds of
    // w ← Aᵀw in BigInt — the engines use decimal(38,0)
    var w: Map[Long, BigInt] =
      vertices.map(x => x -> BigInt(deg(x))).toMap
    for (_ <- 1 to 3) {
      val nw = scala.collection.mutable.Map.empty[Long, BigInt]
        .withDefaultValue(BigInt(0))
      for ((u, ns) <- adj; v <- ns) nw(v) = nw(v) + w(u)
      w = nw.toMap
    }
    val mx = w.values.max
    // decimal(38,0) → double cast is correctly rounded on both sides,
    // so double/double division then r6 is bit-identical to the engine
    val top = w.toVector
      .map { case (x, ww) => (x, r6(ww.toDouble / mx.toDouble)) }
      .sortBy { case (x, sc) => (-sc, x) }
      .take(20)
    val got = Graph.eigenCentrality(spark, sf).collect()
      .map(r => (r.getAs[Long]("vertex"), r.getAs[Double]("score"))).toVector
    got shouldBe top
  }

  behavior of "harmonicCentrality (q_harmonic) vs per-seed scratch BFS"

  it should "match per-hop reach counts and the exact harmonic6 integers" in {
    val expected = seedSet.map { s =>
      var visited = Set(s)
      var frontier = Set(s)
      val levels = (1 to Graph.bfsMaxHops).map { _ =>
        val next = frontier.flatMap(adj(_)) -- visited
        visited ++= next
        frontier = next
        next.size.toLong
      }
      (s, levels(0), levels(1), levels(2),
        levels(0) * 6 + levels(1) * 3 + levels(2) * 2)
    }
    val got = Graph.harmonicCentrality(spark, sf).collect()
      .map(r => (r.getAs[Long]("seed"), r.getAs[Long]("n1"),
        r.getAs[Long]("n2"), r.getAs[Long]("n3"),
        r.getAs[Long]("harmonic6")))
      .toVector.sortBy(_._1)
    got shouldBe expected.sortBy(_._1)
  }

  behavior of "personalizedPageRank (q_ppr_seeds) vs scratch fixed-point"

  it should "match the exact integer restart recurrence" in {
    // r⁰(v) = [v∈S]·scale;
    // rʳ(v) = [v∈S]·150000 + ⌊850 · Σ_{u~v} ⌊rʳ⁻¹(u) / deg u⌋ / 1000⌋
    val seeds = seedSet.toSet
    var r: Map[Long, Long] =
      vertices.map(x => x -> (if (seeds(x)) Graph.prScale else 0L)).toMap
    for (_ <- 1 to Graph.pprIters) {
      val contrib = scala.collection.mutable.Map.empty[Long, Long]
        .withDefaultValue(0L)
      for ((u, ns) <- adj; c = r(u) / deg(u); if c != 0; v <- ns)
        contrib(v) = contrib(v) + c
      r = vertices.map { x =>
        x -> ((if (seeds(x)) 150000L else 0L) + 850L * contrib(x) / 1000L)
      }.toMap
    }
    val expected = r.toVector
      .collect { case (x, m) if !seeds(x) && m > 0 => (x, deg(x), m) }
      .sortBy { case (x, _, m) => (-m, x) }
      .take(20)
    val got = Graph.personalizedPageRank(spark, sf).collect()
      .map(rr => (rr.getAs[Long]("part"), rr.getAs[Long]("degree"),
        rr.getAs[Long]("ppr_scaled"))).toVector
    got shouldBe expected
  }

  behavior of "degreeAssortativity (q_assortativity) vs scratch Pearson"

  it should "match the directed-edge degree correlation" in {
    // per DIRECTED edge (both orientations), Pearson over (deg u, deg v)
    val pairs = canonEdges.toVector.flatMap { case (u, v) =>
      Vector((deg(u), deg(v)), (deg(v), deg(u)))
    }
    val n = BigInt(pairs.size)
    val sx = pairs.map(p => BigInt(p._1)).sum
    val sy = pairs.map(p => BigInt(p._2)).sum
    val sxy = pairs.map(p => BigInt(p._1) * BigInt(p._2)).sum
    val sxx = pairs.map(p => BigInt(p._1) * BigInt(p._1)).sum
    val syy = pairs.map(p => BigInt(p._2) * BigInt(p._2)).sum
    val rho = (n * sxy - sx * sy).toDouble /
      (math.sqrt((n * sxx - sx * sx).toDouble) *
        math.sqrt((n * syy - sy * sy).toDouble))
    val row = Graph.degreeAssortativity(spark, sf).head()
    row.getAs[Long]("n_directed_edges") shouldBe pairs.size.toLong
    row.getAs[Double]("assortativity") shouldBe r6(rho)
  }

  behavior of "richClub (q_rich_club) vs scratch induced-subgraph counts"

  it should "match n_k, club edges and phi on the doubling ladder" in {
    val expected = (0 until 8).map(1L << _).flatMap { k =>
      val club = vertices.filter(deg(_) > k).toSet
      if (club.size < 2) None
      else {
        val e2 = 2L * canonEdges.count(e => club(e._1) && club(e._2))
        Some((k, club.size.toLong, e2 / 2,
          r6(e2.toDouble / (club.size.toDouble * (club.size - 1).toDouble))))
      }
    }.toVector
    val got = Graph.richClub(spark, sf).collect()
      .map(r => (r.getAs[Long]("k"), r.getAs[Long]("n_nodes"),
        r.getAs[Long]("club_edges"), r.getAs[Double]("phi"))).toVector
    got shouldBe expected
  }

  behavior of "clusteringCoefficient (q_clustering_coef) vs scratch closure"

  it should "match per-vertex triangle counts, cc and transitivity" in {
    val sup = supportOf(canonEdges)
    val tri = scala.collection.mutable.Map.empty[Long, Long]
      .withDefaultValue(0L)
    // each triangle at x is witnessed by both incident corner edges
    sup.foreach { case ((u, v), c) =>
      tri(u) = tri(u) + c; tri(v) = tri(v) + c
    }
    val perVertex = tri.map { case (x, c2) => x -> c2 / 2 }
    val s3 = sup.valuesIterator.map(_.toLong).sum
    val wedges = vertices.map(x => deg(x) * (deg(x) - 1) / 2).sum
    val trans = r6(s3.toDouble / wedges.toDouble)
    val expected = perVertex.toVector
      .sortBy { case (x, t) => (-t, x) }.take(20)
      .map { case (x, t) =>
        (x, deg(x), t,
          r6(2.0 * t.toDouble / (deg(x) * (deg(x) - 1)).toDouble), trans)
      }
    val got = Graph.clusteringCoefficient(spark, sf).collect()
      .map(r => (r.getAs[Long]("part"), r.getAs[Long]("degree"),
        r.getAs[Long]("n_triangles"), r.getAs[Double]("local_cc"),
        r.getAs[Double]("transitivity"))).toVector
    got shouldBe expected
  }

  behavior of "neighborhoodFunction (q_neighborhood) vs scratch reach"

  it should "match exact cumulative reach and keep the HLL inside its bound" in {
    // a hop level exists only while the frontier is non-empty: on a
    // saturating graph the engine emits no row for the empty tail
    var visited = seedSet.toSet
    val reach = scala.collection.mutable.ArrayBuffer(visited.size.toLong)
    var frontier = visited
    var h = 0
    while (h < Graph.bfsMaxHops && frontier.nonEmpty) {
      val next = frontier.flatMap(adj(_)) -- visited
      visited ++= next
      frontier = next
      if (next.nonEmpty) reach += visited.size.toLong
      h += 1
    }
    val got = Graph.neighborhoodFunction(spark, sf).collect()
      .map(r => (r.getAs[Long]("hop"), r.getAs[Long]("n_reach"),
        r.getAs[Boolean]("hll_ok"))).toVector.sortBy(_._1)
    got.map(_._1) shouldBe reach.indices.map(_.toLong).toVector
    got.map(_._2) shouldBe reach.toVector
    all(got.map(_._3)) shouldBe true
  }

  behavior of "hitsBipartite (q_hits) vs scratch alternating walks"

  it should "match authority walk counts on the two-mode graph" in {
    val li = graft.Tables.lineitem(spark, sf)
      .select("l_orderkey", "l_partkey").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val ords = graft.Tables.orders(spark, sf)
      .select("o_orderkey", "o_custkey").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val b = li.flatMap { case (ok, p) => ords.get(ok).map(c => (c, p)) }
      .distinct
    val auth1 = b.groupBy(_._2).map { case (p, es) => p -> es.size.toLong }
    val hub1 = b.groupBy(_._1).map { case (c, es) =>
      c -> es.map(e => auth1(e._2)).sum
    }
    val byPart = b.groupBy(_._2)
    val auth2 = byPart.map { case (p, es) => p -> es.map(e => hub1(e._1)).sum }
    val tot = auth2.values.sum
    val expected = auth2.toVector
      .sortBy { case (p, a2) => (-a2, p) }.take(20)
      .map { case (p, a2) =>
        (p, auth1(p), a2, a2 * 1000000L / tot)
      }
    val got = Graph.hitsBipartite(spark, sf).collect()
      .map(r => (r.getAs[Long]("part"), r.getAs[Long]("degree"),
        r.getAs[Long]("authority_walks"), r.getAs[Long]("share_ppm")))
      .toVector
    got shouldBe expected
  }
}
