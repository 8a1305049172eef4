package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Tables
import graft.Pin.Pinned
import graft.functions.GraftFunctions.{sortedIntersect, sortedIntersectCount}

/** Graph analytics over the co-purchase graph (parts are vertices; an
  * edge connects two parts that share an order). Triangle counting is
  * the canonical "does this engine do graphs at scale?" kernel — the
  * naive three-way self-join explodes on high-degree vertices, so every
  * triangle-shaped query here (census, clustering coefficient, k-truss)
  * reads ONE shared per-edge support pass ([[edgeSupport]]): a local
  * array-intersect of the two endpoints' pinned adjacency lists per
  * edge — never a wedge materialization (on dense graphs wedges
  * outnumber edges by two orders of magnitude). For a SOLO one-shot
  * count on a skew-heavy graph the degree-oriented edge-iterator
  * (O(sqrt m)-bounded out-lists, O(m^1.5) total work) is the textbook
  * alternative; on this degree-uniform corpus it measured no faster
  * (PERF.md r7) and cannot be shared across the suite.
  *
  * Everything is exact-integer DataFrame algebra: edge generation is the
  * posting-list pattern (collect the basket per order, pair-expand
  * locally — bounded by basket size, never a self-join re-scan),
  * degrees/orientation/closure are key-partitioned shuffles, and the
  * four global counts ride broadcast one-row frames. No driver-side
  * graph state.
  */
object Graph {

  /** The module's five pinned memos (adjacency, edges, biEdges,
    * edgeSupport, seedDistances), each built ONCE per (session,
    * dataset) and shared by every query in the graph suite. Before
    * these memos each of the eight graph queries re-ran basket
    * expansion + distinct from lineitem (~8 independent builds of the
    * identical edge list, ~half the graph suite's bench cost). On a
    * production cluster the same role is played by a bucketed edge
    * table written once ([[graft.sources.Bucketing.writeBucketed]]
    * keyed by `u`) so downstream joins co-locate without reshuffling;
    * in-session the pinned blocks give the same read-many behavior.
    * Durability contract as at every [[graft.Pin]] site: in the default
    * (localCheckpoint) mode an executor loss fails loudly rather than
    * silently recomputing; setting `spark.graft.checkpoint.dir` to a
    * fault-tolerant path swaps every pin in this module (and every
    * iterative loop engine-wide) to reliable `checkpoint()`s that
    * survive executor loss — the mode a 1000-executor 100 TB run
    * should use. The memos read each other without cycles (edges,
    * biEdges → adjacency; seedDistances → biEdges; edgeSupport →
    * adjacency, edges). */
  private val memo = new graft.Memo.Cache("graph")

  /** Drop this module's memos for `s`; [[graft.Memo.clearAll]] drops
    * them along with every other module's. */
  def clearCaches(s: SparkSession): Unit = memo.clear(s)

  /** Canonical (u < v) co-purchase edge list — DERIVED from the memoized
    * full adjacency by a narrow explode + filter, so it inherits the
    * adjacency's hash partitioning on `u` at zero shuffle cost (pin
    * preserves outputPartitioning). Round 12 restructured the memo
    * chain adjacency-first: the old chain built edges with its own
    * pair-distinct shuffle, then biEdges, then adjacency with ANOTHER
    * full shuffle, and [[edgeSupport]] re-exchanged edges on u — four
    * big exchanges where two suffice. Now the one [[adjFullCached]]
    * groupBy is the chain's only edge-building shuffle and every
    * derived frame (edges, biEdges) stays co-partitioned with it, so
    * the u-side join of [[edgeSupport]] is exchange-free. Measured at
    * sf0.1 (iso best-of-5 on the chain's heaviest reader, q_ktruss):
    * 14.14 → 13.19 s, cold chain 31.4 → ~12 s on the same contended
    * host (PERF.md round-12 rows). */
  private def edges(s: SparkSession, d: String): DataFrame =
    memo(s, d, "edges")(
      adjFullCached(s, d)
        .select(col("x").as("u"), explode(col("nb")).as("v"))
        .filter(col("v") > col("u"))
        .pin())

  /** Shared BIDIRECTIONAL edge frame (u→v and v→u), memoized like
    * [[edges]]: eight graph queries were each re-unioning and
    * re-pinning their own 2×|E| copy per run — one cached build now
    * serves the whole suite (round-7 bench: the bi construction was
    * ~1–2 s per consumer). Like [[edges]] it is a narrow explode of
    * the full adjacency (round 12), hash-partitioned on `u` for free.
    * Memoized in [[memo]] like every graph build. */
  private def biEdges(s: SparkSession, d: String): DataFrame =
    memo(s, d, "biEdges")(
      adjFullCached(s, d)
        .select(col("x").as("u"), explode(col("nb")).as("v"))
        .pin())

  /** Fixed-size deterministic multi-source seed set: the [[seedCap]]
    * SMALLEST part keys ≡ 0 (mod 500) present in the graph. The cap is
    * the scale guard: an uncapped `% 500` filter grows linearly with
    * the part catalog (~4,000 seeds at 100× this corpus), and
    * per-(seed, vertex) BFS state on a dense graph is then
    * O(n²/500) — a scale-killer. With the cap, frontier state is
    * O(seedCap × n) at ANY catalog size, and the selection stays
    * expressible in both engines (ORDER BY u LIMIT 50). At sf ≤ 0.1
    * every qualifying key survives the cap (≤ 40), so small-scale
    * results are unchanged. ALL-vertex centrality at production scale
    * is a different algorithm: HyperBall-style HLL neighborhood
    * sketches (one mergeable sketch per vertex per round), not n
    * exact BFS traversals. */
  val seedCap = 50
  private def seeds(bi: DataFrame): DataFrame =
    bi.select(col("u").as("x")).distinct()
      .filter(col("x") % 500 === 0)
      .orderBy("x").limit(seedCap)

  /** One row: vertex/edge/wedge/triangle census of the co-purchase
    * graph. n_wedges is the path-of-length-2 count Σ C(deg, 2) (the
    * clustering-coefficient denominator), computed from the degree
    * relation — exact integers throughout. */
  def coPurchaseTriangles(s: SparkSession, d: String): DataFrame = {
    // One shared triangle pass for the whole suite: the global count is
    // Σ sup / 3 over [[edgeSupport]] (each triangle is seen from all
    // three corner edges), so this query does NO closure work of its
    // own — it aggregates the memoized support frame that
    // q_clustering_coef and q_ktruss also read. Degrees come from the
    // pinned full adjacency (array size, no extra shuffle).
    val e = edges(s, d)
    val sup = edgeSupport(s, d)
    val deg = adjFullCached(s, d)
      .select(col("x"),
        org.apache.spark.sql.functions.size(col("nb")).cast("long").as("dg"))
    val nv = deg.agg(count(lit(1)).as("n_vertices"))
    val ne = e.agg(count(lit(1)).as("n_edges"))
    val nw = deg.agg(expr("sum(dg * (dg - 1) div 2)").cast("long").as("n_wedges"))
    val nt = sup
      .agg(coalesce((sum(col("sup")) / 3).cast("long"), lit(0L))
        .as("n_triangles"))
    nv.crossJoin(broadcast(ne)).crossJoin(broadcast(nw)).crossJoin(broadcast(nt))
  }

  /** PageRank iteration count — fixed and unrolled so the result is a
    * deterministic value both engines compute exactly. */
  val prIters = 5
  /** Rank scale: ranks live as integers in units of 1e-6 (initial rank
    * 1.0 → 1,000,000). With floor division at every step the whole
    * recurrence is integer arithmetic — commutative, associative,
    * overflow-safe (≤ ~2e11 intermediate) — so the result is bit-equal
    * across engines AND partitionings, where a float PageRank would
    * drift with summation order. */
  val prScale = 1000000L

  /** Fixed-point (integer) PageRank over the undirected co-purchase
    * graph, damping 0.85, [[prIters]] iterations, top 20 by final rank:
    * r'(v) = 0.15·scale + ⌊850 · Σ_{u~v} ⌊r(u)/deg(u)⌋ / 1000⌋.
    *
    * Scale: each iteration is one key-shuffle join (edge → source rank)
    * plus a map-side-combinable sum by destination — the standard
    * synchronous-gather rendering; 5 unrolled iterations = 5 shuffle
    * rounds, no driver-side graph state. The bidirectional edge list is
    * localCheckpoint'd once up front: six plan subtrees (degrees + five
    * gathers) read the pinned blocks instead of re-running basket
    * expansion six times (same durability contract as the dedup
    * clustering loop — an executor loss fails loudly). Isolated parts
    * (never co-purchased) have no edges and are out of scope of the
    * graph by construction. */
  def pageRank(s: SparkSession, d: String): DataFrame = {
    val bi = biEdges(s, d)
    val deg = bi.groupBy(col("u").as("x")).agg(count(lit(1)).as("dg"))
    var r = deg.select(col("x"), col("dg"), lit(prScale).as("r"))
    for (_ <- 1 to prIters) {
      val contrib = bi
        .join(r.select(col("x").as("u"), expr("r div dg").as("c")), Seq("u"))
        .groupBy(col("v").as("x")).agg(sum("c").as("s"))
      r = deg.join(contrib, Seq("x"))
        .select(col("x"), col("dg"),
          (lit(150L * prScale / 1000L) + expr("(850 * s) div 1000")).as("r"))
    }
    r.orderBy(col("r").desc, col("x"))
      .limit(20)
      .select(col("x").as("part"), col("dg").as("degree"),
        col("r").as("rank_scaled"))
  }

  val pageRankSql: String = {
    val base =
      """WITH pr AS (
        |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |e AS (
        |  SELECT DISTINCT a.p AS u, b.p AS v
        |  FROM pr a JOIN pr b ON a.o = b.o AND a.p < b.p),
        |bi AS (SELECT u, v FROM e UNION ALL SELECT v AS u, u AS v FROM e),
        |deg AS (SELECT u AS x, count(*) AS dg FROM bi GROUP BY u),
        |r0 AS (SELECT x, dg, CAST(1000000 AS BIGINT) AS r FROM deg)""".stripMargin
    val iters = (1 to prIters).map { i =>
      s"""r$i AS (
         |  SELECT d.x, d.dg,
         |    150000 + CAST((850 * s.s) // 1000 AS BIGINT) AS r
         |  FROM deg d JOIN (
         |    SELECT bi.v AS x, CAST(sum(p.r // p.dg) AS BIGINT) AS s
         |    FROM bi JOIN r${i - 1} p ON p.x = bi.u
         |    GROUP BY bi.v) s ON s.x = d.x)""".stripMargin
    }.mkString(",\n", ",\n", "")
    base + iters +
      s"""
         |SELECT x AS part, dg AS degree, r AS rank_scaled
         |FROM r$prIters ORDER BY r DESC, x LIMIT 20""".stripMargin
  }

  /** Personalized-PageRank rounds — fixed and unrolled like
    * [[prIters]] so both engines compute the identical value. */
  val pprIters = 4

  /** PERSONALIZED PAGERANK from the capped [[seeds]] set — "relevance
    * to THESE products", the related-items score a recommender surface
    * serves, where global [[pageRank]] measures importance to the
    * whole graph. Same exact-integer fixed-point discipline (scale
    * [[prScale]], floor division at every step → bit-equal across
    * engines AND partitionings): restart mass lands ONLY on seeds,
    *   r'(v) = [v∈S]·150000 + ⌊850 · Σ_{u~v} ⌊r(u)/deg u⌋ / 1000⌋,
    * r0 = [v∈S]·scale. Output: top 20 NON-seed vertices by final mass
    * (the actual recommendation list — seeds trivially dominate).
    *
    * Scale: identical per-round shape to [[pageRank]] — one
    * key-shuffle join + a map-side-combinable sum by destination;
    * per-round state O(V); the seed flag rides the degree relation.
    * Early rounds touch only the seeds' expanding neighborhood (the
    * r>0 filter), so cost ramps with reach, not |V|. */
  def personalizedPageRank(s: SparkSession, d: String): DataFrame = {
    val bi = biEdges(s, d)
    val deg = bi.groupBy(col("u").as("x")).agg(count(lit(1)).as("dg"))
    val sd = seeds(bi).select(col("x"), lit(1).as("is_seed"))
    // degree relation + seed flag, pinned once: init + every round +
    // the final projection read it
    val degS = deg.join(broadcast(sd), Seq("x"), "left")
      .select(col("x"), col("dg"),
        coalesce(col("is_seed"), lit(0)).as("is_seed"))
      .pin()
    var r = degS.select(col("x"), col("dg"), col("is_seed"),
      (col("is_seed").cast("long") * prScale).as("r"))
    for (_ <- 1 to pprIters) {
      // ⌊0/deg⌋ contributes nothing: the r>0 filter only prunes work
      val contrib = bi
        .join(r.filter(col("r") > 0)
          .select(col("x").as("u"), expr("r div dg").as("c")), Seq("u"))
        .groupBy(col("v").as("x")).agg(sum("c").as("s"))
      r = degS.join(contrib, Seq("x"), "left")
        .select(col("x"), col("dg"), col("is_seed"),
          (col("is_seed").cast("long") * 150000L +
            expr("(850 * coalesce(s, 0L)) div 1000")).as("r"))
    }
    r.filter(col("is_seed") === 0 && col("r") > 0)
      .orderBy(col("r").desc, col("x"))
      .limit(20)
      .select(col("x").as("part"), col("dg").as("degree"),
        col("r").as("ppr_scaled"))
  }

  val personalizedPageRankSql: String = {
    val base =
      s"""WITH pr AS (
         |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
         |e AS (
         |  SELECT DISTINCT a.p AS u, b.p AS v
         |  FROM pr a JOIN pr b ON a.o = b.o AND a.p < b.p),
         |bi AS (SELECT u, v FROM e UNION ALL SELECT v AS u, u AS v FROM e),
         |deg AS (SELECT u AS x, count(*) AS dg FROM bi GROUP BY u),
         |sd AS (SELECT DISTINCT u AS x FROM bi WHERE u % 500 = 0
         |  ORDER BY x LIMIT $seedCap),
         |ds AS (SELECT deg.x, deg.dg,
         |  CASE WHEN sd.x IS NOT NULL THEN 1 ELSE 0 END AS is_seed
         |  FROM deg LEFT JOIN sd ON sd.x = deg.x),
         |r0 AS (SELECT x, dg, is_seed,
         |  CAST(is_seed * $prScale AS BIGINT) AS r FROM ds)""".stripMargin
    val iters = (1 to pprIters).map { i =>
      s"""r$i AS (
         |  SELECT d.x, d.dg, d.is_seed,
         |    CAST(d.is_seed * 150000
         |      + (850 * COALESCE(s.s, 0)) // 1000 AS BIGINT) AS r
         |  FROM ds d LEFT JOIN (
         |    SELECT bi.v AS x, CAST(sum(p.r // p.dg) AS BIGINT) AS s
         |    FROM bi JOIN r${i - 1} p ON p.x = bi.u
         |    GROUP BY bi.v) s ON s.x = d.x)""".stripMargin
    }.mkString(",\n", ",\n", "")
    base + iters +
      s"""
         |SELECT x AS part, dg AS degree, r AS ppr_scaled
         |FROM r$pprIters WHERE is_seed = 0 AND r > 0
         |ORDER BY r DESC, x LIMIT 20""".stripMargin
  }

  /** Bounded BFS hop count. Fixed so both renderings terminate on the
    * same frontier and the oracle's recursive depth is capped. */
  val bfsMaxHops = 3

  /** Multi-source BFS over the co-purchase graph: minimum hop distance
    * from the fixed-size seed set ([[seeds]]: the [[seedCap]] smallest
    * parts ≡ 0 mod 500) to every reachable vertex within
    * [[bfsMaxHops]] hops, reported as a per-level census
    * (count + id-sum per distance). The frontier rendering is the
    * 1000-executor shape: each round is ONE key-shuffle join (frontier →
    * neighbors) plus a left-anti against the visited set, so per-round
    * cost tracks the frontier, not the graph; `localCheckpoint` pins
    * each round's visited set (the pageRank/clustering durability
    * contract — executor loss fails loudly) so round k's plan does not
    * re-expand rounds 1..k-1. The id-sum makes the census sensitive to
    * WHICH vertices land at each level, not just how many.
    *
    * Oracle: DuckDB recursive CTE with UNION-dedup on (vertex, depth)
    * and min(depth) per vertex — the textbook SQL BFS, exercising a
    * whole oracle class (recursive queries) the rest of the catalog
    * doesn't touch. */
  /** The multi-source (x, min-hop) distance frame from the capped
    * [[seeds]] set — cached per (session, dataset) like [[edges]],
    * because [[bfsHops]] and [[neighborhoodFunction]] consume the
    * IDENTICAL BFS and each round's localCheckpoint already pins its
    * blocks; sharing saves the whole second traversal. */
  private def seedDistances(s: SparkSession, d: String): DataFrame =
    memo(s, d, "seedDistances") {
      val bi = biEdges(s, d)
      var dist = seeds(bi)
        .select(col("x"), lit(0).as("hop"))
        .pin()
      for (h <- 1 to bfsMaxHops) {
        val frontier = dist.filter(col("hop") === h - 1).select(col("x").as("u"))
        val next = bi.join(frontier, Seq("u"))
          .select(col("v").as("x")).distinct()
          .join(dist, Seq("x"), "left_anti")
          .select(col("x"), lit(h).as("hop"))
        dist = dist.unionAll(next).pin()
      }
      dist
    }

  def bfsHops(s: SparkSession, d: String): DataFrame =
    seedDistances(s, d).groupBy("hop")
      .agg(count(lit(1)).as("n_parts"), sum(col("x")).as("sum_parts"))

  val bfsHopsSql: String =
    s"""WITH RECURSIVE pr AS (
       |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
       |e AS (
       |  SELECT DISTINCT a.p AS u, b.p AS v
       |  FROM pr a JOIN pr b ON a.o = b.o AND a.p < b.p),
       |bi AS (SELECT u, v FROM e UNION ALL SELECT v AS u, u AS v FROM e),
       |seeds AS (
       |  SELECT DISTINCT u AS x FROM bi WHERE u % 500 = 0
       |  ORDER BY x LIMIT $seedCap),
       |reach(x, d) AS (
       |  SELECT x, 0 AS d FROM seeds
       |  UNION
       |  SELECT bi.v, r.d + 1 FROM reach r
       |  JOIN bi ON bi.u = r.x WHERE r.d < $bfsMaxHops),
       |hops AS (SELECT x, min(d) AS hop FROM reach GROUP BY x)
       |SELECT CAST(hop AS INTEGER) AS hop, count(*) AS n_parts,
       |  CAST(sum(x) AS BIGINT) AS sum_parts
       |FROM hops GROUP BY hop""".stripMargin

  /** Top-order-statistics count for the Hill tail estimate. */
  val hillK = 50

  /** DEGREE DISTRIBUTION + HILL TAIL INDEX — is the co-purchase graph
    * power-law, and how heavy is its tail? Ships the log2-bucketed
    * degree histogram (the visual check) and the Hill estimator over
    * the top [[hillK]] degrees, α = k / Σ_{i<k} ln(d_i / d_k) — the
    * standard tail-exponent readout that decides whether degree-skew
    * mitigations (salting, the oriented triangle counting above) are
    * load-bearing or paranoia for this graph.
    *
    * Determinism: the histogram is exact integers; the Hill sum runs
    * INSIDE a sorted top-k array (ln ratios folded in rank order — the
    * decayedPopularity array-fold discipline), so the only floats are
    * ln of exact integer ratios accumulated in a pinned order, rounded
    * 6. The top-k degrees ride one TakeOrdered; the histogram is one
    * map-side-combinable aggregate over the degree relation. */
  def degreeDistribution(s: SparkSession, d: String): DataFrame = {
    val e = edges(s, d)
    val deg = e.select(col("u").as("x"))
      .unionAll(e.select(col("v").as("x")))
      .groupBy("x").agg(count(lit(1)).as("dg"))
    val hist = deg
      .groupBy(floor(log(col("dg").cast("double")) / log(lit(2.0))).cast("long")
        .as("log2_bucket"))
      .agg(count(lit(1)).as("n_vertices"), min(col("dg")).as("min_degree"),
        max(col("dg")).as("max_degree"))
    // Guards (engine-portability, not paranoia): under ANSI Spark an
    // out-of-bounds element_at THROWS while DuckDB ds[k] yields NULL, so
    // a corpus with < hillK distinct vertices must short-circuit to a
    // NULL alpha BEFORE indexing; and an all-equal top-k makes the Hill
    // denominator 0, where Infinity/NaN render differently between
    // engines — pinned to NULL explicitly, mirrored in the oracle CASE.
    val topk = deg.orderBy(col("dg").desc, col("x")).limit(hillK)
      .agg(sort_array(collect_list(col("dg")), asc = false).as("ds"))
      .select(col("ds"),
        when(size(col("ds")) >= hillK, element_at(col("ds"), hillK)).as("dk"))
      .select(when(col("dk").isNotNull,
        aggregate(slice(col("ds"), 1, hillK - 1), lit(0.0d), (acc, v) =>
          acc + log(v.cast("double") / col("dk").cast("double")))).as("den"))
      .select(when(col("den").isNull || col("den") === 0.0d,
          lit(null).cast("double"))
        .otherwise(round(lit(hillK.toDouble) / col("den"), 6))
        .as("hill_alpha"))
    hist.crossJoin(broadcast(topk))
      .select(col("log2_bucket"), col("n_vertices"), col("min_degree"),
        col("max_degree"), col("hill_alpha"))
      .orderBy("log2_bucket")
  }

  val degreeDistributionSql: String =
    s"""WITH pr AS (
       |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
       |e AS (
       |  SELECT DISTINCT a.p AS u, b.p AS v
       |  FROM pr a JOIN pr b ON a.o = b.o AND a.p < b.p),
       |deg AS (
       |  SELECT x, count(*) AS dg FROM (
       |    SELECT u AS x FROM e UNION ALL SELECT v AS x FROM e)
       |  GROUP BY x),
       |hist AS (
       |  SELECT CAST(floor(ln(CAST(dg AS DOUBLE)) / ln(2.0)) AS BIGINT)
       |      AS log2_bucket,
       |    count(*) AS n_vertices,
       |    CAST(min(dg) AS BIGINT) AS min_degree,
       |    CAST(max(dg) AS BIGINT) AS max_degree
       |  FROM deg GROUP BY 1),
       |topk AS (
       |  SELECT list(dg ORDER BY dg DESC, x) AS ds FROM (
       |    SELECT dg, x FROM deg ORDER BY dg DESC, x LIMIT $hillK)),
       |hill AS (
       |  SELECT CASE
       |    WHEN len(ds) < $hillK THEN NULL
       |    WHEN list_sum(list_transform(ds[1:${hillK - 1}],
       |      v -> ln(CAST(v AS DOUBLE) / CAST(ds[$hillK] AS DOUBLE)))) = 0
       |      THEN NULL
       |    ELSE round($hillK.0 / list_sum(list_transform(ds[1:${hillK - 1}],
       |      v -> ln(CAST(v AS DOUBLE) / CAST(ds[$hillK] AS DOUBLE)))), 6)
       |    END AS hill_alpha
       |  FROM topk)
       |SELECT log2_bucket, n_vertices, min_degree, max_degree, hill_alpha
       |FROM hist CROSS JOIN hill ORDER BY log2_bucket""".stripMargin

  /** Fan-outs for [[neighborSample]] (1-hop, then per-1-hop 2-hop). */
  val fanout1 = 8
  val fanout2 = 4

  /** GNN MINI-BATCH NEIGHBOR SAMPLING (GraphSAGE-style) — for each seed
    * vertex, a DETERMINISTIC sample of ≤ [[fanout1]] neighbors, then
    * ≤ [[fanout2]] of each sampled neighbor's neighbors: the subgraph a
    * GNN training step gathers features over. Random fan-out sampling
    * is the thing that makes GNN training tractable on dense graphs
    * (full 2-hop state is the q_harmonic cost); hash-ranked selection
    * (md5 of the edge context, not rand()) makes every epoch, retry,
    * and engine draw the SAME sample — the reproducibility contract
    * training pipelines need.
    *
    * Per seed: sampled 1-hop/2-hop counts and the 2-hop id-sum (the
    * census is sensitive to WHICH vertices were drawn, so the oracle
    * grades selection, not just counts). Scale: two windows keyed by
    * (seed) and (seed, hop1) — cardinalities grow with seeds × fanout,
    * never a tiny-domain funnel; the edge list is the shared pinned
    * [[edges]] build. */
  def neighborSample(s: SparkSession, d: String): DataFrame = {
    val bi = biEdges(s, d)
    val seedSet = seeds(bi).select(col("x").as("seed"))
    val w1 = Window.partitionBy("seed")
      .orderBy(col("h1"), col("n1"))
    val hop1 = bi.join(seedSet, bi("u") === seedSet("seed"))
      .select(col("seed"), col("v").as("n1"),
        md5(concat_ws(":", col("seed"), col("v"))).as("h1"))
      .withColumn("rk", row_number().over(w1))
      .filter(col("rk") <= fanout1)
      .select(col("seed"), col("n1"))
    val w2 = Window.partitionBy("seed", "n1")
      .orderBy(col("h2"), col("n2"))
    val hop2 = bi.join(hop1, bi("u") === hop1("n1"))
      .select(col("seed"), col("n1"), col("v").as("n2"),
        md5(concat_ws(":", col("seed"), col("n1"), col("v"))).as("h2"))
      .withColumn("rk", row_number().over(w2))
      .filter(col("rk") <= fanout2)
    hop1.groupBy("seed").agg(count(lit(1)).as("n_hop1"))
      .join(hop2.groupBy("seed")
        .agg(count(lit(1)).as("n_hop2"), sum(col("n2")).as("sum_hop2")),
        Seq("seed"), "left")
      .select(col("seed"), col("n_hop1"),
        coalesce(col("n_hop2"), lit(0L)).as("n_hop2"),
        coalesce(col("sum_hop2"), lit(0L)).as("sum_hop2"))
      .orderBy("seed")
  }

  val neighborSampleSql: String =
    s"""WITH pr AS (
       |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
       |e AS (
       |  SELECT DISTINCT a.p AS u, b.p AS v
       |  FROM pr a JOIN pr b ON a.o = b.o AND a.p < b.p),
       |bi AS (SELECT u, v FROM e UNION ALL SELECT v AS u, u AS v FROM e),
       |seeds AS (
       |  SELECT DISTINCT u AS x FROM bi WHERE u % 500 = 0
       |  ORDER BY x LIMIT $seedCap),
       |h1 AS (
       |  SELECT seed, n1 FROM (
       |    SELECT s.x AS seed, bi.v AS n1,
       |      row_number() OVER (PARTITION BY s.x
       |        ORDER BY md5(CAST(s.x AS VARCHAR) || ':' || CAST(bi.v AS VARCHAR)),
       |          bi.v) AS rk
       |    FROM bi JOIN seeds s ON bi.u = s.x)
       |  WHERE rk <= $fanout1),
       |h2 AS (
       |  SELECT seed, n1, n2 FROM (
       |    SELECT h1.seed, h1.n1, bi.v AS n2,
       |      row_number() OVER (PARTITION BY h1.seed, h1.n1
       |        ORDER BY md5(CAST(h1.seed AS VARCHAR) || ':' ||
       |          CAST(h1.n1 AS VARCHAR) || ':' || CAST(bi.v AS VARCHAR)),
       |          bi.v) AS rk
       |    FROM bi JOIN h1 ON bi.u = h1.n1)
       |  WHERE rk <= $fanout2)
       |SELECT a.seed,
       |  a.n_hop1,
       |  coalesce(b.n_hop2, 0) AS n_hop2,
       |  coalesce(b.sum_hop2, 0) AS sum_hop2
       |FROM (SELECT seed, count(*) AS n_hop1 FROM h1 GROUP BY seed) a
       |LEFT JOIN (SELECT seed, count(*) AS n_hop2,
       |    CAST(sum(n2) AS BIGINT) AS sum_hop2
       |  FROM h2 GROUP BY seed) b ON b.seed = a.seed
       |ORDER BY a.seed""".stripMargin

  /** HLL relative-error budget for [[neighborhoodFunction]]'s sketch
    * column (generous 3σ at rsd 0.02 plus small-count slack). */
  val nfErrBound = 0.15

  /** NEIGHBORHOOD FUNCTION N(h) — |{v : d(seeds, v) ≤ h}| for
    * h = 0..[[bfsMaxHops]], computed BOTH ways side by side:
    *  - exact: the [[bfsHops]] frontier BFS, then cumulative counts
    *    over the (≤ 4-row) per-level census — the verifiable answer;
    *  - sketched: `approx_count_distinct` (HLL) over the same reach
    *    sets — the HyperBall estimator. HyperBall (Boldi/Vigna) IS
    *    this: replace each vertex's exact visited set with a mergeable
    *    HLL register so the per-round state is O(vertices × registers)
    *    instead of O(vertices²), which is how ALL-vertex centrality
    *    (the thing the capped [[seeds]] set deliberately avoids) runs
    *    at 100 TB. This query grades the estimator against the exact
    *    count (|est − exact| ≤ [[nfErrBound]]·exact, the q_sketches
    *    contract-boolean policy), so the production path named in the
    *    [[seeds]] scaladoc is itself under test, not just cited.
    *
    * Scale: the BFS is the bfsHops frontier shape; the census is O(4)
    * rows; the cumulative sum is a broadcast self-join over those 4
    * rows (no window, no funnel). */
  def neighborhoodFunction(s: SparkSession, d: String): DataFrame = {
    val dist = seedDistances(s, d)
    // one pass serves both estimators: exact per-level counts and the
    // HLL of each prefix (conditional sketch columns, like the
    // audienceOverlap segment trick)
    val ests = (0 to bfsMaxHops).map(h =>
      approx_count_distinct(when(col("hop") <= h, col("x")), 0.02)
        .as(s"est_$h"))
    val sketched = dist.agg(ests.head, ests.tail: _*)
    val perLevel = dist.groupBy("hop").agg(count(lit(1)).as("n_level"))
    val cum = perLevel.as("a")
      .join(perLevel.as("b"), col("b.hop") <= col("a.hop"))
      .groupBy(col("a.hop").as("hop"))
      .agg(sum(col("b.n_level")).as("n_reach"))
    cum.crossJoin(broadcast(sketched))
      .select(col("hop").cast("long").as("hop"), col("n_reach"),
        (abs(
          when(col("hop") === 0, col("est_0"))
            .when(col("hop") === 1, col("est_1"))
            .when(col("hop") === 2, col("est_2"))
            .otherwise(col("est_3"))
          - col("n_reach")).cast("double")
          <= lit(nfErrBound) * col("n_reach").cast("double")).as("hll_ok"))
      .orderBy("hop")
  }

  val neighborhoodFunctionSql: String =
    s"""WITH RECURSIVE pr AS (
       |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
       |e AS (
       |  SELECT DISTINCT a.p AS u, b.p AS v
       |  FROM pr a JOIN pr b ON a.o = b.o AND a.p < b.p),
       |bi AS (SELECT u, v FROM e UNION ALL SELECT v AS u, u AS v FROM e),
       |seeds AS (
       |  SELECT DISTINCT u AS x FROM bi WHERE u % 500 = 0
       |  ORDER BY x LIMIT $seedCap),
       |reach(x, d) AS (
       |  SELECT x, 0 AS d FROM seeds
       |  UNION
       |  SELECT bi.v, r.d + 1 FROM reach r
       |  JOIN bi ON bi.u = r.x WHERE r.d < $bfsMaxHops),
       |hops AS (SELECT x, min(d) AS hop FROM reach GROUP BY x),
       |lvl AS (SELECT hop, count(*) AS n_level FROM hops GROUP BY hop)
       |SELECT CAST(a.hop AS BIGINT) AS hop,
       |  CAST(sum(b.n_level) AS BIGINT) AS n_reach,
       |  TRUE AS hll_ok
       |FROM lvl a JOIN lvl b ON b.hop <= a.hop
       |GROUP BY a.hop ORDER BY a.hop""".stripMargin

  /** Peeling rounds — fixed and unrolled (like [[prIters]]) so both
    * engines compute the identical census even when the cascade hasn't
    * stabilized. */
  val kcoreRounds = 4

  /** k-CORE PEELING census over the co-purchase graph: repeatedly
    * delete vertices of degree < k and report (n_vertices, n_edges)
    * after each round — the standard dense-subgraph/decomposition
    * kernel. k is the MEDIAN initial degree (exact `percentile_disc`,
    * hash-portable across engines), which keeps the threshold
    * meaningful at every scale factor where an absolute k would either
    * empty the graph instantly or never bite. Degenerate-by-data note:
    * this synthetic graph is degree-uniform, so the k-core at the
    * median is EMPTY and the census's value is the cascade trajectory
    * itself (2000 → ~1500 → ~750 → 0 at sf0.01) — on a real power-law
    * graph the same query exposes the stable core.
    *
    * Scale: each round is one degree aggregate plus two semi-joins
    * (edge endpoints ∈ survivors), checkpointed so round r's plan never
    * re-peels rounds 1..r−1; k rides a broadcast one-row frame.
    * `n_vertices` counts vertices with ≥1 surviving edge. The oracle
    * unrolls the same rounds as chained CTEs (the [[pageRankSql]]
    * discipline). */
  def kCorePeeling(s: SparkSession, d: String): DataFrame = {
    // Round 12: read the suite-shared [[biEdges]] memo instead of
    // union-building a private 2|E| copy — the memo is already pinned
    // AND hash-partitioned on u (adjacency-first chain), so round 1's
    // degree groupBy and u-side semi-join start co-partitioned.
    // Measured iso best-of-5 at sf0.1: 3.59 → 2.82 s (−21%), suite-warm
    // 3.20 → 1.61 s — the private copy's build+pin disappears entirely.
    var bi = biEdges(s, d)
    val kRow = bi.groupBy("u").agg(count(lit(1)).as("dg"))
      .agg(expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY dg)")
        .cast("long").as("k"))
      .pin()
    def census(round: Int, g: org.apache.spark.sql.DataFrame) =
      g.agg(countDistinct(col("u")).as("n_vertices"),
          (count(lit(1)) / 2).cast("long").as("n_edges"))
        .crossJoin(broadcast(kRow))
        .select(lit(round).as("round"), col("n_vertices"), col("n_edges"),
          col("k"))
    var out = Seq(census(0, bi))
    for (r <- 1 to kcoreRounds) {
      val keep = bi.groupBy("u").agg(count(lit(1)).as("dg"))
        .crossJoin(broadcast(kRow))
        .filter(col("dg") >= col("k"))
        .select(col("u").as("x"))
      bi = bi
        .join(keep.select(col("x").as("u")), Seq("u"), "left_semi")
        .join(keep.select(col("x").as("v")), Seq("v"), "left_semi")
        .select(col("u"), col("v"))
        .pin()
      out = out :+ census(r, bi)
    }
    out.reduce(_.unionAll(_))
  }

  val kCorePeelingSql: String = {
    // every CTE is MATERIALIZED: DuckDB inlines plain CTEs, so without
    // it each census row re-expands the whole bi4→…→bi0→e→pr chain —
    // measured multi-GB temp spill and >5 min at sf0.1, vs seconds
    // materialized. (Semantics identical; the Spark side checkpoints the
    // same frames for the same reason.)
    val base =
      """WITH pr AS MATERIALIZED (
        |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |e AS MATERIALIZED (
        |  SELECT DISTINCT a.p AS u, b.p AS v
        |  FROM pr a JOIN pr b ON a.o = b.o AND a.p < b.p),
        |bi0 AS MATERIALIZED (
        |  SELECT u, v FROM e UNION ALL SELECT v AS u, u AS v FROM e),
        |kv AS MATERIALIZED (
        |  SELECT CAST(quantile_disc(d, 0.5) AS BIGINT) AS k FROM (
        |  SELECT count(*) AS d FROM bi0 GROUP BY u))""".stripMargin
    val rounds = (1 to kcoreRounds).map { r =>
      s"""v$r AS MATERIALIZED (
         |  SELECT u FROM bi${r - 1} GROUP BY u
         |  HAVING count(*) >= (SELECT k FROM kv)),
         |bi$r AS MATERIALIZED (
         |  SELECT u, v FROM bi${r - 1}
         |  WHERE u IN (SELECT u FROM v$r) AND v IN (SELECT u FROM v$r))"""
        .stripMargin
    }.mkString(",\n", ",\n", "")
    val census = (0 to kcoreRounds).map { r =>
      s"""SELECT $r AS round,
         |  (SELECT count(DISTINCT u) FROM bi$r) AS n_vertices,
         |  (SELECT CAST(count(*) // 2 AS BIGINT) FROM bi$r) AS n_edges,
         |  (SELECT k FROM kv) AS k""".stripMargin
    }.mkString("\nUNION ALL\n")
    base + rounds + "\n" + census
  }

  /** Relaxation rounds for [[ssspBounded]] — the result is DEFINED as
    * "cheapest path using at most this many edges", so determinism never
    * depends on convergence (unlike an open-ended Bellman–Ford, whose
    * stopping round is data-dependent). */
  val ssspMaxHops = 6

  /** BOUNDED-HOP WEIGHTED SHORTEST PATH — Bellman–Ford relaxation over
    * the co-purchase graph with deterministic integer edge weights
    * w(u,v) = 1 + (u+v) mod 9, multi-sourced at the same capped
    * [[seeds]] set as [[bfsHops]]. BFS answers "how many hops"; this answers "at
    * what cost", the weighted generalization (routing, influence decay).
    *
    * Scale rendering: synchronous relaxation with a FRONTIER DELTA —
    * each round joins edges against only the vertices whose distance
    * improved last round (not the whole distance table), then min-merges
    * into the running table; on converging graphs the frontier shrinks
    * geometrically, so per-round cost tracks the wavefront exactly like
    * BFS. Each round is one key-shuffle join + one map-side-combinable
    * min; `localCheckpoint` pins round r so round r+1 never re-relaxes
    * the prefix (the pageRank/bfs durability contract).
    *
    * Oracle: recursive CTE enumerating ≤[[ssspMaxHops]]-hop paths with
    * UNION dedup, then min(cost) per vertex — exact same bounded-hop
    * semantics, all integer. */
  def ssspBounded(s: SparkSession, d: String): DataFrame = {
    // The round-11 cost attack (VERDICT r10 #3), measured at sf0.1:
    // (a) hash-partition the edge list by u ONCE before pinning — pin
    //     preserves outputPartitioning, so each round's frontier join
    //     reuses it and only the (wavefront-sized) frontier shuffles,
    //     instead of re-exchanging the full bidirectional edge list
    //     every round;
    // (b) min-merge the improved frontier into the running distance
    //     table with a co-partitioned full-outer join on x (both sides
    //     pinned hash-partitioned on x) instead of union+groupBy, which
    //     re-shuffled the whole table-sized dist frame every round.
    // Round 12: the explicit `.repartition(col("u"))` this attack added
    // in r11 is GONE — biEdges now arrives hash-partitioned on u for
    // free (narrow explode of the adjacency root), and withColumn is
    // partitioning-preserving, so the old repartition had become a
    // redundant 2|E|-row exchange. Measured iso best-of-5 at sf0.1:
    // 7.60 → 6.78 s (−11%) on the same host/load.
    val bi = biEdges(s, d)
      .withColumn("w", (col("u") + col("v")) % 9 + 1)
      .pin()
    var dist = seeds(bi)
      .select(col("x"), lit(0L).as("c"))
      .pin()
    var frontier = dist
    for (_ <- 1 to ssspMaxHops) {
      val cand = bi
        .join(frontier.select(col("x").as("u"), col("c").as("cu")), Seq("u"))
        .select(col("v").as("x"), (col("cu") + col("w")).as("c"))
        .groupBy("x").agg(min(col("c")).as("c"))
      frontier = cand
        .join(dist.select(col("x"), col("c").as("old")), Seq("x"), "left")
        .filter(col("old").isNull || col("c") < col("old"))
        .select(col("x"), col("c"))
        .pin()
      dist = dist
        .join(frontier.select(col("x"), col("c").as("cnew")), Seq("x"),
          "fullouter")
        .select(col("x"), coalesce(col("cnew"), col("c")).as("c"))
        .pin()
    }
    dist.select(col("x").as("part"), col("c").as("dist"))
  }

  val ssspBoundedSql: String =
    s"""WITH RECURSIVE pr AS (
       |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
       |e AS (
       |  SELECT DISTINCT a.p AS u, b.p AS v
       |  FROM pr a JOIN pr b ON a.o = b.o AND a.p < b.p),
       |bi AS (
       |  SELECT u, v, 1 + (u + v) % 9 AS w FROM e
       |  UNION ALL
       |  SELECT v AS u, u AS v, 1 + (u + v) % 9 AS w FROM e),
       |seeds AS (
       |  SELECT DISTINCT u AS x FROM bi WHERE u % 500 = 0
       |  ORDER BY x LIMIT $seedCap),
       |reach(x, c, h) AS (
       |  SELECT x, CAST(0 AS BIGINT) AS c, 0 AS h FROM seeds
       |  UNION
       |  SELECT bi.v, r.c + bi.w, r.h + 1 FROM reach r
       |  JOIN bi ON bi.u = r.x WHERE r.h < $ssspMaxHops)
       |SELECT x AS part, CAST(min(c) AS BIGINT) AS dist
       |FROM reach GROUP BY x""".stripMargin

  val coPurchaseTrianglesSql: String =
    """WITH pr AS (
      |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
      |e AS (
      |  SELECT DISTINCT a.p AS u, b.p AS v
      |  FROM pr a JOIN pr b ON a.o = b.o AND a.p < b.p),
      |deg AS (
      |  SELECT x, count(*) AS dg FROM (
      |    SELECT u AS x FROM e UNION ALL SELECT v AS x FROM e)
      |  GROUP BY x)
      |SELECT
      |  (SELECT count(*) FROM deg) AS n_vertices,
      |  (SELECT count(*) FROM e) AS n_edges,
      |  (SELECT CAST(sum(dg * (dg - 1) // 2) AS BIGINT) FROM deg) AS n_wedges,
      |  (SELECT count(*)
      |   FROM e e1 JOIN e e2 ON e2.u = e1.v
      |   JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v) AS n_triangles""".stripMargin

  /** Synchronous rounds for [[labelPropagation]]. Fixed and unrolled —
    * open-ended LPA oscillates on bipartite-ish structures, so the
    * result is DEFINED as "labels after exactly this many synchronous
    * rounds" (the bfs/k-core bounded-semantics contract). */
  val lpaRounds = 3

  /** COMMUNITY DETECTION by synchronous label propagation, with exact
    * Newman modularity of the resulting partition — "which parts form
    * a merchandising cluster", the unsupervised complement of k-core
    * (density) and components (connectivity).
    *
    * Classic LPA is scan-order-nondeterministic; this rendering pins
    * every choice: all vertices update simultaneously from their
    * neighbors' round-(r−1) labels (no in-round propagation), and the
    * adopted label is argmax by (count, then SMALLEST label) via one
    * `max(struct(count, −label))` aggregate — no row_number, no window,
    * one shuffle per round on the vertex key. Rounds are unrolled with
    * `localCheckpoint` pinning (the pageRank durability contract).
    *
    * Modularity avoids floats until the last op: with m undirected
    * edges, e_c internal edges and d_c degree mass per community,
    * Q = Σ_c (e_c/m − (d_c/2m)²) = [Σ_c (4·m·e_c − d_c²)] / (4m²) —
    * the bracket is an exact decimal(38,0) integer in any engine, and
    * Q is ONE double division, rounded to 6.
    *
    * Oracle: rounds unrolled as chained CTEs with row_number argmax
    * (count DESC, label ASC) — the same pinned tie rule. */
  def labelPropagation(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val big = DecimalType(38, 0)
    def d0(c: org.apache.spark.sql.Column) = c.cast(big)
    val bi0 = biEdges(s, d)
    // Partitioning-reuse attack (VERDICT r11 #1 — the proven ssspBounded
    // trick): the [[lpaRounds]] joins (and the final labeled pass's
    // v-side join) all key on v, so `bi` must be hash-partitioned on v
    // once, with only the O(V) label frame shuffling per round.
    // Round 11 bought that with an explicit repartition+pin (iso
    // 8.67 → 7.29 s). Round 12 gets it for FREE: biEdges is symmetric
    // under (u, v) swap and arrives hash-partitioned on u (narrow
    // explode of the adjacency root), so RELABELING the columns yields
    // the identical relation already partitioned on the round-join
    // key — zero exchange, zero extra pin. Measured iso best-of-5 at
    // sf0.1: 11.43 → 8.20 s (−28%) on the same (contended) host/load.
    val bi = bi0.select(col("v").as("u"), col("u").as("v"))
    var lab = bi.select(col("u").as("x")).distinct()
      .select(col("x"), col("x").as("lbl"))
      .pin()
    for (_ <- 1 to lpaRounds) {
      lab = bi
        .join(lab.select(col("x").as("v"), col("lbl")), Seq("v"))
        .groupBy(col("u"), col("lbl")).agg(count(lit(1)).as("c"))
        .groupBy(col("u").as("x"))
        .agg(max(struct(col("c"), (-col("lbl")).as("nl"))).as("m"))
        .select(col("x"), (-col("m.nl")).as("lbl"))
        .pin()
    }
    val mRow = bi.agg((count(lit(1)) / 2).cast("long").as("m"))
    val sizes = lab.groupBy(col("lbl")).agg(count(lit(1)).as("n_members"))
    // one labeled-edge pass serves BOTH per-community statistics: after
    // joining each endpoint's label once, degree_sum is the plain count
    // by source label and internal_edges the conditional count where the
    // labels agree — previously two separate bi-joins (plus the join the
    // lint of r5 noted), ~2 s of the query's bench cost. The v-side
    // label join goes FIRST so it lands on the pre-partitioned edge
    // frame (zero edge exchange); only the u-side join re-keys.
    val labeled = bi
      .join(lab.select(col("x").as("v"), col("lbl").as("cv")), Seq("v"))
      .join(lab.select(col("x").as("u"), col("lbl").as("cu")), Seq("u"))
      .groupBy(col("cu").as("lbl"))
      .agg(count(lit(1)).cast("long").as("degree_sum"),
        (sum(when(col("cu") === col("cv"), 1L).otherwise(0L)) / 2)
          .cast("long").as("internal_edges"))
    val comm = sizes.join(labeled, Seq("lbl"))
    val qRow = comm.crossJoin(broadcast(mRow))
      .agg(sum(lit(4) * d0(col("m")) * d0(col("internal_edges")) -
        d0(col("degree_sum")) * d0(col("degree_sum"))).as("qnum"),
        max(col("m")).as("m"))
      .select(round(col("qnum").cast("double") /
        (lit(4.0) * col("m").cast("double") * col("m").cast("double")), 6)
        .as("modularity"))
    comm.crossJoin(broadcast(qRow))
      .orderBy(col("n_members").desc, col("lbl").asc)
      .limit(20)
      .select(col("lbl").as("community"), col("n_members"),
        col("internal_edges"), col("degree_sum"), col("modularity"))
  }

  val labelPropagationSql: String = {
    val base =
      """WITH pr AS (
        |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |e AS (
        |  SELECT DISTINCT a.p AS u, b.p AS v
        |  FROM pr a JOIN pr b ON a.o = b.o AND a.p < b.p),
        |bi AS (SELECT u, v FROM e UNION ALL SELECT v AS u, u AS v FROM e),
        |l0 AS (SELECT DISTINCT u AS x, u AS lbl FROM bi)""".stripMargin
    val rounds = (1 to lpaRounds).map { r =>
      s"""c$r AS (
         |  SELECT bi.u, p.lbl, count(*) AS c
         |  FROM bi JOIN l${r - 1} p ON p.x = bi.v
         |  GROUP BY 1, 2),
         |l$r AS (
         |  SELECT u AS x, lbl FROM (
         |    SELECT u, lbl,
         |      row_number() OVER (PARTITION BY u ORDER BY c DESC, lbl ASC) AS rn
         |    FROM c$r) WHERE rn = 1)""".stripMargin
    }.mkString(",\n", ",\n", "")
    val fin = lpaRounds
    base + rounds +
      s""",
         |mrow AS (SELECT CAST(count(*) // 2 AS BIGINT) AS m FROM bi),
         |sizes AS (SELECT lbl, count(*) AS n_members FROM l$fin GROUP BY 1),
         |degsum AS (
         |  SELECT a.lbl, CAST(count(*) AS BIGINT) AS degree_sum
         |  FROM bi JOIN l$fin a ON a.x = bi.u GROUP BY 1),
         |internal AS (
         |  SELECT a.lbl, CAST(count(*) // 2 AS BIGINT) AS internal_edges
         |  FROM bi JOIN l$fin a ON a.x = bi.u JOIN l$fin b ON b.x = bi.v
         |  WHERE a.lbl = b.lbl GROUP BY 1),
         |comm AS (
         |  SELECT s.lbl, s.n_members, d.degree_sum,
         |    coalesce(i.internal_edges, 0) AS internal_edges
         |  FROM sizes s JOIN degsum d USING (lbl)
         |  LEFT JOIN internal i USING (lbl)),
         |q AS (
         |  SELECT round(CAST(sum(4 * CAST(m AS HUGEINT) * internal_edges
         |      - CAST(degree_sum AS HUGEINT) * degree_sum) AS DOUBLE)
         |    / (4.0 * CAST(max(m) AS DOUBLE) * CAST(max(m) AS DOUBLE)), 6)
         |    AS modularity
         |  FROM comm CROSS JOIN mrow)
         |SELECT lbl AS community, n_members, internal_edges, degree_sum,
         |  (SELECT modularity FROM q) AS modularity
         |FROM comm ORDER BY n_members DESC, lbl ASC LIMIT 20""".stripMargin
  }

  /** HARMONIC CENTRALITY of the seed vertices (same capped [[seeds]]
    * set as [[bfsHops]]) within [[bfsMaxHops]] hops: c(s) = Σ_v 1/d(s,v) — the
    * "how close is this hub to everything" ranking that, unlike
    * closeness, handles disconnected graphs gracefully (unreachable
    * vertices contribute 0, no ∞).
    *
    * The trick that keeps it EXACT: with the hop bound at 3, distances
    * are in {1,2,3}, so 6·c(s) = 6·n₁ + 3·n₂ + 2·n₃ is an integer —
    * the sixths-scaled centrality hash-grades with no float tolerance,
    * and the double rendering is one pinned division. Per-(seed, vertex)
    * BFS state lives entirely in BITMAP space (see the in-body comment:
    * bitmap adjacency + map-side-combined `bitmap_or_agg` rounds + the
    * native [[graft.functions.BitmapAndNot]]/[[graft.functions.BitmapPositions]]
    * frontier step — the row-space rendering's 60M-row round-3 distinct
    * was 80% of the query's cost). The seed set is bounded at
    * [[seedCap]] regardless of catalog size (all-vertex centrality at
    * scale is HyperBall/HLL sketching, per the [[seeds]] note).
    *
    * Oracle: recursive CTE on (src, x, d) with min-distance dedup —
    * [[bfsHopsSql]] generalized by one key. */
  def harmonicCentrality(s: SparkSession, d: String): DataFrame = {
    val bi = biEdges(s, d)
    // Per-(seed, vertex) BFS with ALL round state in BITMAP space. The
    // naive rendering (expand frontier rows through the edge list, then
    // DISTINCT, then LEFT ANTI against visited) shuffles every
    // pre-distinct expansion row — at sf0.1 round 3 expands ~500k
    // (seed, vertex) frontier rows through avg-degree ~120 into ~60M
    // rows feeding the distinct, which was 80% of this query's cost
    // (BENCH_r06: 12 s). Here instead:
    //  1. each vertex's neighborhood is pre-encoded ONCE as a 4 KB
    //     bitmap (builtin `bitmap_construct_agg`, bucketed 32768 bits so
    //     the scheme scales to any part-catalog size). (Measured
    //     alternative: int-array adjacency + explode + per-position
    //     bitmap_construct_agg avoids the fixed 4 KB per vertex but pays
    //     a per-expansion-row imperative aggregate update — 60M hash
    //     probes — and benched 40% SLOWER than OR-merging 500k
    //     pre-built bitmaps, which is pure vectorizable memory work);
    //  2. a round joins the frontier's ROW form against those bitmaps by
    //     key and unions them per (seed, bucket) with `bitmap_or_agg` —
    //     MAP-SIDE COMBINED, so the shuffle carries one 4 KB buffer per
    //     (seed, bucket, partition) (~6 MB) instead of 60M rows;
    //  3. the visited-set subtraction is the native
    //     [[graft.functions.BitmapAndNot]] on the (seed, bucket) keyed
    //     accumulator — no row-level left-anti shuffle at all;
    //  4. per-hop counts come straight from `bitmap_count`, and only the
    //     next round's frontier is decoded back to rows via the native
    //     [[graft.functions.BitmapPositions]].
    // Total per-round state: O(seedCap × buckets) 4 KB buffers. Oracle
    // unchanged: the recursive-CTE min-distance BFS.
    val bits = 32768
    val gf = graft.functions.GraftFunctions
    // vertex ids are part keys ≥ 0, so the encoding is plain (div, mod) —
    // NOT Spark's 1-based bitmap_bit_position convention, which would wrap
    // vertex 0 to position 32767 of bucket -1/32768 = 0 (a phantom vertex
    // 32768 — caught by the sf0.01 oracle diff on seed 0)
    val adj = bi
      .select(col("u"), (col("v") / bits).cast("long").as("bkt"),
        pmod(col("v"), lit(bits)).cast("long").as("pos"))
      .groupBy("u", "bkt").agg(expr("bitmap_construct_agg(pos)").as("nbm"))
      .pin()
    // pinned so [[gatedBroadcast]]'s stats probe reads materialized
    // sizes instead of plan-level guesses over the seed selection
    var frontier = seeds(bi).select(col("x").as("src"), col("x").as("u"))
      .pin()
    var visited = frontier
      .select(col("src"), (col("u") / bits).cast("long").as("bkt"),
        pmod(col("u"), lit(bits)).cast("long").as("pos"))
      .groupBy("src", "bkt").agg(expr("bitmap_construct_agg(pos)").as("vbm"))
      .pin()
    val hopCounts = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    // Exact row count of the CURRENT frontier, threaded into the
    // broadcast gate from round 2 on. The in-loop frontier is an
    // explode (Generate) over the pinned round frame, and Generate
    // stats ignore fan-out (up to 32768 positions per bitmap), so the
    // stats probe could under-gate it by orders of magnitude — the
    // driver-OOM direction (ADVICE r13). Σ bitmap_count over the
    // just-pinned `newly` IS that row count, read with one tiny agg
    // over materialized blocks — cheaper than the explode-then-count
    // fallback and exact. Round 1's frontier is the pinned seed frame
    // (no Generate), so the free stats path still serves it.
    var frontierRows: Option[Long] = None
    for (h <- 1 to bfsMaxHops) {
      // BROADCAST the frontier (size-gated): the fat side of this join
      // is adj (one 4 KB bitmap per vertex); a shuffle join would move
      // all of it every round, so below the row cap the frontier ships
      // to the adjacency and the following bitmap_or_agg
      // partial-aggregates map-side before its tiny O(seeds × buckets)
      // shuffle. The frontier is O(seedCap × component) rows — seed-cap
      // bounded per seed but still graph-scaling through the component
      // size, which is why this hint goes through [[gatedBroadcast]]:
      // past the cap the plan falls back to a key-shuffle join instead
      // of an unconditional broadcast build (VERDICT r11 #3).
      val newly = adj.join(gatedBroadcast(frontier, frontierRows), Seq("u"))
        .groupBy("src", "bkt").agg(expr("bitmap_or_agg(nbm)").as("bm"))
        .join(visited, Seq("src", "bkt"), "left_outer")
        .select(col("src"), col("bkt"),
          when(col("vbm").isNull, col("bm"))
            .otherwise(gf.bitmapAndNot(col("bm"), col("vbm"))).as("fbm"))
        .filter(expr("bitmap_count(fbm)") > 0)
        .pin()
      hopCounts += newly.groupBy("src")
        .agg(sum(expr("bitmap_count(fbm)")).as(s"n$h"))
      if (h < bfsMaxHops) {
        frontier = newly.select(col("src"), col("bkt"),
            explode(gf.bitmapPositions(col("fbm"))).as("p"))
          .select(col("src"), (col("bkt") * bits + col("p")).as("u"))
        frontierRows = Some(newly
          .agg(coalesce(sum(expr("bitmap_count(fbm)")), lit(0L)).as("n"))
          .first().getLong(0))
        // visited ∪= newly (re-aggregate the tiny keyed bitmap frames)
        visited = visited.select(col("src"), col("bkt"), col("vbm"))
          .unionAll(newly.select(col("src"), col("bkt"), col("fbm").as("vbm")))
          .groupBy("src", "bkt").agg(expr("bitmap_or_agg(vbm)").as("vbm"))
          .pin()
      }
    }
    seeds(bi).select(col("x").as("src"))
      .join(hopCounts(0), Seq("src"), "left_outer")
      .join(hopCounts(1), Seq("src"), "left_outer")
      .join(hopCounts(2), Seq("src"), "left_outer")
      .select(col("src"), coalesce(col("n1"), lit(0L)).as("n1"),
        coalesce(col("n2"), lit(0L)).as("n2"),
        coalesce(col("n3"), lit(0L)).as("n3"))
      .select(col("src").as("seed"), col("n1"), col("n2"), col("n3"),
        (col("n1") * 6 + col("n2") * 3 + col("n3") * 2).as("harmonic6"),
        round((col("n1") * 6 + col("n2") * 3 + col("n3") * 2)
          .cast("double") / 6.0, 6).as("harmonic"))
  }

  val harmonicCentralitySql: String =
    s"""WITH RECURSIVE pr AS (
       |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
       |e AS (
       |  SELECT DISTINCT a.p AS u, b.p AS v
       |  FROM pr a JOIN pr b ON a.o = b.o AND a.p < b.p),
       |bi AS (SELECT u, v FROM e UNION ALL SELECT v AS u, u AS v FROM e),
       |seeds AS (
       |  SELECT DISTINCT u AS x FROM bi WHERE u % 500 = 0
       |  ORDER BY x LIMIT $seedCap),
       |reach(src, x, d) AS (
       |  SELECT x AS src, x, 0 AS d FROM seeds
       |  UNION
       |  SELECT r.src, bi.v, r.d + 1 FROM reach r
       |  JOIN bi ON bi.u = r.x WHERE r.d < $bfsMaxHops),
       |hops AS (SELECT src, x, min(d) AS hop FROM reach GROUP BY 1, 2),
       |cens AS (
       |  SELECT src,
       |    CAST(sum(CASE WHEN hop = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
       |    CAST(sum(CASE WHEN hop = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
       |    CAST(sum(CASE WHEN hop = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n3
       |  FROM hops WHERE hop > 0 GROUP BY 1)
       |SELECT src AS seed, n1, n2, n3,
       |  CAST(n1 * 6 + n2 * 3 + n3 * 2 AS BIGINT) AS harmonic6,
       |  round(CAST(n1 * 6 + n2 * 3 + n3 * 2 AS DOUBLE) / 6.0, 6) AS harmonic
       |FROM cens""".stripMargin

  /** DEGREE ASSORTATIVITY of the co-purchase graph: the Pearson
    * correlation of (deg(u), deg(v)) over the directed edge list — one
    * number for "do hubs link to hubs" (r > 0, social-network-like) vs
    * "hubs link to leaves" (r < 0, infrastructure-like). Newman's
    * standard network statistic.
    *
    * Rendering: degrees from one aggregate, joined onto both edge
    * endpoints (two key-shuffle joins), then the five power sums in
    * exact decimal(38,0) over the bidirectional list (each undirected
    * edge contributes both orientations — exactly Newman's definition)
    * and ONE pinned double correlation, rounded to 6. The
    * [[graft.ops.Analytics.momentsByReturnFlag]] discipline on a graph. */
  def degreeAssortativity(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val big = DecimalType(38, 0)
    def d0(c: org.apache.spark.sql.Column) = c.cast(big)
    val bi = biEdges(s, d)
    val deg = bi.groupBy(col("u").as("x")).agg(count(lit(1)).cast("long").as("dg"))
    bi
      .join(deg.select(col("x").as("u"), col("dg").as("du")), Seq("u"))
      .join(deg.select(col("x").as("v"), col("dg").as("dv")), Seq("v"))
      .agg(count(lit(1)).cast("long").as("n"),
        sum(d0(col("du"))).as("sx"), sum(d0(col("dv"))).as("sy"),
        sum(d0(col("du")) * d0(col("dv"))).as("sxy"),
        sum(d0(col("du")) * d0(col("du"))).as("sxx"),
        sum(d0(col("dv")) * d0(col("dv"))).as("syy"))
      .select(col("n").as("n_directed_edges"),
        round((d0(col("n")) * col("sxy") - col("sx") * col("sy")).cast("double") /
          (sqrt((d0(col("n")) * col("sxx") - col("sx") * col("sx")).cast("double")) *
            sqrt((d0(col("n")) * col("syy") - col("sy") * col("sy")).cast("double"))),
          6).as("assortativity"))
  }

  val degreeAssortativitySql: String =
    """WITH pr AS (
      |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
      |e AS (
      |  SELECT DISTINCT a.p AS u, b.p AS v
      |  FROM pr a JOIN pr b ON a.o = b.o AND a.p < b.p),
      |bi AS (SELECT u, v FROM e UNION ALL SELECT v AS u, u AS v FROM e),
      |deg AS (SELECT u AS x, count(*) AS dg FROM bi GROUP BY 1),
      |j AS (
      |  SELECT du.dg AS du, dv.dg AS dv
      |  FROM bi JOIN deg du ON du.x = bi.u JOIN deg dv ON dv.x = bi.v),
      |sums AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n,
      |    sum(CAST(du AS HUGEINT)) AS sx, sum(CAST(dv AS HUGEINT)) AS sy,
      |    sum(CAST(du AS HUGEINT) * dv) AS sxy,
      |    sum(CAST(du AS HUGEINT) * du) AS sxx,
      |    sum(CAST(dv AS HUGEINT) * dv) AS syy
      |  FROM j)
      |SELECT n AS n_directed_edges,
      |  round(CAST(n * sxy - sx * sy AS DOUBLE) /
      |    (sqrt(CAST(n * sxx - sx * sx AS DOUBLE)) *
      |     sqrt(CAST(n * syy - sy * sy AS DOUBLE))), 6) AS assortativity
      |FROM sums""".stripMargin

  /** LOCAL CLUSTERING COEFFICIENT of the top-triangle vertices, plus
    * global transitivity — "how clique-ish is each hub's neighborhood"
    * (cc(v) = 2·t(v)/(deg·(deg−1))) and "how clique-ish is the graph"
    * (transitivity = 3·T/W). The micro/macro pair behind community
    * structure: [[labelPropagation]] finds the communities, this
    * measures how tight they are.
    *
    * Per-vertex attribution rides the SAME oriented edge-iterator pass
    * as [[coPurchaseTriangles]] (each triangle found once at its
    * lowest-(deg,id) edge): the witness list of edge (a, b) credits
    * |∩| to a and b and 1 to each exploded witness — three streams,
    * one sum, no second closure pass. The explode is bounded by the
    * triangle COUNT (not wedges — the dense-graph trap the triangle
    * scaladoc documents).
    *
    * Determinism: counts exact; cc and transitivity one pinned double
    * division each, rounded 6; top-20 by (t, id) — total order.
    *
    * Oracle: the canonical-triple 3-join attributed to all three roles
    * — independent derivation, same census. */
  def clusteringCoefficient(s: SparkSession, d: String): DataFrame = {
    // Shares [[edgeSupport]]'s single triangle pass: a triangle at
    // vertex x is witnessed by BOTH of x's incident corner edges, so
    // the per-vertex count is Σ_{e∋x} sup(e) div 2 — exact integer
    // division, no witness explode, no second enumeration. The global
    // transitivity numerator 3·T is Σ sup directly.
    val sup = edgeSupport(s, d)
    val deg = adjFullCached(s, d)
      .select(col("x"),
        org.apache.spark.sql.functions.size(col("nb")).cast("long").as("dg"))
    val perVertex = sup
      .select(col("u").as("x"), col("sup"))
      .unionAll(sup.select(col("v").as("x"), col("sup")))
      .groupBy("x").agg(expr("sum(sup) div 2").as("t"))
    val global = sup
      .agg(coalesce(sum(col("sup")), lit(0L)).as("s3")) // = 3·T exactly
      .crossJoin(broadcast(deg.agg(
        expr("sum(dg * (dg - 1) div 2)").cast("long").as("n_wedges"))))
      .select(round(col("s3").cast("double") /
        col("n_wedges").cast("double"), 6).as("transitivity"))
    perVertex.join(deg, Seq("x"))
      .orderBy(col("t").desc, col("x"))
      .limit(20)
      .crossJoin(broadcast(global))
      .select(col("x").as("part"), col("dg").as("degree"),
        col("t").as("n_triangles"),
        round(lit(2.0) * col("t").cast("double") /
          (col("dg") * (col("dg") - 1)).cast("double"), 6).as("local_cc"),
        col("transitivity"))
      .orderBy(col("n_triangles").desc, col("part"))
  }

  val clusteringCoefficientSql: String =
    """WITH pr AS (
      |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
      |e AS (
      |  SELECT DISTINCT a.p AS u, b.p AS v
      |  FROM pr a JOIN pr b ON a.o = b.o AND a.p < b.p),
      |deg AS (
      |  SELECT x, count(*) AS dg FROM (
      |    SELECT u AS x FROM e UNION ALL SELECT v AS x FROM e)
      |  GROUP BY x),
      |tri AS (
      |  SELECT e1.u AS a, e1.v AS b, e2.v AS c
      |  FROM e e1 JOIN e e2 ON e2.u = e1.v
      |  JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
      |pv AS (
      |  SELECT x, count(*) AS t FROM (
      |    SELECT a AS x FROM tri UNION ALL SELECT b AS x FROM tri
      |    UNION ALL SELECT c AS x FROM tri)
      |  GROUP BY x),
      |gl AS (
      |  SELECT round(3.0 * (SELECT count(*) FROM tri)
      |    / CAST((SELECT sum(dg * (dg - 1) // 2) FROM deg) AS DOUBLE), 6)
      |    AS transitivity)
      |SELECT pv.x AS part, deg.dg AS degree, CAST(pv.t AS BIGINT)
      |    AS n_triangles,
      |  round(2.0 * pv.t / CAST(deg.dg * (deg.dg - 1) AS DOUBLE), 6)
      |    AS local_cc,
      |  (SELECT transitivity FROM gl) AS transitivity
      |FROM pv JOIN deg ON deg.x = pv.x
      |ORDER BY pv.t DESC, pv.x LIMIT 20""".stripMargin

  /** LINK PREDICTION from the capped seed set: for each seed, rank the
    * distance-2 non-neighbors by the three classic similarity scores —
    * common neighbors (CN), neighborhood Jaccard, and resource
    * allocation (RA = Σ_w 1/deg w, Zhou et al.) — the "products bought
    * together with what you bought" recommendation primitive.
    *
    * Determinism: CN and the Jaccard numerator/denominator are exact
    * integers; RA's 1/deg terms (the only floats) fold over the
    * (deg, witness)-SORTED array so both engines accumulate in
    * identical order; final top-20 ties break on (cn DESC, seed, v).
    *
    * Scale: candidate volume is bounded by the seed cap — O(seedCap ×
    * Σ_{w∈N(seed)} deg w), never all-pairs wedges (the q_triangles
    * lesson: global wedge materialization is the scale-killer; scoped
    * to 50 seeds it is ~50·d̄² rows at any catalog size). All joins are
    * key-shuffle hash joins on vertex ids. */
  def linkPrediction(s: SparkSession, d: String): DataFrame = {
    val bi = biEdges(s, d) // consumers: seeds, deg, hop1, hop2
    val sd = seeds(bi).select(col("x").as("seed"))
    val deg = bi.groupBy(col("u").as("x")).agg(count(lit(1)).as("dg"))
    // w ∈ N(seed)
    val sn = bi.join(sd, bi("u") === sd("seed"))
      .select(col("seed"), col("v").as("w"))
      .pin() // consumers: wedge expansion + adjacency filter
    // candidate v ∈ N(w), v ≠ seed, v ∉ N(seed)
    val cand = bi.join(sn, bi("u") === sn("w"))
      .select(col("seed"), col("w"), col("v"))
      .filter(col("v") =!= col("seed"))
      .join(sn.select(col("seed"), col("w").as("v")), Seq("seed", "v"),
        "left_anti")
    val scored = cand
      .join(deg.select(col("x").as("w"), col("dg").as("dw")), Seq("w"))
      .groupBy("seed", "v")
      .agg(count(lit(1)).as("cn"),
        sort_array(collect_list(struct(col("dw"), col("w")))).as("ws"))
      .select(col("seed"), col("v"), col("cn"),
        expr("""aggregate(ws, CAST(0.0 AS DOUBLE),
                 (acc, e) -> acc + 1.0 / e.dw)""").as("ra"))
    scored
      .join(deg.select(col("x").as("seed"), col("dg").as("ds")), Seq("seed"))
      .join(deg.select(col("x").as("v"), col("dg").as("dv")), Seq("v"))
      .select(col("seed"), col("v"), col("cn"), col("ds"), col("dv"),
        round(col("cn").cast("double") /
          (col("ds") + col("dv") - col("cn")), 6).as("jaccard"),
        round(col("ra"), 6).as("ra"))
      .orderBy(col("cn").desc, col("seed"), col("v"))
      .limit(20)
  }

  val linkPredictionSql: String =
    s"""WITH pr AS (
       |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
       |e AS (
       |  SELECT DISTINCT a.p AS u, b.p AS v
       |  FROM pr a JOIN pr b ON a.o = b.o AND a.p < b.p),
       |bi AS (SELECT u, v FROM e UNION ALL SELECT v AS u, u AS v FROM e),
       |seeds AS (
       |  SELECT DISTINCT u AS seed FROM bi WHERE u % 500 = 0
       |  ORDER BY seed LIMIT $seedCap),
       |deg AS (SELECT u AS x, count(*) AS dg FROM bi GROUP BY 1),
       |sn AS (
       |  SELECT s.seed, bi.v AS w FROM bi JOIN seeds s ON bi.u = s.seed),
       |cand AS (
       |  SELECT sn.seed, sn.w, bi.v
       |  FROM bi JOIN sn ON bi.u = sn.w
       |  WHERE bi.v <> sn.seed
       |    AND NOT EXISTS (SELECT 1 FROM sn a
       |      WHERE a.seed = sn.seed AND a.w = bi.v)),
       |scored AS (
       |  SELECT seed, v, count(*) AS cn,
       |    list_sum(list_transform(
       |      list(struct_pack(dw := dg, w := cand.w) ORDER BY dg, cand.w),
       |      e -> 1.0 / e.dw)) AS ra
       |  FROM cand JOIN deg ON deg.x = cand.w
       |  GROUP BY 1, 2)
       |SELECT sc.seed, sc.v, CAST(sc.cn AS BIGINT) AS cn,
       |  CAST(ds.dg AS BIGINT) AS ds, CAST(dv.dg AS BIGINT) AS dv,
       |  round(CAST(sc.cn AS DOUBLE) / (ds.dg + dv.dg - sc.cn), 6)
       |    AS jaccard,
       |  round(sc.ra, 6) AS ra
       |FROM scored sc
       |JOIN deg ds ON ds.x = sc.seed
       |JOIN deg dv ON dv.x = sc.v
       |ORDER BY sc.cn DESC, sc.seed, sc.v LIMIT 20""".stripMargin

  /** RICH-CLUB COEFFICIENT ladder — "do the hubs trade with each
    * other?": φ(k) = 2·E₍₎ₖ / (nₖ(nₖ−1)) over the subgraph induced by
    * vertices of degree > k, reported for the doubling ladder
    * k ∈ {1, 2, 4, …, 128}. A rising φ(k) tail is the rich-club
    * ordering (hubs preferentially interconnected — the topology that
    * makes hub-targeted failures catastrophic and hub-level caching
    * effective); flat-or-falling means hubs fan out to the periphery.
    *
    * Exactness: degrees, induced-edge counts (bi rows double-count
    * undirected edges, exactly the 2E the numerator wants), and nₖ are
    * integers; φ is one double division, rounded 6. Ladder rows with
    * nₖ < 2 are undefined and filtered identically on both engines.
    *
    * Scale: ONE pass over the memoized [[biEdges]] frame joined to the
    * degree census (two key-shuffle joins), then an O(E × ladder)
    * broadcast expansion that map-side-combines to ladder-size rows.
    * No wedge or pair materialization anywhere (the q_triangles
    * lesson); normalized φ against degree-preserving rewirings is a
    * simulation, documented out of scope. */
  def richClub(s: SparkSession, d: String): DataFrame = {
    val bi = biEdges(s, d) // consumers: degree census + induced-edge pass
    val deg = bi.groupBy(col("u").as("x")).agg(count(lit(1)).as("dg"))
    val ladder = s.range(8)
      .select(expr("shiftleft(1L, CAST(id AS INT))").as("k"))
    val nk = deg.crossJoin(broadcast(ladder))
      .filter(col("dg") > col("k"))
      .groupBy("k").agg(count(lit(1)).cast("long").as("n_nodes"))
    val ek = bi
      .join(deg.select(col("x").as("u"), col("dg").as("du")), Seq("u"))
      .join(deg.select(col("x").as("v"), col("dg").as("dv")), Seq("v"))
      .crossJoin(broadcast(ladder))
      .filter(col("du") > col("k") && col("dv") > col("k"))
      .groupBy("k").agg(count(lit(1)).cast("long").as("e2"))
    nk.join(ek, Seq("k"))
      .filter(col("n_nodes") >= 2)
      .select(col("k"), col("n_nodes"), (col("e2") / 2).cast("long")
        .as("club_edges"),
        round(col("e2").cast("double") /
          (col("n_nodes").cast("double") *
            (col("n_nodes") - 1).cast("double")), 6).as("phi"))
      .orderBy("k")
  }

  val richClubSql: String =
    """WITH pr AS (
      |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
      |e AS (
      |  SELECT DISTINCT a.p AS u, b.p AS v
      |  FROM pr a JOIN pr b ON a.o = b.o AND a.p < b.p),
      |bi AS (SELECT u, v FROM e UNION ALL SELECT v AS u, u AS v FROM e),
      |deg AS (SELECT u AS x, CAST(count(*) AS BIGINT) AS dg
      |  FROM bi GROUP BY u),
      |ladder AS (SELECT CAST(1 << i AS BIGINT) AS k FROM range(8) t(i)),
      |nk AS (
      |  SELECT k, CAST(count(*) AS BIGINT) AS n_nodes
      |  FROM deg CROSS JOIN ladder WHERE dg > k GROUP BY k),
      |ek AS (
      |  SELECT k, CAST(count(*) AS BIGINT) AS e2
      |  FROM bi
      |  JOIN deg du ON du.x = bi.u
      |  JOIN deg dv ON dv.x = bi.v
      |  CROSS JOIN ladder
      |  WHERE du.dg > k AND dv.dg > k
      |  GROUP BY k)
      |SELECT nk.k, n_nodes, e2 // 2 AS club_edges,
      |  round(CAST(e2 AS DOUBLE)
      |    / (CAST(n_nodes AS DOUBLE) * CAST(n_nodes - 1 AS DOUBLE)), 6)
      |    AS phi
      |FROM nk JOIN ek ON ek.k = nk.k
      |WHERE n_nodes >= 2
      |ORDER BY nk.k""".stripMargin

  /** EIGENVECTOR CENTRALITY via integer walk counts: score(u) after k
    * power-iteration rounds from the all-ones vector is EXACTLY the
    * number of k-walks ending at u — so the iteration runs in exact
    * decimal(38,0) integers and needs NO per-round float normalization
    * (the step that makes naive float power iteration engine-divergent:
    * unordered Σ over neighbors). One normalization at the END — score
    * divided by the max — is a single exact-integer-to-double division.
    * k = 4 rounds is enough to separate hubs (the ranking is stable at
    * sf0.01/0.1 between k=3 and k=4).
    *
    * Overflow posture: walk counts grow as O(V·d̄ᵏ) ≈ 10¹⁹ at sf0.1 —
    * decimal(38,0) holds to 10³⁸, and ANSI mode makes any overflow a
    * LOUD error, not silent wraparound (the Dedup 2^32 packing
    * discipline).
    *
    * Scale: each round is ONE O(E) key-shuffle join + vertex aggregate
    * (the q_pagerank class); per-round state is O(V). */
  def eigenCentrality(s: SparkSession, d: String): DataFrame = {
    val big = DecimalType(38, 0)
    val bi = biEdges(s, d) // 4 power-iteration rounds read it
    // NO per-round checkpoint: each round feeds the next exactly once
    // (a linear chain, not the shared-frontier shape of sssp/label_prop),
    // so one final action executes the whole 4-join pipeline with
    // nothing recomputed — per-round eager pinning would only add 4
    // actions and dead storage.
    // Round 1 of power iteration from the uniform start vector is just
    // the in-degree: w¹(y) = Σ_{u→y} 1 = deg(y). Computing it as ONE
    // map-side-combinable count instead of join(bi, uniform-score)
    // deletes a full |2E|-row shuffle join from the 4-round chain
    // (measured round 9 at sf0.1: cold 10.7 → 9.1 s, where the memo log
    // shows 7.9 s of both figures is the shared edges+biEdges builds —
    // so the query-own cost fell ~2.8 → ~1.3 s. The VERDICT r8
    // eigen+hits fusion experiment resolves NEGATIVE: the two walks run
    // over DIFFERENT edge frames (order-based part-part projection vs
    // the two-mode customer×part graph), so a shared iteration cache is
    // not semantically available; this shortcut is what the iteration
    // algebra does offer).
    var score = bi.groupBy(col("v").as("x"))
      .agg(count(lit(1)).cast(big).as("w"))
    for (_ <- 1 to 3) {
      score = bi.join(score, bi("u") === score("x"))
        .groupBy(col("v").as("y"))
        .agg(sum(col("w")).cast(big).as("w"))
        .select(col("y").as("x"), col("w"))
    }
    val mx = score.agg(max(col("w")).cast(big).as("mx"))
    score.crossJoin(broadcast(mx))
      .select(col("x").as("vertex"),
        round(col("w").cast("double") / col("mx").cast("double"), 6)
          .as("score"))
      .orderBy(col("score").desc, col("vertex"))
      .limit(20)
  }

  /** SIZE-GATED broadcast hint for graph-family frames whose row count
    * scales with the GRAPH, not with a fixed constant (VERDICT r11 #3:
    * the 1 GiB heap-gate failures were all deliberate or stats-chosen
    * broadcast-exchange builds of O(V)-class frames — bounded at sf0.1,
    * a cliff at 100× the vertex count). The gate makes the cutover a
    * CONFIGURATION instead of a surprise:
    *
    *  - `spark.graft.graph.broadcastRowCap` (rows, default 4,000,000 ≈
    *    tens of MB for the skinny key frames this guards): the frame is
    *    counted — one cheap narrow job, every caller passes a frame
    *    that is pinned or a narrow projection of pinned blocks — and
    *    broadcast only below the cap; above it the plan falls back to
    *    the ordinary shuffle join, which is exactly what a 1000-executor
    *    cluster wants for a frame that no longer fits a broadcast
    *    budget.
    *  - cap ≤ 0 disables the hint entirely (the small-heap gate
    *    configuration; pair with spark.sql.autoBroadcastJoinThreshold
    *    for the stats-chosen auto-broadcasts, threaded from the
    *    SPARK_GRAFT_AUTOBROADCAST env by [[graft.GraftSession]]).
    *
    * The UN-hinted O(V) frames in this family (degree censuses, label
    * frames, adjacency reads) are already size-gated by Spark itself:
    * pinned frames carry accurate size stats, so
    * `spark.sql.autoBroadcastJoinThreshold` (default 10 MB) flips them
    * to shuffle joins the moment they outgrow the broadcast budget —
    * measured, not asserted, in the PERF.md round-12 small-heap row. */
  private def gatedBroadcast(df: DataFrame,
      knownRows: Option[Long] = None): DataFrame = {
    val cap = df.sparkSession.conf
      .getOption("spark.graft.graph.broadcastRowCap")
      .map(_.toLong).getOrElse(4000000L)
    if (cap <= 0) df
    else {
      // STATS probe, not a count() job (VERDICT r12 #4): a caller
      // passing a pinned frame or a narrow projection of one gets a
      // FREE driver-side read of the optimized plan's stats (a pin
      // propagates the origin's statistics into its LogicalRDD;
      // Dataset.checkpoint keeps stats since Spark 3.4) — the old
      // df.count() probe was one extra driver barrier per
      // BFS/propagation round. A caller that already KNOWS the row
      // count (the BFS loop reads Σ bitmap_count off the pinned round
      // frame it just materialized) passes it via `knownRows` and
      // skips the probe entirely. [[probedRowEstimate]] is the spec
      // hook: PlanShapeSpec asserts both the zero-job claim on stats-
      // reliable shapes and the exact-count fallback on Generate.
      val rows = knownRows.map(BigInt(_)).getOrElse(probedRowEstimate(df))
      if (rows <= cap) broadcast(df) else df
    }
  }

  /** Row estimate for the broadcast gate. Plan stats when they are
    * trustworthy; an exact count when they are not.
    *
    * Stats are NOT trustworthy below a `Generate` (ADVICE r13): Spark's
    * size-only stats visitor scales a Generate's output by row width
    * and ignores fan-out entirely, so an exploded-frontier plan
    * (explode of bitmap positions — up to 32768 rows per input row) can
    * be underestimated by orders of magnitude, and an UNDERestimate
    * here broadcasts an over-cap frame — the driver-OOM direction the
    * gate exists to prevent. For such plans this falls back to one
    * exact `df.count()` job; every in-engine caller avoids even that by
    * passing `knownRows` computed off an already-pinned parent.
    * Stats-path estimates use the planner's rowCount when it survived,
    * else sizeInBytes over the schema's Catalyst row width — both err
    * on the LARGE side for skinny key frames, and an overestimate only
    * declines a broadcast (the conservative direction).
    * Package-visible so PlanShapeSpec can pin both branches. */
  private[graft] def probedRowEstimate(df: DataFrame): BigInt = {
    val plan = df.queryExecution.optimizedPlan
    val hasGenerate = plan.collectFirst {
      case g: org.apache.spark.sql.catalyst.plans.logical.Generate => g
    }.isDefined
    if (hasGenerate) BigInt(df.count())
    else plan.stats.rowCount.getOrElse {
      val width =
        math.max(1, plan.output.map(_.dataType.defaultSize).sum)
      plan.stats.sizeInBytes / width
    }
  }

  /** Full-neighborhood adjacency arrays of the co-purchase graph,
    * memoized in [[memo]] (one groupBy+collect per session instead of
    * one per consumer). Round 12: this is now the
    * ROOT of the whole graph memo chain — built straight from the
    * per-order part sets with ONE groupBy over the bidirectional
    * within-order pair stream (collect_set partials dedup map-side),
    * replacing the old edges-first chain's two big exchanges
    * (pair-distinct + biEdges groupBy). [[edges]] and [[biEdges]] are
    * narrow explodes of this frame and inherit its hash partitioning
    * on the vertex key. At 100 TB the aggregate state is the adjacency
    * itself (Σ deg = 2|E|), the same bound the old chain paid — no new
    * memory cliff, one less shuffle of the edge set. */
  private def adjFullCached(s: SparkSession, d: String): DataFrame =
    memo(s, d, "adjacency")(
      Tables.lineitem(s, d)
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
        // no pre-distinct: collect_set dedups per order, so a distinct
        // here would be a redundant full shuffle of lineitem (measured
        // NEUTRAL at sf0.1, PERF.md round 11 — kept on the scale
        // argument: one shuffle of the fact table instead of two).
        .groupBy("o").agg(sort_array(collect_set(col("p"))).as("ps"))
        .select(explode(expr(
          """flatten(transform(ps, x ->
            |  transform(filter(ps, y -> y != x), y ->
            |    struct(x AS u, y AS v))))""".stripMargin)).as("e"))
        .select(col("e.u"), col("e.v"))
        .groupBy(col("u").as("x"))
        .agg(sort_array(collect_set(col("v"))).as("nb"))
        .pin())

  /** THE triangle pass, run once per (session, dataset): per-canonical-
    * edge support sup(u,v) = |N(u) ∩ N(v)| — one local array-intersect
    * per edge against the memoized full adjacency (two key-shuffle
    * joins, no wedge or witness materialization). Every triangle-shaped
    * query derives from this one frame: Σ sup = 3·T (each triangle is
    * seen from all three corner edges), per-vertex counts are
    * Σ_{e∋x} sup(e) / 2 (each triangle at x is witnessed by both of
    * x's incident corner edges), and k-truss round 1 IS this frame.
    * Before round 8, q_triangles/q_clustering_coef each ran their own
    * degree-oriented edge-iterator pass and q_ktruss re-derived exactly
    * this support — three triangle enumerations per suite run where one
    * suffices (VERDICT r7 task 3). The oriented O(sqrt m)-bounded pass
    * remains the right SOLO plan for a one-shot global count on a
    * skew-heavy graph; the full-adjacency form wins here because the
    * adjacency is already pinned for the suite and the per-edge lists
    * on this degree-uniform graph are the same size either way (the
    * PERF.md r7 negative result on orienting k-truss). */
  private def edgeSupport(s: SparkSession, d: String): DataFrame =
    memo(s, d, "edgeSupport") {
      val adjFull = adjFullCached(s, d)
      edges(s, d)
        .join(adjFull.select(col("x").as("u"), col("nb").as("na")),
          Seq("u"))
        .join(adjFull.select(col("x").as("v"), col("nb").as("nvv")),
          Seq("v"))
        .select(col("u"), col("v"),
          // merge-scan count over the sort_array'ed adjacency pair —
          // the codegen'd [[graft.functions.SortedIntersectCount]]
          // replaces size(array_intersect(...)): no per-row hash-set
          // build, no intersection array materialized just to be
          // size()'d (VERDICT r13 #2; equivalence pinned by
          // SortedIntersectSpec + the unchanged q_ktruss oracle)
          sortedIntersectCount(col("na"), col("nvv")).as("sup"))
        .pin()
    }

  /** Peel rounds for [[kTruss]] — bounded like [[kcoreRounds]]: the
    * census is DEFINED per round, so determinism never depends on
    * convergence. */
  val ktrussRounds = 3

  /** K-TRUSS PEELING (k = 4): iteratively delete edges in fewer than
    * k−2 = 2 triangles — the community-core kernel one notch stronger
    * than k-core (every surviving edge is wedged into ≥2 triangles, so
    * the subgraph is triangle-dense, not merely degree-dense). Ships
    * the (round, n_edges, n_triangles) convergence census.
    *
    * Per-round support WITHOUT wedge materialization: on the canonical
    * u<v edge list, a triangle a<b<c is found once at edge (a, b) as
    * c ∈ N⁺(a) ∩ N⁺(b) (higher-id adjacency intersection, the
    * [[coPurchaseTriangles]] edge-iterator); each triangle then credits
    * its three edges (a,b), (a,c), (b,c) — explode is bounded by the
    * TRIANGLE count, never wedges. Exact integers throughout.
    *
    * Scale: each round is two key-shuffle joins + one aggregate over
    * O(E) rows with O(triangles) intermediate — the iterative
    * job-count class of [[kCorePeeling]]; per-round frames are
    * checkpoint-pinned exactly like the kcore rounds. */
  def kTruss(s: SparkSession, d: String): DataFrame = {
    val k = 4
    // Partitioning-reuse experiment (VERDICT r11 #2): measured NEUTRAL
    // and reverted — pre-partitioning the edge list on (u, v) before
    // the loop moved the round-1 exchange upfront without deleting one
    // (iso best-of-5 11.28 → 11.21 s at sf0.1, within noise; PERF.md
    // round-12 row). Exchange-count conservation: the loop-carried
    // frames (scored → next → cur, support = next ⋈ dec) already
    // inherit (u, v) clustering from the round-1 join output through
    // filter/join, so rounds 2+ were never re-exchanging the surviving
    // edge set — the residual isolated bill decomposes to the SHARED
    // memo chain, i.e. compute amortized across the whole graph suite,
    // not loop shuffles. That finding motivated the round-12
    // adjacency-first chain restructure (see [[edges]]), which cut the
    // chain to one edge-building shuffle: q_ktruss iso best-of-5
    // 14.14 → 13.19 s on the same contended host.
    var cur = edges(s, d) // canonical u < v
    var out = Seq.empty[DataFrame]
    // Round 1 pays ONE full triangle-support pass (id-oriented higher-
    // neighbor intersection; all three credit streams fuse into one
    // explode, so the triangle frame has a single consumer and never
    // pins). Rounds 2+ are DECREMENTAL — the textbook truss-maintenance
    // trick: a peel deletes ~2% of edges here, and only triangles
    // TOUCHING a deleted edge change any support, so later rounds
    // enumerate O(|D|·d̄) candidate triangles instead of re-pricing all
    // O(E·d̄) — measured 26.7 → ~11 s at sf0.1. Both paths produce the
    // identical per-round census the full-recompute oracle checks.
    // FULL adjacency of the round-0 graph, memoized like the edge
    // frames; later rounds expand deleted edges against it and re-check
    // edge membership with two cheap semi-joins (witness lists only
    // ever SHRINK, so E_0 lists + membership = E_{r-1} lists).
    val adjFull = adjFullCached(s, d)
    var support: DataFrame = null // support within the CURRENT cur
    var total: DataFrame = null   // one-row running triangle count
    for (r <- 1 to ktrussRounds) {
      if (r == 1) {
        // round-1 edge support IS the shared suite-wide triangle pass
        // (|N(u) ∩ N(v)| per canonical edge): when q_triangles or
        // q_clustering_coef already ran this session the frame is
        // memo-pinned and round 1 costs one read, not an enumeration.
        // Every triangle is counted once per corner edge: Σ sup = 3·T.
        support = edgeSupport(s, d)
      }
      val scored = cur.join(support, Seq("u", "v"), "left")
        .select(col("u"), col("v"),
          coalesce(col("sup"), lit(0L)).as("sup"))
        .pin() // consumers: peel, deleted-diff, census, delta
      if (r == 1)
        // coalesce: on an EMPTY graph the sum over zero edges is NULL
        // where the oracle's census reads 0 (empty-orders edge sweep)
        total = scored.agg((coalesce(sum(col("sup")), lit(0L)) / 3)
          .cast("long").as("nt"))
          .pin()
      val nTriRow = total
      val next = scored.filter(col("sup") >= k - 2)
      out = out :+ next.agg(count(lit(1)).cast("long").as("n_edges"))
        .crossJoin(broadcast(nTriRow))
        .select(lit(r).cast("int").as("round"), col("n_edges"),
          col("nt").as("n_triangles_before"))
      if (r < ktrussRounds) {
        // dropped triangles: expand each deleted edge's E_0 witnesses,
        // keep those whose other two edges are still in E_{r-1}, dedup
        // on the sorted triple (a triangle with 2+ deleted edges is
        // found once per deleted edge).
        val deleted = scored.filter(col("sup") < k - 2).select("u", "v")
        val curEdges = cur.select(col("u").as("eu"), col("v").as("ev"))
        val triples = deleted
          .join(adjFull.select(col("x").as("u"), col("nb").as("na")),
            Seq("u"))
          .join(adjFull.select(col("x").as("v"), col("nb").as("nvv")),
            Seq("v"))
          .select(col("u"), col("v"),
            explode(sortedIntersect(col("na"), col("nvv"))).as("w"))
          .join(curEdges, least(col("u"), col("w")) === col("eu") &&
            greatest(col("u"), col("w")) === col("ev"), "left_semi")
          .join(curEdges, least(col("v"), col("w")) === col("eu") &&
            greatest(col("v"), col("w")) === col("ev"), "left_semi")
          .select(sort_array(array(col("u"), col("v"), col("w"))).as("t"))
          .distinct()
          .select(col("t")(0).as("t0"), col("t")(1).as("t1"),
            col("t")(2).as("t2"))
          .pin() // consumers: decrement explode + count
        val dec = triples
          .select(explode(array(
            struct(col("t0").as("cu"), col("t1").as("cv")),
            struct(col("t0").as("cu"), col("t2").as("cv")),
            struct(col("t1").as("cu"), col("t2").as("cv")))).as("e"))
          .groupBy(col("e.cu").as("u"), col("e.cv").as("v"))
          .agg(count(lit(1)).cast("long").as("dn"))
        support = next.join(dec, Seq("u", "v"), "left")
          .select(col("u"), col("v"),
            (col("sup") - coalesce(col("dn"), lit(0L))).as("sup"))
        total = total.crossJoin(broadcast(
          triples.agg(count(lit(1)).cast("long").as("nd"))))
          .select((col("nt") - col("nd")).as("nt"))
          .pin()
      }
      cur = next.select("u", "v")
    }
    out.reduce(_.unionAll(_)).orderBy("round")
  }

  val kTrussSql: String = {
    val base =
      """WITH pr AS MATERIALIZED (
        |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |e0 AS MATERIALIZED (
        |  SELECT DISTINCT a.p AS u, b.p AS v
        |  FROM pr a JOIN pr b ON a.o = b.o AND a.p < b.p)""".stripMargin
    val rounds = (1 to ktrussRounds).map { r =>
      val p = r - 1
      s"""t$r AS MATERIALIZED (
         |  SELECT e1.u AS a, e1.v AS b, e2.v AS c
         |  FROM e$p e1 JOIN e$p e2 ON e2.u = e1.v
         |  JOIN e$p e3 ON e3.u = e1.u AND e3.v = e2.v),
         |sup$r AS MATERIALIZED (
         |  SELECT u, v, CAST(sum(m) AS BIGINT) AS sup FROM (
         |    SELECT a AS u, b AS v, 1 AS m FROM t$r
         |    UNION ALL SELECT a, c, 1 FROM t$r
         |    UNION ALL SELECT b, c, 1 FROM t$r)
         |  GROUP BY u, v),
         |e$r AS MATERIALIZED (
         |  SELECT e.u, e.v FROM e$p e JOIN sup$r s
         |    ON s.u = e.u AND s.v = e.v AND s.sup >= 2)"""
        .stripMargin
    }.mkString(",\n", ",\n", "")
    val census = (1 to ktrussRounds).map { r =>
      s"""SELECT $r AS round,
         |  (SELECT count(*) FROM e$r) AS n_edges,
         |  (SELECT CAST(count(*) AS BIGINT) FROM t$r)
         |    AS n_triangles_before""".stripMargin
    }.mkString("\nUNION ALL\n")
    base + rounds + "\n" + census + "\nORDER BY round"
  }

  /** Temporal split date for [[recommenderEval]] — the midpoint of the
    * TPC-H order window (train strictly before, test at-or-after). */
  val recoSplitDate = "1995-06-17"
  val recoK = 5

  /** OFFLINE RECOMMENDER EVALUATION: hit-rate@5 of the simplest
    * co-purchase recommender ("customers who bought X also bought Y")
    * against a TEMPORAL holdout — train on orders before the split
    * date, recommend the top-5 non-owned parts ranked by how many of
    * the customer's train parts they are co-purchased with (the
    * [[linkPrediction]] CN score, basket-scoped), score hits against
    * the parts actually bought after the split. The end-to-end eval
    * loop every recsys ships: one per-customer profile aggregate, one
    * adjacency join, one profile join.
    *
    * Determinism: CN scores are exact integers; the top-5 ranks break
    * ties on (cn DESC, part id); hit counts and the final rate are one
    * exact-integer ratio, rounded 6.
    *
    * Scale: candidate volume is Σ_customers |basket|·d̄ — key-shuffle
    * hash joins end to end, no cross product; baskets are bounded by
    * order history, adjacency by the co-purchase degree. Evaluated
    * customers = those with BOTH train and test activity. */
  def recommenderEval(s: SparkSession, d: String): DataFrame = {
    val bi = biEdges(s, d)
    val lineOrders = Tables.lineitem(s, d)
      .join(Tables.orders(s, d),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").as("cust"), col("l_partkey").as("part"),
        to_date(col("o_orderdate")).as("od"),
        (to_date(col("o_orderdate")) < lit(recoSplitDate).cast("date"))
          .as("is_train"))
    // ONE (cust, part) aggregate carries train recency, ownership, and
    // test membership together, and ONE cust-keyed aggregate folds them
    // into a per-customer PROFILE row: full owned set, the last-5-item
    // recommendation basket (the "last-N items" form every production
    // recommender uses — it bounds candidate volume at 5·d̄ per
    // customer, the difference between feasible and quadratic at
    // 100 TB), and the test set. The r7 plan derived each consumer
    // separately — a basket window, an ownership anti-join against all
    // (cust, part) train pairs, an eval-set semi-join, and a test left
    // join: four extra cust-keyed shuffles this single profile replaces
    // (VERDICT r7 task 4).
    val custPart = lineOrders
      .groupBy("cust", "part")
      .agg(max(when(col("is_train"), col("od"))).as("last_od"),
        max(when(!col("is_train"), lit(1)).otherwise(lit(0))).as("in_test"))
    // eval scope = customers with BOTH train and test activity; basket
    // ordering (last_od DESC, part ASC) matches the r7 window exactly
    val profile = custPart.groupBy("cust")
      .agg(
        collect_set(when(col("last_od").isNotNull, col("part")))
          .as("owned"),
        collect_list(when(col("last_od").isNotNull,
          struct(col("last_od"), col("part")))).as("tr"),
        collect_set(when(col("in_test") === 1, col("part")))
          .as("test_parts"))
      .filter(org.apache.spark.sql.functions.size(col("owned")) > 0 &&
        org.apache.spark.sql.functions.size(col("test_parts")) > 0)
      .select(col("cust"), col("owned"), col("test_parts"),
        expr("""transform(slice(array_sort(tr, (l, r) ->
          CASE WHEN l.last_od > r.last_od THEN -1
               WHEN l.last_od < r.last_od THEN 1
               WHEN l.part < r.part THEN -1
               WHEN l.part > r.part THEN 1 ELSE 0 END), 1, 5),
          e -> e.part)""").as("basket"))
      .pin() // consumers: candidate explode + the profile join
    // candidates: parts adjacent to any basket part; CN score = how
    // many basket parts each candidate is co-purchased with
    val cands = profile
      .select(col("cust"), explode(col("basket")).as("part"))
      .join(bi.select(col("u").as("part"), col("v").as("cand")), Seq("part"))
      .groupBy(col("cust"), col("cand"))
      .agg(count(lit(1)).cast("long").as("cn"))
    // ownership filtering reads the pinned profile's owned set, which is
    // DROPPED again before the ranking window: the window sort was the
    // widest task in the whole catalog (each candidate row carried the
    // full owned AND test arrays through the sort — the task that OOMed
    // the 2 GiB whole-JVM heap gate, PERF.md r11), and narrowing its
    // input to (cust, cand, cn) costs one extra cust-keyed probe of the
    // pinned profile over the ≤ k rows/customer that SURVIVE the rank
    val topk = cands
      .join(profile.select(col("cust"), col("owned")), Seq("cust"))
      .filter(!array_contains(col("owned"), col("cand")))
      .select(col("cust"), col("cand"), col("cn"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("cust").orderBy(col("cn").desc, col("cand"))))
      .filter(col("rk") <= recoK)
    val hits = topk
      .join(profile.select(col("cust"), col("test_parts")), Seq("cust"))
      .groupBy("cust")
      .agg(count(lit(1)).cast("long").as("n_rec"),
        sum(when(array_contains(col("test_parts"), col("cand")), 1L)
          .otherwise(0L)).cast("long").as("n_hit"))
    hits.agg(count(lit(1)).cast("long").as("n_customers"),
      sum(col("n_rec")).cast("long").as("n_recommended"),
      sum(col("n_hit")).cast("long").as("n_hits"),
      sum(when(col("n_hit") > 0, 1L).otherwise(0L)).cast("long")
        .as("n_customers_hit"))
      .select(col("n_customers"), col("n_recommended"), col("n_hits"),
        round(col("n_hits").cast("double") /
          greatest(col("n_recommended"), lit(1L)), 6).as("precision_at_k"),
        round(col("n_customers_hit").cast("double") /
          greatest(col("n_customers"), lit(1L)), 6).as("hit_rate"))
  }

  val recommenderEvalSql: String =
    s"""WITH pr AS (
       |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
       |e AS (
       |  SELECT DISTINCT a.p AS u, b.p AS v
       |  FROM pr a JOIN pr b ON a.o = b.o AND a.p < b.p),
       |bi AS (SELECT u, v FROM e UNION ALL SELECT v AS u, u AS v FROM e),
       |lo AS (
       |  SELECT o.o_custkey AS cust, l.l_partkey AS part,
       |    CAST(o.o_orderdate AS DATE) AS od,
       |    CAST(o.o_orderdate AS DATE) < DATE '$recoSplitDate' AS is_train
       |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
       |train_all AS (
       |  SELECT cust, part, max(od) AS last_od FROM lo WHERE is_train
       |  GROUP BY 1, 2),
       |basket AS (
       |  SELECT cust, part FROM (
       |    SELECT cust, part, row_number() OVER (PARTITION BY cust
       |      ORDER BY last_od DESC, part) AS rk
       |    FROM train_all)
       |  WHERE rk <= 5),
       |train AS (SELECT cust, part FROM train_all),
       |test AS (SELECT DISTINCT cust, part FROM lo WHERE NOT is_train),
       |cands AS (
       |  SELECT t.cust, bi.v AS cand, count(*) AS cn
       |  FROM basket t JOIN bi ON bi.u = t.part
       |  GROUP BY 1, 2),
       |fresh AS (
       |  SELECT c.cust, c.cand, c.cn FROM cands c
       |  WHERE NOT EXISTS (SELECT 1 FROM train t
       |    WHERE t.cust = c.cust AND t.part = c.cand)),
       |topk AS (
       |  SELECT cust, cand FROM (
       |    SELECT cust, cand, row_number() OVER (PARTITION BY cust
       |      ORDER BY cn DESC, cand) AS rk
       |    FROM fresh)
       |  WHERE rk <= $recoK),
       |ec AS (
       |  SELECT DISTINCT cust FROM train
       |  WHERE cust IN (SELECT cust FROM test)),
       |hits AS (
       |  SELECT k.cust, count(*) AS n_rec,
       |    sum(CASE WHEN te.part IS NOT NULL THEN 1 ELSE 0 END) AS n_hit
       |  FROM topk k
       |  JOIN ec ON ec.cust = k.cust
       |  LEFT JOIN test te ON te.cust = k.cust AND te.part = k.cand
       |  GROUP BY 1)
       |SELECT count(*) AS n_customers,
       |  CAST(sum(n_rec) AS BIGINT) AS n_recommended,
       |  CAST(sum(n_hit) AS BIGINT) AS n_hits,
       |  round(CAST(sum(n_hit) AS DOUBLE) / greatest(sum(n_rec), 1), 6)
       |    AS precision_at_k,
       |  round(CAST(sum(CASE WHEN n_hit > 0 THEN 1 ELSE 0 END) AS DOUBLE)
       |    / greatest(count(*), 1), 6) AS hit_rate
       |FROM hits""".stripMargin

  val eigenCentralitySql: String =
    """WITH pr AS (
      |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
      |e AS (
      |  SELECT DISTINCT a.p AS u, b.p AS v
      |  FROM pr a JOIN pr b ON a.o = b.o AND a.p < b.p),
      |bi AS (SELECT u, v FROM e UNION ALL SELECT v AS u, u AS v FROM e),
      |s0 AS (SELECT DISTINCT u AS x, CAST(1 AS HUGEINT) AS w FROM bi),
      |s1 AS (SELECT bi.v AS x, sum(w) AS w FROM bi
      |  JOIN s0 ON bi.u = s0.x GROUP BY 1),
      |s2 AS (SELECT bi.v AS x, sum(w) AS w FROM bi
      |  JOIN s1 ON bi.u = s1.x GROUP BY 1),
      |s3 AS (SELECT bi.v AS x, sum(w) AS w FROM bi
      |  JOIN s2 ON bi.u = s2.x GROUP BY 1),
      |s4 AS (SELECT bi.v AS x, sum(w) AS w FROM bi
      |  JOIN s3 ON bi.u = s3.x GROUP BY 1),
      |mx AS (SELECT max(w) AS mx FROM s4)
      |SELECT x AS vertex,
      |  round(CAST(w AS DOUBLE) / CAST(mx AS DOUBLE), 6) AS score
      |FROM s4 CROSS JOIN mx
      |ORDER BY score DESC, vertex LIMIT 20""".stripMargin

  /** BIPARTITE HITS — hub/authority ranking of the TWO-MODE
    * customer×part purchase graph itself, the projection-free dual of
    * [[eigenCentrality]] (which walks the part-part projection): two
    * exact mutual-reinforcement rounds, auth¹(p) = deg(p),
    * hub¹(c) = Σ_{p∋c} auth¹(p), auth²(p) = Σ_{c∋p} hub¹(c) — so
    * auth² counts length-3 alternating walks ending at p, the integer
    * fixed-point surrogate that needs no per-round normalization (the
    * [[eigenCentrality]] doctrine; rankings are scale-free). Top-20
    * authorities ship with their degree and the ppm share, an exact
    * integer division.
    *
    * Scale: the bipartite edge list is one orderkey join + distinct
    * (the co-purchase build's first half, lighter than its pair
    * expansion); each round is one key-shuffle join + aggregate —
    * O(E) per round, 2 rounds. */
  def hitsBipartite(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("p"))
    val ords = Tables.orders(s, d)
      .select(col("o_orderkey").as("ok"), col("o_custkey").as("c"))
    val b = li.join(ords, Seq("ok")).select(col("c"), col("p"))
      .distinct().pin()
    val auth1 = b.groupBy("p").agg(count(lit(1)).as("a1"))
    val hub1 = b.join(auth1, Seq("p")).groupBy("c").agg(sum(col("a1")).as("h1"))
    val auth2 = b.join(hub1, Seq("c")).groupBy("p")
      .agg(sum(col("h1")).as("a2"), count(lit(1)).as("deg_p"))
      .pin()
    val tot = auth2.agg(sum(col("a2")).as("tot"))
    auth2.crossJoin(broadcast(tot))
      .orderBy(col("a2").desc, col("p").asc).limit(20)
      .select(col("p").as("part"), col("deg_p").as("degree"),
        col("a2").as("authority_walks"),
        expr("a2 * 1000000 div tot").as("share_ppm"))
  }

  val hitsBipartiteSql: String =
    """WITH b AS (
      |  SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
      |  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey),
      |auth1 AS (SELECT p, count(*) AS a1 FROM b GROUP BY p),
      |hub1 AS (
      |  SELECT c, CAST(sum(a1) AS BIGINT) AS h1
      |  FROM b JOIN auth1 USING (p) GROUP BY c),
      |auth2 AS (
      |  SELECT p, CAST(sum(h1) AS BIGINT) AS a2, count(*) AS deg_p
      |  FROM b JOIN hub1 USING (c) GROUP BY p),
      |tot AS (SELECT CAST(sum(a2) AS BIGINT) AS tot FROM auth2)
      |SELECT p AS part, deg_p AS degree, a2 AS authority_walks,
      |  a2 * 1000000 // tot AS share_ppm
      |FROM auth2 CROSS JOIN tot
      |ORDER BY a2 DESC, p LIMIT 20""".stripMargin

  /** EGO BETWEENNESS (Everett–Borgatti) of the seed vertices — the
    * scalable rendering of betweenness centrality, the one classic
    * centrality this suite lacked: full Brandes is O(V·E) with
    * all-pairs state (the exact algorithm is infeasible at 100 TB and
    * its sampled form is a different estimator), while the ego form —
    * betweenness of v WITHIN its 1-hop ego network — is local, needs
    * only v's neighborhood and its internal adjacency, and correlates
    * famously well with the global rank (Everett & Borgatti 2005). For
    * every non-adjacent neighbor pair (u, w) of seed v, every shortest
    * u–w path inside the ego net has length 2 and its intermediates
    * are v plus the pair's common neighbors INSIDE N(v); v's credit is
    * 1/(that count + 1), summed over the pair list in sorted order
    * (the [[linkPrediction]] fold discipline — Σ of reciprocals of
    * exact integers, deterministic order).
    *
    * Scale: [[seedCap]] seeds × C(deg, 2) pairs, each resolved by
    * sorted-array intersections against the memoized [[adjFullCached]]
    * frame — no global pair expansion, no iteration; state is O(pairs
    * per seed), embarrassingly parallel across seeds. */
  def egoBetweenness(s: SparkSession, d: String): DataFrame = {
    val bi = biEdges(s, d)
    val adj = adjFullCached(s, d)
    val sd = seeds(bi).select(col("x").as("seed"))
    val ego = adj.join(sd, col("x") === col("seed"))
      .select(col("seed"), col("nb"))
    // non-adjacent neighbor pairs (u < w) of each seed, from the sorted
    // neighbor array (the edges-builder pair expansion, seed-bounded)
    val pairs = ego.select(col("seed"), col("nb"),
      explode(expr(
        """flatten(transform(nb, (a, i) ->
          |  transform(slice(nb, i + 2, size(nb) - i - 1), b ->
          |    struct(a AS u, b AS w))))""".stripMargin)).as("pr"))
      .select(col("seed"), col("nb"), col("pr.u").as("u"), col("pr.w").as("w"))
    val withAdj = pairs
      .join(adj.select(col("x").as("u"), col("nb").as("nu")), Seq("u"))
      .join(adj.select(col("x").as("w"), col("nb").as("nw")), Seq("w"))
      .filter(!array_contains(col("nu"), col("w"))) // u–w not adjacent
      .select(col("seed"), col("u"), col("w"),
        (sortedIntersectCount(sortedIntersect(col("nu"), col("nw")),
          col("nb")) + 1).as("k"))
    withAdj.groupBy(col("seed"))
      .agg(count(lit(1)).cast("long").as("n_pairs"),
        sort_array(collect_list(struct(col("u"), col("w"), col("k"))))
          .as("ps"))
      .select(col("seed"), col("n_pairs"),
        round(expr("""aggregate(ps, CAST(0.0 AS DOUBLE),
          (acc, e) -> acc + 1.0 / CAST(e.k AS DOUBLE))"""), 6)
          .as("ego_betweenness"))
      .orderBy(col("ego_betweenness").desc, col("seed").asc)
  }

  lazy val egoBetweennessSql: String =
    s"""WITH pr AS (
       |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
       |e AS (
       |  SELECT DISTINCT a.p AS u, b.p AS v
       |  FROM pr a JOIN pr b ON a.o = b.o AND a.p < b.p),
       |bi AS (SELECT u, v FROM e UNION ALL SELECT v AS u, u AS v FROM e),
       |adj AS (
       |  SELECT u AS x, list_sort(list(DISTINCT v)) AS nb
       |  FROM bi GROUP BY u),
       |seeds AS (
       |  SELECT DISTINCT u AS seed FROM bi WHERE u % 500 = 0
       |  ORDER BY seed LIMIT $seedCap),
       |ego AS (
       |  SELECT s.seed, a.nb FROM adj a JOIN seeds s ON a.x = s.seed),
       |p1 AS (SELECT seed, nb, unnest(nb) AS u FROM ego),
       |pairs AS (
       |  SELECT seed, nb, u, w FROM (
       |    SELECT seed, nb, u, unnest(nb) AS w FROM p1)
       |  WHERE u < w),
       |with_adj AS (
       |  SELECT p.seed, p.u, p.w,
       |    CAST(len(list_intersect(list_intersect(au.nb, aw.nb), p.nb)) + 1
       |      AS BIGINT) AS k
       |  FROM pairs p
       |  JOIN adj au ON au.x = p.u
       |  JOIN adj aw ON aw.x = p.w
       |  WHERE NOT list_contains(au.nb, p.w)),
       |grouped AS (
       |  SELECT seed, CAST(count(*) AS BIGINT) AS n_pairs,
       |    list(struct_pack(u := u, w := w, k := k) ORDER BY u, w, k) AS ps
       |  FROM with_adj GROUP BY seed)
       |SELECT seed, n_pairs,
       |  round(list_sum(list_transform(ps, e -> 1.0 / CAST(e.k AS DOUBLE))), 6)
       |    AS ego_betweenness
       |FROM grouped
       |ORDER BY ego_betweenness DESC, seed ASC""".stripMargin

}
