package graft.similarity

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import org.apache.spark.sql.graft.shims

import graft.Tables
import graft.Pin.Pinned
import graft.functions.GraftFunctions.cosineSim

/** Similarity search over the `embeddings` table (`ARRAY<FLOAT>[64]`) —
  * the ANN surface of an LLM data pipeline (north star, SURVEY.md §7.4).
  *
  * Two-tier design, the standard recipe at scale:
  *  - [[bruteForceTopK]] — exact baseline: broadcast the (small) query
  *    set against the full corpus; one codegen'd pass, no shuffle of the
  *    corpus. Cost O(queries × corpus × dim) — right whenever the query
  *    set is small, at any corpus size.
  *  - [[lshTopK]] — the scale path: sign-random-projection LSH buckets
  *    the corpus ONCE (a per-row projection, no shuffle), then searches
  *    only matching buckets. Cost O(queries × corpus / 2^planes × dim).
  *    Hyperplanes are md5-derived ±1 vectors: deterministic, seed-free,
  *    and identical on every executor with no broadcast state.
  *
  * Scores are computed by the native codegen'd [[graft.functions.CosineSimilarity]]
  * expression. Oracle outputs round to 4 decimals: DuckDB's
  * `list_cosine_similarity` accumulates in float32 (~7e-8 error vs our
  * double accumulation — measured, sf0.01); ranking tie-breaks go through
  * the ROUNDED score then vec_id, so order never depends on sub-rounding
  * noise.
  */
object Similarity {

  /** Number of query vectors (vec_id < nQueries) and neighbors returned. */
  val nQueries = 5
  val topK = 3

  /** The [[nQueries]] query vectors: `query_id`, `q_emb`. */
  private def queryVectors(emb: DataFrame): DataFrame =
    emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))

  /** The [[topK]] best-scored candidates per query, ranked by cosine
    * descending then cand_id: query_id, rank, cand_id, cosine. */
  private def topKOf(scored: DataFrame): DataFrame = {
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("cand_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select("query_id", "rank", "cand_id", "cosine")
  }

  /** Exact top-k cosine neighbors for each query vector. The query side
    * is broadcast (it is tiny by construction); the corpus is scanned
    * once; ranking shuffles only (query, candidate, score) triples. */
  def bruteForceTopK(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val queries = queryVectors(emb)
    val corpus = emb.select(col("vec_id").as("cand_id"), col("embedding").as("c_emb"))
    val scored = corpus.crossJoin(broadcast(queries))
      .filter(col("query_id") =!= col("cand_id"))
      .select(col("query_id"), col("cand_id"),
        round(cosineSim(col("q_emb"), col("c_emb")), 4).as("cosine"))
    topKOf(scored)
  }

  /** Multi-table sign-random-projection LSH: `nTables` independent hash
    * tables of `nPlanes` hyperplanes each (the OR-of-ANDs banding trick,
    * same shape as MinHash bands). One table of b planes has per-plane
    * agreement p = 1 - θ/π, so candidate probability p^b; L tables lift
    * recall to 1-(1-p^b)^L while each table stays coarse enough to keep
    * buckets populated. */
  val nPlanes = 4
  val nTables = 8

  /** Deterministic ±1 "random" hyperplanes: plane p, dimension i is +1
    * iff the first byte of md5("p:i") has its high bit set. Computed
    * once on the driver (planes × dims md5 calls — trivially small)
    * and inlined as literals into the projection expression. */
  private[similarity] def planeSign(p: Int, i: Int): Int = {
    val c = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$p:$i".getBytes("UTF-8"))
    if ((c(0) & 0x80) != 0) 1 else -1
  }

  /** All nTables bucket ids of `emb` as one array column, via the
    * native [[graft.functions.SignRandomProjection]] expression (a
    * built-in-expression rendering of the same math blows past Janino's
    * 64 KB method limit and knocks the stage out of codegen). */
  private def lshBuckets(emb: Column, dim: Int): Column =
    lshBucketsN(emb, dim, nTables, nPlanes)

  /** [[lshBuckets]] with explicit table/plane counts — the adaptive-
    * granularity face used by the blocked pair generator below. */
  private[graft] def lshBucketsN(
      emb: Column, dim: Int, tables: Int, planes: Int): Column = {
    val signs = Array.tabulate(tables * planes, dim)((p, i) => planeSign(p, i).toByte)
    shims.column(graft.functions.SignRandomProjection(
      shims.expression(emb), signs, tables, planes))
  }

  // ------------------------------------------------------- blocked ε-pairs

  /** Target mean bucket occupancy for [[blockedScoredPairs]]. The plane
    * count ADAPTS to corpus breadth (`planes = log2(n / target)`,
    * clamped) so bucket sizes — and with them the per-bucket pair
    * quadratic — stay CONSTANT as the corpus grows. A fixed plane count
    * (the r14 graded form's 4) makes bucket occupancy, hence candidate
    * volume, grow quadratically with n: exactly the slope-2 the scale
    * sweep flagged. */
  private val blockedTargetBucket = 32
  private val blockedTables = 8
  val blockedMaxPlanes = 12

  /** planes(n) = clamp(4, 12, ceil(log2(n / [[blockedTargetBucket]]))). */
  def adaptivePlanes(n: Long): Int = {
    val raw = math.ceil(
      math.log(math.max(n, 1L).toDouble / blockedTargetBucket) / math.log(2.0))
    math.min(blockedMaxPlanes, math.max(nPlanes, raw.toInt))
  }

  private val simMemo = new graft.Memo.Cache("similarity")

  /** PRODUCTION ε-pair generator: every candidate pair of the corpus
    * with its exact (hoisted-norm) cosine, via adaptive-granularity
    * sign-LSH with Hamming-1 multi-probe. Memoized per (session,
    * dataset) and ε-INDEPENDENT — [[graft.dedup.Dedup
    * .embeddingNearDupBlocked]] (ε=0.4) and [[dbscanEmbeddingsBlocked]]
    * (ε=[[dbscanEps]]) both filter this one pinned frame, the
    * [[graft.dedup.Dedup.dedupClusters]] precedent.
    *
    * Scale shape (VERDICT r14 #3): candidates come from posting lists —
    * exact-bucket pairs (occupancy² per bucket, occupancy pinned at
    * [[blockedTargetBucket]] by the adaptive plane count) plus
    * single-sided Hamming-1 probes (each vector probes its own bucket
    * id with one plane bit flipped, against the EXACT posting lists —
    * probing one side keeps volume n·planes·occupancy, where two-sided
    * probing would square the probe fan-out). Total verified-candidate
    * volume ≈ tables · n · occupancy · (1 + planes) — linear × log(n),
    * vs the fixed-plane form's n²/2^planes. Recall: per-table candidate
    * probability at plane-agreement p is p^k + k·p^(k-1)(1-p) (exact
    * collision OR one flipped plane), OR'd over [[blockedTables]]
    * tables; at this corpus's ε=0.4 operating point that measures
    * 0.93-1.0 at the graded SFs (DedupBlockedRecallSpec pins the
    * corpus-wide figure). Honest asymptote: holding BOTH a fixed recall
    * floor AND a fixed ε as n → ∞ needs table count growing like
    * n^ρ (sign-LSH ρ at ε=0.4 ≈ 0.66) — the classic LSH trade; at
    * production near-dup thresholds (cosine ≥ 0.9, where true dups
    * live) ρ ≈ 0.2 and the same plan is effectively linear. The knob
    * that buys recall back at any scale is `blockedTables`, and it
    * multiplies cost LINEARLY, never quadratically.
    *
    * The pinned frame carries (vec_a < vec_b, cosine) only — the pair
    * space never carries vectors; the n-row side carries them once. */
  def blockedScoredPairs(s: SparkSession, d: String): DataFrame =
    simMemo(s, d, "blockedScored") { blockedScoredPairsUnpinned(s, d).pin() }

  /** The build plan BEFORE the final pin — exposed package-private so
    * BlockedPairsSpec can assert its join shape (no nested-loop product
    * anywhere; pin() would truncate the plan to an RDD scan). */
  private[similarity] def blockedScoredPairsUnpinned(s: SparkSession, d: String): DataFrame = {
    import graft.functions.GraftFunctions.{dotProduct, l2Norm}
    val e = Tables.embeddings(s, d)
    // parquet-metadata count: O(row groups), sizes the bucket granularity
    val planes = adaptivePlanes(e.count())
    val memberships = e.select(col("vec_id"),
      posexplode(lshBucketsN(col("embedding"), 64, blockedTables, planes))
        .as(Seq("t", "b")))
    val posting = memberships.groupBy("t", "b")
      .agg(sort_array(collect_list(col("vec_id"))).as("ids"))
      .pin()
    val exactPairs = posting
      .filter(size(col("ids")) > 1)
      .select(explode(expr(
        """flatten(transform(ids, (x, i) ->
          |  transform(slice(ids, i + 2, size(ids)), y ->
          |    struct(x AS vec_a, y AS vec_b))))""".stripMargin)).as("p"))
      .select(col("p.vec_a").as("vec_a"), col("p.vec_b").as("vec_b"))
    val probePairs = memberships
      .select(col("vec_id").as("pid"), col("t"),
        explode(expr(s"transform(sequence(0, ${planes - 1}), " +
          "j -> int(b) ^ shiftleft(1, j))")).as("b"))
      .join(posting, Seq("t", "b"))
      .select(col("pid"), explode(col("ids")).as("other"))
      .filter(col("pid") =!= col("other"))
      .select(least(col("pid"), col("other")).as("vec_a"),
        greatest(col("pid"), col("other")).as("vec_b"))
    val withVec = e.select(col("vec_id"), col("embedding"),
      l2Norm(col("embedding")).as("nrm"))
    exactPairs.unionAll(probePairs).distinct()
      .join(withVec.as("bva"), col("vec_a") === col("bva.vec_id"))
      .join(withVec.as("bvb"), col("vec_b") === col("bvb.vec_id"))
      .select(col("vec_a"), col("vec_b"),
        round(dotProduct(col("bva.embedding"), col("bvb.embedding")) /
          (col("bva.nrm") * col("bvb.nrm")), 4).as("cosine"))
  }

  /** Approximate top-k: candidates are corpus vectors sharing the
    * query's bucket in ANY of the nTables hash tables (deduplicated
    * before scoring, so each candidate is scored once). Same output
    * shape as [[bruteForceTopK]]; recall asserted in SimilaritySpec
    * (not oracle-checked — bucket membership depends on float-sign
    * evaluation DuckDB cannot reproduce bit-exactly). */
  def lshTopK(s: SparkSession, d: String, dim: Int = 64): DataFrame = {
    def withBuckets(df: DataFrame): DataFrame =
      df.select(col("*"),
        posexplode(lshBuckets(col("embedding"), dim)).as(Seq("table_idx", "bucket")))
    val emb = Tables.embeddings(s, d)
    val queries = withBuckets(emb.filter(col("vec_id") < nQueries))
      .select(col("vec_id").as("query_id"), col("table_idx"), col("bucket"))
    val corpus = withBuckets(emb)
      .select(col("vec_id").as("cand_id"), col("table_idx"), col("bucket"))
    val candidates = corpus.join(broadcast(queries), Seq("table_idx", "bucket"))
      .filter(col("query_id") =!= col("cand_id"))
      .select("query_id", "cand_id").distinct()
    val byId = emb.select(col("vec_id"), col("embedding"))
    val scored = candidates
      .join(byId.as("qe"), col("query_id") === col("qe.vec_id"))
      .join(byId.as("ce"), col("cand_id") === col("ce.vec_id"))
      .select(col("query_id"), col("cand_id"),
        round(cosineSim(col("qe.embedding"), col("ce.embedding")), 4).as("cosine"))
    topKOf(scored)
  }

  /** Centroid per label — the IVF coarse-quantizer build step done as a
    * plain aggregation: avg of each dimension grouped by label (labels
    * stand in for cluster assignments). Array avg via posexplode +
    * groupBy — one shuffle of (label, dim, value) triples. Exactness:
    * sums of float32 values accumulated as double in BOTH engines via
    * explicit element indexing, same addition order enforced by
    * aggregating dimension-wise (each (label,dim) group sums scalars —
    * order-insensitive up to fp-addition; oracle rounds to 4 decimals). */
  def labelCentroids(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "v")))
      .groupBy("label", "dim")
      .agg(round(avg(col("v").cast("double")), 4).as("c0"),
        count("*").as("n_vectors"))
      // signed-zero pin (the q_cov_matrix lesson): a tiny negative mean
      // rounds to -0.0 on one engine and 0.0 on the other
      .select(col("label"), col("dim"), zeroSafe(col("c0")).as("centroid_v"),
        col("n_vectors"))

  /** IVF-style approximate top-k: assign each query to its `nProbe`
    * nearest label centroids (the coarse quantizer from
    * [[labelCentroids]]), then search only corpus vectors in those
    * partitions. The classic two-level ANN: centroid table is tiny
    * (labels × dim) and broadcast; the fine search touches
    * corpus × nProbe / nLabels vectors. Spec-verified recall (centroid
    * assignment hinges on float sums — not oracle-portable). */
  def ivfTopK(s: SparkSession, d: String, nProbe: Int = 3): DataFrame = {
    val emb = Tables.embeddings(s, d)
    // coarse quantizer: per-label mean vector, assembled dim-ordered
    val cents = emb
      .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "v")))
      .groupBy("label", "dim").agg(avg(col("v").cast("double")).as("cv"))
      .groupBy("label")
      .agg(array_sort(collect_list(struct(col("dim"), col("cv")))).as("dcv"))
      .select(col("label").as("cent_label"),
        expr("transform(dcv, x -> CAST(x.cv AS FLOAT))").as("centroid"))
    val queries = queryVectors(emb)
    // probe assignment: rank centroids per query, keep nProbe
    val probes = queries.crossJoin(broadcast(cents))
      .select(col("query_id"), col("q_emb"), col("cent_label"),
        cosineSim(col("q_emb"), col("centroid")).as("cent_sim"))
      .withColumn("cent_rank", row_number().over(
        Window.partitionBy("query_id").orderBy(col("cent_sim").desc, col("cent_label"))))
      .filter(col("cent_rank") <= nProbe)
      .select(col("query_id"), col("q_emb"), col("cent_label"))
    // fine search within probed partitions only
    val scored = probes.join(emb, col("label") === col("cent_label"))
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id").as("cand_id"),
        round(cosineSim(col("q_emb"), col("embedding")), 4).as("cosine"))
      .distinct()
    topKOf(scored)
  }

  /** Deterministic recall grading for the approximate-ANN paths — the
    * trick that makes an un-oracle-able operator driver-gradeable:
    * DuckDB cannot reproduce LSH buckets or centroid assignments
    * (float-sign / float-sum evaluation), but BOTH Spark-side paths are
    * fully deterministic (seed-free md5 hyperplanes, fixed tie-breaks
    * through rounded scores), so recall-vs-brute-force is a reproducible
    * constant of the data. The check emits one row per query with the
    * asserted recall bound as a BOOLEAN; the oracle asserts it TRUE —
    * the index's CONTRACT is graded, not its contents (same discipline
    * as q_sketches / q_heavy_hitters). The raw top-k listings stay
    * spec-asserted in SimilaritySpec.
    *
    * The bound is on CORPUS-WIDE recall (total hits across all queries),
    * not per-query: on this noise-like corpus an individual query's
    * bucket can legitimately miss all of its true top-3 (measured at
    * sf0.1), while aggregate recall stays far above the floor — exactly
    * the regime real ANN indexes operate in. */
  private def recallCheck(exact: DataFrame, approx: DataFrame, minRecall: Double): DataFrame =
    exact.as("e")
      .join(approx.as("a"),
        col("e.query_id") === col("a.query_id") &&
          col("e.cand_id") === col("a.cand_id"), "left")
      .agg(
        count_distinct(col("e.query_id")).as("n_queries"),
        count(lit(1)).as("n_pairs"),
        sum(when(col("a.cand_id").isNotNull, 1L).otherwise(0L)).as("hits"))
      .select(col("n_queries"), lit(topK).as("k"),
        (col("hits").cast("double") >= lit(minRecall) * col("n_pairs").cast("double"))
          .as("recall_ok"))

  /** Corpus-wide recall@3 floor for LSH (measured 0.60–0.87 across SFs;
    * the floor keeps margin below the observed minimum). */
  private val lshMinRecall = 0.4
  /** Corpus-wide recall@3 floor for IVF, nProbe=3 of 10 partitions
    * (measured 0.27–0.53 across SFs — labels are weak clusters on this
    * noise-like corpus, so IVF's floor sits lower than LSH's). */
  private val ivfMinRecall = 0.2

  /** Graded rendering of [[lshTopK]]: corpus-wide recall-vs-brute bound. */
  def lshRecallCheck(s: SparkSession, d: String): DataFrame =
    recallCheck(bruteForceTopK(s, d), lshTopK(s, d), lshMinRecall)

  /** Graded rendering of [[ivfTopK]]: corpus-wide recall-vs-brute bound. */
  def ivfRecallCheck(s: SparkSession, d: String): DataFrame =
    recallCheck(bruteForceTopK(s, d), ivfTopK(s, d), ivfMinRecall)

  val recallCheckSql: String =
    s"""SELECT CAST(count(DISTINCT vec_id) AS BIGINT) AS n_queries,
       |  $topK AS k, TRUE AS recall_ok
       |FROM embeddings WHERE vec_id < $nQueries""".stripMargin

  /** Per-vector scalar math over the embedding column — the vector-ops
    * surface (norms, component extrema) as a pure projection: no shuffle,
    * scan-speed at any scale, arrays never leave the executor. Every
    * element is cast to double BEFORE summing in both engines so the
    * accumulation is double-precision and index-ordered — float32
    * accumulation differs engine-to-engine (the list_cosine_similarity
    * lesson); rounding to 4 guards the final representation. */
  def vectorNorms(s: SparkSession, d: String): DataFrame = {
    val e = col("embedding")
    Tables.embeddings(s, d)
      .select(col("vec_id"), col("label"),
        size(e).as("n_dims"),
        round(sqrt(aggregate(e, lit(0.0d),
          (acc, x) => acc + x.cast("double") * x.cast("double"))), 4).as("l2_norm"),
        round(array_max(transform(e, x => abs(x.cast("double")))), 4).as("max_abs"),
        // the mean of a near-zero vector rounds to ±0.0 and the two
        // engines disagree on the SIGN of that zero (the q_cov_matrix
        // signed-zero lesson) — pin it on both sides
        zeroSafe(round(aggregate(e, lit(0.0d), (acc, x) => acc + x.cast("double")) /
          size(e), 4)).as("mean_v"))
  }

  /** Pin IEEE -0.0 to +0.0: rounded near-zero floats otherwise render
    * (and hash) differently across engines. */
  private def zeroSafe(c: org.apache.spark.sql.Column) =
    when(c === 0d, lit(0d)).otherwise(c)

  /** Per-label centroids, each dimension's mean rounded to 4 places:
    * `c_label`, `centroid` (dimension-ordered doubles). */
  private def roundedCentroids(emb: DataFrame): DataFrame =
    emb
      .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "v")))
      .groupBy("label", "dim").agg(round(avg(col("v").cast("double")), 4).as("cv"))
      .groupBy("label")
      .agg(array_sort(collect_list(struct(col("dim"), col("cv")))).as("dcv"))
      .select(col("label").as("c_label"),
        expr("transform(dcv, x -> x.cv)").as("centroid"))

  /** Euclidean distance from `embedding` to `centroid`, rounded to 4. */
  private def centroidDist: Column =
    round(sqrt(aggregate(
      zip_with(col("embedding"), col("centroid"),
        (x, c) => (x.cast("double") - c) * (x.cast("double") - c)),
      lit(0.0d), (acc, v) => acc + v)), 4)

  /** SIMPLIFIED SILHOUETTE per label — the clustering-quality audit run
    * before trusting semantic-dedup/cluster assignments: for each
    * vector, a = distance to its OWN label centroid, b = distance to
    * the NEAREST other centroid, s = (b − a)/max(a, b); report the mean
    * s and the fraction with s > 0 ("correctly placed") per label.
    * Simplified (centroid-based) rather than full silhouette because
    * full silhouette is all-pairs O(n²) — the centroid form is the
    * production variant at any scale: centroids are O(labels × dim)
    * and BROADCAST; the audit is one scan of the vectors.
    *
    * Portability: centroids are the ROUNDED [[labelCentroids]] values
    * (4 dp) assembled dim-ordered, distances accumulate in double over
    * explicit element indexing, each distance rounds 4 before the
    * comparison/ratio, s rounds 4, the per-label mean rounds 4 — every
    * comparison sees identical doubles in both engines (the knn_brute
    * discipline, applied to L2). */
  def silhouette(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val cents = roundedCentroids(emb)
    val scored = emb.select(col("vec_id"), col("label"), col("embedding"))
      .crossJoin(broadcast(cents))
      .select(col("vec_id"), col("label"), col("c_label"), centroidDist.as("dist"))
    val a = scored.filter(col("label") === col("c_label"))
      .select(col("vec_id"), col("label"), col("dist").as("a"))
    val b = scored.filter(col("label") =!= col("c_label"))
      .groupBy("vec_id").agg(min(col("dist")).as("b"))
    a.join(b, Seq("vec_id"))
      .select(col("vec_id"), col("label"),
        // a = b = 0 (vector equals both centroids) would divide by zero
        // under ANSI; the silhouette of such a point is 0 by definition
        when(greatest(col("a"), col("b")) === 0d, lit(0.0))
          .otherwise(round((col("b") - col("a")) / greatest(col("a"), col("b")), 4))
          .as("sil"))
      .groupBy("label")
      .agg(count(lit(1)).as("n_vectors"),
        round(avg(col("sil")), 4).as("mean_silhouette"),
        sum(when(col("sil") > 0, 1L).otherwise(0L)).as("n_well_placed"))
      .orderBy("label")
  }

  val silhouetteSql: String =
    """WITH cent AS (
      |  SELECT label AS c_label, u.i AS dim,
      |    round(avg(CAST(embedding[u.i] AS DOUBLE)), 4) AS cv
      |  FROM embeddings, (SELECT unnest(generate_series(1,
      |    (SELECT len(embedding) FROM embeddings LIMIT 1))) AS i) u
      |  GROUP BY 1, 2),
      |cvec AS (
      |  SELECT c_label, list(cv ORDER BY dim) AS centroid
      |  FROM cent GROUP BY c_label),
      |scored AS (
      |  SELECT e.vec_id, e.label, c.c_label,
      |    round(sqrt(list_sum(list_transform(
      |      generate_series(1, len(e.embedding)),
      |      i -> (CAST(e.embedding[i] AS DOUBLE) - c.centroid[i])
      |         * (CAST(e.embedding[i] AS DOUBLE) - c.centroid[i])))), 4)
      |      AS dist
      |  FROM embeddings e CROSS JOIN cvec c),
      |ab AS (
      |  SELECT s.vec_id, s.label, s.dist AS a,
      |    (SELECT min(o.dist) FROM scored o
      |     WHERE o.vec_id = s.vec_id AND o.c_label <> s.label) AS b
      |  FROM scored s WHERE s.c_label = s.label),
      |sil AS (
      |  SELECT vec_id, label,
      |    CASE WHEN greatest(a, b) = 0 THEN 0.0
      |    ELSE round((b - a) / greatest(a, b), 4) END AS sil
      |  FROM ab)
      |SELECT label, count(*) AS n_vectors,
      |  round(avg(sil), 4) AS mean_silhouette,
      |  CAST(sum(CASE WHEN sil > 0 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_well_placed
      |FROM sil GROUP BY label ORDER BY label""".stripMargin

  /** Matryoshka truncation width (leading dims kept). */
  val mrlDim = 16
  /** Recall cutoff for the truncation audit. */
  val mrlTopK = 10

  /** MATRYOSHKA TRUNCATION AUDIT — "can we serve the 16-dim prefix?":
    * for each query vector, the top-[[mrlTopK]] neighbor sets under the
    * FULL embedding and under its [[mrlDim]]-dim PREFIX, and the
    * overlap recall. This is the go/no-go measurement for
    * MRL-style tiered serving (prefix index in RAM, full vectors on
    * disk): recall@k near 1 means the cheap prefix index can do
    * candidate generation. Same scan shape as [[bruteForceTopK]] (tiny
    * broadcast query set, one corpus pass scoring BOTH widths at once,
    * ranking shuffles only (query, cand, score) triples); ranks order
    * by (rounded cosine, cand_id) so the set comparison is
    * engine-portable (the knn_brute rounding discipline). */
  def matryoshkaRecall(s: SparkSession, d: String): DataFrame = {
    import graft.functions.GraftFunctions.cosineSim
    val emb = Tables.embeddings(s, d)
    val queries = queryVectors(emb)
    val scored = emb.select(col("vec_id").as("cand_id"), col("embedding").as("c_emb"))
      .crossJoin(broadcast(queries))
      .filter(col("query_id") =!= col("cand_id"))
      .select(col("query_id"), col("cand_id"),
        round(cosineSim(col("q_emb"), col("c_emb")), 4).as("cos_full"),
        round(cosineSim(slice(col("q_emb"), 1, mrlDim),
          slice(col("c_emb"), 1, mrlDim)), 4).as("cos_pre"))
    def topK(scoreCol: String) = {
      val w = Window.partitionBy("query_id")
        .orderBy(col(scoreCol).desc, col("cand_id").asc)
      scored.withColumn("rk", row_number().over(w))
        .filter(col("rk") <= mrlTopK)
        .select(col("query_id"), col("cand_id"))
    }
    // LEFT-join from the query set: a query whose full/prefix top-k
    // sets are DISJOINT (recall 0) must still produce a row — dropping
    // it would silently hide exactly the worst-case queries this audit
    // exists to surface
    val overlap = topK("cos_full").join(topK("cos_pre"), Seq("query_id", "cand_id"))
      .groupBy("query_id")
      .agg(count(lit(1)).as("n_overlap"))
    queries.select(col("query_id"))
      .join(overlap, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"),
        round(coalesce(col("n_overlap"), lit(0L)).cast("double")
          / mrlTopK.toDouble, 4).as("recall_at_10"))
      .orderBy("query_id")
  }

  val matryoshkaRecallSql: String =
    s"""WITH q AS (SELECT vec_id AS query_id, embedding AS q_emb
       |           FROM embeddings WHERE vec_id < $nQueries),
       |scored AS (
       |  SELECT q.query_id, c.vec_id AS cand_id,
       |    round(CAST(list_cosine_similarity(q.q_emb, c.embedding) AS DOUBLE), 4)
       |      AS cos_full,
       |    round(CAST(list_cosine_similarity(q.q_emb[1:$mrlDim],
       |      c.embedding[1:$mrlDim]) AS DOUBLE), 4) AS cos_pre
       |  FROM embeddings c, q WHERE q.query_id != c.vec_id),
       |tf AS (
       |  SELECT query_id, cand_id FROM (
       |    SELECT query_id, cand_id, row_number() OVER (
       |      PARTITION BY query_id ORDER BY cos_full DESC, cand_id) AS rk
       |    FROM scored) WHERE rk <= $mrlTopK),
       |tp AS (
       |  SELECT query_id, cand_id FROM (
       |    SELECT query_id, cand_id, row_number() OVER (
       |      PARTITION BY query_id ORDER BY cos_pre DESC, cand_id) AS rk
       |    FROM scored) WHERE rk <= $mrlTopK),
       |ov AS (
       |  SELECT tf.query_id, count(*) AS n_overlap
       |  FROM tf JOIN tp USING (query_id, cand_id)
       |  GROUP BY tf.query_id)
       |SELECT q.query_id,
       |  COALESCE(ov.n_overlap, 0) AS n_overlap,
       |  round(CAST(COALESCE(ov.n_overlap, 0) AS DOUBLE) / $mrlTopK.0, 4)
       |    AS recall_at_10
       |FROM q LEFT JOIN ov USING (query_id)
       |ORDER BY q.query_id""".stripMargin

  /** MMR relevance weight λ and its complement — BOTH pinned literals
    * (1 − 0.7 is 0.30000000000000004 in IEEE double; computing the
    * complement at runtime would diverge from the oracle's literal). */
  val mmrLambda = 0.7
  val mmrMu = 0.3
  /** Number of MMR selections. */
  val mmrK = 5

  /** MAXIMAL MARGINAL RELEVANCE selection — the diversity-aware top-k
    * used to pack a RAG context window: greedily pick
    * argmax_d [λ·sim(q, d) − (1−λ)·max_{s∈S} sim(d, s)], so each new
    * pick is relevant to the query (vec_id 0) but NOT redundant with
    * what's already selected. Plain top-k returns near-duplicates;
    * MMR's penalty term is what spends the context budget on coverage.
    *
    * Rendering: k tiny rounds. Each round is ONE corpus scan — the
    * query vector and the ≤ k−1 selected vectors are INLINED as array
    * literals into codegen'd [[graft.functions.CosineSimilarity]]
    * calls (O(k·dim) driver state, the pcaPowerCheck contract), the
    * penalty is a `greatest` over those ≤ k−1 rounded sims, and the
    * argmax is TakeOrdered(1) — no joins, no shuffles, no window.
    * Determinism: every cosine rounds to 4 (the knn_brute float32-
    * accumulation margin), the score formula uses pinned λ/μ literals,
    * ties break on vec_id. The oracle unrolls the same k rounds as
    * chained CTEs (the pageRankSql discipline). */
  def mmrSelect(s: SparkSession, d: String): DataFrame = {
    import graft.functions.GraftFunctions.cosineSim
    val emb = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
    val qVec = emb.filter(col("vec_id") === 0)
      .head().getAs[scala.collection.Seq[Float]]("embedding").toArray
    val cand = emb.filter(col("vec_id") =!= 0)
    // scores carried as Option: with a zero-norm QUERY vector every
    // cosine is NULL under the engine contract, and getAs[Double]
    // would silently unbox that NULL to 0.0 (zero-vector edge sweep)
    var picked = Vector.empty[(Long, Array[Float], Option[Double])]
    for (_ <- 1 to mmrK) {
      val simq = round(cosineSim(col("embedding"), typedLit(qVec)), 4)
      val penalty: org.apache.spark.sql.Column = picked match {
        case Vector() => lit(0.0)
        case Vector((_, e, _)) => round(cosineSim(col("embedding"), typedLit(e)), 4)
        case many => greatest(many.map { case (_, e, _) =>
          round(cosineSim(col("embedding"), typedLit(e)), 4) }: _*)
      }
      val already = picked.map(_._1)
      val row = cand
        .filter(if (already.isEmpty) lit(true) else !col("vec_id").isin(already: _*))
        .select(col("vec_id"), col("embedding"),
          round(lit(mmrLambda) * simq - lit(mmrMu) * penalty, 4).as("sc"))
        .orderBy(col("sc").desc, col("vec_id").asc)
        .limit(1).head()
      picked = picked :+ ((row.getAs[Long]("vec_id"),
        row.getAs[scala.collection.Seq[Float]]("embedding").toArray,
        if (row.isNullAt(row.fieldIndex("sc"))) None
        else Some(row.getAs[Double]("sc"))))
    }
    val s2 = s
    import s2.implicits._
    picked.zipWithIndex
      .map { case ((id, _, sc), i) => ((i + 1).toLong, id, sc) }
      .toDF("sel_round", "vec_id", "mmr_score")
  }

  val mmrSelectSql: String = {
    val rounds = (1 to mmrK).map { r =>
      val notIn =
        if (r == 1) ""
        else "WHERE vec_id NOT IN (" +
          (1 until r).map(i => s"SELECT vec_id FROM s$i").mkString(" UNION ALL ") + ")"
      val penalty =
        if (r == 1) "0"
        else "greatest(" + (1 until r).map(i =>
          s"""CASE WHEN nrm2 * (SELECT list_sum(list_transform(e,
             |  x -> CAST(x AS DOUBLE) * x)) FROM e$i) = 0 THEN NULL
             |ELSE round(CAST(list_cosine_similarity(embedding,
             |  (SELECT e FROM e$i)) AS DOUBLE), 4) END""".stripMargin)
          .mkString(", ") + ")"
      s"""s$r AS (
         |  SELECT vec_id, round($mmrLambda * simq - $mmrMu * ($penalty), 4) AS sc
         |  FROM cand $notIn
         |  ORDER BY sc DESC, vec_id LIMIT 1),
         |e$r AS (
         |  SELECT embedding AS e FROM embeddings
         |  WHERE vec_id = (SELECT vec_id FROM s$r))""".stripMargin
    }.mkString(",\n", ",\n", "")
    val out = (1 to mmrK).map(r =>
      s"SELECT $r AS sel_round, vec_id, sc AS mmr_score FROM s$r")
      .mkString("\nUNION ALL\n")
    s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
       |cand AS (
       |  SELECT vec_id, embedding,
       |    list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * x))
       |      AS nrm2,
       |    CASE WHEN list_sum(list_transform(embedding,
       |        x -> CAST(x AS DOUBLE) * x))
       |      * (SELECT list_sum(list_transform(qe,
       |        x -> CAST(x AS DOUBLE) * x)) FROM q) = 0 THEN NULL
       |    ELSE round(CAST(list_cosine_similarity(embedding,
       |      (SELECT qe FROM q)) AS DOUBLE), 4) END AS simq
       |  FROM embeddings WHERE vec_id <> 0)$rounds
       |SELECT CAST(sel_round AS BIGINT) AS sel_round, vec_id, mmr_score
       |FROM ($out) ORDER BY sel_round""".stripMargin
  }

  val vectorNormsSql: String =
    """SELECT vec_id, label,
      |  CAST(len(embedding) AS INTEGER) AS n_dims,
      |  round(sqrt(list_sum(list_transform(embedding,
      |    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 4) AS l2_norm,
      |  round(list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))), 4)
      |    AS max_abs,
      |  CASE WHEN round(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE)))
      |    / len(embedding), 4) = 0 THEN 0.0
      |  ELSE round(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE)))
      |    / len(embedding), 4) END AS mean_v
      |FROM embeddings""".stripMargin

  /** Int8 scalar-quantization audit — the memory-4× step every
    * billion-vector ANN index runs before sharding (float32 → int8 with
    * one per-vector scale). Graded through the quantizer's CONTRACT, not
    * an array dump (array columns are ungradeable by the harness
    * compare): exact integer checksums of the quantized codes (sum and
    * L1), the per-vector scale, and the worst normalized rounding
    * distance, which the round-half-up rule bounds by 0.5.
    *
    * Portability: floats widen to double exactly; every derived value is
    * the same IEEE double expression on both engines (`floor(x·127/s +
    * 0.5)` — floor, not `round`, so no engine rounding-convention
    * divergence); code sums are exact integer arithmetic. Scale shape: a
    * pure projection — no shuffle at all, embarrassingly parallel at any
    * corpus size. */
  def quantizeAudit(s: SparkSession, d: String): DataFrame = {
    val e = col("embedding")
    Tables.embeddings(s, d)
      .select(col("vec_id"), col("label"), e.as("emb"),
        array_max(transform(e, x => abs(x.cast("double")))).as("scale"))
      .select(col("vec_id"), col("label"), col("scale"),
        transform(col("emb"), x =>
          when(col("scale") > 0d,
            floor(x.cast("double") * 127.0d / col("scale") + 0.5d).cast("long"))
            .otherwise(lit(0L))).as("q"),
        col("emb"))
      .select(col("vec_id"), col("label"),
        round(col("scale"), 4).as("scale_r"),
        aggregate(col("q"), lit(0L), (a, x) => a + x).as("q_sum"),
        aggregate(col("q"), lit(0L), (a, x) => a + abs(x)).as("q_l1"),
        when(col("scale") > 0d,
          round(array_max(zip_with(col("emb"), col("q"), (x, qi) =>
            abs(x.cast("double") * 127.0d / col("scale") - qi.cast("double")))), 6))
          .otherwise(lit(0.0d)).as("max_round_dist"),
        (when(col("scale") > 0d,
          array_max(zip_with(col("emb"), col("q"), (x, qi) =>
            abs(x.cast("double") * 127.0d / col("scale") - qi.cast("double")))))
          .otherwise(lit(0.0d)) <= 0.5d).as("bound_ok"))
  }

  val quantizeAuditSql: String =
    """WITH scaled AS (
      |  SELECT vec_id, label, embedding,
      |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS scale
      |  FROM embeddings),
      |coded AS (
      |  SELECT vec_id, label, embedding, scale,
      |    list_transform(embedding, x -> CASE WHEN scale > 0
      |      THEN CAST(floor(CAST(x AS DOUBLE) * 127.0 / scale + 0.5) AS BIGINT)
      |      ELSE 0 END) AS q,
      |    CASE WHEN scale > 0 THEN list_max(list_transform(embedding,
      |      x -> abs(CAST(x AS DOUBLE) * 127.0 / scale
      |               - floor(CAST(x AS DOUBLE) * 127.0 / scale + 0.5))))
      |    ELSE 0.0 END AS max_dist
      |  FROM scaled)
      |SELECT vec_id, label,
      |  round(scale, 4) AS scale_r,
      |  CAST(list_sum(q) AS BIGINT) AS q_sum,
      |  CAST(list_sum(list_transform(q, x -> abs(x))) AS BIGINT) AS q_l1,
      |  round(max_dist, 6) AS max_round_dist,
      |  max_dist <= 0.5 AS bound_ok
      |FROM coded""".stripMargin

  /** Embedding covariance matrix — the sufficient statistic for PCA /
    * whitening, the standard preprocessing before IVF coarse quantization
    * and dimensionality reduction in retrieval pipelines. Emits the upper
    * triangle as (dim_i, dim_j, cov) rows: cov = E[x_i·x_j] − E[x_i]E[x_j]
    * computed from ONE pass of sufficient sums (Σx_i·x_j, Σx_i, Σx_j, n) —
    * never a centered second pass.
    *
    * Scale shape: the double posexplode expands d(d+1)/2 terms per vector,
    * but hash aggregation combines them map-side, so each partition sends
    * at most d(d+1)/2 partial rows regardless of row count — the shuffle
    * is O(partitions × d²), independent of corpus size. The result is
    * O(d²) rows (2,080 at d=64): driver-safe for the d×d eigensolve that
    * follows (O(d³) at d=64 is microseconds — the distributed part, the
    * data pass, is exactly this query). Float inputs cast to double
    * BEFORE multiplication on both engines; the final covariances round
    * 6dp (summation-order noise ~1e-15). */
  def covarianceMatrix(s: SparkSession, d: String): DataFrame = {
    val xi = col("xi")
    val xj = col("xj").cast("double")
    val n = col("n").cast("double")
    Tables.embeddings(s, d)
      .select(col("embedding"), posexplode(col("embedding")).as(Seq("dim_i", "xi_f")))
      .select(col("dim_i"), col("xi_f").cast("double").as("xi"),
        posexplode(col("embedding")).as(Seq("dim_j", "xj")))
      .filter(col("dim_j") >= col("dim_i"))
      .groupBy("dim_i", "dim_j")
      .agg(sum(xi * xj).as("s_ij"), sum(xi).as("s_i"), sum(xj).as("s_j"),
        count(lit(1)).as("n"))
      .select(col("dim_i").cast("long").as("dim_i"),
        col("dim_j").cast("long").as("dim_j"), col("n"),
        round(col("s_ij") / n - col("s_i") * col("s_j") / (n * n), 6).as("cov0"))
      // rounding a tiny negative covariance yields IEEE -0.0, which is
      // value-equal to 0.0 but renders (and hashes) as "-0.0" — pin the
      // signed zero on BOTH engines so the gate compares bit-stable text
      .select(col("dim_i"), col("dim_j"), col("n"),
        when(col("cov0") === 0d, lit(0d)).otherwise(col("cov0")).as("cov"))
      .orderBy("dim_i", "dim_j")
  }

  val covarianceMatrixSql: String =
    """WITH idx AS (
      |  SELECT unnest(generate_series(1,
      |    (SELECT len(embedding) FROM embeddings LIMIT 1))) AS i),
      |sums AS (
      |  SELECT i.i - 1 AS dim_i, j.i - 1 AS dim_j,
      |    sum(CAST(embedding[i.i] AS DOUBLE) * CAST(embedding[j.i] AS DOUBLE)) AS s_ij,
      |    sum(CAST(embedding[i.i] AS DOUBLE)) AS s_i,
      |    sum(CAST(embedding[j.i] AS DOUBLE)) AS s_j,
      |    count(*) AS n
      |  FROM embeddings, idx i, idx j WHERE j.i >= i.i
      |  GROUP BY 1, 2)
      |,rounded AS (
      |  SELECT dim_i, dim_j, n,
      |    round(s_ij / n - s_i * s_j / (CAST(n AS DOUBLE) * n), 6) AS cov0
      |  FROM sums)
      |SELECT dim_i, dim_j, n,
      |  CASE WHEN cov0 = 0 THEN 0.0 ELSE cov0 END AS cov
      |FROM rounded ORDER BY dim_i, dim_j""".stripMargin

  /** Top-principal-component extraction, graded through its contract —
    * the second half of the PCA/whitening story whose data pass is
    * [[covarianceMatrix]]: collect the O(d²) ROUNDED covariance (the
    * documented driver-side eigensolve — the 64×64 algebra is
    * microseconds; the distributed work is the covariance pass and the
    * projection below), run deterministic power iteration (fixed start
    * 1/√d, fixed 1000 steps — enough for eigen-gap ratios up to ~0.99 —
    * no RNG), then verify DISTRIBUTED-vs-LOCAL
    * consistency: the population variance of the corpus projected onto
    * v₁ — computed by the engine over the full table — must equal the
    * eigenvalue v₁ᵀΣv₁ the driver derived from the collected matrix.
    * That cross-check is the graded contract (constants-oracled like the
    * ANN recall checks); the projection reuses the codegen'd DotProduct
    * with the eigenvector as a broadcast literal. */
  def pcaPowerCheck(s: SparkSession, d: String): DataFrame = {
    import graft.functions.GraftFunctions.dotProduct
    val cov = covarianceMatrix(s, d).collect()
    val dim = cov.map(_.getAs[Long]("dim_j")).max.toInt + 1
    val a = Array.ofDim[Double](dim, dim)
    cov.foreach { r =>
      val (i, j) = (r.getAs[Long]("dim_i").toInt, r.getAs[Long]("dim_j").toInt)
      a(i)(j) = r.getAs[Double]("cov"); a(j)(i) = r.getAs[Double]("cov")
    }
    def matvec(v: Array[Double]): Array[Double] =
      Array.tabulate(dim)(i => (0 until dim).map(j => a(i)(j) * v(j)).sum)
    var v = Array.fill(dim)(1.0 / math.sqrt(dim))
    for (_ <- 1 to 1000) {
      val av = matvec(v)
      val n = math.sqrt(av.map(x => x * x).sum)
      v = av.map(_ / n)
    }
    val av = matvec(v)
    val lambda = v.zip(av).map { case (x, y) => x * y }.sum
    val resid = math.sqrt(av.zip(v).map { case (x, y) =>
      val r = x - lambda * y; r * r
    }.sum)
    val converged = resid <= 1e-4 * math.max(lambda, 1e-12)
    Tables.embeddings(s, d)
      .select(dotProduct(col("embedding"), typedLit(v.map(_.toFloat))).as("score"))
      .agg(var_pop(col("score")).as("pvar"))
      .select(lit(dim).as("dim"),
        lit(converged).as("power_converged"),
        (abs(col("pvar") - lit(lambda)) <= lit(0.01) * lit(lambda))
          .as("var_matches"))
  }

  val pcaPowerCheckSql: String =
    """SELECT CAST((SELECT len(embedding) FROM embeddings LIMIT 1) AS INTEGER)
      |    AS dim,
      |  TRUE AS power_converged, TRUE AS var_matches""".stripMargin

  /** k for [[kmeansCheck]]. */
  val kmeansK = 8
  /** Lloyd iterations for [[kmeansCheck]]. */
  val kmeansIters = 3

  /** Distributed Lloyd's k-means over the embedding corpus, graded
    * through its convergence contract (the q_sketches policy: float-sum
    * centroids aren't oracle-portable, the guarantee is).
    *
    * The canonical distributed k-means shape: centroids are O(k·dim) —
    * they live on the driver and ship to executors INSIDE the assignment
    * expression each iteration (k=8 × 64 floats as literals; at real k
    * this is a broadcast variable — either way never a shuffle of the
    * corpus). Per iteration: one codegen'd pass computes each vector's
    * nearest centroid via an `array_min` over (distance, index) structs
    * — lexicographic struct ordering gives the deterministic lowest-index
    * tie-break — then one posexplode+groupBy aggregate re-averages
    * centroids per (cluster, dim). Facts are scanned once per iteration
    * and shuffle only as (cluster, dim, partial-sum) rows: O(k·dim)
    * groups regardless of corpus size. An emptied cluster keeps its old
    * centroid (the standard guard).
    *
    * Lloyd's invariant — assignment cost is non-increasing across
    * iterations — is checked on the actual inertia sequence, plus strict
    * improvement over the (data-point) initialization. */
  def kmeansCheck(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
    var centroids: Array[Array[Float]] = emb.orderBy("vec_id").limit(kmeansK)
      .collect().map(_.getSeq[Float](1).toArray)
    val inertias = scala.collection.mutable.ArrayBuffer.empty[Double]
    for (it <- 1 to kmeansIters) {
      val dists = array(centroids.indices.map { j =>
        struct(
          aggregate(
            zip_with(col("embedding"), lit(centroids(j)), (x, y) => {
              val diff = x.cast("double") - y.cast("double"); diff * diff
            }),
            lit(0.0), (acc, v) => acc + v).as("d"),
          lit(j).as("j"))
      }: _*)
      val assigned = emb.select(col("vec_id"), col("embedding"),
        array_min(dists).as("m"))
      inertias += assigned.agg(sum(col("m.d"))).head().getDouble(0)
      if (it < kmeansIters) {
        val next = assigned
          .select(col("m.j").as("cl"),
            posexplode(col("embedding")).as(Seq("dim", "v")))
          .groupBy("cl", "dim")
          .agg(avg(col("v").cast("double")).as("cv"))
          .collect()
          .groupBy(_.getAs[Int]("cl"))
          .map { case (cl, rows) =>
            cl -> rows.sortBy(_.getAs[Int]("dim"))
              .map(_.getAs[Double]("cv").toFloat)
          }
        centroids = centroids.indices
          .map(j => next.getOrElse(j, centroids(j))).toArray
      }
    }
    val monotone = inertias.toSeq.sliding(2).forall {
      case Seq(a, b) => b <= a * (1 + 1e-12)
      case _ => true
    }
    val improved = inertias.last < inertias.head
    Tables.embeddings(s, d).agg(count(lit(1)).as("n_points"))
      .select(col("n_points"),
        lit(kmeansK).as("k"),
        lit(kmeansIters).as("n_iterations"),
        lit(monotone).as("inertia_monotone"),
        lit(improved).as("inertia_improved"))
  }

  val kmeansCheckSql: String =
    s"""SELECT count(*) AS n_points, $kmeansK AS k,
       |  $kmeansIters AS n_iterations,
       |  TRUE AS inertia_monotone, TRUE AS inertia_improved
       |FROM embeddings""".stripMargin

  /** PQ: number of subspaces the vector splits into. */
  val pqSubspaces = 8
  /** PQ: codewords per subspace (4-bit codes). */
  val pqCodewords = 16
  /** PQ: Lloyd iterations per subspace codebook. */
  private val pqIters = 2

  /** PRODUCT QUANTIZATION audit — the embedding-compression step behind
    * billion-vector ANN (IVF-PQ): each vector splits into
    * [[pqSubspaces]] subvectors, each subvector quantizes to its
    * subspace's nearest of [[pqCodewords]] codewords, so a
    * 64-dim float vector (256 bytes) becomes 8 four-bit codes
    * (4 bytes, 64×). Codebooks are trained with the same deterministic
    * Lloyd loop as [[kmeansCheck]], but ALL subspaces train in one
    * DataFrame pass per iteration: vectors explode to (vec, subspace,
    * subvector) rows, assignment is a broadcast join against the
    * (subspace, code, codeword) table — O(k·m·dim) driver state, facts
    * shuffle only as (subspace, code, dim, partial-sum) rows.
    *
    * Graded contract (q_sketches policy — centroid floats aren't
    * oracle-portable): per-subspace Lloyd inertia is non-increasing,
    * training improved on the init, and the final reconstruction MSE
    * beats the 1-codeword baseline (quantizing every subvector to the
    * subspace mean) — the "did the codebook learn anything" bound. */
  def pqAudit(s: SparkSession, d: String): DataFrame = {
    val dim = 64
    val subDim = dim / pqSubspaces
    val emb = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
    // pinned once (r15): the exploded subvector frame is re-consumed by
    // every Lloyd iteration's assignment pass AND the mean-MSE baseline
    // (4 scans at pqIters=2) — each previously re-reading the parquet
    // and re-exploding. O(n·m) narrow rows, the loop-invariant-
    // materialization discipline of the graph/dbscan loops.
    val stacked = emb.select(col("vec_id"),
      explode(array((0 until pqSubspaces).map(m =>
        struct(lit(m).as("m"),
          slice(col("embedding"), m * subDim + 1, subDim).as("sub"))): _*))
        .as("x"))
      .select(col("vec_id"), col("x.m").as("m"), col("x.sub").as("sub"))
      .pin()
    // init: subvectors of the pqCodewords lowest vec_ids, per subspace
    var codebooks: Map[Int, Array[Array[Float]]] = {
      val init = emb.orderBy("vec_id").limit(pqCodewords).collect()
        .map(_.getSeq[Float](1).toArray)
      (0 until pqSubspaces).map(m =>
        m -> init.map(v => v.slice(m * subDim, (m + 1) * subDim))).toMap
    }
    def centsDf = {
      import scala.jdk.CollectionConverters._
      val rows = codebooks.toSeq.flatMap { case (m, cb) =>
        cb.zipWithIndex.map { case (c, j) =>
          org.apache.spark.sql.Row(m, j, c.toSeq) }
      }
      s.createDataFrame(rows.asJava, org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("m",
          org.apache.spark.sql.types.IntegerType),
        org.apache.spark.sql.types.StructField("code",
          org.apache.spark.sql.types.IntegerType),
        org.apache.spark.sql.types.StructField("cw",
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.FloatType)))))
    }
    def assigned = {
      val d2 = aggregate(
        zip_with(col("sub"), col("cw"), (x, y) => {
          val diff = x.cast("double") - y.cast("double"); diff * diff
        }), lit(0.0), (acc, v) => acc + v)
      stacked.join(broadcast(centsDf), Seq("m"))
        .select(col("vec_id"), col("m"), col("sub"),
          struct(d2.as("d"), col("code").as("code")).as("dc"))
        .groupBy("vec_id", "m")
        .agg(min(col("dc")).as("best"), first(col("sub")).as("sub"))
    }
    val inertias = scala.collection.mutable.ArrayBuffer.empty[Double]
    for (it <- 1 to pqIters) {
      val a = assigned
      inertias += a.agg(sum(col("best.d"))).head().getDouble(0)
      if (it < pqIters) {
        val next = a
          .select(col("m"), col("best.code").as("code"),
            posexplode(col("sub")).as(Seq("sdim", "v")))
          .groupBy("m", "code", "sdim")
          .agg(avg(col("v").cast("double")).as("cv"))
          .collect()
          .groupBy(r => (r.getAs[Int]("m"), r.getAs[Int]("code")))
          .map { case (k, rs) => k ->
            rs.sortBy(_.getAs[Int]("sdim")).map(_.getAs[Double]("cv").toFloat) }
        codebooks = codebooks.map { case (m, cb) =>
          m -> cb.indices.map(j =>
            next.getOrElse((m, j), cb(j))).toArray
        }
      }
    }
    // 1-codeword baseline: quantize every subvector to its subspace mean
    val meanMse = stacked
      .select(col("m"), posexplode(col("sub")).as(Seq("sdim", "v")))
      .groupBy("m", "sdim")
      .agg(var_pop(col("v").cast("double")).as("varv"))
      .agg(sum(col("varv"))).head().getDouble(0)
    val nPoints = emb.count()
    val pqMse = inertias.last / nPoints
    val monotone = inertias.toSeq.sliding(2).forall {
      case Seq(x, y) => y <= x * (1 + 1e-12)
      case _ => true
    }
    Tables.embeddings(s, d).agg(count(lit(1)).as("n_points"))
      .select(col("n_points"),
        lit(pqSubspaces).as("n_subspaces"),
        lit(pqCodewords).as("n_codewords"),
        lit(dim * 4).as("bytes_raw"),
        lit(pqSubspaces / 2).as("bytes_coded"),
        lit(monotone).as("inertia_monotone"),
        lit(inertias.last < inertias.head).as("inertia_improved"),
        lit(pqMse < meanMse).as("beats_mean_baseline"))
  }

  val pqAuditSql: String =
    s"""SELECT count(*) AS n_points, $pqSubspaces AS n_subspaces,
       |  $pqCodewords AS n_codewords, 256 AS bytes_raw, 4 AS bytes_coded,
       |  TRUE AS inertia_monotone, TRUE AS inertia_improved,
       |  TRUE AS beats_mean_baseline
       |FROM embeddings""".stripMargin

  // ---- DuckDB oracle SQL ----------------------------------------------

  // the CASE mirrors the engine's null-on-zero-norm cosine contract:
  // DuckDB's list_cosine_similarity returns -1.0 for a zero vector,
  // which would rank unembeddable vectors as real (anti-)neighbors
  // (zero-vector edge sweep); NULL cosines sort last under DESC on
  // both engines
  val bruteForceTopKSql: String =
    s"""WITH q AS (SELECT vec_id AS query_id, embedding AS q_emb
       |           FROM embeddings WHERE vec_id < $nQueries),
       |scored AS (
       |  SELECT q.query_id, c.vec_id AS cand_id,
       |    CASE WHEN list_sum(list_transform(q.q_emb,
       |        x -> CAST(x AS DOUBLE) * x))
       |      * list_sum(list_transform(c.embedding,
       |        x -> CAST(x AS DOUBLE) * x)) = 0 THEN NULL
       |    ELSE round(CAST(list_cosine_similarity(q.q_emb, c.embedding)
       |      AS DOUBLE), 4) END AS cosine
       |  FROM embeddings c, q WHERE q.query_id != c.vec_id),
       |ranked AS (
       |  SELECT query_id, cand_id, cosine, row_number() OVER (
       |    PARTITION BY query_id ORDER BY cosine DESC, cand_id ASC) AS rank
       |  FROM scored)
       |SELECT query_id, rank, cand_id, cosine FROM ranked WHERE rank <= $topK""".stripMargin

  val labelCentroidsSql: String =
    """WITH cent AS (
      |  SELECT label, u.i - 1 AS dim,
      |    round(avg(CAST(embedding[u.i] AS DOUBLE)), 4) AS c0,
      |    count(*) AS n_vectors
      |  FROM embeddings, (SELECT unnest(generate_series(1,
      |    (SELECT len(embedding) FROM embeddings LIMIT 1))) AS i) u
      |  GROUP BY 1, 2)
      |SELECT label, dim,
      |  CASE WHEN c0 = 0 THEN 0.0 ELSE c0 END AS centroid_v,
      |  n_vectors
      |FROM cent""".stripMargin

  /** DBSCAN cosine threshold (eps-neighborhood = cosine ≥ this) —
    * 0.35 on this corpus yields real structure (37 clusters at sf0.01);
    * 0.3 merges everything into one giant component. */
  val dbscanEps = 0.35
  /** DBSCAN core threshold: a point is core when its eps-neighborhood
    * (including itself) holds at least this many points. */
  val dbscanMinPts = 3

  /** The clustering step both DBSCAN forms share, over the symmetric
    * eps-graph `sym` (src, dst). Core points (x) are the vertices with
    * degree ≥ minPts−1; each core's label is the MIN core id of its
    * connected component in the core-core subgraph, propagated round by
    * round (the [[graft.dedup.Dedup.dedupClusters]] loop, each round
    * pinned) and required to converge within 16 rounds — `name` heads
    * the error when it does not. Returns the core points, the core-core
    * edges and the (x, label) frame.
    *
    * The core-core edges are pinned AND hash-partitioned on the
    * round-join key ONCE: the loop used to re-derive them from `sym`
    * with two joins inside EVERY round's plan (the per-round waste the
    * label-prop/sssp partitioning-reuse attacks deleted elsewhere — pin
    * preserves outputPartitioning, so each round's dst-join reuses this
    * exchange and only the O(core) label frame shuffles). Measured
    * NEUTRAL at sf0.1 (iso best-of-5 5.30 → 5.32 s, PERF.md round 12):
    * the exact form's bill is the all-pairs cosine verifier stage, not
    * the loop — kept on the loop-invariant-materialization argument (at
    * a core set that no longer fits a few partitions, re-deriving two
    * joins per round is real per-round shuffle work). */
  private def dbscanCores(sym: DataFrame, name: String)
      : (DataFrame, DataFrame, DataFrame) = {
    val core = sym.groupBy(col("src")).agg(count(lit(1)).as("nn"))
      .filter(col("nn") >= dbscanMinPts - 1)
      .select(col("src").as("x"))
      .pin()
    val coreEdges = sym
      .join(core.select(col("x").as("src")), Seq("src"))
      .join(core.select(col("x").as("dst")), Seq("dst"))
      .select(col("src"), col("dst"))
      .repartition(col("dst"))
      .pin()
    var labels = core.select(col("x"), col("x").as("label")).pin()
    var converged = false
    var iter = 0
    while (!converged && iter < 16) {
      val nbrMin = coreEdges
        .join(labels.select(col("x").as("dst"), col("label").as("dl")), Seq("dst"))
        .groupBy(col("src").as("x"))
        .agg(min(col("dl")).as("nl"))
      val next = labels.join(nbrMin, Seq("x"), "left")
        .select(col("x"),
          least(col("label"), coalesce(col("nl"), col("label"))).as("label"),
          (coalesce(col("nl"), col("label")) < col("label")).as("changed"))
        .pin()
      converged = next.filter(col("changed")).isEmpty
      labels = next.select(col("x"), col("label"))
      iter += 1
    }
    require(converged,
      s"$name core-label propagation did not converge in $iter rounds")
    (core, coreEdges, labels)
  }

  /** DBSCAN density clustering over the embedding space — per-cluster
    * (n_core, n_border) census. Semantics are the textbook ones made
    * DETERMINISTIC: core points are eps-graph vertices with degree ≥
    * minPts−1; clusters are connected components of the core-core
    * subgraph labeled by MIN core id (propagated with the
    * [[graft.dedup.Dedup.dedupClusters]] loop — localCheckpoint per
    * round, loud non-convergence); border points attach to the MINIMUM
    * neighboring core's cluster (classic DBSCAN leaves border
    * assignment scan-order-dependent — min-attach removes the
    * nondeterminism so the result is hash-gradeable); everything else
    * is noise (derivable: corpus − core − border).
    *
    * The eps-graph here is the documented bounded all-pairs verifier
    * (the [[graft.dedup.Dedup.embeddingNearDup]] class); at 100 TB the
    * pair stage swaps for the LSH-blocked candidate path
    * ([[graft.dedup.Dedup.embeddingNearDupBlocked]]) with identical
    * downstream clustering. Oracle: exact pair join + recursive-CTE
    * min-label reachability (the q_bfs oracle class). */
  def dbscanEmbeddings(s: SparkSession, d: String): DataFrame = {
    import graft.functions.GraftFunctions.{dotProduct, l2Norm}
    val e = Tables.embeddings(s, d)
    val a = e.select(col("vec_id").as("va"), col("embedding").as("ea"),
      l2Norm(col("embedding")).as("na"))
    val b = e.select(col("vec_id").as("vb"), col("embedding").as("eb"),
      l2Norm(col("embedding")).as("nb"))
    // score each unordered pair ONCE (va < vb), mirror afterwards —
    // halves the dominant all-pairs stage vs a <> join
    val half = a.join(b, col("va") < col("vb"))
      .filter(round(dotProduct(col("ea"), col("eb")) /
        (col("na") * col("nb")), 4) >= dbscanEps)
      .select(col("va"), col("vb"))
    val sym = half.select(col("va").as("src"), col("vb").as("dst"))
      .unionAll(half.select(col("vb").as("src"), col("va").as("dst")))
      .pin()
    val (core, _, labels) = dbscanCores(sym, "DBSCAN")
    val border = sym
      .join(labels.select(col("x").as("dst"), col("label")), Seq("dst"))
      .join(core.select(col("x").as("src")), Seq("src"), "left_anti")
      .groupBy(col("src"))
      .agg(min(col("label")).as("label"))
    val coreCensus = labels.groupBy("label")
      .agg(count(lit(1)).as("n_core"))
    val borderCensus = border.groupBy("label")
      .agg(count(lit(1)).as("n_border"))
    coreCensus.join(borderCensus, Seq("label"), "left")
      .select(col("label").as("cluster_id"), col("n_core"),
        coalesce(col("n_border"), lit(0L)).as("n_border"))
  }

  /** Deterministic sample anchor for the blocked-path contracts: rows
    * with `vec_id < blockedSampleCap`. CONSTANT-sized at any corpus
    * scale (the strided scale-sweep replication keeps replica 0's id
    * range), so the exact verification the contract needs — all-pairs
    * within the sample, sample×corpus neighbor counts — costs O(cap²)
    * resp. O(cap·n), never O(n²). VERDICT r14 #3's "deterministic
    * capped sample of true pairs". */
  val blockedSampleCap = 200

  /** Core-detection recall floor asserted by [[dbscanEmbeddingsBlocked]]
    * on the exact sample cores (pair recall ≥ [[graft.dedup.Dedup
    * .blockedMinRecall]] compounds through the ≥ minPts−1 neighbor
    * count; measured 1.0 at sf0.001/0.01/0.1 — floor kept loose for
    * the same headroom discipline as the sketch bounds). */
  val dbscanCoreRecallFloor = 0.5

  /** PRODUCTION DBSCAN (VERDICT r14 #3): density clustering over the
    * BLOCKED ε-graph ([[blockedScoredPairs]] filtered at [[dbscanEps]])
    * instead of the exact all-pairs graph — the graded form now runs
    * the path a 100 TB corpus would run (adaptive-granularity LSH
    * candidates, linear×log volume), and the exact O(n²) form
    * ([[dbscanEmbeddings]]) moves to spec-level verification at sf0.01
    * (DbscanBlockedSpec). Graded contract, one row:
    *  - `n_sample`, `n_core_sample` — EXACT, oracle-computable: sample
    *    rows (vec_id < [[blockedSampleCap]]) whose exact ε-neighbor
    *    count over the FULL corpus reaches minPts−1; computed with a
    *    broadcast of the sample against the corpus (O(cap·n), linear).
    *  - `core_recall_ok` — the blocked graph's core set covers
    *    ≥ [[dbscanCoreRecallFloor]] of the exact sample cores
    *    (deterministic: md5-derived hyperplanes); NULL when the sample
    *    has no exact cores (nothing to grade — the sketch-floor
    *    discipline).
    *  - `fixpoint_ok` — the converged labels are a true fixpoint of
    *    min-label propagation on the blocked core graph: every core's
    *    label ≤ min of its neighbors' labels (TRUE on an empty core
    *    set: vacuously at fixpoint, a genuine statement rather than an
    *    ungraded band).
    * Cluster-census equality vs the exact graph is pinned in the spec,
    * not here — with recall < 1 the blocked clustering is a DIFFERENT
    * (documented) operator, and hash-grading it against exact DBSCAN
    * would assert a false identity. */
  def dbscanEmbeddingsBlocked(s: SparkSession, d: String): DataFrame = {
    import graft.functions.GraftFunctions.{dotProduct, l2Norm}
    val e = Tables.embeddings(s, d)
    val cap = blockedSampleCap
    val pairs = blockedScoredPairs(s, d).filter(col("cosine") >= dbscanEps)
      .select(col("vec_a"), col("vec_b"))
    val sym = pairs.select(col("vec_a").as("src"), col("vec_b").as("dst"))
      .unionAll(pairs.select(col("vec_b").as("src"), col("vec_a").as("dst")))
      .pin()
    val (core, coreEdges, labels) = dbscanCores(sym, "blocked DBSCAN")
    // exact sample stage: O(cap · n) broadcast scan, the linear anchor
    val sampleQ = e.filter(col("vec_id") < cap)
      .select(col("vec_id").as("sa"), col("embedding").as("sea"),
        l2Norm(col("embedding")).as("sna"))
    val corpus = e.select(col("vec_id").as("sb"), col("embedding").as("seb"),
      l2Norm(col("embedding")).as("snb"))
    val exactCore = corpus.join(broadcast(sampleQ), col("sa") =!= col("sb"))
      .filter(round(dotProduct(col("sea"), col("seb")) /
        (col("sna") * col("snb")), 4) >= dbscanEps)
      .groupBy(col("sa")).agg(count(lit(1)).as("enn"))
      .filter(col("enn") >= dbscanMinPts - 1)
      .select(col("sa"))
    val nSample = e.filter(col("vec_id") < cap).agg(count(lit(1)).as("n_sample"))
    val recallAgg = exactCore
      .join(core.filter(col("x") < cap)
        .select(col("x").as("sa"), lit(1L).as("hit")), Seq("sa"), "left")
      .agg(count(lit(1)).as("n_core_sample"),
        sum(coalesce(col("hit"), lit(0L))).as("found"))
    val fx = coreEdges
      .join(labels.select(col("x").as("dst"), col("label").as("dl")), Seq("dst"))
      .groupBy(col("src")).agg(min(col("dl")).as("nl"))
    val fixAgg = labels
      .join(fx.select(col("src").as("x"), col("nl")), Seq("x"), "left")
      .agg(min(col("label") <= coalesce(col("nl"), col("label"))).as("fix"))
    nSample.crossJoin(broadcast(recallAgg)).crossJoin(broadcast(fixAgg))
      .select(col("n_sample"), col("n_core_sample"),
        when(col("n_core_sample") > 0,
          col("found").cast("double") >=
            lit(dbscanCoreRecallFloor) * col("n_core_sample").cast("double"))
          .as("core_recall_ok"),
        coalesce(col("fix"), lit(true)).as("fixpoint_ok"))
  }

  val dbscanEmbeddingsBlockedSql: String =
    s"""WITH sc AS (
       |  SELECT a.vec_id AS sa, count(*) AS nn
       |  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
       |  WHERE a.vec_id < $blockedSampleCap
       |    AND round(CAST(list_cosine_similarity(a.embedding, b.embedding)
       |      AS DOUBLE), 4) >= $dbscanEps
       |  GROUP BY a.vec_id),
       |core AS (SELECT sa FROM sc WHERE nn >= ${dbscanMinPts - 1})
       |SELECT
       |  (SELECT CAST(count(*) AS BIGINT) FROM embeddings
       |   WHERE vec_id < $blockedSampleCap) AS n_sample,
       |  (SELECT CAST(count(*) AS BIGINT) FROM core) AS n_core_sample,
       |  CASE WHEN (SELECT count(*) FROM core) > 0 THEN TRUE
       |    END AS core_recall_ok,
       |  TRUE AS fixpoint_ok""".stripMargin

  /** BITEXT MARGIN MINING — the margin-based parallel-pair scorer behind
    * large-scale translation-corpus mining (the LASER/CCMatrix recipe):
    * for each query vector on side A, its best side-B neighbor is scored
    * not by raw cosine (which a margin-less miner would use and which
    * drowns in hubness) but by the RATIO margin
    * 2k·cos(x,y) / (Σ_{z∈NNk_B(x)} cos(x,z) + Σ_{w∈NNk_A(y)} cos(y,w)),
    * k = 4 — cosine normalized by the average similarity of each
    * endpoint's own neighborhood. A pair is ACCEPTED when the margin
    * clears the mining threshold (1.06, the published CCMatrix operating
    * point) AND the pair is a mutual nearest neighbor.
    *
    * Side split is vec_id parity (the harness corpus is monolingual; the
    * PLUMBING — two-sided kNN, denominators, mutuality, thresholding —
    * is the operator). Query set capped like [[bruteForceTopK]]'s: this
    * is the broadcast verifier rendering; the scale path buckets each
    * side with [[lshTopK]]'s tables first and mines per bucket.
    *
    * Determinism: cosines quantize to exact integer THOUSANDTHS
    * (`round(cos·1000)` — coarser than knn_brute's 4dp, shrinking the
    * float32-vs-double straddle window of the DuckDB oracle's
    * `list_cosine_similarity` by 10×); ranking, top-4 sums, mutuality
    * and the margin all flow from those exact ints (id tie-breaks), so
    * the margin is one double division of exact integers and the 1.06
    * compare sees bit-identical doubles on both engines. */
  val bitextK = 4
  val bitextQueryCap = 16

  def bitextMining(s: SparkSession, d: String): DataFrame = {
    // zero-norm vectors excluded — see [[lofOutliers]]
    val emb = Tables.embeddings(s, d)
      .filter(graft.functions.GraftFunctions.l2Norm(col("embedding")) > 0)
    def milli(a: Column, b: Column): Column =
      round(cosineSim(a, b) * 1000, 0).cast("long")
    val qs = emb.filter(col("vec_id") % 2 === 0 && col("vec_id") < bitextQueryCap)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    val bSide = emb.filter(col("vec_id") % 2 === 1)
      .select(col("vec_id").as("cand_id"), col("embedding").as("c_emb"))
    val wF = Window.partitionBy("query_id")
      .orderBy(col("c3").desc, col("cand_id").asc)
    val fAgg = bSide.crossJoin(broadcast(qs))
      .select(col("query_id"), col("cand_id"),
        milli(col("q_emb"), col("c_emb")).as("c3"))
      .withColumn("rk", row_number().over(wF))
      .filter(col("rk") <= bitextK)
      .groupBy("query_id")
      .agg(max(when(col("rk") === 1, col("cand_id"))).as("cand_id"),
        max(when(col("rk") === 1, col("c3"))).as("c3"),
        sum(col("c3")).as("denom_f"))
      .pin()
    val rq = fAgg.select(col("cand_id")).distinct()
      .join(emb, col("cand_id") === col("vec_id"))
      .select(col("cand_id").as("r_query"), col("embedding").as("q_emb"))
    val aSide = emb.filter(col("vec_id") % 2 === 0)
      .select(col("vec_id").as("a_id"), col("embedding").as("c_emb"))
    val wR = Window.partitionBy("r_query")
      .orderBy(col("c3r").desc, col("a_id").asc)
    val rAgg = aSide.crossJoin(broadcast(rq))
      .select(col("r_query"), col("a_id"),
        milli(col("q_emb"), col("c_emb")).as("c3r"))
      .withColumn("rk", row_number().over(wR))
      .filter(col("rk") <= bitextK)
      .groupBy("r_query")
      .agg(max(when(col("rk") === 1, col("a_id"))).as("rev_top1"),
        sum(col("c3r")).as("denom_r"))
    val margin = lit(2.0 * bitextK) * col("c3") /
      (col("denom_f") + col("denom_r"))
    fAgg.join(broadcast(rAgg), col("cand_id") === col("r_query"))
      .select(col("query_id"), col("cand_id"),
        (col("c3").cast("double") / 1000).as("cosine"),
        round(margin, 6).as("margin"),
        (col("rev_top1") === col("query_id")).as("mutual"),
        (col("rev_top1") === col("query_id") && margin > 1.06).as("accepted"))
  }

  /** TRIPLET MINING for metric learning — the (anchor, positive,
    * hard-negative) selection that contrastive/triplet training data
    * prep runs over an embedded corpus (the FaceNet recipe): per anchor,
    * the most-similar SAME-label vector (positive), the most-similar
    * DIFFERENT-label vector (hard negative), the margin-violation flag
    * that says whether the triplet still produces gradient
    * (cos_neg > cos_pos − α, α = 0.2), and the SEMI-HARD negative — the
    * most similar different-label vector that is farther than the
    * positive but inside the margin band (the selection FaceNet showed
    * trains stablest; NULL when the band is empty, itself a signal the
    * anchor's neighborhood is already well separated).
    *
    * Anchor set capped like [[bruteForceTopK]]'s queries — the broadcast
    * verifier; at scale anchors batch through [[lshTopK]]'s tables or
    * the [[ivfTopK]] partition index. Cosines quantize to exact integer
    * thousandths ([[bitextMining]]'s discipline), so every argmax,
    * band-membership test, and the active flag are integer-exact with
    * id tie-breaks. */
  val tripletAnchorCap = 8
  val tripletMarginMilli = 200

  def tripletMining(s: SparkSession, d: String): DataFrame = {
    // zero-norm vectors excluded — see [[lofOutliers]]
    val emb = Tables.embeddings(s, d)
      .filter(graft.functions.GraftFunctions.l2Norm(col("embedding")) > 0)
    val anchors = emb.filter(col("vec_id") < tripletAnchorCap)
      .select(col("vec_id").as("anchor_id"), col("label").as("a_label"),
        col("embedding").as("a_emb"))
    val scored = emb.crossJoin(broadcast(anchors))
      .filter(col("vec_id") =!= col("anchor_id"))
      .select(col("anchor_id"), col("a_label"), col("vec_id").as("cand"),
        (col("label") === col("a_label")).as("same"),
        round(cosineSim(col("a_emb"), col("embedding")) * 1000, 0)
          .cast("long").as("c3"))
      .pin()
    def best(cond: Column) =
      max(when(cond, struct(col("c3").as("c"), (-col("cand")).as("nid"))))
    val base = scored.groupBy("anchor_id", "a_label")
      .agg(best(col("same")).as("p"), best(!col("same")).as("n"))
      .select(col("anchor_id"), col("a_label"),
        (-col("p.nid")).as("pos_id"), col("p.c").as("pos_c3"),
        (-col("n.nid")).as("neg_id"), col("n.c").as("neg_c3"))
    val semi = scored
      .join(broadcast(base.select(col("anchor_id"), col("pos_c3"))),
        Seq("anchor_id"))
      .filter(!col("same") && col("c3") < col("pos_c3") &&
        col("c3") + tripletMarginMilli > col("pos_c3"))
      .groupBy("anchor_id").agg(best(lit(true)).as("sh"))
      .select(col("anchor_id"), (-col("sh.nid")).as("semi_id"),
        col("sh.c").as("semi_c3"))
    base.join(semi, Seq("anchor_id"), "left_outer")
      .select(col("anchor_id"), col("a_label").as("anchor_label"),
        col("pos_id"), (col("pos_c3").cast("double") / 1000).as("pos_cos"),
        col("neg_id"), (col("neg_c3").cast("double") / 1000).as("neg_cos"),
        (col("neg_c3") + tripletMarginMilli > col("pos_c3")).as("active"),
        col("semi_id"),
        (col("semi_c3").cast("double") / 1000).as("semi_cos"))
  }

  /** LOCAL OUTLIER FACTOR (k = [[lofK]]) of the capped anchor set —
    * the density-RATIO outlier score that catches what a global
    * distance cutoff ([[dbscanEmbeddings]]'s eps, the Mahalanobis
    * screen) cannot: a point that is merely in a sparse REGION scores
    * ≈ 1, a point sparser than its OWN neighbors scores ≫ 1. The data-
    * cleaning screen for embedded corpora where density varies by
    * cluster.
    *
    * Three bounded tiers (anchors → their k-NN → THEIR k-NN) each scan
    * the corpus once with the tier broadcast — the [[bruteForceTopK]]
    * verifier class; at scale each tier batches through the LSH/IVF
    * indexes. Distances quantize to exact integer milli-cosine-
    * distances (d = 1000 − ⌊cos·1000⌉), so k-distances, reachability
    * maxima, and every lrd denominator are exact longs; the only floats
    * are the 5 reciprocal lrds folded in neighbor-id order (the pinned
    * array-fold discipline) and one final ratio. */
  val lofK = 5
  val lofAnchorCap = 8

  def lofOutliers(s: SparkSession, d: String): DataFrame = {
    // zero-norm vectors are excluded on BOTH sides: they have no
    // direction, so "cosine distance to them" is undefined (NULL under
    // the engine contract, -1.0 under DuckDB's builtin — the
    // zero-vector edge sweep's divergence)
    val emb = Tables.embeddings(s, d)
      .filter(graft.functions.GraftFunctions.l2Norm(col("embedding")) > 0)
    def dist(a: Column, b: Column): Column =
      lit(1000L) - round(cosineSim(a, b) * 1000, 0).cast("long")
    def knn(queries: DataFrame, qid: String, qemb: String,
        out: String): DataFrame = {
      val w = Window.partitionBy(qid)
        .orderBy(col("d3").asc, col(out).asc)
      emb.crossJoin(broadcast(queries))
        .filter(col("vec_id") =!= col(qid))
        .select(col(qid), col("vec_id").as(out),
          dist(col(qemb), col("embedding")).as("d3"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= lofK)
    }
    val anchors = emb.filter(col("vec_id") < lofAnchorCap)
      .select(col("vec_id").as("aid"), col("embedding").as("a_emb"))
    val p1 = knn(anchors, "aid", "a_emb", "nb").pin()
    val t1 = p1.select(col("nb")).distinct()
      .join(emb, col("nb") === col("vec_id"))
      .select(col("nb").as("o"), col("embedding").as("o_emb"))
    val p2 = knn(t1, "o", "o_emb", "p").pin()
    val kdistO = p2.groupBy("o").agg(max(col("d3")).as("kdist_o"))
    val t2 = p2.select(col("p")).distinct()
      .join(emb, col("p") === col("vec_id"))
      .select(col("p").as("q2"), col("embedding").as("q_emb"))
    val kdistP = knn(t2, "q2", "q_emb", "r")
      .groupBy("q2").agg(max(col("d3")).as("kdist_p"))
    val denO = p2.join(broadcast(kdistP), col("p") === col("q2"))
      .groupBy("o")
      .agg(sum(greatest(col("d3"), col("kdist_p"))).as("den_o"))
      .select(col("o"), greatest(col("den_o"), lit(1L)).as("den_o"))
    val denX = p1.join(broadcast(kdistO), col("nb") === col("o"))
      .groupBy("aid")
      .agg(sum(greatest(col("d3"), col("kdist_o"))).as("den_x"))
      .select(col("aid"), greatest(col("den_x"), lit(1L)).as("den_x"))
    val folded = p1.join(broadcast(denO), col("nb") === col("o"))
      .groupBy("aid")
      .agg(sort_array(collect_list(struct(col("nb"), col("den_o"))))
        .as("arr"))
      .select(col("aid"), expr(
        """aggregate(arr, CAST(0.0 AS DOUBLE),
           (acc, e) -> acc + 1.0 / CAST(e.den_o AS DOUBLE))""").as("rsum"))
    // LOF(a) = (Σ_{o∈N(a)} lrd(o))/k / lrd(a); with lrd = k/den the k's
    // cancel to rsum·den_x/k (ONE factor of k — r8 advisory fixed the
    // former /k² which deflated every score 5×).
    val lof = col("rsum") * col("den_x").cast("double") /
      lit(lofK.toDouble)
    folded.join(broadcast(denX), Seq("aid"))
      .select(col("aid").as("anchor_id"), col("den_x"),
        round(lof, 6).as("lof"), (lof > 1.2).as("is_outlier"))
  }

  val lofOutliersSql: String = {
    val k = lofK
    s"""WITH anchors AS (
       |  SELECT vec_id AS aid, embedding AS a_emb FROM embeddings
       |  WHERE vec_id < $lofAnchorCap AND list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * x)) > 0),
       |p1 AS (
       |  SELECT * FROM (
       |    SELECT a.aid, e.vec_id AS nb,
       |      1000 - CAST(round(list_cosine_similarity(a.a_emb, e.embedding)
       |        * 1000, 0) AS BIGINT) AS d3,
       |      row_number() OVER (PARTITION BY a.aid ORDER BY
       |        1000 - CAST(round(list_cosine_similarity(a.a_emb, e.embedding)
       |          * 1000, 0) AS BIGINT) ASC, e.vec_id ASC) AS rk
       |    FROM embeddings e CROSS JOIN anchors a
       |    WHERE e.vec_id <> a.aid AND list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * x)) > 0) WHERE rk <= $k),
       |t1 AS (
       |  SELECT DISTINCT p1.nb AS o, e.embedding AS o_emb
       |  FROM p1 JOIN embeddings e ON e.vec_id = p1.nb),
       |p2 AS (
       |  SELECT * FROM (
       |    SELECT t.o, e.vec_id AS p,
       |      1000 - CAST(round(list_cosine_similarity(t.o_emb, e.embedding)
       |        * 1000, 0) AS BIGINT) AS d3,
       |      row_number() OVER (PARTITION BY t.o ORDER BY
       |        1000 - CAST(round(list_cosine_similarity(t.o_emb, e.embedding)
       |          * 1000, 0) AS BIGINT) ASC, e.vec_id ASC) AS rk
       |    FROM embeddings e CROSS JOIN t1 t
       |    WHERE e.vec_id <> t.o AND list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * x)) > 0) WHERE rk <= $k),
       |kdist_o AS (SELECT o, max(d3) AS kdist_o FROM p2 GROUP BY o),
       |t2 AS (
       |  SELECT DISTINCT p2.p AS q2, e.embedding AS q_emb
       |  FROM p2 JOIN embeddings e ON e.vec_id = p2.p),
       |p3 AS (
       |  SELECT * FROM (
       |    SELECT t.q2, e.vec_id AS r,
       |      1000 - CAST(round(list_cosine_similarity(t.q_emb, e.embedding)
       |        * 1000, 0) AS BIGINT) AS d3,
       |      row_number() OVER (PARTITION BY t.q2 ORDER BY
       |        1000 - CAST(round(list_cosine_similarity(t.q_emb, e.embedding)
       |          * 1000, 0) AS BIGINT) ASC, e.vec_id ASC) AS rk
       |    FROM embeddings e CROSS JOIN t2 t
       |    WHERE e.vec_id <> t.q2 AND list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * x)) > 0) WHERE rk <= $k),
       |kdist_p AS (SELECT q2, max(d3) AS kdist_p FROM p3 GROUP BY q2),
       |den_o AS (
       |  SELECT o, greatest(CAST(sum(greatest(d3, kdist_p)) AS BIGINT), 1)
       |    AS den_o
       |  FROM p2 JOIN kdist_p ON kdist_p.q2 = p2.p GROUP BY o),
       |den_x AS (
       |  SELECT aid, greatest(CAST(sum(greatest(d3, kdist_o)) AS BIGINT), 1)
       |    AS den_x
       |  FROM p1 JOIN kdist_o ON kdist_o.o = p1.nb GROUP BY aid),
       |folded AS (
       |  SELECT p1.aid,
       |    list_sum(list_transform(
       |      list_sort(list(struct_pack(nb := p1.nb, den_o := den_o.den_o))),
       |      e -> 1.0 / CAST(e.den_o AS DOUBLE))) AS rsum
       |  FROM p1 JOIN den_o ON den_o.o = p1.nb GROUP BY p1.aid)
       |SELECT f.aid AS anchor_id, x.den_x,
       |  round(f.rsum * CAST(x.den_x AS DOUBLE) / $k.0, 6) AS lof,
       |  (f.rsum * CAST(x.den_x AS DOUBLE) / $k.0 > 1.2) AS is_outlier
       |FROM folded f JOIN den_x x USING (aid)""".stripMargin
  }

  val tripletMiningSql: String =
    s"""WITH anchors AS (
       |  SELECT vec_id AS anchor_id, label AS a_label, embedding AS a_emb
       |  FROM embeddings WHERE vec_id < $tripletAnchorCap AND list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * x)) > 0),
       |scored AS (
       |  SELECT a.anchor_id, a.a_label, e.vec_id AS cand,
       |    (e.label = a.a_label) AS same,
       |    CAST(round(list_cosine_similarity(a.a_emb, e.embedding) * 1000, 0)
       |      AS BIGINT) AS c3
       |  FROM embeddings e CROSS JOIN anchors a
       |  WHERE e.vec_id <> a.anchor_id AND list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * x)) > 0),
       |ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY anchor_id, same
       |    ORDER BY c3 DESC, cand) AS rk
       |  FROM scored),
       |base AS (
       |  SELECT anchor_id, a_label,
       |    max(CASE WHEN same AND rk = 1 THEN cand END) AS pos_id,
       |    max(CASE WHEN same AND rk = 1 THEN c3 END) AS pos_c3,
       |    max(CASE WHEN NOT same AND rk = 1 THEN cand END) AS neg_id,
       |    max(CASE WHEN NOT same AND rk = 1 THEN c3 END) AS neg_c3
       |  FROM ranked GROUP BY anchor_id, a_label),
       |semi_ranked AS (
       |  SELECT s.anchor_id, s.cand, s.c3,
       |    row_number() OVER (PARTITION BY s.anchor_id
       |      ORDER BY s.c3 DESC, s.cand) AS rk
       |  FROM scored s JOIN base b USING (anchor_id)
       |  WHERE NOT s.same AND s.c3 < b.pos_c3
       |    AND s.c3 + $tripletMarginMilli > b.pos_c3),
       |shneg AS (
       |  SELECT anchor_id, cand AS semi_id, c3 AS semi_c3
       |  FROM semi_ranked WHERE rk = 1)
       |SELECT b.anchor_id, b.a_label AS anchor_label, b.pos_id,
       |  CAST(b.pos_c3 AS DOUBLE) / 1000 AS pos_cos,
       |  b.neg_id, CAST(b.neg_c3 AS DOUBLE) / 1000 AS neg_cos,
       |  (b.neg_c3 + $tripletMarginMilli > b.pos_c3) AS active,
       |  s.semi_id, CAST(s.semi_c3 AS DOUBLE) / 1000 AS semi_cos
       |FROM base b LEFT JOIN shneg s USING (anchor_id)""".stripMargin

  val bitextMiningSql: String =
    s"""WITH q AS (
       |  SELECT vec_id AS query_id, embedding AS q_emb FROM embeddings
       |  WHERE vec_id % 2 = 0 AND vec_id < $bitextQueryCap AND list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * x)) > 0),
       |b AS (
       |  SELECT vec_id AS cand_id, embedding AS c_emb FROM embeddings
       |  WHERE vec_id % 2 = 1 AND list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * x)) > 0),
       |fwd AS (
       |  SELECT query_id, cand_id,
       |    CAST(round(list_cosine_similarity(q_emb, c_emb) * 1000, 0)
       |      AS BIGINT) AS c3
       |  FROM b CROSS JOIN q),
       |ftop AS (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |    ORDER BY c3 DESC, cand_id) AS rk FROM fwd),
       |fagg AS (
       |  SELECT query_id,
       |    max(CASE WHEN rk = 1 THEN cand_id END) AS cand_id,
       |    max(CASE WHEN rk = 1 THEN c3 END) AS c3,
       |    CAST(sum(c3) AS BIGINT) AS denom_f
       |  FROM ftop WHERE rk <= $bitextK GROUP BY query_id),
       |rq AS (
       |  SELECT DISTINCT f.cand_id AS r_query, e.embedding AS q_emb
       |  FROM fagg f JOIN embeddings e ON e.vec_id = f.cand_id),
       |a AS (
       |  SELECT vec_id AS a_id, embedding AS c_emb FROM embeddings
       |  WHERE vec_id % 2 = 0 AND list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * x)) > 0),
       |rev AS (
       |  SELECT r_query, a_id,
       |    CAST(round(list_cosine_similarity(q_emb, c_emb) * 1000, 0)
       |      AS BIGINT) AS c3r
       |  FROM a CROSS JOIN rq),
       |rtop AS (
       |  SELECT *, row_number() OVER (PARTITION BY r_query
       |    ORDER BY c3r DESC, a_id) AS rk FROM rev),
       |ragg AS (
       |  SELECT r_query, max(CASE WHEN rk = 1 THEN a_id END) AS rev_top1,
       |    CAST(sum(c3r) AS BIGINT) AS denom_r
       |  FROM rtop WHERE rk <= $bitextK GROUP BY r_query)
       |SELECT f.query_id, f.cand_id, CAST(f.c3 AS DOUBLE) / 1000 AS cosine,
       |  round(${2.0 * bitextK} * f.c3 / (f.denom_f + r.denom_r), 6)
       |    AS margin,
       |  (r.rev_top1 = f.query_id) AS mutual,
       |  (r.rev_top1 = f.query_id
       |    AND ${2.0 * bitextK} * f.c3 / (f.denom_f + r.denom_r) > 1.06)
       |    AS accepted
       |FROM fagg f JOIN ragg r ON r.r_query = f.cand_id""".stripMargin

  /** ECOD OUTLIER DETECTION (Li et al., TKDE 2022) over the embedding
    * table — the DENSITY outlier detector next to [[lofOutliers]]'
    * neighborhood one: per dimension, a point's tail probability is
    * read off the empirical CDF, and the outlier score aggregates
    * −ln F_j(x) (left tail) and −ln(1−F_j(x)+1/n) = −ln F̄_j (right
    * tail) across dimensions; O = max(O_left, O_right) (the symmetric
    * variant — the paper's skew-routed refinement needs only a second
    * pass over the same frames). ECOD over HBOS deliberately: rank
    * ratios are exact rationals, where HBOS's equal-width bin edges
    * are float boundary decisions that can differ by an ulp between
    * engines.
    *
    * Determinism: F_j = cume_dist (count ≤ / n — tie-correct by
    * construction) is a division of exact small integers, identical
    * in both engines; the 64-term ln sums follow the [[q: jsd]]
    * round-4 tolerance; ranking is on the ROUNDED score with vec_id
    * tie-break so the cutoff can't flip on a last ulp.
    *
    * Scale: the per-dim ECDF is one window partitioned BY DIMENSION —
    * 64 independent O(n) partitions (at 100 TB: per-dim
    * `withRunningTotal` over a value census, the established `_dist`
    * graduation); score assembly is one vec-keyed combinable sum. */
  def ecodOutliers(s: SparkSession, d: String): DataFrame = {
    val dimW = Window.partitionBy("dim").orderBy("v")
    val dimWDesc = Window.partitionBy("dim").orderBy(col("v").desc)
    val tails = Tables.embeddings(s, d)
      .select(col("vec_id"), col("label"),
        posexplode(col("embedding")).as(Seq("dim", "v")))
      .select(col("vec_id"), col("label"),
        cume_dist().over(dimW).as("f_le"),
        cume_dist().over(dimWDesc).as("f_ge"))
    val scored = tails.groupBy("vec_id", "label")
      .agg((-sum(log(col("f_le")))).as("o_left"),
        (-sum(log(col("f_ge")))).as("o_right"))
      .select(col("vec_id"), col("label"),
        round(col("o_left"), 4).as("o_left"),
        round(col("o_right"), 4).as("o_right"),
        round(greatest(col("o_left"), col("o_right")), 4).as("ecod_score"))
    scored.orderBy(col("ecod_score").desc, col("vec_id").asc).limit(20)
  }

  val ecodOutliersSql: String =
    """WITH tails AS (
      |  SELECT vec_id, label,
      |    cume_dist() OVER (PARTITION BY dim ORDER BY v ASC) AS f_le,
      |    cume_dist() OVER (PARTITION BY dim ORDER BY v DESC) AS f_ge
      |  FROM (
      |    SELECT vec_id, label, i AS dim, embedding[i + 1] AS v
      |    FROM embeddings
      |    CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS i))),
      |scored AS (
      |  SELECT vec_id, label,
      |    round(-sum(ln(f_le)), 4) AS o_left,
      |    round(-sum(ln(f_ge)), 4) AS o_right,
      |    round(greatest(-sum(ln(f_le)), -sum(ln(f_ge))), 4) AS ecod_score
      |  FROM tails GROUP BY 1, 2)
      |SELECT * FROM scored
      |ORDER BY ecod_score DESC, vec_id ASC LIMIT 20""".stripMargin

  /** Hubness neighborhood size and anchor spread. */
  val hubK = 5
  val hubAnchorMod = 7

  /** HUBNESS AUDIT — the k-occurrence distribution N_k(x) = "how many
    * anchors count x among their top-[[hubK]] neighbors". In high
    * dimension N_k grows right-skewed: a few HUBS appear in everyone's
    * neighbor lists (poisoning kNN classification, dedup clustering and
    * ANN recall alike) while ANTIHUBS appear in none (Radovanović et
    * al. 2010) — the standard intrinsic-dimensionality red flag to run
    * BEFORE trusting [[lofOutliers]]/[[bruteForceTopK]] downstream
    * decisions. Skewness of N_k is THE hubness score; hub count
    * (N_k ≥ 2k) and antihub count ship alongside. Honest finding on
    * this noise-like synthetic corpus: skew ≈ 1.17 at sf0.1 (1.05–1.21
    * across scales) with ~50% antihubs — the mild-but-real right skew
    * dimensionality alone induces, exactly Radovanović's point — while
    * still ZERO hubs at the N_k ≥ 2k bar. (A round-10 audit shipped
    * with an extra ÷n in the skewness denominator in BOTH engines,
    * reading ≈ 0.0006 and mislabeled "near-binomial" — caught by the
    * round-11 advisor, fixed, and now pinned by a driver-side moment
    * cross-check in Round10AdditionsSpec.)
    *
    * Scale rendering: the query side is a capped ANCHOR SAMPLE
    * (vec_id ≡ 0 mod [[hubAnchorMod]] — spread across the id space),
    * broadcast against the corpus — the [[lofOutliers]]
    * capped-anchor-verifier class; N_k moments then come from ONE
    * corpus-sized aggregate. At 100 TB the anchor kNN lists come from
    * the [[lshTopK]]/[[ivfTopK]] index instead — the audit itself is
    * unchanged (it only consumes (anchor, neighbor) pairs).
    *
    * Determinism: distances are integer milli-cosine (the LOF
    * discipline), ranking ties break on vec_id; N_k counts and their
    * power sums are EXACT integers, so the three central moments are
    * exact decimal(38,0) numerators — skewness is one double
    * expression at the end, rounded 6. */
  def hubnessAudit(s: SparkSession, d: String): DataFrame = {
    val big = DecimalType(38, 0)
    val emb = Tables.embeddings(s, d)
    def dist(a: Column, b: Column): Column =
      lit(1000L) - round(cosineSim(a, b) * 1000, 0).cast("long")
    val anchors = emb.filter(col("vec_id") % hubAnchorMod === 0)
      .select(col("vec_id").as("aid"), col("embedding").as("a_emb"))
    // asc_nulls_last: a zero-norm vector's cosine (and so its distance)
    // is NULL under the engine contract — it must never rank as a
    // nearest neighbor; Spark's ASC default is nulls FIRST while
    // DuckDB's is nulls LAST (zero-vector edge sweep)
    val w = Window.partitionBy("aid")
      .orderBy(col("d3").asc_nulls_last, col("nb").asc)
    val top = emb.crossJoin(broadcast(anchors))
      .filter(col("vec_id") =!= col("aid"))
      .select(col("aid"), col("vec_id").as("nb"),
        dist(col("a_emb"), col("embedding")).as("d3"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= hubK)
    val occ = top.groupBy(col("nb")).agg(count(lit(1)).cast("long").as("c"))
    val counts = emb.select(col("vec_id"))
      .join(occ, col("vec_id") === col("nb"), "left")
      .select(coalesce(col("c"), lit(0L)).as("c"))
    val nA = anchors.agg(count(lit(1)).cast("long").as("n_anchors"))
    counts.agg(
      count(lit(1)).cast("long").as("n_vectors"),
      sum(col("c").cast(big)).cast(big).as("s1"),
      sum(col("c").cast(big) * col("c").cast(big)).cast(big).as("s2"),
      sum(col("c").cast(big) * col("c").cast(big) * col("c").cast(big))
        .cast(big).as("s3"),
      max(col("c")).as("max_k_occurrence"),
      sum(when(col("c") >= 2L * hubK, 1L).otherwise(0L)).as("n_hubs"),
      sum(when(col("c") === 0L, 1L).otherwise(0L)).as("n_antihubs"))
      .crossJoin(broadcast(nA))
      .select(col("n_vectors"), col("n_anchors"), lit(hubK).as("k"),
        col("max_k_occurrence"), col("n_hubs"), col("n_antihubs"),
        // m2·n² and m3·n³ numerators are exact decimals; ONE double expr
        round((col("n_vectors").cast(big) * col("n_vectors").cast(big) *
          col("s3") - lit(3).cast(big) * col("n_vectors").cast(big) *
          col("s1") * col("s2") + lit(2).cast(big) * col("s1") * col("s1") *
          col("s1")).cast("double") /
          pow((col("n_vectors").cast(big) * col("s2") -
            col("s1") * col("s1")).cast("double"), 1.5), 6)
          .as("skewness"))
  }

  val hubnessAuditSql: String = {
    val k = hubK
    s"""WITH anchors AS (
       |  SELECT vec_id AS aid, embedding AS a_emb FROM embeddings
       |  WHERE vec_id % $hubAnchorMod = 0),
       |top AS (
       |  SELECT * FROM (
       |    SELECT a.aid, e.vec_id AS nb,
       |      row_number() OVER (PARTITION BY a.aid ORDER BY
       |        CASE WHEN list_sum(list_transform(a.a_emb,
       |            x -> CAST(x AS DOUBLE) * x))
       |          * list_sum(list_transform(e.embedding,
       |            x -> CAST(x AS DOUBLE) * x)) = 0 THEN NULL
       |        ELSE 1000 - CAST(round(
       |          list_cosine_similarity(a.a_emb, e.embedding)
       |          * 1000, 0) AS BIGINT) END ASC, e.vec_id ASC) AS rk
       |    FROM embeddings e CROSS JOIN anchors a
       |    WHERE e.vec_id <> a.aid) WHERE rk <= $k),
       |occ AS (SELECT nb, CAST(count(*) AS BIGINT) AS c FROM top GROUP BY nb),
       |counts AS (
       |  SELECT coalesce(occ.c, 0) AS c
       |  FROM embeddings e LEFT JOIN occ ON occ.nb = e.vec_id),
       |m AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n,
       |    sum(CAST(c AS HUGEINT)) AS s1,
       |    sum(CAST(c AS HUGEINT) * c) AS s2,
       |    sum(CAST(c AS HUGEINT) * c * c) AS s3,
       |    CAST(max(c) AS BIGINT) AS max_k_occurrence,
       |    CAST(sum(CASE WHEN c >= ${2 * k} THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_hubs,
       |    CAST(sum(CASE WHEN c = 0 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_antihubs
       |  FROM counts),
       |na AS (SELECT CAST(count(*) AS BIGINT) AS n_anchors FROM anchors)
       |SELECT n AS n_vectors, n_anchors, $k AS k,
       |  max_k_occurrence, n_hubs, n_antihubs,
       |  round(CAST(CAST(n AS HUGEINT) * n * s3 - 3 * CAST(n AS HUGEINT)
       |      * s1 * s2 + 2 * s1 * s1 * s1 AS DOUBLE) /
       |    pow(CAST(CAST(n AS HUGEINT) * s2 - s1 * s1 AS DOUBLE), 1.5),
       |    6) AS skewness
       |FROM m CROSS JOIN na""".stripMargin
  }

  /** EMBEDDING ISOTROPY AUDIT — "does the space use all its directions,
    * or does everything point the same way?" Anisotropic embedding
    * spaces (avg pairwise cosine ≫ 0 — the common-direction artifact
    * of most trained encoders, Mu & Viswanath 2018) break cosine
    * thresholds calibrated on the unit sphere: [[Dedup.semDeDup]]'s
    * 0.3 cut and [[lofOutliers]]' density contrasts both assume the
    * bulk sits near 0. The audit: E[cos(x,y)] over all pairs equals
    * (‖Σx̂‖² − n)/(n(n−1)) — computable from the SUM of unit vectors
    * alone, NO pair enumeration, one scan at any scale. Ships with the
    * mean-vector norm ratio (‖x̄‖ / mean‖x‖ — the same artifact in
    * un-normalized space) and isotropy = 1 − avg cosine.
    *
    * Determinism: per-dim means of x̂ and x round 4 BEFORE the norms
    * (the [[labelCentroids]] float32-accumulation discipline — per-dim
    * scalar sums are the one order-insensitive-enough aggregate, and
    * 4 dp swallows the reassociation ulps); the norm folds run
    * dim-sorted; outputs round 6. */
  def isotropyAudit(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val norm = sqrt(aggregate(col("embedding"), lit(0.0d),
      (acc, x) => acc + x.cast("double") * x.cast("double")))
    val withNorm = emb.select(col("vec_id"), col("embedding"),
      norm.as("nrm"))
    // per-dim mean of the raw and the UNIT vector, rounded 4
    val dims = withNorm
      .select(posexplode(col("embedding")).as(Seq("dim", "v")),
        col("nrm"))
      .groupBy("dim")
      .agg(round(avg(col("v").cast("double")), 4).as("mraw"),
        // zero-norm guard (edge sweep): a zero vector cannot be unit-
        // normalized; NULL drops it from the avg on BOTH engines
        // (DuckDB's 0/0 is NULL and both avgs skip NULLs)
        round(avg(when(col("nrm") === 0d, lit(null).cast("double"))
          .otherwise(col("v").cast("double") / col("nrm"))), 4)
          .as("munit"))
    val nRow = withNorm.agg(count(lit(1)).cast("long").as("n"),
      round(avg(col("nrm")), 4).as("mean_norm"))
    dims
      .agg(sum(col("mraw") * col("mraw")).as("nm2"),
        sum(col("munit") * col("munit")).as("nu2"))
      .crossJoin(broadcast(nRow))
      .select(col("n").as("n_vectors"), col("mean_norm"),
        round(sqrt(col("nm2")), 6).as("norm_of_mean"),
        round(sqrt(col("nm2")) / col("mean_norm"), 6).as("anisotropy_ratio"),
        // ‖Σx̂‖² = n²·‖mean x̂‖²; avg pairwise cos = (‖Σx̂‖²−n)/(n(n−1))
        round((col("n").cast("double") * col("n").cast("double") *
          col("nu2") - col("n").cast("double")) /
          (col("n").cast("double") * (col("n").cast("double") - 1.0)), 6)
          .as("avg_pairwise_cos"))
  }

  val isotropyAuditSql: String =
    """WITH wn AS (
      |  SELECT vec_id, embedding,
      |    sqrt(list_sum(list_transform(embedding,
      |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
      |  FROM embeddings),
      |dims AS (
      |  SELECT u.i AS dim,
      |    round(avg(CAST(embedding[u.i + 1] AS DOUBLE)), 4) AS mraw,
      |    round(avg(CAST(embedding[u.i + 1] AS DOUBLE) / nrm), 4) AS munit
      |  FROM wn, (SELECT unnest(generate_series(0, 63)) AS i) u
      |  GROUP BY 1),
      |nrow AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n, round(avg(nrm), 4)
      |    AS mean_norm FROM wn),
      |agg AS (
      |  SELECT sum(mraw * mraw) AS nm2, sum(munit * munit) AS nu2
      |  FROM dims)
      |SELECT n AS n_vectors, mean_norm,
      |  round(sqrt(nm2), 6) AS norm_of_mean,
      |  round(sqrt(nm2) / mean_norm, 6) AS anisotropy_ratio,
      |  round((CAST(n AS DOUBLE) * n * nu2 - n)
      |    / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)), 6)
      |    AS avg_pairwise_cos
      |FROM agg CROSS JOIN nrow""".stripMargin

  /** CLUSTER-VALIDITY INDICES over the label partition — the two
    * standard internal scores next to [[silhouette]]'s per-point one:
    * Davies–Bouldin (mean over clusters of the worst
    * (S_i + S_j)/M_ij neighbor ratio — lower is better) and
    * Calinski–Harabasz ((between-scatter/(k−1))/(within-scatter/(n−k))
    * — higher is better). Shipping DB + CH + silhouette is the
    * textbook triptych for "did this clustering find structure?" —
    * and on these weak label clusters all three agree it barely did
    * (an honest finding, stated not hidden).
    *
    * Determinism: centroids and the grand mean are the ROUNDED (4 dp)
    * [[labelCentroids]] values; every point-distance rounds 4 before
    * averaging (the [[silhouette]] discipline — per-group avg of
    * rounded doubles, reassociation noise ≪ the 4 dp grid); the
    * O(k²) DB matrix and both scatter folds run label-sorted; outputs
    * round 4/6.
    *
    * Scale: centroids are one (label, dim) aggregate; the point pass
    * is a broadcast-centroid projection — scan-speed; everything after
    * is O(k²) driver-free arithmetic. */
  def clusterValidity(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val cents = roundedCentroids(emb)
    // per-cluster: n_i, S_i = mean dist-to-own-centroid, within = mean d²
    val own = emb.join(broadcast(cents), col("label") === col("c_label"))
      .select(col("label"), centroidDist.as("d"))
      .groupBy("label")
      .agg(count(lit(1)).cast("long").as("ni"),
        round(avg(col("d")), 4).as("si"),
        round(avg(col("d") * col("d")), 4).as("wi"))
    // grand mean = dim-wise mean over ALL vectors, rounded 4 (same grid)
    val grand = emb
      .select(posexplode(col("embedding")).as(Seq("dim", "v")))
      .groupBy("dim").agg(round(avg(col("v").cast("double")), 4).as("gv"))
      .agg(array_sort(collect_list(struct(col("dim"), col("gv")))).as("dgv"))
      .select(expr("transform(dgv, x -> x.gv)").as("gmean"))
    // centroid-to-centroid and centroid-to-grand distances (k² small)
    def cdist(a: Column, b: Column) = round(sqrt(aggregate(
      zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0.0d), (acc, v) => acc + v)), 4)
    val toGrand = cents.crossJoin(broadcast(grand))
      .select(col("c_label").as("label"),
        cdist(col("centroid"), col("gmean")).as("dg"))
    // DB_i = max_j (S_i + S_j)/M_ij. The k² pair matrix is NOT a
    // self-join: all k (centroid, S) rows pack into ONE scalar-
    // aggregate row and each cluster folds over that list — the
    // boundedness is PROVABLE to PlanLint (scalar-agg NLJ side), the
    // r8 tukey_hsd restructure precedent
    val ocent = cents.join(own.select(col("label").as("c_label"),
      col("si")), Seq("c_label"))
    val packedC = ocent.agg(sort_array(collect_list(struct(
      col("c_label").as("lbl"), col("centroid"), col("si")))).as("pc"))
    val dbi = ocent.crossJoin(broadcast(packedC))
      .select(col("c_label").as("li"), expr(
        """aggregate(filter(pc, e -> e.lbl != c_label),
          |  CAST(0.0 AS DOUBLE),
          |  (acc, e) -> greatest(acc, round((si + e.si) /
          |    round(sqrt(aggregate(
          |      zip_with(centroid, e.centroid,
          |        (x, y) -> (x - y) * (x - y)),
          |      CAST(0.0 AS DOUBLE), (a2, v) -> a2 + v)), 4), 6)))"""
          .stripMargin).as("db_i"))
    val k = own.agg(count(lit(1)).cast("long").as("k"),
      sum(col("ni")).cast("long").as("n"),
      // within-scatter Σ n_i·w_i and Σ fold label-sorted
      sort_array(collect_list(struct(col("label"), col("ni"), col("wi"))))
        .as("oa"))
    val bg = toGrand.join(own, Seq("label"))
      .agg(sort_array(collect_list(struct(col("label"), col("ni"),
        col("dg")))).as("ba"))
    val dbRow = dbi.agg(
      sort_array(collect_list(struct(col("li"), col("db_i")))).as("da"))
    k.crossJoin(broadcast(bg)).crossJoin(broadcast(dbRow))
      .select(col("k"), col("n"),
        round(expr("""aggregate(da, CAST(0.0 AS DOUBLE),
          (acc, e) -> acc + e.db_i)""") / col("k").cast("double"), 4)
          .as("davies_bouldin"),
        round((expr("""aggregate(ba, CAST(0.0 AS DOUBLE),
          (acc, e) -> acc + CAST(e.ni AS DOUBLE) * e.dg * e.dg)""") /
          (col("k").cast("double") - 1.0)) /
          (expr("""aggregate(oa, CAST(0.0 AS DOUBLE),
          (acc, e) -> acc + CAST(e.ni AS DOUBLE) * e.wi)""") /
            (col("n").cast("double") - col("k").cast("double"))), 4)
          .as("calinski_harabasz"))
  }

  val clusterValiditySql: String =
    """WITH cent AS (
      |  SELECT label AS c_label, u.i AS dim,
      |    round(avg(CAST(embedding[u.i + 1] AS DOUBLE)), 4) AS cv
      |  FROM embeddings,
      |    (SELECT unnest(generate_series(0, 63)) AS i) u
      |  GROUP BY 1, 2),
      |cvec AS (
      |  SELECT c_label, list(cv ORDER BY dim) AS centroid
      |  FROM cent GROUP BY c_label),
      |own AS (
      |  SELECT e.label, CAST(count(*) AS BIGINT) AS ni,
      |    round(avg(d), 4) AS si, round(avg(d * d), 4) AS wi
      |  FROM (
      |    SELECT e.label,
      |      round(sqrt(list_sum(list_transform(
      |        generate_series(1, len(e.embedding)),
      |        i -> (CAST(e.embedding[i] AS DOUBLE) - c.centroid[i])
      |           * (CAST(e.embedding[i] AS DOUBLE) - c.centroid[i])))), 4)
      |        AS d
      |    FROM embeddings e JOIN cvec c ON c.c_label = e.label) e
      |  GROUP BY 1),
      |grand AS (
      |  SELECT list(gv ORDER BY dim) AS gmean FROM (
      |    SELECT u.i AS dim,
      |      round(avg(CAST(embedding[u.i + 1] AS DOUBLE)), 4) AS gv
      |    FROM embeddings,
      |      (SELECT unnest(generate_series(0, 63)) AS i) u
      |    GROUP BY 1)),
      |togrand AS (
      |  SELECT c.c_label AS label,
      |    round(sqrt(list_sum(list_transform(
      |      generate_series(1, len(c.centroid)),
      |      i -> (c.centroid[i] - g.gmean[i])
      |         * (c.centroid[i] - g.gmean[i])))), 4) AS dg
      |  FROM cvec c CROSS JOIN grand g),
      |ocent AS (
      |  SELECT c.c_label, c.centroid, o.si
      |  FROM cvec c JOIN own o ON o.label = c.c_label),
      |pcp AS (
      |  SELECT list(struct_pack(lbl := c_label, centroid := centroid,
      |    si := si) ORDER BY c_label) AS pc FROM ocent),
      |dbi AS (
      |  SELECT o.c_label AS li,
      |    list_max(list_transform(
      |      list_filter(p.pc, e -> e.lbl <> o.c_label),
      |      e -> round((o.si + e.si) /
      |        round(sqrt(list_sum(list_transform(
      |          generate_series(1, len(o.centroid)),
      |          i -> (o.centroid[i] - e.centroid[i])
      |             * (o.centroid[i] - e.centroid[i])))), 4), 6))) AS db_i
      |  FROM ocent o CROSS JOIN pcp p),
      |kk AS (
      |  SELECT CAST(count(*) AS BIGINT) AS k, CAST(sum(ni) AS BIGINT) AS n,
      |    list_sum(list_transform(list(struct_pack(label := label,
      |      ni := ni, wi := wi) ORDER BY label),
      |      e -> CAST(e.ni AS DOUBLE) * e.wi)) AS within_sum
      |  FROM own),
      |bb AS (
      |  SELECT list_sum(list_transform(list(struct_pack(label := t.label,
      |      ni := o.ni, dg := t.dg) ORDER BY t.label),
      |      e -> CAST(e.ni AS DOUBLE) * e.dg * e.dg)) AS between_sum
      |  FROM togrand t JOIN own o ON o.label = t.label),
      |dd AS (
      |  SELECT list_sum(list_transform(list(struct_pack(li := li,
      |      db_i := db_i) ORDER BY li), e -> e.db_i)) AS db_sum
      |  FROM dbi)
      |SELECT k, n,
      |  round(db_sum / CAST(k AS DOUBLE), 4) AS davies_bouldin,
      |  round((between_sum / (CAST(k AS DOUBLE) - 1.0))
      |    / (within_sum / (CAST(n AS DOUBLE) - CAST(k AS DOUBLE))), 4)
      |    AS calinski_harabasz
      |FROM kk CROSS JOIN bb CROSS JOIN dd""".stripMargin
}
