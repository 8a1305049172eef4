package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.Pin.Pinned

/** Corpus curation — the OUTPUT side of the LLM-data pipeline: pack the
  * kept documents into fixed-token-budget training shards, and
  * materialize the curated corpus to partitioned storage. These compose
  * the analysis operators ([[TextAnalysis]], [[graft.dedup.Dedup]]) into
  * the artifacts a training run actually consumes.
  */
object Curation {

  /** Token budget per training shard (whitespace tokens; deliberately
    * small so the harness corpus yields many shards). */
  val shardBudget = 2000L

  /** Contiguous shard packing: documents ordered by doc_id, each
    * assigned to shard `floor(preceding-cumulative-tokens / budget)` —
    * every shard's token load lands in [budget, budget + max_doc)
    * except the last, and assignment depends only on the documents
    * before yours, so appending documents NEVER reshuffles existing
    * shards (the property that makes incremental corpus growth cheap).
    *
    * The cumulative sum is the global-prefix-sum shape, rendered here
    * as the bounded-input window form (ORDER BY doc_id with no
    * partition); the exact distributed rendering is the
    * [[graft.ops.Analytics.decileStatsDistributed]] pattern — range
    * repartition by doc_id + per-partition token-sum offsets — and
    * [[q_pack_shards]]' oracle proves THIS form's semantics, which that
    * rendering preserves by construction. Output: one row per document
    * with its shard id; the per-shard rollup is a trivial downstream
    * aggregate. */
  def packShards(s: SparkSession, d: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    Tables.documents(s, d)
      .select(col("doc_id"),
        org.apache.spark.sql.functions.size(split(col("text"), " ")).cast("long")
          .as("n_tokens"))
      .select(col("doc_id"), col("n_tokens"),
        (coalesce(sum(col("n_tokens")).over(w), lit(0L)) / shardBudget)
          .cast("long").as("shard_id"))
  }

  /** The fully-distributed rendering of [[packShards]]: the global
    * prefix sum runs through [[graft.ops.Distributed.withRunningTotal]]
    * (range-partitioned by doc_id, cluster-wide parallelism) instead of
    * a no-partition window (which funnels the whole corpus through one
    * task — the accepted PlanLint finding on the window form). Same
    * assignment rule, same append-stability, graded against the SAME
    * oracle. */
  def packShardsDist(s: SparkSession, d: String): DataFrame =
    graft.ops.Distributed.withRunningTotal(
      Tables.documents(s, d)
        .select(col("doc_id"),
          org.apache.spark.sql.functions.size(split(col("text"), " ")).cast("long")
            .as("n_tokens")),
      Seq.empty, Seq("doc_id"), "n_tokens", "cum")
      .select(col("doc_id"), col("n_tokens"),
        ((col("cum") - col("n_tokens")) / shardBudget).cast("long").as("shard_id"))

  val packShardsSql: String =
    s"""SELECT doc_id, n_tokens,
       |  CAST(floor(coalesce(sum(n_tokens) OVER (
       |    ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |    / $shardBudget) AS BIGINT) AS shard_id
       |FROM (
       |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
       |  FROM documents)""".stripMargin

  /** Training-sequence length (tokens) for [[seqPackCensus]] —
    * deliberately small so documents really do span sequence boundaries
    * at every graded scale. */
  val seqLen = 128L

  /** SEQUENCE PACKING census — the "concat-and-split" layout every LLM
    * training run performs: documents concatenated in doc_id order, the
    * token stream cut into fixed [[seqLen]]-token sequences, each
    * document occupying the half-open token interval
    * [cum − n_tokens, cum). The census reports, per SEQUENCE, how many
    * documents contribute tokens to it, how many are fully contained,
    * and how many straddle its right boundary (truncation/attention-mask
    * pressure — the number packing schemes like best-fit try to drive
    * down; this is the measurement that grades them).
    *
    * Scale: the global prefix sum is [[graft.ops.Distributed
    * .withRunningTotal]] (range-partitioned, cluster-parallel — not a
    * no-partition window); the interval→sequence expansion is a local
    * `sequence()` explode bounded by each doc's own span (≤ n_tokens/
    * seqLen + 1 rows per doc — output is O(total tokens / seqLen), a
    * fixed fraction of the input); the census is one map-side-combinable
    * aggregate keyed by seq_id, whose cardinality GROWS with data (no
    * funnel). Append-stability inherits from prefix-sum assignment: new
    * documents never move existing tokens. */
  def seqPackCensus(s: SparkSession, d: String): DataFrame = {
    val packed = graft.ops.Distributed.withRunningTotal(
      Tables.documents(s, d)
        .select(col("doc_id"),
          org.apache.spark.sql.functions.size(split(col("text"), " ")).cast("long")
            .as("n_tokens")),
      Seq.empty, Seq("doc_id"), "n_tokens", "cum")
      .select(col("doc_id"), col("n_tokens"),
        ((col("cum") - col("n_tokens")) / seqLen).cast("long").as("first_seq"),
        ((col("cum") - 1L) / seqLen).cast("long").as("last_seq"))
    packed
      .select(col("doc_id"), col("first_seq"), col("last_seq"),
        explode(sequence(col("first_seq"), col("last_seq"))).as("seq_id"))
      .groupBy("seq_id")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("first_seq") === col("seq_id") &&
                 col("last_seq") === col("seq_id"), 1L).otherwise(0L))
          .as("n_contained"),
        sum(when(col("last_seq") > col("seq_id"), 1L).otherwise(0L))
          .as("n_straddling"))
  }

  val seqPackCensusSql: String =
    s"""WITH packed AS (
       |  SELECT doc_id, n_tokens,
       |    CAST(floor(coalesce(sum(n_tokens) OVER (
       |      ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |      / $seqLen) AS BIGINT) AS first_seq,
       |    CAST(floor((coalesce(sum(n_tokens) OVER (
       |      ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |      + n_tokens - 1) / $seqLen) AS BIGINT) AS last_seq
       |  FROM (SELECT doc_id,
       |          CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
       |        FROM documents))
       |SELECT u.seq_id,
       |  count(*) AS n_docs,
       |  CAST(sum(CASE WHEN first_seq = u.seq_id AND last_seq = u.seq_id
       |    THEN 1 ELSE 0 END) AS BIGINT) AS n_contained,
       |  CAST(sum(CASE WHEN last_seq > u.seq_id THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_straddling
       |FROM packed, UNNEST(range(first_seq, last_seq + 1)) AS u(seq_id)
       |GROUP BY u.seq_id""".stripMargin

  /** Per-source document budget — the domain-cap constant. Sized so the
    * cap BITES at every oracle-graded scale (25 docs/source at sf0.01,
    * 250 at sf0.1) while staying scale-independent in meaning. */
  val sourceCapDocs = 15L

  /** DOMAIN CAPPING — enforce a per-source document budget by keeping
    * the top-[[sourceCapDocs]] docs per source ranked (n_chars desc,
    * doc_id asc), the anti-dominance pass web-corpus pipelines run so
    * no single domain floods the mixture. Per-source kept/total
    * doc-and-token accounting ships as the audit.
    *
    * Scale rendering: the naive form ranks docs in a window partitioned
    * by `source` — a tiny-domain key over raw docs, one task per domain
    * at any scale (the PlanLint smell). Here ranks come off the
    * (source, n_chars) AGGREGATE instead: a cumulative count over that
    * tiny frame gives every length its #docs-strictly-longer, and only
    * the tie-break among EQUAL-length docs ranks at doc grain — in a
    * window keyed by (source, n_chars), whose cardinality GROWS with
    * the data. A doc is kept iff longer_count + tie_rank ≤ cap: exact
    * top-K semantics, deterministic under total (n_chars, doc_id)
    * order, no low-cardinality window over facts anywhere. The oracle
    * states the NAIVE semantics (one row_number per source) — same
    * rows, independent derivation. */
  def sourceCap(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, d)
      .select(col("source"), col("doc_id"), col("n_chars"),
        org.apache.spark.sql.functions.size(split(col("text"), " "))
          .cast("long").as("n_tok"))
    val byLen = docs.groupBy(col("source"), col("n_chars"))
      .agg(count(lit(1)).as("c"))
    val cum = Window.partitionBy("source").orderBy(col("n_chars").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val longer = byLen
      .select(col("source"), col("n_chars"),
        (sum(col("c")).over(cum) - col("c")).as("n_longer"))
    val tie = Window.partitionBy("source", "n_chars").orderBy("doc_id")
    docs.join(longer, Seq("source", "n_chars"))
      .withColumn("kept",
        col("n_longer") + row_number().over(tie) <= sourceCapDocs)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
        sum(col("n_tok")).as("tokens_total"),
        sum(when(col("kept"), col("n_tok")).otherwise(0L)).as("tokens_kept"))
  }

  val sourceCapSql: String =
    s"""WITH docs AS (
       |  SELECT source, doc_id, n_chars,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
       |    row_number() OVER (PARTITION BY source
       |      ORDER BY n_chars DESC, doc_id) AS rk
       |  FROM documents)
       |SELECT source, count(*) AS n_docs,
       |  CAST(count(*) FILTER (WHERE rk <= $sourceCapDocs) AS BIGINT)
       |    AS n_kept,
       |  CAST(sum(n_tok) AS BIGINT) AS tokens_total,
       |  CAST(coalesce(sum(n_tok) FILTER (WHERE rk <= $sourceCapDocs), 0)
       |    AS BIGINT) AS tokens_kept
       |FROM docs GROUP BY source""".stripMargin

  /** Greedy coverage selection rounds — fixed and unrolled so the
    * oracle can chain one CTE per round. */
  val coverageRounds = 4

  /** GREEDY MAX-COVERAGE data selection — the facility-location pass of
    * LLM data curation ("pick the K documents that together cover the
    * most distinct n-grams", the submodular-selection shape behind
    * diversity-driven subset selection): [[coverageRounds]] rounds, each
    * picking the document with the most NOT-YET-COVERED word 3-grams
    * (tie → smallest doc_id), then retiring its grams. Output: one row
    * per round with the winner and its marginal/cumulative coverage —
    * the greedy gain curve, whose diminishing increments are the
    * submodularity signature.
    *
    * Scale: the gram relation is built ONCE (UDTF + distinct, O(tokens))
    * and checkpointed; each round is one anti-join against the covered
    * set + a map-side-combinable count + a global top-1 (the driver
    * collects exactly ONE row per round — bounded, like the
    * decileStatsDistributed metadata pass). Greedy selection is
    * inherently sequential in K; each round's work is fully
    * distributed. The oracle replays the identical rounds as chained
    * CTEs (the pageRank/kcore discipline). */
  def greedyCoverage(s: SparkSession, d: String): DataFrame = {
    val grams = Tables.documents(s, d)
      .select(col("doc_id"),
        graft.functions.GraftFunctions.wordNgrams(col("text"), 3)
          .as(Seq("pos", "gram")))
      .select("doc_id", "gram").distinct()
      .pin()
    var covered = grams.select("gram").limit(0).pin()
    val rows = Seq.newBuilder[(Int, Long, Long, Long)]
    var cum = 0L
    for (r <- 1 to coverageRounds) {
      val gains = grams.join(covered, Seq("gram"), "left_anti")
        .groupBy("doc_id").agg(count(lit(1)).as("gain"))
      val w = gains.orderBy(col("gain").desc, col("doc_id")).limit(1)
        .collect()(0)
      val (wid, gain) = (w.getLong(0), w.getLong(1))
      cum += gain
      rows += ((r, wid, gain, cum))
      covered = covered
        .unionAll(grams.filter(col("doc_id") === wid).select("gram"))
        .distinct()
        .pin()
    }
    import s.implicits._
    rows.result().toDF("round", "doc_id", "new_grams", "cum_grams")
  }

  val greedyCoverageSql: String = {
    val base =
      """WITH words AS (
        |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
        |  WHERE len(string_split(text, ' ')) >= 3),
        |g1 AS (
        |  SELECT DISTINCT doc_id,
        |    unnest(list_transform(generate_series(1, len(w) - 2),
        |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS gram
        |  FROM words)""".stripMargin
    val rounds = (1 to coverageRounds).map { r =>
      val next =
        if (r == coverageRounds) ""
        else s""",
                |g${r + 1} AS (
                |  SELECT * FROM g$r WHERE gram NOT IN (
                |    SELECT gram FROM g$r
                |    WHERE doc_id = (SELECT doc_id FROM w$r)))""".stripMargin
      s"""w$r AS (
         |  SELECT doc_id, count(*) AS gain FROM g$r
         |  GROUP BY doc_id ORDER BY gain DESC, doc_id LIMIT 1)$next"""
        .stripMargin
    }.mkString(",\n", ",\n", "")
    val cums = (1 to coverageRounds).map { r =>
      (1 to r).map(i => s"(SELECT gain FROM w$i)").mkString(" + ")
    }
    val selects = (1 to coverageRounds).map { r =>
      s"""SELECT $r AS round, (SELECT doc_id FROM w$r) AS doc_id,
         |  CAST((SELECT gain FROM w$r) AS BIGINT) AS new_grams,
         |  CAST(${cums(r - 1)} AS BIGINT) AS cum_grams""".stripMargin
    }.mkString("\nUNION ALL\n")
    base + rounds + "\n" + selects
  }

  /** Data-mixture plan: per-language token census plus the
    * downsample-only sampling weights that equalize the mixture — the
    * "how much of each source/language goes into the training mix"
    * decision, computed the way production pipelines do it (weights
    * relative to the SMALLEST stratum, so no stratum is oversampled
    * and every weight is a keep-probability <= 1).
    *
    * weight_bp = ⌊10⁴ · min_lang_tokens / lang_tokens⌋ and the expected
    * post-sampling token count, both through integer `div` — the whole
    * plan is exact, engine-portable arithmetic. Scale: one map-side
    * combinable aggregate over the corpus to O(languages) rows; the
    * global min rides a broadcast one-row frame (never a window over
    * the facts). */
  def mixturePlan(s: SparkSession, d: String): DataFrame = {
    val perLang = Tables.documents(s, d)
      .select(col("lang"),
        org.apache.spark.sql.functions.size(split(col("text"), " "))
          .cast("long").as("n_tok"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_tokens"))
    val minTok = perLang.agg(min("n_tokens").as("min_tokens"))
    perLang.crossJoin(broadcast(minTok))
      .select(col("lang"), col("n_docs"), col("n_tokens"),
        expr("min_tokens * 10000L div n_tokens").as("weight_bp"),
        expr("(min_tokens * 10000L div n_tokens) * n_tokens div 10000L")
          .as("sampled_tokens"))
  }

  val mixturePlanSql: String =
    """WITH per_lang AS (
      |  SELECT lang, count(*) AS n_docs,
      |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
      |  FROM documents GROUP BY 1),
      |m AS (SELECT min(n_tokens) AS min_tokens FROM per_lang)
      |SELECT lang, n_docs, n_tokens,
      |  min_tokens * 10000 // n_tokens AS weight_bp,
      |  (min_tokens * 10000 // n_tokens) * n_tokens // 10000 AS sampled_tokens
      |FROM per_lang, m""".stripMargin

  /** Sampling temperature for [[temperatureMixture]] (the multilingual
    * pretraining recipe's α — 0.3 boosts low-resource strata). */
  val mixAlpha = 0.3

  /** TEMPERATURE-BASED MIXTURE reweighting — the other standard
    * multilingual sampling recipe next to [[mixturePlan]]'s
    * equalize-downsample: sample language l with probability
    * p_l ∝ n_l^α (α = [[mixAlpha]]), which UP-weights low-resource
    * strata smoothly instead of capping the big ones. Reports, per
    * language: the raw token share, the temperature share, and the
    * boost factor p_temp/p_raw — the numbers a pretraining mixture
    * config is written from.
    *
    * Scale: one map-side-combinable aggregate to O(languages) rows;
    * the two normalizers ride a broadcast one-row frame. Floats: n^α
    * via pow on exact long counts, shares are pinned divisions, all
    * rounded 6 (the denominator is a float sum over O(langs) values —
    * ulp-level order sensitivity sits ~9 orders of magnitude below the
    * rounding grain). */
  def temperatureMixture(s: SparkSession, d: String): DataFrame = {
    val perLang = Tables.documents(s, d)
      .select(col("lang"),
        org.apache.spark.sql.functions.size(split(col("text"), " "))
          .cast("long").as("n_tok"))
      .groupBy("lang")
      .agg(sum("n_tok").as("n_tokens"))
    val tot = perLang.agg(
      sum(col("n_tokens")).as("tot_tokens"),
      sum(pow(col("n_tokens").cast("double"), mixAlpha)).as("tot_pow"))
    perLang.crossJoin(broadcast(tot))
      .select(col("lang"), col("n_tokens"),
        round(col("n_tokens").cast("double") / col("tot_tokens").cast("double"), 6)
          .as("p_raw"),
        round(pow(col("n_tokens").cast("double"), mixAlpha) / col("tot_pow"), 6)
          .as("p_temp"),
        round(pow(col("n_tokens").cast("double"), mixAlpha) / col("tot_pow") /
          (col("n_tokens").cast("double") / col("tot_tokens").cast("double")), 6)
          .as("boost"))
      .orderBy("lang")
  }

  val temperatureMixtureSql: String =
    s"""WITH per_lang AS (
       |  SELECT lang,
       |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
       |  FROM documents GROUP BY 1),
       |tot AS (
       |  SELECT CAST(sum(n_tokens) AS BIGINT) AS tot_tokens,
       |    sum(pow(CAST(n_tokens AS DOUBLE), $mixAlpha)) AS tot_pow
       |  FROM per_lang)
       |SELECT lang, n_tokens,
       |  round(CAST(n_tokens AS DOUBLE) / CAST(tot_tokens AS DOUBLE), 6) AS p_raw,
       |  round(pow(CAST(n_tokens AS DOUBLE), $mixAlpha) / tot_pow, 6) AS p_temp,
       |  round(pow(CAST(n_tokens AS DOUBLE), $mixAlpha) / tot_pow /
       |    (CAST(n_tokens AS DOUBLE) / CAST(tot_tokens AS DOUBLE)), 6) AS boost
       |FROM per_lang CROSS JOIN tot ORDER BY lang""".stripMargin

  /** Context-window chunk width (whitespace tokens). */
  private val chunkWindow = 60
  /** Chunk stride; `chunkWindow - chunkStride` tokens of overlap carry
    * context across chunk boundaries. */
  val chunkStride = 40

  /** Sliding-window document chunking — the "fit documents into a model
    * context window" transform every training pipeline runs between
    * curation and tokenization. Chunk starts are 0, stride, 2·stride, …
    * for every start < n_tokens, so each document yields
    * ⌈n/stride⌉ chunks, consecutive chunks overlap by window−stride
    * tokens, and every token lands in at least one chunk. The tail
    * chunk is short rather than padded (padding is the tokenizer's
    * job, not the engine's).
    *
    * Scale: a pure per-row generator projection — split once, explode a
    * ⌈n/stride⌉-element start sequence, slice per start. No shuffle, no
    * state; chunk rows inherit the scan's partitioning and the blow-up
    * factor is bounded by window/stride. `chunk_id = start/stride` is
    * derivable from the chunk alone, so downstream repartitioning never
    * needs the parent row. */
  def chunkDocuments(s: SparkSession, d: String): DataFrame = {
    val (w0, s0) = (chunkWindow, chunkStride)
    Tables.documents(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .select(col("doc_id"), col("w"),
        // max start = largest stride multiple <= n-1, via pmod (Column
        // `/` is DOUBLE division — integer-only arithmetic here)
        explode(sequence(lit(0),
          greatest(size(col("w")) - 1 - pmod(size(col("w")) - 1, lit(s0)),
            lit(0)),
          lit(s0))).as("start"))
      .select(
        col("doc_id"),
        expr(s"start div $s0").cast("int").as("chunk_id"),
        col("start").cast("int").as("chunk_start"),
        size(slice(col("w"), col("start") + 1, lit(w0))).as("n_chunk_tokens"),
        concat_ws(" ", slice(col("w"), col("start") + 1, lit(w0))).as("chunk_text"))
  }

  val chunkDocumentsSql: String =
    s"""WITH w AS (
       |  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       |starts AS (
       |  SELECT doc_id, w,
       |    unnest(generate_series(0,
       |      greatest(((len(w) - 1) // $chunkStride) * $chunkStride, 0),
       |      $chunkStride)) AS start
       |  FROM w)
       |SELECT doc_id,
       |  CAST(start // $chunkStride AS INTEGER) AS chunk_id,
       |  CAST(start AS INTEGER) AS chunk_start,
       |  CAST(len(w[start + 1 : start + $chunkWindow]) AS INTEGER)
       |    AS n_chunk_tokens,
       |  array_to_string(w[start + 1 : start + $chunkWindow], ' ')
       |    AS chunk_text
       |FROM starts""".stripMargin

  /** Materialize the curated corpus: exact-dedup winners (the
    * [[graft.dedup.Dedup.exactDedup]] keep-first rule) that also pass
    * the language filter, written to `outDir` partitioned by lang —
    * the end-to-end "analysis to training-ready corpus" capstone.
    * Returns the curated DataFrame (also written); counts come back to
    * the caller for reconciliation logging, mirroring the reference's
    * row-count observability (`postgres_to_s3_operator.py:46,65-70`).
    *
    * Scale: the winner set is a key-only semi join (broadcast-able at
    * any corpus size where winners ≈ docs × dedup rate); the write
    * shards by partition column, so downstream readers prune by lang. */
  /** Quality-aware canonicalization of near-duplicate clusters: within
    * each [[graft.dedup.Dedup.dedupClusters]] component, keep the member
    * with the LOWEST unigram cross-entropy ([[TextAnalysis.lmScore]] —
    * the most natural-language rendition of the duplicated content),
    * ties broken by doc_id. This is the curation step between detection
    * and materialization: near-dup groups collapse to their best
    * representative instead of an arbitrary first-seen winner (contrast
    * [[materializeCorpus]]'s min-id exact-dedup rule — fine for exact
    * copies, wasteful for near-dups where members differ in quality).
    *
    * Scale: the ranking window partitions by cluster_id over the
    * CLUSTERED docs only (O(dup docs), high-cardinality key — no
    * low-cardinality funnel); the score join is key-keyed hash join.
    * The winner rank compares the 4dp-ROUNDED score, so the choice is
    * engine-portable. */
  def canonicalDocs(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val clusters = graft.dedup.Dedup.dedupClusters(s, d)
    val scores = TextAnalysis.lmScore(s, d)
      .select(col("doc_id"), col("cross_entropy"))
    clusters
      .join(scores, Seq("doc_id"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("cluster_id")
          .orderBy(col("cross_entropy").asc, col("doc_id").asc)))
      .filter(col("rn") === 1)
      .select(col("cluster_id"), col("doc_id").as("kept_doc_id"),
        col("cross_entropy").as("kept_xent"), col("cluster_size"),
        (col("cluster_size") - 1).as("n_dropped"))
  }

  val canonicalDocsSql: String = {
    val lmMin = TextAnalysis.lmVocabMinCount
    s"""WITH RECURSIVE ${graft.dedup.Dedup.minhashPairsBody},
       |edges AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM pairs
       |  UNION ALL SELECT doc_b, doc_a FROM pairs),
       |reach(doc_id, r) AS (
       |  SELECT src, src FROM edges
       |  UNION
       |  SELECT e.src, re.r FROM edges e JOIN reach re ON re.doc_id = e.dst),
       |labels AS (SELECT doc_id, min(r) AS cluster_id FROM reach GROUP BY 1),
       |clusters AS (
       |  SELECT l.doc_id, l.cluster_id, s.cluster_size
       |  FROM labels l JOIN (
       |    SELECT cluster_id, count(*) AS cluster_size FROM labels GROUP BY 1) s
       |  USING (cluster_id)),
       |tf AS (
       |  SELECT doc_id, tok, count(*) AS tf FROM (
       |    SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
       |  GROUP BY 1, 2),
       |wc AS (
       |  SELECT doc_id, tf, sum(tf) OVER (PARTITION BY tok) AS c FROM tf),
       |lm AS (
       |  SELECT doc_id,
       |    round(ln(CAST((SELECT sum(len(string_split(text, ' ')))
       |                   FROM documents) AS DOUBLE))
       |      - sum(tf * ln(CASE WHEN c >= $lmMin
       |                         THEN CAST(c AS DOUBLE) ELSE 0.5 END))
       |        / sum(tf), 4) AS cross_entropy
       |  FROM wc GROUP BY doc_id),
       |ranked AS (
       |  SELECT cl.cluster_id, cl.doc_id, cl.cluster_size, lm.cross_entropy,
       |    row_number() OVER (PARTITION BY cl.cluster_id
       |      ORDER BY lm.cross_entropy, cl.doc_id) AS rn
       |  FROM clusters cl JOIN lm USING (doc_id))
       |SELECT cluster_id, doc_id AS kept_doc_id, cross_entropy AS kept_xent,
       |  cluster_size, CAST(cluster_size - 1 AS BIGINT) AS n_dropped
       |FROM ranked WHERE rn = 1""".stripMargin
  }

  /** Length-bucket granularity for [[padWaste]] (tokens). */
  val padBucket = 32L
  /** Hard sequence cap for [[padWaste]]: longer docs truncate. */
  val padMaxLen = 256L

  /** PADDING-WASTE audit — the other half of the packing story
    * ([[seqPackCensus]] measures concat-and-split truncation pressure;
    * this measures the PADDED-BATCH alternative): if each document is
    * padded up to the next [[padBucket]] multiple (capped at
    * [[padMaxLen]], longer docs truncating), how many pad tokens does
    * each bucket burn? Per bucket: doc count, real tokens, padded
    * tokens, and the waste ratio — the numbers that decide between
    * padding, packing, and bucketing batch layouts, and that grade a
    * proposed bucket ladder before a training run commits to it.
    *
    * Exactness: everything through the ratio is integer (token counts,
    * bucket arithmetic in longs); the ratio is ONE pinned double
    * division rounded to 6. Scale: one map-side-combinable aggregate
    * keyed by bucket (O(padMaxLen / padBucket) groups); no window, no
    * join, the whole plan is scan → project → hash-agg. */
  def padWaste(s: SparkSession, d: String): DataFrame = {
    val n = least(
      org.apache.spark.sql.functions.size(split(col("text"), " ")).cast("long"),
      lit(padMaxLen))
    Tables.documents(s, d)
      .select(n.as("n_tok"))
      .select(col("n_tok"),
        least(((col("n_tok") + padBucket - 1L) / padBucket).cast("long")
            * padBucket,
          lit(padMaxLen)).as("bucket_len"))
      .groupBy("bucket_len")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("real_tokens"),
        sum(col("bucket_len")).as("padded_tokens"))
      .select(col("bucket_len"), col("n_docs"), col("real_tokens"),
        col("padded_tokens"),
        round((col("padded_tokens") - col("real_tokens")).cast("double") /
          col("padded_tokens").cast("double"), 6).as("waste_ratio"))
      .orderBy("bucket_len")
  }

  val padWasteSql: String =
    s"""WITH toks AS (
       |  SELECT least(CAST(len(string_split(text, ' ')) AS BIGINT), $padMaxLen)
       |    AS n_tok
       |  FROM documents),
       |bucketed AS (
       |  SELECT n_tok,
       |    least(((n_tok + $padBucket - 1) // $padBucket) * $padBucket,
       |      $padMaxLen) AS bucket_len
       |  FROM toks)
       |SELECT bucket_len,
       |  count(*) AS n_docs,
       |  CAST(sum(n_tok) AS BIGINT) AS real_tokens,
       |  CAST(sum(bucket_len) AS BIGINT) AS padded_tokens,
       |  round(CAST(sum(bucket_len) - sum(n_tok) AS DOUBLE)
       |    / CAST(sum(bucket_len) AS DOUBLE), 6) AS waste_ratio
       |FROM bucketed GROUP BY bucket_len ORDER BY bucket_len""".stripMargin

  def materializeCorpus(s: SparkSession, d: String, outDir: String,
      langs: Seq[String] = Seq("en", "de", "fr")): DataFrame = {
    val winners = graft.dedup.Dedup.exactDedup(s, d)
      .select(col("kept_doc_id").as("doc_id"))
    val curated = Tables.documents(s, d)
      .filter(col("lang").isin(langs: _*))
      .join(winners, Seq("doc_id"), "left_semi")
    curated.write.mode("overwrite").partitionBy("lang").parquet(outDir)
    curated
  }

  /** T5-STYLE SPAN-CORRUPTION CENSUS: the deterministic masking plan a
    * denoising-objective training run would apply — ~5% of token
    * positions start a 3-token masked span (≈15% noise density, mean
    * span 3, the T5 defaults), selected by md5(doc_id:i) so every
    * re-run, retry, and cluster size masks identically (the
    * [[graft.text.TextAnalysis.trainSplit]] hash discipline, never
    * rand()). Reports per-source tokens/masked/spans/sentinels — the
    * objective's data-budget accounting.
    *
    * Masked-token counting handles OVERLAPPING spans exactly: token j
    * is masked iff a starter exists in {j−2, j−1, j}; sentinel count =
    * number of maximal masked runs = starters with no starter in the
    * two positions before them.
    *
    * Scale: pure per-row array lambdas inside codegen (starter list is
    * ~n/20 elements, membership checks O(|starters|)); one source
    * aggregate. */
  def spanCorruption(s: SparkSession, d: String): DataFrame = {
    val w = split(col("text"), " ")
    val starters = expr(
      """filter(sequence(0, size(w) - 1), i ->
        |  CAST(conv(substring(md5(concat(CAST(doc_id AS STRING), ':',
        |    CAST(i AS STRING))), 1, 8), 16, 10) AS BIGINT) % 20 = 0)"""
        .stripMargin)
    val perDoc = Tables.documents(s, d)
      .select(col("source"), col("doc_id"), w.as("w"))
      .select(col("source"), size(col("w")).cast("long").as("n_tokens"),
        starters.as("st"))
      .select(col("source"), col("n_tokens"),
        size(col("st")).cast("long").as("n_starters"),
        expr("""size(filter(sequence(0, CAST(n_tokens AS INT) - 1), j ->
            array_contains(st, j) OR array_contains(st, j - 1)
            OR array_contains(st, j - 2)))""")
          .cast("long").as("n_masked"),
        expr("""size(filter(st, x ->
            NOT array_contains(st, x - 1)
            AND NOT array_contains(st, x - 2)))""")
          .cast("long").as("n_sentinels"))
    perDoc.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).cast("long").as("tokens"),
        sum(col("n_masked")).cast("long").as("masked"),
        sum(col("n_starters")).cast("long").as("spans"),
        sum(col("n_sentinels")).cast("long").as("sentinels"))
      .select(col("source"), col("n_docs"), col("tokens"), col("masked"),
        col("spans"), col("sentinels"),
        when(col("tokens") === 0, lit(0.0))
          .otherwise(round(col("masked").cast("double") / col("tokens"), 6))
          .as("mask_ratio"))
      .orderBy("source")
  }

  /** BERT-STYLE MLM MASKING CENSUS — the sibling of [[spanCorruption]]
    * for the masked-LM objective: ~15% of token positions are selected
    * by md5(doc_id:m:i) mod 100 < 15, and each selected position draws
    * its action from an INDEPENDENT digest md5(doc_id:a:i) mod 10 —
    * 0-7 → [MASK] substitution (80%), 8 → random-token swap (10%),
    * 9 → keep-original (10%), the classic BERT 80/10/10 recipe. Hash
    * selection (never rand()) means every re-run, retry, and cluster
    * size masks identically — the [[graft.text.TextAnalysis.trainSplit]]
    * discipline. Reports the per-language data-budget accounting a
    * pretraining run reconciles against its dataloader.
    *
    * Scale: pure per-row array lambdas inside codegen (two md5 calls
    * per token, no explode, no shuffle beyond one language aggregate). */
  def mlmMasking(s: SparkSession, d: String): DataFrame = {
    val w = split(col("text"), " ")
    val perDoc = Tables.documents(s, d)
      .select(col("lang"), col("doc_id"), w.as("w"))
      .select(col("lang"), col("doc_id"),
        size(col("w")).cast("long").as("n_tokens"),
        expr("""filter(sequence(0, size(w) - 1), i ->
            |  CAST(conv(substring(md5(concat(CAST(doc_id AS STRING), ':m:',
            |    CAST(i AS STRING))), 1, 8), 16, 10) AS BIGINT)
            |    % 100 < 15)""".stripMargin).as("sel"))
      .select(col("lang"), col("n_tokens"),
        size(col("sel")).cast("long").as("n_sel"),
        expr("""size(filter(sel, i ->
            |  CAST(conv(substring(md5(concat(CAST(doc_id AS STRING), ':a:',
            |    CAST(i AS STRING))), 1, 8), 16, 10) AS BIGINT)
            |    % 10 < 8))""".stripMargin).cast("long").as("n_mask"),
        expr("""size(filter(sel, i ->
            |  CAST(conv(substring(md5(concat(CAST(doc_id AS STRING), ':a:',
            |    CAST(i AS STRING))), 1, 8), 16, 10) AS BIGINT)
            |    % 10 = 8))""".stripMargin).cast("long").as("n_rand"))
    perDoc.groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).cast("long").as("tokens"),
        sum(col("n_sel")).cast("long").as("selected"),
        sum(col("n_mask")).cast("long").as("mask_tok"),
        sum(col("n_rand")).cast("long").as("rand_tok"))
      .select(col("lang"), col("n_docs"), col("tokens"), col("selected"),
        col("mask_tok"), col("rand_tok"),
        (col("selected") - col("mask_tok") - col("rand_tok")).as("keep_tok"),
        when(col("tokens") === 0, lit(0.0))
          .otherwise(round(col("selected").cast("double") / col("tokens"), 6))
          .as("mask_rate"))
      .orderBy("lang")
  }

  val mlmMaskingSql: String =
    """WITH per_doc AS (
      |  SELECT lang, doc_id,
      |    len(string_split(text, ' ')) AS n_tokens,
      |    list_filter(generate_series(0, len(string_split(text, ' ')) - 1),
      |      i -> CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':m:' ||
      |        CAST(i AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 15) AS sel
      |  FROM documents),
      |counted AS (
      |  SELECT lang, n_tokens, len(sel) AS n_sel,
      |    len(list_filter(sel, i ->
      |      CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':a:' ||
      |        CAST(i AS VARCHAR)), 1, 8)) AS BIGINT) % 10 < 8)) AS n_mask,
      |    len(list_filter(sel, i ->
      |      CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':a:' ||
      |        CAST(i AS VARCHAR)), 1, 8)) AS BIGINT) % 10 = 8)) AS n_rand
      |  FROM per_doc)
      |SELECT lang, count(*) AS n_docs,
      |  CAST(sum(n_tokens) AS BIGINT) AS tokens,
      |  CAST(sum(n_sel) AS BIGINT) AS selected,
      |  CAST(sum(n_mask) AS BIGINT) AS mask_tok,
      |  CAST(sum(n_rand) AS BIGINT) AS rand_tok,
      |  CAST(sum(n_sel) - sum(n_mask) - sum(n_rand) AS BIGINT) AS keep_tok,
      |  CASE WHEN sum(n_tokens) = 0 THEN 0.0
      |    ELSE round(CAST(sum(n_sel) AS DOUBLE) / sum(n_tokens), 6)
      |  END AS mask_rate
      |FROM counted GROUP BY lang ORDER BY lang""".stripMargin

  val spanCorruptionSql: String =
    """WITH per_doc AS (
      |  SELECT source,
      |    len(string_split(text, ' ')) AS n_tokens,
      |    list_filter(generate_series(0, len(string_split(text, ' ')) - 1),
      |      i -> CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' ||
      |        CAST(i AS VARCHAR)), 1, 8)) AS BIGINT) % 20 = 0) AS st
      |  FROM documents),
      |counted AS (
      |  SELECT source, n_tokens,
      |    len(st) AS n_starters,
      |    len(list_filter(generate_series(0, n_tokens - 1), j ->
      |      list_contains(st, j) OR list_contains(st, j - 1)
      |      OR list_contains(st, j - 2))) AS n_masked,
      |    len(list_filter(st, x ->
      |      NOT list_contains(st, x - 1)
      |      AND NOT list_contains(st, x - 2))) AS n_sentinels
      |  FROM per_doc)
      |SELECT source, count(*) AS n_docs,
      |  CAST(sum(n_tokens) AS BIGINT) AS tokens,
      |  CAST(sum(n_masked) AS BIGINT) AS masked,
      |  CAST(sum(n_starters) AS BIGINT) AS spans,
      |  CAST(sum(n_sentinels) AS BIGINT) AS sentinels,
      |  CASE WHEN sum(n_tokens) = 0 THEN 0.0
      |    ELSE round(CAST(sum(n_masked) AS DOUBLE) / sum(n_tokens), 6)
      |  END AS mask_ratio
      |FROM counted GROUP BY source ORDER BY source""".stripMargin

  /** DATASET CARD: the per-source summary table a corpus release ships
    * (HuggingFace dataset-card statistics section) — volume, token
    * counts, vocabulary size, exact-duplicate rate, language
    * composition, and stopword density, each from primitives already
    * proven elsewhere in the engine, rolled into one artifact.
    *
    * Determinism: every statistic is exact-integer until one final
    * division; top language ties break lexicographically via min_by on
    * the (−count, lang) struct key.
    *
    * Scale: one scan for the per-source sums, one token-keyed shuffle
    * for vocabulary, one tiny lang census — all combinable aggregates. */
  def datasetCard(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val w = split(col("text"), " ")
    val base = docs
      .select(col("source"), col("text"), col("lang"), col("n_chars"),
        size(w).cast("long").as("nt"),
        size(filter(w, t => t.isin(TextAnalysis.stopwords: _*)))
          .cast("long").as("nsw"),
        md5(col("text")).as("h"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("nt")).cast("long").as("tokens"),
        sum(col("n_chars")).cast("long").as("chars"),
        sum(col("nsw")).cast("long").as("stopwords"),
        countDistinct(col("h")).as("distinct_texts"))
    val vocab = docs
      .select(col("source"), explode(array_distinct(w)).as("tok"))
      .distinct()
      .groupBy("source").agg(count(lit(1)).as("vocab"))
    val langs = docs.groupBy("source", "lang")
      .agg(count(lit(1)).as("c"))
      .groupBy("source")
      .agg(min_by(col("lang"), struct((-col("c")).as("nc"), col("lang")))
        .as("top_lang"),
        max(col("c")).cast("long").as("top_lang_n"))
    base.join(vocab, Seq("source")).join(langs, Seq("source"))
      .select(col("source"), col("n_docs"), col("tokens"), col("chars"),
        col("vocab"),
        round(col("tokens").cast("double") / col("n_docs"), 6)
          .as("mean_doc_tokens"),
        round(lit(1.0) - col("distinct_texts").cast("double")
          / col("n_docs"), 6).as("dup_rate"),
        col("top_lang"),
        round(col("top_lang_n").cast("double") / col("n_docs"), 6)
          .as("top_lang_share"),
        when(col("tokens") === 0, lit(0.0))
          .otherwise(round(col("stopwords").cast("double") / col("tokens"),
            6)).as("stopword_ratio"))
      .orderBy("source")
  }

  val datasetCardSql: String = {
    val stopList = TextAnalysis.stopwords.map(sw => s"'$sw'").mkString(", ")
    s"""WITH base AS (
       |  SELECT source, count(*) AS n_docs,
       |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS tokens,
       |    CAST(sum(n_chars) AS BIGINT) AS chars,
       |    CAST(sum(len(list_filter(string_split(text, ' '),
       |      t -> t IN ($stopList)))) AS BIGINT) AS stopwords,
       |    count(DISTINCT md5(text)) AS distinct_texts
       |  FROM documents GROUP BY 1),
       |vocab AS (
       |  SELECT source, count(*) AS vocab FROM (
       |    SELECT DISTINCT source, unnest(list_distinct(
       |      string_split(text, ' '))) AS tok FROM documents)
       |  GROUP BY 1),
       |lang_census AS (
       |  SELECT source, lang, count(*) AS c FROM documents GROUP BY 1, 2),
       |langs AS (
       |  SELECT source, lang AS top_lang, CAST(c AS BIGINT) AS top_lang_n
       |  FROM (SELECT source, lang, c, row_number() OVER (
       |      PARTITION BY source ORDER BY c DESC, lang) AS rk
       |    FROM lang_census)
       |  WHERE rk = 1)
       |SELECT b.source, b.n_docs, b.tokens, b.chars,
       |  CAST(v.vocab AS BIGINT) AS vocab,
       |  round(CAST(b.tokens AS DOUBLE) / b.n_docs, 6) AS mean_doc_tokens,
       |  round(1.0 - CAST(b.distinct_texts AS DOUBLE) / b.n_docs, 6)
       |    AS dup_rate,
       |  l.top_lang,
       |  round(CAST(l.top_lang_n AS DOUBLE) / b.n_docs, 6)
       |    AS top_lang_share,
       |  CASE WHEN b.tokens = 0 THEN 0.0
       |    ELSE round(CAST(b.stopwords AS DOUBLE) / b.tokens, 6)
       |  END AS stopword_ratio
       |FROM base b JOIN vocab v ON v.source = b.source
       |JOIN langs l ON l.source = b.source
       |ORDER BY b.source""".stripMargin
  }

  /** CURATION FUNNEL: the end-to-end attrition table — how many
    * documents survive each stage of the cleaning cascade the rest of
    * this module implements piecewise: exact dedup (keep min doc_id per
    * md5), Gopher-style quality screens ([[TextAnalysis.qualityFilter]]'s
    * exact conditions), and eval-set decontamination
    * ([[graft.text.Decontam]]'s 5-gram overlap — eval-slice docs
    * themselves also leave at this stage: they are held out, not
    * trained on). The one-table answer to "where does my corpus go?".
    *
    * Stages are CUMULATIVE (a doc must survive every earlier stage),
    * all flags exact-integer conditions — nothing here can flip on a
    * ulp.
    *
    * Scale: one md5 aggregate, one (doc, tok) tf aggregate, one
    * gram-keyed broadcast join — each stage's own documented plan,
    * composed by doc_id equi-joins; the funnel rollup is 4 rows. */
  def curationFunnel(s: SparkSession, d: String): DataFrame = {
    import graft.text.{TextAnalysis => TA, Decontam => DC}
    val docs = Tables.documents(s, d)
    val exact = docs
      .groupBy(md5(col("text")).as("h"))
      .agg(org.apache.spark.sql.functions.min(col("doc_id")).as("keep_id"))
      .select(col("keep_id").as("doc_id"),
        org.apache.spark.sql.functions.lit(true).as("exact_keep"))
    val quality = TA.qualityFilter(s, d)
      .select(col("doc_id"), col("keep").as("quality_keep"))
    val decontam = DC.ngramOverlap(s, d)
      .select(col("doc_id"),
        (!col("contaminated")).as("decontam_keep")) // train docs only
    val flags = docs.select(col("doc_id"))
      .join(exact, Seq("doc_id"), "left")
      .join(quality, Seq("doc_id"), "left")
      .join(decontam, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("exact_keep"), org.apache.spark.sql.functions.lit(false))
          .as("s1"),
        coalesce(col("quality_keep"),
          org.apache.spark.sql.functions.lit(false)).as("s2"),
        coalesce(col("decontam_keep"),
          org.apache.spark.sql.functions.lit(false)).as("s3"))
    flags.agg(
      count(org.apache.spark.sql.functions.lit(1)).as("n0"),
      sum(when(col("s1"), 1L).otherwise(0L)).as("n1"),
      sum(when(col("s1") && col("s2"), 1L).otherwise(0L)).as("n2"),
      sum(when(col("s1") && col("s2") && col("s3"), 1L).otherwise(0L))
        .as("n3"))
      .select(explode(org.apache.spark.sql.functions.array(
        struct(org.apache.spark.sql.functions.lit(0).as("stage"),
          org.apache.spark.sql.functions.lit("total").as("name"),
          col("n0").cast("long").as("n_docs"),
          org.apache.spark.sql.functions.lit(0L).as("n_dropped")),
        struct(org.apache.spark.sql.functions.lit(1).as("stage"),
          org.apache.spark.sql.functions.lit("exact_dedup").as("name"),
          col("n1").cast("long").as("n_docs"),
          (col("n0") - col("n1")).cast("long").as("n_dropped")),
        struct(org.apache.spark.sql.functions.lit(2).as("stage"),
          org.apache.spark.sql.functions.lit("quality").as("name"),
          col("n2").cast("long").as("n_docs"),
          (col("n1") - col("n2")).cast("long").as("n_dropped")),
        struct(org.apache.spark.sql.functions.lit(3).as("stage"),
          org.apache.spark.sql.functions.lit("decontam_holdout").as("name"),
          col("n3").cast("long").as("n_docs"),
          (col("n2") - col("n3")).cast("long").as("n_dropped")))).as("r"))
      .select(col("r.stage").as("stage"), col("r.name").as("name"),
        col("r.n_docs").as("n_docs"), col("r.n_dropped").as("n_dropped"))
      .orderBy("stage")
  }

  val curationFunnelSql: String = {
    import graft.text.{TextAnalysis => TA, Decontam => DC}
    s"""WITH exact AS (
       |  SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
       |tf AS (
       |  SELECT doc_id, tok, count(*) AS tf FROM (
       |    SELECT doc_id, unnest(string_split(text, ' ')) AS tok
       |    FROM documents)
       |  GROUP BY 1, 2),
       |qstats AS (
       |  SELECT doc_id, sum(tf) AS n_tok, count(*) AS n_distinct,
       |    max(tf) AS max_tf
       |  FROM tf GROUP BY 1),
       |quality AS (
       |  SELECT doc_id FROM qstats
       |  WHERE n_tok >= ${TA.qfMinTokens} AND n_tok <= ${TA.qfMaxTokens}
       |    AND max_tf * 4 <= n_tok AND n_distinct * 10 >= n_tok * 3),
       |words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       |grams AS (
       |  SELECT doc_id,
       |    CASE WHEN len(w) >= ${DC.gramLen} THEN list_distinct(
       |      list_transform(generate_series(1, len(w) - ${DC.gramLen - 1}),
       |        i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' ||
       |          w[i+3] || ' ' || w[i+4]))
       |    ELSE CAST([] AS VARCHAR[]) END AS g
       |  FROM words),
       |eval_grams AS (
       |  SELECT DISTINCT unnest(g) AS gram FROM grams
       |  WHERE doc_id % ${DC.evalMod} = 0),
       |tp AS (
       |  SELECT doc_id, unnest(g) AS gram FROM grams
       |  WHERE doc_id % ${DC.evalMod} <> 0),
       |hit AS (
       |  SELECT tp.doc_id, count(*) AS n_grams,
       |    sum(CASE WHEN e.gram IS NOT NULL THEN 1 ELSE 0 END) AS n_overlap
       |  FROM tp LEFT JOIN eval_grams e USING (gram) GROUP BY 1),
       |train AS (
       |  SELECT g.doc_id, coalesce(h.n_grams, 0) AS n_grams,
       |    coalesce(h.n_overlap, 0) AS n_overlap
       |  FROM grams g LEFT JOIN hit h ON h.doc_id = g.doc_id
       |  WHERE g.doc_id % ${DC.evalMod} <> 0),
       |decontam AS (
       |  SELECT doc_id FROM train
       |  WHERE NOT (n_grams > 0 AND n_overlap * ${DC.contamPctX5} >= n_grams)),
       |flags AS (
       |  SELECT d.doc_id,
       |    (e.doc_id IS NOT NULL) AS s1,
       |    (q.doc_id IS NOT NULL) AS s2,
       |    (c.doc_id IS NOT NULL) AS s3
       |  FROM documents d
       |  LEFT JOIN exact e ON e.doc_id = d.doc_id
       |  LEFT JOIN quality q ON q.doc_id = d.doc_id
       |  LEFT JOIN decontam c ON c.doc_id = d.doc_id),
       |agg AS (
       |  SELECT count(*) AS n0,
       |    sum(CASE WHEN s1 THEN 1 ELSE 0 END) AS n1,
       |    sum(CASE WHEN s1 AND s2 THEN 1 ELSE 0 END) AS n2,
       |    sum(CASE WHEN s1 AND s2 AND s3 THEN 1 ELSE 0 END) AS n3
       |  FROM flags)
       |SELECT 0 AS stage, 'total' AS name, CAST(n0 AS BIGINT) AS n_docs,
       |  CAST(0 AS BIGINT) AS n_dropped FROM agg
       |UNION ALL SELECT 1, 'exact_dedup', CAST(n1 AS BIGINT),
       |  CAST(n0 - n1 AS BIGINT) FROM agg
       |UNION ALL SELECT 2, 'quality', CAST(n2 AS BIGINT),
       |  CAST(n1 - n2 AS BIGINT) FROM agg
       |UNION ALL SELECT 3, 'decontam_holdout', CAST(n3 AS BIGINT),
       |  CAST(n2 - n3 AS BIGINT) FROM agg
       |ORDER BY stage""".stripMargin
  }

  /** Hashed-feature bucket count for [[dsirWeights]]. */
  private val dsirBuckets = 64L

  /** DSIR-STYLE IMPORTANCE WEIGHTS (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling") — the
    * domain-targeting selector the mixture family lacked:
    * [[mixturePlan]]/[[temperatureMixture]] reweight whole SOURCES;
    * DSIR scores each DOCUMENT by how target-like its hashed n-gram
    * profile is, log w(x) = Σ_b c_x[b]·(ln p_target[b] − ln p_raw[b])
    * over [[dsirBuckets]] hashed unigram buckets (target = the 'en'
    * slice standing in for the high-quality domain), then resamples
    * by weight. The hashed feature space is what makes it a QUERY:
    * two bounded bucket censuses, not an LM.
    *
    * Determinism: bucket counts are exact integers (md5-hash
    * bucketing, the established cross-engine idiom); both bucket
    * log-ratios are Laplace-smoothed pinned expressions; the per-doc
    * Σ over ≤64 buckets rounds 4dp ([[TextAnalysis.lmScore]]
    * summation-order precedent); top-20 orders on the ROUNDED
    * per-token weight with doc_id tiebreak.
    *
    * Scale: one token-bucket census per side (map-side combinable,
    * 64 rows out), the 64-row log-ratio table broadcasts, and the
    * per-doc aggregate keys on doc_id — text never shuffles. The
    * 100 TB form is identical; only the census shrinks further
    * relative to the corpus. */
  def dsirWeights(s: SparkSession, d: String): DataFrame = {
    val b = dsirBuckets
    val toks = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), col("source"),
        explode(split(col("text"), " ")).as("tok"))
      .select(col("doc_id"), col("lang"), col("source"),
        (conv(substring(md5(col("tok")), 1, 15), 16, 10)
          .cast("long") % b).as("bkt"))
    // r15: the tokenize + per-token md5 subtree was evaluated TWICE (once
    // under the bucket census, once under the per-doc rollup) — the most
    // expensive expression in the query paid double. One (doc, bkt)
    // aggregate is now pinned and BOTH the census and the rollup derive
    // from it (sum of per-doc counts ≡ per-token count, incl. the
    // lang='en' conditional), so text tokenizes exactly once.
    val docBkt = toks
      .groupBy(col("doc_id"), col("lang"), col("source"), col("bkt"))
      .agg(count(lit(1)).cast("long").as("c"))
      .pin()
    val census = docBkt.groupBy("bkt")
      .agg(sum(col("c")).cast("long").as("cr"),
        sum(when(col("lang") === "en", col("c")).otherwise(0L)).as("ct"))
    val totals = census.agg(sum(col("cr")).cast("long").as("nr"),
      sum(col("ct")).cast("long").as("nt"))
    val lr = census.crossJoin(broadcast(totals))
      .select(col("bkt"),
        (log((col("ct") + 1).cast("double") /
          (col("nt") + b).cast("double")) -
          log((col("cr") + 1).cast("double") /
            (col("nr") + b).cast("double"))).as("lr"))
    docBkt
      .join(broadcast(lr), Seq("bkt"))
      .groupBy(col("doc_id"), col("lang"), col("source"))
      .agg(sum(col("c")).cast("long").as("n_toks"),
        sum(col("c").cast("double") * col("lr")).as("lw"))
      .select(col("doc_id"), col("lang"), col("source"), col("n_toks"),
        round(col("lw"), 4).as("log_weight"),
        round(col("lw") / col("n_toks").cast("double"), 4)
          .as("log_weight_per_tok"))
      .orderBy(col("log_weight_per_tok").desc, col("doc_id"))
      .limit(20)
  }

  val dsirWeightsSql: String =
    """WITH toks AS (
      |  SELECT doc_id, lang, source,
      |    CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) % 64 AS bkt
      |  FROM (SELECT doc_id, lang, source,
      |          unnest(string_split(text, ' ')) AS tok
      |        FROM documents)),
      |census AS (
      |  SELECT bkt, CAST(count(*) AS BIGINT) AS cr,
      |    CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS ct
      |  FROM toks GROUP BY bkt),
      |totals AS (
      |  SELECT CAST(sum(cr) AS BIGINT) AS nr, CAST(sum(ct) AS BIGINT) AS nt
      |  FROM census),
      |lr AS (
      |  SELECT bkt,
      |    ln(CAST(ct + 1 AS DOUBLE) / CAST(nt + 64 AS DOUBLE)) -
      |    ln(CAST(cr + 1 AS DOUBLE) / CAST(nr + 64 AS DOUBLE)) AS lr
      |  FROM census CROSS JOIN totals),
      |perdoc AS (
      |  SELECT doc_id, lang, source, bkt, CAST(count(*) AS BIGINT) AS c
      |  FROM toks GROUP BY 1, 2, 3, 4)
      |SELECT doc_id, lang, source,
      |  CAST(sum(c) AS BIGINT) AS n_toks,
      |  round(sum(CAST(c AS DOUBLE) * lr.lr), 4) AS log_weight,
      |  round(sum(CAST(c AS DOUBLE) * lr.lr)
      |    / CAST(sum(c) AS DOUBLE), 4) AS log_weight_per_tok
      |FROM perdoc JOIN lr ON lr.bkt = perdoc.bkt
      |GROUP BY doc_id, lang, source
      |ORDER BY log_weight_per_tok DESC, doc_id
      |LIMIT 20""".stripMargin
}
