package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Approximate ("sketch") aggregation operators — the cardinality /
  * quantile estimators a 100 TB pipeline uses where exact answers cost a
  * full shuffle of distinct values.
  *
  * - `approx_count_distinct` = HyperLogLog++: fixed-size sketch per
  *   group, map-side combinable, error ~2.3% at the default rsd.
  * - `approx_percentile` = a mergeable quantile summary (Greenwald-
  *   Khanna-style): bounded memory, one pass.
  *
  * Approximate outputs are engine-specific (DuckDB's estimators differ),
  * so the raw estimates can never be hash-compared — but Spark's
  * estimators are DETERMINISTIC (HLL++ and the quantile summary are
  * hash/rank-based, seed-free), so their error against the in-query
  * exact values is a reproducible constant. The graded query therefore
  * emits the exact values (oracle-able directly) plus error-bound
  * BOOLEANS the oracle asserts as TRUE constants: the estimator's
  * contract is what's graded, the estimate itself stays approximate.
  * SketchSpec additionally asserts the raw estimates.
  *
  * The DETERMINISTIC sketch family ([[detHll]], [[kmvDistinct]],
  * [[amsF2]]) goes further: each sketch is rebuilt from first
  * principles on md5-derived hashes, so BOTH engines compute the
  * identical sketch and the oracle grades the ESTIMATE itself, not
  * just its bound — the strongest possible cross-engine proof that
  * the sketch math is right. Exactness rests on three facts: (a) all
  * register/sign/order statistics are exact integers; (b) the only
  * doubles are sums of dyadic rationals (2^-M_j — exact in IEEE
  * regardless of summation order) or single divisions of identical
  * exact inputs; (c) thresholds compare the same double on both
  * engines, so branches can never split.
  */
object Sketches {

  /** Relative standard deviation requested from approx_count_distinct —
    * tighter than the 0.05 default because the graded bound below needs
    * real headroom (at the default, observed error reached 5.7% on this
    * corpus; at 0.02 it stays ~1%). */
  private val hllRsd = 0.02
  /** Relative-error bound asserted for the HLL++ estimate — ~5× the
    * observed maximum across SFs (headroom measured, not hoped). */
  private val hllRelErrBound = 0.10
  /** Relative-error bound for approx_percentile at the default accuracy
    * (rank error ≤ n/10000 — value-space slack for it). */
  private val pctRelErrBound = 0.02

  // NOTE: the floors must be DECLARED before the oracle-SQL vals that
  // interpolate them — Scala object vals initialize in declaration
  // order, and a forward reference silently reads the default 0 into
  // the SQL string (the r14 edge sweep caught exactly that: an oracle
  // gating at >= 0 while the engine gated at >= 10).
  /** PER-CONTRACT grading floors (ADVICE r13 replaced the one blanket
    * n≥100 floor, which was 5× looser than any bound's actual
    * resolution). Each floor is the smallest input where the asserted
    * band is at least one resolution step wide, so a failure below it
    * says nothing about the sketch:
    *  - [[hllContractFloor]]: a ±[[hllRelErrBound]] RELATIVE band on an
    *    integer cardinality spans one integer only once the exact count
    *    reaches 1/bound = 10 — gated on `custkeys_exact`, not row count
    *    (a million rows of one customer still can't grade a ±10% band).
    *  - [[kllContractFloor]]: the ±[[kllRankErrBound]]·n rank window
    *    spans one rank at n = 1/bound = 20.
    *  - [[pctContractFloor]]: the ±[[pctRelErrBound]] VALUE band has no
    *    scale-free resolution step (one interpolation gap is
    *    data-dependent), so this floor is EMPIRICAL: on the o_totalprice
    *    / l_extendedprice domains one gap stays inside ±2% from ~100
    *    rows up, and the single-customer edge sweep showed legitimate
    *    sub-100 flips. Kept at 100 and documented as empirical.
    * Below a floor the contract now reads NULL (ungraded), never TRUE. */
  /** Absolute RANK-error bound asserted for the custom
    * [[graft.functions.QuantileSketch]] estimates: the exact rank of the
    * estimated quantile value must sit within ±5% · n of the target
    * rank. Rank error (not value error) is what a quantile sketch
    * actually bounds — value error is data-scale-dependent. Declared
    * here, above the floors, so [[kllContractFloor]] can DERIVE from it
    * (ADVICE r14: the floor was a hardcoded 20L that would silently
    * stop matching the "one rank step" derivation if this bound were
    * ever tuned). */
  val kllRankErrBound = 0.05

  private val hllContractFloor = math.ceil(1.0 / hllRelErrBound).toLong
  private val kllContractFloor = math.ceil(1.0 / kllRankErrBound).toLong
  private val pctContractFloor = 100L

  /** Per-orderstatus cardinality + quantile sketches graded through
    * their error contracts: one pass, partial aggregation on every map
    * task; exact companions ride the same aggregate. The exact
    * percentile is the verifier only — its state is O(distinct values
    * per group) while the sketches stay fixed-size, which is the whole
    * point at 100 TB. */
  def orderSketches(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .groupBy("o_orderstatus")
      .agg(
        count("*").as("n_rows"),
        countDistinct("o_custkey").as("custkeys_exact"),
        approx_count_distinct(col("o_custkey"), hllRsd).as("ck_approx"),
        expr("approx_percentile(o_totalprice, 0.5)").as("p50_est"),
        expr("percentile(o_totalprice, 0.5)").as("p50_exact"),
        expr("approx_percentile(o_totalprice, 0.95)").as("p95_est"),
        expr("percentile(o_totalprice, 0.95)").as("p95_exact"),
        min("o_totalprice").as("price_min"),
        max("o_totalprice").as("price_max"))
      .select(col("o_orderstatus"), col("n_rows"), col("custkeys_exact"),
        // Contracts are NULL (ungraded) below their per-contract
        // resolution floors, never vacuously TRUE (ADVICE r13): a
        // reader of the graded artifact can now tell "passed" from
        // "too small to grade", and a sketch defect that only shows on
        // small groups reads as an ungraded NULL instead of a fake
        // pass. The oracle mirrors each CASE, so the gate still
        // hash-compares on every corpus including the degenerate edge
        // sweeps (where sub-floor groups produce NULL on both engines).
        when(col("custkeys_exact") >= hllContractFloor,
          abs(col("ck_approx") - col("custkeys_exact")).cast("double") <=
          lit(hllRelErrBound) * col("custkeys_exact").cast("double")).as("hll_ok"),
        when(col("n_rows") >= pctContractFloor,
          abs(col("p50_est").cast("double") - col("p50_exact")) <=
          lit(pctRelErrBound) * col("p50_exact")).as("p50_ok"),
        when(col("n_rows") >= pctContractFloor,
          abs(col("p95_est").cast("double") - col("p95_exact")) <=
          lit(pctRelErrBound) * col("p95_exact")).as("p95_ok"),
        col("price_min"), col("price_max"))

  val orderSketchesSql: String =
    s"""SELECT o_orderstatus, count(*) AS n_rows,
      |  CAST(count(DISTINCT o_custkey) AS BIGINT) AS custkeys_exact,
      |  CASE WHEN count(DISTINCT o_custkey) >= $hllContractFloor
      |       THEN TRUE END AS hll_ok,
      |  CASE WHEN count(*) >= $pctContractFloor THEN TRUE END AS p50_ok,
      |  CASE WHEN count(*) >= $pctContractFloor THEN TRUE END AS p95_ok,
      |  min(o_totalprice) AS price_min, max(o_totalprice) AS price_max
      |FROM orders GROUP BY o_orderstatus""".stripMargin

  /** The CUSTOM mergeable quantile sketch ([[graft.functions
    * .QuantileSketch]], KLL-shaped, O(k log n/k) state) graded through
    * its rank contract — the bounded-memory scale path for the exact
    * `percentile` aggregate (whose per-group state is O(distinct
    * values); see Analytics scaladoc). Two passes: the sketch + exact
    * quantiles per return flag, then a rank audit that joins the 3
    * estimate rows back (broadcast) and counts rows at-or-below each
    * estimate — turning the sketch's promise into in-query booleans the
    * oracle asserts as constants, per the q_sketches policy. */
  def quantileSketchCheck(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d).select(col("l_returnflag"), col("l_extendedprice"))
    val est = li.groupBy("l_returnflag")
      .agg(graft.functions.QuantileSketch.udaf(col("l_extendedprice")).as("est"),
        round(expr("percentile(l_extendedprice, 0.25)"), 4).as("p25_exact"),
        round(expr("percentile(l_extendedprice, 0.5)"), 4).as("p50_exact"),
        round(expr("percentile(l_extendedprice, 0.75)"), 4).as("p75_exact"))
    li.join(broadcast(est), "l_returnflag")
      .groupBy("l_returnflag")
      .agg(
        count(lit(1)).as("n_rows"),
        first(col("p25_exact")).as("p25_exact"),
        first(col("p50_exact")).as("p50_exact"),
        first(col("p75_exact")).as("p75_exact"),
        sum(when(col("l_extendedprice") <= col("est").getItem(0), 1L)
          .otherwise(0L)).as("rank25"),
        sum(when(col("l_extendedprice") <= col("est").getItem(1), 1L)
          .otherwise(0L)).as("rank50"),
        sum(when(col("l_extendedprice") <= col("est").getItem(2), 1L)
          .otherwise(0L)).as("rank75"))
      .select(col("l_returnflag"), col("n_rows"),
        col("p25_exact"), col("p50_exact"), col("p75_exact"),
        // NULL (ungraded) below the rank-resolution floor: a ±5%·n rank
        // window spans one rank only from n = 20 — see
        // [[kllContractFloor]]
        when(col("n_rows") >= kllContractFloor,
          abs(col("rank25").cast("double") / col("n_rows") - 0.25) <=
          kllRankErrBound).as("sk25_ok"),
        when(col("n_rows") >= kllContractFloor,
          abs(col("rank50").cast("double") / col("n_rows") - 0.5) <=
          kllRankErrBound).as("sk50_ok"),
        when(col("n_rows") >= kllContractFloor,
          abs(col("rank75").cast("double") / col("n_rows") - 0.75) <=
          kllRankErrBound).as("sk75_ok"))
  }

  val quantileSketchCheckSql: String =
    s"""SELECT l_returnflag, count(*) AS n_rows,
      |  round(quantile_cont(l_extendedprice, 0.25), 4) AS p25_exact,
      |  round(quantile_cont(l_extendedprice, 0.5), 4) AS p50_exact,
      |  round(quantile_cont(l_extendedprice, 0.75), 4) AS p75_exact,
      |  CASE WHEN count(*) >= $kllContractFloor THEN TRUE END AS sk25_ok,
      |  CASE WHEN count(*) >= $kllContractFloor THEN TRUE END AS sk50_ok,
      |  CASE WHEN count(*) >= $kllContractFloor THEN TRUE END AS sk75_ok
      |FROM lineitem GROUP BY l_returnflag""".stripMargin

  /** Relative-error bound asserted for the inclusion-exclusion overlap
    * estimate: three HLL estimates compound, so the slack is 3× the
    * single-sketch bound (each term's error ≤ [[hllRelErrBound]] of its
    * own cardinality ≤ of the union). */
  private val overlapRelErrBound = 3 * hllRelErrBound

  /** AUDIENCE OVERLAP — |view-days ∩ purchase-days| by
    * inclusion-exclusion over HLL sketches (|A|+|B|−|A∪B|), the
    * standard trick because HLL unions are lossless but intersections
    * don't exist; next to the EXACT overlap computed in the same pass
    * (conditional distinct counts, one Expand-planned aggregate, no
    * self-join). Audience unit = USER-DAY (user_id composited with the
    * epoch day into one long — every user here touches every type
    * eventually, so user grain would be degenerate; at day grain the
    * overlap is a real ~35%). The exact quad oracles directly; the
    * estimate grades through its contract boolean (the q_sketches
    * policy). At 100 TB the exact side is the one you can't afford
    * (full distinct shuffle) and the sketch row is the product:
    * per-segment overlap matrices from mergeable per-segment
    * sketches. */
  def audienceOverlap(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .select(col("event_type"),
        (col("user_id") * lit(1048576L) +
          datediff(to_date(col("ts")), lit("1970-01-01").cast("date")))
          .as("ud"))
    def seg(t: String) = when(col("event_type") === t, col("ud"))
    val segU = when(col("event_type") === "view" ||
      col("event_type") === "purchase", col("ud"))
    ev.agg(
        countDistinct(seg("view")).as("viewers"),
        countDistinct(seg("purchase")).as("buyers"),
        countDistinct(segU).as("either"),
        approx_count_distinct(seg("view"), hllRsd).as("e_v"),
        approx_count_distinct(seg("purchase"), hllRsd).as("e_b"),
        approx_count_distinct(segU, hllRsd).as("e_u"))
      .select(col("viewers"), col("buyers"), col("either"),
        (col("viewers") + col("buyers") - col("either")).as("overlap_exact"),
        // same NULL-below-floor discipline as [[orderSketches]]: a
        // ±30% relative band on an integer overlap resolves one
        // integer only from 1/bound = 4 up. Overlap 0 grades ONLY
        // when both segments are empty (three empty sketches must
        // estimate exactly 0); disjoint NONEMPTY segments at overlap 0
        // get NULL — the three HLL terms err independently there, so
        // their inclusion-exclusion difference is generically nonzero
        // and a zero-width band would be a gate mismatch waiting for a
        // large disjoint corpus (ADVICE r14).
        when(((col("viewers") + col("buyers") - col("either")) === 0 &&
              col("viewers") === 0 && col("buyers") === 0) ||
            (col("viewers") + col("buyers") - col("either")) >=
              overlapContractFloor,
          abs((col("e_v") + col("e_b") - col("e_u")) -
            (col("viewers") + col("buyers") - col("either"))).cast("double")
          <= lit(overlapRelErrBound) *
            (col("viewers") + col("buyers") - col("either")).cast("double"))
          .as("overlap_est_ok"))
  }

  /** Resolution floor for [[audienceOverlap]]'s contract: smallest
    * nonzero overlap where the ±[[overlapRelErrBound]] band spans one
    * integer. Zero overlap is still graded (the band degenerates to
    * equality, which empty sketches satisfy exactly). */
  private val overlapContractFloor = math.ceil(1.0 / overlapRelErrBound).toLong

  val audienceOverlapSql: String =
    s"""WITH ev AS (
      |  SELECT event_type,
      |    user_id * 1048576 + date_diff('day', DATE '1970-01-01',
      |      CAST(ts AS DATE)) AS ud
      |  FROM events)
      |SELECT
      |  count(DISTINCT CASE WHEN event_type = 'view' THEN ud END)
      |    AS viewers,
      |  count(DISTINCT CASE WHEN event_type = 'purchase' THEN ud END)
      |    AS buyers,
      |  count(DISTINCT CASE WHEN event_type IN ('view', 'purchase')
      |    THEN ud END) AS either,
      |  count(DISTINCT CASE WHEN event_type = 'view' THEN ud END)
      |    + count(DISTINCT CASE WHEN event_type = 'purchase' THEN ud END)
      |    - count(DISTINCT CASE WHEN event_type IN ('view', 'purchase')
      |        THEN ud END) AS overlap_exact,
      |  CASE WHEN (count(DISTINCT CASE WHEN event_type = 'view' THEN ud END) = 0
      |      AND count(DISTINCT CASE WHEN event_type = 'purchase' THEN ud END) = 0)
      |    OR count(DISTINCT CASE WHEN event_type = 'view' THEN ud END)
      |    + count(DISTINCT CASE WHEN event_type = 'purchase' THEN ud END)
      |    - count(DISTINCT CASE WHEN event_type IN ('view', 'purchase')
      |        THEN ud END) >= $overlapContractFloor
      |    THEN TRUE END AS overlap_est_ok
      |FROM ev""".stripMargin

  /** Count-Min frequency estimation over the skew-planted key domain
    * (the q_heavy_hitters corpus: 3 hot keys ~70% of rows, a long cold
    * tail). The [[graft.functions.CountMin]] UDAF builds one 4×256
    * sketch per return flag; every distinct key's estimate is then read
    * back RELATIONALLY — `least` over `element_at(sketch, row·W +
    * h_j(x))` — so probing is pure column arithmetic on the broadcast
    * one-row-per-flag sketch, no second UDF. Output: the three hot
    * keys' exact vs estimated counts plus per-flag min/max slack
    * (estimate − exact) over ALL keys — min ≥ 0 IS the overestimate-only
    * guarantee, max bounds the additive error across the whole domain.
    *
    * Because CMS merge is cell-wise addition (commutative, associative,
    * merge-order independent — unlike SpaceSaving/KLL), the oracle
    * recomputes the SAME counters with a (flag, row, cell) GROUP BY and
    * the whole query hash-grades exactly: the only sketch in the
    * catalog graded cell-exact rather than via contract booleans. */
  def cmsFrequencies(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.CountMin
    val W = CountMin.width
    val p = CountMin.prime
    val keyed = Tables.lineitem(s, d)
      .select(col("l_returnflag"),
        when(col("l_partkey") % 10 < 7,
          concat(lit("hot_"), (col("l_partkey") % 3).cast("string")))
          .otherwise(concat(lit("cold_"), col("l_partkey").cast("string")))
          .as("pk"))
      .withColumn("x",
        pmod(conv(substring(md5(col("pk")), 1, 15), 16, 10).cast("long"),
          lit(p)))
    val sketch = keyed.groupBy("l_returnflag")
      .agg(CountMin.udaf(col("x")).as("sk"))
    val exact = keyed.groupBy(col("l_returnflag"), col("pk"), col("x"))
      .agg(count(lit(1)).as("c"))
    val estCols = (0 until CountMin.depth).map { j =>
      element_at(col("sk"),
        (lit(j * W) +
          ((lit(CountMin.rowA(j)) * col("x") + lit(CountMin.rowB(j))) % p) % W
          + 1).cast("int"))
    }
    val slack = Window.partitionBy("l_returnflag")
    exact.join(broadcast(sketch), Seq("l_returnflag"))
      .withColumn("est", least(estCols: _*))
      .withColumn("flag_min_slack", min(col("est") - col("c")).over(slack))
      .withColumn("flag_max_slack", max(col("est") - col("c")).over(slack))
      .filter(col("pk").startsWith("hot_"))
      .select(col("l_returnflag"), col("pk").as("item"),
        col("c").as("exact_count"), col("est").as("cms_estimate"),
        col("flag_min_slack"), col("flag_max_slack"))
  }

  val cmsFrequenciesSql: String = {
    import graft.functions.CountMin
    val rows = (0 until CountMin.depth).map { j =>
      s"(${j}, ${CountMin.rowA(j)}, ${CountMin.rowB(j)})"
    }.mkString(", ")
    s"""WITH keyed AS (
       |  SELECT l_returnflag,
       |    CASE WHEN l_partkey % 10 < 7
       |         THEN 'hot_' || CAST(l_partkey % 3 AS VARCHAR)
       |         ELSE 'cold_' || CAST(l_partkey AS VARCHAR) END AS pk
       |  FROM lineitem),
       |hx AS (
       |  SELECT l_returnflag, pk,
       |    CAST(('0x' || substr(md5(pk), 1, 15)) AS BIGINT)
       |      % ${CountMin.prime} AS x
       |  FROM keyed),
       |hrows(j, a, b) AS (VALUES $rows),
       |exact AS (
       |  SELECT l_returnflag, pk, x, count(*) AS c FROM hx GROUP BY 1, 2, 3),
       |cells AS (
       |  SELECT h.l_returnflag, r.j,
       |    ((r.a * h.x + r.b) % ${CountMin.prime}) % ${CountMin.width} AS cell,
       |    count(*) AS cc
       |  FROM hx h CROSS JOIN hrows r
       |  GROUP BY 1, 2, 3),
       |est AS (
       |  SELECT e.l_returnflag, e.pk, e.c, CAST(min(c2.cc) AS BIGINT) AS est
       |  FROM exact e
       |  JOIN hrows r ON true
       |  JOIN cells c2 ON c2.l_returnflag = e.l_returnflag AND c2.j = r.j
       |    AND c2.cell = ((r.a * e.x + r.b) % ${CountMin.prime})
       |      % ${CountMin.width}
       |  GROUP BY 1, 2, 3)
       |SELECT * FROM (
       |  SELECT l_returnflag, pk AS item, c AS exact_count,
       |    est AS cms_estimate,
       |    CAST(min(est - c) OVER f AS BIGINT) AS flag_min_slack,
       |    CAST(max(est - c) OVER f AS BIGINT) AS flag_max_slack
       |  FROM est
       |  WINDOW f AS (PARTITION BY l_returnflag))
       |WHERE item LIKE 'hot%'""".stripMargin
  }

  // ---------------------------------------------------------------------
  // Deterministic sketch family — estimate-graded, not just bound-graded
  // ---------------------------------------------------------------------

  /** HLL registers: m = 64 (6 index bits off a 32-bit md5 prefix). */
  val hllDetM = 64
  /** α₆₄ from Flajolet et al. 2007 for m = 64 (pinned literal). */
  val hllDetAlpha = 0.709
  /** Relative-error bound for the 64-register estimate: theoretical σ is
    * 1.04/√64 ≈ 0.13. Measured |err| on this corpus: 0.208 (sf0.001,
    * linear-counting branch with 10/64 empty registers — a high but
    * in-range draw for that load factor), 0.022 (sf0.01), 0.010
    * (sf0.1). Bound sits above the measured max with margin. */
  val hllDetBound = 0.30

  /** DETERMINISTIC HyperLogLog over `orders.o_custkey`, rebuilt from
    * first principles so the oracle can grade the estimate itself (see
    * object scaladoc). 32-bit hash = first 8 md5 hex chars; top 6 bits
    * pick one of 64 registers; register value = leading-zero rank of
    * the remaining 26 bits, computed EXACTLY via the bin-length trick
    * (`bin()` strips leading zeros on both engines, so rank =
    * 27 − bitlen, with the all-zero word pinned to 27). Includes the
    * paper's small-range linear-counting branch (E ≤ 2.5m and empty
    * registers present → m·ln(m/V)) — live at sf0.001 where only 150
    * custkeys exist, so both branches are gate-exercised.
    *
    * Scale: THE mergeable-cardinality shape — one hash-groupBy to 64
    * registers with map-side partial `max`, O(m) state total; register
    * frames from disjoint shards merge with `max`. The exact
    * `countDistinct` companion (O(distinct) shuffle) is the verifier,
    * exactly as in [[orderSketches]]. */
  def detHll(s: SparkSession, d: String): DataFrame = {
    val m = hllDetM
    val regs = Tables.orders(s, d)
      .select(conv(substring(md5(col("o_custkey").cast("string")), 1, 8),
        16, 10).cast("long").as("h"))
      .select(expr("h div 67108864").as("reg"),
        (col("h") % 67108864L).as("w"))
      .select(col("reg"),
        when(col("w") === 0L, lit(27))
          .otherwise(lit(27) - length(bin(col("w")))).as("rank"))
      .groupBy("reg").agg(max("rank").as("mj"))
    val st = regs.agg(count(lit(1)).as("present"),
      sum(pow(lit(2.0), -col("mj"))).as("sum_present"))
    val ex = Tables.orders(s, d)
      .agg(countDistinct("o_custkey").as("n_exact"))
    val vEmpty = lit(m.toLong) - col("present")
    val sumInv = col("sum_present") + vEmpty.cast("double")
    val rawE = lit(hllDetAlpha * m * m) / sumInv
    val est = when(rawE <= lit(2.5 * m) && vEmpty > 0L,
      lit(m.toDouble) * log(lit(m.toDouble) / vEmpty.cast("double")))
      .otherwise(rawE)
    val relErr = abs(est - col("n_exact").cast("double")) /
      col("n_exact").cast("double")
    st.crossJoin(broadcast(ex)).select(
      lit(m).as("m"), vEmpty.cast("long").as("v_empty"),
      round(sumInv, 6).as("sum_inv"),
      round(est, 4).as("hll_est"), col("n_exact"),
      round(relErr, 4).as("rel_err"),
      (relErr <= hllDetBound).as("hll_ok"))
  }

  val detHllSql: String =
    s"""WITH h AS (
       |  SELECT CAST(('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 8))
       |    AS BIGINT) AS h FROM orders),
       |r AS (
       |  SELECT h // 67108864 AS reg,
       |    max(CASE WHEN h % 67108864 = 0 THEN 27
       |             ELSE 27 - length(bin(h % 67108864)) END) AS mj
       |  FROM h GROUP BY 1),
       |st AS (
       |  SELECT count(*) AS present, sum(power(2.0, -mj)) AS sum_present
       |  FROM r),
       |ex AS (SELECT count(DISTINCT o_custkey) AS n_exact FROM orders)
       |SELECT $hllDetM AS m,
       |  CAST($hllDetM - present AS BIGINT) AS v_empty,
       |  round(sum_present + ($hllDetM - present), 6) AS sum_inv,
       |  round(CASE WHEN ${hllDetAlpha * hllDetM * hllDetM}
       |        / (sum_present + ($hllDetM - present)) <= ${2.5 * hllDetM}
       |      AND $hllDetM - present > 0
       |    THEN ${hllDetM}.0 * ln(${hllDetM}.0 / ($hllDetM - present))
       |    ELSE ${hllDetAlpha * hllDetM * hllDetM}
       |        / (sum_present + ($hllDetM - present)) END, 4) AS hll_est,
       |  n_exact,
       |  round(abs((CASE WHEN ${hllDetAlpha * hllDetM * hllDetM}
       |        / (sum_present + ($hllDetM - present)) <= ${2.5 * hllDetM}
       |      AND $hllDetM - present > 0
       |    THEN ${hllDetM}.0 * ln(${hllDetM}.0 / ($hllDetM - present))
       |    ELSE ${hllDetAlpha * hllDetM * hllDetM}
       |        / (sum_present + ($hllDetM - present)) END)
       |      - n_exact) / n_exact, 4) AS rel_err,
       |  (abs((CASE WHEN ${hllDetAlpha * hllDetM * hllDetM}
       |        / (sum_present + ($hllDetM - present)) <= ${2.5 * hllDetM}
       |      AND $hllDetM - present > 0
       |    THEN ${hllDetM}.0 * ln(${hllDetM}.0 / ($hllDetM - present))
       |    ELSE ${hllDetAlpha * hllDetM * hllDetM}
       |        / (sum_present + ($hllDetM - present)) END)
       |      - n_exact) / n_exact <= $hllDetBound) AS hll_ok
       |FROM st CROSS JOIN ex""".stripMargin

  /** KMV order statistics kept (k-th minimum hash). */
  val kmvK = 64
  /** 2^60 — the hash space size for the 15-hex-char md5 prefix. */
  val kmvSpace = 1152921504606846976.0
  /** Rel-err bound: KMV σ ≈ 1/√(k−2) ≈ 0.127. Measured |err| on this
    * corpus: 0.0 (sf0.001, exact branch), 0.034 (sf0.01), 0.296
    * (sf0.1 — a 2.3σ draw on the 1500-user set; deterministic, so it
    * is the same draw every run). Bound sits above it with margin. */
  val kmvBound = 0.40

  /** DETERMINISTIC K-Minimum-Values distinct sketch over
    * `events.user_id`: keep the k = 64 smallest 60-bit md5-prefix
    * hashes of the distinct keys; if fewer than k hashes exist the
    * sketch IS the exact answer (that branch is live at sf0.001 with
    * 15 users), else estimate (k−1)·2⁶⁰/h₍ₖ₎ — every input to the one
    * division is an exact integer (63·2⁶⁰ is a 6-bit mantissa × 2⁶⁰,
    * exactly representable), so both engines compute the identical
    * double and the oracle grades the estimate itself.
    *
    * Scale: `ORDER BY h LIMIT k` is Spark's TakeOrdered — O(k) heap
    * per partition, O(k·partitions) merged on the driver; no full
    * sort, no full shuffle. KMV sketches union by merging min-heaps —
    * the mergeable-distinct alternative when HLL's fixed error is too
    * coarse. Exact `countDistinct` rides as the verifier. */
  def kmvDistinct(s: SparkSession, d: String): DataFrame = {
    val hs = Tables.events(s, d)
      .select(conv(substring(md5(col("user_id").cast("string")), 1, 15),
        16, 10).cast("long").as("h"))
      .distinct()
    val low = hs.orderBy("h").limit(kmvK)
      .agg(max("h").as("hk"), count(lit(1)).as("k_seen"))
    val ex = Tables.events(s, d)
      .agg(countDistinct("user_id").as("n_exact"))
    val est = when(col("k_seen") < kmvK, col("k_seen").cast("double"))
      .otherwise(lit((kmvK - 1) * kmvSpace) / col("hk").cast("double"))
    // n_exact = 0 guard (empty-events edge sweep): the relative error
    // of "nothing vs nothing" is 0/0 — NULL on DuckDB, ANSI error here
    val relErr = when(col("n_exact") === 0L, lit(null).cast("double"))
      .otherwise(abs(est - col("n_exact").cast("double")) /
        col("n_exact").cast("double"))
    low.crossJoin(broadcast(ex)).select(
      lit(kmvK).as("k"), col("k_seen"), col("hk"),
      round(est, 4).as("kmv_est"), col("n_exact"),
      round(relErr, 4).as("rel_err"),
      (relErr <= kmvBound).as("kmv_ok"))
  }

  val kmvDistinctSql: String =
    s"""WITH hs AS (
       |  SELECT DISTINCT CAST(('0x' ||
       |      substr(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
       |  FROM events),
       |low AS (
       |  SELECT max(h) AS hk, count(*) AS k_seen
       |  FROM (SELECT h FROM hs ORDER BY h LIMIT $kmvK)),
       |ex AS (SELECT count(DISTINCT user_id) AS n_exact FROM events),
       |e AS (
       |  SELECT hk, k_seen, n_exact,
       |    CASE WHEN k_seen < $kmvK THEN CAST(k_seen AS DOUBLE)
       |         ELSE ${(kmvK - 1).toDouble} * $kmvSpace / hk END AS est
       |  FROM low CROSS JOIN ex)
       |SELECT $kmvK AS k, k_seen, hk, round(est, 4) AS kmv_est, n_exact,
       |  round(abs(est - n_exact) / n_exact, 4) AS rel_err,
       |  (abs(est - n_exact) / n_exact <= $kmvBound) AS kmv_ok
       |FROM e""".stripMargin

  /** AMS estimators: 5 groups × 5 sign bits = 25 ±1 hash functions off
    * the 60-bit md5 prefix (bit e of the hash → sign 2·bit−1). */
  val amsGroups = 5
  val amsPerGroup = 5
  /** Rel-err bound: a single AMS estimator has Var ≤ 2·F2²; averaging
    * 5 then taking the median-of-5 concentrates it. Measured |err| on
    * this corpus: 0.083 (sf0.001), 0.014 (sf0.01), 0.336 (sf0.1) —
    * bound ~2.4× the observed max. */
  val amsBound = 0.80

  /** DETERMINISTIC Alon–Matthias–Szegedy F₂ sketch (second frequency
    * moment of the `events.user_id` frequency vector — the "repeat
    * rate" / self-join size statistic): 25 sign-sums X_e =
    * Σ rows ±1(user), squared, averaged in 5 groups of 5, median of
    * the group means. EVERY X_e is an exact integer sum, so the final
    * median is deterministic to the bit on both engines; the oracle
    * grades the estimate, the exact Σc² companion (O(distinct) state)
    * is the verifier.
    *
    * Scale: the whole sketch is ONE aggregate with 25 long-sum
    * partials — O(1) state, map-side combinable, no shuffle of keys
    * at all; this is the sketch that estimates self-join sizes at
    * 100 TB where even a distinct-count shuffle is too expensive. */
  def amsF2(s: SparkSession, d: String): DataFrame = {
    val withH = Tables.events(s, d)
      .select(conv(substring(md5(col("user_id").cast("string")), 1, 15),
        16, 10).cast("long").as("h"))
    val signSums = (0 until amsGroups * amsPerGroup).map { e =>
      sum(expr(s"(h div ${1L << e}) % 2 * 2 - 1")).as(s"x$e")
    }
    val sums = withH.agg(signSums.head, signSums.tail: _*)
    val groupMeans = (0 until amsGroups).map { g =>
      val sq = (0 until amsPerGroup)
        .map(i => col(s"x${g * amsPerGroup + i}") * col(s"x${g * amsPerGroup + i}"))
        .reduce(_ + _)
      (sq.cast("double") / amsPerGroup).as(s"m$g")
    }
    val exact = Tables.events(s, d).groupBy("user_id")
      .agg(count(lit(1)).as("c"))
      .agg(sum(col("c") * col("c")).cast("long").as("f2_exact"))
    val med = element_at(
      array_sort(array((0 until amsGroups).map(g => col(s"m$g")): _*)),
      amsGroups / 2 + 1)
    val relErr = abs(med - col("f2_exact").cast("double")) /
      col("f2_exact").cast("double")
    sums.select(groupMeans: _*).crossJoin(broadcast(exact))
      .select(round(med, 4).as("f2_ams"), col("f2_exact"),
        round(relErr, 4).as("rel_err"),
        (relErr <= amsBound).as("ams_ok"))
  }

  val amsF2Sql: String = {
    val xs = (0 until amsGroups * amsPerGroup).map { e =>
      s"sum((h // ${1L << e}) % 2 * 2 - 1) AS x$e"
    }.mkString(",\n       |    ")
    val ms = (0 until amsGroups).map { g =>
      val sq = (0 until amsPerGroup)
        .map(i => s"CAST(x${g * amsPerGroup + i} AS DOUBLE) * x${g * amsPerGroup + i}")
        .mkString(" + ")
      s"($sq) / $amsPerGroup AS m$g"
    }.mkString(",\n       |    ")
    val medExpr = "list_sort([m0, m1, m2, m3, m4])[" +
      s"${amsGroups / 2 + 1}]"
    s"""WITH h AS (
       |  SELECT CAST(('0x' ||
       |      substr(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
       |  FROM events),
       |sums AS (
       |  SELECT
       |    $xs
       |  FROM h),
       |gm AS (
       |  SELECT
       |    $ms
       |  FROM sums),
       |ex AS (
       |  SELECT CAST(sum(c * c) AS BIGINT) AS f2_exact FROM (
       |    SELECT count(*) AS c FROM events GROUP BY user_id))
       |SELECT round($medExpr, 4) AS f2_ams, f2_exact,
       |  round(abs($medExpr - f2_exact) / f2_exact, 4) AS rel_err,
       |  (abs($medExpr - f2_exact) / f2_exact <= $amsBound) AS ams_ok
       |FROM gm CROSS JOIN ex""".stripMargin
  }
}
