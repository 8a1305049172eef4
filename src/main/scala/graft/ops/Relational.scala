package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Tables

/** Relational query surface over the harness testdata: the reference's
  * parity shapes (scan/project/filter/union/cast/distinct — SURVEY.md §2)
  * plus the §2.7 completeness checklist (joins of every flavor, aggregates,
  * windows, sorts/limits, set ops, rollup, scalar functions, subqueries).
  *
  * Every query here is DuckDB-oracle-verified (SparkEntry.oracleSql), so all
  * are written for cross-engine determinism:
  *  - double aggregation goes through exact DECIMAL casts, then a final
  *    cast to double — identical IEEE result in both engines regardless of
  *    partial-aggregation order (SURVEY.md §7.5 nondeterminism risk);
  *  - every ORDER BY carries a unique-key tiebreak;
  *  - no current_date()/rand()/input_file_name in verified queries.
  *
  * Scale notes are on each operator; the common posture: filters/projections
  * stay declarative (parquet pushdown + pruning), dimension joins are
  * explicitly broadcast, aggregations rely on partial (map-side) agg, and
  * nothing collects to the driver.
  */
object Relational {

  /** Timestamp literal resolved in the session timezone (UTC per build.sbt
    * and every entrypoint) — unlike java.sql.Timestamp.valueOf, which
    * parses in the JVM default zone and silently diverges from the DuckDB
    * oracle on a non-UTC host (ADVICE r1). */
  private[ops] def ts(v: String): Column = to_timestamp(lit(v))

  /** Exact sum of a double column: cast to DECIMAL(18,2) (testdata doubles
    * carry 2 decimals), sum exactly, cast back — order-insensitive. */
  private[graft] def dsum(c: Column): Column = sum(c.cast(DecimalType(18, 2))).cast("double")

  /** Order-insensitive average: exact decimal sum / count, divided as
    * doubles (identical IEEE division in Spark and DuckDB). */
  private def davg(c: Column): Column =
    (sum(c.cast(DecimalType(18, 2))).cast("double") / count(c).cast("double"))

  // ---------------------------------------------------------------- parity

  /** P-1/P-2 + pushdown: explicit projection with a pushed filter. The plan
    * must show PushedFilters + a 4-column ReadSchema on the parquet scan. */
  def scanProject(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .filter(col("l_quantity") < 5)
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")

  /** P-3: the flagship export shape — star projection, run-date equality
    * (`SELECT * FROM listings WHERE load_date = CURRENT_DATE`, dag:149),
    * parameterized to a literal date per SURVEY §7.1. Partition/row-group
    * pruning makes this metadata-cheap at 100 TB. */
  def filterDateEq(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .filter(col("o_orderdate") === ts("1995-03-01 00:00:00"))

  /** S-4: snapshot union-all — two date slices of the same table unioned,
    * a single multi-source scan with no shuffle. */
  def unionSnapshots(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
    val jan = o.filter(col("o_orderdate") >= ts("1995-01-01 00:00:00") &&
      col("o_orderdate") < ts("1995-02-01 00:00:00"))
    val feb = o.filter(col("o_orderdate") >= ts("1995-02-01 00:00:00") &&
      col("o_orderdate") < ts("1995-03-01 00:00:00"))
    jan.unionByName(feb)
  }

  /** D-3: explicit text/number/date casting (COPY's cast-at-ingest). FLOOR
    * before int cast pins the double→int rule both engines agree on. */
  def castTypes(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .select(
        col("l_orderkey").cast("string").as("key_str"),
        floor(col("l_quantity")).cast("int").as("qty_int"),
        // decimal→double at the end: the driver's hasher renders DECIMAL
        // differently across engines even when values agree (ADVICE r1)
        col("l_extendedprice").cast(DecimalType(18, 2)).cast("double").as("price_dec"),
        col("l_shipdate").cast("date").as("ship_date"))

  /** F-3 NULL semantics: nullif/coalesce round-trip (the engine-internal
    * face of the \N-in / empty-out boundary handling). */
  def nullHandling(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(
        col("doc_id"),
        nullif(col("lang"), lit("en")).as("lang_or_null"),
        coalesce(nullif(col("lang"), lit("en")), lit("unknown")).as("lang_norm"),
        col("lang").isNull.as("was_null"))

  /** Distinct (exact dedup primitive): shuffle on the dedup key only. */
  def distinctSegments(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d).select("c_mktsegment").distinct()

  // ---------------------------------------------------- aggregation

  /** TPC-H Q1 shape: full-scan group-aggregate with partial (map-side)
    * aggregation — 6 groups means the shuffle moves 6 rows per partition
    * no matter the scale factor. */
  def q1PricingSummary(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") <= ts("2000-12-01 00:00:00"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base_price"),
        sum(col("l_extendedprice").cast(DecimalType(18, 2)) *
          (lit(1).cast(DecimalType(18, 2)) - col("l_discount").cast(DecimalType(18, 2))))
          .cast("double").as("sum_disc_price"),
        davg(col("l_quantity")).as("avg_qty"),
        davg(col("l_extendedprice")).as("avg_price"),
        davg(col("l_discount")).as("avg_disc"),
        count(lit(1)).as("count_order"))

  /** ROLLUP hierarchy aggregate (grouping-sets surface).
    *
    * EMPTY-INPUT CONTRACT (here, because this is where the semantics
    * live — ADVICE r13 asked for it to be specified with the operator,
    * not only beside the oracle SQL): over ZERO input rows this engine
    * emits ZERO rows, dropping the SQL-standard grand-total row (the
    * `()` grouping set would emit `n = 0, total NULL`). That is Spark's
    * native grouping-sets behavior: ROLLUP/CUBE plan as Expand +
    * grouped aggregation on `spark_grouping_id`, and a GROUPED
    * aggregate over empty input has no groups — there is no un-grouped
    * fallback row to synthesize without a correctness-risky
    * union-if-empty append on every call. The contract is deliberate:
    * downstream consumers of a rollup frame key on the grouping
    * columns and treat "no row" and "zero-count row" identically, and
    * a synthesized all-NULL row is indistinguishable from a legitimate
    * NULL-valued group on nullable grouping columns. The oracle
    * mirrors the contract with `HAVING count(*) > 0` (inert on any
    * non-empty input — the grand-total row is the only zero-count row
    * either engine can produce). Same contract for [[cubeEvents]] and
    * the global-aggregate-over-empty family (chi-square etc.). */
  def rollupOrders(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .rollup("o_orderstatus", "o_orderpriority")
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))

  /** CUBE over events: all grouping-set combinations of (type,
    * hour-of-day). Empty-input contract: zero rows — see
    * [[rollupOrders]]. */
  def cubeEvents(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .withColumn("hour_of_day", hour(col("ts")))
      .cube("event_type", "hour_of_day")
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("total_value"))

  /** Conditional aggregation (CASE WHEN inside agg). */
  def caseWhenAgg(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(
        sum(when(col("l_discount") > 0.05, 1).otherwise(0)).as("n_high_disc"),
        sum(when(col("l_tax") === 0.0, 1).otherwise(0)).as("n_no_tax"),
        count(lit(1)).as("n"))

  // ---------------------------------------------------------- joins

  /** TPC-H Q3 shape: fact-fact shuffle join + broadcast dim filter + agg +
    * deterministic top-k. customer is broadcast (small dim); orders ⋈
    * lineitem shuffles on the join key — at 100 TB, AQE handles skew and
    * the group-by reuses the join partitioning. */
  def q3ShippingPriority(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING")
    val o = Tables.orders(s, d)
      .filter(col("o_orderdate") < ts("1998-01-01 00:00:00"))
    val l = Tables.lineitem(s, d)
      .filter(col("l_shipdate") > ts("1998-01-01 00:00:00"))
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .groupBy(o("o_orderkey"), o("o_orderdate"), o("o_orderpriority"))
      .agg(sum(col("l_extendedprice").cast(DecimalType(18, 2)) *
        (lit(1).cast(DecimalType(18, 2)) - col("l_discount").cast(DecimalType(18, 2))))
        .cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("o_orderkey"))
      .limit(10)
  }

  /** TPC-H Q5 shape: 6-table join (lineitem ⋈ orders ⋈ customer ⋈
    * supplier ⋈ nation ⋈ region) with the local-supplier predicate
    * (customer and supplier in the same nation), region filter, group by
    * nation. Exercises Catalyst join ordering: the three dims broadcast;
    * the two fact joins shuffle; the nation-equality becomes a join-side
    * filter. */
  def q5LocalSupplierVolume(s: SparkSession, d: String): DataFrame = {
    val l = Tables.lineitem(s, d)
    val o = Tables.orders(s, d)
      .filter(col("o_orderdate") >= ts("1995-01-01 00:00:00") &&
        col("o_orderdate") < ts("1996-01-01 00:00:00"))
    val c = Tables.customer(s, d)
    val su = Tables.supplier(s, d)
    val n = Tables.nation(s, d)
    val r = Tables.region(s, d).filter(col("r_name") === "ASIA")
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .join(broadcast(su), l("l_suppkey") === su("s_suppkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .filter(c("c_nationkey") === su("s_nationkey"))
      .join(broadcast(n), su("s_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy(col("n_name"))
      .agg(sum(col("l_extendedprice").cast(DecimalType(18, 2)) *
        (lit(1).cast(DecimalType(18, 2)) - col("l_discount").cast(DecimalType(18, 2))))
        .cast("double").as("revenue"))
  }

  /** TPC-H Q12 shape: join + CASE-bucketed conditional aggregation
    * (high/low priority line counts per return flag). */
  def q12PriorityBuckets(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .filter(col("l_shipdate") >= ts("1995-01-01 00:00:00") &&
        col("l_shipdate") < ts("1996-01-01 00:00:00"))
      .groupBy("l_returnflag")
      .agg(
        sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L).otherwise(0L))
          .as("high_line_count"),
        sum(when(!col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L).otherwise(0L))
          .as("low_line_count"))

  /** TPC-H Q14 shape: ratio of a conditional aggregate to a total — the
    * promo-revenue percentage. One join, two decimal-exact sums, one
    * final double division (a single IEEE op, oracle-exact). */
  def q14PromoRevenue(s: SparkSession, d: String): DataFrame = {
    val rev = col("l_extendedprice").cast(DecimalType(18, 2)) *
      (lit(1).cast(DecimalType(18, 2)) - col("l_discount").cast(DecimalType(18, 2)))
    Tables.lineitem(s, d)
      .join(broadcast(Tables.part(s, d)), col("l_partkey") === col("p_partkey"))
      .filter(col("l_shipdate") >= ts("1995-09-01 00:00:00") &&
        col("l_shipdate") < ts("1995-10-01 00:00:00"))
      .agg(
        (sum(when(col("p_type").startsWith("PROMO"), rev)
          .otherwise(lit(0).cast(DecimalType(18, 2)))).cast("double") * 100.0 /
          sum(rev).cast("double")).as("promo_revenue_pct"),
        count(lit(1)).as("n_lines"))
  }

  /** TPC-H Q10 shape: returned-item revenue per customer — two fact joins
    * plus a broadcast dim, group on the customer grain (much wider than
    * Q3/Q5's), deterministic top-20. The customer-grain groupBy reuses the
    * orders⋈customer join partitioning where AQE allows; the limit pushes
    * into a TakeOrderedAndProject (no global sort materialization). */
  def q10ReturnedCustomers(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
      .filter(col("o_orderdate") >= ts("1995-01-01 00:00:00") &&
        col("o_orderdate") < ts("1995-04-01 00:00:00"))
    val l = Tables.lineitem(s, d).filter(col("l_returnflag") === "R")
    Tables.customer(s, d)
      .join(o, col("c_custkey") === col("o_custkey"))
      .join(l, col("o_orderkey") === col("l_orderkey"))
      .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .groupBy("c_custkey", "c_name", "n_name")
      .agg(sum(col("l_extendedprice").cast(DecimalType(18, 2)) *
        (lit(1).cast(DecimalType(18, 2)) - col("l_discount").cast(DecimalType(18, 2))))
        .cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(20)
  }

  /** TPC-H Q17 shape: the correlated-scalar-subquery pattern ("lines below
    * 20% of their part's average quantity"), decorrelated the way Catalyst
    * itself would — the per-part average becomes an aggregate joined back
    * on the correlation key. Two scans of lineitem; at 100 TB both are
    * partkey-partitioned so the threshold join is co-located, and the
    * brand filter broadcasts. Threshold arithmetic = exact decimal sum /
    * count * 0.2, one double rounding point, oracle-identical. */
  def q17SmallQtyRevenue(s: SparkSession, d: String): DataFrame = {
    val brandParts = Tables.part(s, d).filter(col("p_brand") === "Brand#23")
    // semi-join BEFORE the per-part aggregate: thresholds are only ever
    // consumed for the filtered brand's parts, so don't aggregate the
    // other 96% of lineitem (Catalyst won't infer this reduction across
    // an aggregation boundary — it must be written). The per-part average
    // still sees every line of the surviving parts, so results are
    // unchanged.
    val thresholds = Tables.lineitem(s, d)
      .join(broadcast(brandParts.select(col("p_partkey").as("bp_key"))),
        col("l_partkey") === col("bp_key"), "left_semi")
      .groupBy(col("l_partkey").as("t_partkey"))
      .agg((sum(col("l_quantity").cast(DecimalType(18, 2))).cast("double") /
        count(col("l_quantity")).cast("double") * 0.2).as("qty_threshold"))
    Tables.lineitem(s, d)
      .join(broadcast(brandParts), col("l_partkey") === col("p_partkey"))
      .join(thresholds, col("l_partkey") === col("t_partkey"))
      .filter(col("l_quantity") < col("qty_threshold"))
      .agg(
        (sum(col("l_extendedprice").cast(DecimalType(18, 2))).cast("double") / 7.0)
          .as("avg_yearly"),
        count(lit(1)).as("n_lines"))
  }

  /** TPC-H Q4 shape: EXISTS correlated subquery — orders with at least one
    * line shipped more than 60 days after the order date, counted per
    * priority. Catalyst plans the EXISTS as a left-semi join on the order
    * key with the date comparison as a join-side predicate: the lineitem
    * side projects two columns, the semi join short-circuits on first
    * match, and at 100 TB both sides shuffle once on the (already
    * co-partitionable) order key. */
  def q4PriorityExists(s: SparkSession, d: String): DataFrame = {
    val l = Tables.lineitem(s, d).select("l_orderkey", "l_shipdate")
    Tables.orders(s, d)
      .join(l, col("l_orderkey") === col("o_orderkey") &&
        col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"), "left_semi")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_late_orders"))
  }

  val q4PriorityExistsSql: String =
    """SELECT o_orderpriority, count(*) AS n_late_orders
      |FROM orders o
      |WHERE EXISTS (
      |  SELECT 1 FROM lineitem l
      |  WHERE l.l_orderkey = o.o_orderkey
      |    AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
      |GROUP BY o_orderpriority""".stripMargin

  /** TPC-H Q7 shape: bi-directional nation-pair trade volume by ship year.
    * The nation dimension joins twice under different roles (supplier
    * nation / customer nation). The join ORDER is hand-staged for scale:
    * each fact table is pruned by its own nation-filtered dimension
    * BEFORE the lineitem⋈orders join — Catalyst derives the per-side
    * `n_name IN (pair)` scan filters from the disjunction, but it keeps
    * the DataFrame's join order, and joining the two full facts first
    * means the big join (or its broadcast build) runs on 100% of rows
    * when only ~(2/25)² of them can survive. Staged, the big join sees
    * both sides pre-reduced to 8%: supplier+nation broadcasts into
    * lineitem, the nation-filtered customer set reduces orders, and the
    * residual pair disjunction runs as a cheap post-filter. Revenue is
    * the exact-decimal sum. */
  def q7NationVolume(s: SparkSession, d: String): DataFrame = {
    val names = Seq("NATION_3", "NATION_7")
    val n1 = Tables.nation(s, d).filter(col("n_name").isin(names: _*))
      .select(col("n_nationkey").as("n1_key"), col("n_name").as("supp_nation"))
    val n2 = Tables.nation(s, d).filter(col("n_name").isin(names: _*))
      .select(col("n_nationkey").as("n2_key"), col("n_name").as("cust_nation"))
    // supplier is the genuinely small dim — broadcast it pre-joined with
    // its nation role; customer can be large at scale, so its join is
    // left to the planner (AQE broadcasts the 8% slice when it fits,
    // shuffles co-partitioned with orders when it doesn't)
    val su = Tables.supplier(s, d)
      .join(broadcast(n1), col("s_nationkey") === col("n1_key"))
      .select(col("s_suppkey"), col("supp_nation"))
    val cu = Tables.customer(s, d)
      .join(broadcast(n2), col("c_nationkey") === col("n2_key"))
      .select(col("c_custkey"), col("cust_nation"))
    val o = Tables.orders(s, d)
      .join(cu, col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"), col("cust_nation"))
    val l = Tables.lineitem(s, d)
      .join(broadcast(su), col("l_suppkey") === col("s_suppkey"))
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .filter((col("supp_nation") === "NATION_3" && col("cust_nation") === "NATION_7") ||
        (col("supp_nation") === "NATION_7" && col("cust_nation") === "NATION_3"))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).as("l_year"))
      .agg(
        sum(col("l_extendedprice").cast(DecimalType(18, 2)) *
          (lit(1).cast(DecimalType(18, 2)) - col("l_discount").cast(DecimalType(18, 2))))
          .cast("double").as("revenue"),
        count(lit(1)).as("n_lines"))
  }

  val q7NationVolumeSql: String =
    """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
      |  CAST(year(l_shipdate) AS INTEGER) AS l_year,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
      |           (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
      |    AS DOUBLE) AS revenue,
      |  count(*) AS n_lines
      |FROM lineitem
      |JOIN orders   ON l_orderkey = o_orderkey
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation n1 ON s_nationkey = n1.n_nationkey
      |JOIN nation n2 ON c_nationkey = n2.n_nationkey
      |WHERE (n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
      |   OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3')
      |GROUP BY 1, 2, 3""".stripMargin

  /** TPC-H Q18 shape: IN over a HAVING subquery — large-volume orders
    * (total quantity > 300) joined back to orders and customer. The
    * aggregate runs first (map-side combinable, one shuffle on the order
    * key), survives the HAVING filter as a tiny key set, and the join
    * back to orders is AQE-broadcastable at any scale where "large
    * volume" stays selective; customer broadcasts outright. */
  def q18BigOrders(s: SparkSession, d: String): DataFrame = {
    // plain double sum, no decimal: quantities are integral (1-50), so
    // IEEE addition is exact and order-independent — the decimal detour
    // the price columns need buys nothing here and the 150k-group
    // aggregate is this query's entire cost
    val big = Tables.lineitem(s, d)
      .groupBy(col("l_orderkey").as("big_okey"))
      .agg(sum(col("l_quantity")).as("sum_qty"))
      .filter(col("sum_qty") > 300)
    Tables.orders(s, d)
      .join(big, col("o_orderkey") === col("big_okey"))
      .join(broadcast(Tables.customer(s, d)), col("o_custkey") === col("c_custkey"))
      .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
        col("o_orderdate"), col("o_totalprice"), col("sum_qty"))
  }

  val q18BigOrdersSql: String =
    """WITH big AS (
      |  SELECT l_orderkey, sum(l_quantity) AS sum_qty
      |  FROM lineitem GROUP BY l_orderkey
      |  HAVING sum(l_quantity) > 300)
      |SELECT c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice, sum_qty
      |FROM orders
      |JOIN big ON o_orderkey = l_orderkey
      |JOIN customer ON o_custkey = c_custkey""".stripMargin

  /** TPC-H Q6 shape: the forecasting-revenue-change scan — a pure
    * filter + single-row aggregate with NO join, THE predicate-pushdown
    * benchmark. All three predicates (date range, discount band,
    * quantity cap) must reach the parquet reader as PushedFilters
    * (PlanShapeSpec asserts this); at 100 TB this query is a row-group-
    * pruned scan and one map-side-combinable scalar aggregate — network
    * traffic is 32 partial sums, full stop. Revenue is the exact decimal
    * product-sum: price(18,2) × discount(3,2) stays exact, one final
    * cast. Discounts are compared as exact decimals too — the doubles
    * 0.05/0.07 are binary-inexact and a raw double BETWEEN can flake at
    * the band edge across engines. */
  def q6Forecast(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= lit("1995-01-01") &&
        col("l_shipdate") < lit("1996-01-01") &&
        col("l_discount").cast(DecimalType(3, 2)).between(
          lit("0.05").cast(DecimalType(3, 2)), lit("0.07").cast(DecimalType(3, 2))) &&
        col("l_quantity") < 24)
      .agg(
        sum(col("l_extendedprice").cast(DecimalType(18, 2)) *
          col("l_discount").cast(DecimalType(3, 2))).cast("double").as("revenue"),
        count("*").as("n_lines"))

  val q6ForecastSql: String =
    """SELECT
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
      |           CAST(l_discount AS DECIMAL(3,2))) AS DOUBLE) AS revenue,
      |  count(*) AS n_lines
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
      |  AND l_shipdate <  TIMESTAMP '1996-01-01 00:00:00'
      |  AND CAST(l_discount AS DECIMAL(3,2))
      |      BETWEEN CAST('0.05' AS DECIMAL(3,2)) AND CAST('0.07' AS DECIMAL(3,2))
      |  AND l_quantity < 24""".stripMargin

  /** TPC-H Q19 shape: disjunctive multi-predicate join — revenue over
    * three OR'd (brand, size-band, quantity-band) branches that each
    * reference BOTH join sides. The optimizer stress here is predicate
    * decomposition: Catalyst extracts the join-key equality out of the
    * disjunction and derives per-side IN/range filters from the OR
    * (brand ∈ {the three brands} reaches the part scan, quantity ≤ the
    * max band cap reaches lineitem), so the join runs equi + residual —
    * never a cross product. part broadcasts; the residual OR evaluates
    * codegen'd post-join. */
  def q19Disjunctive(s: SparkSession, d: String): DataFrame = {
    def branch(brand: String, szLo: Int, szHi: Int, qLo: Int, qHi: Int) =
      col("p_brand") === brand &&
        col("p_size").between(szLo, szHi) && col("l_quantity").between(qLo, qHi)
    Tables.lineitem(s, d)
      .join(broadcast(Tables.part(s, d)), col("l_partkey") === col("p_partkey"))
      .filter(branch("Brand#1", 1, 15, 1, 21) ||
        branch("Brand#12", 10, 25, 10, 30) ||
        branch("Brand#20", 20, 40, 20, 40))
      .agg(
        sum(col("l_extendedprice").cast(DecimalType(18, 2)) *
          (lit(1).cast(DecimalType(18, 2)) - col("l_discount").cast(DecimalType(18, 2))))
          .cast("double").as("revenue"),
        count("*").as("n_lines"))
  }

  val q19DisjunctiveSql: String =
    """SELECT
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
      |           (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
      |    AS DOUBLE) AS revenue,
      |  count(*) AS n_lines
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |WHERE (p_brand = 'Brand#1'  AND p_size BETWEEN 1  AND 15 AND l_quantity BETWEEN 1  AND 21)
      |   OR (p_brand = 'Brand#12' AND p_size BETWEEN 10 AND 25 AND l_quantity BETWEEN 10 AND 30)
      |   OR (p_brand = 'Brand#20' AND p_size BETWEEN 20 AND 40 AND l_quantity BETWEEN 20 AND 40)""".stripMargin

  /** TPC-H Q22 shape: global-sales-opportunity — wealthy customers
    * (balance above the positive-balance average, a scalar subquery)
    * with NO orders in 1995 (anti join), rolled up per nation. The
    * scalar average broadcasts as a 1-row cross join (lazy, no driver
    * round-trip); the anti join's build side is the 1995 order keys —
    * date-pruned at the scan, and the join is key-only so AQE broadcasts
    * it whenever the year's customer set fits. */
  def q22GlobalSales(s: SparkSession, d: String): DataFrame = {
    val avgBal = Tables.customer(s, d)
      .filter(col("c_acctbal") > 0)
      .agg((sum(col("c_acctbal").cast(DecimalType(18, 2))).cast("double") /
        count("*")).as("avg_bal"))
    val o95 = Tables.orders(s, d)
      .filter(col("o_orderdate") >= lit("1995-01-01") &&
        col("o_orderdate") < lit("1996-01-01"))
      .select(col("o_custkey"))
    Tables.customer(s, d)
      .crossJoin(broadcast(avgBal))
      .filter(col("c_acctbal") > col("avg_bal"))
      .join(o95, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_nationkey"))
      .agg(count("*").as("n_custs"),
        sum(col("c_acctbal").cast(DecimalType(18, 2))).cast("double").as("total_bal"))
  }

  val q22GlobalSalesSql: String =
    """WITH avg_bal AS (
      |  SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_bal
      |  FROM customer WHERE c_acctbal > 0),
      |o95 AS (
      |  SELECT o_custkey FROM orders
      |  WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
      |    AND o_orderdate <  TIMESTAMP '1996-01-01 00:00:00')
      |SELECT c_nationkey, count(*) AS n_custs,
      |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
      |FROM customer CROSS JOIN avg_bal
      |WHERE c_acctbal > avg_bal
      |  AND c_custkey NOT IN (SELECT o_custkey FROM o95)
      |GROUP BY c_nationkey""".stripMargin

  /** TPC-H Q8 shape: national market share — the fraction of a region's
    * part-type trade revenue supplied by one nation, per order year.
    * The share numerator is a conditional aggregate over the SAME rows
    * as the denominator (sum(CASE WHEN supplier-nation)/sum(all)), so
    * the five-way join runs once and the share costs nothing extra.
    * Join staging mirrors [[q7NationVolume]]'s lesson: part (type-
    * filtered, broadcast) prunes lineitem FIRST, customer+nation+region
    * prune orders, supplier+nation broadcasts last for the numerator
    * tag. Exact decimal sums; the share is one double division. */
  def q8MarketShare(s: SparkSession, d: String): DataFrame = {
    val vol = lit(1).cast(DecimalType(18, 2)) - col("l_discount").cast(DecimalType(18, 2))
    val partF = Tables.part(s, d).filter(col("p_type") === "ECONOMY")
      .select(col("p_partkey"))
    val custRegion = Tables.customer(s, d)
      .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, d).filter(col("r_name") === "ASIA")),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("c_custkey"))
    val suppNation = Tables.supplier(s, d)
      .join(broadcast(Tables.nation(s, d)
          .select(col("n_nationkey").as("sn_key"), col("n_name").as("supp_nation"))),
        col("s_nationkey") === col("sn_key"))
      .select(col("s_suppkey"), col("supp_nation"))
    val o = Tables.orders(s, d)
      .join(custRegion, col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"), year(col("o_orderdate")).as("o_year"))
    Tables.lineitem(s, d)
      .join(broadcast(partF), col("l_partkey") === col("p_partkey"))
      .join(broadcast(suppNation), col("l_suppkey") === col("s_suppkey"))
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_year"))
      .agg(
        sum(when(col("supp_nation") === "NATION_3",
          col("l_extendedprice").cast(DecimalType(18, 2)) * vol)
          .otherwise(lit(0).cast(DecimalType(18, 2)))).as("nation_rev"),
        sum(col("l_extendedprice").cast(DecimalType(18, 2)) * vol).as("total_rev"))
      .select(col("o_year"),
        (col("nation_rev").cast("double") / col("total_rev").cast("double"))
          .as("mkt_share"),
        col("total_rev").cast("double").as("total_rev"))
  }

  val q8MarketShareSql: String =
    """SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
      |  CAST(sum(CASE WHEN n2.n_name = 'NATION_3'
      |        THEN CAST(l_extendedprice AS DECIMAL(18,2)) *
      |             (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
      |        ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) /
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
      |           (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
      |    AS mkt_share,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
      |           (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
      |    AS total_rev
      |FROM lineitem
      |JOIN part     ON l_partkey = p_partkey AND p_type = 'ECONOMY'
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN nation n2 ON s_nationkey = n2.n_nationkey
      |JOIN orders   ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation n1 ON c_nationkey = n1.n_nationkey
      |JOIN region   ON n1.n_regionkey = r_regionkey AND r_name = 'ASIA'
      |GROUP BY 1""".stripMargin

  /** TPC-H Q13 shape: the orders-per-customer distribution (how many
    * customers placed k orders, including k = 0) — a LEFT join so
    * order-less customers survive, then aggregate twice. The first
    * groupBy is on c_custkey (one shuffle, map-side combinable); the
    * histogram aggregate's input is O(customers) and its output
    * O(distinct counts). The zero bucket is the business signal — an
    * inner join would silently drop it. */
  def q13CustomerDistribution(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"), "left")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count("*").as("custdist"))

  val q13CustomerDistributionSql: String =
    """SELECT c_count, count(*) AS custdist
      |FROM (
      |  SELECT c_custkey, count(o_orderkey) AS c_count
      |  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
      |  GROUP BY c_custkey)
      |GROUP BY c_count""".stripMargin

  /** TPC-H Q15 shape: top supplier(s) by quarterly revenue — the
    * revenue "view" plus a max-subquery, rendered as one window max over
    * the per-supplier aggregate (no second scan of the view, unlike the
    * literal CREATE VIEW + scalar subquery form). Ties all surface, as
    * in the spec. The window partitions by nothing but runs over the
    * ALREADY-AGGREGATED supplier rows — O(suppliers), which is why this
    * global window is fine where q_deciles' (over raw rows) is not:
    * the PlanLint finding on this shape is the acknowledged-advisory
    * case. Exact decimal revenue; supplier dim broadcasts. */
  def q15TopSupplier(s: SparkSession, d: String): DataFrame = {
    val rev = Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= lit("1995-01-01") &&
        col("l_shipdate") < lit("1995-04-01"))
      .groupBy(col("l_suppkey"))
      .agg(sum(col("l_extendedprice").cast(DecimalType(18, 2)) *
        (lit(1).cast(DecimalType(18, 2)) - col("l_discount").cast(DecimalType(18, 2))))
        .as("total_rev"))
    rev
      .withColumn("max_rev", max(col("total_rev")).over(Window.partitionBy()))
      .filter(col("total_rev") === col("max_rev"))
      .join(broadcast(Tables.supplier(s, d)), col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"),
        col("total_rev").cast("double").as("total_rev"))
  }

  val q15TopSupplierSql: String =
    """WITH rev AS (
      |  SELECT l_suppkey,
      |    sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
      |        (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS total_rev
      |  FROM lineitem
      |  WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
      |    AND l_shipdate <  TIMESTAMP '1995-04-01 00:00:00'
      |  GROUP BY l_suppkey)
      |SELECT s_suppkey, s_name, CAST(total_rev AS DOUBLE) AS total_rev
      |FROM rev JOIN supplier ON l_suppkey = s_suppkey
      |WHERE total_rev = (SELECT max(total_rev) FROM rev)""".stripMargin

  /** INTERSECT ALL / EXCEPT ALL: multiset semantics — a customer who
    * placed 3 orders in 1995 and 2 in 1996 contributes min(3,2)=2 rows
    * to the intersection and 3-2=1 row to the difference, where the
    * DISTINCT forms ([[setIntersect]]/[[setExcept]]) collapse to one.
    * Spark plans both as a count-comparing aggregate (one shuffle, no
    * join explosion) — the multiplicity bookkeeping every reconciliation
    * diff actually needs. */
  def setIntersectAll(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
    def inYear(y: Int) = o.filter(year(col("o_orderdate")) === y).select("o_custkey")
    inYear(1995).intersectAll(inYear(1996))
  }

  val setIntersectAllSql: String =
    """SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995
      |INTERSECT ALL
      |SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996""".stripMargin

  def setExceptAll(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
    def inYear(y: Int) = o.filter(year(col("o_orderdate")) === y).select("o_custkey")
    inYear(1995).exceptAll(inYear(1996))
  }

  val setExceptAllSql: String =
    """SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995
      |EXCEPT ALL
      |SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996""".stripMargin

  /** Weighted (importance) sampling: keep each order with probability
    * proportional to its price — the PPS sampler training pipelines use
    * to overweight rare/valuable strata. Deterministic like
    * [[stratifiedSample]]: the acceptance uniform is a 24-bit md5 slice
    * of the key (an exact dyadic rational, bit-identical everywhere), so
    * re-runs, retries, and both engines select the same rows; a new row
    * never flips an old row's fate under corpus growth. The max-price
    * normalizer rides in as a broadcast 1-row cross join — fully lazy,
    * no driver round-trip. */
  def weightedSample(s: SparkSession, d: String): DataFrame = {
    val maxP = Tables.orders(s, d).agg(max("o_totalprice").as("max_price"))
    val u = conv(substring(md5(col("o_orderkey").cast("string")), 1, 6), 16, 10)
      .cast("double") / 16777216.0
    Tables.orders(s, d)
      .crossJoin(broadcast(maxP))
      .filter(u < col("o_totalprice") / col("max_price") * 0.3)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        round(col("o_totalprice") / col("max_price"), 4).as("rel_weight"))
  }

  val weightedSampleSql: String =
    """SELECT o_orderkey, o_custkey, o_totalprice,
      |  round(o_totalprice / mp.max_price, 4) AS rel_weight
      |FROM orders, (SELECT max(o_totalprice) AS max_price FROM orders) mp
      |WHERE CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 6)) AS BIGINT)
      |      / 16777216.0
      |    < o_totalprice / mp.max_price * 0.3""".stripMargin

  /** Broadcast star join: customer → nation → region, all dims broadcast —
    * zero shuffle on the fact side. */
  def starJoin(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, d)), col("n_regionkey") === col("r_regionkey"))
      .groupBy("r_name", "n_name")
      .agg(count(lit(1)).as("n_customers"), dsum(col("c_acctbal")).as("total_acctbal"))

  /** Left semi join (EXISTS): orders having a high-quantity line. */
  def semiJoin(s: SparkSession, d: String): DataFrame = {
    val hi = Tables.lineitem(s, d).filter(col("l_quantity") > 45).select("l_orderkey")
    Tables.orders(s, d)
      .join(hi, col("o_orderkey") === col("l_orderkey"), "left_semi")
      .select("o_orderkey", "o_totalprice")
  }

  /** Left anti join (NOT EXISTS): customers with no 1995 orders (every
    * customer has *some* order in the testdata, so the year filter keeps
    * the result non-vacuous). */
  def antiJoin(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
      .filter(year(col("o_orderdate")) === 1995)
      .select("o_custkey")
    Tables.customer(s, d)
      .join(o, col("c_custkey") === col("o_custkey"), "left_anti")
      .select("c_custkey", "c_name")
  }

  /** NULL-aware anti join — the `NOT IN (subquery)` three-valued-logic
    * battery, the semantic surface a plain left-anti join ([[antiJoin]])
    * does NOT have: a NULL probe key makes membership UNKNOWN (row
    * excluded, where an anti join would KEEP it), and one NULL in the
    * subquery set empties the result entirely. Keys are made nullable
    * deterministically (every 97th order key), and the with-NULL set
    * plants its NULL by construction (UNION ALL NULL), so all three
    * branches are exercised on any data.
    *
    * Expressed through the SQL surface so Catalyst plans its
    * null-aware-anti-join rewrite (single-key broadcast NAAJ; the
    * fallback is BroadcastNestedLoopJoin — which is WHY production
    * schemas prefer NOT EXISTS, cf. the [[graft.ops.Quality.dqAudit]]
    * oracle note; this query exists to pin the NOT IN semantics those
    * rewrites must preserve). Build sides are the small filtered
    * dimension; the probe scan is shared across the three conditional
    * counts. */
  def notInNullAware(s: SparkSession, d: String): DataFrame = {
    graft.SqlSurface.registerTables(s, d)
    s.sql(
      """WITH probe AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 97 = 0 THEN NULL ELSE o_custkey END AS k
        |  FROM orders),
        |nullfree AS (SELECT c_custkey AS k FROM customer WHERE c_acctbal > 9000),
        |withnull AS (
        |  SELECT k FROM nullfree UNION ALL SELECT CAST(NULL AS BIGINT))
        |SELECT
        |  (SELECT count(*) FROM probe WHERE k NOT IN (SELECT k FROM nullfree))
        |    AS n_nullfree,
        |  (SELECT count(*) FROM probe WHERE k NOT IN (SELECT k FROM withnull))
        |    AS n_withnull,
        |  (SELECT count(*) FROM probe WHERE k IS NULL) AS n_probe_null""".stripMargin)
  }

  val notInNullAwareSql: String =
    """WITH probe AS (
      |  SELECT o_orderkey,
      |    CASE WHEN o_orderkey % 97 = 0 THEN NULL ELSE o_custkey END AS k
      |  FROM orders),
      |nullfree AS (SELECT c_custkey AS k FROM customer WHERE c_acctbal > 9000),
      |withnull AS (
      |  SELECT k FROM nullfree UNION ALL SELECT CAST(NULL AS BIGINT))
      |SELECT
      |  (SELECT count(*) FROM probe WHERE k NOT IN (SELECT k FROM nullfree))
      |    AS n_nullfree,
      |  (SELECT count(*) FROM probe WHERE k NOT IN (SELECT k FROM withnull))
      |    AS n_withnull,
      |  (SELECT count(*) FROM probe WHERE k IS NULL) AS n_probe_null""".stripMargin

  /** Left outer join + agg: order count per customer including zeros.
    * count(o_orderkey) skips the NULLs from non-matching rows. */
  def outerJoinAgg(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
    Tables.customer(s, d)
      .join(o, col("c_custkey") === col("o_custkey"), "left_outer")
      .groupBy("c_custkey")
      .agg(count(col("o_orderkey")).as("n_orders"))
  }

  // -------------------------------------------------------- windows

  /** Ranking window: latest order per customer (row_number = 1 with a
    * unique tiebreak). The idiomatic "latest snapshot per entity" shape. */
  def windowLatestOrder(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_orderdate").desc, col("o_orderkey").desc)
    Tables.orders(s, d)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("o_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
  }

  /** Analytic window with a running frame: cumulative quantity per
    * supplier over a total (unique-key) order. */
  def windowRunningSum(s: SparkSession, d: String): DataFrame = {
    val order = Seq(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
    val wOrd = Window.partitionBy("l_suppkey").orderBy(order: _*)
    val wRun = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.lineitem(s, d)
      .filter(col("l_suppkey") <= 5)
      .select(
        col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
        sum(col("l_quantity").cast(DecimalType(18, 2))).over(wRun)
          .cast("double").as("running_qty"),
        lag(col("l_quantity"), 1).over(wOrd).as("prev_qty"))
  }

  /** Top-k per group via rank: 3 priciest orders per status. */
  def windowTopKPerGroup(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("o_orderstatus")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables.orders(s, d)
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select("o_orderstatus", "rk", "o_orderkey", "o_totalprice")
  }

  // ------------------------------------------------- sort / limit / set ops

  /** Global sort + limit = distributed TakeOrderedAndProject (no full
    * sort materialization at scale). */
  def sortLimit(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(100)
      .select("o_orderkey", "o_custkey", "o_totalprice")

  /** INTERSECT: customers ordering in both 1995 and 1996. */
  def setIntersect(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
    def inYear(y: Int) = o.filter(year(col("o_orderdate")) === y).select("o_custkey")
    inYear(1995).intersect(inYear(1996))
  }

  /** EXCEPT: customers ordering in 1995 but not 1996. */
  def setExcept(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
    def inYear(y: Int) = o.filter(year(col("o_orderdate")) === y).select("o_custkey")
    inYear(1995).except(inYear(1996))
  }

  /** UNION (distinct): customers ordering in either year, each once —
    * union-all plus one dedup shuffle (how every engine plans it). */
  def unionDistinct(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
    def inYear(y: Int) = o.filter(year(col("o_orderdate")) === y).select("o_custkey")
    inYear(1995).union(inYear(1996)).distinct()
  }

  /** Null-safe equi-join (`<=>` / IS NOT DISTINCT FROM): per-language
    * counts of two corpus halves joined INCLUDING the NULL-language
    * group, which a plain equality join silently drops — the classic
    * reconciliation-query bug. */
  def nullSafeJoin(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val even = docs.filter(col("doc_id") % 2 === 0)
      .groupBy(col("lang").as("lang_e")).agg(count(lit(1)).as("n_even"))
    val odd = docs.filter(col("doc_id") % 2 === 1)
      .groupBy(col("lang").as("lang_o")).agg(count(lit(1)).as("n_odd"))
    even.join(odd, col("lang_e") <=> col("lang_o"))
      .select(col("lang_e").as("lang"), col("n_even"), col("n_odd"))
  }

  // ---------------------------------------------------- scalar functions

  /** String function battery over part (F-6/F-7 generalized). */
  def scalarStrings(s: SparkSession, d: String): DataFrame =
    Tables.part(s, d).select(
      col("p_partkey"),
      upper(col("p_name")).as("name_upper"),
      lower(col("p_brand")).as("brand_lower"),
      length(col("p_name")).as("name_len"),
      substring(col("p_type"), 1, 5).as("type_prefix"),
      concat_ws("|", col("p_brand"), col("p_type")).as("brand_type"),
      regexp_replace(col("p_name"), "[aeiou]", "").as("name_novowels"),
      trim(col("p_name")).as("name_trim"),
      col("p_name").like("%green%").as("is_green"))

  /** Date/time function battery (F-1/F-2 generalized, deterministic). */
  def scalarDates(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d).select(
      col("o_orderkey"),
      year(col("o_orderdate")).as("o_year"),
      month(col("o_orderdate")).as("o_month"),
      dayofmonth(col("o_orderdate")).as("o_day"),
      quarter(col("o_orderdate")).as("o_quarter"),
      date_trunc("month", col("o_orderdate")).as("month_start"),
      (col("o_orderdate") + expr("INTERVAL 30 DAYS")).as("due_date"),
      datediff(to_date(lit("2002-01-01")), col("o_orderdate").cast("date"))
        .as("days_to_2002"))

  /** Ranking-function battery: rank / dense_rank / percent_rank /
    * cume_dist / ntile over one deterministic total order. percent_rank
    * and cume_dist are exact int-ratio formulas, so they hash-match. */
  def windowRankBattery(s: SparkSession, d: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("o_orderstatus")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    Tables.orders(s, d)
      .filter(col("o_orderkey") <= 2000)
      .select(col("o_orderstatus"), col("o_orderkey"), col("o_totalprice"),
        rank().over(w).as("rnk"),
        dense_rank().over(w).as("drnk"),
        percent_rank().over(w).as("prnk"),
        cume_dist().over(w).as("cdist"),
        ntile(4).over(w).as("quartile"))
  }

  /** Math function battery — only cross-engine-exact ops (sqrt is IEEE;
    * no libm transcendentals in oracle-checked queries). */
  def scalarMath(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .filter(col("l_orderkey") <= 1000)
      .select(
        col("l_orderkey"), col("l_linenumber"),
        abs(col("l_discount") - 0.05).as("disc_dev"),
        floor(col("l_quantity")).as("qty_floor"),
        ceil(col("l_quantity")).as("qty_ceil"),
        sqrt(col("l_extendedprice")).as("price_sqrt"),
        (col("l_orderkey") % 7).as("key_mod7"),
        (col("l_quantity") * col("l_extendedprice")).as("qty_price"))

  // ------------------------------------------------------- subqueries

  /** Scalar-subquery shape: orders above the global mean price, compared
    * exactly (price * N > Σprice in decimals — no float cutoff drift). */
  def aboveAvgOrders(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
    val stats = o.agg(
      sum(col("o_totalprice").cast(DecimalType(18, 2))).as("total"),
      count(lit(1)).as("n"))
    o.crossJoin(broadcast(stats))
      .filter(col("o_totalprice").cast(DecimalType(18, 2)) * col("n") > col("total"))
      .select("o_orderkey", "o_totalprice")
  }

  /** Semi-structured: JSON extraction from events.props. */
  def eventsJson(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n"),
        sum(col("k")).as("sum_k"),
        min(col("k")).as("min_k"),
        max(col("k")).as("max_k"))

  /** Batch shape of a streaming tumbling-window aggregate: hourly event
    * rollup (the Structured Streaming twin lives in graft.streaming). */
  def eventsHourly(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("total_value"))

  /** Deterministic ~20% stratified sample audit: hash-select rows per
    * market segment (md5-mod, seedless — stable across runs, executors,
    * and engines, unlike `sample()`/`TABLESAMPLE` whose RNG is
    * per-partition and engine-specific) and report per-stratum sampled
    * vs total counts. The per-row pick is a pure projection; the audit
    * is one map-side-combinable groupBy — nothing about the sample
    * changes if the table is repartitioned or grows. */
  def stratifiedSample(s: SparkSession, d: String): DataFrame = {
    val picked = conv(substring(md5(concat(lit("smp|"),
      col("c_custkey").cast("string"))), 1, 8), 16, 10).cast("long") % 5 === 0
    Tables.customer(s, d)
      .groupBy("c_mktsegment")
      .agg(
        count(lit(1)).as("n_total"),
        count(when(picked, 1)).as("n_sampled"))
  }

  val stratifiedSampleSql: String =
    """SELECT c_mktsegment, count(*) AS n_total,
      |  count(CASE WHEN CAST(('0x' || substr(md5('smp|' || CAST(c_custkey AS VARCHAR)), 1, 8))
      |    AS BIGINT) % 5 = 0 THEN 1 END) AS n_sampled
      |FROM customer GROUP BY 1""".stripMargin
}
