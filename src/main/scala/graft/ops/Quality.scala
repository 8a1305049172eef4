package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Data-quality auditing — the validation layer the reference runs as
  * ad-hoc row-count logging (`postgres_to_s3_operator.py:46,65-70`
  * reconciliation counts), promoted to first-class queries: a
  * constraint-violation audit and a Benford leading-digit screen.
  *
  * Scale posture: every check is either a single conditional aggregate
  * over one table scan (map-side combinable, one pass no matter how many
  * checks ride the scan) or a key-only anti/semi join whose build side is
  * the dimension — the fact table is never shuffled whole. Audit outputs
  * are O(checks) or O(digits): driver-safe forever.
  */
object Quality {

  /** Constraint audit over the star schema: one row per check with its
    * violation count (0 = clean). Covers the dbt-test canon —
    * not-null, uniqueness, referential integrity, accepted ranges, and
    * cross-column temporal sanity:
    *   - `orders_null_custkey`      o_custkey IS NULL
    *   - `orders_dup_pk`            o_orderkey appearing more than once
    *   - `orders_nonpositive_price` o_totalprice <= 0
    *   - `orders_orphan_custkey`    o_custkey missing from customer
    *   - `lineitem_orphan_orderkey` l_orderkey missing from orders
    *   - `lineitem_discount_range`  l_discount outside [0, 1]
    *   - `lineitem_ship_before_order` l_shipdate earlier than the order date
    *
    * The three orders-side scalar checks share ONE scan/aggregate; the
    * uniqueness check aggregates keys then counts the excess; RI checks
    * are anti joins on keys only (dimension side broadcast-able); the
    * temporal check joins lineitem to orders on the join both already
    * share. Counts are exact longs — engine-portable by construction. */
  def dqAudit(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
    val l = Tables.lineitem(s, d)
    // coalesce: over an EMPTY table these sums are NULL where the
    // oracle's count(*) FILTER reads 0 (empty-orders edge sweep)
    val scalarChecks = o.agg(
      coalesce(sum(col("o_custkey").isNull.cast("long")), lit(0L))
        .as("orders_null_custkey"),
      coalesce(sum((col("o_totalprice") <= 0).cast("long")), lit(0L))
        .as("orders_nonpositive_price"))
    val dupPk = o.groupBy(col("o_orderkey")).agg(count("*").as("c"))
      .agg(coalesce(sum(col("c") - 1), lit(0L)).as("n"))
      .select(lit("orders_dup_pk").as("check"), col("n").as("n_violations"))
    val orphanCust = o.join(Tables.customer(s, d),
        col("o_custkey") === col("c_custkey"), "left_anti")
      .agg(count("*").as("n"))
      .select(lit("orders_orphan_custkey").as("check"), col("n").as("n_violations"))
    val orphanOrder = l.join(o, col("l_orderkey") === col("o_orderkey"), "left_anti")
      .agg(count("*").as("n"))
      .select(lit("lineitem_orphan_orderkey").as("check"), col("n").as("n_violations"))
    val discRange = l.agg(
        coalesce(sum((col("l_discount") < 0 || col("l_discount") > 1)
          .cast("long")), lit(0L)).as("n"))
      .select(lit("lineitem_discount_range").as("check"), col("n").as("n_violations"))
    val shipBefore = l.join(o, col("l_orderkey") === col("o_orderkey"))
      .agg(coalesce(sum((col("l_shipdate") < col("o_orderdate"))
        .cast("long")), lit(0L)).as("n"))
      .select(lit("lineitem_ship_before_order").as("check"), col("n").as("n_violations"))
    scalarChecks
      .select(explode(map(
        lit("orders_null_custkey"), col("orders_null_custkey"),
        lit("orders_nonpositive_price"), col("orders_nonpositive_price")))
        .as(Seq("check", "n_violations")))
      .unionAll(dupPk)
      .unionAll(orphanCust)
      .unionAll(orphanOrder)
      .unionAll(discRange)
      .unionAll(shipBefore)
  }

  val dqAuditSql: String =
    """SELECT 'orders_null_custkey' AS check,
      |  CAST(count(*) FILTER (o_custkey IS NULL) AS BIGINT) AS n_violations FROM orders
      |UNION ALL
      |SELECT 'orders_nonpositive_price',
      |  CAST(count(*) FILTER (o_totalprice <= 0) AS BIGINT) FROM orders
      |UNION ALL
      |SELECT 'orders_dup_pk', CAST(coalesce(sum(c - 1), 0) AS BIGINT)
      |FROM (SELECT count(*) AS c FROM orders GROUP BY o_orderkey)
      |UNION ALL
      |-- NOT EXISTS, not NOT IN: the engine's check is a left-anti join,
      |-- which counts null-keyed rows as violations where NOT IN would
      |-- yield zero rows the moment any key is NULL — the semantics must
      |-- match independent of data nullability
      |SELECT 'orders_orphan_custkey', CAST(count(*) AS BIGINT) FROM orders o
      |WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
      |UNION ALL
      |SELECT 'lineitem_orphan_orderkey', CAST(count(*) AS BIGINT) FROM lineitem l
      |WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
      |UNION ALL
      |SELECT 'lineitem_discount_range',
      |  CAST(count(*) FILTER (l_discount < 0 OR l_discount > 1) AS BIGINT) FROM lineitem
      |UNION ALL
      |SELECT 'lineitem_ship_before_order',
      |  CAST(count(*) FILTER (l_shipdate < o_orderdate) AS BIGINT)
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey""".stripMargin

  /** Benford leading-digit screen over order totals: observed frequency of
    * each first significant digit vs the Benford expectation
    * log10(1 + 1/d) — the classic fabricated-numbers / corrupted-feed
    * smell test for financial columns.
    *
    * The digit is extracted through exact integer arithmetic (price is a
    * 2-decimal quantity, so round(p·100) is integral): first char of the
    * cents value — multiplying by 100 never changes the leading
    * significant digit. No log10-of-data anywhere, so no float-boundary
    * flakiness between engines; the only doubles are one n/total division
    * and the 6-dp-rounded expectation constant. One map-side-combinable
    * 9-row aggregate. */
  def benfordAudit(s: SparkSession, d: String): DataFrame = {
    val digits = Tables.orders(s, d)
      .filter(col("o_totalprice") > 0)
      .select(substring(round(col("o_totalprice") * 100, 0).cast("long").cast("string"), 1, 1)
        .as("digit"))
      .groupBy(col("digit"))
      .agg(count("*").as("n"))
    digits.select(col("digit"), col("n"),
        (col("n").cast("double") /
          sum(col("n")).over(org.apache.spark.sql.expressions.Window.partitionBy()))
          .as("observed_freq"),
        round(log10(lit(1.0) + lit(1.0) / col("digit").cast("double")), 6)
          .as("benford_freq"))
  }

  val benfordAuditSql: String =
    """WITH digits AS (
      |  SELECT substr(CAST(CAST(round(o_totalprice * 100, 0) AS BIGINT) AS VARCHAR), 1, 1)
      |    AS digit
      |  FROM orders WHERE o_totalprice > 0),
      |counts AS (SELECT digit, count(*) AS n FROM digits GROUP BY digit)
      |SELECT digit, n,
      |  CAST(n AS DOUBLE) / CAST(sum(n) OVER () AS DOUBLE) AS observed_freq,
      |  round(log10(1.0 + 1.0 / CAST(digit AS DOUBLE)), 6) AS benford_freq
      |FROM counts""".stripMargin

  /** PSI bucket width and period cut, named so the oracle interpolates
    * the SAME constants. */
  val psiBucketWidth = 50000L
  private val psiCutDate = "1998-01-01"

  /** Population Stability Index drift audit — the distribution-shift
    * check every production scoring pipeline runs between a reference
    * window and the current window (PSI = Σ (p−q)·ln(p/q); rule of
    * thumb: < 0.1 stable, > 0.25 drifted). Here: the order-price
    * distribution before vs since [[psiCutDate]], in fixed
    * [[psiBucketWidth]]-wide buckets.
    *
    * Scale shape: ONE scan of orders — both periods' histograms come out
    * of the same map-side-combinable conditional aggregate (no
    * second-scan join, no per-period subqueries); the totals/bucket-count
    * ride as windows over the O(buckets) aggregated frame (the accepted
    * tiny-frame global-window pattern, cf. [[benfordAudit]]). Laplace
    * add-one smoothing keeps empty buckets finite on BOTH sides, so the
    * statistic is defined even when a bucket exists in only one period.
    * Counts are exact integers; the two divisions and one ln round at
    * the end (6dp terms, 4dp total). */
  def psiDrift(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cut = lit(psiCutDate).cast("timestamp")
    val buckets = Tables.orders(s, d)
      .select(
        (floor(col("o_totalprice") / psiBucketWidth) * psiBucketWidth)
          .cast("long").as("price_bucket"),
        (col("o_orderdate") < cut).as("in_ref"))
      .groupBy("price_bucket")
      .agg(sum(when(col("in_ref"), 1L).otherwise(0L)).as("n_ref"),
        sum(when(col("in_ref"), 0L).otherwise(1L)).as("n_cur"))
    val w = Window.partitionBy()
    val p = (col("n_ref") + 1).cast("double") /
      (sum("n_ref").over(w) + count(lit(1)).over(w)).cast("double")
    val q = (col("n_cur") + 1).cast("double") /
      (sum("n_cur").over(w) + count(lit(1)).over(w)).cast("double")
    val term = (p - q) * log(p / q)
    buckets
      .select(col("price_bucket"), col("n_ref"), col("n_cur"),
        round(term, 6).as("psi_term"),
        round(sum(term).over(w), 4).as("psi_total"))
  }

  val psiDriftSql: String =
    s"""WITH b AS (
       |  SELECT CAST(floor(o_totalprice / $psiBucketWidth) * $psiBucketWidth AS BIGINT)
       |      AS price_bucket,
       |    CAST(sum(CASE WHEN o_orderdate < TIMESTAMP '$psiCutDate' THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n_ref,
       |    CAST(sum(CASE WHEN o_orderdate < TIMESTAMP '$psiCutDate' THEN 0 ELSE 1 END)
       |      AS BIGINT) AS n_cur
       |  FROM orders GROUP BY 1),
       |t AS (
       |  SELECT price_bucket, n_ref, n_cur,
       |    (CAST(n_ref + 1 AS DOUBLE) / (sum(n_ref) OVER () + count(*) OVER ())
       |     - CAST(n_cur + 1 AS DOUBLE) / (sum(n_cur) OVER () + count(*) OVER ()))
       |    * ln((CAST(n_ref + 1 AS DOUBLE) / (sum(n_ref) OVER () + count(*) OVER ()))
       |       / (CAST(n_cur + 1 AS DOUBLE) / (sum(n_cur) OVER () + count(*) OVER ())))
       |      AS term
       |  FROM b)
       |SELECT price_bucket, n_ref, n_cur,
       |  round(term, 6) AS psi_term,
       |  round(sum(term) OVER (), 4) AS psi_total
       |FROM t""".stripMargin

  /** Schema-drift report between two table versions: every column that
    * was added, removed, or retyped — the check a snapshot loader runs
    * BEFORE data lands (the reference's fixed-DDL pipeline would simply
    * crash on drift; see `dags/airbnb_postgres_to_s3.py:53-77`). Pure
    * metadata: costs two footer reads, no data scan, any table size. */
  def schemaDiff(before: org.apache.spark.sql.types.StructType,
      after: org.apache.spark.sql.types.StructType): Seq[(String, String, String, String)] = {
    val b = before.fields.map(f => f.name -> f.dataType.simpleString).toMap
    val a = after.fields.map(f => f.name -> f.dataType.simpleString).toMap
    val added = (a.keySet -- b.keySet).toSeq.sorted
      .map(c => (c, "added", "", a(c)))
    val removed = (b.keySet -- a.keySet).toSeq.sorted
      .map(c => (c, "removed", b(c), ""))
    val retyped = (a.keySet & b.keySet).toSeq.sorted
      .filter(c => a(c) != b(c))
      .map(c => (c, "retyped", b(c), a(c)))
    added ++ removed ++ retyped
  }

  /** Rolling z-score anomaly detection over the daily revenue series:
    * days whose revenue deviates more than 2σ from the TRAILING-28-day
    * mean/σ (current day excluded — an anomaly must not dilute its own
    * baseline). The monitoring query behind every "daily metric looks
    * wrong" alert.
    *
    * The series is the per-day aggregate (map-side-combinable, output
    * O(days)), so the window runs over days, never raw facts — the
    * global ORDER BY day is a ~366-row sort at any fact-table size.
    * Mean/σ come from exact decimal power sums inside the frame (same
    * portability rule as [[Analytics.momentsByReturnFlag]]); the final
    * z is one pinned double expression, rounded to 4 decimals. */
  def revenueAnomalies(s: SparkSession, d: String): DataFrame = {
    val daily = Tables.orders(s, d)
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("rev"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("day")).rowsBetween(-28, -1)
    daily
      .select(col("day"), col("rev"),
        count(lit(1)).over(w).as("n"),
        sum(col("rev")).over(w).as("s1"),
        sum(col("rev") * col("rev")).over(w).as("s2"))
      .filter(col("n") >= 14) // need a stable baseline
      .select(col("day"), col("rev").cast("double").as("revenue"),
        round(((col("rev").cast("double") - col("s1").cast("double") / col("n")) /
          sqrt((col("s2").cast("double") - col("s1").cast("double") *
            col("s1").cast("double") / col("n")) / (col("n") - 1))), 4).as("z"))
      .filter(abs(col("z")) > 2)
  }

  val revenueAnomaliesSql: String =
    """WITH daily AS (
      |  SELECT CAST(o_orderdate AS DATE) AS day,
      |    sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
      |  FROM orders GROUP BY 1),
      |framed AS (
      |  SELECT day, rev,
      |    count(*) OVER w AS n,
      |    sum(rev) OVER w AS s1,
      |    sum(rev * rev) OVER w AS s2
      |  FROM daily
      |  WINDOW w AS (ORDER BY day ROWS BETWEEN 28 PRECEDING AND 1 PRECEDING)),
      |scored AS (
      |  SELECT day, CAST(rev AS DOUBLE) AS revenue,
      |    round((CAST(rev AS DOUBLE) - CAST(s1 AS DOUBLE) / n) /
      |      sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n)
      |           / (n - 1)), 4) AS z
      |  FROM framed WHERE n >= 14)
      |SELECT day, revenue, z FROM scored WHERE abs(z) > 2""".stripMargin
}
