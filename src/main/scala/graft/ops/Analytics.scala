package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Tables
import graft.Pin.Pinned
import graft.ops.Relational.dsum

/** Analytics widening over the harness testdata: reshaping (pivot/unpivot),
  * explicit grouping sets, exact percentiles, statistical moments, ordered
  * string aggregation, and a window-frame battery — the §2.7 checklist
  * entries beyond [[Relational]]'s core shapes.
  *
  * Cross-engine determinism follows [[Relational]]'s contract: double
  * aggregates go through exact DECIMAL sums with one final double
  * expression (identical IEEE ops in both engines, insensitive to
  * partial-aggregation order), every ORDER BY carries a unique tiebreak.
  * The moments queries take this further: variance/correlation are
  * computed from exact decimal power sums instead of Spark's native
  * one-pass co-moment aggregates, whose float merge order varies with
  * partitioning — the native forms are NOT reproducible bit-for-bit
  * across engines (or even across cluster sizes), the power-sum forms
  * are, and at scale they partial-aggregate just as well (3 decimal sums
  * per group vs 1 co-moment state).
  */
object Analytics {

  private def dec(c: Column): Column = c.cast(DecimalType(18, 2))

  // ------------------------------------------------------------- reshaping

  /** PIVOT: order counts per priority, one column per order status.
    * The pivot values are declared (no extra distinct-scan job, stable
    * column order); empty cells are 0 not NULL, matching the conditional-
    * aggregation rendering every other engine uses. A declared-values
    * pivot is a single hash aggregate — one shuffle on the groupBy key,
    * no transpose materialization, scale-indifferent. */
  def pivotOrderCounts(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .groupBy("o_orderpriority")
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(count(lit(1)))
      .select(col("o_orderpriority"),
        coalesce(col("F"), lit(0L)).as("n_f"),
        coalesce(col("O"), lit(0L)).as("n_o"),
        coalesce(col("P"), lit(0L)).as("n_p"))

  val pivotOrderCountsSql: String =
    """SELECT o_orderpriority,
      |  CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_f,
      |  CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_o,
      |  CAST(sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS n_p
      |FROM orders GROUP BY o_orderpriority""".stripMargin

  /** UNPIVOT (melt): a wide per-status aggregate reshaped to long
    * (status, measure, value) — the wide→long boundary every metrics
    * export crosses. Spark's native `unpivot` keeps this a zero-shuffle
    * projection over the aggregate. */
  def unpivotOrderMeasures(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .groupBy("o_orderstatus")
      .agg(
        dsum(col("o_totalprice")).as("sum_price"),
        count(lit(1)).cast("double").as("n_orders"))
      .unpivot(
        Array(col("o_orderstatus")),
        Array(col("sum_price"), col("n_orders")),
        "measure", "value")

  val unpivotOrderMeasuresSql: String =
    """WITH wide AS (
      |  SELECT o_orderstatus,
      |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
      |    CAST(count(*) AS DOUBLE) AS n_orders
      |  FROM orders GROUP BY o_orderstatus)
      |SELECT o_orderstatus, 'sum_price' AS measure, sum_price AS value FROM wide
      |UNION ALL
      |SELECT o_orderstatus, 'n_orders' AS measure, n_orders AS value FROM wide""".stripMargin

  // -------------------------------------------------------- grouping sets

  /** Explicit GROUPING SETS — ((region, nation), (region), ()) over the
    * customer dimension join, with grouping_id() distinguishing the
    * aggregation levels (0 = leaf, 1 = per-region, 3 = grand total).
    * Same single-shuffle expand-then-aggregate plan as rollup/cube;
    * dimension joins are broadcast. */
  def groupingSetsCustomers(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .join(broadcast(Tables.nation(s, d)),
        col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, d)),
        col("n_regionkey") === col("r_regionkey"))
      .groupingSets(
        Seq(Seq(col("r_name"), col("n_name")), Seq(col("r_name")), Seq()),
        col("r_name"), col("n_name"))
      .agg(
        grouping_id().cast("int").as("gid"),
        count(lit(1)).as("n_customers"),
        dsum(col("c_acctbal")).as("total_acctbal"))

  val groupingSetsCustomersSql: String =
    """SELECT r_name, n_name, CAST(GROUPING(r_name, n_name) AS INTEGER) AS gid,
      |  count(*) AS n_customers,
      |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_acctbal
      |FROM customer
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY GROUPING SETS ((r_name, n_name), (r_name), ())""".stripMargin

  // ----------------------------------------------- percentiles & moments

  /** Exact percentiles per group (median/p90 via linear interpolation —
    * the same rule DuckDB's quantile_cont applies). Memory contract:
    * Spark's exact `percentile` buffers a value→count map per group, so
    * state is O(distinct values per group) — bounded here (prices are a
    * domain, not a fact count) but unbounded in general; the 100 TB path
    * for open-domain columns is approx_percentile
    * ([[Sketches.orderSketches]]) — fixed-size mergeable summaries
    * instead of a per-group value map. The same contract applies
    * everywhere exact `percentile` appears in this file
    * ([[winsorizedPrices]] caps, [[madByStatus]]). Rounded to 4
    * decimals: interpolation arithmetic is engine-identical, rounding
    * guards the representation. */
  def percentilesByStatus(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .groupBy("o_orderstatus")
      .agg(
        round(expr("percentile(o_totalprice, 0.5)"), 4).as("price_p50"),
        round(expr("percentile(o_totalprice, 0.9)"), 4).as("price_p90"),
        min("o_totalprice").as("price_min"),
        max("o_totalprice").as("price_max"),
        count(lit(1)).as("n_orders"))

  val percentilesByStatusSql: String =
    """SELECT o_orderstatus,
      |  round(quantile_cont(o_totalprice, 0.5), 4) AS price_p50,
      |  round(quantile_cont(o_totalprice, 0.9), 4) AS price_p90,
      |  min(o_totalprice) AS price_min,
      |  max(o_totalprice) AS price_max,
      |  count(*) AS n_orders
      |FROM orders GROUP BY o_orderstatus""".stripMargin

  /** Sample variance / stddev / correlation per return flag, from exact
    * decimal power sums (n, Σx, Σx², Σxy): one map-side-combinable
    * aggregate, then pure double arithmetic. See the object scaladoc for
    * why this beats the native `var_samp`/`corr` one-pass co-moments on
    * cross-engine (and cross-partitioning) determinism. */
  def momentsByReturnFlag(s: SparkSession, d: String): DataFrame = {
    val q = dec(col("l_quantity"))
    val p = dec(col("l_extendedprice"))
    Tables.lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(
        count(lit(1)).as("n"),
        sum(q).as("sq"), sum(q * q).as("sqq"),
        sum(p).as("sp"), sum(p * p).as("spp"),
        sum(q * p).as("sqp"))
      .select(
        col("l_returnflag"), col("n"),
        round((col("sqq").cast("double") - col("sq").cast("double") * col("sq").cast("double") / col("n"))
          / (col("n") - 1), 8).as("var_qty"),
        round(sqrt((col("spp").cast("double") - col("sp").cast("double") * col("sp").cast("double") / col("n"))
          / (col("n") - 1)), 8).as("std_price"),
        // corr pins to 12 dp: the inputs are the SAME exact decimals,
        // but DuckDB's decimal->double conversion (int128 value times
        // 1e-scale, two float ops) can land 1 ulp off Spark's
        // correctly-rounded BigDecimal conversion, and at tiny scales
        // that ulp survives into the 17-digit rendering (seen once at
        // sf0.001; 12 dp is far beyond any analytical use of r)
        round((col("sqp").cast("double") - col("sq").cast("double") * col("sp").cast("double") / col("n"))
          / sqrt((col("sqq").cast("double") - col("sq").cast("double") * col("sq").cast("double") / col("n"))
            * (col("spp").cast("double") - col("sp").cast("double") * col("sp").cast("double") / col("n"))), 12)
          .as("corr_qty_price"))
  }

  val momentsByReturnFlagSql: String =
    """WITH s AS (
      |  SELECT l_returnflag, count(*) AS n,
      |    sum(CAST(l_quantity AS DECIMAL(18,2))) AS sq,
      |    sum(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS sqq,
      |    sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS sp,
      |    sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS spp,
      |    sum(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS sqp
      |  FROM lineitem GROUP BY l_returnflag)
      |SELECT l_returnflag, n,
      |  round((CAST(sqq AS DOUBLE) - CAST(sq AS DOUBLE) * CAST(sq AS DOUBLE) / n) / (n - 1), 8)
      |    AS var_qty,
      |  round(sqrt((CAST(spp AS DOUBLE) - CAST(sp AS DOUBLE) * CAST(sp AS DOUBLE) / n) / (n - 1)), 8)
      |    AS std_price,
      |  round((CAST(sqp AS DOUBLE) - CAST(sq AS DOUBLE) * CAST(sp AS DOUBLE) / n)
      |    / sqrt((CAST(sqq AS DOUBLE) - CAST(sq AS DOUBLE) * CAST(sq AS DOUBLE) / n)
      |         * (CAST(spp AS DOUBLE) - CAST(sp AS DOUBLE) * CAST(sp AS DOUBLE) / n)), 12)
      |    AS corr_qty_price
      |FROM s""".stripMargin

  /** Feature standardization: per-group z-scores of the price column —
    * the ML-feature-engineering normalizer. Group mean/stddev come from
    * the same exact decimal power sums as [[momentsByReturnFlag]] (the
    * native stddev_samp's float merge order varies with partitioning),
    * then broadcast-join back onto the rows: stats are one
    * map-side-combinable aggregate over 6 groups, so the scoring pass is
    * scan-speed at any scale. Output restricted to a stable key range to
    * keep the verified result bounded; z rounds to 4 decimals. */
  def zscorePrices(s: SparkSession, d: String): DataFrame = {
    val p = dec(col("l_extendedprice"))
    val stats = Tables.lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"), sum(p).as("sp"), sum(p * p).as("spp"))
      .select(col("l_returnflag"),
        (col("sp").cast("double") / col("n")).as("mean_price"),
        sqrt((col("spp").cast("double") - col("sp").cast("double") * col("sp").cast("double") / col("n"))
          / (col("n") - 1)).as("std_price"))
    Tables.lineitem(s, d)
      .filter(col("l_orderkey") <= 500)
      .join(broadcast(stats), Seq("l_returnflag"))
      .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
        col("l_extendedprice"),
        round((col("l_extendedprice") - col("mean_price")) / col("std_price"), 4)
          .as("z_price"))
  }

  val zscorePricesSql: String =
    """WITH stats AS (
      |  SELECT l_returnflag, count(*) AS n,
      |    sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS sp,
      |    sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS spp
      |  FROM lineitem GROUP BY l_returnflag),
      |ms AS (
      |  SELECT l_returnflag,
      |    CAST(sp AS DOUBLE) / n AS mean_price,
      |    sqrt((CAST(spp AS DOUBLE) - CAST(sp AS DOUBLE) * CAST(sp AS DOUBLE) / n) / (n - 1))
      |      AS std_price
      |  FROM stats)
      |SELECT l_orderkey, l_linenumber, l_returnflag, l_extendedprice,
      |  round((l_extendedprice - mean_price) / std_price, 4) AS z_price
      |FROM lineitem JOIN ms USING (l_returnflag)
      |WHERE l_orderkey <= 500""".stripMargin

  /** Share-of-total (ratio_to_report): each nation's revenue as a fraction
    * of the grand total — the window-over-aggregate shape every BI layer
    * emits. The empty-frame window sum runs over the 25-row aggregate,
    * not the fact table, so the "global" window is driver-cheap at any
    * scale; the division is one double op over two exact decimal sums,
    * rounded to 4. */
  def revenueShareByNation(s: SparkSession, d: String): DataFrame = {
    val rev = Tables.customer(s, d)
      .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"))
      .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .groupBy("n_name")
      .agg(sum(dec(col("o_totalprice"))).as("rev_dec"))
    rev.select(col("n_name"),
        col("rev_dec").cast("double").as("revenue"),
        round(col("rev_dec").cast("double") /
          sum(col("rev_dec")).over(Window.partitionBy()).cast("double"), 4)
          .as("share_of_total"))
  }

  val revenueShareByNationSql: String =
    """WITH rev AS (
      |  SELECT n_name, sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rev_dec
      |  FROM customer
      |  JOIN orders ON c_custkey = o_custkey
      |  JOIN nation ON c_nationkey = n_nationkey
      |  GROUP BY n_name)
      |SELECT n_name, CAST(rev_dec AS DOUBLE) AS revenue,
      |  round(CAST(rev_dec AS DOUBLE) / CAST(sum(rev_dec) OVER () AS DOUBLE), 4)
      |    AS share_of_total
      |FROM rev""".stripMargin

  /** Equal-frequency decile bucketing of order prices (NTILE) with
    * per-decile stats — the quantile-binning feature transform. NTILE
    * needs a total order: the sort carries the unique order key as
    * tiebreak so equal prices land deterministically. NOTE the scale
    * posture honestly (ADVICE r3): a window with no PARTITION BY plans
    * as Exchange SinglePartition — this exact form IS a single-reducer
    * sort, the bounded-input / reference tool only. The scale path is
    * [[decileStatsDistributed]] below (identical semantics, verified
    * against the same oracle), which range-partitions and never funnels
    * rows through one task. */
  def decileStats(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_totalprice"))
      .withColumn("decile", ntile(10).over(
        Window.orderBy(col("o_totalprice"), col("o_orderkey"))))
      .groupBy("decile")
      .agg(count(lit(1)).as("n_orders"),
        min("o_totalprice").as("price_lo"),
        max("o_totalprice").as("price_hi"),
        dsum(col("o_totalprice")).as("price_sum"))

  val decileStatsSql: String =
    """WITH ranked AS (
      |  SELECT o_orderkey, o_totalprice,
      |    ntile(10) OVER (ORDER BY o_totalprice, o_orderkey) AS decile
      |  FROM orders)
      |SELECT decile, count(*) AS n_orders,
      |  min(o_totalprice) AS price_lo,
      |  max(o_totalprice) AS price_hi,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS price_sum
      |FROM ranked GROUP BY decile""".stripMargin

  /** The scale rendering of [[decileStats]]: exact NTILE(10) semantics
    * with NO single-partition window (registered against the SAME DuckDB
    * oracle, so the driver proves the two plans row-equal — the same
    * custom-vs-reference pattern as q_asof_broadcast).
    *
    * Shape: one range repartition on (price, key) — Spark's distributed
    * sort primitive, every partition holds a disjoint contiguous rank
    * range — then a metadata pass collects the 32 per-partition row
    * counts (the only driver round-trip; O(partitions), never O(rows)),
    * and a narrow mapPartitions turns offset+local-position into the
    * exact global rank and folds each row straight into per-decile
    * partial aggregates (count / min / max / exact decimal sum). Each
    * partition emits at most 10 partial rows; the final combine
    * aggregates ≤ 10 × partitions rows. Total cost at any scale: one
    * shuffle of (key, price) pairs + a scan — the single-reducer NTILE
    * funnel is gone, and unlike approx-quantile cut points the bucket
    * boundaries are exact, so results are bit-identical to the window
    * form. The per-partition counting pass reads the localCheckpoint'd
    * shuffle output, not the source table. */
  def decileStatsDistributed(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val nPart = s.sessionState.conf.numShufflePartitions
    val ranged = Tables.orders(s, d)
      .select(col("o_orderkey").cast("long").as("k"),
        col("o_totalprice").cast("double").as("p"))
      .repartitionByRange(nPart, col("p"), col("k"))
      .sortWithinPartitions(col("p"), col("k"))
      .select(col("k"), col("p"))
      .as[(Long, Double)]
      .rdd
    // Pin the shuffle output so the counting pass and the ranking pass
    // read the SAME partitioning without recomputing the sort. In the
    // default local mode losing an executor between the two passes
    // fails the job (LOUDLY; a silent recompute could reorder); with
    // spark.graft.checkpoint.dir set, Pin swaps to a reliable
    // checkpoint that survives executor loss at the cost of a
    // distributed-FS round-trip.
    graft.Pin.rdd(s, ranged)
    val counts = ranged
      // fold to a Long directly — Iterator.size returns Int and would
      // wrap past 2^31 rows in one partition
      .mapPartitionsWithIndex((i, it) => Iterator((i, it.foldLeft(0L)((n, _) => n + 1))),
        preservesPartitioning = true)
      .collect().sortBy(_._1).map(_._2)
    val n = counts.sum
    val offsets = counts.scanLeft(0L)(_ + _)
    val q = n / 10
    val rem = n % 10
    val partials = ranged.mapPartitionsWithIndex { (pid, it) =>
      val off = offsets(pid)
      var pos = 0L
      val accC = new Array[Long](11)
      val accLo = Array.fill(11)(Double.MaxValue)
      val accHi = Array.fill(11)(Double.MinValue)
      val accS = Array.fill(11)(java.math.BigDecimal.ZERO)
      it.foreach { case (_, p) =>
        pos += 1
        val r = off + pos // exact global rank, 1-based
        // NTILE remainder rule: the first rem buckets get q+1 rows
        val dcl =
          if (r <= rem * (q + 1)) (((r - 1) / (q + 1)) + 1).toInt
          else (rem + ((r - rem * (q + 1) - 1) / q) + 1).toInt
        accC(dcl) += 1
        if (p < accLo(dcl)) accLo(dcl) = p
        if (p > accHi(dcl)) accHi(dcl) = p
        accS(dcl) = accS(dcl).add(java.math.BigDecimal.valueOf(p)
          .setScale(2, java.math.RoundingMode.HALF_UP))
      }
      (1 to 10).iterator.filter(accC(_) > 0).map(dcl =>
        (dcl, accC(dcl), accLo(dcl), accHi(dcl), accS(dcl).toPlainString))
    }
    s.createDataset(partials).toDF("decile", "n", "lo", "hi", "sum_str")
      .groupBy("decile")
      .agg(sum(col("n")).as("n_orders"),
        min(col("lo")).as("price_lo"),
        max(col("hi")).as("price_hi"),
        sum(col("sum_str").cast(DecimalType(18, 2))).cast("double").as("price_sum"))
  }

  /** COUNT(DISTINCT) OVER a partition — an aggregate Spark's window
    * operator doesn't accept (`DISTINCT` in windows is unsupported),
    * rendered with the dense_rank identity: the distinct count of x in a
    * partition equals max(dense_rank ordered by x). Both window passes
    * share ONE partition shuffle (the second frame is unbounded, no
    * re-sort); the oracle uses DuckDB's native distinct window aggregate,
    * so what's verified is the identity itself. Restricted to a stable
    * key slice to bound verified output. */
  def windowDistinctCount(s: SparkSession, d: String): DataFrame = {
    val byStatus = Window.partitionBy("o_orderstatus")
    Tables.orders(s, d)
      .filter(col("o_orderkey") <= 2000)
      .withColumn("dr", dense_rank().over(byStatus.orderBy(col("o_custkey"))))
      .withColumn("n_cust_distinct",
        max(col("dr")).over(byStatus))
      .select(col("o_orderstatus"), col("o_orderkey"), col("o_custkey"),
        col("n_cust_distinct").cast("long").as("n_cust_distinct"))
  }

  val windowDistinctCountSql: String =
    """SELECT o_orderstatus, o_orderkey, o_custkey,
      |  count(DISTINCT o_custkey) OVER (PARTITION BY o_orderstatus)
      |    AS n_cust_distinct
      |FROM orders WHERE o_orderkey <= 2000""".stripMargin

  /** Winsorization: clip prices to their group's [p05, p95] — the
    * outlier-capping feature transform (the robust sibling of
    * [[zscorePrices]]). Caps come from one exact-percentile aggregate
    * over 3 groups (broadcast back; O(distinct values per group) state —
    * see the [[percentilesByStatus]] memory contract, approx_percentile
    * is the open-domain rendering); the clip itself is a pure
    * projection. Caps round to 4 decimals BEFORE clipping so the
    * boundary decision is engine-portable; clipped values are either
    * raw data or a rounded cap — exact either way. */
  def winsorizedPrices(s: SparkSession, d: String): DataFrame = {
    val caps = Tables.orders(s, d)
      .groupBy("o_orderstatus")
      .agg(round(expr("percentile(o_totalprice, 0.05)"), 4).as("cap_lo"),
        round(expr("percentile(o_totalprice, 0.95)"), 4).as("cap_hi"))
    Tables.orders(s, d)
      .filter(col("o_orderkey") <= 2000)
      .join(broadcast(caps), Seq("o_orderstatus"))
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
        least(greatest(col("o_totalprice"), col("cap_lo")), col("cap_hi"))
          .as("price_winsorized"),
        (col("o_totalprice") < col("cap_lo") || col("o_totalprice") > col("cap_hi"))
          .as("was_clipped"))
  }

  val winsorizedPricesSql: String =
    """WITH caps AS (
      |  SELECT o_orderstatus,
      |    round(quantile_cont(o_totalprice, 0.05), 4) AS cap_lo,
      |    round(quantile_cont(o_totalprice, 0.95), 4) AS cap_hi
      |  FROM orders GROUP BY o_orderstatus)
      |SELECT o_orderkey, o_orderstatus, o_totalprice,
      |  least(greatest(o_totalprice, cap_lo), cap_hi) AS price_winsorized,
      |  o_totalprice < cap_lo OR o_totalprice > cap_hi AS was_clipped
      |FROM orders JOIN caps USING (o_orderstatus)
      |WHERE o_orderkey <= 2000""".stripMargin

  /** Median absolute deviation per group — the robust dispersion measure
    * ([[zscorePrices]]'s mean/stddev break under heavy tails; median/MAD
    * don't). Two exact-percentile passes over the same partitioning
    * (each O(distinct values per group) state — see the
    * [[percentilesByStatus]] memory contract): medians first, broadcast
    * back, then the median of absolute deviations. Interpolated
    * percentile matches quantile_cont; rounds to 4 like all
    * interpolation arithmetic in the suite. */
  def madByStatus(s: SparkSession, d: String): DataFrame = {
    val med = Tables.orders(s, d)
      .groupBy("o_orderstatus")
      .agg(expr("percentile(o_totalprice, 0.5)").as("med_price"))
    Tables.orders(s, d)
      .join(broadcast(med), Seq("o_orderstatus"))
      .groupBy("o_orderstatus")
      .agg(
        round(first(col("med_price")), 4).as("median_price"),
        round(expr("percentile(abs(o_totalprice - med_price), 0.5)"), 4)
          .as("mad_price"),
        count(lit(1)).as("n_orders"))
  }

  val madByStatusSql: String =
    """WITH med AS (
      |  SELECT o_orderstatus, quantile_cont(o_totalprice, 0.5) AS med_price
      |  FROM orders GROUP BY o_orderstatus)
      |SELECT o_orderstatus,
      |  round(any_value(med_price), 4) AS median_price,
      |  round(quantile_cont(abs(o_totalprice - med_price), 0.5), 4) AS mad_price,
      |  count(*) AS n_orders
      |FROM orders JOIN med USING (o_orderstatus)
      |GROUP BY o_orderstatus""".stripMargin

  /** TUKEY-FENCE OUTLIER AUDIT — the boxplot rule: per order priority,
    * exact discrete quartiles of the price distribution (in integer
    * cents), fences at Q1 − 1.5·IQR and Q3 + 1.5·IQR, and the count of
    * rows outside each fence. Completes the robust-dispersion family:
    * z-score (q_zscore) assumes normality, MAD (q_mad) is
    * distribution-free on spread, the IQR fence is the standard
    * box-and-whisker outlier CONTRACT reviewers expect.
    *
    * percentile_disc picks actual data values (no interpolation), so
    * quartiles are exact integers and the half-IQR fences are exact
    * halves — every comparison is integer-vs-half-integer, immune to
    * float drift. Memory: exact discrete percentiles buffer O(distinct
    * values per group) (the [[percentilesByStatus]] contract); fences
    * broadcast back for a second map-side-combinable counting pass. */
  def iqrOutliers(s: SparkSession, d: String): DataFrame = {
    val cents = (col("o_totalprice").cast(DecimalType(18, 2)) * 100)
      .cast("long")
    val withCents = Tables.orders(s, d)
      .select(col("o_orderpriority"), cents.as("cents"))
    val fences = withCents.groupBy("o_orderpriority")
      .agg(
        expr("percentile_disc(0.25) WITHIN GROUP (ORDER BY cents)")
          .cast("long").as("q1"),
        expr("percentile_disc(0.75) WITHIN GROUP (ORDER BY cents)")
          .cast("long").as("q3"))
      // fences in half-cents so 1.5·IQR stays integer: lo/hi = 2·q ∓ 3·IQR
      .select(col("o_orderpriority"), col("q1"), col("q3"),
        (col("q1") * 2 - (col("q3") - col("q1")) * 3).as("lo2"),
        (col("q3") * 2 + (col("q3") - col("q1")) * 3).as("hi2"))
    withCents.join(broadcast(fences), Seq("o_orderpriority"))
      .groupBy(col("o_orderpriority"), col("q1"), col("q3"))
      .agg(count(lit(1)).as("n_orders"),
        sum(when(col("cents") * 2 < col("lo2"), 1L).otherwise(0L))
          .as("n_low_outliers"),
        sum(when(col("cents") * 2 > col("hi2"), 1L).otherwise(0L))
          .as("n_high_outliers"))
  }

  val iqrOutliersSql: String =
    """WITH c AS (
      |  SELECT o_orderpriority,
      |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      |  FROM orders),
      |f AS (
      |  SELECT o_orderpriority,
      |    CAST(quantile_disc(cents, 0.25) AS BIGINT) AS q1,
      |    CAST(quantile_disc(cents, 0.75) AS BIGINT) AS q3
      |  FROM c GROUP BY o_orderpriority)
      |SELECT c.o_orderpriority, f.q1, f.q3, count(*) AS n_orders,
      |  CAST(sum(CASE WHEN 2 * c.cents < 2 * f.q1 - 3 * (f.q3 - f.q1)
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_low_outliers,
      |  CAST(sum(CASE WHEN 2 * c.cents > 2 * f.q3 + 3 * (f.q3 - f.q1)
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_high_outliers
      |FROM c JOIN f USING (o_orderpriority)
      |GROUP BY c.o_orderpriority, f.q1, f.q3""".stripMargin

  // ------------------------------------------------- ordered string agg

  /** Ordered string aggregation: nations per region as one sorted
    * comma-joined string. collect_list is unordered (partition arrival
    * order); sorting the collected array before joining is what makes
    * the result deterministic — same contract as DuckDB's
    * `string_agg(... ORDER BY ...)`. Bounded group width only (a
    * dimension roster); unbounded text concat at scale is a smell. */
  def nationsPerRegion(s: SparkSession, d: String): DataFrame =
    Tables.nation(s, d)
      .join(broadcast(Tables.region(s, d)),
        col("n_regionkey") === col("r_regionkey"))
      .groupBy("r_name")
      .agg(
        array_join(sort_array(collect_list(col("n_name"))), ",").as("nations"),
        count(lit(1)).as("n_nations"))

  val nationsPerRegionSql: String =
    """SELECT r_name, string_agg(n_name, ',' ORDER BY n_name) AS nations,
      |  count(*) AS n_nations
      |FROM nation JOIN region ON n_regionkey = r_regionkey
      |GROUP BY r_name""".stripMargin

  // ------------------------------------------- conditional / ordered aggs

  /** Conditional-aggregate battery: count_if, bool_and/bool_or, and a
    * deterministic max_by/min_by — the "which row won" aggregate. The
    * max_by value is a (price, key) composite — an exact decimal
    * price*1e9 + key, unique because keys are — so ties on price can't
    * make the winner partitioning-dependent (bare max_by on a non-unique
    * value is nondeterministic at any scale, a distributed-correctness
    * bug that never shows up in single-node tests; a struct value would
    * be the idiomatic Spark form, but DuckDB's arg_max can't take one). */
  def conditionalAggBattery(s: SparkSession, d: String): DataFrame = {
    val tiebroken = dec(col("o_totalprice")) * 1000000000L + col("o_orderkey")
    Tables.orders(s, d)
      .groupBy("o_orderpriority")
      .agg(
        count_if(col("o_totalprice") > 200000).as("n_big"),
        bool_and(col("o_totalprice") > 0).as("all_positive"),
        bool_or(col("o_orderstatus") === "P").as("any_pending"),
        max_by(col("o_orderkey"), tiebroken).as("top_order"),
        min_by(col("o_orderkey"), tiebroken).as("bottom_order"))
  }

  val conditionalAggBatterySql: String =
    """SELECT o_orderpriority,
      |  CAST(count_if(o_totalprice > 200000) AS BIGINT) AS n_big,
      |  bool_and(o_totalprice > 0) AS all_positive,
      |  bool_or(o_orderstatus = 'P') AS any_pending,
      |  arg_max(o_orderkey, CAST(o_totalprice AS DECIMAL(18,2)) * 1000000000 + o_orderkey)
      |    AS top_order,
      |  arg_min(o_orderkey, CAST(o_totalprice AS DECIMAL(18,2)) * 1000000000 + o_orderkey)
      |    AS bottom_order
      |FROM orders GROUP BY o_orderpriority""".stripMargin

  /** XOR content checksum per group via the [[graft.functions.XorChecksum]]
    * typed Aggregator — keys and (exact-decimal) prices each folded into an
    * order-independent 64-bit digest. Run on both sides of a copy to prove
    * row-set equality with one aggregate scan and no sort. */
  def checksumAudit(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .select(col("o_orderstatus"),
        conv(substring(md5(col("o_orderkey").cast("string")), 1, 15), 16, 10)
          .cast("long").as("key_h"),
        (dec(col("o_totalprice")) * 100).cast("long").as("price_c"))
      .groupBy("o_orderstatus")
      .agg(
        graft.functions.GraftFunctions.xorChecksum(col("key_h")).as("key_checksum"),
        graft.functions.GraftFunctions.xorChecksum(col("price_c")).as("price_checksum"),
        count(lit(1)).as("n_rows"))

  val checksumAuditSql: String =
    """SELECT o_orderstatus,
      |  bit_xor(CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 15)) AS BIGINT))
      |    AS key_checksum,
      |  bit_xor(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
      |    AS price_checksum,
      |  count(*) AS n_rows
      |FROM orders GROUP BY o_orderstatus""".stripMargin

  // -------------------------------------------- higher-order array fns

  /** Higher-order-function battery over token arrays: filter/forall/
    * exists/aggregate/slice+join, all scalar outputs. The token array is
    * staged in its own projection first — Catalyst does no CSE inside
    * lambda bodies, so an inline split() would re-tokenize per lambda
    * (the r2 performance cliff). Pure per-row projection: scan-speed at
    * any scale, zero shuffles. */
  /** Map-type surface: build a real map per user (event_type → count via
    * map_from_entries over a SORTED entry list — key order pinned so
    * downstream key joins are deterministic), then exercise the map HOF
    * battery: size, map_keys, element_at lookups, aggregate over
    * map_values, map_filter. Output flattens to scalars; the oracle
    * computes the same scalars map-free, so what's checked is the map
    * semantics, not an engine-specific map rendering. One shuffle for
    * the (user, type) count, one for the per-user map — both
    * map-side-combinable. */
  def mapFuncsBattery(s: SparkSession, d: String): DataFrame = {
    val m = col("m")
    Tables.events(s, d)
      .groupBy("user_id", "event_type").agg(count(lit(1)).as("n"))
      .groupBy("user_id")
      .agg(map_from_entries(
        sort_array(collect_list(struct(col("event_type"), col("n"))))).as("m"))
      .select(
        col("user_id"),
        size(m).as("n_types"),
        concat_ws(",", map_keys(m)).as("types"),
        coalesce(element_at(m, "click"), lit(0L)).as("n_click"),
        coalesce(element_at(m, "view"), lit(0L)).as("n_view"),
        aggregate(map_values(m), lit(0L), (a, b) => a + b).as("n_total"),
        size(map_filter(m, (_, v) => v >= 10)).as("n_types_ge10"))
  }

  val mapFuncsBatterySql: String =
    """WITH c AS (
      |  SELECT user_id, event_type, count(*) AS n FROM events GROUP BY 1, 2)
      |SELECT user_id,
      |  CAST(count(*) AS INT) AS n_types,
      |  string_agg(event_type, ',' ORDER BY event_type) AS types,
      |  CAST(coalesce(sum(CASE WHEN event_type = 'click' THEN n END), 0) AS BIGINT) AS n_click,
      |  CAST(coalesce(sum(CASE WHEN event_type = 'view' THEN n END), 0) AS BIGINT) AS n_view,
      |  CAST(sum(n) AS BIGINT) AS n_total,
      |  CAST(count(CASE WHEN n >= 10 THEN 1 END) AS INT) AS n_types_ge10
      |FROM c GROUP BY user_id""".stripMargin

  def arrayHofBattery(s: SparkSession, d: String): DataFrame = {
    val toks = col("toks")
    Tables.documents(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(
        col("doc_id"),
        size(filter(toks, t => length(t) > 5)).cast("int").as("n_long"),
        forall(toks, t => t === lower(t)).as("all_lower"),
        exists(toks, t => t.isInCollection(graft.text.TextAnalysis.stopwords))
          .as("has_stopword"),
        aggregate(toks, lit(0L), (acc, t) => acc + length(t)).as("total_chars"),
        array_join(slice(toks, 1, 3), "-").as("first3"))
  }

  val arrayHofBatterySql: String = {
    val stopList = graft.text.TextAnalysis.stopwords.map(w => s"'$w'").mkString(", ")
    s"""WITH words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
       |SELECT doc_id,
       |  CAST(len(list_filter(w, t -> len(t) > 5)) AS INTEGER) AS n_long,
       |  len(list_filter(w, t -> t = lower(t))) = len(w) AS all_lower,
       |  len(list_filter(w, t -> t IN ($stopList))) > 0 AS has_stopword,
       |  CAST(list_sum(list_transform(w, t -> len(t))) AS BIGINT) AS total_chars,
       |  array_to_string(w[1:3], '-') AS first3
       |FROM words""".stripMargin
  }

  // ------------------------------------------------------- regexp battery

  /** Regular-expression battery over part names: anchored group extract,
    * extract-all count, rlike predicate, and split_part — all RE2-safe
    * patterns (no lookarounds/backrefs), so the same query runs on any
    * regex engine. Pure codegen'd projections, scan-speed at any scale. */
  def regexpBattery(s: SparkSession, d: String): DataFrame =
    Tables.part(s, d)
      .select(
        col("p_partkey"),
        regexp_extract(col("p_name"), "^([a-z]+)", 1).as("first_word"),
        regexp_extract(col("p_name"), "([a-z]+)$", 1).as("last_word"),
        size(regexp_extract_all(col("p_name"), lit("[aeiou]+"), lit(0)))
          .as("n_vowel_runs"),
        col("p_name").rlike("^[a-g]").as("starts_early"),
        split_part(col("p_type"), lit(" "), lit(1)).as("type_head"))

  val regexpBatterySql: String =
    """SELECT p_partkey,
      |  regexp_extract(p_name, '^([a-z]+)', 1) AS first_word,
      |  regexp_extract(p_name, '([a-z]+)$', 1) AS last_word,
      |  CAST(len(regexp_extract_all(p_name, '[aeiou]+')) AS INTEGER) AS n_vowel_runs,
      |  regexp_matches(p_name, '^[a-g]') AS starts_early,
      |  split_part(p_type, ' ', 1) AS type_head
      |FROM part""".stripMargin

  // --------------------------------------------------- window frame battery

  /** Analytic window functions with explicit frames: first/last/nth value
    * over the partition, lead into the next row, and a trailing
    * 3-row sum — one sort-shuffle on the partition key serves all five
    * (single Window node, single exchange). Frames are written out
    * explicitly on both engines; last_value/nth_value default frames
    * differ across engines, so relying on defaults is a portability bug.
    * Decimal-cast trailing sum keeps the frame arithmetic exact. */
  def windowFrameBattery(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("o_orderstatus")
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    val full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables.orders(s, d)
      .filter(col("o_orderkey") <= 2000)
      .select(
        col("o_orderstatus"), col("o_orderkey"), col("o_totalprice"),
        first("o_totalprice").over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)).as("first_price"),
        last("o_totalprice").over(full).as("last_price"),
        nth_value(col("o_totalprice"), 2).over(full).as("second_price"),
        lead("o_totalprice", 1).over(w).as("next_price"),
        sum(dec(col("o_totalprice"))).over(w.rowsBetween(-3, -1))
          .cast("double").as("trailing3_price"))
  }

  val windowFrameBatterySql: String =
    """SELECT o_orderstatus, o_orderkey, o_totalprice,
      |  first_value(o_totalprice) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |    AS first_price,
      |  last_value(o_totalprice) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
      |    AS last_price,
      |  nth_value(o_totalprice, 2) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
      |    AS second_price,
      |  lead(o_totalprice, 1) OVER w AS next_price,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
      |    OVER (w ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING) AS DOUBLE) AS trailing3_price
      |FROM orders WHERE o_orderkey <= 2000
      |WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_orderdate, o_orderkey)""".stripMargin

  /** Weighted median: per return flag, the smallest extended price whose
    * cumulative quantity weight reaches half the total — the
    * robust-center statistic when rows carry unequal mass (price ticks
    * weighted by volume, doc scores weighted by length).
    *
    * Scale rendering: the weight is pre-aggregated by (flag, price)
    * FIRST — a map-side-combinable shuffle — so the cumulative window
    * runs over O(distinct prices) rows per flag, not the raw facts. The
    * reference form ([[weightedMedianPriceWindowed]]) windows the raw
    * table partitioned by a 3-value flag: at 100 TB each flag's entire
    * billions of rows sort and cumulate through ONE task. Here the
    * per-task window input is bounded by the price DOMAIN (which grows
    * with the catalog, not the fact count) — a real bound, but NOT one
    * shape analysis can prove, so PlanLint still flags this middle form
    * (its exemption demands all-tiny-domain aggregate keys); the
    * lint-clean production rendering is [[weightedMedianPriceDist]],
    * graded against the same oracle. Equivalence: the reference's
    * RANGE frame already treats equal prices as one cumulative group, so
    * collapsing them before the window cannot move the crossing point —
    * proven row-equal in AnalyticsSpec and graded against the SAME
    * oracle as the windowed form.
    *
    * Determinism: weights are exact decimals, so neither pre-aggregation
    * order nor partial-sum order can perturb the crossing test
    * `2·cumw >= total`, which stays in integer-exact decimal arithmetic. */
  def weightedMedianPrice(s: SparkSession, d: String): DataFrame = {
    // derives from the shared (flag, price, qty) → count memo: weight
    // Σ qty·c ≡ the raw scan's Σ qty in exact decimal arithmetic
    val byPrice = spearmanPairs(s, d)
      .groupBy(col("l_returnflag"), col("l_extendedprice"))
      .agg(sum(col("l_quantity").cast("decimal(12,2)") * col("c")).as("wt"))
    // prices are distinct per flag after the aggregate, so a ROWS frame
    // is exactly the reference's RANGE frame
    val byFlag = Window.partitionBy("l_returnflag").orderBy(col("l_extendedprice"))
    val cum = byFlag.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val all = Window.partitionBy("l_returnflag")
    byPrice
      .select(col("l_returnflag"), col("l_extendedprice"),
        sum(col("wt")).over(cum).as("cumw"),
        sum(col("wt")).over(all).as("totw"))
      .filter(col("cumw") * 2 >= col("totw"))
      .groupBy(col("l_returnflag"))
      .agg(min(col("l_extendedprice")).as("weighted_median_price"),
        max(col("totw")).cast("double").as("total_weight"))
  }

  /** The fully-distributed rendering of [[weightedMedianPrice]] for
    * corpora where even the (flag, price) aggregate stays fact-sized
    * (near-continuous prices — true of this synthetic corpus: 594k
    * distinct pairs in 600k rows at sf0.1). The pre-aggregated window
    * form bounds the window INPUT but still sorts each flag's whole
    * price domain through one task; this form runs the cumulative
    * weight through [[Distributed.withRunningTotal]] — range-partitioned
    * by (flag, price), so parallelism is the cluster width, independent
    * of the flag domain. Weights ride as exact cents (decimal×100 →
    * long); the crossing test and output are identical to the window
    * forms, and the driver grades it against the SAME oracle.
    * Pre-aggregating to distinct (flag, price) first is what gives the
    * running total RANGE-frame semantics (all equal prices count
    * together). */
  def weightedMedianPriceDist(s: SparkSession, d: String): DataFrame = {
    val byPrice = spearmanPairs(s, d)
      .groupBy(col("l_returnflag"), col("l_extendedprice"))
      .agg((sum(col("l_quantity").cast("decimal(12,2)") * col("c")) * 100)
        .cast("long").as("wt_cents"))
    Distributed.withRunningTotal(byPrice,
      Seq("l_returnflag"), Seq("l_extendedprice"), "wt_cents", "cumw", Some("totw"))
      .filter(col("cumw") * 2 >= col("totw"))
      .groupBy(col("l_returnflag"))
      .agg(min(col("l_extendedprice")).as("weighted_median_price"),
        (max(col("totw")).cast("double") / 100.0).as("total_weight"))
  }

  /** The reference window rendering of [[weightedMedianPrice]]: RANGE
    * frame directly over the raw facts. Correct, and the clearest
    * statement of the semantics — but the window partitions by a 3-value
    * flag over unaggregated rows, the low-cardinality-window
    * scale-antipattern PlanLint flags (each flag = one task at any data
    * size). Kept as the spec's equivalence baseline and the lint's
    * positive test case. */
  private[graft] def weightedMedianPriceWindowed(s: SparkSession, d: String): DataFrame = {
    val byFlag = Window.partitionBy("l_returnflag").orderBy(col("l_extendedprice"))
    val cum = byFlag.rangeBetween(Window.unboundedPreceding, Window.currentRow)
    val all = Window.partitionBy("l_returnflag")
    Tables.lineitem(s, d)
      .select(col("l_returnflag"), col("l_extendedprice"),
        col("l_quantity").cast("decimal(12,2)").as("wt"))
      .select(col("l_returnflag"), col("l_extendedprice"),
        sum(col("wt")).over(cum).as("cumw"),
        sum(col("wt")).over(all).as("totw"))
      .filter(col("cumw") * 2 >= col("totw"))
      .groupBy(col("l_returnflag"))
      .agg(min(col("l_extendedprice")).as("weighted_median_price"),
        max(col("totw")).cast("double").as("total_weight"))
  }

  val weightedMedianPriceSql: String =
    """WITH w AS (
      |  SELECT l_returnflag, l_extendedprice,
      |    sum(CAST(l_quantity AS DECIMAL(12,2))) OVER (
      |      PARTITION BY l_returnflag ORDER BY l_extendedprice
      |      RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumw,
      |    sum(CAST(l_quantity AS DECIMAL(12,2))) OVER (
      |      PARTITION BY l_returnflag) AS totw
      |  FROM lineitem)
      |SELECT l_returnflag,
      |  min(l_extendedprice) AS weighted_median_price,
      |  CAST(max(totw) AS DOUBLE) AS total_weight
      |FROM w WHERE cumw * 2 >= totw
      |GROUP BY l_returnflag""".stripMargin

  /** Month-over-month revenue growth — the period-over-period BI staple:
    * monthly exact-decimal revenue, the previous month's value (lag), and
    * the growth ratio. The window runs over the per-month aggregate
    * (O(months) rows at any fact size); the ratio is one long-cents /
    * long-cents double division, so no float accumulation anywhere. */
  def monthlyGrowth(s: SparkSession, d: String): DataFrame = {
    val monthly = Tables.orders(s, d)
      .groupBy(date_trunc("month", col("o_orderdate")).cast("date").as("month"))
      .agg((sum(col("o_totalprice").cast(DecimalType(18, 2))) * 100).cast("long")
        .as("cents"))
    val w = Window.orderBy("month")
    monthly
      .select(col("month"),
        (col("cents").cast("double") / 100.0).as("revenue"),
        lag("cents", 1).over(w).as("prev_cents"),
        col("cents"))
      .select(col("month"), col("revenue"),
        (col("prev_cents").cast("double") / 100.0).as("prev_revenue"),
        (col("cents").cast("double") / col("prev_cents").cast("double") - 1.0)
          .as("growth"))
  }

  val monthlyGrowthSql: String =
    """WITH monthly AS (
      |  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
      |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS cents
      |  FROM orders GROUP BY 1)
      |SELECT month,
      |  CAST(cents AS DOUBLE) / 100.0 AS revenue,
      |  CAST(lag(cents) OVER (ORDER BY month) AS DOUBLE) / 100.0 AS prev_revenue,
      |  CAST(cents AS DOUBLE) / CAST(lag(cents) OVER (ORDER BY month) AS DOUBLE) - 1.0
      |    AS growth
      |FROM monthly""".stripMargin

  /** OLS trend line per order priority: the least-squares slope and
    * intercept of daily revenue against the day index — the trend
    * detector behind "is this metric drifting". All power sums are over
    * exact integers (x = epoch-day int, y = revenue cents long), so the
    * closing slope/intercept formulas are single pinned double
    * expressions — deterministic across engines and partitionings, the
    * same discipline as [[momentsByReturnFlag]] and `q_spearman`. The
    * regression input is the per-(priority, day) aggregate: O(priorities
    * × days) rows at any fact size. */
  def revenueTrend(s: SparkSession, d: String): DataFrame = {
    val big = DecimalType(38, 0)
    def d0(c: Column): Column = c.cast(big)
    val daily = Tables.orders(s, d)
      .groupBy(col("o_orderpriority"),
        datediff(to_date(col("o_orderdate")), lit("1995-01-01").cast("date"))
          .cast("long").as("x"))
      .agg((sum(col("o_totalprice").cast(DecimalType(18, 2))) * 100).cast("long").as("y"))
    // NULL guard (single-customer edge sweep): a priority whose orders
    // all land on ONE day has zero x-variance — the OLS denominator is
    // exactly 0 (NULL on DuckDB's x/0, ANSI error here)
    val den = (d0(col("n")) * col("sxx") - col("sx") * col("sx"))
      .cast("double")
    val num = (d0(col("n")) * col("sxy") - col("sx") * col("sy"))
      .cast("double")
    val nullD = lit(null).cast("double")
    daily.groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).cast("long").as("n"),
        sum(d0(col("x"))).as("sx"), sum(d0(col("y"))).as("sy"),
        sum(d0(col("x")) * d0(col("y"))).as("sxy"),
        sum(d0(col("x")) * d0(col("x"))).as("sxx"))
      .select(col("o_orderpriority"), col("n"),
        when(den === 0d, nullD).otherwise(num / den / 100.0)
          .as("slope_per_day"),
        when(den === 0d, nullD).otherwise(
          (col("sy").cast("double") / col("n").cast("double") -
            num / den * (col("sx").cast("double") / col("n").cast("double")))
            / 100.0)
          .as("intercept"))
  }

  val revenueTrendSql: String =
    """WITH daily AS (
      |  SELECT o_orderpriority,
      |    CAST(date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS x,
      |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS y
      |  FROM orders GROUP BY 1, 2),
      |s AS (
      |  SELECT o_orderpriority, count(*) AS n,
      |    sum(CAST(x AS HUGEINT)) AS sx, sum(CAST(y AS HUGEINT)) AS sy,
      |    sum(CAST(x AS HUGEINT) * CAST(y AS HUGEINT)) AS sxy,
      |    sum(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS sxx
      |  FROM daily GROUP BY 1)
      |SELECT o_orderpriority, n,
      |  CAST(n * sxy - sx * sy AS DOUBLE) /
      |    CAST(n * sxx - sx * sx AS DOUBLE) / 100.0 AS slope_per_day,
      |  (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) -
      |   CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE) *
      |   (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))) / 100.0 AS intercept
      |FROM s""".stripMargin

  /** THEIL–SEN ROBUST TREND — the median of all pairwise slopes
    * (y_j−y_i)/(x_j−x_i) over the daily-revenue series, per order
    * priority: the breakdown-resistant companion to [[revenueTrend]]'s
    * OLS line (up to ~29% of the days can be arbitrarily corrupted
    * before the estimate moves; one bad day can drag OLS anywhere).
    *
    * Scale: the O(days²) pair set is built on the per-(priority, day)
    * AGGREGATE, whose cardinality is bounded by the calendar — it grows
    * with time span, not fact volume, so at 100 TB the pair frame is the
    * same size it is here. The exact median comes rank-from-aggregate
    * style (the q_weighted_median_dist pattern): group pairs by slope
    * value, one cumulative-count window over O(distinct slopes) rows,
    * pick the value(s) covering positions ⌊(n−1)/2⌋ and ⌊n/2⌋. Slopes
    * are quotients of exact integers (cents, days) — each engine derives
    * the identical doubles, so grouping and ordering agree bit-for-bit.
    *
    * The cumulative count runs through [[Distributed.withRunningTotal]]
    * (range-partition prefix sum), NOT a `Window.partitionBy(priority)`:
    * with only 5 priorities, the window form funnels the ~14.5M-row
    * pair frame through 5 sort tasks at any cluster size — the exact
    * low-cardinality-window antipattern PlanLint flags. The distributed
    * rendering keeps all 32 (or 1000) partitions busy and its offsets
    * pass is O(partitions × 5) metadata. Same oracle as the window form
    * (the q_weighted_median_dist shared-oracle proof). */
  /** Cutoff for [[topkMergeCheck]]. */
  private val tkMerge = 10

  /** DISTRIBUTED TOP-K MERGE CHECK — the lemma every scatter-gather
    * leaderboard relies on, stated as a self-checking query: the global
    * top-k (orders by price, key tiebreak) is CONTAINED in the union of
    * per-group top-ks for ANY grouping, so re-ranking the k×groups
    * union reproduces the global answer exactly. Ships both id-sums and
    * the equality boolean — the contract a tiered serving layer
    * (per-shard top-k, merge at the coordinator) gates its correctness
    * on. Scale story: the per-group leg is the production path
    * (TakeOrdered per group over WindowGroupLimit-pruned partitions;
    * the merge input is k × groups rows, never the facts). */
  def topkMergeCheck(s: SparkSession, d: String): DataFrame = {
    val orders = Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
    val globalTop = orders
      .orderBy(col("o_totalprice").desc, col("o_orderkey")).limit(tkMerge)
    val w = Window.partitionBy("o_orderpriority")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    val perGroup = orders.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= tkMerge)
    val merged = perGroup
      .orderBy(col("o_totalprice").desc, col("o_orderkey")).limit(tkMerge)
    val a = globalTop.agg(sum(col("o_orderkey")).as("global_keysum"))
    val b = merged.agg(sum(col("o_orderkey")).as("merged_keysum"))
    a.crossJoin(broadcast(b))
      .select(col("global_keysum"), col("merged_keysum"),
        (col("global_keysum") === col("merged_keysum")).as("merge_exact"))
  }

  val topkMergeCheckSql: String =
    s"""WITH g AS (
       |  SELECT CAST(sum(o_orderkey) AS BIGINT) AS global_keysum FROM (
       |    SELECT o_orderkey FROM orders
       |    ORDER BY o_totalprice DESC, o_orderkey LIMIT $tkMerge)),
       |pg AS (
       |  SELECT o_orderkey, o_totalprice FROM (
       |    SELECT o_orderkey, o_totalprice,
       |      row_number() OVER (PARTITION BY o_orderpriority
       |        ORDER BY o_totalprice DESC, o_orderkey) AS rk
       |    FROM orders) WHERE rk <= $tkMerge),
       |m AS (
       |  SELECT CAST(sum(o_orderkey) AS BIGINT) AS merged_keysum FROM (
       |    SELECT o_orderkey FROM pg
       |    ORDER BY o_totalprice DESC, o_orderkey LIMIT $tkMerge))
       |SELECT global_keysum, merged_keysum,
       |  global_keysum = merged_keysum AS merge_exact
       |FROM g CROSS JOIN m""".stripMargin

  /** FREEDMAN–DIACONIS AUTO-BINNED HISTOGRAM of order totals — the
    * histogram whose bin width the DATA chooses: w = 2·IQR/n^(1/3),
    * the robust default every plotting library implements and ad-hoc
    * dashboards hard-code wrongly. Two passes: exact discrete quartiles
    * (percentile_disc — engine-portable, no interpolation) + count in
    * one scalar aggregate, then one map-side-combinable groupBy on
    * integer floor-division of cents by the width.
    *
    * Determinism: the naive w = 2·IQR/pow(n, 1/3) feeds a TRANSCENDENTAL
    * into floor — JVM Math.pow and DuckDB's C pow may differ by 1 ulp,
    * and floor is discontinuous, so cents values near a bucket boundary
    * could bin differently per engine. Instead the width is an INTEGER
    * number of cents derived by exact integer arithmetic: r = ⌊n^(1/3)⌋
    * computed as a pow seed CORRECTED by integer comparison (r³ ≤ n <
    * (r+1)³ — exact in both engines regardless of pow's ulp error, the
    * classic integer-nthroot trick), then w_cents = max(1, (2·IQR) div
    * r). Bin ids are pure integer division; bin edges multiply exact
    * integers before one identical double division — every float both
    * engines see is bit-identical. */
  def fdHistogram(s: SparkSession, d: String): DataFrame = {
    val prices = Tables.orders(s, d)
      .select((col("o_totalprice").cast(DecimalType(18, 2)) * 100)
        .cast("long").as("cents"))
    val stats = prices.agg(
      count(lit(1)).as("n"),
      expr("percentile_disc(0.25) WITHIN GROUP (ORDER BY cents)")
        .cast("long").as("q1"),
      expr("percentile_disc(0.75) WITHIN GROUP (ORDER BY cents)")
        .cast("long").as("q3"))
    // exact ⌊n^(1/3)⌋: double-pow seed, then ±1 integer correction
    val widths = stats.select(col("n"), col("q1"), col("q3"),
        floor(pow(col("n").cast("double"), lit(1.0 / 3.0))).cast("long").as("r0"))
      .select(col("n"), col("q1"), col("q3"),
        when((col("r0") + 1) * (col("r0") + 1) * (col("r0") + 1) <= col("n"),
          col("r0") + 1)
          .when(col("r0") * col("r0") * col("r0") > col("n"), col("r0") - 1)
          .otherwise(col("r0")).as("r"))
      .select(greatest(lit(1L),
        expr("(2 * (q3 - q1)) div r")).as("w_cents"))
    prices.crossJoin(broadcast(widths))
      .select(expr("cents div w_cents").as("bin"), col("w_cents"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n_orders"), min(col("w_cents")).as("w0"))
      .select(col("bin"), col("n_orders"),
        round((col("bin") * col("w0")).cast("double") / 100.0, 2).as("bin_lo"),
        round(((col("bin") + 1) * col("w0")).cast("double") / 100.0, 2).as("bin_hi"))
      .orderBy("bin")
  }

  val fdHistogramSql: String =
    """WITH prices AS (
      |  SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
      |    AS cents
      |  FROM orders),
      |s AS (
      |  SELECT count(*) AS n,
      |    CAST(quantile_disc(cents, 0.25) AS BIGINT) AS q1,
      |    CAST(quantile_disc(cents, 0.75) AS BIGINT) AS q3
      |  FROM prices),
      |seed AS (
      |  SELECT n, q1, q3,
      |    CAST(floor(pow(CAST(n AS DOUBLE), 1.0 / 3.0)) AS BIGINT) AS r0
      |  FROM s),
      |root AS (
      |  SELECT n, q1, q3,
      |    CASE WHEN (r0 + 1) * (r0 + 1) * (r0 + 1) <= n THEN r0 + 1
      |         WHEN r0 * r0 * r0 > n THEN r0 - 1
      |         ELSE r0 END AS r
      |  FROM seed),
      |wdt AS (
      |  SELECT greatest(1, (2 * (q3 - q1)) // r) AS w_cents FROM root),
      |binned AS (
      |  SELECT cents // w_cents AS bin, w_cents
      |  FROM prices CROSS JOIN wdt)
      |SELECT bin, count(*) AS n_orders,
      |  round(CAST(bin * min(w_cents) AS DOUBLE) / 100.0, 2) AS bin_lo,
      |  round(CAST((bin + 1) * min(w_cents) AS DOUBLE) / 100.0, 2) AS bin_hi
      |FROM binned GROUP BY bin ORDER BY bin""".stripMargin

  /** Coarse histogram width for [[theilSenTrend]]'s two-pass selection
    * (slope units, i.e. cents/day before the final /100 rendering). */
  private val theilSenBucketWidth = 4096.0

  def theilSenTrend(s: SparkSession, d: String): DataFrame = {
    // TWO-PASS DISTRIBUTED EXACT MEDIAN — the selection algorithm, not a
    // sort. The pair stream is ~14.4M rows at sf0.1 and every
    // whole-frame rendering pays to materialize it in order (the r5
    // window form: 43 s; a full-frame withRunningTotal: 25 s — the
    // prefix sum itself is parallel, but pinning 14M rows through the
    // RDD bridge dominates). The median needs only TWO order statistics
    // per priority, so:
    //  pass 1: map-side-combinable histogram of slopes into
    //          [[theilSenBucketWidth]]-wide buckets — the 14.4M-row
    //          stream collapses to O(occupied buckets) BEFORE any
    //          shuffle; a (tiny) prefix sum over the histogram locates
    //          the bucket(s) holding global positions ⌊(n−1)/2⌋, ⌊n/2⌋
    //          and their starting offsets;
    //  pass 2: re-stream the pairs, keep ONLY target-bucket rows
    //          (broadcast semi-filter, ~1/buckets of the mass), rank
    //          exactly within the bucket and add the bucket offset —
    //          global positions from bucket-local ranks.
    // Both passes stream the broadcast-join pair generator with
    // map-side combine into small frames; nothing large shuffles,
    // sorts, or persists. Worst case (every slope in one bucket)
    // degrades to the full-frame prefix sum — bounded, never wrong.
    val pw = theilSenBucketWidth
    val bucket = floor(col("slope") / pw).cast("long")
    // both selection passes re-stream the PAIR GENERATOR (intrinsic to
    // two-pass selection: pass 2 cannot know its target buckets until
    // pass 1 finishes), but the O(days × priorities) daily aggregate
    // underneath it is pass-invariant — pin it once so the second pass
    // reuses the materialized census instead of re-scanning orders
    // (r11 measured: iso best-of-5 7.41 → 5.88 s at sf0.1, ~21%)
    val daily = theilSenDaily(s, d).pin()
    val hist = theilSenPairsFrom(daily)
      .groupBy(col("o_orderpriority"), bucket.as("b"))
      .agg(count(lit(1)).as("bc"))
    val targets = Distributed.withRunningTotal(hist,
        Seq("o_orderpriority"), Seq("b"), "bc", "bcum", Some("n"))
      .withColumn("tlo", expr("(n - 1) div 2"))
      .withColumn("thi", expr("n div 2"))
      .filter((col("bcum") - col("bc") <= col("tlo") && col("tlo") < col("bcum"))
        || (col("bcum") - col("bc") <= col("thi") && col("thi") < col("bcum")))
      .select(col("o_orderpriority").as("tp"), col("b").as("tb"),
        (col("bcum") - col("bc")).as("offset"), col("n"))
    val inTarget = theilSenPairsFrom(daily)
      .join(broadcast(targets),
        col("o_orderpriority") === col("tp") && bucket === col("tb"))
      .groupBy(col("o_orderpriority"), col("tb"), col("offset"), col("n"),
        col("slope"))
      .agg(count(lit(1)).as("cnt"))
    val counted = Distributed.withRunningTotal(inTarget,
        Seq("o_orderpriority", "tb"), Seq("slope"), "cnt", "cumin")
      .select(col("o_orderpriority"), col("slope"), col("cnt"),
        (col("offset") + col("cumin")).as("cum"), col("n"))
    theilSenPickMedian(counted)
  }

  /** The O(days²)-bounded (priority, slope) pair stream: a broadcast
    * join of the per-(priority, day) daily-revenue aggregate against
    * itself — generation is cheap (no shuffle beyond the 12k-row daily
    * aggregate); consumers aggregate it map-side. */
  private def theilSenDaily(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .groupBy(col("o_orderpriority"), to_date(col("o_orderdate")).as("day"))
      .agg((sum(col("o_totalprice").cast(DecimalType(18, 2))) * 100)
        .cast("long").as("cents"))

  private def theilSenPairs(s: SparkSession, d: String): DataFrame =
    theilSenPairsFrom(theilSenDaily(s, d))

  private def theilSenPairsFrom(daily: DataFrame): DataFrame = {
    val a = daily.select(col("o_orderpriority"), col("day").as("da"),
      col("cents").as("ya"))
    val b = daily.select(col("o_orderpriority"), col("day").as("db"),
      col("cents").as("yb"))
    // the divisor is guarded with greatest(·, 1) even though the filter
    // already excludes datediff = 0: the two-pass selection JOINS on an
    // expression of `slope`, and Catalyst's constraint inference pushes
    // `isnotnull(floor(slope / w))` BELOW this filter to the join input,
    // evaluating the division on the da = db diagonal — an ANSI
    // divide-by-zero on rows the query never keeps. greatest() makes the
    // expression total without changing any surviving row (datediff ≥ 1
    // there by the filter).
    a.join(b, Seq("o_orderpriority"))
      .filter(col("db") > col("da"))
      .select(col("o_orderpriority"),
        ((col("yb") - col("ya")).cast("double") /
          greatest(datediff(col("db"), col("da")), lit(1)).cast("double"))
          .as("slope"))
  }

  /** Per-(priority, slope) pair counts — the whole-frame aggregate the
    * windowed reference form consumes. Near-unique keys (~14M groups at
    * sf0.1): the groupBy is a full-width hash shuffle, NOT a
    * provably-small frame. */
  private def theilSenSlopeCounts(s: SparkSession, d: String): DataFrame =
    theilSenPairs(s, d)
      .groupBy(col("o_orderpriority"), col("slope"))
      .agg(count(lit(1)).as("cnt"))

  /** Median pick from (slope, cnt, cum, n) — the shared back half:
    * the value(s) whose cumulative span covers positions ⌊(n−1)/2⌋ and
    * ⌊n/2⌋, averaged. O(1) rows survive the filter per priority. */
  private def theilSenPickMedian(counted: DataFrame): DataFrame =
    counted
      .withColumn("lo", expr("(n - 1) div 2"))
      .withColumn("hi", expr("n div 2"))
      .filter((col("cum") - col("cnt") <= col("lo") && col("lo") < col("cum"))
        || (col("cum") - col("cnt") <= col("hi") && col("hi") < col("cum")))
      .groupBy(col("o_orderpriority"), col("n"))
      .agg(((max(when(col("cum") - col("cnt") <= col("lo") &&
              col("lo") < col("cum"), col("slope"))) +
            max(when(col("cum") - col("cnt") <= col("hi") &&
              col("hi") < col("cum"), col("slope")))) / 2)
        .as("theil_sen_slope"))
      .select(col("o_orderpriority"), col("n").as("n_pairs"),
        (col("theil_sen_slope") / 100.0).as("slope_per_day"))

  /** The window reference rendering of [[theilSenTrend]]: cumulative
    * count via `Window.partitionBy(o_orderpriority)` — semantically
    * identical (AnalyticsSpec proves row-equality), but the window
    * funnels the whole slope-count frame through 5 sort tasks at any
    * cluster size: the r5 bench regression (43 s, 16% of the suite) and
    * PlanLint's low-cardinality-window positive case — the aggregate
    * below it is keyed by near-unique `slope`, so it proves nothing. */
  private[graft] def theilSenTrendWindowed(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("o_orderpriority").orderBy("slope")
    val tot = Window.partitionBy("o_orderpriority")
    theilSenPickMedian(theilSenSlopeCounts(s, d)
      .withColumn("cum", sum(col("cnt")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("n", sum(col("cnt")).over(tot)))
  }

  val theilSenTrendSql: String =
    """WITH daily AS (
      |  SELECT o_orderpriority, CAST(o_orderdate AS DATE) AS day,
      |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
      |      AS cents
      |  FROM orders GROUP BY 1, 2),
      |pairs AS (
      |  SELECT a.o_orderpriority,
      |    CAST(b.cents - a.cents AS DOUBLE) /
      |      CAST(date_diff('day', a.day, b.day) AS DOUBLE) AS slope
      |  FROM daily a JOIN daily b
      |    ON b.o_orderpriority = a.o_orderpriority AND b.day > a.day),
      |grouped AS (
      |  SELECT o_orderpriority, slope, count(*) AS cnt
      |  FROM pairs GROUP BY 1, 2),
      |ranked AS (
      |  SELECT o_orderpriority, slope, cnt,
      |    sum(cnt) OVER (PARTITION BY o_orderpriority ORDER BY slope
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
      |    sum(cnt) OVER (PARTITION BY o_orderpriority) AS n
      |  FROM grouped),
      |mid AS (
      |  SELECT *, (n - 1) // 2 AS lo, n // 2 AS hi FROM ranked
      |  WHERE (cum - cnt <= (n - 1) // 2 AND (n - 1) // 2 < cum)
      |     OR (cum - cnt <= n // 2 AND n // 2 < cum))
      |SELECT o_orderpriority, CAST(n AS BIGINT) AS n_pairs,
      |  (max(CASE WHEN cum - cnt <= lo AND lo < cum THEN slope END) +
      |   max(CASE WHEN cum - cnt <= hi AND hi < cum THEN slope END)) / 2
      |    / 100.0 AS slope_per_day
      |FROM mid GROUP BY o_orderpriority, n""".stripMargin

  /** Per-group heavy hitters via the [[graft.functions.SpaceSaving]]
    * sketch, graded through its GUARANTEES rather than its contents:
    * sketch contents are merge-order-dependent (like every mergeable
    * sketch), but the two SpaceSaving invariants are not —
    *  - any item with true count > N/k is IN the sketch, and
    *  - every kept item's lower bound never exceeds its true count.
    *
    * The item domain is a planted-skew remap of l_partkey: 70% of rows
    * collapse onto three `hot_*` items (far above the N/16 threshold —
    * guaranteed kept) while the rest stay a wide `cold_*` tail (far more
    * distinct values than the sketch's 16 counters — evictions really
    * happen). The query runs the O(k)-state sketch per flag, exfoliates
    * it to flat rows, joins the exact per-item counts, and emits one row
    * per flag: the exact count of guaranteed-heavy items plus two
    * invariant booleans. n_guaranteed and the TRUE/TRUE pair are fully
    * deterministic, so the driver hash-compares them against DuckDB
    * computing the same threshold census — the sketch itself stays
    * approximate, the CONTRACT is what's graded (same discipline as
    * q_knn_lsh's recall check). The exact-count side is only the
    * verifier; the production artifact is the sketch aggregate, O(k)
    * state per group at any distinct-value count. */
  def heavyHitterParts(s: SparkSession, d: String): DataFrame = {
    val k = graft.functions.SpaceSaving.capacity
    val keyed = Tables.lineitem(s, d)
      .select(col("l_returnflag"),
        when(col("l_partkey") % 10 < 7,
          concat(lit("hot_"), (col("l_partkey") % 3).cast("string")))
          .otherwise(concat(lit("cold_"), col("l_partkey").cast("string")))
          .as("pk"))
    val sketch = keyed
      .groupBy(col("l_returnflag"))
      .agg(graft.functions.SpaceSaving.udaf(col("pk")).as("hh"))
      .select(col("l_returnflag").as("sk_flag"),
        explode(col("hh")).as(Seq("item", "count_lo")))
    val exact = keyed
      .groupBy(col("l_returnflag"), col("pk"))
      .agg(count(lit(1)).as("c"))
    val totals = Window.partitionBy("l_returnflag")
    exact
      .withColumn("n", sum(col("c")).over(totals))
      .join(sketch,
        col("l_returnflag") === col("sk_flag") && col("pk") === col("item"),
        "left")
      .groupBy(col("l_returnflag"))
      .agg(
        sum(when(col("c") * k > col("n"), 1L).otherwise(0L)).as("n_guaranteed"),
        min(when(col("c") * k > col("n"), col("item").isNotNull)
          .otherwise(lit(true))).as("all_guaranteed_present"),
        min(when(col("item").isNotNull, col("count_lo") <= col("c"))
          .otherwise(lit(true))).as("bounds_valid"))
  }

  val heavyHitterPartsSql: String =
    s"""WITH keyed AS (
       |  SELECT l_returnflag,
       |    CASE WHEN l_partkey % 10 < 7 THEN 'hot_' || CAST(l_partkey % 3 AS VARCHAR)
       |         ELSE 'cold_' || CAST(l_partkey AS VARCHAR) END AS pk
       |  FROM lineitem),
       |counts AS (
       |  SELECT l_returnflag, pk, count(*) AS c FROM keyed GROUP BY 1, 2),
       |tot AS (SELECT l_returnflag, sum(c) AS n FROM counts GROUP BY 1)
       |SELECT c.l_returnflag,
       |  CAST(count(*) FILTER (WHERE c.c * ${graft.functions.SpaceSaving.capacity} > t.n)
       |    AS BIGINT) AS n_guaranteed,
       |  TRUE AS all_guaranteed_present,
       |  TRUE AS bounds_valid
       |FROM counts c JOIN tot t USING (l_returnflag)
       |GROUP BY 1""".stripMargin

  /** Spearman rank correlation between price and quantity per return
    * flag — the monotone-association measure that survives outliers and
    * nonlinearity where Pearson ([[momentsByReturnFlag]]) does not.
    *
    * Scale rendering: min-ranks are NOT computed by ranking the raw
    * facts (that window partitions by a 3-value flag — one task per flag
    * at any data size, see [[spearmanPriceQtyWindowed]]). Instead the
    * facts collapse to (flag, price, qty) → count first (map-side
    * combinable, O(domain²) output), and each value's min-rank falls out
    * of the cumulative count over the per-VALUE marginal:
    * rank(v) = 1 + #rows with value < v = running Σ count − count(v) + 1
    * — `rank()`'s exact tie semantics. The two rank windows and the
    * joins back to the pair relation all run over DOMAIN-sized
    * aggregates (prices × quantities, grows with the catalog, not the
    * fact count); the raw table is touched by exactly one
    * map-side-combinable aggregate. Graded against the SAME oracle as
    * the windowed reference form.
    *
    * Determinism: ranks are exact integers weighted by exact long
    * counts; power sums run in decimal(38,0) — partial-aggregation order
    * cannot perturb anything, and the closing formula is one pinned
    * sequence of double ops. */
  def spearmanPriceQty(s: SparkSession, d: String): DataFrame = {
    val pairs = spearmanPairs(s, d)
    def minRanks(valueCol: String, rankName: String): DataFrame = {
      val w = Window.partitionBy("l_returnflag").orderBy(col(valueCol))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      pairs.groupBy(col("l_returnflag"), col(valueCol))
        .agg(sum(col("c")).as("nv"))
        .select(col("l_returnflag"), col(valueCol),
          (sum(col("nv")).over(w) - col("nv") + 1).cast("long").as(rankName))
    }
    spearmanClose(pairs
      .join(minRanks("l_extendedprice", "rp"), Seq("l_returnflag", "l_extendedprice"))
      .join(minRanks("l_quantity", "rq"), Seq("l_returnflag", "l_quantity")))
  }

  /** The fully-distributed rendering of [[spearmanPriceQty]] — same
    * motivation as [[weightedMedianPriceDist]]: when the per-value
    * marginals stay fact-sized (near-continuous prices), the min-rank
    * windows still sort each flag through one task; this form computes
    * the cumulative counts with [[Distributed.withRunningTotal]]
    * (range-partitioned, cluster-wide parallelism) and closes with the
    * identical exact power sums. Graded against the SAME oracle. */
  def spearmanPriceQtyDist(s: SparkSession, d: String): DataFrame = {
    // the shared memo is already pinned: three plan subtrees here (two
    // rank legs + the closing join) and three sibling queries read the
    // same blocks instead of re-running the fact scan + groupBy
    val pairs = spearmanPairs(s, d)
    def minRanks(valueCol: String, rankName: String): DataFrame =
      Distributed.withRunningTotal(
        pairs.groupBy(col("l_returnflag"), col(valueCol)).agg(sum(col("c")).as("nv")),
        Seq("l_returnflag"), Seq(valueCol), "nv", "cumn")
        .select(col("l_returnflag"), col(valueCol),
          (col("cumn") - col("nv") + 1).as(rankName))
    spearmanClose(pairs
      .join(minRanks("l_extendedprice", "rp"), Seq("l_returnflag", "l_extendedprice"))
      .join(minRanks("l_quantity", "rq"), Seq("l_returnflag", "l_quantity")))
  }

  /** The (flag, price, qty) → count relation the Spearman AND weighted-
    * median families derive from — one map-side-combinable aggregate
    * over the facts, memoized per (session, dataset) in [[graft.Memo]]
    * (pinned once, read by every consumer, dropped on session end or
    * by `Memo.clearAll`). Four queries share it:
    * both Spearman renderings rank over it directly, and both
    * weighted-median renderings re-aggregate it to (flag, price) with
    * weight Σ qty·c — exactly the weight the raw scan produced, in
    * exact arithmetic, so results are unchanged while the fact scan +
    * widest groupBy runs once per suite instead of four times. */
  private val memoCache = new graft.Memo.Cache("analytics")

  private def spearmanPairs(s: SparkSession, d: String): DataFrame =
    memoCache(s, d, "spearmanPairs") {
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"), col("l_extendedprice"), col("l_quantity"))
        .agg(count(lit(1)).cast("long").as("c"))
        .pin()
    }

  /** Close the correlation from count-weighted integer ranks via exact
    * decimal(38,0) power sums and one pinned double formula. */
  private def spearmanClose(ranked: DataFrame): DataFrame = {
    val big = DecimalType(38, 0)
    def d0(c: Column): Column = c.cast(big)
    ranked.groupBy(col("l_returnflag"))
      .agg(sum(col("c")).cast("long").as("n"),
        sum(d0(col("rp")) * d0(col("c"))).as("sx"),
        sum(d0(col("rq")) * d0(col("c"))).as("sy"),
        sum(d0(col("rp")) * d0(col("rq")) * d0(col("c"))).as("sxy"),
        sum(d0(col("rp")) * d0(col("rp")) * d0(col("c"))).as("sxx"),
        sum(d0(col("rq")) * d0(col("rq")) * d0(col("c"))).as("syy"))
      .select(col("l_returnflag"), col("n"),
        ((d0(col("n")) * col("sxy") - col("sx") * col("sy")).cast("double") /
          (sqrt((d0(col("n")) * col("sxx") - col("sx") * col("sx")).cast("double")) *
            sqrt((d0(col("n")) * col("syy") - col("sy") * col("sy")).cast("double"))))
          .as("spearman_rho"))
  }

  /** The reference window rendering of [[spearmanPriceQty]]: `rank()`
    * directly over the raw facts, two windows sharing one l_returnflag
    * partitioning. Clear but scale-weak — the flag has 3 values, so each
    * window partition is one task regardless of data size (the
    * low-cardinality-window antipattern PlanLint flags). Kept as the
    * spec's equivalence baseline and the lint's positive test case. */
  private[graft] def spearmanPriceQtyWindowed(s: SparkSession, d: String): DataFrame = {
    val big = DecimalType(38, 0)
    def d0(c: Column): Column = c.cast(big)
    val byFlag = Window.partitionBy("l_returnflag")
    val ranked = Tables.lineitem(s, d)
      .select(col("l_returnflag"),
        rank().over(byFlag.orderBy(col("l_extendedprice"))).cast("long").as("rp"),
        rank().over(byFlag.orderBy(col("l_quantity"))).cast("long").as("rq"))
    ranked.groupBy(col("l_returnflag"))
      .agg(count(lit(1)).cast("long").as("n"),
        sum(d0(col("rp"))).as("sx"), sum(d0(col("rq"))).as("sy"),
        sum(d0(col("rp")) * d0(col("rq"))).as("sxy"),
        sum(d0(col("rp")) * d0(col("rp"))).as("sxx"),
        sum(d0(col("rq")) * d0(col("rq"))).as("syy"))
      .select(col("l_returnflag"), col("n"),
        ((d0(col("n")) * col("sxy") - col("sx") * col("sy")).cast("double") /
          (sqrt((d0(col("n")) * col("sxx") - col("sx") * col("sx")).cast("double")) *
            sqrt((d0(col("n")) * col("syy") - col("sy") * col("sy")).cast("double"))))
          .as("spearman_rho"))
  }

  val spearmanPriceQtySql: String =
    """WITH ranked AS (
      |  SELECT l_returnflag,
      |    CAST(rank() OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice) AS BIGINT) AS rp,
      |    CAST(rank() OVER (PARTITION BY l_returnflag ORDER BY l_quantity) AS BIGINT) AS rq
      |  FROM lineitem),
      |s AS (
      |  SELECT l_returnflag, count(*) AS n,
      |    sum(CAST(rp AS HUGEINT)) AS sx, sum(CAST(rq AS HUGEINT)) AS sy,
      |    sum(CAST(rp AS HUGEINT) * CAST(rq AS HUGEINT)) AS sxy,
      |    sum(CAST(rp AS HUGEINT) * CAST(rp AS HUGEINT)) AS sxx,
      |    sum(CAST(rq AS HUGEINT) * CAST(rq AS HUGEINT)) AS syy
      |  FROM ranked GROUP BY 1)
      |SELECT l_returnflag, n,
      |  CAST(n * sxy - sx * sy AS DOUBLE) /
      |    (sqrt(CAST(n * sxx - sx * sx AS DOUBLE)) *
      |     sqrt(CAST(n * syy - sy * sy AS DOUBLE))) AS spearman_rho
      |FROM s""".stripMargin

  /** Chi-square test of independence between order status and priority,
    * with Cramér's V — the categorical-association screen (are two
    * labelings related, e.g. source × language in a corpus audit).
    *
    * Cross-engine determinism is the whole game here (this query was
    * abandoned in an earlier round because a parallel SUM of per-cell
    * double terms is partial-order-dependent):
    *  - every cell term is (n·N − R·C)² / (N·R·C) with BOTH sides exact
    *    integers (decimal(38,0) / HUGEINT) until ONE correctly-rounded
    *    double division — deterministic on both engines;
    *  - the 15 per-cell doubles are then summed in PINNED (status,
    *    priority) order: Spark folds a sort_array'd struct list with
    *    `aggregate`; DuckDB uses `sum(term ORDER BY st, pr)` — both
    *    sequential left-to-right, so the float accumulation is
    *    bit-identical, not merely close.
    * Totals come from broadcast joins of tiny aggregates (the scalar N
    * frame is provably-one-row — PlanLint-exempt), never windows.
    *
    * Scale contract: cell counts ride one map-side-combinable aggregate
    * over the facts; everything after is O(cells). The exact integer
    * numerator (n·N)² needs N ≲ 3·10⁹ to stay inside decimal(38) —
    * beyond that, rescale counts (thousands) or accept the
    * double-expected-frequency form. */
  def chiSquareStatusPriority(s: SparkSession, d: String): DataFrame = {
    val big = DecimalType(38, 0)
    def d0(c: Column): Column = c.cast(big)
    val cells = Tables.orders(s, d)
      .groupBy(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"))
    val rowT = cells.groupBy(col("o_orderstatus")).agg(sum(col("n")).as("r"))
    val colT = cells.groupBy(col("o_orderpriority")).agg(sum(col("n")).as("c"))
    val grand = cells.agg(sum(col("n")).as("nn"))
    val diff = d0(col("n")) * d0(col("nn")) - d0(col("r")) * d0(col("c"))
    val terms = cells
      .join(broadcast(rowT), Seq("o_orderstatus"))
      .join(broadcast(colT), Seq("o_orderpriority"))
      .crossJoin(broadcast(grand))
      .select(col("nn"),
        struct(col("o_orderstatus").as("st"), col("o_orderpriority").as("pr"),
          ((diff * diff).cast("double") /
            (d0(col("nn")) * d0(col("r")) * d0(col("c"))).cast("double")).as("term"))
          .as("cell"))
    terms
      .groupBy(col("nn"))
      .agg(sort_array(collect_list(col("cell"))).as("cells"))
      .select(
        col("nn").cast("long").as("n_rows"),
        ((org.apache.spark.sql.functions.size(array_distinct(
            transform(col("cells"), x => x.getField("st")))) - 1) *
          (org.apache.spark.sql.functions.size(array_distinct(
            transform(col("cells"), x => x.getField("pr")))) - 1)).as("dof"),
        round(aggregate(col("cells"), lit(0.0d),
          (acc, x) => acc + x.getField("term")), 6).as("chi2"),
        least(
          org.apache.spark.sql.functions.size(array_distinct(
            transform(col("cells"), x => x.getField("st")))) - 1,
          org.apache.spark.sql.functions.size(array_distinct(
            transform(col("cells"), x => x.getField("pr")))) - 1).as("min_dim"))
      .select(col("n_rows"), col("dof"),
        col("chi2"),
        // NULL guard (collapsed-dimension edge sweep): a 1×k table has
        // min_dim = 0 — NULL on DuckDB, ANSI error here
        when(col("min_dim") === 0, lit(null).cast("double"))
          .otherwise(round(sqrt(col("chi2") /
            (col("n_rows").cast("double") * col("min_dim").cast("double"))),
            6)).as("cramers_v"))
  }

  val chiSquareStatusPrioritySql: String =
    """WITH cells AS (
      |  SELECT o_orderstatus AS st, o_orderpriority AS pr, count(*) AS n
      |  FROM orders GROUP BY 1, 2),
      |rt AS (SELECT st, sum(n) AS r FROM cells GROUP BY 1),
      |ct AS (SELECT pr, sum(n) AS c FROM cells GROUP BY 1),
      |nt AS (SELECT sum(n) AS nn FROM cells),
      |terms AS (
      |  SELECT st, pr,
      |    CAST((n * nn - r * c) * (n * nn - r * c) AS DOUBLE)
      |      / CAST(nn * r * c AS DOUBLE) AS term
      |  FROM cells JOIN rt USING (st) JOIN ct USING (pr) CROSS JOIN nt),
      |agg AS (
      |  SELECT CAST((SELECT nn FROM nt) AS BIGINT) AS n_rows,
      |    CAST((count(DISTINCT st) - 1) * (count(DISTINCT pr) - 1) AS INTEGER) AS dof,
      |    -- ORDER BY pins the float accumulation order to match the
      |    -- engine's sorted-fold exactly, not merely approximately
      |    round(sum(term ORDER BY st, pr), 6) AS chi2,
      |    CAST(least(count(DISTINCT st) - 1, count(DISTINCT pr) - 1) AS INTEGER)
      |      AS min_dim
      |  -- GROUP BY 1: over an EMPTY fact table the engine's grouped
      |  -- aggregate emits zero rows; the bare global aggregate here
      |  -- would emit one all-NULL row (empty-orders edge sweep)
      |  FROM terms GROUP BY 1)
      |SELECT n_rows, dof, chi2,
      |  round(sqrt(chi2 / (CAST(n_rows AS DOUBLE) * CAST(min_dim AS DOUBLE))), 6)
      |    AS cramers_v
      |FROM agg""".stripMargin

  /** Deterministic MODE (most frequent value) per group: each nation's
    * most common market segment among its customers, with the count.
    * Plain `mode()` is tie-nondeterministic in every engine; here the
    * winner is pinned by lexicographic max over (count, segment) — on
    * tied counts the lexically LAST segment wins, identically everywhere.
    * Two map-side-combinable aggregates (value counts, then per-group
    * struct max); the second input is O(groups × distinct values). */
  def modeSegmentByNation(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .groupBy(col("c_nationkey"), col("c_mktsegment"))
      .agg(count("*").as("n"))
      .groupBy(col("c_nationkey"))
      .agg(max(struct(col("n"), col("c_mktsegment"))).as("m"))
      .select(col("c_nationkey"), col("m.c_mktsegment").as("mode_segment"),
        col("m.n").as("n_customers"))

  val modeSegmentByNationSql: String =
    """WITH counts AS (
      |  SELECT c_nationkey, c_mktsegment, count(*) AS n
      |  FROM customer GROUP BY 1, 2),
      |win AS (
      |  SELECT c_nationkey,
      |    max(struct_pack(n := n, seg := c_mktsegment)) AS m
      |  FROM counts GROUP BY 1)
      |SELECT c_nationkey, m.seg AS mode_segment, m.n AS n_customers
      |FROM win""".stripMargin

  /** RFM customer segmentation: every customer scored 1-5 on Recency
    * (latest order date), Frequency (order count), and Monetary (exact
    * total spend) via NTILE(5), then counted per (r, f, m) cell with the
    * cell's total spend — the marketing-segmentation workhorse.
    *
    * Each NTILE orders by its measure with c_custkey as unique tiebreak
    * (identical cuts on both engines). The input to the windows is the
    * per-customer aggregate (one map-side-combinable shuffle), ~1/15th of
    * fact rows; the three global NTILEs are the single-partition
    * reference form — at scale each becomes the exact range-partitioned
    * rank rendering of [[decileStatsDistributed]] (same semantics, no
    * funnel), which the driver proves row-equal to the window form. */
  def rfmSegments(s: SparkSession, d: String): DataFrame = {
    val perCust = Tables.orders(s, d)
      .groupBy(col("o_custkey"))
      .agg(max(col("o_orderdate")).as("last_order"),
        count("*").as("n_orders"),
        sum(col("o_totalprice").cast("decimal(18,2)")).as("spend"))
    perCust
      .select(col("o_custkey"), col("spend"),
        ntile(5).over(Window.orderBy(col("last_order").desc, col("o_custkey"))).as("r"),
        ntile(5).over(Window.orderBy(col("n_orders").desc, col("o_custkey"))).as("f"),
        ntile(5).over(Window.orderBy(col("spend").desc, col("o_custkey"))).as("m"))
      .groupBy(col("r"), col("f"), col("m"))
      .agg(count("*").as("n_customers"),
        sum(col("spend")).cast("double").as("cell_spend"))
  }

  /** NTILE(k) from an exact 1-based unique global rank and the total
    * count — Spark/DuckDB semantics: with q = n div k and r = n mod k,
    * the first r tiles hold q+1 rows. All arithmetic is exact longs
    * until the two integer-valued divisions (correctly-rounded doubles
    * truncated back — exact while counts stay under 2⁵³). */
  private def ntileOfRank(rk: Column, n: Column, k: Int): Column = {
    val q = floor(n / k).cast("long")
    val r = (n % k).cast("long")
    val cut = r * (q + 1)
    when(rk <= cut, floor((rk - 1) / (q + 1)).cast("int") + 1)
      .otherwise((r + floor((rk - 1 - cut) / q).cast("long")).cast("int") + 1)
  }

  /** The fully-distributed rendering of [[rfmSegments]]: each of the
    * three global NTILE(5) scores comes from an exact unique global rank
    * ([[Distributed.withRunningTotal]] with unit weights over the
    * per-customer aggregate — descending measures ride as negated sort
    * keys) plus [[ntileOfRank]], instead of three single-partition
    * windows. Parallelism is the shuffle width at any customer count;
    * output and oracle are IDENTICAL to the window form. */
  def rfmSegmentsDist(s: SparkSession, d: String): DataFrame = {
    val perCust = Tables.orders(s, d)
      .groupBy(col("o_custkey"))
      .agg(max(col("o_orderdate")).as("last_order"),
        count("*").as("n_orders"),
        sum(col("o_totalprice").cast("decimal(18,2)")).as("spend"))
      .select(col("o_custkey"), col("spend"),
        // negations render the window form's DESC orders as ascending
        // range-partition keys; custkey stays the unique tiebreak
        (-datediff(col("last_order"), lit("1990-01-01").cast("date"))).as("neg_last"),
        (-col("n_orders")).as("neg_orders"),
        (-col("spend")).as("neg_spend"),
        lit(1L).as("one"))
      // pinned once: FOUR plan subtrees consume this aggregate (three
      // rank legs + the closing join) — without the checkpoint each
      // re-runs the orders scan + per-customer groupBy
      .pin()
    def score(orderCol: String, name: String): DataFrame =
      Distributed.withRunningTotal(
        perCust.select(col("o_custkey"), col(orderCol), col("one")),
        Seq.empty, Seq(orderCol, "o_custkey"), "one", "rk", Some("n_cust"))
        .select(col("o_custkey").as(s"k_$name"),
          ntileOfRank(col("rk"), col("n_cust"), 5).as(name))
    perCust
      .join(score("neg_last", "r"), col("o_custkey") === col("k_r"))
      .join(score("neg_orders", "f"), col("o_custkey") === col("k_f"))
      .join(score("neg_spend", "m"), col("o_custkey") === col("k_m"))
      .groupBy(col("r"), col("f"), col("m"))
      .agg(count("*").as("n_customers"),
        sum(col("spend")).cast("double").as("cell_spend"))
  }

  /** 2-D histogram (heatmap): joint distribution of price band × quantity
    * band with per-cell count and exact revenue mass — the binned density
    * behind every scatter-replacement heatmap and the feature-pair audit
    * a training pipeline runs before trusting a correlation. Bands are
    * closed-form floor arithmetic (no quantile pass needed), so the whole
    * histogram is ONE map-side-combinable aggregate over ≤ ~110 cells —
    * scan speed at any scale, shuffle carries cells not rows. */
  def hist2dPriceQty(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy(
        (floor(col("l_extendedprice") / 10000) * 10000).cast("double")
          .as("price_band"),
        (floor(col("l_quantity") / 10) * 10).cast("double").as("qty_band"))
      .agg(count(lit(1)).as("n_rows"),
        sum(dec(col("l_extendedprice"))).cast("double").as("revenue"))

  val hist2dPriceQtySql: String =
    """SELECT
      |  CAST(floor(l_extendedprice / 10000) * 10000 AS DOUBLE) AS price_band,
      |  CAST(floor(l_quantity / 10) * 10 AS DOUBLE) AS qty_band,
      |  count(*) AS n_rows,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      |FROM lineitem
      |GROUP BY floor(l_extendedprice / 10000) * 10000,
      |         floor(l_quantity / 10) * 10""".stripMargin

  /** Revenue CONCENTRATION audit (Lorenz/Pareto): customers ranked by
    * spend into deciles, each decile's revenue share and cumulative
    * share in exact basis points — "what fraction of customers carries
    * 80% of revenue". NTILE runs over the per-customer AGGREGATE
    * (O(customers), the q_rfm precedent), never raw facts; shares are
    * integer cents arithmetic (`cum_cents * 10000 / total_cents` floor
    * division) so every row hash-matches the oracle with no float
    * accumulation. The cumulative pass is a 10-row window. At extreme
    * customer cardinality the NTILE swaps for the
    * [[graft.ops.Distributed.withRunningTotal]] exact-global-rank
    * rendering (the q_rfm_dist proof). */
  def lorenzCustomerRevenue(s: SparkSession, d: String): DataFrame = {
    val perCust = Tables.orders(s, d)
      .groupBy("o_custkey")
      .agg((sum(dec(col("o_totalprice"))) * 100).cast("long").as("cents"))
    val byDecile = perCust
      .select(col("cents"),
        ntile(10).over(Window.orderBy(col("cents").desc, col("o_custkey")))
          .as("decile"))
      .groupBy("decile")
      .agg(count(lit(1)).as("n_customers"), sum(col("cents")).as("dec_cents"))
    val w = Window.orderBy("decile")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    byDecile
      .select(col("decile"), col("n_customers"),
        (col("dec_cents").cast("double") / 100).as("decile_revenue"),
        sum(col("dec_cents")).over(w).as("cum_cents"),
        sum(col("dec_cents")).over(
          Window.orderBy("decile").rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing))
          .as("total_cents"))
      .select(col("decile"), col("n_customers"), col("decile_revenue"),
        // DIV = integer floor division on both engines (Column./ would be
        // double division and cast-rounding conventions differ)
        expr("cum_cents * 10000 DIV total_cents").as("cum_share_bp"))
  }

  val lorenzCustomerRevenueSql: String =
    """WITH per_cust AS (
      |  SELECT o_custkey,
      |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
      |      AS cents
      |  FROM orders GROUP BY o_custkey),
      |ranked AS (
      |  SELECT cents,
      |    ntile(10) OVER (ORDER BY cents DESC, o_custkey) AS decile
      |  FROM per_cust),
      |by_decile AS (
      |  SELECT decile, count(*) AS n_customers, sum(cents) AS dec_cents
      |  FROM ranked GROUP BY decile)
      |SELECT decile, n_customers,
      |  CAST(dec_cents AS DOUBLE) / 100 AS decile_revenue,
      |  CAST(sum(dec_cents) OVER (ORDER BY decile
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) * 10000
      |    // sum(dec_cents) OVER () AS BIGINT) AS cum_share_bp
      |FROM by_decile""".stripMargin

  /** DISCRETE percentiles (inverse distribution without interpolation):
    * the smallest actual data value whose cumulative share reaches q.
    * Unlike the interpolated form, the result is a value the data
    * CONTAINS, which makes it (a) meaningful for non-numeric-averageable
    * domains and (b) exactly engine-portable — no float interpolation,
    * no rounding guard needed: the oracle hash-matches raw doubles. */
  def percentileDiscByStatus(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .groupBy("o_orderstatus")
      .agg(
        expr("percentile_disc(0.25) WITHIN GROUP (ORDER BY o_totalprice)")
          .as("p25_disc"),
        expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY o_totalprice)")
          .as("p50_disc"),
        expr("percentile_disc(0.75) WITHIN GROUP (ORDER BY o_totalprice)")
          .as("p75_disc"),
        count(lit(1)).as("n_orders"))

  val percentileDiscByStatusSql: String =
    """SELECT o_orderstatus,
      |  quantile_disc(o_totalprice, 0.25) AS p25_disc,
      |  quantile_disc(o_totalprice, 0.5) AS p50_disc,
      |  quantile_disc(o_totalprice, 0.75) AS p75_disc,
      |  count(*) AS n_orders
      |FROM orders GROUP BY o_orderstatus""".stripMargin

  /** Pairwise CORRELATION MATRIX of the four lineitem measures from ONE
    * aggregate of exact decimal power sums (n, Σx per column, Σx² per
    * column, Σxy per pair) — the feature-collinearity audit a training
    * pipeline runs before trusting any model on the features. Same
    * discipline as [[momentsByReturnFlag]]: partial sums are exact
    * DECIMAL (order-insensitive), the six correlations are pure double
    * arithmetic on those exact sums at the end, so the matrix is
    * bit-identical across engines AND partitionings. One scan,
    * map-side combine, O(d²) output. */
  def corrMatrixLineitem(s: SparkSession, d: String): DataFrame = {
    val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    val sums = Tables.lineitem(s, d).agg(
      count(lit(1)).as("n"),
      cols.flatMap(c => Seq(
        sum(dec(col(c))).as(s"s_$c"),
        sum((dec(col(c)) * dec(col(c))).cast(DecimalType(38, 6))).as(s"ss_$c"))) ++
      cols.combinations(2).toSeq.map { case Seq(a, b) =>
        sum((dec(col(a)) * dec(col(b))).cast(DecimalType(38, 6)))
          .as(s"sp_${a}_$b") }: _*)
    val pairRows = cols.combinations(2).toSeq.map { case Seq(a, b) =>
      // NULL guard (collapsed-dimension edge sweep): a CONSTANT column
      // has zero variance and its correlations divide by zero — NULL
      // on DuckDB, ANSI error here
      def vr(c: String) = col(s"ss_$c").cast("double") * col("n") -
        col(s"s_$c").cast("double") * col(s"s_$c").cast("double")
      // round 12: the correlation is pure double arithmetic on exact
      // decimal sums, but the DECIMAL→DOUBLE conversion itself is not
      // bit-identical across engines (DuckDB converts int128·10^-s in
      // two float ops; Spark's BigDecimal conversion is correctly
      // rounded) — a 1-ulp input skew that surfaced in the 17th digit
      // on the single-customer edge corpus (the q_moments sf0.001
      // class; trap list says round corr 12 dp)
      struct(lit(a).as("var_a"), lit(b).as("var_b"),
        when(vr(a) * vr(b) === 0d, lit(null).cast("double"))
          .otherwise(round(
            (col(s"sp_${a}_$b").cast("double") * col("n") -
              col(s"s_$a").cast("double") * col(s"s_$b").cast("double")) /
              (sqrt(vr(a)) * sqrt(vr(b))), 12)).as("corr"))
    }
    sums.select(explode(array(pairRows: _*)).as("p"))
      .select(col("p.var_a").as("var_a"), col("p.var_b").as("var_b"),
        col("p.corr").as("corr"))
  }

  val corrMatrixLineitemSql: String = {
    val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    val pairSelects = cols.combinations(2).toSeq.map { case Seq(a, b) =>
      s"""SELECT '$a' AS var_a, '$b' AS var_b,
         |  round((CAST(sp_${a}_$b AS DOUBLE) * n
         |    - CAST(s_$a AS DOUBLE) * CAST(s_$b AS DOUBLE)) /
         |  (sqrt(CAST(ss_$a AS DOUBLE) * n
         |    - CAST(s_$a AS DOUBLE) * CAST(s_$a AS DOUBLE)) *
         |   sqrt(CAST(ss_$b AS DOUBLE) * n
         |    - CAST(s_$b AS DOUBLE) * CAST(s_$b AS DOUBLE))), 12) AS corr
         |FROM sums""".stripMargin
    }
    val sumExprs = (
      cols.flatMap(c => Seq(
        s"sum(CAST($c AS DECIMAL(18,2))) AS s_$c",
        s"sum(CAST(CAST($c AS DECIMAL(18,2)) * CAST($c AS DECIMAL(18,2)) AS DECIMAL(38,6))) AS ss_$c")) ++
      cols.combinations(2).toSeq.map { case Seq(a, b) =>
        s"sum(CAST(CAST($a AS DECIMAL(18,2)) * CAST($b AS DECIMAL(18,2)) AS DECIMAL(38,6))) AS sp_${a}_$b" }
    ).mkString(",\n|    ")
    s"""WITH sums AS (
       |  SELECT count(*) AS n,
       |    $sumExprs
       |  FROM lineitem)
       |${pairSelects.mkString("\n|UNION ALL\n|")}""".stripMargin
  }

  val rfmSegmentsSql: String =
    """WITH per_cust AS (
      |  SELECT o_custkey, max(o_orderdate) AS last_order,
      |    count(*) AS n_orders,
      |    sum(CAST(o_totalprice AS DECIMAL(18,2))) AS spend
      |  FROM orders GROUP BY o_custkey),
      |scored AS (
      |  SELECT spend,
      |    ntile(5) OVER (ORDER BY last_order DESC, o_custkey) AS r,
      |    ntile(5) OVER (ORDER BY n_orders DESC, o_custkey) AS f,
      |    ntile(5) OVER (ORDER BY spend DESC, o_custkey) AS m
      |  FROM per_cust)
      |SELECT r, f, m, count(*) AS n_customers,
      |  CAST(sum(spend) AS DOUBLE) AS cell_spend
      |FROM scored GROUP BY 1, 2, 3""".stripMargin

  /** Kendall's tau-b rank correlation between quantity and discount per
    * return flag — the third rank-association measure beside Pearson
    * ([[momentsByReturnFlag]]) and Spearman ([[spearmanPriceQty]]),
    * preferred when the data is heavily tied (quantity has 50 values,
    * discount 11 — virtually every pair is tied on something, which is
    * exactly the case tau-b's tie correction exists for).
    *
    * Scale rendering — the pair census runs over the CONTINGENCY TABLE,
    * never the facts: the naive definition compares all n(n−1)/2 row
    * pairs (quadrillions at 100 TB); here the facts collapse to
    * (flag, quantity, discount) → count in one map-side-combinable
    * aggregate (≤ 550 cells per flag, bounded by the 50×11 value domain
    * — a catalog property, independent of row count), and concordant /
    * discordant totals come from a self-join of cell pairs with
    * `a.q < b.q` (each unordered pair counted once): C = Σ c_a·c_b over
    * cells with d also ascending, D over d descending, pairs tied on
    * either axis excluded by the strict inequalities. Tie terms T_q, T_d
    * fall out of the axis marginals as Σ m(m−1)/2. The self-join is
    * O(cells²) ≈ 10⁶ rows per flag — constant in the fact count.
    *
    * Determinism: every pair/tie count is an exact decimal(38,0) sum of
    * long products (cell counts can reach 10¹¹-pair products at scale;
    * decimal keeps them exact to ~10³⁸); tau-b is ONE pinned double
    * expression over those integers, so partial-aggregation order can
    * perturb nothing. Outputs round to 6 places like [[chiSquareStatusPriority]]. */
  def kendallTauQtyDiscount(s: SparkSession, d: String): DataFrame = {
    val big = DecimalType(38, 0)
    def d0(c: Column): Column = c.cast(big)
    val cells = Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"), col("l_quantity"), col("l_discount"))
      .agg(count(lit(1)).cast("long").as("c"))
    val a = cells.select(col("l_returnflag"), col("l_quantity").as("qa"),
      col("l_discount").as("da"), col("c").as("ca"))
    val b = cells.select(col("l_returnflag"), col("l_quantity").as("qb"),
      col("l_discount").as("db"), col("c").as("cb"))
    val pairs = a.join(b, Seq("l_returnflag")).filter(col("qa") < col("qb"))
      .groupBy(col("l_returnflag"))
      .agg(
        sum(when(col("da") < col("db"), d0(col("ca")) * d0(col("cb")))
          .otherwise(lit(0).cast(big))).as("concordant"),
        sum(when(col("da") > col("db"), d0(col("ca")) * d0(col("cb")))
          .otherwise(lit(0).cast(big))).as("discordant"))
    def tieTerm(axis: String, name: String): DataFrame = cells
      .groupBy(col("l_returnflag"), col(axis))
      .agg(sum(col("c")).as("m"))
      .groupBy(col("l_returnflag"))
      .agg(sum(d0(col("m")) * d0(col("m") - 1) / 2).cast(big).as(name))
    val totals = cells.groupBy(col("l_returnflag"))
      .agg(sum(col("c")).cast("long").as("n"))
      .withColumn("n0", (d0(col("n")) * d0(col("n") - 1) / 2).cast(big))
    totals
      .join(pairs, Seq("l_returnflag"))
      .join(tieTerm("l_quantity", "tq"), Seq("l_returnflag"))
      .join(tieTerm("l_discount", "td"), Seq("l_returnflag"))
      .select(col("l_returnflag"), col("n"),
        col("concordant").cast("double").as("concordant"),
        col("discordant").cast("double").as("discordant"),
        // NULL guard (collapsed-dimension edge sweep): a CONSTANT axis
        // ties every pair on it, zeroing its tie-corrected denominator
        // leg — NULL on DuckDB, ANSI error here
        when((col("n0") - col("tq")).cast("double") *
            (col("n0") - col("td")).cast("double") === 0d,
          lit(null).cast("double"))
          .otherwise(
            round((col("concordant") - col("discordant")).cast("double") /
              (sqrt((col("n0") - col("tq")).cast("double")) *
                sqrt((col("n0") - col("td")).cast("double"))), 6))
          .as("tau_b"))
  }

  val kendallTauQtyDiscountSql: String =
    """WITH cells AS (
      |  SELECT l_returnflag, l_quantity AS q, l_discount AS dd,
      |    count(*) AS c
      |  FROM lineitem GROUP BY 1, 2, 3),
      |pairs AS (
      |  SELECT a.l_returnflag,
      |    sum(CASE WHEN a.dd < b.dd
      |        THEN CAST(a.c AS HUGEINT) * b.c ELSE 0 END) AS concordant,
      |    sum(CASE WHEN a.dd > b.dd
      |        THEN CAST(a.c AS HUGEINT) * b.c ELSE 0 END) AS discordant
      |  FROM cells a JOIN cells b
      |    ON a.l_returnflag = b.l_returnflag AND a.q < b.q
      |  GROUP BY 1),
      |tq AS (
      |  SELECT l_returnflag, sum(CAST(m AS HUGEINT) * (m - 1) / 2) AS tq
      |  FROM (SELECT l_returnflag, q, sum(c) AS m FROM cells GROUP BY 1, 2)
      |  GROUP BY 1),
      |td AS (
      |  SELECT l_returnflag, sum(CAST(m AS HUGEINT) * (m - 1) / 2) AS td
      |  FROM (SELECT l_returnflag, dd, sum(c) AS m FROM cells GROUP BY 1, 2)
      |  GROUP BY 1),
      |tot AS (
      |  SELECT l_returnflag, CAST(sum(c) AS BIGINT) AS n,
      |    CAST(sum(c) AS HUGEINT) * (sum(c) - 1) / 2 AS n0
      |  FROM cells GROUP BY 1)
      |SELECT l_returnflag, n,
      |  CAST(concordant AS DOUBLE) AS concordant,
      |  CAST(discordant AS DOUBLE) AS discordant,
      |  round(CAST(concordant - discordant AS DOUBLE) /
      |    (sqrt(CAST(n0 - tq AS DOUBLE)) * sqrt(CAST(n0 - td AS DOUBLE))), 6)
      |    AS tau_b
      |FROM tot JOIN pairs USING (l_returnflag)
      |  JOIN tq USING (l_returnflag) JOIN td USING (l_returnflag)""".stripMargin

  /** Hodges-Lehmann pseudo-median of quantity per return flag — the
    * median of all Walsh averages (x_i + x_j)/2 over row pairs i ≤ j,
    * the location estimator behind the Wilcoxon signed-rank test:
    * ~30% breakdown like the median, but ~96% Gaussian efficiency
    * (the plain median's is 64%).
    *
    * Scale rendering mirrors [[kendallTauQtyDiscount]]: the naive form
    * is O(n²) row pairs; here rows collapse to the 50-value quantity
    * domain first (one map-side-combinable aggregate), Walsh averages
    * enumerate value pairs va ≤ vb (≤ 1,275 per flag — catalog-bounded,
    * fact-count-free) with pair multiplicities mₐ·m_b (va < vb) and
    * m(m+1)/2 (va = vb, Walsh pairs include i = j), and the median is
    * the [[weightedMedianPrice]] crossing rule `2·cumw ≥ total` over
    * the pair-sum domain (≤ 99 distinct sums) — lower-median
    * convention, pinned in both engines.
    *
    * Determinism: multiplicities are exact decimal(38,0) (m² reaches
    * 10²⁴ at 100 TB); pair means stay as INTEGER sums va + vb until one
    * final /2.0 — nothing floats before the last operation. */
  def hodgesLehmannQty(s: SparkSession, d: String): DataFrame = {
    val big = DecimalType(38, 0)
    def d0(c: Column): Column = c.cast(big)
    val cells = Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"), col("l_quantity"))
      .agg(count(lit(1)).cast("long").as("m"))
      .select(col("l_returnflag"), col("l_quantity").cast("long").as("v"),
        col("m"))
    val a = cells.select(col("l_returnflag"), col("v").as("va"), col("m").as("ma"))
    val b = cells.select(col("l_returnflag"), col("v").as("vb"), col("m").as("mb"))
    val walsh = a.join(b, Seq("l_returnflag")).filter(col("va") <= col("vb"))
      .groupBy(col("l_returnflag"), (col("va") + col("vb")).as("s2"))
      .agg(sum(when(col("va") < col("vb"), d0(col("ma")) * d0(col("mb")))
        .otherwise(d0(col("ma")) * d0(col("ma") + 1) / 2)).cast(big).as("w"))
    val wCum = Window.partitionBy("l_returnflag").orderBy(col("s2"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy("l_returnflag")
    walsh
      .select(col("l_returnflag"), col("s2"),
        sum(col("w")).over(wCum).as("cumw"),
        sum(col("w")).over(wAll).as("totw"))
      .filter(col("cumw") * 2 >= col("totw"))
      .groupBy(col("l_returnflag"))
      .agg((min(col("s2")).cast("double") / 2.0).as("hl_estimate"))
  }

  val hodgesLehmannQtySql: String =
    """WITH cells AS (
      |  SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS v, count(*) AS m
      |  FROM lineitem GROUP BY 1, 2),
      |walsh AS (
      |  SELECT a.l_returnflag, a.v + b.v AS s2,
      |    sum(CASE WHEN a.v < b.v THEN CAST(a.m AS HUGEINT) * b.m
      |        ELSE CAST(a.m AS HUGEINT) * (a.m + 1) / 2 END) AS w
      |  FROM cells a JOIN cells b
      |    ON a.l_returnflag = b.l_returnflag AND a.v <= b.v
      |  GROUP BY 1, 2),
      |cum AS (
      |  SELECT l_returnflag, s2,
      |    sum(w) OVER (PARTITION BY l_returnflag ORDER BY s2
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumw,
      |    sum(w) OVER (PARTITION BY l_returnflag) AS totw
      |  FROM walsh)
      |SELECT l_returnflag, CAST(min(s2) AS DOUBLE) / 2.0 AS hl_estimate
      |FROM cum WHERE cumw * 2 >= totw GROUP BY 1""".stripMargin

  /** DISCOUNT ELASTICITY of demand per return flag: the weighted OLS
    * slope of ln(quantity) on ln(1 − discount) — "a 1% cut in effective
    * price moves quantity by slope %", the log-log regression every
    * pricing team runs.
    *
    * Scale + determinism combine two proven in-repo patterns:
    *  - the regression runs over the (flag, quantity, discount) CELL
    *    census ([[kendallTauQtyDiscount]]'s aggregate — ≤ 550 cells per
    *    flag, catalog-bounded), never the facts;
    *  - the five weighted log-moment sums are floats, so they do NOT go
    *    through a parallel SUM: each flag's cells fold in PINNED
    *    (quantity, discount) order via sort_array + `aggregate`
    *    ([[chiSquareStatusPriority]]'s sorted-fold), making the
    *    accumulation bit-identical to DuckDB's `sum(... ORDER BY ...)`
    *    — sequential left-to-right in both engines.
    * The closing slope/intercept/r² are one pinned double expression,
    * rounded to 6. */
  def discountElasticity(s: SparkSession, d: String): DataFrame = {
    val cells = Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"), col("l_quantity"), col("l_discount"))
      .agg(count(lit(1)).cast("long").as("m"))
      .select(col("l_returnflag"),
        struct(col("l_quantity").as("q"), col("l_discount").as("dd"),
          col("m").as("m")).as("cell"))
      .groupBy(col("l_returnflag"))
      .agg(sort_array(collect_list(col("cell"))).as("cells"))
    def fold(f: Column => Column): Column =
      aggregate(col("cells"), lit(0.0d), (acc, x) => acc + f(x))
    val mm = (x: Column) => x.getField("m").cast("double")
    val lx = (x: Column) => log(lit(1.0) - x.getField("dd"))
    val ly = (x: Column) => log(x.getField("q"))
    cells
      .select(col("l_returnflag"),
        fold(mm).as("n"),
        fold(x => mm(x) * lx(x)).as("sx"),
        fold(x => mm(x) * ly(x)).as("sy"),
        fold(x => mm(x) * lx(x) * ly(x)).as("sxy"),
        fold(x => mm(x) * lx(x) * lx(x)).as("sxx"),
        fold(x => mm(x) * ly(x) * ly(x)).as("syy"))
      .select(Seq(col("l_returnflag"),
        col("n").cast("long").as("n_rows")) ++ {
        // collapsed-dimension edge guards: a constant log-price zeroes
        // the OLS denominator (NULL on DuckDB, ANSI error here), and a
        // near-constant one leaves a tiny float residual whose rounded
        // r2 is IEEE -0.0 — pin the signed zero on both sides
        val nullD = lit(null).cast("double")
        val eNum = col("n") * col("sxy") - col("sx") * col("sy")
        val eDen = col("n") * col("sxx") - col("sx") * col("sx")
        val rDen = eDen * (col("n") * col("syy") - col("sy") * col("sy"))
        val r2v = round(eNum * eNum / rDen, 6)
        Seq(
          when(eDen === 0d, nullD).otherwise(round(eNum / eDen, 6))
            .as("elasticity"),
          when(rDen === 0d, nullD)
            .otherwise(when(r2v === 0d, lit(0d)).otherwise(r2v)).as("r2"))
      }: _*)
  }

  val discountElasticitySql: String =
    """WITH cells AS (
      |  SELECT l_returnflag, l_quantity AS q, l_discount AS dd,
      |    CAST(count(*) AS DOUBLE) AS m
      |  FROM lineitem GROUP BY 1, 2, 3),
      |s AS (
      |  SELECT l_returnflag,
      |    sum(m ORDER BY q, dd) AS n,
      |    sum(m * ln(1.0 - dd) ORDER BY q, dd) AS sx,
      |    sum(m * ln(q) ORDER BY q, dd) AS sy,
      |    sum(m * ln(1.0 - dd) * ln(q) ORDER BY q, dd) AS sxy,
      |    sum(m * ln(1.0 - dd) * ln(1.0 - dd) ORDER BY q, dd) AS sxx,
      |    sum(m * ln(q) * ln(q) ORDER BY q, dd) AS syy
      |  FROM cells GROUP BY 1)
      |SELECT l_returnflag, CAST(n AS BIGINT) AS n_rows,
      |  CASE WHEN n * sxx - sx * sx = 0.0 THEN NULL
      |    ELSE round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) END
      |    AS elasticity,
      |  CASE WHEN (n * sxx - sx * sx) * (n * syy - sy * sy) = 0.0 THEN NULL
      |    WHEN round((n * sxy - sx * sy) * (n * sxy - sx * sy) /
      |      ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) = 0.0 THEN 0.0
      |    ELSE round((n * sxy - sx * sy) * (n * sxy - sx * sy) /
      |      ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) END AS r2
      |FROM s""".stripMargin

  /** GUMBEL extreme-value fit over monthly block maxima of order value —
    * the classical EVT recipe (block maxima → Gumbel, the limit law for
    * light-tailed maxima): method-of-moments β̂ = s·√6/π,
    * μ̂ = x̄ − γ·β̂, plus the fitted 99th-percentile return level
    * μ̂ − β̂·ln(−ln 0.99) ("the monthly max exceeded 1 month in 100").
    *
    * Block maxima are exact decimal MAXes per month (O(months) rows from
    * one map-side-combinable aggregate); mean/std come from exact
    * decimal(38,4) power sums over those maxima (partial-order-proof),
    * and the three fitted numbers are one pinned double expression each,
    * rounded to 6. Sample std (n−1) matches DuckDB stddev_samp — but
    * both sides compute it from the SAME exact sums, not the engines'
    * one-pass native aggregates. */
  def gumbelMonthlyMax(s: SparkSession, d: String): DataFrame = {
    val gamma = 0.5772156649015329 // Euler-Mascheroni
    val sqrt6OverPi = 0.7796968012336793 // √6/π
    val big = DecimalType(38, 0)
    def d0(c: Column): Column = c.cast(big)
    val maxima = Tables.orders(s, d)
      .groupBy(date_trunc("month", col("o_orderdate")).cast("date").as("month"))
      .agg((max(col("o_totalprice").cast(DecimalType(18, 2))) * 100)
        .cast("long").as("mc"))
    maxima
      .agg(count(lit(1)).cast("long").as("n"),
        sum(d0(col("mc"))).as("s1"),
        sum(d0(col("mc")) * d0(col("mc"))).as("s2"))
      .select(col("n"),
        (col("s1").cast("double") / col("n").cast("double") / 100.0).as("mean"),
        (sqrt((d0(col("n")) * col("s2") - col("s1") * col("s1")).cast("double") /
          (col("n") * (col("n") - 1)).cast("double")) / 100.0).as("sd"))
      .select(col("n").as("n_months"),
        round(col("sd") * sqrt6OverPi, 6).as("beta"),
        round(col("mean") - lit(gamma) * (col("sd") * sqrt6OverPi), 6).as("mu"),
        round(col("mean") - lit(gamma) * (col("sd") * sqrt6OverPi) -
          col("sd") * sqrt6OverPi * log(-log(lit(0.99))), 6)
          .as("return_level_p99"))
  }

  val gumbelMonthlyMaxSql: String =
    """WITH maxima AS (
      |  SELECT date_trunc('month', o_orderdate) AS month,
      |    CAST(max(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS mc
      |  FROM orders GROUP BY 1),
      |sums AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n,
      |    sum(CAST(mc AS HUGEINT)) AS s1,
      |    sum(CAST(mc AS HUGEINT) * mc) AS s2
      |  FROM maxima),
      |mo AS (
      |  SELECT n,
      |    CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) / 100.0 AS mean,
      |    sqrt(CAST(n * s2 - s1 * s1 AS DOUBLE)
      |      / CAST(n * (n - 1) AS DOUBLE)) / 100.0 AS sd
      |  FROM sums)
      |SELECT n AS n_months,
      |  round(sd * 0.7796968012336793, 6) AS beta,
      |  round(mean - 0.5772156649015329 * (sd * 0.7796968012336793), 6) AS mu,
      |  round(mean - 0.5772156649015329 * (sd * 0.7796968012336793)
      |    - sd * 0.7796968012336793 * ln(-ln(0.99)), 6) AS return_level_p99
      |FROM mo""".stripMargin

  /** ROBUST SHAPE statistics per return flag: Bowley (quartile) skewness
    * and Moors (octile) kurtosis of extended price — the
    * outlier-immune complements of the moment-based skew/kurtosis in
    * [[momentsByReturnFlag]] (a single corrupt price can move moment
    * kurtosis arbitrarily; octiles move only if an eighth of the data
    * does).
    *
    *   bowley = (E6 + E2 − 2·E4) / (E6 − E2)
    *   moors  = ((E7 − E5) + (E3 − E1)) / (E6 − E2)
    *
    * All eight octiles are DISCRETE percentiles — actual data values
    * both engines select identically (the exact-percentile contract of
    * [[percentilesByStatus]]); the two ratios are one pinned double
    * expression each, rounded to 6. One aggregate over the facts, one
    * O(flags) projection — nothing else. */
  def octileShapeByFlag(s: SparkSession, d: String): DataFrame = {
    val es = (1 to 7).map(i =>
      expr(s"percentile_disc(0.${i * 125}) WITHIN GROUP (ORDER BY l_extendedprice)")
        .as(s"e$i"))
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(es.head, es.tail: _*)
      .select(col("l_returnflag"),
        col("e2").as("q1"), col("e4").as("median"), col("e6").as("q3"),
        round((col("e6") + col("e2") - lit(2.0) * col("e4")) /
          (col("e6") - col("e2")), 6).as("bowley_skew"),
        round(((col("e7") - col("e5")) + (col("e3") - col("e1"))) /
          (col("e6") - col("e2")), 6).as("moors_kurtosis"))
  }

  val octileShapeByFlagSql: String = {
    val es = (1 to 7).map(i =>
      s"percentile_disc(0.${i * 125}) WITHIN GROUP (ORDER BY l_extendedprice) AS e$i")
      .mkString(",\n      |    ")
    s"""WITH oct AS (
       |  SELECT l_returnflag,
       |    $es
       |  FROM lineitem GROUP BY 1)
       |SELECT l_returnflag, e2 AS q1, e4 AS median, e6 AS q3,
       |  round((e6 + e2 - 2.0 * e4) / (e6 - e2), 6) AS bowley_skew,
       |  round(((e7 - e5) + (e3 - e1)) / (e6 - e2), 6) AS moors_kurtosis
       |FROM oct""".stripMargin
  }

  /** GINI COEFFICIENT of customer revenue per market segment — the
    * inequality summary behind [[lorenzCustomerRevenue]]'s curve (the
    * Lorenz deciles show the shape; Gini is its single-number area):
    * with customers ranked 1..n ascending by spend,
    * G = (2·Σ i·xᵢ − (n+1)·Σxᵢ) / (n·Σxᵢ).
    *
    * Exactness: both numerator terms are decimal(38,0) products of
    * exact cents and exact ranks; ONE double division at the end,
    * rounded 6. Ranks tie-break by custkey so the permutation — and
    * therefore Σ i·xᵢ — is identical on both engines (for equal spends
    * the rank sum over a tie class is permutation-invariant anyway, but
    * pinning costs nothing).
    *
    * Scale: facts collapse to the per-(segment, customer) aggregate;
    * the ranking window runs over that O(customers) frame partitioned
    * by segment (the q_rfm accepted class — at extreme cardinality the
    * ranks come from [[graft.ops.Distributed.withRunningTotal]], the
    * q_rfm_dist rendering). */
  def giniBySegment(s: SparkSession, d: String): DataFrame = {
    val big = DecimalType(38, 0)
    val cust = Tables.orders(s, d)
      .join(Tables.customer(s, d),
        col("c_custkey") === col("o_custkey"))
      .groupBy(col("c_mktsegment").as("segment"), col("o_custkey"))
      .agg((sum(dec(col("o_totalprice"))) * 100).cast("long").as("cents"))
    val w = Window.partitionBy("segment").orderBy(col("cents"), col("o_custkey"))
    cust.withColumn("i", row_number().over(w))
      .groupBy("segment")
      .agg(count(lit(1)).as("n_customers"),
        sum(col("cents")).cast("long").as("total_cents"),
        sum(col("i").cast(big) * col("cents").cast(big)).as("ix"))
      .select(col("segment"), col("n_customers"), col("total_cents"),
        round((lit(2).cast(big) * col("ix") -
          (col("n_customers") + 1).cast(big) * col("total_cents").cast(big))
          .cast("double") /
          (col("n_customers").cast("double") * col("total_cents").cast("double")),
          6).as("gini"))
      .orderBy("segment")
  }

  val giniBySegmentSql: String =
    """WITH cust AS (
      |  SELECT c.c_mktsegment AS segment, o.o_custkey,
      |    CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
      |      AS cents
      |  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      |  GROUP BY 1, 2),
      |rk AS (
      |  SELECT segment, cents,
      |    row_number() OVER (PARTITION BY segment ORDER BY cents, o_custkey)
      |      AS i
      |  FROM cust)
      |SELECT segment, count(*) AS n_customers,
      |  CAST(sum(cents) AS BIGINT) AS total_cents,
      |  round(CAST(2*sum(CAST(i AS HUGEINT)*cents)
      |      - (count(*)+1)*sum(CAST(cents AS HUGEINT)) AS DOUBLE)
      |    / (count(*) * CAST(sum(cents) AS DOUBLE)), 6) AS gini
      |FROM rk GROUP BY segment ORDER BY segment""".stripMargin

  /** HERFINDAHL–HIRSCHMAN INDEX of customer revenue concentration per
    * nation — the antitrust-standard concentration readout (in the
    * conventional 0–10,000 points scale): HHI = 10⁴·Σ xᵢ² / (Σxᵢ)².
    * Complements [[giniBySegment]]: Gini measures inequality of the
    * distribution, HHI measures how few entities hold the mass (its
    * reciprocal is the "effective number of customers").
    *
    * Exactness: Σxᵢ² in decimal(38,0) (cents² ~10¹⁴ per customer —
    * exact), one pinned double division, rounded 6.
    *
    * Scale: per-(nation, customer) aggregate → one O(customers)
    * map-side-combinable aggregate to O(nations) rows; the nation name
    * join broadcasts the 25-row dimension. */
  def hhiByNation(s: SparkSession, d: String): DataFrame = {
    val big = DecimalType(38, 0)
    val cust = Tables.orders(s, d)
      .join(Tables.customer(s, d), col("c_custkey") === col("o_custkey"))
      .groupBy(col("c_nationkey"), col("o_custkey"))
      .agg((sum(dec(col("o_totalprice"))) * 100).cast("long").as("cents"))
    cust.groupBy("c_nationkey")
      .agg(count(lit(1)).as("n_customers"),
        sum(col("cents").cast(big) * col("cents").cast(big)).as("sq"),
        sum(col("cents")).cast(big).as("tot"))
      .join(broadcast(Tables.nation(s, d)),
        col("n_nationkey") === col("c_nationkey"))
      .select(col("n_name"), col("n_customers"),
        round(lit(10000.0) * col("sq").cast("double") /
          (col("tot").cast("double") * col("tot").cast("double")), 6)
          .as("hhi_points"))
      .orderBy("n_name")
  }

  val hhiByNationSql: String =
    """WITH cust AS (
      |  SELECT c.c_nationkey AS nk, o.o_custkey,
      |    CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
      |      AS cents
      |  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      |  GROUP BY 1, 2)
      |SELECT n.n_name, count(*) AS n_customers,
      |  round(10000.0 * CAST(sum(CAST(cents AS HUGEINT)*cents) AS DOUBLE)
      |    / (CAST(sum(cents) AS DOUBLE) * CAST(sum(cents) AS DOUBLE)), 6)
      |    AS hhi_points
      |FROM cust JOIN nation n ON n.n_nationkey = cust.nk
      |GROUP BY n.n_name ORDER BY n.n_name""".stripMargin

  /** Survey budget for [[neymanAllocation]]. */
  val surveyBudget = 1000L

  /** NEYMAN OPTIMAL ALLOCATION for stratified sampling — per-stratum
    * sample sizes n_h ∝ N_h·s_h that minimize estimator variance at a
    * fixed budget (the sampling-design step before any audit/quality
    * sample is drawn; uniform allocation overspends on homogeneous
    * strata). Strata = market segments, variable = customer account
    * balance.
    *
    * Determinism: per-stratum (N, Σx, Σx²) are exact decimal(38,0)
    * cents sums; s_h = sqrt of the one-division sample variance (IEEE
    * sqrt is correctly rounded — engine-portable, the q_gumbel note);
    * the cross-stratum normalizer Σ N_h·s_h folds INSIDE a
    * segment-sorted array so both engines add the five doubles in the
    * same order; share and the floor allocation are then identical
    * doubles on both sides.
    *
    * Scale: one map-side-combinable aggregate to O(strata) rows; the
    * array fold is over those strata only. */
  def neymanAllocation(s: SparkSession, d: String): DataFrame = {
    val big = DecimalType(38, 0)
    val cents = (col("c_acctbal").cast(DecimalType(18, 2)) * 100).cast("long")
    val strata = Tables.customer(s, d)
      .select(col("c_mktsegment").as("segment"), cents.as("x"))
      .groupBy("segment")
      .agg(count(lit(1)).as("n_h"),
        sum(col("x").cast(big)).as("sx"),
        sum(col("x").cast(big) * col("x").cast(big)).as("sxx"))
      .select(col("segment"), col("n_h"),
        (col("sx").cast("double") / col("n_h").cast("double"))
          .as("mean_cents"),
        // NULL guard (single-customer edge sweep): a singleton stratum
        // has n_h(n_h-1) = 0 in the sample-sd denominator — sqrt(0/0)
        // is NULL on DuckDB, an ANSI error here
        when(col("n_h") === 1L, lit(null).cast("double")).otherwise(
          sqrt((col("n_h").cast(big) * col("sxx") - col("sx") * col("sx"))
            .cast("double") /
            (col("n_h").cast(big) * (col("n_h") - 1).cast(big))
              .cast("double")))
          .as("s_h"))
    // pinned cross-stratum normalizer: fold N_h·s_h in segment order,
    // SKIPPING NULL weights (singleton strata) exactly like the
    // oracle's list_sum — NULL only when every weight is NULL
    val tot = strata
      .groupBy()
      .agg(sort_array(collect_list(struct(col("segment"),
        (col("n_h").cast("double") * col("s_h")).as("w")))).as("a"))
      .select(
        when(size(filter(col("a"), e => e.getField("w").isNotNull)) === 0,
          lit(null).cast("double"))
          .otherwise(aggregate(
            filter(col("a"), e => e.getField("w").isNotNull), lit(0.0),
            (acc, e) => acc + e.getField("w"))).as("tot_w"))
    // zero normalizer (every stratum constant-balance): share/alloc
    // divide by 0 — NULL on DuckDB, ANSI error here
    val nullD = lit(null).cast("double")
    strata.crossJoin(broadcast(tot))
      .select(col("segment"), col("n_h"),
        round(col("mean_cents") / 100.0, 6).as("mean_bal"),
        round(col("s_h") / 100.0, 6).as("stddev_bal"),
        when(col("tot_w") === 0d, nullD)
          .otherwise(round(
            col("n_h").cast("double") * col("s_h") / col("tot_w"), 6))
          .as("share"),
        // op order matches the oracle exactly (budget·n_h·s_h, then /)
        when(col("tot_w") === 0d, lit(null).cast("long"))
          .otherwise(floor(lit(surveyBudget.toDouble) *
            col("n_h").cast("double") * col("s_h") / col("tot_w"))
            .cast("long"))
          .as("alloc"))
      .orderBy("segment")
  }

  val neymanAllocationSql: String =
    s"""WITH strata AS (
       |  SELECT c_mktsegment AS segment, count(*) AS n_h,
       |    sum(CAST(CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)
       |      AS HUGEINT)) AS sx,
       |    sum(CAST(CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)
       |      AS HUGEINT) * CAST(CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100
       |      AS BIGINT) AS HUGEINT)) AS sxx
       |  FROM customer GROUP BY 1),
       |sd AS (
       |  SELECT segment, n_h,
       |    CAST(sx AS DOUBLE) / n_h AS mean_cents,
       |    sqrt(CAST(n_h * sxx - sx * sx AS DOUBLE)
       |      / CAST(CAST(n_h AS HUGEINT) * (n_h - 1) AS DOUBLE)) AS s_h
       |  FROM strata),
       |tot AS (
       |  SELECT list_sum(list_transform(
       |    list(struct_pack(segment := segment, w := n_h * s_h)
       |      ORDER BY segment), e -> e.w)) AS tot_w
       |  FROM sd)
       |SELECT segment, n_h,
       |  round(mean_cents / 100.0, 6) AS mean_bal,
       |  round(s_h / 100.0, 6) AS stddev_bal,
       |  round(n_h * s_h / tot_w, 6) AS share,
       |  CAST(floor($surveyBudget.0 * n_h * s_h / tot_w) AS BIGINT) AS alloc
       |FROM sd CROSS JOIN tot ORDER BY segment""".stripMargin

  /** ISOTONIC REGRESSION of quantity on discount (the PAVA fit) — the
    * monotone calibration curve: "does quantity really rise with
    * discount, and what's the best monotone fit" (the same operator
    * calibrates model scores to probabilities — sklearn's
    * IsotonicRegression, Zadrozny–Elkan). Rendered DISTRIBUTIVELY via
    * the minimax identity instead of the sequential pool-adjacent-
    * violators stack: ŷ_i = max_{j≤i} min_{k≥i} wmean(y_j..y_k), which
    * is PAVA's exact solution (Barlow et al. 1972) — no ordered scan,
    * no driver loop.
    *
    * Scale/determinism: facts collapse to the O(levels) discount
    * domain (11 values — the q_kendall catalog-bounded discipline);
    * the O(m³) minimax evaluates INSIDE one sorted array over exact
    * integer prefix sums (m=11 → 1.3k terms); every candidate mean is
    * one double division of exact integers, max/min over doubles are
    * order-free, rounded 6 at the end. */
  def isotonicQtyByDiscount(s: SparkSession, d: String): DataFrame = {
    val lvl = Tables.lineitem(s, d)
      .select(round(col("l_discount") * 100).cast("int").as("pct"),
        (col("l_quantity").cast(DecimalType(18, 2)) * 100).cast("long")
          .as("qc"))
      .groupBy("pct")
      .agg(count(lit(1)).as("n"), sum(col("qc")).cast("long").as("sy"))
    lvl.groupBy()
      .agg(sort_array(collect_list(struct(col("pct"), col("n"), col("sy"))))
        .as("a"))
      // EMPTY census (empty-orders edge sweep): Spark's sequence(1, 0)
      // DESCENDS to [1, 0] instead of yielding the empty sequence
      // DuckDB's generate_series(1, 0) does, so the minimax transform
      // would index prefix arrays out of bounds; filtering the packed
      // row out reproduces the oracle's zero-row answer and keeps the
      // transform unevaluated (the filter sits ABOVE the aggregate, so
      // no pushdown can re-site it)
      .filter(org.apache.spark.sql.functions.size(col("a")) > 0)
      .select(col("a"),
        expr("""transform(sequence(0, size(a)), t ->
          | aggregate(slice(a, 1, t), CAST(0 AS BIGINT), (acc, e) -> acc + e.sy))""".stripMargin)
          .as("py"),
        expr("""transform(sequence(0, size(a)), t ->
          | aggregate(slice(a, 1, t), CAST(0 AS BIGINT), (acc, e) -> acc + e.n))""".stripMargin)
          .as("pn"))
      .select(col("a"), expr(
        """transform(sequence(1, size(a)), i ->
          |  array_max(transform(sequence(1, i), j ->
          |    array_min(transform(sequence(i, size(a)), k ->
          |      cast(element_at(py, k + 1) - element_at(py, j) as double) /
          |      cast(element_at(pn, k + 1) - element_at(pn, j) as double))))))"""
          .stripMargin).as("iso"))
      .select(posexplode(col("a")).as(Seq("i", "e")), col("iso"))
      .select(col("e.pct").as("discount_pct"), col("e.n").as("n_rows"),
        round(col("e.sy").cast("double") / col("e.n").cast("double") / 100.0, 6)
          .as("raw_mean_qty"),
        round(element_at(col("iso"), col("i") + 1) / 100.0, 6)
          .as("iso_mean_qty"))
      .orderBy("discount_pct")
  }

  val isotonicQtyByDiscountSql: String =
    """WITH lvl AS (
      |  SELECT CAST(round(l_discount * 100) AS INTEGER) AS pct,
      |    count(*) AS n,
      |    CAST(sum(CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT))
      |      AS BIGINT) AS sy
      |  FROM lineitem GROUP BY 1),
      |arr AS (
      |  SELECT list(struct_pack(pct := pct, n := n, sy := sy) ORDER BY pct)
      |    AS a FROM lvl),
      |pre AS (
      |  SELECT a,
      |    list_transform(generate_series(0, len(a)), t ->
      |      CAST(coalesce(list_sum(list_transform(a[1:t], e -> e.sy)), 0)
      |        AS BIGINT)) AS py,
      |    list_transform(generate_series(0, len(a)), t ->
      |      CAST(coalesce(list_sum(list_transform(a[1:t], e -> e.n)), 0)
      |        AS BIGINT)) AS pn
      |  FROM arr),
      |iso AS (
      |  SELECT a, list_transform(generate_series(1, len(a)), i ->
      |    list_max(list_transform(generate_series(1, i), j ->
      |      list_min(list_transform(generate_series(i, len(a)), k ->
      |        CAST(py[k + 1] - py[j] AS DOUBLE)
      |          / CAST(pn[k + 1] - pn[j] AS DOUBLE)))))) AS iso
      |  FROM pre)
      |SELECT a[i].pct AS discount_pct, a[i].n AS n_rows,
      |  round(CAST(a[i].sy AS DOUBLE) / a[i].n / 100.0, 6) AS raw_mean_qty,
      |  round(iso[i] / 100.0, 6) AS iso_mean_qty
      |FROM iso, unnest(generate_series(1, len(a))) AS t(i)
      |ORDER BY discount_pct""".stripMargin

  /** Per-`event_type` moments of the events' value in cents: `n`, `sx`
    * = Σx and `sq` = Σx², exact DECIMAL(38,0) sums. */
  private def typeCentsCells(s: SparkSession, d: String): DataFrame = {
    val big = DecimalType(38, 0)
    val cents = (col("value").cast(DecimalType(18, 2)) * 100).cast("long")
    Tables.events(s, d)
      .select(col("event_type"), cents.as("x"))
      .groupBy("event_type")
      .agg(count(lit(1)).cast("long").as("n"),
        sum(col("x").cast(big)).cast(big).as("sx"),
        sum(col("x").cast(big) * col("x").cast(big)).cast(big).as("sq"))
  }

  /** `a`: the (`key`, n, sx, sq) group cells in one array sorted by key. */
  private def packedCells(key: String): Column =
    sort_array(collect_list(struct(
      col(key), col("n"), col("sx"), col("sq")))).as("a")

  /** The one-way ANOVA sums over the group cells (`key`, n, sx, sq), in
    * one row: k groups, n_total, gs = Σsx, gq = Σsq and sg = Σ sx²/n —
    * the only float terms, folded in key order. */
  private def oneWaySums(groups: DataFrame, key: String): DataFrame = {
    val big = DecimalType(38, 0)
    groups
      .agg(packedCells(key),
        count(lit(1)).cast("long").as("k"),
        sum(col("n")).cast("long").as("n_total"),
        sum(col("sx")).cast(big).as("gs"),
        sum(col("sq")).cast(big).as("gq"))
      .select(col("k"), col("n_total"),
        expr("""aggregate(a, CAST(0.0 AS DOUBLE),
                 (acc, e) -> acc + CAST(e.sx * e.sx AS DOUBLE) / e.n)""")
          .as("sg"),
        col("gs"), col("gq"))
  }

  /** ONE-WAY ANOVA: does mean event value differ across event types?
    * F = (SSB/(k−1)) / (SSW/(N−k)) over exact-cents power sums.
    *
    * Determinism: per-group n/Σx/Σx² are exact decimal(38,0); the
    * group-term sums Σ S_g²/n_g and SSW fold over the event_type-SORTED
    * group array (k = 5), so both engines accumulate the only float
    * terms in identical order — the [[theilSenTrend]]/markov left-fold
    * discipline. eta² (variance explained) ships alongside.
    *
    * Scale: ONE map-side-combinable aggregate over facts → k rows →
    * one-row fold. No window, no join, no shuffle beyond the k-group
    * aggregate. */
  def anovaValueByType(s: SparkSession, d: String): DataFrame = {
    oneWaySums(typeCentsCells(s, d), "event_type")
      .select(col("k"), col("n_total"),
        round(col("sg") - (col("gs") * col("gs")).cast("double")
          / col("n_total"), 6).as("ssb"),
        round(col("gq").cast("double") - col("sg"), 6).as("ssw"),
        // NULL guards (collapsed-dimension edge-sweep class): k = 1
        // zeroes the between df, a perfectly-fit corpus zeroes SSW/SST
        // — NULL on DuckDB, ANSI errors here
        when(col("k") === 1L ||
            col("gq").cast("double") - col("sg") === 0d,
          lit(null).cast("double"))
          .otherwise(round(((col("sg") - (col("gs") * col("gs"))
              .cast("double") / col("n_total")) / (col("k") - 1)) /
            ((col("gq").cast("double") - col("sg"))
              / (col("n_total") - col("k"))), 6)).as("f_stat"),
        when(col("gq").cast("double") - (col("gs") * col("gs"))
            .cast("double") / col("n_total") === 0d,
          lit(null).cast("double"))
          .otherwise(round((col("sg") - (col("gs") * col("gs"))
              .cast("double") / col("n_total")) /
            (col("gq").cast("double") - (col("gs") * col("gs"))
              .cast("double") / col("n_total")), 6)).as("eta_sq"))
  }

  val anovaValueByTypeSql: String =
    """WITH g AS (
      |  SELECT event_type, count(*) AS n,
      |    sum(CAST(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
      |      AS HUGEINT)) AS sx,
      |    sum(CAST(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
      |      AS HUGEINT) * CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
      |      AS sq
      |  FROM events GROUP BY 1),
      |folded AS (
      |  SELECT count(*) AS k, CAST(sum(n) AS BIGINT) AS n_total,
      |    list_sum(list_transform(
      |      list(struct_pack(sx := sx, n := n) ORDER BY event_type),
      |      e -> CAST(e.sx * e.sx AS DOUBLE) / e.n)) AS sg,
      |    sum(sx) AS gs, sum(sq) AS gq
      |  FROM g)
      |SELECT CAST(k AS BIGINT) AS k, n_total,
      |  round(sg - CAST(gs * gs AS DOUBLE) / n_total, 6) AS ssb,
      |  round(CAST(gq AS DOUBLE) - sg, 6) AS ssw,
      |  round(((sg - CAST(gs * gs AS DOUBLE) / n_total) / (k - 1)) /
      |    ((CAST(gq AS DOUBLE) - sg) / (n_total - k)), 6) AS f_stat,
      |  round((sg - CAST(gs * gs AS DOUBLE) / n_total) /
      |    (CAST(gq AS DOUBLE) - CAST(gs * gs AS DOUBLE) / n_total), 6)
      |    AS eta_sq
      |FROM folded""".stripMargin

  /** BROWN-FORSYTHE LEVENE TEST: are quantity spreads equal across
    * return flags? ANOVA-F on |x − median_g| — the robust (median-
    * centered) variance-homogeneity test that gates pooled-variance
    * assumptions (the classic companion check to [[anovaValueByType]]).
    *
    * Exactness: l_quantity's 50-value domain makes the group median a
    * CENSUS selection (cumulative counts over O(domain) rows — the
    * [[hodgesLehmannQty]] class), the lower median at rank ⌈n/2⌉ pinned
    * identically in both engines; deviations are then exact integers
    * and all power sums exact decimals. The k = 3 group terms fold in
    * flag order as in [[anovaValueByType]].
    *
    * Scale: one domain census over facts; everything downstream runs on
    * O(domain × k) rows. */
  def leveneQtyByFlag(s: SparkSession, d: String): DataFrame = {
    val big = DecimalType(38, 0)
    // NOT checkpointed: the frame is O(3 × 50) rows (a second scan of
    // lineitem costs less than pinning), and the visible aggregate is
    // what lets PlanLint prove the flag-partitioned window below is
    // bounded (a checkpoint would hide it behind an opaque scan)
    val cells = Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"), col("l_quantity"))
      .agg(count(lit(1)).cast("long").as("m"))
      .select(col("l_returnflag"), col("l_quantity").cast("long").as("v"),
        col("m"))
    val wCum = Window.partitionBy("l_returnflag").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy("l_returnflag")
    val med = cells
      .select(col("l_returnflag"), col("v"),
        sum(col("m")).over(wCum).as("cum"),
        sum(col("m")).over(wAll).as("tot"))
      .filter(col("cum") * 2 >= col("tot"))
      .groupBy("l_returnflag").agg(min(col("v")).as("med"))
    val dev = cells.join(med, Seq("l_returnflag"))
      .select(col("l_returnflag"), col("m"),
        abs(col("v") - col("med")).cast(big).as("dv"))
    val groups = dev.groupBy("l_returnflag")
      .agg(sum(col("m")).cast("long").as("n"),
        sum(col("dv") * col("m")).cast(big).as("sx"),
        sum(col("dv") * col("dv") * col("m")).cast(big).as("sq"))
    oneWaySums(groups, "l_returnflag")
      .select(col("k"), col("n_total"),
        // NULL guard (collapsed-dimension edge sweep): k = 1 zeroes the
        // between-groups df — NULL on DuckDB, ANSI error here
        when(col("k") === 1L, lit(null).cast("double"))
          .otherwise(round(((col("sg") - (col("gs") * col("gs"))
              .cast("double") / col("n_total")) / (col("k") - 1)) /
            ((col("gq").cast("double") - col("sg"))
              / (col("n_total") - col("k"))), 6)).as("f_stat"))
  }

  val leveneQtyByFlagSql: String =
    """WITH cells AS (
      |  SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS v, count(*) AS m
      |  FROM lineitem GROUP BY 1, 2),
      |med AS (
      |  SELECT l_returnflag, min(v) AS med FROM (
      |    SELECT l_returnflag, v,
      |      sum(m) OVER (PARTITION BY l_returnflag ORDER BY v
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
      |      sum(m) OVER (PARTITION BY l_returnflag) AS tot
      |    FROM cells)
      |  WHERE cum * 2 >= tot GROUP BY 1),
      |g AS (
      |  SELECT c.l_returnflag, CAST(sum(m) AS BIGINT) AS n,
      |    sum(CAST(abs(v - med) AS HUGEINT) * m) AS sx,
      |    sum(CAST(abs(v - med) AS HUGEINT) * abs(v - med) * m) AS sq
      |  FROM cells c JOIN med USING (l_returnflag) GROUP BY 1),
      |folded AS (
      |  SELECT count(*) AS k, CAST(sum(n) AS BIGINT) AS n_total,
      |    list_sum(list_transform(
      |      list(struct_pack(sx := sx, n := n) ORDER BY l_returnflag),
      |      e -> CAST(e.sx * e.sx AS DOUBLE) / e.n)) AS sg,
      |    sum(sx) AS gs, sum(sq) AS gq
      |  FROM g)
      |SELECT CAST(k AS BIGINT) AS k, n_total,
      |  round(((sg - CAST(gs * gs AS DOUBLE) / n_total) / (k - 1)) /
      |    ((CAST(gq AS DOUBLE) - sg) / (n_total - k)), 6) AS f_stat
      |FROM folded""".stripMargin

  /** TUKEY-HSD POST-HOC PAIRS: after [[anovaValueByType]] rejects "all
    * means equal", WHICH pairs differ? The studentized-range statistic
    * q = |x̄ᵢ−x̄ⱼ| / √(MSW/2·(1/nᵢ+1/nⱼ)) for every type pair — the
    * standard follow-up that controls family-wise error.
    *
    * Determinism: means are exact-decimal ratios; MSW comes from the
    * same event_type-ordered fold as the ANOVA (identical float
    * accumulation order); sqrt is IEEE-exact; one division per pair,
    * rounded to 6. Pair identity (ta < tb) needs no tie-breaking.
    *
    * Scale: the k-group census is the only pass over facts; the k(k−1)/2
    * pair frame is O(k²) with the one-row MSW broadcast. */
  def tukeyHsdPairs(s: SparkSession, d: String): DataFrame = {
    val big = DecimalType(38, 0)
    val groups = typeCentsCells(s, d)
    // everything downstream of the k-group census happens INSIDE one
    // scalar-aggregate row: MSW from the sorted array fold, pairs by
    // the array-combination expansion (the co-purchase pairing idiom) —
    // no self-join, no broadcast, nothing for a plan linter to doubt
    val packed = groups
      .agg(packedCells("event_type"),
        count(lit(1)).cast("long").as("k"),
        sum(col("n")).cast("long").as("n_total"),
        sum(col("sq")).cast(big).as("gq"))
      .select(col("a"),
        ((col("gq").cast("double") -
          expr("""aggregate(a, CAST(0.0 AS DOUBLE),
                   (acc, e) -> acc + CAST(e.sx * e.sx AS DOUBLE) / e.n)"""))
          / (col("n_total") - col("k"))).as("msw"))
    packed
      .select(col("msw"), explode(expr(
        """flatten(transform(a, (x, i) ->
          |  transform(slice(a, i + 2, size(a) - i - 1), y ->
          |    struct(x.event_type AS ta, x.n AS na, x.sx AS sxa,
          |      y.event_type AS tb, y.n AS nb, y.sx AS sxb))))"""
          .stripMargin)).as("p"))
      .select(col("p.ta").as("ta"), col("p.tb").as("tb"),
        round(col("p.sxa").cast("double") / col("p.na") -
          col("p.sxb").cast("double") / col("p.nb"), 6).as("mean_diff"),
        round((abs(col("p.sxa").cast("double") / col("p.na") -
            col("p.sxb").cast("double") / col("p.nb"))) /
          sqrt(col("msw") / 2.0 *
            (lit(1.0) / col("p.na") + lit(1.0) / col("p.nb"))), 6)
          .as("q_stat"))
      .orderBy("ta", "tb")
  }

  val tukeyHsdPairsSql: String =
    """WITH g AS (
      |  SELECT event_type, count(*) AS n,
      |    sum(CAST(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
      |      AS HUGEINT)) AS sx,
      |    sum(CAST(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
      |      AS HUGEINT) * CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
      |      AS sq
      |  FROM events GROUP BY 1),
      |msw AS (
      |  SELECT (CAST(sum(sq) AS DOUBLE) -
      |    list_sum(list_transform(
      |      list(struct_pack(sx := sx, n := n) ORDER BY event_type),
      |      e -> CAST(e.sx * e.sx AS DOUBLE) / e.n)))
      |    / (sum(n) - count(*)) AS msw
      |  FROM g)
      |SELECT a.event_type AS ta, b.event_type AS tb,
      |  round(CAST(a.sx AS DOUBLE) / a.n - CAST(b.sx AS DOUBLE) / b.n, 6)
      |    AS mean_diff,
      |  round(abs(CAST(a.sx AS DOUBLE) / a.n - CAST(b.sx AS DOUBLE) / b.n)
      |    / sqrt(msw.msw / 2.0 * (1.0 / a.n + 1.0 / b.n)), 6) AS q_stat
      |FROM g a JOIN g b ON a.event_type < b.event_type CROSS JOIN msw
      |ORDER BY ta, tb""".stripMargin

  /** FRIEDMAN TEST: do the event types rank consistently across days?
    * The nonparametric repeated-measures companion to
    * [[anovaValueByType]] — each day is a block, types are ranked by
    * daily revenue WITHIN the day, and χ²_F asks whether the rank sums
    * diverge. Robust to any monotone day-level scaling (a heavy traffic
    * day inflates every type together; ranks don't move).
    *
    * Exactness: within-day midranks are half-integers, carried ×2 as
    * exact integers (the Mann-Whitney midrank discipline); rank sums
    * and the χ² numerator stay exact integers; ONE pinned double
    * division at the end. Complete blocks only (days where all k types
    * traded) keep the statistic well-defined.
    *
    * Scale: one combinable (type, day) aggregate over facts; ranking
    * windows run per-day over k rows each — O(days) tiny partitions. */
  /** Shared complete-block midrank frame behind [[friedmanTest]],
    * [[kendallW]] and [[pageTrend]]: one row per (event_type, day) in
    * the complete blocks (days where every type traded), with the
    * day's revenue `cents`, the doubled within-day midrank `r2`
    * (exact integer — the Mann-Whitney midrank discipline) and the
    * type count `k`. Memoized per (session, dataset) so the three
    * repeated-measures tests pay the events aggregate once in-suite. */
  private def friedmanRanked(s: SparkSession, d: String): DataFrame =
    memoCache(s, d, "friedmanRanked") {
      val daily = Tables.events(s, d)
        .groupBy(col("event_type"),
          date_trunc("day", col("ts")).cast("date").as("day"))
        .agg((sum(col("value").cast(DecimalType(18, 2))) * 100).cast("long")
          .as("cents"))
      val k = daily.select("event_type").distinct()
        .agg(count(lit(1)).cast("long").as("k"))
      val complete = daily
        .withColumn("nt", count(lit(1)).over(Window.partitionBy("day")))
        .crossJoin(broadcast(k))
        .filter(col("nt") === col("k"))
      // midrank×2 = rank_first + rank_last (ties share the average rank)
      val w = Window.partitionBy("day").orderBy("cents")
      complete
        .withColumn("r2",
          rank().over(w) + (count(lit(1)).over(
            Window.partitionBy("day", "cents")) - 1) + rank().over(w))
        .select("event_type", "day", "cents", "r2", "k")
        .pin()
    }

  def friedmanTest(s: SparkSession, d: String): DataFrame = {
    val sums = friedmanRanked(s, d).groupBy("event_type")
      .agg(sum(col("r2")).cast("long").as("rs2"),
        count(lit(1)).cast("long").as("n_days"), max(col("k")).as("k"))
    sums
      .agg(coalesce(max(col("k")), lit(0L)).as("k"), max(col("n_days")).as("n"),
        sum(col("rs2") * col("rs2")).cast("long").as("ssq4"))
      .select(col("k"), col("n"),
        // χ² = 12/(n·k·(k+1)) · Σ R_j² − 3n(k+1); R_j = rs2/2 so
        // Σ R_j² = ssq4/4
        round(lit(12.0) * col("ssq4").cast("double") / 4.0 /
          (col("n") * col("k") * (col("k") + 1)) -
          lit(3.0) * col("n") * (col("k") + 1), 6).as("chi2_f"))
  }

  val friedmanTestSql: String =
    """WITH daily AS (
      |  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
      |    CAST(sum(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS cents
      |  FROM events GROUP BY 1,2),
      |kk AS (SELECT count(DISTINCT event_type) AS k FROM daily),
      |complete AS (
      |  SELECT d.* FROM daily d CROSS JOIN kk
      |  QUALIFY count(*) OVER (PARTITION BY day) = kk.k),
      |ranked AS (
      |  SELECT event_type,
      |    rank() OVER (PARTITION BY day ORDER BY cents)
      |      + (count(*) OVER (PARTITION BY day, cents) - 1)
      |      + rank() OVER (PARTITION BY day ORDER BY cents) AS r2
      |  FROM complete),
      |sums AS (
      |  SELECT event_type, CAST(sum(r2) AS BIGINT) AS rs2,
      |    count(*) AS n_days
      |  FROM ranked GROUP BY 1)
      |SELECT CAST((SELECT k FROM kk) AS BIGINT) AS k,
      |  CAST(max(n_days) AS BIGINT) AS n,
      |  round(12.0 * CAST(sum(CAST(rs2 AS HUGEINT) * rs2) AS DOUBLE) / 4.0
      |    / (max(n_days) * (SELECT k FROM kk) * ((SELECT k FROM kk) + 1))
      |    - 3.0 * max(n_days) * ((SELECT k FROM kk) + 1), 6) AS chi2_f
      |FROM sums""".stripMargin

  /** KENDALL'S COEFFICIENT OF CONCORDANCE W — [[friedmanTest]]'s
    * EFFECT SIZE: the χ² answers "do the types rank consistently
    * across days at all?"; W ∈ [0,1] answers "HOW consistently" (1 =
    * every day ranks the types identically, 0 = pure noise), which is
    * what makes day-over-day rank stability comparable across datasets
    * of different length. Tie-corrected form (Kendall & Babington
    * Smith): W = (12·ΣR_j² − 3n²k(k+1)²) / (n²k(k²−1) − n·ΣT) with
    * T_i = Σ(t³−t) over tie groups in block i.
    *
    * Exactness: reads the shared [[friedmanRanked]] midrank frame —
    * 12·ΣR² = 3·Σ(2R)² stays an exact long (no ÷4 ever happens), the
    * tie term is an exact long census over (day, cents) groups, so W
    * is ONE double division. Also reports the χ² link n(k−1)W.
    *
    * Scale: the memoized frame is the only events pass; both reducers
    * are O(k) / O(tie-groups) combinable aggregates. */
  def kendallW(s: SparkSession, d: String): DataFrame = {
    val ranked = friedmanRanked(s, d)
    val sums = ranked.groupBy("event_type")
      .agg(sum(col("r2")).cast("long").as("rs2"),
        count(lit(1)).cast("long").as("n_days"), max(col("k")).as("k"))
      .agg(coalesce(max(col("k")), lit(0L)).as("k"), max(col("n_days")).as("n"),
        sum(col("rs2") * col("rs2")).cast("long").as("ssq4"))
    val ties = ranked.groupBy("day", "cents")
      .agg(count(lit(1)).cast("long").as("t"))
      .agg(coalesce(sum(col("t") * col("t") * col("t") - col("t")),
        lit(0L)).as("st"))
    sums.crossJoin(broadcast(ties))
      .select(col("k"), col("n"), col("st").as("tie_t"),
        ((lit(3.0) * col("ssq4").cast("double") -
          lit(3.0) * col("n").cast("double") * col("n") * col("k") *
            (col("k") + 1) * (col("k") + 1)) /
          (col("n").cast("double") * col("n") * col("k") *
            (col("k") * col("k") - 1) -
            col("n").cast("double") * col("st"))).as("w"))
      .select(col("k"), col("n"), col("tie_t"),
        round(col("w"), 6).as("kendall_w"),
        round(col("n") * (col("k") - 1) * col("w"), 6).as("chi2_w"))
  }

  val kendallWSql: String =
    """WITH daily AS (
      |  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
      |    CAST(sum(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS cents
      |  FROM events GROUP BY 1,2),
      |kk AS (SELECT count(DISTINCT event_type) AS k FROM daily),
      |complete AS (
      |  SELECT d.* FROM daily d CROSS JOIN kk
      |  QUALIFY count(*) OVER (PARTITION BY day) = kk.k),
      |ranked AS (
      |  SELECT event_type, day, cents,
      |    rank() OVER (PARTITION BY day ORDER BY cents)
      |      + (count(*) OVER (PARTITION BY day, cents) - 1)
      |      + rank() OVER (PARTITION BY day ORDER BY cents) AS r2
      |  FROM complete),
      |sums AS (
      |  SELECT CAST((SELECT k FROM kk) AS BIGINT) AS k,
      |    CAST(max(n_days) AS BIGINT) AS n,
      |    CAST(sum(CAST(rs2 AS HUGEINT) * rs2) AS DOUBLE) AS ssq4
      |  FROM (SELECT event_type, CAST(sum(r2) AS BIGINT) AS rs2,
      |          count(*) AS n_days
      |        FROM ranked GROUP BY 1)),
      |ties AS (
      |  SELECT coalesce(CAST(sum(CAST(t AS BIGINT) * t * t - t) AS BIGINT),
      |    0) AS st
      |  FROM (SELECT day, cents, count(*) AS t FROM ranked GROUP BY 1,2)),
      |stat AS (
      |  SELECT k, n, st AS tie_t,
      |    (3.0 * ssq4
      |      - 3.0 * CAST(n AS DOUBLE) * n * k * (k + 1) * (k + 1)) /
      |    (CAST(n AS DOUBLE) * n * k * (k * k - 1)
      |      - CAST(n AS DOUBLE) * st) AS w
      |  FROM sums CROSS JOIN ties)
      |SELECT k, n, tie_t, round(w, 6) AS kendall_w,
      |  round(n * (k - 1) * w, 6) AS chi2_w
      |FROM stat""".stripMargin

  /** PAGE'S TREND TEST (Page 1963) — the ORDERED-alternative member
    * of the repeated-measures family: [[friedmanTest]] asks "do the
    * types differ at all?", Page's L asks "do they follow the
    * SPECIFIED order?" — the within-block twin of
    * [[cochranArmitageTrend]] (ordered doses, independent samples) and
    * [[q: jonckheere]] (ordered groups, independent samples). The
    * a-priori treatment ordering a real experiment supplies is pinned
    * here as lexicographic event_type order (deterministic; the
    * statistic's mechanics are ordering-agnostic).
    *
    * Exactness: L = Σ_j c_j·R_j with c_j = 1..k; 2L = Σ c_j·(2R_j)
    * stays an exact long off the shared [[friedmanRanked]] frame. The
    * null moments are closed forms: E[2L] = n·k(k+1)²/2 and
    * Var[2L] = n·k²(k+1)(k²−1)/36 (ties make the variance slightly
    * conservative — the standard treatment, noted not hidden), so z is
    * one pinned double formula.
    *
    * Scale: O(k) reducer over the memoized frame. */
  def pageTrend(s: SparkSession, d: String): DataFrame = {
    val sums = friedmanRanked(s, d).groupBy("event_type")
      .agg(sum(col("r2")).cast("long").as("rs2"),
        count(lit(1)).cast("long").as("n_days"), max(col("k")).as("k"))
      .withColumn("c",
        row_number().over(Window.orderBy("event_type")).cast("long"))
    sums
      .agg(coalesce(max(col("k")), lit(0L)).as("k"), max(col("n_days")).as("n"),
        sum(col("c") * col("rs2")).cast("long").as("l2"))
      .select(col("k"), col("n"), (col("l2").cast("double") / 2.0).as("l"),
        (col("n").cast("double") * col("k") * (col("k") + 1) *
          (col("k") + 1) / 2.0).as("e2"),
        (col("n").cast("double") * col("k") * col("k") * (col("k") + 1) *
          (col("k") * col("k") - 1) / 36.0).as("v2"),
        col("l2"))
      .select(col("k"), col("n"), col("l"),
        round((col("l2").cast("double") - col("e2")) / sqrt(col("v2")), 6)
          .as("page_z"),
        ((col("l2").cast("double") - col("e2")) / sqrt(col("v2")) >
          lit(1.644853626951472)).as("increasing_95"))
  }

  val pageTrendSql: String =
    """WITH daily AS (
      |  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
      |    CAST(sum(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS cents
      |  FROM events GROUP BY 1,2),
      |kk AS (SELECT count(DISTINCT event_type) AS k FROM daily),
      |complete AS (
      |  SELECT d.* FROM daily d CROSS JOIN kk
      |  QUALIFY count(*) OVER (PARTITION BY day) = kk.k),
      |ranked AS (
      |  SELECT event_type,
      |    rank() OVER (PARTITION BY day ORDER BY cents)
      |      + (count(*) OVER (PARTITION BY day, cents) - 1)
      |      + rank() OVER (PARTITION BY day ORDER BY cents) AS r2
      |  FROM complete),
      |sums AS (
      |  SELECT event_type, CAST(sum(r2) AS BIGINT) AS rs2,
      |    count(*) AS n_days,
      |    CAST(row_number() OVER (ORDER BY event_type) AS BIGINT) AS c
      |  FROM ranked GROUP BY 1),
      |agg AS (
      |  SELECT CAST((SELECT k FROM kk) AS BIGINT) AS k,
      |    CAST(max(n_days) AS BIGINT) AS n,
      |    CAST(sum(c * rs2) AS BIGINT) AS l2
      |  FROM sums),
      |stat AS (
      |  SELECT k, n, CAST(l2 AS DOUBLE) / 2.0 AS l, l2,
      |    CAST(n AS DOUBLE) * k * (k + 1) * (k + 1) / 2.0 AS e2,
      |    CAST(n AS DOUBLE) * k * k * (k + 1) * (k * k - 1) / 36.0 AS v2
      |  FROM agg)
      |SELECT k, n, l,
      |  round((CAST(l2 AS DOUBLE) - e2) / sqrt(v2), 6) AS page_z,
      |  ((CAST(l2 AS DOUBLE) - e2) / sqrt(v2) > 1.644853626951472)
      |    AS increasing_95
      |FROM stat""".stripMargin

  /** COCHRAN–ARMITAGE TREND TEST: does the return rate TREND with the
    * discount level? The ordered-dose 2×k test — χ²-style independence
    * ([[chiSquareStatusPriority]]) ignores the ordering; this weights
    * each discount level by its integer dose and asks for a monotone
    * dose-response signal ("do discounted items come back more?").
    *
    * Exactness: doses are integer discount percents; the trend
    * numerator N·Σwr − R·Σwn and the variance core
    * N·Σw²n − (Σwn)² are exact decimal(38,0); Z is one pinned double
    * formula (one sqrt). All from the O(k) dose census.
    *
    * Scale: one combinable census aggregate over facts → k ≤ 11 rows →
    * one scalar fold. */
  def cochranArmitageTrend(s: SparkSession, d: String): DataFrame = {
    val big = DecimalType(38, 0)
    val census = Tables.lineitem(s, d)
      .groupBy(round(col("l_discount") * 100).cast("long").as("w"))
      .agg(count(lit(1)).cast("long").as("n_i"),
        sum(when(col("l_returnflag") === "R", 1L).otherwise(0L))
          .cast("long").as("r_i"))
    val sums = census.agg(
      sum(col("n_i")).cast(big).as("n"),
      sum(col("r_i")).cast(big).as("r"),
      sum(col("w").cast(big) * col("n_i")).cast(big).as("swn"),
      sum(col("w").cast(big) * col("r_i")).cast(big).as("swr"),
      sum(col("w").cast(big) * col("w") * col("n_i")).cast(big).as("sw2n"),
      count(lit(1)).cast("long").as("k"))
    val num = (col("n") * col("swr") - col("r") * col("swn")).cast("double")
    val p = col("r").cast("double") / col("n").cast("double")
    val varCore = (col("n") * col("sw2n") - col("swn") * col("swn"))
      .cast("double")
    sums.select(col("k"), col("n").cast("long").as("n_total"),
      col("r").cast("long").as("n_returned"),
      // NULL guard (collapsed-dimension edge sweep): a single dose level
      // (constant discount) or an all-/never-returned corpus zeroes the
      // variance core — NULL on DuckDB, ANSI error here. The n-degenerate
      // arm comes FIRST so p = r/n is never evaluated over an empty
      // census (CaseWhen branches evaluate lazily; over empty lineitem n
      // is NULL, not 0, so this arm is belt-and-braces — ADVICE r12 asked
      // the guard shape to match the sweep's others anyway).
      when(col("n").isNull || col("n") === 0, lit(null).cast("double"))
        .when(p * (lit(1.0) - p) * varCore === 0d, lit(null).cast("double"))
        .otherwise(round(num / (col("n").cast("double") *
          sqrt(p * (lit(1.0) - p) * varCore)), 6)).as("z_trend"))
  }

  val cochranArmitageTrendSql: String =
    """WITH census AS (
      |  SELECT CAST(round(l_discount * 100) AS BIGINT) AS w,
      |    count(*) AS n_i,
      |    sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS r_i
      |  FROM lineitem GROUP BY 1),
      |s AS (
      |  SELECT sum(CAST(n_i AS HUGEINT)) AS n,
      |    sum(CAST(r_i AS HUGEINT)) AS r,
      |    sum(CAST(w AS HUGEINT) * n_i) AS swn,
      |    sum(CAST(w AS HUGEINT) * r_i) AS swr,
      |    sum(CAST(w AS HUGEINT) * w * n_i) AS sw2n,
      |    count(*) AS k
      |  FROM census)
      |SELECT CAST(k AS BIGINT) AS k, CAST(n AS BIGINT) AS n_total,
      |  CAST(r AS BIGINT) AS n_returned,
      |  round(CAST(n * swr - r * swn AS DOUBLE) /
      |    (CAST(n AS DOUBLE) *
      |     sqrt((CAST(r AS DOUBLE) / CAST(n AS DOUBLE)) *
      |       (1.0 - CAST(r AS DOUBLE) / CAST(n AS DOUBLE)) *
      |       CAST(n * sw2n - swn * swn AS DOUBLE))), 6) AS z_trend
      |FROM s""".stripMargin

  /** MUTUAL INFORMATION between event type and hour-of-day: how many
    * bits does WHEN an event happens carry about WHAT it is? The
    * information-theoretic dependence readout next to [[q: chi2]]'s
    * significance test — MI = Σ p·ln(p·N²/(r·c)) over the k×24
    * contingency census, all from exact counts.
    *
    * Determinism: the ≤ k·24 ln terms fold over the (type, hour)-sorted
    * cell array (the zipf discipline); marginals are exact integers.
    *
    * Scale: one combinable census aggregate over facts; the fold runs
    * on O(k·24) cells. */
  def mutualInfoTypeHour(s: SparkSession, d: String): DataFrame = {
    val cells = Tables.events(s, d)
      .groupBy(col("event_type"), hour(col("ts")).as("hr"))
      .agg(count(lit(1)).cast("long").as("c"))
      .pin() // consumers: both marginals + the cell fold
    val rowM = cells.groupBy("event_type").agg(sum(col("c")).cast("long").as("r"))
    val colM = cells.groupBy("hr").agg(sum(col("c")).cast("long").as("cc"))
    cells.join(rowM, Seq("event_type")).join(colM, Seq("hr"))
      .agg(sum(col("c")).cast("long").as("n"),
        count(lit(1)).cast("long").as("n_cells"),
        sort_array(collect_list(struct(col("event_type"), col("hr"),
          col("c"), col("r"), col("cc")))).as("a"))
      .select(col("n"), col("n_cells"),
        // empty census guard (empty-events edge sweep): the fold's 0.0
        // init vs the oracle's NULL empty list_sum
        when(col("n_cells") === 0L, lit(null).cast("double")).otherwise(
          round(expr("""aggregate(a, CAST(0.0 AS DOUBLE), (acc, e) ->
            acc + (CAST(e.c AS DOUBLE) / n) *
              ln(CAST(e.c AS DOUBLE) * n /
                (CAST(e.r AS DOUBLE) * e.cc)))"""), 6)).as("mi_nats"))
  }

  val mutualInfoTypeHourSql: String =
    """WITH cells AS (
      |  SELECT event_type, CAST(hour(ts) AS INT) AS hr, count(*) AS c
      |  FROM events GROUP BY 1, 2),
      |rm AS (SELECT event_type, CAST(sum(c) AS BIGINT) AS r
      |  FROM cells GROUP BY 1),
      |cm AS (SELECT hr, CAST(sum(c) AS BIGINT) AS cc FROM cells GROUP BY 1),
      |folded AS (
      |  SELECT CAST(sum(c) AS BIGINT) AS n, count(*) AS n_cells,
      |    list(struct_pack(event_type := cells.event_type, hr := cells.hr,
      |      c := c, r := r, cc := cc)
      |      ORDER BY cells.event_type, cells.hr) AS a
      |  FROM cells JOIN rm USING (event_type) JOIN cm USING (hr))
      |SELECT n, CAST(n_cells AS BIGINT) AS n_cells,
      |  round(list_sum(list_transform(a, e ->
      |    (CAST(e.c AS DOUBLE) / n) *
      |    ln(CAST(e.c AS DOUBLE) * n / (CAST(e.r AS DOUBLE) * e.cc)))), 6)
      |    AS mi_nats
      |FROM folded""".stripMargin

  /** MAHALANOBIS OUTLIERS — joint (order count, total spend) anomaly
    * screen per customer: distance to the population centroid in the
    * covariance metric, the 2-D generalization of the z-score that
    * catches "many tiny orders" / "one huge order" shapes a univariate
    * screen misses. Top 20 by distance.
    *
    * Fully EXACT-INTEGER core: with u = N·x − Σx and v = N·y − Σy
    * (exact decimal(38,0)) and the scaled co-moment matrix
    * A = [[N·Σxx − (Σx)², N·Σxy − Σx·Σy], [·, N·Σyy − (Σy)²]],
    * the N² factors cancel and
    * d² = (u²·a_yy − 2uv·a_xy + v²·a_xx) / det(A) — numerator and
    * denominator are exact integers (≤ ~1e33 at 100× this corpus,
    * inside decimal(38,0)/HUGEINT; ANSI overflow is LOUD), so the
    * whole statistic is ONE double division — no engine-ordered float
    * sum anywhere, stronger even than the sorted-fold discipline.
    *
    * Scale: one customer aggregate + one 6-value global aggregate
    * broadcast back; facts touched once. */
  def mahalanobisOutliers(s: SparkSession, d: String): DataFrame = {
    val big = DecimalType(38, 0)
    def d0(c: Column): Column = c.cast(big)
    val perCust = Tables.orders(s, d)
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).cast("long").as("x"),
        (sum(col("o_totalprice").cast(DecimalType(18, 2))) * 100)
          .cast("long").as("y"))
    val mom = perCust.agg(
      count(lit(1)).cast("long").as("nn"),
      sum(col("x")).cast("long").as("sx"),
      sum(d0(col("y"))).cast(big).as("sy"),
      sum(col("x") * col("x")).cast("long").as("sxx"),
      sum(d0(col("y")) * d0(col("y"))).cast(big).as("syy"),
      sum(d0(col("x")) * d0(col("y"))).cast(big).as("sxy"))
    val axx = d0(col("nn")) * d0(col("sxx")) - d0(col("sx")) * d0(col("sx"))
    val ayy = d0(col("nn")) * col("syy") - col("sy") * col("sy")
    val axy = d0(col("nn")) * col("sxy") - d0(col("sx")) * col("sy")
    val u = d0(col("nn")) * d0(col("x")) - d0(col("sx"))
    val v = d0(col("nn")) * d0(col("y")) - col("sy")
    val num = u * u * ayy - lit(2).cast(big) * u * v * axy + v * v * axx
    val det = axx * ayy - axy * axy
    perCust.crossJoin(broadcast(mom))
      .select(col("o_custkey"), col("x").as("n_orders"),
        col("y").as("spend_cents"),
        // singular covariance (single-customer edge sweep: one point
        // zeroes every central moment) — the exact-integer det is 0 on
        // both engines; NULL on DuckDB's x/0, ANSI error here
        when(det === lit(0).cast(big), lit(null).cast("double"))
          .otherwise(round(num.cast("double") / det.cast("double"), 6))
          .as("d2"))
      .orderBy(col("d2").desc, col("o_custkey"))
      .limit(20)
  }

  val mahalanobisOutliersSql: String =
    """WITH per_cust AS (
      |  SELECT o_custkey, CAST(count(*) AS BIGINT) AS x,
      |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
      |      AS y
      |  FROM orders GROUP BY 1),
      |mom AS (
      |  SELECT CAST(count(*) AS HUGEINT) AS nn,
      |    CAST(sum(x) AS HUGEINT) AS sx,
      |    CAST(sum(CAST(y AS HUGEINT)) AS HUGEINT) AS sy,
      |    CAST(sum(x * x) AS HUGEINT) AS sxx,
      |    CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy,
      |    CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy
      |  FROM per_cust),
      |am AS (
      |  SELECT nn, sx, sy,
      |    nn * sxx - sx * sx AS axx,
      |    nn * syy - sy * sy AS ayy,
      |    nn * sxy - sx * sy AS axy
      |  FROM mom),
      |scored AS (
      |  SELECT p.o_custkey, p.x AS n_orders, p.y AS spend_cents,
      |    round(CAST(
      |      (nn * p.x - sx) * (nn * p.x - sx) * ayy
      |      - 2 * (nn * p.x - sx) * (nn * p.y - sy) * axy
      |      + (nn * p.y - sy) * (nn * p.y - sy) * axx
      |    AS DOUBLE) / CAST(axx * ayy - axy * axy AS DOUBLE), 6) AS d2
      |  FROM per_cust p CROSS JOIN am)
      |SELECT o_custkey, n_orders, spend_cents, d2
      |FROM scored ORDER BY d2 DESC, o_custkey LIMIT 20""".stripMargin

  /** Pinned BH critical values: zcrit_i = Φ⁻¹(1 − α·i/(2m)) for
    * α = 0.05, m = 25 — |z|-space renderings of the Benjamini–Hochberg
    * step-up thresholds p ≤ α·i/m, precomputed as literals because Φ⁻¹
    * is a transcendental the two engines would NOT compute
    * bit-identically (the O'Brien–Fleming boundary discipline of
    * [[graft.ops.Behavior.sequentialTest]]). */
  private val bhCrits: Seq[Double] = Seq(
    3.090232306167813, 2.8781617390954826, 2.7477813854449917,
    2.6520698079021954, 2.5758293035489, 2.5121443279304616,
    2.457263390205436, 2.408915545815461, 2.365618126864292,
    2.3263478740408408, 2.290367877855267, 2.257129244486225,
    2.2262117693171737, 2.1972863766410513, 2.17009037758456,
    2.1444106209118394, 2.1200716897421503, 2.0969274291643414,
    2.0748547343933095, 2.053748910631822, 2.0335201492530506,
    2.0140908120181384, 1.9953933101678243, 1.9773684281819461,
    1.9599639845400536)

  /** BENJAMINI–HOCHBERG FDR SCREEN — multiple-testing correction over
    * the 25-nation family: each nation's high-value-order rate is
    * tested against the global rate (one-sample two-proportion z from
    * exact integers), then the step-up rule rejects the k largest |z|
    * where k = max{i : |z|₍ᵢ₎ ≥ zcrit_i} — the dashboard pattern that
    * stops 25 parallel segment tests from generating false alarms at
    * α each.
    *
    * Determinism: counts are exact integers; each z is one pinned
    * double formula; the DESC-|z| ranking ties on nation name; the
    * step-up compare is double-vs-pinned-literal, identical in both
    * engines. The sort + step-up run inside ONE collected 25-struct
    * array (the [[chiSquareStatusPriority]] fold discipline) — m is
    * the FAMILY size, fixed by the analysis design, never data-scaled.
    *
    * Scale: one key-shuffle join + one O(25) aggregate; facts are
    * touched once. */
  def bhFdrScreen(s: SparkSession, d: String): DataFrame = {
    val cells = Tables.orders(s, d)
      .join(Tables.customer(s, d),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, d)),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(count(lit(1)).cast("long").as("n"),
        sum(when((col("o_totalprice").cast(DecimalType(18, 2)) * 100)
          .cast("long") >= 15000000L, 1L).otherwise(0L)).as("k"))
    val glob = cells.agg(sum(col("n")).cast("long").as("nn"),
      sum(col("k")).cast("long").as("kk"))
    val pg = col("kk").cast("double") / col("nn").cast("double")
    val z = (col("k").cast("double") / col("n").cast("double") - pg) /
      sqrt(pg * (lit(1.0) - pg) / col("n").cast("double"))
    val scored = cells.crossJoin(broadcast(glob))
      .select(col("n_name"), col("n"), col("k"), z.as("z"))
    val critArr = array(bhCrits.map(lit): _*)
    // kmax = largest rank i whose |z| clears crit_i (step-up)
    val withK = scored
      .groupBy()
      .agg(sort_array(collect_list(struct((-abs(col("z"))).as("negabs"),
        col("n_name"), col("n"), col("k"), col("z")))).as("a"))
      .select(col("a"), expr(
        s"""array_max(transform(a, (e, i) ->
           |  IF(abs(e.z) >= element_at(array(${bhCrits.mkString(",")}),
           |    i + 1), i + 1, 0)))""".stripMargin).as("kmax"))
    withK
      .select(posexplode(col("a")).as(Seq("pos", "e")), col("kmax"))
      .select((col("pos") + 1).cast("int").as("rank"),
        col("e.n_name").as("n_name"), col("e.n").as("n"), col("e.k").as("k"),
        round(col("e.z"), 6).as("z"),
        round(element_at(critArr, col("pos") + 1), 6).as("z_crit"),
        (col("pos") + 1 <= col("kmax")).as("rejected"))
      .orderBy("rank")
  }

  val bhFdrScreenSql: String = {
    val critList = bhCrits.mkString("[", ", ", "]")
    s"""WITH cells AS (
       |  SELECT n_name, count(*) AS n,
       |    sum(CASE WHEN CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
       |      AS BIGINT) >= 15000000 THEN 1 ELSE 0 END) AS k
       |  FROM orders o
       |  JOIN customer c ON o.o_custkey = c.c_custkey
       |  JOIN nation nt ON c.c_nationkey = nt.n_nationkey
       |  GROUP BY 1),
       |gl AS (
       |  SELECT CAST(sum(n) AS BIGINT) AS nn, CAST(sum(k) AS BIGINT) AS kk
       |  FROM cells),
       |scored AS (
       |  SELECT n_name, CAST(n AS BIGINT) AS n, CAST(k AS BIGINT) AS k,
       |    (CAST(k AS DOUBLE) / CAST(n AS DOUBLE)
       |      - CAST(kk AS DOUBLE) / CAST(nn AS DOUBLE))
       |    / sqrt((CAST(kk AS DOUBLE) / CAST(nn AS DOUBLE))
       |        * (1.0 - CAST(kk AS DOUBLE) / CAST(nn AS DOUBLE))
       |        / CAST(n AS DOUBLE)) AS z
       |  FROM cells CROSS JOIN gl),
       |packed AS (
       |  SELECT list(struct_pack(negabs := -abs(z), n_name := n_name,
       |    n := n, k := k, z := z) ORDER BY -abs(z), n_name) AS a
       |  FROM scored),
       |km AS (
       |  SELECT a, $critList AS cl,
       |    list_max(list_transform(generate_series(1, len(a)), i ->
       |      CASE WHEN abs(a[i].z) >= ($critList)[i] THEN i ELSE 0 END))
       |      AS kmax
       |  FROM packed)
       |SELECT CAST(i AS INTEGER) AS rank, a[i].n_name AS n_name,
       |  a[i].n AS n, a[i].k AS k,
       |  round(a[i].z, 6) AS z,
       |  round(cl[i], 6) AS z_crit,
       |  i <= kmax AS rejected
       |FROM km, range(1, 26) AS t(i)
       |WHERE i <= len(a)
       |ORDER BY rank""".stripMargin
  }

  /** XYZ DEMAND-VARIABILITY ANALYSIS — the companion axis to
    * [[abcAnalysis]]: parts classified by the coefficient of variation
    * of their MONTHLY demand over the full ship-date span (zero-demand
    * months count, the standard XYZ convention): X = steadiest,
    * Y = variable, Z = erratic. ABC ranks by value, XYZ by
    * forecastability; together they are the 9-cell inventory-policy
    * grid. Boundary choice: the classic 0.5/1.0 cuts assume dense
    * demand; this corpus's monthly demand is sparse (every CV lands in
    * 1.31-3.28), so the graded form cuts at the corpus-meaningful
    * 1.8/2.0 — the boundaries are a tuning parameter, the machinery is
    * the operator.
    *
    * Determinism: with M = span months (exact integer from year×12+month
    * arithmetic, never float months_between) and per-part exact sums
    * s1 = Σq, s2 = Σq² in scale-2 integer units,
    * CV = σ/μ = √(M·s2 − s1²)/s1 — the M's cancel, every input to the
    * one sqrt+division is the same exact integer in both engines, and
    * IEEE sqrt is correctly rounded, so even a part sitting exactly on
    * a class boundary classifies identically. Per-class outputs are
    * counts, exact sums, and min/max picks of identical doubles.
    *
    * Scale: one combinable (part, month) aggregate, one part
    * aggregate, one O(3) aggregate — wordcount-shaped. */
  def xyzAnalysis(s: SparkSession, d: String): DataFrame = {
    val big = DecimalType(38, 0)
    val monthly = Tables.lineitem(s, d)
      .select(col("l_partkey"),
        (year(col("l_shipdate")) * 12 + month(col("l_shipdate"))).as("mk"),
        (col("l_quantity").cast(DecimalType(12, 2)) * 100).cast("long")
          .as("qc"))
      .groupBy(col("l_partkey"), col("mk"))
      .agg(sum(col("qc")).as("q"))
    val span = Tables.lineitem(s, d)
      .agg(((max(year(col("l_shipdate")) * 12 + month(col("l_shipdate"))) -
        min(year(col("l_shipdate")) * 12 + month(col("l_shipdate")))) + 1)
        .cast("long").as("m"))
    val perPart = monthly.groupBy(col("l_partkey"))
      .agg(sum(col("q")).cast(big).as("s1"),
        sum(col("q").cast(big) * col("q").cast(big)).cast(big).as("s2"),
        count(lit(1)).cast("long").as("n_active"))
    val cv = sqrt((col("m").cast(big) * col("s2") - col("s1") * col("s1"))
      .cast("double")) / col("s1").cast("double")
    perPart.crossJoin(broadcast(span))
      .select(col("l_partkey"), col("s1"), col("n_active"), cv.as("cv"))
      .select(col("l_partkey"), col("s1"), col("n_active"), col("cv"),
        when(col("cv") < 1.8, "X").when(col("cv") < 2.0, "Y")
          .otherwise("Z").as("cls"))
      .groupBy(col("cls"))
      .agg(count(lit(1)).cast("long").as("n_parts"),
        sum(col("s1")).cast(DecimalType(38, 0)).cast("double")
          .as("qty_cents"),
        round(min(col("cv")), 6).as("min_cv"),
        round(max(col("cv")), 6).as("max_cv"),
        round(avg(col("n_active").cast("double")), 6).as("avg_active_months"))
      .orderBy("cls")
  }

  val xyzAnalysisSql: String =
    """WITH monthly AS (
      |  SELECT l_partkey,
      |    year(l_shipdate) * 12 + month(l_shipdate) AS mk,
      |    CAST(sum(CAST(CAST(l_quantity AS DECIMAL(12,2)) * 100 AS BIGINT))
      |      AS BIGINT) AS q
      |  FROM lineitem GROUP BY 1, 2),
      |span AS (
      |  SELECT CAST(max(year(l_shipdate) * 12 + month(l_shipdate))
      |    - min(year(l_shipdate) * 12 + month(l_shipdate)) + 1 AS BIGINT)
      |    AS m
      |  FROM lineitem),
      |per_part AS (
      |  SELECT l_partkey, CAST(sum(q) AS HUGEINT) AS s1,
      |    CAST(sum(CAST(q AS HUGEINT) * q) AS HUGEINT) AS s2,
      |    count(*) AS n_active
      |  FROM monthly GROUP BY 1),
      |scored AS (
      |  SELECT l_partkey, s1, n_active,
      |    sqrt(CAST(m * s2 - s1 * s1 AS DOUBLE)) / CAST(s1 AS DOUBLE) AS cv
      |  FROM per_part CROSS JOIN span)
      |SELECT CASE WHEN cv < 1.8 THEN 'X' WHEN cv < 2.0 THEN 'Y'
      |    ELSE 'Z' END AS cls,
      |  count(*) AS n_parts,
      |  CAST(CAST(sum(s1) AS HUGEINT) AS DOUBLE) AS qty_cents,
      |  round(min(cv), 6) AS min_cv,
      |  round(max(cv), 6) AS max_cv,
      |  round(avg(CAST(n_active AS DOUBLE)), 6) AS avg_active_months
      |FROM scored GROUP BY 1 ORDER BY 1""".stripMargin

  /** ABC INVENTORY ANALYSIS: parts classified by cumulative revenue
    * share — A carries the first 80%, B to 95%, C the tail (the Pareto
    * cut every supply-chain and catalog-curation surface starts from).
    *
    * Classification is EXACT integers end to end: a part is A iff its
    * EXCLUSIVE running revenue (everything ranked strictly above it)
    * satisfies 5·prev < 4·total, B iff 20·prev < 19·total — no float
    * share ever feeds a boundary compare. The running total itself is
    * [[graft.ops.Distributed.withRunningTotal]] — range-partitioned
    * prefix aggregation at full cluster width over the O(parts)
    * aggregate, NOT a no-partition window funnel (the q_theilsen
    * lesson); descending rank is the ascending range order of
    * (−revenue, part key).
    *
    * Scale: one combinable part aggregate over facts; the prefix pass
    * is the `_dist` class (range shuffle + two metadata-light passes). */
  def abcAnalysis(s: SparkSession, d: String): DataFrame = {
    val partRev = Tables.lineitem(s, d)
      .groupBy(col("l_partkey"))
      // exact decimal product (the q1_agg discipline), carried in
      // scale-4 units so no truncation ever happens on either engine
      .agg((sum(col("l_extendedprice").cast(DecimalType(18, 2)) *
        (lit(1).cast(DecimalType(18, 2)) -
          col("l_discount").cast(DecimalType(18, 2)))) * 10000)
        .cast("long").as("cents"))
      .withColumn("neg", -col("cents"))
    val ranked = graft.ops.Distributed.withRunningTotal(partRev,
      Seq.empty, Seq("neg", "l_partkey"), "cents", "cum", Some("tot"))
    val prev = col("cum") - col("cents")
    ranked
      .select(col("l_partkey"), col("cents"),
        when(prev * 5 < col("tot") * 4, lit("A"))
          .when(prev * 20 < col("tot") * 19, lit("B"))
          .otherwise(lit("C")).as("abc_class"),
        col("tot"))
      .groupBy("abc_class")
      .agg(count(lit(1)).as("n_parts"),
        sum(col("cents")).cast("long").as("revenue_e4"),
        round(sum(col("cents")).cast("double") / max(col("tot")), 6)
          .as("share"))
      .orderBy("abc_class")
  }

  val abcAnalysisSql: String =
    """WITH pr AS (
      |  SELECT l_partkey,
      |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
      |      (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
      |      * 10000 AS BIGINT) AS cents
      |  FROM lineitem GROUP BY 1),
      |ranked AS (
      |  SELECT l_partkey, cents,
      |    sum(cents) OVER (ORDER BY -cents, l_partkey
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
      |    sum(cents) OVER () AS tot
      |  FROM pr)
      |SELECT CASE WHEN (cum - cents) * 5 < tot * 4 THEN 'A'
      |    WHEN (cum - cents) * 20 < tot * 19 THEN 'B'
      |    ELSE 'C' END AS abc_class,
      |  count(*) AS n_parts,
      |  CAST(sum(cents) AS BIGINT) AS revenue_e4,
      |  round(CAST(sum(cents) AS DOUBLE) / max(tot), 6) AS share
      |FROM ranked GROUP BY 1 ORDER BY 1""".stripMargin

  /** NEW-vs-REPEAT REVENUE SPLIT per month: the growth-quality readout
    * ("is revenue new demand or the installed base?") every commerce
    * dashboard ships. An order is NEW iff its date equals the
    * customer's first-ever order DATE (same-day multiple first orders
    * all count new — a deterministic, engine-identical convention; the
    * day precision matches the testdata's date-granular orders).
    *
    * Scale: first-order date is one combinable min aggregate per
    * customer; the classification join is key-shuffle on o_custkey;
    * the month rollup is O(months). All exact cents. */
  def newVsRepeat(s: SparkSession, d: String): DataFrame = {
    val first = Tables.orders(s, d)
      .groupBy(col("o_custkey").as("ck"))
      .agg(min(to_date(col("o_orderdate"))).as("first_day"))
    Tables.orders(s, d)
      .join(first, col("o_custkey") === col("ck"))
      .select(date_trunc("month", col("o_orderdate")).cast("date").as("month"),
        (to_date(col("o_orderdate")) === col("first_day")).as("is_new"),
        (col("o_totalprice").cast(DecimalType(18, 2)) * 100).cast("long")
          .as("cents"))
      .groupBy("month")
      .agg(sum(when(col("is_new"), 1L).otherwise(0L)).as("n_new"),
        sum(when(col("is_new"), 0L).otherwise(1L)).as("n_repeat"),
        sum(when(col("is_new"), col("cents")).otherwise(0L)).cast("long")
          .as("rev_new_cents"),
        sum(when(col("is_new"), 0L).otherwise(col("cents"))).cast("long")
          .as("rev_repeat_cents"))
      .select(col("month"), col("n_new"), col("n_repeat"),
        col("rev_new_cents"), col("rev_repeat_cents"),
        round(col("rev_repeat_cents").cast("double") /
          greatest(col("rev_new_cents") + col("rev_repeat_cents"), lit(1L)),
          6).as("repeat_share"))
      .orderBy("month")
  }

  val newVsRepeatSql: String =
    """WITH first AS (
      |  SELECT o_custkey, min(CAST(o_orderdate AS DATE)) AS first_day
      |  FROM orders GROUP BY 1),
      |classed AS (
      |  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
      |    CAST(o.o_orderdate AS DATE) = f.first_day AS is_new,
      |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
      |      AS cents
      |  FROM orders o JOIN first f USING (o_custkey))
      |SELECT month,
      |  CAST(sum(CASE WHEN is_new THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
      |  CAST(sum(CASE WHEN is_new THEN 0 ELSE 1 END) AS BIGINT)
      |    AS n_repeat,
      |  CAST(sum(CASE WHEN is_new THEN cents ELSE 0 END) AS BIGINT)
      |    AS rev_new_cents,
      |  CAST(sum(CASE WHEN is_new THEN 0 ELSE cents END) AS BIGINT)
      |    AS rev_repeat_cents,
      |  round(CAST(sum(CASE WHEN is_new THEN 0 ELSE cents END) AS DOUBLE)
      |    / greatest(sum(cents), 1), 6) AS repeat_share
      |FROM classed GROUP BY month ORDER BY month""".stripMargin

  /** SPLIT-CONFORMAL PREDICTION INTERVALS — distribution-free
    * uncertainty quantification for a point model, the audit a training
    * pipeline runs before trusting any predictor's error bars. Model =
    * per-priority TRAIN-split median price (a discrete percentile, so
    * the prediction is an actual data value — exact cents); conformal
    * quantile q̂ = the ⌈(n_cal+1)(1−α)⌉-th smallest CALIBRATION-split
    * absolute residual (α = 0.1); the readout is per-priority TEST-split
    * coverage of ±q̂, which the split-conformal theorem guarantees is
    * ≥ 90% marginally, any distribution, any (deterministic) model.
    *
    * EXACTNESS: residuals are exact cent integers; q̂ is an order
    * statistic (a residual the data contains, never interpolated); the
    * rank index ⌈(n+1)·0.9⌉ is the same double → same ceil on both
    * engines. Coverage counts are integers; the rate is one rounded
    * division.
    *
    * Scale: splits are key-arithmetic (no shuffle to assign); the model
    * and q̂ frames are broadcast. The one collected array is the
    * CALIBRATION SAMPLE — 0.5% here, and a FIXED-SIZE sample by design
    * at any corpus size: split-conformal's coverage error is
    * O(1/n_cal), so a few thousand calibration points saturate the
    * guarantee no matter how big the corpus is (the same
    * bounded-by-statistics argument as the BFS seed cap). Facts are
    * touched in three scans (train median, calibration residuals, test
    * audit), each map-side combinable. */
  def conformalIntervals(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d).select(
      col("o_orderkey").as("k"), col("o_orderpriority").as("priority"),
      (dec(col("o_totalprice")) * 100).cast("long").as("cents"))
    val med = o.filter(col("k") % 10 <= 5).groupBy("priority")
      .agg(expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY cents)")
        .cast("long").as("med_cents"))
    val calib = o.filter(col("k") % 200 === 7)
      .join(broadcast(med), Seq("priority"))
      .select(abs(col("cents") - col("med_cents")).as("r"))
    val qhat = calib.agg(sort_array(collect_list(col("r"))).as("rs"))
      .select(size(col("rs")).as("n_cal"),
        // empty calibration split (single-customer edge sweep): the
        // ceil-index collapses to 0 and element_at(rs, 0) is an error
        // in BOTH engines' 1-based indexing; a NULL qhat marks every
        // test row uncovered, which is the honest conformal answer
        // with no calibration data (CaseWhen keeps the access lazy)
        when(size(col("rs")) === 0, lit(null).cast("long"))
          .otherwise(element_at(col("rs"),
            least(ceil((size(col("rs")) + 1) * lit(0.9)).cast("int"),
              size(col("rs"))))).as("qhat_cents"))
    o.filter(col("k") % 10 >= 8)
      .join(broadcast(med), Seq("priority"))
      .crossJoin(broadcast(qhat))
      .groupBy("priority", "n_cal", "qhat_cents")
      .agg(count(lit(1)).as("n_test"),
        sum(when(abs(col("cents") - col("med_cents")) <= col("qhat_cents"),
          1L).otherwise(0L)).as("covered"))
      .select(col("priority"), col("n_cal"), col("qhat_cents"),
        col("n_test"), col("covered"),
        round(col("covered").cast("double") / col("n_test"), 6).as("coverage"))
  }

  /** PARTIAL CORRELATION, CRONBACH'S α, AND INTRACLASS CORRELATION —
    * three named statistics that all fall out of the same exact decimal
    * power sums the [[corrMatrixLineitem]] discipline already
    * established, each answering a question the raw matrix cannot:
    *  - partial r(qty, price | discount): does the qty–price link
    *    survive controlling for discount? (confounder screening)
    *  - Cronbach's α over the four lineitem measures: do they move as
    *    one "scale"? (the reliability readout feature-bundling wants)
    *  - ICC(1) of order value within customers: how much of price
    *    variance is BETWEEN customers? — the clustering-strength
    *    companion to [[jackknifeClusterSe]]'s design effect
    *    (deff ≈ 1 + (m̄−1)·ICC).
    *
    * All three are pure pinned double arithmetic over exact
    * DECIMAL/long sums — identical on both engines, no rounding
    * tolerance beyond the final 6dp render. One row out. */
  def scaleDiagnostics(s: SparkSession, d: String): DataFrame = {
    val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    val li = Tables.lineitem(s, d)
    val sums = li.agg(
      count(lit(1)).as("n"),
      cols.flatMap(c => Seq(
        sum(dec(col(c))).as(s"s_$c"),
        sum((dec(col(c)) * dec(col(c))).cast(DecimalType(38, 6)))
          .as(s"ss_$c"))) ++
        cols.combinations(2).toSeq.map { case Seq(a, b) =>
          sum((dec(col(a)) * dec(col(b))).cast(DecimalType(38, 6)))
            .as(s"sp_${a}_$b")
        }: _*)
    def nd = col("n").cast("double")
    def cov(a: String, b: String): Column = {
      val sp = if (cols.indexOf(a) < cols.indexOf(b)) s"sp_${a}_$b"
        else s"sp_${b}_$a"
      col(sp).cast("double") * nd -
        col(s"s_$a").cast("double") * col(s"s_$b").cast("double")
    }
    def vr(a: String): Column =
      col(s"ss_$a").cast("double") * nd -
        col(s"s_$a").cast("double") * col(s"s_$a").cast("double")
    // NULL guards (collapsed-dimension edge sweep): a constant column
    // zeroes its variance (its correlations divide by zero), and a
    // perfectly-correlating confounder zeroes the partial-r denominator
    // — NULL on DuckDB, ANSI errors here
    def r(a: String, b: String): Column =
      when(vr(a) * vr(b) === 0d, lit(null).cast("double"))
        .otherwise(cov(a, b) / sqrt(vr(a) * vr(b)))
    val rqp = r("l_quantity", "l_extendedprice")
    val rqd = r("l_quantity", "l_discount")
    val rpd = r("l_extendedprice", "l_discount")
    val partial = when(
      (lit(1.0) - rqd * rqd) * (lit(1.0) - rpd * rpd) === 0d,
      lit(null).cast("double"))
      .otherwise((rqp - rqd * rpd) /
        sqrt((lit(1.0) - rqd * rqd) * (lit(1.0) - rpd * rpd)))
    // Cronbach: item variances and total-score variance from the same
    // sums (var_total = Σvar_i + 2Σcov_ij), all over the common n²
    // denominator, which cancels in the ratio
    val sumVar = cols.map(vr).reduce(_ + _)
    val sumCov = cols.combinations(2).toSeq.map { case Seq(a, b) =>
      cov(a, b) }.reduce(_ + _)
    val alpha = lit(cols.length.toDouble / (cols.length - 1)) *
      (lit(1.0) - sumVar / (sumVar + lit(2.0) * sumCov))
    val base = sums.crossJoin(broadcast(iccSums(s, d)))
    base.select(col("n").as("n_rows"),
      round(rqp, 6).as("r_qty_price"),
      round(partial, 6).as("r_qty_price_given_discount"),
      round(alpha, 6).as("cronbach_alpha"),
      col("g_customers"), round(col("icc1"), 6).as("icc1"))
  }

  /** Pairwise-product ICC of order totalprice within customers — the
    * correlation-form estimator
    * ICC = Σ_g Σ_{i≠j∈g}(yᵢ−μ)(yⱼ−μ) / (P·σ²), which unlike the ANOVA
    * MSB/MSW form needs NO per-group division: multiplying through by
    * N² leaves numerator N²A − 2NSB + S²C − N²Q + NS² and denominator
    * (C−N)(NQ − S²) over the exact aggregates A=Σsv², B=Σm·sv, C=Σm²
    * (per-group) and N, S=Σy, Q=Σy² (global) — EXACT DECIMAL(38)
    * integers end to end (~10³² here; HUGEINT on the oracle side),
    * with one double division at the end. */
  private def iccSums(s: SparkSession, d: String): DataFrame = {
    val d38 = DecimalType(38, 0)
    val per = Tables.orders(s, d)
      .select(col("o_custkey").as("c"),
        (dec(col("o_totalprice")) * 100).cast("long").as("v"))
      .groupBy("c").agg(count(lit(1)).as("m"), sum(col("v")).as("sv"),
        sum((col("v").cast(d38) * col("v")).cast(d38)).as("qv"))
    per.agg(count(lit(1)).as("g"), sum(col("m")).as("nn"),
      sum(col("sv")).as("st"), sum(col("qv")).cast(d38).as("qt"),
      sum((col("sv").cast(d38) * col("sv")).cast(d38)).cast(d38).as("aa"),
      sum(col("m") * col("sv")).as("bb"),
      sum(col("m") * col("m")).as("cc"))
      .select(col("g").as("g_customers"), {
        val nD = col("nn").cast(d38)
        val sD = col("st").cast(d38)
        val num = (nD * nD * col("aa") -
          lit(2).cast(d38) * nD * sD * col("bb") +
          sD * sD * col("cc") -
          nD * nD * col("qt") + nD * sD * sD).cast(d38)
        val den = ((col("cc").cast(d38) - nD) *
          (nD * col("qt") - sD * sD)).cast(d38)
        (num.cast("double") / den.cast("double")).as("icc1")
      })
  }

  val scaleDiagnosticsSql: String = {
    val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    def s0(c: String) = s"CAST(s_$c AS DOUBLE)"
    def cov(a: String, b: String): String = {
      val sp = if (cols.indexOf(a) < cols.indexOf(b)) s"sp_${a}_$b"
        else s"sp_${b}_$a"
      s"(CAST($sp AS DOUBLE) * nd - ${s0(a)} * ${s0(b)})"
    }
    def vr(a: String) = s"(CAST(ss_$a AS DOUBLE) * nd - ${s0(a)} * ${s0(a)})"
    def r(a: String, b: String) =
      s"(${cov(a, b)} / sqrt(${vr(a)} * ${vr(b)}))"
    val rqp = r("l_quantity", "l_extendedprice")
    val rqd = r("l_quantity", "l_discount")
    val rpd = r("l_extendedprice", "l_discount")
    val sumVar = cols.map(vr).mkString(" + ")
    val sumCov = cols.combinations(2).toSeq
      .map { case Seq(a, b) => cov(a, b) }.mkString(" + ")
    val sumSel = (cols.flatMap(c => Seq(
      s"sum(CAST($c AS DECIMAL(18,2))) AS s_$c",
      s"sum(CAST(CAST($c AS DECIMAL(18,2)) * CAST($c AS DECIMAL(18,2))" +
        s" AS DECIMAL(38,6))) AS ss_$c")) ++
      cols.combinations(2).toSeq.map { case Seq(a, b) =>
        s"sum(CAST(CAST($a AS DECIMAL(18,2)) * CAST($b AS DECIMAL(18,2))" +
          s" AS DECIMAL(38,6))) AS sp_${a}_$b"
      }).mkString(",\n      |    ")
    s"""WITH sums AS (
       |  SELECT count(*) AS n,
       |    $sumSel
       |  FROM lineitem),
       |nd_t AS (SELECT *, CAST(n AS DOUBLE) AS nd FROM sums),
       |per AS (
       |  SELECT o_custkey AS c, count(*) AS m,
       |    CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
       |      AS BIGINT)) AS BIGINT) AS sv,
       |    sum(CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
       |      AS BIGINT) AS HUGEINT)
       |      * CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
       |      AS qv
       |  FROM orders GROUP BY o_custkey),
       |icc_raw AS (
       |  SELECT count(*) AS g, CAST(sum(m) AS HUGEINT) AS nn,
       |    CAST(sum(sv) AS HUGEINT) AS st,
       |    CAST(sum(qv) AS HUGEINT) AS qt,
       |    CAST(sum(CAST(sv AS HUGEINT) * sv) AS HUGEINT) AS aa,
       |    CAST(sum(CAST(m AS HUGEINT) * sv) AS HUGEINT) AS bb,
       |    CAST(sum(CAST(m AS HUGEINT) * m) AS HUGEINT) AS cc
       |  FROM per),
       |icc AS (
       |  SELECT g AS g_customers,
       |    CAST(nn * nn * aa - 2 * nn * st * bb + st * st * cc
       |      - nn * nn * qt + nn * st * st AS DOUBLE)
       |    / CAST((cc - nn) * (nn * qt - st * st) AS DOUBLE) AS icc1
       |  FROM icc_raw)
       |SELECT n AS n_rows,
       |  round($rqp, 6) AS r_qty_price,
       |  round(($rqp - $rqd * $rpd)
       |    / sqrt((1.0 - $rqd * $rqd) * (1.0 - $rpd * $rpd)), 6)
       |    AS r_qty_price_given_discount,
       |  round(${cols.length}.0 / ${cols.length - 1}
       |    * (1.0 - ($sumVar) / (($sumVar) + 2.0 * ($sumCov))), 6)
       |    AS cronbach_alpha,
       |  g_customers, round(icc1, 6) AS icc1
       |FROM nd_t CROSS JOIN icc""".stripMargin
  }

  /** PRICE INDEX NUMBERS — Laspeyres, Paasche, and Fisher monthly
    * indices of the part catalog against the first shipping month: the
    * economic-index operator behind every "inflation-adjusted revenue"
    * dashboard. Per (part, month) the representative quote is the MIN
    * observed unit price (deterministic, an actual quoted price — the
    * [[percentileDiscByStatus]] exactness doctrine applied to price
    * relatives); the basket is the parts MATCHED between base and
    * report months; Laspeyres weights by base-month quantities, Paasche
    * by report-month, Fisher is their geometric mean.
    *
    * Exactness: quotes and quantities are exact longs, so all four
    * Σ price·qty sums are exact; each index is one pinned division
    * (Fisher adds one sqrt of their product). Scale: one
    * (part, month) aggregate over facts (map-side combinable), one
    * broadcast of the base-month frame, O(months) output. */
  def priceIndices(s: SparkSession, d: String): DataFrame = {
    val pm = Tables.lineitem(s, d)
      .select(col("l_partkey").as("pk"),
        date_trunc("month", col("l_shipdate")).cast("date").as("m"),
        (dec(col("l_extendedprice")) * 100).cast("long").as("pc"),
        col("l_quantity").cast("long").as("q"))
      .groupBy("pk", "m")
      .agg(min(col("pc")).as("quote"), sum(col("q")).as("qty"))
      .pin()
    val base = pm.agg(min(col("m")).as("m0"))
    val baseQ = pm.join(broadcast(base), col("m") === col("m0"))
      .select(col("pk"), col("quote").as("quote0"), col("qty").as("qty0"))
    val matched = pm.join(broadcast(baseQ), Seq("pk"))
    matched.groupBy("m").agg(
      count(lit(1)).as("n_matched"),
      sum(col("quote") * col("qty0")).as("l_num"),
      sum(col("quote0") * col("qty0")).as("l_den"),
      sum(col("quote") * col("qty")).as("p_num"),
      sum(col("quote0") * col("qty")).as("p_den"))
      .select(col("m").as("month"), col("n_matched"),
        round(col("l_num").cast("double") / col("l_den").cast("double"), 6)
          .as("laspeyres"),
        round(col("p_num").cast("double") / col("p_den").cast("double"), 6)
          .as("paasche"),
        round(sqrt((col("l_num").cast("double") /
          col("l_den").cast("double")) *
          (col("p_num").cast("double") / col("p_den").cast("double"))), 6)
          .as("fisher"))
  }

  val priceIndicesSql: String =
    """WITH pm AS (
      |  SELECT l_partkey AS pk,
      |    CAST(date_trunc('month', l_shipdate) AS DATE) AS m,
      |    CAST(min(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
      |      AS BIGINT)) AS BIGINT) AS quote,
      |    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
      |  FROM lineitem GROUP BY 1, 2),
      |base AS (SELECT min(m) AS m0 FROM pm),
      |base_q AS (
      |  SELECT pk, quote AS quote0, qty AS qty0
      |  FROM pm CROSS JOIN base WHERE m = m0),
      |matched AS (SELECT pm.* , b.quote0, b.qty0
      |  FROM pm JOIN base_q b USING (pk)),
      |sums AS (
      |  SELECT m, count(*) AS n_matched,
      |    CAST(sum(quote * qty0) AS BIGINT) AS l_num,
      |    CAST(sum(quote0 * qty0) AS BIGINT) AS l_den,
      |    CAST(sum(quote * qty) AS BIGINT) AS p_num,
      |    CAST(sum(quote0 * qty) AS BIGINT) AS p_den
      |  FROM matched GROUP BY m)
      |SELECT m AS month, n_matched,
      |  round(CAST(l_num AS DOUBLE) / CAST(l_den AS DOUBLE), 6) AS laspeyres,
      |  round(CAST(p_num AS DOUBLE) / CAST(p_den AS DOUBLE), 6) AS paasche,
      |  round(sqrt((CAST(l_num AS DOUBLE) / CAST(l_den AS DOUBLE))
      |    * (CAST(p_num AS DOUBLE) / CAST(p_den AS DOUBLE))), 6) AS fisher
      |FROM sums""".stripMargin

  /** DELETE-ONE-GROUP JACKKNIFE — cluster-robust uncertainty for a
    * grand mean: the standard error of mean order value when orders are
    * CLUSTERED by customer nation (within-cluster correlation makes the
    * iid SE a lie — the classic inference trap in any geo-clustered
    * experiment). θ₍₋g₎ recomputes the mean with nation g deleted;
    * v = (G−1)/G · Σ(θ₍₋g₎ − θ̄)² . Ships next to the naive iid SE and
    * the design effect v_jack/v_iid — the number that says how many
    * "effective" observations the clustering leaves.
    *
    * Determinism: per-nation Σcents/n are exact longs and the squared
    * sum an exact DECIMAL, so every θ₍₋g₎ is the same double on both
    * engines; the two G-term folds run in nation-key order (the
    * log-rank/ANOVA array-fold discipline). Scale: one custkey join +
    * one nation aggregate over facts; everything after is O(G) inside a
    * single row. */
  def jackknifeClusterSe(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d).select(col("o_custkey"),
      (dec(col("o_totalprice")) * 100).cast("long").as("cents"))
    val cust = Tables.customer(s, d)
      .select(col("c_custkey").as("o_custkey"), col("c_nationkey").as("nk"))
    val byNation = o.join(cust, Seq("o_custkey"))
      .groupBy("nk")
      .agg(sum(col("cents")).as("sg"), count(lit(1)).as("ng"),
        sum((col("cents").cast(DecimalType(38, 0)) * col("cents"))
          .cast(DecimalType(38, 0))).as("qg"))
    val packed = byNation.agg(
      sum(col("sg")).as("stot"), sum(col("ng")).as("ntot"),
      sum(col("qg")).as("qtot"), count(lit(1)).as("gq"),
      sort_array(collect_list(struct(col("nk"), col("sg"), col("ng"))))
        .as("a"))
    // degenerate-path guards (single-customer / empty-orders edge
    // sweep), each mirroring DuckDB's NULL algebra exactly:
    //  - a SINGLE cluster makes every leave-one-out mean 0/0 (the term
    //    guard inside the lambda — only reachable at gq = 1, so the
    //    all-NULL fold equals list_sum's NULL);
    //  - an EMPTY census folds to the 0.0 init here but list_sum(NULL)
    //    is NULL there (the size(a) = 0 guard);
    //  - gq = 0 / ntot = 1 / s2 = 0 zero the v_jack, s2, and
    //    design-effect divisors (NULL on DuckDB's x/0, ANSI error here)
    val folded = packed.select(col("stot"), col("ntot"), col("qtot"),
      col("gq"),
      expr("""CASE WHEN size(a) = 0 THEN CAST(NULL AS DOUBLE) ELSE
        aggregate(a, CAST(0.0 AS DOUBLE), (acc, e) ->
        acc + (CASE WHEN ntot - e.ng = 0 THEN CAST(NULL AS DOUBLE)
          ELSE CAST(stot - e.sg AS DOUBLE) / CAST(ntot - e.ng AS DOUBLE)
          END)) END""")
        .as("tjsum"))
    val stage2 = folded.select(col("stot"), col("ntot"), col("qtot"),
      col("gq"), (col("tjsum") / col("gq").cast("double")).as("tbar"))
      .crossJoin(broadcast(packed.select(col("a"))))
      .select(col("stot"), col("ntot"), col("qtot"), col("gq"), col("tbar"),
        expr("""CASE WHEN size(a) = 0 THEN CAST(NULL AS DOUBLE) ELSE
          aggregate(a, CAST(0.0 AS DOUBLE), (acc, e) ->
          acc + (CASE WHEN ntot - e.ng = 0 THEN CAST(NULL AS DOUBLE)
            ELSE (CAST(stot - e.sg AS DOUBLE)
              / CAST(ntot - e.ng AS DOUBLE)
            - tbar) * (CAST(stot - e.sg AS DOUBLE)
            / CAST(ntot - e.ng AS DOUBLE) - tbar) END)) END""").as("ssq"))
    val nd = col("ntot").cast("double")
    val nullD = lit(null).cast("double")
    val vJack = when(col("gq") === 0L, nullD).otherwise(
      (col("gq") - 1).cast("double") / col("gq").cast("double") *
        col("ssq"))
    val s2 = when(col("ntot") === 1L, nullD).otherwise(
      (col("qtot").cast("double") -
        col("stot").cast("double") * col("stot").cast("double") / nd) /
        (nd - 1.0))
    stage2.select(col("gq").as("g_clusters"), col("ntot").as("n_orders"),
      round(col("stot").cast("double") / nd, 6).as("theta_cents"),
      round(sqrt(s2 / nd), 6).as("se_iid_cents"),
      round(sqrt(vJack), 6).as("se_jack_cents"),
      when(s2 === 0d, nullD)
        .otherwise(round(vJack / (s2 / nd), 4)).as("design_effect"))
  }

  val jackknifeClusterSeSql: String =
    """WITH o AS (
      |  SELECT c.c_nationkey AS nk,
      |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      |  FROM orders JOIN customer c ON c.c_custkey = o_custkey),
      |by_nation AS (
      |  SELECT nk, CAST(sum(cents) AS BIGINT) AS sg, count(*) AS ng,
      |    sum(CAST(cents AS DECIMAL(38,0)) * cents) AS qg
      |  FROM o GROUP BY nk),
      |packed AS (
      |  SELECT CAST(sum(sg) AS BIGINT) AS stot,
      |    CAST(sum(ng) AS BIGINT) AS ntot,
      |    CAST(sum(qg) AS DOUBLE) AS qtot_d,
      |    count(*) AS gq,
      |    list(struct_pack(nk := nk, sg := sg, ng := ng) ORDER BY nk) AS a
      |  FROM by_nation),
      |folded AS (
      |  SELECT *, list_sum(list_transform(a, e ->
      |      CAST(stot - e.sg AS DOUBLE) / CAST(ntot - e.ng AS DOUBLE)))
      |    AS tjsum
      |  FROM packed),
      |stage2 AS (
      |  SELECT *, tjsum / CAST(gq AS DOUBLE) AS tbar FROM folded),
      |stage3 AS (
      |  SELECT stot, ntot, qtot_d, gq, tbar,
      |    list_sum(list_transform(a, e ->
      |      (CAST(stot - e.sg AS DOUBLE) / CAST(ntot - e.ng AS DOUBLE)
      |        - tbar) * (CAST(stot - e.sg AS DOUBLE)
      |        / CAST(ntot - e.ng AS DOUBLE) - tbar))) AS ssq
      |  FROM stage2),
      |fin AS (
      |  SELECT gq, ntot, stot, ssq,
      |    CAST(gq - 1 AS DOUBLE) / CAST(gq AS DOUBLE) * ssq AS v_jack,
      |    (qtot_d - CAST(stot AS DOUBLE) * CAST(stot AS DOUBLE)
      |      / CAST(ntot AS DOUBLE)) / (CAST(ntot AS DOUBLE) - 1.0) AS s2
      |  FROM stage3)
      |SELECT gq AS g_clusters, ntot AS n_orders,
      |  round(CAST(stot AS DOUBLE) / CAST(ntot AS DOUBLE), 6)
      |    AS theta_cents,
      |  round(sqrt(s2 / CAST(ntot AS DOUBLE)), 6) AS se_iid_cents,
      |  round(sqrt(v_jack), 6) AS se_jack_cents,
      |  round(v_jack / (s2 / CAST(ntot AS DOUBLE)), 4) AS design_effect
      |FROM fin""".stripMargin

  /** PINBALL (QUANTILE) LOSS BACKTEST — the proper scoring rule for
    * quantile predictions, evaluating the same train/test discipline as
    * [[conformalIntervals]] on two per-priority quantile models: the
    * train median (τ = 0.5) and the train P90 (τ = 0.9), each scored
    * with its own loss L_τ(y,q) = max(τ(y−q), (τ−1)(y−q)) on the test
    * split. The readout a forecasting pipeline uses to pick between
    * quantile models — and a correctness probe of quantile semantics
    * itself, since the true τ-quantile minimizes expected L_τ.
    *
    * EXACTNESS: predictions are discrete percentiles (actual cent
    * values); losses are scaled ×10 so both τ's become integer weights
    * (5/−5 and 9/−1) — every per-row loss and sum is an exact long;
    * the mean is one rounded division. Scale: two map-side-combinable
    * scans (train percentiles, test score), broadcast model frame. */
  def pinballBacktest(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d).select(
      col("o_orderkey").as("k"), col("o_orderpriority").as("priority"),
      (dec(col("o_totalprice")) * 100).cast("long").as("cents"))
    val model = o.filter(col("k") % 10 <= 5).groupBy("priority")
      .agg(
        expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY cents)")
          .cast("long").as("q50"),
        expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY cents)")
          .cast("long").as("q90"))
    o.filter(col("k") % 10 >= 8)
      .join(broadcast(model), Seq("priority"))
      .groupBy("priority")
      .agg(count(lit(1)).as("n_test"),
        sum(greatest(lit(5L) * (col("cents") - col("q50")),
          lit(-5L) * (col("cents") - col("q50")))).as("pin50_x10"),
        sum(greatest(lit(9L) * (col("cents") - col("q90")),
          lit(-1L) * (col("cents") - col("q90")))).as("pin90_x10"))
      .select(col("priority"), col("n_test"), col("pin50_x10"),
        col("pin90_x10"),
        round(col("pin50_x10").cast("double") / (col("n_test") * 10), 6)
          .as("mean_pinball_q50_cents"),
        round(col("pin90_x10").cast("double") / (col("n_test") * 10), 6)
          .as("mean_pinball_q90_cents"))
  }

  val pinballBacktestSql: String =
    """WITH o AS (
      |  SELECT o_orderkey AS k, o_orderpriority AS priority,
      |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      |  FROM orders),
      |model AS (
      |  SELECT priority,
      |    CAST(quantile_disc(cents, 0.5) AS BIGINT) AS q50,
      |    CAST(quantile_disc(cents, 0.9) AS BIGINT) AS q90
      |  FROM o WHERE k % 10 <= 5 GROUP BY priority)
      |SELECT priority, count(*) AS n_test,
      |  CAST(sum(greatest(5 * (cents - q50), -5 * (cents - q50)))
      |    AS BIGINT) AS pin50_x10,
      |  CAST(sum(greatest(9 * (cents - q90), -1 * (cents - q90)))
      |    AS BIGINT) AS pin90_x10,
      |  round(CAST(sum(greatest(5 * (cents - q50), -5 * (cents - q50)))
      |    AS DOUBLE) / (count(*) * 10), 6) AS mean_pinball_q50_cents,
      |  round(CAST(sum(greatest(9 * (cents - q90), -1 * (cents - q90)))
      |    AS DOUBLE) / (count(*) * 10), 6) AS mean_pinball_q90_cents
      |FROM o JOIN model USING (priority)
      |WHERE k % 10 >= 8
      |GROUP BY priority""".stripMargin

  val conformalIntervalsSql: String =
    """WITH o AS (
      |  SELECT o_orderkey AS k, o_orderpriority AS priority,
      |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      |  FROM orders),
      |med AS (
      |  SELECT priority, CAST(quantile_disc(cents, 0.5) AS BIGINT)
      |    AS med_cents
      |  FROM o WHERE k % 10 <= 5 GROUP BY priority),
      |calib AS (
      |  SELECT abs(cents - med_cents) AS r
      |  FROM o JOIN med USING (priority) WHERE k % 200 = 7),
      |qhat AS (
      |  -- coalesce: DuckDB's list() over zero rows is NULL where the
      |  -- engine's collect_list is the empty array; n_cal = 0 is the
      |  -- honest rendering on both sides (the qhat stays NULL)
      |  SELECT coalesce(len(rs), 0) AS n_cal,
      |    rs[least(CAST(ceil((coalesce(len(rs), 0) + 1) * 0.9) AS INT),
      |      coalesce(len(rs), 0))] AS qhat_cents
      |  FROM (SELECT list_sort(list(r)) AS rs FROM calib))
      |SELECT priority, n_cal, qhat_cents, count(*) AS n_test,
      |  CAST(sum(CASE WHEN abs(cents - med_cents) <= qhat_cents
      |    THEN 1 ELSE 0 END) AS BIGINT) AS covered,
      |  round(CAST(sum(CASE WHEN abs(cents - med_cents) <= qhat_cents
      |    THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS coverage
      |FROM o JOIN med USING (priority) CROSS JOIN qhat
      |WHERE k % 10 >= 8
      |GROUP BY priority, n_cal, qhat_cents""".stripMargin

  /** JONCKHEERE–TERPSTRA TEST — the ordered-alternative k-sample test:
    * does `o_totalprice` TREND across the naturally ordered
    * `o_orderpriority` levels (1-URGENT < … < 5-LOW)? Where
    * Kruskal–Wallis asks "do any groups differ", JT asks "do they
    * differ IN THE GIVEN ORDER" — strictly more powerful when a dose
    * ordering exists. JT = Σ_{i<j} U_ij; doubled (JT2 = 2·JT) so
    * half-ties stay integer; z against the no-tie null moments
    * (o_totalprice is 14 999/15 000 distinct at sf0.01 — the tie
    * correction is sub-ulp here and is documented away, as in the
    * standard large-sample treatment).
    *
    * Rendering: one value census with the 5 per-group counts packed
    * into TWO base-2²⁰ digit longs (3 + 2 digits), so the global
    * exclusive prefix counts for all 5 groups ride just TWO
    * [[Distributed.withRunningTotal]] range-partition passes — the
    * same digit-packing idiom as the shard packer, guarded by the
    * per-group < 2²⁰ cumulative bound (30 k at sf0.1; the guard long
    * overflows loudly far before the digits collide). Per value v the
    * pair mass is Σ_j t_j·(2·Σ_{i<j} cumExcl_i + Σ_{i<j} t_i) — exact
    * integers end to end; the only doubles are the final z division
    * (same exact inputs both engines).
    *
    * Scale: census is a map-side-combinable groupBy; prefixes are the
    * `_dist` operator (parallel by range, not by the 5 groups); the
    * rest is O(distinct values) arithmetic. */
  def jonckheereTerpstra(s: SparkSession, d: String): DataFrame = {
    val B = 1L << 20
    val gs = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
      "5-LOW")
    def t(i: Int) = sum(when(col("o_orderpriority") === gs(i), 1L)
      .otherwise(0L)).as(s"t${i + 1}")
    val cells = Tables.orders(s, d)
      .select(col("o_orderpriority"),
        (col("o_totalprice").cast(DecimalType(18, 2)) * 100)
          .cast("long").as("cents"))
      .groupBy("cents")
      .agg(t(0), t(1), t(2), t(3), t(4))
      .withColumn("pack_a",
        col("t1") + col("t2") * B + col("t3") * B * B)
      .withColumn("pack_b", col("t4") + col("t5") * B)
    val cum = graft.ops.Distributed.withRunningTotal(
      graft.ops.Distributed.withRunningTotal(
        cells, Seq.empty, Seq("cents"), "pack_a", "cum_a"),
      Seq.empty, Seq("cents"), "pack_b", "cum_b")
    val un = cum.select(col("*"),
      (col("cum_a") % B - col("t1")).as("x1"),
      (expr(s"cum_a div $B") % B - col("t2")).as("x2"),
      (expr(s"cum_a div ${B * B}") - col("t3")).as("x3"),
      (col("cum_b") % B - col("t4")).as("x4"))
    // per-value pair mass: group j vs the union of groups i < j
    val contrib =
      col("t2") * (lit(2L) * col("x1") + col("t1")) +
      col("t3") * (lit(2L) * (col("x1") + col("x2")) +
        col("t1") + col("t2")) +
      col("t4") * (lit(2L) * (col("x1") + col("x2") + col("x3")) +
        col("t1") + col("t2") + col("t3")) +
      col("t5") * (lit(2L) * (col("x1") + col("x2") + col("x3") +
        col("x4")) + col("t1") + col("t2") + col("t3") + col("t4"))
    val sums = un.agg(
      sum(contrib).cast("long").as("jt2"),
      sum(col("t1") + col("t2") + col("t3") + col("t4") + col("t5"))
        .cast("long").as("n"),
      sum(col("t1")).cast("long").as("n1"),
      sum(col("t2")).cast("long").as("n2"),
      sum(col("t3")).cast("long").as("n3"),
      sum(col("t4")).cast("long").as("n4"),
      sum(col("t5")).cast("long").as("n5"))
    val n = col("n")
    val sq = (c: Column) => c * c
    val sumNi2 = sq(col("n1")) + sq(col("n2")) + sq(col("n3")) +
      sq(col("n4")) + sq(col("n5"))
    // n² − Σnᵢ² = 2·Σ_{i<j}nᵢnⱼ is even; the value is < 2⁵³ so the
    // true-division double is exact and the long cast is lossless
    val e2 = ((n * n - sumNi2) / lit(2L)).cast("long")
    val var4num = n * n * (lit(2L) * n + 3L) -
      (sq(col("n1")) * (lit(2L) * col("n1") + 3L) +
       sq(col("n2")) * (lit(2L) * col("n2") + 3L) +
       sq(col("n3")) * (lit(2L) * col("n3") + 3L) +
       sq(col("n4")) * (lit(2L) * col("n4") + 3L) +
       sq(col("n5")) * (lit(2L) * col("n5") + 3L))
    // NULL guard (collapsed-dimension edge sweep): a single occupied
    // group zeroes the JT variance — NULL on DuckDB, ANSI error here
    val z = when(col("var4num") === 0L, lit(null).cast("double"))
      .otherwise((col("jt2") - col("e2")).cast("double") /
        sqrt(col("var4num").cast("double") / 18.0))
    sums.withColumn("e2", e2).withColumn("var4num", var4num)
      .select(col("n"), col("jt2"), col("e2"),
        round(z, 6).as("z_stat"),
        (abs(z) > 1.959963984540054).as("significant_95"),
        when(z > 0, lit("increasing")).otherwise(lit("decreasing"))
          .as("direction"))
  }

  val jonckheereTerpstraSql: String =
    """WITH obs AS (
      |  SELECT o_orderpriority AS g,
      |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
      |      AS cents
      |  FROM orders),
      |cells AS (
      |  SELECT cents,
      |    sum(CASE WHEN g = '1-URGENT' THEN 1 ELSE 0 END) AS t1,
      |    sum(CASE WHEN g = '2-HIGH' THEN 1 ELSE 0 END) AS t2,
      |    sum(CASE WHEN g = '3-MEDIUM' THEN 1 ELSE 0 END) AS t3,
      |    sum(CASE WHEN g = '4-NOT SPECIFIED' THEN 1 ELSE 0 END) AS t4,
      |    sum(CASE WHEN g = '5-LOW' THEN 1 ELSE 0 END) AS t5
      |  FROM obs GROUP BY 1),
      |cum AS (
      |  SELECT cents, t1, t2, t3, t4, t5,
      |    sum(t1) OVER w - t1 AS x1, sum(t2) OVER w - t2 AS x2,
      |    sum(t3) OVER w - t3 AS x3, sum(t4) OVER w - t4 AS x4
      |  FROM cells
      |  WINDOW w AS (ORDER BY cents
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      |s AS (
      |  SELECT
      |    CAST(sum(t2 * (2 * x1 + t1)
      |      + t3 * (2 * (x1 + x2) + t1 + t2)
      |      + t4 * (2 * (x1 + x2 + x3) + t1 + t2 + t3)
      |      + t5 * (2 * (x1 + x2 + x3 + x4) + t1 + t2 + t3 + t4))
      |      AS BIGINT) AS jt2,
      |    CAST(sum(t1 + t2 + t3 + t4 + t5) AS BIGINT) AS n,
      |    CAST(sum(t1) AS BIGINT) AS n1, CAST(sum(t2) AS BIGINT) AS n2,
      |    CAST(sum(t3) AS BIGINT) AS n3, CAST(sum(t4) AS BIGINT) AS n4,
      |    CAST(sum(t5) AS BIGINT) AS n5
      |  FROM cum),
      |m AS (
      |  SELECT n, jt2,
      |    (n * n - (n1*n1 + n2*n2 + n3*n3 + n4*n4 + n5*n5)) // 2 AS e2,
      |    n * n * (2 * n + 3)
      |      - (n1*n1 * (2*n1 + 3) + n2*n2 * (2*n2 + 3)
      |         + n3*n3 * (2*n3 + 3) + n4*n4 * (2*n4 + 3)
      |         + n5*n5 * (2*n5 + 3)) AS var4num
      |  FROM s)
      |SELECT n, jt2, e2,
      |  round(CAST(jt2 - e2 AS DOUBLE)
      |    / sqrt(CAST(var4num AS DOUBLE) / 18.0), 6) AS z_stat,
      |  (abs(CAST(jt2 - e2 AS DOUBLE)
      |    / sqrt(CAST(var4num AS DOUBLE) / 18.0))
      |    > 1.959963984540054) AS significant_95,
      |  CASE WHEN CAST(jt2 - e2 AS DOUBLE)
      |    / sqrt(CAST(var4num AS DOUBLE) / 18.0) > 0
      |    THEN 'increasing' ELSE 'decreasing' END AS direction
      |FROM m""".stripMargin

  /** GINI COEFFICIENT of per-customer revenue, GLOBAL and RANK-FREE —
    * the `_dist` rendering complementing [[giniBySegment]] (whose
    * per-segment `row_number` window is the accepted O(customers)
    * class but still materializes a rank per row; at extreme
    * cardinality THIS is the form that survives, exactly as
    * q_rfm → q_rfm_dist). Computed EXACTLY from the revenue-value
    * census: with
    * buckets (v, t) and exclusive prefix count c off the running total,
    * the rank-weighted sum Σ i·x₍ᵢ₎ telescopes per bucket to
    * v·(t·c + t(t+1)/2), so G = (2·Σi·x₍ᵢ₎ − (n+1)·Σx)/(n·Σx) needs no
    * per-row rank. Numerator and denominator stay exact DECIMAL(38,0)
    * to the end; ONE conversion each and one division, rounded 6dp
    * (the decimal→double 1-ulp conversion class).
    *
    * Scale: per-customer aggregate (map-side combinable), value census,
    * one range-partitioned prefix pass ([[Distributed.withRunningTotal]])
    * — no global window over raw rows. */
  def giniRevenue(s: SparkSession, d: String): DataFrame = {
    val big = DecimalType(38, 0)
    val perCust = Tables.orders(s, d)
      .groupBy(col("o_custkey"))
      .agg(sum((dec(col("o_totalprice")) * 100).cast("long")).as("v"))
    val census = perCust.groupBy(col("v")).agg(count(lit(1)).as("t"))
    val cum = Distributed.withRunningTotal(
      census, Seq.empty, Seq("v"), "t", "cumt", Some("n"))
    cum.agg(
      max(col("n")).as("n"),
      sum(col("v").cast(big) * col("t").cast(big)).as("sx"),
      sum(col("v").cast(big) *
        expr("t * (cumt - t) + (t * (t + 1)) div 2").cast(big)).as("s1"))
      .select(col("n").as("n_customers"),
        col("sx").cast("long").as("total_cents"),
        round((lit(2).cast(big) * col("s1") -
          (col("n") + 1).cast(big) * col("sx")).cast("double") /
          (col("n").cast(big) * col("sx")).cast("double"), 6).as("gini"))
  }

  lazy val giniRevenueSql: String =
    """WITH per_cust AS (
      |  SELECT o_custkey,
      |    CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
      |      AS BIGINT) AS v
      |  FROM orders GROUP BY 1),
      |census AS (SELECT v, count(*) AS t FROM per_cust GROUP BY v),
      |cum AS (
      |  SELECT v, t,
      |    CAST(sum(t) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
      |      AND CURRENT ROW) AS BIGINT) AS cumt,
      |    CAST(sum(t) OVER () AS BIGINT) AS n
      |  FROM census),
      |agg AS (
      |  SELECT max(n) AS n,
      |    sum(CAST(v AS HUGEINT) * t) AS sx,
      |    sum(CAST(v AS HUGEINT) *
      |      (t * (cumt - t) + (t * (t + 1)) // 2)) AS s1
      |  FROM cum)
      |SELECT CAST(n AS BIGINT) AS n_customers,
      |  CAST(sx AS BIGINT) AS total_cents,
      |  round(CAST(2 * s1 - (n + 1) * sx AS DOUBLE) /
      |    CAST(CAST(n AS HUGEINT) * sx AS DOUBLE), 6) AS gini
      |FROM agg""".stripMargin

  /** Robust-location pair the plain mean hides behind outliers:
    * 5% WINSORIZED MEAN (tails clamped to the 5th/95th order
    * statistics) and 5% TRIMMED MEAN (tails dropped) of order totals.
    * [[winsorizedPrices]] ships the per-row CLIP transform; this is
    * the missing ESTIMATE pair those clipped columns feed — and unlike
    * the transform's percentile() caps it never sorts raw rows. Fully
    * exact: the clip counts k = ⌊n/20⌋ per side come from
    * the one-row total; both boundary order statistics and the interior
    * mass come off the value census + running total (per bucket the
    * interior overlap is min(cumt, n−k) − max(cumt−t, k), clamped ≥ 0),
    * so each mean is ONE division of exact integers. No sort of raw
    * rows anywhere.
    *
    * Scale: census + one range-partitioned prefix pass + an O(buckets)
    * aggregate — the [[decileStats]] posture. */
  def winsorizedStats(s: SparkSession, d: String): DataFrame = {
    val big = DecimalType(38, 0)
    val census = Tables.orders(s, d)
      .select((dec(col("o_totalprice")) * 100).cast("long").as("v"))
      .groupBy("v").agg(count(lit(1)).cast("long").as("t"))
    val cum = Distributed.withRunningTotal(
      census, Seq.empty, Seq("v"), "t", "cumt", Some("n"))
      .withColumn("k", expr("n div 20"))
    cum.agg(
      max(col("n")).as("n"), max(col("k")).as("k"),
      min(when(col("cumt") >= col("k") + 1, col("v"))).as("v_lo"),
      min(when(col("cumt") >= col("n") - col("k"), col("v"))).as("v_hi"),
      sum(greatest(least(col("cumt"), col("n") - col("k")) -
        greatest(col("cumt") - col("t"), col("k")), lit(0L)).cast(big) *
        col("v").cast(big)).as("mid"))
      .select(col("n"), col("k"), col("v_lo").as("p05_cents"),
        col("v_hi").as("p95_cents"),
        round((col("mid") + col("k").cast(big) * col("v_lo").cast(big) +
          col("k").cast(big) * col("v_hi").cast(big)).cast("double") /
          col("n").cast("double"), 4).as("winsor_mean_cents"),
        round(col("mid").cast("double") /
          (col("n") - col("k") * 2).cast("double"), 4)
          .as("trimmed_mean_cents"))
  }

  lazy val winsorizedStatsSql: String =
    """WITH census AS (
      |  SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v,
      |    CAST(count(*) AS BIGINT) AS t
      |  FROM orders GROUP BY 1),
      |cum AS (
      |  SELECT v, t,
      |    CAST(sum(t) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
      |      AND CURRENT ROW) AS BIGINT) AS cumt,
      |    CAST(sum(t) OVER () AS BIGINT) AS n
      |  FROM census),
      |cum2 AS (SELECT *, n // 20 AS k FROM cum),
      |agg AS (
      |  SELECT max(n) AS n, max(k) AS k,
      |    min(CASE WHEN cumt >= k + 1 THEN v END) AS v_lo,
      |    min(CASE WHEN cumt >= n - k THEN v END) AS v_hi,
      |    sum(CAST(greatest(least(cumt, n - k) - greatest(cumt - t, k), 0)
      |      AS HUGEINT) * v) AS mid
      |  FROM cum2)
      |SELECT CAST(n AS BIGINT) AS n, CAST(k AS BIGINT) AS k,
      |  v_lo AS p05_cents, v_hi AS p95_cents,
      |  round(CAST(mid + CAST(k AS HUGEINT) * v_lo
      |    + CAST(k AS HUGEINT) * v_hi AS DOUBLE) / CAST(n AS DOUBLE), 4)
      |    AS winsor_mean_cents,
      |  round(CAST(mid AS DOUBLE) / CAST(n - 2 * k AS DOUBLE), 4)
      |    AS trimmed_mean_cents
      |FROM agg""".stripMargin


  /** Bradley–Terry MM iteration count. */
  val btIters = 20

  /** BRADLEY–TERRY STRENGTH RANKING of nations from monthly pairwise
    * revenue wins — the paired-comparison model behind Elo/TrueSkill
    * and RLHF preference aggregation: each month every nation pair
    * with unequal revenue records one "win", and the MM algorithm
    * (Hunter 2004) πᵢ ← Wᵢ / Σ_{j≠i} nᵢⱼ/(πᵢ+πⱼ) converts the exact
    * win/comparison counts into latent strengths. The update is
    * SCALE-EQUIVARIANT, so no per-round normalization is needed —
    * one normalization at the end (the [[graft.ops.Graph.pageRank]]
    * no-per-round-normalization doctrine, here in float form): both
    * engines run the IDENTICAL [[btIters]]-step fold over the same
    * dense integer matrices, so every double is the same op sequence
    * on exact inputs. Zero-comparison nations guard their division
    * (ANSI raises on double 0/0) and rank at strength 0.
    *
    * Scale: facts collapse to O(nations × months); the pair join and
    * the MM fold are O(nations²) — the model is for SMALL item sets
    * ranked by MANY comparisons (the preference-data shape); item
    * sets beyond broadcast size shard the pair matrix and turn the
    * fold into one aggregate per iteration. */
  def bradleyTerry(s: SparkSession, d: String): DataFrame = {
    val nNations = 25
    val monthly = Tables.orders(s, d)
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_nationkey").cast("int").as("nk"),
        date_trunc("month", col("o_orderdate")).cast("date").as("mon"))
      .agg(sum((dec(col("o_totalprice")) * 100).cast("long")).as("rev"))
    val wins = monthly.as("a").join(monthly.as("b"),
      col("a.mon") === col("b.mon") && col("a.nk") =!= col("b.nk") &&
        col("a.rev") > col("b.rev"))
      .groupBy(col("a.nk").as("i"), col("b.nk").as("j"))
      .agg(count(lit(1)).cast("long").as("w"))
    val cells = s.range(nNations.toLong * nNations)
      .select((col("id") / nNations).cast("int").as("i"),
        (col("id") % nNations).cast("int").as("j"), col("id"))
      .join(wins, Seq("i", "j"), "left")
      .join(wins.select(col("j").as("i"), col("i").as("j"),
        col("w").as("wj")), Seq("i", "j"), "left")
      .select(col("id"), coalesce(col("w"), lit(0L)).as("w"),
        (coalesce(col("w"), lit(0L)) + coalesce(col("wj"), lit(0L))).as("nij"))
    val packed = cells
      .agg(sort_array(collect_list(struct(col("id"), col("w"), col("nij"))))
        .as("m"))
      .select(expr("transform(m, e -> e.w)").as("wf"),
        expr("transform(m, e -> e.nij)").as("nf"))
      .select(col("nf"), expr(
        s"""transform(sequence(0, ${nNations - 1}), i ->
           |  aggregate(sequence(0, ${nNations - 1}), CAST(0 AS BIGINT),
           |    (acc, j) -> acc + wf[i * $nNations + j]))""".stripMargin)
        .as("wtot"))
    // zero-pair denominators (empty/single-customer edge sweep): a
    // nation pair with pi_i + pi_j = 0 (both strengths zeroed by the
    // no-games branch) divides 0/0 inside the MM denominator — an ANSI
    // error here where DuckDB's NULL term is simply SKIPPED by
    // list_sum, so contributing 0.0 is the exact mirror; and on an
    // all-zero strength vector the final normalizer is 0 — NULL on
    // DuckDB's x/0, matched by the explicit NULL arm
    val folded = packed.select(expr(
      s"""aggregate(sequence(1, $btIters),
         |  transform(sequence(0, ${nNations - 1}),
         |    i -> CAST(1.0 AS DOUBLE)),
         |  (pi, t) -> transform(sequence(0, ${nNations - 1}), i ->
         |    CASE WHEN aggregate(sequence(0, ${nNations - 1}),
         |        CAST(0.0 AS DOUBLE),
         |        (acc, j) -> acc + (CASE WHEN j = i OR pi[i] + pi[j] = 0.0D
         |          THEN 0.0 ELSE
         |          CAST(nf[i * $nNations + j] AS DOUBLE) / (pi[i] + pi[j])
         |          END)) = 0.0 THEN 0.0
         |      ELSE CAST(wtot[i] AS DOUBLE) /
         |        aggregate(sequence(0, ${nNations - 1}),
         |          CAST(0.0 AS DOUBLE),
         |          (acc, j) -> acc + (CASE WHEN j = i OR pi[i] + pi[j] = 0.0D
         |            THEN 0.0 ELSE
         |            CAST(nf[i * $nNations + j] AS DOUBLE) / (pi[i] + pi[j])
         |            END)) END))""".stripMargin).as("pi"),
      col("wtot"))
    folded
      .select(expr("""transform(pi, x ->
          CASE WHEN aggregate(pi, CAST(0.0 AS DOUBLE), (a, b) -> a + b)
            = 0.0D THEN CAST(NULL AS DOUBLE)
          ELSE x / aggregate(pi, CAST(0.0 AS DOUBLE), (a, b) -> a + b)
          END)""")
        .as("pin"), col("wtot"))
      .select(posexplode(col("pin")).as(Seq("nk", "p")), col("wtot"))
      .select(col("nk"), col("p"),
        expr("wtot[nk]").as("total_wins"))
      .join(broadcast(Tables.nation(s, d)),
        col("nk") === col("n_nationkey").cast("int"))
      .select(col("n_name").as("nation"), col("total_wins"),
        round(col("p"), 6).as("bt_strength"))
  }

  lazy val bradleyTerrySql: String = {
    val n = 25
    val k = btIters
    val den =
      s"""list_sum([CASE WHEN j = i THEN 0.0 ELSE
         |         CAST(nf[CAST(i * $n + j + 1 AS INT)] AS DOUBLE)
         |           / (pi[CAST(i + 1 AS INT)] + pi[CAST(j + 1 AS INT)]) END
         |       for j in range($n)])""".stripMargin
    s"""WITH RECURSIVE monthly AS (
       |  SELECT CAST(c_nationkey AS INT) AS nk,
       |    date_trunc('month', o_orderdate) AS mon,
       |    CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
       |      AS BIGINT) AS rev
       |  FROM orders JOIN customer ON o_custkey = c_custkey
       |  GROUP BY 1, 2),
       |wins AS (
       |  SELECT a.nk AS i, b.nk AS j, CAST(count(*) AS BIGINT) AS w
       |  FROM monthly a JOIN monthly b
       |    ON a.mon = b.mon AND a.nk <> b.nk AND a.rev > b.rev
       |  GROUP BY 1, 2),
       |cells AS (
       |  SELECT t.id, coalesce(w1.w, 0) AS w,
       |    coalesce(w1.w, 0) + coalesce(w2.w, 0) AS nij
       |  FROM range(0, ${n * n}) t(id)
       |  LEFT JOIN wins w1 ON w1.i = t.id // $n AND w1.j = t.id % $n
       |  LEFT JOIN wins w2 ON w2.j = t.id // $n AND w2.i = t.id % $n),
       |packed AS (
       |  SELECT list(CAST(w AS BIGINT) ORDER BY id) AS wf,
       |    list(CAST(nij AS BIGINT) ORDER BY id) AS nf
       |  FROM cells),
       |mats AS (
       |  SELECT nf,
       |    [CAST(list_sum(
       |       wf[CAST(i * $n + 1 AS INT):CAST(i * $n + $n AS INT)]) AS BIGINT)
       |      for i in range($n)] AS wtot
       |  FROM packed),
       |mm(t, pi) AS (
       |  SELECT 0, [CAST(1.0 AS DOUBLE) for i in range($n)] FROM mats
       |  UNION ALL
       |  SELECT t + 1,
       |    [CASE WHEN $den = 0.0 THEN 0.0
       |       ELSE CAST(wtot[CAST(i + 1 AS INT)] AS DOUBLE) / $den END
       |     for i in range($n)]
       |  FROM mm, mats WHERE t < $k),
       |fin AS (SELECT pi FROM mm WHERE t = $k),
       |norm AS (
       |  SELECT [x / list_sum(pi) for x in pi] AS pin,
       |    (SELECT wtot FROM mats) AS wtot
       |  FROM fin)
       |SELECT n_name AS nation,
       |  CAST(wtot[CAST(n_nationkey + 1 AS INT)] AS BIGINT) AS total_wins,
       |  round(pin[CAST(n_nationkey + 1 AS INT)], 6) AS bt_strength
       |FROM nation, norm""".stripMargin
  }

  /** Newton iteration count for [[logisticRegression]]. */
  val logitIters = 8

  /** LOGISTIC REGRESSION BY NEWTON–RAPHSON (IRLS) over the
    * SUFFICIENT-STATISTICS CENSUS — the canonical "ML training as a
    * query" rendering: P(returnflag = 'R') ~ discount + quantity.
    * With two bounded integer features the data collapses to a
    * (discount-pct × quantity) cell census (≤ ~550 cells: cnt, pos),
    * and each Newton step needs only the 9 census moments
    * (g ∈ ℝ³, symmetric H ∈ ℝ³ˣ³): β ← β + H⁻¹g with the 3×3 inverse
    * in closed adjugate form. This is how large-scale GLM fitting
    * actually distributes — one map-side-combinable census shuffle,
    * then O(cells) arithmetic per step, NO per-row iteration.
    *
    * Determinism: both engines run the IDENTICAL [[logitIters]]-step
    * fold over the same cell-sorted integer census — every moment sum
    * folds in cell order, the solve is one pinned expression, and
    * Newton's attracting fixed point damps any exp()-ulp skew before
    * the 6-dp rounding. Deviance, null deviance, and McFadden's R²
    * ship alongside (the fit-quality readout); the per-iteration
    * moment binding uses the fold-over-singleton idiom so the 9 sums
    * evaluate once per step.
    *
    * Scale: the census is O(cells) after a combinable groupBy; at
    * 100 TB the only shuffle is 550 rows wide. Features beyond
    * census cardinality graduate to per-partition partial (XᵀWX, XᵀWz)
    * aggregation — same algebra, d×d partials instead of cells. */
  def logisticRegression(s: SparkSession, d: String): DataFrame = {
    val k = logitIters
    val cells = Tables.lineitem(s, d)
      .select((dec(col("l_discount")) * 100).cast("long").as("x1"),
        col("l_quantity").cast("long").as("x2"),
        when(col("l_returnflag") === "R", 1L).otherwise(0L).as("y"))
      .groupBy("x1", "x2")
      .agg(count(lit(1)).cast("long").as("cnt"),
        sum(col("y")).cast("long").as("pos"))
    // EXACT-INTEGER degenerate-design flag (collapsed-dimension edge
    // sweep): a constant covariate makes the design singular, but the
    // float det only hits EXACT zero on one engine (fold-order ulps) —
    // the integer covariate variances agree bit-for-bit on both, so
    // they carry the NULL decision
    val bigD = DecimalType(38, 0)
    def dI(c: Column) = c.cast(bigD)
    val packed = cells.agg(
      count(lit(1)).cast("long").as("n_cells"),
      sum(col("cnt")).cast("long").as("n"),
      sum(col("pos")).cast("long").as("npos"),
      ((sum(dI(col("cnt"))) * sum(dI(col("cnt")) * col("x1") * col("x1")) -
        sum(dI(col("cnt")) * col("x1")) * sum(dI(col("cnt")) * col("x1")))
        === dI(lit(0)) ||
       (sum(dI(col("cnt"))) * sum(dI(col("cnt")) * col("x2") * col("x2")) -
        sum(dI(col("cnt")) * col("x2")) * sum(dI(col("cnt")) * col("x2")))
        === dI(lit(0))).as("degenerate"),
      sort_array(collect_list(struct(col("x1"), col("x2"), col("cnt"),
        col("pos")))).as("cells"))
    // p(c, b) with 0-based Spark subscripts; b bound per step below.
    def p(b: String) =
      s"""(1.0 / (1.0 + exp(-($b[0] + $b[1] * CAST(c.x1 AS DOUBLE)
         |  + $b[2] * CAST(c.x2 AS DOUBLE)))))""".stripMargin
    def mom(term: String, b: String) =
      s"""aggregate(cells, CAST(0.0 AS DOUBLE), (acc, c) -> acc + ($term))"""
        .replace("P", p(b))
    // s = [g0,g1,g2,h00,h01,h02,h11,h12,h22], 0-based.
    val sums = Seq(
      "(CAST(c.pos AS DOUBLE) - CAST(c.cnt AS DOUBLE) * P)",
      "(CAST(c.pos AS DOUBLE) - CAST(c.cnt AS DOUBLE) * P) * CAST(c.x1 AS DOUBLE)",
      "(CAST(c.pos AS DOUBLE) - CAST(c.cnt AS DOUBLE) * P) * CAST(c.x2 AS DOUBLE)",
      "CAST(c.cnt AS DOUBLE) * P * (1.0 - P)",
      "CAST(c.cnt AS DOUBLE) * P * (1.0 - P) * CAST(c.x1 AS DOUBLE)",
      "CAST(c.cnt AS DOUBLE) * P * (1.0 - P) * CAST(c.x2 AS DOUBLE)",
      "CAST(c.cnt AS DOUBLE) * P * (1.0 - P) * CAST(c.x1 AS DOUBLE) * CAST(c.x1 AS DOUBLE)",
      "CAST(c.cnt AS DOUBLE) * P * (1.0 - P) * CAST(c.x1 AS DOUBLE) * CAST(c.x2 AS DOUBLE)",
      "CAST(c.cnt AS DOUBLE) * P * (1.0 - P) * CAST(c.x2 AS DOUBLE) * CAST(c.x2 AS DOUBLE)")
    def sumsArr(b: String) =
      sums.map(t => mom(t, b)).mkString("array(", ",\n", ")")
    // adjugate solve of the symmetric 3x3; det repeated textually so the
    // op sequence is pinned on both engines.
    val det = """(s[3] * (s[6] * s[8] - s[7] * s[7])
      - s[4] * (s[4] * s[8] - s[7] * s[5])
      + s[5] * (s[4] * s[7] - s[6] * s[5]))"""
    val d0 = s"""((s[6] * s[8] - s[7] * s[7]) * s[0]
      + (s[5] * s[7] - s[4] * s[8]) * s[1]
      + (s[4] * s[7] - s[5] * s[6]) * s[2]) / $det"""
    val d1 = s"""((s[5] * s[7] - s[4] * s[8]) * s[0]
      + (s[3] * s[8] - s[5] * s[5]) * s[1]
      + (s[4] * s[5] - s[3] * s[7]) * s[2]) / $det"""
    val d2 = s"""((s[4] * s[7] - s[5] * s[6]) * s[0]
      + (s[4] * s[5] - s[3] * s[7]) * s[1]
      + (s[3] * s[6] - s[4] * s[4]) * s[2]) / $det"""
    // degenerate-design guards (collapsed-dimension edge sweep): a
    // CONSTANT covariate makes the Hessian singular (det = 0 — NULL on
    // DuckDB, ANSI error here), and a one-class outcome needs the
    // textbook 0·ln(0) = 0 deviance convention in BOTH engines (DuckDB
    // otherwise ERRORS on ln(0))
    val fitted = packed.select(col("n_cells"), col("n"), col("npos"),
      col("cells"), col("degenerate"),
      when(col("degenerate"),
        array(lit(null).cast("double"), lit(null).cast("double"),
          lit(null).cast("double")))
        .otherwise(expr(
          s"""aggregate(sequence(1, $k),
             |  array(CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE),
             |        CAST(0.0 AS DOUBLE)),
             |  (b, t) -> aggregate(array(${sumsArr("b")}), b,
             |    (bb, s) -> CASE WHEN $det = 0.0D
             |      THEN array(CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
             |        CAST(NULL AS DOUBLE))
             |      ELSE array(bb[0] + $d0, bb[1] + $d1, bb[2] + $d2) END))"""
            .stripMargin)).as("b"))
    fitted.select(col("n_cells"), col("n"), col("npos"), col("b"),
      // empty census (empty-orders edge sweep): the deviance fold's
      // 0.0 init must not surface — DuckDB's list_sum over the empty
      // cell list is NULL
      when(col("n_cells") === 0L, lit(null).cast("double")).otherwise(
        expr(s"""-2.0 * ${mom(
          """(CASE WHEN c.pos = 0 THEN 0.0
               ELSE CAST(c.pos AS DOUBLE) * ln(P) END)
            + (CASE WHEN c.cnt = c.pos THEN 0.0
               ELSE (CAST(c.cnt AS DOUBLE) - CAST(c.pos AS DOUBLE))
                 * ln(1.0 - P) END)""",
          "b")}""")).as("dev"),
      (lit(-2.0) * (
        when(col("npos") === 0L, lit(0.0))
          .otherwise(col("npos").cast("double") *
            log(col("npos").cast("double") / col("n").cast("double"))) +
        when(col("n") === col("npos"), lit(0.0))
          .otherwise((col("n") - col("npos")).cast("double") *
            log((col("n") - col("npos")).cast("double") /
              col("n").cast("double"))))).as("dev0"))
      .select(col("n").as("n_rows"), col("npos").as("n_pos"),
        col("n_cells"),
        round(expr("b[0]"), 6).as("beta_intercept"),
        round(expr("b[1]"), 6).as("beta_discount_pct"),
        round(expr("b[2]"), 6).as("beta_quantity"),
        // signed-zero pin: a one-class corpus has zero deviance, and
        // -2.0 * 0.0 is IEEE -0.0 — rendered differently across engines
        when(round(col("dev"), 4) === 0d, lit(0d))
          .otherwise(round(col("dev"), 4)).as("deviance"),
        when(round(col("dev0"), 4) === 0d, lit(0d))
          .otherwise(round(col("dev0"), 4)).as("null_deviance"),
        when(col("dev0") === 0d, lit(null).cast("double"))
          .otherwise(round(lit(1.0) - col("dev") / col("dev0"), 6))
          .as("mcfadden_r2"))
  }

  lazy val logisticRegressionSql: String = {
    val k = logitIters
    def p(b: String) =
      s"""(1.0 / (1.0 + exp(-($b[1] + $b[2] * CAST(c.x1 AS DOUBLE)
         |  + $b[3] * CAST(c.x2 AS DOUBLE)))))""".stripMargin
    def mom(term: String, b: String) =
      s"""list_sum(list_transform(cells, c -> ($term)))"""
        .replace("P", p(b))
    val sums = Seq(
      "(CAST(c.pos AS DOUBLE) - CAST(c.cnt AS DOUBLE) * P)",
      "(CAST(c.pos AS DOUBLE) - CAST(c.cnt AS DOUBLE) * P) * CAST(c.x1 AS DOUBLE)",
      "(CAST(c.pos AS DOUBLE) - CAST(c.cnt AS DOUBLE) * P) * CAST(c.x2 AS DOUBLE)",
      "CAST(c.cnt AS DOUBLE) * P * (1.0 - P)",
      "CAST(c.cnt AS DOUBLE) * P * (1.0 - P) * CAST(c.x1 AS DOUBLE)",
      "CAST(c.cnt AS DOUBLE) * P * (1.0 - P) * CAST(c.x2 AS DOUBLE)",
      "CAST(c.cnt AS DOUBLE) * P * (1.0 - P) * CAST(c.x1 AS DOUBLE) * CAST(c.x1 AS DOUBLE)",
      "CAST(c.cnt AS DOUBLE) * P * (1.0 - P) * CAST(c.x1 AS DOUBLE) * CAST(c.x2 AS DOUBLE)",
      "CAST(c.cnt AS DOUBLE) * P * (1.0 - P) * CAST(c.x2 AS DOUBLE) * CAST(c.x2 AS DOUBLE)")
    def sumsArr(b: String) =
      sums.map(t => mom(t, b)).mkString("[", ",\n", "]")
    val det = """(s[4] * (s[7] * s[9] - s[8] * s[8])
      - s[5] * (s[5] * s[9] - s[8] * s[6])
      + s[6] * (s[5] * s[8] - s[7] * s[6]))"""
    val d0 = s"""((s[7] * s[9] - s[8] * s[8]) * s[1]
      + (s[6] * s[8] - s[5] * s[9]) * s[2]
      + (s[5] * s[8] - s[6] * s[7]) * s[3]) / $det"""
    val d1 = s"""((s[6] * s[8] - s[5] * s[9]) * s[1]
      + (s[4] * s[9] - s[6] * s[6]) * s[2]
      + (s[5] * s[6] - s[4] * s[8]) * s[3]) / $det"""
    val d2 = s"""((s[5] * s[8] - s[6] * s[7]) * s[1]
      + (s[5] * s[6] - s[4] * s[8]) * s[2]
      + (s[4] * s[7] - s[5] * s[5]) * s[3]) / $det"""
    s"""WITH RECURSIVE cellrel AS (
       |  SELECT CAST(CAST(l_discount AS DECIMAL(18,2)) * 100 AS BIGINT) AS x1,
       |    CAST(l_quantity AS BIGINT) AS x2,
       |    CAST(count(*) AS BIGINT) AS cnt,
       |    CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
       |      AS BIGINT) AS pos
       |  FROM lineitem GROUP BY 1, 2),
       |packed AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_cells,
       |    CAST(sum(cnt) AS BIGINT) AS n, CAST(sum(pos) AS BIGINT) AS npos,
       |    (sum(CAST(cnt AS HUGEINT)) * sum(CAST(cnt AS HUGEINT) * x1 * x1)
       |       - sum(CAST(cnt AS HUGEINT) * x1) * sum(CAST(cnt AS HUGEINT) * x1)
       |       = 0
       |     OR sum(CAST(cnt AS HUGEINT)) * sum(CAST(cnt AS HUGEINT) * x2 * x2)
       |       - sum(CAST(cnt AS HUGEINT) * x2) * sum(CAST(cnt AS HUGEINT) * x2)
       |       = 0) AS degenerate,
       |    list(struct_pack(x1 := x1, x2 := x2, cnt := cnt, pos := pos)
       |      ORDER BY x1, x2, cnt, pos) AS cells
       |  FROM cellrel),
       |newton(t, b) AS (
       |  SELECT 0, [CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE),
       |    CAST(0.0 AS DOUBLE)] FROM packed
       |  UNION ALL
       |  SELECT t + 1,
       |    ([ [b[1] + $d0, b[2] + $d1, b[3] + $d2]
       |       for s in [${sumsArr("b")}] ])[1]
       |  FROM newton, packed
       |  WHERE t < $k),
       |fit AS (
       |  SELECT CASE WHEN (SELECT degenerate FROM packed)
       |    THEN [CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
       |      CAST(NULL AS DOUBLE)]
       |    ELSE b END AS b
       |  FROM newton WHERE t = $k),
       |devs AS (
       |  SELECT n_cells, n, npos, b,
       |    -2.0 * ${mom(
      """(CASE WHEN c.pos = 0 THEN 0.0
           ELSE CAST(c.pos AS DOUBLE) * ln(P) END)
        + (CASE WHEN c.cnt = c.pos THEN 0.0
           ELSE (CAST(c.cnt AS DOUBLE) - CAST(c.pos AS DOUBLE))
             * ln(1.0 - P) END)""",
      "b")} AS dev,
       |    -2.0 * ((CASE WHEN npos = 0 THEN 0.0
       |        ELSE CAST(npos AS DOUBLE)
       |          * ln(CAST(npos AS DOUBLE) / CAST(n AS DOUBLE)) END)
       |      + (CASE WHEN n = npos THEN 0.0
       |        ELSE CAST(n - npos AS DOUBLE)
       |          * ln(CAST(n - npos AS DOUBLE) / CAST(n AS DOUBLE)) END))
       |      AS dev0
       |  FROM fit, packed)
       |SELECT n AS n_rows, npos AS n_pos, n_cells,
       |  round(b[1], 6) AS beta_intercept,
       |  round(b[2], 6) AS beta_discount_pct,
       |  round(b[3], 6) AS beta_quantity,
       |  CASE WHEN round(dev, 4) = 0.0 THEN 0.0
       |    ELSE round(dev, 4) END AS deviance,
       |  CASE WHEN round(dev0, 4) = 0.0 THEN 0.0
       |    ELSE round(dev0, 4) END AS null_deviance,
       |  CASE WHEN dev0 = 0.0 THEN NULL
       |    ELSE round(1.0 - dev / dev0, 6) END AS mcfadden_r2
       |FROM devs""".stripMargin
  }

  /** Newton iteration count for [[ipwAte]]'s propensity model. */
  val ipwIters = 8

  /** The quantity census behind [[ipwAte]] and [[drAte]], in one row.
    * Each lineitem is x = its quantity, t = discount ≥ 5% and y =
    * returned. The row holds n, ntr (treated rows), ts1 and ts0 (treated
    * and control returns) and `cells`, the (x, cnt, nt, s1, s0) counts
    * per quantity sorted by x. */
  private def treatmentCensus(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .select(col("l_quantity").cast("long").as("x"),
        when(dec(col("l_discount")) * 100 >= 5, 1L).otherwise(0L).as("t"),
        when(col("l_returnflag") === "R", 1L).otherwise(0L).as("y"))
      .groupBy("x")
      .agg(count(lit(1)).cast("long").as("cnt"),
        sum(col("t")).cast("long").as("nt"),
        sum(col("t") * col("y")).cast("long").as("s1"),
        sum((lit(1L) - col("t")) * col("y")).cast("long").as("s0"))
      .agg(
        sum(col("cnt")).cast("long").as("n"),
        sum(col("nt")).cast("long").as("ntr"),
        sum(col("s1")).cast("long").as("ts1"),
        sum(col("s0")).cast("long").as("ts0"),
        sort_array(collect_list(struct(col("x"), col("cnt"), col("nt"),
          col("s1"), col("s0")))).as("cells"))

  /** SQL text of the fitted propensity e(x) = P(t = 1 | x) of census cell
    * `c` under the 2-parameter logit coefficients `b`. */
  private def propensity(b: String): String =
    s"(1.0 / (1.0 + exp(-($b[0] + $b[1] * CAST(c.x AS DOUBLE)))))"

  /** SQL text of Σ `term` over the census `cells`, each P in `term`
    * standing for [[propensity]] under `b`. */
  private def cellSum(term: String, b: String): String =
    s"""aggregate(cells, CAST(0.0 AS DOUBLE), (acc, c) -> acc + ($term))"""
      .replace("P", propensity(b))

  /** The propensity model of [[treatmentCensus]]: `k` unrolled Newton
    * steps of the logit of t on x from β = 0, the
    * [[logisticRegression]] IRLS census with a 2×2 adjugate. The fold is
    * WRAPPED in a Column-level empty-census guard (the
    * logisticRegression `degenerate` precedent) rather than relying on
    * the fold's det CASE alone: over an AQE-emptied scan the downstream
    * round(b[0]) extraction was measured to read the fold's INIT
    * elements instead of the guard's NULLs (empty-orders edge sweep) —
    * the CaseWhen wrapper is the shape that evaluates correctly, and
    * DuckDB's empty-list moments give NULL betas there. */
  private def propensityFit(k: Int): Column = {
    val sums = Seq(
      "(CAST(c.nt AS DOUBLE) - CAST(c.cnt AS DOUBLE) * P)",
      "(CAST(c.nt AS DOUBLE) - CAST(c.cnt AS DOUBLE) * P) * CAST(c.x AS DOUBLE)",
      "CAST(c.cnt AS DOUBLE) * P * (1.0 - P)",
      "CAST(c.cnt AS DOUBLE) * P * (1.0 - P) * CAST(c.x AS DOUBLE)",
      "CAST(c.cnt AS DOUBLE) * P * (1.0 - P) * CAST(c.x AS DOUBLE) * CAST(c.x AS DOUBLE)")
    val sumsArr = sums.map(t => cellSum(t, "b")).mkString("array(", ",\n", ")")
    val det = "(s[2] * s[4] - s[3] * s[3])"
    val d0 = s"(s[4] * s[0] - s[3] * s[1]) / $det"
    val d1 = s"(s[2] * s[1] - s[3] * s[0]) / $det"
    when(size(col("cells")) === 0,
      array(lit(null).cast("double"), lit(null).cast("double")))
      .otherwise(expr(
        s"""aggregate(sequence(1, $k),
           |  array(CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE)),
           |  (b, t) -> aggregate(array($sumsArr), b,
           |    (bb, s) -> CASE WHEN $det = 0.0D
           |      THEN array(CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE))
           |      ELSE array(bb[0] + $d0, bb[1] + $d1) END))"""
          .stripMargin))
  }

  /** INVERSE-PROPENSITY-WEIGHTED ATE — the model-based member of the
    * causal battery: [[q: strat_ate]] stratifies on the raw covariate,
    * [[q: cem]] coarsens and matches; IPW fits a PROPENSITY MODEL
    * e(x) = P(treated | x) (here a 2-parameter logit of
    * high-discount treatment on quantity, the [[logisticRegression]]
    * IRLS census machinery specialized to 2×2 adjugate) and reweights
    * each arm by 1/e, 1/(1−e) — the estimator that generalizes to
    * continuous/many covariates where stratification's cells empty
    * out. Both the Horvitz–Thompson and the Hájek (self-normalized)
    * forms ship, plus the naive difference for contrast.
    *
    * Honest finding: discount and quantity are independent in this
    * corpus, so the fitted propensity is near-flat and all three
    * estimates agree — the A/A-calibration shape, documented not
    * hidden; the MACHINERY (fit → weight → contrast, one census) is
    * what transfers to confounded data.
    *
    * Determinism: the ≤50-cell quantity census is exact integers; the
    * [[ipwIters]]-step Newton fold and the three weighted folds run in
    * cell-sorted order on both engines (the [[logisticRegression]]
    * discipline); outputs round 6.
    *
    * Scale: one combinable census shuffle; everything after is O(50)
    * arithmetic. */
  def ipwAte(s: SparkSession, d: String): DataFrame = {
    val fitted = treatmentCensus(s, d).select(col("n"), col("ntr"),
      col("ts1"), col("ts0"), col("cells"), propensityFit(ipwIters).as("b"))
    // one-armed-corpus guards (collapsed-dimension edge sweep): with
    // every row treated (or none), the control mean and the Hajek
    // normalizers divide by zero — NULL on DuckDB, ANSI errors here
    val nullD = lit(null).cast("double")
    val hajekDen1 = expr(cellSum("CAST(c.nt AS DOUBLE) / P", "b"))
    val hajekDen0 = expr(cellSum("CAST(c.cnt - c.nt AS DOUBLE) / (1.0 - P)", "b"))
    fitted.select(col("n"), col("ntr").as("n_treated"),
      round(expr("b[0]"), 6).as("beta0"),
      round(expr("b[1]"), 6).as("beta_quantity"),
      when(col("ntr") === 0L || col("n") === col("ntr"), nullD)
        .otherwise(round(col("ts1").cast("double") / col("ntr") -
          col("ts0").cast("double") / (col("n") - col("ntr")), 6))
        .as("naive_diff"),
      round((expr(cellSum("CAST(c.s1 AS DOUBLE) / P", "b")).cast("double") -
        expr(cellSum("CAST(c.s0 AS DOUBLE) / (1.0 - P)", "b"))) /
        col("n").cast("double"), 6).as("ate_ht"),
      when(hajekDen1 === 0d || hajekDen0 === 0d, nullD)
        .otherwise(round(expr(cellSum("CAST(c.s1 AS DOUBLE) / P", "b")) /
          hajekDen1 -
          expr(cellSum("CAST(c.s0 AS DOUBLE) / (1.0 - P)", "b")) /
          hajekDen0, 6))
        .as("ate_hajek"))
  }

  lazy val ipwAteSql: String = {
    val k = ipwIters
    def p(b: String) =
      s"(1.0 / (1.0 + exp(-($b[1] + $b[2] * CAST(c.x AS DOUBLE)))))"
    def mom(term: String, b: String) =
      s"""list_sum(list_transform(cells, c -> ($term)))"""
        .replace("P", p(b))
    val sums = Seq(
      "(CAST(c.nt AS DOUBLE) - CAST(c.cnt AS DOUBLE) * P)",
      "(CAST(c.nt AS DOUBLE) - CAST(c.cnt AS DOUBLE) * P) * CAST(c.x AS DOUBLE)",
      "CAST(c.cnt AS DOUBLE) * P * (1.0 - P)",
      "CAST(c.cnt AS DOUBLE) * P * (1.0 - P) * CAST(c.x AS DOUBLE)",
      "CAST(c.cnt AS DOUBLE) * P * (1.0 - P) * CAST(c.x AS DOUBLE) * CAST(c.x AS DOUBLE)")
    def sumsArr(b: String) =
      sums.map(t => mom(t, b)).mkString("[", ",\n", "]")
    val det = "(s[3] * s[5] - s[4] * s[4])"
    val d0 = s"(s[5] * s[1] - s[4] * s[2]) / $det"
    val d1 = s"(s[3] * s[2] - s[4] * s[1]) / $det"
    s"""WITH RECURSIVE cellrel AS (
       |  SELECT CAST(l_quantity AS BIGINT) AS x,
       |    CAST(count(*) AS BIGINT) AS cnt,
       |    CAST(sum(CASE WHEN CAST(l_discount AS DECIMAL(18,2)) * 100 >= 5
       |      THEN 1 ELSE 0 END) AS BIGINT) AS nt,
       |    CAST(sum(CASE WHEN CAST(l_discount AS DECIMAL(18,2)) * 100 >= 5
       |      AND l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS s1,
       |    CAST(sum(CASE WHEN CAST(l_discount AS DECIMAL(18,2)) * 100 < 5
       |      AND l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS s0
       |  FROM lineitem GROUP BY 1),
       |packed AS (
       |  SELECT CAST(sum(cnt) AS BIGINT) AS n,
       |    CAST(sum(nt) AS BIGINT) AS ntr,
       |    CAST(sum(s1) AS BIGINT) AS ts1,
       |    CAST(sum(s0) AS BIGINT) AS ts0,
       |    list(struct_pack(x := x, cnt := cnt, nt := nt, s1 := s1,
       |      s0 := s0) ORDER BY x) AS cells
       |  FROM cellrel),
       |newton(t, b) AS (
       |  SELECT 0, [CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE)] FROM packed
       |  UNION ALL
       |  SELECT t + 1,
       |    ([ [b[1] + $d0, b[2] + $d1]
       |       for s in [${sumsArr("b")}] ])[1]
       |  FROM newton, packed
       |  WHERE t < $k),
       |fit AS (SELECT b FROM newton WHERE t = $k)
       |SELECT n, ntr AS n_treated,
       |  round(b[1], 6) AS beta0,
       |  round(b[2], 6) AS beta_quantity,
       |  round(CAST(ts1 AS DOUBLE) / ntr
       |    - CAST(ts0 AS DOUBLE) / (n - ntr), 6) AS naive_diff,
       |  round((${mom("CAST(c.s1 AS DOUBLE) / P", "b")}
       |    - ${mom("CAST(c.s0 AS DOUBLE) / (1.0 - P)", "b")})
       |    / CAST(n AS DOUBLE), 6) AS ate_ht,
       |  round(${mom("CAST(c.s1 AS DOUBLE) / P", "b")}
       |      / ${mom("CAST(c.nt AS DOUBLE) / P", "b")}
       |    - ${mom("CAST(c.s0 AS DOUBLE) / (1.0 - P)", "b")}
       |      / ${mom("CAST(c.cnt - c.nt AS DOUBLE) / (1.0 - P)", "b")}, 6)
       |    AS ate_hajek
       |FROM fit, packed""".stripMargin
  }

  /** WELCH'S HETEROSCEDASTIC ANOVA — the k-group test that drops the
    * equal-variance assumption [[anovaValueByType]] silently makes
    * (exactly the assumption [[leveneQtyByFlag]]/[[bartlettQtyByFlag]]
    * exist to check, and the one the event-type value distributions
    * fail): groups are weighted w_g = n_g/s_g², the grand mean is the
    * weight-weighted one, and the Welch F* with its Satterthwaite-style
    * df₂ replaces the pooled-MSW F. The k-sample generalization of the
    * Welch z in [[graft.ops.Behavior.abTestRevenue]].
    *
    * Determinism: per-group (n, Σx, Σx²) are exact cents decimals from
    * ONE aggregate; s_g² enters as the single expression
    * CAST(n·sq − sx² AS DOUBLE)/(n(n−1)) — integer arithmetic up to one
    * correctly-rounded conversion; both weighted folds (ΣW, Σwm, then
    * the two centered sums) run over the event_type-SORTED group array
    * (the [[anovaValueByType]] discipline), outputs round 6/2.
    *
    * Scale: one map-side-combinable aggregate over facts → k = 5 rows →
    * one-row folds. */
  def welchAnova(s: SparkSession, d: String): DataFrame = {
    val groups = typeCentsCells(s, d)
    // the only float per group: s² as ONE decimal→double conversion
    val s2e = """(CAST(e.n * e.sq - e.sx * e.sx AS DOUBLE)
      / (CAST(e.n AS DOUBLE) * (CAST(e.n AS DOUBLE) - 1.0)))"""
    // DEGENERATE-GROUP weight (r14 randomized degenerate-corpus
    // property): a group with n = 1 has no sample variance (0/0) and a
    // zero-variance group weighs n/0 — DuckDB renders both weights
    // NULL and its list_sum SKIPS null elements (verified: list_sum
    // skips, all-NULL and empty lists sum to NULL). The Spark fold
    // would instead (a) raise under ANSI on the division and (b)
    // poison the whole sum with one NULL, so each fold coalesces the
    // guarded element to 0 and a non-degenerate counter `nw`
    // reinstates DuckDB's all-NULL -> NULL rule per fold. The graded
    // corpora have no degenerate groups, so these folds are
    // byte-identical there.
    val weN = s"""(CASE WHEN e.n <= 1
      OR CAST(e.n * e.sq - e.sx * e.sx AS DOUBLE) = 0.0
      THEN CAST(NULL AS DOUBLE) ELSE (CAST(e.n AS DOUBLE) / $s2e) END)"""
    val me = "(CAST(e.sx AS DOUBLE) / CAST(e.n AS DOUBLE))"
    val packed = groups
      .agg(packedCells("event_type"),
        count(lit(1)).cast("long").as("k"),
        sum(col("n")).cast("long").as("n_total"))
      .select(col("a"), col("k"), col("n_total"),
        expr(s"""aggregate(a, CAST(0 AS BIGINT),
          (acc, e) -> acc + (CASE WHEN $weN IS NULL THEN CAST(0 AS BIGINT)
            ELSE CAST(1 AS BIGINT) END))""").as("nw"),
        expr(s"""aggregate(a, CAST(0.0 AS DOUBLE),
          (acc, e) -> acc + coalesce($weN, 0.0D))""").as("sw_raw"),
        expr(s"""aggregate(a, CAST(0.0 AS DOUBLE),
          (acc, e) -> acc + coalesce($weN * $me, 0.0D))""").as("swm_raw"))
      .select(col("a"), col("k"), col("n_total"), col("nw"),
        when(col("nw") === 0L, lit(null).cast("double"))
          .otherwise(col("sw_raw")).as("sw"),
        when(col("nw") === 0L, lit(null).cast("double"))
          .otherwise(col("swm_raw")).as("swm"))
    val kk = col("k").cast("double")
    packed
      .select(col("k"), col("n_total"), col("sw"),
        when(col("nw") === 0L, lit(null).cast("double")).otherwise(
          expr(s"""aggregate(a, CAST(0.0 AS DOUBLE),
            (acc, e) -> acc + coalesce(
              $weN * ($me - swm / sw) * ($me - swm / sw), 0.0D))"""))
          .as("anum"),
        when(col("nw") === 0L, lit(null).cast("double")).otherwise(
          expr(s"""aggregate(a, CAST(0.0 AS DOUBLE),
            (acc, e) -> acc + coalesce(
              (1.0 - $weN / sw) * (1.0 - $weN / sw)
                / (CAST(e.n AS DOUBLE) - 1.0), 0.0D))""")).as("cterm"))
      .select(col("k"), col("n_total"),
        // cterm = 0 guard (empty-events / single-group edge sweep):
        // with no groups (folds at their 0.0 init) or one group (the
        // 1 − w/sw term is exactly 0), Welch's df2 divides by zero —
        // NULL on DuckDB, ANSI error here; f_welch mirrors the
        // oracle's NULL there too (its anum fold is NULL on DuckDB).
        // The isNull arm must come FIRST (r14 degenerate-corpus
        // property): an all-degenerate k = 1 corpus leaves cterm NULL,
        // the === 0 condition alone evaluates NULL, and the otherwise
        // branch then hits f_welch's (k−2)/(k²−1) = −1/0 — a crash on
        // two NON-null operands that no NULL propagation saves.
        when(col("cterm").isNull || col("cterm") === 0d,
            lit(null).cast("double"))
          .otherwise(round((col("anum") / (kk - 1.0)) /
            (lit(1.0) + lit(2.0) * (kk - 2.0) / (kk * kk - 1.0)
              * col("cterm")), 6)).as("f_welch"),
        when(col("cterm").isNull || col("cterm") === 0d,
            lit(null).cast("double"))
          .otherwise(round((kk * kk - 1.0) / (lit(3.0) * col("cterm")), 2))
          .as("df2"))
  }

  val welchAnovaSql: String = {
    val s2e = """(CAST(e.n * e.sq - e.sx * e.sx AS DOUBLE)
      / (CAST(e.n AS DOUBLE) * (CAST(e.n AS DOUBLE) - 1.0)))"""
    val we = s"(CAST(e.n AS DOUBLE) / $s2e)"
    val me = "(CAST(e.sx AS DOUBLE) / CAST(e.n AS DOUBLE))"
    s"""WITH g AS (
       |  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
       |    sum(CAST(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
       |      AS HUGEINT)) AS sx,
       |    sum(CAST(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
       |      AS HUGEINT) * CAST(CAST(value AS DECIMAL(18,2)) * 100
       |      AS BIGINT)) AS sq
       |  FROM events GROUP BY 1),
       |packed AS (
       |  SELECT list(struct_pack(event_type := event_type, n := n,
       |      sx := sx, sq := sq) ORDER BY event_type) AS a,
       |    CAST(count(*) AS BIGINT) AS k,
       |    CAST(sum(n) AS BIGINT) AS n_total
       |  FROM g),
       |w1 AS (
       |  SELECT a, k, n_total,
       |    list_sum(list_transform(a, e -> $we)) AS sw,
       |    list_sum(list_transform(a, e -> $we * $me)) AS swm
       |  FROM packed),
       |w2 AS (
       |  SELECT k, n_total, sw,
       |    list_sum(list_transform(a,
       |      e -> $we * ($me - swm / sw) * ($me - swm / sw))) AS anum,
       |    list_sum(list_transform(a,
       |      e -> (1.0 - $we / sw) * (1.0 - $we / sw)
       |        / (CAST(e.n AS DOUBLE) - 1.0))) AS cterm
       |  FROM w1)
       |SELECT k, n_total,
       |  round((anum / (CAST(k AS DOUBLE) - 1.0)) /
       |    (1.0 + 2.0 * (CAST(k AS DOUBLE) - 2.0)
       |      / (CAST(k AS DOUBLE) * k - 1.0) * cterm), 6) AS f_welch,
       |  round((CAST(k AS DOUBLE) * k - 1.0) / (3.0 * cterm), 2) AS df2
       |FROM w2""".stripMargin
  }

  /** GAMES–HOWELL POST-HOC PAIRS — [[tukeyHsdPairs]] for the unequal-
    * variance world [[welchAnova]] lives in: after Welch's F rejects,
    * WHICH pairs differ, without the pooled-MSW assumption? Per pair
    * q = |x̄ᵢ−x̄ⱼ| / √((sᵢ²/nᵢ + sⱼ²/nⱼ)/2) with the pair's own
    * Welch–Satterthwaite df — the standard follow-up whenever Levene/
    * Bartlett reject. Statistic + df reported (the [[tukeyHsdPairs]]
    * convention: the studentized-range quantile lookup stays with the
    * caller).
    *
    * Determinism: same census as [[welchAnova]] (exact cents moments);
    * the k(k−1)/2 pairs expand INSIDE one scalar-aggregate row via the
    * array-combination idiom (no self-join, lint-provable); each s² is
    * one decimal→double conversion; outputs round 6/2.
    *
    * Scale: one combinable census over facts → O(k²) arithmetic. */
  def gamesHowellPairs(s: SparkSession, d: String): DataFrame = {
    val packed = typeCentsCells(s, d).agg(packedCells("event_type"))
    // per-side variance-over-n as one textual macro (va = s_a²/n_a)
    def von(p: String) =
      s"""(CAST(p.n$p * p.sq$p - p.sx$p * p.sx$p AS DOUBLE)
         |  / (CAST(p.n$p AS DOUBLE) * (CAST(p.n$p AS DOUBLE) - 1.0)
         |     * CAST(p.n$p AS DOUBLE)))""".stripMargin
    val va = von("a"); val vb = von("b")
    packed
      .select(explode(expr(
        """flatten(transform(a, (x, i) ->
          |  transform(slice(a, i + 2, size(a) - i - 1), y ->
          |    struct(x.event_type AS ta, x.n AS na, x.sx AS sxa,
          |      x.sq AS sqa, y.event_type AS tb, y.n AS nb,
          |      y.sx AS sxb, y.sq AS sqb))))""".stripMargin)).as("p"))
      .select(col("p.ta").as("ta"), col("p.tb").as("tb"),
        round(col("p.sxa").cast("double") / col("p.na") -
          col("p.sxb").cast("double") / col("p.nb"), 6).as("mean_diff"),
        round(abs(col("p.sxa").cast("double") / col("p.na") -
          col("p.sxb").cast("double") / col("p.nb")) /
          sqrt((expr(va) + expr(vb)) / 2.0), 6).as("q_gh"),
        round(pow(expr(va) + expr(vb), 2.0) /
          (expr(va) * expr(va) / (col("p.na").cast("double") - 1.0) +
            expr(vb) * expr(vb) / (col("p.nb").cast("double") - 1.0)), 2)
          .as("df_welch"))
      .orderBy("ta", "tb")
  }

  val gamesHowellPairsSql: String = {
    def von(p: String) =
      s"""(CAST(p.n$p * p.sq$p - p.sx$p * p.sx$p AS DOUBLE)
         |  / (CAST(p.n$p AS DOUBLE) * (CAST(p.n$p AS DOUBLE) - 1.0)
         |     * CAST(p.n$p AS DOUBLE)))""".stripMargin
    val va = von("a"); val vb = von("b")
    s"""WITH g AS (
       |  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
       |    sum(CAST(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
       |      AS HUGEINT)) AS sx,
       |    sum(CAST(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
       |      AS HUGEINT) * CAST(CAST(value AS DECIMAL(18,2)) * 100
       |      AS BIGINT)) AS sq
       |  FROM events GROUP BY 1),
       |p AS (
       |  SELECT x.event_type AS ta, x.n AS na, x.sx AS sxa, x.sq AS sqa,
       |    y.event_type AS tb, y.n AS nb, y.sx AS sxb, y.sq AS sqb
       |  FROM g x JOIN g y ON x.event_type < y.event_type)
       |SELECT ta, tb,
       |  round(CAST(sxa AS DOUBLE) / na - CAST(sxb AS DOUBLE) / nb, 6)
       |    AS mean_diff,
       |  round(abs(CAST(sxa AS DOUBLE) / na - CAST(sxb AS DOUBLE) / nb)
       |    / sqrt(($va + $vb) / 2.0), 6) AS q_gh,
       |  round(pow($va + $vb, 2.0)
       |    / ($va * $va / (CAST(na AS DOUBLE) - 1.0)
       |      + $vb * $vb / (CAST(nb AS DOUBLE) - 1.0)), 2) AS df_welch
       |FROM p ORDER BY ta, tb""".stripMargin
  }

  /** BARTLETT'S TEST of equal variances across return flags — the
    * PARAMETRIC twin of [[leveneQtyByFlag]] (Levene is robust to
    * non-normality; Bartlett is the more powerful likelihood-ratio form
    * when normality holds — shipping both is the standard practice, and
    * their disagreement is itself a normality diagnostic). χ² =
    * [(N−k)·ln S_p² − Σ(n_g−1)·ln S_g²] / C with the Bartlett
    * correction C = 1 + (Σ 1/(n_g−1) − 1/(N−k)) / (3(k−1)).
    *
    * Determinism: quantity is integer, so per-group (n, Σx, Σx²) are
    * exact; each variance is ONE decimal→double conversion
    * (CAST(n·sq − sx² AS DOUBLE), then the pinned divisions); every ln
    * rounds 12 dp before the weighted sums (the
    * [[graft.ops.Behavior.metaFixedEffect]] libm-ulp guard) and the
    * three folds run flag-sorted. 5% point of χ²(2) pinned.
    *
    * Scale: one combinable aggregate over facts → k = 3 rows. */
  def bartlettQtyByFlag(s: SparkSession, d: String): DataFrame = {
    val big = DecimalType(38, 0)
    val groups = Tables.lineitem(s, d)
      .select(col("l_returnflag"), col("l_quantity").cast("long").as("x"))
      .groupBy("l_returnflag")
      .agg(count(lit(1)).cast("long").as("n"),
        sum(col("x").cast(big)).cast(big).as("sx"),
        sum(col("x").cast(big) * col("x").cast(big)).cast(big).as("sq"))
    val s2e = """(CAST(e.n * e.sq - e.sx * e.sx AS DOUBLE)
      / (CAST(e.n AS DOUBLE) * (CAST(e.n AS DOUBLE) - 1.0)))"""
    val packed = groups
      .agg(sort_array(collect_list(struct(
        col("l_returnflag"), col("n"), col("sx"), col("sq")))).as("a"),
        count(lit(1)).cast("long").as("k"),
        sum(col("n")).cast("long").as("n_total"))
      .select(col("a"), col("k"), col("n_total"),
        // pooled variance numerator Σ(n−1)s² folded flag-sorted
        expr(s"""aggregate(a, CAST(0.0 AS DOUBLE),
          (acc, e) -> acc + (CAST(e.n AS DOUBLE) - 1.0) * $s2e)""")
          .as("pool_num"),
        expr(s"""aggregate(a, CAST(0.0 AS DOUBLE),
          (acc, e) -> acc + (CAST(e.n AS DOUBLE) - 1.0)
            * round(ln($s2e), 12))""").as("sum_ln"),
        expr("""aggregate(a, CAST(0.0 AS DOUBLE),
          (acc, e) -> acc + 1.0 / (CAST(e.n AS DOUBLE) - 1.0))""")
          .as("sum_inv"))
    val nmk = (col("n_total") - col("k")).cast("double")
    // NULL guard (collapsed-dimension edge sweep): k = 1 zeroes the
    // 3(k-1) correction denominator — NULL on DuckDB, ANSI error here
    val cfac = when(col("k") === 1L, lit(null).cast("double"))
      .otherwise(lit(1.0) + (col("sum_inv") - lit(1.0) / nmk) /
        (lit(3.0) * (col("k").cast("double") - 1.0)))
    packed.select(col("k"), col("n_total"),
      round((nmk * expr("round(ln(pool_num / " +
        "(CAST(n_total AS DOUBLE) - CAST(k AS DOUBLE))), 12)") -
        col("sum_ln")) / cfac, 4).as("chi2"),
      round(cfac, 6).as("c_factor"),
      ((nmk * expr("round(ln(pool_num / " +
        "(CAST(n_total AS DOUBLE) - CAST(k AS DOUBLE))), 12)") -
        col("sum_ln")) / cfac > lit(5.991464547107979)).as("reject_95"))
  }

  val bartlettQtyByFlagSql: String = {
    val s2e = """(CAST(e.n * e.sq - e.sx * e.sx AS DOUBLE)
      / (CAST(e.n AS DOUBLE) * (CAST(e.n AS DOUBLE) - 1.0)))"""
    s"""WITH g AS (
       |  SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
       |    sum(CAST(CAST(l_quantity AS BIGINT) AS HUGEINT)) AS sx,
       |    sum(CAST(CAST(l_quantity AS BIGINT) AS HUGEINT)
       |      * CAST(l_quantity AS BIGINT)) AS sq
       |  FROM lineitem GROUP BY 1),
       |packed AS (
       |  SELECT list(struct_pack(l_returnflag := l_returnflag, n := n,
       |      sx := sx, sq := sq) ORDER BY l_returnflag) AS a,
       |    CAST(count(*) AS BIGINT) AS k,
       |    CAST(sum(n) AS BIGINT) AS n_total
       |  FROM g),
       |folded AS (
       |  SELECT k, n_total,
       |    list_sum(list_transform(a,
       |      e -> (CAST(e.n AS DOUBLE) - 1.0) * $s2e)) AS pool_num,
       |    list_sum(list_transform(a,
       |      e -> (CAST(e.n AS DOUBLE) - 1.0)
       |        * round(ln($s2e), 12))) AS sum_ln,
       |    list_sum(list_transform(a,
       |      e -> 1.0 / (CAST(e.n AS DOUBLE) - 1.0))) AS sum_inv
       |  FROM packed),
       |st AS (
       |  SELECT k, n_total,
       |    (CAST(n_total - k AS DOUBLE)
       |      * round(ln(pool_num / (CAST(n_total AS DOUBLE)
       |          - CAST(k AS DOUBLE))), 12)
       |      - sum_ln) AS num,
       |    (1.0 + (sum_inv - 1.0 / CAST(n_total - k AS DOUBLE))
       |      / (3.0 * (CAST(k AS DOUBLE) - 1.0))) AS cfac
       |  FROM folded)
       |SELECT k, n_total,
       |  round(num / cfac, 4) AS chi2,
       |  round(cfac, 6) AS c_factor,
       |  (num / cfac > 5.991464547107979) AS reject_95
       |FROM st""".stripMargin
  }

  /** Newton iteration count for [[drAte]]'s two logit fits. */
  val drIters = 8

  /** DOUBLY-ROBUST (AIPW) ATE — the estimator that completes the causal
    * battery: [[ipwAte]] trusts the propensity model alone, a pure
    * outcome regression trusts the outcome model alone; AIPW
    * μ̂₁−μ̂₀ = (1/n)Σ[ m₁(x) − m₀(x) + t(y−m₁)/e − (1−t)(y−m₀)/(1−e) ]
    * is consistent if EITHER model is right (Robins–Rotnitzky–Zhao) —
    * the form every production causal pipeline reports next to the
    * singly-robust pair. Propensity e(x): the [[ipwAte]] 2-param logit
    * of high-discount treatment on quantity. Outcome m_t(x): a 3-param
    * logit of return on (treatment, quantity) — the
    * [[logisticRegression]] IRLS census with x₁ = t, fitted over the
    * same per-quantity census (each x-row carries BOTH treatment cells:
    * (nt, s1) and (cnt−nt, s0), so the Newton moments fold two terms
    * per cell in fixed t = 0-then-1 order).
    *
    * Honest finding: discount ⊥ quantity here, so AIPW lands on the
    * naive contrast (the A/A shape, as [[ipwAte]] documents) — the
    * double-robustness MACHINERY is what transfers.
    *
    * Determinism: one ≤50-cell exact-integer census; both Newton folds
    * and the final AIPW fold run cell-sorted; outputs round 6.
    * Scale: one combinable census shuffle, then O(50) arithmetic. */
  def drAte(s: SparkSession, d: String): DataFrame = {
    val k = drIters
    // ---- outcome fit: P(y=1 | t, x), 3-param logit; each census cell
    // contributes its t=0 cell (cnt−nt, s0) then its t=1 cell (nt, s1)
    // in that fixed order, so the moment fold is order-pinned
    def m1(b: String, tv: String) =
      s"(1.0 / (1.0 + exp(-($b[0] + $b[1] * $tv + $b[2] * CAST(c.x AS DOUBLE)))))"
    // term(cntE, posE, tv): one (cell, treatment-arm) contribution
    def momO(term: String, b: String) = {
      val t0 = term
        .replace("CNT", "CAST(c.cnt - c.nt AS DOUBLE)")
        .replace("POS", "CAST(c.s0 AS DOUBLE)")
        .replace("TV", "0.0")
        .replace("P", m1(b, "0.0"))
      val t1 = term
        .replace("CNT", "CAST(c.nt AS DOUBLE)")
        .replace("POS", "CAST(c.s1 AS DOUBLE)")
        .replace("TV", "1.0")
        .replace("P", m1(b, "1.0"))
      s"""aggregate(cells, CAST(0.0 AS DOUBLE),
         (acc, c) -> acc + ($t0) + ($t1))"""
    }
    val sumsO = Seq(
      "(POS - CNT * P)",
      "(POS - CNT * P) * TV",
      "(POS - CNT * P) * CAST(c.x AS DOUBLE)",
      "CNT * P * (1.0 - P)",
      "CNT * P * (1.0 - P) * TV",
      "CNT * P * (1.0 - P) * CAST(c.x AS DOUBLE)",
      "CNT * P * (1.0 - P) * TV * TV",
      "CNT * P * (1.0 - P) * TV * CAST(c.x AS DOUBLE)",
      "CNT * P * (1.0 - P) * CAST(c.x AS DOUBLE) * CAST(c.x AS DOUBLE)")
    def sumsArrO(b: String) =
      sumsO.map(t => momO(t, b)).mkString("array(", ",\n", ")")
    val detO = """(s[3] * (s[6] * s[8] - s[7] * s[7])
      - s[4] * (s[4] * s[8] - s[7] * s[5])
      + s[5] * (s[4] * s[7] - s[6] * s[5]))"""
    val o0 = s"""((s[6] * s[8] - s[7] * s[7]) * s[0]
      + (s[5] * s[7] - s[4] * s[8]) * s[1]
      + (s[4] * s[7] - s[5] * s[6]) * s[2]) / $detO"""
    val o1 = s"""((s[5] * s[7] - s[4] * s[8]) * s[0]
      + (s[3] * s[8] - s[5] * s[5]) * s[1]
      + (s[4] * s[5] - s[3] * s[7]) * s[2]) / $detO"""
    val o2 = s"""((s[4] * s[7] - s[5] * s[6]) * s[0]
      + (s[4] * s[5] - s[3] * s[7]) * s[1]
      + (s[3] * s[6] - s[4] * s[4]) * s[2]) / $detO"""
    // singular-design guards (collapsed-dimension edge sweep): a
    // one-armed treatment makes the outcome Hessian singular (det = 0
    // — NULL on DuckDB, ANSI error here); mirrored for both fits
    val fitted = treatmentCensus(s, d).select(col("n"), col("ntr"),
      col("cells"), propensityFit(k).as("be"),
      // exact-integer one-armed guard: with ntr = 0 or ntr = n the
      // treatment indicator is constant and the outcome design is
      // singular — decided on the INTEGER counts (identical on both
      // engines) rather than the float det, whose exact zero differs
      // by fold-order ulps (collapsed-dimension edge sweep)
      when(size(col("cells")) === 0 ||
          col("ntr") === 0L || col("ntr") === col("n"),
        array(lit(null).cast("double"), lit(null).cast("double"),
          lit(null).cast("double")))
        .otherwise(expr(
          s"""aggregate(sequence(1, $k),
             |  array(CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE),
             |        CAST(0.0 AS DOUBLE)),
             |  (b, t) -> aggregate(array(${sumsArrO("b")}), b,
             |    (bb, s) -> CASE WHEN $detO = 0.0D
             |      THEN array(CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
             |        CAST(NULL AS DOUBLE))
             |      ELSE array(bb[0] + $o0, bb[1] + $o1, bb[2] + $o2) END))"""
            .stripMargin)).as("bo"))
    // AIPW fold: cnt·(m1−m0) + (s1 − nt·m1)/e − (s0 − (cnt−nt)·m0)/(1−e)
    val mu1 = m1("bo", "1.0")
    val mu0 = m1("bo", "0.0")
    val eprop = propensity("be")
    val aipw =
      s"""aggregate(cells, CAST(0.0 AS DOUBLE), (acc, c) -> acc
         |  + CAST(c.cnt AS DOUBLE) * ($mu1 - $mu0)
         |  + (CAST(c.s1 AS DOUBLE) - CAST(c.nt AS DOUBLE) * $mu1) / $eprop
         |  - (CAST(c.s0 AS DOUBLE) - CAST(c.cnt - c.nt AS DOUBLE) * $mu0)
         |    / (1.0 - $eprop))""".stripMargin
    fitted.select(col("n"), col("ntr").as("n_treated"),
      round(expr("be[1]"), 6).as("prop_beta_qty"),
      round(expr("bo[1]"), 6).as("outcome_beta_t"),
      round(expr("bo[2]"), 6).as("outcome_beta_qty"),
      round(expr(aipw) / col("n").cast("double"), 6).as("ate_aipw"))
  }

  lazy val drAteSql: String = {
    val k = drIters
    def pe(b: String) =
      s"(1.0 / (1.0 + exp(-($b[1] + $b[2] * CAST(c.x AS DOUBLE)))))"
    def momE(term: String, b: String) =
      s"""list_sum(list_transform(cells, c -> ($term)))"""
        .replace("P", pe(b))
    val sumsE = Seq(
      "(CAST(c.nt AS DOUBLE) - CAST(c.cnt AS DOUBLE) * P)",
      "(CAST(c.nt AS DOUBLE) - CAST(c.cnt AS DOUBLE) * P) * CAST(c.x AS DOUBLE)",
      "CAST(c.cnt AS DOUBLE) * P * (1.0 - P)",
      "CAST(c.cnt AS DOUBLE) * P * (1.0 - P) * CAST(c.x AS DOUBLE)",
      "CAST(c.cnt AS DOUBLE) * P * (1.0 - P) * CAST(c.x AS DOUBLE) * CAST(c.x AS DOUBLE)")
    def sumsArrE(b: String) =
      sumsE.map(t => momE(t, b)).mkString("[", ",\n", "]")
    val detE = "(s[3] * s[5] - s[4] * s[4])"
    val d0E = s"(s[5] * s[1] - s[4] * s[2]) / $detE"
    val d1E = s"(s[3] * s[2] - s[4] * s[1]) / $detE"
    def m1(b: String, tv: String) =
      s"(1.0 / (1.0 + exp(-($b[1] + $b[2] * $tv + $b[3] * CAST(c.x AS DOUBLE)))))"
    def momO(term: String, b: String) = {
      val t0 = term
        .replace("CNT", "CAST(c.cnt - c.nt AS DOUBLE)")
        .replace("POS", "CAST(c.s0 AS DOUBLE)")
        .replace("TV", "0.0")
        .replace("P", m1(b, "0.0"))
      val t1 = term
        .replace("CNT", "CAST(c.nt AS DOUBLE)")
        .replace("POS", "CAST(c.s1 AS DOUBLE)")
        .replace("TV", "1.0")
        .replace("P", m1(b, "1.0"))
      s"""list_sum(list_transform(cells, c -> ($t0) + ($t1)))"""
    }
    val sumsO = Seq(
      "(POS - CNT * P)",
      "(POS - CNT * P) * TV",
      "(POS - CNT * P) * CAST(c.x AS DOUBLE)",
      "CNT * P * (1.0 - P)",
      "CNT * P * (1.0 - P) * TV",
      "CNT * P * (1.0 - P) * CAST(c.x AS DOUBLE)",
      "CNT * P * (1.0 - P) * TV * TV",
      "CNT * P * (1.0 - P) * TV * CAST(c.x AS DOUBLE)",
      "CNT * P * (1.0 - P) * CAST(c.x AS DOUBLE) * CAST(c.x AS DOUBLE)")
    def sumsArrO(b: String) =
      sumsO.map(t => momO(t, b)).mkString("[", ",\n", "]")
    val detO = """(s[4] * (s[7] * s[9] - s[8] * s[8])
      - s[5] * (s[5] * s[9] - s[8] * s[6])
      + s[6] * (s[5] * s[8] - s[7] * s[6]))"""
    val o0 = s"""((s[7] * s[9] - s[8] * s[8]) * s[1]
      + (s[6] * s[8] - s[5] * s[9]) * s[2]
      + (s[5] * s[8] - s[6] * s[7]) * s[3]) / $detO"""
    val o1 = s"""((s[6] * s[8] - s[5] * s[9]) * s[1]
      + (s[4] * s[9] - s[6] * s[6]) * s[2]
      + (s[5] * s[6] - s[4] * s[8]) * s[3]) / $detO"""
    val o2 = s"""((s[5] * s[8] - s[6] * s[7]) * s[1]
      + (s[5] * s[6] - s[4] * s[8]) * s[2]
      + (s[4] * s[7] - s[5] * s[5]) * s[3]) / $detO"""
    val mu1 = m1("bo", "1.0")
    val mu0 = m1("bo", "0.0")
    val eprop = pe("be")
    s"""WITH RECURSIVE cellrel AS (
       |  SELECT CAST(l_quantity AS BIGINT) AS x,
       |    CAST(count(*) AS BIGINT) AS cnt,
       |    CAST(sum(CASE WHEN CAST(l_discount AS DECIMAL(18,2)) * 100 >= 5
       |      THEN 1 ELSE 0 END) AS BIGINT) AS nt,
       |    CAST(sum(CASE WHEN CAST(l_discount AS DECIMAL(18,2)) * 100 >= 5
       |      AND l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS s1,
       |    CAST(sum(CASE WHEN CAST(l_discount AS DECIMAL(18,2)) * 100 < 5
       |      AND l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS s0
       |  FROM lineitem GROUP BY 1),
       |packed AS (
       |  SELECT CAST(sum(cnt) AS BIGINT) AS n,
       |    CAST(sum(nt) AS BIGINT) AS ntr,
       |    list(struct_pack(x := x, cnt := cnt, nt := nt, s1 := s1,
       |      s0 := s0) ORDER BY x) AS cells
       |  FROM cellrel),
       |newte(t, b) AS (
       |  SELECT 0, [CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE)] FROM packed
       |  UNION ALL
       |  SELECT t + 1,
       |    ([ [b[1] + $d0E, b[2] + $d1E]
       |       for s in [${sumsArrE("b")}] ])[1]
       |  FROM newte, packed
       |  WHERE t < $k),
       |newto(t, b) AS (
       |  SELECT 0, [CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE),
       |    CAST(0.0 AS DOUBLE)] FROM packed
       |  UNION ALL
       |  SELECT t + 1,
       |    ([ [b[1] + $o0, b[2] + $o1, b[3] + $o2]
       |       for s in [${sumsArrO("b")}] ])[1]
       |  FROM newto, packed
       |  WHERE t < $k),
       |fite AS (SELECT b AS be FROM newte WHERE t = $k),
       |fito AS (
       |  SELECT CASE WHEN (SELECT ntr = 0 OR ntr = n FROM packed)
       |    THEN [CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
       |      CAST(NULL AS DOUBLE)]
       |    ELSE b END AS bo
       |  FROM newto WHERE t = $k)
       |SELECT n, ntr AS n_treated,
       |  round(be[2], 6) AS prop_beta_qty,
       |  round(bo[2], 6) AS outcome_beta_t,
       |  round(bo[3], 6) AS outcome_beta_qty,
       |  round(list_sum(list_transform(cells, c ->
       |      CAST(c.cnt AS DOUBLE) * ($mu1 - $mu0)
       |      + (CAST(c.s1 AS DOUBLE) - CAST(c.nt AS DOUBLE) * $mu1)
       |        / $eprop
       |      - (CAST(c.s0 AS DOUBLE) - CAST(c.cnt - c.nt AS DOUBLE) * $mu0)
       |        / (1.0 - $eprop)))
       |    / CAST(n AS DOUBLE), 6) AS ate_aipw
       |FROM fite, fito, packed""".stripMargin
  }

  /** Newton iterations for [[poissonGlm]]. */
  val poissonIters = 8

  /** POISSON GLM of daily order counts on time — the COUNT-family
    * member completing the GLM pair with [[logisticRegression]]
    * (binomial/logit there, Poisson/log here): fit
    * ln μ = β₀ + β₁·t over the day census by IRLS, and report the
    * PEARSON DISPERSION X²/(n−2) alongside — the "is Poisson even
    * right?" readout (dispersion ≫ 1 says negative-binomial) that
    * every count-model pipeline checks first. β₁ is the daily growth
    * RATE (multiplicative trend), the GLM-correct version of what an
    * OLS slope on counts mangles.
    *
    * Determinism: the day census (t, y) is exact integers; β₀
    * initializes at round(ln(ȳ), 12) (one pinned transcendental —
    * from zero the log-link Newton wanders); the [[poissonIters]]-step
    * fold and the deviance/X² folds run over the day-sorted array
    * with exp on identical doubles; outputs round 6/4.
    *
    * Scale: one map-side-combinable daily aggregate → one-row folds
    * (the accepted O(days) class). */
  def poissonGlm(s: SparkSession, d: String): DataFrame = {
    val k = poissonIters
    val daily = Tables.orders(s, d)
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(count(lit(1)).cast("long").as("y"))
    val bounds = daily.agg(min(col("day")).as("dmin"))
    val packed = daily.crossJoin(broadcast(bounds))
      .select(datediff(col("day"), col("dmin")).cast("long").as("t"),
        col("y"))
      .agg(count(lit(1)).cast("long").as("n"),
        sum(col("y")).cast("long").as("sy"),
        sort_array(collect_list(struct(col("t"), col("y")))).as("cs"))
    def mu(b: String) = s"exp($b[0] + $b[1] * CAST(c.t AS DOUBLE))"
    def mom(term: String, b: String) =
      s"""aggregate(cs, CAST(0.0 AS DOUBLE), (acc, c) -> acc + ($term))"""
        .replace("MU", mu(b))
    val sums = Seq(
      "(CAST(c.y AS DOUBLE) - MU)",
      "(CAST(c.y AS DOUBLE) - MU) * CAST(c.t AS DOUBLE)",
      "MU",
      "MU * CAST(c.t AS DOUBLE)",
      "MU * CAST(c.t AS DOUBLE) * CAST(c.t AS DOUBLE)")
    def sumsArr(b: String) =
      sums.map(t => mom(t, b)).mkString("array(", ",\n", ")")
    val det = "(s[2] * s[4] - s[3] * s[3])"
    val d0u = s"(s[4] * s[0] - s[3] * s[1]) / $det"
    val d1u = s"(s[2] * s[1] - s[3] * s[0]) / $det"
    // degenerate-series guard (empty-orders edge sweep): n = 0 zeroes
    // every moment (det = 0/0 inside the un-CASEd fold — an ANSI error
    // here, NULL on DuckDB's empty list_sum) and n = 1 makes t constant
    // with det EXACTLY 0 on both engines (t = 0, so the products are
    // exact); both shapes must render NULL betas, decided on the
    // integer count OUTSIDE the fold (the extraction-safe wrapper — see
    // ipwAte)
    val fitted = packed.select(col("n"), col("sy"), col("cs"),
      when(col("n") <= 1L,
        array(lit(null).cast("double"), lit(null).cast("double")))
        .otherwise(expr(
          s"""aggregate(sequence(1, $k),
             |  array(round(ln(CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)), 12),
             |        CAST(0.0 AS DOUBLE)),
             |  (b, t) -> aggregate(array(${sumsArr("b")}), b,
             |    (bb, s) -> array(bb[0] + $d0u, bb[1] + $d1u)))"""
            .stripMargin)).as("b"))
    // Pearson X² and deviance folds on the fitted b (y ln(y/μ) with the
    // y = 0 limit handled by the CASE — ln never sees 0)
    val x2 = mom("(CAST(c.y AS DOUBLE) - MU) * (CAST(c.y AS DOUBLE) - MU) / MU", "b")
    val dev = mom(
      """2.0 * ((CASE WHEN c.y > 0
        |  THEN CAST(c.y AS DOUBLE) * ln(CAST(c.y AS DOUBLE) / MU)
        |  ELSE 0.0 END) - (CAST(c.y AS DOUBLE) - MU))""".stripMargin, "b")
    val nullDp = lit(null).cast("double")
    fitted.select(col("n").as("n_days"), col("sy").as("n_orders"),
      round(expr("b[0]"), 6).as("beta0"),
      round(expr("b[1]"), 8).as("beta_t"),
      // empty series: the fold's 0.0 init must not surface (list_sum
      // over the empty list is NULL on the oracle side)
      when(col("n") === 0L, nullDp).otherwise(round(expr(dev), 4))
        .as("deviance"),
      // n = 2 zeroes the dispersion's n-2 divisor (NULL on DuckDB);
      // n = 0 would surface the x2 fold's init over that same divisor
      when(col("n") === 0L || col("n") === 2L, nullDp)
        .otherwise(round(expr(x2) / (col("n").cast("double") - 2.0), 4))
        .as("dispersion"))
  }

  lazy val poissonGlmSql: String = {
    val k = poissonIters
    def mu(b: String) = s"exp($b[1] + $b[2] * CAST(c.t AS DOUBLE))"
    def mom(term: String, b: String) =
      s"""list_sum(list_transform(cs, c -> ($term)))""".replace("MU", mu(b))
    val sums = Seq(
      "(CAST(c.y AS DOUBLE) - MU)",
      "(CAST(c.y AS DOUBLE) - MU) * CAST(c.t AS DOUBLE)",
      "MU",
      "MU * CAST(c.t AS DOUBLE)",
      "MU * CAST(c.t AS DOUBLE) * CAST(c.t AS DOUBLE)")
    def sumsArr(b: String) =
      sums.map(t => mom(t, b)).mkString("[", ",\n", "]")
    val det = "(s[3] * s[5] - s[4] * s[4])"
    val d0u = s"(s[5] * s[1] - s[4] * s[2]) / $det"
    val d1u = s"(s[3] * s[2] - s[4] * s[1]) / $det"
    val x2 = mom("(CAST(c.y AS DOUBLE) - MU) * (CAST(c.y AS DOUBLE) - MU) / MU", "b")
    val dev = mom(
      """2.0 * ((CASE WHEN c.y > 0
        |  THEN CAST(c.y AS DOUBLE) * ln(CAST(c.y AS DOUBLE) / MU)
        |  ELSE 0.0 END) - (CAST(c.y AS DOUBLE) - MU))""".stripMargin, "b")
    s"""WITH RECURSIVE daily AS (
       |  SELECT CAST(o_orderdate AS DATE) AS day,
       |    CAST(count(*) AS BIGINT) AS y
       |  FROM orders GROUP BY 1),
       |b0 AS (SELECT min(day) AS dmin FROM daily),
       |packed AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(y) AS BIGINT) AS sy,
       |    list(struct_pack(
       |      t := CAST(date_diff('day', b0.dmin, day) AS BIGINT), y := y)
       |      ORDER BY date_diff('day', b0.dmin, day)) AS cs
       |  FROM daily CROSS JOIN b0),
       |newton(t, b) AS (
       |  SELECT 0, [round(ln(CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)), 12),
       |    CAST(0.0 AS DOUBLE)] FROM packed
       |  UNION ALL
       |  SELECT t + 1,
       |    ([ [b[1] + $d0u, b[2] + $d1u]
       |       for s in [${sumsArr("b")}] ])[1]
       |  FROM newton, packed
       |  WHERE t < $k),
       |fit AS (SELECT b FROM newton WHERE t = $k)
       |SELECT n AS n_days, sy AS n_orders,
       |  round(b[1], 6) AS beta0,
       |  round(b[2], 8) AS beta_t,
       |  round($dev, 4) AS deviance,
       |  round(($x2) / (CAST(n AS DOUBLE) - 2.0), 4) AS dispersion
       |FROM fit, packed""".stripMargin
  }

  /** HOEFFDING'S D between discount and quantity — the nonparametric
    * dependence test that catches what [[kendallCorrelation]] and the
    * Spearman family cannot: NON-MONOTONE association (a U-shape has
    * τ ≈ ρ ≈ 0 but D > 0). D compares the joint rank CDF to the
    * product of the marginals (the rank-space analogue of distance
    * correlation), in the tie-adjusted SAS/Hollander–Wolfe census
    * form.
    *
    * Exactness: the (discount, quantity) domain is a ≤550-cell census
    * whose rank ingredients are exact integers at a fixed scale —
    * doubled midranks R2 = 2Σ_{x'<x}c + Σ_{x'=x}c + 1, quadrupled
    * bivariate ranks Q4 = 4 + 4·LL + 2·EL + 2·LE + (c−1) (L/E =
    * strictly-less/tied cell masses). Of the three Hoeffding sums only
    * ΣQQ (~16n³) stays a DECIMAL(38,0)/HUGEINT exact fold — the ~n⁵
    * ΣRRSS and ~n⁴ ΣRSQ would silently NULL decimal(38,0) past
    * n ≈ 2×10⁷ (sf ≳ 7), so they and the final n⁵-order num/den
    * products run in double, factor-by-factor left-to-right over the
    * sorted cell list in BOTH engines (bit-identical fold), rounded 8.
    * The O(cells²) dominance pass folds each
    * cell over the ONE scalar-aggregate packed row (the
    * [[graft.similarity.Similarity.clusterValidity]] lint-provable
    * shape) — bounded by the value DOMAIN, never the row count.
    *
    * Honest finding: discount ⟂ quantity here, so D ≈ 0 — the null
    * calibration of the machinery (the [[ipwAte]] A/A discipline).
    *
    * Scale: one combinable census shuffle; 550² ≈ 300k scalar ops. */
  def hoeffdingD(s: SparkSession, d: String): DataFrame = {
    val cells = Tables.lineitem(s, d)
      .groupBy((dec(col("l_discount")) * 100).cast("long").as("x"),
        col("l_quantity").cast("long").as("y"))
      .agg(count(lit(1)).cast("long").as("c"))
    val packed = cells.agg(
      sum(col("c")).cast("long").as("n"),
      count(lit(1)).cast("long").as("n_cells"),
      sort_array(collect_list(struct(col("x"), col("y"), col("c"))))
        .as("cs"))
    // per-cell doubled/quadrupled ranks from one dominance fold each
    val enrich =
      """transform(cs, k -> named_struct(
        |  'c', k.c,
        |  'r2', 1 + aggregate(cs, CAST(0 AS BIGINT), (a, j) -> a +
        |    CASE WHEN j.x < k.x THEN 2 * j.c
        |         WHEN j.x = k.x THEN j.c ELSE CAST(0 AS BIGINT) END),
        |  's2', 1 + aggregate(cs, CAST(0 AS BIGINT), (a, j) -> a +
        |    CASE WHEN j.y < k.y THEN 2 * j.c
        |         WHEN j.y = k.y THEN j.c ELSE CAST(0 AS BIGINT) END),
        |  'q4', 3 + k.c + aggregate(cs, CAST(0 AS BIGINT), (a, j) -> a +
        |    CASE WHEN j.x < k.x AND j.y < k.y THEN 4 * j.c
        |         WHEN j.x = k.x AND j.y < k.y THEN 2 * j.c
        |         WHEN j.x < k.x AND j.y = k.y THEN 2 * j.c
        |         ELSE CAST(0 AS BIGINT) END)))""".stripMargin
    val big = "DECIMAL(38,0)"
    // d1 is the only ~n³-order sum — it stays an exact integer fold
    // (16n³ < 1e38 up to n ≈ 1.8e11). d2 (~n⁵) and d3 (~n⁴) would
    // silently NULL a DECIMAL(38,0) fold past n ≈ 2×10⁷ (sf ≳ 7), so
    // they accumulate in double with factor-by-factor left-to-right
    // products — each factor is < 2⁵³ hence exact, the fold order is
    // the sorted cell list in BOTH engines, and round 8 at the end
    // swallows the ~1e-14 relative accumulation error.
    val folded = packed
      .select(col("n"), col("n_cells"), expr(enrich).as("es"))
      .select(col("n"), col("n_cells"),
        expr(s"""aggregate(es, CAST(0 AS $big), (acc, e) ->
          acc + CAST(e.c AS $big) * (e.q4 - 4) * (e.q4 - 8))""").as("d1"),
        expr("""aggregate(es, CAST(0 AS DOUBLE), (acc, e) ->
          acc + CAST(e.c AS DOUBLE) * (e.r2 - 2) * (e.r2 - 4)
            * (e.s2 - 2) * (e.s2 - 4))""").as("d2"),
        expr("""aggregate(es, CAST(0 AS DOUBLE), (acc, e) ->
          acc + CAST(e.c AS DOUBLE) * (e.r2 - 4) * (e.s2 - 4)
            * (e.q4 - 4))""").as("d3"))
    val nd = col("n").cast("double")
    val num = lit(30.0d) *
      ((nd - 2) * (nd - 3) * col("d1").cast("double") + col("d2") -
        lit(2.0d) * (nd - 2) * col("d3"))
    val den = lit(16.0d) * (nd * (nd - 1) * (nd - 2) * (nd - 3) * (nd - 4))
    folded.select(col("n").as("n_rows"), col("n_cells"),
      round(num / den, 8).as("hoeffding_d"))
  }

  val hoeffdingDSql: String = {
    val enrich =
      """list_transform(cs, k -> struct_pack(
        |  c := k.c,
        |  r2 := 1 + list_sum(list_transform(cs, j ->
        |    CASE WHEN j.x < k.x THEN 2 * j.c
        |         WHEN j.x = k.x THEN j.c ELSE CAST(0 AS BIGINT) END)),
        |  s2 := 1 + list_sum(list_transform(cs, j ->
        |    CASE WHEN j.y < k.y THEN 2 * j.c
        |         WHEN j.y = k.y THEN j.c ELSE CAST(0 AS BIGINT) END)),
        |  q4 := 3 + k.c + list_sum(list_transform(cs, j ->
        |    CASE WHEN j.x < k.x AND j.y < k.y THEN 4 * j.c
        |         WHEN j.x = k.x AND j.y < k.y THEN 2 * j.c
        |         WHEN j.x < k.x AND j.y = k.y THEN 2 * j.c
        |         ELSE CAST(0 AS BIGINT) END))))""".stripMargin
    s"""WITH cells AS (
       |  SELECT CAST(CAST(l_discount AS DECIMAL(18,2)) * 100 AS BIGINT)
       |      AS x,
       |    CAST(l_quantity AS BIGINT) AS y,
       |    CAST(count(*) AS BIGINT) AS c
       |  FROM lineitem GROUP BY 1, 2),
       |packed AS (
       |  SELECT CAST(sum(c) AS BIGINT) AS n,
       |    CAST(count(*) AS BIGINT) AS n_cells,
       |    list(struct_pack(x := x, y := y, c := c) ORDER BY x, y) AS cs
       |  FROM cells),
       |en AS (
       |  SELECT n, n_cells, $enrich AS es FROM packed),
       |folded AS (
       |  SELECT n, n_cells,
       |    list_sum(list_transform(es, e ->
       |      CAST(e.c AS HUGEINT) * (e.q4 - 4) * (e.q4 - 8))) AS d1,
       |    list_sum(list_transform(es, e ->
       |      CAST(e.c AS DOUBLE) * (e.r2 - 2) * (e.r2 - 4)
       |        * (e.s2 - 2) * (e.s2 - 4))) AS d2,
       |    list_sum(list_transform(es, e ->
       |      CAST(e.c AS DOUBLE) * (e.r2 - 4) * (e.s2 - 4)
       |        * (e.q4 - 4))) AS d3
       |  FROM en)
       |SELECT n AS n_rows, n_cells,
       |  round(30.0 * ((CAST(n AS DOUBLE) - 2) * (CAST(n AS DOUBLE) - 3)
       |      * CAST(d1 AS DOUBLE) + d2
       |      - 2.0 * (CAST(n AS DOUBLE) - 2) * d3)
       |    / (16.0 * (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1)
       |      * (CAST(n AS DOUBLE) - 2) * (CAST(n AS DOUBLE) - 3)
       |      * (CAST(n AS DOUBLE) - 4))), 8) AS hoeffding_d
       |FROM folded""".stripMargin
  }

}
