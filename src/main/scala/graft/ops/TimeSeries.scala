package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Tables
import graft.Pin.Pinned

/** Time-series join/window operators over `events` — the shapes Spark has
  * no single built-in operator for, composed from windows and range
  * predicates (SURVEY.md §2.7 "range/as-of" row).
  *
  * Scale notes: the as-of join is the union-free single-table form — one
  * user_id shuffle, state = one running value per partition row, no join
  * at all (the two-table form unions tagged streams first, same shape).
  * The interval self-join is an equi-join on user_id with the range as a
  * post-join predicate: SortMergeJoin keys stay small and AQE handles
  * per-user skew; a banded-time bucketing key would bound worst-case
  * pairs at 100 TB. */
object TimeSeries {

  /** As-of join: for every event, the timestamp and value of the same
    * user's most recent 'click' event at-or-before it (NULL until the
    * first click). The classic trades-to-quotes shape, rendered as
    * last_value(IGNORE NULLS) over an ordered per-user window. */
  def asofLatestClick(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(s, d)
      .select(col("event_id"), col("user_id"), col("ts"), col("event_type"),
        last(when(col("event_type") === "click", col("ts")), ignoreNulls = true)
          .over(w).as("asof_click_ts"),
        last(when(col("event_type") === "click", col("value")), ignoreNulls = true)
          .over(w).as("asof_click_value"))
  }

  /** The SAME as-of semantics as [[asofLatestClick]] through the custom
    * broadcast as-of PHYSICAL operator ([[graft.plans.AsofJoin]]): the
    * clicks dimension is indexed and broadcast, the fact side streams
    * through with zero shuffles — registered against the identical DuckDB
    * oracle, so the driver verifies the custom operator row-for-row
    * against the window rendering's contract. */
  def asofLatestClickBroadcast(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    graft.plans.AsofJoin.broadcastAsof(
      fact = ev.select(col("event_id"), col("user_id"), col("ts"), col("event_type")),
      dim = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("event_id"), col("value")),
      key = "user_id",
      factTime = "ts", factSeq = "event_id",
      dimTime = "ts", dimSeq = "event_id",
      payload = Seq("ts" -> "asof_click_ts", "value" -> "asof_click_value"))
  }

  /** Interval (range) self-join: ordered pairs of same-user events at
    * most 30 minutes apart — the session-stitching / correlated-burst
    * primitive. */
  def eventPairsWithin30Min(s: SparkSession, d: String): DataFrame = {
    val e = Tables.events(s, d)
    val a = e.select(col("user_id"), col("event_id").as("event_a"),
      col("ts").as("ts_a"))
    val b = e.select(col("user_id"), col("event_id").as("event_b"),
      col("ts").as("ts_b"))
    a.join(b, Seq("user_id"))
      .filter(col("ts_b") > col("ts_a") &&
        col("ts_b") <= col("ts_a") + expr("INTERVAL 30 MINUTES"))
      .select(col("user_id"), col("event_a"), col("event_b"),
        (unix_timestamp(col("ts_b")) - unix_timestamp(col("ts_a"))).as("gap_sec"))
  }

  /** The BANDED rendering of [[eventPairsWithin30Min]] — same result,
    * registered against the SAME DuckDB oracle so the driver proves the
    * two plans row-equal (the custom-vs-reference pattern of
    * q_asof_broadcast / q_deciles_dist).
    *
    * The plain form equi-joins on user_id alone and filters time
    * afterwards: per-user work is quadratic in that user's event count,
    * and one hot user owns a whole task. Here time is bucketed at the
    * window width (30 min): a pair within 30 minutes must land in the
    * same or adjacent bucket, so the LEFT side duplicates into buckets
    * [b, b+1] (bounded 2× — the window/bucket ratio, NOT data-dependent)
    * and the join key becomes (user_id, bucket). Hot users shatter
    * across time buckets, worst-case task size drops from O(k²) to
    * O(k_bucket²), and the residual time predicate removes the
    * adjacent-bucket false candidates. This is the generic recipe for
    * any bounded-range join at scale; the window form stays the
    * readability reference. */
  def eventPairsWithin30MinBanded(s: SparkSession, d: String): DataFrame = {
    val width = 1800L
    val e = Tables.events(s, d)
      .select(col("user_id"), col("event_id"), col("ts"),
        (unix_timestamp(col("ts")) / width).cast("long").as("b"))
    val a = e
      .select(col("user_id"), col("event_id").as("event_a"), col("ts").as("ts_a"),
        explode(array(col("b"), col("b") + 1)).as("jb"))
    val bSide = e.select(col("user_id"), col("event_id").as("event_b"),
      col("ts").as("ts_b"), col("b").as("jb"))
    a.join(bSide, Seq("user_id", "jb"))
      .filter(col("ts_b") > col("ts_a") &&
        col("ts_b") <= col("ts_a") + expr("INTERVAL 30 MINUTES"))
      .select(col("user_id"), col("event_a"), col("event_b"),
        (unix_timestamp(col("ts_b")) - unix_timestamp(col("ts_a"))).as("gap_sec"))
  }

  /** Trailing 30-minute RANGE-frame aggregation per user: event count and
    * exact decimal value sum in the sliding time window ending at each
    * event. RANGE (time-based), not ROWS — frame membership is defined by
    * timestamps, so ties and bursts are handled identically everywhere. */
  def trailingWindowStats(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts").cast("long"))
      .rangeBetween(-1800L, 0L)
    Tables.events(s, d)
      .select(col("event_id"), col("user_id"), col("ts"),
        count("*").over(w).as("n_trailing_30m"),
        sum(col("value").cast("decimal(18,2)")).over(w).cast("double")
          .as("value_trailing_30m"))
  }

  // ---- DuckDB oracle SQL ----------------------------------------------

  val asofLatestClickSql: String =
    """SELECT event_id, user_id, ts, event_type,
      |  last_value(CASE WHEN event_type = 'click' THEN ts END IGNORE NULLS)
      |    OVER w AS asof_click_ts,
      |  last_value(CASE WHEN event_type = 'click' THEN value END IGNORE NULLS)
      |    OVER w AS asof_click_value
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
      |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""".stripMargin

  val eventPairsWithin30MinSql: String =
    """SELECT a.user_id, a.event_id AS event_a, b.event_id AS event_b,
      |  date_diff('second', a.ts, b.ts) AS gap_sec
      |FROM events a JOIN events b ON a.user_id = b.user_id
      | AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL 30 MINUTE""".stripMargin

  val trailingWindowStatsSql: String =
    """SELECT event_id, user_id, ts,
      |  count(*) OVER w AS n_trailing_30m,
      |  CAST(sum(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS value_trailing_30m
      |FROM events
      |WINDOW w AS (PARTITION BY user_id
      |  ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
      |  RANGE BETWEEN 1800 PRECEDING AND CURRENT ROW)""".stripMargin
  // ORDER BY floor(epoch): Spark's ts.cast("long") truncates to whole
  // seconds; DuckDB's epoch() keeps fractional seconds, which would put
  // sub-second boundary events in different frames.

  /** SCD type-2 history build: collapse each customer's order-status
    * sequence into validity intervals [valid_from, valid_to), one row per
    * status CHANGE (the change-data-capture → dimension-history shape the
    * reference's delete-then-reload batch contract sidesteps entirely —
    * this is what "keep history" looks like instead).
    *
    * Change detection is lag() over (customer, date, orderkey); interval
    * close is lead() over the SURVIVING change rows — valid_to = next
    * version's valid_from, NULL for the open current version. Both
    * windows and the change filter share one hash partitioning on
    * o_custkey: a single shuffle end-to-end, any table size. Ties on
    * o_orderdate are broken by o_orderkey, so versions are total-ordered
    * and the output engine-portable. */
  def scd2StatusHistory(s: SparkSession, d: String): DataFrame = {
    val seq = Window.partitionBy("o_custkey").orderBy(col("o_orderdate"), col("o_orderkey"))
    Tables.orders(s, d)
      .select(col("o_custkey"), col("o_orderstatus"), col("o_orderdate"), col("o_orderkey"))
      .withColumn("prev_status", lag("o_orderstatus", 1).over(seq))
      .filter(col("prev_status").isNull || col("prev_status") =!= col("o_orderstatus"))
      .withColumn("version", row_number().over(seq))
      .withColumn("valid_to", lead(col("o_orderdate"), 1).over(seq))
      .select(col("o_custkey"), col("o_orderstatus").as("status"), col("version"),
        col("o_orderdate").as("valid_from"), col("valid_to"),
        col("valid_to").isNull.cast("int").as("is_current"))
  }

  val scd2StatusHistorySql: String =
    """WITH seq AS (
      |  SELECT o_custkey, o_orderstatus, o_orderdate, o_orderkey,
      |    lag(o_orderstatus) OVER (
      |      PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev_status
      |  FROM orders),
      |chg AS (
      |  SELECT * FROM seq
      |  WHERE prev_status IS NULL OR prev_status <> o_orderstatus)
      |SELECT o_custkey, o_orderstatus AS status,
      |  row_number() OVER w AS version,
      |  o_orderdate AS valid_from,
      |  lead(o_orderdate) OVER w AS valid_to,
      |  CAST(lead(o_orderdate) OVER w IS NULL AS INT) AS is_current
      |FROM chg
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)""".stripMargin

  /** Point-in-time (PIT) dimension lookup against the SCD2 history —
    * the join that makes type-2 dimensions USEFUL: each fact row picks
    * the dimension version whose validity interval [valid_from,
    * valid_to) covers the fact's timestamp, never a later version (the
    * leakage-free join feature stores call "as-of correctness"). Facts
    * here are the orders themselves against [[scd2StatusHistory]]: each
    * order resolves the status version in effect on its order date.
    *
    * Scale: the join key (o_custkey equality) drives a plain hash/SMJ
    * shuffle; the interval predicate rides as a residual filter, and
    * interval DISJOINTNESS guarantees ≤ 1 match per fact — no fan-out.
    * Version history is typically dwarfed by the fact table, so Catalyst
    * may broadcast it; either plan never shuffles more than the fact
    * side once. Contrast the window rendering of as-of joins
    * ([[asofLatestClick]]): against a materialized SCD2 dimension the
    * PIT join needs NO sort of the fact side at all. */
  def pitStatusLookup(s: SparkSession, d: String): DataFrame = {
    val hist = scd2StatusHistory(s, d).as("h")
    Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate")).as("f")
      .join(hist,
        col("f.o_custkey") === col("h.o_custkey") &&
          col("h.valid_from") <= col("f.o_orderdate") &&
          (col("h.valid_to").isNull || col("f.o_orderdate") < col("h.valid_to")))
      .select(col("f.o_orderkey").as("o_orderkey"),
        col("f.o_custkey").as("o_custkey"),
        col("f.o_orderdate").as("o_orderdate"),
        col("h.status").as("status_at_order"),
        col("h.version").as("version"))
  }

  val pitStatusLookupSql: String =
    """WITH seq AS (
      |  SELECT o_custkey, o_orderstatus, o_orderdate, o_orderkey,
      |    lag(o_orderstatus) OVER (
      |      PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev_status
      |  FROM orders),
      |chg AS (
      |  SELECT * FROM seq
      |  WHERE prev_status IS NULL OR prev_status <> o_orderstatus),
      |hist AS (
      |  SELECT o_custkey, o_orderstatus AS status,
      |    row_number() OVER w AS version,
      |    o_orderdate AS valid_from,
      |    lead(o_orderdate) OVER w AS valid_to
      |  FROM chg
      |  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey))
      |SELECT f.o_orderkey, f.o_custkey, f.o_orderdate,
      |  h.status AS status_at_order, h.version
      |FROM orders f JOIN hist h
      |  ON f.o_custkey = h.o_custkey
      | AND h.valid_from <= f.o_orderdate
      | AND (h.valid_to IS NULL OR f.o_orderdate < h.valid_to)""".stripMargin

  /** Gap-filled daily resample: orders rolled up to one row per
    * (priority, calendar day) over the FULL date spine — absent days
    * appear with n_orders = 0 and the day's average price carried forward
    * from the last observed day (LOCF). The two canonical time-series
    * repair modes (zero-fill for flows, last-observation-carried-forward
    * for levels) in one query.
    *
    * Scale shape: the daily aggregate is a map-side-combinable groupBy
    * whose output is O(priorities × days) — tiny forever. The spine is
    * generated from a 1-row min/max aggregate (`sequence` + explode) and
    * cross-joined with the distinct priorities: pure metadata, broadcast
    * into the left join. The LOCF window partitions by priority — no
    * single-reducer stage anywhere, and the fact table is touched exactly
    * once. */
  def gapFillDailyOrders(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
      .select(col("o_orderpriority"), to_date(col("o_orderdate")).as("day"),
        col("o_totalprice"))
    // avg as exact-decimal sum over count with ONE final double division:
    // Spark's avg(DECIMAL) rounds to scale+4 while DuckDB's returns a
    // double — sum/count is the engine-portable rendering
    val daily = o.groupBy(col("o_orderpriority"), col("day"))
      .agg(count("*").as("n"),
        (sum(col("o_totalprice").cast("decimal(18,2)")).cast("double") /
          count("*")).as("avg_price"))
    val spine = o.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(explode(sequence(col("d0"), col("d1"), expr("INTERVAL 1 DAY"))).as("day"))
    val grid = spine.crossJoin(o.select(col("o_orderpriority")).distinct())
    val locf = Window.partitionBy("o_orderpriority").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(daily, Seq("o_orderpriority", "day"), "left")
      .select(col("o_orderpriority"), col("day"),
        coalesce(col("n"), lit(0L)).as("n_orders"),
        last(col("avg_price"), ignoreNulls = true).over(locf).as("avg_price_locf"))
  }

  val gapFillDailyOrdersSql: String =
    """WITH o AS (
      |  SELECT o_orderpriority, CAST(o_orderdate AS DATE) AS day, o_totalprice
      |  FROM orders),
      |daily AS (
      |  SELECT o_orderpriority, day, count(*) AS n,
      |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_price
      |  FROM o GROUP BY 1, 2),
      |spine AS (
      |  SELECT CAST(unnest(generate_series(min(day), max(day), INTERVAL 1 DAY)) AS DATE) AS day
      |  FROM o),
      |grid AS (SELECT p.o_orderpriority, s.day
      |  FROM spine s CROSS JOIN (SELECT DISTINCT o_orderpriority FROM o) p)
      |SELECT g.o_orderpriority, g.day,
      |  coalesce(d.n, 0) AS n_orders,
      |  last_value(d.avg_price IGNORE NULLS) OVER (
      |    PARTITION BY g.o_orderpriority ORDER BY g.day
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS avg_price_locf
      |FROM grid g LEFT JOIN daily d
      |  ON g.o_orderpriority = d.o_orderpriority AND g.day = d.day""".stripMargin

  /** Linear interpolation over the gap-filled daily series — the third
    * repair mode next to [[gapFillDailyOrders]]'s zero-fill and LOCF:
    * each absent day gets the straight-line value between its nearest
    * observed neighbors (NULL outside the observed range, where a line
    * is undefined). The sensor-series / metric-backfill standard.
    *
    * Both anchors come from the same per-priority window pass: LOCF
    * carries the previous observation forward, the mirrored frame
    * carries the next one backward — one partitioning, no joins beyond
    * the spine build. Determinism is the interesting part: the naive
    * `pv + (nv-pv)·w` float chain landed EXACTLY on a 4-dp rounding
    * boundary in testing (engines differ in the last ulp), so the line
    * equation is algebraically rearranged over exact integers — price
    * sums as BIGINT cents, counts, and day deltas — into ONE final
    * double division: interp = (Sp·nn·(dn−dd) + Sn·np·dd) /
    * (np·nn·dn·100). Exact numerator and denominator, bit-identical
    * everywhere, no rounding anywhere. */
  def interpolateDailyPrice(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
      .select(col("o_orderpriority"), to_date(col("o_orderdate")).as("day"),
        col("o_totalprice"))
    val daily = o.groupBy(col("o_orderpriority"), col("day"))
      .agg(count("*").as("n"),
        (sum(col("o_totalprice").cast("decimal(18,2)")) * 100).cast("long").as("cents"))
    val spine = o.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(explode(sequence(col("d0"), col("d1"), expr("INTERVAL 1 DAY"))).as("day"))
    val grid = spine.crossJoin(o.select(col("o_orderpriority")).distinct())
    val byPrio = Window.partitionBy("o_orderpriority").orderBy("day")
    val back = byPrio.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val fwd = byPrio.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val dd = datediff(col("day"), col("pd")).cast("long")
    val dn = datediff(col("nd"), col("pd")).cast("long")
    grid.join(daily, Seq("o_orderpriority", "day"), "left")
      .select(col("o_orderpriority"), col("day"), col("n"),
        last(col("cents"), ignoreNulls = true).over(back).as("sp"),
        last(col("n"), ignoreNulls = true).over(back).as("np"),
        last(when(col("n").isNotNull, col("day")), ignoreNulls = true)
          .over(back).as("pd"),
        first(col("cents"), ignoreNulls = true).over(fwd).as("sn"),
        first(col("n"), ignoreNulls = true).over(fwd).as("nn"),
        first(when(col("n").isNotNull, col("day")), ignoreNulls = true)
          .over(fwd).as("nd"))
      .select(col("o_orderpriority"), col("day"),
        // dn = 0 means the day is itself observed (both anchors are the
        // day): the line degenerates and the value is the exact average
        when(col("sp").isNotNull && col("sn").isNotNull && dn === 0L,
          col("sp").cast("double") / (col("np") * 100L).cast("double"))
          .when(col("sp").isNotNull && col("sn").isNotNull,
            (col("sp") * col("nn") * (dn - dd) + col("sn") * col("np") * dd)
              .cast("double") /
              (col("np") * col("nn") * dn * 100L).cast("double"))
          .otherwise(lit(null)).as("price_interp"))
  }

  val interpolateDailyPriceSql: String =
    """WITH o AS (
      |  SELECT o_orderpriority, CAST(o_orderdate AS DATE) AS day, o_totalprice
      |  FROM orders),
      |daily AS (
      |  SELECT o_orderpriority, day, count(*) AS n,
      |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS cents
      |  FROM o GROUP BY 1, 2),
      |spine AS (
      |  SELECT CAST(unnest(generate_series(min(day), max(day), INTERVAL 1 DAY)) AS DATE) AS day
      |  FROM o),
      |grid AS (SELECT p.o_orderpriority, s.day
      |  FROM spine s CROSS JOIN (SELECT DISTINCT o_orderpriority FROM o) p),
      |anchored AS (
      |  SELECT g.o_orderpriority, g.day,
      |    last_value(d.cents IGNORE NULLS) OVER wb AS sp,
      |    last_value(d.n IGNORE NULLS) OVER wb AS np,
      |    last_value(CASE WHEN d.n IS NOT NULL THEN g.day END IGNORE NULLS)
      |      OVER wb AS pd,
      |    first_value(d.cents IGNORE NULLS) OVER wf AS sn,
      |    first_value(d.n IGNORE NULLS) OVER wf AS nn,
      |    first_value(CASE WHEN d.n IS NOT NULL THEN g.day END IGNORE NULLS)
      |      OVER wf AS nd
      |  FROM grid g LEFT JOIN daily d
      |    ON g.o_orderpriority = d.o_orderpriority AND g.day = d.day
      |  WINDOW
      |    wb AS (PARTITION BY g.o_orderpriority ORDER BY g.day
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
      |    wf AS (PARTITION BY g.o_orderpriority ORDER BY g.day
      |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
      |SELECT o_orderpriority, day,
      |  CASE
      |    WHEN sp IS NOT NULL AND sn IS NOT NULL
      |     AND date_diff('day', pd, nd) = 0 THEN
      |      CAST(sp AS DOUBLE) / CAST(np * 100 AS DOUBLE)
      |    WHEN sp IS NOT NULL AND sn IS NOT NULL THEN
      |      CAST(sp * nn * (date_diff('day', pd, nd) - date_diff('day', pd, day))
      |           + sn * np * date_diff('day', pd, day) AS DOUBLE) /
      |      CAST(np * nn * date_diff('day', pd, nd) * 100 AS DOUBLE)
      |    ELSE NULL END AS price_interp
      |FROM anchored""".stripMargin

  /** As-of join WITH TOLERANCE: each event sees the same user's most
    * recent 'click' only if it happened within the last hour — beyond
    * the tolerance the match expires to NULL (the attribution-window /
    * staleness-bounded quote-match semantics; plain as-of never forgets).
    *
    * Rendered as a trailing RANGE frame on epoch seconds [-3600, 0]: frame
    * membership is time-defined, so it IS the tolerance. "Latest click"
    * inside the frame is max over a (ts, event_id, payload) struct —
    * lexicographic max on a unique prefix, so ties in the ordering column
    * (same-second events) cannot make the result engine-dependent, unlike
    * last_value whose ROWS position is tie-arbitrary. One user_id shuffle,
    * same cost envelope as [[trailingWindowStats]] at any scale. */
  def asofClickWithTolerance(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts").cast("long"))
      .rangeBetween(-3600L, 0L)
    Tables.events(s, d)
      .select(col("event_id"), col("user_id"), col("ts"), col("event_type"),
        max(when(col("event_type") === "click",
          struct(col("ts"), col("event_id"), col("value")))).over(w).as("m"))
      .select(col("event_id"), col("user_id"), col("ts"), col("event_type"),
        col("m.ts").as("tol_click_ts"), col("m.value").as("tol_click_value"))
  }

  val asofClickWithToleranceSql: String =
    """WITH base AS (
      |  SELECT event_id, user_id, ts, event_type,
      |    max(CASE WHEN event_type = 'click'
      |        THEN struct_pack(ts := ts, eid := event_id, v := value) END) OVER (
      |      PARTITION BY user_id
      |      ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
      |      RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW) AS m
      |  FROM events)
      |SELECT event_id, user_id, ts, event_type,
      |  m.ts AS tol_click_ts, m.v AS tol_click_value
      |FROM base""".stripMargin

  /** TIME-BOUNDED FUNNEL — conversion with DEADLINES, not just order:
    * a click qualifies only if the same user viewed within the previous
    * hour, and a purchase converts only if a QUALIFIED click happened
    * within the previous 24h. The set-based funnel (q_funnel) and the
    * sequence pattern (q_seqpattern) both ignore elapsed time; this is
    * the attribution-window semantics real conversion reporting uses.
    *
    * Rendering: two chained trailing-RANGE struct-max windows over ONE
    * user partitioning (the [[asofClickWithTolerance]] pattern) — pass 1
    * marks each row's last-view-within-1h, pass 2 finds the last
    * QUALIFIED click within 24h using pass 1's column; both windows
    * share the (user, second) sort so the plan pays one exchange+sort.
    * Timestamps compare at floor-second grain (the documented tolerance
    * contract). Output: per-day click/purchase funnels in exact
    * integers. */
  def timedFunnel(s: SparkSession, d: String): DataFrame = {
    val sec = col("ts").cast("long")
    val byUser = Window.partitionBy("user_id").orderBy(sec)
    val p1 = Tables.events(s, d)
      .select(col("user_id"), col("ts"), col("event_type"),
        max(when(col("event_type") === "view", col("ts")))
          .over(byUser.rangeBetween(-3600L, 0L)).as("v_ts"))
    val p2 = p1.select(col("ts"), col("event_type"), col("v_ts"),
      max(when(col("event_type") === "click" && col("v_ts").isNotNull,
          col("ts")))
        .over(byUser.rangeBetween(-86400L, 0L)).as("qc_ts"))
    p2.groupBy(date_trunc("day", col("ts")).as("day"))
      .agg(
        sum(when(col("event_type") === "click", 1L).otherwise(0L))
          .as("n_clicks"),
        sum(when(col("event_type") === "click" && col("v_ts").isNotNull, 1L)
          .otherwise(0L)).as("n_qual_clicks"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("n_purchases"),
        sum(when(col("event_type") === "purchase" && col("qc_ts").isNotNull,
          1L).otherwise(0L)).as("n_converted"))
  }

  val timedFunnelSql: String =
    """WITH p1 AS (
      |  SELECT user_id, ts, event_type,
      |    max(CASE WHEN event_type = 'view' THEN ts END) OVER (
      |      PARTITION BY user_id
      |      ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
      |      RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW) AS v_ts
      |  FROM events),
      |p2 AS (
      |  SELECT ts, event_type, v_ts,
      |    max(CASE WHEN event_type = 'click' AND v_ts IS NOT NULL
      |        THEN ts END) OVER (
      |      PARTITION BY user_id
      |      ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
      |      RANGE BETWEEN 86400 PRECEDING AND CURRENT ROW) AS qc_ts
      |  FROM p1)
      |SELECT date_trunc('day', ts) AS day,
      |  CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_clicks,
      |  CAST(sum(CASE WHEN event_type = 'click' AND v_ts IS NOT NULL
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_qual_clicks,
      |  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_purchases,
      |  CAST(sum(CASE WHEN event_type = 'purchase' AND qc_ts IS NOT NULL
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_converted
      |FROM p2 GROUP BY date_trunc('day', ts)""".stripMargin

  /** Interval-interval OVERLAP join — the third member of the temporal
    * join family after as-of (point→latest-point) and point-in-time
    * (point→containing-interval): both sides are intervals and the match
    * predicate is `a.start < b.end AND b.start < a.end`. Here the
    * intervals are per-user daily activity spans (first→last event of
    * the day) for a fixed analysis cohort (user_id % 10 = 0), and the
    * output reports, per day, how many cohort pairs were concurrently
    * active and for how long — the shape behind concurrency billing,
    * contact tracing, and resource-contention audits.
    *
    * Scale design: the calendar DAY is the band key, so the join is an
    * equi-join on `day` with the overlap condition as a residual filter —
    * never a cross product. Work per band is quadratic in the band's
    * interval count; that is intrinsic to overlap joins (every
    * overlapping pair is output), and the production controls are the
    * same as [[eventPairsWithin30MinBanded]]: split hot bands into
    * sub-day buckets (an interval overlaps a pair's bucket iff it
    * overlaps the bucket range, duplicating each interval into the
    * buckets it spans — bounded by span/width, then dedup), or cap band
    * width. The pair stream never materializes: it flows straight into
    * the per-day aggregate (map-side combinable, 3 longs per day).
    * Overlap arithmetic is whole-second (unix_timestamp floors, matching
    * DuckDB date_diff) so sums are exact BIGINTs. */
  def intervalOverlap(s: SparkSession, d: String): DataFrame = {
    val iv = Tables.events(s, d)
      .filter(col("user_id") % 10 === 0)
      .groupBy(col("user_id"), date_trunc("day", col("ts")).as("day"))
      .agg(min("ts").as("ivs"), max("ts").as("ive"))
    val a = iv.select(col("day"), col("user_id").as("user_a"),
      col("ivs").as("s_a"), col("ive").as("e_a"))
    val b = iv.select(col("day"), col("user_id").as("user_b"),
      col("ivs").as("s_b"), col("ive").as("e_b"))
    val overlapSec = unix_timestamp(least(col("e_a"), col("e_b"))) -
      unix_timestamp(greatest(col("s_a"), col("s_b")))
    a.join(b, Seq("day"))
      .filter(col("user_a") < col("user_b") &&
        col("s_a") < col("e_b") && col("s_b") < col("e_a"))
      .groupBy("day")
      .agg(count(lit(1)).as("n_pairs"),
        sum(overlapSec).as("overlap_sec_total"),
        max(overlapSec).as("overlap_sec_max"))
  }

  /** Interval CONCURRENCY curve — the boundary-sweep rendering of "how
    * many users were active at once": each per-user daily activity span
    * becomes a +1 boundary at its start and a −1 at its end, and the
    * running sum of boundaries ordered by (time, delta) IS the
    * concurrency at every instant; per-day max + boundary count ship as
    * the audit. This is the O(n log n) companion to
    * [[intervalOverlap]]'s pairwise join: counting CONCURRENCY never
    * needs pairs, so it scales past the band-quadratic form (the sweep
    * is the right plan whenever the question is "how many", not
    * "which pairs").
    *
    * Determinism under ties: ordering by (ts, delta) processes −1
    * before +1 at the same instant — the half-open [s, e) semantic —
    * and permutations WITHIN an equal (ts, delta) class cannot change
    * the running max (equal deltas commute). Zero-length spans
    * (single-event users) are empty intervals under [s, e) and are
    * filtered out. The day partitions the window, so parallelism is by
    * calendar day — O(boundaries per day) per task. */
  def intervalConcurrency(s: SparkSession, d: String): DataFrame = {
    val iv = Tables.events(s, d)
      .groupBy(col("user_id"), date_trunc("day", col("ts")).as("day"))
      .agg(min("ts").as("ivs"), max("ts").as("ive"))
      .filter(col("ivs") < col("ive"))
    val boundaries = iv.select(col("day"), col("ivs").as("bts"), lit(1).as("delta"))
      .unionAll(iv.select(col("day"), col("ive").as("bts"), lit(-1).as("delta")))
    val w = Window.partitionBy("day").orderBy(col("bts"), col("delta"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    boundaries
      .select(col("day"), sum(col("delta")).over(w).as("running"))
      .groupBy("day")
      .agg(max(col("running")).cast("long").as("max_concurrency"),
        (count(lit(1)) / 2).cast("long").as("n_spans"))
  }

  val intervalConcurrencySql: String =
    """WITH iv AS (
      |  SELECT user_id, date_trunc('day', ts) AS day,
      |    min(ts) AS ivs, max(ts) AS ive
      |  FROM events GROUP BY user_id, date_trunc('day', ts)),
      |nonempty AS (SELECT * FROM iv WHERE ivs < ive),
      |boundaries AS (
      |  SELECT day, ivs AS bts, 1 AS delta FROM nonempty
      |  UNION ALL
      |  SELECT day, ive AS bts, -1 AS delta FROM nonempty),
      |swept AS (
      |  SELECT day, sum(delta) OVER (PARTITION BY day ORDER BY bts, delta
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running
      |  FROM boundaries)
      |SELECT day, CAST(max(running) AS BIGINT) AS max_concurrency,
      |  CAST(count(*) / 2 AS BIGINT) AS n_spans
      |FROM swept GROUP BY day""".stripMargin

  val intervalOverlapSql: String =
    """WITH iv AS (
      |  SELECT user_id, date_trunc('day', ts) AS day,
      |    min(ts) AS ivs, max(ts) AS ive
      |  FROM events WHERE user_id % 10 = 0
      |  GROUP BY user_id, date_trunc('day', ts))
      |SELECT a.day AS day, count(*) AS n_pairs,
      |  CAST(sum(date_diff('second', greatest(a.ivs, b.ivs),
      |                     least(a.ive, b.ive))) AS BIGINT)
      |    AS overlap_sec_total,
      |  CAST(max(date_diff('second', greatest(a.ivs, b.ivs),
      |                     least(a.ive, b.ive))) AS BIGINT)
      |    AS overlap_sec_max
      |FROM iv a JOIN iv b
      |  ON a.day = b.day AND a.user_id < b.user_id
      | AND a.ivs < b.ive AND b.ivs < a.ive
      |GROUP BY a.day""".stripMargin

  /** CLAMPED RUNNING BALANCE (floor at zero) — the inventory/credit
    * semantics `b_k = max(0, b_{k-1} + x_k)` that LOOKS inherently
    * recursive (and is usually written as a per-row loop or recursive
    * CTE) rendered as pure windows via the prefix identity
    * `b_k = S_k − min(0, min_{j≤k} S_j)`: a running SUM and a running
    * MIN over the same window spec, which Spark plans with ONE
    * sort+exchange reused by both frames. The induction:
    * max(0, S_{k−1} − m_{k−1} + x_k) = S_k − min(m_{k−1}, min(0, S_k))
    * = S_k − m_k. Everything in exact integer cents.
    *
    * Flows: per (supplier, ship-day), returns ('R') restock +qty,
    * shipments deplete −qty; the clamp models "can't ship stock you
    * don't hold". Output: per-supplier final/peak balance and
    * days-at-floor — the windows partition by supplier (cardinality
    * grows with data), never a tiny-domain key. */
  def clampedBalance(s: SparkSession, d: String): DataFrame = {
    val cents = (col("l_quantity").cast(DecimalType(18, 2)) * 100)
      .cast("long")
    val flows = Tables.lineitem(s, d)
      .groupBy(col("l_suppkey"), col("l_shipdate").as("day"))
      .agg(sum(when(col("l_returnflag") === "R", cents)
        .otherwise(-cents)).as("net"))
    val w = Window.partitionBy("l_suppkey").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val bal = flows
      .withColumn("s", sum(col("net")).over(w))
      .withColumn("bal",
        col("s") - least(lit(0L), min(col("s")).over(w)))
    bal.groupBy(col("l_suppkey"))
      .agg(max_by(col("bal"), col("day")).as("final_balance_cents"),
        max(col("bal")).as("peak_balance_cents"),
        sum(when(col("bal") === 0, 1L).otherwise(0L)).as("n_floor_days"),
        count(lit(1)).as("n_days"))
  }

  val clampedBalanceSql: String =
    """WITH flows AS (
      |  SELECT l_suppkey, l_shipdate AS day,
      |    sum(CASE WHEN l_returnflag = 'R'
      |        THEN CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT)
      |        ELSE -CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT)
      |        END) AS net
      |  FROM lineitem GROUP BY l_suppkey, l_shipdate),
      |sums AS (
      |  SELECT l_suppkey, day,
      |    CAST(sum(net) OVER (PARTITION BY l_suppkey ORDER BY day
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      AS s
      |  FROM flows),
      |bal AS (
      |  SELECT l_suppkey, day,
      |    s - least(0, min(s) OVER (PARTITION BY l_suppkey ORDER BY day
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS bal
      |  FROM sums)
      |SELECT l_suppkey,
      |  CAST(arg_max(bal, day) AS BIGINT) AS final_balance_cents,
      |  CAST(max(bal) AS BIGINT) AS peak_balance_cents,
      |  CAST(sum(CASE WHEN bal = 0 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_floor_days,
      |  count(*) AS n_days
      |FROM bal GROUP BY l_suppkey""".stripMargin

  /** EWMA smoothing of the per-type daily revenue series — the
    * monitoring/forecasting primitive. Rendered hash-portable by using
    * INTEGER weights: with decay 1/2 over an 8-term window, the
    * normalized EWMA equals `Σ x_{t-j}·2^(7-j) / Σ 2^(7-j)` (j over the
    * terms that exist), so the numerator is an exact
    * decimal·integer sum, the denominator an integer, and the smoothed
    * value is ONE pinned double division — the q_moments discipline
    * applied to a window. Series shorter than 8 days renormalize over
    * the available terms (weights of missing lags are excluded), which
    * is the standard "adjusted" EWMA initialization. Scale: the window
    * runs over the per-(type, day) AGGREGATE (O(types × days) rows),
    * never the raw facts — the daily groupBy is the only full shuffle,
    * and it map-side combines. */
  def ewmaDaily(s: SparkSession, d: String): DataFrame = {
    val daily = Tables.events(s, d)
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(sum(col("value").cast(DecimalType(18, 2))).as("rev"))
    val w = Window.partitionBy("event_type").orderBy("day")
    val terms = (0 to 7).map { j =>
      val x = if (j == 0) col("rev") else lag(col("rev"), j).over(w)
      val wt = 1L << (7 - j)
      (when(x.isNotNull, x * lit(wt)).otherwise(lit(null)),
        when(x.isNotNull, lit(wt)).otherwise(lit(0L)))
    }
    val num = terms.map(_._1).reduce((a, b) => coalesce(a + b, a, b))
    val den = terms.map(_._2).reduce(_ + _)
    // revenue ships as DOUBLE, not the decimal it is internally: a raw
    // DECIMAL output column renders with its full scale ("2895.00")
    // where the oracle's float renders "2895.0" — value-equal text that
    // hashes differently (the actual q_ewma r5 red, NOT row order;
    // 2-dp cents are exact in double, so the cast loses nothing)
    daily.select(col("event_type"), col("day"),
        col("rev").cast("double").as("revenue"),
        num.as("n0"), den.as("d0"))
      .select(col("event_type"), col("day"), col("revenue"),
        (col("n0").cast("double") / col("d0").cast("double")).as("ewma"))
      .orderBy("event_type", "day")
  }

  val ewmaDailySql: String = {
    val lagTerm = (j: Int) =>
      if (j == 0) "rev" else s"lag(rev, $j) OVER w"
    val num = (0 to 7).map { j =>
      s"coalesce(${lagTerm(j)} * ${1L << (7 - j)}, 0)"
    }.mkString(" + ")
    val den = (0 to 7).map { j =>
      s"CASE WHEN ${lagTerm(j)} IS NOT NULL THEN ${1L << (7 - j)} ELSE 0 END"
    }.mkString(" + ")
    s"""WITH daily AS (
       |  SELECT event_type, date_trunc('day', ts) AS day,
       |    sum(CAST(value AS DECIMAL(18,2))) AS rev
       |  FROM events GROUP BY event_type, date_trunc('day', ts))
       |SELECT event_type, day, CAST(rev AS DOUBLE) AS revenue,
       |  CAST($num AS DOUBLE) / CAST($den AS DOUBLE) AS ewma
       |FROM daily
       |WINDOW w AS (PARTITION BY event_type ORDER BY day)
       |ORDER BY event_type, day""".stripMargin
  }

  /** Day-of-week SEASONAL INDICES per event type — the decomposition
    * pass behind "is Monday always low, or is this week anomalous".
    * index(dow) = avg daily revenue on that weekday ÷ avg daily revenue
    * overall, computed as `(Σ_dow · n_total) / (Σ_total · n_dow)` over
    * exact decimal daily sums so the only float op is the final pinned
    * division. Two-level aggregate: facts → (type, day) → (type, dow),
    * with the per-type totals read off the SECOND aggregate by a window
    * over its 7 rows — no second scan, no join. Weekday numbering is
    * pinned to ISO Monday=0 (Spark `weekday` = DuckDB `isodow - 1`) so
    * the engines cannot disagree on the bucket. */
  def seasonalDow(s: SparkSession, d: String): DataFrame = {
    val daily = Tables.events(s, d)
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(sum(col("value").cast(DecimalType(18, 2))).as("rev"))
    val byDow = daily
      .groupBy(col("event_type"), expr("weekday(day)").cast("int").as("dow"))
      .agg(sum("rev").as("s_dow"), count(lit(1)).as("n_dow"))
    val all = Window.partitionBy("event_type")
    byDow.select(col("event_type"), col("dow"), col("n_dow"),
        ((col("s_dow") * sum(col("n_dow")).over(all)).cast("double") /
          (sum(col("s_dow")).over(all) * col("n_dow")).cast("double"))
          .as("seasonal_index"))
  }

  val seasonalDowSql: String =
    """WITH daily AS (
      |  SELECT event_type, date_trunc('day', ts) AS day,
      |    sum(CAST(value AS DECIMAL(18,2))) AS rev
      |  FROM events GROUP BY event_type, date_trunc('day', ts)),
      |by_dow AS (
      |  SELECT event_type, CAST(isodow(day) - 1 AS INTEGER) AS dow,
      |    sum(rev) AS s_dow, count(*) AS n_dow
      |  FROM daily GROUP BY event_type, isodow(day) - 1)
      |SELECT event_type, dow, n_dow,
      |  CAST(s_dow * sum(n_dow) OVER t AS DOUBLE) /
      |  CAST(sum(s_dow) OVER t * n_dow AS DOUBLE) AS seasonal_index
      |FROM by_dow
      |WINDOW t AS (PARTITION BY event_type)""".stripMargin

  /** CUSUM CHANGEPOINT detection over the per-type daily count series —
    * "when did the level shift". The classic statistic
    * `S_k = Σ_{i≤k}(x_i − x̄)` is rational (x̄ = total/n); multiplying
    * through by n gives `n·prefix_k − total·k`, an EXACT INTEGER in
    * which argmax|S_k| is unchanged — so the changepoint and its score
    * are bit-portable with zero float ops anywhere. The windows run
    * over the (type, day) aggregate (tiny frames), and the argmax
    * tie-breaks on earliest day via rank ordering, keeping the one-row
    * answer deterministic. Output score is |S_k|·n in raw units
    * (`cusum_scaled`), plus the series length for normalizing
    * downstream. */
  def cusumChangepoint(s: SparkSession, d: String): DataFrame = {
    val daily = Tables.events(s, d)
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("x"))
    val ord = Window.partitionBy("event_type").orderBy("day")
    val all = Window.partitionBy("event_type")
    val scored = daily.select(col("event_type"), col("day"),
        (sum(col("x")).over(ord.rowsBetween(Window.unboundedPreceding,
            Window.currentRow)) * count(lit(1)).over(all) -
          sum(col("x")).over(all) * row_number().over(ord))
          .as("s_scaled"),
        count(lit(1)).over(all).as("n_days"))
    val pick = Window.partitionBy("event_type")
      .orderBy(abs(col("s_scaled")).desc, col("day"))
    scored.withColumn("rk", row_number().over(pick))
      .filter(col("rk") === 1)
      .select(col("event_type"), col("day").as("cp_day"),
        abs(col("s_scaled")).as("cusum_scaled"), col("n_days"))
  }

  val cusumChangepointSql: String =
    """WITH daily AS (
      |  SELECT event_type, date_trunc('day', ts) AS day, count(*) AS x
      |  FROM events GROUP BY event_type, date_trunc('day', ts)),
      |scored AS (
      |  SELECT event_type, day,
      |    sum(x) OVER (PARTITION BY event_type ORDER BY day
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |      * count(*) OVER t
      |      - sum(x) OVER t * row_number() OVER (PARTITION BY event_type
      |          ORDER BY day) AS s_scaled,
      |    count(*) OVER t AS n_days
      |  FROM daily
      |  WINDOW t AS (PARTITION BY event_type)),
      |ranked AS (
      |  SELECT *, row_number() OVER (PARTITION BY event_type
      |    ORDER BY abs(s_scaled) DESC, day) AS rk
      |  FROM scored)
      |SELECT event_type, day AS cp_day,
      |  CAST(abs(s_scaled) AS BIGINT) AS cusum_scaled,
      |  CAST(n_days AS BIGINT) AS n_days
      |FROM ranked WHERE rk = 1""".stripMargin

  /** ROLLING-ORIGIN CROSS-VALIDATION FOLDS — the expanding-window CV
    * scheme for time-ordered data (train on everything before the
    * origin, validate on the next horizon; the origin rolls forward per
    * fold). Random k-fold leaks the future into training; this is the
    * split a forecasting/training pipeline over timestamped corpora
    * actually needs, complementing the hash-based i.i.d. split
    * (q_train_split).
    *
    * Fold k of K over the order-date span [d0, d1]: train = days with
    * offset ≤ floor(span·k/(K+1)), validate = the next chunk up to
    * floor(span·(k+1)/(K+1)). Boundaries derive from the data's own
    * min/max, so the assignment is fully deterministic and append-stable
    * in the prefix sense (new later data extends the last fold's horizon
    * but never reshuffles past membership the way random splits do).
    *
    * Scale rendering: ONE shuffle at O(distinct days) to build the daily
    * aggregate, then a broadcast cross with the one-row bounds frame and
    * the K-row fold frame — the K-way membership blowup happens on the
    * day aggregate (O(days·K) rows), never on raw facts. Sums carried in
    * exact integer cents. */
  def cvFolds(s: SparkSession, d: String): DataFrame = {
    val k = 5
    val daily = Tables.orders(s, d)
      .groupBy(col("o_orderdate").as("day"))
      .agg(count(lit(1)).as("n"),
        (sum(col("o_totalprice").cast("decimal(18,2)")) * 100)
          .cast("long").as("cents"))
    val bounds = Tables.orders(s, d)
      .agg(min(col("o_orderdate")).as("d0"), max(col("o_orderdate")).as("d1"))
    val folds = s.range(1, k + 1).select(col("id").cast("int").as("fold"))
    daily
      .crossJoin(broadcast(bounds))
      .crossJoin(broadcast(folds))
      .select(col("fold"), col("n"), col("cents"),
        datediff(col("day"), col("d0")).as("off"),
        datediff(col("d1"), col("d0")).as("span"))
      .filter(col("off") <= floor(col("span") * (col("fold") + 1) / (k + 1)))
      .withColumn("role",
        when(col("off") <= floor(col("span") * col("fold") / (k + 1)),
          lit("train")).otherwise(lit("valid")))
      .groupBy(col("fold"), col("role"))
      .agg(sum(col("n")).as("n_orders"),
        sum(col("cents")).as("sum_price_cents"))
  }

  val cvFoldsSql: String =
    """WITH daily AS (
      |  SELECT o_orderdate AS day, count(*) AS n,
      |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
      |      AS cents
      |  FROM orders GROUP BY o_orderdate),
      |b AS (SELECT min(o_orderdate) AS d0, max(o_orderdate) AS d1
      |      FROM orders),
      |f AS (SELECT UNNEST(range(1, 6)) AS fold),
      |x AS (
      |  SELECT f.fold, d.n, d.cents,
      |    date_diff('day', b.d0, d.day) AS off,
      |    date_diff('day', b.d0, b.d1) AS span
      |  FROM daily d, b, f)
      |SELECT CAST(fold AS INT) AS fold,
      |  CASE WHEN off <= floor(span * fold / 6) THEN 'train'
      |       ELSE 'valid' END AS role,
      |  CAST(sum(n) AS BIGINT) AS n_orders,
      |  CAST(sum(cents) AS BIGINT) AS sum_price_cents
      |FROM x
      |WHERE off <= floor(span * (fold + 1) / 6)
      |GROUP BY 1, 2""".stripMargin

  /** AUTOCORRELATION FUNCTION — Pearson r between the daily-revenue
    * series and its own k-day-shifted copy, k = 1..7 (the lag-k ACF in
    * its overlapping-pairs variant: each lag's means are taken over that
    * lag's own pairs, the form every SQL engine can compute exactly;
    * the fixed-global-mean textbook variant differs only in the
    * centering constant). The weekly-seasonality fingerprint in one
    * relation — a spike at lag 7 is the seasonal signature q_seasonal
    * models directly.
    *
    * Rendering: NO global-order window (that's the low-cardinality-
    * window smell PlanLint flags) — the shift is an equi-JOIN of the
    * day aggregate against itself on `day + k`, with the 7-row lag
    * frame broadcast-crossed first. All moments (Σx, Σy, Σxy, Σx²,
    * Σy²) accumulate in exact integer cents via decimal(19,0) products
    * (HUGEINT on the oracle side); the only floating op is the final
    * correlation division. Everything after the one O(distinct days)
    * shuffle runs on O(days·7) rows. */
  def acfDailyRevenue(s: SparkSession, d: String): DataFrame = {
    val daily = Tables.orders(s, d)
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg((sum(col("o_totalprice").cast("decimal(18,2)")) * 100)
        .cast("long").as("cents"))
    val lags = s.range(1, 8).select(col("id").cast("int").as("lag"))
    val left = daily.crossJoin(broadcast(lags))
      .select(col("lag"), date_add(col("day"), col("lag")).as("day2"),
        col("cents").as("x"))
    val right = daily.select(col("day").as("day2"), col("cents").as("y"))
    val dx = col("x").cast(DecimalType(19, 0))
    val dy = col("y").cast(DecimalType(19, 0))
    left.join(right, Seq("day2"))
      .groupBy(col("lag"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(dx).as("sx"), sum(dy).as("sy"),
        sum(dx * dy).as("sxy"), sum(dx * dx).as("sxx"),
        sum(dy * dy).as("syy"))
      .select(col("lag"), col("n_pairs"),
        ((col("n_pairs") * col("sxy") - col("sx") * col("sy")).cast("double")
          / sqrt(
            (col("n_pairs") * col("sxx") - col("sx") * col("sx"))
              .cast("double") *
            (col("n_pairs") * col("syy") - col("sy") * col("sy"))
              .cast("double"))).as("acf"))
  }

  val acfDailyRevenueSql: String =
    """WITH daily AS (
      |  SELECT CAST(o_orderdate AS DATE) AS day,
      |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
      |      AS cents
      |  FROM orders GROUP BY 1),
      |lags AS (SELECT UNNEST(range(1, 8)) AS lag),
      |pairs AS (
      |  SELECT l.lag, a.cents AS x, b.cents AS y
      |  FROM daily a CROSS JOIN lags l
      |  JOIN daily b ON b.day = a.day + CAST(l.lag AS INTEGER)),
      |m AS (
      |  SELECT lag, count(*) AS n,
      |    sum(CAST(x AS HUGEINT)) AS sx, sum(CAST(y AS HUGEINT)) AS sy,
      |    sum(CAST(x AS HUGEINT) * y) AS sxy,
      |    sum(CAST(x AS HUGEINT) * x) AS sxx,
      |    sum(CAST(y AS HUGEINT) * y) AS syy
      |  FROM pairs GROUP BY lag)
      |SELECT CAST(lag AS INT) AS lag, CAST(n AS BIGINT) AS n_pairs,
      |  CAST(n * sxy - sx * sy AS DOUBLE) /
      |  sqrt(CAST(n * sxx - sx * sx AS DOUBLE) *
      |       CAST(n * syy - sy * sy AS DOUBLE)) AS acf
      |FROM m""".stripMargin

  /** CROSS-CORRELATION FUNCTION between daily CLICK volume and daily
    * PURCHASE revenue at lags −7..+7 — the lead–lag detector
    * [[acfDailyRevenue]] can't see (ACF is a series against itself;
    * CCF asks "do clicks LEAD purchases, and by how many days?"): a
    * peak at positive k means clicks at t correlate with purchase
    * revenue at t+k, the standard marketing-attribution readout and
    * the model-free precursor to [[grangerCausality]]'s fitted form.
    *
    * Rendering: identical discipline to ACF — NO global-order window;
    * the shift is an equi-join of the two day aggregates on `day + k`
    * with the 15-row lag frame broadcast-crossed; per-lag means over
    * that lag's own pairs; all five moments exact integer
    * (counts × cents via decimal(38,0) — the product exceeds
    * decimal(19)), ONE double division at the end.
    *
    * Scale: one map-side-combinable events aggregate; everything after
    * runs on O(days·15) rows. */
  def ccfClicksPurchases(s: SparkSession, d: String): DataFrame = {
    val big = DecimalType(38, 0)
    val daily = Tables.events(s, d)
      .groupBy(date_trunc("day", col("ts")).cast("date").as("day"))
      .agg(sum(when(col("event_type") === "click", 1L).otherwise(0L))
        .cast("long").as("clicks"),
        (sum(when(col("event_type") === "purchase",
          col("value").cast(DecimalType(18, 2))).otherwise(lit(0)
          .cast(DecimalType(18, 2)))) * 100).cast("long").as("cents"))
      .pin() // consumers: both sides of the lag join
    val lags = s.range(-7, 8).select(col("id").cast("int").as("lag"))
    val left = daily.crossJoin(broadcast(lags))
      .select(col("lag"), date_add(col("day"), col("lag")).as("day2"),
        col("clicks").as("x"))
    val right = daily.select(col("day").as("day2"), col("cents").as("y"))
    val dx = col("x").cast(big)
    val dy = col("y").cast(big)
    left.join(right, Seq("day2"))
      .groupBy(col("lag"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(dx).as("sx"), sum(dy).as("sy"),
        sum(dx * dy).as("sxy"), sum(dx * dx).as("sxx"),
        sum(dy * dy).as("syy"))
      .select(col("lag"), col("n_pairs"), {
        // NULL-on-zero-variance guard (clickless edge sweep): a
        // constant side zeroes its variance term and sqrt(0) divides by
        // zero — NULL on DuckDB, an ANSI error here without the guard
        val vx = (col("n_pairs") * col("sxx") - col("sx") * col("sx"))
          .cast("double")
        val vy = (col("n_pairs") * col("syy") - col("sy") * col("sy"))
          .cast("double")
        when(vx * vy === 0d, lit(null).cast("double"))
          .otherwise(round((col("n_pairs") * col("sxy") -
            col("sx") * col("sy")).cast("double") / sqrt(vx * vy), 6))
          .as("ccf")
      })
      .orderBy("lag")
  }

  val ccfClicksPurchasesSql: String =
    """WITH daily AS (
      |  SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
      |    CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
      |      AS BIGINT) AS clicks,
      |    CAST(sum(CASE WHEN event_type = 'purchase'
      |      THEN CAST(value AS DECIMAL(18,2))
      |      ELSE CAST(0 AS DECIMAL(18,2)) END) * 100 AS BIGINT) AS cents
      |  FROM events GROUP BY 1),
      |lags AS (SELECT UNNEST(range(-7, 8)) AS lag),
      |pairs AS (
      |  SELECT l.lag, a.clicks AS x, b.cents AS y
      |  FROM daily a CROSS JOIN lags l
      |  JOIN daily b ON b.day = a.day + CAST(l.lag AS INTEGER)),
      |m AS (
      |  SELECT lag, count(*) AS n,
      |    sum(CAST(x AS HUGEINT)) AS sx, sum(CAST(y AS HUGEINT)) AS sy,
      |    sum(CAST(x AS HUGEINT) * y) AS sxy,
      |    sum(CAST(x AS HUGEINT) * x) AS sxx,
      |    sum(CAST(y AS HUGEINT) * y) AS syy
      |  FROM pairs GROUP BY lag)
      |SELECT CAST(lag AS INT) AS lag, CAST(n AS BIGINT) AS n_pairs,
      |  round(CAST(n * sxy - sx * sy AS DOUBLE) /
      |    sqrt(CAST(n * sxx - sx * sx AS DOUBLE) *
      |         CAST(n * syy - sy * sy AS DOUBLE)), 6) AS ccf
      |FROM m ORDER BY lag""".stripMargin

  /** ROLLING OLS: per event type, the 7-day trailing least-squares slope
    * of daily revenue (cents/day) — the local-trend detector that EWMA
    * ([[ewmaDaily]]) smooths past: a level change shows in EWMA, a slope
    * change shows here. Classic quant/BI window battery member.
    *
    * The slope is closed-form from four trailing sums — n, Σx, Σy, Σxy,
    * Σxx with x = epoch day, y = exact cents — all EXACT decimal(38,0)
    * window aggregates over the per-(type, day) frame (O(days) rows per
    * type; the facts are touched by one map-side-combinable aggregate
    * only). No per-row regression state, no UDAF: the same five window
    * sums every engine can fuse into one pass, then ONE pinned double
    * division, rounded to 6.
    *
    * Windows under 3 days of history emit NULL (a 1-2 point "slope" is
    * noise, and the n≥3 guard keeps the denominator nonzero). */
  def rollingOlsDaily(s: SparkSession, d: String): DataFrame = {
    val big = DecimalType(38, 0)
    def d0(c: Column): Column = c.cast(big)
    val daily = Tables.events(s, d)
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg((sum(col("value").cast(DecimalType(18, 2))) * 100).cast("long")
        .as("cents"))
      .select(col("event_type"), col("day"),
        datediff(col("day"), to_date(lit("1970-01-01"))).cast("long").as("x"),
        col("cents"))
    val w = Window.partitionBy("event_type").orderBy("day")
      .rowsBetween(-6, Window.currentRow)
    daily
      .select(col("event_type"), col("day"), col("cents"),
        count(lit(1)).over(w).cast("long").as("n"),
        sum(d0(col("x"))).over(w).as("sx"),
        sum(d0(col("cents"))).over(w).as("sy"),
        sum(d0(col("x")) * d0(col("cents"))).over(w).as("sxy"),
        sum(d0(col("x")) * d0(col("x"))).over(w).as("sxx"))
      .select(col("event_type"), col("day"), col("cents"), col("n"),
        when(col("n") >= 3,
          round((d0(col("n")) * col("sxy") - col("sx") * col("sy")).cast("double") /
            (d0(col("n")) * col("sxx") - col("sx") * col("sx")).cast("double"), 6))
          .as("slope_cents_per_day"))
  }

  val rollingOlsDailySql: String =
    """WITH daily AS (
      |  SELECT event_type, date_trunc('day', ts) AS day,
      |    CAST(sum(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS cents
      |  FROM events GROUP BY 1, 2),
      |xy AS (
      |  SELECT event_type, day, cents,
      |    CAST(date_diff('day', DATE '1970-01-01', day) AS BIGINT) AS x
      |  FROM daily),
      |sums AS (
      |  SELECT event_type, day, cents,
      |    CAST(count(*) OVER w AS BIGINT) AS n,
      |    sum(CAST(x AS HUGEINT)) OVER w AS sx,
      |    sum(CAST(cents AS HUGEINT)) OVER w AS sy,
      |    sum(CAST(x AS HUGEINT) * cents) OVER w AS sxy,
      |    sum(CAST(x AS HUGEINT) * x) OVER w AS sxx
      |  FROM xy
      |  WINDOW w AS (PARTITION BY event_type ORDER BY day
      |    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW))
      |SELECT event_type, day, cents, n,
      |  CASE WHEN n >= 3 THEN
      |    round(CAST(n * sxy - sx * sy AS DOUBLE) /
      |          CAST(n * sxx - sx * sx AS DOUBLE), 6)
      |  END AS slope_cents_per_day
      |FROM sums""".stripMargin

  /** OVERDISPERSION audit: the index of dispersion (Fano factor,
    * variance-to-mean ratio) of DAILY event counts per event type — the
    * one-number test of "is this arrival stream Poisson-like (≈1),
    * bursty (≫1), or metronomic (≪1)" that decides whether rate alerts
    * can assume Poisson error bars.
    *
    * Daily counts are exact longs from one map-side-combinable
    * aggregate; mean and sample variance come from exact decimal(38,0)
    * power sums over the O(days) frame — the
    * [[graft.ops.Analytics.momentsByReturnFlag]] contract (native
    * one-pass variance aggregates are float-merge-order-dependent;
    * power sums are not) — and the ratio is one pinned double
    * expression rounded to 6. */
  def dispersionDaily(s: SparkSession, d: String): DataFrame = {
    val big = DecimalType(38, 0)
    def d0(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column = c.cast(big)
    Tables.events(s, d)
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).cast("long").as("c"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).cast("long").as("n_days"),
        sum(d0(col("c"))).as("s1"),
        sum(d0(col("c")) * d0(col("c"))).as("s2"))
      .select(col("event_type"), col("n_days"),
        round((col("s1").cast("double") / col("n_days").cast("double")), 6)
          .as("mean_daily"),
        round((d0(col("n_days")) * col("s2") - col("s1") * col("s1"))
          .cast("double") /
          (col("n_days") * (col("n_days") - 1)).cast("double") /
          (col("s1").cast("double") / col("n_days").cast("double")), 6)
          .as("fano"))
  }

  val dispersionDailySql: String =
    """WITH daily AS (
      |  SELECT event_type, date_trunc('day', ts) AS day, count(*) AS c
      |  FROM events GROUP BY 1, 2),
      |sums AS (
      |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
      |    sum(CAST(c AS HUGEINT)) AS s1,
      |    sum(CAST(c AS HUGEINT) * c) AS s2
      |  FROM daily GROUP BY 1)
      |SELECT event_type, n_days,
      |  round(CAST(s1 AS DOUBLE) / CAST(n_days AS DOUBLE), 6) AS mean_daily,
      |  round(CAST(n_days * s2 - s1 * s1 AS DOUBLE)
      |    / CAST(n_days * (n_days - 1) AS DOUBLE)
      |    / (CAST(s1 AS DOUBLE) / CAST(n_days AS DOUBLE)), 6) AS fano
      |FROM sums""".stripMargin

  /** WALD-WOLFOWITZ RUNS TEST on daily revenue vs its median — the
    * nonparametric randomness check ("is the above/below-median pattern
    * serially dependent, or coin-flip-like"): too few runs = trending,
    * too many = oscillating. Complements [[acfDailyRevenue]] (which
    * measures linear dependence; runs sees any sign-pattern).
    *
    * Day revenues are exact cents; the median is the exact
    * percentile_disc element over the O(days) aggregate (a real data
    * value, not an interpolation — both engines pick the same cent);
    * median-equal days drop per the standard two-category reduction.
    * Runs count via one lag over the day-ordered aggregate frame, n₁/n₂
    * by exact count, and the closing z-statistic
    * (R − μ)/σ, μ = 2n₁n₂/n + 1, σ² = (μ−1)(μ−2)/(n−1), is one pinned
    * double expression rounded to 6. Every stage after the daily
    * aggregate is O(days). */
  def runsTestDaily(s: SparkSession, d: String): DataFrame = {
    val daily = Tables.orders(s, d)
      .groupBy(date_trunc("day", col("o_orderdate")).cast("date").as("day"))
      .agg((sum(col("o_totalprice").cast(DecimalType(18, 2))) * 100)
        .cast("long").as("cents"))
    val med = daily.agg(
      expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY cents)").as("med"))
    val signed = daily.crossJoin(broadcast(med))
      .filter(col("cents") =!= col("med"))
      .select(col("day"), (col("cents") > col("med")).as("up"))
    val w = Window.orderBy("day")
    signed
      .select(col("up"),
        when(lag(col("up"), 1).over(w).isNull ||
          lag(col("up"), 1).over(w) =!= col("up"), 1L).otherwise(0L)
          .as("run_start"))
      .agg(
        sum(when(col("up"), 1L).otherwise(0L)).as("n_above"),
        sum(when(col("up"), 0L).otherwise(1L)).as("n_below"),
        sum(col("run_start")).as("runs"))
      .select(col("n_above"), col("n_below"), col("runs"),
        round((col("runs").cast("double") -
          (lit(2.0) * col("n_above") * col("n_below") /
            (col("n_above") + col("n_below")) + 1.0)) /
          sqrt((lit(2.0) * col("n_above") * col("n_below") /
            (col("n_above") + col("n_below"))) *
            (lit(2.0) * col("n_above") * col("n_below") /
              (col("n_above") + col("n_below")) - 1.0) /
            (col("n_above") + col("n_below") - 1.0)), 6).as("z"))
  }

  val runsTestDailySql: String =
    """WITH daily AS (
      |  SELECT date_trunc('day', o_orderdate) AS day,
      |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS cents
      |  FROM orders GROUP BY 1),
      |med AS (
      |  SELECT percentile_disc(0.5) WITHIN GROUP (ORDER BY cents) AS med
      |  FROM daily),
      |signed AS (
      |  SELECT day, cents > med AS up FROM daily CROSS JOIN med
      |  WHERE cents <> med),
      |runs AS (
      |  SELECT up,
      |    CASE WHEN lag(up, 1) OVER (ORDER BY day) IS NULL
      |           OR lag(up, 1) OVER (ORDER BY day) <> up
      |         THEN 1 ELSE 0 END AS run_start
      |  FROM signed),
      |agg AS (
      |  SELECT CAST(sum(CASE WHEN up THEN 1 ELSE 0 END) AS BIGINT) AS n_above,
      |    CAST(sum(CASE WHEN up THEN 0 ELSE 1 END) AS BIGINT) AS n_below,
      |    CAST(sum(run_start) AS BIGINT) AS runs
      |  FROM runs)
      |SELECT n_above, n_below, runs,
      |  round((CAST(runs AS DOUBLE) -
      |    (2.0 * n_above * n_below / (n_above + n_below) + 1.0)) /
      |    sqrt((2.0 * n_above * n_below / (n_above + n_below)) *
      |      (2.0 * n_above * n_below / (n_above + n_below) - 1.0) /
      |      (n_above + n_below - 1.0)), 6) AS z
      |FROM agg""".stripMargin

  /** Seasonal-naive lag (days) and evaluation window for
    * [[forecastBacktest]]. */
  private val fcLagDays = 7
  private val fcEvalDays = 14

  /** FORECAST BACKTEST — the evaluation harness a forecasting pipeline
    * gates on, applied to the cheapest defensible baselines: for the
    * last [[fcEvalDays]] days of per-type daily revenue, one-step
    * NAIVE (yesterday's value) and SEASONAL-NAIVE (same weekday last
    * week, lag [[fcLagDays]]) forecasts, scored with MAE and MAPE.
    * Any model a team proposes must beat this table — which makes the
    * table itself the first artifact of the forecasting workflow.
    *
    * Exactness: forecasts are COPIED values (lag over the daily
    * aggregate — no arithmetic), absolute errors are exact decimal
    * cents summed as decimals, and each reported metric is one pinned
    * double division rounded 6. The lag window runs over the
    * per-(type, day) aggregate (O(types × days) rows — the ewmaDaily
    * scale posture). */
  /** Holt smoothing constants — pinned so both engines run the exact
    * same recursion. */
  val holtAlpha = 0.3
  val holtBeta = 0.1
  val holtHorizon = 7

  /** HOLT LINEAR-TREND FORECAST BACKTEST — the exponential-smoothing
    * step up from [[forecastBacktest]]'s naive/seasonal-naive: fit
    * level+trend state on all but the last [[holtHorizon]] days of
    * daily purchase revenue (α = 0.3, β = 0.1, init l₂ = y₂,
    * b₂ = y₂ − y₁), then forecast h-steps-ahead ŷ = l + h·b against
    * the held-out week.
    *
    * Determinism: the recursion is ONE sequential fold over the
    * day-sorted array with a STRUCT accumulator on the Spark side and
    * the identical recurrence as a bounded recursive CTE on the oracle
    * side — a float recursion is engine-safe precisely when both
    * engines execute the same ops in the same order, which a
    * fixed-order fold/recursion guarantees (the q_markov unrolled-
    * iteration discipline, generalized to stateful folds). Inputs are
    * exact cents.
    *
    * Scale: one day aggregate over facts; the fold runs on O(days)
    * data in one row — calendar-bounded, the [[forecastBacktest]]
    * class. */
  def holtForecast(s: SparkSession, d: String): DataFrame = {
    val a = holtAlpha
    val b = holtBeta
    val daily = Tables.events(s, d)
      .filter(col("event_type") === "purchase")
      .groupBy(date_trunc("day", col("ts")).cast("date").as("day"))
      .agg((sum(col("value").cast(DecimalType(18, 2))) * 100).cast("long")
        .as("c"))
    val packed = daily
      .groupBy()
      .agg(sort_array(collect_list(struct(col("day"), col("c")))).as("arr"))
      // a series shorter than horizon + 2 training points cannot seed
      // the level/trend init (and the slices go negative under ANSI);
      // DuckDB emits zero rows there — its recursive seed starts at
      // i = 2 and never matches WHERE i = len(tr) < 2 — so the filter
      // is an exact mirror at every length (purchaseless edge sweep)
      .filter(size(col("arr")) >= holtHorizon + 2)
      .select(
        expr(s"slice(arr, 1, size(arr) - $holtHorizon)").as("tr"),
        expr(s"slice(arr, size(arr) - ${holtHorizon - 1}, $holtHorizon)")
          .as("te"))
      .select(col("te"), expr(
        s"""aggregate(slice(tr, 3, size(tr) - 2),
           |  named_struct(
           |    'l', CAST(tr[1].c AS DOUBLE),
           |    'b', CAST(tr[1].c - tr[0].c AS DOUBLE)),
           |  (acc, e) -> named_struct(
           |    'l', $a * CAST(e.c AS DOUBLE) + ${1 - a} * (acc.l + acc.b),
           |    'b', $b * (($a * CAST(e.c AS DOUBLE)
           |           + ${1 - a} * (acc.l + acc.b)) - acc.l)
           |         + ${1 - b} * acc.b))""".stripMargin).as("st"))
    packed
      .select(posexplode(col("te")).as(Seq("pos", "e")),
        col("st.l").as("l"), col("st.b").as("b"))
      .select(col("e.day").as("day"), col("e.c").as("actual_cents"),
        round(col("l") + (col("pos") + 1).cast("double") * col("b"), 4)
          .as("forecast_cents"),
        round(abs(col("e.c").cast("double") -
          (col("l") + (col("pos") + 1).cast("double") * col("b"))), 4)
          .as("abs_err"))
      .orderBy("day")
  }

  val holtForecastSql: String = {
    val a = holtAlpha
    val b = holtBeta
    s"""WITH RECURSIVE daily AS (
       |  SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
       |    CAST(sum(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS c
       |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
       |packed AS (
       |  SELECT list(struct_pack(day := day, c := c) ORDER BY day) AS arr
       |  FROM daily),
       |split AS (
       |  SELECT arr[1 : len(arr) - $holtHorizon] AS tr,
       |    arr[len(arr) - ${holtHorizon - 1} : len(arr)] AS te
       |  FROM packed),
       |state(i, l, bb) AS (
       |  SELECT 2, CAST(tr[2].c AS DOUBLE),
       |    CAST(tr[2].c - tr[1].c AS DOUBLE) FROM split
       |  UNION ALL
       |  SELECT i + 1,
       |    $a * CAST(tr[i + 1].c AS DOUBLE) + ${1 - a} * (l + bb),
       |    $b * (($a * CAST(tr[i + 1].c AS DOUBLE) + ${1 - a} * (l + bb)) - l)
       |      + ${1 - b} * bb
       |  FROM state, split WHERE i < len(tr)),
       |fin AS (
       |  SELECT l, bb FROM state, split WHERE i = len(tr))
       |SELECT te[h].day AS day, te[h].c AS actual_cents,
       |  round(l + CAST(h AS DOUBLE) * bb, 4) AS forecast_cents,
       |  round(abs(CAST(te[h].c AS DOUBLE)
       |    - (l + CAST(h AS DOUBLE) * bb)), 4) AS abs_err
       |FROM fin, split, range(1, ${holtHorizon + 1}) t(h)
       |ORDER BY day""".stripMargin
  }

  def forecastBacktest(s: SparkSession, d: String): DataFrame = {
    val daily = dailyCents(s, d)
    val w = Window.partitionBy("event_type").orderBy("day")
    val maxDay = daily.agg(max(col("day")).as("max_day"))
    daily
      .withColumn("f_naive", lag(col("cents"), 1).over(w))
      .withColumn("f_snaive", lag(col("cents"), fcLagDays).over(w))
      .crossJoin(broadcast(maxDay))
      .filter(datediff(col("max_day"), col("day")) < fcEvalDays &&
        col("f_naive").isNotNull && col("f_snaive").isNotNull &&
        col("cents") > 0)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_days"),
        sum(abs(col("cents") - col("f_naive"))).as("ae_naive"),
        sum(abs(col("cents") - col("f_snaive"))).as("ae_snaive"),
        sum((abs(col("cents") - col("f_naive")).cast("double") /
          col("cents").cast("double"))).as("pe_naive"),
        sum((abs(col("cents") - col("f_snaive")).cast("double") /
          col("cents").cast("double"))).as("pe_snaive"))
      .select(col("event_type"), col("n_days"),
        round(col("ae_naive").cast("double") / col("n_days").cast("double")
          / 100.0, 6).as("mae_naive"),
        round(col("ae_snaive").cast("double") / col("n_days").cast("double")
          / 100.0, 6).as("mae_snaive"),
        round(col("pe_naive") / col("n_days").cast("double"), 6)
          .as("mape_naive"),
        round(col("pe_snaive") / col("n_days").cast("double"), 6)
          .as("mape_snaive"))
      .orderBy("event_type")
  }

  val forecastBacktestSql: String =
    s"""WITH daily AS (
       |  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
       |    CAST(sum(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS cents
       |  FROM events GROUP BY 1, 2),
       |m AS (SELECT max(day) AS max_day FROM daily),
       |fc AS (
       |  SELECT event_type, day, cents,
       |    lag(cents, 1) OVER w AS f_naive,
       |    lag(cents, $fcLagDays) OVER w AS f_snaive
       |  FROM daily
       |  WINDOW w AS (PARTITION BY event_type ORDER BY day)),
       |ev AS (
       |  SELECT fc.* FROM fc CROSS JOIN m
       |  WHERE date_diff('day', day, max_day) < $fcEvalDays
       |    AND f_naive IS NOT NULL AND f_snaive IS NOT NULL AND cents > 0)
       |SELECT event_type, count(*) AS n_days,
       |  round(CAST(sum(abs(cents - f_naive)) AS DOUBLE)
       |    / CAST(count(*) AS DOUBLE) / 100.0, 6) AS mae_naive,
       |  round(CAST(sum(abs(cents - f_snaive)) AS DOUBLE)
       |    / CAST(count(*) AS DOUBLE) / 100.0, 6) AS mae_snaive,
       |  round(sum(CAST(abs(cents - f_naive) AS DOUBLE) / CAST(cents AS DOUBLE))
       |    / CAST(count(*) AS DOUBLE), 6) AS mape_naive,
       |  round(sum(CAST(abs(cents - f_snaive) AS DOUBLE) / CAST(cents AS DOUBLE))
       |    / CAST(count(*) AS DOUBLE), 6) AS mape_snaive
       |FROM ev GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Half-life (days) for [[decayedPopularity]]. */
  val decayHalfLifeDays = 7.0

  /** TIME-DECAYED POPULARITY — exponentially decayed revenue score per
    * event type as of the corpus's last day: score = Σ_d rev(d) ·
    * 0.5^(age_d / halfLife). The freshness-weighted ranking signal
    * (trending content, recency-biased retrieval boosts) that a plain
    * SUM can't express and a float SUM can't compute portably.
    *
    * Determinism rendering: the daily aggregate collapses to ONE sorted
    * array per type (O(days) elements, calendar-bounded), and the decay
    * fold runs INSIDE the array in day order — `aggregate` on the Spark
    * side, `list_sum(list_transform(...))` on the oracle, both strictly
    * sequential left-to-right (the vectorNorms parity precedent) — so
    * the float accumulation order is pinned without any windowed float
    * sum. Facts shuffle once into the daily aggregate; the fold is a
    * per-row array op. */
  def decayedPopularity(s: SparkSession, d: String): DataFrame = {
    val daily = dailyCents(s, d)
    val maxDay = daily.agg(max(col("day")).as("max_day"))
    daily.crossJoin(broadcast(maxDay))
      .groupBy(col("event_type"), col("max_day"))
      .agg(sort_array(collect_list(struct(col("day"), col("cents")))).as("dc"))
      .select(col("event_type"),
        round(aggregate(col("dc"), lit(0.0d), (acc, x) =>
          acc + x.getField("cents").cast("double") / 100.0 *
            pow(lit(0.5), datediff(col("max_day"), x.getField("day"))
              .cast("double") / decayHalfLifeDays)), 6)
          .as("decayed_revenue"))
      .orderBy("event_type")
  }

  val decayedPopularitySql: String =
    s"""WITH daily AS (
       |  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
       |    CAST(sum(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS cents
       |  FROM events GROUP BY 1, 2),
       |m AS (SELECT max(day) AS max_day FROM daily),
       |arr AS (
       |  SELECT event_type, max_day,
       |    list(struct_pack(day := day, cents := cents) ORDER BY day) AS dc
       |  FROM daily CROSS JOIN m GROUP BY event_type, max_day)
       |SELECT event_type,
       |  round(list_sum(list_transform(dc, x ->
       |    CAST(x.cents AS DOUBLE) / 100.0 *
       |      pow(0.5, CAST(date_diff('day', x.day, max_day) AS DOUBLE)
       |        / $decayHalfLifeDays))), 6) AS decayed_revenue
       |FROM arr ORDER BY event_type""".stripMargin

  /** MANN–KENDALL TREND TEST on daily revenue per event type — the
    * nonparametric companion to [[graft.ops.Analytics.theilSenTrend]]
    * (Theil–Sen estimates the slope; Mann–Kendall decides whether a
    * monotone trend EXISTS): S = Σ_{i<j} sign(x_j − x_i) over day pairs,
    * tie-corrected variance, continuity-corrected normal z. The standard
    * drift detector when revenue is non-normal (it is).
    *
    * Exactness: S is an exact integer from CASE comparisons on exact
    * cents (no `sign()` doubles); 18·Var = n(n−1)(2n+5) − Σ_t t(t−1)(2t+5)
    * is an exact integer (the /18 never happens until the final pinned
    * z); z is ONE double formula over exact integers, rounded 6, NULL
    * when the variance degenerates (all-equal days).
    *
    * Scale: facts collapse to the O(days × types) daily aggregate
    * first; the pair join is O(days²) per type over that tiny frame —
    * the q_kendall contingency-census discipline (quadratic only in a
    * catalog-bounded domain, never in fact rows). */
  def mannKendall(s: SparkSession, d: String): DataFrame = {
    val daily = dailyCents(s, d).pin() // 3 consumers: both pair-join sides + tie census
    val a = daily.select(col("event_type"), col("day"), col("cents"))
    val b = daily.select(col("event_type").as("et2"), col("day").as("day2"),
      col("cents").as("cents2"))
    val sStat = a.join(b, a("event_type") === b("et2") && a("day") < b("day2"))
      .groupBy("event_type")
      .agg(sum(when(col("cents2") > col("cents"), 1L)
        .when(col("cents2") < col("cents"), -1L).otherwise(0L)).as("s_stat"))
    val ties = daily.groupBy(col("event_type"), col("cents"))
      .agg(count(lit(1)).as("t"))
      .groupBy("event_type")
      .agg(sum(col("t") * (col("t") - 1) * (lit(2) * col("t") + 5)).as("tt"),
        count(lit(1)).as("n_distinct"))
    val n = daily.groupBy("event_type").agg(count(lit(1)).as("n_days"))
    val var18 = col("n_days") * (col("n_days") - 1) *
      (lit(2) * col("n_days") + 5) - col("tt")
    n.join(sStat, Seq("event_type")).join(ties, Seq("event_type"))
      .select(col("event_type"), col("n_days"), col("s_stat"),
        var18.cast("long").as("var18"),
        when(var18 === 0, lit(null).cast("double"))
          .otherwise(round((col("s_stat") -
            when(col("s_stat") > 0, 1L).when(col("s_stat") < 0, -1L)
              .otherwise(0L)).cast("double") /
            sqrt(var18.cast("double") / 18.0), 6)).as("z"))
      .orderBy("event_type")
  }

  val mannKendallSql: String =
    """WITH daily AS (
      |  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
      |    CAST(sum(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS cents
      |  FROM events GROUP BY 1,2),
      |s AS (
      |  SELECT a.event_type,
      |    CAST(sum(CASE WHEN b.cents > a.cents THEN 1
      |      WHEN b.cents < a.cents THEN -1 ELSE 0 END) AS BIGINT) AS s_stat
      |  FROM daily a JOIN daily b
      |    ON a.event_type = b.event_type AND a.day < b.day
      |  GROUP BY 1),
      |ties AS (
      |  SELECT event_type, CAST(sum(t*(t-1)*(2*t+5)) AS BIGINT) AS tt FROM (
      |    SELECT event_type, cents, count(*) AS t FROM daily GROUP BY 1,2)
      |  GROUP BY 1),
      |n AS (SELECT event_type, count(*) AS n_days FROM daily GROUP BY 1)
      |SELECT n.event_type, n.n_days, s.s_stat,
      |  CAST(n.n_days*(n.n_days-1)*(2*n.n_days+5) - ties.tt AS BIGINT) AS var18,
      |  CASE WHEN n.n_days*(n.n_days-1)*(2*n.n_days+5) - ties.tt = 0 THEN NULL
      |    ELSE round((s.s_stat - CASE WHEN s.s_stat > 0 THEN 1
      |        WHEN s.s_stat < 0 THEN -1 ELSE 0 END)
      |      / sqrt(CAST(n.n_days*(n.n_days-1)*(2*n.n_days+5) - ties.tt
      |        AS DOUBLE)/18.0), 6) END AS z
      |FROM n JOIN s USING (event_type) JOIN ties USING (event_type)
      |ORDER BY event_type""".stripMargin

  /** DAILY OHLC BARS of event value — the candlestick aggregation
    * (open/high/low/close + volume + turnover) every monitoring and
    * financial surface draws: the whole day's activity compressed to
    * one deterministic row.
    *
    * Determinism: open/close tie-break on (ts, event_id) — min_by /
    * max_by over a struct key, so simultaneous events pick the same
    * winner on both engines; all values exact cents.
    *
    * Scale: ONE map-side-combinable aggregate over the day key (min_by
    * and max_by partials merge associatively — no window, no sort). */
  def ohlcDaily(s: SparkSession, d: String): DataFrame = {
    val cents = col("value").cast(DecimalType(18, 2)) * 100
    Tables.events(s, d)
      .select(date_trunc("day", col("ts")).cast("date").as("day"),
        col("ts"), col("event_id"), cents.cast("long").as("cents"))
      .groupBy("day")
      .agg(min_by(col("cents"), struct(col("ts"), col("event_id"))).as("open"),
        max(col("cents")).as("high"),
        min(col("cents")).as("low"),
        max_by(col("cents"), struct(col("ts"), col("event_id"))).as("close"),
        count(lit(1)).as("volume"),
        sum(col("cents")).cast("long").as("turnover"))
      .orderBy("day")
  }

  val ohlcDailySql: String =
    """WITH ev AS (
      |  SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
      |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
      |    row_number() OVER (PARTITION BY CAST(date_trunc('day', ts) AS DATE)
      |      ORDER BY ts, event_id) AS rn
      |  FROM events)
      |SELECT day,
      |  min_by(cents, rn) AS open,
      |  max(cents) AS high,
      |  min(cents) AS low,
      |  max_by(cents, rn) AS close,
      |  count(*) AS volume,
      |  CAST(sum(cents) AS BIGINT) AS turnover
      |FROM ev GROUP BY day ORDER BY day""".stripMargin

  /** Shared per-(event_type, day) exact-cents daily revenue frame for
    * the finance-window battery below. One map-side-combinable
    * aggregate over the facts; everything downstream runs on
    * O(types × days) rows. */
  private def dailyCents(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(col("event_type"),
        date_trunc("day", col("ts")).cast("date").as("day"))
      .agg((sum(col("value").cast(DecimalType(18, 2))) * 100).cast("long")
        .as("cents"))

  /** MAX DRAWDOWN per event type: the deepest peak-to-trough fall of
    * the cumulative daily revenue series — the risk statistic every
    * financial/monitoring dashboard pins next to the equity curve.
    *
    * Exact integers end to end: running sum and running max of cents
    * over the day-ordered per-type frame, drawdown = peak − equity,
    * trough picked by (drawdown DESC, day) row_number — ties break to
    * the EARLIEST day on both engines.
    *
    * Scale: windows run over the O(types × days) aggregate, partitioned
    * by event_type (the [[cusumChangepoint]] class) — the facts are
    * touched once by the combinable day aggregate. */
  def maxDrawdown(s: SparkSession, d: String): DataFrame = {
    val ord = Window.partitionBy("event_type").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val scored = dailyCents(s, d)
      .withColumn("equity", sum(col("cents")).over(ord))
      .withColumn("peak", max(col("equity")).over(ord))
      .withColumn("dd", col("peak") - col("equity"))
    val pick = Window.partitionBy("event_type")
      .orderBy(col("dd").desc, col("day"))
    scored.withColumn("rk", row_number().over(pick))
      .filter(col("rk") === 1)
      .select(col("event_type"), col("day").as("trough_day"),
        col("peak").cast("long").as("peak_cents"),
        col("equity").cast("long").as("equity_cents"),
        col("dd").cast("long").as("max_drawdown"))
      .orderBy("event_type")
  }

  val maxDrawdownSql: String =
    """WITH daily AS (
      |  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
      |    CAST(sum(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS cents
      |  FROM events GROUP BY 1,2),
      |eq0 AS (
      |  SELECT event_type, day,
      |    sum(cents) OVER (PARTITION BY event_type ORDER BY day
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS equity
      |  FROM daily),
      |eq AS (
      |  SELECT event_type, day, equity,
      |    max(equity) OVER (PARTITION BY event_type ORDER BY day
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak
      |  FROM eq0),
      |ranked AS (
      |  SELECT *, peak - equity AS dd,
      |    row_number() OVER (PARTITION BY event_type
      |      ORDER BY peak - equity DESC, day) AS rk
      |  FROM eq)
      |SELECT event_type, day AS trough_day,
      |  CAST(peak AS BIGINT) AS peak_cents,
      |  CAST(equity AS BIGINT) AS equity_cents,
      |  CAST(dd AS BIGINT) AS max_drawdown
      |FROM ranked WHERE rk = 1 ORDER BY event_type""".stripMargin

  /** BOLLINGER BAND BREAKOUTS, integer-exact: days whose revenue falls
    * outside mean ± 2σ of the trailing 7-day window. The band test is
    * algebraically cleared of ALL floating point — |x−S/n| > 2σ with
    * population σ² = (nQ−S²)/n² is exactly (nx−S)² > 4(nQ−S²) in
    * integers — so the breakout flag can never flip on a ulp, the
    * failure mode that makes naive float band comparisons
    * engine-divergent (the repo-wide floor/compare discipline).
    *
    * Only full 7-day windows emit (a 3-day "band" is noise). Squares
    * ride in decimal(38,0): at 100× volume the deviation square passes
    * int64 range long before the data does.
    *
    * Scale: one combinable day aggregate over facts, then ROWS-framed
    * window sums over O(types × days). */
  def bollingerBreakouts(s: SparkSession, d: String): DataFrame = {
    val n = 7
    val big = DecimalType(38, 0)
    val w = Window.partitionBy("event_type").orderBy("day")
      .rowsBetween(-(n - 1), Window.currentRow)
    val x = col("cents").cast(big)
    val scored = dailyCents(s, d)
      .withColumn("s", sum(x).over(w))
      .withColumn("q", sum(x * x).over(w))
      .withColumn("m", count(lit(1)).over(w))
    val dev = lit(n) * col("cents").cast(big) - col("s")
    val varN2 = lit(n) * col("q") - col("s") * col("s") // n² · σ²
    scored.filter(col("m") === n && dev * dev > lit(4) * varN2)
      .select(col("event_type"), col("day"), col("cents"),
        col("s").cast("long").as("win_sum"),
        when(lit(n) * col("cents").cast(big) > col("s"), lit("above"))
          .otherwise(lit("below")).as("side"))
      .orderBy("event_type", "day")
  }

  val bollingerBreakoutsSql: String =
    """WITH daily AS (
      |  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
      |    CAST(sum(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS cents
      |  FROM events GROUP BY 1,2),
      |win AS (
      |  SELECT event_type, day, cents,
      |    sum(CAST(cents AS HUGEINT)) OVER w AS s,
      |    sum(CAST(cents AS HUGEINT) * cents) OVER w AS q,
      |    count(*) OVER w AS m
      |  FROM daily
      |  WINDOW w AS (PARTITION BY event_type ORDER BY day
      |    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW))
      |SELECT event_type, day, cents,
      |  CAST(s AS BIGINT) AS win_sum,
      |  CASE WHEN 7 * CAST(cents AS HUGEINT) > s THEN 'above'
      |    ELSE 'below' END AS side
      |FROM win
      |WHERE m = 7
      |  AND (7 * CAST(cents AS HUGEINT) - s)
      |    * (7 * CAST(cents AS HUGEINT) - s) > 4 * (7 * q - s * s)
      |ORDER BY event_type, day""".stripMargin

  /** RSI-14 (cutoff form): per event type, the relative-strength index
    * of daily revenue over the trailing 14 day-over-day moves —
    * RSI = 100·G/(G+L) with G/L the exact-cents gain/loss sums, so the
    * only floating op is ONE division, rounded to 6 (the simple
    * equal-weight RSI; Wilder's recursive smoothing is an EWMA of the
    * same series — [[ewmaDaily]]'s class). G+L = 0 (14 flat days) pins
    * to NULL explicitly on both engines.
    *
    * Scale: combinable day aggregate over facts; lag + trailing sums
    * over O(types × days) rows. */
  def rsiDaily(s: SparkSession, d: String): DataFrame = {
    val n = 14
    val ord = Window.partitionBy("event_type").orderBy("day")
    val trail = ord.rowsBetween(-(n - 1), Window.currentRow)
    val withDelta = dailyCents(s, d)
      .withColumn("delta", col("cents") - lag(col("cents"), 1).over(ord))
      .filter(col("delta").isNotNull)
    val scored = withDelta
      .withColumn("g", sum(greatest(col("delta"), lit(0L))).over(trail))
      .withColumn("l", sum(greatest(-col("delta"), lit(0L))).over(trail))
      .withColumn("m", count(lit(1)).over(trail))
    scored.filter(col("m") === n)
      .select(col("event_type"), col("day"),
        col("g").cast("long").as("gain_sum"),
        col("l").cast("long").as("loss_sum"),
        when(col("g") + col("l") === 0, lit(null).cast("double"))
          .otherwise(round(lit(100.0) * col("g").cast("double") /
            (col("g") + col("l")).cast("double"), 6)).as("rsi"))
      .orderBy("event_type", "day")
  }

  val rsiDailySql: String =
    """WITH daily AS (
      |  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
      |    CAST(sum(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS cents
      |  FROM events GROUP BY 1,2),
      |delta AS (
      |  SELECT event_type, day,
      |    cents - lag(cents) OVER (PARTITION BY event_type ORDER BY day)
      |      AS delta
      |  FROM daily),
      |win AS (
      |  SELECT event_type, day,
      |    sum(greatest(delta, 0)) OVER w AS g,
      |    sum(greatest(-delta, 0)) OVER w AS l,
      |    count(*) OVER w AS m
      |  FROM delta WHERE delta IS NOT NULL
      |  WINDOW w AS (PARTITION BY event_type ORDER BY day
      |    ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
      |SELECT event_type, day,
      |  CAST(g AS BIGINT) AS gain_sum, CAST(l AS BIGINT) AS loss_sum,
      |  CASE WHEN g + l = 0 THEN NULL
      |    ELSE round(100.0 * CAST(g AS DOUBLE) / CAST(g + l AS DOUBLE), 6)
      |  END AS rsi
      |FROM win WHERE m = 14 ORDER BY event_type, day""".stripMargin

  /** LJUNG-BOX PORTMANTEAU TEST on daily order revenue: is the series
    * white noise, or is there autocorrelation at ANY lag ≤ 7?
    * Q = n(n+2) Σ_k ρ_k²/(n−k) over [[acfDailyRevenue]]'s lag-k
    * correlations — the standard residual-whiteness gate run after any
    * forecast fit ([[rollingOlsDaily]], [[ewmaDaily]], q_seasonal).
    *
    * Determinism: ρ_k comes from exact decimal power sums with sqrt as
    * the only transcendental (correctly rounded per IEEE, so
    * bit-identical) — and the 7 Q-terms fold over the lag-SORTED array,
    * both engines accumulating in identical order. n (day count) is
    * taken from the same daily frame the ACF pairs join over.
    *
    * Scale: the day aggregate is the only pass over facts; everything
    * else is O(days·7) then one 7-element fold. */
  def ljungBox(s: SparkSession, d: String): DataFrame = {
    val acf = acfDailyRevenue(s, d)
    val n = Tables.orders(s, d)
      .select(to_date(col("o_orderdate")).as("day")).distinct()
      .agg(count(lit(1)).cast("long").as("n_days"))
    acf.crossJoin(broadcast(n))
      .agg(max(col("n_days")).as("n_days"),
        count(lit(1)).cast("long").as("h"),
        sort_array(collect_list(struct(col("lag"), col("acf"),
          col("n_days").as("nd")))).as("a"))
      .select(col("n_days"), col("h"),
        round(expr("""aggregate(a, CAST(0.0 AS DOUBLE),
            (acc, e) -> acc + e.acf * e.acf / (e.nd - e.lag))""")
          * col("n_days") * (col("n_days") + 2), 6).as("q_stat"))
  }

  /** SEASONAL/TREND STRENGTH (the STL-decomposition readout,
    * Hyndman's F_s/F_t): how much of daily revenue variance is weekly
    * seasonality vs trend vs noise? Trend = 7-day centered moving
    * average, seasonal = day-of-week mean of the detrended series,
    * F = max(0, 1 − Var(remainder)/Var(component)) — the statistic
    * forecasting pipelines use to pick model structure (and the formal
    * face of [[acfDailyRevenue]]'s lag-7 spike).
    *
    * Numeric contract: the detrended numerator ν = 7x − S₇ and the
    * per-dow totals are EXACT integers; the remainder doubles derive
    * from them identically on both engines; the two variance sums
    * accumulate doubles in engine aggregation order, so the outputs
    * round to 4dp (the lmScore precedent: summation-order error
    * ~1e-13, far inside 4dp).
    *
    * Scale: one combinable day aggregate; the centered MA is a 7-row
    * window over O(days); dow means are a 7-key aggregate. */
  def seasonalStrength(s: SparkSession, d: String): DataFrame = {
    val daily = Tables.orders(s, d)
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg((sum(col("o_totalprice").cast(DecimalType(18, 2))) * 100)
        .cast("long").as("cents"))
    val w = Window.orderBy("day").rowsBetween(-3, 3)
    val centered = daily
      .withColumn("s7", sum(col("cents")).over(w))
      .withColumn("m", count(lit(1)).over(w))
      .filter(col("m") === 7)
      .select(col("day"), col("cents"),
        (lit(7) * col("cents") - col("s7")).as("nu"),
        dayofweek(col("day")).as("dow"))
    val dowStats = centered.groupBy("dow")
      .agg(count(lit(1)).cast("long").as("nd"),
        sum(col("nu")).cast("long").as("td"))
    val scored = centered.join(dowStats, Seq("dow"))
      .select(
        (col("nu").cast("double") / 7.0).as("dtr"),
        (col("nu").cast("double") / 7.0 -
          col("td").cast("double") / (lit(7.0) * col("nd"))).as("rem"),
        (col("cents").cast("double") -
          col("td").cast("double") / (lit(7.0) * col("nd"))).as("deseas"))
    def popVar(c: String): Column =
      (sum(col(c) * col(c)) / count(lit(1)) -
        (sum(col(c)) / count(lit(1))) * (sum(col(c)) / count(lit(1))))
    scored.agg(count(lit(1)).cast("long").as("n_days"),
      popVar("dtr").as("vd"), popVar("rem").as("vr"),
      popVar("deseas").as("va"))
      .select(col("n_days"),
        when(col("vd") <= 0, lit(null).cast("double"))
          .otherwise(round(greatest(lit(0.0),
            lit(1.0) - col("vr") / col("vd")), 4)).as("seasonal_strength"),
        when(col("va") <= 0, lit(null).cast("double"))
          .otherwise(round(greatest(lit(0.0),
            lit(1.0) - col("vr") / col("va")), 4)).as("trend_strength"))
  }

  val seasonalStrengthSql: String =
    """WITH daily AS (
      |  SELECT CAST(o_orderdate AS DATE) AS day,
      |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
      |      AS cents
      |  FROM orders GROUP BY 1),
      |centered AS (
      |  SELECT day, cents, 7 * cents - s7 AS nu, dayofweek(day) AS dow
      |  FROM (
      |    SELECT day, cents,
      |      sum(cents) OVER w AS s7, count(*) OVER w AS m
      |    FROM daily
      |    WINDOW w AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3
      |      FOLLOWING))
      |  WHERE m = 7),
      |dow_stats AS (
      |  SELECT dow, count(*) AS nd, CAST(sum(nu) AS BIGINT) AS td
      |  FROM centered GROUP BY 1),
      |scored AS (
      |  SELECT CAST(nu AS DOUBLE) / 7.0 AS dtr,
      |    CAST(nu AS DOUBLE) / 7.0 - CAST(td AS DOUBLE) / (7.0 * nd)
      |      AS rem,
      |    CAST(cents AS DOUBLE) - CAST(td AS DOUBLE) / (7.0 * nd)
      |      AS deseas
      |  FROM centered JOIN dow_stats USING (dow)),
      |v AS (
      |  SELECT count(*) AS n_days,
      |    sum(dtr * dtr) / count(*)
      |      - (sum(dtr) / count(*)) * (sum(dtr) / count(*)) AS vd,
      |    sum(rem * rem) / count(*)
      |      - (sum(rem) / count(*)) * (sum(rem) / count(*)) AS vr,
      |    sum(deseas * deseas) / count(*)
      |      - (sum(deseas) / count(*)) * (sum(deseas) / count(*)) AS va
      |  FROM scored)
      |SELECT CAST(n_days AS BIGINT) AS n_days,
      |  CASE WHEN vd <= 0 THEN NULL
      |    ELSE round(greatest(0.0, 1.0 - vr / vd), 4) END
      |    AS seasonal_strength,
      |  CASE WHEN va <= 0 THEN NULL
      |    ELSE round(greatest(0.0, 1.0 - vr / va), 4) END
      |    AS trend_strength
      |FROM v""".stripMargin

  /** SAX SYMBOLIZATION (Lin et al.): daily revenue compressed to a
    * 4-symbol string — PAA over 7-day segments, z-normalized, binned at
    * the Gaussian quartile breakpoints {−0.6745, 0, 0.6745} (literals).
    * The time-series indexing/motif-discovery representation; ships the
    * per-segment symbols and the symbol census.
    *
    * Binning after a float z-score is usually the engine-divergence
    * trap (a compare is discontinuous) — here it is safe because every
    * input to the compare is BIT-IDENTICAL on both engines: PAA and μ
    * are exact-integer ratios, σ is one IEEE sqrt of an exact integer,
    * and the z expression applies the same ops in the same order, so
    * both engines bin the identical double.
    *
    * Scale: one combinable day aggregate, segment aggregate on
    * O(days/7) keys, one scalar moment row broadcast. */
  def saxSymbols(s: SparkSession, d: String): DataFrame = {
    val big = DecimalType(38, 0)
    val daily = Tables.orders(s, d)
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg((sum(col("o_totalprice").cast(DecimalType(18, 2))) * 100)
        .cast("long").as("cents"))
    val idx = daily
      .withColumn("rn", row_number().over(Window.orderBy("day")) - 1)
    val nd = daily.agg(count(lit(1)).cast("long").as("nd"),
      sum(col("cents").cast(big)).cast(big).as("gs"),
      sum(col("cents").cast(big) * col("cents").cast(big)).cast(big)
        .as("gq"))
    val segs = idx.crossJoin(broadcast(nd))
      .filter(col("rn") < (col("nd") - col("nd") % 7))
      .groupBy((col("rn") / 7).cast("long").as("seg"))
      .agg(min(col("day")).as("seg_start"),
        sum(col("cents").cast(big)).cast(big).as("ss"),
        max(col("nd")).as("nd"), max(col("gs").cast(big)).as("gs"),
        max(col("gq").cast(big)).as("gq"))
    // z = (paa − μ) / σ, every term derived from exact sums
    val paa = col("ss").cast("double") / 7.0
    val mu = col("gs").cast("double") / col("nd")
    val sg = sqrt((col("nd") * col("gq") - col("gs") * col("gs"))
      .cast("double")) / col("nd").cast("double")
    val z = (paa - mu) / sg
    val sym = when(z < -0.6745, lit("a")).when(z < 0.0, lit("b"))
      .when(z < 0.6745, lit("c")).otherwise(lit("d"))
    // seg_cents (exact long) instead of a rounded PAA double: DuckDB's
    // round() multiplies by 10^6 first, which at 1e9-cent magnitudes
    // exceeds double's exact-integer range and flips the last digit —
    // the one rounding class the hash gate can't absorb.
    segs.select(col("seg"), col("seg_start"),
      col("ss").cast("long").as("seg_cents"),
      round(z, 6).as("z"), sym.as("symbol"))
      .orderBy("seg")
  }

  val saxSymbolsSql: String =
    """WITH daily AS (
      |  SELECT CAST(o_orderdate AS DATE) AS day,
      |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
      |      AS cents
      |  FROM orders GROUP BY 1),
      |nd AS (
      |  SELECT count(*) AS nd, sum(CAST(cents AS HUGEINT)) AS gs,
      |    sum(CAST(cents AS HUGEINT) * cents) AS gq
      |  FROM daily),
      |idx AS (
      |  SELECT row_number() OVER (ORDER BY day) - 1 AS rn, day, cents
      |  FROM daily),
      |segs AS (
      |  SELECT rn // 7 AS seg, min(day) AS seg_start,
      |    sum(CAST(cents AS HUGEINT)) AS ss,
      |    max(nd.nd) AS nd, max(nd.gs) AS gs, max(nd.gq) AS gq
      |  FROM idx CROSS JOIN nd
      |  WHERE rn < nd.nd - nd.nd % 7
      |  GROUP BY 1)
      |SELECT CAST(seg AS BIGINT) AS seg, seg_start,
      |  CAST(ss AS BIGINT) AS seg_cents,
      |  round((CAST(ss AS DOUBLE) / 7.0 - CAST(gs AS DOUBLE) / nd)
      |    / (sqrt(CAST(nd * gq - gs * gs AS DOUBLE)) / CAST(nd AS DOUBLE)),
      |    6) AS z,
      |  CASE
      |    WHEN (CAST(ss AS DOUBLE) / 7.0 - CAST(gs AS DOUBLE) / nd)
      |      / (sqrt(CAST(nd * gq - gs * gs AS DOUBLE)) / CAST(nd AS DOUBLE))
      |      < -0.6745 THEN 'a'
      |    WHEN (CAST(ss AS DOUBLE) / 7.0 - CAST(gs AS DOUBLE) / nd)
      |      / (sqrt(CAST(nd * gq - gs * gs AS DOUBLE)) / CAST(nd AS DOUBLE))
      |      < 0.0 THEN 'b'
      |    WHEN (CAST(ss AS DOUBLE) / 7.0 - CAST(gs AS DOUBLE) / nd)
      |      / (sqrt(CAST(nd * gq - gs * gs AS DOUBLE)) / CAST(nd AS DOUBLE))
      |      < 0.6745 THEN 'c'
      |    ELSE 'd' END AS symbol
      |FROM segs ORDER BY seg""".stripMargin

  /** PEAK DETECTION: strict local maxima of daily revenue over a ±3-day
    * neighborhood — the spike screen behind alerting and promo-impact
    * readouts. Entirely integer comparisons (a peak strictly exceeds
    * all six neighbors; boundary days with fewer than six neighbors are
    * excluded), so the peak set can never flip on a ulp. Ships the
    * top-20 peaks by (cents DESC, day).
    *
    * Scale: one combinable day aggregate, one 7-row window over
    * O(days). */
  def peakDetection(s: SparkSession, d: String): DataFrame = {
    val ord = Window.orderBy("day")
    val daily = Tables.orders(s, d)
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg((sum(col("o_totalprice").cast(DecimalType(18, 2))) * 100)
        .cast("long").as("cents"))
    val nbrs = (1 to 3).flatMap(k => Seq(
      lag(col("cents"), k).over(ord).as(s"lb$k"),
      lead(col("cents"), k).over(ord).as(s"la$k")))
    val scored = daily.select(col("day") +: col("cents") +: nbrs: _*)
    val isPeak = (1 to 3).map(k =>
      col(s"lb$k").isNotNull && col(s"la$k").isNotNull &&
        col("cents") > col(s"lb$k") && col("cents") > col(s"la$k"))
      .reduce(_ && _)
    scored.filter(isPeak)
      .select(col("day"), col("cents"),
        greatest((1 to 3).flatMap(k =>
          Seq(col(s"lb$k"), col(s"la$k"))): _*).as("max_neighbor"))
      .withColumn("prominence", col("cents") - col("max_neighbor"))
      .orderBy(col("cents").desc, col("day"))
      .limit(20)
  }

  val peakDetectionSql: String =
    """WITH daily AS (
      |  SELECT CAST(o_orderdate AS DATE) AS day,
      |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
      |      AS cents
      |  FROM orders GROUP BY 1),
      |nb AS (
      |  SELECT day, cents,
      |    lag(cents, 1) OVER w AS lb1, lead(cents, 1) OVER w AS la1,
      |    lag(cents, 2) OVER w AS lb2, lead(cents, 2) OVER w AS la2,
      |    lag(cents, 3) OVER w AS lb3, lead(cents, 3) OVER w AS la3
      |  FROM daily WINDOW w AS (ORDER BY day))
      |SELECT day, cents,
      |  greatest(lb1, la1, lb2, la2, lb3, la3) AS max_neighbor,
      |  cents - greatest(lb1, la1, lb2, la2, lb3, la3) AS prominence
      |FROM nb
      |WHERE lb1 IS NOT NULL AND la1 IS NOT NULL
      |  AND lb2 IS NOT NULL AND la2 IS NOT NULL
      |  AND lb3 IS NOT NULL AND la3 IS NOT NULL
      |  AND cents > lb1 AND cents > la1 AND cents > lb2
      |  AND cents > la2 AND cents > lb3 AND cents > la3
      |ORDER BY cents DESC, day LIMIT 20""".stripMargin

  /** DICKEY–FULLER UNIT-ROOT TEST (no-lag, with constant) on daily
    * order revenue: Δyₜ = α + β·yₜ₋₁ + ε; β near 0 = random walk
    * (unit root), strongly negative t = stationary/mean-reverting —
    * the stationarity gate run before any ARMA-class fit (and the
    * formal face of [[hurstExponent]]'s H < ½ readout).
    *
    * Exactness: x = yₜ₋₁ and y = Δyₜ are exact integer cents via lag;
    * all six power sums (n, Σx, Σy, Σxy, Σxx, Σyy) are exact
    * decimal(38,0); β̂, SSE, se and the t-statistic are ONE pinned
    * double formula each, evaluated in identical operation order on
    * both engines.
    *
    * Scale: one combinable day aggregate over facts, one lag window
    * over O(days), one scalar aggregate. */
  def dickeyFuller(s: SparkSession, d: String): DataFrame = {
    val big = DecimalType(38, 0)
    val ord = Window.orderBy("day")
    val frame = Tables.orders(s, d)
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg((sum(col("o_totalprice").cast(DecimalType(18, 2))) * 100)
        .cast("long").as("cents"))
      .select(col("day"), col("cents"),
        lag(col("cents"), 1).over(ord).as("prev"))
      .filter(col("prev").isNotNull)
      .select(col("prev").cast(big).as("x"),
        (col("cents") - col("prev")).cast(big).as("y"))
    val sums = frame.agg(count(lit(1)).cast("long").as("n"),
      sum(col("x")).cast(big).as("sx"), sum(col("y")).cast(big).as("sy"),
      sum(col("x") * col("y")).cast(big).as("sxy"),
      sum(col("x") * col("x")).cast(big).as("sxx"),
      sum(col("y") * col("y")).cast(big).as("syy"))
    val beta = (col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
      (col("n") * col("sxx") - col("sx") * col("sx")).cast("double")
    val cSxx = col("sxx").cast("double") -
      col("sx").cast("double") * col("sx").cast("double") / col("n")
    val cSyy = col("syy").cast("double") -
      col("sy").cast("double") * col("sy").cast("double") / col("n")
    val cSxy = col("sxy").cast("double") -
      col("sx").cast("double") * col("sy").cast("double") / col("n")
    sums.select(col("n"),
      round(beta, 6).as("beta"),
      round(beta / sqrt(((cSyy - beta * cSxy) / (col("n") - 2)) / cSxx), 6)
        .as("t_stat"))
  }

  val dickeyFullerSql: String =
    """WITH daily AS (
      |  SELECT CAST(o_orderdate AS DATE) AS day,
      |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
      |      AS cents
      |  FROM orders GROUP BY 1),
      |fr AS (
      |  SELECT CAST(prev AS HUGEINT) AS x,
      |    CAST(cents - prev AS HUGEINT) AS y
      |  FROM (SELECT cents, lag(cents) OVER (ORDER BY day) AS prev
      |    FROM daily)
      |  WHERE prev IS NOT NULL),
      |s AS (
      |  SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
      |    sum(x * y) AS sxy, sum(x * x) AS sxx, sum(y * y) AS syy
      |  FROM fr)
      |SELECT CAST(n AS BIGINT) AS n,
      |  round(CAST(n * sxy - sx * sy AS DOUBLE)
      |    / CAST(n * sxx - sx * sx AS DOUBLE), 6) AS beta,
      |  round((CAST(n * sxy - sx * sy AS DOUBLE)
      |      / CAST(n * sxx - sx * sx AS DOUBLE))
      |    / sqrt((((CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE)
      |          * CAST(sy AS DOUBLE) / n)
      |        - (CAST(n * sxy - sx * sy AS DOUBLE)
      |          / CAST(n * sxx - sx * sx AS DOUBLE))
      |          * (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)
      |            * CAST(sy AS DOUBLE) / n)) / (n - 2))
      |      / (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)
      |        * CAST(sx AS DOUBLE) / n)), 6) AS t_stat
      |FROM s""".stripMargin

  /** LO–MACKINLAY VARIANCE-RATIO TEST at horizons q ∈ {2, 4, 8}:
    * VR(q) = Var(yₜ − yₜ₋q) / (q · Var(yₜ − yₜ₋₁)) over daily revenue.
    * A random walk gives VR ≈ 1; VR < 1 = mean reversion, VR > 1 =
    * trending — the horizon-resolved companion to [[dickeyFuller]]
    * (which tests only the 1-step root) and [[hurstExponent]].
    *
    * Exactness: both differences are exact integers via lag windows;
    * each variance is one pinned double from exact decimal power sums
    * (population form, the overlapping-observations estimator without
    * small-sample bias correction — pinned identically on both
    * engines); one division per q.
    *
    * Scale: one day aggregate over facts; 4 lag columns in ONE window
    * pass over O(days); per-q scalar sums. */
  def varianceRatio(s: SparkSession, d: String): DataFrame = {
    val big = DecimalType(38, 0)
    val ord = Window.orderBy("day")
    val lagged = Tables.orders(s, d)
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg((sum(col("o_totalprice").cast(DecimalType(18, 2))) * 100)
        .cast("long").as("cents"))
      .select(col("cents"),
        lag(col("cents"), 1).over(ord).as("p1"),
        lag(col("cents"), 2).over(ord).as("p2"),
        lag(col("cents"), 4).over(ord).as("p4"),
        lag(col("cents"), 8).over(ord).as("p8"))
    def popVar(diff: Column): Seq[Column] = Seq(
      count(diff).cast("long"),
      sum(diff.cast(big)).cast(big),
      sum(diff.cast(big) * diff.cast(big)).cast(big))
    val sums = lagged.agg(
      popVar(col("cents") - col("p1"))(0).as("n1"),
      (popVar(col("cents") - col("p1"))(1)).as("s1"),
      (popVar(col("cents") - col("p1"))(2)).as("q1"),
      popVar(col("cents") - col("p2"))(0).as("n2"),
      (popVar(col("cents") - col("p2"))(1)).as("s2"),
      (popVar(col("cents") - col("p2"))(2)).as("q2"),
      popVar(col("cents") - col("p4"))(0).as("n4"),
      (popVar(col("cents") - col("p4"))(1)).as("s4"),
      (popVar(col("cents") - col("p4"))(2)).as("q4"),
      popVar(col("cents") - col("p8"))(0).as("n8"),
      (popVar(col("cents") - col("p8"))(1)).as("s8"),
      (popVar(col("cents") - col("p8"))(2)).as("q8"))
    def v(n: Column, sx: Column, q: Column): Column =
      q.cast("double") / n -
        (sx.cast("double") / n) * (sx.cast("double") / n)
    val base = v(col("n1"), col("s1"), col("q1"))
    sums.select(
      explode(array(
        struct(lit(2L).as("q"), col("n2").as("nq"),
          round(v(col("n2"), col("s2"), col("q2")) / (lit(2) * base), 6)
            .as("vr")),
        struct(lit(4L).as("q"), col("n4").as("nq"),
          round(v(col("n4"), col("s4"), col("q4")) / (lit(4) * base), 6)
            .as("vr")),
        struct(lit(8L).as("q"), col("n8").as("nq"),
          round(v(col("n8"), col("s8"), col("q8")) / (lit(8) * base), 6)
            .as("vr")))).as("r"))
      .select(col("r.q").as("q"), col("r.nq").as("n_obs"),
        col("r.vr").as("vr"))
      .orderBy("q")
  }

  val varianceRatioSql: String =
    """WITH daily AS (
      |  SELECT CAST(o_orderdate AS DATE) AS day,
      |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
      |      AS cents
      |  FROM orders GROUP BY 1),
      |lagged AS (
      |  SELECT cents,
      |    lag(cents, 1) OVER w AS p1, lag(cents, 2) OVER w AS p2,
      |    lag(cents, 4) OVER w AS p4, lag(cents, 8) OVER w AS p8
      |  FROM daily WINDOW w AS (ORDER BY day)),
      |s AS (
      |  SELECT
      |    count(cents - p1) AS n1, sum(CAST(cents - p1 AS HUGEINT)) AS s1,
      |    sum(CAST(cents - p1 AS HUGEINT) * (cents - p1)) AS q1,
      |    count(cents - p2) AS n2, sum(CAST(cents - p2 AS HUGEINT)) AS s2,
      |    sum(CAST(cents - p2 AS HUGEINT) * (cents - p2)) AS q2,
      |    count(cents - p4) AS n4, sum(CAST(cents - p4 AS HUGEINT)) AS s4,
      |    sum(CAST(cents - p4 AS HUGEINT) * (cents - p4)) AS q4,
      |    count(cents - p8) AS n8, sum(CAST(cents - p8 AS HUGEINT)) AS s8,
      |    sum(CAST(cents - p8 AS HUGEINT) * (cents - p8)) AS q8
      |  FROM lagged),
      |rows_out AS (
      |  SELECT 2 AS q, n2 AS n_obs,
      |    round((CAST(q2 AS DOUBLE) / n2
      |      - (CAST(s2 AS DOUBLE) / n2) * (CAST(s2 AS DOUBLE) / n2))
      |      / (2 * (CAST(q1 AS DOUBLE) / n1
      |        - (CAST(s1 AS DOUBLE) / n1) * (CAST(s1 AS DOUBLE) / n1))), 6)
      |      AS vr
      |  FROM s
      |  UNION ALL
      |  SELECT 4, n4,
      |    round((CAST(q4 AS DOUBLE) / n4
      |      - (CAST(s4 AS DOUBLE) / n4) * (CAST(s4 AS DOUBLE) / n4))
      |      / (4 * (CAST(q1 AS DOUBLE) / n1
      |        - (CAST(s1 AS DOUBLE) / n1) * (CAST(s1 AS DOUBLE) / n1))), 6)
      |  FROM s
      |  UNION ALL
      |  SELECT 8, n8,
      |    round((CAST(q8 AS DOUBLE) / n8
      |      - (CAST(s8 AS DOUBLE) / n8) * (CAST(s8 AS DOUBLE) / n8))
      |      / (8 * (CAST(q1 AS DOUBLE) / n1
      |        - (CAST(s1 AS DOUBLE) / n1) * (CAST(s1 AS DOUBLE) / n1))), 6)
      |  FROM s)
      |SELECT CAST(q AS BIGINT) AS q, CAST(n_obs AS BIGINT) AS n_obs, vr
      |FROM rows_out ORDER BY q""".stripMargin

  /** HURST EXPONENT by rescaled-range (R/S) analysis of daily order
    * revenue: H > ½ = long-memory persistence, H ≈ ½ = random walk,
    * H < ½ = mean reversion — the classic long-range-dependence readout
    * (Mandelbrot's R/S), fit over block sizes w ∈ {7, 14, 28}.
    *
    * Exactness: the centered running sum is cleared of floats —
    * w·Y_t = w·cumsum(x) − (t+1)·Σx is an exact integer, so the range
    * R·w is exact; S·w = √(w·Q − S²) is one IEEE sqrt of an exact
    * integer; R/S = (R·w)/(S·w) is one division. Per-w averages fold
    * over the block-sorted array, the 3-point ln-ln slope folds over
    * the w-sorted array (the zipf discipline). Constant blocks (S = 0)
    * are excluded on both engines.
    *
    * Scale: one combinable day aggregate over facts; block windows are
    * keyed by (w, block) — thousands of independent partitions, not a
    * funnel. The day-index row_number is the only O(days)
    * single-partition step (advisory class, O(days) rows). */
  def hurstExponent(s: SparkSession, d: String): DataFrame = {
    val big = DecimalType(38, 0)
    val daily = Tables.orders(s, d)
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg((sum(col("o_totalprice").cast(DecimalType(18, 2))) * 100)
        .cast("long").as("cents"))
    val nd = daily.agg(count(lit(1)).cast("long").as("nd"))
    val idx = daily
      .withColumn("rn", row_number().over(Window.orderBy("day")) - 1)
    val ws = idx.crossJoin(broadcast(nd))
      .select(col("rn"), col("cents"), col("nd"),
        explode(array(lit(7L), lit(14L), lit(28L))).as("w"))
      .filter(col("rn") < (col("nd") - col("nd") % col("w")))
      .select(col("w"), (col("rn") / col("w")).cast("long").as("blk"),
        (col("rn") % col("w")).as("pos"), col("cents"))
    val wRun = Window.partitionBy("w", "blk").orderBy("pos")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy("w", "blk")
    val cum = ws
      .withColumn("sx", sum(col("cents").cast(big)).over(wAll))
      .withColumn("sq",
        sum(col("cents").cast(big) * col("cents").cast(big)).over(wAll))
      .withColumn("yw", col("w") * sum(col("cents").cast(big)).over(wRun)
        - (col("pos") + 1) * col("sx"))
    val perBlock = cum
      .withColumn("rw", max(col("yw")).over(wAll) - min(col("yw")).over(wAll))
      .filter(col("pos") === 0)
      .select(col("w"), col("blk"), col("rw"),
        (col("w") * col("sq") - col("sx") * col("sx")).as("s2w2"))
      .filter(col("s2w2") > 0)
      .select(col("w"), col("blk"),
        (col("rw").cast("double") / sqrt(col("s2w2").cast("double")))
          .as("rs"))
    val perW = perBlock.groupBy("w")
      .agg(count(lit(1)).cast("long").as("n_blocks"),
        sort_array(collect_list(struct(col("blk"), col("rs")))).as("a"))
      .select(col("w"), col("n_blocks"),
        (expr("""aggregate(a, CAST(0.0 AS DOUBLE),
            (acc, e) -> acc + e.rs)""") / col("n_blocks")).as("avg_rs"))
    // m <= 1 guard (single-customer edge sweep): with zero or one
    // window size surviving, the log-log slope denominator is exactly 0
    // (m = 1: the same ln(w)² product appears on both sides) — NULL on
    // DuckDB's x/0, ANSI error here; the broadcast side evaluates even
    // when per_w is empty, so the guard must live inside fit itself
    val fit = perW
      .agg(sort_array(collect_list(struct(col("w"), col("avg_rs"))))
        .as("pts"), count(lit(1)).cast("long").as("m"))
      .select(when(col("m") <= 1L, lit(null).cast("double")).otherwise(
        (col("m") * expr("""aggregate(pts, CAST(0.0 AS DOUBLE),
            (acc, e) -> acc + ln(CAST(e.w AS DOUBLE)) * ln(e.avg_rs))""")
          - expr("""aggregate(pts, CAST(0.0 AS DOUBLE),
            (acc, e) -> acc + ln(CAST(e.w AS DOUBLE)))""")
          * expr("""aggregate(pts, CAST(0.0 AS DOUBLE),
            (acc, e) -> acc + ln(e.avg_rs))""")) /
        (col("m") * expr("""aggregate(pts, CAST(0.0 AS DOUBLE),
            (acc, e) -> acc + ln(CAST(e.w AS DOUBLE)) * ln(CAST(e.w AS DOUBLE)))""")
          - expr("""aggregate(pts, CAST(0.0 AS DOUBLE),
            (acc, e) -> acc + ln(CAST(e.w AS DOUBLE)))""")
          * expr("""aggregate(pts, CAST(0.0 AS DOUBLE),
            (acc, e) -> acc + ln(CAST(e.w AS DOUBLE)))""")))
        .as("hurst"))
    perW.crossJoin(broadcast(fit))
      .select(col("w"), col("n_blocks"), round(col("avg_rs"), 6).as("avg_rs"),
        round(col("hurst"), 6).as("hurst"))
      .orderBy("w")
  }

  val hurstExponentSql: String =
    """WITH daily AS (
      |  SELECT CAST(o_orderdate AS DATE) AS day,
      |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
      |      AS cents
      |  FROM orders GROUP BY 1),
      |nd AS (SELECT count(*) AS nd FROM daily),
      |idx AS (
      |  SELECT row_number() OVER (ORDER BY day) - 1 AS rn, cents
      |  FROM daily),
      |blocks AS (
      |  SELECT w, rn // w AS blk, rn % w AS pos, cents
      |  FROM idx CROSS JOIN nd
      |  CROSS JOIN (SELECT UNNEST([7, 14, 28]) AS w) ws
      |  WHERE rn < nd - nd % w),
      |cum AS (
      |  SELECT w, blk, pos,
      |    sum(CAST(cents AS HUGEINT)) OVER wa AS sx,
      |    sum(CAST(cents AS HUGEINT) * cents) OVER wa AS sq,
      |    w * sum(CAST(cents AS HUGEINT)) OVER wr - (pos + 1)
      |      * sum(CAST(cents AS HUGEINT)) OVER wa AS yw
      |  FROM blocks
      |  WINDOW wa AS (PARTITION BY w, blk),
      |    wr AS (PARTITION BY w, blk ORDER BY pos
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      |per_block AS (
      |  SELECT w, blk,
      |    CAST(max(yw) OVER wa - min(yw) OVER wa AS HUGEINT) AS rw,
      |    w * sq - sx * sx AS s2w2, pos
      |  FROM cum
      |  WINDOW wa AS (PARTITION BY w, blk)),
      |rs AS (
      |  SELECT w, blk,
      |    CAST(rw AS DOUBLE) / sqrt(CAST(s2w2 AS DOUBLE)) AS rs
      |  FROM per_block WHERE pos = 0 AND s2w2 > 0),
      |per_w AS (
      |  SELECT w, count(*) AS n_blocks,
      |    list_sum(list_transform(
      |      list(struct_pack(blk := blk, rs := rs) ORDER BY blk),
      |      e -> e.rs)) / count(*) AS avg_rs
      |  FROM rs GROUP BY 1),
      |fitbase AS (
      |  SELECT count(*) AS m,
      |    list(struct_pack(w := w, avg_rs := avg_rs) ORDER BY w) AS pts
      |  FROM per_w),
      |fit AS (
      |  SELECT (m * list_sum(list_transform(pts,
      |      e -> ln(CAST(e.w AS DOUBLE)) * ln(e.avg_rs)))
      |    - list_sum(list_transform(pts, e -> ln(CAST(e.w AS DOUBLE))))
      |      * list_sum(list_transform(pts, e -> ln(e.avg_rs)))) /
      |    (m * list_sum(list_transform(pts,
      |      e -> ln(CAST(e.w AS DOUBLE)) * ln(CAST(e.w AS DOUBLE))))
      |    - list_sum(list_transform(pts, e -> ln(CAST(e.w AS DOUBLE))))
      |      * list_sum(list_transform(pts, e -> ln(CAST(e.w AS DOUBLE)))))
      |    AS hurst
      |  FROM fitbase)
      |SELECT CAST(p.w AS BIGINT) AS w, CAST(p.n_blocks AS BIGINT)
      |    AS n_blocks,
      |  round(p.avg_rs, 6) AS avg_rs, round(f.hurst, 6) AS hurst
      |FROM per_w p CROSS JOIN fit f ORDER BY p.w""".stripMargin

  /** PERMUTATION ENTROPY (Bandt–Pompe, m = 3): the complexity of each
    * daily-revenue series measured on ORDINAL patterns of 3 consecutive
    * days — regular/seasonal series concentrate on few patterns (low H),
    * noise spreads over all 6 (H → ln 6). The standard model-free
    * complexity screen next to [[acfDailyRevenue]]/[[ljungBox]].
    *
    * Determinism: the pattern id is pure integer comparisons
    * (4·[x₁>x₀] + 2·[x₂>x₀] + [x₂>x₁] — ties collapse to "not greater",
    * the earlier-day-smaller convention, identically on both engines);
    * the ≤6 −p·ln p terms fold over the pattern-id-sorted array (the
    * zipf ln-fold discipline).
    *
    * Scale: one combinable day aggregate over facts; lead windows and
    * the pattern census run on O(types × days). */
  def permutationEntropy(s: SparkSession, d: String): DataFrame = {
    val ord = Window.partitionBy("event_type").orderBy("day")
    val pats = dailyCents(s, d)
      .withColumn("x1", lead(col("cents"), 1).over(ord))
      .withColumn("x2", lead(col("cents"), 2).over(ord))
      .filter(col("x2").isNotNull)
      .select(col("event_type"),
        (when(col("x1") > col("cents"), 4).otherwise(0) +
          when(col("x2") > col("cents"), 2).otherwise(0) +
          when(col("x2") > col("x1"), 1).otherwise(0)).as("pid"))
    val census = pats.groupBy("event_type", "pid")
      .agg(count(lit(1)).cast("long").as("c"))
    census.groupBy("event_type")
      .agg(sum(col("c")).cast("long").as("n_windows"),
        count(lit(1)).cast("long").as("n_patterns"),
        sort_array(collect_list(struct(col("pid"), col("c")))).as("a"))
      .select(col("event_type"), col("n_windows"), col("n_patterns"),
        round(expr("""aggregate(a, CAST(0.0 AS DOUBLE), (acc, e) ->
            acc - (CAST(e.c AS DOUBLE) / n_windows)
              * ln(CAST(e.c AS DOUBLE) / n_windows))"""), 6).as("entropy"))
      .select(col("event_type"), col("n_windows"), col("n_patterns"),
        col("entropy"),
        round(col("entropy") / math.log(6.0), 6).as("norm_entropy"))
      .orderBy("event_type")
  }

  val permutationEntropySql: String =
    """WITH daily AS (
      |  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
      |    CAST(sum(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS cents
      |  FROM events GROUP BY 1,2),
      |pats AS (
      |  SELECT event_type,
      |    (CASE WHEN x1 > cents THEN 4 ELSE 0 END +
      |     CASE WHEN x2 > cents THEN 2 ELSE 0 END +
      |     CASE WHEN x2 > x1 THEN 1 ELSE 0 END) AS pid
      |  FROM (
      |    SELECT event_type, cents,
      |      lead(cents, 1) OVER w AS x1, lead(cents, 2) OVER w AS x2
      |    FROM daily
      |    WINDOW w AS (PARTITION BY event_type ORDER BY day))
      |  WHERE x2 IS NOT NULL),
      |census AS (
      |  SELECT event_type, pid, count(*) AS c
      |  FROM pats GROUP BY 1, 2),
      |folded AS (
      |  SELECT event_type, CAST(sum(c) AS BIGINT) AS n_windows,
      |    count(*) AS n_patterns,
      |    list(struct_pack(pid := pid, c := c) ORDER BY pid) AS a
      |  FROM census GROUP BY 1)
      |SELECT event_type, n_windows, CAST(n_patterns AS BIGINT)
      |    AS n_patterns,
      |  round(list_sum(list_transform(a, e ->
      |    -(CAST(e.c AS DOUBLE) / n_windows)
      |      * ln(CAST(e.c AS DOUBLE) / n_windows))), 6) AS entropy,
      |  round(list_sum(list_transform(a, e ->
      |    -(CAST(e.c AS DOUBLE) / n_windows)
      |      * ln(CAST(e.c AS DOUBLE) / n_windows))) / ln(6.0), 6)
      |    AS norm_entropy
      |FROM folded ORDER BY event_type""".stripMargin

  val ljungBoxSql: String =
    """WITH daily AS (
      |  SELECT CAST(o_orderdate AS DATE) AS day,
      |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
      |      AS cents
      |  FROM orders GROUP BY 1),
      |lags AS (SELECT UNNEST(range(1, 8)) AS lag),
      |pairs AS (
      |  SELECT l.lag, a.cents AS x, b.cents AS y
      |  FROM daily a CROSS JOIN lags l
      |  JOIN daily b ON b.day = a.day + CAST(l.lag AS INTEGER)),
      |m AS (
      |  SELECT lag, count(*) AS n,
      |    sum(CAST(x AS HUGEINT)) AS sx, sum(CAST(y AS HUGEINT)) AS sy,
      |    sum(CAST(x AS HUGEINT) * y) AS sxy,
      |    sum(CAST(x AS HUGEINT) * x) AS sxx,
      |    sum(CAST(y AS HUGEINT) * y) AS syy
      |  FROM pairs GROUP BY lag),
      |rho AS (
      |  SELECT CAST(lag AS INT) AS lag,
      |    CAST(n * sxy - sx * sy AS DOUBLE) /
      |    sqrt(CAST(n * sxx - sx * sx AS DOUBLE) *
      |         CAST(n * syy - sy * sy AS DOUBLE)) AS acf
      |  FROM m),
      |nd AS (SELECT count(*) AS n_days FROM daily),
      |folded AS (
      |  SELECT max(n_days) AS n_days, count(*) AS h,
      |    list_sum(list_transform(
      |      list(struct_pack(lag := lag, acf := acf, nd := n_days)
      |        ORDER BY lag),
      |      e -> e.acf * e.acf / (e.nd - e.lag))) AS ssum
      |  FROM rho CROSS JOIN nd)
      |SELECT CAST(n_days AS BIGINT) AS n_days, CAST(h AS BIGINT) AS h,
      |  round(ssum * n_days * (n_days + 2), 6) AS q_stat
      |FROM folded""".stripMargin

  /** GRANGER CAUSALITY (one lag) — does yesterday's view count predict
    * today's clicks beyond yesterday's clicks? The F-test between the
    * restricted regression clicksₜ ~ clicksₜ₋₁ and the unrestricted
    * one adding viewsₜ₋₁, the predictive-precedence companion to
    * [[cointegration]]'s common-trend test. Both regressions solve in
    * CLOSED FORM from exact integer power sums (lagged regressors are
    * exact daily counts; the 2×2 normal equations go through Cramer's
    * rule on centered sums) — no fold, no iteration; the F statistic
    * and the pinned F(1, n−3) 95% critical value
    * (4.225201273127478 at n = 29, computed offline) compare
    * bit-identical doubles. Scale: one day aggregate + one lag window
    * over O(days) + one scalar aggregate. */
  def grangerCausality(s: SparkSession, d: String): DataFrame = {
    val big = DecimalType(38, 0)
    val ord = Window.orderBy("day")
    val frame = Tables.events(s, d)
      .groupBy(col("ts").cast("date").as("day"))
      .agg(
        sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("c"),
        sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("v"))
      .select(col("day"), col("c"),
        lag(col("c"), 1).over(ord).as("x1"),
        lag(col("v"), 1).over(ord).as("x2"))
      .filter(col("x1").isNotNull)
      .select(col("c").cast(big).as("y"), col("x1").cast(big).as("x1"),
        col("x2").cast(big).as("x2"))
    val sums = frame.agg(count(lit(1)).as("n"),
      sum(col("y")).cast(big).as("sy"), sum(col("x1")).cast(big).as("s1"),
      sum(col("x2")).cast(big).as("s2"),
      sum((col("y") * col("y")).cast(big)).cast(big).as("syy"),
      sum((col("x1") * col("y")).cast(big)).cast(big).as("s1y"),
      sum((col("x2") * col("y")).cast(big)).cast(big).as("s2y"),
      sum((col("x1") * col("x1")).cast(big)).cast(big).as("s11"),
      sum((col("x2") * col("x2")).cast(big)).cast(big).as("s22"),
      sum((col("x1") * col("x2")).cast(big)).cast(big).as("s12"))
    def d0(c: Column) = c.cast("double")
    val nd = d0(col("n"))
    val cYY = d0(col("syy")) - d0(col("sy")) * d0(col("sy")) / nd
    val c1y = d0(col("s1y")) - d0(col("s1")) * d0(col("sy")) / nd
    val c2y = d0(col("s2y")) - d0(col("s2")) * d0(col("sy")) / nd
    val c11 = d0(col("s11")) - d0(col("s1")) * d0(col("s1")) / nd
    val c22 = d0(col("s22")) - d0(col("s2")) * d0(col("s2")) / nd
    val c12 = d0(col("s12")) - d0(col("s1")) * d0(col("s2")) / nd
    // NULL-on-zero-divisor guards (clickless edge sweep): a constant
    // lagged series zeroes det/c11/ssrU; DuckDB's float division yields
    // NULL there while Spark's ANSI divide raises — mirror the NULL
    val nullD = lit(null).cast("double")
    val det = c11 * c22 - c12 * c12
    val b1 = when(det === 0d, nullD)
      .otherwise((c22 * c1y - c12 * c2y) / det)
    val b2 = when(det === 0d, nullD)
      .otherwise((c11 * c2y - c12 * c1y) / det)
    val ssrU = cYY - b1 * c1y - b2 * c2y
    val ssrR = cYY - when(c11 === 0d, nullD).otherwise(c1y * c1y / c11)
    val f = when(ssrU === 0d, nullD)
      .otherwise((ssrR - ssrU) * (nd - 3.0) / ssrU)
    sums.select(col("n").as("n_obs"),
      round(b1, 6).as("beta_clicks_lag"),
      round(b2, 6).as("beta_views_lag"),
      round(f, 6).as("f_stat"),
      (f > 4.225201273127478).as("views_granger_cause_clicks_95"))
  }

  val grangerCausalitySql: String =
    """WITH daily AS (
      |  SELECT CAST(ts AS DATE) AS day,
      |    CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
      |      AS BIGINT) AS c,
      |    CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
      |      AS BIGINT) AS v
      |  FROM events GROUP BY 1),
      |fr AS (
      |  SELECT CAST(c AS HUGEINT) AS y, CAST(x1 AS HUGEINT) AS x1,
      |    CAST(x2 AS HUGEINT) AS x2
      |  FROM (SELECT c, lag(c) OVER (ORDER BY day) AS x1,
      |      lag(v) OVER (ORDER BY day) AS x2 FROM daily)
      |  WHERE x1 IS NOT NULL),
      |s AS (
      |  SELECT count(*) AS n, sum(y) AS sy, sum(x1) AS s1, sum(x2) AS s2,
      |    sum(y * y) AS syy, sum(x1 * y) AS s1y, sum(x2 * y) AS s2y,
      |    sum(x1 * x1) AS s11, sum(x2 * x2) AS s22, sum(x1 * x2) AS s12
      |  FROM fr),
      |cen AS (
      |  SELECT CAST(n AS BIGINT) AS n,
      |    CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)
      |      / CAST(n AS DOUBLE) AS cyy,
      |    CAST(s1y AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(sy AS DOUBLE)
      |      / CAST(n AS DOUBLE) AS c1y,
      |    CAST(s2y AS DOUBLE) - CAST(s2 AS DOUBLE) * CAST(sy AS DOUBLE)
      |      / CAST(n AS DOUBLE) AS c2y,
      |    CAST(s11 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
      |      / CAST(n AS DOUBLE) AS c11,
      |    CAST(s22 AS DOUBLE) - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE)
      |      / CAST(n AS DOUBLE) AS c22,
      |    CAST(s12 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s2 AS DOUBLE)
      |      / CAST(n AS DOUBLE) AS c12
      |  FROM s),
      |beta AS (
      |  SELECT n, cyy, c1y, c2y, c11,
      |    (c22 * c1y - c12 * c2y) / (c11 * c22 - c12 * c12) AS b1,
      |    (c11 * c2y - c12 * c1y) / (c11 * c22 - c12 * c12) AS b2
      |  FROM cen),
      |fin AS (
      |  SELECT n, b1, b2,
      |    ((cyy - c1y * c1y / c11) - (cyy - b1 * c1y - b2 * c2y))
      |      * (CAST(n AS DOUBLE) - 3.0)
      |      / (cyy - b1 * c1y - b2 * c2y) AS f
      |  FROM beta)
      |SELECT n AS n_obs, round(b1, 6) AS beta_clicks_lag,
      |  round(b2, 6) AS beta_views_lag, round(f, 6) AS f_stat,
      |  (f > 4.225201273127478) AS views_granger_cause_clicks_95
      |FROM fin""".stripMargin

  /** ENGLE–GRANGER COINTEGRATION TEST between the daily click and view
    * series — the econometric capstone composing the OLS and
    * Dickey–Fuller machinery: two trending series are cointegrated when
    * some linear combination is stationary, i.e. they share a common
    * stochastic trend (the property pairs-trading and any
    * ratio-metric alert system quietly assume). Step 1 fits
    * clicks = α + β·views by OLS from exact integer power sums; step 2
    * runs the no-lag DF regression Δe = γ·e₋₁ on the residuals and
    * compares the t-statistic against the Engle–Granger 5% critical
    * value (−3.37 for two variables, pinned literal — stricter than
    * plain DF because α̂, β̂ were estimated).
    *
    * Determinism: α̂, β̂ are pinned doubles from exact sums; residuals
    * and every DF sum accumulate inside ONE `aggregate` fold over the
    * day-sorted array (8-slot double state, identical op sequence on
    * both engines — the [[crostonForecast]]/[[holtForecast]]
    * discipline), so the final t and the critical-value compare see
    * bit-identical doubles. Scale: facts reduce to O(days) map-side;
    * the fold is O(days) in one row. */
  def cointegration(s: SparkSession, d: String): DataFrame = {
    val big = DecimalType(38, 0)
    val daily = Tables.events(s, d)
      .groupBy(col("ts").cast("date").as("day"))
      .agg(
        sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("a"),
        sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("b"))
      .pin()
    val ols = daily.agg(count(lit(1)).as("n"),
      sum(col("a")).cast(big).as("sa"), sum(col("b")).cast(big).as("sb"),
      sum((col("a").cast(big) * col("b")).cast(big)).cast(big).as("sab"),
      sum((col("b").cast(big) * col("b")).cast(big)).cast(big).as("sbb"))
      .select(col("n"),
        // NULL-on-zero-divisor guard: a CONSTANT regressor series zeroes
        // the OLS denominator (NULL on DuckDB, ANSI error here)
        when((col("n") * col("sbb") - col("sb") * col("sb"))
            .cast("double") === 0d, lit(null).cast("double"))
          .otherwise(
            (col("n") * col("sab") - col("sa") * col("sb")).cast("double") /
            (col("n") * col("sbb") - col("sb") * col("sb")).cast("double"))
          .as("beta"))
      .crossJoin(broadcast(daily.agg(
        sum(col("a")).as("sa2"), sum(col("b")).as("sb2"),
        count(lit(1)).as("n2"))))
      .select(col("n"), col("beta"),
        ((col("sa2").cast("double") - col("beta") * col("sb2").cast("double"))
          / col("n2").cast("double")).as("alpha"))
    val folded = daily
      .agg(sort_array(collect_list(struct(col("day"), col("a"), col("b"))))
        .as("arr"))
      // empty series (empty-events edge sweep): the oracle's recursive
      // DF walk emits zero rows on an empty/NULL list; filtering the
      // packed row out matches, and keeps the centered-moment
      // projection (which would divide by m = 0) unevaluated
      .filter(org.apache.spark.sql.functions.size(col("arr")) > 0)
      .crossJoin(broadcast(ols))
      .select(col("n"), col("beta"), col("alpha"), expr(
        """aggregate(arr,
             array(CAST(0.0 AS DOUBLE), 0.0D, 0.0D, 0.0D,
               0.0D, 0.0D, 0.0D, 0.0D),
             (acc, e) -> CASE WHEN element_at(acc, 2) = 0.0 THEN
                 array(CAST(e.a AS DOUBLE) - alpha
                     - beta * CAST(e.b AS DOUBLE),
                   1.0D, 0.0D, 0.0D, 0.0D, 0.0D, 0.0D, 0.0D)
               ELSE array(
                 CAST(e.a AS DOUBLE) - alpha - beta * CAST(e.b AS DOUBLE),
                 1.0D,
                 element_at(acc, 3) + element_at(acc, 1),
                 element_at(acc, 4) + (CAST(e.a AS DOUBLE) - alpha
                   - beta * CAST(e.b AS DOUBLE) - element_at(acc, 1)),
                 element_at(acc, 5) + element_at(acc, 1)
                   * (CAST(e.a AS DOUBLE) - alpha
                     - beta * CAST(e.b AS DOUBLE) - element_at(acc, 1)),
                 element_at(acc, 6) + element_at(acc, 1)
                   * element_at(acc, 1),
                 element_at(acc, 7) + (CAST(e.a AS DOUBLE) - alpha
                     - beta * CAST(e.b AS DOUBLE) - element_at(acc, 1))
                   * (CAST(e.a AS DOUBLE) - alpha
                     - beta * CAST(e.b AS DOUBLE) - element_at(acc, 1)),
                 element_at(acc, 8) + 1.0) END)""").as("st"))
    val m = element_at(col("st"), 8)
    val sx = element_at(col("st"), 3)
    val sy = element_at(col("st"), 4)
    val sxy = element_at(col("st"), 5)
    val sxx = element_at(col("st"), 6)
    val syy = element_at(col("st"), 7)
    // NULL-on-zero-divisor guards (clickless edge sweep): a constant
    // series makes every residual 0 and the DF denominators vanish;
    // DuckDB NULLs the division, Spark ANSI raises — mirror the NULL
    val nullD = lit(null).cast("double")
    val gden = m * sxx - sx * sx
    val gamma = when(gden === 0d, nullD)
      .otherwise((m * sxy - sx * sy) / gden)
    // m = 0 guard (r14 randomized degenerate-corpus property): a
    // LENGTH-1 daily series runs exactly the fold's first step, which
    // stores the first residual but leaves the counter at its 0.0
    // init — the centered moments then divide 0 by 0 (NULL on DuckDB's
    // division, ANSI error here). The empty series never reaches this
    // projection (filtered above); length 1 does.
    val cSxx = when(m === 0d, nullD).otherwise(sxx - sx * sx / m)
    val cSyy = when(m === 0d, nullD).otherwise(syy - sy * sy / m)
    val cSxy = when(m === 0d, nullD).otherwise(sxy - sx * sy / m)
    val tInner = when(m === 2d, nullD)
      .otherwise((cSyy - gamma * cSxy) / (m - 2.0))
    val t = when(cSxx === 0d, nullD)
      .otherwise(gamma / sqrt(tInner / cSxx))
    folded.select(col("n").as("n_days"),
      round(col("beta"), 6).as("beta"),
      round(col("alpha"), 6).as("alpha"),
      round(gamma, 6).as("gamma"),
      round(t, 6).as("t_stat"),
      (t < -3.37).as("cointegrated_95"))
  }

  val cointegrationSql: String =
    """WITH daily AS (
      |  SELECT CAST(ts AS DATE) AS day,
      |    CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
      |      AS BIGINT) AS a,
      |    CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
      |      AS BIGINT) AS b
      |  FROM events GROUP BY 1),
      |ols AS (
      |  SELECT count(*) AS n,
      |    CAST(count(*) * sum(CAST(a AS HUGEINT) * b)
      |        - sum(a) * sum(b) AS DOUBLE)
      |      / CAST(count(*) * sum(CAST(b AS HUGEINT) * b)
      |        - sum(b) * sum(b) AS DOUBLE) AS beta,
      |    CAST(sum(a) AS DOUBLE) AS sa2, CAST(sum(b) AS DOUBLE) AS sb2
      |  FROM daily),
      |ols2 AS (
      |  SELECT n, beta,
      |    (sa2 - beta * sb2) / CAST(n AS DOUBLE) AS alpha
      |  FROM ols),
      |folded AS (
      |  SELECT n, beta, alpha,
      |    list_reduce(
      |      list_prepend([CAST(0.0 AS DOUBLE), 0.0, 0.0, 0.0,
      |          0.0, 0.0, 0.0, 0.0],
      |        [[CAST(p[1] AS DOUBLE), CAST(p[2] AS DOUBLE)]
      |          FOR p IN list([a, b] ORDER BY day)]),
      |      (acc, e) -> CASE WHEN acc[2] = 0.0 THEN
      |          [e[1] - alpha - beta * e[2],
      |           1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]
      |        ELSE [
      |          e[1] - alpha - beta * e[2],
      |          1.0,
      |          acc[3] + acc[1],
      |          acc[4] + (e[1] - alpha - beta * e[2] - acc[1]),
      |          acc[5] + acc[1] * (e[1] - alpha - beta * e[2] - acc[1]),
      |          acc[6] + acc[1] * acc[1],
      |          acc[7] + (e[1] - alpha - beta * e[2] - acc[1])
      |            * (e[1] - alpha - beta * e[2] - acc[1]),
      |          acc[8] + 1.0] END) AS st
      |  FROM daily CROSS JOIN ols2 GROUP BY n, beta, alpha),
      |stat AS (
      |  SELECT n, beta, alpha,
      |    (st[8] * st[5] - st[3] * st[4])
      |      / (st[8] * st[6] - st[3] * st[3]) AS gamma,
      |    st[3] AS sx, st[4] AS sy, st[5] AS sxy, st[6] AS sxx,
      |    st[7] AS syy, st[8] AS m
      |  FROM folded)
      |SELECT n AS n_days, round(beta, 6) AS beta, round(alpha, 6) AS alpha,
      |  round(gamma, 6) AS gamma,
      |  round(gamma / sqrt((((syy - sy * sy / m)
      |      - gamma * (sxy - sx * sy / m)) / (m - 2.0))
      |    / (sxx - sx * sx / m)), 6) AS t_stat,
      |  (gamma / sqrt((((syy - sy * sy / m)
      |      - gamma * (sxy - sx * sy / m)) / (m - 2.0))
      |    / (sxx - sx * sx / m)) < -3.37) AS cointegrated_95
      |FROM stat""".stripMargin

  /** Croston smoothing constant and the qualifying-part activity band
    * (named so the oracle interpolates the SAME literals). */
  val crostonAlpha = 0.1
  val crostonMinActive = 15
  val crostonMaxActive = 40
  val crostonParts = 3

  /** CROSTON / SBA INTERMITTENT-DEMAND FORECAST — the member the
    * demand-forecast family ([[q_forecast_bt|naive/seasonal-naive]],
    * [[holtForecast]]) still lacked: for sparse demand (most periods
    * zero — exactly the XYZ analysis's Z class), exponential smoothing
    * on the raw series collapses toward zero between demands; Croston
    * smooths demand SIZE z and inter-demand INTERVAL p separately and
    * forecasts z/p, with the Syntetos–Boylan (1 − α/2) bias correction.
    * Run over the [[crostonParts]] lowest-id parts whose monthly demand
    * is genuinely intermittent ([[crostonMinActive]]..[[crostonMaxActive]]
    * active months of the calendar).
    *
    * Determinism: the zero-filled monthly series is exact integers; the
    * Croston recurrence folds in month order inside one `aggregate`
    * with a 4-slot double state ([[holtForecast]]'s stateful-fold
    * discipline — identical op sequence on both engines), outputs
    * round 6. Scale: one (part, month) aggregate over facts; the grid
    * join is months × [[crostonParts]]; each fold is O(months). */
  def crostonForecast(s: SparkSession, d: String): DataFrame = {
    val a = crostonAlpha
    val pm = Tables.lineitem(s, d)
      .select(col("l_partkey").as("pk"),
        date_trunc("month", col("l_shipdate")).cast("date").as("m"),
        col("l_quantity").cast("long").as("q"))
      .groupBy("pk", "m").agg(sum(col("q")).as("dem"))
      .pin()
    val months = pm.select(col("m")).distinct()
    val parts = pm.groupBy("pk").agg(count(lit(1)).as("n_active"))
      .filter(col("n_active") >= crostonMinActive &&
        col("n_active") <= crostonMaxActive)
      .orderBy(col("pk").asc).limit(crostonParts)
    val series = months.crossJoin(broadcast(parts))
      .join(pm, Seq("pk", "m"), "left_outer")
      .select(col("pk"), col("n_active"), col("m"),
        coalesce(col("dem"), lit(0L)).as("dem"))
    series.groupBy("pk", "n_active")
      .agg(count(lit(1)).as("n_months"),
        expr("transform(sort_array(collect_list(struct(m, dem))), x -> CAST(x.dem AS DOUBLE))")
          .as("arr"))
      .select(col("pk"), col("n_months"), col("n_active").as("n_demand_months"),
        expr(s"""aggregate(arr,
            array(CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE),
              CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE)),
            (acc, d) -> CASE WHEN d > 0.0 THEN
                CASE WHEN element_at(acc, 4) = 0.0
                THEN array(d, element_at(acc, 3) + 1.0,
                  CAST(0.0 AS DOUBLE), CAST(1.0 AS DOUBLE))
                ELSE array($a * d + ${1 - a} * element_at(acc, 1),
                  $a * (element_at(acc, 3) + 1.0)
                    + ${1 - a} * element_at(acc, 2),
                  CAST(0.0 AS DOUBLE), CAST(1.0 AS DOUBLE)) END
              ELSE array(element_at(acc, 1), element_at(acc, 2),
                element_at(acc, 3) + 1.0, element_at(acc, 4)) END)""")
          .as("st"))
      .select(col("pk").as("part"), col("n_months"), col("n_demand_months"),
        round(element_at(col("st"), 1), 6).as("z_size"),
        round(element_at(col("st"), 2), 6).as("p_interval"),
        round(lit(1 - a / 2) * element_at(col("st"), 1) /
          element_at(col("st"), 2), 6).as("sba_forecast"))
  }

  val crostonForecastSql: String = {
    val a = crostonAlpha
    s"""WITH pm AS (
       |  SELECT l_partkey AS pk,
       |    CAST(date_trunc('month', l_shipdate) AS DATE) AS m,
       |    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS dem
       |  FROM lineitem GROUP BY 1, 2),
       |months AS (SELECT DISTINCT m FROM pm),
       |parts AS (
       |  SELECT pk, count(*) AS n_active FROM pm GROUP BY pk
       |  HAVING count(*) BETWEEN $crostonMinActive AND $crostonMaxActive
       |  ORDER BY pk LIMIT $crostonParts),
       |series AS (
       |  SELECT p.pk, p.n_active, g.m, coalesce(pm.dem, 0) AS dem
       |  FROM months g CROSS JOIN parts p
       |  LEFT JOIN pm ON pm.pk = p.pk AND pm.m = g.m),
       |folded AS (
       |  SELECT pk, n_active, count(*) AS n_months,
       |    list_reduce(
       |      list_prepend([CAST(0.0 AS DOUBLE), 0.0, 0.0, 0.0],
       |        [[CAST(dd AS DOUBLE)] FOR dd IN list(dem ORDER BY m)]),
       |      (acc, e) -> CASE WHEN e[1] > 0.0 THEN
       |          CASE WHEN acc[4] = 0.0
       |          THEN [e[1], acc[3] + 1.0, CAST(0.0 AS DOUBLE),
       |            CAST(1.0 AS DOUBLE)]
       |          ELSE [$a * e[1] + ${1 - a} * acc[1],
       |            $a * (acc[3] + 1.0) + ${1 - a} * acc[2],
       |            CAST(0.0 AS DOUBLE), CAST(1.0 AS DOUBLE)] END
       |        ELSE [acc[1], acc[2], acc[3] + 1.0, acc[4]] END) AS st
       |  FROM series GROUP BY pk, n_active)
       |SELECT pk AS part, n_months,
       |  CAST(n_active AS BIGINT) AS n_demand_months,
       |  round(st[1], 6) AS z_size,
       |  round(st[2], 6) AS p_interval,
       |  round(${1 - a / 2} * st[1] / st[2], 6) AS sba_forecast
       |FROM folded""".stripMargin
  }

  /** Sakoe–Chiba band half-width for [[dtwDistance]] — the classic
    * warping constraint: a day may align at most this many positions
    * away from its lockstep partner. */
  val dtwBand = 7

  /** DYNAMIC TIME WARPING distance between the daily click and view
    * count series — the elastic-alignment similarity that lockstep
    * metrics (our correlation/cosine batteries) cannot express: two
    * series tracing the same shape a few days out of phase score near
    * zero here while their pointwise L1 stays large. Banded
    * (Sakoe–Chiba, half-width [[dtwBand]]) — the standard constraint
    * that cuts the DP from O(T²) to O(T·w) and keeps pathological
    * alignments out.
    *
    * The DP runs as one nested `aggregate` fold over the two collected
    * day arrays — row i of the matrix folds over row i−1, cells outside
    * the band pinned at an integer INF; every cost is an exact |Δcount|
    * integer, so the distance hash-grades with no float tolerance. The
    * lockstep L1 (one zip_with) ships next to it with the containment
    * self-check dtw ≤ lockstep (the diagonal is one admissible warp
    * path). Oracle: the identical recurrence as DuckDB nested
    * list_reduce with the init row prepended (2-arg reduce).
    *
    * Scale: facts reduce to O(days) in one map-side-combinable
    * aggregate; the DP is O(days·band) driver-free arithmetic inside a
    * single codegen'd projection. Day-series DP at 100 TB is bounded by
    * the CALENDAR, not the corpus — same argument as the Holt/OHLC
    * folds. */
  def dtwDistance(s: SparkSession, d: String): DataFrame = {
    val inf = "500000000000000L"
    val daily = Tables.events(s, d)
      .groupBy(col("ts").cast("date").as("day"))
      .agg(
        sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("c"),
        sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("v"))
    daily
      .agg(
        expr("transform(sort_array(collect_list(struct(day, c))), x -> x.c)")
          .as("a"),
        expr("transform(sort_array(collect_list(struct(day, v))), x -> x.v)")
          .as("b"))
      // empty-series guards (empty-events edge sweep): DuckDB's list()
      // over zero rows is NULL, so the oracle renders every column of
      // its one row NULL; here the guards also keep the DP fold
      // unevaluated — Spark's sequence(1, 0) DESCENDS to [1, 0] and
      // would index the empty arrays (ANSI error)
      .select(
        when(size(col("a")) === 0, lit(null).cast("int"))
          .otherwise(size(col("a"))).as("n_days"),
        when(size(col("a")) === 0, lit(null).cast("long")).otherwise(
          expr("aggregate(zip_with(a, b, (x, y) -> abs(x - y)), 0L, (s, x) -> s + x)"))
          .as("lockstep_l1"),
        when(size(col("a")) === 0, lit(null).cast("long")).otherwise(
          expr(s"""aggregate(
            sequence(1, size(a)),
            concat(array(0L), transform(sequence(1, size(b)), x -> $inf)),
            (prev, i) -> aggregate(
              sequence(1, size(b)),
              array($inf),
              (cur, j) -> concat(cur, array(
                CASE WHEN abs(i - j) > $dtwBand THEN $inf
                ELSE abs(element_at(a, i) - element_at(b, j)) +
                  least(element_at(prev, j + 1), element_at(prev, j),
                    element_at(cur, size(cur)))
                END))),
            row -> element_at(row, size(b) + 1))""")).as("dtw"))
      .select(col("n_days"), col("lockstep_l1"), col("dtw"),
        round(col("dtw").cast("double") /
          greatest(col("lockstep_l1"), lit(1L)), 6).as("warp_gain"),
        (col("dtw") <= col("lockstep_l1")).as("contained"))
  }

  val dtwDistanceSql: String =
    s"""WITH daily AS (
       |  SELECT CAST(ts AS DATE) AS day,
       |    CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
       |      AS BIGINT) AS c,
       |    CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
       |      AS BIGINT) AS v
       |  FROM events GROUP BY 1),
       |s AS (
       |  SELECT list(c ORDER BY day) AS a, list(v ORDER BY day) AS b
       |  FROM daily),
       |dp AS (
       |  SELECT len(a) AS n_days,
       |    CAST(list_sum([abs(a[i] - b[i])
       |      FOR i IN range(1, len(a) + 1)]) AS BIGINT) AS lockstep_l1,
       |    list_reduce(
       |      list_prepend(
       |        [CAST(0 AS BIGINT)] ||
       |          [CAST(500000000000000 AS BIGINT) FOR _ IN range(len(b))],
       |        [[i] FOR i IN range(1, len(a) + 1)]),
       |      (prev, ii) -> list_reduce(
       |        list_prepend([CAST(500000000000000 AS BIGINT)],
       |          [[j] FOR j IN range(1, len(b) + 1)]),
       |        (cur, jj) -> list_append(cur,
       |          CASE WHEN abs(ii[1] - jj[1]) > $dtwBand
       |            THEN CAST(500000000000000 AS BIGINT)
       |          ELSE abs(a[ii[1]] - b[jj[1]]) +
       |            least(prev[jj[1] + 1], prev[jj[1]], cur[len(cur)])
       |          END)))[len(b) + 1] AS dtw
       |  FROM s)
       |SELECT n_days, lockstep_l1, dtw,
       |  round(CAST(dtw AS DOUBLE) / greatest(lockstep_l1, 1), 6)
       |    AS warp_gain,
       |  (dtw <= lockstep_l1) AS contained
       |FROM dp""".stripMargin

  /** Daily order revenue over 1998 in exact cents: one row per order
    * day, `day` and `cents`. */
  private def dailyOrderCents1998(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .filter(year(col("o_orderdate")) === 1998)
      .groupBy(col("o_orderdate").cast("date").as("day"))
      .agg(sum((col("o_totalprice").cast(DecimalType(18, 2)) * 100)
        .cast("long")).as("cents"))

  /** [[dailyOrderCents1998]] with the naive (`l1`, yesterday) and
    * seasonal-naive (`l7`, a week back) forecasts of each day. */
  private def dailyOrderLags1998(s: SparkSession, d: String): DataFrame = {
    val ord = Window.orderBy("day")
    dailyOrderCents1998(s, d)
      .select(col("day"), col("cents"),
        lag(col("cents"), 1).over(ord).as("l1"),
        lag(col("cents"), 7).over(ord).as("l7"))
  }

  /** DURBIN–WATSON TEST — serial correlation in the residuals of the
    * daily-revenue-vs-time OLS for 1998 (the regression-diagnostics
    * companion to [[q_rolling_ols]]/[[grangerCausality]]: a trend fit
    * whose residuals autocorrelate means the OLS standard errors lie).
    * DW = Σ(Δe)²/Σe² over the OBSERVATION SEQUENCE of order days
    * (calendar gaps are adjacent observations, the standard treatment
    * for a sparse series), with the centered-regressor closed form:
    * Sty = 2Σty − (n+1)Σy and Stt = n(n²−1)/3 come straight off raw
    * power sums, so no two-pass centering is needed. DW ≈ 2(1−ρ̂);
    * the asymptotic z-test flags |ρ̂| > 1.96/√n.
    *
    * Exactness: daily revenue is floored to whole DOLLARS (`div 100`
    * on exact cents) so every power sum is an exact long < 2⁵³ —
    * both engines convert them to identical doubles; the remaining
    * arithmetic is the same literal expression tree on both sides
    * (products like (Σy)² exceed 2⁵³ but are single correctly-rounded
    * ops on identical inputs). Degenerate guards: n < 3 or a
    * perfectly-linear series (Σe² = 0) yield NULL/FALSE with
    * `greatest` keeping ANSI division total.
    *
    * Scale: one map-side-combinable daily aggregate, one O(days) lag
    * window (the accepted O(days) frame class), one single-row
    * reduce. */
  def durbinWatson(s: SparkSession, d: String): DataFrame = {
    val ord = Window.orderBy("day")
    val daily = dailyOrderCents1998(s, d)
      .select(col("day"), expr("cents div 100").as("y"))
      .select(col("day"), col("y"),
        row_number().over(ord).cast("long").as("t"),
        (col("y") - lag(col("y"), 1).over(ord)).as("dy"))
    val sums = daily.agg(
      count(lit(1)).as("n"), sum("y").as("sy"),
      sum(col("y") * col("y")).as("syy"),
      sum(col("t") * col("y")).as("sty_raw"),
      sum("dy").as("sd1"), sum(col("dy") * col("dy")).as("sd2"))
    def d0(c: Column) = c.cast("double")
    val nd = d0(col("n"))
    val stt = nd * (nd * nd - 1.0) / 3.0
    val sty = d0(col("sty_raw")) * 2.0 - (nd + 1.0) * d0(col("sy"))
    val b = sty / greatest(stt, lit(1.0))
    val se2 = d0(col("syy")) - d0(col("sy")) * d0(col("sy")) / nd -
      sty * sty / greatest(stt, lit(1.0))
    val sde2 = d0(col("sd2")) - b * 4.0 * d0(col("sd1")) +
      b * 4.0 * b * (nd - 1.0)
    val dw = sde2 / greatest(se2, lit(1e-12))
    val rho = lit(1.0) - dw / 2.0
    val zCrit = lit(1.959963984540054) / sqrt(nd)
    val bad = col("n") < 3L || se2 <= 0.0
    sums.select(col("n").as("n_days"),
      when(bad, lit(null).cast("double")).otherwise(round(dw, 6))
        .as("dw"),
      when(bad, lit(null).cast("double")).otherwise(round(rho, 6))
        .as("rho_hat"),
      when(bad, lit(false)).otherwise(rho > zCrit)
        .as("positive_autocorr_95"),
      when(bad, lit(false)).otherwise(rho < -zCrit)
        .as("negative_autocorr_95"))
  }

  val durbinWatsonSql: String =
    """WITH daily AS (
      |  SELECT CAST(o_orderdate AS DATE) AS day,
      |    CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
      |      AS BIGINT)) AS BIGINT) // 100 AS y
      |  FROM orders WHERE year(o_orderdate) = 1998 GROUP BY 1),
      |seq AS (
      |  SELECT y, CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS t,
      |    y - lag(y) OVER (ORDER BY day) AS dy
      |  FROM daily),
      |s AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS sy,
      |    CAST(sum(y * y) AS BIGINT) AS syy,
      |    CAST(sum(t * y) AS BIGINT) AS sty_raw,
      |    CAST(sum(dy) AS BIGINT) AS sd1,
      |    CAST(sum(dy * dy) AS BIGINT) AS sd2
      |  FROM seq),
      |f AS (
      |  SELECT n,
      |    CAST(n AS DOUBLE) AS nd, CAST(sy AS DOUBLE) AS syd,
      |    CAST(syy AS DOUBLE) AS syyd, CAST(sd1 AS DOUBLE) AS sd1d,
      |    CAST(sd2 AS DOUBLE) AS sd2d,
      |    2.0 * CAST(sty_raw AS DOUBLE)
      |      - (CAST(n AS DOUBLE) + 1.0) * CAST(sy AS DOUBLE) AS sty,
      |    CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
      |      - 1.0) / 3.0 AS stt
      |  FROM s),
      |g AS (
      |  SELECT n, nd,
      |    syyd - syd * syd / nd - sty * sty / greatest(stt, 1.0) AS se2,
      |    sd2d - 4.0 * (sty / greatest(stt, 1.0)) * sd1d
      |      + 4.0 * (sty / greatest(stt, 1.0)) * (sty / greatest(stt, 1.0))
      |        * (nd - 1.0) AS sde2
      |  FROM f)
      |SELECT n AS n_days,
      |  CASE WHEN n < 3 OR se2 <= 0.0 THEN NULL
      |    ELSE round(sde2 / greatest(se2, 1e-12), 6) END AS dw,
      |  CASE WHEN n < 3 OR se2 <= 0.0 THEN NULL
      |    ELSE round(1.0 - sde2 / greatest(se2, 1e-12) / 2.0, 6) END
      |    AS rho_hat,
      |  CASE WHEN n < 3 OR se2 <= 0.0 THEN FALSE
      |    ELSE 1.0 - sde2 / greatest(se2, 1e-12) / 2.0
      |      > 1.959963984540054 / sqrt(nd) END AS positive_autocorr_95,
      |  CASE WHEN n < 3 OR se2 <= 0.0 THEN FALSE
      |    ELSE 1.0 - sde2 / greatest(se2, 1e-12) / 2.0
      |      < -(1.959963984540054 / sqrt(nd)) END AS negative_autocorr_95
      |FROM g""".stripMargin

  /** MASE — the scale-free forecast-accuracy metric
    * ([[q_pinball]]/[[q_forecast_bt]]'s missing companion): does the
    * WEEKLY seasonal-naive forecast (ŷ_t = y_{t−7 obs}) beat the
    * one-step naive (ŷ_t = y_{t−1 obs}) on 1998 daily revenue?
    * MASE = MAE(snaive7)/MAE(naive1); < 1 means weekly seasonality is
    * real signal. Both MAEs are ratios of exact integer sums, so MASE
    * reduces to ONE division of exact integer products —
    * (Σ|e₇|·n₁)/(Σ|e₁|·n₇) — bit-identical across engines, no float
    * folding anywhere. Lags index the observation sequence (sparse
    * calendars shift the "week" — documented, same convention as
    * [[durbinWatson]]). Scale: one daily aggregate + one O(days) lag
    * window + a single-row reduce. */
  def maseForecast(s: SparkSession, d: String): DataFrame = {
    val daily = dailyOrderLags1998(s, d)
    val sums = daily.agg(
      count(lit(1)).as("n_days"),
      sum(when(col("l7").isNotNull, 1L).otherwise(0L)).as("n7"),
      sum(when(col("l1").isNotNull, 1L).otherwise(0L)).as("n1"),
      sum(abs(col("cents") - col("l7"))).as("sae7"),
      sum(abs(col("cents") - col("l1"))).as("sae1"))
    val mase = (col("sae7") * col("n1")).cast("double") /
      greatest(col("sae1") * col("n7"), lit(1L))
    val bad = col("n7") === 0L || col("sae1") === 0L
    sums.select(col("n_days"), col("n7"), col("sae7"), col("sae1"),
      when(bad, lit(null).cast("double")).otherwise(round(mase, 6))
        .as("mase"),
      when(bad, lit(false)).otherwise(mase < 1.0)
        .as("weekly_seasonality"))
  }

  val maseForecastSql: String =
    """WITH daily AS (
      |  SELECT CAST(o_orderdate AS DATE) AS day,
      |    CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
      |      AS BIGINT)) AS BIGINT) AS cents
      |  FROM orders WHERE year(o_orderdate) = 1998 GROUP BY 1),
      |seq AS (
      |  SELECT cents, lag(cents, 1) OVER (ORDER BY day) AS l1,
      |    lag(cents, 7) OVER (ORDER BY day) AS l7
      |  FROM daily),
      |s AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_days,
      |    CAST(sum(CASE WHEN l7 IS NOT NULL THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n7,
      |    CAST(sum(CASE WHEN l1 IS NOT NULL THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n1,
      |    CAST(sum(abs(cents - l7)) AS BIGINT) AS sae7,
      |    CAST(sum(abs(cents - l1)) AS BIGINT) AS sae1
      |  FROM seq)
      |SELECT n_days, n7, sae7, sae1,
      |  CASE WHEN n7 = 0 OR sae1 = 0 THEN NULL
      |    ELSE round(CAST(sae7 * n1 AS DOUBLE)
      |      / greatest(sae1 * n7, 1), 6) END AS mase,
      |  CASE WHEN n7 = 0 OR sae1 = 0 THEN FALSE
      |    ELSE CAST(sae7 * n1 AS DOUBLE) / greatest(sae1 * n7, 1) < 1.0
      |    END AS weekly_seasonality
      |FROM s""".stripMargin

  /** THEIL'S U — the squared-error companion of [[maseForecast]]'s
    * absolute-error ratio, on the same 1998 daily-revenue frame and
    * the same two baseline forecasters: U₂ = √(Σe₇²/Σe₁²) (snaive-7
    * vs naive-1, sample-size-corrected) answers "does weekly
    * seasonality survive a SQUARED loss, which punishes the occasional
    * big miss MAE forgives", and Theil's original U₁ ∈ [0,1]
    * normalizes the snaive-7 RMSE by the predicted+actual magnitude.
    * Reporting both ratios next to MASE is the standard
    * forecast-eval triptych.
    *
    * Exactness: squared daily totals overflow BIGINT (~10¹⁹ cents²·
    * days), so all four sums run in DECIMAL(38,0)/HUGEINT — exact,
    * order-insensitive, map-side combinable — and convert to double
    * ONCE each; the 6-dp rounding of O(1) ratios swallows the known
    * 1-ulp conversion skew ([[q: changepoint]] posture). Degenerate
    * guards mirror [[maseForecast]] (n₇ = 0 or a zero naive error →
    * NULL).
    *
    * Scale: one daily aggregate + one O(days) lag window + a
    * single-row reduce. */
  def theilU(s: SparkSession, d: String): DataFrame = {
    val big = DecimalType(38, 0)
    def d0(c: org.apache.spark.sql.Column) = c.cast(big)
    val daily = dailyOrderLags1998(s, d)
    val sums = daily.agg(
      count(lit(1)).as("n_days"),
      sum(when(col("l7").isNotNull, 1L).otherwise(0L)).as("n7"),
      sum(when(col("l1").isNotNull, 1L).otherwise(0L)).as("n1"),
      sum(when(col("l7").isNotNull,
        (d0(col("cents") - col("l7")) * (col("cents") - col("l7")))
          .cast(big)).otherwise(d0(lit(0L)))).cast(big).as("se7"),
      sum(when(col("l1").isNotNull,
        (d0(col("cents") - col("l1")) * (col("cents") - col("l1")))
          .cast(big)).otherwise(d0(lit(0L)))).cast(big).as("se1"),
      sum(when(col("l7").isNotNull,
        (d0(col("cents")) * col("cents")).cast(big))
        .otherwise(d0(lit(0L)))).cast(big).as("sy2"),
      sum(when(col("l7").isNotNull,
        (d0(col("l7")) * col("l7")).cast(big))
        .otherwise(d0(lit(0L)))).cast(big).as("sf2"))
    val n7d = col("n7").cast("double")
    val u2 = sqrt((col("se7").cast("double") * col("n1").cast("double")) /
      (col("se1").cast("double") * n7d))
    val u1 = sqrt(col("se7").cast("double") / n7d) /
      (sqrt(col("sy2").cast("double") / n7d) +
        sqrt(col("sf2").cast("double") / n7d))
    val bad = col("n7") === 0L || col("se1") === d0(lit(0L))
    sums.select(col("n_days"), col("n7"), col("n1"),
      when(bad, lit(null).cast("double")).otherwise(round(u2, 6))
        .as("theil_u2"),
      when(bad, lit(null).cast("double")).otherwise(round(u1, 6))
        .as("theil_u1"),
      when(bad, lit(false)).otherwise(u2 < 1.0)
        .as("snaive_beats_naive"))
  }

  val theilUSql: String =
    """WITH daily AS (
      |  SELECT CAST(o_orderdate AS DATE) AS day,
      |    CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
      |      AS BIGINT)) AS BIGINT) AS cents
      |  FROM orders WHERE year(o_orderdate) = 1998 GROUP BY 1),
      |seq AS (
      |  SELECT cents, lag(cents, 1) OVER (ORDER BY day) AS l1,
      |    lag(cents, 7) OVER (ORDER BY day) AS l7
      |  FROM daily),
      |s AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_days,
      |    CAST(sum(CASE WHEN l7 IS NOT NULL THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n7,
      |    CAST(sum(CASE WHEN l1 IS NOT NULL THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n1,
      |    sum(CASE WHEN l7 IS NOT NULL
      |      THEN CAST(cents - l7 AS HUGEINT) * (cents - l7)
      |      ELSE CAST(0 AS HUGEINT) END) AS se7,
      |    sum(CASE WHEN l1 IS NOT NULL
      |      THEN CAST(cents - l1 AS HUGEINT) * (cents - l1)
      |      ELSE CAST(0 AS HUGEINT) END) AS se1,
      |    sum(CASE WHEN l7 IS NOT NULL
      |      THEN CAST(cents AS HUGEINT) * cents
      |      ELSE CAST(0 AS HUGEINT) END) AS sy2,
      |    sum(CASE WHEN l7 IS NOT NULL
      |      THEN CAST(l7 AS HUGEINT) * l7
      |      ELSE CAST(0 AS HUGEINT) END) AS sf2
      |  FROM seq)
      |SELECT n_days, n7, n1,
      |  CASE WHEN n7 = 0 OR se1 = 0 THEN NULL
      |    ELSE round(sqrt((CAST(se7 AS DOUBLE) * CAST(n1 AS DOUBLE))
      |      / (CAST(se1 AS DOUBLE) * CAST(n7 AS DOUBLE))), 6) END
      |    AS theil_u2,
      |  CASE WHEN n7 = 0 OR se1 = 0 THEN NULL
      |    ELSE round(sqrt(CAST(se7 AS DOUBLE) / CAST(n7 AS DOUBLE))
      |      / (sqrt(CAST(sy2 AS DOUBLE) / CAST(n7 AS DOUBLE))
      |         + sqrt(CAST(sf2 AS DOUBLE) / CAST(n7 AS DOUBLE))), 6) END
      |    AS theil_u1,
      |  CASE WHEN n7 = 0 OR se1 = 0 THEN FALSE
      |    ELSE sqrt((CAST(se7 AS DOUBLE) * CAST(n1 AS DOUBLE))
      |      / (CAST(se1 AS DOUBLE) * CAST(n7 AS DOUBLE))) < 1.0 END
      |    AS snaive_beats_naive
      |FROM s""".stripMargin

  /** SAMPLE ENTROPY (Richman & Moorman 2000) of the 1998 daily-revenue
    * sequence, m = 2, r = 0.2σ — the regularity statistic next to
    * [[q: perm entropy]]'s ordinal one: SampEn = −ln(A/B) where B
    * counts template pairs matching for 2 steps and A those still
    * matching at 3 (Chebyshev distance ≤ r). Low SampEn = new points
    * are predictable from 2-step history; high = the series generates
    * novelty at every step. Unlike approximate entropy it excludes
    * self-matches, so it is unbiased in n.
    *
    * EXACT tolerance comparisons: r = 0.2σ never materializes as a
    * float — with population SS = n·Σy² − (Σy)², the match predicate
    * |Δ| ≤ 0.2σ is 25·Δ²·n² ≤ SS, an exact DECIMAL(38)/HUGEINT
    * integer comparison on both engines, so A and B are exact integer
    * counts and SampEn is one ln of their ratio.
    *
    * Scale: the O(days²) template-pair join is the documented bounded
    * class (the [[q: granger]]/q_dunn adjudication — a self-join on
    * the O(365)-row DAILY frame, ~66k pairs at any corpus size; the
    * raw stream never joins itself). */
  def sampleEntropy(s: SparkSession, d: String): DataFrame = {
    val big = DecimalType(38, 0)
    def d0(c: org.apache.spark.sql.Column) = c.cast(big)
    val ord = Window.orderBy("day")
    val daily = dailyOrderCents1998(s, d)
    val stats = daily.agg(
      count(lit(1)).cast("long").as("n"),
      sum(col("cents")).cast("long").as("sy"),
      sum((d0(col("cents")) * col("cents")).cast(big)).cast(big).as("syy"))
      .select(col("n"),
        (d0(col("n")) * col("syy") - d0(col("sy")) * col("sy"))
          .cast(big).as("ss"))
    val trip = daily
      .select(col("day"), col("cents").as("y0"),
        lead(col("cents"), 1).over(ord).as("y1"),
        lead(col("cents"), 2).over(ord).as("y2"),
        row_number().over(ord).as("rn"))
      .filter(col("y2").isNotNull)
    def near(a: String, b: String) =
      (d0(col(a) - col(b)) * (col(a) - col(b)) * 25 *
        col("n") * col("n")).cast(big) <= col("ss")
    val pairs = trip.as("x").join(trip.as("y"), col("x.rn") < col("y.rn"))
      .crossJoin(broadcast(stats))
      .select(near("x.y0", "y.y0").as("c0"), near("x.y1", "y.y1").as("c1"),
        near("x.y2", "y.y2").as("c2"), col("n"))
    pairs.agg(max(col("n")).as("n_days"),
      sum(when(col("c0") && col("c1"), 1L).otherwise(0L)).as("b_pairs"),
      sum(when(col("c0") && col("c1") && col("c2"), 1L).otherwise(0L))
        .as("a_pairs"))
      .select(col("n_days"), col("b_pairs"), col("a_pairs"),
        when(col("a_pairs") === 0L || col("b_pairs") === 0L,
          lit(null).cast("double"))
          .otherwise(round(-log(col("a_pairs").cast("double") /
            col("b_pairs").cast("double")), 6)).as("sampen"))
  }

  val sampleEntropySql: String =
    """WITH daily AS (
      |  SELECT CAST(o_orderdate AS DATE) AS day,
      |    CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
      |      AS BIGINT)) AS BIGINT) AS cents
      |  FROM orders WHERE year(o_orderdate) = 1998 GROUP BY 1),
      |stats AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n,
      |    CAST(count(*) AS HUGEINT)
      |        * sum(CAST(cents AS HUGEINT) * cents)
      |      - CAST(sum(cents) AS HUGEINT) * CAST(sum(cents) AS HUGEINT)
      |      AS ss
      |  FROM daily),
      |trip AS (
      |  SELECT row_number() OVER (ORDER BY day) AS rn, cents AS y0,
      |    lead(cents, 1) OVER (ORDER BY day) AS y1,
      |    lead(cents, 2) OVER (ORDER BY day) AS y2
      |  FROM daily
      |  QUALIFY y2 IS NOT NULL),
      |pairs AS (
      |  SELECT
      |    (CAST(x.y0 - y.y0 AS HUGEINT) * (x.y0 - y.y0) * 25 * n * n
      |      <= ss) AS c0,
      |    (CAST(x.y1 - y.y1 AS HUGEINT) * (x.y1 - y.y1) * 25 * n * n
      |      <= ss) AS c1,
      |    (CAST(x.y2 - y.y2 AS HUGEINT) * (x.y2 - y.y2) * 25 * n * n
      |      <= ss) AS c2,
      |    n
      |  FROM trip x JOIN trip y ON x.rn < y.rn
      |  CROSS JOIN stats),
      |agg AS (
      |  SELECT max(n) AS n_days,
      |    CAST(sum(CASE WHEN c0 AND c1 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS b_pairs,
      |    CAST(sum(CASE WHEN c0 AND c1 AND c2 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS a_pairs
      |  FROM pairs)
      |SELECT n_days, b_pairs, a_pairs,
      |  CASE WHEN a_pairs = 0 OR b_pairs = 0 THEN NULL
      |    ELSE round(-ln(CAST(a_pairs AS DOUBLE)
      |      / CAST(b_pairs AS DOUBLE)), 6) END AS sampen
      |FROM agg""".stripMargin

  /** OFFLINE CHANGEPOINT DETECTION (binary segmentation, first split) —
    * where [[q_cusum]] monitors a stream against a target, this asks
    * the retrospective question: which single day best splits the
    * whole daily-revenue history into two regimes? For every candidate
    * boundary k the variance-reduction gain of splitting there is
    *   gain(k) = (S₁·n₂ − S₂·n₁)² / (n·n₁·n₂)
    * (the between-segment sum of squares — the CART split criterion on
    * a time axis). The argmax row is flagged; emitting EVERY
    * candidate's gain makes the whole curve oracle-checkable, not just
    * the winner.
    *
    * Exactness: prefix sums are exact cents; S₁·n₂ − S₂·n₁ stays
    * under 2⁵³ so its double is exact, and gain is two float ops on
    * identical inputs — the max-equality flag therefore agrees
    * bit-for-bit across engines. The REPORTED column is gain/TSS (the
    * split's R² ∈ [0,1]) because raw gain sits at ~1e19 cents² where
    * decimal rounding diverges between engines (the q_sax lesson);
    * TSS converts one exact DECIMAL(38) through the known 1-ulp
    * conversion skew, which the 6 dp rounding of a ≤1e-1 ratio
    * swallows by eleven orders of magnitude. Scale: one daily
    * aggregate, one O(days) prefix window, one O(days) max — the
    * accepted single-partition day-frame class. */
  def changepoint(s: SparkSession, d: String): DataFrame = {
    val ord = Window.orderBy("day")
    val all = Window.partitionBy(lit(1))
    val daily = Tables.orders(s, d)
      .groupBy(col("o_orderdate").cast("date").as("day"))
      .agg(sum((col("o_totalprice").cast(DecimalType(18, 2)) * 100)
        .cast("long")).as("cents"))
      .select(col("day"), col("cents"),
        sum("cents").over(ord).as("s1"),
        count(lit(1)).over(ord).as("n1"),
        sum("cents").over(all).as("st"),
        count(lit(1)).over(all).as("nt"),
        sum((col("cents").cast(DecimalType(38, 0)) * col("cents"))
          .cast(DecimalType(38, 0))).over(all).as("syy"))
      .filter(col("n1") < col("nt")) // boundary after day k needs a right segment
    val n2 = col("nt") - col("n1")
    val s2 = col("st") - col("s1")
    val num = (col("s1") * n2 - s2 * col("n1")).cast("double")
    val gain = num * num /
      (col("nt") * col("n1") * n2).cast("double")
    // TSS·n = n·Σy² − (Σy)² held exact in DECIMAL(38); ONE conversion
    val tssN = (col("syy") * col("nt") -
      col("st").cast(DecimalType(38, 0)) * col("st")).cast("double")
    val r2 = gain * col("nt").cast("double") / tssN
    val g = daily.select(col("day"), col("n1").as("n_left"),
      n2.as("n_right"), round(r2, 6).as("gain_r2"), gain.as("g_raw"))
    g.select(col("day"), col("n_left"), col("n_right"), col("gain_r2"),
      (col("g_raw") === max(col("g_raw")).over(Window.partitionBy(lit(1))))
        .as("is_best_split"))
  }

  val changepointSql: String =
    """WITH daily AS (
      |  SELECT CAST(o_orderdate AS DATE) AS day,
      |    CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
      |      AS BIGINT)) AS BIGINT) AS cents
      |  FROM orders GROUP BY 1),
      |pre AS (
      |  SELECT day,
      |    CAST(sum(cents) OVER (ORDER BY day
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |      AS BIGINT) AS s1,
      |    CAST(count(*) OVER (ORDER BY day
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |      AS BIGINT) AS n1,
      |    CAST(sum(cents) OVER () AS BIGINT) AS st,
      |    CAST(count(*) OVER () AS BIGINT) AS nt,
      |    sum(CAST(cents AS HUGEINT) * cents) OVER () AS syy
      |  FROM daily),
      |g AS (
      |  SELECT day, n1 AS n_left, nt - n1 AS n_right, nt,
      |    CAST(s1 * (nt - n1) - (st - s1) * n1 AS DOUBLE)
      |      * CAST(s1 * (nt - n1) - (st - s1) * n1 AS DOUBLE)
      |      / CAST(nt * n1 * (nt - n1) AS DOUBLE) AS g_raw,
      |    CAST(syy * nt - CAST(st AS HUGEINT) * st AS DOUBLE) AS tssn
      |  FROM pre WHERE n1 < nt)
      |SELECT day, n_left, n_right,
      |  round(g_raw * CAST(nt AS DOUBLE) / tssn, 6) AS gain_r2,
      |  (g_raw = max(g_raw) OVER ()) AS is_best_split
      |FROM g""".stripMargin

  /** Kalman local-level model constants (pinned): process variance Q,
    * observation variance R, initial state variance P0 — dollars². */
  val kalmanQ = 10000.0
  val kalmanR = 1000000.0
  val kalmanP0 = 1000000.0

  /** 1-D KALMAN FILTER (local-level model) over daily revenue — the
    * optimal-under-Gaussian online smoother the EWMA approximates with
    * a FIXED gain; the Kalman gain ADAPTS (large while uncertain, then
    * converges to the steady state the Riccati recursion fixes), which
    * is exactly what a live revenue tracker wants after a restart or a
    * regime change. Rendering: whole-dollar daily observations (exact
    * longs, the [[durbinWatson]] flooring), one day-sorted array fold
    * carrying (level, variance, gain, innovation) — the [[holtForecast]]
    * stateful-fold determinism pattern, with the recurrence written as
    * the IDENTICAL expression tree on both engines (oracle: bounded
    * recursive CTE). Constants pinned; only the final row ships,
    * rounded.
    *
    * Scale: one combinable daily aggregate + an O(days) fold — the
    * accepted single-partition day-frame class. */
  def kalmanLevel(s: SparkSession, d: String): DataFrame = {
    val q = kalmanQ; val r = kalmanR; val p0 = kalmanP0
    val daily = Tables.events(s, d)
      .filter(col("event_type") === "purchase")
      .groupBy(date_trunc("day", col("ts")).cast("date").as("day"))
      .agg(expr("CAST(sum(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) div 100")
        .as("y"))
    daily.groupBy()
      .agg(sort_array(collect_list(struct(col("day"), col("y")))).as("arr"))
      // empty series: slice length goes negative and arr[0] indexes out
      // of bounds under ANSI; DuckDB emits zero rows (its recursive
      // seed never matches WHERE i = len(arr)) — mirror with a filter
      // (purchaseless edge sweep)
      .filter(size(col("arr")) > 0)
      .select(size(col("arr")).cast("long").as("n_days"), expr(
        s"""aggregate(slice(arr, 2, size(arr) - 1),
           |  named_struct(
           |    'l', CAST(arr[0].y AS DOUBLE), 'p', CAST($p0 AS DOUBLE),
           |    'kg', CAST(0.0 AS DOUBLE), 'innov', CAST(0.0 AS DOUBLE)),
           |  (acc, e) -> named_struct(
           |    'l', acc.l + ((acc.p + $q) / (acc.p + $q + $r))
           |           * (CAST(e.y AS DOUBLE) - acc.l),
           |    'p', (1.0 - (acc.p + $q) / (acc.p + $q + $r)) * (acc.p + $q),
           |    'kg', (acc.p + $q) / (acc.p + $q + $r),
           |    'innov', CAST(e.y AS DOUBLE) - acc.l))""".stripMargin).as("st"))
      .select(col("n_days"),
        round(col("st.l"), 4).as("level_dollars"),
        round(col("st.p"), 6).as("p_var"),
        round(col("st.kg"), 6).as("gain"),
        round(col("st.innov"), 4).as("last_innovation"))
  }

  lazy val kalmanLevelSql: String = {
    val q = kalmanQ; val r = kalmanR; val p0 = kalmanP0
    s"""WITH RECURSIVE daily AS (
       |  SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
       |    CAST(sum(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) // 100 AS y
       |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
       |packed AS (
       |  SELECT list(struct_pack(day := day, y := y) ORDER BY day) AS arr
       |  FROM daily),
       |state(i, l, p, kg, innov) AS (
       |  SELECT 1, CAST(arr[1].y AS DOUBLE), CAST($p0 AS DOUBLE),
       |    CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE) FROM packed
       |  UNION ALL
       |  SELECT i + 1,
       |    l + ((p + $q) / (p + $q + $r))
       |      * (CAST(arr[i + 1].y AS DOUBLE) - l),
       |    (1.0 - (p + $q) / (p + $q + $r)) * (p + $q),
       |    (p + $q) / (p + $q + $r),
       |    CAST(arr[i + 1].y AS DOUBLE) - l
       |  FROM state, packed WHERE i < len(arr))
       |SELECT CAST(len(arr) AS BIGINT) AS n_days,
       |  round(l, 4) AS level_dollars, round(p, 6) AS p_var,
       |  round(kg, 6) AS gain, round(innov, 4) AS last_innovation
       |FROM state, packed WHERE i = len(arr)""".stripMargin
  }


  /** Max PACF lag. */
  val pacfMaxLag = 7

  /** Daily order revenue over every order date in exact cents: one row
    * per day, `day` and `y`. */
  private def dailyOrderRevenue(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg((sum(col("o_totalprice").cast(DecimalType(18, 2))) * 100)
        .cast("long").as("y"))

  /** PARTIAL AUTOCORRELATION FUNCTION, lags 1..[[pacfMaxLag]], via the
    * Durbin–Levinson recursion — the AR-order-selection readout the
    * plain ACF ([[acfDailyRevenue]]) can't give (a pure AR(p) series
    * has geometric ACF forever but PACF that CUTS OFF at p; the
    * cutoff, read against the ±1.96/√n band shipped alongside, is the
    * Box–Jenkins model-identification step). Two stages, each in the
    * engine's determinism discipline:
    *
    *  1. Fixed-mean autocorrelations ρ₁..ρ₇ from EXACT integers: with
    *     S = Σy, n, and per-lag overlap sums (head Hₖ, tail Tₖ, cross
    *     Σyₜyₜ₊ₖ — calendar-shift equi-joins, the [[acfDailyRevenue]]
    *     rendering, no global window), the scaled autocovariance
    *     Aₖ = n²Σyₜyₜ₊ₖ − nS(Hₖ+Tₖ) + cₖS² is exact DECIMAL(38,0);
    *     ρₖ = Aₖ/A₀ is one division of two converted decimals.
    *  2. Durbin–Levinson folds k = 2..7 over the pinned ρ array with
    *     the IDENTICAL nested-fold expression tree on both engines
    *     (inner dot products ascending-j, φ updates positional), so
    *     the only float divergence is the known 1-ulp decimal
    *     conversion, swallowed by the 6 dp rounding.
    *
    * Scale: one daily aggregate, a 7-lag broadcast-crossed self-join
    * on O(days) rows, then O(lag²) scalar arithmetic. */
  def pacfDailyRevenue(s: SparkSession, d: String): DataFrame = {
    val K = pacfMaxLag
    val big = DecimalType(38, 0)
    def d0(c: org.apache.spark.sql.Column) = c.cast(big)
    val daily = dailyOrderRevenue(s, d)
    val glob = daily.agg(count(lit(1)).cast("long").as("n"),
      sum(col("y")).cast("long").as("sgl"),
      sum(d0(col("y")) * d0(col("y"))).as("syy"))
    val lags = s.range(1, K + 1).select(col("id").cast("int").as("lag"))
    val left = daily.crossJoin(broadcast(lags))
      .select(col("lag"), date_add(col("day"), col("lag")).as("day2"),
        col("y").as("x"))
    val right = daily.select(col("day").as("day2"), col("y"))
    val perLag = left.join(right, Seq("day2"))
      .groupBy(col("lag"))
      .agg(count(lit(1)).cast("long").as("ck"),
        sum(d0(col("x")) * d0(col("y"))).as("sxy"),
        sum(col("x")).cast("long").as("hk"),
        sum(col("y")).cast("long").as("tk"))
    val withG = perLag.crossJoin(broadcast(glob))
      .select(col("lag"), col("n"),
        ((d0(col("n")) * d0(col("n")) * col("sxy") -
          d0(col("n")) * d0(col("sgl")) * d0(col("hk") + col("tk")) +
          d0(col("ck")) * d0(col("sgl")) * d0(col("sgl"))).cast("double") /
          (d0(col("n")) * d0(col("n")) * col("syy") -
            d0(col("n")) * d0(col("sgl")) * d0(col("sgl"))).cast("double"))
          .as("rho"))
    withG
      .groupBy()
      .agg(max(col("n")).as("n"),
        sort_array(collect_list(struct(col("lag"), col("rho")))).as("rl"))
      .select(col("n"), expr("transform(rl, e -> e.rho)").as("rho"))
      // every rho access goes through get() (the out-of-bounds-tolerant
      // 0-based accessor): on a sparse/empty daily series some lags have
      // no pairs at all, so rho is SHORTER than K — or empty — and the
      // bare rho[i] is an ANSI array-index error where DuckDB's 1-based
      // list access reads NULL (single-customer edge sweep); the NULLs
      // then flow through the Durbin–Levinson fold exactly as there
      .select(col("n"), expr(
        s"""aggregate(sequence(2, $K),
           |  named_struct('phi', array(get(rho, 0)),
           |    'e', 1.0 - get(rho, 0) * get(rho, 0),
           |    'pout', array(get(rho, 0))),
           |  (acc, k) -> named_struct(
           |    'phi', concat(
           |      transform(sequence(1, k - 1), j ->
           |        acc.phi[j - 1] -
           |          ((get(rho, k - 1) - aggregate(sequence(1, k - 1),
           |              CAST(0.0 AS DOUBLE),
           |              (sm, j2) -> sm + acc.phi[j2 - 1] * get(rho, k - j2 - 1)))
           |            / nullif(acc.e, 0.0D)) * acc.phi[k - j - 1]),
           |      array((get(rho, k - 1) - aggregate(sequence(1, k - 1),
           |          CAST(0.0 AS DOUBLE),
           |          (sm, j2) -> sm + acc.phi[j2 - 1] * get(rho, k - j2 - 1)))
           |        / nullif(acc.e, 0.0D))),
           |    'e', acc.e * (1.0 -
           |      ((get(rho, k - 1) - aggregate(sequence(1, k - 1),
           |          CAST(0.0 AS DOUBLE),
           |          (sm, j2) -> sm + acc.phi[j2 - 1] * get(rho, k - j2 - 1)))
           |        / nullif(acc.e, 0.0D)) *
           |      ((get(rho, k - 1) - aggregate(sequence(1, k - 1),
           |          CAST(0.0 AS DOUBLE),
           |          (sm, j2) -> sm + acc.phi[j2 - 1] * get(rho, k - j2 - 1)))
           |        / nullif(acc.e, 0.0D))),
           |    'pout', concat(acc.pout,
           |      array((get(rho, k - 1) - aggregate(sequence(1, k - 1),
           |          CAST(0.0 AS DOUBLE),
           |          (sm, j2) -> sm + acc.phi[j2 - 1] * get(rho, k - j2 - 1)))
           |        / nullif(acc.e, 0.0D)))))""".stripMargin).as("st"))
      .select(col("n"), posexplode(col("st.pout")).as(Seq("pos", "p")))
      .select((col("pos") + 1).as("lag"),
        round(col("p"), 6).as("pacf"),
        // band compare on the ROUNDED statistic against a rounded band:
        // both sides are then identical doubles on both engines, so the
        // flag can't flip on the 1-ulp decimal-conversion skew
        (abs(round(col("p"), 6)) >
          round(lit(1.959963984540054) / sqrt(col("n").cast("double")), 6))
          .as("significant_95"))
  }

  lazy val pacfDailyRevenueSql: String = {
    val K = pacfMaxLag
    s"""WITH RECURSIVE daily AS (
       |  SELECT CAST(o_orderdate AS DATE) AS day,
       |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS y
       |  FROM orders GROUP BY 1),
       |gtot AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(y) AS BIGINT) AS sgl,
       |    sum(CAST(y AS HUGEINT) * y) AS syy
       |  FROM daily),
       |lags AS (SELECT UNNEST(range(1, ${K + 1})) AS lag),
       |per_lag AS (
       |  SELECT l.lag, count(*) AS ck,
       |    sum(CAST(a.y AS HUGEINT) * b.y) AS sxy,
       |    CAST(sum(a.y) AS BIGINT) AS hk, CAST(sum(b.y) AS BIGINT) AS tk
       |  FROM daily a CROSS JOIN lags l
       |  JOIN daily b ON b.day = a.day + CAST(l.lag AS INTEGER)
       |  GROUP BY l.lag),
       |rho_rows AS (
       |  SELECT lag,
       |    CAST(CAST(n AS HUGEINT) * n * sxy
       |        - CAST(n AS HUGEINT) * sgl * (hk + tk)
       |        + CAST(ck AS HUGEINT) * sgl * sgl AS DOUBLE) /
       |    CAST(CAST(n AS HUGEINT) * n * syy
       |        - CAST(n AS HUGEINT) * sgl * sgl AS DOUBLE) AS rho
       |  FROM per_lag CROSS JOIN gtot),
       |packed AS (
       |  SELECT (SELECT max(n) FROM gtot) AS n,
       |    list(rho ORDER BY lag) AS rho FROM rho_rows),
       |dl(k, phi, e, pout) AS (
       |  SELECT 1, [rho[1]], 1.0 - rho[1] * rho[1], [rho[1]] FROM packed
       |  UNION ALL
       |  SELECT k + 1,
       |    list_append(
       |      [phi[CAST(j AS INT)] -
       |         ((rho[k + 1] - list_sum(
       |             [phi[CAST(j2 AS INT)] * rho[CAST(k + 1 - j2 AS INT)]
       |              FOR j2 IN range(1, k + 1)])) / e)
       |         * phi[CAST(k + 1 - j AS INT)]
       |       FOR j IN range(1, k + 1)],
       |      (rho[k + 1] - list_sum(
       |          [phi[CAST(j2 AS INT)] * rho[CAST(k + 1 - j2 AS INT)]
       |           FOR j2 IN range(1, k + 1)])) / e),
       |    e * (1.0 -
       |      ((rho[k + 1] - list_sum(
       |          [phi[CAST(j2 AS INT)] * rho[CAST(k + 1 - j2 AS INT)]
       |           FOR j2 IN range(1, k + 1)])) / e) *
       |      ((rho[k + 1] - list_sum(
       |          [phi[CAST(j2 AS INT)] * rho[CAST(k + 1 - j2 AS INT)]
       |           FOR j2 IN range(1, k + 1)])) / e)),
       |    list_append(pout,
       |      (rho[k + 1] - list_sum(
       |          [phi[CAST(j2 AS INT)] * rho[CAST(k + 1 - j2 AS INT)]
       |           FOR j2 IN range(1, k + 1)])) / e)
       |  FROM dl, packed WHERE k < $K)
       |SELECT CAST(t.i AS INT) AS lag,
       |  round(pout[CAST(t.i AS INT)], 6) AS pacf,
       |  (abs(round(pout[CAST(t.i AS INT)], 6)) >
       |    round(1.959963984540054 / sqrt(CAST(packed.n AS DOUBLE)), 6))
       |    AS significant_95
       |FROM dl, packed, range(1, ${K + 1}) t(i)
       |WHERE dl.k = $K""".stripMargin
  }

  /** Daily purchase revenue in exact cents, packed into one row: `arr`,
    * the day-sorted (day, y) pairs, `n` days and `mu`, the mean of y. */
  private def dailyPurchasePacked(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .filter(col("event_type") === "purchase")
      .groupBy(date_trunc("day", col("ts")).cast("date").as("day"))
      .agg((sum(col("value").cast(DecimalType(18, 2))) * 100)
        .cast("long").as("y"))
      .groupBy()
      .agg(sort_array(collect_list(struct(col("day"), col("y")))).as("arr"),
        count(lit(1)).cast("long").as("n"),
        sum(col("y")).cast(DecimalType(38, 0)).as("sy"))
      .select(col("arr"), col("n"),
        (col("sy").cast("double") / col("n").cast("double")).as("mu"))

  /** ENGLE'S ARCH LM TEST on daily purchase revenue — "is the VARIANCE
    * autocorrelated?", the volatility-clustering readout none of the
    * existing diagnostics see: [[ljungBox]] tests serial correlation of
    * the LEVELS, [[dispersionDaily]] its overall spread; ARCH asks
    * whether a quiet day predicts a quiet tomorrow (the GARCH-family
    * premise, and the test run before trusting any constant-variance
    * interval, e.g. [[bollingerBands]]'). Form: the LM auxiliary
    * regression of e²ₜ on e²ₜ₋₁ over consecutive-day pairs; LM = m·R²
    * ~ χ²(1) under homoscedasticity.
    *
    * Determinism: daily cents are exact longs; μ = S/n is ONE pinned
    * division; e²ₜ enters as a double but every moment (n, Σu, Σv, Σuv,
    * Σu², Σv²) accumulates in ONE day-sorted stateful fold (the
    * [[kalmanLevel]] pattern — the state carries the previous day so
    * only CONSECUTIVE days pair; oracle: bounded recursive CTE with
    * the identical update tree). R², LM and the pinned χ²(1) 5% cut
    * are one formula each, rounded.
    *
    * Scale: one combinable daily aggregate + an O(days) fold — the
    * accepted single-partition day-frame class. */
  def archTest(s: SparkSession, d: String): DataFrame = {
    val packed = dailyPurchasePacked(s, d)
    // state: (pd = prev day, pu = prev e², m = pairs, and the 5 moments)
    val folded = packed.select(col("n"), expr(
      """aggregate(slice(arr, 2, size(arr) - 1),
        |  named_struct(
        |    'pd', arr[0].day,
        |    'pu', (CAST(arr[0].y AS DOUBLE) - mu)
        |        * (CAST(arr[0].y AS DOUBLE) - mu),
        |    'm', CAST(0 AS BIGINT),
        |    'su', CAST(0.0 AS DOUBLE), 'sv', CAST(0.0 AS DOUBLE),
        |    'suv', CAST(0.0 AS DOUBLE), 'suu', CAST(0.0 AS DOUBLE),
        |    'svv', CAST(0.0 AS DOUBLE)),
        |  (acc, e) -> named_struct(
        |    'pd', e.day,
        |    'pu', (CAST(e.y AS DOUBLE) - mu) * (CAST(e.y AS DOUBLE) - mu),
        |    'm', acc.m + (CASE WHEN datediff(e.day, acc.pd) = 1
        |                  THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END),
        |    'su', acc.su + (CASE WHEN datediff(e.day, acc.pd) = 1
        |      THEN acc.pu ELSE 0.0 END),
        |    'sv', acc.sv + (CASE WHEN datediff(e.day, acc.pd) = 1
        |      THEN (CAST(e.y AS DOUBLE) - mu) * (CAST(e.y AS DOUBLE) - mu)
        |      ELSE 0.0 END),
        |    'suv', acc.suv + (CASE WHEN datediff(e.day, acc.pd) = 1
        |      THEN acc.pu * (CAST(e.y AS DOUBLE) - mu)
        |        * (CAST(e.y AS DOUBLE) - mu) ELSE 0.0 END),
        |    'suu', acc.suu + (CASE WHEN datediff(e.day, acc.pd) = 1
        |      THEN acc.pu * acc.pu ELSE 0.0 END),
        |    'svv', acc.svv + (CASE WHEN datediff(e.day, acc.pd) = 1
        |      THEN (CAST(e.y AS DOUBLE) - mu) * (CAST(e.y AS DOUBLE) - mu)
        |        * (CAST(e.y AS DOUBLE) - mu) * (CAST(e.y AS DOUBLE) - mu)
        |      ELSE 0.0 END)))""".stripMargin).as("st"))
    val m = col("st.m").cast("double")
    val r2num = (m * col("st.suv") - col("st.su") * col("st.sv")) *
      (m * col("st.suv") - col("st.su") * col("st.sv"))
    val r2den = (m * col("st.suu") - col("st.su") * col("st.su")) *
      (m * col("st.svv") - col("st.sv") * col("st.sv"))
    // NULL-on-degenerate guards (purchaseless edge sweep): zero
    // consecutive pairs or constant squared residuals zero the
    // regression denominator — NULL on DuckDB, ANSI error here
    val r2 = when(r2den === 0d, lit(null).cast("double"))
      .otherwise(r2num / r2den)
    folded
      // an EMPTY series would index arr[0] inside the fold init under
      // ANSI; DuckDB emits zero rows there (its recursive seed never
      // matches WHERE i = len(arr)) — mirror with a filter
      .filter(col("n") > 0L)
      .select(col("n").as("n_days"), col("st.m").as("n_pairs"),
        round(r2, 6).as("r2"),
        round(m * r2, 4).as("lm_stat"),
        (m * r2 > lit(3.841458820694124)).as("arch_95"))
  }

  lazy val archTestSql: String =
    """WITH RECURSIVE daily AS (
      |  SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
      |    CAST(sum(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS y
      |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
      |packed AS (
      |  SELECT list(struct_pack(day := day, y := y) ORDER BY day) AS arr,
      |    CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(CAST(y AS HUGEINT)) AS DOUBLE) / count(*) AS mu
      |  FROM daily),
      |state(i, pd, pu, m, su, sv, suv, suu, svv) AS (
      |  SELECT 1, arr[1].day,
      |    (CAST(arr[1].y AS DOUBLE) - mu) * (CAST(arr[1].y AS DOUBLE) - mu),
      |    CAST(0 AS BIGINT), CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE),
      |    CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE)
      |  FROM packed
      |  UNION ALL
      |  SELECT i + 1, arr[i + 1].day,
      |    (CAST(arr[i + 1].y AS DOUBLE) - mu)
      |      * (CAST(arr[i + 1].y AS DOUBLE) - mu),
      |    m + (CASE WHEN date_diff('day', pd, arr[i + 1].day) = 1
      |          THEN 1 ELSE 0 END),
      |    su + (CASE WHEN date_diff('day', pd, arr[i + 1].day) = 1
      |      THEN pu ELSE 0.0 END),
      |    sv + (CASE WHEN date_diff('day', pd, arr[i + 1].day) = 1
      |      THEN (CAST(arr[i + 1].y AS DOUBLE) - mu)
      |        * (CAST(arr[i + 1].y AS DOUBLE) - mu) ELSE 0.0 END),
      |    suv + (CASE WHEN date_diff('day', pd, arr[i + 1].day) = 1
      |      THEN pu * (CAST(arr[i + 1].y AS DOUBLE) - mu)
      |        * (CAST(arr[i + 1].y AS DOUBLE) - mu) ELSE 0.0 END),
      |    suu + (CASE WHEN date_diff('day', pd, arr[i + 1].day) = 1
      |      THEN pu * pu ELSE 0.0 END),
      |    svv + (CASE WHEN date_diff('day', pd, arr[i + 1].day) = 1
      |      THEN (CAST(arr[i + 1].y AS DOUBLE) - mu)
      |        * (CAST(arr[i + 1].y AS DOUBLE) - mu)
      |        * (CAST(arr[i + 1].y AS DOUBLE) - mu)
      |        * (CAST(arr[i + 1].y AS DOUBLE) - mu) ELSE 0.0 END)
      |  FROM state, packed WHERE i < len(arr)),
      |fin AS (
      |  SELECT n, m,
      |    (CAST(m AS DOUBLE) * suv - su * sv)
      |      * (CAST(m AS DOUBLE) * suv - su * sv) AS r2num,
      |    (CAST(m AS DOUBLE) * suu - su * su)
      |      * (CAST(m AS DOUBLE) * svv - sv * sv) AS r2den
      |  FROM state, packed WHERE i = len(arr))
      |SELECT n AS n_days, m AS n_pairs,
      |  round(r2num / r2den, 6) AS r2,
      |  round(CAST(m AS DOUBLE) * r2num / r2den, 4) AS lm_stat,
      |  (CAST(m AS DOUBLE) * r2num / r2den > 3.841458820694124) AS arch_95
      |FROM fin""".stripMargin

  /** CHOW STRUCTURAL-BREAK TEST at the sample midpoint — does the
    * daily-revenue TREND LINE change regime halfway through the study?
    * [[changepoint]] finds the best LEVEL split; Chow tests a
    * hypothesized break in the full linear model (intercept AND
    * slope): F = ((SSR_pooled − SSR₁ − SSR₂)/2) / ((SSR₁+SSR₂)/(n−4)),
    * the classic pre/post-policy regression diagnostic. Break point
    * pinned at min-date + ⌊span/2⌋ days (a HYPOTHESIZED break is the
    * test's contract — searching for it is q_changepoint's job).
    *
    * Determinism: one conditional aggregate carries all three
    * segments' exact integer moments (n, Σt, Σy, Σty, Σt², Σy² with
    * t = days since d₀ and y in whole cents); each SSR is the pinned
    * expression (C − A²/B)/n on DOUBLES CONVERTED ONCE from exact
    * decimals (A² at ~10³⁸ is why the square happens in double — the
    * exact subterms A, B, C are decimal(38,0)); the 5% flag uses the
    * asymptotic F(2,∞) = χ²₂/2 point (n ≈ 2 400 ⇒ the exact
    * F(2, n−4) point differs in the third decimal — documented).
    * A segment with < 3 days (⇒ n·stt − st² = 0) yields NULL
    * chow_f/break_95 rather than NaN and a silently-false flag.
    *
    * Scale: one map-side-combinable daily aggregate → one row. */
  def chowTest(s: SparkSession, d: String): DataFrame = {
    val big = DecimalType(38, 0)
    def d0(c: org.apache.spark.sql.Column) = c.cast(big)
    val daily = dailyOrderRevenue(s, d)
    val bounds = daily.agg(min(col("day")).as("dmin"), max(col("day")).as("dmax"))
    val based = daily.crossJoin(broadcast(bounds))
      .select(datediff(col("day"), col("dmin")).cast("long").as("t"),
        col("y"),
        (datediff(col("day"), col("dmin")) <
          expr("datediff(dmax, dmin) div 2")).as("pre"))
    def moms(flag: Column, suffix: String) = Seq(
      sum(when(flag, 1L).otherwise(0L)).cast("long").as(s"n$suffix"),
      sum(when(flag, d0(col("t"))).otherwise(d0(lit(0)))).cast(big)
        .as(s"st$suffix"),
      sum(when(flag, d0(col("y"))).otherwise(d0(lit(0)))).cast(big)
        .as(s"sy$suffix"),
      sum(when(flag, d0(col("t")) * d0(col("y"))).otherwise(d0(lit(0))))
        .cast(big).as(s"sty$suffix"),
      sum(when(flag, d0(col("t")) * d0(col("t"))).otherwise(d0(lit(0))))
        .cast(big).as(s"stt$suffix"),
      sum(when(flag, d0(col("y")) * d0(col("y"))).otherwise(d0(lit(0))))
        .cast(big).as(s"syy$suffix"))
    val aggs = moms(lit(true), "p") ++ moms(col("pre"), "1") ++
      moms(!col("pre"), "2")
    val m = based.agg(aggs.head, aggs.tail: _*)
    def ssr(x: String) =
      s"""((CAST(n$x * syy$x - sy$x * sy$x AS DOUBLE)
         |  - CAST(n$x * sty$x - st$x * sy$x AS DOUBLE)
         |    * CAST(n$x * sty$x - st$x * sy$x AS DOUBLE)
         |    / CAST(n$x * stt$x - st$x * st$x AS DOUBLE))
         |  / CAST(n$x AS DOUBLE))""".stripMargin
    val f = (expr(ssr("p")) - expr(ssr("1")) - expr(ssr("2"))) / 2.0 /
      ((expr(ssr("1")) + expr(ssr("2"))) /
        (col("np").cast("double") - 4.0))
    // degenerate-segment guard: a side with < 3 days has n·stt − st² = 0
    // (t is distinct per day, so n ≥ 3 ⇒ positive) and ssr would divide
    // by zero — emit NULL chow_f/break_95 instead of NaN and a
    // silently-false flag, mirroring mantelHaenszel's n≥2 stratum rule.
    val ok = col("n1") >= 3L && col("n2") >= 3L
    m.select(col("np").as("n_days"), col("n1").as("n_pre"),
      col("n2").as("n_post"),
      round(when(ok, f), 4).as("chow_f"),
      when(ok, f > lit(2.995732273553991)).as("break_95"))
  }

  val chowTestSql: String = {
    def ssr(x: String) =
      s"""((CAST(n$x * syy$x - sy$x * sy$x AS DOUBLE)
         |  - CAST(n$x * sty$x - st$x * sy$x AS DOUBLE)
         |    * CAST(n$x * sty$x - st$x * sy$x AS DOUBLE)
         |    / CAST(n$x * stt$x - st$x * st$x AS DOUBLE))
         |  / CAST(n$x AS DOUBLE))""".stripMargin
    def moms(cond: String, x: String) =
      s"""CAST(sum(CASE WHEN $cond THEN 1 ELSE 0 END) AS BIGINT) AS n$x,
         |    sum(CASE WHEN $cond THEN CAST(t AS HUGEINT) ELSE 0 END) AS st$x,
         |    sum(CASE WHEN $cond THEN CAST(y AS HUGEINT) ELSE 0 END) AS sy$x,
         |    sum(CASE WHEN $cond THEN CAST(t AS HUGEINT) * y ELSE 0 END)
         |      AS sty$x,
         |    sum(CASE WHEN $cond THEN CAST(t AS HUGEINT) * t ELSE 0 END)
         |      AS stt$x,
         |    sum(CASE WHEN $cond THEN CAST(y AS HUGEINT) * y ELSE 0 END)
         |      AS syy$x""".stripMargin
    s"""WITH daily AS (
       |  SELECT CAST(o_orderdate AS DATE) AS day,
       |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
       |      AS y
       |  FROM orders GROUP BY 1),
       |b AS (SELECT min(day) AS dmin, max(day) AS dmax FROM daily),
       |based AS (
       |  SELECT CAST(date_diff('day', b.dmin, d.day) AS BIGINT) AS t, d.y,
       |    date_diff('day', b.dmin, d.day)
       |      < date_diff('day', b.dmin, b.dmax) // 2 AS pre
       |  FROM daily d CROSS JOIN b),
       |m AS (
       |  SELECT ${moms("TRUE", "p")},
       |    ${moms("pre", "1")},
       |    ${moms("NOT pre", "2")}
       |  FROM based)
       |SELECT np AS n_days, n1 AS n_pre, n2 AS n_post,
       |  CASE WHEN n1 >= 3 AND n2 >= 3 THEN
       |    round(((${ssr("p")} - ${ssr("1")} - ${ssr("2")}) / 2.0)
       |      / ((${ssr("1")} + ${ssr("2")}) / (CAST(np AS DOUBLE) - 4.0)), 4)
       |    END AS chow_f,
       |  CASE WHEN n1 >= 3 AND n2 >= 3 THEN
       |    ((((${ssr("p")} - ${ssr("1")} - ${ssr("2")}) / 2.0)
       |      / ((${ssr("1")} + ${ssr("2")}) / (CAST(np AS DOUBLE) - 4.0)))
       |      > 2.995732273553991) END AS break_95
       |FROM m""".stripMargin
  }

  /** Shared base for the OLS residual diagnostics ([[breuschPagan]],
    * [[jarqueBera]]): the daily-revenue day census packed day-sorted
    * with the OLS (intercept, slope) of cents on day index — both as
    * pinned doubles off exact integer moments. Completes the
    * regression-diagnostic battery with [[durbinWatson]]
    * (autocorrelation) and [[chowTest]] (structural break). */
  private def olsDailyPacked(s: SparkSession, d: String): DataFrame = {
    val big = DecimalType(38, 0)
    def d0(c: org.apache.spark.sql.Column) = c.cast(big)
    val daily = dailyOrderRevenue(s, d)
    val bounds = daily.agg(min(col("day")).as("dmin"))
    daily.crossJoin(broadcast(bounds))
      .select(datediff(col("day"), col("dmin")).cast("long").as("t"),
        col("y"))
      .agg(count(lit(1)).cast("long").as("n"),
        sum(d0(col("t"))).cast(big).as("st"),
        sum(d0(col("y"))).cast(big).as("sy"),
        sum(d0(col("t")) * d0(col("y"))).cast(big).as("sty"),
        sum(d0(col("t")) * d0(col("t"))).cast(big).as("stt"),
        sort_array(collect_list(struct(col("t"), col("y")))).as("cs"))
      // slope/intercept: exact decimal subterms, ONE conversion each.
      // NULL guard (single-day series, edge sweep): n·stt − st² is
      // exactly 0 with one day (t = 0) — NULL on DuckDB's x/0, ANSI
      // error here; every residual consumer then NULL-propagates
      .select(col("n"), col("cs"),
        when((col("n") * col("stt") - col("st") * col("st")) === 0,
          lit(null).cast("double")).otherwise(
          (col("n") * col("sty") - col("st") * col("sy")).cast("double") /
            (col("n") * col("stt") - col("st") * col("st")).cast("double"))
          .as("slope"),
        (col("sy").cast("double") / col("n").cast("double")).as("ybar"),
        (col("st").cast("double") / col("n").cast("double")).as("tbar"))
      .select(col("n"), col("cs"), col("slope"),
        (col("ybar") - col("slope") * col("tbar")).as("icept"))
  }

  /** Residual macro shared by both diagnostics (identical text both
    * engines): e = y − (icept + slope·t). */
  private val olsResid =
    "(CAST(c.y AS DOUBLE) - (icept + slope * CAST(c.t AS DOUBLE)))"

  /** BREUSCH–PAGAN TEST on the daily-revenue trend OLS — is the
    * residual VARIANCE itself a function of time? The
    * heteroscedasticity member of the residual battery
    * ([[durbinWatson]] autocorrelation, [[jarqueBera]] normality,
    * [[chowTest]] break, [[archTest]] lag-dependence of variance):
    * regress e² on t, LM = n·R² ~ χ²(1). A growing business usually
    * fails this — revenue noise scales with revenue — which is why
    * trend CIs need robust (White) errors.
    *
    * Determinism: the auxiliary regression's five moments fold over
    * the SAME day-sorted array as the base fit, with e² the pinned
    * [[olsResid]] macro squared; one R² formula; χ²(1) 5% pinned.
    * Scale: one daily aggregate → one-row folds (the accepted
    * O(days) class). */
  def breuschPagan(s: SparkSession, d: String): DataFrame = {
    def f(term: String) =
      s"""aggregate(cs, CAST(0.0 AS DOUBLE), (acc, c) -> acc + ($term))"""
        .replace("E2", s"($olsResid * $olsResid)")
    val folded = olsDailyPacked(s, d).select(col("n"),
      expr(f("E2")).as("su"),
      expr(f("E2 * CAST(c.t AS DOUBLE)")).as("sut"),
      expr(f("E2 * E2")).as("suu"),
      expr(f("CAST(c.t AS DOUBLE)")).as("stt1"),
      expr(f("CAST(c.t AS DOUBLE) * CAST(c.t AS DOUBLE)")).as("stt2"))
    val m = col("n").cast("double")
    val r2num = (m * col("sut") - col("stt1") * col("su")) *
      (m * col("sut") - col("stt1") * col("su"))
    val r2den = (m * col("stt2") - col("stt1") * col("stt1")) *
      (m * col("suu") - col("su") * col("su"))
    // NULL guard (empty/degenerate series, edge sweep): r2den is
    // exactly 0 on an empty series (all five folds 0), a single day,
    // or a 2-day fit (residuals identically 0) — NULL on DuckDB's x/0,
    // ANSI error here; a NULL r2den (NULL slope upstream) already
    // NULL-propagates through the division on both engines
    val nullD = lit(null).cast("double")
    folded.select(col("n").as("n_days"),
      when(r2den === 0d, nullD).otherwise(round(r2num / r2den, 6))
        .as("r2_aux"),
      when(r2den === 0d, nullD).otherwise(round(m * r2num / r2den, 4))
        .as("lm_stat"),
      when(r2den === 0d, lit(null).cast("boolean"))
        .otherwise(m * r2num / r2den > lit(3.841458820694124))
        .as("hetero_95"))
  }

  /** JARQUE–BERA TEST on the same residuals — are they NORMAL enough
    * for the OLS t/F machinery? JB = n·(S²/6 + (K−3)²/24) from the
    * residual skewness and kurtosis; heavy-tailed revenue shocks fail
    * here long before they show in a variance plot.
    *
    * Determinism: the four central-moment sums fold day-sorted with
    * the pinned [[olsResid]] macro (mean term folded first, then the
    * powered deviations in a second fold referencing it); powers are
    * written as explicit products; outputs round 6/4; χ²(2) 5%
    * pinned. Scale: same one-row O(days) class. */
  def jarqueBera(s: SparkSession, d: String): DataFrame = {
    def f(term: String) =
      s"""aggregate(cs, CAST(0.0 AS DOUBLE), (acc, c) -> acc + ($term))"""
    val base = olsDailyPacked(s, d).select(col("n"), col("cs"),
      col("icept"), col("slope"),
      // n = 0 guard (empty-orders edge sweep): the residual fold's 0.0
      // init over n = 0 is an ANSI 0/0 here, NULL on DuckDB
      when(col("n") === 0L, lit(null).cast("double"))
        .otherwise(expr(f(olsResid)) / col("n").cast("double"))
        .as("ebar"))
    def dev = s"($olsResid - ebar)"
    val folded = base.select(col("n"),
      expr(f(s"$dev * $dev")).as("m2s"),
      expr(f(s"$dev * $dev * $dev")).as("m3s"),
      expr(f(s"$dev * $dev * $dev * $dev")).as("m4s"))
    val m = col("n").cast("double")
    // zero second moment (empty series: the folds' 0.0 inits; or
    // exactly-zero residuals): skew/kurtosis divide by 0 — NULL on
    // DuckDB, ANSI error here. NULL m2s (NULL slope on a 1-day series)
    // already NULL-propagates identically on both engines.
    val nullD = lit(null).cast("double")
    val degenerate = col("n") === 0L || col("m2s") === 0d
    val skew = (col("m3s") / m) /
      sqrt((col("m2s") / m) * (col("m2s") / m) * (col("m2s") / m))
    val kurt = (col("m4s") / m) / ((col("m2s") / m) * (col("m2s") / m))
    val jb = m * (skew * skew / 6.0 +
      (kurt - 3.0) * (kurt - 3.0) / 24.0)
    folded.select(col("n").as("n_days"),
      when(degenerate, nullD).otherwise(round(skew, 6)).as("resid_skew"),
      when(degenerate, nullD).otherwise(round(kurt, 6))
        .as("resid_kurtosis"),
      when(degenerate, nullD).otherwise(round(jb, 4)).as("jb_stat"),
      when(degenerate, lit(null).cast("boolean"))
        .otherwise(jb > lit(5.991464547107979)).as("nonnormal_95"))
  }

  private val olsCteSql =
    """daily AS (
      |  SELECT CAST(o_orderdate AS DATE) AS day,
      |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
      |      AS y
      |  FROM orders GROUP BY 1),
      |b0 AS (SELECT min(day) AS dmin FROM daily),
      |packed AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n,
      |    sum(CAST(date_diff('day', b0.dmin, day) AS HUGEINT)) AS st,
      |    sum(CAST(y AS HUGEINT)) AS sy,
      |    sum(CAST(date_diff('day', b0.dmin, day) AS HUGEINT) * y) AS sty,
      |    sum(CAST(date_diff('day', b0.dmin, day) AS HUGEINT)
      |      * date_diff('day', b0.dmin, day)) AS stt,
      |    list(struct_pack(
      |      t := CAST(date_diff('day', b0.dmin, day) AS BIGINT), y := y)
      |      ORDER BY date_diff('day', b0.dmin, day)) AS cs
      |  FROM daily CROSS JOIN b0),
      |fit AS (
      |  SELECT n, cs,
      |    CAST(n * sty - st * sy AS DOUBLE)
      |      / CAST(n * stt - st * st AS DOUBLE) AS slope,
      |    CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)
      |      - (CAST(n * sty - st * sy AS DOUBLE)
      |          / CAST(n * stt - st * st AS DOUBLE))
      |        * (CAST(st AS DOUBLE) / CAST(n AS DOUBLE)) AS icept
      |  FROM packed)""".stripMargin

  lazy val breuschPaganSql: String = {
    def f(term: String) =
      s"""list_sum(list_transform(cs, c -> ($term)))"""
        .replace("E2", s"($olsResid * $olsResid)")
    s"""WITH $olsCteSql,
       |folded AS (
       |  SELECT n,
       |    ${f("E2")} AS su,
       |    ${f("E2 * CAST(c.t AS DOUBLE)")} AS sut,
       |    ${f("E2 * E2")} AS suu,
       |    ${f("CAST(c.t AS DOUBLE)")} AS stt1,
       |    ${f("CAST(c.t AS DOUBLE) * CAST(c.t AS DOUBLE)")} AS stt2
       |  FROM fit),
       |stat AS (
       |  SELECT n,
       |    (CAST(n AS DOUBLE) * sut - stt1 * su)
       |      * (CAST(n AS DOUBLE) * sut - stt1 * su) AS r2num,
       |    (CAST(n AS DOUBLE) * stt2 - stt1 * stt1)
       |      * (CAST(n AS DOUBLE) * suu - su * su) AS r2den
       |  FROM folded)
       |SELECT n AS n_days,
       |  round(r2num / r2den, 6) AS r2_aux,
       |  round(CAST(n AS DOUBLE) * r2num / r2den, 4) AS lm_stat,
       |  (CAST(n AS DOUBLE) * r2num / r2den > 3.841458820694124)
       |    AS hetero_95
       |FROM stat""".stripMargin
  }

  lazy val jarqueBeraSql: String = {
    def f(term: String) =
      s"""list_sum(list_transform(cs, c -> ($term)))"""
    val dev = s"($olsResid - ebar)"
    s"""WITH $olsCteSql,
       |base AS (
       |  SELECT n, cs, icept, slope,
       |    ${f(olsResid)} / CAST(n AS DOUBLE) AS ebar
       |  FROM fit),
       |folded AS (
       |  SELECT n,
       |    ${f(s"$dev * $dev")} AS m2s,
       |    ${f(s"$dev * $dev * $dev")} AS m3s,
       |    ${f(s"$dev * $dev * $dev * $dev")} AS m4s
       |  FROM base),
       |stat AS (
       |  SELECT n,
       |    (m3s / CAST(n AS DOUBLE)) / sqrt((m2s / CAST(n AS DOUBLE))
       |      * (m2s / CAST(n AS DOUBLE)) * (m2s / CAST(n AS DOUBLE)))
       |      AS skew,
       |    (m4s / CAST(n AS DOUBLE)) / ((m2s / CAST(n AS DOUBLE))
       |      * (m2s / CAST(n AS DOUBLE))) AS kurt
       |  FROM folded)
       |SELECT n AS n_days,
       |  round(skew, 6) AS resid_skew,
       |  round(kurt, 6) AS resid_kurtosis,
       |  round(CAST(n AS DOUBLE) * (skew * skew / 6.0
       |    + (kurt - 3.0) * (kurt - 3.0) / 24.0), 4) AS jb_stat,
       |  (CAST(n AS DOUBLE) * (skew * skew / 6.0
       |    + (kurt - 3.0) * (kurt - 3.0) / 24.0) > 5.991464547107979)
       |    AS nonnormal_95
       |FROM stat""".stripMargin
  }

  /** Holt–Winters smoothing constants + season length — pinned. */
  val hwAlpha = 0.3
  val hwBeta = 0.1
  val hwGamma = 0.3
  val hwPeriod = 7
  val hwHorizon = 7

  /** HOLT–WINTERS (additive, weekly season) FORECAST BACKTEST — the
    * seasonal completion of the exponential-smoothing ladder:
    * [[forecastBacktest]] naive/seasonal-naive → [[holtForecast]]
    * level+trend → HW level+trend+season, the model that can track a
    * weekday pulse ([[periodogram]] finds real sub-weekly energy in
    * this series) instead of averaging through it. Same harness shape
    * as Holt: fit on all but the last [[hwHorizon]] days, forecast the
    * held-out week, ŷ_h = l + h·b + s[(t+h−1) mod 7].
    *
    * Init (classic): l = mean(week 1), b = (mean(week 2) −
    * mean(week 1))/7, s_j = y_j − l; the update is ONE day-sorted fold
    * whose struct state carries (l, b, s[7], i) — the seasonal slot
    * rewrite is a positional `transform` with the index equality the
    * oracle's recursive CTE replicates 1-based. Seasonal position is
    * ARRAY position mod 7, not calendar weekday — on this dense daily
    * series they coincide; a gapped series would need the
    * [[archTest]] consecutive-day guard. Constants pinned; inputs
    * exact cents; outputs round 4.
    *
    * Scale: one day aggregate; O(days) fold in one row — the
    * [[holtForecast]] class. */
  def holtWinters(s: SparkSession, d: String): DataFrame = {
    val al = hwAlpha; val be = hwBeta; val ga = hwGamma
    val m = hwPeriod; val h = hwHorizon
    val daily = Tables.events(s, d)
      .filter(col("event_type") === "purchase")
      .groupBy(date_trunc("day", col("ts")).cast("date").as("day"))
      .agg((sum(col("value").cast(DecimalType(18, 2))) * 100).cast("long")
        .as("c"))
    val l0 =
      s"""(CAST(aggregate(slice(tr, 1, $m), CAST(0 AS BIGINT),
         |  (a2, e2) -> a2 + e2.c) AS DOUBLE) / $m.0)""".stripMargin
    // the CASE mirrors DuckDB's list_sum([]) = NULL when the second
    // seasonal window is empty (len(tr) = m exactly): the fold here
    // would return its 0 init and silently produce a wrong trend seed
    val b0 =
      s"""(CASE WHEN size(tr) <= $m THEN CAST(NULL AS DOUBLE)
         |  ELSE CAST(aggregate(slice(tr, ${m + 1}, $m), CAST(0 AS BIGINT),
         |    (a2, e2) -> a2 + e2.c)
         |  - aggregate(slice(tr, 1, $m), CAST(0 AS BIGINT),
         |    (a2, e2) -> a2 + e2.c) AS DOUBLE) / ${m * m}.0 END)""".stripMargin
    val lnew =
      s"""($al * (CAST(e.c AS DOUBLE) - acc.s[acc.i % $m])
         |  + ${1 - al} * (acc.l + acc.b))""".stripMargin
    val packed = daily
      .groupBy()
      .agg(sort_array(collect_list(struct(col("day"), col("c")))).as("arr"))
      // DuckDB emits rows only when the training slice reaches the
      // seasonal seed (its recursion starts at i = m, so fin needs
      // len(tr) >= m, i.e. size(arr) >= m + h); shorter series would
      // also drive the slices negative under ANSI here — the filter is
      // the exact mirror (purchaseless edge sweep)
      .filter(size(col("arr")) >= m + h)
      .select(
        expr(s"slice(arr, 1, size(arr) - $h)").as("tr"),
        expr(s"slice(arr, size(arr) - ${h - 1}, $h)").as("te"))
      .select(col("te"), expr(
        s"""aggregate(slice(tr, ${m + 1}, size(tr) - $m),
           |  named_struct(
           |    'l', $l0,
           |    'b', $b0,
           |    's', transform(slice(tr, 1, $m),
           |           e2 -> CAST(e2.c AS DOUBLE) - $l0),
           |    'i', $m),
           |  (acc, e) -> named_struct(
           |    'l', $lnew,
           |    'b', $be * ($lnew - acc.l) + ${1 - be} * acc.b,
           |    's', transform(acc.s, (v, j) -> CASE WHEN j = acc.i % $m
           |           THEN $ga * (CAST(e.c AS DOUBLE) - $lnew)
           |             + ${1 - ga} * v
           |           ELSE v END),
           |    'i', acc.i + 1))""".stripMargin).as("st"),
        expr("size(tr)").as("ntr"))
    packed
      .select(posexplode(col("te")).as(Seq("pos", "e")),
        col("st.l").as("l"), col("st.b").as("b"), col("st.s").as("sarr"),
        col("ntr"))
      .select(col("e.day").as("day"), col("e.c").as("actual_cents"),
        round(col("l") + (col("pos") + 1).cast("double") * col("b") +
          expr(s"sarr[(ntr + pos) % $m]"), 4).as("forecast_cents"),
        round(abs(col("e.c").cast("double") -
          (col("l") + (col("pos") + 1).cast("double") * col("b") +
            expr(s"sarr[(ntr + pos) % $m]"))), 4).as("abs_err"))
      .orderBy("day")
  }

  lazy val holtWintersSql: String = {
    val al = hwAlpha; val be = hwBeta; val ga = hwGamma
    val m = hwPeriod; val h = hwHorizon
    val l0 =
      s"""(CAST(list_sum(list_transform(tr[1:$m], e2 -> e2.c)) AS DOUBLE)
         |  / $m.0)""".stripMargin
    val b0 =
      s"""(CAST(list_sum(list_transform(tr[${m + 1}:${2 * m}], e2 -> e2.c))
         |  - list_sum(list_transform(tr[1:$m], e2 -> e2.c)) AS DOUBLE)
         |  / ${m * m}.0)""".stripMargin
    val lnew =
      s"""($al * (CAST(tr[i + 1].c AS DOUBLE) - s[(i % $m) + 1])
         |  + ${1 - al} * (l + bb))""".stripMargin
    s"""WITH RECURSIVE daily AS (
       |  SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
       |    CAST(sum(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS c
       |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
       |packed AS (
       |  SELECT list(struct_pack(day := day, c := c) ORDER BY day) AS arr
       |  FROM daily),
       |split AS (
       |  SELECT arr[1 : len(arr) - $h] AS tr,
       |    arr[len(arr) - ${h - 1} : len(arr)] AS te
       |  FROM packed),
       |state(i, l, bb, s) AS (
       |  SELECT $m, $l0, $b0,
       |    list_transform(tr[1:$m], e2 -> CAST(e2.c AS DOUBLE) - $l0)
       |  FROM split
       |  UNION ALL
       |  SELECT i + 1,
       |    $lnew,
       |    $be * ($lnew - l) + ${1 - be} * bb,
       |    list_transform(s, (v, j) -> CASE WHEN j = (i % $m) + 1
       |      THEN $ga * (CAST(tr[i + 1].c AS DOUBLE) - $lnew)
       |        + ${1 - ga} * v
       |      ELSE v END)
       |  FROM state, split WHERE i < len(tr)),
       |fin AS (
       |  SELECT l, bb, s, len(tr) AS ntr FROM state, split
       |  WHERE i = len(tr))
       |SELECT te[hh].day AS day, te[hh].c AS actual_cents,
       |  round(l + CAST(hh AS DOUBLE) * bb
       |    + s[((ntr + hh - 1) % $m) + 1], 4) AS forecast_cents,
       |  round(abs(CAST(te[hh].c AS DOUBLE)
       |    - (l + CAST(hh AS DOUBLE) * bb
       |      + s[((ntr + hh - 1) % $m) + 1])), 4) AS abs_err
       |FROM fin, split, range(1, ${h + 1}) t(hh)
       |ORDER BY day""".stripMargin
  }

  /** Candidate periods (days) probed by [[periodogram]]. */
  val periodogramPeriods = Seq(2, 3, 5, 7, 10, 14)

  /** Driver-computed trig tables: cos/sin(2π r/p), r = 0..p−1, inlined
    * as IDENTICAL double literals into both engines' expressions (a
    * libm cos evaluated at runtime could differ by an ulp between
    * JVM and DuckDB; a literal cannot). `toString` round-trips doubles
    * exactly. */
  private def trigLits(p: Int, f: Double => Double): String =
    (0 until p).map(r => f(2.0 * math.Pi * r / p).toString)
      .mkString(", ")

  /** PERIODOGRAM at the [[periodogramPeriods]] candidate periods — the
    * FREQUENCY-DOMAIN seasonality detector: [[seasonalDow]] assumes the
    * week and measures its profile; the periodogram ASKS which period
    * carries the energy, P(p) = [(Σ(yₜ−μ)cos(2πt/p))² +
    * (Σ(yₜ−μ)sin(2πt/p))²] / (n·Σ(yₜ−μ)²) — the Parseval-normalized
    * fraction (a full-energy sinusoid at a Fourier frequency scores
    * 1/2; white noise scores ≈ 1/n per bin), winner flagged. Honest
    * finding on this corpus: the strongest pulse in the events daily
    * revenue is the 2-DAY alternation (frac ≈ 0.18 at sf0.1), with the
    * weekly bin next among the longer periods — the detector reports
    * what's there, not the week it was expected to find.
    *
    * Determinism: cos/sin values are DRIVER-INLINED literals (never a
    * runtime libm call — see [[trigLits]]); t reduces mod p so the
    * table is exact at every t; μ = S/n is one pinned division; each
    * period's two projections fold over the SAME day-sorted array
    * ([[kalmanLevel]] pattern) so accumulation order is pinned; the
    * dominance flag compares ROUNDED fractions (rank can't flip on an
    * ulp). Total SS folds once in the same pass shape.
    *
    * Scale: one combinable daily aggregate; the fold is O(days ×
    * periods) scalar work on one row — the accepted day-frame class. */
  def periodogram(s: SparkSession, d: String): DataFrame = {
    val packed = dailyPurchasePacked(s, d)
      .select(col("arr"), col("n"), col("mu"),
        expr("""aggregate(arr, CAST(0.0 AS DOUBLE), (acc, e) ->
          acc + (CAST(e.y AS DOUBLE) - mu) * (CAST(e.y AS DOUBLE) - mu))""")
          .as("ss"))
    val perStructs = periodogramPeriods.map { p =>
      s"""named_struct('p', $p,
         |  'ca', array(${trigLits(p, math.cos)}),
         |  'sa', array(${trigLits(p, math.sin)}))""".stripMargin
    }.mkString("array(", ",\n", ")")
    val proj = packed
      .select(col("n"), col("mu"), col("ss"), col("arr"),
        explode(expr(perStructs)).as("per"))
      .select(col("n"), col("ss"), col("per.p").as("period"),
        expr("""aggregate(arr, CAST(0.0 AS DOUBLE), (acc, e) ->
          acc + (CAST(e.y AS DOUBLE) - mu)
            * per.ca[CAST(datediff(e.day, arr[0].day) % per.p AS INT)])""")
          .as("pc"),
        expr("""aggregate(arr, CAST(0.0 AS DOUBLE), (acc, e) ->
          acc + (CAST(e.y AS DOUBLE) - mu)
            * per.sa[CAST(datediff(e.day, arr[0].day) % per.p AS INT)])""")
          .as("ps"))
      .select(col("period"), col("n"),
        // NULL-on-zero-energy guard (purchaseless edge sweep): an empty
        // or constant series has n·ss = 0 exactly (the empty fold
        // returns its 0.0 init) — NULL on DuckDB, ANSI error here
        when(col("n").cast("double") * col("ss") === 0d,
          lit(null).cast("double"))
          .otherwise(round((col("pc") * col("pc") + col("ps") * col("ps")) /
            (col("n").cast("double") * col("ss")), 6)).as("power_frac"))
    val best = proj.agg(max(col("power_frac")).as("best_frac"))
    proj.crossJoin(broadcast(best))
      .select(col("period"), col("n").as("n_days"), col("power_frac"),
        (col("power_frac") === col("best_frac")).as("is_dominant"))
      .orderBy("period")
  }

  lazy val periodogramSql: String = {
    val perRows = periodogramPeriods.map { p =>
      s"($p, [${trigLits(p, math.cos)}], [${trigLits(p, math.sin)}])"
    }.mkString(",\n    ")
    s"""WITH daily AS (
       |  SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
       |    CAST(sum(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS y
       |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
       |packed AS (
       |  SELECT list(struct_pack(day := day, y := y) ORDER BY day) AS arr,
       |    CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(CAST(y AS HUGEINT)) AS DOUBLE) / count(*) AS mu
       |  FROM daily),
       |base AS (
       |  SELECT arr, n, mu,
       |    list_sum(list_transform(arr, e ->
       |      (CAST(e.y AS DOUBLE) - mu) * (CAST(e.y AS DOUBLE) - mu))) AS ss
       |  FROM packed),
       |pers(p, ca, sa) AS (VALUES
       |    $perRows),
       |proj AS (
       |  SELECT pers.p AS period, b.n,
       |    round((
       |      list_sum(list_transform(b.arr, e ->
       |        (CAST(e.y AS DOUBLE) - b.mu)
       |          * pers.ca[(date_diff('day', b.arr[1].day, e.day) % pers.p)
       |            + 1]))
       |      * list_sum(list_transform(b.arr, e ->
       |        (CAST(e.y AS DOUBLE) - b.mu)
       |          * pers.ca[(date_diff('day', b.arr[1].day, e.day) % pers.p)
       |            + 1]))
       |      + list_sum(list_transform(b.arr, e ->
       |        (CAST(e.y AS DOUBLE) - b.mu)
       |          * pers.sa[(date_diff('day', b.arr[1].day, e.day) % pers.p)
       |            + 1]))
       |      * list_sum(list_transform(b.arr, e ->
       |        (CAST(e.y AS DOUBLE) - b.mu)
       |          * pers.sa[(date_diff('day', b.arr[1].day, e.day) % pers.p)
       |            + 1]))) / (CAST(b.n AS DOUBLE) * b.ss), 6) AS power_frac
       |  FROM base b CROSS JOIN pers)
       |SELECT period, n AS n_days, power_frac,
       |  (power_frac = (SELECT max(power_frac) FROM proj)) AS is_dominant
       |FROM proj ORDER BY period""".stripMargin
  }

}
