package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Tables

/** The last six classic TPC-H join shapes (Q2/Q9/Q11/Q16/Q20/Q21),
  * blocked since round 4 on columns the harness testdata lacks
  * (`partsupp`, `l_receiptdate`/`l_commitdate`, `p_mfgr`,
  * `s_comment`). Closed by DERIVING the missing relations
  * deterministically from what exists — the same formula on the Spark
  * side and inside each oracle's CTE, so the DuckDB gate grades the
  * full query semantics, not a fixture file:
  *
  *  - `partsupp` := the DISTINCT (l_partkey, l_suppkey) pairs of
  *    lineitem. This mirrors the TPC-H generator's invariant in the
  *    only direction the data supports: dbgen draws every lineitem's
  *    (partkey, suppkey) FROM partsupp, so partsupp ⊇ lineitem-pairs
  *    is the property Q9/Q20's joins rely on; deriving the pair set
  *    from the facts preserves it exactly. ps_availqty ∈ [1, 9999] and
  *    ps_supplycost ∈ [$1.00, $999.99] (cents) come from affine-mod
  *    hashes of the key pair — pure int64 arithmetic both engines
  *    compute identically.
  *  - `l_receiptdate` := l_shipdate + ((31·okey + 7·line) mod 30 + 1)
  *    days — dbgen's receipt lag is uniform 1..30 over shipdate.
  *  - `l_commitdate` := l_shipdate + ((17·okey + 11·line) mod 61 − 30)
  *    days — commitdate is drawn independently around shipdate, so the
  *    "late" predicate receiptdate > commitdate splits the facts
  *    non-trivially (≈73 % here).
  *
  * Where the reference columns feeding a FILTER don't exist, the
  * nearest live column stands in with the predicate shape unchanged
  * (noted per query). Region filters replace single-nation filters so
  * every query stays non-empty at sf0.001 (10 suppliers across 25
  * nations leave most nations empty there).
  *
  * Scale notes: `partsupp` is a real table at 100 TB — there the
  * derivation is just a scan; here the distinct-pair aggregate is one
  * map-side-combinable shuffle of the narrow key pair. Every money sum
  * runs in exact integer units (cents or 1e-4 units) per the engine's
  * decimal discipline; thresholds are cross-multiplied so no division
  * or float ever decides a row.
  */
object TpchClose {

  // ---------------------------------------------------------------- partsupp

  /** Derived partsupp (see object doc): ps_partkey, ps_suppkey,
    * ps_availqty (int 1..9999), ps_supplycost_cents (long 100..99999). */
  def partsupp(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .select(col("l_partkey").as("ps_partkey"),
        col("l_suppkey").as("ps_suppkey"))
      .distinct()
      .withColumn("ps_availqty",
        (pmod(col("ps_partkey") * 37 + col("ps_suppkey") * 101, lit(9999)) + 1)
          .cast("long"))
      .withColumn("ps_supplycost_cents",
        pmod(col("ps_partkey") * 71 + col("ps_suppkey") * 13, lit(99900)) + 100)

  /** The identical derivation as an oracle CTE body (`partsupp AS (…)`
    * must be spliced by the caller — DuckDB views can't shadow). */
  private val partsuppCte: String =
    """partsupp AS (
      |  SELECT ps_partkey, ps_suppkey,
      |    (ps_partkey * 37 + ps_suppkey * 101) % 9999 + 1 AS ps_availqty,
      |    (ps_partkey * 71 + ps_suppkey * 13) % 99900 + 100 AS ps_supplycost_cents
      |  FROM (SELECT DISTINCT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey
      |        FROM lineitem))""".stripMargin

  /** Lineitem extended with the derived receipt/commit dates. */
  def lineitemDated(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .withColumn("rlag",
        (pmod(col("l_orderkey") * 31 + col("l_linenumber") * 7, lit(30)) + 1)
          .cast("int"))
      .withColumn("coff",
        (pmod(col("l_orderkey") * 17 + col("l_linenumber") * 11, lit(61)) - 30)
          .cast("int"))
      .withColumn("l_receiptdate", expr("timestampadd(DAY, rlag, l_shipdate)"))
      .withColumn("l_commitdate", expr("timestampadd(DAY, coff, l_shipdate)"))
      .drop("rlag", "coff")

  private val lineitemDatedCte: String =
    """lineitem_dated AS (
      |  SELECT *,
      |    l_shipdate + INTERVAL ((l_orderkey * 31 + l_linenumber * 7) % 30 + 1) DAY
      |      AS l_receiptdate,
      |    l_shipdate + INTERVAL ((l_orderkey * 17 + l_linenumber * 11) % 61 - 30) DAY
      |      AS l_commitdate
      |  FROM lineitem)""".stripMargin

  // -------------------------------------------------------------------- Q2

  /** TPC-H Q2 — minimum-cost supplier: for every size-15 part, the
    * EUROPE supplier(s) offering it at the region's minimum supply
    * cost. The correlated `ps_supplycost = (SELECT min …)` subquery
    * decorrelates to a per-part min aggregate joined back on
    * (part, cost) — ties surface, as in the spec. All four dimension
    * joins broadcast (region→nation→supplier chain and the size-15
    * part slice are tiny against partsupp); only partsupp itself
    * shuffles, keyed on ps_suppkey then ps_partkey. (p_mfgr and the
    * supplier address block aren't in the harness data; the output
    * carries the surviving identity columns.) */
  def q2MinCostSupplier(s: SparkSession, d: String): DataFrame = {
    val eurSupp = Tables.supplier(s, d)
      .join(broadcast(Tables.nation(s, d)),
        col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, d).filter(col("r_name") === "EUROPE")),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("s_suppkey"), col("s_name"), col("s_acctbal"), col("n_name"))
    val parts = Tables.part(s, d).filter(col("p_size") === 15)
      .select(col("p_partkey"))
    val offers = partsupp(s, d)
      .join(broadcast(eurSupp), col("ps_suppkey") === col("s_suppkey"))
      .join(broadcast(parts), col("ps_partkey") === col("p_partkey"))
    val minCost = offers.groupBy(col("ps_partkey"))
      .agg(min(col("ps_supplycost_cents")).as("min_cost_cents"))
    offers.join(minCost, Seq("ps_partkey"))
      .filter(col("ps_supplycost_cents") === col("min_cost_cents"))
      .select(col("ps_partkey").as("p_partkey"), col("s_suppkey"),
        col("s_name"), col("n_name"), col("s_acctbal"),
        (col("ps_supplycost_cents").cast("double") / 100.0).as("supplycost"))
  }

  lazy val q2MinCostSupplierSql: String =
    s"""WITH $partsuppCte,
       |eur AS (
       |  SELECT s_suppkey, s_name, s_acctbal, n_name
       |  FROM supplier
       |  JOIN nation ON s_nationkey = n_nationkey
       |  JOIN region ON n_regionkey = r_regionkey AND r_name = 'EUROPE'),
       |offers AS (
       |  SELECT ps.ps_partkey, ps.ps_suppkey, ps.ps_supplycost_cents,
       |    e.s_name, e.n_name, e.s_acctbal
       |  FROM partsupp ps
       |  JOIN eur e ON ps.ps_suppkey = e.s_suppkey
       |  JOIN part p ON ps.ps_partkey = p.p_partkey AND p.p_size = 15),
       |mn AS (
       |  SELECT ps_partkey, min(ps_supplycost_cents) AS min_cost_cents
       |  FROM offers GROUP BY 1)
       |SELECT o.ps_partkey AS p_partkey, o.ps_suppkey AS s_suppkey, o.s_name,
       |  o.n_name, o.s_acctbal,
       |  CAST(o.ps_supplycost_cents AS DOUBLE) / 100.0 AS supplycost
       |FROM offers o JOIN mn ON o.ps_partkey = mn.ps_partkey
       |  AND o.ps_supplycost_cents = mn.min_cost_cents""".stripMargin

  // -------------------------------------------------------------------- Q9

  /** TPC-H Q9 — product-type profit: per (supplier nation, order year),
    * Σ revenue − supply cost over parts whose name contains 'red'
    * (dbgen's '%green%' color filter on the live color vocabulary).
    * Profit runs entirely in exact 1e-4 dollar units: the scale-4
    * decimal revenue is scaled to an integer BEFORE the group sum, the
    * cost term is cents·qty·100 in int64, so the per-group sum is one
    * exact long and the shipped double is a single division of it.
    * Join order: facts pre-filtered by the broadcast 'red' part slice
    * FIRST (the dimension-pruning discipline of q7/q8), then the
    * (partkey, suppkey) partsupp shuffle join, then broadcast
    * supplier→nation and the orders join keyed on orderkey. */
  def q9ProductProfit(s: SparkSession, d: String): DataFrame = {
    val dec = DecimalType(18, 2)
    val redParts = Tables.part(s, d).filter(col("p_name").like("%red%"))
      .select(col("p_partkey"))
    val li = Tables.lineitem(s, d)
      .join(broadcast(redParts), col("l_partkey") === col("p_partkey"))
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
        ((col("l_extendedprice").cast(dec) *
          (lit(1).cast(dec) - col("l_discount").cast(dec))) * 10000)
          .cast("long").as("rev_e4"),
        col("l_quantity").cast("long").as("qty"))
    val withCost = li
      .join(partsupp(s, d),
        col("l_partkey") === col("ps_partkey") &&
          col("l_suppkey") === col("ps_suppkey"))
      .withColumn("amount_e4",
        col("rev_e4") - col("ps_supplycost_cents") * col("qty") * 100)
    withCost
      .join(broadcast(Tables.supplier(s, d)), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.nation(s, d)), col("s_nationkey") === col("n_nationkey"))
      .join(Tables.orders(s, d).select(col("o_orderkey"),
        year(col("o_orderdate")).as("o_year")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("n_name").as("nation"), col("o_year"))
      .agg(sum(col("amount_e4")).as("profit_e4"))
      .select(col("nation"), col("o_year"), col("profit_e4"),
        (col("profit_e4").cast("double") / 10000.0).as("sum_profit"))
  }

  lazy val q9ProductProfitSql: String =
    s"""WITH $partsuppCte,
       |li AS (
       |  SELECT l_orderkey, l_partkey, l_suppkey,
       |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) *
       |         (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
       |         * 10000 AS BIGINT) AS rev_e4,
       |    CAST(l_quantity AS BIGINT) AS qty
       |  FROM lineitem JOIN part ON l_partkey = p_partkey
       |  WHERE p_name LIKE '%red%')
       |SELECT n_name AS nation, year(o_orderdate) AS o_year,
       |  CAST(sum(rev_e4 - ps_supplycost_cents * qty * 100) AS BIGINT)
       |    AS profit_e4,
       |  CAST(sum(rev_e4 - ps_supplycost_cents * qty * 100) AS DOUBLE) / 10000.0
       |    AS sum_profit
       |FROM li
       |JOIN partsupp ON l_partkey = ps_partkey AND l_suppkey = ps_suppkey
       |JOIN supplier ON l_suppkey = s_suppkey
       |JOIN nation ON s_nationkey = n_nationkey
       |JOIN orders ON l_orderkey = o_orderkey
       |GROUP BY 1, 2""".stripMargin

  // -------------------------------------------------------------------- Q11

  /** TPC-H Q11 — important stock: parts whose ASIA-held inventory value
    * exceeds 1/2000 of the region total (dbgen's single-nation
    * 'GERMANY' scope widened to a region so sf0.001's 10 suppliers
    * can't empty it). The HAVING-against-scalar-subquery decorrelates
    * to a one-row total broadcast-crossed with the per-part aggregate;
    * the threshold compares 2000·v > total in exact int64 — no float
    * fraction. Value = supplycost-cents × availqty stays exact. */
  def q11ImportantStock(s: SparkSession, d: String): DataFrame = {
    val asiaSupp = Tables.supplier(s, d)
      .join(broadcast(Tables.nation(s, d)), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, d).filter(col("r_name") === "ASIA")),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("s_suppkey"))
    val held = partsupp(s, d)
      .join(broadcast(asiaSupp), col("ps_suppkey") === col("s_suppkey"))
      .withColumn("value_e2", col("ps_supplycost_cents") * col("ps_availqty"))
    val perPart = held.groupBy(col("ps_partkey"))
      .agg(sum(col("value_e2")).as("v"))
    val total = perPart.agg(sum(col("v")).as("t"))
    perPart.crossJoin(broadcast(total))
      .filter(col("v") * 2000 > col("t"))
      .select(col("ps_partkey"),
        (col("v").cast("double") / 100.0).as("stock_value"))
  }

  lazy val q11ImportantStockSql: String =
    s"""WITH $partsuppCte,
       |asia AS (
       |  SELECT s_suppkey FROM supplier
       |  JOIN nation ON s_nationkey = n_nationkey
       |  JOIN region ON n_regionkey = r_regionkey AND r_name = 'ASIA'),
       |per_part AS (
       |  SELECT ps_partkey, sum(ps_supplycost_cents * ps_availqty) AS v
       |  FROM partsupp JOIN asia ON ps_suppkey = s_suppkey
       |  GROUP BY 1)
       |SELECT ps_partkey, CAST(v AS DOUBLE) / 100.0 AS stock_value
       |FROM per_part
       |WHERE v * 2000 > (SELECT sum(v) FROM per_part)""".stripMargin

  // -------------------------------------------------------------------- Q16

  /** TPC-H Q16 — parts/supplier relationship: how many distinct
    * suppliers can source each surviving (brand, type, size) combo,
    * excluding one brand, restricting to eight sizes, and dropping a
    * deterministic "complaints" supplier class via NOT IN. (dbgen's
    * `s_comment LIKE '%Customer%Complaints%'` column doesn't exist
    * here; `s_suppkey % 10 = 3` is the stand-in predicate — same
    * NOT-IN-subquery shape, non-empty at every SF.) The NOT IN
    * compiles to a broadcast anti join (subquery is null-free by
    * construction, so no 3VL null-check plan blowup); the distinct
    * count is the only shuffle. */
  def q16PartsSupplierRel(s: SparkSession, d: String): DataFrame = {
    val flagged = Tables.supplier(s, d)
      .filter(col("s_suppkey") % 10 === 3).select(col("s_suppkey"))
    val sizes = Seq(1, 4, 9, 15, 23, 36, 45, 50)
    val parts = Tables.part(s, d)
      .filter(col("p_brand") =!= "Brand#1" && col("p_size").isin(sizes: _*))
      .select(col("p_partkey"), col("p_brand"), col("p_type"), col("p_size"))
    partsupp(s, d)
      .join(broadcast(flagged), col("ps_suppkey") === col("s_suppkey"), "left_anti")
      .join(broadcast(parts), col("ps_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"), col("p_type"), col("p_size"))
      .agg(countDistinct(col("ps_suppkey")).as("supplier_cnt"))
  }

  lazy val q16PartsSupplierRelSql: String =
    s"""WITH $partsuppCte
       |SELECT p_brand, p_type, p_size,
       |  count(DISTINCT ps_suppkey) AS supplier_cnt
       |FROM partsupp JOIN part ON ps_partkey = p_partkey
       |WHERE p_brand <> 'Brand#1'
       |  AND p_size IN (1, 4, 9, 15, 23, 36, 45, 50)
       |  AND ps_suppkey NOT IN (SELECT s_suppkey FROM supplier
       |                         WHERE s_suppkey % 10 = 3)
       |GROUP BY 1, 2, 3""".stripMargin

  // -------------------------------------------------------------------- Q20

  /** TPC-H Q20 — potential part promotion: EUROPE suppliers holding
    * more than half a year's shipped quantity of some 'red%' part
    * (dbgen: nation CANADA, p_name 'forest%'; region + live color
    * keep it non-empty at sf0.001). The nested IN-subquery tower
    * flattens to: 1997 per-(part, supp) quantity aggregate, joined to
    * partsupp with the threshold cross-multiplied (2·availqty > Σqty —
    * no 0.5 float), then a DISTINCT supplier projection — the
    * decorrelated semi-join. Quantities are integral doubles summed
    * exactly in int64. */
  def q20PotentialPromo(s: SparkSession, d: String): DataFrame = {
    val shipped = Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= lit("1997-01-01") &&
        col("l_shipdate") < lit("1998-01-01"))
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(sum(col("l_quantity").cast("long")).as("qty"))
    val redParts = Tables.part(s, d).filter(col("p_name").like("red%"))
      .select(col("p_partkey"))
    val eurSupp = Tables.supplier(s, d)
      .join(broadcast(Tables.nation(s, d)), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, d).filter(col("r_name") === "EUROPE")),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("s_suppkey"), col("s_name"), col("n_name"))
    partsupp(s, d)
      .join(broadcast(redParts), col("ps_partkey") === col("p_partkey"))
      .join(shipped, col("ps_partkey") === col("l_partkey") &&
        col("ps_suppkey") === col("l_suppkey") &&
        col("ps_availqty") * 2 > col("qty"))
      .join(broadcast(eurSupp), col("ps_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("n_name"))
      .distinct()
  }

  lazy val q20PotentialPromoSql: String =
    s"""WITH $partsuppCte,
       |shipped AS (
       |  SELECT l_partkey, l_suppkey, sum(CAST(l_quantity AS BIGINT)) AS qty
       |  FROM lineitem
       |  WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
       |    AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
       |  GROUP BY 1, 2)
       |SELECT DISTINCT s_suppkey, s_name, n_name
       |FROM partsupp
       |JOIN part ON ps_partkey = p_partkey AND p_name LIKE 'red%'
       |JOIN shipped ON ps_partkey = l_partkey AND ps_suppkey = l_suppkey
       |  AND ps_availqty * 2 > qty
       |JOIN supplier ON ps_suppkey = s_suppkey
       |JOIN nation ON s_nationkey = n_nationkey
       |JOIN region ON n_regionkey = r_regionkey AND r_name = 'EUROPE'""".stripMargin

  // -------------------------------------------------------------------- Q21

  /** TPC-H Q21 — suppliers who kept orders waiting: for finalized
    * ('F') orders, count each ASIA supplier's late lineitems
    * (receipt > commit on the derived dates) where at least one OTHER
    * supplier fed the same order (EXISTS) but no OTHER supplier was
    * also late (NOT EXISTS) — the double-correlated EXISTS/NOT-EXISTS
    * anti-join, the one classic join shape the catalog lacked. Both
    * correlations decorrelate to per-order supplier profiles: ONE
    * aggregate per order computes (distinct suppliers, distinct late
    * suppliers), and the l1 fact rows join it with the two predicates
    * as residuals — supp_cnt > 1 (someone else exists) and
    * late_cnt = 1 (the only late supplier is me, who am late) — so
    * the EXISTS pair costs one orderkey aggregate + one orderkey join
    * instead of two self-joins. (dbgen scopes to nation SAUDI ARABIA;
    * region ASIA keeps sf0.001 populated.) */
  def q21WaitingSuppliers(s: SparkSession, d: String): DataFrame = {
    val li = lineitemDated(s, d)
      .select(col("l_orderkey"), col("l_suppkey"),
        (col("l_receiptdate") > col("l_commitdate")).as("late"))
    val profile = li.groupBy(col("l_orderkey"))
      .agg(countDistinct(col("l_suppkey")).as("supp_cnt"),
        countDistinct(when(col("late"), col("l_suppkey"))).as("late_supp_cnt"))
    val fOrders = Tables.orders(s, d)
      .filter(col("o_orderstatus") === "F").select(col("o_orderkey"))
    val asiaSupp = Tables.supplier(s, d)
      .join(broadcast(Tables.nation(s, d)), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, d).filter(col("r_name") === "ASIA")),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("s_suppkey"), col("s_name"))
    li.filter(col("late"))
      .join(fOrders, col("l_orderkey") === col("o_orderkey"))
      .join(profile, Seq("l_orderkey"))
      .filter(col("supp_cnt") > 1 && col("late_supp_cnt") === 1)
      .join(broadcast(asiaSupp), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("s_name"))
      .agg(count(lit(1)).as("numwait"))
  }

  lazy val q21WaitingSuppliersSql: String =
    s"""WITH $lineitemDatedCte,
       |li AS (
       |  SELECT l_orderkey, l_suppkey,
       |    (l_receiptdate > l_commitdate) AS late
       |  FROM lineitem_dated),
       |profile AS (
       |  SELECT l_orderkey,
       |    count(DISTINCT l_suppkey) AS supp_cnt,
       |    count(DISTINCT CASE WHEN late THEN l_suppkey END) AS late_supp_cnt
       |  FROM li GROUP BY 1)
       |SELECT s_name, count(*) AS numwait
       |FROM li
       |JOIN orders ON l_orderkey = o_orderkey AND o_orderstatus = 'F'
       |JOIN profile USING (l_orderkey)
       |JOIN supplier ON l_suppkey = s_suppkey
       |JOIN nation ON s_nationkey = n_nationkey
       |JOIN region ON n_regionkey = r_regionkey AND r_name = 'ASIA'
       |WHERE late AND supp_cnt > 1 AND late_supp_cnt = 1
       |GROUP BY 1""".stripMargin
}
