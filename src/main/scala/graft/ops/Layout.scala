package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Data-layout operators — the write-side clustering that makes
  * 100 TB readable. A Z-order (Morton) key interleaves the bits of
  * several columns so that sorting by the single key co-locates rows
  * that are close in EVERY dimension at once; files written in zkey
  * order then carry tight min/max ranges on all interleaved columns,
  * and scans filtered on any of them prune files (the multi-dimensional
  * generalization of sort-by-one-column data skipping; the technique
  * behind Delta/Iceberg OPTIMIZE ZORDER BY).
  *
  * The key is pure bit arithmetic — a codegen'd projection, no shuffle,
  * no UDF — so computing it costs scan speed; the expensive part of a
  * real OPTIMIZE (the global sort into files) is Spark's ordinary
  * `repartitionByRange(zkey)` write. The audit query here proves the
  * locality property the layout exists for: bucketing the 16-bit key by
  * its top 8 bits must bound every bucket to a 16x16 tile of the
  * (custkey-bucket, day-bucket) grid — min/max spans <= 15 in BOTH
  * dimensions, which a lexicographic (x, y) sort cannot achieve (its
  * buckets span the full y range).
  */
object Layout {

  /** Bits per dimension in the interleaved key (16-bit zkey). */
  private val zBits = 8

  /** Morton-interleave two `zBits`-bit non-negative columns:
    * bit i of x lands at position 2i, bit i of y at 2i+1. */
  def zorderKey(x: Column, y: Column): Column =
    (0 until zBits).map { i =>
      shiftright(x, i).bitwiseAND(lit(1L)) * lit(1L << (2 * i)) +
        shiftright(y, i).bitwiseAND(lit(1L)) * lit(1L << (2 * i + 1))
    }.reduce(_ + _)

  /** Z-order layout audit over orders: x = custkey mod 256, y = order
    * day-of-epoch mod 256, bucket = top 8 bits of the interleaved key.
    * Each bucket's min/max in both dimensions exposes the tile bound
    * that file-level min/max stats would carry after a zkey-ordered
    * write. */
  def zorderAudit(s: SparkSession, d: String): DataFrame = {
    val base = Tables.orders(s, d).select(
      pmod(col("o_custkey"), lit(256L)).as("x"),
      pmod(datediff(col("o_orderdate").cast("date"),
        lit(java.sql.Date.valueOf("1970-01-01"))).cast("long"), lit(256L)).as("y"))
    base
      .select(col("x"), col("y"),
        shiftright(zorderKey(col("x"), col("y")), zBits).as("zbucket"))
      .groupBy("zbucket")
      .agg(count(lit(1)).as("n_rows"),
        min("x").as("min_x"), max("x").as("max_x"),
        min("y").as("min_y"), max("y").as("max_y"))
  }

  private val zTermsSql: String =
    (0 until zBits).map { i =>
      s"(((x >> $i) & 1) * ${1L << (2 * i)}) + (((y >> $i) & 1) * ${1L << (2 * i + 1)})"
    }.mkString(" + ")

  val zorderAuditSql: String =
    s"""WITH base AS (
       |  SELECT o_custkey % 256 AS x,
       |    date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) % 256
       |      AS y
       |  FROM orders),
       |keyed AS (
       |  SELECT x, y, ($zTermsSql) >> $zBits AS zbucket FROM base)
       |SELECT zbucket, count(*) AS n_rows,
       |  min(x) AS min_x, max(x) AS max_x,
       |  min(y) AS min_y, max(y) AS max_y
       |FROM keyed GROUP BY zbucket""".stripMargin
}
