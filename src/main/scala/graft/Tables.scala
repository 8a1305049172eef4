package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Uniform access to the harness testdata tables (TESTDATA.md).
  *
  * One parquet file per table under `sfDir`, read with its declared
  * schema so a read plans without a schema-inference job (one job and
  * ~80 ms per read at small scale). Reads stay plain scans so Catalyst
  * keeps full pushdown/pruning freedom — never cache here; the caller
  * decides materialization.
  */
object Tables {
  /** Each table's schema, equal to what inference gives on the testdata
    * footers under [[requiredConf]] (`TablesSpec` checks every scale
    * factor): timestamps are parquet `timestamp[us]` without a timezone,
    * read as session-UTC TIMESTAMP, not TIMESTAMP_NTZ. */
  private val declared: Seq[(String, String)] = Seq(
    "region" -> "r_regionkey INT, r_name STRING",
    "nation" -> "n_nationkey INT, n_name STRING, n_regionkey INT",
    "customer" ->
      "c_custkey BIGINT, c_name STRING, c_nationkey INT, c_acctbal DOUBLE, c_mktsegment STRING",
    "supplier" -> "s_suppkey BIGINT, s_name STRING, s_nationkey INT, s_acctbal DOUBLE",
    "part" -> ("p_partkey BIGINT, p_name STRING, p_brand STRING, p_type STRING, " +
      "p_size INT, p_retailprice DOUBLE"),
    "orders" -> ("o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, " +
      "o_totalprice DOUBLE, o_orderdate TIMESTAMP, o_orderpriority STRING"),
    "lineitem" -> ("l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, " +
      "l_linenumber INT, l_quantity DOUBLE, l_extendedprice DOUBLE, l_discount DOUBLE, " +
      "l_tax DOUBLE, l_returnflag STRING, l_linestatus STRING, l_shipdate TIMESTAMP"),
    "events" -> ("event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, " +
      "value DOUBLE, props STRING"),
    "documents" -> "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT",
    "embeddings" -> "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT")

  val all: Seq[String] = declared.map(_._1)

  val schemas: Map[String, StructType] =
    declared.map { case (t, ddl) => t -> StructType.fromDDL(ddl) }.toMap

  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.schema(schemas(name)).parquet(s"$sfDir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame     = apply(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = apply(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = apply(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = apply(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = apply(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = apply(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = apply(s, d, "lineitem")
  /** Session conf every graft entrypoint sets at SparkSession construction,
    * for parquet reads that infer their schema. nanosAsLong reads a
    * TIMESTAMP(NANOS) column, which Spark rejects outright
    * (PARQUET_TYPE_ILLEGAL), as long; the current testdata has none. Set
    * once up front — per-read conf mutation would race under concurrent
    * queries (ADVICE r1). */
  val requiredConf: Map[String, String] =
    Map(
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      // Testdata timestamps are parquet timestamp[us] WITHOUT a timezone
      // (isAdjustedToUTC=false). Spark 4 would infer TIMESTAMP_NTZ for
      // those; DuckDB reads them as naive TIMESTAMP. Reading them as
      // session-local TIMESTAMP under the UTC session timezone keeps the
      // wall-clock values identical on both sides AND keeps the columns
      // usable where NTZ is not (RANGE window cast to bigint, the as-of
      // operator's time ordinal).
      "spark.sql.parquet.inferTimestampNTZ.enabled" -> "false")

  def events(s: SparkSession, d: String): DataFrame     = apply(s, d, "events")
  def documents(s: SparkSession, d: String): DataFrame  = apply(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = apply(s, d, "embeddings")
}
