package graft.schema

import org.apache.spark.sql.types._

/** The reference's single relational table, `listings`.
  *
  * Schema transcribed from the reference DDL
  * (`dags/airbnb_postgres_to_s3.py:55-76`; Spark mapping SURVEY.md §1.3):
  * 18 data columns fed by the ingest CSVs plus 2 default-stamped lineage
  * columns (`load_date`, `processed_at`) that are *not* present in the
  * ingest files — the reference omits them from the COPY column list so
  * Postgres `DEFAULT`s fire (`dags/airbnb_postgres_to_s3.py:96-115`,
  * `README.md:169-201`). Spark writes have no server-side defaults, so the
  * engine stamps them explicitly at load time (see [[graft.ingest.BatchLoad]]).
  */
object Listings {

  /** The 18 CSV-fed data columns, in reference declaration order
    * (dag:56-73) — this order IS the COPY column-binding contract. */
  val dataColumns: Seq[StructField] = Seq(
    StructField("id", LongType),
    StructField("name", StringType),
    StructField("host_id", IntegerType),
    StructField("host_name", StringType),
    StructField("neighbourhood_group", StringType),
    StructField("neighbourhood", StringType),
    StructField("latitude", DecimalType(10, 7)),
    StructField("longitude", DecimalType(10, 7)),
    StructField("room_type", StringType),
    StructField("price", DecimalType(10, 2)),
    StructField("minimum_nights", IntegerType),
    StructField("number_of_reviews", IntegerType),
    StructField("last_review", DateType),
    StructField("reviews_per_month", DecimalType(10, 2)),
    StructField("calculated_host_listings_count", IntegerType),
    StructField("availability_365", IntegerType),
    StructField("number_of_reviews_ltm", IntegerType),
    StructField("license", StringType))

  /** Lineage columns with engine-stamped defaults (dag:74-75). */
  private val lineageColumns: Seq[StructField] = Seq(
    StructField("load_date", DateType),
    StructField("processed_at", TimestampType))

  /** Ingest-side schema: exactly what a processed snapshot CSV carries. */
  val ingestSchema: StructType = StructType(dataColumns)

  /** Full table schema: data + lineage, 20 columns. */
  private val tableSchema: StructType = StructType(dataColumns ++ lineageColumns)

  val dataColumnNames: Seq[String] = dataColumns.map(_.name)
  val tableColumnNames: Seq[String] = tableSchema.fields.map(_.name).toSeq
}
