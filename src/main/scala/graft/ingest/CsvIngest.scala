package graft.ingest

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Typed CSV ingest with the reference's NULL/cast/failure semantics.
  *
  * Reference behavior being reproduced (SURVEY.md §1.4, §2.1, §2.4):
  *  - NULLs arrive as the literal `\N` sentinel (pandas `na_rep='\\N'`,
  *    `dags/airbnb_postgres_to_s3.py:47`; Postgres `COPY ... NULL '\N'`,
  *    dag:120).
  *  - Text → declared type casting happens at parse time, and a malformed
  *    value ABORTS the load with an error — Postgres COPY semantics
  *    (`README.md:148-152`, the "invalid input syntax for type numeric"
  *    regression). Spark's default PERMISSIVE nulling would silently
  *    corrupt, so the strict path uses FAILFAST.
  *  - Header row carries column names (dag:119).
  *  - A quoted field may hold a line break (RFC 4180; pandas and COPY
  *    both write one for a multi-line `name`), so the reader runs in
  *    `multiLine` mode.
  *
  * Scale posture: `spark.read.csv` over a glob is an embarrassingly
  * parallel scan (one task per file — a multi-line file is not split);
  * the explicit schema avoids the full extra inference pass over 100 TB,
  * and `mode` selects abort-the-batch or null-and-continue per call
  * (SURVEY.md §7.4). The batch pipeline does not expose it:
  * `Pipeline.run` always passes `FailFast` and `Pipeline.Config` has no
  * mode field, so switching a production run takes a code change until
  * quarantine lands (ROADMAP item 3). No CSV mode quarantines bad rows
  * yet: the schema carries no `_corrupt_record` column (only
  * [[JsonIngest]] adds one).
  */
object CsvIngest {

  sealed trait BadRecordsMode { def sparkMode: String }
  /** Abort on first malformed record — the reference's COPY behavior. */
  case object FailFast extends BadRecordsMode { val sparkMode = "FAILFAST" }
  /** Null-out malformed fields and keep the row; the bad input is not
    * kept anywhere. */
  case object Permissive extends BadRecordsMode { val sparkMode = "PERMISSIVE" }
  /** Drop malformed rows entirely. */
  case object DropMalformed extends BadRecordsMode { val sparkMode = "DROPMALFORMED" }

  /** Read one or more snapshot CSVs with an explicit schema.
    *
    * `\N` → NULL on ingest (asymmetric with export's empty-string NULLs —
    * see [[graft.export.CsvExport]]).
    *
    * FAILFAST takes the strict-cast path below rather than Spark's native
    * FAILFAST: Spark's CSV reader silently NULLs an *empty* field in a
    * numeric column even under FAILFAST (empty ≠ malformed to univocity),
    * but the reference's contract is Postgres COPY, which aborts with
    * "invalid input syntax for type numeric" on exactly that input — the
    * README:148-152 regression this engine must reproduce.
    */
  private def readCsv(
      spark: SparkSession,
      paths: Seq[String],
      schema: StructType,
      mode: BadRecordsMode): DataFrame = mode match {
    case FailFast => readCsvStrict(spark, paths, schema)
    case other =>
      reader(spark)
        .schema(schema)
        .option("mode", other.sparkMode)
        .csv(paths: _*)
  }

  private def reader(spark: SparkSession) =
    spark.read
      .option("header", "true")
      .option("nullValue", "\\N")
      .option("emptyValue", "")
      // RFC 4180 doubled-quote escaping ("" inside a quoted field), the
      // convention pandas/Postgres COPY emit — Spark's default escape is
      // backslash, which would read embedded quotes literally
      .option("escape", "\"")
      // a quoted line break stays inside its field instead of ending the
      // record
      .option("multiLine", "true")
      .option("dateFormat", "yyyy-MM-dd")
      .option("timestampFormat", "yyyy-MM-dd HH:mm:ss")

  /** COPY-exact strict ingest: parse every field as text (one scan), then
    * cast in the plan, reproducing Postgres COPY's decision table
    * (`COPY ... WITH (FORMAT CSV, NULL '\N')`, dag:94-124):
    *
    *   - literal `\N`            → SQL NULL (any column type)
    *   - empty field             → empty string for text columns, but
    *                               "invalid input syntax" ABORT for
    *                               non-text columns (README:148-152)
    *   - any other text          → cast to the declared type; failure ABORTs
    *
    * Spark's native reader cannot express this: it maps empty fields and
    * the nullValue sentinel to the same NULL before any cast runs, even
    * under FAILFAST. So the strict path reads with a never-occurring
    * nullValue sentinel (keeping `\N` and `` distinguishable as raw text)
    * and performs the casts as catalyst expressions with `raise_error` on
    * the abort branches. Still a single codegen'd distributed scan.
    */
  private def readCsvStrict(spark: SparkSession, paths: Seq[String], schema: StructType): DataFrame = {
    import org.apache.spark.sql.types.{StringType, StructField}
    val rawSchema = StructType(schema.fields.map(f =>
      StructField(f.name, StringType, nullable = true)))
    val raw = reader(spark)
      // sentinel that cannot appear in data: raw `\N` survives as text and
      // a genuinely empty field parses to null — the two become
      // distinguishable downstream
      .option("nullValue", "\u0001")
      .schema(rawSchema)
      .csv(paths: _*)
    val nullSentinel = "\\N"
    val cols = schema.fields.map { f =>
      val c = col(f.name)
      f.dataType match {
        case StringType =>
          // empty field = empty string (Postgres CSV text semantics)
          when(c === nullSentinel, lit(null).cast(StringType))
            .otherwise(coalesce(c, lit("")))
            .as(f.name)
        case dt =>
          val casted = c.cast(dt)
          when(c === nullSentinel, lit(null).cast(dt))
            .when(c.isNull || c === "",
              raise_error(lit(
                s"""invalid input syntax for column ${f.name} (${dt.simpleString}): """")))
            .when(casted.isNull,
              raise_error(concat(
                lit(s"invalid input syntax for column ${f.name} (${dt.simpleString}): \""),
                c, lit("\""))))
            .otherwise(casted)
            .as(f.name)
      }
    }
    raw.select(cols.toSeq: _*)
  }

  /** Snapshot-union scan (SURVEY.md S-4): read every per-date snapshot
    * file that exists, skipping absent dates — the reference's
    * skip-on-missing download semantics (dag:38-39).
    *
    * The union of homogeneous files is a single multi-file scan (no
    * shuffle, no per-file job), standing in for the reference's per-file
    * loop.
    */
  def readSnapshots(
      spark: SparkSession,
      candidatePaths: Seq[String],
      schema: StructType,
      mode: BadRecordsMode = FailFast): DataFrame = {
    // Resolve the filesystem PER PATH: FileSystem.get(conf) returns only the
    // default-scheme FS, which throws or lies for s3a:// (or any mixed-
    // scheme candidate list) — ADVICE r1.
    val hadoopConf = spark.sparkContext.hadoopConfiguration
    val present = candidatePaths.filter { p =>
      val path = new org.apache.hadoop.fs.Path(p)
      path.getFileSystem(hadoopConf).exists(path)
    }
    require(present.nonEmpty,
      s"no snapshot files exist among $candidatePaths — note the expected " +
        "naming is listing-<date>-processed.csv (the reference's preprocess-" +
        "stage output name); stage raw files under that name")
    readCsv(spark, present, schema, mode)
  }
}
