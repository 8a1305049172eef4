package graft.pipeline

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.GraftTestBase
import graft.export.CsvExport

/** Property tests for the format-boundary contracts (SURVEY §5.2 item 3):
  * CSV round-trip fidelity under adversarial field content, and load
  * idempotency as an algebraic property.
  *
  * Uses raw ScalaCheck `Gen` with a fixed seed ladder (the scalatest-
  * scalacheck bridge isn't in the offline dependency cache) — same
  * coverage, deterministic replays. */
class PipelinePropSpec extends GraftTestBase {

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(i.toLong)))

  // field content that stresses RFC4180: commas, quotes, embedded quotes,
  // padding, the \N sentinel as literal text, unicode
  private val nastyString: Gen[String] = Gen.oneOf(
    Gen.alphaNumStr.map(_.take(12)).suchThat(_.nonEmpty),
    Gen.const("a,b"), Gen.const("say \"hi\""),
    Gen.const(" padded "), Gen.const("héllo, wörld"),
    Gen.const("x\"\"y"), Gen.const(",,,"), Gen.const("trailing\""))

  private val schema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("payload", StringType, nullable = true),
    StructField("amount", DoubleType, nullable = true)))

  behavior of "CSV write → read round-trip"

  it should "preserve arbitrary non-null, non-empty strings byte-exactly" in {
    samples(Gen.listOfN(8, nastyString), 15).foreach { strings =>
      val rows = strings.zipWithIndex.map { case (s, i) => Row(i.toLong, s, i * 1.5) }
      val dir = tempDir("csvprop")
      val df = spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
      CsvExport.writeCsv(df, s"$dir/out")
      val back = spark.read
        .option("header", "true")
        .option("nullValue", "")
        .option("emptyValue", "")
        .option("escape", "\"")
        .schema(schema)
        .csv(s"$dir/out")
        .collect()
      val got = back.map(r => (r.getLong(0), r.getString(1))).toMap
      rows.foreach(r => got(r.getLong(0)) shouldBe r.getString(1))
    }
  }

  behavior of "idempotent load property"

  it should "satisfy load∘load = load for arbitrary batches and dates" in {
    val batchGen = for {
      n <- Gen.choose(1, 5)
      ids <- Gen.listOfN(n, Gen.choose(1L, 99L))
      day <- Gen.choose(1, 27)
    } yield (ids, day)
    samples(batchGen, 5).foreach { case (ids, day) =>
      val landing = tempDir("l")
      val table = tempDir("t") + "/tbl"
      val export = tempDir("e")
      val date = f"2025-01-$day%02d"
      val header = graft.schema.Listings.dataColumnNames.mkString(",")
      val rows = ids.map(i =>
        s"""$i,Doc $i,1,H,\\N,N,42.0,-73.0,R,10.00,1,0,\\N,\\N,1,1,0,\\N""")
      Files.write(java.nio.file.Paths.get(landing, s"listing-$date-processed.csv"),
        (header +: rows).asJava)
      val conf = Pipeline.Config(landing, Seq(date), table, export)
      val runDate = java.time.LocalDate.parse("2025-03-01")
      val r1 = Pipeline.run(spark, conf, runDate)
      val r2 = Pipeline.run(spark, conf, runDate)
      r2.loadedRows shouldBe r1.loadedRows
      r2.loadedRows shouldBe ids.length.toLong
      spark.read.parquet(table).count() shouldBe ids.length.toLong
    }
  }
}
