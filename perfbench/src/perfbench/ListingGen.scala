package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.time.LocalDate
import java.util.SplittableRandom

/** Seeded generator of processed listing snapshots (the pipeline's input)
  * and of the export lines the pipeline must produce from them.
  *
  * Snapshots carry the 18 `Listings.dataColumns` in declaration order with
  * a header row, `\N` for NULL, and pandas-style minimal quoting (a field
  * holding a comma, quote, CR or LF is quoted, inner quotes doubled). The
  * NULLs sit where the reference data has them: `neighbourhood_group`,
  * `price`, `last_review`, `reviews_per_month` and `license`.
  *
  * Expected export records follow the export contract: header in
  * `Listings.tableColumnNames` order, NULL and empty string both rendered
  * as an empty field, RFC 4180 minimal quoting, decimals at their declared
  * scale. The two lineage fields are `load_date` (the run date) and
  * `processed_at`, which the load stamps with the wall clock; expected
  * records therefore stop before `processed_at` and the checker compares
  * that last field separately.
  */
object ListingGen {

  final case class Snapshot(date: String, rows: Int, bytes: Long)

  /** One generated batch: the snapshot files written and the expected
    * export records (without the trailing `processed_at` field). */
  final case class Batch(snapshots: Seq[Snapshot], expected: Array[String]) {
    def rows: Long = snapshots.map(_.rows.toLong).sum
    def bytes: Long = snapshots.map(_.bytes).sum
  }

  val header: String = Seq(
    "id", "name", "host_id", "host_name", "neighbourhood_group",
    "neighbourhood", "latitude", "longitude", "room_type", "price",
    "minimum_nights", "number_of_reviews", "last_review",
    "reviews_per_month", "calculated_host_listings_count",
    "availability_365", "number_of_reviews_ltm", "license").mkString(",")

  private val boroughs = Vector(
    "Manhattan" -> Vector("Harlem", "Midtown", "Hell's Kitchen", "Chelsea", "East Village"),
    "Brooklyn" -> Vector("Williamsburg", "Bushwick", "Park Slope", "Bedford-Stuyvesant"),
    "Queens" -> Vector("Astoria", "Long Island City", "Flushing"),
    "Bronx" -> Vector("Mott Haven", "Fordham"),
    "Staten Island" -> Vector("St. George", "Tompkinsville"))
  private val roomTypes =
    Vector("Entire home/apt", "Private room", "Shared room", "Hotel room")
  private val adjectives =
    Vector("Cozy", "Sunny", "Spacious", "Quiet", "Bright", "Charming", "Modern")
  private val nouns =
    Vector("studio", "loft", "room", "apartment", "suite", "townhouse")
  private val hosts =
    Vector("Maria", "John", "Sonder", "Blueground", "Li", "Ana", "Kevin", "O'Neil")

  /** The 18 fields of one listing row; `null` is SQL NULL. `newlineName`
    * puts a line break inside the quoted `name` field. */
  private def row(r: SplittableRandom, id: Long, newlineName: Boolean): Array[String] = {
    val (borough, hoods) = boroughs(r.nextInt(boroughs.size))
    val hood = hoods(r.nextInt(hoods.size))
    val base = s"${adjectives(r.nextInt(adjectives.size))} ${nouns(r.nextInt(nouns.size))}"
    val name = r.nextInt(100) match {
      case _ if newlineName => s"$base\nsteps from the park"
      case k if k < 6 => s"$base, near $hood"
      case k if k < 10 => s"""The "$hood" $base"""
      case k if k < 12 => s"""$base, "quiet", top floor"""
      case _ => s"$base in $hood"
    }
    val reviews = if (r.nextInt(5) == 0) 0 else r.nextInt(1, 600)
    def dec(unscaled: Long, scale: Int) = java.math.BigDecimal.valueOf(unscaled, scale).toPlainString
    Array(
      id.toString,
      name,
      r.nextInt(1, Int.MaxValue).toString,
      if (r.nextInt(100) == 0) "" else hosts(r.nextInt(hosts.size)),
      if (r.nextInt(4) == 0) null else borough,
      hood,
      dec(405000000L + r.nextInt(4000000), 7),
      dec(-740000000L + r.nextInt(3000000), 7),
      roomTypes(r.nextInt(roomTypes.size)),
      if (r.nextInt(50) == 0) null else dec(r.nextInt(2000, 150000).toLong, 2),
      r.nextInt(1, 31).toString,
      reviews.toString,
      if (reviews == 0) null else LocalDate.ofEpochDay(16000 + r.nextInt(3600)).toString,
      if (reviews == 0) null else dec(r.nextInt(1, 1500).toLong, 2),
      r.nextInt(1, 60).toString,
      r.nextInt(0, 366).toString,
      r.nextInt(0, 120).toString,
      r.nextInt(10) match {
        case 0 => ""
        case 1 | 2 => s"OSE-STRREG-${r.nextInt(1000000)}"
        case 3 => "Exempt"
        case _ => null
      })
  }

  private def needsQuotes(s: String): Boolean =
    s.exists(c => c == ',' || c == '"' || c == '\n' || c == '\r')

  private def quoted(s: String): String =
    if (needsQuotes(s)) "\"" + s.replace("\"", "\"\"") + "\"" else s

  /** Snapshot CSV rendering: `\N` for NULL, minimal quoting. */
  private def snapshotField(v: String): String = if (v == null) "\\N" else quoted(v)

  /** Export rendering: NULL and empty string are both an empty field. */
  private def exportField(v: String): String = if (v == null) "" else quoted(v)

  /** Write `dates.size` snapshots of `rowsPerSnapshot` rows each under
    * `landingDir`, named as `Pipeline.snapshotPath` expects. Row
    * `newlineRow` of the first snapshot (if any) gets a line break inside
    * its quoted `name`. The same seed always yields the same bytes. */
  def write(seed: Long, landingDir: Path, dates: Seq[String], rowsPerSnapshot: Int,
      runDate: String, newlineRow: Option[Int] = None): Batch = {
    Files.createDirectories(landingDir)
    val r = new SplittableRandom(seed)
    val expected = new Array[String](dates.size * rowsPerSnapshot)
    var k = 0
    val snaps = dates.zipWithIndex.map { case (date, si) =>
      val sb = new java.lang.StringBuilder(rowsPerSnapshot * 160)
      sb.append(header).append('\n')
      for (i <- 0 until rowsPerSnapshot) {
        val id = 1000000L + r.nextInt(0, 50000000)
        val fields = row(r, id, si == 0 && newlineRow.contains(i))
        var j = 0
        while (j < fields.length) {
          if (j > 0) sb.append(',')
          sb.append(snapshotField(fields(j)))
          j += 1
        }
        sb.append('\n')
        expected(k) = fields.map(exportField).mkString(",") + "," + runDate
        k += 1
      }
      val bytes = sb.toString.getBytes(UTF_8)
      Files.write(landingDir.resolve(s"listing-$date-processed.csv"), bytes)
      Snapshot(date, rowsPerSnapshot, bytes.length.toLong)
    }
    Batch(snaps, expected)
  }

  /** Split CSV text into records at line breaks outside quoted fields. */
  def records(text: String): Array[String] = {
    val out = Array.newBuilder[String]
    var start = 0
    var inQuotes = false
    var i = 0
    while (i < text.length) {
      val c = text.charAt(i)
      if (c == '"') inQuotes = !inQuotes
      else if (c == '\n' && !inQuotes) {
        out += text.substring(start, i)
        start = i + 1
      }
      i += 1
    }
    if (start < text.length) out += text.substring(start)
    out.result()
  }
}
