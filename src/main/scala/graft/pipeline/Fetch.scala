package graft.pipeline

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{Files, Paths, StandardCopyOption}

/** Executable form of the reference's download task (S-1): stage
  * per-date snapshot CSVs from an HTTP endpoint into the landing dir
  * the engine ingests from.
  *
  * Reference behavior (`dags/airbnb_postgres_to_s3.py:30-39`): GET the
  * url template with `{date}` substituted; status 200 → write the body
  * to the landing file; anything else → log and SKIP the date (the
  * dag:38-39 semantics — a missing upstream snapshot never fails the
  * run; [[Pipeline.run]]'s skip-on-missing ingest then simply reads
  * fewer files). Deliberately driver-side, NOT a Spark job: the
  * reference's fetch also sits outside its data path, and N dates of
  * one small CSV each is driver-scale I/O; at real scale the transport
  * is a bulk copy into the landing bucket, not per-file HTTP.
  *
  * Partial-failure posture: the body is downloaded to a `.part` temp
  * file and atomically moved into place, so a connection dropped
  * mid-body can never leave a half-written snapshot the next ingest
  * would silently parse (the same no-partial-objects contract the
  * export side pins in CsvExportCommitterSpec). */
object Fetch {

  /** `{date}` placeholder, exactly the reference's template token. */
  private def urlFor(urlTemplate: String, date: String): String =
    urlTemplate.replace("{date}", date)

  /** Fetch each date's snapshot into `landingDir` under the name
    * [[Pipeline.snapshotPath]] expects. Returns the dates actually
    * staged (non-200 and transport errors are logged and skipped). */
  def fetchSnapshots(urlTemplate: String, dates: Seq[String],
      landingDir: String,
      client: HttpClient = HttpClient.newHttpClient()): Seq[String] = {
    Files.createDirectories(Paths.get(landingDir))
    dates.filter { date =>
      val url = urlFor(urlTemplate, date)
      try {
        val req = HttpRequest.newBuilder(URI.create(url)).GET().build()
        val resp = client.send(req, HttpResponse.BodyHandlers.ofByteArray())
        if (resp.statusCode() == 200) {
          val target = Paths.get(Pipeline.snapshotPath(landingDir, date))
          val part = target.resolveSibling(target.getFileName.toString + ".part")
          Files.write(part, resp.body())
          Files.move(part, target, StandardCopyOption.ATOMIC_MOVE,
            StandardCopyOption.REPLACE_EXISTING)
          true
        } else {
          // dag:38-39: "failed to download <url>" → skip, keep going
          System.err.println(s"[fetch] failed to download $url " +
            s"(status ${resp.statusCode()}) — skipping $date")
          false
        }
      } catch {
        case e: Exception =>
          System.err.println(s"[fetch] failed to download $url " +
            s"(${e.getClass.getSimpleName}: ${e.getMessage}) — skipping $date")
          false
      }
    }
  }
}
