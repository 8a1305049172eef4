package graft.pipeline

import java.io.OutputStream
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.time.LocalDate

import scala.jdk.CollectionConverters._

import com.sun.net.httpserver.{HttpExchange, HttpServer}

import graft.GraftTestBase

/** [[Fetch.fetchSnapshots]] against a local HTTP stub: 200 bodies are
  * staged under the pipeline's landing name, non-200 dates are skipped
  * without failing, and the staged files feed the real
  * fetch → ingest → export chain end to end (VERDICT r7 task 6). */
class FetchSpec extends GraftTestBase {

  private val header = "id,name,host_id,host_name,neighbourhood_group," +
    "neighbourhood,latitude,longitude,room_type,price,minimum_nights," +
    "number_of_reviews,last_review,reviews_per_month," +
    "calculated_host_listings_count,availability_365,number_of_reviews_ltm,license"

  private def csvBody(rows: Seq[String]): String =
    (header +: rows).mkString("", "\n", "\n")

  /** Serve `bodies` at /snap/<date>/listings.csv; any other date 404s. */
  private def withStubServer[A](bodies: Map[String, String])(
      f: (String, java.util.List[String]) => A): A = {
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    val requested = new java.util.concurrent.CopyOnWriteArrayList[String]()
    server.createContext("/snap/", (ex: HttpExchange) => {
      val path = ex.getRequestURI.getPath
      requested.add(path)
      val date = path.stripPrefix("/snap/").stripSuffix("/listings.csv")
      bodies.get(date) match {
        case Some(body) =>
          val bytes = body.getBytes(StandardCharsets.UTF_8)
          ex.sendResponseHeaders(200, bytes.length)
          val os: OutputStream = ex.getResponseBody
          os.write(bytes); os.close()
        case None =>
          ex.sendResponseHeaders(404, -1)
          ex.close()
      }
    })
    server.start()
    try f(s"http://127.0.0.1:${server.getAddress.getPort}" +
      "/snap/{date}/listings.csv", requested)
    finally server.stop(0)
  }

  behavior of "Fetch.fetchSnapshots"

  it should "stage 200 responses and skip non-200 dates" in {
    val landing = tempDir("fetch-l")
    val bodies = Map(
      "2025-01-05" -> csvBody(Seq(
        "1,A,1,H,\\N,N,42.0,-73.0,R,10.00,1,0,\\N,\\N,1,1,0,\\N")),
      "2025-02-06" -> csvBody(Seq(
        "2,B,2,K,\\N,S,42.1,-73.1,R,20.00,1,0,\\N,\\N,1,1,0,\\N")))
    withStubServer(bodies) { (template, requested) =>
      val staged = Fetch.fetchSnapshots(template,
        Seq("2025-01-05", "2025-02-06", "2025-03-02"), landing)
      staged shouldBe Seq("2025-01-05", "2025-02-06")
      requested.asScala.toSet.size shouldBe 3 // the 404 date WAS attempted
    }
    // staged under the exact landing name Pipeline ingests
    Files.exists(
      Paths.get(Pipeline.snapshotPath(landing, "2025-01-05"))) shouldBe true
    Files.exists(
      Paths.get(Pipeline.snapshotPath(landing, "2025-03-02"))) shouldBe false
    // no .part residue
    Files.list(Paths.get(landing)).iterator().asScala
      .count(_.toString.endsWith(".part")) shouldBe 0
  }

  it should "feed the real fetch -> ingest -> export chain with one missing date" in {
    val landing = tempDir("fetch-l2")
    val table = tempDir("fetch-t") + "/tbl"
    val export = tempDir("fetch-e")
    val bodies = Map(
      "2025-01-05" -> csvBody(Seq(
        "1,A,1,H,\\N,N,42.0,-73.0,R,10.00,1,0,\\N,\\N,1,1,0,\\N")),
      "2025-02-06" -> csvBody(Seq(
        "2,B,2,K,\\N,S,42.1,-73.1,R,20.00,1,0,\\N,\\N,1,1,0,\\N")))
    val allDates = Seq("2025-01-05", "2025-02-06", "2025-03-02")
    withStubServer(bodies) { (template, _) =>
      Fetch.fetchSnapshots(template, allDates, landing)
    }
    // the pipeline is configured with ALL dates — the unfetched one is
    // absent from the landing dir and must be skipped, not fatal
    val res = Pipeline.run(spark,
      Pipeline.Config(landing, allDates, table, export),
      LocalDate.parse("2025-03-01"))
    res.loadedRows shouldBe 2
    res.exportedRows shouldBe 2
  }
}
