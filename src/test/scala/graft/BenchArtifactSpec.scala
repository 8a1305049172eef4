package graft

import org.json4s._
import org.json4s.jackson.JsonMethods.parse
import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

/** Bench's artifact rules, no SparkSession needed: a failed query gets
  * no time and stays out of every figure of the file and the line.
  */
class BenchArtifactSpec extends AnyFlatSpec with Matchers {

  behavior of "Bench.timeQuery"

  it should "time an action that returns" in {
    val t = Bench.timeQuery(Thread.sleep(20))
    t shouldBe defined
    t.get should be >= 0.02
  }

  it should "give no time to an action that throws" in {
    // a dead session fails every query fast; that must not read as speed
    Bench.timeQuery(throw new IllegalStateException("stopped")) shouldBe None
  }

  behavior of "Bench.artifacts"

  it should "keep a failed query out of every figure" in {
    val swept = Seq(
      Bench.Timed("q_a", Some(1.0), Seq("graph.edges" -> 0.5), compiles = 3),
      Bench.Timed("q_b", None, Seq("graph.adjacency" -> 0.25), compiles = 2),
      Bench.Timed("q_c", Some(4.0)))
    val (full, line, failed) = Bench.artifacts(swept, "/data/sf", "4")
    failed shouldBe Seq("q_b")
    val f = parse(full)
    f \ "total" shouldBe JDouble(5.0)
    f \ "n" shouldBe JInt(2)
    f \ "sf" shouldBe JString("/data/sf")
    f \ "cpus" shouldBe JString("4")
    f \ "queries" shouldBe JObject("q_a" -> JDouble(1.0), "q_c" -> JDouble(4.0))
    f \ "failed" shouldBe JArray(List(JString("q_b")))
    f \ "memo_builds" shouldBe JObject("q_a" -> JObject("graph.edges" -> JDouble(0.5)))
    f \ "compiles" shouldBe JObject("q_a" -> JInt(3), "q_c" -> JInt(0))
    val l = parse(line)
    l \ "metric" shouldBe JString("total")
    l \ "value" shouldBe JDouble(5.0)
    l \ "queries" shouldBe f \ "queries"
    l \ "failed" shouldBe f \ "failed"
  }
}
