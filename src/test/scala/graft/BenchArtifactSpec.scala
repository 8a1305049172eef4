package graft

import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

/** Bench's artifact rules, no SparkSession needed. The compact line's
  * log-tail budget (VERDICT r11 #3: the artifact lost its headline when
  * the compact line outgrew a 2 kB log-tail window): longest candidate
  * under budget wins, and the final fallback is unconditional. Failed
  * queries get no time and stay out of every per-query minimum.
  */
class BenchArtifactSpec extends AnyFlatSpec with Matchers {

  behavior of "Bench.pickUnderBudget"

  it should "prefer the richest candidate that fits" in {
    val cands = Seq("x" * 3000, "y" * 1500, "z" * 100)
    Bench.pickUnderBudget(cands) shouldBe "y" * 1500
  }

  it should "fall back to the last candidate when nothing fits" in {
    // the caller's last candidate is the headline-only form — it must
    // be chosen rather than throwing, however oversized the rest are
    val cands = Seq("a" * 5000, "b" * 4000, "c" * 2500)
    Bench.pickUnderBudget(cands) shouldBe "c" * 2500
  }

  it should "treat the budget as inclusive" in {
    val exact = "e" * 1900
    Bench.pickUnderBudget(Seq(exact, "small")) shouldBe exact
  }

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

  behavior of "Bench.minOverPasses"

  it should "take the per-query minimum in first-pass order" in {
    val p1 = Seq("q_b" -> Some(3.0), "q_a" -> Some(1.0))
    val p2 = Seq("q_b" -> Some(2.0), "q_a" -> Some(1.5))
    Bench.minOverPasses(Seq(p1, p2)) shouldBe
      ((Seq("q_b" -> 2.0, "q_a" -> 1.0), Seq.empty))
  }

  it should "keep a query that failed in any pass out of the minimum" in {
    val p1 = Seq("q_a" -> Some(1.0), "q_b" -> None, "q_c" -> Some(4.0))
    val p2 = Seq("q_a" -> None, "q_b" -> Some(0.5), "q_c" -> Some(5.0))
    Bench.minOverPasses(Seq(p1, p2)) shouldBe
      ((Seq("q_c" -> 4.0), Seq("q_b", "q_a")))
  }

  behavior of "Bench.overBandMembers"

  it should "select slow members over 2x their reference, outside the top set" in {
    val slow = Seq("q_a" -> 6.0, "q_b" -> 5.0, "q_c" -> 4.0, "q_d" -> 3.0)
    val top = Seq("q_a") // already in the isolation pass
    val ref = Map("q_a" -> 2.0, "q_b" -> 2.0, "q_c" -> 3.0, "q_d" -> 1.0)
    // q_a over band but in top; q_b 2.5x; q_c 1.33x (in band); q_d 3x
    Bench.overBandMembers(slow, top, ref) shouldBe Seq("q_b", "q_d")
  }

  it should "treat exactly-2x as in band and missing references as in band" in {
    val slow = Seq("q_x" -> 4.0, "q_new" -> 9.9)
    Bench.overBandMembers(slow, Seq.empty, Map("q_x" -> 2.0)) shouldBe Seq.empty
  }

  behavior of "Bench.loadRefBand"

  it should "read per-query figures from a bench_full artifact" in {
    val f = java.nio.file.Files.createTempFile("band", ".json")
    java.nio.file.Files.writeString(f,
      """{"metric":"bench_full","total":10.5,"n":2,
        |"queries":{"q_a":2.25,"q_b":8}}""".stripMargin)
    val band = Bench.loadRefBand(f.toString)
    band shouldBe Map("q_a" -> 2.25, "q_b" -> 8.0)
    java.nio.file.Files.delete(f)
  }

  it should "return empty for a missing or malformed file" in {
    Bench.loadRefBand("/nonexistent/band.json") shouldBe Map.empty
    val f = java.nio.file.Files.createTempFile("bad", ".json")
    java.nio.file.Files.writeString(f, "not json at all {")
    Bench.loadRefBand(f.toString) shouldBe Map.empty
    java.nio.file.Files.delete(f)
  }

  it should "keep a realistic worst-case compact line parseable" in {
    // 10 heavy queries × 6 contended iso samples × 9-digit doubles —
    // the BENCH_r11 failure shape. The degraded candidates must include
    // one under budget whose content is still valid JSON.
    def jarr(n: Int, per: Int): String =
      (1 to n).map(i => s""""q_heavy_$i":[${
        Seq.fill(per)("12.345678901").mkString(",")}]""")
        .mkString("{", ",", "}")
    val head = """{"metric":"total_compact","total":519.123,"n":414"""
    val cands = Seq(
      s"""$head,"iso_runs":${jarr(10, 6)}}""",
      s"""$head,"iso_runs":${jarr(10, 3)}}""",
      head + "}")
    val picked = Bench.pickUnderBudget(cands)
    picked.length should be <= 1900
    // minimal JSON sanity: balanced braces, headline intact
    picked should startWith(head)
    picked.count(_ == '{') shouldBe picked.count(_ == '}')
  }
}
