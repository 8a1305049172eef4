package graft

import graft.ops.Graph

/** The one memo store ([[Memo]]): builds once per key, logs each build,
  * keeps nothing for a failed build, and resets per session with one
  * call — graph memos included. */
class MemoSpec extends GraftTestBase {

  private val cache = new Memo.Cache("memospec")

  /** Build-log names recorded while `body` runs. */
  private def logged(body: => Any): Seq[String] = {
    val c = Memo.cursor()
    body
    Memo.since(c).map(_._1)
  }

  "Memo.Cache" should "build a key once and log one module.name entry" in {
    Memo.clearAll(spark)
    var builds = 0
    def get() = cache(spark, sf, "once") { builds += 1; spark.range(3).toDF() }
    val names = logged { get(); get() }
    builds shouldBe 1
    names.filter(_.startsWith("memospec.")) shouldBe Seq("memospec.once")
    Memo.clearAll(spark)
  }

  it should "keep nothing for a build that throws, so the next call builds" in {
    Memo.clearAll(spark)
    val failedLog = logged {
      an[IllegalStateException] should be thrownBy
        cache(spark, sf, "flaky") { throw new IllegalStateException("boom") }
    }
    failedLog.filter(_.startsWith("memospec.")) shouldBe empty
    var builds = 0
    val names = logged {
      cache(spark, sf, "flaky") { builds += 1; spark.range(2).toDF() }
        .count() shouldBe 2
    }
    builds shouldBe 1
    names.filter(_.startsWith("memospec.")) shouldBe Seq("memospec.flaky")
    Memo.clearAll(spark)
  }

  "Memo.clearAll" should "drop the graph memos too" in {
    Memo.clearAll(spark)
    Graph.coPurchaseTriangles(spark, sf).count()
    Memo.clearAll(spark)
    val names = logged { Graph.coPurchaseTriangles(spark, sf).count() }
    names should contain allOf ("graph.adjacency", "graph.edges", "graph.edgeSupport")
    Memo.clearAll(spark)
  }

  it should "leave another session's entries in place" in {
    val other = spark.newSession()
    var mine, theirs = 0
    def get() = cache(spark, sf, "shared") { mine += 1; spark.range(1).toDF() }
    def getOther() =
      cache(other, sf, "shared") { theirs += 1; other.range(1).toDF() }
    Memo.clearAll(spark)
    get(); getOther()
    Memo.clearAll(spark)
    get(); getOther()
    // only `spark`'s slot was dropped, so only it built again
    (mine, theirs) shouldBe ((2, 1))
    Memo.clearAll(other)
    Memo.clearAll(spark)
  }

  "Graph.clearCaches" should "drop graph entries only" in {
    Memo.clearAll(spark)
    Graph.coPurchaseTriangles(spark, sf).count()
    cache(spark, sf, "kept") { spark.range(1).toDF() }
    Graph.clearCaches(spark)
    val names = logged {
      Graph.coPurchaseTriangles(spark, sf).count()
      cache(spark, sf, "kept") { spark.range(1).toDF() }
    }
    names should contain ("graph.adjacency")
    names.filter(_.startsWith("memospec.")) shouldBe empty
    Memo.clearAll(spark)
  }
}
