package graft

import scala.util.control.NonFatal

/** Catalog-wide PlanLint sweep: lints EVERY registered query's physical
  * plan at sf0.001 and prints one line per query — the mechanized form
  * of the "read every .explain()" review, runnable before promoting a
  * build (`sbt "runMain graft.LintSweep"`; pass query names as args to
  * scope). Findings are not failures: the single-partition-exchange
  * entries on O(days) daily-frame windows are the documented advisory
  * class — the sweep exists so NEW findings stand out against the known
  * baseline. */
object LintSweep {
  def main(args: Array[String]): Unit = {
    val selected = SparkEntry.select(args.toSeq)
    val spark = GraftSession.local()
    val sf = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    var flagged = 0
    var errored = 0
    selected.foreach { q =>
      val line =
        try {
          val fs = graft.plans.PlanLint.lint(q.run(spark, sf))
          if (fs.isEmpty) "clean" else { flagged += 1; fs.mkString("; ") }
        } catch { case NonFatal(e) =>
          // an unlintable query is NOT clean — count it (ADVICE r7)
          errored += 1; s"lint error: ${e.getMessage}"
        }
      if (line != "clean") println(s"LINT ${q.name}: $line")
    }
    println(s"LINT-SUMMARY: ${selected.size} queries, $flagged flagged" +
      (if (errored > 0) s", $errored errored" else ""))
    spark.stop()
  }
}
