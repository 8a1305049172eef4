package graft

/** Dev tool: time + explain individual SparkEntry queries.
  *
  *   sbt "runMain graft.Explain q_dedup_jaccard [sfDir] [--plan] [--fresh]"
  *
  * The first argument is a comma-separated list of query names, or `all`.
  * The whole-catalog plan audit is [[LintSweep]]. */
object Explain {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: Explain <query,...|all> [sfDir] [--plan] [--fresh]; known: " +
      SparkEntry.queries.keys.toSeq.sorted.mkString(", "))
    val selected = SparkEntry.select(if (args(0) == "all") Nil else Seq(args(0)))
    val sfDir = args.drop(1).filterNot(_.startsWith("--")).headOption
      .getOrElse("/root/testdata/sf0.1")
    val showPlan = args.contains("--plan")
    val fresh = args.contains("--fresh")
    val spark = GraftSession.local()
    selected.foreach { case SparkEntry.Query(n, fn, _) =>
      // --fresh: drop every memoized pinned frame first so each query's
      // captured plan is the COLD-plan shape (what Bench times), not a
      // memo-scan left behind by the previous query in this session
      if (fresh) Memo.clearAll(spark)
      // warm (plan compile etc.) then measure
      val t0 = System.nanoTime(); val c = fn(spark, sfDir).count()
      val t1 = System.nanoTime(); fn(spark, sfDir).count()
      val t2 = System.nanoTime()
      println(f"[explain] $n%-18s rows=$c%-9d cold=${(t1 - t0) / 1e9}%6.2fs warm=${(t2 - t1) / 1e9}%6.2fs")
      if (showPlan) fn(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
