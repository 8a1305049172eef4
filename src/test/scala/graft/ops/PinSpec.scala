package graft.ops

import java.nio.file.Files

import org.apache.spark.sql.DataFrame

import graft.GraftTestBase

/** Durability-mode equality for [[graft.Pin]]: every iterative operator
  * must produce IDENTICAL results whether its pins are localCheckpoints
  * (default) or reliable checkpoints against a configured directory —
  * the switch a 1000-executor 100 TB run flips so executor loss doesn't
  * kill a multi-round job. Exercises one representative per iterative
  * family: graph label propagation (checkpointed fixed-point rounds over
  * the shared edge memos), transitive dedup clusters (min-label
  * propagation loop), and the `_dist` prefix-sum class (RDD-level pin).
  */
class PinSpec extends GraftTestBase {

  private def collectSorted(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private def underReliable[A](body: => A): A = {
    val dir = Files.createTempDirectory("graft-ckpt").toFile
    dir.deleteOnExit()
    spark.conf.set("spark.graft.checkpoint.dir", dir.getAbsolutePath)
    try body
    finally spark.conf.unset("spark.graft.checkpoint.dir")
  }

  "Pin" should "produce identical label propagation results in both modes" in {
    // fresh memo state so the reliable run actually re-pins its frames
    Graph.clearCaches(spark)
    val local = collectSorted(Graph.labelPropagation(spark, sf))
    Graph.clearCaches(spark)
    val reliable = underReliable {
      collectSorted(Graph.labelPropagation(spark, sf))
    }
    Graph.clearCaches(spark)
    reliable shouldBe local
  }

  it should "produce identical dedup clusters in both modes" in {
    // the clusters are memoized per (session, dataset): without the
    // clears both reads return the same pinned frame
    graft.Memo.clearAll(spark)
    val local = collectSorted(graft.dedup.Dedup.dedupClusters(spark, sf))
    graft.Memo.clearAll(spark)
    val reliable = underReliable {
      collectSorted(graft.dedup.Dedup.dedupClusters(spark, sf))
    }
    graft.Memo.clearAll(spark)
    reliable shouldBe local
  }

  it should "produce identical _dist prefix sums in both modes" in {
    val local = collectSorted(Analytics.decileStatsDistributed(spark, sf))
    val reliable = underReliable {
      collectSorted(Analytics.decileStatsDistributed(spark, sf))
    }
    reliable shouldBe local
  }

  it should "write reliable checkpoint files under the configured dir" in {
    val dir = Files.createTempDirectory("graft-ckpt-files").toFile
    dir.deleteOnExit()
    spark.conf.set("spark.graft.checkpoint.dir", dir.getAbsolutePath)
    try {
      Graph.clearCaches(spark)
      Graph.labelPropagation(spark, sf).collect()
      Graph.clearCaches(spark)
      // SparkContext materializes checkpoints under <dir>/<uuid>/rdd-*
      def rddDirs(f: java.io.File): Array[java.io.File] =
        Option(f.listFiles()).getOrElse(Array.empty)
          .flatMap(c => if (c.getName.startsWith("rdd-")) Array(c)
                        else rddDirs(c))
      rddDirs(dir).length should be > 0
    } finally spark.conf.unset("spark.graft.checkpoint.dir")
  }
}
