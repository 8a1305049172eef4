package graft

import org.apache.spark.sql.SparkSession

/** One place that constructs a correctly-configured engine session, so
  * every entrypoint (Verify, Bench, PipelineMain, tests) agrees on:
  *  - UTC session timezone (oracle parity — DuckDB treats the testdata
  *    timestamps as naive),
  *  - [[Tables.requiredConf]] set ONCE at construction instead of as a
  *    hidden per-read side effect (ADVICE r1),
  *  - AQE on (runtime re-planning: skew joins, partition coalescing — the
  *    100 TB posture even though local runs are small),
  *  - shuffle partitions sized to the actual core count, not the 200
  *    default that would fragment local runs. The AQE initial width is
  *    left at its default (it follows spark.sql.shuffle.partitions): a
  *    full-suite A/B of an 8× wider start doubled the distributed
  *    order-statistics class and won nowhere (OPTIMIZATION_r15.md §1).
  *    A cluster deploy sets the widths and broadcast budgets with
  *    `--conf`,
  *  - a generated-class cache sized to the catalog
  *    ([[codegenCacheEntries]]). Spark's default holds 100 classes, but a
  *    catalog_heavy pass uses ~190 and a whole-catalog pass ~3,450, each
  *    in the same order every pass, so the LRU evicted every class before
  *    its next use and each pass recompiled it (~25 ms of Janino each).
  *     - The cache is per JVM, not per session: `CodeGenerator` reads the
  *       size once, at the JVM's first code generation, and every later
  *       session shares that cache. A fresh session in a warm JVM does not
  *       recompile a plan shape the JVM has compiled (PERF.md round 11's
  *       "codegen overhead a fresh session always pays" was cache thrash).
  *     - A JVM whose first session does not come from this builder keeps
  *       Spark's default of 100.
  *     - A cached class holds about 27 KB of heap: ~7 MiB for the
  *       catalog_heavy panel, ~90 MiB for a whole-catalog sweep.
  */
object GraftSession {
  /** `spark.sql.codegen.cache.maxEntries`: above the ~3,450 distinct
    * classes one pass over the whole catalog compiles. */
  val codegenCacheEntries = 4096

  def builder(master: String, shufflePartitions: String): SparkSession.Builder = {
    val b = SparkSession.builder()
      .withExtensions(new graft.functions.GraftExtensions)
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", codegenCacheEntries.toLong)
      // InferFiltersFromGenerate synthesizes size(e)>0 filters under every
      // explode; PushDownPredicates then substitutes the full generator
      // expression through the staged projections to the scan — for our
      // lambda-heavy shingle arrays (no CSE inside lambdas) that
      // re-tokenizes each document several times per row and cost ~15s of
      // a 19s query at sf0.1. Text corpora here never carry empty/null
      // arrays, so the inferred skip-filter buys nothing. Measured, not
      // guessed: q_dedup_jaccard 19s -> see BENCH notes.
      .config("spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
    Tables.requiredConf.foldLeft(b) { case (bb, (k, v)) => bb.config(k, v) }
  }

  /** The core count every entry point runs with: `SPARK_GRAFT_CPUS` when
    * set (a deployment setting), else the processors this JVM can use. */
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS",
    Runtime.getRuntime.availableProcessors.toString)

  /** local[cpus] session for harness entrypoints. The native SQL
    * functions come with [[builder]]'s extensions; this adds the UDAFs,
    * which extensions cannot inject. */
  def local(cpus: String = GraftSession.cpus): SparkSession = {
    val spark = builder(s"local[$cpus]", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.GraftFunctions.register(spark)
    spark
  }
}
