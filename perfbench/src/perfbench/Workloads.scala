package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.time.LocalDate

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{Memo, SparkEntry}
import graft.ingest.CsvIngest
import graft.ops.Graph
import graft.pipeline.Pipeline
import graft.schema.Listings

/** Where a traced operation records its spans. */
final case class TraceCtx(tracer: Tracer, op: Int, pass: Int) {
  def span[A](name: String, probe: Boolean = false)(body: => A): A =
    tracer.span(op, pass, name, probe = probe)(body)
}

/** One benchmark workload. An operation returns a check that runs after
  * its timing stops and yields an error message when the output is wrong. */
trait Workload {
  def name: String
  /** Make the inputs on a fresh session and warm it up (timed as set-up).
    * `cold` marks the first set-up of the JVM, which warms up fully. */
  def setup(spark: SparkSession, cold: Boolean): Unit
  /** Called before each pass. */
  def startPass(spark: SparkSession): Unit = ()
  /** Operation names of one pass, in run order. */
  def passOps(pass: Int): Seq[String]
  def run(spark: SparkSession, op: String, trace: Option[TraceCtx]): () => Option[String]
  /** Traced runs only: a measurement taken after the operation `trace`
    * belongs to, outside its wall time. */
  def probe(spark: SparkSession, trace: TraceCtx): Unit = ()
  /** Traced runs only, after the listener has caught up: split container
    * spans into their actions (see [[Tracer.attributeActions]]). */
  def attribute(tracer: Tracer): Unit = ()
  /** Rows one pass handles, for `rows_per_s`. */
  def rowsPerPass: Double
  /** Layer figures only the workload can measure (0 when absent). */
  def extras: Map[String, Double] = Map.empty
  /** Work done once after the measured window; returns detail fields. */
  def afterWindow(spark: SparkSession): Seq[(String, String)] = Nil
}

object Workload {
  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      finally s.close()
    }

  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}

/** The paper's daily batch: 11 listing snapshots through `Pipeline.run`
  * (strict COPY-typed load, `load_date` partition overwrite, single-object
  * CSV export), re-running one run date over a table that already holds
  * an earlier partition. */
final class PipelineBatch(seed: Long, work: Path, rowsPerSnapshot: Int) extends Workload {
  val name = "pipeline_batch"

  private val first = LocalDate.of(2024, 3, 1)
  private val dates = (0 until 11).map(i => first.plusDays(i).toString)
  private val historyDate = first.plusDays(11)
  private val runDate = first.plusDays(12)
  private val landing = work.resolve("landing")
  private val table = work.resolve("table")
  private val exportDir = work.resolve("export")
  private val conf = Pipeline.Config(landing.toString, dates, table.toString, exportDir.toString)
  private var batch: ListingGen.Batch = _
  private var storedRatio = 0.0

  private val stampFormat = "\\d{4}-\\d\\d-\\d\\d \\d\\d:\\d\\d:\\d\\d".r

  def rowsPerPass: Double = batch.rows.toDouble

  /** Regenerate the snapshots and (re)load the history partition. The
    * cold set-up starts from an empty table and also loads the run date,
    * so every measured batch re-runs a date the table already holds. */
  def setup(spark: SparkSession, cold: Boolean): Unit = {
    if (cold) Workload.deleteTree(work)
    batch = ListingGen.write(seed, landing, dates, rowsPerSnapshot, runDate.toString)
    val h = Pipeline.run(spark, conf, historyDate)
    require(h.loadedRows == batch.rows && h.exportedRows == batch.rows,
      s"history load: loaded ${h.loadedRows}, exported ${h.exportedRows}, generated ${batch.rows}")
    if (cold) {
      val warm = Pipeline.run(spark, conf, runDate)
      check(spark, warm.loadedRows, warm.exportedRows, warm.exportPath)
        .foreach(e => throw new IllegalStateException(s"warm-up batch: $e"))
    }
  }

  def passOps(pass: Int): Seq[String] = Seq("batch")

  def run(spark: SparkSession, op: String, trace: Option[TraceCtx]): () => Option[String] = {
    val r = trace match {
      case None => Pipeline.run(spark, conf, runDate)
      case Some(t) => t.span("pipeline.run") { Pipeline.run(spark, conf, runDate) }
    }
    () => check(spark, r.loadedRows, r.exportedRows, r.exportPath)
  }

  /** The parse alone: a noop-sink scan of the snapshots the batch reads. */
  override def probe(spark: SparkSession, t: TraceCtx): Unit = t.span("ingest.parse", probe = true) {
    val paths = dates.map(Pipeline.snapshotPath(landing.toString, _))
    CsvIngest.readSnapshots(spark, paths, Listings.ingestSchema, CsvIngest.FailFast)
      .write.format("noop").mode("overwrite").save()
  }

  /** `Pipeline.run`'s four actions, named by the function that starts
    * them (the first `graft.` frame of the action's call site). */
  override def attribute(tracer: Tracer): Unit =
    tracer.attributeActions("pipeline.run", site => PipelineBatch.actionLayers.collectFirst {
      case (prefix, layer) if site.startsWith(prefix) => layer
    })

  override def extras: Map[String, Double] =
    Map("load.stored_bytes_per_input_byte" -> storedRatio)

  /** Counts agree, the table holds exactly one copy of each load date,
    * and the export matches the generated records byte for byte. */
  private def check(spark: SparkSession, loaded: Long, exported: Long,
      exportPath: String): Option[String] = {
    val n = batch.rows
    if (loaded != n || exported != n)
      return Some(s"loaded $loaded, exported $exported, generated $n")
    val perDate = spark.read.parquet(table.toString).groupBy("load_date").count()
      .collect().map(r => r.getDate(0).toString -> r.getLong(1)).toMap
    val want = Map(historyDate.toString -> n, runDate.toString -> n)
    if (perDate != want) return Some(s"table partitions $perDate, expected $want")
    storedRatio = partitionBytes(runDate).toDouble / batch.bytes
    exportMismatch(Files.list(java.nio.file.Paths.get(exportPath)), batch.expected)
  }

  private def partitionBytes(d: LocalDate): Long = {
    val s = Files.walk(table.resolve(s"load_date=$d"))
    try s.filter(p => p.getFileName.toString.endsWith(".parquet")).mapToLong(Files.size(_)).sum
    finally s.close()
  }

  private def exportMismatch(listing: java.util.stream.Stream[Path],
      expected: Array[String]): Option[String] = {
    val parts = try {
      listing.filter(p => p.getFileName.toString.startsWith("part-")).toArray
        .map(_.asInstanceOf[Path]).toSeq
    } finally listing.close()
    if (parts.size != 1) return Some(s"export has ${parts.size} part files, expected 1")
    val text = new String(Files.readAllBytes(parts.head), UTF_8)
    if (!text.endsWith("\n")) return Some("export does not end with a newline")
    val recs = ListingGen.records(text.stripSuffix("\n"))
    val head = ListingGen.header + ",load_date,processed_at"
    if (recs.isEmpty || recs(0) != head)
      return Some(s"export header ${recs.headOption.getOrElse("")}")
    val body = recs.drop(1)
    val cut = body.map(_.lastIndexOf(','))
    val stamps = body.indices.map(i => body(i).substring(cut(i) + 1)).distinct
    if (stamps.size != 1 || stamps.exists(s => !stampFormat.matches(s)))
      return Some(s"processed_at values ${stamps.take(3)}")
    val got = body.indices.map(i => body(i).substring(0, cut(i))).toArray.sorted
    val exp = expected.sorted
    if (got.length != exp.length) return Some(s"export has ${got.length} records, expected ${exp.length}")
    val i = got.indices.find(i => got(i) != exp(i))
    i.map(k => s"export record differs: ${Workload.jsonString(got(k))} vs ${Workload.jsonString(exp(k))}")
  }

  /** The RFC 4180 edge batch: a small snapshot whose `name` holds a quoted
    * line break, run once per invocation outside the measured window. */
  override def afterWindow(spark: SparkSession): Seq[(String, String)] = {
    val edge = work.resolve("edge")
    Workload.deleteTree(edge)
    val edgeDate = first.plusDays(20)
    val b = ListingGen.write(seed + 1, edge.resolve("landing"), dates.take(1), 50,
      edgeDate.toString, newlineRow = Some(3))
    val c = Pipeline.Config(edge.resolve("landing").toString, dates.take(1),
      edge.resolve("table").toString, edge.resolve("export").toString)
    val outcome = try {
      val r = Pipeline.run(spark, c, edgeDate)
      if (r.loadedRows != b.rows || r.exportedRows != b.rows)
        Some(s"loaded ${r.loadedRows}, exported ${r.exportedRows}, generated ${b.rows}")
      else exportMismatch(Files.list(java.nio.file.Paths.get(r.exportPath)), b.expected)
    } catch { case e: Exception => Some(String.valueOf(e.getMessage).linesIterator.take(1).mkString) }
    outcome.foreach(e => System.err.println(s"[perfbench] edge batch (quoted newline) failed: $e"))
    Seq("edge_batch_ok" -> outcome.isEmpty.toString,
      "edge_batch_error" -> outcome.map(Workload.jsonString).getOrElse("null"))
  }
}

object PipelineBatch {
  val actionLayers: Seq[(String, String)] = Seq(
    "graft.ingest.BatchLoad" -> "load.write",
    "graft.pipeline.Pipeline$.run" -> "load.reconcile",
    "graft.export.CsvExport$.writeCsv" -> "export.write",
    "graft.export.CsvExport$.exportBatch" -> "export.count")
}

/** A frozen panel of `SparkEntry.queries` over the benchmark's copy of the
  * sf0.01 tables. One operation is one query (construct + plan +
  * execute of its count); memos are shared within a pass and cleared
  * between passes. Queries run in panel order: the first member of a
  * memo family pays the family's builds, so a permuted order would move
  * that cost between queries from pass to pass. */
final class Catalog(val name: String, dataDir: String,
    panel: Seq[(String, Long)], oracleOut: Path) extends Workload {
  private val queries = SparkEntry.queries
  private val expected = panel.toMap
  require(panel.forall(q => queries.contains(q._1)),
    s"unknown queries ${panel.map(_._1).filterNot(queries.contains)}")

  def rowsPerPass: Double = panel.map(_._2).sum.toDouble

  /** Warm-up. On a cold JVM it is one whole pass that also dumps each
    * query's result and its oracle SQL in the layout `tools/check.py`
    * reads, for the DuckDB comparison after the run; later set-ups run the
    * panel's first query only. */
  def setup(spark: SparkSession, cold: Boolean): Unit = {
    clearMemos(spark)
    if (!cold) queries(panel.head._1)(spark, dataDir).count()
    else {
      Workload.deleteTree(oracleOut)
      Files.createDirectories(oracleOut)
      panel.foreach { case (q, _) =>
        queries(q)(spark, dataDir).coalesce(1).write.mode("overwrite").parquet(s"$oracleOut/$q")
      }
      val sql = SparkEntry.oracleSql
      val json = panel.map(_._1).filter(sql.contains)
        .map(q => s"${Workload.jsonString(q)}: ${Workload.jsonString(sql(q))}")
        .mkString("{", ",\n", "}")
      Files.writeString(oracleOut.resolve("oracle_sql.json"), json)
    }
  }

  /** Drop every memoized build: the registered `Memo` caches and the
    * graph family's own caches. */
  private def clearMemos(spark: SparkSession): Unit = {
    Graph.clearCaches(spark)
    Memo.clearAll(spark)
  }

  override def startPass(spark: SparkSession): Unit = clearMemos(spark)

  def passOps(pass: Int): Seq[String] = panel.map(_._1)

  private def check(q: String, n: Long): () => Option[String] =
    () => if (n == expected(q)) None else Some(s"$q returned $n rows, expected ${expected(q)}")

  def run(spark: SparkSession, q: String, trace: Option[TraceCtx]): () => Option[String] =
    trace match {
      case None => check(q, queries(q)(spark, dataDir).count())
      case Some(t) =>
        val watch = new MemoWatch(t.tracer)
        val df: DataFrame =
          try t.span("construct") { queries(q)(spark, dataDir) }
          finally watch.stop().foreach { b =>
            t.tracer.add(Span(t.op, t.pass, "memo.build",
              if (b.outermost) "construct" else "memo.build", b.start, b.dur))
          }
        // the frame Dataset.count() runs, planned one Catalyst phase at a time
        val counted = t.span("plan") { df.groupBy().count() }
        t.span("optimize") { counted.queryExecution.optimizedPlan }
        t.span("physical_plan") { counted.queryExecution.executedPlan }
        val n = t.span("execute") { counted.collect()(0).getLong(0) }
        check(q, n)
    }
}
