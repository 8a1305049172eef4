package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** The in-JVM half of the benchmark (see perfbench/run.py for the
  * command line and the output contract).
  *
  * Arguments: `--workload --seed --seconds --trace --root --work --out`.
  * Writes one JSON object to `--out`: `correct`, `attempted`, `failed`,
  * `metrics` (end-to-end metrics, or per-layer ones with `--trace 1`) and
  * `detail`; with `--trace 1` the spans go to `<out>.spans.json`.
  */
object Main {
  val Cores = 4
  /** Set-ups per run; `setup_s` is their median. */
  val SetupReps = 3
  /** Listing rows per snapshot in `pipeline_batch` (11 snapshots). */
  val PipelineRows = 10000

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).map(kv => kv(0).stripPrefix("--") -> kv(1)).toMap
    val seed = a("seed").toLong
    val root = Paths.get(a("root"))
    val work = Paths.get(a("work"))
    val out = Paths.get(a("out"))
    val dataDir = root.resolve("perfbench/data/sf0.01").toString
    def panel(file: String) =
      scala.io.Source.fromFile(root.resolve(s"perfbench/panels/$file.tsv").toFile)
        .getLines().map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
        .map { l => val Array(q, n) = l.split("\t"); q -> n.toLong }.toList
    val wl: Workload = a("workload") match {
      case "pipeline_batch" =>
        new PipelineBatch(seed, work.resolve("pipeline"), PipelineRows)
      case w @ "catalog_heavy" =>
        new Catalog(w, dataDir, panel(w), work.resolve("oracle"))
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val json = new Runner(wl, a("seconds").toDouble, a("trace") == "1", out).run()
    Files.writeString(out, json)
  }
}

final case class OpRec(pass: Int, op: Int, name: String, wall: Double,
    error: Option[String], traced: Boolean)

final class Runner(wl: Workload, seconds: Double, trace: Boolean, out: Path) {
  private def now(): Double = System.nanoTime() / 1e9
  private val memory = ManagementFactory.getMemoryMXBean

  def run(): String = {
    var spark: SparkSession = null
    val setups = (1 to Main.SetupReps).map { rep =>
      if (spark != null) spark.stop()
      val t0 = now()
      spark = GraftSession.local(Main.Cores.toString)
      wl.setup(spark, cold = rep == 1)
      now() - t0
    }
    val tracer = if (trace) Some(new Tracer(spark)) else None
    val recs = mutable.ArrayBuffer.empty[OpRec]
    var heapMax = 0L
    var dead = false
    var opId = 0
    var pass = 0
    val start = now()
    def untracedPasses = recs.filter(!_.traced).map(_.pass).distinct.size
    def tracedPasses = recs.filter(_.traced).map(_.pass).distinct.size
    // With tracing on, the first half of the window runs untraced so the
    // tracing overhead can be measured against it.
    def nextTraced = trace && untracedPasses > 0 && now() - start >= seconds / 2
    while (!dead && (now() - start < seconds || pass == 0 || (trace && tracedPasses == 0))) {
      val traced = nextTraced
      wl.startPass(spark)
      for (name <- wl.passOps(pass)) {
        if (dead) recs += OpRec(pass, opId, name, 0.0, Some("session died earlier"), traced)
        else {
          val ctx = tracer.filter(_ => traced).map(TraceCtx(_, opId, pass))
          val t0 = now()
          val outcome = try Right(wl.run(spark, name, ctx)) catch { case e: Throwable => Left(e) }
          val wall = now() - t0
          val error = outcome match {
            case Right(check) =>
              try check() catch { case e: Throwable => Some(s"check failed: ${e.getMessage}") }
            case Left(e) =>
              if (spark.sparkContext.isStopped) dead = true
              Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).linesIterator.take(1).mkString}")
          }
          error.foreach(e => System.err.println(s"[perfbench] ${wl.name} $name failed: $e"))
          recs += OpRec(pass, opId, name, wall, error, traced)
          if (error.isEmpty) ctx.foreach { c =>
            try wl.probe(spark, c)
            catch { case e: Exception => System.err.println(s"[perfbench] probe after $name failed: $e") }
          }
        }
        opId += 1
      }
      // after the first pass, and after the last one below
      if (pass == 0) heapMax = retainedHeap()
      pass += 1
    }
    if (!dead) heapMax = math.max(heapMax, retainedHeap())
    tracer.foreach { t => t.listener.flush(spark); wl.attribute(t) }
    val after = if (dead) Nil else wl.afterWindow(spark)
    val failed = recs.count(_.error.nonEmpty)
    val metrics =
      if (trace) perLayer(tracer.get, recs.toSeq)
      else endToEnd(setups, recs.toSeq, heapMax)
    tracer.foreach(t => Files.writeString(Paths.get(s"$out.spans.json"), t.toJson(wl.name)))
    spark.stop()

    val passWalls = Runner.passWalls(recs.toSeq)
    val okWalls = recs.filter(_.error.isEmpty).map(_.wall)
    val detail = Seq(
      "setup_reps_s" -> setups.map(Runner.num).mkString("[", ",", "]"),
      "passes" -> pass.toString,
      "pass_walls_s" -> passWalls.map { case (p, w, t) => s"[$p,${Runner.num(w)},$t]" }
        .mkString("[", ",", "]"),
      "op_samples" -> okWalls.size.toString,
      "session_died" -> dead.toString,
      "op_walls_s" -> recs.groupBy(_.name).toSeq.sortBy(_._1).map { case (n, rs) =>
        s"${Workload.jsonString(n)}:${Runner.num(Runner.median(rs.map(_.wall).toSeq))}"
      }.mkString("{", ",", "}"),
      "errors" -> recs.flatMap(r => r.error.map(e => s"${r.name}: $e")).distinct.take(10)
        .map(Workload.jsonString).mkString("[", ",", "]")) ++ after
    def obj(kvs: Seq[(String, String)]) =
      kvs.map { case (k, v) => s"${Workload.jsonString(k)}:$v" }.mkString("{", ",", "}")
    obj(Seq(
      "correct" -> (failed == 0 && !dead).toString,
      "attempted" -> recs.size.toString,
      "failed" -> failed.toString,
      "metrics" -> obj(metrics.map { case (k, (v, u)) =>
        k -> s"""{"value":${Runner.num(v)},"unit":${Workload.jsonString(u)}}"""
      }),
      "detail" -> obj(detail)))
  }

  /** Heap still in use once nothing more can be freed, measured after the
    * first and the last pass of the window, outside any timing. A full GC hands unreferenced pinned blocks
    * to Spark's context cleaner, which releases them asynchronously, so GCs
    * repeat (at least three more times) until the heap stops shrinking. */
  private def retainedHeap(): Long = {
    System.gc()
    var used = memory.getHeapMemoryUsage.getUsed
    var shrinking = true
    var rounds = 0
    while ((shrinking || rounds < 3) && rounds < 10) {
      Thread.sleep(100)
      System.gc()
      val now = memory.getHeapMemoryUsage.getUsed
      shrinking = now < used - (1L << 20)
      used = math.min(used, now)
      rounds += 1
    }
    used
  }

  private def endToEnd(setups: Seq[Double], recs: Seq[OpRec],
      heapMax: Long): Seq[(String, (Double, String))] = {
    val walls = Runner.passWalls(recs).map(_._2)
    val runS = Runner.median(walls)
    val ops = Runner.opMedians(recs)
    Seq(
      "setup_s" -> (Runner.median(setups), "s"),
      "run_s" -> (runS, "s"),
      "op_p50_s" -> (Runner.median(ops), "s"),
      "op_tail_s" -> (if (ops.isEmpty) Double.NaN else ops.max, "s"),
      "rows_per_s" -> (wl.rowsPerPass / runS, "rows/s"),
      "retained_heap_mb" -> (heapMax / 1048576.0, "MiB"))
  }

  /** Per-layer figures, each summed over a traced pass's operations and
    * reported as the median over traced passes. `*_s` layer times are
    * self times (a span's duration minus its children's). */
  private def perLayer(t: Tracer, recs: Seq[OpRec]): Seq[(String, (Double, String))] = {
    val tracedPasses = recs.filter(_.traced).map(_.pass).distinct
    val c = Main.Cores
    def perPass(p: Int): Seq[(String, (Double, String))] = {
      val ops = recs.filter(r => r.pass == p)
      val opIds = ops.map(_.op).toSet
      val spans = t.spans.filter(s => opIds.contains(s.op)).toSeq
      val topLevel = spans.filter(s => s.parent.isEmpty && !s.probe)
      val self = ops.map(o => t.selfTimes(o.op)).foldLeft(Map.empty[String, Double]) {
        (acc, m) => m.foldLeft(acc) { case (a, (k, v)) => a.updated(k, a.getOrElse(k, 0.0) + v) }
      }
      def s(layer: String) = self.getOrElse(layer, 0.0)
      def k(layer: String): Counters = {
        val sum = new Counters
        opIds.foreach(op => sum += t.counters(op, layer))
        sum
      }
      def busy(layer: String) = {
        val wall = spans.filter(_.name == layer).map(_.dur).sum
        if (wall > 0) k(layer).runMs / 1000.0 / (wall * c) else 0.0
      }
      val wall = ops.map(_.wall).sum
      val covered = topLevel.map(_.dur).sum
      val memo = spans.filter(_.name == "memo.build")
      def phase(p: String) = {
        val x = k(p)
        Seq(
          s"$p.stages" -> (x.stages.toDouble, "count"),
          s"$p.tasks" -> (x.tasks.toDouble, "count"),
          s"$p.shuffle_write_bytes" -> (x.shuffleWrite.toDouble, "bytes"),
          s"$p.shuffle_read_bytes" -> (x.shuffleRead.toDouble, "bytes"),
          s"$p.spill_bytes" -> (x.spill.toDouble, "bytes"),
          s"$p.executor_run_s" -> (x.runMs / 1000.0, "s"),
          s"$p.executor_cpu_s" -> (x.cpuNs / 1e9, "s"),
          s"$p.gc_s" -> (x.gcMs / 1000.0, "s"),
          s"$p.busy" -> (busy(p), "ratio"))
      }
      Seq(
        "ingest.parse_s" -> (s("ingest.parse"), "s"),
        "ingest.busy" -> (busy("ingest.parse"), "ratio"),
        "load.write_s" -> (s("load.write"), "s"),
        "load.tasks" -> (k("load.write").tasks.toDouble, "count"),
        "load.busy" -> (busy("load.write"), "ratio"),
        "load.bytes_out" -> (k("load.write").bytesOut.toDouble, "bytes"),
        "load.gc_s" -> (k("load.write").gcMs / 1000.0, "s"),
        "load.stored_bytes_per_input_byte" ->
          (wl.extras.getOrElse("load.stored_bytes_per_input_byte", 0.0), "ratio"),
        "load.reconcile_s" -> (s("load.reconcile"), "s"),
        "load.reconcile_jobs" -> (k("load.reconcile").jobs.toDouble, "count"),
        "export.write_s" -> (s("export.write"), "s"),
        "export.tasks" -> (k("export.write").tasks.toDouble, "count"),
        "export.busy" -> (busy("export.write"), "ratio"),
        "export.bytes_out" -> (k("export.write").bytesOut.toDouble, "bytes"),
        "export.count_s" -> (s("export.count"), "s"),
        "pipeline.other_s" -> (s("pipeline.run"), "s"),
        "construct_s" -> (s("construct"), "s"),
        "construct_jobs" -> (k("construct").jobs.toDouble, "count"),
        "memo.builds" -> (memo.size.toDouble, "count"),
        "memo.build_s" -> (memo.filter(_.parent == "construct").map(_.dur).sum, "s"),
        "plan_s" -> (s("plan"), "s"),
        "optimize_s" -> (s("optimize"), "s"),
        "physical_plan_s" -> (s("physical_plan"), "s"),
        "execute_s" -> (s("execute"), "s"),
        "execute_jobs" -> (k("execute").jobs.toDouble, "count")) ++
        phase("construct") ++ phase("execute") ++ Seq(
        "actions" -> (topLevel.map(s => t.listener.counters(t.group(s.op, s.name)).actions)
          .sum.toDouble, "count"),
        "unattributed_s" -> (wall - covered, "s"),
        "span_coverage" -> (if (wall > 0) covered / wall else 0.0, "ratio"))
    }
    val rows = tracedPasses.map(perPass)
    val names = rows.head.map(_._1)
    val untracedWall = Runner.median(Runner.passWalls(recs).filter(!_._3).map(_._2))
    val tracedWall = Runner.median(Runner.passWalls(recs).filter(_._3).map(_._2))
    names.map { n =>
      val unit = rows.head.find(_._1 == n).get._2._2
      n -> (Runner.median(rows.map(_.find(_._1 == n).get._2._1)), unit)
    } :+ ("trace_overhead_s" -> (tracedWall - untracedWall, "s"))
  }
}

object Runner {
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Each operation's median wall time over the passes it succeeded in.
    * The panel's queries differ in cost by up to 5x, so a median over the
    * pooled walls lands in a gap between queries and jumps with small
    * shifts; a median over per-query medians does not. */
  def opMedians(recs: Seq[OpRec]): Seq[Double] =
    recs.filter(_.error.isEmpty).groupBy(_.name).values.map(rs => median(rs.map(_.wall))).toSeq

  /** (pass, summed op wall, traced) for every pass whose operations all
    * succeeded; a pass with a failure has no wall time. */
  def passWalls(recs: Seq[OpRec]): Seq[(Int, Double, Boolean)] =
    recs.groupBy(_.pass).toSeq.sortBy(_._1).collect {
      case (p, ops) if ops.forall(_.error.isEmpty) => (p, ops.map(_.wall).sum, ops.head.traced)
    }
}
