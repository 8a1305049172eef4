package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

import graft.Memo

/** Spark work attributed to one layer: every job submitted under a job
  * group the tracer set, or under one root SQL execution of that group. */
final class Counters {
  var jobs, stages, tasks, actions = 0L
  var runMs, cpuNs, gcMs = 0L
  var shuffleWrite, shuffleRead, spill, bytesOut = 0L

  def +=(x: Counters): Unit = {
    jobs += x.jobs; stages += x.stages; tasks += x.tasks; actions += x.actions
    runMs += x.runMs; cpuNs += x.cpuNs; gcMs += x.gcMs
    shuffleWrite += x.shuffleWrite; shuffleRead += x.shuffleRead
    spill += x.spill; bytesOut += x.bytesOut
  }
}

/** One action: a root SQL execution, with its job group, the first
  * `graft.` frame of the call site that started it, and its start and end
  * in epoch milliseconds (`endMs` is -1 until the end event arrives). */
final case class Action(id: Long, group: String, site: String, startMs: Long) {
  @volatile var endMs: Long = -1L
}

/** Listens on the shared listener queue and sums task metrics and actions
  * per (job group, root SQL execution); work outside any SQL execution is
  * kept under execution -1. Events arrive asynchronously; [[flush]] waits
  * until every event posted before it has been seen. */
final class GroupListener extends SparkListener {
  private val byKey = mutable.HashMap.empty[(String, Long), Counters]
  private val stageKey = mutable.HashMap.empty[Int, (String, Long)]
  private val execRoot = mutable.HashMap.empty[Long, Long]
  private val roots = mutable.LinkedHashMap.empty[Long, Action]
  @volatile private var markerSeen = false

  private val FlushGroup = "perfbench.flush"

  private def at(k: (String, Long)): Counters = byKey.getOrElseUpdate(k, new Counters)

  /** Everything run under `group`. */
  def counters(group: String): Counters = synchronized {
    val sum = new Counters
    byKey.foreach { case ((g, _), c) => if (g == group) sum += c }
    sum
  }

  /** The work of one action of `group`. */
  def counters(group: String, action: Long): Counters = synchronized {
    val sum = new Counters
    byKey.get((group, action)).foreach(sum += _)
    sum
  }

  /** The actions of `group`, in start order. */
  def actions(group: String): Seq[Action] = synchronized {
    roots.valuesIterator.filter(_.group == group).toList
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
    val g = prop("spark.jobGroup.id").getOrElse("")
    val root = prop("spark.sql.execution.id").map { x =>
      val id = x.toLong
      execRoot.getOrElse(id, id)
    }.getOrElse(-1L)
    at((g, root)).jobs += 1
    e.stageIds.foreach(stageKey(_) = (g, root))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    if (byKey.keysIterator.exists(_._1 == FlushGroup)) markerSeen = true
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    at(stageKey.getOrElse(e.stageInfo.stageId, ("", -1L))).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = at(stageKey.getOrElse(e.stageId, ("", -1L)))
    c.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      c.runMs += m.executorRunTime
      c.cpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      c.bytesOut += m.outputMetrics.bytesWritten
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      val root = s.rootExecutionId.getOrElse(s.executionId)
      execRoot(s.executionId) = root
      if (root == s.executionId) {
        val g = s.jobGroupId.getOrElse("")
        at((g, root)).actions += 1
        val site = s.details.linesIterator.find(_.startsWith("graft.")).getOrElse("")
        roots(root) = Action(root, g, site, s.time)
      }
    }
    case s: SparkListenerSQLExecutionEnd => synchronized {
      roots.get(s.executionId).foreach(_.endMs = s.time)
    }
    case _ =>
  }

  /** Run one marker job and wait until its end event arrives: listener
    * queues are FIFO, so every earlier event has been delivered by then. */
  def flush(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    sc.setJobGroup(FlushGroup, FlushGroup)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.clearJobGroup()
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (!markerSeen && System.nanoTime() < deadline) Thread.sleep(5)
  }
}

/** One timed call into a layer. `op` numbers operations across the run;
  * `parent` is the enclosing span's name ("" at the top of an op). Times
  * are seconds since the tracer started. A probe is timed outside its
  * operation's wall time (see [[Workload.probe]]). */
final case class Span(op: Int, pass: Int, name: String, parent: String,
    start: Double, dur: Double, probe: Boolean = false) {
  def end: Double = start + dur
}

/** Records spans around layer calls, each under its own Spark job group
  * so the [[GroupListener]] can attribute the Spark work it launches. */
final class Tracer(spark: SparkSession) {
  private val t0 = System.nanoTime()
  private val t0Ms = System.currentTimeMillis()
  val spans = mutable.ArrayBuffer.empty[Span]
  val listener = new GroupListener
  spark.sparkContext.addSparkListener(listener)
  /** (op, layer) -> (job group, action or None for the whole group). */
  private val layerKeys = mutable.HashMap.empty[(Int, String), mutable.ArrayBuffer[(String, Option[Long])]]

  def now(): Double = (System.nanoTime() - t0) / 1e9

  def group(op: Int, name: String): String = s"op$op/$name"

  def span[A](op: Int, pass: Int, name: String, parent: String = "", probe: Boolean = false)
      (body: => A): A = {
    val sc = spark.sparkContext
    val g = group(op, name)
    sc.setJobGroup(g, name)
    layerKeys.getOrElseUpdate((op, name), mutable.ArrayBuffer.empty) += ((g, None))
    val s = now()
    try body
    finally {
      spans += Span(op, pass, name, parent, s, now() - s, probe)
      sc.clearJobGroup()
    }
  }

  def add(s: Span): Unit = spans += s

  /** After [[GroupListener.flush]]: split every `container` span into its
    * actions. `layer` names an action's layer from its call site; an action
    * it leaves unnamed stays in the container's self time. */
  def attributeActions(container: String, layer: String => Option[String]): Unit =
    spans.filter(s => s.name == container && !s.probe).toList.foreach { c =>
      val g = group(c.op, container)
      for (a <- listener.actions(g); name <- layer(a.site) if a.endMs >= a.startMs) {
        val start = math.max(c.start, (a.startMs - t0Ms) / 1000.0)
        val end = math.min(c.end, (a.endMs - t0Ms) / 1000.0)
        spans += Span(c.op, c.pass, name, container, start, math.max(0.0, end - start))
        layerKeys.getOrElseUpdate((c.op, name), mutable.ArrayBuffer.empty) += ((g, Some(a.id)))
      }
    }

  /** Spark counters of `layer` in operation `op`. */
  def counters(op: Int, layer: String): Counters = {
    val sum = new Counters
    layerKeys.getOrElse((op, layer), Nil).foreach {
      case (g, None) => sum += listener.counters(g)
      case (g, Some(a)) => sum += listener.counters(g, a)
    }
    sum
  }

  /** Self time of each span name in `op`: summed durations minus those of
    * the spans whose parent carries that name. */
  def selfTimes(op: Int): Map[String, Double] = {
    val mine = spans.filter(_.op == op)
    mine.groupBy(_.name).map { case (name, ss) =>
      val total = ss.map(_.dur).sum
      val children = mine.filter(_.parent == name).map(_.dur).sum
      name -> (total - children)
    }
  }

  def toJson(workload: String): String = {
    def num(d: Double) = if (d.isNaN) "null" else f"$d%.6f"
    spans.map { s =>
      s"""{"op":${s.op},"pass":${s.pass},"name":"${s.name}","parent":"${s.parent}",""" +
        s""""probe":${s.probe},"start":${num(s.start)},"end":${num(s.end)},"dur":${num(s.dur)}}"""
    }.mkString(s"""{"workload":"$workload","spans":[\n""", ",\n", "\n]}\n")
  }
}

/** One `graft.Memo` build seen by a [[MemoWatch]]; times as in [[Span]]. */
final case class MemoBuild(name: String, start: Double, dur: Double, outermost: Boolean)

/** Times `graft.Memo` builds from outside. The build log holds only each
  * build's name and duration, appended when the build ends, and builds
  * nest (a build may read other memoized frames). A polling thread stamps
  * each entry with the time it appeared, which gives every build an end
  * and so a start; a build whose interval lies inside a later-ending one
  * is nested. */
final class MemoWatch(tracer: Tracer) {
  private val first = Memo.cursor()
  private val seen = mutable.ArrayBuffer.empty[(String, Double, Double)] // name, end, dur
  @volatile private var running = true

  private def poll(): Unit = {
    val got = Memo.since(first + seen.size)
    if (got.nonEmpty) {
      val t = tracer.now()
      got.foreach { case (n, d) => seen += ((n, t, d)) }
    }
  }

  private val thread = new Thread(() => while (running) { poll(); Thread.sleep(1) },
    "perfbench-memo-watch")
  thread.setDaemon(true)
  thread.start()

  /** Stop watching; the builds seen, in the order they ended. */
  def stop(): Seq[MemoBuild] = {
    running = false
    thread.join()
    poll()
    val b = seen.toIndexedSeq
    val slack = 0.002 // two polling periods
    b.indices.map { i =>
      val (name, end, dur) = b(i)
      val start = end - dur
      val nested = (i + 1 until b.size).exists(j => b(j)._2 - b(j)._3 <= start + slack)
      MemoBuild(name, start, dur, !nested)
    }
  }
}
