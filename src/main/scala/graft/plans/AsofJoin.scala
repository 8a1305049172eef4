package graft.plans

import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, AttributeSet, GenericInternalRow, JoinedRow, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.Partitioning
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.graft.shims
import org.apache.spark.sql.types.{DataType, LongType, TimestampType}

/** A whole-operator Catalyst extension: broadcast as-of join.
  *
  * `AS OF` ("for each fact row, the latest dimension row at-or-before it,
  * per key") has no single Spark operator. The composable rendering —
  * union the tagged streams, last_value(IGNORE NULLS) over a per-key
  * window ([[graft.ops.TimeSeries.asofLatestClick]]) — is correct but
  * must SHUFFLE AND SORT THE FACT SIDE on the key. When the dimension
  * side is broadcastable (quotes, rates, settings — the common case),
  * that shuffle is pure waste: at 100 TB of facts it is the difference
  * between a scan-speed pipeline and the biggest exchange in the job.
  *
  * This operator is the missing physical strategy: build a per-key
  * time-sorted index of the dimension rows on the driver, broadcast it,
  * and resolve every fact row with a binary search inside a narrow
  * `mapPartitions` — zero shuffles, zero sorts, fact side streams
  * through untouched. Exactly the shape of Spark's own
  * BroadcastHashJoinExec, with the hash probe replaced by a
  * floor-lookup. Registered through the full public extension stack
  * (logical node → SparkStrategy → BinaryExecNode) via
  * [[graft.functions.GraftExtensions]], so `AsofJoin.broadcastAsof`
  * results plan and optimize like any built-in operator.
  *
  * Semantics (tie-exact with the window rendering, same DuckDB oracle):
  * match the dimension row with the greatest (time, seq) that is
  * lexicographically <= the fact row's (time, seq); seq is the unique
  * tiebreak both sides (event_id here), so results are deterministic
  * under any partitioning. No match → null payload columns.
  */
object AsofJoin {

  /** Build the as-of joined frame. `payload` maps dimension column →
    * output column name. Key/time/seq columns must be broadcast-narrow
    * types (key any equatable type; time TIMESTAMP or BIGINT; seq
    * BIGINT). The dimension frame must fit on the driver — same
    * contract as `broadcast()`; use the window rendering when it
    * doesn't. */
  def broadcastAsof(fact: DataFrame, dim: DataFrame, key: String,
      factTime: String, factSeq: String, dimTime: String, dimSeq: String,
      payload: Seq[(String, String)]): DataFrame = {
    // Re-alias every column on both sides so the attribute ids this node
    // stores are fresh and DISJOINT. fact and dim usually derive from the
    // same scan (self-as-of), which gives both subtrees identical
    // exprIds; the analyzer's DeduplicateRelations would then rewrite one
    // subtree's ids out from under the references stored here (the
    // self-join ambiguity `df("col")` solves at the DataFrame level).
    def fresh(df: DataFrame): LogicalPlan =
      df.select(df.columns.toIndexedSeq.map(c => df(c).as(c)): _*)
        .queryExecution.analyzed
    val lplan = fresh(fact)
    val rplan = fresh(dim)
    def attr(p: LogicalPlan, n: String): Attribute =
      p.output.find(_.name == n).getOrElse(
        throw new IllegalArgumentException(
          s"column $n not in [${p.output.map(_.name).mkString(", ")}]"))
    val payloadAttrs = payload.map { case (c, _) => attr(rplan, c) }
    val outAttrs = payload.map { case (c, out) =>
      AttributeReference(out, attr(rplan, c).dataType, nullable = true)()
    }
    shims.ofRows(fact.sparkSession, AsofJoinNode(
      lplan, rplan,
      attr(lplan, key), attr(rplan, key),
      attr(lplan, factTime), attr(lplan, factSeq),
      attr(rplan, dimTime), attr(rplan, dimSeq),
      payloadAttrs, outAttrs))
  }

  private[plans] def timeOrdinal(attrs: Seq[Attribute], a: Attribute): Int = {
    val i = attrs.indexWhere(_.exprId == a.exprId)
    require(i >= 0, s"attribute $a missing from child output")
    require(a.dataType == TimestampType || a.dataType == LongType,
      s"as-of time/seq column ${a.name} must be TIMESTAMP or BIGINT, got ${a.dataType}")
    i
  }

  private[plans] def ordinal(attrs: Seq[Attribute], a: Attribute): Int = {
    val i = attrs.indexWhere(_.exprId == a.exprId)
    require(i >= 0, s"attribute $a missing from child output")
    i
  }
}

/** Logical node: carries resolved child plans and attribute references;
  * `producedAttributes` marks the payload output columns this operator
  * invents so CheckAnalysis accepts the plan. */
case class AsofJoinNode(
    left: LogicalPlan, right: LogicalPlan,
    leftKey: Attribute, rightKey: Attribute,
    leftTime: Attribute, leftSeq: Attribute,
    rightTime: Attribute, rightSeq: Attribute,
    payload: Seq[Attribute], outAttrs: Seq[Attribute])
  extends BinaryNode {
  override def output: Seq[Attribute] = left.output ++ outAttrs
  override def producedAttributes: AttributeSet = AttributeSet(outAttrs)
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsofJoinNode =
    copy(left = newLeft, right = newRight)
}

/** Planner strategy: one physical candidate, the broadcast-build exec. */
object AsofJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsofJoinNode(l, r, lk, rk, lt, ls, rt, rs, payload, outAttrs) =>
      AsofJoinExec(planLater(l), planLater(r),
        lk, rk, lt, ls, rt, rs, payload, outAttrs) :: Nil
    case _ => Nil
  }
}

/** Physical operator: driver-side per-key sorted index of the dimension
  * rows, broadcast; fact partitions probe by binary search. No exchange,
  * no sort, no codegen break on the fact side beyond the one
  * mapPartitions boundary. */
case class AsofJoinExec(
    left: SparkPlan, right: SparkPlan,
    leftKey: Attribute, rightKey: Attribute,
    leftTime: Attribute, leftSeq: Attribute,
    rightTime: Attribute, rightSeq: Attribute,
    payload: Seq[Attribute], outAttrs: Seq[Attribute])
  extends BinaryExecNode {

  override def output: Seq[Attribute] = left.output ++ outAttrs
  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsofJoinExec =
    copy(left = newLeft, right = newRight)

  // The fact side streams through untouched, so its partitioning and
  // ordering survive — advertising them lets downstream operators skip
  // exchanges/sorts this node never disturbed (ADVICE r3).
  override def outputPartitioning: Partitioning = left.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = left.outputOrdering

  /** Per-key index: times/seqs sorted lexicographically, payload row per
    * entry (values pre-extracted, so probe-side work is pure lookup). */
  private type Index = Map[Any, (Array[Long], Array[Long], Array[Array[Any]])]

  /** Driver-side build cap — the fail-fast BroadcastExchange enforces via
    * maxBroadcastTableBytes/maxBroadcastRows; without it a mistakenly
    * large dimension silently OOMs the driver (ADVICE r3). */
  private def maxBuildRows: Long =
    conf.getConfString("spark.graft.asof.maxBuildRows", "10000000").toLong

  /** Built once per plan instance and reused across doExecute() calls —
    * re-collecting and re-broadcasting the dimension on every execution
    * (e.g. a reused DataFrame actioned twice) is pure waste. */
  @transient private lazy val indexBroadcast = {
    val rOut = right.output
    val rKey = AsofJoin.ordinal(rOut, rightKey)
    val rKeyDt = rightKey.dataType
    val rTime = AsofJoin.timeOrdinal(rOut, rightTime)
    val rSeq = AsofJoin.timeOrdinal(rOut, rightSeq)
    val pOrds: Array[(Int, DataType)] =
      payload.map(p => (AsofJoin.ordinal(rOut, p), p.dataType)).toArray

    val cap = maxBuildRows
    // executeTake(cap + 1) bounds what ever reaches the driver: an
    // over-limit dimension fails fast with a sizing error instead of
    // materializing fully and OOMing during executeCollect.
    val rows = right.executeTake(
      math.min(cap + 1, Int.MaxValue.toLong).toInt)
    if (rows.length > cap) {
      throw new IllegalStateException(
        s"as-of join build side exceeds spark.graft.asof.maxBuildRows=$cap; " +
          "use the window rendering (TimeSeries.asofLatestClick shape) for " +
          "non-broadcastable dimensions")
    }
    val grouped = mutable.HashMap.empty[Any, mutable.ArrayBuffer[(Long, Long, Array[Any])]]
    rows.foreach { row =>
      if (!row.isNullAt(rKey) && !row.isNullAt(rTime) && !row.isNullAt(rSeq)) {
        val vals = pOrds.map { case (o, dt) =>
          if (row.isNullAt(o)) null else InternalRow.copyValue(row.get(o, dt))
        }
        grouped.getOrElseUpdate(InternalRow.copyValue(row.get(rKey, rKeyDt)),
            mutable.ArrayBuffer.empty) += ((row.getLong(rTime), row.getLong(rSeq), vals))
      }
    }
    val index: Index = grouped.view.mapValues { buf =>
      val sorted = buf.sortBy(e => (e._1, e._2)).toArray
      (sorted.map(_._1), sorted.map(_._2), sorted.map(_._3))
    }.toMap
    sparkContext.broadcast(index)
  }

  protected override def doExecute(): RDD[InternalRow] = {
    val bc = indexBroadcast

    val lOut = left.output
    val lKey = AsofJoin.ordinal(lOut, leftKey)
    val lKeyDt = leftKey.dataType
    val lTime = AsofJoin.timeOrdinal(lOut, leftTime)
    val lSeq = AsofJoin.timeOrdinal(lOut, leftSeq)
    val nPayload = outAttrs.length
    val outputAttrs = output

    left.execute().mapPartitions { iter =>
      val idx = bc.value
      val joiner = new JoinedRow
      val nullRow = new GenericInternalRow(nPayload)
      val proj = UnsafeProjection.create(outputAttrs, outputAttrs)
      iter.map { lrow =>
        val payloadRow: InternalRow =
          if (lrow.isNullAt(lKey) || lrow.isNullAt(lTime) || lrow.isNullAt(lSeq)) nullRow
          else idx.get(InternalRow.copyValue(lrow.get(lKey, lKeyDt))) match {
            case None => nullRow
            case Some((times, seqs, vals)) =>
              val lt = lrow.getLong(lTime)
              val ls = lrow.getLong(lSeq)
              // rightmost entry with (time, seq) <= (lt, ls)
              var lo = 0
              var hi = times.length - 1
              var found = -1
              while (lo <= hi) {
                val mid = (lo + hi) >>> 1
                val le = times(mid) < lt || (times(mid) == lt && seqs(mid) <= ls)
                if (le) { found = mid; lo = mid + 1 } else hi = mid - 1
              }
              if (found < 0) nullRow else new GenericInternalRow(vals(found))
          }
        proj(joiner(lrow, payloadRow))
      }
    }
  }
}
