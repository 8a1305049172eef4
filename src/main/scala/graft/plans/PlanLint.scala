package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Attribute, ScalaUDF}
import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.execution.window.WindowExec

/** Static plan linter: walks a query's physical plan and flags the
  * shapes that are fine at test scale and fatal at 100 TB — the checks
  * a reviewer runs by eye on `.explain()` output, mechanized so they can
  * gate a pipeline instead of a code review.
  *
  * Every rule is SHAPE-based, never statistics-based: stats at dev scale
  * are always tiny, which would exempt exactly the plans that explode in
  * production. The only exemptions are statically PROVABLE ones — an
  * empty-grouping aggregate emits exactly one row no matter the input,
  * so moving its partial state through a SinglePartition exchange or
  * broadcasting its result into a nested-loop join is size-safe at any
  * scale.
  *
  * Rules (each maps to a scale note elsewhere in this codebase):
  *  - `single-partition-exchange`: all rows funneled to one task — the
  *    global-window / no-PARTITION-BY shape (see `Analytics.decileStats`
  *    vs the clean `decileStatsDistributed` rendering). Findings on
  *    windows over already-aggregated tiny frames (`revenueShareByNation`
  *    style) are advisory: acknowledge, don't suppress.
  *  - `cartesian-product`: shuffled cross join — row count multiplies.
  *  - `nested-loop-join`: `BroadcastNestedLoopJoin` where no side is
  *    provably small — a scalar (no-grouping) aggregate, or a literal
  *    Range/LocalTableScan of ≤128 rows whose bound survives to the
  *    root through unary row-non-increasing nodes. The intentional
  *    all-pairs verifiers (`embeddingNearDup`) trip this — correctly:
  *    they're documented as bounded-input / per-bucket tools.
  *  - `scala-udf`: breaks whole-stage codegen and hides from the
  *    optimizer; a native expression or built-in exists for a reason.
  *  - `low-cardinality-window`: a window partitioned ONLY by columns
  *    whose domain is known-tiny (order status, return flag, …) whose
  *    input is not provably collapsed — each key value is one task
  *    holding that key's ENTIRE input volume, at any scale, yet the
  *    exchange is many-partition so the single-partition rule can't see
  *    it (the shape that hid the weighted-median/Spearman reference
  *    forms). The only exemption is an aggregate below the window whose
  *    own grouping keys are ALL tiny-domain (output provably O(domain
  *    product)); an aggregate keyed by anything wider proves nothing —
  *    groupBy(priority, slope) emits near-fact cardinality (the
  *    q_theilsen 43 s regression that hid behind a blanket
  *    aggregated-below exemption). The fix is
  *    `Distributed.withRunningTotal` — range-partitioned prefix
  *    aggregation at full cluster width (see `Analytics.theilSenTrend`,
  *    `weightedMedianPriceDist`). The domain list is schema knowledge
  *    the caller owns — shape analysis cannot know a column has 3
  *    values — with this codebase's tiny columns as the default.
  *
  * Returns human-readable findings; empty = clean. Run in tests (see
  * PlanLintSpec) or ad hoc before promoting a query to a 1000-executor
  * cluster. */
object PlanLint {

  final case class Finding(rule: String, node: String) {
    override def toString: String = s"[$rule] $node"
  }

  /** One-row-by-construction: the subtree contains an aggregate with no
    * grouping expressions (scalar aggregate), whose output cardinality
    * is exactly 1 regardless of input size. */
  private def provablyOneRow(p: SparkPlan): Boolean =
    p.collectFirst {
      case agg: BaseAggregateExec if agg.groupingExpressions.isEmpty => agg
    }.isDefined

  /** Statically-bounded row count, independent of data: a literal Range
    * or LocalTableScan of ≤ [[smallLeafRows]] rows whose smallness
    * survives to the root because every node on the path is unary and
    * row-non-increasing (Project/Filter/Exchange/Sort/Aggregate/...).
    * Generate (explode) and Expand (rollup grids) multiply rows, so they
    * break the proof — as does any join/union (binary). */
  private val smallLeafRows = 128
  private def smallByConstruction(p: SparkPlan): Boolean = p match {
    case r: org.apache.spark.sql.execution.RangeExec =>
      r.numElements <= smallLeafRows
    case l: org.apache.spark.sql.execution.LocalTableScanExec =>
      l.rows.length <= smallLeafRows
    // a literal LIMIT bounds its output regardless of the child — the
    // top-k frames (nDCG@10, fused top-20) are small by construction
    case g: org.apache.spark.sql.execution.GlobalLimitExec =>
      g.limit <= smallLeafRows
    case g: org.apache.spark.sql.execution.LocalLimitExec =>
      g.limit <= smallLeafRows
    case _: org.apache.spark.sql.execution.GenerateExec => false
    case _: org.apache.spark.sql.execution.ExpandExec => false
    case u if u.children.length == 1 => smallByConstruction(u.children.head)
    case _ => false
  }

  /** Broadcast-safe at any scale: a scalar aggregate (exactly one row)
    * or a literal-bounded frame ([[smallByConstruction]]). */
  private def provablySmall(p: SparkPlan): Boolean =
    provablyOneRow(p) || smallByConstruction(p)

  /** Columns whose value domain is tiny by schema contract (flags,
    * statuses, enumerations) — a window partitioned only by these over
    * unaggregated facts degenerates to one task per value. Schema
    * knowledge, not shape: callers with other schemas pass their own. */
  private val defaultTinyDomainColumns: Set[String] = Set(
    "l_returnflag", "l_linestatus", "l_shipmode", "l_shipinstruct",
    "o_orderstatus", "o_orderpriority", "c_mktsegment", "r_name",
    "p_mfgr", "p_brand", "p_container",
    // l_quantity is an integer 1..50 by TPC-H construction — a 50-value
    // enumeration in disguise; the census-median queries (Levene,
    // Hodges–Lehmann) group on it precisely BECAUSE the domain is tiny
    "l_quantity")

  /** An aggregate below `p` only bounds the window's per-key volume if
    * the aggregate's OWN grouping keys are all tiny-domain (its output
    * is then O(domain product), provably small). An aggregate keyed by
    * anything else can emit near-fact-cardinality output — groupBy
    * (priority, slope) over a pair frame produces ~14M groups (the
    * q_theilsen shape that hid behind the blanket exemption in r5 and
    * cost 43 s as a 5-task sort funnel) — so it proves nothing. Scalar
    * aggregates (no grouping) emit one row: trivially exempt.
    *
    * The aggregate must DOMINATE the window's row-bearing input, not
    * merely appear somewhere in the subtree: a `collectFirst` over the
    * whole child would let a one-row broadcast stats frame on the far
    * side of a `crossJoin(broadcast(agg))` exempt a window whose
    * streamed side is raw facts — reintroducing exactly the funnel
    * class this rule exists to catch. So the search follows only the
    * path(s) that determine output cardinality: through unary nodes;
    * through the STREAMED side of broadcast joins (the broadcast side
    * is size-capped by Spark itself); through the LEFT side of
    * semi/anti joins (output ≤ left); and through BOTH sides of
    * shuffled equi-joins and ALL branches of a union, each of which
    * must independently be dominated (a join of two O(domain)-bounded
    * frames is O(domain²)-bounded — still tiny; a join with one raw
    * side is fact-sized). */
  private def tinyKeyedAggregateDominates(p: SparkPlan, tiny: Set[String]): Boolean = {
    import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight}
    import org.apache.spark.sql.catalyst.plans.{LeftSemi, LeftAnti}
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}
    import org.apache.spark.sql.execution.UnionExec
    def allTinyKeyed(agg: BaseAggregateExec): Boolean =
      agg.groupingExpressions.forall(
        _.collectFirst { case a: Attribute if !tiny.contains(a.name) => a }.isEmpty)
    p match {
      case agg: BaseAggregateExec if allTinyKeyed(agg) => true
      case j: BroadcastHashJoinExec =>
        val streamed = j.buildSide match {
          case BuildLeft => j.right
          case BuildRight => j.left
        }
        tinyKeyedAggregateDominates(streamed, tiny)
      case j: BroadcastNestedLoopJoinExec =>
        val streamed = j.buildSide match {
          case BuildLeft => j.right
          case BuildRight => j.left
        }
        tinyKeyedAggregateDominates(streamed, tiny)
      case j: SortMergeJoinExec if j.joinType == LeftSemi || j.joinType == LeftAnti =>
        tinyKeyedAggregateDominates(j.left, tiny)
      case j: SortMergeJoinExec =>
        tinyKeyedAggregateDominates(j.left, tiny) &&
          tinyKeyedAggregateDominates(j.right, tiny)
      case j: ShuffledHashJoinExec if j.joinType == LeftSemi || j.joinType == LeftAnti =>
        tinyKeyedAggregateDominates(j.left, tiny)
      case j: ShuffledHashJoinExec =>
        tinyKeyedAggregateDominates(j.left, tiny) &&
          tinyKeyedAggregateDominates(j.right, tiny)
      case u: UnionExec =>
        u.children.forall(tinyKeyedAggregateDominates(_, tiny))
      case u if u.children.length == 1 =>
        tinyKeyedAggregateDominates(u.children.head, tiny)
      case _ => false
    }
  }

  def lint(df: DataFrame,
           tinyDomainColumns: Set[String] = defaultTinyDomainColumns): Seq[Finding] = {
    val executed = df.queryExecution.executedPlan
    val plan = executed match {
      case a: AdaptiveSparkPlanExec => a.initialPlan
      case p => p
    }
    val findings = scala.collection.mutable.ArrayBuffer.empty[Finding]
    plan.foreach {
      case ex: ShuffleExchangeExec if ex.outputPartitioning == SinglePartition =>
        // a scalar aggregate's exchange moves one partial-state row per
        // task, not data rows — exempt; everything else funnels
        if (!provablyOneRow(ex.child))
          findings += Finding("single-partition-exchange",
            ex.child.nodeName + " -> Exchange SinglePartition")
      case j: CartesianProductExec =>
        findings += Finding("cartesian-product", j.nodeName)
      case j: BroadcastNestedLoopJoinExec =>
        if (!Seq(j.left, j.right).exists(provablySmall))
          findings += Finding("nested-loop-join",
            s"${j.nodeName} (${j.joinType}) with no provably-small side")
      case w: WindowExec if w.partitionSpec.nonEmpty =>
        // every partition key is a known tiny-domain attribute and the
        // input is raw facts → one task per key value at any scale
        val keyNames = w.partitionSpec.map {
          case a: Attribute => a.name
          case other => other.sql
        }
        if (keyNames.forall(tinyDomainColumns.contains) &&
            !tinyKeyedAggregateDominates(w.child, tinyDomainColumns))
          findings += Finding("low-cardinality-window",
            s"Window partitioned by [${keyNames.mkString(", ")}] over unaggregated input")
      case _ =>
    }
    // UDFs hide in ANY node's expressions (join conditions, exchange
    // keys, filters) — walk them all, not just the fall-through arm
    plan.foreach { p =>
      p.expressions.foreach(_.foreach {
        case u: ScalaUDF =>
          findings += Finding("scala-udf",
            s"${u.udfName.getOrElse("anonymous")} in ${p.nodeName}")
        case _ =>
      })
    }
    findings.distinct.toSeq
  }
}
