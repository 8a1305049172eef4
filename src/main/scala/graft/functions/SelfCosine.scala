package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** cosine_sim(x, x) reduced to its algebraic value: 1.0 when x has any
  * non-zero element, NULL for null or zero-norm input. One early-exit
  * pass instead of three accumulations — see [[SelfCosineRule]]. */
case class SelfCosine(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"self_cosine expects ARRAY<FLOAT>, got ${other.simpleString}")
  }

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    var i = 0
    val n = v.numElements()
    while (i < n) {
      if (!v.isNullAt(i) && v.getFloat(i) != 0.0f) return 1.0
      i += 1
    }
    null
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val i = ctx.freshName("i")
    val found = ctx.freshName("found")
    nullSafeCodeGen(ctx, ev, v => {
      s"""
        |boolean $found = false;
        |for (int $i = 0; $i < $v.numElements() && !$found; $i++) {
        |  if (!$v.isNullAt($i) && $v.getFloat($i) != 0.0f) $found = true;
        |}
        |if ($found) { ${ev.value} = 1.0; } else { ${ev.isNull} = true; }
      """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): SelfCosine =
    copy(child = newChild)

  override def prettyName: String = "self_cosine"
}

/** Optimizer rule: rewrite `cosine_sim(e, e)` (canonically identical,
  * deterministic children) to [[SelfCosine]] — the kind of domain
  * rewrite a dedup pipeline hits constantly when similarity expressions
  * are generated mechanically over pair tables that include the
  * diagonal. Registered via [[GraftExtensions]] (and therefore active in
  * every [[graft.GraftSession]]). */
object SelfCosineRule extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case CosineSimilarity(l, r)
          if l.deterministic && l.canonicalized == r.canonicalized =>
        SelfCosine(l)
    }
}
