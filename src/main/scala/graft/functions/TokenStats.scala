package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native expression: all whitespace-token statistics of a text column in
  * ONE pass — `struct(n_tokens, n_distinct, n_subwords, n_stopwords,
  * n_short)`.
  *
  * Why a custom expression: the composed form is five lambda expressions
  * over a staged `split(text, ' ')` array (Catalyst has no CSE inside
  * lambda bodies, so without staging it re-tokenizes per lambda; even
  * staged, each statistic walks the array separately and the lambda
  * forest dominates Janino compile time — q_text_stats was the slowest
  * cold query in the suite). Here tokenization happens once and the five
  * counters ride the same loop; generated code is one static call, so
  * whole-stage codegen stays tiny no matter how many stats are added.
  *
  * Token semantics are EXACTLY `split(text, " ")` (limit -1): empty
  * segments between/after consecutive spaces count as tokens, character
  * (not byte) lengths, so results are bit-identical to the lambda form
  * and to DuckDB's `string_split`. Subword rule: `ceil(len/3)` =
  * `floor((len+2)/3)` per token ([[graft.text.TextAnalysis]]).
  */
case class TokenStats(child: Expression, stopwords: Seq[String], shortLen: Int)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"token_stats expects STRING, got ${other.simpleString}")
  }

  override def dataType: DataType = TokenStats.schema

  @transient private lazy val stopSet: java.util.HashSet[UTF8String] =
    TokenStats.buildStopSet(stopwords.toArray)

  override def nullSafeEval(input: Any): Any =
    TokenStats.compute(input.asInstanceOf[UTF8String], stopSet, shortLen)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val stopRef = ctx.addReferenceObj("stopSet", stopSet, "java.util.HashSet")
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = graft.functions.TokenStats.compute($v, $stopRef, $shortLen);")
  }

  override protected def withNewChildInternal(newChild: Expression): TokenStats =
    copy(child = newChild)

  override def prettyName: String = "token_stats"
}

object TokenStats {

  val schema: StructType = StructType(Seq(
    StructField("n_tokens", IntegerType, nullable = false),
    StructField("n_distinct", IntegerType, nullable = false),
    StructField("n_subwords", IntegerType, nullable = false),
    StructField("n_stopwords", IntegerType, nullable = false),
    StructField("n_short", IntegerType, nullable = false)))

  private def buildStopSet(words: Array[String]): java.util.HashSet[UTF8String] = {
    val s = new java.util.HashSet[UTF8String](words.length * 2)
    words.foreach(w => s.add(UTF8String.fromString(w)))
    s
  }

  /** One-pass token statistics; called from both interpreted eval and the
    * generated code (a plain JVM method the JIT optimizes — generated
    * bytecode stays a single call site). */
  def compute(text: UTF8String, stopSet: java.util.HashSet[UTF8String],
      shortLen: Int): InternalRow = {
    val toks = text.split(TokenStats.SPACE, -1)
    val seen = new java.util.HashSet[UTF8String](toks.length * 2)
    var nSub = 0; var nStop = 0; var nShort = 0
    var i = 0
    while (i < toks.length) {
      val t = toks(i)
      val chars = t.numChars()
      nSub += (chars + 2) / 3
      if (stopSet.contains(t)) nStop += 1
      if (chars < shortLen) nShort += 1
      seen.add(t)
      i += 1
    }
    new GenericInternalRow(Array[Any](toks.length, seen.size, nSub, nStop, nShort))
  }

  private val SPACE: UTF8String = UTF8String.fromString(" ")
}
