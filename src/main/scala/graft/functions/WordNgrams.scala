package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, Generator}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native GENERATOR expression (Spark's UDTF extension point — the
  * `explode`/`posexplode` family): emit one `(pos, ngram)` row per word
  * n-gram of a text column.
  *
  * Why a generator and not `explode(transform(...))`: the composed form
  * materializes the full n-gram ARRAY per row before the generator runs
  * — for a 10k-token document with n=3 that is a ~30k-entry array held
  * in the row buffer purely to be torn apart again. A Generator streams
  * the n-grams out one at a time with O(1) extra state, the same reason
  * built-in `explode` is a generator and not an array function. Token
  * semantics are exactly `split(text, ' ')` (limit -1), so composed
  * renderings and DuckDB oracles agree bit-for-bit.
  *
  * Registered SQL-side as `word_ngrams(text, n)` by
  * [[GraftExtensions]]; Column-side via
  * [[GraftFunctions.wordNgrams]]. n must be a foldable positive int.
  */
case class WordNgrams(child: Expression, n: Expression)
    extends Generator with CodegenFallback {

  override def children: Seq[Expression] = Seq(child, n)

  override def checkInputDataTypes(): TypeCheckResult =
    (child.dataType, n.dataType) match {
      case (StringType, IntegerType) if n.foldable =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        "word_ngrams expects (STRING, foldable INT)")
    }

  @transient private lazy val nVal: Int = {
    val v = n.eval(null).asInstanceOf[Int]
    require(v >= 1, s"word_ngrams n must be >= 1, got $v")
    v
  }

  override def elementSchema: StructType = StructType(Seq(
    StructField("pos", IntegerType, nullable = false),
    StructField("ngram", StringType, nullable = false)))

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val text = child.eval(input).asInstanceOf[UTF8String]
    if (text == null) Iterator.empty
    else {
      // exactly split(text, ' ', -1): empty segments are tokens
      val words = text.split(UTF8String.fromString(" "), -1)
      val last = words.length - nVal
      if (last < 0) Iterator.empty
      else (0 to last).iterator.map { i =>
        val parts = new Array[UTF8String](nVal)
        var j = 0
        while (j < nVal) { parts(j) = words(i + j); j += 1 }
        val row = new GenericInternalRow(2)
        row.setInt(0, i)
        row.update(1, UTF8String.concatWs(UTF8String.fromString(" "), parts: _*))
        row
      }
    }
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): WordNgrams =
    copy(child = newChildren(0), n = newChildren(1))

  override def prettyName: String = "word_ngrams"
}
