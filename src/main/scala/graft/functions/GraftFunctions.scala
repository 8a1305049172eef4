package graft.functions

import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.graft.shims

/** Registration surface for graft's native expressions.
  *
  * Two entry points, both public-Spark:
  *  - `GraftExtensions` injects the native functions, the optimizer rule
  *    and the planner strategy. `GraftSession.builder` installs it, and a
  *    cluster deploy sets `spark.sql.extensions=graft.functions.GraftExtensions`
  *    so that every session created from the conf has them, SQL-only
  *    clients included;
  *  - [[GraftFunctions.register]] adds the UDAFs to an existing session,
  *    which extensions cannot do (`GraftSession.local` calls it).
  *
  * Plus a typed Column API ([[GraftFunctions.cosineSim]]) that needs no
  * registration at all.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.descriptors.foreach(ext.injectFunction)
    ext.injectOptimizerRule(_ => SelfCosineRule)
    ext.injectPlannerStrategy(_ => graft.plans.AsofJoinStrategy)
  }
}

object GraftFunctions {

  /** The native SQL functions, one (name, info, builder) each, that
    * [[GraftExtensions]] injects. */
  private[functions] val descriptors
      : Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("cosine_sim"),
      new ExpressionInfo(classOf[CosineSimilarity].getName, "cosine_sim"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "cosine_sim expects exactly 2 arguments")
        CosineSimilarity(children.head, children(1))
      }),
    (FunctionIdentifier("word_ngrams"),
      new ExpressionInfo(classOf[WordNgrams].getName, "word_ngrams"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "word_ngrams expects exactly 2 arguments")
        WordNgrams(children.head, children(1))
      }),
    (FunctionIdentifier("nfc_normalize"),
      new ExpressionInfo(classOf[NfcNormalize].getName, "nfc_normalize"),
      (children: Seq[Expression]) => {
        require(children.length == 1, "nfc_normalize expects exactly 1 argument")
        NfcNormalize(children.head)
      }),
    (FunctionIdentifier("bitmap_positions"),
      new ExpressionInfo(classOf[BitmapPositions].getName, "bitmap_positions"),
      (children: Seq[Expression]) => {
        require(children.length == 1, "bitmap_positions expects exactly 1 argument")
        BitmapPositions(children.head)
      }),
    (FunctionIdentifier("bitmap_and_not"),
      new ExpressionInfo(classOf[BitmapAndNot].getName, "bitmap_and_not"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "bitmap_and_not expects exactly 2 arguments")
        BitmapAndNot(children.head, children(1))
      }),
    (FunctionIdentifier("jaro_winkler"),
      new ExpressionInfo(classOf[JaroWinklerSim].getName, "jaro_winkler"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "jaro_winkler expects exactly 2 arguments")
        JaroWinklerSim(children.head, children(1))
      }),
    (FunctionIdentifier("sorted_intersect_count"),
      new ExpressionInfo(classOf[SortedIntersectCount].getName, null,
        "sorted_intersect_count",
        "_FUNC_(a, b) - Count of the distinct common elements of two " +
          "SORTED ARRAY<BIGINT> columns via a two-pointer merge scan. " +
          s"Contract: ${SortedIntersect.contract}.",
        "", // arguments
        "\n    Examples:\n      > SELECT _FUNC_(sort_array(a), sort_array(b)) FROM t;\n       1\n  ",
        "", "array_funcs", "", "", "built-in"),
      (children: Seq[Expression]) => {
        require(children.length == 2,
          "sorted_intersect_count expects exactly 2 arguments")
        SortedIntersectCount(children.head, children(1))
      }),
    (FunctionIdentifier("sorted_intersect"),
      new ExpressionInfo(classOf[SortedIntersect].getName, null,
        "sorted_intersect",
        "_FUNC_(a, b) - Ascending distinct intersection of two SORTED " +
          "ARRAY<BIGINT> columns via a two-pointer merge scan. " +
          s"Contract: ${SortedIntersect.contract}.",
        "", // arguments
        "\n    Examples:\n      > SELECT _FUNC_(sort_array(a), sort_array(b)) FROM t;\n       [2]\n  ",
        "", "array_funcs", "", "", "built-in"),
      (children: Seq[Expression]) => {
        require(children.length == 2,
          "sorted_intersect expects exactly 2 arguments")
        SortedIntersect(children.head, children(1))
      }))

  /** Register the UDAFs (`xor_checksum`, `space_saving`,
    * `quantile_sketch`) in an existing session (idempotent). UDAFs have
    * no SparkSessionExtensions injection point, so they are registered
    * only here, not by GraftExtensions. */
  def register(spark: SparkSession): Unit = {
    spark.udf.register("xor_checksum", XorChecksum.udaf)
    spark.udf.register("space_saving", SpaceSaving.udaf)
    spark.udf.register("quantile_sketch", QuantileSketch.udaf)
  }

  /** Column-API form: `df.select(cosineSim($"a", $"b"))` — no registry. */
  def cosineSim(a: Column, b: Column): Column =
    shims.column(CosineSimilarity(shims.expression(a), shims.expression(b)))

  /** Fused float-vector dot product ([[DotProduct]]) — pair-loop half of
    * the hoisted-norm cosine identity. */
  def dotProduct(a: Column, b: Column): Column =
    shims.column(DotProduct(shims.expression(a), shims.expression(b)))

  /** L2 norm ([[L2Norm]]); null on zero-norm/null input. */
  def l2Norm(a: Column): Column = shims.column(L2Norm(shims.expression(a)))

  /** Column-API form of [[NfcNormalize]] — Unicode NFC normalization. */
  def nfcNormalize(c: Column): Column =
    shims.column(NfcNormalize(shims.expression(c)))

  /** Column-API form of [[BitmapPositions]]: the set bit positions of a
    * `bitmap_construct_agg`/`bitmap_or_agg` bitmap, sorted ascending. */
  def bitmapPositions(c: Column): Column =
    shims.column(BitmapPositions(shims.expression(c)))

  /** Column-API form of [[BitmapAndNot]]: bitmap set difference. */
  def bitmapAndNot(a: Column, b: Column): Column =
    shims.column(BitmapAndNot(shims.expression(a), shims.expression(b)))

  /** |a ∩ b| of two SORTED ascending `ARRAY<BIGINT>` — the zero-
    * allocation merge-scan replacement for
    * `size(array_intersect(a, b))` on pre-sorted adjacency arrays. */
  def sortedIntersectCount(a: Column, b: Column): Column =
    shims.column(SortedIntersectCount(shims.expression(a), shims.expression(b)))

  /** a ∩ b (ascending, distinct) of two SORTED `ARRAY<BIGINT>`. */
  def sortedIntersect(a: Column, b: Column): Column =
    shims.column(SortedIntersect(shims.expression(a), shims.expression(b)))

  /** Column-API form of [[JaroWinklerSim]] — record-linkage similarity. */
  def jaroWinkler(a: Column, b: Column): Column =
    shims.column(JaroWinklerSim(shims.expression(a), shims.expression(b)))

  /** Column-API form of the [[XorChecksum]] aggregate — no registry. */
  def xorChecksum(c: Column): Column = XorChecksum.udaf(c)

  /** Column-API form of the [[WordNgrams]] generator (UDTF): emits
    * (pos, ngram) rows, used like `explode`. */
  def wordNgrams(text: Column, n: Int): Column =
    shims.column(WordNgrams(shims.expression(text),
      org.apache.spark.sql.catalyst.expressions.Literal(n)))

  /** Column-API form of [[TokenStats]]: one-pass token statistics struct.
    * Not SQL-registered (the stopword list is a constructor argument, not
    * an expression child). */
  def tokenStats(text: Column, stopwords: Seq[String], shortLen: Int = 4): Column =
    shims.column(TokenStats(shims.expression(text), stopwords, shortLen))
}
