package graft.functions

import org.apache.spark.sql.Encoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions

/** Count-Min sketch (Cormode-Muthukrishnan) as a typed `Aggregator`:
  * a depth×width grid of counters where row `j` increments cell
  * `h_j(x)`, and a point estimate is the MINIMUM over rows — an
  * overestimate-only frequency summary whose state is O(depth·width)
  * longs no matter how many distinct keys flow through. The
  * frequency-table replacement at 100 TB: additive error ≤ e/width · N
  * per row with failure probability (1/e)^depth over the row choices.
  *
  * Unlike SpaceSaving/KLL, the merge (cell-wise ADD) is commutative and
  * associative with a result INDEPENDENT of merge order — so a CMS
  * query is fully hash-gradeable: an oracle can recompute every cell
  * relationally (group by (row, cell)) and land on identical counters.
  * That makes this the one sketch in the catalog graded cell-exact
  * rather than via contract booleans.
  *
  * Input is a pre-hashed key in [0, [[prime]]): the md5-derived long the
  * repo's seedless hashing discipline already mirrors in DuckDB. The
  * per-row hashes are fixed universal transforms
  * `h_j(x) = ((a_j·x + b_j) mod prime) mod width` — constants public in
  * [[rowA]]/[[rowB]] so oracles replay them digit-for-digit
  * (a_j < 2^31, x < prime < 2^30 ⇒ products < 2^61: no overflow). */
object CountMin extends Aggregator[java.lang.Long, Array[Long], Seq[Long]] {

  val width = 256
  val depth = 4
  /** Modulus for the universal hash family (the repo-standard 1e9+7). */
  val prime = 1000000007L
  /** Per-row multipliers/offsets — classic LCG constants, fixed so both
    * engines compute identical cells. */
  val rowA: Seq[Long] = Seq(1103515245L, 69069L, 214013L, 1664525L)
  val rowB: Seq[Long] = Seq(12345L, 362437L, 2531011L, 1013904223L)

  /** Cell index of key x in row j (0-based within the row). */
  def cell(j: Int, x: Long): Int =
    (((rowA(j) * x + rowB(j)) % prime) % width).toInt

  override def zero: Array[Long] = new Array[Long](depth * width)

  override def reduce(buf: Array[Long], x: java.lang.Long): Array[Long] = {
    if (x == null) return buf
    var j = 0
    while (j < depth) {
      buf(j * width + cell(j, x)) += 1L
      j += 1
    }
    buf
  }

  override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    var i = 0
    while (i < a.length) { a(i) += b(i); i += 1 }
    a
  }

  override def finish(buf: Array[Long]): Seq[Long] = buf.toSeq

  override def bufferEncoder: Encoder[Array[Long]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
  override def outputEncoder: Encoder[Seq[Long]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Long]]()

  lazy val udaf: org.apache.spark.sql.expressions.UserDefinedFunction =
    functions.udaf(CountMin)
}
