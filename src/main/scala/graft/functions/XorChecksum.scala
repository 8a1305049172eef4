package graft.functions

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions

/** Typed UDAF (the `Aggregator[IN, BUF, OUT]` extension point): a 64-bit
  * XOR checksum over a long column — the content-audit aggregate a
  * pipeline runs on both sides of a copy/export to prove row-set equality
  * without sorting anything.
  *
  * XOR is commutative and associative with a zero identity, so the result
  * is independent of partitioning, task order, and retries — the ONLY
  * kind of float-free state a custom aggregate should carry at 100 TB
  * (any order-sensitive buffer silently diverges between runs). The
  * buffer is a single long: partial aggregation (map-side combine) moves
  * 8 bytes per partition per group.
  *
  * Usage: [[GraftFunctions.xorChecksum]] (Column API, no registration) or
  * SQL `xor_checksum(col)` after [[GraftFunctions.register]].
  */
object XorChecksum extends Aggregator[java.lang.Long, Long, Long] {
  override def zero: Long = 0L
  // null inputs contribute the identity, matching SQL aggregate semantics
  // (bit_xor ignores NULLs rather than nulling the whole group)
  override def reduce(buf: Long, a: java.lang.Long): Long =
    if (a == null) buf else buf ^ a.longValue()
  override def merge(a: Long, b: Long): Long = a ^ b
  override def finish(r: Long): Long = r
  override def bufferEncoder: Encoder[Long] = Encoders.scalaLong
  override def outputEncoder: Encoder[Long] = Encoders.scalaLong

  /** The registrable/applicable UDAF column function. */
  lazy val udaf: org.apache.spark.sql.expressions.UserDefinedFunction =
    functions.udaf(XorChecksum)
}
