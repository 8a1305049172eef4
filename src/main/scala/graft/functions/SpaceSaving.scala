package graft.functions

import org.apache.spark.sql.Encoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions

/** SpaceSaving (Metwally et al.) heavy-hitters sketch as a typed
  * `Aggregator`: tracks at most [[SpaceSaving.capacity]] counters and
  * returns each kept item with (count_lower_bound, max_error). The
  * frequent-items aggregate whose state is O(k) no matter how many
  * distinct values flow through — the replacement for exact value
  * counts when the value domain is unbounded (URLs, user agents, query
  * strings) at 100 TB.
  *
  * Guarantees (standard SpaceSaving):
  *  - any item with true count > N/k is IN the sketch (no false
  *    dismissals above the threshold);
  *  - for every kept item, lower = observed - error <= true <= observed.
  *
  * The merge is the counter-wise union with offset compensation — the
  * result depends on merge ORDER (like every mergeable sketch), so the
  * aggregate is registered rows-only / spec-bounded, never
  * hash-compared against an oracle (same policy as `q_sketches`). The
  * buffer is a Map[String, (Long, Long)] of (count, error), bounded at
  * k entries — partial aggregation moves O(k) state per task. */
object SpaceSaving extends Aggregator[String, Map[String, (Long, Long)], Map[String, Long]] {

  /** Max tracked counters (k). Items with true count > N/k are
    * guaranteed kept. */
  val capacity = 16

  override def zero: Map[String, (Long, Long)] = Map.empty

  override def reduce(buf: Map[String, (Long, Long)], item: String): Map[String, (Long, Long)] = {
    if (item == null) return buf
    buf.get(item) match {
      case Some((c, e)) => buf.updated(item, (c + 1, e))
      case None if buf.size < capacity => buf.updated(item, (1L, 0L))
      case None =>
        // evict the minimum counter; the newcomer inherits its count as
        // error (the SpaceSaving overestimate-compensation trick)
        val (minK, (minC, _)) = buf.minBy { case (k, (c, _)) => (c, k) }
        (buf - minK).updated(item, (minC + 1, minC))
    }
  }

  override def merge(a: Map[String, (Long, Long)], b: Map[String, (Long, Long)]): Map[String, (Long, Long)] = {
    // counter-wise sum where present in both; an item present in only
    // one side could have occurred up to the other side's min counter
    // times unseen — fold that into its error bound
    def minCount(m: Map[String, (Long, Long)]): Long =
      if (m.size < capacity) 0L else m.values.map(_._1).min
    val aMin = minCount(a); val bMin = minCount(b)
    val all = (a.keySet ++ b.keySet).map { k =>
      val (ac, ae) = a.getOrElse(k, (bMin, bMin))
      val (bc, be) = b.getOrElse(k, (aMin, aMin))
      k -> (ac + bc, ae + be)
    }.toMap
    // keep the k largest counters, deterministic (count desc, key asc)
    all.toSeq.sortBy { case (k, (c, _)) => (-c, k) }.take(capacity).toMap
  }

  override def finish(r: Map[String, (Long, Long)]): Map[String, Long] =
    // expose the LOWER BOUND (count - error): never overcounts, and the
    // guaranteed-heavy items survive with positive bounds
    r.map { case (k, (c, e)) => k -> (c - e) }

  override def bufferEncoder: Encoder[Map[String, (Long, Long)]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Map[String, (Long, Long)]]()
  override def outputEncoder: Encoder[Map[String, Long]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Map[String, Long]]()

  /** The registrable/applicable UDAF column function. */
  lazy val udaf: org.apache.spark.sql.expressions.UserDefinedFunction =
    functions.udaf(SpaceSaving)
}
