package graft.functions

import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf
import org.apache.spark.sql.Encoder

/** A4's newest-N ring buffer as a typed Aggregator (SURVEY.md §2.10) —
  * the reference keeps bounded newest-first lists in memory
  * (`CdcMonitoringService.java:41-47,159-171`); this is the same bound
  * as a single distributed aggregation: each partial buffer holds at
  * most N entries, so merge cost is O(N) regardless of input size.
  */
object RingBuffer {

  /** Aggregator keeping the N newest (sortKey, id) pairs, emitting ids
    * newest-first (ties broken by larger id first).
    */
  final class NewestN(n: Int)
      extends Aggregator[(Long, Long), Seq[(Long, Long)], Seq[Long]] {
    private def prune(b: Seq[(Long, Long)]): Seq[(Long, Long)] =
      b.sortBy(x => (-x._1, -x._2)).take(n)
    override def zero: Seq[(Long, Long)] = Nil
    override def reduce(b: Seq[(Long, Long)], a: (Long, Long)): Seq[(Long, Long)] =
      prune(a +: b)
    override def merge(x: Seq[(Long, Long)], y: Seq[(Long, Long)]): Seq[(Long, Long)] =
      prune(x ++ y)
    override def finish(r: Seq[(Long, Long)]): Seq[Long] = r.map(_._2)
    override def bufferEncoder: Encoder[Seq[(Long, Long)]] =
      ExpressionEncoder[Seq[(Long, Long)]]()
    override def outputEncoder: Encoder[Seq[Long]] = ExpressionEncoder[Seq[Long]]()
  }

  /** Column-API form: `newest_n(3)(unix_micros($"ts"), $"event_id")`. */
  def newestN(n: Int): org.apache.spark.sql.expressions.UserDefinedFunction =
    udaf(new NewestN(n))
}
