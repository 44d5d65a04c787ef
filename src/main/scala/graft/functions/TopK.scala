package graft.functions

import org.apache.spark.sql.Encoder
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator

/** Bounded top-k typed aggregator: keeps the k (score, id) pairs with the
  * highest score (ties → lowest id), as a custom `Aggregator` — the
  * Spark-native way to make top-k-per-group shuffle O(k·groups) instead
  * of sorting every candidate row through a window:
  * partial aggregation trims each map partition's buffer to k BEFORE the
  * exchange, so a 1B-row candidate set with 1000 queries and k=10
  * shuffles 10k rows, not 1B.
  *
  * Buffer is a descending-sorted Seq — merge is a bounded merge-sort
  * step; both reduce and merge are O(k).
  */
class TopKByScore(k: Int) extends Aggregator[(Long, Double), Seq[(Double, Long)], Seq[(Long, Double)]] {

  private def better(a: (Double, Long), b: (Double, Long)): Boolean =
    a._1 > b._1 || (a._1 == b._1 && a._2 < b._2)

  override def zero: Seq[(Double, Long)] = Seq.empty

  override def reduce(buf: Seq[(Double, Long)], in: (Long, Double)): Seq[(Double, Long)] =
    insert(buf, (in._2, in._1))

  private def insert(buf: Seq[(Double, Long)], item: (Double, Long)): Seq[(Double, Long)] = {
    if (buf.size >= k && !better(item, buf.last)) buf
    else {
      val (hi, lo) = buf.span(better(_, item))
      (hi ++ (item +: lo)).take(k)
    }
  }

  override def merge(a: Seq[(Double, Long)], b: Seq[(Double, Long)]): Seq[(Double, Long)] =
    b.foldLeft(a)(insert)

  override def finish(buf: Seq[(Double, Long)]): Seq[(Long, Double)] =
    buf.map { case (score, id) => (id, score) }

  override def bufferEncoder: Encoder[Seq[(Double, Long)]] = ExpressionEncoder()
  override def outputEncoder: Encoder[Seq[(Long, Double)]] = ExpressionEncoder()
}
