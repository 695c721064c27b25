package graft.functions

import org.apache.spark.sql.Encoder
import org.apache.spark.sql.expressions.Aggregator

/** Custom typed [[Aggregator]]: exact per-group top-k by (value DESC,
  * id ASC) with a BOUNDED buffer — the scale-correct per-group top-k.
  * The window-function formulation (`row_number() <= k`) sorts every
  * group's full row set; this aggregator keeps k elements per partial
  * aggregate, combines map-side, and shuffles only k rows per group —
  * O(n log k) work and O(k) state, independent of group size.
  *
  * Buffer is a sorted List (k is small); elements are (value, id) pairs
  * ordered so the head is the WEAKEST kept entry. Registered as a udaf
  * Column function ([[VectorExprs]]-style usage in q81).
  */
class TopKByValue(k: Int)
  extends Aggregator[(Double, Long), List[(Double, Long)], List[(Double, Long)]] {

  private def lt(a: (Double, Long), b: (Double, Long)): Boolean =
    TopKByValue.lt(a._1, a._2, b._1, b._2)

  override def zero: List[(Double, Long)] = Nil

  override def reduce(buf: List[(Double, Long)], in: (Double, Long)): List[(Double, Long)] =
    insert(buf, in)

  override def merge(a: List[(Double, Long)], b: List[(Double, Long)]): List[(Double, Long)] =
    b.foldLeft(a)(insert)

  private def insert(buf: List[(Double, Long)], x: (Double, Long)): List[(Double, Long)] =
    if (buf.size < k) (x :: buf).sortWith(lt)
    else if (lt(x, buf.head) || x == buf.head) buf
    else (x :: buf.tail).sortWith(lt)

  /** strongest first on output: (value DESC, id ASC). */
  override def finish(r: List[(Double, Long)]): List[(Double, Long)] =
    r.sortWith((a, b) => lt(b, a))

  override def bufferEncoder: Encoder[List[(Double, Long)]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[List[(Double, Long)]]()
  override def outputEncoder: Encoder[List[(Double, Long)]] =
    bufferEncoder
}

object TopKByValue {
  /** The keep order shared by every top-k in the engine ([[TopKByValue]],
    * [[KnnBlockProfile]]): `a` is WEAKER than `b` — (value ASC, id DESC),
    * so the strongest entry has the highest value and, among equal
    * values, the smallest id. */
  def lt(av: Double, aid: Long, bv: Double, bid: Long): Boolean =
    av < bv || (av == bv && aid > bid)
}
