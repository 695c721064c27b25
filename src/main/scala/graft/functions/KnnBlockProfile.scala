package graft.functions

import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._

/** Mutual k-NN profile of ONE label block, computed where the block sits:
  * the input is the block's `array<struct<vec_id: bigint, e:
  * array<bigint>>>` (a `collect_list` per label), the output is
  * `(n_vecs, n_directed, n_mutual)`, or null for an edgeless block.
  *
  * It is the exact profile of the pair join + [[TopKByValue]] + edge
  * self-join it replaces, without turning any pair into a row:
  *  - every pair of distinct ids is scored once with the pair join's IEEE
  *    expression `dot.toDouble / (sqrt(n2a) * sqrt(n2b))` (the product
  *    commutes, so both directions read the same double);
  *  - each vector keeps its top `k` through [[TopKByValue]]'s own insert
  *    (one order law: value DESC, id ASC), offered in vec_id order;
  *  - a mutual edge is an id pair `a < b` each in the other's top `k`;
  *  - a block whose vectors have no neighbour emits no row, as the inner
  *    join on the directed-edge count did;
  *  - a zero-norm vector's cosine divides by zero: under ANSI (captured
  *    at construction, as Spark's `Divide` does) it fails with Spark's
  *    DIVIDE_BY_ZERO; otherwise the division's null reached the
  *    aggregator as 0.0, and so it does here.
  *
  * Work is O(block² · dim) and memory O(block · dim) per call. Called
  * once per block, so it falls back to interpreted evaluation instead of
  * adding generated code. */
case class KnnBlockProfile(child: Expression, k: Int,
    failOnError: Boolean = SQLConf.get.ansiEnabled)
  extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = KnnBlockProfile.resultType
  override def nullable: Boolean = true
  override def prettyName: String = "knn_block_profile"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StructType(Array(
        StructField(_, LongType, _, _),
        StructField(_, ArrayType(LongType, _), _, _))), _) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<struct<bigint, array<bigint>>>, " +
        s"got ${other.simpleString}")
  }

  override protected def nullSafeEval(input: Any): Any = {
    val blk = input.asInstanceOf[ArrayData]
    val n = blk.numElements()
    val ids = new Array[Long](n)
    val vecs = new Array[Array[Long]](n)
    var i = 0
    while (i < n) {
      val r = blk.getStruct(i, 2)
      ids(i) = r.getLong(0)
      vecs(i) = r.getArray(1).toLongArray()
      i += 1
    }
    KnnBlockProfile.profile(ids, vecs, k, failOnError) match {
      case Some((nv, nd, nm)) => InternalRow(nv, nd, nm)
      case None => null
    }
  }

  override protected def withNewChildInternal(newChild: Expression): KnnBlockProfile =
    copy(child = newChild)
}

object KnnBlockProfile {
  val resultType: StructType = StructType(Seq(
    StructField("n_vecs", LongType, nullable = false),
    StructField("n_directed", LongType, nullable = false),
    StructField("n_mutual", LongType, nullable = false)))

  private def dot(a: Array[Long], b: Array[Long]): Long = {
    val n = math.min(a.length, b.length)
    var acc = 0L
    var i = 0
    while (i < n) { acc += a(i) * b(i); i += 1 }
    acc
  }

  /** `(n_vecs, n_directed, n_mutual)` of one block, None when it has no
    * edge. `ids` are the block's vec_ids (unique), `vecs` their
    * quantized vectors. */
  def profile(ids: Array[Long], vecs: Array[Array[Long]], k: Int,
      failOnError: Boolean): Option[(Long, Long, Long)] = {
    val n = ids.length
    val order = (0 until n).sortBy(ids(_)).toArray
    val id = order.map(ids(_))
    val v = order.map(vecs(_))
    val sqrtN2 = v.map(x => math.sqrt(dot(x, x).toDouble))
    val agg = new TopKByValue(k)
    val top = Array.fill(n)(agg.zero)
    var i = 0
    while (i < n) {
      var j = i + 1
      while (j < n) {
        if (id(i) != id(j)) {
          val den = sqrtN2(i) * sqrtN2(j)
          val cos =
            if (den != 0.0) dot(v(i), v(j)).toDouble / den
            else if (failOnError) throw GraftBridge.divideByZero()
            else 0.0
          top(i) = agg.reduce(top(i), (cos, id(j)))
          top(j) = agg.reduce(top(j), (cos, id(i)))
        }
        j += 1
      }
      i += 1
    }
    val nDirected = top.map(_.size.toLong).sum
    if (nDirected == 0L) None
    else {
      val kept = id.indices.map(x => id(x) -> top(x).map(_._2).toSet).toMap
      val nMutual = kept.iterator.map { case (src, dsts) =>
        dsts.count(dst => src < dst && kept.get(dst).exists(_.contains(src)))
      }.sum.toLong
      Some((n.toLong, nDirected, nMutual))
    }
  }
}
