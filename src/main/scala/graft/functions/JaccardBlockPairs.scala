package graft.functions

import scala.collection.mutable

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Character-n-gram Jaccard pairs of ONE source block, computed where the
  * block sits: the input is the block's `array<struct<doc_id: bigint,
  * text: string>>` (a `collect_list` per source), the output is
  * `array<struct<doc_a, doc_b, inter, na, nb>>`, one element per pair
  * `doc_a < doc_b` whose rare-gram sets have Jaccard ≥ 0.5.
  *
  * It is the exact result of the gram explode + df aggregate + rare-gram
  * semi join + size window + pair join + pair aggregate it replaces,
  * without turning a gram or a pair into a row:
  *  - each document's grams are its DISTINCT n-byte windows packed
  *    big-endian into a long ([[gramKeys]]), which is injective for
  *    n ≤ 8: two distinct grams never merge;
  *  - a gram's df is the number of the block's documents holding it; a
  *    document keeps its rare grams (df ≤ `maxDf`), and their count is
  *    its size;
  *  - a pair is counted only inside the exact 2:1 size bound (see
  *    [[overlaps]]), and kept when `inter / (na + nb − inter) ≥ 0.5`;
  *  - a null or shorter-than-n text has no grams; a null doc_id counts
  *    toward df but never pairs. doc_id is assumed unique, as in
  *    `documents`.
  *
  * Memory is O(the block's distinct grams) per call; the work is
  * O(Σ posting² over rare grams), each posting list holding at most
  * `maxDf` documents. Called once per block, so it falls back to
  * interpreted evaluation instead of adding generated code. */
case class JaccardBlockPairs(child: Expression, n: Int, maxDf: Int)
  extends UnaryExpression with CodegenFallback {

  require(n >= 1 && n <= 8, "gram length must fit a packed long (1..8 bytes)")

  override def dataType: DataType =
    ArrayType(JaccardBlockPairs.pairType, containsNull = false)
  override def prettyName: String = "jaccard_block_pairs"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StructType(Array(
        StructField(_, LongType, _, _),
        StructField(_, StringType, _, _))), _) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<struct<bigint, string>>, " +
        s"got ${other.simpleString}")
  }

  override protected def nullSafeEval(input: Any): Any = {
    val blk = input.asInstanceOf[ArrayData]
    val docs = Array.tabulate(blk.numElements()) { i =>
      val r = blk.getStruct(i, 2)
      val id = if (r.isNullAt(0)) None else Some(r.getLong(0))
      val keys =
        if (r.isNullAt(1)) Array.emptyLongArray
        else JaccardBlockPairs.gramKeys(r.getUTF8String(1).getBytes, n)
      (id, keys)
    }
    val out = JaccardBlockPairs.pairs(docs, maxDf).map {
      case (a, b, inter, na, nb) => InternalRow(a, b, inter, na, nb)
    }
    new GenericArrayData(out.toArray[Any])
  }

  override protected def withNewChildInternal(newChild: Expression): JaccardBlockPairs =
    copy(child = newChild)
}

object JaccardBlockPairs {
  /** `(doc_a, doc_b, inter, na, nb)`. */
  type Pair = (Long, Long, Long, Long, Long)

  val pairType: StructType = StructType(
    Seq("doc_a", "doc_b", "inter", "na", "nb")
      .map(StructField(_, LongType, nullable = false)))

  /** The distinct n-byte windows of `bytes`, each packed big-endian into
    * a long, in order of first occurrence. */
  def gramKeys(bytes: Array[Byte], n: Int): Array[Long] = {
    val m = bytes.length - n + 1
    if (m <= 0) return Array.emptyLongArray
    val seen = new java.util.LinkedHashSet[java.lang.Long](m * 2)
    var i = 0
    while (i < m) {
      var k = 0L
      var j = 0
      while (j < n) { k = (k << 8) | (bytes(i + j) & 0xffL); j += 1 }
      seen.add(k)
      i += 1
    }
    val out = new Array[Long](seen.size)
    val it = seen.iterator()
    var p = 0
    while (it.hasNext) { out(p) = it.next(); p += 1 }
    out
  }

  /** The pairs of [[overlaps]] whose Jaccard is ≥ 0.5, equality kept. */
  def pairs(docs: Array[(Option[Long], Array[Long])], maxDf: Int): Seq[Pair] =
    overlaps(docs, maxDf).filter { case (_, _, inter, na, nb) =>
      inter.toDouble / (na + nb - inter) >= 0.5
    }

  /** Every pair `doc_a < doc_b` of the block that shares a rare gram and
    * lies inside the 2:1 size bound, with its rare-gram overlap and both
    * sizes, ordered by (doc_a, doc_b). `docs` holds each document's id
    * and its distinct gram keys.
    *
    * The size bound is EXACT, not a heuristic: |A ∩ B| ≤ min(|A|, |B|)
    * and |A ∪ B| ≥ max(|A|, |B|), so J(A, B) ≤ min/max, and a pair with
    * max > 2·min has J < 0.5 whatever its overlap. Equality is kept — B ⊂
    * A with |A| = 2|B| scores exactly 0.5 — so the bound drops only pairs
    * that verification would reject, before their overlap is counted. */
  def overlaps(docs: Array[(Option[Long], Array[Long])], maxDf: Int): Seq[Pair] = {
    val df = mutable.LongMap.empty[Int]
    docs.foreach(_._2.foreach(g => df.update(g, df.getOrElse(g, 0) + 1)))
    val withId = docs.collect { case (Some(id), gs) => (id, gs) }.sortBy(_._1)
    val ids = withId.map(_._1)
    val rare = withId.map(_._2.filter(df(_) <= maxDf))
    val size = rare.map(_.length)
    // posting lists in doc_id order: each rare gram's document positions
    val postings = mutable.LongMap.empty[mutable.ArrayBuffer[Int]]
    rare.indices.foreach(p => rare(p).foreach(g =>
      postings.getOrElseUpdate(g, mutable.ArrayBuffer.empty[Int]) += p))
    val inter = new Array[Int](ids.length)
    val out = mutable.ArrayBuffer.empty[Pair]
    var a = 0
    while (a < ids.length) {
      val touched = mutable.ArrayBuffer.empty[Int]
      rare(a).foreach { g =>
        postings(g).foreach { b =>
          if (b > a && 2 * size(a) >= size(b) && 2 * size(b) >= size(a)) {
            if (inter(b) == 0) touched += b
            inter(b) += 1
          }
        }
      }
      touched.sortInPlace().foreach { b =>
        out += ((ids(a), ids(b), inter(b).toLong, size(a).toLong, size(b).toLong))
        inter(b) = 0
      }
      a += 1
    }
    out.toSeq
  }
}
