package graft.functions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

// Per-row text kernels of the dedup, decontamination and curation
// queries. Each is one Catalyst expression with a tight hand-written loop,
// evaluated once per row, so the interpreted boundary is crossed once per
// document, not once per gram or token (the HOF-lambda pitfall this
// codebase avoids everywhere). The character-n-gram Jaccard dedup (q43)
// has no per-row kernel here: JaccardBlockPairs packs and pairs each
// source block's 4-grams in one call, so no gram becomes a row.

/** Unicode NFC normalization as a native Catalyst expression.
  *
  * Spark has no built-in normalizer, and the usual fallback — a Scala
  * `udf()` — breaks whole-stage codegen around every operator that uses
  * it. `java.text.Normalizer` is one static JDK call, so the generated
  * code stays inside the codegen'd stage: the built-ins genuinely can't
  * express it, and the custom expression keeps the pipeline fused. NFC
  * is the canonical composition a text pipeline applies before
  * hashing/dedup — the SAME
  * visible string in composed and decomposed form must dedup together,
  * which is exactly what q157 audits. DuckDB's `nfc_normalize` is the
  * oracle twin. */
case class NfcNormalize(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType
  override def prettyName: String = "nfc_normalize"

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a string argument, got ${other.simpleString}")
    }

  override def nullSafeEval(s: Any): Any =
    UTF8String.fromString(java.text.Normalizer.normalize(
      s.asInstanceOf[UTF8String].toString,
      java.text.Normalizer.Form.NFC))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = org.apache.spark.unsafe.types.UTF8String.fromString(
         |  java.text.Normalizer.normalize($c.toString(),
         |    java.text.Normalizer.Form.NFC));""".stripMargin)

  override protected def withNewChildInternal(newChild: Expression)
      : NfcNormalize = copy(child = newChild)
}

/** The DISTINCT word-n-grams of a string, space-joined, as one array of
  * strings — the word-gram sibling of [[JaccardBlockPairs.gramKeys]],
  * and the fan-out primitive behind the decontamination/novelty/containment
  * family (q167/q174/q181).
  *
  * Semantics are EXACTLY the composed form
  * `array_distinct(transform(sequence(0, size(w)-n),
  * i -> array_join(slice(w, i+1, n), ' ')))` with
  * `w = filter(split(text, " "), length > 0)` — tokenization splits on
  * the single space byte (0x20 never occurs inside a multi-byte UTF-8
  * sequence, so byte scanning is codepoint-safe) and empty runs vanish.
  * Replacing the chain wins twice: the HOF chain crosses the
  * interpreted-lambda boundary once per POSITION and allocates a slice
  * array plus a joined string per position, while this walks the bytes
  * once per document; and per-document dedup happens DURING the scan,
  * so a downstream per-document `.distinct()` exchange (one row per
  * gram position) disappears entirely. One interpreted call per row
  * (CodegenFallback), first-occurrence output order. */
case class DistinctWordGrams(child: Expression, n: Int)
  extends UnaryExpression with CodegenFallback {

  require(n >= 1, "gram length must be positive")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "distinct_word_grams"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string argument, got ${other.simpleString}")
  }

  override def nullSafeEval(input: Any): Any = {
    val bytes = input.asInstanceOf[UTF8String].getBytes
    // token spans: maximal runs of non-space bytes
    var nTok = 0
    var i = 0
    val len = bytes.length
    val starts = new Array[Int](len / 2 + 1)
    val ends = new Array[Int](len / 2 + 1)
    while (i < len) {
      if (bytes(i) != ' ') {
        starts(nTok) = i
        while (i < len && bytes(i) != ' ') i += 1
        ends(nTok) = i
        nTok += 1
      } else i += 1
    }
    val m = nTok - n + 1
    if (m <= 0) return new GenericArrayData(Array.empty[Any])
    val seen = new java.util.LinkedHashSet[UTF8String](m * 2)
    i = 0
    while (i < m) {
      var glen = n - 1
      var j = 0
      while (j < n) { glen += ends(i + j) - starts(i + j); j += 1 }
      val g = new Array[Byte](glen)
      var p = 0
      j = 0
      while (j < n) {
        if (j > 0) { g(p) = ' '; p += 1 }
        val tl = ends(i + j) - starts(i + j)
        System.arraycopy(bytes, starts(i + j), g, p, tl)
        p += tl
        j += 1
      }
      seen.add(UTF8String.fromBytes(g))
      i += 1
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var p = 0
    while (it.hasNext) { out(p) = it.next(); p += 1 }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(
    newChild: Expression): DistinctWordGrams = copy(child = newChild)
}

/** The DISTINCT winnowing fingerprints of a string (Schleimer et al.
  * SIGMOD'03, the q77 MOSS scheme) in ONE per-document evaluation:
  * hash every k-character-gram (md5, first 8 hex digits as a long — the
  * exact `conv(substring(md5(substr(text, i+1, k)), 1, 8), 16, 10)`
  * lattice the composed plan and the DuckDB oracle share), slide a
  * window of w hashes, keep each full window's minimum, dedup.
  *
  * Why an Expression: the composed plan explodes one row per CHARACTER
  * position and then runs a doc-keyed sliding-min window — which costs
  * a corpus×len(text) exchange just to bring each document's gram
  * stream back together. Fingerprint selection is a per-document
  * sequential computation; doing it inside the scan deletes that
  * exchange and the window sort entirely, leaving only the deduped
  * fingerprint rows (a ~w-fold smaller stream) to exit the operator.
  *
  * Grams are CODEPOINT-windows (Spark `substr`/DuckDB `substr`
  * semantics — byte windows would split multi-byte UTF-8); the sliding
  * minimum uses a monotonic deque (O(1) amortized per position); md5
  * dominates, one digest per gram, one interpreted call per row
  * (CodegenFallback). Output is the distinct minima in first-selection
  * order. */
case class WinnowedFingerprints(child: Expression, k: Int, w: Int)
  extends UnaryExpression with CodegenFallback {

  require(k >= 1 && w >= 1, "gram length and window must be positive")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "winnowed_fingerprints"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string argument, got ${other.simpleString}")
  }

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String].toString
    // codepoint start offsets (UTF-16 char indices)
    val n = s.codePointCount(0, s.length)
    if (n < k) return new GenericArrayData(Array.empty[Any])
    val offs = new Array[Int](n + 1)
    var ci = 0
    var cp = 0
    while (cp < n) { offs(cp) = ci; ci = s.offsetByCodePoints(ci, 1); cp += 1 }
    offs(n) = s.length
    val m = n - k + 1 // gram count
    val md = java.security.MessageDigest.getInstance("MD5")
    val hs = new Array[Long](m)
    var i = 0
    while (i < m) {
      val bytes = s.substring(offs(i), offs(i + k)).getBytes("UTF-8")
      val d = md.digest(bytes)
      // first 8 hex digits = first 4 bytes, big-endian, unsigned
      hs(i) = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
        ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
      md.reset()
      i += 1
    }
    if (m < w) return new GenericArrayData(Array.empty[Any])
    // sliding min over windows of w via monotonic deque of indices
    val seen = new java.util.LinkedHashSet[java.lang.Long]()
    val deque = new Array[Int](m)
    var head = 0
    var tail = 0 // [head, tail) holds candidate indices, values increasing
    i = 0
    while (i < m) {
      while (tail > head && hs(deque(tail - 1)) >= hs(i)) tail -= 1
      deque(tail) = i; tail += 1
      if (deque(head) <= i - w) head += 1
      if (i >= w - 1) seen.add(hs(deque(head)))
      i += 1
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var p = 0
    while (it.hasNext) { out(p) = it.next().longValue(); p += 1 }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(
    newChild: Expression): WinnowedFingerprints = copy(child = newChild)
}

object TextExprs {
  /** Column API for [[JaccardBlockPairs]]. */
  def jaccardBlockPairs(block: Column, n: Int, maxDf: Int): Column =
    GraftBridge.column(JaccardBlockPairs(GraftBridge.expression(block), n, maxDf))

  /** Column API for [[NfcNormalize]]. */
  def nfcNormalize(c: Column): Column =
    GraftBridge.column(NfcNormalize(GraftBridge.expression(c)))

  /** Column API for [[DistinctWordGrams]]. */
  def distinctWordGrams(s: Column, n: Int): Column =
    GraftBridge.column(DistinctWordGrams(GraftBridge.expression(s), n))

  /** Column API for [[WinnowedFingerprints]]. */
  def winnowedFingerprints(s: Column, k: Int, w: Int): Column =
    GraftBridge.column(WinnowedFingerprints(GraftBridge.expression(s), k, w))
}
