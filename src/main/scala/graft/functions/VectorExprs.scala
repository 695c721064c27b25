package graft.functions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.functions.{floor, transform}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Custom Catalyst expression for the similarity hot path.
  *
  * Spark's array higher-order functions (`zip_with` + `aggregate`) evaluate
  * their lambdas through an interpreted-closure boundary per element, which
  * dominates the n² pair loops of the near-dup/top-k operators. The exact
  * integer dot product over floor-quantized vectors is a tight primitive
  * loop, so this is the one place the built-ins genuinely can't express the
  * performance (SURVEY.md §7.4): a BinaryExpression whose `doGenCode`
  * emits a plain Java for-loop over the two long arrays, staying fully
  * inside whole-stage codegen.
  *
  * Semantics are identical to `aggregate(zip_with(a, b, _ * _), 0L, _ + _)`
  * — exact 64-bit sums, so DuckDB-oracle hashes are unchanged (asserted by
  * OperatorsSpec).
  */
case class DotProductLong(left: Expression, right: Expression)
  extends BinaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "dot_long"

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(LongType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<bigint> arguments, " +
        s"got ${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0L
    var i = 0
    while (i < n) { acc += x.getLong(i) * y.getLong(i); i += 1 }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |${ev.value} = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  ${ev.value} += $a.getLong($i) * $b.getLong($i);
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
    newLeft: Expression, newRight: Expression): DotProductLong =
    copy(left = newLeft, right = newRight)
}

/** Fused cosine similarity over two quantized (long) vectors: ONE loop
  * accumulates the dot product and both squared norms, where the composed
  * form (three [[DotProductLong]] calls) walks each array twice more. The
  * division/sqrt at the end is the same single IEEE expression the
  * composed form produces, so oracle hashes are unchanged (asserted by
  * OperatorsSpec). Used by the pairwise similarity operators, where this
  * loop IS the n·pairs hot path. */
case class CosineSimLong(left: Expression, right: Expression)
  extends BinaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.DoubleType
  override def prettyName: String = "cosine_long"

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(LongType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<bigint> arguments, " +
        s"got ${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0L; var na = 0L; var nb = 0L
    var i = 0
    while (i < n) {
      val xv = x.getLong(i); val yv = y.getLong(i)
      dot += xv * yv; na += xv * xv; nb += yv * yv
      i += 1
    }
    (dot.toDouble) / (math.sqrt(na.toDouble) * math.sqrt(nb.toDouble))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val xv = ctx.freshName("xv")
      val yv = ctx.freshName("yv")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |long $dot = 0L; long $na = 0L; long $nb = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  long $xv = $a.getLong($i); long $yv = $b.getLong($i);
         |  $dot += $xv * $yv; $na += $xv * $xv; $nb += $yv * $yv;
         |}
         |${ev.value} = ((double) $dot)
         |  / (java.lang.Math.sqrt((double) $na) * java.lang.Math.sqrt((double) $nb));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
    newLeft: Expression, newRight: Expression): CosineSimLong =
    copy(left = newLeft, right = newRight)
}

/** Random-hyperplane LSH signature of a quantized (long) vector: bit h is
  * set iff `dot(e, planes(h)) >= 0`. ONE loop over the planes, which the
  * expression holds as a `long[][]` reference object, where the composed
  * form (a sum of one `when(dot(e, typedLit(plane)) >= 0, 1L << h)` term
  * per plane) inlines every plane as a literal array into generated code.
  * Each dot is [[DotProductLong]]'s exact loop (over the shorter length),
  * so the bits are identical; a null vector yields 0, as every composed
  * term falls to its `otherwise(0L)` (asserted by KnnBlockSpec). */
case class SignBits(child: Expression, planes: Seq[Seq[Long]])
  extends UnaryExpression {
  require(planes.size < 64, s"at most 63 planes fit a signature, got ${planes.size}")

  @transient private lazy val planeArr: Array[Array[Long]] =
    planes.map(_.toArray).toArray

  override def dataType: DataType = LongType
  override def nullable: Boolean = false
  override def prettyName: String = "sign_bits"
  override protected def stringArgs: Iterator[Any] =
    Iterator(child, s"${planes.size} planes")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires an array<bigint> argument, got ${other.simpleString}")
  }

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) 0L else {
      val e = v.asInstanceOf[ArrayData]
      var sig = 0L
      var h = 0
      while (h < planeArr.length) {
        val w = planeArr(h)
        val m = math.min(e.numElements(), w.length)
        var d = 0L
        var i = 0
        while (i < m) { d += e.getLong(i) * w(i); i += 1 }
        if (d >= 0) sig |= 1L << h
        h += 1
      }
      sig
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val e = child.genCode(ctx)
    val p = ctx.addReferenceObj("planes", planeArr, "long[][]")
    val h = ctx.freshName("h")
    val i = ctx.freshName("i")
    val m = ctx.freshName("m")
    val d = ctx.freshName("d")
    ev.copy(code = code"""
       |${e.code}
       |long ${ev.value} = 0L;
       |if (!${e.isNull}) {
       |  for (int $h = 0; $h < $p.length; $h++) {
       |    int $m = java.lang.Math.min(${e.value}.numElements(), $p[$h].length);
       |    long $d = 0L;
       |    for (int $i = 0; $i < $m; $i++) {
       |      $d += ${e.value}.getLong($i) * $p[$h][$i];
       |    }
       |    if ($d >= 0L) ${ev.value} |= 1L << $h;
       |  }
       |}
     """.stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): SignBits =
    copy(child = newChild)
}

object VectorExprs {
  /** float[] → exact integer vector (thousandths): the cross-engine
    * quantization every vector query applies before its integer dots. */
  def quantize(e: Column): Column =
    transform(e, x => floor(x.cast("double") * 1000).cast("long"))

  /** DuckDB mirror of [[quantize]] over the `embedding` column. */
  val quantizeSql: String =
    "list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT))"

  /** DuckDB mirror of [[dotLong]] over two quantized list expressions. */
  def dotSql(a: String, b: String): String =
    s"list_reduce(list_transform($a, (x, i) -> x * $b[i]), (p, q) -> p + q)"

  /** DuckDB mirror of [[cosineLong]]: the composed three-dot form. */
  def cosineSql(a: String, b: String): String =
    s"""CAST(${dotSql(a, b)} AS DOUBLE)
       |    / (sqrt(CAST(${dotSql(a, a)} AS DOUBLE))
       |       * sqrt(CAST(${dotSql(b, b)} AS DOUBLE)))""".stripMargin

  /** Column API for [[DotProductLong]]. */
  def dotLong(a: Column, b: Column): Column =
    GraftBridge.column(DotProductLong(
      GraftBridge.expression(a), GraftBridge.expression(b)))

  /** Column API for [[CosineSimLong]]. */
  def cosineLong(a: Column, b: Column): Column =
    GraftBridge.column(CosineSimLong(
      GraftBridge.expression(a), GraftBridge.expression(b)))

  /** Column API for [[SignBits]]. */
  def signBits(e: Column, planes: Seq[Seq[Long]]): Column =
    GraftBridge.column(SignBits(GraftBridge.expression(e), planes))

  /** Column API for [[KnnBlockProfile]]. */
  def knnBlockProfile(block: Column, k: Int): Column =
    GraftBridge.column(KnnBlockProfile(GraftBridge.expression(block), k))
}

/** Optimizer rule: rewrite the hand-composed cosine pattern
  * `dot(a,b)/ (sqrt(dot(a,a)) * sqrt(dot(b,b)))` (all via
  * [[DotProductLong]], cast to double) into the fused single-loop
  * [[CosineSimLong]]. A user who writes the natural three-dot form gets
  * the fused loop automatically — the extend-Catalyst counterpart of
  * "let Catalyst optimize". Registered in [[graft.plans.GraftExtensions]]
  * (config-time) or via GraftBridge.addOptimization (live session).
  * Bit-parity of the rewrite is asserted by OperatorsSpec. */
object CosineFusionRule
  extends org.apache.spark.sql.catalyst.rules.Rule[
    org.apache.spark.sql.catalyst.plans.logical.LogicalPlan] {
  import org.apache.spark.sql.catalyst.expressions.{Cast, Divide, Multiply, Sqrt}
  import org.apache.spark.sql.types.DoubleType

  override def apply(
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    plan.transformAllExpressions {
      case Divide(
            Cast(DotProductLong(a, b), DoubleType, _, _),
            Multiply(
              Sqrt(Cast(DotProductLong(a2, a3), DoubleType, _, _)),
              Sqrt(Cast(DotProductLong(b2, b3), DoubleType, _, _)), _),
            _)
          if a2.semanticEquals(a) && a3.semanticEquals(a) &&
            b2.semanticEquals(b) && b3.semanticEquals(b) =>
        CosineSimLong(a, b)
    }
}
