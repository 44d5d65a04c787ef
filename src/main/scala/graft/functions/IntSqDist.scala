package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Exact integer squared L2 distance Σ(aᵢ−bᵢ)² of two `array<long>`
  * columns as a native Catalyst expression with codegen — the
  * fixed-point ANN family's [[DotProduct]].
  *
  * The composition `aggregate(zip_with(a, b, (x,y) => (x−y)*(x−y)),
  * 0L, _+_)` is CodegenFallback: every distance evaluation leaves
  * whole-stage codegen, allocates the zipped array, and boxes each
  * element. The integer IVF/PQ paths evaluate it n·nCentroids times
  * per Lloyd round and once per (candidate, codebook entry) in ADC —
  * the coarse-shape bake-off (SCALE.md round 8) measured the float twins
  * of these shapes ~4× faster purely because their distance kernel is
  * codegen'd. This expression is the same primitive-typed loop for the
  * integer side.
  *
  * Numeric parity: exact 64-bit integer arithmetic — no rounding, no
  * order sensitivity — so swapping it for the lambda composition can
  * never change a value the oracle replays (sums bound by
  * dim·(2·2²⁰)² < 2⁴⁹ at the 2²⁰ fixed-point scale, far from
  * overflow).
  *
  * Contract (same null propagation the lambda composition had):
  * mismatched lengths and null elements yield NULL. When both array
  * types are statically `containsNull = false` the per-element null
  * check compiles out.
  */
case class IntSqDist(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = LongType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        TypeCheckResult.TypeCheckFailure(s"int_sq_dist needs two array<long>, got $l, $r")
    }

  private def elementsNullable: Boolean = Seq(left, right).exists(_.dataType match {
    case ArrayType(_, containsNull) => containsNull
    case _ => true
  })

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val (x, y) = (a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    if (x.numElements() != y.numElements()) null
    else if (elementsNullable) IntSqDist.computeOrNull(x, y)
    else IntSqDist.compute(x, y)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      if (elementsNullable)
        s"""
           |java.lang.Long ${ev.value}_r = null;
           |if ($a.numElements() == $b.numElements()) {
           |  ${ev.value}_r = graft.functions.IntSqDist.computeOrNull($a, $b);
           |}
           |if (${ev.value}_r == null) {
           |  ${ev.isNull} = true;
           |} else {
           |  ${ev.value} = ${ev.value}_r.longValue();
           |}
         """.stripMargin
      else
        s"""
           |if ($a.numElements() != $b.numElements()) {
           |  ${ev.isNull} = true;
           |} else {
           |  ${ev.value} = graft.functions.IntSqDist.compute($a, $b);
           |}
         """.stripMargin)

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): IntSqDist =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "int_sq_dist"
}

object IntSqDist {
  /** The kernel — shared by interpreted eval and generated code.
    * PRECONDITION: equal-length arrays. The loop runs over
    * min(|a|, |b|) so a direct call with mismatched lengths returns a
    * PREFIX distance — the mismatch→NULL contract lives in
    * nullSafeEval/doGenCode, which guard the lengths BEFORE calling
    * here (r8 ADVICE; same convention as [[DotProduct]]'s kernel).
    */
  def compute(a: ArrayData, b: ArrayData): Long = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0L
    var i = 0
    while (i < n) {
      val d = a.getLong(i) - b.getLong(i)
      acc += d * d
      i += 1
    }
    acc
  }

  /** Null-checking kernel: any null element poisons the distance to
    * NULL (one boxed return per pair; the loop stays primitive).
    * Same equal-length precondition as [[compute]].
    */
  def computeOrNull(a: ArrayData, b: ArrayData): java.lang.Long = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0L
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val d = a.getLong(i) - b.getLong(i)
      acc += d * d
      i += 1
    }
    acc
  }

  /** Column-facing constructor. */
  def intSqDist(a: Column, b: Column): Column =
    org.apache.spark.sql.graft.Bridge.column(IntSqDist(
      org.apache.spark.sql.graft.Bridge.expression(a),
      org.apache.spark.sql.graft.Bridge.expression(b)))
}
