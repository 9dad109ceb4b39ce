package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Fused float-vector dot product as a native codegen'd Expression.
  *
  * Replaces `aggregate(zip_with(a, b, (x,y) -> double(x)*double(y)),
  * 0d, +)` in the similarity operators: same value bit-for-bit
  * (sequential left-to-right double accumulation over float pairs) but
  * one tight loop over the two ArrayData buffers — no per-pair array
  * allocation, no lambda dispatch, stays inside whole-stage codegen.
  * This is the (b)-tier customization of SURVEY §4.2: a scalar
  * Expression, not a new operator.
  */
case class FloatDot(left: Expression, right: Expression)
  extends BinaryExpression with ImplicitCastInputTypes {

  // session-exposed SQL surface: coerce/reject non-float arrays at
  // analysis time — getFloat over an unsafe double array would return
  // garbage silently
  // (AbstractDataType is private[sql]; the inferred Seq[ArrayType]
  // conforms covariantly)
  override def inputTypes = Seq(ArrayType(FloatType), ArrayType(FloatType))

  override def dataType: DataType = DoubleType

  // NULL is produced for mismatched lengths and NULL elements (below),
  // even when both array inputs are non-null
  override def nullable: Boolean = true

  /** Mismatched lengths and NULL elements yield NULL — exactly what the
    * documented-equivalent zip_with/aggregate form does (zip_with pads
    * the shorter side with NULL, NULL poisons the sum). Silently
    * truncating to the shorter array would return a plausible-but-wrong
    * similarity score — the failure mode this file's own inputTypes
    * comment warns about. */
  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (y.numElements() != n) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      acc += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      // per-element isNullAt is one bit probe on unsafe float arrays —
      // the JIT hoists it for the common containsNull=false data
      s"""
         |int $n = $a.numElements();
         |if ($b.numElements() != $n) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) {
         |      ${ev.isNull} = true; break;
         |    }
         |    $acc += ((double) $a.getFloat($i)) * ((double) $b.getFloat($i));
         |  }
         |  if (!${ev.isNull}) ${ev.value} = $acc;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): FloatDot = copy(left = l, right = r)
}
