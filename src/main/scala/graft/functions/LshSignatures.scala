package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** All random-hyperplane LSH table signatures of a float embedding in
  * one fused pass (q_sim_ann_lsh).
  *
  * Replaces the nested higher-order-function form (`transform` over
  * tables × `aggregate` over bits × `zip_with` over dims), whose
  * per-element lambda dispatch and per-plane array allocation dominated
  * the query's cost (VERDICT r3 plan audit) and made adding tables —
  * the recall lever — linearly expensive. Here the hyperplane matrix
  * rides along as a codegen reference object and the whole signature
  * set is two tight loops: same (b)-tier customization as
  * [[FloatDot]], stays inside whole-stage codegen.
  *
  * Output: array<int> of length `planes.length / bits` — element t is
  * table t's `bits`-bit sign signature.
  */
case class LshSignatures(child: Expression, planes: Array[Array[Double]],
    bits: Int) extends UnaryExpression with ImplicitCastInputTypes {

  // the session-exposed SQL surface must reject (or coerce) non-float
  // arrays at ANALYSIS time: reading an unsafe double array through
  // getFloat would return plausible-but-wrong signatures with no error
  override def inputTypes = Seq(ArrayType(FloatType))

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  // NULL is produced for a dimension mismatch and for NULL elements
  // (below), even when the array input itself is non-null
  override def nullable: Boolean = true

  @transient private lazy val tables = planes.length / bits

  // plane-set shape is fixed at construction (analysis time): every
  // plane must share one dimension, or the per-plane loops below
  // could walk past a short plane's end
  require(planes.nonEmpty && planes.forall(_.length == planes(0).length),
    s"lsh_sigs: ${planes.length} planes must share one dimension")
  // bits shape too, same analysis-time rule: bits = 0 divides by zero
  // lazily in every task; bits > 32 wraps `1 << j` (shift mod 32) so
  // two unrelated hyperplanes set the SAME signature bit — aliased
  // buckets, silently degraded recall; a non-multiple plane count
  // silently NEVER USES the last planes.length % bits hyperplanes
  require(bits >= 1 && bits <= 32 && planes.length % bits == 0,
    s"lsh_sigs: bits must be in [1, 32] and divide the plane count — " +
      s"got bits=$bits over ${planes.length} planes")

  /** A vector whose length differs from the plane dimension, or one
    * carrying NULL elements, yields NULL — the [[FloatDot]] rule.
    * Truncating to the shorter side (or reading NULL slots as 0.0)
    * would hash the embedding into a plausible-but-wrong bucket: near
    * duplicates silently missed, spurious candidates silently added,
    * and nothing downstream can tell. */
  override protected def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    val dims = planes(0).length
    val nv = v.numElements()
    if (nv != dims) return null
    var i = 0
    while (i < nv) { if (v.isNullAt(i)) return null; i += 1 }
    val out = new Array[Int](tables)
    var p = 0
    var t = 0
    while (t < tables) {
      var sig = 0
      var j = 0
      while (j < bits) {
        val hp = planes(p)
        var acc = 0.0
        var i2 = 0
        while (i2 < nv) { acc += v.getFloat(i2).toDouble * hp(i2); i2 += 1 }
        if (acc >= 0) sig |= 1 << j
        j += 1; p += 1
      }
      out(t) = sig
      t += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      val planesRef = ctx.addReferenceObj("lshPlanes", planes, "double[][]")
      val out = ctx.freshName("out")
      val sig = ctx.freshName("sig")
      val acc = ctx.freshName("acc")
      val hp = ctx.freshName("hp")
      val n = ctx.freshName("n")
      val p = ctx.freshName("p")
      val t = ctx.freshName("t")
      val j = ctx.freshName("j")
      val i = ctx.freshName("i")
      val k = ctx.freshName("k")
      val dims = planes(0).length
      // mirror of nullSafeEval: dimension mismatch or a NULL element
      // -> NULL signature set (the FloatDot rule — never a truncated
      // or zero-filled plausible-but-wrong bucket)
      s"""
         |int $n = $v.numElements();
         |if ($n != $dims) {
         |  ${ev.isNull} = true;
         |} else {
         |  for (int $k = 0; $k < $n; $k++) {
         |    if ($v.isNullAt($k)) { ${ev.isNull} = true; break; }
         |  }
         |}
         |if (!${ev.isNull}) {
         |  int[] $out = new int[$tables];
         |  int $p = 0;
         |  for (int $t = 0; $t < $tables; $t++) {
         |    int $sig = 0;
         |    for (int $j = 0; $j < $bits; $j++, $p++) {
         |      double[] $hp = $planesRef[$p];
         |      double $acc = 0.0;
         |      for (int $i = 0; $i < $n; $i++) {
         |        $acc += ((double) $v.getFloat($i)) * $hp[$i];
         |      }
         |      if ($acc >= 0) $sig |= 1 << $j;
         |    }
         |    $out[$t] = $sig;
         |  }
         |  ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(c: Expression): LshSignatures =
    copy(child = c)
}
