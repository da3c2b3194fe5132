package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native Catalyst expression: cosine similarity of two numeric arrays.
  *
  * This is the perf path for similarity search (preference (b) of the
  * custom-operator ladder): one fused loop in generated Java — no
  * intermediate product array, no per-element lambda dispatch — versus the
  * composed `aggregate(zip_with(...))` form, which allocates a zipped array
  * per row and evaluates interpreted higher-order lambdas.
  *
  * Accepts array<float> and array<double> on either side, independently:
  * float elements are widened to double IN-REGISTER inside the loop, so a
  * raw embedding column never pays a per-row array<double> materialization
  * (the old builder-inserted Cast allocated a second 64-element array for
  * every pair scored). Widening is exact, so results are bit-identical to
  * casting first: one left-to-right accumulation each for dot product and
  * the two squared norms (same IEEE operation order as the DataFrame
  * `aggregate` fold and DuckDB's list_sum, keeping the oracle exact).
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_cosine"

  private def isFloat(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(DoubleType, _) | ArrayType(FloatType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<double> or array<float> arguments, got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  // Mismatched lengths => NULL, matching the composed zip_with+aggregate
  // form (which null-pads) rather than silently truncating. A ZERO-NORM
  // side (the zero vector, or an empty array) is NULL too: cosine is
  // undefined there, raw Java division would yield NaN — which Spark's
  // ordering ranks ABOVE every real similarity (a zero vector would win
  // every top-k) — and DuckDB's `/` yields NULL on the same input, so
  // NULL is the one value both engines rank identically (last, desc).
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    if (x.numElements() != y.numElements()) return null
    val n = x.numElements()
    val xf = isFloat(left); val yf = isFloat(right)
    var dot = 0.0; var nx = 0.0; var ny = 0.0
    var i = 0
    while (i < n) {
      val xi = if (xf) x.getFloat(i).toDouble else x.getDouble(i)
      val yi = if (yf) y.getFloat(i).toDouble else y.getDouble(i)
      dot += xi * yi; nx += xi * xi; ny += yi * yi
      i += 1
    }
    if (nx == 0.0 || ny == 0.0) null
    else dot / (math.sqrt(nx) * math.sqrt(ny))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      val nx = ctx.freshName("nx")
      val ny = ctx.freshName("ny")
      val xi = ctx.freshName("xi")
      val yi = ctx.freshName("yi")
      // per-side element getter, widened in-register when the side is float
      def get(arr: String, float: Boolean) =
        if (float) s"(double) $arr.getFloat($i)" else s"$arr.getDouble($i)"
      s"""
         |if ($a.numElements() != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  int $n = $a.numElements();
         |  double $dot = 0.0, $nx = 0.0, $ny = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    double $xi = ${get(a, isFloat(left))};
         |    double $yi = ${get(b, isFloat(right))};
         |    $dot += $xi * $yi; $nx += $xi * $xi; $ny += $yi * $yi;
         |  }
         |  if ($nx == 0.0 || $ny == 0.0) {
         |    ${ev.isNull} = true;
         |  } else {
         |    ${ev.value} = $dot / (java.lang.Math.sqrt($nx) * java.lang.Math.sqrt($ny));
         |  }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
