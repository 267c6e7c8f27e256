package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native Catalyst expression for cosine similarity over two
  * `array<float>` columns, with whole-stage codegen (`doGenCode`).
  *
  * Motivation (SURVEY §7.4 tier (b)): the composable form —
  * `aggregate(zip_with(a, b, _*_), 0d, _+_) / (sqrt(...) * sqrt(...))` —
  * materializes an intermediate product array per row pair and evaluates
  * three separate higher-order folds. This expression fuses dot product
  * and both norms into ONE loop with no allocation, which is the hot path
  * of every ANN/near-dup operator (millions of pairs at bench scale).
  *
  * Numeric contract: floats widen to double before multiply (exact);
  * accumulation is sequential left-to-right — bit-identical to the
  * composable form it replaces, so oracle hashes are unchanged.
  *
  * Null semantics match the HOF composition: null array → null; any null
  * ELEMENT → null result (zip_with product null poisons the fold).
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def isFloatArray(dt: DataType) = dt match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }
    if (isFloatArray(left.dataType) && isFloatArray(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_cosine requires two array<float> args, got " +
        s"${left.dataType.simpleString} / ${right.dataType.simpleString}")
  }
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val xv = x.getFloat(i).toDouble
      val yv = y.getFloat(i).toDouble
      dot += xv * yv; na += xv * xv; nb += yv * yv
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n"); val i = ctx.freshName("i")
      val dot = ctx.freshName("dot"); val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val xv = ctx.freshName("xv"); val yv = ctx.freshName("yv")
      // freshName is mandatory for EVERY local: two graft_cosine calls fused
      // into one whole-stage-codegen method would otherwise redeclare the
      // variable, fail Janino compilation, and silently drop the stage to
      // interpreted execution.
      val hasNullElem = ctx.freshName("hasNullElem")
      s"""
         |int $n = Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0, $na = 0.0, $nb = 0.0;
         |boolean $hasNullElem = false;
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($a.isNullAt($i) || $b.isNullAt($i)) { $hasNullElem = true; break; }
         |  double $xv = (double) $a.getFloat($i);
         |  double $yv = (double) $b.getFloat($i);
         |  $dot += $xv * $yv; $na += $xv * $xv; $nb += $yv * $yv;
         |}
         |if ($hasNullElem) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = $dot / (Math.sqrt($na) * Math.sqrt($nb));
         |}
       """.stripMargin
    })

  override def prettyName: String = "graft_cosine"
}
