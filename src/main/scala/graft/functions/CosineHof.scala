package graft.functions

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Fused-loop twin of the BUILTIN higher-order-function cosine
  * formulation `aggregate(zip_with(a,b,(x,y)->double(x)*double(y)),0.0,+)
  * / (sqrt(Σx²)·sqrt(Σy²))` — the target of
  * [[graft.plans.NativeCosineRule]], which rewrites that exact pattern
  * into this expression.
  *
  * An optimizer rewrite must preserve semantics on EVERY input, so this
  * expression reproduces the HOF tree's edge behavior exactly, which
  * [[CosineSim]] deliberately does not:
  *  - length mismatch → NULL (zip_with pads the shorter side with null,
  *    the null product poisons the running sum);
  *  - null element → NULL (same poisoning);
  *  - zero denominator: under ANSI mode (the Spark 4 default) `Divide`
  *    THROWS DIVIDE_BY_ZERO even for doubles, so `ansi = true` raises
  *    the same error; under LEGACY mode Spark's DivModLike returns NULL
  *    for a zero divisor (also even for doubles — empirically verified),
  *    so `ansi = false` yields NULL, NOT IEEE NaN. CosineSim's 0.0 guard
  *    is deliberately NOT applied here.
  * On equal-length, non-null, nonzero inputs the arithmetic sequence is
  * identical to both the HOF tree and CosineSim (sequential
  * left-to-right double accumulation), so results are bit-identical
  * there. Eval and generated code both call [[CosineHof.compute]], so
  * the two execution modes cannot drift apart.
  */
case class CosineHof(left: Expression, right: Expression, ansi: Boolean)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(FloatType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case _ =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"cosine_hof needs two array<float> args, got " +
            s"${left.dataType.simpleString}, ${right.dataType.simpleString}")
    }
  }

  override protected def nullSafeEval(a: Any, b: Any): Any =
    CosineHof.compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData],
      ansi)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val r = ctx.freshName("r")
      s"""
        java.lang.Double $r =
          graft.functions.CosineHof.compute($a, $b, $ansi);
        if ($r == null) ${ev.isNull} = true; else ${ev.value} = $r.doubleValue();
      """
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineHof =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "cosine_hof"

}

object CosineHof {

  /** Static entry point shared by eval and generated code, with the HOF
    * tree's edge rules; NULL is a null box. Under ANSI the zero
    * denominator throws Divide's own DIVIDE_BY_ZERO error. */
  def compute(x: ArrayData, y: ArrayData, ansi: Boolean): java.lang.Double = {
    val n = x.numElements()
    if (n != y.numElements()) return null // zip_with null padding
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null // null poisons Σ
      val xi = x.getFloat(i).toDouble
      val yi = y.getFloat(i).toDouble
      dot += xi * yi; na += xi * xi; nb += yi * yi
      i += 1
    }
    val denom = math.sqrt(na) * math.sqrt(nb)
    if (denom == 0.0) {
      if (ansi)
        throw org.apache.spark.sql.graft.GraftSqlAccess.divideByZeroError()
      return null // legacy Divide: zero divisor → NULL, even for doubles
    }
    dot / denom
  }
}
