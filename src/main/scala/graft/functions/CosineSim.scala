package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native codegen'd cosine similarity over two float-array columns.
  *
  * On equal-length, NULL-free vectors with a non-zero norm it is
  * bit-identical to the higher-order-function formulation in
  * `graft.ops.Similarity` and to the DuckDB oracle: sequential
  * left-to-right double-precision accumulation, dot/(sqrt(na)*sqrt(nb)).
  * Outside that domain the contract is its own, not the HOF form's:
  *  - ragged inputs use the shorter length and ignore the longer tail;
  *  - a NULL element reads as 0.0f (the HOF form gives NULL);
  *  - a zero denominator (zero vector, empty input) gives 0.0;
  *  - a NULL array gives NULL.
  * OpsSpec "cosine_sim: edge contract pinned in eval and codegen" pins
  * each case. The operators feed it only the shared domain (zero
  * vectors are filtered out first).
  *
  * It runs as one fused loop with no per-element lambda dispatch,
  * keeping the ANN scoring stage inside WholeStageCodegen. Eval and
  * generated code both call [[CosineSim.compute]], so the two execution
  * modes cannot drift apart.
  */
case class CosineSim(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(FloatType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case _ =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"cosine_sim needs two array<float> args, got " +
            s"${left.dataType.simpleString}, ${right.dataType.simpleString}")
    }
  }

  override protected def nullSafeEval(a: Any, b: Any): Any =
    CosineSim.compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.CosineSim.compute($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSim =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "cosine_sim"

}

object CosineSim {

  /** Static entry point shared by eval and generated code: ragged inputs
    * use the shorter length, a zero denominator gives 0.0, and a NULL
    * element reads as 0.0f (no per-element NULL check). */
  def compute(x: ArrayData, y: ArrayData): Double = {
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val xi = x.getFloat(i).toDouble
      val yi = y.getFloat(i).toDouble
      dot += xi * yi; na += xi * xi; nb += yi * yi
      i += 1
    }
    val denom = math.sqrt(na) * math.sqrt(nb)
    if (denom == 0.0) 0.0 else dot / denom
  }
}

object GraftFunctions {
  /** One native SQL function: its name, the expression class catalog
    * introspection (`DESCRIBE FUNCTION`) reports, and the builder from
    * the call's argument expressions. */
  final case class NativeFunction(name: String, cls: Class[_],
      build: Seq[Expression] => Expression) {
    def info: ExpressionInfo = new ExpressionInfo(cls.getName, null, name)
  }

  /** THE table of native SQL functions: [[register]] and
    * [[GraftExtensions]] both install exactly these rows, so the two
    * registration paths cannot list different functions. */
  val table: Seq[NativeFunction] = Seq(
    NativeFunction("cosine_sim", classOf[CosineSim], // exact float-vector cosine
      a => CosineSim(a(0), a(1))),
    NativeFunction("simhash64", classOf[Simhash64], // 64-bit SimHash over tokens
      a => Simhash64(a(0))),
    NativeFunction("minhash_sigs", classOf[MinhashSigs], // 8 seeded-md5 minhashes
      a => MinhashSigs(a(0))),
    NativeFunction("kmv_minima", classOf[KmvMinima], // bottom-k distinct sketch
      a => KmvMinima(a(0), litInt(a(1))).toAggregateExpression()),
    NativeFunction("kll_quantiles", classOf[KllQuantiles], // mergeable quantiles
      a => KllQuantiles(a(0), litInt(a(1)), a.drop(2).map(litDouble))
        .toAggregateExpression()),
    NativeFunction("rolling_hash2", classOf[RollingHash2], // the window key
      a => RollingHash2(a(0), litInt(a(1)))))

  /** Session-scoped once-marker: graft operators call register() on
    * every invocation; only the FIRST call per session actually writes
    * the registry (kills the replacement-WARN spam) — and that first
    * call REGISTERS UNCONDITIONALLY, so a same-name temp function a user
    * happened to define earlier cannot silently hijack the semantics of
    * library operators that resolve by name (reviewed). Weak keys: a
    * discarded session must not be pinned. */
  private val registered =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, java.lang.Boolean]())

  /** Register the [[table]] on a session
    * (`SELECT cosine_sim(a, b)` / `expr("cosine_sim(a, b)")`).
    * Once per session; the first call overwrites any same-name temp
    * functions so graft operators always get graft semantics. */
  def register(spark: SparkSession): Unit = registered.synchronized {
    // synchronized, not just putIfAbsent: a bare once-guard would let a
    // SECOND thread return early while the first is still mid-
    // registration, and its expr("cosine_sim(...)") would then fail to
    // resolve. The monitor also serializes the read-modify-write append
    // to experimental.extraOptimizations below.
    if (registered.putIfAbsent(spark, java.lang.Boolean.TRUE) != null) return
    val reg = spark.sessionState.functionRegistry
    table.foreach(f =>
      reg.registerFunction(FunctionIdentifier(f.name), f.info, f.build))
    // optimizer integration on a plain (extension-less) session: rewrite
    // builtin HOF cosine trees into the fused native kernel; idempotent
    val extra = spark.experimental.extraOptimizations
    if (!extra.contains(graft.plans.NativeCosineRule))
      spark.experimental.extraOptimizations =
        extra :+ graft.plans.NativeCosineRule
  }

  /** Extract a literal int argument (e.g. the k of kmv_minima(col, k)). */
  def litInt(e: org.apache.spark.sql.catalyst.expressions.Expression): Int =
    e match {
      case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
      case other => throw new IllegalArgumentException(
        s"expected a literal int argument, got $other")
    }

  /** Extract a literal numeric argument as Double (SQL fractional literals
    * like `0.5` arrive as DecimalType, DataFrame lit(0.5) as DoubleType). */
  def litDouble(e: org.apache.spark.sql.catalyst.expressions.Expression): Double =
    e match {
      case org.apache.spark.sql.catalyst.expressions.Literal(v: Double, _) => v
      case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) =>
        v.toDouble
      case org.apache.spark.sql.catalyst.expressions.Literal(
          v: org.apache.spark.sql.types.Decimal, _) => v.toDouble
      case other => throw new IllegalArgumentException(
        s"expected a literal numeric argument, got $other")
    }
}
