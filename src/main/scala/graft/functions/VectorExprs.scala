package graft.functions

import org.apache.spark.sql.catalyst.{FunctionIdentifier, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native cosine similarity over two numeric arrays — the custom-Expression hot
  * path for the ANN/rerank operators.
  *
  * Spark's higher-order functions (`zip_with`, `aggregate`, `transform`) do not
  * participate in whole-stage codegen (CodegenFallback: per-row interpreted
  * lambda dispatch plus an intermediate array per HOF). This expression compiles
  * to one fused Java loop via `doGenCode`. The accumulation is the SAME
  * left-to-right sequential fold as the HOF formulation
  * (`Σaᵢbᵢ / (√Σaᵢ² · √Σbᵢ²)`, float widened to double per element), so results
  * are bit-identical and the external SQL oracles keep matching.
  *
  * Array elements are assumed non-null (parquet `array<float>` embeddings);
  * `Similarity.cosine` routes through the HOF fallback when nullability says
  * otherwise.
  */
case class CosineSim(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  private def elemOk(t: DataType): Boolean = t match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (elemOk(left.dataType) && elemOk(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"cos_sim needs array<float|double> inputs, got ${left.dataType} / ${right.dataType}")

  private def isFloat(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val (lf, rf) = (isFloat(left), isFloat(right))
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val xi = if (lf) x.getFloat(i).toDouble else x.getDouble(i)
      val yi = if (rf) y.getFloat(i).toDouble else y.getDouble(i)
      dot += xi * yi; na += xi * xi; nb += yi * yi
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val xi = ctx.freshName("xi")
      val yi = ctx.freshName("yi")
      val getX = if (isFloat(left)) s"(double) $a.getFloat($i)" else s"$a.getDouble($i)"
      val getY = if (isFloat(right)) s"(double) $b.getFloat($i)" else s"$b.getDouble($i)"
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0, $na = 0.0, $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $xi = $getX;
         |  double $yi = $getY;
         |  $dot += $xi * $yi; $na += $xi * $xi; $nb += $yi * $yi;
         |}
         |${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): CosineSim =
    copy(left = newLeft, right = newRight)
}

object VectorExprs {
  /** Idempotent session registration; call before using `cos_sim` in a plan.
    * Registers once per session: re-registering replaces the function and
    * logs a warning on every pipeline call.
    */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    if (!registry.functionExists(FunctionIdentifier("graft_cos_sim")))
      registry.createOrReplaceTempFunction(
        "graft_cos_sim",
        { args: Seq[Expression] =>
          require(args.length == 2, "graft_cos_sim(a, b)")
          CosineSim(args.head, args(1))
        },
        "built-in")
  }
}
