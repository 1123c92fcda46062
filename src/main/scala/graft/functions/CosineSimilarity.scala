package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native Catalyst expression: cosine similarity of two double arrays
  * in ONE pass (dot product and both norms in the same compiled loop).
  *
  * Why a custom Expression (SURVEY §4.2): Spark 4.1 has no built-in
  * vector distance, and the composable form
  * `aggregate(zip_with(a,b,*))/...` runs as three interpreted
  * higher-order folds per row — measured ~6× slower on the similarity
  * hot paths. The loop is [[CosineSimilarity.cosine]], compiled once by
  * scalac: interpreted evaluation calls it, generated code is a single
  * call into it, and s20's driver-side MMR greedy calls it on the
  * collected shortlist, so every cosine graft computes comes from the
  * same loop. Inputs are implicitly cast to array<double>, so the
  * embeddings' array<float> is accepted (the widening is exact).
  *
  * Numeric contract: accumulation is strictly left-to-right, then
  * dot / (sqrt(na) * sqrt(nb)) — bit-identical to both the
  * higher-order-function formulation and the DuckDB oracle's
  * list_sum(list_transform(...)) form, so hash-exact verification
  * still holds. Inputs with nulls/length-mismatch are outside the
  * contract (embeddings are dense fixed-dim vectors).
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "cosine_sim"
  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(DoubleType), ArrayType(DoubleType))

  override def nullSafeEval(a: Any, b: Any): Any =
    CosineSimilarity.cosine(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"${CosineSimilarity.JavaName}.cosine($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object CosineSimilarity {
  val info: ExpressionInfo = new ExpressionInfo(
    classOf[CosineSimilarity].getName, "cosine_sim")

  /** The companion class's name: scalac puts a static forwarder for
    * [[cosine]] on it, which is what generated Java calls. */
  private val JavaName = classOf[CosineSimilarity].getName

  /** The cosine of `x` and `y` over their common prefix. */
  def cosine(x: ArrayData, y: ArrayData): Double = {
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val xi = x.getDouble(i); val yi = y.getDouble(i)
      dot += xi * yi; na += xi * xi; nb += yi * yi
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }
}
