package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.Expression

import graft.functions.CosineSimilarity
import graft.plans.RangeJoinBinning

/** The library's Catalyst extension point, activated with
  * `.config("spark.sql.extensions", "graft.GraftExtensions")`.
  *
  * Injects:
  *   - [[graft.plans.RangeJoinBinning]] — optimizer rule turning pure
  *     interval joins into binned equi-joins (gated on
  *     `spark.graft.rangeJoin.binSeconds`; a no-op otherwise).
  *   - `cosine_sim(array<double>, array<double>)` — the native
  *     codegen'd [[graft.functions.CosineSimilarity]] expression,
  *     callable from SQL text, not just the Column API; array<float>
  *     arguments (the embeddings column) are implicitly widened. This
  *     is the library's only registration of the function.
  *
  * This is tier (c) of SURVEY §7.1's extension ladder (compose →
  * Expression → plan rule), used exactly where built-ins genuinely
  * cannot express the plan we need: Spark has no scalable physical
  * strategy for inequality-only joins, and no vector-distance
  * built-in.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(_ => RangeJoinBinning)
    ext.injectFunction((
      FunctionIdentifier("cosine_sim"),
      CosineSimilarity.info,
      (args: Seq[Expression]) => CosineSimilarity(args(0), args(1))))
  }
}
