package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** The query side of a BM25 retrieval, with the corpus statistics it
  * scores against: everything [[Bm25Kernels.scores]] needs besides one
  * document's tokens. Built once on the driver from collected results
  * (≤ 50 query documents, one row per query term); immutable, so one
  * instance serves every task thread.
  *
  * @param terms       the query vocabulary, restricted to terms the
  *                    corpus contains (df > 0)
  * @param idf         per term, `ln(1 + (n_docs − df + 0.5) / (df + 0.5))`
  * @param termQueries per term, the indexes into `qIds` of the queries
  *                    that contain it, ascending
  * @param qIds        the query ids, ascending
  * @param avgdl       mean non-empty token count of a corpus document
  */
final class Bm25Model(
    val terms: Array[String],
    val idf: Array[Double],
    val termQueries: Array[Array[Int]],
    val qIds: Array[Long],
    val avgdl: Double,
    val k1: Double,
    val b: Double) extends Serializable {

  require(terms.length == idf.length && terms.length == termQueries.length,
    "one idf and one query list per term")

  @transient private lazy val index: java.util.HashMap[UTF8String, Integer] = {
    val m = new java.util.HashMap[UTF8String, Integer](terms.length * 2)
    terms.indices.foreach(i => m.put(UTF8String.fromString(terms(i)), i))
    m
  }

  /** The vocabulary index of a token, or -1. */
  def termIndex(t: UTF8String): Int = {
    val i = index.get(t)
    if (i == null) -1 else i.intValue
  }

  override def toString: String = s"Bm25Model(${qIds.length} queries, ${terms.length} terms)"
}

object Bm25Model {

  /** The model for a query set and corpus statistics.
    *
    * @param queryTerms each query id with its distinct non-empty terms
    * @param df         corpus document frequency per term; a query term
    *                   missing here (df = 0) matches no document and is
    *                   left out
    * @param nDocs      corpus documents with at least one token
    * @param sumDl      their summed token counts
    */
  def apply(queryTerms: Seq[(Long, Seq[String])], df: Map[String, Long],
            nDocs: Long, sumDl: Long, k1: Double, b: Double): Bm25Model = {
    val qIds = queryTerms.map(_._1).distinct.sorted.toArray
    val qIndex = qIds.zipWithIndex.toMap
    val terms = queryTerms.flatMap(_._2).distinct.filter(df.contains).sorted.toArray
    val termQueries = terms.map(t =>
      queryTerms.collect { case (q, ts) if ts.contains(t) => qIndex(q) }.distinct.sorted.toArray)
    val n = nDocs.toDouble
    val idf = terms.map { t =>
      val f = df(t).toDouble
      StrictMath.log(1.0 + (n - f + 0.5) / (f + 0.5))
    }
    new Bm25Model(terms, idf, termQueries, qIds, sumDl.toDouble / n, k1, b)
  }
}

/** Native Catalyst expression: the BM25 score of one document's tokens
  * against every query that shares a term with it, as an array of
  * `(q_id, raw_score)` structs in ascending q_id order.
  *
  * Why a custom Expression: the relational form joins the postings
  * (doc, term, tf) to the query terms, their df and the 1-row corpus
  * stats, then sums per (query, doc). The query side is at most 50
  * documents, so here it is collected once into a [[Bm25Model]] and the
  * corpus is scored in one row-local projection. The generated code is
  * a single call into [[Bm25Kernels.scores]], compiled once by scalac,
  * with the model passed as a reference object.
  *
  * Numeric contract, the same doubles as the relational form before its
  * final `round(…, 6)`:
  *   - tokens are the child array's non-null, non-empty elements; `dl`
  *     is their count and `tf` a term's count among them;
  *   - per shared term, `idf · (tf · (k1 + 1)) / (tf + k1 · ((1 − b) +
  *     b · dl / avgdl))`, evaluated in that operand order;
  *   - a query's score is the sum of its shared terms' values, added in
  *     the model's term order. The relational sum adds in arrival order,
  *     so the raw doubles can differ in the last bits; the 6-dp rounded
  *     score is the compared value.
  */
case class Bm25Scores(child: Expression, model: Bm25Model) extends UnaryExpression {

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("q_id", LongType, nullable = false),
    StructField("raw_score", DoubleType, nullable = false))), containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "bm25_scores"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(_: StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires an array<string> argument, got ${other.simpleString}")
  }

  override def nullSafeEval(tokens: Any): Any =
    Bm25Kernels.scores(model, tokens.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val m = ctx.addReferenceObj("bm25Model", model, classOf[Bm25Model].getName)
    defineCodeGen(ctx, ev, t => s"${Bm25Kernels.JavaName}.scores($m, $t)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** The kernel behind [[Bm25Scores]]. A top-level object without a
  * companion class, so scalac emits a static forwarder and generated
  * Java calls `Bm25Kernels.scores(...)`. */
object Bm25Kernels {

  private[functions] val JavaName = getClass.getName.stripSuffix("$")

  /** The per-query scores of one token array; empty when it shares no
    * term with any query. */
  def scores(m: Bm25Model, tokens: ArrayData): ArrayData = {
    val n = tokens.numElements()
    val hits = new Array[Int](n)
    var nHits = 0
    var dl = 0
    var i = 0
    while (i < n) {
      if (!tokens.isNullAt(i)) {
        val t = tokens.getUTF8String(i)
        if (t.numBytes > 0) {
          dl += 1
          val j = m.termIndex(t)
          if (j >= 0) { hits(nHits) = j; nHits += 1 }
        }
      }
      i += 1
    }
    if (nHits == 0) return new GenericArrayData(Array.empty[Any])
    java.util.Arrays.sort(hits, 0, nHits)
    val norm = m.k1 * ((1.0 - m.b) + m.b * dl.toDouble / m.avgdl)
    val k1p1 = m.k1 + 1.0
    val acc = new Array[Double](m.qIds.length)
    val hit = new Array[Boolean](m.qIds.length)
    var nQ = 0
    i = 0
    while (i < nHits) {
      val j = hits(i)
      var end = i + 1
      while (end < nHits && hits(end) == j) end += 1
      val tf = (end - i).toDouble
      val w = m.idf(j) * (tf * k1p1) / (tf + norm)
      val qs = m.termQueries(j)
      var k = 0
      while (k < qs.length) {
        val q = qs(k)
        if (!hit(q)) { hit(q) = true; nQ += 1 }
        acc(q) += w
        k += 1
      }
      i = end
    }
    val out = new Array[Any](nQ)
    var o = 0
    var q = 0
    while (q < acc.length) {
      if (hit(q)) {
        out(o) = new GenericInternalRow(Array[Any](m.qIds(q), acc(q)))
        o += 1
      }
      q += 1
    }
    new GenericArrayData(out)
  }
}
