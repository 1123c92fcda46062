package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.functions._
import graft.functions.CosineSimilarity
import graft.operators.Similarity

/** The native codegen'd CosineSimilarity expression: numeric parity
  * with the composable higher-order-function form (the oracle shape)
  * and with its static kernel, plus the session's own `cosine_sim`
  * registration (installed by [[GraftExtensions]]).
  */
class CosineSimilaritySpec extends AnyFunSuite {
  lazy val s = TestSpark.spark

  test("native expression is bit-identical to the HOF dot/norm composition") {
    import s.implicits._
    val pairs = Seq(
      (Seq(1.0, 2.0, 3.0), Seq(4.0, 5.0, 6.0)),
      (Seq(0.1, -0.2, 0.3), Seq(-0.4, 0.5, -0.6)),
      (Seq(1e-8, 2e8, -3.5), Seq(7.7, -1e-9, 2.0)))
    // an RDD source, so the projection is not folded into a local
    // relation and really runs as generated code
    def run(confs: (String, String)*): Seq[(Double, Double)] = {
      confs.foreach { case (k, v) => s.conf.set(k, v) }
      try s.sparkContext.parallelize(pairs, 1).toDF("a", "b").select(
          Similarity.cosine(col("a"), col("b")).as("native"),
          (Similarity.dot(col("a"), col("b")) /
            (Similarity.norm(col("a")) * Similarity.norm(col("b")))).as("hof"))
        .collect().map(r => (r.getDouble(0), r.getDouble(1))).toSeq
      finally confs.foreach { case (k, _) => s.conf.unset(k) }
    }
    // no silent fallback to interpretation if the generated call fails to compile
    val generated = run("spark.sql.codegen.fallback" -> "false",
      "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY")
    val interpreted = run("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")
    val kernel = pairs.map { case (a, b) => CosineSimilarity.cosine(
      UnsafeArrayData.fromPrimitiveArray(a.toArray), UnsafeArrayData.fromPrimitiveArray(b.toArray)) }
    generated.foreach { case (native, hof) => assert(native === hof) }
    assert(interpreted === generated)
    assert(kernel === generated.map(_._1))
  }

  test("cosine_sim registers and runs through SQL text") {
    assert(s.catalog.functionExists("cosine_sim"))
    val out = s.sql(
      "SELECT cosine_sim(array(1.0D, 0.0D), array(1.0D, 0.0D)) AS c").collect()
    assert(math.abs(out(0).getDouble(0) - 1.0) < 1e-12)
  }

  test("implicit cast admits float arrays (the embeddings column type)") {
    val emb = Tables.embeddings(s, TestSpark.sf0001).limit(5)
    assert(emb.schema("embedding").dataType.simpleString === "array<float>")
    val out = emb.select(call_function("cosine_sim", col("embedding"), col("embedding")).as("c"))
      .collect()
    assert(out.length === 5)
    out.foreach(r => assert(math.abs(r.getDouble(0) - 1.0) < 1e-9))
  }
}
