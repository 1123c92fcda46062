package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}
import graft.operators.{Corpus, Similarity}

/** The BM25 kernel path (`Corpus.bm25Candidates`: collected query terms
  * and corpus stats, then the native `bm25_scores` projection) gives the
  * same candidate relation as the relational formulation it replaced:
  * postings `(doc_id, term, tf)` with a per-doc `dl` window, df over the
  * query vocabulary, and the broadcast joins to the query terms, the df
  * table and the 1-row `(n_docs, avgdl)` stats, summed per (query, doc).
  * That formulation is kept here as the reference. The same holds for
  * a07: the old Window / broadcast-NLJ plan against the collected-bounds
  * rewrite.
  */
class Bm25KernelSpec extends AnyFunSuite {
  lazy val s = TestSpark.spark

  /** The relational BM25 candidate relation over `docs`. */
  private def refCandidates(docs: DataFrame): DataFrame = {
    val k1 = 1.2; val b = 0.75
    val toks = docs
      .select(col("doc_id"), explode(split(lower(col("text")), "\\s+")).as("term"))
      .filter(length(col("term")) > 0)
    val tf = toks.filter(col("doc_id") % 101 =!= 0)
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      .withColumn("dl", sum(col("tf")).over(Window.partitionBy("doc_id")))
    val stats = tf.groupBy("doc_id").agg(first(col("dl")).as("dl"))
      .agg(count(lit(1)).cast(DoubleType).as("n_docs"),
        avg(col("dl").cast(DoubleType)).as("avgdl"))
    val qterms = toks.filter(col("doc_id") % 101 === 0 && col("doc_id") < 5050)
      .select(col("doc_id").as("q_id"), col("term")).distinct()
    val df = tf.join(broadcast(qterms.select("term").distinct()), Seq("term"))
      .groupBy("term").agg(count(lit(1)).cast(DoubleType).as("df"))
    tf.join(broadcast(qterms), Seq("term"))
      .join(broadcast(df), Seq("term"))
      .crossJoin(broadcast(stats))
      .withColumn("tscore",
        log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))) *
          (col("tf") * lit(k1 + 1.0)) /
          (col("tf") + lit(k1) * (lit(1.0 - b) +
            lit(b) * col("dl").cast(DoubleType) / col("avgdl"))))
      .groupBy("q_id", "doc_id").agg(round(sum(col("tscore")), 6).as("score"))
  }

  private def triples(df: DataFrame): Seq[(Long, Long, Double)] =
    df.select("q_id", "doc_id", "score").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq.sorted

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  /** Queries are ids 0, 101, 202, 303, 404 and 505 (doc_id % 101 = 0,
    * < 5050); 5050 is neither a query nor in the corpus. */
  private def edgeDocs: DataFrame = {
    import s.implicits._
    Seq[(Long, String)](
      (0L, "the quick brown fox"),
      (101L, "Ünïcödé fox fox zebraonly"), // zebraonly: df = 0
      (202L, " \t\n "),                   // a query with no tokens
      (303L, null),
      (404L, "  lazy\tDOG  dog "),
      (505L, "日本語 テキスト the"),
      (5050L, "the quick brown fox"),
      (1L, null), (2L, ""), (3L, " "), (4L, "\t\n"),
      (5L, "  leading whitespace then fox"),
      (6L, "trailing whitespace after the dog \t "),
      (7L, "repeated \t  whitespace\n\nbetween   the   quick tokens"),
      (8L, "fox fox fox fox the the"),
      (9L, "ünïcödé 日本語 テキスト ñandú"),
      (10L, "THE Quick BROWN"),
      (11L, "nothing shared here"),
      (12L, "lazy dog lazy dog lazy dog brown"))
      .toDF("doc_id", "text")
  }

  private def kernelCandidates(docs: DataFrame): DataFrame =
    Corpus.bm25Candidates(docs, docs)

  test("candidates equal the relational formulation on edge-case documents") {
    val docs = edgeDocs
    val want = triples(refCandidates(docs))
    val got = triples(kernelCandidates(docs))
    assert(got === want)
    val queries = got.map(_._1).toSet
    assert(queries === Set(0L, 101L, 404L, 505L), "queries with tokens, and only those")
    assert(!got.exists(t => Set(1L, 2L, 3L, 4L, 5050L)(t._2)), "a doc without tokens scored")
    assert(got.exists(t => t._1 == 101L && t._2 == 9L), "non-ASCII token missed")
  }

  test("interpreted evaluation gives the same candidates as generated code") {
    val docs = edgeDocs
    val generated = triples(kernelCandidates(docs))
    val confs = Seq("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")
    confs.foreach { case (k, v) => s.conf.set(k, v) }
    try assert(triples(kernelCandidates(docs)) === generated)
    finally confs.foreach { case (k, _) => s.conf.unset(k) }
  }

  /** a07 as the Window / broadcast-NLJ plan it replaced. */
  private def refA07(d: String): DataFrame = {
    val price = col("o_totalprice").cast(DecimalType(12, 2)).cast(DoubleType)
    val o = Tables.orders(s, d)
      .select(price.as("x"), pmod(col("o_orderkey"), lit(8)).as("shard"))
    val mm = o.agg(min(col("x")).as("mn"), max(col("x")).as("mx"),
      count(lit(1)).as("n"),
      percentile_approx(col("x"), lit(0.5), lit(10000)).as("p50"),
      percentile_approx(col("x"), lit(0.9), lit(10000)).as("p90"),
      percentile_approx(col("x"), lit(0.99), lit(10000)).as("p99"))
    val merged = o.crossJoin(broadcast(mm.select(col("mn"), col("mx"))))
      .withColumn("bin",
        least(floor((col("x") - col("mn")) / ((col("mx") - col("mn")) / 64.0)),
          lit(63.0)).cast(LongType))
      .groupBy("shard", "bin").agg(count(lit(1)).as("cnt"))
      .groupBy("bin").agg(sum(col("cnt")).as("cnt"))
      .withColumn("cum", sum(col("cnt")).over(
        Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    mm.select(explode(array(lit(0.5), lit(0.9), lit(0.99))).as("q"),
        col("mn"), ((col("mx") - col("mn")) / 64.0).as("width"),
        col("n"), col("p50"), col("p90"), col("p99"))
      .withColumn("target", col("q") * col("n"))
      .join(broadcast(merged), col("cum") >= col("target"))
      .groupBy("q", "mn", "width", "n", "target", "p50", "p90", "p99")
      .agg(min(struct(col("bin"), col("cnt"), col("cum"))).as("b"))
      .withColumn("est", round(col("mn") + col("width") *
        (col("b.bin") + (col("target") - (col("b.cum") - col("b.cnt"))) /
          col("b.cnt")), 6))
      .withColumn("exact", when(col("q") === 0.5, col("p50"))
        .when(col("q") === 0.9, col("p90")).otherwise(col("p99")))
      .select(col("q"), col("est"),
        when(abs(col("est") - col("exact")) <= col("width"), 1L)
          .otherwise(0L).as("within_ok"))
      .orderBy("q")
  }

  /** The fixture root that holds every scale's tables. */
  private val fixtures = new java.io.File(TestSpark.sf0001).getParent

  for (sf <- Seq("sf0.001", "sf0.01")) {
    val d = s"$fixtures/$sf"

    test(s"$sf: candidate relation, c15 and s18 equal the relational formulation's") {
      val ref = refCandidates(Tables.documents(s, d))
      val got = Corpus.bm25Candidates(s, d)
      assert(triples(got).nonEmpty)
      assert(triples(got) === triples(ref))
      assert(rows(SparkEntry.queries("c15_bm25_topk")(s, d)) === rows(Corpus.bm25Top5(ref)))
      assert(rows(SparkEntry.queries("s18_hybrid_rrf")(s, d)) ===
        rows(Similarity.hybridRrf(s, d, ref)))
    }

    test(s"$sf: a07 equals its Window / broadcast-join formulation") {
      val got = SparkEntry.queries("a07_histogram_quantiles")(s, d).collect().toSeq
      assert(got.map(_.getDouble(0)) === Seq(0.5, 0.9, 0.99), "rows not in q order")
      assert(got.map(_.toString) === refA07(d).collect().toSeq.map(_.toString))
    }
  }
}
