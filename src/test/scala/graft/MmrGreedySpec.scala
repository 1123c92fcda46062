package graft

import java.util.concurrent.atomic.AtomicInteger
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.graftbridge.BusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType}
import graft.Checkpoint.TruncateOps
import graft.operators.Similarity

/** s20's MMR re-rank (a collected top-20 shortlist, then the greedy of
  * `Similarity.mmrPicks` per query on the driver) gives the same rows as
  * the relational formulation it replaced: a pair self-join of the
  * shortlist, then five greedy steps unrolled as argmax aggregates, each
  * lineage-cut. That formulation is kept here as the reference.
  */
class MmrGreedySpec extends AnyFunSuite {
  lazy val s = TestSpark.spark

  /** s20 as the unrolled pair-join / argmax plan. */
  private def refS20(d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding").cast(ArrayType(DoubleType)).as("v"))
    val q = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    val short = emb.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("rel", Similarity.cosine(col("qv"), col("v")))
      .groupBy("q_id")
      .agg(graft.functions.TopKRows.topk(
        struct((-col("rel")).as("ns"), col("vec_id").as("id"),
          col("rel").as("r")), 20).as("tk"))
      .select(col("q_id"), explode(col("tk")).as("e"))
      .select(col("q_id"), col("e.id").as("doc_id"), col("e.r").as("rel"))
      .join(emb.withColumnRenamed("vec_id", "doc_id"), Seq("doc_id"))
      .truncatedLazy
    val pair = short.select(col("q_id"), col("doc_id").as("a"), col("v").as("va"))
      .join(short.select(col("q_id"), col("doc_id").as("b"), col("v").as("vb")),
        Seq("q_id"))
      .filter(col("a") =!= col("b"))
      .withColumn("sim", Similarity.cosine(col("va"), col("vb")))
      .select("q_id", "a", "b", "sim")
      .truncatedLazy
    // (score desc, doc_id asc) via max(struct(score, -doc))
    def argmax(cand: DataFrame, score: org.apache.spark.sql.Column): DataFrame =
      cand.withColumn("__sc", score)
        .groupBy("q_id")
        .agg(max(struct(col("__sc"), (-col("doc_id")).as("nd"))).as("w"))
        .select(col("q_id"), (-col("w.nd")).as("doc_id"), col("w.__sc").as("score"))
    val s1 = argmax(short.select(col("q_id"), col("doc_id"), col("rel")),
      col("rel")).truncatedLazy
    val steps = (2 to 5).foldLeft(Seq(s1)) { (acc, _) =>
      val selected = acc.map(_.select(col("q_id"), col("doc_id")))
        .reduce(_.unionByName(_))
      val ms = pair
        .join(selected.select(col("q_id"), col("doc_id").as("b")), Seq("q_id", "b"))
        .groupBy(col("q_id"), col("a").as("doc_id"))
        .agg(max(col("sim")).as("ms"))
      val cand = short.select(col("q_id"), col("doc_id"), col("rel"))
        .join(selected, Seq("q_id", "doc_id"), "left_anti")
        .join(ms, Seq("q_id", "doc_id"))
      acc :+ argmax(cand, col("rel") * 0.7 - col("ms") * 0.3).truncatedLazy
    }
    steps.zipWithIndex.map { case (df, i) =>
      df.select(col("q_id"), lit(i + 1).as("rk"), col("doc_id"),
        round(col("score"), 6).as("score")) }
      .reduce(_.unionByName(_))
      .orderBy("q_id", "rk")
  }

  private def rows(df: DataFrame): Seq[(Long, Int, Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSeq

  private def vec(xs: Double*) = UnsafeArrayData.fromPrimitiveArray(xs.toArray)

  test("greedy: ties go to the smaller doc_id, and a short list yields fewer picks") {
    // 7 and 3 tie on rel, so 3 is picked first; 9 points the way 3
    // does, so the diversity term ranks 7 above it
    val cands = Seq((7L, 0.9, vec(0.0, 1.0)), (3L, 0.9, vec(1.0, 0.0)),
      (9L, 0.8, vec(2.0, 0.0)))
    val picks = Similarity.mmrPicks(cands, 5)
    assert(picks.map(_._1) === Seq(3L, 7L, 9L))
    assert(picks.head._2 === 0.9)
    assert(picks(1)._2 === 0.9 * 0.7 - 0.0 * 0.3)
    assert(picks(2)._2 === 0.8 * 0.7 - 1.0 * 0.3)
    assert(Similarity.mmrPicks(cands, 2).map(_._1) === Seq(3L, 7L))
    assert(Similarity.mmrPicks(Seq.empty, 5).isEmpty)
  }

  /** The fixture root that holds every scale's tables. */
  private val fixtures = new java.io.File(TestSpark.sf0001).getParent

  for (sf <- Seq("sf0.001", "sf0.01")) {
    val d = s"$fixtures/$sf"

    test(s"$sf: s20 equals the unrolled pair-join / argmax formulation") {
      val got = SparkEntry.queries("s20_mmr_diversify")(s, d)
      val ref = refS20(d)
      assert(got.schema.map(f => (f.name, f.dataType)) === ref.schema.map(f => (f.name, f.dataType)))
      val want = rows(ref)
      assert(want.size === 50, "10 queries × 5 picks")
      assert(rows(got) === want, "rows differ, or are not in (q_id, rk) order")
    }
  }

  test("s20 runs in at most 10 jobs") {
    val d = s"$fixtures/sf0.01"
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    BusDrain(s.sparkContext)
    s.sparkContext.addSparkListener(listener)
    try {
      SparkEntry.queries("s20_mmr_diversify")(s, d).write.format("noop").mode("overwrite").save()
      BusDrain(s.sparkContext)
    } finally s.sparkContext.removeSparkListener(listener)
    assert(jobs.get >= 1 && jobs.get <= 10, s"s20 ran ${jobs.get} jobs")
  }
}
