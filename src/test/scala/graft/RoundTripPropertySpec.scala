package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.apache.spark.sql.functions._
import graft.operators.Similarity

/** Property-based invariants (SURVEY §5.3). Raw ScalaCheck generators
  * with fixed seeds (the scalatest-plus bridge isn't in the offline
  * cache, and deterministic samples suit the oracle philosophy anyway).
  */
class RoundTripPropertySpec extends AnyFunSuite {
  lazy val s = TestSpark.spark

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(42L + i)))

  test("parquet round-trip preserves rows and schema") {
    import s.implicits._
    val gen = Gen.listOfN(20, Gen.zip(Gen.choose(0L, 1000L), Gen.alphaStr))
    samples(gen, 3).foreach { rows =>
      val df = rows.toDF("id", "name")
      val dir = LocalScratch.tempDir("rt") + "/t"
      df.write.parquet(dir)
      val back = s.read.parquet(dir)
      // parquet doesn't preserve not-null; compare names+types only
      assert(back.schema.fields.map(f => (f.name, f.dataType)).toSeq ===
        df.schema.fields.map(f => (f.name, f.dataType)).toSeq)
      assert(back.collect().map(_.toSeq).toSet === df.collect().map(_.toSeq).toSet)
    }
  }

  test("cosine similarity is symmetric and self-similarity is 1") {
    import s.implicits._
    val gen = Gen.listOfN(8, Gen.choose(-5.0, 5.0)).suchThat(_.exists(_ != 0.0))
    samples(gen, 5).foreach { v =>
      val df = Seq((v, v.reverse)).toDF("a", "b")
      val r = df.select(
        Similarity.cosine(col("a"), col("b")).as("ab"),
        Similarity.cosine(col("b"), col("a")).as("ba"),
        Similarity.cosine(col("a"), col("a")).as("aa")).collect()(0)
      assert(r.getDouble(0) === r.getDouble(1))
      assert(math.abs(r.getDouble(2) - 1.0) < 1e-9)
    }
  }

  test("exact dedup is idempotent on generated corpora with forced duplicates") {
    import s.implicits._
    val word = Gen.oneOf("spark", "scan", "merge", "join", "batch")
    val doc = Gen.listOfN(6, word).map(_.mkString(" "))
    val corpus = samples(doc, 40).zipWithIndex.map { case (t, i) => (i.toLong, t) }
    val df = corpus.toDF("doc_id", "text")
    val once = df.groupBy(md5(col("text")).as("h"))
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n"))
    assert(once.agg(sum("n")).collect()(0).getLong(0) === df.count())
    val kept = df.join(once.select(col("keep_id")),
      df("doc_id") === col("keep_id"), "left_semi")
    val twice = kept.groupBy(md5(col("text"))).agg(count(lit(1)).as("n"))
    assert(twice.filter(col("n") > 1).count() === 0)
  }

  test("range-join binning is exact on random dirty interval sets") {
    import s.implicits._
    // Random points × random intervals, where ~half the intervals are
    // inverted (hi < lo) and one is a sentinel-wide row — the dirty
    // shapes the round-4 hardening exists for. Expected rows computed
    // driver-side; the rewrite must agree exactly on every draw.
    val ptsGen = Gen.listOfN(60, Gen.choose(-100L, 200L))
    val ivGen = Gen.listOfN(15,
      Gen.zip(Gen.choose(-120L, 220L), Gen.choose(-120L, 220L)))
    samples(Gen.zip(ptsGen, ivGen), 4).foreach { case (ps, ivsRaw) =>
      val ivs = ivsRaw :+ ((-5L, Long.MaxValue / 1024)) // sentinel-wide
      val joined = ps.toDF("p").join(ivs.toDF("lo", "hi"),
        col("p") >= col("lo") && col("p") <= col("hi"))
      assert(joined.queryExecution.executedPlan.toString.contains("graft_bin"),
        "rewrite must fire on the BETWEEN join")
      val got = joined.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .sorted.toSeq
      val want = (for {
        p <- ps; (lo, hi) <- ivs
        if p >= lo && p <= hi
      } yield (p, lo, hi)).sorted
      assert(got === want, s"rewrite diverged; ivs=${ivs.take(6)}…")
    }
  }

  test("large-star/small-star components match a reference union-find on random graphs") {
    import s.implicits._
    import graft.operators.Corpus
    // Adversarial shapes the fixed CorpusSpec fixtures don't cover:
    // random sparse/dense graphs, self-contained cliques, isolated
    // edges — all checked against a driver-side union-find oracle.
    val edgeGen = Gen.listOfN(60,
      Gen.zip(Gen.choose(0L, 39L), Gen.choose(0L, 39L))).map(_.filter(e => e._1 != e._2))
    samples(edgeGen, 6).filter(_.nonEmpty).foreach { edges =>
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      // union-find roots are not guaranteed to be minima under
      // arbitrary union order; min-relabel per root for the compare
      val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
      val minOf = nodes.groupBy(find).map { case (r, ns) => r -> ns.min }
      val want = nodes.map(n => n -> minOf(find(n))).toMap
      val got = Corpus.connectedComponents(edges.toDF("doc_a", "doc_b")).df
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === want, s"components diverge on ${edges.take(10)}…")
    }
  }
}
