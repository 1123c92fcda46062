package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Relational6

/** The [[graft.plans.RangeJoinBinning]] rule and the
  * [[graft.GraftExtensions]] wiring: the rewrite must be exact
  * (identical rows to the naive nested-loop plan), must actually
  * replace the nested-loop physical join with a hash-based one, and
  * the injected SQL function must resolve from SQL text.
  */
class RangeJoinRewriteSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.sf0001

  private def q47 = SparkEntry.queries("q47_interval_join")(spark, sf)

  test("binned plan joins on bin ids, not a nested loop") {
    val plan = q47.queryExecution.executedPlan.toString
    assert(plan.contains("graft_bin"), s"bin columns missing from plan:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"nested-loop survived the rewrite:\n$plan")
  }

  test("rewrite is exact: binned rows == naive nested-loop rows") {
    val binned = q47.collect().map(_.toString).sorted
    spark.conf.set("spark.graft.rangeJoin.binSeconds", "0")
    try {
      val naivePlan = q47.queryExecution.executedPlan.toString
      assert(naivePlan.contains("BroadcastNestedLoopJoin"),
        s"rule-off control should nested-loop:\n$naivePlan")
      val naive = q47.collect().map(_.toString).sorted
      assert(binned.sameElements(naive),
        s"binned=${binned.length} rows, naive=${naive.length} rows")
      assert(binned.nonEmpty, "gate must not pass vacuously")
    } finally spark.conf.set("spark.graft.rangeJoin.binSeconds", "3600")
  }

  test("rule leaves equi-key range joins (q20) untouched") {
    val plan = Relational6.queries // touch object init
    val q20 = SparkEntry.queries("q20_range_join")(spark, sf)
    val s = q20.queryExecution.optimizedPlan.toString
    assert(!s.contains("graft_bin"), s"q20 has an equi key; rule must not fire:\n$s")
  }

  test("numeric (non-timestamp) ranges rewrite and stay exact") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // points 0..999 joined into [lo, lo+25] windows anchored every 100
    val pts = (0L until 1000L).toDF("p")
    val ivs = (0L until 1000L by 100L).map(s => (s, s + 25L)).toDF("lo", "hi")
    val joined = pts.join(ivs, col("p") >= col("lo") && col("p") <= col("hi"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("graft_bin"), s"numeric range join must rewrite:\n$plan")
    // binSeconds=3600 is the bin width for plain numerics too
    val got = joined.collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    val want = (for {
      p <- 0L until 1000L; s <- 0L until 1000L by 100L
      if p >= s && p <= s + 25L
    } yield (p, s)).sorted
    assert(got.sameElements(want))
  }

  test("q47's fixed-length window proves its fan-out statically: single hash leg") {
    // hi = lo + INTERVAL 1 HOUR is bounded at rule time, so the plan
    // must be the plain binned join — no Union, no nested-loop guard.
    val plan = q47.queryExecution.executedPlan.toString
    assert(!plan.contains("Union"), s"static proof failed, guard leg present:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("inverted (dirty) intervals match nothing instead of crashing Sequence") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // Spark 4's sequence(5, 1, 1) throws 'Illegal sequence boundaries';
    // the rule must drop hi < lo rows (they cannot satisfy the original
    // BETWEEN) rather than let them reach the generator.
    val pts = (0L until 100L).toDF("p")
    val ivs = Seq((10L, 20L), (50L, 40L), (90L, 95L)).toDF("lo", "hi")
    val joined = pts.join(ivs, col("p") >= col("lo") && col("p") <= col("hi"))
    assert(joined.queryExecution.executedPlan.toString.contains("graft_bin"))
    val got = joined.collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    val want = (for {
      p <- 0L until 100L; iv <- Seq((10L, 20L), (50L, 40L), (90L, 95L))
      if p >= iv._1 && p <= iv._2
    } yield (p, iv._1)).sorted
    assert(got.sameElements(want) && got.nonEmpty)
  }

  test("sentinel-wide intervals route to the guard leg, stay exact, never explode") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // One open-ended sentinel (hi far beyond lo): with the 3600-wide
    // bins its span is ~2.5e12 bins — exploding it would OOM or hit
    // Sequence's max array length. The guard leg must evaluate it as a
    // nested loop while narrow rows still take the binned hash join.
    val pts = (0L until 1000L by 10L).toDF("p")
    val ivs = Seq((0L, 25L), (500L, 530L), (100L, Long.MaxValue / 1024)).toDF("lo", "hi")
    val joined = pts.join(ivs, col("p") >= col("lo") && col("p") <= col("hi"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("graft_bin"), s"narrow leg must still bin:\n$plan")
    assert(plan.contains("Union"), s"guard leg missing:\n$plan")
    val got = joined.collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    val want = (for {
      p <- 0L until 1000L by 10L
      iv <- Seq((0L, 25L), (500L, 530L), (100L, Long.MaxValue / 1024))
      if p >= iv._1 && p <= iv._2
    } yield (p, iv._1)).sorted
    assert(got.sameElements(want) && got.nonEmpty)
  }

  test("TIMESTAMP_NTZ operands bin with a single hash leg and stay exact") {
    // The fixtures have shipped ts as TIMESTAMP(MICROS,
    // isAdjustedToUTC=false) — Spark's TIMESTAMP_NTZ. Tables normalizes
    // events to LTZ at the source, so q47 no longer exercises the NTZ
    // arm; this pins it directly: the rule must fire on NTZ bounds
    // (widening through a cast before UnixMicros), prove the
    // fixed-length +INTERVAL window statically, and stay exact.
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val base = java.time.LocalDateTime.parse("1996-01-01T00:00:00")
    val pts = (0 until 500).map(i => Tuple1(base.plusMinutes(i * 7L))).toDF("p")
    assert(pts.schema("p").dataType ==
      org.apache.spark.sql.types.TimestampNTZType)
    val ivs = (0 until 24).map(i => Tuple1(base.plusHours(i * 2L))).toDF("lo")
      .withColumn("hi", col("lo") + expr("INTERVAL 45 MINUTES"))
    val joined = pts.join(ivs, col("p") >= col("lo") && col("p") <= col("hi"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("graft_bin"), s"NTZ range join did not bin:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("Union"),
      s"static fan-out proof failed on NTZ (+INTERVAL window):\n$plan")
    val got = joined.collect().map(r =>
      (r.getAs[java.time.LocalDateTime]("p"), r.getAs[java.time.LocalDateTime]("lo")))
      .sorted(Ordering.Tuple2(
        Ordering.by((d: java.time.LocalDateTime) => d.toString),
        Ordering.by((d: java.time.LocalDateTime) => d.toString)))
    val want = (for {
      i <- 0 until 500; j <- 0 until 24
      p = base.plusMinutes(i * 7L); lo = base.plusHours(j * 2L)
      if !p.isBefore(lo) && !p.isAfter(lo.plusMinutes(45))
    } yield (p, lo)).sorted(Ordering.Tuple2(
      Ordering.by((d: java.time.LocalDateTime) => d.toString),
      Ordering.by((d: java.time.LocalDateTime) => d.toString)))
    assert(got.nonEmpty && got.sameElements(want),
      s"binned=${got.length} rows, expected=${want.length}")
  }

  test("NTZ binning is DST-independent: exact under a non-UTC session zone") {
    // Binning maps NTZ operands to instants through a FIXED UTC zone,
    // not the session zone: under a DST zone the fall-back hour
    // stretches a fixed-length local window's instant span, so a
    // window statically proven narrow could exceed maxBins at runtime
    // and the If-belt would silently drop its rows. This pins the fix:
    // same join as the NTZ test above but spanning the US fall-back
    // transition (2 a.m. Nov 3 1996) under America/New_York — counts
    // must match the plain nested-loop ground truth exactly.
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val prevZone = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try {
      val base = java.time.LocalDateTime.parse("1996-11-03T00:00:00")
      val pts = (0 until 300).map(i => Tuple1(base.plusMinutes(i * 3L))).toDF("p")
      assert(pts.schema("p").dataType ==
        org.apache.spark.sql.types.TimestampNTZType)
      val ivs = (0 until 8).map(i => Tuple1(base.plusHours(i))).toDF("lo")
        .withColumn("hi", col("lo") + expr("INTERVAL 45 MINUTES"))
      val joined = pts.join(ivs, col("p") >= col("lo") && col("p") <= col("hi"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("graft_bin"), s"NTZ range join did not bin:\n$plan")
      val want = (for {
        i <- 0 until 300; j <- 0 until 8
        p = base.plusMinutes(i * 3L); lo = base.plusHours(j.toLong)
        if !p.isBefore(lo) && !p.isAfter(lo.plusMinutes(45))
      } yield 1).size
      assert(joined.count() === want,
        s"NTZ rewrite dropped rows across the DST fall-back under a non-UTC zone")
    } finally spark.conf.set("spark.sql.session.timeZone", prevZone)
  }

  test("numeric bin width is independently configurable") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    spark.conf.set("spark.graft.rangeJoin.numericBinWidth", "50")
    try {
      val pts = (0L until 500L).toDF("p")
      val ivs = (0L until 500L by 100L).map(s => (s, s + 25L)).toDF("lo", "hi")
      val joined = pts.join(ivs, col("p") >= col("lo") && col("p") <= col("hi"))
      assert(joined.queryExecution.executedPlan.toString.contains("graft_bin"))
      assert(joined.count() === (for {
        p <- 0L until 500L; s <- 0L until 500L by 100L
        if p >= s && p <= s + 25L
      } yield 1).size)
    } finally spark.conf.unset("spark.graft.rangeJoin.numericBinWidth")
  }

  test("property: rewrite is exact on randomized interval shapes") {
    // Seeded ScalaCheck generators (RoundTripPropertySpec pattern):
    // random points and random intervals mixing narrow, bin-straddling,
    // WIDE (guard-leg), inverted (matchless) and degenerate (lo == hi)
    // shapes — the rewrite must agree with an in-memory nested loop on
    // every draw, whatever mix of legs the plan ends up with.
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    def samples[A](g: Gen[A], n: Int, seed: Long): Seq[A] =
      (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(seed + i)))
    val ptGen = Gen.listOfN(300, Gen.choose(0L, 1000000L))
    val ivGen = Gen.listOfN(40, for {
      lo <- Gen.choose(0L, 1000000L)
      len <- Gen.oneOf(
        Gen.choose(0L, 100L),                 // sub-bin
        Gen.choose(3000L, 20000L),            // straddles 3600-wide bins
        Gen.choose(50000000L, 90000000L),     // wide → guard leg
        Gen.const(-500L))                     // inverted → matchless
    } yield (lo, lo + len))
    for (round <- 0 until 3) {
      val pts = samples(ptGen, 1, 100L + round).head.toDF("p")
      val ivs = samples(ivGen, 1, 200L + round).head.toDF("lo", "hi")
      val joined = pts.join(ivs, col("p") >= col("lo") && col("p") <= col("hi"))
      assert(joined.queryExecution.executedPlan.toString.contains("graft_bin"))
      val got = joined.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
      val want = (for {
        p <- samples(ptGen, 1, 100L + round).head
        (lo, hi) <- samples(ivGen, 1, 200L + round).head
        if p >= lo && p <= hi
      } yield (p, lo, hi)).sorted
      assert(got.sameElements(want),
        s"round $round: binned=${got.length} rows, naive=${want.length}")
    }
  }

  test("rule ignores non-inner joins and half-bounded conditions") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val pts = (0L until 100L).toDF("p")
    val ivs = Seq((0L, 10L), (50L, 60L)).toDF("lo", "hi")
    val leftOuter = pts.join(ivs,
      col("p") >= col("lo") && col("p") <= col("hi"), "left_outer")
    assert(!leftOuter.queryExecution.optimizedPlan.toString.contains("graft_bin"),
      "only INNER joins are rewritten")
    val halfBounded = pts.join(ivs, col("p") >= col("lo"))
    assert(!halfBounded.queryExecution.optimizedPlan.toString.contains("graft_bin"),
      "a lower bound alone must not rewrite (no finite bin range)")
    // and both joins still answer correctly: intervals are disjoint,
    // so each point yields exactly one row (matched or null-extended)
    assert(leftOuter.count() === 100)
    assert(halfBounded.count() === (0L until 100L).map(p =>
      Seq((0L, 10L), (50L, 60L)).count(iv => p >= iv._1)).sum)
  }
}
