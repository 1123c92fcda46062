package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables

/** Approximate/sketch aggregations — the constant-memory versions of
  * exact aggregates, which is what survives a 100 TB cardinality
  * estimate (HyperLogLog++) or quantile (KLL/GK) when the exact form
  * would shuffle the world.
  *
  * Sketch outputs are implementation-defined, so there is no DuckDB
  * hash oracle; a01 gets the driver's rows-only check and SketchSpec
  * asserts the estimates against exact values within published error
  * bounds (HLL++ rsd default 5%; percentile_approx accuracy 10000).
  */
object Sketches {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "a01_approx_sketches" -> ((s, d) =>
      Tables.orders(s, d)
        .groupBy("o_orderpriority")
        .agg(
          approx_count_distinct(col("o_custkey")).as("approx_customers"),
          countDistinct(col("o_custkey")).as("exact_customers"),
          percentile_approx(col("o_totalprice"), lit(0.5), lit(10000)).as("approx_median"),
          asDouble(sum(col("o_totalprice").cast(DecimalType(12, 2)))).as("sum_price"))
        .orderBy("o_orderpriority")),

    // a02: MERGEABLE sketch state — the actual 100 TB cardinality
    // workflow. Each group materializes a DataSketches HLL as bytes
    // (persistable: write per-day/per-partition sketches once, never
    // rescan), and hll_union_agg re-aggregates the SKETCHES — the
    // merged estimate needs only the tiny sketch blobs, not a second
    // pass over the data. Per-priority rows carry their estimate;
    // the ALL row is estimated from the union of the five sketches.
    "a02_hll_mergeable" -> ((s, d) => {
      val perGroup = Tables.orders(s, d)
        .groupBy("o_orderpriority")
        .agg(hll_sketch_agg(col("o_custkey")).as("sketch"),
          countDistinct(col("o_custkey")).as("exact_customers"))
      val groups = perGroup.select(col("o_orderpriority"),
        hll_sketch_estimate(col("sketch")).as("est_customers"),
        col("exact_customers"))
      val merged = perGroup
        .agg(hll_sketch_estimate(hll_union_agg(col("sketch"))).as("est_customers"))
        .select(lit("ALL").as("o_orderpriority"), col("est_customers"),
          lit(null).cast(LongType).as("exact_customers"))
      groups.unionByName(merged).orderBy("o_orderpriority")
    }),

    // a04: oracle-checkable error-bound gate for a01 — the estimates
    // themselves are engine-specific, but "within the published 5%
    // bound of exact" is a property both sides can state: the oracle
    // derives the exact values and pins the assertion; the Spark side
    // flips the *_ok flags to 0 (→ red hash) if a sketch drifts.
    "a04_sketch_bounds" -> ((s, d) =>
      Tables.orders(s, d)
        .groupBy("o_orderpriority")
        .agg(countDistinct(col("o_custkey")).as("exact_customers"),
          // rsd 0.01: the default 5% rsd left one group 9.7% off exact
          // at sf0.01 (1171 vs 1297); at 1% rsd every group measured
          // within 0.8%, giving the 5% assertion real headroom.
          approx_count_distinct(col("o_custkey"), 0.01).as("ap"),
          percentile_approx(col("o_totalprice"), lit(0.5), lit(10000)).as("am"),
          expr("percentile(o_totalprice, 0.5)").as("em"))
        .select(col("o_orderpriority"), col("exact_customers"),
          when(abs(col("ap") - col("exact_customers")) <=
            col("exact_customers") * 0.05, 1L).otherwise(0L).as("hll_ok"),
          when(abs(col("am") - col("em")) <= abs(col("em")) * 0.05, 1L)
            .otherwise(0L).as("median_ok"))
        .orderBy("o_orderpriority")),

    // a05: the mergeable-sketch gate for a02 — estimate-from-union-of-
    // sketches must land within 5% of the exact global distinct. This
    // is the property that makes persisted per-partition sketches
    // trustworthy at 100 TB (re-aggregation without rescanning data).
    "a05_hll_union_bounds" -> ((s, d) => {
      val est = Tables.orders(s, d)
        .groupBy("o_orderpriority")
        .agg(hll_sketch_agg(col("o_custkey")).as("sketch"))
        .agg(hll_sketch_estimate(hll_union_agg(col("sketch"))).as("est"))
      val exact = Tables.orders(s, d)
        .agg(countDistinct(col("o_custkey")).as("exact_total"))
      exact.withColumn("k", lit(1))
        .join(est.withColumn("k", lit(1)), Seq("k"))
        .select(col("exact_total"),
          when(abs(col("est") - col("exact_total")) <=
            col("exact_total") * 0.05, 1L).otherwise(0L).as("union_ok"))
    }),

    // a06: Count-Min frequency sketch — heavy-hitter gate. The sketch
    // is built by a DISTRIBUTED aggregate (df.stat.countMinSketch);
    // only the constant-size blob reaches the driver, which is the
    // CMS consumption pattern at 100 TB: persist/ship the ~1 MB blob,
    // answer point frequency queries in O(depth) forever, never
    // rescan. The two driver-side materializations here are both
    // O(1)-bounded — the blob and a 5-row top-k — not data collects.
    // Gate: CMS guarantees est ≥ exact, and est ≤ exact + ε·N with
    // probability ≥ confidence; the flags turn 0 (→ red hash vs the
    // oracle's pinned 1s) if either side of the bound breaks.
    "a06_cms_heavy_hitters" -> ((s, d) => {
      import s.implicits._
      import graft.Checkpoint.TruncateOps
      val eps = 1e-4
      val cms = Tables.lineitem(s, d).select(col("l_suppkey"))
        .stat.countMinSketch(col("l_suppkey"), eps, 0.99, 42)
      // one lineitem scan feeds BOTH the top-5 and the ε·N slack
      // total: the per-key counts are lazily truncated and N rides
      // them as sum(exact_n) — no separate count() job
      val counts = Tables.lineitem(s, d).groupBy("l_suppkey")
        .agg(count(lit(1)).as("exact_n")).truncatedLazy
      val top = counts
        .orderBy(col("exact_n").desc, col("l_suppkey")).limit(5)
        .crossJoin(broadcast(counts.agg(sum(col("exact_n")).as("n_total"))))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      top.toSeq.map { case (k, exact, n) =>
        val est = cms.estimateCount(k)
        val slack = math.ceil(eps * n).toLong
        (k, exact, if (est >= exact && est - exact <= slack) 1L else 0L)
      }.toDF("l_suppkey", "exact_n", "cms_ok")
        .orderBy(col("exact_n").desc, col("l_suppkey"))
    }),

    // a07: MERGEABLE QUANTILE sketch — an equi-width 64-bin histogram
    // built PER SHARD and merged by plain vector addition (bin-wise
    // sum), the property KLL/t-digest also sell: per-partition
    // sketches persist once and re-aggregate forever without
    // rescanning data (a02's workflow, for quantiles). Unlike
    // percentile_approx's opaque internal state, every step here is
    // replayable arithmetic, so the ESTIMATES themselves are
    // hash-exact against the oracle — and the within_ok gate pins the
    // sketch's error contract: an equi-width histogram's quantile
    // estimate (linear interpolation inside the covering bin) is off
    // by at most one bin width. Shapes: a 1-row aggregate (bounds, n
    // and the reference quantiles) is collected; a second pass bins
    // rows with those bounds as literals, and two hash aggregates
    // build and merge the shard histograms, collected as ≤ 64 bins.
    // The cumulative count, the bin pick and the interpolation run on
    // the driver over those bins, the way StreamingSpec's micro-batch
    // histogram fixes its bounds up front; Catalyst rounds the
    // estimate and evaluates the gate over the 3-row local result,
    // which is built in q order (no sort).
    "a07_histogram_quantiles" -> ((s, d) => {
      import s.implicits._
      val price = col("o_totalprice").cast(DecimalType(12, 2)).cast(DoubleType)
      val o = Tables.orders(s, d)
        .select(price.as("x"), pmod(col("o_orderkey"), lit(8)).as("shard"))
      // The within_ok gate compares at ONE-BIN-WIDTH resolution, so
      // the reference quantiles use the distributed GK sketch
      // (percentile_approx, rank error ≤ n/10000 ⋘ a bin) rather
      // than exact percentile's single-group sort — t09's documented
      // 100 TB swap, applied here up front (the exact form measured
      // 4.9× at 10× rows; this leg is why).
      // NOTE (r14 advice): the GK merge is partition/ORDER sensitive,
      // so the reference quantiles can shift WITHIN a bin with the
      // scan's split count (core count, scale, file layout). The
      // one-bin-width gate absorbs exactly that; if the gate ever
      // tightens below a bin, derive the references from an
      // order-insensitive pass (exact percentile over the binned
      // midpoints) instead.
      val mm = o.agg(min(col("x")), max(col("x")), count(lit(1)),
        percentile_approx(col("x"), lit(0.5), lit(10000)),
        percentile_approx(col("x"), lit(0.9), lit(10000)),
        percentile_approx(col("x"), lit(0.99), lit(10000))).head()
      val (mn, mx, n) = (mm.getDouble(0), mm.getDouble(1), mm.getLong(2))
      val width = (mx - mn) / 64.0
      val bins = o
        .withColumn("bin",
          least(floor((col("x") - lit(mn)) / ((lit(mx) - lit(mn)) / 64.0)),
            lit(63.0)).cast(LongType))
        .groupBy("shard", "bin").agg(count(lit(1)).as("cnt")) // shard sketches
        .groupBy("bin").agg(sum(col("cnt")).as("cnt"))        // the merge
        .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1) // ≤ 64 bins
      val cum = bins.scanLeft(0L)(_ + _._2).tail
      // (q, its reference quantile's column in mm); cum ends at n ≥ q·n
      Seq(0.5 -> 3, 0.9 -> 4, 0.99 -> 5).map { case (q, i) =>
        val target = q * n
        val k = cum.indexWhere(_ >= target)
        val (bin, cnt) = bins(k)
        (q, mn + width * (bin + (target - (cum(k) - cnt)) / cnt), mm.getDouble(i))
      }.toDF("q", "raw_est", "exact")
        .select(col("q"), round(col("raw_est"), 6).as("est"), col("exact"))
        .select(col("q"), col("est"),
          when(abs(col("est") - col("exact")) <= lit(width), 1L)
            .otherwise(0L).as("within_ok"))
    }),

    // a08: ROLLING-WINDOW DISTINCT via mergeable HLL partials — the
    // precompute-partials workflow every metrics store runs for
    // "7-day active users": ONE pass over the events builds one HLL
    // sketch per day (the persisted partial), and every rolling
    // window is then a union-merge of ≤7 sketches — the raw events
    // are never re-scanned per window, which is the whole point (the
    // naive per-window COUNT DISTINCT re-reads W days of events for
    // every output day). The window-merge join is calendar-bounded:
    // |days| × ≤7 sketch rows, independent of event volume — at
    // 100 TB the partials table IS the operand, not the events. The
    // exact leg exists only to price the gate on the fixture (the
    // a05 convention); window_ok pins the estimate within the HLL
    // error envelope for EVERY window.
    "a08_rolling_distinct" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .select(to_date(col("ts")).as("day"), col("user_id"))
      val partials = ev.groupBy("day")
        .agg(hll_sketch_agg(col("user_id")).as("sk"))
      val days = partials.select(col("day").as("w_day"))
      val est = days.join(partials,
          datediff(col("w_day"), col("day")).between(0, 6))
        .groupBy("w_day")
        .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("est_users"))
      val exact = ev.join(days,
          datediff(col("w_day"), col("day")).between(0, 6))
        .groupBy("w_day")
        .agg(countDistinct(col("user_id")).as("exact_users"))
      est.join(exact, Seq("w_day"))
        .select(col("w_day"), col("exact_users"),
          when(abs(col("est_users") - col("exact_users")) <=
            col("exact_users") * 0.05 + lit(5.0), 1L)
            .otherwise(0L).as("window_ok"))
        .orderBy("w_day")
    }),

    // a09: SKETCH SET-INTERSECTION — audience-overlap estimation via
    // inclusion–exclusion over mergeable HLL sketches: |A∩B| ≈
    // est(A) + est(B) − est(A∪B). HLL unions compose exactly
    // (a02/a05); intersections do NOT — inclusion–exclusion is the
    // standard workaround, and its error scales with the operand SET
    // sizes, not the intersection, which is exactly what the gate
    // pins. Workflow this sells at 100 TB: the events are scanned
    // ONCE to build one persisted sketch per segment (a02's partial),
    // then EVERY pairwise overlap cell — all |segments|² of them — is
    // answered from the |segments|-row sketch table alone, no
    // re-scan per cell (the naive exact form re-shuffles the events
    // for every pair). The pair join is a bounded NLJ over the 5-row
    // sketch aggregate (≤ |types|² cells by construction); the exact
    // leg — fixture-only, pricing the gate per the a05/a08
    // convention — self-joins the distinct (type, user) relation equi
    // on user_id. overlap_ok pins |est − exact| within 5% of
    // |A|+|B| (three ~1.6%-rsd estimates of sets ≤ |A|+|B| compound
    // inside it) plus the a08 small-count slack.
    "a09_hll_intersection" -> ((s, d) => {
      val (est, exact) = overlapLegs(s, d)
      est.join(exact, Seq("type_a", "type_b"))
        .select(col("type_a"), col("type_b"), col("exact_overlap"),
          when(abs(col("est_overlap") - col("exact_overlap")) <=
            col("nd_sum") * 0.05 + lit(5.0), 1L).otherwise(0L)
            .as("overlap_ok"))
        .orderBy("type_a", "type_b")
    })
  )

  /** a09's two legs, SHARED with SkewAndSketchSpec's headroom test so
    * the measured half-gate guarantee always describes the registered
    * query (a drifted copy would silently keep measuring the old
    * construction). Returns (est, exact): est has one row per
    * event-type pair with the inclusion–exclusion estimate and the
    * nd_sum error-envelope term; exact has the pair's true overlap. */
  private[graft] def overlapLegs(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val tu = Tables.events(s, d).select(col("event_type"), col("user_id"))
    val sk = tu.groupBy("event_type")
      .agg(hll_sketch_agg(col("user_id")).as("sk"),
        countDistinct(col("user_id")).as("nd"))
    val est = sk.as("a").join(sk.as("b"),
        col("a.event_type") < col("b.event_type"))
      .select(col("a.event_type").as("type_a"),
        col("b.event_type").as("type_b"),
        (hll_sketch_estimate(col("a.sk")) + hll_sketch_estimate(col("b.sk")) -
          hll_sketch_estimate(hll_union(col("a.sk"), col("b.sk"))))
          .as("est_overlap"),
        (col("a.nd") + col("b.nd")).as("nd_sum"))
    val du = tu.distinct()
    val exact = du.select(col("event_type").as("type_a"), col("user_id"))
      .join(du.select(col("event_type").as("type_b"), col("user_id")),
        Seq("user_id"))
      .filter(col("type_a") < col("type_b"))
      .groupBy("type_a", "type_b")
      .agg(count(lit(1)).as("exact_overlap"))
    (est, exact)
  }

  private def asDouble(c: org.apache.spark.sql.Column) = c.cast(DoubleType)

  // Sketch ESTIMATES are engine-specific (no hash oracle for a01/a02);
  // their error-bound companions a04/a05 are fully oracle-checkable.
  val oracle: Map[String, String] = Map(
    "a04_sketch_bounds" -> """
      SELECT o_orderpriority,
        COUNT(DISTINCT o_custkey) AS exact_customers,
        CAST(1 AS BIGINT) AS hll_ok,
        CAST(1 AS BIGINT) AS median_ok
      FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""",

    "a05_hll_union_bounds" -> """
      SELECT COUNT(DISTINCT o_custkey) AS exact_total,
        CAST(1 AS BIGINT) AS union_ok
      FROM orders""",

    "a06_cms_heavy_hitters" -> """
      SELECT l_suppkey, COUNT(*) AS exact_n, CAST(1 AS BIGINT) AS cms_ok
      FROM lineitem GROUP BY l_suppkey
      ORDER BY exact_n DESC, l_suppkey LIMIT 5""",

    // a07: the histogram estimate replayed step for step (same bin
    // rule, same interpolation); within_ok is the pinned bound
    "a07_histogram_quantiles" -> """
      WITH o AS (
        SELECT CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS x
        FROM orders),
      mm AS (
        SELECT MIN(x) AS mn, MAX(x) AS mx, COUNT(*) AS n FROM o),
      h AS (
        SELECT LEAST(FLOOR((x - mn) / ((mx - mn) / 64.0)), 63) AS bin,
               COUNT(*) AS cnt
        FROM o, mm GROUP BY 1),
      c AS (
        SELECT bin, cnt, SUM(cnt) OVER (ORDER BY bin
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        FROM h),
      qv AS (SELECT unnest([0.5, 0.9, 0.99]) AS q),
      pick AS (
        SELECT q, MIN(bin) AS bin
        FROM qv, c, mm WHERE c.cum >= q * mm.n GROUP BY q)
      SELECT p.q,
        ROUND(mm.mn + ((mm.mx - mm.mn) / 64.0) *
          (p.bin + (p.q * mm.n - (c.cum - c.cnt)) / c.cnt), 6) AS est,
        CAST(1 AS BIGINT) AS within_ok
      FROM pick p JOIN c ON c.bin = p.bin CROSS JOIN mm
      ORDER BY p.q""",

    // a08: exact rolling distinct replayed day for day; window_ok is
    // the pinned HLL bound (the a05 convention). ts normalized to µs
    // TIMESTAMP before the DATE cast (the q55 rule).
    "a08_rolling_distinct" -> """
      WITH ev AS (
        SELECT DISTINCT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
               user_id
        FROM events),
      days AS (SELECT DISTINCT day AS w_day FROM ev)
      SELECT w_day, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
        CAST(1 AS BIGINT) AS window_ok
      FROM days JOIN ev ON ev.day BETWEEN w_day - 6 AND w_day
      GROUP BY w_day ORDER BY w_day""",

    // a09: exact pairwise overlap replayed; overlap_ok is the pinned
    // inclusion–exclusion error envelope (the a04/a05 convention)
    "a09_hll_intersection" -> """
      WITH tu AS (SELECT DISTINCT event_type, user_id FROM events)
      SELECT a.event_type AS type_a, b.event_type AS type_b,
        CAST(COUNT(*) AS BIGINT) AS exact_overlap,
        CAST(1 AS BIGINT) AS overlap_ok
      FROM tu a JOIN tu b ON a.user_id = b.user_id
        AND a.event_type < b.event_type
      GROUP BY 1, 2 ORDER BY type_a, type_b""")
}
