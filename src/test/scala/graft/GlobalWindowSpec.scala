package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Window}

/** Single-partition-window budget (round-10 verdict item 7): a Window
  * with an empty partitionSpec moves ALL its input to one partition —
  * fine on a bounded input (a gate's handful of rows, a source-count-
  * sized aggregate, the t11 held-out slice), fatal on data. The
  * documented bounded sites used to be auditable only by counting
  * WindowExec warnings in the test log, where hundreds of known lines
  * drowned any new offender. This spec replaces the log grep with a
  * plan check: the EXACT set of queries whose optimized plan contains
  * an empty-partition Window is pinned below; a new global window
  * anywhere on the surface — or a fix that removes one — must touch
  * this whitelist, with a boundedness justification, to go green.
  * (TestSpark silences the WindowExec logger in tests; Bench/Verify
  * keep it.) */
class GlobalWindowSpec extends AnyFunSuite {

  /** Queries allowed an empty-partition Window, each with the bound
    * that makes it safe. Keyed by query name; the value is the
    * justification (shown on failure, kept next to the pin so the
    * whitelist can't grow silently). */
  private val allowed: Map[String, String] = Map(
    "c06_vocab_coverage" ->
      "cumulative coverage over the top-100 TakeOrderedAndProject result — a CONSTANT 100 rows reach the window (the vocab-sized aggregate is cut by limit(100) first)",
    "c13_domain_mixture" ->
      "weight table over the per-source aggregate — |sources| rows (~20), the broadcast side downstream",
    "c19_curriculum_order" ->
      "cumulative count over the difficulty HISTOGRAM — value-domain bounded (≤ ~40k distinct milli-ratios at any corpus size), the c06 class",
    "c18_temperature_mix" ->
      "ordered pairwise Σ n^α over the per-source aggregate — |sources| rows; ordering is the cross-engine float-determinism contract",
    "c22_epoch_budget" ->
      "ordered pairwise Σ n^α / Σ tokens over the per-source TOKEN aggregate — |sources| rows, the c18 class",
    "q39_window_range_frame" ->
      "RANGE frame over the per-day rollup — calendar-domain bounded (~365 rows/yr regardless of data volume)",
    "t11_quality_classifier" ->
      "offset prefix-sum over globalRowNumber's per-partition COUNT table — ≤ spark.sql.shuffle.partitions rows (config-bounded); the row-proportional AUC rank itself is a range-PARTITIONED window since r15 (the eval slice is 25% of the corpus — it was never sample-bounded)",
    "t16_zipf_heaps" ->
      "rank over the top-256 TakeOrderedAndProject result (CONSTANT 256 rows — the vocab aggregate is cut by limit(256) before any window) + OLS ordered sums over ≤256 regression points + 32-bucket cumsums")

  test("only whitelisted queries plan an empty-partition Window") {
    val s = TestSpark.spark
    def hasGlobalWindow(p: LogicalPlan): Boolean =
      p.collectWithSubqueries { case w: Window if w.partitionSpec.isEmpty => w }.nonEmpty
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val plan = fn(s, TestSpark.sf0001).queryExecution.optimizedPlan
      if (hasGlobalWindow(plan)) Some(name) else None
    }
    val unexpected = offenders.filterNot(allowed.contains)
    val vanished = allowed.keySet -- offenders.toSet
    assert(unexpected.isEmpty,
      "NEW empty-partition Window (all rows to one partition) in: " +
        unexpected.mkString(", ") +
        " — justify the bound and whitelist it, or repartition the window")
    assert(vanished.isEmpty,
      s"whitelisted global windows no longer present (stale entries): $vanished")
  }

  test("globalRowNumber equals the single-partition row_number, " +
      "including duplicate leading keys across range boundaries") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.{Window => W}
    val s = TestSpark.spark
    import s.implicits._
    // 5000 rows, leading key heavily duplicated (only 40 distinct
    // values) so range-partition boundaries MUST split between
    // duplicates; doc_id makes the order total, like t11's (prob, id)
    val df = s.range(5000).select(
      (pmod(col("id") * 2654435761L, lit(40)).cast("double") / 7.0).as("prob"),
      col("id").as("doc_id"))
    val expected = df.withColumn("r",
      row_number().over(W.orderBy(col("prob"), col("doc_id"))))
    val got = graft.operators.TextAnalysis.globalRowNumber(
      df, Seq(col("prob"), col("doc_id")), "r")
    assert(got.columns.sorted === expected.columns.sorted)
    val diff = got.select("prob", "doc_id", "r")
      .exceptAll(expected.select("prob", "doc_id", "r"))
    assert(diff.isEmpty, s"distributed rank diverges:\n${diff.take(5).mkString("\n")}")
    // and the distributed form must NOT plan an empty-partition window
    // over the row-proportional input: the only global window allowed
    // is the per-partition count prefix (≤ shuffle.partitions rows)
    val globals = got.queryExecution.optimizedPlan.collectWithSubqueries {
      case w: Window if w.partitionSpec.isEmpty => w
    }
    assert(globals.size <= 1, s"unexpected global windows: $globals")
    globals.foreach(w => assert(w.child.toString.contains("__c") ||
      w.toString.contains("__off"), s"global window is not the count prefix:\n$w"))
  }
}
