package graft

import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan quality gate — the 100 TB design stance, asserted.
  *
  * Correctness gates (DuckDB oracle) prove the VALUES; this suite
  * proves the PLANS: filters reach the parquet scan, projections
  * prune the read schema, small sides broadcast, hinted shuffle-hash
  * joins stick, top-k stays a TakeOrdered, and nothing in the whole
  * registered surface falls back to an unbanded cartesian product.
  * Plans are built (not executed) for almost every query, so the
  * suite stays cheap; the exceptions are builders with an eager
  * bounded action (s09/s10's PCA fit, the LSH geometry count, c15's
  * query-term and corpus-stats collects, a07's bounds and bins) whose
  * cost is the a06 class — constant-size driver work, paid once per
  * plan construction.
  */
class PlanQualitySpec extends AnyFunSuite {
  lazy val s = TestSpark.spark
  val d = TestSpark.sf0001

  private def plan(name: String): String =
    SparkEntry.queries(name)(s, d).queryExecution.executedPlan.toString

  test("q01: filter is pushed to the parquet scan and unused columns are pruned") {
    val p = plan("q01_pricing_summary")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"),
      s"filter not pushed down:\n$p")
    // only 6 of lineitem's 11 columns are referenced; the scan must not read the rest
    Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber").foreach(c =>
      assert(!p.contains(c), s"unpruned column $c in scan:\n$p"))
  }

  test("q01: aggregation runs inside whole-stage codegen") {
    // codegen spans only appear in the FINAL adaptive plan — run the
    // query (sf0.001, trivial), then inspect what actually executed
    val df = SparkEntry.queries("q01_pricing_summary")(s, d)
    df.collect() // count() would build a DIFFERENT plan; run this one
    val p = df.queryExecution.executedPlan.toString
    // codegen'd operators render with the "*(n)" stage prefix
    assert(p.contains("WholeStageCodegen") || p.contains("*("), s"no codegen span:\n$p")
    assert(p.contains("HashAggregate"), s"no hash aggregate:\n$p")
  }

  test("dimension joins broadcast (q03, q05)") {
    Seq("q03_shipping_priority", "q05_nation_revenue").foreach { q =>
      assert(plan(q).contains("BroadcastHashJoin"), s"$q lost its broadcast join")
    }
  }

  test("dedup candidate joins stay partitioned hash joins, never sort-merge or broadcast") {
    Seq("d02_dedup_minhash", "d04_ngram_jaccard", "d08_embedding_neardup_lsh")
      .foreach { q =>
        val p = plan(q)
        assert(p.contains("ShuffledHashJoin"), s"$q lost its hinted shuffle-hash join")
        assert(!p.contains("SortMergeJoin"), s"$q fell back to sort-merge:\n$p")
        assert(!p.contains("BroadcastHashJoin"),
          s"$q broadcasts a post-aggregate intermediate (single-thread hash build, OOM at scale)")
      }
  }

  test("d02 signs documents in one row-local projection, not a doc_id aggregate") {
    // The signature is the native MinHashSignature kernel over each
    // document's tokens: no shingle explode, no exchange on doc_id and
    // no 32-min aggregate. The only HashAggregate left is the candidate
    // pairs' distinct.
    val p = plan("d02_dedup_minhash")
    assert(p.contains("minhash_signature("), s"d02 lost the native signature kernel:\n$p")
    assert(!p.contains("keys=[doc_id"), s"d02 aggregates on doc_id again:\n$p")
    assert(!p.contains("min("), s"d02 computes min aggregates again:\n$p")
  }

  test("c15 scores documents in one kernel projection; a07 bins with collected bounds") {
    // c15's corpus stats and df reach the bm25_scores kernel as its
    // model, and a07's bounds reach the binning pass as literals: no
    // broadcast nested-loop join for a 1-row side, no global Window.
    val c15 = plan("c15_bm25_topk")
    assert(c15.contains("bm25_scores("), s"c15 lost the native BM25 kernel:\n$c15")
    val a07 = plan("a07_histogram_quantiles")
    // the 3-row result is a local relation built in q order: no range
    // exchange and no sort for it
    assert(!a07.contains("Exchange") && !a07.contains("Sort"), s"a07 sorts its result:\n$a07")
    Seq("c15" -> c15, "a07" -> a07).foreach { case (q, p) =>
      assert(!p.contains("Window"), s"$q plans a Window:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q plans a nested-loop join:\n$p")
    }
  }

  test("d08 bands on LSH buckets, never a label equi-join (the d05 scale bomb)") {
    // executedPlan, not optimizedPlan: the logical relation prints the
    // table's FULL column list; pruning shows in the scan's ReadSchema.
    val p = plan("d08_embedding_neardup_lsh")
    assert(p.contains("band_idx") && p.contains("band_key"),
      s"d08 lost its LSH band keys:\n$p")
    assert(!p.contains("label"),
      s"d08 must not read or join on label:\n$p")
  }

  test("top-k is TakeOrderedAndProject, not a global sort (q02)") {
    val p = plan("q02_topk_orders")
    assert(p.contains("TakeOrderedAndProject"), s"q02 plans a full sort:\n$p")
  }

  test("i04: the year filter prunes partitions at the scan, not in a data filter") {
    val p = plan("i04_partition_pruning")
    assert(p.contains("PartitionFilters: [") && p.contains("(o_year#") ,
      s"partition filter missing from scan:\n$p")
    // the partition column must NOT appear among pushed data filters
    val pushed = p.split("PushedFilters: ").last.takeWhile(_ != ']')
    assert(!pushed.contains("o_year"), s"o_year leaked into data filters:\n$p")
  }

  test("s01/s06 re-rank is a bounded partial aggregate, not a corpus-wide window") {
    // The per-query top-5 must partially aggregate map-side (a 5-row
    // heap per (q_id, task) — graft.functions.TopKRows), so the
    // re-rank exchange carries ≤ 5 rows per query per map task no
    // matter the corpus size. The window form's partial phase
    // (WindowGroupLimit) bounds the exchange too but still fully
    // SORTS every scored row per task — reject both it and any plain
    // Window re-rank.
    Seq("s01_cosine_topk", "s06_quantized_topk").foreach { q =>
      val p = plan(q)
      assert(p.contains("ObjectHashAggregate"),
        s"$q lost its bounded top-k aggregate:\n$p")
      assert("ObjectHashAggregate".r.findAllIn(p).size >= 2,
        s"$q top-k aggregate is not partial (map-side) + final:\n$p")
      assert(!p.contains("WindowGroupLimit") && !p.contains("Window ["),
        s"$q re-ranks through a window again:\n$p")
    }
  }

  test("i10: both box-filter dimensions are pushed to the z-ordered scan") {
    // z-ordering exists so row-group min/max stats can prune; that
    // only happens if the filters actually reach the parquet reader
    val p = plan("i10_zorder_box")
    val pushed = p.split("PushedFilters: ").last.takeWhile(_ != ']')
    assert(pushed.contains("o_custkey") && pushed.contains("o_orderdate"),
      s"box filters not pushed to the scan:\n$p")
  }

  test("d12: the corpus side reads only the persisted band index, never corpus text") {
    // The whole point of the incremental path: dedup a NEW shard
    // against the index WITHOUT rescanning/re-shingling the corpus.
    // Build the plan over a hand-made shard whose lineage is
    // independent of the documents table — the only parquet scans
    // left must be the index's sigs/bands tables.
    import org.apache.spark.sql.functions._
    val idx = graft.operators.Dedup.minhashIndexDir(s, d)
    val shard = s.range(1).select(
      (col("id") + 9000000L).as("doc_id"),
      lit("web").as("source"),
      lit("the quick brown fox jumps over the lazy dog").as("text"))
    val p = graft.operators.Dedup.incrementalDupes(s, shard, idx)
      .queryExecution.executedPlan.toString
    assert(!p.contains("documents.parquet"),
      s"d12 rescans corpus text — the incremental contract is broken:\n$p")
    assert(p.contains("graft_minhash_idx_") || p.contains("/sigs") || p.contains("/bands"),
      s"d12 does not read the persisted index:\n$p")
    // and the operator itself, as registered, also keeps its corpus
    // side on the index: its ONLY documents scans are shard-side
    // (twin construction), which read-prunes to (doc_id, source, text)
    val full = plan("d12_incremental_dedup")
    assert(full.contains("graft_minhash_idx_"),
      s"registered d12 lost the persisted index:\n$full")
  }

  test("s16: the base-corpus side reads only the persisted IVF index, " +
      "never base embeddings; no Lloyd training in the serving plan") {
    // The incremental contract (FAISS add-with-frozen-codebook): a new
    // shard is assigned to the persisted centroids and served against
    // the persisted cell table — base embeddings are never re-read and
    // no k-means runs. Build the plan over a hand-made shard + query
    // whose lineage is independent of the embeddings table — the only
    // parquet scans left must be the index's cents/cells tables.
    import org.apache.spark.sql.functions._
    val idx = graft.operators.Similarity.ivfIndexDir(s, d)
    val dims = TestSpark.spark.read.parquet(s"$idx/cents")
      .select(org.apache.spark.sql.functions.size(col("cv")))
      .head().getInt(0)
    def fake(id: Long) = s.range(1).select(
      (col("id") + 9000000L + id).as("vec_id"),
      array((0 until dims).map(i => lit((i % 7 + id).toDouble)): _*).as("v"))
    val p = graft.operators.Similarity
      .incrementalIvfTopK(s, fake(0), idx, fake(1))
      .queryExecution.executedPlan.toString
    assert(!p.contains("embeddings.parquet"),
      s"s16 rescans base embeddings — the incremental contract is broken:\n$p")
    assert(p.contains("graft_ivf_idx_"),
      s"s16 does not read the persisted index:\n$p")
    // and the operator itself, as registered, also keeps its base side
    // on the index: its only embeddings scans are shard/query-side
    val full = plan("s16_ann_incremental")
    assert(full.contains("graft_ivf_idx_"),
      s"registered s16 lost the persisted index:\n$full")
  }

  test("s21: the rebalance pass and the rebalanced serving path read only " +
      "index parquet, never base embeddings; no Lloyd training anywhere") {
    // The maintenance contract: cell means come from the ACCUMULATED
    // index members and re-assignment runs against the re-centered
    // codebook — one aggregate + one assignment pass over index
    // parquet. A plan that scans embeddings.parquet would mean the
    // maintenance regressed to a corpus rebuild.
    import org.apache.spark.sql.functions._
    val rb = graft.operators.Similarity.rebalancedIndexDir(s, d)
    val cents = TestSpark.spark.read.parquet(s"$rb/cents")
    val cells = TestSpark.spark.read.parquet(s"$rb/cells")
    // the un-truncated drift pipeline — the same definition
    // driftedCentroids checkpoints — exposes the full lineage
    val p = graft.operators.Similarity.cellDrift(cents, cells)
      .queryExecution.executedPlan.toString
    assert(!p.contains("embeddings.parquet"),
      s"rebalance rescans base embeddings:\n$p")
    assert(p.contains("graft_ivf_idx_"),
      s"rebalance does not read the persisted index:\n$p")
    // serving from the rebalanced index: lineage-independent fake
    // query (the s16 pin's trick) — only index scans may remain
    val dims = cents.select(size(col("cv"))).head().getInt(0)
    val fakeQ = s.range(1).select(
      (col("id") + 9100000L).as("vec_id"),
      array((0 until dims).map(i => lit((i % 5 + 1).toDouble)): _*).as("v"))
    val sp = graft.operators.Similarity.indexTopK(s, rb, fakeQ)
      .queryExecution.executedPlan.toString
    assert(!sp.contains("embeddings.parquet"),
      s"rebalanced serving path rescans base embeddings:\n$sp")
    assert(sp.contains("graft_ivf_idx_"),
      s"rebalanced serving path does not read the persisted index:\n$sp")
  }

  test("s11 filtered search pre-filters via a broadcast HASH join on label") {
    // the label constraint must plan as an equality hash join against
    // the broadcast query set — pre-filter semantics with no
    // (query × corpus) pair ever materialized; an NLJ here would mean
    // the filter degenerated to a post-scored predicate
    val p = plan("s11_filtered_topk")
    assert(p.contains("BroadcastHashJoin"), s"s11 lost its label hash join:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"s11 fell back to a nested-loop scan of all pairs:\n$p")
  }

  test("t10 tokenizer scan reads only (doc_id, text)") {
    val p = plan("t10_tokenizer_apply")
    // documents carries lang/source/n_chars too — every scan's
    // ReadSchema must prune them (checking the whole plan string
    // would false-positive on "java.lang.String" in object nodes)
    val schemas = """ReadSchema: struct<([^>]*)>""".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    assert(schemas.nonEmpty, s"no parquet scan found:\n$p")
    schemas.foreach(sch =>
      Seq("lang", "source", "n_chars").foreach(c =>
        assert(!sch.contains(c), s"unpruned column $c in t10 scan: $sch")))
  }

  test("q58 streak scan reads only (user_id, ts); d17 novelty scan only " +
      "(doc_id, text)") {
    // same pruning pin as t10: the events/documents scans must not
    // drag unused columns through the shuffle
    val q58 = """ReadSchema: struct<([^>]*)>""".r
      .findAllMatchIn(plan("q58_longest_streak")).map(_.group(1)).toSeq
    assert(q58.nonEmpty)
    q58.foreach(sch => Seq("event_type", "value", "props").foreach(c =>
      assert(!sch.contains(c), s"unpruned column $c in q58 scan: $sch")))
    val d17 = """ReadSchema: struct<([^>]*)>""".r
      .findAllMatchIn(plan("d17_novelty_score")).map(_.group(1)).toSeq
    assert(d17.nonEmpty)
    d17.foreach(sch => Seq("lang", "source", "n_chars").foreach(c =>
      assert(!sch.contains(c), s"unpruned column $c in d17 scan: $sch")))
  }

  test("i13 time travel plans over the manifest's file list, not a directory listing") {
    import graft.sources.SnapshotLog
    val table = SnapshotLog.snapshottedOrders(s, d)
    val m1 = SnapshotLog.readManifest(s, table, 1L).get
    val p = SnapshotLog.readAt(s, table, 1L).queryExecution.executedPlan.toString
    // the poison shard's file (v2-only) must be absent from the scan
    val shardFiles = SnapshotLog.readManifest(s, table, 2L).get.files
      .filterNot(m1.files.toSet).map(_._1)
    assert(shardFiles.nonEmpty)
    // executedPlan truncates long file lists; assert via the scan's
    // actual selected partitions instead: count rows per input file
    val perFile = SnapshotLog.readAt(s, table, 1L)
      .select(org.apache.spark.sql.functions.col("_metadata.file_path"))
      .distinct().collect().map(r =>
        new org.apache.hadoop.fs.Path(r.getString(0)).toUri.getPath).toSet
    assert(perFile === m1.files.map(_._1).toSet,
      s"v1 read scanned files outside its manifest:\n$p")
  }

  test("no query in the registered surface plans a cartesian product") {
    // Brute-force similarity scans legitimately cross-join a BROADCAST
    // side of bounded size (10 query vectors / K centroids) — the scan
    // side streams once, which IS the linear plan. The recall/bound
    // assertion rows (s04/s05, d06/d07, a05) additionally join two
    // 1-row scalar aggregates on a literal key, which constant-folds
    // to a 1×1 broadcast NLJ — bounded by construction. Everything
    // else must be equi-join shaped.
    // c06 attaches a 1-row corpus-total scalar to a 100-row top-k via
    // explicit broadcast crossJoin — bounded by construction, same class.
    val broadcastNljOk = Set("s01_cosine_topk", "s03_ann_ivf",
      "s04_lsh_recall", "s05_ivf_recall",
      "d06_minhash_recall", "d07_simhash_recall", "d09_embedding_lsh_recall",
      // d12's recall row is the same two-1-row-aggregates literal join;
      // d13/d14 assign IVF cells via crossJoin(broadcast(K centroids))
      // — bounded by construction, the s03 class.
      "d12_incremental_dedup", "d13_semantic_dedup", "d14_semdedup_recall",
      // s08/s10 are the s04-class recall rows; s09 shortlists via
      // crossJoin(broadcast(10 query vectors)) — the s01 class; t09
      // attaches a 1-row exact-percentile threshold via explicit
      // broadcast crossJoin — bounded by construction, the c06 class.
      "s08_pq_recall", "s09_pca_topk", "s10_pca_recall",
      "m04_phash_twin_recall", // same two-1-row-aggregates literal join
      // t11 attaches its 1-row median-threshold teacher label via
      // explicit broadcast crossJoin — bounded by construction, the
      // t09 class
      "t09_lm_quality_filter", "t11_quality_classifier",
      "a05_hll_union_bounds", "c06_vocab_coverage",
      // s12 assigns IVF cells via crossJoin(broadcast(K centroids)) —
      // the s03/d13 class; s13 additionally scores the corpus against
      // crossJoin(broadcast(50 probe vectors)) — the s01 class — and
      // joins two 1-row aggregates on a literal key
      "s12_knn_graph", "s13_knn_graph_recall",
      // c16 attaches its 1-row cross-split-edge gate via explicit
      // broadcast crossJoin — bounded by construction, the c06 class
      "c16_leakage_safe_split",
      // t13 attaches the 1-row corpus doc count via explicit broadcast
      // crossJoin — bounded by construction, the c06 class
      "t13_keyword_extract",
      // s14 scans the corpus against crossJoin(broadcast(10 query
      // vectors)) — the s01 class; c17 attaches the 1-row corpus mean
      // via explicit broadcast crossJoin — the c06 class
      "s14_radius_search", "c17_source_prior",
      // s16 assigns the shard and the queries to the FROZEN centroids
      // via crossJoin(broadcast(16 centroid rows)) — the s03/d13
      // class; s17 is the s04-class recall row on top of it; s21
      // probes the rebalanced codebook the same way and embeds the
      // s01-class exact leg
      "s16_ann_incremental", "s17_incremental_recall", "s21_ann_rebalance",
      // q54 joins three 1-row step counts on a literal key — the a05
      // two-1-row-aggregates class
      "q54_event_funnel",
      // s15 scans doc subvectors against crossJoin(broadcast(80 query
      // subvector rows)) — the s01 class
      "s15_maxsim_topk",
      // c19 attaches the 1-row quartile-cut triple via explicit
      // broadcast crossJoin — bounded by construction, the c06 class
      "c19_curriculum_order",
      // a08's window-merge joins are calendar-bounded non-equi joins
      // (|days| × ≤7 partial sketches; days is a few-dozen-row
      // broadcast side) — bounded by construction, never event-sized
      "a08_rolling_distinct",
      // a09's pair join is |event-types|² over the 5-row sketch
      // aggregate (≤25 cells) — bounded by construction; the exact
      // leg stays equi on user_id
      "a09_hll_intersection",
      // t16 attaches the 1-row max-doc-id via explicit broadcast
      // crossJoin (twice: token buckets, first-seen buckets) — the
      // c06 class
      "t16_zipf_heaps",
      // i25 joins two 1-row scalar aggregates on a literal key — the
      // a05 class
      "i25_ndv_stats",
      // s18's cosine leg scans the corpus against crossJoin(broadcast
      // (≤50 probe vectors)) — the s01 class; its BM25 leg is c15's
      // join-free kernel projection. s20's shortlist build is the same
      // s01-class probe crossJoin
      "s18_hybrid_rrf", "s20_mmr_diversify",
      // st07 attaches its 1-row late-kept/dropped accounting via
      // explicit broadcast crossJoin — bounded by construction, the
      // c06 class
      "st07_late_data_drop")
    SparkEntry.queries.keys.toSeq.sorted.foreach { q =>
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q plans CartesianProduct")
      if (!broadcastNljOk(q))
        assert(!p.contains("BroadcastNestedLoopJoin"),
          s"$q plans BroadcastNestedLoopJoin")
    }
  }

  test("c14's Bloom probe is a native Catalyst expression, not a Scala UDF") {
    // r13 verdict item 3: the sketch must be built by
    // BloomFilterAggregate on the executors and probed by the
    // codegen'd BloomFilterMightContain — a ScalaUDF node would mean
    // the probe regressed to a driver-built closure.
    val p = plan("c14_bloom_decontaminate")
    assert(!p.contains("ScalaUDF") && !p.toLowerCase.contains("pythonudf"),
      s"c14 plans a UDF probe:\n$p")
    assert(p.contains("might_contain"), s"c14 lost the native Bloom probe:\n$p")
  }
}
