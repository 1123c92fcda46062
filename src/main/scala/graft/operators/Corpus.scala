package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.graftbridge.ColumnBridge.{column => native, expression}
import graft.Tables
import graft.Checkpoint.TruncateOps
import graft.functions.{Bm25Model, Bm25Scores}

/** Corpus-preparation operators — the remaining steps a large-scale
  * LM training-data pipeline runs between raw scans (t01–t06 text
  * analysis) and dedup (d01–d07): repetition-based quality filtering,
  * sequence packing, duplicate clustering, stratified sampling, and
  * per-label embedding centroids. The reference has none of this
  * (its pipeline is scan→insert, `/root/reference/src/main.rs:75-100`);
  * all five are pure extension surface.
  *
  * Scale stance: c01/c02/c04 are scan + per-key window/aggregate
  * shapes (shuffle linear in rows, no global sort); c03 is the
  * standard iterative min-label propagation whose rounds touch only
  * (id, component) pairs; c05 is one explode + hash aggregate.
  */
object Corpus {

  /** Tokens per packed training sequence (c02). */
  private val SeqLen = 4096

  /** The BM25 candidate relation (q_id, doc_id, score) that c15 ranks
    * and s18's hybrid fusion consumes at depth 20: one definition of
    * corpus, queries and scoring for both. The corpus is the documents
    * with `doc_id % 101 != 0`; the queries are the ≤ 50 documents with
    * `doc_id % 101 = 0` and `doc_id < 5050`. Score is the 6-dp ROUNDED
    * per-(query, doc) sum, the rank key both engines compare
    * identically.
    *
    * Three steps: the query side is computed once, and the corpus rows
    * are touched in one pass.
    *   1. Collect the distinct terms of each query document.
    *   2. Collect one corpus aggregate grouped by term: the null-term
    *      group gives `n_docs` and Σ`dl`, and one group per query term
    *      gives its `df` (≤ |vocab| + 1 rows).
    *   3. Score each corpus document in one row-local projection,
    *      [[graft.functions.Bm25Scores]] over its tokens, which emits
    *      `(q_id, raw score)` for every query sharing a term with it.
    * The 1-row stats and the df table reach step 3 as the kernel's
    * model, not as broadcast joins, so no join, window or exchange
    * touches the scored rows.
    *
    * Key contract: `doc_id` is unique in the documents table (it is in
    * every fixture and in the benchmark's generated tables). The kernel
    * scores each row alone, so rows sharing a doc_id would come out as
    * separate candidates, not as one merged document. */
  private[graft] def bm25Candidates(s: SparkSession, d: String): DataFrame =
    // steps 1 and 2 are small collects: the unfanned scan saves the
    // fan-out's exchange, which only step 3's per-row work pays back
    bm25Candidates(Tables.table(s, d, "documents"), Tables.documents(s, d))

  /** [[bm25Candidates]] over a documents relation: steps 1 and 2 read
    * `docs`, step 3 scores the rows of `scan`, the same documents
    * (possibly fanned out). */
  private[graft] def bm25Candidates(docs: DataFrame, scan: DataFrame): DataFrame = {
    val words = split(lower(col("text")), "\\s+")
    val toks = array_remove(words, lit(""))
    // FIXED query set (≤50 probes: %101 picks within the first 5050
    // ids — the s01 convention). A query workload that grew with
    // the corpus would square the candidate space on this tiny-
    // vocabulary fixture (measured 16.6× at 10× rows when the cap
    // was absent); retrieval QPS is a workload constant, not a
    // corpus property.
    val queryTerms = docs.filter(col("doc_id") % 101 === 0 && col("doc_id") < 5050)
      .select(col("doc_id"), array_distinct(toks)).collect().toSeq
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) Nil else r.getSeq[String](1)))
    val vocab = queryTerms.flatMap(_._2).distinct.sorted
    val stats = docs.filter(col("doc_id") % 101 =!= 0)
      .select(toks.as("t")).filter(size(col("t")) > 0)
      .select(size(col("t")).as("dl"),
        explode(concat(array(lit(null).cast(StringType)),
          array_intersect(col("t"), typedLit(vocab)))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("n"), sum(col("dl")).as("sum_dl"))
      .collect()
    val (nDocs, sumDl) = stats.find(_.isNullAt(0))
      .fold((0L, 0L))(r => (r.getLong(1), r.getLong(2)))
    val df = stats.filterNot(_.isNullAt(0)).map(r => r.getString(0) -> r.getLong(1)).toMap
    val model = Bm25Model(queryTerms, df, nDocs, sumDl, k1 = 1.2, b = 0.75)
    scan.filter(col("doc_id") % 101 =!= 0)
      .select(col("doc_id"), inline(native(Bm25Scores(expression(words), model))))
      .select(col("q_id"), col("doc_id"), round(col("raw_score"), 6).as("score"))
  }

  /** c15's ranking over a BM25 candidate relation: the top 5 per query
    * by (rounded score desc, doc_id), as (q_id, rk, doc_id, score). */
  private[graft] def bm25Top5(cand: DataFrame): DataFrame =
    cand.groupBy("q_id")
      .agg(graft.functions.TopKRows.topk(
        struct((-col("score")).as("ns"), col("doc_id").as("doc_id"),
          col("score").as("score")), 5).as("top"))
      .select(col("q_id"), posexplode(col("top")).as(Seq("pos", "e")))
      .select(col("q_id"), (col("pos") + 1).as("rk"),
        col("e.doc_id").as("doc_id"), col("e.score").as("score"))
      .orderBy("q_id", "rk")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // c01: repetition-based quality filter (the Gopher-style rules
    // adapted to a lineless corpus): fraction of duplicate tokens and
    // the char share of the most frequent bigram. Two hash aggregates
    // over exploded tokens, joined per doc — no global state, so the
    // pass stays scan-shaped at any corpus size.
    "c01_repetition_filter" -> ((s, d) => {
      val tokRows = Tables.documents(s, d)
        .select(col("doc_id"),
          posexplode(split(lower(col("text")), "\\s+")).as(Seq("pos", "tok")))
      val tokStats = tokRows.groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens"), countDistinct(col("tok")).as("n_distinct"))
      val w = Window.partitionBy("doc_id").orderBy("pos")
      val biCounts = tokRows
        .withColumn("t2", lead("tok", 1).over(w))
        .filter(col("t2").isNotNull)
        .groupBy(col("doc_id"), concat_ws(" ", col("tok"), col("t2")).as("bigram"))
        .agg(count(lit(1)).as("n"))
      val biStats = biCounts.groupBy("doc_id")
        .agg(max(col("n")).as("top_bigram_n"), sum(col("n")).as("n_bigrams"))
      val dupFrac = lit(1.0) -
        col("n_distinct").cast(DoubleType) / col("n_tokens").cast(DoubleType)
      val topFrac = coalesce(
        col("top_bigram_n").cast(DoubleType) / col("n_bigrams").cast(DoubleType),
        lit(0.0))
      tokStats.join(biStats, Seq("doc_id"), "left_outer")
        .select(col("doc_id"), col("n_tokens"),
          round(dupFrac, 6).as("dup_token_frac"),
          round(topFrac, 6).as("top_bigram_frac"),
          // keep-decision on the RAW fractions (rounding mirrored in SQL)
          when(topFrac > 0.2 || dupFrac > 0.5, 0L).otherwise(1L).as("keep"))
        .orderBy("doc_id")
    }),

    // c02: sequence packing — assign docs to fixed-token-budget
    // training sequences by a running token count PER SOURCE (the
    // shard key). The window never crosses sources, so at 100 TB each
    // shard packs independently — no global sort, no global cumsum.
    "c02_sequence_packing" -> ((s, d) => {
      val w = Window.partitionBy("source").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.documents(s, d)
        .select(col("source"), col("doc_id"),
          size(split(lower(col("text")), "\\s+")).cast(LongType).as("n_tokens"))
        .withColumn("cum", sum(col("n_tokens")).over(w))
        .select(col("source"), col("doc_id"), col("n_tokens"),
          // bin = tokens packed before me, integer-divided by budget
          floor((col("cum") - col("n_tokens")).cast(DoubleType) / SeqLen)
            .as("seq_id"))
        .orderBy("source", "doc_id")
    }),

    // c03: duplicate CLUSTERS — connected components over the exact
    // near-dup pairs (d04's edge set), via alternating large-star /
    // small-star contraction (see [[connectedComponents]]): O(log n)
    // rounds independent of cluster diameter, each round two hash
    // aggregates + joins over bare (node, parent) pairs. The per-round
    // driver probe reads one (count, hash-sum) fingerprint row — a
    // Pregel-style stop condition, not a data collect.
    "c03_dup_clusters" -> ((s, d) => {
      val edges = Dedup.ngramJaccardPairs(Tables.documents(s, d))
        .select(col("doc_a"), col("doc_b"))
      connectedComponents(edges).df
        .select(col("id").as("doc_id"), col("component")).orderBy("doc_id")
    }),

    // c12: cluster CANONICALIZATION — the step that turns c03's dup
    // clusters into an actionable keep/drop list: within each
    // component the canonical copy is the longest text (tie: min
    // doc_id — "keep the richest copy" is the standard training-data
    // policy; the rule is one orderBy away from swappable). Shape:
    // components from the O(log n) contraction, one shuffle-hash join
    // back to (doc_id, text_len) rows, one window per component
    // (clusters are small by construction, so the window partition
    // key is fine-grained — no q41-style 5-partition bottleneck).
    "c12_cluster_canonical" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val comp = connectedComponents(
        Dedup.ngramJaccardPairs(docs).select(col("doc_a"), col("doc_b"))).df
      val w = Window.partitionBy("component")
        .orderBy(desc("text_len"), asc("doc_id"))
      docs.select(col("doc_id"), length(col("text")).cast(LongType).as("text_len"))
        .join(comp.select(col("id").as("doc_id"), col("component"))
          .hint("shuffle_hash"), Seq("doc_id"))
        .withColumn("is_canonical",
          when(row_number().over(w) === 1, 1L).otherwise(0L))
        .select(col("component"), col("doc_id"), col("text_len"), col("is_canonical"))
        .orderBy("component", "doc_id")
    }),

    // c04: stratified train-split sampling — exactly ceil(10%) of each
    // language stratum, selected by a deterministic content-free hash
    // order (md5 of the id, the q33 convention) so the split is
    // reproducible across runs/engines and never biased by ingest
    // order. Window per stratum: no global shuffle.
    "c04_stratified_sample" -> ((s, d) => {
      val byHash = Window.partitionBy("lang")
        .orderBy(md5(col("doc_id").cast(StringType)), col("doc_id"))
      Tables.documents(s, d)
        .withColumn("rk", row_number().over(byHash))
        .withColumn("n_lang", count(lit(1)).over(Window.partitionBy("lang")))
        .filter(col("rk") <= ceil(col("n_lang") * 0.1))
        .select(col("lang"), col("doc_id"), col("rk"))
        .orderBy("lang", "rk")
    }),

    // c05: per-label embedding centroids in LONG form (label, dim,
    // centroid) — one posexplode + one hash aggregate, the shape that
    // computes class centroids for IVF coarse quantizers or
    // cluster-balance audits without ever assembling arrays on a
    // single node.
    "c05_label_centroids" -> ((s, d) =>
      Tables.embeddings(s, d)
        .select(col("label"),
          posexplode(col("embedding").cast(ArrayType(DoubleType)))
            .as(Seq("dim", "x")))
        .groupBy("label", "dim")
        .agg(round(avg(col("x")), 6).as("centroid"),
          count(lit(1)).as("n_vecs"))
        .orderBy("label", "dim")),

    // c06: vocabulary coverage — top-100 unigrams with cumulative
    // corpus share, the pass behind vocab building and OOV audits.
    // The corpus-sized work is one hash aggregate; only the
    // VOCAB-sized result is ranked (TakeOrdered top-100, then a
    // 100-row window), so nothing corpus-sized is globally sorted.
    "c06_vocab_coverage" -> ((s, d) => {
      val counts = Tables.documents(s, d)
        .select(posexplode(split(lower(col("text")), "\\s+")).as(Seq("pos", "tok")))
        .groupBy("tok").agg(count(lit(1)).as("n"))
      val total = counts.agg(sum(col("n")).as("total"))
      val top = counts.orderBy(col("n").desc, col("tok")).limit(100)
      val w = Window.orderBy(col("n").desc, col("tok"))
      // scalar-total attach: explicit broadcast crossJoin (100 × 1 row,
      // bounded by construction) — the s01/s04 convention, whitelisted
      // in PlanQualitySpec
      top.crossJoin(broadcast(total))
        .withColumn("rk", row_number().over(w))
        .withColumn("cum", sum(col("n")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .select(col("tok"), col("n"), col("rk"),
          round(col("cum").cast(DoubleType) / col("total").cast(DoubleType), 6)
            .as("cum_coverage"))
        .orderBy("rk")
    }),

    // c07: int8 scalar quantization of embeddings (the storage/ANN
    // compression pass), long form. Per-vector scale from the codegen'd
    // array_max/array_min collection ops — no interpreted lambda; the
    // quantize itself is one posexplode + per-row arithmetic.
    "c07_embedding_quantize" -> ((s, d) => {
      val v = col("embedding").cast(ArrayType(DoubleType))
      Tables.embeddings(s, d)
        .select(col("vec_id"), v.as("v"),
          greatest(array_max(v), -array_min(v)).as("max_abs"))
        .select(col("vec_id"), col("max_abs"),
          posexplode(col("v")).as(Seq("dim", "x")))
        .select(col("vec_id"), col("dim"),
          when(col("max_abs") === 0, 0)
            .otherwise(round(col("x") * 127.0 / col("max_abs"), 0))
            .cast(IntegerType).as("q_val"))
        .orderBy("vec_id", "dim")
    }),

    // c08: benchmark decontamination — per-doc count of distinct word
    // 3-grams shared with a held-out benchmark set (deterministically
    // doc_id % 97 == 0, standing in for an eval suite). Grams are
    // built narrow ([[distinctTrigrams]]: arrays_zip of slices, no
    // shuffle, no interpreted HOF), deduped per doc, and the benchmark
    // gram set is BROADCAST: eval suites are fixed-size (thousands of
    // docs) no matter how big the corpus grows, so at 100 TB this
    // stays one scan + broadcast hash join + two hash aggregates.
    "c08_decontaminate" -> ((s, d) => {
      val grams = distinctTrigrams(s, d)
      val bench = grams.filter(col("doc_id") % 97 === 0)
        .select("gram").distinct()
      val corp = grams.filter(col("doc_id") % 97 =!= 0)
      val tot = corp.groupBy("doc_id").agg(count(lit(1)).as("n_grams"))
      val ov = corp.join(broadcast(bench), Seq("gram"))
        .groupBy("doc_id").agg(count(lit(1)).as("n_overlap"))
      tot.join(ov, Seq("doc_id"), "left_outer")
        .select(col("doc_id"), col("n_grams"),
          coalesce(col("n_overlap"), lit(0L)).as("n_overlap"),
          when(coalesce(col("n_overlap"), lit(0L)) > 0, 1L).otherwise(0L)
            .as("contaminated"))
        .orderBy("doc_id")
    }),

    // c09: deterministic training order — the reproducible "global
    // shuffle" a trainer consumes: rank docs per source by a
    // content-free hash (epoch_rk), tiebreak globally by a second
    // hash (order_key). Reading in (epoch_rk, order_key) order
    // round-robin-interleaves the sources, and BOTH keys are pure
    // functions of ids — any engine replays the identical order. No
    // global row_number: a contiguous index would serialize on one
    // partition; at scale the consumer range-partitions on the same
    // two keys (Spark's distributed sort) and gets the order for free.
    "c09_training_order" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("source"), col("doc_id"))
        .withColumn("epoch_rk", row_number().over(
          Window.partitionBy("source")
            .orderBy(md5(col("doc_id").cast(StringType)), col("doc_id"))))
        .withColumn("order_key",
          md5(concat(col("source"), lit(":"), col("doc_id").cast(StringType))))
        .orderBy("epoch_rk", "order_key")),

    // c11: PageRank over the near-dup graph (d04's edge set,
    // symmetrized) — the centrality pass that ranks "hub" documents
    // inside duplicate neighborhoods (which copy is canonical?).
    // FIXED 5 iterations, damping 0.85: no convergence probe, no
    // driver round-trips at all — each iteration is one join + one
    // hash aggregate on (id) keys, the textbook data-parallel
    // PageRank that scales with the usual equi-join machinery.
    // localCheckpoint truncates the 5-deep lineage exactly like c03.
    // The oracle unrolls the same 5 iterations as chained CTEs.
    "c11_pagerank" -> ((s, d) => {
      val edges = Dedup.ngramJaccardPairs(Tables.documents(s, d))
        .select(col("doc_a"), col("doc_b"))
        .truncated
      val sym = edges
        .union(edges.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
        .truncated
      val deg = sym.groupBy("doc_a").agg(count(lit(1)).as("deg"))
      var rank = deg.select(col("doc_a").as("id"), lit(1.0).as("rank"))
      for (i <- 1 to 5) {
        rank = sym
          .join(rank, sym("doc_a") === rank("id"))
          .join(deg, Seq("doc_a"))
          .select(col("doc_b").as("id"),
            (col("rank") / col("deg").cast(DoubleType)).as("c"))
          .groupBy("id")
          .agg((lit(0.15) + lit(0.85) * sum(col("c"))).as("rank"))
        // cut the plan every OTHER round (values are unaffected by
        // where lineage is cut; two join+agg layers stay well inside
        // codegen limits). LAZY: the cut to LogicalRDD — what keeps
        // per-round planning/codegen bounded — happens immediately,
        // while the blocks pin when the terminal action computes the
        // chain, so the fixed 5-iteration loop costs ONE job total
        // instead of one per truncation point (see Checkpoint
        // scaladoc; the round-5 host-noise measurements made serial
        // job count the loop's dominant cost).
        if (i % 2 == 0 || i == 5) rank = rank.truncatedLazy
      }
      rank.select(col("id").as("doc_id"), round(col("rank"), 6).as("pagerank"))
        .orderBy("doc_id")
    }),

    // c10: context-window chunking — overlapping token windows of 128
    // with stride 96 (the RAG/pretraining chunker). One split per
    // doc, chunk starts from a generated sequence (posexplode gives
    // chunk_idx for free), then codegen'd slice/concat/md5 — the
    // chunk fingerprint lets a downstream exact-dedup (d01) run at
    // chunk granularity without carrying chunk text through the
    // shuffle. Explode fan-out is n_tokens/96 rows per doc: linear,
    // scan-shaped, no shuffle until the final order.
    "c10_doc_chunks" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), split(lower(col("text")), "\\s+").as("toks"))
        .select(col("doc_id"), col("toks"),
          posexplode(sequence(lit(0), size(col("toks")) - 1, lit(96)))
            .as(Seq("chunk_idx", "start_tok")))
        .select(col("doc_id"), col("chunk_idx"), col("start_tok"),
          least(lit(128), size(col("toks")) - col("start_tok")).as("n_chunk_tokens"),
          md5(concat_ws(" ", slice(col("toks"), col("start_tok") + 1, lit(128))))
            .as("chunk_md5"))
        .orderBy("doc_id", "chunk_idx")),

    // c13: DOMAIN MIXTURE — reweight sources toward a target token
    // distribution and MATERIALIZE the epoch-expanded corpus (public
    // technique: domain reweighting as in The Pile's epoch counts and
    // DoReMi's domain weights; the mechanism here is the standard
    // deterministic one, target uniform over sources, upsampling
    // capped at 3 epochs so no source is repeated into memorization).
    //
    // weight(source) = min(total_tokens / (n_sources · source_tokens), 3)
    //   — every doc appears floor(weight) times (epochs 0..floor-1),
    //   plus once more at epoch floor(weight) for the deterministically
    //   chosen fraction (per-source md5 rank, the c04 mechanism) that
    //   realizes the fractional part.
    //
    // Shape: per-source token totals are a tiny aggregate (≤ thousands
    // of sources) — its over-() window and the docs⨝weights join stay
    // broadcast-sized at any corpus scale. The epoch expansion is a
    // narrow explode of at most ceil(weight) ≤ 3 rows per doc; the
    // fractional pick is a per-source rank window, shuffle linear in
    // docs. Nothing quadratic, nothing driver-side.
    "c13_domain_mixture" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("source"),
          size(split(lower(col("text")), "\\s+")).cast(LongType).as("n_toks"))
      val perSrc = docs.groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("toks"))
      val all = Window.partitionBy()
      val weights = perSrc
        .withColumn("total_toks", sum(col("toks")).over(all))
        .withColumn("n_sources", count(lit(1)).over(all))
        .select(col("source"), col("n_docs"),
          least(col("total_toks").cast(DoubleType) /
              (col("n_sources") * col("toks")).cast(DoubleType),
            lit(3.0)).as("weight"))
      val withW = docs.join(broadcast(weights), Seq("source"))
        .withColumn("epochs", floor(col("weight")))
      val fullLeg = withW.filter(col("epochs") >= 1)
        .select(col("source"), col("doc_id"), col("weight"),
          explode(sequence(lit(0L), col("epochs") - 1)).as("epoch"))
      val byRank = Window.partitionBy("source")
        .orderBy(md5(col("doc_id").cast(StringType)), col("doc_id"))
      val fracLeg = withW
        .withColumn("rk", row_number().over(byRank))
        .filter(col("rk") <= round(col("n_docs") * (col("weight") - col("epochs"))))
        .select(col("source"), col("doc_id"), col("weight"),
          col("epochs").as("epoch"))
      fullLeg.unionByName(fracLeg)
        .select(col("source"), col("doc_id"), col("epoch").cast(IntegerType).as("epoch"),
          round(col("weight"), 6).as("weight"))
        .orderBy("source", "doc_id", "epoch")
    }),

    // c14: Bloom-filter decontamination — the constant-memory variant
    // of c08 for when even the benchmark gram SET is inconvenient to
    // ship: the bench grams fold into a ~60 KB Bloom sketch
    // (fpp 1e-4) once, and every corpus gram probes the broadcast
    // sketch with zero shuffle — no join at all on the corpus side,
    // the shape used for web-scale decontamination passes. A Bloom
    // filter has NO false negatives, so every exactly-contaminated
    // doc must be flagged (n_false_neg pinned 0 in the gate row), and
    // per-gram false positives are bounded by fpp — the doc-level FP
    // rate (1 - (1-fpp)^grams ≈ grams·fpp ≈ 1–2%) is asserted ≤ 5%.
    // The sketch is built and probed entirely inside Catalyst
    // (Spark 4.1 ships `BloomFilterAggregate` /
    // `BloomFilterMightContain` — the runtime-filter-join pair; they
    // are not SQL-registered in OSS Spark, so they ride the
    // ColumnBridge wrapper like graft's own native expressions): the
    // aggregate folds the bench grams into ONE binary row on the
    // executors, that row feeds the probe as a scalar subquery (the
    // filter operand of might_contain must be a constant or scalar
    // subquery — the same wiring InjectRuntimeFilter emits), and the
    // probe is a codegen'd expression over xxhash64(gram) — the
    // sketch never materializes on the driver, and both sides hash
    // through the same XxHash64, so the no-false-negative contract
    // holds verbatim. Gate-row
    // oracle in the d06 style: the exact legs come from SQL, the
    // sketch-dependent legs are structural constants (0 false
    // negatives by the filter's contract, fp bound by geometry).
    "c14_bloom_decontaminate" -> ((s, d) => {
      import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal, ScalarSubquery}
      import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
      import org.apache.spark.sql.graftbridge.ColumnBridge
      import org.apache.spark.util.sketch.BloomFilter
      val grams = distinctTrigrams(s, d).truncatedLazy // bench + corpus legs
      // truncated (eager): three consumers — the count, the
      // bloomFilter aggregation, and the exact-leg broadcast — would
      // otherwise each re-run the filter+distinct over the gram rows
      val bench = grams.filter(col("doc_id") % 97 === 0)
        .select("gram").distinct().truncated
      val nBench = bench.count() // geometry scalar only, never the data
      val nItems = math.max(1000L, nBench)
      val nBits = BloomFilter.optimalNumOfBits(nItems, 1e-4)
      val bfAgg = new BloomFilterAggregate(
        ColumnBridge.expression(xxhash64(col("gram"))),
        Literal(nItems), Literal(nBits)).toAggregateExpression()
      val bfRow = bench.agg(ColumnBridge.column(bfAgg).as("bf"))
      val corp = grams.filter(col("doc_id") % 97 =!= 0)
      val probed = ColumnBridge.column(BloomFilterMightContain(
        ScalarSubquery(bfRow.queryExecution.analyzed),
        ColumnBridge.expression(xxhash64(col("gram")))))
      val flagged = corp
        .groupBy("doc_id")
        .agg(max(when(probed, 1L).otherwise(0L)).as("bloom_hit"))
      val exact = corp.join(broadcast(bench.withColumn("hit", lit(1L))),
          Seq("gram"), "left_outer")
        .groupBy("doc_id")
        .agg(max(coalesce(col("hit"), lit(0L))).as("exact_hit"))
      flagged.join(exact, Seq("doc_id"))
        .agg(count(lit(1)).as("n_corpus_docs"),
          sum(col("exact_hit")).as("n_contaminated"),
          sum(when(col("exact_hit") === 1L && col("bloom_hit") === 0L, 1L)
            .otherwise(0L)).as("n_false_neg"),
          when(sum(when(col("exact_hit") === 0L && col("bloom_hit") === 1L, 1L)
              .otherwise(0L)).cast(DoubleType) <=
            sum(when(col("exact_hit") === 0L, 1L).otherwise(0L))
              .cast(DoubleType) * 0.05, 1L).otherwise(0L).as("fp_ok"))
    }),

    // c15: BM25 full-text retrieval (Robertson/Spärck Jones BM25, the
    // Okapi k1/b form; Lucene's default scorer) — "more-like-this"
    // top-5 over the corpus for each query doc (doc_id % 101 — the
    // c08 eval-set convention, disjoint modulus). bm25Candidates does
    // the retrieval in three steps:
    //   - the ≤ 50 query docs' distinct terms, collected once;
    //   - one corpus aggregate over that vocabulary, collected:
    //     n_docs and Σdl, plus df for each query term — the full
    //     vocabulary never leaves the aggregation;
    //   - one row-local projection, the bm25_scores kernel, which
    //     scores each corpus doc against every query sharing a term
    //     with it — never all (query, doc) pairs.
    // Then the bounded-heap TopKRows top-5 per query (s01's re-rank
    // shape: ≤5 rows per query per map task cross the shuffle, no
    // sort). At 100 TB the corpus is read twice (the stats aggregate,
    // the scoring pass), and the only exchange on scored rows is the
    // top-k's. Ranks compare the 6-dp ROUNDED score (identical across
    // engines; raw doubles could flip a rank-5/6 cut on the last ulp),
    // tie-broken on doc_id — a total order.
    "c15_bm25_topk" -> ((s, d) => bm25Top5(bm25Candidates(s, d))),

    // c16: LEAKAGE-SAFE train/valid/test split — the held-out-set
    // trap every LLM eval pipeline must avoid: hash-splitting DOCS
    // leaks whenever a near-duplicate of a test doc lands in train
    // (the contamination mode Lee et al. and the GPT-3 appendix both
    // call out). The fix is to split GROUPS: every doc inherits the
    // near-dup component root (c03's connected components over the
    // d04 edges; singleton docs are their own root), and the split is
    // decided by a content-free hash OF THE ROOT — so an entire dup
    // cluster lands in one split by construction. Hash = md5 of the
    // root id (the q33/c04/c09 replayable convention): first hex
    // char '0' → test (1/16), '1' → valid (1/16), else train.
    // n_cross_edges re-checks the guarantee from the ACTUAL
    // assignment — a same-component pair split apart (broken
    // components, inconsistent hashing) moves it off 0 and the hash
    // compare goes red. Scale: components are the O(log n)
    // star-contraction (c03); everything after is one hash and two
    // slim joins on doc ids — the cluster-respecting split costs no
    // more than the naive per-doc one.
    "c16_leakage_safe_split" -> ((s, d) => {
      val edges = Dedup.ngramJaccardPairs(Tables.documents(s, d))
        .select(col("doc_a"), col("doc_b"))
        .truncatedLazy // components + the cross-split check read it
      val comp = connectedComponents(edges).df
      val assigned = Tables.documents(s, d).select(col("doc_id"))
        .join(comp.select(col("id").as("doc_id"), col("component")),
          Seq("doc_id"), "left_outer")
        .select(col("doc_id"),
          coalesce(col("component"), col("doc_id")).as("root"))
        .withColumn("h",
          md5(concat(lit("split:"), col("root").cast(StringType))))
        .withColumn("split",
          when(col("h") < "1", "test")
            .when(col("h") < "2", "valid").otherwise("train"))
        .truncatedLazy // per-split rollup + both edge-endpoint joins
      val cross = edges
        .join(assigned.select(col("doc_id").as("doc_a"),
          col("split").as("split_a")), Seq("doc_a"))
        .join(assigned.select(col("doc_id").as("doc_b"),
          col("split").as("split_b")), Seq("doc_b"))
        .agg(sum(when(col("split_a") =!= col("split_b"), 1L).otherwise(0L))
          .as("n_cross_edges"))
      assigned.groupBy("split")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("root")).as("n_groups"))
        .crossJoin(broadcast(cross)) // 1-row global gate, c06 class
        .orderBy("split")
    }),

    // c17: SOURCE QUALITY PRIOR with empirical-Bayes shrinkage — the
    // per-domain score every curation pipeline keeps (CommonCrawl
    // domain priors, the CCNet bucket statistics): a source's quality
    // is its docs' mean score SHRUNK toward the corpus mean by a
    // pseudo-count (k=20), so a 3-doc source can't outrank a
    // 3000-doc one on luck — the jamesstein/beta-binomial smoothing
    // shape. The per-doc score here is the bounded length prior
    // (min(n_chars/500, 1)); any doc-level score (t02, t08, t11)
    // slots into the same two aggregates. Shapes: one per-source
    // aggregate, the corpus mean as a 1-row broadcast — nothing
    // global but a 1-row reduce; at 100 TB the prior table is
    // domain-count-sized, the natural broadcast side for the
    // filtering join that consumes it.
    // c21: SEQUENCE PACKING — the concat-then-chunk batch layout every
    // pretraining run performs between curation and training (GPT-3
    // §2.3 / T5 "packing": documents are concatenated in a fixed
    // order and split into context-window-sized sequences; each doc
    // is charged to the sequence its FIRST token lands in). Packing
    // is per SHARD by design — training never needs a globally
    // packed order, only a deterministic one per shard, which is how
    // real pipelines parallelize this — so the running token offset
    // is a window partitioned by `source` (the fixture's shard
    // analog; at 100 TB the key is the physical shard/file split and
    // the window never sees more than one shard's rows). This is the
    // SEQUENCE-side view of the same packing rule c02 applies per doc
    // (c02 emits doc_id→seq_id at the 4096 shard budget for the
    // shuffle-writer; this emits the per-sequence index at the
    // 512-token model context for the batch loader — one cumsum core,
    // two consumers, deliberately priced as one extra rollup). Output:
    // the per-sequence index (docs starting in each window, their token
    // mass, doc-id span) that the batch loader replays. Pure integer
    // arithmetic — cumsum, integer division — hash-exact in any
    // engine; one shuffle (the shard window) feeds the rollup whose
    // partial aggregation rides the same partitioning.
    "c21_sequence_pack" -> ((s, d) => {
      val ctx = 512
      val w = Window.partitionBy("source").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.documents(s, d)
        .select(col("source"), col("doc_id"),
          size(split(lower(col("text")), "\\s+")).cast(LongType)
            .as("n_tokens"))
        .withColumn("cum", sum(col("n_tokens")).over(w))
        .withColumn("seq_id", expr(s"(cum - n_tokens) div $ctx"))
        .groupBy("source", "seq_id")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("seq_tokens"),
          min(col("doc_id")).as("first_doc"),
          max(col("doc_id")).as("last_doc"))
        .orderBy("source", "seq_id")
    }),

    // c20: INTER-SOURCE VOCABULARY OVERLAP — the domain-similarity
    // matrix every multi-source pipeline profiles before setting
    // mixture weights (near-identical crawls → merge or dedup
    // harder; disjoint domains → balance explicitly): per source
    // pair, shared distinct tokens and vocabulary Jaccard. Scale
    // shape: the distinct (token, source) relation is Heaps'-law
    // bounded (vocab × |sources|, NOT token-stream-sized), the
    // self-join key fan-out is ≤ |sources| per token, and the output
    // matrix is |sources|² — after the distinct, nothing is
    // row-proportional. Jaccard is a ratio of identical integers
    // rounded at 6dp, exact in any engine.
    "c20_vocab_overlap" -> ((s, d) => {
      val vocab = Tables.documents(s, d)
        .select(col("source"),
          explode(split(lower(col("text")), "\\s+")).as("tok"))
        .filter(length(col("tok")) > 0).distinct()
      val sizes = vocab.groupBy("source").agg(count(lit(1)).as("v"))
      vocab.as("a").join(vocab.as("b"),
          col("a.tok") === col("b.tok") && col("a.source") < col("b.source"))
        .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
        .agg(count(lit(1)).as("shared"))
        .join(broadcast(sizes.withColumnRenamed("source", "source_a")
          .withColumnRenamed("v", "va")), Seq("source_a"))
        .join(broadcast(sizes.withColumnRenamed("source", "source_b")
          .withColumnRenamed("v", "vb")), Seq("source_b"))
        .select(col("source_a"), col("source_b"), col("shared"),
          round(col("shared").cast(DoubleType) /
            (col("va") + col("vb") - col("shared")).cast(DoubleType), 6)
            .as("jaccard"))
        .orderBy("source_a", "source_b")
    }),

    // c19: CURRICULUM ORDERING — easy→hard phase assignment with a
    // deterministic shuffle inside each phase (Bengio et al.'s
    // curriculum learning, in the bucketed form practical pipelines
    // use: train on the easiest quartile first, harden by phase,
    // shuffle within phase so each difficulty band is i.i.d.).
    // Difficulty proxy: INTEGER milli-chars-per-token (mean word
    // length — the classic readability signal; any doc-level score
    // slots into the same shape). Exact quartile cuts WITHOUT a
    // row-global window or an interpolating percentile (whose 1-ulp
    // engine differences poison hash gates): a cumulative count over
    // the difficulty HISTOGRAM — value-domain-bounded (≤ ~40k
    // distinct milli-ratios regardless of corpus size), the c06
    // class — picks the smallest difficulty with cum·4 ≥ n (the
    // discrete-quantile rule, pure integer, replayed identically by
    // any engine). Phase assignment is a 1-row broadcast join +
    // codegen'd comparisons; the epoch order is REALIZED by a
    // distributed range sort on (phase, md5) — at 100 TB nothing
    // global ever touches row-sized data.
    "c19_curriculum_order" -> ((s, d) => {
      val ev = Tables.documents(s, d)
        .select(col("doc_id"),
          expr("(n_chars * 1000) div size(split(text, '\\\\s+'))").as("difficulty"))
      val wCum = Window.orderBy("difficulty")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val hist = ev.groupBy("difficulty").agg(count(lit(1)).as("cnt"))
        .withColumn("cum", sum(col("cnt")).over(wCum))
        .withColumn("n", sum(col("cnt")).over(
          Window.orderBy("difficulty").rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing)))
      val cuts = hist.agg(
        min(when(col("cum") * 4 >= col("n"), col("difficulty"))).as("q1"),
        min(when(col("cum") * 2 >= col("n"), col("difficulty"))).as("q2"),
        min(when(col("cum") * 4 >= col("n") * 3, col("difficulty"))).as("q3"))
      ev.crossJoin(broadcast(cuts))
        .select(col("doc_id"), col("difficulty"),
          (lit(1L) + when(col("difficulty") > col("q1"), 1L).otherwise(0L)
            + when(col("difficulty") > col("q2"), 1L).otherwise(0L)
            + when(col("difficulty") > col("q3"), 1L).otherwise(0L)).as("phase"),
          substring(md5(col("doc_id").cast(StringType)), 1, 8).as("shuffle_key"))
        .orderBy("phase", "shuffle_key", "doc_id")
    }),

    // c18: TEMPERATURE-SCALED SOURCE MIXING — the domain/language
    // re-balancing op every multilingual/multi-domain pretraining
    // pipeline runs between c13's mixture accounting and c09's
    // ordering (the XLM-R / mC4 exponential-smoothing recipe): sample
    // source s with weight n_s^α / Σ n^α, α = 0.3 — low-resource
    // sources get up-weighted relative to their natural share,
    // high-resource ones damped. Determinism contract (everything
    // replayable cross-engine):
    //   - the fixture's sources are uniform, so the working set is
    //     skewed by a deterministic rule on the per-source sequence
    //     number (doc_id div 20 — doc_id mod anything is CONSTANT
    //     per source here, sources being doc_id % 20);
    //   - Σ n^α is an ORDERED pairwise sum (window over the
    //     source-sorted, source-count-sized aggregate — a bounded
    //     gate-class global window, ~20 rows), bit-identical in both
    //     engines where an unordered float sum is not;
    //   - the integer cutoff floors the 6dp-ROUNDED weight (POWER
    //     differs by 1 ulp between JVM and libm; rounding first is
    //     the repo's cross-engine float convention), and is CAPPED at
    //     n_s — sampling without replacement can't mint docs (epoch
    //     repetition, c13's job, handles true up-sampling);
    //   - selection inside a source is c04's md5-rank prefix.
    // Shapes at 100 TB: one per-source aggregate, a source-count-sized
    // broadcast of the targets, one rank window per source shard —
    // the same partitioning c04/c09 already ride; nothing global but
    // the ~|sources|-row weight table.
    "c18_temperature_mix" -> ((s, d) => {
      val srcNum = substring(col("source"), 4, 10).cast(IntegerType)
      val working = Tables.documents(s, d)
        .filter(pmod(expr("doc_id div 20"), lit(10)) <
          pmod(srcNum, lit(5)) * 2 + 1)
      val wTot = Window.orderBy("source")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      val mixed = working.groupBy("source")
        .agg(count(lit(1)).as("n_docs"))
        .withColumn("p", pow(col("n_docs").cast(DoubleType), lit(0.3)))
        .withColumn("z", sum(col("p")).over(wTot))
        .withColumn("n_total", sum(col("n_docs")).over(wTot))
        .withColumn("w", round(col("p") / col("z"), 6))
        .withColumn("n_target", least(
          floor(col("w") * (col("n_total").cast(DoubleType) / lit(2.0)))
            .cast(LongType),
          col("n_docs")))
      val byHash = Window.partitionBy("source")
        .orderBy(md5(col("doc_id").cast(StringType)), col("doc_id"))
      val sampled = working
        .withColumn("rk", row_number().over(byHash))
        .join(broadcast(mixed.select(col("source"), col("n_target"))),
          Seq("source"))
        .filter(col("rk") <= col("n_target"))
        .groupBy("source").agg(count(lit(1)).as("n_sampled"))
      mixed.join(sampled, Seq("source"), "left_outer")
        .select(col("source"), col("n_docs"),
          round(col("n_docs").cast(DoubleType) / col("n_total"), 6)
            .as("nat_share"),
          col("w").as("mix_share"),
          col("n_target"),
          coalesce(col("n_sampled"), lit(0L)).as("n_sampled"),
          when(coalesce(col("n_sampled"), lit(0L)) === col("n_target"), 1L)
            .otherwise(0L).as("mix_ok"))
        .orderBy("source")
    }),

    // c23: DATASET CARD — the per-source "datasheet" rollup (Gebru et
    // al. 2018; every released pretraining corpus ships one): doc
    // count, token mass, vocabulary size, dominant language and its
    // share, and the char-length distribution (min/median/max) — the
    // numbers a consumer reads BEFORE training on a source. One
    // relation, one row per source, everything integer or
    // 6dp-rounded-ratio so the DuckDB replay is hash-exact.
    // Shapes at 100 TB: the corpus text is scanned and tokenized
    // ONCE — the projected (source, lang, n_chars, terms) relation is
    // MATERIALIZED (truncatedLazy) and the four per-source aggregates
    // read that skinny intermediate, not the corpus, so the dominant
    // cost (scan + split) is paid once, not four times — (a) counts/
    // token mass/char min-max as map-side partials, (b) the
    // vocabulary leg aggregates (source, term) pairs, Heaps-bounded
    // (sub-linear in tokens) like c06/c20, (c) the language leg is
    // |sources × langs| rows, (d) the median comes from the c19
    // device — a cumulative count over the per-source CHAR-LENGTH
    // HISTOGRAM (value-domain-bounded, never row-sized) picking the
    // smallest length with cum·2 ≥ n, pure integer. The four
    // aggregates join on source: |sources|-row relations, broadcast
    // by AQE — nothing global, nothing row-proportional past the
    // scan.
    "c23_dataset_card" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("source"), col("lang"), col("n_chars"),
          split(lower(col("text")), "\\s+").as("terms"))
        .withColumn("toks", size(col("terms")).cast(LongType))
        .truncatedLazy // one corpus scan + tokenize feeds all 4 legs
      val base = docs.groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        sum(col("toks")).as("total_tokens"),
        min(col("n_chars")).as("min_chars"),
        max(col("n_chars")).as("max_chars"))
      val vocab = docs.select(col("source"), explode(col("terms")).as("term"))
        .filter(length(col("term")) > 0)
        .groupBy("source").agg(countDistinct(col("term")).as("distinct_terms"))
      val langTop = docs.groupBy("source", "lang").agg(count(lit(1)).as("cnt"))
        .groupBy("source").agg(max(struct(col("cnt"), col("lang"))).as("t"))
        .select(col("source"), col("t.lang").as("top_lang"),
          col("t.cnt").as("top_lang_cnt"))
      val wCum = Window.partitionBy("source").orderBy("n_chars")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val p50 = docs.groupBy("source", "n_chars").agg(count(lit(1)).as("cnt"))
        .withColumn("cum", sum(col("cnt")).over(wCum))
        .withColumn("n", sum(col("cnt")).over(Window.partitionBy("source")))
        .groupBy("source").agg(
          min(when(col("cum") * 2 >= col("n"), col("n_chars"))).as("p50_chars"))
      base.join(vocab, Seq("source")).join(langTop, Seq("source"))
        .join(p50, Seq("source"))
        .select(col("source"), col("n_docs"), col("total_tokens"),
          round(col("total_tokens").cast(DoubleType) / col("n_docs"), 6)
            .as("avg_tokens"),
          col("distinct_terms"), col("top_lang"),
          round(col("top_lang_cnt").cast(DoubleType) / col("n_docs"), 6)
            .as("top_lang_share"),
          col("min_chars"), col("max_chars"), col("p50_chars"))
        .orderBy("source")
    }),

    // c22: EPOCH-BUDGET ACCOUNTING — the data-constrained scaling
    // feasibility check (Muennighoff et al. 2023, "Scaling
    // Data-Constrained Language Models"): given a total training
    // budget B and per-source mixture weights, how many EPOCHS of
    // each source does the run consume, and which sources cross the
    // ~4-epoch mark past which the paper measures repeated tokens
    // decaying to negligible value? Sits between c13 (what the
    // mixture IS), c18 (who gets sampled) and c09 (what order) — the
    // check a pipeline runs BEFORE committing to a mixture, and the
    // origin of the capped_tokens column a rebalancing pass consumes.
    // Cross-engine arithmetic contract (all c18's conventions):
    // weights are the temperature rule (α = 0.3) on TOKEN mass, Σ n^α
    // and Σ tokens are ordered pairwise window sums, the weight
    // rounds at 6dp before the budget multiply, needed tokens floor
    // to integers, epochs are a 6dp-rounded ratio of those integers.
    // B = 4 × corpus tokens, so epochs ≈ 4 × (mix share ÷ natural
    // share): temperature-upweighted (small) sources land above the
    // cap, damped ones below — the flag genuinely splits. Shapes at
    // 100 TB: ONE per-source aggregate (map-side partials over the
    // scan), then a |sources|-row window — past the scan nothing is
    // row-proportional.
    "c22_epoch_budget" -> ((s, d) => {
      val wTot = Window.orderBy("source")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      Tables.documents(s, d)
        .select(col("source"),
          size(split(lower(col("text")), "\\s+")).cast(LongType)
            .as("n_tokens"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("src_tokens"))
        .withColumn("p", pow(col("src_tokens").cast(DoubleType), lit(0.3)))
        .withColumn("z", sum(col("p")).over(wTot))
        .withColumn("total_tokens", sum(col("src_tokens")).over(wTot))
        .withColumn("mix_share", round(col("p") / col("z"), 6))
        .withColumn("needed_tokens",
          floor(col("mix_share") * col("total_tokens").cast(DoubleType) *
            lit(4.0)).cast(LongType))
        .withColumn("epochs", round(col("needed_tokens").cast(DoubleType) /
          col("src_tokens").cast(DoubleType), 6))
        .select(col("source"), col("n_docs"), col("src_tokens"),
          col("mix_share"), col("needed_tokens"), col("epochs"),
          when(col("epochs") > 4.0, 1L).otherwise(0L).as("over_cap"),
          least(col("needed_tokens"),
            floor(col("src_tokens").cast(DoubleType) * lit(4.0))
              .cast(LongType)).as("capped_tokens"))
        .orderBy("source")
    }),

    "c17_source_prior" -> ((s, d) => {
      val q = Tables.documents(s, d)
        .select(col("source"),
          least(col("n_chars").cast(DoubleType) / 500.0, lit(1.0)).as("q"))
      val per = q.groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum(col("q")).as("sum_q"))
        .truncatedLazy // corpus mean + output rows read it
      val glob = per.agg(
        (sum(col("sum_q")) / sum(col("n_docs"))).as("mu"))
      per.crossJoin(broadcast(glob)) // 1-row corpus mean, c06 class
        .select(col("source"), col("n_docs"),
          round(col("sum_q") / col("n_docs"), 6).as("raw_mean"),
          round((col("sum_q") + lit(20.0) * col("mu")) /
            (col("n_docs") + lit(20.0)), 6).as("shrunk_mean"))
        .orderBy("source")
    })
  )

  /** Distinct word 3-grams per doc (shared by c08 and c14): built
    * NARROW — arrays_zip of three slices of the one split() array
    * pairs adjacent token triples with zero shuffle (the
    * t08/bigramScores shape; Slice/ArraysZip are codegen'd, not the
    * interpreted HOF path). This replaced the posexplode + window-lead
    * build, whose doc_id shuffle + sort of every token row was the
    * gram pipeline's dominant stage (c14 measured 3.7× at 10× rows
    * with it; the narrow build emits byte-identical gram strings). */
  private def distinctTrigrams(s: SparkSession, d: String): DataFrame = {
    val toks = split(lower(col("text")), "\\s+")
    val nTri = greatest(size(toks) - 2, lit(0))
    Tables.documents(s, d)
      .select(col("doc_id"), explode(arrays_zip(
        slice(toks, lit(1), nTri), slice(toks, lit(2), nTri),
        slice(toks, lit(3), nTri))).as("p"))
      .select(col("doc_id"),
        concat_ws(" ", col("p.0"), col("p.1"), col("p.2")).as("gram"))
      .distinct()
  }

  /** Components as (id, component) rows, and the contraction rounds
    * it took to reach them. */
  final case class Components(df: DataFrame, rounds: Int)

  /** Connected components over an undirected edge list (doc_a, doc_b)
    * via ALTERNATING LARGE-STAR / SMALL-STAR contraction — the
    * published CC-in-MapReduce technique (Kiveris et al., "Connected
    * Components in MapReduce and Beyond", SoCC'14): converges in
    * O(log n) rounds INDEPENDENT of component diameter, unlike plain
    * min-label propagation's O(diameter). Each round is two hash
    * aggregates and two equi-joins over bare (node, parent) long
    * pairs, so a round costs the same as one propagation step.
    *
    *   large-star: every node u connects its LARGER neighbors to
    *     m = min(N(u) ∪ {u}) — emitted edges always point bigger→
    *     smaller, so the output is parent-pointer shaped.
    *   small-star: every node u (now with only smaller neighbors)
    *     connects them AND itself to their common minimum.
    *
    * Fixpoint = disjoint stars: every non-root points directly at its
    * component's minimum id, which is exactly min-label propagation's
    * answer — c03's output hash is unchanged. Convergence is probed
    * with one (count, xxhash64-sum) fingerprint row per round
    * (edge sets are canonical big→small pairs, so equal fingerprints
    * ⇔ equal sets modulo a negligible 64-bit collision).
    *
    * Returns (id, component) for every node that appears in an edge,
    * with the number of contraction rounds run. */
  def connectedComponents(edges: DataFrame): Components = {
    // materialize before symmetrizing: `sym` references the edge
    // pipeline twice, and every contraction round re-reads it
    val canon = edges.select(col("doc_a"), col("doc_b")).truncated
    // lazy: nodes' only consumer is the FINAL join — its blocks pin
    // during that job; the plan cut (LogicalRDD) happens immediately
    // either way, so no contraction round re-plans the edge pipeline
    val nodes = canon.select(col("doc_a").as("id"))
      .union(canon.select(col("doc_b").as("id"))).distinct().truncatedLazy

    def largeStar(e: DataFrame): DataFrame = {
      val both = e.union(e.select(col("v").as("u"), col("u").as("v")))
      val mins = both.groupBy("u").agg(min(col("v")).as("mn"))
        .select(col("u"), least(col("mn"), col("u")).as("m"))
      both.join(mins, Seq("u"))
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .distinct()
    }
    def smallStar(e: DataFrame): DataFrame = {
      // invariant from largeStar: v < u on every edge
      val mins = e.groupBy("u").agg(min(col("v")).as("m"))
      e.join(mins, Seq("u"))
        .select(col("v").as("node"), col("m"))
        .union(mins.select(col("u").as("node"), col("m")))
        .filter(col("node") =!= col("m"))
        .select(col("node").as("u"), col("m").as("v"))
        .distinct()
    }
    def fingerprint(e: DataFrame): (Long, Long) = {
      // bit_xor, not sum: xxhash64 spans the full long range and a SUM
      // overflows under ANSI mode; xor is order-independent, overflow-
      // free, and exact on these distinct edge sets.
      val r = e.agg(count(lit(1)), bit_xor(xxhash64(col("u"), col("v")))).head()
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }

    // LAZY truncation throughout the loop: each round's checkpoint
    // blocks pin during the fingerprint aggregate that immediately
    // follows (it scans every partition), so a round costs ONE job,
    // not a materialize-job + a probe-job. Per-round serial job count
    // is the loop's dominant fixed cost — each job pays scheduling +
    // fresh per-stage codegen on KB-scale data (measured round 5: the
    // two-job loop drew 95–314 s under host scheduling noise vs ~6 s
    // quiet; halving the jobs halves the exposure and the fixed cost).
    var e = canon.select(col("doc_a").as("u"), col("doc_b").as("v")).truncatedLazy
    var fp = (-1L, 0L)
    var next = fingerprint(e)
    var rounds = 0
    while (next != fp) {
      // Exactly ONE large+small round per materialization. Tried and
      // reverted: two rounds per truncation measured 7.3–24 s on
      // consecutive fresh JVMs (vs 8.8–13.7 single-step) — each star
      // references its input TWICE (the union / the rewire+mins
      // join), so un-materialized nesting recomputes inner rounds
      // combinatorially AND doubles the fused codegen, widening the
      // JIT-lottery tail; the checkpoint between rounds keeps every
      // star input read-cheap and the generated methods small.
      e = smallStar(largeStar(e)).truncatedLazy
      fp = next
      next = fingerprint(e)
      rounds += 1
    }
    val comps = nodes.join(e.select(col("u").as("id"), col("v").as("component")),
        Seq("id"), "left_outer")
      .select(col("id"), coalesce(col("component"), col("id")).as("component"))
    Components(comps, rounds)
  }

  /** c11's DuckDB twin: the same 5 PageRank iterations unrolled as
    * chained CTEs (aggregates are not allowed in a recursive term, so
    * the fixed iteration count is spelled out — which also mirrors
    * the Spark side's fixed loop exactly). */
  private val pagerankOracle: String = {
    val iters = (1 to 5).map(n =>
      s"""r$n AS (
         |  SELECT s.w AS id, 0.15 + 0.85 * SUM(p.rank / d.deg) AS rank
         |  FROM r${n - 1} p JOIN sym s ON p.id = s.v JOIN deg d ON d.v = s.v
         |  GROUP BY s.w)""".stripMargin).mkString(",\n")
    s"""
      WITH t AS (
        SELECT doc_id, source, string_split_regex(lower(text), '\\s+') AS toks
        FROM documents),
      g AS (
        SELECT doc_id, source,
          list_distinct(list_transform(range(1, len(toks) - 1),
            i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))) AS grams
        FROM t WHERE len(toks) >= 3),
      e AS (
        SELECT a.doc_id AS v, b.doc_id AS w
        FROM g a JOIN g b ON a.source = b.source
          AND b.doc_id > a.doc_id AND b.doc_id <= a.doc_id + 50
        WHERE CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE) /
              CAST(len(list_distinct(list_concat(a.grams, b.grams))) AS DOUBLE) > 0.01),
      sym AS (SELECT v, w FROM e UNION ALL SELECT w AS v, v AS w FROM e),
      deg AS (SELECT v, COUNT(*) AS deg FROM sym GROUP BY v),
      r0 AS (SELECT v AS id, 1.0 AS rank FROM deg),
      $iters
      SELECT id AS doc_id, ROUND(rank, 6) AS pagerank
      FROM r5 ORDER BY doc_id"""
  }

  val oracle: Map[String, String] = Map(
    "c11_pagerank" -> pagerankOracle,
    "c01_repetition_filter" -> """
      WITH t AS (
        SELECT doc_id, string_split_regex(lower(text), '\s+') AS toks
        FROM documents),
      tok AS (SELECT doc_id, unnest(toks) AS tok FROM t),
      ts AS (
        SELECT doc_id, COUNT(*) AS n_tokens, COUNT(DISTINCT tok) AS n_distinct
        FROM tok GROUP BY doc_id),
      bi AS (
        SELECT doc_id, unnest(list_transform(range(1, len(toks)),
          i -> concat_ws(' ', toks[i], toks[i+1]))) AS bigram
        FROM t WHERE len(toks) >= 2),
      bc AS (SELECT doc_id, bigram, COUNT(*) AS n FROM bi GROUP BY 1, 2),
      bs AS (SELECT doc_id, MAX(n) AS top_bigram_n, SUM(n) AS n_bigrams
             FROM bc GROUP BY doc_id)
      SELECT ts.doc_id AS doc_id,
        CAST(ts.n_tokens AS BIGINT) AS n_tokens,
        ROUND(1 - CAST(n_distinct AS DOUBLE) / n_tokens, 6) AS dup_token_frac,
        ROUND(COALESCE(CAST(top_bigram_n AS DOUBLE) / n_bigrams, 0), 6) AS top_bigram_frac,
        CAST(CASE WHEN COALESCE(CAST(top_bigram_n AS DOUBLE) / n_bigrams, 0) > 0.2
                    OR 1 - CAST(n_distinct AS DOUBLE) / n_tokens > 0.5
             THEN 0 ELSE 1 END AS BIGINT) AS keep
      FROM ts LEFT JOIN bs ON ts.doc_id = bs.doc_id
      ORDER BY doc_id""",

    "c02_sequence_packing" -> """
      WITH t AS (
        SELECT source, doc_id,
          len(string_split_regex(lower(text), '\s+')) AS n_tokens
        FROM documents),
      c AS (
        SELECT source, doc_id, n_tokens,
          SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        FROM t)
      SELECT source, doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
        CAST(FLOOR(CAST(cum - n_tokens AS DOUBLE) / 4096) AS BIGINT) AS seq_id
      FROM c ORDER BY source, doc_id""",

    "c03_dup_clusters" -> """
      WITH RECURSIVE t AS (
        SELECT doc_id, source, string_split_regex(lower(text), '\s+') AS toks
        FROM documents),
      g AS (
        SELECT doc_id, source,
          list_distinct(list_transform(range(1, len(toks) - 1),
            i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))) AS grams
        FROM t WHERE len(toks) >= 3),
      e AS (
        SELECT a.doc_id AS v, b.doc_id AS w
        FROM g a JOIN g b ON a.source = b.source
          AND b.doc_id > a.doc_id AND b.doc_id <= a.doc_id + 50
        WHERE CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE) /
              CAST(len(list_distinct(list_concat(a.grams, b.grams))) AS DOUBLE) > 0.01),
      sym AS (SELECT v, w FROM e UNION SELECT w AS v, v AS w FROM e),
      reach AS (
        SELECT v, v AS w FROM (SELECT DISTINCT v FROM sym)
        UNION
        SELECT r.v, s.w FROM reach r JOIN sym s ON r.w = s.v)
      SELECT v AS doc_id, MIN(w) AS component
      FROM reach GROUP BY v ORDER BY doc_id""",

    // c12 = c03's recursive-CTE components + a per-component window
    "c12_cluster_canonical" -> """
      WITH RECURSIVE t AS (
        SELECT doc_id, source, string_split_regex(lower(text), '\s+') AS toks
        FROM documents),
      g AS (
        SELECT doc_id, source,
          list_distinct(list_transform(range(1, len(toks) - 1),
            i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))) AS grams
        FROM t WHERE len(toks) >= 3),
      e AS (
        SELECT a.doc_id AS v, b.doc_id AS w
        FROM g a JOIN g b ON a.source = b.source
          AND b.doc_id > a.doc_id AND b.doc_id <= a.doc_id + 50
        WHERE CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE) /
              CAST(len(list_distinct(list_concat(a.grams, b.grams))) AS DOUBLE) > 0.01),
      sym AS (SELECT v, w FROM e UNION SELECT w AS v, v AS w FROM e),
      reach AS (
        SELECT v, v AS w FROM (SELECT DISTINCT v FROM sym)
        UNION
        SELECT r.v, s.w FROM reach r JOIN sym s ON r.w = s.v),
      comp AS (
        SELECT v AS doc_id, MIN(w) AS component FROM reach GROUP BY v),
      j AS (
        SELECT c.component, d.doc_id, CAST(length(d.text) AS BIGINT) AS text_len
        FROM comp c JOIN documents d ON d.doc_id = c.doc_id)
      SELECT component, doc_id, text_len,
        CAST(CASE WHEN ROW_NUMBER() OVER (PARTITION BY component
          ORDER BY text_len DESC, doc_id) = 1 THEN 1 ELSE 0 END AS BIGINT)
          AS is_canonical
      FROM j ORDER BY component, doc_id""",

    "c04_stratified_sample" -> """
      WITH r AS (
        SELECT lang, doc_id,
          ROW_NUMBER() OVER (PARTITION BY lang
            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk,
          COUNT(*) OVER (PARTITION BY lang) AS n_lang
        FROM documents)
      SELECT lang, doc_id, CAST(rk AS INT) AS rk
      FROM r WHERE rk <= CEIL(n_lang * 0.1)
      ORDER BY lang, rk""",

    // fixture embeddings are fixed 64-dim (asserted in CorpusSpec)
    "c05_label_centroids" -> """
      SELECT label, CAST(dim AS INT) AS dim,
        ROUND(AVG(CAST(embedding[dim + 1] AS DOUBLE)), 6) AS centroid,
        COUNT(*) AS n_vecs
      FROM embeddings, range(0, 64) AS t(dim)
      GROUP BY label, dim ORDER BY label, dim""",

    "c06_vocab_coverage" -> """
      WITH tok AS (
        SELECT unnest(string_split_regex(lower(text), '\s+')) AS tok
        FROM documents),
      counts AS (SELECT tok, COUNT(*) AS n FROM tok GROUP BY tok),
      total AS (SELECT CAST(SUM(n) AS DOUBLE) AS total FROM counts),
      top AS (
        SELECT tok, n, ROW_NUMBER() OVER (ORDER BY n DESC, tok) AS rk
        FROM counts QUALIFY rk <= 100)
      SELECT tok, n, CAST(rk AS INT) AS rk,
        ROUND(CAST(SUM(n) OVER (ORDER BY rk
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
          / total, 6) AS cum_coverage
      FROM top, total ORDER BY rk""",

    "c07_embedding_quantize" -> """
      WITH e AS (
        SELECT vec_id,
          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings),
      s AS (
        SELECT vec_id, v,
          GREATEST(list_max(v), -list_min(v)) AS max_abs
        FROM e)
      SELECT vec_id, CAST(dim AS INT) AS dim,
        CAST(CASE WHEN max_abs = 0 THEN 0
             ELSE ROUND(v[dim + 1] * 127.0 / max_abs, 0) END AS INT) AS q_val
      FROM s, range(0, 64) AS t(dim)
      ORDER BY vec_id, dim""",

    "c08_decontaminate" -> """
      WITH t AS (
        SELECT doc_id, string_split_regex(lower(text), '\s+') AS toks
        FROM documents),
      g0 AS (
        SELECT doc_id, list_distinct(list_transform(range(1, len(toks) - 1),
          i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))) AS grams
        FROM t WHERE len(toks) >= 3),
      bench AS (
        SELECT DISTINCT unnest(grams) AS gram FROM g0 WHERE doc_id % 97 = 0),
      corp AS (
        SELECT doc_id, unnest(grams) AS gram FROM g0 WHERE doc_id % 97 <> 0),
      tot AS (SELECT doc_id, COUNT(*) AS n_grams FROM corp GROUP BY doc_id),
      ov AS (
        SELECT doc_id, COUNT(*) AS n_overlap
        FROM corp JOIN bench USING (gram) GROUP BY doc_id)
      SELECT tot.doc_id AS doc_id, n_grams,
        COALESCE(n_overlap, 0) AS n_overlap,
        CAST(CASE WHEN COALESCE(n_overlap, 0) > 0 THEN 1 ELSE 0 END AS BIGINT)
          AS contaminated
      FROM tot LEFT JOIN ov ON tot.doc_id = ov.doc_id
      ORDER BY doc_id""",

    "c09_training_order" -> """
      SELECT source, doc_id,
        CAST(ROW_NUMBER() OVER (PARTITION BY source
          ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS INT) AS epoch_rk,
        md5(concat(source, ':', CAST(doc_id AS VARCHAR))) AS order_key
      FROM documents
      ORDER BY epoch_rk, order_key""",

    "c10_doc_chunks" -> """
      WITH t AS (
        SELECT doc_id, string_split_regex(lower(text), '\s+') AS toks
        FROM documents),
      s AS (
        SELECT doc_id, toks, unnest(range(0, len(toks), 96)) AS start_tok
        FROM t)
      SELECT doc_id, CAST(start_tok // 96 AS INT) AS chunk_idx,
        CAST(start_tok AS INT) AS start_tok,
        CAST(LEAST(128, len(toks) - start_tok) AS INT) AS n_chunk_tokens,
        md5(array_to_string(list_slice(toks, start_tok + 1, start_tok + 128), ' '))
          AS chunk_md5
      FROM s ORDER BY doc_id, chunk_idx""",

    // mirrors c13: weight = min(total/(n_sources*toks), 3), every doc
    // repeated floor(weight) times, plus the md5-ranked fractional
    // pick at epoch floor(weight). Same double-division order and
    // ROUND-half-away semantics as the Spark side.
    "c13_domain_mixture" -> """
      WITH d AS (
        SELECT doc_id, source,
          CAST(len(string_split_regex(lower(text), '\s+')) AS BIGINT) AS n_toks
        FROM documents),
      s AS (
        SELECT source, COUNT(*) AS n_docs, SUM(n_toks) AS toks
        FROM d GROUP BY source),
      w AS (
        SELECT source, n_docs,
          LEAST(CAST(SUM(toks) OVER () AS DOUBLE)
                  / CAST(COUNT(*) OVER () * toks AS DOUBLE),
                3.0) AS weight
        FROM s),
      j AS (
        SELECT d.source, d.doc_id, w.weight, w.n_docs,
          CAST(FLOOR(w.weight) AS BIGINT) AS epochs
        FROM d JOIN w USING (source)),
      full_leg AS (
        SELECT source, doc_id, weight, unnest(range(0, epochs)) AS epoch
        FROM j WHERE epochs >= 1),
      frac_leg AS (
        SELECT source, doc_id, weight, epochs AS epoch
        FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY source
                ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
              FROM j)
        WHERE rk <= ROUND(n_docs * (weight - epochs)))
      SELECT source, doc_id, CAST(epoch AS INT) AS epoch,
        ROUND(weight, 6) AS weight
      FROM (SELECT * FROM full_leg UNION ALL SELECT * FROM frac_leg)
      ORDER BY source, doc_id, epoch""",

    // c14: the exact legs (doc universe + contamination count) come
    // from SQL exactly like c08; the sketch legs are the Bloom
    // filter's structural guarantees (no false negatives ever; FP
    // rate under the geometric bound) — a regression in the sketch
    // path flips them and the hash compare goes red
    "c14_bloom_decontaminate" -> """
      WITH t AS (
        SELECT doc_id, string_split_regex(lower(text), '\s+') AS toks
        FROM documents),
      g0 AS (
        SELECT doc_id, list_distinct(list_transform(range(1, len(toks) - 1),
          i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))) AS grams
        FROM t WHERE len(toks) >= 3),
      bench AS (
        SELECT DISTINCT unnest(grams) AS gram FROM g0 WHERE doc_id % 97 = 0),
      corp AS (
        SELECT doc_id, unnest(grams) AS gram FROM g0 WHERE doc_id % 97 <> 0),
      perdoc AS (
        SELECT corp.doc_id,
          MAX(CASE WHEN bench.gram IS NOT NULL THEN 1 ELSE 0 END) AS exact_hit
        FROM corp LEFT JOIN bench USING (gram)
        GROUP BY corp.doc_id)
      SELECT COUNT(*) AS n_corpus_docs,
        CAST(SUM(exact_hit) AS BIGINT) AS n_contaminated,
        CAST(0 AS BIGINT) AS n_false_neg,
        CAST(1 AS BIGINT) AS fp_ok
      FROM perdoc""",

    // c15: full BM25 replay — identical k1/b literals and ln-idf
    // formula; ranks compare the 6-dp rounded score (see Scala note)
    "c15_bm25_topk" -> """
      WITH tok AS (
        SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS term
        FROM documents),
      tt AS (SELECT doc_id, term FROM tok WHERE len(term) > 0),
      tf AS (
        SELECT doc_id, term, COUNT(*) AS tf
        FROM tt WHERE doc_id % 101 <> 0 GROUP BY doc_id, term),
      dl AS (SELECT doc_id, SUM(tf) AS dl FROM tf GROUP BY doc_id),
      stats AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
               AVG(CAST(dl AS DOUBLE)) AS avgdl FROM dl),
      q AS (
        SELECT DISTINCT doc_id AS q_id, term FROM tt
        WHERE doc_id % 101 = 0 AND doc_id < 5050),
      df AS (
        SELECT term, CAST(COUNT(*) AS DOUBLE) AS df FROM tf
        WHERE term IN (SELECT DISTINCT term FROM q) GROUP BY term),
      cand AS (
        SELECT q.q_id, c.doc_id,
          ROUND(SUM(
            ln(1.0 + (s.n_docs - f.df + 0.5) / (f.df + 0.5)) *
            (c.tf * 2.2) /
            (c.tf + 1.2 * (0.25 + 0.75 * CAST(l.dl AS DOUBLE) / s.avgdl))
          ), 6) AS score
        FROM tf c
        JOIN q ON q.term = c.term
        JOIN df f ON f.term = c.term
        JOIN dl l ON l.doc_id = c.doc_id
        CROSS JOIN stats s
        GROUP BY q.q_id, c.doc_id),
      ranked AS (
        SELECT q_id, doc_id, score,
               ROW_NUMBER() OVER (PARTITION BY q_id
                 ORDER BY score DESC, doc_id) AS rk
        FROM cand)
      SELECT q_id, CAST(rk AS INT) AS rk, doc_id, score
      FROM ranked WHERE rk <= 5 ORDER BY q_id, rk""",

    // c16 = c03's recursive-CTE components + root-hash split + the
    // cross-split edge count re-derived from the raw edge list
    "c16_leakage_safe_split" -> """
      WITH RECURSIVE t AS (
        SELECT doc_id, source, string_split_regex(lower(text), '\s+') AS toks
        FROM documents),
      g AS (
        SELECT doc_id, source,
          list_distinct(list_transform(range(1, len(toks) - 1),
            i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))) AS grams
        FROM t WHERE len(toks) >= 3),
      e AS (
        SELECT a.doc_id AS v, b.doc_id AS w
        FROM g a JOIN g b ON a.source = b.source
          AND b.doc_id > a.doc_id AND b.doc_id <= a.doc_id + 50
        WHERE CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE) /
              CAST(len(list_distinct(list_concat(a.grams, b.grams))) AS DOUBLE) > 0.01),
      sym AS (SELECT v, w FROM e UNION SELECT w AS v, v AS w FROM e),
      reach AS (
        SELECT v, v AS w FROM (SELECT DISTINCT v FROM sym)
        UNION
        SELECT r.v, s.w FROM reach r JOIN sym s ON r.w = s.v),
      comp AS (SELECT v AS doc_id, MIN(w) AS component FROM reach GROUP BY v),
      assigned AS (
        SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS root,
          CASE WHEN md5(concat('split:',
                 CAST(COALESCE(c.component, d.doc_id) AS VARCHAR))) < '1'
               THEN 'test'
               WHEN md5(concat('split:',
                 CAST(COALESCE(c.component, d.doc_id) AS VARCHAR))) < '2'
               THEN 'valid'
               ELSE 'train' END AS split
        FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id),
      cross_e AS (
        SELECT CAST(SUM(CASE WHEN sa.split <> sb.split THEN 1 ELSE 0 END)
          AS BIGINT) AS n_cross_edges
        FROM e JOIN assigned sa ON sa.doc_id = e.v
               JOIN assigned sb ON sb.doc_id = e.w)
      SELECT split, COUNT(*) AS n_docs, COUNT(DISTINCT root) AS n_groups,
             n_cross_edges
      FROM assigned, cross_e
      GROUP BY split, n_cross_edges ORDER BY split""",

    // c17: same length prior, same k=20 shrinkage arithmetic
    "c17_source_prior" -> """
      WITH q AS (
        SELECT source, LEAST(CAST(n_chars AS DOUBLE) / 500.0, 1.0) AS q
        FROM documents),
      per AS (
        SELECT source, COUNT(*) AS n_docs, SUM(q) AS sum_q
        FROM q GROUP BY source),
      corpus_mu AS (
        SELECT SUM(sum_q) / SUM(n_docs) AS mu FROM per)
      SELECT source, n_docs,
        ROUND(sum_q / n_docs, 6) AS raw_mean,
        ROUND((sum_q + 20.0 * mu) / (n_docs + 20.0), 6) AS shrunk_mean
      FROM per, corpus_mu ORDER BY source""",

    // c21: identical integer replay — per-shard cumsum window, the
    // `//` integer division (never `/`: the float+round-half-even
    // cast is the q55 class of version fragility)
    "c21_sequence_pack" -> """
      WITH t AS (
        SELECT source, doc_id,
          CAST(len(string_split_regex(lower(text), '\s+')) AS BIGINT)
            AS n_tokens
        FROM documents),
      c AS (
        SELECT source, doc_id, n_tokens,
          SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        FROM t)
      SELECT source, CAST((cum - n_tokens) // 512 AS BIGINT) AS seq_id,
        COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS seq_tokens,
        MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
      FROM c GROUP BY 1, 2 ORDER BY source, seq_id""",

    // c20: same distinct-vocab self-join; jaccard is a 6dp-rounded
    // ratio of identical integer counts
    "c20_vocab_overlap" -> """
      WITH vocab AS (
        SELECT DISTINCT source, tok
        FROM (SELECT source,
                unnest(string_split_regex(lower(text), '\s+')) AS tok
              FROM documents)
        WHERE len(tok) > 0),
      sizes AS (SELECT source, COUNT(*) AS v FROM vocab GROUP BY source),
      pairs AS (
        SELECT a.source AS source_a, b.source AS source_b,
               COUNT(*) AS shared
        FROM vocab a JOIN vocab b
          ON a.tok = b.tok AND a.source < b.source
        GROUP BY 1, 2)
      SELECT source_a, source_b, CAST(shared AS BIGINT) AS shared,
        ROUND(CAST(shared AS DOUBLE) / (sa.v + sb.v - shared), 6) AS jaccard
      FROM pairs
      JOIN sizes sa ON sa.source = pairs.source_a
      JOIN sizes sb ON sb.source = pairs.source_b
      ORDER BY source_a, source_b""",

    // c19: full integer replay — milli-ratio difficulty, histogram
    // cumulative counts, the discrete-quantile cut rule, md5 shuffle
    "c19_curriculum_order" -> """
      WITH ev AS (
        SELECT doc_id,
          (n_chars * 1000) // len(string_split_regex(text, '\s+'))
            AS difficulty
        FROM documents),
      hist AS (
        SELECT difficulty, COUNT(*) AS cnt FROM ev GROUP BY difficulty),
      cum AS (
        SELECT difficulty,
          SUM(cnt) OVER (ORDER BY difficulty
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
          SUM(cnt) OVER () AS n
        FROM hist),
      cuts AS (
        SELECT MIN(CASE WHEN cum * 4 >= n THEN difficulty END) AS q1,
               MIN(CASE WHEN cum * 2 >= n THEN difficulty END) AS q2,
               MIN(CASE WHEN cum * 4 >= n * 3 THEN difficulty END) AS q3
        FROM cum)
      SELECT doc_id, difficulty,
        CAST(1 + (CASE WHEN difficulty > q1 THEN 1 ELSE 0 END)
               + (CASE WHEN difficulty > q2 THEN 1 ELSE 0 END)
               + (CASE WHEN difficulty > q3 THEN 1 ELSE 0 END) AS BIGINT)
          AS phase,
        substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS shuffle_key
      FROM ev, cuts
      ORDER BY phase, shuffle_key, doc_id""",

    // c23: full datasheet replay — token mass cast to BIGINT (DuckDB
    // widens SUM to HUGEINT), dominant lang via the rk=1 window that
    // mirrors Spark's max(struct(cnt, lang)) (cnt DESC, lang DESC),
    // the median from the same histogram cume rule as c19
    "c23_dataset_card" -> """
      WITH t AS (
        SELECT doc_id, source, lang, n_chars,
          CAST(len(string_split_regex(lower(text), '\s+')) AS BIGINT) AS toks
        FROM documents),
      base AS (
        SELECT source, COUNT(*) AS n_docs,
          CAST(SUM(toks) AS BIGINT) AS total_tokens,
          MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars
        FROM t GROUP BY source),
      v AS (
        SELECT source, COUNT(DISTINCT term) AS distinct_terms FROM (
          SELECT source,
            unnest(string_split_regex(lower(text), '\s+')) AS term
          FROM documents) u
        WHERE len(term) > 0 GROUP BY source),
      lc AS (SELECT source, lang, COUNT(*) AS cnt FROM t GROUP BY source, lang),
      lt AS (
        SELECT source, lang AS top_lang, cnt AS top_lang_cnt FROM (
          SELECT source, lang, cnt,
            ROW_NUMBER() OVER (PARTITION BY source
              ORDER BY cnt DESC, lang DESC) AS rk
          FROM lc) r WHERE rk = 1),
      h AS (SELECT source, n_chars, COUNT(*) AS cnt FROM t GROUP BY source, n_chars),
      hh AS (
        SELECT source, n_chars,
          SUM(cnt) OVER (PARTITION BY source ORDER BY n_chars
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
          SUM(cnt) OVER (PARTITION BY source) AS n
        FROM h),
      p AS (
        SELECT source, MIN(CASE WHEN cum * 2 >= n THEN n_chars END) AS p50_chars
        FROM hh GROUP BY source)
      SELECT b.source, b.n_docs, b.total_tokens,
        ROUND(CAST(b.total_tokens AS DOUBLE) / b.n_docs, 6) AS avg_tokens,
        v.distinct_terms, lt.top_lang,
        ROUND(CAST(lt.top_lang_cnt AS DOUBLE) / b.n_docs, 6) AS top_lang_share,
        b.min_chars, b.max_chars, p.p50_chars
      FROM base b
      JOIN v ON v.source = b.source
      JOIN lt ON lt.source = b.source
      JOIN p ON p.source = b.source
      ORDER BY b.source""",

    // c18: full replay — the skewed working set, the ordered pairwise
    // Σ n^α (window over the source-sorted aggregate, matching Spark's
    // summation order exactly), the floor-of-rounded-weight target
    // capped at availability, and the md5-rank prefix selection
    "c18_temperature_mix" -> """
      WITH working AS (
        SELECT source, doc_id FROM documents
        WHERE (doc_id // 20) % 10 <
              (CAST(substr(source, 4) AS INT) % 5) * 2 + 1),
      per AS (
        SELECT source, COUNT(*) AS n_docs FROM working GROUP BY source),
      w AS (
        SELECT source, n_docs,
          POWER(CAST(n_docs AS DOUBLE), 0.3) AS p,
          SUM(POWER(CAST(n_docs AS DOUBLE), 0.3)) OVER (ORDER BY source
            ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS z,
          CAST(SUM(n_docs) OVER (ORDER BY source
            ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
            AS BIGINT) AS n_total
        FROM per),
      t AS (
        SELECT source, n_docs, n_total, ROUND(p / z, 6) AS wgt,
          LEAST(CAST(FLOOR(ROUND(p / z, 6) *
                  (CAST(n_total AS DOUBLE) / 2.0)) AS BIGINT),
                n_docs) AS n_target
        FROM w),
      rk AS (
        SELECT source, doc_id, ROW_NUMBER() OVER (PARTITION BY source
          ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
        FROM working),
      smp AS (
        SELECT rk.source, COUNT(*) AS n_sampled
        FROM rk JOIN t ON rk.source = t.source
        WHERE rk.rk <= t.n_target GROUP BY rk.source)
      SELECT t.source AS source, t.n_docs AS n_docs,
        ROUND(CAST(t.n_docs AS DOUBLE) / t.n_total, 6) AS nat_share,
        wgt AS mix_share,
        t.n_target AS n_target,
        CAST(COALESCE(n_sampled, 0) AS BIGINT) AS n_sampled,
        CAST(CASE WHEN COALESCE(n_sampled, 0) = t.n_target
             THEN 1 ELSE 0 END AS BIGINT) AS mix_ok
      FROM t LEFT JOIN smp ON t.source = smp.source
      ORDER BY source""",

    // c22: full replay of the budget arithmetic — ordered pairwise
    // window sums (c18's float-determinism contract), floor of the
    // 6dp-rounded weight × budget, epochs a ratio of those integers
    "c22_epoch_budget" -> """
      WITH t AS (
        SELECT source,
          CAST(len(string_split_regex(lower(text), '\s+')) AS BIGINT)
            AS n_tokens
        FROM documents),
      per AS (
        SELECT source, COUNT(*) AS n_docs,
          CAST(SUM(n_tokens) AS BIGINT) AS src_tokens
        FROM t GROUP BY source),
      w AS (
        SELECT source, n_docs, src_tokens,
          POWER(CAST(src_tokens AS DOUBLE), 0.3) AS p,
          SUM(POWER(CAST(src_tokens AS DOUBLE), 0.3)) OVER (ORDER BY source
            ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS z,
          CAST(SUM(src_tokens) OVER (ORDER BY source
            ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
            AS BIGINT) AS total_tokens
        FROM per),
      x AS (
        SELECT source, n_docs, src_tokens,
          ROUND(p / z, 6) AS mix_share,
          CAST(FLOOR(ROUND(p / z, 6) * CAST(total_tokens AS DOUBLE) * 4.0)
            AS BIGINT) AS needed_tokens
        FROM w)
      SELECT source, CAST(n_docs AS BIGINT) AS n_docs, src_tokens,
        mix_share, needed_tokens,
        ROUND(CAST(needed_tokens AS DOUBLE) / src_tokens, 6) AS epochs,
        CAST(CASE WHEN ROUND(CAST(needed_tokens AS DOUBLE) / src_tokens, 6)
             > 4.0 THEN 1 ELSE 0 END AS BIGINT) AS over_cap,
        LEAST(needed_tokens,
          CAST(FLOOR(CAST(src_tokens AS DOUBLE) * 4.0) AS BIGINT))
          AS capped_tokens
      FROM x ORDER BY source"""
  )
}
