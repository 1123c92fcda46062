package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.{Corpus, Dedup}

/** Semantic invariants for the corpus-preparation operators (c01–c05)
  * beyond the DuckDB hash gate. */
class CorpusSpec extends AnyFunSuite {
  lazy val s = TestSpark.spark
  val d = TestSpark.sf0001

  test("c01: fractions are valid and the keep flag matches its rule") {
    val rows = Corpus.queries("c01_repetition_filter")(s, d).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val dup = r.getAs[Double]("dup_token_frac")
      val top = r.getAs[Double]("top_bigram_frac")
      assert(dup >= 0.0 && dup <= 1.0)
      assert(top >= 0.0 && top <= 1.0)
      val expected = if (top > 0.2 || dup > 0.5) 0L else 1L
      // rounded output can sit exactly on the threshold; allow the
      // raw-valued decision to disagree only within rounding distance
      if (math.abs(top - 0.2) > 1e-5 && math.abs(dup - 0.5) > 1e-5)
        assert(r.getAs[Long]("keep") === expected)
    }
  }

  test("c02: sequences are contiguous per source and respect the token budget") {
    val rows = Corpus.queries("c02_sequence_packing")(s, d)
      .collect().groupBy(_.getAs[String]("source"))
    rows.foreach { case (_, docs) =>
      val seqIds = docs.map(_.getAs[Long]("seq_id"))
      assert(seqIds.head === 0L, "first doc of a source starts sequence 0")
      seqIds.sliding(2).foreach {
        case Array(a, b) => assert(b >= a, "seq_id is non-decreasing")
        case _ => ()
      }
      // each doc's preceding-fill is under the budget by construction
      docs.foreach { r =>
        assert(r.getAs[Long]("seq_id") >= 0L)
      }
    }
  }

  test("c03: every near-dup edge lands inside one component; labels are component minima") {
    val comp = Corpus.queries("c03_dup_clusters")(s, d).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("component")).toMap
    assert(comp.nonEmpty)
    comp.foreach { case (id, c) => assert(c <= id, "component label is a min id") }
    val edges = Dedup.ngramJaccardPairs(Tables.documents(s, d))
      .select("doc_a", "doc_b").collect()
    assert(edges.nonEmpty)
    edges.foreach { e =>
      assert(comp(e.getLong(0)) === comp(e.getLong(1)),
        s"edge ${e.getLong(0)}–${e.getLong(1)} spans two components")
    }
    // every component's label is itself a member of the component
    comp.values.toSet.foreach((c: Long) => assert(comp(c) === c))
  }

  test("c03 contraction: path graphs finish in O(log n) rounds with exact components") {
    import s.implicits._
    // A 256-node path (0-1-2-…-255) is the adversarial case for plain
    // min-label propagation: the min label crosses ONE hop per round,
    // so propagation needs ~255 rounds (or ~128 driver probes with the
    // old double-step). Large-star/small-star contracts it in O(log n).
    val path = (0L until 255L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val cc = Corpus.connectedComponents(path)
    val comp = cc.df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp.size === 256)
    assert(comp.values.forall(_ == 0L), "single path component, min id 0")
    assert(cc.rounds >= 1 && cc.rounds <= 12,
      s"contraction reported ${cc.rounds} rounds, wanted 1..12 (logarithmic)")
    // two disjoint components stay disjoint
    val two = ((0L until 10L).map(i => (i, i + 1)) ++
      (100L until 110L).map(i => (i, i + 1))).toDF("doc_a", "doc_b")
    val c2 = Corpus.connectedComponents(two).df.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((0L to 10L).forall(c2(_) == 0L) && (100L to 110L).forall(c2(_) == 100L))
  }

  test("c04: exactly ceil(10%) of each stratum, deterministically") {
    val out = Corpus.queries("c04_stratified_sample")(s, d)
    val got = out.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val full = Tables.documents(s, d).groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    full.foreach { case (lang, n) =>
      assert(got(lang) === math.ceil(n * 0.1).toLong, s"stratum $lang")
    }
    // deterministic: two runs select the same ids
    val ids1 = out.select("doc_id").collect().map(_.getLong(0)).sorted
    val ids2 = Corpus.queries("c04_stratified_sample")(s, d)
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(ids1.sameElements(ids2))
  }

  test("c05: centroid table covers 64 dims per label (fixed-dim fixture)") {
    val dims = Tables.embeddings(s, d)
      .select(size(col("embedding")).as("n")).distinct().collect()
    assert(dims.length === 1 && dims(0).getInt(0) === 64,
      "c05's oracle hardcodes range(0,64); revisit if the fixture changes")
    val out = Corpus.queries("c05_label_centroids")(s, d).collect()
    val perLabel = out.groupBy(_.getAs[Any]("label"))
    perLabel.foreach { case (_, rows) => assert(rows.length === 64) }
  }

  test("c08: benchmark docs never appear; overlap is bounded by gram count") {
    val rows = Corpus.queries("c08_decontaminate")(s, d).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      assert(id % 97 != 0, "benchmark members are excluded from the report")
      val ov = r.getAs[Long]("n_overlap")
      assert(ov >= 0 && ov <= r.getAs[Long]("n_grams"))
      assert(r.getAs[Long]("contaminated") === (if (ov > 0) 1L else 0L))
    }
  }

  test("c09: epoch ranks are a 1..n permutation per source; keys are stable") {
    val out = Corpus.queries("c09_training_order")(s, d).collect()
    out.groupBy(_.getAs[String]("source")).foreach { case (_, rows) =>
      val rks = rows.map(_.getAs[Int]("epoch_rk")).sorted
      assert(rks.sameElements(1 to rows.length), "ranks form a permutation")
    }
    // interleave: sorting by (epoch_rk, order_key) places every
    // source's rank-1 doc before any source's rank-2 doc
    val sorted = out.sortBy(r => (r.getAs[Int]("epoch_rk"), r.getAs[String]("order_key")))
    val nSources = out.map(_.getAs[String]("source")).distinct.length
    val firstBlock = sorted.take(nSources).map(_.getAs[String]("source"))
    assert(firstBlock.distinct.length === nSources,
      "first block contains each source exactly once")
  }

  test("c10: chunks tile each doc with stride 96 and cover every token") {
    val chunks = Corpus.queries("c10_doc_chunks")(s, d).collect()
      .groupBy(_.getAs[Long]("doc_id"))
    val nTokens = Tables.documents(s, d)
      .select(col("doc_id"), size(split(lower(col("text")), "\\s+")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    chunks.foreach { case (id, rows) =>
      val byIdx = rows.sortBy(_.getAs[Int]("chunk_idx"))
      byIdx.zipWithIndex.foreach { case (r, i) =>
        assert(r.getAs[Int]("chunk_idx") === i)
        assert(r.getAs[Int]("start_tok") === i * 96)
        assert(r.getAs[Int]("n_chunk_tokens") ===
          math.min(128, nTokens(id) - i * 96))
      }
      // last chunk reaches the end of the doc
      val last = byIdx.last
      assert(last.getAs[Int]("start_tok") + last.getAs[Int]("n_chunk_tokens")
        === nTokens(id))
      // expected chunk count for stride 96
      assert(byIdx.length === (nTokens(id) + 95) / 96)
    }
  }

  test("t07: uniform-token docs score entropy = log2(n_distinct)") {
    import s.implicits._
    val docs = Seq((1L, "a b c d"), (2L, "x x x x"), (3L, "a a b b"))
      .toDF("doc_id", "text")
    // same formula as the operator, applied to known distributions
    val counts = docs
      .select(col("doc_id"), explode(split(lower(col("text")), "\\s+")).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("n"))
    val ent = counts.groupBy("doc_id")
      .agg(round(log2(sum(col("n"))) -
        sum(col("n").cast("double") * log2(col("n"))) / sum(col("n")).cast("double"), 6)
        .as("entropy"))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("entropy")).toMap
    assert(math.abs(ent(1L) - 2.0) < 1e-9)   // 4 uniform tokens → log2(4)
    assert(math.abs(ent(2L) - 0.0) < 1e-9)   // degenerate → 0
    assert(math.abs(ent(3L) - 1.0) < 1e-9)   // two × two → 1 bit
  }

  test("c13: weights realize the uniform target — per-doc copies are floor/ceil " +
    "of the source weight and per-source totals match the fractional pick") {
    val out = Corpus.queries("c13_domain_mixture")(s, d).collect()
    assert(out.nonEmpty)
    // independently derived expected weights from the raw table
    val toks = Tables.documents(s, d)
      .select(col("source"),
        size(split(lower(col("text")), "\\s+")).cast("long").as("n"))
      .groupBy("source").agg(count(lit(1)).as("n_docs"), sum("n").as("toks"))
      .collect().map(r => (r.getAs[String]("source"),
        (r.getAs[Long]("n_docs"), r.getAs[Long]("toks")))).toMap
    val total = toks.values.map(_._2).sum
    val nSources = toks.size
    val expW = toks.map { case (src, (_, t)) =>
      src -> math.min(total.toDouble / (nSources.toDouble * t), 3.0) }
    out.groupBy(_.getAs[String]("source")).foreach { case (src, rows) =>
      val w = expW(src); val fl = math.floor(w).toLong
      assert(rows.forall(r => math.abs(r.getAs[Double]("weight") - w) < 1e-5))
      val copies = rows.groupBy(_.getAs[Long]("doc_id")).view.mapValues(_.length)
      copies.foreach { case (id, c) =>
        assert(c == fl || c == fl + 1, s"doc $id of $src appears $c times, weight $w")
      }
      // per-doc epochs are consecutive 0..c-1
      rows.groupBy(_.getAs[Long]("doc_id")).foreach { case (_, rs) =>
        assert(rs.map(_.getAs[Int]("epoch")).sorted.toSeq === (0 until rs.length))
      }
      val (nDocs, _) = toks(src)
      val expected = nDocs * fl + math.round(nDocs * (w - fl))
      assert(rows.length.toLong === expected,
        s"$src: ${rows.length} rows vs expected $expected (w=$w)")
      if (fl >= 1) // upsampled sources keep EVERY doc
        assert(copies.size.toLong === nDocs)
    }
  }

  test("c18: temperature mixing — shares sum to 1, targets capped at availability, " +
    "low-resource sources up-weighted, deterministic") {
    val run1 = Corpus.queries("c18_temperature_mix")(s, d).collect()
    assert(run1.nonEmpty)
    // exponential smoothing flattens the distribution: every share is a
    // valid probability, they sum to 1 (within the 6-dp rounding), and
    // α=0.3 < 1 pulls every source TOWARD uniform: below-average-sized
    // sources gain share, above-average ones lose it.
    val shareSum = run1.map(_.getAs[Double]("mix_share")).sum
    assert(math.abs(shareSum - 1.0) < 1e-4, s"shares sum to $shareSum")
    val meanN = run1.map(_.getAs[Long]("n_docs")).sum.toDouble / run1.length
    run1.foreach { r =>
      val n = r.getAs[Long]("n_docs")
      val nat = r.getAs[Double]("nat_share")
      val mix = r.getAs[Double]("mix_share")
      assert(r.getAs[Long]("n_target") <= n,
        "sampling without replacement cannot mint docs")
      assert(r.getAs[Long]("n_sampled") === r.getAs[Long]("n_target"),
        "selection must hit the target exactly")
      assert(r.getAs[Long]("mix_ok") === 1L)
      if (n.toDouble < meanN * 0.8) assert(mix > nat,
        s"small source (n=$n) must be up-weighted: mix=$mix nat=$nat")
      if (n.toDouble > meanN * 1.25) assert(mix < nat,
        s"large source (n=$n) must be damped: mix=$mix nat=$nat")
    }
    // deterministic end to end (md5-rank selection, no RNG)
    val run2 = Corpus.queries("c18_temperature_mix")(s, d).collect()
    assert(run1.map(_.toString).sameElements(run2.map(_.toString)))
  }

  test("c22: shares sum to 1, budget conserved, the 4-epoch flag " +
    "genuinely splits, caps bind") {
    val rows = Corpus.queries("c22_epoch_budget")(s, d).collect()
    assert(rows.length === 20) // one row per fixture source
    val shareSum = rows.map(_.getAs[Double]("mix_share")).sum
    assert(math.abs(shareSum - 1.0) < 2e-5,
      s"6dp-rounded temperature weights must sum to ~1, got $shareSum")
    rows.foreach { r =>
      val epochs = r.getAs[Double]("epochs")
      assert(r.getAs[Long]("over_cap") ===
        (if (epochs > 4.0) 1L else 0L), "flag must restate its rule")
      assert(r.getAs[Long]("capped_tokens") <= r.getAs[Long]("needed_tokens"))
      assert(r.getAs[Long]("capped_tokens") <= 4L * r.getAs[Long]("src_tokens"))
    }
    // temperature up-weights small sources past the cap and damps big
    // ones below it — if either side is empty the flag is vacuous
    assert(rows.exists(_.getAs[Long]("over_cap") == 1L) &&
      rows.exists(_.getAs[Long]("over_cap") == 0L),
      "the 4-epoch flag should split on the fixture")
    // Σ needed ≈ 4 × corpus tokens: each source loses < 1 token to the
    // floor and < 0.1 to 6dp weight rounding
    val total = rows.map(_.getAs[Long]("src_tokens")).sum
    val needed = rows.map(_.getAs[Long]("needed_tokens")).sum
    assert(math.abs(needed - 4.0 * total) <= rows.length + 2,
      s"budget not conserved: Σ needed=$needed vs 4×total=${4L * total}")
  }

  test("d17: novelty bounded, first doc fully novel, novel grams " +
    "partition the corpus vocabulary") {
    val rows = Dedup.queries("d17_novelty_score")(s, d).collect()
    assert(rows.length === 500) // every fixture doc carries ≥8 tokens
    val first = rows.minBy(_.getAs[Long]("doc_id"))
    assert(first.getAs[Double]("novelty") === 1.0,
      "the earliest doc has no predecessors — everything it says is new")
    rows.foreach { r =>
      val (n, nov) = (r.getAs[Long]("n_grams"), r.getAs[Long]("novel_grams"))
      assert(nov >= 0L && nov <= n)
      val ratio = r.getAs[Double]("novelty")
      assert(ratio >= 0.0 && ratio <= 1.0)
    }
    // every distinct 8-gram is novel in EXACTLY one doc (its first):
    // Σ novel_grams must equal the corpus-wide distinct gram count
    val novelSum = rows.map(_.getAs[Long]("novel_grams")).sum
    val vocab = Tables.documents(s, d)
      .select(split(lower(col("text")), "\\s+").as("toks"))
      .where(size(col("toks")) >= 8)
      .select(explode(expr("transform(sequence(0, size(toks) - 8)," +
        " i -> concat_ws(' ', slice(toks, i + 1, 8)))")).as("g"))
      .agg(countDistinct(col("g"))).first().getLong(0)
    assert(novelSum === vocab,
      s"Σ novel_grams=$novelSum must partition the $vocab distinct grams")
  }
}
