package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.graftbridge.ColumnBridge.{column => native, expression}
import graft.Tables
import graft.Checkpoint.TruncateOps
import graft.functions.{MinHashKernels, MinHashSignature, SignatureOverlap}

/** Deduplication operators for large-scale training-data pipelines —
  * the capability layer the reference lacks entirely (its ingest is
  * append-only and re-runs duplicate rows, `/root/reference/src/main.rs:117,146`).
  *
  * Scale stance (100 TB): every variant is expressed as hash/band keys
  * + shuffle-friendly groupBy/join — never an unbanded cross join, no
  * driver-side state. Signature math runs row-wise: MinHash signs each
  * document in one native projection ([[graft.functions.MinHashSignature]]),
  * SimHash votes in one hash-aggregate per document; the shuffles are
  * that per-doc clustering and the candidate-pair joins on band keys,
  * all linear in the data.
  */
object Dedup {

  import org.apache.spark.sql.expressions.Window

  private val NumHashes = MinHashKernels.NumHashes // MinHash signature length
  private val Bands = 8      // LSH bands → rows per band r = 32/8 = 4

  /** The token array every shingle-based operator reads: the lower-cased
    * text split on whitespace runs. */
  private val tokens: Column = split(lower(col("text")), "\\s+")

  /** One row per word-3-gram shingle hash: (doc_id, source, sh), for
    * documents with at least 3 tokens.
    *
    * Construction is NARROW: `arrays_zip` of three slices of the one
    * `split()` array pairs each token with its two successors, then one
    * generator explodes the triples — zero shuffle. Slice/ArraysZip are
    * regular codegen'd expressions, NOT the interpreted
    * HigherOrderFunction path whose per-element re-split made the
    * original array form O(words²) (an earlier `transform`+`element_at`
    * version re-ran the regex split ~150× per doc once CollapseProject
    * inlined it); here the split re-evaluates a constant ~6× per
    * document. This replaces a posexplode + window-lead pairing whose
    * doc_id shuffle + sort of every token row was the gram pipeline's
    * dominant stage (the t08 profile: 5.3 s of 5.7 s at gen-sf1 for the
    * same shape).
    *
    * Shingle identity = xxhash64 of the three consecutive token hashes
    * (`xxhash64(xxhash64(tok_i), xxhash64(tok_i+1), xxhash64(tok_i+2))`),
    * the same longs [[MinHashSignature]] folds into signatures.
    * Bijective with the token triple (and the gram string: tokens
    * contain no whitespace) modulo negligible 64-bit collisions, which
    * exact-gram set math already tolerates.
    */
  private def shingleRows(docs: DataFrame): DataFrame = {
    val nTriples = greatest(size(tokens) - 2, lit(0))
    docs
      .select(col("doc_id"), col("source"), explode(arrays_zip(
        slice(tokens, lit(1), nTriples),
        slice(tokens, lit(2), nTriples),
        slice(tokens, lit(3), nTriples))).as("p"))
      .select(col("doc_id"), col("source"),
        xxhash64(xxhash64(col("p.0")), xxhash64(col("p.1")), xxhash64(col("p.2")))
          .as("sh"))
  }

  /** doc_id + minhash signature (array of 32 longs): one row-local
    * projection through the native [[MinHashSignature]] kernel — no
    * shingle explode, no shuffle. The signature is the same 32 longs as
    * the grouped form it replaced (explode the [[shingleRows]] hashes,
    * then 32 `min(h1 + i·h2)` aggregates over doc_id); MinHashKernelSpec
    * pins the two bit for bit.
    *
    * Key contract: `doc_id` is unique in `docs`. The documents table and
    * every twin corpus built from it satisfy this; rows sharing a doc_id
    * would come out as separate signatures, not one merged one. A null
    * `text` gives no row (split yields at least one token for any other
    * string, so the kernel's null never reaches the output).
    */
  private[graft] def minhashSignatures(docs: DataFrame): DataFrame =
    docs.filter(col("text").isNotNull)
      .select(col("doc_id"), native(MinHashSignature(expression(tokens))).as("sig"))

  /** (doc_id, band_idx, band_hash) rows from a (doc_id, sig) relation —
    * the banding step alone, reusable over signatures that were
    * PERSISTED instead of just computed (the d12 incremental path). */
  private def bandsFromSigs(sigs: DataFrame): DataFrame = {
    val r = NumHashes / Bands
    sigs.select(col("doc_id"),
      posexplode(array((0 until Bands).map { b =>
        xxhash64((col("sig")(b * r) +: (1 until r).map(i => col("sig")(b * r + i))): _*)
      }: _*)).as(Seq("band_idx", "band_hash")))
  }

  /** (doc_id, band_idx, band_hash) LSH band keys from the minhash
    * signature — the candidate-join key space. */
  def bandedKeys(docs: DataFrame): DataFrame =
    bandsFromSigs(minhashSignatures(docs))

  /** Estimated jaccard from two 32-long minhash signatures: the native
    * [[SignatureOverlap]] kernel, one call in the generated code instead
    * of 32 unrolled element comparisons. */
  private def sigOverlap(a: Column, b: Column): Column =
    native(SignatureOverlap(expression(a), expression(b)))

  /** Full MinHash+LSH candidate-pair pipeline (the d02 body) over any
    * (doc_id, source, text) corpus: band-bucket self-join → unique id
    * pairs → signature-overlap estimate. Factored out so the injected-
    * twin recall gate (d06) runs the EXACT pipeline the operator ships. */
  def minhashPairs(docs: DataFrame): DataFrame = {
    val sigs = minhashSignatures(docs)
    // Band keys only — signatures are NOT carried through the
    // candidate join (a pair can match in several bands; dedupe the
    // id pairs first, then score each unique pair exactly once).
    val banded = bandsFromSigs(sigs)
    // shuffle_hash on every join over post-aggregate intermediates:
    // their size estimates are unreliable, and a mis-chosen
    // broadcast builds a huge hash relation on one thread (and
    // would OOM outright at cluster scale).
    val pairs = banded.select(col("band_idx"), col("band_hash"), col("doc_id").as("doc_a"))
      .hint("shuffle_hash")
      .join(banded.select(col("band_idx"), col("band_hash"), col("doc_id").as("doc_b")),
        Seq("band_idx", "band_hash"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b")
      .distinct()
    // Signing is a row-local projection, so each of the three signature
    // consumers re-signs its documents; what they share is the
    // documents fan-out exchange under that projection, which
    // ReuseExchange runs once.
    pairs
      .join(sigs.select(col("doc_id").as("doc_a"), col("sig").as("sig_a"))
        .hint("shuffle_hash"), Seq("doc_a"))
      .join(sigs.select(col("doc_id").as("doc_b"), col("sig").as("sig_b"))
        .hint("shuffle_hash"), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        sigOverlap(col("sig_a"), col("sig_b")).as("est_jaccard"))
  }

  /** Persisted MinHash band index of a corpus — the artifact that makes
    * dedup INCREMENTAL (d12). A real 100 TB pipeline ingests daily
    * shards; rescanning and re-shingling the whole corpus to dedup one
    * shard would be O(corpus) per day. Instead the corpus is signed
    * ONCE and two slim tables persist: `sigs` (doc_id, 32-long
    * signature — ~260 B/doc) and `bands` (doc_id, band_idx, band_hash —
    * 8 rows × ~24 B/doc). A new shard then signs only ITSELF and joins
    * its band keys against the persisted index; corpus text is never
    * read again. Layout is stamped with the source file identity AND
    * the signature geometry (NumHashes/Bands), so either a fixture
    * regeneration or a constant change invalidates the cache instead of
    * silently joining against keys hashed under the old scheme. */
  def minhashIndexDir(s: SparkSession, d: String): String = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      s.sparkContext.hadoopConfiguration)
    val src = new org.apache.hadoop.fs.Path(s"$d/documents.parquet")
    val st = fs.getFileStatus(src)
    val tag = d.replaceAll("[^A-Za-z0-9]", "_") +
      s"_${st.getModificationTime}_${fs.getContentSummary(src).getLength}" +
      s"_h${NumHashes}b$Bands"
    val dir = graft.LocalScratch.scratchDir + s"/graft_minhash_idx_$tag"
    val built = Seq("sigs", "bands").forall(t =>
      fs.exists(new org.apache.hadoop.fs.Path(s"$dir/$t/_SUCCESS")))
    if (!built) {
      minhashSignatures(Tables.documents(s, d))
        .write.mode("overwrite").parquet(s"$dir/sigs")
      // bands derive from the WRITTEN sigs, so corpus text is scanned
      // exactly once even during the build
      bandsFromSigs(Tables.parquetDir(s, s"$dir/sigs"))
        .write.mode("overwrite").parquet(s"$dir/bands")
    }
    dir
  }

  /** Dedup a NEW shard against a persisted corpus index (d12): sign the
    * shard, band-join its keys against the index's `bands` table,
    * dedupe candidate id pairs, then score each pair once from the two
    * signature relations (shard-side in-plan, corpus-side from the
    * index's `sigs` table). Returns (new_id, dup_of, est_jaccard). The
    * corpus side of this plan reads ONLY the index parquet — no
    * document text (pinned by PlanQualitySpec). Same shapes and hints
    * as [[minhashPairs]]: slim (band, id) rows through the candidate
    * join, signatures joined after pair-dedup, shuffle_hash everywhere
    * a post-aggregate estimate could mis-broadcast. */
  def incrementalDupes(s: SparkSession, shard: DataFrame,
                       indexDir: String): DataFrame = {
    // referenced twice (banding + scoring): truncate so the shard's
    // lineage runs once, not per consumer. Signing itself is a cheap
    // projection now; recomputing it per consumer measured no faster
    // (d12 at sf0.1, warm medians 0.94-1.12 s pinned vs 1.03-1.05 s
    // recomputed), and a caller's shard may carry a costly source.
    val shardSigs = minhashSignatures(shard).truncatedLazy
    val cands = bandsFromSigs(shardSigs)
      .select(col("band_idx"), col("band_hash"), col("doc_id").as("new_id"))
      .hint("shuffle_hash")
      .join(Tables.parquetDir(s, s"$indexDir/bands")
          .select(col("band_idx"), col("band_hash"), col("doc_id").as("dup_of")),
        Seq("band_idx", "band_hash"))
      .select("new_id", "dup_of")
      .distinct()
    cands
      .join(shardSigs.select(col("doc_id").as("new_id"), col("sig").as("sig_a"))
        .hint("shuffle_hash"), Seq("new_id"))
      .join(Tables.parquetDir(s, s"$indexDir/sigs")
        .select(col("doc_id").as("dup_of"), col("sig").as("sig_b"))
        .hint("shuffle_hash"), Seq("dup_of"))
      .select(col("new_id"), col("dup_of"),
        sigOverlap(col("sig_a"), col("sig_b")).as("est_jaccard"))
  }

  /** Full SimHash near-dup pipeline (the d03 body): 64-bit fingerprint
    * → 4×16-bit chunk pigeonhole join → hamming ≤ 3 pairs. Factored out
    * for the d07 injected-twin recall gate. */
  def simhashPairs(docs: DataFrame): DataFrame = {
    // Explode distinct token hashes to rows, then aggregate the 64
    // per-bit vote counters PACKED four-per-long in 16-bit slots —
    // 16 sum columns instead of 64. Janino's compile cost is
    // superlinear in the aggregate's generated-code width; the
    // unpacked 64-column version spent minutes single-threaded in
    // UnitCompiler while 31 cores idled. Slot arithmetic never
    // carries while a document has < 2^16 distinct tokens (a ~0.5 MB
    // text; beyond that the fingerprint degrades, exact dedup d01
    // still covers it). Bit i of the fingerprint lives in column
    // c(i/4), slot (i%4); votes = 2*ones - n as before.
    val exploded = docs
      .select(col("doc_id"),
        explode(array_distinct(split(lower(col("text")), "\\s+"))).as("t"))
      .select(col("doc_id"), xxhash64(col("t")).as("h"))
      // Re-cluster token rows by doc_id BEFORE the partial aggregate:
      // the per-bit vote sums are the dominant compute, and this
      // puts them on all cores even when the input is one parquet
      // split; the groupBy below then needs no further exchange.
      .repartition(col("doc_id"))
    val bitCnt = (0 until 16).map { j =>
      val packed = (0 until 4).map { k =>
        shiftleft(shiftright(col("h"), j * 4 + k).bitwiseAND(1L), k * 16)
      }.reduce(_ + _)
      sum(packed).as(s"c$j")
    }
    val aggCols = count(lit(1)).as("n") +: bitCnt
    val agged = exploded.groupBy("doc_id").agg(aggCols.head, aggCols.tail: _*)
    val fp = (0 until 64).map { i =>
      val ones = shiftrightunsigned(col(s"c${i / 4}"), (i % 4) * 16)
        .bitwiseAND(lit(0xFFFFL))
      when(ones * 2 > col("n"), lit(1L << i)).otherwise(0L)
    }.reduce(_ + _)
    val docsFp = agged.select(col("doc_id"), fp.as("fp"))
    hammingNeardupPairs(docsFp, maxHamming = 3)
  }

  /** Hamming-banded near-dup pairs over any (doc_id, fp: long)
    * 64-bit-fingerprint relation — the 4×16-bit chunk pigeonhole
    * (≤ maxHamming ≤ 3 flipped bits ⇒ at least one chunk identical),
    * so the join is on small equality keys, never all-pairs. Shared
    * by d03 (SimHash over token sets) and m04 (block-mean perceptual
    * hash over binary payloads): any 64-bit locality-sensitive
    * fingerprint gets the same scale-safe candidate join. */
  def hammingNeardupPairs(docsFp: DataFrame, maxHamming: Int): DataFrame = {
    require(maxHamming <= 3, "4-chunk pigeonhole only covers hamming <= 3")
    val chunked = docsFp.select(col("doc_id"), col("fp"),
      posexplode(array((0 until 4).map(i =>
        shiftrightunsigned(col("fp"), i * 16).bitwiseAND(lit(0xFFFFL))): _*))
        .as(Seq("chunk_idx", "chunk")))
    val a = chunked.select(col("chunk_idx"), col("chunk"),
      col("doc_id").as("doc_a"), col("fp").as("fp_a"))
    val b = chunked.select(col("chunk_idx"), col("chunk"),
      col("doc_id").as("doc_b"), col("fp").as("fp_b"))
    a.hint("shuffle_hash").join(b, Seq("chunk_idx", "chunk"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        bit_count(col("fp_a").bitwiseXOR(col("fp_b"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Offset separating injected twin ids from real doc ids in the
    * recall gates (d06/d07) — far above any fixture doc_id. */
  private[graft] val TwinOffset = 1000000L

  /** Injected near-duplicates with known ground truth: every 5th doc
    * with ≥ 4 tokens gets a twin (doc_id + TwinOffset) whose text
    * drops the last token — shingle-set jaccard ≈ (T-3)/(T-2), i.e. a
    * true near-dup the pipeline MUST find. This turns the
    * un-oracle-able LSH pipelines into a hash-checkable recall gate:
    * the oracle knows exactly how many twins exist (a plain SQL count)
    * and the expected assertion outcome. The 1-in-5 sample keeps the
    * gate corpus ~1.2× the base corpus (injecting a twin per doc
    * doubled every pipeline stage and made the gate cost 2.5× the
    * operator it checks) while still spanning ~100 ground-truth pairs
    * at the gate SF. */
  private[graft] def twinsOf(docs: DataFrame): DataFrame = docs
    .filter(col("doc_id") % 5 === 0 &&
      size(split(col("text"), "\\s+")) >= 4)
    .withColumn("doc_id", col("doc_id") + lit(TwinOffset))
    .withColumn("text", regexp_replace(col("text"), "\\s+\\S+$", ""))

  private[graft] def withTwins(docs: DataFrame): DataFrame =
    docs.unionByName(twinsOf(docs))

  /** (n_twins, found) → single assertion row mirrored by a literal in
    * the oracle. Join on a literal key, not crossJoin: two 1-row
    * aggregates broadcast-hash-join instead of tripping the
    * no-cartesian plan gate. */
  private def recallRow(nTwins: DataFrame, nFound: DataFrame, minRecall: Double): DataFrame =
    nTwins.withColumn("k", lit(1))
      .join(nFound.withColumn("k", lit(1)), Seq("k"))
      .select(col("n_twins"),
        when(col("n_found") >= col("n_twins") * minRecall, 1L).otherwise(0L)
          .as("recall_ok"))

  /** Long from the 8 md5 hex chars of column `md` starting at `from`
    * (1-based) — little-endian digit weights via instr over the hex
    * alphabet, which has IDENTICAL semantics in Spark and DuckDB. The
    * one Spark-side definition of the d18/d19 oracle-parity hash
    * convention; the SQL oracles expand the same formula textually,
    * so a change here must touch those expansions too (the parity
    * gates go red if they diverge, by construction). */
  private def md5HexLong(from: Int): Column = (0 until 8).map { j =>
    expr(s"(instr('0123456789abcdef', substring(md, ${from + j}, 1)) - 1)" +
      s" * ${1L << (4 * j)}L")
  }.reduce(_ + _)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Exact dedup: hash-groupBy on content digest; keeper = min doc_id.
    // One shuffle on the digest; at 100 TB this is the canonical
    // "dedup by content hash" pass (digest is 128-bit so collisions
    // are negligible; the group carries no text, only ids).
    "d01_dedup_exact" -> ((s, d) =>
      Tables.documents(s, d)
        .groupBy(md5(col("text")).as("content_hash"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
        .orderBy("keep_id")),

    // MinHash + LSH fuzzy dedup: shingle → 32 minhashes → 8 bands →
    // band-bucket self-join → signature-overlap estimate. The join key
    // is (band_idx, band_hash), so candidate generation is linear in
    // bucket sizes, never all-pairs. AQE skew-join splits hot buckets.
    "d02_dedup_minhash" -> ((s, d) =>
      minhashPairs(Tables.documents(s, d)).orderBy("doc_a", "doc_b")),

    // d06: hash-checkable recall gate for d02. Injects known twins
    // (last token dropped → true jaccard ≈ 0.99) and asserts the LSH
    // pipeline recovers ≥ 95% of them with a strong estimate. The
    // oracle derives n_twins by plain SQL and pins the assertion.
    "d06_minhash_recall" -> ((s, d) => {
      val corpus = withTwins(Tables.documents(s, d))
      val found = minhashPairs(corpus)
        .filter(col("doc_b") === col("doc_a") + TwinOffset &&
          col("est_jaccard") >= 0.5)
      recallRow(
        corpus.filter(col("doc_id") >= TwinOffset)
          .agg(count(lit(1)).as("n_twins")),
        found.agg(count(lit(1)).as("n_found")),
        minRecall = 0.95)
    }),

    // SimHash near-dup: 64-bit fingerprint from token hashes, pairs at
    // hamming distance ≤ 3 found via the 4×16-bit chunk pigeonhole
    // (≤3 flipped bits → at least one chunk identical), so the join is
    // again on small equality keys, not all-pairs.
    "d03_dedup_simhash" -> ((s, d) =>
      simhashPairs(Tables.documents(s, d)).orderBy("doc_a", "doc_b")),

    // d07: hash-checkable recall gate for d03 — dropping one token
    // flips only near-tie vote majorities, so most twin fingerprints
    // stay within hamming ≤ 3 of the original. Measured at sf0.01:
    // 386/500 twins recovered (0.772) — simhash is genuinely coarser
    // than minhash on this perturbation; 0.7 asserts that level with
    // headroom while still going red if the pipeline breaks.
    "d07_simhash_recall" -> ((s, d) => {
      val corpus = withTwins(Tables.documents(s, d))
      val found = simhashPairs(corpus)
        .filter(col("doc_b") === col("doc_a") + TwinOffset)
      recallRow(
        corpus.filter(col("doc_id") >= TwinOffset)
          .agg(count(lit(1)).as("n_twins")),
        found.agg(count(lit(1)).as("n_found")),
        minRecall = 0.7)
    }),

    // Exact n-gram Jaccard over a bounded candidate window (same
    // source, nearby ids) — the oracle-checkable exact-math variant;
    // the unbounded-scale variant is d02 (LSH generates candidates).
    "d04_ngram_jaccard" -> ((s, d) =>
      ngramJaccardPairs(Tables.documents(s, d))
        .select(col("source"), col("doc_a"), col("doc_b"),
          round(col("jac_raw"), 6).as("jaccard"))
        .orderBy("doc_a", "doc_b"))
,
    // Embedding-cosine near-dup, ORACLE variant: same-label banding
    // bounds the pair space SQL-expressibly, so DuckDB can hash-check
    // the exact cosine math. The label band is NOT the scale path — a
    // heavy label (think "en" on a web corpus) makes the within-band
    // pair space quadratic; d08 below is the same operator banded on
    // LSH buckets instead, which is what survives 100 TB.
    "d05_embedding_neardup" -> ((s, d) => {
      val dbl = Tables.embeddings(s, d)
        .select(col("vec_id"), col("label"),
          // plain array Cast, not transform(_.cast): stays in codegen
          col("embedding").cast(ArrayType(DoubleType)).as("v"))
      val a = dbl.select(col("label"), col("vec_id").as("id_a"), col("v").as("va"))
      val b = dbl.select(col("label"), col("vec_id").as("id_b"), col("v").as("vb"))
      a.join(b, Seq("label"))
        .filter(col("id_a") < col("id_b"))
        .withColumn("cos", Similarity.cosine(col("va"), col("vb")))
        .filter(col("cos") > 0.3)
        .select(col("label"), col("id_a"), col("id_b"), round(col("cos"), 6).as("cos_sim"))
        .orderBy("id_a", "id_b")
    }),

    // d08: embedding near-dup banded on SIGN-LSH BUCKETS — the 100 TB
    // variant of d05. Candidates = vectors sharing a signature band
    // (graft.operators.Similarity's 16-plane/4-band keys), so the pair
    // space is O(Σ bucket²) with bucket occupancy controlled by the
    // bit count — never within-label all-pairs, no label column read
    // at all. Exact double cosine re-ranks candidates; deterministic
    // (fixed hash planes) but not SQL-expressible → rows-only check
    // here, recall teeth in d09.
    "d08_embedding_neardup_lsh" -> ((s, d) =>
      embeddingNeardupLshPairs(
        Tables.embeddings(s, d)
          .select(col("vec_id"), col("embedding").cast(ArrayType(DoubleType)).as("v")),
        minCos = 0.3)
        .orderBy("id_a", "id_b")),

    // d10: corpus-wide REPEATED SPANS — the passage-level dedup
    // primitive (public technique: Lee et al., "Deduplicating
    // Training Data Makes Language Models Better" — exact substring
    // dedup finds verbatim passages repeated ACROSS documents that
    // whole-doc dedup never sees, e.g. boilerplate headers, license
    // blocks, chain letters). Fixed-length token spans (5 here,
    // ~50 in a production text run — only the constant changes) slide
    // stride-1 over every doc; a span appearing in ≥2 distinct docs is
    // a dedup candidate. Shape: one explode (len−4 rows/doc, linear)
    // → one hash aggregate on the span digest → top-k. No window, no
    // join, no HOF lambda: scan-shaped at any corpus size, and the
    // aggregate ships only (16-byte digest, two counts).
    "d10_repeated_spans" -> ((s, d) => {
      val SpanLen = 5
      Tables.documents(s, d)
        .select(col("doc_id"), split(lower(col("text")), "\\s+").as("toks"))
        .filter(size(col("toks")) >= SpanLen)
        .select(col("doc_id"), col("toks"),
          posexplode(sequence(lit(1), size(col("toks")) - (SpanLen - 1)))
            .as(Seq("i", "start")))
        .select(col("doc_id"),
          md5(concat_ws(" ", slice(col("toks"), col("start"), lit(SpanLen))))
            .as("span_md5"))
        .groupBy("span_md5")
        .agg(countDistinct(col("doc_id")).as("n_docs"),
          count(lit(1)).as("n_occurrences"))
        .filter(col("n_docs") >= 2)
        .orderBy(desc("n_occurrences"), desc("n_docs"), asc("span_md5"))
        .limit(100)
    }),

    // d11: per-document SPAN COVERAGE — the dedup DECISION layer on
    // top of d10's span discovery (Lee et al.: after finding verbatim
    // spans repeated across documents, each document is judged by how
    // much of it is duplicated material; docs that are mostly shared
    // boilerplate get dropped, lightly-contaminated docs are kept).
    // For every doc: n_tokens, how many token positions are covered
    // by at least one cross-doc repeated span, the covered fraction,
    // and the drop verdict (majority duplicated, compared in exact
    // integer arithmetic: 2·covered > n_tokens).
    //
    // Shape: the stride-1 span explode is linear (len−4 rows/doc) and
    // feeds two consumers, so it is lazily truncated — the repeated-
    // span set and the coverage probe re-read pinned blocks instead
    // of re-scanning. The repeated-span set (16-byte digests) joins
    // back shuffle-hash on the digest; position coverage then explodes
    // exactly SpanLen positions per surviving occurrence and distinct-
    // counts them per doc — linear in repeated-span occurrences, never
    // in the pair space. At 100 TB each stage shuffles on digest or
    // doc_id; nothing is quadratic and nothing reaches the driver.
    "d11_span_coverage" -> ((s, d) => {
      import graft.Checkpoint.TruncateOps
      val SpanLen = 5
      val base = Tables.documents(s, d)
        .select(col("doc_id"), split(lower(col("text")), "\\s+").as("toks"))
      val spans = base
        .filter(size(col("toks")) >= SpanLen)
        .select(col("doc_id"), col("toks"),
          posexplode(sequence(lit(1), size(col("toks")) - (SpanLen - 1)))
            .as(Seq("i", "start")))
        .select(col("doc_id"), col("start"),
          md5(concat_ws(" ", slice(col("toks"), col("start"), lit(SpanLen))))
            .as("span_md5"))
        .truncatedLazy
      val repeated = spans.groupBy("span_md5")
        .agg(countDistinct(col("doc_id")).as("n_docs"))
        .filter(col("n_docs") >= 2)
        .select("span_md5")
      val covered = spans
        .join(repeated.hint("shuffle_hash"), Seq("span_md5"))
        .select(col("doc_id"),
          explode(sequence(col("start"), col("start") + (SpanLen - 1))).as("pos"))
        .groupBy("doc_id")
        .agg(countDistinct(col("pos")).as("cov"))
      base.select(col("doc_id"), size(col("toks")).cast(LongType).as("n_tokens"))
        .join(covered, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_tokens"),
          coalesce(col("cov"), lit(0L)).as("n_covered"),
          round(coalesce(col("cov"), lit(0L)).cast(DoubleType) / col("n_tokens"), 6)
            .as("dup_frac"),
          (coalesce(col("cov"), lit(0L)) * 2 > col("n_tokens")).as("drop_doc"))
        .orderBy("doc_id")
    }),

    // d12: INCREMENTAL dedup recall gate — the daily-ingest shape. The
    // "existing corpus" is indexed once (persisted sigs + band keys,
    // cached per source stamp under scratch); the "new shard" is the
    // d06 twin set (known near-dups of every 5th corpus doc). The gate
    // asserts the shard-vs-index path recovers ≥ 95% of the twins
    // WITHOUT rescanning corpus text — the plan-shape half of that
    // claim is pinned in PlanQualitySpec, the recall half here. Oracle
    // derives the twin count by plain SQL exactly like d06.
    "d12_incremental_dedup" -> ((s, d) => {
      val idx = minhashIndexDir(s, d)
      val shard = twinsOf(Tables.documents(s, d))
      val found = incrementalDupes(s, shard, idx)
        .filter(col("dup_of") === col("new_id") - TwinOffset &&
          col("est_jaccard") >= 0.5)
      recallRow(
        shard.agg(count(lit(1)).as("n_twins")),
        found.agg(count(lit(1)).as("n_found")),
        minRecall = 0.95)
    }),

    // d13: SemDeDup-style semantic dedup DROP LIST — for every vector
    // that has a same-cell neighbor above the cosine threshold with a
    // SMALLER id, emit (vec_id, dup_of, max_cos): the min-id keeper
    // policy, consistent with c12's canonicalization (keeper = min id;
    // d13 applies it per-pair greedily — the SemDeDup paper's policy —
    // rather than per connected component, so a chain a~b~c keeps a
    // and drops b, c exactly like c12 would). Threshold 0.3 is
    // fixture-honest (the synthetic embeddings are near-uniform, so a
    // production-style 0.9 matches nothing but injected twins — d14
    // asserts that path); only the constant changes at 100 TB. Cell
    // assignment isn't SQL-expressible (same as s03) → rows-only
    // check here, recall teeth in d14.
    "d13_semantic_dedup" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding").cast(ArrayType(DoubleType)).as("v"))
      semanticDupePairs(emb, minCos = 0.3)
        .groupBy(col("id_b").as("vec_id"))
        .agg(min(col("id_a")).as("dup_of"),
          round(max(col("cos")), 6).as("max_cos"))
        .orderBy("vec_id")
    }),

    // d14: hash-checkable recall gate for d13, in the d09 style —
    // inject twin vectors (cosine ≈ 0.999) for every 5th vec_id and
    // assert the clustered pipeline drops ≥ 95% of them: a twin and
    // its original are near-identical in embedding space, so they must
    // share a probed cell (nProbe=2 covers the boundary straddle) and
    // the twin (larger id) must land on the drop list.
    "d14_semdedup_recall" -> ((s, d) => {
      val corpus = withVectorTwins(Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding").cast(ArrayType(DoubleType)).as("v")))
      val found = semanticDupePairs(corpus, minCos = 0.9)
        .filter(col("id_b") === col("id_a") + TwinOffset)
      recallRow(
        corpus.filter(col("vec_id") >= TwinOffset)
          .agg(count(lit(1)).as("n_twins")),
        found.agg(count(lit(1)).as("n_found")),
        minRecall = 0.95)
    }),

    // d09: hash-checkable recall gate for d08, in the d06 style —
    // inject twin vectors (deterministic ±5% per-dim perturbation,
    // cosine ≈ 0.999) for every 5th vec_id and assert the LSH-banded
    // pipeline recovers ≥ 95% of them. Sign-LSH keeps near-identical
    // directions in the same bucket with overwhelming probability
    // (p_bit ≈ 0.98 ⇒ ≥1-of-4 bands ≈ 0.99998), so the gate fails
    // only if banding/bucketing/re-rank actually breaks.
    "d09_embedding_lsh_recall" -> ((s, d) => {
      val corpus = withVectorTwins(Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding").cast(ArrayType(DoubleType)).as("v")))
      val found = embeddingNeardupLshPairs(corpus, minCos = 0.9)
        .filter(col("id_b") === col("id_a") + TwinOffset)
      recallRow(
        corpus.filter(col("vec_id") >= TwinOffset)
          .agg(count(lit(1)).as("n_twins")),
        found.agg(count(lit(1)).as("n_found")),
        minRecall = 0.95)
    }),

    // d15: NORMALIZED exact dedup — the canonicalization pass every
    // web pipeline runs BEFORE fuzzy dedup (RefinedWeb/C4's
    // "exact after normalization"): two docs that differ only in
    // case, punctuation or whitespace are the same document. The
    // normalization (lowercase, non-alphanumeric runs → single space,
    // trim) is a per-row codegen'd expression; everything after is
    // d01's shape — one shuffle on the 128-bit digest of the
    // NORMALIZED text, id-only groups. Emitted per-group so the
    // oracle pins both the grouping and the keeper policy; the raw-
    // vs-normalized group count difference is exactly what this pass
    // exists to catch (punctuation variants d01 treats as distinct).
    "d15_normalized_dedup" -> ((s, d) =>
      Tables.documents(s, d)
        .groupBy(md5(trim(regexp_replace(lower(col("text")),
          "[^a-z0-9]+", " "))).as("norm_hash"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
        .orderBy("keep_id")),

    // d16: shingle CONTAINMENT — the ASYMMETRIC near-dup relation
    // Jaccard misses: a short doc quoted inside a long one scores
    // C(a⊂b) = |A∩B|/|A| ≈ 1 while its Jaccard stays tiny (the
    // Broder containment measure; quote/boilerplate/excerpt detection
    // in every web pipeline). Rides d04's exact machinery —
    // [[ngramJaccardPairs]] already returns (na, nb, ni) per
    // candidate pair, so both directed containments are one division
    // each: zero additional joins or shuffles over the jaccard pass.
    // Thresholds are fixture-scoped like d04's 0.01 (the synthetic
    // corpus has no real quotes; max containment ≈ 0.125): a
    // production run moves the 0.02 knob to ~0.8, same plan.
    "d16_containment" -> ((s, d) =>
      ngramJaccardPairs(Tables.documents(s, d))
        .withColumn("cont_a_in_b",
          round(col("ni").cast(DoubleType) / col("na").cast(DoubleType), 6))
        .withColumn("cont_b_in_a",
          round(col("ni").cast(DoubleType) / col("nb").cast(DoubleType), 6))
        .filter(col("ni").cast(DoubleType) / col("na").cast(DoubleType) > 0.02 ||
          col("ni").cast(DoubleType) / col("nb").cast(DoubleType) > 0.02)
        .select(col("source"), col("doc_a"), col("doc_b"),
          col("cont_a_in_b"), col("cont_b_in_a"))
        .orderBy("doc_a", "doc_b")),

    // d17: TEMPORAL NOVELTY — per doc, the fraction of its distinct
    // word 8-grams never seen in any EARLIER document (ingestion
    // order = doc_id). Where d01–d16 ask "is this a copy of
    // something", novelty asks "how much NEW text does this doc
    // contribute" — the incremental-value signal pipelines read to
    // prioritize fresh crawl slices and down-rank boilerplate tails
    // (the 8-gram window is the classic overlap unit; GPT-3 App. C
    // uses 13-grams for the same machinery at decontamination).
    // Scale shape: the gram relation is d04's shingle class (one
    // narrow explode, distinct within doc); the first-seen index is
    // ONE hash aggregate keyed on the gram — min(doc_id), the same
    // persistable, incrementally-mergeable index d12 maintains for
    // exact digests (tomorrow's crawl updates it with a merge, no
    // rescan) — and the scoring re-join is shuffle-hash keyed on the
    // gram (vocab-sized relation; a broadcast would mis-size at
    // corpus scale, the d08 lesson). Two shuffles over the gram
    // relation, per-doc rollup on the doc_id partitioning, nothing
    // global but the output sort.
    "d17_novelty_score" -> ((s, d) => {
      val grams = Tables.documents(s, d)
        .select(col("doc_id"), split(lower(col("text")), "\\s+").as("toks"))
        .filter(size(col("toks")) >= 8)
        .select(col("doc_id"), explode(array_distinct(expr(
          "transform(sequence(0, size(toks) - 8)," +
            " i -> concat_ws(' ', slice(toks, i + 1, 8)))"))).as("gram"))
      val firstSeen = grams.groupBy("gram")
        .agg(min(col("doc_id")).as("first_doc"))
      grams.hint("shuffle_hash").join(firstSeen, Seq("gram"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_grams"),
          sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
            .as("novel_grams"))
        .withColumn("novelty", round(col("novel_grams").cast(DoubleType) /
          col("n_grams").cast(DoubleType), 6))
        .orderBy("doc_id")
    }),

    // d18: VALUE-LEVEL ORACLE PARITY for the MinHash+LSH pipeline —
    // the same shingle → 32-minhash → 8-band → bucket-join → overlap
    // math as d02 (same Carter–Wegman h1 + i·h2 family, same band/row
    // geometry; signed here as explode + 32 `min`s, the relational form
    // DuckDB replays, where d02 signs in the native MinHashSignature
    // kernel), re-keyed on a hash both
    // engines compute bit-identically: h1/h2 are the two 8-hex-char
    // halves of md5(gram) parsed digit-by-digit (instr over
    // '0123456789abcdef' — identical semantics in Spark and DuckDB),
    // so DuckDB replays the ENTIRE pipeline value-for-value and the
    // driver hash-compares every (pair, estimate) row. This converts
    // the un-oracle-able d02 internals (xxhash64 is Spark-only) into
    // hash-exact evidence — d06's injected-twin recall gate checks
    // BEHAVIOR, this checks the VALUES. d02 itself stays on xxhash64
    // (one int op per shingle vs md5's digest + 16 string parses —
    // the production key; this twin pays the md5 tax once, as a gate).
    "d18_minhash_oracle" -> ((s, d) => {
      val toks = split(lower(col("text")), "\\s+")
      val nTriples = greatest(size(toks) - 2, lit(0))
      val hs = Tables.documents(s, d)
        .filter(size(toks) >= 3)
        .select(col("doc_id"), explode(arrays_zip(
          slice(toks, lit(1), nTriples),
          slice(toks, lit(2), nTriples),
          slice(toks, lit(3), nTriples))).as("p"))
        .select(col("doc_id"),
          md5(concat_ws(" ", col("p.0"), col("p.1"), col("p.2"))).as("md"))
        .select(col("doc_id"), md5HexLong(1).as("h1"), md5HexLong(9).as("h2"))
      val mins = (0 until NumHashes).map(i =>
        min(col("h1") + lit(i.toLong) * col("h2")).as(s"m$i"))
      val sigs = hs.groupBy("doc_id").agg(mins.head, mins.tail: _*)
        .select(col("doc_id"),
          array((0 until NumHashes).map(i => col(s"m$i")): _*).as("sig"))
        .truncatedLazy // banding + two scoring joins read it
      val r = NumHashes / Bands
      // band key as the ':'-joined 4-value string — portable across
      // engines, unlike d02's xxhash64 band compaction
      val banded = sigs.select(col("doc_id"),
        posexplode(array((0 until Bands).map { b =>
          concat_ws(":", (0 until r).map(i =>
            col("sig")(b * r + i).cast(StringType)): _*)
        }: _*)).as(Seq("band_idx", "band_key")))
      val pairs = banded
        .select(col("band_idx"), col("band_key"), col("doc_id").as("doc_a"))
        .hint("shuffle_hash")
        .join(banded.select(col("band_idx"), col("band_key"),
          col("doc_id").as("doc_b")), Seq("band_idx", "band_key"))
        .filter(col("doc_a") < col("doc_b"))
        .select("doc_a", "doc_b").distinct()
      pairs
        .join(sigs.select(col("doc_id").as("doc_a"), col("sig").as("sig_a"))
          .hint("shuffle_hash"), Seq("doc_a"))
        .join(sigs.select(col("doc_id").as("doc_b"), col("sig").as("sig_b"))
          .hint("shuffle_hash"), Seq("doc_b"))
        .select(col("doc_a"), col("doc_b"),
          round((0 until NumHashes).map(i =>
            when(col("sig_a")(i) === col("sig_b")(i), 1).otherwise(0))
            .reduce(_ + _).cast(DoubleType) / NumHashes, 6)
            .as("est_jaccard"))
        .orderBy("doc_a", "doc_b")
    }),

    // d19: VALUE-LEVEL ORACLE PARITY for the SimHash pipeline — the
    // d18 move applied to d03: the same distinct-token → per-bit vote
    // → majority fingerprint → 16-bit-chunk pigeonhole → hamming ≤ 3
    // pipeline, re-keyed on the md5-hex token hash both engines parse
    // identically. The 64-bit fingerprint lives as TWO 32-bit halves
    // (fp1/fp2 from the two md5 hex halves) because DuckDB BIGINT
    // arithmetic errors on the << 63 pack; hamming is the sum of the
    // halves' bit_counts — identical to the packed form. Spark keeps
    // d03's Janino-safe packed vote aggregate (16 slot columns, not
    // 64 — the vote VALUES are identical either way); the oracle
    // replays the votes as 64 plain SUMs. d03 itself stays on
    // xxhash64; d07's injected-twin gate checks behavior, this checks
    // the values.
    "d19_simhash_oracle" -> ((s, d) => {
      val hs = Tables.documents(s, d)
        .select(col("doc_id"),
          explode(array_distinct(split(lower(col("text")), "\\s+"))).as("t"))
        .select(col("doc_id"), md5(col("t")).as("md"))
        .select(col("doc_id"), md5HexLong(1).as("g1"), md5HexLong(9).as("g2"))
        .repartition(col("doc_id")) // d03's vote-compute spread
      // packed per-bit vote counters, 16-bit slots, 4 bits per column
      // (the d03 Janino-width fix); bits 0..31 come from g1, 32..63
      // from g2
      def bitOf(i: Int): Column =
        if (i < 32) shiftright(col("g1"), i).bitwiseAND(lit(1L))
        else shiftright(col("g2"), i - 32).bitwiseAND(lit(1L))
      val bitCnt = (0 until 16).map { j =>
        sum((0 until 4).map(k =>
          shiftleft(bitOf(j * 4 + k), k * 16)).reduce(_ + _)).as(s"c$j")
      }
      val aggCols = count(lit(1)).as("n") +: bitCnt
      val agged = hs.groupBy("doc_id").agg(aggCols.head, aggCols.tail: _*)
      def fpHalf(lo: Int): Column = (lo until lo + 32).map { i =>
        val ones = shiftrightunsigned(col(s"c${i / 4}"), (i % 4) * 16)
          .bitwiseAND(lit(0xFFFFL))
        when(ones * 2 > col("n"), lit(1L << (i - lo))).otherwise(0L)
      }.reduce(_ + _)
      val docsFp = agged
        .select(col("doc_id"), fpHalf(0).as("fp1"), fpHalf(32).as("fp2"))
        .truncatedLazy // chunking + pair scoring both read it
      val chunked = docsFp.select(col("doc_id"), col("fp1"), col("fp2"),
        posexplode(array(
          col("fp1").bitwiseAND(lit(0xFFFFL)),
          shiftrightunsigned(col("fp1"), 16).bitwiseAND(lit(0xFFFFL)),
          col("fp2").bitwiseAND(lit(0xFFFFL)),
          shiftrightunsigned(col("fp2"), 16).bitwiseAND(lit(0xFFFFL))))
          .as(Seq("chunk_idx", "chunk")))
      val a = chunked.select(col("chunk_idx"), col("chunk"),
        col("doc_id").as("doc_a"), col("fp1").as("fp1_a"), col("fp2").as("fp2_a"))
      val b = chunked.select(col("chunk_idx"), col("chunk"),
        col("doc_id").as("doc_b"), col("fp1").as("fp1_b"), col("fp2").as("fp2_b"))
      a.hint("shuffle_hash").join(b, Seq("chunk_idx", "chunk"))
        .filter(col("doc_a") < col("doc_b"))
        .select(col("doc_a"), col("doc_b"),
          (bit_count(col("fp1_a").bitwiseXOR(col("fp1_b"))) +
            bit_count(col("fp2_a").bitwiseXOR(col("fp2_b"))))
            .cast(LongType).as("hamming"))
        .filter(col("hamming") <= 3)
        .distinct()
        .orderBy("doc_a", "doc_b")
    })
  )

  /** LSH-banded embedding near-dup pairs (the d08 body) over any
    * (vec_id, v: array<double>) relation: band-bucket self-join on
    * the sign-LSH keys → unique id pairs → exact-cosine re-rank.
    * Mirrors [[minhashPairs]]'s shape: the candidate join carries only
    * (band keys, id) rows — vectors re-join AFTER pair dedup, so a
    * pair sharing several bands prices its cosine once and the
    * shuffled payload stays a few bytes per row. */
  def embeddingNeardupLshPairs(emb: DataFrame, minCos: Double): DataFrame = {
    val keys = Similarity.bandKeyRows(emb)
    // shuffle_hash for the same reason as minhashPairs: post-aggregate
    // size estimates are unreliable, a mis-broadcast builds a giant
    // one-thread hash relation.
    val pairs = keys.select(col("band_idx"), col("band_key"), col("vec_id").as("id_a"))
      .hint("shuffle_hash")
      .join(keys.select(col("band_idx"), col("band_key"), col("vec_id").as("id_b")),
        Seq("band_idx", "band_key"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .distinct()
    pairs
      .join(emb.select(col("vec_id").as("id_a"), col("v").as("va"))
        .hint("shuffle_hash"), Seq("id_a"))
      .join(emb.select(col("vec_id").as("id_b"), col("v").as("vb"))
        .hint("shuffle_hash"), Seq("id_b"))
      .withColumn("cos", Similarity.cosine(col("va"), col("vb")))
      .filter(col("cos") > minCos)
      .select(col("id_a"), col("id_b"), round(col("cos"), 6).as("cos_sim"))
  }

  /** SemDeDup-style semantic near-dup pairs (the d13 body; public
    * technique: Abbas et al., "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication" — cluster the
    * embedding space coarsely, then compare only WITHIN clusters, so
    * the pair space is Σ|cell|² with |cell| held at ~125 by sizing the
    * cell count to the corpus). This is the embedding-space complement
    * of d08's pairwise LSH: LSH buckets catch near-identical
    * DIRECTIONS; k-means cells group by REGION, the shape SemDeDup
    * uses to find semantic (not just angular) duplicates.
    *
    * Reuses the s03 IVF machinery (Similarity.ivfCellRanks) with
    * nProbe = 2: each vector belongs to its TWO nearest cells, and a
    * pair is a candidate if any probed cell is shared — the multi-
    * probe overlap de-flakes the classic SemDeDup miss where two
    * near-identical vectors straddle a cell boundary. Candidate join
    * carries slim (cid, id) rows; vectors re-join AFTER pair dedup
    * (the minhashPairs/d08 shape); exact cosine re-ranks. Cell count
    * scales as corpus/125 (memoized approx-count job), so occupancy —
    * and the within-cell pair space — stays bounded at any corpus
    * size. */
  def semanticDupePairs(emb: DataFrame, minCos: Double): DataFrame = {
    val k = math.max(16,
      math.ceil(Similarity.approxCorpusSize(emb) / 125.0).toInt)
    val probed = Similarity.ivfCellRanks(emb, k, nProbe = 2, kmIters = 2)
      .select(col("cid"), col("vec_id"))
    val pairs = probed.select(col("cid"), col("vec_id").as("id_a"))
      .hint("shuffle_hash")
      .join(probed.select(col("cid"), col("vec_id").as("id_b")), Seq("cid"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .distinct()
    pairs
      .join(emb.select(col("vec_id").as("id_a"), col("v").as("va"))
        .hint("shuffle_hash"), Seq("id_a"))
      .join(emb.select(col("vec_id").as("id_b"), col("v").as("vb"))
        .hint("shuffle_hash"), Seq("id_b"))
      .withColumn("cos", Similarity.cosine(col("va"), col("vb")))
      .filter(col("cos") > minCos)
      .select(col("id_a"), col("id_b"), col("cos"))
  }

  /** Twin vectors for the d09 gate: every 5th vec_id duplicated at
    * vec_id + TwinOffset with a deterministic ±5% per-dim
    * multiplicative perturbation — direction shifts by ~1.7°
    * (cosine ≈ 0.999), a true near-duplicate the banded pipeline MUST
    * find. The interpreted `transform` lambda is gate-only code over a
    * few hundred rows, not an operator hot path. */
  private def withVectorTwins(emb: DataFrame): DataFrame = {
    val twins = emb.filter(col("vec_id") % 5 === 0)
      .withColumn("v", transform(col("v"), (x, i) =>
        x * (lit(1.0) + lit(0.05) *
          (xxhash64(col("vec_id"), i).cast(DoubleType) / lit(Long.MaxValue.toDouble)))))
      .withColumn("vec_id", col("vec_id") + lit(TwinOffset))
    emb.unionByName(twins)
  }

  /** Exact windowed n-gram-jaccard candidate pairs (the d04 body),
    * returning (source, doc_a, doc_b, na, nb, ni, jac_raw) for pairs
    * with jac_raw > 0.01 — shared by d04 and the duplicate-cluster
    * operator (graft.operators.Corpus c03). */
  def ngramJaccardPairs(documents: DataFrame): DataFrame = {
      // Set math WITHOUT set payloads: a pair's |A∩B| is a COUNT of
      // matching (source, shingle) rows, so the join ships only
      // (doc_id, 8-byte gram hash) rows — an earlier version carried
      // whole collect_set arrays through the candidate join and spent
      // its time shuffling/intersecting ~KB array payloads per pair.
      // |A∪B| = |A|+|B|-|A∩B| from per-doc distinct counts. Gram
      // identity is the 64-bit shingle hash (same set sizes as the
      // oracle's string sets modulo negligible collisions).
      // Per-doc set size rides along as a window count over the
      // deduped gram rows (no separate sizes relation, no extra
      // joins); the join then carries only ids, an 8-byte hash, and
      // two ints per row.
      val grams = shingleRows(documents) // oracle scopes to docs with >= 3 tokens
        .select("source", "doc_id", "sh").distinct()
        .withColumn("sz", count(lit(1)).over(Window.partitionBy("source", "doc_id")))
        // materialize the gram stage before the band join: the fused
        // split→window→distinct→window pipeline and the exploded
        // band join then codegen/JIT as two separate jobs with small
        // per-job generated-method sets — the round-3 profile's
        // "in-query JIT lottery" drew from exactly this fusion — and
        // the rows are slim (ids + 8-byte hash + two ints)
        .truncated
      // Band the "id within 50" range predicate into equi-join buckets
      // (bucket = doc_id div 50; a partner is in my bucket or the
      // next), so candidate generation never materializes whole-source
      // pair blocks, and any one join key (source, bucket, sh) matches
      // at most the docs of two buckets — bounded even at 100 TB.
      val a = grams.select(col("source"), col("doc_id").as("doc_a"), col("sh"),
          col("sz").as("na"))
        .withColumn("bucket",
          explode(array(expr("doc_a div 50"), expr("doc_a div 50 + 1"))))
      val b = grams.select(col("source"), col("doc_id").as("doc_b"), col("sh"),
        col("sz").as("nb"), expr("doc_b div 50").as("bucket"))
      // shuffle_hash: post-aggregate size estimates are unreliable, and
      // Catalyst once "broadcast" this multi-million-row exploded side
      // (single-threaded hash build). A partitioned hash join on the
      // high-cardinality (source, bucket, sh) key needs no sort and no
      // broadcast — the only strategy that survives a 100× scale-up.
      val inter = a.hint("shuffle_hash").join(b, Seq("source", "bucket", "sh"))
        .filter(col("doc_b") > col("doc_a") && col("doc_b") <= col("doc_a") + 50)
        .groupBy("source", "doc_a", "doc_b", "na", "nb").agg(count(lit(1)).as("ni"))
      inter
        .withColumn("jac_raw", col("ni").cast(DoubleType) /
          (col("na") + col("nb") - col("ni")).cast(DoubleType))
        // Threshold 0.01, not 0.1: the synthetic corpus's max in-window
        // jaccard at sf0.01 is ~0.022, so 0.1 made the gate pass
        // vacuously on 0 = 0 rows. Both sides divide the same integer
        // counts, so the boundary comparison is bit-identical.
        .filter(col("jac_raw") > 0.01) // filter on raw, not rounded, to mirror the oracle
  }

  val oracle: Map[String, String] = Map(
    "d01_dedup_exact" -> """
      SELECT md5(text) AS content_hash, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
      FROM documents GROUP BY md5(text) ORDER BY keep_id""",

    // d15: identical normalization chain (lower → non-alnum runs to
    // one space → trim) before the digest
    "d15_normalized_dedup" -> """
      SELECT md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')))
        AS norm_hash, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
      FROM documents
      GROUP BY 1 ORDER BY keep_id""",

    // d06/d07: the oracle independently derives the twin count and
    // pins the expected assertion outcome — if the LSH/simhash
    // pipelines stop finding the injected near-dups, recall_ok flips
    // to 0 on the Spark side and the hash compare goes red.
    "d06_minhash_recall" -> """
      SELECT COUNT(*) AS n_twins, CAST(1 AS BIGINT) AS recall_ok
      FROM documents
      WHERE doc_id % 5 = 0 AND len(string_split_regex(text, '\s+')) >= 4""",

    "d07_simhash_recall" -> """
      SELECT COUNT(*) AS n_twins, CAST(1 AS BIGINT) AS recall_ok
      FROM documents
      WHERE doc_id % 5 = 0 AND len(string_split_regex(text, '\s+')) >= 4""",

    "d09_embedding_lsh_recall" -> """
      SELECT COUNT(*) AS n_twins, CAST(1 AS BIGINT) AS recall_ok
      FROM embeddings WHERE vec_id % 5 = 0""",

    // d12's shard is exactly the d06 twin set, so the oracle's twin
    // count is the same plain SQL; recall_ok pins the assertion.
    "d12_incremental_dedup" -> """
      SELECT COUNT(*) AS n_twins, CAST(1 AS BIGINT) AS recall_ok
      FROM documents
      WHERE doc_id % 5 = 0 AND len(string_split_regex(text, '\s+')) >= 4""",

    // d14's twin set mirrors d09's (every 5th vec_id).
    "d14_semdedup_recall" -> """
      SELECT COUNT(*) AS n_twins, CAST(1 AS BIGINT) AS recall_ok
      FROM embeddings WHERE vec_id % 5 = 0""",

    "d10_repeated_spans" -> """
      WITH t AS (
        SELECT doc_id, string_split_regex(lower(text), '\s+') AS w
        FROM documents),
      sp AS (
        SELECT doc_id, unnest(CASE WHEN len(w) >= 5
          THEN list_transform(range(1, len(w) - 3),
            i -> md5(array_to_string(list_slice(w, i, i + 4), ' ')))
          ELSE [] END) AS span_md5
        FROM t)
      SELECT span_md5, COUNT(DISTINCT doc_id) AS n_docs,
        COUNT(*) AS n_occurrences
      FROM sp GROUP BY span_md5 HAVING COUNT(DISTINCT doc_id) >= 2
      ORDER BY n_occurrences DESC, n_docs DESC, span_md5 LIMIT 100""",

    // mirrors d11: spans slide 1..len-4 (5-token windows), a span is
    // "repeated" when seen in >=2 distinct docs, coverage = distinct
    // token positions under any repeated-span occurrence, drop =
    // integer-exact majority test (2*covered > n_tokens).
    "d11_span_coverage" -> """
      WITH t AS (
        SELECT doc_id, string_split_regex(lower(text), '\s+') AS w
        FROM documents),
      sp AS (
        SELECT doc_id, unnest(range(1, len(w) - 3)) AS start, w
        FROM t WHERE len(w) >= 5),
      sp2 AS (
        SELECT doc_id, start,
          md5(array_to_string(list_slice(w, start, start + 4), ' ')) AS span_md5
        FROM sp),
      rep AS (
        SELECT span_md5 FROM sp2
        GROUP BY span_md5 HAVING COUNT(DISTINCT doc_id) >= 2),
      cov AS (
        SELECT doc_id, COUNT(DISTINCT pos) AS n_covered
        FROM (SELECT sp2.doc_id, unnest(range(sp2.start, sp2.start + 5)) AS pos
              FROM sp2 JOIN rep USING (span_md5))
        GROUP BY doc_id),
      base AS (SELECT doc_id, len(w) AS n_tokens FROM t)
      SELECT base.doc_id, CAST(base.n_tokens AS BIGINT) AS n_tokens,
        CAST(COALESCE(cov.n_covered, 0) AS BIGINT) AS n_covered,
        ROUND(CAST(COALESCE(cov.n_covered, 0) AS DOUBLE) / base.n_tokens, 6) AS dup_frac,
        COALESCE(cov.n_covered, 0) * 2 > base.n_tokens AS drop_doc
      FROM base LEFT JOIN cov USING (doc_id)
      ORDER BY base.doc_id""",

    "d04_ngram_jaccard" -> """
      WITH t AS (
        SELECT doc_id, source,
          string_split_regex(lower(text), '\s+') AS toks
        FROM documents),
      g AS (
        SELECT doc_id, source,
          list_distinct(list_transform(range(1, len(toks) - 1),
            i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))) AS grams
        FROM t WHERE len(toks) >= 3)
      SELECT a.source AS source, a.doc_id AS doc_a, b.doc_id AS doc_b,
        ROUND(CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE) /
              CAST(len(list_distinct(list_concat(a.grams, b.grams))) AS DOUBLE), 6) AS jaccard
      FROM g a JOIN g b ON a.source = b.source
        AND b.doc_id > a.doc_id AND b.doc_id <= a.doc_id + 50
      WHERE CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE) /
            CAST(len(list_distinct(list_concat(a.grams, b.grams))) AS DOUBLE) > 0.01
      ORDER BY doc_a, doc_b""",

    // d16: d04's candidate scope (jac > 0.01, same window) plus the
    // directed containment filters, divisions of the same integers
    "d16_containment" -> """
      WITH t AS (
        SELECT doc_id, source,
          string_split_regex(lower(text), '\s+') AS toks
        FROM documents),
      g AS (
        SELECT doc_id, source,
          list_distinct(list_transform(range(1, len(toks) - 1),
            i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))) AS grams
        FROM t WHERE len(toks) >= 3),
      p AS (
        SELECT a.source AS source, a.doc_id AS doc_a, b.doc_id AS doc_b,
          CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE) AS ni,
          CAST(len(a.grams) AS DOUBLE) AS na,
          CAST(len(b.grams) AS DOUBLE) AS nb
        FROM g a JOIN g b ON a.source = b.source
          AND b.doc_id > a.doc_id AND b.doc_id <= a.doc_id + 50)
      SELECT source, doc_a, doc_b,
        ROUND(ni / na, 6) AS cont_a_in_b,
        ROUND(ni / nb, 6) AS cont_b_in_a
      FROM p
      WHERE ni / (na + nb - ni) > 0.01 AND (ni / na > 0.02 OR ni / nb > 0.02)
      ORDER BY doc_a, doc_b""",

    "d05_embedding_neardup" -> """
      WITH e AS (
        SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings)
      SELECT a.label AS label, a.vec_id AS id_a, b.vec_id AS id_b,
        ROUND(
          list_sum(list_transform(range(1, len(a.v) + 1), i -> a.v[i] * b.v[i])) /
          (SQRT(list_sum(list_transform(range(1, len(a.v) + 1), i -> a.v[i] * a.v[i]))) *
           SQRT(list_sum(list_transform(range(1, len(b.v) + 1), i -> b.v[i] * b.v[i])))), 6) AS cos_sim
      FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
      WHERE list_sum(list_transform(range(1, len(a.v) + 1), i -> a.v[i] * b.v[i])) /
            (SQRT(list_sum(list_transform(range(1, len(a.v) + 1), i -> a.v[i] * a.v[i]))) *
             SQRT(list_sum(list_transform(range(1, len(b.v) + 1), i -> b.v[i] * b.v[i])))) > 0.3
      ORDER BY id_a, id_b""",

    // d17: same 8-gram construction (list slice ≡ Spark's
    // slice(toks, i+1, 8)), first-seen = MIN(doc_id) per gram,
    // novelty a 6dp-rounded ratio of identical integers
    "d17_novelty_score" -> """
      WITH t AS (
        SELECT doc_id, string_split_regex(lower(text), '\s+') AS toks
        FROM documents),
      g AS (
        SELECT doc_id, unnest(list_distinct(list_transform(
          range(1, len(toks) - 6),
          i -> array_to_string(toks[i:i+7], ' ')))) AS gram
        FROM t WHERE len(toks) >= 8),
      f AS (
        SELECT gram, MIN(doc_id) AS first_doc FROM g GROUP BY gram)
      SELECT g.doc_id AS doc_id,
        CAST(COUNT(*) AS BIGINT) AS n_grams,
        CAST(SUM(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END)
          AS BIGINT) AS novel_grams,
        ROUND(CAST(SUM(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END)
          AS DOUBLE) / COUNT(*), 6) AS novelty
      FROM g JOIN f USING (gram)
      GROUP BY g.doc_id ORDER BY g.doc_id""",

    // d18: the FULL MinHash+LSH pipeline replayed value-for-value —
    // shingle md5s parsed digit-by-digit (instr over the hex alphabet,
    // identical semantics both engines), 32 Carter–Wegman families,
    // 8 string-keyed bands, bucket self-join, per-pair overlap. Every
    // minhash VALUE must agree for the candidate sets and estimates
    // to hash-match.
    "d18_minhash_oracle" -> """
      WITH toks AS (
        SELECT doc_id, string_split_regex(lower(text), '\s+') AS ts
        FROM documents),
      grams AS (
        SELECT doc_id,
          md5(ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]) AS md
        FROM (SELECT doc_id, ts, unnest(range(1, len(ts) - 1)) AS i
              FROM toks WHERE len(ts) >= 3)),
      hs AS (
        SELECT doc_id,
          (instr('0123456789abcdef', substring(md, 1, 1)) - 1)
          + (instr('0123456789abcdef', substring(md, 2, 1)) - 1) * 16
          + (instr('0123456789abcdef', substring(md, 3, 1)) - 1) * 256
          + (instr('0123456789abcdef', substring(md, 4, 1)) - 1) * 4096
          + (instr('0123456789abcdef', substring(md, 5, 1)) - 1) * 65536
          + (instr('0123456789abcdef', substring(md, 6, 1)) - 1) * 1048576
          + (instr('0123456789abcdef', substring(md, 7, 1)) - 1) * 16777216
          + (instr('0123456789abcdef', substring(md, 8, 1)) - 1) * 268435456
            AS h1,
          (instr('0123456789abcdef', substring(md, 9, 1)) - 1)
          + (instr('0123456789abcdef', substring(md, 10, 1)) - 1) * 16
          + (instr('0123456789abcdef', substring(md, 11, 1)) - 1) * 256
          + (instr('0123456789abcdef', substring(md, 12, 1)) - 1) * 4096
          + (instr('0123456789abcdef', substring(md, 13, 1)) - 1) * 65536
          + (instr('0123456789abcdef', substring(md, 14, 1)) - 1) * 1048576
          + (instr('0123456789abcdef', substring(md, 15, 1)) - 1) * 16777216
          + (instr('0123456789abcdef', substring(md, 16, 1)) - 1) * 268435456
            AS h2
        FROM grams),
      fam AS (SELECT unnest(range(0, 32)) AS i),
      sig AS (
        SELECT doc_id, i, MIN(h1 + i * h2) AS m
        FROM hs CROSS JOIN fam GROUP BY doc_id, i),
      bands AS (
        SELECT doc_id, i // 4 AS band_idx,
          string_agg(CAST(m AS VARCHAR), ':' ORDER BY i) AS band_key
        FROM sig GROUP BY doc_id, i // 4),
      cands AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.band_idx = b.band_idx AND a.band_key = b.band_key
         AND a.doc_id < b.doc_id)
      SELECT doc_a, doc_b,
        ROUND(SUM(CASE WHEN sa.m = sb.m THEN 1 ELSE 0 END) / 32.0, 6)
          AS est_jaccard
      FROM cands
      JOIN sig sa ON sa.doc_id = doc_a
      JOIN sig sb ON sb.doc_id = doc_b AND sb.i = sa.i
      GROUP BY doc_a, doc_b ORDER BY doc_a, doc_b""",

    // d19: the SimHash pipeline replayed value-for-value — md5 token
    // hashes (the d18 hex parse), 64 per-bit vote SUMs (plain columns
    // here; Spark packs them 4-per-long for Janino, same values),
    // majority fingerprints as two 32-bit halves, 16-bit-chunk
    // pigeonhole, hamming ≤ 3. Generated SQL: the 64 vote sums and
    // the two fingerprint folds are mechanical expansions.
    "d19_simhash_oracle" -> {
      def hexSql(from: Int) = (0 until 8).map(j =>
        s"(instr('0123456789abcdef', substring(md, ${from + j}, 1)) - 1)" +
          s" * ${1L << (4 * j)}").mkString(" + ")
      val votes = (0 until 64).map { i =>
        val src = if (i < 32) "g1" else "g2"
        s"SUM(($src // ${1L << (i % 32)}) % 2) AS b$i"
      }.mkString(", ")
      def fpSql(lo: Int) = (lo until lo + 32).map(i =>
        s"(CASE WHEN 2*b$i > n THEN ${1L << (i - lo)} ELSE 0 END)")
        .mkString(" + ")
      s"""
      WITH toks AS (
        SELECT DISTINCT doc_id, t FROM (
          SELECT doc_id,
            unnest(string_split_regex(lower(text), '\\s+')) AS t
          FROM documents)),
      hs AS (
        SELECT doc_id, md5(t) AS md FROM toks),
      gs AS (
        SELECT doc_id, ${hexSql(1)} AS g1, ${hexSql(9)} AS g2 FROM hs),
      votes AS (
        SELECT doc_id, COUNT(*) AS n, $votes FROM gs GROUP BY doc_id),
      fp AS (
        SELECT doc_id, ${fpSql(0)} AS fp1, ${fpSql(32)} AS fp2 FROM votes),
      chunks AS (
        SELECT doc_id, fp1, fp2, 0 AS chunk_idx, fp1 % 65536 AS chunk FROM fp
        UNION ALL SELECT doc_id, fp1, fp2, 1, fp1 // 65536 FROM fp
        UNION ALL SELECT doc_id, fp1, fp2, 2, fp2 % 65536 FROM fp
        UNION ALL SELECT doc_id, fp1, fp2, 3, fp2 // 65536 FROM fp)
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
        CAST(bit_count(xor(a.fp1, b.fp1)) + bit_count(xor(a.fp2, b.fp2))
          AS BIGINT) AS hamming
      FROM chunks a JOIN chunks b
        ON a.chunk_idx = b.chunk_idx AND a.chunk = b.chunk
       AND a.doc_id < b.doc_id
      WHERE bit_count(xor(a.fp1, b.fp1)) + bit_count(xor(a.fp2, b.fp2)) <= 3
      ORDER BY doc_a, doc_b"""
    }
  )
}
