package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables
import graft.Checkpoint.TruncateOps

/** Multimodal-column plumbing: media as opaque `binary` columns with
  * typed metadata, and per-batch feature extraction. No image/audio
  * codec ships in this container, so the DECODE step is a clearly
  * marked deterministic stub ([[fakeDecode]]) — but everything Spark
  * cares about is real: the binary column representation, the schema
  * of the feature struct, the `mapPartitions` batch shape (the Scala
  * analog of `mapInPandas` — one iterator per partition, vectorizable
  * per batch), and the partitioning.
  *
  * At 100 TB: binary payloads ride in parquet alongside metadata;
  * feature extraction is a narrow per-partition pass (no shuffle), and
  * the partition count — not driver memory — bounds parallelism.
  */
object Multimodal {

  /** STUB — stands in for a real image/audio decoder. Deterministic
    * pure function of the bytes so tests and the oracle can check the
    * plumbing: "width/height" are derived from byte statistics the way
    * a real decoder would derive them from the media header. */
  def fakeDecode(bytes: Array[Byte]): (Int, Int, Double) = {
    val n = bytes.length
    val sum = bytes.foldLeft(0L)((a, b) => a + (b & 0xFF))
    val width = (sum % 640).toInt + 1
    val height = (n % 480) + 1
    val brightness = if (n == 0) 0.0 else sum.toDouble / n
    (width, height, brightness)
  }

  /** Typed output record of the batched decode — using a product
    * encoder keeps the mapPartitions stage inside the Dataset plan
    * (DeserializeToObject → MapPartitions → SerializeFromObject), so
    * Catalyst still sees column-level schema on both sides instead of
    * an opaque RDD scan barrier. */
  final case class MediaFeatures(doc_id: Long, n_bytes: Int, width: Int,
                                 height: Int, brightness: Double)

  /** One sampled "video frame" (m03): fixed 256-byte frames, every
    * 4th sampled — the frame-sampling batch shape with the codec
    * stubbed, one output row per sampled frame. */
  final case class FrameFeatures(doc_id: Long, frame_idx: Int, offset: Int,
                                 n_bytes: Int, brightness: Double)

  /** Per-doc VAD summary (m05): frame count, silent-frame count, and
    * the longest consecutive silent run. */
  final case class AudioSegments(doc_id: Long, n_frames: Long,
                                 n_silent: Long, longest_silence: Long)

  /** Per-payload byte statistics (m06): size, distinct byte values,
    * Shannon entropy of the byte distribution (bits/byte). */
  final case class ByteStats(doc_id: Long, n_bytes: Long,
                             n_distinct: Long, entropy: Double)

  /** Per-clip scene statistics (m07): frame count, cut count, and the
    * largest consecutive-frame level jump. */
  final case class SceneCuts(doc_id: Long, n_frames: Long,
                             n_cuts: Long, max_delta: Double)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Binary-column plumbing, SQL-expressible end: text → utf8 bytes as
    // the stand-in payload, plus typed metadata struct fields. Proves
    // the binary representation round-trips through parquet + oracle.
    "m01_binary_meta" -> ((s, d) =>
      Tables.documents(s, d)
        .withColumn("payload", encode(col("text"), "UTF-8").cast(BinaryType))
        .select(col("doc_id"),
          octet_length(col("payload")).as("n_bytes"),
          md5(col("payload")).as("payload_md5"),
          col("source").as("media_source"))
        .orderBy("doc_id")),

    // Feature extraction over binary payloads via mapPartitions — the
    // batched-UDF shape. The decode is the stub above; the Spark-side
    // schema/batching/partitioning is the real article.
    // Stays a Dataset the whole way: the tuple/product encoders keep
    // the decode stage in the typed plan (no .rdd barrier), so the
    // surrounding projections/order-by still plan and prune normally.
    "m02_media_features" -> ((s, d) => {
      import s.implicits._
      Tables.documents(s, d)
        .select(col("doc_id"), encode(col("text"), "UTF-8").cast(BinaryType).as("payload"))
        .as[(Long, Array[Byte])]
        .mapPartitions(_.map { case (id, bytes) =>
          val (w, h, bright) = fakeDecode(bytes)
          // HALF_UP to match SQL ROUND semantics (rint would be half-even)
          MediaFeatures(id, bytes.length, w, h,
            BigDecimal(bright).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
        })
        .toDF()
        .orderBy("doc_id")
    }),

    // m03: frame sampling — the video path's plumbing. The payload is
    // treated as a stream of fixed 256-byte frames; every 4th frame is
    // sampled (stride 1024 bytes) and per-frame features extracted.
    // Same typed-Dataset stance as m02, but flatMap-shaped: one input
    // row fans out to ceil(len/1024) frame rows inside the partition —
    // no shuffle, no decode on unsampled frames (a real codec would
    // seek keyframes the same way). Fan-out is linear in bytes, so at
    // 100 TB the pass stays scan-shaped and partition-bounded.
    "m03_frame_sample" -> ((s, d) => {
      import s.implicits._
      Tables.documents(s, d)
        .select(col("doc_id"), encode(col("text"), "UTF-8").cast(BinaryType).as("payload"))
        .as[(Long, Array[Byte])]
        .mapPartitions(_.flatMap { case (id, bytes) =>
          (0 until bytes.length by 1024).iterator.map { off =>
            val n = math.min(256, bytes.length - off)
            var sum = 0L; var i = off
            while (i < off + n) { sum += bytes(i) & 0xFF; i += 1 }
            FrameFeatures(id, off / 256, off, n,
              BigDecimal(sum.toDouble / n)
                .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
          }
        })
        .toDF()
        .orderBy("doc_id", "frame_idx")
    }),

    // m05: silence segmentation — the audio half's VAD (voice-activity
    // detection) shape: the payload is a stream of fixed 64-byte
    // frames, a frame is "silent" when its mean level sits below the
    // whole clip's mean, and the operative statistics are the silent
    // fraction and the LONGEST silent run (what an audio pipeline cuts
    // on). The energy model is the stub (byte means in place of PCM
    // RMS — a real decoder changes only the frame-energy line); the
    // Spark side is the real article: one narrow per-partition pass,
    // run-length state carried in the loop exactly as a streaming VAD
    // carries it, no shuffle, fan-out-free. The oracle replays the
    // frames with ascii(substr) sums (the m02/m03 ASCII-fixture
    // convention) and the run lengths with a gaps-and-islands window.
    // Frame/global means divide identical integer sums in both
    // engines, so the silent comparison can never split on float ulp.
    "m05_silence_segments" -> ((s, d) => {
      import s.implicits._
      Tables.documents(s, d)
        .select(col("doc_id"), encode(col("text"), "UTF-8").cast(BinaryType).as("payload"))
        .as[(Long, Array[Byte])]
        .filter(_._2.nonEmpty)
        .mapPartitions(_.map { case (id, bytes) =>
          val len = bytes.length
          var total = 0L; var i = 0
          while (i < len) { total += bytes(i) & 0xFF; i += 1 }
          val globalMean = total.toDouble / len
          var off = 0; var nFrames = 0L; var nSilent = 0L
          var run = 0L; var longest = 0L
          while (off < len) {
            val n = math.min(64, len - off)
            var fSum = 0L; var j = off
            while (j < off + n) { fSum += bytes(j) & 0xFF; j += 1 }
            nFrames += 1
            if (fSum.toDouble / n < globalMean) {
              nSilent += 1; run += 1
              if (run > longest) longest = run
            } else run = 0
            off += 64
          }
          AudioSegments(id, nFrames, nSilent, longest)
        })
        .toDF()
        .orderBy("doc_id")
    }),

    // m04: perceptual-hash near-dup RECALL GATE — image dedup, the
    // multimodal half every training pipeline pairs with text dedup.
    // The fingerprint is a 64-bit BLOCK-MEAN hash ([[blockHash]] — the
    // published blockhash/average-hash family: bit i = "window i's
    // mean is above the global mean"), computed over raw payload
    // bytes because the pixel decode is this container's stub; with a
    // real codec only fakeDecode/blockHash's input changes, the Spark
    // side is identical. The candidate join reuses d03's 4×16-bit
    // hamming pigeonhole ([[Dedup.hammingNeardupPairs]]) — small
    // equality keys, never all-pairs, the scale-safe shape. Gate:
    // inject a twin per eligible doc (3 bytes flipped at spread
    // positions — ≤ 3 windows touched directly; the ±1 edits also
    // shift the GLOBAL mean by ≤ 3/len, which can flip bits in
    // untouched windows whose mean sits within that margin of the
    // global mean, so hamming ≤ 3 is distribution-dependent, not a
    // hard invariant). The 95% gate carries headroom for exactly
    // those boundary flips: on the fixture corpus the observed
    // boundary-flip rate leaves every twin within hamming 3, and a
    // distribution where > 5% of twins cross the band would signal a
    // fixture change, not a code regression. Oracle derives n_twins
    // by SQL; gate constant in the d06 style.
    "m04_phash_twin_recall" -> ((s, d) => {
      import s.implicits._
      val payloads = Tables.documents(s, d)
        .select(col("doc_id"), encode(col("text"), "UTF-8").cast(BinaryType).as("payload"))
        .as[(Long, Array[Byte])]
        .filter(_._2.length >= 64)
      val corpus = payloads.mapPartitions(_.map { case (id, bytes) =>
        (id, blockHash(bytes))
      })
      val twins = payloads.mapPartitions(_.map { case (id, bytes) =>
        val b = bytes.clone()
        var k = 0
        while (k < 3) { // spread ±1 edits: at most 3 of the 64 windows
          // perturbed, and the GLOBAL mean moves by ≤ 3/len — a large
          // flip (tried: ^0x7F) shifts the global mean enough to flip
          // boundary bits in untouched windows and recall collapses;
          // small-magnitude edits are also what "near-duplicate
          // media" means (re-encode jitter, not corruption)
          val p = (b.length.toLong * (2 * k + 1) / 8).toInt
          b(p) = (b(p) ^ 0x01).toByte
          k += 1
        }
        (id + 3000000L, blockHash(b))
      })
      val fps = corpus.union(twins).toDF("doc_id", "fp")
      val found = Dedup.hammingNeardupPairs(fps, maxHamming = 3)
        .filter(col("doc_b") === col("doc_a") + 3000000L)
      val nTwins = fps.filter(col("doc_id") >= 3000000L)
        .agg(count(lit(1)).as("n_twins"))
      val nFound = found.agg(count(lit(1)).as("n_found"))
      nTwins.withColumn("k", lit(1))
        .join(nFound.withColumn("k", lit(1)), Seq("k"))
        .select(col("n_twins"),
          when(col("n_found") >= col("n_twins") * 0.95, 1L).otherwise(0L)
            .as("recall_ok"))
    }),

    // m06: BYTE-ENTROPY screen — the cheap first-pass media triage
    // every multimodal ingest runs before decoding anything: entropy
    // near 8 bits/byte means already-compressed (or encrypted) data, a
    // tiny distinct-byte count means padding/corruption, and text-like
    // payloads sit in between. One narrow per-partition pass: a
    // 256-slot count array per payload, entropy summed in FIXED byte-
    // value order (deterministic), no shuffle at all until the output
    // sort — at 100 TB this is a pure map over the binary column, the
    // same class as m01/m02's codec stubs. The oracle replays counts
    // via the ascii(substr) fixture convention; the 6-dp round
    // absorbs the oracle's different (hash-group) summation order.
    "m06_byte_entropy" -> ((s, d) => {
      import s.implicits._
      Tables.documents(s, d)
        .select(col("doc_id"), encode(col("text"), "UTF-8").cast(BinaryType).as("payload"))
        .as[(Long, Array[Byte])]
        .filter(_._2.nonEmpty)
        .mapPartitions(_.map { case (id, bytes) =>
          val counts = new Array[Long](256)
          var i = 0
          while (i < bytes.length) { counts(bytes(i) & 0xFF) += 1; i += 1 }
          val n = bytes.length.toDouble
          var h = 0.0; var distinct = 0L; var b = 0
          while (b < 256) {
            if (counts(b) > 0) {
              distinct += 1
              val p = counts(b) / n
              h -= p * (math.log(p) / math.log(2.0))
            }
            b += 1
          }
          ByteStats(id, bytes.length.toLong, distinct,
            BigDecimal(h).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
        })
        .toDF()
        .orderBy("doc_id")
    }),

    // m07: SCENE-CUT detection — the video twin of m05's VAD: a "cut"
    // is a consecutive-frame level jump above threshold, the statistic
    // frame-sampling pipelines cut clips on (sample densely around
    // cuts, sparsely inside scenes). Frames are m03's fixed 256-byte
    // blocks; the level model is the byte-mean stub (a real decoder
    // changes only that line). Per-clip sequential state (previous
    // frame's mean) rides the partition loop — zero shuffle, the m05
    // shape. Frame means are exact rationals (integer sum / length)
    // in both engines, so the >5.0 cut comparison can never split on
    // float ulp; only the reported max_delta is rounded.
    "m07_scene_cuts" -> ((s, d) => {
      import s.implicits._
      Tables.documents(s, d)
        .select(col("doc_id"), encode(col("text"), "UTF-8").cast(BinaryType).as("payload"))
        .as[(Long, Array[Byte])]
        .filter(_._2.nonEmpty)
        .mapPartitions(_.map { case (id, bytes) =>
          val len = bytes.length
          var off = 0; var nFrames = 0L; var nCuts = 0L
          var prev = Double.NaN; var maxDelta = 0.0
          while (off < len) {
            val n = math.min(256, len - off)
            var sum = 0L; var i = off
            while (i < off + n) { sum += bytes(i) & 0xFF; i += 1 }
            val mean = sum.toDouble / n
            if (!prev.isNaN) {
              val delta = math.abs(mean - prev)
              if (delta > maxDelta) maxDelta = delta
              if (delta > 5.0) nCuts += 1
            }
            prev = mean; nFrames += 1; off += 256
          }
          SceneCuts(id, nFrames, nCuts,
            BigDecimal(maxDelta).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
        })
        .toDF()
        .orderBy("doc_id")
    }),

    // m08: CONTENT-DEFINED CHUNKING dedup (the Rabin/FastCDC family —
    // THE binary-dedup primitive of backup systems and large-media
    // training corpora): cut points are decided by payload CONTENT
    // (here: an 8-byte window whose md5 leads with hex '0', P = 1/16
    // → ~16-byte expected chunks on this fixture), so a local edit
    // moves only nearby boundaries and identical regions across
    // different payloads chunk identically — which fixed-offset
    // blocking cannot do. The per-source rollup (total vs distinct
    // chunk digests, dedup ratio) is exactly the storage-savings
    // accounting a media-corpus pipeline runs before dedup. Both
    // engines replay value-for-value: the payload is the ASCII text's
    // UTF-8 bytes (the m06 convention), the window digest is
    // md5-of-substring, the spans come from a per-doc lag window over
    // the cut list. Scale shape: the per-position window hash is
    // O(payload bytes) — the same asymptotic cost ANY rolling chunker
    // pays — parallel across and within payloads (positions explode,
    // the m06 class); spans are per-doc-bounded windows; the rollup
    // is one hash aggregate on digests.
    "m08_cdc_chunking" -> ((s, d) =>
      cdcChunks(s, d).groupBy("source").agg(
          countDistinct(col("doc_id")).as("n_docs"),
          count(lit(1)).as("total_chunks"),
          countDistinct(col("digest")).as("distinct_chunks"),
          sum(col("clen")).as("total_bytes"),
          round(countDistinct(col("digest")).cast(DoubleType) / count(lit(1)), 6)
            .as("dedup_ratio"))
        .orderBy("source")),

    // m09: CONTENT-ADDRESSED CHUNK STORE (r13 verdict item 7) — m08
    // computes the savings accounting; this closes the loop through
    // the lake layer and actually BANKS the savings: every distinct
    // chunk is stored ONCE in a digest-keyed SnapshotLog table, each
    // doc keeps only a slim ref list (doc_id, ordinal, digest), and
    // reconstruction — the ordered digest join + concat — must be
    // bit-identical to every original payload (roundtrip_ok computed
    // from the ACTUAL store tables, not from the chunker's algebra).
    // The per-source accounting must agree with m08's dedup_ratio by
    // construction; stored_bytes vs total_bytes is the banked
    // saving. Store files are ordinary SnapshotLog data files —
    // expire's reference counting and the orphan listing already
    // cover them through refFiles (MultimodalChunkStoreSpec records
    // the lifecycle: incremental ingest appends only NEW digests,
    // expire reclaims superseded versions' files, reconstruction
    // survives). At 100 TB: the store write is one
    // digest-partitioned shuffle of distinct chunks, refs are
    // integers+digests, and reconstruction shuffles each doc's own
    // chunks only.
    "m09_chunk_store" -> ((s, d) => {
      val storeT = graft.LocalScratch.tempDir("graft_m09_store")
      val refsT = graft.LocalScratch.tempDir("graft_m09_refs")
      import graft.sources.SnapshotLog
      val chunks = cdcChunks(s, d).truncatedLazy // store, refs, stats legs
      chunks.select(col("digest"), col("chunk")).groupBy("digest")
        .agg(min(col("chunk")).as("chunk")) // digests collide only on md5
        .write.parquet(s"$storeT/data/seed")
      SnapshotLog.commit(s, storeT, "chunk-store-seed",
        SnapshotLog.dataFiles(s, s"$storeT/data/seed"))
      chunks.select(col("doc_id"), col("source"), col("start"), col("digest"),
          col("clen"))
        .write.parquet(s"$refsT/data/seed")
      SnapshotLog.commit(s, refsT, "chunk-refs-seed",
        SnapshotLog.dataFiles(s, s"$refsT/data/seed"))
      // reconstruction from the COMMITTED tables only — proves the
      // store, not the chunker's algebra
      val st = SnapshotLog.readAt(s, storeT, 1L)
      val rf = SnapshotLog.readAt(s, refsT, 1L)
      val recon = rf.join(st, Seq("digest"))
        .groupBy("doc_id")
        .agg(expr("array_join(transform(array_sort(" +
          "collect_list(struct(start, chunk))), x -> x.chunk), '')")
          .as("recon"))
      val docs = Tables.documents(s, d)
        .filter(length(col("text")) >= 1).select(col("doc_id"), col("text"))
      val bad = recon.join(docs, Seq("doc_id"), "full_outer")
        .filter(col("recon").isNull || col("text").isNull ||
          col("recon") =!= col("text")).count()
      val base = chunks.groupBy("source").agg(
        countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("total_chunks"),
        sum(col("clen")).as("total_bytes"),
        round(countDistinct(col("digest")).cast(DoubleType) / count(lit(1)), 6)
          .as("dedup_ratio"))
      val stored = chunks.select("source", "digest", "clen").distinct()
        .groupBy("source").agg(count(lit(1)).as("distinct_chunks"),
          sum(col("clen")).as("stored_bytes"))
      base.join(stored, Seq("source"))
        .select(col("source"), col("n_docs"), col("total_chunks"),
          col("distinct_chunks"), col("total_bytes"), col("stored_bytes"),
          col("dedup_ratio"),
          lit(if (bad == 0L) 1L else 0L).as("roundtrip_ok"))
        .orderBy("source")
    })
  )

  /** The m08 content-defined chunker as a relation: one row per
    * (doc, chunk) with ordinal start/end, digest, length and the
    * chunk payload itself (pruned away by consumers that only
    * aggregate). SLIM cut positions: the window-hash explode projects
    * down to (doc_id, e) BEFORE anything shuffles — the payload never
    * rides a cut row through an exchange (a naive shape that carried
    * text per cut row ships O(payload²/16) shuffle bytes per doc;
    * this one ships O(cuts) ints, then rejoins the payload ONCE per
    * doc). The per-doc cut array is payload/16-bounded — the same
    * per-doc bound any per-payload aggregation has. Docs SHORTER than
    * the window get no positions but keep their whole-payload tail
    * chunk (a real chunker emits short payloads as one chunk —
    * dropping them would undercount the savings accounting). */
  private[graft] def cdcChunks(s: SparkSession, d: String): DataFrame = {
    val W = 8
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("source"), col("text"),
        length(col("text")).as("len"))
      .filter(col("len") >= 1)
    val cutList = docs.filter(col("len") >= W)
      .select(col("doc_id"), col("text"),
        explode(sequence(lit(1), col("len") - lit(W - 1))).as("i"))
      .filter(substring(md5(expr(s"substring(text, i, $W)")), 1, 1) === "0")
      .select(col("doc_id"), (col("i") + lit(W - 1)).as("e"))
      .groupBy("doc_id")
      .agg(sort_array(collect_set(col("e"))).as("es"))
    docs.join(cutList, Seq("doc_id"), "left_outer")
      .withColumn("ends", array_sort(array_distinct(concat(
        coalesce(col("es"), expr("array()").cast("array<int>")),
        array(col("len").cast("int"))))))
      .select(col("doc_id"), col("source"), col("text"), col("ends"),
        posexplode(col("ends")).as(Seq("k", "e")))
      .withColumn("start", when(col("k") === 0, lit(1))
        .otherwise(expr("ends[k - 1] + 1")))
      .withColumn("digest", md5(expr("substring(text, start, e - start + 1)")))
      .withColumn("clen", col("e") - col("start") + lit(1))
      .withColumn("chunk", expr("substring(text, start, e - start + 1)"))
      .select("doc_id", "source", "k", "start", "e", "clen", "digest", "chunk")
  }

  /** 64-bit block-mean perceptual hash (blockhash/aHash family): the
    * payload splits into 64 equal byte-windows; bit i is set iff
    * window i's mean byte exceeds the whole payload's mean. Local
    * edits perturb only the windows they touch, so near-identical
    * payloads sit within a small hamming distance — the property the
    * pigeonhole join keys on. Deterministic pure function. */
  def blockHash(bytes: Array[Byte]): Long = {
    val n = bytes.length
    if (n == 0) return 0L
    var total = 0L
    var i = 0
    while (i < n) { total += bytes(i) & 0xFF; i += 1 }
    val globalMean = total.toDouble / n
    var h = 0L
    var w = 0
    while (w < 64) {
      val lo = (n.toLong * w / 64).toInt
      val hi = math.max(lo + 1, (n.toLong * (w + 1) / 64).toInt)
      var s = 0L
      var j = lo
      while (j < hi) { s += bytes(j) & 0xFF; j += 1 }
      if (s.toDouble / (hi - lo) > globalMean) h |= (1L << w)
      w += 1
    }
    h
  }

  val oracle: Map[String, String] = Map(
    // md5(text) == md5 of the utf8 payload bytes (DuckDB's md5 hashes
    // the string's utf8 encoding; it has no BLOB overload).
    "m01_binary_meta" -> """
      SELECT doc_id,
        octet_length(encode(text)) AS n_bytes,
        md5(text) AS payload_md5,
        source AS media_source
      FROM documents ORDER BY doc_id""",

    // m02's decode stub is reproducible in SQL too: the fixture text is
    // pure ASCII (verified over sf0.1), so utf8 byte values == ascii
    // codepoints and the byte-sum can be expressed with ascii(substr).
    "m02_media_features" -> """
      WITH s AS (
        SELECT doc_id, length(text) AS n_bytes,
          list_sum(list_transform(range(1, length(text) + 1),
            i -> ascii(substr(text, CAST(i AS INT), 1)))) AS byte_sum
        FROM documents)
      SELECT doc_id, CAST(n_bytes AS INT) AS n_bytes,
        CAST(byte_sum % 640 + 1 AS INT) AS width,
        CAST(n_bytes % 480 + 1 AS INT) AS height,
        ROUND(CAST(byte_sum AS DOUBLE) / n_bytes, 6) AS brightness
      FROM s ORDER BY doc_id""",

    // same ASCII-fixture reasoning as m02: frame byte sums are ascii
    // sums over substr windows.
    "m03_frame_sample" -> """
      WITH s AS (SELECT doc_id, text, length(text) AS len FROM documents),
      f AS (
        SELECT doc_id, text, len, unnest(range(0, len, 1024)) AS off
        FROM s),
      g AS (
        SELECT doc_id, off, LEAST(256, len - off) AS n,
          list_sum(list_transform(range(1, LEAST(256, len - off) + 1),
            i -> ascii(substr(text, CAST(off + i AS INT), 1)))) AS byte_sum
        FROM f)
      SELECT doc_id, CAST(off // 256 AS INT) AS frame_idx,
        CAST(off AS INT) AS "offset", CAST(n AS INT) AS n_bytes,
        ROUND(CAST(byte_sum AS DOUBLE) / n, 6) AS brightness
      FROM g ORDER BY doc_id, frame_idx""",

    // m04: twin universe from SQL (every eligible payload gets one
    // injected twin), recall gate constant in the d06 style
    "m04_phash_twin_recall" -> """
      SELECT COUNT(*) AS n_twins, CAST(1 AS BIGINT) AS recall_ok
      FROM documents WHERE octet_length(encode(text)) >= 64""",

    // m05: frames replayed with ascii(substr) sums; longest silent run
    // via the classic gaps-and-islands rewrite (idx − row_number over
    // the silent frames is constant within a run)
    "m05_silence_segments" -> """
      WITH s AS (
        SELECT doc_id, text, length(text) AS len,
          list_sum(list_transform(range(1, length(text) + 1),
            i -> ascii(substr(text, CAST(i AS INT), 1)))) AS byte_sum
        FROM documents WHERE length(text) > 0),
      f AS (
        SELECT doc_id, text, len, byte_sum, unnest(range(0, len, 64)) AS off
        FROM s),
      g AS (
        SELECT doc_id, CAST(off // 64 AS BIGINT) AS idx,
          CASE WHEN
            CAST(list_sum(list_transform(range(1, LEAST(64, len - off) + 1),
              i -> ascii(substr(text, CAST(off + i AS INT), 1)))) AS DOUBLE)
              / LEAST(64, len - off)
            < CAST(byte_sum AS DOUBLE) / len
          THEN 1 ELSE 0 END AS silent
        FROM f),
      runs AS (
        SELECT doc_id, idx - ROW_NUMBER() OVER (
          PARTITION BY doc_id ORDER BY idx) AS grp
        FROM g WHERE silent = 1),
      longest AS (
        SELECT doc_id, MAX(cnt) AS longest_silence FROM (
          SELECT doc_id, grp, COUNT(*) AS cnt FROM runs GROUP BY 1, 2)
        GROUP BY 1),
      agg AS (
        SELECT doc_id, COUNT(*) AS n_frames,
          CAST(SUM(silent) AS BIGINT) AS n_silent
        FROM g GROUP BY 1)
      SELECT a.doc_id, a.n_frames, a.n_silent,
        COALESCE(l.longest_silence, 0) AS longest_silence
      FROM agg a LEFT JOIN longest l USING (doc_id)
      ORDER BY a.doc_id""",

    // m08: the full chunker replayed — same 8-byte window, same
    // md5-leads-with-'0' cut rule, spans from the identical per-doc
    // lag window, digests over the identical substrings (ASCII
    // fixture: bytes ≡ chars, the m06 convention)
    "m08_cdc_chunking" -> """
      WITH doc AS (
        SELECT doc_id, source, text, length(text) AS len
        FROM documents WHERE length(text) >= 1),
      pos AS (
        SELECT doc_id, source, text, len,
          unnest(range(1, len - 6)) AS i
        FROM doc WHERE len >= 8),
      cuts AS (
        SELECT doc_id, source, text, len, i + 7 AS e FROM pos
        WHERE substring(md5(substr(text, CAST(i AS INT), 8)), 1, 1) = '0'),
      ends AS (
        SELECT DISTINCT doc_id, source, text, len, e FROM (
          SELECT doc_id, source, text, len, e FROM cuts
          UNION ALL
          SELECT doc_id, source, text, len, len AS e FROM doc) u),
      spans AS (
        SELECT doc_id, source, e,
          COALESCE(LAG(e) OVER (PARTITION BY doc_id ORDER BY e), 0) + 1
            AS start, text
        FROM ends),
      chunks AS (
        SELECT doc_id, source, e - start + 1 AS clen,
          md5(substr(text, CAST(start AS INT), CAST(e - start + 1 AS INT)))
            AS digest
        FROM spans)
      SELECT source, COUNT(DISTINCT doc_id) AS n_docs,
        COUNT(*) AS total_chunks,
        COUNT(DISTINCT digest) AS distinct_chunks,
        CAST(SUM(clen) AS BIGINT) AS total_bytes,
        ROUND(COUNT(DISTINCT digest) / CAST(COUNT(*) AS DOUBLE), 6)
          AS dedup_ratio
      FROM chunks GROUP BY source ORDER BY source""",

    // m09: the same chunker replay with the STORE accounting — per
    // source, stored bytes are the sum over DISTINCT digests (a
    // digest determines its chunk, so clen is a function of digest);
    // roundtrip_ok is the d06-style structural constant (in SQL the
    // ordered concat of a doc's spans is its payload by construction;
    // the Spark side proves it over the COMMITTED store tables)
    "m09_chunk_store" -> """
      WITH doc AS (
        SELECT doc_id, source, text, length(text) AS len
        FROM documents WHERE length(text) >= 1),
      pos AS (
        SELECT doc_id, source, text, len,
          unnest(range(1, len - 6)) AS i
        FROM doc WHERE len >= 8),
      cuts AS (
        SELECT doc_id, source, text, len, i + 7 AS e FROM pos
        WHERE substring(md5(substr(text, CAST(i AS INT), 8)), 1, 1) = '0'),
      ends AS (
        SELECT DISTINCT doc_id, source, text, len, e FROM (
          SELECT doc_id, source, text, len, e FROM cuts
          UNION ALL
          SELECT doc_id, source, text, len, len AS e FROM doc) u),
      spans AS (
        SELECT doc_id, source, e,
          COALESCE(LAG(e) OVER (PARTITION BY doc_id ORDER BY e), 0) + 1
            AS start, text
        FROM ends),
      chunks AS (
        SELECT doc_id, source, e - start + 1 AS clen,
          md5(substr(text, CAST(start AS INT), CAST(e - start + 1 AS INT)))
            AS digest
        FROM spans),
      base AS (
        SELECT source, COUNT(DISTINCT doc_id) AS n_docs,
          COUNT(*) AS total_chunks,
          CAST(SUM(clen) AS BIGINT) AS total_bytes,
          ROUND(COUNT(DISTINCT digest) / CAST(COUNT(*) AS DOUBLE), 6)
            AS dedup_ratio
        FROM chunks GROUP BY source),
      st AS (
        SELECT source, COUNT(*) AS distinct_chunks,
          CAST(SUM(clen) AS BIGINT) AS stored_bytes
        FROM (SELECT DISTINCT source, digest, clen FROM chunks)
        GROUP BY source)
      SELECT source, n_docs, total_chunks, distinct_chunks, total_bytes,
        stored_bytes, dedup_ratio, CAST(1 AS BIGINT) AS roundtrip_ok
      FROM base JOIN st USING (source) ORDER BY source""",

    // m06: byte counts replayed via ascii(substr) (the ASCII-fixture
    // convention — bytes ≡ chars); log2-entropy summed per doc
    "m06_byte_entropy" -> """
      WITH pos AS (
        SELECT doc_id, text, length(text) AS n,
          unnest(range(1, length(text) + 1)) AS i
        FROM documents WHERE length(text) > 0),
      c AS (
        SELECT doc_id, n, ascii(substr(text, CAST(i AS INT), 1)) AS byte,
          COUNT(*) AS cnt
        FROM pos GROUP BY 1, 2, 3)
      SELECT doc_id, CAST(n AS BIGINT) AS n_bytes,
        COUNT(*) AS n_distinct,
        ROUND(SUM(-(cnt / CAST(n AS DOUBLE)) * log2(cnt / CAST(n AS DOUBLE))), 6)
          AS entropy
      FROM c GROUP BY doc_id, n ORDER BY doc_id""",

    // m07: frame means replayed as exact integer-sum rationals; the
    // lag/delta pass is the m05 gaps-and-islands convention
    "m07_scene_cuts" -> """
      WITH doc AS (
        SELECT doc_id, text, length(text) AS len FROM documents
        WHERE length(text) > 0),
      f AS (
        SELECT doc_id, len, unnest(range(0, len, 256)) AS off FROM doc),
      m AS (
        SELECT f.doc_id, f.off,
          list_sum(list_transform(
            range(f.off + 1, LEAST(f.off + 256, d.len) + 1),
            i -> ascii(substr(d.text, CAST(i AS INT), 1)))) * 1.0
            / (LEAST(f.off + 256, d.len) - f.off) AS mean
        FROM f JOIN doc d USING (doc_id)),
      dlt AS (
        SELECT doc_id,
          ABS(mean - LAG(mean) OVER (PARTITION BY doc_id ORDER BY off))
            AS delta
        FROM m),
      agg AS (
        SELECT doc_id, COUNT(*) + 1 AS n_frames,
          CAST(SUM(CASE WHEN delta > 5.0 THEN 1 ELSE 0 END) AS BIGINT)
            AS n_cuts,
          ROUND(MAX(delta), 6) AS max_delta
        FROM dlt WHERE delta IS NOT NULL GROUP BY doc_id)
      SELECT d.doc_id,
        COALESCE(a.n_frames, CAST(CEIL(d.len / 256.0) AS BIGINT)) AS n_frames,
        COALESCE(a.n_cuts, 0) AS n_cuts,
        COALESCE(a.max_delta, 0.0) AS max_delta
      FROM doc d LEFT JOIN agg a USING (doc_id)
      ORDER BY d.doc_id"""
  )
}
