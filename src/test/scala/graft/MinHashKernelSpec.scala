package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge.{column => native, expression}
import org.apache.spark.sql.types.{DoubleType, LongType}
import graft.functions.SignatureOverlap
import graft.operators.Dedup

/** The native MinHash kernels (MinHashSignature, SignatureOverlap) give
  * the same longs and doubles as the Catalyst formulation they replaced:
  * explode word-3-gram shingle hashes (plus one fallback shingle for
  * documents of 1 or 2 tokens), take 32 `min(h1 + i·h2)` aggregates per
  * doc_id, and score pairs with a 32-term `CASE` sum. That formulation
  * is kept here as the reference. d02 has no DuckDB oracle, so the
  * whole-output comparisons below are its value gate.
  */
class MinHashKernelSpec extends AnyFunSuite {
  lazy val s = TestSpark.spark

  private val toks = split(lower(col("text")), "\\s+")

  private def refShingles(docs: DataFrame): DataFrame = {
    val nTriples = greatest(size(toks) - 2, lit(0))
    val triples = docs
      .select(col("doc_id"), explode(arrays_zip(
        slice(toks, lit(1), nTriples),
        slice(toks, lit(2), nTriples),
        slice(toks, lit(3), nTriples))).as("p"))
      .select(col("doc_id"),
        xxhash64(xxhash64(col("p.0")), xxhash64(col("p.1")), xxhash64(col("p.2"))).as("sh"))
    val fallback = docs
      .filter(size(toks) < 3 && size(toks) >= 1)
      .select(col("doc_id"),
        xxhash64(xxhash64(toks(0)),
          when(size(toks) >= 2, xxhash64(toks(1))).otherwise(lit(0L)),
          lit(0L)).as("sh"))
    triples.unionByName(fallback)
  }

  private def refSigs(docs: DataFrame): DataFrame = {
    val rows = refShingles(docs)
      .select(col("doc_id"),
        col("sh").bitwiseAND(lit(0x7FFFFFFFL)).as("h1"),
        shiftrightunsigned(col("sh"), 32).bitwiseAND(lit(0x7FFFFFFFL)).as("h2"))
    val mins = (0 until 32).map(i => min(col("h1") + lit(i.toLong) * col("h2")).as(s"m$i"))
    rows.groupBy("doc_id").agg(mins.head, mins.tail: _*)
      .select(col("doc_id"), array((0 until 32).map(i => col(s"m$i")): _*).as("sig"))
  }

  private def refOverlap(a: Column, b: Column): Column =
    (0 until 32).map(i => when(a(i) === b(i), 1).otherwise(0))
      .reduce(_ + _).cast(DoubleType) / 32

  private def kernelOverlap(a: Column, b: Column): Column =
    native(SignatureOverlap(expression(a), expression(b)))

  private def refBands(sigs: DataFrame): DataFrame = sigs.select(col("doc_id"),
    posexplode(array((0 until 8).map(b =>
      xxhash64((0 until 4).map(i => col("sig")(b * 4 + i)): _*)): _*))
      .as(Seq("band_idx", "band_hash")))

  /** Scores candidate id pairs from the two sides' signatures. */
  private def refScored(pairs: DataFrame, a: String, b: String,
                        sigsA: DataFrame, sigsB: DataFrame): DataFrame =
    pairs
      .join(sigsA.select(col("doc_id").as(a), col("sig").as("sig_a")), Seq(a))
      .join(sigsB.select(col("doc_id").as(b), col("sig").as("sig_b")), Seq(b))
      .select(col(a), col(b), refOverlap(col("sig_a"), col("sig_b")).as("est_jaccard"))

  /** The d02/d06 pipeline (Dedup.minhashPairs) over reference parts. */
  private def refPairs(docs: DataFrame): DataFrame = {
    val sigs = refSigs(docs)
    val banded = refBands(sigs)
    val pairs = banded.select(col("band_idx"), col("band_hash"), col("doc_id").as("doc_a"))
      .join(banded.select(col("band_idx"), col("band_hash"), col("doc_id").as("doc_b")),
        Seq("band_idx", "band_hash"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
    refScored(pairs, "doc_a", "doc_b", sigs, sigs)
  }

  /** The d12 pipeline (Dedup.incrementalDupes) over reference parts, with
    * the corpus signed in-plan instead of read from the persisted index. */
  private def refIncremental(shard: DataFrame, corpus: DataFrame): DataFrame = {
    val shardSigs = refSigs(shard)
    val corpusSigs = refSigs(corpus)
    val cands = refBands(shardSigs)
      .select(col("band_idx"), col("band_hash"), col("doc_id").as("new_id"))
      .join(refBands(corpusSigs)
        .select(col("band_idx"), col("band_hash"), col("doc_id").as("dup_of")),
        Seq("band_idx", "band_hash"))
      .select("new_id", "dup_of").distinct()
    refScored(cands, "new_id", "dup_of", shardSigs, corpusSigs)
  }

  private def sigMap(sigs: DataFrame): Map[Long, Seq[Long]] =
    sigs.collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap

  private def pairRows(df: DataFrame): Seq[(Long, Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSeq.sortBy(t => (t._1, t._2))

  private def recallVerdict(df: DataFrame): Seq[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq

  private def edgeDocs: DataFrame = {
    import s.implicits._
    val long = "the quick brown fox jumps over the lazy dog and then the quick brown fox sleeps"
    Seq[(Long, String)](
      (1L, null), (2L, ""), (3L, " "), (4L, "one"), (5L, "Two Words"),
      (6L, "  leading whitespace then words"), (7L, "trailing whitespace after words \t "),
      (8L, "repeated \t  whitespace\n\nbetween   the   tokens"),
      (9L, "Ünïcödé 日本語 テキスト ñandú ÇA va"), (10L, "日本語 テキスト"),
      (11L, "a b c"), (12L, long), (13L, long.split(" ").init.mkString(" ")))
      .toDF("doc_id", "text").withColumn("source", lit("t"))
  }

  test("signatures equal the 32-min aggregate on edge-case documents") {
    val docs = edgeDocs
    val want = sigMap(refSigs(docs))
    assert(!want.contains(1L), "a null text signs nothing")
    assert(want.size === 12)
    assert(sigMap(Dedup.minhashSignatures(docs)) === want)
  }

  test("interpreted evaluation gives the same signatures as generated code") {
    val docs = edgeDocs
    val generated = sigMap(Dedup.minhashSignatures(docs))
    val confs = Seq("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")
    confs.foreach { case (k, v) => s.conf.set(k, v) }
    try assert(sigMap(Dedup.minhashSignatures(docs)) === generated)
    finally confs.foreach { case (k, _) => s.conf.unset(k) }
  }

  test("overlap equals the 32-term CASE sum, null slots included") {
    val sigs = refSigs(edgeDocs)
    val all = sigs.select(col("doc_id").as("a"), col("sig").as("sa"))
      .crossJoin(sigs.select(col("doc_id").as("b"), col("sig").as("sb")))
      .select(kernelOverlap(col("sa"), col("sb")), refOverlap(col("sa"), col("sb")))
      .collect().map(r => (r.getDouble(0), r.getDouble(1)))
    assert(all.length === 144)
    all.foreach { case (got, want) => assert(got === want) }
    assert(all.exists { case (j, _) => j > 0.0 && j < 1.0 }, "no partial overlap exercised")

    def slots(f: Int => Option[Long]): Column =
      array((0 until 32).map(i => f(i).fold(lit(null).cast(LongType))(v => lit(v))): _*)
    val a = slots(i => if (i % 3 == 0) None else Some(i.toLong))
    val b = slots(i => if (i % 5 == 0) None else Some(if (i % 2 == 0) i.toLong else -i.toLong))
    val r = s.range(1).select(kernelOverlap(a, b), refOverlap(a, b)).head()
    assert(r.getDouble(0) === r.getDouble(1))
  }

  for (sf <- Seq("sf0.001", "sf0.01")) {
    val d = s"/root/testdata/$sf"

    test(s"$sf: d02 output equals the Catalyst formulation's") {
      val got = pairRows(SparkEntry.queries("d02_dedup_minhash")(s, d))
      assert(got.nonEmpty)
      assert(got === pairRows(refPairs(Tables.documents(s, d))))
    }

    test(s"$sf: d06 twin-corpus pairs and output equal the Catalyst formulation's") {
      val corpus = Dedup.withTwins(Tables.documents(s, d))
      val want = pairRows(refPairs(corpus))
      assert(pairRows(Dedup.minhashPairs(corpus)) === want)
      val nTwins = corpus.filter(col("doc_id") >= Dedup.TwinOffset).count()
      val nFound = want.count { case (a, b, j) => b == a + Dedup.TwinOffset && j >= 0.5 }
      assert(recallVerdict(SparkEntry.queries("d06_minhash_recall")(s, d)) ===
        Seq((nTwins, if (nFound >= nTwins * 0.95) 1L else 0L)))
    }

    test(s"$sf: d12 shard-vs-index pairs and output equal the Catalyst formulation's") {
      val docs = Tables.documents(s, d)
      val shard = Dedup.twinsOf(docs)
      val want = pairRows(refIncremental(shard, docs))
      assert(pairRows(Dedup.incrementalDupes(s, shard, Dedup.minhashIndexDir(s, d))) === want)
      val nTwins = shard.count()
      val nFound = want.count { case (n, o, j) => o == n - Dedup.TwinOffset && j >= 0.5 }
      assert(recallVerdict(SparkEntry.queries("d12_incremental_dedup")(s, d)) ===
        Seq((nTwins, if (nFound >= nTwins * 0.95) 1L else 0L)))
    }
  }
}
