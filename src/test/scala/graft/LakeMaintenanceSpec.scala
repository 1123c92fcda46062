package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.{LakeMaintenance, PartitionedLayout}

/** The lake-maintenance rewrites' LAYOUT properties — the part the
  * DuckDB oracle cannot see (it only proves the rewrites are
  * lossless). Compaction must actually end at one file per partition;
  * z-ordering must actually give every file a narrow min/max envelope
  * on BOTH clustered dimensions, because that envelope is what parquet
  * row-group pruning keys off at scale.
  */
class LakeMaintenanceSpec extends AnyFunSuite {
  lazy val s = TestSpark.spark
  val d = TestSpark.sf0001

  private def parquetFiles(dir: java.io.File): Seq[java.io.File] =
    Option(dir.listFiles).getOrElse(Array.empty).toSeq.flatMap { f =>
      if (f.isDirectory) parquetFiles(f)
      else if (f.getName.endsWith(".parquet")) Seq(f)
      else Nil
    }

  test("i09: compaction leaves exactly one file per partition, fewer than before") {
    val before = parquetFiles(
      new java.io.File(PartitionedLayout.ordersPartitioned(s, d)))
    val dir = new java.io.File(LakeMaintenance.compactedOrders(s, d))
    val years = Option(dir.listFiles).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("o_year="))
    assert(years.nonEmpty)
    years.foreach { y =>
      val n = parquetFiles(y).size
      assert(n == 1, s"${y.getName} has $n files after compaction")
    }
    // strict reduction only shows at SFs where ingest actually left
    // multiple files per partition; the invariant is files == partitions
    assert(parquetFiles(dir).size == years.length)
    assert(parquetFiles(dir).size <= before.size,
      s"compaction increased file count (${before.size} before)")
  }

  test("z-file count is proportional to bytes, floored for small tables") {
    // fixtures (MB-scale): floor dominates, layout stays the pinned 64
    assert(LakeMaintenance.zFileCount(2700000L) == 64)
    assert(LakeMaintenance.zFileCount(0L) == 64)
    // at scale: ~1 GiB files, proportional (the scaladoc's 100 TB story)
    assert(LakeMaintenance.zFileCount(100L << 40) == 100L * 1024)
    assert(LakeMaintenance.zFileCount((1L << 30) + 1) == 64) // still under floor*target
    assert(LakeMaintenance.zFileCount(65L << 30) == 65)
  }

  test("i10: z-ordered files have narrow envelopes on BOTH dimensions") {
    val dir = LakeMaintenance.zorderedOrders(s, d)
    val df = s.read.parquet(dir)
      .withColumn("f", input_file_name())
    // per-file min/max span of each dimension, relative to the global span
    val spans = df.groupBy("f").agg(
      (max("o_custkey") - min("o_custkey")).as("ck_span"),
      (unix_micros(max(col("o_orderdate")).cast("timestamp")) -
        unix_micros(min(col("o_orderdate")).cast("timestamp"))).as("dd_span"))
    val g = df.agg(
      (max("o_custkey") - min("o_custkey")).cast("double"),
      (unix_micros(max(col("o_orderdate")).cast("timestamp")) -
        unix_micros(min(col("o_orderdate")).cast("timestamp"))).cast("double")).head()
    val (gCk, gDd) = (g.getDouble(0), g.getDouble(1))
    val rel = spans.select(
      avg(col("ck_span").cast("double") / gCk),
      avg(col("dd_span").cast("double") / gDd)).head()
    // a random layout would average ~1.0 on both; z-order trades a bit
    // of each dimension for locality in both — require a real win
    assert(rel.getDouble(0) < 0.5,
      f"mean per-file custkey span ${rel.getDouble(0)}%.2f of global — not clustered")
    assert(rel.getDouble(1) < 0.5,
      f"mean per-file date span ${rel.getDouble(1)}%.2f of global — not clustered")
    // and the clustered copy holds every source row
    assert(df.count() === Tables.orders(s, d).count())
  }

  test("i11: zone map has one row per layout file, envelopes match the files") {
    val layout = LakeMaintenance.zorderedOrders(s, d)
    val nFiles = parquetFiles(new java.io.File(layout)).size
    val idx = s.read.parquet(LakeMaintenance.zoneMapIndex(s, d))
    assert(idx.count() === nFiles.toLong)
    // index row counts must re-add to the table row count (no file
    // missed, none double-counted)
    assert(idx.agg(sum("n_rows")).head().getLong(0) ===
      Tables.orders(s, d).count())
  }

  test("i11: zone-map pruning bites and the pruned scan stays exact") {
    import java.time.LocalDateTime
    val layout = LakeMaintenance.zorderedOrders(s, d)
    val all = parquetFiles(new java.io.File(layout)).size
    val lo = LocalDateTime.parse("1995-07-01T00:00:00")
    val hi = LocalDateTime.parse("1996-01-01T00:00:00")
    val picked = LakeMaintenance.overlappingFiles(s, d, 1000L, 1400L, lo, hi)
    // the box covers a narrow rectangle of a z-ordered plane: most
    // files' envelopes must miss it entirely
    assert(picked.size < all,
      s"zone map selected all $all files — pruning never bites")
    // pruned scan ≡ unpruned scan (file stats prune a superset; the
    // residual predicate restores exactness)
    val pruned = LakeMaintenance.zoneMapPrunedBox(s, d).head()
    val full = s.read.parquet(layout)
      .filter(col("o_custkey").between(1000L, 1400L) &&
        col("o_orderdate") >= lit(lo) && col("o_orderdate") < lit(hi))
      .agg(count(lit(1))).head()
    assert(pruned.getLong(0) === full.getLong(0))
  }

  test("i12: incremental zone-map update over an appended shard equals a full rebuild") {
    val layout = LakeMaintenance.zorderedOrders(s, d)
    val idx = s.read.parquet(LakeMaintenance.zoneMapIndex(s, d))
    // a day's "append": a slim slice of orders written as fresh files
    val shardDir = LocalScratch.tempDir("graft_zm_shard")
    Tables.orders(s, d).filter(col("o_orderkey") % 101 === 0)
      .repartition(2).write.mode("overwrite").parquet(shardDir)
    // incremental: stats over ONLY the shard files, unioned onto the
    // existing index (file paths are disjoint — no merge logic needed)
    val incremental = idx.unionByName(
      LakeMaintenance.fileStats(s.read.parquet(shardDir)))
    // ground truth: full rebuild over layout + shard together
    val rebuild = LakeMaintenance.fileStats(s.read.parquet(layout, shardDir))
    val key = (r: org.apache.spark.sql.Row) => r.getString(0)
    val a = incremental.collect().map(r => key(r) -> r.toSeq.drop(1)).toMap
    val b = rebuild.collect().map(r => key(r) -> r.toSeq.drop(1)).toMap
    assert(a === b, "incremental index diverged from a full rebuild")
    // and the shard contributed real rows (the test isn't vacuous)
    assert(a.size > idx.count(), "shard files missing from the index")
  }
}
