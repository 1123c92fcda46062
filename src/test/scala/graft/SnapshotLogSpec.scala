package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.SnapshotLog

/** The snapshot log's TRANSACTIONAL properties — the part the DuckDB
  * oracle cannot see (i13/i14 only prove each snapshot's CONTENT).
  * What must hold structurally: commits are atomic and sequential
  * under concurrency, the expected-parent check rejects stale writers,
  * a rewrite creates a NEW version while old versions keep reading
  * bit-identically over their immutable files, and torn manifests are
  * invisible to readers.
  */
class SnapshotLogSpec extends AnyFunSuite {
  lazy val s = TestSpark.spark
  val d = TestSpark.sf0001

  private def freshTable(): String =
    LocalScratch.tempDir("graft_snap_spec")

  /** A tiny committed base snapshot to build on. */
  private def seed(table: String, tag: Int): Long = {
    val dir = s"$table/data/seed$tag"
    Tables.orders(s, d).filter(col("o_orderkey") % 7 === tag)
      .repartition(2).write.mode("overwrite").parquet(dir)
    SnapshotLog.commit(s, table, s"seed$tag", SnapshotLog.dataFiles(s, dir))
  }

  test("concurrent appenders both land, on distinct sequential versions") {
    val table = freshTable()
    seed(table, 0)
    // two writers race from the same observed state in append mode:
    // exactly one CREATE_NEW wins each version number; the loser
    // retries at the next — last-commit-wins, nothing lost
    val dirs = Seq(1, 2).map { tag =>
      val dir = s"$table/data/seed$tag"
      Tables.orders(s, d).filter(col("o_orderkey") % 7 === tag)
        .repartition(1).write.mode("overwrite").parquet(dir)
      dir
    }
    val results = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val threads = dirs.map { dir =>
      new Thread(() => {
        results.add(SnapshotLog.commit(s, table, s"append",
          SnapshotLog.dataFiles(s, dir)))
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    import scala.jdk.CollectionConverters._
    val versions = results.asScala.toSeq.sorted
    assert(versions === Seq(2L, 3L), s"got $versions")
    assert(SnapshotLog.currentVersion(s, table) === 3L)
    // both manifests are valid and carry what their writer committed
    assert(SnapshotLog.readManifest(s, table, 2L).isDefined)
    assert(SnapshotLog.readManifest(s, table, 3L).isDefined)
  }

  test("24 commits from 8 racing writers land contiguously, none lost, none torn") {
    // the CREATE_NEW contention path under real parallelism: every
    // writer loses races and retries; the log must come out dense
    // (versions 2..25 with no gap — a gap would mean a lost commit or
    // a version landed twice), and every manifest must parse complete
    val table = freshTable()
    seed(table, 0)
    val dir = s"$table/data/race"
    Tables.orders(s, d).filter(col("o_orderkey") % 7 === 1)
      .repartition(1).write.mode("overwrite").parquet(dir)
    val files = SnapshotLog.dataFiles(s, dir)
    val landed = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val threads = (0 until 8).map { t =>
      new Thread(() => (0 until 3).foreach { k =>
        landed.add(SnapshotLog.commit(s, table, s"race-$t-$k", files))
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    import scala.jdk.CollectionConverters._
    val versions = landed.asScala.toSeq.sorted
    assert(versions === (2L to 25L), s"non-contiguous versions: $versions")
    assert(SnapshotLog.currentVersion(s, table) === 25L)
    // every manifest complete and every writer's op present exactly once
    val ops = (1L to 25L).map(v =>
      SnapshotLog.readManifest(s, table, v).getOrElse(
        fail(s"manifest v$v missing or torn")).op)
    assert(ops.distinct.size === 25)
    val raceOps = for (t <- 0 until 8; k <- 0 until 3) yield s"race-$t-$k"
    assert(raceOps.toSet.subsetOf(ops.toSet))
  }

  test("expected-parent mode rejects a writer whose base moved") {
    val table = freshTable()
    val v1 = seed(table, 0)
    assert(v1 === 1L)
    val v2 = seed(table, 1) // table moves to v2
    assert(v2 === 2L)
    // a rewriter that derived its files from v1 must NOT land
    intercept[SnapshotLog.SnapshotConflict] {
      SnapshotLog.commit(s, table, "stale-rewrite",
        SnapshotLog.readManifest(s, table, 1L).get.files,
        expectedParent = Some(1L))
    }
    assert(SnapshotLog.currentVersion(s, table) === 2L)
  }

  test("rewrite creates N+1; snapshot N still reads bit-identically") {
    val table = freshTable()
    seed(table, 3)
    val before = SnapshotLog.readAt(s, table, 1L)
      .orderBy("o_orderkey").collect().toSeq
    // compact: rewrite v1's data into ONE new file, commit as v2 —
    // v1's files are immutable and untouched
    val rewriteDir = s"$table/data/rewrite1"
    SnapshotLog.readAt(s, table, 1L).repartition(1)
      .write.mode("overwrite").parquet(rewriteDir)
    val v2 = SnapshotLog.commit(s, table, "compact",
      SnapshotLog.dataFiles(s, rewriteDir), expectedParent = Some(1L))
    assert(v2 === 2L)
    val after = SnapshotLog.readAt(s, table, 1L)
      .orderBy("o_orderkey").collect().toSeq
    assert(after === before, "snapshot 1 changed after a v2 rewrite")
    // and v2 holds the same logical rows over different physical files
    val v2rows = SnapshotLog.readAt(s, table, 2L)
      .orderBy("o_orderkey").collect().toSeq
    assert(v2rows === before)
    assert(SnapshotLog.readManifest(s, table, 2L).get.files.map(_._1) !==
      SnapshotLog.readManifest(s, table, 1L).get.files.map(_._1))
  }

  test("torn manifests are invisible; commit skips past squatting files") {
    val table = freshTable()
    seed(table, 0)
    // simulate a writer that died mid-write: v2 exists but has no `end`
    val torn = java.nio.file.Paths.get(s"$table/_log/v00000002")
    java.nio.file.Files.write(torn,
      "graft-snapshot:1\nversion:2\nparent:1\nop:crashed".getBytes("UTF-8"))
    assert(SnapshotLog.currentVersion(s, table) === 1L,
      "torn manifest counted as committed")
    assert(SnapshotLog.readManifest(s, table, 2L).isEmpty)
    // the next commit cannot land on the squatted number: it bumps past
    val v = seed(table, 1)
    assert(v === 3L, s"commit landed on v$v instead of skipping the torn v2")
    assert(SnapshotLog.currentVersion(s, table) === 3L)
  }

  test("expire reclaims exclusively-dead files, keeps shared ones, kills old reads") {
    val table = freshTable()
    seed(table, 0) // v1: base
    // v2 = v1's files + a fresh shard (file reuse across versions)
    val shard = s"$table/data/shard"
    Tables.orders(s, d).filter(col("o_orderkey") % 7 === 1)
      .repartition(1).write.mode("overwrite").parquet(shard)
    val v1files = SnapshotLog.readManifest(s, table, 1L).get.files
    SnapshotLog.commit(s, table, "append",
      v1files ++ SnapshotLog.dataFiles(s, shard), Some(1L))
    // expire to keepLast=1: v1's manifest goes, but its files are
    // SHARED with v2 — reference counting must keep every one
    val (expired1, deleted1) = SnapshotLog.expire(s, table, keepLast = 1)
    assert(expired1 === Seq(1L))
    assert(deleted1.isEmpty, s"shared files deleted: $deleted1")
    assert(SnapshotLog.readManifest(s, table, 1L).isEmpty)
    intercept[IllegalArgumentException] { SnapshotLog.readAt(s, table, 1L) }
    val v2rows = SnapshotLog.readAt(s, table, 2L).count()
    assert(v2rows > 0)
    // v3 = full rewrite; expiring to keepLast=1 now reclaims ALL of
    // v2's files (base + shard are exclusively dead)
    val rw = s"$table/data/rw"
    SnapshotLog.readAt(s, table, 2L).repartition(1)
      .write.mode("overwrite").parquet(rw)
    SnapshotLog.commit(s, table, "compact",
      SnapshotLog.dataFiles(s, rw), Some(2L))
    val v2files = SnapshotLog.readManifest(s, table, 2L).get.files.map(_._1)
    val (expired2, deleted2) = SnapshotLog.expire(s, table, keepLast = 1)
    assert(expired2 === Seq(2L))
    assert(deleted2.toSet === v2files.toSet)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      s.sparkContext.hadoopConfiguration)
    v2files.foreach(p => assert(!fs.exists(new org.apache.hadoop.fs.Path(p)),
      s"expired data file survived: $p"))
    // the live read is undisturbed
    assert(SnapshotLog.readAt(s, table, 3L).count() === v2rows)
  }

  test("orphan files (losing writers' leftovers) are listed and removed") {
    val table = freshTable()
    seed(table, 0)
    // a "loser": data written, commit never landed
    val loser = s"$table/data/loser"
    Tables.orders(s, d).filter(col("o_orderkey") % 7 === 2)
      .repartition(1).write.mode("overwrite").parquet(loser)
    // the default 3-day grace treats the fresh loser as a possible
    // in-flight writer: neither listed nor removed (the ADVICE race —
    // every writer lands data files before its commit)
    assert(SnapshotLog.orphanFiles(s, table).isEmpty)
    assert(SnapshotLog.removeOrphans(s, table).isEmpty)
    val orphans = SnapshotLog.orphanFiles(s, table, olderThanMillis = 0L)
    assert(orphans.nonEmpty)
    assert(orphans.forall(_.contains("/data/loser/")), orphans.toString)
    // committed files are never listed
    val committed = SnapshotLog.readManifest(s, table, 1L).get.files.map(_._1)
    assert(orphans.toSet.intersect(committed.toSet).isEmpty)
    val removed = SnapshotLog.removeOrphans(s, table, olderThanMillis = 0L)
    assert(removed === orphans)
    assert(SnapshotLog.orphanFiles(s, table, olderThanMillis = 0L).isEmpty)
    // the table still reads
    assert(SnapshotLog.readAt(s, table, 1L).count() > 0)
  }

  test("schema evolution: v1 keeps the old schema, merged current read adds the column") {
    val table = SnapshotLog.schemaEvolvedOrders(s, d)
    // time travel to v1 must present the PRE-evolution schema
    val v1cols = SnapshotLog.readAt(s, table, 1L).columns.toSet
    assert(!v1cols.contains("o_channel"), s"v1 leaked the evolved column: $v1cols")
    // merged current read: new column present, old rows null-filled
    val cur = SnapshotLog.readAt(s, table,
      SnapshotLog.currentVersion(s, table), mergeSchema = true)
    assert(cur.columns.contains("o_channel"))
    val nWeb = cur.filter(col("o_channel") === "WEB").count()
    val nExpected = Tables.orders(s, d)
      .filter(col("o_orderkey") % 101 === 0).count()
    assert(nWeb === nExpected)
    assert(cur.filter(col("o_channel").isNull).count() ===
      Tables.orders(s, d).count(), "old rows not null-filled")
  }

  test("i13 fixture: v1 and v2 coexist over shared immutable base files") {
    val table = SnapshotLog.snapshottedOrders(s, d)
    val m1 = SnapshotLog.readManifest(s, table, 1L).get
    val m2 = SnapshotLog.readManifest(s, table, 2L).get
    // the append reuses every v1 file (no rewrite) plus the shard
    assert(m1.files.toSet.subsetOf(m2.files.toSet))
    assert(m2.files.size > m1.files.size)
    // v1 sees zero poison rows; v2 sees exactly the %97 clones
    assert(SnapshotLog.readAt(s, table, 1L)
      .filter(col("o_orderstatus") === "Z").count() === 0L)
    val expected = Tables.orders(s, d)
      .filter(col("o_orderkey") % 97 === 0).count()
    assert(SnapshotLog.readAt(s, table, 2L)
      .filter(col("o_orderstatus") === "Z").count() === expected)
  }

  test("i18 fixture: partition overwrite swaps ONLY 1995; v1 reads pre-overwrite") {
    val table = SnapshotLog.partitionOverwrittenOrders(s, d)
    val m1 = SnapshotLog.readManifest(s, table, 1L).get
    val m2 = SnapshotLog.readManifest(s, table, 2L).get
    // v2 = (v1 minus the 1995 partition's files) + the replacement
    // files; every carried-over file is byte-identical v1 state
    val kept1995 = m2.files.map(_._1).filter(_.contains("/o_year=1995/"))
    assert(kept1995.isEmpty, "old 1995 files leaked into v2")
    val carried = m2.files.toSet.intersect(m1.files.toSet)
    assert(carried == m1.files.toSet.filterNot(_._1.contains("/o_year=1995/")))
    // v1 still reads the UN-replaced table: no 7-REPL rows, original
    // row count; v2 has exactly the 1995 rows re-marked
    val v1 = SnapshotLog.readAt(s, table, 1L)
    assert(v1.filter(col("o_orderpriority") === "7-REPL").count() === 0L)
    assert(v1.count() === Tables.orders(s, d).count())
    val n1995 = Tables.orders(s, d)
      .filter(year(col("o_orderdate")) === 1995).count()
    val v2 = SnapshotLog.readAt(s, table, 2L)
    assert(v2.filter(col("o_orderpriority") === "7-REPL").count() === n1995)
    assert(v2.count() === Tables.orders(s, d).count())
  }

  test("u06 fixture: the catalog pins table versions in lockstep; a mixed " +
      "cross-table state is unrepresentable through it") {
    val (cat, a, b) = SnapshotLog.cataloggedPair(s, d)
    // the two catalog versions pin complete, consistent assignments
    assert(SnapshotLog.readCatalog(s, cat, 1L) === Map(a -> 1L, b -> 1L))
    assert(SnapshotLog.readCatalog(s, cat, 2L) === Map(a -> 2L, b -> 2L))
    // cv1: NEITHER table shows its poison shard — the pre-transaction
    // state is consistent on both sides
    assert(SnapshotLog.readThroughCatalog(s, cat, 1L, a)
      .filter(col("o_orderstatus") === "Z").count() === 0L)
    assert(SnapshotLog.readThroughCatalog(s, cat, 1L, b)
      .filter(col("l_returnflag") === "Z").count() === 0L)
    // cv2: BOTH shards appear and their +30M keys join — the
    // post-transaction state landed atomically on both sides
    val o2 = SnapshotLog.readThroughCatalog(s, cat, 2L, a)
      .filter(col("o_orderstatus") === "Z").select("o_orderkey")
    val l2 = SnapshotLog.readThroughCatalog(s, cat, 2L, b)
      .filter(col("l_returnflag") === "Z").select("l_orderkey")
    val joined = o2.join(l2, col("o_orderkey") === col("l_orderkey")).count()
    val expected = Tables.lineitem(s, d)
      .filter(col("l_orderkey") % 97 === 0).count()
    assert(joined === expected,
      "poison shards failed to join — the catalog let table versions diverge")
  }

  test("checkpoint pointer: discovery is O(1) manifest reads on a long log, " +
      "agrees with the listing, and every fallback path stays correct") {
    val table = freshTable()
    (0 until 6).foreach(tag => seed(table, tag))
    // fast path: pointer current after the last commit → exactly ONE
    // manifest read (verify the hint) + one existence miss, no listing
    val fast = SnapshotLog.discoverVersion(s, table)
    assert(fast.version === 6L)
    assert(!fast.listed, "pointer path fell back to the directory listing")
    assert(fast.manifestReads === 1,
      s"discovery read ${fast.manifestReads} manifests, wanted 1")
    assert(SnapshotLog.currentVersionByListing(s, table).version === 6L)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      s.sparkContext.hadoopConfiguration)
    val ptr = new org.apache.hadoop.fs.Path(s"$table/_log/_last_checkpoint")
    // stale pointer (commits landed after it): forward probe catches up
    val out1 = fs.create(ptr, true)
    try out1.write("3\nend".getBytes("UTF-8")) finally out1.close()
    val stale = SnapshotLog.discoverVersion(s, table)
    assert(stale.version === 6L, "stale pointer was not probed forward")
    assert(!stale.listed)
    // torn pointer: fall back to the listing, same answer
    val out2 = fs.create(ptr, true)
    try out2.write("6".getBytes("UTF-8")) finally out2.close()
    val torn = SnapshotLog.discoverVersion(s, table)
    assert(torn.version === 6L)
    assert(torn.listed, "torn pointer did not fall back to the listing")
    // missing pointer: listing fallback again
    fs.delete(ptr, false)
    val missing = SnapshotLog.discoverVersion(s, table)
    assert(missing.version === 6L)
    assert(missing.listed)
    // next commit restores the fast path
    seed(table, 6)
    val restored = SnapshotLog.discoverVersion(s, table)
    assert(restored.version === 7L)
    assert(!restored.listed)
    assert(restored.manifestReads === 1)
  }

  test("checkpoint pointer: expire re-anchors it (a pointer at an expired " +
      "version would miss); discovery stays fast and exact") {
    val table = freshTable()
    (0 until 5).foreach(tag => seed(table, tag))
    SnapshotLog.expire(s, table, keepLast = 2) // retains v4, v5
    val found = SnapshotLog.discoverVersion(s, table)
    assert(found.version === 5L)
    assert(!found.listed, "pointer was not re-anchored after expire")
    assert(found.manifestReads === 1)
    // and the content at the surviving versions is untouched
    assert(SnapshotLog.readAt(s, table, 5L).count() ===
      Tables.orders(s, d).filter(col("o_orderkey") % 7 === 4).count())
  }

  test("manifest stats round-trip; pruned read ≡ filtered full read and " +
      "actually skips files; stats-less files are conservatively kept") {
    val table = freshTable()
    val dir = s"$table/data/base"
    Tables.orders(s, d).repartitionByRange(8, col("o_orderkey"))
      .write.mode("overwrite").parquet(dir)
    val files = SnapshotLog.dataFiles(s, dir)
    val stats = SnapshotLog.fileStats(s, files.map(_._1), "o_orderkey")
    assert(stats.keySet === files.map(_._1).toSet)
    val v = SnapshotLog.commit(s, table, "base", files, stats = stats)
    // round-trip: the committed manifest carries exactly the stats
    assert(SnapshotLog.readManifest(s, table, v).get.stats === stats)
    // pruned ≡ full under the same predicate, and files were skipped
    val lo = 1L; val hi = 500L
    val read = SnapshotLog.readAtPruned(s, table, v, "o_orderkey", lo, hi)
    val pruned = read.df.filter(col("o_orderkey").between(lo, hi))
    assert(read.skipped >= 1, "no file was pruned")
    assert(read.planned + read.skipped === 8)
    val full = SnapshotLog.readAt(s, table, v)
      .filter(col("o_orderkey").between(lo, hi))
    assert(pruned.count() === full.count())
    assert(pruned.exceptAll(full).isEmpty && full.exceptAll(pruned).isEmpty)
    // a commit WITHOUT stats keeps every file (stats are an
    // accelerator, never a requirement)
    val v2 = SnapshotLog.commit(s, table, "restats", files, Some(v))
    val unpruned = SnapshotLog.readAtPruned(s, table, v2, "o_orderkey", lo, hi)
    assert(unpruned.skipped === 0)
    assert(unpruned.planned === 8)
  }

  test("footer-derived fileStats ≡ the scan's, including null keys, " +
      "all-null files, and non-integral fallbacks (the r15 zero-job stats)") {
    import org.apache.spark.sql.functions._
    val base = LocalScratch.tempDir("footer_stats")
    // long key with nulls and negatives, several files
    s.range(1000).select(
        when(col("id") % 97 === 0, lit(null)).otherwise(col("id") - 500L)
          .as("k"),
        col("id").as("v"))
      .repartitionByRange(4, col("v"))
      .write.parquet(s"$base/longs")
    val lf = SnapshotLog.dataFiles(s, s"$base/longs").map(_._1)
    assert(SnapshotLog.fileStats(s, lf, "k") ===
      SnapshotLog.fileStatsViaScan(s, lf, "k"))
    // a file whose key is ALL null contributes no entry on either path
    s.range(10).select(lit(null).cast("long").as("k"), col("id").as("v"))
      .coalesce(1).write.parquet(s"$base/nulls")
    val nf = SnapshotLog.dataFiles(s, s"$base/nulls").map(_._1)
    assert(SnapshotLog.fileStats(s, nf, "k") === Map.empty)
    assert(SnapshotLog.fileStatsViaScan(s, nf, "k") === Map.empty)
    // numeric-STRING key: footers must decline (binary stats) and the
    // scan fallback must produce the cast-based ranges, as before r15
    s.range(100).select(format_string("%d", col("id") + 7).as("k"),
        col("id").as("v"))
      .coalesce(1).write.parquet(s"$base/strs")
    val sf2 = SnapshotLog.dataFiles(s, s"$base/strs").map(_._1)
    assert(SnapshotLog.fileStats(s, sf2, "k") ===
      SnapshotLog.fileStatsViaScan(s, sf2, "k"))
    assert(SnapshotLog.fileStats(s, sf2, "k").values.toSeq === Seq((7L, 106L)))
    // DECIMAL key: stored unscaled in the footer — the footer path must
    // fall back so ranges stay cast-semantics (123.45 → 123, not 12345)
    s.range(50).select((col("id").cast("decimal(10,2)") / 4).as("k"),
        col("id").as("v"))
      .coalesce(1).write.parquet(s"$base/decs")
    val df2 = SnapshotLog.dataFiles(s, s"$base/decs").map(_._1)
    assert(SnapshotLog.fileStats(s, df2, "k") ===
      SnapshotLog.fileStatsViaScan(s, df2, "k"))
    // int32 key: footer path handles the narrower physical type exactly
    s.range(64).select((col("id") * 3 - 11).cast("int").as("k"),
        col("id").as("v"))
      .repartitionByRange(2, col("v")).write.parquet(s"$base/ints")
    val if2 = SnapshotLog.dataFiles(s, s"$base/ints").map(_._1)
    assert(SnapshotLog.fileStats(s, if2, "k") ===
      SnapshotLog.fileStatsViaScan(s, if2, "k"))
  }

  test("schema-from-manifest read ≡ the footer-union read on " +
      "heterogeneous files (the r15 no-mergeSchema-job read)") {
    // a schema-persisting table whose files DISAGREE: the seed files
    // predate an evolveSchema batch, the batch's rewrite carries the
    // new column. readAt(mergeSchema = true) now hands the persisted
    // schema to the reader instead of paying the distributed
    // footer-union job — rows, null-fill, and schema must be
    // indistinguishable from the legacy union.
    val table = LocalScratch.tempDir("schema_read")
    graft.streaming.CdcStream.seedTarget(s, table,
      Tables.orders(s, d).select("o_orderkey", "o_orderstatus",
        "o_totalprice"), "o_orderkey")
    // keys from the BOTTOM of the range only: seedTarget range-
    // partitions into 4 files, so a low-key batch rewrites the first
    // file and leaves the rest heterogeneous (pre-evolution schema)
    val keyCut = Tables.orders(s, d).agg(
      percentile_approx(col("o_orderkey"), lit(0.1), lit(1000)))
      .head().getLong(0)
    val evolve = Tables.orders(s, d)
      .filter(col("o_orderkey") <= keyCut && col("o_orderkey") % 11 === 0)
      .select(col("o_orderkey"),
        lit("EV").as("o_orderstatus"),
        (col("o_totalprice") + lit(5.0)).as("o_totalprice"),
        lit("WEB").as("o_channel"))
      .withColumn("op", lit("U")).withColumn("ts", lit(1))
    graft.streaming.CdcStream.applyBatch(s, table, evolve, 0L,
      "o_orderkey", evolveSchema = true)
    val cur = SnapshotLog.currentVersion(s, table)
    val m = SnapshotLog.readManifest(s, table, cur).get
    assert(m.schema.isDefined)
    // files are genuinely heterogeneous (untouched seed files lack
    // o_channel) — otherwise this test proves nothing
    val perFile = m.files.map(f => s.read.parquet(f._1).columns.toSet)
    assert(perFile.exists(!_.contains("o_channel")) &&
      perFile.exists(_.contains("o_channel")))
    val viaSchema = SnapshotLog.readAt(s, table, cur, mergeSchema = true)
    // the legacy path: footer union + null-fill to the union schema
    val legacy = s.read.option("mergeSchema", "true")
      .parquet(m.files.map(_._1): _*)
    assert(viaSchema.schema.fields.map(f => (f.name, f.dataType)).toSeq ===
      legacy.schema.fields.map(f => (f.name, f.dataType)).toSeq)
    val cols = viaSchema.columns.toSeq
    assert(viaSchema.exceptAll(legacy.select(cols.map(col): _*)).isEmpty &&
      legacy.select(cols.map(col): _*).exceptAll(viaSchema).isEmpty)
    // null-fill really exercised: pre-evolution rows read back with a
    // null o_channel, the batch's rows with WEB
    assert(viaSchema.filter(col("o_channel").isNull).count() > 0)
    assert(viaSchema.filter(col("o_channel") === "WEB").count() ===
      evolve.count())
  }

  test("manifest NDV blobs round-trip; carried blobs estimate like " +
      "recomputed ones; malformed blobs are rejected at commit") {
    val table = freshTable()
    val dir = s"$table/data/base"
    Tables.orders(s, d).repartitionByRange(4, col("o_orderkey"))
      .write.mode("overwrite").parquet(dir)
    val files = SnapshotLog.dataFiles(s, dir)
    val ndv = SnapshotLog.fileNdv(s, files.map(_._1), "o_custkey")
    assert(ndv.keySet === files.map(_._1).toSet)
    val v = SnapshotLog.commit(s, table, "base", files, ndv = ndv)
    // round-trip: blobs survive the manifest text byte-for-byte
    assert(SnapshotLog.readManifest(s, table, v).get.ndv === ndv)
    // the metadata-only estimate: union of blobs ≈ exact distinct
    import s.implicits._
    def estimate(blobs: Iterable[String]): Double =
      blobs.toSeq.map(java.util.Base64.getDecoder.decode).toDF("sk")
        .agg(hll_sketch_estimate(hll_union_agg(col("sk")))).first().getLong(0)
        .toDouble
    val exact = SnapshotLog.readAt(s, table, v)
      .agg(countDistinct(col("o_custkey"))).first().getLong(0).toDouble
    assert(math.abs(estimate(ndv.values) - exact) <= exact * 0.05 + 5.0)
    // CARRIED blobs (v2 re-commits v1's map verbatim) estimate
    // identically — sketch once at write time, never re-scan
    val v2 = SnapshotLog.commit(s, table, "carry", files, Some(v), ndv = ndv)
    val carried = SnapshotLog.readManifest(s, table, v2).get.ndv
    assert(estimate(carried.values) === estimate(ndv.values))
    // a blob with a manifest delimiter cannot be committed
    intercept[IllegalArgumentException] {
      SnapshotLog.commit(s, table, "bad", files,
        ndv = Map(files.head._1 -> "abc\tdef"))
    }
  }

  test("MOR deletes: O(keys) commits, read applies them, compaction folds " +
      "them in, expire reference-counts delete files") {
    val table = freshTable()
    seed(table, 0) // orders with o_orderkey % 7 === 0
    val base = Tables.orders(s, d).filter(col("o_orderkey") % 7 === 0)
    val del1 = base.filter(col("o_orderkey") % 3 === 0).select("o_orderkey")
    val v2 = SnapshotLog.deleteMor(s, table, del1, "o_orderkey")
    // the delete commit reuses every data file verbatim (zero rewrites)
    val m1 = SnapshotLog.readManifest(s, table, 1L).get
    val m2 = SnapshotLog.readManifest(s, table, v2).get
    assert(m2.files === m1.files)
    assert(m2.deletes.size === 1)
    val expect1 = base.filter(col("o_orderkey") % 3 =!= 0)
    val mor1 = SnapshotLog.readMor(s, table, v2, "o_orderkey")
    assert(mor1.count() === expect1.count())
    // second, overlapping delete accumulates
    val del2 = base.filter(col("o_custkey") % 5 === 0).select("o_orderkey")
    val v3 = SnapshotLog.deleteMor(s, table, del2, "o_orderkey")
    val expect2 = base.filter(col("o_orderkey") % 3 =!= 0)
      .filter(col("o_custkey") % 5 =!= 0)
    val mor2 = SnapshotLog.readMor(s, table, v3, "o_orderkey")
    assert(mor2.count() === expect2.count())
    // v2's MOR read is unchanged by v3's delete (snapshot isolation)
    assert(SnapshotLog.readMor(s, table, v2, "o_orderkey").count()
      === expect1.count())
    // expire down to v3: its delete files must SURVIVE (they are
    // referenced by the live manifest), and the MOR read still works
    SnapshotLog.expire(s, table, keepLast = 1)
    assert(SnapshotLog.readMor(s, table, v3, "o_orderkey").count()
      === expect2.count())
    // compaction: plain readAt ≡ the MOR read, no delete files left
    val v4 = SnapshotLog.compactMor(s, table, "o_orderkey")
    assert(SnapshotLog.readManifest(s, table, v4).get.deletes.isEmpty)
    val compacted = SnapshotLog.readAt(s, table, v4)
    assert(compacted.count() === expect2.count())
    assert(compacted.exceptAll(mor2).isEmpty)
    // compacting an already-compacted table is a no-op
    assert(SnapshotLog.compactMor(s, table, "o_orderkey") === v4)
  }

  test("WAP: publish is monotonic and fails closed on a torn pointer; " +
      "expire spares the published snapshot even past the cutoff") {
    val table = freshTable()
    seed(table, 0); seed(table, 1); seed(table, 2) // v1..v3 (each full-replace)
    // nothing published yet → readPublished refuses
    assert(SnapshotLog.publishedVersion(s, table) === 0L)
    intercept[IllegalArgumentException] { SnapshotLog.readPublished(s, table) }
    // publish v2; the staged head v3 stays invisible to consumers
    SnapshotLog.publish(s, table, 2L)
    assert(SnapshotLog.publishedVersion(s, table) === 2L)
    assert(SnapshotLog.readPublished(s, table).count() ===
      Tables.orders(s, d).filter(col("o_orderkey") % 7 === 1).count())
    // publishing backwards is refused; an uncommitted version too
    intercept[IllegalArgumentException] { SnapshotLog.publish(s, table, 1L) }
    intercept[IllegalArgumentException] { SnapshotLog.publish(s, table, 9L) }
    // expire to the head only: v2 is BELOW the cutoff but published —
    // its manifest and files must survive; v1 goes
    SnapshotLog.expire(s, table, keepLast = 1)
    assert(SnapshotLog.readManifest(s, table, 1L).isEmpty, "v1 not expired")
    assert(SnapshotLog.readManifest(s, table, 2L).isDefined, "published v2 expired")
    assert(SnapshotLog.readPublished(s, table).count() ===
      Tables.orders(s, d).filter(col("o_orderkey") % 7 === 1).count())
    // torn pointer fails CLOSED by THROWING — mapping it to 0 would
    // let expire() unprotect the published snapshot and let publish's
    // monotonic guard accept a backwards move; only a MISSING pointer
    // means "nothing published"
    val fs = org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
    val ptr = new org.apache.hadoop.fs.Path(s"$table/_log/_published")
    val out = fs.create(ptr, true)
    try out.write("2".getBytes("UTF-8")) finally out.close() // no sentinel
    intercept[java.io.IOException] { SnapshotLog.publishedVersion(s, table) }
    intercept[java.io.IOException] { SnapshotLog.expire(s, table, 1) }
    fs.delete(ptr, false)
    assert(SnapshotLog.publishedVersion(s, table) === 0L)
  }

  test("MOR updates: sequenced latest-wins overlay — delete retracts an " +
      "earlier update, update re-inserts a deleted key, manifest round-trips") {
    val table = freshTable()
    seed(table, 0)
    val base = Tables.orders(s, d).filter(col("o_orderkey") % 7 === 0)
    // seq 2: update %3 keys
    val u1 = base.filter(col("o_orderkey") % 3 === 0)
      .withColumn("o_orderpriority", lit("U1"))
    val v2 = SnapshotLog.updateMor(s, table, u1, "o_orderkey")
    val m2 = SnapshotLog.readManifest(s, table, v2).get
    assert(m2.files === SnapshotLog.readManifest(s, table, 1L).get.files,
      "update commit rewrote data files")
    assert(m2.updates.size === 1 && m2.seqs.values.forall(_ === 2L))
    assert(SnapshotLog.readMor(s, table, v2, "o_orderkey")
      .filter(col("o_orderpriority") === "U1").count() === u1.count())
    // seq 3: delete %6 keys — retracts half the updates
    val v3 = SnapshotLog.deleteMor(s, table,
      base.filter(col("o_orderkey") % 6 === 0).select("o_orderkey"),
      "o_orderkey")
    val mor3 = SnapshotLog.readMor(s, table, v3, "o_orderkey")
    assert(mor3.filter(col("o_orderkey") % 6 === 0).count() === 0L,
      "a later delete failed to retract an earlier update")
    assert(mor3.filter(col("o_orderpriority") === "U1").count() ===
      base.filter(col("o_orderkey") % 3 === 0
        && col("o_orderkey") % 6 =!= 0).count())
    // seq 4: update %12 keys — re-inserts a quarter of the deletions
    val u2 = base.filter(col("o_orderkey") % 12 === 0)
      .withColumn("o_orderpriority", lit("U2"))
    val v4 = SnapshotLog.updateMor(s, table, u2, "o_orderkey")
    val mor4 = SnapshotLog.readMor(s, table, v4, "o_orderkey")
    assert(mor4.filter(col("o_orderpriority") === "U2").count() === u2.count(),
      "a later update failed to re-insert a deleted key")
    // snapshot isolation: v3's read is untouched by v4's update
    assert(SnapshotLog.readMor(s, table, v3, "o_orderkey")
      .filter(col("o_orderkey") % 6 === 0).count() === 0L)
    // a batch carrying DUPLICATE keys is collapsed deterministically
    // before the write (both rows would otherwise win the overlay and
    // compaction would bake the duplicate in)
    val dup = base.filter(col("o_orderkey") % 24 === 0)
      .withColumn("o_orderpriority", lit("A-DUP"))
      .unionByName(base.filter(col("o_orderkey") % 24 === 0)
        .withColumn("o_orderpriority", lit("Z-DUP")))
    val vD = SnapshotLog.updateMor(s, table, dup, "o_orderkey")
    val morD = SnapshotLog.readMor(s, table, vD, "o_orderkey")
    assert(morD.groupBy("o_orderkey").count().filter(col("count") > 1)
      .limit(1).count() === 0L, "duplicate-key batch produced duplicate rows")
    // the maximal row wins (Z-DUP > A-DUP in the struct order)
    assert(morD.filter(col("o_orderpriority") === "Z-DUP").count() ===
      base.filter(col("o_orderkey") % 24 === 0).count())
    assert(morD.filter(col("o_orderpriority") === "A-DUP").count() === 0L)
    // named-ref / timestamp CONSUMER reads refuse update-carrying
    // snapshots instead of silently serving pre-update values
    SnapshotLog.tagSnapshot(s, table, "mid", vD)
    intercept[IllegalArgumentException] {
      SnapshotLog.readTagged(s, table, "mid")
    }
    // compaction folds the whole overlay; readAt ≡ readMor
    val morFull = SnapshotLog.readMor(s, table,
      SnapshotLog.currentVersion(s, table), "o_orderkey")
    val vC = SnapshotLog.compactMor(s, table, "o_orderkey")
    val post = SnapshotLog.readManifest(s, table, vC).get
    assert(post.updates.isEmpty && post.deletes.isEmpty && post.seqs.isEmpty)
    assert(SnapshotLog.readAt(s, table, vC).exceptAll(morFull).isEmpty)
    assert(morFull.exceptAll(SnapshotLog.readAt(s, table, vC)).isEmpty)
    // a delete-only snapshot IS consumer-readable through a tag, with
    // the deletes overlaid (no resurrection through named refs)
    val vDel = SnapshotLog.deleteMor(s, table,
      base.filter(col("o_orderkey") % 10 === 0).select("o_orderkey"),
      "o_orderkey")
    SnapshotLog.tagSnapshot(s, table, "post-del", vDel)
    assert(SnapshotLog.readTagged(s, table, "post-del")
      .filter(col("o_orderkey") % 10 === 0).count() === 0L,
      "a tagged read resurrected MOR-deleted rows")
  }

  test("branches: zero-copy cut carries the mutation overlay; post-" +
      "fast-forward writers sequence ABOVE carried branch mutations") {
    val table = freshTable()
    seed(table, 0)
    val base = Tables.orders(s, d).filter(col("o_orderkey") % 7 === 0)
    // parent gains a MOR update BEFORE the cut — the branch must
    // carry the overlay, not just the data files
    SnapshotLog.updateMor(s, table,
      base.filter(col("o_orderkey") % 21 === 0)
        .select(col("o_orderkey"), lit("PRE").as("o_orderpriority")),
      "o_orderkey")
    val bt = SnapshotLog.branch(s, table, "b", 2L)
    val bm1 = SnapshotLog.readManifest(s, bt, 1L).get
    assert(bm1.updates.size === 1 && bm1.seqs.values.toSet === Set(2L),
      "branch cut dropped the parent's mutation overlay")
    // branch write: its sequence must rise above the CARRIED seq 2,
    // not the branch's own version counter (1) — the collision that
    // would invert latest-wins
    SnapshotLog.updateMor(s, bt,
      base.filter(col("o_orderkey") % 42 === 0)
        .select(col("o_orderkey"), lit("BR2").as("o_orderpriority")),
      "o_orderkey")
    val bm2 = SnapshotLog.readManifest(s, bt, 2L).get
    assert(bm2.seqs.values.max === 3L,
      s"branch writer reused a carried sequence: ${bm2.seqs.values.toSet}")
    val ffv = SnapshotLog.fastForward(s, table, "b")
    // the branch base ADVANCED with the fast-forward: a second
    // write→ff cycle on the same branch lands (the one-shot trap —
    // the parent has only moved by the branch's own merge)
    SnapshotLog.updateMor(s, bt,
      base.filter(col("o_orderkey") % 63 === 0)
        .select(col("o_orderkey"), lit("BR3").as("o_orderpriority")),
      "o_orderkey")
    val ffv2 = SnapshotLog.fastForward(s, table, "b")
    assert(ffv2 === ffv + 1, "second fast-forward did not land")
    // fast-forward is idempotent in the SUCCESS case: with no new
    // branch work, a re-call recognizes the parent head already
    // carries the branch state and returns it WITHOUT committing a
    // duplicate identical snapshot (the r13 ADVICE finding)
    assert(SnapshotLog.fastForward(s, table, "b") === ffv2,
      "re-called fast-forward did not return the landed version")
    assert(SnapshotLog.currentVersion(s, table) === ffv2,
      "re-called fast-forward committed a duplicate snapshot")
    // post-fast-forward: a parent delete must sequence above the
    // branch's carried seqs (nextSeq takes the max of version counter
    // and carried sequences)
    SnapshotLog.deleteMor(s, table,
      base.filter(col("o_orderkey") % 42 === 0).select("o_orderkey"),
      "o_orderkey")
    val mor = SnapshotLog.readMor(s, table,
      SnapshotLog.currentVersion(s, table), "o_orderkey")
    assert(mor.filter(col("o_orderkey") % 42 === 0).count() === 0L,
      "a post-ff delete lost latest-wins to a carried branch update")
    assert(mor.filter(col("o_orderpriority") === "BR3").count() ===
      base.filter(col("o_orderkey") % 63 === 0
        && col("o_orderkey") % 42 =!= 0).count())
    assert(mor.filter(col("o_orderpriority") === "PRE").count() ===
      base.filter(col("o_orderkey") % 21 === 0
        && col("o_orderkey") % 42 =!= 0
        && col("o_orderkey") % 63 =!= 0).count())
    // duplicate cut and bogus names are refused
    intercept[IllegalArgumentException] {
      SnapshotLog.branch(s, table, "b", ffv2)
    }
    intercept[IllegalArgumentException] {
      SnapshotLog.branch(s, table, "../evil", ffv2)
    }
    // parent expire never reclaims branch-dir files. Compact FIRST so
    // the parent HEAD references only compact-dir files — branch-dir
    // files are then referenced solely by EXPIRED parent manifests
    // and the live branch, which makes the _branches/ exclusion
    // load-bearing: without it this expire would delete them out
    // from under the branch head
    SnapshotLog.compactMor(s, table, "o_orderkey")
    SnapshotLog.expire(s, table, keepLast = 1)
    val fs2 = org.apache.hadoop.fs.FileSystem.get(
      s.sparkContext.hadoopConfiguration)
    SnapshotLog.readManifest(s, bt,
      SnapshotLog.currentVersion(s, bt)).get.updates.foreach { case (p, _) =>
      assert(fs2.exists(new org.apache.hadoop.fs.Path(p)),
        s"parent expire reclaimed a live branch file: $p") }
    assert(SnapshotLog.readMor(s, table,
      SnapshotLog.currentVersion(s, table), "o_orderkey").count() > 0)
  }

  test("merge: disjoint-range branch mutations replay onto a diverged " +
      "parent; overlapping ranges refuse; merged files survive expire") {
    val table = freshTable()
    seed(table, 0)
    val base = Tables.orders(s, d).filter(col("o_orderkey") % 7 === 0)
    val low = col("o_orderkey") < 750
    val bt = SnapshotLog.branch(s, table, "m", 1L)
    // branch deletes LOW keys, parent updates HIGH keys — provably
    // disjoint through the mutation files' manifest-carried ranges
    SnapshotLog.deleteMor(s, bt,
      base.filter(low && col("o_orderkey") % 21 === 0).select("o_orderkey"),
      "o_orderkey")
    SnapshotLog.updateMor(s, table,
      base.filter(!low && col("o_orderkey") % 14 === 0)
        .select(col("o_orderkey"), lit("HI").as("o_orderpriority")),
      "o_orderkey")
    // diverged: fast-forward refuses, merge lands
    intercept[SnapshotLog.SnapshotConflict] {
      SnapshotLog.fastForward(s, table, "m")
    }
    val mv = SnapshotLog.merge(s, table, "m", "o_orderkey")
    val mm = SnapshotLog.readManifest(s, table, mv).get
    // the branch's delete file rides the merged manifest with a
    // sequence ABOVE the parent's update (2 = parent update, 3 =
    // replayed delete), and its key range entered the parent's stats
    assert(mm.deletes.size === 1)
    val (delFile, _) = mm.deletes.head
    assert(mm.seqs(delFile) === 3L,
      s"replayed delete not re-sequenced above parent history: ${mm.seqs}")
    assert(mm.stats.contains(delFile), "merged mutation file lost its range")
    val merged = SnapshotLog.readMor(s, table, mv, "o_orderkey")
    assert(merged.filter(low && col("o_orderkey") % 21 === 0).count() === 0L,
      "merge dropped the branch's delete")
    assert(merged.filter(col("o_orderpriority") === "HI").count() ===
      base.filter(!low && col("o_orderkey") % 14 === 0).count(),
      "merge lost the parent's divergent update")
    // re-merge: idempotent, no new version
    assert(SnapshotLog.merge(s, table, "m", "o_orderkey") === mv)
    assert(SnapshotLog.currentVersion(s, table) === mv)
    // overlap: a second branch touching the parent's HIGH keys refuses
    val bt2 = SnapshotLog.branch(s, table, "clash", mv)
    SnapshotLog.deleteMor(s, bt2,
      base.filter(!low && col("o_orderkey") % 28 === 0).select("o_orderkey"),
      "o_orderkey")
    SnapshotLog.updateMor(s, table,
      base.filter(!low && col("o_orderkey") % 35 === 0)
        .select(col("o_orderkey"), lit("HI2").as("o_orderpriority")),
      "o_orderkey")
    val preClash = SnapshotLog.currentVersion(s, table)
    intercept[SnapshotLog.SnapshotConflict] {
      SnapshotLog.merge(s, table, "clash", "o_orderkey")
    }
    assert(SnapshotLog.currentVersion(s, table) === preClash,
      "refused merge still committed")
    // a parent-side data rewrite (compaction) makes any later merge
    // refuse — the branch's mutations may target folded state
    SnapshotLog.compactMor(s, table, "o_orderkey")
    intercept[SnapshotLog.SnapshotConflict] {
      SnapshotLog.merge(s, table, "clash", "o_orderkey")
    }
    // expire on the parent keeps the merged-in branch-dir file alive:
    // it is referenced through refFiles of a LIVE parent manifest
    // (here the pre-compaction head is expired, so only refFiles
    // protects it for time-travel reads of mv... after compaction the
    // head no longer references it; the _branches/ exclusion keeps it
    // for the branch itself)
    SnapshotLog.expire(s, table, keepLast = 1)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      s.sparkContext.hadoopConfiguration)
    assert(fs.exists(new org.apache.hadoop.fs.Path(delFile)),
      "expire reclaimed a branch-dir mutation file out from under the branch")
  }

  test("MOR partial-column patches: per-column sequence coalesce, " +
      "patch-never-inserts, cleanup paths count patch files as referenced") {
    val table = freshTable()
    seed(table, 0)
    val base = Tables.orders(s, d).filter(col("o_orderkey") % 7 === 0)
    val keys9 = base.filter(col("o_orderkey") % 21 === 0)   // within %7
    val keys21 = base.filter(col("o_orderkey") % 42 === 0)  // subset
    // seq 2: patch priority on the wide set
    SnapshotLog.patchMor(s, table,
      keys9.select(col("o_orderkey"), lit("PA").as("o_orderpriority")),
      "o_orderkey")
    // seq 3: patch priority AND status on the subset — overrides seq 2
    // column-by-column there
    SnapshotLog.patchMor(s, table,
      keys21.select(col("o_orderkey"), lit("PB").as("o_orderpriority"),
        lit("SB").as("o_orderstatus")), "o_orderkey")
    // a patch for an ABSENT key never inserts
    SnapshotLog.patchMor(s, table,
      keys9.limit(1).select((col("o_orderkey") + lit(90000000L)).as("o_orderkey"),
        lit("GHOST").as("o_orderpriority")), "o_orderkey")
    // a patch naming a column outside the persisted schema is refused
    intercept[IllegalArgumentException] {
      SnapshotLog.patchMor(s, table,
        keys9.select(col("o_orderkey"), lit(1).as("no_such_col")), "o_orderkey")
    }
    // ... as is a right-named, WRONG-TYPED column (it would coerce the
    // whole column at read time and compaction would bake it in)
    intercept[IllegalArgumentException] {
      SnapshotLog.patchMor(s, table,
        keys9.select(col("o_orderkey"), lit("oops").as("o_totalprice")),
        "o_orderkey")
    }
    // consumer delete-overlay paths refuse a PATCHES-ONLY snapshot —
    // on a SEPARATE table (no update files, so the refusal exercised
    // is the patch guard itself, not the update guard; and the tag
    // must not retention-pin THIS table's patch files, whose expiry
    // is asserted below)
    locally {
      val t2 = freshTable()
      seed(t2, 0)
      SnapshotLog.patchMor(s, t2,
        keys9.select(col("o_orderkey"), lit("PX").as("o_orderpriority")),
        "o_orderkey")
      SnapshotLog.tagSnapshot(s, t2, "patched",
        SnapshotLog.currentVersion(s, t2))
      val patchRefusal = intercept[IllegalArgumentException] {
        SnapshotLog.readTagged(s, t2, "patched")
      }
      assert(patchRefusal.getMessage.contains("patch"),
        s"refusal cited the wrong guard: ${patchRefusal.getMessage}")
    }
    val v = SnapshotLog.currentVersion(s, table)
    val r = SnapshotLog.readPatched(s, table, v, "o_orderkey")
    val n9 = keys9.count(); val n21 = keys21.count()
    assert(r.filter(col("o_orderpriority") === "PB").count() === n21)
    assert(r.filter(col("o_orderpriority") === "PA").count() === n9 - n21,
      "seq-2 patch column survived where seq-3 should override / vice versa")
    assert(r.filter(col("o_orderstatus") === "SB").count() === n21)
    assert(r.filter(col("o_orderpriority") === "GHOST").count() === 0L,
      "a patch inserted a row")
    assert(r.count() === base.count(), "patching changed the row count")
    // patch files are REFERENCED: never orphans even at grace 0
    assert(SnapshotLog.orphanFiles(s, table, olderThanMillis = 0L).isEmpty)
    // delete retracts a patched row; a still-later patch stays a no-op
    SnapshotLog.deleteMor(s, table,
      keys21.select("o_orderkey"), "o_orderkey")
    SnapshotLog.patchMor(s, table,
      keys21.select(col("o_orderkey"), lit("ZOMBIE").as("o_orderpriority")),
      "o_orderkey")
    val r2 = SnapshotLog.readPatched(s, table,
      SnapshotLog.currentVersion(s, table), "o_orderkey")
    assert(r2.filter(col("o_orderpriority").isin("PB", "ZOMBIE")).count() === 0L,
      "a delete failed to retract patched/late-patched rows")
    // materialize before expire — r2's plan reads the pre-compaction
    // mutation files expire is about to reclaim
    val n2 = r2.count()
    // compaction folds everything; expire reclaims the old patch files
    val vC = SnapshotLog.compactMor(s, table, "o_orderkey")
    assert(SnapshotLog.readManifest(s, table, vC).get.patches.isEmpty)
    val preFiles = (1L until vC).flatMap(
      SnapshotLog.readManifest(s, table, _)).flatMap(_.patches.map(_._1))
    assert(preFiles.nonEmpty)
    SnapshotLog.expire(s, table, keepLast = 1)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      s.sparkContext.hadoopConfiguration)
    preFiles.foreach(p => assert(
      !fs.exists(new org.apache.hadoop.fs.Path(p)),
      s"expired patch file survived: $p"))
    assert(SnapshotLog.readAt(s, table, vC).count() === n2)
  }

  test("MOR update orderBy: an ordered feed's per-key collapse keeps the " +
      "LATEST row, not the value-maximal one; bad orderBy columns refused") {
    val table = freshTable()
    seed(table, 0)
    val base = Tables.orders(s, d).filter(col("o_orderkey") % 7 === 0)
    val keys = base.filter(col("o_orderkey") % 21 === 0)
    // o_shippriority plays the feed's CDC-ts role (orderBy columns
    // are table columns — an extra side-channel column would leak
    // into every reader's schema through the update-file union). The
    // LATEST row (o_shippriority=2) is deliberately the
    // value-MINIMAL one ("A-LATEST" < "Z-STALE"): without orderBy
    // the stale row wins the struct-max collapse (the ADVICE hazard)
    val feed = keys.withColumn("o_orderpriority", lit("Z-STALE"))
      .withColumn("o_shippriority", lit(1))
      .unionByName(keys.withColumn("o_orderpriority", lit("A-LATEST"))
        .withColumn("o_shippriority", lit(2)))
    val v = SnapshotLog.updateMor(s, table, feed, "o_orderkey",
      orderBy = Seq("o_shippriority"))
    val mor = SnapshotLog.readMor(s, table, v, "o_orderkey")
    val nKeys = keys.count()
    assert(mor.filter(col("o_orderpriority") === "A-LATEST").count() === nKeys,
      "orderBy collapse dropped the latest row")
    assert(mor.filter(col("o_orderpriority") === "Z-STALE").count() === 0L,
      "orderBy collapse kept the stale row over the latest")
    // orderBy must name existing non-key columns
    intercept[IllegalArgumentException] {
      SnapshotLog.updateMor(s, table, feed, "o_orderkey",
        orderBy = Seq("o_orderkey"))
    }
    intercept[IllegalArgumentException] {
      SnapshotLog.updateMor(s, table, feed, "o_orderkey",
        orderBy = Seq("no_such_column"))
    }
  }

  test("tags: immutable named refs survive expiration; torn tags fail closed") {
    val table = freshTable()
    seed(table, 0); seed(table, 1); seed(table, 2) // v1..v3 (full-replace each)
    SnapshotLog.tagSnapshot(s, table, "q3-corpus", 1L)
    // idempotent for the same version; immutable across versions
    SnapshotLog.tagSnapshot(s, table, "q3-corpus", 1L)
    intercept[IllegalArgumentException] {
      SnapshotLog.tagSnapshot(s, table, "q3-corpus", 2L)
    }
    intercept[IllegalArgumentException] {
      SnapshotLog.tagSnapshot(s, table, "future", 9L) // uncommitted
    }
    assert(SnapshotLog.tags(s, table) === Map("q3-corpus" -> 1L))
    // expire to the head: tagged v1 keeps its manifest AND files;
    // untagged v2 goes
    SnapshotLog.expire(s, table, keepLast = 1)
    assert(SnapshotLog.readManifest(s, table, 1L).isDefined, "tagged v1 expired")
    assert(SnapshotLog.readManifest(s, table, 2L).isEmpty, "untagged v2 kept")
    assert(SnapshotLog.readTagged(s, table, "q3-corpus").count() ===
      Tables.orders(s, d).filter(col("o_orderkey") % 7 === 0).count())
    // a torn tag file throws on resolve (never silently reads garbage)
    val fs = org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
    val torn = new org.apache.hadoop.fs.Path(s"$table/_log/_tag-torn")
    val out = fs.create(torn, true)
    try out.write("1".getBytes("UTF-8")) finally out.close() // no sentinel
    intercept[java.io.IOException] { SnapshotLog.tagVersion(s, table, "torn") }
  }

  test("readAtPruned applies MOR deletes and refuses update-carrying " +
      "snapshots; schema line round-trips through commit") {
    val table = freshTable()
    val dir = s"$table/data/base"
    val base = Tables.orders(s, d)
    base.repartitionByRange(4, col("o_orderkey"))
      .write.mode("overwrite").parquet(dir)
    val files = SnapshotLog.dataFiles(s, dir)
    SnapshotLog.commit(s, table, "base", files, Some(0L),
      stats = SnapshotLog.fileStats(s, files.map(_._1), "o_orderkey"),
      schema = Some(base.schema.json))
    assert(SnapshotLog.readManifest(s, table, 1L).get.schema
      === Some(base.schema.json), "schema line lost in round-trip")
    val v2 = SnapshotLog.deleteMor(s, table,
      base.filter(col("o_orderkey") % 5 === 0).select("o_orderkey"),
      "o_orderkey")
    // the pruned read both prunes AND masks deleted rows
    val read = SnapshotLog.readAtPruned(s, table, v2, "o_orderkey", 1L, 500L)
    val pruned = read.df
    assert(read.skipped >= 1, "stats pruning stopped biting")
    assert(pruned.filter(col("o_orderkey") % 5 === 0).count() === 0L,
      "pruned read resurrected MOR-deleted rows")
    assert(pruned.filter(col("o_orderkey").between(1L, 500L)).count() ===
      base.filter(col("o_orderkey").between(1L, 500L)
        && col("o_orderkey") % 5 =!= 0).count())
    // update files cannot be overlaid by a pruned read — fail loudly
    SnapshotLog.updateMor(s, table,
      base.filter(col("o_orderkey") % 50 === 0)
        .withColumn("o_orderpriority", lit("UX")), "o_orderkey")
    intercept[IllegalArgumentException] {
      SnapshotLog.readAtPruned(s, table,
        SnapshotLog.currentVersion(s, table), "o_orderkey", 1L, 500L)
    }
  }
}
