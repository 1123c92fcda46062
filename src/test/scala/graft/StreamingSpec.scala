package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.streaming.EventStreams

/** True Structured Streaming runs (readStream → watermark → window →
  * memory sink), checked against the batch-mode definition of the
  * same transform — the core "one definition, two modes" guarantee.
  */
class StreamingSpec extends AnyFunSuite {
  lazy val s = TestSpark.spark
  val d = TestSpark.sf0001

  test("streaming tumbling-window counts equal batch counts") {
    val stream = EventStreams.readEventStream(s, d)
    val q = EventStreams.tumblingCountsStreaming(stream)
      .writeStream.outputMode("complete")
      .format("memory").queryName("tumbling_out")
      .start()
    try {
      q.processAllAvailable()
      val streamed = s.table("tumbling_out")
        .orderBy("window_start", "event_type").collect()
      val batch = EventStreams.tumblingCounts(Tables.events(s, d))
        .orderBy("window_start", "event_type").collect()
      assert(streamed.length === batch.length)
      assert(streamed.map(_.toSeq).toSeq === batch.map(_.toSeq).toSeq)
    } finally q.stop()
  }

  test("streaming per-window HLL user sketches are bit-identical to batch " +
      "(register-max merge is order-free)") {
    val stream = EventStreams.readEventStream(s, d)
    val q = EventStreams.windowUserSketchStreaming(stream)
      .writeStream.outputMode("complete")
      .format("memory").queryName("hll_out")
      .start()
    try {
      q.processAllAvailable()
      val streamed = s.table("hll_out").orderBy("window_start").collect()
      val batch = EventStreams.windowUserSketch(Tables.events(s, d))
        .orderBy("window_start").collect()
      assert(streamed.length === batch.length)
      // EXACT equality including the estimates: the sketch is
      // deterministic and merges order-free, so micro-batching must
      // not move a single register
      assert(streamed.map(_.toSeq).toSeq === batch.map(_.toSeq).toSeq)
    } finally q.stop()
  }

  test("stateful flatMapGroupsWithState totals converge to the batch aggregate") {
    val stream = EventStreams.readEventStream(s, d)
    val q = EventStreams.userTotalsStreaming(stream)
      .writeStream.outputMode("append")
      .format("memory").queryName("totals_out")
      .start()
    try {
      q.processAllAvailable()
      // last emission per user == final state snapshot
      val streamed = s.table("totals_out")
        .groupBy("user_id")
        .agg(max(struct(col("n_events"), col("sum_value"), col("last_seen_ms"))).as("st"))
        .select(col("user_id"), col("st.n_events"), col("st.sum_value"), col("st.last_seen_ms"))
        .orderBy("user_id").collect()
      val batch = EventStreams.userTotalsBatch(Tables.events(s, d))
        .orderBy("user_id").collect()
      assert(streamed.length === batch.length)
      streamed.zip(batch).foreach { case (st, b) =>
        assert(st.getLong(0) === b.getLong(0))
        assert(st.getLong(1) === b.getLong(1), s"n_events for user ${st.getLong(0)}")
        assert(math.abs(st.getDouble(2) - b.getDouble(2)) < 1e-9,
          s"sum_value for user ${st.getLong(0)}")
        assert(st.getLong(3) === b.getLong(3), s"last_seen for user ${st.getLong(0)}")
      }
    } finally q.stop()
  }

  test("streaming session windows equal batch session windows") {
    val stream = EventStreams.readEventStream(s, d)
    val q = EventStreams.sessionStatsStreaming(stream)
      .writeStream.outputMode("complete")
      .format("memory").queryName("session_out")
      .start()
    try {
      q.processAllAvailable()
      val streamed = s.table("session_out")
        .orderBy("user_id", "session_start").collect()
      val batch = EventStreams.sessionStats(Tables.events(s, d))
        .orderBy("user_id", "session_start").collect()
      assert(streamed.map(_.toSeq).toSeq === batch.map(_.toSeq).toSeq)
    } finally q.stop()
  }

  /** Land a one-file parquet batch into a feed dir with an explicit
    * mtime — the file source replays feed files oldest-mtime-first,
    * one per trigger, so mtime order IS trigger order. */
  private def landBatch(dir: String, df: org.apache.spark.sql.DataFrame,
      name: String, mtime: Long): Unit = {
    import org.apache.hadoop.fs.{FileSystem, Path}
    val fs = FileSystem.get(s.sparkContext.hadoopConfiguration)
    val tmp = s"$dir/_stage_$name"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = fs.globStatus(new Path(s"$tmp/part-*.parquet")).head.getPath
    val dst = new Path(s"$dir/$name.parquet")
    fs.rename(part, dst)
    fs.delete(new Path(tmp), true)
    fs.setTimes(dst, mtime, -1)
  }

  /** Write the three-trigger late-arrival feed: trigger 1 = the
    * on-time rows (full ts span — advances the watermark), trigger 2
    * = the on-time nudge (the late filter runs one batch behind the
    * eviction watermark since Spark 3.4, so the advance needs a batch
    * to take effect), trigger 3 = the late set, filtered against
    * (max on-time ts − 2 h). Returns the feed dir. */
  private def writeLateFeed(): String = {
    val events = Tables.events(s, d)
    val dir = LocalScratch.tempDir("graft_late_feed")
    landBatch(dir, EventStreams.lateMain(events), "0_main", 1000000L)
    landBatch(dir, EventStreams.lateNudge(events), "1_nudge", 2000000L)
    landBatch(dir, EventStreams.lateArrivals(events), "2_late", 3000000L)
    dir
  }

  test("watermark DROPS late rows: a two-trigger out-of-order replay equals " +
      "the drop model, not the full input (fails if withWatermark is removed)") {
    // The r13 verdict finding: every watermark test streamed the
    // fixture in exact ts order, so nothing was ever late and the
    // suite stayed green with the watermark deleted. This feed makes
    // the watermark load-bearing: trigger 1 spans the whole ts range
    // (advancing the watermark to max−2h), trigger 2 is the nudge
    // that turns the advance into the late filter (the filter runs
    // one batch behind eviction), trigger 3 replays rows below it.
    // In update mode the aggregation must admit exactly the
    // lateSurvivors model — with the watermark removed every late row
    // would be counted and BOTH asserts below fail.
    val events = Tables.events(s, d)
    val dir = writeLateFeed()
    val q = EventStreams.tumblingCountsStreaming(EventStreams.readEventFeed(s, dir))
      .writeStream.outputMode("update")
      .format("memory").queryName("late_tumbling_out")
      .start()
    try {
      q.processAllAvailable()
      // update-mode sink appends one row per updated key per batch;
      // counts only grow, so max per key is the final value
      val got = s.table("late_tumbling_out")
        .groupBy("window_start", "event_type")
        .agg(max(struct(col("n_events"), col("sum_value"))).as("f"))
        .select(col("window_start"), col("event_type"),
          col("f.n_events"), col("f.sum_value"))
        .orderBy("window_start", "event_type").collect()
      val model = EventStreams.tumblingCounts(EventStreams.lateSurvivors(events))
        .orderBy("window_start", "event_type").collect()
      assert(got.map(_.toSeq).toSeq === model.map(_.toSeq).toSeq,
        "stream diverged from the µs-exact watermark drop model")
      // and the drop is REAL: the no-drop aggregation (all rows kept)
      // differs from what the stream produced
      val noDrop = EventStreams.tumblingCounts(
          EventStreams.lateOnTime(events)
            .unionByName(EventStreams.lateArrivals(events)))
        .orderBy("window_start", "event_type").collect()
      assert(got.map(_.toSeq).toSeq !== noDrop.map(_.toSeq).toSeq,
        "feed produced no droppable late rows — the test is vacuous")
      // both sides of the boundary are exercised at every SF
      val kept = EventStreams.lateSurvivors(events).count() -
        EventStreams.lateOnTime(events).count()
      val dropped = EventStreams.lateArrivals(events).count() - kept
      assert(kept > 0, "no late row was admitted — keep side untested")
      assert(dropped > 0, "no late row was dropped — drop side untested")
    } finally q.stop()
  }

  test("watermarked stream dedup DROPS late duplicate rows instead of " +
      "re-emitting them after state eviction") {
    // Trigger 1 delivers every event (watermark advances to max−2h);
    // trigger 2 is a nudge (a duplicate of the max-ts row — dedup
    // suppresses it against live state) that turns the advance into
    // the late filter; trigger 3 replays exact duplicates of rows
    // ≥4h older than the max ts — below the late-filter watermark AND
    // beyond state eviction. The late filter must drop them at the
    // door: output cardinality stays at the original count. Without
    // the watermark the dedup operator does not even analyze
    // (dropDuplicatesWithinWatermark requires one), and a dedup that
    // only evicted state without late-filtering would RE-EMIT the
    // evicted-key duplicates — both failure modes break the count.
    val events = Tables.events(s, d)
    val dir = LocalScratch.tempDir("graft_late_dup")
    val maxTs = events.agg(max(col("ts"))).head().getTimestamp(0)
    val lateDups = events.filter(
      col("ts") <= lit(maxTs) - expr("INTERVAL 4 HOURS"))
    assert(lateDups.count() > 0, "fixture has no rows ≥4h before max ts")
    landBatch(dir, events, "0_all", 1000000L)
    landBatch(dir, events.filter(col("ts") === lit(maxTs)), "1_nudge", 2000000L)
    landBatch(dir, lateDups, "2_dups", 3000000L)
    val q = EventStreams.dedupedStream(EventStreams.readEventFeed(s, dir))
      .writeStream.outputMode("append")
      .format("memory").queryName("late_dedup_out")
      .start()
    try {
      q.processAllAvailable()
      val total = events.count()
      assert(s.table("late_dedup_out").count() === total,
        "late duplicates were re-emitted (or on-time rows were lost)")
      assert(s.table("late_dedup_out").select("event_id").distinct().count()
        === total)
    } finally q.stop()
  }

  test("streaming dedup drops within-watermark duplicates with bounded state") {
    // Self-union doubles every event; dedup must restore the original
    // cardinality (all fixture events fall inside one watermark span).
    val stream = EventStreams.readEventStream(s, d)
    val doubled = stream.unionByName(EventStreams.readEventStream(s, d))
    val q = EventStreams.dedupedStream(doubled)
      .writeStream.outputMode("append")
      .format("memory").queryName("dedup_out")
      .start()
    try {
      q.processAllAvailable()
      val total = Tables.events(s, d).count()
      assert(s.table("dedup_out").count() === total)
      assert(s.table("dedup_out").select("event_id").distinct().count() === total)
    } finally q.stop()
  }

  test("stream-static join enriches every micro-batch against the dim table") {
    import s.implicits._
    val dim = Seq(("purchase", true), ("error", true)).toDF("event_type", "tracked")
    val stream = EventStreams.readEventStream(s, d)
    val q = EventStreams.enriched(stream, dim)
      .writeStream.outputMode("append")
      .format("memory").queryName("enriched_out")
      .start()
    try {
      q.processAllAvailable()
      val got = s.table("enriched_out")
      assert(got.count() === Tables.events(s, d).count()) // left join preserves
      val batchTracked = Tables.events(s, d)
        .filter(col("event_type").isin("purchase", "error")).count()
      assert(got.filter(col("tracked") === true).count() === batchTracked)
    } finally q.stop()
  }

  test("stream-stream join matches the batch join and bounds state via watermarks") {
    val stream = EventStreams.readEventStream(s, d)
    val q = EventStreams.purchaseErrorJoin(stream, EventStreams.readEventStream(s, d))
      .writeStream.outputMode("append")
      .format("memory").queryName("ss_join_out")
      .start()
    try {
      q.processAllAvailable()
      val got = s.table("ss_join_out")
      val exp = EventStreams.purchaseErrorJoinBatch(Tables.events(s, d))
      assert(got.count() === exp.count())
      assert(got.count() > 0, "fixture should produce at least one purchase→error pair")
      // exact row parity, not just cardinality
      assert(got.exceptAll(exp).count() === 0L)
      assert(exp.exceptAll(got).count() === 0L)
    } finally q.stop()
  }

  test("checkpoint recovery: a restarted query replays nothing (exactly-once sink)") {
    // Run to completion with a durable checkpoint, stop, start the
    // SAME query again from that checkpoint: the restarted run must
    // recognize all input as committed and append zero new rows —
    // the recovery contract a 24/7 ingest pipeline leans on.
    val ckpt = LocalScratch.tempDir("graft_ckpt")
    val out = LocalScratch.tempDir("graft_ckpt_out")
    def run(): Unit = {
      val q = EventStreams.readEventStream(s, d)
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .format("parquet").option("path", out)
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    run()
    val afterFirst = s.read.parquet(out).count()
    assert(afterFirst === Tables.events(s, d).count())
    run() // restart from checkpoint
    assert(s.read.parquet(out).count() === afterFirst,
      "restart from checkpoint duplicated rows")
  }

  test("foreachBatch sink lands micro-batches (the reference's ingest, streaming-ized)") {
    // The reference bulk-inserts bounded batches into a table
    // (/root/reference/src/main.rs:120-151); foreachBatch is that same
    // batched sink contract fed by an unbounded source — here writing
    // parquet in place of the JDBC table, same per-batch semantics.
    val out = LocalScratch.tempDir("graft_fb")
    val stream = EventStreams.readEventStream(s, d)
    val q = stream.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        batch.write.mode("append").parquet(out)
      }
      .start()
    try {
      q.processAllAvailable()
      assert(s.read.parquet(out).count() === Tables.events(s, d).count())
    } finally q.stop()
  }

  test("streaming ingest into a LIVE database: foreachBatch -> JdbcSink -> Derby") {
    // The reference end to end, streaming-ized AND against a real DB:
    // unbounded source → micro-batches → the same JdbcSink (real DDL,
    // real batched INSERTs) into embedded Derby, then read-back
    // through spark.read.jdbc. Each micro-batch is published in one
    // transaction, so a failed batch leaves no rows. That alone is not
    // exactly-once: a batch replayed after a crash between its publish
    // and the checkpoint commit would be appended twice. Here one run
    // with processAllAvailable replays nothing; in production the
    // checkpoint plus idempotent batch ids carry it.
    import org.apache.spark.sql.functions._
    val url = "jdbc:derby:memory:graftstream;create=true"
    val props = new java.util.Properties()
    props.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    val sink = new graft.sources.JdbcSink(url, props, batchSize = 500, numPartitions = 2)
    val stream = EventStreams.readEventStream(s, d)
      .select(col("event_id"), col("user_id"), col("value"))
    val q = stream.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        sink.write(batch, "events_live", org.apache.spark.sql.SaveMode.Append)
      }
      .start()
    try {
      q.processAllAvailable()
      val back = s.read.jdbc(url, "events_live", props)
      assert(back.count() === Tables.events(s, d).count())
      assert(back.agg(sum(col("user_id"))).head().getLong(0) ===
        Tables.events(s, d).agg(sum(col("user_id"))).head().getLong(0))
    } finally q.stop()
  }

  test("streaming incremental dedup: micro-batched shards dedup against the " +
      "persisted MinHash index, union of batches equals the batch run") {
    // The d12 daily-ingest shape with the shard arriving as a STREAM:
    // each micro-batch is one shard, deduped via foreachBatch against
    // the band index built once from the corpus — corpus text is never
    // rescanned, per-batch cost is O(shard), and the union of
    // per-batch results must equal running the whole shard as one
    // batch (dedup-vs-static-index is embarrassingly parallel across
    // shard rows, so micro-batching cannot change the answer).
    import graft.operators.Dedup
    val idx = Dedup.minhashIndexDir(s, d)
    val shard = Tables.documents(s, d)
      .filter(col("doc_id") % 5 === 0)
      .withColumn("doc_id", col("doc_id") + 2000000L)
    val batchFound = Dedup.incrementalDupes(s, shard, idx)
      .filter(col("dup_of") === col("new_id") - 2000000L)
      .select("new_id", "dup_of").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // exact self-copies of every 5th doc: the index must recover
    // essentially all of them (same floor as the d12 gate)
    assert(batchFound.size >= (shard.count() * 0.95).toInt, "index recall collapsed")

    val dir = LocalScratch.tempDir("graft_shard_stream")
    shard.repartition(3).write.mode("overwrite").parquet(dir) // ≥2 files → ≥2 batches
    val streamedFound = scala.collection.mutable.Set[(Long, Long)]()
    var batches = 0
    val q = s.readStream.schema(shard.schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        batches += 1
        streamedFound ++= Dedup.incrementalDupes(s, batch, idx)
          .filter(col("dup_of") === col("new_id") - 2000000L)
          .select("new_id", "dup_of").collect()
          .map(r => (r.getLong(0), r.getLong(1)))
        ()
      }
      .start()
    try {
      q.processAllAvailable()
      assert(batches >= 2, s"expected ≥2 micro-batches, got $batches")
      assert(streamedFound.toSet === batchFound,
        "micro-batched dedup diverged from the single-batch run")
    } finally q.stop()
  }

  test("streaming mergeable histogram: per-micro-batch 64-bin sketches " +
      "merged bin-wise equal the single-batch histogram") {
    // a07's merge contract under REAL micro-batching: bounds are fixed
    // up front (the sketch contract — a stream can't rescan for
    // min/max), each micro-batch contributes its own bin counts, and
    // bin-wise addition must reconstruct the single-batch histogram
    // exactly — the property that lets per-day histogram sketches
    // persist once and re-aggregate forever.
    import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}
    val price = col("o_totalprice").cast(DecimalType(12, 2)).cast(DoubleType)
    val orders = Tables.orders(s, d).select(price.as("x"))
    val bounds = orders.agg(min(col("x")), max(col("x"))).head()
    val (mn, mx) = (bounds.getDouble(0), bounds.getDouble(1))
    def hist(df: org.apache.spark.sql.DataFrame): Map[Long, Long] = df
      .withColumn("bin", least(
        floor((col("x") - lit(mn)) / ((lit(mx) - lit(mn)) / 64.0)),
        lit(63.0)).cast(LongType))
      .groupBy("bin").agg(count(lit(1)).as("cnt"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val single = hist(orders)
    val dir = LocalScratch.tempDir("graft_hist_stream")
    orders.repartition(3).write.mode("overwrite").parquet(dir)
    val merged = scala.collection.mutable.Map[Long, Long]().withDefaultValue(0L)
    var batches = 0
    val q = s.readStream.schema(orders.schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        batches += 1
        hist(b).foreach { case (k, v) => merged(k) += v }
        ()
      }
      .start()
    try {
      q.processAllAvailable()
      assert(batches >= 2, s"expected ≥2 micro-batches, got $batches")
      assert(merged.toMap === single,
        "bin-wise merge of micro-batch histograms diverged from the single-batch histogram")
    } finally q.stop()
  }

  test("streaming CDC apply: union of micro-batch applies equals the " +
      "single-batch apply; restart from checkpoint commits nothing") {
    import graft.operators.Upsert
    import graft.sources.SnapshotLog
    import graft.streaming.CdcStream
    val table = LocalScratch.tempDir("graft_u04")
    CdcStream.seedTarget(s, table, Tables.orders(s, d))
    // ops sharded by key into one file each: key-disjoint shards
    // commute, so ANY micro-batch arrival order must converge to the
    // single-batch apply
    val opsDir = LocalScratch.tempDir("graft_u04_ops")
    val ops = Upsert.cdcOpsLog(s, d)
    (0 until 3).foreach { i =>
      ops.filter(pmod(col("o_orderkey"), lit(3)) === i)
        .coalesce(1).write.mode("append").parquet(opsDir)
    }
    val ckpt = LocalScratch.tempDir("graft_u04_ckpt")
    def run(): Unit = {
      val stream = s.readStream.schema(ops.schema)
        .option("maxFilesPerTrigger", 1).parquet(opsDir)
      val q = CdcStream.applyStream(s, table, stream, "o_orderkey", ckpt).start()
      try q.processAllAvailable() finally q.stop()
    }
    run()
    val vAfterFirst = SnapshotLog.currentVersion(s, table)
    assert(vAfterFirst === 4L, s"expected v4 (seed + 3 batches), got v$vAfterFirst")
    // parity vs the single-batch u03 apply
    val orders = Tables.orders(s, d)
    val cols = orders.columns.map(col).toIndexedSeq
    val latest = Upsert.latestOps(ops, "o_orderkey")
    val expected = orders
      .join(broadcast(latest.select("o_orderkey")), Seq("o_orderkey"), "left_anti")
      .select(cols: _*)
      .unionByName(latest.filter(col("op") =!= "D").select(cols: _*))
    val got = SnapshotLog.readAt(s, table, vAfterFirst)
    assert(got.count() === expected.count())
    assert(got.exceptAll(expected).count() === 0L)
    assert(expected.exceptAll(got).count() === 0L)
    // restart from the checkpoint: all input committed → zero new
    // snapshots, zero appended rows
    run()
    assert(SnapshotLog.currentVersion(s, table) === vAfterFirst,
      "restart from checkpoint committed a new snapshot")
    // and the batchId-idempotence layer holds even when a batch IS
    // replayed past the checkpoint (crash-between-sink-and-checkpoint)
    val replay = CdcStream.applyBatch(s, table,
      ops.filter(pmod(col("o_orderkey"), lit(3)) === 0), 0L, "o_orderkey").version
    assert(replay === -1L, "replayed batch was applied twice")
    assert(SnapshotLog.currentVersion(s, table) === vAfterFirst)
  }

  test("streaming MOR deletes: each micro-batch commits one delete file and " +
      "zero rewrites; restart commits nothing; compaction converges") {
    import graft.sources.SnapshotLog
    import graft.streaming.CdcStream
    val table = LocalScratch.tempDir("graft_u09")
    CdcStream.seedTarget(s, table, Tables.orders(s, d), "o_orderkey")
    val baseFiles = SnapshotLog.readManifest(s, table, 1L).get.files
    // retraction feed: the %21 doomed keys in 3 key-disjoint files
    val keysDir = LocalScratch.tempDir("graft_u09_keys")
    val doomed = Tables.orders(s, d)
      .filter(col("o_orderkey") % 21 === 0).select("o_orderkey")
    (0 until 3).foreach { i =>
      doomed.filter(col("o_orderkey") % 63 === i * 21)
        .coalesce(1).write.mode("append").parquet(keysDir)
    }
    val ckpt = LocalScratch.tempDir("graft_u09_ckpt")
    def run(): Unit = {
      val stream = s.readStream.schema(doomed.schema)
        .option("maxFilesPerTrigger", 1).parquet(keysDir)
      val q = CdcStream.deleteStream(s, table, stream, "o_orderkey", ckpt).start()
      try q.processAllAvailable() finally q.stop()
    }
    run()
    val vMor = SnapshotLog.currentVersion(s, table)
    assert(vMor === 4L, s"expected v4 (seed + 3 delete commits), got v$vMor")
    val m = SnapshotLog.readManifest(s, table, vMor).get
    // zero rewrites: every data file carried verbatim; 3 delete files
    assert(m.files === baseFiles)
    assert(m.deletes.size === 3)
    val expected = Tables.orders(s, d).filter(col("o_orderkey") % 21 =!= 0)
    assert(SnapshotLog.readMor(s, table, vMor, "o_orderkey").count()
      === expected.count())
    // restart from checkpoint: no new commits; replay past the
    // checkpoint: txn-guarded no-op
    run()
    assert(SnapshotLog.currentVersion(s, table) === vMor)
    assert(CdcStream.deleteBatch(s, table, doomed, 1L, "o_orderkey") === -1L)
    // compaction folds the deletes in; plain read ≡ MOR read
    val vC = SnapshotLog.compactMor(s, table, "o_orderkey")
    assert(SnapshotLog.readManifest(s, table, vC).get.deletes.isEmpty)
    assert(SnapshotLog.readAt(s, table, vC).count() === expected.count())
  }

  test("CDC apply survives a delete-everything batch (empty table still readable)") {
    import graft.sources.SnapshotLog
    import graft.streaming.CdcStream
    val table = LocalScratch.tempDir("graft_u04_all")
    CdcStream.seedTarget(s, table, Tables.orders(s, d))
    val deleteAll = Tables.orders(s, d)
      .withColumn("op", lit("D")).withColumn("ts", lit(1))
    val v = CdcStream.applyBatch(s, table, deleteAll, 0L, "o_orderkey").version
    assert(v === 2L)
    // the rewrite of an all-deleted table must still commit >=1 data
    // file (schema carrier) so the snapshot stays readable at 0 rows
    val m = SnapshotLog.readManifest(s, table, 2L).get
    assert(m.files.nonEmpty, "empty snapshot committed no schema-carrying file")
    val cur = SnapshotLog.readAt(s, table, 2L)
    assert(cur.count() === 0L)
    assert(cur.columns.contains("o_orderkey"))
  }

  test("CDC apply rewrites only the files containing affected keys") {
    import graft.sources.SnapshotLog
    import graft.streaming.CdcStream
    val table = LocalScratch.tempDir("graft_u04_files")
    // seed range-partitioned so files are disjoint key ranges
    val base = s"$table/data/base"
    Tables.orders(s, d).repartitionByRange(4, col("o_orderkey"))
      .write.mode("overwrite").parquet(base)
    SnapshotLog.commit(s, table, "base-load",
      SnapshotLog.dataFiles(s, base), Some(0L))
    val m1 = SnapshotLog.readManifest(s, table, 1L).get
    assert(m1.files.size === 4)
    // a narrow batch: update the 5 smallest keys — they live in ONE
    // range file, so three base files must carry over verbatim
    val lowKeys = Tables.orders(s, d).orderBy("o_orderkey").limit(5)
      .withColumn("op", lit("U")).withColumn("ts", lit(1))
      .withColumn("o_orderpriority", lit("T-TOUCH"))
    val v2 = CdcStream.applyBatch(s, table, lowKeys, 0L, "o_orderkey").version
    assert(v2 === 2L)
    val m2 = SnapshotLog.readManifest(s, table, 2L).get
    val carried = m1.files.toSet.intersect(m2.files.toSet)
    assert(carried.size === 3,
      s"expected 3 untouched files carried over, got ${carried.size}")
    // content still exact: every row present, 5 rows re-prioritized
    val got = SnapshotLog.readAt(s, table, 2L)
    assert(got.count() === Tables.orders(s, d).count())
    assert(got.filter(col("o_orderpriority") === "T-TOUCH").count() === 5L)
  }

  test("CDC key-range stats prune touched-file discovery; results are " +
      "identical to the statless full-scan path") {
    import graft.sources.SnapshotLog
    import graft.streaming.CdcStream
    val tA = LocalScratch.tempDir("graft_cdc_stats")
    val tB = LocalScratch.tempDir("graft_cdc_nostats")
    // A: seeded WITH the key → range-clustered layout + stats sidecar
    CdcStream.seedTarget(s, tA, Tables.orders(s, d), "o_orderkey")
    // B: statless control over the SAME range-clustered layout
    val base = s"$tB/data/base"
    Tables.orders(s, d).repartitionByRange(4, col("o_orderkey"))
      .write.mode("overwrite").parquet(base)
    SnapshotLog.commit(s, tB, "base-load",
      SnapshotLog.dataFiles(s, base), Some(0L))
    // a range-local batch: the 5 smallest keys live in one range file
    val lowKeys = Tables.orders(s, d).orderBy("o_orderkey").limit(5)
      .withColumn("op", lit("U")).withColumn("ts", lit(1))
      .withColumn("o_orderpriority", lit("P-PRUNE"))
    val pruned = CdcStream.applyBatch(s, tA, lowKeys, 0L, "o_orderkey").scanFiles
    val fullApply = CdcStream.applyBatch(s, tB, lowKeys, 0L, "o_orderkey")
    val full = fullApply.scanFiles
    assert(fullApply.version === 2L)
    assert(full === 4, s"statless path should scan all 4 files, scanned $full")
    assert(pruned < full && pruned >= 1,
      s"stats failed to prune: scanned $pruned of $full files")
    // bit-identical outcomes either way
    def state(t: String) = SnapshotLog
      .readAt(s, t, SnapshotLog.currentVersion(s, t))
      .orderBy("o_orderkey").collect().toSeq
    assert(state(tA) === state(tB))
    // and the sidecar carried forward: the NEXT batch on the statless
    // table prunes too (the healing path wrote stats at its commit)
    val low2 = Tables.orders(s, d).orderBy("o_orderkey").limit(3)
      .withColumn("op", lit("U")).withColumn("ts", lit(2))
      .withColumn("o_orderpriority", lit("P-HEAL"))
    val healed = CdcStream.applyBatch(s, tB, low2, 1L, "o_orderkey")
    assert(healed.version === 3L, "follow-up batch was not committed")
    assert(healed.scanFiles >= 1 && healed.scanFiles < 4,
      s"healed stats did not prune the follow-up batch: scanned ${healed.scanFiles}")
  }

  private def cdcTouch(i: Int, ts: Int) =
    Tables.orders(s, d).orderBy("o_orderkey").limit(3)
      .withColumn("op", lit("U")).withColumn("ts", lit(ts))
      .withColumn("o_orderpriority", lit(s"B-$i"))

  test("batchId idempotence probe is O(1) manifest reads and survives " +
      "snapshot expiry (which also reclaims stats sidecars)") {
    import graft.sources.SnapshotLog
    import graft.streaming.CdcStream
    val table = LocalScratch.tempDir("graft_cdc_txn")
    CdcStream.seedTarget(s, table, Tables.orders(s, d), "o_orderkey")
    assert(CdcStream.applyBatch(s, table, cdcTouch(0, 1), 0L, "o_orderkey").version === 2L)
    assert(CdcStream.applyBatch(s, table, cdcTouch(1, 2), 1L, "o_orderkey").version === 3L)
    // steady state: the probe reads ZERO manifests — the txn sidecar
    // answers alone, regardless of how long the table history grows
    val fresh = CdcStream.applyBatch(s, table, cdcTouch(2, 3), 2L, "o_orderkey")
    assert(fresh.version === 4L)
    assert(fresh.probeReads === 0,
      s"fresh batch probe read ${fresh.probeReads} manifests")
    val replay = CdcStream.applyBatch(s, table, cdcTouch(0, 1), 0L, "o_orderkey")
    assert(replay.version === -1L, "replayed batch was applied twice")
    assert(replay.probeReads === 0,
      s"replay probe read ${replay.probeReads} manifests")
    // expiring history must NOT break the replay guard (the manifest-
    // op-string probe silently did: the expired cdc-batch-0 manifest
    // took the evidence with it)
    SnapshotLog.expire(s, table, keepLast = 1)
    assert(CdcStream.applyBatch(s, table, cdcTouch(0, 1), 0L, "o_orderkey").version === -1L,
      "replayed batch re-applied after expire")
    // stats ride the manifest, so expire reclaims them with the
    // manifests — no per-version sidecar files exist to leak
    val fs = org.apache.hadoop.fs.FileSystem.get(
      s.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$table/_stats")),
      "stats sidecar directory should not exist — stats ride the manifest")
    val cur = SnapshotLog.currentVersion(s, table)
    assert(SnapshotLog.readManifest(s, table, cur).get.stats.nonEmpty,
      "live manifest lost its key-range stats")
  }

  test("crash-window heal: commit landed but the txn sidecar write was lost") {
    import graft.sources.SnapshotLog
    import graft.streaming.CdcStream
    val table = LocalScratch.tempDir("graft_cdc_heal")
    CdcStream.seedTarget(s, table, Tables.orders(s, d), "o_orderkey")
    assert(CdcStream.applyBatch(s, table, cdcTouch(0, 1), 0L, "o_orderkey").version === 2L)
    assert(CdcStream.applyBatch(s, table, cdcTouch(1, 2), 1L, "o_orderkey").version === 3L)
    // simulate the crash: rewind the sidecar to batch 0's state (as if
    // batch 1's commit landed but the process died before writeTxn)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      s.sparkContext.hadoopConfiguration)
    val txn = new org.apache.hadoop.fs.Path(s"$table/_txn/cdc")
    fs.delete(txn, false)
    val out = fs.create(txn, true)
    try out.write("0\t2\nend".getBytes("UTF-8")) finally out.close()
    // the replay of batch 1 probes ONLY the manifests newer than the
    // sidecar's version (v3 — one read), finds its op, and skips
    val healing = CdcStream.applyBatch(s, table, cdcTouch(1, 2), 1L, "o_orderkey")
    assert(healing.version === -1L)
    assert(healing.probeReads === 1,
      s"heal probe read ${healing.probeReads} manifests, wanted 1")
    // and the probe healed the sidecar: the next replay is O(0) again
    val healed = CdcStream.applyBatch(s, table, cdcTouch(1, 2), 1L, "o_orderkey")
    assert(healed.version === -1L)
    assert(healed.probeReads === 0)
  }

  test("stats cannot tear separately from their commit: inverted ranges " +
      "are rejected at commit time; a stats-less manifest falls back to " +
      "the full scan with exact results") {
    import graft.sources.SnapshotLog
    import graft.streaming.CdcStream
    // the old torn-sidecar failure (a numerically truncated max that
    // parses as an INVERTED range, 9567 → 95, wrongly pruning every
    // file) is now unrepresentable twice over: stats ride the atomic
    // manifest (a torn manifest is an invisible VERSION, not bad
    // stats), and commit() rejects an inverted range loudly
    val table = LocalScratch.tempDir("graft_cdc_torn")
    CdcStream.seedTarget(s, table, Tables.orders(s, d), "o_orderkey")
    intercept[IllegalArgumentException] {
      SnapshotLog.commit(s, table, "bad-stats",
        SnapshotLog.readManifest(s, table, 1L).get.files,
        Some(1L), Map("some/file.parquet" -> (9567L, 95L)))
    }
    // a commit WITHOUT stats (older build / manual append) degrades to
    // the full key scan — exact results, full cost
    SnapshotLog.commit(s, table, "strip-stats",
      SnapshotLog.readManifest(s, table, 1L).get.files, Some(1L))
    val lowKeys = Tables.orders(s, d).orderBy("o_orderkey").limit(5)
      .withColumn("op", lit("U")).withColumn("ts", lit(1))
      .withColumn("o_orderpriority", lit("T-TORN"))
    val statless = CdcStream.applyBatch(s, table, lowKeys, 0L, "o_orderkey")
    assert(statless.version === 3L)
    assert(statless.scanFiles === 4,
      "stats-less manifest did not fall back to the full scan")
    val got = SnapshotLog.readAt(s, table, 3L)
    assert(got.count() === Tables.orders(s, d).count())
    assert(got.filter(col("o_orderpriority") === "T-TORN").count() === 5L)
    // and the apply's own commit re-seeded stats: the next batch prunes
    val low2 = Tables.orders(s, d).orderBy("o_orderkey").limit(3)
      .withColumn("op", lit("U")).withColumn("ts", lit(2))
      .withColumn("o_orderpriority", lit("T-HEAL"))
    val healed = CdcStream.applyBatch(s, table, low2, 1L, "o_orderkey")
    assert(healed.version === 4L, "follow-up batch was not committed")
    assert(healed.scanFiles >= 1 && healed.scanFiles < 4,
      s"healed stats did not prune the follow-up batch: scanned ${healed.scanFiles}")
  }

  test("CDC batch with null keys applies cleanly and keeps pruning") {
    import graft.sources.SnapshotLog
    import graft.streaming.CdcStream
    val table = LocalScratch.tempDir("graft_cdc_null")
    CdcStream.seedTarget(s, table, Tables.orders(s, d), "o_orderkey")
    val updates = Tables.orders(s, d).orderBy("o_orderkey").limit(2)
      .withColumn("op", lit("U")).withColumn("ts", lit(1))
      .withColumn("o_orderpriority", lit("N-UPD"))
    val nullIns = Tables.orders(s, d).limit(1)
      .withColumn("o_orderkey",
        lit(null).cast(org.apache.spark.sql.types.LongType))
      .withColumn("op", lit("I")).withColumn("ts", lit(1))
      .withColumn("o_orderpriority", lit("N-NULL"))
    val applied = CdcStream.applyBatch(s, table,
      updates.unionByName(nullIns), 0L, "o_orderkey")
    assert(applied.version === 2L)
    // null keys join nothing: the insert appends, the updates land,
    // and the stats path neither NPEs nor loses its pruning (nulls
    // are excluded from the probe set, not poisoning it)
    assert(applied.scanFiles >= 1 && applied.scanFiles < 4,
      "null key in the batch disabled stats pruning")
    val got = SnapshotLog.readAt(s, table, 2L)
    assert(got.count() === Tables.orders(s, d).count() + 1)
    assert(got.filter(col("o_orderpriority") === "N-UPD").count() === 2L)
    assert(got.filter(col("o_orderkey").isNull).count() === 1L)
  }

  test("interleaved delete + upsert streams on one table: per-appId txn " +
      "namespacing, no resurrection, batch supersedes pending deletes") {
    import graft.sources.SnapshotLog
    import graft.streaming.CdcStream
    val table = LocalScratch.tempDir("graft_cdc_ilv")
    CdcStream.seedTarget(s, table, Tables.orders(s, d), "o_orderkey")
    val orders = Tables.orders(s, d)
    val doomed = orders.filter(col("o_orderkey") % 21 === 0)
      .select("o_orderkey")
    // delete stream's batch 0 (appId cdc-del)
    assert(CdcStream.deleteBatch(s, table, doomed, 0L, "o_orderkey") === 2L)
    // upsert stream's batch 0 (appId cdc) — MUST apply despite the
    // same batchId: each stream's checkpoint numbers from 0 (the
    // Delta (appId, version) contract)
    val b0 = orders.filter(col("o_orderkey") % 13 === 1)
      .withColumn("o_orderpriority", lit("1-ILV"))
      .withColumn("op", lit("U")).withColumn("ts", lit(1))
    val v = CdcStream.applyBatch(s, table, b0, 0L, "o_orderkey").version
    assert(v === 3L, "shared txn state made the upsert skip the delete's batchId")
    val m = SnapshotLog.readManifest(s, table, v).get
    // the pending delete survived the upsert commit (carried, not
    // dropped) and the upsert's freshly-written files contain no
    // MOR-deleted rows (resurrection guard)
    assert(m.deletes.nonEmpty, "applyBatch dropped the pending delete files")
    val preFiles = SnapshotLog.readManifest(s, table, 2L).get.files.map(_._1).toSet
    val newFiles = m.files.map(_._1).filterNot(preFiles)
    assert(newFiles.nonEmpty)
    // the new files may carry %21 keys the BATCH itself upserted
    // (batch supersedes the pending delete — latest-wins), but never
    // a deleted key the batch did not touch
    assert(s.read.parquet(newFiles: _*)
      .filter(col("o_orderkey") % 21 === 0
        && col("o_orderkey") % 13 =!= 1).count() === 0L,
      "rewritten files resurrected MOR-deleted rows")
    // the merged read: deletions hold except where the batch
    // re-upserted the key; every batch row is live
    val mor = SnapshotLog.readMor(s, table, v, "o_orderkey")
    assert(mor.filter(col("o_orderkey") % 21 === 0
      && col("o_orderkey") % 13 =!= 1).count() === 0L)
    assert(mor.filter(col("o_orderkey") % 21 === 0).count() ===
      orders.filter(col("o_orderkey") % 21 === 0
        && col("o_orderkey") % 13 === 1).count())
    assert(mor.filter(col("o_orderpriority") === "1-ILV").count() ===
      orders.filter(col("o_orderkey") % 13 === 1).count())
    // upsert batch 1 re-INSERTS a deleted key: the batch is the
    // newest authority — the carried delete must not mask it
    val back = orders.filter(col("o_orderkey") % 21 === 0
        && col("o_orderkey") % 13 =!= 1)
      .orderBy("o_orderkey").limit(5)
      .withColumn("o_orderpriority", lit("2-BACK"))
      .withColumn("op", lit("I")).withColumn("ts", lit(2))
    val v2 = CdcStream.applyBatch(s, table, back, 1L, "o_orderkey").version
    val mor2 = SnapshotLog.readMor(s, table, v2, "o_orderkey")
    assert(mor2.filter(col("o_orderpriority") === "2-BACK").count() === 5L,
      "a carried delete masked the batch's fresh insert")
    assert(mor2.filter(col("o_orderkey") % 21 === 0).count() === 5L +
      orders.filter(col("o_orderkey") % 21 === 0
        && col("o_orderkey") % 13 === 1).count())
    // both streams stay independently idempotent
    assert(CdcStream.deleteBatch(s, table, doomed, 0L, "o_orderkey") === -1L)
    assert(CdcStream.applyBatch(s, table, back, 1L, "o_orderkey").version === -1L)
  }

  test("persisted schema: an evolveSchema widen survives later strict " +
      "batches and a later evolve batch lacking the column") {
    import graft.sources.SnapshotLog
    import graft.streaming.CdcStream
    val table = LocalScratch.tempDir("graft_cdc_sch")
    CdcStream.seedTarget(s, table, Tables.orders(s, d), "o_orderkey")
    val orders = Tables.orders(s, d)
    // batch 0 widens: %23 keys gain o_channel
    val b0 = orders.filter(col("o_orderkey") % 23 === 0)
      .withColumn("o_channel", lit("WEB"))
      .withColumn("op", lit("U")).withColumn("ts", lit(1))
    CdcStream.applyBatch(s, table, b0, 0L, "o_orderkey", evolveSchema = true)
    val mWide = SnapshotLog.readManifest(s, table,
      SnapshotLog.currentVersion(s, table)).get
    assert(mWide.schema.exists(_.contains("o_channel")),
      "evolved schema not persisted in the manifest")
    // batch 1 is STRICT (no flag, no o_channel) and touches %17 keys —
    // overlapping files' survivor rows must keep their channel values
    val b1 = orders.filter(col("o_orderkey") % 17 === 0)
      .withColumn("o_orderpriority", lit("3-STRICT"))
      .withColumn("op", lit("U")).withColumn("ts", lit(2))
    val v1 = CdcStream.applyBatch(s, table, b1, 1L, "o_orderkey").version
    val got = SnapshotLog.readAt(s, table, v1, mergeSchema = true)
    assert(got.columns.contains("o_channel"))
    // %23 keys keep WEB unless batch 1 replaced them (%391 = 17·23 →
    // full-row semantics: the strict batch doesn't carry the column)
    val expected = orders.filter(col("o_orderkey") % 23 === 0
      && col("o_orderkey") % 17 =!= 0).count()
    assert(got.filter(col("o_channel") === "WEB").count() === expected,
      "survivor rows lost evolved-column values under a strict rewrite")
    // a LATER evolve batch lacking the column must not throw (it used
    // to die in batch.schema(c))
    val b2 = orders.filter(col("o_orderkey") % 19 === 0)
      .withColumn("o_orderpriority", lit("4-EVOLVE-NOCOL"))
      .withColumn("op", lit("U")).withColumn("ts", lit(3))
    val v2 = CdcStream.applyBatch(s, table, b2, 2L, "o_orderkey",
      evolveSchema = true).version
    assert(v2 > v1)
    assert(SnapshotLog.readAt(s, table, v2, mergeSchema = true)
      .filter(col("o_channel") === "WEB").count() ===
      orders.filter(col("o_orderkey") % 23 === 0 && col("o_orderkey") % 17 =!= 0
        && col("o_orderkey") % 19 =!= 0).count())
  }

  test("updateBatch: per-batch O(rows) commits, replay is a txn-guarded " +
      "no-op, distinct appIds keep streams independent") {
    import graft.sources.SnapshotLog
    import graft.streaming.CdcStream
    val table = LocalScratch.tempDir("graft_cdc_upd")
    CdcStream.seedTarget(s, table, Tables.orders(s, d), "o_orderkey")
    val baseFiles = SnapshotLog.readManifest(s, table, 1L).get.files
    val rows = Tables.orders(s, d).filter(col("o_orderkey") % 29 === 0)
      .withColumn("o_orderpriority", lit("5-UPD-STREAM"))
    assert(CdcStream.updateBatch(s, table, rows, 0L, "o_orderkey") === 2L)
    // zero rewrites: data files carried verbatim; one update file
    val m = SnapshotLog.readManifest(s, table, 2L).get
    assert(m.files === baseFiles)
    assert(m.updates.size === 1)
    // replay: no-op; same batchId under the DELETE stream still works
    assert(CdcStream.updateBatch(s, table, rows, 0L, "o_orderkey") === -1L)
    assert(CdcStream.deleteBatch(s, table,
      rows.select("o_orderkey").limit(3), 0L, "o_orderkey") === 3L)
    val mor = SnapshotLog.readMor(s, table, 3L, "o_orderkey")
    // the later delete (seq 3) retracts 3 of the seq-2 update rows
    assert(mor.filter(col("o_orderpriority") === "5-UPD-STREAM").count() ===
      rows.count() - 3)
  }
}
