package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables

/** Upsert / MERGE semantics as a batch operator. The reference is
  * append-only — re-running it duplicates every row
  * (`/root/reference/src/main.rs:117,146`: CREATE TABLE IF NOT EXISTS
  * + unconditional INSERT). A real lake pipeline needs MERGE: matched
  * keys take the source row (SCD-1 overwrite), unmatched source keys
  * insert, unmatched target keys survive.
  *
  * Expressed Spark-first as one full-outer join on the key plus
  * per-column coalesce — a single shuffle on the merge key (or zero
  * shuffles if both sides are bucketed on it, see
  * [[graft.sources.Bucketing]]). At 100 TB this is exactly the plan
  * Delta/Iceberg MERGE lowers to, minus the transaction log: the join
  * is the cost, and it scales with the usual equi-join machinery
  * (AQE skew splitting, broadcast if the source batch is small —
  * which a CDC batch usually is, so the hint below).
  */
object Upsert {

  /** SCD-1 merge: rows of `source` overwrite same-key rows of
    * `target` column-by-column; source-only keys insert; target-only
    * keys pass through. Schemas must share the key; columns are
    * aligned by name (source may carry a subset — missing source
    * columns keep the target value, and insert rows null-fill them).
    *
    * Deliberately NOT one full-outer join: full outer can't broadcast
    * (both sides can produce unmatched rows, so both must be
    * partitioned), which would shuffle the entire target. Split by
    * match class instead:
    *   - update/pass-through = LEFT join target→source, which DOES
    *     support a broadcast build of the small CDC batch — the
    *     100 TB side is never shuffled, the overlay happens at scan
    *     parallelism;
    *   - inserts = source anti-join the target's KEY COLUMN ONLY —
    *     column pruning reduces the big side's shuffle to bare keys.
    * Net data movement: target keys once, source twice. The
    * full-outer formulation moves every target BYTE; this moves ~1%.
    */
  def scd1(target: DataFrame, source: DataFrame, key: String): DataFrame = {
    val srcCols = source.columns.toSet
    val updated = target.as("t")
      .join(broadcast(source.as("s")),
        col(s"t.$key") === col(s"s.$key"), "left_outer")
      .select(target.columns.map { c =>
        if (srcCols.contains(c) && c != key)
          coalesce(col(s"s.$c"), col(s"t.$c")).as(c)
        else col(s"t.$c").as(c)
      }.toIndexedSeq: _*)
    val targetSchema = target.schema
    val inserts = source.as("s")
      .join(target.select(col(key)).as("tk"),
        col(s"s.$key") === col(s"tk.$key"), "left_anti")
      .select(target.columns.map { c =>
        if (srcCols.contains(c)) col(s"s.$c").as(c)
        else lit(null).cast(targetSchema(c).dataType).as(c)
      }.toIndexedSeq: _*)
    updated.unionByName(inserts)
  }

  /** SCD-2 merge: history-keeping upsert. `target` is a versioned
    * table carrying (valid_from, valid_to, is_current); each matched
    * source key CLOSES the current target row (valid_to = effective,
    * is_current = 0) and appends a fresh current version; unmatched
    * target rows pass through; `source` rows must carry the business
    * columns plus nothing — versioning columns are stamped here.
    *
    * Only the CURRENT version of a matched key is closed: a key's
    * already-closed history rows keep their original valid_to
    * boundaries (guarded by is_current below). Without that guard a
    * second application to a target that already carries history would
    * stamp `effective` over every historical boundary — applying the
    * merge to its own output must extend history, never rewrite it.
    *
    * Same scale stance as [[scd1]]: the 100 TB target is never
    * shuffled — the close-out is a LEFT join against the broadcast
    * CDC key set (build side is the batch, probe side streams at
    * scan parallelism), and the appended versions are the CDC batch
    * itself. Net movement: CDC rows twice, target rows zero times.
    */
  def scd2(target: DataFrame, source: DataFrame, key: String,
           effective: org.apache.spark.sql.Column): DataFrame = {
    val skeys = source.select(col(key).as("_sk")).distinct()
    val closedOrKept = target.as("t")
      .join(broadcast(skeys), col(s"t.$key") === col("_sk"), "left_outer")
      .select(target.columns.toIndexedSeq.map(c => col(s"t.$c")) :+
        col("_sk").isNotNull.as("_matched"): _*)
      .withColumn("_close", col("_matched") && col("is_current") === 1)
      .withColumn("valid_to", when(col("_close"), effective)
        .otherwise(col("valid_to")))
      .withColumn("is_current", when(col("_close"), lit(0L))
        .otherwise(col("is_current")))
      .drop("_matched", "_close")
    val fresh = source
      .withColumn("valid_from", effective)
      .withColumn("valid_to", lit(null).cast(TimestampType))
      .withColumn("is_current", lit(1L))
    closedOrKept.unionByName(fresh.select(closedOrKept.columns.map(col).toIndexedSeq: _*))
  }

  private def dec(c: org.apache.spark.sql.Column) = c.cast(DecimalType(12, 2))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // u01: MERGE of a synthetic CDC batch into orders — open 1998
    // orders get re-priced (+1000) and re-tagged (update path), every
    // 97th key arrives as a brand-new order (insert path), the rest
    // pass through untouched. The per-(status, priority) rollup
    // fingerprints all three paths: updates land under (U, 0-MERGED),
    // inserts under (N, 9-NEW), survivors keep their original groups.
    "u01_upsert_merge" -> ((s, d) => {
      val orders = Tables.orders(s, d)
      val updates = orders
        .filter(col("o_orderstatus") === "O" &&
          year(col("o_orderdate")) === 1998)
        .select(col("o_orderkey"), col("o_custkey"),
          lit("U").as("o_orderstatus"),
          (col("o_totalprice") + lit(1000.0)).as("o_totalprice"),
          col("o_orderdate"),
          lit("0-MERGED").as("o_orderpriority"))
      val inserts = orders
        .filter(col("o_orderkey") % 97 === 0)
        .select((col("o_orderkey") + lit(10000000L)).as("o_orderkey"),
          col("o_custkey"), lit("N").as("o_orderstatus"),
          col("o_totalprice"), col("o_orderdate"),
          lit("9-NEW").as("o_orderpriority"))
      scd1(orders, updates.unionByName(inserts), "o_orderkey")
        .groupBy("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("n"),
          sum(dec(col("o_totalprice"))).cast(DoubleType).as("total"))
        .orderBy("o_orderstatus", "o_orderpriority")
    }),

    // u02: SCD-2 — the same CDC re-price as u01's update path, but
    // history-keeping: each re-priced key yields a closed version
    // (original price, valid_to stamped) AND a current version (new
    // price). Full history rows are emitted, so the oracle checks
    // every version boundary, not a rollup.
    "u02_scd2_history" -> ((s, d) => {
      val base = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_totalprice"),
          col("o_orderdate").as("valid_from"),
          lit(null).cast(TimestampType).as("valid_to"),
          lit(1L).as("is_current"))
      val cdc = Tables.orders(s, d)
        .filter(col("o_orderstatus") === "O" &&
          year(col("o_orderdate")) === 1998)
        .select(col("o_orderkey"),
          (col("o_totalprice") + lit(1000.0)).as("o_totalprice"))
      scd2(base, cdc, "o_orderkey", to_timestamp(lit("1998-12-31")))
        .orderBy(col("o_orderkey"), col("is_current"))
    }),

    // u03: CDC APPLY with deletes and latest-op-wins — the MERGE
    // shape u01 lacks (WHEN MATCHED THEN DELETE) plus the ops-log
    // collapse every Debezium/lakehouse apply job runs first: a key
    // may carry several ops in one batch, and only the LATEST by
    // timestamp may act. The log here exercises every path:
    //   ts=2 D for keys %13=0  (delete — half ALSO have a ts=1 U that
    //                           must lose: delete-beats-earlier-update)
    //   ts=2 U for keys %13=1  (re-price; half have a ts=1 poison U
    //                           with +100000 that must lose:
    //                           latest-update-wins)
    //   ts=2 I for keys %97=0  (brand-new key, +20M)
    // Shapes: the per-key window runs over the CDC BATCH only (small
    // by definition — never the table); survivors = base anti-join a
    // BROADCAST of the batch's keys, so the 100 TB side is never
    // shuffled; applied rows union back in. The per-(status,
    // priority) rollup fingerprints all paths: a wrong winner or a
    // surviving deleted row moves a count or checksum.
    "u03_cdc_apply" -> ((s, d) => {
      val orders = Tables.orders(s, d)
      val cols = orders.columns.map(col)
      val latest = latestOps(cdcOpsLog(s, d), "o_orderkey")
      val survivors = orders.join(
        broadcast(latest.select("o_orderkey")), Seq("o_orderkey"), "left_anti")
      val applied = latest.filter(col("op") =!= "D").select(cols: _*)
      cdcRollup(survivors.select(cols: _*).unionByName(applied))
    }),

    // u04: u03's apply run per MICRO-BATCH through the snapshot log
    // (graft.streaming.CdcStream) — here in batch-twin form so the
    // DuckDB hash gate covers it (the house st04/st05 pattern; the
    // true streaming run with checkpoint restart lives in
    // StreamingSpec). The ops log is sharded by key, each shard
    // applied as one micro-batch committing a new snapshot; keys are
    // shard-disjoint so the final state must equal u03's single-batch
    // apply — same oracle SQL, byte-for-byte.
    "u04_cdc_stream_apply" -> ((s, d) => {
      // fresh table per run (CDC apply mutates), on the tmpfs scratch:
      // the bench measures the write+commit cycle inline and the
      // sandbox block device write-throttles (LocalScratch scaladoc)
      val table = graft.LocalScratch.tempDir("graft_u04_table")
      graft.streaming.CdcStream.seedTarget(s, table, Tables.orders(s, d), "o_orderkey")
      val ops = cdcOpsLog(s, d)
      (0 until 3).foreach { i =>
        graft.streaming.CdcStream.applyBatch(s, table,
          ops.filter(pmod(col("o_orderkey"), lit(3)) === i), i.toLong,
          "o_orderkey")
      }
      cdcRollup(graft.sources.SnapshotLog.readAt(s, table,
        graft.sources.SnapshotLog.currentVersion(s, table)))
    }),

    // u05: GDPR ERASURE — the right-to-be-forgotten workflow every
    // lakehouse must support, end to end: delete EVERY row of the
    // target subjects (here: customers with custkey %50 == 0 — the
    // "all rows of a data subject" shape, not a key list), then
    // EXPIRE history so the erased rows are not merely absent from
    // the current snapshot but physically unreachable — time travel
    // to a pre-erasure version is the GDPR hole, and expiration is
    // what closes it (the documented Delta/Iceberg VACUUM-after-
    // delete requirement). Composes the round-10 pieces: the erase is
    // a u04 file-level CDC apply (only files holding subject rows
    // rewritten), the purge is i15's reference-counted expire.
    // erased_ok pins the structural half: exactly one manifest
    // remains and zero orphans linger; the rollup hash pins the
    // value half (survivors only — a single surviving subject row
    // moves a count).
    "u05_gdpr_erase" -> ((s, d) => {
      import graft.sources.SnapshotLog
      val table = graft.LocalScratch.tempDir("graft_u05_table")
      graft.streaming.CdcStream.seedTarget(s, table, Tables.orders(s, d), "o_orderkey")
      val erase = Tables.orders(s, d)
        .filter(col("o_custkey") % 50 === 0)
        .withColumn("op", lit("D")).withColumn("ts", lit(1))
      graft.streaming.CdcStream.applyBatch(s, table, erase, 0L, "o_orderkey")
      SnapshotLog.expire(s, table, keepLast = 1)
      val fs = org.apache.hadoop.fs.FileSystem.get(
        s.sparkContext.hadoopConfiguration)
      val manifests = fs.listStatus(
        new org.apache.hadoop.fs.Path(s"$table/_log"))
        .map(_.getPath.getName)
        .filter(n => n.startsWith("v") && n.drop(1).forall(_.isDigit))
        .count(n => SnapshotLog.readManifest(s, table, n.drop(1).toLong).isDefined)
      val ok = manifests == 1 && SnapshotLog.orphanFiles(s, table).isEmpty
      cdcRollup(SnapshotLog.readAt(s, table,
        SnapshotLog.currentVersion(s, table)))
        .withColumn("erased_ok", lit(if (ok) 1L else 0L))
    }),

    // u07: SCHEMA-EVOLVING CDC MERGE — the Delta
    // `mergeSchema`/autoMerge path: sources grow columns mid-stream
    // (every Debezium pipeline meets an upstream ALTER TABLE), and the
    // merge must WIDEN the target without rewriting history. Batch 0
    // applies in the seed schema; batch 1 carries a NEW `o_channel`
    // column — its apply rewrites only the touched files in the union
    // schema (survivor rows null-fill), carries every untouched file
    // VERBATIM in the old schema (zero IO — the evolution contract),
    // and readers union file schemas via the i17 merge-read. Value
    // semantics the oracle replays exactly: only rows batch 1 touched
    // carry a channel; everything else is NULL. evolved_ok pins the
    // structural half — the evolved read has the column, the v1
    // (pre-evolution) read does NOT (old files were never touched).
    // At 100 TB this is u04's O(batch + touched files) apply with a
    // wider projection — evolution adds zero data-proportional cost.
    "u07_evolving_merge" -> ((s, d) => {
      import graft.sources.SnapshotLog
      val table = graft.LocalScratch.tempDir("graft_u07_table")
      graft.streaming.CdcStream.seedTarget(s, table, Tables.orders(s, d), "o_orderkey")
      val orders = Tables.orders(s, d)
      def chanOf(k: org.apache.spark.sql.Column) =
        when(pmod(k, lit(2)) === 0, lit("WEB")).otherwise(lit("STORE"))
      // batch 0: plain re-price in the SEED schema
      val b0 = orders.filter(col("o_orderkey") % 17 === 0)
        .select(col("o_orderkey"), col("o_custkey"),
          lit("R").as("o_orderstatus"),
          (col("o_totalprice") + lit(500.0)).as("o_totalprice"),
          col("o_orderdate"), lit("7-REPRICED").as("o_orderpriority"))
        .withColumn("op", lit("U")).withColumn("ts", lit(1))
      graft.streaming.CdcStream.applyBatch(s, table, b0, 0L, "o_orderkey")
      // batch 1: updates + inserts CARRYING the new column
      val b1u = orders.filter(col("o_orderkey") % 23 === 0)
        .select(col("o_orderkey"), col("o_custkey"),
          lit("E").as("o_orderstatus"),
          (col("o_totalprice") + lit(700.0)).as("o_totalprice"),
          col("o_orderdate"), lit("8-EVOLVED").as("o_orderpriority"))
        .withColumn("o_channel", chanOf(col("o_orderkey")))
        .withColumn("op", lit("U")).withColumn("ts", lit(2))
      val b1i = orders.filter(col("o_orderkey") % 89 === 0)
        .select((col("o_orderkey") + lit(30000000L)).as("o_orderkey"),
          col("o_custkey"), lit("N").as("o_orderstatus"),
          col("o_totalprice"), col("o_orderdate"),
          lit("9-NEW").as("o_orderpriority"))
        .withColumn("o_channel", chanOf(col("o_orderkey")))
        .withColumn("op", lit("I")).withColumn("ts", lit(2))
      graft.streaming.CdcStream.applyBatch(s, table,
        b1u.unionByName(b1i), 1L, "o_orderkey", evolveSchema = true)
      val evolved = SnapshotLog.readAt(s, table,
        SnapshotLog.currentVersion(s, table), mergeSchema = true)
      val ok = evolved.columns.contains("o_channel") &&
        !SnapshotLog.readAt(s, table, 1L).columns.contains("o_channel")
      evolved.groupBy("o_orderstatus", "o_channel")
        .agg(count(lit(1)).as("n"),
          sum(dec(col("o_totalprice"))).cast(DoubleType).as("total"))
        .withColumn("evolved_ok", lit(if (ok) 1L else 0L))
        .orderBy("o_orderstatus", "o_channel")
    }),

    // u08: MERGE-ON-READ equality deletes — the Iceberg v2 delete-file
    // path, and the write-amplification complement to u04's
    // copy-on-write apply: a delete commits a SMALL file of deleted
    // key values (O(deleted keys), one atomic commit, ZERO data-file
    // rewrites); readers apply accumulated deletes as one broadcast
    // anti-join; compaction folds them in when the read tax outgrows
    // the rewrite cost. Two overlapping delete sets accumulate, the
    // MOR read is the oracle-checked output, then compaction rewrites
    // survivors and mor_ok pins the equivalence: compacted read ≡ MOR
    // read (exceptAll both ways empty), the compacted manifest carries
    // NO delete files, the pre-compaction manifest carried exactly 2.
    // At 100 TB this is why streaming deletes are survivable at all —
    // a 100-key delete against a 100k-file table is one 100-row file
    // + manifest, not a scan-and-rewrite of every touched file.
    "u08_mor_delete" -> ((s, d) => {
      import graft.sources.SnapshotLog
      val table = graft.LocalScratch.tempDir("graft_u08_table")
      graft.streaming.CdcStream.seedTarget(s, table, Tables.orders(s, d), "o_orderkey")
      val orders = Tables.orders(s, d)
      SnapshotLog.deleteMor(s, table,
        orders.filter(col("o_orderkey") % 7 === 0).select("o_orderkey"),
        "o_orderkey")
      SnapshotLog.deleteMor(s, table,
        orders.filter(col("o_custkey") % 31 === 0).select("o_orderkey"),
        "o_orderkey")
      val vMor = SnapshotLog.currentVersion(s, table)
      import graft.Checkpoint.TruncateOps
      // pinned once: the equivalence gate + rollup consume `mor` three
      // times and `compacted` twice — unpinned, each consumer re-runs
      // the whole overlay read / compacted scan
      val mor = SnapshotLog.readMor(s, table, vMor, "o_orderkey").truncatedLazy
      val vC = SnapshotLog.compactMor(s, table, "o_orderkey")
      val compacted = SnapshotLog.readAt(s, table, vC).truncatedLazy
      val ok = SnapshotLog.readManifest(s, table, vMor).get.deletes.size == 2 &&
        SnapshotLog.readManifest(s, table, vC).get.deletes.isEmpty &&
        compacted.exceptAll(mor).union(mor.exceptAll(compacted))
          .limit(1).count() == 0
      cdcRollup(mor).withColumn("mor_ok", lit(if (ok) 1L else 0L))
    }),

    // u09: STREAMING MOR DELETES — the retraction-feed twin of u04:
    // each micro-batch of deleted keys commits O(batch) (one small
    // delete file + one manifest), never a data-file rewrite, guarded
    // by the same txn sidecar so a batch replayed past the checkpoint
    // is a no-op. Three key-disjoint micro-batches (% 63 shards of
    // the % 21 doomed set) accumulate, a replay proves idempotence,
    // compaction folds the deletes in, and the oracle replays the
    // survivor set. At 100 TB this is the GDPR-trickle/account-
    // closure shape: thousands of tiny deletes a day are survivable
    // only because each costs O(its keys) — the CoW alternative
    // rewrites files on every batch.
    "u09_mor_delete_stream" -> ((s, d) => {
      import graft.sources.SnapshotLog
      val table = graft.LocalScratch.tempDir("graft_u09_table")
      graft.streaming.CdcStream.seedTarget(s, table, Tables.orders(s, d), "o_orderkey")
      val doomed = Tables.orders(s, d)
        .filter(col("o_orderkey") % 21 === 0).select("o_orderkey")
      (0 until 3).foreach { i =>
        graft.streaming.CdcStream.deleteBatch(s, table,
          doomed.filter(col("o_orderkey") % 63 === i * 21), i.toLong,
          "o_orderkey")
      }
      val replay = graft.streaming.CdcStream.deleteBatch(
        s, table, doomed, 1L, "o_orderkey")
      val vMor = SnapshotLog.currentVersion(s, table)
      val vC = SnapshotLog.compactMor(s, table, "o_orderkey")
      val ok = replay == -1L &&
        SnapshotLog.readManifest(s, table, vMor).get.deletes.size == 3 &&
        SnapshotLog.readManifest(s, table, vC).get.deletes.isEmpty
      cdcRollup(SnapshotLog.readAt(s, table, vC))
        .withColumn("stream_ok", lit(if (ok) 1L else 0L))
    }),

    // u10: MERGE-ON-READ equality UPDATES — the Hudi-MOR log-file
    // path, and the write-amplification complement u08 gave deletes:
    // an update-heavy CDC feed commits each batch as a SMALL file of
    // full replacement rows (O(batch rows), one manifest, ZERO
    // data-file rewrites) where u04's copy-on-write apply rewrites
    // every touched file per batch. Readers overlay updates
    // latest-wins per key at scan time, ordered by the manifest-
    // carried SEQUENCE (the Iceberg sequence-number contract): here
    // update(%11) → delete(%33) → update(%44 + fresh inserts)
    // exercises all three interleavings — a later delete RETRACTS an
    // update (%33 keys), a later update RE-INSERTS a deleted key
    // (%132 keys), and update-over-update takes the newest (%44
    // keys); upsert semantics admit brand-new keys (%199 +40M).
    // Compaction folds the whole overlay in; mor_upd_ok pins the
    // lifecycle (2 update files + 1 delete file before, none after,
    // compacted read ≡ MOR read both ways). At 100 TB: a 1000-row
    // update batch against a 100k-file table is one 1000-row file +
    // one manifest — the read tax is a broadcast probe, paid until
    // the maintenance-cadence compaction.
    "u10_mor_update" -> ((s, d) => {
      import graft.sources.SnapshotLog
      val table = graft.LocalScratch.tempDir("graft_u10_table")
      graft.streaming.CdcStream.seedTarget(s, table, Tables.orders(s, d), "o_orderkey")
      val orders = Tables.orders(s, d)
      def reshape(df: DataFrame, st: String, dp: Double, pri: String) =
        df.select(col("o_orderkey"), col("o_custkey"),
          lit(st).as("o_orderstatus"),
          (col("o_totalprice") + lit(dp)).as("o_totalprice"),
          col("o_orderdate"), lit(pri).as("o_orderpriority"))
      // seq 2: update every %11 key
      SnapshotLog.updateMor(s, table,
        reshape(orders.filter(col("o_orderkey") % 11 === 0),
          "U1", 100.0, "1-MOR-UPD"), "o_orderkey")
      // seq 3: delete every %33 key — retracts a third of the updates
      SnapshotLog.deleteMor(s, table,
        orders.filter(col("o_orderkey") % 33 === 0).select("o_orderkey"),
        "o_orderkey")
      // seq 4: update every %44 key (re-inserting the deleted %132
      // keys) + brand-new %199 rows at +40M (the upsert half)
      val u2 = reshape(orders.filter(col("o_orderkey") % 44 === 0),
        "U2", 200.0, "2-MOR-UPD")
      val ins = orders.filter(col("o_orderkey") % 199 === 0)
        .select((col("o_orderkey") + lit(40000000L)).as("o_orderkey"),
          col("o_custkey"), lit("N2").as("o_orderstatus"),
          col("o_totalprice"), col("o_orderdate"),
          lit("9-NEW-MOR").as("o_orderpriority"))
      SnapshotLog.updateMor(s, table, u2.unionByName(ins), "o_orderkey")
      val vMor = SnapshotLog.currentVersion(s, table)
      val m = SnapshotLog.readManifest(s, table, vMor).get
      import graft.Checkpoint.TruncateOps
      // pinned once: three consumers of `mor`, two of `compacted` (u08)
      val mor = SnapshotLog.readMor(s, table, vMor, "o_orderkey").truncatedLazy
      val vC = SnapshotLog.compactMor(s, table, "o_orderkey")
      val post = SnapshotLog.readManifest(s, table, vC).get
      val compacted = SnapshotLog.readAt(s, table, vC).truncatedLazy
      val ok = m.updates.size == 2 && m.deletes.size == 1 &&
        m.seqs.values.forall(_ >= 1) &&
        post.updates.isEmpty && post.deletes.isEmpty &&
        compacted.exceptAll(mor).union(mor.exceptAll(compacted))
          .limit(1).count() == 0
      cdcRollup(mor).withColumn("mor_upd_ok", lit(if (ok) 1L else 0L))
    }),

    // u11: PARTIAL-COLUMN MOR PATCHES — the column-sparse CDC shape
    // (Hudi's partial-update payload): the feed knows only the
    // CHANGED columns, so u10's full-replacement-row contract would
    // force a read-modify-write upstream of every commit. A patch
    // batch commits O(rows × patched columns) + one manifest (`p:`
    // lines), ZERO data-file rewrites AND zero pre-reads; readers
    // coalesce per column by sequence (readPatched): a patch older
    // than the row-defining mutation is masked, a later delete
    // retracts it, a later patch overrides column-by-column, and a
    // patch never inserts. The interleave here drives every rule:
    // patch(%9 priority, seq2) → full update(%18, seq3, masks p1) →
    // delete(%27, seq4) → patch(%12 status+priority, seq5, rides
    // OVER the update but not the delete), with the second patch
    // shipped through the streaming twin (patchBatch) and replayed
    // to prove txn idempotence. patch_ok pins the lifecycle: 2 patch
    // + 1 update + 1 delete files before compaction, none after,
    // compacted read ≡ patched read both ways, replay committed
    // nothing, and the delete-overlay consumer path REFUSES the
    // patch-carrying snapshot (readPatched/compact are the aware
    // paths). At 100 TB: a 1000-row 2-column patch against a wide
    // 100k-file table is one slim file + one manifest; the read tax
    // is one broadcast join per patched column until compaction.
    "u11_patch_columns" -> ((s, d) => {
      import graft.sources.SnapshotLog
      val table = graft.LocalScratch.tempDir("graft_u11_table")
      val orders = Tables.orders(s, d)
      val base = orders.select(col("o_orderkey"), col("o_custkey"),
        col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"),
        col("o_orderpriority"))
      graft.streaming.CdcStream.seedTarget(s, table, base, "o_orderkey")
      // seq 2: patch priority on %9 keys (one column)
      SnapshotLog.patchMor(s, table,
        base.filter(col("o_orderkey") % 9 === 0)
          .select(col("o_orderkey"), lit("1-PATCH").as("o_orderpriority")),
        "o_orderkey")
      // seq 3: FULL update on %18 keys — masks the older patch there
      SnapshotLog.updateMor(s, table,
        base.filter(col("o_orderkey") % 18 === 0)
          .select(col("o_orderkey"), col("o_custkey"),
            lit("PU").as("o_orderstatus"),
            (col("o_totalprice") + lit(300.0)).as("o_totalprice"),
            col("o_orderdate"), lit("3-UPD").as("o_orderpriority")),
        "o_orderkey")
      // seq 4: delete %27 keys — retracts rows AND any later patch
      SnapshotLog.deleteMor(s, table,
        base.filter(col("o_orderkey") % 27 === 0).select("o_orderkey"),
        "o_orderkey")
      // seq 5: two-column patch on %12 keys via the STREAMING twin;
      // rides over seq-3 updates, no-ops on seq-4 deletions
      val p2 = base.filter(col("o_orderkey") % 12 === 0)
        .select(col("o_orderkey"), lit("P2").as("o_orderstatus"),
          lit("5-PATCH2").as("o_orderpriority"))
      graft.streaming.CdcStream.patchBatch(s, table, p2, 0L, "o_orderkey")
      val replay = graft.streaming.CdcStream.patchBatch(
        s, table, p2, 0L, "o_orderkey")
      val vP = SnapshotLog.currentVersion(s, table)
      val m = SnapshotLog.readManifest(s, table, vP).get
      import graft.Checkpoint.TruncateOps
      // pinned once: three consumers of `patched`, two of `compacted`
      // (the u08 rationale; the patched read is the costliest overlay —
      // one broadcast join per patched column on top of the MOR resolve)
      val patched = SnapshotLog.readPatched(s, table, vP, "o_orderkey")
        .truncatedLazy
      // consumer delete-overlay paths must refuse, not serve stale
      SnapshotLog.tagSnapshot(s, table, "pre-compact", vP)
      val consumerRefused = scala.util.Try(
        SnapshotLog.readTagged(s, table, "pre-compact")).isFailure
      val vC = SnapshotLog.compactMor(s, table, "o_orderkey")
      val post = SnapshotLog.readManifest(s, table, vC).get
      val compacted = SnapshotLog.readAt(s, table, vC).truncatedLazy
      val ok = replay == -1L && consumerRefused &&
        m.patches.size == 2 && m.updates.size == 1 && m.deletes.size == 1 &&
        post.patches.isEmpty && post.updates.isEmpty && post.deletes.isEmpty &&
        compacted.exceptAll(patched).union(patched.exceptAll(compacted))
          .limit(1).count() == 0
      cdcRollup(patched).withColumn("patch_ok", lit(if (ok) 1L else 0L))
    })
  )

  /** The u03/u04 CDC ops log: a deterministic Debezium-shaped batch
    * over `orders` exercising delete-beats-earlier-update,
    * latest-update-wins and insert (shape rationale at the u03 entry
    * above). Columns = orders schema + (op, ts). */
  def cdcOpsLog(s: SparkSession, d: String): DataFrame = {
    val orders = Tables.orders(s, d)
    def op(name: String, ts: Int, rows: DataFrame): DataFrame =
      rows.withColumn("op", lit(name)).withColumn("ts", lit(ts))
    val dels = op("D", 2, orders.filter(col("o_orderkey") % 13 === 0)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"), col("o_orderdate"), col("o_orderpriority")))
    val staleDelSideU = op("U", 1, orders.filter(col("o_orderkey") % 26 === 0)
      .select(col("o_orderkey"), col("o_custkey"),
        lit("X").as("o_orderstatus"),
        (col("o_totalprice") + lit(100000.0)).as("o_totalprice"),
        col("o_orderdate"), lit("X-STALE").as("o_orderpriority")))
    val upds = op("U", 2, orders.filter(col("o_orderkey") % 13 === 1)
      .select(col("o_orderkey"), col("o_custkey"),
        lit("U").as("o_orderstatus"),
        (col("o_totalprice") + lit(500.0)).as("o_totalprice"),
        col("o_orderdate"), lit("1-CDC").as("o_orderpriority")))
    val staleUpdU = op("U", 1, orders.filter(col("o_orderkey") % 26 === 1)
      .select(col("o_orderkey"), col("o_custkey"),
        lit("X").as("o_orderstatus"),
        (col("o_totalprice") + lit(100000.0)).as("o_totalprice"),
        col("o_orderdate"), lit("X-STALE").as("o_orderpriority")))
    val ins = op("I", 2, orders.filter(col("o_orderkey") % 97 === 0)
      .select((col("o_orderkey") + lit(20000000L)).as("o_orderkey"),
        col("o_custkey"), lit("N").as("o_orderstatus"),
        col("o_totalprice"), col("o_orderdate"),
        lit("9-NEW").as("o_orderpriority")))
    dels.unionByName(staleDelSideU).unionByName(upds)
      .unionByName(staleUpdU).unionByName(ins)
  }

  /** Latest-op-wins collapse of a CDC batch: one row per key, the one
    * with the highest ts. Window over the SMALL batch only — never the
    * table. At the gate SF no (key, ts) pair repeats, but at large gen
    * scales the +20M insert offset can collide with a %13==0 delete
    * key at ts=2, so the window carries a deterministic secondary sort
    * on `op` (D < I < U lexically) mirrored in the oracle SQL — the
    * winner is pinned either way, never left to partition order. */
  def latestOps(ops: DataFrame, key: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    ops.withColumn("rk", row_number().over(
        Window.partitionBy(key).orderBy(col("ts").desc, col("op"))))
      .filter(col("rk") === 1)
  }

  /** The shared u03/u04 fingerprint rollup: per-(status, priority)
    * count + DECIMAL checksum — a wrong winner, a surviving deleted
    * row or a dropped untouched row moves a count or checksum. */
  private def cdcRollup(finalState: DataFrame): DataFrame =
    finalState
      .groupBy("o_orderstatus", "o_orderpriority")
      .agg(count(lit(1)).as("n"),
        sum(dec(col("o_totalprice"))).cast(DoubleType).as("total"))
      .orderBy("o_orderstatus", "o_orderpriority")

  val oracle: Map[String, String] = Map(
    "u01_upsert_merge" -> """
      WITH updates AS (
        SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus,
               o_totalprice + 1000.0 AS o_totalprice, o_orderdate,
               '0-MERGED' AS o_orderpriority
        FROM orders
        WHERE o_orderstatus = 'O' AND EXTRACT(YEAR FROM o_orderdate) = 1998),
      inserts AS (
        SELECT o_orderkey + 10000000 AS o_orderkey, o_custkey,
               'N' AS o_orderstatus, o_totalprice, o_orderdate,
               '9-NEW' AS o_orderpriority
        FROM orders WHERE o_orderkey % 97 = 0),
      src AS (SELECT * FROM updates UNION ALL SELECT * FROM inserts),
      merged AS (
        SELECT COALESCE(s.o_orderstatus, t.o_orderstatus) AS o_orderstatus,
               COALESCE(s.o_totalprice, t.o_totalprice) AS o_totalprice,
               COALESCE(s.o_orderpriority, t.o_orderpriority) AS o_orderpriority
        FROM orders t FULL OUTER JOIN src s ON t.o_orderkey = s.o_orderkey)
      SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
      FROM merged GROUP BY 1, 2 ORDER BY 1, 2""",

    "u02_scd2_history" -> """
      WITH cdc AS (
        SELECT o_orderkey, o_totalprice + 1000.0 AS o_totalprice
        FROM orders
        WHERE o_orderstatus = 'O' AND EXTRACT(YEAR FROM o_orderdate) = 1998)
      SELECT o.o_orderkey, o.o_totalprice, o.o_orderdate AS valid_from,
        CASE WHEN c.o_orderkey IS NOT NULL
          THEN TIMESTAMP '1998-12-31 00:00:00' END AS valid_to,
        CAST(CASE WHEN c.o_orderkey IS NOT NULL THEN 0 ELSE 1 END AS BIGINT)
          AS is_current
      FROM orders o LEFT JOIN cdc c ON o.o_orderkey = c.o_orderkey
      UNION ALL
      SELECT o_orderkey, o_totalprice,
        TIMESTAMP '1998-12-31 00:00:00' AS valid_from,
        NULL AS valid_to, CAST(1 AS BIGINT) AS is_current
      FROM cdc
      ORDER BY o_orderkey, is_current""",

    "u03_cdc_apply" -> """
      WITH ops AS (
        SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
               o_orderdate, o_orderpriority, 'D' AS op, 2 AS ts
        FROM orders WHERE o_orderkey % 13 = 0
        UNION ALL
        SELECT o_orderkey, o_custkey, 'X', o_totalprice + 100000.0,
               o_orderdate, 'X-STALE', 'U', 1
        FROM orders WHERE o_orderkey % 26 = 0
        UNION ALL
        SELECT o_orderkey, o_custkey, 'U', o_totalprice + 500.0,
               o_orderdate, '1-CDC', 'U', 2
        FROM orders WHERE o_orderkey % 13 = 1
        UNION ALL
        SELECT o_orderkey, o_custkey, 'X', o_totalprice + 100000.0,
               o_orderdate, 'X-STALE', 'U', 1
        FROM orders WHERE o_orderkey % 26 = 1
        UNION ALL
        SELECT o_orderkey + 20000000, o_custkey, 'N', o_totalprice,
               o_orderdate, '9-NEW', 'I', 2
        FROM orders WHERE o_orderkey % 97 = 0),
      latest AS (
        SELECT * FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderkey
            ORDER BY ts DESC, op) AS rk FROM ops)
        WHERE rk = 1),
      final AS (
        SELECT o.o_orderstatus, o.o_orderpriority, o.o_totalprice
        FROM orders o LEFT JOIN latest l ON o.o_orderkey = l.o_orderkey
        WHERE l.o_orderkey IS NULL
        UNION ALL
        SELECT o_orderstatus, o_orderpriority, o_totalprice
        FROM latest WHERE op <> 'D')
      SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
      FROM final GROUP BY 1, 2 ORDER BY 1, 2""",

    // u04 = u03 applied via shard-disjoint micro-batches through the
    // snapshot log; key-disjoint shards commute, so the final state is
    // IDENTICAL to the single-batch apply and the oracle is the same
    // query verbatim.
    "u04_cdc_stream_apply" -> """
      WITH ops AS (
        SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
               o_orderdate, o_orderpriority, 'D' AS op, 2 AS ts
        FROM orders WHERE o_orderkey % 13 = 0
        UNION ALL
        SELECT o_orderkey, o_custkey, 'X', o_totalprice + 100000.0,
               o_orderdate, 'X-STALE', 'U', 1
        FROM orders WHERE o_orderkey % 26 = 0
        UNION ALL
        SELECT o_orderkey, o_custkey, 'U', o_totalprice + 500.0,
               o_orderdate, '1-CDC', 'U', 2
        FROM orders WHERE o_orderkey % 13 = 1
        UNION ALL
        SELECT o_orderkey, o_custkey, 'X', o_totalprice + 100000.0,
               o_orderdate, 'X-STALE', 'U', 1
        FROM orders WHERE o_orderkey % 26 = 1
        UNION ALL
        SELECT o_orderkey + 20000000, o_custkey, 'N', o_totalprice,
               o_orderdate, '9-NEW', 'I', 2
        FROM orders WHERE o_orderkey % 97 = 0),
      latest AS (
        SELECT * FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderkey
            ORDER BY ts DESC, op) AS rk FROM ops)
        WHERE rk = 1),
      final AS (
        SELECT o.o_orderstatus, o.o_orderpriority, o.o_totalprice
        FROM orders o LEFT JOIN latest l ON o.o_orderkey = l.o_orderkey
        WHERE l.o_orderkey IS NULL
        UNION ALL
        SELECT o_orderstatus, o_orderpriority, o_totalprice
        FROM latest WHERE op <> 'D')
      SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
      FROM final GROUP BY 1, 2 ORDER BY 1, 2""",

    // u05: survivors = every order of every non-erased customer;
    // erased_ok is the pinned structural constant (one manifest,
    // zero orphans after the expire)
    "u05_gdpr_erase" -> """
      SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total,
        CAST(1 AS BIGINT) AS erased_ok
      FROM orders WHERE o_custkey % 50 <> 0
      GROUP BY 1, 2 ORDER BY 1, 2""",

    // u07: final-state replay of the two sequential applies. Batch 1
    // (ts=2) overrides batch 0 (ts=1) wherever keys overlap (% 17 AND
    // % 23), both price deltas are against the ORIGINAL row (CDC ops
    // carry full images, not increments), and o_channel is NULL on
    // every row batch 1 did not touch — the null-fill the evolving
    // merge guarantees. evolved_ok replays as the pinned structural
    // constant. NULLS FIRST matches Spark's ascending default.
    "u07_evolving_merge" -> """
      WITH final AS (
        SELECT o_orderstatus, o_totalprice,
               CAST(NULL AS VARCHAR) AS o_channel
        FROM orders WHERE o_orderkey % 17 <> 0 AND o_orderkey % 23 <> 0
        UNION ALL
        SELECT 'R', o_totalprice + 500.0, CAST(NULL AS VARCHAR)
        FROM orders WHERE o_orderkey % 17 = 0 AND o_orderkey % 23 <> 0
        UNION ALL
        SELECT 'E', o_totalprice + 700.0,
          CASE WHEN o_orderkey % 2 = 0 THEN 'WEB' ELSE 'STORE' END
        FROM orders WHERE o_orderkey % 23 = 0
        UNION ALL
        SELECT 'N', o_totalprice,
          CASE WHEN (o_orderkey + 30000000) % 2 = 0
               THEN 'WEB' ELSE 'STORE' END
        FROM orders WHERE o_orderkey % 89 = 0)
      SELECT o_orderstatus, o_channel, COUNT(*) AS n,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total,
        CAST(1 AS BIGINT) AS evolved_ok
      FROM final GROUP BY 1, 2
      ORDER BY o_orderstatus ASC NULLS FIRST, o_channel ASC NULLS FIRST""",

    // u08: survivors = rows in neither delete set (key % 7 and the
    // custkey-derived set overlap — dedup is the anti-join's job);
    // mor_ok replays as the pinned structural constant
    "u08_mor_delete" -> """
      SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total,
        CAST(1 AS BIGINT) AS mor_ok
      FROM orders
      WHERE o_orderkey % 7 <> 0 AND o_custkey % 31 <> 0
      GROUP BY 1, 2 ORDER BY 1, 2""",

    // u09: survivors = everything outside the % 21 doomed set (the
    // three key-disjoint micro-batches union to exactly it; the
    // replayed batch committed nothing); stream_ok replays as the
    // pinned lifecycle constant
    "u09_mor_delete_stream" -> """
      SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total,
        CAST(1 AS BIGINT) AS stream_ok
      FROM orders WHERE o_orderkey % 21 <> 0
      GROUP BY 1, 2 ORDER BY 1, 2""",

    // u10: the three-way interleave replayed by sequence: any mutated
    // key (%11 ∪ %44) loses its base row; the newest mutation wins —
    // U2 for %44 (re-inserting the %132 deletions), gone for %33\%44,
    // U1 for the rest of %11; %199 +40M rows are fresh upserts;
    // mor_upd_ok replays as the pinned lifecycle constant
    "u10_mor_update" -> """
      WITH final AS (
        SELECT o_orderstatus, o_totalprice, o_orderpriority FROM orders
        WHERE o_orderkey % 11 <> 0 AND o_orderkey % 44 <> 0
        UNION ALL
        SELECT 'U2', o_totalprice + 200.0, '2-MOR-UPD'
        FROM orders WHERE o_orderkey % 44 = 0
        UNION ALL
        SELECT 'U1', o_totalprice + 100.0, '1-MOR-UPD'
        FROM orders WHERE o_orderkey % 11 = 0
          AND o_orderkey % 33 <> 0 AND o_orderkey % 44 <> 0
        UNION ALL
        SELECT 'N2', o_totalprice, '9-NEW-MOR'
        FROM orders WHERE o_orderkey % 199 = 0)
      SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total,
        CAST(1 AS BIGINT) AS mor_upd_ok
      FROM final GROUP BY 1, 2 ORDER BY 1, 2""",

    // u11: sequence-algebra replay in CASE form. Survivors = NOT %27
    // (the seq-4 delete; the seq-5 patch never resurrects). Status:
    // the %12 patch (seq 5) beats the %18 update (seq 3) beats base.
    // Price: only the full update touches it. Priority: patch2 (%12)
    // > update (%18) > patch1 (%9, applies only where no update
    // masked it — %9∧¬%18) > base. patch_ok replays as the pinned
    // lifecycle constant.
    "u11_patch_columns" -> """
      WITH f AS (
        SELECT o_orderkey,
          CASE WHEN o_orderkey % 12 = 0 THEN 'P2'
               WHEN o_orderkey % 18 = 0 THEN 'PU'
               ELSE o_orderstatus END AS o_orderstatus,
          CASE WHEN o_orderkey % 18 = 0 THEN o_totalprice + 300.0
               ELSE o_totalprice END AS o_totalprice,
          CASE WHEN o_orderkey % 12 = 0 THEN '5-PATCH2'
               WHEN o_orderkey % 18 = 0 THEN '3-UPD'
               WHEN o_orderkey % 9 = 0 THEN '1-PATCH'
               ELSE o_orderpriority END AS o_orderpriority
        FROM orders WHERE o_orderkey % 27 <> 0)
      SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total,
        CAST(1 AS BIGINT) AS patch_ok
      FROM f GROUP BY 1, 2 ORDER BY 1, 2"""
  )
}
