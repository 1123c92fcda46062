package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.SnapshotLog
import graft.operators.Upsert

/** Streaming CDC apply — u03's latest-op-wins collapse run per
  * micro-batch against a persisted, snapshot-logged target: the
  * `foreachBatch → MERGE → commit` loop every Delta/Iceberg CDC
  * pipeline runs (the reference only ever appends,
  * `/root/reference/src/main.rs:146`). Composes the two round-10
  * pieces: [[Upsert.latestOps]] for the in-batch collapse and
  * [[SnapshotLog]] for atomic, versioned, exactly-once publication.
  *
  * The apply is the Delta-MERGE file-level shape, not a table rewrite:
  *   1. collapse the batch (window over the SMALL batch only);
  *   2. find the target files that contain an affected key — one scan
  *     of the key column with a broadcast semi-join, grouped by
  *     `_metadata.file_path` (the key column is the only column read,
  *     and at 100 TB zone maps i11 would shortcut this to a manifest
  *     lookup);
  *   3. rewrite ONLY those files (broadcast anti-join removes old
  *     versions of affected keys, non-delete ops union in);
  *   4. commit a manifest = untouched files (carried over verbatim,
  *     zero IO) + the rewritten files, with the optimistic
  *     expected-parent check.
  * Per-batch cost is O(batch + touched files), never O(table) — a
  * 1000-key CDC batch against a 100 TB table rewrites a few files.
  *
  * Exactly-once across restarts is layered: Structured Streaming's
  * checkpoint skips fully-committed batches, and for the
  * crash-between-sink-and-checkpoint window each commit records its
  * `batchId` in the manifest op — a replayed batch finds its op
  * already committed and no-ops (the Delta `txn` appId/version
  * idempotence pattern). */
object CdcStream {

  /** Load the initial target state as snapshot v1. When `key` is
    * given the base is laid out CLUSTERED BY the key
    * (repartitionByRange — the OPTIMIZE-ZORDER-BY-merge-key advice:
    * disjoint per-file key ranges are what make range stats prune)
    * and per-file key-range stats are written alongside the commit so
    * the FIRST apply already prunes (the stats-on-commit pattern). */
  def seedTarget(s: SparkSession, table: String, data: DataFrame,
      key: String = null): Long = {
    val dir = s"$table/data/base"
    val shaped =
      if (key == null) data.repartition(4)
      else data.repartitionByRange(4, col(key))
    shaped.write.mode("overwrite").parquet(dir)
    val files = SnapshotLog.dataFiles(s, dir)
    val stats =
      if (key == null) Map.empty[String, (Long, Long)]
      else SnapshotLog.fileStats(s, files.map(_._1), key)
    // persist the table schema in the manifest (the Delta pattern):
    // every later rewrite projects to it, so an evolveSchema widen
    // sticks even when a later batch never passes the flag
    SnapshotLog.commit(s, table, "base-load", files, Some(0L), stats,
      schema = Some(shaped.schema.json))
  }

  // -----------------------------------------------------------------
  // Commit-time per-file KEY-RANGE stats — the Iceberg manifest-stats
  // / Delta Add.stats pattern applied to the CDC key: each snapshot
  // version carries per-file [min, max] of the key IN ITS MANIFEST
  // (the `s:` lines of SnapshotLog.Manifest — the i23 scan-planning
  // machinery), maintained INCREMENTALLY (untouched files carry their
  // stats forward; only freshly-written files are scanned —
  // O(touched) per batch). Touched-file discovery then probes the
  // batch's key set against the ranges driver-side and key-scans only
  // the CANDIDATE files, closing the "at 100 TB zone maps would
  // shortcut this" note: per-batch cost drops from O(table key
  // column) to O(candidate files). Stats are advisory — a stats-less
  // manifest (older table, statless seed) or an unlisted file falls
  // back to the full key scan, bit-identical results either way
  // (StreamingSpec pins parity + that pruning actually bites). Riding
  // the manifest removes the failure surface a separate sidecar had:
  // stats land ATOMICALLY with the file list (a torn manifest is an
  // invisible version — there is no state where the files committed
  // but their stats tore), expire reclaims them for free, and
  // inverted ranges are rejected at commit time by SnapshotLog.
  // -----------------------------------------------------------------

  private def fsOf(s: SparkSession) =
    org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)

  /** Any of the sorted `keys` inside [mn, mx]? Binary search for the
    * first key ≥ mn. */
  private def anyKeyIn(keys: Array[Long], mn: Long, mx: Long): Boolean = {
    var lo = 0; var hi = keys.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (keys(mid) < mn) lo = mid + 1 else hi = mid
    }
    lo < keys.length && keys(lo) <= mx
  }

  /** Small-batch bound for driver-side key collection: a CDC batch is
    * small by definition; past this we fall back to the full scan
    * rather than hold an unbounded key set on the driver. */
  private val MaxPruneKeys = 100000L

  private def opName(appId: String, batchId: Long) = s"$appId-batch-$batchId"

  // -----------------------------------------------------------------
  // Transaction sidecar — the Delta `txn` (appId, version) pattern,
  // INCLUDING the appId half: `$table/_txn/<appId>` records the
  // highest batchId APPLIED BY THAT STREAM and the snapshot version
  // its commit landed as, replaced atomically (temp + rename, `end`
  // sentinel) after every successful apply. Structured Streaming
  // batchIds are monotonic PER CHECKPOINT, so "already applied" is
  // ONE sidecar read: batchId <= lastApplied — but only per stream:
  // an upsert stream and a delete stream on the same table each start
  // their checkpoints at batchId 0, and a shared sidecar would make
  // each skip the other's batchIds as already-applied (exactly why
  // Delta keys txn on (appId, version)). The appId is folded into the
  // commit op string too, so the crash-window manifest probe below
  // distinguishes streams the same way. The round-10 probe instead
  // re-parsed EVERY manifest (1..current) per micro-batch — O(table
  // history) metadata reads that a long-lived CDC table (10^5
  // commits) pays on every batch, and which silently broke once
  // expire() deleted an old cdc-batch-N manifest. Sidecars live
  // OUTSIDE `_log`, so expire never touches them; the only manifests
  // ever probed are the handful newer than the sidecar's version (the
  // crash-window heal below), which are exactly the ones expire
  // retains.
  // -----------------------------------------------------------------

  private def txnPath(table: String, appId: String) = {
    require(appId.nonEmpty && appId.forall(c =>
      c.isLetterOrDigit || c == '-' || c == '_'),
      s"appId must be a simple token (path + op-string safe): $appId")
    new org.apache.hadoop.fs.Path(s"$table/_txn/$appId")
  }

  private def readTxn(s: SparkSession, table: String,
      appId: String): Option[(Long, Long)] = {
    val fs = fsOf(s); val p = txnPath(table, appId)
    if (!fs.exists(p)) return None
    scala.util.Try {
      val in = fs.open(p)
      val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      val lines = text.split("\n").filter(_.nonEmpty)
      require(lines.length == 2 && lines(1) == "end", "torn txn sidecar")
      val Array(id, ver) = lines(0).split("\t", 2)
      (id.toLong, ver.toLong)
    }.toOption
  }

  private def writeTxn(s: SparkSession, table: String, appId: String,
      batchId: Long, v: Long): Unit = {
    val fs = fsOf(s)
    val dst = txnPath(table, appId)
    fs.mkdirs(dst.getParent)
    val tmp = new org.apache.hadoop.fs.Path(
      dst.getParent, s".$appId.tmp-${java.util.UUID.randomUUID}")
    val out = fs.create(tmp, false)
    try out.write(s"$batchId\t$v\nend".getBytes("UTF-8")) finally out.close()
    fs.delete(dst, false)
    if (!fs.rename(tmp, dst)) fs.delete(tmp, false)
  }

  /** Already applied BY THIS STREAM? O(1) in steady state: one
    * sidecar read. The crash window (commit landed, sidecar write
    * lost) is healed by probing ONLY the manifests newer than the
    * sidecar's version — normally zero of them, a handful if
    * compactors committed in between. A missing/torn sidecar degrades
    * to the full-history probe (legacy tables, first batch), never to
    * a wrong answer. Returns the answer with the number of manifests
    * the probe read (version discovery not counted). */
  private def alreadyApplied(s: SparkSession, table: String, appId: String,
      batchId: Long): (Boolean, Int) = {
    val from = readTxn(s, table, appId) match {
      case Some((lastId, _)) if batchId <= lastId => return (true, 0)
      case Some((_, lastVer)) => lastVer + 1
      case None => 1L
    }
    var reads = 0
    val hit = (from to SnapshotLog.currentVersion(s, table)).find { v =>
      reads += 1
      SnapshotLog.readManifest(s, table, v).exists(_.op == opName(appId, batchId))
    }
    hit.foreach(v => writeTxn(s, table, appId, batchId, v)) // heal
    (hit.isDefined, reads)
  }

  /** The mutation files among `entries` that contain one of the
    * batch's keys, carried forward MINUS those keys: the batch is the
    * newest authority on every key it names, so a pending delete or
    * update for a batch key must not outlive this commit (a carried
    * delete would mask the batch's fresh insert; a carried update
    * would override it). Files WITHOUT batch keys carry verbatim
    * (zero IO); hit files are rewritten in ONE job partitioned by
    * their manifest sequence, which each remainder KEEPS — relative
    * order against every other pending mutation is what makes the
    * latest-wins collapse correct, so a carry must never re-sequence.
    * Cost: one key-column scan of the (small) mutation state + one
    * tiny write — O(mutation state), never O(table). A batch on a
    * mutation-carrying table pays up to four small scans of that
    * state per trigger (mutationKeys + two hits-scans + the hit-file
    * rewrite) — accepted: the state is compaction-bounded and each
    * scan is a few small files; folding them into one keyed scan
    * would complicate the carry's per-file sequence preservation. */
  private def carryMutations(s: SparkSession, table: String,
      m: SnapshotLog.Manifest, entries: Seq[(String, Long)],
      key: String, batchKeys: DataFrame,
      outDir: String): (Seq[(String, Long)], Map[String, Long]) = {
    if (entries.isEmpty) return (Nil, Map.empty)
    // only the key column is probed: an explicit one-field schema
    // (type from the batch's own key column) null-fills per file like
    // mergeSchema did, without the footer-union job over the entries
    val keyOnly = org.apache.spark.sql.types.StructType(Seq(
      batchKeys.schema(batchKeys.schema.fieldIndex(key))))
    val hits = s.read.schema(keyOnly)
      .parquet(entries.map(_._1): _*)
      .select(col(key), col("_metadata.file_path").as("__f"))
      .join(broadcast(batchKeys), Seq(key), "left_semi")
      .select("__f").distinct().collect() // bounded by mutation-file count
      .map(r => new org.apache.hadoop.fs.Path(r.getString(0)).toUri.getPath)
      .toSet
    val kept = entries.filterNot(e => hits(e._1))
    val keptSeqs = kept.flatMap { case (p, _) => m.seqs.get(p).map(p -> _) }
    if (hits.isEmpty) return (kept, keptSeqs.toMap)
    val hitEntries = entries.filter(e => hits(e._1))
    hitEntries.map { case (p, _) =>
      // per-file footer-metadata schema (zero-job) — each file keeps
      // its OWN column set for the allowMissingColumns union
      SnapshotLog.readFile(s, p)
        .withColumn("__seq", lit(m.seqs.getOrElse(p, 0L)))
    }.reduce(_.unionByName(_, allowMissingColumns = true))
      .join(broadcast(batchKeys), Seq(key), "left_anti")
      .write.mode("overwrite").partitionBy("__seq").parquet(outDir)
    val fs = fsOf(s)
    val rewritten = fs.listStatus(new org.apache.hadoop.fs.Path(outDir))
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("__seq="))
      .toSeq.flatMap { st =>
        val seq = st.getPath.getName.drop("__seq=".length).toLong
        SnapshotLog.dataFiles(s, st.getPath.toUri.getPath)
          .map { case (p, l) => (p, l, seq) }
      }
    (kept ++ rewritten.map(r => (r._1, r._2)),
      keptSeqs.toMap ++ rewritten.filter(_._3 >= 1)
        .map(r => r._1 -> r._3).toMap)
  }

  /** What one [[applyBatch]] did: the committed `version` (-1 when
    * the batch was already applied or empty), the manifests its
    * idempotence probe read, and the data files its touched-file
    * discovery key-scanned. */
  final case class Applied(version: Long, probeReads: Int, scanFiles: Int)

  /** Apply one CDC micro-batch to the snapshot table. Idempotent on
    * `batchId` (monotonic per Structured Streaming checkpoint — the
    * Delta txn contract): a replayed batch (restart after a crash
    * between the sink commit and the checkpoint commit) is detected
    * by the txn sidecar — O(1) reads regardless of table history —
    * and skipped. Returns an [[Applied]]: the committed version, or
    * -1 when the batch was already applied or empty, with the
    * probe's manifest reads and the discovery's scan-file count.
    *
    * `evolveSchema = true` is the Delta `mergeSchema`/autoMerge MERGE
    * path: a batch carrying columns the target lacks WIDENS the table
    * — rewritten files get the union schema (survivor rows null-fill
    * the new columns), UNTOUCHED files are carried verbatim in their
    * old schema (zero IO — the lakehouse evolution contract), and
    * readers union the file schemas via `readAt(mergeSchema = true)`,
    * the i17 read path. Default false preserves the strict contract:
    * unknown batch columns are dropped, the target schema is law. */
  def applyBatch(s: SparkSession, table: String, batch: DataFrame,
      batchId: Long, key: String, evolveSchema: Boolean = false,
      appId: String = "cdc"): Applied = {
    val (applied, probeReads) = alreadyApplied(s, table, appId, batchId)
    if (applied) return Applied(-1L, probeReads, 0)
    val latest = Upsert.latestOps(batch, key).cache()
    try {
      if (latest.isEmpty) return Applied(-1L, probeReads, 0)
      val cur = SnapshotLog.currentVersion(s, table)
      val m = SnapshotLog.readManifest(s, table, cur).getOrElse(
        throw new IllegalStateException(s"CDC apply against unseeded $table"))
      // partial-column patches are NOT carried by this path: the
      // rewrite below folds mutation keys out of touched files, but a
      // patch's per-column overlay cannot be carried forward per-file
      // without re-deriving which columns each survivor row still
      // owes — refuse loudly; compactMor folds patches in first (the
      // patch→compact→CDC maintenance ordering)
      require(m.patches.isEmpty,
        s"CDC apply against a patch-carrying snapshot of $table — run " +
          "compactMor first")
      // the manifest-persisted schema (when present) is the
      // authoritative column set — an evolveSchema widen recorded by
      // an earlier batch survives every later batch that never passes
      // the flag (the Delta persist-schema-in-log contract); legacy
      // tables without one fall back to the read schema
      val persisted: Option[org.apache.spark.sql.types.StructType] =
        m.schema.map(js => org.apache.spark.sql.types.DataType.fromJson(js)
          .asInstanceOf[org.apache.spark.sql.types.StructType])
      // ALWAYS a mergeSchema read: on a legacy schema-less table that
      // was evolved by an older build, a single-footer read samples
      // an arbitrary file — a pre-evolution footer would narrow
      // `cols`, and this apply then PERSISTS that narrow schema as
      // authoritative, projecting the evolved column away forever.
      // The footer-union is the only safe source when no schema line
      // exists; cost is bounded by the manifest's file count.
      val target = SnapshotLog.readAt(s, table, cur, mergeSchema = true)
      val baseCols: Array[String] =
        persisted.map(_.fieldNames).getOrElse(target.columns)
      val newCols =
        if (!evolveSchema) Array.empty[String]
        else batch.columns.filterNot(c => c == "op" || c == "ts")
          .filterNot(baseCols.contains)
      val cols = baseCols ++ newCols
      // column type: persisted schema first, then the current read,
      // then the batch (the only source for a brand-new column)
      def typeOf(c: String): org.apache.spark.sql.types.DataType =
        persisted.filter(_.fieldNames.contains(c)).map(_(c).dataType)
          .orElse(if (target.columns.contains(c))
            Some(target.schema(c).dataType) else None)
          .getOrElse(batch.schema(c).dataType)
      // project any frame to the table's column set, null-filling
      // columns the frame predates (survivor rows from old files, or
      // a strict-mode batch on an evolved table — full-row CDC
      // semantics: a column the batch doesn't carry is null)
      def projectTo(df: DataFrame): DataFrame =
        df.select(cols.toSeq.map(c =>
          if (df.columns.contains(c)) col(c)
          else lit(null).cast(typeOf(c)).as(c)): _*)

      // files containing an affected key. With manifest-carried stats
      // the batch's (small, sorted) key set probes each file's
      // [min, max] driver-side and only CANDIDATE files get the
      // key-column scan; without them (or past the small-batch bound)
      // every file does — same result, full cost. file_path is
      // normalized (scheme-qualified → plain) driver-side; all driver
      // state here is bounded by file count / batch keys.
      // null keys are excluded from the probe set by construction:
      // they never join (semi/anti joins on NULL match nothing), so no
      // file "contains" them for discovery purposes — a null-key
      // insert simply appends. A key value the Long cast CANNOT
      // represent (cast → null on a non-null key) means the range
      // probe is meaningless: fall back to the full scan instead of
      // silently mis-pruning (the old path NPE'd on getLong).
      val stats = if (m.stats.nonEmpty) Some(m.stats) else None
      val batchKeys: Option[Array[Long]] =
        if (stats.isEmpty) None
        else {
          val rows = latest.where(col(key).isNotNull)
            .select(col(key).cast(
              org.apache.spark.sql.types.LongType)).distinct()
            .limit((MaxPruneKeys + 1).toInt).collect()
          if (rows.exists(_.isNullAt(0))) None // non-castable key values
          else {
            val ks = rows.map(_.getLong(0))
            if (ks.length > MaxPruneKeys) None else Some(ks.sorted)
          }
        }
      val candidates: Seq[String] = (stats, batchKeys) match {
        case (Some(st), Some(ks)) => m.files.map(_._1).filter { f =>
          st.get(f) match {
            case Some((mn, mx)) => anyKeyIn(ks, mn, mx)
            case None => true // unlisted file — cannot prune it
          }
        }
        case _ => m.files.map(_._1)
      }
      // key-only explicit schema: the probe consumes nothing else, and
      // the inferring read would pay a schema job per batch
      val probeSchema = org.apache.spark.sql.types.StructType(
        Seq(org.apache.spark.sql.types.StructField(key, typeOf(key))))
      val touched =
        if (candidates.isEmpty) Set.empty[String]
        else s.read.schema(probeSchema).parquet(candidates: _*)
          .select(col(key), col("_metadata.file_path").as("__f"))
          .join(broadcast(latest.select(key)), Seq(key), "left_semi")
          .select("__f").distinct().collect()
          .map(r => new org.apache.hadoop.fs.Path(r.getString(0)).toUri.getPath)
          .toSet
      val (touchedFiles, untouched) = m.files.partition(f => touched(f._1))

      // pending MOR mutation keys (equality deletes + updates): their
      // data rows are dead by definition (any mutation masks the
      // key's data row; live state is the winning mutation), so the
      // rewrite drops them — a free mini-compaction, and the
      // resurrection guard: a rewritten file must never re-expose a
      // MOR-deleted survivor row
      val mutationKeys: Option[DataFrame] = {
        // only the key column is consumed: read it with an explicit
        // one-field schema (per-file null-fill like mergeSchema, no
        // footer-union job over the update files)
        val keyOnly = org.apache.spark.sql.types.StructType(
          Seq(org.apache.spark.sql.types.StructField(key, typeOf(key))))
        val parts =
          (if (m.deletes.isEmpty) Nil
           else Seq(s.read.schema(keyOnly)
             .parquet(m.deletes.map(_._1): _*)
             .select(col(key)))) ++
          (if (m.updates.isEmpty) Nil
           else Seq(s.read.schema(keyOnly)
             .parquet(m.updates.map(_._1): _*).select(col(key))))
        if (parts.isEmpty) None else Some(parts.reduce(_.unionByName(_)).distinct())
      }

      // rewrite only the touched files: survivors (anti-join the
      // broadcast batch-key set, then the broadcast mutation-key set)
      // + applied non-delete ops
      val touchedScan = // persisted schema when the log carries one
        // (same per-file null-fill as mergeSchema, no footer-union
        // job — readAt's r15 rationale); footer merge for legacy
        // schema-less tables, same rationale as target
        if (touchedFiles.isEmpty) target.limit(0)
        else persisted match {
          case Some(st) => s.read.schema(st)
            .parquet(touchedFiles.map(_._1): _*)
          case None => s.read.option("mergeSchema", "true")
            .parquet(touchedFiles.map(_._1): _*)
        }
      val survivorBase = touchedScan
        .join(broadcast(latest.select(key)), Seq(key), "left_anti")
      val survivors = mutationKeys.fold(survivorBase)(mk =>
        survivorBase.join(broadcast(mk), Seq(key), "left_anti"))
      val rewritten = projectTo(survivors)
        .unionByName(projectTo(latest.filter(col("op") =!= "D")))
      // output parallelism ∝ files being replaced: a batch that
      // touches k files writes ~k files back (collapsing to 1 would
      // funnel a multi-GB rewrite through one task at scale; growing
      // the count would fragment the layout — compaction's job)
      val dir = s"$table/data/${opName(appId, batchId)}"
      rewritten.repartition(math.max(1, touchedFiles.size))
        .write.mode("overwrite").parquet(dir)
      val newFiles = SnapshotLog.dataFiles(s, dir)
      // incremental stats-on-commit: untouched files carry their old
      // ranges, only the freshly-written files are scanned — O(touched)
      // per batch. Healing path: with no prior stats, one full scan
      // seeds them so every later batch prunes. Set membership, not
      // a linear scan per entry: at ~100k files the quadratic form
      // was ~10^10 driver comparisons per micro-batch. Stats ride the
      // manifest commit itself — atomic with the file list, never a
      // separately-torn sidecar.
      val untouchedSet = untouched.iterator.map(_._1).toSet
      val carried = stats.map(_.filter { case (f, _) => untouchedSet(f) })
      val newStats = carried match {
        case Some(old) => old ++ SnapshotLog.fileStats(s, newFiles.map(_._1), key)
        case None => SnapshotLog.fileStats(s,
          (untouched ++ newFiles).map(_._1), key)
      }
      // ndv blobs follow the same carry rule as stats: untouched
      // files keep theirs, rewritten files' blobs are dropped (they
      // describe dead files; no recompute here — the sketched column
      // may differ from the CDC key). Coverage-sensitive consumers
      // check blobs-per-file like i25's gate does.
      val carriedNdv = m.ndv.filter { case (f, _) => untouchedSet(f) }
      // pending MOR mutation files carry forward MINUS the batch's
      // keys (the batch supersedes them), sequences preserved — a
      // dropped delete file would resurrect MOR-deleted rows still
      // physically present in untouched data files; a carried delete
      // for a batch key would mask the batch's fresh insert
      val batchKeyDf = latest.select(key)
      val (carriedDel, delSeqs) = carryMutations(s, table, m, m.deletes,
        key, batchKeyDf, s"$table/data/deletes/${opName(appId, batchId)}-carry")
      val (carriedUpd, updSeqs) = carryMutations(s, table, m, m.updates,
        key, batchKeyDf, s"$table/data/updates/${opName(appId, batchId)}-carry")
      val outSchema = org.apache.spark.sql.types.StructType(
        cols.toSeq.map(c => org.apache.spark.sql.types.StructField(
          c, typeOf(c), nullable = true)))
      val v = SnapshotLog.commit(s, table, opName(appId, batchId),
        untouched ++ newFiles, Some(cur), newStats,
        deletes = carriedDel, ndv = carriedNdv, updates = carriedUpd,
        seqs = delSeqs ++ updSeqs, schema = Some(outSchema.json))
      // record the applied batchId IMMEDIATELY after the commit (the
      // idempotence guard)
      writeTxn(s, table, appId, batchId, v)
      Applied(v, probeReads, candidates.size)
    } finally latest.unpersist()
  }

  /** Wire a CDC ops stream into the apply loop: one snapshot commit
    * per micro-batch. Caller owns start()/awaitTermination. `appId`
    * must be unique per (table, checkpoint) pair — two streams
    * sharing one appId would skip each other's batchIds. */
  def applyStream(s: SparkSession, table: String, ops: DataFrame,
      key: String, checkpoint: String, appId: String = "cdc") =
    ops.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        applyBatch(s, table, batch, id, key, appId = appId); ()
      }

  /** Streaming MERGE-ON-READ delete: one equality-delete commit per
    * micro-batch — O(batch keys) and ZERO data-file rewrites, where
    * [[applyBatch]] with 'D' ops rewrites every touched file. The
    * retraction-feed shape (GDPR trickle, account closures): deletes
    * accumulate as `d:` files that [[SnapshotLog.readMor]] anti-joins
    * at scan time and [[SnapshotLog.compactMor]] folds in on the
    * maintenance cadence. Guarded by the SAME txn sidecar as
    * applyBatch (the commit op IS the batch marker), so a batch
    * replayed past the checkpoint commits nothing — no duplicate
    * delete file, no second version. Returns the committed version or
    * -1 when already applied. */
  /** MIGRATION NOTE: tables written before the per-stream appId
    * namespacing committed delete batches as op `cdc-batch-N` with
    * the shared `_txn/last` sidecar; this build's default probe
    * (`cdc-del-batch-N`, `_txn/cdc-del`) will NOT recognize those as
    * already-applied across the upgrade — a crash-window replay on
    * such a table re-commits the delete. That replay is NOT benign if
    * other writers ran in between: the re-committed delete file gets
    * a fresh, HIGHER sequence (cur+1), so an update that re-inserted
    * one of those keys between the original delete and the replay is
    * now retracted by the stale delete — latest-wins inverts, a real
    * correctness loss (only a table that saw no interleaved
    * update/upsert on the replayed keys merely duplicates the
    * commit). Across the upgrade, either re-seed legacy tables or
    * pass `appId = "cdc"` to keep the old namespace; deliberately NOT
    * auto-probed, because the legacy namespace is exactly the
    * cross-stream ambiguity the appId exists to remove. */
  def deleteBatch(s: SparkSession, table: String, keys: DataFrame,
      batchId: Long, key: String, appId: String = "cdc-del"): Long = {
    if (alreadyApplied(s, table, appId, batchId)._1) return -1L
    val cur = SnapshotLog.currentVersion(s, table)
    val m = SnapshotLog.readManifest(s, table, cur).getOrElse(
      throw new IllegalStateException(s"MOR delete against unseeded $table"))
    // deterministic per-batch dir: a crash after the write but before
    // the commit leaves an orphan the retry simply overwrites
    val dir = s"$table/data/deletes/${opName(appId, batchId)}"
    keys.select(col(key)).where(col(key).isNotNull).distinct()
      .coalesce(1).write.mode("overwrite").parquet(dir)
    val df = SnapshotLog.dataFiles(s, dir)
    // data files untouched → stats, ndv blobs, pending updates and the
    // persisted schema all carry verbatim; the new delete file gets
    // the committing version as its sequence so it beats any earlier
    // update on the same key
    val v = SnapshotLog.commit(s, table, opName(appId, batchId), m.files,
      Some(cur), m.stats, m.deletes ++ df, m.ndv,
      updates = m.updates, seqs = m.seqs ++ df.map(_._1 -> SnapshotLog.nextSeq(m, cur)),
      schema = m.schema, patches = m.patches)
    writeTxn(s, table, appId, batchId, v)
    v
  }

  /** Wire a key-retraction stream into [[deleteBatch]]: one O(keys)
    * delete commit per micro-batch. Caller owns start()/await. The
    * default `appId` differs from [[applyStream]]'s, so an upsert
    * stream and a delete stream on ONE table (each checkpoint's
    * batchIds starting at 0) never skip each other's batches. */
  def deleteStream(s: SparkSession, table: String, keys: DataFrame,
      key: String, checkpoint: String, appId: String = "cdc-del") =
    keys.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        deleteBatch(s, table, batch, id, key, appId); ()
      }

  /** Wire a full-row update stream into [[SnapshotLog.updateMor]]:
    * one O(batch rows) update-file commit per micro-batch, ZERO
    * data-file rewrites — the update-heavy CDC shape (u10). Guarded by
    * the same per-appId txn sidecar as the other streams. Returns the
    * committed version or -1 when already applied.
    *
    * Intra-batch duplicate keys: pass the feed's ordering column(s)
    * as `orderBy` (a CDC ts / LSN) and the per-key collapse keeps the
    * LATEST row; without it the collapse is value-maximal over the
    * non-key struct — deterministic, but a feed with a real order
    * that neither passes `orderBy` nor pre-collapses upstream
    * silently keeps the lexicographically largest row, not the last
    * one. */
  def updateBatch(s: SparkSession, table: String, rows: DataFrame,
      batchId: Long, key: String, appId: String = "cdc-upd",
      orderBy: Seq[String] = Nil): Long = {
    if (alreadyApplied(s, table, appId, batchId)._1) return -1L
    val v = SnapshotLog.updateMorAs(s, table, rows, key,
      opName(appId, batchId), orderBy)
    writeTxn(s, table, appId, batchId, v)
    v
  }

  def updateStream(s: SparkSession, table: String, rows: DataFrame,
      key: String, checkpoint: String, appId: String = "cdc-upd",
      orderBy: Seq[String] = Nil) =
    rows.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        updateBatch(s, table, batch, id, key, appId, orderBy); ()
      }

  /** Wire a PARTIAL-COLUMN patch feed into [[SnapshotLog.patchMor]]:
    * one O(batch rows × patched columns) commit per micro-batch, ZERO
    * data-file rewrites — the column-sparse CDC shape (u11: the feed
    * knows only the changed columns, so a full-row updateBatch would
    * force a read-modify-write upstream). Same per-appId txn sidecar;
    * returns the committed version or -1 when already applied. */
  def patchBatch(s: SparkSession, table: String, rows: DataFrame,
      batchId: Long, key: String, appId: String = "cdc-patch"): Long = {
    if (alreadyApplied(s, table, appId, batchId)._1) return -1L
    val v = SnapshotLog.patchMor(s, table, rows, key, opName(appId, batchId))
    writeTxn(s, table, appId, batchId, v)
    v
  }

  def patchStream(s: SparkSession, table: String, rows: DataFrame,
      key: String, checkpoint: String, appId: String = "cdc-patch") =
    rows.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        patchBatch(s, table, batch, id, key, appId); ()
      }
}
