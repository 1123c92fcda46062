package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated TPC-H-ish fixture tables
  * (`/root/repo/TESTDATA.md`). One parquet file per table under
  * `\$sfDir/`. Schema is footer-inferred, mirroring the reference's
  * dynamic-schema stance (`/root/reference/src/main.rs:56`) — no
  * user-declared schemas anywhere.
  *
  * Scale notes: these are plain `spark.read.parquet` scans, so Catalyst
  * pushes filters/projections into the scan (`PushedFilters`/`ReadSchema`)
  * and partition planning follows `spark.sql.files.maxPartitionBytes` —
  * at 100 TB each table is a directory of many files and the same call
  * parallelizes across executors unchanged.
  */
object Tables {
  import org.apache.spark.sql.functions._
  import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

  /** Footer-INFERRED schema per fixture path, inferred once per JVM
    * and reused: Spark re-runs schema inference (a 1-task job, ~30 ms)
    * on EVERY `read.parquet` call, and the bench's draw protocol calls
    * each loader several times per query — ~40 of the 106 jobs in a
    * six-query family run were re-inference of the same immutable
    * footers (r15 eventlog). This caches METADATA ONLY (the schema the
    * first call inferred — the dynamic-schema stance stands; results
    * and data are never cached), keyed by path: fixture files are
    * immutable within a JVM's lifetime, and the scratch gen corpora
    * regenerate with identical schemas by construction. */
  private val inferredSchemas = new java.util.concurrent.ConcurrentHashMap[
    String, org.apache.spark.sql.types.StructType]()

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    val st = inferredSchemas.computeIfAbsent(path,
      p => spark.read.parquet(p).schema)
    spark.read.schema(st).parquet(path)
  }

  /** A graft-written scratch parquet DIRECTORY (persisted index /
    * state dirs), schema from the first data file's footer metadata —
    * driver-side IO instead of Spark's per-call 1-task inference job.
    * These dirs are schema-homogeneous by construction (each is one
    * write job's output, possibly appended with identically-shaped
    * shards); a foreign or metadata-less file falls back to the
    * inferring read, same result. NOT cached, unlike the fixture
    * schemas above: index dirs are rewritten between calls. */
  def parquetDir(spark: SparkSession, path: String): DataFrame = {
    val st = try {
      val fs = new org.apache.hadoop.fs.Path(path).getFileSystem(
        spark.sparkContext.hadoopConfiguration)
      fs.listStatus(new org.apache.hadoop.fs.Path(path)).iterator
        .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
        .take(1).toSeq.headOption.flatMap(f =>
          graft.sources.SnapshotLog.footerSparkSchema(
            spark, f.getPath.toUri.getPath))
    } catch { case _: Exception => None }
    st match {
      case Some(sc) => spark.read.schema(sc).parquet(path)
      case None => spark.read.parquet(path)
    }
  }

  /** `events.ts` has shipped in THREE physical shapes across testdata
    * generations: Parquet TIMESTAMP(NANOS) — which Spark 4 rejects
    * ([PARQUET_TYPE_ILLEGAL]) unless read as a long of epoch-nanos via
    * the legacy conf — TIMESTAMP(MICROS, adjustedToUTC=true) which
    * Spark reads as TimestampType, and TIMESTAMP(MICROS,
    * adjustedToUTC=false) which Spark reads as TIMESTAMP_NTZ.
    * Normalize all three to a microsecond TimestampType: the nanos leg
    * floor-truncates exactly like DuckDB reading TIMESTAMP_NS, and the
    * NTZ→LTZ cast is value-identical under the UTC session timezone
    * every entry point pins — so oracle comparisons stay exact in
    * every shape. Downstream consumers (watermarks, unix_millis, the
    * range-join binning rule) all require plain TimestampType, which
    * is why the normalization lives here at the source.
    */
  private def eventsNormalized(spark: SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = table(spark, sfDir, "events")
    raw.schema("ts").dataType match {
      case LongType =>
        // integral `div`, not `/`: epoch-nanos (~1.7e18) overflow
        // double's 53-bit mantissa, so floating division would corrupt
        // microseconds.
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast(TimestampType))
      case _ => raw // already TimestampType (micros)
    }
  }

  /** Fan a too-few-splits table out to the session's parallelism.
    *
    * The text/embedding operators put their heaviest work — gram
    * explodes, per-position digests, cosine scans — on the MAP side of
    * their first exchange, so their parallelism is the SCAN's split
    * count. Spark packs files into splits of
    * min(maxPartitionBytes, max(openCostInBytes, bytes/parallelism)),
    * which floors at openCost (4 MB default): a sub-4-MB table arrives
    * as ONE split and serializes every per-row digest/explode on a
    * single core (measured: t15's whole 2.7 M-bigram build ran as a
    * 1-task 6.3 s stage while 31 cores idled). Fan out ONLY when the
    * natural split count cannot fill the cores; a table that already
    * scans at session parallelism passes through untouched — at
    * 100 TB the repartition branch never fires, because adding a full
    * shuffle of a large table to "gain" parallelism it already has
    * would be pure loss (guide §2.4).
    *
    * Hash-keyed on the table's id column, not round-robin: downstream
    * work overwhelmingly groups/joins on that key (so the exchange is
    * reusable), the assignment is retry-deterministic (SPARK-38388
    * class) without the sort-before-repartition pass, and the id is a
    * column those consumers read anyway. */
  private def fannedOut(s: SparkSession, d: String, name: String,
      key: String): DataFrame = {
    val df = table(s, d, name)
    val cores = s.sparkContext.defaultParallelism
    // the PASSED session's conf, not the thread-local SQLConf.get — an
    // off-thread or multi-session caller must not consult another
    // session's split settings (r14 ADVICE)
    val conf = s.sessionState.conf
    val bytes =
      try {
        val p = new org.apache.hadoop.fs.Path(s"$d/$name.parquet")
        p.getFileSystem(s.sparkContext.hadoopConfiguration)
          .getContentSummary(p).getLength
      } catch { case _: Exception => Long.MaxValue } // unknowable → assume big
    // mirror FilePartition.maxSplitBytes (r14 ADVICE): the scan charges
    // each file openCostInBytes on top of its length, and the per-core
    // divisor is filesMinPartitionNum (defaulting to leaf-node/session
    // parallelism), so the estimate tracks the real split count at the
    // threshold instead of drifting one side of it
    val minPartitions =
      conf.filesMinPartitionNum.getOrElse(
        conf.getConf(org.apache.spark.sql.internal.SQLConf
          .LEAF_NODE_DEFAULT_PARALLELISM).getOrElse(cores))
    val padded = bytes + conf.filesOpenCostInBytes // single-file tables
    val splitBytes = math.min(conf.filesMaxPartitionBytes,
      math.max(conf.filesOpenCostInBytes, padded / math.max(1, minPartitions)))
    val estSplits = math.max(1L, (bytes + splitBytes - 1) / splitBytes)
    if (estSplits < cores) df.repartition(cores, col(key)) else df
  }

  def region(s: SparkSession, d: String): DataFrame    = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = table(s, d, "part")
  // orders/lineitem deliberately do NOT fan out here: their heavy
  // consumers are the lake-layer lifecycle queries, which re-execute
  // the scan once per commit action (seed + N mutation batches) — a
  // blanket fan-out re-pays its shuffle on every one of those actions
  // (measured: u04 4.1→6.5 s, i30 3.6→5.9 s, i29 2.4→4.1 s). The
  // single-action aggregate query that DOES win from it (q18) takes
  // [[lineitemFanned]] at the query site.
  def orders(s: SparkSession, d: String): DataFrame    = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = table(s, d, "lineitem")
  private[graft] def lineitemFanned(s: SparkSession, d: String): DataFrame =
    fannedOut(s, d, "lineitem", "l_orderkey")
  def events(s: SparkSession, d: String): DataFrame    = eventsNormalized(s, d)
  def documents(s: SparkSession, d: String): DataFrame =
    fannedOut(s, d, "documents", "doc_id")
  def embeddings(s: SparkSession, d: String): DataFrame =
    fannedOut(s, d, "embeddings", "vec_id")
}
