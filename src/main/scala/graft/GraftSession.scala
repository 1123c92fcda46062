package graft

import org.apache.spark.sql.SparkSession

/** The one local session profile. Bench, Verify, Explain, StreamBench,
  * IngestMain, ScaleData and the test session all build their
  * `SparkSession` here, so the plans the oracle verifies, the plans the
  * tests pin and the plans the bench measures are the same plans.
  *
  * The only parameter is the worker-thread count. Settings the profile
  * leaves unset (`spark.eventLog.*`, the `spark.graft.lsh.*` geometry
  * overrides) stay reachable as `-Dspark.*` JVM properties, which
  * `SparkConf` loads. The AQE settings are runtime SQL confs, so an
  * A/B run can flip them with `spark.conf.set`.
  */
object GraftSession {

  /** `SPARK_GRAFT_CPUS` when set, else the host's core count. */
  def defaultCores: Int =
    resolveCores(sys.env.get("SPARK_GRAFT_CPUS"), Runtime.getRuntime.availableProcessors)

  private[graft] def resolveCores(env: Option[String], host: Int): Int =
    env.map(_.toInt).getOrElse(host)

  /** Every setting of the profile. [[LocalScratch.conf]]
    * is added on top because it depends on the host's filesystem. */
  private[graft] def settings(cores: Int): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cores]",
    "spark.sql.shuffle.partitions" -> cores.toString,
    "spark.sql.session.timeZone" -> "UTC",
    // AQE on, matching the DEPLOYMENT.md cluster recommendation, so the
    // measured config is the shipped config. Round 5 saw c03's
    // contraction loop hit 73 s with AQE on (re-planning and re-codegen
    // of every lazily-cut round); the round-6 lazy-truncation rework
    // removed that, and two same-surface A/Bs since (r8: 112.3 s on vs
    // 116.6 s off) found on neutral-to-faster everywhere.
    "spark.sql.adaptive.enabled" -> "true",
    // Coalescing on since r15: the r14 run measured local[32] 35 %
    // slower than local[8] on identical code, because at sf0.1 every
    // exchange carries KB-scale data into `cores` reduce tasks and pays
    // their fixed cost for no parallelism. The merge target is
    // max(bytes/parallelism, minPartitionSize); the floor is 64k rather
    // than 1m so the CPU-dense mid-size shuffles (documents/embeddings
    // fan-outs, exploded gram tables: single-digit MB but seconds of
    // CPU) keep their width. The floor binds only when bytes/parallelism
    // is under 64k, so it is inert at cluster scale.
    "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "64k",
    // Below Spark's 10m default: a broadcast hash relation is built on
    // one thread, so a 600k-row side that sneaks under a fat threshold
    // serializes the whole stage (q04 took 28 s broadcasting projected
    // lineitem). True dims are far under 4m at any bench scale; small
    // intermediates are hinted with broadcast() at the query site.
    "spark.sql.autoBroadcastJoinThreshold" -> "4m",
    // Whole-stage-codegen falls back to per-operator code above this
    // size, under HotSpot's 8000-bytecode JIT ceiling
    // (DontCompileHugeMethods): a bigger fused method is never compiled
    // and runs interpreted at 10-50x. SPARK-21871's knob.
    "spark.sql.codegen.hugeMethodLimit" -> "4000",
    // Split generated expression code into ~256-byte methods (default
    // 1024): fat methods (decimal money math) otherwise sat where C2
    // sometimes never compiled them, and a 200k-row task burned minutes
    // in the interpreter (observed in Decimal.changePrecision).
    "spark.sql.codegen.methodSplitThreshold" -> "256",
    // Spark's cache of compiled generated classes is JVM-wide, sized
    // once when the first plan compiles, and holds 100 classes by
    // default. One pass of the ten perfbench query_scan queries
    // generates 219-225 distinct classes, so the LRU evicted every class
    // before its next use: each pass recompiled all of them (about 4.3 s
    // of Janino in a 10-14 s pass) and ran the fresh classes cold in the
    // JIT. 1024 holds about four such working sets. A static conf: it
    // must be set before the session's first query.
    "spark.sql.codegen.cache.maxEntries" -> "1024",
    // Catalyst extension point: range-join binning rule and the SQL
    // function registry (GraftExtensions scaladoc).
    "spark.sql.extensions" -> "graft.GraftExtensions",
    "spark.graft.rangeJoin.binSeconds" -> "3600",
    "spark.ui.enabled" -> "false")

  def apply(cores: Int = defaultCores): SparkSession = {
    val spark = SparkSession.builder()
      .config(settings(cores).toMap)
      // tmpfs scratch for shuffle and broadcast blocks when the host has
      // one: a write-throttled block device poisons shuffle-heavy
      // timings (LocalScratch scaladoc)
      .config(LocalScratch.conf)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
