package graft

/** Scratch-disk selection for every local session built by
  * [[GraftSession]] (Bench, Verify, Explain, StreamBench, IngestMain,
  * ScaleData and the test session): prefer a tmpfs for
  * `spark.local.dir`.
  *
  * Why: `spark.local.dir` hosts shuffle files, broadcast pieces and
  * block-manager spill. This sandbox's block device is intermittently
  * write-throttled (measured: a 512 MB fsync'd write took >120 s
  * mid-bench vs 3.2 s idle). The Spark-side symptom was one c03 run
  * recording 443 s of shuffle-WRITE time for 19 MB written, with all 32
  * executor threads queued on TorrentBroadcast's per-broadcast KeyLock
  * behind disk-backed broadcast pieces — 95–314 s wall for a query that
  * costs ~6 s with a RAM scratch dir. Local benches shuffle MBs, so RAM
  * is strictly better here; on a real cluster the scratch dir is the
  * admin's fast-NVMe `SPARK_LOCAL_DIRS`, which WINS over this conf
  * (`Utils.getConfiguredLocalDirs` checks the env first), so the
  * default below can never override a deployment's choice.
  */
object LocalScratch {

  /** Conf map that [[GraftSession]] adds to its profile: points
    * `spark.local.dir` at a tmpfs path when one exists and the operator
    * hasn't already chosen dirs via `SPARK_LOCAL_DIRS`. Empty map (no
    * override) otherwise — including on hosts without /dev/shm. */
  def conf: Map[String, String] = {
    val shm = new java.io.File("/dev/shm")
    if (sys.env.contains("SPARK_LOCAL_DIRS") || !shm.isDirectory || !shm.canWrite)
      Map.empty
    else {
      val d = new java.io.File(shm, "graft-spark-local")
      d.mkdirs()
      Map("spark.local.dir" -> d.getPath)
    }
  }

  /** Base directory for harness-generated table fixtures (the bucketed
    * and partitioned layouts, the CSV/JSON/ORC round-trip outputs that
    * i03–i08 materialize once per sfDir): tmpfs when available, else
    * `java.io.tmpdir`. Same rationale as [[conf]] — these are MB-scale
    * local fixtures whose WRITE time the bench measures inline, and the
    * sandbox device's intermittent write-throttle inflated exactly
    * these queries 26–29× (round 7; in git history). /dev/shm
    * persists across the bench's child JVMs, so the once-per-sfDir
    * fixture caching keyed on source size+mtime keeps working.
    * `SPARK_GRAFT_SCRATCH` overrides for an explicit location (e.g. a
    * cluster's fast scratch mount). */
  def scratchDir: String = sys.env.get("SPARK_GRAFT_SCRATCH").getOrElse {
    val shm = new java.io.File("/dev/shm")
    if (shm.isDirectory && shm.canWrite) {
      val d = new java.io.File(shm, "graft-fixtures")
      d.mkdirs()
      d.getPath
    } else sys.props.getOrElse("java.io.tmpdir", "/tmp")
  }

  private lazy val localFs =
    org.apache.hadoop.fs.FileSystem.getLocal(new org.apache.hadoop.conf.Configuration())

  /** A fresh directory `<scratchDir>/<prefix><random>` for a table that
    * lives no longer than this JVM: the query tables of u04–u11,
    * i28–i30 and m09, and the tables the test suites make. Hadoop's
    * `deleteOnExit` removes it with its contents when the local
    * FileSystem closes at shutdown, after the SparkContext has stopped,
    * so runs no longer pile tables up in RAM-backed scratch. The
    * once-per-sfDir fixtures are not made here: they are reused on
    * purpose. */
  def tempDir(prefix: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get(scratchDir), prefix)
    localFs.deleteOnExit(new org.apache.hadoop.fs.Path(dir.toUri))
    dir.toString
  }
}
