package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.util.Random
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import graft.SparkEntry
import graft.sources.{JdbcSink, ParquetSource, SchemaMapper}

/** The benchmark's JVM side: one process runs one workload over the
  * seeded inputs that perfbench/datagen.py wrote under `<dir>/data`.
  *
  * It sets up once (SparkSession, Derby driver, a warm-up pass whose
  * query outputs are kept for checking), then runs timed passes for the
  * requested seconds, and at least three. Each pass runs every operation
  * of the workload once, one after another (a closed loop with one
  * client), in an order drawn from the seed. Everything it learns goes into `<dir>/out/result.json`;
  * perfbench/run.py checks the outputs and prints the metrics.
  *
  * Usage (normally via run.py):
  *   graftbench.Harness --workload <name> --seed <n> --seconds <s>
  *     --trace <0|1> --dir <run dir> --t0-ms <process start, epoch ms>
  *   graftbench.Harness --probe --dir <run dir>   (plan and job-count probe)
  */
object Harness {

  val Ingest = "ingest"

  /** Operations of one pass, per workload. A pass runs each once, in an
    * order drawn from the seed. */
  val Workloads: Map[String, Seq[String]] = Map(
    "ingest_jdbc" -> Seq(Ingest),
    "query_scan" -> Seq("q01_pricing_summary", "q03_shipping_priority",
      "q05_nation_revenue", "q18_big_orders", "t01_langid", "t05_pii_redact",
      "d02_dedup_minhash", "s01_cosine_topk", "a07_histogram_quantiles",
      "c15_bm25_topk"))

  /** Every named query any workload runs; each gets `q.<id>.*` metrics. */
  val NamedQueries: Seq[String] = Workloads.values.flatten.filter(_ != Ingest).toSeq.sorted

  /** Short id of a query: its family prefix and number ("q01"). */
  def shortId(name: String): String = name.takeWhile(_ != '_')

  final case class Opts(workload: String = "", seed: Long = 0, seconds: Double = 10,
      trace: Boolean = false, dir: String = "", t0Ms: Double = 0, probe: Boolean = false)

  def parse(args: Seq[String], o: Opts = Opts()): Opts = args match {
    case "--workload" +: v +: rest => parse(rest, o.copy(workload = v))
    case "--seed" +: v +: rest => parse(rest, o.copy(seed = v.toLong))
    case "--seconds" +: v +: rest => parse(rest, o.copy(seconds = v.toDouble))
    case "--trace" +: v +: rest => parse(rest, o.copy(trace = v == "1"))
    case "--dir" +: v +: rest => parse(rest, o.copy(dir = v))
    case "--t0-ms" +: v +: rest => parse(rest, o.copy(t0Ms = v.toDouble))
    case "--probe" +: rest => parse(rest, o.copy(probe = true))
    case Seq() => o
    case other => throw new IllegalArgumentException(s"unknown arguments: ${other.mkString(" ")}")
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args.toSeq)
    require(o.dir.nonEmpty, "--dir is required")
    if (o.probe) Probe.run(o)
    else {
      require(Workloads.contains(o.workload),
        s"unknown workload '${o.workload}'; known: ${Workloads.keys.toSeq.sorted.mkString(", ")}")
      new Run(o).execute()
    }
  }

  /** Local session sized from the host: `local[nproc]`, nproc shuffle
    * partitions, the per-run scratch for block-manager files. The SQL
    * settings mirror `graft.Bench`'s session so the benchmark measures
    * the shipped configuration. */
  def newSession(nproc: Int, scratch: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
      .config("spark.sql.autoBroadcastJoinThreshold", "4m")
      .config("spark.sql.codegen.hugeMethodLimit", "4000")
      .config("spark.sql.codegen.methodSplitThreshold", "256")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.graft.rangeJoin.binSeconds", "3600")
      .config("spark.local.dir", s"$scratch/spark-local")
      .config("spark.sql.warehouse.dir", s"$scratch/warehouse")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def stopSession(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      val m = s.size / 2
      if (s.size % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
    }

  /** 90th percentile, linearly interpolated. */
  def p90(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      val r = 0.9 * (s.size - 1)
      val lo = r.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }

  /** Heap in use right after a full collection, in MB: the live set. */
  def liveHeapMb(): Double = {
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }

  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  /** Writes `value` (maps, sequences, options, strings, numbers) as JSON. */
  def writeJson(path: String, value: Any): Unit = {
    Files.createDirectories(Paths.get(path).getParent)
    Files.write(Paths.get(path), mapper.writeValueAsString(value).getBytes(UTF_8))
  }

}

/** One execution of an operation. Times are epoch ms; `buildMs` is the
  * builder call (or, for ingest, read + schema + DDL) and `execMs` the
  * action (noop write, or the JDBC sink write). */
final case class Exec(seq: Int, op: String, phase: String, pass: Int,
    startMs: Double, endMs: Double, buildMs: Double, execMs: Double,
    error: Option[String], readbackRows: Long = -1, readbackSum: Double = Double.NaN) {
  def wallMs: Double = endMs - startMs
}

final case class Pass(phase: String, traced: Boolean,
    startMs: Double, endMs: Double, seqs: Seq[Int]) {
  def wallMs: Double = endMs - startMs
}

final class Run(o: Harness.Opts) {
  import Harness._

  private val nproc = Runtime.getRuntime.availableProcessors
  private val dataDir = s"${o.dir}/data"
  private val outDir = s"${o.dir}/out"
  private val scratch = s"${o.dir}/scratch"
  private val ops = Workloads(o.workload)
  private val listener = new JobListener
  private val tracer = new Tracer
  private val execs = mutable.ArrayBuffer[Exec]()
  private val passes = mutable.ArrayBuffer[Pass]()
  private val probes = mutable.ArrayBuffer[(Int, Double, Double)]() // seq, schema ms, scan ms
  private val liveHeap = mutable.ArrayBuffer[Double]()
  private val spanOfDesc = mutable.Map[String, Int]()
  private var seq = 0
  private var spark: SparkSession = _

  private val derbyUrl = "jdbc:derby:memory:graftbench;create=true"
  private def derbyProps = {
    val p = new java.util.Properties()
    p.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    p
  }
  private def lineitemPath = s"$dataDir/lineitem.parquet"

  /** Runs `body` with `desc` as the job description of every Spark job
    * it launches, inside a layer span when tracing. */
  private def layer[T](parent: Int, desc: String)(body: => T): T = {
    val sp = tracer.start(parent, "layer", desc.substring(desc.indexOf('|') + 1))
    if (tracer.enabled) spanOfDesc(desc) = sp
    spark.sparkContext.setJobDescription(desc)
    try body finally {
      spark.sparkContext.setJobDescription(null)
      tracer.end(sp)
    }
  }

  /** One operation. Query results go to the noop sink, or to parquet
    * under `checkDir` when the output is kept for checking. */
  private def runOp(op: String, phase: String, pass: Int, parent: Int,
      checkDir: Option[String] = None): Exec = {
    val id = synchronized { seq += 1; seq }
    val sp = tracer.start(parent, "op", s"$op#$id")
    val t0 = tracer.nowMs
    var t1 = t0
    var err: Option[String] = None
    var rows = -1L
    var sum = Double.NaN
    try {
      if (op == Ingest) {
        val table = s"BENCH_INGEST_$id"
        val df = layer(sp, s"$op#$id|parquet.read") {
          val df = ParquetSource.read(spark, lineitemPath)
          SchemaMapper.createTableSql(table, df.schema)
          df
        }
        t1 = tracer.nowMs
        layer(sp, s"$op#$id|jdbc.write") {
          new JdbcSink(derbyUrl, derbyProps, batchSize = 1000, numPartitions = nproc)
            .write(df, table, SaveMode.Append)
        }
      } else {
        val df = layer(sp, s"$op#$id|query.build") {
          SparkEntry.queries(op)(spark, dataDir)
        }
        t1 = tracer.nowMs
        layer(sp, s"$op#$id|query.exec") {
          checkDir match {
            case Some(d) => df.write.mode("overwrite").parquet(d)
            case None => df.write.format("noop").mode("overwrite").save()
          }
        }
      }
    } catch {
      case e: Throwable => err = Some(s"${e.getClass.getName}: ${e.getMessage}")
    }
    val t2 = tracer.nowMs
    tracer.end(sp)
    if (op == Ingest) {
      // read-back outside the timed interval; the table is dropped so
      // the in-memory database does not grow across passes
      try {
        val c = java.sql.DriverManager.getConnection(derbyUrl)
        try {
          val st = c.createStatement()
          val rs = st.executeQuery(
            s"""SELECT COUNT(*), SUM("l_extendedprice") FROM BENCH_INGEST_$id""")
          rs.next()
          rows = rs.getLong(1)
          sum = rs.getDouble(2)
          st.execute(s"DROP TABLE BENCH_INGEST_$id")
        } finally c.close()
      } catch {
        case e: Throwable => if (err.isEmpty) err = Some(s"read-back: ${e.getClass.getName}: ${e.getMessage}")
      }
    }
    val e = Exec(id, op, phase, pass, t0, t2, t1 - t0, t2 - t1, err, rows, sum)
    synchronized(execs += e)
    e
  }

  private def runPass(index: Int, phase: String, traced: Boolean, parent: Int): Pass = {
    tracer.enabled = traced
    val sp = tracer.start(parent, "pass", s"$phase#$index")
    val order = new Random(o.seed * 1000003L + index).shuffle(ops)
    val t0 = tracer.nowMs
    val done = order.map(op => runOp(op, phase, index, sp,
      if (phase == "warmup") kept(op, index) else None).seq)
    val p = Pass(phase, traced, t0, tracer.nowMs, done)
    tracer.end(sp)
    if (traced) layerProbe(parent)
    tracer.enabled = false
    passes += p
    p
  }

  /** Parquet layer on its own, after a traced pass and outside its
    * wall time: the footer schema of the workload's largest input and a
    * noop scan of the same frame (the read half of the ingest path). */
  private def layerProbe(parent: Int): Unit = {
    seq += 1
    val id = seq
    val sp = tracer.start(parent, "op", s"probe#$id")
    val t0 = tracer.nowMs
    val df = layer(sp, s"probe#$id|parquet.schema") {
      val df = ParquetSource.read(spark, lineitemPath)
      df.schema
      df
    }
    val t1 = tracer.nowMs
    layer(sp, s"probe#$id|parquet.scan") { df.write.format("noop").mode("overwrite").save() }
    probes += ((id, t1 - t0, tracer.nowMs - t1))
    tracer.end(sp)
  }

  private def checkDir(q: String, rep: Int) = s"$outDir/checks/$q-$rep"

  private val oracle = SparkEntry.oracleSql.filter { case (k, _) => ops.contains(k) }

  /** Where a warm-up execution keeps its query output for the checker:
    * every query's first execution (pass 0), and the second execution
    * (pass 1) of a query without an oracle, so its two outputs can be
    * compared with each other. */
  private def kept(op: String, warmPass: Int): Option[String] =
    if (op == Ingest) None
    else if (warmPass == 0) Some(checkDir(op, 1))
    else if (!oracle.contains(op)) Some(checkDir(op, 2))
    else None

  def execute(): Unit = {
    tracer.enabled = o.trace
    val runSpan = tracer.start(0, "run", o.workload)
    tracer.enabled = false
    sys.env.get("SPARK_GRAFT_SCRATCH").foreach(d => Files.createDirectories(Paths.get(d)))
    spark = newSession(nproc, scratch)
    spark.sparkContext.addSparkListener(listener)

    // Set-up runs from process start (JVM boot included, input
    // generation excluded) until the first timed pass can begin: the
    // session, the Derby driver, then the warm-up. One pass compiles
    // every plan and keeps its query outputs for the checker (ingest
    // passes are checked by their read-back); queries without an oracle
    // then run once more.
    Class.forName("org.apache.derby.jdbc.EmbeddedDriver")
    val bootMs = tracer.nowMs - o.t0Ms
    runPass(0, "warmup", traced = false, runSpan)
    ops.filter(op => op != Ingest && !oracle.contains(op)).foreach(op =>
      runOp(op, "warmup", 1, runSpan, kept(op, 1)))
    val setupMs = tracer.nowMs - o.t0Ms
    val warmupMs = setupMs - bootMs

    val deadline = tracer.nowMs + o.seconds * 1000
    var i = 0
    // a broken program fails fast; stop once that is plain
    def failures = execs.count(_.error.nonEmpty)
    // traced runs measure tracing overhead inside one process, in blocks
    // of traced, untraced, untraced, traced passes: equal counts of each,
    // and a drift across the block (the slow first pass) cancels out
    def traced(i: Int) = o.trace && (i % 4 == 0 || i % 4 == 3)
    // at least three timed passes, so each operation's median can set
    // aside one slow execution: the host's speed swings by up to 2x
    // within seconds, and after one warm-up pass the first timed pass
    // still runs 10-35 % slow
    while ((i < 3 || tracer.nowMs < deadline || (o.trace && i % 4 != 0)) && failures < 20) {
      runPass(i, "timed", traced(i), runSpan)
      // outside the pass's wall time; untimed runs skip the forced GC
      if (o.trace) liveHeap += liveHeapMb()
      i += 1
    }
    val rssMb = peakRssMb()

    val checks = execs.filter(e => e.phase == "warmup").flatMap(e =>
      kept(e.op, e.pass).map(d => Map("query" -> e.op, "seq" -> e.seq, "dir" -> d)))
    tracer.end(runSpan)
    org.apache.spark.graftbench.BusDrain(spark.sparkContext)
    val jobs = listener.snapshot()
    stopSession(spark)

    val metrics = new Metrics(o, nproc, execs.toSeq, passes.toSeq, probes.toSeq, jobs)
    val endToEnd = metrics.endToEnd(setupMs)
    val perLayer =
      if (o.trace) metrics.perLayer(bootMs, warmupMs, rssMb, median(liveHeap.toSeq)) else Nil
    val host = Map(
      "nproc" -> nproc,
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}",
      "spark" -> org.apache.spark.SPARK_VERSION)
    val errors = execs.flatMap(e => e.error.map(m => Map("op" -> e.op, "seq" -> e.seq, "error" -> m)))
    writeJson(s"$outDir/result.json", Map(
      "workload" -> o.workload, "seed" -> o.seed, "host" -> host,
      "harness_ms" -> (tracer.nowMs - o.t0Ms),
      "setup_ms" -> setupMs, "boot_ms" -> bootMs, "warmup_ms" -> warmupMs,
      "passes" -> passes.count(_.phase == "timed"),
      "pass_ms" -> passes.filter(_.phase == "timed").map(_.wallMs),
      "executions" -> execs.size,
      "exec_errors" -> errors,
      "execs" -> execs.map(e => Map("seq" -> e.seq, "op" -> e.op, "phase" -> e.phase,
        "pass" -> e.pass, "wall_ms" -> e.wallMs, "build_ms" -> e.buildMs, "exec_ms" -> e.execMs)),
      "ingest_readback" -> execs.filter(_.op == Ingest).map(e =>
        Map("seq" -> e.seq, "phase" -> e.phase, "rows" -> e.readbackRows,
          "sum" -> Some(e.readbackSum).filterNot(_.isNaN))),
      "checks" -> checks,
      "oracle_sql" -> oracle,
      "tail" -> metrics.tailInfo,
      "job_counts" -> metrics.jobCountsPerQuery,
      "end_to_end" -> endToEnd.map { case (n, v, u) => Seq(n, v, u) },
      "per_layer" -> perLayer.map { case (n, v, u) => Seq(n, v, u) }))
    if (o.trace) {
      val spans = tracer.withJobs(jobs, d => spanOfDesc.get(d))
      val self = Intervals.selfMs(spans)
      val byLayer = spans.filter(_.kind != "job")
        .groupBy(s => if (s.kind == "layer") s"layer:${s.name}" else s.kind)
        .map { case (k, ss) => k -> ss.map(s => self(s.id)).sum }
      writeJson(s"$outDir/spans.json", Map(
        "workload" -> o.workload, "seed" -> o.seed,
        "self_ms_by_layer" -> byLayer,
        "spans" -> spans.map(s => Map("id" -> s.id, "parent" -> s.parent, "kind" -> s.kind,
          "name" -> s.name, "start_ms" -> s.startMs, "end_ms" -> s.endMs,
          "self_ms" -> self(s.id)))))
    }
  }
}


/** Turns executions, passes and listener jobs into the named metrics. */
final class Metrics(o: Harness.Opts, nproc: Int, execs: Seq[Exec], passes: Seq[Pass],
    probes: Seq[(Int, Double, Double)], jobs: Seq[JobRec]) {
  import Harness._

  private val timed = passes.filter(_.phase == "timed")
  private val timedExecs = execs.filter(_.phase == "timed")
  private val bySeq = execs.map(e => e.seq -> e).toMap

  /** `<op>#<seq>|<layer>` → (seq, layer) */
  private def parseDesc(d: String): Option[(Int, String)] = {
    val h = d.indexOf('#'); val b = d.indexOf('|')
    if (h < 0 || b < h) None
    else scala.util.Try(d.substring(h + 1, b).toInt).toOption.map(_ -> d.substring(b + 1))
  }
  private val jobsBySeq: Map[Int, Seq[(String, JobRec)]] =
    jobs.flatMap(j => parseDesc(j.desc).map { case (s, l) => (s, (l, j)) })
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
  private def jobsOf(seqs: Seq[Int]): Seq[JobRec] = seqs.flatMap(s => jobsBySeq.getOrElse(s, Nil).map(_._2))
  private def jobsOfLayer(s: Int, layer: String): Seq[JobRec] =
    jobsBySeq.getOrElse(s, Nil).collect { case (l, j) if l == layer => j }

  private def gapMs(startMs: Double, endMs: Double, js: Seq[JobRec]): Double =
    math.max(0.0, (endMs - startMs) - Intervals.unionMs(js.map(j =>
      (math.max(j.startMs.toDouble, startMs), math.min(j.endMs.toDouble, endMs)))))

  private def perPass(f: Seq[JobRec] => Double): Double =
    median(timed.map(p => f(jobsOf(p.seqs))))

  /** The tail over single executions, kept in the run record: with 8-30
    * executions a run, it swung with the host's slow phases (spread 0.30
    * across ten seeds), so `op_tail_s` is taken over operations instead. */
  def tailInfo: Map[String, Double] =
    Map("exec_p90_s" -> p90(timedExecs.map(_.wallMs / 1000)),
      "n" -> timedExecs.size.toDouble, "operations" -> opMedians.size.toDouble)

  /** Spark job count of every execution of each query, in order. */
  def jobCountsPerQuery: Map[String, Seq[Int]] =
    execs.filter(e => e.op != Ingest && e.phase == "timed").groupBy(_.op)
      .map { case (q, es) => q -> es.sortBy(_.seq).map(e => jobsOf(Seq(e.seq)).size) }

  /** Wall time of one warm pass, as the sum over the workload's
    * operations of each one's median latency in the timed passes: a
    * one-off spike in one operation (a GC pause, a burst of JIT
    * compilation) does not move it, a slower operation does. */
  def passS: Double = opMedians.sum / 1000

  /** Each operation's median latency over the timed passes, in ms. */
  private def opMedians: Seq[Double] =
    timedExecs.groupBy(_.op).values.map(es => median(es.map(_.wallMs))).toSeq

  def endToEnd(setupMs: Double): Seq[(String, Double, String)] = {
    val rowsPerS =
      if (o.workload == "ingest_jdbc")
        median(timedExecs.filter(_.readbackRows > 0).map(e => e.readbackRows / (e.wallMs / 1000)))
      else median(timed.map(p => jobsOf(p.seqs).map(_.inputRecords).sum.toDouble)) / passS
    Seq(
      ("setup_s", setupMs / 1000, "s"),
      ("pass_s", passS, "s"),
      // the median operation's typical latency: pooled over all
      // executions, the median fell in the gaps between query groups and
      // jumped with them
      ("op_p50_s", median(opMedians) / 1000, "s"),
      // the slow end of the workload's operations, each at its median
      ("op_tail_s", p90(opMedians) / 1000, "s"),
      ("rows_per_s", rowsPerS, "rows/s"))
  }

  def perLayer(bootMs: Double, warmupMs: Double, rssMb: Double,
      liveHeapMb: Double): Seq[(String, Double, String)] = {
    val mb = 1024.0 * 1024.0
    val ingest = timedExecs.filter(_.op == Ingest)
    val writeJobs = ingest.map(e => jobsOfLayer(e.seq, "jdbc.write"))
    val resultTasks = writeJobs.map(js => js.flatMap(_.lastStageTaskMs).map(_.toDouble))
    val scanMs = median(probes.map(_._3))
    val jdbcWriteMs = median(ingest.map(_.execMs))
    def skew(ts: Seq[Double]) = if (ts.isEmpty || median(ts) <= 0) 0.0 else ts.max / median(ts)
    val traced = timed.filter(_.traced).map(_.wallMs)
    val untraced = timed.filterNot(_.traced).map(_.wallMs)
    val counts = jobCountsPerQuery
    val queryOps = timedExecs.filter(_.op != Ingest)

    val layers = Seq(
      ("parquet.schema_s", median(probes.map(_._2)) / 1000, "s"),
      ("parquet.scan_s", scanMs / 1000, "s"),
      ("jdbc.write_s", jdbcWriteMs / 1000, "s"),
      ("jdbc.insert_s", if (ingest.isEmpty) 0.0 else (jdbcWriteMs - scanMs) / 1000, "s"),
      ("jdbc.connections", median(resultTasks.map(_.size.toDouble)), "count"),
      ("jdbc.task_skew", median(resultTasks.map(skew)), "ratio"),
      ("jdbc.task_retries", median(writeJobs.map(_.map(_.retries).sum.toDouble)), "count"),
      ("jdbc.cpu_share", median(writeJobs.map { js =>
        val run = js.map(_.runMs).sum.toDouble
        if (run <= 0) 0.0 else js.map(_.cpuNs).sum / 1e6 / run
      }), "ratio"),
      ("query.build_s", median(timed.map(p =>
        p.seqs.flatMap(bySeq.get).filter(_.op != Ingest).map(_.buildMs).sum)) / 1000, "s"),
      ("query.exec_s", median(timed.map(p =>
        p.seqs.flatMap(bySeq.get).filter(_.op != Ingest).map(_.execMs).sum)) / 1000, "s"),
      ("spark.jobs", perPass(_.size.toDouble), "count"),
      ("spark.stages", perPass(_.map(_.stages).sum.toDouble), "count"),
      ("spark.tasks", perPass(_.map(_.tasks).sum.toDouble), "count"),
      ("spark.shuffle_read_mb", perPass(_.map(_.shuffleReadB).sum / mb), "MB"),
      ("spark.shuffle_write_mb", perPass(_.map(_.shuffleWriteB).sum / mb), "MB"),
      ("spark.spill_mb", perPass(_.map(_.spillB).sum / mb), "MB"),
      ("spark.output_mb", perPass(_.map(_.outputB).sum / mb), "MB"),
      ("spark.executor_run_s", perPass(_.map(_.runMs).sum / 1000.0), "s"),
      ("spark.executor_cpu_s", perPass(_.map(_.cpuNs).sum / 1e9), "s"),
      ("spark.gc_s", perPass(_.map(_.gcMs).sum / 1000.0), "s"),
      ("spark.failed_tasks", perPass(_.map(_.failedTasks).sum.toDouble), "count"),
      ("spark.driver_gap_s", median(timed.map(p => gapMs(p.startMs, p.endMs, jobsOf(p.seqs)))) / 1000, "s"),
      ("spark.core_util", median(timed.map(p =>
        jobsOf(p.seqs).map(_.runMs).sum / (p.wallMs * nproc))), "ratio"),
      ("spark.jobs_varying", counts.count(_._2.distinct.size > 1).toDouble, "count"),
      ("bench.boot_s", bootMs / 1000, "s"),
      ("bench.warmup_s", warmupMs / 1000, "s"),
      ("jvm.peak_rss_mb", rssMb, "MB"),
      ("jvm.live_heap_mb", liveHeapMb, "MB"),
      ("trace.overhead_s", (median(traced) - median(untraced)) / 1000, "s"),
      ("trace.passes", traced.size.toDouble, "count"))

    val perQuery = NamedQueries.flatMap { q =>
      val es = queryOps.filter(_.op == q)
      val id = shortId(q)
      Seq(
        (s"q.$id.s", median(es.map(_.wallMs / 1000)), "s"),
        (s"q.$id.jobs", median(es.map(e => jobsOf(Seq(e.seq)).size.toDouble)), "count"),
        (s"q.$id.driver_gap_s", median(es.map(e =>
          gapMs(e.startMs, e.endMs, jobsOf(Seq(e.seq))))) / 1000, "s"))
    }
    layers ++ perQuery
  }
}

/** Plan and job-count probe behind perfbench/tests: shows which plan
  * the timed noop action executes for t05 against `count()`, and how
  * many Spark jobs each named query runs on repeated executions. */
object Probe {
  import Harness._

  /** Executions of each query; job counts compare from the second on. */
  val ProbeReps = 4

  def run(o: Opts): Unit = {
    val nproc = Runtime.getRuntime.availableProcessors
    val dataDir = s"${o.dir}/data"
    val spark = newSession(nproc, s"${o.dir}/scratch")
    val plans = mutable.ArrayBuffer[(String, String)]()
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.synchronized { plans += ((funcName, qe.executedPlan.toString)) }
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    })
    def captured(action: DataFrame => Unit): String = {
      plans.synchronized(plans.clear())
      action(SparkEntry.queries("t05_pii_redact")(spark, dataDir))
      org.apache.spark.graftbench.BusDrain(spark.sparkContext)
      plans.synchronized(plans.map(_._2).mkString("\n"))
    }
    val noopPlan = captured(_.write.format("noop").mode("overwrite").save())
    val countPlan = captured(_.count())

    val listener = new JobListener
    spark.sparkContext.addSparkListener(listener)
    val queries = NamedQueries
    var seq = 0
    for (r <- 1 to ProbeReps; q <- queries) {
      seq += 1
      spark.sparkContext.setJobDescription(s"$q#$seq|probe")
      SparkEntry.queries(q)(spark, dataDir).write.format("noop").mode("overwrite").save()
      spark.sparkContext.setJobDescription(null)
    }
    org.apache.spark.graftbench.BusDrain(spark.sparkContext)
    val counts = listener.snapshot().groupBy(j => j.desc.takeWhile(_ != '#'))
      .map { case (q, js) => q -> js.groupBy(_.desc).toSeq.sortBy(_._2.head.id).map(_._2.size) }
    stopSession(spark)
    writeJson(s"${o.dir}/out/probe.json", Map(
      "t05_noop_plan" -> noopPlan, "t05_count_plan" -> countPlan, "job_counts" -> counts))
  }
}
