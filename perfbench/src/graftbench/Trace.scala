package graftbench

import scala.collection.mutable
import org.apache.spark.scheduler._

/** One Spark job as the benchmark's listener saw it. `desc` is the job
  * description the harness set on the calling thread
  * (`<op>#<seq>|<layer>`), which is how every job is attributed to the
  * operation and layer call that launched it. */
final class JobRec(val id: Int, val desc: String, val startMs: Long) {
  var endMs: Long = startMs
  var stages = 0
  var tasks = 0L
  var failedTasks = 0L
  var retries = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleReadB = 0L
  var shuffleWriteB = 0L
  var spillB = 0L
  var outputB = 0L
  var inputRecords = 0L
  /** Task wall times of the job's last stage (its result stage). */
  val lastStageTaskMs = mutable.ArrayBuffer[Long]()
  var lastStageId: Int = -1
}

/** Counts Spark work per job. Events arrive on the listener bus thread;
  * readers call [[snapshot]] after draining the bus. */
final class JobListener extends SparkListener {
  // ids restart with every SparkContext: the maps hold the live
  // context's jobs, `all` keeps every job the run has seen
  private val all = mutable.ArrayBuffer[JobRec]()
  private val jobs = mutable.Map[Int, JobRec]()
  private val stageJob = mutable.Map[Int, JobRec]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val desc = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
    val j = new JobRec(e.jobId, desc, e.time)
    j.lastStageId = if (e.stageIds.isEmpty) -1 else e.stageIds.max
    all += j
    jobs(e.jobId) = j
    e.stageIds.foreach(s => stageJob(s) = j)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageJob.get(e.stageInfo.stageId).foreach(_.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageJob.get(e.stageId).foreach { j =>
      j.tasks += 1
      if (e.taskInfo.failed || e.taskInfo.killed) j.failedTasks += 1
      if (e.taskInfo.attemptNumber > 0) j.retries += 1
      if (e.stageId == j.lastStageId) j.lastStageTaskMs += e.taskInfo.duration
      val m = e.taskMetrics
      if (m != null) {
        j.runMs += m.executorRunTime
        j.cpuNs += m.executorCpuTime
        j.gcMs += m.jvmGCTime
        j.shuffleReadB += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
        j.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
        j.spillB += m.memoryBytesSpilled + m.diskBytesSpilled
        j.outputB += m.outputMetrics.bytesWritten
        j.inputRecords += m.inputMetrics.recordsRead
      }
    }
  }

  def snapshot(): Seq[JobRec] = synchronized(all.toList)
}

/** A timed interval in the run → pass → operation → layer call → job
  * tree. Times are epoch milliseconds (fractional for bench-side spans,
  * whole for the listener's job events). */
final case class Span(id: Int, parent: Int, kind: String, name: String,
    startMs: Double, endMs: Double) {
  def durMs: Double = endMs - startMs
}

/** In-memory span recorder. Nothing is written until [[json]] is called
  * once at the end of the run. Disabled recorders keep no spans but
  * still hand out ids, so call sites do not branch. */
final class Tracer {
  private val baseMs = System.currentTimeMillis().toDouble - System.nanoTime() / 1e6
  private val spans = mutable.ArrayBuffer[Span]()
  private val open = mutable.Map[Int, (Int, String, String, Double)]()
  private var nextId = 0
  var enabled = false

  def nowMs: Double = baseMs + System.nanoTime() / 1e6

  def start(parent: Int, kind: String, name: String): Int = synchronized {
    nextId += 1
    if (enabled) open(nextId) = (parent, kind, name, nowMs)
    nextId
  }

  def end(id: Int): Unit = synchronized {
    open.remove(id).foreach { case (p, k, n, s) => spans += Span(id, p, k, n, s, nowMs) }
  }

  def recorded: Seq[Span] = synchronized(spans.toList)

  /** Job spans from the listener, each parented to the layer call whose
    * job description it carries. */
  def withJobs(jobs: Seq[JobRec], spanOfDesc: String => Option[Int]): Seq[Span] = {
    var id = synchronized(nextId)
    val spans = recorded
    val ids = spans.map(_.id).toSet
    spans ++ jobs.flatMap { j =>
      spanOfDesc(j.desc).filter(ids).map { p =>
        id += 1
        Span(id, p, "job", s"job ${j.id}", j.startMs, j.endMs)
      }
    }
  }
}

object Intervals {
  /** Total length of the union of `[start, end)` intervals. */
  def unionMs(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    for ((s, e) <- iv.filter(p => p._2 > p._1).sortBy(_._1)) {
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (!curS.isNaN) total += curE - curS
    total
  }

  /** Self time of each span: its length minus the union of its
    * children's intervals. */
  def selfMs(spans: Seq[Span]): Map[Int, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val ch = kids.getOrElse(s.id, Nil).map(c =>
        (math.max(c.startMs, s.startMs), math.min(c.endMs, s.endMs)))
      s.id -> math.max(0.0, s.durMs - unionMs(ch))
    }.toMap
  }
}
