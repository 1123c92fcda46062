package graft

import java.util.concurrent.{Callable, CyclicBarrier, Executors, TimeUnit}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.SnapshotLog
import graft.streaming.CdcStream

/** Operators return their evidence (discovery reads, pruned files, CDC
  * probe reads and scan files) with their results, so two sessions on
  * one SparkContext cannot see each other's. i22 and i23 gate output
  * columns on that evidence: run next to a CDC writer, their outputs
  * and evidence must equal their solo runs. */
class ConcurrentEvidenceSpec extends AnyFunSuite {
  private lazy val s = TestSpark.spark
  private val d = TestSpark.sf0001

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private def run(sx: SparkSession, query: String): Seq[String] =
    rows(SparkEntry.queries(query)(sx, d))

  /** i22 and i23 with the evidence their gates read. */
  private def snapshotSide(sx: SparkSession) = {
    val i22 = run(sx, "i22_checkpointed_log")
    val i23 = run(sx, "i23_stats_pruned_scan")
    val ckpt = SnapshotLog.checkpointedOrdersTable(sx, d)
    val prn = SnapshotLog.statsPrunedOrdersTable(sx, d)
    val pruned = SnapshotLog.readAtPruned(sx, prn,
      SnapshotLog.currentVersion(sx, prn), "o_orderkey", 0L, 100L)
    (i22, i23, SnapshotLog.discoverVersion(sx, ckpt),
      (pruned.planned, pruned.skipped))
  }

  /** u04 and the evidence of three CDC batches plus a replay on a
    * fresh table. */
  private def cdcSide(sx: SparkSession) = {
    val u04 = run(sx, "u04_cdc_stream_apply")
    val table = LocalScratch.tempDir("graft_cdc_conc")
    CdcStream.seedTarget(sx, table, Tables.orders(sx, d), "o_orderkey")
    def batch(i: Int) = Tables.orders(sx, d).orderBy("o_orderkey").limit(3)
      .withColumn("op", lit("U")).withColumn("ts", lit(i + 1))
      .withColumn("o_orderpriority", lit(s"C-$i"))
    val applied = (0 until 3).map(i =>
      CdcStream.applyBatch(sx, table, batch(i), i.toLong, "o_orderkey")) :+
      CdcStream.applyBatch(sx, table, batch(0), 0L, "o_orderkey")
    (u04, applied)
  }

  test("i22 + i23 in one session and u04 in another, started together, " +
      "equal their solo runs in output and evidence") {
    val sa = s.newSession()
    val sb = s.newSession()
    val soloA = snapshotSide(sa)
    val soloB = cdcSide(sb)
    assert(soloA._1.nonEmpty && soloA._2.nonEmpty && soloB._1.nonEmpty)
    assert(soloA._3 === SnapshotLog.Discovery(11L, 1, listed = false))
    assert(soloB._2.map(_.version) === Seq(2L, 3L, 4L, -1L))

    val gate = new CyclicBarrier(2)
    val pool = Executors.newFixedThreadPool(2)
    try {
      def started[A](body: => A) = pool.submit(new Callable[A] {
        def call(): A = { gate.await(); body }
      })
      val a = started(snapshotSide(sa))
      val b = started(cdcSide(sb))
      assert(a.get(10, TimeUnit.MINUTES) === soloA)
      assert(b.get(10, TimeUnit.MINUTES) === soloB)
    } finally pool.shutdownNow()
  }

  test("a pruned read's counts describe its own table after another " +
      "table's pruned read") {
    def layout(tag: String, withStats: Boolean): String = {
      val table = LocalScratch.tempDir(s"graft_prune_$tag")
      val dir = s"$table/data/base"
      Tables.orders(s, d).repartitionByRange(8, col("o_orderkey"))
        .write.mode("overwrite").parquet(dir)
      val files = SnapshotLog.dataFiles(s, dir)
      SnapshotLog.commit(s, table, "base", files, Some(0L),
        stats = if (withStats) SnapshotLog.fileStats(s, files.map(_._1), "o_orderkey")
          else Map.empty)
      table
    }
    val withStats = layout("a", withStats = true)
    val statless = layout("b", withStats = false)
    val a = SnapshotLog.readAtPruned(s, withStats, 1L, "o_orderkey", 1L, 500L)
    val b = SnapshotLog.readAtPruned(s, statless, 1L, "o_orderkey", 1L, 500L)
    assert(b.skipped === 0 && b.planned === 8)
    assert(a.skipped >= 1, "stats-carrying table pruned nothing")
    assert(a.planned + a.skipped === 8)
    // A's counts still match the files its read actually plans
    assert(a.df.inputFiles.length === a.planned)
  }
}
