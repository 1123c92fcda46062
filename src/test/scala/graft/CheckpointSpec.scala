package graft

import org.scalatest.funsuite.AnyFunSuite

/** The `spark.graft.checkpointDir` switch: iterative operators must
  * produce identical results whether lineage is truncated with
  * executor-local blocks (default) or reliable checkpoints (cluster
  * config), and the reliable path must actually write to the
  * configured directory (that's what survives executor loss).
  */
class CheckpointSpec extends AnyFunSuite {
  private lazy val s = TestSpark.spark
  private val d = TestSpark.sf0001

  test("c03/c11 are hash-identical under reliable checkpointing, and files land in the dir") {
    val dir = LocalScratch.tempDir("graft_ckpt")
    def run(name: String) =
      SparkEntry.queries(name)(s, d).collect().map(_.toString).toSeq
    val localC03 = run("c03_dup_clusters")
    val localC11 = run("c11_pagerank")
    s.conf.set(Checkpoint.DirConf, dir)
    try {
      assert(run("c03_dup_clusters") === localC03)
      assert(run("c11_pagerank") === localC11)
      val wrote = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        .filter(java.nio.file.Files.isRegularFile(_)).count()
      assert(wrote > 0, "reliable checkpoint wrote no files")
    } finally s.conf.unset(Checkpoint.DirConf)
  }

  test("truncateLazy falls back to EAGER on the reliable path (no double lineage scan)") {
    // A lazy reliable checkpoint would recompute the full lineage in
    // its separate write job (Checkpoint scaladoc); the fallback makes
    // the reliable variant eager, so the returned frame's RDD must
    // already be checkpointed BEFORE any caller action runs.
    val dir = LocalScratch.tempDir("graft_ckpt_lazy")
    s.conf.set(Checkpoint.DirConf, dir)
    try {
      import s.implicits._
      val out = Checkpoint.truncateLazy(Seq(1, 2, 3).toDF("x"))
      // no action has run on `out` — eager fallback means the reliable
      // checkpoint files already exist on disk
      val wrote = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        .filter(java.nio.file.Files.isRegularFile(_)).count()
      assert(wrote > 0, "reliable truncateLazy must materialize eagerly")
      assert(out.count() === 3)
    } finally s.conf.unset(Checkpoint.DirConf)
  }
}
