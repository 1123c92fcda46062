package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark harness: times every registered query (or the ones named
  * as arguments) against `SPARK_GRAFT_SF_DIR` in one JVM and prints one
  * JSON line of per-query seconds.
  *
  * A full run writes the line to `BENCH_FULL.json`, a run with query
  * names to `BENCH_SUBSET.json` (`SPARK_GRAFT_BENCH_OUT` overrides the
  * path); either way it is the last stdout line. The run exits 1 when a
  * name is not registered (before any session starts) or when any
  * query fails.
  */
object Bench {

  /** Draws per query at most; see [[time]]. */
  private val MaxDraws = 3

  def main(args: Array[String]): Unit = {
    val unknown = SparkEntry.unknownQueries(args.toSeq)
    if (unknown.nonEmpty) {
      System.err.println(s"[bench] unknown queries: ${unknown.mkString(", ")}")
      sys.exit(1)
    }
    val registry = SparkEntry.queries
    val queries = if (args.isEmpty) registry.toSeq
      else args.toSeq.distinct.map(n => n -> registry(n))
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession()
    val (line, failed) =
      try time(spark, sfDir, queries)
      finally spark.stop()
    // a subset run gets its own default path so it never clobbers the
    // last full-suite artifact
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      if (args.isEmpty) "BENCH_FULL.json" else "BENCH_SUBSET.json")
    try java.nio.file.Files.write(java.nio.file.Paths.get(outFile),
      (line + "\n").getBytes("UTF-8"))
    catch { case e: Exception =>
      System.err.println(s"[bench] could not write $outFile: $e") }
    println(line)
    if (failed.nonEmpty) sys.exit(1)
  }

  /** Times each query with `count()` on `spark`, which stays open, and
    * returns the JSON line and the names of the queries that threw.
    *
    * The flagship [[SparkEntry.entry]] query runs once at sf0.001
    * beforehand, so the first timed query does not also pay first-call
    * class loading. Each query is drawn until two draws agree within
    * 10% of the faster one, at most [[MaxDraws]] times, and reports the
    * fastest: the noise on a shared host is additive, so the fastest
    * draw is the closest to the plan's cost. A query that throws is not
    * retried, so a red query stays red in the artifact.
    */
  private[graft] def time(spark: SparkSession, sfDir: String,
      queries: Seq[(String, (SparkSession, String) => DataFrame)]): (String, Seq[String]) = {
    spark.sparkContext.setJobDescription("warmup:entry") // label for eventlog attribution
    try SparkEntry.entry(spark).count()
    catch { case _: Throwable => () }
    finally spark.sparkContext.setJobDescription(null)

    var failed = List.empty[String]
    var errors = Map.empty[String, String]
    var spread = Map.empty[String, (Double, Double)]
    val results = queries.sortBy(_._1).map { case (name, build) =>
      // Stall watchdog: a query that runs for minutes dumps the busy
      // executor stacks each minute, so the run itself records where
      // the time went.
      val watchdog = new Thread(() => {
        try {
          while (true) {
            Thread.sleep(60000)
            System.err.println(s"[bench][watchdog] $name still running — busy stacks:")
            import scala.jdk.CollectionConverters._
            for ((t, st) <- Thread.getAllStackTraces.asScala
                 if t.getName.startsWith("Executor task") && st.nonEmpty)
              System.err.println(s"  ${t.getName} ${t.getState}\n" +
                st.take(12).map(f => s"    at $f").mkString("\n"))
          }
        } catch { case _: InterruptedException => () }
      })
      watchdog.setDaemon(true)
      watchdog.start()
      // Label every job with its query, so an event log attributes jobs
      // per query. Set outside the timed region.
      spark.sparkContext.setJobDescription(name)
      val draws = scala.collection.mutable.ListBuffer[Double]()
      try {
        var done = false
        while (!done) {
          val t0 = System.nanoTime()
          try build(spark, sfDir).count()
          catch { case e: Throwable =>
            failed ::= name
            // the class name covers null-message throwables like NPE
            errors += name -> (e.getClass.getSimpleName + ": " +
              Option(e.getMessage).getOrElse("").take(400))
            System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
            done = true
          }
          draws += (System.nanoTime() - t0) / 1e9
          if (!done && draws.size >= 2) {
            val ds = draws.sorted
            done = draws.size >= MaxDraws || ds(1) - ds(0) <= 0.1 * ds(0)
          }
        }
      } finally {
        watchdog.interrupt()
        spark.sparkContext.setJobDescription(null)
      }
      val dt = draws.min
      spread += name -> (dt, draws.max)
      System.err.println(f"[bench] $name%-24s $dt%8.2f s  (${draws.size} draws: ${draws.map(d => f"$d%.2f").mkString(", ")})")
      name -> dt
    }
    (json(results, failed.sorted, sfDir, errors, spread), failed.sorted)
  }

  /** Minimal JSON string escape for error messages (quotes, backslash,
    * control chars → space). Keys are query names and never need it. */
  private def esc(s: String): String = s.flatMap {
    case '"'           => "\\\""
    case '\\'          => "\\\\"
    case c if c < ' '  => " "
    case c             => c.toString
  }

  private def json(results: Seq[(String, Double)], failed: Seq[String],
                   sfDir: String, errors: Map[String, String],
                   spread: Map[String, (Double, Double)]): String = {
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val fj = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val ej = errors.toSeq.sortBy(_._1)
      .map { case (k, v) => "\"" + k + "\":\"" + esc(v) + "\"" }
      .mkString("{", ",", "}")
    // [min,max] of each query's draws
    val sj = results.flatMap { case (k, _) => spread.get(k).map(s =>
        "\"" + k + "\":[" + s._1 + "," + s._2 + "]") }
      .mkString("{", ",", "}")
    val total = results.map(_._2).sum
    s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"failed":$fj,"errors":$ej,"spread":$sj,"sf":"$sfDir"}"""
  }
}
