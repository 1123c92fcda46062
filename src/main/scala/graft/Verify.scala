package graft
import java.nio.file.{Files, Paths}
/** Correctness dump: each SparkEntry.queries result → parquet, plus
  * oracle_sql.json, for the DuckDB compare in tools/check_oracle.py.
  * A query that throws does not stop the dump; the run ends by listing
  * every failed query with its exception class and exits non-zero. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, rest @ _*) = args
    val only: Set[String] = rest.toSet // optional subset for dev iteration
    val spark = GraftSession()
    new java.io.File(outDir).mkdirs()
    val attempted = SparkEntry.queries.keys.toSeq
      .filter(name => only.isEmpty || only(name))
    val failed = attempted.flatMap { name =>
      try {
        SparkEntry.queries(name)(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        None
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        Some(name -> e.getClass.getName)
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // only the attempted queries: check_oracle fails an oracle key
    // whose output dir is missing, and a subset run must stay checkable
    val json = SparkEntry.oracleSql.filter { case (k, _) => attempted.contains(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[verify] ${failed.size} of ${attempted.size} queries failed:")
      failed.foreach { case (name, cls) => System.err.println(s"  $name: $cls") }
      sys.exit(1)
    }
  }
}
